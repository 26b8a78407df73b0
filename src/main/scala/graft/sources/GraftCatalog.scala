package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over a directory of graft fleets — the
  * "workbook as database" surface (SURVEY.md §1.1: sheet = table) made
  * SQL-addressable. Register per session:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/warehouse")
  *   spark.sql("SELECT ... FROM graft.events")          // events.avro fleet
  *   spark.sql("SELECT ... FROM graft.books.orders")    // books.xlsx, sheet 'orders'
  * }}}
  *
  * Resolution is directory-convention, metastore-free — the same
  * philosophy as the fleet layout itself, where the data's own files
  * carry the metadata:
  *  - `graft.<name>` → `<root>/<name>.avro`, the V2 avro fleet
  *    ([[AvroFleetTable]] — the SAME Table object the
  *    `format("graft-avro")` path builds, so every pushdown the
  *    connector implements (column pruning, filter skipping, TopN,
  *    count/min/max aggregates, bloom sidecars) works identically from
  *    SQL), readable AND writable (`INSERT INTO` / CTAS).
  *  - `graft.<wb>.<sheet>` → `<root>/<wb>.xlsx` sheet `<sheet>` via
  *    [[XlsxFleetTable]] — each workbook is a NAMESPACE whose tables
  *    are its sheets.
  *  - `SHOW TABLES IN graft` lists the avro fleets;
  *    `SHOW TABLES IN graft.<wb>` lists a workbook's sheets — purely
  *    from the directory listing, no CREATE ever required.
  *
  * Scale: `loadTable` costs one bounded schema peek (an avro header /
  * xlsx sheet probe — the footer-read equivalent; the sheet probe is
  * the connector's memoized `Xlsx.peekFleetSchema`, revalidated
  * against the file's listed status on every load); listings are one
  * directory listing. Nothing is cached catalog-side, so an external
  * writer's new fleet is visible on the next query, and the fleets'
  * own `_SUCCESS`/sidecar contracts keep reads consistent.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root=<dir>")
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)
  /** The root's filesystem, from a fresh session Hadoop conf (about a
    * thousand entries to copy): each catalog call resolves it ONCE and
    * passes it down, never once per use. */
  private def rootFs(): org.apache.hadoop.fs.FileSystem =
    hPath(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Identifiers become PATH SEGMENTS, so a name carrying separators
    * or parent references would escape the catalog root — and
    * `DROP TABLE graft.`../elsewhere/x`` would recursively delete
    * outside it. Reject at resolution time, every verb. */
  private def segment(name: String): String = {
    require(name.nonEmpty && !name.contains('/') &&
      !name.contains('\\') && !name.contains("..") &&
      name != "." && !name.startsWith("_"),
      s"invalid graft table/namespace name '$name': names are single " +
        "path segments (no separators, no '..', no leading '_')")
    name
  }

  private def avroDir(name: String) = s"$root/${segment(name)}.avro"
  private def xlsxFile(wb: String) = s"$root/${segment(wb)}.xlsx"

  private def noSuchTable(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      Seq(catalogName) ++ ident.namespace().toSeq :+ ident.name())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val fs = rootFs()
    namespace.toSeq match {
      case Seq() =>
        val r = hPath(root)
        if (!fs.exists(r)) Array.empty
        else fs.listStatus(r).toSeq
          // isDirectory: a fleet IS a directory — a stray regular file
          // named x.avro is not a table and must not list as one
          .filter(st => st.isDirectory &&
            st.getPath.getName.endsWith(".avro") &&
            !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(st => Identifier.of(Array.empty[String],
            st.getPath.getName.stripSuffix(".avro")))
          .sortBy(_.name()).toArray
      case Seq(wb) =>
        val p = hPath(xlsxFile(wb))
        if (!fs.exists(p)) throw noSuchNamespace(namespace)
        Xlsx.sheetNames(readAll(fs, p))
          .map(sh => Identifier.of(Array(wb), sh)).toArray
      case _ => throw noSuchNamespace(namespace)
    }
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, versionAsOf = None)

  /** SQL time travel — `SELECT ... FROM graft.x VERSION AS OF 3` or
    * `VERSION AS OF 'tagname'`: a number resolves the fleet's
    * [[FleetManifest]] generation directly; anything else resolves as
    * a TAG (a named immutable ref `CALL graft.system.create_tag`
    * pinned — retention retains tagged versions, so the name stays
    * readable until the tag is dropped). */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, versionAsOf = Some(versionAt(ident,
      FleetView.VersionOrTag("VERSION AS OF", version))))

  /** SQL `TIMESTAMP AS OF` — binds the timestamp (Spark hands it in
    * MICROSECONDS) to the newest manifest generation committed at or
    * before it (commit time = the snapshot's own `commit.ts` stamp,
    * mtime fallback for pre-stamp legacy versions — so a
    * copied/moved fleet keeps its time-travel index). The resolved
    * read is exactly the `VERSION AS OF` read of that generation. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadAt(ident, versionAsOf = Some(versionAt(ident,
      FleetView.AtOrBefore("TIMESTAMP AS OF",
        java.time.Instant.ofEpochMilli(timestamp / 1000L).toString))))

  /** One fleet's AS OF version through the shared addressing rule. */
  private def versionAt(ident: Identifier, asOf: FleetView.AsOf): Long = {
    require(ident.namespace().isEmpty,
      s"${asOf.opt} applies to avro fleets only")
    val dir = hPath(avroDir(ident.name()))
    val fs = rootFs()
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory)
      noSuchTable(ident)
    FleetView.versionAt(fs, dir, asOf)
  }

  private def loadAt(ident: Identifier, versionAsOf: Option[Long]): Table = {
    val fs = rootFs()
    ident.namespace().toSeq match {
      case Seq() =>
        val dir = avroDir(ident.name())
        // a fleet IS a directory — a stray regular file named x.avro
        // is NoSuchTable, not a codec failure inside the schema peek
        val p = hPath(dir)
        if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory)
          noSuchTable(ident)
        // an ALTERed fleet declares its schema in the _schema.json
        // marker (ADD/RENAME COLUMN are metadata-only; the files are
        // immutable and resolve per generation through evolve decode).
        // A branch session resolves the branch's STAGED marker first —
        // a schema evolution staged on the fork is invisible to main
        // until fast_forward publishes it — and a VERSIONED read
        // resolves the schema stamped AS OF that generation (r19).
        // A session SNAPSHOT PIN (r20, [[FleetPin]]) resolves the
        // captured version unless explicit AS-OF addressing wins.
        val effVersion = versionAsOf.orElse(
          FleetPin.versionFor(spark, fs, p))
        val marker = FleetSchemaMarker.resolveAt(fs, p,
          FleetManifest.activeBranchAt(fs, p), effVersion)
        val schema = marker.map(_.schema).getOrElse(Avro.toSparkSchema(
          Avro.peekSchema(spark, dir)))
        new AvroFleetTable(schema, dir, Avro.MaxIngestFileBytes,
          evolve = marker.isDefined,
          versionAsOf = effVersion,
          aliases = marker.map(_.aliases).getOrElse(Map.empty))
      case Seq(wb) =>
        require(versionAsOf.isEmpty,
          "VERSION AS OF applies to avro fleets only (workbook sheets " +
            "carry no manifest history)")
        if (!fs.exists(hPath(xlsxFile(wb)))) noSuchTable(ident)
        // the connector's memoized peek; a name-level miss is
        // NoSuchTable, not a codec failure from inside the parser
        val schema =
          try Xlsx.peekFleetSchema(spark, xlsxFile(wb), ident.name())
          catch { case _: Xlsx.NoSuchSheetException => noSuchTable(ident) }
        new XlsxFleetTable(schema, xlsxFile(wb), ident.name())
      case _ => noSuchTable(ident)
    }
  }

  /** CREATE TABLE / CTAS for avro fleets (top-level namespace only):
    * registers nothing — "create" IS laying the directory down, and a
    * following INSERT/append goes through the fleet's own V2 committer.
    * An empty CREATE leaves a loadable empty fleet (the writers'
    * schema-bearing-empty-container guarantee). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    require(ident.namespace().isEmpty,
      "CREATE TABLE is supported only in the catalog's top level " +
        "(workbook sheets are written via the xlsx writer)")
    require(partitions.isEmpty,
      "graft fleets take no partition transforms (use clusterBy writes)")
    val dir = avroDir(ident.name())
    if (rootFs().exists(hPath(dir)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName, ident.name()))
    // lay down a loadable empty fleet: schema-bearing empty container +
    // _SUCCESS, exactly what a zero-row V2 write commits
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
      .write.format("graft-avro").mode("overwrite").save(dir)
    new AvroFleetTable(schema, dir, Avro.MaxIngestFileBytes)
  }

  /** `ALTER TABLE graft.x ADD COLUMN` / `RENAME COLUMN` /
    * `DROP COLUMN` / `ALTER COLUMN … TYPE <widening>` — METADATA
    * ONLY at any fleet size: the DDL writes the `_schema.json` marker
    * ([[FleetSchemaMarker]]) and touches no data file. An added
    * column null-fills every pre-existing generation through the
    * evolve decode path; a renamed column records `new → physical`
    * in the marker's alias map and each file resolves its own
    * spelling at decode; a DROPPED column's spelling (plus its whole
    * alias chain) becomes a TERMINAL alias — old files' data under it
    * is ignored at decode and the names may never be reintroduced; a
    * type change is accepted only for the exact value-preserving
    * widenings (int→bigint, float→double — [[SchemaEvolution
    * .promotes]]), old files promoting at decode. Anything else
    * (nested fields, lossy type changes) is rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    require(ident.namespace().isEmpty,
      "ALTER TABLE is supported only for top-level fleets")
    val dir = avroDir(ident.name())
    val p = hPath(dir)
    val fs = rootFs()
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory)
      noSuchTable(ident)
    // under an active branch session the ALTER STAGES: it reads the
    // branch's effective marker (staged-first) and writes the staged
    // copy — main's marker, schema, and readers are untouched until
    // fast_forward publishes the evolution with the staged versions
    val branch = FleetManifest.activeBranchAt(fs, p)
    val existing = FleetSchemaMarker.resolve(fs, p, branch)
    var schema = existing.map(_.schema).getOrElse(Avro.toSparkSchema(
      Avro.peekSchema(spark, dir)))
    var aliases = existing.map(_.aliases)
      .getOrElse(Map.empty[String, Seq[String]])
    var dropped = existing.map(_.dropped).getOrElse(Seq.empty)
    // a RETIRED physical spelling can never be reintroduced as a
    // column name: old files still carry data under it, so a
    // resurrected name would rebind their values to the new logical
    // column (string data under an int ADD even bricks every read)
    def requireNotHistorical(name: String): Unit = {
      aliases.find(_._2.contains(name)).foreach { case (cur, _) =>
        throw new IllegalArgumentException(
          s"column name '$name' is a historical spelling of '$cur' — " +
            "files on disk still carry data under it; pick a fresh name")
      }
      if (dropped.contains(name))
        throw new IllegalArgumentException(
          s"column name '$name' was DROPPED — files on disk still " +
            "carry data under it; pick a fresh name")
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft fleets are flat: nested ADD COLUMN is not supported")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.contains(name),
          s"column '$name' already exists")
        requireNotHistorical(name)
        require(add.isNullable,
          s"added column '$name' must be nullable — every pre-existing " +
            "file null-fills it")
        schema = StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(name, add.dataType(),
            nullable = true))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft fleets are flat: nested RENAME COLUMN is not supported")
        val old = rn.fieldNames()(0)
        val nn = rn.newName()
        require(schema.fieldNames.contains(old),
          s"no such column '$old' (schema: ${schema.fieldNames.toSeq})")
        require(!schema.fieldNames.contains(nn),
          s"column '$nn' already exists")
        requireNotHistorical(nn)
        schema = StructType(schema.fields.map(f =>
          if (f.name == old) f.copy(name = nn) else f))
        // the FULL chain travels: files may carry any historical
        // spelling — the one they were written under (a file written
        // between two renames holds the intermediate name, which a
        // single original-physical entry would lose to silent NULLs)
        val chain = old +: aliases.getOrElse(old, Seq.empty)
        aliases = (aliases - old) + (nn -> chain)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft fleets are flat: nested DROP COLUMN is not supported")
        val name = del.fieldNames()(0)
        if (!schema.fieldNames.contains(name)) {
          if (!del.ifExists()) throw new IllegalArgumentException(
            s"no such column '$name' (schema: ${schema.fieldNames.toSeq})")
        } else {
          require(schema.fields.length > 1,
            s"cannot drop '$name' — a fleet needs at least one column")
          schema = StructType(schema.fields.filterNot(_.name == name))
          // the dropped spelling AND its whole historical chain become
          // terminal: files on disk carry data under every one of them
          dropped = (dropped ++ (name +: aliases.getOrElse(name,
            Seq.empty))).distinct
          aliases = aliases - name
        }
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          "graft fleets are flat: nested ALTER COLUMN is not supported")
        val name = ut.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"no such column '$name' (schema: ${schema.fieldNames.toSeq})")
        val cur = schema(name).dataType
        require(SchemaEvolution.promotes(cur, ut.newDataType()),
          s"ALTER COLUMN '$name' ${cur.catalogString} -> " +
            s"${ut.newDataType().catalogString}: only the exact " +
            "value-preserving widenings are supported (int->bigint, " +
            "float->double); other changes need a rewrite (FleetCompact)")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = ut.newDataType()) else f))
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports ADD/RENAME/DROP COLUMN and " +
          s"widening ALTER COLUMN TYPE only (got " +
          s"${other.getClass.getSimpleName}); anything else needs a " +
          "rewrite (FleetCompact)")
    }
    Avro.toAvroSchema(schema) // flat-schema/codec validation, loudly
    val next = FleetSchemaMarker.Marker(schema, aliases, dropped)
    branch match {
      case Some(b) => FleetSchemaMarker.writeStaged(fs, p, b, next)
      case None => FleetSchemaMarker.write(fs, p, next)
    }
    // a TRANSACTIONAL fleet also lands a SCHEMA COMMIT: a no-file-change
    // generation whose SchemaProp is the new marker, inherited forward
    // by every later commit — so `VERSION AS OF` resolves the declared
    // schema as of any generation (a pre-DROP version shows the
    // dropped column; a mid-evolution version its intermediate shape).
    // Session-branch routing applies as for any commit: a staged ALTER
    // versions on the branch and publishes with fast_forward. A
    // manifest-less fleet stays marker-only (it has no versions to
    // resolve against).
    if (branch.isDefined || FleetManifest.versions(fs, p).nonEmpty)
      FleetManifest.commit(fs, p, identity, bootstrap = Seq.empty,
        props = Map(FleetManifest.SchemaProp ->
          FleetSchemaMarker.toJsonString(next)))
    new AvroFleetTable(schema, dir, Avro.MaxIngestFileBytes,
      evolve = true, aliases = aliases)
  }

  override def dropTable(ident: Identifier): Boolean =
    ident.namespace().toSeq match {
      case Seq() =>
        val p = hPath(avroDir(ident.name()))
        val fs = rootFs()
        fs.exists(p) && fs.delete(p, true)
      case _ => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().isEmpty && newIdent.namespace().isEmpty,
      "rename is supported only for top-level fleets")
    val from = hPath(avroDir(oldIdent.name()))
    val to = hPath(avroDir(newIdent.name()))
    val fs = rootFs()
    if (!fs.exists(from)) noSuchTable(oldIdent)
    if (fs.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(catalogName, newIdent.name()))
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  override def tableExists(ident: Identifier): Boolean = {
    val fs = rootFs()
    ident.namespace().toSeq match {
      case Seq() =>
        val p = hPath(avroDir(ident.name()))
        fs.exists(p) && fs.getFileStatus(p).isDirectory
      case Seq(wb) =>
        val p = hPath(xlsxFile(wb))
        fs.exists(p) && Xlsx.sheetNames(readAll(fs, p)).contains(ident.name())
      case _ => false
    }
  }

  // --- maintenance procedures: CALL graft.system.<proc>(...) ---
  // (snapshots / rewrite_files / expire_versions / restore — the
  // manifest layer's verb set; see [[GraftProcedures]])

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(ident, avroDir)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty ||
        namespace.toSeq == Seq(GraftProcedures.Namespace))
      GraftProcedures.list()
    else Array.empty

  // --- namespaces: the top level plus one per workbook file ---

  private def noSuchNamespace(ns: Array[String]): Throwable =
    new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catalogName) ++ ns.toSeq)

  override def listNamespaces(): Array[Array[String]] = {
    val r = hPath(root)
    val fs = rootFs()
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".xlsx") &&
        !st.getPath.getName.startsWith("."))
      .map(st => Array(st.getPath.getName.stripSuffix(".xlsx")))
      .sortBy(_.head).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw noSuchNamespace(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.toSeq match {
      case Seq() => true
      case Seq(wb) => rootFs().exists(hPath(xlsxFile(wb)))
      case _ => false
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace))
      java.util.Collections.emptyMap[String, String]()
    else throw noSuchNamespace(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "a namespace IS a workbook file — create one by writing a workbook")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("workbook namespaces are immutable")

  override def dropNamespace(namespace: Array[String], cascade: Boolean)
      : Boolean = false
}
