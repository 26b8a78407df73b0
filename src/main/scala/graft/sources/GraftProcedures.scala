package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-addressable fleet MAINTENANCE — DSv2 stored procedures
  * (`ProcedureCatalog`, Spark 4.1) on [[GraftCatalog]], the verb set a
  * transactional table format owes its operators (SURVEY.md §2.A; the
  * Iceberg `CALL catalog.system.…` ergonomic, rebuilt on the
  * [[FleetManifest]] generation layer):
  *
  * {{{
  *   CALL graft.system.snapshots(table => 'events')
  *   CALL graft.system.rewrite_files('events', 64 * 1024 * 1024, 'event_id')
  *   CALL graft.system.expire_versions('events', 3)
  *   CALL graft.system.restore('events', 2)
  * }}}
  *
  *  - `snapshots(table)` — one row per committed manifest generation
  *    (version, file count, current flag): the time-travel index a
  *    `VERSION AS OF` reader consults.
  *  - `rewrite_files(table, target_file_bytes, cluster_by)` — IN-PLACE
  *    transactional compaction: reads the current generation, rewrites
  *    it into ~target-sized files, and lands the result as ONE manifest
  *    swap (new generation in, every old data file out) — concurrent
  *    readers see the old or the new fleet, never both, and the old
  *    generation stays readable via `VERSION AS OF` until expired.
  *    `cluster_by` '' ⇒ size-only re-shard; a key ⇒ range-clustered
  *    (disjoint per-file intervals restore min/max skip-proofs); a key
  *    matching the fleet's `_layout.json` marker ⇒ the CLUSTERED
  *    rewrite, preserving exchange-free (SPJ) joinability.
  *  - `expire_versions(table, keep_last)` — snapshot retention:
  *    [[FleetCompact.expireVersions]] (manifests removed before the
  *    data files only they referenced — a crash in between leaves
  *    harmless orphans, never a readable version with missing files).
  *  - `restore(table, version)` — rollback-by-advance: commits a NEW
  *    generation whose file list is the restored version's, so the
  *    rollback is itself versioned history (nothing is deleted, and a
  *    mistaken restore is restorable). Fails loudly if the target
  *    generation's files were already expired. Data only: schema DDL
  *    markers (`_schema.json`) are not versioned by the manifest.
  *  - `remove_orphans(table, grace_ms)` — GC for files NO manifest
  *    version references (a crashed job's task-committed strays:
  *    renamed to final names but never manifest-committed, so never
  *    reader-visible), via [[FleetCompact.removeOrphans]]. `grace_ms`
  *    guards in-flight jobs — only files older than (now − grace)
  *    qualify.
  *
  * Results surface as `LocalScan` rows — driver-side by design: every
  * procedure is a METADATA operation (the one distributed step,
  * `rewrite_files`' rewrite, is a normal Spark job inside the call);
  * result sets are O(versions), never O(rows).
  */
private[sources] object GraftProcedures {

  val Namespace = "system"
  private val names = Seq("snapshots", "expire_versions", "restore",
    "rewrite_files", "remove_orphans", "create_tag", "drop_tag", "tags",
    "create_branch", "fast_forward", "drop_branch", "branches",
    "expire_branches", "set_layout", "compact_vectors", "purge_vectors",
    "add_check", "drop_check", "checks", "files", "clone",
    "pin", "unpin")

  def list(): Array[Identifier] =
    names.map(n => Identifier.of(Array(Namespace), n)).toArray

  /** Resolve by identifier; `dirFor` maps a fleet NAME to its
    * directory (the catalog's `<root>/<name>.avro` convention, name
    * validation included). */
  def load(ident: Identifier, dirFor: String => String): UnboundProcedure = {
    require(ident.namespace().toSeq == Seq(Namespace),
      s"graft procedures live in the '$Namespace' namespace " +
        s"(CALL graft.$Namespace.<proc>); got " +
        s"'${(ident.namespace() :+ ident.name()).mkString(".")}'")
    ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "snapshots" => new Snapshots(dirFor)
      case "expire_versions" => new ExpireVersions(dirFor)
      case "restore" => new Restore(dirFor)
      case "rewrite_files" => new RewriteFiles(dirFor)
      case "remove_orphans" => new RemoveOrphans(dirFor)
      case "create_tag" => new CreateTag(dirFor)
      case "drop_tag" => new DropTag(dirFor)
      case "tags" => new Tags(dirFor)
      case "set_layout" => new SetLayout(dirFor)
      case "compact_vectors" => new CompactVectors(dirFor)
      case "purge_vectors" => new PurgeVectors(dirFor)
      case "create_branch" => new CreateBranch(dirFor)
      case "expire_branches" => new ExpireBranches(dirFor)
      case "fast_forward" => new FastForward(dirFor)
      case "drop_branch" => new DropBranch(dirFor)
      case "branches" => new Branches(dirFor)
      case "files" => new Files(dirFor)
      case "clone" => new Clone(dirFor)
      case "pin" => new Pin(dirFor)
      case "unpin" => new Unpin(dirFor)
      case "add_check" => new AddCheck(dirFor)
      case "drop_check" => new DropCheck(dirFor)
      case "checks" => new Checks(dirFor)
      case other => throw new UnsupportedOperationException(
        s"no such graft procedure '$other' " +
          s"(available: ${names.mkString(", ")})")
    }
  }

  private def param(n: String, t: DataType) =
    ProcedureParameter.in(n, t).build()

  private def str(s: String) = UTF8String.fromString(s)

  private def fsFor(dir: String) = {
    val p = new Path(dir)
    (p, p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()))
  }

  private def requireFleet(dirFor: String => String, table: String)
      : String = {
    val dir = dirFor(table)
    val (p, fs) = fsFor(dir)
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
      s"no such fleet '$table'")
    dir
  }

  /** Single-result scan: procedures return bounded driver-side
    * summaries, not datasets. */
  private final class ResultScan(schema: StructType,
      rs: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = rs
    override def description(): String = "graft procedure result"
  }

  private def result(schema: StructType, rs: InternalRow*)
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](new ResultScan(schema, rs.toArray)).iterator()

  private abstract class Base(val name: String) extends UnboundProcedure
      with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    // every procedure reads/mutates live filesystem state
    override def isDeterministic: Boolean = false
  }

  private final class Snapshots(dirFor: String => String)
      extends Base("snapshots") {
    override def description: String =
      "one row per committed manifest generation of a fleet"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("deletion_vectors", IntegerType, nullable = false),
      StructField("deleted_rows", LongType, nullable = true),
      StructField("is_current", BooleanType, nullable = false),
      StructField("props", StringType, nullable = true)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = requireFleet(dirFor, input.getUTF8String(0).toString)
      val (p, fs) = fsFor(dir)
      val vs = FleetManifest.versions(fs, p)
      val rows = vs.map { v =>
        // MAIN history by name: the listing iterates main versions, so
        // a branch-routed lookup under spark.graft.branch would pair a
        // main number with branch content when a stale fork overlaps
        val snap = FleetManifest.snapshotAtMain(fs, p, v)
        val files = snap.map(_.files.size).getOrElse(0)
        val dvs = snap.map(_.dvs.size).getOrElse(0)
        // vectored-row total straight from the manifest meta — zero
        // vector I/O; NULL when some binding predates meta (a header
        // read here would reintroduce the O(vectored files) tax this
        // column exists to audit)
        val deletedRows: Any = snap.map { sn =>
          if (sn.dvs.keySet.forall(sn.dvMeta.contains))
            sn.dvMeta.values.map(_.count).sum
          else null
        }.getOrElse(0L)
        // commit metadata surfaces as a compact JSON column (null
        // when the generation carried none) — e.g. FleetMV's
        // mv.sourceVersion stamp is auditable straight from SQL
        val props = snap.map(_.props).filter(_.nonEmpty).map { m =>
          str(org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(
              org.json4s.JObject(m.toList.sortBy(_._1).map {
                case (k, vv) =>
                  k -> (org.json4s.JString(vv): org.json4s.JValue)
              }))))
        }.orNull
        new GenericInternalRow(Array[Any](v, files, dvs, deletedRows,
          vs.lastOption.contains(v), props)): InternalRow
      }
      result(out, rows: _*)
    }
  }

  private final class ExpireVersions(dirFor: String => String)
      extends Base("expire_versions") {
    override def description: String =
      "drop manifest versions beyond keep_last and GC their orphaned files"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("keep_last", IntegerType))
    private val out = StructType(Seq(
      StructField("expired_versions", IntegerType, nullable = false),
      StructField("deleted_files", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = requireFleet(dirFor, input.getUTF8String(0).toString)
      val r = FleetCompact.expireVersions(SparkSession.active, dir,
        keepLast = input.getInt(1))
      result(out, new GenericInternalRow(Array[Any](
        r.expiredVersions.size, r.deletedFiles.size)))
    }
  }

  private final class Restore(dirFor: String => String)
      extends Base("restore") {
    override def description: String =
      "commit a new generation re-pointing to an earlier version's files"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("version", LongType))
    private val out = StructType(Seq(
      StructField("restored_version", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val v = input.getLong(1)
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      // resolve() hard-fails if generation v is unknown or its files
      // were expired — a restore must never commit a dangling file
      // list. The check runs INSIDE the commit's update function,
      // i.e. under the manifest commit lock: a retention pass
      // (expireVersions takes the same lock) cannot expire the target
      // generation between verification and commit.
      FleetManifest.versions(fs, p).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"restore: fleet '$table' has no manifest history"))
      // the restored generation must reproduce v's VISIBLE state:
      // files AND deletion-vector bindings. An explicit dvUpdate entry
      // for every restored file (Some = v's binding, None = clear)
      // overrides inheritance completely — without it the commit
      // would inherit the CURRENT bindings and a post-v vector would
      // keep hiding rows that were visible at v.
      val target = FleetManifest.snapshotAt(fs, p, v).getOrElse(
        throw new IllegalArgumentException(
          s"restore: no manifest version $v at $dir (available: " +
            s"${FleetManifest.versions(fs, p).mkString(", ")})"))
      val committed = FleetManifest.commit(fs, p,
        update = { _ =>
          FleetManifest.resolve(fs, p, Some(v))
          target.files
        },
        bootstrap = Seq.empty,
        dvUpdate = target.files.map(f => f -> target.dvs.get(f)).toMap,
        // bindings restore WITH their metadata — the restored
        // generation's counts/stats are v's, not the current one's —
        // and files re-added by the restore carry v's file stats
        dvMetaUpdate = target.dvMeta,
        stats = target.fileStats)
      result(out, new GenericInternalRow(Array[Any](
        v, committed.version, committed.files.size)))
    }
  }

  /** `CALL graft.system.create_tag('events', 'corpus-v3', 12)` — pin
    * generation 12 by NAME: `VERSION AS OF 'corpus-v3'` reads it, and
    * retention ([[FleetCompact.expireVersions]]) keeps it (files and
    * vectors) until the tag drops. The reproducible-training-snapshot
    * primitive: a run records the tag, not a raw number a retention
    * policy may outlive. */
  /** `CALL clone(src, dst)` — an INDEPENDENT copy of the source's
    * CURRENT generation whose history starts fresh at v1. On a local
    * filesystem every data file, bound deletion vector, and marker
    * is HARD-LINKED (O(files) metadata ops, zero bytes copied — the
    * dev/test sandbox of a production fleet costs nothing; linked
    * content is safe to share because committed fleet files are
    * immutable: every mutation path writes NEW files and retires old
    * names); filesystems without link(2) fall back to a copy (at
    * object-store scale that is the store's server-side copy).
    * The cloned files' stats, vector bindings and their manifest meta
    * carry into the clone's v1 snapshot, as do the declared-schema marker,
    * layout marker, and CHECK constraints. Tags, branches, and
    * retained history do NOT clone — the clone is one generation, not
    * a mirror (use the change feed for mirrors). */
  private final class Clone(dirFor: String => String)
      extends Base("clone") {
    override def description: String =
      "independent zero-copy (hard-linked) clone of the current generation"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("target", StringType))
    private val out = StructType(Seq(
      StructField("target", StringType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("linked", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = requireFleet(dirFor, input.getUTF8String(0).toString)
      val dstName = input.getUTF8String(1).toString
      val dst = dirFor(dstName)
      val (sp, fs) = fsFor(src)
      val dp = new Path(dst)
      require(!fs.exists(dp),
        s"clone target '$dstName' already exists at $dst")
      val snap = FleetManifest.current(fs, sp)
      val names = snap.map(_.files).getOrElse(
        AvroFleetCommits.dataFileStatuses(fs, sp)
          .map(_.getPath.getName))
      // chain bindings reference parent vectors INSIDE their JSON —
      // expand transitively or the clone's chained reads would tear
      val vectors = snap.map(s =>
        FleetDv.expandRefs(fs, sp, s.dvs.values.toSet).toSeq.sorted)
        .getOrElse(Seq.empty)
      val markers = Seq(FleetSchemaMarker.FileName,
        FleetLayout.FileName, FleetChecks.FileName)
        .filter(m => fs.exists(new Path(sp, m)))
      fs.mkdirs(dp)
      val conf = SparkSession.active.sessionState.newHadoopConf()
      // one link/copy primitive for every relative name — hard link
      // when the scheme supports it (immutable content, zero bytes),
      // copy otherwise; `linked` in the result row says which ran
      var linked = true
      def bring(rel: String): Unit = {
        val from = new Path(sp, rel)
        val to = new Path(dp, rel)
        fs.mkdirs(to.getParent)
        val asNio = (p: Path) => {
          val u = fs.makeQualified(p).toUri
          if (u.getScheme == "file")
            Some(java.nio.file.Paths.get(u.getPath))
          else None
        }
        (asNio(from), asNio(to)) match {
          case (Some(f), Some(t)) =>
            try { java.nio.file.Files.createLink(t, f); () }
            catch {
              case scala.util.control.NonFatal(_) =>
                linked = false
                org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to,
                  false, conf); ()
            }
          case _ =>
            linked = false
            org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to,
              false, conf); ()
        }
      }
      (names ++ vectors ++ markers).foreach(bring)
      // the clone's v1: the linked names under the source's bindings,
      // meta and file stats (a manifest-less source's from its
      // `_stats.json`); the declared-schema prop carries so VERSION AS
      // OF 1 of the clone resolves the schema the source had now, and
      // the CHECK-constraint props carry so the clone enforces the
      // source's governance from its first write (r20 — checks are
      // manifest props; the marker link above covers legacy fleets)
      FleetManifest.commit(fs, dp, _ => names, bootstrap = names,
        props = snap.flatMap(_.props.get(FleetManifest.SchemaProp))
          .map(v => Map(FleetManifest.SchemaProp -> v))
          .getOrElse(Map.empty) ++
          snap.map(_.props.filter(_._1.startsWith(
            FleetManifest.CheckPropPrefix))).getOrElse(Map.empty),
        dvUpdate = snap.map(_.dvs.map { case (k, v) =>
          k -> Option(v) }).getOrElse(Map.empty),
        dvMetaUpdate = snap.map(_.dvMeta).getOrElse(Map.empty),
        stats = snap.fold(FleetStats.read(fs, sp))(_.fileStats))
      fs.create(new Path(dp, "_SUCCESS"), true).close()
      result(out, new GenericInternalRow(Array[Any](str(dstName),
        names.size, linked)))
    }
  }

  /** Per-file audit of the CURRENT generation — name, bytes, committed
    * row count, vector binding, exact vectored-row count — all from
    * the manifest and one listing: ZERO data-file
    * I/O at any fleet size. The 100 TB operator questions ("how bad is
    * my small-file problem", "what fraction is vectored — time to
    * purge_vectors?") answer from SQL. */
  private final class Files(dirFor: String => String)
      extends Base("files") {
    override def description: String =
      "one row per current-generation data file (bytes, rows, vector)"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("vector", StringType, nullable = true),
      StructField("deleted_rows", LongType, nullable = true)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = requireFleet(dirFor, input.getUTF8String(0).toString)
      val (p, fs) = fsFor(dir)
      val snap = FleetManifest.current(fs, p)
      val statuses = AvroFleetCommits.dataFileStatuses(fs, p)
        .map(st => st.getPath.getName -> st).toMap
      val names = snap.map(_.files.sorted)
        .getOrElse(statuses.keys.toSeq.sorted)
      val stats = FleetView.statsOf(fs, snap, names.flatMap(statuses.get))
      val rows = names.map { n =>
        val st = statuses.getOrElse(n, throw new java.io.IOException(
          s"manifest-listed file $n missing at $dir — a retained " +
            "generation was externally deleted"))
        val rowsV: Any = stats.get(st.getPath.toString)
          .map(s => Long.box(s.rows)).orNull
        val vec: Any = snap.flatMap(_.dvs.get(n)).map(str).orNull
        val del: Any = snap.flatMap(_.dvMeta.get(n))
          .map(m => Long.box(m.count)).orNull
        new GenericInternalRow(Array[Any](str(n), st.getLen, rowsV,
          vec, del))
      }
      result(out, rows: _*)
    }
  }

  /** Write-time CHECK constraints ([[FleetChecks]]): `add_check`
    * validates the expression against the fleet's schema AND scans
    * the existing rows once (a constraint never lands on violating
    * data — every generation of a checked fleet satisfies its
    * checks), then every subsequent write path enforces per row.
    *
    * TRANSACTIONAL since r20: the constraint lands as a MANIFEST
    * commit under `expectedVersion` pinned to the generation the
    * validation scan read, so it serializes against concurrent
    * writers — a data commit slipping between scan and constraint
    * conflicts this commit, which re-validates against the new
    * generation and retries; symmetrically a writer that PLANNED
    * before the constraint landed fails its own commit's
    * `requireChecks` compare-and-set. One of the two always loses
    * loudly; no committed generation can violate a committed check. */
  private final class AddCheck(dirFor: String => String)
      extends Base("add_check") {
    override def description: String =
      "add a write-time CHECK constraint (validates existing rows)"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType),
        param("expr", StringType))
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val expr = input.getUTF8String(2).toString
      require(name.matches("[A-Za-z0-9_]+"),
        s"check name '$name' must be [A-Za-z0-9_]+")
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      val s = SparkSession.active
      var attempts = 0
      var landed = false
      while (!landed) {
        attempts += 1
        val snap = FleetManifest.current(fs, p)
        val existing = FleetChecks.read(fs, p)
        require(!existing.contains(name),
          s"check '$name' already exists on '$table' " +
            s"(${existing(name)}) — drop_check it first")
        // the validation scan reads EXACTLY the generation the
        // commit will land on (versionAsOf pin; a manifest-less
        // legacy fleet reads its raw listing and the bootstrap
        // commit's expectedVersion=0 catches any concurrent first
        // commit)
        val df = snap.fold(s.read.format("graft-avro").load(dir))(sn =>
          s.read.format("graft-avro")
            .option("versionAsOf", sn.version.toString).load(dir))
        // loud schema/analysis validation before any scan
        FleetChecks.bind(s, Map(name -> expr), df.schema)
        // ANSI CHECK: a row violates only when the expression is FALSE
        val bad = df.filter(s"NOT coalesce(($expr), true)").count()
        require(bad == 0L,
          s"cannot add check '$name' to '$table': $bad existing row(s) " +
            s"violate ($expr) — fix the data first (the constraint " +
            "guarantee is that every committed generation satisfies it)")
        try {
          FleetManifest.commit(fs, p,
            update = identity,
            bootstrap = AvroFleetCommits.dataFileStatuses(fs, p)
              .map(_.getPath.getName),
            // the FULL set rides the commit (a legacy sidecar's
            // content migrates into the manifest on first touch)
            props = FleetChecks.toProps(existing + (name -> expr)),
            expectedVersion = Some(snap.map(_.version).getOrElse(0L)))
          FleetChecks.clearSidecar(fs, p)
          landed = true
        } catch {
          case e: FleetCommitConflictException =>
            if (attempts >= 8) throw new IllegalStateException(
              s"add_check('$table', '$name') lost $attempts validation " +
                "races to concurrent commits — quiesce writers and " +
                s"retry (${e.getMessage})")
          // else: re-read, re-validate against the new generation
        }
      }
      result(out, new GenericInternalRow(Array[Any](str(name),
        str(expr))))
    }
  }

  private final class DropCheck(dirFor: String => String)
      extends Base("drop_check") {
    override def description: String =
      "drop a write-time CHECK constraint"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType))
    private val out = StructType(Seq(
      StructField("dropped", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      val existing = FleetChecks.read(fs, p)
      require(existing.contains(name),
        s"no check '$name' on '$table' (checks: " +
          s"${existing.keys.toSeq.sorted.mkString(", ")})")
      // a drop needs no validation scan and no version pin: the
      // sentinel clears the inherited entry whatever base it lands on
      // (writers never conflict on a drop — requireChecks only flags
      // checks they did NOT enforce)
      FleetManifest.commit(fs, p,
        update = identity,
        bootstrap = AvroFleetCommits.dataFileStatuses(fs, p)
          .map(_.getPath.getName),
        props = FleetChecks.toProps(existing - name,
          dropped = Some(name)))
      FleetChecks.clearSidecar(fs, p)
      result(out, new GenericInternalRow(Array[Any](true)))
    }
  }

  private final class Checks(dirFor: String => String)
      extends Base("checks") {
    override def description: String =
      "list a fleet's write-time CHECK constraints"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (p, fs) = fsFor(requireFleet(dirFor,
        input.getUTF8String(0).toString))
      val rows = FleetChecks.read(fs, p).toSeq.sortBy(_._1).map {
        case (n, e) =>
          new GenericInternalRow(Array[Any](str(n), str(e)))
      }
      result(out, rows: _*)
    }
  }

  /** `CALL pin()` / `CALL unpin()` — the cross-fleet SNAPSHOT PIN
    * ([[FleetPin]], r20): capture every manifest-bearing fleet under
    * the catalog root at its CURRENT version into the session's pin
    * vector; until unpin, multi-table reads in this session resolve
    * that consistent cut (explicit AS-OF / branch / change-feed reads
    * override per read), and commits to pinned fleets fail loudly. */
  private final class Pin(dirFor: String => String) extends Base("pin") {
    override def description: String =
      "capture a session-wide consistent read cut (one version per fleet)"
    override def parameters(): Array[ProcedureParameter] = Array.empty
    private val out = StructType(Seq(
      StructField("table", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = SparkSession.active
      val root = new Path(dirFor("pin_probe")).getParent
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      val fleets = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          fs.exists(new Path(st.getPath, FleetManifest.DirName)))
        .sortBy(_.getPath.getName)
      val entries = fleets.flatMap { st =>
        FleetManifest.current(fs, st.getPath).map(sn =>
          (st.getPath.getName.stripSuffix(".avro"),
            fs.makeQualified(st.getPath).toString, sn.version))
      }
      s.conf.set(FleetPin.Conf, FleetPin.render(
        entries.map(e => e._2 -> e._3).toMap))
      result(out, entries.map(e => new GenericInternalRow(
        Array[Any](str(e._1), e._3))): _*)
    }
  }

  private final class Unpin(dirFor: String => String)
      extends Base("unpin") {
    override def description: String =
      "drop the session's snapshot pin (reads resolve current again)"
    override def parameters(): Array[ProcedureParameter] = Array.empty
    private val out = StructType(Seq(
      StructField("unpinned", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val s = SparkSession.active
      val had = s.conf.getOption(FleetPin.Conf).exists(_.nonEmpty)
      s.conf.unset(FleetPin.Conf)
      result(out, new GenericInternalRow(Array[Any](had)))
    }
  }

  private final class CreateTag(dirFor: String => String)
      extends Base("create_tag") {
    override def description: String =
      "pin a manifest version under an immutable name"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("tag", StringType),
        param("version", LongType))
    private val out = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      val v = input.getLong(2)
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      FleetManifest.createTag(fs, p, tag, v)
      result(out, new GenericInternalRow(Array[Any](str(tag), v)))
    }
  }

  private final class DropTag(dirFor: String => String)
      extends Base("drop_tag") {
    override def description: String =
      "drop a tag; its version falls back under normal retention"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("tag", StringType))
    private val out = StructType(Seq(
      StructField("dropped", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      result(out, new GenericInternalRow(Array[Any](
        FleetManifest.dropTag(fs, p, tag))))
    }
  }

  private final class Tags(dirFor: String => String)
      extends Base("tags") {
    override def description: String = "list a fleet's tags"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      result(out, FleetManifest.tags(fs, p).map { case (n, v) =>
        new GenericInternalRow(Array[Any](str(n), v))
      }: _*)
    }
  }

  /** `CALL graft.system.set_layout('events', 'region_id', 67108864)`
    * — ESTABLISH the proven clustered layout from pure SQL (r17, the
    * r16 verdict's #8): the current generation rewrites in place
    * (same transactional swap as `rewrite_files`) through the
    * clusterBy writer, which routes each task's rows into one
    * container per distinct key value — every output file provably
    * single-key by its sidecar min==max — and records the `_layout`
    * marker, so optionless scans (including catalog SQL) pick the key
    * up and `graft.a JOIN graft.b USING (key)` runs EXCHANGE-FREE
    * without one line of Scala. The storage-partitioned-join earning
    * path, previously Scala-only via FleetCompact.compactClustered. */
  private final class SetLayout(dirFor: String => String)
      extends Base("set_layout") {
    override def description: String =
      "re-cluster a fleet in place: one key value per file + layout " +
        "marker — the SQL path to storage-partitioned joins"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("cluster_by", StringType),
        param("target_file_bytes", LongType))
    private val out = StructType(Seq(
      StructField("rewritten_files", IntegerType, nullable = false),
      StructField("added_files", IntegerType, nullable = false),
      StructField("new_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val clusterBy = input.getUTF8String(1).toString
      val targetBytes = input.getLong(2)
      require(clusterBy.nonEmpty, "set_layout needs a cluster_by column")
      require(targetBytes > 0, "target_file_bytes must be positive")
      val s = SparkSession.active
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      val current = FleetManifest.resolve(fs, p, None).getOrElse(
        AvroFleetCommits.dataFileStatuses(fs, p))
      if (current.isEmpty)
        return result(out, new GenericInternalRow(Array[Any](0, 0,
          FleetManifest.current(fs, p).map(_.version).getOrElse(0L))))
      val names = current.map(_.getPath.getName)
      val totalBytes = current.map(_.getLen).sum
      val shards = math.max(1L,
        (totalBytes + targetBytes - 1) / targetBytes).toInt
      val df = s.read.format("graft-avro").load(dir)
      require(df.schema.fieldNames.contains(clusterBy),
        s"set_layout: no column '$clusterBy' in fleet '$table' " +
          s"(schema: ${df.schema.fieldNames.mkString(", ")})")
      // same mid-flight merge-on-read CAS posture as rewrite_files
      val dvAtRead = FleetManifest.current(fs, p)
        .map(_.dvs).getOrElse(Map.empty)
      df.repartition(shards, col(clusterBy))
        .write.format("graft-avro").mode("append")
        .option("clusterBy", clusterBy)
        .option("manifestSwapRemove", names.mkString(","))
        .option("manifestRequireDvs", AvroFleetTable.renderRequireDvs(
          names.map(n => n -> dvAtRead.get(n)).toMap))
        .save(dir)
      val committed = FleetManifest.current(fs, p).getOrElse(
        throw new IllegalStateException(
          s"set_layout: commit left no manifest at $dir"))
      val oldNames = names.toSet
      val added = committed.files.count(!oldNames(_))
      result(out, new GenericInternalRow(Array[Any](
        names.size, added, committed.version)))
    }
  }

  /** `CALL graft.system.compact_vectors('events')` — flatten every
    * CHAIN deletion-vector binding into one binary leaf, WITHOUT
    * touching a data file: the cheap middle maintenance between "do
    * nothing" (reads pay one node + k leaf opens per chained file)
    * and `rewrite_files` (a full data rewrite). The merge runs as ONE
    * Spark job — a task per chained file reads the chain and writes
    * the leaf, so no position ever reaches the driver — and the
    * rebinding is one manifest commit with the per-file
    * compare-and-set every vector swap uses: a merge-on-read delete
    * landing mid-pass conflicts loudly and retries, never vanishes.
    * Superseded chains/parents stay referenced by old snapshots until
    * retention; a conflict's orphaned new leaves fall to
    * remove_orphans. */
  private final class CompactVectors(dirFor: String => String)
      extends Base("compact_vectors") {
    override def description: String =
      "flatten chain deletion-vector bindings into single leaves " +
        "(no data-file rewrite)"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("compacted_vectors", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val s = SparkSession.active
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      val curSnap = FleetManifest.current(fs, p)
      val chained = curSnap
        .map(_.dvs).getOrElse(Map.empty)
        .filter(_._2.endsWith(".dv.chain.json")).toSeq.sortBy(_._1)
      if (chained.isEmpty)
        return result(out, new GenericInternalRow(Array[Any](0)))
      val baseMeta = curSnap.map(_.dvMeta).getOrElse(Map.empty)
      val conf = new graft.util.SerializableHadoopConf(
        s.sessionState.newHadoopConf())
      val dirStr = fs.makeQualified(p).toString
      // executor-side merge: positions live and die in the tasks
      val rebound = s.sparkContext
        .parallelize(chained, math.min(chained.size, 64))
        .map { case (fileName, chainRel) =>
          val tp = new Path(dirStr)
          val tfs = tp.getFileSystem(conf.value)
          val merged = FleetDv.read(tfs, tp, chainRel)
          (fileName, chainRel, FleetDv.write(tfs, tp, fileName, merged),
            merged.count, FleetDv.fingerprint(merged))
        }.collect()
      FleetManifest.commit(fs, p,
        identity,
        bootstrap = Seq.empty,
        dvUpdate = rebound.map { case (f, _, leaf, _, _) =>
          f -> Option(leaf) }.toMap,
        requireDvs = rebound.map { case (f, chain, _, _, _) =>
          f -> Option(chain) }.toMap,
        // the flatten is a position-identical rebind: counts carry
        // (exact from the merge), deleted-value stats inherit
        // verbatim, and the fingerprint is stamped FRESH from the
        // merged positions the task already held — upgrading even a
        // legacy fingerprint-less binding, so the change feed decides
        // this span's no-op with zero vector I/O
        dvMetaUpdate = rebound.map { case (f, _, _, cnt, fp) =>
          f -> FleetManifest.DvMeta(cnt,
            baseMeta.get(f).flatMap(_.stats), Some(fp)) }.toMap)
      result(out, new GenericInternalRow(Array[Any](rebound.length)))
    }
  }

  /** `CALL graft.system.purge_vectors('events', 64 * 1024 * 1024)` —
    * materialize deletion vectors into dense files by rewriting ONLY
    * the VECTORED containers (Iceberg's rewrite-position-deletes /
    * Delta's PURGE): each vectored file reads minus its vector (the
    * explicit-path dvSpec load — normal distributed scan) and lands
    * as ~target-sized dense files in ONE manifest swap; every
    * UNVECTORED file stays byte-identical and unread. The swap
    * compare-and-sets the bindings it read (a racing merge-on-read
    * delete conflicts loudly, never vanishes) and retires them with
    * the replaced files, so the metadata fast paths warm back up for
    * exactly the touched slice. At 100 TB: after a redaction pass
    * vectored 0.1% of files, this rewrites 0.1% of the fleet —
    * `rewrite_files` would rewrite it all. A fleet whose layout
    * marker names a cluster key keeps it (vectored files re-route by
    * key). */
  private final class PurgeVectors(dirFor: String => String)
      extends Base("purge_vectors") {
    override def description: String =
      "rewrite ONLY vector-bound files minus their vectors — dense " +
        "files back, untouched files stay byte-identical"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType),
        param("target_file_bytes", LongType))
    private val out = StructType(Seq(
      StructField("purged_files", IntegerType, nullable = false),
      StructField("added_files", IntegerType, nullable = false),
      StructField("new_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val targetBytes = input.getLong(1)
      require(targetBytes > 0, "target_file_bytes must be positive")
      val s = SparkSession.active
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      val snap = FleetManifest.current(fs, p)
      val dvs = snap.map(_.dvs).getOrElse(Map.empty)
      val curVersion = snap.map(_.version).getOrElse(0L)
      if (dvs.isEmpty)
        return result(out, new GenericInternalRow(Array[Any](0, 0,
          curVersion)))
      val names = dvs.keys.toSeq.sorted
      val statuses = names.map(n =>
        fs.getFileStatus(new Path(p, n)))
      val shards = math.max(1L,
        (statuses.map(_.getLen).sum + targetBytes - 1) / targetBytes)
        .toInt
      // the vectored files, minus their vectors, via the explicit-path
      // dvSpec load — the same per-file instruction the change feed's
      // image reads use; the fleet's declared schema applies (the
      // marker resolves from the enclosing directory)
      val specs = names.map(n => n -> DvPartSpec(
        fs.makeQualified(new Path(p, dvs(n))).toString)).toMap
      val df = s.read.format("graft-avro")
        .option("mergeSchema", "true")
        .option("dvSpec", AvroFleetTable.renderDvSpec(specs))
        .load(names.map(n => s"$dir/$n").mkString(","))
      val layout = FleetLayout.read(fs, p)
        .filter(df.schema.fieldNames.contains)
      val shaped = layout match {
        case Some(c) => df.repartition(shards, col(c))
        case None => df.repartition(shards)
      }
      val w = shaped.write.format("graft-avro").mode("append")
        .option("manifestSwapRemove", names.mkString(","))
        .option("manifestRequireDvs", AvroFleetTable.renderRequireDvs(
          names.map(n => n -> Option(dvs(n))).toMap))
      (layout match {
        case Some(c) => w.option("clusterBy", c)
        case None => w
      }).save(dir)
      val committed = FleetManifest.current(fs, p).getOrElse(
        throw new IllegalStateException(
          s"purge_vectors: commit left no manifest at $dir"))
      val oldNames = names.toSet
      result(out, new GenericInternalRow(Array[Any](
        names.size, committed.files.count(!oldNames(_)),
        committed.version)))
    }
  }

  /** `CALL graft.system.create_branch('events', 'clean-v2')` — fork a
    * MUTABLE ref at the current main version (write-audit-publish,
    * the Iceberg WAP shape): with session conf `spark.graft.branch =
    * 'clean-v2'` every read of this fleet resolves the branch head
    * and every DELETE/UPDATE/MERGE/INSERT commits onto the branch —
    * main readers never see a staged generation. Validate the staged
    * state, then `fast_forward` publishes it atomically (or
    * `drop_branch` discards it). Retention pins branch references
    * like tags until then. */
  private final class CreateBranch(dirFor: String => String)
      extends Base("create_branch") {
    override def description: String =
      "fork a mutable write-audit-publish branch at the current version"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("branch", StringType))
    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      FleetManifest.createBranch(fs, p, name)
      val base = FleetManifest.branchBase(fs, p, name).get
      result(out, new GenericInternalRow(Array[Any](str(name), base)))
    }
  }

  /** `CALL graft.system.fast_forward('events', 'clean-v2')` — publish
    * a branch: strict fast-forward (main must still be at the fork
    * base — an intervening main commit conflicts loudly), the staged
    * generations adopt into main's sequence verbatim, the branch
    * retires. Returns the new main head version. */
  private final class FastForward(dirFor: String => String)
      extends Base("fast_forward") {
    override def description: String =
      "publish a branch onto main (strict fast-forward) and retire it"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("branch", StringType))
    private val out = StructType(Seq(
      StructField("main_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      result(out, new GenericInternalRow(Array[Any](
        FleetManifest.fastForward(fs, p, name))))
    }
  }

  /** `CALL graft.system.expire_branches('events', 604800000)` —
    * PER-BRANCH retention (r18, the r17 verdict's #7): drop every
    * branch whose last activity (newest staged commit's `commit.ts`,
    * else the fork ref's mtime) is older than `older_than_ms`.
    * Branches pin every generation they reference like tags —
    * expire_versions and remove_orphans treat staged files as LIVE —
    * so an abandoned long-lived fork would otherwise pin a petabyte
    * forever; ageing it out here releases its staging to the normal
    * orphan sweep while main history stays untouched (dropBranch
    * deletes refs and branch version files only, never data). Active
    * forks stay: any staged commit inside the window resets the
    * clock. */
  private final class ExpireBranches(dirFor: String => String)
      extends Base("expire_branches") {
    override def description: String =
      "drop branches idle longer than older_than_ms; their staging " +
        "falls to remove_orphans"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("older_than_ms", LongType))
    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("head_version", LongType, nullable = false),
      StructField("idle_ms", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val olderThan = input.getLong(1)
      require(olderThan >= 0, "older_than_ms must be >= 0")
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      val now = System.currentTimeMillis()
      val dropped = FleetManifest.branches(fs, p).flatMap {
        case (name, _, head) =>
          FleetManifest.branchLastActivity(fs, p, name)
            .map(now - _).filter(_ > olderThan).map { idle =>
              FleetManifest.dropBranch(fs, p, name)
              new GenericInternalRow(
                Array[Any](str(name), head, idle)): InternalRow
            }
      }
      result(out, dropped: _*)
    }
  }

  private final class DropBranch(dirFor: String => String)
      extends Base("drop_branch") {
    override def description: String =
      "discard a branch; its staged files fall to remove_orphans"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("branch", StringType))
    private val out = StructType(Seq(
      StructField("dropped", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      result(out, new GenericInternalRow(Array[Any](
        FleetManifest.dropBranch(fs, p, name))))
    }
  }

  private final class Branches(dirFor: String => String)
      extends Base("branches") {
    override def description: String = "list a fleet's branches"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType))
    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val (p, fs) = fsFor(requireFleet(dirFor, table))
      result(out, FleetManifest.branches(fs, p).map { case (n, b, h) =>
        new GenericInternalRow(Array[Any](str(n), b, h))
      }: _*)
    }
  }

  /** `CALL remove_orphans(table, grace_ms)` — the shared orphan sweep
    * ([[FleetCompact.removeOrphans]], the one implementation both
    * codecs run): unreferenced data files, `.staging-*` leftovers and
    * vector strays older than (now − grace). Reports how many paths
    * it deleted. */
  private final class RemoveOrphans(dirFor: String => String)
      extends Base("remove_orphans") {
    override def description: String =
      "delete data files no manifest version references, older than " +
        "grace_ms (crashed jobs' task-committed strays)"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType), param("grace_ms", LongType))
    private val out = StructType(Seq(
      StructField("deleted_files", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = requireFleet(dirFor, input.getUTF8String(0).toString)
      val gone = FleetCompact.removeOrphans(SparkSession.active, dir,
        graceMs = input.getLong(1))
      result(out, new GenericInternalRow(Array[Any](gone.size)))
    }
  }

  private final class RewriteFiles(dirFor: String => String)
      extends Base("rewrite_files") {
    override def description: String =
      "in-place transactional compaction: rewrite the current " +
        "generation into ~target-sized files as one manifest swap"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType),
        param("target_file_bytes", LongType),
        param("cluster_by", StringType))
    private val out = StructType(Seq(
      StructField("rewritten_files", IntegerType, nullable = false),
      StructField("added_files", IntegerType, nullable = false),
      StructField("new_version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val targetBytes = input.getLong(1)
      val clusterBy = input.getUTF8String(2).toString
      require(targetBytes > 0, "target_file_bytes must be positive")
      val s = SparkSession.active
      val dir = requireFleet(dirFor, table)
      val (p, fs) = fsFor(dir)
      // the CURRENT generation is the rewrite's input AND the swap's
      // remove set; a concurrent append's files are in neither, so a
      // racing writer loses nothing (its commit serializes after ours
      // and its files stay referenced)
      val current = FleetManifest.resolve(fs, p, None).getOrElse(
        AvroFleetCommits.dataFileStatuses(fs, p))
      if (current.isEmpty)
        return result(out, new GenericInternalRow(Array[Any](0, 0,
          FleetManifest.current(fs, p).map(_.version).getOrElse(0L))))
      val names = current.map(_.getPath.getName)
      val totalBytes = current.map(_.getLen).sum
      val shards = math.max(1L,
        (totalBytes + targetBytes - 1) / targetBytes).toInt
      val layout = FleetLayout.read(fs, p)
      val df = s.read.format("graft-avro").load(dir)
      val keepLayout = clusterBy.nonEmpty && layout.contains(clusterBy)
      val shaped =
        if (clusterBy.isEmpty) df.repartition(shards)
        else if (keepLayout) df.repartition(shards, col(clusterBy))
        else df.repartitionByRange(shards, col(clusterBy))
          .sortWithinPartitions(clusterBy)
      // compare-and-set the vector bindings the rewrite read under —
      // a merge-on-read delete landing mid-compaction must conflict,
      // not silently vanish with the swapped-out files
      val dvAtRead = FleetManifest.current(fs, p)
        .map(_.dvs).getOrElse(Map.empty)
      val w = shaped.write.format("graft-avro").mode("append")
        .option("manifestSwapRemove", names.mkString(","))
        .option("manifestRequireDvs", AvroFleetTable.renderRequireDvs(
          names.map(n => n -> dvAtRead.get(n)).toMap))
      (if (keepLayout) w.option("clusterBy", clusterBy) else w).save(dir)
      val committed = FleetManifest.current(fs, p).getOrElse(
        throw new IllegalStateException(
          s"rewrite_files: commit left no manifest at $dir"))
      val oldNames = names.toSet
      val added = committed.files.count(!oldNames(_))
      result(out, new GenericInternalRow(Array[Any](
        names.size, added, committed.version)))
    }
  }
}
