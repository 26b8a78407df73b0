package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.SerializableHadoopConf

/** DataSource V2 connector for the Avro fleet codec
  * (`spark.read.format("graft-avro").load(dirOrGlob)`): the same
  * listing contract as [[FleetView]] (hidden temps/markers
  * filtered, `_SUCCESS` required on part-file directories, per-file
  * size bound), small container files packed into core-sized read
  * partitions by Spark's own file-source rule
  * ([[AvroFleetScan.planGroups]]), and — the
  * point of going through Catalyst instead of an RDD — REAL column
  * pruning: the connector implements `SupportsPushDownRequiredColumns`,
  * so ANY downstream projection reaches the executors as an Avro
  * reader-schema that skip-decodes unprojected fields at the byte
  * level. A user never passes a column list; `df.select(a, b)` over a
  * 40-column fleet decodes 2 columns, visible in the plan's BatchScan
  * ReadSchema. `Avro.readDistributed` delegates here, so the
  * `Workbook` avro path inherits the pruning transparently.
  *
  * Scale: the schema is pinned by one driver-side header peek
  * (bounded, like a parquet footer read); every task re-checks its own
  * file's writer schema against it, so a mixed-schema fleet fails
  * loudly per file instead of mis-decoding. Executors resolve their
  * filesystem from a serialized session Hadoop conf carried by the
  * reader factory — never a bare default `Configuration`.
  */
class AvroFleetSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider {

  override def shortName(): String = "graft-avro"

  // ---- V1 RelationProvider: KEYED batch change ranges only ---------
  //
  // `spark.read` + `readChangeFeed` + `cdcKeyCols` nets a bounded
  // version range per key — a JOIN no DSv2 scan can express, so the
  // keyed table declares no BATCH_READ and DataFrameReader's
  // documented fallback (loadV2Source yields None) resolves this V1
  // relation instead: FleetCDC.reconcileKeyed over the batch range,
  // the keyed STREAM's escape hatch batch-side.
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    require(cdcOf(opts) && keyedCdcCols(opts).nonEmpty,
      "the graft-avro V1 relation serves only readChangeFeed + " +
        "cdcKeyCols batch ranges (plain reads use the V2 table)")
    require(branchOf(opts).isEmpty,
      "a keyed batch range addresses MAIN history — net a branch's " +
        "changes by following the branch feed (option(\"branch\") on " +
        "readStream) or FleetCDC.changesKeyed over branch snapshots")
    val keys = keyedCdcCols(opts)
    val path = pathOf(opts)
    val from = AvroFleetTable.resolveStartingVersion(opts, path)
      .getOrElse(throw new IllegalArgumentException(
        "a batch readChangeFeed needs a range start — " +
          "option(\"startingVersion\", v) (0 replays the full " +
          "retained history) or option(\"startingTimestamp\", ...)"))
    val to = AvroFleetTable.resolveEndingVersion(opts, path)
    val net = FleetCDC.reconcileKeyed(
      FleetCDC.read(sqlContext.sparkSession, path, from, to), keys)
    val sqlc = sqlContext
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = sqlc
      override def schema: StructType = net.schema
      override def buildScan()
          : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = net.rdd
      override def toString: String =
        s"GraftKeyedChangeRange[$path v$from..${to.fold("head")(v =>
          s"v$v")} keys=${keys.mkString(",")}]"
    }
  }

  // ---- V1 StreamSinkProvider: the CDC-APPLY (upsert) sink only -----
  //
  // `writeStream.option("cdcApplyKeyCols", keys)` applies keyed change
  // images as per-batch MERGEs — a join-shaped write no DSv2
  // StreamingWrite can express; the table drops STREAMING_WRITE for
  // that option and DataStreamWriter's documented fallback routes the
  // query here (see AvroFleetCdcApplySink). Every other streaming
  // write keeps the V2 epoch-keyed path.

  private def applyKeyCols(options: CaseInsensitiveStringMap)
      : Seq[String] =
    Option(options.get("cdcApplyKeyCols")).map(_.split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val keys = applyKeyCols(opts)
    require(keys.nonEmpty,
      "the graft-avro V1 sink serves only cdcApplyKeyCols mode (plain " +
        "streaming appends use the native fleet sink)")
    require(partitionColumns.isEmpty,
      "cdcApplyKeyCols does not compose with partitionBy — the target " +
        "fleet's layout is its own")
    // the MERGE addresses the target's MAIN head; silently accepting a
    // branch option would apply the feed somewhere other than asked
    require(!opts.containsKey("branch") ||
      opts.get("branch").trim.isEmpty,
      "cdcApplyKeyCols applies to the target's MAIN head; " +
        "option(\"branch\") on the sink is not supported — silently " +
        "accepting it would apply the feed somewhere other than asked")
    new AvroFleetCdcApplySink(sqlContext, pathOf(opts), keys,
      parameters.get("checkpointLocation"),
      mergeSchema = opts.getBoolean("mergeSchema", false))
  }

  // ---- V1 StreamSourceProvider: the KEYED change feed only ---------
  //
  // `readChangeFeed` + `cdcKeyCols` needs a per-batch JOIN (net-change
  // reconciliation) that no DSv2 scan can express; the table drops
  // MICRO_BATCH_READ for that option combination and the analyzer's
  // documented fallback routes the stream through this V1 Source
  // (FileStreamSource's API). Every other read keeps the V2 path.

  private def keyedCdcCols(options: CaseInsensitiveStringMap)
      : Seq[String] =
    Option(options.get("cdcKeyCols")).map(_.split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // called EAGERLY for every stream (the analyzer materializes the
    // V1 fallback relation before choosing V2) — must answer for all
    // of them; only createSource (an actually-chosen V1 path) enforces
    // the keyed-feed-only contract
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val base = inferSchema(opts)
    // net-change rows join across files, so per-field nullability is
    // the join's, not the writers' — declare the relaxed schema
    val declared =
      if (cdcOf(opts) && keyedCdcCols(opts).nonEmpty)
        StructType(base.fields.map(_.copy(nullable = true)))
      else base
    AvroFleetSource.rememberSourceSchema(parameters, declared)
    (shortName(), declared)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val opts = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val keys = keyedCdcCols(opts)
    require(cdcOf(opts) && keys.nonEmpty,
      "the graft-avro V1 stream serves only readChangeFeed=true + " +
        "cdcKeyCols")
    new AvroFleetCdcKeyedSource(sqlContext, pathOf(opts), keys,
      // the DEFINITION-time schema (sourceSchema resolved it eagerly
      // at load(); DataSource.providingInstance() is a fresh provider
      // per call, so the pin lives in the companion) — the engine
      // validates batches against the definition's attributes, and a
      // fleet evolved between definition and start must not make
      // createSource declare a schema the definition never had. Fresh
      // resolution only for a cold JVM, where the two coincide.
      AvroFleetSource.definedSourceSchema(parameters).getOrElse(
        sourceSchema(sqlContext, schema, providerName, parameters)._2),
      AvroFleetTable.resolveStartingVersion(opts, pathOf(opts)),
      Option(opts.get("branch")).map(_.trim).filter(_.nonEmpty),
      metadataPath = metadataPath,
      maxVersionsPerTrigger =
        Option(opts.get("maxVersionsPerTrigger")).map(_.toLong))
  }

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-avro needs a single load path (directory, file, or glob)")
    p
  }

  private def maxBytesOf(options: CaseInsensitiveStringMap): Long =
    Option(options.get("maxFileBytes")).map(_.toLong)
      .getOrElse(Avro.MaxIngestFileBytes)

  private def evolveOf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("mergeSchema", false)

  private def cdcOf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  private def branchOf(options: CaseInsensitiveStringMap)
      : Option[String] =
    Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)

  /** An `ALTER TABLE`d fleet carries its declared schema in the
    * `_schema.json` marker — prefer it over the header peek (ADD
    * COLUMN / RENAME COLUMN are metadata-only; files are immutable).
    * A multi-path or per-file load (explicit part files such as
    * [[FleetMerge]]'s touched-file reads, in-directory globs) resolves
    * the marker from the FIRST path's enclosing fleet directory, so an
    * ALTERed fleet's aliases and declared schema apply however its
    * files are addressed. */
  private def markerOf(path: String,
      branch: Option[String] = None,
      asOf: Option[FleetView.AsOf] = None)
      : Option[FleetSchemaMarker.Marker] = {
    val p = new org.apache.hadoop.fs.Path(Avro.splitGlobs(path).head)
    val fs = p.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    // parent fallback ONLY for a path that is an existing FILE of
    // the fleet or an in-directory glob — a nonexistent plain path
    // must resolve to None (adopting an enclosing directory's
    // marker would impose a foreign schema on a typo'd or
    // not-yet-created location). None is returned ONLY when the
    // marker is genuinely absent: a transient read/parse failure on
    // an ALTERed fleet PROPAGATES — silently dropping the declared
    // schema and alias map would decode renamed columns as NULL
    // (silent wrong results beat no results, never the reverse).
    val isGlob = p.getName.exists("*?[]{}".contains(_))
    try {
      val dirP =
        if (fs.exists(p))
          (if (fs.getFileStatus(p).isDirectory) p else p.getParent)
        else if (isGlob) p.getParent
        else null
      if (dirP != null && fs.exists(dirP) &&
          fs.getFileStatus(dirP).isDirectory) {
        // branch routing: an explicit option("branch") — or the
        // session's active branch when it exists here — resolves the
        // fork's STAGED marker first (a schema evolution staged on a
        // branch is invisible to main until fast_forward, r19); a
        // versioned read — any AS OF spelling, through the one
        // addressing rule the scan builder uses — resolves the schema
        // stamped AS OF that generation, so a pre-ALTER generation
        // never shows the post-ALTER marker. Resolution failures
        // (unknown tag, unparseable or too-early time) defer to the
        // scan builder's loud errors.
        val effBranch = branch.filter(b =>
          FleetManifest.branchBase(fs, dirP, b).isDefined)
          .orElse(FleetManifest.activeBranchAt(fs, dirP))
        val effVersion = asOf.flatMap { a =>
          try Some(FleetView.versionAt(fs, dirP, a))
          catch { case _: IllegalArgumentException => None }
        }
        FleetSchemaMarker.resolveAt(fs, dirP, effBranch, effVersion)
      } else None
    } catch {
      // a path component vanishing between the existence probe and
      // the status/read IS genuine absence, not a dropped marker
      case _: java.io.FileNotFoundException => None
    }
  }

  /** The generation this load's DECLARED SCHEMA is read at: an
    * explicit AS OF option, else the session pin's version — so a
    * pinned read's schema is the pinned generation's, matching the
    * data the scan serves. Branch and change-feed reads bypass the pin
    * (same rule as the scan builder's pin injection). */
  private def schemaAsOf(options: CaseInsensitiveStringMap)
      : Option[FleetView.AsOf] =
    AvroFleetTable.asOfOption(options).orElse(
      if (cdcOf(options) || options.containsKey("branch")) None
      else FleetPin.versionForLoad(SparkSession.active, pathOf(options))
        .map(v => FleetView.VersionOrTag("versionAsOf", v.toString)))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the CDC-apply sink's schema is its per-batch input, not the
    // target's (which may not exist yet — a fresh replication target
    // bootstraps from its first batch); the table resolved under this
    // option only answers the STREAMING_WRITE capability probe
    if (applyKeyCols(options).nonEmpty) return new StructType()
    val base = markerOf(pathOf(options), branchOf(options),
      schemaAsOf(options)).map(_.schema).getOrElse {
      if (evolveOf(options))
        SchemaEvolution.merge(Avro.peekAllSchemas(SparkSession.active,
          pathOf(options)).map(Avro.toSparkSchema))
      else
        Avro.toSparkSchema(Avro.peekSchema(SparkSession.active,
          pathOf(options)))
    }
    // the change feed reads the fleet schema plus the trailing
    // `_change_type` tag ([[FleetCDC.ChangeTypeCol]])
    if (cdcOf(options))
      StructType(base.fields :+ org.apache.spark.sql.types.StructField(
        FleetCDC.ChangeTypeCol, StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (applyKeyCols(opts).nonEmpty)
      // CDC-apply sink resolution: skip the marker/peek entirely (the
      // target may not exist) — this table only declines the
      // STREAMING_WRITE probe so the V1 sink fallback engages
      return new AvroFleetTable(schema, pathOf(opts), maxBytesOf(opts),
        cdcApply = true)
    val marker = markerOf(pathOf(opts), branchOf(opts), schemaAsOf(opts))
    new AvroFleetTable(schema, pathOf(opts), maxBytesOf(opts),
      evolveOf(opts) || marker.isDefined,
      aliases = marker.map(_.aliases).getOrElse(Map.empty),
      cdc = cdcOf(opts),
      cdcKeyed = cdcOf(opts) && keyedCdcCols(opts).nonEmpty)
  }
}

private[sources] object AvroFleetSource {
  // definition-time V1 sourceSchema pin (r19): the engine validates
  // every batch against the STREAM DEFINITION's attributes (resolved
  // eagerly at load()), while createSource runs at query START on a
  // DIFFERENT provider instance (DataSource.providingInstance() is a
  // fresh newInstance per call) — a fleet evolved in between would
  // make a re-inferring createSource declare a schema the definition
  // never had, and the first batch fails the engine's shape assert.
  // Keyed by the case-normalized parameter map; bounded (streams are
  // few, parameter sets fewer).
  private val sourceSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      Map[String, String], StructType]()

  private def normKey(parameters: Map[String, String])
      : Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  private[sources] def rememberSourceSchema(
      parameters: Map[String, String], schema: StructType): Unit = {
    if (sourceSchemaCache.size > 1024) sourceSchemaCache.clear()
    sourceSchemaCache.put(normKey(parameters), schema)
  }

  private[sources] def definedSourceSchema(
      parameters: Map[String, String]): Option[StructType] =
    Option(sourceSchemaCache.get(normKey(parameters)))
}

private[sources] class AvroFleetTable(tableSchema: StructType, path: String,
    maxFileBytes: Long, evolve: Boolean = false,
    versionAsOf: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    cdc: Boolean = false,
    cdcKeyed: Boolean = false,
    cdcApply: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = s"graft-avro `$path`"

  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    if (cdcApply)
      // CDC-apply sink: the per-batch MERGE is a join-shaped write no
      // StreamingWrite can express — decline STREAMING_WRITE so
      // DataStreamWriter falls back to the provider's V1 sink
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE)
    else if (cdc && cdcKeyed)
      // KEYED change feed: per-batch reconciliation is a JOIN no scan
      // can express — declare NO stream capability so the analyzer's
      // documented fallback routes to the provider's V1 Source
      // (AvroFleetCdcKeyedSource), which returns the reconciled
      // DataFrame per micro-batch
      java.util.EnumSet.noneOf(classOf[TableCapability])
    else if (cdc)
      // the change feed streams, and (r19) reads as a BOUNDED BATCH
      // RANGE: option("startingVersion"/"startingTimestamp") +
      // option("endingVersion"/"endingTimestamp") — the declarative
      // spelling of FleetCDC.changes ("what changed between v5 and
      // v9" from plain spark.read/SQL). Keyed netting stays
      // stream-only (a per-range JOIN is FleetCDC.changesKeyed).
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // explicit option wins; otherwise the clustered writer's layout
    // marker opts the scan into key grouping (one tiny driver read;
    // the grouping itself is still proven per file from sidecars, and
    // AUTO grouping additionally yields to scan parallelism on
    // fragmented fleets — see clusterGroups)
    val explicit = Option(options.get("clusterBy"))
    val marker =
      if (explicit.isDefined || cdc) None
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        FleetLayout.read(p.getFileSystem(
          SparkSession.active.sessionState.newHadoopConf()), p)
      }
    new AvroFleetScanBuilder(tableSchema, path, maxFileBytes, evolve,
      explicit.orElse(marker), clusterAuto = marker.isDefined,
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxVersionsPerTrigger =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      offsetInlineLimit =
        Option(options.get("offsetInlineLimit")).map(_.toInt)
          .getOrElse(1000),
      versionAsOf =
        // option("versionAsOf", number-or-tag) / option("timestampAsOf")
        // — the DataFrame spellings of SQL VERSION / TIMESTAMP AS OF —
        // through the one addressing rule: a tag or time resolves
        // against the MATCHED fleet directory (a glob matching one
        // directory still finds its tag), and a multi-directory load
        // cannot carry one (r16 ADVICE)
        AvroFleetTable.asOfOption(options).map(
          FleetView.versionAtLoad(SparkSession.active, path, _))
          .orElse(versionAsOf).orElse {
          // session snapshot pin ([[FleetPin]]): a pinned fleet reads
          // its captured version. EXPLICIT addressing — versionAsOf /
          // timestampAsOf / branch — and the change feed override the
          // pin (they name their own snapshot).
          if (cdc || options.containsKey("branch")) None
          else FleetPin.versionForLoad(SparkSession.active, path)
        },
      maxFileAgeMs = Option(options.get("maxFileAge"))
        .map(AvroFleetTable.parseDurationMs),
      ignoreMissingFiles = Option(options.get("ignoreMissingFiles"))
        .map(_.toBoolean),
      startingVersion =
        AvroFleetTable.resolveStartingVersion(options, path),
      endingVersion = {
        val ev = AvroFleetTable.resolveEndingVersion(options, path)
        require(ev.isEmpty || cdc,
          "endingVersion/endingTimestamp bound a readChangeFeed " +
            "range; a plain fleet read has no version range — use " +
            "versionAsOf to read one generation")
        ev
      },
      aliases = aliases,
      cdc = cdc,
      dvSpecs = AvroFleetTable.parseDvSpec(options.get("dvSpec")),
      // per-read branch addressing (r18): `option("branch", name)` —
      // the versionAsOf spelling for a write-audit-publish fork, so
      // one job compares main vs branch with no session-conf flip.
      // READ-only: writes keep the session-conf routing. Mutual
      // exclusion with versionAsOf validates at resolution.
      branch = Option(options.get("branch")).map(_.trim)
        .filter(_.nonEmpty))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroFleetWriteBuilder(info, path)

  // ---- metadata-only DELETE (SupportsDelete) ----------------------
  //
  // Spark's OptimizeMetadataOnlyDeleteFromTable asks canDeleteWhere
  // FIRST: when every file is sidecar-DECIDABLE — the condition
  // provably matches ALL of its rows (drop the file) or provably
  // matches NONE (keep it) — the whole DELETE is ONE manifest commit
  // retiring the dropped files, zero tasks, zero rewrite (r15: the
  // files themselves stay on disk for VERSION AS OF until a retention
  // pass). One straddling or stats-less file returns false and the
  // command falls back to the row-level COW rewrite below, which
  // handles it row-exactly. On a time-laid-out fleet, `DELETE FROM
  // graft.events WHERE ts < retention` is the canonical win: the
  // whole expired prefix retires in O(1) commits.

  private def deleteDecisions(filters: Array[
      org.apache.spark.sql.sources.Filter])
      : Option[Seq[(org.apache.hadoop.fs.FileStatus, Boolean)]] = {
    import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue}
    val s = SparkSession.active
    val view = FleetView.resolve(s, path)
    val fleet = view.files
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sessionState.newHadoopConf())
    val stats = view.stats(fs)
    def alwaysM(f: org.apache.spark.sql.sources.Filter,
        ps: FleetStats.PartStats) = f match {
      case _: AlwaysTrue => true
      case _ => FleetStats.alwaysMatches(f, ps)
    }
    def neverM(f: org.apache.spark.sql.sources.Filter,
        ps: FleetStats.PartStats) = f match {
      case _: AlwaysFalse => true
      case _ => FleetStats.neverMatches(f, ps)
    }
    val decisions = fleet.map { st =>
      // stats-free decisions FIRST: TRUNCATE arrives as [AlwaysTrue]
      // and must drop every file even when a sidecar entry is missing
      // (cross-JVM interleaving legitimately loses entries) — gating
      // it behind stats.get made TRUNCATE a silent no-op on such
      // fleets
      if (filters.isEmpty ||
          filters.forall(_.isInstanceOf[
            org.apache.spark.sql.sources.AlwaysTrue]))
        Some(st -> true)
      else if (filters.exists(_.isInstanceOf[
          org.apache.spark.sql.sources.AlwaysFalse]))
        Some(st -> false)
      else stats.get(st.getPath.toString).flatMap { ps =>
        if (ps.rows == 0) Some(st -> true) // empty container: free to drop
        else if (filters.forall(alwaysM(_, ps))) Some(st -> true)
        else if (filters.exists(neverM(_, ps))) Some(st -> false)
        else None
      }
    }
    if (decisions.exists(_.isEmpty)) None else Some(decisions.flatten)
  }

  // canDeleteWhere's listing + sidecar pass is reused by the
  // deleteWhere that immediately follows on the same Table instance
  // (Spark resolves one table per command) — keyed by the filter set
  // so a stale cache can't serve a different command
  @volatile private var lastDecisions: Option[(Seq[String],
    Seq[(org.apache.hadoop.fs.FileStatus, Boolean)])] = None

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val d = deleteDecisions(filters)
    lastDecisions = d.map(filters.map(_.toString).toSeq -> _)
    d.isDefined
  }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val key = filters.map(_.toString).toSeq
    val decisions = lastDecisions.collect {
      case (k, d) if k == key => d
    }.orElse(deleteDecisions(filters)).getOrElse(
      throw new IllegalStateException(
        "fleet no longer fully decidable under the pushed DELETE " +
          "condition (concurrent writer?) — nothing was deleted; " +
          "re-run the DELETE"))
    val s = SparkSession.active
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    // a fully-emptied fleet must stay loadable: seed the NEXT
    // generation's schema-bearing empty container BEFORE retiring the
    // old files, so no reader window ever resolves an empty file list
    if (decisions.forall(_._2))
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          tableSchema)
        .repartition(1)
        .write.format("graft-avro").mode("append").save(path)
    // the ONE manifest commit IS the delete: it retires the dropped
    // files from the current generation, zero tasks, zero unlinks.
    // The retired files stay ON DISK as the previous version's
    // snapshot (`VERSION AS OF` keeps serving the pre-DELETE fleet);
    // physical deletion is a RETENTION decision
    // ([[FleetCompact.expireVersions]] / CALL graft.system
    // .expire_versions), exactly as in the row-level COW path.
    // (Bootstraps the manifest on a legacy fleet, consistently with
    // every other commit path.)
    val dropped = decisions.collect {
      case (st, true) => st.getPath.getName
    }.toSet
    if (dropped.nonEmpty)
      // requireInBase: a concurrent rewrite of a to-be-dropped file
      // means our full-file drop decision is stale (the rewrite's
      // post-image would survive the DELETE) — conflict loudly
      FleetManifest.commit(fs, dirPath,
        base => base.filterNot(dropped),
        bootstrap = decisions.map(_._1.getPath.getName),
        requireInBase = dropped)
  }

  /** SQL DELETE/UPDATE/MERGE INTO: group-based copy-on-write
    * ([[AvroFleetRowLevelOperation]]) by default; `SET
    * spark.graft.rowLevelMode = merge-on-read` routes them through
    * the delta-based deletion-vector path
    * ([[AvroFleetDeltaOperation]]) — small-fraction mutations cost
    * O(changed rows), not O(touched files). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val mode = SparkSession.active.conf
      .get("spark.graft.rowLevelMode", "copy-on-write")
    mode match {
      case "merge-on-read" | "mor" =>
        new AvroFleetDeltaBuilder(tableSchema, path, maxFileBytes, info,
          evolve, aliases)
      case "copy-on-write" | "cow" =>
        new AvroFleetRowLevelBuilder(tableSchema, path, maxFileBytes, info,
          evolve, aliases)
      case other => throw new IllegalArgumentException(
        s"spark.graft.rowLevelMode = '$other' (use copy-on-write | " +
          "merge-on-read)")
    }
  }

  /** `_file` — the row's source container path, served as a constant
    * per split (`SELECT _file, * FROM graft.x` gives row provenance
    * for free). Doubles as the GROUP identity of the row-level
    * operations: Spark's runtime group filtering collects the matched
    * rows' `_file` values and hands them back as an `In` filter, which
    * the scan resolves to an exact file list. A DATA column named
    * `_file` shadows the metadata column (Spark's documented conflict
    * rule). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = AvroFleetTable.FileMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "fleet container file holding this row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = AvroFleetTable.SyncMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "avro block sync position of this row's block (row identity " +
            "with _file and _ridx; deletion-vector position vocabulary)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = AvroFleetTable.RidxMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row ordinal within its avro block (row identity with _file " +
            "and _sync)"
      })
}

private[sources] object AvroFleetTable {
  val FileMetaCol = "_file"

  /** Row-POSITION metadata columns: the avro block's sync position
    * (`_sync`) and the record's ordinal within that block (`_ridx`).
    * Together with `_file` they are a STABLE row identity — a reader
    * serving any byte range observes the same pair for the same
    * record, because `sync(start)` aligns to the identical block
    * boundary a sequential read passes (an absolute row ordinal is
    * NOT split-stable: a mid-file reader cannot know how many rows
    * precede it). They are the position vocabulary of [[FleetDv]]
    * deletion vectors and the row ID of the merge-on-read row-level
    * operations ([[AvroFleetDeltaOperation]]). */
  val SyncMetaCol = "_sync"
  val RidxMetaCol = "_ridx"

  /** `option("dvSpec", json)` — per-file deletion vectors for
    * EXPLICIT-path reads, which bypass manifest resolution
    * ([[FleetMerge]]'s extent-hit loads, `compact_vectors`' rewrite):
    * each named file reads minus its vector. JSON object keyed by file
    * NAME: `{"part-x.avro": {"new": "<full dv path>"}}`. */
  def parseDvSpec(json: String): Map[String, DvPartSpec] =
    Option(json).filter(_.nonEmpty).map { j =>
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(j) match {
        case o: JObject => o.obj.map {
          case (name, spec: JObject) =>
            val nw = spec \ "new" match {
              case JString(s) => s
              case other => throw new IllegalArgumentException(
                s"dvSpec[$name].new must be a string: $other")
            }
            name -> DvPartSpec(nw)
          case (name, other) => throw new IllegalArgumentException(
            s"dvSpec[$name] must be an object: $other")
        }.toMap
        case other => throw new IllegalArgumentException(
          s"dvSpec must be a JSON object: $other")
      }
    }.getOrElse(Map.empty)

  /** `option("manifestRequireDvs", json)` — the deletion-vector
    * bindings a copy-on-write job READ its inputs under, as a JSON
    * object `{"part-x.avro": "<relative dv name>" | null}` (null =
    * read unbound). The job's manifest commit compare-and-sets each
    * entry; a concurrent merge-on-read delete conflicts loudly. */
  def parseRequireDvs(json: String): Map[String, Option[String]] =
    Option(json).filter(_.nonEmpty).map { j =>
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(j) match {
        case o: JObject => o.obj.map {
          case (name, JString(v)) => name -> Option(v)
          case (name, JNull) => name -> None
          case (name, other) => throw new IllegalArgumentException(
            s"manifestRequireDvs[$name] must be a string or null: $other")
        }.toMap
        case other => throw new IllegalArgumentException(
          s"manifestRequireDvs must be a JSON object: $other")
      }
    }.getOrElse(Map.empty)

  def renderRequireDvs(m: Map[String, Option[String]]): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(
        m.toList.sortBy(_._1).map { case (n, v) =>
          n -> (v.map(JString(_): JValue).getOrElse(JNull): JValue)
        })))
  }

  /** The inverse spelling for callers building the option. */
  def renderDvSpec(specs: Map[String, DvPartSpec]): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject(
        specs.toList.sortBy(_._1).map { case (name, sp) =>
          name -> (JObject("new" -> (JString(sp.newDv): JValue)): JValue)
        })))
  }

  /** `maxFileAge`-style durations: bare millis or `<n>ms|s|m|h|d`
    * (FileStreamSource's spelling). */
  def parseDurationMs(spec: String): Long = {
    val t = spec.trim.toLowerCase
    val (num, unit) = t.span(c => c.isDigit)
    val n = num.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"bad duration '$spec' (use e.g. 604800000, 30s, 15m, 2h, 7d)"))
    unit match {
      case "" | "ms" => n
      case "s" => n * 1000L
      case "m" => n * 60000L
      case "h" => n * 3600000L
      case "d" => n * 86400000L
      case other => throw new IllegalArgumentException(
        s"bad duration unit '$other' in '$spec' (ms, s, m, h, d)")
    }
  }

  /** A plain read's AS OF option — `versionAsOf` (number or tag) or
    * `timestampAsOf` — as the one addressing rule's spelling. */
  def asOfOption(options: CaseInsensitiveStringMap)
      : Option[FleetView.AsOf] = {
    require(!options.containsKey("versionAsOf") ||
      !options.containsKey("timestampAsOf"),
      "versionAsOf and timestampAsOf are mutually exclusive")
    Option(options.get("versionAsOf"))
      .map(FleetView.VersionOrTag("versionAsOf", _))
      .orElse(Option(options.get("timestampAsOf")).map(_.trim)
        .filter(_.nonEmpty).map(FleetView.AtOrBefore("timestampAsOf", _)))
  }

  /** The exclusive version FLOOR a change feed / fleet stream starts
    * after: `startingVersion` verbatim, or `startingTimestamp`
    * resolved to the newest version committed BEFORE the timestamp, so
    * the first streamed change is the first commit AT or AFTER it (the
    * TIMESTAMP AS OF index run in the opposite direction); a
    * timestamp predating the first commit replays the full retained
    * history, one past the newest commit streams only future ones. */
  def resolveStartingVersion(options: CaseInsensitiveStringMap,
      path: String): Option[Long] =
    rangeBound(options, path, "startingVersion", "startingTimestamp",
      FleetView.Before)

  /** The inclusive version CEILING of a batch change-feed range:
    * `endingVersion` verbatim, or `endingTimestamp` resolved to the
    * newest version committed AT or BEFORE the timestamp (the
    * TIMESTAMP AS OF direction). */
  def resolveEndingVersion(options: CaseInsensitiveStringMap,
      path: String): Option[Long] =
    rangeBound(options, path, "endingVersion", "endingTimestamp",
      FleetView.AtOrBefore)

  /** One change-feed range bound: the version option verbatim, or the
    * timestamp option through the one addressing rule. The two are
    * mutually exclusive, and the timestamp spelling does not compose
    * with `branch` — a fork's staged commits carry their own times, so
    * a time-based seek across the fork point would silently mix two
    * clocks; seek a branch feed by version. */
  private def rangeBound(options: CaseInsensitiveStringMap, path: String,
      versionOpt: String, tsOpt: String,
      asOf: (String, String) => FleetView.AsOf): Option[Long] = {
    val v = Option(options.get(versionOpt)).map(_.toLong)
    val raw = Option(options.get(tsOpt)).map(_.trim).filter(_.nonEmpty)
    if (v.isDefined && raw.isDefined)
      throw new IllegalArgumentException(
        s"$versionOpt and $tsOpt are mutually exclusive")
    raw.fold(v) { r =>
      if (Option(options.get("branch")).exists(_.trim.nonEmpty))
        throw new IllegalArgumentException(
          s"$tsOpt does not compose with a branch feed — a fork's " +
            "staged commits carry their own commit times; seek a " +
            s"branch feed with $versionOpt")
      Some(FleetView.versionAtLoad(SparkSession.active, path,
        asOf(tsOpt, r)))
    }
  }
}

/** `_layout.json` — the clustered writer's layout MARKER: a clusterBy
  * commit records its key so readers opt into storage-partitioned
  * grouping with NO `option("clusterBy")` — `SELECT ... FROM graft.a
  * JOIN graft.b USING (k)` over two clustered fleets runs
  * exchange-free straight from SQL. The marker is advisory ONLY: the
  * scan still re-proves one-key-per-file from every file's sidecar
  * and lapses to Unknown if any file fails, so a stale marker costs a
  * re-shuffle, never a mis-join. Any NON-clustered write into the
  * directory clears it (that write may interleave keys). */
private[graft] object FleetLayout {
  val FileName = "_layout.json"

  def write(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, col: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject("clusterBy" -> org.json4s.JString(col))))
      .getBytes("UTF-8"))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, FileName)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) { fs.delete(tmp, false); () }
  }

  def clear(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(dir, FileName), false)
    ()
  }

  def read(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, FileName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        (org.json4s.jackson.JsonMethods.parse(text) \ "clusterBy") match {
          case org.json4s.JString(c) if c.nonEmpty => Some(c)
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** V2 write path (`df.write.format("graft-avro").mode(...).save(dir)`)
  * over the same attempt-temp → rename-if-absent → `_SUCCESS` commit
  * machinery as `Avro.writeDistributed`, but with task commits
  * arbitrated by Spark's OutputCommitCoordinator (the default
  * `BatchWrite.useCommitCoordinator`), which centrally resolves
  * speculative-attempt races instead of leaving them to the
  * filesystem rename. Each job writes `part-NNNNN-<jobTag>.avro`
  * (jobTag = a hash of the V2 queryId), so `mode("append")` lands
  * alongside existing fleets with no name collisions and an aborted
  * job can roll back exactly its own files. `mode("overwrite")`
  * (SupportsTruncate) is ATOMIC on a transactional fleet: the new
  * generation lands beside the old and ONE reset manifest commit
  * swaps the whole file list — readers mid-job (even of the target
  * itself) see the complete pre-overwrite fleet, a crash at any
  * point leaves it intact, and the retired generation keeps serving
  * `VERSION AS OF` until retention (expireVersions/remove_orphans)
  * reclaims it. */
private[sources] class AvroFleetWriteBuilder(info: LogicalWriteInfo,
    dir: String) extends WriteBuilder with SupportsTruncate {

  private var truncateFleet = false

  override def truncate(): WriteBuilder = { truncateFleet = true; this }

  /** A plain APPEND into a fleet carrying a `_layout` marker ADOPTS
    * the marker's cluster key (r17): the write routes one container
    * per key value and re-records the marker, so `INSERT INTO
    * graft.clustered` from pure SQL KEEPS the storage-partitioned
    * layout instead of clearing it (the r14-r16 lapse: any optionless
    * write fragmented the layout and the next join re-shuffled).
    * Explicit `option("clusterBy")`, INSERT OVERWRITE (the new data
    * may deliberately re-shape), swap writes (maintenance passes
    * stage their own partitioning), and writes whose schema lacks the
    * marker column all behave exactly as before. */
  private lazy val adoptedClusterBy: Option[String] =
    if (truncateFleet ||
        info.options.containsKey("clusterBy") ||
        info.options.containsKey("manifestSwapRemove")) None
    else {
      val p = new org.apache.hadoop.fs.Path(dir)
      try FleetLayout.read(p.getFileSystem(
          SparkSession.active.sessionState.newHadoopConf()), p)
        .filter { c =>
          info.schema().fieldNames.contains(c) &&
            FleetStats.trackableType(
              info.schema()(info.schema().fieldIndex(c)).dataType)
        }
      catch { case scala.util.control.NonFatal(_) => None }
    }

  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

    /** Adopted-key appends ask Spark for a CLUSTERED distribution on
      * the key, so the INSERT shuffles by key (AQE-sized) and each
      * task's rows collapse into ONE container per key instead of one
      * per (task, key) — the layout survives without fragmenting.
      * Explicit-clusterBy callers staged their own partitioning and
      * get no new requirement (their plans are pinned by specs). */
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      adoptedClusterBy match {
        case Some(c) =>
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(Array(
              org.apache.spark.sql.connector.expressions.Expressions
                .identity(c)))
        case None =>
          org.apache.spark.sql.connector.distributions.Distributions
            .unspecified()
      }

    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty

    override def requiredNumPartitions(): Int = 0
    /** Native STREAMING sink (`df.writeStream.format("graft-avro")`,
      * append mode): epoch-keyed EXACTLY-ONCE — every task's final
      * name is `part-{pid}-e{epoch}.avro`, deterministic per
      * (partition, epoch), and the shared rename-if-absent commit
      * SKIPS a name that already exists, so a replayed epoch (same
      * offsets, same partitioning — Spark's offset-log contract)
      * lands zero duplicate rows. Each epoch commit lands its files
      * with their stats and re-marks `_SUCCESS`, so the growing fleet stays a
      * well-formed batch/streaming SOURCE at every instant. One
      * streaming writer per fleet directory (names carry no query
      * tag — that determinism IS the idempotence). */
    override def toStreaming: org.apache.spark.sql.connector.write
        .streaming.StreamingWrite = {
      require(!truncateFleet,
        "graft-avro streaming sink supports append output mode only")
      val schemaJson = Avro.toAvroSchema(info.schema()).toString
      val codec = Option(info.options.get("codec")).getOrElse("")
      AvroFleetDataWriter.codecFor(codec)
      // writer identity = the CHECKPOINT (stable across restarts of
      // the same query, distinct for any other) — the single-writer
      // lease's owner tag; see FleetWriterLock
      val basis = Option(info.options.get("checkpointLocation"))
        .filter(_.nonEmpty).getOrElse(info.queryId())
      val writerTag = java.security.MessageDigest.getInstance("MD5")
        .digest(basis.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val leaseMs = Option(info.options.get("writerLeaseMs"))
        .map(_.toLong).getOrElse(300000L)
      new AvroFleetStreamingWrite(schemaJson, info.schema(), dir, codec,
        writerTag, leaseMs)
    }

    override def toBatch: BatchWrite = {
      // driver-side, plan-time: reject non-flat schemas with the
      // sink's actionable error before any task launches
      val schemaJson = Avro.toAvroSchema(info.schema()).toString
      val jobTag = java.security.MessageDigest.getInstance("MD5")
        .digest(info.queryId().getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      // clusterBy: lay the fleet out ONE KEY VALUE PER FILE (each task
      // routes rows into one open container per distinct value), which
      // is what lets the read side report KeyGroupedPartitioning and a
      // join on the key run exchange-free (storage-partitioned join).
      // Validated at plan time: the column must exist and be a
      // stats-trackable scalar (the sidecar min==max IS the key proof).
      // An optionless append into a marker-bearing fleet ADOPTS the
      // marker's key (adoptedClusterBy — already schema/type-checked).
      val clusterIdx = Option(info.options.get("clusterBy")).map { c =>
        val i = info.schema().fieldIndex(c) // throws with a field list
        require(FleetStats.trackableType(info.schema()(i).dataType),
          s"clusterBy column '$c' has untrackable type " +
            s"${info.schema()(i).dataType.simpleString}")
        i
      }.orElse(adoptedClusterBy.map(info.schema().fieldIndex))
      val codec = Option(info.options.get("codec")).getOrElse("")
      AvroFleetDataWriter.codecFor(codec) // plan-time validation
      // copy-on-write swap: a maintenance pass (FleetMerge) appends
      // its rewritten generation and names the replaced files here —
      // the ONE manifest commit adds new and removes old, so no
      // reader ever sees both generations (part names never contain
      // commas, so the option join is unambiguous)
      val swapRemove = Option(info.options.get("manifestSwapRemove"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      // commit metadata: a compact JSON object of string properties
      // that rides the job's ONE manifest commit (FleetMV's stamp —
      // state that must change exactly when the file set does)
      val props = Option(info.options.get("manifestProps"))
        .map { j =>
          org.json4s.jackson.JsonMethods.parse(j) match {
            case o: org.json4s.JObject => o.obj.collect {
              case (k, org.json4s.JString(v)) => k -> v
            }.toMap
            case other => throw new IllegalArgumentException(
              s"manifestProps must be a JSON object of strings: $other")
          }
        }.getOrElse(Map.empty[String, String])
      val requireDvs = AvroFleetTable.parseRequireDvs(
        info.options.get("manifestRequireDvs"))
      // writer idempotence token (the public Delta-style txnAppId /
      // txnVersion pair): an orchestrator-retried job whose previous
      // attempt already committed lands AT MOST ONCE — the manifest
      // ledger (`txn:<appId>` prop) decides inside the commit protocol
      val txn = (Option(info.options.get("txnAppId")).filter(_.nonEmpty),
          Option(info.options.get("txnVersion"))) match {
        case (Some(app), Some(v)) =>
          Some((app, v.toLongOption.getOrElse(
            throw new IllegalArgumentException(
              s"txnVersion must be an integer (got '$v')"))))
        case (Some(_), None) => throw new IllegalArgumentException(
          "txnAppId requires txnVersion — the pair forms the writer-" +
            "idempotence token")
        case (None, Some(_)) => throw new IllegalArgumentException(
          "txnVersion requires txnAppId — the pair forms the writer-" +
            "idempotence token")
        case _ => None
      }
      new AvroFleetBatchWrite(schemaJson, info.schema(), dir, jobTag,
        truncateFleet, clusterIdx, codec, swapRemove, props, requireDvs,
        txn)
    }
  }
}

private[sources] class AvroFleetBatchWrite(schemaJson: String,
    schema: StructType, dir: String, jobTag: String, truncate: Boolean,
    clusterIdx: Option[Int] = None, codec: String = "",
    swapRemoveNames: Set[String] = Set.empty,
    manifestProps: Map[String, String] = Map.empty,
    requireDvsOpt: Map[String, Option[String]] = Map.empty,
    txn: Option[(String, Long)] = None)
    extends BatchWrite {

  /** File NAMES the manifest commit atomically swaps out as this job's
    * files swap in — the copy-on-write generation handoff. Overridden
    * by the row-level replace write (its removed set is only known at
    * commit time); the plain path carries the caller's
    * `manifestSwapRemove` option ([[FleetMerge]]). */
  protected def manifestRemoveNames: Set[String] = swapRemoveNames

  /** Deletion-vector bindings this job READ its replaced inputs under
    * (the `manifestRequireDvs` option / the row-level scan's planned
    * bindings) — compare-and-set at commit. */
  protected def manifestRequireDvs: Map[String, Option[String]] =
    requireDvsOpt

  /** Under serializable isolation the row-level replace write pins the
    * exact version its scan resolved; plain writes carry None. */
  protected def manifestExpectedVersion: Option[Long] = None

  /** The CHECK-constraint set this job's tasks enforced, resolved at
    * plan time — the commit's compare-and-set payload (None only on
    * the idempotent-replay fast path, which writes nothing). */
  @volatile protected var plannedChecks: Option[Map[String, String]] = None

  private def fs(conf: org.apache.hadoop.conf.Configuration) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val f = fs(conf)
    val p = new org.apache.hadoop.fs.Path(dir)
    // TRUNCATE (INSERT OVERWRITE) deletes NOTHING here: the new
    // generation lands beside the old one and the reset manifest
    // commit retires the old files atomically — a reader resolving
    // the current manifest mid-job, or a crash at ANY point before
    // the commit, still sees the complete pre-overwrite fleet, and
    // retained VERSION AS OF history keeps serving. Physical deletion
    // of retired generations is a retention decision
    // (FleetCompact.expireVersions / remove_orphans), exactly as in
    // the row-level copy-on-write path. On a manifest-less legacy
    // directory the reset commit BOOTSTRAPS the manifest to the new
    // files only; the old files become unreferenced (raw-listing
    // external consumers see both until remove_orphans passes).
    f.mkdirs(p)
    // idempotent-replay FAST PATH (advisory; the authoritative check
    // is inside the commit protocol): a token already in the ledger
    // means every task can skip its data write entirely — a replayed
    // 100 TB append costs zero I/O instead of staging the whole job's
    // files only for commit to reap them. The ledger is monotonic, so
    // "applied" can never flip back between planning and commit.
    txn.foreach { case (a, v) =>
      if (FleetManifest.txnApplied(f, p, a, v))
        return new DataWriterFactory {
          override def createWriter(partitionId: Int, taskId: Long)
              : DataWriter[InternalRow] = new DataWriter[InternalRow] {
            override def write(row: InternalRow): Unit = ()
            override def commit(): WriterCommitMessage =
              AvroFleetCommitMessage(Seq.empty)
            override def abort(): Unit = ()
            override def close(): Unit = ()
          }
        }
    }
    val base = new AvroFleetWriterFactory(schemaJson,
      schema.fields.map(_.name), schema.fields.map(_.dataType), dir,
      jobTag, new SerializableHadoopConf(conf), clusterIdx, codec)
    // CHECK constraints bind on the driver (loud before any task
    // launches) and evaluate per row inside the task write loop —
    // every batch path enforces: plain/clustered appends, overwrite,
    // and the copy-on-write row-level post-images that subclass this.
    // The resolved set (empty included) is recorded for the commit's
    // requireChecks compare-and-set: a constraint landing between
    // this plan and the commit conflicts loudly (r20).
    val checks = FleetChecks.read(f, p)
    plannedChecks = Some(checks)
    if (checks.isEmpty) base
    else new CheckedWriterFactory(base,
      FleetChecks.bind(SparkSession.active, checks, schema),
      schema.fields.map(_.name), schema.fields.map(_.dataType))
  }

  // manifest first, marker LAST: the tasks' per-file min/max/null
  // stats (carried on the commit messages) land in the manifest
  // commit with their files, BEFORE `_SUCCESS` certifies the job
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val f = fs(conf)
    val p = new org.apache.hadoop.fs.Path(dir)
    // layout marker before the manifest commit: a clustered commit
    // records its key (advisory — the scan re-proves from sidecars);
    // a plain commit CLEARS any marker (its files may interleave keys)
    val committed = AvroFleetCommits.commitFleet(f, p, messages,
      between = () =>
        clusterIdx match {
          case Some(i) => FleetLayout.write(f, p, schema.fields(i).name)
          case None => FleetLayout.clear(f, p)
        },
      removeNames = manifestRemoveNames,
      reset = truncate,
      props = manifestProps,
      requireDvs = manifestRequireDvs,
      expectedVersion = manifestExpectedVersion,
      txn = txn,
      requireChecks = plannedChecks)
    // idempotent replay (txn token already in the ledger): the job
    // SUCCEEDS without publishing — reap exactly this job's staged
    // files so the replay leaves no unreferenced finals behind
    if (!committed && f.exists(p)) f.listStatus(p).foreach { st =>
      if (st.getPath.getName.contains(s"-$jobTag"))
        f.delete(st.getPath, false)
    }
  }

  // roll back exactly THIS job's files (tag-matched finals + temps);
  // a failed append leaves the pre-existing committed fleet intact
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val f = fs(conf)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (f.exists(p)) f.listStatus(p).foreach { st =>
      if (st.getPath.getName.contains(s"-$jobTag"))
        f.delete(st.getPath, false)
    }
  }
}

private[graft] class AvroFleetWriterFactory(schemaJson: String,
    names: Array[String], types: Array[DataType], dir: String,
    jobTag: String, conf: SerializableHadoopConf,
    clusterIdx: Option[Int] = None, codec: String = "")
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = clusterIdx match {
    case Some(i) => new AvroFleetClusteredWriter(schemaJson, names, types,
      dir, partitionId, taskId, jobTag, conf, i, codec)
    case None => new AvroFleetDataWriter(schemaJson, names, types, dir,
      partitionId, taskId, jobTag, conf, codec)
  }
}

/** One task attempt: stream rows to a hidden attempt temp, commit via
  * the shared rename-if-absent (`Avro.commitPart`). `commit()` only
  * runs once the commit coordinator authorizes this attempt; an
  * unauthorized or failed attempt `abort()`s its temp and the final
  * name is never touched. Empty partitions still commit a
  * schema-bearing OCF, matching `writeDistributed` layout. */
private[graft] class AvroFleetDataWriter(schemaJson: String,
    names: Array[String], types: Array[DataType], dir: String, pid: Int,
    taskId: Long, jobTag: String, conf: SerializableHadoopConf,
    codec: String = "", strictExisting: Boolean = false)
    extends DataWriter[InternalRow] {

  import org.apache.avro.file.{CodecFactory, DataFileWriter}
  import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

  private val schema = new Schema.Parser().parse(schemaJson)
  private val stats = new FleetStats.Collector(
    StructType(names.zip(types).map { case (n, t) => StructField(n, t) }))
  private val finalPath = new org.apache.hadoop.fs.Path(
    f"$dir/part-$pid%05d-$jobTag.avro")
  private val tmpPath = new org.apache.hadoop.fs.Path(
    f"$dir/.part-$pid%05d-$jobTag-attempt-$taskId.avro.tmp")
  private val fs = finalPath.getFileSystem(conf.value)
  // internal-row accessors resolved once per task, not per cell; the
  // avro value spelling matches toAvroValue (days / µs / ByteBuffer)
  private val getters: Array[InternalRow => AnyRef] =
    types.zipWithIndex.map { case (dt, i) => AvroFleetDataWriter.getter(dt, i) }
  private var w: DataFileWriter[GenericRecord] = _

  private def ensureOpen(): Unit = if (w == null)
    w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      .setCodec(AvroFleetDataWriter.codecFor(codec))
      .create(schema, fs.create(tmpPath, true))

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    val rec = new GenericData.Record(schema)
    stats.startRow()
    var i = 0
    while (i < names.length) {
      val v = if (row.isNullAt(i)) null else getters(i)(row)
      stats.observe(i, v)
      rec.put(names(i), v)
      i += 1
    }
    w.append(rec)
  }

  /** Metadata-carrying write (the ReplaceData carry-over path hands
    * (metadata, row) pairs): the fleet persists no per-row metadata —
    * `_file` is reborn from the row's NEW location — so only the data
    * row lands. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def commit(): WriterCommitMessage = {
    ensureOpen() // empty partition → schema-bearing empty OCF
    w.close(); w = null
    // Deterministic-name idempotence guard — STREAMING writers only
    // (strictExisting): rename-if-absent SKIPS an existing final,
    // which is exactly right both for a batch speculative twin
    // (identical content, keep-first — spec-pinned) and a replayed
    // streaming epoch. Epoch names carry the writer's checkpoint
    // LINEAGE (part-N-<lineage8>-eM), so an existing final here is
    // by construction OUR lineage replaying this epoch — same
    // offsets, same rows. Bytes cannot certify that (Avro OCFs embed
    // a RANDOM sync marker, so two writes of identical records
    // differ in bytes); LENGTH can and must match — a mismatch means
    // the replay derived different rows (broken source determinism),
    // where keep-first would silently drop data and this task's
    // stats would describe rows the surviving file does not hold.
    if (strictExisting && fs.exists(finalPath)) {
      // a final that is already MANIFEST-committed means this epoch
      // was previously certified and this task is a replay the
      // checkpoint log missed — even a NARROWED replay whose rows
      // redistributed across fewer partitions. The certified
      // generation is authoritative: contribute NOTHING (empty parts
      // keep the sidecar stats describing the surviving files), and
      // the job-level guard skips the whole epoch commit.
      val certified = FleetManifest.current(fs,
          new org.apache.hadoop.fs.Path(dir))
        .exists(_.files.contains(finalPath.getName))
      if (certified) {
        fs.delete(tmpPath, false)
        return AvroFleetCommitMessage(Seq.empty)
      }
      if (fs.getFileStatus(finalPath).getLen !=
          fs.getFileStatus(tmpPath).getLen) {
        fs.delete(tmpPath, false)
        throw new java.io.IOException(
          s"$finalPath already exists with different length — a " +
            "replay of this epoch produced different rows " +
            "(non-deterministic source?); refusing to certify either " +
            "side")
      }
    }
    Avro.commitPart(fs, tmpPath, finalPath)
    AvroFleetCommitMessage(Seq(finalPath.toString ->
      Some(stats.result(fs.getFileStatus(finalPath).getLen))))
  }

  override def abort(): Unit = {
    if (w != null) { w.close(); w = null }
    fs.delete(tmpPath, false); ()
  }

  override def close(): Unit = if (w != null) { w.close(); w = null }
}

/** Clustered task writer (`option("clusterBy", col)`): routes each row
  * into one open container per distinct cluster-key value, so every
  * committed file holds EXACTLY ONE key value — the layout invariant
  * the read side turns into `KeyGroupedPartitioning` (its proof is the
  * file's sidecar min==max, which this writer produces by
  * construction). Same attempt-temp → rename commit per file; one
  * commit message carries all of the task's (file, stats) pairs.
  *
  * Scale: open-container count = distinct keys seen BY THIS TASK —
  * callers co-locate first (`df.repartition(n, $col)`) so each task
  * sees few keys; the cap below turns an accidental high-cardinality
  * key into an actionable error instead of an executor OOM. */
private[graft] class AvroFleetClusteredWriter(schemaJson: String,
    names: Array[String], types: Array[DataType], dir: String, pid: Int,
    taskId: Long, jobTag: String, conf: SerializableHadoopConf,
    clusterIdx: Int, codec: String = "")
    extends DataWriter[InternalRow] {

  import org.apache.avro.file.{CodecFactory, DataFileWriter}
  import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

  private val MaxOpenKeys = 256

  private val schema = new Schema.Parser().parse(schemaJson)
  private val fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(conf.value)
  private val getters: Array[InternalRow => AnyRef] =
    types.zipWithIndex.map { case (dt, i) => AvroFleetDataWriter.getter(dt, i) }

  private final class Sink(idx: Int) {
    val finalPath = new org.apache.hadoop.fs.Path(
      f"$dir/part-$pid%05d-g$idx%04d-$jobTag.avro")
    val tmpPath = new org.apache.hadoop.fs.Path(
      f"$dir/.part-$pid%05d-g$idx%04d-$jobTag-attempt-$taskId.avro.tmp")
    val stats = new FleetStats.Collector(
      StructType(names.zip(types).map { case (n, t) => StructField(n, t) }))
    val w: DataFileWriter[GenericRecord] =
      new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        .setCodec(AvroFleetDataWriter.codecFor(codec))
        .create(schema, fs.create(tmpPath, true))
  }

  // key = the cluster column's avro-carrier value (null allowed: a
  // null-keyed file groups under the null partition key)
  private val sinks = scala.collection.mutable.LinkedHashMap[Any, Sink]()

  override def write(row: InternalRow): Unit = {
    val key: Any =
      if (row.isNullAt(clusterIdx)) null else getters(clusterIdx)(row)
    val sink = sinks.getOrElseUpdate(key, {
      require(sinks.size < MaxOpenKeys,
        s"clusterBy key exceeded $MaxOpenKeys distinct values in one " +
          "task — repartition by the cluster column first " +
          "(df.repartition(n, col)) or pick a lower-cardinality key")
      new Sink(sinks.size)
    })
    val rec = new GenericData.Record(schema)
    sink.stats.startRow()
    var i = 0
    while (i < names.length) {
      val v = if (row.isNullAt(i)) null else getters(i)(row)
      sink.stats.observe(i, v)
      rec.put(names(i), v)
      i += 1
    }
    sink.w.append(rec)
  }

  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def commit(): WriterCommitMessage = {
    // An all-empty job must still leave one schema-bearing container —
    // the plain writer's ensureOpen() guarantee (a fleet of only
    // _SUCCESS/_stats would fail read-side schema inference). A no-row
    // file carries rows=0 sidecar stats, which the SPJ read side
    // already excludes from key grouping, so the layout proof is
    // unaffected.
    if (sinks.isEmpty) sinks.getOrElseUpdate(None, new Sink(0))
    val parts = sinks.values.toSeq.map { s =>
      s.w.close()
      Avro.commitPart(fs, s.tmpPath, s.finalPath)
      s.finalPath.toString ->
        Some(s.stats.result(fs.getFileStatus(s.finalPath).getLen))
    }
    sinks.clear()
    AvroFleetCommitMessage(parts)
  }

  override def abort(): Unit = {
    sinks.values.foreach { s =>
      try s.w.close() catch { case _: Throwable => () }
      fs.delete(s.tmpPath, false)
    }
    sinks.clear()
  }

  override def close(): Unit = {
    sinks.values.foreach(s => try s.w.close() catch { case _: Throwable => () })
  }
}

private[graft] object AvroFleetDataWriter {
  import org.apache.avro.file.CodecFactory

  /** Write-codec option (`option("codec", ...)`): "deflate" /
    * "deflate-N" (N ∈ 1..9) / "null". Default stays deflate-6 — the
    * archival profile; a streaming sink that lands many small
    * micro-batches picks "deflate-1" to trade ~15% size for ~3×
    * faster compression on the hot path. Validated DRIVER-SIDE at
    * plan time (call once in the WriteBuilder) so a typo fails before
    * any task launches; writers re-derive the factory from the
    * validated spec because CodecFactory itself is not serializable. */
  def codecFor(spec: String): CodecFactory = spec match {
    case null | "" | "deflate" => CodecFactory.deflateCodec(6)
    case "null" => CodecFactory.nullCodec()
    case s if s.startsWith("deflate-") =>
      val lvl = s.stripPrefix("deflate-").toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"unknown graft-avro codec '$s' (use deflate, deflate-N with " +
            "N in 1..9, null)"))
      require(lvl >= 1 && lvl <= 9, s"deflate level $lvl out of 1..9")
      CodecFactory.deflateCodec(lvl)
    case other => throw new IllegalArgumentException(
      s"unknown graft-avro codec '$other' (use deflate, deflate-N, null)")
  }

  /** Catalyst internal value → the avro carrier for that Spark type
    * (dates stay epoch-day ints, timestamps stay µs longs — exactly
    * the logical-type spelling `Avro.toAvroSchema` declares). */
  def getter(dt: DataType, i: Int): InternalRow => AnyRef = dt match {
    case StringType => r => r.getUTF8String(i).toString
    case LongType | TimestampType => r => Long.box(r.getLong(i))
    case IntegerType | DateType => r => Int.box(r.getInt(i))
    case ShortType => r => Int.box(r.getShort(i).toInt)
    case ByteType => r => Int.box(r.getByte(i).toInt)
    case DoubleType => r => Double.box(r.getDouble(i))
    case FloatType => r => Float.box(r.getFloat(i))
    case BooleanType => r => Boolean.box(r.getBoolean(i))
    case BinaryType => r => java.nio.ByteBuffer.wrap(r.getBinary(i))
    case other => throw new IllegalArgumentException(
      s"unreachable: toAvroSchema admits no $other") // validated at plan time
  }
}

/** The job-level commit sequence SHARED by the batch write and the
  * streaming sink's per-epoch commit — ONE spelling of "the files and
  * their stats land in one manifest commit" so the two paths cannot
  * drift. `between` runs before the manifest (the batch write's
  * layout-marker step). The MANIFEST commit is the real commit point
  * ([[FleetManifest]]): it atomically adds this job's files with the
  * stats their tasks captured, removes `removeNames` (a copy-on-write
  * swap: ReplaceData / [[FleetMerge]] pass the replaced generation
  * here so readers never see both), or — `reset` — replaces the whole
  * list (TRUNCATE). `_SUCCESS` is still re-marked last for
  * manifest-unaware external consumers. */
private[sources] object AvroFleetCommits {
  /** Returns false when a writer-idempotence token (`txn`) found its
    * (appId, version) already in the manifest ledger — the job is a
    * REPLAY of a committed transaction; nothing was published and the
    * caller reaps its own staged files. The pre-check runs under the
    * commit lock before any side effect (same-JVM replays leave zero
    * residue — no marker touch); the authoritative in-loop check
    * inside [[FleetManifest.commit]] covers the cross-process race. */
  def commitFleet(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      messages: Array[WriterCommitMessage],
      between: () => Unit = () => (),
      removeNames: Set[String] = Set.empty,
      reset: Boolean = false,
      props: Map[String, String] = Map.empty,
      requireDvs: Map[String, Option[String]] = Map.empty,
      expectedVersion: Option[Long] = None,
      txn: Option[(String, Long)] = None,
      requireChecks: Option[Map[String, String]] = None): Boolean =
    FleetManifest.withCommitLock(f, p) {
      if (txn.exists { case (a, v) =>
        FleetManifest.txnApplied(f, p, a, v) }) false
      else
        try { commitFleetBody(f, p, messages, between, removeNames,
          reset, props, requireDvs, expectedVersion, txn,
          requireChecks); true }
        catch { case _: FleetTxnAlreadyAppliedException => false }
    }

  private def commitFleetBody(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      messages: Array[WriterCommitMessage],
      between: () => Unit,
      removeNames: Set[String],
      reset: Boolean,
      props: Map[String, String],
      requireDvs: Map[String, Option[String]],
      expectedVersion: Option[Long],
      txn: Option[(String, Long)],
      requireChecks: Option[Map[String, String]]): Unit = {
    between()
    // a reset (INSERT OVERWRITE / TRUNCATE) replaces the fleet's
    // contents wholesale — the ALTER-era schema marker describes the
    // pre-reset declared schema and must not shadow the new files'
    // writer schema (marker-clear rides the commit, not the job
    // start, so a crashed overwrite leaves an ALTERed fleet intact);
    // the inherited versioned-schema prop clears WITH it (the
    // empty-string sentinel), so post-reset generations declare the
    // new files' writer schema while pre-reset versions keep theirs
    if (reset) FleetSchemaMarker.clear(f, p)
    val effProps =
      if (reset) props + (FleetManifest.SchemaProp -> "") else props
    val parts = messages.toSeq.collect {
      case AvroFleetCommitMessage(ps) => ps.map { case (file, st) =>
        new org.apache.hadoop.fs.Path(file).getName -> st }
    }.flatten
    val added = parts.map(_._1)
    // conflict detection: the retired names must still be in the base
    // on EVERY commit attempt — two concurrent copy-on-write rewrites
    // of one file would otherwise both land their post-images and
    // duplicate its surviving rows. A loud FleetCommitConflictException
    // tells the loser to re-run its whole transaction.
    FleetManifest.commit(f, p,
      base =>
        if (reset) added
        else base.filterNot(removeNames) ++ added,
      bootstrap = rawDataFiles(f, p),
      props = effProps,
      requireInBase = if (reset) Set.empty else removeNames,
      expectedVersion = expectedVersion,
      // deletion-vector compare-and-set: a copy-on-write rewrite
      // states the bindings it READ its inputs under (absence
      // included) — a merge-on-read delete landing mid-job would
      // otherwise vanish with the swapped-out file while its rows
      // resurrect in the post-image
      requireDvs = requireDvs,
      txn = txn,
      requireChecks = requireChecks,
      stats = parts.collect { case (n, Some(ps)) => n -> ps }.toMap)
    f.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
  }

  /** THE raw data-file predicate for a fleet directory (final `.avro`
    * names, no hidden temps, no `_` sidecars) — the single spelling
    * every manifest-less fallback shares: the bootstrap commit here,
    * the streaming source's legacy listing, and `rewrite_files`'
    * legacy input ([[GraftProcedures]]). */
  private[sources] def dataFileStatuses(
      f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".avro") && !n.startsWith(".") &&
        !n.startsWith("_")
    }

  /** Raw data-file names for the first manifest commit into a
    * previously manifest-less directory — the legacy fleet's visible
    * set becomes generation 1's base (minus any files this very commit
    * replaces; the committed `added` list re-adds this job's files,
    * which are already on disk). */
  private def rawDataFiles(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    dataFileStatuses(f, p).map(_.getPath.getName)

  /** Job/epoch rollback: delete this tag's finals and temps, leaving
    * previous generations complete. `tag` must be embedded
    * unambiguously in the names (batch job tags are unique hashes;
    * epoch tags pass the ".avro"/"-attempt" suffixed forms). */
  def abortFleet(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, matches: String => Boolean): Unit =
    if (f.exists(p)) f.listStatus(p).foreach { st =>
      if (matches(st.getPath.getName)) f.delete(st.getPath, false)
    }
}

/** A task's committed files with their sidecar stats (one entry for
  * the plain writer, one per cluster-key value for the clustered
  * writer). */
private[graft] case class AvroFleetCommitMessage(
    parts: Seq[(String, Option[FleetStats.PartStats])])
    extends WriterCommitMessage

private[sources] class AvroFleetScanBuilder(fullSchema: StructType,
    path: String, maxFileBytes: Long, evolve: Boolean = false,
    clusterBy: Option[String] = None, clusterAuto: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    offsetInlineLimit: Int = 1000,
    versionAsOf: Option[Long] = None,
    maxFileAgeMs: Option[Long] = None,
    ignoreMissingFiles: Option[Boolean] = None,
    startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    cdc: Boolean = false,
    dvSpecs: Map[String, DvPartSpec] = Map.empty,
    branch: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownTopN {

  // in change-feed mode the trailing `_change_type` column is
  // SYNTHESIZED per partition — no pushdown that would reach the
  // per-file decode may reference it, and version-diff batches make
  // limit/TopN/aggregate short-circuits unsound across triggers
  private val dataSchema: StructType =
    if (cdc) StructType(fullSchema.filterNot(
      _.name == FleetCDC.ChangeTypeCol))
    else fullSchema

  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var countStars: Int = 0
  private var dvCountAdjust: Long = 0L
  private var metaCountAdjust: Long = 0L
  private var metaCountColAdjust: Map[String, Long] = Map.empty
  private var topN: Option[(Seq[TopNOrder], Int)] = None

  // the ONE resolved snapshot every scan this builder builds plans
  // from (files, vector bindings, counts — see [[FleetView]]); lazy,
  // so the streaming and change-feed paths, which plan from offsets,
  // never force it
  private lazy val view =
    FleetView.resolve(SparkSession.active, path, versionAsOf, branch)

  // Catalyst hands us the projected subset; empty projections (pure
  // count(*)) arrive as an empty struct — decode zero fields, keep rows
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // PARTIAL limit pushdown (the default isPartiallyPushed contract):
  // each read partition stops DECODING after `limit` records — a
  // head()/show() over a fleet costs O(limit) per task, not a full
  // decode — and Spark's own Limit on top enforces the global count
  override def pushLimit(l: Int): Boolean =
    if (cdc) false else { limit = Some(l); true }

  /** PARTIAL TopN pushdown — the `ORDER BY k LIMIT n` shape at fleet
    * scale: each read partition folds its decoded (post-filter) rows
    * through a BOUNDED n-row heap honoring direction and null
    * ordering, so a task ships n rows instead of its whole group and
    * Spark's final sort merges |partitions|·n rows instead of the
    * fleet. Accepted only when every sort key is a plain orderable
    * column — expression keys stay with Spark. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    val parsed = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            dataSchema.exists(f => f.name == nr.fieldNames()(0) &&
              FleetStats.trackableType(f.dataType)) =>
          Some(TopNOrder(nr.fieldNames()(0),
            so.direction() == SortDirection.ASCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (!cdc && l > 0 && parsed.nonEmpty && parsed.forall(_.isDefined)) {
      topN = Some((parsed.flatten, l))
      true
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  // FULL pushdown for the comparisons the record-level evaluator
  // handles faithfully (FleetFilters.supported); accepted filters
  // are absorbed — matching rows alone reach Catalyst — and the rest
  // stay residual for Spark to re-evaluate
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // a filter touching the synthesized `_change_type` stays with
    // Spark (dataSchema excludes it, so `supported` rejects it)
    val (ok, rest) =
      filters.partition(FleetFilters.supported(dataSchema, _))
    pushed = ok
    // ...but its EqualTo / In prunes whole tagged sides at planning
    if (cdc) changeTags = FleetCDC.tagsOf(rest)
    rest
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  private var changeTags: Set[String] = FleetCDC.tagsOf(Nil)

  /** Aggregate pushdown, two tiers (the avro twin of Spark's parquet
    * footer-aggregate pushdown):
    *
    * 1. METADATA tier — ungrouped, unfiltered MIN / MAX / COUNT(col) /
    *    COUNT(*) where EVERY fleet file carries a valid `_stats.json`
    *    entry (length-matched) covering every referenced column: the
    *    whole aggregate is answered from the sidecars at plan time —
    *    zero tasks open zero files. A column that dropped its stats
    *    (NaN) or a file without a sidecar disqualifies the tier, and
    *    the aggregate falls through.
    * 2. BLOCK-HEADER tier — all-COUNT(*) aggregates without stats
    *    coverage: each task walks its split's OCF block-count varints
    *    and skips the raw bytes still compressed (never decoding a
    *    record); Spark sums the per-split partials, so the count stays
    *    DISTRIBUTED over arbitrarily large fleets.
    *
    * Both decline when filters were pushed (aggregating then requires
    * decoding the filter columns — the row path handles that) or a
    * group-by is present (grouping needs the key decoded). */
  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.aggregateExpressions.isEmpty || cdc) return false
    // a per-read BRANCH scan gets the full tier treatment (r19 — the
    // blanket decline was backwards: the branch surface exists for
    // audit passes, which are COUNT/MIN/MAX-shaped): a branch HEAD is
    // just a snapshot, so every tier below plans from the builder's one
    // view of the branch head and its entries' stats by file name
    // exactly as on main
    // COLUMN-dependent tiers emit values in per-file carrier spelling
    // (sidecar stats, decode-time hashes) typed by a SINGLE pinned
    // schema; an evolved fleet mixes carriers across generations, so
    // those stay with Spark over the row path — which already
    // null-fills and widens per file. COUNT(*) is the exception
    // (refined r19): sidecar row counts and OCF block headers count
    // RECORDS regardless of writer schema, so an unfiltered ungrouped
    // count keeps its zero-task/O(headers) tier on an evolved fleet —
    // the audit query every just-evolved table gets.
    if (evolve) {
      val countStarOnly = agg.groupByExpressions.isEmpty &&
        agg.aggregateExpressions.forall(_.isInstanceOf[CountStar]) &&
        pushed.isEmpty
      if (!countStarOnly) return false
    }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0)).filter(c => fullSchema.exists(_.name == c))
      case _ => None
    }
    val specs: Seq[Option[MetaAggSpec]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(MetaAggSpec.CountStar)
        case c: Count if !c.isDistinct =>
          colOf(c.column).map(MetaAggSpec.CountCol)
        case m: Min => colOf(m.column).map(MetaAggSpec.MinCol)
        case m: Max => colOf(m.column).map(MetaAggSpec.MaxCol)
        case _ => None
      }

    // caller-passed per-file vectors (`dvSpec`: FleetMerge touched
    // loads, compact_vectors' rewrite) address EXPLICIT file paths the
    // manifest-derived handling below cannot see — the view binds no
    // vector to them. Spec-carrying reads keep the row path, which
    // applies each spec per task (r16 ADVICE).
    if (dvSpecs.nonEmpty) return false

    if (agg.groupByExpressions.nonEmpty) {
      // GROUPED tier (partial pushdown): every task aggregates its
      // split during the decode and emits one row per group — raw rows
      // never enter Catalyst — and a file whose sidecar PROVES it holds
      // a single group (every group column min==max, or all-null)
      // answers from metadata without being opened. Spark's rewritten
      // final aggregate merges the per-split partials (min-of-min /
      // max-of-max / sum-of-count), so semantics are exact for any
      // fleet; a group-PARTITIONED fleet (the common layout) hits the
      // metadata path for every file. ABSORBED filters compose: Spark
      // only attempts aggregate pushdown when no residual filter
      // remains, and the grouped scan honors the pushed set — skip-
      // proofs drop excluded files, `alwaysMatches` keeps the metadata
      // tier only where the filter can't reject a row, and the decode
      // tier evaluates the filter per record before aggregating (the
      // ts-range-rollup shape: most files skip or resolve from
      // sidecars, boundary files decode). DV-SOUND (r17): the planner
      // forces vectored files onto the decode tier, which skips
      // vectored positions per record, and only UNvectored files may
      // resolve from their sidecar row — the tier survives
      // merge-on-read fleets, decoding only the touched files.
      val ordered = (c: String) => FleetStats.trackableType(
        fullSchema(fullSchema.fieldIndex(c)).dataType)
      val groupCols = agg.groupByExpressions.toSeq.map(colOf)
      val aggColsOk = specs.flatten.forall {
        case MetaAggSpec.MinCol(c) => ordered(c)
        case MetaAggSpec.MaxCol(c) => ordered(c)
        case _ => true
      }
      if (specs.forall(_.isDefined) && aggColsOk &&
          groupCols.forall(_.exists(ordered))) {
        groupAgg = Some((groupCols.flatten, specs.flatten))
        return true
      }
      return false
    }

    // the ungrouped tiers answer from sidecars / block headers alone —
    // neither can honor a filter, so they require an unfiltered scan
    // (a filtered ungrouped aggregate takes the absorbed-filter row
    // path and aggregates above it)
    if (pushed.nonEmpty) return false

    // DELETION VECTORS make sidecar min/max/null counts and
    // block-header counts stale (they include deleted rows). The
    // view's bindings carry each vector's count (r18): planning a
    // COUNT(*) on a 100k-vectored-file fleet is zero vector-file I/O;
    // only a LEGACY binding (pre-meta commit) pays its one header read.
    val dvs = view.dvs
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    lazy val totalDeleted =
      dvs.keysIterator.map(view.deletedRows(fs, _)).sum
    // METADATA tier — one coverage check, with or without vectors:
    // every file's sidecar entry covers every referenced column. On a
    // vectored fleet (r17, the r16 verdict's #5) three shapes stay
    // exactly answerable without opening a file —
    //  - COUNT(*): raw row total − total vectored positions (each a
    //    distinct existing row);
    //  - MIN/MAX(c): the sidecar extremum stands whenever SOME file
    //    ATTAINING it carries no vector — that file still holds a live
    //    row equal to the extremum, and deletions elsewhere only
    //    remove candidates, never add them — or its binding's captured
    //    deleted values are strictly interior (r18). A delete that may
    //    have removed the extremum declines (the row path, which
    //    applies vectors per task, answers);
    //  - COUNT(col): corrected by the bindings' captured per-column
    //    non-null deleted counts (r18) — decidable exactly when EVERY
    //    binding carries captured stats; otherwise it declines (the
    //    deleted rows' null profile is unknown).
    val flat = specs.flatten
    val countColsWanted = flat.collect {
      case MetaAggSpec.CountCol(c) => c }.distinct
    val countColsOk = countColsWanted.isEmpty ||
      dvs.valuesIterator.forall(_._2.exists(_.stats.isDefined))
    if (specs.forall(_.isDefined) && countColsOk) {
      val stats = view.stats(fs)
      val entries = view.files.map(f => stats.get(f.getPath.toString))
      val cols = flat.collect {
        case MetaAggSpec.CountCol(c) => c
        case MetaAggSpec.MinCol(c) => c
        case MetaAggSpec.MaxCol(c) => c
      }.distinct
      val covered = entries.forall(_.isDefined) &&
        entries.flatten.forall(e => cols.forall(e.cols.contains))
      // a VECTORED attaining file still proves the extremum live when
      // its binding's manifest meta captured the deleted values and
      // they are STRICTLY interior. Deleted max == extremum is the
      // unknowable boundary: decline.
      def vectorMissedExtremum(fp: String, c: String,
          isMin: Boolean, ext: Any): Boolean =
        dvs.get(fp).flatMap(_._2).flatMap(_.stats).exists {
          st => st.get(c) match {
            case None => true // no non-null deleted value of c
            case Some(cs) =>
              val v = if (isMin) cs.min else cs.max
              FleetStats.comparable(v, ext) &&
                (if (isMin) FleetFilters.cmp(v, ext) > 0
                 else FleetFilters.cmp(v, ext) < 0)
          }
        }
      def extremumSurvives(c: String, isMin: Boolean): Boolean = {
        val bounds = view.files.zip(entries.flatten).flatMap {
          case (st, e) =>
            (if (isMin) e.cols(c).min else e.cols(c).max)
              .map(st.getPath.toString -> _)
        }
        bounds.isEmpty || {
          // an all-null-c fleet answers NULL regardless of vectors
          val ext = bounds.map(_._2).reduce((a, b) =>
            if ((FleetFilters.cmp(a, b) <= 0) == isMin) a else b)
          bounds.exists { case (fp, v) =>
            FleetFilters.cmp(v, ext) == 0 && (!dvs.contains(fp) ||
              vectorMissedExtremum(fp, c, isMin, ext)) }
        }
      }
      def minMaxOk = dvs.isEmpty || flat.forall {
        case MetaAggSpec.MinCol(c) => extremumSurvives(c, isMin = true)
        case MetaAggSpec.MaxCol(c) => extremumSurvives(c, isMin = false)
        case _ => true
      }
      if (covered && minMaxOk) {
        metaAgg = Some((flat, entries.flatten))
        metaCountAdjust = totalDeleted
        // per-column COUNT(col) correction: total deleted NON-NULL
        // values of c across every binding's captured stats (an
        // absent column = 0 — no non-null value was deleted)
        metaCountColAdjust = countColsWanted.map { c =>
          c -> dvs.valuesIterator.map {
            case (_, Some(m)) => m.stats
              .flatMap(_.get(c)).map(_.nonNull).getOrElse(0L)
            case _ => 0L
          }.sum
        }.toMap
        return true
      }
    }
    // BLOCK-HEADER tier: counts need no stats, only OCF framing; on a
    // vectored fleet it adds one constant correction partial
    // (CountAdjustPartition) — distributed over splits, O(headers)
    val allCounts =
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])
    if (allCounts) {
      countStars = agg.aggregateExpressions.length
      dvCountAdjust = totalDeleted
    }
    allCounts
  }

  private var metaAgg
      : Option[(Seq[MetaAggSpec], Seq[FleetStats.PartStats])] = None
  private var groupAgg: Option[(Seq[String], Seq[MetaAggSpec])] = None

  override def build(): Scan = (groupAgg, metaAgg) match {
    case (Some((gcols, specs)), _) =>
      new AvroFleetGroupAggScan(fullSchema, path, maxFileBytes, gcols,
        specs, pushed, view)
    case (_, Some((specs, entries))) =>
      new AvroFleetMetaAggScan(fullSchema, path, specs, entries,
        countAdjust = metaCountAdjust,
        countColAdjust = metaCountColAdjust)
    case _ if countStars > 0 =>
      new AvroFleetCountScan(fullSchema, path, maxFileBytes, countStars,
        view, dvAdjust = dvCountAdjust)
    case _ =>
      new AvroFleetScan(fullSchema, required, path, maxFileBytes, view,
        limit, pushed, topN, evolve, clusterBy, clusterAuto = clusterAuto,
        maxFilesPerTrigger = maxFilesPerTrigger,
        maxVersionsPerTrigger = maxVersionsPerTrigger,
        offsetInlineLimit = offsetInlineLimit,
        maxFileAgeMs = maxFileAgeMs,
        ignoreMissingFiles = ignoreMissingFiles,
        startingVersion = startingVersion,
        endingVersion = endingVersion,
        aliases = aliases,
        cdc = cdc,
        changeTags = changeTags,
        dvSpecs = dvSpecs,
        branch = branch)
  }
}

/** One pushed sort key: column, ascending?, nulls-first?. */
private[sources] case class TopNOrder(col: String, asc: Boolean,
    nullsFirst: Boolean)

/** The ungrouped aggregate shapes the sidecar stats can answer. */
private[sources] sealed trait MetaAggSpec
private[sources] object MetaAggSpec {
  case object CountStar extends MetaAggSpec
  final case class CountCol(col: String) extends MetaAggSpec
  final case class MinCol(col: String) extends MetaAggSpec
  final case class MaxCol(col: String) extends MetaAggSpec
}

/** Metadata-tier aggregate scan: the values were already resolved from
  * the files' stats at pushdown time, so the "scan" is one
  * partition emitting one exact row — no file is ever opened. The row
  * is handed to Spark through the standard partial-aggregate contract
  * (final MIN-of-min / MAX-of-max / SUM-of-count over a single row is
  * the identity), so plan shape stays the documented pushdown form. */
private[sources] class AvroFleetMetaAggScan(tableSchema: StructType,
    path: String, specs: Seq[MetaAggSpec],
    entries: Seq[FleetStats.PartStats],
    countAdjust: Long = 0L,
    countColAdjust: Map[String, Long] = Map.empty)
    extends Scan with Batch {

  import MetaAggSpec._

  override def readSchema(): StructType = StructType(specs.zipWithIndex.map {
    case (CountStar, i) =>
      StructField(s"count_star_$i", LongType, nullable = false)
    case (CountCol(c), i) =>
      StructField(s"count_${c}_$i", LongType, nullable = false)
    case (MinCol(c), i) =>
      StructField(s"min_${c}_$i",
        tableSchema(tableSchema.fieldIndex(c)).dataType)
    case (MaxCol(c), i) =>
      StructField(s"max_${c}_$i",
        tableSchema(tableSchema.fieldIndex(c)).dataType)
  })

  override def description(): String =
    s"graft-avro $path PushedAggregation(metadata): [" + specs.map {
      case CountStar => "COUNT(*)"
      case CountCol(c) => s"COUNT($c)"
      case MinCol(c) => s"MIN($c)"
      case MaxCol(c) => s"MAX($c)"
    }.mkString(", ") + "]"

  override def toBatch: Batch = this

  // resolved driver-side; min/max fold with the shared comparator over
  // each file's recorded bounds (all-null files contribute nothing)
  private def value(spec: MetaAggSpec): Any = spec match {
    // countAdjust: a vectored fleet's total deleted positions — each
    // a distinct existing row — so the sidecar total corrects exactly
    case CountStar => Long.box(entries.map(_.rows).sum - countAdjust)
    case CountCol(c) =>
      // countColAdjust: on a vectored fleet, the deleted NON-NULL
      // values of c (from the bindings' captured stats) — each a
      // distinct existing non-null row, so the sidecar total corrects
      // exactly (r18)
      Long.box(entries.map(e => e.rows - e.cols(c).nulls).sum -
        countColAdjust.getOrElse(c, 0L))
    case MinCol(c) =>
      entries.flatMap(_.cols(c).min)
        .reduceOption((a, b) => if (FleetFilters.cmp(a, b) <= 0) a else b)
        .orNull
    case MaxCol(c) =>
      entries.flatMap(_.cols(c).max)
        .reduceOption((a, b) => if (FleetFilters.cmp(a, b) >= 0) a else b)
        .orNull
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaAggPartition(specs.zipWithIndex.map { case (sp, i) =>
      AvroFleetMetaAggScan.toCatalystAs(value(sp),
        readSchema().fields(i).dataType)
    }.toArray))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] = {
        val vals = p.asInstanceOf[MetaAggPartition].values
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow = new GenericInternalRow(vals)
          override def close(): Unit = ()
        }
      }
    }
}

/** The one meta-agg row, already in catalyst spelling. */
private[sources] case class MetaAggPartition(values: Array[Any])
    extends InputPartition

private[sources] object AvroFleetMetaAggScan {
  /** Sidecar JSON carrier (Long/Double/Boolean/String after parse) →
    * the catalyst-internal value of the column's Spark type. Numeric
    * narrowing is exact: the JSON widening (int-family → Long,
    * float-family → Double) is lossless, so narrowing back inverts it. */
  def toCatalystAs(v: Any, dt: DataType): Any = v match {
    case null => null
    case n: Number => dt match {
      case LongType => Long.box(n.longValue())
      case IntegerType => Int.box(n.intValue())
      case ShortType => Short.box(n.shortValue())
      case ByteType => Byte.box(n.byteValue())
      case DoubleType => Double.box(n.doubleValue())
      case FloatType => Float.box(n.floatValue())
      // temporal stats are carrier integers, which ARE the catalyst
      // internal spellings (µs long / day int) — identity re-box
      case TimestampType => Long.box(n.longValue())
      case DateType => Int.box(n.intValue())
      case other => throw new IllegalStateException(
        s"numeric stat for non-numeric column type $other")
    }
    case s: String => UTF8String.fromString(s)
    case b: java.lang.Boolean => b
    case other => throw new IllegalStateException(
      s"untracked stat carrier: ${other.getClass}")
  }
}


private[sources] class AvroFleetScan(fullSchema: StructType,
    required: StructType, path: String, maxFileBytes: Long,
    resolveView: => FleetView,
    limit: Option[Int],
    pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    topN: Option[(Seq[TopNOrder], Int)] = None,
    evolve: Boolean = false,
    clusterBy: Option[String] = None,
    groupFilterOnly: Boolean = false,
    onPlanned: Seq[String] => Unit = null,
    onPlannedDvs: Map[String, Option[String]] => Unit = null,
    clusterAuto: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    offsetInlineLimit: Int = 1000,
    maxFileAgeMs: Option[Long] = None,
    ignoreMissingFiles: Option[Boolean] = None,
    startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    cdc: Boolean = false,
    changeTags: Set[String] = FleetCDC.tagsOf(Nil),
    dvSpecs: Map[String, DvPartSpec] = Map.empty,
    branch: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = required

  // ONE session Hadoop conf per scan (a fresh copy of the ~1,100-entry
  // session conf costs ~0.2 ms): the driver-side sidecar and vector
  // reads and the conf shipped to readers all share it
  private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  override def description(): String =
    s"graft-avro $path ReadSchema: ${required.catalogString}" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      topN.map { case (os, l) => s", PushedTopN: [" +
        os.map(o => s"${o.col} ${if (o.asc) "ASC" else "DESC"} " +
          s"NULLS ${if (o.nullsFirst) "FIRST" else "LAST"}")
          .mkString(", ") + s"] LIMIT $l" }.getOrElse("") +
      (if (pushedFilters.isEmpty) ""
       else s", PushedFilters: [${pushedFilters.mkString(", ")}]")

  override def toBatch: Batch = this

  // set when the scan becomes a stream (the engine prices every
  // micro-batch through this same scan's estimateStatistics)
  @volatile private var streaming = false

  /** Streaming read (`spark.readStream.format("graft-avro")`): the
    * fleet as a tailed source — see [[AvroFleetMicroBatchStream]].
    * Column pruning and pushed row filters carry over from this
    * (already-pruned) scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(endingVersion.isEmpty,
      "endingVersion/endingTimestamp bound a BATCH change-feed range " +
        "(spark.read); a stream is unbounded — stop it, or drain to " +
        "now with Trigger.AvailableNow")
    streaming = true
    if (cdc)
      new AvroFleetCdcMicroBatchStream(
        StructType(fullSchema.filterNot(_.name == FleetCDC.ChangeTypeCol)),
        required.fieldNames, path, maxFileBytes, pushedFilters,
        new SerializableHadoopConf(hadoopConf),
        evolve = evolve,
        startingVersion = startingVersion,
        aliases = aliases,
        branch = branch,
        maxVersionsPerTrigger = maxVersionsPerTrigger,
        changeTags = changeTags)
    else new AvroFleetMicroBatchStream(fullSchema, required.fieldNames, path,
      maxFileBytes, pushedFilters,
      new SerializableHadoopConf(hadoopConf),
      maxFilesPerTrigger, evolve = evolve,
      checkpointLocation = checkpointLocation,
      offsetInlineLimit = offsetInlineLimit,
      maxFileAgeMs = maxFileAgeMs,
      ignoreMissingFiles = ignoreMissingFiles,
      startingVersion = startingVersion,
      aliases = aliases,
      branch = branch)
  }

  /** BATCH change-feed range (r19): `spark.read` + `readChangeFeed` +
    * `startingVersion`/`startingTimestamp` (+ optional
    * `endingVersion`/`endingTimestamp`, default = the head), planned
    * once by the streaming feed's planner ([[FleetCDC.plan]]) for both
    * the size estimate and the partitions — never from the CURRENT
    * fleet's view. */
  private lazy val cdcPartitions: Seq[FleetCdcPartition] = {
    val from = startingVersion.getOrElse(throw new
        IllegalArgumentException(
      "a batch readChangeFeed needs a range start — " +
        "option(\"startingVersion\", v) (0 replays the full retained " +
        "history) or option(\"startingTimestamp\", ...); for the " +
        "current STATE read the fleet without readChangeFeed"))
    val p0 = new org.apache.hadoop.fs.Path(path)
    val f = p0.getFileSystem(hadoopConf)
    val cur = FleetCDC.head(f, p0, branch)
    if (endingVersion.exists(_ > cur))
      throw new IllegalArgumentException(
        s"endingVersion=${endingVersion.get}: fleet at $path is at " +
          s"v$cur — the range end does not exist yet")
    val to = endingVersion.getOrElse(cur)
    require(to >= from,
      s"readChangeFeed range is inverted: startingVersion=$from > " +
        s"endingVersion=$to")
    FleetCDC.plan(f, p0, from, to, branch, maxFileBytes, changeTags,
      pushedFilters.toSeq)
  }

  // the builder's ONE resolved snapshot: the files (oversized ones are
  // not rejected here — they are SPLIT below), the reader's vector
  // instructions (dvByPath), the row-count math (dvCounts) and the
  // commit-time compare-and-set report (dvRelByName) all derive from
  // it. Deriving them from separate reads would let a merge-on-read
  // delete land in between — the tasks would read under the old
  // binding while the CAS validates the new one, and the swap would
  // silently drop the delete
  private lazy val view = resolveView

  // per-file stats of the same snapshot as the files
  private lazy val fleetStats = view.stats(
    new org.apache.hadoop.fs.Path(path).getFileSystem(hadoopConf))

  // deletion-vector instructions per full data path: the view's
  // bindings plus any caller-passed `dvSpec` entries (keyed by file
  // NAME — explicit-path loads whose vectors the view does not bind);
  // empty on vector-less fleets, costing nothing
  private lazy val dvByPath: Map[String, DvPartSpec] = {
    val fromManifest = view.dvs.map { case (f, (dv, _)) =>
      f -> DvPartSpec(dv) }
    if (dvSpecs.isEmpty) fromManifest
    else fromManifest ++ view.files.flatMap { st =>
      dvSpecs.get(st.getPath.getName).map(st.getPath.toString -> _)
    }
  }

  // per-file DELETED counts — lets row-count math stay exact under
  // vectors. Manifest-carried meta serves them with zero vector I/O
  // (r18); only legacy bindings and caller-passed dvSpec entries pay
  // one tiny header read each
  private lazy val dvCounts: Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hadoopConf)
    dvByPath.map { case (f, spec) =>
      // a caller-passed dvSpec may bind a DIFFERENT vector than the
      // manifest's — its count must come from its own header, never
      // the manifest meta
      f -> (if (dvSpecs.contains(new org.apache.hadoop.fs.Path(f).getName))
              FleetDv.countAt(fs, new org.apache.hadoop.fs.Path(spec.newDv))
            else view.deletedRows(fs, f))
    }
  }

  /** Planning-time data skipping: when filters were pushed, every part
    * file whose recorded min/max/null profile PROVES a pushed conjunct
    * can never match is dropped here — no task, no open, no header
    * read — which at fleet scale turns a selective filter from
    * "evaluated at decode speed in every task" into "most of the fleet
    * never scheduled". Sound because the skip evaluator shares
    * `FleetFilters`' comparator with the row-level path, entries apply
    * only while the file length matches the committed one, and files
    * without stats are always read. Shared by the size estimate and
    * partition planning so the planner prices the scan it will run. */
  private def surviving(
      filters: Seq[org.apache.spark.sql.sources.Filter]) =
    if (filters.isEmpty) view.files
    else view.files.filterNot { st =>
      fleetStats.get(st.getPath.toString).exists(ps =>
        filters.exists(FleetStats.neverMatches(_, ps)))
    }

  private lazy val survivors = surviving(pushedFilters.toSeq)

  /** DPP for fleets (`SupportsRuntimeFiltering`): a join against a
    * filtered dimension hands this scan the build side's key set at
    * RUNTIME as an `In` filter; files whose sidecar bounds exclude
    * every key are dropped before tasks launch — the DSv2 analogue of
    * dynamic partition pruning, except the "partitions" are part
    * files. Runtime filters only SKIP files (rows are not re-filtered:
    * the join itself discards non-matching rows, and a huge runtime
    * key set evaluated per row would cost more than it saves). Only
    * PROJECTED columns are advertised — Spark resolves these refs
    * against the scan's pruned output (a join key is always projected,
    * so nothing is lost). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (groupFilterOnly)
      // row-level scan: advertise ONLY `_file`, the group identity —
      // the runtime-group-filter rule builds its pruning key over ALL
      // advertised attributes, and a multi-column struct-IN cannot
      // convert to a V1 source filter (it would arrive unusable); a
      // single-column In(_file) converts and prunes to the exact
      // matched-file list
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(AvroFleetTable.FileMetaCol))
    else
      required.fields.filter(f => FleetStats.trackableType(f.dataType))
        .map(f => org.apache.spark.sql.connector.expressions.Expressions
          .column(f.name))

  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  /** Runtime `In(_file, ...)` — the row-level operations' GROUP filter
    * (RowLevelOperationRuntimeGroupFiltering collects the matched
    * rows' `_file` metadata values): resolves to an EXACT file list,
    * so only containers proven to hold a matching row are read — and,
    * through `onPlanned`, rewritten. */
  private var runtimeFileSet: Option[Set[String]] = None

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val (fileFs, rest) = filters.partition {
      case org.apache.spark.sql.sources.In(col, _) =>
        col == AvroFleetTable.FileMetaCol &&
          !fullSchema.fieldNames.contains(AvroFleetTable.FileMetaCol)
      case _ => false
    }
    if (fileFs.nonEmpty)
      runtimeFileSet = Some(fileFs.flatMap {
        case org.apache.spark.sql.sources.In(_, vs) =>
          vs.collect {
            case s: String => s
            case u: UTF8String => u.toString
          }
      }.toSet)
    runtimeFilters = rest.filter(FleetFilters.supported(fullSchema, _))
  }

  /** Planner-grade size estimate: without it DSv2 falls back to
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue) and a 2 MB
    * dimension fleet NEVER auto-broadcasts in a join. The estimate is
    * the POST-SKIP fleet's on-disk bytes scaled by the
    * projected-column fraction (reader-schema pruning skip-decodes the
    * rest, so pruned bytes are genuinely never materialized), floored
    * at one column so a count(*) scan can't report size 0 — so a
    * selective filter over range-partitioned parts shrinks the scan in
    * the planner's eyes too, exactly like parquet partition pruning.
    * Deflated avro understates in-memory row width the same way
    * parquet's file-size estimate does — fine for the
    * broadcast-threshold decision this feeds. `numRows` is the
    * surviving files' recorded row total when every one carries stats
    * (an upper bound under pushed filters, exact without them). A
    * change-feed range prices its change splits instead. A STREAM
    * (change feed or file tail, priced every micro-batch) reports no
    * size: the whole current fleet's bytes describe no one batch. */
  override def estimateStatistics(): Statistics = {
    if (streaming) return new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
    val totalBytes =
      if (cdc) cdcPartitions.iterator.map(_.group.splits.map(_.length).sum).sum
      else survivors.map(_.getLen).sum
    val frac =
      if (fullSchema.isEmpty) 1.0
      else math.max(required.size, 1).toDouble / fullSchema.size
    val size = math.max(1L, math.ceil(totalBytes * frac).toLong)
    val rows =
      if (cdc) java.util.OptionalLong.empty()
      else if (survivors.forall(st =>
          fleetStats.contains(st.getPath.toString)))
        java.util.OptionalLong.of(
          survivors.map { st =>
            val p = st.getPath.toString
            // deletion-vector positions are distinct existing rows, so
            // the subtraction keeps the no-filter count exact
            fleetStats(p).rows - dvCounts.getOrElse(p, 0L)
          }.sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Sidecar-assisted TopN file pruning: file F never reaches the top
    * n when OTHER stats-covered files already hold ≥ n rows that each
    * provably sort before EVERY row of F — for the leading sort key,
    * a file G whose worst bound (min under DESC, max under ASC) is
    * strictly better than F's best bound beats F row-for-row, and
    * under NULLS FIRST G's null rows beat F's non-nulls too. Strict
    * bound comparison makes tie-break keys irrelevant; F with nulls is
    * undroppable under NULLS FIRST (its nulls are top candidates);
    * files without stats neither drop nor count (conservative). On a
    * fleet laid down in key order — the time-series layout — a top-n
    * by ts opens only the newest file(s). */
  private def topNPrune(base: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.hadoop.fs.FileStatus] = topN match {
    case Some((orders, n))
        if pushedFilters.isEmpty && runtimeFilters.isEmpty =>
      val o = orders.head
      def entry(st: org.apache.hadoop.fs.FileStatus) =
        fleetStats.get(st.getPath.toString)
          .flatMap(ps => ps.cols.get(o.col).map(ps -> _))
      base.filterNot { st =>
        entry(st) match {
          case Some((_, csF)) =>
            val fBest = if (o.asc) csF.min else csF.max
            val nullsBlock = o.nullsFirst && csF.nulls > 0
            fBest match {
              case Some(fb) if !nullsBlock =>
                val beating = base.iterator.filter(_ ne st)
                  .map { g =>
                    entry(g) match {
                      case Some((psG, csG)) =>
                        val gWorst = if (o.asc) csG.max else csG.min
                        val nonNull = psG.rows - csG.nulls
                        val beatsAll = gWorst.exists(gw =>
                          FleetStats.comparable(gw, fb) &&
                            (if (o.asc) FleetFilters.cmp(gw, fb) < 0
                             else FleetFilters.cmp(gw, fb) > 0))
                        val raw = (if (beatsAll) nonNull else 0L) +
                          (if (o.nullsFirst) csG.nulls else 0L)
                        // a deletion vector shrinks G's live rows by
                        // exactly its count; subtracting it from the
                        // guaranteed-beating total keeps the exclusion
                        // sound (stale sidecar counts include deleted
                        // rows)
                        math.max(0L, raw -
                          dvCounts.getOrElse(g.getPath.toString, 0L))
                      case None => 0L
                    }
                  }.sum
                beating >= n
              case _ => false
            }
          case _ => false
        }
      }
    case _ => base
  }

  /** Storage-partitioned-join support: when the caller declares
    * `option("clusterBy", col)` and every surviving non-empty file
    * PROVES it holds exactly one value of `col` (sidecar min==max with
    * zero nulls, or all-null ⇒ the null key — the invariant the
    * clustered writer produces by construction), the scan groups files
    * by key and reports `KeyGroupedPartitioning`. Two fleets laid out
    * this way join on the key with NO exchange — the DSv2 analogue of
    * Hive-bucketed co-location, except the proof travels in the data's
    * own sidecars instead of metastore bucket specs. Any file that
    * cannot prove its key (no sidecar, min≠max, stale length) makes
    * the WHOLE grouping lapse to Unknown — a silent wrong grouping
    * would mis-join; a lapsed one only re-shuffles. */
  private lazy val clusterGroups
      : Option[Seq[(Any, Seq[org.apache.hadoop.fs.FileStatus])]] =
    clusterBy.flatMap { col =>
      if (cdc || evolve || !fullSchema.fieldNames.contains(col)) None
      else {
        val nonEmpty = survivors.filter { st =>
          fleetStats.get(st.getPath.toString).forall(_.rows > 0)
        }
        val keyed = nonEmpty.map { st =>
          fleetStats.get(st.getPath.toString).flatMap { ps =>
            ps.cols.get(col).flatMap { cs =>
              if (cs.nulls == ps.rows) Some(null.asInstanceOf[Any] -> st)
              else if (cs.nulls == 0 && cs.min.isDefined &&
                  cs.min == cs.max) Some(cs.min.get -> st)
              else None
            }
          }
        }
        if (keyed.exists(_.isEmpty)) None
        else {
          val groups = keyed.flatten
            .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
            .sortBy { case (k, _) => String.valueOf(k) }
          // marker-driven (AUTO) grouping caps read parallelism at the
          // key count, so it only engages while the layout is
          // compaction-tight (≤ 4 files/key on average) — on a
          // fragmented fleet the lost parallelism of a plain scan
          // outweighs a saved join exchange. An EXPLICIT
          // option("clusterBy") is an informed request and always
          // groups.
          if (clusterAuto && nonEmpty.size > 4 * groups.size) None
          else Some(groups)
        }
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    clusterGroups match {
      case Some(groups) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity(clusterBy.get)),
            groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** With key-grouping active, every row of a partition carries the
    * SAME cluster-key value, so the data is trivially sorted on the
    * key in any row order — reporting that ordering lets the planner
    * drop the SortExec under a merge join too, leaving the SPJ plan
    * with neither exchange nor sort on the key side. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterGroups match {
      case Some(_) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(clusterBy.get),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case None => Array.empty
    }

  override def planInputPartitions(): Array[InputPartition] =
    if (cdc) cdcPartitions.toArray[InputPartition]
    else clusterGroups match {
      case Some(groups) =>
        // grouped mode: one partition per key holding ALL of the key's
        // splits. Runtime-filter/topN file pruning is bypassed — it
        // could drop a whole key and contradict the partitioning
        // already reported to the planner; pushed-filter skipping
        // (already inside `survivors`) ran before grouping, so the
        // report and the plan agree.
        val dt = fullSchema(fullSchema.fieldIndex(clusterBy.get)).dataType
        groups.map { case (k, files) =>
          AvroClusterPartition(k, dt,
            AvroFleetScan.planSplits(files, maxFileBytes, dvByPath))
        }.toArray[InputPartition]
      case None =>
        val base = topNPrune(surviving(pushedFilters.toSeq ++ runtimeFilters))
        val files = runtimeFileSet match {
          case Some(set) => base.filter(st => set(st.getPath.toString))
          case None => base
        }
        // group-replacement protocol (row-level DELETE/UPDATE/MERGE):
        // the files this scan finally plans — post static sidecar skip
        // AND post runtime group filter — ARE the replaced group set
        // the paired write deletes on commit; report them here, the
        // one point where the final selection is known
        if (onPlanned != null) onPlanned(files.map(_.getPath.toString))
        if (onPlannedDvs != null) onPlannedDvs(files.map(st =>
          st.getPath.getName ->
            view.dvRelByName.get(st.getPath.getName)).toMap)
        AvroFleetScan.planGroups(files, maxFileBytes, dvByPath)
          .toArray[InputPartition]
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    if (cdc)
      // batch change-feed range: the stream's own reader pairing —
      // `_change_type` synthesized per partition over the pruned read
      return new FleetCdcReaderFactory(
        StructType(fullSchema.filterNot(_.name == FleetCDC.ChangeTypeCol)),
        required.fieldNames, pushedFilters,
        new SerializableHadoopConf(hadoopConf),
        evolve, aliases)
    // a row-level-operation scan uses pushed filters ONLY to skip
    // whole files: its consumer (ReplaceData) must receive EVERY row
    // of every surviving group so survivors can be rewritten — a file
    // with one matching row still ships its other rows
    val rowFilters = if (groupFilterOnly) Array.empty[
      org.apache.spark.sql.sources.Filter] else pushedFilters
    new AvroFleetReaderFactory(fullSchema, required.fieldNames,
      limit, rowFilters,
      new SerializableHadoopConf(hadoopConf), topN,
      evolve, aliases)
  }
}

private[sources] object AvroFleetScan {
  /** The byte-range splits of `fleet`, in path order (listing order is
    * no contract); files over maxFileBytes become MULTIPLE byte-range
    * splits — the reader aligns each range to avro sync markers, so
    * one oversized external container file fans out across tasks
    * instead of either failing the ingest bound or straggling as one
    * giant task. Each split carries its file's plan-time length, so no
    * reader stats the file again. Every scan reads them packed
    * ([[planGroups]]). */
  def planSplits(fleet: Seq[org.apache.hadoop.fs.FileStatus],
      maxFileBytes: Long,
      dvByPath: Map[String, DvPartSpec] = Map.empty)
      : Seq[AvroFilePartition] =
    fleet.sortBy(_.getPath.toString).flatMap { st =>
      val len = st.getLen
      val n = math.max(1L, math.ceil(len.toDouble / maxFileBytes).toLong)
      val dv = dvByPath.get(st.getPath.toString)
      (0L until n).map { i =>
        AvroFilePartition(st.getPath.toString, i * maxFileBytes,
          if (i == n - 1) len else (i + 1) * maxFileBytes, len, dv)
      }
    }

  /** The pack width of `fleet` by Spark's own file-source rule:
    * `FilePartition.maxSplitBytes` — min(
    * `spark.sql.files.maxPartitionBytes`, max(
    * `spark.sql.files.openCostInBytes`, Σ(len + openCost) /
    * (`spark.sql.files.minPartitionNum` or the default parallelism)))
    * over its splits. */
  def packWidth(fleet: Seq[org.apache.hadoop.fs.FileStatus],
      maxFileBytes: Long): Long = {
    val s = SparkSession.active
    val openCost = s.sessionState.conf.filesOpenCostInBytes
    org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(
      s, planSplits(fleet, maxFileBytes).map(_.length + openCost).sum)
  }

  /** Read partitions: [[planSplits]] packed into [[AvroFileGroup]]s,
    * so a fleet of small files runs about one task per core instead
    * of one per file. A group closes when the next split would push
    * it past `width` (default: the [[packWidth]] of `fleet`), each
    * split costing its length plus the open cost (the next-fit of
    * `FilePartition.getFilePartitions`). Unlike Spark, splits are
    * packed in path order, not by descending size: a plain scan
    * returns rows in the same order as a one-file-per-partition read,
    * and the splits of one file stay adjacent. */
  def planGroups(fleet: Seq[org.apache.hadoop.fs.FileStatus],
      maxFileBytes: Long,
      dvByPath: Map[String, DvPartSpec] = Map.empty,
      width: Option[Long] = None): Seq[AvroFileGroup] = {
    val splits = planSplits(fleet, maxFileBytes, dvByPath)
    val openCost = SparkSession.active.sessionState.conf.filesOpenCostInBytes
    val w = width.getOrElse(packWidth(fleet, maxFileBytes))
    val groups = Seq.newBuilder[AvroFileGroup]
    var cur = Vector.empty[AvroFilePartition]
    var size = 0L
    splits.foreach { sp =>
      if (cur.nonEmpty && size + sp.length > w) {
        groups += new AvroFileGroup(cur)
        cur = Vector.empty
        size = 0L
      }
      cur :+= sp
      size += sp.length + openCost
    }
    if (cur.nonEmpty) groups += new AvroFileGroup(cur)
    groups.result()
  }
}

/** Count-mode scan for a pushed ungrouped COUNT(*): same fleet listing
  * and packed sync-marker splits as the row scan, but each task emits
  * ONE row of partial counts summed over its group's OCF BLOCK HEADERS
  * — the raw block bytes are skipped still-compressed, no record is
  * ever decoded. Spark's rewritten final aggregate sums the partials,
  * so `fleet.count()` costs one header walk per split at any fleet
  * size. */
private[sources] class AvroFleetCountScan(tableSchema: StructType,
    path: String, maxFileBytes: Long, countStars: Int,
    resolveView: => FleetView,
    dvAdjust: Long = 0L)
    extends Scan with Batch with SupportsReportStatistics {

  // one LongType partial per pushed COUNT(*) (names are free — Spark
  // zips this positionally with the translated aggregate expressions)
  override def readSchema(): StructType =
    StructType((0 until countStars).map(i =>
      StructField(s"count_star_$i", LongType, nullable = false)))

  override def description(): String =
    s"graft-avro $path PushedAggregation: [COUNT(*)]"

  override def toBatch: Batch = this

  // the builder's view — the SAME snapshot `dvAdjust` was summed from
  // at pushdown, so the correction always matches the planned files
  private lazy val fleet = resolveView.files

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(8L * countStars *
        math.max(1, fleet.size))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1, fleet.size).toLong)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val groups =
      AvroFleetScan.planGroups(fleet, maxFileBytes).toArray[InputPartition]
    // deletion-vector correction: block headers count RAW rows, so a
    // vectored fleet contributes one constant partial of −(total
    // vectored positions) — count(*) stays a header walk instead of
    // falling back to a full decode
    if (dvAdjust == 0L) groups
    else groups :+ (CountAdjustPartition(-dvAdjust): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = SparkSession.active
    new AvroFleetCountReaderFactory(tableSchema, countStars,
      new SerializableHadoopConf(s.sessionState.newHadoopConf()))
  }
}

/** One constant COUNT partial (the vectored-rows correction). */
private[sources] case class CountAdjustPartition(value: Long)
    extends InputPartition

private[sources] class AvroFleetCountReaderFactory(
    tableSchema: StructType, countStars: Int,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    p match {
      case CountAdjustPartition(v) =>
        return new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(Array.fill[Any](countStars)(v))
          override def close(): Unit = ()
        }
      case _ => ()
    }
    val group = p.asInstanceOf[AvroFileGroup]
    new PartitionReader[InternalRow] {
      private var done = false
      private var count = 0L

      private def countSplit(part: AvroFilePartition): Unit = {
        val path = new org.apache.hadoop.fs.Path(part.file)
        val fs = path.getFileSystem(conf.value)
        val stream = new org.apache.avro.file.DataFileReader(
          HadoopSeekableInput.open(fs, path, part.fileLen),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          // same mixed-fleet guard as the row reader: a count over a
          // fleet whose files disagree with the pinned table schema
          // fails loudly instead of silently tallying foreign rows
          val writerSpark = Avro.toSparkSchema(stream.getSchema)
          require(writerSpark.map(f => (f.name, f.dataType)) ==
              tableSchema.map(f => (f.name, f.dataType)),
            s"avro schema mismatch in ${part.file}: " +
              s"${writerSpark.catalogString} vs table " +
              tableSchema.catalogString)
          stream.sync(part.start)
          // block-header walk: hasNext loads the next block's count
          // varint; nextBlock skips its (compressed) bytes undecoded
          while (stream.hasNext && !stream.pastSync(part.end)) {
            count += stream.getBlockCount
            stream.nextBlock()
          }
        } finally stream.close()
      }

      override def next(): Boolean = {
        if (done) return false
        group.splits.foreach(countSplit)
        done = true
        true
      }

      override def get(): InternalRow =
        new GenericInternalRow(
          Array.fill[Any](countStars)(count))

      override def close(): Unit = ()
    }
  }
}

/** Grouped-aggregate scan (partial pushdown): output schema is the
  * group columns followed by one column per aggregate, and Spark's
  * rewritten final aggregate merges the partials. Two partition kinds:
  *
  *  - `GroupMetaPartition` — the file's sidecar PROVES a single group
  *    (every group column min==max with zero nulls, or all-null) and
  *    covers every aggregate column: its one partial row is resolved
  *    driver-side from the stats; the file is never opened. On a fleet
  *    laid down partitioned by the group key — the common 100 TB
  *    layout — EVERY file takes this path and the whole grouped rollup
  *    is a metadata read.
  *  - `AvroFileGroup` — everything else decodes, packed like the row
  *    scan, and aggregates DURING the decode into one hash per packed
  *    group (reader-schema pruning still skips unreferenced columns),
  *    emitting one row per aggregate group per task instead of
  *    shipping raw rows into Catalyst. */
private[sources] class AvroFleetGroupAggScan(tableSchema: StructType,
    path: String, maxFileBytes: Long, groupCols: Seq[String],
    specs: Seq[MetaAggSpec],
    filters: Array[org.apache.spark.sql.sources.Filter],
    resolveView: => FleetView)
    extends Scan with Batch with SupportsReportStatistics {

  import MetaAggSpec._

  override def readSchema(): StructType = StructType(
    groupCols.map(c => tableSchema(tableSchema.fieldIndex(c))
      .copy(nullable = true)) ++
      specs.zipWithIndex.map {
        case (CountStar, i) =>
          StructField(s"count_star_$i", LongType, nullable = false)
        case (CountCol(c), i) =>
          StructField(s"count_${c}_$i", LongType, nullable = false)
        case (MinCol(c), i) => StructField(s"min_${c}_$i",
          tableSchema(tableSchema.fieldIndex(c)).dataType)
        case (MaxCol(c), i) => StructField(s"max_${c}_$i",
          tableSchema(tableSchema.fieldIndex(c)).dataType)
      })

  override def description(): String =
    s"graft-avro $path PushedAggregation(grouped): [" + specs.map {
      case CountStar => "COUNT(*)"
      case CountCol(c) => s"COUNT($c)"
      case MinCol(c) => s"MIN($c)"
      case MaxCol(c) => s"MAX($c)"
    }.mkString(", ") + s"] GroupBy: [${groupCols.mkString(", ")}]" +
      (if (filters.isEmpty) ""
       else s", PushedFilters: [${filters.mkString(", ")}]")

  override def toBatch: Batch = this

  // ONE snapshot for the size estimate, the files and their vector
  // bindings: estimateStatistics and planInputPartitions run at
  // different times, and a commit retiring vectored files in between
  // must not pair the old files with the new (absent) bindings
  private lazy val view = resolveView

  private lazy val fleetStats = view.stats(
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      SparkSession.active.sessionState.newHadoopConf()))

  /** The sidecar single-group proof for one file, and the partial-row
    * values if it holds. `min==max` uses the shared comparator so the
    * proof and the row path can never disagree on ordering. Under
    * pushed filters the proof additionally requires `alwaysMatches`
    * for every conjunct — the stats row may only stand in for the file
    * when the filter provably rejects none of its rows (files the
    * filter provably rejects entirely were already skip-dropped). */
  private def metaRow(ps: FleetStats.PartStats,
      dv: Option[FleetManifest.DvMeta] = None): Option[Array[Any]] = {
    if (ps.rows == 0L) return Some(null) // no rows → no partial at all
    val singleGroup = groupCols.forall(c => ps.cols.get(c).exists(cs =>
      (cs.nulls == 0L && cs.min.isDefined && cs.max.isDefined &&
        FleetFilters.cmp(cs.min.get, cs.max.get) == 0) ||
        (cs.min.isEmpty && cs.nulls == ps.rows)))
    val covered = specs.forall {
      case CountStar => true
      case CountCol(c) => ps.cols.contains(c)
      case MinCol(c) => ps.cols.contains(c)
      case MaxCol(c) => ps.cols.contains(c)
    }
    val filterTotal =
      filters.forall(FleetStats.alwaysMatches(_, ps))
    if (!singleGroup || !covered || !filterTotal) return None
    // a VECTORED file (manifest-carried DvMeta, r18): the live rows
    // are a subset of one group, so the group VALUE stands; COUNT(*)
    // corrects exactly by the binding count (`alwaysMatches` covers
    // deleted rows too); MIN/MAX stand when the captured deleted
    // values are provably strictly interior to the file's sidecar
    // extremum (an absent captured column = no non-null deleted value
    // — the strongest proof); COUNT(col) (deleted null profile
    // unknown), a fully-vectored file, and uncaptured stats where an
    // extremum needs them all fall back to the decode tier, which
    // skips positions per record.
    val deleted = dv.map(_.count).getOrElse(0L)
    if (deleted >= ps.rows) return None // fully vectored: decode (0 rows)
    def extremumStands(c: String, isMin: Boolean): Boolean =
      dv.isEmpty || {
        val ext = (if (isMin) ps.cols(c).min else ps.cols(c).max).orNull
        ext == null || dv.exists(_.stats.exists { st =>
          st.get(c) match {
            case None => true
            case Some(cs) =>
              val v = if (isMin) cs.min else cs.max
              FleetStats.comparable(v, ext) &&
                (if (isMin) FleetFilters.cmp(v, ext) > 0
                 else FleetFilters.cmp(v, ext) < 0)
          }
        })
      }
    // deleted NON-NULL count of c, from captured stats (absent column
    // = 0): the exact COUNT(col) correction for a vectored file
    def deletedNonNull(c: String): Long =
      dv.flatMap(_.stats).flatMap(_.get(c)).map(_.nonNull).getOrElse(0L)
    val sound = specs.forall {
      case CountStar => true
      case CountCol(_) => dv.isEmpty || dv.exists(_.stats.isDefined)
      case MinCol(c) => extremumStands(c, isMin = true)
      case MaxCol(c) => extremumStands(c, isMin = false)
    }
    if (!sound) return None
    val out = readSchema()
    Some((groupCols.map(c => ps.cols(c).min.orNull) ++ specs.map {
      case CountStar => Long.box(ps.rows - deleted)
      case CountCol(c) =>
        Long.box(ps.rows - ps.cols(c).nulls - deletedNonNull(c))
      case MinCol(c) => ps.cols(c).min.orNull
      case MaxCol(c) => ps.cols(c).max.orNull
    }).zipWithIndex.map { case (v, i) =>
      AvroFleetMetaAggScan.toCatalystAs(v, out.fields(i).dataType)
    }.toArray)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // deletion-vector bindings: a meta-bearing vectored file still
    // resolves from its sidecar row — COUNT(*) corrected by the
    // binding count, MIN/MAX proven live by the captured deleted-value
    // stats (r18; metaRow). Bindings the meta cannot prove sound —
    // legacy (no meta), uncaptured stats under a MIN/MAX, COUNT(col) —
    // decode exactly those files, which aggregate live rows under the
    // vector per record. Skip-proofs stay sound (deletion only shrinks
    // a file's value set, so neverMatches can't wrongly drop a live
    // row).
    def binding(st: org.apache.hadoop.fs.FileStatus) =
      view.dvs.get(st.getPath.toString)
    def provenRow(st: org.apache.hadoop.fs.FileStatus)
        : Option[Array[Any]] =
      binding(st) match {
        case Some((_, None)) => None // legacy binding: decode
        case b => fleetStats.get(st.getPath.toString)
          .flatMap(ps => metaRow(ps, b.flatMap(_._2)))
      }
    // skip tier first: a file the filter provably can't match
    // contributes no partial row and is never scheduled
    val surviving = view.files.sortBy(_.getPath.toString).filterNot(st =>
      filters.nonEmpty &&
        fleetStats.get(st.getPath.toString).exists(ps =>
          filters.exists(FleetStats.neverMatches(_, ps))))
    val (meta, decode) = surviving.partition(st => provenRow(st).isDefined)
    val metaParts = meta.flatMap { st =>
      Option(provenRow(st).get).map(GroupMetaPartition) // null = empty
    }
    val byPath = decode.flatMap { st =>
      binding(st)
        .map { case (full, _) => st.getPath.toString -> DvPartSpec(full) }
    }.toMap
    metaParts.toArray[InputPartition] ++
      AvroFleetScan.planGroups(decode, maxFileBytes, byPath)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, view.files.map(_.getLen).sum *
        math.max(1, groupCols.size + specs.size) /
        math.max(1, tableSchema.size)))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = SparkSession.active
    new AvroFleetGroupAggReaderFactory(tableSchema, groupCols, specs,
      filters, new SerializableHadoopConf(s.sessionState.newHadoopConf()))
  }
}

/** One precomputed partial row (catalyst spelling) for a
  * sidecar-proven single-group file. */
private[sources] case class GroupMetaPartition(values: Array[Any])
    extends InputPartition

private[sources] class AvroFleetGroupAggReaderFactory(
    tableSchema: StructType, groupCols: Seq[String],
    specs: Seq[MetaAggSpec],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {

  import MetaAggSpec._

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GroupMetaPartition(values) =>
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow = new GenericInternalRow(values)
          override def close(): Unit = ()
        }
      case group: AvroFileGroup => decodeReader(group)
    }

  /** Streaming decode of a packed group's splits with ONE in-task hash
    * aggregate: reader-schema pruning decodes only group+aggregate
    * columns, and the task emits one partial row per aggregate group —
    * memory is O(groups in the task), the partial-aggregate contract. */
  private def decodeReader(group: AvroFileGroup)
      : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private val aggCols = specs.collect {
      case CountCol(c) => c; case MinCol(c) => c; case MaxCol(c) => c
    }
    private val decodeCols =
      (groupCols ++ aggCols ++ filters.toSeq.flatMap(_.references.toSeq))
        .distinct.toIndexedSeq
    private var out: Iterator[InternalRow] = _
    // insertion-ordered so partial-row order is deterministic
    private val groups = new java.util.LinkedHashMap[Seq[Any], Array[Any]]()

    private def aggregate(): Iterator[InternalRow] = {
      group.splits.foreach(aggregateSplit)
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        groups.entrySet().iterator()).asScala.map { e =>
        new GenericInternalRow(
          (e.getKey.map(AvroFleetReaderFactory.toCatalyst) ++
            e.getValue.toSeq.map(AvroFleetReaderFactory.toCatalyst))
            .toArray)
      }.toVector.iterator
    }

    private def aggregateSplit(part: AvroFilePartition): Unit = {
      val path = new org.apache.hadoop.fs.Path(part.file)
      val fs = path.getFileSystem(conf.value)
      val datumReader = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()
      val stream = new org.apache.avro.file.DataFileReader(
        HadoopSeekableInput.open(fs, path, part.fileLen), datumReader)
      try {
        val writerSpark = Avro.toSparkSchema(stream.getSchema)
        require(writerSpark.map(f => (f.name, f.dataType)) ==
            tableSchema.map(f => (f.name, f.dataType)),
          s"avro schema mismatch in ${part.file}: " +
            s"${writerSpark.catalogString} vs table " +
            tableSchema.catalogString)
        val effective = Avro.prunedSchema(stream.getSchema, decodeCols)
        datumReader.setExpected(effective)
        val byName = effective.getFields.asScala.toSeq
          .map(f => (f.name(), f.schema())).toMap
        // the split's deletion vector (exclude mode — the planner
        // forces vectored files onto this decode tier, never the
        // stale sidecar row): aggregate exactly the LIVE rows, with
        // the same previousSync-before-next position tracking as the
        // row path (sampling after next() misattributes each block's
        // last record — the FleetDvSpec split-stability contract)
        val dv = part.dv match {
          case Some(spec) => FleetDv.readPath(fs,
            new org.apache.hadoop.fs.Path(spec.newDv))
          case None => FleetDv.Deleted.empty
        }
        var curSync = Long.MinValue
        var curRidx = -1L
        stream.sync(part.start)
        while (stream.hasNext && !stream.pastSync(part.end)) {
          val ps = stream.previousSync()
          val rec = stream.next()
          if (ps != curSync) { curSync = ps; curRidx = 0L }
          else curRidx += 1L
          def v(c: String): Any = Avro.fromAvroValue(rec.get(c), byName(c))
          // absorbed filters gate the aggregation — same evaluator as
          // the row path, so tier choice can never change results
          if (!dv.contains(curSync, curRidx) &&
              (filters.isEmpty || filters.forall(FleetFilters.eval(_, v)))) {
          val key = groupCols.map(v)
          var buf = groups.get(key)
          if (buf == null) {
            buf = new Array[Any](specs.length)
            specs.indices.foreach(i => buf(i) = specs(i) match {
              case CountStar | _: CountCol => Long.box(0L)
              case _ => null
            })
            groups.put(key, buf)
          }
          specs.indices.foreach { i =>
            specs(i) match {
              case CountStar =>
                buf(i) = Long.box(buf(i).asInstanceOf[Long] + 1L)
              case CountCol(c) => if (v(c) != null)
                buf(i) = Long.box(buf(i).asInstanceOf[Long] + 1L)
              case MinCol(c) =>
                val x = v(c)
                if (x != null && (buf(i) == null ||
                    FleetFilters.cmp(x, buf(i)) < 0)) buf(i) = x
              case MaxCol(c) =>
                val x = v(c)
                if (x != null && (buf(i) == null ||
                    FleetFilters.cmp(x, buf(i)) > 0)) buf(i) = x
            }
          }
          } // filter gate
        }
      } finally stream.close()
    }

    override def next(): Boolean = {
      if (out == null) out = aggregate()
      out.hasNext
    }
    override def get(): InternalRow = out.next()
    override def close(): Unit = ()
  }
}

/** Per-split deletion-vector instruction (vector paths are FULL
  * paths; the reader loads them — tiny JSONs — once per split):
  *
  *  - `deltaOnly = false` (every read): EXCLUDE `newDv`'s positions —
  *    the split serves the file's live rows.
  *  - `deltaOnly = true` (the change feed's [[FleetCDC.plan]]): emit
  *    ONLY positions in `newDv` and not in `oldDv` — the rows a vector
  *    commit deleted in a version span, computed in-task (the driver
  *    never holds positions). */
private[graft] case class DvPartSpec(newDv: String,
    oldDv: Option[String] = None, deltaOnly: Boolean = false)

/** One byte range `[start, end)` of one container file. Whole small
  * files are a single `[0, fileLen)` range; ranges align to sync
  * markers at read time (`DataFileReader.sync(start)` /
  * `pastSync(end)` — the standard avro split convention: a block
  * belongs to the range containing its first byte, so contiguous
  * ranges partition the blocks exactly). `fileLen` is the file's
  * length at planning time — fleet files are immutable, so readers
  * open the file with it instead of statting it again. `dv` carries
  * the file's deletion-vector instruction under the resolved snapshot
  * (None = no vector); every split of a file carries the same one. */
private[graft] case class AvroFilePartition(file: String, start: Long,
    end: Long, fileLen: Long, dv: Option[DvPartSpec] = None) {
  def length: Long = end - start
}

/** One batch read partition: a contiguous run of splits in path order,
  * read back to back by one task ([[AvroFleetScan.planGroups]] packs
  * them). Every batch reader serves it: the row reader chains its
  * splits (a pushed limit counts rows across the whole group, a pushed
  * TopN folds the group into one bounded heap), the block-header count
  * sums over it and the grouped decode tier aggregates it into one
  * hash. Per-row metadata (`_file`, `_sync`, `_ridx`) stays per split. */
private[graft] class AvroFileGroup(val splits: Seq[AvroFilePartition])
    extends InputPartition

/** The keyed form of [[AvroFileGroup]]: one cluster-key group, every
  * split of every file proven to hold exactly `key` (sidecar carrier
  * spelling; null = the all-null key), so the partition really
  * contains every row of its key (the KeyGroupedPartitioning
  * contract). `partitionKey` re-boxes the carrier into the
  * catalyst-internal row Spark's key-grouped planner compares on the
  * driver. */
private[sources] case class AvroClusterPartition(key: Any, dt: DataType,
    override val splits: Seq[AvroFilePartition])
    extends AvroFileGroup(splits)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (key == null) null
        else AvroFleetMetaAggScan.toCatalystAs(key, dt)))
}

/** Serialized per task; carries the session Hadoop conf so executor
  * filesystem resolution honors `spark.hadoop.*` settings. */
private[sources] class AvroFleetReaderFactory(tableSchema: StructType,
    columns: Array[String], limit: Option[Int],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf,
    topN: Option[(Seq[TopNOrder], Int)] = None,
    evolve: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {

  // every scan — batch, streaming and change feed — plans packed groups
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val splits = p.asInstanceOf[AvroFileGroup].splits
    topN match {
      case Some((orders, n)) => topNReader(splits, orders, n)
      case None => new SplitChain(splits, Nil)
    }
  }

  /** Sequential chain over a group's splits, one row reader at a time.
    * The pushed limit counts EMITTED (post-filter) rows across the
    * whole group: Spark only pushes a limit when every filter is
    * pushed too, so the global Limit on top sees already-filtered
    * rows, and a group stops decoding once it has `limit` of them. */
  private final class SplitChain(splits: Seq[AvroFilePartition],
      decodeExtra: Seq[String]) extends PartitionReader[InternalRow] {
    private val rest = splits.iterator
    private var emitted = 0
    var cur: AvroFleetRowReader = _

    override def next(): Boolean = {
      while (!limit.exists(emitted >= _)) {
        if (cur == null) {
          if (!rest.hasNext) return false
          cur = new AvroFleetRowReader(rest.next(), decodeExtra,
            tableSchema, columns, filters, conf, evolve, aliases)
        }
        if (cur.next()) { emitted += 1; return true }
        cur.close(); cur = null
      }
      false
    }

    override def get(): InternalRow = cur.get()

    override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  /** Bounded-heap TopN over a group: decode (with pushed filters),
    * keep the n best rows under the pushed ordering (`TopNHeap` — the
    * machinery shared with the xlsx connector), emit them at end. Task
    * memory and output are O(n) regardless of group size, and the
    * comparator mirrors Catalyst ordering, so the final merge sort
    * upstream sees exactly the rows it would have chosen itself. */
  private def topNReader(splits: Seq[AvroFilePartition],
      orders: Seq[TopNOrder], n: Int): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {

    private var out: Iterator[InternalRow] = _

    private def run(): Iterator[InternalRow] = {
      val keys = orders.map(_.col)
      val rows = new SplitChain(splits, keys)
      val heap = new TopNHeap.Bounded(orders, n)
      try {
        while (rows.next())
          heap.offer(rows.cur.currentSortKeys(keys),
            rows.cur.currentProjectedValues())
      } finally rows.close()
      heap.drain().map(vals =>
        new GenericInternalRow(
          vals.map(AvroFleetReaderFactory.toCatalyst)))
    }

    override def next(): Boolean = {
      if (out == null) out = run()
      out.hasNext
    }
    override def get(): InternalRow = out.next()
    override def close(): Unit = ()
  }
}

/** The streaming row reader for one split — named (not anonymous) so
  * the TopN path can reuse the decode/filter machinery and read the
  * current record's sort keys without re-materializing rows. */
private[sources] class AvroFleetRowReader(part: AvroFilePartition,
    decodeExtra: Seq[String], tableSchema: StructType,
    columns: Array[String],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf, evolve: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  private val file = part.file
  // STREAMING decode over a SEEKABLE input: task memory is O(one
  // OCF block), never O(file), and the reader serves one byte
  // RANGE of the file — `sync(start)` aligns to the first block
  // at/after the range start, `pastSync(end)` stops after the last
  // block starting inside it, so splits of one oversized container
  // file partition its blocks exactly (the avro-mapred convention).
  private var stream: org.apache.avro.file.DataFileReader[
    org.apache.avro.generic.GenericRecord] = _
  // per-column decoders to CARRIER-spelling values: decode the file's
  // own field and (in evolve mode) widen to the table type, or emit
  // null for a column newer than the file
  private type Decode = org.apache.avro.generic.GenericRecord => Any
  private var fields: Seq[(String, Decode)] = _
  private var decodeByName: Map[String, Decode] = _
  private var rec: org.apache.avro.generic.GenericRecord = _
  // ROW POSITION tracking: the current record's block sync position
  // and ordinal within the block — updated on every raw record, BEFORE
  // deletion-vector skipping and row filters, so (curSync, curRidx)
  // is the stable raw-file identity the `_sync`/`_ridx` metadata
  // columns and [[FleetDv]] vectors speak
  private var curSync: Long = Long.MinValue
  private var curRidx: Long = -1L
  private var dvNew: FleetDv.Deleted = _
  private var dvOld: FleetDv.Deleted = _
  private var dvDeltaOnly: Boolean = false

  private def ensureOpen(): Unit = if (stream == null) {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(conf.value)
    // the split's deletion vectors: tiny JSONs, loaded before any
    // record so every raw position can be checked
    dvNew = part.dv match {
      case Some(spec) =>
        FleetDv.readPath(fs, new org.apache.hadoop.fs.Path(spec.newDv))
      case None => FleetDv.Deleted.empty
    }
    dvOld = part.dv.flatMap(_.oldDv) match {
      case Some(p) =>
        FleetDv.readPath(fs, new org.apache.hadoop.fs.Path(p))
      case None => FleetDv.Deleted.empty
    }
    dvDeltaOnly = part.dv.exists(_.deltaOnly)
    // delta reads serve a LINEAGE DIFFERENCE (new minus old) and are
    // exact only when old ⊆ new — vector lineage union-grows, so a
    // violation means a concurrent restore/rebind produced a span the
    // count-routed feed cannot represent; verified here IN-TASK (the
    // task holds both vectors anyway) so no driver ever reads
    // positions to prove it (r17 ADVICE: count growth alone is an
    // unsound containment proxy)
    if (dvDeltaOnly && !dvOld.subsetOf(dvNew))
      throw new java.io.IOException(
        s"deletion-vector lineage diverged for $file: the span's " +
          "older vector is not contained in the newer one (concurrent " +
          "restore/rebind) — the change feed cannot represent this " +
          "range exactly; re-seed the consumer from a full scan")
    val datumReader =
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()
    stream = new org.apache.avro.file.DataFileReader(
      HadoopSeekableInput.open(fs, path, part.fileLen), datumReader)
    val writer = stream.getSchema
    // mixed-fleet guard at the SPARK-type level: each file must map
    // to the pinned table schema, but its avro spelling is its own —
    // an external producer's record name/namespace, non-nullable
    // fields, or doc/props differ from the graft-written canonical
    // form while decoding identically (values resolve against the
    // file's OWN writer schema below, never the canonical one).
    // Evolve mode (mergeSchema=true) relaxes equality to per-field
    // compatibility: absent columns null-fill, narrower columns widen
    // through the exact promotions (SchemaEvolution scaladoc)
    val writerSpark = Avro.toSparkSchema(writer)
    if (evolve)
      require(SchemaEvolution.compatible(writerSpark, tableSchema),
        s"avro schema in $file cannot evolve to the merged table " +
          s"schema: ${writerSpark.catalogString} vs table " +
          tableSchema.catalogString)
    else
      require(writerSpark.map(f => (f.name, f.dataType)) ==
          tableSchema.map(f => (f.name, f.dataType)),
        s"avro schema mismatch in $file: ${writerSpark.catalogString} " +
          s"vs table ${tableSchema.catalogString}")
    // reader-schema projection: decode the projected columns PLUS
    // any column a fully-pushed filter (or pushed sort) references —
    // it may have been pruned from the output (filter on a, select
    // b); everything else skip-decodes at the byte level
    val filterCols = filters.flatMap(_.references).distinct
    val decodeCols =
      (columns ++ (filterCols ++ decodeExtra).filterNot(columns.contains))
        .distinct.toIndexedSeq
    val writerTypes = writerSpark.map(f => f.name -> f.dataType).toMap
    val tableTypes = tableSchema.map(f => f.name -> f.dataType).toMap
    // RENAME COLUMN support: a logical column absent from this file
    // under its current name may exist under ANY of its historical
    // spellings (the _schema.json alias CHAIN, newest→oldest — files
    // written between two renames carry an intermediate name, not
    // just the original physical one) — decode the first spelling
    // this file's writer schema actually has
    val aliased: Map[String, String] = decodeCols.flatMap { c =>
      if (writerTypes.contains(c)) None
      else aliases.get(c).flatMap(_.find(writerTypes.contains)).map(c -> _)
    }.toMap
    val present = (decodeCols.filter(writerTypes.contains) ++
      aliased.values.toSeq.filterNot(decodeCols.contains)).distinct
    val effective = Avro.prunedSchema(writer, present)
    datumReader.setExpected(effective)
    val avroByName = effective.getFields.asScala
      .map(f => f.name() -> f.schema()).toMap
    decodeByName = decodeCols.map { c =>
      c -> (avroByName.get(c) match {
        case Some(fs) =>
          val promote = SchemaEvolution.promoter(writerTypes(c),
            tableTypes.getOrElse(c, writerTypes(c)))
          ((r: org.apache.avro.generic.GenericRecord) =>
            promote(Avro.fromAvroValue(r.get(c), fs))): Decode
        // the `_file` METADATA column: a per-split constant — the
        // row's source container path — unless shadowed by a real
        // data field of the same name (handled above, since a data
        // `_file` appears in the writer schema)
        case None if c == AvroFleetTable.FileMetaCol =>
          ((_: Any) => file): Decode
        // `_sync`/`_ridx` POSITION metadata: read the tracker state at
        // emit time (valid — positions update in next() before any
        // get())
        case None if c == AvroFleetTable.SyncMetaCol =>
          ((_: Any) => java.lang.Long.valueOf(curSync)): Decode
        case None if c == AvroFleetTable.RidxMetaCol =>
          ((_: Any) => java.lang.Long.valueOf(curRidx)): Decode
        case None if aliased.contains(c) =>
          val old = aliased(c)
          val oldFs = avroByName(old)
          val promote = SchemaEvolution.promoter(writerTypes(old),
            tableTypes.getOrElse(c, writerTypes(old)))
          ((r: org.apache.avro.generic.GenericRecord) =>
            promote(Avro.fromAvroValue(r.get(old), oldFs))): Decode
        case None => ((_: Any) => null): Decode
      })
    }.toMap
    // output row = projected columns only, in projection order
    fields = columns.toSeq.map(c => (c, decodeByName(c)))
    stream.sync(part.start)
  }

  private def passes: Boolean = {
    if (filters.isEmpty) return true
    filters.forall(FleetFilters.eval(_, c => decodeByName(c)(rec)))
  }

  override def next(): Boolean = {
    ensureOpen()
    while (stream.hasNext && !stream.pastSync(part.end)) {
      // sample the block key BEFORE next(): DataFileStream.next()
      // calls blockFinished() — which advances previousSync() — upon
      // reading a block's LAST record, so sampling after next() would
      // misattribute that record to the following block. Here hasNext
      // has loaded the record's block and previousSync() is its
      // boundary: the same value whether this reader opened at byte 0
      // or sync()'d into the middle of the file — the split
      // stability (sync, ridx) positions rely on (FleetDvSpec
      // pins full == split).
      val ps = stream.previousSync()
      rec = stream.next()
      if (ps != curSync) { curSync = ps; curRidx = 0L }
      else curRidx += 1L
      val inNew = dvNew.contains(curSync, curRidx)
      // delta-only: serve exactly the NEWLY-vectored rows of a
      // version span (the change feed's delete images); otherwise the
      // live rows (vectored positions skipped)
      val emit =
        if (dvDeltaOnly) inNew && !dvOld.contains(curSync, curRidx)
        else !inNew
      if (emit && passes) return true
    }
    false
  }

  override def get(): InternalRow =
    new GenericInternalRow(fields.map { case (_, d) =>
      AvroFleetReaderFactory.toCatalyst(d(rec))
    }.toArray)

  /** Current record's values for `cols`, in carrier spelling — the
    * TopN heap's sort keys. Only valid right after a true `next()`. */
  def currentSortKeys(cols: Seq[String]): Array[Any] =
    cols.map(c => decodeByName(c)(rec)).toArray

  /** Current record's projected values in carrier spelling (catalyst
    * conversion deferred until emit, so heap evictions never pay it). */
  def currentProjectedValues(): Array[Any] =
    fields.map { case (_, d) => d(rec) }.toArray

  override def close(): Unit = if (stream != null) stream.close()
}

/** `SeekableInput` over a Hadoop `FSDataInputStream` — what
  * `DataFileReader` needs to serve sync-aligned byte ranges of one
  * container file (the bundled avro jar has no hadoop bridge). */
private[sources] class HadoopSeekableInput(
    in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
    extends org.apache.avro.file.SeekableInput {
  override def seek(p: Long): Unit = in.seek(p)
  override def tell(): Long = in.getPos
  override def length(): Long = len
  override def read(b: Array[Byte], off: Int, n: Int): Int =
    in.read(b, off, n)
  override def close(): Unit = in.close()
}

private[sources] object HadoopSeekableInput {
  /** Open a planned data file of plan-time length `len`. Plans built
    * from manifest sizes never stat the file, so a file deleted since
    * its commit surfaces here, with the manifest's missing-file
    * error. */
  def open(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, len: Long): HadoopSeekableInput =
    try new HadoopSeekableInput(fs.open(path), len)
    catch { case e: java.io.FileNotFoundException =>
      throw FleetManifest.missingFile(path, None, e) }
}

private[sources] object AvroFleetReaderFactory {
  /** External → catalyst value for the flat types the codec carries
    * (same temporal math as the writer's `toAvroValue`). */
  def toCatalyst(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case t: java.sql.Timestamp =>
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000
    case other => other
  }
}
