package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COLUMNAR (Parquet) DATA-FILE TIER for transactional fleets — the
  * r19 verdict's #2, driven by a measured gap
  * ([[graft.tools.ScanTierBench]] at 6M-row lineitem, local[32], warm
  * min-of-3: wide 8-col agg 2.5×, narrow 2-col sum 3.4×, filtered scan
  * 3.6× FASTER on Spark's vectorized parquet reader than on the
  * avro-OCF tier's skip-decode path — SURVEY §8 note):
  *
  *  - SAME manifest: every generation is a [[FleetManifest]] commit
  *    (the `_manifest/` protocol, version files, commit lock, CAS
  *    machinery, snapshot pin guard — nothing re-invented). Appends
  *    stage parquet part files under job-tagged names and land as ONE
  *    commit; a crash strands unreferenced files, never a torn read.
  *  - VECTORIZED SCANS: reads resolve the snapshot's file list and go
  *    straight to `spark.read.parquet(files…)` — whole-stage codegen,
  *    column pruning, predicate pushdown, row-group skipping all free.
  *  - MERGE-ON-READ deletes by FILE ROW-INDEX: Spark's parquet reader
  *    exposes `_metadata.row_index` (a stable per-file ordinal), so a
  *    deletion vector is just a parquet file of deleted ordinals per
  *    data file, bound through the manifest's existing `dvs` map with
  *    the same compare-and-set (a racing MOR writer conflicts loudly)
  *    and the same inheritance/retirement rules. A vectored read
  *    LEFT-ANTI-joins the deleted (file, ordinal) set — O(deleted
  *    rows) on the build side, AQE broadcasts it in the typical
  *    surgical-delete regime.
  *  - TIME TRAVEL for free: `read(…, versionAsOf)` resolves any
  *    retained generation with its as-of bindings.
  *  - FILE SKIPPING from FOOTER stats: every commit captures each new
  *    file's parquet-footer min/max/null-counts into that file's
  *    manifest entry, as the avro tier does
  *    ([[ParquetFleetStats]] — zero data reads, the Iceberg design),
  *    and [[scan]] prunes the snapshot's file list through the shared
  *    [[FleetStats.neverMatches]] proofs BEFORE the vectorized read —
  *    at 100 TB a selective predicate touches the files it must and
  *    no others, without opening a single pruned footer. Each
  *    snapshot carries its files' stats, so time-travel scans prune
  *    with the as-of entries; deletes only shrink a file, so DV
  *    commits never invalidate a bound.
  *
  * SCOPE (deliberate): a LIBRARY-LEVEL data plane, not a second DSv2
  * format — the avro tier keeps the SQL/catalog surface (row-level
  * SQL, checks, branches, WAP); this tier is the scan-optimized plane
  * a 100 TB analytics fleet migrates its cold columnar data onto, and
  * it is operable end-to-end: writer-idempotence tokens + exactly-once
  * `foreachBatch` streaming ingestion ([[streamingAppend]]),
  * `mergeSchema` evolution with versioned declared schemas, metadata
  * tiers ([[count]], [[minMax]]), a row-exact change data feed
  * ([[changes]], composing with [[FleetCDC.reconcileKeyed]]),
  * clustered compaction, snapshot retention and orphan sweeping (the
  * [[FleetCompact.expireVersions]] / [[FleetCompact.removeOrphans]]
  * core both tiers share), and both AS OF spellings
  * ([[versionAtTimestamp]]). Each delete writes per-file vectors via
  * ONE distributed `partitionBy(file)` job (positions never collect
  * to the driver), reads only the stats-surviving candidate files,
  * and rewrites ONLY the touched files' vectors — disjoint-file
  * deletes commute under the manifest's per-file compare-and-set —
  * while every DV-consuming plan reads O(generations) vector scans,
  * not O(bound files) ([[dvRows]]). */
private[graft] object ParquetFleet {

  private def fsp(s: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  private def tag(): String = java.util.UUID.randomUUID().toString
    .replace("-", "").take(8)

  /** The snapshot's DECLARED schema: the generation-stamped
    * [[FleetManifest.SchemaProp]] marker when one exists (evolution
    * commits stamp it; it inherits forward and is versioned, so AS OF
    * reads see the as-of declaration — the avro tier's exact
    * machinery), else the first data file's footer schema (a
    * never-evolved fleet: every file agrees by the append guard). */
  private def declaredSchema(s: SparkSession, dir: String,
      snap: FleetManifest.Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.props.get(FleetManifest.SchemaProp).filter(_.nonEmpty)
      .flatMap(t => scala.util.Try(
        FleetSchemaMarker.fromJsonString(t).schema).toOption)
      .getOrElse(s.read.parquet(s"$dir/${snap.files.head}").schema)

  /** Stage `df` as parquet part files inside the fleet directory under
    * job-tagged final names, then publish them as one manifest commit
    * (append or reset). The stage-then-commit shape matches the avro
    * tier: files are invisible until the commit lands.
    *
    * `txn` = the writer-idempotence token pair (appId, version): the
    * write lands AT MOST ONCE per token against the manifest's
    * inherited ledger ([[FleetManifest.TxnPropPrefix]]). A known
    * replay is a PLANNING-TIME no-op (no staging job runs); the
    * racing case — the ledger entry landing between our pre-check and
    * commit — is caught inside the commit's own retry loop, and the
    * just-staged files are unlinked before returning. Returns true
    * iff this call's commit landed. */
  private def write(df: DataFrame, dir: String, reset: Boolean,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Boolean = {
    import org.apache.spark.sql.types.StructType
    val s = df.sparkSession
    val (fs, p) = fsp(s, dir)
    if (txn.exists { case (a, v) => FleetManifest.txnApplied(fs, p, a, v) })
      return false
    // DEFAULT appends must match the fleet's DECLARED schema exactly —
    // a silently-divergent append would drop or null columns on every
    // read, loud beats silent. `mergeSchema` opts into EVOLUTION:
    // common columns must type-match (never silent coercion), NEW
    // columns join the declared schema (old files null-fill them on
    // read), OMITTED columns null-fill for the new files — and the
    // evolved declaration commits as the generation-stamped
    // SchemaProp marker, versioned + inherited exactly like the avro
    // tier's, so AS OF reads see the as-of declaration.
    // Validation + evolved-declaration computation, re-runnable: the
    // schema compare-and-set below (requireSchema, ADVICE r20 #1) can
    // send us back here after a concurrent evolution/reset lands, and
    // the re-run must merge against the RACER's declaration (its new
    // column must survive into ours) or fail loudly if the staged
    // shape no longer fits. Returns (observed marker, props).
    def validateSchema(): (Option[String], Map[String, String]) = {
      var schemaProp = Map.empty[String, String]
      val cur = FleetManifest.current(fs, p)
      val observed = cur.flatMap(_.props.get(FleetManifest.SchemaProp))
        .filter(_.nonEmpty)
      if (!reset) cur.filter(_.files.nonEmpty).foreach { snap =>
        val existing = declaredSchema(s, dir, snap)
        val shape = (st: StructType) =>
          st.fields.map(f => (f.name, f.dataType)).toSeq
        if (shape(df.schema) != shape(existing)) {
          require(mergeSchema,
            s"parquet fleet append schema mismatch at $dir: fleet has " +
              s"${existing.simpleString}, append carries " +
              s"${df.schema.simpleString} — align the columns, append " +
              "with mergeSchema = true to evolve, or overwrite to " +
              "replace the schema")
          val exTypes = existing.fields
            .map(f => f.name -> f.dataType).toMap
          df.schema.fields.foreach(f => exTypes.get(f.name).foreach(t =>
            require(t == f.dataType,
              s"parquet fleet append type conflict on '${f.name}' at " +
                s"$dir: fleet declares $t, append carries " +
                s"${f.dataType} — evolution never coerces")))
          val fresh = df.schema.fields
            .filter(f => !exTypes.contains(f.name))
            .map(_.copy(nullable = true))
          // every pre-existing field turns nullable: evolved appends
          // may omit it, and read-side null-fill must be declared
          val declared = StructType(
            existing.fields.map(_.copy(nullable = true)) ++ fresh)
          if (shape(declared) != shape(existing) ||
              existing.fields.exists(!_.nullable))
            schemaProp = Map(FleetManifest.SchemaProp ->
              FleetSchemaMarker.toJsonString(
                FleetSchemaMarker.Marker(declared, Map.empty)))
        }
      }
      (observed, schemaProp)
    }
    var (observedSchema, schemaProp) = validateSchema()
    if (reset)
      // the reset declaration REPLACES any inherited marker (the
      // pre-evolution "" sentinel cleared it; stamping the actual
      // schema serves versioned AS OF resolution the same way and
      // keeps overwrite-then-append evolution exact)
      schemaProp = Map(FleetManifest.SchemaProp ->
        FleetSchemaMarker.toJsonString(
          FleetSchemaMarker.Marker(df.schema, Map.empty)))
    fs.mkdirs(p)
    val t = tag()
    val staging = new Path(p, s".staging-$t")
    df.write.parquet(staging.toString)
    val parts = fs.listStatus(staging).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val names = parts.zipWithIndex.map { case (st, i) =>
      val n = f"part-$i%05d-$t.parquet"
      if (!fs.rename(st.getPath, new Path(p, n)))
        throw new java.io.IOException(
          s"cannot stage ${st.getPath} as $n in $dir")
      n
    }
    // footer stats ride the manifest commit with their files
    val stats = ParquetFleetStats.capture(s, dir, names)
    // zero-residue unlink of this call's staged files (lost races)
    def unstage(): Unit =
      names.foreach(n => fs.delete(new Path(p, n), false))
    // the .staging dir is empty once the parts rename out — delete it
    // on EVERY exit (a throw used to leak it, contradicting the
    // zero-residue contract; ADVICE r21)
    val landed =
      try {
        // schema CAS retry loop: a concurrent evolution/reset between
        // our validation and the commit conflicts loudly inside
        // commit (requireSchema); re-validate against the NEW
        // declaration — merging ITS columns into ours, or failing
        // loudly if the staged shape no longer fits (the staged files
        // are unlinked first, zero residue) — and re-commit.
        var done = false
        var attempts = 0
        while (!done) {
          attempts += 1
          try {
            FleetManifest.commit(fs, p,
              update = base => if (reset) names else base ++ names,
              bootstrap = Seq.empty,
              props = schemaProp,
              txn = txn,
              requireSchema = if (reset) None else Some(observedSchema),
              stats = stats)
            done = true
          } catch {
            case e: FleetCommitConflictException =>
              // attempt exhaustion abandons the append: unlink the
              // staged-but-never-referenced files first (ADVICE r21 —
              // they leaked before)
              if (attempts >= 16) { unstage(); throw e }
              val re =
                try validateSchema()
                catch { case v: Throwable => unstage(); throw v }
              observedSchema = re._1
              schemaProp = re._2
          }
        }
        true
      } catch {
        case _: FleetTxnAlreadyAppliedException =>
          // the token landed between pre-check and commit (a racing
          // replay): unlink this call's staged-but-unreferenced files
          // — zero residue
          unstage()
          false
      } finally fs.delete(staging, true)
    landed
  }

  /** Append `df` as one committed generation. With `txn` =
    * (appId, version), the append lands AT MOST ONCE per token — the
    * Delta-style writer-idempotence pair over the manifest's inherited
    * ledger; returns true iff this call committed (false = idempotent
    * replay, skipped). `mergeSchema = true` opts into SCHEMA
    * EVOLUTION: new columns join the declared schema (old files
    * null-fill on read), omitted columns null-fill for the new files,
    * type conflicts stay loud. */
  def append(df: DataFrame, dir: String,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Boolean =
    write(df, dir, reset = false, txn, mergeSchema)

  def overwrite(df: DataFrame, dir: String,
      txn: Option[(String, Long)] = None): Boolean =
    write(df, dir, reset = true, txn)

  /** EXACTLY-ONCE STREAMING APPEND into the columnar tier — the
    * `foreachBatch` body:
    * {{{
    * ds.writeStream.foreachBatch(ParquetFleet.streamingAppend(dir, appId))
    *   .option("checkpointLocation", ...).start()
    * }}}
    * Structured Streaming replays a micro-batch whose driver died
    * after the sink ran but before the checkpoint advanced; the
    * (appId, batchId) token makes the replayed `addBatch` a
    * planning-time NO-OP against the ledger, so a restarted stream
    * can never double a batch's rows — the columnar twin of the avro
    * tier's native streaming sink. */
  def streamingAppend(dir: String, appId: String)
      : (DataFrame, Long) => Unit =
    (df, batchId) => { append(df, dir, txn = Some((appId, batchId))); () }

  private def resolve(s: SparkSession, dir: String,
      versionAsOf: Option[Long]): FleetManifest.Snapshot = {
    val (fs, p) = fsp(s, dir)
    versionAsOf match {
      case Some(v) => FleetManifest.snapshotAt(fs, p, v).getOrElse(
        throw new IllegalArgumentException(
          s"parquet fleet at $dir has no retained version $v"))
      case None => FleetManifest.current(fs, p).getOrElse(
        throw new IllegalArgumentException(
          s"no parquet fleet at $dir (no manifest)"))
    }
  }

  /** The snapshot read: vectorized parquet over the generation's file
    * list, minus its deletion vectors' (file, row-index) positions. */
  def read(s: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = resolve(s, dir, versionAsOf)
    require(snap.files.nonEmpty,
      s"parquet fleet at $dir v${snap.version} holds no files")
    readFiles(s, dir, snap, snap.files.sorted)
  }

  /** Vectorized read of `files` (⊆ the snapshot) with the snapshot's
    * deletion vectors applied — only the vectors bound to files in the
    * subset are joined in. */
  private def readFiles(s: SparkSession, dir: String,
      snap: FleetManifest.Snapshot, files: Seq[String]): DataFrame =
    // the DECLARED schema drives the read: files predating an evolved
    // column null-fill it, files written without an omitted column
    // null-fill too — and an AS OF snapshot carries its own marker
    readFilesAs(s, dir, snap, files, declaredSchema(s, dir, snap))

  /** [[readFiles]] with a PINNED read schema — the change feed reads
    * the `from` side's files in the `to` declaration so both sides of
    * one feed union shape-consistently across an evolution. */
  private def readFilesAs(s: SparkSession, dir: String,
      snap: FleetManifest.Snapshot, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val paths = files.map(n => s"$dir/$n")
    val base = s.read.schema(schema).parquet(paths: _*)
    val dvs = snap.dvs.view.filterKeys(files.toSet).toMap
    if (dvs.isEmpty) base
    else {
      val withMeta = base
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__ridx", col("_metadata.row_index"))
      // left-anti on (file, ordinal): the delete side is O(deleted
      // rows); AQE broadcasts it when small (the surgical regime)
      withMeta.join(dvRows(s, dir, dvs), Seq("__file", "__ridx"),
        "left_anti")
        .drop("__file", "__ridx")
    }
  }

  /** The (file, ordinal) rows of a binding set, as ONE scan per
    * deletion-vector GENERATION rather than one per bound file: a
    * generation's vectors were written by one `partitionBy(__file)`
    * job into one directory, so partition DISCOVERY recovers the
    * `__file` column and an `isin` over the bound partitions prunes
    * to exactly the bindings that are current. At 100 TB this is the
    * difference between O(delete commits) scan nodes and O(bound
    * files) — a fleet with 100k surgically-deleted files would
    * otherwise blow the planner on every MOR read. */
  private def dvRows(s: SparkSession, dir: String,
      dvs: Map[String, String]): DataFrame = {
    val byGen = dvs.toSeq.groupBy { case (_, vec) =>
      vec.substring(0, vec.lastIndexOf('/')) }
    byGen.toSeq.sortBy(_._1).map { case (gen, binds) =>
      val bound = binds.map(_._1).sorted
      s.read.parquet(s"$dir/$gen")
        .filter(col("__file").isin(bound: _*))
        .select(col("__file").cast("string").as("__file"),
          col("ridx").as("__ridx"))
    }.reduce(_ union _)
  }

  /** The snapshot's files split by their committed stats' skip proofs
    * under `pred`: (survivors, pruned). Files without stats always
    * survive (advisory stats). */
  private[graft] def pruneFiles(s: SparkSession, dir: String,
      snap: FleetManifest.Snapshot, pred: Column)
      : (Seq[String], Seq[String]) = {
    // the exact Filter translation Spark's own scans push (best-effort:
    // an untranslatable conjunct proves nothing; the caller re-applies
    // the full predicate, so a missing translation costs a read, never
    // a row). Resolution runs against the DECLARED schema, so evolved
    // columns resolve too — a file predating the column has no stats
    // for it and never proves a skip (null-fill is conservative)
    val filters = org.apache.spark.sql.GraftPushdownShim
      .pushableFilters(s, declaredSchema(s, dir, snap), pred)
    if (filters.isEmpty) return (snap.files.sorted, Seq.empty)
    snap.files.sorted.partition { n =>
      snap.statsOf(n).forall(st =>
        !filters.exists(f => FleetStats.neverMatches(f, st)))
    }
  }

  /** The PRUNED scan: resolve the snapshot, drop every file whose
    * footer-derived stats PROVE the predicate matches none of
    * its rows ([[FleetStats.neverMatches]] — min/max bounds,
    * null-count proofs, prefix ranges, the same algebra the avro tier
    * pushes), vector-read only the survivors, re-apply the full
    * predicate. At 100 TB with range-clustered files this is the
    * difference between touching TBs and touching the handful of
    * files a selective query names — before a single data byte or
    * pruned footer is read. */
  def scan(s: SparkSession, dir: String, pred: Column,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = resolve(s, dir, versionAsOf)
    require(snap.files.nonEmpty,
      s"parquet fleet at $dir v${snap.version} holds no files")
    val (keep, _) = pruneFiles(s, dir, snap, pred)
    if (keep.isEmpty)
      // all files proven non-matching: empty result, declared schema
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        declaredSchema(s, dir, snap))
    else readFiles(s, dir, snap, keep).filter(pred)
  }

  /** CHANGE DATA FEED for the columnar tier — [[FleetCDC]]'s exact
    * manifest-diff contract at the same file granularity, NET across
    * `(fromVersion, toVersion]` by construction of the endpoint diff:
    *
    *  - files only in `to` → their `to`-visible rows are INSERTS
    *    (appends; the post-image of a compaction/rewrite);
    *  - files only in `from` → their `from`-visible rows are DELETES
    *    (the pre-image of a rewrite — survivors appear on both sides
    *    with equal images and [[FleetCDC.reconcileKeyed]] nets them
    *    to no-ops, the exact downstream-MERGE shape);
    *  - retained files whose VECTOR BINDING changed → both vector
    *    sides are read and anti-joined in BOTH directions: newly
    *    vectored ordinals are the span's DELETES, no-longer-vectored
    *    ordinals its INSERTS (a restore's resurrection is a
    *    representable change). Grown, shrunk, equal-rebind, and mixed
    *    rebinds all route through this one plan — no count heuristic,
    *    because columnar vectors are directly readable parquet.
    *
    * Images are emitted in the `to` declaration (evolution-aware:
    * pre-evolution images null-fill evolved columns). Scale: the
    * driver holds O(changed files) names; the reads touch the changed
    * files and their vectors, never the fleet. Both generations must
    * still be retained — an expired `from` fails loudly. */
  def changes(s: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changes need fromVersion < toVersion " +
        s"(got $fromVersion, $toVersion)")
    val (fs, p) = fsp(s, dir)
    def snapAt(v: Long) = FleetManifest.snapshotAt(fs, p, v).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest version $v at $dir (available: " +
          s"${FleetManifest.versions(fs, p).mkString(", ")})"))
    val fromSnap = snapAt(fromVersion)
    val toSnap = snapAt(toVersion)
    val declared = declaredSchema(s, dir, toSnap)
    val fromSet = fromSnap.files.toSet
    val toSet = toSnap.files.toSet
    val added = toSnap.files.filterNot(fromSet).sorted
    val removed = fromSnap.files.filterNot(toSet).sorted
    val touched = toSnap.files.filter(n => fromSet(n) &&
      fromSnap.dvs.get(n) != toSnap.dvs.get(n)).sorted
    def tagged(df: DataFrame, t: String) =
      df.select(col("*"), lit(t).as(FleetCDC.ChangeTypeCol))
    val parts = Seq.newBuilder[DataFrame]
    if (added.nonEmpty)
      parts += tagged(readFilesAs(s, dir, toSnap, added, declared),
        "insert")
    if (removed.nonEmpty)
      parts += tagged(readFilesAs(s, dir, fromSnap, removed, declared),
        "delete")
    if (touched.nonEmpty) {
      val withMeta = s.read.schema(declared)
        .parquet(touched.map(n => s"$dir/$n"): _*)
        .withColumn("__file", col("_metadata.file_name"))
        .withColumn("__ridx", col("_metadata.row_index"))
      def ords(dvs: Map[String, String]): Option[DataFrame] = {
        val bound = dvs.view.filterKeys(touched.toSet).toMap
        if (bound.isEmpty) None else Some(dvRows(s, dir, bound))
      }
      val fromOrds = ords(fromSnap.dvs)
      val toOrds = ords(toSnap.dvs)
      val keys = Seq("__file", "__ridx")
      val newlyDeleted = (fromOrds, toOrds) match {
        case (None, t) => t
        case (Some(f), Some(t)) => Some(t.join(f, keys, "left_anti"))
        case (_, None) => None
      }
      val resurrected = (fromOrds, toOrds) match {
        case (f, None) => f
        case (Some(f), Some(t)) => Some(f.join(t, keys, "left_anti"))
        case (None, _) => None
      }
      newlyDeleted.foreach(d => parts += tagged(
        withMeta.join(d, keys, "left_semi").drop("__file", "__ridx"),
        "delete"))
      resurrected.foreach(r => parts += tagged(
        withMeta.join(r, keys, "left_semi").drop("__file", "__ridx"),
        "insert"))
    }
    parts.result().reduceOption(_ unionByName _).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(declared.fields :+
          org.apache.spark.sql.types.StructField(
            FleetCDC.ChangeTypeCol,
            org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** NAMED REFS on the columnar tier — the manifest's own immutable
    * tags (shared machinery, shared retention semantics: a tagged
    * generation and its files/vectors survive retention
    * ([[FleetCompact.expireVersions]]) regardless of keepLast, exactly
    * what a training-data RELEASE cut needs —
    * "tag the dataset, retention keeps it, readers address it by
    * name"). `createTag` with no version pins the CURRENT generation;
    * re-pointing requires an explicit `dropTag` (tags are immutable). */
  def createTag(s: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    val (fs, p) = fsp(s, dir)
    val v = version.getOrElse(resolve(s, dir, None).version)
    FleetManifest.createTag(fs, p, name, v)
    v
  }

  def dropTag(s: SparkSession, dir: String, name: String): Boolean = {
    val (fs, p) = fsp(s, dir)
    FleetManifest.dropTag(fs, p, name)
  }

  /** The version a tag pins, loudly absent otherwise — compose with
    * `read`/`scan`/`count`/`minMax`: `read(s, dir,
    * Some(versionOfTag(s, dir, "release-7")))`. */
  def versionOfTag(s: SparkSession, dir: String, name: String): Long = {
    val (fs, p) = fsp(s, dir)
    FleetView.versionAt(fs, p, FleetView.Tag("versionOfTag", name))
  }

  /** TIER MIGRATION: materialize an avro fleet's CURRENT snapshot
    * (merge-on-read view, declared schema, branch-free main) as a
    * committed parquet fleet — the "migrate cold columnar data onto
    * the scan-optimized plane" move this tier exists for. One
    * distributed read → one staged overwrite commit; `clusterBy`
    * range-clusters the target so footer-stats skipping is effective
    * from file one (otherwise the source's layout carries over).
    * The source fleet is untouched; cutover is the caller's rename/
    * catalog step. Returns the target's committed version (1L for a
    * fresh target). */
  def importFromAvroFleet(s: SparkSession, avroDir: String,
      parquetDir: String, clusterBy: Seq[Column] = Nil,
      numFiles: Option[Int] = None): Long = {
    val src = s.read.format("graft-avro").load(avroDir)
    val arranged = (clusterBy, numFiles) match {
      case (Nil, _) => src
      case (cs, Some(n)) =>
        src.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
      case (cs, None) =>
        src.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
    }
    overwrite(arranged, parquetDir)
    resolve(s, parquetDir, None).version
  }

  /** TIMESTAMP addressing, in parity with the avro tier's two AS OF
    * spellings: resolve `raw` (any spelling the fleet options accept —
    * ISO instant/date-time/date or epoch millis) to the LATEST version
    * committed at-or-before it, through the avro tier's addressing
    * rule ([[FleetView.versionAt]]). Compose with `read`/`scan`:
    * `read(s, dir, Some(versionAtTimestamp(s, dir, ts)))`. */
  def versionAtTimestamp(s: SparkSession, dir: String, raw: String): Long = {
    val (fs, p) = fsp(s, dir)
    FleetView.versionAt(fs, p, FleetView.AtOrBefore("timestampAsOf", raw))
  }

  /** METADATA-TIER COUNT(*): the snapshot's row count from its
    * entries' footer stats minus its deletion vectors' cardinalities —
    * NO data file is opened when every file has stats (a missing
    * entry falls back to that one file's footer; vector cardinalities
    * are footer row counts of the small vector files). Exact by
    * construction: committed rows are the parquet footer's row count,
    * and a vector holds DISTINCT in-file ordinals (deduped at write).
    * The 100 TB posture: `SELECT count(*)` on a petabyte fleet is a
    * manifest read plus O(bound files) small-footer reads — the
    * parquet-tier analog of the avro tier's zero-task COUNT pushdown.
    * Falls back to the full vectored read only if metadata is
    * unreadable (advisory-stats posture: never wrong, at worst slow). */
  def count(s: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): Long = {
    val snap = resolve(s, dir, versionAsOf)
    val (fs, p) = fsp(s, dir)
    try {
      val hconf = s.sessionState.newHadoopConf()
      val live = snap.files.map { n =>
        snap.statsOf(n).map(_.rows).getOrElse(
          ParquetFleetStats.fileStats(hconf, new Path(p, n))
            .map(_._2.rows)
            .getOrElse(throw new java.io.IOException(
              s"unreadable footer: $n")))
      }.sum
      val deleted = snap.dvs.values.map { vec =>
        val vdir = new Path(p, vec)
        fs.listStatus(vdir).toSeq
          .filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
          .map(st => ParquetFleetStats.fileStats(hconf, st.getPath)
            .map(_._2.rows)
            .getOrElse(throw new java.io.IOException(
              s"unreadable vector footer: ${st.getPath}")))
          .sum
      }.sum
      live - deleted
    } catch { case scala.util.control.NonFatal(e) =>
      // observable degradation (r21, ADVICE r20 #3): at 100 TB the
      // metadata tier is the ONLY thing making COUNT cheap — a
      // transient footer/listing failure silently turning it into a
      // full fleet scan must be diagnosable
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"parquet fleet count at $dir v${snap.version}: metadata tier " +
          s"unreadable (${e.getClass.getSimpleName}: ${e.getMessage}) " +
          "— falling back to a full vectorized scan", e)
      readFiles(s, dir, snap, snap.files.sorted).count()
    }
  }

  /** MERGE-ON-READ delete: matched rows' (file, row-index) identities
    * land as per-file parquet vectors — data files stay byte-identical,
    * cost tracks the matched rows, history time-travels. One
    * distributed `partitionBy(file)` job writes every touched file's
    * vector (existing bindings union in-plan); the commit swaps
    * bindings under the manifest's per-file compare-and-set. */
  def delete(s: SparkSession, dir: String, condition: Column): Unit = {
    val (fs, p) = fsp(s, dir)
    val snap = resolve(s, dir, None)
    // stats-pruned candidates: a file whose stats PROVE the
    // condition matches no row holds no hits — a surgical delete at
    // 100 TB scans the files it might touch, not the fleet
    val (cands, _) = pruneFiles(s, dir, snap, condition)
    if (cands.isEmpty) return
    val withMeta = s.read.schema(declaredSchema(s, dir, snap))
      .parquet(cands.map(n => s"$dir/$n"): _*)
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__ridx", col("_metadata.row_index"))
    // the condition applies to LIVE rows only (already-deleted rows
    // must not re-match; harmless here — re-deleting is idempotent —
    // but the union below must not duplicate ordinals)
    val hits = withMeta.filter(condition)
      .select(col("__file"), col("__ridx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1 (over the persisted hits): the touched-file list,
      // O(touched files) driver rows. Only TOUCHED files' vectors are
      // re-derived and re-bound — untouched files keep their bindings
      // verbatim, so per-delete cost tracks THIS delete (not every
      // delete ever) and file-disjoint deletes commute under the
      // per-file compare-and-set
      val touchedFiles = hits.select("__file").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (touchedFiles.isEmpty) return
      val existingMap = touchedFiles
        .flatMap(f => snap.dvs.get(f).map(f -> _)).toMap
      val existing =
        if (existingMap.isEmpty) None
        else Some(dvRows(s, dir, existingMap))
      val all = (existing.toSeq :+ hits).reduce(_ union _).distinct()
      val t = tag()
      val gen = s"$DvDir/gen-$t"
      all.select(col("__file"), col("__ridx").as("ridx"))
        .repartition(col("__file"))
        .write.partitionBy("__file").parquet(s"$dir/$gen")
      // one binding per touched file: the partition directory IS the
      // vector (readable alone); untouched files keep their binding
      val touched = fs.listStatus(new Path(p, gen)).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("__file="))
        .map(d => java.net.URLDecoder.decode(
          d.stripPrefix("__file="), "UTF-8") -> s"$gen/$d")
      if (touched.isEmpty) { fs.delete(new Path(p, gen), true); return }
      FleetManifest.commit(fs, p,
        update = identity,
        bootstrap = Seq.empty,
        dvUpdate = touched.map { case (f, v) => f -> Option(v) }.toMap,
        // CAS: the bindings this delete READ (absence included) — a
        // racing MOR delete that swapped a touched file's vector
        // conflicts loudly
        requireDvs = touched.map { case (f, _) =>
          f -> snap.dvs.get(f) }.toMap)
      ()
    } finally { hits.unpersist(); () }
  }

  /** COMPACTION — the `rewrite_files` analog: materialize the bound
    * deletion vectors into DENSE files. Reads the current MOR view,
    * rewrites it as fresh part files, and swaps generations in ONE
    * commit (every old data file out, the dense set in — retired
    * files drop their bindings with them; prior versions keep reading
    * until retention). `requireInBase` + the binding compare-and-set
    * make a concurrent writer or MOR delete conflict loudly instead
    * of losing rows/deletes under the swap. No-op on a vector-less
    * fleet unless `clusterBy` asks for a re-layout.
    *
    * `clusterBy` RANGE-CLUSTERS the dense files on the given columns
    * (range repartition + in-partition sort — the layout the footer
    * stats skip best: disjoint per-file bounds make `scan`'s pruning
    * proofs surgical). The maintenance story at 100 TB: ingest appends
    * land in arrival order; a periodic clustered compaction restores
    * skip-effective layout, the zorder analog for the columnar tier.
    * Without `numFiles`, AQE right-sizes the shuffle into
    * target-sized files (the cluster default); pass it to pin an
    * exact file count. */
  def compact(s: SparkSession, dir: String,
      clusterBy: Seq[Column] = Nil,
      numFiles: Option[Int] = None): Unit = {
    val (fs, p) = fsp(s, dir)
    val snap = resolve(s, dir, None)
    if (snap.dvs.isEmpty && clusterBy.isEmpty) return
    val t = tag()
    val staging = new Path(p, s".staging-$t")
    val view = read(s, dir)
    val arranged =
      if (clusterBy.isEmpty) view
      else numFiles match {
        case Some(n) => view.repartitionByRange(n, clusterBy: _*)
          .sortWithinPartitions(clusterBy: _*)
        case None => view.repartitionByRange(clusterBy: _*)
          .sortWithinPartitions(clusterBy: _*)
      }
    arranged.write.parquet(staging.toString)
    val parts = fs.listStatus(staging).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val names = parts.zipWithIndex.map { case (st, i) =>
      val n = f"part-$i%05d-$t.parquet"
      if (!fs.rename(st.getPath, new Path(p, n)))
        throw new java.io.IOException(
          s"cannot stage ${st.getPath} as $n in $dir")
      n
    }
    val oldFiles = snap.files.toSet
    // fresh dense files get fresh footer stats; the retired files'
    // entries stay in the retained versions for time travel
    FleetManifest.commit(fs, p,
      update = base => base.filterNot(oldFiles) ++ names,
      bootstrap = Seq.empty,
      requireInBase = oldFiles,
      requireDvs = snap.files.map(f => f -> snap.dvs.get(f)).toMap,
      stats = ParquetFleetStats.capture(s, dir, names))
    fs.delete(staging, true)
    ()
  }

  /** METADATA-TIER global MIN/MAX of one column: files WITHOUT a
    * deletion vector answer from their committed bounds (no read at
    * all); files WITH a vector re-scan — a deleted row may have BEEN
    * the extremum, so their bounds are outer, not exact — as do files
    * without usable stats. At 100 TB: MIN/MAX over a
    * petabyte fleet reads exactly the DV-bound files, usually a
    * surgical-delete handful. Returns the bounds in the stats'
    * carrier spelling (integrals as Long, floats as Double, temporals
    * as their epoch-µs/epoch-day longs, String/Boolean as-is);
    * `(None, None)` means every row of the column is NULL (SQL MIN/MAX
    * semantics — nulls are ignored). */
  def minMax(s: SparkSession, dir: String, colName: String,
      versionAsOf: Option[Long] = None): (Option[Any], Option[Any]) = {
    val snap = resolve(s, dir, versionAsOf)
    // proven = DV-free AND committed stats carrying THIS column (an
    // entry without it means the column's stats were dropped — NaN,
    // unsound type — so that file re-scans; an all-null column is a
    // present entry with absent bounds and contributes nothing, the
    // SQL null semantics)
    val (proven, scanFiles) = snap.files.sorted.partition { n =>
      !snap.dvs.contains(n) &&
        snap.statsOf(n).exists(_.cols.contains(colName))
    }
    val sidecarBounds = proven.flatMap(n =>
      snap.statsOf(n).get.cols.get(colName))
      .flatMap(cs => cs.min.zip(cs.max))
    // scanned extrema normalize to the sidecar's carrier spelling so
    // callers see ONE type family regardless of which tier answered
    def carrier(v: Any): Any = v match {
      case t: java.sql.Timestamp =>
        Long.box(FleetFilters.temporalLong(t).get)
      case d: java.sql.Date => Long.box(FleetFilters.temporalLong(d).get)
      case i: java.time.Instant =>
        Long.box(FleetFilters.temporalLong(i).get)
      case ld: java.time.LocalDate =>
        Long.box(FleetFilters.temporalLong(ld).get)
      case f: java.lang.Float => Double.box(f.doubleValue())
      case n: java.lang.Integer => Long.box(n.longValue())
      case n: java.lang.Short => Long.box(n.longValue())
      case n: java.lang.Byte => Long.box(n.longValue())
      case other => other
    }
    val scanned: Option[(Any, Any)] =
      if (scanFiles.isEmpty) None
      else {
        val row = readFiles(s, dir, snap, scanFiles)
          .agg(min(col(colName)), max(col(colName))).head()
        if (row.isNullAt(0)) None
        else Some((carrier(row.get(0)), carrier(row.get(1))))
      }
    val mins = sidecarBounds.map(_._1) ++ scanned.map(_._1)
    val maxs = sidecarBounds.map(_._2) ++ scanned.map(_._2)
    (mins.reduceOption((a, b) => if (FleetFilters.cmp(a, b) <= 0) a else b),
      maxs.reduceOption((a, b) => if (FleetFilters.cmp(a, b) >= 0) a else b))
  }

  val DvDir = "_dv_parquet"
}
