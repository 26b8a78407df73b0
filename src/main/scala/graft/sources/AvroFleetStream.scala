package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.util.SerializableHadoopConf

/** The fleet as a STREAMING SOURCE
  * (`spark.readStream.format("graft-avro").load(dir)`): each
  * micro-batch is the set of container files that appeared since the
  * last offset — the natural dual of the `foreachBatch` fleet sink, so
  * a fleet landing zone feeds a downstream streaming job directly
  * (land → stream → transform → land, all on the same directory
  * contract).
  *
  * Offsets: a [[FleetSourceOffset]] is the ordered list of file paths
  * the stream has admitted — file sets difference cleanly, recovery is
  * exact (the offset log replays the same batch from the same file
  * list), and admission order is deterministic ((mtime, path) sort, so
  * a restart discovers files in the order they landed, ties by name).
  * Past `offsetInlineLimit` files (default 1000) the list COMPACTS to
  * a content-addressed MANIFEST under the query's own checkpoint
  * directory and the logged offset becomes a pointer — the seen-files
  * log Spark's FileStreamSource keeps, so the offset log stays O(1)
  * per batch at any fleet size. The manifest is keyed by the MD5 of
  * its content, so re-serializing the same offset (or replaying a
  * batch) rewrites the identical file — idempotent by construction —
  * and offset EQUALITY always compares the resolved file list, never
  * the representation.
  *
  * Seen-set RETENTION (`option("maxFileAge", "7d")`): without it the
  * admitted list — and every manifest rewrite — grows O(all files
  * ever) on a years-lived landing zone. With it the offset carries
  * each entry's mtime plus a WATERMARK = max(admitted mtime) −
  * maxFileAge: entries older than the watermark age OUT of the seen
  * set, and files older than the watermark are never admitted at all
  * (they cannot re-enter as duplicates) — Spark FileStreamSource's
  * `maxFileAge` posture, so per-trigger state is O(files within the
  * age window). The watermark is monotonic and admission-driven
  * (never advanced by files the read limit deferred, so a
  * `maxFilesPerTrigger` backlog cannot starve itself). Enable it on a
  * NEW checkpoint: legacy offsets carry no mtimes (they are
  * backfilled from the live listing on the first trigger, and
  * already-deleted entries age out safely).
  *
  * Discovery contract: on a TRANSACTIONAL fleet (committed
  * `_manifest/`) the listing resolves the current [[FleetManifest]]
  * snapshot, so only job-committed files are ever admitted — a
  * crashed appender's task-committed strays are invisible, exactly as
  * in batch. On a manifest-less directory a file is admitted once its
  * FINAL name exists (the V2 committer's task-commit rename is
  * atomic); the batch-side `_SUCCESS` gate is deliberately not
  * required — a streaming tail reads a LIVE directory, where
  * job-level completeness is never available. Files are assumed
  * immutable once named (the fleet protocol) and never admitted
  * twice.
  *
  * An admitted file that VANISHES before its batch is read (a
  * compaction, retention pass, or DELETE racing the stream) FAILS the
  * batch by default — silently skipping it would drop its rows from
  * the stream, upstream Spark's `spark.sql.files.ignoreMissingFiles`
  * = false posture. Opt into skip-with-warning per source
  * (`option("ignoreMissingFiles", "true")`) or session-wide via the
  * Spark conf; the durable fix is retention discipline
  * ([[FleetCompact.expireVersions]] keeps retired generations on disk
  * until consumers pass).
  *
  * Column pruning reaches the per-file readers exactly as in batch
  * (the stream is built from the pruned scan); pushed filters
  * row-filter inside the reader. AvailableNow snapshots the listing
  * ONCE at query start ([[SupportsTriggerAvailableNow]]) so a bounded
  * replay cannot chase late arrivals.
  */
private[graft] class AvroFleetMicroBatchStream(tableSchema: StructType,
    columns: Array[String], path: String, maxFileBytes: Long,
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf,
    maxFilesPerTrigger: Option[Int] = None,
    evolve: Boolean = false,
    checkpointLocation: String = "",
    offsetInlineLimit: Int = 1000,
    maxFileAgeMs: Option[Long] = None,
    ignoreMissingFiles: Option[Boolean] = None,
    startingVersion: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    branch: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val store: Option[FleetSourceOffset.ManifestStore] =
    if (checkpointLocation.isEmpty) None
    else Some(new FleetSourceOffset.ManifestStore(checkpointLocation,
      offsetInlineLimit, conf))

  private def fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(conf.value)

  /** Live listing as (path, mtime), tolerant of a not-yet-created
    * directory, in deterministic (mtime, path) admission order. A
    * transactional fleet lists its committed manifest snapshot; a
    * legacy directory lists raw final names. */
  private def listNow(): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs
    if (!f.exists(p)) Seq.empty
    else {
      val base = FleetManifest.resolve(f, p, None, branch).getOrElse(
        AvroFleetCommits.dataFileStatuses(f, p))
      base.sortBy(st => (st.getModificationTime, st.getPath.toString))
        .map(st => st.getPath.toString -> st.getModificationTime)
    }
  }

  @volatile private var availableNowCap: Option[Seq[(String, Long)]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(listNow())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(
      ReadLimit.allAvailable())

  /** A fresh checkpoint starts EMPTY (the whole directory is backlog)
    * unless `startingVersion` names a manifest generation to start
    * AFTER: that snapshot's files are pre-seeded as seen, so the
    * stream emits only what was committed since — the incremental-
    * consumer contract ("tail everything after yesterday's snapshot"
    * without replaying the snapshot itself). mtimes are backfilled
    * from the live listing where the files still exist; an
    * already-expired seen file backfills 0 and ages out safely. */
  override def initialOffset(): Offset = startingVersion match {
    case None => FleetSourceOffset(Seq.empty, None, store)
    case Some(v) =>
      val p = new org.apache.hadoop.fs.Path(path)
      val f = fs
      val snap = FleetManifest.snapshotAtRef(f, p, v, branch).getOrElse(
        throw new IllegalArgumentException(
          s"startingVersion=$v: no such manifest version at $path " +
            s"(available: ${FleetManifest.versions(f, p).mkString(", ")})"))
      val listed = listNow().map { case (fp, m) =>
        new org.apache.hadoop.fs.Path(fp).getName -> (fp, m)
      }.toMap
      val seeded = snap.files.map { n =>
        listed.getOrElse(n,
          (new org.apache.hadoop.fs.Path(p, n).toString, 0L))
      }
      FleetSourceOffset(seeded, None, store)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = FleetSourceOffset.of(start, store)
    val now = availableNowCap.getOrElse(listNow())
    val wm = startOff.watermark.getOrElse(Long.MinValue)
    val seenSet = startOff.files.toSet
    val candidates = now.filter { case (p2, m) =>
      m >= wm && !seenSet(p2)
    }
    val admitted = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        candidates.take(mf.maxFiles())
      case _ => candidates
    }
    // PIN each admitted file's deletion-vector binding at admission
    // (one manifest read per admitting trigger): the batch that reads
    // the file — now or on a post-restart replay — reads under THIS
    // binding, so batch contents stay a deterministic function of the
    // offset range even when a merge-on-read delete grows the vector
    // between admission and (re)planning (r16 ADVICE). No pin = no
    // vector at admission = the file reads raw, forever.
    val admittedPins: Map[String, String] =
      if (admitted.isEmpty) Map.empty
      else {
        val fleetP = new org.apache.hadoop.fs.Path(path)
        val f = fs
        val bound = FleetManifest.select(f, fleetP, None, branch)
          .map(_.dvs).getOrElse(Map.empty)
        if (bound.isEmpty) Map.empty
        else admitted.flatMap { case (ap, _) =>
          bound.get(new org.apache.hadoop.fs.Path(ap).getName).map(rel =>
            ap -> f.makeQualified(
              new org.apache.hadoop.fs.Path(fleetP, rel)).toString)
        }.toMap
      }
    maxFileAgeMs match {
      case None =>
        FleetSourceOffset(
          startOff.entries ++ admitted, None, store,
          startOff.dvs ++ admittedPins)
      case Some(age) =>
        // legacy resume (entries without mtimes): backfill from the
        // live listing so real ages drive eviction; an entry no longer
        // listed was deleted and can never be re-admitted — safe to age
        val listed = now.toMap
        val carried = startOff.entries.map {
          case (p2, 0L) => p2 -> listed.getOrElse(p2, 0L)
          case e => e
        }
        // watermark advances only on ADMITTED mtimes (a deferred
        // backlog under maxFilesPerTrigger must not starve itself),
        // and the ADVANCED watermark applies only to FUTURE
        // admission/eviction — every file admitted THIS trigger stays
        // in the end offset so its rows are read in the batch that
        // discovered it, even when its mtime falls below the
        // watermark its own trigger advanced. (FileStreamSource's
        // purge-after-batch ordering: discovery in trigger T is
        // processed in T; expiry filters what T+1 may admit. The
        // alternative — expiring at admission — silently skips the
        // entire backlog older than (newest mtime − age) on a fresh
        // checkpoint over an aged directory.) A kept-but-expired
        // entry is evicted from the CARRIED seen set next trigger and
        // can never re-admit: the monotonic watermark already
        // excludes it from candidacy.
        val maxAdmitted = (admitted.map(_._2) :+ wm)
          .foldLeft(Long.MinValue)(math.max)
        val newWm =
          if (maxAdmitted == Long.MinValue) wm
          else math.max(wm, maxAdmitted - age)
        val kept = carried.filter(_._2 >= newWm) ++ admitted
        val keptPaths = kept.map(_._1).toSet
        FleetSourceOffset(kept, Some(newWm), store,
          (startOff.dvs ++ admittedPins).filter(e => keptPaths(e._1)))
    }
  }

  override def reportLatestOffset(): Offset =
    FleetSourceOffset(listNow(), None, store)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val before = FleetSourceOffset.of(start, store).files.toSet
    val batch = FleetSourceOffset.of(end, store).files.filterNot(before)
    val f = fs
    // a file unlinked AFTER admission (compaction/DELETE/retention
    // racing the stream): losing its rows silently is upstream
    // Spark's ignoreMissingFiles=true behavior — OPT-IN, default fail
    val skipMissing = ignoreMissingFiles.getOrElse(
      SparkSession.active.sessionState.conf.ignoreMissingFiles)
    val statuses = batch.flatMap { p =>
      try Some(f.getFileStatus(new org.apache.hadoop.fs.Path(p)))
      catch {
        case e: java.io.FileNotFoundException if skipMissing =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"admitted fleet file vanished before read, skipping: $p")
          None
        case _: java.io.FileNotFoundException =>
          throw new java.io.FileNotFoundException(
            s"admitted fleet file vanished before read: $p — a " +
              "compaction/DELETE raced the stream. Retain retired " +
              "generations until consumers pass " +
              "(FleetCompact.expireVersions), or opt into silent " +
              "skip with option(\"ignoreMissingFiles\",\"true\") / " +
              "spark.sql.files.ignoreMissingFiles=true")
      }
    }
    // deletion vectors: a file reads under the binding PINNED in its
    // admission offset — never the currently-bound vector — so
    // replaying a logged offset range after a driver restart yields
    // the same rows the original execution did, even when a
    // merge-on-read delete grew the vector since (exactly-once replay
    // for recovering sinks; r16 ADVICE). A legacy-checkpoint entry
    // (admitted before pinning existed) carries no pin and reads raw.
    val pins = FleetSourceOffset.of(end, store).dvs
    val byPath = statuses.flatMap(st =>
      pins.get(st.getPath.toString)
        .map(full => st.getPath.toString -> DvPartSpec(full))).toMap
    AvroFleetScan.planGroups(statuses, maxFileBytes, byPath)
      .toArray[InputPartition]
  }

  // aliases travel with the stream exactly as in batch: a readStream
  // over an ALTERed fleet must resolve renamed columns in pre-rename
  // files, not silently null them
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroFleetReaderFactory(tableSchema, columns, None, filters, conf,
      evolve = evolve, aliases = aliases)

  override def deserializeOffset(json: String): Offset =
    FleetSourceOffset.fromJson(json, store)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The fleet's CHANGE FEED as a streaming source
  * (`spark.readStream.format("graft-avro")
  * .option("readChangeFeed", "true").load(dir)`): the streaming twin
  * of [[FleetCDC.changes]], tailing MANIFEST GENERATIONS instead of
  * raw files. Each micro-batch is the net file diff between two
  * committed versions, every row tagged with a trailing
  * `_change_type` ∈ ('insert', 'delete') — appends surface as
  * inserts, metadata-retired files as deletes, a copy-on-write
  * rewrite as delete(pre-image) + insert(post-image) of the touched
  * files (file-granular, [[FleetCDC]]'s documented contract; key on
  * row identity downstream to net survivors out, or consume a keyed
  * batch range via [[FleetCDC.changesKeyed]]).
  *
  * Offsets are MANIFEST VERSIONS — one long, exact resume by
  * construction (the offset log replays the same version range), no
  * seen-file set to retain at any fleet size. A fresh checkpoint
  * starts at the CURRENT version (only future commits stream);
  * `option("startingVersion", v)` starts after generation v instead
  * (`startingVersion=0` replays the full retained history — the
  * initial snapshot arrives as generation 1's inserts). Versions
  * committed while the stream is down are drained on restart; a
  * version range whose snapshots were expired by retention
  * ([[FleetCompact.expireVersions]]) fails loudly — the stream must
  * not silently skip changes (re-seed the consumer from a full scan
  * instead).
  *
  * Only transactional fleets (committed `_manifest/`) have a change
  * feed; a manifest-less directory fails at first offset resolution.
  * Each batch is planned by [[FleetCDC.plan]] — the batch range's
  * planner — as packed, tagged groups. Column pruning reaches the
  * per-file readers exactly as in batch; pushed row filters apply to
  * DATA columns (and skip changed files by their stats), while a
  * filter on the synthesized `_change_type` prunes whole tagged sides
  * (`changeTags`) and stays with Spark. AvailableNow caps the drain
  * at the version current when the query started. */
private[sources] class AvroFleetCdcMicroBatchStream(
    dataSchema: StructType, columns: Array[String], path: String,
    maxFileBytes: Long,
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf,
    evolve: Boolean = false,
    startingVersion: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    branch: Option[String] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    changeTags: Set[String] = FleetCDC.tagsOf(Nil))
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ > 0L),
    s"maxVersionsPerTrigger must be positive (got " +
      s"${maxVersionsPerTrigger.getOrElse(0L)})")

  private def p = new org.apache.hadoop.fs.Path(path)
  private def fs = p.getFileSystem(conf.value)

  private def currentVersion(): Long = FleetCDC.head(fs, p, branch)

  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion())

  override def initialOffset(): Offset = startingVersion match {
    case Some(v) =>
      if (v > 0 && FleetManifest.snapshotAtRef(fs, p, v, branch).isEmpty)
        throw new IllegalArgumentException(
          s"startingVersion=$v: no such manifest version at $path " +
            s"(available: ${FleetManifest.versions(fs, p).mkString(", ")})")
      FleetCdcOffset(v)
    case None => FleetCdcOffset(currentVersion())
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is used")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // Without a cap, each trigger drains every pending generation (a
  // version is the commit-sized unit of change; per-FILE admission
  // caps don't apply). `option("maxVersionsPerTrigger", k)` bounds the
  // per-batch span to k generations so a consumer that was down for
  // 10k versions drains its backlog across ≥10k/k bounded micro-
  // batches instead of one unbounded endpoint diff (each batch is
  // still a NET diff over its own ≤k-version span — netting semantics
  // per batch are unchanged, and exact checkpoint resume holds at any
  // batch boundary because offsets stay plain manifest versions).
  // Under AvailableNow the cap composes: the drain stops at the
  // version snapshotted at query start, in bounded steps.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = currentVersion()
    val avail = availableNowCap.fold(cur)(math.min(cur, _))
    val bounded = maxVersionsPerTrigger.fold(avail)(k =>
      math.min(avail, FleetCdcOffset.of(start).version + k))
    // never step backwards: a start already past the bound (a branch
    // rewind cannot happen; a stale availableNowCap can) stays put
    FleetCdcOffset(math.max(bounded, FleetCdcOffset.of(start).version))
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] =
    FleetCDC.plan(fs, p, FleetCdcOffset.of(start).version,
      FleetCdcOffset.of(end).version, branch, maxFileBytes, changeTags,
      filters.toSeq).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new FleetCdcReaderFactory(dataSchema, columns, filters, conf, evolve,
      aliases)

  override def deserializeOffset(json: String): Offset =
    FleetCdcOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Change-feed offset: the manifest version the stream has consumed
  * THROUGH (inclusive). */
private[sources] case class FleetCdcOffset(version: Long) extends Offset {
  override def json(): String = s"""{"cdcVersion":$version}"""
}

private[sources] object FleetCdcOffset {
  def fromJson(json: String): FleetCdcOffset =
    org.json4s.jackson.JsonMethods.parse(json) \ "cdcVersion" match {
      case org.json4s.JInt(v) => FleetCdcOffset(v.toLong)
      case _ => throw new IllegalArgumentException(
        s"malformed fleet CDC offset: $json")
    }
  def of(o: Offset): FleetCdcOffset = o match {
    case c: FleetCdcOffset => c
    case other => fromJson(other.json())
  }
}

/** One change-feed read partition: a packed group of one side's
  * splits, plus the side of the diff (`insert` / `delete`) its rows
  * belong to. */
private[graft] case class FleetCdcPartition(group: AvroFileGroup,
    tag: String) extends InputPartition

/** Wraps the ordinary group reader, appending the partition's
  * constant `_change_type` at its projected position (pruned away
  * entirely when the query never selects it). */
private[sources] class FleetCdcReaderFactory(dataSchema: StructType,
    columns: Array[String],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf, evolve: Boolean,
    aliases: Map[String, Seq[String]]) extends PartitionReaderFactory {

  private val inner = new AvroFleetReaderFactory(dataSchema,
    columns.filterNot(_ == FleetCDC.ChangeTypeCol), None, filters, conf,
    evolve = evolve, aliases = aliases)

  override def createReader(part: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val FleetCdcPartition(group, tag) = part
    val r = inner.createReader(group)
    val ctIdx = columns.indexOf(FleetCDC.ChangeTypeCol)
    if (ctIdx < 0) r
    else {
      val innerCols = columns.filterNot(_ == FleetCDC.ChangeTypeCol)
      val innerTypes = innerCols.map(c =>
        dataSchema(dataSchema.fieldIndex(c)).dataType)
      val tagVal = org.apache.spark.unsafe.types.UTF8String.fromString(tag)
      new org.apache.spark.sql.connector.read.PartitionReader[
          org.apache.spark.sql.catalyst.InternalRow] {
        override def next(): Boolean = r.next()
        override def get(): org.apache.spark.sql.catalyst.InternalRow = {
          val in = r.get()
          val out = new Array[Any](columns.length)
          var i = 0
          var j = 0
          while (i < columns.length) {
            if (i == ctIdx) out(i) = tagVal
            else {
              out(i) =
                if (in.isNullAt(j)) null else in.get(j, innerTypes(j))
              j += 1
            }
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(out)
        }
        override def close(): Unit = r.close()
      }
    }
  }
}

/** Epoch-keyed streaming sink commit — see the `toStreaming` scaladoc
  * in [[AvroFleetWriteBuilder]]. The per-epoch commit is the batch
  * commit's shape (sidecar stats merged, manifest generation
  * published, `_SUCCESS` re-marked last); abort deletes the epoch's
  * tag-matched files so a failed epoch leaves the previous
  * generations complete, and the epoch's retry re-lands them.
  *
  * SINGLE-WRITER FENCING ("one streaming writer per fleet by
  * contract", now enforced): the writer identity is its CHECKPOINT
  * (MD5 of `checkpointLocation` — stable across restarts of the same
  * query, distinct for any other query), held in a `_stream.lock`
  * lease the owner refreshes on every factory creation and epoch
  * commit. A second writer with a DIFFERENT checkpoint fails loudly
  * while the lease is fresh (`writerLeaseMs`, default 5 min); a
  * crashed writer's lease expires and a successor takes over. Resume
  * from the same checkpoint is always allowed — that is the
  * exactly-once replay the epoch-keyed names exist for.
  *
  * LINEAGE-TAGGED epoch names: every file carries the writer's
  * checkpoint lineage — `part-N-<lineage8>-eM.avro` — so two
  * checkpoints' epoch numbering can NEVER collide on a name (a fresh
  * checkpoint restarts at epoch 0; with untagged names its files
  * would land on the original query's). Lineage is derived from the
  * checkpoint PATH, so deleting a checkpoint and starting a new
  * query at the same path inherits the old lineage: its early epochs
  * are treated as already-certified and skipped — the same posture
  * as FileStreamSink's metadata log for a reused sink directory; use
  * a fresh checkpoint location for a genuinely new query. Within one lineage a replayed
  * epoch re-derives the same rows from the same offsets, and the
  * task writer keeps the first committed file (a byte-compare cannot
  * certify the replay — Avro OCFs embed a RANDOM sync marker, so two
  * writes of identical records differ in bytes; lengths still match,
  * and a length MISMATCH on a same-lineage name means broken replay
  * determinism, failed loudly).
  *
  * Epoch RECONCILIATION: before certifying epoch E, any on-disk
  * `-<lineage8>-eE` file this commit's tasks did not produce is
  * deleted — the leftovers of a wider crashed attempt of the same
  * epoch (e.g. a replay after the input partitioning narrowed) —
  * UNLESS the current manifest references it: a manifest-committed
  * file from a previously-certified attempt of this epoch must
  * survive a narrowed replay (the replay's own files then dedup
  * against it by name). Reconciling keeps the directory's physical
  * state equal to the committed state. */
private[sources] class AvroFleetStreamingWrite(schemaJson: String,
    schema: StructType, dir: String, codec: String,
    writerTag: String, leaseMs: Long)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}

  private def fleetFs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(SparkSession.active.sessionState.newHadoopConf())

  // the lineage infix in every epoch file name — checkpoint-derived,
  // so cross-checkpoint name collisions are impossible by construction
  private val lineage = writerTag.take(8)

  // Were this fleet's LEGACY (pre-lineage-tag) epoch files written by
  // OUR checkpoint? Decidable only from the prior lock owner, read
  // BEFORE our first acquire overwrites it: same owner tag = the same
  // query resumed across the naming upgrade, so its legacy epochs are
  // ours to dedup against; anything else (no lock, foreign owner)
  // means legacy names belong to a DIFFERENT query and must never
  // make a new query skip its own epochs.
  @volatile private var legacyEpochsOurs = false
  @volatile private var priorOwnerRead = false
  @volatile private var plannedChecks: Option[Map[String, String]] = None

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    val conf = new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf())
    val f = fleetFs
    f.mkdirs(new org.apache.hadoop.fs.Path(dir))
    if (!priorOwnerRead) {
      legacyEpochsOurs = FleetWriterLock.owner(f,
        new org.apache.hadoop.fs.Path(dir)).contains(writerTag)
      priorOwnerRead = true
    }
    FleetWriterLock.acquire(f, new org.apache.hadoop.fs.Path(dir),
      writerTag, leaseMs)
    val names = schema.fields.map(_.name)
    val types = schema.fields.map(_.dataType)
    val sj = schemaJson
    val d = dir
    val c = codec
    val lin = lineage
    // CHECK constraints gate the streaming sink too — bound on the
    // driver per factory creation, evaluated per row in the epoch task.
    // The resolved set rides every epoch commit's requireChecks
    // compare-and-set: a constraint added mid-stream fails the NEXT
    // epoch loudly (restarting the query adopts the new set).
    val rawChecks = FleetChecks.read(f, new org.apache.hadoop.fs.Path(dir))
    plannedChecks = Some(rawChecks)
    val checks = FleetChecks.bind(SparkSession.active, rawChecks, schema)
    new org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long)
          : org.apache.spark.sql.connector.write.DataWriter[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val w = new AvroFleetDataWriter(sj, names, types, d,
          partitionId, taskId, s"$lin-e$epochId", conf, c,
          strictExisting = true)
        if (checks.isEmpty) w
        else new CheckedDataWriter(w, checks, names, types, partitionId)
      }
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fleetFs
    val p = new org.apache.hadoop.fs.Path(dir)
    // still fenced? a successor that took over after our lease lapsed
    // must not let us certify a stale epoch on top of its stream
    FleetWriterLock.acquire(f, p, writerTag, leaseMs)
    // reconcile: drop THIS lineage's -e{epochId} strays a wider
    // crashed attempt left — but never a MANIFEST-committed file (a
    // previously-certified attempt of this epoch that the checkpoint
    // log missed: a narrowed replay must not delete files the current
    // generation still references)
    val committed = messages.collect {
      case AvroFleetCommitMessage(parts) => parts.map { case (file, _) =>
        new org.apache.hadoop.fs.Path(file).getName
      }
    }.flatten.toSet
    val inManifest = FleetManifest.current(f, p)
      .map(_.files.toSet).getOrElse(Set.empty[String])
    // ALREADY-CERTIFIED epoch: the manifest references this epoch's
    // files — either this lineage's (a replay after the checkpoint
    // log missed the commit; a WIDENED replay's extra partitions even
    // land new names) or, ONLY when the prior lock owner proves the
    // legacy files are this same query's (resumed across the naming
    // upgrade), legacy pre-lineage-tag names. A new query appending
    // to an old sink must never match a previous query's legacy
    // epoch numbering — that would silently drop its early epochs.
    val legacyName = ("part-\\d{5}-e" +
      java.util.regex.Pattern.quote(epochId.toString) + "\\.avro").r
    val alreadyCertified = inManifest.exists(n =>
      n.endsWith(s"-$lineage-e$epochId.avro") ||
        (legacyEpochsOurs && legacyName.pattern.matcher(n).matches()))
    if (alreadyCertified) {
      committed.filterNot(inManifest).foreach { n =>
        f.delete(new org.apache.hadoop.fs.Path(p, n), false)
      }
      return
    }
    f.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(s"-$lineage-e$epochId.avro") &&
          !committed(n) && !inManifest(n))
        f.delete(st.getPath, false)
    }
    AvroFleetCommits.commitFleet(f, p, messages,
      requireChecks = plannedChecks)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fleetFs
    val p = new org.apache.hadoop.fs.Path(dir)
    // lineage-scoped AND never a manifest-committed file: a failed
    // epoch rolls back only its own lineage's uncommitted files and
    // temps (epoch names are collision-free across lineages, but a
    // certified earlier attempt of this very epoch may be in the
    // manifest — it must survive)
    val committed = FleetManifest.current(f, p)
      .map(_.files.toSet).getOrElse(Set.empty[String])
    // exact epoch tag: "-e1" must not match "-e10"/"-e12"
    AvroFleetCommits.abortFleet(f, p,
      n => (n.contains(s"-$lineage-e$epochId.avro") ||
        n.contains(s"-$lineage-e$epochId-attempt")) && !committed(n))
  }
}

/** The streaming sink's writer lease — `_stream.lock` holds the
  * current owner tag; its mtime is the lease heartbeat. Advisory
  * contract enforcement (a second STREAMING writer is a
  * misconfiguration to surface, not a correctness hole — the manifest
  * commit is what guards the data), so the tiny write race between
  * two first-ever acquirers is acceptable: both believe they own the
  * lock, the next heartbeat of the loser detects the foreign tag and
  * fails its query. */
private[sources] object FleetWriterLock {
  val FileName = "_stream.lock"

  def acquire(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, owner: String,
      leaseMs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, FileName)
    if (fs.exists(p)) {
      val st = fs.getFileStatus(p)
      val in = fs.open(p)
      val cur = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      if (cur != owner &&
          System.currentTimeMillis() - st.getModificationTime <= leaseMs)
        throw new java.io.IOException(
          s"fleet at $dir already has an active streaming writer " +
            s"(owner $cur, lease fresh within ${leaseMs}ms) — one " +
            "streaming writer per fleet; stop the other query, resume " +
            "its checkpoint, or wait for its lease to lapse")
    }
    // take/refresh: tmp + rename-over (the FleetLayout marker pattern)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(owner.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) { fs.delete(tmp, false); () }
  }

  /** The lock's current owner tag (regardless of lease freshness), or
    * None when no streaming writer ever held the fleet. */
  def owner(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, FileName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }
}

/** Offset = the ordered list of admitted files — paths alone in
  * legacy/no-retention mode, (path, mtime) pairs plus the eviction
  * watermark under `maxFileAge`. Serializes inline up to the inline
  * limit; beyond it the list lands in a content-addressed manifest
  * file (idempotent: same content → same name) and the logged JSON is
  * a pointer — see the stream scaladoc. Equality/hashCode are on the
  * RESOLVED (files, watermark, dvs) only, so all representations of
  * one offset compare equal.
  *
  * `dvs` PINS each admitted file's deletion-vector binding (full
  * vector path) as of its ADMISSION trigger: batch contents must be a
  * deterministic function of the offset range — replaying a logged
  * range after a driver restart must yield the SAME rows even when a
  * merge-on-read delete grew the file's vector since (r16 ADVICE) —
  * so the plan reads under the pinned binding, never the current
  * manifest's. Absence of a pin = the file had no vector when
  * admitted and reads raw, forever (rows vectored after admission are
  * not retro-hidden — the append-only contract; the change feed is
  * the mutation-aware read). */
private[graft] class FleetSourceOffset(
    val entries: Seq[(String, Long)],
    val watermark: Option[Long] = None,
    store: Option[FleetSourceOffset.ManifestStore] = None,
    val dvs: Map[String, String] = Map.empty)
    extends Offset {

  def files: Seq[String] = entries.map(_._1)

  override def json(): String = store match {
    case Some(st) if entries.size > st.inlineLimit =>
      st.write(entries, watermark, dvs)
    case _ => FleetSourceOffset.renderInline(entries, watermark, dvs)
  }

  override def equals(o: Any): Boolean = o match {
    case f: FleetSourceOffset =>
      f.files == files && f.watermark == watermark && f.dvs == dvs
    case _ => false
  }
  override def hashCode(): Int = (files, watermark, dvs).hashCode()
}

private[graft] object FleetSourceOffset {

  def apply(entries: Seq[(String, Long)], watermark: Option[Long],
      store: Option[ManifestStore]): FleetSourceOffset =
    new FleetSourceOffset(entries, watermark, store)

  def apply(entries: Seq[(String, Long)], watermark: Option[Long],
      store: Option[ManifestStore],
      dvs: Map[String, String]): FleetSourceOffset =
    new FleetSourceOffset(entries, watermark, store, dvs)

  /** Path-only construction (no retention tracking). */
  def apply(files: Seq[String],
      store: Option[ManifestStore] = None): FleetSourceOffset =
    new FleetSourceOffset(files.map(_ -> 0L), None, store)

  private[sources] def renderInline(entries: Seq[(String, Long)],
      watermark: Option[Long],
      dvs: Map[String, String] = Map.empty): String =
    if (watermark.isEmpty && dvs.isEmpty)
      // legacy spelling: a bare path array, byte-compatible with every
      // pre-retention checkpoint
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JArray(
            entries.map(e => org.json4s.JString(e._1)).toList)))
    else {
      val fields = List(
        "files" -> (org.json4s.JArray(entries.map { case (p, m) =>
          org.json4s.JArray(List(org.json4s.JString(p),
            org.json4s.JInt(m)))
        }.toList): org.json4s.JValue)) ++
        watermark.map(w =>
          "watermark" -> (org.json4s.JInt(w): org.json4s.JValue)) ++
        (if (dvs.isEmpty) Nil
         else List("dvs" -> (org.json4s.JObject(dvs.toList.sortBy(_._1)
           .map { case (k, v) =>
             k -> (org.json4s.JString(v): org.json4s.JValue)
           }): org.json4s.JValue)))
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(fields)))
    }

  /** Content-addressed seen-files manifests under the query's own
    * checkpoint directory (they share the checkpoint's lifetime).
    * Lines are `path` (legacy), `mtime\tpath` (retention mode), or
    * `mtime\tpath\tdvPath` (a pinned deletion-vector binding; fleet
    * paths never contain tabs — the committer's naming contract). */
  final class ManifestStore(checkpointLocation: String,
      val inlineLimit: Int,
      hconf: SerializableHadoopConf) {
    private def dirPath = new org.apache.hadoop.fs.Path(
      checkpointLocation, "graft-manifests")
    private def mfs = dirPath.getFileSystem(hconf.value)

    /** Write (idempotently) and return the pointer JSON. */
    def write(entries: Seq[(String, Long)],
        watermark: Option[Long],
        dvs: Map[String, String] = Map.empty): String = {
      val body =
        if (watermark.isEmpty && dvs.isEmpty)
          entries.map(_._1).mkString("\n")
        else entries.map { case (p, m) =>
          dvs.get(p) match {
            case Some(dv) => s"$m\t$p\t$dv"
            case None => s"$m\t$p"
          }
        }.mkString("\n")
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val f = mfs
      f.mkdirs(dirPath)
      val dest = new org.apache.hadoop.fs.Path(dirPath, s"$tag.list")
      if (!f.exists(dest)) {
        val tmp = new org.apache.hadoop.fs.Path(dirPath, s".$tag.list.tmp")
        val out = f.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        if (!f.rename(tmp, dest) && !f.exists(dest))
          throw new java.io.IOException(s"manifest commit failed: $dest")
      }
      val fields = List(
        "manifest" -> (org.json4s.JString(dest.toString): org.json4s.JValue),
        "n" -> (org.json4s.JInt(entries.size): org.json4s.JValue)) ++
        watermark.map(w =>
          "watermark" -> (org.json4s.JInt(w): org.json4s.JValue))
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(fields)))
    }

    def read(manifestPath: String)
        : (Seq[(String, Long)], Map[String, String]) = {
      val f = mfs
      val in = f.open(new org.apache.hadoop.fs.Path(manifestPath))
      val body = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      if (body.isEmpty) (Seq.empty, Map.empty)
      else {
        val dvs = Map.newBuilder[String, String]
        val entries = body.split("\n").toSeq.map { line =>
          line.split("\t", -1) match {
            case Array(p) => p -> 0L
            case Array(m, p) => p -> m.toLong
            case Array(m, p, dv) => dvs += (p -> dv); p -> m.toLong
            case _ => throw new java.io.IOException(
              s"malformed offset manifest line in $manifestPath: $line")
          }
        }
        (entries, dvs.result())
      }
    }
  }

  def fromJson(json: String,
      store: Option[ManifestStore]): FleetSourceOffset =
    org.json4s.jackson.JsonMethods.parse(json) match {
      case org.json4s.JArray(vs) =>
        FleetSourceOffset(
          vs.collect { case org.json4s.JString(s) => s }, store)
      case obj: org.json4s.JObject =>
        val wm = (obj \ "watermark") match {
          case org.json4s.JInt(w) => Some(w.toLong)
          case _ => None
        }
        val inlineDvs: Map[String, String] = (obj \ "dvs") match {
          case o: org.json4s.JObject => o.obj.collect {
            case (k, org.json4s.JString(v)) => k -> v
          }.toMap
          case _ => Map.empty
        }
        (obj \ "manifest") match {
          case org.json4s.JString(path) =>
            val st = store.getOrElse(throw new IllegalStateException(
              s"manifest offset without a checkpoint-backed store: $json"))
            val (entries, dvs) = st.read(path)
            FleetSourceOffset(entries, wm, store, dvs)
          case _ => (obj \ "files") match {
            case org.json4s.JArray(vs) =>
              val entries = vs.collect {
                case org.json4s.JArray(List(org.json4s.JString(p),
                    org.json4s.JInt(m))) => p -> m.toLong
              }
              FleetSourceOffset(entries, wm, store, inlineDvs)
            case _ => throw new IllegalArgumentException(
              s"malformed fleet stream offset: $json")
          }
        }
      case _ => throw new IllegalArgumentException(
        s"malformed fleet stream offset: $json")
    }

  def of(o: Offset, store: Option[ManifestStore] = None)
      : FleetSourceOffset = o match {
    case f: FleetSourceOffset => f
    case other => fromJson(other.json(), store)
  }
}
