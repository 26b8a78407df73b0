package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source => V1Source}
import org.apache.spark.sql.types.StructType

/** DECLARATIVE keyed change-feed stream (r18, the r17 verdict's #4):
  *
  * {{{
  * spark.readStream.format("graft-avro")
  *   .option("readChangeFeed", "true")
  *   .option("cdcKeyCols", "id")           // ← this source
  *   .load(dir)
  * }}}
  *
  * Each micro-batch is [[FleetCDC.reconcileKeyed]] applied to the
  * version-range endpoint diff — NET per-key changes (`insert` /
  * `delete` / `update_preimage` / `update_postimage`, carried-over
  * rewrite survivors suppressed) — so a PLAIN `writeStream` sink
  * consumes what previously needed the foreachBatch + reconcileKeyed
  * recipe. Exactly-once rides the same manifest-version offsets as the
  * file-granular feed.
  *
  * WHY V1: the reconciliation is a per-batch JOIN (pre-images against
  * post-images on the key), which no DSv2 scan can express — a scan
  * only produces partitions. Spark's V1 `Source.getBatch` returns a
  * DataFrame, the escape hatch its own FileStreamSource uses; the
  * provider advertises it by DROPPING the MICRO_BATCH_READ capability
  * when `cdcKeyCols` is set, and the analyzer's documented fallback
  * routes the query here. Per-batch cost is the diff read plus one
  * keyed shuffle of the CHANGED rows — O(changed bytes), never the
  * fleet — identical to what the foreachBatch recipe paid.
  *
  * Offsets are manifest versions (`{"cdcVersion": N}`), binary-
  * compatible with [[FleetCdcOffset]]; a fresh checkpoint starts at
  * the CURRENT version, `startingVersion` replays history, and an
  * expired pending range fails loudly exactly like the file-granular
  * feed — the head is [[FleetCDC.head]] (session-branch guard
  * included) and each batch reads the one batch range
  * ([[FleetCDC.read]]).
  *
  * ADMISSION CONTROL (`option("maxVersionsPerTrigger", k)`, r19): by
  * default `getOffset` jumps to the current version, so a consumer
  * down for 10k commits nets its ENTIRE backlog in one micro-batch
  * (one giant diff + keyed shuffle). With the cap, each trigger steps
  * at most k versions past the stream's own high-water mark, draining
  * the backlog across bounded batches; each batch is still a NET
  * endpoint diff over its own span, so per-batch netting semantics
  * are unchanged. The high-water mark is DURABLE under the source's
  * checkpoint-scoped `metadataPath` (the V1 createSource contract —
  * FileStreamSource's seen-log home): a rate-limited `getOffset` must
  * never step BEHIND progress the engine already committed, and after
  * a restart the engine may ask for an offset before any `getBatch`
  * call reveals that progress. The marker is a monotonic floor only —
  * batch RANGES always come from the engine's own offset log. */
private[sources] class AvroFleetCdcKeyedSource(sqlContext: SQLContext,
    path: String, keyCols: Seq[String], declaredSchema: StructType,
    startingVersion: Option[Long], branch: Option[String],
    metadataPath: String = "",
    maxVersionsPerTrigger: Option[Long] = None)
    extends V1Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  require(keyCols.nonEmpty, "cdcKeyCols needs at least one column")
  require(maxVersionsPerTrigger.forall(_ > 0L),
    s"maxVersionsPerTrigger must be positive (got " +
      s"${maxVersionsPerTrigger.getOrElse(0L)})")

  private def p = new Path(path)
  private def fs = p.getFileSystem(
    sqlContext.sparkSession.sessionState.newHadoopConf())

  override def schema: StructType = declaredSchema

  // ---- durable high-water (rate-limited mode only) ------------------

  private def highWaterPath: Option[Path] =
    if (metadataPath.isEmpty || maxVersionsPerTrigger.isEmpty) None
    else Some(new Path(metadataPath, "graft-cdc-highwater"))

  // the stream's DEFINITION-time start version, durable (see
  // initialVersion below): a V1 source replaying batch 0 after a
  // restart is handed start=None and must re-derive the SAME floor
  private def initialPath: Option[Path] =
    if (metadataPath.isEmpty) None
    else Some(new Path(metadataPath, "graft-cdc-initial"))

  private def metaFs(hp: Path) = hp.getFileSystem(
    sqlContext.sparkSession.sessionState.newHadoopConf())

  private def readMarker(hp: Path): Option[Long] = {
    val f = metaFs(hp)
    if (!f.exists(hp)) None
    else {
      val in = f.open(hp)
      val text = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      text.trim.toLongOption.orElse(throw new java.io.IOException(
        s"malformed keyed-feed marker $hp: '$text'"))
    }
  }

  private def writeMarker(hp: Path, v: Long): Unit = {
    val f = metaFs(hp)
    f.mkdirs(hp.getParent)
    val tmp = new Path(hp.getParent, s".${hp.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    f.delete(hp, false)
    if (!f.rename(tmp, hp)) { f.delete(tmp, false); () }
  }

  private def readHighWater(): Option[Long] =
    highWaterPath.flatMap(readMarker)

  private def writeHighWater(v: Long): Unit =
    highWaterPath.foreach(writeMarker(_, v))

  // the highest version this source has ever RETURNED or been shown —
  // seeded once from the durable marker so a restart's first
  // (rate-limited) getOffset cannot regress below committed progress
  private lazy val seededHighWater: Long = readHighWater().getOrElse(-1L)
  @volatile private var highWater: Long = -1L

  private def observe(v: Long): Unit =
    if (v > highWater) synchronized {
      if (v > highWater) {
        highWater = v
        if (maxVersionsPerTrigger.isDefined) writeHighWater(v)
      }
    }

  private def currentVersion(): Long = FleetCDC.head(fs, p, branch)

  // a fresh checkpoint starts at the CURRENT version (only future
  // commits stream) unless startingVersion replays history — resolved
  // once PER CHECKPOINT, not per instance: the resolution is made
  // DURABLE under metadataPath the first time it happens (r20). A V1
  // source cannot rely on the engine to persist its initial offset
  // (only batch ENDS live in the offset log, and a replayed batch 0
  // arrives with start=None); without the marker, a restart's fresh
  // instance would re-resolve "current version" to the RESTART-time
  // head — a replayed batch 0 would diff the wrong (possibly
  // backwards) range and silently drop the span's changes, and the
  // inflated value would poison the rate-limit floor into one
  // unbounded catch-up batch (r19 ADVICE).
  private lazy val initialVersion: Long = startingVersion.getOrElse {
    initialPath match {
      case None => currentVersion()
      case Some(ip) => readMarker(ip).getOrElse {
        val v = currentVersion()
        writeMarker(ip, v)
        v
      }
    }
  }

  // the UNCAPPED drain target snapshotted at query start under
  // Trigger.AvailableNow. The source implements
  // SupportsTriggerAvailableNow ITSELF (the engine checks it before
  // falling back to AvailableNowSourceWrapper): the wrapper snapshots
  // ONE `getOffset` — a capped source would drain exactly k versions
  // per RUN and terminate "complete" mid-backlog — whereas here the
  // engine keeps stepping bounded latestOffset batches until the
  // prepared target.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion())

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Latest available = the current manifest version, stepped at most
    * `maxVersionsPerTrigger` past the stream's high-water mark when
    * the cap is set — the engine's admission-control path calls this
    * (a V1 Source implementing [[SupportsAdmissionControl]] dispatches
    * here, never through `getOffset`). Returns a [[SerializedOffset]]
    * (a V1 `Offset`): the engine casts the available offset back to
    * the V1 class when handing it to `getBatch`. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val startV = Option(start)
      .map(o => FleetCdcOffset.fromJson(o.json).version).getOrElse(-1L)
    // initialVersion participates ONLY on a fresh checkpoint (no
    // engine-committed start). On a RESTART without startingVersion the
    // lazy initialVersion re-resolves to the restart-time head; letting
    // it into the floor would jump the offset from the committed start
    // to head in one unbounded batch — exactly the down-consumer
    // catch-up the cap exists to bound. With a committed start, the
    // floor is the committed progress plus the durable high-water.
    val floor =
      if (startV >= 0L)
        math.max(startV, math.max(highWater, seededHighWater))
      else math.max(initialVersion,
        math.max(highWater, seededHighWater))
    val cur = currentVersion()
    val avail = math.max(floor, availableNowCap.fold(cur)(math.min(cur, _)))
    val v = maxVersionsPerTrigger.fold(avail)(k =>
      math.min(avail, floor + k))
    observe(v)
    org.apache.spark.sql.execution.streaming.runtime
      .SerializedOffset(FleetCdcOffset(v).json())
  }

  /** The plain V1 `getOffset` — kept for completeness (the engine
    * dispatches admission-controlled sources through
    * `latestOffset(start, limit)` above), same capped stepping. */
  override def getOffset: Option[V1Offset] = {
    val floor = math.max(initialVersion,
      math.max(highWater, seededHighWater))
    val cur = math.max(currentVersion(), floor)
    val v = maxVersionsPerTrigger.fold(cur)(k =>
      math.min(cur, floor + k))
    observe(v)
    Some(org.apache.spark.sql.execution.streaming.runtime
      .SerializedOffset(FleetCdcOffset(v).json()))
  }

  private def versionOf(o: V1Offset): Long =
    FleetCdcOffset.fromJson(o.json()).version

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : DataFrame = {
    val v0 = start.map(versionOf).getOrElse(initialVersion)
    val v1 = versionOf(end)
    // engine-shown progress (a restart replaying its offset log)
    // raises the rate-limit floor exactly like our own returns
    observe(math.max(v0, v1))
    // the batch range over the span, read under the PINNED
    // stream-definition schema: V1 sourceSchema resolves eagerly at
    // definition, so a fleet evolved between definition and a later
    // batch would otherwise emit a batch WIDER than the declared schema
    // — pinned, every batch holds the declared shape (added columns
    // prune at decode; a restart re-resolves and adopts them)
    val net = FleetCDC.reconcileKeyed(
      FleetCDC.read(sqlContext.sparkSession, path, v0, Some(v1), branch,
        Some(declaredSchema)), keyCols)
    // V1 contract: the per-batch plan must carry isStreaming — see
    // GraftStreamingShim (the FileStreamSource stamp)
    org.apache.spark.sql.GraftStreamingShim.asStreamingBatch(net)
  }

  override def commit(end: V1Offset): Unit = ()

  override def stop(): Unit = ()
}
