package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED aggregate views — the
  * consumer the change feed exists for (SURVEY.md §2.A; the classic
  * incremental-view-maintenance shape for SUM/COUNT-decomposable
  * aggregates). A view is itself a transactional fleet holding
  * `keys… , cnt, sum_<col>…`; the SOURCE manifest version it reflects
  * rides the view's own manifest commit as COMMIT METADATA
  * (`mv.sourceVersion` in [[FleetManifest.Snapshot.props]]), so the
  * stamp and the file swap are ONE atomic step — a crash can never
  * leave a refreshed view with a stale stamp (which would re-apply
  * the same delta and silently corrupt counts):
  *
  *  - [[create]] runs the one full aggregation over a PINNED source
  *    snapshot (`versionAsOf` — a concurrent source commit between
  *    version read and scan cannot leak into the base build) and
  *    stamps that version;
  *  - [[refresh]] reads ONLY the manifest diff since the stamp (the
  *    change feed's batch range, [[FleetCDC.read]]):
  *    inserts contribute +1/+value, deletes −1/−value, and one small
  *    union-aggregate folds the signed delta into the stored groups
  *    (a fully-deleted group's cnt reaches 0 and drops out). The
  *    update lands as a single manifest SWAP carrying the new stamp.
  *
  * Scale: refresh cost is O(changed bytes) + O(view), never an
  * unconditional source re-scan — "maintain yesterday's per-key
  * revenue rollup" on a 100 TB fleet costs the day's delta. COUNT/SUM
  * (and anything derivable: AVG = sum/cnt) are exactly the
  * self-maintainable aggregates. MIN/MAX (`minMaxCols`) are
  * maintained with the standard extremum rule: an INSERT can only
  * improve a stored extremum (fold `least`/`greatest` with the
  * delta's per-group insert extrema — no re-scan), while a DELETE
  * whose per-group deleted extremum TOUCHES the stored one may have
  * removed it, and exactly those groups recompute — from the source
  * restricted to the affected keys (a broadcast semi-join the fleet
  * scan receives as a runtime `In` filter, so a clustered layout
  * skips every file holding no affected group). Groups whose deletes
  * provably didn't reach the extremum pay nothing. Doubles fold
  * associatively only approximately — an incremental sum can differ
  * from a cold recompute in the last ulps, which is inherent to IVM
  * on floats (round at presentation, as the registry queries do).
  * Source and view may live on DIFFERENT filesystems — each side
  * resolves its own. */
object FleetMV {

  val StampProp = "mv.sourceVersion"

  /** One maintenance step's cost surface: the version span folded in,
    * how many changed files the diff read touched, and how many
    * groups needed an extremum recompute (0 whenever no delete
    * touched a stored MIN/MAX). */
  final case class RefreshResult(fromVersion: Long, toVersion: Long,
      changedFiles: Int, recomputedGroups: Long = 0L)

  private def fsOf(s: SparkSession, dir: String): (Path, FileSystem) = {
    val p = new Path(dir)
    (p, p.getFileSystem(s.sessionState.newHadoopConf()))
  }

  private def sourceVersion(fs: FileSystem, p: Path): Long =
    FleetManifest.current(fs, p).map(_.version).getOrElse(
      throw new IllegalArgumentException(
        s"FleetMV needs a TRANSACTIONAL source fleet (committed " +
          s"_manifest) at $p — legacy raw-listing fleets have no " +
          "change feed to maintain from"))

  private def propsJson(v: Long): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
        StampProp -> org.json4s.JString(v.toString))))

  private def aggShape(df: DataFrame, keys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String],
      sign: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("cnt"),
        sumCols.map(c => sum(sign * col(c)).as(s"sum_$c")) ++
          minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))): _*)

  /** Full build: aggregate a pinned CURRENT source snapshot and stamp
    * its version in the view's first manifest commit. `minMaxCols`
    * adds maintained `min_<c>`/`max_<c>` columns. */
  def create(s: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): RefreshResult = {
    require(keys.nonEmpty, "a view needs at least one group key")
    val (srcP, srcFs) = fsOf(s, srcDir)
    val v = sourceVersion(srcFs, srcP)
    val full = aggShape(
      s.read.format("graft-avro").option("versionAsOf", v).load(srcDir),
      keys, sumCols, minMaxCols, lit(1L))
    full.write.format("graft-avro").mode("overwrite")
      .option("manifestProps", propsJson(v)).save(viewDir)
    RefreshResult(v, v, 0)
  }

  /** Incremental maintenance: fold the manifest diff since the last
    * stamp into the stored groups. No-op when the source hasn't
    * advanced. Pass the SAME `keys`/`sumCols`/`minMaxCols` the view
    * was created with. */
  def refresh(s: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): RefreshResult = {
    val (srcP, srcFs) = fsOf(s, srcDir)
    val (viewP, viewFs) = fsOf(s, viewDir)
    val v0 = FleetManifest.current(viewFs, viewP)
      .flatMap(_.props.get(StampProp)).flatMap(_.toLongOption).getOrElse(
        throw new IllegalStateException(
          s"view at $viewDir carries no $StampProp commit metadata — " +
            "create() the view first"))
    val v1 = sourceVersion(srcFs, srcP)
    if (v1 == v0) return RefreshResult(v0, v1, 0)
    require(v1 > v0, s"source went backwards? view at $v0, source $v1")
    if (FleetManifest.snapshotAt(srcFs, srcP, v0).isEmpty)
      throw new IllegalStateException(
        s"view stamp $v0 expired at the source — too-aggressive " +
          "retention (expireVersions) outran refresh; rebuild with " +
          "create()")
    val d = FleetCDC.diff(s, srcDir, v0, v1)
    // vector-aware delta: a merge-on-read DELETE in the span (file
    // retained, vector grown) folds in as exactly its newly-vectored
    // rows — the O(changed rows) contract survives MOR sources
    // resurrections (a restore span: dvShrunk) arrive as ordinary
    // insert images and fold through the same signed netting
    val rawDelta = FleetCDC.read(s, srcDir, v0, Some(v1))
    val changedFiles = d.added.size + d.removed.size + d.dvGrown.size +
      d.dvShrunk.size
    val sign = when(col(FleetCDC.ChangeTypeCol) === "insert", lit(1L))
      .otherwise(lit(-1L))
    // deltaAgg: signed cnt/sum plus PER-SIDE extrema (the insert side
    // folds into the stored extremum; the delete side only decides
    // which groups must recompute). PERSISTED: the frame is
    // O(affected groups) — tiny — but its lineage holds the whole
    // changed-files read, and it feeds countSum AND the extremum
    // pipeline (which itself materializes 3×: affected-count, rescan
    // filter, final merge) — uncached, the delta subtree would
    // re-execute per use.
    //
    // With extrema in play the file-granular delta must be NETTED
    // first: a copy-on-write rewrite carries every survivor into both
    // sides, and a survivor equal to the stored MIN/MAX would
    // otherwise look like a deleted extremum and trigger a recompute
    // of a group that lost nothing. Netting = ONE hash aggregation
    // over the full row image with a signed multiplicity (net > 0 ⇔
    // the row is a genuine insert, net < 0 ⇔ a genuine delete —
    // bag-exact, the same relation a pair of exceptAlls produces but
    // in one map-side-combined shuffle instead of four). Count/sum
    // need no netting (matched pairs cancel in the signed fold), so
    // the pure count/sum view keeps its single direct shuffle.
    val deltaAgg = (if (minMaxCols.isEmpty)
      rawDelta.groupBy(keys.map(col): _*)
        .agg(sum(sign).as("cnt"),
          sumCols.map(c => sum(sign * col(c)).as(s"sum_$c")): _*)
    else {
      val dataCols = rawDelta.columns
        .filterNot(_ == FleetCDC.ChangeTypeCol).toSeq
      val netted = rawDelta.groupBy(dataCols.map(col): _*)
        .agg(sum(sign).as("net"))
        .filter(col("net") =!= 0L)
      val pos = col("net") > 0L
      netted.groupBy(keys.map(col): _*)
        .agg(sum(col("net")).as("cnt"),
          sumCols.map(c => sum(col("net") * col(c)).as(s"sum_$c")) ++
            minMaxCols.flatMap(c => Seq(
              min(when(pos, col(c))).as(s"ins_min_$c"),
              max(when(pos, col(c))).as(s"ins_max_$c"),
              min(when(!pos, col(c))).as(s"del_min_$c"),
              max(when(!pos, col(c))).as(s"del_max_$c"))): _*)
    }).persist()
    val old = s.read.format("graft-avro").load(viewDir)
    val countSum = old
      .select((keys.map(col) :+ col("cnt")) ++
        sumCols.map(c => col(s"sum_$c")): _*)
      .unionByName(deltaAgg.select((keys.map(col) :+ col("cnt")) ++
        sumCols.map(c => col(s"sum_$c")): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
      .filter(col("cnt") =!= 0L)
    var recomputed = 0L
    var extPersisted: Option[org.apache.spark.sql.DataFrame] = None
    val merged =
      if (minMaxCols.isEmpty) countSum
      else {
        // candidate extrema: stored folded with the INSERT side
        // (least/greatest are null-skipping, so a side without rows
        // falls through to the other). A group whose DELETED extremum
        // REACHES the stored one may have lost it — recompute exactly
        // those groups from the source, keys broadcast so the fleet
        // scan's runtime filter skips unaffected files.
        // O(groups) rows, used by the affected-count action, the
        // rescan's broadcast filter, and the final merge — persisted
        // for the same reason as deltaAgg
        val ext = old
          .select(keys.map(col) ++ minMaxCols.flatMap(c =>
            Seq(col(s"min_$c"), col(s"max_$c"))): _*)
          .join(deltaAgg.select(keys.map(col) ++ minMaxCols.flatMap(c =>
            Seq(col(s"ins_min_$c"), col(s"ins_max_$c"),
              col(s"del_min_$c"), col(s"del_max_$c"))): _*),
            keys, "full_outer")
          .persist()
        extPersisted = Some(ext)
        val needs = minMaxCols.map(c =>
          (col(s"del_min_$c").isNotNull && col(s"min_$c").isNotNull &&
            col(s"del_min_$c") <= col(s"min_$c")) ||
          (col(s"del_max_$c").isNotNull && col(s"max_$c").isNotNull &&
            col(s"del_max_$c") >= col(s"max_$c")))
          .reduce(_ || _)
        // ONE collect serves both the recompute count and the
        // rescan's broadcast build side: the broadcast join was going
        // to collect exactly these O(affected groups) rows to the
        // driver anyway, so materializing them as a LocalRelation
        // removes the dedicated affected.count() action AND the
        // broadcast-build job — one fewer job per min/max refresh
        // (r16 verdict #7), identical memory posture
        val affectedRows = ext.filter(needs)
          .select(keys.map(col): _*).collect()
        recomputed = affectedRows.length.toLong
        val affected = s.createDataFrame(
          java.util.Arrays.asList(affectedRows: _*),
          org.apache.spark.sql.types.StructType(
            keys.map(k => old.schema(old.schema.fieldIndex(k)))))
        val rcAggs = minMaxCols.flatMap(c =>
          Seq(min(col(c)).as(s"rc_min_$c"), max(col(c)).as(s"rc_max_$c")))
        val rescanned = s.read.format("graft-avro").load(srcDir)
          .join(broadcast(affected), keys)
          .groupBy(keys.map(col): _*)
          .agg(rcAggs.head, rcAggs.tail: _*)
        val withExt = ext.join(rescanned, keys, "left")
        val extFinal = withExt.select(keys.map(col) ++
          minMaxCols.flatMap { c =>
            val candMin = least(col(s"min_$c"), col(s"ins_min_$c"))
            val candMax = greatest(col(s"max_$c"), col(s"ins_max_$c"))
            Seq(coalesce(col(s"rc_min_$c"), candMin).as(s"min_$c"),
              coalesce(col(s"rc_max_$c"), candMax).as(s"max_$c"))
          }: _*)
        countSum.join(extFinal, keys, "left")
      }
    // the view update is itself a transactional swap: append the new
    // generation, retire every old view file, and advance the stamp —
    // ONE manifest commit (the rewrite_files pattern: no self-read of
    // a truncated directory, no reader window over both states, no
    // stamp/data split for a crash to exploit)
    val oldNames = FleetManifest.resolve(viewFs, viewP, None)
      .getOrElse(AvroFleetCommits.dataFileStatuses(viewFs, viewP))
      .map(_.getPath.getName)
    try {
      merged.write.format("graft-avro").mode("append")
        .option("manifestSwapRemove", oldNames.mkString(","))
        .option("manifestProps", propsJson(v1))
        .save(viewDir)
    } finally {
      // release the per-refresh intermediates (sub-plans of merged —
      // they cannot outlive this call usefully)
      extPersisted.foreach(_.unpersist())
      deltaAgg.unpersist()
    }
    RefreshResult(v0, v1, changedFiles, recomputed)
  }
}
