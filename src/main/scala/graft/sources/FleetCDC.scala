package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Change-data-feed over a transactional fleet — the manifest DIFF
  * read (SURVEY.md §2.A; the Delta CDF / Iceberg changelog-scan shape
  * at the fleet's natural granularity). Because every
  * [[FleetManifest]] generation is a complete file set and data files
  * are immutable, the NET changes between two committed versions are
  * exactly a set difference over file NAMES:
  *
  *  - files in `to` but not `from` → their rows are the range's
  *    INSERTS (`_change_type = 'insert'`) — appends, plus the
  *    post-image of every copy-on-write rewrite;
  *  - files in `from` but not `to` → their rows are the range's
  *    DELETES (`_change_type = 'delete'`) — metadata-retired files,
  *    plus the pre-image of every rewrite.
  *
  * An UPDATE therefore surfaces as delete(pre-image) + insert
  * (post-image) of the touched FILES — file-granular CDC, the honest
  * contract for a format without per-row lineage: carried-over
  * survivors in a rewritten file appear on both sides with equal
  * images, and a downstream consumer that keys on the row identity
  * reconciles them to no-ops. Changes are NET across the range: a
  * file added and retired strictly inside (fromVersion, toVersion]
  * contributes nothing, by construction of the endpoint diff.
  *
  * This object is the only code that resolves a change feed: its
  * [[head]], the span's [[resolveDiff]] and the tagged, packed
  * partitions of [[plan]]. The streaming feed and the batch range
  * (`readChangeFeed`) call the planner; every other reader
  * ([[changes]], [[changesKeyed]], [[FleetMV.refresh]], the keyed
  * stream and the keyed batch relation) reads that batch range.
  *
  * Scale: the driver holds O(changed files) names — the DELTA, never
  * the fleet — read as ONE packed scan with column pruning, stats
  * skipping and `_change_type` pruning, so "what changed since
  * yesterday" costs the changed bytes. Both generations must still
  * be on disk: run consumers before [[FleetCompact.expireVersions]]
  * retires the `from` side (a GC'd file fails the read loudly —
  * silent loss is never an option).
  */
object FleetCDC {

  val ChangeTypeCol = "_change_type"

  /** The two tags, in planning order. */
  private val Tags = Seq("insert", "delete")

  /** The complete change surface between two committed versions:
    * added/removed file names, both sides' deletion-vector bindings,
    * and the retained files whose binding CHANGED, routed by their
    * manifest-carried counts (zero vector I/O on meta-bearing fleets):
    *
    *  - `dvGrown` (to-count > from-count) — a merge-on-read delete:
    *    the newly-vectored positions are the span's DELETE images;
    *  - `dvShrunk` (to-count < from-count) — a restore rebound the
    *    file to an older, smaller vector (or unbound it): the
    *    no-longer-vectored positions are visible again and surface as
    *    the span's INSERT images — resurrection is a representable
    *    change, not a failure (r17 ADVICE);
    *  - equal counts — a position-identical rebind (compact_vectors'
    *    flatten) contributes NOTHING; verified exactly by a driver
    *    set-compare of the two vectors (only on maintenance-commit
    *    spans), and an equal-size DIVERGENCE fails loudly.
    *
    * Count routing alone cannot prove containment, so both delta
    * reads additionally VERIFY lineage in-task (old ⊆ new for grown,
    * new ⊆ old for shrunk — [[FleetDv.Deleted.subsetOf]]) and fail
    * loudly on a mixed rebind; re-seed the consumer from a full scan
    * across such a span.
    *
    * `stats` holds the changed files' committed stats, each from the
    * end of the span that lists the file. */
  final case class FleetDiff(added: Seq[String], removed: Seq[String],
      dvFrom: Map[String, String], dvTo: Map[String, String],
      dvGrown: Seq[String], dvShrunk: Seq[String] = Nil,
      stats: Map[String, FleetStats.PartStats] = Map.empty)

  /** The newest version a feed at `p` may read through. An explicit
    * `branch` follows the branch's own version sequence (r18); without
    * it the feed tails MAIN, and a session whose `spark.graft.branch`
    * exists at this fleet fails loudly — silently feeding it main's
    * changes would mix the two histories. */
  private[sources] def head(fs: FileSystem, p: Path,
      branch: Option[String]): Long = branch match {
    case Some(b) =>
      FleetManifest.branchHead(fs, p, b).map(_.version).getOrElse(
        throw new IllegalStateException(
          s"readChangeFeed: no branch '$b' at $p (published or " +
            "dropped?) — a branch feed ends with its branch; resume " +
            "the MAIN feed from the publish version instead"))
    case None =>
      FleetManifest.activeBranchAt(fs, p).foreach { b =>
        throw new IllegalStateException(
          s"readChangeFeed: fleet at $p has an active branch '$b' in " +
            "this session (spark.graft.branch) — the change feed " +
            "follows MAIN history only; unset the branch conf (or " +
            "publish/drop the branch), or follow the branch " +
            "explicitly with option(\"branch\", \"" + b + "\")")
      }
      FleetManifest.versions(fs, p).lastOption.getOrElse(
        throw new IllegalStateException(
          s"readChangeFeed: fleet at $p has no manifest history — " +
            "only transactionally-committed fleets have a change feed"))
  }

  /** The span (v0, v1] as a [[FleetDiff]], one manifest read per
    * side. Version 0 is the empty side (a full replay); an expired
    * version is a loud error — a consumer must never skip changes. */
  private[sources] def resolveDiff(fs: FileSystem, p: Path, v0: Long,
      v1: Long, branch: Option[String]): FleetDiff = {
    def snapAt(v: Long): Option[FleetManifest.Snapshot] =
      if (v == 0L) None
      else Some(FleetManifest.snapshotAtRef(fs, p, v, branch).getOrElse(
        throw new IllegalStateException(
          s"readChangeFeed: manifest version $v at $p was expired by " +
            "retention — the change range is gone; re-seed the " +
            "consumer from a full scan and resume from a live version")))
    val fromS = snapAt(v0)
    val toS = snapAt(v1)
    val from = fromS.map(_.files.toSet).getOrElse(Set.empty)
    val to = toS.map(_.files.toSet).getOrElse(Set.empty)
    val (grown, shrunk) = (fromS, toS) match {
      case (Some(f0), Some(t0)) => routeDvChanges(fs, p, f0, t0,
        from.intersect(to), s"change feed at $p v$v0..v$v1")
      case _ => (Nil, Nil)
    }
    val added = (to -- from).toSeq.sorted
    val removed = (from -- to).toSeq.sorted
    def statsAt(sn: Option[FleetManifest.Snapshot], names: Seq[String]) =
      names.flatMap(n => sn.flatMap(_.statsOf(n)).map(n -> _))
    FleetDiff(added, removed,
      fromS.map(_.dvs).getOrElse(Map.empty),
      toS.map(_.dvs).getOrElse(Map.empty), grown, shrunk,
      (statsAt(toS, added ++ grown ++ shrunk) ++ statsAt(fromS, removed)).toMap)
  }

  /** The diff between two committed versions, validated eagerly:
    * `fromVersion < toVersion`, and both versions exist (a missing one
    * is a caller error naming the available versions). */
  def diff(s: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long): FleetDiff = {
    require(fromVersion < toVersion,
      s"changes need fromVersion < toVersion (got $fromVersion, $toVersion)")
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    Seq(fromVersion, toVersion)
      .find(FleetManifest.snapshotAt(fs, p, _).isEmpty).foreach { v =>
        throw new IllegalArgumentException(
          s"no manifest version $v at $dir (available: " +
            s"${FleetManifest.versions(fs, p).mkString(", ")})")
      }
    resolveDiff(fs, p, fromVersion, toVersion, None)
  }

  /** The span (v0, v1] as read partitions, each a packed group of
    * one tag's splits. Each changed file's vector instruction is built
    * once: an added file reads minus its `to` vector, a removed one
    * minus its `from` vector; a retained file whose vector GREW emits
    * its newly-vectored rows (delete), one whose vector SHRANK its
    * resurrected rows (insert) — in-task, lineage-verified. `tags`
    * drops whole sides; data `filters` skip files whose stats prove no
    * row matches (the reader still applies them per row). One pack
    * width spans every tag, so a span reads about one task per core. */
  private[sources] def plan(fs: FileSystem, p: Path, v0: Long, v1: Long,
      branch: Option[String], maxFileBytes: Long, tags: Set[String],
      filters: Seq[Filter]): Seq[FleetCdcPartition] = {
    if (v1 <= v0) return Nil
    val d = resolveDiff(fs, p, v0, v1, branch)
    def dv(rel: String) = new Path(p, rel).toString
    def live(bound: Option[String]) = bound.map(r => DvPartSpec(dv(r)))
    def delta(keep: String, minus: Option[String]) =
      Some(DvPartSpec(dv(keep), minus.map(dv), deltaOnly = true))
    val changed: Seq[(String, String, Option[DvPartSpec])] = (
      d.added.map(n => ("insert", n, live(d.dvTo.get(n)))) ++
      d.dvShrunk.map(n =>
        ("insert", n, delta(d.dvFrom(n), d.dvTo.get(n)))) ++
      d.removed.map(n => ("delete", n, live(d.dvFrom.get(n)))) ++
      d.dvGrown.map(n =>
        ("delete", n, delta(d.dvTo(n), d.dvFrom.get(n))))
    ).filter(c => tags(c._1))
    val statuses = changed.map { case (_, n, _) =>
      try fs.getFileStatus(new Path(p, n))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new java.io.FileNotFoundException(
            s"readChangeFeed: data file $n of the v$v0..v$v1 diff at $p " +
              "is gone — retention outran the consumer (retain retired " +
              "generations until consumers pass)")
      }
    }
    val kept = changed.zip(statuses).filterNot { case ((_, n, _), st) =>
      d.stats.get(n).exists(ps => ps.len == st.getLen &&
        filters.exists(FleetStats.neverMatches(_, ps)))
    }
    // keyed by the statuses' OWN path spelling — getFileStatus
    // qualifies paths, and a missed lookup would serve raw rows
    val dvByPath = kept.flatMap { case ((_, _, spec), st) =>
      spec.map(st.getPath.toString -> _) }.toMap
    val width = AvroFleetScan.packWidth(kept.map(_._2), maxFileBytes)
    Tags.flatMap { t =>
      val sts = kept.collect { case ((`t`, _, _), st) => st }
      AvroFleetScan.planGroups(sts, maxFileBytes, dvByPath, Some(width))
        .map(FleetCdcPartition(_, t))
    }
  }

  /** The `_change_type` values a set of pushed filters admits: each
    * `EqualTo` / `In` on the tag column narrows the planned sides
    * (Spark keeps re-checking them — the filters stay residual). */
  private[sources] def tagsOf(filters: Seq[Filter]): Set[String] =
    filters.foldLeft(Tags.toSet) {
      case (acc, org.apache.spark.sql.sources.EqualTo(ChangeTypeCol, v)) =>
        acc.intersect(Set(String.valueOf(v)))
      case (acc, org.apache.spark.sql.sources.In(ChangeTypeCol, vs)) =>
        acc.intersect(vs.map(String.valueOf).toSet)
      case (acc, _) => acc
    }

  /** Route the retained files whose deletion-vector binding changed
    * across a span into (grown, shrunk) by their binding COUNTS —
    * manifest-carried meta makes this zero-I/O; only legacy bindings
    * pay one header read each. Equal counts are decided exactly by a
    * driver set-compare (a compact_vectors flatten is a no-op rebind
    * and contributes nothing; an equal-size divergence fails loudly). */
  private def routeDvChanges(fs: FileSystem,
      p: Path, fromS: FleetManifest.Snapshot, toS: FleetManifest.Snapshot,
      common: Set[String], at: String): (Seq[String], Seq[String]) = {
    def cnt(s0: FleetManifest.Snapshot, n: String): Long =
      s0.dvs.get(n).map { rel =>
        s0.dvMeta.get(n).map(_.count)
          .getOrElse(FleetDv.readCount(fs, p, rel))
      }.getOrElse(0L)
    val changed = common.filter(n =>
      fromS.dvs.get(n) != toS.dvs.get(n)).toSeq.sorted
    val grown = Seq.newBuilder[String]
    val shrunk = Seq.newBuilder[String]
    changed.foreach { n =>
      val fc = cnt(fromS, n)
      val tc = cnt(toS, n)
      if (tc > fc) grown += n
      else if (tc < fc) shrunk += n
      else {
        // equal counts ⇒ both sides bound (vectors are never empty).
        // Exactly one legitimate producer: a position-identical rebind
        // (compact_vectors flattening a chain). Decide by the
        // manifest-carried position-set FINGERPRINTS when both sides
        // have one — zero vector I/O (r19; identical sets always
        // fingerprint equal, so divergence verdicts are exact) — and
        // fall back to the driver set-compare (two vector reads) only
        // for legacy fingerprint-less bindings (r17 ADVICE shape).
        val identical =
          (fromS.dvMeta.get(n).flatMap(_.fp),
            toS.dvMeta.get(n).flatMap(_.fp)) match {
            case (Some(fa), Some(fb)) => fa == fb
            case _ =>
              val a = FleetDv.read(fs, p, fromS.dvs(n))
              val b = FleetDv.read(fs, p, toS.dvs(n))
              a.subsetOf(b) && b.subsetOf(a)
          }
        if (!identical)
          throw new IllegalStateException(
            s"$at: file $n rebound between two $tc-position deletion " +
              "vectors with DIFFERENT position sets — a concurrent " +
              "restore/rebind the feed cannot represent; re-seed the " +
              "consumer from a full scan across this range")
        // identical sets: a no-op rebind, excluded from the feed
      }
    }
    (grown.result(), shrunk.result())
  }

  /** The batch range (`from`, `to`] (None = the head) every other
    * reader reads, under ONE table schema: the `_schema.json` marker,
    * else the merge of every generation's writer schema, so pre-ALTER
    * generations null-fill added columns and answer renamed ones
    * through the alias chain. `schema` pins it instead (the keyed
    * stream's definition schema). */
  private[sources] def read(s: SparkSession, dir: String, from: Long,
      to: Option[Long], branch: Option[String] = None,
      schema: Option[StructType] = None): DataFrame = {
    val r = s.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("mergeSchema", "true")
      .option("startingVersion", from)
    to.foreach(v => r.option("endingVersion", v))
    branch.foreach(b => r.option("branch", b))
    schema.foreach(r.schema)
    r.load(dir)
  }

  /** NET row changes from `fromVersion` (exclusive) to `toVersion`
    * (inclusive), as the fleet schema plus a trailing
    * `_change_type` ∈ ('insert','delete') column: the batch range,
    * after [[diff]]'s eager checks. */
  def changes(s: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    diff(s, dir, fromVersion, toVersion)
    read(s, dir, fromVersion, Some(toVersion))
  }

  /** ROW-IDENTITY net changes from `fromVersion` (exclusive) to
    * `toVersion` (inclusive) — the keyed refinement of [[changes]]
    * for fleets with a primary key (`keyCols` must uniquely identify
    * a row within each version, the usual MERGE-key contract). A
    * copy-on-write rewrite carries every surviving row of the file
    * into its post-image, so the file-granular feed emits them as
    * equal delete+insert pairs; here a full-outer join ON THE KEY
    * reconciles the two sides and emits what a downstream MERGE
    * consumer actually wants (the Delta CDF shape):
    *
    *  - key only in the post side → `insert`
    *  - key only in the pre side → `delete`
    *  - key on both sides, images EQUAL → suppressed (a carried-over
    *    survivor, not a change)
    *  - key on both sides, images differ → `update_preimage` +
    *    `update_postimage`
    *
    * Image equality is exact null-safe column comparison, not a hash
    * — a hash collision would silently drop a real change. Scale: the
    * join's both sides are the manifest DELTA (O(changed bytes),
    * never the fleet), keyed on `keyCols`, one shuffle each; a
    * 1M-row file rewritten for 10 changed rows feeds 20 images in and
    * 20 rows out of the join, and the suppressed 999,990 survivors
    * never leave it. */
  def changesKeyed(s: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame =
    reconcileKeyed(changes(s, dir, fromVersion, toVersion), keyCols)

  /** The keyed reconciliation of an already-read `_change_type`-tagged
    * frame — the [[changesKeyed]] join body, factored out so a
    * STREAMING consumer applies it per micro-batch: each
    * `readChangeFeed` batch is a net endpoint diff (exactly the
    * [[changes]] shape), so
    *
    * {{{
    * spark.readStream.format("graft-avro")
    *   .option("readChangeFeed", "true").load(dir)
    *   .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
    *     val net = FleetCDC.reconcileKeyed(batch, Seq("id"))
    *     ... MERGE net into the downstream table ...
    *   }
    * }}}
    *
    * turns a COW rewrite's file-granular pre+post images into the net
    * per-key changes a streaming MERGE consumer wants (the Delta CDF
    * shape), with exactly-once hand-off riding the change stream's
    * version offsets. FleetStreamSpec pins a large-file rewrite
    * streaming only its changed rows. */
  def reconcileKeyed(raw: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "reconcileKeyed needs at least one key column")
    require(raw.columns.contains(ChangeTypeCol),
      s"reconcileKeyed input must carry $ChangeTypeCol " +
        "(a change-feed read)")
    val dataCols = raw.columns.filterNot(_ == ChangeTypeCol).toSeq
    val missing = keyCols.filterNot(dataCols.contains)
    require(missing.isEmpty,
      s"key column(s) not in fleet schema: ${missing.mkString(", ")} " +
        s"(schema: ${dataCols.mkString(", ")})")
    val nonKey = dataCols.filterNot(keyCols.contains)
    import org.apache.spark.sql.functions.{array, col, explode, struct, when}
    // over a change-feed scan each side's tag filter prunes the other
    // side's files at planning: a side reads only its own files
    val dels = raw.filter(col(ChangeTypeCol) === "delete")
      .drop(ChangeTypeCol).alias("d")
    val ins = raw.filter(col(ChangeTypeCol) === "insert")
      .drop(ChangeTypeCol).alias("i")
    val keyEq = keyCols.map(c => col(s"d.$c") <=> col(s"i.$c"))
      .reduce(_ && _)
    val imgEq = nonKey.map(c => col(s"d.$c") <=> col(s"i.$c"))
      .foldLeft(lit(true))(_ && _)
    // presence is decided by a non-null marker, never a data column
    // (a fleet column may legitimately be all-NULL)
    val joined = dels.withColumn("_d", lit(1))
      .join(ins.withColumn("_i", lit(1)), keyEq, "full_outer")
    def img(side: String, tag: String) = struct(
      dataCols.map(c => col(s"$side.$c").as(c)) :+
        lit(tag).as(ChangeTypeCol): _*)
    // one pass over the join: each matched pair yields 0 (suppressed
    // survivor) or 2 (update pre+post) rows, each unmatched side 1
    val rows = when(col("_d").isNull, array(img("i", "insert")))
      .when(col("_i").isNull, array(img("d", "delete")))
      .when(imgEq, array())
      .otherwise(array(img("d", "update_preimage"),
        img("i", "update_postimage")))
    joined.select(explode(rows).as("_r")).select(col("_r.*"))
  }
}
