package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Fleet compaction — the small-file maintenance pass every long-lived
  * 100 TB fleet needs (SURVEY.md §2.A). Streaming sinks and frequent
  * appends leave a directory of many small object-container files;
  * each costs a task, a file-open, and a manifest entry, so scan
  * parallelism degrades into scheduling overhead. Compaction rewrites
  * the fleet into ~`targetBytes` files RANGE-CLUSTERED on a key, which
  * does two things at once:
  *
  *  - restores scan granularity (ceil(total/target) right-sized files
  *    instead of thousands of shards), and
  *  - re-establishes skipping power: range partitioning gives every
  *    output file a disjoint `clusterBy` interval, so the stats the
  *    V2 commit records for each file prove point/range
  *    predicates against whole files again (append-order fleets
  *    interleave keys and their min/max proofs go useless).
  *
  * The rewrite is an immutable copy to `out` (never in-place): at
  * scale the old fleet stays readable until the swap, and a failed
  * compaction leaves nothing half-rewritten. The plan is one range
  * shuffle (`repartitionByRange` samples the key, the scale-standard
  * way to get equal-sized sorted shards) + a per-partition sort, then
  * the normal arbitrated V2 commit (attempt temps, rename-if-absent,
  * stats in the manifest commit, `_SUCCESS` last).
  *
  * It is also the ONE retention core of every manifest fleet, Avro and
  * Parquet tiers alike: [[expireVersions]], [[removeOrphans]] and the
  * copy-on-write merge's sweep all retire files through [[unlink]]
  * (a file's stats live in the manifest segments of the versions
  * that list it, so they expire with those versions).
  */
object FleetCompact {

  /** The LIVE bytes of the fleet at `p` — manifest-resolved (current
    * generation only), raw listing for manifest-less dirs. Shard
    * sizing was a raw listing before r22: retired generations kept
    * for `versionAsOf` inflated `totalBytes`, so a re-compaction of a
    * versioned fleet chose ceil(ALL generations / target) shards —
    * profiled as +24 output tasks per warm lap on `q_fleet_compact`,
    * and at 100 TB a maintenance pass sized on dead bytes (the exact
    * thing retention hasn't reclaimed yet). The scan below always read
    * manifest-current; only the sizing disagreed. */
  private def liveBytes(s: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    FleetManifest.resolve(fs, p, None)
      .getOrElse(fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }).iterator.map(_.getLen).sum
  }

  /** Compact the `graft-avro` fleet at `in` into `out`. Returns the
    * number of output shards chosen (= ceil(live input data bytes /
    * `targetBytes`), floor 1). */
  def compact(s: SparkSession, in: String, out: String,
      targetBytes: Long, clusterBy: String): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val totalBytes = liveBytes(s, new Path(in))
    val shards = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .toInt
    s.read.format("graft-avro").load(in)
      .repartitionByRange(shards, col(clusterBy))
      .sortWithinPartitions(clusterBy)
      .write.format("graft-avro").mode("overwrite").save(out)
    shards
  }

  /** Compact while PRESERVING the storage-partitioned layout: a
    * `clusterBy`-written fleet accumulates one file per (task, key)
    * per ingest — compaction must not let keys interleave within a
    * file or the sidecar min==max proof (and with it every
    * exchange-free join) is lost. Same shard sizing, but a hash
    * shuffle ON THE KEY plus the clustered V2 write, so the output is
    * at most (shards × keys-per-shard) files, each still provably
    * single-key; the fleet stays SPJ-able across its whole maintenance
    * lifecycle (SpjSpec pins the post-compaction exchange-free join). */
  def compactClustered(s: SparkSession, in: String, out: String,
      targetBytes: Long, clusterBy: String): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val totalBytes = liveBytes(s, new Path(in))
    val shards = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .toInt
    s.read.format("graft-avro").option("clusterBy", clusterBy).load(in)
      .repartition(shards, col(clusterBy))
      .write.format("graft-avro").option("clusterBy", clusterBy)
      .mode("overwrite").save(out)
    shards
  }

  /** What one retention pass removed: the expired manifest versions
    * and the data files no retained generation references anymore. */
  final case class ExpireResult(expiredVersions: Seq[Long],
      deletedFiles: Seq[String])

  /** Unlink retired fleet-relative names — a directory (a columnar
    * vector partition, a `.staging-*` leftover) recursively. Returns
    * the names unlinked. */
  private[sources] def unlink(fs: FileSystem, dir: Path,
      retired: Seq[String]): Seq[String] =
    retired.filter { n =>
      val t = new Path(dir, n)
      if (fs.isDirectory(t)) fs.delete(t, true)
      else fs.delete(t, false)
    }

  /** Snapshot retention for a TRANSACTIONAL fleet ([[FleetManifest]]),
    * either codec: keep the newest `keepLast` manifest versions, drop
    * the older version files, and unlink every data file, vector and
    * segment only expired generations referenced. `versionAsOf` reads of retained versions keep
    * working; reads of expired ones fail with the documented
    * missing-version error. Deletion is precise, not a sweep —
    * candidates are (∪ expired generations' files) − (∪ retained
    * generations' files) — so an in-flight job's task-committed (not
    * yet manifest-committed) files are never touched, at any
    * concurrency. Order matters for crash safety: expired MANIFESTS
    * are removed first, then the newly-unreferenced data files — a
    * crash in between leaves harmless orphans, never a readable
    * version with missing files. */
  def expireVersions(s: SparkSession, dir: String, keepLast: Int)
      : ExpireResult = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    // under the manifest commit lock: a concurrent restore/commit
    // must not land between the retained-version scan and the deletes
    // (a restore re-pointing at an expired generation would otherwise
    // leave a CURRENT version whose files this pass just unlinked)
    val r = FleetManifest.withCommitLock(fs, dirPath) {
      val vs = FleetManifest.versions(fs, dirPath)
      // TAGGED versions are pinned: retention keeps them (and their
      // files/vectors) regardless of keepLast — a named ref must stay
      // readable until dropped
      val tagged = FleetManifest.tags(fs, dirPath).map(_._2).toSet
      if (vs.size <= keepLast) ExpireResult(Seq.empty, Seq.empty)
      else {
        val (expirable, keptTail) = vs.splitAt(vs.size - keepLast)
        val (pinned, expired) = expirable.partition(tagged)
        val kept = pinned ++ keptTail
        // a retained legacy delta may base on an expiring version
        FleetManifest.rewriteLegacy(fs, dirPath, kept)
        // BRANCH versions pin their references like tags: a staged
        // write-audit-publish pass must survive main retention until
        // published or dropped
        val keptSnaps = kept.flatMap(v =>
          FleetManifest.snapshotAtMain(fs, dirPath, v).toSeq) ++
          FleetManifest.branchSnapshots(fs, dirPath)
        val expiredSnaps = expired.flatMap(v =>
          FleetManifest.snapshotAtMain(fs, dirPath, v).toSeq)
        val keptFiles = keptSnaps.flatMap(_.files).toSet
        val candidates = expiredSnaps.flatMap(_.files)
          .distinct.filterNot(keptFiles)
        // deletion-vector files GC exactly like data files: a vector
        // referenced only by expired snapshots goes with them (a
        // retained snapshot's binding — even to a retired file's old
        // vector — keeps serving VERSION AS OF). References expand
        // through CHAIN nodes transitively: a kept chain keeps every
        // parent leaf alive, and an expired chain's parents are only
        // candidates when nothing kept reaches them either
        val keptDvs = FleetDv.expandRefs(fs, dirPath,
          keptSnaps.flatMap(_.dvs.values).toSet)
        val dvCandidates = FleetDv.expandRefs(fs, dirPath,
          expiredSnaps.flatMap(_.dvs.values).toSet)
          .toSeq.filterNot(keptDvs)
        // and so do segments (an in-flight commit's are listed nowhere)
        val segCandidates = segmentsOf(expiredSnaps).distinct
          .filterNot(segmentsOf(keptSnaps).toSet)
        expired.foreach { v =>
          fs.delete(FleetManifest.versionFilePath(dirPath, v), false)
        }
        unlink(fs, dirPath, segCandidates)
        ExpireResult(expired, unlink(fs, dirPath, candidates ++ dvCandidates))
      }
    }
    sweepEmptyDvGenerations(fs, dirPath)
    r
  }

  private def segmentsOf(snaps: Seq[FleetManifest.Snapshot]): Seq[String] =
    snaps.flatMap(_.segments.map(ls =>
      s"${FleetManifest.SegmentsRel}/${ls.name}"))

  /** ORPHAN SWEEP for a manifest fleet, either codec: unlink what NO
    * retained generation (main or branch) references and is older than
    * `graceMs` — a task-committed top-level `.avro`/`.parquet` part
    * whose manifest commit never landed, a `.staging-*` dir from a
    * killed writer, a `_dv/` vector file or `_dv_parquet` vector
    * partition from a crashed or conflicted delete, a manifest segment
    * of a lost claim or a dropped branch. The grace guard keeps an
    * in-flight job's just-staged files safe: a stray must predate any
    * plausibly-running job. Returns the deleted paths (fleet-relative). */
  def removeOrphans(s: SparkSession, dir: String, graceMs: Long)
      : Seq[String] = {
    require(graceMs >= 0, "grace_ms must be >= 0")
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    require(FleetManifest.versions(fs, p).nonEmpty,
      s"remove_orphans: fleet at $dir has no manifest — on a legacy " +
        "(raw-listing) fleet every data file is live")
    val cutoff = System.currentTimeMillis() - graceMs
    // data names and vector rels (which hold a '/') share one set
    val live = FleetManifest.withCommitLock(fs, p) {
      val snaps = FleetManifest.versions(fs, p).flatMap(v =>
        FleetManifest.snapshotAtMain(fs, p, v).toSeq) ++
        // a staged branch generation's files are LIVE — published
        // or dropped decides their fate, never the orphan sweep
        FleetManifest.branchSnapshots(fs, p)
      // chain vectors reference their parent files transitively —
      // a leaf reached only through a live chain node is LIVE
      snaps.flatMap(_.files).toSet ++ segmentsOf(snaps) ++
        FleetDv.expandRefs(fs, p, snaps.flatMap(_.dvs.values).toSet)
    }
    def list(rel: String): Seq[(String, FileStatus)] = {
      val d = if (rel.isEmpty) p else new Path(p, rel)
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.map(st =>
        ((if (rel.isEmpty) "" else s"$rel/") + st.getPath.getName, st))
    }
    val topStrays = list("").filter { case (n, st) =>
      if (st.isDirectory) n.startsWith(".staging-")
      else !n.startsWith("_") && !n.startsWith(".") &&
        (n.endsWith(".avro") || n.endsWith(".parquet"))
    }
    // vector strays: written by a delete that crashed or conflicted
    // before its manifest commit
    val dvGens = list(ParquetFleet.DvDir).filter(_._2.isDirectory)
    val dvStrays = list(FleetDv.DirName).filter(_._2.isFile) ++
      dvGens.flatMap(g => list(g._1).filter(_._2.isDirectory))
    val segStrays = list(FleetManifest.SegmentsRel)
      .filter { case (n, st) => st.isFile && !n.contains("/.") }
    val gone = unlink(fs, p, (topStrays ++ dvStrays ++ segStrays).collect {
      case (n, st) if st.getModificationTime < cutoff && !live(n) => n })
    // a gen dir with no live partition left holds only write markers —
    // sweep it, but never a fresh one (an in-flight delete may still be
    // writing its partitions into it)
    dvGens.foreach { case (_, gen) =>
      if (gen.getModificationTime < cutoff &&
          !fs.listStatus(gen.getPath).exists(c =>
            c.isDirectory && c.getPath.getName.startsWith("__file=")))
        fs.delete(gen.getPath, true)
    }
    gone
  }

  /** The columnar tier's emptied vector generation dirs (a no-op on an
    * Avro fleet, which has no `_dv_parquet/`): a generation dir whose
    * partition dirs all GC'd holds only write markers (_SUCCESS) —
    * sweep it; one with any live partition stays, markers included.
    * Race guard (r21, ADVICE r20 #2): a CONCURRENT MOR delete's
    * generation dir holds a `_temporary` SUBDIRECTORY (its in-flight
    * shuffle write) and no `__file=` children yet — the old recursive
    * sweep deleted it mid-job. Now any subdirectory blocks the sweep,
    * marker FILES are unlinked individually, and the dir itself is
    * removed NON-recursively, so a partition promoted between our
    * listing and the rmdir makes the rmdir fail harmlessly instead of
    * deleting just-promoted vectors. */
  private def sweepEmptyDvGenerations(fs: FileSystem, p: Path): Unit = {
    val dvRoot = new Path(p, ParquetFleet.DvDir)
    if (fs.exists(dvRoot)) fs.listStatus(dvRoot).foreach { st =>
      if (st.isDirectory) {
        val kids = fs.listStatus(st.getPath)
        if (!kids.exists(_.isDirectory)) {
          kids.foreach(k => fs.delete(k.getPath, false))
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
          ()
        }
      }
    }
  }
}
