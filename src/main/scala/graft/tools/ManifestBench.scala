package graft.tools

import org.apache.spark.sql.SparkSession

/** Manifest COMMIT-COST growth curve: how does the cost of one
  * append-commit scale with the number of files already in the fleet?
  * A commit writes its added files' entries once, into a new segment,
  * plus a version file listing the live segments, so the per-append
  * cost must stay FLAT while the fleet grows.
  *
  * Pure driver-side measurement (manifest commits launch no jobs):
  * grows one fleet to `files` via 1-file append commits of real empty
  * files, each carrying the stats a writer would capture for 100 rows
  * of (id BIGINT, name STRING, score DOUBLE) — min, max, null count
  * and a bloom per column — so the entries priced are the ones
  * production commits record. Per 1k-file window it reports the mean,
  * p50 and p99 commit latency, the largest version file written and
  * the live segments' count and bytes. At 1k, 5k and 10k files it also
  * reports the p50/p99 of `FleetView.resolve` (the read-side planning
  * step) without and with 1,000 orphan `.avro` files in the data
  * directory, and at the end two cold reads of the newest snapshot
  * (median of 9): with every cache cleared, and with only the version
  * cache cleared:
  *
  *   sbt "runMain graft.tools.ManifestBench 10000"
  *
  * (Window means are robust to GC blips at these sub-ms scales; the
  * p99 is where a blip, or a segment merge, shows.) */
object ManifestBench {
  /** "mean_<what>_ms=… p50_ms=… p99_ms=…" over one window's samples
    * (nearest-rank percentiles). */
  private def windowStats(what: String, nanos: Array[Long]): String = {
    val sorted = nanos.sorted
    def pct(q: Double) =
      sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1)) / 1e6
    f"mean_${what}_ms=${nanos.sum / 1e6 / nanos.length}%8.3f " +
      f"p50_ms=${pct(0.50)}%8.3f p99_ms=${pct(0.99)}%8.3f"
  }

  def main(args: Array[String]): Unit = {
    val files = if (args.length > 0) args(0).toInt else 10000
    val windowSize = 1000
    val spark = graft.util.GraftSession.defaults(SparkSession.builder()
      .master("local[2]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = graft.util.Scratch.dir("manifest_bench")
    val dir = new org.apache.hadoop.fs.Path(s"$root/t.avro")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    println(s"[manifestbench] files=$files window=$windowSize")
    val winNanos = new Array[Long](windowSize)
    def touch(name: String): Unit =
      java.nio.file.Files.createFile(java.nio.file.Paths.get(
        fs.makeQualified(new org.apache.hadoop.fs.Path(dir, name)).toUri))
    // resolve latency over the current fleet (nearest-rank p50/p99 of
    // 50 warm resolves), without and with 1,000 orphans present
    def resolveCurve(n: Int): Unit = {
      def probe(): String = {
        val ns = Array.fill(50) {
          val t = System.nanoTime()
          graft.sources.FleetView.resolve(spark, dir.toString)
          System.nanoTime() - t
        }.sorted
        def pct(q: Double) =
          ns(math.max(0, math.ceil(q * ns.length).toInt - 1)) / 1e6
        f"p50_ms=${pct(0.50)}%8.3f p99_ms=${pct(0.99)}%8.3f"
      }
      val clean = probe()
      val orphans = (0 until 1000).map(k => f"orphan-$n%06d-$k%04d.avro")
      orphans.foreach(touch)
      val dirty = probe()
      orphans.foreach(o => fs.delete(new org.apache.hadoop.fs.Path(dir, o), false))
      println(f"[manifestbench] resolve files=$n%6d orphans=0    $clean")
      println(f"[manifestbench] resolve files=$n%6d orphans=1000 $dirty")
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    // the stats a writer captures for file i's 100 rows (len 0: the
    // bench's files are empty, and an entry applies at its length)
    def statsOf(i: Int): graft.sources.FleetStats.PartStats = {
      val c = new graft.sources.FleetStats.Collector(schema)
      (0 until 100).foreach { r =>
        val id = i * 100L + r
        c.startRow()
        c.observe(0, Long.box(id))
        c.observe(1, s"name-$id")
        c.observe(2, if (r % 10 == 0) null else Double.box(id * 0.5))
      }
      c.result(0L)
    }
    def vbytes(v: Long): Long = fs.getFileStatus(
      graft.sources.FleetManifest.versionFilePath(dir, v)).getLen
    var maxVBytes = 0L
    var i = 0
    while (i < files) {
      val name = f"part-$i%08d.avro"
      touch(name)
      val stats = Map(name -> statsOf(i))
      val t0 = System.nanoTime()
      graft.sources.FleetManifest.commit(fs, dir,
        base => base :+ name, bootstrap = Seq.empty, stats = stats)
      winNanos(i % windowSize) = System.nanoTime() - t0
      i += 1
      maxVBytes = math.max(maxVBytes, vbytes(i.toLong))
      if (i % windowSize == 0) {
        val segs = graft.sources.FleetManifest.mainCurrent(fs, dir).get.segments
        println(f"[manifestbench] files=$i%6d " +
          windowStats("commit", winNanos) + f" max_vfile_bytes=$maxVBytes%6d" +
          f" live_segments=${segs.size}%3d segment_bytes=" + segs.map(ls =>
            fs.getFileStatus(new org.apache.hadoop.fs.Path(dir,
              s"${graft.sources.FleetManifest.SegmentsRel}/${ls.name}")).getLen).sum)
        maxVBytes = 0L
      }
      if (i == 1000 || i == 5000 || i == 10000) resolveCurve(i)
    }
    // the newest snapshot read cold (median of 9): as a fresh process
    // reads it, and as an unread version over cached segments
    for ((what, segments) <- Seq("all caches" -> true, "version cache" -> false)) {
      val ms = Seq.fill(9) {
        graft.sources.FleetManifest.clearSnapshotCache(segments)
        val t0 = System.nanoTime()
        graft.sources.FleetManifest.mainCurrent(fs, dir).get
        (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[manifestbench] cold current() read, $what cleared: " +
        f"median ${ms(4)}%.2f ms (min ${ms.head}%.2f, max ${ms.last}%.2f)")
    }

    spark.stop()
  }
}
