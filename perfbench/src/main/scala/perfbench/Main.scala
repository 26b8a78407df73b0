package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's one process: one workload, one closed-loop client.
  *
  * {{{
  * Main --workload <olap_read|fleet_crud> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *      [--traces <dir>] [--commit <id>] [--source <digest>] [--corrupt]
  * }}}
  *
  * Set-up is the Spark session, `SetupReps` builds of the workload's
  * fixtures (each afresh; the last one is used) and the workload's
  * warm-up blocks, of which the first op of each type runs; `setup_s` is
  * the session start plus the median build plus the warm-up. The timed
  * window then issues whole rounds until the client has been busy for
  * `--seconds`: each op is timed from
  * outside, from the entry-point call to the end of its action, and
  * checked afterwards, untimed.
  *
  * `--trace 1` traces a seeded random half of the ops: traced ops give
  * the per-layer numbers, the others the tracing overhead. The last
  * stdout line is the result JSON; the exit code is 1 when any op failed
  * or returned a wrong result.
  */
object Main {
  val SetupReps = 3

  final case class Sample(kind: String, cls: String, ms: Double, ok: Boolean,
      traced: Boolean, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val corrupt = argv.contains("--corrupt")
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.util.GraftSession.defaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    println("# provenance " + json(Map(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "commit" -> args.getOrElse("commit", "unknown"),
      "source_sha256" -> args.getOrElse("source", "unknown"),
      "nproc" -> cores, "master" -> s"local[$cores]",
      "shuffle_partitions" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${
        System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "seconds" -> seconds,
      "data_scale" -> Inputs.Scale, "data_seed" -> Inputs.DataSeed)))

    // input generation is the benchmark's, not the program's: untimed
    val data = Inputs.ensure(spark, args("data"))
    val w = Workload(workloadName, spark, data, seed)
    val runner = new Runner(spark)

    val builds = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.buildFixtures(s"$work/fixtures-$rep")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    // a count, not a time: a time threshold warms some runs once and
    // others twice
    (1 to w.warmupBlocks).foreach { _ =>
      // the first op of each type: a cold call costs the same for every
      // repeat of a type, and the repeats add nothing to the warm-up
      val seen = mutable.Set.empty[String]
      w.nextBlock().filter(op => seen.add(op.kind))
        .foreach(runner.run(_, traced = false))
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(builds) + warmupS
    if (corrupt) w.corruptExpected()

    w.windowStart()
    System.gc()
    val window = mutable.ArrayBuffer.empty[Sample]
    val gauges = mutable.ArrayBuffer.empty[Map[String, Double]]
    var busyMs = 0.0
    var writtenBytes = 0L
    var blocks = 0
    val coin = new scala.util.Random(seed ^ 0x7ace)
    // whole rounds only, so every run weighs the op types alike
    while (busyMs < seconds * 1000 || blocks % w.roundBlocks != 0) {
      w.nextBlock().foreach { op =>
        // the traced run traces a random half of the ops (by position in
        // a round they would line up with the op mix); the rest measure
        // the tracing overhead
        val r = runner.run(op, traced = trace && coin.nextBoolean())
        busyMs += r.ms
        writtenBytes += r.bytesWritten
        window += r.sample
      }
      blocks += 1
      if (trace) gauges += w.gauges()
    }

    // the context cleaner frees shuffle and broadcast state only after a
    // GC has found it unreachable: collect, let it run, collect again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    val (ratios, endFailures) = w.finish(writtenBytes)
    endFailures.foreach(f => System.err.println(s"[perfbench] FAILED end check: $f"))

    val attempted = runner.attempted
    val failed = runner.failed + endFailures.size
    val all = window.toSeq
    val ok = all.filter(_.ok)
    def lat(ss: Seq[Sample]) = ss.map(_.ms).sorted
    val latAll = lat(ok)
    val (tailP, tailV) = tail(latAll)
    val lookups = lat(ok.filter(_.cls == "lookup"))
    val commits = lat(ok.filter(_.cls == "commit"))
    val summary = mutable.LinkedHashMap[String, Any](
      "ops" -> all.size, "blocks" -> blocks, "busy_s" -> busyMs / 1e3,
      "latency_tail_percentile" -> tailP, "latency_samples" -> latAll.size,
      "lookup_p50_ms" -> hdMedian(lookups), "lookup_tail_ms" -> tail(lookups)._2,
      "lookup_tail_percentile" -> tail(lookups)._1,
      "lookup_samples" -> lookups.size,
      "commit_p50_ms" -> pct(commits, 50), "commit_tail_ms" -> tail(commits)._2,
      "commit_tail_percentile" -> tail(commits)._1,
      "commit_samples" -> commits.size,
      "failed_ratio" -> failed.toDouble / attempted,
      "fixture_builds_s" -> builds, "warmup_s" -> warmupS,
      "session_s" -> sessionS,
      "p50_ms_by_type" -> ok.groupBy(_.kind).map { case (k, ss) =>
        k -> median(ss.map(_.ms)) })
    ratios.foreach { case (k, v) => summary(k) = v }
    println("# summary " + json(summary.toMap))
    System.err.println(Report.perKind(all))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", ok.size / (ok.map(_.ms).sum / 1e3), "op/s"),
        ("latency_p50_ms", hdMedian(latAll), "ms"),
        ("latency_tail_ms", tailV, "ms"),
        ("lookup_p50_ms", hdMedian(lookups), "ms"),
        ("lookup_tail_ms", tail(lookups)._2, "ms"),
        ("retained_heap_mb", retainedMb, "MB"))
      else {
        val traced = all.filter(_.traced)
        val layerRows = Report.layerTable(traced)
        System.err.println(layerRows)
        val overhead = Report.overheadPct(all)
        Report.writeSpans(args.get("traces"), workloadName, seed, traced)
        Report.perLayer(all, gauges.toSeq, cores) ++ Seq(
          ("trace.overhead_pct", overhead, "%"),
          ("commit.p50_ms", pct(commits, 50), "ms"),
          ("commit.tail_ms", tail(commits)._2, "ms"),
          ("storage.write_amp", ratios.getOrElse("write_amp", 0.0), "ratio"),
          ("storage.space_amp", ratios.getOrElse("space_amp", 0.0), "ratio"))
      }
    val correct = failed == 0
    graft.util.Caches.clear(spark)
    spark.stop()
    println(json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 50)

  /** Harrell–Davis estimate of the median of sorted values: a mean of
    * all order statistics, weighted by a Beta((n+1)/2, (n+1)/2) kernel
    * around the middle rank. Where the window's ops fall into a fast
    * half and a slow half (`olap_read`), the sample median is the
    * midpoint of the slowest fast op and the fastest slow op, two
    * extremes; this estimate averages the ranks around them instead. */
  def hdMedian(sorted: Seq[Double]): Double = {
    val n = sorted.size
    val a = (n + 1) / 2.0
    def cdf(x: Double) =
      org.apache.commons.math3.special.Beta.regularizedBeta(x, a, a)
    sorted.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) *
      sorted(i)).sum
  }

  /** Linear-interpolated percentile of sorted values; 0 when empty. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = (sorted.size - 1) * p / 100
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  /** (percentile, value) of the tail: the highest percentile with at
    * least ten samples beyond it, i.e. the latency exactly ten ops
    * exceeded; the median when there are fewer than eleven samples. */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.size < 11) (50.0, pct(sorted, 50))
    else (100.0 * (sorted.size - 11) / (sorted.size - 1), sorted(sorted.size - 11))

  def json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
      .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case other => other.toString
  }
}

/** Runs ops from outside and counts them. */
final class Runner(spark: SparkSession) {
  var attempted = 0
  var failed = 0
  private var seq = 0

  final case class Ran(ms: Double, bytesWritten: Long, sample: Main.Sample)

  def run(op: Op, traced: Boolean): Ran = {
    seq += 1
    attempted += 1
    val id = s"op-$seq"
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach { t => t.attach(); sc.setLocalProperty(Tracer.OpKey, id) }
    val (r0, w0) = Runner.fsBytes()
    val gc0 = Runner.gcMs()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var tBuild = t0
    val result: Either[Throwable, Array[Row]] =
      try {
        val df = op.build()
        tBuild = System.currentTimeMillis()
        Right(df.collect())
      } catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    val gc = Runner.gcMs() - gc0
    val (r1, w1) = Runner.fsBytes()
    tracer.foreach { t => sc.setLocalProperty(Tracer.OpKey, null); t.drainAndDetach() }
    val error = result.fold(e => Some(s"threw $e"), op.check)
    error.foreach { e =>
      failed += 1
      System.err.println(s"[perfbench] FAILED ${op.kind} ($id): $e")
    }
    val layers = tracer.map(t =>
      t.layers(id, t0, tBuild, t1, ms, opsLayer = !op.sqlText) ++ Map(
        "jvm.gc_ms" -> gc, "storage.bytes_read" -> (r1 - r0).toDouble,
        "storage.bytes_written" -> (w1 - w0).toDouble,
        "cache.storage_mb" -> sc.getExecutorMemoryStatus.values.map {
          case (max, free) => max - free }.sum / 1048576.0))
    Ran(ms, w1 - w0, Main.Sample(op.kind, op.cls, ms, error.isEmpty, traced,
      layers.getOrElse(Map.empty)))
  }
}

object Runner {
  /** Bytes read and written through Hadoop's `file` scheme: the
    * workload's table I/O (shuffle files bypass Hadoop). */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
}
