package perfbench

import Main.{Sample, json, median, pct}

/** Summaries of the window's samples: per-op-type tables (stderr), the
  * per-layer metrics of a traced run and the span file. */
object Report {
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Latency per op type, all samples. */
  def perKind(all: Seq[Sample]): String =
    (f"${"op type"}%-24s ${"n"}%5s ${"p50 ms"}%9s ${"max ms"}%9s" +:
      all.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        val l = ss.map(_.ms).sorted
        f"$k%-24s ${ss.size}%5d ${pct(l, 50)}%9.1f ${l.last}%9.1f"
      }).mkString("\n")

  /** Mean layer split per op type over traced samples. `driver.gap_ms` is
    * the wall time no span covers, so ops + plan + jobs + gap = wall;
    * `spans/wall` above 1 would mean the spans double count. */
  def layerTable(traced: Seq[Sample]): String = {
    val cols = Seq("ops.build_ms", "plan.total_ms", "exec.job_wall_ms",
      "driver.gap_ms")
    val header = f"${"op type"}%-24s ${"n"}%4s ${"wall"}%8s ${"ops"}%8s " +
      f"${"plan"}%8s ${"jobs"}%8s ${"gap"}%8s ${"spans/wall"}%10s"
    (header +: traced.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        val wall = mean(ss.map(_.ms))
        val parts = cols.map(c => mean(ss.map(_.layers(c))))
        f"$k%-24s ${ss.size}%4d $wall%8.1f ${parts(0)}%8.1f ${parts(1)}%8.1f " +
          f"${parts(2)}%8.1f ${parts(3)}%8.1f ${parts.init.sum / wall}%10.3f"
      }).mkString("\n")
  }

  /** Tracing overhead: the median over op types of the traced median
    * latency over the untraced one, as a percentage. Types with fewer
    * than two samples on either side are left out; the median over types
    * keeps one bimodal type (a CDC read is slow right after a compaction)
    * from swinging the estimate. */
  def overheadPct(all: Seq[Sample]): Double = {
    val ratios = all.filter(_.ok).groupBy(_.kind).values.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.size < 2 || u.size < 2) None
      else Some(median(t.map(_.ms)) / median(u.map(_.ms)))
    }.toSeq
    if (ratios.isEmpty) 0.0 else (median(ratios) - 1) * 100
  }

  val Units: Seq[(String, String)] = Seq(
    "ops.build_ms" -> "ms", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_wall_ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.task_gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.peak_exec_mem_mb" -> "MB",
    "exec.input_rows" -> "count", "driver.gap_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "storage.bytes_read" -> "bytes", "storage.bytes_written" -> "bytes",
    "cache.storage_mb" -> "MB")

  /** Per-layer metrics: means per traced op, plus ratios of sums, the
    * fleet gauges sampled between blocks and the fleet maintenance
    * latencies over all ops. */
  def perLayer(all: Seq[Sample], gauges: Seq[Map[String, Double]],
      cores: Int): Seq[(String, Double, String)] = {
    val traced = all.filter(_.traced)
    def sum(k: String) = traced.map(_.layers(k)).sum
    def kindMs(k: String) = median(all.filter(_.kind == k).map(_.ms))
    def gauge(k: String) = mean(gauges.flatMap(_.get(k)))
    Units.map { case (k, u) => (k, mean(traced.map(_.layers(k))), u) } ++ Seq(
      ("exec.core_busy_ratio",
        sum("exec.task_run_ms") / math.max(1.0, sum("exec.job_wall_ms") * cores),
        "ratio"),
      ("driver.gap_share", sum("driver.gap_ms") / math.max(1.0, sum("wall_ms")),
        "ratio"),
      ("storage.lookup_bytes_read", mean(traced.filter(_.cls == "lookup")
        .map(_.layers("storage.bytes_read"))), "bytes"),
      ("fleet.data_files", gauge("fleet.data_files"), "count"),
      ("fleet.versions", gauge("fleet.versions"), "count"),
      ("fleet.manifest_bytes", gauge("fleet.manifest_bytes"), "bytes"),
      ("fleet.compact_ms", kindMs("compact"), "ms"),
      ("fleet.expire_ms", kindMs("expire"), "ms"),
      ("fleet.cdc_read_ms", kindMs("cdc"), "ms"))
  }

  /** One record per traced op, written once at the end of the run. */
  def writeSpans(dir: Option[String], workload: String, seed: Long,
      traced: Seq[Sample]): Unit = dir.foreach { d =>
    val f = new java.io.File(d, s"$workload-seed$seed.json")
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try traced.foreach(s => out.println(json(Map("kind" -> s.kind,
      "class" -> s.cls, "ok" -> s.ok, "layers" -> s.layers))))
    finally out.close()
  }
}
