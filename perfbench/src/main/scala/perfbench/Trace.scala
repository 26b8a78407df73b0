package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.ExecutionEnds

/** The traced run's observer. Before each traced op the benchmark sets
  * the `perfbench.op` local property; Spark copies it into every job the
  * op starts (broadcast and subquery threads included), so jobs, their
  * stages and their tasks join the op by id. Planning phases come from
  * the `QueryPlanningTracker` of every query execution that ends, in any
  * session, and join the op whose wall interval contains them. Everything is kept in memory; the
  * benchmark attributes it once the listener bus has drained.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[String, StageSums]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var markerSeen = ""

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Wait until every event posted so far has reached this listener,
    * then detach it. Events arrive in posting order, so once a marker job
    * started last has ended here, everything before it has arrived. */
  def drainAndDetach(): Unit = {
    val token = s"perfbench-marker-${System.nanoTime()}"
    spark.sparkContext.setLocalProperty(OpKey, token)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (markerSeen != token && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(markerSeen == token, "listener bus did not drain within 60 s")
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .foreach { op =>
        jobs(e.jobId) = Job(op, e.time)
        e.stageIds.foreach(stageOp(_) = op)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.op.startsWith("perfbench-marker-")) markerSeen = j.op
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op =>
        stages.getOrElseUpdate(op, new StageSums).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stages.getOrElseUpdate(op, new StageSums)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      ExecutionEnds.queryExecution(end).foreach { qe =>
        synchronized {
          qe.tracker.phases.foreach { case (name, p) =>
            if (PlanPhases.contains(name))
              phases += ((name, p.startTimeMs, p.endTimeMs))
          }
        }
      }
    case _ =>
  }

  /** Layer breakdown of one op whose wall clock ran [t0, t1] (epoch ms)
    * and whose entry-point call ran [t0, tBuild]. Intervals are unioned
    * and made disjoint, so the parts plus the driver gap sum to the wall
    * time: jobs first, then planning outside jobs, then the `ops` call
    * outside both. */
  def layers(op: String, t0: Long, tBuild: Long, t1: Long, wallMs: Double,
      opsLayer: Boolean): Map[String, Double] = synchronized {
    val jobIv = jobs.values.filter(_.op == op)
      .map(j => (j.start, if (j.end > 0) j.end else t1)).toSeq
    val jobMs = Intervals.length(jobIv, t0, t1)
    val planMs = PlanPhases.map { name =>
      name -> Intervals.lengthOutside(phases.toSeq.collect {
        case (`name`, a, b) => (a, b) }, jobIv, t0, t1)
    }.toMap
    val planAll = Intervals.lengthOutside(
      phases.toSeq.map(p => (p._2, p._3)), jobIv, t0, t1)
    val opsMs = if (!opsLayer) 0.0 else Intervals.lengthOutside(
      Seq((t0, tBuild)), jobIv ++ phases.toSeq.map(p => (p._2, p._3)), t0, t1)
    val s = stages.getOrElse(op, new StageSums)
    val jobCount = jobs.values.count(_.op == op)
    Map("wall_ms" -> wallMs, "ops.build_ms" -> opsMs,
      "plan.analysis_ms" -> planMs("analysis"),
      "plan.optimization_ms" -> planMs("optimization"),
      "plan.planning_ms" -> planMs("planning"),
      "plan.total_ms" -> planAll,
      "exec.jobs" -> jobCount.toDouble, "exec.stages" -> s.stages.toDouble,
      "exec.tasks" -> s.tasks.toDouble, "exec.job_wall_ms" -> jobMs,
      "exec.task_run_ms" -> s.runMs.toDouble, "exec.task_cpu_ms" -> s.cpuMs,
      "exec.task_gc_ms" -> s.gcMs.toDouble,
      "exec.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> s.shuffleRead.toDouble,
      "exec.spill_bytes" -> s.spill.toDouble,
      "exec.peak_exec_mem_mb" -> s.peakMem / 1048576.0,
      "exec.input_rows" -> s.inputRows.toDouble,
      "driver.gap_ms" -> (wallMs - opsMs - planAll - jobMs))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PlanPhases = Seq("analysis", "optimization", "planning")

  final case class Job(op: String, start: Long, var end: Long = 0L)

  final class StageSums {
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuMs = 0.0
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    var inputRows = 0L
  }
}

/** Interval arithmetic on [start, end) epoch-ms pairs. */
object Intervals {
  private def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long) =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv1) => iv1 :: acc
    }.reverse

  /** Length of the union of `iv` within [lo, hi). */
  def length(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double =
    union(clip(iv, lo, hi)).map { case (a, b) => b - a }.sum.toDouble

  /** Length of the union of `iv` within [lo, hi) not covered by `minus`. */
  def lengthOutside(iv: Seq[(Long, Long)], minus: Seq[(Long, Long)],
      lo: Long, hi: Long): Double =
    length(iv ++ minus, lo, hi) - length(minus, lo, hi)
}
