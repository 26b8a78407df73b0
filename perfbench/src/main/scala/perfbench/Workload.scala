package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation the closed-loop client issues.
  *
  *  - `kind` names the op type (per-type summaries key on it).
  *  - `cls` is `lookup`, `commit` or `query`: the end-to-end lookup and
  *    commit metrics are taken over the first two classes.
  *  - `build` is the call into the program's entry point; `collect()`
  *    on what it returns is the action. `sqlText` marks a `spark.sql`
  *    statement, whose call runs the whole statement, so none of it is
  *    charged to the `ops` layer.
  *  - `check` runs after the op, untimed, and returns an error or None.
  */
final case class Op(kind: String, cls: String, build: () => DataFrame,
    check: Array[Row] => Option[String], sqlText: Boolean = false)

/** A workload owns its fixtures, its expectations and its op stream.
  * The op stream is a pure function of the seed and of the results the
  * model predicts, so the same seed replays the same ops. */
trait Workload {
  /** Build this workload's fixtures afresh under `dir`: product work
    * that counts as set-up. */
  def buildFixtures(dir: String): Unit

  /** The next block of ops: one pass (query mixes) or one cycle (the
    * fleet). */
  def nextBlock(): Seq[Op]

  /** Blocks per round. A round holds every op type in its fixed
    * proportion; the window always ends on a round boundary. */
  def roundBlocks: Int = 1

  /** Warm-up blocks run during set-up, of which only the first op of
    * each type runs. */
  def warmupBlocks: Int

  /** Called once before the timed window opens. */
  def windowStart(): Unit = ()

  /** Layer gauges sampled between blocks (fleet shape), by metric name. */
  def gauges(): Map[String, Double] = Map.empty

  /** Untimed end-of-window work: whole-state checks and the end-to-end
    * ratios that need a fresh rewrite (`write_amp`, `space_amp`). Returns
    * the ratios and any check failures. */
  def finish(writtenBytes: Long): (Map[String, Double], Seq[String]) =
    (Map.empty, Nil)

  /** Perturb one expected value so the self-test can prove the checks
    * catch a wrong result. */
  def corruptExpected(): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, seed: Long)
      : Workload = name match {
    case "olap_read" => new OlapRead(spark, data, seed)
    case "fleet_crud" => new FleetCrud(spark, data, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (olap_read, fleet_crud)")
  }

  /** Order-independent digest of a result: row count plus the sum and
    * xor of per-row hashes, so a reordered but equal result matches. */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001"))
        .toLong * 0x9E3779B97F4A7C15L
      sum += h
      xor ^= h
    }
    f"${rows.length}:$sum%016x:$xor%016x"
  }

  /** A registry query op checked against the digest of its first call
    * in this run. */
  def registryOp(spark: SparkSession, data: String, name: String,
      reference: scala.collection.mutable.Map[String, String]): Op = {
    val fn = graft.SparkEntry.queries(name)
    Op(name, "query", () => fn(spark, data), rows => {
      val d = digest(rows)
      reference.get(name) match {
        case None => reference(name) = d; None
        case Some(ref) if ref == d => None
        case Some(ref) => Some(s"$name digest $d != first call $ref")
      }
    })
  }

  /** Numeric-tolerant equality for values that crossed a codec. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      dx == dy || math.abs(dx - dy) <= 1e-9 * math.max(1.0, math.abs(dx))
    case _ => a == b
  }

  def sameRow(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y) }
}
