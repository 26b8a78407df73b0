package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Xlsx

/** Short read-only queries: a seeded shuffle of the read-only registry
  * queries over parquet, interleaved with key lookups, range filters and
  * group-bys over `orders` kept as a workbook (written once per set-up
  * with `Xlsx.writeDistributed`, read per call with
  * `Xlsx.readDistributed`). Exercises planning, task launch and the xlsx
  * parse; no commit path.
  *
  * Workbook results are checked against a driver-side model of the same
  * rows, read from the parquet table; registry results against the
  * digest of their first call.
  */
final class OlapRead(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  import OlapRead._

  private val rng = new scala.util.Random(seed)
  private val reference = mutable.Map.empty[String, String]
  private var fixtures: String = _

  /** key → (custkey, status, totalprice, priority), from parquet */
  private val orders: Map[Long, (Long, String, Double, String)] =
    spark.read.parquet(s"$data/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4)))).toMap
  private val maxOrder = orders.keys.max
  private var corrupt = false

  def buildFixtures(dir: String): Unit = {
    fixtures = dir
    // range-partitioned parts, so the per-part stats let a key lookup
    // skip all but one workbook
    Xlsx.writeDistributed(spark, s"$dir/orders", "orders",
      spark.read.parquet(s"$data/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .repartitionByRange(8, col("o_orderkey")))
  }

  private def wbOrders = Xlsx.readDistributed(spark, s"$fixtures/orders", "orders")

  private def orderRow(k: Long): Seq[Any] = {
    val (c, s, p, pr) = orders(k)
    Seq(k, c, s, if (corrupt) p + 1 else p, pr)
  }

  private def expectRows(what: String, got: Array[Row], want: Seq[Seq[Any]])
      : Option[String] = {
    val g = got.map(_.toSeq).sortBy(_.head.toString)
    val w = want.sortBy(_.head.toString)
    if (g.length == w.length && g.zip(w).forall { case (a, b) =>
        Workload.sameRow(a, b) }) None
    else Some(s"$what: got ${g.take(3).map(_.mkString(",")).mkString(";")} " +
      s"(${g.length} rows), want ${w.take(3).map(_.mkString(",")).mkString(";")} " +
      s"(${w.length} rows)")
  }

  private def orderLookup(): Op = {
    val k = (rng.nextDouble() * (maxOrder + 1)).toLong
    Op("wb_lookup_order", "lookup",
      () => wbOrders.filter(col("o_orderkey") === k),
      rows => expectRows(s"order $k", rows,
        orders.get(k).map(_ => orderRow(k)).toSeq))
  }

  private def rangeFilter(): Op = {
    val lo = (rng.nextDouble() * maxOrder).toLong
    val hi = lo + RangeWidth
    Op("wb_range", "query",
      () => wbOrders.filter(col("o_orderkey").between(lo, hi))
        .select("o_orderkey", "o_totalprice"),
      rows => expectRows(s"range [$lo,$hi]", rows,
        (lo to hi).filter(orders.contains).map(k => Seq(k, orderRow(k)(3)))))
  }

  /** Whole-table group-by: its cost does not depend on the seed, so the
    * seed moves no op's cost, only the order and the keys. */
  private def groupBy(): Op =
    Op("wb_groupby", "query",
      () => wbOrders.groupBy("o_orderpriority")
        .agg(count(lit(1)), sum("o_totalprice")),
      // sums differ in summation order only, which `same` tolerates
      rows => expectRows("group-by", rows,
        orders.keys.toSeq.map(orderRow).groupBy(_(4)).map { case (g, rs) =>
          Seq(g, rs.size.toLong, rs.map(_(3).asInstanceOf[Double]).sum)
        }.toSeq))

  def warmupBlocks: Int = 2

  /** A round is two passes, so the window's tail (ten ops beyond) ranks
    * among the registry calls, and the lookups number more than ten. */
  override def roundBlocks: Int = 2

  /** One pass: the four op classes in equal number, one key lookup, one
    * range filter and one group-by per registry call. */
  def nextBlock(): Seq[Op] = rng.shuffle(
    RegistryQueries.flatMap(q => Seq(
      Workload.registryOp(spark, data, q, reference), orderLookup(),
      rangeFilter(), groupBy())))

  def corruptExpected(): Unit = {
    // every later order lookup, range and group-by fails, and so does
    // the next call of one registry query
    corrupt = true
    reference(RegistryQueries.head) = "corrupted"
  }
}

object OlapRead {
  /** SQL text, point and compound filters, group-by and rollup, shuffle
    * and broadcast joins, windows, per-group top-k and set difference. */
  val RegistryQueries = Seq("q_sql_revenue", "q_sql_shipping_priority",
    "q_agg_group", "q_agg_rollup", "q_join_inner", "q_join_broadcast",
    "q_win_sorted_groups", "q_topk_pergroup", "q_filter_point",
    "q_filter_compound", "q_set_except")
  val RangeWidth = 50L
}
