package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input tables: TPC-H-shaped parquet with the same
  * table names, column names, types and value domains as the
  * repository's fixtures, so every registry query runs on them
  * unchanged. Values are pure functions of (row id, column, data seed)
  * through `xxhash64`, so a given scale always yields the same bytes.
  *
  * The data seed is fixed: the workload seed varies only the op
  * stream. Run-to-run spread then measures the program, not the data.
  */
object Inputs {
  val DataSeed = 42L
  /** Fraction of the fixtures' sf1 row counts (orders = 1.5M × Scale). */
  val Scale = 0.01

  /** Parquet tables for `Scale` under `root`, generated on first use
    * and reused by later runs in the same checkout. */
  def ensure(spark: SparkSession, root: String): String = {
    val dir = new java.io.File(root, f"sf$Scale%.3f-seed$DataSeed-v2")
    if (!new java.io.File(dir, "_COMPLETE").exists()) {
      val tmp = new java.io.File(root, s".gen-${ProcessHandle.current().pid()}")
      tables(spark).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(tmp, s"$name.parquet").getPath)
      }
      new java.io.File(tmp, "_COMPLETE").createNewFile()
      graft.util.Scratch.deleteRecursively(dir.toPath)
      java.nio.file.Files.move(tmp.toPath, dir.toPath)
    }
    dir.getPath
  }

  def rows(name: String): Long = name match {
    case "customer" => (150000 * Scale).toLong
    case "supplier" => math.max(10L, (1000 * Scale).toLong)
    case "part" => (200000 * Scale).toLong
    case "orders" => (1500000 * Scale).toLong
    case "lineitem" => (6000000 * Scale).toLong
    case "documents" => math.max(500L, (50000 * Scale).toLong)
    case "embeddings" => math.max(500L, (20000 * Scale).toLong)
    case "events" => (1000000 * Scale).toLong
  }

  /** Uniform double in [0, 1) for (row, salt). */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt), lit(DataSeed)), lit(1000003L)) / 1000003.0

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(id, salt) * values.size) + 1).cast("int"))

  private def intIn(id: Column, salt: Int, n: Long): Column =
    floor(u(id, salt) * n).cast("long")

  private def day(id: Column, salt: Int, from: String, days: Int): Column =
    to_timestamp_ntz(date_add(lit(from).cast("date"),
      floor(u(id, salt) * days).cast("int")))

  private val vocab = Seq("the", "a", "data", "table", "row", "column",
    "key", "value", "scan", "join", "merge", "sort", "hash", "group", "agg",
    "filter", "window", "order", "part", "line", "customer", "query",
    "spark", "stream", "batch", "vector", "fast", "slow", "big", "small")

  def tables(s: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    def range(name: String) = s.range(0, rows(name), 1, 4)
    val nCust = rows("customer")
    val nOrders = rows("orders")
    val region = s.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name"))
    val nation = s.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = range("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      intIn(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      intIn(id, 4, 25).cast("int").as("s_nationkey"),
      round(u(id, 5) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val adjectives = Seq("small", "red", "blue", "green", "large", "steel",
      "brass", "light")
    val nouns = Seq("ring", "widget", "bolt", "nut", "gear", "spring",
      "valve", "screw")
    val part = range("part").select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, adjectives), pick(id, 7, nouns)).as("p_name"),
      concat(lit("Brand#"), intIn(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
        "LARGE")).as("p_type"),
      (intIn(id, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000)) / 10.0, 2).as("p_retailprice"))
    val orders = range("orders").select(id.as("o_orderkey"),
      intIn(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, 13) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day(id, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = range("lineitem").select(
      intIn(id, 16, nOrders).as("l_orderkey"),
      intIn(id, 17, rows("part")).as("l_partkey"),
      intIn(id, 18, rows("supplier")).as("l_suppkey"),
      (intIn(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (intIn(id, 20, 50) + 1).cast("double").as("l_quantity"),
      round(u(id, 21) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (intIn(id, 22, 11) / 100.0).as("l_discount"),
      (intIn(id, 23, 9) / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      day(id, 26, "1995-01-02", 2497).as("l_shipdate"))
    // one document in five is a near-copy of an earlier one (same word
    // stream, about one word in ten replaced), so the dedup operators
    // find real candidate pairs
    val nDocs = rows("documents")
    val src = when(u(id, 30) < 0.2, intIn(id, 31, nDocs)).otherwise(id)
    val vocabArr = array(vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (intIn(src, 32, 70) + 10).cast("int")),
      i => element_at(vocabArr, (pmod(xxhash64(
        when(pmod(xxhash64(id, i, lit(33)), lit(10)) === 0, -id - 1)
          .otherwise(src), i, lit(DataSeed)), lit(vocab.size.toLong)) + 1)
        .cast("int")))
    val documents = range("documents")
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        element_at(array(Seq("en", "en", "en", "fr", "es", "zh", "de")
          .map(lit): _*), (intIn(id, 34, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(id, lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten clusters: a per-label centroid plus roughly normal noise
    val label = pmod(id, lit(10))
    val embeddings = range("embeddings").select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => (
        (pmod(xxhash64(label, d, lit(40)), lit(1000L)) / 1000.0 - 0.5) * 0.4 +
          (pmod(xxhash64(id, d, lit(41)), lit(1000L)) +
            pmod(xxhash64(id, d, lit(42)), lit(1000L)) - 1000.0) / 10000.0)
        .cast("float")).as("embedding"),
      label.cast("int").as("label"))
    // the stream table: monotonically increasing timestamps minutes apart
    val events = range("events").select(id.as("event_id"),
      to_timestamp_ntz(timestamp_seconds(lit(1704067200L) + id * 120 +
        intIn(id, 50, 60))).as("ts"),
      intIn(id, 51, 40).as("user_id"),
      pick(id, 52, Seq("click", "purchase", "error", "signup", "view"))
        .as("event_type"),
      round(u(id, 53) * 200.0, 2).as("value"),
      format_string("{\"k\": %d}", intIn(id, 54, 100)).as("props"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "documents" -> documents,
      "embeddings" -> embeddings, "events" -> events)
  }
}
