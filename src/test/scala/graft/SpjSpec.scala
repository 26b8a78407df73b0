package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Storage-partitioned join through the graft-avro connector: a fleet
  * written with `clusterBy` holds one key value per file (sidecar
  * min==max proves it), the scan reports KeyGroupedPartitioning, and
  * two such fleets join on the key with NO shuffle exchange. */
class SpjSpec extends SparkSpec {

  /** Count shuffle exchanges in the FINAL adaptive plan. AQE wraps
    * materialized exchanges in QueryStageExec nodes whose plan is a
    * field, not a child — a naive children-walk under-counts (to
    * zero), which would false-pass the zero-exchange assertion. */
  private def allExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize AQE
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case a: AdaptiveSparkPlanExec => count(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          count(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          count(r.child)
        case e: ShuffleExchangeExec => 1 + e.children.map(count).sum
        case other => other.children.map(count).sum
      })
    count(df.queryExecution.executedPlan)
  }

  private def writeClustered(df: org.apache.spark.sql.DataFrame,
      out: String): Unit =
    df.repartition(4, col("shard")).write.format("graft-avro")
      .option("clusterBy", "shard").mode("overwrite").save(out)

  test("clusterBy write + read joins with zero shuffle exchanges") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    val perUser = ev.groupBy($"shard", $"user_id")
      .agg(round(sum($"value"), 4).as("user_spend"))
    val perShard = ev.groupBy($"shard")
      .agg(round(sum($"value"), 4).as("shard_total"))
    writeClustered(perUser, s"$root/user.avro")
    writeClustered(perShard, s"$root/shard.avro")

    val a = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/user.avro")
    val b = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/shard.avro")
    val joined = a.join(b.hint("merge"), Seq("shard"))
      .select($"shard", $"user_id", $"user_spend", $"shard_total")

    assert(allExchanges(joined) == 0,
      s"SPJ must run exchange-free:\n${joined.queryExecution.executedPlan}")
    // and SORT-free: each grouped partition holds one key value, so the
    // reported per-partition ordering satisfies the merge join's
    // requirement with no SortExec on either scan leg
    def sorts(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case a: AdaptiveSparkPlanExec => sorts(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          sorts(q.plan)
        case s: org.apache.spark.sql.execution.SortExec =>
          1 + s.children.map(sorts).sum
        case other => other.children.map(sorts).sum
      })
    assert(sorts(joined.queryExecution.executedPlan) == 0,
      s"reported ordering should drop the merge-join sorts:\n" +
        s"${joined.queryExecution.executedPlan}")
    // results equal the direct (non-fleet) computation
    val direct = perUser.join(perShard, Seq("shard"))
      .select($"shard", $"user_id", $"user_spend", $"shard_total")
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == direct)
  }

  test("aggregation on the cluster key runs without a shuffle") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_agg_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    writeClustered(ev, s"$root/ev.avro")
    val grouped = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/ev.avro")
      .groupBy($"shard").agg(round(sum($"value"), 4).as("total"))
    assert(allExchanges(grouped) == 0,
      s"group-by on the cluster key should reuse the reported " +
        s"partitioning:\n${grouped.queryExecution.executedPlan}")
    val direct = ev.groupBy($"shard")
      .agg(round(sum($"value"), 4).as("total"))
      .collect().map(_.toSeq).toSet
    assert(grouped.collect().map(_.toSeq).toSet == direct)
  }

  test("every clustered file proves exactly one key in its sidecar") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_sidecar_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    writeClustered(ev, s"$root/ev.avro")
    val p = new org.apache.hadoop.fs.Path(s"$root/ev.avro")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val view = graft.sources.FleetView.resolve(spark, s"$root/ev.avro")
    val fleet = view.files
    val stats = view.stats(fs)
    assert(fleet.nonEmpty)
    // an empty task still commits one schema-bearing rows=0 container
    // (the ensureOpen guarantee); the read side excludes rows=0 files
    // from key grouping, so only row-bearing files must prove a key
    fleet.filter(st => stats(st.getPath.toString).rows > 0).foreach { st =>
      val ps = stats(st.getPath.toString)
      val cs = ps.cols("shard")
      assert(cs.nulls == 0 && cs.min.isDefined && cs.min == cs.max,
        s"${st.getPath.getName} spans shard range ${cs.min}..${cs.max}")
    }
    // and at least one such proof-bearing file exists
    assert(fleet.exists(st => stats(st.getPath.toString).rows > 0))
  }

  test("clustered compaction folds files while keeping the fleet SPJ-able") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_compact_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    // fragmented ingest: 8 tasks x up to 8 keys each -> many files
    ev.repartition(8).write.format("graft-avro")
      .option("clusterBy", "shard").mode("overwrite").save(s"$root/frag.avro")
    def nFiles(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(hp).count(st => st.isFile &&
          st.getPath.getName.endsWith(".avro"))
    }
    val before = nFiles(s"$root/frag.avro")
    graft.sources.FleetCompact.compactClustered(spark, s"$root/frag.avro",
      s"$root/tight.avro", targetBytes = Long.MaxValue / 2, "shard")
    val after = nFiles(s"$root/tight.avro")
    assert(after < before,
      s"compaction must fold files ($before -> $after)")
    // layout proof survives: the compacted fleet still joins SPJ-style
    val perShard = ev.groupBy($"shard")
      .agg(round(sum($"value"), 4).as("shard_total"))
    writeClustered(perShard, s"$root/shard.avro")
    val a = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/tight.avro")
    val b = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/shard.avro")
    val joined = a.join(b.hint("merge"), Seq("shard"))
    assert(allExchanges(joined) == 0,
      s"compacted fleet lost its SPJ layout:\n" +
        s"${joined.queryExecution.executedPlan}")
    assert(a.count() == ev.count(), "compaction must be lossless")
  }

  test("partially-clustered: a proven fleet joined to a plain table shuffles ONLY the plain side") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_partial_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    val perUser = ev.groupBy($"shard", $"user_id")
      .agg(round(sum($"value"), 4).as("user_spend"))
    writeClustered(perUser, s"$root/user.avro")
    val a = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/user.avro")
    // the OTHER side is a plain narrow scan — no layout proof, and no
    // shuffle of its own, so the ONLY exchange the whole plan may
    // contain is the one moving this side into the fleet's key
    // grouping; a both-sides fallback would show 2
    val plain = ev.select($"shard", $"user_id".as("ev_user"), $"value")
    val joined = a.join(plain.hint("merge"), Seq("shard"))
      .select($"shard", $"user_id", $"user_spend", $"ev_user", $"value")
    val n = allExchanges(joined)
    assert(n == 1, s"expected exactly ONE exchange (the plain side " +
      s"regrouped into the fleet's partitioning), got $n:\n" +
      s"${joined.queryExecution.executedPlan}")
    val direct = perUser.join(plain, Seq("shard"))
      .select($"shard", $"user_id", $"user_spend", $"ev_user", $"value")
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == direct)
  }

  test("brace-alternation globs survive the multi-path split") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_brace")
    graft.util.Tables.nation(spark, sfDir)
      .write.format("graft-avro").mode("overwrite").save(s"$root/a.avro")
    graft.util.Tables.nation(spark, sfDir)
      .write.format("graft-avro").mode("overwrite").save(s"$root/b.avro")
    // {a,b} carries a comma INSIDE braces: must reach globStatus whole
    val both = spark.read.format("graft-avro").load(s"$root/{a,b}.avro")
    assert(both.count() ==
      2 * graft.util.Tables.nation(spark, sfDir).count())
    // and top-level commas still union independent paths
    val alsoBoth = spark.read.format("graft-avro")
      .load(s"$root/a.avro,$root/b.avro")
    assert(alsoBoth.count() == both.count())
  }

  test("a clusterBy write of an empty DataFrame still leaves a loadable fleet") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_empty_spec")
    val empty = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
      .filter($"user_id" < 0) // provably empty, schema intact
    writeClustered(empty, s"$root/empty.avro")
    val back = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/empty.avro")
    assert(back.schema.fieldNames.toSeq == Seq("user_id", "value", "shard"),
      "schema inference must survive an all-empty clustered write")
    assert(back.count() == 0)
  }

  test("a plain (unclustered) fleet lapses to Unknown partitioning and still joins correctly") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("spj_fallback_spec")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    val perUser = ev.groupBy($"shard", $"user_id")
      .agg(round(sum($"value"), 4).as("user_spend"))
    val perShard = ev.groupBy($"shard")
      .agg(round(sum($"value"), 4).as("shard_total"))
    // plain write: multiple shards per file -> grouping must LAPSE
    perUser.repartition(4).write.format("graft-avro")
      .mode("overwrite").save(s"$root/user.avro")
    writeClustered(perShard, s"$root/shard.avro")
    val a = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/user.avro")
    val b = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/shard.avro")
    val joined = a.join(b.hint("merge"), Seq("shard"))
    assert(allExchanges(joined) > 0,
      "an unprovable layout must fall back to shuffling, not mis-group")
    val direct = perUser.join(perShard, Seq("shard")).collect()
      .map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == direct)
  }
}
