package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.sources.{Avro, FleetBloom, FleetFilters, FleetStats}

/** Per-file min/max/null stats for avro fleets: collector semantics,
  * the planning-time skip evaluator, sidecar IO degradation, and the
  * end-to-end file-skipping path through both sinks. */
class FleetStatsSpec extends SparkSpec {

  private def tmp(name: String): String = graft.util.Scratch.dir(name)

  private def localFs =
    new Path(System.getProperty("java.io.tmpdir"))
      .getFileSystem(spark.sessionState.newHadoopConf())

  // planned (post-skip) part files of the ONE V2 scan in `df`: the
  // files of every packed avro read partition, or one per partition of
  // a scan that plans one file per partition (the xlsx fleet)
  private def plannedParts(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan
    }.getOrElse(fail(s"no V2 scan in:\n${df.queryExecution.optimizedPlan}"))
      .toBatch.planInputPartitions().toSeq.flatMap[Any] {
        case g: graft.sources.AvroFileGroup => g.splits.map(_.file)
        case other => Seq(other)
      }.distinct.size

  test("collector folds min/max/nulls; NaN drops a column; all-null kept") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("nan", DoubleType),
      StructField("allnull", StringType), StructField("bin", BinaryType)))
    val c = new FleetStats.Collector(schema)
    Seq(
      Seq[Any](5L, 1.5, "m", 0.0, null, Array[Byte](1)),
      Seq[Any](-3L, null, "a", Double.NaN, null, null),
      Seq[Any](9L, 2.5, "z", 1.0, null, null)
    ).foreach { row =>
      c.startRow()
      row.zipWithIndex.foreach { case (v, i) => c.observe(i, v) }
    }
    val ps = c.result(123L)
    assert(ps.len == 123L && ps.rows == 3L)
    // blooms ride the same entries now — compare the bound/null core,
    // then sanity-check the blooms cover the observed values
    assert(ps.cols("l").copy(bloom = None) ==
      FleetStats.ColStat(Some(-3L), Some(9L), 0L))
    assert(ps.cols("d").copy(bloom = None) ==
      FleetStats.ColStat(Some(1.5), Some(2.5), 1L))
    assert(ps.cols("s").copy(bloom = None) ==
      FleetStats.ColStat(Some("a"), Some("z"), 0L))
    for ((c, v) <- Seq(("l", 5L), ("d", 1.5), ("s", "m"))) {
      val b = ps.cols(c).bloom.get
      val Some((t, h1, h2)) = FleetBloom.canonicalHash(v): @unchecked
      assert(t == b.tag && b.mightContain(h1, h2), s"bloom lost $c=$v")
    }
    // NaN poisons ordering → the column carries NO stats at all
    assert(!ps.cols.contains("nan"))
    // all-null column: entry with no bounds — IsNotNull can skip on it
    assert(ps.cols("allnull") == FleetStats.ColStat(None, None, 3L))
    // NaN also poisons the bloom with the column — and an all-null
    // column has nothing to bloom
    assert(ps.cols("allnull").bloom.isEmpty)
    // untracked type (binary): never collected
    assert(!ps.cols.contains("bin"))
  }

  test("neverMatches proves only impossible predicates, conservatively") {
    val st = FleetStats.PartStats(1L, 10L, Map(
      "k" -> FleetStats.ColStat(Some(10L), Some(20L), 0L),
      "n" -> FleetStats.ColStat(Some(1.0), Some(2.0), 3L),
      "dead" -> FleetStats.ColStat(None, None, 10L)))
    def never(f: Filter) = FleetStats.neverMatches(f, st)
    // ranges
    assert(never(EqualTo("k", 9L)) && never(EqualTo("k", 21L)))
    assert(!never(EqualTo("k", 10L)) && !never(EqualTo("k", 15L)))
    assert(never(GreaterThan("k", 20L)) && !never(GreaterThan("k", 19L)))
    assert(never(GreaterThanOrEqual("k", 21L)) &&
      !never(GreaterThanOrEqual("k", 20L)))
    assert(never(LessThan("k", 10L)) && !never(LessThan("k", 11L)))
    assert(never(LessThanOrEqual("k", 9L)) &&
      !never(LessThanOrEqual("k", 10L)))
    assert(never(In("k", Array(1L, 5L, 25L))) &&
      !never(In("k", Array(1L, 12L))))
    // cross-width numeric literals share the integral ordering
    assert(never(GreaterThan("k", 20)) && !never(LessThan("k", 11)))
    // nulls
    assert(never(IsNull("k")) && !never(IsNull("n")))
    // an empty-string min refuses the IsNull skip-proof (defense in
    // depth against a reader ever narrowing "" to null); a non-empty
    // string min with zero nulls still proves it
    val stE = FleetStats.PartStats(1L, 5L, Map(
      "e" -> FleetStats.ColStat(Some(""), Some("z"), 0L),
      "s" -> FleetStats.ColStat(Some("a"), Some("z"), 0L)))
    assert(!FleetStats.neverMatches(IsNull("e"), stE))
    assert(FleetStats.neverMatches(IsNull("s"), stE))
    assert(never(IsNotNull("dead")) && !never(IsNotNull("n")))
    // an all-null column can satisfy no range predicate either
    assert(never(EqualTo("dead", 1L)) && never(GreaterThan("dead", 0L)))
    // composition: And skips if either side proves, Or needs both
    assert(never(And(EqualTo("k", 15L), IsNull("k"))))
    assert(!never(Or(EqualTo("k", 15L), IsNull("k"))))
    assert(never(Or(EqualTo("k", 9L), IsNull("k"))))
    // absent column / unknown filter shape → always read
    assert(!never(EqualTo("missing", 1L)))
    assert(!never(StringContains("k", "x")))
  }

  test("sidecar roundtrips and degrades to advisory on damage") {
    val fs = localFs
    val dir = new Path(tmp("stats_io"))
    fs.mkdirs(dir)
    val a = FleetStats.PartStats(10L, 2L, Map(
      "x" -> FleetStats.ColStat(Some(1L), Some(5L), 1L),
      "s" -> FleetStats.ColStat(Some("a"), Some("b"), 0L),
      "b" -> FleetStats.ColStat(Some(false), Some(true), 0L),
      "f" -> FleetStats.ColStat(Some(0.5), Some(2.5), 0L)))
    val b = FleetStats.PartStats(20L, 4L, Map.empty)
    FleetStats.write(fs, dir, Map("p1.avro" -> a, "p2.avro" -> b))
    assert(FleetStats.read(fs, dir) == Map("p1.avro" -> a, "p2.avro" -> b))
    // forFleet keys by full path and drops length-mismatched entries
    val f1 = fs.create(new Path(dir, "p1.avro"), true)
    f1.write(Array.fill[Byte](10)(0)); f1.close()
    val f2 = fs.create(new Path(dir, "p2.avro"), true)
    f2.write(Array.fill[Byte](99)(0)); f2.close() // len 99 != recorded 20
    val fleet = Seq(fs.getFileStatus(new Path(dir, "p1.avro")),
      fs.getFileStatus(new Path(dir, "p2.avro")))
    val byPath = FleetStats.forFleet(fs, fleet)
    assert(byPath.keySet ==
      Set(fs.getFileStatus(new Path(dir, "p1.avro")).getPath.toString))
    // a torn/garbage sidecar reads as NO stats, never an error
    val out = fs.create(new Path(dir, FleetStats.FileName), true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    assert(FleetStats.read(fs, dir).isEmpty)
  }

  test("V2 writer emits stats; filtered scans skip whole files") {
    import spark.implicits._
    val dir = tmp("stats_v2") + "/t.avro"
    spark.range(0, 100).select($"id",
        concat(lit("doc"), $"id").as("s"),
        when($"id" < 50, $"id" * 0.5).as("half"))
      .repartitionByRange(4, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val fs = localFs
    // stats ride the job's manifest commit; no sidecar is written
    assert(!fs.exists(new Path(dir, FleetStats.FileName)))
    assert(FleetStatsKit.committedStats(spark, dir).size == 4)

    val fleet = spark.read.format("graft-avro").load(dir)
    // no filter → all 4 files planned
    assert(plannedParts(fleet.select($"id")) == 4)
    // range filter over the range-partitioned key → one file survives
    val hi = fleet.filter($"id" > 90)
    assert(plannedParts(hi) == 1)
    assert(hi.select($"id").as[Long].collect().sorted.toSeq ==
      (91L to 99L))
    // equality: one file; impossible value: zero files, zero rows
    assert(plannedParts(fleet.filter($"id" === 42)) == 1)
    assert(fleet.filter($"id" === 42).count() == 1)
    val none = fleet.filter($"id" === 1000)
    assert(plannedParts(none) == 0 && none.count() == 0)
    // string bounds skip too
    val s = fleet.filter($"s" === "zzz")
    assert(plannedParts(s) == 0 && s.count() == 0)
    // IsNotNull on a column null in some files only skips all-null
    // ones — the top range (ids ≥ ~75) is certainly all-null, so at
    // least one file drops (range boundaries are sampled, not exact)
    val nn = fleet.filter($"half".isNotNull)
    assert(nn.count() == 50)
    assert(plannedParts(nn) < 4)
    // version files without stats degrade to scanning everything,
    // same rows
    FleetStatsKit.stripStats(dir)
    val unskipped = spark.read.format("graft-avro").load(dir)
      .filter($"id" > 90)
    assert(plannedParts(unskipped) == 4)
    assert(unskipped.count() == 9)
  }

  test("bloom hashes equate exactly the values cmp equates") {
    // cross-family integral equality: 5L == 5.0 == 5.0f under cmp,
    // so they MUST share one canonical hash
    val l = FleetBloom.canonicalHash(5L)
    assert(l == FleetBloom.canonicalHash(5.0))
    assert(l == FleetBloom.canonicalHash(5.0f))
    assert(l == FleetBloom.canonicalHash(java.lang.Integer.valueOf(5)))
    // non-integral floats are cmp-distinct from every long
    assert(FleetBloom.canonicalHash(5.5) != l && FleetBloom.canonicalHash(5.5).isDefined)
    // temporal carriers: a Timestamp literal hashes as its µs long
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:30Z"))
    val micros = 1704067230000000L
    assert(FleetBloom.canonicalHash(ts) == FleetBloom.canonicalHash(micros))
    // beyond 2^53, cmp's double comparison conflates neighbors — the
    // hash must refuse rather than disagree
    assert(FleetBloom.canonicalHash((1L << 53) + 1L).isEmpty)
    assert(FleetBloom.canonicalHash(Double.NaN).isEmpty)
    // strings only equal themselves
    assert(FleetBloom.canonicalHash("a") != FleetBloom.canonicalHash("b"))
    assert(FleetBloom.canonicalHash("a").get._1 == 's')
  }

  test("bloom builder poisons on cap overflow and unhashable values") {
    val b = new FleetBloom.Builder
    (0 until FleetBloom.MaxDistinct).foreach(i => b.observe(i.toLong))
    assert(b.result().isDefined)
    b.observe(999999L) // cap + 1 distinct → whole bloom dropped
    assert(b.result().isEmpty)
    val huge = new FleetBloom.Builder
    huge.observe(1L)
    huge.observe((1L << 60)) // unrepresentable → poison
    assert(huge.result().isEmpty)
    // duplicates do not count against the cap
    val dup = new FleetBloom.Builder
    (0 until 100000).foreach(i => dup.observe((i % 10).toLong))
    val bf = dup.result()
    assert(bf.isDefined)
    (0 until 10).foreach { i =>
      val Some((t, h1, h2)) = FleetBloom.canonicalHash(i.toLong): @unchecked
      assert(bf.get.mightContain(h1, h2))
    }
  }

  test("bloom sidecars prune point lookups min/max cannot") {
    import spark.implicits._
    val dir = tmp("bloom_v2") + "/t.avro"
    // hash-distribute EVEN ids: every file spans ~the full id range,
    // so bounds prove nothing inside it
    spark.range(0, 2000).select(($"id" * 2).as("id"),
        concat(lit("k"), $"id" * 2).as("s"))
      .repartition(8, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)
    assert(plannedParts(fleet.select($"id")) == 8)
    // a PRESENT id: the bloom keeps the holder file (false positives
    // may keep a couple more), and the row survives
    val one = fleet.filter($"id" === 1234L)
    assert(plannedParts(one) <= 3, "present-key lookup should plan few files")
    assert(one.count() == 1)
    // an id INSIDE [min,max] but absent (odd): bounds cannot skip —
    // only the blooms can prove absence
    val absent = fleet.filter($"id" === 1001L)
    assert(plannedParts(absent) <= 1, "bloom must prune an in-range absent key")
    assert(absent.count() == 0)
    // same for strings inside the lexical range
    val sAbsent = fleet.filter($"s" === "k1234x")
    assert(plannedParts(sAbsent) <= 1)
    assert(sAbsent.count() == 0)
    // IN lookups: all-absent prunes everything; mixed keeps holders
    val inAbsent = fleet.filter($"id".isin(1001L, 2003L))
    assert(plannedParts(inAbsent) <= 2)
    assert(inAbsent.count() == 0)
    val inMixed = fleet.filter($"id".isin(8L, 1001L))
    assert(inMixed.count() == 1)
    // version files without stats degrade to reading everything,
    // same rows
    FleetStatsKit.stripStats(dir)
    val un = spark.read.format("graft-avro").load(dir).filter($"id" === 1001L)
    assert(plannedParts(un) == 8 && un.count() == 0)
  }

  test("compaction collapses a small-file fleet and restores skipping") {
    import spark.implicits._
    val root = tmp("compact_spec")
    val df = (0 until 2000).map(i => (i.toLong, s"k$i", i * 1.5))
      .toDF("id", "name", "v")
    df.repartition(16).write.format("graft-avro").mode("overwrite")
      .save(s"$root/small")
    val fs = localFs
    def dataFiles(p: String) = fs.listStatus(new Path(p)).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    assert(dataFiles(s"$root/small").length == 16)
    // round-robin shards interleave ids across the whole range, so the
    // min/max proofs are useless: a low-range read opens (almost) all
    val before = plannedParts(spark.read.format("graft-avro")
      .load(s"$root/small").filter($"id" < 100))
    assert(before >= 12, s"interleaved fleet should barely skip: $before")
    val smallBytes = dataFiles(s"$root/small").map(_.getLen).sum
    val shards = graft.sources.FleetCompact.compact(spark,
      s"$root/small", s"$root/compacted", smallBytes / 4, "id")
    val out = dataFiles(s"$root/compacted")
    assert(out.length == shards && shards >= 3,
      s"expected ~4-5 compacted shards, got $shards / ${out.length}")
    // content survives the rewrite bit-for-bit
    val back = spark.read.format("graft-avro").load(s"$root/compacted")
    assert(back.count() == 2000)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    // range clustering → disjoint id intervals per file → the same
    // low-range read now opens a single shard
    val after = plannedParts(back.filter($"id" < 100))
    assert(after == 1, s"compacted fleet should skip to 1 shard: $after")
  }

  test("temporal range predicates absorb, skip files, and keep boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FilterExec
    val dir = tmp("stats_ts") + "/e.avro"
    // 96 hourly events across 4 days + one null-ts row and one null-d row
    val base = spark.range(0, 96).select(
      $"id".as("event_id"),
      to_timestamp(lit("2024-03-01 00:00:00")).as("base"),
      $"id".cast("int").as("hrs"))
      .select($"event_id",
        timestamp_seconds(unix_timestamp($"base") + $"hrs" * 3600L).as("ts"),
        to_date(timestamp_seconds(unix_timestamp($"base") + $"hrs" * 3600L))
          .as("d"))
    val withNulls = base.unionByName(
      Seq((960L, null, null)).toDF("event_id", "ts_s", "d_s")
        .select($"event_id",
          $"ts_s".cast("timestamp").as("ts"), $"d_s".cast("date").as("d")))
    withNulls.repartitionByRange(4, $"ts")
      .write.format("graft-avro").mode("overwrite").save(dir)
    assert(FleetStatsKit.committedStats(spark, dir).size == 4)

    val fleet = spark.read.format("graft-avro").load(dir)
    // one day of four → a strict subset of files planned; the ts
    // conjuncts are ABSORBED (no FilterExec anywhere in the plan)
    val day2 = fleet.filter(
      $"ts" >= lit("2024-03-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-03 00:00:00").cast("timestamp"))
    assert(plannedParts(day2) < 4)
    assert(day2.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.isEmpty,
      "ts range should be fully absorbed, not residual")
    // boundary exactness: 00:00:00 included, next midnight excluded
    assert(day2.select($"event_id").as[Long].collect().sorted.toSeq ==
      (24L to 47L))
    // equality on an instant inside a skipped file's window
    val one = fleet.filter($"ts" === lit("2024-03-04 23:00:00").cast("timestamp"))
    assert(plannedParts(one) < 4 && one.count() == 1)
    // impossible window: zero files, zero rows
    val never = fleet.filter($"ts" >= lit("2030-01-01").cast("timestamp"))
    assert(plannedParts(never) == 0 && never.count() == 0)
    // DATE range absorbs and prunes the same way (day-int carriers)
    val dday = fleet.filter($"d" === lit("2024-03-03").cast("date"))
    assert(dday.count() == 24)
    assert(dday.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.isEmpty)
    // null-ts row: range predicates never return it, IsNull finds it
    assert(fleet.filter($"ts".isNull).count() == 1)
    assert(fleet.filter($"ts".isNotNull).count() == 96)
  }

  test("grouped aggregates push down; single-group files answer from metadata") {
    import spark.implicits._
    val dir = tmp("stats_groupagg") + "/g.avro"
    val df = spark.range(0, 90).select(
      element_at(array(lit("a"), lit("b"), lit("c")),
        (pmod($"id", lit(3)) + 1).cast("int")).as("g"),
      $"id".as("v"),
      when($"id" % 9 === 0, lit(null).cast("double"))
        .otherwise($"id" * 1.5).as("d"))
    // one append per group → every part file provably single-group
    Seq("a", "b", "c").foreach { t =>
      df.filter($"g" === t).coalesce(1)
        .write.format("graft-avro").mode("append").save(dir)
    }
    val fleet = spark.read.format("graft-avro").load(dir)
    val agg = fleet.groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"d").as("nd"),
        min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"g")
    // pushed: the scan advertises the grouped form
    val scan = agg.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan }.get
    assert(scan.description().contains("PushedAggregation(grouped)"),
      scan.description())
    // every partition is a metadata row — no file opened at all
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.nonEmpty && parts.forall(
      _.getClass.getSimpleName == "GroupMetaPartition"),
      parts.map(_.getClass.getSimpleName).mkString(","))
    // values match the unpushed twin exactly
    val expected = df.groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"d").as("nd"),
        min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"g").collect().toSeq
    assert(agg.collect().toSeq == expected)

    // a mixed fleet (no single-group proof) takes the decode-aggregate
    // tier: still pushed, still exact, groups merged across splits
    val dir2 = tmp("stats_groupagg_mixed") + "/g.avro"
    df.repartition(4).write.format("graft-avro").mode("overwrite").save(dir2)
    val agg2 = spark.read.format("graft-avro").load(dir2)
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"d").as("nd"),
        min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"g")
    val scan2 = agg2.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan }.get
    assert(scan2.description().contains("PushedAggregation(grouped)"))
    assert(agg2.collect().toSeq == expected)
    // null group keys form their own group through the decode tier
    val dirN = tmp("stats_groupagg_null") + "/g.avro"
    df.withColumn("g", when($"v" < 30, lit(null).cast("string"))
        .otherwise($"g"))
      .repartition(2).write.format("graft-avro").mode("overwrite").save(dirN)
    val aggN = spark.read.format("graft-avro").load(dirN)
      .groupBy($"g").agg(count(lit(1)).as("n")).orderBy($"g")
    assert(aggN.filter($"g".isNull).head().getLong(1) == 30L)
  }

  test("filters compose with grouped pushdown across all three tiers") {
    import spark.implicits._
    val dir = tmp("stats_filteragg") + "/g.avro"
    val df = spark.range(0, 90).select(
      element_at(array(lit("a"), lit("b"), lit("c")),
        (pmod($"id", lit(3)) + 1).cast("int")).as("g"),
      $"id".as("v"))
    Seq("a", "b", "c").foreach { t => // single-group files
      df.filter($"g" === t).coalesce(1)
        .write.format("graft-avro").mode("append").save(dir)
    }
    val fleet = spark.read.format("graft-avro").load(dir)
    def scanOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collectFirst {
        case s: DataSourceV2ScanRelation => s.scan }.get
    def partKinds(d: org.apache.spark.sql.DataFrame): Seq[String] =
      scanOf(d).toBatch.planInputPartitions()
        .map(_.getClass.getSimpleName).toSeq

    // filter provably matches every row → metadata tier survives
    val total = fleet.filter($"v" >= 0)
      .groupBy($"g").agg(count(lit(1)).as("n")).orderBy($"g")
    assert(scanOf(total).description()
      .contains("PushedAggregation(grouped)"))
    assert(partKinds(total).forall(_ == "GroupMetaPartition"),
      partKinds(total).mkString(","))
    assert(total.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 30L), ("b", 30L), ("c", 30L)))

    // filter excludes two groups entirely → their files SKIP; the
    // surviving file still answers from metadata (EqualTo always-match)
    val onlyA = fleet.filter($"g" === "a")
      .groupBy($"g").agg(count(lit(1)).as("n"))
    assert(partKinds(onlyA) == Seq("GroupMetaPartition"),
      partKinds(onlyA).mkString(","))
    assert(onlyA.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("a", 30L)))

    // filter rejects SOME rows of every file → decode tier, evaluated
    // per record before aggregation (v < 45 keeps ids 0..44)
    val low = fleet.filter($"v" < 45)
      .groupBy($"g").agg(count(lit(1)).as("n"), max($"v").as("mx"))
      .orderBy($"g")
    assert(partKinds(low).forall(_ == "AvroFileGroup"),
      partKinds(low).mkString(","))
    val expected = df.filter($"v" < 45).groupBy($"g")
      .agg(count(lit(1)).as("n"), max($"v").as("mx"))
      .orderBy($"g").collect().toSeq
    assert(low.collect().toSeq == expected)

    // impossible filter → every file skipped, empty result
    val none = fleet.filter($"v" > 1000)
      .groupBy($"g").agg(count(lit(1)).as("n"))
    assert(partKinds(none).isEmpty && none.collect().isEmpty)
  }

  test("alwaysMatches proves only total predicates, conservatively") {
    val st = FleetStats.PartStats(1L, 10L, Map(
      "k" -> FleetStats.ColStat(Some(10L), Some(20L), 0L),
      "s" -> FleetStats.ColStat(Some("m"), Some("m"), 0L),
      "n" -> FleetStats.ColStat(Some(1L), Some(5L), 3L),
      "z" -> FleetStats.ColStat(None, None, 10L)))
    def am(f: Filter) = FleetStats.alwaysMatches(f, st)
    assert(am(GreaterThanOrEqual("k", 10L)) && am(LessThanOrEqual("k", 20L)))
    assert(am(GreaterThan("k", 9L)) && am(LessThan("k", 21L)))
    assert(!am(GreaterThan("k", 10L)) && !am(LessThan("k", 20L)))
    assert(am(EqualTo("s", "m")) && !am(EqualTo("k", 10L)))
    assert(am(In("s", Array("x", "m"))) && !am(In("k", Array(10L))))
    assert(am(IsNotNull("k")) && !am(IsNotNull("n")))
    assert(am(IsNull("z")) && !am(IsNull("n")))
    // nulls poison range proofs (a null row fails the predicate)
    assert(!am(GreaterThanOrEqual("n", 0L)))
    // absent stats prove nothing; family divergence proves nothing
    assert(!am(GreaterThan("missing", 0L)))
    assert(!am(GreaterThanOrEqual("s", 0L)))
    assert(am(And(GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 20L))))
    assert(!am(And(GreaterThanOrEqual("k", 10L), GreaterThan("k", 15L))))
    assert(am(Or(GreaterThan("k", 15L), GreaterThanOrEqual("k", 10L))))
  }

  test("TopN pushes into the fleet scan and matches the unpushed ordering") {
    import spark.implicits._
    val dir = tmp("stats_topn") + "/t.avro"
    val df = spark.range(0, 200).select(
      $"id",
      (pmod($"id", lit(7)) * 1.5).as("v"), // duplicate keys → tie-break
      when($"id" % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), pmod($"id", lit(13)))).as("s"))
    df.repartition(4).write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)
    def scanDesc(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.optimizedPlan.collectFirst {
        case s: DataSourceV2ScanRelation => s.scan }.get.description()

    // desc with tie-break: exact agreement with the unpushed twin
    val top = fleet.orderBy($"v".desc, $"id").limit(9)
    assert(scanDesc(top).contains("PushedTopN"), scanDesc(top))
    assert(top.collect().toSeq ==
      df.orderBy($"v".desc, $"id").limit(9).collect().toSeq)

    // null ordering both ways on a string key
    val nf = fleet.orderBy($"s".asc_nulls_first, $"id").limit(25)
    assert(scanDesc(nf).contains("NULLS FIRST"))
    assert(nf.collect().toSeq ==
      df.orderBy($"s".asc_nulls_first, $"id").limit(25).collect().toSeq)
    val nl = fleet.orderBy($"s".desc_nulls_last, $"id").limit(25)
    assert(scanDesc(nl).contains("NULLS LAST"))
    assert(nl.collect().toSeq ==
      df.orderBy($"s".desc_nulls_last, $"id").limit(25).collect().toSeq)

    // composes with an absorbed filter: heap only sees passing rows
    val filtered = fleet.filter($"v" > 3.0).orderBy($"v".asc, $"id").limit(7)
    assert(scanDesc(filtered).contains("PushedTopN") &&
      scanDesc(filtered).contains("PushedFilters"))
    assert(filtered.collect().toSeq ==
      df.filter($"v" > 3.0).orderBy($"v".asc, $"id").limit(7)
        .collect().toSeq)

    // limit larger than the fleet: everything comes back, still exact
    val all = fleet.orderBy($"id".asc).limit(1000)
    assert(all.collect().toSeq == df.orderBy($"id".asc).collect().toSeq)
  }

  test("TopN prunes files whose bounds provably miss the top n") {
    import spark.implicits._
    val dir = tmp("stats_topn_prune") + "/t.avro"
    val df = spark.range(0, 200).select($"id",
      when($"id" < 3, lit(null).cast("long")).otherwise($"id").as("k"))
    df.repartitionByRange(4, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)
    // top-5 by k desc (nulls last): only the top range file can
    // contribute — the other three never open
    val top = fleet.orderBy($"k".desc, $"id").limit(5)
    assert(plannedParts(top) == 1, s"expected 1 file, ${plannedParts(top)}")
    assert(top.collect().toSeq ==
      df.orderBy($"k".desc, $"id").limit(5).collect().toSeq)
    // asc nulls FIRST: the null-holding bottom file is a top candidate
    // and must stay; bound-beaten files still drop
    val ascNf = fleet.orderBy($"k".asc_nulls_first, $"id").limit(5)
    assert(plannedParts(ascNf) < 4 && plannedParts(ascNf) >= 1)
    assert(ascNf.collect().toSeq ==
      df.orderBy($"k".asc_nulls_first, $"id").limit(5).collect().toSeq)
    // a limit spanning multiple files keeps exactly the files needed
    val wide = fleet.orderBy($"k".desc, $"id").limit(60)
    assert(plannedParts(wide) >= 2 && plannedParts(wide) <= 4)
    assert(wide.collect().toSeq ==
      df.orderBy($"k".desc, $"id").limit(60).collect().toSeq)
    // version files without stats degrade to reading everything,
    // same rows
    FleetStatsKit.stripStats(dir)
    val un = spark.read.format("graft-avro").load(dir)
      .orderBy($"k".desc, $"id").limit(5)
    assert(plannedParts(un) == 4)
    assert(un.collect().toSeq ==
      df.orderBy($"k".desc, $"id").limit(5).collect().toSeq)
  }

  test("string predicates absorb: prefix proofs skip, suffix/substring read") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FilterExec
    // unit proofs first: the prefix range [p, succ(p))
    assert(FleetFilters.prefixSuccessor("cl").contains("cm"))
    assert(FleetFilters.prefixSuccessor("z😀") // U+1F600
      .contains("z😁"))
    assert(FleetFilters.prefixSuccessor("").isEmpty)
    val st = FleetStats.PartStats(1L, 10L, Map(
      "s" -> FleetStats.ColStat(Some("click"), Some("error"), 0L)))
    def nm(f: Filter) = FleetStats.neverMatches(f, st)
    def am(f: Filter) = FleetStats.alwaysMatches(f, st)
    assert(nm(StringStartsWith("s", "x")), "file below prefix")
    assert(nm(StringStartsWith("s", "a")), "file above prefix range")
    assert(!nm(StringStartsWith("s", "cl")) && !nm(StringStartsWith("s", "e")))
    assert(am(StringStartsWith("s", "c")) === false) // max 'error' outside
    val single = FleetStats.PartStats(1L, 5L, Map(
      "s" -> FleetStats.ColStat(Some("click"), Some("club"), 0L)))
    assert(FleetStats.alwaysMatches(StringStartsWith("s", "cl"), single))

    // e2e: event_type-partitioned fleet, LIKE 'cl%' absorbed + skipped
    val dir = tmp("stats_prefix") + "/e.avro"
    val df = spark.range(0, 100).select($"id",
      element_at(array(lit("click"), lit("error"), lit("purchase"),
        lit("signup"), lit("view")),
        (pmod($"id", lit(5)) + 1).cast("int")).as("et"))
    Seq("click", "error", "purchase", "signup", "view").foreach { t =>
      df.filter($"et" === t).coalesce(1)
        .write.format("graft-avro").mode("append").save(dir)
    }
    val fleet = spark.read.format("graft-avro").load(dir)
    val pre = fleet.filter($"et".like("cl%"))
    assert(pre.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.isEmpty, "prefix should absorb")
    assert(plannedParts(pre) == 1, s"${plannedParts(pre)} files")
    assert(pre.count() == 20)
    // suffix + substring: absorbed (no residual), correct, no skip proof
    val suf = fleet.filter($"et".endsWith("up"))
    assert(suf.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.isEmpty)
    assert(suf.count() == 20) // signup
    val sub = fleet.filter($"et".contains("rch"))
    assert(sub.count() == 20) // purchase
    // mixed with other conjuncts
    assert(fleet.filter($"et".like("cl%") && $"id" < 50).count() == 10)
  }

  test("xlsx TopN and prefix predicates push through the shared layer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FilterExec
    val parent = tmp("xlsx_topn")
    val df = spark.range(0, 60).select($"id",
      element_at(array(lit("click"), lit("error"), lit("view")),
        (pmod($"id", lit(3)) + 1).cast("int")).as("et"),
      ($"id" % 7 * 1.25).as("v"))
    Seq("click", "error", "view").foreach { t =>
      graft.sources.Xlsx.writeDistributed(spark, s"$parent/$t.xlsx",
        "data", df.filter($"et" === t).coalesce(1))
    }
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$parent/*.xlsx/part-*.xlsx")
    def scanDesc(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.optimizedPlan.collectFirst {
        case s: DataSourceV2ScanRelation => s.scan }.get.description()
    // TopN: plan-asserted, exact against the unpushed twin (ties + ids)
    val top = fleet.orderBy($"v".desc, $"id").limit(8)
    assert(scanDesc(top).contains("PushedTopN"), scanDesc(top))
    assert(top.collect().toSeq ==
      df.orderBy($"v".desc, $"id").limit(8).collect().toSeq)
    // prefix predicate: absorbed AND whole workbooks skipped
    val pre = fleet.filter($"et".like("cl%"))
    assert(pre.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.isEmpty, "prefix should absorb")
    assert(plannedParts(pre) == 1, s"${plannedParts(pre)} workbooks")
    assert(pre.count() == 20)
    // TopN composes with the absorbed (and skipping) filter
    val both = fleet.filter($"et".like("cl%"))
      .orderBy($"v".asc, $"id").limit(5)
    assert(both.collect().toSeq ==
      df.filter($"et" === "click").orderBy($"v".asc, $"id").limit(5)
        .collect().toSeq)
  }

  test("temporal comparator: instants and carriers agree across spellings") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456")
    val micros = ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000
    assert(FleetFilters.cmp(ts, java.lang.Long.valueOf(micros)) == 0)
    assert(FleetFilters.cmp(java.lang.Long.valueOf(micros - 1), ts) < 0)
    val inst = ts.toInstant
    assert(FleetFilters.cmp(inst, java.lang.Long.valueOf(micros)) == 0)
    val d = java.sql.Date.valueOf("2024-03-01")
    val days = d.toLocalDate.toEpochDay
    assert(FleetFilters.cmp(d, java.lang.Long.valueOf(days)) == 0)
    assert(FleetFilters.cmp(java.time.LocalDate.parse("2024-03-02"),
      java.lang.Long.valueOf(days)) > 0)
    // a temporal against a non-carrier (Double stats) is NOT comparable
    intercept[IllegalStateException](FleetFilters.cmp(ts, Double.box(1.0)))
  }

  test("xlsx COUNT(*) answers from sidecars without unzipping a workbook") {
    import spark.implicits._
    val dir = tmp("xlsx_count") + "/fleet.xlsx"
    val df = spark.range(0, 37).select($"id",
      concat(lit("r"), $"id").as("s"))
    graft.sources.Xlsx.writeDistributed(spark, dir, "data",
      df.repartition(3))
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/part-*.xlsx")
    val cnt = fleet.agg(count(lit(1)).as("n"))
    val scan = cnt.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan }.get
    assert(scan.description().contains("PushedAggregation(metadata)"),
      scan.description())
    assert(scan.toBatch.planInputPartitions().length == 1)
    assert(cnt.head().getLong(0) == 37L)
    // deleting the sidecar demotes to the parse path — same count
    val fs = localFs
    fs.delete(new Path(dir, FleetStats.FileName), false)
    val cnt2 = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/part-*.xlsx").agg(count(lit(1)).as("n"))
    val scan2 = cnt2.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan }.get
    assert(!scan2.description().contains("PushedAggregation"))
    assert(cnt2.head().getLong(0) == 37L)
  }

  test("xlsx fleet skips workbooks; inferred-type divergence never skips") {
    import spark.implicits._
    val dir = tmp("stats_xlsx") + "/fleet.xlsx"
    // `code` holds DIGIT STRINGS: written as string cells, the fleet
    // schema INFERS them back as long — the recorded string bounds and
    // the long filter literal are different carrier families, so the
    // family guard must refuse to skip (and must not throw)
    val df = spark.range(0, 90).select($"id",
        concat(lit("n"), $"id").as("name"),
        format_string("%03d", $"id").as("code"))
      .repartitionByRange(3, $"id")
    graft.sources.Xlsx.writeDistributed(spark, dir, "data", df.toDF())
    val fs = localFs
    assert(FleetStats.read(fs, new Path(dir)).size == 3)
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(dir)
    // the parse is the cost here: a skipped workbook is never unzipped
    val lo = fleet.filter($"id" < 30)
    assert(plannedParts(lo) < 3)
    assert(lo.count() == 30)
    val none = fleet.filter($"name" === "zzz")
    assert(plannedParts(none) == 0 && none.count() == 0)
    // code inferred long; stats carry strings → read everything, right
    // answer (would throw at planning without the family guard)
    assert(fleet.schema("code").dataType ==
      org.apache.spark.sql.types.LongType)
    val diverged = fleet.filter($"code" === 7)
    assert(plannedParts(diverged) == 3)
    assert(diverged.count() == 1)
  }

  test("stats-covered min/max/count aggregates answer from metadata") {
    import spark.implicits._
    val dir = tmp("stats_agg") + "/t.avro"
    spark.range(0, 1000).select($"id",
        concat(lit("k"), format_string("%04d", $"id")).as("s"),
        when($"id" % 4 === 0, null).otherwise($"id" * 0.25).as("q"),
        lit(Double.NaN).as("poison")) // NaN column → stats dropped
      .repartition(4)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)

    val agg = fleet.agg(min($"id").as("lo"), max($"id").as("hi"),
      count(lit(1)).as("n"), count($"q").as("nq"),
      min($"s").as("slo"), max($"s").as("shi"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation(metadata)"), plan)
    // one partition, one row, zero file opens — and exact values
    val scan = agg.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan
    }.get
    assert(scan.toBatch.planInputPartitions().length == 1)
    val r = agg.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 999L)
    assert(r.getLong(2) == 1000L && r.getLong(3) == 750L)
    assert(r.getString(4) == "k0000" && r.getString(5) == "k0999")

    // a NaN-poisoned column carries no stats → the whole aggregate
    // falls through to Spark's own path, still correct (min ignores NaN
    // rows? no — min propagates through the real scan: just compare)
    val nanAgg = fleet.agg(min($"poison").as("p"), min($"id").as("lo"))
    assert(!nanAgg.queryExecution.executedPlan.toString
      .contains("PushedAggregation(metadata)"))
    assert(nanAgg.select($"lo").head().getLong(0) == 0L)

    // distinct counts and grouped aggregates never push to metadata
    assert(!fleet.agg(countDistinct($"id")).queryExecution
      .executedPlan.toString.contains("PushedAggregation(metadata)"))
    assert(!fleet.groupBy($"s").agg(min($"id")).queryExecution
      .executedPlan.toString.contains("PushedAggregation(metadata)"))

    // without full stats coverage: COUNT(*) falls to block headers,
    // min/max to the row path — values unchanged
    FleetStatsKit.stripStats(dir)
    val fleet2 = spark.read.format("graft-avro").load(dir)
    val c2 = fleet2.groupBy().count()
    assert(c2.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT(*)]"))
    assert(c2.head().getLong(0) == 1000L)
    val mm2 = fleet2.agg(min($"id"), max($"id")).head()
    assert(mm2.getLong(0) == 0L && mm2.getLong(1) == 999L)
  }

  test("runtime (DPP-style) filters skip files without re-filtering rows") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import spark.implicits._
    val dir = tmp("stats_dpp") + "/t.avro"
    spark.range(0, 100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val df = spark.read.format("graft-avro").load(dir)
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan
    }.get
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    // id is trackable → advertised for runtime filtering
    assert(rf.filterAttributes().map(_.fieldNames().head).contains("id"))
    assert(scan.toBatch.planInputPartitions().length == 4)
    // the join build side's key set arrives as an In filter at runtime:
    // only the files whose sidecar range holds a key stay scheduled
    rf.filter(Array[Filter](In("id", Array(3L, 7L))))
    assert(scan.toBatch.planInputPartitions().length == 1)
    // unsupported runtime filter shapes are ignored, never unsound
    rf.filter(Array[Filter](StringContains("id", "x")))
    assert(scan.toBatch.planInputPartitions().length == 4)
  }

  test("writeDistributed emits stats through the accumulator path") {
    import spark.implicits._
    val dir = tmp("stats_dist") + "/t.avro"
    val df = spark.range(0, 60).select($"id",
        ($"id" % 3 === 0).as("fizz"))
      .repartitionByRange(3, $"id")
    Avro.writeDistributed(spark, dir, df.toDF())
    val fs = localFs
    assert(FleetStats.read(fs, new Path(dir)).size == 3)
    val fleet = spark.read.format("graft-avro").load(dir)
    val lo = fleet.filter($"id" < 10)
    assert(plannedParts(lo) == 1)
    assert(lo.count() == 10)
    // boolean stats: a file holding both values never skips on either
    assert(fleet.filter($"fizz" === true).count() == 20)
  }

  test("xlsx empty-string cells: pushed IsNull/IsNotNull never lose rows") {
    import spark.implicits._
    val dir = tmp("stats_xlsx_empty") + "/fleet.xlsx"
    // g partitions the fleet so one part file holds ONLY empty-string
    // cells (write-time nulls=0 in its sidecar entry), one only nulls,
    // one only real values — the layout where a reader/collector null
    // disagreement would turn a pushed IsNull into silent row loss
    val df = spark.range(0, 30).select($"id", ($"id" / 10).cast("long").as("g"),
        when($"id" < 10, lit("")).when($"id" < 20, lit(null))
          .otherwise(lit("x")).as("s"))
      .repartitionByRange(3, $"g")
    graft.sources.Xlsx.writeDistributed(spark, dir, "data", df.toDF())
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(dir)
    assert(fleet.count() == 30)
    // semantic truth: "" is NOT null — both the pushed path and the
    // sidecar skip decision must agree with what the cells read back as
    assert(fleet.filter($"s".isNull).count() ==
      fleet.collect().count(_.isNullAt(2)))
    assert(fleet.filter($"s".isNotNull).count() ==
      fleet.collect().count(!_.isNullAt(2)))
    assert(fleet.filter($"s".isNull).count() +
      fleet.filter($"s".isNotNull).count() == 30)
  }

  test("string comparator is code-point ordered, matching Catalyst UTF-8") {
    import graft.sources.FleetFilters
    import spark.implicits._
    // U+1F600 (supplementary, UTF-16 surrogates D83D DE00) vs U+E000
    // (BMP private use): UTF-16 code-unit order puts the surrogate pair
    // BELOW U+E000, Catalyst's UTF-8 byte order puts it ABOVE
    val smiley = new String(Character.toChars(0x1F600))
    val pua = new String(Character.toChars(0xE000))
    assert(FleetFilters.cmp(smiley, pua) > 0)
    assert(FleetFilters.cmp(pua, smiley) < 0)
    assert(FleetFilters.cmp(smiley, smiley) == 0)
    // prefix rule unaffected
    assert(FleetFilters.cmp("ab", "abc") < 0)
    assert(FleetFilters.cmp(smiley + "a", smiley) > 0)
    // end-to-end: a pushed range filter over a fleet whose files split
    // exactly on the disputed boundary returns what Spark itself would
    val dir = tmp("stats_utf8") + "/t.avro"
    Seq((1L, pua), (2L, smiley)).toDF("id", "s")
      .repartitionByRange(2, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)
    val pushed = fleet.filter($"s" > pua)
    // UTF-16 ordering would prove-skip the smiley file (max "<" pua)
    assert(plannedParts(pushed) == 1)
    assert(pushed.collect().map(_.getString(1)).toSeq == Seq(smiley))
    val below = fleet.filter($"s" < pua)
    assert(plannedParts(below) == 0 && below.count() == 0)
  }
}
