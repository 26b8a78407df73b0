package graft

import org.apache.spark.sql.functions._
import graft.sources.{FleetDv, FleetManifest, FleetCommitConflictException}

/** Deletion vectors — the merge-on-read read path: (sync, ridx) row
  * positions stable under splitting, vector-bound files read with
  * positions skipped, bindings versioned with the manifest
  * (inherited across appends, retired with their file, compare-and-
  * set against concurrent vector swaps). */
class FleetDvSpec extends SparkSpec {

  private def hconf = spark.sessionState.newHadoopConf()
  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(hconf) -> new org.apache.hadoop.fs.Path(dir)

  /** One ~multi-block container: enough padded rows that the avro
    * writer (64 KB sync interval) emits several blocks. */
  private def bigFleet(tag: String): String = {
    import spark.implicits._
    val dir = graft.util.Scratch.dir(s"dv_$tag") + "/t.avro"
    spark.range(20000)
      .select($"id", concat(lit("x" * 120), $"id".cast("string"))
        .as("pad"))
      .repartition(1)
      .write.format("graft-avro").option("codec", "null")
      .mode("overwrite").save(dir)
    dir
  }

  private def positions(dir: String, extra: String = "")
      : Map[Long, (Long, Long)] = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root",
      new org.apache.hadoop.fs.Path(dir).getParent.toString)
    s2.sql(s"SELECT id, _sync, _ridx FROM graft.t $extra")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  test("(_sync, _ridx) positions are identical for full and split reads") {
    val dir = bigFleet("pos")
    val full = positions(dir)
    assert(full.size == 20000)
    // multiple blocks actually exercised
    assert(full.values.map(_._1).toSet.size > 3,
      s"expected several blocks, got syncs " +
        full.values.map(_._1).toSet.toString)
    // ordinals restart per block
    assert(full.values.count(_._2 == 0L) ==
      full.values.map(_._1).toSet.size)
    // the same file read as many byte-range splits reports the SAME
    // position for every row — the split-stability contract deletion
    // vectors rely on
    val split = spark.read.format("graft-avro")
      .option("maxFileBytes", 64 * 1024).load(dir)
      .select(col("id"), col("_sync"), col("_ridx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(split == full, "split read drifted from sequential positions")
  }

  test("a bound vector hides exactly its positions; the old version reads full") {
    val dir = bigFleet("hide")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val victims = Seq(0L, 1L, 7777L, 19999L)
    val dv = FleetDv.Deleted.of(victims.map(full))
    assert(dv.count == 4)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvName = FleetDv.write(fs, p, dataFile, dv)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvName)),
      requireDvs = Map(dataFile -> None))
    val after = spark.read.format("graft-avro").load(dir)
    assert(after.count() == 20000 - 4)
    import spark.implicits._
    assert(after.filter($"id".isin(victims: _*)).count() == 0)
    // count(*) declined the metadata tiers (their numbers include
    // deleted rows) yet stays correct — and the undeleted complement
    // is untouched
    assert(after.filter(!$"id".isin(victims: _*)).count() == 20000 - 4)
    // time travel: the pre-vector generation reads the full file
    val v1 = FleetManifest.versions(fs, p).head
    assert(spark.read.format("graft-avro")
      .option("versionAsOf", v1).load(dir).count() == 20000)
    // the data file itself was never touched
    assert(FleetManifest.current(fs, p).get.files == Seq(dataFile))
  }

  test("vector bindings inherit across appends and retire with their file") {
    import spark.implicits._
    val dir = bigFleet("inherit")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvName = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(5L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvName)))
    // an ordinary append must CARRY the binding forward
    Seq((90001L, "new")).toDF("id", "pad").repartition(1)
      .write.format("graft-avro").mode("append").save(dir)
    val snap = FleetManifest.current(fs, p).get
    assert(snap.dvs == Map(dataFile -> dvName),
      s"append dropped the vector binding: ${snap.dvs}")
    assert(spark.read.format("graft-avro").load(dir).count() == 20000)
    // retiring the file retires the binding with it
    FleetManifest.commit(fs, p, base => base.filterNot(_ == dataFile),
      Nil, requireInBase = Set(dataFile))
    assert(FleetManifest.current(fs, p).get.dvs.isEmpty,
      "retired file kept its vector binding")
  }

  test("count(*) keeps the header fast path on a vectored fleet, corrected") {
    import spark.implicits._
    val dir = bigFleet("count")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvName = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(1L, 2L, 3L).map(full)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvName)))
    val cnt = spark.read.format("graft-avro").load(dir)
      .groupBy().count()
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation(metadata): [COUNT(*)]") ||
      plan.contains("PushedAggregation: [COUNT(*)]"),
      s"count(*) lost the pushed fast path on a vectored fleet:\n$plan")
    assert(cnt.as[Long].head() == 20000 - 3)
    // min/max on the ONE (vectored) file: the extremum-attaining file
    // carries a vector, so the tier declines to the row path —
    // conservative and exact
    val mx = spark.read.format("graft-avro").load(dir)
      .groupBy().agg(max($"id"))
    assert(!mx.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "max must not push when its attaining file is vectored")
    assert(mx.as[Long].head() == 19999)
  }

  test("min/max metadata tier survives vectors on non-extremal files only") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("dv_minmax") + "/t.avro"
    spark.range(200)
      .select($"id", format_string("n%03d", $"id").as("nm"))
      .repartitionByRange(2, $"id")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val (fs, p) = fsOf(dir)
    val rows = spark.read.format("graft-avro").load(dir)
      .select($"id", col("_file"), col("_sync"), col("_ridx")).collect()
      .map(r => r.getLong(0) ->
        (new org.apache.hadoop.fs.Path(r.getString(1)).getName,
          r.getLong(2), r.getLong(3))).toMap
    val lowFile = rows(0L)._1
    assert(rows(199L)._1 != lowFile, "expected a 2-file range layout")
    // vector two NON-extremal rows of the MIN-attaining file
    val victims = rows.iterator.collect {
      case (id, (f, s2, r2)) if f == lowFile && id != 0L => (s2, r2)
    }.take(2).toSeq
    assert(victims.size == 2)
    val dv = FleetDv.write(fs, p, lowFile, FleetDv.Deleted.of(victims))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(lowFile -> Some(dv)))
    // MAX: attained by the unvectored high file → the metadata tier
    // stands — zero tasks — and the value is exact
    val mx = spark.read.format("graft-avro").load(dir)
      .groupBy().agg(max($"id"), max($"nm"))
    val mxPlan = mx.queryExecution.executedPlan.toString
    assert(mxPlan.contains("PushedAggregation(metadata): [MAX(id), MAX(nm)]"),
      s"max over unvectored extremum files must keep the tier:\n$mxPlan")
    val mxRow = mx.head()
    assert(mxRow.getLong(0) == 199L && mxRow.getString(1) == "n199")
    // MIN: its only attaining file carries the vector → decline (the
    // delete could have removed the extremum), row path stays exact
    val mn = spark.read.format("graft-avro").load(dir)
      .groupBy().agg(min($"id"))
    assert(!mn.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "min must decline when every attaining file is vectored")
    assert(mn.as[Long].head() == 0L)
    // COUNT(*) composes with MAX in one metadata row, corrected by the
    // vector's header count
    val both = spark.read.format("graft-avro").load(dir)
      .groupBy().agg(count("*"), max($"id"))
    assert(both.queryExecution.executedPlan.toString
      .contains("PushedAggregation(metadata): [COUNT(*), MAX(id)]"))
    val bothRow = both.head()
    assert(bothRow.getLong(0) == 198L && bothRow.getLong(1) == 199L)
  }

  test("grouped aggregate pushdown survives vectors: touched files decode, rest resolve") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("dv_groupagg") + "/t.avro"
    // one file per group (clusterBy) — the layout whose sidecars
    // single-group-prove every file
    spark.range(400)
      .select(($"id" % 4).as("k"), $"id".as("x"))
      .repartition(4, $"k")
      .write.format("graft-avro").option("clusterBy", "k")
      .mode("overwrite").save(dir)
    val (fs, p) = fsOf(dir)
    // vector group 2's rows x=2 and x=6 (2 and 6 ≡ 2 mod 4), one the
    // group minimum
    val rows = spark.read.format("graft-avro").load(dir)
      .select($"x", col("_file"), col("_sync"), col("_ridx")).collect()
      .map(r => r.getLong(0) ->
        (new org.apache.hadoop.fs.Path(r.getString(1)).getName,
          r.getLong(2), r.getLong(3))).toMap
    val victimFile = rows(2L)._1
    assert(rows(6L)._1 == victimFile)
    val dv = FleetDv.write(fs, p, victimFile,
      FleetDv.Deleted.of(Seq(2L, 6L).map(id =>
        (rows(id)._2, rows(id)._3))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(victimFile -> Some(dv)))
    val agg = spark.read.format("graft-avro").load(dir)
      .groupBy($"k").agg(count("*").as("cnt"), min($"x").as("mn"),
        max($"x").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation(grouped)"),
      s"grouped pushdown must survive a vectored fleet:\n$plan")
    val got = agg.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // group 2 decoded under its vector: 98 live rows, min moves 2 → 10
    assert(got(2L) == (98L, 10L, 398L), s"${got(2L)}")
    // untouched groups exact (metadata-resolved)
    assert(got(0L) == (100L, 0L, 396L))
    assert(got(1L) == (100L, 1L, 397L))
    assert(got(3L) == (100L, 3L, 399L))
  }

  test("grouped tier keeps meta-bearing vectored files zero-decode; unprovable extrema decode") {
    import graft.sources.FleetManifest.DvMeta
    import spark.implicits._
    val dir = graft.util.Scratch.dir("dv_groupmeta") + "/t.avro"
    spark.range(400)
      .select(($"id" % 4).as("k"), $"id".as("x"))
      .repartition(4, $"k")
      .write.format("graft-avro").option("clusterBy", "k")
      .mode("overwrite").save(dir)
    val (fs, p) = fsOf(dir)
    val rows = spark.read.format("graft-avro").load(dir)
      .select($"x", col("_file"), col("_sync"), col("_ridx")).collect()
      .map(r => r.getLong(0) ->
        (new org.apache.hadoop.fs.Path(r.getString(1)).getName,
          r.getLong(2), r.getLong(3))).toMap
    // group 2's file: vector rows x=10 and x=14 (interior — group min
    // is 2, max is 398) and stamp meta with captured INTERIOR stats
    // but a count of 3 ≠ the vector's 2: the grouped COUNT reflecting
    // the META number is direct proof the file resolved from the
    // sidecar row, zero decode (a decode would say 98)
    val victimFile = rows(10L)._1
    assert(rows(14L)._1 == victimFile)
    val dv = FleetDv.write(fs, p, victimFile,
      FleetDv.Deleted.of(Seq(10L, 14L).map(id =>
        (rows(id)._2, rows(id)._3))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(victimFile -> Some(dv)),
      dvMetaUpdate = Map(victimFile -> DvMeta(3L, Some(Map(
        "k" -> graft.sources.FleetManifest.DvColStat(
          Long.box(2L), Long.box(2L), 3L),
        "x" -> graft.sources.FleetManifest.DvColStat(
          Long.box(10L), Long.box(14L), 3L))))))
    val agg = spark.read.format("graft-avro").load(dir)
      .groupBy($"k").agg(count("*").as("cnt"), min($"x").as("mn"),
        max($"x").as("mx"), count($"x").as("cx"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation(grouped)"))
    val got = agg.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // COUNT(x) corrects by the stamped non-null deleted count too —
    // both counts reflecting META numbers proves zero decode
    assert(got(2L) == (97L, 2L, 398L, 97L),
      s"vectored group must resolve from META (count 100-3): ${got(2L)}")
    assert(got(0L) == (100L, 0L, 396L, 100L) &&
      got(3L) == (100L, 3L, 399L, 100L))
    // same binding but the captured stats now ATTAIN the group min —
    // the extremum proof fails and exactly this file decodes (exact
    // values from the real 2-position vector)
    val dv2 = FleetDv.write(fs, p, victimFile,
      FleetDv.Deleted.of(Seq(2L, 6L).map(id =>
        (rows(id)._2, rows(id)._3))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(victimFile -> Some(dv2)),
      requireDvs = Map(victimFile -> Some(dv)),
      dvMetaUpdate = Map(victimFile -> DvMeta(2L, Some(Map(
        "k" -> graft.sources.FleetManifest.DvColStat(
          Long.box(2L), Long.box(2L), 2L),
        "x" -> graft.sources.FleetManifest.DvColStat(
          Long.box(2L), Long.box(6L), 2L))))))
    val agg2 = spark.read.format("graft-avro").load(dir)
      .groupBy($"k").agg(count("*").as("cnt"), min($"x").as("mn"))
    val got2 = agg2.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2(2L) == (98L, 10L),
      s"attained extremum must decode exactly: ${got2(2L)}")
  }

  test("a vectored clustered fleet still SPJ-joins exchange-free, rows hidden") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("dv_spj")
    def writeSide(name: String, mul: Long): String = {
      val dir = s"$root/$name.avro"
      spark.range(64)
        .select(($"id" % 4).as("shard"), ($"id" * mul).as(s"v_$name"))
        .repartition(4, $"shard")
        .write.format("graft-avro").option("clusterBy", "shard")
        .mode("overwrite").save(dir)
      dir
    }
    val a = writeSide("a", 1L)
    val b = writeSide("b", 10L)
    // vector two rows of one of a's shard files
    val (fs, p) = fsOf(a)
    val pos = spark.read.format("graft-avro").load(a)
      .select($"v_a", $"_sync", $"_ridx", col("_file")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        new org.apache.hadoop.fs.Path(r.getString(3)).getName)).toMap
    val victims = Seq(0L, 8L).map(pos)
    victims.groupBy(_._3).foreach { case (fn, vs) =>
      val dv = graft.sources.FleetDv.write(fs, p, fn,
        graft.sources.FleetDv.Deleted.of(vs.map(v => (v._1, v._2))))
      graft.sources.FleetManifest.commit(fs, p, identity, Nil,
        dvUpdate = Map(fn -> Some(dv)))
    }
    val joined = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(a)
      .join(spark.read.format("graft-avro")
        .option("clusterBy", "shard").load(b).hint("merge"),
        Seq("shard"))
    val rows = joined.collect()
    // the deleted v_a values are gone; everything else joined
    assert(!rows.exists(r => r.getAs[Long]("v_a") == 0L &&
      r.getAs[Long]("v_a") + r.getAs[Long]("v_b") == 0L))
    assert(rows.length == (64 - 2) * 16,
      s"expected (64-2) rows x 16 per shard, got ${rows.length}")
    // still ZERO exchanges: vectors do not break the one-key-per-file
    // proof (deletions only shrink a file's key set)
    def exchanges(pl: org.apache.spark.sql.execution.SparkPlan): Int =
      (pl match {
        case ad: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => exchanges(ad.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          exchanges(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          exchanges(r.child)
        case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => 1 + e.children.map(exchanges).sum
        case other => other.children.map(exchanges).sum
      })
    assert(exchanges(joined.queryExecution.executedPlan) == 0,
      s"vectored SPJ must stay exchange-free:\n" +
        joined.queryExecution.executedPlan)
  }

  private def posMap(d: FleetDv.Deleted): Map[Long, Seq[Long]] =
    d.positions.view.mapValues(_.toSeq).toMap

  test("binary leaves round-trip; a dense vector is ≥10× smaller than JSON") {
    val root = graft.util.Scratch.dir("dv_codec")
    val (fs, p) = fsOf(root)
    // dense: long consecutive runs per block — the large-DELETE regime
    val dense = FleetDv.Deleted.of(
      (0L until 6000L).map(i => (64L * 1024 * (i / 800), i % 800)))
    assert(dense.count == 6000)
    val bin = FleetDv.write(fs, p, "f.avro", dense)
    assert(bin.endsWith(".dv.bin"))
    assert(posMap(FleetDv.read(fs, p, bin)) == posMap(dense),
      "binary round trip drifted")
    assert(FleetDv.readCount(fs, p, bin) == 6000)
    val legacy = FleetDv.writeLegacyJson(fs, p, "f.avro", dense)
    val binLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(p, bin)).getLen
    val jsonLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(p, legacy)).getLen
    assert(binLen * 10 <= jsonLen,
      s"dense binary vector must be ≥10× smaller: $binLen vs $jsonLen")
    // sparse round trip too (scattered single positions)
    val sparse = FleetDv.Deleted.of(
      (0L until 500L).map(i => (64L * 1024 * i, i * 7 % 900)))
    val sbin = FleetDv.write(fs, p, "g.avro", sparse)
    assert(posMap(FleetDv.read(fs, p, sbin)) == posMap(sparse))
    // the r16 JSON spelling still reads (legacy vectors in the wild)
    assert(posMap(FleetDv.read(fs, p, legacy)) == posMap(dense))
    assert(FleetDv.readCount(fs, p, legacy) == 6000)
  }

  test("chain nodes union their parents; counts and GC refs never read positions") {
    val root = graft.util.Scratch.dir("dv_chain")
    val (fs, p) = fsOf(root)
    val d1 = FleetDv.Deleted.of(Seq((100L, 0L), (100L, 1L), (200L, 5L)))
    val d2 = FleetDv.Deleted.of(Seq((100L, 7L), (300L, 2L)))
    val d3 = FleetDv.Deleted.of(Seq((300L, 9L)))
    val l1 = FleetDv.write(fs, p, "f.avro", d1)
    val l2 = FleetDv.write(fs, p, "f.avro", d2)
    val chain = FleetDv.writeChain(fs, p, "f.avro", Seq(l1, l2),
      d1.count + d2.count)
    assert(chain.endsWith(".dv.chain.json"))
    assert(posMap(FleetDv.read(fs, p, chain)) == posMap(d1.union(d2)))
    assert(FleetDv.readCount(fs, p, chain) == 5)
    // chains nest: a second over-budget commit chains onto the first
    val l3 = FleetDv.write(fs, p, "f.avro", d3)
    val chain2 = FleetDv.writeChain(fs, p, "f.avro", Seq(chain, l3), 6)
    assert(posMap(FleetDv.read(fs, p, chain2)) ==
      posMap(d1.union(d2).union(d3)))
    assert(FleetDv.readCount(fs, p, chain2) == 6)
    // GC reference expansion walks chains transitively — every parent
    // a live chain reaches is live
    assert(FleetDv.expandRefs(fs, p, Set(chain2)) ==
      Set(chain2, chain, l3, l1, l2))
    assert(FleetDv.expandRefs(fs, p, Set(l1)) == Set(l1))
  }

  test("a chain binding reads identically whole and split") {
    import spark.implicits._
    val dir = bigFleet("chain_split")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    // two leaves spanning several blocks, chained
    val l1 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(0L, 1L, 9999L).map(full)))
    val l2 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(5000L, 19999L).map(full)))
    val chain = FleetDv.writeChain(fs, p, dataFile, Seq(l1, l2), 5L)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(chain)))
    val victims = Set(0L, 1L, 9999L, 5000L, 19999L)
    val whole = spark.read.format("graft-avro").load(dir)
      .select($"id").as[Long].collect().toSet
    assert(whole.size == 20000 - 5 && victims.forall(!whole(_)))
    // byte-range splits: every split resolves the same chain and
    // skips exactly its own blocks' positions
    val split = spark.read.format("graft-avro")
      .option("maxFileBytes", 64 * 1024).load(dir)
      .select($"id").as[Long].collect().toSet
    assert(split == whole, "split read drifted under a chain binding")
    // count fast path corrects from the chain header across splits
    assert(spark.read.format("graft-avro")
      .option("maxFileBytes", 64 * 1024).load(dir).count() == 20000 - 5)
  }

  test("count(*) on a dvSpec read declines pushdown and applies the spec") {
    import spark.implicits._
    val dir = bigFleet("dvspec_count")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvName = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(4L, 5L, 6L, 7L).map(full)))
    // an EXPLICIT-path load carrying a dvSpec option (the change-feed
    // image-read / FleetMerge touched-load shape) — the manifest-
    // derived count correction cannot see it, so count(*) must keep
    // the row path (which applies the spec per task), never the
    // block-header tier with raw counts (r16 ADVICE)
    val dvFull = fs.makeQualified(
      new org.apache.hadoop.fs.Path(p, dvName)).toString
    val cnt = spark.read.format("graft-avro")
      .option("dvSpec", s"""{"$dataFile": {"new": "$dvFull"}}""")
      .load(s"$dir/$dataFile")
      .groupBy().count()
    assert(!cnt.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "a dvSpec-carrying read must not push count(*):\n" +
        cnt.queryExecution.executedPlan)
    assert(cnt.as[Long].head() == 20000 - 4,
      "the dvSpec vector must be applied to the counted rows")
  }

  test("truncated binary vectors fail as malformed, never hang or AIOOBE") {
    val root = graft.util.Scratch.dir("dv_trunc")
    val (fs, p) = fsOf(root)
    val d = FleetDv.Deleted.of((0L until 200L).map(i => (1000L * i, 0L)))
    val rel = FleetDv.write(fs, p, "f.avro", d)
    val full = {
      val in = fs.open(new org.apache.hadoop.fs.Path(p, rel))
      try in.readAllBytes() finally in.close()
    }
    // cut inside the header varints AND inside the body: both must
    // surface the standard malformed-vector IOException (the VarReader
    // bounds check), not ArrayIndexOutOfBounds or an infinite loop
    for (cut <- Seq(5, full.length / 2)) {
      val cutP = new org.apache.hadoop.fs.Path(p, s"$rel.cut$cut.dv.bin")
      val out = fs.create(cutP, true)
      try out.write(full.take(cut)) finally out.close()
      val e = intercept[java.io.IOException] {
        FleetDv.readPath(fs, cutP)
      }
      assert(e.getMessage.contains("malformed"), s"cut=$cut: $e")
    }
    // header-only count read on a 4-byte (magic-only) fragment
    val magicOnly = new org.apache.hadoop.fs.Path(p, "m.dv.bin")
    val out = fs.create(magicOnly, true)
    try out.write(full.take(4)) finally out.close()
    val e = intercept[java.io.IOException] {
      FleetDv.countAt(fs, magicOnly)
    }
    assert(e.getMessage.contains("malformed"), e.getMessage)
  }

  test("change feed: vector growth streams deletes, a restore shrink streams resurrections") {
    import spark.implicits._
    val dir = bigFleet("shrink")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvSmall = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(1L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvSmall)))
    val vSmall = FleetManifest.current(fs, p).get.version
    val dvBig = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(1L, 2L, 3L).map(full)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvBig)))
    val vBig = FleetManifest.current(fs, p).get.version
    // growth reads fine: exactly the newly-vectored rows
    assert(graft.sources.FleetCDC
      .changes(spark, dir, vSmall, vBig).count() == 2)
    // a restore-style rebind BACKWARDS (big → small binding, small is
    // an ancestor of big): rows 2 and 3 became visible again — the
    // feed REPRESENTS that as insert images now (r17 ADVICE), computed
    // in-task by the inverted delta read
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvSmall)),
      requireDvs = Map(dataFile -> Some(dvBig)))
    val vRebound = FleetManifest.current(fs, p).get.version
    val res = graft.sources.FleetCDC.changes(spark, dir, vBig, vRebound)
    val rows = res.select($"id", col(graft.sources.FleetCDC.ChangeTypeCol))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(rows == Set(2L -> "insert", 3L -> "insert"),
      s"resurrection span must stream the re-visible rows: $rows")
    // full unbind (a restore to the pre-vector generation's bindings):
    // every vectored row resurrects
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> None),
      requireDvs = Map(dataFile -> Some(dvSmall)))
    val vUnbound = FleetManifest.current(fs, p).get.version
    val res2 = graft.sources.FleetCDC.changes(spark, dir, vRebound, vUnbound)
    val rows2 = res2.select($"id",
      col(graft.sources.FleetCDC.ChangeTypeCol))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(rows2 == Set(1L -> "insert"), rows2.toString)
  }

  test("change feed is exactly empty across a position-identical rebind; divergence fails loudly") {
    val dir = bigFleet("rebind")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    // chain binding, then a compact_vectors-style flatten to one leaf
    // with the IDENTICAL position set and count
    val l1 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(10L))))
    val l2 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(11L))))
    val chain = FleetDv.writeChain(fs, p, dataFile, Seq(l1, l2), 2L)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(chain)))
    val vChain = FleetManifest.current(fs, p).get.version
    val flat = FleetDv.write(fs, p, dataFile,
      FleetDv.read(fs, p, chain))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(flat)),
      requireDvs = Map(dataFile -> Some(chain)))
    val vFlat = FleetManifest.current(fs, p).get.version
    // the maintenance commit contributes NOTHING to the feed — and
    // does not fail it (the r17 shrink guard wedged consumers here)
    assert(graft.sources.FleetCDC
      .changes(spark, dir, vChain, vFlat).count() == 0)
    // an EQUAL-SIZE rebind with a different position set is a
    // divergence no endpoint diff can represent — loud failure
    val other = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(12L), full(13L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(other)),
      requireDvs = Map(dataFile -> Some(flat)))
    val vOther = FleetManifest.current(fs, p).get.version
    val e = intercept[IllegalStateException] {
      graft.sources.FleetCDC.changes(spark, dir, vFlat, vOther)
    }
    assert(e.getMessage.contains("DIFFERENT position sets"), e.getMessage)
  }

  test("delta reads verify lineage containment in-task: a divergent 'growth' fails") {
    val dir = bigFleet("diverge")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dvA = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(1L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvA)))
    val vA = FleetManifest.current(fs, p).get.version
    // counts grow 1 → 2 but dvB does NOT contain dvA: count routing
    // alone would silently misread this as a pure delete span — the
    // reader's in-task subset check is the exactness backstop
    val dvB = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(2L), full(3L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvB)),
      requireDvs = Map(dataFile -> Some(dvA)))
    val vB = FleetManifest.current(fs, p).get.version
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.FleetCDC.changes(spark, dir, vA, vB).count()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage
      else t.getMessage + "\n" + rootMsg(t.getCause)
    assert(rootMsg(e).contains("lineage diverged"), rootMsg(e))
  }

  test("manifest DvMeta round-trips and follows its binding exactly") {
    import graft.sources.FleetManifest.DvMeta
    import spark.implicits._
    val dir = bigFleet("meta")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    val dv1 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(5L, 6L, 7L).map(full)))
    val meta1 = DvMeta(3L, Some(Map(
      "id" -> graft.sources.FleetManifest.DvColStat(
        Long.box(5L), Long.box(7L), 3L),
      "pad" -> graft.sources.FleetManifest.DvColStat("x5", "x7", 3L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv1)),
      dvMetaUpdate = Map(dataFile -> meta1))
    // round trip through the version-file JSON (cache-bypassing fresh
    // read via snapshotAt of the committed version)
    val v = FleetManifest.current(fs, p).get.version
    assert(FleetManifest.snapshotAt(fs, p, v).get.dvMeta ==
      Map(dataFile -> meta1), "DvMeta JSON round trip drifted")
    // an ordinary append INHERITS meta with the binding
    Seq((90001L, "new")).toDF("id", "pad").repartition(1)
      .write.format("graft-avro").mode("append").save(dir)
    assert(FleetManifest.current(fs, p).get.dvMeta ==
      Map(dataFile -> meta1), "append dropped binding meta")
    // a rebind WITHOUT fresh meta drops the stale entry
    val dv2 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(5L, 6L, 7L, 8L).map(full)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv2)),
      requireDvs = Map(dataFile -> Some(dv1)))
    assert(FleetManifest.current(fs, p).get.dvMeta.isEmpty,
      "rebind without meta must drop the stale entry")
    // retiring the file retires any meta with the binding
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv2)),
      dvMetaUpdate = Map(dataFile -> DvMeta(4L, None)))
    FleetManifest.commit(fs, p, base => base.filterNot(_ == dataFile),
      Nil, requireInBase = Set(dataFile))
    val end = FleetManifest.current(fs, p).get
    assert(end.dvs.isEmpty && end.dvMeta.isEmpty)
  }

  test("aggregate planning reads counts from manifest meta, never vector headers") {
    import graft.sources.FleetManifest.DvMeta
    import spark.implicits._
    val dir = bigFleet("meta_count")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    // bind a 3-position vector but stamp meta count 5: the pushed
    // COUNT(*) correction must reflect the META number — direct proof
    // that planning performed ZERO vector-header reads (r17 verdict
    // #1's done-criterion, assertable without instrumenting the FS)
    val dv = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(1L, 2L, 3L).map(full)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv)),
      dvMetaUpdate = Map(dataFile -> DvMeta(5L, None)))
    val cnt = spark.read.format("graft-avro").load(dir).groupBy().count()
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation(metadata): [COUNT(*)]") ||
      plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    assert(cnt.as[Long].head() == 20000 - 5,
      "pushed count must be corrected by the manifest meta count " +
        "(a header read would have said 3)")
    // a LEGACY binding (no meta) still counts correctly via its header
    val dvLegacy = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(1L, 2L).map(full)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvLegacy)),
      requireDvs = Map(dataFile -> Some(dv)))
    assert(spark.read.format("graft-avro").load(dir)
      .groupBy().count().as[Long].head() == 20000 - 2)
  }

  test("equal-count rebinds route by manifest fingerprints: no-op spans decide with zero vector reads; divergence stays loud") {
    val dir = bigFleet("fp")
    val (fs, p) = fsOf(dir)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root",
      new org.apache.hadoop.fs.Path(dir).getParent.toString)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    // budget 1 → the second DELETE binds a CHAIN over (leaf, partial):
    // the committer's fp must XOR-combine across exactly that arc
    s2.conf.set("spark.graft.dv.coalesceBudget", "1")
    s2.sql("DELETE FROM graft.t WHERE id IN (3, 4)")
    s2.sql("DELETE FROM graft.t WHERE id IN (7, 8)")
    val snap = FleetManifest.current(fs, p).get
    val (dataFile, boundRel) = snap.dvs.head
    assert(boundRel.endsWith(".dv.chain.json"), boundRel)
    // the committer-stamped fp IS the bound set's true fingerprint
    assert(snap.dvMeta(dataFile).fp.contains(
      FleetDv.fingerprint(FleetDv.read(fs, p, boundRel))),
      "XOR-combined commit fp drifted from the bound position set")
    // compact_vectors: a position-identical rebind with a FRESH fp
    s2.sql("CALL graft.system.compact_vectors('t')")
    val after = FleetManifest.current(fs, p).get
    assert(after.dvs(dataFile) != boundRel, "flatten must rebind")
    assert(after.dvMeta(dataFile).fp == snap.dvMeta(dataFile).fp,
      "an identical position set must fingerprint identically")
    // the maintenance span routes as a no-op with ZERO position reads
    val before = FleetDv.positionReads.get()
    val d = graft.sources.FleetCDC.diff(spark, dir,
      snap.version, after.version)
    assert(d.dvGrown.isEmpty && d.dvShrunk.isEmpty)
    assert(FleetDv.positionReads.get() == before,
      "fingerprint routing must not read vector positions")
    // equal-count DIVERGENCE with fps on both sides: loud, still zero
    // vector reads (identical sets always fingerprint equal, so a
    // fingerprint mismatch is an exact verdict)
    val full = positions(dir)
    val otherSet = FleetDv.Deleted.of(
      Seq(100L, 101L, 102L, 103L).map(full))
    val other = FleetDv.write(fs, p, dataFile, otherSet)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(other)),
      requireDvs = Map(dataFile -> Some(after.dvs(dataFile))),
      dvMetaUpdate = Map(dataFile -> FleetManifest.DvMeta(4L, None,
        Some(FleetDv.fingerprint(otherSet)))))
    val vOther = FleetManifest.current(fs, p).get.version
    val before2 = FleetDv.positionReads.get()
    val e = intercept[IllegalStateException] {
      graft.sources.FleetCDC.diff(spark, dir, after.version, vOther)
    }
    assert(e.getMessage.contains("DIFFERENT position sets"), e.getMessage)
    assert(FleetDv.positionReads.get() == before2,
      "fingerprint divergence must not read vector positions")
  }

  test("concurrent vector swap on one file: one winner, one loud conflict") {
    val dir = bigFleet("cas")
    val (fs, p) = fsOf(dir)
    val full = positions(dir)
    val dataFile = FleetManifest.current(fs, p).get.files.head
    // both writers read binding = None, then race
    val dvA = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(1L))))
    val dvB = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(full(2L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvA)),
      requireDvs = Map(dataFile -> None))
    val e = intercept[FleetCommitConflictException] {
      FleetManifest.commit(fs, p, identity, Nil,
        dvUpdate = Map(dataFile -> Some(dvB)),
        requireDvs = Map(dataFile -> None))
    }
    assert(e.getMessage.contains("deletion vector"))
    // loser retries the full transaction: re-read the winner's vector,
    // merge, CAS against it — both deletes land
    val cur = FleetManifest.current(fs, p).get.dvs(dataFile)
    assert(cur == dvA)
    val merged = FleetDv.read(fs, p, cur)
      .union(FleetDv.Deleted.of(Seq(full(2L))))
    val dvC = FleetDv.write(fs, p, dataFile, merged)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dvC)),
      requireDvs = Map(dataFile -> Some(dvA)))
    import spark.implicits._
    val ids = spark.read.format("graft-avro").load(dir)
      .select($"id").as[Long].collect().toSet
    assert(!ids.contains(1L) && !ids.contains(2L))
    assert(ids.size == 20000 - 2)
  }

  /** A 4-file fleet `t.avro` (ids 0..3999, 1000 per file in id order)
    * and each id's (file name, sync, ridx) position. */
  private def fourFileFleet(tag: String)
      : (String, Map[Long, (String, (Long, Long))]) = {
    import spark.implicits._
    val dir = graft.util.Scratch.dir(s"dv_$tag") + "/t.avro"
    spark.range(0, 4000, 1, 4)
      .select($"id", concat(lit("v"), $"id".cast("string")).as("v"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root",
      new org.apache.hadoop.fs.Path(dir).getParent.toString)
    val pos = s2.sql("SELECT id, _file, _sync, _ridx FROM graft.t")
      .collect().map(r => r.getLong(0) -> (
        new org.apache.hadoop.fs.Path(r.getString(1)).getName,
        (r.getLong(2), r.getLong(3)))).toMap
    (dir, pos)
  }

  test("every change-feed reader returns the same multiset over a span of append, compaction, MOR delete, restore and no-op rebind") {
    import spark.implicits._
    val (dir, pos) = fourFileFleet("cdc_parity")
    val (fs, p) = fsOf(dir)
    val Seq(fa, fb, fc, fd) = (0 until 4).map(i => pos(i * 1000L)._1)
    def vec(ids: Long*) = FleetDv.Deleted.of(ids.map(i => pos(i)._2))
    def head = FleetManifest.current(fs, p).get.version
    // before the span: A carries a 3-row vector (to be restored to a
    // 1-row ancestor), C a two-leaf chain (to be flattened)
    val dvBig = FleetDv.write(fs, p, fa, vec(1L, 2L, 3L))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(fa -> Some(dvBig)))
    val chain = FleetDv.writeChain(fs, p, fc, Seq(
      FleetDv.write(fs, p, fc, vec(2010L)),
      FleetDv.write(fs, p, fc, vec(2011L))), 2L)
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(fc -> Some(chain)))
    val vStart = head
    // the span: an append ...
    spark.range(4000, 4100).select($"id",
      concat(lit("v"), $"id".cast("string")).as("v"))
      .coalesce(1).write.format("graft-avro").mode("append").save(dir)
    // ... a compaction of D into one new file (one manifest swap) ...
    spark.read.format("graft-avro").load(s"$dir/$fd").coalesce(1)
      .write.format("graft-avro").mode("append")
      .option("manifestSwapRemove", fd).save(dir)
    // ... a merge-on-read delete on B (vector grown) ...
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(fb -> Some(FleetDv.write(fs, p, fb,
        vec(1500L, 1501L)))))
    // ... a restore of A's binding to a 1-row ancestor (shrunk) ...
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(fa -> Some(FleetDv.write(fs, p, fa, vec(1L)))),
      requireDvs = Map(fa -> Some(dvBig)))
    // ... and compact_vectors' position-identical flatten of C
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(fc -> Some(FleetDv.write(fs, p, fc,
        FleetDv.read(fs, p, chain)))),
      requireDvs = Map(fc -> Some(chain)))
    val vEnd = head
    assert(vEnd == vStart + 5)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
      df.select($"id", $"v", col(graft.sources.FleetCDC.ChangeTypeCol))
        .as[(Long, String, String)].collect().toSeq.sorted
    val prog = rows(graft.sources.FleetCDC.changes(spark, dir, vStart, vEnd))
    val range = rows(spark.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", vStart).option("endingVersion", vEnd)
      .load(dir))
    val streamed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String)]
    spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", vStart).load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed ++= rows(b); ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.dir("dv_cdc_parity_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    def img(ids: Seq[Long], t: String) = ids.map(i => (i, s"v$i", t))
    val expected = (img(4000L until 4100L, "insert") ++
      img(3000L until 4000L, "insert") ++ img(Seq(2L, 3L), "insert") ++
      img(3000L until 4000L, "delete") ++ img(Seq(1500L, 1501L), "delete"))
      .sorted
    assert(prog == expected)
    assert(range == prog)
    assert(streamed.sorted.toSeq == prog)

    def keyedRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", col(graft.sources.FleetCDC.ChangeTypeCol))
        .as[(Long, String)].collect().toSeq.sorted
    val keyed = keyedRows(graft.sources.FleetCDC.changesKeyed(spark, dir,
      vStart, vEnd, Seq("id")))
    val relation = keyedRows(spark.read.format("graft-avro")
      .option("readChangeFeed", "true").option("cdcKeyCols", "id")
      .option("startingVersion", vStart).option("endingVersion", vEnd)
      .load(dir))
    // the compaction's equal images net out; the rest survive keyed
    assert(keyed == ((4000L until 4100L).map(_ -> "insert") ++
      Seq(2L -> "insert", 3L -> "insert", 1500L -> "delete",
        1501L -> "delete")).sorted)
    assert(relation == keyed)
  }

  test("a change-feed span plans packed tagged groups; a tag filter plans only its side") {
    import spark.implicits._
    import graft.sources.FleetCdcPartition
    val dir = graft.util.Scratch.dir("dv_cdc_plan") + "/t.avro"
    def gen(lo: Long, hi: Long, files: Int, mode: String) =
      spark.range(lo, hi, 1, files).select($"id")
        .write.format("graft-avro").mode(mode).save(dir)
    gen(0, 2100, 21, "overwrite")                               // v1
    val (fs, p) = fsOf(dir)
    val v1Files = FleetManifest.current(fs, p).get.files
    gen(2100, 4100, 20, "append")                               // v2
    val (kept, retired) = (v1Files.head, v1Files.tail.toSet)
    FleetManifest.commit(fs, p, _.filterNot(retired), Nil,
      requireInBase = retired)                                  // v3
    val keptIds = spark.read.format("graft-avro").load(s"$dir/$kept")
      .select($"id", col("_sync"), col("_ridx")).as[(Long, Long, Long)]
      .collect()
    FleetManifest.commit(fs, p, identity, Nil,                  // v4
      dvUpdate = Map(kept -> Some(FleetDv.write(fs, p, kept,
        FleetDv.Deleted.of(Seq((keptIds.head._2, keptIds.head._3)))))))
    val added = FleetManifest.current(fs, p).get.files.toSet -- v1Files
    assert(added.size == 20 && retired.size == 20)
    val range = spark.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "4")
      .load(dir)
    def planned(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.get.toBatch.planInputPartitions().toSeq
        .map(_.asInstanceOf[FleetCdcPartition])
    def names(parts: Seq[FleetCdcPartition]) = parts
      .flatMap(_.group.splits.map(sp =>
        new org.apache.hadoop.fs.Path(sp.file).getName)).sorted
    // 41 changed files at local[4]: packed to about one group per core
    val all = planned(range)
    assert(all.size <= 8, s"${all.size} partitions for 41 changed files")
    assert(names(all) == (added ++ retired + kept).toSeq.sorted)
    assert(range.groupBy(graft.sources.FleetCDC.ChangeTypeCol).count()
      .as[(String, Long)].collect().toMap ==
      Map("insert" -> 2000L, "delete" -> 2001L))
    // a pushed tag filter plans only the removed and grown files
    val dels = planned(range.where(
      col(graft.sources.FleetCDC.ChangeTypeCol) === "delete"))
    assert(dels.forall(_.tag == "delete"))
    assert(names(dels) == (retired + kept).toSeq.sorted)
  }
}
