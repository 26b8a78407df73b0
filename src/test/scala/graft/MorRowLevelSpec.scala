package graft

import org.apache.spark.sql.functions._

/** Merge-on-read SQL row-level operations (spark.graft.rowLevelMode =
  * merge-on-read): DELETE/UPDATE/MERGE land as deletion vectors +
  * appended post-images — data files stay byte-identical, cost tracks
  * the changed rows, history time-travels, and the copy-on-write path
  * composes (a COW rewrite of a vectored file must not resurrect its
  * deleted rows). */
class MorRowLevelSpec extends SparkSpec {

  private def freshFleet(tag: String)
      : (String, org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val root = graft.util.Scratch.dir(s"mor_$tag")
    graft.util.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", round($"c_acctbal", 4).as("c_acctbal"))
      .repartitionByRange(6, $"c_custkey")
      .write.format("graft-avro").mode("overwrite").save(s"$root/cust.avro")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    (root, s2)
  }

  private def dataSnapshot(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .map(st => st.getPath.getName ->
        (st.getModificationTime, st.getLen)).toMap
  }

  private def manifest(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FleetManifest.current(fs, p).get
  }

  test("MOR DELETE: zero data files touched, vector bound, history travels") {
    import spark.implicits._
    val (root, s2) = freshFleet("del")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    val before = dataSnapshot(fleet)
    val v1 = manifest(fleet).version
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 17 = 3")
    val after = dataSnapshot(fleet)
    assert(after == before,
      "merge-on-read DELETE must not touch, add, or remove data files")
    val snap = manifest(fleet)
    assert(snap.dvs.nonEmpty, "expected at least one vector binding")
    val remaining = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(remaining.forall(_ % 17 != 3))
    assert(spark.read.format("graft-avro").option("versionAsOf", v1)
      .load(fleet).count() == total, "pre-delete version must read full")
    assert(remaining.size.toLong ==
      total - spark.read.format("graft-avro").option("versionAsOf", v1)
        .load(fleet).filter($"c_custkey" % 17 === 3).count())
  }

  test("second MOR DELETE merges into the existing vector") {
    import spark.implicits._
    val (root, s2) = freshFleet("merge_dv")
    val fleet = s"$root/cust.avro"
    val before = dataSnapshot(fleet)
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 5")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 6")
    assert(dataSnapshot(fleet) == before)
    val got = s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet
    assert(!got.contains(5L) && !got.contains(6L))
    // both deletes landed in ONE binding per file (merged, not stacked)
    val snap = manifest(fleet)
    assert(snap.dvs.size == 1, s"expected one merged binding: ${snap.dvs}")
  }

  test("MOR UPDATE: pre-image vectored, post-image appended, no rewrite") {
    import spark.implicits._
    val (root, s2) = freshFleet("upd")
    val fleet = s"$root/cust.avro"
    val before = dataSnapshot(fleet)
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 1000.0, 4)
        |WHERE c_custkey <= 5""".stripMargin)
    val after = dataSnapshot(fleet)
    // originals untouched; exactly the appended post-image file is new
    before.foreach { case (name, sig) =>
      assert(after.get(name).contains(sig), s"$name was rewritten") }
    assert(after.size > before.size, "expected an appended post-image file")
    val updated = s2.sql(
      "SELECT c_acctbal FROM graft.cust WHERE c_custkey = 1").collect()
    assert(updated.length == 1, "pre-image must be hidden by the vector")
    val base = spark.read.format("graft-avro")
      .option("versionAsOf", 1).load(fleet)
      .filter($"c_custkey" === 1).select($"c_acctbal")
      .as[Double].head()
    assert(math.abs(updated.head.getDouble(0) - (base + 1000.0)) < 1e-6)
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head() ==
      before.size.toLong * 0 + spark.read.format("graft-avro")
        .option("versionAsOf", 1).load(fleet).count())
  }

  test("MOR MERGE: matched update + unmatched insert through the delta path") {
    import spark.implicits._
    val (root, s2) = freshFleet("mrg")
    val fleet = s"$root/cust.avro"
    val before = dataSnapshot(fleet)
    val total = spark.read.format("graft-avro").load(fleet).count()
    locally {
      import s2.implicits._
      Seq((1L, "upd", 111.0), (900001L, "new", 222.0))
        .toDF("k", "name", "bal").createOrReplaceTempView("feed")
    }
    s2.sql(
      """MERGE INTO graft.cust t USING feed s ON t.c_custkey = s.k
        |WHEN MATCHED THEN UPDATE SET c_acctbal = s.bal
        |WHEN NOT MATCHED THEN
        |  INSERT (c_custkey, c_name, c_acctbal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin)
    before.foreach { case (name, sig) =>
      assert(dataSnapshot(fleet).get(name).contains(sig),
        s"$name was rewritten") }
    val out = s2.sql(
      "SELECT c_custkey, c_acctbal FROM graft.cust " +
        "WHERE c_custkey IN (1, 900001) ORDER BY c_custkey")
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.toSeq == Seq(1L -> 111.0, 900001L -> 222.0))
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head() ==
      total + 1)
  }

  test("match-nothing MOR DELETE leaves fleet and manifest untouched") {
    val (root, s2) = freshFleet("noop")
    val fleet = s"$root/cust.avro"
    val v = manifest(fleet).version
    val before = dataSnapshot(fleet)
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = -42")
    assert(dataSnapshot(fleet) == before)
    assert(manifest(fleet).version == v,
      "a no-op delete must not commit a generation")
  }

  test("small MOR deletes coalesce into ONE binary leaf per file") {
    import spark.implicits._
    val (root, s2) = freshFleet("coalesce")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 100 = 10")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 100 = 20")
    val snap = manifest(fleet)
    assert(snap.dvs.nonEmpty)
    // under the default budget the second commit MERGES into one
    // binary leaf per file — reads stay one tiny sidecar
    assert(snap.dvs.values.forall(_.endsWith(".dv.bin")),
      s"expected coalesced binary leaves: ${snap.dvs}")
    val remaining = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(remaining.forall(k => k % 100 != 10 && k % 100 != 20))
    assert(remaining.size.toLong ==
      total - spark.read.format("graft-avro")
        .option("versionAsOf", "1").load(fleet)
        .filter($"c_custkey" % 100 === 10 || $"c_custkey" % 100 === 20)
        .count())
  }

  test("an over-budget MOR delete binds a CHAIN — positions never reach the driver") {
    import spark.implicits._
    val (root, s2) = freshFleet("chain")
    val fleet = s"$root/cust.avro"
    // budget 1: ANY multi-source binding must chain instead of merging
    // on the driver — the bounded-commit contract (r16 verdict #1).
    // The commit message type itself carries only (file, vectorName,
    // count), so positions STRUCTURALLY cannot ride to the driver;
    // this case pins the chain path end to end.
    s2.conf.set("spark.graft.dv.coalesceBudget", "1")
    val total = spark.read.format("graft-avro").load(fleet).count()
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 5 = 0")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 5 = 1")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 5 = 2")
    val snap = manifest(fleet)
    assert(snap.dvs.nonEmpty)
    assert(snap.dvs.values.exists(_.endsWith(".dv.chain.json")),
      s"a second over-budget delete must bind chain nodes: ${snap.dvs}")
    // chains stay FLAT: a third over-budget commit splices the prior
    // chain's parents instead of nesting — resolution cost is one
    // node + k leaves at any commit count
    val p2 = new org.apache.hadoop.fs.Path(fleet)
    val fs2 = p2.getFileSystem(spark.sessionState.newHadoopConf())
    snap.dvs.values.filter(_.endsWith(".dv.chain.json")).foreach { rel =>
      val parents = graft.sources.FleetDv.chainParents(fs2, p2, rel)
      assert(parents.nonEmpty &&
        parents.forall(_.endsWith(".dv.bin")),
        s"chain must reference leaves only (flat): $rel -> $parents")
    }
    // reads union the chain in-task: remaining rows exact
    val remaining = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(remaining.forall(_ % 5 > 2))
    val deleted = spark.read.format("graft-avro")
      .option("versionAsOf", "1").load(fleet)
      .filter($"c_custkey" % 5 <= 2).count()
    assert(remaining.size.toLong == total - deleted)
    // the count(*) fast path corrects from chain HEADERS (summed
    // parent counts) — no position array anywhere on the driver
    val cnt = spark.read.format("graft-avro").load(fleet)
      .groupBy().count()
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("PushedAggregation(metadata): [COUNT(*)]") ||
      cntPlan.contains("PushedAggregation: [COUNT(*)]"), cntPlan)
    assert(cnt.as[Long].head() == total - deleted)
    // remove_orphans must NOT reap chain parents (referenced
    // transitively through the live chain nodes)
    s2.sql("CALL graft.system.remove_orphans('cust', 0L)")
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == total - deleted,
      "remove_orphans reaped a live chain parent")
    // compact_vectors flattens chains into single leaves WITHOUT
    // touching a data file — the cheap middle maintenance
    val files = dataSnapshot(fleet)
    val nChains = manifest(fleet).dvs.values
      .count(_.endsWith(".dv.chain.json"))
    val compacted = s2.sql("CALL graft.system.compact_vectors('cust')")
      .collect().head.getInt(0)
    assert(compacted == nChains && compacted > 0)
    assert(manifest(fleet).dvs.values.forall(_.endsWith(".dv.bin")),
      s"chains must flatten to leaves: ${manifest(fleet).dvs}")
    assert(dataSnapshot(fleet) == files,
      "compact_vectors must not touch data files")
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == total - deleted)
    // compaction materializes vectors away with the rest
    s2.sql("CALL graft.system.rewrite_files('cust', 16777216, '')")
    assert(manifest(fleet).dvs.isEmpty)
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == total - deleted)
  }

  test("chain width self-bounds: past maxChainWidth the commit inlines a flatten") {
    import spark.implicits._
    val (root, s2) = freshFleet("chainwidth")
    val fleet = s"$root/cust.avro"
    // every commit over-budget (chains), width budget 2: the THIRD
    // over-budget commit on a file would splice a 3-parent chain —
    // instead it must flatten to one leaf, executor-side, and keep
    // reads exact with zero data-file rewrites
    s2.conf.set("spark.graft.dv.coalesceBudget", "1")
    s2.conf.set("spark.graft.dv.maxChainWidth", "2")
    val total = spark.read.format("graft-avro").load(fleet).count()
    val before = dataSnapshot(fleet)
    val mods = Seq(0, 1, 2, 3, 4)
    mods.foreach(m =>
      s2.sql(s"DELETE FROM graft.cust WHERE c_custkey % 7 = $m"))
    val p2 = new org.apache.hadoop.fs.Path(fleet)
    val fs2 = p2.getFileSystem(spark.sessionState.newHadoopConf())
    manifest(fleet).dvs.values.foreach { rel =>
      val parents = graft.sources.FleetDv.chainParents(fs2, p2, rel)
      assert(parents.size <= 2,
        s"chain width must stay under the bound: $rel -> $parents")
      assert(parents.forall(_.endsWith(".dv.bin")), parents.toString)
    }
    assert(dataSnapshot(fleet) == before,
      "width maintenance must never rewrite a data file")
    val remaining = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(remaining.forall(_ % 7 > 4))
    val deleted = spark.read.format("graft-avro")
      .option("versionAsOf", "1").load(fleet)
      .filter($"c_custkey" % 7 <= 4).count()
    assert(remaining.size.toLong == total - deleted)
    // count fast path stays exact through the self-flattened bindings
    assert(spark.read.format("graft-avro").load(fleet).count() ==
      total - deleted)
  }

  test("MOR DELETE stamps manifest DvMeta: exact counts + captured deleted-value stats") {
    import spark.implicits._
    val (root, s2) = freshFleet("meta")
    val fleet = s"$root/cust.avro"
    val deleted = spark.read.format("graft-avro").load(fleet)
      .filter($"c_custkey" % 17 === 3)
    val perFile = deleted.groupBy(col("_file")).count().collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
        r.getLong(1)).toMap
    val band = deleted.agg(min($"c_custkey"), max($"c_custkey")).head()
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 17 = 3")
    val snap = manifest(fleet)
    assert(snap.dvMeta.keySet == snap.dvs.keySet,
      s"every binding carries meta: ${snap.dvMeta.keySet} vs ${snap.dvs.keySet}")
    snap.dvMeta.foreach { case (f, m) =>
      assert(m.count == perFile(f), s"$f: ${m.count} vs ${perFile(f)}")
      val st = m.stats.getOrElse(fail(s"$f: stats not captured"))
      // the captured per-file band is inside the global deleted band
      val cs = st("c_custkey")
      assert(cs.min.asInstanceOf[Long] >= band.getLong(0) &&
        cs.max.asInstanceOf[Long] <= band.getLong(1), s"$f: $cs")
      assert(cs.nonNull == m.count,
        s"$f: non-null custkey count must equal positions: $cs")
      assert(st.contains("c_name") && st.contains("c_acctbal"))
    }
    // a second delete MERGES meta: counts add, stats union col-wise
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 17 = 4")
    val snap2 = manifest(fleet)
    snap2.dvMeta.foreach { case (f, m) =>
      assert(m.stats.isDefined, s"$f lost captured stats on merge")
      assert(m.count >= perFile.getOrElse(f, 0L))
    }
    assert(snap2.dvMeta.values.map(_.count).sum ==
      snap.dvMeta.values.map(_.count).sum +
        spark.read.format("graft-avro")
          .option("versionAsOf", snap.version).load(fleet)
          .filter($"c_custkey" % 17 === 4).count())
  }

  test("min/max metadata tier STANDS through a surgical MOR delete; deleting the extremum declines") {
    import spark.implicits._
    val (root, s2) = freshFleet("metastand")
    val fleet = s"$root/cust.avro"
    val keyRow = spark.read.format("graft-avro").load(fleet)
      .agg(max($"c_custkey"), min($"c_custkey")).head
    val maxKey = keyRow.getLong(0)
    val minKey = keyRow.getLong(1)
    // vector the MAX-ATTAINING file with values strictly below the
    // extremum: the binding's captured stats prove the max row lives
    s2.sql(s"""DELETE FROM graft.cust
      |WHERE c_custkey >= ${maxKey - 5} AND c_custkey < $maxKey"""
      .stripMargin)
    val q1 = s2.sql(
      "SELECT count(*) AS cnt, min(c_custkey) AS mn, max(c_custkey) AS mx " +
        "FROM graft.cust")
    val plan1 = q1.queryExecution.executedPlan.toString
    assert(plan1.contains("PushedAggregation(metadata)"),
      s"captured deleted-value stats must keep the tier standing:\n$plan1")
    val r1 = q1.head()
    assert(r1.getLong(2) == maxKey && r1.getLong(1) == minKey)
    // COUNT(col) stands too (r18): corrected by the bindings' captured
    // non-null deleted counts — zero tasks, exact value
    val q1c = s2.sql("SELECT count(c_acctbal) AS cb FROM graft.cust")
    assert(q1c.queryExecution.executedPlan.toString
      .contains("PushedAggregation(metadata): [COUNT(c_acctbal)]"),
      q1c.queryExecution.executedPlan.toString)
    assert(q1c.head.getLong(0) == r1.getLong(0))
    // now delete the extremum itself: the captured deleted max EQUALS
    // the sidecar max — unprovable, tier declines, row path exact
    s2.sql(s"DELETE FROM graft.cust WHERE c_custkey = $maxKey")
    val q2 = s2.sql("SELECT max(c_custkey) AS mx FROM graft.cust")
    assert(!q2.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "a provably-deleted extremum must decline the tier")
    assert(q2.head.getLong(0) == maxKey - 6)
  }

  test("stats capture: unlimited by default; explicit limit is an honest per-file cap; statsCapture=false disables") {
    import spark.implicits._
    // DEFAULT (no conf set): capture at ANY delete size — a default
    // cliff uncaptured exactly the big redactions that want the
    // standing tier (r19); r20 keeps the old conf NAME meaning what it
    // always did (a per-(task,file) cap) instead of silently becoming
    // a switch (r19 ADVICE).
    val (root, s2) = freshFleet("nocliff")
    val fleet = s"$root/cust.avro"
    val keyRow = spark.read.format("graft-avro").load(fleet)
      .agg(min($"c_custkey"), max($"c_custkey")).head
    val (minKey, maxKey) = (keyRow.getLong(0), keyRow.getLong(1))
    s2.sql(s"""DELETE FROM graft.cust
      |WHERE c_custkey > $minKey AND c_custkey <= ${minKey + 40}"""
      .stripMargin)
    val snap = manifest(fleet)
    assert(snap.dvMeta.values.map(_.count).sum == 40L)
    snap.dvMeta.foreach { case (f, m) =>
      assert(m.stats.isDefined,
        s"$f: a ${m.count}-row delete must capture by default")
      assert(m.fp.isDefined, s"$f: binding must carry a fingerprint")
    }
    // ... so the MIN/MAX metadata tier stands on the banded fleet
    val q = s2.sql(
      "SELECT min(c_custkey) AS mn, max(c_custkey) AS mx FROM graft.cust")
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedAggregation(metadata)"),
      q.queryExecution.executedPlan.toString)
    val r = q.head()
    assert(r.getLong(0) == minKey && r.getLong(1) == maxKey)
    // EXPLICIT limit: original cap semantics — a delete wider than
    // the cap stays honestly uncaptured (the deployment asked to
    // bound re-decode cost), a delete under it captures
    val (root2, s3) = freshFleet("capped")
    s3.conf.set("spark.graft.dv.statsCaptureLimit", "4")
    s3.sql(s"""DELETE FROM graft.cust
      |WHERE c_custkey > $minKey AND c_custkey <= ${minKey + 40}"""
      .stripMargin)
    val snapCap = manifest(s"$root2/cust.avro")
    assert(snapCap.dvMeta.values.map(_.count).sum == 40L)
    assert(snapCap.dvMeta.exists(_._2.count > 4L),
      s"fixture must produce a file past the cap: ${snapCap.dvMeta}")
    snapCap.dvMeta.foreach { case (f, m) =>
      if (m.count > 4L) assert(m.stats.isEmpty,
        s"$f: ${m.count} deleted positions must decline under cap=4")
      else assert(m.stats.isDefined,
        s"$f: ${m.count} ≤ cap must still capture")
      assert(m.fp.isDefined, s"$f: binding exactness is cap-independent")
    }
    // kill-switch: the boolean conf disables capture wholesale
    // (binding stays exact, honestly uncaptured); limit=0 keeps its
    // historical disable meaning too
    val (root3, s4) = freshFleet("nocap0")
    s4.conf.set("spark.graft.dv.statsCapture", "false")
    s4.sql("DELETE FROM graft.cust WHERE c_custkey = " + (minKey + 1))
    val snap2 = manifest(s"$root3/cust.avro")
    assert(snap2.dvMeta.nonEmpty &&
      snap2.dvMeta.values.forall(_.stats.isEmpty),
      s"statsCapture=false must disable capture: ${snap2.dvMeta}")
    val (root4, s5) = freshFleet("nocap1")
    s5.conf.set("spark.graft.dv.statsCaptureLimit", "0")
    s5.sql("DELETE FROM graft.cust WHERE c_custkey = " + (minKey + 1))
    val snap3 = manifest(s"$root4/cust.avro")
    assert(snap3.dvMeta.nonEmpty &&
      snap3.dvMeta.values.forall(_.stats.isEmpty),
      s"limit=0 must disable capture: ${snap3.dvMeta}")
  }

  test("serializable isolation conflicts on any mid-command commit; snapshot commits through") {
    import spark.implicits._
    val (root, s2) = freshFleet("serial")
    val fleet = s"$root/cust.avro"
    // bump_once lands a FOREIGN manifest commit the first time a task
    // evaluates it — i.e. strictly between this command's scan-version
    // capture (planning) and its own commit (job end): the write-skew
    // window. Snapshot isolation's file-granular CAS cannot see it
    // (no binding, no file overlap); serializable must.
    MorRowLevelSpec.armBump(fleet)
    s2.udf.register("bump_once",
      (_: Long) => { MorRowLevelSpec.bumpOnce(); true })
    val before = s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
    s2.conf.set("spark.graft.isolation", "serializable")
    val e = intercept[Exception] {
      s2.sql("DELETE FROM graft.cust " +
        "WHERE c_custkey % 17 = 3 AND bump_once(c_custkey)")
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage
      else t.getMessage + "\n" + rootMsg(t.getCause)
    assert(rootMsg(e).contains("expected version"), rootMsg(e))
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == before, "a conflicted serializable DELETE must delete nothing")
    // same interleave under the default snapshot isolation: commits
    MorRowLevelSpec.armBump(fleet)
    s2.conf.set("spark.graft.isolation", "snapshot")
    s2.sql("DELETE FROM graft.cust " +
      "WHERE c_custkey % 17 = 3 AND bump_once(c_custkey)")
    assert(s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().forall(_ % 17 != 3))
    // COPY-ON-WRITE honors the same conf (the replace write pins the
    // scan version): conflict under serializable, success after
    s2.conf.set("spark.graft.rowLevelMode", "copy-on-write")
    s2.conf.set("spark.graft.isolation", "serializable")
    MorRowLevelSpec.armBump(fleet)
    val e2 = intercept[Exception] {
      s2.sql("UPDATE graft.cust SET c_acctbal = c_acctbal + 1.0 " +
        "WHERE c_custkey % 17 = 4 AND bump_once(c_custkey)")
    }
    assert(rootMsg(e2).contains("expected version"), rootMsg(e2))
    // uncontended serializable command: commits normally
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 17 = 5")
    assert(s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().forall(k => k % 17 != 3 && k % 17 != 5))
  }

  test("COW rewrite of a vectored file does not resurrect deleted rows") {
    import spark.implicits._
    val (root, s2) = freshFleet("cowmix")
    val fleet = s"$root/cust.avro"
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 2")
    // same file now rewritten by a COPY-ON-WRITE update (mode flipped):
    // the ReplaceData read resolves the vector, so survivors exclude
    // row 2 and the swap retires file + binding together
    s2.conf.set("spark.graft.rowLevelMode", "copy-on-write")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 7.0, 4)
        |WHERE c_custkey = 3""".stripMargin)
    val got = s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet
    assert(!got.contains(2L), "COW rewrite resurrected a vectored delete")
    val snap = manifest(fleet)
    assert(snap.dvs.isEmpty,
      s"rewritten file kept a stale vector binding: ${snap.dvs}")
  }

  test("change feed carries MOR deletes: batch, keyed, and streamed") {
    import spark.implicits._
    val (root, s2) = freshFleet("cdc")
    val fleet = s"$root/cust.avro"
    val v0 = manifest(fleet).version
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 31 = 7")
    val v1 = manifest(fleet).version
    assert(manifest(fleet).files.toSet ==
      graft.sources.FleetManifest.select(
        new org.apache.hadoop.fs.Path(fleet).getFileSystem(
          spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(fleet), Some(v0)).get.files.toSet,
      "a MOR delete must not change the file set")
    val expected = spark.read.format("graft-avro")
      .option("versionAsOf", v0).load(fleet)
      .filter($"c_custkey" % 31 === 7)
      .select($"c_custkey").as[Long].collect().toSet
    assert(expected.nonEmpty)
    // batch feed: exactly the newly-vectored rows, as deletes
    val feed = graft.sources.FleetCDC.changes(spark, fleet, v0, v1)
    assert(feed.filter(col("_change_type") =!= "delete").count() == 0)
    assert(feed.select($"c_custkey").as[Long].collect().toSet == expected)
    // keyed feed reconciles to the same deletes (no survivors leak)
    val keyed = graft.sources.FleetCDC.changesKeyed(spark, fleet, v0, v1,
      Seq("c_custkey"))
    assert(keyed.filter(col("_change_type") =!= "delete").count() == 0)
    assert(keyed.select($"c_custkey").as[Long].collect().toSet == expected)
    // streamed feed: AvailableNow from the pre-delete version
    val ckpt = graft.util.Scratch.dir("mor_cdc_ckpt")
    val q = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", v0)
      .load(fleet)
      .writeStream.format("memory").queryName("mor_cdc")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql(
      "SELECT c_custkey, _change_type FROM mor_cdc").collect()
    assert(streamed.forall(_.getString(1) == "delete"))
    assert(streamed.map(_.getLong(0)).toSet == expected)
  }

  test("plain readStream applies the binding pinned at admission") {
    import spark.implicits._
    val (root, s2) = freshFleet("stream")
    val fleet = s"$root/cust.avro"
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 23 = 11")
    val live = s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet
    val ckpt = graft.util.Scratch.dir("mor_stream_ckpt")
    val q = spark.readStream.format("graft-avro").load(fleet)
      .writeStream.format("memory").queryName("mor_plain_stream")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.sql("SELECT c_custkey FROM mor_plain_stream")
      .as[Long].collect().toSet
    assert(streamed == live,
      "the plain stream must hide rows vectored before admission")
  }

  test("change-feed stream resumes exactly across successive MOR generations") {
    import spark.implicits._
    val (root, s2) = freshFleet("cdc_resume")
    val fleet = s"$root/cust.avro"
    val v0 = manifest(fleet).version
    val ckpt = graft.util.Scratch.dir("mor_cdc_resume_ckpt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def drain(): Set[(Long, String)] = {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", v0)
        .load(fleet)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("c_custkey", "_change_type").collect()
            .map(r => r.getLong(0) -> r.getString(1))
          seen.synchronized { seen ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      seen.synchronized { seen.toSet }
    }
    def emitted(): Int = seen.synchronized(seen.size)
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 7")
    val first = drain()
    assert(first == Set(7L -> "delete"), s"first drain: $first")
    // two more generations while the stream is down: another vector
    // GROWTH on (possibly) the same file, plus an append
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 8")
    s2.sql("INSERT INTO graft.cust VALUES (900100, 'late', 1.0)")
    val second = drain()
    assert(second -- first == Set(8L -> "delete", 900100L -> "insert"),
      s"resume must read ONLY the new span: ${second -- first}")
    // and nothing re-emitted: the collector counts EVERY arrival, so
    // a replayed span would show as extra occurrences
    assert(emitted() == 3, s"expected 3 total emissions, got ${emitted()}")
  }

  test("incremental MV folds a MOR delete as its vectored rows") {
    import spark.implicits._
    val (root, s2) = freshFleet("mv")
    val fleet = s"$root/cust.avro"
    val view = s"$root/view.avro"
    graft.sources.FleetMV.create(spark, fleet, view,
      keys = Seq("c_name"), sumCols = Seq("c_acctbal"),
      minMaxCols = Seq("c_acctbal"))
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 7 = 2")
    val r = graft.sources.FleetMV.refresh(spark, fleet, view,
      keys = Seq("c_name"), sumCols = Seq("c_acctbal"),
      minMaxCols = Seq("c_acctbal"))
    assert(r.changedFiles > 0, "the vector growth must count as change")
    val got = spark.read.format("graft-avro").load(view)
      .select($"c_name", $"cnt", round($"sum_c_acctbal", 2).as("s"),
        $"min_c_acctbal", $"max_c_acctbal")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val want = spark.read.format("graft-avro").load(fleet)
      .groupBy($"c_name")
      .agg(count(lit(1)).as("cnt"), round(sum($"c_acctbal"), 2).as("s"),
        min($"c_acctbal").as("mn"), max($"c_acctbal").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got == want, "MV drifted from a cold recompute after MOR delete")
  }

  test("MV refresh and the change feed span compact_vectors and purge commits exactly") {
    import spark.implicits._
    val (root, s2) = freshFleet("mv_maint")
    val fleet = s"$root/cust.avro"
    val view = s"$root/view.avro"
    graft.sources.FleetMV.create(spark, fleet, view,
      keys = Seq("c_name"), sumCols = Seq("c_acctbal"))
    // over-budget deletes bind a chain, compact_vectors rebinds it to
    // an IDENTICAL leaf, another delete lands, then purge_vectors
    // rewrites the vectored files: the refresh span covers a no-op
    // rebind AND a swap — the r17 shrink guard WEDGED consumers on the
    // first and the endpoint diff must stay exact through both
    s2.conf.set("spark.graft.dv.coalesceBudget", "1")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 23 = 1")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 23 = 2")
    s2.sql("CALL graft.system.compact_vectors('cust')")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 23 = 3")
    s2.sql("CALL graft.system.purge_vectors('cust', 16777216)")
    val r = graft.sources.FleetMV.refresh(spark, fleet, view,
      keys = Seq("c_name"), sumCols = Seq("c_acctbal"))
    assert(r.changedFiles > 0)
    val got = spark.read.format("graft-avro").load(view)
      .select($"c_name", $"cnt", round($"sum_c_acctbal", 2).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val want = spark.read.format("graft-avro").load(fleet)
      .groupBy($"c_name")
      .agg(count(lit(1)).as("cnt"), round(sum($"c_acctbal"), 2).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want,
      "MV drifted across compact_vectors/purge maintenance commits")
    // the batch feed across the same full span nets to the deletes
    // only — maintenance commits contribute nothing
    val p2 = new org.apache.hadoop.fs.Path(fleet)
    val fs2 = p2.getFileSystem(spark.sessionState.newHadoopConf())
    val head = graft.sources.FleetManifest.current(fs2, p2).get.version
    val keyed = graft.sources.FleetCDC.changesKeyed(
      spark, fleet, 1L, head, Seq("c_custkey"))
    val byType = keyed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedDeletes = spark.read.format("graft-avro")
      .option("versionAsOf", "1").load(fleet)
      .filter($"c_custkey" % 23 >= 1 && $"c_custkey" % 23 <= 3).count()
    assert(byType == Map("delete" -> expectedDeletes),
      s"span must net to exactly the deletes: $byType")
  }

  test("purge_vectors rewrites ONLY vectored files; the rest stay byte-identical") {
    import spark.implicits._
    val (root, s2) = freshFleet("purge")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    // vector a mid-range band: extent pruning binds vectors on the
    // band's files only, the other range files stay unvectored
    s2.sql("DELETE FROM graft.cust WHERE c_custkey >= 40 AND c_custkey < 60")
    val snap = manifest(fleet)
    assert(snap.dvs.nonEmpty)
    val vectored = snap.dvs.keySet
    val untouched = snap.files.filterNot(vectored).toSet
    assert(untouched.nonEmpty, "expected unvectored files to spare")
    val before = dataSnapshot(fleet)
    val r = s2.sql("CALL graft.system.purge_vectors('cust', 16777216)")
      .head()
    assert(r.getInt(0) == vectored.size, r.toString)
    val after = manifest(fleet)
    assert(after.dvs.isEmpty && after.dvMeta.isEmpty,
      s"purge must retire every binding: ${after.dvs}")
    assert(vectored.forall(n => !after.files.contains(n)),
      "purged originals must retire from the generation")
    untouched.foreach { n =>
      assert(dataSnapshot(fleet).get(n) == before.get(n),
        s"unvectored $n must stay byte-identical") }
    val remaining = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(remaining.forall(k => k < 40 || k >= 60))
    assert(remaining.size.toLong == total - 20)
    // dense again: the plain metadata fast path is back, uncorrected
    val cnt = spark.read.format("graft-avro").load(fleet).groupBy().count()
    assert(cnt.queryExecution.executedPlan.toString
      .contains("PushedAggregation"), "purged fleet must re-arm the tier")
    assert(cnt.as[Long].head() == total - 20)
    // the retired generation still time-travels until retention
    assert(spark.read.format("graft-avro")
      .option("versionAsOf", snap.version).load(fleet)
      .count() == total - 20)
  }

  test("rewrite_files materializes vectors; retention then GCs them") {
    import spark.implicits._
    val (root, s2) = freshFleet("compact")
    val fleet = s"$root/cust.avro"
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 11 = 4")
    val live = s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet
    assert(manifest(fleet).dvs.nonEmpty)
    s2.sql("CALL graft.system.rewrite_files('cust', 67108864, '')")
    val snap = manifest(fleet)
    assert(snap.dvs.isEmpty, "compaction must materialize vectors")
    assert(s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet == live)
    // vectors survive for VERSION AS OF until retention reclaims them
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val dvDir = new org.apache.hadoop.fs.Path(p, "_dv")
    assert(fs.exists(dvDir) && fs.listStatus(dvDir).nonEmpty)
    graft.sources.FleetCompact.expireVersions(spark, fleet, keepLast = 1)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "expired snapshots' vectors must GC with them")
    assert(s2.sql("SELECT c_custkey FROM graft.cust").as[Long]
      .collect().toSet == live)
  }

  test("mergeCow over a vectored fleet does not resurrect deleted rows") {
    import spark.implicits._
    val (root, s2) = freshFleet("cowmerge")
    val fleet = s"$root/cust.avro"
    s2.sql("DELETE FROM graft.cust WHERE c_custkey = 9")
    // a FleetMerge upsert touching row 9's file must carry the vector
    val feed = Seq((10L, 777.0)).toDF("c_custkey", "bal")
    graft.sources.FleetMerge.mergeCow(spark, fleet, "c_custkey",
      feed.select($"c_custkey"),
      base => base.alias("b").join(feed.alias("f"),
          Seq("c_custkey"), "left")
        .select($"c_custkey", $"b.c_name".as("c_name"),
          coalesce($"f.bal", $"b.c_acctbal").as("c_acctbal")))
    val got = spark.read.format("graft-avro").load(fleet)
    assert(got.filter($"c_custkey" === 9).count() == 0,
      "mergeCow resurrected a vectored delete")
    assert(got.filter($"c_custkey" === 10)
      .select($"c_acctbal").as[Double].head() == 777.0)
  }

  test("restore reproduces a version's vector bindings, both directions") {
    import spark.implicits._
    val (root, s2) = freshFleet("restore")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    val vClean = manifest(fleet).version
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 19 = 3")
    val vDeleted = manifest(fleet).version
    val liveAfterDelete = s2.sql("SELECT count(*) FROM graft.cust")
      .as[Long].head()
    assert(liveAfterDelete < total)
    // restore to the PRE-delete version: the vectored rows come back
    s2.sql(s"CALL graft.system.restore('cust', $vClean)")
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == total, "restore must clear the post-version vector binding")
    assert(manifest(fleet).dvs.isEmpty)
    // and back FORWARD to the deleted version: the vector re-binds
    s2.sql(s"CALL graft.system.restore('cust', $vDeleted)")
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == liveAfterDelete, "restore must reproduce the version's binding")
    assert(manifest(fleet).dvs.nonEmpty)
  }

  test("a COW swap CASes the vector bindings it read: stale binding conflicts") {
    import spark.implicits._
    val (root, s2) = freshFleet("cas")
    val fleet = s"$root/cust.avro"
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val victim = manifest(fleet).files.head
    // a "rewrite" planned when the file was UNBOUND...
    val staleRequire = s"""{"$victim": null}"""
    // ...loses a race to a merge-on-read delete on that file
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 2 = 0")
    assert(manifest(fleet).dvs.nonEmpty)
    val boundNow = manifest(fleet).dvs.keySet
    val raceFile =
      if (boundNow(victim)) victim else boundNow.head
    val e = intercept[Exception] {
      spark.read.format("graft-avro").load(fleet).limit(1)
        .write.format("graft-avro").mode("append")
        .option("manifestSwapRemove", raceFile)
        .option("manifestRequireDvs", s"""{"$raceFile": null}""")
        .save(fleet)
    }
    def conflict(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[
        graft.sources.FleetCommitConflictException] ||
        conflict(t.getCause))
    assert(conflict(e), s"expected a vector-binding conflict, got $e")
    // the failed swap left the fleet intact: the delete still holds
    assert(spark.read.format("graft-avro").load(fleet)
      .filter($"c_custkey" % 2 === 0).count() == 0)
  }

  test("concurrent MOR deletes: every thread's deletes land, none lost") {
    import spark.implicits._
    val (root, _) = freshFleet("race")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    // 8 writers, disjoint residues — all target the SAME files, so
    // their vector merges genuinely contend on the read-merge-commit
    // path (in-JVM the stripe lock serializes; the CAS is the
    // cross-process guard)
    val residues = 0 until 8
    val threads = residues.map { r =>
      new Thread(() => {
        val sx = spark.newSession()
        sx.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        sx.conf.set("spark.sql.catalog.graft.root", root)
        sx.conf.set("spark.graft.rowLevelMode", "merge-on-read")
        sx.sql(s"DELETE FROM graft.cust WHERE c_custkey % 16 = $r")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val left = spark.read.format("graft-avro").load(fleet)
      .select($"c_custkey").as[Long].collect()
    assert(left.forall(k => k % 16 >= 8),
      s"lost concurrent deletes: ${left.filter(_ % 16 < 8).take(5).toSeq}")
    val expected = spark.read.format("graft-avro")
      .option("versionAsOf", 1).load(fleet)
      .filter($"c_custkey" % 16 >= 8).count()
    assert(left.length.toLong == expected)
    assert(total > expected)
  }

  test("extent-decidable DELETE stays metadata-only in MOR mode") {
    val (root, s2) = freshFleet("meta")
    val fleet = s"$root/cust.avro"
    val before = dataSnapshot(fleet)
    // range-partitioned staging: a whole leading key range is some
    // file's full extent → pure file drop, no vector needed
    val maxKey = s2.sql("SELECT max(c_custkey) FROM graft.cust")
      .collect().head.getLong(0)
    s2.sql(s"DELETE FROM graft.cust WHERE c_custkey > $maxKey - 1000000")
    val snap = manifest(fleet)
    assert(snap.dvs.isEmpty,
      "an all-rows-match delete must drop files, not write vectors")
    assert(snap.files.size < before.size)
  }

  test("a branch stages merge-on-read deletes; publish carries the bindings") {
    import spark.implicits._
    val (root, s2) = freshFleet("wap_mor")
    val fleet = s"$root/cust.avro"
    val total = spark.read.format("graft-avro").load(fleet).count()
    s2.sql("CALL graft.system.create_branch('cust', 'redact')")
    s2.conf.set("spark.graft.branch", "redact")
    // the staged redaction lands as BRANCH-bound deletion vectors
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 7 = 3")
    val staged = s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
    assert(staged < total)
    // main: no vectors, no hidden rows
    assert(spark.read.format("graft-avro").load(fleet).count() == total)
    assert(manifest(fleet).dvs.isEmpty,
      "a staged MOR delete must not bind vectors on MAIN")
    // the orphan sweep must keep branch-referenced vector files
    s2.conf.unset("spark.graft.branch")
    s2.sql("CALL graft.system.remove_orphans('cust', 0L)")
    s2.conf.set("spark.graft.branch", "redact")
    assert(s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
      == staged, "remove_orphans reaped a branch-staged vector")
    // publish: main adopts the vectored generation
    s2.conf.unset("spark.graft.branch")
    s2.sql("CALL graft.system.fast_forward('cust', 'redact')")
    assert(manifest(fleet).dvs.nonEmpty,
      "fast_forward must carry the staged vector bindings to main")
    val published = s2.sql("SELECT c_custkey FROM graft.cust")
      .as[Long].collect().toSet
    assert(published.size.toLong == staged)
    assert(published.forall(_ % 7 != 3))
  }

  test("readChangeFeed refuses a session with an active branch on the fleet") {
    import spark.implicits._
    val (root, s2) = freshFleet("cdc_branch")
    val fleet = s"$root/cust.avro"
    s2.sql("CALL graft.system.create_branch('cust', 'wip')")
    s2.conf.set("spark.graft.branch", "wip")
    val q = s2.readStream.format("graft-avro")
      .option("readChangeFeed", "true").load(fleet)
      .writeStream.format("memory").queryName("cdc_branch_guard")
      .option("checkpointLocation", graft.util.Scratch.dir("cdcbr_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("active branch") ||
      Option(e.getCause).exists(_.getMessage.contains("active branch")),
      e.getMessage)
    // unset → the feed streams main as documented
    s2.conf.unset("spark.graft.branch")
    val q2 = s2.readStream.format("graft-avro")
      .option("readChangeFeed", "true").load(fleet)
      .writeStream.format("memory").queryName("cdc_branch_ok")
      .option("checkpointLocation", graft.util.Scratch.dir("cdcbr_ckpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
  }

  test("concurrent over-budget deletes contend on flat chains: none lost") {
    import spark.implicits._
    val (root, _) = freshFleet("chainrace")
    val fleet = s"$root/cust.avro"
    // budget 1: every contended merge takes the CHAIN path — the flat
    // splice reads the current binding's parent NAMES inside the
    // commit lock, so racing writers must neither lose a leaf nor nest
    val residues = 0 until 6
    val threads = residues.map { r =>
      new Thread(() => {
        val sx = spark.newSession()
        sx.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        sx.conf.set("spark.sql.catalog.graft.root", root)
        sx.conf.set("spark.graft.rowLevelMode", "merge-on-read")
        sx.conf.set("spark.graft.dv.coalesceBudget", "1")
        sx.sql(s"DELETE FROM graft.cust WHERE c_custkey % 12 = $r")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val left = spark.read.format("graft-avro").load(fleet)
      .select($"c_custkey").as[Long].collect()
    assert(left.forall(_ % 12 >= 6),
      s"lost contended chain deletes: ${left.filter(_ % 12 < 6).take(5).toSeq}")
    val expected = spark.read.format("graft-avro")
      .option("versionAsOf", 1).load(fleet)
      .filter($"c_custkey" % 12 >= 6).count()
    assert(left.length.toLong == expected)
    // every surviving chain binding is FLAT (leaves only)
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    manifest(fleet).dvs.values
      .filter(_.endsWith(".dv.chain.json")).foreach { rel =>
        val parents = graft.sources.FleetDv.chainParents(fs, p, rel)
        assert(parents.forall(_.endsWith(".dv.bin")),
          s"contended chain nested: $rel -> $parents")
      }
  }
}

/** Executor-reachable statics for the serializable-isolation spec: a
  * once-only foreign manifest commit fired from inside a running
  * command's task (local mode shares the JVM). */
object MorRowLevelSpec {
  private val target =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private val pending = new java.util.concurrent.atomic.AtomicBoolean(false)

  def armBump(fleet: String): Unit = { target.set(fleet); pending.set(true) }

  def bumpOnce(): Unit =
    if (pending.compareAndSet(true, false)) {
      val p = new org.apache.hadoop.fs.Path(target.get)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      graft.sources.FleetManifest.commit(fs, p, identity, Nil)
    }
}
