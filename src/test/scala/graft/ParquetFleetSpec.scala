package graft

import org.apache.spark.sql.functions._

/** Columnar (parquet) data-file tier over the fleet manifest
  * (ParquetFleet, r20): committed appends/overwrites, vectorized
  * snapshot reads, merge-on-read deletes by `_metadata.row_index`
  * vectors, time travel, binding merge across deletes, and the
  * concurrent-delete compare-and-set. */
class ParquetFleetSpec extends SparkSpec {
  import graft.sources.{FleetCompact, ParquetFleet}

  private def stage(tagName: String): String = {
    import spark.implicits._
    val root = graft.util.Scratch.dir(s"pqfleet_$tagName")
    val dir = s"$root/t.parquet"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ParquetFleet.overwrite(
      spark.range(100).select($"id", ($"id" * 2).as("v"))
        .repartitionByRange(4, $"id"), dir)
    dir
  }

  private def manifest(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    graft.sources.FleetManifest.current(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p).get
  }

  test("append and overwrite are manifest commits; reads resolve the snapshot") {
    import spark.implicits._
    val dir = stage("commits")
    assert(manifest(dir).version == 1L)
    assert(ParquetFleet.read(spark, dir).count() == 100)
    ParquetFleet.append(
      spark.range(100, 120).select($"id", ($"id" * 2).as("v")), dir)
    assert(manifest(dir).version == 2L)
    assert(ParquetFleet.read(spark, dir).count() == 120)
    // time travel: v1 still reads the pre-append set
    assert(ParquetFleet.read(spark, dir, Some(1L)).count() == 100)
    // overwrite resets wholesale; history keeps serving
    ParquetFleet.overwrite(
      spark.range(5).select($"id", ($"id" * 2).as("v")), dir)
    assert(ParquetFleet.read(spark, dir).count() == 5)
    assert(ParquetFleet.read(spark, dir, Some(2L)).count() == 120)
  }

  test("append refuses a divergent schema loudly; overwrite replaces it") {
    import spark.implicits._
    val dir = stage("schema")
    val e = intercept[IllegalArgumentException] {
      ParquetFleet.append(
        spark.range(3).select($"id", lit("x").as("note")), dir)
    }
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    assert(ParquetFleet.read(spark, dir).count() == 100,
      "a refused append must land nothing")
    ParquetFleet.overwrite(
      spark.range(3).select($"id", lit("x").as("note")), dir)
    assert(ParquetFleet.read(spark, dir).columns.toSeq ==
      Seq("id", "note"))
  }

  test("MOR delete: zero data files touched, row-index vectors bound, exact rows, history travels") {
    import spark.implicits._
    val dir = stage("mor")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles() = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> (st.getModificationTime, st.getLen))
      .toMap
    val before = dataFiles()
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)
    assert(dataFiles() == before,
      "a MOR delete must not touch, add, or remove data files")
    val snap = manifest(dir)
    assert(snap.version == 2L && snap.dvs.nonEmpty,
      s"expected bound vectors: $snap")
    val got = ParquetFleet.read(spark, dir).select($"id")
      .as[Long].collect().toSet
    assert(got == (0L until 100L).filter(_ % 7 != 3).toSet)
    // the pre-delete generation reads FULL
    assert(ParquetFleet.read(spark, dir, Some(1L)).count() == 100)
    // a SECOND delete merges per-file bindings (union, not loss)
    ParquetFleet.delete(spark, dir, $"id" === 0L)
    val got2 = ParquetFleet.read(spark, dir).select($"id")
      .as[Long].collect().toSet
    assert(got2 == (1L until 100L).filter(_ % 7 != 3).toSet,
      s"second delete lost or resurrected rows: ${got2.toSeq.sorted}")
    // re-running a delete is idempotent
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)
    assert(ParquetFleet.read(spark, dir).count() == got2.size)
  }

  test("concurrent MOR deletes: the binding compare-and-set makes the loser loud") {
    import spark.implicits._
    val dir = stage("race")
    // both deletes plan against v1's (empty) bindings; the first
    // commit binds vectors, so the second's requireDvs mismatches
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val snap1 = graft.sources.FleetManifest.current(fs, p).get
    ParquetFleet.delete(spark, dir, $"id" === 1L)
    // emulate the racer: re-issue a commit claiming snap1's bindings
    val e = intercept[graft.sources.FleetCommitConflictException] {
      graft.sources.FleetManifest.commit(fs, p,
        update = identity, bootstrap = Seq.empty,
        dvUpdate = Map(snap1.files.head -> Some("_dv_parquet/bogus")),
        requireDvs = Map(snap1.files.head ->
          snap1.dvs.get(snap1.files.head)))
    }
    assert(e.getMessage.contains("vector"), e.getMessage)
  }

  test("compact materializes vectors into dense files; history keeps serving; stale compactions conflict") {
    import spark.implicits._
    val dir = stage("compact")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)      // v2 (MOR)
    val snapMor = manifest(dir)
    assert(snapMor.dvs.nonEmpty)
    val expected = (0L until 100L).filter(_ % 7 != 3).toSet
    ParquetFleet.compact(spark, dir)                      // v3 (dense)
    val snap = manifest(dir)
    assert(snap.version == 3L && snap.dvs.isEmpty,
      s"compaction must retire every binding: $snap")
    assert(snap.files.toSet.intersect(snapMor.files.toSet).isEmpty,
      "compaction must swap out every vectored generation file")
    assert(ParquetFleet.read(spark, dir).select($"id")
      .as[Long].collect().toSet == expected)
    // the dense read carries NO anti-join (pure vectorized scan)
    val q = ParquetFleet.read(spark, dir)
    q.collect()
    assert(!q.queryExecution.executedPlan.toString.toLowerCase
      .contains("leftanti"), "a dense fleet must read join-free")
    // prior generations still time-travel (files stay until retention)
    assert(ParquetFleet.read(spark, dir, Some(1L)).count() == 100)
    assert(ParquetFleet.read(spark, dir, Some(2L)).select($"id")
      .as[Long].collect().toSet == expected)
    // a vector-less compact is a no-op commit-wise
    ParquetFleet.compact(spark, dir)
    assert(manifest(dir).version == 3L)
    // a compaction planned against a superseded generation conflicts
    // loudly (requireInBase: its inputs were swapped away)
    val e = intercept[graft.sources.FleetCommitConflictException] {
      graft.sources.FleetManifest.commit(fs, p,
        update = identity, bootstrap = Seq.empty,
        requireInBase = snapMor.files.toSet)
    }
    assert(e.getMessage.contains("no longer in"), e.getMessage)
  }

  test("vectorized reads: parquet scan with pushdown survives the DV anti-join") {
    import spark.implicits._
    val dir = stage("plan")
    ParquetFleet.delete(spark, dir, $"id" === 5L)
    val q = ParquetFleet.read(spark, dir).filter($"v" > 100).agg(sum($"v"))
    val expected = (0L until 100L).filter(i => i != 5L && i * 2 > 100)
      .map(_ * 2).sum
    assert(q.head.getLong(0) == expected)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the data scan stays Spark's columnar parquet reader with the
    // filter pushed; the deleted set joins as the anti side
    assert(plan.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,100)]"),
      s"filter not pushed to the parquet scan:\n$plan")
    assert(plan.toLowerCase.contains("leftanti"),
      s"expected the DV anti-join:\n$plan")
  }

  // ---- footer stats + file skipping (r20) ---------------------------

  // the current snapshot's committed stats by file name
  private def sidecar(dir: String) = FleetStatsKit.committedStats(spark, dir)

  test("every commit captures footer stats: zero data reads, exact bounds and null counts") {
    import spark.implicits._
    val dir = stage("stats")
    val snap = manifest(dir)
    val stats = sidecar(dir)
    assert(snap.files.forall(stats.contains),
      s"missing sidecar entries: ${snap.files.filterNot(stats.contains)}")
    assert(stats.view.filterKeys(snap.files.toSet)
      .values.map(_.rows).sum == 100)
    // per-file id bounds are true Longs, disjoint under range clustering
    val bounds = snap.files.sorted.map { f =>
      val cs = stats(f).cols("id")
      assert(cs.nulls == 0)
      (cs.min.get.asInstanceOf[Long], cs.max.get.asInstanceOf[Long])
    }
    assert(bounds.map(_._1).min == 0L && bounds.map(_._2).max == 99L)
    val sorted = bounds.sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"range clustering should give disjoint file bounds: $sorted")
    // appends capture too
    ParquetFleet.append(
      spark.range(100, 120).select($"id", ($"id" * 2).as("v")), dir)
    val stats2 = sidecar(dir)
    assert(manifest(dir).files.forall(stats2.contains))
  }

  test("scan prunes files through the sidecar proofs and equals the unpruned filter") {
    import spark.implicits._
    val dir = stage("skip")
    val snap = manifest(dir)
    // range predicate: only the first of four range-clustered files
    // can hold ids <= 10
    val pred = $"id" <= 10L
    val (kept, pruned) = ParquetFleet.pruneFiles(spark, dir, snap, pred)
    assert(kept.size == 1 && pruned.size == 3,
      s"expected 3 of 4 files pruned: kept=$kept pruned=$pruned")
    assert(ParquetFleet.scan(spark, dir, pred).select($"id")
      .as[Long].collect().toSet == (0L to 10L).toSet)
    // equality point-lookup prunes on min/max alone
    val (k2, p2) = ParquetFleet.pruneFiles(spark, dir, snap, $"id" === 99L)
    assert(k2.size == 1 && p2.size == 3, s"kept=$k2")
    // an untranslatable predicate proves nothing and stays correct
    val (k3, p3) =
      ParquetFleet.pruneFiles(spark, dir, snap, $"id" % 7 === 3)
    assert(k3.size == 4 && p3.isEmpty)
    assert(ParquetFleet.scan(spark, dir, $"id" % 7 === 3).count() ==
      (0L until 100L).count(_ % 7 == 3))
    // a predicate no file can match returns empty with the schema
    val none = ParquetFleet.scan(spark, dir, $"id" === -1L)
    assert(none.columns.toSeq == Seq("id", "v") && none.count() == 0)
    // the OR algebra: both edge ranges survive, the middle prunes
    // (a disjunction skips a file only when EVERY branch proves)
    val (k4, p4) = ParquetFleet.pruneFiles(spark, dir, snap,
      $"id" <= 10L || $"id" >= 95L)
    assert(k4.size == 2 && p4.size == 2, s"kept=$k4 pruned=$p4")
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L || $"id" >= 95L)
      .select($"id").as[Long].collect().toSet ==
      ((0L to 10L) ++ (95L to 99L)).toSet)
  }

  test("pruned scans still apply deletion vectors; deletes themselves prune and touch only hit files") {
    import spark.implicits._
    val dir = stage("skipmor")
    // surgical delete inside the first file's range: the candidate
    // pruning means only file 1 was even scanned; its vector binds
    ParquetFleet.delete(spark, dir, $"id" === 5L)
    val snap2 = manifest(dir)
    assert(snap2.dvs.size == 1, s"one touched file, one binding: $snap2")
    val boundFile = snap2.dvs.keys.head
    // a second, file-disjoint delete must leave the first binding
    // VERBATIM (only touched files' vectors are re-derived)
    ParquetFleet.delete(spark, dir, $"id" === 95L)
    val snap3 = manifest(dir)
    assert(snap3.dvs.size == 2)
    assert(snap3.dvs(boundFile) == snap2.dvs(boundFile),
      "an untouched file's vector binding must not be rewritten")
    // the PRUNED scan over the deleted range excludes the deleted row
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L).select($"id")
      .as[Long].collect().toSet == (0L to 10L).toSet - 5L)
    // time-travel scans prune too (stats are version-independent)
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L, Some(1L))
      .count() == 11)
  }

  test("stats are advisory: a lost sidecar disables pruning, never correctness") {
    import spark.implicits._
    val dir = stage("advisory")
    FleetStatsKit.stripStats(dir)
    val snap = manifest(dir)
    val (kept, pruned) =
      ParquetFleet.pruneFiles(spark, dir, snap, $"id" <= 10L)
    assert(kept.size == 4 && pruned.isEmpty,
      "without stats every file must survive")
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L).count() == 11)
  }

  test("temporal, string, and null-count proofs ride the footer carriers") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pqfleet_carriers")
    val dir = s"$root/t.parquet"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try ParquetFleet.overwrite(
      spark.range(100).select(
        $"id",
        concat(lit("k"), lpad($"id".cast("string"), 3, "0")).as("c"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          $"id".cast("int")).as("d"),
        timestamp_seconds(lit(1700000000L) + $"id" * 3600).as("ts"),
        when($"id" >= 25, $"id").as("maybe"))
        .repartitionByRange(4, $"id"), dir)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
    val snap = manifest(dir)
    def prunedCount(pred: org.apache.spark.sql.Column): Int =
      ParquetFleet.pruneFiles(spark, dir, snap, pred)._2.size
    // string prefix + equality (byte order == code-point order)
    assert(prunedCount($"c".startsWith("k00")) == 3)
    assert(prunedCount($"c" === "k042") == 3)
    // DATE epoch-day carrier
    assert(prunedCount($"d" < lit(java.sql.Date.valueOf("2024-01-11"))) == 3)
    // TIMESTAMP epoch-µs carrier (µs-typed parquet stats)
    assert(prunedCount(
      $"ts" <= lit(new java.sql.Timestamp(1700000000L * 1000 +
        10L * 3600 * 1000))) == 3)
    // null-count proofs: file 1 (ids 0..24) is all-null in `maybe`
    assert(prunedCount($"maybe".isNotNull) == 1)
    assert(prunedCount($"maybe".isNull) == 3)
    // and every pruned scan equals its unpruned twin
    for (pred <- Seq($"c".startsWith("k00"), $"c" === "k042",
        $"d" < lit(java.sql.Date.valueOf("2024-01-11")),
        $"maybe".isNotNull, $"maybe".isNull)) {
      val got = ParquetFleet.scan(spark, dir, pred)
        .select($"id").as[Long].collect().toSet
      val want = ParquetFleet.read(spark, dir).filter(pred)
        .select($"id").as[Long].collect().toSet
      assert(got == want, s"pruned scan diverged for $pred")
    }
  }

  test("metadata-tier count: sidecar rows minus vector cardinalities, no data file opened") {
    import spark.implicits._
    val dir = stage("metacount")
    assert(ParquetFleet.count(spark, dir) == 100L)
    // MOR delete: count reflects the vectors without reading data
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)
    val expected = (0L until 100L).count(_ % 7 != 3).toLong
    assert(ParquetFleet.count(spark, dir) == expected)
    assert(ParquetFleet.count(spark, dir, Some(1L)) == 100L,
      "time-travel counts resolve the as-of snapshot")
    // idempotent re-delete must not double-count ordinals
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)
    assert(ParquetFleet.count(spark, dir) == expected)
    // the PROOF that no data file is opened on the sidecar path:
    // truncate every data file on a vector-less clone — count still
    // answers from the sidecar alone
    val dir2 = stage("metacount2")
    val p2 = new org.apache.hadoop.fs.Path(dir2)
    val fs2 = p2.getFileSystem(spark.sessionState.newHadoopConf())
    manifest(dir2).files.foreach { n =>
      val out = fs2.create(new org.apache.hadoop.fs.Path(p2, n), true)
      out.close()
    }
    assert(ParquetFleet.count(spark, dir2) == 100L,
      "sidecar-tier count must not open data files")
    // and with the sidecar gone, the footer fallback is still exact
    val dir3 = stage("metacount3")
    FleetStatsKit.stripStats(dir3)
    assert(ParquetFleet.count(spark, dir3) == 100L)
  }

  test("timestamp addressing resolves through the commit-time index") {
    import spark.implicits._
    val dir = stage("tsaddr")
    ParquetFleet.append(
      spark.range(100, 120).select($"id", ($"id" * 2).as("v")), dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val times = graft.sources.FleetManifest.versionsWithTimes(fs, p)
    assert(times.map(_._1).toSet == Set(1L, 2L))
    // at-or-before each commit's own time resolves that version (ties
    // between same-millisecond commits resolve to the newest — the
    // AS OF convention)
    val atV1 = ParquetFleet.versionAtTimestamp(spark, dir,
      times.find(_._1 == 1L).get._2.toString)
    assert(atV1 == 1L || times.groupBy(_._2).exists(_._2.size > 1))
    assert(ParquetFleet.versionAtTimestamp(spark, dir,
      (times.map(_._2).max + 60000).toString) == 2L)
    val e = intercept[IllegalArgumentException] {
      ParquetFleet.versionAtTimestamp(spark, dir,
        (times.map(_._2).min - 60000).toString)
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
    assert(ParquetFleet.read(spark, dir,
      Some(ParquetFleet.versionAtTimestamp(spark, dir,
        (times.map(_._2).max + 60000).toString))).count() == 120)
  }

  test("clustered compaction restores skip-effective layout") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pqfleet_cluster")
    val dir = s"$root/t.parquet"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    // arrival-order layout: hash repartition spreads every id range
    // over every file, so nothing can prune
    ParquetFleet.overwrite(
      spark.range(100).select($"id", ($"id" * 2).as("v"))
        .repartition(4, $"id"), dir)
    val before = ParquetFleet.pruneFiles(spark, dir, manifest(dir),
      $"id" <= 10L)
    // hash layout: MOST files span the full range (an occasional
    // lucky file may still prune — the assertion below is the strict
    // improvement, not an absolute zero here)
    assert(before._1.size >= 3,
      s"hash layout should leave most files unprunable: $before")
    // a clustered compaction (no vectors — layout is the point);
    // numFiles pins the count on this tiny fixture (AQE would
    // right-size it into one file)
    ParquetFleet.compact(spark, dir, clusterBy = Seq($"id"),
      numFiles = Some(4))
    assert(manifest(dir).version == 2L)
    val after = ParquetFleet.pruneFiles(spark, dir, manifest(dir),
      $"id" <= 10L)
    assert(after._2.size > before._2.size &&
      after._1.size < before._1.size,
      s"clustered layout must prune strictly more: $before -> $after")
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L).select($"id")
      .as[Long].collect().toSet == (0L to 10L).toSet)
    assert(ParquetFleet.count(spark, dir) == 100L)
  }

  test("expire retires old generations, GCs vector directories and sidecar entries") {
    import spark.implicits._
    val dir = stage("expire")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val v1Files = manifest(dir).files.toSet
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)      // v2 (vectors)
    val v2 = manifest(dir)
    assert(v2.dvs.nonEmpty)
    ParquetFleet.compact(spark, dir)                      // v3 (dense)
    val expected = (0L until 100L).count(_ % 7 != 3).toLong
    val r = FleetCompact.expireVersions(spark, dir, keepLast = 1)
    assert(r.expiredVersions == Seq(1L, 2L), r.toString)
    // every v1/v2-only data file is gone; the dense set remains
    assert(v1Files.forall(n =>
      !fs.exists(new org.apache.hadoop.fs.Path(p, n))),
      "expired generations' data files must be unlinked")
    // vector directories GC'd recursively; empty gen dirs swept
    val dvRoot = new org.apache.hadoop.fs.Path(p, ParquetFleet.DvDir)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "expired deletion-vector directories must be unlinked")
    // the retained versions' entries name exactly the live files, each
    // with its stats, and no sidecar lies beside them
    val retained = graft.sources.FleetManifest.versions(fs, p)
      .flatMap(v => graft.sources.FleetManifest.snapshotAt(fs, p, v))
    assert(retained.flatMap(_.entries.keys).toSet == manifest(dir).files.toSet,
      s"retained entries: ${retained.map(_.entries.keySet)}")
    val stats = sidecar(dir)
    assert(stats.keySet == manifest(dir).files.toSet,
      s"every live file must carry its stats: ${stats.keySet}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p, "_stats.json")))
    // the current generation still reads, counts, and prunes
    assert(ParquetFleet.read(spark, dir).count() == expected)
    assert(ParquetFleet.count(spark, dir) == expected)
    // expired versions fail loudly
    intercept[IllegalArgumentException] {
      ParquetFleet.read(spark, dir, Some(1L)).count()
    }
  }

  test("removeOrphans sweeps strays under the grace guard, never live files") {
    import spark.implicits._
    val dir = stage("orphans")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    ParquetFleet.delete(spark, dir, $"id" === 5L)
    def plant(rel: String, asDir: Boolean): org.apache.hadoop.fs.Path = {
      val t = new org.apache.hadoop.fs.Path(p, rel)
      if (asDir) {
        fs.mkdirs(t)
        val f = fs.create(new org.apache.hadoop.fs.Path(t, "x.parquet"))
        f.close()
      } else { val f = fs.create(t); f.close() }
      fs.setTimes(t, 1000L, -1)  // ancient mtime: clears any grace
      t
    }
    val strayPart = plant("part-99999-deadbeef.parquet", asDir = false)
    val strayStaging = plant(".staging-deadbeef", asDir = true)
    val strayVec = plant(
      s"${ParquetFleet.DvDir}/gen-deadbeef/__file=ghost.parquet",
      asDir = true)
    val gone = FleetCompact.removeOrphans(spark, dir, graceMs = 60000)
    assert(gone.size == 3, s"expected exactly the three strays: $gone")
    assert(!fs.exists(strayPart) && !fs.exists(strayStaging) &&
      !fs.exists(strayVec))
    // live data files, the live vector, and the sidecar are untouched
    val expected = (0L until 100L).filter(_ != 5L).toSet
    assert(ParquetFleet.read(spark, dir).select($"id")
      .as[Long].collect().toSet == expected)
    assert(ParquetFleet.count(spark, dir) == expected.size.toLong)
    // a fresh stray inside the grace window survives
    val fresh = plant("part-88888-deadbeef.parquet", asDir = false)
    fs.setTimes(fresh, System.currentTimeMillis(), -1)
    assert(FleetCompact.removeOrphans(spark, dir, graceMs = 3600000L)
      .isEmpty)
    assert(fs.exists(fresh))
  }

  test("metadata min/max: sidecar bounds for clean files, re-scan only DV-bound files") {
    import spark.implicits._
    val dir = stage("minmax")
    assert(ParquetFleet.minMax(spark, dir, "id") ==
      (Some(0L), Some(99L)))
    // proof the clean path reads no data: truncate every data file on
    // a DV-free twin — bounds still answer
    val dir2 = stage("minmax2")
    val p2 = new org.apache.hadoop.fs.Path(dir2)
    val fs2 = p2.getFileSystem(spark.sessionState.newHadoopConf())
    manifest(dir2).files.foreach { n =>
      fs2.create(new org.apache.hadoop.fs.Path(p2, n), true).close()
    }
    assert(ParquetFleet.minMax(spark, dir2, "id") ==
      (Some(0L), Some(99L)))
    // deleting the global max forces the DV-bound file to re-scan —
    // a sidecar-only answer would be WRONG here (99 is gone)
    ParquetFleet.delete(spark, dir, $"id" === 99L)
    assert(ParquetFleet.minMax(spark, dir, "id") ==
      (Some(0L), Some(98L)))
    assert(ParquetFleet.minMax(spark, dir, "v") ==
      (Some(0L), Some(196L)))
    // time travel: the pre-delete snapshot still answers 99 (clean
    // files at v1 — pure sidecar)
    assert(ParquetFleet.minMax(spark, dir, "id", Some(1L)) ==
      (Some(0L), Some(99L)))
    // null semantics: a column that is NULL everywhere is (None, None)
    val dir3 = {
      val root = graft.util.Scratch.dir("pqfleet_minmax3")
      val d = s"$root/t.parquet"
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, true)
      ParquetFleet.overwrite(
        spark.range(50).select($"id",
          when($"id" >= 25, $"id").as("maybe"),
          lit(null).cast("long").as("void"))
          .repartitionByRange(2, $"id"), d)
      d
    }
    assert(ParquetFleet.minMax(spark, dir3, "maybe") ==
      (Some(25L), Some(49L)))
    assert(ParquetFleet.minMax(spark, dir3, "void") == (None, None))
  }

  test("writer-idempotence tokens make appends and overwrites at-most-once") {
    import spark.implicits._
    val dir = stage("txn")
    def files() = manifest(dir).files.size
    val extra = spark.range(100, 120).select($"id", ($"id" * 2).as("v"))
    assert(ParquetFleet.append(extra, dir, txn = Some(("loader", 1L))))
    assert(manifest(dir).version == 2L &&
      ParquetFleet.count(spark, dir) == 120L)
    val nFiles = files()
    // replay: planning-time NO-OP — no commit, no rows, no residue
    assert(!ParquetFleet.append(extra, dir, txn = Some(("loader", 1L))))
    assert(manifest(dir).version == 2L &&
      ParquetFleet.count(spark, dir) == 120L && files() == nFiles)
    // the ledger is a monotone max: an older token skips too
    assert(!ParquetFleet.append(extra, dir, txn = Some(("loader", 0L))))
    // the next token lands; a different appId is an independent ledger
    assert(ParquetFleet.append(
      spark.range(120, 125).select($"id", ($"id" * 2).as("v")),
      dir, txn = Some(("loader", 2L))))
    assert(ParquetFleet.append(
      spark.range(125, 130).select($"id", ($"id" * 2).as("v")),
      dir, txn = Some(("other", 1L))))
    assert(ParquetFleet.count(spark, dir) == 130L)
    // the ledger survives a token OVERWRITE (reset inherits it), so
    // an overwrite replay skips instead of double-resetting
    assert(ParquetFleet.overwrite(
      spark.range(7).select($"id", ($"id" * 2).as("v")),
      dir, txn = Some(("loader", 3L))))
    assert(!ParquetFleet.overwrite(
      spark.range(7).select($"id", ($"id" * 2).as("v")),
      dir, txn = Some(("loader", 3L))))
    assert(ParquetFleet.count(spark, dir) == 7L)
    // untokened writes stay unconditional
    assert(ParquetFleet.append(
      spark.range(7, 9).select($"id", ($"id" * 2).as("v")), dir))
    assert(ParquetFleet.count(spark, dir) == 9L)
  }

  test("streamingAppend is exactly-once across micro-batch replays and a real stream") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pqfleet_stream")
    val dir = s"$root/t.parquet"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    val sink = ParquetFleet.streamingAppend(dir, "streamA")
    sink(spark.range(10).select($"id"), 0L)
    sink(spark.range(10, 25).select($"id"), 1L)
    // the engine replays batch 1 after a crash-before-checkpoint
    sink(spark.range(10, 25).select($"id"), 1L)
    assert(ParquetFleet.count(spark, dir) == 25L,
      "a replayed micro-batch must not double its rows")
    // and through a REAL foreachBatch stream
    val fs2dir = s"$root/t2.parquet"
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](spark)
    val q = in.toDS().toDF("id").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(ParquetFleet.streamingAppend(fs2dir, "streamB"))
      .start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      in.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()
    assert(ParquetFleet.count(spark, fs2dir) == 5L)
    assert(ParquetFleet.read(spark, fs2dir).select($"id")
      .as[Long].collect().toSet == (1L to 5L).toSet)
  }

  test("schema evolution: mergeSchema adds columns, null-fills omissions, never coerces") {
    import spark.implicits._
    val dir = stage("evolve")                              // v1: (id, v)
    // a NEW column joins the declared schema; old rows null-fill
    assert(ParquetFleet.append(
      spark.range(100, 110).select($"id", ($"id" * 2).as("v"),
        concat(lit("n"), $"id".cast("string")).as("note")),
      dir, mergeSchema = true))                            // v2
    val evolved = ParquetFleet.read(spark, dir)
    assert(evolved.columns.toSeq == Seq("id", "v", "note"))
    assert(evolved.filter($"note".isNotNull).count() == 10)
    assert(evolved.filter($"id" < 100 && $"note".isNull).count() == 100)
    // an OMITTED column null-fills for the new rows
    assert(ParquetFleet.append(
      spark.range(110, 115).select($"id"), dir, mergeSchema = true)) // v3
    val omitted = ParquetFleet.read(spark, dir)
    assert(omitted.filter($"id" >= 110 && $"v".isNull &&
      $"note".isNull).count() == 5)
    assert(ParquetFleet.count(spark, dir) == 115L)
    // the STRICT default still refuses divergence loudly
    val e1 = intercept[IllegalArgumentException] {
      ParquetFleet.append(
        spark.range(3).select($"id", lit("x").as("other")), dir)
    }
    assert(e1.getMessage.contains("mergeSchema"), e1.getMessage)
    // a TYPE conflict is loud even under evolution
    val e2 = intercept[IllegalArgumentException] {
      ParquetFleet.append(
        spark.range(3).select($"id", $"id".cast("int").as("v")),
        dir, mergeSchema = true)
    }
    assert(e2.getMessage.contains("type conflict"), e2.getMessage)
    // AS OF reads resolve the as-of declaration: v1 shows two columns
    assert(ParquetFleet.read(spark, dir, Some(1L)).columns.toSeq ==
      Seq("id", "v"))
    // pruning + scan on the evolved column: pre-evolution files have
    // no sidecar entry for `note`, so they never prove a skip — and
    // the full predicate re-applies over their null-fill
    assert(ParquetFleet.scan(spark, dir, $"note" === "n105")
      .select($"id").as[Long].collect().toSeq == Seq(105L))
    assert(ParquetFleet.scan(spark, dir, $"note".isNull).count() == 105)
    // metadata minMax over the evolved column re-scans only the files
    // that might hold it
    assert(ParquetFleet.minMax(spark, dir, "note") ==
      (Some("n100"), Some("n109")))
    // MOR delete against an evolved predicate, then compact: the
    // dense generation materializes the full declared schema
    ParquetFleet.delete(spark, dir, $"note" === "n100")
    ParquetFleet.compact(spark, dir)
    val dense = ParquetFleet.read(spark, dir)
    assert(dense.columns.toSeq == Seq("id", "v", "note"))
    assert(dense.count() == 114 &&
      dense.filter($"note" === "n100").count() == 0)
  }

  test("change feed: appends, vector deltas, rebind no-ops, resurrection, rewrite netting") {
    import spark.implicits._
    val dir = stage("cdc")                                 // v1: 0..99
    ParquetFleet.append(
      spark.range(100, 120).select($"id", ($"id" * 2).as("v")), dir) // v2
    ParquetFleet.delete(spark, dir, $"id" % 10 === 3)      // v3 (MOR)
    def feed(a: Long, b: Long) =
      ParquetFleet.changes(spark, dir, a, b)
        .select($"id", $"_change_type").as[(Long, String)]
        .collect().toSet
    // append span: pure inserts
    assert(feed(1L, 2L) == (100L until 120L).map(_ -> "insert").toSet)
    // delete span: row-exact delete images from the vector delta
    assert(feed(2L, 3L) ==
      (0L until 120L).filter(_ % 10 == 3).map(_ -> "delete").toSet)
    // NET range: appended rows arrive to-visible (in-range deletes of
    // them never appear); v1 rows' deletes surface
    assert(feed(1L, 3L) ==
      ((100L until 120L).filterNot(_ % 10 == 3).map(_ -> "insert") ++
        (0L until 100L).filter(_ % 10 == 3).map(_ -> "delete")).toSet)
    // an idempotent re-delete commits an ORDINAL-IDENTICAL rebind:
    // the feed across it is EMPTY (equal sets anti-join to nothing)
    ParquetFleet.delete(spark, dir, $"id" % 10 === 3)      // v4
    assert(manifest(dir).version == 4L)
    assert(feed(3L, 4L).isEmpty,
      "an ordinal-identical rebind must contribute no changes")
    // RESURRECTION: unbind one file's vector (the restore shape) —
    // its no-longer-vectored ordinals surface as inserts
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val snap4 = manifest(dir)
    val (unboundFile, vec) = snap4.dvs.toSeq.minBy(_._1)
    graft.sources.FleetManifest.commit(fs, p,
      update = identity, bootstrap = Seq.empty,
      dvUpdate = Map(unboundFile -> None),
      requireDvs = Map(unboundFile -> Some(vec)))          // v5
    val resurrected = feed(4L, 5L)
    assert(resurrected.nonEmpty && resurrected.forall(_._2 == "insert"),
      s"an unbound vector must surface as inserts: $resurrected")
    assert(resurrected.map(_._1) ==
      spark.read.parquet(s"$dir/$unboundFile")
        .filter($"id" % 10 === 3).select($"id").as[Long].collect().toSet)
    // a COMPACTION is a file rewrite: pre+post images that a keyed
    // reconciliation nets to EXACTLY the resurrection-free no-op set
    ParquetFleet.compact(spark, dir)                       // v6
    val raw = ParquetFleet.changes(spark, dir, 5L, 6L)
    assert(raw.filter($"_change_type" === "insert").count() > 0 &&
      raw.filter($"_change_type" === "delete").count() > 0)
    assert(graft.sources.FleetCDC.reconcileKeyed(raw, Seq("id"))
      .count() == 0,
      "a compaction must net to zero keyed changes")
    // EVOLUTION-AWARE images: evolve, then feed a span crossing it —
    // images carry the to-declaration with null-filled old columns
    ParquetFleet.append(
      spark.range(200, 205).select($"id", ($"id" * 2).as("v"),
        lit("x").as("note")), dir, mergeSchema = true)     // v7
    val evolved = ParquetFleet.changes(spark, dir, 5L, 7L)
    assert(evolved.columns.toSeq == Seq("id", "v", "note", "_change_type"))
    assert(evolved.filter($"note".isNotNull).count() == 5)
  }

  test("concurrent appends all land; compaction commutes with a racing append") {
    import spark.implicits._
    val dir = stage("race2")
    // four appenders race the commit lock: every one must land (the
    // retry loop merges base ++ names against the fresh base)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until 4).map { i =>
      new Thread(() =>
        try ParquetFleet.append(
          spark.range(1000L + i * 10, 1010L + i * 10)
            .select($"id", ($"id" * 2).as("v")), dir)
        catch { case t: Throwable => errs.add(t); () })
    }
    appenders.foreach(_.start()); appenders.foreach(_.join())
    assert(errs.isEmpty, s"appends must never conflict: ${errs.peek()}")
    assert(manifest(dir).version == 5L &&
      ParquetFleet.count(spark, dir) == 140L)
    // a compaction racing one more append: both land, nothing lost —
    // compact swaps ITS inputs (requireInBase on the files it read),
    // the append's fresh file survives the swap via the re-read base
    ParquetFleet.delete(spark, dir, $"id" === 0L)
    val compactor = new Thread(() =>
      try ParquetFleet.compact(spark, dir)
      catch { case t: Throwable => errs.add(t); () })
    val appender = new Thread(() =>
      try ParquetFleet.append(
        spark.range(2000L, 2005L).select($"id", ($"id" * 2).as("v")), dir)
      catch {
        case _: graft.sources.FleetCommitConflictException => ()
        case t: Throwable => errs.add(t); ()
      })
    compactor.start(); appender.start()
    compactor.join(); appender.join()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    val got = ParquetFleet.read(spark, dir).select($"id")
      .as[Long].collect().toSet
    val expectedCore = ((1L until 100L) ++ (1000L until 1040L)).toSet
    assert(got == expectedCore ++ (2000L until 2005L) || got == expectedCore,
      s"a racing compaction must never lose rows or deletes: " +
        s"${(got -- expectedCore).toSeq.sorted}")
  }

  test("importFromAvroFleet migrates the MOR view onto the columnar tier, clustered") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pqfleet_migrate")
    val avroDir = s"$root/mig.avro"
    val pqDir = s"$root/dst.parquet"
    // an avro fleet with a merge-on-read DELETE: the migration must
    // carry the VISIBLE rows, not the raw files
    spark.range(200).select($"id", ($"id" * 3).as("v"))
      .write.format("graft-avro").mode("overwrite").save(avroDir)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.sql("DELETE FROM graft.mig WHERE id % 11 = 7")
    val v = ParquetFleet.importFromAvroFleet(spark, avroDir, pqDir,
      clusterBy = Seq($"id"), numFiles = Some(4))
    assert(v == 1L)
    val expected = (0L until 200L).filterNot(_ % 11 == 7).toSet
    assert(ParquetFleet.read(spark, pqDir).select($"id")
      .as[Long].collect().toSet == expected)
    assert(ParquetFleet.count(spark, pqDir) == expected.size.toLong)
    // clustering made the target skip-effective immediately
    val (kept, pruned) = ParquetFleet.pruneFiles(spark, pqDir,
      manifest(pqDir), $"id" <= 20L)
    assert(pruned.size >= 2, s"expected a mostly-pruned scan: $pruned")
    // the source fleet is untouched
    assert(spark.read.format("graft-avro").load(avroDir).count() ==
      expected.size.toLong)
  }

  test("NaN and infinity poison their column's footer stats, never a skip proof") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pqfleet_nan")
    val dir = s"$root/t.parquet"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    // file 1 (ids 0..49): clean doubles; file 2 (ids 50..99): one NaN
    // and one +Inf hide among ordinary values
    ParquetFleet.overwrite(
      spark.range(100).select($"id",
        when($"id" === 60, lit(Double.NaN))
          .when($"id" === 70, lit(Double.PositiveInfinity))
          .otherwise($"id".cast("double") / 10.0).as("x"))
        .repartitionByRange(2, $"id"), dir)
    val snap = manifest(dir)
    val stats = sidecar(dir)
    val byMin = snap.files.sorted
    // the clean file carries sound double bounds; the poisoned file
    // must NOT carry x-stats (parquet drops NaN-tainted min/max, and
    // the capture drops non-finite bounds) — either way, no proof
    assert(stats(byMin.head).cols.contains("x"),
      "the clean file must keep its double bounds")
    assert(!stats(byMin(1)).cols.contains("x"),
      s"the NaN/Inf file must drop its x stats: ${stats(byMin(1)).cols}")
    // a range predicate on x must never prune the poisoned file: its
    // rows include x values the absent/dropped stats cannot bound
    val (kept, _) = ParquetFleet.pruneFiles(spark, dir, snap,
      $"x" > lit(100.0))
    // Spark's SQL ordering puts NaN ABOVE every double, so both the
    // NaN and the +Inf row match — the exact rows a NaN-tainted
    // footer bound would have skipped
    val expect = ParquetFleet.read(spark, dir).filter($"x" > 100.0)
      .select($"id").as[Long].collect().toSet
    assert(expect == Set(60L, 70L), s"non-finite rows must match: $expect")
    assert(ParquetFleet.scan(spark, dir, $"x" > lit(100.0))
      .select($"id").as[Long].collect().toSet == expect,
      "the pruned scan must keep the non-finite rows reachable")
    // and the clean half still prunes on its sound column
    assert(ParquetFleet.pruneFiles(spark, dir, snap,
      $"id" <= 10L)._2.nonEmpty)
    // minMax on the poisoned column re-scans rather than trusting a
    // dropped bound; the scan-side extremum carries the non-finite
    // values under Spark's SQL ordering (NaN largest) — honest scan
    // semantics, never a stats artifact
    val (_, mx) = ParquetFleet.minMax(spark, dir, "x")
    assert(mx.exists { case d: java.lang.Double => d.isNaN || d.isInfinite
      case _ => false }, s"max must come from the re-scan: $mx")
  }

  test("tags pin a release cut by name and survive retention") {
    import spark.implicits._
    val dir = stage("tags")                                // v1: 0..99
    assert(ParquetFleet.createTag(spark, dir, "release-1") == 1L)
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)       // v2
    ParquetFleet.compact(spark, dir)                       // v3
    // address the cut by name, full content preserved
    assert(ParquetFleet.read(spark, dir,
      Some(ParquetFleet.versionOfTag(spark, dir, "release-1")))
      .count() == 100)
    // retention keeps the TAGGED generation's files even past keepLast
    val r = FleetCompact.expireVersions(spark, dir, keepLast = 1)
    assert(r.expiredVersions == Seq(2L), r.toString)
    assert(ParquetFleet.read(spark, dir,
      Some(ParquetFleet.versionOfTag(spark, dir, "release-1")))
      .select($"id").as[Long].collect().toSet ==
      (0L until 100L).toSet,
      "a tagged release cut must survive retention intact")
    assert(ParquetFleet.count(spark, dir) ==
      (0L until 100L).count(_ % 7 != 3).toLong)
    // tags are immutable; re-pointing needs an explicit drop
    intercept[IllegalArgumentException] {
      ParquetFleet.createTag(spark, dir, "release-1")
    }
    assert(ParquetFleet.dropTag(spark, dir, "release-1"))
    assert(ParquetFleet.createTag(spark, dir, "release-1") == 3L)
    intercept[IllegalArgumentException] {
      ParquetFleet.versionOfTag(spark, dir, "release-0")
    }
  }

  test("many surgical deletes: exact reads, vector scans bounded by live generations") {
    import spark.implicits._
    val dir = stage("manydel")
    // 12 surgical deletes, each its own commit + vector generation;
    // every rebind moves a file's binding to its NEWEST generation,
    // so the LIVE generation count is bounded by the touched files
    val victims = (0 until 12).map(i => i * 8 + 1L)
    victims.foreach(v =>
      ParquetFleet.delete(spark, dir, $"id" === v))
    assert(manifest(dir).version == 13L)
    val expected = (0L until 100L).toSet -- victims
    val q = ParquetFleet.read(spark, dir)
    assert(q.select($"id").as[Long].collect().toSet == expected)
    assert(ParquetFleet.count(spark, dir) == expected.size.toLong)
    // the MOR plan reads ONE scan per LIVE vector generation (≤ the
    // 4 data files), never one per delete commit — the [[dvRows]]
    // grouping the 100k-surgical-deletes posture stands on
    val liveGens = manifest(dir).dvs.values
      .map(v => v.substring(0, v.lastIndexOf('/'))).toSet
    assert(liveGens.size <= 4, s"bindings span $liveGens")
    val plan = q.queryExecution.executedPlan.toString
    val scans = "Location: InMemoryFileIndex".r.findAllIn(plan).size
    assert(scans <= 1 + liveGens.size,
      s"expected ≤ ${1 + liveGens.size} scans, plan has $scans:\n" +
        plan.linesIterator.filter(_.contains("Location:")).mkString("\n"))
    // the net change feed carries exactly the victims
    assert(ParquetFleet.changes(spark, dir, 1L, 13L)
      .select($"id", $"_change_type").as[(Long, String)]
      .collect().toSet == victims.map(_ -> "delete").toSet)
    // compaction collapses the whole history into a dense generation
    ParquetFleet.compact(spark, dir)
    assert(manifest(dir).dvs.isEmpty &&
      ParquetFleet.read(spark, dir).count() == expected.size.toLong)
  }

  test("compact refreshes stats for the dense files") {
    import spark.implicits._
    val dir = stage("compactstats")
    ParquetFleet.delete(spark, dir, $"id" % 7 === 3)
    ParquetFleet.compact(spark, dir)
    val snap = manifest(dir)
    val stats = sidecar(dir)
    assert(snap.files.forall(stats.contains),
      "dense files must carry fresh footer stats")
    assert(stats.view.filterKeys(snap.files.toSet)
      .values.map(_.rows).sum == (0L until 100L).count(_ % 7 != 3))
    // pruning works on the compacted generation
    assert(ParquetFleet.scan(spark, dir, $"id" <= 10L).count() ==
      (0L to 10L).count(_ % 7 != 3))
  }

  test("schema CAS: an evolution landing mid-append conflicts, re-merges, keeps BOTH columns") {
    import spark.implicits._
    val dir = stage("schema_cas")
    val p = new org.apache.hadoop.fs.Path(dir)
    // the racer's commit: the SchemaProp marker a concurrent
    // mergeSchema append would stamp — declared (id, v, zz)
    ParquetFleetSpec.armEvolution(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("zz",
          org.apache.spark.sql.types.LongType, nullable = true))))
    spark.udf.register("evolve_once",
      (id: Long) => { ParquetFleetSpec.landOnce(); id * 10 })
    // victim: a mergeSchema append adding column w, whose STAGING job
    // (spark.range defeats ConvertToLocalRelation's plan-time fold)
    // fires the racer strictly between the append's schema validation
    // and its manifest commit — the r20-ADVICE TOCTOU window
    ParquetFleet.append(
      spark.range(100, 110).select($"id", ($"id" * 2).as("v"),
        org.apache.spark.sql.functions.expr("evolve_once(id)").as("w")),
      dir, mergeSchema = true)
    // without the CAS the last writer's marker silently dropped zz;
    // with it the append re-validated and merged: all four columns
    val got = ParquetFleet.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v", "zz", "w"),
      got.columns.mkString(","))
    assert(got.count() == 110)
    assert(got.filter($"zz".isNotNull).count() == 0,
      "no file carries zz yet — declared-only column null-fills")
    assert(got.filter($"w".isNotNull).count() == 10,
      "the appended rows carry w; pre-evolution rows null-fill it")
  }

  test("expire's generation sweep skips an in-flight delete's _temporary dir") {
    import spark.implicits._
    val dir = stage("expire_grace")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    ParquetFleet.append(
      spark.range(100, 120).select($"id", ($"id" * 2).as("v")), dir)
    val dvRoot = new org.apache.hadoop.fs.Path(p, ParquetFleet.DvDir)
    // a racing MOR delete mid-shuffle-write: its generation dir holds
    // only the job's _temporary subtree (no __file= partitions yet)
    val inflight = new org.apache.hadoop.fs.Path(dvRoot, "gen-inflight")
    val tmpChild = new org.apache.hadoop.fs.Path(inflight,
      "_temporary/0/task/part-00000.parquet")
    fs.mkdirs(tmpChild.getParent)
    fs.create(tmpChild, true).close()
    // and a legitimately-dead generation dir: only marker FILES
    val dead = new org.apache.hadoop.fs.Path(dvRoot, "gen-dead")
    fs.mkdirs(dead)
    fs.create(new org.apache.hadoop.fs.Path(dead, "_SUCCESS"), true).close()
    FleetCompact.expireVersions(spark, dir, keepLast = 1)
    assert(fs.exists(inflight) && fs.exists(tmpChild),
      "an in-flight delete's generation dir must survive the sweep")
    assert(!fs.exists(dead),
      "a marker-only generation dir must still be swept")
  }
}

/** Once-firing hook for the schema-CAS race spec: a task-side UDF
  * lands a foreign SchemaProp commit exactly inside the append's
  * validate→commit window (the FleetChecksSpec technique). */
object ParquetFleetSpec {
  private val target =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private val marker =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private val pending =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  def armEvolution(fleet: String,
      declared: org.apache.spark.sql.types.StructType): Unit = {
    target.set(fleet)
    marker.set(graft.sources.FleetSchemaMarker.toJsonString(
      graft.sources.FleetSchemaMarker.Marker(declared, Map.empty)))
    pending.set(true)
  }

  def landOnce(): Unit = {
    if (!pending.compareAndSet(true, false)) return
    val p = new org.apache.hadoop.fs.Path(target.get())
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    graft.sources.FleetManifest.commit(fs, p, identity, Nil,
      props = Map(graft.sources.FleetManifest.SchemaProp -> marker.get()))
    ()
  }
}
