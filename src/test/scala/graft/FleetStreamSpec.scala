package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The fleet as a streaming SOURCE (AvroFleetMicroBatchStream):
  * readStream over a fleet directory — offsets are admitted-file
  * lists, restarts resume exactly, AvailableNow snapshots once. */
class FleetStreamSpec extends SparkSpec {

  private def writeGen(dir: String, lo: Long, hi: Long): Unit = {
    import spark.implicits._
    spark.range(lo, hi).select($"id", concat(lit("v"), $"id").as("v"))
      .coalesce(2)
      .write.format("graft-avro").mode("append").save(dir)
  }

  // foreachBatch sink: the memory sink cannot recover a checkpoint,
  // and resume-exactness is the point of the first test
  private def drain(dir: String, ckpt: String): Seq[Long] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-avro").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select("id").collect().map(_.getLong(0))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    got.toSeq.sorted
  }

  test("a fleet streams: AvailableNow drains it, a restart reads only new files") {
    val root = graft.util.Scratch.dir("fleet_stream")
    val dir = s"$root/src.avro"
    val ckpt = s"$root/ckpt"
    writeGen(dir, 0, 100)
    assert(drain(dir, ckpt) == (0L until 100L))
    // second generation lands; SAME checkpoint → only the new files
    writeGen(dir, 100, 150)
    val got2 = drain(dir, ckpt)
    assert(got2 == (100L until 150L),
      s"restart must resume from the offset, got ${got2.length} rows")
  }

  test("streaming read prunes columns and applies pushed filters per row") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_stream_prune")
    val dir = s"$root/src.avro"
    writeGen(dir, 0, 50)
    val q = spark.readStream.format("graft-avro").load(dir)
      .filter($"id" >= 40).select($"v")
      .writeStream.format("memory").queryName("fleet_stream_prune")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val vs = spark.table("fleet_stream_prune").collect()
      .map(_.getString(0)).sorted
    assert(vs.toSeq == (40 until 50).map(i => s"v$i").sorted)
  }

  test("offsets compact to a checkpoint manifest past the inline limit and still resume") {
    val root = graft.util.Scratch.dir("fleet_stream_manifest")
    val dir = s"$root/src.avro"
    val ckpt = s"$root/ckpt"
    writeGen(dir, 0, 30)
    writeGen(dir, 30, 60) // 4 files > inline limit of 2
    def drainWith(limit: Int): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft-avro")
        .option("offsetInlineLimit", limit.toString).load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.select("id").collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq.sorted
    }
    assert(drainWith(2) == (0L until 60L))
    // the persisted offset is a pointer, not a file list
    val off = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/offsets/0")), "UTF-8")
    assert(off.contains("\"manifest\""),
      s"expected a compacted manifest offset, got: ${off.take(300)}")
    val mdir = new java.io.File(s"$ckpt/sources/0/graft-manifests")
    assert(mdir.exists && mdir.list().exists(_.endsWith(".list")),
      s"manifest files expected under ${mdir}")
    // a restart resolves the pointer and reads only NEW files
    writeGen(dir, 60, 80)
    assert(drainWith(2) == (60L until 80L))
  }

  test("native streaming sink: epoch-keyed files, exactly-once, fleet stays readable mid-stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.util.Scratch.dir("fleet_stream_sink")
    val out = s"$root/out.avro"
    val mem = MemoryStream[Long]
    val q = mem.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("path", out)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    mem.addData(0L until 50L: _*)
    q.processAllAvailable()
    val mid = spark.read.format("graft-avro").load(out)
    assert(mid.count() == 50, "fleet must be a valid batch source mid-stream")
    mem.addData(50L until 80L: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.format("graft-avro").load(out)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 80L), s"got ${got.length} rows")
    // epoch-keyed names: each batch's files carry its epoch tag
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".avro"))
    assert(names.forall(_.matches("part-\\d{5}-[0-9a-f]{8}-e\\d+\\.avro")),
      s"epoch-keyed names expected: ${names.toSeq}")
    assert(names.map(_.replaceAll(".*-e(\\d+)\\.avro", "$1")).distinct
      .length >= 2, "two epochs expected")
    // restart with the same checkpoint: nothing re-lands (idempotence)
    val q2 = mem.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("path", out)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.format("graft-avro").load(out).count() == 80,
      "restart on a drained checkpoint must not duplicate")
  }

  test("maxFilesPerTrigger batches admission; union equals the fleet") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_stream_batched")
    val dir = s"$root/src.avro"
    writeGen(dir, 0, 40)
    writeGen(dir, 40, 80) // 4 files total (2 per generation)
    var batches = Vector.empty[(Long, Long)] // (batchId, rows)
    val q = spark.readStream.format("graft-avro")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches :+= (id, b.count())
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.length >= 4,
      s"one file per micro-batch expected, got $batches")
    assert(batches.map(_._2).sum == 80L)
  }

  test("a replayed certified epoch never doubles rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_stream_replay")
    val out = s"$root/out.avro"
    val ckpt = s"$root/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val q1 = in.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    // the manager releases the checkpoint slot asynchronously after
    // stop — the restart below must not race it
    val deadline = System.currentTimeMillis() + 30000
    while (spark.streams.active.exists(_.id == q1.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    // simulate a crash AFTER the epoch's fleet commit but BEFORE the
    // checkpoint records it: drop the commit-log entry so the engine
    // replays epoch 0 on restart — the fleet manifest already
    // certifies it, so the replay must contribute NOTHING
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    // delete through the Hadoop FS so the checksum sidecar goes too —
    // a ghost .crc makes the engine's commit-log rewrite look like a
    // concurrent writer
    val ckptFs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(ckptFs.delete(new org.apache.hadoop.fs.Path(
      s"$ckpt/commits/${last.getName}"), false))
    val q2 = in.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.format("graft-avro").load(out)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L),
      s"replayed epoch doubled or lost rows: $ids")
  }

  test("startingVersion seeds the seen set: only post-snapshot commits stream") {
    val root = graft.util.Scratch.dir("fleet_stream_startv")
    val dir = s"$root/src.avro"
    writeGen(dir, 0, 30)    // manifest v1
    writeGen(dir, 30, 50)   // manifest v2
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-avro")
      .option("startingVersion", "1").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select("id").collect().map(_.getLong(0))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.sorted == (30L until 50L),
      s"expected only the post-v1 generation, got ${got.sorted}")
    // an unknown snapshot fails loudly instead of replaying everything
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft-avro")
        .option("startingVersion", "9").load(dir)
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .option("checkpointLocation", s"$root/ckpt2")
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    assert(e.toString.contains("startingVersion") ||
      Option(e.getCause).exists(_.toString.contains("startingVersion")),
      e.toString)
  }

  private def pinMtime(dir: String, mtime: Long,
      having: String => Boolean): Unit =
    new java.io.File(dir).listFiles().foreach { f =>
      if (f.isFile && f.getName.endsWith(".avro") && having(f.getName))
        assert(f.setLastModified(mtime))
    }

  test("maxFileAge bounds the seen set; aged-out files never re-admit") {
    val root = graft.util.Scratch.dir("fleet_stream_age")
    val dir = s"$root/src.avro"
    val ckpt = s"$root/ckpt"
    val t0 = System.currentTimeMillis() - 3600000L
    writeGen(dir, 0, 30)
    pinMtime(dir, t0, _ => true)
    writeGen(dir, 30, 60)
    pinMtime(dir, t0 + 10000, n =>
      new java.io.File(dir, n).lastModified() != t0)

    def drainAged(): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft-avro")
        .option("maxFileAge", "5s").load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.select("id").collect().map(_.getLong(0))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq.sorted
    }
    // FileStreamSource's purge-after-batch ordering: every file the
    // first trigger DISCOVERS is processed in that batch — a fresh
    // checkpoint over an aged directory reads the ENTIRE backlog
    // (silently skipping the t0 generation would be data loss); the
    // watermark the trigger advances governs only FUTURE admission
    assert(drainAged() == (0L until 60L))
    val offsets = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(f => f.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = new String(java.nio.file.Files.readAllBytes(
      offsets.last.toPath), "UTF-8")
    val lastOffsetLine = last.linesIterator.toSeq.last
    assert(lastOffsetLine.contains("\"watermark\""),
      s"aged offset must carry a watermark: $lastOffsetLine")
    val t0Gen = new java.io.File(dir).listFiles().filter(f =>
      f.getName.endsWith(".avro") && f.lastModified() == t0)
    assert(t0Gen.nonEmpty)
    t0Gen.foreach { f =>
      assert(!lastOffsetLine.contains(f.getName),
        s"aged-out file ${f.getName} still pinned in the offset")
    }
    // new files admit; evicted old ones do NOT come back as duplicates
    writeGen(dir, 60, 80)
    pinMtime(dir, t0 + 12000, n => {
      val m = new java.io.File(dir, n).lastModified()
      m != t0 && m != t0 + 10000
    })
    assert(drainAged() == (60L until 80L),
      "resume must admit only the new generation — no aged re-admission")
  }

  test("change feed streams generations: appends, retires, rewrites; exact resume") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_cdc_stream")
    val dir = s"$root/src.avro"
    val ckpt = s"$root/ckpt"

    def drainCdc(ck: String, startingVersion: Option[Long] = None)
        : Seq[(String, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val r0 = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
      val r = startingVersion.fold(r0)(v =>
        r0.option("startingVersion", v.toString))
      val q = r.load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.select("_change_type", "id").collect()
            .map(r => (r.getString(0), r.getLong(1)))
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq.sortBy(x => (x._1, x._2))
    }

    writeGen(dir, 0, 40)                                       // v1
    // a fresh checkpoint starts at the CURRENT version: no backfill
    assert(drainCdc(ckpt).isEmpty)
    // APPEND generation → its rows as inserts, nothing else
    writeGen(dir, 40, 60)                                      // v2
    assert(drainCdc(ckpt) == (40L until 60L).map(("insert", _)))
    // METADATA RETIRE (the manifest-level DELETE) → deletes of
    // exactly the retired file's rows
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val victim = graft.sources.FleetManifest.current(fs, p).get.files.head
    val victimIds = spark.read.format("graft-avro")
      .load(s"$dir/$victim").select("id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(victimIds.nonEmpty)
    graft.sources.FleetManifest.commit(fs, p,
      base => base.filterNot(_ == victim), bootstrap = Seq.empty,
      requireInBase = Set(victim))                             // v3
    assert(drainCdc(ckpt) == victimIds.map(("delete", _)))
    // COW REWRITE → pre-image deletes + post-image inserts of the
    // touched files, same ids on both sides (file-granular contract)
    graft.sources.FleetMerge.mergeCow(spark, dir, "id",
      spark.range(45, 50).select($"id".as("k")),
      t => t.withColumn("v", concat($"v", lit("!"))),
      retainOld = true)                                        // v4
    val got = drainCdc(ckpt)
    val dels = got.collect { case ("delete", id) => id }
    val ins = got.collect { case ("insert", id) => id }
    assert(dels == ins,
      s"rewrite pre/post images must cover the same ids: $dels vs $ins")
    assert((45L until 50L).forall(ins.contains))
    // full-history replay (startingVersion=0) on a fresh checkpoint:
    // the endpoint diff nets to exactly the CURRENT fleet as inserts
    val replay = drainCdc(s"$root/ckpt2", startingVersion = Some(0L))
    val current = spark.read.format("graft-avro").load(dir)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(replay.forall(_._1 == "insert"))
    assert(replay.map(_._2) == current)
    // retention expiring a pending range fails the stream loudly —
    // silent skip would lose changes (stage: new commit, then break
    // the checkpointed from-version by deleting its version file)
    writeGen(dir, 60, 70)                                      // v5
    fs.delete(graft.sources.FleetManifest.versionFilePath(p, 4L), false)
    val e = intercept[Exception] { drainCdc(ckpt) }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(
        _.contains("expired by retention"))), e.toString)
  }

  test("a branch-following change feed streams staged commits; the session-conf guard stays") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_cdc_branch")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 30)                                       // main v1
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FleetManifest.createBranch(fs, p, "audit")
    s2.conf.set("spark.graft.branch", "audit")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.t WHERE id < 5")                 // branch v2

    def drainBranch(ck: String): Seq[(String, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("branch", "audit")
        .option("startingVersion", "1") // the fork base
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.select("_change_type", "id").collect()
            .map(r => (r.getString(0), r.getLong(1)))
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      got.toSeq.sortBy(x => (x._1, x._2))
    }
    // replay from the fork base: the staged MOR delete streams as the
    // branch's own generation — a MAIN feed at these offsets has
    // nothing (main is still at v1)
    assert(drainBranch(s"$root/ck_b") ==
      (0L until 5L).map(("delete", _)))
    // the explicit option works from a session whose conf also names
    // the branch (the guard asks for exactly this spelling)
    val e = intercept[Exception] {
      val q = s2.readStream.format("graft-avro")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck_guard")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(t => Option(t.getMessage).exists(
      _.contains("follows MAIN history"))), e.toString)
    // the KEYED feed resolves its head by the same rule: the same
    // guard, rather than silently streaming MAIN history
    val ek = intercept[Exception] {
      val q = s2.readStream.format("graft-avro")
        .option("readChangeFeed", "true").option("cdcKeyCols", "id")
        .load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck_guard_keyed")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(chain(ek).exists(t => Option(t.getMessage).exists(
      _.contains("follows MAIN history"))), ek.toString)
  }

  test("an MV maintained from the change stream matches FleetMV.refresh") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("fleet_cdc_mv")
    val dir = s"$root/src.avro"
    def gen(lo: Long, hi: Long): Unit = spark.range(lo, hi)
      .select(($"id" % 5).as("k"), $"id".as("x"))
      .coalesce(2).write.format("graft-avro").mode("append").save(dir)
    gen(0, 100)                                                // v1
    val viewDir = s"$root/view.avro"
    val r0 = graft.sources.FleetMV.create(spark, dir, viewDir,
      keys = Seq("k"), sumCols = Seq("x"))
    val agg = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    spark.read.format("graft-avro").load(viewDir)
      .select("k", "cnt", "sum_x").collect()
      .foreach(r => agg(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    // mutate: an append and a COW rewrite (x -> x + 1000 for 10 keys)
    gen(100, 120)                                              // v2
    graft.sources.FleetMerge.mergeCow(spark, dir, "x",
      spark.range(10, 20).select($"id".as("q")),
      t => t.withColumn("x",
        when($"x" >= 10 && $"x" < 20, $"x" + 1000).otherwise($"x")),
      retainOld = true)                                        // v3
    // maintain the rollup FROM THE STREAM: fold each batch's signed
    // delta into the stored groups (the FleetMV.refresh shape, fed by
    // readChangeFeed instead of a batch diff)
    val q = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", r0.toVersion.toString)
      .load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val sign = when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L))
        b.groupBy(col("k"))
          .agg(sum(sign).as("dc"), sum(sign * col("x")).as("dx"))
          .collect().foreach { r =>
            val (c0, x0) = agg.getOrElse(r.getLong(0), (0L, 0L))
            agg(r.getLong(0)) =
              (c0 + r.getLong(1), x0 + r.getLong(2))
          }
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = agg.toMap.filter(_._2._1 != 0L)
    // twin check: the batch incremental refresh lands the same view
    graft.sources.FleetMV.refresh(spark, dir, viewDir,
      keys = Seq("k"), sumCols = Seq("x"))
    val batch = spark.read.format("graft-avro").load(viewDir)
      .select("k", "cnt", "sum_x").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch,
      s"stream-maintained view diverged: $streamed vs $batch")
  }

  test("a vanished admitted file fails the batch by default; skip is opt-in") {
    val root = graft.util.Scratch.dir("fleet_stream_missing")
    val dir = s"$root/src.avro"
    writeGen(dir, 0, 40) // 2 files
    def run(ckpt: String, skip: Boolean,
        boom: Boolean): (Seq[Long], Option[Throwable]) = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val reader = spark.readStream.format("graft-avro")
        .option("maxFilesPerTrigger", "1")
      val q = (if (skip) reader.option("ignoreMissingFiles", "true")
               else reader).load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = b.select("id").collect().map(_.getLong(0))
          if (boom && ids.exists(_ >= 20))
            throw new RuntimeException("planted batch failure")
          got ++= ids
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      val err = try { q.awaitTermination(); None }
        catch { case e: Throwable => Some(e) }
      (got.toSeq.sorted, err)
    }
    val ckpt = s"$root/ckpt"
    // 1st run: the second file's batch is ADMITTED (offset logged)
    // but its processing fails — the admitted-unread state a crash
    // leaves behind
    val (got1, err1) = run(ckpt, skip = false, boom = true)
    assert(err1.isDefined && got1.forall(_ < 20))
    // the admitted file vanishes (an unmanaged delete racing the
    // stream): remove it from disk AND the fleet manifest
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
      .find { f =>
        val ids = spark.read.format("graft-avro")
          .load(f.getAbsolutePath).select("id")
          .collect().map(_.getLong(0))
        ids.exists(_ >= 20)
      }.get
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FleetManifest.commit(fs,
      new org.apache.hadoop.fs.Path(dir),
      base => base.filterNot(_ == victim.getName),
      bootstrap = Seq.empty)
    assert(victim.delete())
    // default: replaying the admitted batch FAILS loudly
    val (_, err2) = run(ckpt, skip = false, boom = false)
    assert(err2.isDefined &&
      err2.get.toString.contains("vanished before read") ||
      Option(err2.get.getCause).exists(
        _.toString.contains("vanished before read")),
      s"expected the missing-file error, got $err2")
    // opt-in: the batch skips the lost file and the stream completes
    val (got3, err3) = run(ckpt, skip = true, boom = false)
    assert(err3.isEmpty, s"skip mode must complete: $err3")
    assert(got3.forall(_ < 20) ,
      s"skipped file's rows must not appear: $got3")
  }

  test("single-writer fence: a second checkpoint is rejected while the lease is fresh") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = graft.util.Scratch.dir("fleet_stream_fence")
    val out = s"$root/out.avro"

    val inA = MemoryStream[Long]
    inA.addData(1L, 2L, 3L)
    val qA = inA.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", s"$root/ckptA")
      .option("path", out).start()
    qA.processAllAvailable()

    // a DIFFERENT query (fresh checkpoint) into the same fleet: its
    // first epoch must fail on the fresh lease, not interleave
    val inB = MemoryStream[Long]
    inB.addData(9L)
    val eB = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val qB = inB.toDF().select($"value".as("id"))
        .writeStream.format("graft-avro")
        .option("checkpointLocation", s"$root/ckptB")
        .option("path", out).start()
      qB.processAllAvailable()
      qB.stop()
    }
    assert(eB.toString.contains("active streaming writer") ||
      Option(eB.getCause).exists(
        _.toString.contains("active streaming writer")), eB.toString)
    qA.stop()

    // resume of the SAME checkpoint is always allowed (owner match) —
    // the same memory source continues so the checkpoint sees batch 1
    inA.addData(4L)
    val qA2 = inA.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", s"$root/ckptA")
      .option("path", out).start()
    qA2.processAllAvailable()
    qA2.stop()
    val ids = spark.read.format("graft-avro").load(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L), s"fenced fleet corrupted: $ids")

    // an expired lease IS taken over (writerLeaseMs = the acquirer's
    // staleness judgment) — and because epoch file names carry the
    // writer's checkpoint LINEAGE, the successor's epoch 0 lands
    // under its own name instead of colliding with the original
    // query's epoch-0 file: the takeover appends cleanly and the
    // original lineage's committed epochs survive untouched
    val inC = MemoryStream[Long]
    inC.addData(10L)
    val qC = inC.toDF().select($"value".as("id"))
      .writeStream.format("graft-avro")
      .option("checkpointLocation", s"$root/ckptC")
      .option("writerLeaseMs", "0")
      .option("path", out).start()
    qC.processAllAvailable()
    qC.stop()
    val finalIds = spark.read.format("graft-avro").load(out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(finalIds == Set(1L, 2L, 3L, 4L, 10L), s"corrupted: $finalIds")
    // both lineages' epoch files coexist by name construction
    val fsC = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sessionState.newHadoopConf())
    val lineages = fsC.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName)
      .collect { case n if n.matches("part-\\d{5}-[0-9a-f]{8}-e\\d+\\.avro") =>
        n.split("-")(2) }.toSet
    assert(lineages.size == 2, s"expected two lineage tags: $lineages")
  }

  test("offsets PIN deletion-vector bindings at admission; replay deterministic") {
    import spark.implicits._
    import graft.sources.{AvroFleetMicroBatchStream, AvroFileGroup, FleetDv, FleetManifest, FleetSourceOffset}
    val root = graft.util.Scratch.dir("stream_dv_pin")
    val dir = s"$root/t.avro"
    spark.range(500).select($"id", ($"id" % 7).as("k"))
      .repartition(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val pos = spark.read.format("graft-avro").load(dir)
      .select($"id", col("_sync"), col("_ridx")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dataFile = FleetManifest.current(fs, p).get.files.head
    // a vector bound BEFORE admission: the stream must pin THIS binding
    val dv1 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(pos(3L))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv1)))
    val schema = spark.read.format("graft-avro").load(dir).schema
    val hconf = new graft.util.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val stream = new AvroFleetMicroBatchStream(schema, schema.fieldNames,
      dir, 128L * 1024 * 1024, Array.empty, hconf,
      checkpointLocation = graft.util.Scratch.dir("stream_dv_pin_ckpt"))
    val init = stream.initialOffset()
    val end1 = stream.latestOffset(init,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[FleetSourceOffset]
    val pinnedPath = fs.makeQualified(
      new org.apache.hadoop.fs.Path(p, dv1)).toString
    assert(end1.dvs.values.toSeq == Seq(pinnedPath),
      s"admission must pin the current binding: ${end1.dvs}")
    // the vector GROWS after admission (a racing merge-on-read delete)
    val dv2 = FleetDv.write(fs, p, dataFile,
      FleetDv.Deleted.of(Seq(3L, 4L).map(pos)))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(dataFile -> Some(dv2)),
      requireDvs = Map(dataFile -> Some(dv1)))
    // (re)planning the LOGGED range reads under the pinned binding —
    // batch contents are a deterministic function of the offset range
    // (exactly-once replay for recovering sinks; r16 ADVICE)
    val specs = stream.planInputPartitions(init, end1)
      .collect { case g: AvroFileGroup => g.splits.flatMap(_.dv) }.flatten
    assert(specs.nonEmpty && specs.forall(_.newDv == pinnedPath),
      s"replay must plan under the admission-pinned vector: ${specs.toSeq}")
    // pins survive the offset-log round trip, inline spelling
    val back = stream.deserializeOffset(end1.json())
      .asInstanceOf[FleetSourceOffset]
    assert(back == end1 && back.dvs == end1.dvs)
    // ... and the compacted manifest-pointer spelling (tiny inline cap)
    val stream2 = new AvroFleetMicroBatchStream(schema, schema.fieldNames,
      dir, 128L * 1024 * 1024, Array.empty, hconf,
      checkpointLocation = graft.util.Scratch.dir("stream_dv_pin_ckpt2"),
      offsetInlineLimit = 0)
    val end2 = stream2.latestOffset(stream2.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[FleetSourceOffset]
    val json2 = end2.json()
    assert(json2.contains("manifest"), s"expected a pointer offset: $json2")
    val back2 = stream2.deserializeOffset(json2)
      .asInstanceOf[FleetSourceOffset]
    assert(back2 == end2 && back2.dvs == end2.dvs,
      s"pins must survive manifest compaction: ${back2.dvs} vs ${end2.dvs}")
  }

  test("keyed change-feed recipe: a large-file rewrite streams only net changes") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_keyed_stream")
    val dir = s"$root/t.avro"
    // ONE large container: a 3-row COW update rewrites all 5000 rows,
    // so the file-granular feed carries ~2x the file in survivor
    // images — the keyed reconciliation must net them to exactly the
    // 3 changed keys (r16 verdict #4)
    spark.range(5000).select($"id", ($"id" * 3).as("v"))
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val net = graft.sources.FleetCDC.reconcileKeyed(b, Seq("id"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          seen.synchronized { seen ++= net }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    drain() // fresh checkpoint starts at current — nothing pending
    assert(seen.isEmpty)
    // COW-update 3 rows (whole file rewrites)
    graft.sources.FleetMerge.mergeCow(spark, dir, "id",
      Seq(7L, 19L, 4999L).toDF("q"),
      t => t.withColumn("v",
        when($"id".isin(7L, 19L, 4999L), $"v" + 1000000L)
          .otherwise($"v")),
      retainOld = true)
    drain()
    val got = seen.synchronized(seen.toSet)
    val expect = Seq(7L, 19L, 4999L).flatMap(k => Seq(
      (k, k * 3, "update_preimage"),
      (k, k * 3 + 1000000L, "update_postimage"))).toSet
    assert(got == expect,
      s"net keyed stream must carry ONLY the changed keys: $got")
    assert(seen.size == 6, s"4997 survivors must net out: ${seen.size}")
  }

  test("option(cdcKeyCols) reconciles in-source: recipe parity on a plain sink, exact resume") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_keyed_opt")
    val dir = s"$root/t.avro"
    spark.range(5000).select($"id", ($"id" * 3).as("v"))
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    // same history as the foreachBatch recipe test: a 3-row COW update
    // rewriting the whole 5000-row container
    graft.sources.FleetMerge.mergeCow(spark, dir, "id",
      Seq(7L, 19L, 4999L).toDF("q"),
      t => t.withColumn("v",
        when($"id".isin(7L, 19L, 4999L), $"v" + 1000000L)
          .otherwise($"v")),
      retainOld = true)                                          // v2
    // the NET rows arrive already reconciled — the sink does nothing
    // but collect (no reconcileKeyed anywhere in user code)
    def drain(ck: String): Set[(Long, Long, String)] = {
      val seen = scala.collection.mutable.Set.empty[(Long, Long, String)]
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", "1")
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= b.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))) }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      seen.synchronized(seen.toSet)
    }
    // a genuinely PLAIN sink works too: one memory-sink drain on its
    // own checkpoint proves no foreachBatch is required at all
    val plainQ = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "id")
      .option("startingVersion", "1")
      .load(dir)
      .writeStream.format("memory").queryName("cdck_plain")
      .option("checkpointLocation", s"$root/ckpt_plain")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    plainQ.awaitTermination(60000)
    val plain = spark.table("cdck_plain").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = drain(s"$root/ckpt")
    assert(plain == got, s"plain sink drifted from foreachBatch: $plain")
    val expect = Seq(7L, 19L, 4999L).flatMap(k => Seq(
      (k, k * 3, "update_preimage"),
      (k, k * 3 + 1000000L, "update_postimage"))).toSet
    assert(got == expect,
      s"in-source reconciliation must match the recipe exactly: $got")
    // exact resume on the SAME checkpoint: nothing re-streams, and a
    // fresh commit drains as its own net batch (a MOR delete this
    // time — the grown-vector direction flows through too)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.t WHERE id = 42")                  // v3
    val got2 = drain(s"$root/ckpt")
    assert(got2 == Set((42L, 126L, "delete")),
      s"resume must stream only the new commit's net changes: $got2")
  }

  test("keyed feed pins its definition schema across a mid-stream evolution; a restart adopts it") {
    val root = graft.util.Scratch.dir("cdc_keyed_evolve")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 20)
    val sE = spark.newSession()
    sE.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    sE.conf.set("spark.sql.catalog.graft.root", root)
    // stream DEFINITION: the V1 sourceSchema resolves eagerly here
    val defd = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "id")
      .option("startingVersion", "0")
      .load(dir)
    assert(defd.schema.fieldNames.toSeq == Seq("id", "v", "_change_type"))
    // the fleet evolves BETWEEN definition and the first batch — the
    // known V1 eager-schema race (r18 verdict #8)
    sE.sql("ALTER TABLE graft.t ADD COLUMN note STRING")
    sE.sql("INSERT INTO graft.t VALUES (500, 'x', 'new')")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val q = defd.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // every batch must hold the DECLARED shape — a wider batch
        // would be mis-shaped against the sink's resolved schema
        assert(b.schema.fieldNames.toSeq ==
          Seq("id", "v", "_change_type"), b.schema.treeString)
        got.synchronized { got ++= b.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))) }
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = got.synchronized(got.toSeq)
    // the post-evolution row still streams — in the pinned shape
    assert(rows.map(_._1).sorted == ((0L until 20L) :+ 500L),
      s"pinned-schema batches must still carry every key: $rows")
    assert(rows.forall(_._3 == "insert"))
    assert(rows.find(_._1 == 500L).get._2 == "x")
    // a RESTART (fresh definition) re-resolves and adopts the column
    val redefined = spark.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "id")
      .load(dir)
    assert(redefined.schema.fieldNames.toSeq ==
      Seq("id", "v", "note", "_change_type"))
  }

  test("cdcApplyKeyCols sink: fleet-to-fleet replication converges across appends, updates, MOR deletes, and a restore") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_apply")
    val a = s"$root/a.avro"
    val b = s"$root/b.avro"
    spark.range(50).select($"id", ($"id" * 2).as("v"))
      .coalesce(2).write.format("graft-avro").mode("overwrite").save(a)
    val sA = spark.newSession()
    sA.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    sA.conf.set("spark.sql.catalog.graft.root", root)
    sA.conf.set("spark.graft.rowLevelMode", "merge-on-read")

    def drain(): Unit = {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", "0")
        .load(a)
        .writeStream.format("graft-avro")
        .option("cdcApplyKeyCols", "id")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(b)
      q.awaitTermination(120000)
    }
    def content(dir: String): Seq[(Long, Long)] =
      spark.read.format("graft-avro").load(dir)
        .select($"id", $"v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def versionOf(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      graft.sources.FleetManifest
        .current(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
        .get.version
    }

    // bootstrap: a FRESH target materializes the initial snapshot
    drain()
    assert(content(b) == content(a), "bootstrap drifted")
    // append + COW update (rewrites a whole container; the keyed feed
    // nets it to 2 images, the sink upserts one post-image)
    spark.range(50, 60).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("append").save(a)
    graft.sources.FleetMerge.mergeCow(spark, a, "id",
      Seq(7L).toDF("q"),
      t => t.withColumn("v",
        when($"id" === 7L, lit(999L)).otherwise($"v")),
      retainOld = true)
    drain()
    assert(content(b) == content(a), "append+update drifted")
    assert(content(b).contains((7L, 999L)))
    // MOR delete on A → delete images → vectored positions on B
    val vPreDelete = versionOf(a)
    sA.sql("DELETE FROM graft.a WHERE id IN (3, 55)")
    drain()
    assert(content(b) == content(a), "MOR delete drifted")
    assert(!content(b).map(_._1).contains(3L))
    // restore A to the pre-delete version: the feed streams the
    // resurrected rows as INSERT images, the sink re-inserts them —
    // the target follows the restore forward instead of wedging
    sA.sql(s"CALL graft.system.restore('a', $vPreDelete)")
    drain()
    assert(content(b) == content(a), "restore resurrection drifted")
    assert(content(b).map(_._1).contains(3L))
    // an empty drain applies nothing: B's manifest version holds (the
    // high-water marker also skips engine-replayed batch ids)
    val vB = versionOf(b)
    drain()
    assert(versionOf(b) == vB,
      "an empty drain must not commit to the target")
  }

  test("cdcApplyKeyCols sink: a dashed target fleet name still MERGEs (view name sanitized)") {
    // r19 ADVICE: the MERGE temp-view name was built from the raw
    // fleet name — `my-table.avro` produced an invalid identifier and
    // failed deep in the sink. The view name is now hashed.
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_apply_dash")
    val a = s"$root/src.avro"
    val b = s"$root/my-table.avro"
    spark.range(20).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(a)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", "0")
        .load(a)
        .writeStream.format("graft-avro")
        .option("cdcApplyKeyCols", "id")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(b)
      q.awaitTermination(120000)
    }
    drain() // bootstrap (no MERGE yet — fresh target)
    // a second generation forces the MERGE path against the dashed name
    spark.range(20, 25).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("append").save(a)
    drain()
    val got = spark.read.format("graft-avro").load(b)
      .select($"id").as[Long].collect().toSet
    assert(got == (0L until 25L).toSet, s"replication drifted: $got")
  }

  test("cdcApplyKeyCols sink: source schema evolution fails loudly, or auto-evolves the target under mergeSchema") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_apply_evolve")
    val a = s"$root/a.avro"
    val b = s"$root/b.avro"
    spark.range(20).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(a)
    val sA = spark.newSession()
    sA.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    sA.conf.set("spark.sql.catalog.graft.root", root)

    def drain(mergeSchema: Boolean): Option[Throwable] = {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", "0")
        .load(a)
        .writeStream.format("graft-avro")
        .option("cdcApplyKeyCols", "id")
        .option("mergeSchema", mergeSchema.toString)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(b)
      try { q.awaitTermination(120000); None }
      catch { case e: Throwable => Some(e) }
    }
    assert(drain(mergeSchema = false).isEmpty, "bootstrap must succeed")
    // the SOURCE evolves; a restarted feed definition adopts the new
    // column, so its images now carry a column the target lacks
    sA.sql("ALTER TABLE graft.a ADD COLUMN note STRING")
    sA.sql("INSERT INTO graft.a VALUES (500, 1000, 'hello')")
    val err = drain(mergeSchema = false)
    assert(err.isDefined, "a wider feed must not silently apply")
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(err.get).exists(m =>
      m.contains("mergeSchema") && m.contains("note")),
      s"error must name the missing column and the remedy: ${err.get}")
    // opting in evolves the target through the ordinary catalog ALTER
    // (nullable ADD COLUMN + versioned schema commit) and converges
    assert(drain(mergeSchema = true).isEmpty,
      "mergeSchema drain must succeed")
    def content(dir: String): Seq[(Long, Long, String)] =
      spark.read.format("graft-avro").load(dir)
        .select($"id", $"v", $"note").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).getOrElse(""))).toSeq.sorted
    assert(content(b) == content(a),
      "target must converge including the evolved column")
    assert(content(b).contains((500L, 1000L, "hello")))
  }

  test("batch change-feed range: bounded spark.read spans; loud edges") {
    val root = graft.util.Scratch.dir("cdc_batch_range")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 10)   // v1
    writeGen(dir, 10, 20)  // v2
    writeGen(dir, 20, 30)  // v3
    def rangeIds(opts: (String, String)*): Seq[Long] = {
      var r = spark.read.format("graft-avro")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(rangeIds("startingVersion" -> "0",
      "endingVersion" -> "1") == (0L until 10L))
    assert(rangeIds("startingVersion" -> "1",
      "endingVersion" -> "2") == (10L until 20L))
    // default end = the current head
    assert(rangeIds("startingVersion" -> "1") == (10L until 30L))
    // an empty span is an empty result, not an error
    assert(rangeIds("startingVersion" -> "2",
      "endingVersion" -> "2").isEmpty)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("; ")
    val e1 = intercept[Throwable] { rangeIds() }
    assert(messages(e1).contains("needs a range start"), messages(e1))
    val e2 = intercept[Throwable] { rangeIds(
      "startingVersion" -> "2", "endingVersion" -> "1") }
    assert(messages(e2).contains("inverted"), messages(e2))
    val e3 = intercept[Throwable] { rangeIds(
      "startingVersion" -> "1", "endingVersion" -> "99") }
    assert(messages(e3).contains("does not exist yet"), messages(e3))
    // endingVersion without readChangeFeed is a plain read — loud
    val e4 = intercept[Throwable] {
      spark.read.format("graft-avro").option("endingVersion", "2")
        .load(dir).collect()
    }
    assert(messages(e4).contains("readChangeFeed"), messages(e4))
    // a STREAM cannot be bounded by endingVersion
    val e5 = intercept[Throwable] {
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("endingVersion", "2")
        .load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ckpt_e5")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    assert(messages(e5).contains("BATCH change-feed range"),
      messages(e5))
    // the branch-session guard matches the streaming feed's: an
    // active branch at this fleet must not silently audit MAIN
    val sB = spark.newSession()
    sB.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    sB.conf.set("spark.sql.catalog.graft.root", root)
    sB.sql("CALL graft.system.create_branch('t', 'wip')")
    sB.conf.set("spark.graft.branch", "wip")
    val e6 = intercept[Throwable] {
      sB.read.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load(dir).collect()
    }
    assert(messages(e6).contains("spark.graft.branch"), messages(e6))
    // the explicit option IS the remedy
    assert(sB.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("branch", "wip")
      .load(dir).count() == 30L)
  }

  test("a change-feed range sizes itself from its change splits, not the fleet") {
    val root = graft.util.Scratch.dir("cdc_range_stats")
    val dir = s"$root/t.avro"
    (0 until 5).foreach(i => writeGen(dir, i * 100, (i + 1) * 100))  // v1..v5
    import spark.implicits._
    spark.range(500, 510).select($"id", concat(lit("v"), $"id").as("v"))
      .coalesce(1).write.format("graft-avro").mode("append").save(dir) // v6
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val added = graft.sources.FleetManifest.snapshotAt(fs, p, 6L).get.files
      .diff(graft.sources.FleetManifest.snapshotAt(fs, p, 5L).get.files)
    assert(added.size == 1, added.toString)
    val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(p, added.head))
      .getLen
    val df = spark.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", "5").option("endingVersion", "6")
      .load(dir)
    // every column projected: the estimate is exactly the one changed
    // file's bytes, not the 11-file fleet's
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(len))
    assert(df.count() == 10L)
  }

  test("a file-tail stream's scan reports no size once it becomes a stream") {
    val root = graft.util.Scratch.dir("tail_stats")
    val dir = s"$root/t.avro"
    (0 until 3).foreach(i => writeGen(dir, i * 100, (i + 1) * 100))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    val provider = new graft.sources.AvroFleetSource
    val scan = provider.getTable(provider.inferSchema(opts),
      Array.empty, opts)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(opts).build()
    def size() = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().sizeInBytes()
    // a batch scan prices the fleet's bytes
    assert(size().isPresent && size().getAsLong > 0L)
    // the engine prices a stream every micro-batch; the whole current
    // fleet's bytes say nothing about a batch of a few new files
    scan.toMicroBatchStream(s"$root/ckpt")
    assert(!size().isPresent, s"a tailed fleet reported ${size()}")
  }

  test("keyed batch change range: spark.read + cdcKeyCols nets per key") {
    val root = graft.util.Scratch.dir("cdc_batch_keyed")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 10)   // v1
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.t WHERE id IN (3, 7)")  // v2
    writeGen(dir, 10, 15)  // v3
    def net(from: Long, to: Option[Long]): Seq[(Long, String)] = {
      var r = spark.read.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", from.toString)
      to.foreach(v => r = r.option("endingVersion", v.toString))
      r.load(dir).select("id", "_change_type").collect()
        .map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    }
    // v1..v2: ONLY the two deletes — the MOR delete's vectored file
    // is not a rewrite; no survivor images leak through the netting
    assert(net(1L, Some(2L)) ==
      Seq((3L, "delete"), (7L, "delete")))
    // v1..head adds the v3 inserts
    assert(net(1L, None) == (Seq((3L, "delete"), (7L, "delete")) ++
      (10L until 15L).map(_ -> "insert")).sortBy(x => (x._1, x._2)))
    // parity with the programmatic twin
    val prog = graft.sources.FleetCDC.changesKeyed(spark, dir, 1L, 3L,
      Seq("id")).select("id", "_change_type").collect()
      .map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    assert(net(1L, Some(3L)) == prog)
    // a missing start is loud through the V1 relation too
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("; ")
    val e = intercept[Throwable] {
      spark.read.format("graft-avro")
        .option("readChangeFeed", "true").option("cdcKeyCols", "id")
        .load(dir).collect()
    }
    assert(messages(e).contains("needs a range start"), messages(e))
  }

  test("startingTimestamp seeds both change feeds from the commit-time index") {
    val root = graft.util.Scratch.dir("cdc_start_ts")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 10)   // v1
    writeGen(dir, 10, 20)  // v2
    writeGen(dir, 20, 30)  // v3
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FleetManifest.restampCommitTs(fs, p, 1L, 1000L)
    graft.sources.FleetManifest.restampCommitTs(fs, p, 2L, 2000L)
    graft.sources.FleetManifest.restampCommitTs(fs, p, 3L, 3000L)

    var n = 0
    def drainIds(opts: Map[String, String]): Seq[Long] = {
      n += 1
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      var r = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(dir).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized { got ++= b.select("id").collect()
            .map(_.getLong(0)) }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt$n")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      got.synchronized(got.toSeq.sorted)
    }
    // between v1 and v2: the first streamed commit is v2
    assert(drainIds(Map("startingTimestamp" -> "1500")) == (10L until 30L))
    // before the first commit: full retained history replays
    assert(drainIds(Map("startingTimestamp" -> "500")) == (0L until 30L))
    // past the newest commit: only future commits would stream
    assert(drainIds(Map("startingTimestamp" -> "99999")).isEmpty)
    // exactly AT a commit's time streams that commit (at-or-after)
    assert(drainIds(Map("startingTimestamp" -> "3000")) == (20L until 30L))
    // the keyed feed resolves the same floor
    assert(drainIds(Map("startingTimestamp" -> "1500",
      "cdcKeyCols" -> "id")) == (10L until 30L))
    // mutual exclusion and garbage fail loudly
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("; ")
    val e1 = intercept[Throwable] {
      drainIds(Map("startingTimestamp" -> "1500",
        "startingVersion" -> "1")) }
    assert(messages(e1).contains("mutually exclusive"), messages(e1))
    val e2 = intercept[Throwable] {
      drainIds(Map("startingTimestamp" -> "not-a-time")) }
    assert(messages(e2).contains("ISO-8601"), messages(e2))
  }

  test("maxVersionsPerTrigger: a file-granular backlog drains in bounded batches; exact mid-backlog crash resume") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_admission")
    val dir = s"$root/t.avro"
    // backlog of 6 committed generations: 5 appends + one MOR delete
    // spanning back into v1's rows (the dv-routing arc must survive
    // span splitting)
    writeGen(dir, 0, 10)    // v1
    writeGen(dir, 10, 20)   // v2
    writeGen(dir, 20, 30)   // v3
    writeGen(dir, 30, 40)   // v4
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.t WHERE id IN (3, 17)")            // v5
    writeGen(dir, 40, 50)   // v6

    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // (batchId-order, rows) per batch; optionally fail the Nth batch
    // this run processes — a crash mid-backlog
    def drain(failAfter: Int): (Seq[Int], Option[Throwable]) = {
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "2")
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select("_change_type", "id").collect()
            .map(r => (r.getString(0), r.getLong(1)))
          sizes.synchronized {
            if (sizes.size >= failAfter)
              throw new RuntimeException("synthetic mid-backlog crash")
            sizes += rows.length
            collected.synchronized { collected ++= rows }
          }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      val err = try { q.awaitTermination(120000); None }
      catch { case e: Throwable => Some(e) }
      (sizes.toSeq, err)
    }

    // run 1 crashes after one committed batch — mid-backlog
    val (run1, err1) = drain(failAfter = 1)
    assert(err1.isDefined, "the synthetic crash must fail the query")
    assert(run1.size == 1)
    // run 2 on the SAME checkpoint drains the remainder
    val (run2, err2) = drain(failAfter = Int.MaxValue)
    assert(err2.isEmpty, s"resume failed: $err2")
    // 6 versions / cap 2 = 3 spans minimum; the crashed batch replays
    assert(run1.size + run2.size >= 3,
      s"backlog must drain across bounded batches: $run1 then $run2")
    // each batch spans ≤ 2 generations of ≤ 10 rows (+2 delete images)
    assert((run1 ++ run2).forall(_ <= 22),
      s"a batch exceeded its 2-version bound: ${run1 ++ run2}")
    // exactness across the crash: every append streams exactly once as
    // an insert; the MOR delete's images stream exactly once
    val got = collected.synchronized(collected.toSeq)
    val inserts = got.collect { case ("insert", id) => id }.sorted
    val deletes = got.collect { case ("delete", id) => id }.sorted
    assert(inserts == (0L until 50L),
      s"inserts must cover the history exactly once: $inserts")
    assert(deletes == Seq(3L, 17L),
      s"the MOR delete images must stream exactly once: $deletes")
  }

  test("maxVersionsPerTrigger: the keyed feed steps its backlog in bounded batches; durable high-water survives a crash") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cdc_admission_keyed")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 10)    // v1
    writeGen(dir, 10, 20)   // v2
    writeGen(dir, 20, 30)   // v3
    // a COW update inside the backlog: per-batch reconciliation must
    // net it within its own span
    graft.sources.FleetMerge.mergeCow(spark, dir, "id",
      Seq(5L).toDF("q"),
      t => t.withColumn("v",
        when($"id" === 5L, lit("changed")).otherwise($"v")),
      retainOld = true)     // v4
    writeGen(dir, 30, 40)   // v5

    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def drain(failAfter: Int): (Seq[Int], Option[Throwable]) = {
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select("id", "v", "_change_type").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          sizes.synchronized {
            if (sizes.size >= failAfter)
              throw new RuntimeException("synthetic mid-backlog crash")
            sizes += rows.length
            collected.synchronized { collected ++= rows }
          }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      val err = try { q.awaitTermination(120000); None }
      catch { case e: Throwable => Some(e) }
      (sizes.toSeq, err)
    }

    val (run1, err1) = drain(failAfter = 2)
    assert(err1.isDefined && run1.size == 2)
    val (run2, err2) = drain(failAfter = Int.MaxValue)
    assert(err2.isEmpty, s"resume failed: $err2")
    // 5 versions / cap 1 = 5 spans minimum (the crashed one replays)
    assert(run1.size + run2.size >= 5,
      s"the keyed backlog must step one version per batch: " +
        s"$run1 then $run2")
    // each batch nets ONE generation: ≤ 10 append rows or the COW
    // update's 2 images (the 30-row rewritten container nets out)
    assert((run1 ++ run2).forall(_ <= 10),
      s"a keyed batch exceeded its one-version net: ${run1 ++ run2}")
    val got = collected.synchronized(collected.toSeq)
    val inserts = got.collect { case (id, _, "insert") => id }.sorted
    assert(inserts == (0L until 40L),
      s"keyed inserts must cover the history exactly once: $inserts")
    assert(got.collect { case (id, v, "update_postimage") => (id, v) } ==
      Seq((5L, "changed")),
      s"the COW update must net to one post-image: $got")
    assert(got.count(_._3 == "update_preimage") == 1)
  }

  test("maxVersionsPerTrigger bounds a restart catch-up even without startingVersion") {
    // r19 ADVICE (medium): a stream DEFINED without startingVersion
    // re-resolves its lazy initialVersion to the RESTART-time head; if
    // that enters the rate-limit floor, the first post-restart batch
    // jumps from the committed offset to head unbounded — exactly the
    // down-consumer catch-up the cap advertises bounding. The floor
    // must use initialVersion only on a FRESH checkpoint.
    val root = graft.util.Scratch.dir("cdc_admission_restart")
    val dir = s"$root/t.avro"
    writeGen(dir, 0, 10)    // v1 — the stream starts at this head
    def drain(): Seq[Int] = {
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      val q = spark.readStream.format("graft-avro")
        .option("readChangeFeed", "true")
        .option("cdcKeyCols", "id")
        // NO startingVersion: fresh checkpoint = current head
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count().toInt
          sizes.synchronized { sizes += n }
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      sizes.synchronized(sizes.toSeq)
    }
    val run1 = drain()
    assert(run1.forall(_ == 0), s"nothing precedes the head: $run1")
    // the consumer goes down; four generations land
    writeGen(dir, 10, 20)   // v2
    writeGen(dir, 20, 30)   // v3
    writeGen(dir, 30, 40)   // v4
    writeGen(dir, 40, 50)   // v5
    val run2 = drain()
    val nonEmpty = run2.filter(_ > 0)
    assert(nonEmpty.size >= 4,
      s"a 4-version backlog under cap=1 must drain in ≥4 bounded " +
        s"batches, not one unbounded catch-up: $run2")
    assert(nonEmpty.forall(_ <= 10),
      s"each batch must net at most one generation (10 rows): $run2")
    assert(nonEmpty.sum == 40, s"the backlog must drain exactly: $run2")
  }
}
