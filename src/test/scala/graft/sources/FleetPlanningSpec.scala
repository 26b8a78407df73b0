package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

/** Fleet query planning reads the cached manifest: a fleet written
  * with committed file entries plans with no data-directory listing,
  * no repeated writer-schema header read and no stats sidecar — each
  * file's stats ride its entry, from the same generation as the file
  * list; older version files without entries and externally deleted
  * files keep their behaviour, and the manifest head stays sound
  * across retention gaps. Filesystem calls are counted through
  * [[CountingFs]], bound for one session only. */
class FleetPlanningSpec extends graft.SparkSpec {

  /** A session whose `file:` scheme is [[CountingFs]], with a graft
    * catalog at `root`; active for the duration of `body`. */
  private def withCounting[T](root: String)(body: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[CountingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", root)
    SparkSession.setActiveSession(s)
    try body(s) finally SparkSession.setActiveSession(spark)
  }

  /** A catalog fleet `t` of six commits (one CREATE, five INSERTs). */
  private def seed(s: SparkSession): Unit = {
    s.sql("CREATE TABLE graft.t (k BIGINT, v STRING)")
    (0 until 5).foreach { i =>
      s.sql("INSERT INTO graft.t VALUES " + (0 until 20).map { j =>
        val k = i * 20 + j
        s"($k, 'v$k')"
      }.mkString(", "))
    }
  }

  private def lookup(s: SparkSession, k: Long): Seq[Row] =
    s.sql(s"SELECT k, v FROM graft.t WHERE k = $k").collect().toSeq

  private def localDir(p: String): String = new Path(p).toUri.getPath

  test("entries ride write-once segments and retire") {
    val dir = graft.util.Scratch.dir("planning_sizes") + "/t.avro"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    def touch(n: String, bytes: Int): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(localDir(dir), n),
        new Array[Byte](bytes)); ()
    }
    def rawSegment(s: FleetManifest.Snapshot, file: String): String = {
      val ls = s.segments.find(_.seg.files.contains(file)).get
      val in = fs.open(new Path(p, s"${FleetManifest.SegmentsRel}/${ls.name}"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    touch("a0", 3)
    // "ghost" names no file: it gets no entry
    val v1 = FleetManifest.commit(fs, p, _ => Seq("a0", "ghost"), Seq.empty)
    (2 to 20).foreach { i =>
      touch(s"f$i", i)
      FleetManifest.commit(fs, p, b => b :+ s"f$i", Seq.empty)       // ..v20
    }
    FleetManifest.commit(fs, p, b => b.filterNot(_ == "f5"), Seq.empty,
      requireInBase = Set("f5"))                                     // v21
    assert(rawSegment(v1, "a0") ==
      s"""{"files":["a0","ghost"],"entries":[{"len":3,"mtime":""" +
        s"""${v1.entries("a0").mtime}},null]}""")
    val warm = (1L to 21L).map(v => FleetManifest.snapshotAt(fs, p, v).get)
    assert(rawSegment(warm(19), "f20").contains("{\"len\":20,\"mtime\":"))
    FleetManifest.clearSnapshotCache()
    val cold = (1L to 21L).map(v => FleetManifest.snapshotAt(fs, p, v).get)
    assert(warm == cold, "entries diverged between warm and cold reads")
    val v21 = cold(20)
    assert(v21.entries.keySet == v21.files.toSet - "ghost")
    assert(v21.entries("f7").len == 7L && !v21.entries.contains("f5"))
    assert(cold(19).entries("f5").len == 5L)
    // the snapshot shares its segments' entries
    assert(v21.segments.forall(ls => ls.live.forall(n =>
      ls.seg.entries.get(n).forall(_ eq v21.entries(n)))))
    // a file without an entry sends statuses to the listing, where the
    // missing name is the planning-time error it always was
    val e = intercept[java.io.FileNotFoundException](
      FleetManifest.statuses(fs, p, v21))
    assert(e.getMessage.contains("references missing file ghost"), e.getMessage)
  }

  test("after an INSERT a lookup opens no manifest file") {
    val root = graft.util.Scratch.dir("planning_seeded")
    val mdir = localDir(s"$root/t.avro/${FleetManifest.DirName}")
    withCounting(root) { s =>
      seed(s)
      assert(lookup(s, 42L) == Seq(Row(42L, "v42")))
      s.sql("INSERT INTO graft.t VALUES (500, 'v500')")
      CountingFs.reset()
      assert(lookup(s, 500L) == Seq(Row(500L, "v500")))
      assert(CountingFs.driverOpensWhere(_.startsWith(mdir + "/")) == 0,
        s"manifest re-reads: ${CountingFs.describe()}")
    }
  }

  test("a catalog point lookup lists no data directory and opens no header after its first query") {
    val root = graft.util.Scratch.dir("planning_lookup")
    val dir = localDir(s"$root/t.avro")
    withCounting(root) { s =>
      seed(s)
      assert(lookup(s, 42L) == Seq(Row(42L, "v42")))
      CountingFs.reset()
      assert(lookup(s, 57L) == Seq(Row(57L, "v57")))
      assert(lookup(s, 500L).isEmpty)
      assert(CountingFs.listsOf(dir) == 0,
        s"data-directory listings: ${CountingFs.describe()}")
      assert(CountingFs.driverOpensWhere(_.endsWith(".avro")) == 0,
        s"driver-side data-file opens: ${CountingFs.describe()}")
      assert(CountingFs.driverOpensWhere(_.endsWith(FleetStats.FileName)) == 0,
        s"sidecar re-reads: ${CountingFs.describe()}")
    }
  }

  test("1,000 orphan avro files in the data directory leave a lookup's rows and listings unchanged") {
    val root = graft.util.Scratch.dir("planning_orphans")
    val dir = localDir(s"$root/t.avro")
    withCounting(root) { s =>
      seed(s)
      val keys = Seq(3L, 42L, 99L, 1000L)
      val before = keys.map(lookup(s, _))
      val all = s.sql("SELECT k, v FROM graft.t").collect().toSet
      // unreferenced files sorting both before and after the data
      // files, as a crashed writer or an external drop leaves them
      (0 until 1000).foreach { i =>
        val name = if (i % 2 == 0) f"a-orphan-$i%04d.avro"
          else f"z-orphan-$i%04d.avro"
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
          Array[Byte](1, 2, 3))
      }
      CountingFs.reset()
      assert(keys.map(lookup(s, _)) == before)
      assert(s.sql("SELECT k, v FROM graft.t").collect().toSet == all)
      assert(CountingFs.listsOf(dir) == 0,
        s"data-directory listings: ${CountingFs.describe()}")
    }
  }

  test("a fleet whose version files carry no sizes reads correctly with one listing") {
    val root = graft.util.Scratch.dir("planning_legacy")
    val dir = s"$root/t.avro"
    withCounting(root) { s =>
      seed(s)
      val rows = s.sql("SELECT k, v FROM graft.t").collect().toSet
      val sized = FleetView.resolve(s, dir).files
        .map(st => (st.getPath.toString, st.getLen))
      // rewrite every segment as a writer without entries left it
      val sdir = new java.io.File(localDir(dir), FleetManifest.SegmentsRel)
      val segments = sdir.listFiles().filter(_.getName.endsWith(".json"))
      assert(segments.exists(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("\"entries")), "this change's commits record entries")
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      segments.foreach { f =>
        val j = JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        val stripped = j.removeField {
          case ("entries", _) => true
          case _ => false
        }
        java.nio.file.Files.write(f.toPath, JsonMethods.compact(
          JsonMethods.render(stripped)).getBytes("UTF-8"))
      }
      FleetManifest.clearSnapshotCache()
      CountingFs.reset()
      val legacy = FleetView.resolve(s, dir).files
      assert(CountingFs.listsOf(localDir(dir)) == 1,
        s"listings: ${CountingFs.describe()}")
      assert(legacy.map(st => (st.getPath.toString, st.getLen)) == sized)
      assert(s.sql("SELECT k, v FROM graft.t").collect().toSet == rows)
      assert(lookup(s, 42L) == Seq(Row(42L, "v42")))
    }
  }

  test("an externally deleted live file fails the read with the missing-file error") {
    val root = graft.util.Scratch.dir("planning_missing")
    val dir = localDir(s"$root/t.avro")
    withCounting(root) { s =>
      seed(s)
      val snap = FleetManifest.current(
        new Path(dir).getFileSystem(s.sessionState.newHadoopConf()),
        new Path(dir)).get
      val victim = snap.files.max
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, victim))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, s".$victim.crc"))
      val e = intercept[Exception](s.sql("SELECT k, v FROM graft.t").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(s"references missing file $victim") &&
        m.contains("externally deleted")), msgs.mkString("\n"))
    }
  }

  test("a second keyed change read over an unchanged span runs no schema-peek job") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("planning_cdc") + "/t.avro"
    // past 64 files, a header peek of unseen files runs as a Spark job
    spark.range(0, 700, 1, 70).select($"id", ($"id" % 7).as("g"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    spark.range(700, 710, 1, 1).select($"id", ($"id" % 7).as("g"))
      .write.format("graft-avro").mode("append").save(dir)
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Unit): Int = {
      jobs.set(0)
      body
      Thread.sleep(500) // the listener bus is asynchronous
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // building the frame plans nothing: every job here is the peek
      val first = jobsOf(FleetCDC.changesKeyed(spark, dir, 1L, 2L, Seq("id")))
      assert(first >= 1, "the first read peeks 71 unseen headers as a job")
      val second = jobsOf(FleetCDC.changesKeyed(spark, dir, 1L, 2L, Seq("id")))
      assert(second == 0, s"$second job(s) on an unchanged span")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(FleetCDC.changesKeyed(spark, dir, 1L, 2L, Seq("id"))
      .where("_change_type = 'insert'").count() == 10L)
  }

  /** A session with a graft catalog at `root` (plain local filesystem). */
  private def catalog(root: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", root)
    s
  }

  /** The distinct data files the one V2 scan in `df` plans. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get.toBatch.planInputPartitions().toSeq.flatMap {
      case g: AvroFileGroup => g.splits.map(sp => new Path(sp.file).getName)
      case other => fail(s"unexpected partition $other")
    }.distinct

  test("a catalog point lookup and a filtered GROUP BY touch no stats sidecar") {
    val root = graft.util.Scratch.dir("planning_nosidecar")
    withCounting(root) { s =>
      seed(s)
      assert(lookup(s, 42L) == Seq(Row(42L, "v42")))
      CountingFs.reset()
      assert(lookup(s, 57L) == Seq(Row(57L, "v57")))
      val groups = s.sql(
        "SELECT v, count(*) FROM graft.t WHERE k < 50 GROUP BY v").collect()
      assert(groups.length == 50 && groups.forall(_.getLong(1) == 1L))
      val sidecar = CountingFs.callsWhere(p =>
        p.endsWith("/_stats.json") || p.contains("/_stats.d"))
      assert(sidecar == 0, s"stats sidecar calls: ${CountingFs.calls}")
    }
  }

  test("the first catalog commit into a writeDistributed directory adopts its stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val root = graft.util.Scratch.dir("planning_adopt")
    val dir = s"$root/t.avro"
    Avro.writeDistributed(spark, dir, spark.range(0, 400)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v"))
      .repartitionByRange(4, $"k").toDF())
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val legacy = FleetStats.read(fs, p)
    assert(legacy.size == 4 && FleetManifest.current(fs, p).isEmpty)
    val s = catalog(root)
    s.sql("INSERT INTO graft.t VALUES (1000, 'v1000')")
    val snap = FleetManifest.current(fs, p).get
    assert(snap.files.size == 5)
    legacy.foreach { case (n, ps) =>
      assert(snap.statsOf(n).contains(ps), s"$n lost its stats") }
    assert(!fs.exists(new Path(p, FleetStats.FileName)),
      "the adopted sidecar must go")
    // a point lookup still skips the adopted files
    val q = s.sql("SELECT k, v FROM graft.t WHERE k = 123")
    assert(q.collect().toSeq == Seq(Row(123L, "v123")))
    assert(plannedFiles(q).size == 1, plannedFiles(q).toString)
  }

  test("a versionAsOf scan skips with the as-of stats after its files were rewritten") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("planning_asof")
    val dir = s"$root/t.avro"
    spark.range(400).select(($"id" % 4).as("k"), $"id".as("x"))
      .repartition(4, $"k")
      .write.format("graft-avro").mode("overwrite").save(dir)      // v1
    catalog(root).sql("CALL graft.system.rewrite_files('t', 16777216, '')")
      .collect()                                                    // v2
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = FleetManifest.snapshotAt(fs, p, 1L).get.files.toSet
    assert(FleetManifest.current(fs, p).get.files.toSet.intersect(v1).isEmpty)
    val asOf = spark.read.format("graft-avro").option("versionAsOf", "1")
      .load(dir).filter($"k" === 2L)
    val files = plannedFiles(asOf)
    assert(files.size == 1 && v1(files.head), files.toString)
    assert(asOf.count() == 100L)
  }

  test("no stats sidecar is ever created inside a manifest fleet's directory") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("planning_nofile")
    val s = catalog(root)
    s.sql("CREATE TABLE graft.t (k BIGINT, v STRING)")
    s.sql("INSERT INTO graft.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    s.sql("INSERT INTO graft.t VALUES (4, 'd')")
    s.sql("UPDATE graft.t SET v = 'z' WHERE k = 1")
    s.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s.sql("UPDATE graft.t SET v = 'y' WHERE k = 2")
    s.sql("DELETE FROM graft.t WHERE k = 3")
    s.sql("CALL graft.system.rewrite_files('t', 16777216, '')").collect()
    s.sql("CALL graft.system.expire_versions('t', 1)").collect()
    s.sql("CALL graft.system.clone('t', 'u')").collect()
    ParquetFleet.append(spark.range(10).select($"id".as("k")),
      s"$root/p.parquet")
    val sidecars = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(f => f.getFileName.toString.startsWith("_stats"))
      .toArray.toSeq
    assert(sidecars.isEmpty, sidecars.toString)
    assert(s.sql("SELECT k, v FROM graft.u ORDER BY k").collect().toSeq ==
      Seq(Row(1L, "z"), Row(2L, "y"), Row(4L, "d")))
  }

  test("a stale head hint on a tagged version cannot fork history across a retention gap") {
    val a = new Path(graft.util.Scratch.dir("planning_gap_a") + "/t.avro")
    val fs = a.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(a)
    (1 to 10).foreach(i =>
      FleetManifest.commit(fs, a, b => b :+ s"f$i", Seq.empty))
    FleetManifest.createTag(fs, a, "keep", 5L)
    FleetCompact.expireVersions(spark, a.toString, keepLast = 2)
    assert(FleetManifest.versions(fs, a) == Seq(5L, 9L, 10L))
    // the same history as another process finds it: this JVM holds no
    // hint for the copy until one is seeded on the tagged version
    val broot = graft.util.Scratch.dir("planning_gap_b")
    val b = new Path(broot + "/t.avro")
    org.apache.hadoop.fs.FileUtil.copy(fs, a, fs, b, false,
      spark.sessionState.newHadoopConf())
    FleetManifest.noteHead(fs, new Path(b, FleetManifest.DirName), 5L)
    assert(FleetManifest.current(fs, b).get.version == 10L)
    val next = FleetManifest.commit(fs, b, f => f :+ "g", Seq.empty)
    assert(next.version == 11L)
    assert(FleetManifest.current(fs, b).get.files ==
      (1 to 10).map(i => s"f$i") :+ "g")
    // a head this JVM committed is a hint hit plus probes: no listing
    withCounting(broot) { s =>
      val cfs = b.getFileSystem(s.sessionState.newHadoopConf())
      CountingFs.reset()
      assert(FleetManifest.current(cfs, b).get.version == 11L)
      assert(CountingFs.listsOf(new Path(b, FleetManifest.DirName)
        .toUri.getPath) == 0, CountingFs.describe())
    }
  }
}

/** The sessions' local filesystem, counting `listStatus` per directory,
  * every `open` made outside an executor task thread (the driver's
  * planning reads), and every status, listing or open call per path
  * from any thread. Counters are JVM-wide: Hadoop instantiates the
  * class per `getFileSystem` call when its cache is disabled. */
class CountingFs extends LocalFileSystem(new graft.util.NioRawLocalFileSystem) {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.note(CountingFs.lists, f)
    CountingFs.note(CountingFs.calls, f)
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.note(CountingFs.calls, f)
    super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (!Thread.currentThread.getName.startsWith("Executor task launch"))
      CountingFs.note(CountingFs.opens, f)
    CountingFs.note(CountingFs.calls, f)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  private[sources] val lists = new ConcurrentHashMap[String, AtomicInteger]()
  private[sources] val opens = new ConcurrentHashMap[String, AtomicInteger]()
  private[sources] val calls = new ConcurrentHashMap[String, AtomicInteger]()

  private[sources] def note(m: ConcurrentHashMap[String, AtomicInteger],
      f: Path): Unit = {
    m.computeIfAbsent(f.toUri.getPath.stripSuffix("/"),
      _ => new AtomicInteger).incrementAndGet()
    ()
  }

  def reset(): Unit = { lists.clear(); opens.clear(); calls.clear() }

  def listsOf(dir: String): Int =
    Option(lists.get(dir.stripSuffix("/"))).fold(0)(_.get)

  def driverOpensWhere(p: String => Boolean): Int = {
    var n = 0
    opens.forEach((k, v) => if (p(k)) n += v.get)
    n
  }

  /** Status, listing and open calls on paths matching `p`. */
  def callsWhere(p: String => Boolean): Int = {
    var n = 0
    calls.forEach((k, v) => if (p(k)) n += v.get)
    n
  }

  def describe(): String = s"lists=$lists opens=$opens"
}
