package graft

import org.apache.spark.sql.functions._

/** The DSv2 fleet catalog (graft.sources.GraftCatalog): name-resolved
  * SQL over fleet directories with zero CREATE statements, plan parity
  * with the format() path, workbooks as namespaces, and the write
  * verbs (CTAS / INSERT INTO / DROP / RENAME) riding the fleet's own
  * V2 committer. */
class CatalogSpec extends SparkSpec {

  private def catSession(root: String) = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2
  }

  private def writeEventsFleet(root: String): Unit = {
    import spark.implicits._
    graft.util.Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
      .write.format("graft-avro").mode("overwrite")
      .save(s"$root/events.avro")
  }

  test("SHOW TABLES lists fleets straight from the directory — no CREATE ever ran") {
    val root = graft.util.Scratch.dir("cat_list")
    writeEventsFleet(root)
    import spark.implicits._
    graft.util.Tables.nation(spark, sfDir)
      .write.format("graft-avro").mode("overwrite")
      .save(s"$root/nation.avro")
    val s2 = catSession(root)
    val listed = s2.sql("SHOW TABLES IN graft").select($"tableName")
      .collect().map(_.getString(0)).toSet
    assert(listed == Set("events", "nation"), s"got $listed")
  }

  test("catalog SQL resolves a fleet with the same BatchScan + pushdown as format()") {
    val root = graft.util.Scratch.dir("cat_parity")
    writeEventsFleet(root)
    val s2 = catSession(root)
    // pruned projection: the catalog path must reach the connector's
    // SupportsPushDownRequiredColumns exactly like format().load()
    val viaSql = s2.sql("SELECT event_type FROM graft.events")
    val viaFmt = s2.read.format("graft-avro").load(s"$root/events.avro")
      .select(col("event_type"))
    def scanDesc(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
    }
    val sqlScan = scanDesc(viaSql)
    val fmtScan = scanDesc(viaFmt)
    assert(sqlScan.contains("graft-avro"), s"not the fleet scan:\n$sqlScan")
    assert(sqlScan.contains("ReadSchema: struct<event_type:string>") ==
      fmtScan.contains("ReadSchema: struct<event_type:string>"))
    assert(sqlScan.contains("event_type") && !sqlScan.contains("event_id"),
      s"projection must prune to event_type:\n$sqlScan")
    // and the sidecar COUNT(*) pushdown fires from SQL too
    val cnt = s2.sql("SELECT count(*) AS n FROM graft.events")
    cnt.collect()
    val cntPlan = cnt.queryExecution.executedPlan.toString
    assert(cntPlan.contains("metaAgg") || cntPlan.contains("count"),
      s"expected the pushed count scan:\n$cntPlan")
    val n = cnt.collect()(0).getLong(0)
    assert(n == graft.util.Tables.events(spark, sfDir).count())
  }

  test("a workbook is a namespace; its sheets are tables") {
    val root = graft.util.Scratch.dir("cat_wb")
    import spark.implicits._
    graft.sources.Xlsx.write(spark, s"$root/books.xlsx", Seq(
      "nations" -> graft.util.Tables.nation(spark, sfDir)
        .orderBy($"n_nationkey"),
      "regions" -> graft.util.Tables.region(spark, sfDir)
        .orderBy($"r_regionkey")))
    val s2 = catSession(root)
    val sheets = s2.sql("SHOW TABLES IN graft.books").select($"tableName")
      .collect().map(_.getString(0)).toSet
    assert(sheets == Set("nations", "regions"), s"got $sheets")
    val got = s2.sql(
      "SELECT n_name FROM graft.books.nations ORDER BY n_name")
      .collect().map(_.getString(0)).toSeq
    val want = graft.util.Tables.nation(spark, sfDir)
      .select($"n_name").orderBy($"n_name")
      .collect().map(_.getString(0)).toSeq
    assert(got == want)
  }

  test("a sheet resolves to the connector's schema; a missing one is NoSuchTable") {
    val root = graft.util.Scratch.dir("cat_wb_peek")
    import spark.implicits._
    graft.sources.Xlsx.write(spark, s"$root/books.xlsx", Seq(
      "nations" -> graft.util.Tables.nation(spark, sfDir)
        .orderBy($"n_nationkey")))
    val cat = new graft.sources.GraftCatalog
    cat.initialize("graft", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(java.util.Map.of("root", root)))
    import org.apache.spark.sql.connector.catalog.Identifier
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchTableException] {
      cat.loadTable(Identifier.of(Array("books"), "nope"))
    }
    val viaFmt = graft.sources.Xlsx.readDistributed(spark,
      s"$root/books.xlsx", "nations").schema
    assert(cat.loadTable(Identifier.of(Array("books"), "nations"))
      .schema() == viaFmt)
    assert(catSession(root).table("graft.books.nations").schema == viaFmt)
  }

  test("CTAS + INSERT INTO + RENAME + DROP go through the fleet committer") {
    val root = graft.util.Scratch.dir("cat_write")
    writeEventsFleet(root)
    val s2 = catSession(root)
    s2.sql("""CREATE TABLE graft.types AS
             |SELECT DISTINCT event_type FROM graft.events""".stripMargin)
    val nTypes = s2.sql("SELECT count(*) AS n FROM graft.types")
      .collect()(0).getLong(0)
    assert(nTypes > 0)
    s2.sql("INSERT INTO graft.types VALUES ('planted_type')")
    assert(s2.sql(
      "SELECT count(*) AS n FROM graft.types WHERE event_type = 'planted_type'")
      .collect()(0).getLong(0) == 1L)
    s2.sql("ALTER TABLE graft.types RENAME TO type_dim")
    val listed = s2.sql("SHOW TABLES IN graft").select(col("tableName"))
      .collect().map(_.getString(0)).toSet
    assert(listed.contains("type_dim") && !listed.contains("types"))
    s2.sql("DROP TABLE graft.type_dim")
    val after = s2.sql("SHOW TABLES IN graft").select(col("tableName"))
      .collect().map(_.getString(0)).toSet
    assert(!after.contains("type_dim"))
  }

  test("clustered fleets SPJ-join from pure SQL via the layout marker — no options anywhere") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_spj")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
    ev.groupBy($"shard", $"user_id")
      .agg(round(sum($"value"), 4).as("user_spend"))
      .repartition(4, $"shard").write.format("graft-avro")
      .option("clusterBy", "shard").mode("overwrite")
      .save(s"$root/per_user.avro")
    ev.groupBy($"shard")
      .agg(round(sum($"value"), 4).as("shard_total"))
      .repartition(4, $"shard").write.format("graft-avro")
      .option("clusterBy", "shard").mode("overwrite")
      .save(s"$root/per_shard.avro")
    val s2 = catSession(root)
    val joined = s2.sql(
      """SELECT /*+ MERGE(b) */ a.shard, a.user_id, a.user_spend,
        |  b.shard_total
        |FROM graft.per_user a JOIN graft.per_shard b ON a.shard = b.shard"""
        .stripMargin)
    joined.collect()
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          exchanges(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          exchanges(r.child)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          1 + e.children.map(exchanges).sum
        case other => other.children.map(exchanges).sum
      })
    assert(exchanges(joined.queryExecution.executedPlan) == 0,
      s"marker-driven SPJ must be exchange-free:\n" +
        s"${joined.queryExecution.executedPlan}")
    // and a plain overwrite CLEARS the marker: the same join re-plans
    // with shuffles, never mis-groups
    graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(8)).cast("long").as("shard"))
      .groupBy($"shard", $"user_id")
      .agg(round(sum($"value"), 4).as("user_spend"))
      .repartition(4).write.format("graft-avro")
      .mode("overwrite").save(s"$root/per_user.avro")
    val again = s2.sql(
      """SELECT /*+ MERGE(b) */ a.shard, a.user_id, a.user_spend,
        |  b.shard_total
        |FROM graft.per_user a JOIN graft.per_shard b ON a.shard = b.shard"""
        .stripMargin)
    again.collect()
    assert(exchanges(again.queryExecution.executedPlan) > 0,
      "cleared marker must fall back to shuffling")
  }

  test("TRUNCATE TABLE and INSERT OVERWRITE complete the SQL verb matrix") {
    val root = graft.util.Scratch.dir("cat_verbs")
    writeEventsFleet(root)
    val s2 = catSession(root)
    val n0 = s2.sql("SELECT count(*) AS n FROM graft.events")
      .collect()(0).getLong(0)
    assert(n0 > 0)
    // overwrite is a reset manifest commit — the old generation stays
    // on disk (and readable) until the commit swaps the list, so the
    // source MAY be the target itself: tasks read the pre-overwrite
    // snapshot while the new generation lands beside it
    s2.sql("""INSERT OVERWRITE graft.events
             |SELECT * FROM graft.events WHERE event_id % 2 = 0"""
      .stripMargin)
    val n1 = s2.sql("SELECT count(*) AS n FROM graft.events")
      .collect()(0).getLong(0)
    assert(n1 < n0 && n1 > 0, s"overwrite must replace: $n0 -> $n1")
    // the retired pre-overwrite generation still serves time travel
    val v = s2.sql("SELECT count(*) AS n FROM graft.events VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v == n0,
      s"VERSION AS OF 1 must still see the pre-overwrite fleet: $v != $n0")
    s2.sql("TRUNCATE TABLE graft.events")
    assert(s2.sql("SELECT count(*) AS n FROM graft.events")
      .collect()(0).getLong(0) == 0L)
    // still loadable post-truncate (schema-bearing container remains)
    assert(s2.table("graft.events").schema.fieldNames.nonEmpty)
  }

  test("an unknown table fails with NoSuchTable, not a crash") {
    val root = graft.util.Scratch.dir("cat_missing")
    writeEventsFleet(root)
    val s2 = catSession(root)
    val e = intercept[Exception] {
      s2.sql("SELECT * FROM graft.nope").collect()
    }
    assert(e.getMessage.toLowerCase.contains("nope"))
  }

  test("identifiers with path separators or parent refs are rejected, not resolved") {
    val root = graft.util.Scratch.dir("cat_escape")
    writeEventsFleet(root)
    val s2 = catSession(root)
    // the dangerous one: DROP recursively deletes at the computed path
    for (bad <- Seq("../outside/x", "a/b", "..")) {
      val e = intercept[Exception] {
        s2.sql(s"DROP TABLE graft.`$bad`")
      }
      assert(e.getMessage.contains("single path segments") ||
        e.getMessage.toLowerCase.contains("invalid"),
        s"'$bad' must be rejected, got: ${e.getMessage.take(120)}")
    }
  }

  test("auto grouping yields to parallelism on a fragmented clustered fleet") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_frag")
    val ev = graft.util.Tables.events(spark, sfDir)
      .select($"user_id", $"value",
        pmod($"user_id", lit(4)).cast("long").as("shard"))
    // fragmented ingest: 8 non-key tasks × up to 4 keys each → ~32
    // files over 4 keys (> 4 files/key) — AUTO grouping must lapse so
    // a plain scan keeps its parallelism: no key-grouped report, and
    // every data file planned (packed by the session's read width, not
    // collapsed to the key count)...
    ev.repartition(8).write.format("graft-avro")
      .option("clusterBy", "shard").mode("overwrite")
      .save(s"$root/frag.avro")
    val auto = spark.read.format("graft-avro").load(s"$root/frag.avro")
    val autoScan = auto.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.get
    assert(autoScan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportPartitioning].outputPartitioning()
        .isInstanceOf[org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning],
      "fragmented auto scan must not report key grouping")
    val dataFiles = graft.sources.Avro.listFleet(spark, s"$root/frag.avro")
      .map(_.getPath.toString)
    assert(dataFiles.size > 4 * 4, s"fixture not fragmented: $dataFiles")
    val planned = autoScan.toBatch.planInputPartitions().toSeq.flatMap {
      case g: graft.sources.AvroFileGroup => g.splits.map(_.file)
      case other => fail(s"unexpected partition $other")
    }
    assert(planned.sorted == dataFiles.sorted,
      "fragmented auto scan must plan every data file")
    // ...while the EXPLICIT option remains an informed override
    val explicit = spark.read.format("graft-avro")
      .option("clusterBy", "shard").load(s"$root/frag.avro")
    assert(explicit.rdd.getNumPartitions == 4)
  }

  test("ALTER TABLE ADD COLUMN null-fills old generations; RENAME resolves per file") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("catalog_alter")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.sql("CREATE TABLE graft.ev (id BIGINT, v STRING) USING avro")
    s2.sql("INSERT INTO graft.ev SELECT id, concat('a', id) AS v FROM range(0, 10)")

    // metadata-only DDL: no data file changes
    val dirPath = new org.apache.hadoop.fs.Path(s"$root/ev.avro")
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    def dataState() = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime))
      .toMap
    val before = dataState()
    s2.sql("ALTER TABLE graft.ev ADD COLUMN note STRING")
    assert(dataState() == before, "ADD COLUMN must touch no data file")

    s2.sql("INSERT INTO graft.ev SELECT id, concat('b', id), concat('n', id) " +
      "FROM range(10, 15)")
    val rows = s2.sql(
      "SELECT id, v, note FROM graft.ev ORDER BY id").collect()
    assert(rows.length == 15)
    assert(rows.take(10).forall(_.isNullAt(2)),
      "pre-ALTER generation must null-fill the added column")
    assert(rows.drop(10).forall(r => r.getString(2) == s"n${r.getLong(0)}"))

    // RENAME: both generations answer under the new name
    s2.sql("ALTER TABLE graft.ev RENAME COLUMN v TO label")
    val renamed = s2.sql(
      "SELECT id, label FROM graft.ev WHERE id IN (3, 12) ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(renamed == Map(3L -> "a3", 12L -> "b12"),
      s"alias resolution failed: $renamed")
    // a file written BETWEEN two renames physically carries the
    // INTERMEDIATE spelling — the alias chain must resolve it too,
    // not just the original physical name
    s2.sql("INSERT INTO graft.ev SELECT id, concat('m', id), NULL " +
      "FROM range(100, 103)")
    // a second rename chases the chain back through EVERY spelling
    s2.sql("ALTER TABLE graft.ev RENAME COLUMN label TO tag2")
    assert(s2.sql("SELECT tag2 FROM graft.ev WHERE id = 3")
      .head.getString(0) == "a3")
    assert(s2.sql("SELECT tag2 FROM graft.ev WHERE id = 101")
      .head.getString(0) == "m101",
      "mid-chain generation must resolve through the intermediate alias")
    // post-rename INSERT writes the new spelling; the mix still reads
    s2.sql("INSERT INTO graft.ev SELECT id, concat('c', id), NULL " +
      "FROM range(15, 18)")
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev").head.getLong(0) == 21)
    assert(s2.sql("SELECT tag2 FROM graft.ev WHERE id = 16")
      .head.getString(0) == "c16")

    // row-level verb on the ALTERed fleet: DELETE keyed on a renamed
    // column goes through the same alias-aware scan
    s2.sql("DELETE FROM graft.ev WHERE tag2 = 'a3'")
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev").head.getLong(0) == 20)

    // rejections are loud
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.ev RENAME COLUMN tag2 TO note")
    }
    // NARROWING is never a metadata operation
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.ev ALTER COLUMN id TYPE INT")
    }
    // a RETIRED spelling can never be resurrected: old files still
    // carry data under it, so a new column (or a rename) landing on
    // it would rebind their values
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.ev ADD COLUMN v STRING")
    }
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.ev RENAME COLUMN note TO label")
    }

    // the STREAMING read resolves the same alias chain as batch: a
    // pre-rename file's rows must answer under the renamed column,
    // not silently null (readStream shares the marker-resolved table)
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = s2.readStream.format("graft-avro").load(s"$root/ev.avro")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed ++= b.select("id", "tag2").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
                                     else r.getString(1)))
        ()
      }
      .option("checkpointLocation",
        graft.util.Scratch.dir("catalog_alter_stream") + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byId = streamed.toMap
    assert(byId(5L) == "a5",
      s"streaming read must resolve the alias chain: ${byId.get(5L)}")
    assert(byId(101L) == "m101",
      s"streaming read must resolve the intermediate spelling: " +
        s"${byId.get(101L)}")
  }

  // --- CALL graft.system.<proc>: the manifest layer's verb set ---

  test("CALL restore rolls a DELETE back as a NEW versioned generation") {
    val root = graft.util.Scratch.dir("cat_proc_restore")
    val s2 = catSession(root)
    s2.sql("CREATE TABLE graft.ev AS SELECT id, id * 2 AS v FROM range(100)")
    s2.sql("DELETE FROM graft.ev WHERE id >= 50")
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev").head.getLong(0) == 50)
    // CTAS = CREATE (empty container, v1) + the data write (v2);
    // DELETE's rewrite is v3
    val snaps = s2.sql("CALL graft.system.snapshots('ev')").collect()
    assert(snaps.length == 3, s"expected 3 generations, got ${snaps.toSeq}")
    assert(snaps.count(_.getAs[Boolean]("is_current")) == 1 &&
      snaps.find(_.getAs[Boolean]("is_current")).get.getLong(0) == 3L)
    val r = s2.sql("CALL graft.system.restore('ev', 2)").head
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L,
      s"restore summary: $r")
    // rollback-by-advance: full data back, history intact (v3 still
    // shows the deleted state)
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev").head.getLong(0) == 100)
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev VERSION AS OF 3")
      .head.getLong(0) == 50)
    // an unknown generation fails loudly
    intercept[Exception] { s2.sql("CALL graft.system.restore('ev', 9)") }
  }

  test("CALL expire_versions GCs only solely-expired files; restore past it fails") {
    val root = graft.util.Scratch.dir("cat_proc_expire")
    val s2 = catSession(root)
    s2.sql("CREATE TABLE graft.ev AS SELECT id, id * 3 AS v FROM range(60)")
    s2.sql("DELETE FROM graft.ev WHERE id < 10")   // v3: rewrite
    s2.sql("INSERT INTO graft.ev SELECT id, id * 3 FROM range(60, 70)") // v4
    val e = s2.sql("CALL graft.system.expire_versions('ev', 1)").head
    assert(e.getInt(0) == 3, s"expired versions: $e")
    // current read unharmed; expired generations are gone from history
    assert(s2.sql("SELECT count(*) AS n FROM graft.ev").head.getLong(0) == 60)
    assert(s2.sql("CALL graft.system.snapshots('ev')").count() == 1)
    intercept[Exception] {
      s2.sql("SELECT * FROM graft.ev VERSION AS OF 1").collect()
    }
    intercept[Exception] { s2.sql("CALL graft.system.restore('ev', 1)") }
  }

  test("CALL rewrite_files compacts in place as one manifest swap") {
    val root = graft.util.Scratch.dir("cat_proc_rewrite")
    writeEventsFleet(root)
    import spark.implicits._
    // shatter: 24 tiny shards, the streaming-sink shape
    val s2 = catSession(root)
    graft.util.Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
      .repartition(24)
      .write.format("graft-avro").mode("overwrite").save(s"$root/shards.avro")
    val before = s2.sql("SELECT count(*) AS n, round(sum(value), 4) AS s " +
      "FROM graft.shards").head
    val r = s2.sql(
      "CALL graft.system.rewrite_files('shards', 16777216, 'event_id')").head
    assert(r.getInt(0) >= 24, s"rewrote ${r.getInt(0)} files")
    // rows survive bit-exactly, and the swap left far fewer files
    val after = s2.sql("SELECT count(*) AS n, round(sum(value), 4) AS s " +
      "FROM graft.shards").head
    assert(after == before, s"$after != $before")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/shards.avro")).count { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".avro") && !n.startsWith(".") &&
        !n.startsWith("_")
    }
    // old generation retained ON DISK for time travel, so raw count is
    // old + new; the MANIFEST view must be the compacted set only
    val cur = s2.sql("CALL graft.system.snapshots('shards')")
      .where("is_current").head
    assert(cur.getInt(1) < 24, s"current generation still ${cur.getInt(1)} files")
    assert(parts > cur.getInt(1), "old generation should survive until expiry")
    // pre-rewrite version (the direct write, v1) still readable;
    // expiry then reclaims it
    assert(s2.sql(s"SELECT count(*) AS n FROM graft.shards VERSION AS OF 1")
      .head.getLong(0) == before.getLong(0))
    s2.sql("CALL graft.system.expire_versions('shards', 1)").collect()
    val partsAfter = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$root/shards.avro")).count { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".avro") && !n.startsWith(".") &&
        !n.startsWith("_")
    }
    assert(partsAfter == cur.getInt(1),
      s"expiry should leave exactly the current generation: $partsAfter")
    assert(s2.sql("SELECT count(*) AS n FROM graft.shards").head.getLong(0) ==
      before.getLong(0))
  }

  test("CALL rewrite_files preserves a clustered fleet's SPJ layout marker") {
    val root = graft.util.Scratch.dir("cat_proc_rewrite_spj")
    import spark.implicits._
    graft.util.Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
      .withColumn("shard", (col("event_id") % 8).cast("long"))
      .write.format("graft-avro").option("clusterBy", "shard")
      .mode("overwrite").save(s"$root/clu.avro")
    val s2 = catSession(root)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val dirP = new org.apache.hadoop.fs.Path(s"$root/clu.avro")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dirP, "_layout.json")))
    val before = s2.sql("SELECT round(sum(value), 4) AS s FROM graft.clu").head
    s2.sql("CALL graft.system.rewrite_files('clu', 16777216, 'shard')")
      .collect()
    // the clustered rewrite path kept the marker (and with it, the
    // optionless SQL SPJ join); a non-matching key would clear it
    assert(fs.exists(new org.apache.hadoop.fs.Path(dirP, "_layout.json")),
      "clustered rewrite must preserve _layout.json")
    assert(s2.sql("SELECT round(sum(value), 4) AS s FROM graft.clu")
      .head == before)
  }

  test("DROP COLUMN and widening ALTER COLUMN TYPE are metadata-only") {
    val root = graft.util.Scratch.dir("catalog_alter_drop")
    val s2 = catSession(root)
    s2.sql("CREATE TABLE graft.t (id INT, v STRING, x BIGINT) USING avro")
    s2.sql("""INSERT INTO graft.t
             |SELECT cast(id AS INT), concat('a', id), id * 10
             |FROM range(0, 8)""".stripMargin)
    val dirPath = new org.apache.hadoop.fs.Path(s"$root/t.avro")
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    def dataState() = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .map(st => st.getPath.getName -> st.getLen).toMap
    val before = dataState()
    s2.sql("ALTER TABLE graft.t DROP COLUMN v")
    s2.sql("ALTER TABLE graft.t ALTER COLUMN id TYPE BIGINT")
    assert(dataState() == before,
      "DROP/widen must touch no data file (O(1) DDL at any size)")
    // pre-DDL files resolve through the post-DDL schema: int ids
    // promote to long, the dropped column's bytes are skipped
    assert(s2.table("graft.t").schema.map(f =>
      f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "x" -> "bigint"))
    val rows = s2.sql("SELECT id, x FROM graft.t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 8L).map(i => (i, i * 10)))
    // post-DDL INSERT writes the new (narrower, widened) schema and
    // the generations mix cleanly
    s2.sql("INSERT INTO graft.t SELECT id, id * 10 FROM range(8, 12)")
    assert(s2.sql("SELECT sum(id) AS s FROM graft.t").head.getLong(0) ==
      (0L until 12L).sum)
    // a filter on the widened column still row-filters both
    // generations correctly
    assert(s2.sql("SELECT count(*) AS n FROM graft.t WHERE id >= 6")
      .head.getLong(0) == 6L)
    // the dropped spelling (and a drop of a renamed chain) is terminal
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.t ADD COLUMN v DOUBLE")
    }
    s2.sql("ALTER TABLE graft.t RENAME COLUMN x TO y")
    s2.sql("ALTER TABLE graft.t DROP COLUMN y")
    // both the final name and its historical spelling are retired
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.t ADD COLUMN y BIGINT")
    }
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.t ADD COLUMN x BIGINT")
    }
    // the last column may not be dropped (a fleet needs a schema)
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.t DROP COLUMN id")
    }
    // IF EXISTS tolerates a missing column; a bare drop does not
    s2.sql("ALTER TABLE graft.t DROP COLUMN IF EXISTS nope")
    intercept[Exception] {
      s2.sql("ALTER TABLE graft.t DROP COLUMN nope")
    }
  }

  test("TIMESTAMP AS OF binds to the newest generation at or before it") {
    val root = graft.util.Scratch.dir("cat_ts_asof")
    val s2 = catSession(root)
    s2.sql("CREATE TABLE graft.t AS SELECT id FROM range(10)") // v1+v2
    s2.sql("DELETE FROM graft.t WHERE id >= 5")                // v3
    // pin commit times: v1/v2 at t1, v3 at t2 (the snapshots' own
    // commit.ts props are the TIMESTAMP AS OF index)
    val t1 = 1000000000000L
    val t2 = t1 + 100000L
    val p = new org.apache.hadoop.fs.Path(s"$root/t.avro")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FleetManifest.versions(fs, p).foreach { v =>
      graft.sources.FleetManifest.restampCommitTs(fs, p, v,
        if (v <= 2) t1 else t2)
    }
    def countAt(ms: Long) = s2.sql(
      s"SELECT count(*) AS n FROM graft.t " +
        s"TIMESTAMP AS OF timestamp_millis(${ms}L)").head.getLong(0)
    assert(countAt(t1 + 50000) == 10, "between commits: the v2 snapshot")
    assert(countAt(t2 + 50000) == 5, "after the delete: the v3 snapshot")
    intercept[Exception] { countAt(t1 - 50000) } // before first commit
  }

  test("every AS OF spelling addresses the same generation") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_asof_all")
    val dir = s"$root/t.avro"
    def append(from: Long, until: Long, mode: String): Unit =
      spark.range(from, until).select($"id").repartition(1)
        .write.format("graft-avro").mode(mode).save(dir)
    append(0, 10, "overwrite")  // v1: 10 rows
    append(10, 15, "append")    // v2: 15 rows
    append(15, 22, "append")    // v3: 22 rows
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val t1 = 1000000000000L
    Seq(1L, 2L, 3L).foreach(v => graft.sources.FleetManifest
      .restampCommitTs(fs, p, v, t1 + (v - 1) * 100000L))
    val t2 = t1 + 100000L
    val s2 = catSession(root)
    s2.sql("CALL graft.system.create_tag('t', 'mid', 2)")
    def dfCount(k: String, v: String): Long =
      spark.read.format("graft-avro").option(k, v).load(dir).count()
    def sqlCount(asOf: String): Long =
      s2.sql(s"SELECT count(*) FROM graft.t $asOf").as[Long].head()
    val between = t2 + 50000L
    val spellings = Seq(
      "versionAsOf 2" -> dfCount("versionAsOf", "2"),
      "versionAsOf tag" -> dfCount("versionAsOf", "mid"),
      "timestampAsOf" -> dfCount("timestampAsOf", between.toString),
      "timestampAsOf at the commit" -> dfCount("timestampAsOf",
        java.time.Instant.ofEpochMilli(t2).toString),
      "VERSION AS OF 2" -> sqlCount("VERSION AS OF 2"),
      "VERSION AS OF tag" -> sqlCount("VERSION AS OF 'mid'"),
      "TIMESTAMP AS OF" ->
        sqlCount(s"TIMESTAMP AS OF timestamp_millis(${between}L)"))
    spellings.foreach { case (name, n) =>
      assert(n == 15L, s"$name resolved a $n-row generation, not v2") }
    // an inclusive change-feed range [v2, v2]: the startingTimestamp
    // floor (strictly before) and the endingTimestamp ceiling (at or
    // before) hit the same bounds as the version spelling
    def feed(opts: (String, String)*): Seq[Long] = {
      var r = spark.read.format("graft-avro")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(dir).select("id").as[Long].collect().toSeq.sorted
    }
    val byVersion = feed("startingVersion" -> "1", "endingVersion" -> "2")
    assert(byVersion == (10L until 15L), byVersion.toString)
    assert(feed("startingTimestamp" -> t2.toString,
      "endingTimestamp" -> between.toString) == byVersion)
    assert(feed("startingTimestamp" ->
      java.time.Instant.ofEpochMilli(t2).toString,
      "endingTimestamp" -> t2.toString) == byVersion)
  }

  test("CALL remove_orphans GCs only unreferenced files past the grace window") {
    val root = graft.util.Scratch.dir("cat_orphans")
    val s2 = catSession(root)
    s2.sql("CREATE TABLE graft.t AS SELECT id FROM range(50)")
    val dir = new java.io.File(s"$root/t.avro")
    val donor = dir.listFiles().filter(f =>
      f.getName.endsWith(".avro") && !f.getName.startsWith("_")).head
    // two strays: one stale (a crashed job's leftover), one fresh
    // (an in-flight job's task-committed file)
    val stale = new java.io.File(dir, "part-99998-deadbeef.avro")
    val fresh = new java.io.File(dir, "part-99999-cafebabe.avro")
    java.nio.file.Files.copy(donor.toPath, stale.toPath)
    java.nio.file.Files.copy(donor.toPath, fresh.toPath)
    assert(stale.setLastModified(System.currentTimeMillis() - 7200000L))
    val r = s2.sql("CALL graft.system.remove_orphans('t', 3600000)").head
    assert(r.getInt(0) == 1, s"expected exactly the stale stray: $r")
    assert(!stale.exists() && fresh.exists())
    // the live table never noticed either stray (manifest-resolved)
    assert(s2.sql("SELECT count(*) AS n FROM graft.t").head.getLong(0) == 50)
  }

  test("unknown procedures and bad namespaces fail loudly") {
    val root = graft.util.Scratch.dir("cat_proc_bad")
    val s2 = catSession(root)
    intercept[Exception] { s2.sql("CALL graft.system.vacuum('x')") }
    intercept[Exception] { s2.sql("CALL graft.nope.snapshots('x')") }
    intercept[Exception] { s2.sql("CALL graft.system.snapshots('missing')") }
    // the verb set is discoverable from SQL
    val listed = s2.sql("SHOW PROCEDURES IN graft.system")
      .collect().map(_.toString).mkString("\n")
    Seq("snapshots", "restore", "expire_versions", "rewrite_files",
      "remove_orphans", "create_tag", "drop_tag", "tags").foreach(pr =>
        assert(listed.contains(pr), s"$pr missing from:\n$listed"))
  }

  test("tags pin versions past retention; VERSION AS OF resolves names") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_tags")
    spark.range(40).select($"id", ($"id" * 2).as("v"))
      .repartition(2)
      .write.format("graft-avro").mode("overwrite").save(s"$root/t.avro")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.sql("CALL graft.system.create_tag('t', 'gold', 1)")
    // immutable: re-pointing needs drop first
    intercept[Exception] {
      s2.sql("CALL graft.system.create_tag('t', 'gold', 1)") }
    // a dangling target fails loudly
    intercept[Exception] {
      s2.sql("CALL graft.system.create_tag('t', 'nope', 99)") }
    s2.sql("DELETE FROM graft.t WHERE id < 30")          // v2 (COW)
    s2.sql("CALL graft.system.expire_versions('t', 1)")  // keeps v2 + tagged v1
    assert(s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 'gold'")
      .as[Long].head() == 40,
      "the tagged generation must survive retention")
    assert(s2.sql("SELECT count(*) FROM graft.t").as[Long].head() == 10)
    val tags = s2.sql("CALL graft.system.tags('t')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(tags == Seq("gold" -> 1L))
    // an unknown name names the available tags
    val e = intercept[Exception] {
      s2.sql("SELECT * FROM graft.t VERSION AS OF 'silver'").collect() }
    assert(e.getMessage.contains("silver") || (e.getCause != null &&
      e.getCause.getMessage.contains("silver")))
    // the DataFrame path resolves tags with the same spelling rule
    assert(spark.read.format("graft-avro")
      .option("versionAsOf", "gold").load(s"$root/t.avro")
      .count() == 40)
    intercept[Exception] {
      spark.read.format("graft-avro")
        .option("versionAsOf", "no_such_tag").load(s"$root/t.avro")
        .count() }
    // dropped tag → the version falls under normal retention
    s2.sql("CALL graft.system.drop_tag('t', 'gold')")
    s2.sql("CALL graft.system.expire_versions('t', 1)")
    intercept[Exception] {
      s2.sql("SELECT count(*) FROM graft.t VERSION AS OF 1").as[Long]
        .head() }
  }

  test("versionAsOf tags resolve through a glob; multi-fleet loads reject tags") {
    import spark.implicits._
    import graft.sources.FleetManifest
    val root = graft.util.Scratch.dir("tag_glob")
    def mk(name: String): String = {
      val d = s"$root/$name.avro"
      spark.range(10).select($"id")
        .repartition(1).write.format("graft-avro")
        .mode("overwrite").save(d)
      d
    }
    val a = mk("a")
    val b = mk("b")
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(spark.sessionState.newHadoopConf())
    FleetManifest.createTag(fs, new org.apache.hadoop.fs.Path(a),
      "base", 1L)
    // a GLOB spelling that matches exactly one fleet directory still
    // resolves the tag — the lookup runs on the matched directory,
    // not the raw load string (r16 ADVICE)
    assert(spark.read.format("graft-avro")
      .option("versionAsOf", "base").load(s"$root/a.*")
      .count() == 10)
    // a multi-directory load cannot carry ONE tag spelling (the same
    // name may pin different versions per fleet) — explicit rejection
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro")
        .option("versionAsOf", "base").load(s"$a,$b").count()
    }
    assert(e.getMessage.contains("multi-directory"), e.getMessage)
    // numeric versions keep resolving per-directory on multi-path loads
    assert(spark.read.format("graft-avro")
      .option("versionAsOf", "1").load(s"$a,$b").count() == 20)
  }

  test("write-audit-publish: a branch stages, main never sees, fast_forward publishes") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("wap")
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(s"$root/t.avro")
    def sess(): org.apache.spark.sql.SparkSession = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.root", root)
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2
    }
    val main = sess()
    val audit = sess()
    main.sql("CALL graft.system.create_branch('t', 'audit')")
    audit.conf.set("spark.graft.branch", "audit")
    // stage a cleaning DELETE on the branch
    audit.sql("DELETE FROM graft.t WHERE id < 10")
    // the audit session validates the staged state...
    assert(audit.sql("SELECT count(*) FROM graft.t").as[Long].head() == 90)
    // ...while main readers never see an intermediate
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 100)
    assert(spark.read.format("graft-avro").load(s"$root/t.avro")
      .count() == 100)
    // staged-but-unpublished files are LIVE: neither the orphan sweep
    // nor retention may reap a branch generation's files
    main.sql("CALL graft.system.remove_orphans('t', 0L)")
    graft.sources.FleetCompact.expireVersions(main, s"$root/t.avro",
      keepLast = 1)
    assert(audit.sql("SELECT count(*) FROM graft.t").as[Long].head() == 90,
      "GC reaped a staged branch generation")
    // publish: strict fast-forward adopts the staged generations
    main.sql("CALL graft.system.fast_forward('t', 'audit')")
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 90)
    assert(main.sql("SELECT min(id) FROM graft.t").as[Long].head() == 10L)
    // the branch retired with the publish
    assert(main.sql("CALL graft.system.branches('t')").count() == 0)
    // the audit session (conf still set) falls through to main now
    assert(audit.sql("SELECT count(*) FROM graft.t").as[Long].head() == 90)
  }

  test("option(\"branch\") addresses a fork per-read: main vs branch in one job, no conf flip") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("branch_read")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    val audit = spark.newSession()
    audit.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    audit.conf.set("spark.sql.catalog.graft.root", root)
    audit.conf.set("spark.graft.branch", "audit")
    main.sql("CALL graft.system.create_branch('t', 'audit')")
    audit.sql("DELETE FROM graft.t WHERE id < 10")
    // ONE session, ONE job: the anti-join of main against the branch
    // is exactly the staged delete — no spark.graft.branch flip, no
    // second session (the r17 audit recipe needed both)
    val mainDf = spark.read.format("graft-avro").load(fleet)
    val branchDf = spark.read.format("graft-avro")
      .option("branch", "audit").load(fleet)
    assert(branchDf.count() == 90 && mainDf.count() == 100)
    val staged = mainDf.join(branchDf, Seq("id"), "left_anti")
      .select($"id").as[Long].collect().toSet
    assert(staged == (0L until 10L).toSet, staged.toString)
    // a fresh fork with no own commits reads the fork-point state
    main.sql("CALL graft.system.create_branch('t', 'empty')")
    assert(spark.read.format("graft-avro").option("branch", "empty")
      .load(fleet).count() == 100)
    // loud misses: unknown branch, and branch × versionAsOf
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").option("branch", "nope")
        .load(fleet).count()
    }
    assert(e1.getMessage.contains("no branch 'nope'"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").option("branch", "audit")
        .option("versionAsOf", 1).load(fleet).count()
    }
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
    // an aggregate over a branch read stays exact — and since r19 it
    // rides the metadata tier (a branch HEAD is just a snapshot)
    assert(spark.read.format("graft-avro").option("branch", "audit")
      .load(fleet).agg(min($"id")).as[Long].head() == 10L)
    main.sql("CALL graft.system.drop_branch('t', 'empty')")
    main.sql("CALL graft.system.drop_branch('t', 'audit')")
  }

  test("aggregate tiers stand on branch reads: audit COUNT/MIN/MAX plan zero-task, vectored branches correct") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("branch_agg")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(2, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    val audit = spark.newSession()
    audit.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    audit.conf.set("spark.sql.catalog.graft.root", root)
    audit.conf.set("spark.graft.branch", "audit")
    audit.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    main.sql("CALL graft.system.create_branch('t', 'audit')")
    // stage a MOR delete on the branch: binding + DvMeta live ONLY in
    // branch staging — the audit-shaped COUNT must correct from THEM
    audit.sql("DELETE FROM graft.t WHERE id >= 40 AND id < 50")
    val branchAgg = spark.read.format("graft-avro")
      .option("branch", "audit").load(fleet)
      .agg(count(lit(1)).as("cnt"), min($"id").as("mn"),
        max($"id").as("mx"))
    val plan = branchAgg.queryExecution.executedPlan.toString
    // the metadata tier answers the audit pass driver-side: the
    // deleted band is strictly interior, captured stats prove both
    // extrema live, and the count corrects by the branch binding
    assert(plan.contains("PushedAggregation(metadata)"),
      s"branch aggregates must ride the metadata tier:\n$plan")
    val r = branchAgg.head()
    assert(r.getLong(0) == 90L && r.getLong(1) == 0L &&
      r.getLong(2) == 99L, r.toString)
    // main is untouched by the staged delete — and still tiered
    val mainAgg = spark.read.format("graft-avro").load(fleet)
      .agg(count(lit(1)).as("cnt"))
    assert(mainAgg.queryExecution.executedPlan.toString
      .contains("PushedAggregation"), "main tier must not regress")
    assert(mainAgg.head().getLong(0) == 100L)
    // deleting a branch extremum declines the branch tier (the same
    // stand/decline boundary as main), row path exact
    audit.sql("DELETE FROM graft.t WHERE id = 99")
    val q2 = spark.read.format("graft-avro")
      .option("branch", "audit").load(fleet).agg(max($"id"))
    assert(!q2.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "a provably-deleted branch extremum must decline")
    assert(q2.as[Long].head() == 98L)
    main.sql("CALL graft.system.drop_branch('t', 'audit')")
  }

  test("CALL clone: independent hard-linked copy carrying vectors, schema, and checks") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("clone_proc")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(2, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    // a vectored source: the clone must carry binding + meta
    s2.sql("DELETE FROM graft.t WHERE id >= 10 AND id < 20")
    s2.sql("CALL graft.system.add_check('t', 'nonneg', 'id >= 0')")
      .collect()
    val r = s2.sql("CALL graft.system.clone('t', 'u')").head
    assert(r.getString(0) == "u" && r.getBoolean(2),
      s"local clone must hard-link: $r")
    def ids(t: String) = s2.sql(s"SELECT id FROM graft.$t")
      .as[Long].collect().sorted.toSeq
    assert(ids("u") == ids("t"), "clone must equal the source")
    assert(!ids("u").contains(15L), "the vector must carry")
    // the clone's COUNT stays on the metadata tier (dvMeta carried)
    val cnt = s2.sql("SELECT count(*) AS c FROM graft.u")
    assert(cnt.as[Long].head() == 90L)
    // INDEPENDENCE: mutate each side; the other must not move
    s2.sql("DELETE FROM graft.u WHERE id = 0")
    assert(ids("t").contains(0L), "clone mutation leaked to source")
    s2.sql("DELETE FROM graft.t WHERE id = 99")
    assert(ids("u").contains(99L), "source mutation leaked to clone")
    // checks carried: a violating write to the clone fails
    val e = intercept[Throwable] {
      Seq((-5L, 1L)).toDF("id", "v")
        .write.format("graft-avro").mode("append").save(s"$root/u.avro")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("nonneg"))))
    // an existing target refuses
    val e2 = intercept[Throwable] {
      s2.sql("CALL graft.system.clone('t', 'u')").collect()
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(
        _.contains("already exists"))))
    // CHAINED bindings: a chain node references its parent vectors
    // inside the JSON — they must travel with the clone or its reads
    // would tear
    s2.conf.set("spark.graft.dv.coalesceBudget", "1")
    s2.sql("DELETE FROM graft.t WHERE id IN (30, 31)")
    s2.sql("DELETE FROM graft.t WHERE id IN (32, 33)")
    s2.sql("CALL graft.system.clone('t', 'w')").collect()
    assert(ids("w") == ids("t"),
      "a chained clone must read identically to its source")
    assert(!ids("w").exists(Set(30L, 31L, 32L, 33L)))
  }

  test("CALL clone carries the source's manifest stats for its files") {
    import spark.implicits._
    import graft.sources.FleetManifest
    val root = graft.util.Scratch.dir("clone_stats")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(2, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val s2 = catSession(root)
    val before = FleetManifest.current(fs, p).get.files.toSet
    s2.sql("INSERT INTO graft.t VALUES (500, 1000)")
    val inserted = FleetManifest.current(fs, p).get.files.toSet -- before
    assert(inserted.size == 1, inserted.toString)
    val source = FleetStatsKit.committedStats(spark, fleet)
    assert(source.contains(inserted.head))
    s2.sql("CALL graft.system.clone('t', 'u')").collect()
    val up = s"$root/u.avro"
    val cloned = FleetStatsKit.committedStats(spark, up)
    assert(cloned == source,
      s"the clone's v1 must carry the source's stats: ${cloned.keySet}")
    assert(cloned.keySet == FleetManifest.current(fs,
      new org.apache.hadoop.fs.Path(up)).get.files.toSet,
      s"the clone's entries must name exactly its files: ${cloned.keySet}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(up, "_stats.json")))
    assert(s2.sql("SELECT count(*) FROM graft.u WHERE id = 500")
      .as[Long].head() == 1L)
  }

  test("retention on a merge-on-read fleet retires the stats entries of every file it deletes") {
    import spark.implicits._
    import graft.sources.FleetManifest
    val root = graft.util.Scratch.dir("retire_stats")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(4, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val s2 = catSession(root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("INSERT INTO graft.t VALUES (500, 1000), (501, 1002)")
    s2.sql("UPDATE graft.t SET v = v + 1 WHERE id < 10")
    s2.sql("DELETE FROM graft.t WHERE id >= 90 AND id < 95")
    s2.sql("CALL graft.system.rewrite_files('t', 1048576, '')").collect()
    s2.sql("INSERT INTO graft.t VALUES (502, 1004)")
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def snaps = FleetManifest.versions(fs, p).map(v =>
      FleetManifest.snapshotAt(fs, p, v).get)
    val allFiles = snaps.flatMap(_.files).toSet
    val r = s2.sql("CALL graft.system.expire_versions('t', 2)").head
    assert(r.getInt(0) > 0 && r.getInt(1) > 0, s"nothing expired: $r")
    val retained = snaps.flatMap(_.files).toSet
    assert(retained.size < allFiles.size)
    // a file's stats live in the entries of the versions that list it,
    // so they retire with those versions: the retained entries name
    // exactly the retained files, each with stats
    def withStats = snaps.flatMap(sn =>
      sn.files.filter(sn.statsOf(_).isDefined)).toSet
    assert(withStats == retained,
      s"entries with stats $withStats vs retained $retained")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p, "_stats.json")))
    // an orphan sweep deletes a stale stray and leaves the entries
    val donor = retained.head
    val stray = new java.io.File(s"$fleet/part-99998-deadbeef.avro")
    java.nio.file.Files.copy(new java.io.File(s"$fleet/$donor").toPath,
      stray.toPath)
    assert(stray.setLastModified(System.currentTimeMillis() - 7200000L))
    val gone = s2.sql("CALL graft.system.remove_orphans('t', 3600000)").head
    assert(gone.getInt(0) == 1, s"expected exactly the stale stray: $gone")
    assert(!stray.exists())
    assert(withStats == retained)
    assert(s2.sql("SELECT count(*) FROM graft.t").as[Long].head() == 98L)
  }

  test("CALL files audits the current generation with zero data I/O") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("files_proc")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(2, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.t WHERE id >= 10 AND id < 20")
    val rows = s2.sql("CALL graft.system.files('t')").collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows.forall(_.getLong(1) > 0L), "bytes must be real")
    assert(rows.map(_.getLong(2)).sum == 100L,
      "sidecar rows must sum to the written total")
    val vectored = rows.filter(!_.isNullAt(3))
    assert(vectored.length == 1, "exactly one file took the delete")
    assert(vectored.head.getLong(4) == 10L,
      "deleted_rows must be the exact manifest-meta count")
  }

  test("COUNT(*) keeps its metadata tier on an evolved fleet; column tiers still decline") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("evolve_count")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(2, $"id").write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    main.sql("ALTER TABLE graft.t ADD COLUMN note STRING")
    main.sql("INSERT INTO graft.t VALUES (500, 7, 'x')")
    // COUNT(*) is column-independent: sidecar/block counts are exact
    // regardless of writer schema, so the tier stands post-ALTER —
    // the audit query every just-evolved table gets
    val cnt = main.sql("SELECT count(*) AS cnt FROM graft.t")
    assert(cnt.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      s"evolved COUNT(*) must keep its tier:\n${cnt.queryExecution
        .executedPlan}")
    assert(cnt.as[Long].head() == 101L)
    // column-dependent tiers stay declined (carriers vary per
    // generation; the row path null-fills and widens per file)
    val mn = main.sql("SELECT min(v) AS mn FROM graft.t")
    assert(!mn.queryExecution.executedPlan.toString
      .contains("PushedAggregation"),
      "a column aggregate on an evolved fleet must take the row path")
    assert(mn.as[Long].head() == 0L)
  }

  test("VERSION AS OF resolves the declared schema AS OF the generation; a dropped column resurfaces in history") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("schema_versions")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(fleet)                              // v1
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    main.sql("ALTER TABLE graft.t ADD COLUMN note STRING")        // v2
    main.sql("INSERT INTO graft.t VALUES (300, 5, 'x')")          // v3
    main.sql("ALTER TABLE graft.t DROP COLUMN v")                 // v4
    // current: the post-DROP shape
    assert(main.table("graft.t").columns.toSeq == Seq("id", "note"))
    // v3: the mid-evolution shape — the DROPPED column resurfaces
    // with its data, the added column null-fills pre-ALTER files
    val at3 = main.sql("SELECT * FROM graft.t VERSION AS OF 3")
    assert(at3.columns.toSeq == Seq("id", "v", "note"),
      s"v3 must resolve its own declared schema: ${at3.columns.toSeq}")
    val r300 = at3.filter($"id" === 300).head
    assert(r300.getLong(1) == 5L && r300.getString(2) == "x")
    assert(at3.filter($"id" === 7).head.getLong(1) == 14L)
    assert(at3.filter($"id" === 7).head.isNullAt(2))
    // v2 (the ADD's own schema commit): same shape, no inserted row
    val at2 = main.sql("SELECT * FROM graft.t VERSION AS OF 2")
    assert(at2.columns.toSeq == Seq("id", "v", "note") &&
      at2.count() == 100)
    // the format() spelling resolves identically
    val f3 = spark.read.format("graft-avro")
      .option("versionAsOf", "3").load(fleet)
    assert(f3.columns.toSeq == Seq("id", "v", "note"))
    assert(f3.count() == 101)
    // an INSERT OVERWRITE clears the declared schema going forward;
    // pre-reset versions KEEP their stamped shapes
    Seq((1L, "fresh")).toDF("id", "w")
      .write.format("graft-avro").mode("overwrite").save(fleet)   // v5
    assert(main.table("graft.t").columns.toSeq == Seq("id", "w"))
    assert(main.sql("SELECT * FROM graft.t VERSION AS OF 3")
      .columns.toSeq == Seq("id", "v", "note"),
      "a reset must not rewrite history's declared schemas")
  }

  test("snapshot pin: one consistent multi-fleet cut; concurrent commits invisible; pinned writes refuse; unpin restores") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("pin_root")
    spark.range(10).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("overwrite")
      .save(s"$root/a.avro")
    spark.range(10).select($"id", ($"id" * 3).as("w"))
      .coalesce(1).write.format("graft-avro").mode("overwrite")
      .save(s"$root/b.avro")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    val vec = s2.sql("CALL graft.system.pin()").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vec == Map("a" -> 1L, "b" -> 1L), s"pin vector: $vec")
    // ANOTHER session commits to both fleets AFTER the pin
    spark.range(10, 20).select($"id", ($"id" * 2).as("v"))
      .coalesce(1).write.format("graft-avro").mode("append")
      .save(s"$root/a.avro")
    spark.range(10, 20).select($"id", ($"id" * 3).as("w"))
      .coalesce(1).write.format("graft-avro").mode("append")
      .save(s"$root/b.avro")
    // the pinned session still reads the CUT — catalog and path
    // spellings alike, joins consistent across both fleets
    assert(s2.table("graft.a").count() == 10,
      "a commit after the pin leaked into a pinned catalog read")
    assert(s2.read.format("graft-avro").load(s"$root/a.avro")
      .count() == 10, "…or into a pinned path read")
    assert(s2.sql(
      """SELECT count(*) AS n FROM graft.a x
        |JOIN graft.b y ON x.id = y.id""".stripMargin)
      .head.getLong(0) == 10L)
    // explicit AS-OF addressing overrides the pin per read
    assert(s2.sql("SELECT * FROM graft.a VERSION AS OF 2").count() == 20)
    // a write to a PINNED fleet refuses loudly (the pin is a read cut)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("; ")
    val e = intercept[Throwable] {
      s2.sql("INSERT INTO graft.a VALUES (100, 200)")
    }
    assert(messages(e).contains("snapshot pin"), messages(e))
    assert(spark.read.format("graft-avro").load(s"$root/a.avro")
      .count() == 20, "the refused insert must land nothing")
    // a fleet OUTSIDE the vector (created after the pin) writes fine —
    // the read-pinned-inputs / write-fresh-output shape
    s2.table("graft.a").write.format("graft-avro")
      .mode("overwrite").save(s"$root/out.avro")
    assert(spark.read.format("graft-avro").load(s"$root/out.avro")
      .count() == 10)
    // a multi-directory load touching a pinned fleet is LOUD (one
    // versionAsOf cannot carry two fleets' pinned versions)
    val eMulti = intercept[Throwable] {
      s2.read.format("graft-avro").load(s"$root/*.avro").count()
    }
    assert(messages(eMulti).contains("multi-directory"),
      messages(eMulti))
    // unpin: reads resolve current again, writes flow
    s2.sql("CALL graft.system.unpin()").collect()
    assert(s2.table("graft.a").count() == 20)
    s2.sql("INSERT INTO graft.a VALUES (100, 200)")
    assert(s2.table("graft.a").count() == 21)
  }

  test("option(timestampAsOf) resolves the declared schema AS OF the bound generation, like versionAsOf") {
    // r19 ADVICE: getTable/inferSchema resolved only versionAsOf to
    // the schema marker, so a timestamp read of a pre-ALTER
    // generation showed the post-ALTER declared schema — both AS OF
    // spellings must resolve the generation-stamped SchemaProp
    import spark.implicits._
    import graft.sources.FleetManifest
    val root = graft.util.Scratch.dir("schema_ts_asof")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(fleet)                              // v1
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    main.sql("ALTER TABLE graft.t ADD COLUMN note STRING")        // v2
    main.sql("INSERT INTO graft.t VALUES (300, 5, 'x')")          // v3
    main.sql("ALTER TABLE graft.t DROP COLUMN v")                 // v4
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    FleetManifest.restampCommitTs(fs, p, 1L, 1000L)
    FleetManifest.restampCommitTs(fs, p, 2L, 2000L)
    FleetManifest.restampCommitTs(fs, p, 3L, 3000L)
    FleetManifest.restampCommitTs(fs, p, 4L, 4000L)
    def at(ts: String) = spark.read.format("graft-avro")
      .option("timestampAsOf", ts).load(fleet)
    // current head: the post-DROP shape
    assert(at("4000").columns.toSeq == Seq("id", "note"))
    // a timestamp bound to the stamped mid-evolution generation must
    // show ITS declared shape — the dropped column resurfaces with
    // data (the bug read the CURRENT marker here: id, note)
    val mid = at("3500")
    assert(mid.columns.toSeq == Seq("id", "v", "note"),
      s"pre-DROP timestamp must resolve the stamped schema: " +
        s"${mid.columns.toSeq}")
    assert(mid.filter($"id" === 300).head.getLong(1) == 5L)
    assert(mid.count() == 101)
    // both AS OF spellings resolve identically, generation by
    // generation (v2's stamp, and the pre-stamp fallback at v1)
    for ((ts, v) <- Seq(("2500", "2"), ("1500", "1"))) {
      val byV = spark.read.format("graft-avro")
        .option("versionAsOf", v).load(fleet)
      assert(at(ts).columns.toSeq == byV.columns.toSeq,
        s"ts=$ts vs versionAsOf=$v: ${at(ts).columns.toSeq} != " +
          s"${byV.columns.toSeq}")
      assert(at(ts).count() == byV.count())
    }
    // parity with the SQL spelling on the same fleet
    assert(main.sql(
      "SELECT * FROM graft.t TIMESTAMP AS OF " +
        "timestamp_millis(3500)").columns.toSeq ==
      mid.columns.toSeq)
  }

  test("schema evolution stages on a branch: main resolves it only after fast_forward; the feed spans the publish exactly") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("branch_evolve")
    val fleet = s"$root/t.avro"
    spark.range(100).select($"id", ($"id" * 2).as("v"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(fleet)
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    val audit = spark.newSession()
    audit.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    audit.conf.set("spark.sql.catalog.graft.root", root)
    audit.conf.set("spark.graft.branch", "evolve")
    main.sql("CALL graft.system.create_branch('t', 'evolve')")
    val p = new org.apache.hadoop.fs.Path(fleet)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val vFork = graft.sources.FleetManifest.mainCurrent(fs, p).get.version
    // ALTER under the branch session STAGES the marker; a write on the
    // branch carries the evolved shape
    audit.sql("ALTER TABLE graft.t ADD COLUMN note STRING")
    audit.sql("INSERT INTO graft.t VALUES (200, 9, 'staged')")
    assert(audit.table("graft.t").columns.toSeq ==
      Seq("id", "v", "note"))
    assert(audit.sql("SELECT note FROM graft.t WHERE id = 200")
      .head.getString(0) == "staged")
    // MAIN is untouched: schema, rows, and the root marker
    assert(main.table("graft.t").columns.toSeq == Seq("id", "v"),
      "a staged ALTER must not leak into main's declared schema")
    assert(main.table("graft.t").count() == 100)
    assert(graft.sources.FleetSchemaMarker.read(fs, p).isEmpty,
      "the fleet-root marker must stay absent while staged")
    // a per-read branch option resolves the STAGED schema in a plain
    // session — the audit surface sees what it staged
    val bdf = spark.read.format("graft-avro")
      .option("branch", "evolve").load(fleet)
    assert(bdf.columns.toSeq == Seq("id", "v", "note"))
    assert(bdf.count() == 101)
    // publish: the marker lands with the staged versions — main
    // resolves the evolved schema, old generations null-fill
    main.sql("CALL graft.system.fast_forward('t', 'evolve')")
    val after = main.table("graft.t")
    assert(after.columns.toSeq == Seq("id", "v", "note"))
    assert(after.count() == 101)
    assert(after.filter($"id" === 200).head.getString(2) == "staged")
    assert(after.filter($"id" === 0).head.isNullAt(2),
      "pre-evolution generations must null-fill the added column")
    // the change feed across the publish span routes exactly: the
    // staged INSERT arrives as insert images in the EVOLVED schema
    val vHead = graft.sources.FleetManifest.mainCurrent(fs, p)
      .get.version
    val feed = graft.sources.FleetCDC
      .changes(spark, fleet, vFork, vHead).collect()
    assert(feed.length == 1 && feed.head.getLong(0) == 200L &&
      feed.head.getString(2) == "staged" &&
      feed.head.getString(3) == "insert", feed.mkString(", "))
  }

  test("a stale fork cannot publish; drop_branch releases its staging to GC") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("wap_conflict")
    spark.range(50).select($"id")
      .coalesce(1).write.format("graft-avro")
      .mode("overwrite").save(s"$root/t.avro")
    val main = spark.newSession()
    main.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    main.conf.set("spark.sql.catalog.graft.root", root)
    val audit = spark.newSession()
    audit.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    audit.conf.set("spark.sql.catalog.graft.root", root)
    audit.conf.set("spark.graft.branch", "audit")
    main.sql("CALL graft.system.create_branch('t', 'audit')")
    audit.sql("DELETE FROM graft.t WHERE id = 7")
    // an intervening MAIN commit moves past the fork point
    main.sql("INSERT INTO graft.t VALUES (999)")
    val e = intercept[Exception] {
      main.sql("CALL graft.system.fast_forward('t', 'audit')")
    }
    assert(e.getMessage.contains("main is at") ||
      e.getMessage.contains("different content"), e.getMessage)
    // retention run FROM THE BRANCH SESSION, with main advanced past
    // the fork so version numbers overlap (main v2 ≠ branch v2): the
    // reference sets must come from MAIN snapshots (branch refs enter
    // via the explicit branch pin) — a branch-routed resolution here
    // would unlink main v2's files
    graft.sources.FleetCompact.expireVersions(audit, s"$root/t.avro",
      keepLast = 1)
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 51,
      "retention under a branch session unlinked main's files")
    assert(audit.sql("SELECT count(*) FROM graft.t").as[Long].head() == 49,
      "retention reaped the staged branch generation")
    // the branch is intact (re-stageable); discard it instead
    assert(main.sql("CALL graft.system.branches('t')").count() == 1)
    main.sql("CALL graft.system.drop_branch('t', 'audit')")
    assert(main.sql("CALL graft.system.branches('t')").count() == 0)
    // its staged post-images are unreferenced now — the orphan sweep
    // may reap them; main history is untouched
    main.sql("CALL graft.system.remove_orphans('t', 0L)")
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 51)
    assert(main.sql("SELECT count(*) FROM graft.t WHERE id = 7")
      .as[Long].head() == 1)
  }

  test("expire_branches ages out an abandoned fork; its staging sweeps, main untouched") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("branch_retention")
    val fleet = s"$root/t.avro"
    spark.range(20).select($"id").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(fleet)
    def sess(branch: Option[String]): org.apache.spark.sql.SparkSession = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.root", root)
      branch.foreach(s2.conf.set("spark.graft.branch", _))
      s2
    }
    val main = sess(None)
    main.sql("CALL graft.system.create_branch('t', 'stale')")
    sess(Some("stale")).sql("INSERT INTO graft.t VALUES (777)")
    Thread.sleep(2000) // the stale fork goes idle
    main.sql("CALL graft.system.create_branch('t', 'fresh')")
    sess(Some("fresh")).sql("INSERT INTO graft.t VALUES (888)")
    // ONLY the idle fork expires; any staged commit inside the window
    // keeps a branch alive
    val dropped = main.sql("CALL graft.system.expire_branches('t', 1000)")
      .collect().map(_.getString(0)).toSeq
    assert(dropped == Seq("stale"), dropped.toString)
    assert(main.sql("CALL graft.system.branches('t')")
      .collect().map(_.getString(0)).toSeq == Seq("fresh"))
    // the dropped fork's staging is unreferenced now — sweepable —
    // while main history and the live fork are untouched
    main.sql("CALL graft.system.remove_orphans('t', 0L)")
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 20)
    assert(spark.read.format("graft-avro").option("branch", "fresh")
      .load(fleet).count() == 21)
    assert(spark.read.format("graft-avro").option("branch", "fresh")
      .load(fleet).filter($"id" === 888).count() == 1,
      "the live fork's staged file must survive the sweep")
    main.sql("CALL graft.system.drop_branch('t', 'fresh')")
  }

  test("CALL set_layout re-clusters from pure SQL: the join earns SPJ") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_setlayout")
    // both sides born UNclustered (plain repartition, no marker)
    spark.range(256)
      .select(($"id" % 8).as("shard"), $"id".as("a_val"))
      .repartition(4).write.format("graft-avro")
      .mode("overwrite").save(s"$root/a.avro")
    spark.range(8)
      .select($"id".as("shard"), ($"id" * 100).as("b_val"))
      .repartition(2).write.format("graft-avro")
      .mode("overwrite").save(s"$root/b.avro")
    val s2 = catSession(root)
    def join() = {
      val j = s2.sql(
        """SELECT /*+ MERGE(b) */ a.shard, a.a_val, b.b_val
          |FROM graft.a a JOIN graft.b b ON a.shard = b.shard"""
          .stripMargin)
      j.collect()
      j
    }
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          exchanges(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          exchanges(r.child)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          1 + e.children.map(exchanges).sum
        case other => other.children.map(exchanges).sum
      })
    assert(exchanges(join().queryExecution.executedPlan) > 0,
      "unclustered fleets must shuffle")
    // one SQL CALL per side re-clusters in place and writes the marker
    s2.sql("CALL graft.system.set_layout('a', 'shard', 16777216)")
    s2.sql("CALL graft.system.set_layout('b', 'shard', 16777216)")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("a", "b").foreach { t =>
      assert(graft.sources.FleetLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$root/$t.avro"))
        .contains("shard"), s"set_layout must record the marker on $t")
    }
    val spj = join()
    assert(spj.collect().length == 256)
    assert(exchanges(spj.queryExecution.executedPlan) == 0,
      s"SQL-reclustered fleets must SPJ-join exchange-free:\n" +
        s"${spj.queryExecution.executedPlan}")
  }

  test("two branches coexist; publishing one stales the other's fork") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("wap_two")
    spark.range(60).select($"id")
      .coalesce(1).write.format("graft-avro")
      .mode("overwrite").save(s"$root/t.avro")
    def sess(branch: Option[String]) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.graft.root", root)
      branch.foreach(b => s2.conf.set("spark.graft.branch", b))
      s2
    }
    val main = sess(None)
    main.sql("CALL graft.system.create_branch('t', 'a')")
    main.sql("CALL graft.system.create_branch('t', 'b')")
    val sa = sess(Some("a"))
    val sb = sess(Some("b"))
    sa.sql("DELETE FROM graft.t WHERE id < 10")
    sb.sql("DELETE FROM graft.t WHERE id >= 50")
    // three isolated views of one fleet
    assert(sa.sql("SELECT count(*) FROM graft.t").as[Long].head() == 50)
    assert(sb.sql("SELECT count(*) FROM graft.t").as[Long].head() == 50)
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 60)
    assert(main.sql("CALL graft.system.branches('t')").count() == 2)
    // publish A: main adopts its staging; B's fork base is now stale
    main.sql("CALL graft.system.fast_forward('t', 'a')")
    assert(main.sql("SELECT min(id) FROM graft.t").as[Long].head() == 10L)
    val e = intercept[Exception] {
      main.sql("CALL graft.system.fast_forward('t', 'b')")
    }
    assert(e.getMessage.contains("main is at") ||
      e.getMessage.contains("different content"), e.getMessage)
    main.sql("CALL graft.system.drop_branch('t', 'b')")
    assert(main.sql("CALL graft.system.branches('t')").count() == 0)
    assert(main.sql("SELECT count(*) FROM graft.t").as[Long].head() == 50)
  }

  test("INSERT INTO a clustered fleet adopts the layout: SPJ survives plain SQL writes") {
    import spark.implicits._
    val root = graft.util.Scratch.dir("cat_insert_layout")
    def mk(name: String, rows: Long): Unit =
      spark.range(rows).select(($"id" % 4).as("shard"),
          ($"id" * 10).as(s"v_$name"))
        .repartition(4, $"shard").write.format("graft-avro")
        .option("clusterBy", "shard").mode("overwrite")
        .save(s"$root/$name.avro")
    mk("fa", 80)
    mk("fb", 8)
    val s2 = catSession(root)
    // a PLAIN optionless INSERT previously cleared the marker and
    // fragmented the layout; it now ADOPTS the key — files stay
    // single-key and the marker survives
    s2.sql("INSERT INTO graft.fa VALUES (0, 900), (1, 901), (2, 902)")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.sources.FleetLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$root/fa.avro")).contains("shard"),
      "an adopted-layout INSERT must keep the marker")
    val joined = s2.sql(
      """SELECT /*+ MERGE(b) */ a.shard, a.v_fa, b.v_fb
        |FROM graft.fa a JOIN graft.fb b ON a.shard = b.shard"""
        .stripMargin)
    val n = joined.collect().length
    assert(n == (80 + 3) * 2, s"rows after insert: $n") // 2 fb rows/shard
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          exchanges(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          exchanges(r.child)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          1 + e.children.map(exchanges).sum
        case other => other.children.map(exchanges).sum
      })
    assert(exchanges(joined.queryExecution.executedPlan) == 0,
      s"the layout must survive a plain INSERT:\n" +
        s"${joined.queryExecution.executedPlan}")
  }
}
