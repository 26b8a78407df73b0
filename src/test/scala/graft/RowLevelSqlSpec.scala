package graft

import org.apache.spark.sql.functions._

/** SQL row-level operations (DELETE FROM / UPDATE / MERGE INTO)
  * against catalog-resolved fleets, executed as group-based
  * copy-on-write at file granularity: only files that can contain a
  * matching row rewrite; the rest keep mtime and bytes. */
class RowLevelSqlSpec extends SparkSpec {

  private def freshFleet(tag: String): (String, org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val root = graft.util.Scratch.dir(s"rls_$tag")
    graft.util.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", round($"c_acctbal", 4).as("c_acctbal"))
      .repartitionByRange(6, $"c_custkey")
      .write.format("graft-avro").mode("overwrite").save(s"$root/cust.avro")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    (root, s2)
  }

  private def snapshot(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .map(st => st.getPath.toString ->
        (st.getModificationTime, st.getLen)).toMap
  }

  test("_file metadata column serves per-row provenance on any fleet read") {
    import spark.implicits._
    val (root, s2) = freshFleet("meta")
    val rows = s2.sql(
      "SELECT c_custkey, _file FROM graft.cust ORDER BY c_custkey")
      .collect()
    assert(rows.nonEmpty)
    val files = rows.map(_.getString(1)).distinct
    assert(files.length >= 3, s"expected multi-file provenance: ${files.toSeq}")
    assert(files.forall(f => f.contains("cust.avro") && f.endsWith(".avro")))
    // and the same container never reports two names for one row range
    val direct = spark.read.format("graft-avro").load(s"$root/cust.avro")
      .count()
    assert(rows.length.toLong == direct)
  }

  test("DELETE FROM rewrites only the extent-hit file and keeps same-file survivors") {
    import spark.implicits._
    val (root, s2) = freshFleet("delete")
    val before = snapshot(s"$root/cust.avro")
    assert(before.size >= 3)
    s2.sql("DELETE FROM graft.cust WHERE c_custkey < 10")
    val after = snapshot(s"$root/cust.avro")
    // most files untouched byte-for-byte
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "pruning must keep most files in place")
    untouched.foreach(f => assert(before(f) == after(f)))
    assert(before.keySet != after.keySet, "the hit file must be replaced")
    assert((before.keySet -- after.keySet).size < before.size,
      "DELETE must not rewrite the whole fleet")
    // semantics: exactly the <10 rows are gone, survivors intact
    val got = s2.sql("SELECT * FROM graft.cust").collect().map(_.toSeq).toSet
    val want = graft.util.Tables.customer(spark, sfDir)
      .filter($"c_custkey" >= 10)
      .select($"c_custkey", $"c_name", round($"c_acctbal", 4).as("c_acctbal"))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"${got.size} vs ${want.size} rows")
  }

  test("a DELETE matching nothing replaces nothing") {
    val (root, s2) = freshFleet("delete_noop")
    val before = snapshot(s"$root/cust.avro")
    val n0 = s2.sql("SELECT count(*) AS n FROM graft.cust")
      .collect()(0).getLong(0)
    s2.sql("DELETE FROM graft.cust WHERE c_custkey < 0")
    val after = snapshot(s"$root/cust.avro")
    assert(after.keySet == before.keySet &&
      before.forall { case (f, m) => after(f) == m },
      "no extent can match: the fleet must be byte-identical")
    assert(s2.sql("SELECT count(*) AS n FROM graft.cust")
      .collect()(0).getLong(0) == n0)
  }

  test("UPDATE rewrites hit files and leaves the rest byte-identical") {
    import spark.implicits._
    val (root, s2) = freshFleet("update")
    val before = snapshot(s"$root/cust.avro")
    s2.sql("""UPDATE graft.cust SET c_acctbal = round(c_acctbal + 100.0, 4)
             |WHERE c_custkey < 10""".stripMargin)
    val after = snapshot(s"$root/cust.avro")
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(before(f) == after(f)))
    val got = s2.sql("SELECT * FROM graft.cust").collect().map(_.toSeq).toSet
    val want = graft.util.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name",
        when($"c_custkey" < 10, round(round($"c_acctbal", 4) + 100.0, 4))
          .otherwise(round($"c_acctbal", 4)).as("c_acctbal"))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"${got.size} vs ${want.size} rows")
  }

  test("an extent-aligned DELETE is metadata-only: one manifest commit, nothing rewrites") {
    import spark.implicits._
    val (root, s2) = freshFleet("metaonly")
    val before = snapshot(s"$root/cust.avro")
    // pick a real file boundary so every file is sidecar-decidable
    val p = new org.apache.hadoop.fs.Path(s"$root/cust.avro")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val stats = graft.sources.FleetView.resolve(spark, s"$root/cust.avro")
      .stats(fs)
    val boundary = stats.values.map(_.cols("c_custkey").max.get
      .asInstanceOf[Long]).toSeq.sorted.head
    s2.sql(s"DELETE FROM graft.cust WHERE c_custkey <= $boundary")
    val after = snapshot(s"$root/cust.avro")
    // metadata-only: no data file touched at all — every byte of every
    // file identical; the DELETE is purely the manifest commit (r15:
    // dropped files are RETAINED on disk for VERSION AS OF until a
    // retention pass, so none unlink here)
    assert(after == before,
      s"metadata delete must not touch data files: " +
        s"new=${after.keySet -- before.keySet} " +
        s"gone=${before.keySet -- after.keySet}")
    val manifest = graft.sources.FleetManifest.current(fs, p).get
    def names(paths: Set[String]) =
      paths.map(f => new org.apache.hadoop.fs.Path(f).getName)
    val dropped = names(before.keySet) -- manifest.files.toSet
    assert(dropped.nonEmpty, "a file must retire from the manifest")
    val got = s2.sql("SELECT count(*) AS n FROM graft.cust")
      .collect()(0).getLong(0)
    val want = graft.util.Tables.customer(spark, sfDir)
      .filter($"c_custkey" > boundary).count()
    assert(got == want)
    // time travel still serves the pre-DELETE fleet; a retention pass
    // then reclaims the retired files physically
    assert(s2.sql("SELECT count(*) AS n FROM graft.cust VERSION AS OF 1")
      .head.getLong(0) ==
        graft.util.Tables.customer(spark, sfDir).count())
    graft.sources.FleetCompact.expireVersions(spark,
      s"$root/cust.avro", keepLast = 1)
    val reclaimed = snapshot(s"$root/cust.avro")
    assert(names(reclaimed.keySet) == manifest.files.toSet,
      s"expiry should leave exactly the live generation: " +
        s"${names(reclaimed.keySet)} vs ${manifest.files.toSet}")
  }

  test("a full-table DELETE leaves a loadable empty fleet") {
    val (root, s2) = freshFleet("metatrunc")
    s2.sql("DELETE FROM graft.cust")
    val back = s2.sql("SELECT * FROM graft.cust")
    assert(back.schema.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal"))
    assert(back.count() == 0)
  }

  test("MERGE INTO applies delete/update/insert through the COW path") {
    import spark.implicits._
    val (root, s2) = freshFleet("merge")
    val before = snapshot(s"$root/cust.avro")
    s2.sql("""MERGE INTO graft.cust t
             |USING (SELECT c_custkey AS k, 'D' AS op,
             |         CAST(NULL AS STRING) AS nm, CAST(NULL AS DOUBLE) AS nb
             |       FROM graft.cust WHERE c_custkey < 5
             |       UNION ALL
             |       SELECT c_custkey, 'U', c_name,
             |         round(c_acctbal * 2.0, 4)
             |       FROM graft.cust WHERE c_custkey >= 5 AND c_custkey < 10
             |       UNION ALL
             |       SELECT c_custkey + 500000, 'I',
             |         concat('Merged#', c_custkey), round(10.0, 4)
             |       FROM graft.cust WHERE c_custkey < 3) f
             |ON t.c_custkey = f.k
             |WHEN MATCHED AND f.op = 'D' THEN DELETE
             |WHEN MATCHED AND f.op = 'U' THEN
             |  UPDATE SET c_name = f.nm, c_acctbal = f.nb
             |WHEN NOT MATCHED AND f.op = 'I' THEN
             |  INSERT (c_custkey, c_name, c_acctbal) VALUES (f.k, f.nm, f.nb)
             |""".stripMargin)
    val after = snapshot(s"$root/cust.avro")
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "merge must not rewrite the whole fleet")
    untouched.foreach(f => assert(before(f) == after(f)))
    val base = graft.util.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", round($"c_acctbal", 4).as("c_acctbal"))
    val want = base.filter($"c_custkey" >= 5)
      .select($"c_custkey",
        when($"c_custkey" < 10, $"c_name").otherwise($"c_name").as("c_name"),
        when($"c_custkey" < 10, round($"c_acctbal" * 2.0, 4))
          .otherwise($"c_acctbal").as("c_acctbal"))
      .unionByName(base.filter($"c_custkey" < 3)
        .select(($"c_custkey" + 500000).as("c_custkey"),
          concat(lit("Merged#"), $"c_custkey").as("c_name"),
          round(lit(10.0), 4).as("c_acctbal")))
      .collect().map(_.toSeq).toSet
    val got = s2.sql("SELECT * FROM graft.cust").collect().map(_.toSeq).toSet
    assert(got == want, s"${got.size} vs ${want.size} rows")
  }
}
