package graft

import org.apache.spark.sql.functions._
import graft.sources.Avro

/** The Avro source/sink built on Spark's bundled avro library:
  * type-exact roundtrips (incl. nulls and binary), workbook-facade
  * save/load, and the distributed many-file read. */
class AvroSpec extends SparkSpec {

  private def tmp(name: String): String = graft.util.Scratch.dir(name)

  test("avro roundtrip preserves exact types, nulls, and binary") {
    import spark.implicits._
    val df = Seq(
      (1, 10L, Some(1.5), Some(2.5f), Some(true), Some("plain"),
        Some(Array[Byte](1, 2, 3))),
      (2, 20L, None, None, None, None, None),
      (3, 30L, Some(-0.25), Some(0.5f), Some(false),
        Some("unicode café ☕ <&>"), Some(Array[Byte]()))
    ).toDF("i", "l", "d", "f", "b", "s", "bin")
    val path = tmp("avro_rt") + "/t.avro"
    Avro.write(spark, path, df)
    val back = Avro.read(spark, path).orderBy($"i")
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("i" -> "integer", "l" -> "long", "d" -> "double",
        "f" -> "float", "b" -> "boolean", "s" -> "string",
        "bin" -> "binary"))
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
    assert((2 to 6).forall(rows(1).isNullAt))
    assert(rows(2).getString(5) == "unicode café ☕ <&>")
    assert(rows(2).getAs[Array[Byte]]("bin").isEmpty)
  }

  test("avro rejects non-flat columns with a actionable error") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Avro.write(spark, tmp("avro_bad") + "/t.avro", df)
    }
    assert(e.getMessage.contains("flat primitive columns"))
  }

  test("workbook facade saves and reloads avro sheets") {
    import spark.implicits._
    val dir = tmp("avro_wb")
    val wb = Workbook(spark, Map(
      "nation" -> graft.util.Tables.nation(spark, sfDir)))
    wb.save(dir, format = "avro")
    val back = Workbook.load(spark, dir)
    assert(back.sheetNames == Seq("nation"))
    // avro preserves exact types — schemas must be identical
    assert(back.sheet("nation").schema == wb.sheet("nation").schema)
    val o = wb.sheet("nation").orderBy($"n_nationkey").collect().toSeq
    val b = back.sheet("nation").orderBy($"n_nationkey").collect().toSeq
    assert(o == b)
  }

  test("empty frame roundtrips with its exact schema") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    val path = tmp("avro_empty") + "/t.avro"
    Avro.write(spark, path, empty)
    val back = Avro.read(spark, path)
    // avro carries the schema in the file header, so unlike xlsx the
    // types survive even with zero rows (columns come back nullable —
    // every field is written as a ["null", T] union by design)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      empty.schema.map(f => (f.name, f.dataType)))
    assert(back.schema.forall(_.nullable))
    assert(back.count() == 0)
  }

  test("date and timestamp columns roundtrip exactly via avro logical types") {
    import spark.implicits._
    val df = Seq("2024-01-15", "1969-12-31", "2024-06-30").toDF("ds")
      .select($"ds", to_date($"ds").as("d"),
        to_timestamp(concat($"ds", lit(" 10:30:00.123456"))).as("ts"))
    val path = tmp("avro_temporal") + "/t.avro"
    Avro.write(spark, path, df)
    val back = Avro.read(spark, path).orderBy($"ds")
    // types survive (xlsx demotes temporals to strings; avro must not)
    assert(back.schema("d").dataType.typeName == "date")
    assert(back.schema("ts").dataType.typeName == "timestamp")
    assert(back.collect().toSeq == df.orderBy($"ds").collect().toSeq)
    // the distributed sink/reader preserves them identically
    val dDir = tmp("avro_temporal_dist") + "/t.avro"
    Avro.writeDistributed(spark, dDir, df.repartition(2))
    val dBack = Avro.readDistributed(spark, s"$dDir/*.avro").orderBy($"ds")
    assert(dBack.schema("d").dataType.typeName == "date")
    assert(dBack.schema("ts").dataType.typeName == "timestamp")
    assert(dBack.collect().toSeq == df.orderBy($"ds").collect().toSeq)
  }

  test("distributed write lands one OCF per partition, reads back bit-identically") {
    import spark.implicits._
    val dir = tmp("avro_dist") + "/t.avro"
    val df = spark.range(0, 1000, 1, 8)
      .select($"id", ($"id" * 2.5).as("v"),
        concat(lit("row"), $"id").as("name"))
    Avro.writeDistributed(spark, dir, df)
    // one file per non-empty partition, written on executors
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 8, s"expected 8 part files, got ${files.length}")
    val back = Avro.readDistributed(spark, s"$dir/*.avro")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val o = df.orderBy($"id").collect().toSeq
    val b = back.orderBy($"id").collect().toSeq
    assert(o == b)
    // single-path read() transparently handles the directory layout
    assert(Avro.read(spark, dir).count() == 1000)
  }

  test("distributed write of an empty frame keeps one schema-bearing file") {
    import spark.implicits._
    val dir = tmp("avro_dist_empty") + "/t.avro"
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    Avro.writeDistributed(spark, dir, empty)
    val back = Avro.read(spark, dir)
    assert(back.schema.map(_.name) == Seq("id", "name"))
    assert(back.count() == 0)
  }

  test("workbook avro save takes the distributed sink for multi-partition sheets") {
    import spark.implicits._
    val dir = tmp("avro_wb_dist")
    val big = spark.range(0, 500, 1, 4).select($"id", ($"id" % 7).as("m"))
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "s").coalesce(1)
    Workbook(spark, Map("big" -> big, "small" -> small))
      .save(dir, format = "avro")
    // multi-partition sheet → directory of part files; single → one file
    assert(new java.io.File(s"$dir/big.avro").isDirectory)
    assert(new java.io.File(s"$dir/small.avro").isFile)
    val back = Workbook.load(spark, dir)
    assert(back.sheetNames == Seq("big", "small"))
    assert(back.sheet("big").agg(sum($"id")).head().getLong(0) ==
      (0L until 500L).sum)
    assert(back.sheet("small").orderBy($"k").collect().toSeq ==
      small.orderBy($"k").collect().toSeq)
  }

  test("distributed write commits via attempt temps and a _SUCCESS marker") {
    import spark.implicits._
    val dir = tmp("avro_commit") + "/t.avro"
    val df = spark.range(0, 100, 1, 4).select($"id", ($"id" * 2).as("v"))
    Avro.writeDistributed(spark, dir, df)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("_SUCCESS"), s"no commit marker in $names")
    assert(!names.exists(_.endsWith(".tmp")), s"leftover attempt temp in $names")
    // a dead attempt's temp (hidden dotfile) and stray metadata must be
    // invisible to both the listing peek and the binaryFile ingest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".part-00000-attempt-99.avro.tmp"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_stray_marker"), Array[Byte](9))
    assert(Avro.read(spark, dir).agg(sum($"id")).head().getLong(0) ==
      (0L until 100L).sum)
    // without the marker, a directory of part files is an UNCOMMITTED
    // write — reading it as complete would be silent data loss
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val e = intercept[IllegalArgumentException] { Avro.read(spark, dir) }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
  }

  test("a retried or duplicate task attempt leaves one complete part file") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = tmp("avro_attempts") + "/t.avro"
    new java.io.File(dir).mkdirs()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val schemaJson = Avro.toAvroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val conf = spark.sessionState.newHadoopConf()
    val rows = Seq(Row(1L, "a"), Row(2L, "b"))
    // attempt 1 commits, then a late duplicate/speculative attempt 2 of
    // the SAME partition replays identical data: the final file must be
    // exactly one complete OCF and no temp may survive either attempt
    Avro.writePartitionFile(schemaJson, names, dir, 3, 1L, conf, rows.iterator)
    Avro.writePartitionFile(schemaJson, names, dir, 3, 2L, conf, rows.iterator)
    // the local ChecksumFileSystem adds hidden .crc sidecars — readers
    // ignore dotfiles, so only the VISIBLE listing is the contract
    val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith("."))
    assert(files.sorted == Seq("part-00003.avro"), files.toString)
    assert(!files.exists(_.endsWith(".tmp")), files.toString)
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-00003.avro"))
    assert(Avro.parseAll(bytes)._2 == Seq(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("single-file write commits via a hidden temp (no partial finals)") {
    import spark.implicits._
    val dir = tmp("avro_single_commit")
    val path = s"$dir/t.avro"
    Avro.write(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("t.avro"), names.toString)
    assert(!names.exists(_.endsWith(".tmp")), names.toString)
    assert(Avro.read(spark, path).count() == 2)
    // overwrite commits cleanly too (delete-then-rename path)
    Avro.write(spark, path, Seq((9L, "z")).toDF("id", "s"))
    assert(Avro.read(spark, path).count() == 1)
  }

  test("pruned read decodes only the requested columns, in request order") {
    import spark.implicits._
    val dir = tmp("avro_prune") + "/t.avro"
    val wide = spark.range(0, 60, 1, 3).select(
      $"id", ($"id" * 1.5).as("c1"), concat(lit("s"), $"id").as("c2"),
      ($"id" % 2 === 0).as("c3"), ($"id" + 7).as("c4"),
      concat(lit("t"), $"id").as("c5"))
    Avro.writeDistributed(spark, dir, wide)
    // the emitted Row schema IS the observable pruning contract: only
    // the requested fields, in the requested order
    val pruned = Avro.readDistributed(spark, dir, columns = Seq("c5", "id"))
    assert(pruned.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("c5" -> "string", "id" -> "long"))
    assert(pruned.orderBy($"id").collect().toSeq ==
      wide.select($"c5", $"id").orderBy($"id").collect().toSeq)
    // the single-file driver path prunes identically
    val one = tmp("avro_prune_one") + "/t.avro"
    Avro.write(spark, one, wide)
    val p1 = Avro.read(spark, one, columns = Seq("c3", "c1"))
    assert(p1.schema.map(_.name) == Seq("c3", "c1"))
    assert(p1.count() == 60)
    // unknown columns fail loudly, naming what the schema has
    val e = intercept[IllegalArgumentException] {
      Avro.read(spark, one, columns = Seq("nope")).collect()
    }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("c4"),
      e.getMessage)
  }

  test("graft-avro V2 connector prunes decode from any downstream projection") {
    import spark.implicits._
    val dir = tmp("avro_v2") + "/t.avro"
    val wide = spark.range(0, 40, 1, 2).select(
      $"id", ($"id" * 1.5).as("c1"), concat(lit("s"), $"id").as("c2"),
      to_date(lit("2024-01-15")).as("d"))
    Avro.writeDistributed(spark, dir, wide)
    // no explicit column list anywhere: Catalyst pushes the projection
    // into the scan via SupportsPushDownRequiredColumns, and the
    // BatchScan's ReadSchema (surfaced in the scan description) proves
    // the executors decode exactly the selected fields
    val df = spark.read.format("graft-avro").load(dir).select($"c2", $"id")
    assert(df.orderBy($"id").collect().toSeq ==
      wide.select($"c2", $"id").orderBy($"id").collect().toSeq)
    // Catalyst keeps the scan in ORIGINAL field order and reorders via
    // a Project above it — the scan itself carries only the 2 fields
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan)
    assert(plan.contains("ReadSchema: struct<id:bigint,c2:string>"), plan)
    // empty projection (count(*)): zero fields decoded, count preserved
    assert(spark.read.format("graft-avro").load(dir).count() == 40)
    // partial LIMIT pushdown: each file stops decoding at the limit
    // (visible in the scan description); Spark's Limit on top still
    // enforces the exact global count
    val lim = spark.read.format("graft-avro").load(dir).limit(3)
    assert(lim.count() == 3)
    assert(lim.queryExecution.executedPlan.toString
      .contains("PushedLimit: 3"), lim.queryExecution.executedPlan.toString)
    // readDistributed is now a veneer over the connector — a plain
    // select through it prunes identically
    val viaApi = Avro.readDistributed(spark, dir).select($"d", $"id")
    val apiPlan = viaApi.queryExecution.executedPlan.toString
    assert(apiPlan.contains("ReadSchema: struct<id:bigint,d:date>"), apiPlan)
    assert(viaApi.count() == 40)
  }

  test("ingest rejects over-bound container files with an actionable error") {
    import spark.implicits._
    val path = tmp("avro_bound") + "/t.avro"
    Avro.write(spark, path, Seq((1L, "x")).toDF("id", "s"))
    // the whole-file DRIVER parse keeps the hard bound (one file in
    // one JVM); the distributed path splits instead — see the
    // sync-marker split test
    val e = intercept[IllegalArgumentException] {
      Avro.read(spark, path, maxFileBytes = 10L)
    }
    assert(e.getMessage.contains("writeDistributed") &&
      e.getMessage.contains("parquet"), e.getMessage)
  }

  test("oversized container files split on sync markers across tasks") {
    import spark.implicits._
    val path = tmp("avro_split") + "/big.avro"
    // one ~1 MB OCF with many 64 KiB-ish blocks (DataFileWriter's
    // default sync interval), well over the tiny bound below
    val df = spark.range(0, 60000)
      .select($"id", concat(lit("name-"), $"id").as("name"))
    Avro.write(spark, path, df.coalesce(1))
    val len = new java.io.File(path).length()
    val bound = 60000L
    assert(len > 2 * bound, s"fixture too small: $len")
    val fleet = spark.read.format("graft-avro")
      .option("maxFileBytes", bound.toString).load(path)
    // the single file fans out across byte-range partitions...
    assert(fleet.rdd.getNumPartitions >= 2, fleet.rdd.getNumPartitions)
    // ...and the ranges partition the blocks exactly: no loss, no dup
    assert(fleet.count() == 60000L)
    assert(fleet.agg(sum($"id")).head().getLong(0) ==
      (0L until 60000L).sum)
    assert(fleet.select($"name").filter($"id" === 59999L).head()
      .getString(0) == "name-59999")
    // readDistributed inherits splitting (it delegates to the V2 scan)
    assert(Avro.readDistributed(spark, path, maxFileBytes = bound)
      .count() == 60000L)
  }

  // the V2 scan of `df` and its planned read partitions, planned under
  // `s` (planning reads the active session's spark.sql.files.* confs)
  private def plannedGroups(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame)
      : Seq[graft.sources.AvroFileGroup] = {
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.get
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try scan.toBatch.planInputPartitions().toSeq.map {
      case g: graft.sources.AvroFileGroup => g
      case other => fail(s"unexpected partition $other")
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("small fleet files pack into core-sized read partitions by Spark's file rule") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val dir = tmp("avro_pack") + "/t.avro"
    spark.range(0, 4800, 1, 48).select($"id", ($"id" * 3).as("v"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    val files = Avro.listFleet(spark, dir).sortBy(_.getPath.toString)
    assert(files.size == 48, s"fixture should hold 48 files: ${files.size}")
    // what Spark's own file source plans for the same files, taken in
    // path order: FilePartition.maxSplitBytes for the width, then its
    // next-fit packing
    def sparkPlans(s: org.apache.spark.sql.SparkSession): Int = {
      val openCost = s.sessionState.conf.filesOpenCostInBytes
      val width = FilePartition.maxSplitBytes(s,
        files.map(_.getLen + openCost).sum)
      FilePartition.getFilePartitions(s, files.map(st => PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath),
        0L, st.getLen)), width).size
    }
    def widthUnder(conf: (String, String)*) = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val groups = plannedGroups(s, s.read.format("graft-avro").load(dir))
      // every file planned exactly once, whole, in path order
      val planned = groups.flatMap(_.splits)
      assert(planned.map(_.file) == files.map(_.getPath.toString))
      assert(planned.forall(sp => sp.start == 0L && sp.end == sp.fileLen))
      assert(groups.size == sparkPlans(s),
        s"${groups.size} partitions, Spark's file source plans ${sparkPlans(s)}")
      groups.size
    }
    // local[4]: about one partition per core, not one per file
    val cores = widthUnder()
    assert(cores >= 4 && cores <= 8, s"$cores partitions at local[4]")
    // the width follows the cluster: asking for 32 partitions splits
    // the same fleet about 32 ways (next-fit gives two sub-open-cost
    // files a partition, so 24 here); asking for 48 gives every file
    // its own
    val wide = widthUnder("spark.sql.files.minPartitionNum" -> "32")
    assert(wide >= 24, s"$wide partitions for minPartitionNum=32")
    assert(widthUnder("spark.sql.files.minPartitionNum" -> "48") == 48)
    // and a real action runs that many tasks
    assert(spark.read.format("graft-avro").load(dir).rdd.getNumPartitions
      == cores)
  }

  test("packed and one-file-per-partition reads return identical rows") {
    import spark.implicits._
    val root = tmp("avro_pack_same")
    val dir = s"$root/t.avro"
    spark.range(0, 2400, 1, 24).select($"id", ($"id" % 5).as("g"),
        ($"id" * 7 % 2400).as("v"), concat(lit("n"), $"id").as("name"))
      .write.format("graft-avro").mode("overwrite").save(dir)
    // merge-on-read deletes bind vectors on most files
    val cat = spark.newSession()
    cat.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    cat.conf.set("spark.sql.catalog.graft.root", root)
    cat.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    cat.sql("DELETE FROM graft.t WHERE id % 13 = 4")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.sources.FleetManifest.current(fs, p).get.dvs.size >= 20)
    // no stats: COUNT(*) takes the block-header tier, not metadata
    FleetStatsKit.stripStats(dir)
    val single = spark.newSession()
    single.conf.set("spark.sql.files.maxPartitionBytes", "1")
    def both[T](q: org.apache.spark.sql.DataFrame => T): (T, T) =
      (q(spark.read.format("graft-avro").load(dir)),
        q(single.read.format("graft-avro").load(dir)))
    def desc(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan.description()
      }.get
    def same[T](what: String, q: org.apache.spark.sql.DataFrame => T): T = {
      val (packed, one) = both(q)
      assert(packed == one, s"$what differs between packed and single reads")
      packed
    }
    val (nPacked, nSingle) = both(_.rdd.getNumPartitions)
    assert(nSingle == 24 && nPacked < nSingle, s"$nPacked vs $nSingle")
    // plain scan: same rows in the same order
    val rows = same("plain scan", _.collect().toSeq)
    assert(rows.size == 2400 - (0 until 2400).count(_ % 13 == 4))
    // per-split metadata columns keep their values inside a group
    same("metadata columns", _.select(col("_file"), col("_sync"),
      col("_ridx"), $"id").collect().toSeq)
    same("LIMIT", _.select($"id", $"name").limit(5).collect().toSeq)
    val top = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy($"v".desc).limit(7)
    assert(desc(top(spark.read.format("graft-avro").load(dir)))
      .contains("PushedTopN"))
    same("TopN", top(_).collect().toSeq)
    assert(desc(spark.read.format("graft-avro").load(dir).groupBy()
      .count()).contains("PushedAggregation: [COUNT(*)]"))
    assert(same("COUNT(*)", _.count()) == rows.size)
    val grouped = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy($"g").agg(count(lit(1)), min($"v"), max($"v"))
        .orderBy($"g")
    assert(desc(grouped(spark.read.format("graft-avro").load(dir)))
      .contains("PushedAggregation(grouped)"))
    same("grouped decode", grouped(_).collect().toSeq)
  }

  test("distributed read decodes many container files on executors") {
    import spark.implicits._
    val dir = tmp("avro_fleet")
    (0 until 3).foreach { i =>
      val part = spark.range(i * 10, i * 10 + 10)
        .select($"id", concat(lit("n"), $"id").as("name"))
      Avro.write(spark, s"$dir/part$i.avro", part)
    }
    val all = Avro.readDistributed(spark, s"$dir/*.avro")
    assert(all.schema.map(_.name) == Seq("id", "name"))
    assert(all.count() == 30)
    assert(all.agg(sum($"id")).head().getLong(0) == (0 until 30).sum)
  }

  test("external-producer avro spelling reads through fleet and pruned paths") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = tmp("avro_ext")
    new java.io.File(dir).mkdirs()
    // an external tool's spelling: own record name/namespace, a doc
    // string, NON-nullable fields — maps to the same Spark schema as a
    // graft-written fleet but is byte-for-byte a different avro schema
    val ext = org.apache.avro.SchemaBuilder.record("Thing").namespace("ext.tool")
      .doc("externally produced").fields()
      .requiredLong("id").requiredString("name").requiredDouble("score")
      .endRecord()
    val w = new org.apache.avro.file.DataFileWriter(
      new GenericDatumWriter[GenericRecord](ext))
    w.create(ext, new java.io.File(dir, "ext-0.avro"))
    (1 to 3).foreach { i =>
      val r = new GenericData.Record(ext)
      r.put("id", i.toLong); r.put("name", s"n$i"); r.put("score", i * 0.5)
      w.append(r)
    }
    w.close()
    // V2 connector: the mixed-fleet guard compares SPARK types, so the
    // file's own avro spelling must decode, not fail "schema mismatch"
    val df = spark.read.format("graft-avro").load(dir).select("name", "id")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted ==
      Seq(("n1", 1L), ("n2", 2L), ("n3", 3L)))
    // pruned driver read: building the reader schema from plain
    // (non-nullable) writer fields must not attach an invalid null default
    val pruned = Avro.read(spark, s"$dir/ext-0.avro", Seq("score"))
    assert(pruned.columns.toSeq == Seq("score"))
    assert(pruned.collect().map(_.getDouble(0)).toSeq.sorted == Seq(0.5, 1.0, 1.5))
  }

  test("mergeSchema evolves a multi-generation fleet; strict mode refuses") {
    import spark.implicits._
    val root = tmp("avro_evolve")
    // gen1: narrow measure, no `extra` column yet
    Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "v", "name")
      .coalesce(1).write.format("graft-avro")
      .mode("overwrite").save(s"$root/gen1")
    // gen2: v widened int->long, a new double column appeared
    Seq((3L, 30L, "c", 1.5), (4L, 40L, "d", 2.5))
      .toDF("id", "v", "name", "extra")
      .coalesce(1).write.format("graft-avro")
      .mode("overwrite").save(s"$root/gen2")

    // strict (default) posture: the fleet is mixed-schema -> loud fail
    val strict = intercept[Exception] {
      spark.read.format("graft-avro").load(s"$root/gen*").collect()
    }
    assert(strict.getMessage.contains("schema mismatch") ||
      Option(strict.getCause).exists(_.getMessage.contains("schema mismatch")))

    val df = spark.read.format("graft-avro")
      .option("mergeSchema", "true").load(s"$root/gen*")
    // merged schema: first-seen order, v widened, extra nullable
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("v", "long"), ("name", "string"),
        ("extra", "double")))
    val rows = df.orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.toSeq == Seq((1L, 10L, "a", None), (2L, 20L, "b", None),
      (3L, 30L, "c", Some(1.5)), (4L, 40L, "d", Some(2.5))))
    // pushed filters evaluate across generations: the widened column
    // compares as long everywhere; a column a file predates is null
    // there, so IsNotNull keeps only the newer generation
    assert(spark.read.format("graft-avro").option("mergeSchema", "true")
      .load(s"$root/gen*").filter($"v" > 15).count() == 3)
    assert(spark.read.format("graft-avro").option("mergeSchema", "true")
      .load(s"$root/gen*").filter($"extra".isNotNull)
      .select($"id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // aggregates decline pushdown in evolve mode but stay correct
    assert(spark.read.format("graft-avro").option("mergeSchema", "true")
      .load(s"$root/gen*").count() == 4)

    // past 64 files the header peeks run as one Spark job, deduped per
    // partition and then on the driver: the same merged schema
    spark.range(100, 170, 1, 70).select($"id", $"id".as("v"),
      concat(lit("m"), $"id".cast("string")).as("name"),
      ($"id" * 0.5).as("extra"))
      .write.format("graft-avro").mode("overwrite").save(s"$root/gen2b")
    val many = spark.read.format("graft-avro").option("mergeSchema", "true")
      .load(s"$root/gen*")
    assert(graft.sources.Avro.listFleet(spark, s"$root/gen*").size > 64)
    assert(many.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("v", "long"), ("name", "string"),
        ("extra", "double")))
    assert(many.count() == 74)

    // a real conflict (string vs long) fails loudly at merge time
    Seq((9L, "oops")).toDF("id", "v").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(s"$root/gen3")
    val conflict = intercept[Exception] {
      spark.read.format("graft-avro").option("mergeSchema", "true")
        .load(s"$root/gen*").collect()
    }
    assert(conflict.getMessage.contains("cannot merge") ||
      Option(conflict.getCause).exists(_.getMessage.contains("cannot merge")))
  }

  test("pushed filters drop rows before Catalyst and match the residual plan") {
    import spark.implicits._
    val dir = tmp("avro_filter_push") + "/t.avro"
    val df = spark.range(0, 1000)
      .select($"id", ($"id" % 7).cast("double").as("v"),
        concat(lit("g"), $"id" % 5).as("grp"),
        when($"id" % 10 === 0, null).otherwise($"id" * 2).as("maybe"))
    df.repartition(3).write.format("graft-avro").mode("overwrite").save(dir)
    val fleet = spark.read.format("graft-avro").load(dir)

    // comparison + IN + null-test compositions, incl. a filter column
    // (id) pruned from the output — the reader decodes it for the
    // predicate but never materializes it into the row
    val q = fleet.filter($"id" >= 100 && $"id" < 200 &&
        $"grp".isin("g1", "g3") && $"maybe".isNotNull)
      .select($"v", $"grp")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    // every conjunct is absorbed: no residual FilterExec above the scan
    assert(!plan.contains("Filter ("), plan)
    val expected = df.filter($"id" >= 100 && $"id" < 200 &&
        $"grp".isin("g1", "g3") && $"maybe".isNotNull)
      .select($"v", $"grp")
    assert(q.orderBy($"grp", $"v").collect().toSeq ==
      expected.orderBy($"grp", $"v").collect().toSeq)

    // UNKNOWN handling on Or: null maybe-values must not leak through
    val orQ = fleet.filter($"maybe" > 1900 || $"grp" === "g0")
    val orE = df.filter($"maybe" > 1900 || $"grp" === "g0")
    assert(orQ.count() == orE.count())
    assert(orQ.agg(sum($"id")).head().getLong(0) ==
      orE.agg(sum($"id")).head().getLong(0))

    // NOT stays residual (rejected by the evaluator), still correct
    val notQ = fleet.filter(!($"grp" === "g0"))
    assert(notQ.count() == df.filter(!($"grp" === "g0")).count())

    // pushed limit composes with pushed filters: limit counts
    // post-filter rows, so head(k) returns k MATCHING rows
    assert(fleet.filter($"grp" === "g2").limit(7).collect()
      .forall(_.getAs[String]("grp") == "g2"))
    assert(fleet.filter($"grp" === "g2").limit(7).count() == 7)
  }

  test("ungrouped count pushes to block headers, never decoding a record") {
    import spark.implicits._
    val dir = tmp("avro_count_push") + "/t.avro"
    val df = spark.range(0, 5000)
      .select($"id", concat(lit("v"), $"id").as("s"),
        when($"id" % 10 === 0, null).otherwise($"id").as("maybe"))
    df.repartition(3).write.format("graft-avro").mode("overwrite").save(dir)
    // this test pins the BLOCK-HEADER tier: strip the committed stats
    // so the metadata tier (own test in FleetStatsSpec) can't answer
    FleetStatsKit.stripStats(dir)
    val fleet = spark.read.format("graft-avro").load(dir)

    val agg = fleet.groupBy().count()
    val plan = agg.queryExecution.executedPlan
    assert(plan.toString.contains("PushedAggregation: [COUNT(*)]"),
      plan.toString)
    // the scan emits PARTIAL COUNTS ONLY — its read schema is one long
    // column, so no record column can have been decoded into the rows
    // Spark aggregates; the final agg above sums the per-split partials
    val scanSchema = agg.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => s.scan.readSchema()
    }.getOrElse(fail(s"no V2 scan relation in:\n$plan"))
    assert(scanSchema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.LongType), scanSchema.catalogString)
    assert(agg.head().getLong(0) == 5000)
    assert(fleet.count() == 5000)

    // several COUNT(*) in one aggregate: one partial column each
    val multi = fleet.selectExpr("count(*) as a", "count(*) as b").head()
    assert(multi.getLong(0) == 5000 && multi.getLong(1) == 5000)

    // sync-marker splits keep the block partition exact: shrinking the
    // split bound fans each file across ranges, partials still total
    val tiny = spark.read.format("graft-avro")
      .option("maxFileBytes", 4096).load(dir)
    assert(tiny.count() == 5000)

    // declined cases fall back to the row path and stay correct:
    // a filtered count must decode the filter column, a grouped count
    // the key, count(col) needs per-record null checks
    assert(fleet.filter($"id" < 100).count() == 100)
    val grouped = fleet.groupBy(($"id" % 2).as("m")).count()
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(grouped.count() == 2)
    assert(fleet.agg(count($"maybe")).head().getLong(0) == 4500)
  }

  test("V2 writer roundtrips with append and overwrite through save()") {
    import spark.implicits._
    val dir = tmp("avro_v2_write") + "/t.avro"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    df.repartition(2).write.format("graft-avro").mode("append").save(dir)
    // committed layout: job-tagged part files + the _SUCCESS marker
    val names = new java.io.File(dir).list().toSeq.filterNot(_.startsWith("."))
    assert(names.contains("_SUCCESS"), names.toString)
    assert(names.count(_.matches("part-\\d{5}-[0-9a-f]{8}\\.avro")) == 2,
      names.toString)
    assert(!names.exists(_.endsWith(".tmp")), names.toString)
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.orderBy($"id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // append: a second job lands alongside with no name collisions
    Seq((4L, "d")).toDF("id", "s").coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    assert(spark.read.format("graft-avro").load(dir).count() == 4)
    // overwrite truncates the previous fleet before writing
    Seq((9L, "z")).toDF("id", "s").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    val after = spark.read.format("graft-avro").load(dir)
    assert(after.as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // typed columns survive the V2 writer exactly (date/timestamp/binary)
    val typed = Seq(
      (1L, java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        Array[Byte](7, 8))
    ).toDF("id", "d", "ts", "bin")
    val tdir = tmp("avro_v2_typed") + "/t.avro"
    typed.write.format("graft-avro").mode("overwrite").save(tdir)
    val tback = spark.read.format("graft-avro").load(tdir).collect()(0)
    assert(tback.getAs[java.sql.Date]("d") == java.sql.Date.valueOf("2024-02-29"))
    assert(tback.getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"))
    assert(tback.getAs[Array[Byte]]("bin").toSeq == Seq[Byte](7, 8))
  }

  test("V2 writer duplicate attempts commit one complete final per partition") {
    import spark.implicits._
    val dir = tmp("avro_v2_dup") + "/t.avro"
    new java.io.File(dir).mkdirs()
    val schemaJson = Avro.toAvroSchema(
      Seq((1L, "a")).toDF("id", "s").schema).toString
    val conf = new graft.util.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val types: Array[org.apache.spark.sql.types.DataType] =
      Array(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.StringType)
    val factory = new graft.sources.AvroFleetWriterFactory(schemaJson,
      Array("id", "s"), types, dir, "deadbeef", conf)
    def internalRow(id: Long, s: String) =
      org.apache.spark.sql.catalyst.InternalRow(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
    // two attempts of partition 0 (speculation): both write temps, both
    // "commit" — the second must discard its temp, never clobber
    val w1 = factory.createWriter(0, 100L)
    w1.write(internalRow(1L, "a")); w1.commit(); w1.close()
    val committed = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-00000-deadbeef.avro"))
    val w2 = factory.createWriter(0, 101L)
    w2.write(internalRow(99L, "x")); w2.commit(); w2.close()
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-00000-deadbeef.avro")).toSeq ==
      committed.toSeq)
    // an aborted attempt leaves no temp behind
    val w3 = factory.createWriter(1, 102L)
    w3.write(internalRow(2L, "b")); w3.abort(); w3.close()
    val leftovers = new java.io.File(dir).list().toSeq
    assert(!leftovers.exists(_.endsWith(".tmp")), leftovers.toString)
    assert(!leftovers.contains("part-00001-deadbeef.avro"), leftovers.toString)
  }

  test("a late attempt never touches a committed final part file") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = tmp("avro_no_delete") + "/t.avro"
    new java.io.File(dir).mkdirs()
    val df = Seq((1L, "a")).toDF("id", "s")
    val schemaJson = Avro.toAvroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val conf = spark.sessionState.newHadoopConf()
    Avro.writePartitionFile(schemaJson, names, dir, 7, 1L, conf,
      Seq(Row(1L, "a")).iterator)
    val path = java.nio.file.Paths.get(dir, "part-00007.avro")
    val committed = java.nio.file.Files.readAllBytes(path)
    // a zombie attempt replaying different bytes must SKIP: with a
    // delete-then-rename protocol, dying between the two calls would
    // erase the twin's committed file (possibly after _SUCCESS)
    Avro.writePartitionFile(schemaJson, names, dir, 7, 2L, conf,
      Seq(Row(99L, "z")).iterator)
    assert(java.nio.file.Files.readAllBytes(path).toSeq == committed.toSeq)
    assert(!new java.io.File(dir).list().exists(_.endsWith(".tmp")))
  }
}
