package graft

import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import graft.sources.Xlsx

/** The pure-JDK SpreadsheetML codec: write→read roundtrips (types,
  * nulls, XML-special characters), the sharedStrings cell form our
  * writer never emits (so tool-written workbooks load), multi-sheet
  * Workbook-facade roundtrip, and the distributed many-workbook read. */
class XlsxSpec extends SparkSpec {

  private def tmp(name: String): String =
    graft.util.Scratch.dir(name)

  test("xlsx roundtrip preserves longs, doubles, booleans, strings, nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(1.5), Some(true), Some("plain")),
      (2L, Some(-2.25e3), Some(false), Some("""specials <&>" and 'quotes'""")),
      (3L, None, None, None),
      (4L, Some(0.0), Some(true), Some("unicode café ☕"))
    ).toDF("id", "x", "flag", "note")
    val path = tmp("xlsx_rt") + "/wb.xlsx"
    Xlsx.write(spark, path, Seq("t" -> df))
    val back = Xlsx.read(spark, path)("t").orderBy($"id")
    assert(back.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("id" -> "long", "x" -> "double", "flag" -> "boolean",
        "note" -> "string"))
    val rows = back.collect()
    assert(rows.length == 4)
    assert(rows(1).getString(3) == """specials <&>" and 'quotes'""")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
    assert(rows(3).getString(3) == "unicode café ☕")
    assert(rows(1).getDouble(1) == -2250.0 && !rows(1).getBoolean(2))
  }

  test("xlsx column letters and refs are inverse up to wide sheets") {
    (0 until 1000).foreach { i =>
      assert(Xlsx.refToCol(Xlsx.colLetters(i) + "17") == i)
    }
    assert(Xlsx.colLetters(0) == "A" && Xlsx.colLetters(25) == "Z" &&
      Xlsx.colLetters(26) == "AA" && Xlsx.colLetters(701) == "ZZ")
  }

  test("reader handles the sharedStrings form mainstream tools write") {
    // hand-build a workbook using t="s" cells + sharedStrings.xml —
    // the one cell encoding our writer never produces
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
      """<row r="2"><c r="A2"><v>7</v></c><c r="B2" t="s"><v>2</v></c></row>""" +
      """<row r="3"><c r="A3"><v>8</v></c><c r="B3" t="s"><v>0</v></c></row>""" +
      """</sheetData></worksheet>"""
    val sst =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">""" +
      """<si><t>k</t></si><si><t>v</t></si>""" +
      """<si><r><t>run one </t></r><r><t>run two</t></r></si></sst>"""
    val wb =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>"""
    val bout = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bout)
    Seq("xl/workbook.xml" -> wb, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> sst, "xl/worksheets/sheet1.xml" -> sheet)
      .foreach { case (n, c) =>
        z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
      }
    z.close()
    val (header, rows) = Xlsx.readSheet(bout.toByteArray, "s1")
    assert(header.toSeq == Seq("k", "v"))
    // multi-run <si> concatenates its runs; index 0 reused across rows
    assert(rows.map(_.toSeq) ==
      Seq(Seq("7", "run one run two"), Seq("8", "k")))
  }

  test("reader advances ref-less cells across columns, not onto column 0") {
    // cells without the optional r attribute are legal SpreadsheetML
    // (several streaming writers omit it); they must land on
    // consecutive columns per row
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row><c t="inlineStr"><is><t>a</t></is></c><c t="inlineStr"><is><t>b</t></is></c><c t="inlineStr"><is><t>c</t></is></c></row>""" +
      """<row><c><v>1</v></c><c><v>2</v></c><c><v>3</v></c></row>""" +
      """<row><c><v>4</v></c><c><v>5</v></c><c><v>6</v></c></row>""" +
      """</sheetData></worksheet>"""
    val wb =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>"""
    val bout = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bout)
    Seq("xl/workbook.xml" -> wb, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheet).foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    val (header, rows) = Xlsx.readSheet(bout.toByteArray, "s1")
    assert(header.toSeq == Seq("a", "b", "c"))
    assert(rows.map(_.toSeq) == Seq(Seq("1", "2", "3"), Seq("4", "5", "6")))
  }

  test("control characters in strings survive the roundtrip via _xHHHH_") {
    import spark.implicits._
    // a vertical tab (0x0B, illegal in XML 1.0), a literal string that
    // LOOKS like an escape, and plain whitespace-bearing text
    val df = Seq(
      (1L, "bellandvt"),
      (2L, "literal _x0041_ stays"),
      (3L, "tab\tand\nnewline ok"),
      // '\r' is LEGAL XML but parsers normalize CR/CRLF→LF (§2.11), so
      // it must travel as _x000D_ or it silently reads back as '\n'
      (4L, "cr\rand crlf\r\nmust survive")
    ).toDF("id", "s")
    val path = tmp("xlsx_ctrl") + "/wb.xlsx"
    Xlsx.write(spark, path, Seq("data" -> df))
    val back = Xlsx.read(spark, path)("data").orderBy($"id")
      .as[(Long, String)].collect().toSeq
    assert(back == Seq(
      (1L, "bellandvt"),
      (2L, "literal _x0041_ stays"),
      (3L, "tab\tand\nnewline ok"),
      (4L, "cr\rand crlf\r\nmust survive")), back.toString)
  }

  test("writer rejects sheet names Excel would reject") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val dir = tmp("xlsx_names")
    val tooLong = intercept[IllegalArgumentException] {
      Xlsx.write(spark, s"$dir/a.xlsx", Seq(("s" * 32) -> df))
    }
    assert(tooLong.getMessage.contains("1-31"))
    val badChar = intercept[IllegalArgumentException] {
      Xlsx.write(spark, s"$dir/b.xlsx", Seq("q1/q2" -> df))
    }
    assert(badChar.getMessage.contains("rejects"))
    val ciDup = intercept[IllegalArgumentException] {
      Xlsx.write(spark, s"$dir/c.xlsx",
        Seq("Data" -> df, "data" -> df))
    }
    assert(ciDup.getMessage.contains("case-insensitively"))
  }

  test("reader fails loudly on data rows wider than the header") {
    import spark.implicits._
    // hand-build a sheet whose row 2 has a cell in column C beyond the
    // 2-column header — the reader must name the offending cell, not
    // silently drop it
    val sheetXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>""" +
      """<c r="B1" t="inlineStr"><is><t>b</t></is></c></row>""" +
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c>""" +
      """<c r="C2"><v>3</v></c></row>""" +
      """</sheetData></worksheet>"""
    val wbXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>"""
    val bout = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bout)
    Seq("xl/workbook.xml" -> wbXml, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheetXml).foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    val e = intercept[IllegalArgumentException] {
      Xlsx.readSheet(bout.toByteArray, "s1")
    }
    assert(e.getMessage.contains("row 2") && e.getMessage.contains("C"),
      e.getMessage)
  }

  test("writer rejects non-finite doubles loudly") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "x")
    val e = intercept[Exception] {
      Xlsx.write(spark, tmp("xlsx_nan") + "/wb.xlsx", Seq("t" -> df))
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(msgs.contains("non-finite"),
      s"expected the non-finite guard, got: $msgs")
  }

  test("workbook facade saves and reloads the native xlsx format") {
    import spark.implicits._
    val dir = tmp("xlsx_wb")
    val wb = Workbook(spark, Map(
      "nation" -> graft.util.Tables.nation(spark, sfDir),
      "region" -> graft.util.Tables.region(spark, sfDir)
        .select($"r_regionkey", $"r_name")))
    wb.save(dir, format = "xlsx")
    val back = Workbook.load(spark, dir)
    assert(back.sheetNames == Seq("nation", "region"))
    val o = wb.sheet("nation").orderBy($"n_nationkey")
      .collect().map(_.toSeq.map(String.valueOf))
    val b = back.sheet("nation").orderBy($"n_nationkey")
      .collect().map(_.toSeq.map(String.valueOf))
    assert(o.toSeq == b.toSeq)
    assert(back.sheet("region").count() ==
      graft.util.Tables.region(spark, sfDir).count())
  }

  test("wide sheets roundtrip through double-letter column refs") {
    import spark.implicits._
    // 30 columns crosses the Z -> AA boundary, pinning writer and
    // reader column addressing against each other end-to-end
    val cols = (0 until 30).map(i => s"c$i")
    val df = spark.range(5).select(
      cols.zipWithIndex.map { case (n, i) => ($"id" * 30 + i).as(n) }: _*)
    val path = tmp("xlsx_wide") + "/wb.xlsx"
    Xlsx.write(spark, path, Seq("w" -> df))
    val back = Xlsx.read(spark, path)("w")
    assert(back.columns.toSeq == cols)
    val got = back.orderBy($"c0").collect().map(_.toSeq)
    val want = df.orderBy($"c0").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("header-only sheet roundtrips as an empty all-string frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "name")
    val path = tmp("xlsx_empty") + "/wb.xlsx"
    Xlsx.write(spark, path, Seq("t" -> empty))
    val back = Xlsx.read(spark, path)("t")
    assert(back.columns.toSeq == Seq("id", "name"))
    assert(back.count() == 0)
    // no data rows -> nothing to infer from -> string columns (the
    // CSV-inference convention for empty input)
    assert(back.schema.forall(_.dataType.typeName == "string"))
  }

  test("distributed read parses many workbooks on executors") {
    import spark.implicits._
    val dir = tmp("xlsx_fleet")
    (0 until 3).foreach { i =>
      val part = spark.range(i * 10, i * 10 + 10)
        .select($"id", concat(lit("n"), $"id").as("name"))
      Xlsx.write(spark, s"$dir/part$i.xlsx", Seq("data" -> part))
    }
    val all = Xlsx.readDistributed(spark, s"$dir/*.xlsx", "data")
    assert(all.schema.map(_.name) == Seq("id", "name"))
    assert(all.count() == 30)
    assert(all.agg(sum($"id")).head().getLong(0) == (0 until 30).sum)
    // parse runs in tasks, not on the driver: more than one input task
    assert(all.rdd.getNumPartitions >= 1)
  }

  test("distributed read prunes to requested columns, in request order") {
    import spark.implicits._
    val dir = tmp("xlsx_fleet_prune")
    (0 until 2).foreach { i =>
      val part = spark.range(i * 5, i * 5 + 5)
        .select($"id", ($"id" * 2.5).as("v"),
          concat(lit("n"), $"id").as("name"), ($"id" % 2 === 0).as("even"))
      Xlsx.write(spark, s"$dir/part$i.xlsx", Seq("data" -> part))
    }
    // the scan's ReadSchema is the observable pruning contract: the
    // graft-xlsx V2 connector receives the projection from Catalyst
    // and only those columns are cast and materialized
    val pruned = Xlsx.readDistributed(spark, s"$dir/*.xlsx", "data",
      columns = Seq("name", "id"))
    assert(pruned.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("name" -> "string", "id" -> "long"))
    assert(pruned.orderBy($"id").as[(String, Long)].collect().toSeq ==
      (0L until 10L).map(i => (s"n$i", i)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan)
    // scan keeps ORIGINAL header order; the select above reorders
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"), plan)
    // pruning holds WITHOUT an explicit column list too — any
    // downstream projection is pushed into the scan
    val auto = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/*.xlsx").select($"v")
    assert(auto.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<v:double>"))
    assert(auto.agg(sum($"v")).head().getDouble(0) ==
      (0 until 10).map(_ * 2.5).sum)
    // empty projection (count(*)): zero columns cast, count preserved
    assert(spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/*.xlsx").count() == 10)
    // unknown columns fail at analysis, naming the column
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Xlsx.readDistributed(spark, s"$dir/*.xlsx", "data",
        columns = Seq("absent"))
    }
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("schema peek memo re-peeks a first workbook rewritten in place") {
    import spark.implicits._
    val dir = tmp("xlsx_peek_rewrite")
    Xlsx.write(spark, s"$dir/part0.xlsx",
      Seq("data" -> Seq((1L, 10L), (2L, 20L)).toDF("id", "code")))
    assert(Xlsx.readDistributed(spark, dir, "data").schema("code")
      .dataType.typeName == "long")
    // same path, `code` now text (and the file longer, so its listed
    // (mtime, len) moves): the next read must see the new schema
    Xlsx.write(spark, s"$dir/part0.xlsx", Seq("data" ->
      Seq((1L, "ten as text"), (2L, "twenty as text")).toDF("id", "code")))
    val back = Xlsx.readDistributed(spark, dir, "data")
    assert(back.schema("code").dataType.typeName == "string")
    assert(back.orderBy($"id").select($"code").as[String].collect().toSeq ==
      Seq("ten as text", "twenty as text"))
  }

  test("a failed schema peek is not remembered") {
    import spark.implicits._
    val dir = tmp("xlsx_peek_fail")
    val a = Seq((1L, "x")).toDF("id", "name")
    Xlsx.write(spark, s"$dir/wb.xlsx", Seq("a" -> a))
    val e = intercept[Exception](Xlsx.readDistributed(spark, dir, "b"))
    assert(e.getMessage.contains("no sheet 'b'"), e.getMessage)
    Xlsx.write(spark, s"$dir/wb.xlsx",
      Seq("a" -> a, "b" -> Seq((7L, 2.5)).toDF("k", "v")))
    assert(Xlsx.readDistributed(spark, dir, "b").as[(Long, Double)]
      .collect().toSeq == Seq((7L, 2.5)))
  }

  test("a repeated distributed read reads no workbook bytes before its action") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = tmp("xlsx_peek_bytes")
    (0 until 2).foreach { i =>
      Xlsx.write(spark, s"$dir/part$i.xlsx",
        Seq("data" -> spark.range(i * 10, i * 10 + 10).toDF("id")))
    }
    def fileBytesRead(): Long =
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val first = Xlsx.readDistributed(spark, dir, "data")
    val before = fileBytesRead()
    val again = Xlsx.readDistributed(spark, dir, "data")
    assert(fileBytesRead() == before, "the memoized peek re-read a workbook")
    assert(again.schema == first.schema)
    assert(again.agg(sum($"id")).head().getLong(0) == (0 until 20).sum)
  }

  test("distributed write shards a sheet into committed part workbooks") {
    import spark.implicits._
    val dir = tmp("xlsx_dist_write") + "/big.xlsx"
    val df = spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 9).cast("double").as("v"),
        concat(lit("r"), $"id").as("name"))
    Xlsx.writeDistributed(spark, dir, "big", df)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"), names.toString)
    assert(names.count(_.matches("part-\\d{5}\\.xlsx")) == 4, names.toString)
    assert(!names.exists(_.endsWith(".tmp")), names.toString)
    // reassembles through the fleet reader (inference: long/double/str)
    val back = Xlsx.readDistributed(spark, dir, "big")
    assert(back.count() == 1000)
    assert(back.agg(sum($"id")).head().getLong(0) == (0L until 1000L).sum)
    assert(back.filter($"id" === 999L).head().getString(2) == "r999")
    // without the marker the directory reads as uncommitted output
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val e = intercept[IllegalArgumentException] {
      Xlsx.readDistributed(spark, dir, "big").collect()
    }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    // empty frames still leave one schema-bearing part
    val edir = tmp("xlsx_dist_empty") + "/e.xlsx"
    Xlsx.writeDistributed(spark, edir, "e",
      Seq.empty[(Long, String)].toDF("id", "s"))
    val eback = Xlsx.readDistributed(spark, edir, "e")
    assert(eback.columns.toSeq == Seq("id", "s"))
    assert(eback.count() == 0)
  }

  test("pushed filters drop xlsx rows before materialization") {
    import spark.implicits._
    val dir = tmp("xlsx_filter_push")
    (0 until 2).foreach { i =>
      val part = spark.range(i * 50, i * 50 + 50)
        .select($"id", ($"id" % 3).cast("double").as("v"),
          concat(lit("g"), $"id" % 4).as("grp"))
      Xlsx.write(spark, s"$dir/part$i.xlsx", Seq("data" -> part))
    }
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/*.xlsx")
    val q = fleet.filter($"id" >= 20 && $"grp".isin("g1", "g2"))
      .select($"v", $"grp")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(!plan.contains("Filter ("), plan)
    val ids = (20L until 100L).filter(i => i % 4 == 1 || i % 4 == 2)
    assert(q.count() == ids.size)
    assert(q.agg(sum($"v")).head().getDouble(0) ==
      ids.map(_ % 3).sum.toDouble)
    // filter + limit: k MATCHING rows
    assert(fleet.filter($"grp" === "g3").limit(5).collect()
      .forall(_.getAs[String]("grp") == "g3"))
    assert(fleet.filter($"grp" === "g3").limit(5).count() == 5)
  }

  test("limit pushdown stops the StAX parse after N data rows per file") {
    import spark.implicits._
    val dir = tmp("xlsx_fleet_limit")
    (0 until 2).foreach { i =>
      val part = spark.range(i * 100, i * 100 + 100)
        .select($"id", concat(lit("n"), $"id").as("name"))
      Xlsx.write(spark, s"$dir/part$i.xlsx", Seq("data" -> part))
    }
    // the parse-time bound itself: a 100-row sheet parsed with
    // maxDataRows=5 materializes exactly 5 data rows — the cursor
    // stops cold, it does not parse-then-truncate
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part0.xlsx"))
    val (h, rows) = Xlsx.readSheet(bytes, "data", maxDataRows = 5)
    assert(h.toSeq == Seq("id", "name"))
    assert(rows.size == 5, s"parsed ${rows.size} rows")
    assert(rows.map(_(0)).toSeq == (0 until 5).map(_.toString))
    // and the V2 plumbing: head(5) pushes the bound into the scan —
    // visible as PushedLimit — and still returns correct rows
    val fleet = spark.read.format("graft-xlsx").option("sheet", "data")
      .load(s"$dir/*.xlsx")
    val limited = fleet.orderBy($"id").limit(5)
    assert(limited.as[(Long, String)].collect().toSeq ==
      (0L until 5L).map(i => (i, s"n$i")))
    val plan = fleet.limit(5).queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 5"), plan)
  }
}
