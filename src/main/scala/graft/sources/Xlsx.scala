package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal self-contained XLSX (SpreadsheetML / ECMA-376) codec — reads
  * and writes real .xlsx workbooks with nothing beyond `java.util.zip`
  * and the JDK's StAX parser, closing the one §2.A row the survey had
  * scoped out for lack of a POI/spark-excel jar. An .xlsx file is a zip
  * of XML parts: `xl/workbook.xml` names the sheets, per-sheet
  * `xl/worksheets/sheetN.xml` holds rows of cells, and strings either
  * sit inline (`t="inlineStr"`) or index into `xl/sharedStrings.xml`
  * (`t="s"`). The writer emits inline strings (single-pass, no string
  * table to accumulate); the reader handles BOTH forms plus boolean
  * (`t="b"`), formula-cached-string (`t="str"`), and plain numeric
  * cells, so workbooks produced by mainstream tools load too.
  *
  * Scale honesty: XLSX is an INTERCHANGE format, hard-capped by its own
  * spec at 1,048,576 rows per sheet — per-sheet driver materialization
  * is therefore bounded by the format, not by this code. Reading stays
  * scalable the Spark way: `readDistributed` lists many workbooks via
  * the binaryFile source and parses them ON EXECUTORS (one task per
  * file), which is exactly how a 100 TB ingest of spreadsheet drops
  * works — thousands of small workbooks in parallel, landed to parquet
  * once (`Workbook.save`) and scanned columnar thereafter.
  */
object Xlsx {

  // ------------------------------------------------------------- write

  /** True iff `s(i)` starts a literal `_xHHHH_` 7-char sequence. */
  private def isXEscape(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i) == '_' && s.charAt(i + 1) == 'x' &&
      s.charAt(i + 6) == '_' &&
      (2 to 5).forall(j => Character.digit(s.charAt(i + j), 16) >= 0)

  private[graft] def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case '"' => b.append("&quot;")
        // control chars are illegal as XML 1.0 character data — encode
        // via OOXML's _xHHHH_ convention (what POI emits) so the value
        // SURVIVES a roundtrip instead of being silently dropped. '\r'
        // is escaped too even though it IS legal XML: §2.11 requires
        // parsers to normalize CR/CRLF to LF, so a literal '\r' would
        // silently read back as '\n'. '\t'/'\n' are legal AND
        // normalization-stable in element content, so they stay literal.
        case _ if c < ' ' && c != '\t' && c != '\n' =>
          b.append(f"_x${c.toInt}%04X_")
        // a literal substring that LOOKS like an escape must have its
        // underscore escaped, or decode would eat it
        case '_' if isXEscape(s, i) => b.append("_x005F_")
        case _ => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  /** Decode OOXML `_xHHHH_` escapes (ours and other writers'). */
  private[graft] def decodeXEscapes(s: String): String = {
    if (!s.contains("_x")) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (isXEscape(s, i)) {
        b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
        i += 7
      } else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  /** 0-based column index → A1-style letters (0→A, 25→Z, 26→AA). */
  private[graft] def colLetters(i: Int): String = {
    var n = i + 1; val b = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; b.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    b.toString
  }

  /** A1-style ref → 0-based column index ("BC23" → 54). */
  private[graft] def refToCol(ref: String): Int = {
    var n = 0; var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    n - 1
  }

  private def cellXml(ref: String, dt: DataType, v: Any): String = v match {
    case null => ""
    case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case d: Double if d.isNaN || d.isInfinite =>
      // xlsx has NO numeric NaN/Infinity representation; a raw
      // <v>NaN</v> is a corrupt part to Excel and silently demotes the
      // whole column to string in our own reader. Fail loudly.
      throw new IllegalArgumentException(
        s"xlsx cannot represent non-finite double $d (cell $ref) — " +
          "null or stringify non-finite values upstream")
    case f: Float if f.isNaN || f.isInfinite =>
      throw new IllegalArgumentException(
        s"xlsx cannot represent non-finite float $f (cell $ref) — " +
          "null or stringify non-finite values upstream")
    case _ => dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType =>
        s"""<c r="$ref"><v>$v</v></c>"""
      case _ =>
        // incl. DateType/TimestampType: xlsx has no typed date cell —
        // real dates are day serials + a numFmt style, which a
        // style-blind reader reads as bare doubles. We write ISO
        // STRINGS instead (readback infers string): lossless and
        // readable everywhere, at the cost of not being date-typed in
        // Excel. Contract documented at Workbook.save and pinned by a
        // WorkbookSpec roundtrip; format dates upstream (date_format)
        // if a specific string form is needed.
        s"""<c r="$ref" t="inlineStr"><is><t>${esc(v.toString)}</t></is></c>"""
    }
  }

  /** Stream one sheet's XML straight to the zip entry — rows come via
    * toLocalIterator and each row's bytes are written immediately, so
    * driver memory really is O(row) (a whole-sheet StringBuilder would
    * hold the uncompressed sheet and overflow near the row cap). The
    * format's own sheet cap is ENFORCED, not assumed — an out-of-spec
    * file would silently lose rows in consuming tools. */
  private def writeSheetXml(out: ZipOutputStream, df: DataFrame): Unit =
    writeSheetXml(out, df.schema, null, df)

  /** Iterator form, shared by the driver path (`rows = null`, streams
    * via toLocalIterator) and the executor-side fleet writer (a
    * partition iterator). */
  private def writeSheetXml(out: ZipOutputStream, schema: StructType,
      rows: Iterator[Row], df: DataFrame): Unit = {
    def emit(s: String): Unit = out.write(s.getBytes("UTF-8"))
    emit("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    emit("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    emit("<row r=\"1\">")
    schema.fields.zipWithIndex.foreach { case (f, c) =>
      emit(s"""<c r="${colLetters(c)}1" t="inlineStr"><is><t>${esc(f.name)}</t></is></c>""")
    }
    emit("</row>")
    var r = 1
    def one(row: Row): Unit = {
      r += 1
      require(r <= 1048576,
        "xlsx sheet cap (1,048,576 rows incl. header) exceeded — " +
          "xlsx is an interchange format; save big sheets as parquet " +
          "(the distributed fleet writer caps PER PART file)")
      val b = new StringBuilder(s"""<row r="$r">""")
      schema.fields.zipWithIndex.foreach { case (f, c) =>
        b.append(cellXml(s"${colLetters(c)}$r", f.dataType, row.get(c)))
      }
      b.append("</row>")
      emit(b.toString)
    }
    if (rows != null) rows.foreach(one)
    else df.toLocalIterator().forEachRemaining(one(_))
    emit("</sheetData></worksheet>")
  }

  /** One single-sheet workbook zip streamed to `out` — the executor
    * task body of `writeDistributed` (also exercised directly by the
    * driver fallback for empty frames). */
  private[sources] def writeSingleSheetWorkbook(out: java.io.OutputStream,
      sheet: String, schema: StructType, rows: Iterator[Row]): Unit = {
    val z = new ZipOutputStream(out)
    def entry(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        "</Types>")
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        s"""<sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/>""" +
        "</sheets></workbook>")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """</Relationships>""")
      z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      writeSheetXml(z, schema, rows, null)
      z.closeEntry()
    } finally z.close()
  }

  /** Write `df` as a DIRECTORY of single-sheet part workbooks at
    * `dir` — the xlsx twin of `Avro.writeDistributed`, sharing its
    * commit protocol verbatim (attempt-suffixed hidden temps,
    * rename-if-absent via `Avro.commitPart`, `_SUCCESS` written last
    * and REQUIRED by `listWorkbooks` on part-patterned directories).
    * Each part stays under the format's 1,048,576-row sheet cap
    * individually, so sheets beyond the single-file cap become a
    * fleet instead of failing — `readDistributed`/`Workbook.load`
    * reassemble them transparently. */
  def writeDistributed(s: SparkSession, dir: String, sheet: String,
      df: DataFrame): Unit = {
    val schema = df.schema
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val hadoopConf = s.sessionState.newHadoopConf()
    val fs = dirPath.getFileSystem(hadoopConf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val confB = s.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(hadoopConf))
    // per-part min/max/null stats for the fleet scan's planning-time
    // file skipping, folded from the PRE-escape row values (exactly
    // what `Xlsx.cast` reproduces on read) and carried back on an
    // accumulator; duplicate adds from re-run attempts collapse in the
    // driver-side toMap. Temporal columns are demoted to ISO strings
    // by the codec, so they are untracked — conservative, never wrong.
    val statsAcc = s.sparkContext.collectionAccumulator[
      (String, FleetStats.PartStats)]("graft.fleetStats")
    df.foreachPartition { (it: Iterator[Row]) =>
      val tc = org.apache.spark.TaskContext.get()
      if (it.hasNext || tc.partitionId() == 0) {
        val pid = tc.partitionId()
        val conf = confB.value.value
        val finalPath = new org.apache.hadoop.fs.Path(
          f"$dir/part-$pid%05d.xlsx")
        val taskFs = finalPath.getFileSystem(conf)
        if (!taskFs.exists(finalPath)) {
          val tmpPath = new org.apache.hadoop.fs.Path(
            f"$dir/.part-$pid%05d-attempt-${tc.taskAttemptId()}.xlsx.tmp")
          // floats are masked: the cell carries Float.toString and the
          // read side casts it to the string's nearest DOUBLE, which
          // can land outside the float's own double widening — bounds
          // from the write-time floats could then wrongly skip.
          // temporal types are masked too: this collector observes raw
          // EXTERNAL row values (Timestamp/Date objects, not the avro
          // writers' carrier integers), and the xlsx cell demotes them
          // to ISO strings that read back as StringType anyway
          val stats = new FleetStats.Collector(schema,
            dt => FleetStats.trackableType(dt) &&
              dt != org.apache.spark.sql.types.FloatType &&
              dt != org.apache.spark.sql.types.TimestampType &&
              dt != org.apache.spark.sql.types.DateType)
          val observed = it.map { row =>
            stats.startRow()
            var i = 0
            while (i < schema.length) {
              stats.observe(i, row.get(i)); i += 1
            }
            row
          }
          val out = taskFs.create(tmpPath, true)
          try writeSingleSheetWorkbook(out, sheet, schema, observed)
          finally out.close()
          Avro.commitPart(taskFs, tmpPath, finalPath)
          statsAcc.add(finalPath.getName ->
            stats.result(taskFs.getFileStatus(finalPath).getLen))
        }
      }
    }
    // empty LOCAL relations plan zero tasks — leave one schema-bearing
    // part so the directory roundtrips (same rule as the avro sink)
    if (Option(fs.listStatus(dirPath)).exists(
        _.forall(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_")))) {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/part-00000.xlsx"), true)
      try writeSingleSheetWorkbook(out, sheet, schema, Iterator.empty)
      finally out.close()
    }
    // data-skipping sidecar BEFORE the marker (same order as the avro
    // sinks): a fleet is never certified complete with its stats
    // profile still in flight
    val statEntries =
      scala.jdk.CollectionConverters.ListHasAsScala(statsAcc.value)
        .asScala.toMap
    if (statEntries.nonEmpty) FleetStats.write(fs, dirPath, statEntries)
    fs.create(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), true)
      .close()
  }

  /** Write sheets as ONE workbook file at `path` (any Hadoop-visible
    * filesystem — local, HDFS, object store). */
  def write(s: SparkSession, path: String,
      sheets: Seq[(String, DataFrame)]): Unit = {
    require(sheets.nonEmpty, "xlsx workbook needs at least one sheet")
    // enforce the format's sheet-name rules UP FRONT: our own reader
    // would accept looser names, but Excel rejects the workbook —
    // undercutting the interchange claim — so fail with the rule
    sheets.foreach { case (name, _) =>
      require(name.nonEmpty && name.length <= 31,
        s"xlsx sheet name must be 1-31 characters: '$name'")
      val bad = name.filter(c => "[]:*?/\\".contains(c) || c < ' ')
      require(bad.isEmpty,
        s"xlsx sheet name '$name' contains character(s) Excel rejects: " +
          bad.map(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)
            .mkString(", "))
    }
    val dupSheets = sheets.groupBy(_._1.toLowerCase).filter(_._2.size > 1)
    require(dupSheets.isEmpty,
      "xlsx sheet names must be unique case-insensitively; duplicates: " +
        dupSheets.values.map(_.map(_._1).mkString(" vs ")).mkString("; "))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = new ZipOutputStream(fs.create(p, true))
    def entry(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    try {
      val n = sheets.size
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          .mkString + "</Types>")
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
          .mkString + "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        out.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
        writeSheetXml(out, df)
        out.closeEntry()
      }
    } finally out.close()
  }

  // -------------------------------------------------------------- read

  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val m = mutable.Map[String, Array[Byte]]()
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) m(e.getName.stripPrefix("/")) = zin.readAllBytes()
      e = zin.getNextEntry
    }
    m.toMap
  }

  private def stax(in: InputStream) = {
    val f = XMLInputFactory.newInstance()
    // not expected in OOXML, but never resolve external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** Sheet names in workbook order. */
  def sheetNames(bytes: Array[Byte]): Seq[String] = {
    val r = stax(new ByteArrayInputStream(zipEntries(bytes)("xl/workbook.xml")))
    val names = mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet")
        names += r.getAttributeValue(null, "name")
    }
    names.toSeq
  }

  private def sheetTargets(entries: Map[String, Array[Byte]]): Map[String, String] = {
    // sheet name -> r:id (workbook.xml), r:id -> part path (rels)
    val wb = stax(new ByteArrayInputStream(entries("xl/workbook.xml")))
    val nameToRid = mutable.LinkedHashMap[String, String]()
    while (wb.hasNext) {
      if (wb.next() == XMLStreamConstants.START_ELEMENT &&
          wb.getLocalName == "sheet") {
        var rid: String = null
        (0 until wb.getAttributeCount).foreach { i =>
          if (wb.getAttributeLocalName(i) == "id") rid = wb.getAttributeValue(i)
        }
        nameToRid(wb.getAttributeValue(null, "name")) = rid
      }
    }
    val rels = stax(new ByteArrayInputStream(entries("xl/_rels/workbook.xml.rels")))
    val ridToTarget = mutable.Map[String, String]()
    while (rels.hasNext) {
      if (rels.next() == XMLStreamConstants.START_ELEMENT &&
          rels.getLocalName == "Relationship")
        ridToTarget(rels.getAttributeValue(null, "Id")) =
          rels.getAttributeValue(null, "Target")
    }
    nameToRid.map { case (name, rid) =>
      val t = ridToTarget(rid)
      val part = if (t.startsWith("/")) t.stripPrefix("/") else s"xl/$t"
      name -> part
    }.toMap
  }

  private def sharedStrings(entries: Map[String, Array[Byte]]): IndexedSeq[String] =
    entries.get("xl/sharedStrings.xml").fold(IndexedSeq.empty[String]) { b =>
      val r = stax(new ByteArrayInputStream(b))
      val out = mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var inSi = false; var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.clear()
            case "t" if inSi => inT = true
            case _ => ()
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inT =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += decodeXEscapes(cur.toString)
            case _ => ()
          }
        case _ => ()
      }
      out.toIndexedSeq
    }

  /** A read named a sheet the workbook does not have (the catalog maps
    * it to NoSuchTable; every other caller sees the plain
    * `NoSuchElementException` it always threw). */
  private[sources] final class NoSuchSheetException(msg: String)
      extends NoSuchElementException(msg)

  /** One fully-parsed workbook: zip entries, sheet-name→part map, and
    * shared strings, decoded ONCE so multi-sheet reads don't
    * re-decompress the archive per sheet. */
  private final class Parts(bytes: Array[Byte]) {
    val entries: Map[String, Array[Byte]] = zipEntries(bytes)
    val targets: Map[String, String] = sheetTargets(entries)
    val sst: IndexedSeq[String] = sharedStrings(entries)

    def sheet(name: String, maxDataRows: Int = Int.MaxValue)
        : (Array[String], Seq[Array[String]]) = {
      val part = targets.getOrElse(name,
        throw new NoSuchSheetException(
          s"no sheet '$name'; workbook has: ${targets.keys.toSeq.sorted.mkString(", ")}"))
      parseSheetPart(entries(part), sst, name, maxDataRows)
    }
  }

  /** Parse one sheet to (header, rows of nullable cell strings). Row 1
    * is the header (spreadsheet-as-database contract: header row is the
    * schema); later rows are padded/truncated to the header width. */
  def readSheet(bytes: Array[Byte], sheet: String,
      maxDataRows: Int = Int.MaxValue): (Array[String], Seq[Array[String]]) =
    new Parts(bytes).sheet(sheet, maxDataRows)

  private def parseSheetPart(part: Array[Byte], sst: IndexedSeq[String],
      sheet: String, maxDataRows: Int = Int.MaxValue)
      : (Array[String], Seq[Array[String]]) = {
    val r = stax(new ByteArrayInputStream(part))
    val rows = mutable.ArrayBuffer[mutable.Map[Int, String]]()
    var row: mutable.Map[Int, String] = null
    // col advances PER ROW: reset at row start, so ref-less cells
    // (legal SpreadsheetML, written by several streaming tools) land on
    // consecutive columns instead of collapsing onto column 0
    var col = -1; var cellType = "n"; var inV = false; var inIsT = false
    var done = false
    val text = new StringBuilder
    while (!done && r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => row = mutable.Map[Int, String](); col = -1
        case "c" if row != null =>
          val ref = r.getAttributeValue(null, "r")
          col = if (ref != null) refToCol(ref) else col + 1
          cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
          text.clear()
        case "v" => inV = true
        case "t" if cellType == "inlineStr" => inIsT = true
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA
        if inV || inIsT => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" => inIsT = false
        case "c" if row != null && col >= 0 =>
          val raw = text.toString
          val value = cellType match {
            case "s" => sst(raw.trim.toInt)
            case "b" => if (raw.trim == "1") "true" else "false"
            case "inlineStr" | "str" => decodeXEscapes(raw)
            case _ => if (raw.isEmpty) null else raw
          }
          if (value != null) row(col) = value
        case "row" =>
          rows += row; row = null
          // limit-pushdown bound: header + maxDataRows rows parsed,
          // the StAX cursor stops cold — a head(5) over a fleet of
          // million-row workbooks costs O(limit) per file
          if (rows.size > maxDataRows) done = true
        case _ => ()
      }
      case _ => ()
    }
    require(rows.nonEmpty, s"sheet '$sheet' has no header row")
    val width = (rows.head.keys ++ Seq(-1)).max + 1
    val header = (0 until width).map(c =>
      rows.head.getOrElse(c, s"_c$c")).toArray
    val data = rows.tail.zipWithIndex.map { case (m, ri) =>
      // silent truncation hides data loss (repo stance) — a data row
      // wider than the header means a malformed sheet, not extra nulls
      val maxc = (m.keys ++ Seq(-1)).max
      require(maxc < width,
        s"sheet '$sheet' row ${ri + 2} has a populated cell at column " +
          s"${colLetters(maxc)}, beyond the $width-column header row — " +
          "widen the header or fix the stray cell")
      (0 until width).map(c => m.getOrElse(c, null: String)).toArray
    }.toSeq
    (header, data)
  }

  private val longRe = "^-?\\d{1,18}$".r
  private val doubleRe = "^-?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r

  /** Column type inference over cell strings (all-long → long, all
    * numeric → double, all true/false → boolean, else string — the
    * same ladder CSV inference walks, deterministic by construction). */
  private[graft] def inferType(vals: Seq[String]): DataType = {
    val nn = vals.filter(_ != null)
    if (nn.isEmpty) StringType
    else if (nn.forall(v => longRe.matches(v.trim))) LongType
    else if (nn.forall(v => doubleRe.matches(v.trim))) DoubleType
    else if (nn.forall(v => v == "true" || v == "false")) BooleanType
    else StringType
  }

  private[sources] def cast(v: String, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case LongType => v.trim.toLong
      case DoubleType => v.trim.toDouble
      case BooleanType => v == "true"
      case _ => v
    }

  private def frameFrom(s: SparkSession, header: Array[String],
      data: Seq[Array[String]]): DataFrame = {
    val types = header.indices.map(c => inferType(data.map(_(c))))
    val schema = StructType(header.zip(types).map {
      case (n, t) => StructField(n, t, nullable = true)
    })
    val rows = data.map(r => Row.fromSeq(header.indices.map(c => cast(r(c), types(c)))))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** One sheet as a typed DataFrame (header row = schema). */
  def toDataFrame(s: SparkSession, bytes: Array[Byte], sheet: String): DataFrame = {
    val (header, data) = readSheet(bytes, sheet)
    frameFrom(s, header, data)
  }

  /** Read every sheet of the workbook at `path` (driver-side parse of
    * ONE workbook — bounded by the format's sheet cap; for fleets of
    * workbooks use `readDistributed`). The archive, rels, and shared
    * strings are decoded ONCE for all sheets. */
  def read(s: SparkSession, path: String): Map[String, DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val parts = new Parts(bytes)
    sheetNames(bytes).map { n =>
      val (header, data) = parts.sheet(n)
      n -> frameFrom(s, header, data)
    }.toMap
  }

  /** Resolve a glob (or directory) to the fleet's workbook files, each
    * bounded: every workbook is one whole-file executor task, so one
    * huge drop must fail loudly instead of straggling/OOMing. Shared
    * by the schema peek and the `graft-xlsx` V2 connector. */
  private[sources] def listWorkbooks(s: SparkSession,
      glob: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val gp = new org.apache.hadoop.fs.Path(glob)
    val fs = gp.getFileSystem(s.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
    val candidates = matched.flatMap {
      case d if d.isDirectory =>
        val all = fs.listStatus(d.getPath).toSeq
        val data = all.filter(st => st.isFile &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
        // same commit contract as the avro fleet: a directory of
        // sink-patterned part workbooks without the marker is a
        // killed/in-flight writeDistributed job
        if (data.exists(_.getPath.getName.matches("part-\\d{5}\\.xlsx")))
          require(all.exists(_.getPath.getName == "_SUCCESS"),
            s"${d.getPath} holds part-*.xlsx files but no _SUCCESS " +
              "marker — uncommitted or partial writeDistributed output; " +
              "re-run the write (or add a _SUCCESS marker if this " +
              "directory was produced complete by another tool)")
        data
      case f => Seq(f)
    }
    require(candidates.nonEmpty, s"no workbooks match: $glob")
    candidates.foreach(st => require(st.getLen <= 512L * 1024 * 1024,
      s"xlsx ingest holds a whole workbook in one task; ${st.getPath} " +
        s"is ${st.getLen} bytes (> 512 MiB) — split the workbook or " +
        "land it to parquet"))
    candidates
  }

  /** Fleet schema peek: header + inferred types from the
    * lexicographically FIRST workbook (deterministic; type inference
    * needs the sheet's DATA, so unlike Avro's header-only peek the
    * whole first workbook is read on the driver — bounded by
    * `listWorkbooks`' per-file guard).
    *
    * MEMOIZED process-wide, the `FleetManifest` snapshot-cache
    * contract: keyed by (qualified path of that first workbook, sheet)
    * and validated against the (modificationTime, len) of its status
    * in the listing, which still runs on EVERY call — so the
    * `_SUCCESS` and size guards keep firing, and a rewritten or
    * replaced first workbook re-peeks. A hit reads zero bytes. Only
    * successful peeks are remembered (a missing sheet fails again, and
    * reads once the sheet exists); each call gets a fresh schema. */
  private[sources] def peekFleetSchema(s: SparkSession, glob: String,
      sheet: String): StructType = {
    val first = listWorkbooks(s, glob).minBy(_.getPath.toString)
    val fs = first.getPath.getFileSystem(s.sessionState.newHadoopConf())
    val key = (fs.makeQualified(first.getPath).toString, sheet)
    val hit = peekCache.get(key)
    val (header, types) =
      if (hit != null && hit._1 == first.getModificationTime &&
          hit._2 == first.getLen) (hit._3, hit._4)
      else {
        val in = fs.open(first.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        val (header, data) = readSheet(bytes, sheet)
        val types = header.indices.map(c => inferType(data.map(_(c))))
        if (peekCache.size > 4096) peekCache.clear() // tiny entries; rare
        peekCache.put(key,
          (first.getModificationTime, first.getLen, header, types))
        (header, types)
      }
    StructType(header.zip(types).map {
      case (n, t) => StructField(n, t, nullable = true)
    })
  }

  private val peekCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Long, Array[String], IndexedSeq[DataType])]()

  /** Distributed ingest of MANY workbooks — a thin veneer over the
    * `graft-xlsx` DataSource V2 connector (`XlsxFleetSource`): one
    * task per file, the named sheet parsed on EXECUTORS, schema pinned
    * by the deterministic first-workbook peek (`peekFleetSchema`) and
    * the header re-checked per file (a type that only widens in a
    * later file fails that file's task with a per-file error naming
    * the column; land via per-file `read` if the fleet's types are
    * dirty). Catalyst pushes ANY downstream projection into the scan —
    * only projected columns are cast and materialized; the sheet XML
    * itself is still scanned per file (SpreadsheetML is row-major with
    * no column substructure to seek past — the honest floor, unlike
    * Avro's byte-level field skipping). `columns` stays as a
    * convenience for callers that know their subset up front. This is
    * the 100 TB shape for spreadsheet drops: parallel parse → land to
    * parquet once. */
  def readDistributed(s: SparkSession, glob: String, sheet: String,
      columns: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = s.read.format("graft-xlsx").option("sheet", sheet).load(glob)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }
}
