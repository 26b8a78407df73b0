package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.SerializableHadoopConf

/** DataSource V2 connector for xlsx workbook fleets
  * (`spark.read.format("graft-xlsx").option("sheet", name).load(glob)`)
  * — the `AvroFleetSource` pattern applied to the spreadsheet codec:
  * one `InputPartition` per workbook, the shared `listWorkbooks`
  * bound, schema (header + inferred types) pinned by the deterministic
  * first-workbook peek, header re-checked per file, and
  * `SupportsPushDownRequiredColumns` so any downstream projection
  * reaches executors as a column-index subset — only projected cells
  * are cast and materialized into rows. The XML parse per file is
  * unavoidable (SpreadsheetML is row-major, nothing to seek past), so
  * unlike avro the pruning here saves materialization, not bytes:
  * documented floor, visible in the BatchScan ReadSchema either way.
  *
  * Every `load()` re-lists the fleet (guards included), but the peek
  * is memoized per (first workbook's qualified path, sheet) and
  * validated against that workbook's listed (modificationTime, len)
  * (`Xlsx.peekFleetSchema`): repeated queries over an unchanged fleet
  * read no workbook bytes on the driver until their action runs.
  */
class XlsxFleetSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-xlsx"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-xlsx needs a single load path (directory, file, or glob)")
    p
  }

  private def sheetOf(options: CaseInsensitiveStringMap): String = {
    val sh = options.get("sheet")
    require(sh != null && sh.nonEmpty,
      "graft-xlsx needs a 'sheet' option naming the sheet to read")
    sh
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Xlsx.peekFleetSchema(SparkSession.active, pathOf(options),
      sheetOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new XlsxFleetTable(schema, pathOf(opts), sheetOf(opts))
  }
}

private[sources] class XlsxFleetTable(tableSchema: StructType, path: String,
    sheet: String) extends Table with SupportsRead {

  override def name(): String = s"graft-xlsx `$path` sheet `$sheet`"

  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxFleetScanBuilder(tableSchema, path, sheet)
}

private[sources] class XlsxFleetScanBuilder(fullSchema: StructType,
    path: String, sheet: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var countRows: Option[(Int, Long)] = None // (#aggs, total)
  private var topN: Option[(Seq[TopNOrder], Int)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // PARTIAL limit pushdown (same contract as the avro fleet): the
  // StAX parse stops after `limit` data rows per workbook, so a
  // head()/show() over a fleet costs O(limit) per file instead of a
  // full-sheet parse; Spark's own Limit enforces the global count
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  // same shared evaluator as the avro fleet (FleetFilters): accepted
  // filters are absorbed, rows failing them never materialize into
  // InternalRows; the rest stay residual for Spark
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (ok, rest) = filters.partition(FleetFilters.supported(fullSchema, _))
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  /** PARTIAL TopN (the avro fleet's contract, shared `TopNHeap`): the
    * sheet parse is unavoidable, but each workbook ships its n best
    * (post-filter) rows instead of the whole sheet — the saving here
    * is materialization and shuffle width, not parse bytes. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    val parsed = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            fullSchema.exists(f => f.name == nr.fieldNames()(0) &&
              FleetStats.trackableType(f.dataType)) =>
          Some(TopNOrder(nr.fieldNames()(0),
            so.direction() == SortDirection.ASCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (l > 0 && parsed.nonEmpty && parsed.forall(_.isDefined)) {
      topN = Some((parsed.flatten, l))
      true
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  /** Ungrouped, unfiltered COUNT(*) answered ENTIRELY from the
    * `_stats.json` sidecars the fleet sink writes — a count over a
    * workbook fleet then never unzips a single workbook, which for
    * this codec skips its one real cost (the full per-file XML parse;
    * avro has block headers to fall back on, SpreadsheetML has
    * nothing). Declines unless EVERY workbook carries a length-matched
    * sidecar entry — a foreign or rewritten workbook would make the
    * metadata total silently wrong. */
  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty ||
        !agg.aggregateExpressions.forall(_.isInstanceOf[CountStar]))
      return false
    val s = SparkSession.active
    val workbooks = Xlsx.listWorkbooks(s, path)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      s.sessionState.newHadoopConf())
    val stats = FleetStats.forFleet(fs, workbooks)
    if (!workbooks.forall(st => stats.contains(st.getPath.toString)))
      return false
    countRows = Some((agg.aggregateExpressions.length,
      workbooks.map(st => stats(st.getPath.toString).rows).sum))
    true
  }

  override def build(): Scan = countRows match {
    case Some((n, total)) => new XlsxFleetCountScan(path, sheet, n, total)
    case None =>
      new XlsxFleetScan(fullSchema, required, path, sheet, limit, pushed,
        topN)
  }
}

/** The sidecar-resolved COUNT(*): one partition, one row, zero
  * workbooks opened (values fixed at pushdown time; Spark's rewritten
  * final aggregate sums the single partial — the identity). */
private[sources] class XlsxFleetCountScan(path: String, sheet: String,
    countStars: Int, total: Long) extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    (0 until countStars).map(i => StructField(s"count_star_$i",
      org.apache.spark.sql.types.LongType, nullable = false)))

  override def description(): String =
    s"graft-xlsx $path sheet=$sheet PushedAggregation(metadata): [COUNT(*)]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(XlsxCountPartition(total))

  override def createReaderFactory(): PartitionReaderFactory = {
    val width = countStars // don't capture the (non-serializable) scan
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] = {
        val n = p.asInstanceOf[XlsxCountPartition].total
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean =
            if (done) false else { done = true; true }
          override def get(): InternalRow =
            new GenericInternalRow(Array.fill[Any](width)(n))
          override def close(): Unit = ()
        }
      }
    }
  }
}

private[sources] case class XlsxCountPartition(total: Long)
    extends InputPartition

private[sources] class XlsxFleetScan(fullSchema: StructType,
    required: StructType, path: String, sheet: String,
    limit: Option[Int],
    pushedFilters: Array[org.apache.spark.sql.sources.Filter],
    topN: Option[(Seq[TopNOrder], Int)] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-xlsx $path sheet=$sheet ReadSchema: ${required.catalogString}" +
      limit.map(l => s", PushedLimit: $l").getOrElse("") +
      topN.map { case (os, l) => s", PushedTopN: [" +
        os.map(o => s"${o.col} ${if (o.asc) "ASC" else "DESC"} " +
          s"NULLS ${if (o.nullsFirst) "FIRST" else "LAST"}")
          .mkString(", ") + s"] LIMIT $l" }.getOrElse("") +
      (if (pushedFilters.isEmpty) ""
       else s", PushedFilters: [${pushedFilters.mkString(", ")}]")

  override def toBatch: Batch = this

  // one driver-side listing shared by stats + partition planning
  private lazy val workbooks = Xlsx.listWorkbooks(SparkSession.active, path)

  // per-workbook stats from `_stats.json` sidecars written by the
  // fleet sink (one small driver-side read per directory)
  private lazy val fleetStats = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    FleetStats.forFleet(fs, workbooks)
  }

  /** Planning-time file skipping, same contract as `AvroFleetScan`:
    * a workbook whose sidecar profile proves a pushed conjunct can
    * never match is never scheduled — for this codec that skips the
    * one cost pruning can't touch, the full per-file XML parse. The
    * skip evaluator is carrier-family-guarded, so a column whose
    * INFERRED read type diverged from its write type (digit strings
    * read back as long) just gets read, never mis-skipped. */
  private lazy val survivors =
    if (pushedFilters.isEmpty) workbooks
    else workbooks.filterNot { st =>
      fleetStats.get(st.getPath.toString).exists(ps =>
        pushedFilters.exists(FleetStats.neverMatches(_, ps)))
    }

  /** Same planner contract as `AvroFleetScan.estimateStatistics`:
    * POST-skip fleet on-disk bytes scaled by the projected-column
    * fraction, floored at one column — so a small workbook fleet
    * auto-broadcasts instead of inheriting `defaultSizeInBytes` =
    * Long.MaxValue. The zip-deflated SpreadsheetML bytes are a rough
    * proxy for row width, which is all the broadcast-threshold
    * decision needs; `numRows` is the surviving workbooks' recorded
    * row total when every one carries sidecar stats. */
  override def estimateStatistics(): Statistics = {
    val totalBytes = survivors.map(_.getLen).sum
    val frac =
      if (fullSchema.isEmpty) 1.0
      else math.max(required.size, 1).toDouble / fullSchema.size
    val size = math.max(1L, math.ceil(totalBytes * frac).toLong)
    val rows =
      if (survivors.forall(st => fleetStats.contains(st.getPath.toString)))
        java.util.OptionalLong.of(
          survivors.map(st => fleetStats(st.getPath.toString).rows).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    survivors.map(_.getPath.toString).sorted
      .map(XlsxFilePartition(_)).toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = SparkSession.active
    new XlsxFleetReaderFactory(sheet, fullSchema.fieldNames,
      required.fields.map(f => (f.name, f.dataType)),
      fullSchema.fields.map(f => (f.name, f.dataType)), limit,
      pushedFilters,
      new SerializableHadoopConf(s.sessionState.newHadoopConf()), topN)
  }
}

private[sources] case class XlsxFilePartition(file: String)
    extends InputPartition

/** Serialized per task: sheet name, the pinned full header (for the
  * per-file mismatch check), the projected (name, type) pairs in scan
  * order, and the session Hadoop conf. */
private[sources] class XlsxFleetReaderFactory(sheet: String,
    fullHeader: Array[String], projected: Array[(String, DataType)],
    fullTypes: Array[(String, DataType)], limit: Option[Int],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf,
    topN: Option[(Seq[TopNOrder], Int)] = None)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[XlsxFilePartition].file
    val inner = new XlsxFleetRowReader(file, sheet, fullHeader, projected,
      fullTypes, limit, filters, conf)
    topN match {
      case None => inner
      case Some((orders, n)) => new PartitionReader[InternalRow] {
        // bounded-heap TopN per workbook (shared TopNHeap machinery):
        // the sheet parse is unavoidable, but only the n best rows
        // materialize into catalyst values and leave the task
        private var out: Iterator[InternalRow] = _
        private def run(): Iterator[InternalRow] = {
          val heap = new TopNHeap.Bounded(orders, n)
          try {
            while (inner.next())
              heap.offer(inner.currentSortKeys(orders.map(_.col)),
                inner.currentCatalystValues())
          } finally inner.close()
          heap.drain().map(new GenericInternalRow(_))
        }
        override def next(): Boolean = {
          if (out == null) out = run()
          out.hasNext
        }
        override def get(): InternalRow = out.next()
        override def close(): Unit = ()
      }
    }
  }
}

/** The per-workbook row reader — named so the TopN wrapper can read
  * the current row's sort keys in carrier spelling. */
private[sources] class XlsxFleetRowReader(file: String, sheet: String,
    fullHeader: Array[String], projected: Array[(String, DataType)],
    fullTypes: Array[(String, DataType)], limit: Option[Int],
    filters: Array[org.apache.spark.sql.sources.Filter],
    conf: SerializableHadoopConf) extends PartitionReader[InternalRow] {

  private var it: Iterator[Array[String]] = _
  private var indices: Array[Int] = _
  private var cells: Array[String] = _
  private var emitted = 0
  private val typeByName = fullTypes.toMap
  private val colIdx = fullHeader.zipWithIndex.toMap

  private def ensureOpen(): Unit = if (it == null) {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(conf.value)
    val in = fs.open(path)
    val bytes = try in.readAllBytes() finally in.close()
    // with pushed filters the limit counts EMITTED (post-filter)
    // rows, so the parse itself can only stop early when no
    // filter could drop a parsed row
    val parseBound =
      if (filters.isEmpty) limit.getOrElse(Int.MaxValue)
      else Int.MaxValue
    val (h, rows) = Xlsx.readSheet(bytes, sheet, parseBound)
    require(h.sameElements(fullHeader),
      s"workbook header mismatch in $file: ${h.mkString(",")} vs " +
        fullHeader.mkString(","))
    indices = projected.map { case (n, _) => fullHeader.indexOf(n) }
    it = rows.iterator
  }

  // typed view of the current row for the filter evaluator: cells
  // cast with the same ladder the projection uses, so a pushed
  // predicate sees exactly the values Catalyst would have
  private def passes: Boolean = filters.isEmpty || {
    val get = (c: String) => {
      val raw = cells(colIdx(c))
      if (raw == null) null else Xlsx.cast(raw, typeByName(c))
    }
    filters.forall(FleetFilters.eval(_, get))
  }

  override def next(): Boolean = {
    ensureOpen()
    while (!limit.exists(emitted >= _) && it.hasNext) {
      cells = it.next()
      if (passes) { emitted += 1; return true }
    }
    false
  }

  /** Current row's sort-key values in carrier spelling (the cast
    * ladder's output — what `FleetFilters.cmp` orders). */
  def currentSortKeys(cols: Seq[String]): Array[Any] =
    cols.map { c =>
      val raw = cells(colIdx(c))
      if (raw == null) null else Xlsx.cast(raw, typeByName(c))
    }.toArray

  /** Current row's projected values in catalyst spelling. */
  def currentCatalystValues(): Array[Any] = {
    val vals = new Array[Any](projected.length)
    var i = 0
    while (i < projected.length) {
      val (name, dt) = projected(i)
      val raw = cells(indices(i))
      vals(i) =
        try XlsxFleetReaderFactory.toCatalyst(Xlsx.cast(raw, dt))
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$file sheet '$sheet' column '$name': value '$raw' does " +
              s"not fit inferred type $dt (types are pinned from the " +
              "first listed workbook)", e)
        }
      i += 1
    }
    vals
  }

  override def get(): InternalRow =
    new GenericInternalRow(currentCatalystValues())

  override def close(): Unit = ()
}

private[sources] object XlsxFleetReaderFactory {
  /** External → catalyst for the cell types the inference ladder can
    * produce (long/double/boolean/string). */
  def toCatalyst(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case other => other
  }
}
