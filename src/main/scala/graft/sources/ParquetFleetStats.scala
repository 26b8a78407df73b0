package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** FOOTER-derived file statistics for the columnar fleet tier
  * ([[ParquetFleet]]) — the Iceberg/Delta commit-time design: parquet
  * writers already persist per-column-chunk min/max/null-count in the
  * file footer, so capturing file-level skip stats costs ZERO data
  * reads — only a footer read per new file, distributed over the
  * cluster when an append lands many files. The captured
  * [[FleetStats.PartStats]] ride the commit into the files' manifest
  * entries, as the avro tier's do, so the planning-time skip proofs
  * ([[FleetStats.neverMatches]]) and the record-level comparator
  * ([[FleetFilters.cmp]]) are shared verbatim — one ordering, two
  * data-file tiers.
  *
  * Soundness of the footer→stats translation (each case degrades to
  * "no stat ⇒ no skip proof" rather than to a wrong bound):
  *
  *  - STRINGS: parquet-mr ≥1.8 orders BINARY/UTF8 chunk statistics by
  *    UNSIGNED BYTE comparison, and UTF-8 byte order equals code-point
  *    order — exactly the [[FleetFilters.cmp]] string ordering (its
  *    `compareByCodePoint`). The decoded min/max are therefore true
  *    bounds under the scan-side comparator. (Legacy signed-order
  *    stats are suppressed by parquet-mr's corrupt-statistics check
  *    before we ever see them; this tier only reads footers of files
  *    it wrote with the bundled 1.16 writer anyway.)
  *  - TEMPORALS: DATE (INT32/days) and TIMESTAMP(MICROS|MILLIS,
  *    adjustedToUTC) (INT64) normalize to the epoch-day / epoch-µs
  *    carrier longs the avro tier records —
  *    [[FleetFilters.temporalLong]]'s exact units. NANOS would floor
  *    the max (unsound upper bound) and INT96 has no valid footer
  *    stats: both are skipped, as are NTZ timestamps (their literals
  *    never reach `temporalLong`, so a recorded bound could prove
  *    nothing — dead weight).
  *  - FLOATS: modern parquet-mr drops chunk min/max when a NaN was
  *    observed; we additionally drop any non-finite bound (mirroring
  *    [[FleetStats.Collector]]'s finite guard and the JSON codec's
  *    domain).
  *  - NULL COUNTS: a chunk without a set null count, or with min/max
  *    dropped while holding non-null rows (oversized values, NaN),
  *    poisons the whole column — `IsNull`/`IsNotNull` proofs need
  *    exact null counts, range proofs need true bounds.
  *
  * Blooms are an avro-tier feature (observed row-by-row in the
  * writer); the footer path records none — `EqualTo` skips stand on
  * min/max alone. Advisory like all fleet stats: a lost or stale entry
  * costs a read, never a row. */
private[graft] object ParquetFleetStats {

  /** Footer stats of `names` (fresh, immutable, uniquely-named part
    * files under `dir`) by name, for the commit that adds them.
    * Driver-side for a handful of files; one executor wave beyond
    * that. Never throws: stats are advisory, a capture failure costs
    * pruning, not correctness. */
  def capture(s: SparkSession, dir: String, names: Seq[String])
      : Map[String, FleetStats.PartStats] =
    try {
      val hconf = s.sessionState.newHadoopConf()
      if (names.size <= 16)
        names.flatMap(n => fileStats(hconf, new Path(dir, n))).toMap
      else {
        val ser = new SerializableConfiguration(hconf)
        s.sparkContext
          .parallelize(names, math.min(names.size, 32))
          .flatMap(n => fileStats(ser.value, new Path(dir, n)))
          .collect().toMap
      }
    } catch { case NonFatal(_) => Map.empty }

  /** One file's footer → stats entry; None on any read problem. */
  private[sources] def fileStats(conf: Configuration, path: Path)
      : Option[(String, FleetStats.PartStats)] = try {
    val inFile = HadoopInputFile.fromPath(path, conf)
    val reader = ParquetFileReader.open(inFile)
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val cols = footer.getFileMetaData.getSchema.getFields.asScala
        .filter(_.isPrimitive).map(_.asPrimitiveType())
        .flatMap(f => colStat(f, blocks).map(f.getName -> _))
        .toMap
      Some(path.getName -> FleetStats.PartStats(inFile.getLength, rows, cols))
    } finally reader.close()
  } catch { case NonFatal(_) => None }

  private def colStat(f: PrimitiveType, blocks: Seq[BlockMetaData])
      : Option[FleetStats.ColStat] = {
    val conv = carrier(f).getOrElse(return None)
    val perBlock = blocks.map { b =>
      b -> b.getColumns.asScala.find { c =>
        val parts = c.getPath.toArray
        parts.length == 1 && parts(0) == f.getName
      }.map(_.getStatistics).orNull
    }
    if (perBlock.exists(_._2 == null)) return None
    if (perBlock.exists { case (_, st) => !st.isNumNullsSet }) return None
    // a chunk whose min/max were dropped (oversized value, NaN) while
    // it holds non-null rows can't be bounded — poison the column
    if (perBlock.exists { case (b, st) =>
      !st.hasNonNullValue && st.getNumNulls != b.getRowCount }) return None
    val nulls = perBlock.map(_._2.getNumNulls).sum
    val valued = perBlock.collect {
      case (_, st) if st.hasNonNullValue => st }
    if (valued.isEmpty)
      return Some(FleetStats.ColStat(None, None, nulls))
    val mins = valued.map(st => conv(st.genericGetMin))
    val maxs = valued.map(st => conv(st.genericGetMax))
    if ((mins ++ maxs).exists(_.isEmpty)) return None
    val mn = mins.flatten.reduce((a, b) =>
      if (FleetFilters.cmp(a, b) <= 0) a else b)
    val mx = maxs.flatten.reduce((a, b) =>
      if (FleetFilters.cmp(a, b) >= 0) a else b)
    Some(FleetStats.ColStat(Some(mn), Some(mx), nulls))
  }

  /** The footer-value → stats-carrier conversion for one column, or
    * None when the physical/logical pair has no sound carrier. */
  private def carrier(f: PrimitiveType): Option[Any => Option[Any]] = {
    def finiteD(v: Any): Option[Any] = v match {
      case d: java.lang.Double if !d.isNaN && !d.isInfinite => Some(d)
      case fl: java.lang.Float if !fl.isNaN && !fl.isInfinite =>
        Some(Double.box(fl.doubleValue()))
      case _ => None
    }
    def longOf(v: Any): Option[Any] = v match {
      case n: Number => Some(Long.box(n.longValue()))
      case _ => None
    }
    val logical = f.getLogicalTypeAnnotation
    (f.getPrimitiveTypeName, logical) match {
      case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        Some(longOf) // epoch-day carrier
      case (INT32 | INT64, null) => Some(longOf)
      case (INT32 | INT64,
          i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if i.isSigned => Some(longOf)
      case (INT64,
          t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
          if t.isAdjustedToUTC =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(longOf)
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            Some(v => longOf(v).map(l => Long.box(Math.multiplyExact(
              l.asInstanceOf[java.lang.Long].longValue(), 1000L))))
          case _ => None // NANOS would floor the upper bound
        }
      case (FLOAT | DOUBLE, _) => Some(finiteD)
      case (BOOLEAN, _) =>
        Some { case b: java.lang.Boolean => Some(b); case _ => None }
      case (BINARY,
          _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        // UNTRUNCATED-STATS DEPENDENCY (documented per ADVICE r20 #4):
        // `minMax()` reports these carriers as ACHIEVED values, which
        // holds only because every file in a fleet is written by this
        // tier's own commit path (Spark's parquet writer, which does
        // not truncate CHUNK statistics by default — only the column
        // index is length-capped). If a writer ever sets
        // `parquet.statistics.truncate.length`, a truncated string max
        // remains a SOUND skip bound (truncation only widens the
        // interval upward) but would no longer be a value any row
        // holds; revisit minMax's string answers before admitting
        // foreign-written files.
        Some {
          case b: org.apache.parquet.io.api.Binary =>
            Some(b.toStringUsingUTF8)
          case _ => None
        }
      case _ => None
    }
  }
}
