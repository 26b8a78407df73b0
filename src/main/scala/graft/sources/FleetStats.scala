package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-part-file column statistics for the fleets — the data-skipping
  * layer parquet gets from footers, recreated for the fleet codecs.
  *
  * The avro WRITERS (the `graft-avro` V2 writer and
  * `Avro.writeDistributed`) already stream every value through a task;
  * a [[FleetStats.Collector]] folds rows and min/max/null-count (plus a
  * bloom) per column as they pass, and [[ParquetFleetStats]] reads the
  * same profile from parquet footers. Where the profiles live:
  *
  *  - a MANIFEST fleet records each file's [[PartStats]] in the entry
  *    of the commit that adds it ([[FleetManifest.FileEntry]]), so a
  *    scan plans its files and their stats from one snapshot
  *    ([[FleetView.stats]]) and the stats version with the files;
  *  - a manifest-less directory (`writeDistributed` output) carries one
  *    write-once `_stats.json` sidecar.
  *
  * The SCAN consults stats only when filters were pushed: a part file
  * whose recorded [min, max]/null profile proves a pushed conjunct can
  * never match is dropped at PLANNING time — no task, no open, no
  * header read. At 100 TB this is the difference between "filter
  * evaluated at decode speed" and "most of the fleet never scheduled".
  *
  * Soundness rules:
  *  - stats cover only the types `FleetFilters` can push (integral /
  *    floating / string / boolean), in the same carrier spelling, and
  *    skipping reuses its comparator — the skip decision and the
  *    row-level decision can never disagree;
  *  - a column with any non-finite float value gets NO entry (JSON
  *    can't carry NaN/Infinity, and NaN sorts above every range
  *    bound), an all-null column gets a null-only entry, and a file
  *    or column with no entry is always read;
  *  - an entry applies only while the file's LENGTH matches the one
  *    recorded at commit (part files are immutable under the
  *    rename-if-absent protocol; the check guards out-of-contract
  *    in-place edits);
  *  - stats are ADVISORY: a file without them (a version file written
  *    without stats, a missing or unreadable sidecar) is read
  *    unskipped, never an error.
  */
private[graft] object FleetStats {

  val FileName = "_stats.json"

  /** One column's profile within one part file. `min`/`max` are in the
    * writer's carrier spelling (boxed primitive or String); both absent
    * means the column held ONLY nulls in this file. `bloom`, when
    * present, covers EVERY non-null value of the column in this file
    * (see [[FleetBloom]]'s soundness contract) and serves the point-
    * lookup proofs min/max bounds cannot. */
  final case class ColStat(min: Option[Any], max: Option[Any],
      nulls: Long, bloom: Option[FleetBloom] = None)

  /** One part file's profile: committed byte length, row count, and
    * per-column stats (columns with dropped stats are simply absent). */
  final case class PartStats(len: Long, rows: Long,
      cols: Map[String, ColStat])

  /** The types whose write-time carrier is ordered identically to the
    * value the scan reproduces on read — the precondition for a skip
    * decision to be sound. */
  def trackableType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | BooleanType => true
    // temporal columns track via their zone-free logical-type carriers
    // (µs-long / day-int) — the avro writers observe post-toAvroValue
    // values, so the recorded bounds are already those integers. A
    // writer whose carrier is NOT the integer form (xlsx: ISO strings)
    // must mask these via `track`, same as its float mask.
    case TimestampType | DateType => true
    case _ => false
  }

  /** Streaming min/max/null folder for one task's part file. Values
    * must arrive in the carrier spelling the fleet writers produce
    * (post-`toAvroValue` / post-getter): boxed numerics, String,
    * Boolean. Columns of any other Spark type are ignored; a writer
    * whose codec narrows the roundtrip further (xlsx: floats reread as
    * the cell string's nearest DOUBLE, not the original float) masks
    * the unsound types via `track`. */
  final class Collector(schema: StructType,
      track: DataType => Boolean = trackableType) extends Serializable {
    private val n = schema.fields.length
    private val tracked: Array[Boolean] =
      schema.fields.map(f => track(f.dataType))
    private val mins = new Array[Any](n)
    private val maxs = new Array[Any](n)
    private val nulls = new Array[Long](n)
    private val dropped = new Array[Boolean](n)
    private val blooms = Array.fill(n)(new FleetBloom.Builder)
    private var rows = 0L

    def startRow(): Unit = rows += 1

    def observe(i: Int, v: Any): Unit = {
      if (!tracked(i) || dropped(i)) return
      if (v == null) { nulls(i) += 1; return }
      val finite = v match {
        case d: java.lang.Double => !d.isNaN && !d.isInfinite
        case f: java.lang.Float => !f.isNaN && !f.isInfinite
        case _ => true
      }
      if (!finite) {
        dropped(i) = true; mins(i) = null; maxs(i) = null
        return
      }
      if (mins(i) == null || FleetFilters.cmp(v, mins(i)) < 0) mins(i) = v
      if (maxs(i) == null || FleetFilters.cmp(v, maxs(i)) > 0) maxs(i) = v
      blooms(i).observe(v)
    }

    def result(len: Long): PartStats = {
      val cols = schema.fields.iterator.zipWithIndex.flatMap {
        case (f, i) =>
          if (!tracked(i) || dropped(i)) None
          else Some(f.name -> ColStat(Option(mins(i)), Option(maxs(i)),
            nulls(i), blooms(i).result()))
      }.toMap
      PartStats(len, rows, cols)
    }
  }

  /** True iff `f` can match NO row of a file with stats `st` — the
    * planning-time twin of `FleetFilters.eval`, sharing its comparator.
    * Conservative everywhere stats are absent, and wherever the
    * recorded carrier and the filter literal are from different
    * families (possible when a scan's INFERRED type diverges from the
    * write-time type, e.g. an xlsx string column of digits read back
    * as long): such a column never proves a skip, it just gets read. */
  def neverMatches(f: Filter, st: PartStats): Boolean = f match {
    case And(l, r) => neverMatches(l, st) || neverMatches(r, st)
    case Or(l, r) => neverMatches(l, st) && neverMatches(r, st)
    // The ""-guard is defense-in-depth: the xlsx reader PRESERVES empty
    // strings (inlineStr roundtrip, pinned by FleetStatsSpec's
    // empty-string probe), so nulls==0 is truthful today — but if a
    // reader ever narrowed ""→null, a skip proven on a file whose min
    // is "" would silently lose those rows. "" is always the min when
    // present (code-point order), so one Option check covers it. Note
    // the inverse "fix" (collector counting "" as null) would be WRONG:
    // it would let IsNotNull prove-skip a file of ""s that read back
    // non-null.
    case IsNull(c) => st.cols.get(c).exists(cs =>
      cs.nulls == 0 && !cs.min.contains(""))
    case IsNotNull(c) =>
      st.cols.get(c).exists(cs => cs.min.isEmpty && cs.nulls == st.rows)
    case EqualTo(c, v) => outside(st, c, v) || bloomAbsent(st, c, v)
    case In(c, vs) => st.cols.get(c).exists(cs =>
      cs.min.isEmpty || vs.forall(v => comparable(v, cs.min.get) &&
        (FleetFilters.cmp(v, cs.min.get) < 0 ||
          FleetFilters.cmp(v, cs.max.get) > 0))) ||
      (vs != null && vs.nonEmpty &&
        vs.forall(v => bloomAbsent(st, c, v)))
    case GreaterThan(c, v) => bound(st, c, v)(mx =>
      FleetFilters.cmp(mx, v) <= 0)
    case GreaterThanOrEqual(c, v) => bound(st, c, v)(mx =>
      FleetFilters.cmp(mx, v) < 0)
    case LessThan(c, v) => lower(st, c, v)(mn =>
      FleetFilters.cmp(mn, v) >= 0)
    case LessThanOrEqual(c, v) => lower(st, c, v)(mn =>
      FleetFilters.cmp(mn, v) > 0)
    // prefix range: matches of `p%` lie in [p, succ(p)) — no match
    // when the whole file sits below p or at/above succ(p). Suffix/
    // substring predicates have no bound proof and just read.
    case StringStartsWith(c, p) => st.cols.get(c).exists(cs =>
      (cs.max.exists(mx => comparable(mx, p) &&
        FleetFilters.cmp(mx, p) < 0)) ||
        FleetFilters.prefixSuccessor(p).exists(nxt =>
          cs.min.exists(mn => comparable(mn, nxt) &&
            FleetFilters.cmp(mn, nxt) >= 0)))
    case _ => false
  }

  /** True iff `f` provably matches EVERY row of a file with stats
    * `st` — the dual of [[neverMatches]], used by the grouped-aggregate
    * pushdown's metadata tier: a sidecar row may stand in for a file
    * under a pushed filter only when the filter can't reject any of the
    * file's rows. Conservative (false) wherever stats are absent or
    * families diverge; sound for the monotone And/Or algebra the
    * connectors push (NOT is never pushed). Note the asymmetry with
    * `neverMatches`'s ""-guard: HERE an empty-string min needs no
    * special case, because proofs only FIRE on `nulls == 0` bounds
    * (IsNull aside) and `""` is an ordinary orderable value. */
  def alwaysMatches(f: Filter, st: PartStats): Boolean = f match {
    case And(l, r) => alwaysMatches(l, st) && alwaysMatches(r, st)
    case Or(l, r) => alwaysMatches(l, st) || alwaysMatches(r, st)
    case IsNotNull(c) => st.cols.get(c).exists(_.nulls == 0L)
    case IsNull(c) => st.cols.get(c).exists(cs =>
      cs.min.isEmpty && cs.nulls == st.rows)
    case EqualTo(c, v) => st.cols.get(c).exists(cs =>
      cs.nulls == 0L && cs.min.isDefined && cs.max.isDefined &&
        comparable(v, cs.min.get) &&
        FleetFilters.cmp(cs.min.get, v) == 0 &&
        FleetFilters.cmp(cs.max.get, v) == 0)
    case In(c, vs) => vs != null && vs.nonEmpty &&
      vs.forall(_ != null) && st.cols.get(c).exists(cs =>
        cs.nulls == 0L && cs.min.isDefined && cs.max.isDefined &&
          comparable(vs.head, cs.min.get) &&
          FleetFilters.cmp(cs.min.get, cs.max.get) == 0 &&
          vs.exists(FleetFilters.cmp(cs.min.get, _) == 0))
    case GreaterThan(c, v) => lowerAll(st, c, v)(mn =>
      FleetFilters.cmp(mn, v) > 0)
    case GreaterThanOrEqual(c, v) => lowerAll(st, c, v)(mn =>
      FleetFilters.cmp(mn, v) >= 0)
    case LessThan(c, v) => upperAll(st, c, v)(mx =>
      FleetFilters.cmp(mx, v) < 0)
    case LessThanOrEqual(c, v) => upperAll(st, c, v)(mx =>
      FleetFilters.cmp(mx, v) <= 0)
    // every row starts with `p` when the whole (null-free) file sits
    // inside the prefix range [p, succ(p))
    case StringStartsWith(c, p) => st.cols.get(c).exists(cs =>
      cs.nulls == 0L &&
        cs.min.exists(mn => comparable(mn, p) &&
          FleetFilters.cmp(mn, p) >= 0) &&
        FleetFilters.prefixSuccessor(p).exists(nxt =>
          cs.max.exists(mx => comparable(mx, nxt) &&
            FleetFilters.cmp(mx, nxt) < 0)))
    case _ => false
  }

  // null-rejecting range predicates prove "all rows" only on columns
  // with zero nulls and a provable bound of the right family
  private def lowerAll(st: PartStats, c: String, v: Any)
      (p: Any => Boolean): Boolean =
    st.cols.get(c).exists(cs => cs.nulls == 0L &&
      cs.min.exists(mn => comparable(v, mn) && p(mn)))

  private def upperAll(st: PartStats, c: String, v: Any)
      (p: Any => Boolean): Boolean =
    st.cols.get(c).exists(cs => cs.nulls == 0L &&
      cs.max.exists(mx => comparable(v, mx) && p(mx)))

  // same families FleetFilters.cmp orders; a mismatch is never proof.
  // A temporal literal proves against integral stats only: the sidecar
  // records temporal columns as their carrier integers, so the pair
  // (Timestamp literal, Long µs stat) is one family — while a temporal
  // literal against Double stats (an inferred-type divergence) is not.
  private[sources] def comparable(a: Any, b: Any): Boolean = (a, b) match {
    case (_: String, _: String) => true
    case (_: java.lang.Boolean, _: java.lang.Boolean) => true
    case (x, y) if temporalish(x) || temporalish(y) =>
      FleetFilters.temporalLong(a).isDefined &&
        FleetFilters.temporalLong(b).isDefined
    case (_: Number, _: Number) => true
    case _ => false
  }

  private def temporalish(x: Any): Boolean = x match {
    case _: java.sql.Timestamp | _: java.time.Instant |
         _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  /** Point-lookup proof: the column's bloom exists (⇒ covers every
    * non-null value of the file), the literal's family matches the
    * recorded one, and its canonical hash is absent. Null literals and
    * unhashable families prove nothing. Equality predicates never
    * match null rows, so null counts are irrelevant here. */
  private def bloomAbsent(st: PartStats, c: String, v: Any): Boolean =
    v != null && st.cols.get(c).exists(_.bloom.exists(b =>
      FleetBloom.canonicalHash(v).exists { case (t, h1, h2) =>
        t == b.tag && !b.mightContain(h1, h2)
      }))

  private def outside(st: PartStats, c: String, v: Any): Boolean =
    st.cols.get(c).exists(cs => cs.min.isEmpty ||
      (comparable(v, cs.min.get) &&
        (FleetFilters.cmp(v, cs.min.get) < 0 ||
          FleetFilters.cmp(v, cs.max.get) > 0)))

  // null-rejecting range predicates: an all-null column (min absent)
  // can never satisfy them either
  private def bound(st: PartStats, c: String, v: Any)
      (noRow: Any => Boolean): Boolean =
    st.cols.get(c).exists(cs => cs.max.isEmpty ||
      (comparable(cs.max.get, v) && noRow(cs.max.get)))

  private def lower(st: PartStats, c: String, v: Any)
      (noRow: Any => Boolean): Boolean =
    st.cols.get(c).exists(cs => cs.min.isEmpty ||
      (comparable(cs.min.get, v) && noRow(cs.min.get)))

  // ---- JSON codec ----------------------------------------------------

  /** Stat-value JSON codec, shared with the manifest's deletion-vector
    * metadata ([[FleetManifest.DvMeta]]) so both speak the same carrier
    * spellings and compare through the same [[FleetFilters.cmp]]. */
  private[sources] def toJson(v: Any): JValue = v match {
    case s: String => JString(s)
    case b: java.lang.Boolean => JBool(b)
    case d: java.lang.Double => JDouble(d)
    case f: java.lang.Float => JDouble(f.doubleValue())
    case n: Number => JLong(n.longValue())
    case other => throw new IllegalArgumentException(
      s"untracked stat value: ${other.getClass}")
  }

  private[sources] def fromJson(j: JValue): Any = j match {
    case JString(s) => s
    case JBool(b) => Boolean.box(b)
    case JDouble(d) => Double.box(d)
    case JLong(l) => Long.box(l)
    case JInt(b) => Long.box(b.longValue)
    case JDecimal(d) => Double.box(d.doubleValue)
    case other => throw new IllegalArgumentException(s"bad stat: $other")
  }

  /** One file's rows and column profiles as JSON fields — the entry
    * codec shared by the `_stats.json` sidecar and the manifest's
    * per-file entries ([[FleetManifest.FileEntry]]), which add the
    * file's `len` beside them. */
  private[sources] def statsFields(rows: Long, cols: Map[String, ColStat])
      : List[(String, JValue)] =
    List("rows" -> JLong(rows),
      "cols" -> JObject(cols.toList.sortBy(_._1).map { case (c, cs) =>
        val base = List[(String, JValue)]("nulls" -> JLong(cs.nulls))
        val mm = (cs.min, cs.max) match {
          case (Some(mn), Some(mx)) =>
            List("min" -> toJson(mn), "max" -> toJson(mx))
          case _ => Nil
        }
        val bl = cs.bloom.toList.map(b => "bloom" -> JObject(
          "tag" -> JString(b.tag.toString),
          "k" -> JLong(b.k.toLong),
          "b64" -> JString(FleetBloom.encode(b))))
        c -> JObject(mm ++ base ++ bl: _*)
      }: _*))

  /** The column profiles of one entry's `cols` object. */
  private[sources] def parseCols(j: JValue): Map[String, ColStat] = j match {
    case JObject(cs) => cs.map { case (c, cj) =>
      val m = cj.asInstanceOf[JObject].obj.toMap
      val bloom = m.get("bloom").flatMap {
        case JObject(bf) =>
          val bm = bf.toMap
          (bm.get("tag"), bm.get("k"), bm.get("b64")) match {
            case (Some(JString(t)), Some(k: JValue), Some(JString(b64))) =>
              val kk = fromJson(k) match {
                case l: java.lang.Long => l.intValue(); case _ => -1
              }
              FleetBloom.decode(t, kk, b64)
            case _ => None
          }
        case _ => None
      }
      c -> ColStat(m.get("min").map(fromJson), m.get("max").map(fromJson),
        fromJson(m("nulls")).asInstanceOf[Long], bloom)
    }.toMap
    case _ => Map.empty
  }

  private def render(files: Map[String, PartStats]): String =
    JsonMethods.compact(JsonMethods.render(JObject("files" -> JObject(
      files.toList.sortBy(_._1).map { case (name, ps) =>
        name -> JObject(("len" -> JLong(ps.len)) ::
          statsFields(ps.rows, ps.cols): _*)
      }: _*))))

  private def parse(text: String): Map[String, PartStats] =
    JsonMethods.parse(text) \ "files" match {
      case JObject(fs) => fs.map { case (name, j) =>
        val f = j.asInstanceOf[JObject].obj.toMap
        name -> PartStats(fromJson(f("len")).asInstanceOf[Long],
          fromJson(f("rows")).asInstanceOf[Long],
          parseCols(f.getOrElse("cols", JNothing)))
      }.toMap
      case _ => Map.empty
    }

  // ---- the manifest-less sidecar -------------------------------------
  //
  // A manifest fleet's stats ride its manifest entries. `_stats.json`
  // remains only for manifest-less directories: `Avro.writeDistributed`
  // and `Xlsx.writeDistributed` each write one, once, into a freshly
  // deleted directory before `_SUCCESS`. The first manifest commit into
  // such a directory adopts its length-matched entries and removes it
  // ([[FleetManifest.commit]]).
  //
  // The parsed sidecar is memoized per directory, validated by the
  // file's (mtime, len), so the xlsx scans re-reading one directory
  // cost one status call. A stale memo (a foreign rewrite within one
  // mtime tick at the same length) can only pair an entry with a file
  // of the same name and length; entries are length-checked on use.
  // Bounded by entries, not directories: cleared when remembering one
  // more map would pass MemoEntries in total.

  private final case class Memo(stamp: (Long, Long),
      entries: Map[String, PartStats])
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Memo]()
  private val MemoEntries = 16384
  private var memoEntries = 0 // guarded by memo's monitor

  private def remember(key: String, m: Memo): Unit = memo.synchronized {
    if (memoEntries + m.entries.size > MemoEntries) {
      memo.clear(); memoEntries = 0
    }
    val prev = memo.put(key, m)
    memoEntries += m.entries.size - (if (prev == null) 0 else prev.entries.size)
  }

  /** Write the sidecar of a manifest-less directory (called before its
    * `_SUCCESS`): temp + rename, so a reader sees no sidecar or the
    * whole one. */
  def write(fs: FileSystem, dir: Path,
      entries: Map[String, PartStats]): Unit = {
    val dest = new Path(dir, FileName)
    val tmp = new Path(dir, s".$FileName.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(entries).getBytes("UTF-8")) finally out.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
    memo.remove(fs.makeQualified(dir).toString)
    ()
  }

  /** The sidecar entries of one manifest-less directory, by file name;
    * empty when it has none or on any problem (advisory data — never
    * fail a read over it). */
  def read(fs: FileSystem, dir: Path): Map[String, PartStats] =
    try {
      val p = new Path(dir, FileName)
      val st = fs.getFileStatus(p)
      val key = fs.makeQualified(dir).toString
      val stamp = (st.getModificationTime, st.getLen)
      val hit = memo.get(key)
      if (hit != null && hit.stamp == stamp) hit.entries
      else {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        val entries = parse(text)
        remember(key, Memo(stamp, entries))
        entries
      }
    } catch { case NonFatal(_) => Map.empty }

  /** Sidecar stats for files of manifest-less directories, keyed by the
    * files' full path strings: one sidecar read per distinct parent
    * directory, and an entry applies only while its length matches. */
  def forFleet(fs: FileSystem, fleet: Seq[FileStatus])
      : Map[String, PartStats] =
    fleet.groupBy(_.getPath.getParent).iterator.flatMap {
      case (null, _) => Iterator.empty
      case (dir, files) =>
        val entries = read(fs, dir)
        files.iterator.flatMap { st =>
          entries.get(st.getPath.getName)
            .filter(_.len == st.getLen)
            .map(st.getPath.toString -> _)
        }
    }.toMap
}
