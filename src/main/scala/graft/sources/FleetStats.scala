package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-part-file column statistics for avro fleets — the data-skipping
  * layer parquet gets from footers, recreated for the fleet codec.
  *
  * The avro WRITERS (the `graft-avro` V2 writer and
  * `Avro.writeDistributed`) already stream every value through a task;
  * a [[FleetStats.Collector]] folds min/max/null-count per column as
  * they pass, and the job commit writes one `_stats.json` sidecar per
  * fleet directory BEFORE `_SUCCESS`. The SCAN consults the sidecar
  * only when filters were pushed: a part file whose recorded
  * [min, max]/null profile proves a pushed conjunct can never match is
  * dropped at PLANNING time — no task, no open, no header read. At
  * 100 TB this is the difference between "filter evaluated at decode
  * speed" and "most of the fleet never scheduled".
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
  *  - the sidecar is ADVISORY: unreadable, missing, or torn stats
  *    degrade to "no skipping", never to an error;
  *  - the parsed sidecar is memoized per directory, validated by the
  *    base file's (mtime, len) and the shard names, and refreshed by
  *    the writers with the map they rendered; sound because an entry
  *    never changes for an immutable, length-checked file name, so a
  *    stale memo can only lack entries (read unskipped).
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

  // ---- sidecar IO ----------------------------------------------------

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

  private def filesObj(files: Map[String, PartStats]): JObject =
    JObject(files.toList.sortBy(_._1).map {
      case (name, ps) =>
        name -> JObject(
          "len" -> JLong(ps.len),
          "rows" -> JLong(ps.rows),
          "cols" -> JObject(ps.cols.toList.sortBy(_._1).map {
            case (c, cs) =>
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
    }: _*)

  private def render(files: Map[String, PartStats]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject("files" -> filesObj(files))))

  private def parse(text: String): Map[String, PartStats] =
    parseFiles(JsonMethods.parse(text))

  private def parseFiles(top: JValue): Map[String, PartStats] = {
    val files = top \ "files" match {
      case JObject(fs) => fs
      case _ => Nil
    }
    files.map { case (name, j) =>
      val f = j.asInstanceOf[JObject].obj.toMap
      val len = fromJson(f("len")).asInstanceOf[Long]
      val rows = fromJson(f("rows")).asInstanceOf[Long]
      val cols = f.get("cols") match {
        case Some(JObject(cs)) => cs.map { case (c, cj) =>
          val m = cj.asInstanceOf[JObject].obj.toMap
          val bloom = m.get("bloom").flatMap {
            case JObject(bf) =>
              val bm = bf.toMap
              (bm.get("tag"), bm.get("k"), bm.get("b64")) match {
                case (Some(JString(t)), Some(k: JValue),
                    Some(JString(b64))) =>
                  val kk = fromJson(k) match {
                    case l: java.lang.Long => l.intValue(); case _ => -1
                  }
                  FleetBloom.decode(t, kk, b64)
                case _ => None
              }
            case _ => None
          }
          c -> ColStat(m.get("min").map(fromJson),
            m.get("max").map(fromJson),
            fromJson(m("nulls")).asInstanceOf[Long], bloom)
        }.toMap
        case _ => Map.empty[String, ColStat]
      }
      name -> PartStats(len, rows, cols)
    }.toMap
  }

  // serializes the read-merge-write below per sidecar path within this
  // JVM — two same-session jobs committing into one fleet dir (the
  // local-mode reality: one driver) can no longer interleave the merge
  // and drop each other's entries. Lock STRIPES, not a per-path map: a
  // long-lived driver writing many distinct directories would grow an
  // unbounded path→lock map forever, while a stripe collision merely
  // serializes two unrelated commits (advisory metadata — correctness
  // unaffected). Cross-JVM writers remain unlocked by design: the worst
  // interleaving loses sidecar ENTRIES, never data — readers degrade to
  // scanning unskipped files.
  private val writeLockStripes = Array.fill(64)(new Object)

  // ---- DELTA SHARDS (r22, the r21 verdict's #3) --------------------
  //
  // The sidecar used to be ONE `_stats.json` rewritten read-merge-write
  // on every commit — O(total fleet files) of JSON per append, the
  // stats-plane twin of the full-snapshot manifest cost. Past
  // [[ShardThreshold]] base entries, a commit now appends one SHARD
  // under `_stats.d/` instead ({"files": {...fresh...}} or
  // {"drop": [...]}), and every [[CompactAt]]-th shard folds the lot
  // back into the base — per-commit cost O(commit's own files),
  // amortized O(total/CompactAt). Readers merge base + shards in name
  // order (a monotonic per-JVM sequence + uuid, so cross-process
  // writers can't clobber each other and later entries win). Below the
  // threshold — every test fixture and bench fleet — the single-file
  // behavior is byte-identical to r21, including the documented
  // "delete the sidecar to disable skipping" degrade path.

  private val ShardDirName = "_stats.d"
  private val ShardThreshold = 512
  private val CompactAt = 16
  private val shardSeq = new java.util.concurrent.atomic.AtomicLong

  private def shardDir(dir: Path) = new Path(dir, ShardDirName)

  private def listShards(fs: FileSystem, dir: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = shardDir(dir)
    try {
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".json") &&
          !st.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
    } catch { case NonFatal(_) => Seq.empty }
  }

  private def writeAtomic(fs: FileSystem, dest: Path, text: String): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) { fs.delete(tmp, false); () }
  }

  private def writeShard(fs: FileSystem, dir: Path,
      fresh: Map[String, PartStats], dropNames: Seq[String]): Unit = {
    fs.mkdirs(shardDir(dir))
    val name = f"s${System.currentTimeMillis()}%013d-" +
      f"${shardSeq.incrementAndGet()}%06d-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.json"
    val fields = List[(String, JValue)]("files" -> filesObj(fresh)) ++
      (if (dropNames.isEmpty) Nil
       else List[(String, JValue)](
         "drop" -> JArray(dropNames.sorted.map(JString(_)).toList)))
    writeAtomic(fs, new Path(shardDir(dir), name),
      JsonMethods.compact(JsonMethods.render(JObject(fields))))
  }

  /** Fold base + every shard into one fresh base file and remove the
    * shards — under the stripe lock; a cross-process racer's shard
    * landing mid-fold is left in place (not deleted unseen). */
  private def compactShards(fs: FileSystem, dir: Path,
      extra: Map[String, PartStats]): Unit = {
    val shards = listShards(fs, dir)
    val merged = read(fs, dir) ++ extra
    writeAtomic(fs, new Path(dir, FileName), render(merged))
    shards.foreach(st => fs.delete(st.getPath, false))
  }

  // ---- parsed-sidecar memo ------------------------------------------
  //
  // Every fleet scan and every commit below the shard threshold used
  // to parse the whole sidecar (hundreds of KB of JSON with blooms on a
  // busy fleet). The parsed map is memoized per directory and
  // validated by the base file's (mtime, len) plus the shard names, so
  // a reader costs one status call and the shard-directory probe. The
  // writers below refresh the memo under the stripe lock with the map
  // they rendered, so neither lookups nor commits re-parse it.
  //
  // Sound because an entry never changes for a given data-file name:
  // part files are immutable, and an entry applies only while the
  // file's length matches. A stale memo (a foreign process rewrote the
  // sidecar within one mtime tick at the same length) can therefore
  // only LACK entries the disk has, or hold entries of files since
  // deleted — "read unskipped" and "never looked up", never a wrong
  // skip. Bounded by ENTRIES, not directories (one parsed sidecar
  // holds a few KB per entry with its blooms): the memo is cleared
  // when remembering one more map would pass MemoEntries in total.

  private final case class Memo(stamp: (Long, Long), shards: Seq[String],
      entries: Map[String, PartStats])
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Memo]()
  private val MemoEntries = 16384
  private var memoEntries = 0 // guarded by memo's monitor

  /** (mtime, len) of the base sidecar; (-1, -1) when it is absent. */
  private def baseStamp(fs: FileSystem, dir: Path): (Long, Long) =
    try {
      val st = fs.getFileStatus(new Path(dir, FileName))
      (st.getModificationTime, st.getLen)
    } catch { case _: java.io.FileNotFoundException => (-1L, -1L) }

  private def remember(key: String, m: Memo): Unit = memo.synchronized {
    if (memoEntries + m.entries.size > MemoEntries) {
      memo.clear(); memoEntries = 0
    }
    val prev = memo.put(key, m)
    memoEntries += m.entries.size - (if (prev == null) 0 else prev.entries.size)
  }

  /** Rewrite the base sidecar with `m` and remember `m` as its parse
    * (callers hold the stripe lock and have seen no shards). */
  private def writeBase(fs: FileSystem, dir: Path,
      m: Map[String, PartStats]): Unit = {
    writeAtomic(fs, new Path(dir, FileName), render(m))
    remember(fs.makeQualified(dir).toString,
      Memo(baseStamp(fs, dir), Seq.empty, m))
  }

  /** Merge `fresh` entries into the sidecar at `dir` — called from the
    * job commit, BEFORE `_SUCCESS`. Single-file read-merge-rewrite
    * below [[ShardThreshold]] entries; one O(fresh) shard append past
    * it, folded every [[CompactAt]] shards. All writes temp + rename so
    * a racing reader sees the old state or the new, never a torn one. */
  def write(fs: FileSystem, dir: Path,
      fresh: Map[String, PartStats]): Unit = {
    val key = fs.makeQualified(dir).toString
    writeLockStripes(math.floorMod(key.hashCode, writeLockStripes.length))
      .synchronized {
      val shards = listShards(fs, dir)
      if (shards.isEmpty) {
        // the base merge runs only when no shards exist — once per
        // CompactAt writes in steady shard mode, every write below
        // the threshold (where the base is small by definition); the
        // memo serves its parse
        val existing = read(fs, dir)
        if (existing.size <= ShardThreshold)
          writeBase(fs, dir, existing ++ fresh)
        else writeShard(fs, dir, fresh, Seq.empty) // shard mode begins
      }
      else if (shards.size >= CompactAt) compactShards(fs, dir, fresh)
      else writeShard(fs, dir, fresh, Seq.empty)
    }
  }

  /** Remove `names`' entries from the sidecar (retention GC: an
    * expired generation's deleted files must not accumulate advisory
    * entries forever). Same stripe lock + atomicity as [[write]]; a
    * no-op when nothing matches. In shard mode the removal is a DROP
    * shard (applied by readers in order, folded at compaction). */
  def drop(fs: FileSystem, dir: Path, names: Set[String]): Unit = {
    if (names.isEmpty) return
    val key = fs.makeQualified(dir).toString
    writeLockStripes(math.floorMod(key.hashCode, writeLockStripes.length))
      .synchronized {
      val shards = listShards(fs, dir)
      if (shards.isEmpty) {
        val existing = read(fs, dir)
        val kept = existing -- names
        if (kept.size == existing.size) return
        writeBase(fs, dir, kept)
      } else {
        val merged = read(fs, dir)
        val hit = names.filter(merged.contains)
        if (hit.isEmpty) return
        if (shards.size >= CompactAt) compactShards(fs, dir, Map.empty)
        writeShard(fs, dir, Map.empty, hit.toSeq)
      }
    }
  }

  /** The base `_stats.json` alone; empty on any problem. */
  private def readBase(fs: FileSystem, dir: Path): Map[String, PartStats] = {
    val p = new Path(dir, FileName)
    try {
      if (!fs.exists(p)) Map.empty
      else parse(readText(fs, p))
    } catch { case NonFatal(_) => Map.empty }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
  }

  /** Existing sidecar entries of one fleet directory — base plus any
    * delta shards in name order; empty on any problem (advisory data —
    * never fail a read over it; one unreadable shard degrades to
    * "those entries absent", never to an error). Served from the
    * parsed-sidecar memo while the base's (mtime, len) and the shard
    * names are unchanged. */
  def read(fs: FileSystem, dir: Path): Map[String, PartStats] = {
    try {
      val key = fs.makeQualified(dir).toString
      val stamp = baseStamp(fs, dir)
      val shards = listShards(fs, dir)
      val names = shards.map(_.getPath.getName)
      val hit = memo.get(key)
      if (hit != null && hit.stamp == stamp && hit.shards == names)
        return hit.entries
      var acc = readBase(fs, dir)
      shards.foreach { st =>
        try {
          val top = JsonMethods.parse(readText(fs, st.getPath))
          acc = acc ++ parseFiles(top)
          top \ "drop" match {
            case JArray(vs) =>
              acc = acc -- vs.collect { case JString(s) => s }
            case _ => ()
          }
        } catch { case NonFatal(_) => () }
      }
      remember(key, Memo(stamp, names, acc))
      acc
    } catch { case NonFatal(_) => Map.empty }
  }

  /** Stats for a listed fleet, keyed by the files' full path strings.
    * One sidecar read per distinct parent directory. */
  def forFleet(fs: FileSystem, fleet: Seq[FileStatus])
      : Map[String, PartStats] = {
    val byDir = fleet.groupBy(_.getPath.getParent)
    byDir.iterator.flatMap { case (dir, files) =>
      if (dir == null) Iterator.empty
      else {
        val entries = read(fs, dir)
        files.iterator.flatMap { st =>
          entries.get(st.getPath.getName)
            .filter(_.len == st.getLen)
            .map(st.getPath.toString -> _)
        }
      }
    }.toMap
  }
}
