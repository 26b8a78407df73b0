package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{JArray, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods

/** Positional DELETION VECTORS — the merge-on-read half of the fleet's
  * row-level story (SURVEY.md §1.1; the copy-on-write half is
  * [[FleetMerge]] / [[AvroFleetRowLevel]]).
  *
  * A deletion vector is a tiny sidecar under `_dv/` marking ROWS of
  * one data file as deleted without touching the file: a DELETE that
  * hits 10 rows of a 1 GB container writes kilobytes instead of
  * rewriting the container (the Delta deletion-vector / Iceberg
  * position-delete posture). The manifest snapshot carries the
  * file→vector binding ([[FleetManifest.Snapshot.dvs]]) so
  *
  *  - the binding commits ATOMICALLY with everything else in the
  *    generation (no second marker a crash can split),
  *  - it is VERSIONED for free: `VERSION AS OF` a pre-delete
  *    generation has no `dvs` entry and reads the full file, and
  *  - retiring a file (COW rewrite, compaction, DROP) retires its
  *    vector with it — [[FleetManifest.commit]] inherits `dvs`
  *    forward minus retired files.
  *
  * ROW POSITION = (block sync position, ordinal within block). A
  * reader serving any byte RANGE of a container observes the same
  * (sync, ordinal) for the same record — `sync(start)` aligns to the
  * identical block boundary a sequential read passes — so positions
  * are stable under splitting, which an absolute row ordinal is not
  * (a split reader cannot know how many rows precede its range
  * without reading them). FleetDvSpec pins full-read == split-read
  * position identity.
  *
  * ON-DISK ENCODINGS (r17) — three spellings, one reader:
  *
  *  1. BINARY LEAF (`*.dv.bin`, the writer's format): magic `GDV1`,
  *     varint total count, varint block count, then per block (sync
  *     ascending) the sync DELTA from the previous block and the
  *     ordinals as RUN-LENGTH (gap, length) varint pairs. Dense
  *     vectors — the regime a large merge-on-read DELETE produces —
  *     collapse to a couple of bytes per block (a whole consecutive
  *     run is two varints), 10-100× smaller than the JSON integer
  *     arrays of r16 (the RoaringBitmap rationale at varint cost);
  *     sparse vectors pay ~2-4 bytes per position. The count rides
  *     the header so count-style fast paths read a dozen bytes, never
  *     positions.
  *  2. CHAIN NODE (`*.dv.chain.json`): `{file, count, parents: [...]}`
  *     — a vector defined as the UNION of other vector files. The
  *     merge-on-read committer binds one when merging eagerly would
  *     exceed its position budget ([[AvroFleetDeltaBatchWrite]]): the
  *     driver then writes O(names), positions stay where executors
  *     put them, and readers union the parents in-task. Parent counts
  *     are ADDITIVE by construction — a partial vector only holds
  *     positions its scan saw live, which excludes every position in
  *     the chain below it — so the header count is exact without
  *     reading positions. `rewrite_files` compaction materializes
  *     chains away with the rest of the vector.
  *  3. LEGACY JSON LEAF (`*.dv.json`, the r16 format): still read;
  *     never written anew.
  *
  * Vector files are IMMUTABLE and content-unique (uuid-suffixed): a
  * delete on an already-vectored file writes NEW vector files and
  * swaps the binding in one manifest commit with a compare-and-set on
  * the old binding ([[FleetManifest.commit]] `requireDvs`) — two
  * racing merge-on-read deletes on the same file produce one winner
  * and one loud retryable conflict, never a lost delete. Old vectors
  * remain referenced by old snapshots until retention GCs them with
  * their versions; GC reference walks expand chains transitively
  * ([[expandRefs]]).
  */
private[graft] object FleetDv {

  val DirName = "_dv"

  /** In-memory deleted-position set for ONE data file: block sync
    * position → sorted distinct ordinals within that block. */
  final case class Deleted(positions: Map[Long, Array[Long]]) {
    /** Total deleted rows — lets count-style fast paths stay
      * metadata-only (file row count − deleted). */
    lazy val count: Long = positions.valuesIterator.map(_.length.toLong).sum

    def contains(sync: Long, ordinal: Long): Boolean =
      positions.get(sync).exists(a =>
        java.util.Arrays.binarySearch(a, ordinal) >= 0)

    /** Bag-union with another vector over the same file (positions are
      * sets — a position deleted twice is deleted once). */
    def union(other: Deleted): Deleted = Deleted(
      (positions.keySet ++ other.positions.keySet).iterator.map { s =>
        val merged = (positions.getOrElse(s, Array.empty[Long]) ++
          other.positions.getOrElse(s, Array.empty[Long])).distinct.sorted
        s -> merged
      }.toMap)

    def isEmpty: Boolean = positions.isEmpty

    /** True iff every position of this vector is in `other` — the
      * lineage-containment check the change feed's delta reads verify
      * in-task (vector lineage only union-grows; a divergence means a
      * concurrent restore/rebind the feed cannot represent). */
    def subsetOf(other: Deleted): Boolean =
      positions.forall { case (s, ords) =>
        other.positions.get(s).exists { os =>
          ords.forall(o => java.util.Arrays.binarySearch(os, o) >= 0)
        }
      }
  }

  object Deleted {
    val empty: Deleted = Deleted(Map.empty)

    def of(entries: Iterable[(Long, Long)]): Deleted = Deleted(
      entries.groupBy(_._1).map { case (s, es) =>
        s -> es.map(_._2).toArray.distinct.sorted
      })
  }

  // ---- position-set fingerprint ------------------------------------

  // splitmix64 finalizer — a full-avalanche 64-bit mix, so XORing the
  // per-position hashes below yields a well-distributed set digest
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic, ORDER-INDEPENDENT fingerprint of a vector's
    * position set: XOR of a mixed 64-bit hash per (sync, ordinal).
    * Carried in the manifest binding ([[FleetManifest.DvMeta.fp]]) so
    * the change feed decides a no-op rebind (equal count, equal set —
    * compact_vectors' flatten) against a divergent rebind with ZERO
    * vector I/O (r18 verdict #3; the equal-count arc was two full
    * driver-side vector reads per rebound file).
    *
    * The XOR algebra mirrors the count's addition over DISJOINT
    * vectors — a merge-on-read commit combines the existing binding's
    * fingerprint with its partials' by XOR exactly where it adds
    * their counts (partials only hold positions their scan saw live,
    * which excludes everything already vectored). Identical sets
    * always produce identical fingerprints, so a divergence verdict
    * is exact; an equal verdict has the usual 2^-64 collision odds —
    * the in-task `Deleted.subsetOf` lineage checks on the delta reads
    * remain the exactness backstop for spans that stream rows. */
  def fingerprint(d: Deleted): Long = {
    var acc = 0L
    d.positions.foreach { case (sync, ords) =>
      val hs = mix64(sync)
      var i = 0
      while (i < ords.length) {
        acc ^= mix64(hs ^ ords(i))
        i += 1
      }
    }
    acc
  }

  private def dvDir(fleet: Path) = new Path(fleet, DirName)

  // ---- binary leaf codec -------------------------------------------

  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  private def writeVarLong(out: java.io.ByteArrayOutputStream,
      value: Long): Unit = {
    require(value >= 0, s"deletion-vector varints are non-negative: $value")
    var v = value
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private final class VarReader(bytes: Array[Byte], var pos: Int) {
    def readVarLong(): Long = {
      var shift = 0
      var result = 0L
      while (true) {
        // bounds-checked: a truncated vector surfaces as the standard
        // malformed-vector IOException, not ArrayIndexOutOfBounds
        if (pos >= bytes.length) throw new java.io.IOException(
          "malformed deletion-vector varint: truncated input")
        val b = bytes(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
        if (shift > 63) throw new java.io.IOException(
          "malformed deletion-vector varint")
      }
      result
    }
  }

  /** The binary-leaf bytes for a position set: per block the ordinals
    * collapse to run-length (gap, len) varint pairs, so a contiguous
    * deleted range costs two varints no matter how long. */
  private[sources] def encode(d: Deleted): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    out.write(Magic)
    writeVarLong(out, d.count)
    val blocks = d.positions.toSeq.sortBy(_._1)
    writeVarLong(out, blocks.size.toLong)
    var prevSync = 0L
    blocks.foreach { case (sync, ords) =>
      writeVarLong(out, sync - prevSync)
      prevSync = sync
      // maximal consecutive runs over the sorted distinct ordinals
      var runs = List.empty[(Long, Long)] // (gap from cursor, len)
      var cursor = 0L
      var i = 0
      while (i < ords.length) {
        val start = ords(i)
        var j = i + 1
        while (j < ords.length && ords(j) == ords(j - 1) + 1) j += 1
        runs = (start - cursor, (j - i).toLong) :: runs
        cursor = start + (j - i)
        i = j
      }
      val ordered = runs.reverse
      writeVarLong(out, ordered.size.toLong)
      ordered.foreach { case (gap, len) =>
        writeVarLong(out, gap)
        writeVarLong(out, len)
      }
    }
    out.toByteArray
  }

  private def decode(bytes: Array[Byte], at: String): Deleted = {
    if (bytes.length < 4 || !java.util.Arrays.equals(
        bytes.take(4), Magic))
      throw new java.io.IOException(
        s"malformed binary deletion vector $at: bad magic")
    val r = new VarReader(bytes, 4)
    val count = r.readVarLong()
    val nBlocks = r.readVarLong()
    var prevSync = 0L
    val m = Map.newBuilder[Long, Array[Long]]
    var b = 0L
    while (b < nBlocks) {
      val sync = prevSync + r.readVarLong()
      prevSync = sync
      val nRuns = r.readVarLong()
      val ords = Array.newBuilder[Long]
      var cursor = 0L
      var i = 0L
      while (i < nRuns) {
        val start = cursor + r.readVarLong()
        val len = r.readVarLong()
        var k = 0L
        while (k < len) { ords += start + k; k += 1 }
        cursor = start + len
        i += 1
      }
      m += (sync -> ords.result())
      b += 1
    }
    val d = Deleted(m.result())
    if (d.count != count) throw new java.io.IOException(
      s"malformed binary deletion vector $at: header count $count, " +
        s"decoded ${d.count}")
    d
  }

  // ---- write paths -------------------------------------------------

  /** Write a new immutable BINARY leaf for `dataFileName`; returns the
    * vector's name RELATIVE to the fleet directory (the spelling the
    * manifest `dvs` map stores). `tag` — when non-empty — is embedded
    * in the name so a job abort can reap its own partial vectors by
    * name (the data-file committer's rollback pattern). Content lands
    * complete before the name is ever referenced — the referencing
    * manifest commit is the only publication point, so no torn-read
    * window exists. */
  def write(fs: FileSystem, fleet: Path, dataFileName: String,
      d: Deleted, tag: String = ""): String = {
    require(!d.isEmpty, s"refusing to write an empty deletion vector " +
      s"for $dataFileName — clear the binding instead")
    val mid = if (tag.isEmpty) "" else s"$tag."
    val name = s"$DirName/$dataFileName.$mid" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.dv.bin"
    val dest = new Path(fleet, name)
    fs.mkdirs(dvDir(fleet))
    val out = fs.create(dest, false)
    try out.write(encode(d))
    finally out.close()
    name
  }

  /** Write a CHAIN NODE binding `parents` (fleet-relative vector
    * names, each already complete on disk) as one logical vector.
    * `count` must be the exact total (parents are disjoint by the
    * merge-on-read scan construction — see the class doc). O(names)
    * driver work: no position is ever read or held. */
  def writeChain(fs: FileSystem, fleet: Path, dataFileName: String,
      parents: Seq[String], count: Long): String = {
    require(parents.nonEmpty, "a chain node needs at least one parent")
    val name = s"$DirName/$dataFileName." +
      s"${java.util.UUID.randomUUID().toString.take(8)}.dv.chain.json"
    val dest = new Path(fleet, name)
    fs.mkdirs(dvDir(fleet))
    val json = JObject(
      "file" -> JString(dataFileName),
      "count" -> JInt(BigInt(count)),
      "parents" -> JArray(parents.toList.map(JString(_))))
    val out = fs.create(dest, false)
    try out.write(JsonMethods.compact(JsonMethods.render(json))
      .getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** The r16 JSON spelling — kept ONLY so specs can pin that legacy
    * vectors still read; production writes are binary. */
  private[graft] def writeLegacyJson(fs: FileSystem, fleet: Path,
      dataFileName: String, d: Deleted): String = {
    require(!d.isEmpty, "refusing to write an empty deletion vector")
    val name = s"$DirName/$dataFileName." +
      s"${java.util.UUID.randomUUID().toString.take(8)}.dv.json"
    val dest = new Path(fleet, name)
    fs.mkdirs(dvDir(fleet))
    val json = JObject(
      "file" -> JString(dataFileName),
      "count" -> JInt(BigInt(d.count)),
      "deleted" -> JObject(d.positions.toList.sortBy(_._1).map {
        case (sync, ords) =>
          sync.toString -> (JArray(ords.toList.map(o =>
            JInt(BigInt(o)): org.json4s.JValue)): org.json4s.JValue)
      }))
    val out = fs.create(dest, false)
    try out.write(JsonMethods.compact(JsonMethods.render(json))
      .getBytes("UTF-8"))
    finally out.close()
    name
  }

  // ---- read paths --------------------------------------------------

  /** Position reads performed by this JVM — test instrumentation: the
    * fingerprint routing's whole point is that a no-op rebind span is
    * decided with ZERO position reads, and a spec can only pin that
    * with a counter (local mode shares the JVM with tasks, so in-task
    * reads register too). Counts position-materializing reads only,
    * never header/count/chain-JSON peeks. */
  private[graft] val positionReads =
    new java.util.concurrent.atomic.AtomicLong

  /** Read a vector by its manifest-stored relative name. Read/parse
    * failures PROPAGATE (the [[FleetSchemaMarker]] posture: silently
    * resurrecting deleted rows beats nothing — never the reverse). */
  def read(fs: FileSystem, fleet: Path, relName: String): Deleted =
    readPath(fs, new Path(fleet, relName))

  /** Absolute-path read — what a task does with the full vector path
    * its [[AvroFilePartition]] carries. Chains resolve recursively
    * (parents are fleet-relative; the fleet root is two levels above
    * any vector file by the `_dv/` layout contract). */
  def readPath(fs: FileSystem, p: Path): Deleted = {
    positionReads.incrementAndGet()
    val name = p.getName
    if (name.endsWith(".dv.bin")) {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      decode(bytes, p.toString)
    } else if (name.endsWith(".dv.chain.json")) {
      val fleet = p.getParent.getParent
      parseChain(readText(fs, p), p.toString)._2
        .map(rel => read(fs, fleet, rel))
        .reduce(_ union _)
    } else readLegacyJson(fs, p)
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** (header count, parents) of a chain node. */
  private def parseChain(text: String, at: String): (Long, Seq[String]) = {
    val obj = JsonMethods.parse(text)
    val count = obj \ "count" match {
      case JInt(n) => n.toLong
      case other => throw new java.io.IOException(
        s"malformed chain vector $at: count = $other")
    }
    val parents = obj \ "parents" match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case other => throw new java.io.IOException(
        s"malformed chain vector $at: parents = $other")
    }
    (count, parents)
  }

  private def readLegacyJson(fs: FileSystem, p: Path): Deleted =
    JsonMethods.parse(readText(fs, p)) \ "deleted" match {
      case o: JObject => Deleted(o.obj.map {
        case (sync, JArray(vs)) =>
          sync.toLong -> vs.collect { case JInt(n) => n.toLong }
            .toArray.sorted
        case (sync, other) => throw new java.io.IOException(
          s"malformed deletion vector $p: block $sync = $other")
      }.toMap)
      case other => throw new java.io.IOException(
        s"malformed deletion vector $p: deleted = $other")
    }

  /** Just the deleted-row count — a dozen HEADER bytes for a binary
    * leaf, one tiny JSON for a chain/legacy vector; never positions.
    * Lets driver-side count math stay O(1) per vector. */
  def readCount(fs: FileSystem, fleet: Path, relName: String): Long =
    countAt(fs, new Path(fleet, relName))

  /** Absolute-path twin of [[readCount]]. */
  def countAt(fs: FileSystem, p: Path): Long = {
    val name = p.getName
    if (name.endsWith(".dv.bin")) {
      val in = fs.open(p)
      val head = try {
        // a single read() may legally return SHORT of the buffer even
        // mid-file (HDFS/object-store streams) — loop to fill or EOF.
        // read() == 0 is treated as EOF too: a stream that returns 0
        // forever must not spin this loop (the partial header below
        // then fails the magic/varint checks loudly)
        val buf = new Array[Byte](24) // magic + 2 varints at most
        var off = 0
        var n = 1
        while (off < buf.length && n > 0) {
          n = in.read(buf, off, buf.length - off)
          if (n > 0) off += n
        }
        java.util.Arrays.copyOf(buf, off)
      } finally in.close()
      if (head.length < 5 || !java.util.Arrays.equals(head.take(4), Magic))
        throw new java.io.IOException(
          s"malformed binary deletion vector $p: bad magic")
      new VarReader(head, 4).readVarLong()
    } else if (name.endsWith(".dv.chain.json"))
      parseChain(readText(fs, p), p.toString)._1
    else JsonMethods.parse(readText(fs, p)) \ "count" match {
      case JInt(n) => n.toLong
      case other => throw new java.io.IOException(
        s"malformed deletion vector $p: count = $other")
    }
  }

  /** Per-column (min, max, count) of the DELETED rows' non-null
    * values — the deleted-value stats a merge-on-read task captures
    * alongside its partial vector so the manifest binding can carry
    * them
    * ([[FleetManifest.DvMeta]]) and the MIN/MAX metadata aggregate
    * tier can STAND on a vectored fleet (r18). EXECUTOR-side,
    * streaming at ANY delete size (r19 — the 8192-position cliff
    * declined capture on exactly the fleets that want the tier: big
    * redaction passes): the task re-decodes exactly the deleted
    * positions' blocks of the container it just scanned —
    * `seek(sync)` per touched block, stop at the block's last wanted
    * ordinal — folding each value into O(tracked columns) running
    * (min, max, nonNull) state. Cost is O(deleted rows of this file),
    * strictly under the scan that matched them; memory never depends
    * on the position count. Returns None (uncaptured) only when
    * `limit` ≤ 0 (capture off), the file's deleted-position count
    * exceeds an explicitly-configured cap, on any decode surprise, or
    * when a non-finite float appears (the sidecar Collector's drop
    * rule — such a file has no sidecar coverage for the column, so
    * nothing is lost).
    *
    * Values are normalized to the sidecar's PARSED carrier spelling
    * (ints/temporals → Long, floats → Double, String, Boolean) so
    * [[FleetFilters.cmp]] compares them against sidecar extrema
    * directly. A column with no non-null deleted value is ABSENT from
    * the map — the strongest proof: this vector deleted nothing
    * comparable. */
  def captureStats(fs: FileSystem, fleet: Path, file: String,
      d: Deleted, limit: Long)
      : Option[Map[String, FleetManifest.DvColStat]] = {
    if (limit <= 0 || d.isEmpty) return None
    // an explicitly-configured statsCaptureLimit is a per-(task,file)
    // position cap (its original meaning): past it, decline capture —
    // the binding stays exact, honestly uncaptured. The unset default
    // arrives here as Long.MaxValue (capture at any size).
    if (d.positions.valuesIterator.map(_.length.toLong).sum > limit)
      return None
    def normalize(v: Any): Any = v match {
      case null => null
      case i: java.lang.Integer => Long.box(i.longValue())
      case s: java.lang.Short => Long.box(s.longValue())
      case b: java.lang.Byte => Long.box(b.longValue())
      case f: java.lang.Float =>
        if (f.isNaN || f.isInfinite) throw new ArithmeticException
        else Double.box(f.doubleValue())
      case dd: java.lang.Double =>
        if (dd.isNaN || dd.isInfinite) throw new ArithmeticException
        else dd
      case dt: java.sql.Date => Long.box(dt.toLocalDate.toEpochDay)
      case ts: java.sql.Timestamp =>
        Long.box(ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000)
      case other => other // String / Boolean / Long
    }
    try {
      val path = new Path(file)
      val datumReader = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()
      val stream = new org.apache.avro.file.DataFileReader(
        new HadoopSeekableInput(fs.open(path),
          fs.getFileStatus(path).getLen), datumReader)
      try {
        val writer = stream.getSchema
        val tracked = Avro.toSparkSchema(writer).fields
          .filter(f => FleetStats.trackableType(f.dataType)).map(_.name)
        if (tracked.isEmpty) return Some(Map.empty)
        val effective = Avro.prunedSchema(writer, tracked.toSeq)
        datumReader.setExpected(effective)
        import scala.jdk.CollectionConverters._
        val fieldSchemas = effective.getFields.asScala
          .map(f => f.name() -> f.schema()).toSeq
        val mins = scala.collection.mutable.HashMap.empty[String, Any]
        val maxs = scala.collection.mutable.HashMap.empty[String, Any]
        val nns = scala.collection.mutable.HashMap.empty[String, Long]
        var complete = true
        d.positions.toSeq.sortBy(_._1).foreach { case (sync, ords) =>
          stream.seek(sync)
          var ridx = 0L
          var wi = 0
          // previousSync sampled BEFORE next(): reading a block's last
          // record advances it (the FleetDvSpec split-stability rule)
          while (wi < ords.length && stream.hasNext &&
              stream.previousSync() == sync) {
            val rec = stream.next()
            if (ridx == ords(wi)) {
              fieldSchemas.foreach { case (c, fsch) =>
                val v = normalize(Avro.fromAvroValue(rec.get(c), fsch))
                if (v != null) {
                  if (!mins.get(c).exists(FleetFilters.cmp(_, v) <= 0))
                    mins(c) = v
                  if (!maxs.get(c).exists(FleetFilters.cmp(_, v) >= 0))
                    maxs(c) = v
                  nns(c) = nns.getOrElse(c, 0L) + 1L
                }
              }
              wi += 1
            }
            ridx += 1L
          }
          // a wanted ordinal past the block's end: the vector and the
          // file disagree — never publish a partial proof
          if (wi < ords.length) complete = false
        }
        if (!complete) None
        else Some(mins.keysIterator.map(c =>
          c -> FleetManifest.DvColStat(mins(c), maxs(c), nns(c))).toMap)
      } finally stream.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A chain node's immediate parent names (empty for leaves) — lets
    * the merge-on-read committer keep chains FLAT: binding over an
    * existing chain splices its parents instead of nesting, so a
    * vector stays one node + k leaves after any number of over-budget
    * commits (read cost never compounds with commit count). One tiny
    * JSON read; never positions. */
  def chainParents(fs: FileSystem, fleet: Path,
      relName: String): Seq[String] =
    if (!relName.endsWith(".dv.chain.json")) Seq.empty
    else parseChain(readText(fs, new Path(fleet, relName)), relName)._2

  /** Expand a set of fleet-relative vector names to include every
    * chain PARENT, transitively — the reference set GC must treat as
    * live (deleting a leaf still referenced through a live chain node
    * would resurrect a torn read). Reads only chain-node JSONs; leaf
    * names expand for free. */
  def expandRefs(fs: FileSystem, fleet: Path,
      names: Set[String]): Set[String] = {
    var seen = Set.empty[String]
    var frontier = names
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.filter(_.endsWith(".dv.chain.json"))
        .flatMap { rel =>
          parseChain(readText(fs, new Path(fleet, rel)),
            rel)._2.toSet
        } -- seen
    }
    seen
  }
}
