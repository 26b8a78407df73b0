package graft.sources

import scala.collection.mutable

/** Per-(file, column) Bloom filter for the fleet sidecars — the
  * data-skipping tier min/max bounds cannot provide. Range stats prune
  * range predicates on CLUSTERED columns; a point lookup (`=` / `IN`)
  * on a hash-distributed high-cardinality key matches every file's
  * [min, max] and prunes nothing. The Bloom answers exactly that case:
  * each writer task folds every non-null value's canonical hash into a
  * small bit array, and the planner drops a file when a pushed
  * equality's hash is provably absent. Parquet offers the same tier
  * (`parquet.bloom.filter.enabled`); this recreates it for the fleet
  * codecs on top of the existing `_stats.json` commit path.
  *
  * Soundness contract (mirrors the min/max tier):
  *  - a Bloom EXISTS for a (file, column) only if EVERY non-null value
  *    of that column in that file was inserted — a value the canonical
  *    hash cannot represent faithfully (|integer| ≥ 2^53, where
  *    `FleetFilters.cmp`'s double comparison conflates neighbors, or a
  *    family the hash doesn't cover) poisons the builder and the
  *    column gets NO bloom for that file, never a partial one;
  *  - hash equality is exactly `FleetFilters.cmp == 0` on the covered
  *    domain: integral and integral-valued floating numbers collapse
  *    to the same long key (cmp compares them equal), non-integral
  *    floats hash their IEEE bits (cmp-equal iff bit-equal after the
  *    double widening both sides share), temporal values hash their
  *    zone-free carrier integers via `FleetFilters.temporalLong`, and
  *    strings hash UTF-8 bytes (cmp-equal iff identical);
  *  - family tags ('s'tring vs 'n'umeric) gate application: a literal
  *    from a different family than the recorded one proves nothing
  *    (the xlsx inferred-type-divergence case), it just reads;
  *  - false POSITIVES only cost an un-skipped file; false negatives
  *    are impossible by construction, so a skip is always sound.
  *
  * Scale: ~10 bits per distinct value, capped at [[MaxDistinct]]
  * distincts per (file, column) — a fleet shard with more distincts
  * than the cap (≳4k) drops the bloom rather than bloating the sidecar
  * or lying about coverage; bounds stay. At the target layout (files
  * of 10⁴–10⁶ rows, blooms on key-ish columns) the sidecar grows by a
  * few KiB per file — read once per PLANNING pass on the driver, never
  * shipped to tasks.
  */
final case class FleetBloom(tag: Char, k: Int, bits: Array[Long]) {
  /** Bit count — always a power of two, so index = hash & (m-1). */
  private def m: Int = bits.length * 64

  /** Standard Kirsch–Mitzenmacher double hashing: k probes from two
    * 64-bit hashes. */
  def mightContain(h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & (m - 1).toLong).toInt
      if ((bits(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  // value equality over the bit words (a case class compares arrays by
  // reference), so two parses of one manifest entry compare equal
  override def equals(o: Any): Boolean = o match {
    case b: FleetBloom => tag == b.tag && k == b.k &&
      java.util.Arrays.equals(bits, b.bits)
    case _ => false
  }

  override def hashCode: Int = java.util.Arrays.hashCode(bits) * 31 + k
}

object FleetBloom {
  /** Probe count — near-optimal for the ~10 bits/key sizing below. */
  val K = 7

  /** Max distinct values a builder tracks before declaring the column
    * too distinct-heavy for this file and dropping the bloom. */
  val MaxDistinct = 4096

  /** Largest magnitude at which every integer is exactly one double —
    * beyond it `cmp`'s integral-vs-floating comparison conflates
    * neighboring longs, so canonical hashing refuses (poisons). */
  private val ExactDoubleBound = 1L << 53

  // splitmix64 finalizer — deterministic, well-mixed, dependency-free
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def longPair(seed: Long, x: Long): (Long, Long) =
    (mix64(x ^ seed), mix64(mix64(x ^ seed) ^ 0x5851f42d4c957f2dL))

  private def stringPair(s: String): (Long, Long) = {
    // FNV-1a 64 over UTF-8, then splitmix-finished for the second hash
    val bytes = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    (h, mix64(h))
  }

  /** Canonical (familyTag, h1, h2) of one carrier value, or None when
    * the family has no faithful hash (then the builder poisons /
    * the prover declines). Equality classes MUST match
    * `FleetFilters.cmp == 0` — see the soundness contract above. */
  def canonicalHash(v: Any): Option[(Char, Long, Long)] = v match {
    case null => None
    case s: String =>
      val (h1, h2) = stringPair(s); Some(('s', h1, h2))
    case _: java.lang.Boolean => None // 2-value domain: bounds suffice
    case t @ (_: java.sql.Timestamp | _: java.time.Instant |
              _: java.sql.Date | _: java.time.LocalDate) =>
      FleetFilters.temporalLong(t).flatMap(longCanonical)
    case n: java.lang.Double => floatingCanonical(n.doubleValue())
    case n: java.lang.Float => floatingCanonical(n.doubleValue())
    case n: Number => longCanonical(n.longValue())
    case _ => None
  }

  private def longCanonical(l: Long): Option[(Char, Long, Long)] =
    if (l <= -ExactDoubleBound || l >= ExactDoubleBound) None
    else { val (h1, h2) = longPair(0x6a09e667f3bcc909L, l)
      Some(('n', h1, h2)) }

  private def floatingCanonical(d: Double): Option[(Char, Long, Long)] =
    if (d.isNaN || d.isInfinite) None
    else if (d == scala.math.rint(d) &&
      d > -ExactDoubleBound.toDouble && d < ExactDoubleBound.toDouble)
      longCanonical(d.toLong) // cmp equates 5L with 5.0 — so must we
    else { val (h1, h2) = longPair(0x3c6ef372fe94f82bL,
        java.lang.Double.doubleToLongBits(d))
      Some(('n', h1, h2)) }

  /** Streaming builder: one per (task, column). Poisons (→ no bloom)
    * on an unhashable value, a family change, or cap overflow — a
    * bloom either covers every non-null value of the file or does not
    * exist. */
  final class Builder extends Serializable {
    private var poisoned = false
    private var tag: Char = 0
    private val seen = mutable.HashSet.empty[(Long, Long)]

    def observe(v: Any): Unit = {
      if (poisoned || v == null) return
      canonicalHash(v) match {
        case Some((t, h1, h2)) =>
          if (tag == 0) tag = t
          if (t != tag) poison()
          else {
            seen.add((h1, h2))
            if (seen.size > MaxDistinct) poison()
          }
        case None => poison()
      }
    }

    private def poison(): Unit = { poisoned = true; seen.clear() }

    def result(): Option[FleetBloom] =
      if (poisoned || seen.isEmpty) None
      else {
        // next power of two ≥ 10 bits per distinct (fpp ≈ 1% at k=7)
        val bits = math.max(64,
          java.lang.Integer.highestOneBit(seen.size * 10 - 1) << 1)
        val arr = new Array[Long](bits / 64)
        seen.foreach { case (h1, h2) =>
          var i = 0
          while (i < K) {
            val bit = ((h1 + i.toLong * h2) & (bits - 1).toLong).toInt
            arr(bit >>> 6) |= 1L << (bit & 63)
            i += 1
          }
        }
        Some(FleetBloom(tag, K, arr))
      }
  }

  // ---- sidecar serialization ------------------------------------------

  def encode(b: FleetBloom): String = {
    val buf = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.bits.foreach(buf.putLong)
    java.util.Base64.getEncoder.encodeToString(buf.array())
  }

  /** None on any malformed input — advisory data, same stance as the
    * rest of the sidecar parser. */
  def decode(tag: String, k: Int, b64: String): Option[FleetBloom] = {
    if (tag.length != 1 || k <= 0 || k > 16) return None
    try {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      if (bytes.length == 0 || bytes.length % 8 != 0) return None
      val words = bytes.length / 8
      if (java.lang.Integer.bitCount(words) != 1) return None // m must be 2^n
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val arr = Array.fill(words)(buf.getLong())
      Some(FleetBloom(tag.charAt(0), k, arr))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
