package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s.{JArray, JInt, JNothing, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Transactional file manifest for avro fleets — the generation
  * pointer that closes the copy-on-write crash window (SURVEY.md §2.A;
  * round-14 verdict's top item). A fleet directory with a `_manifest/`
  * subdirectory is TRANSACTIONAL: readers resolve the data-file set
  * from the highest committed manifest version instead of the raw
  * listing, so
  *
  *  - an in-flight append's task-committed files are invisible until
  *    the job commits (previously a reader racing an append could see
  *    half a job),
  *  - a copy-on-write rewrite ([[FleetMerge]], SQL
  *    DELETE/UPDATE/MERGE via ReplaceData) swaps old generation out
  *    and new generation in as ONE manifest commit — a crash before
  *    the swap leaves invisible orphans (new files, never referenced);
  *    a crash after it leaves the replaced originals as unreferenced
  *    garbage for [[FleetCompact.expireVersions]] — readers never see
  *    both generations, and never lose rows, at any crash point,
  *  - retained versions are SNAPSHOTS: `option("versionAsOf", n)` (or
  *    SQL `VERSION AS OF n` through [[GraftCatalog]]) reads the exact
  *    file set of generation n for as long as its files survive GC.
  *
  * Commit protocol — versioned rename-claim with read-back
  * verification, no pointer file to torn-write:
  *
  *  1. read the current version N (highest `v…json` in `_manifest/`),
  *  2. compute the next file list and render it as `v{N+1}.json`
  *     content,
  *  3. claim `v{N+1}.json` atomically: on the LOCAL filesystem a
  *     hard link from a completed hidden temp (`Files.createLink`
  *     fails-if-exists at the OS level — rename would clobber);
  *     elsewhere a temp + `rename` (HDFS rename-if-absent refuses an
  *     existing destination) with a READ-BACK verifying the content
  *     is ours. A lost claim re-reads and retries on N+2 with the
  *     update function applied to the NEW base, so racing commits
  *     serialize instead of losing updates.
  *
  * ATOMICITY CAVEAT — S3A-style object stores: their `rename` is a
  * non-atomic check-then-copy, so two racing cross-process committers
  * can interleave past the read-back and lose one update (the Iceberg
  * HadoopCatalog caveat, verbatim). Fleets on such stores need an
  * external lock/commit service serializing committers (or a
  * conditional-put shim where the store exposes one); HDFS and local
  * filesystems need nothing. Same-JVM committers are always safe (the
  * stripe lock serializes them before the filesystem is involved).
  *
  * In-JVM commits additionally serialize on striped locks so
  * local-mode concurrency never relies on filesystem rename semantics
  * at all. Version files are immutable
  * once committed; file names are RELATIVE to the fleet directory so a
  * fleet (with its `_manifest/`) survives a directory rename/move.
  *
  * Manifest-less directories keep the raw-listing + `_SUCCESS`
  * contract unchanged (interchange drops, `writeDistributed` output,
  * externally-produced fleets); the first V2 commit into such a
  * directory BOOTSTRAPS the manifest from the raw listing, so legacy
  * fleets upgrade on their next write with no migration step; that
  * commit also adopts the directory's `_stats.json` entries and
  * removes the sidecar.
  *
  * Each snapshot holds one ENTRY per data file ([[FileEntry]]): its
  * length and mtime, and the rows and column stats its writer
  * captured. Entries are recorded by the commit that adds the file and
  * inherited until it retires, so planning lists nothing and skips
  * files with stats from the same generation as the file list.
  */
/** A manifest commit lost to a CONFLICTING concurrent commit — the
  * base this commit must apply against changed in a way that would
  * corrupt data if blindly re-applied (a file this copy-on-write swap
  * retires was already retired/rewritten by another committer, or the
  * fleet moved past the caller's `expectedVersion`). Retryable by
  * RE-RUNNING the whole read-rewrite-commit transaction against the
  * new current generation — never by re-applying the stale update. */
class FleetCommitConflictException(msg: String)
    extends java.io.IOException(msg)

/** Control signal, not an error: a commit carrying a writer-idempotence
  * token ([[FleetManifest.TxnPropPrefix]]) found its (appId, version)
  * already in the ledger — the transaction landed on an earlier
  * attempt. The caller treats the job as SUCCEEDED and reaps its own
  * staged files instead of publishing duplicates. */
class FleetTxnAlreadyAppliedException(msg: String)
    extends RuntimeException(msg)

private[graft] object FleetManifest {

  val DirName = "_manifest"

  /** Commit-wall-clock property every commit stamps into
    * [[Snapshot.props]] (ms since epoch) — the durable commit-time
    * index `TIMESTAMP AS OF` binds against. Unlike the version file's
    * mtime it survives a distcp-style fleet migration and ignores
    * clock skew introduced by filesystem copies. */
  val CommitTsProp = "commit.ts"

  /** Snapshot prop carrying the fleet's DECLARED SCHEMA as of the
    * generation ([[FleetSchemaMarker]] JSON — schema + alias chains +
    * dropped spellings). Stamped by ALTER TABLE's schema commit,
    * INHERITED forward by [[commit]] (a data commit doesn't change
    * the declared schema), cleared by the reset commits. Versioned
    * reads resolve their marker from here — `VERSION AS OF` a
    * pre-DROP generation shows the dropped column with its data, a
    * mid-evolution version its intermediate shape. Versions predating
    * the first stamped ALTER carry no prop and fall back to the
    * fleet-root marker (the pre-r19 behavior, exact for never-altered
    * fleets). */
  val SchemaProp = "graft.schema"

  /** Prefix of the WRITER-IDEMPOTENCE ledger props (r19): `txn:<appId>`
    * → the highest `txnVersion` that application has committed into
    * this fleet. A batch write carrying `option("txnAppId", ...)` +
    * `option("txnVersion", N)` (the public Delta-style token pair)
    * lands AT MOST ONCE per (appId, version): a replay — an
    * orchestrator re-running a job whose driver died after the
    * manifest commit — is detected inside the commit's own retry loop
    * against the freshly-read base and SKIPS, so a retried append can
    * never double its rows. Ledger props are INHERITED forward by
    * [[commit]] exactly like [[SchemaProp]] (including across reset
    * commits — an overwrite replay must still skip), one entry per
    * appId, monotonically maxed. */
  val TxnPropPrefix = "txn:"

  /** Prefix of the CHECK-CONSTRAINT props (r20): `check:<name>` → the
    * constraint's SQL expression. Checks are part of the MANIFEST
    * state — not sidecar metadata — so the constraint set is
    * versioned, serializable against concurrent writers (the
    * [[commit]] `requireChecks` compare-and-set), inherited forward
    * like the txn ledger (including across resets — a constraint is
    * table metadata, INSERT OVERWRITE replaces data, not governance),
    * cloned with the fleet, and visible AS OF any generation (a
    * pre-`add_check` version carries no prop — history shows the
    * check set each generation was committed under). `drop_check`
    * clears an entry with the empty-string sentinel, exactly like
    * [[SchemaProp]]. Legacy `_checks.json` sidecars are honored until
    * the first add/drop migrates them into the manifest. */
  val CheckPropPrefix = "check:"

  /** The check-constraint set a snapshot's props carry (empty for
    * pre-r20 / unchecked fleets). */
  def checksOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(CheckPropPrefix) && v.nonEmpty =>
        k.stripPrefix(CheckPropPrefix) -> v
    }

  /** One committed generation: the complete set of data-file NAMES
    * (relative to the fleet directory) a reader of this version must
    * see, plus optional COMMIT METADATA — application properties that
    * ride the one atomic commit (e.g. [[FleetMV]]'s source-version
    * stamp: state that must change exactly when the file set does
    * belongs here, not in a second marker file a crash can split from
    * the swap) — plus the generation's DELETION-VECTOR bindings
    * (`dvs`: data-file name → [[FleetDv]] vector name, both relative;
    * a bound file reads with its vector's rows skipped). `dvs` is
    * INHERITED forward by [[commit]] (minus retired files, plus the
    * commit's own changes) — unlike `props`, which each commit states
    * in full — because a vector binding is part of the data state,
    * not a per-commit annotation. `entries` (data-file name →
    * [[FileEntry]]) is inherited the same way: a commit records an
    * entry for each file it ADDS, and a retired file drops its entry
    * (see [[statuses]] and [[FleetView.stats]] for how readers use
    * them). */
  final case class Snapshot(version: Long, files: Seq[String],
      props: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      dvMeta: Map[String, DvMeta] = Map.empty,
      entries: Map[String, FileEntry] = Map.empty)(
      /** The live segments `files` and `entries` come from; empty for
        * a legacy version file. Not part of equality. */
      private[graft] val segments: Seq[LiveSegment]) {

    /** File `name`'s committed stats; None = read it unskipped. */
    def statsOf(name: String): Option[FleetStats.PartStats] =
      entries.get(name).flatMap(_.stats)

    /** The committed stats of every file that has them, by name. */
    def fileStats: Map[String, FleetStats.PartStats] =
      files.flatMap(n => statsOf(n).map(n -> _)).toMap
  }

  /** A write-once segment file: the entries of the files one commit
    * added or one merge combined, in order; `key` is its qualified path. */
  private[graft] final case class Segment(key: String,
      files: Vector[String], entries: Map[String, FileEntry])

  /** A segment as a version lists it: its name and the names removed
    * from it since it was written. */
  private[graft] final case class LiveSegment(name: String,
      removed: Set[String], seg: Segment) {
    def live: Vector[String] = seg.files.filterNot(removed)
    def liveCount: Int = seg.files.size - removed.size
  }

  /** A data file's manifest entry: its byte length and modification
    * time from one status call at commit, and — when its writer
    * captured them — its row count and per-column stats
    * ([[FleetStats]]; an entry without them is read unskipped). Data
    * files are immutable under the claim protocol, so the values stay
    * true for as long as the file exists. */
  final case class FileEntry(len: Long, mtime: Long,
      rows: Option[Long] = None,
      cols: Map[String, FleetStats.ColStat] = Map.empty) {
    def stats: Option[FleetStats.PartStats] =
      rows.map(FleetStats.PartStats(len, _, cols))
  }

  /** Per-binding deletion-vector METADATA, carried in the manifest so
    * planning never opens a vector file (r17 verdict #1: the plan-time
    * `countAt` loop, the CDC/stream guards' header reads, and the MOR
    * committer's `readCount` were each O(vectored files) serial GETs on
    * an object store):
    *
    *  - `count` — the vector's exact deleted-row total (== its header
    *    count; chains: the additive parent total). Makes COUNT(*)
    *    correction, CDC change routing, and commit-time count math
    *    zero-I/O.
    *  - `fp` — the position set's deterministic fingerprint
    *    ([[FleetDv.fingerprint]]: XOR of mixed per-position hashes,
    *    combinable over disjoint vectors exactly like the additive
    *    count). Lets the change feed's equal-count rebind arc decide
    *    no-op vs divergence with zero vector I/O (r19); absent on
    *    legacy bindings — callers fall back to the driver
    *    set-compare.
    *  - `stats` — per tracked column, the DELETED rows' non-null
    *    profile ([[DvColStat]]: min, max, non-null count) in the
    *    sidecar carrier spelling ([[FleetStats.toJson]]); a column
    *    with no non-null deleted value is ABSENT. `Some(stats)` means
    *    the writer captured values for every tracked column —
    *    streamed at ANY delete size since r19 (the conf
    *    `spark.graft.dv.statsCapture` false — or an explicit
    *    `statsCaptureLimit` cap — disables); `None`
    *    means unknown (legacy bindings, capture disabled). With
    *    stats, the MIN/MAX metadata aggregate tier STANDS on a
    *    vectored fleet when the deleted values are strictly interior,
    *    and COUNT(col) corrects exactly by the deleted non-null count
    *    — the full aggregate matrix stays zero-task through
    *    merge-on-read deletes of any width.
    *
    * Keyed by DATA FILE name (like `dvs`); entries follow their
    * binding — a commit that swaps a binding without supplying fresh
    * meta DROPS the stale entry (readers fall back to header reads),
    * and a retired file drops both. Absent wholesale in pre-r18
    * version files (legacy parse → empty map). */
  final case class DvMeta(count: Long,
      stats: Option[Map[String, DvColStat]] = None,
      fp: Option[Long] = None)

  /** One column's deleted-row profile inside a [[DvMeta]]: (min, max)
    * of the non-null deleted values and their exact count. Present
    * only when at least one non-null value was deleted (nonNull ≥ 1). */
  final case class DvColStat(min: Any, max: Any, nonNull: Long)

  private def mdir(dir: Path) = new Path(dir, DirName)
  private def vname(v: Long) = f"v$v%020d.json"
  private def vpath(dir: Path, v: Long) = new Path(mdir(dir), vname(v))

  /** The on-disk location of one committed version (retention passes
    * unlink expired versions through this). */
  def versionFilePath(dir: Path, v: Long): Path = vpath(dir, v)

  /** Fleet-relative directory of every main and branch segment. */
  val SegmentsRel = s"$DirName/seg"

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.stripPrefix("v").stripSuffix(".json").toLongOption
    else None

  /** One listing serving every per-version lookup — (version, status)
    * ascending; empty when the fleet is manifest-less. */
  private def versionStatuses(fs: FileSystem, dir: Path)
      : Seq[(Long, FileStatus)] = {
    val d = mdir(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .flatMap(st => parseVersion(st.getPath.getName).map(_ -> st))
      .sortBy(_._1)
  }

  // ---- HEAD-version hint (r22, the r21 verdict's #3) ---------------
  //
  // Listing `_manifest/` costs O(history) per `current()`, and every
  // commit reads current. Commits claim head+1 and the head only
  // grows, so the head is findable from a JVM-local hint with forward
  // probes: hit the hinted file, then probe +1 until the first miss —
  // typically 2 stats. A miss ON the hint itself (externally
  // reset/recreated fleet) falls back to the listing and reseeds.
  //
  // Version numbers are NOT always contiguous: retention keeps a
  // TAGGED version and expires the ones around it, so a probe from a
  // stale hint on that tag stops below the real head — and a commit
  // from there would claim an expired number and fork history. A head
  // the probe lands on is therefore trusted only when this JVM
  // committed it (`ownHeads`); any other head — a foreign commit above
  // the hint, a hint seeded by a listing — is confirmed by one listing.
  private val headHints =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val ownHeads =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def hintKey(fs: FileSystem, vdir: Path): String =
    fs.makeQualified(vdir).toString

  private[sources] def noteHead(fs: FileSystem, vdir: Path,
      v: Long): Unit =
    headHints.merge(hintKey(fs, vdir), java.lang.Long.valueOf(v),
      (a, b) => if (a.longValue() >= b.longValue()) a else b)

  /** Note `v` as a head this JVM committed (or adopted, publishing a
    * branch). */
  private def noteCommitted(fs: FileSystem, vdir: Path, v: Long): Unit = {
    noteHead(fs, vdir, v)
    ownHeads.put(hintKey(fs, vdir), java.lang.Long.valueOf(v))
  }

  private def dropHint(fs: FileSystem, vdir: Path): Unit = {
    headHints.remove(hintKey(fs, vdir))
    ownHeads.remove(hintKey(fs, vdir))
  }

  /** The highest committed version file in `vdir` (a main `_manifest/`
    * or a branch vdir), hint-accelerated. */
  private def headStatus(fs: FileSystem, vdir: Path,
      list: => Seq[(Long, FileStatus)]): Option[FileStatus] = {
    val key = hintKey(fs, vdir)
    def seed(): Option[FileStatus] = {
      val last = list.lastOption
      last.foreach { case (v, _) =>
        headHints.put(key, java.lang.Long.valueOf(v)) }
      last.map(_._2)
    }
    def stat(v: Long): Option[FileStatus] =
      try Some(fs.getFileStatus(new Path(vdir, vname(v))))
      catch { case _: java.io.FileNotFoundException => None }
    val hint = headHints.get(key)
    if (hint == null) return seed()
    var v = hint.longValue()
    var head = stat(v)
    if (head.isEmpty) { dropHint(fs, vdir); return seed() }
    var up = stat(v + 1L)
    while (up.isDefined) { head = up; v += 1L; up = stat(v + 1L) }
    if (Option(ownHeads.get(key)).exists(_.longValue() == v)) head
    else seed()
  }

  /** All committed versions at `dir`, ascending; empty when the fleet
    * is manifest-less. */
  def versions(fs: FileSystem, dir: Path): Seq[Long] =
    versionStatuses(fs, dir).map(_._1)

  /** Committed versions with their COMMIT TIMES (ms) — the index
    * `TIMESTAMP AS OF` binds against. The time is the `commit.ts`
    * property the committer stamped into the snapshot itself, so a
    * copied/moved fleet keeps its time-travel index; a pre-stamp
    * legacy version falls back to its version file's mtime. One tiny
    * cached-snapshot lookup per retained version — bounded by
    * retention, never by fleet size. */
  def versionsWithTimes(fs: FileSystem, dir: Path): Seq[(Long, Long)] =
    versionStatuses(fs, dir).map { case (v, st) =>
      val stamped = readCached(fs, dir, st).props
        .get(CommitTsProp).flatMap(_.toLongOption)
      v -> stamped.getOrElse(st.getModificationTime)
    }

  // ---- snapshot and segment caches --------------------------------
  //
  // Version files are immutable (the legacy rewrite and the restamp
  // TEST hook invalidate explicitly), so parsed snapshots cache
  // process-wide, validated against the (mtime, len) of the caller's
  // FileStatus. Segments never change (unique names), so they cache by
  // name unvalidated. Both caches clear together when their weight —
  // files across snapshots plus entries across segments — would pass
  // [[CacheWeight]]. The claim READ-BACK bypasses them.
  private[graft] val CacheWeight = 1L << 20
  private val snapCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Snapshot)]()
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Segment]()

  /** The caches' weight, cached snapshots and cached segments. */
  private[graft] def cacheStats: (Long, Int, Int) = {
    var w = 0L
    snapCache.values.forEach(h => w += h._3.files.size)
    segCache.values.forEach(sg => w += sg.files.size)
    (w, snapCache.size, segCache.size)
  }

  private def readCached(fs: FileSystem, dir: Path,
      st: FileStatus): Snapshot = {
    val key = fs.makeQualified(st.getPath).toString
    val hit = snapCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime &&
        hit._2 == st.getLen) hit._3
    else {
      val snap = readParsed(fs, dir, st.getPath, retried = false)
      cache(key, st, snap)
      snap
    }
  }

  private def cache(key: String, st: FileStatus, snap: Snapshot): Unit =
    snapCache.synchronized {
      if (cacheStats._1 + snap.files.size +
          snap.segments.map(_.seg.files.size).sum > CacheWeight)
        clearSnapshotCache()
      snap.segments.foreach(ls => segCache.putIfAbsent(ls.seg.key, ls.seg))
      snapCache.put(key, (st.getModificationTime, st.getLen, snap))
    }

  private def invalidate(fs: FileSystem, p: Path): Unit =
    snapCache.remove(fs.makeQualified(p).toString)

  /** TEST/BENCH hook: drop every cached snapshot and, unless told to
    * keep them, segment — the cold-process shape. */
  private[graft] def clearSnapshotCache(segments: Boolean = true): Unit =
    snapCache.synchronized { snapCache.clear(); if (segments) segCache.clear() }

  /** Drop every cached snapshot under `dir` — BRANCH version files are
    * the one place the (mtime, len) validation is insufficient:
    * dropBranch/fastForward delete them, and a recreated branch of the
    * same name can land a different v{N}.json at the same path with
    * equal length within filesystem mtime granularity (1s on many
    * stores), silently serving the dropped branch's snapshot. */
  private def invalidatePrefix(fs: FileSystem, dir: Path): Unit = {
    val prefix = fs.makeQualified(dir).toString + "/"
    snapCache.keySet.removeIf(_.startsWith(prefix))
  }

  /** STAGING/TEST hook: rewrite an already-committed version's
    * `commit.ts` property in place so a fixture's time-travel index
    * is deterministic. Never part of the production commit path —
    * committed version files are immutable there. */
  private[graft] def restampCommitTs(fs: FileSystem, dir: Path, v: Long,
      ts: Long): Unit = {
    val snap = withSegments(fs, dir, snapshotAt(fs, dir, v).getOrElse(
      throw new IllegalArgumentException(s"no manifest version $v at $dir")))
    val p = vpath(dir, v)
    writeText(fs, p, render(Snapshot(v, snap.files, snap.props +
      (CommitTsProp -> ts.toString), snap.dvs, snap.dvMeta, snap.entries)(
      snap.segments)), overwrite = true)
    invalidate(fs, p) // test-only in-place rewrite
  }

  def snapshotAt(fs: FileSystem, dir: Path, v: Long): Option[Snapshot] = {
    // under an active branch that exists here, version numbers past
    // the fork resolve to the BRANCH's commits (main has none there
    // by the strict-ff invariant); pre-fork numbers fall through to
    // the shared main history
    val branchHit = activeBranch
      .filter(b => branchBase(fs, dir, b).isDefined)
      .flatMap { b =>
        val p = new Path(branchVDir(dir, b), vname(v))
        try Some(readCached(fs, dir, fs.getFileStatus(p)))
        catch { case _: java.io.FileNotFoundException => None }
      }
    branchHit.orElse(snapshotAtMain(fs, dir, v))
  }

  /** MAIN-history-only version lookup — what RETENTION must resolve:
    * a GC pass run from a session with `spark.graft.branch` set must
    * never compute its reference sets from branch content at a
    * number a stale fork shares with a since-advanced main (main
    * version FILES are what it unlinks; branch references enter via
    * [[branchSnapshots]] explicitly). */
  def snapshotAtMain(fs: FileSystem, dir: Path, v: Long)
      : Option[Snapshot] = {
    val p = vpath(dir, v)
    try Some(readCached(fs, dir, fs.getFileStatus(p)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** THE read-side snapshot selection: the generation a reader of
    * `versionAsOf` (None = current) sees, or None when the directory
    * is manifest-less (the caller falls back to the raw-listing
    * contract). A missing `versionAsOf` generation is a loud "no such
    * manifest version" error. `branch` — the PER-READ spelling
    * (`option("branch", name)`, r18): resolve that branch's HEAD
    * explicitly, overriding the session conf; the branch must exist at
    * `dir` (an explicit option deserves a loud miss, unlike the
    * session conf's opt-in fall-through). Mutually exclusive with
    * `versionAsOf` — a branch has its own version sequence. */
  def select(fs: FileSystem, dir: Path, versionAsOf: Option[Long],
      branch: Option[String] = None): Option[Snapshot] =
    (versionAsOf, branch) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        s"versionAsOf and branch are mutually exclusive at $dir — a " +
          "branch has its own version sequence")
      case (_, Some(b)) => Some(requireBranchHead(fs, dir, b))
      case (Some(v), None) =>
        snapshotAt(fs, dir, v).orElse {
          val avail = versions(fs, dir)
          throw new IllegalArgumentException(
            if (avail.isEmpty)
              s"versionAsOf=$v: fleet at $dir has no manifest history " +
                "(only transactionally-committed fleets are versioned)"
            else s"versionAsOf=$v: no such manifest version at $dir " +
              s"(available: ${avail.mkString(", ")})")
        }
      case (None, None) => current(fs, dir)
    }

  private def requireBranchHead(fs: FileSystem, dir: Path,
      b: String): Snapshot =
    branchHead(fs, dir, b).getOrElse(
      throw new IllegalArgumentException(
        s"branch: no branch '$b' at $dir (branches: " +
          s"${branches(fs, dir).map(_._1).mkString(", ")})"))

  // ---- BRANCHES: named MUTABLE refs — write-audit-publish ----------
  //
  // `_manifest/branches/<name>.json` → {"base": B} marks a fork at
  // main version B; the branch's own commits chain as
  // `_manifest/branches/<name>/v{B+1..}.json` through the SAME claim
  // protocol. With session conf `spark.graft.branch = <name>` set
  // (the Iceberg spark.wap.branch posture), every fleet READ resolves
  // the branch head and every COMMIT lands on the branch — but ONLY
  // for fleets where the branch exists (create_branch ran); other
  // fleets in the session behave normally, and main readers never see
  // a branch generation. `CALL graft.system.fast_forward` publishes:
  // main must still be at B (strict fast-forward — any intervening
  // main commit conflicts loudly), the branch's version files adopt
  // into main's sequence verbatim (numbering already continues from
  // B), and the branch ref retires. Stage a cleaning pass on a
  // branch, validate it, publish atomically — the WAP shape.
  //
  // Retention interplay: expireVersions and remove_orphans treat
  // every branch version's files and vectors as LIVE (see the
  // branchSnapshots walk) — a fork pins its history like a tag until
  // dropped or published.

  /** The session's write-audit-publish branch, when one is set.
    * Resolved per call so one session can stage (set), validate, and
    * compare against main (unset) without rebuilding anything. */
  private def activeBranch: Option[String] =
    try org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("spark.graft.branch", null)))
      .map(_.trim).filter(_.nonEmpty)
    catch { case NonFatal(_) => None }

  /** The session's active branch IF it exists at `dir` — the branch
    * every read and commit of this session routes to at this fleet
    * (fleets without the branch behave normally). Callers outside the
    * manifest (the catalog's ALTER staging, marker resolution) share
    * this one routing rule. */
  def activeBranchAt(fs: FileSystem, dir: Path): Option[String] =
    activeBranch.filter(b => branchBase(fs, dir, b).isDefined)

  private def branchesDir(dir: Path) = new Path(mdir(dir), "branches")

  private def branchRef(dir: Path, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"branch name '$name' must be [A-Za-z0-9._-]+")
    new Path(branchesDir(dir), s"$name.json")
  }

  private def branchVDir(dir: Path, name: String) =
    new Path(branchesDir(dir), name)

  /** The branch's fork-point main version, or None when no such
    * branch exists at `dir`. */
  def branchBase(fs: FileSystem, dir: Path, name: String): Option[Long] = {
    val p = branchRef(dir, name)
    if (!fs.exists(p)) None
    else readJson(fs, p) \ "base" match {
      case JInt(v) => Some(v.toLong)
      case other => throw new java.io.IOException(
        s"malformed branch ref $p: base = $other")
    }
  }

  private def branchVersionStatuses(fs: FileSystem, dir: Path,
      name: String): Seq[(Long, FileStatus)] = {
    val d = branchVDir(dir, name)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .flatMap(st => parseVersion(st.getPath.getName).map(_ -> st))
      .sortBy(_._1)
  }

  /** The branch head: its newest own commit, else the fork-point main
    * snapshot (a fresh branch reads exactly what main read at fork).
    * The fallback resolves MAIN history explicitly: pre-fork numbers
    * are shared main versions by the strict-ff invariant, and a
    * session whose `spark.graft.branch` names a DIFFERENT branch must
    * not have that branch's vdir probed for this one's base. */
  def branchHead(fs: FileSystem, dir: Path, name: String)
      : Option[Snapshot] =
    branchBase(fs, dir, name).flatMap { base =>
      headStatus(fs, branchVDir(dir, name),
        branchVersionStatuses(fs, dir, name))
        .map(st => readCached(fs, dir, st))
        .orElse(if (base == 0L) Some(Snapshot(0L, Seq.empty)(Nil))
                else snapshotAtMain(fs, dir, base))
    }

  /** Version lookup under an EXPLICIT branch: numbers past the fork
    * resolve to the branch's own commits, pre-fork numbers to the
    * shared main history — the per-read twin of the session-conf
    * routing in [[snapshotAt]], for the branch-following change feed. */
  def snapshotAtRef(fs: FileSystem, dir: Path, v: Long,
      branch: Option[String]): Option[Snapshot] = branch match {
    case None => snapshotAt(fs, dir, v)
    case Some(b) =>
      val hit = branchBase(fs, dir, b).filter(_ < v).flatMap { _ =>
        val p = new Path(branchVDir(dir, b), vname(v))
        try Some(readCached(fs, dir, fs.getFileStatus(p)))
        catch { case _: java.io.FileNotFoundException => None }
      }
      hit.orElse(snapshotAtMain(fs, dir, v))
  }

  /** Fork a branch at the current main version. Fails if the name
    * exists (drop or publish first). */
  def createBranch(fs: FileSystem, dir: Path, name: String): Unit =
    withCommitLock(fs, dir) {
      val p = branchRef(dir, name)
      require(!fs.exists(p),
        s"branch '$name' already exists at $dir — fast_forward or " +
          "drop_branch first")
      val base = mainCurrent(fs, dir).map(_.version).getOrElse(
        throw new IllegalArgumentException(
          s"create_branch: fleet at $dir has no manifest history — " +
            "only transactionally-committed fleets branch"))
      fs.mkdirs(branchesDir(dir))
      writeText(fs, p, JsonMethods.compact(JsonMethods.render(JObject(
        "base" -> JInt(base)))), overwrite = false)
    }

  /** Delete a branch: its ref, its version files, and nothing else —
    * branch-only data files become unreferenced and fall to
    * remove_orphans / expire. */
  def dropBranch(fs: FileSystem, dir: Path, name: String): Boolean =
    withCommitLock(fs, dir) {
      val existed = fs.delete(branchRef(dir, name), false)
      fs.delete(branchVDir(dir, name), true)
      invalidatePrefix(fs, branchVDir(dir, name))
      dropHint(fs, branchVDir(dir, name))
      existed
    }

  /** All branches at `dir`: (name, base, head version). */
  def branches(fs: FileSystem, dir: Path): Seq[(String, Long, Long)] = {
    val d = branchesDir(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        val name = st.getPath.getName.stripSuffix(".json")
        val base = branchBase(fs, dir, name).getOrElse(
          throw new java.io.IOException(s"branch $name vanished mid-list"))
        val head = branchVersionStatuses(fs, dir, name).lastOption
          .map(_._1).getOrElse(base)
        (name, base, head)
      }.sortBy(_._1)
  }

  /** A branch's LAST-ACTIVITY instant: its newest own commit's stamped
    * `commit.ts` (file mtime fallback), else — a fork with no commits
    * yet — its ref file's mtime. The per-branch retention clock
    * ([[GraftProcedures]] `expire_branches`): an abandoned long-lived
    * fork pins every generation it references like a tag, so without
    * an age-out it can pin a petabyte forever. None when no such
    * branch exists. */
  def branchLastActivity(fs: FileSystem, dir: Path,
      name: String): Option[Long] =
    branchBase(fs, dir, name).map { _ =>
      branchVersionStatuses(fs, dir, name).lastOption.map {
        case (_, st) =>
          readCached(fs, dir, st).props.get(CommitTsProp)
            .flatMap(_.toLongOption).getOrElse(st.getModificationTime)
      }.getOrElse(
        fs.getFileStatus(branchRef(dir, name)).getModificationTime)
    }

  /** Every branch version's snapshot — the references GC must pin. */
  def branchSnapshots(fs: FileSystem, dir: Path): Seq[Snapshot] = {
    val d = branchesDir(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(_.isDirectory).flatMap { bd =>
      fs.listStatus(bd.getPath).toSeq
        .filter(st => parseVersion(st.getPath.getName).isDefined)
        .map(st => readCached(fs, dir, st))
    }
  }

  /** PUBLISH a branch: strict fast-forward of main onto the branch
    * head. Validates main is still AT the fork base (any intervening
    * main commit conflicts — re-branch and re-stage), then adopts the
    * branch's snapshots, over the same segments, into main's sequence
    * (their numbering already continues from the base) with the same
    * claim-if-absent primitive every commit uses, and retires the
    * branch. Readers see main advance monotonically through the
    * staged generations; a crash mid-adopt leaves a shorter, still
    * consistent prefix adopted and the branch intact for a re-run
    * (adoption is idempotent: existing identical versions verify and
    * skip). */
  def fastForward(fs: FileSystem, dir: Path, name: String): Long =
    withCommitLock(fs, dir) {
      val base = branchBase(fs, dir, name).getOrElse(
        throw new IllegalArgumentException(
          s"fast_forward: no branch '$name' at $dir (branches: " +
            s"${branches(fs, dir).map(_._1).mkString(", ")})"))
      val staged = branchVersionStatuses(fs, dir, name)
      val head = staged.lastOption.map(_._1).getOrElse(base)
      // main may sit anywhere in [base, head] — AT base on a clean
      // publish, PAST it after a crashed partial publish being re-run
      // (adoption below verifies each existing version is OURS, so a
      // foreign commit at any of those numbers still conflicts). Past
      // the staged head it is definitely a foreign commit.
      val mainV = mainCurrent(fs, dir).map(_.version).getOrElse(0L)
      if (mainV < base || mainV > head)
        throw new FleetCommitConflictException(
          s"fast_forward '$name' at $dir: branch forked at v$base " +
            s"(staged through v$head) but main is at v$mainV — a " +
            "concurrent main commit landed; re-create the branch " +
            "from the current generation and re-stage the work")
      staged.foreach { case (v, st) =>
        val snap = readCached(fs, dir, st)
        val dest = vpath(dir, v)
        if (fs.exists(dest)) {
          // idempotent re-run after a crash mid-adopt: verify ours
          if (readParsed(fs, dir, dest, retried = false) != snap)
            throw new FleetCommitConflictException(
              s"fast_forward '$name' at $dir: main v$v exists with " +
                "different content — a concurrent commit raced the " +
                "publish")
        } else if (!renameClaim(fs, dir, dest,
            render(withSegments(fs, dir, snap))))
          throw new FleetCommitConflictException(
            s"fast_forward '$name' at $dir: lost the claim on v$v — " +
              "a concurrent main commit raced the publish")
      }
      // a schema evolution STAGED on the branch (FleetSchemaMarker
      // .writeStaged) publishes with the versions it described — main
      // readers resolve the evolved declared schema only from here on.
      // Ordered after the adoption and before the ref deletion, so a
      // crash at any point leaves a re-runnable publish (adoption is
      // idempotent; the staged marker survives until the vdir delete).
      FleetSchemaMarker.publishStaged(fs, dir, name)
      fs.delete(branchRef(dir, name), false)
      fs.delete(branchVDir(dir, name), true)
      invalidatePrefix(fs, branchVDir(dir, name))
      dropHint(fs, branchVDir(dir, name))
      if (staged.nonEmpty) noteCommitted(fs, mdir(dir), head)
      head
    }

  // ---- TAGS: named immutable refs to committed versions -----------
  //
  // `_manifest/tags/<name>.json` → {"version": N}. A tag pins a
  // generation BY NAME — "train run 14 read exactly tag corpus-v3" —
  // and [[FleetCompact.expireVersions]] retains tagged versions (and
  // their files/vectors) regardless of keepLast, so the pin survives
  // routine retention until the tag is dropped. Creation is
  // atomic-if-absent (tags are immutable; re-pointing = drop +
  // create) and runs under the commit lock so a concurrent retention
  // pass cannot expire the target version between validation and the
  // tag landing.

  private def tagsDir(dir: Path) = new Path(mdir(dir), "tags")

  private def tagPath(dir: Path, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    new Path(tagsDir(dir), s"$name.json")
  }

  def createTag(fs: FileSystem, dir: Path, name: String,
      version: Long): Unit = withCommitLock(fs, dir) {
    val p = tagPath(dir, name)
    // tags are MAIN refs: validate against main history only — under
    // an active branch session a branch-routed lookup would let a tag
    // pin a STAGED version number that drop_branch later dangles
    require(snapshotAtMain(fs, dir, version).isDefined,
      s"create_tag: no manifest version $version at $dir (available: " +
        s"${versions(fs, dir).mkString(", ")})")
    fs.mkdirs(tagsDir(dir))
    val out =
      try fs.create(p, false)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.IOException if fs.exists(p) =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists at $dir (tags are immutable — " +
            "drop_tag first to re-point)")
      }
    try out.write(JsonMethods.compact(JsonMethods.render(JObject(
      "version" -> JInt(version)))).getBytes("UTF-8"))
    finally out.close()
  }

  def dropTag(fs: FileSystem, dir: Path, name: String): Boolean =
    fs.delete(tagPath(dir, name), false)

  def tagVersion(fs: FileSystem, dir: Path, name: String): Option[Long] = {
    val p = tagPath(dir, name)
    if (!fs.exists(p)) None
    else readJson(fs, p) \ "version" match {
      case JInt(v) => Some(v.toLong)
      case other => throw new java.io.IOException(
        s"malformed tag $p: version = $other")
    }
  }

  /** All tags at `dir`, (name, version), name-sorted. */
  def tags(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    val d = tagsDir(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        val name = st.getPath.getName.stripSuffix(".json")
        name -> tagVersion(fs, dir, name).getOrElse(
          throw new java.io.IOException(s"tag $name vanished mid-list"))
      }.sortBy(_._1)
  }

  /** The current snapshot a reader of THIS SESSION sees: the active
    * branch's head when `spark.graft.branch` names a branch that
    * exists at `dir` (the write-audit-publish read surface), else the
    * highest committed main version; None for a manifest-less fleet. */
  def current(fs: FileSystem, dir: Path): Option[Snapshot] =
    activeBranch.flatMap(b => branchHead(fs, dir, b))
      .orElse(mainCurrent(fs, dir))

  /** The highest committed MAIN version's snapshot — what non-branch
    * sessions (and the publish/retention machinery) resolve.
    * Hint-accelerated: O(1) stats per call instead of a full
    * `_manifest/` listing (see [[headStatus]]). */
  def mainCurrent(fs: FileSystem, dir: Path): Option[Snapshot] =
    headStatus(fs, mdir(dir), versionStatuses(fs, dir))
      .map(st => readCached(fs, dir, st))

  private def writeText(fs: FileSystem, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readJson(fs: FileSystem, p: Path): JValue = {
    val in = fs.open(p)
    try JsonMethods.parse(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  // ---- VERSION FILES and SEGMENTS ----------------------------------
  //
  // Every version file is COMPLETE, and sized by its segment count,
  // not the fleet: {"version", "props", "dvs", "dvmeta" (if any),
  // "segments": [{"name": "<v>-<uuid>.json", "removed": [...]}]}. A
  // segment is a write-once file under `_manifest/seg/`, {"files",
  // "entries"}, each entry aligned with its file: {"len", "mtime"} plus
  // the "rows" and "cols" its writer captured ([[FleetStats]] codec),
  // or null. A snapshot's files are its segments' live names in order,
  // so a file keeps the place of the commit that first listed it, and
  // a commit writes only its added files' entries. It then keeps the
  // list short ([[plan]]): a segment with no live name leaves, one
  // with more removed than live names is rewritten, the newest merges
  // into its predecessor while that holds at most [[TierRatio]] times
  // its live names (so an entry is rewritten O(log files) times), and
  // past [[MaxSegments]] the smallest adjacent pair merges.
  //
  // LEGACY full ("files", "entries") and delta ("base", "removed",
  // "added", "dvs_set", ...) version files are read, never written:
  // [[FleetCompact.expireVersions]] rewrites each retained one as
  // segments before deleting anything ([[rewriteLegacy]]). Files
  // committed before entries have none: their snapshot plans from one
  // listing ([[statuses]]) and reads them unskipped.

  private val TierRatio = 2
  private[graft] val MaxSegments = 16

  private def readParsed(fs: FileSystem, dir: Path, p: Path,
      retried: Boolean): Snapshot = readJson(fs, p) match {
    case obj: JObject =>
      def bad(what: String, x: Any) =
        new java.io.IOException(s"malformed manifest $p: $what = $x")
      val v = (obj \ "version") match {
        case JInt(n) => n.toLong
        case other => throw bad("version", other)
      }
      (obj \ "segments", obj \ "base") match {
        case (JArray(refs), _) =>
          val segs = refs.map(r => (r \ "name") match {
            case JString(n) => LiveSegment(n, names(r \ "removed").toSet,
              segment(fs, dir, n))
            case other => throw bad("segment", other)
          })
          Snapshot(v, segs.flatMap(_.live), strings(obj \ "props"),
            strings(obj \ "dvs"), parseDvMeta(p, obj), segs.foldLeft(
              Map.empty[String, FileEntry])((m, ls) =>
                m ++ (ls.seg.entries -- ls.removed)))(segs)
        case (_, JInt(b)) =>
          reconstructDelta(fs, dir, p, obj, v, b.toLong, retried)
        case _ =>
          val files = (obj \ "files") match {
            case JArray(vs) => vs.collect { case JString(s) => s }
            case other => throw bad("files", other)
          }
          Snapshot(v, files, strings(obj \ "props"), strings(obj \ "dvs"),
            parseDvMeta(p, obj), parseEntries(p, obj, files))(Nil)
      }
    case other => throw new java.io.IOException(
      s"malformed manifest $p: $other")
  }

  private def names(j: JValue): Seq[String] = j match {
    case JArray(vs) => vs.collect { case JString(s) => s }
    case _ => Seq.empty
  }

  /** Segment `name` of the fleet at `dir`, cached or read. */
  private def segment(fs: FileSystem, dir: Path, name: String): Segment = {
    val p = new Path(dir, s"$SegmentsRel/$name")
    val key = fs.makeQualified(p).toString
    Option(segCache.get(key)).getOrElse(parseSegment(key, p,
      try readJson(fs, p) catch { case e: java.io.FileNotFoundException =>
        throw new java.io.IOException(s"manifest segment $p is missing — " +
          "a partially copied fleet, or deleted out-of-band", e)
      }))
  }

  private def parseSegment(key: String, p: Path, j: JValue): Segment = {
    val files = names(j \ "files").toVector
    Segment(key, files, parseEntries(p, j, files))
  }

  /** A LEGACY delta version file replayed on its base. */
  private def reconstructDelta(fs: FileSystem, dir: Path, p: Path,
      obj: JObject, v: Long, b: Long, retried: Boolean): Snapshot = {
    // the base lives in the same directory (a delta was only written then)
    val base =
      try readCached(fs, dir, fs.getFileStatus(new Path(p.getParent, vname(b))))
      catch {
        // retention rewrote THIS version and deleted its base since we
        // read it: re-read once; the fresh content lists segments
        case _: java.io.FileNotFoundException if !retried =>
          return readParsed(fs, dir, p, retried = true)
        case _: java.io.FileNotFoundException =>
          throw new java.io.IOException(
            s"manifest delta $p references missing base version $b — " +
              "expired out-of-band (FleetCompact.expireVersions rewrites " +
              "retained legacy versions first) or partially copied")
      }
    val removed = names(obj \ "removed").toSet
    val entries = (base.entries -- removed) ++
      parseEntries(p, obj, names(obj \ "added"))
    Snapshot(v, base.files.filterNot(removed) ++ names(obj \ "added"),
      strings(obj \ "props"), (base.dvs -- names(obj \ "dvs_del")) ++
        strings(obj \ "dvs_set"), (base.dvMeta -- names(obj \ "dvmeta_del")) ++
        parseDvMeta(p, obj, "dvmeta_set"), entries)(Nil)
  }

  /** The `entries` array of a segment or legacy version file, aligned
    * with `names` (its `files`, a legacy delta's `added`). */
  private def parseEntries(p: Path, obj: JValue,
      names: Seq[String]): Map[String, FileEntry] =
    (obj \ "entries") match {
      case JNothing => Map.empty
      case JArray(es) if es.size == names.size =>
        names.iterator.zip(es.iterator).collect { case (n, e: JObject) =>
          val m = e.obj.toMap
          def long(k: String): Long = m.get(k) match {
            case Some(JInt(x)) => x.toLong
            case other => throw new java.io.IOException(
              s"malformed manifest $p: entries[$n].$k = $other")
          }
          n -> FileEntry(long("len"), long("mtime"),
            m.get("rows").map(_ => long("rows")),
            FleetStats.parseCols(m.getOrElse("cols", JNothing)))
        }.toMap
      case other => throw new java.io.IOException(
        s"malformed manifest $p: entries = $other")
    }

  private def entriesJson(names: Seq[String],
      entries: Map[String, FileEntry]): JValue =
    JArray(names.map(n => entries.get(n).fold[JValue](JNull) { e =>
      JObject(List[(String, JValue)]("len" -> JInt(e.len),
        "mtime" -> JInt(e.mtime)) ++
        e.rows.toList.flatMap(FleetStats.statsFields(_, e.cols)))
    }).toList)

  /** A JSON object of strings: props, vector bindings. */
  private def strings(j: JValue): Map[String, String] = j match {
    case o: JObject => o.obj.collect { case (k, JString(s)) => k -> s }.toMap
    case _ => Map.empty
  }

  private def parseDvMeta(p: Path, obj: JValue,
      key: String = "dvmeta"): Map[String, DvMeta] =
    (obj \ key) match {
      case o: JObject => o.obj.collect {
        case (k, m: JObject) =>
          val count = m \ "count" match {
            case JInt(n) => n.toLong
            case other => throw new java.io.IOException(
              s"malformed manifest $p: $key[$k].count = $other")
          }
          val stats = m \ "stats" match {
            case so: JObject =>
              val cols = so.obj.map {
                case (c, cs: JObject) =>
                  val nn = cs \ "nn" match {
                    case JInt(n) => n.toLong
                    case _ => -1L // pre-nn shape: uncapture below
                  }
                  c -> DvColStat(FleetStats.fromJson(cs \ "min"),
                    FleetStats.fromJson(cs \ "max"), nn)
                case (c, other) => throw new java.io.IOException(
                  s"malformed manifest $p: $key[$k].stats.$c = $other")
              }.toMap
              // a shape without exact non-null counts cannot serve
              // COUNT(col) — treat the whole capture as unknown
              if (cols.valuesIterator.exists(_.nonNull < 0L)) None
              else Some(cols)
            case _ => None
          }
          val fp = m \ "fp" match {
            case JInt(n) => Some(n.toLong)
            case _ => None // pre-r19 shape: no fingerprint
          }
          k -> DvMeta(count, stats, fp)
      }.toMap
      case _ => Map.empty[String, DvMeta]
    }

  private def dvMetaJson(meta: Map[String, DvMeta]): org.json4s.JValue =
    JObject(meta.toList.sortBy(_._1).map {
      case (k, m) =>
        k -> (JObject(List[(String, org.json4s.JValue)](
          "count" -> JInt(BigInt(m.count))) ++
          m.fp.map(f =>
            "fp" -> (JInt(BigInt(f)): org.json4s.JValue)) ++
          m.stats.map(st => "stats" -> (JObject(st.toList.sortBy(_._1)
            .map { case (c, cs) =>
              c -> (JObject(
                "min" -> FleetStats.toJson(cs.min),
                "max" -> FleetStats.toJson(cs.max),
                "nn" -> JInt(BigInt(cs.nonNull))): org.json4s.JValue)
            }): org.json4s.JValue)).toList): org.json4s.JValue)
    })

  /** The one renderer of version files. */
  private def render(s: Snapshot): String = {
    def obj(m: Map[String, String]): JValue =
      JObject(m.toList.sortBy(_._1).map { case (k, x) => k -> JString(x) })
    JsonMethods.compact(JsonMethods.render(JObject(List[(String, JValue)](
      "version" -> JInt(s.version), "props" -> obj(s.props),
      "dvs" -> obj(s.dvs)) ++
      (if (s.dvMeta.isEmpty) Nil else List("dvmeta" -> dvMetaJson(s.dvMeta))) :+
      ("segments" -> JArray(s.segments.map(ls => JObject(
        List[(String, JValue)]("name" -> JString(ls.name)) ++
        (if (ls.removed.isEmpty) Nil else List("removed" -> JArray(
          ls.seg.files.filter(ls.removed).map(JString(_)).toList))))).toList)))))
  }

  /** `s` over segments: a legacy snapshot's files go into a new one. */
  private def withSegments(fs: FileSystem, dir: Path, s: Snapshot)
      : Snapshot =
    if (s.files.isEmpty || s.segments.nonEmpty) s
    else plan(fs, dir, None, s, s.entries.get)

  /** `next` planned on `prev`'s segments (format above); files without
    * an entry in `prev` take `entryOf`. Writes the new segments, each
    * parsed back from its bytes so every entry has the parsed spelling. */
  private def plan(fs: FileSystem, dir: Path, prev: Option[Snapshot],
      next: Snapshot, entryOf: String => Option[FileEntry]): Snapshot = {
    // a legacy snapshot lists no segments: its files all go into the new one
    val base = prev.filter(s => s.files.isEmpty || s.segments.nonEmpty)
    val baseFiles = base.fold(Seq.empty[String])(_.files)
    // an append (the common commit) needs no set of either list
    val appended = next.files.startsWith(baseFiles)
    val gone = if (appended) Set.empty[String]
      else baseFiles.filterNot(next.files.toSet).toSet
    val carried = if (gone.isEmpty) baseFiles else baseFiles.filterNot(gone)
    val added = (if (appended) next.files.drop(baseFiles.size)
      else next.files.filterNot(carried.toSet)).toVector
    def entry(n: String) = prev.flatMap(_.entries.get(n)).orElse(entryOf(n))
    // a part is a listed segment (Left) or names to write (Right)
    var parts = base.fold(Vector.empty[LiveSegment])(_.segments.toVector)
      .map(ls => if (gone.isEmpty) ls
        else ls.copy(removed = ls.removed ++ ls.seg.files.filter(gone)))
      .filter(_.liveCount > 0).map { ls =>
        if (ls.removed.size > ls.liveCount) Right(ls.live) else Left(ls)
      } ++ (if (added.isEmpty) Nil else Seq(Right(added)))
    def size(i: Int): Int = parts(i).fold(_.liveCount, _.size)
    def merge(i: Int): Unit = parts = parts.patch(i, Seq(Right(
      parts(i).fold(_.live, identity) ++ parts(i + 1).fold(_.live, identity))), 2)
    while (parts.size >= 2 &&
        size(parts.size - 2) <= TierRatio * size(parts.size - 1))
      merge(parts.size - 2)
    while (parts.size > MaxSegments)
      merge((0 until parts.size - 1).minBy(i => size(i) + size(i + 1)))
    val segs = parts.map(_.fold(identity, writeSegment(fs, dir, next.version, _, entry)))
    val written = parts.zip(segs).collect { case (Right(_), ls) => ls }
    Snapshot(next.version, carried ++ added, next.props, next.dvs, next.dvMeta,
      written.foldLeft(base.fold(Map.empty[String, FileEntry])(
        _.entries -- gone))(_ ++ _.seg.entries))(segs)
  }

  /** Write one segment of version `v` under a fresh name — on the local
    * filesystem directly, like a version claim, with no checksum file.
    * No version lists it yet, so a failed write leaves at most a stray
    * for [[FleetCompact.removeOrphans]]. */
  private def writeSegment(fs: FileSystem, dir: Path, v: Long,
      files: Vector[String], entry: String => Option[FileEntry])
      : LiveSegment = {
    val name = s"$v-${java.util.UUID.randomUUID()}.json"
    val p = new Path(dir, s"$SegmentsRel/$name")
    val text = JsonMethods.compact(JsonMethods.render(JObject(
      "files" -> JArray(files.map(JString(_)).toList), "entries" -> entriesJson(
        files, files.flatMap(n => entry(n).map(n -> _)).toMap))))
    try localNio(fs, p) match {
      case Some(n) =>
        java.nio.file.Files.createDirectories(n.getParent)
        java.nio.file.Files.write(n, text.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
      case None => writeText(fs, p, text, overwrite = false)
    } catch { case NonFatal(e) => fs.delete(p, false); throw e }
    LiveSegment(name, Set.empty, parseSegment(fs.makeQualified(p).toString,
      p, JsonMethods.parse(text)))
  }

  /** Rewrite each retained main version still in a legacy form as the
    * same snapshot over segments, ascending, each planned on the one
    * below it — [[FleetCompact.expireVersions]] calls this under the
    * commit lock BEFORE it deletes any version file. A hidden temp is
    * renamed OVER the legacy file, so a write failing midway leaves it
    * intact (only a filesystem refusing the rename deletes first). */
  private[sources] def rewriteLegacy(fs: FileSystem, dir: Path,
      kept: Seq[Long]): Unit =
    kept.sorted.foldLeft(Option.empty[Snapshot]) { (prev, v) =>
      snapshotAtMain(fs, dir, v).map { s =>
        if (s.files.isEmpty || s.segments.nonEmpty) s
        else {
          val p = vpath(dir, v)
          val next = plan(fs, dir, prev, s, s.entries.get)
          val tmp = new Path(mdir(dir),
            s".${vname(v)}.${java.util.UUID.randomUUID()}.tmp")
          try writeText(fs, tmp, render(next), overwrite = false)
          catch { case NonFatal(e) => fs.delete(tmp, false); throw e }
          if (!fs.rename(tmp, p)) {
            fs.delete(p, false)
            if (!fs.rename(tmp, p))
              throw new java.io.IOException(s"cannot rewrite retained " +
                s"version $v at $dir; its new form is left in $tmp")
          }
          invalidate(fs, p)
          next
        }
      }.orElse(prev)
    }

  // serialize same-JVM commits per fleet dir (stripes, not a per-path
  // map: bounded memory, and a collision only serializes two unrelated
  // commits)
  private val commitStripes = Array.fill(64)(new Object)
  private val linklessWarned = new java.util.concurrent.atomic.AtomicBoolean

  /** SERIALIZABLE isolation opt-in (`spark.graft.isolation =
    * snapshot | serializable`, default snapshot): under serializable a
    * row-level command records the fleet version its SCAN resolved and
    * its commit lands only if the fleet is still exactly there —
    * ANY intervening commit (even a non-overlapping append) conflicts
    * loudly. Closes snapshot isolation's write skew: "DELETE WHERE p"
    * racing an INSERT of p-matching rows commits fine under snapshot
    * (file-granular CAS sees no overlap) but the new rows silently
    * survive the delete's intent; serializable makes that a retryable
    * [[FleetCommitConflictException]] (the Delta Serializable level).
    * Resolved per command at scan-planning time, branch-aware (a WAP
    * session compares against its branch head). */
  private[sources] def scanVersionIfSerializable(fs: FileSystem,
      dir: Path): Option[Long] =
    org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.isolation", "snapshot") match {
      case "snapshot" => None
      case "serializable" =>
        Some(current(fs, dir).map(_.version).getOrElse(0L))
      case other => throw new IllegalArgumentException(
        s"spark.graft.isolation = '$other' (use snapshot | serializable)")
    }

  /** Run `f` under the same per-directory stripe the commit protocol
    * uses — retention passes ([[FleetCompact.expireVersions]]) take
    * this so a concurrent restore/commit cannot interleave between
    * their retained-version scan and their deletes (synchronized is
    * reentrant, so committing inside the block is fine). */
  private[sources] def withCommitLock[T](fs: FileSystem, dir: Path)
      (f: => T): T = {
    val key = fs.makeQualified(dir).toString
    commitStripes(math.floorMod(key.hashCode, commitStripes.length))
      .synchronized(f)
  }

  /** True when the writer-idempotence ledger already holds (appId,
    * ≥ version) — the cheap pre-check [[AvroFleetCommits.commitFleet]]
    * runs under the commit lock BEFORE any side effect (layout-marker
    * write, reset's schema-marker clear), so a
    * same-JVM replay skips with zero residue. The authoritative check
    * lives inside [[commit]]'s retry loop (exact across processes). */
  private[sources] def txnApplied(fs: FileSystem, dir: Path,
      appId: String, version: Long): Boolean =
    current(fs, dir).flatMap(_.props.get(TxnPropPrefix + appId))
      .flatMap(_.toLongOption).exists(_ >= version)

  /** The version file as a `java.nio` path when the filesystem is the
    * local one — the scheme where `rename` CLOBBERS and the read-back
    * protocol has a residual cross-process window. */
  private def localNio(fs: FileSystem, p: Path)
      : Option[java.nio.file.Path] = {
    val uri = fs.makeQualified(p).toUri
    if (uri.getScheme == "file")
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  /** Commit the next generation: `update` maps the current file list
    * (or `bootstrap` for a manifest-less fleet) to the new complete
    * list. Returns the committed snapshot. Retries on concurrent
    * commits (each retry re-reads and re-applies `update`), so the
    * update function must be pure.
    *
    * OPTIMISTIC CONFLICT DETECTION — the two validations below run on
    * EVERY attempt against the freshly-read base, so a retry after a
    * lost claim can never silently re-apply a stale transaction:
    *
    *  - `requireInBase`: the file names this commit retires (a
    *    copy-on-write swap's remove set). If any is no longer in the
    *    current generation, another committer already
    *    retired/rewrote that file — blindly proceeding would land
    *    BOTH post-images and duplicate the file's surviving rows (or
    *    resurrect deleted ones). Fails with
    *    [[FleetCommitConflictException]]; the caller must re-run its
    *    whole read-rewrite-commit transaction (Delta's
    *    ConcurrentDeleteDelete posture).
    *  - `expectedVersion`: strict snapshot isolation — the commit
    *    only lands on exactly this base version; ANY intervening
    *    commit (even a non-overlapping append) conflicts. For
    *    transactions whose update depends on the full base state.
    *  - `requireDvs`: per-file deletion-vector compare-and-set — each
    *    entry states the vector binding this commit READ for a file
    *    (None = unbound). If the current base disagrees, another
    *    merge-on-read writer swapped the vector since; blindly
    *    binding ours would LOSE its deletes. Conflict, retryable by
    *    re-reading the new vector and re-merging.
    *
    * Deletion-vector bindings ([[Snapshot.dvs]]) are INHERITED: next
    * = (base bindings ± `dvUpdate`) restricted to the new file list —
    * retiring a file retires its vector binding automatically.
    *
    * Every commit stamps [[CommitTsProp]] (wall-clock ms) into the
    * snapshot props unless the caller already set it. */
  def commit(fs: FileSystem, dir: Path,
      update: Seq[String] => Seq[String],
      bootstrap: => Seq[String],
      props: Map[String, String] = Map.empty,
      requireInBase: Set[String] = Set.empty,
      expectedVersion: Option[Long] = None,
      dvUpdate: Map[String, Option[String]] = Map.empty,
      requireDvs: Map[String, Option[String]] = Map.empty,
      dvMetaUpdate: Map[String, DvMeta] = Map.empty,
      txn: Option[(String, Long)] = None,
      requireChecks: Option[Map[String, String]] = None,
      requireSchema: Option[Option[String]] = None,
      stats: Map[String, FleetStats.PartStats] = Map.empty): Snapshot = {
    val key = fs.makeQualified(dir).toString
    // a PINNED session is a read cut ([[FleetPin]]): committing to a
    // fleet inside the pin vector would mean this session planned its
    // write against the pinned — possibly stale — snapshot; fail at
    // the one chokepoint every write path shares. Fleets OUTSIDE the
    // vector (e.g. a fresh output fleet) commit normally.
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      if (FleetPin.vector(s).contains(key))
        throw new IllegalStateException(
          s"this session holds a snapshot pin covering $dir " +
            s"(CALL graft.system.pin) — a pinned session is a " +
            "consistent READ cut; CALL graft.system.unpin() to " +
            "write to pinned fleets, or write from another session")
    }
    commitStripes(math.floorMod(key.hashCode, commitStripes.length))
      .synchronized {
        var attempts = 0
        while (attempts < 64) {
          attempts += 1
          val cur = current(fs, dir)
          // writer idempotence: the ledger check runs on EVERY attempt
          // against the freshly-read base, so a lost claim can never
          // slip a replayed transaction in behind the one that landed
          txn.foreach { case (appId, txnV) =>
            val applied = cur.flatMap(_.props.get(TxnPropPrefix + appId))
              .flatMap(_.toLongOption)
            if (applied.exists(_ >= txnV))
              throw new FleetTxnAlreadyAppliedException(
                s"transaction ($appId, $txnV) already committed at $dir " +
                  s"(ledger holds ${applied.get}) — idempotent replay, " +
                  "skipping")
          }
          expectedVersion.foreach { ev =>
            val curV = cur.map(_.version).getOrElse(0L)
            if (curV != ev) throw new FleetCommitConflictException(
              s"manifest commit at $dir expected version $ev but the " +
                s"fleet is at $curV — a concurrent commit landed; " +
                "re-run the transaction against the current generation")
          }
          val base = cur.map(_.files).getOrElse(bootstrap)
          if (requireInBase.nonEmpty) {
            val baseSet = base.toSet
            val missing = requireInBase.filterNot(baseSet)
            if (missing.nonEmpty) throw new FleetCommitConflictException(
              s"manifest commit at $dir retires file(s) no longer in " +
                s"the current generation (v${cur.map(_.version)
                  .getOrElse(0L)}): ${missing.toSeq.sorted.mkString(", ")}" +
                " — a concurrent commit rewrote or removed them; " +
                "re-run the transaction (re-read, re-rewrite, re-commit)" +
                " against the current generation")
          }
          // CHECK-constraint compare-and-set (r20): the writer states
          // the check set its tasks ENFORCED (resolved at plan time).
          // A check present in the fresh base that the plan did not
          // enforce — added or redefined since — may have admitted
          // violating rows: conflict loudly; the re-run plans under
          // the new set. A check DROPPED since cannot invalidate rows
          // that already passed a superset, so drops never conflict
          // (a long append must not die because an operator lifted an
          // unrelated constraint mid-job).
          requireChecks.foreach { planned =>
            val curChecks = checksOf(cur.map(_.props).getOrElse(Map.empty))
            val unseen = curChecks.filter { case (k, v) =>
              !planned.get(k).contains(v) }
            if (unseen.nonEmpty) throw new FleetCommitConflictException(
              s"manifest commit at $dir was planned before CHECK " +
                s"constraint(s) ${unseen.keys.toSeq.sorted.mkString(", ")} " +
                "landed — the job's rows were not validated against " +
                "them; re-run the write (it will plan under the " +
                "current constraint set)")
          }
          // DECLARED-SCHEMA compare-and-set (r21, ADVICE r20 #1): the
          // writer states the SchemaProp marker its validation (and
          // any evolution merge) was computed AGAINST. A marker that
          // changed since — a concurrent evolution or overwrite/reset
          // — may have declared columns this writer's merged
          // declaration would silently drop, or re-shaped the fleet
          // its staged files no longer match: conflict loudly; the
          // caller re-validates against the current declaration and
          // re-commits.
          requireSchema.foreach { observed =>
            val curMarker = cur.flatMap(_.props.get(SchemaProp))
              .filter(_.nonEmpty)
            if (curMarker != observed)
              throw new FleetCommitConflictException(
                s"manifest commit at $dir was planned under a declared " +
                  "schema that has since changed — a concurrent schema " +
                  "evolution or overwrite landed; re-validate the " +
                  "append against the current declaration and re-commit")
          }
          val baseDvs = cur.map(_.dvs).getOrElse(Map.empty)
          if (requireDvs.nonEmpty) {
            val mismatched = requireDvs.filter { case (f, expected) =>
              baseDvs.get(f) != expected
            }
            if (mismatched.nonEmpty) throw new FleetCommitConflictException(
              s"manifest commit at $dir binds deletion vector(s) whose " +
                s"base binding changed (v${cur.map(_.version)
                  .getOrElse(0L)}): ${mismatched.keys.toSeq.sorted
                  .mkString(", ")} — a concurrent merge-on-read commit " +
                "swapped the vector; re-read it, re-merge, re-commit")
          }
          val stampedTs =
            if (props.contains(CommitTsProp)) props
            else props + (CommitTsProp ->
              System.currentTimeMillis().toString)
          // the DECLARED-SCHEMA prop is INHERITED like the vector
          // bindings (r19): once an ALTER stamps the schema as of its
          // generation, every later commit carries it forward, so
          // `VERSION AS OF v` resolves the schema THAT VERSION had in
          // O(1) — no history walk. A caller states a new schema by
          // supplying the prop; the empty-string sentinel CLEARS it
          // (INSERT OVERWRITE/TRUNCATE replace the declared schema
          // with the new files' writer schema).
          val stampedSchema = stampedTs.get(SchemaProp) match {
            case Some("") => stampedTs - SchemaProp
            case Some(_) => stampedTs
            case None => cur.flatMap(_.props.get(SchemaProp))
              .fold(stampedTs)(v => stampedTs + (SchemaProp -> v))
          }
          // the txn ledger and CHECK constraints are INHERITED like
          // the schema prop (txn: one entry per appId, maxed by the
          // check above; check: table governance survives resets — an
          // overwrite replaces data, not constraints), and this
          // commit's own token joins the ledger. A caller-supplied
          // check prop wins over the inherited one (add/drop commits);
          // the empty-string sentinel DROPS the entry.
          val stamped = ((cur.map(_.props).getOrElse(Map.empty)
            .filter { case (k, _) => k.startsWith(TxnPropPrefix) ||
              k.startsWith(CheckPropPrefix) } ++
            stampedSchema) ++
            txn.map { case (a, v) => (TxnPropPrefix + a) -> v.toString })
            .filterNot { case (k, v) =>
              k.startsWith(CheckPropPrefix) && v.isEmpty }
          val nextFiles = update(base).distinct
          lazy val nextFileSet = nextFiles.toSet
          val nextDvs =
            ((baseDvs ++ dvUpdate.collect { case (f, Some(v)) => f -> v })
              -- dvUpdate.collect { case (f, None) => f })
              .filter { case (f, _) => nextFileSet(f) }
          // meta follows its binding: inherited for untouched files,
          // replaced when the committer supplied fresh meta, DROPPED
          // for a rebind without meta (a stale count/stat on a swapped
          // vector would be silently wrong — readers fall back to the
          // vector header), and retired with the file
          val baseMeta = cur.map(_.dvMeta).getOrElse(Map.empty)
          val nextMeta = ((baseMeta -- dvUpdate.keys) ++ dvMetaUpdate)
            .filter { case (f, _) => nextDvs.contains(f) }
          // an added file's entry: one status call (a name with no file
          // gets none) plus the stats its writer captured, when their
          // length matches; the first commit at a fleet adds every file
          // and adopts a manifest-less directory's `_stats.json`
          val known =
            if (cur.isEmpty) FleetStats.read(fs, dir) ++ stats else stats
          def entryOf(f: String): Option[FileEntry] =
            try {
              val st = fs.getFileStatus(new Path(dir, f))
              val ps = known.get(f).filter(_.len == st.getLen)
              Some(FileEntry(st.getLen, st.getModificationTime,
                ps.map(_.rows), ps.map(_.cols).getOrElse(Map.empty)))
            } catch { case _: java.io.FileNotFoundException => None }
          val v = cur.map(_.version + 1L).getOrElse(1L)
          // an active branch that EXISTS at this fleet routes the
          // claim into the branch's own version sequence (base
          // resolution above already read the branch head via
          // `current`); fleets without the branch commit to main as
          // ever — a WAP session only redirects opted-in tables
          val branch = activeBranch
            .filter(b => branchBase(fs, dir, b).isDefined)
          val destDir = branch.map(b => branchVDir(dir, b))
            .getOrElse(mdir(dir))
          val dest = new Path(destDir, vname(v))
          fs.mkdirs(destDir)
          if (!fs.exists(dest)) {
            val next = plan(fs, dir, cur, Snapshot(v, nextFiles, stamped,
              nextDvs, nextMeta)(Nil), entryOf)
            val encoded = render(next)
            if (claim(fs, dir, dest, encoded)) {
              noteCommitted(fs, destDir, v)
              // the adopted sidecar's entries now ride the manifest
              if (cur.isEmpty)
                fs.delete(new Path(dir, FleetStats.FileName), false)
              // cache what a reader parses: the segments were parsed
              // back when written, the vector meta is parsed here
              val parsed = Snapshot(v, next.files, next.props, next.dvs,
                parseDvMeta(dest, JsonMethods.parse(encoded)),
                next.entries)(next.segments)
              cache(fs.makeQualified(dest).toString,
                fs.getFileStatus(dest), parsed)
              return parsed
            }
          }
          // lost the claim: loop re-reads the new current and retries
        }
        throw new java.io.IOException(
          s"fleet manifest commit at $dir lost ${attempts} consecutive " +
            "version claims — pathological committer contention")
      }
  }

  /** Claim `dest` with the version file `encoded`; false = lost. */
  private def claim(fs: FileSystem, dir: Path, dest: Path,
      encoded: String): Boolean =
    localNio(fs, dest) match {
      case Some(nioDest) =>
        // local FS: rename clobbers, so the atomic claim is a HARD
        // LINK (createLink fails-if-exists at the OS level, and the
        // linked content is already complete — no torn-write window,
        // no read-back needed). A filesystem WITHOUT link(2) (FAT/some
        // FUSE mounts) throws without creating the destination — that
        // is NOT a lost claim: fall through to the rename + read-back
        // path instead of burning the retry budget on an impossible
        // primitive.
        val nioTmp = nioDest.resolveSibling(
          s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
        java.nio.file.Files.write(nioTmp, encoded.getBytes("UTF-8"))
        val linked =
          try { java.nio.file.Files.createLink(nioDest, nioTmp); true }
          catch { case NonFatal(_) => false }
        java.nio.file.Files.deleteIfExists(nioTmp)
        linked || (!java.nio.file.Files.exists(nioDest) && {
          // link(2) unsupported here: cross-PROCESS atomicity degrades
          // to rename + read-back (clobber-rename TOCTOU returns) —
          // surface it once instead of failing a filesystem that
          // worked pre-hard-link
          if (linklessWarned.compareAndSet(false, true))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"local filesystem at $dir lacks hard links; manifest " +
                "commits fall back to rename + read-back (cross-process " +
                "race window on clobbering renames)")
          renameClaim(fs, dir, dest, encoded)
        })
      case None => renameClaim(fs, dir, dest, encoded)
    }

  /** Temp + rename claim with read-back verification — the
    * HDFS/object-store path (rename-if-absent refuses an existing
    * destination atomically), and the fallback when the local FS
    * lacks hard links. The read-back compares the bytes, so the claim
    * is ours only if the file holds exactly what we wrote. */
  private def renameClaim(fs: FileSystem, dir: Path, dest: Path,
      encoded: String): Boolean = {
    val tmp = new Path(mdir(dir),
      s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp")
    writeText(fs, tmp, encoded, overwrite = true)
    val renamed =
      try fs.rename(tmp, dest)
      catch { case NonFatal(_) => false }
    if (!renamed) fs.delete(tmp, false)
    renamed && (try {
      val in = fs.open(dest)
      try new String(in.readAllBytes(), "UTF-8") == encoded
      finally in.close()
    } catch { case NonFatal(_) => false })
  }

  /** The file set of the [[select]]ed snapshot as LIVE `FileStatus`es
    * from one listing ([[listed]]), or None when the directory is
    * manifest-less (caller falls back to the raw-listing contract).
    * For callers that must see the filesystem as it is now: restore's
    * every-file-still-exists check, the file-tail stream's mtime rules,
    * maintenance sizing. Query planning uses [[statuses]]. */
  def resolve(fs: FileSystem, dir: Path, versionAsOf: Option[Long],
      branch: Option[String] = None)
      : Option[Seq[FileStatus]] =
    select(fs, dir, versionAsOf, branch).map(listed(fs, dir, _))

  /** One snapshot's files as `FileStatus`es for query planning,
    * qualified under `dir`.
    *
    * When every file carries its committed [[FileEntry]] (every fleet
    * written since entries were recorded), the statuses are BUILT from
    * the snapshot: no listing, no stat, so planning cost is independent
    * of the directory's size and of orphans in it. A file that has
    * since gone missing then fails when a reader opens it
    * ([[missingFile]]). Otherwise (version files written before
    * entries, or names committed without a file behind them) they come from
    * [[listed]]. */
  def statuses(fs: FileSystem, dir: Path, sn: Snapshot): Seq[FileStatus] =
    if (!sn.files.forall(sn.entries.contains)) listed(fs, dir, sn)
    else {
      val qdir = fs.makeQualified(dir)
      val block = fs.getDefaultBlockSize(qdir)
      sn.files.map { n =>
        val z = sn.entries(n)
        new FileStatus(z.len, false, 1, block, z.mtime, new Path(qdir, n))
      }
    }

  /** One snapshot's files from ONE listing of `dir`. A manifest-listed
    * file that no longer exists is a HARD error — it means a retained
    * generation was GC'd or externally deleted, and silently dropping
    * it would be silent row loss (upstream Spark's
    * ignoreMissingFiles=false posture). */
  private def listed(fs: FileSystem, dir: Path,
      sn: Snapshot): Seq[FileStatus] = {
    val qdir = fs.makeQualified(dir)
    // one listing serves every lookup; manifest names absent from it
    // get one direct probe before the hard error (listing races)
    val all = fs.listStatus(qdir).iterator
      .filter(_.isFile).map(st => st.getPath.getName -> st).toMap
    sn.files.map { n =>
      all.getOrElse(n,
        try fs.getFileStatus(new Path(qdir, n))
        catch {
          case e: java.io.FileNotFoundException =>
            throw missingFile(new Path(qdir, n), Some(sn.version), e)
        })
    }
  }

  /** The one loud error for a manifest-listed data file that is gone:
    * raised at planning by a listing-backed [[statuses]], and by the
    * readers when a size-built status names a file that no longer
    * opens. */
  def missingFile(path: Path, version: Option[Long],
      cause: java.io.FileNotFoundException): java.io.FileNotFoundException = {
    val e = new java.io.FileNotFoundException(
      s"fleet manifest${version.fold("")(v => s" v$v")} at " +
        s"${path.getParent} references missing file ${path.getName} — " +
        "generation expired (FleetCompact.expireVersions) or externally " +
        "deleted")
    e.initCause(cause)
    e
  }
}

/** CROSS-FLEET SNAPSHOT PIN (r20, the r19 verdict's #5): a session-
  * level version VECTOR — one captured manifest version per fleet —
  * so a multi-table query (a replication check, a train-set build)
  * reads every fleet at one consistent cut, immune to commits landing
  * between its scans.
  *
  * {{{
  * CALL graft.system.pin()      -- capture: every fleet at its head
  * ... multi-table reads ...    -- all resolve the captured versions
  * CALL graft.system.unpin()
  * }}}
  *
  * Semantics:
  *  - The vector rides the SESSION conf (`spark.graft.pin`, a JSON
  *    object of qualified fleet dir → version) — per-session like the
  *    branch conf, nothing global.
  *  - EXPLICIT addressing wins: `VERSION AS OF` / `TIMESTAMP AS OF` /
  *    `option("versionAsOf"/"timestampAsOf"/"branch")` override the
  *    pin for that read (a pinned session can still audit history).
  *  - Change-feed reads are untouched (they address version ranges
  *    explicitly).
  *  - A pinned session is a READ cut: a manifest COMMIT to a pinned
  *    fleet from the same session fails loudly ([[FleetManifest
  *    .commit]]) — a write planned against the pinned (possibly
  *    stale) snapshot could silently resurrect rows. Writes to
  *    fleets OUTSIDE the vector (e.g. the train-set OUTPUT fleet,
  *    created after the pin) commit normally — exactly the
  *    read-pinned-inputs / write-fresh-output shape.
  *  - Fleets created after the pin are not in the vector and read
  *    current (they did not exist at the cut). */
private[graft] object FleetPin {
  val Conf = "spark.graft.pin"

  def vector(s: org.apache.spark.sql.SparkSession): Map[String, Long] =
    s.conf.getOption(Conf).filter(_.nonEmpty).map { j =>
      org.json4s.jackson.JsonMethods.parse(j) match {
        case o: org.json4s.JObject => o.obj.collect {
          case (k, org.json4s.JString(v)) => k -> v.toLong
        }.toMap
        case other => throw new IllegalArgumentException(
          s"$Conf must be a JSON object of {fleetDir: version}: $other")
      }
    }.getOrElse(Map.empty)

  def render(vec: Map[String, Long]): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject(vec.toList.sortBy(_._1).map { case (k, v) =>
          k -> org.json4s.JString(v.toString) })))

  /** The pinned version for one fleet directory, if the active
    * session carries a pin naming it. */
  def versionFor(s: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[Long] = {
    val vec = vector(s)
    if (vec.isEmpty) None
    else vec.get(fs.makeQualified(dir).toString)
  }

  /** Pin resolution for a LOAD-PATH read ([[AvroFleetTable
    * .newScanBuilder]]): resolve the load string's fleet directories;
    * a single pinned directory yields its version, a multi-directory
    * load containing ANY pinned fleet fails loudly (one versionAsOf
    * cannot address two fleets' different pinned versions). */
  def versionForLoad(s: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] = {
    val vec = vector(s)
    if (vec.isEmpty) return None
    val conf = s.sessionState.newHadoopConf()
    val dirs = Avro.splitGlobs(path).toSeq.flatMap { g =>
      val gp = new org.apache.hadoop.fs.Path(g)
      val gfs = gp.getFileSystem(conf)
      val hits = Option(gfs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isDirectory).map(st => gfs.makeQualified(st.getPath))
      // a per-file load resolves through its enclosing fleet directory
      if (hits.isEmpty) {
        val p0 = gfs.makeQualified(gp)
        if (gfs.exists(p0) && gfs.getFileStatus(p0).isFile)
          Seq(p0.getParent)
        else Seq.empty
      } else hits
    }.distinct
    val pinned = dirs.filter(d => vec.contains(d.toString))
    if (pinned.isEmpty) None
    else if (dirs.size == 1) vec.get(dirs.head.toString)
    else throw new IllegalArgumentException(
      s"a pinned fleet cannot be read through a multi-directory load " +
        s"(${dirs.size} directories match $path; pinned: " +
        s"${pinned.mkString(", ")}) — the pin holds different versions " +
        "per fleet; load each fleet separately")
  }
}
