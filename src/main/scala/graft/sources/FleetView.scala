package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** ONE resolved read of a (multi-)glob load path — the only source a
  * fleet scan plans from. Each part of the load is resolved exactly
  * once:
  *
  *  - a transactional fleet DIRECTORY reads ONE manifest
  *    [[FleetManifest.Snapshot]] (the `versionAsOf` generation, the
  *    per-read `branch` head, or the session's current head) and
  *    builds that snapshot's file statuses from its committed sizes,
  *    listing nothing ([[FleetManifest.statuses]]; version files
  *    written before sizes were recorded take one listing);
  *  - a manifest-less directory keeps the raw-listing contract
  *    ([[Avro.listLegacyDir]]: hidden temps and markers filtered,
  *    `_SUCCESS` required on part-file directories);
  *  - an explicit FILE is read raw (no vector applies — an
  *    explicit-path load that needs one passes `dvSpec`; the change
  *    feed plans its files from [[FleetCDC.plan]], never a view).
  *
  * INVARIANT: every number a scan plans from — its file list, per-file
  * stats, vector bindings, deleted-row counts and meta, the copy-on-write
  * compare-and-set report (`dvRelByName`), the COUNT(*) correction —
  * comes from the one manifest read per directory part held here. A
  * commit landing while the query plans (a `rewrite_files` retiring
  * vectored files, a merge-on-read delete rebinding one) can never
  * pair one generation's files with another's stats or vectors. A scan builder
  * resolves its view lazily, once, so a new query resolves afresh and
  * the streaming and change-feed paths, which plan from offsets and
  * version spans, never force it. */
private[graft] final case class FleetView(parts: Seq[FleetView.Part]) {

  /** The data files to plan from, deduplicated by path (two globs of
    * one load may match the same file). */
  lazy val files: Seq[FileStatus] =
    parts.flatMap(_.files).distinctBy(_.getPath.toString)

  /** Per-file stats of [[files]], keyed by qualified path: a manifest
    * part's from its snapshot's entries — the generation its files
    * came from — and a manifest-less part's from its directory's
    * `_stats.json`. A file without stats is absent (read unskipped). */
  def stats(fs: FileSystem): Map[String, FleetStats.PartStats] =
    parts.flatMap(p => FleetView.statsOf(fs, p.snapshot, p.files)).toMap

  /** Deletion-vector bindings of every manifest part: qualified data
    * path → (qualified vector path, the binding's manifest meta; None
    * = a legacy binding whose count needs one header read). */
  lazy val dvs: Map[String, (String, Option[FleetManifest.DvMeta])] =
    parts.flatMap { p =>
      p.snapshot.toSeq.flatMap(sn => sn.dvs.map { case (f, rel) =>
        new Path(p.dir, f).toString ->
          (new Path(p.dir, rel).toString, sn.dvMeta.get(f))
      })
    }.toMap

  /** The raw bindings by data file NAME (file → relative vector) —
    * what a copy-on-write rewrite compare-and-sets at commit so a
    * mid-job merge-on-read delete conflicts instead of resurrecting. */
  lazy val dvRelByName: Map[String, String] =
    parts.flatMap(_.snapshot.toSeq.flatMap(_.dvs)).toMap

  /** Deleted rows under one binding: its manifest count, else (legacy
    * binding) the vector header's. */
  def deletedRows(fs: FileSystem, dataPath: String): Long =
    dvs.get(dataPath).fold(0L) {
      case (_, Some(m)) => m.count
      case (dv, None) => FleetDv.countAt(fs, new Path(dv))
    }
}

private[graft] object FleetView {

  /** One part of a load: its (qualified) directory — a file part's
    * enclosing one — the manifest generation it read (None for a
    * manifest-less directory or an explicit file), and its files. */
  final case class Part(dir: Path, snapshot: Option[FleetManifest.Snapshot],
      files: Seq[FileStatus])

  /** Resolve `glob` (comma-separated globs, directories or files) at
    * `versionAsOf` / `branch` (None = the session's current head):
    * one manifest read per directory part, and no listing where the
    * snapshot carries every file's size. */
  def resolve(s: SparkSession, glob: String,
      versionAsOf: Option[Long] = None,
      branch: Option[String] = None): FleetView = {
    val globs = Avro.splitGlobs(glob)
    require(globs.nonEmpty, s"no avro files match: $glob")
    val conf = s.sessionState.newHadoopConf()
    val view = FleetView(globs.flatMap { g =>
      val gp = new Path(g)
      val fs = gp.getFileSystem(conf)
      Option(fs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty).map {
        // a TRANSACTIONAL fleet (committed `_manifest/`) reads its file
        // set from one snapshot: an in-flight append's task-committed
        // files and a half-swapped copy-on-write generation stay
        // invisible until their one manifest commit lands. The
        // `_SUCCESS` gate is superseded by the manifest (which only
        // ever names job-committed files).
        case d if d.isDirectory =>
          val dir = fs.makeQualified(d.getPath)
          FleetManifest.select(fs, dir, versionAsOf, branch) match {
            case Some(snap) =>
              Part(dir, Some(snap), FleetManifest.statuses(fs, dir, snap))
            case None => Part(dir, None, Avro.listLegacyDir(fs, d))
          }
        case f => Part(f.getPath.getParent, None, Seq(f))
      }
    })
    require(view.files.nonEmpty, s"no avro files match: $glob")
    view
  }

  /** Stats of `files` (one directory's statuses): from `snapshot`'s
    * entries when the directory has a manifest, else from its
    * `_stats.json`; keyed by path, and only while the length matches. */
  def statsOf(fs: FileSystem, snapshot: Option[FleetManifest.Snapshot],
      files: Seq[FileStatus]): Map[String, FleetStats.PartStats] =
    snapshot match {
      case Some(sn) => files.iterator.flatMap { st =>
        sn.statsOf(st.getPath.getName).filter(_.len == st.getLen)
          .map(st.getPath.toString -> _)
      }.toMap
      case None => FleetStats.forFleet(fs, files)
    }

  // ---- AS OF addressing -------------------------------------------

  /** One AS OF spelling. `opt` names the option or SQL clause it came
    * from; every resolution error starts with it. */
  sealed trait AsOf { def opt: String }

  /** `versionAsOf` / `VERSION AS OF`: a number verbatim, anything else
    * a tag. */
  final case class VersionOrTag(opt: String, spec: String) extends AsOf

  /** A tag by name (a numeric name is still a tag). */
  final case class Tag(opt: String, name: String) extends AsOf

  /** The newest version committed AT OR BEFORE `raw` — `timestampAsOf`,
    * `TIMESTAMP AS OF`, and the `endingTimestamp` range ceiling. */
  final case class AtOrBefore(opt: String, raw: String) extends AsOf

  /** The newest version committed strictly BEFORE `raw`, 0 when none —
    * the exclusive `startingTimestamp` floor, so the first streamed
    * change is the first commit at or after it. */
  final case class Before(opt: String, raw: String) extends AsOf

  /** THE addressing rule: the manifest version of fleet `dir` that
    * `asOf` names. Times bind against the commit-time index
    * ([[FleetManifest.versionsWithTimes]]); a number is returned
    * verbatim (reading it fails with "no such manifest version" when
    * it is gone). */
  def versionAt(fs: FileSystem, dir: Path, asOf: AsOf): Long = asOf match {
    case VersionOrTag(opt, spec) => spec.trim.toLongOption.getOrElse(
      FleetManifest.tagVersion(fs, dir, spec).getOrElse(
        throw new IllegalArgumentException(
          s"$opt: '$spec' is neither a manifest version number nor a " +
            s"tag at $dir (tags: ${tagNames(fs, dir)})")))
    case Tag(opt, name) => FleetManifest.tagVersion(fs, dir, name)
      .getOrElse(throw new IllegalArgumentException(
        s"$opt: no tag '$name' at $dir (tags: ${tagNames(fs, dir)})"))
    case AtOrBefore(opt, raw) =>
      val (ts, withTimes) = commitTimes(fs, dir, opt, raw)
      // filter-then-max, not takeWhile: robust to clock skew between
      // committers (version order is authoritative, times advisory)
      withTimes.filter(_._2 <= ts).map(_._1).maxOption.getOrElse(
        throw new IllegalArgumentException(
          s"$opt '$raw' predates the first commit at $dir " +
            s"(${java.time.Instant.ofEpochMilli(withTimes.head._2)})"))
    case Before(opt, raw) =>
      val (ts, withTimes) = commitTimes(fs, dir, opt, raw)
      withTimes.filter(_._2 < ts).map(_._1).maxOption.getOrElse(0L)
  }

  /** [[versionAt]] for a load path: a version number addresses every
    * directory alike; a tag or a time must match EXACTLY ONE fleet
    * directory — the same tag may pin different versions per fleet,
    * and commit times differ per fleet, so one resolved number would
    * silently misread the others. */
  def versionAtLoad(s: SparkSession, path: String, asOf: AsOf): Long =
    asOf match {
      case VersionOrTag(_, spec) if spec.trim.toLongOption.isDefined =>
        spec.trim.toLong
      case _ =>
        val conf = s.sessionState.newHadoopConf()
        val dirs = Avro.splitGlobs(path).flatMap { g =>
          val gp = new Path(g)
          val gfs = gp.getFileSystem(conf)
          Option(gfs.globStatus(gp)).map(_.toSeq).getOrElse(Seq.empty)
            .filter(_.isDirectory).map(d => gfs -> d.getPath)
        }
        dirs match {
          case Seq((fs, d)) => versionAt(fs, d, asOf)
          case Seq() => throw new IllegalArgumentException(
            s"${asOf.opt}: the load path matches no fleet directory " +
              s"($path)")
          case many => throw new IllegalArgumentException(
            s"${asOf.opt} cannot address a multi-directory load " +
              s"(${many.size} fleets match $path) — tags and commit " +
              "times are per fleet; load each fleet separately")
        }
    }

  /** A timestamp option value → epoch millis: a bare long, an
    * ISO-8601 instant (`2026-08-15T12:00:00Z`), or a local-zone
    * `yyyy-MM-dd HH:mm:ss[.fff]` (the JDBC timestamp spelling). */
  private def parseTs(opt: String, raw: String): Long =
    raw.toLongOption.getOrElse {
      try java.time.Instant.parse(raw).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.sql.Timestamp.valueOf(raw).getTime
          catch {
            case _: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"$opt: '$raw' is neither epoch millis, " +
                  "an ISO-8601 instant, nor 'yyyy-MM-dd HH:mm:ss[.fff]'")
          }
      }
    }

  private def commitTimes(fs: FileSystem, dir: Path, opt: String,
      raw: String): (Long, Seq[(Long, Long)]) = {
    val ts = parseTs(opt, raw)
    val withTimes = FleetManifest.versionsWithTimes(fs, dir)
    require(withTimes.nonEmpty,
      s"$opt: fleet at $dir has no manifest history (only " +
        "transactionally-committed fleets are versioned)")
    (ts, withTimes)
  }

  private def tagNames(fs: FileSystem, dir: Path): String =
    FleetManifest.tags(fs, dir).map(_._1).mkString(", ")
}
