package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Row-level MERGE for avro fleets as a SIDECAR-PRUNED copy-on-write —
  * the maintenance-pass shape a 100 TB table needs: rewrite only the
  * files whose key range can contain a feed key, leave every other
  * file byte-identical on disk.
  *
  * Mechanics (all through the existing fleet contracts):
  *  1. Every part file's stats (its manifest entry, or a manifest-less
  *     directory's `_stats.json`) carry the merge key's [min, max]. The file-extent table (one row per file — thousands,
  *     not billions) is BROADCAST against the feed keys and a file is
  *     "touched" iff at least one feed key lands inside its extent —
  *     one semi-join pass over the feed, output bounded by the file
  *     count. A file without usable stats is conservatively
  *     touched; a rows=0 file is untouched.
  *  2. Only the touched files are loaded — via the connector's
  *     comma-separated multi-path listing, so pruning/pushdown/commit
  *     contracts are the normal read path — and the caller's merge
  *     semantics run as an ordinary keyed dataflow against the feed.
  *     Feed rows whose key lives in no touched file are the INSERTs
  *     and surface through the same full-outer shape (a key inside an
  *     UNTOUCHED file's extent is touched by definition, so no insert
  *     or update can belong to a file the rewrite skips).
  *  3. The merged result is APPENDED through the V2 committer (attempt
  *     temps, job-tagged names, per-file stats), with the touched
  *     originals passed as the commit's MANIFEST SWAP
  *     (`manifestSwapRemove`): one [[FleetManifest]] commit adds the
  *     rewritten generation and retires the replaced one, so a
  *     concurrent reader sees the pre-merge fleet or the post-merge
  *     fleet — never both, at any crash point (the r13/r14
  *     append-then-delete duplicate window is closed). The replaced
  *     files are then unlinked as garbage (`retainOld = true` keeps
  *     them on disk so the pre-merge manifest version stays readable
  *     via `versionAsOf` until [[FleetCompact.expireVersions]]).
  *
  * The merge key must be a non-temporal trackable scalar (the sidecar
  * carrier must round-trip through a DataFrame literal); temporal keys
  * would merge correctly but un-pruned, so they are rejected loudly.
  */
object FleetMerge {

  /** What a merge pass did — returned so callers/specs can assert the
    * pruning held (`untouched` files must keep mtime and length). */
  final case class CowResult(touched: Seq[String], untouched: Seq[String],
      written: Seq[String])

  /** Run `applyMerge(touchedBase, feed)` and rewrite the fleet at
    * `dir` copy-on-write. `feedKeys` must be the feed's distinct key
    * column, same type as `key` in the fleet schema; `applyMerge`
    * receives the touched subset of the base (fleet schema) and must
    * return rows in the SAME schema — the full post-merge content of
    * the touched region (kept + updated + inserted rows; dropping a
    * row deletes it). */
  def mergeCow(s: SparkSession, dir: String, key: String,
      feedKeys: DataFrame,
      applyMerge: DataFrame => DataFrame,
      retainOld: Boolean = false): CowResult = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sessionState.newHadoopConf())
    val view = FleetView.resolve(s, dir)
    val fleet = view.files
    val schema = Avro.toSparkSchema(Avro.peekSchema(s, dir))
    require(schema.fieldNames.contains(key),
      s"merge key '$key' not in fleet schema ${schema.fieldNames.toSeq}")
    val keyDt = schema(key).dataType
    require(FleetStats.trackableType(keyDt) &&
      !keyDt.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
      !keyDt.isInstanceOf[org.apache.spark.sql.types.DateType],
      s"merge key '$key' must be a non-temporal trackable scalar, " +
        s"got ${keyDt.simpleString}")

    val stats = view.stats(fs)
    // classify: provable files carry (path, kmin, kmax); the rest are
    // conservatively touched (except provably-empty files)
    val (provable, rest) = fleet.partition { st =>
      stats.get(st.getPath.toString).exists { ps =>
        ps.rows == 0 || ps.cols.get(key).exists(cs =>
          cs.min.isDefined && cs.max.isDefined)
      }
    }
    val (emptyFiles, extentFiles) = provable.partition { st =>
      stats(st.getPath.toString).rows == 0
    }
    // sidecar carriers round-trip JSON as Long/Double/String/Boolean;
    // re-box to the key's DECLARED type or createDataFrame rejects the
    // row ("java.lang.Long is not a valid external type for int")
    def toExternal(v: Any): Any = (v, keyDt) match {
      case (n: Number, org.apache.spark.sql.types.IntegerType) =>
        Int.box(n.intValue())
      case (n: Number, org.apache.spark.sql.types.LongType) =>
        Long.box(n.longValue())
      case (n: Number, org.apache.spark.sql.types.DoubleType) =>
        Double.box(n.doubleValue())
      case (n: Number, org.apache.spark.sql.types.FloatType) =>
        Float.box(n.floatValue())
      case (n: Number, org.apache.spark.sql.types.ShortType) =>
        Short.box(n.shortValue())
      case (n: Number, org.apache.spark.sql.types.ByteType) =>
        Byte.box(n.byteValue())
      case _ => v
    }
    val extRows: Seq[Row] = extentFiles.map { st =>
      val cs = stats(st.getPath.toString).cols(key)
      Row(st.getPath.toString, toExternal(cs.min.get), toExternal(cs.max.get))
    }
    val extents = s.createDataFrame(extRows.asJava, StructType(Seq(
      StructField("graft_path", StringType, nullable = false),
      StructField("graft_kmin", keyDt, nullable = false),
      StructField("graft_kmax", keyDt, nullable = false))))
    val k = feedKeys.columns match {
      case Array(one) => col(one)
      case other => throw new IllegalArgumentException(
        s"feedKeys must be a single key column, got ${other.toSeq}")
    }
    // file extents broadcast; ONE pass over the feed; result ≤ #files
    val hit = broadcast(extents)
      .join(feedKeys, k >= col("graft_kmin") && k <= col("graft_kmax"),
        "left_semi")
      .select(col("graft_path")).collect().map(_.getString(0)).toSet
    val touched = extentFiles.map(_.getPath.toString).filter(hit) ++
      rest.map(_.getPath.toString)
    val untouched = extentFiles.map(_.getPath.toString).filterNot(hit) ++
      emptyFiles.map(_.getPath.toString)

    // the explicit-path load bypasses manifest vector resolution, so
    // the current snapshot's deletion-vector bindings ride the dvSpec
    // option — a COW rewrite of a vectored file must NOT resurrect
    // its deleted rows into the post-image
    val dvRel: Map[String, String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      FleetManifest.current(fs, p).map(_.dvs).getOrElse(Map.empty)
    }
    val dvSpecs: Map[String, DvPartSpec] = dvRel.map { case (n, rel) =>
      n -> DvPartSpec(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), rel).toString)
    }
    val touchedBase =
      if (touched.isEmpty) s.createDataFrame(
        new java.util.ArrayList[Row](), schema)
      else {
        val r = s.read.format("graft-avro").schema(schema)
        (if (dvSpecs.isEmpty) r
         else r.option("dvSpec", AvroFleetTable.renderDvSpec(dvSpecs)))
          .load(touched.mkString(","))
      }
    val merged = applyMerge(touchedBase)
    require(merged.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      s"merge result schema ${merged.schema.fieldNames.toSeq} must match " +
        s"the fleet schema ${schema.fieldNames.toSeq}")

    val before = fleet.map(_.getPath.getName).toSet
    // the append's job commit IS the generation swap: its one manifest
    // commit adds the rewritten files and removes the touched
    // originals (manifestSwapRemove), so no reader window ever shows
    // both generations. Physical reclamation is a RETENTION decision:
    // retainOld keeps every superseded generation readable via
    // versionAsOf until an explicit expireVersions; retainOld=false
    // runs that retention pass immediately (keepLast=1), so history
    // is dropped CONSISTENTLY — manifests and files together — never
    // a still-listed version whose files are gone
    val touchedNames = touched
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
    // compare-and-set the bindings the rewrite READ (absence
    // included): a merge-on-read delete landing on a touched file
    // mid-merge must conflict, not resurrect via the stale post-image
    val requireDvs = AvroFleetTable.renderRequireDvs(
      touchedNames.map(n => n -> dvRel.get(n)).toMap)
    merged.write.format("graft-avro").mode("append")
      .option("manifestSwapRemove", touchedNames.mkString(","))
      .option("manifestRequireDvs", requireDvs)
      .save(dir)
    val written = fs.listStatus(dirPath).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro") &&
        !before.contains(st.getPath.getName))
      .map(_.getPath.toString)
    if (!retainOld) {
      // "no retention" = merge + immediate retention pass (history
      // collapses to the post-merge generation — manifests and files
      // together, never a still-listed version with missing files) —
      // PLUS a targeted sweep of the replaced originals: on a
      // previously manifest-less fleet the swap commit IS version 1,
      // so expireVersions has nothing to expire, yet the touched
      // files sit on disk referenced by no version at all
      FleetCompact.expireVersions(s, dir, keepLast = 1)
      val stillReferenced = FleetManifest.versions(fs, dirPath)
        .flatMap(v => FleetManifest.snapshotAt(fs, dirPath, v)
          .toSeq.flatMap(_.files)).toSet
      FleetCompact.unlink(fs, dirPath,
        touchedNames.filterNot(stillReferenced))
    }
    CowResult(touched, untouched, written)
  }
}
