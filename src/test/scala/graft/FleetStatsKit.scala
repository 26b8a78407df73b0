package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.{FleetManifest, FleetStats}

/** Spec helpers for the per-file stats a manifest fleet's entries
  * carry. */
object FleetStatsKit {

  /** The current snapshot's committed stats by file name (files without
    * stats are absent). */
  def committedStats(s: SparkSession, dir: String)
      : Map[String, FleetStats.PartStats] = {
    val p = new Path(dir)
    FleetManifest.current(p.getFileSystem(s.sessionState.newHadoopConf()), p)
      .get.fileStats
  }

  /** Rewrite every manifest segment of the fleet at `dir` as a writer
    * that captured no stats left it: each entry keeps its length and
    * mtime and loses its rows and column stats. Scans then read every
    * file unskipped — the advisory path. */
  def stripStats(dir: String): Unit = {
    val sdir = new java.io.File(new Path(dir).toUri.getPath,
      FleetManifest.SegmentsRel)
    sdir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
      val j = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      val stripped = j.transformField {
        case ("entries", JArray(es)) => ("entries", JArray(es.map {
          case JObject(fs) => JObject(fs.filter { case (k, _) =>
            k == "len" || k == "mtime" })
          case other => other
        }))
      }
      java.nio.file.Files.write(f.toPath, JsonMethods.compact(
        JsonMethods.render(stripped)).getBytes("UTF-8"))
    }
    FleetManifest.clearSnapshotCache()
  }
}
