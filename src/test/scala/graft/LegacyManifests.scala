package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Version files in the legacy manifest format — full snapshots and
  * deltas on the previous version — written by hand, as fleets
  * committed before manifest segments hold them. */
object LegacyManifests {

  /** Write a 20-version legacy history at fleet `p`: v1 full, v2..v20
    * deltas except v16, a full checkpoint. It appends files with
    * entries (a1 has none), swaps f3 for f3r at v10, binds, rebinds
    * and unbinds vectors with their meta at v11..v13 and removes f6 at
    * v19. Returns each version's file list, in order. */
  def write(fs: FileSystem, p: Path): Map[Long, Seq[String]] = {
    def entry(n: String): String =
      if (n == "a1") "null"
      else {
        val len = n.filter(_.isDigit).toInt + 1
        s"""{"len":$len,"mtime":${1000 + len},"rows":$len,""" +
          s""""cols":{"id":{"min":${len * 10},"max":${len * 10 + 9},""" +
          """"nulls":0}}}"""
      }
    def strs(ns: Seq[String]) = ns.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    def obj(m: Seq[(String, String)]) =
      m.map { case (k, x) => "\"" + k + "\":" + x }.mkString("{", ",", "}")
    var files = Vector("a0", "a1")
    var dvs = Map.empty[String, String]
    var meta = Map.empty[String, String]
    val lists = Map.newBuilder[Long, Seq[String]]
    (1L to 20L).foreach { v =>
      val prevFiles = files
      val prevDvs = dvs
      val prevMeta = meta
      v match {
        case 1L => ()
        case 10L => files = files.filterNot(_ == "f3") :+ "f3r"
        case 11L =>
          dvs += "f4" -> "\"_dv/f4.1.dv\""
          meta += "f4" ->
            """{"count":3,"fp":42,"stats":{"id":{"min":1,"max":9,"nn":3}}}"""
        case 12L =>
          dvs ++= Map("f4" -> "\"_dv/f4.2.dv\"", "f5" -> "\"_dv/f5.1.dv\"")
          meta += "f4" -> """{"count":5}"""
        case 13L => dvs -= "f4"; meta -= "f4"
        case 19L => files = files.filterNot(_ == "f6") :+ s"g$v"
        case _ if v < 10L => files :+= s"f$v"
        case _ => files :+= s"g$v"
      }
      val props = obj(Seq("commit.ts" -> s""""${1000000L + v}"""",
        "who" -> s""""legacy$v""""))
      val text =
        if (v == 1L || v == 16L)
          s"""{"version":$v,"files":${strs(files)},"props":$props,""" +
            s""""dvs":${obj(dvs.toSeq.sorted)},""" +
            (if (meta.isEmpty) "" else s""""dvmeta":${obj(meta.toSeq.sorted)},""") +
            s""""entries":${files.map(entry).mkString("[", ",", "]")}}"""
        else {
          val added = files.filterNot(prevFiles.toSet)
          val set = dvs.filter { case (k, x) => !prevDvs.get(k).contains(x) }
          val metaSet = meta.filter { case (k, x) => !prevMeta.get(k).contains(x) }
          s"""{"version":$v,"base":${v - 1},""" +
            s""""removed":${strs(prevFiles.filterNot(files.toSet))},""" +
            s""""added":${strs(added)},"props":$props""" +
            (if (set.isEmpty) "" else s""","dvs_set":${obj(set.toSeq.sorted)}""") +
            (if (prevDvs.keySet == dvs.keySet) ""
             else s""","dvs_del":${strs(prevDvs.keySet.diff(dvs.keySet).toSeq.sorted)}""") +
            (if (metaSet.isEmpty) "" else s""","dvmeta_set":${obj(metaSet.toSeq.sorted)}""") +
            (if (prevMeta.keySet == meta.keySet) ""
             else s""","dvmeta_del":${strs(prevMeta.keySet.diff(meta.keySet).toSeq.sorted)}""") +
            s""","entries":${added.map(entry).mkString("[", ",", "]")}}"""
        }
      val out = fs.create(new Path(p, f"_manifest/v$v%020d.json"), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      lists += v -> files
    }
    lists.result()
  }
}
