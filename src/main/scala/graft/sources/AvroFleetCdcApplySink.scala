package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink => V1Sink}
import org.apache.spark.sql.functions.col

/** STREAMING UPSERT fleet sink (r19, the r18 verdict's #2) — closes
  * the CDC loop:
  *
  * {{{
  * spark.readStream.format("graft-avro")
  *   .option("readChangeFeed", "true")
  *   .option("cdcKeyCols", "id")            // net change images out
  *   .load(dirA)
  *   .writeStream.format("graft-avro")
  *   .option("cdcApplyKeyCols", "id")       // ← this sink
  *   .option("checkpointLocation", ck)
  *   .start(dirB)                           // B converges to A
  * }}}
  *
  * Each micro-batch of keyed change images (`insert` / `delete` /
  * `update_preimage` / `update_postimage` — the [[FleetCDC
  * .reconcileKeyed]] shape) applies to the target fleet as ONE SQL
  * `MERGE INTO` in merge-on-read mode: deletes land as deletion-vector
  * positions, updates as vector + appended post-image, inserts as
  * appended files — per-batch cost tracks the CHANGED rows (extent
  * pruning bounds the touched files), never the target fleet, and the
  * whole batch is one atomic manifest commit. Fleet→fleet replication
  * therefore needs NO foreachBatch: source netting and sink apply are
  * both declarative options.
  *
  * WHY V1: the apply is a per-batch MERGE (a join-shaped write) that
  * no DSv2 streaming write can express — `StreamingWrite` only
  * receives rows. The provider drops STREAMING_WRITE when
  * `cdcApplyKeyCols` is set and `DataStreamWriter`'s documented
  * fallback routes here (the [[AvroFleetCdcKeyedSource]] posture,
  * sink-side). The MERGE runs on the streaming query's own cloned
  * execution session, so the merge-on-read routing conf never leaks
  * into user sessions.
  *
  * EXACTLY-ONCE: a durable high-water marker under the query's
  * checkpoint records the last applied batch id — a replayed batch
  * (restart after a crash between sink commit and engine commit-log
  * write) SKIPS. The backstop, when the marker itself is lost or the
  * checkpoint is temp-located, is VALUE idempotence: reapplying the
  * same net images converges to the same state (a delete of an absent
  * key matches nothing; an upsert of an identical image rewrites
  * identical values), because the source replays a batch id from the
  * same manifest-version offsets with the same content.
  *
  * Restore on the SOURCE streams resurrections as `insert` images
  * (FleetCDC's shrink arc) — they apply here as ordinary upserts, so
  * a replication target follows a source restore forward instead of
  * wedging. A FRESH target bootstraps from its first batch's upsert
  * images (the initial snapshot when the stream starts at
  * `startingVersion = 0`).
  *
  * Target addressing: the path must spell a fleet directory
  * (`.../<name>.avro`) so the MERGE can address it through
  * [[GraftCatalog]]; a dedicated parent-rooted catalog is registered
  * on the execution session under a path-hashed name — concurrent
  * apply sinks onto different roots never collide. */
private[sources] class AvroFleetCdcApplySink(sqlContext: SQLContext,
    path: String, keyCols: Seq[String],
    checkpointLocation: Option[String],
    mergeSchema: Boolean = false) extends V1Sink {

  require(keyCols.nonEmpty, "cdcApplyKeyCols needs at least one column")

  private val p = new Path(path)
  require(p.getName.endsWith(".avro"),
    s"cdcApplyKeyCols target must be a fleet directory path ending in " +
      s".avro (got $path) — the MERGE addresses it through the fleet " +
      "catalog's <root>/<name>.avro contract")
  private val tableName = p.getName.stripSuffix(".avro")

  private def fs = p.getFileSystem(
    sqlContext.sparkSession.sessionState.newHadoopConf())

  // ---- durable applied-batch high-water ----------------------------

  private def markerPath: Option[Path] = checkpointLocation.map(ck =>
    new Path(new Path(ck, "graft-cdc-apply"), "highwater"))

  private def appliedThrough(): Option[Long] = markerPath.flatMap { mp =>
    val f = mp.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      val text = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      text.trim.toLongOption.orElse(throw new java.io.IOException(
        s"malformed cdc-apply high-water marker $mp: '$text'"))
    }
  }

  private def recordApplied(batchId: Long): Unit = markerPath.foreach {
    mp =>
      val f = mp.getFileSystem(
        sqlContext.sparkSession.sessionState.newHadoopConf())
      f.mkdirs(mp.getParent)
      val tmp = new Path(mp.getParent, s".${mp.getName}.tmp")
      val out = f.create(tmp, true)
      try out.write(batchId.toString.getBytes("UTF-8"))
      finally out.close()
      f.delete(mp, false)
      if (!f.rename(tmp, mp)) { f.delete(tmp, false); () }
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // replay of an already-applied batch (the engine re-runs the last
    // uncommitted batch on restart; the sink may have committed it) —
    // skip on the durable marker, converge by value-idempotence
    // otherwise
    if (appliedThrough().exists(batchId <= _)) return
    val ct = FleetCDC.ChangeTypeCol
    require(data.columns.contains(ct),
      s"cdcApplyKeyCols input must carry $ct — feed it from a " +
        "readChangeFeed (+ cdcKeyCols) stream")
    val dataCols = data.columns.filterNot(_ == ct).toSeq
    val missing = keyCols.filterNot(dataCols.contains)
    require(missing.isEmpty,
      s"cdcApplyKeyCols column(s) not in the change schema: " +
        s"${missing.mkString(", ")} (schema: ${dataCols.mkString(", ")})")
    // re-root the engine's streaming-tagged micro-batch plan as a
    // BATCH plan (ForeachBatchSink's stamp) — the MERGE below is a
    // batch command and its checker rejects streaming sources.
    // Update pre-images are informational; the post-image carries the
    // upsert. Keys are net per batch (reconcileKeyed), so the MERGE
    // source has at most one image per key — no cardinality violation.
    val images = org.apache.spark.sql.GraftStreamingShim.asBatch(data)
      .filter(col(ct) =!= "update_preimage")
    val s = data.sparkSession // the query's cloned execution session
    val f = fs
    val exists = f.exists(p) &&
      (FleetManifest.current(f, p).isDefined ||
        AvroFleetCommits.dataFileStatuses(f, p).nonEmpty)
    if (!exists) {
      // FRESH target: the first batch's upsert images are the initial
      // fleet (deletes have nothing to match). One ordinary committed
      // append — subsequent batches MERGE.
      val ups = images.filter(col(ct) =!= "delete").drop(ct)
      if (!ups.isEmpty)
        ups.write.format("graft-avro").mode("append").save(path)
    } else {
      val parent = f.makeQualified(p).getParent.toString
      val cat = "graft_apply_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(parent.getBytes("UTF-8")).take(4)
          .map(b => f"$b%02x").mkString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", parent)
      // merge-on-read on the CLONED session only: per-batch cost is
      // O(changed rows) — deletes are vector positions, never rewrites
      s.conf.set("spark.graft.rowLevelMode", "merge-on-read")
      // SOURCE evolved past the target (a restarted feed adopts new
      // columns — the definition-pinned schema widens on restart):
      // option("mergeSchema", "true") auto-evolves the target through
      // the ordinary catalog ALTER (nullable ADD COLUMNs + the
      // versioned schema commit), so replication follows the source's
      // evolution; without it, fail loudly with the remedy instead of
      // a MERGE analysis error deep in the engine
      val targetCols = FleetSchemaMarker.resolve(f, p, None)
        .map(_.schema).getOrElse(Avro.toSparkSchema(
          Avro.peekSchema(s, path)))
        .fieldNames.toSet
      val added = images.schema.fields
        .filter(fd => fd.name != ct && !targetCols(fd.name))
      if (added.nonEmpty) {
        require(mergeSchema,
          s"cdcApplyKeyCols: the change feed carries column(s) the " +
            s"target fleet lacks: ${added.map(_.name).mkString(", ")} " +
            "— the source evolved. ALTER the target to match, or opt " +
            "into automatic evolution with option(\"mergeSchema\", " +
            "\"true\")")
        val ddl = added.map(fd =>
          s"`${fd.name}` ${fd.dataType.sql}").mkString(", ")
        s.sql(s"ALTER TABLE $cat.`$tableName` ADD COLUMNS ($ddl)")
      }
      // the view name must be a valid SQL identifier whatever the
      // fleet directory is called (`my-table.avro` would break both
      // createOrReplaceTempView and the MERGE text) — hash the name
      // with the same MD5 scheme as the catalog name above
      val view = "graft_cdc_apply_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(tableName.getBytes("UTF-8")).take(4)
          .map(b => f"$b%02x").mkString + "_images"
      images.createOrReplaceTempView(view)
      val onClause = keyCols.map(k => s"t.`$k` <=> s.`$k`")
        .mkString(" AND ")
      val setClause = dataCols.map(c => s"t.`$c` = s.`$c`")
        .mkString(", ")
      val insCols = dataCols.map(c => s"`$c`").mkString(", ")
      val insVals = dataCols.map(c => s"s.`$c`").mkString(", ")
      s.sql(
        s"""MERGE INTO $cat.`$tableName` t USING $view s ON $onClause
           |WHEN MATCHED AND s.`$ct` = 'delete' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET $setClause
           |WHEN NOT MATCHED AND s.`$ct` != 'delete'
           |  THEN INSERT ($insCols) VALUES ($insVals)""".stripMargin)
    }
    recordApplied(batchId)
  }

  override def toString: String =
    s"AvroFleetCdcApplySink[$path keys=${keyCols.mkString(",")}]"
}
