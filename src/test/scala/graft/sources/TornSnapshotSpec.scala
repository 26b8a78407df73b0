package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.functions._

/** The aggregate scans plan from ONE snapshot: a commit that retires
  * vectored files (`rewrite_files`) landing between a scan's pushdown
  * or size estimate and its partition planning must not pair the old
  * generation's files with the new generation's (absent) vector
  * bindings. In-package: drives each scan directly to land the commit
  * at the exact point between the two. */
class TornSnapshotSpec extends graft.SparkSpec {

  /** Four files, one per `k`; rows x=2 and x=6 (group 2) deleted by a
    * deletion vector; the advisory sidecar dropped so the count takes
    * the block-header tier and every group file decodes. */
  private def vectoredFleet(tag: String): (String, String) = {
    import spark.implicits._
    val root = graft.util.Scratch.dir(s"torn_$tag")
    val dir = s"$root/t.avro"
    spark.range(400).select(($"id" % 4).as("k"), $"id".as("x"))
      .repartition(4, $"k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = spark.read.format("graft-avro").load(dir)
      .filter($"x".isin(2L, 6L))
      .select(col("_file"), col("_sync"), col("_ridx")).collect()
    val victim = new org.apache.hadoop.fs.Path(rows.head.getString(0)).getName
    val dv = FleetDv.write(fs, p, victim,
      FleetDv.Deleted.of(rows.map(r => (r.getLong(1), r.getLong(2)))))
    FleetManifest.commit(fs, p, identity, Nil,
      dvUpdate = Map(victim -> Some(dv)))
    fs.listStatus(p).filter(_.getPath.getName.startsWith("_stats"))
      .foreach(st => fs.delete(st.getPath, true))
    (root, dir)
  }

  /** Compact the fleet in place: every vectored file retires, its
    * vector materialized into the rewritten generation. */
  private def rewriteFiles(root: String): Unit = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.sql("CALL graft.system.rewrite_files('t', 16777216, '')").collect()
  }

  private def builder(dir: String): AvroFleetScanBuilder =
    new AvroFleetScanBuilder(
      spark.read.format("graft-avro").load(dir).schema, dir,
      Avro.MaxIngestFileBytes)

  private def evaluate(scan: Scan): Seq[InternalRow] = {
    val batch = scan.toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { part =>
      val r = factory.createReader(part)
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => r.get().copy()).toList
      finally r.close()
    }
  }

  test("COUNT(*) corrects by the vectors of the files it plans") {
    val (root, dir) = vectoredFleet("count")
    val b = builder(dir)
    assert(b.pushAggregation(new Aggregation(
      Array[AggregateFunc](new CountStar()), Array.empty[Expression])))
    val scan = b.build()
    assert(scan.isInstanceOf[AvroFleetCountScan], scan.getClass.toString)
    rewriteFiles(root)
    val total = evaluate(scan).map(_.getLong(0)).sum
    assert(total == 398L, s"planned snapshot holds 398 rows, got $total")
  }

  test("grouped aggregate reads its files under their planned vectors") {
    val (root, dir) = vectoredFleet("group")
    val b = builder(dir)
    assert(b.pushAggregation(new Aggregation(
      Array[AggregateFunc](new CountStar()),
      Array[Expression](Expressions.column("k")))))
    val scan = b.build()
    assert(scan.isInstanceOf[AvroFleetGroupAggScan], scan.getClass.toString)
    // the planner prices the scan (join selection reads its size)
    scan.asInstanceOf[AvroFleetGroupAggScan].estimateStatistics()
      .sizeInBytes()
    rewriteFiles(root)
    val counts = evaluate(scan).groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sum }
    assert(counts == Map(0L -> 100L, 1L -> 100L, 2L -> 98L, 3L -> 100L),
      counts.toString)
  }
}
