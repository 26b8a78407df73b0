package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.functions._

/** The scans plan from ONE snapshot: a commit that retires files
  * (`rewrite_files`) landing between a scan's pushdown or size
  * estimate and its partition planning must not pair the old
  * generation's files with the new generation's (absent) vector
  * bindings or its stats. In-package: drives each scan directly to
  * land the commit at the exact point between the two. */
class TornSnapshotSpec extends graft.SparkSpec {

  /** Four files, one per `k`, each with its committed stats. */
  private def fourFiles(tag: String): (String, String) = {
    import spark.implicits._
    val root = graft.util.Scratch.dir(s"torn_$tag")
    val dir = s"$root/t.avro"
    spark.range(400).select(($"id" % 4).as("k"), $"id".as("x"))
      .repartition(4, $"k")
      .write.format("graft-avro").mode("overwrite").save(dir)
    (root, dir)
  }

  /** [[fourFiles]] with rows x=2 and x=6 (group 2) deleted by a
    * deletion vector, and the advisory stats stripped so the count
    * takes the block-header tier and every group file decodes. */
  private def vectoredFleet(tag: String): (String, String) = {
    val (root, dir) = fourFiles(tag)
    import spark.implicits._
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
    graft.FleetStatsKit.stripStats(dir)
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

  test("a filtered scan prunes its planned files with their own generation's stats") {
    val (root, dir) = fourFiles("stats")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val planned = FleetManifest.current(fs, p).get.files.toSet
    val b = builder(dir)
    assert(b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 2L))).isEmpty)
    val scan = b.build()
    // the planner prices the scan before it plans the partitions
    scan.asInstanceOf[AvroFleetScan].estimateStatistics().sizeInBytes()
    // one rewritten file now holds every k, with stats to match
    rewriteFiles(root)
    assert(FleetManifest.current(fs, p).get.files.toSet.intersect(planned)
      .isEmpty)
    val files = scan.toBatch.planInputPartitions().toSeq.flatMap {
      case g: AvroFileGroup => g.splits.map(_.file)
      case other => fail(s"unexpected partition $other")
    }.map(f => new org.apache.hadoop.fs.Path(f).getName).distinct
    assert(files.size == 1 && planned(files.head),
      s"expected the one planned-generation file holding k = 2: $files")
    val rows = evaluate(scan)
    assert(rows.size == 100 && rows.forall(_.getLong(0) == 2L),
      s"${rows.size} rows")
  }
}
