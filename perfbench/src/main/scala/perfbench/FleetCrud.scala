package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.FleetCDC

/** Transactional CRUD on one `graft-avro` fleet through `GraftCatalog`
  * SQL, merge-on-read. Set-up range-clusters `orders` on `o_orderkey`
  * into `Files` files. Each seeded cycle runs an INSERT of new keys,
  * `Lookups` point SELECTs (half on recent inserts, half uniform), an
  * UPDATE and a DELETE of key ranges and a whole-table GROUP BY; every
  * `CdcEvery` cycles it reads `FleetCDC.changesKeyed` since the last
  * consumed version, and every `CompactEvery` cycles it runs
  * `rewrite_files` back to the set-up file size, then `expire_versions`.
  * The warm-up ends on a compaction cycle, so the window opens on a
  * freshly compacted fleet and a round is one compaction period: read
  * cost grows with fragmentation until the round's last cycle compacts.
  *
  * Every result is checked against an in-memory model of the table that
  * only acknowledged writes update; the whole table is compared at the
  * end.
  */
final class FleetCrud(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  import FleetCrud._

  private type Rec = (Long, String, Double, String)
  private val rng = new scala.util.Random(seed)
  private val base: Map[Long, Rec] =
    spark.read.parquet(s"$data/orders.parquet").select(Columns.map(col): _*)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4)))).toMap

  private var root: String = _
  private var session: SparkSession = _
  private var model = mutable.Map.empty[Long, Rec]
  private var nextKey = 0L
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var cycle = 0
  private var cdcVersion = 0L
  private var cdcModel = Map.empty[Long, Rec]
  private var targetBytes = 0L
  /** Row images written since `windowStart`: `write_amp`'s denominator. */
  private val written = mutable.ArrayBuffer.empty[(Long, Rec)]

  private def fleet = s"$root/orders.avro"
  /** (version, is_current) of every retained version, via the catalog. */
  private def snapshots: Array[(Long, Boolean)] =
    session.sql("CALL graft.system.snapshots('orders')")
      .select("version", "is_current").collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
  private def version: Long = snapshots.find(_._2).get._1

  def buildFixtures(dir: String): Unit = {
    root = dir
    spark.read.parquet(s"$data/orders.parquet").select(Columns.map(col): _*)
      .repartitionByRange(Files, col("o_orderkey"))
      .write.format("graft-avro").mode("overwrite").save(fleet)
    session = spark.newSession()
    session.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    session.conf.set("spark.sql.catalog.graft.root", dir)
    session.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    model = mutable.Map(base.toSeq: _*)
    nextKey = base.keys.max + 1
    recent.clear()
    // the last warm-up cycle is cycle 0, a compaction cycle
    cycle = -warmupBlocks
    cdcVersion = version
    cdcModel = model.toMap
    targetBytes = Dirs.bytes(fleet, dataOnly = true) / Files
  }

  override def windowStart(): Unit = written.clear()

  override def roundBlocks: Int = CompactEvery

  def warmupBlocks: Int = WarmupCycles

  private def lit(v: Any): String = v match {
    case s: String => s"'$s'"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString + "D"
    case other => other.toString
  }

  private def sqlOp(kind: String, cls: String, sql: String)
      (check: Array[Row] => Option[String]): Op =
    Op(kind, cls, () => session.sql(sql), check, sqlText = true)

  private def expect(what: String, got: Array[Row], want: Iterable[Seq[Any]])
      : Option[String] = {
    val g = got.map(_.toSeq).sortBy(_.mkString("\u0001"))
    val w = want.toSeq.sortBy(_.mkString("\u0001"))
    if (g.length == w.length &&
        g.zip(w).forall { case (a, b) => Workload.sameRow(a, b) }) None
    else Some(s"$what: got ${g.length} rows ${g.take(2).map(_.mkString(","))
      .mkString(";")}, want ${w.length} rows ${w.take(2).map(_.mkString(","))
      .mkString(";")}")
  }

  private def row(k: Long, r: Rec): Seq[Any] = Seq(k, r._1, r._2, r._3, r._4)

  private def insert(): Op = {
    val recs = (nextKey until nextKey + InsertBatch).map { k =>
      k -> ((rng.nextInt(base.size / 10).toLong,
        Seq("F", "O", "P")(rng.nextInt(3)),
        math.rint(rng.nextDouble() * 49900000 + 100000) / 100,
        s"${rng.nextInt(5) + 1}-NEW"))
    }
    nextKey += InsertBatch
    recent ++= recs.map(_._1)
    if (recent.size > RecentKeys) recent.remove(0, recent.size - RecentKeys)
    sqlOp("insert", "commit", "INSERT INTO graft.orders VALUES " +
      recs.map { case (k, r) => row(k, r).map(lit).mkString("(", ", ", ")") }
        .mkString(", ")) { _ =>
      model ++= recs
      written ++= recs
      None
    }
  }

  private def lookup(recentKey: Boolean): Op = {
    val k = if (recentKey) recent(rng.nextInt(recent.size))
      else (rng.nextDouble() * nextKey).toLong
    sqlOp("lookup", "lookup",
      s"SELECT ${Columns.mkString(", ")} FROM graft.orders " +
        s"WHERE o_orderkey = $k") { rows =>
      expect(s"lookup $k", rows, model.get(k).map(row(k, _)))
    }
  }

  private def update(): Op = {
    val lo = (rng.nextDouble() * (nextKey - UpdateWidth)).toLong
    val hi = lo + UpdateWidth - 1
    sqlOp("update", "commit",
      "UPDATE graft.orders SET o_totalprice = o_totalprice + 1.5D, " +
        s"o_orderstatus = 'U' WHERE o_orderkey BETWEEN $lo AND $hi") { _ =>
      (lo to hi).foreach { k =>
        model.get(k).foreach { case (c, _, p, pr) =>
          val img = (c, "U", p + 1.5, pr)
          model(k) = img
          written += (k -> img)
        }
      }
      None
    }
  }

  private def delete(): Op = {
    val lo = (rng.nextDouble() * (nextKey - DeleteWidth)).toLong
    val hi = lo + DeleteWidth - 1
    sqlOp("delete", "commit",
      s"DELETE FROM graft.orders WHERE o_orderkey BETWEEN $lo AND $hi") { _ =>
      (lo to hi).foreach(model.remove)
      None
    }
  }

  private def groupBy(): Op =
    sqlOp("groupby", "query",
      "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM graft.orders " +
        "GROUP BY o_orderstatus") { rows =>
      expect("group-by", rows, model.values.groupBy(_._2).map {
        case (s, rs) => Seq(s, rs.size.toLong, rs.toSeq.map(_._3).sum) })
    }

  private def changes(): Op = {
    var to = 0L
    Op("cdc", "query", () => {
      to = version
      FleetCDC.changesKeyed(spark, fleet, cdcVersion, to, Seq("o_orderkey"))
        .select((Columns :+ FleetCDC.ChangeTypeCol).map(col): _*)
    }, rows => {
      val now = model.toMap
      val want = (cdcModel.keySet ++ now.keySet).toSeq.flatMap { k =>
        (cdcModel.get(k), now.get(k)) match {
          case (None, Some(n)) => Seq(row(k, n) :+ "insert")
          case (Some(o), None) => Seq(row(k, o) :+ "delete")
          case (Some(o), Some(n)) if o != n =>
            Seq(row(k, o) :+ "update_preimage", row(k, n) :+ "update_postimage")
          case _ => Nil
        }
      }
      val err = expect(s"changes ($cdcVersion, $to]", rows, want)
      cdcVersion = to
      cdcModel = now
      err
    })
  }

  def nextBlock(): Seq[Op] = {
    cycle += 1
    Seq(insert()) ++ (1 to Lookups).map(i => lookup(recentKey = i % 2 == 1)) ++
      Seq(update(), delete(), groupBy()) ++
      (if (cycle % CdcEvery == 0) Seq(changes()) else Nil) ++
      (if (cycle % CompactEvery == 0) Seq(
        sqlOp("compact", "maint", "CALL graft.system.rewrite_files(" +
          s"'orders', $targetBytes, 'o_orderkey')")(_ => None),
        sqlOp("expire", "maint",
          s"CALL graft.system.expire_versions('orders', $KeepVersions)")(
          _ => None))
      else Nil)
  }

  override def gauges(): Map[String, Double] = Map(
    "fleet.data_files" -> Dirs.files(fleet, dataOnly = true).size.toDouble,
    "fleet.versions" -> snapshots.length.toDouble,
    "fleet.manifest_bytes" -> Dirs.bytes(s"$fleet/_manifest", dataOnly = false)
      .toDouble)

  override def finish(writtenBytes: Long): (Map[String, Double], Seq[String]) = {
    val whole = expect("whole table", session.sql(
      s"SELECT ${Columns.mkString(", ")} FROM graft.orders").collect(),
      model.map { case (k, r) => row(k, r) })
    // one fresh single-version write of the live rows, and of the row
    // images the window wrote
    session.table("graft.orders").coalesce(1).write.format("graft-avro").mode("overwrite")
      .save(s"$root/fresh_live.avro")
    import spark.implicits._
    written.toSeq.map { case (k, (c, s, p, pr)) => (k, c, s, p, pr) }
      .toDF(Columns: _*).coalesce(1).write.format("graft-avro").mode("overwrite")
      .save(s"$root/fresh_written.avro")
    val ratios = Map(
      "space_amp" -> Dirs.bytes(fleet, dataOnly = false).toDouble /
        Dirs.bytes(s"$root/fresh_live.avro", dataOnly = false),
      "write_amp" -> writtenBytes.toDouble /
        Dirs.bytes(s"$root/fresh_written.avro", dataOnly = true))
    (ratios, whole.toSeq)
  }

  def corruptExpected(): Unit = {
    val (k, (c, s, p, pr)) = model.head
    model(k) = (c, s, p + 1, pr)
  }
}

object FleetCrud {
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")
  val Files = 48
  val InsertBatch = 8
  val Lookups = 4
  val RecentKeys = 64
  val UpdateWidth = 10
  val DeleteWidth = 5
  val CdcEvery = 4
  /** Cycles per compaction, and so per round: 25 cycles take about 38 s
    * on four cores, which would make a run about 70 s, too long for the
    * number of runs a comparison makes. */
  val CompactEvery = 12
  val KeepVersions = 4
  /** Warm-up cycles: one cold pass over the op types leaves the next
    * about 20% slower than later ones. */
  val WarmupCycles = 6
}

/** Directory walks for the storage gauges. */
object Dirs {
  /** Regular files under `dir`; `dataOnly` keeps the fleet's visible
    * data files (no hidden, underscore or checksum files). */
  def files(dir: String, dataOnly: Boolean): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return Nil
    val walk = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filter { f =>
          val n = f.getFileName.toString
          !dataOnly || (f.getParent == p && !n.startsWith(".") &&
            !n.startsWith("_") && n.endsWith(".avro"))
        }.toList
    } finally walk.close()
  }

  def bytes(dir: String, dataOnly: Boolean): Long =
    files(dir, dataOnly).map(java.nio.file.Files.size).sum
}
