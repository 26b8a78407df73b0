package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.util.Determinism._

/** The reference's CRUD verbs (SURVEY.md §1.1 mapping), re-expressed as
  * immutable copy-on-write transforms — update = conditional
  * recompute, delete = negative filter, upsert = keyed precedence
  * merge. The "save workbook" half is the parquet write that `Verify`
  * performs on every query's result.
  *
  * Scale: all three are narrow per-row transforms or a single keyed
  * window — no driver round-trip, no read-modify-write race; at 100 TB
  * the upsert is the standard shuffle-on-key merge (or a MERGE INTO on
  * a table format; the plan shape is identical).
  */
object Crud {

  /** UPDATE ... SET price = price*1.1 WHERE status = 'O' (reference:
    * mutate matching cells), emitted as old/new/changed audit rows. */
  def qCrudUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orders(s, dir)
      .select(
        $"o_orderkey",
        $"o_totalprice".as("old_price"),
        r4(when($"o_orderstatus" === "O", $"o_totalprice" * 1.1)
          .otherwise($"o_totalprice")).as("new_price"),
        ($"o_orderstatus" === "O").as("changed"))
      .orderBy($"o_orderkey")
  }

  /** DELETE WHERE status = 'F' (reference: remove rows) — the
    * surviving relation. */
  def qCrudDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orders(s, dir)
      .filter(!($"o_orderstatus" === "F"))
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  /** UPSERT (reference: insert-or-update by key): a deterministic
    * updates set — modified balances for custkey < 100 plus brand-new
    * keys ≥ 100000 — merged over the base table, updates winning. */
  def qCrudUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = customer(s, dir)
      .select($"c_custkey", $"c_name", r4($"c_acctbal").as("c_acctbal"),
        lit(0).as("is_update"))
    val updates = customer(s, dir)
      .filter($"c_custkey" < 100)
      .select($"c_custkey", $"c_name", r4($"c_acctbal" + 500.0).as("c_acctbal"),
        lit(1).as("is_update"))
      .unionByName(
        customer(s, dir).filter($"c_custkey" < 5)
          .select(($"c_custkey" + 100000).as("c_custkey"),
            concat(lit("New#"), $"c_custkey").as("c_name"),
            r4(lit(0.0)).as("c_acctbal"), lit(1).as("is_update")))
    val w = Window.partitionBy($"c_custkey").orderBy($"is_update".desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"c_custkey", $"c_name", $"c_acctbal",
        ($"is_update" === 1).as("was_upserted"))
      .orderBy($"c_custkey")
  }

  /** SCD TYPE-2 apply (the warehouse-maintenance verb one step past
    * upsert): replay a change feed over a dimension and emit the full
    * version history — one row per (key, version) with
    * `[valid_from, valid_to)` validity and a current flag. The feed is
    * derived deterministically from the fixtures: each order of a
    * custkey<100 customer is an update event stamping the customer's
    * tracked value to the order price at the order date; an 'F'-status
    * order is a DELETE event and opens a NULL-value tombstone version
    * (the key's history keeps flowing if later events arrive, exactly
    * how a CDC consumer sees a delete+reinsert). The seed version comes
    * from the dimension row itself at a fixed epoch.
    *
    * Scale: the whole rebuild is ONE shuffle on the dimension key + a
    * per-key sort — the same plan shape at 100 TB, where the feed join
    * keys would also prune to only the keys present in the batch (an
    * incremental run anti-joins unchanged keys out before the window).
    * Ties inside a day are broken by the feed's own sequence column
    * (orderkey), so the history is total-ordered and deterministic. */
  def qCdcScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seed = customer(s, dir)
      .filter($"c_custkey" < 100)
      .select($"c_custkey".as("k"), r4($"c_acctbal").as("val"),
        lit("1992-01-01 00:00:00").cast("timestamp").as("vts"),
        lit(-1L).as("seq"))
    val feed = orders(s, dir)
      .filter($"o_custkey" < 100)
      .select($"o_custkey".as("k"),
        when($"o_orderstatus" === "F", lit(null).cast("double"))
          .otherwise(r4($"o_totalprice")).as("val"),
        $"o_orderdate".as("vts"), $"o_orderkey".as("seq"))
    val w = Window.partitionBy($"k").orderBy($"vts", $"seq")
    seed.unionByName(feed)
      .select($"k".as("c_custkey"),
        row_number().over(w).cast("long").as("version"),
        $"val",
        dstr($"vts").as("valid_from"),
        dstr(lead($"vts", 1).over(w)).as("valid_to"),
        lead($"vts", 1).over(w).isNull.as("is_current"))
      .orderBy($"c_custkey", $"version")
  }

  /** Multi-clause MERGE (the Delta/Iceberg `MERGE INTO` workhorse, one
    * step past upsert): a single source feed carrying per-row ops is
    * applied to the base in ONE pass —
    *   WHEN MATCHED AND op='D'  → delete
    *   WHEN MATCHED AND op='U'  → update
    *   WHEN NOT MATCHED AND op='I' → insert
    * (unmatched U/D feed rows are no-ops, matching SQL MERGE). The
    * dataflow is one full-outer join on the key plus a row-level CASE —
    * exactly what a transactional table format executes logically
    * before rewriting touched files; at 100 TB both sides shuffle on
    * the key once (or co-locate via the bucketed layout, see
    * `q_join_bucketed`), never a per-clause pass. The feed is derived
    * deterministically from the fixture with disjoint key ranges so
    * each key sees at most one op. */
  /** The deterministic three-clause merge feed (delete <50, update
    * 50..149, insert +200000), shared by the DataFrame MERGE and the
    * fleet copy-on-write MERGE so both oracles stay one spelling. */
  private[graft] def mergeFeed(cust: DataFrame): DataFrame = {
    import cust.sparkSession.implicits._
    cust.filter($"c_custkey" < 50)
      .select($"c_custkey".as("k"), lit("D").as("op"),
        lit(null).cast("string").as("new_name"),
        lit(null).cast("double").as("new_bal"))
      .unionByName(cust.filter($"c_custkey" >= 50 && $"c_custkey" < 150)
        .select($"c_custkey".as("k"), lit("U").as("op"),
          $"c_name".as("new_name"), r4($"c_acctbal" * 2.0).as("new_bal")))
      .unionByName(cust.filter($"c_custkey" < 20)
        .select(($"c_custkey" + 200000).as("k"), lit("I").as("op"),
          concat(lit("Merged#"), $"c_custkey").as("new_name"),
          r4(lit(10.0)).as("new_bal")))
  }

  /** MERGE clause application over (base ⟗ feed): matched-D deletes,
    * matched-U updates, unmatched-feed-I inserts, unmatched U/D no-op.
    * One full-outer join on the key plus a row-level CASE. */
  private[graft] def applyMergeClauses(base: DataFrame, feed: DataFrame)
      : DataFrame = {
    import base.sparkSession.implicits._
    base.join(feed, $"c_custkey" === $"k", "full_outer")
      // matched delete — 3VL-safe: a base row with NO feed match has
      // op = NULL, and !(true && NULL) = NULL would silently drop it
      .filter($"c_custkey".isNull || $"op".isNull || $"op" =!= "D")
      .filter($"c_custkey".isNotNull || $"op" === "I") // unmatched U/D no-op
      .select(
        coalesce($"c_custkey", $"k").as("c_custkey"),
        when($"c_custkey".isNotNull && $"op" === "U", $"new_name")
          .when($"c_custkey".isNull, $"new_name")
          .otherwise($"c_name").as("c_name"),
        when($"c_custkey".isNotNull && $"op" === "U", $"new_bal")
          .when($"c_custkey".isNull, $"new_bal")
          .otherwise($"c_acctbal").as("c_acctbal"),
        when($"c_custkey".isNull, lit("inserted"))
          .when($"op" === "U", lit("updated"))
          .otherwise(lit("kept")).as("action"))
  }

  def qCrudMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = customer(s, dir)
      .select($"c_custkey", $"c_name", r4($"c_acctbal").as("c_acctbal"))
    applyMergeClauses(base, mergeFeed(customer(s, dir)))
      .orderBy($"c_custkey")
  }

  /** §1.1 ROW-LEVEL MERGE against a FLEET — the same three clauses,
    * executed as [[graft.sources.FleetMerge]]'s sidecar-pruned
    * copy-on-write: the customer table lands as a range-clustered
    * fleet (8 files, disjoint c_custkey extents in their sidecars),
    * and the merge rewrites ONLY the files whose extent can contain a
    * feed key — here the low-key file(s); every other file stays
    * byte-identical (CrudFleetSpec pins mtime+length). At 100 TB this
    * is the difference between a maintenance pass over the touched
    * slice and a full-table rewrite. Read-back is the whole post-merge
    * fleet; oracle = the merge's final state, layout-invariant. */
  def qCrudMergeFleet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false),
      "cow_merge")
    val fleetDir = s"$root/cust.avro"
    val feed = mergeFeed(customer(s, dir))
    graft.sources.FleetMerge.mergeCow(s, fleetDir, "c_custkey",
      feed.select($"k"),
      touched => applyMergeClauses(touched, feed).drop("action"))
    s.read.format("graft-avro").load(fleetDir)
      .orderBy($"c_custkey")
  }

  /** Golden staged fleet, written ONCE per (fixture generation,
    * layout) via [[graft.util.GoldenFixture]]: each verb run then
    * clones the golden directory with driver-side file copies (a
    * handful of small files) instead of a fresh Spark write job — the
    * verbs mutate their clone, so runs stay isolated and
    * deterministic. Production stages nothing: the table exists. */
  private def goldenDir(s: SparkSession, dir: String, clustered: Boolean)
      : String =
    graft.util.GoldenFixture.dir(s, s"$dir/customer.parquet",
      "sqlrls_golden_" + (if (clustered) "c" else "r")) { root =>
      import s.implicits._
      val base = customer(s, dir)
        .select($"c_custkey", $"c_name", r4($"c_acctbal").as("c_acctbal"))
      val w =
        if (clustered)
          base.withColumn("shard",
              pmod($"c_custkey", lit(8)).cast("long"))
            .repartition(8, $"shard")
            .write.option("clusterBy", "shard")
        else base.repartitionByRange(8, $"c_custkey").write
      w.format("graft-avro").option("codec", "deflate-1")
        .mode("overwrite").save(s"$root/cust.avro")
    }

  private def cloneFleet(s: SparkSession, golden: String, tag: String)
      : String = {
    val root = graft.util.Scratch.dir(s"sqlrls_$tag")
    val from = new org.apache.hadoop.fs.Path(s"$golden/cust.avro")
    val to = new org.apache.hadoop.fs.Path(s"$root/cust.avro")
    val fs = from.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(to, true)
    fs.mkdirs(to)
    // recursive: the `_manifest/` generation log travels with the
    // data files, so a clone is the same transactional fleet at the
    // same version (FileUtil.copy descends into directories)
    fs.listStatus(from).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(to, st.getPath.getName),
        false, s.sessionState.newHadoopConf())
    }
    root
  }

  /** Stage a clone of the golden customer fleet and hand back a
    * catalog-bound child session — the common setup of the SQL
    * row-level verbs below. */
  private def stagedFleetSession(s: SparkSession, dir: String,
      tag: String, clustered: Boolean = false): SparkSession = {
    val root = cloneFleet(s, goldenDir(s, dir, clustered), tag)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    // dimension-scale rewrites: the DPP aggregate and MergeRows join
    // shuffle kilobytes — default-width shuffles cost more in task
    // launch than they buy (the verbs' SCALE path is file pruning, not
    // shuffle width)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2
  }

  /** §1.1 SQL `DELETE FROM` a fleet — Spark's group-based
    * copy-on-write (`SupportsRowLevelOperations`) executed at FILE
    * granularity: the pushed condition's sidecar skip plus the
    * runtime `_file` group filter reduce the replaced set to exactly
    * the containers holding a matching row; everything else stays
    * byte-identical (RowLevelSqlSpec pins mtime+bytes and the
    * match-nothing no-op). Oracle: the surviving relation. */
  def qSqlDeleteFleet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "delete")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey < 100")
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 MERGE-ON-READ SQL DELETE + UPDATE — the deletion-vector
    * regime (`spark.graft.rowLevelMode = merge-on-read`,
    * [[graft.sources.AvroFleetDeltaOperation]]): the DELETE's
    * predicate hits rows SCATTERED across every staged file — the
    * copy-on-write worst case (every file rewrites) — yet lands as
    * per-file position vectors in one manifest commit with ZERO data
    * files touched; the UPDATE vectors its pre-images and appends one
    * post-image file (delete + reinsert). MorRowLevelSpec pins the
    * byte-identical staging, vector merging, COW interop, and
    * match-nothing no-op; at 100 TB this is "redact these 10k
    * user-ids from a petabyte" costing kilobytes of sidecar instead
    * of a table rewrite. Oracle: the surviving mutated relation. */
  def qSqlDeleteFleetMor(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "mor")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 13 = 5")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 250.0, 4)
        |WHERE c_custkey % 13 = 6""".stripMargin)
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §2.A DV-AWARE METADATA AGGREGATE TIER (r17, the r16 verdict's
    * #5): a merge-on-read DELETE scoped to a mid-range key band binds
    * vectors on the band's files ONLY (the range-laid staging keeps
    * extent pruning exact), after which the ungrouped aggregate still
    * answers from sidecars — COUNT(*) corrects by the vectors' total
    * positions, and MIN/MAX stand because some file ATTAINING each
    * extremum carries no vector (deleting rows elsewhere can only
    * remove candidates). FleetDvSpec pins the tier choice both ways
    * (a vectored extremum file declines to the row path); this row
    * pins the VALUES against the oracle. At 100 TB: `SELECT min, max,
    * count` on a petabyte fleet that just had a redaction pass stays
    * a zero-task metadata read. */
  def qFleetAggMorMinmax(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "morminmax")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey >= 300 AND c_custkey < 400")
    // r18: a second DELETE vectors the MAX-ATTAINING file itself, with
    // values strictly below the extremum — the binding's captured
    // deleted-value stats (FleetManifest.DvMeta) PROVE the max row
    // survived, so the metadata tier stands even here (pre-r18 any
    // vector on an attaining file declined to the row path). The
    // original max is untouched by both deletes, so the oracle can
    // state the band relative to max(c_custkey).
    val maxKey = s2.sql("SELECT max(c_custkey) FROM graft.cust")
      .head.getLong(0)
    s2.sql(s"""DELETE FROM graft.cust
      |WHERE c_custkey >= ${maxKey - 20} AND c_custkey < ${maxKey - 10}"""
      .stripMargin)
    s2.sql(
      """SELECT count(*) AS cnt, count(c_acctbal) AS cnt_bal,
        |  min(c_custkey) AS min_key,
        |  max(c_custkey) AS max_key, min(c_name) AS min_name,
        |  max(c_name) AS max_name
        |FROM graft.cust""".stripMargin)
  }

  /** §2.A GROUPED aggregate pushdown on a VECTORED fleet (r17): after
    * a scattered merge-on-read DELETE, `GROUP BY shard` still pushes —
    * vectored files decode their live rows in-task (positions skipped
    * per record), unvectored files resolve from their single-group
    * sidecar row without being opened. The oracle recomputes the
    * rollup from the mutated relation, so a stale sidecar leaking into
    * a vectored group, or a vector applied to the wrong file,
    * hash-mismatches. At 100 TB: the daily rollup over a
    * redaction-scarred fleet decodes only the touched files. */
  def qFleetAggMorGroup(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "morgroup", clustered = true)
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 10 = 4")
    s2.sql(
      """SELECT shard, count(*) AS cnt, min(c_custkey) AS min_key,
        |  max(c_custkey) AS max_key
        |FROM graft.cust GROUP BY shard ORDER BY shard""".stripMargin)
  }

  /** §1.1 WRITE-AUDIT-PUBLISH (r17, the r16 verdict's #6) — branches
    * as mutable refs over the manifest log: fork (`create_branch`),
    * stage a cleaning DELETE with `spark.graft.branch` set (commits
    * land on the branch's own version sequence; main readers resolve
    * main), AUDIT the staged state, publish with `fast_forward`
    * (strict — an intervening main commit conflicts loudly; the
    * staged generations adopt into main verbatim). The result carries
    * `main_rows_while_staged` — the count a MAIN reader saw while the
    * branch held the delete — so a leaked staging generation
    * hash-mismatches, not just the final state. CatalogSpec pins GC
    * pinning, the stale-fork conflict, and drop_branch release. At
    * 100 TB this is the Iceberg WAP loop: stage a risky pipeline
    * pass, validate, publish atomically or discard. */
  def qFleetWap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "wap")
    s2.sql("CALL graft.system.create_branch('cust', 'audit')")
    s2.conf.set("spark.graft.branch", "audit")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 11 = 2")
    // audit gate: the staged state is visible to the branch session…
    s2.conf.unset("spark.graft.branch")
    // …while a main reader still sees the pre-delete fleet
    val mainWhileStaged =
      s2.sql("SELECT count(*) FROM graft.cust").as[Long].head()
    s2.sql("CALL graft.system.fast_forward('cust', 'audit')")
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
      .withColumn("main_rows_while_staged", lit(mainWhileStaged))
  }

  /** §2.A TARGETED VECTOR MATERIALIZATION (r18) — `CALL
    * graft.system.purge_vectors`: after a scattered merge-on-read
    * DELETE vectors part of the staging, the purge rewrites ONLY the
    * vectored containers minus their vectors (one manifest swap,
    * bindings CAS'd and retired), leaving every unvectored file
    * byte-identical — the 0.1%-of-the-fleet alternative to a full
    * `rewrite_files` after a redaction pass (MorRowLevelSpec pins the
    * untouched bytes and the re-armed metadata tier). Oracle: the
    * surviving relation read back through the dense generation. */
  def qFleetPurgeVectors(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "purge")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey >= 200 AND c_custkey < 260")
    s2.sql("CALL graft.system.purge_vectors('cust', 16777216)")
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 PER-READ BRANCH ADDRESSING (r18, the r17 verdict's #3) —
    * `option("branch", name)`: a staged cleaning DELETE lands on the
    * fork, then ONE session compares main against the branch head in
    * ONE job (no `spark.graft.branch` flip, no second session — the
    * r17 audit recipe needed both). The output is the full MAIN
    * relation with an `in_branch` flag from the branch-side join, so
    * the oracle hash pins BOTH surfaces at once: a branch read leaking
    * main rows (or vice versa) flips flags and mismatches. At 100 TB
    * this is the write-audit-publish validation query itself: "what
    * exactly did the staged pass remove?" as one anti-joined scan. */
  def qFleetBranchRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "branchread")
    s2.sql("CALL graft.system.create_branch('cust', 'audit')")
    s2.conf.set("spark.graft.branch", "audit")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 11 = 2")
    s2.conf.unset("spark.graft.branch")
    val root = s2.conf.get("spark.sql.catalog.graft.root")
    val fleet = s"$root/cust.avro"
    val mainDf = s2.read.format("graft-avro").load(fleet)
    val branchKeys = s2.read.format("graft-avro")
      .option("branch", "audit").load(fleet)
      .select($"c_custkey").withColumn("_hit", lit(1L))
    mainDf.join(branchKeys, Seq("c_custkey"), "left")
      .select($"c_custkey", $"c_name",
        round($"c_acctbal", 4).as("c_acctbal"),
        coalesce($"_hit", lit(0L)).as("in_branch"))
      .orderBy($"c_custkey")
  }

  /** §1.1 SERIALIZABLE isolation end-to-end (r18, the r17 verdict's
    * #2): a merge-on-read DELETE under `spark.graft.isolation =
    * serializable` — the commit pins the scan's fleet version, so ANY
    * concurrent commit would conflict loudly (write-skew protection;
    * MorRowLevelSpec interleaves the conflict); this row pins the
    * UNCONTENDED path's values against the oracle, proving the mode
    * costs nothing when nothing races. */
  def qSqlDeleteSerializable(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "serial")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.conf.set("spark.graft.isolation", "serializable")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 9 = 1")
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 METADATA-ONLY SQL DELETE — the zero-rewrite regime: the
    * fleet is staged `clusterBy(shard)` (shard = c_custkey % 8, one
    * shard value per file, sidecar min==max), so `DELETE ... WHERE
    * shard = 3` is fully extent-DECIDABLE: Spark's
    * OptimizeMetadataOnlyDeleteFromTable sees `canDeleteWhere = true`
    * and the whole command is ONE manifest commit retiring the
    * dropped files — zero tasks, zero rewrite, zero unlinks
    * (RowLevelSqlSpec pins every data file byte-identical; the
    * retired generation stays readable via `VERSION AS OF` until a
    * retention pass reclaims it). At 100 TB this is `DELETE WHERE
    * ts < retention` on a time-laid fleet: the expired prefix
    * retires in O(1) commits. Oracle: the surviving relation. */
  def qSqlDeleteFleetMeta(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "meta", clustered = true)
    s2.sql("DELETE FROM graft.cust WHERE shard = 3")
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 SQL `UPDATE` on a fleet — same COW path; only extent-hit
    * files rewrite, survivors in those files are carried over by the
    * MergeRows plan. Oracle: the conditional recompute. */
  def qSqlUpdateFleet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "update")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 500.0, 4)
        |WHERE c_custkey < 100""".stripMargin)
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 SQL `MERGE INTO` a fleet — the real three-clause MERGE
    * statement (matched-D / matched-U / not-matched-I) through the
    * same group-based COW machinery; the source feed mirrors
    * `q_crud_merge`'s so all three MERGE surfaces (DataFrame dataflow,
    * FleetMerge COW, SQL) share one oracle spelling. */
  def qSqlMergeFleet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "merge")
    s2.sql(
      """MERGE INTO graft.cust t
        |USING (SELECT c_custkey AS k, 'D' AS op,
        |         CAST(NULL AS STRING) AS new_name,
        |         CAST(NULL AS DOUBLE) AS new_bal
        |       FROM graft.cust WHERE c_custkey < 50
        |       UNION ALL
        |       SELECT c_custkey, 'U', c_name, round(c_acctbal * 2.0, 4)
        |       FROM graft.cust WHERE c_custkey >= 50 AND c_custkey < 150
        |       UNION ALL
        |       SELECT c_custkey + 200000, 'I',
        |         concat('Merged#', c_custkey), round(10.0, 4)
        |       FROM graft.cust WHERE c_custkey < 20) f
        |ON t.c_custkey = f.k
        |WHEN MATCHED AND f.op = 'D' THEN DELETE
        |WHEN MATCHED AND f.op = 'U' THEN
        |  UPDATE SET c_name = f.new_name, c_acctbal = f.new_bal
        |WHEN NOT MATCHED AND f.op = 'I' THEN
        |  INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (f.k, f.new_name, f.new_bal)""".stripMargin)
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §1.1 TIME TRAVEL over a transactional fleet — SQL `VERSION AS
    * OF` against the [[graft.sources.FleetManifest]] generation log:
    * the staged fleet is generation 1, the UPDATE's copy-on-write
    * commit is generation 2, and ONE query joins both snapshots to
    * emit each row's pre- and post-update balance. A leaked
    * generation swap (old+new files both visible) or a stale
    * snapshot resolution hash-mismatches immediately. At 100 TB this
    * is the audit/backfill read: "what did the table say before
    * yesterday's merge" with zero copies held. */
  def qSqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "timetravel")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 500.0, 4)
        |WHERE c_custkey < 100""".stripMargin)
    s2.sql(
      """SELECT cur.c_custkey, cur.c_name,
        |  v1.c_acctbal AS bal_v1, cur.c_acctbal AS bal_cur
        |FROM graft.cust cur
        |JOIN (SELECT c_custkey, c_acctbal
        |      FROM graft.cust VERSION AS OF 1) v1
        |  ON cur.c_custkey = v1.c_custkey
        |ORDER BY cur.c_custkey""".stripMargin)
  }

  /** §1.1 TAGS — time travel BY NAME: `CALL graft.system.create_tag`
    * pins the pre-mutation generation as `'baseline'`, a DELETE and a
    * retention pass (`expire_versions(keep_last=1)`) then try to
    * outrun it — and can't: tagged versions are pinned past keepLast,
    * so `VERSION AS OF 'baseline'` still reads the full pre-delete
    * fleet. This is the reproducible-training-snapshot primitive at
    * 100 TB ("run 14 trained on exactly tag corpus-v3"): the pin is a
    * NAME a retention policy respects, not a raw version number it
    * may GC. Oracle: the original (pre-delete) relation. */
  def qSqlTimeTravelTag(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "timetravel_tag")
    s2.sql("CALL graft.system.create_tag('cust', 'baseline', 1)")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 3 = 1")
    s2.sql("CALL graft.system.expire_versions('cust', 1)")
    s2.sql(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM graft.cust VERSION AS OF 'baseline'
        |ORDER BY c_custkey""".stripMargin)
  }

  /** §1.1 SNAPSHOT RETENTION — the GC that completes the manifest
    * story: a COW merge with `retainOld` leaves the pre-merge
    * generation readable, then `FleetCompact.expireVersions` keeps
    * only the newest version and unlinks the files ONLY expired
    * generations reference. The read-back oracle-checks the live
    * generation end-to-end, so a GC that deleted a still-referenced
    * file (or resurrected a retired one) fails on rows/hash. */
  def qFleetExpire(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false), "expire")
    val fleetDir = s"$root/cust.avro"
    val feed = customer(s, dir).filter($"c_custkey" < 100)
      .select($"c_custkey".as("k")).distinct()
    graft.sources.FleetMerge.mergeCow(s, fleetDir, "c_custkey", feed,
      touched => touched.withColumn("c_acctbal",
        when($"c_custkey" < 100, round($"c_acctbal" * 2.0, 4))
          .otherwise($"c_acctbal")),
      retainOld = true)
    graft.sources.FleetCompact.expireVersions(s, fleetDir, keepLast = 1)
    s.read.format("graft-avro").load(fleetDir).orderBy($"c_custkey")
  }

  /** §1.1 ROLLBACK as a SQL verb — `CALL graft.system.restore`
    * ([[graft.sources.GraftProcedures]]): a DELETE lands as
    * generation 2, then restore(1) commits generation 3 whose file
    * list IS generation 1's — rollback-by-advance, so the mistake AND
    * its correction are both versioned history and nothing is ever
    * deleted by the verb itself. The read-back oracle-checks the
    * restored fleet against the ORIGINAL relation: a restore that
    * resurrects the wrong generation, loses a file, or leaks the
    * deleted state hash-mismatches. At 100 TB this is the operator's
    * "undo yesterday's bad backfill" — one manifest commit, zero data
    * movement. */
  def qSqlRestore(s: SparkSession, dir: String): DataFrame = {
    val s2 = stagedFleetSession(s, dir, "restore")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey < 100")
    s2.sql("CALL graft.system.restore('cust', 1)").collect()
    s2.sql("SELECT * FROM graft.cust ORDER BY c_custkey")
  }

  /** §2.A CHANGE DATA FEED — `FleetCDC.changes(from, to)`: net row
    * changes between two manifest generations as a manifest DIFF. The
    * clustered staging makes the feed exactly predictable: a
    * metadata-only DELETE retires the shard-3 file (pure 'delete'
    * pre-image), a COW UPDATE swaps the shard-5 file ('delete'
    * pre-image + 'insert' post-image), and untouched shards appear on
    * neither side — the oracle spells the same three sets in SQL, so
    * a diff that reads an untouched file, misses a retired one, or
    * mislabels a side hash-mismatches. At 100 TB: "what changed since
    * version N" costs the changed bytes (driver holds only the file-
    * name DELTA; both reads are ordinary pruned fleet scans). */
  def qFleetChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = true), "changes")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("DELETE FROM graft.cust WHERE shard = 3")   // v2: metadata-only
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE shard = 5""".stripMargin)               // v3: COW rewrite
    graft.sources.FleetCDC.changes(s2, s"$root/cust.avro", 1L, 3L)
      .orderBy($"_change_type", $"c_custkey")
  }

  /** §2.A DECLARATIVE BATCH CHANGE RANGE (r19) — the audit spelling
    * "what changed between v1 and v3" from plain `spark.read`:
    * `readChangeFeed` + `startingVersion` + `endingVersion`, planned
    * as EXACTLY the partitions the streaming feed plans for the same
    * span (one shared implementation). NOTE `startingVersion` is an
    * EXCLUSIVE floor here — the range is the endpoint diff
    * snapshot(start)→snapshot(end), consistent with this repo's
    * streaming convention but OPPOSITE to Delta Lake's inclusive
    * batch-CDF `startingVersion` (README options table calls this
    * out; Delta migrants pass N-1). The staging adds a v4 DELETE
    * the bounded range must EXCLUDE — an unbounded read (the default
    * `endingVersion` = head) would leak shard 6's delete images into
    * the hash. Oracle: identical to `q_fleet_changes` (the
    * programmatic twin over v1..v3). */
  def qFleetChangesRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = true),
      "changes_range")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("DELETE FROM graft.cust WHERE shard = 3")   // v2
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE shard = 5""".stripMargin)               // v3
    s2.sql("DELETE FROM graft.cust WHERE shard = 6")   // v4 — excluded
    s2.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("endingVersion", "3")
      .load(s"$root/cust.avro")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"shard",
        $"_change_type")
      .orderBy($"_change_type", $"c_custkey")
  }

  /** §2.A ROW-IDENTITY CHANGE FEED — `FleetCDC.changesKeyed` on the
    * hard staging the file-granular feed avoids: an UNCLUSTERED
    * (range-partitioned) fleet where a scattered UPDATE rewrites
    * every file, so the raw diff is ~2× the table in carried-over
    * survivor images. The keyed feed reconciles pre/post images on
    * the primary key and emits ONLY net changes: the range-DELETEd
    * keys as `delete`, the updated keys as `update_preimage` +
    * `update_postimage`, and not one survivor row. The oracle spells
    * the same three sets from the base relation, so a missed
    * suppression (survivors leaking through), a dropped real change
    * (over-suppression), or a mislabeled side hash-mismatches. At
    * 100 TB: both join sides are the manifest delta, shuffled once on
    * the key — suppressed survivors never leave the join. */
  def qFleetChangesKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false),
      "changes_keyed")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey <= 50")        // v2
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE c_custkey % 100 = 7""".stripMargin)                // v3
    graft.sources.FleetCDC.changesKeyed(s2, s"$root/cust.avro", 1L, 3L,
      keyCols = Seq("c_custkey"))
      .orderBy($"c_custkey", $"_change_type")
  }

  /** §2.A DECLARATIVE KEYED BATCH RANGE (r19) — `spark.read` +
    * `readChangeFeed` + `cdcKeyCols` + a version range: net PER-KEY
    * changes from plain DataFrame code, completing the declarative
    * matrix ({file-granular, keyed} × {batch, stream}). Served by the
    * provider's V1 relation through DataFrameReader's documented
    * fallback (the keyed table declares no BATCH_READ — netting is a
    * JOIN no scan expresses), sharing the one `changesKeyed`
    * implementation with the programmatic API. Staging mirrors
    * `q_fleet_changes_keyed` and adds a v4 DELETE the
    * `endingVersion = 3` bound must EXCLUDE; the oracle is the keyed
    * twin's, so a leaked v4 image or a netting drift hash-fails. */
  def qFleetChangesRangeKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false),
      "changes_range_keyed")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey <= 50")        // v2
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE c_custkey % 100 = 7""".stripMargin)                // v3
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 100 = 13")   // v4
    s2.read.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "c_custkey")
      .option("startingVersion", "1")
      .option("endingVersion", "3")
      .load(s"$root/cust.avro")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"_change_type")
      .orderBy($"c_custkey", $"_change_type")
  }

  /** §2.A STREAMING CHANGE FEED — the change feed as a structured-
    * streaming SOURCE (`readStream.option("readChangeFeed", "true")`,
    * [[graft.sources.AvroFleetCdcMicroBatchStream]]): offsets are
    * manifest VERSIONS (one long — exact resume, no seen-file state),
    * each micro-batch the net file diff of the committed range,
    * rows tagged `_change_type`. Staging mirrors `q_fleet_changes`
    * (metadata DELETE + COW UPDATE on the clustered fleet), the
    * stream drains from `startingVersion=1` with AvailableNow into a
    * per-batch fleet, and the read-back must equal the BATCH diff of
    * the same range — so a dropped generation, a double-fed file, or
    * a mis-tagged side hash-mismatches against the same oracle. At
    * 100 TB: each trigger moves O(changed bytes); the offset log
    * stays O(1) per batch forever. */
  def qFleetChangesStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = true),
      "changes_stream")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2.sql("DELETE FROM graft.cust WHERE shard = 3")   // v2: metadata-only
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE shard = 5""".stripMargin)               // v3: COW rewrite
    // fresh checkpoint + sink per invocation (a warm lap must replay,
    // not no-op against yesterday's offsets); Hadoop FS delete — a
    // java.io delete leaves .crc ghosts the commit log trips over
    val out = s"$root/cdc_batches"
    // RAM-backed when available: a fresh-per-invocation AvailableNow
    // drain's offset/commit logs are pure scratch (Scratch.ephemeralDir)
    val ckpt = graft.util.Scratch.ephemeralDir("cdc_ckpt", unique = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    Seq(out, ckpt).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    val q = s2.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(s"$root/cust.avro")
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        b.write.format("graft-avro").option("codec", "deflate-1")
          .mode("overwrite").save(s"$out/batch_$batchId.avro")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batchDirs = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    batchDirs.map(p => s.read.format("graft-avro").load(p))
      .reduce(_ unionByName _)
      .orderBy($"_change_type", $"c_custkey")
  }

  /** §2.A KEYED STREAMING CHANGE FEED (r17, the r16 verdict's #4) —
    * the `readChangeFeed` stream composed with
    * [[graft.sources.FleetCDC.reconcileKeyed]] per micro-batch: each
    * batch is a net endpoint diff (exactly the batch feed's shape), so
    * the same keyed reconciliation that serves `changesKeyed` turns a
    * COW rewrite's file-granular pre+post images into the net per-key
    * changes a downstream streaming MERGE consumer wants — survivors
    * suppressed, updates as pre/post pairs — with exactly-once
    * hand-off riding the stream's version offsets. Staging mirrors
    * `q_fleet_changes_keyed` (UNclustered fleet, scattered UPDATE
    * rewriting every file), so an unsuppressed survivor, a dropped
    * change, or a mislabeled side hash-mismatches against the same
    * oracle. At 100 TB: each trigger joins only the span's changed
    * bytes on the key — the 1M-row file rewritten for 10 changed rows
    * feeds 20 images into the per-batch join and 20 rows out. */
  def qFleetChangesStreamKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false),
      "changes_stream_keyed")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey <= 50")        // v2
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE c_custkey % 100 = 7""".stripMargin)                // v3
    val out = s"$root/cdck_net.avro"
    val ckpt = graft.util.Scratch.ephemeralDir("cdck_ckpt", unique = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    Seq(out, ckpt).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    // r18: the DECLARATIVE spelling — `option("cdcKeyCols", ...)`
    // reconciles per micro-batch INSIDE the source (the V1 fallback
    // path; FleetStreamSpec pins parity with the foreachBatch +
    // reconcileKeyed recipe it replaces), so a PLAIN writeStream sink
    // consumes net per-key changes directly
    val q = s2.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "c_custkey")
      .option("startingVersion", "1")
      .load(s"$root/cust.avro")
      .writeStream.format("graft-avro")
      .option("path", out)
      .option("codec", "deflate-1")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.format("graft-avro").load(out)
      .orderBy($"c_custkey", $"_change_type")
  }

  /** §2.I STREAMING UPSERT SINK (r19, the r18 verdict's #2) —
    * fleet→fleet replication with NO foreachBatch anywhere: the source
    * fleet takes a merge-on-read DELETE and UPDATE, its keyed change
    * feed replays the full history (`startingVersion = 0`) in BOUNDED
    * steps (`maxVersionsPerTrigger = 1` — this row also pins the r19
    * admission control end-to-end), and `option("cdcApplyKeyCols")`
    * applies each micro-batch of net change images to a FRESH target
    * fleet as one atomic MOR MERGE (deletes → vector positions,
    * upserts → appended post-images). Output: the TARGET's relation —
    * the oracle is the same mutations applied relationally, so the
    * hash pins batch-MERGE parity of the whole replication loop. At
    * 100 TB this is the CDC mirror: per-batch cost tracks changed
    * rows, the target converges through restores, and a crashed
    * consumer resumes exactly from manifest-version offsets. */
  def qFleetReplicate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "replicate")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 13 = 5")     // v2
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 100.0, 4)
        |WHERE c_custkey % 17 = 3""".stripMargin)                 // v3
    val root = s2.conf.get("spark.sql.catalog.graft.root")
    val dst = s"$root/cust_replica.avro"
    val ckpt = s"$root/replica_ckpt"
    val q = s2.readStream.format("graft-avro")
      .option("readChangeFeed", "true")
      .option("cdcKeyCols", "c_custkey")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(s"$root/cust.avro")
      .writeStream.format("graft-avro")
      .option("cdcApplyKeyCols", "c_custkey")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    s2.read.format("graft-avro").load(dst)
      .select($"c_custkey", $"c_name",
        round($"c_acctbal", 4).as("c_acctbal"))
      .orderBy($"c_custkey")
  }

  /** §2.A WRITER IDEMPOTENCE (r19) — the `txnAppId`/`txnVersion`
    * token pair on a fleet batch write: an orchestrator that re-runs
    * a job whose previous attempt already committed (driver death
    * between manifest commit and the scheduler's ack — the classic
    * retry hole) lands AT MOST ONCE. The manifest carries a per-appId
    * ledger prop (`txn:<appId>` → max committed version), inherited
    * across commits like the schema prop and checked inside the
    * commit protocol's own retry loop, so the guarantee holds under
    * concurrent committers; a skipped replay reaps its staged files.
    * This row replays BOTH appends and pins that neither doubled:
    * the oracle is each slice exactly once. At 100 TB this is what
    * lets Airflow-style `retries: 3` be safe on ingest jobs. */
  def qFleetIdempotentWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "txnwrite")
    val root = s2.conf.get("spark.sql.catalog.graft.root")
    val fleet = s"$root/cust.avro"
    def slice(lo: Int, hi: Int): DataFrame = customer(s2, dir)
      .filter($"c_custkey" >= lo && $"c_custkey" < hi)
      .select(($"c_custkey" + 100000L).as("c_custkey"),
        concat(lit("replay-"), $"c_name").as("c_name"),
        r4($"c_acctbal").as("c_acctbal"))
    def append(df: DataFrame, v: Long): Unit =
      df.coalesce(1).write.format("graft-avro").mode("append")
        .option("txnAppId", "ingest").option("txnVersion", v.toString)
        .save(fleet)
    append(slice(1, 50), 1L)
    append(slice(1, 50), 1L)   // replay — the ledger skips it
    append(slice(50, 80), 2L)
    append(slice(50, 80), 2L)  // replay — skipped
    s2.read.format("graft-avro").load(fleet)
      .select($"c_custkey", $"c_name",
        round($"c_acctbal", 4).as("c_acctbal"))
      .orderBy($"c_custkey")
  }

  /** §2.A WRITE-TIME CHECK CONSTRAINT (r19) — `CALL add_check` then
    * enforcement across write paths ([[graft.sources.FleetChecks]]):
    * the constraint validates at ADD time against the existing rows,
    * then a VIOLATING append fails whole (codegen'd per-row predicate
    * inside the task write loop — no extra pass, no shuffle) and a
    * passing append lands. The oracle is the base plus the passing
    * slice exactly once: a silently-landed violating row or a
    * silently-dropped passing one both break the hash. At 100 TB this
    * is the ingest quality gate — bad batches fail loudly at the
    * writer instead of poisoning downstream consumers. */
  def qFleetCheckConstraint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "checkcon")
    s2.sql("CALL graft.system.add_check('cust', 'key_positive', " +
      "'c_custkey >= 0')").collect()
    val root = s2.conf.get("spark.sql.catalog.graft.root")
    val fleet = s"$root/cust.avro"
    val bad = customer(s2, dir).filter($"c_custkey" < 40)
      .select((-$"c_custkey" - 1L).as("c_custkey"), $"c_name",
        r4($"c_acctbal").as("c_acctbal"))
    val failed =
      try {
        bad.coalesce(1).write.format("graft-avro").mode("append")
          .save(fleet)
        false
      } catch {
        case e: Throwable => Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(
            _.contains("key_positive")))
      }
    require(failed, "CHECK constraint did not enforce on the append")
    customer(s2, dir).filter($"c_custkey" < 40)
      .select(($"c_custkey" + 200000L).as("c_custkey"), $"c_name",
        r4($"c_acctbal").as("c_acctbal"))
      .coalesce(1).write.format("graft-avro").mode("append").save(fleet)
    s2.read.format("graft-avro").load(fleet)
      .select($"c_custkey", $"c_name",
        round($"c_acctbal", 4).as("c_acctbal"))
      .orderBy($"c_custkey")
  }

  /** §2.A ZERO-COPY CLONE (r19) — `CALL clone`: an independent
    * hard-linked copy of the current generation (O(files) metadata
    * ops, zero bytes on a local filesystem; safe because committed
    * fleet files are immutable). This row pins BOTH carry and
    * independence: the source takes a merge-on-read DELETE first (the
    * clone must carry the vector binding + manifest meta), then the
    * source mutates AGAIN after cloning (the clone must not move).
    * Oracle: the source as of the clone instant. */
  def qFleetClone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s2 = stagedFleetSession(s, dir, "clonerow")
    s2.conf.set("spark.graft.rowLevelMode", "merge-on-read")
    s2.sql("DELETE FROM graft.cust WHERE c_custkey % 11 = 7")
    // rerun hygiene (Bench runs each query thrice in one process):
    // the staged SOURCE resets per run, the clone target must too
    val cloneDir = new org.apache.hadoop.fs.Path(
      s2.conf.get("spark.sql.catalog.graft.root") + "/cust_clone.avro")
    cloneDir.getFileSystem(s2.sessionState.newHadoopConf())
      .delete(cloneDir, true)
    s2.sql("CALL graft.system.clone('cust', 'cust_clone')").collect()
    s2.sql("DELETE FROM graft.cust WHERE c_custkey < 100")
    s2.sql(
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM graft.cust_clone ORDER BY c_custkey""".stripMargin)
  }

  /** §2.A INCREMENTAL MATERIALIZED VIEW — `FleetMV` riding the change
    * feed: a per-shard count/sum rollup is built once, the base fleet
    * then takes a metadata DELETE and a COW UPDATE, and `refresh`
    * folds ONLY the manifest diff into the stored groups (a signed
    * union-aggregate; the fully-deleted shard's cnt reaches 0 and
    * drops out). The oracle recomputes the rollup cold from the
    * mutated relation, so an incremental fold that misses a delta
    * file, double-counts a rewrite, or resurrects a dropped group
    * hash-mismatches. At 100 TB this is "maintain the revenue rollup"
    * at the cost of the day's changed bytes, never a source re-scan
    * (the spec pins changedFiles to the touched shards). */
  def qFleetMv(s: SparkSession, dir: String): DataFrame = {
    val root = cloneFleet(s, goldenDir(s, dir, clustered = true), "mv")
    val fleetDir = s"$root/cust.avro"
    val viewDir = s"$root/cust_by_shard.avro"
    graft.sources.FleetMV.create(s, fleetDir, viewDir,
      keys = Seq("shard"), sumCols = Seq("c_acctbal"))
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql("DELETE FROM graft.cust WHERE shard = 3")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal * 2.0, 4)
        |WHERE shard = 5""".stripMargin)
    graft.sources.FleetMV.refresh(s, fleetDir, viewDir,
      keys = Seq("shard"), sumCols = Seq("c_acctbal"))
    s.read.format("graft-avro").load(viewDir)
      .select(col("shard"), col("cnt"),
        round(col("sum_c_acctbal"), 4).as("sum_bal"))
      .orderBy(col("shard"))
  }

  /** §2.A MV with MIN/MAX — the extremum-maintenance extension of
    * `q_fleet_mv`: the per-shard rollup stores min/max balance
    * sidecar-style in the view, a COW DELETE then removes the
    * top-balance rows of THREE shards (exactly those groups lose
    * their stored MAX → the recompute rule fires scoped to them via a
    * broadcast key join the fleet scan sees as a runtime filter — and
    * because the staging is CLUSTERED by shard, the delete's COW
    * rewrite touches only those shards' files, the 100 TB shape:
    * affected groups pay, untouched groups and files don't), and an
    * INSERT adds new minima to a shard the delete never touched (the
    * pure no-rescan fold path: `least(stored, insert_min)`). The
    * oracle recomputes the rollup cold from the mutated relation, so
    * a missed recompute (stale max), an over-eager fold (max from a
    * deleted row), or a wrong insert fold hash-mismatches. */
  def qFleetMvMinmax(s: SparkSession, dir: String): DataFrame = {
    val root = cloneFleet(s, goldenDir(s, dir, clustered = true),
      "mv_minmax")
    val fleetDir = s"$root/cust.avro"
    val viewDir = s"$root/cust_mm.avro"
    graft.sources.FleetMV.create(s, fleetDir, viewDir,
      keys = Seq("shard"), sumCols = Seq("c_acctbal"),
      minMaxCols = Seq("c_acctbal"))
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql(
      "DELETE FROM graft.cust WHERE c_acctbal > 9000 AND shard IN (0, 1, 2)")
    s2.sql(
      """INSERT INTO graft.cust
        |SELECT c_custkey + 200000, c_name,
        |  round(c_acctbal - 20000, 4), shard
        |FROM graft.cust WHERE shard = 4""".stripMargin)
    graft.sources.FleetMV.refresh(s, fleetDir, viewDir,
      keys = Seq("shard"), sumCols = Seq("c_acctbal"),
      minMaxCols = Seq("c_acctbal"))
    s.read.format("graft-avro").load(viewDir)
      .select(col("shard"), col("cnt"),
        round(col("sum_c_acctbal"), 4).as("sum_bal"),
        round(col("min_c_acctbal"), 4).as("min_bal"),
        round(col("max_c_acctbal"), 4).as("max_bal"))
      .orderBy(col("shard"))
  }

  /** §1.1 TIMESTAMP-based time travel — the calendar spelling of the
    * audit read: every manifest commit stamps its wall-clock into the
    * snapshot's own `commit.ts` property
    * ([[graft.sources.FleetManifest.CommitTsProp]] — durable across a
    * fleet copy/migration, unlike the version file's mtime), and
    * `TIMESTAMP AS OF` binds to the newest generation committed at or
    * before the instant. The staging re-stamps the two generations'
    * commit.ts to fixed epochs so the oracle is deterministic: a
    * query AS OF between them must see the pre-UPDATE fleet
    * exactly. */
  def qSqlTimeTravelTs(s: SparkSession, dir: String): DataFrame = {
    val root = cloneFleet(s, goldenDir(s, dir, clustered = false),
      "timetravel_ts")
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", root)
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.sql(
      """UPDATE graft.cust SET c_acctbal = round(c_acctbal + 500.0, 4)
        |WHERE c_custkey < 100""".stripMargin)           // v2
    val t1 = 1000000000000L
    val t2 = t1 + 100000L
    val fleetP = new org.apache.hadoop.fs.Path(s"$root/cust.avro")
    val fs = fleetP.getFileSystem(s.sessionState.newHadoopConf())
    graft.sources.FleetManifest.versions(fs, fleetP).foreach { v =>
      graft.sources.FleetManifest.restampCommitTs(fs, fleetP, v,
        if (v <= 1) t1 else t2)
    }
    s2.sql(
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM graft.cust TIMESTAMP AS OF timestamp_millis(${t1 + 50000}L)
         |ORDER BY c_custkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_restore" -> qSqlRestore _,
    "q_fleet_changes" -> qFleetChanges _,
    "q_fleet_changes_range" -> qFleetChangesRange _,
    "q_fleet_changes_keyed" -> qFleetChangesKeyed _,
    "q_fleet_changes_range_keyed" -> qFleetChangesRangeKeyed _,
    "q_fleet_changes_stream" -> qFleetChangesStream _,
    "q_fleet_changes_stream_keyed" -> qFleetChangesStreamKeyed _,
    "q_fleet_mv" -> qFleetMv _,
    "q_fleet_mv_minmax" -> qFleetMvMinmax _,
    "q_sql_timetravel_ts" -> qSqlTimeTravelTs _,
    "q_crud_update" -> qCrudUpdate _,
    "q_crud_delete" -> qCrudDelete _,
    "q_crud_upsert" -> qCrudUpsert _,
    "q_crud_merge" -> qCrudMerge _,
    "q_crud_merge_fleet" -> qCrudMergeFleet _,
    "q_sql_delete_fleet" -> qSqlDeleteFleet _,
    "q_sql_delete_fleet_meta" -> qSqlDeleteFleetMeta _,
    "q_sql_delete_fleet_mor" -> qSqlDeleteFleetMor _,
    "q_fleet_agg_mor_minmax" -> qFleetAggMorMinmax _,
    "q_fleet_wap" -> qFleetWap _,
    "q_fleet_branch_read" -> qFleetBranchRead _,
    "q_fleet_purge_vectors" -> qFleetPurgeVectors _,
    "q_fleet_replicate" -> qFleetReplicate _,
    "q_fleet_idempotent_write" -> qFleetIdempotentWrite _,
    "q_fleet_check_constraint" -> qFleetCheckConstraint _,
    "q_fleet_clone" -> qFleetClone _,
    "q_sql_delete_serializable" -> qSqlDeleteSerializable _,
    "q_fleet_agg_mor_group" -> qFleetAggMorGroup _,
    "q_sql_update_fleet" -> qSqlUpdateFleet _,
    "q_sql_merge_fleet" -> qSqlMergeFleet _,
    "q_sql_timetravel" -> qSqlTimeTravel _,
    "q_sql_timetravel_tag" -> qSqlTimeTravelTag _,
    "q_fleet_expire" -> qFleetExpire _,
    "q_cdc_scd2" -> qCdcScd2 _
  )

  val oracleSql: Map[String, String] = Map(
    "q_fleet_changes" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |    c_custkey % 8 AS shard
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, shard,
        |  'delete' AS _change_type
        |FROM base WHERE shard IN (3, 5)
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4), shard,
        |  'insert'
        |FROM base WHERE shard = 5
        |ORDER BY _change_type, c_custkey""".stripMargin,
    // the declarative bounded range v1..v3 == the programmatic twin;
    // the staged v4 delete must NOT appear
    "q_fleet_changes_range" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |    c_custkey % 8 AS shard
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, shard,
        |  'delete' AS _change_type
        |FROM base WHERE shard IN (3, 5)
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4), shard,
        |  'insert'
        |FROM base WHERE shard = 5
        |ORDER BY _change_type, c_custkey""".stripMargin,
    "q_fleet_changes_stream" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |    c_custkey % 8 AS shard
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, shard,
        |  'delete' AS _change_type
        |FROM base WHERE shard IN (3, 5)
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4), shard,
        |  'insert'
        |FROM base WHERE shard = 5
        |ORDER BY _change_type, c_custkey""".stripMargin,
    "q_fleet_changes_keyed" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal,
        |  'delete' AS _change_type
        |FROM base WHERE c_custkey <= 50
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'update_preimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4),
        |  'update_postimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |ORDER BY c_custkey, _change_type""".stripMargin,
    // the declarative keyed range over the same staging, bounded at
    // v3 — the staged v4 delete must NOT appear
    "q_fleet_changes_range_keyed" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal,
        |  'delete' AS _change_type
        |FROM base WHERE c_custkey <= 50
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'update_preimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4),
        |  'update_postimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |ORDER BY c_custkey, _change_type""".stripMargin,
    // the streaming twin reconciles the SAME staging per micro-batch —
    // one AvailableNow drain covers the whole v1..v3 span, so the net
    // keyed changes equal the batch feed's
    "q_fleet_changes_stream_keyed" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal,
        |  'delete' AS _change_type
        |FROM base WHERE c_custkey <= 50
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'update_preimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |UNION ALL
        |SELECT c_custkey, c_name, round(c_acctbal * 2.0, 4),
        |  'update_postimage'
        |FROM base WHERE c_custkey > 50 AND c_custkey % 100 = 7
        |ORDER BY c_custkey, _change_type""".stripMargin,
    "q_sql_restore" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_timetravel_ts" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_fleet_mv_minmax" ->
      """WITH base AS (
        |  SELECT c_name, round(c_acctbal, 4) AS bal,
        |    c_custkey % 8 AS shard
        |  FROM customer),
        |kept AS (SELECT bal, shard FROM base
        |  WHERE bal <= 9000 OR shard NOT IN (0, 1, 2)),
        |ins AS (
        |  SELECT round(bal - 20000, 4) AS bal, shard
        |  FROM kept WHERE shard = 4),
        |allr AS (
        |  SELECT bal, shard FROM kept
        |  UNION ALL SELECT bal, shard FROM ins)
        |SELECT shard, count(*) AS cnt, round(sum(bal), 4) AS sum_bal,
        |  round(min(bal), 4) AS min_bal, round(max(bal), 4) AS max_bal
        |FROM allr GROUP BY shard
        |ORDER BY shard""".stripMargin,
    "q_fleet_mv" ->
      """WITH base AS (
        |  SELECT round(c_acctbal, 4) AS bal, c_custkey % 8 AS shard
        |  FROM customer),
        |mut AS (
        |  SELECT shard,
        |    CASE WHEN shard = 5 THEN round(bal * 2.0, 4) ELSE bal END
        |      AS bal
        |  FROM base WHERE shard <> 3)
        |SELECT shard, count(*) AS cnt, round(sum(bal), 4) AS sum_bal
        |FROM mut GROUP BY shard ORDER BY shard""".stripMargin,
    "q_crud_update" ->
      """SELECT o_orderkey,
        |  o_totalprice AS old_price,
        |  round(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
        |        ELSE o_totalprice END, 4) AS new_price,
        |  o_orderstatus = 'O' AS changed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_crud_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE NOT (o_orderstatus = 'F')
        |ORDER BY o_orderkey""".stripMargin,
    "q_crud_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |    0 AS is_update
        |  FROM customer),
        |updates AS (
        |  SELECT c_custkey, c_name, round(c_acctbal + 500.0, 4) AS c_acctbal,
        |    1 AS is_update
        |  FROM customer WHERE c_custkey < 100
        |  UNION ALL
        |  SELECT c_custkey + 100000, 'New#' || c_custkey, round(0.0, 4),
        |    1 AS is_update
        |  FROM customer WHERE c_custkey < 5)
        |SELECT c_custkey, c_name, c_acctbal, is_update = 1 AS was_upserted
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY c_custkey ORDER BY is_update DESC) AS rn
        |      FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
        |WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin,
    "q_crud_merge" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer),
        |feed AS (
        |  SELECT c_custkey AS k, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS new_name, CAST(NULL AS DOUBLE) AS new_bal
        |  FROM customer WHERE c_custkey < 50
        |  UNION ALL
        |  SELECT c_custkey, 'U', c_name, round(c_acctbal * 2.0, 4)
        |  FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
        |  UNION ALL
        |  SELECT c_custkey + 200000, 'I', 'Merged#' || c_custkey, round(10.0, 4)
        |  FROM customer WHERE c_custkey < 20)
        |SELECT coalesce(b.c_custkey, f.k) AS c_custkey,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_name
        |       WHEN b.c_custkey IS NULL THEN f.new_name
        |       ELSE b.c_name END AS c_name,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_bal
        |       WHEN b.c_custkey IS NULL THEN f.new_bal
        |       ELSE b.c_acctbal END AS c_acctbal,
        |  CASE WHEN b.c_custkey IS NULL THEN 'inserted'
        |       WHEN f.op = 'U' THEN 'updated'
        |       ELSE 'kept' END AS action
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.k
        |WHERE (b.c_custkey IS NULL OR f.op IS NULL OR f.op <> 'D')
        |  AND (b.c_custkey IS NOT NULL OR f.op = 'I')
        |ORDER BY c_custkey""".stripMargin,
    // SQL row-level verbs: layout-invariant — oracles are the final
    // states over the staged (r4-rounded) fleet content
    "q_sql_delete_fleet" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer WHERE c_custkey >= 100
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_delete_fleet_meta" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |  c_custkey % 8 AS shard
        |FROM customer WHERE c_custkey % 8 <> 3
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_delete_fleet_mor" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 13 = 6
        |    THEN round(round(c_acctbal, 4) + 250.0, 4)
        |    ELSE round(c_acctbal, 4) END AS c_acctbal
        |FROM customer WHERE c_custkey % 13 <> 5
        |ORDER BY c_custkey""".stripMargin,
    "q_fleet_agg_mor_minmax" ->
      """SELECT count(*) AS cnt, count(c_acctbal) AS cnt_bal,
        |  min(c_custkey) AS min_key,
        |  max(c_custkey) AS max_key, min(c_name) AS min_name,
        |  max(c_name) AS max_name
        |FROM customer
        |WHERE NOT (c_custkey >= 300 AND c_custkey < 400)
        |  AND NOT (c_custkey >= (SELECT max(c_custkey) FROM customer) - 20
        |           AND c_custkey < (SELECT max(c_custkey) FROM customer) - 10)
        |""".stripMargin,
    "q_fleet_agg_mor_group" ->
      """SELECT c_custkey % 8 AS shard, count(*) AS cnt,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer WHERE c_custkey % 10 <> 4
        |GROUP BY 1 ORDER BY shard""".stripMargin,
    // WAP: the published relation, plus the count a MAIN reader saw
    // while the branch still held the staged delete (the whole table —
    // isolation is hash-pinned, not just asserted in a spec)
    "q_fleet_wap" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |  (SELECT count(*) FROM customer) AS main_rows_while_staged
        |FROM customer WHERE c_custkey % 11 <> 2
        |ORDER BY c_custkey""".stripMargin,
    // per-read branch compare: main relation flagged by branch
    // membership — the staged DELETE removed exactly custkey % 11 = 2
    "q_fleet_branch_read" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal,
        |  CAST(CASE WHEN c_custkey % 11 = 2 THEN 0 ELSE 1 END AS BIGINT)
        |    AS in_branch
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sql_delete_serializable" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer WHERE c_custkey % 9 <> 1
        |ORDER BY c_custkey""".stripMargin,
    "q_fleet_purge_vectors" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer
        |WHERE NOT (c_custkey >= 200 AND c_custkey < 260)
        |ORDER BY c_custkey""".stripMargin,
    // streaming replication parity: the TARGET fleet after the keyed
    // feed's full-history replay applies through the MOR MERGE sink ==
    // the same mutations applied relationally
    "q_fleet_replicate" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 17 = 3
        |       THEN round(round(c_acctbal, 4) + 100.0, 4)
        |       ELSE round(c_acctbal, 4) END AS c_acctbal
        |FROM customer WHERE c_custkey % 13 <> 5
        |ORDER BY c_custkey""".stripMargin,
    // writer idempotence: both appends were replayed with the same
    // txn token — each slice lands exactly once
    "q_fleet_idempotent_write" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 100000, 'replay-' || c_name, c_acctbal
        |  FROM customer WHERE c_custkey >= 1 AND c_custkey < 50
        |  UNION ALL
        |  SELECT c_custkey + 100000, 'replay-' || c_name, c_acctbal
        |  FROM customer WHERE c_custkey >= 50 AND c_custkey < 80
        |)
        |ORDER BY c_custkey""".stripMargin,
    // CHECK constraint: the violating append failed whole, the
    // passing slice landed exactly once
    "q_fleet_check_constraint" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 200000, c_name, c_acctbal
        |  FROM customer WHERE c_custkey < 40
        |)
        |ORDER BY c_custkey""".stripMargin,
    // clone: the source as of the clone instant — the vectored delete
    // carries, the post-clone source delete does not
    "q_fleet_clone" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer WHERE c_custkey % 11 <> 7
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_update_fleet" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey < 100
        |       THEN round(round(c_acctbal, 4) + 500.0, 4)
        |       ELSE round(c_acctbal, 4) END AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    // time travel: v1 = the staged (r4-rounded) fleet, current = the
    // post-UPDATE generation — one row per key carrying both
    "q_sql_timetravel_tag" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_timetravel" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal_v1,
        |  CASE WHEN c_custkey < 100
        |       THEN round(round(c_acctbal, 4) + 500.0, 4)
        |       ELSE round(c_acctbal, 4) END AS bal_cur
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    // retention: the LIVE generation after merge + expireVersions —
    // a GC that unlinked a still-referenced file fails rows/hash
    "q_fleet_expire" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey < 100
        |       THEN round(round(c_acctbal, 4) * 2.0, 4)
        |       ELSE round(c_acctbal, 4) END AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_merge_fleet" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer),
        |feed AS (
        |  SELECT c_custkey AS k, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS new_name, CAST(NULL AS DOUBLE) AS new_bal
        |  FROM customer WHERE c_custkey < 50
        |  UNION ALL
        |  SELECT c_custkey, 'U', c_name, round(round(c_acctbal, 4) * 2.0, 4)
        |  FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
        |  UNION ALL
        |  SELECT c_custkey + 200000, 'I', 'Merged#' || c_custkey, round(10.0, 4)
        |  FROM customer WHERE c_custkey < 20)
        |SELECT coalesce(b.c_custkey, f.k) AS c_custkey,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_name
        |       WHEN b.c_custkey IS NULL THEN f.new_name
        |       ELSE b.c_name END AS c_name,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_bal
        |       WHEN b.c_custkey IS NULL THEN f.new_bal
        |       ELSE b.c_acctbal END AS c_acctbal
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.k
        |WHERE (b.c_custkey IS NULL OR f.op IS NULL OR f.op <> 'D')
        |  AND (b.c_custkey IS NOT NULL OR f.op = 'I')
        |ORDER BY c_custkey""".stripMargin,
    // the fleet COW merge's read-back: same final state, no action col
    "q_crud_merge_fleet" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal
        |  FROM customer),
        |feed AS (
        |  SELECT c_custkey AS k, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS new_name, CAST(NULL AS DOUBLE) AS new_bal
        |  FROM customer WHERE c_custkey < 50
        |  UNION ALL
        |  SELECT c_custkey, 'U', c_name, round(c_acctbal * 2.0, 4)
        |  FROM customer WHERE c_custkey >= 50 AND c_custkey < 150
        |  UNION ALL
        |  SELECT c_custkey + 200000, 'I', 'Merged#' || c_custkey, round(10.0, 4)
        |  FROM customer WHERE c_custkey < 20)
        |SELECT coalesce(b.c_custkey, f.k) AS c_custkey,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_name
        |       WHEN b.c_custkey IS NULL THEN f.new_name
        |       ELSE b.c_name END AS c_name,
        |  CASE WHEN b.c_custkey IS NOT NULL AND f.op = 'U' THEN f.new_bal
        |       WHEN b.c_custkey IS NULL THEN f.new_bal
        |       ELSE b.c_acctbal END AS c_acctbal
        |FROM base b FULL OUTER JOIN feed f ON b.c_custkey = f.k
        |WHERE (b.c_custkey IS NULL OR f.op IS NULL OR f.op <> 'D')
        |  AND (b.c_custkey IS NOT NULL OR f.op = 'I')
        |ORDER BY c_custkey""".stripMargin,
    "q_cdc_scd2" ->
      """WITH ch AS (
        |  SELECT c_custkey AS k, round(c_acctbal, 4) AS val,
        |    TIMESTAMP '1992-01-01 00:00:00' AS vts, CAST(-1 AS BIGINT) AS seq
        |  FROM customer WHERE c_custkey < 100
        |  UNION ALL
        |  SELECT o_custkey,
        |    CASE WHEN o_orderstatus = 'F' THEN NULL
        |         ELSE round(o_totalprice, 4) END,
        |    o_orderdate, o_orderkey
        |  FROM orders WHERE o_custkey < 100)
        |SELECT k AS c_custkey,
        |  row_number() OVER w AS version,
        |  val,
        |  strftime(vts, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(vts, 1) OVER w, '%Y-%m-%d') AS valid_to,
        |  lead(vts, 1) OVER w IS NULL AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY k ORDER BY vts, seq)
        |ORDER BY c_custkey, version""".stripMargin
  )
}
