package graft.util

import org.apache.spark.sql.SparkSession

/** The session conf every graft entry point (Verify/Bench/tools/tests)
  * pins at BUILD time — one source of truth so loaders stay pure.
  *
  *  - `session.timeZone=UTC`: the fixture contract; `Tables
  *    .normalizeEventsTs` asserts it before its NTZ→Timestamp cast.
  *  - `legacy.parquet.nanosAsLong=true`: the events fixture has shipped
  *    as TIMESTAMP(NANOS) in some rounds; Spark 4 refuses to read that
  *    type at all ([PARQUET_TYPE_ILLEGAL]) unless this flag is on. It is
  *    a no-op for µs/NTZ files. Set HERE, not inside a loader: a loader
  *    that flips session-wide conf as a read side-effect would silently
  *    coerce every OTHER ns-typed parquet the session touches.
  *  - `graft.GraftExtensions`: the library's Catalyst extensions.
  *  - `warehouse.dir`: a pid-scoped tmpdir (deleted on exit), so
  *    `saveAsTable` queries (the bucketed-join layout) never litter
  *    the invoking process's cwd with a `spark-warehouse/` dir.
  *  - `v2.bucketing.enabled=true`: lets a DSv2 scan's reported
  *    `KeyGroupedPartitioning` satisfy a join's distribution so two
  *    clusterBy-laid-out fleets join with NO exchange (the
  *    storage-partitioned join path); has no effect on scans that
  *    report Unknown partitioning.
  *  - `v2.bucketing.shuffle.enabled=true`: the PARTIALLY-clustered
  *    case — when only ONE join side is a proven clustered fleet, keep
  *    that side's key grouping and shuffle just the other side into
  *    it (one exchange instead of two). A lapsed-to-Unknown fleet
  *    still falls back to shuffling both sides.
  */
object GraftSession {
  def defaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir", Scratch.dir("warehouse"))
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    // report the sortBy order of bucketed scans (Spark still requires
    // one file per bucket before reporting, so this is only ever the
    // layouts our writers produce: repartition-by-bucket-cols first).
    // Without it every merge join against a sorted bucketed table —
    // the fingerprint-store ingest, the bucketed fact join — re-sorts
    // the pre-sorted side per query.
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // Let AQE size the partitions of CACHED plans too (default off
    // upstream): the registry's shared caches (tokDistinct, the LSH
    // banded frame, tfidf's tf) otherwise materialize at the full
    // shuffle width, so every consumer stage scans 32+ near-empty
    // cache partitions — measured 45% off q_dedup_embcos_lsh / 47%
    // off q_text_fingerprint warm, −19% across the cached dedup/text
    // family (the A/B in OPTIMIZATION_r21.md §G7). Scale-adaptive
    // by construction: partition count derives from cached bytes.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    // Shuffle/spill scratch on the RAM-backed tmpfs when one is
    // writable (guide §2.1: local disk bandwidth is a shuffle's other
    // bottleneck; shuffle files are pure scratch, and tmpfs-backed
    // local dirs are a standard deployment posture). Spark itself
    // prefers SPARK_LOCAL_DIRS when the operator sets it, so this is
    // only the default. Falls back to java.io.tmpdir.
    .config("spark.local.dir", Scratch.ephemeralDir("local"))
    // file:// with an in-process chmod: without the Hadoop native lib
    // every local file create forks a `chmod` process (profiled at a
    // fork per staged file across the fleet verbs) — see
    // [[NioLocalFileSystem]]. Same checksummed semantics.
    .config("spark.hadoop.fs.file.impl",
      "graft.util.NioLocalFileSystem")
    // the FileContext twin (r22): the streaming checkpoint manager
    // prefers FileContext, whose default local binding still forked a
    // chmod per created file and a readlink per getFileLinkStatus —
    // see [[NioLocalFs]]. Same nio fast paths for that API.
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.util.NioLocalFs")
    .config("spark.ui.enabled", "false")
}
