package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL row-level operations for avro fleets — `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` against a catalog-resolved fleet
  * (`graft.<name>`), planned by Spark's GROUP-BASED copy-on-write
  * machinery (`RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` → `ReplaceData`), executed at FILE
  * granularity by the connector:
  *
  *  1. The operation's scan treats the command's condition as a GROUP
  *     filter only — the existing sidecar min/max/bloom skipping drops
  *     every file that provably contains no matching row, and Spark's
  *     `RowLevelOperationRuntimeGroupFiltering` adds a DPP-style
  *     runtime `In` filter through the scan's
  *     `SupportsRuntimeFiltering` for what statistics can't prove.
  *     Crucially the condition is NEVER applied at row granularity
  *     here (`groupFilterOnly`): ReplaceData must see every row of
  *     every surviving file so survivors are rewritten, and the
  *     row-level semantics live in the Catalyst plan above the scan.
  *  2. The scan reports its FINAL planned file list (post static +
  *     runtime pruning) to the shared operation instance — that list
  *     IS the replaced group set.
  *  3. The paired write appends the rewritten rows through the normal
  *     V2 committer (attempt temps, job-tagged names, sidecar stats)
  *     and its ONE [[FleetManifest]] commit swaps the replaced group
  *     set out as the new files swap in — no crash point shows both
  *     generations or loses rows; the retired originals remain as the
  *     previous version's snapshot until retention
  *     ([[FleetCompact.expireVersions]]) reclaims them.
  *
  * Net effect at 100 TB: `DELETE FROM graft.events WHERE ts < X` on a
  * time-laid-out fleet rewrites the handful of boundary files and
  * drops/keeps the rest untouched — a maintenance pass, not a table
  * rewrite (RowLevelSqlSpec pins untouched-file mtime+bytes).
  */
private[sources] class AvroFleetRowLevelBuilder(schema: StructType,
    path: String, maxFileBytes: Long, info: RowLevelOperationInfo,
    evolve: Boolean = false, aliases: Map[String, Seq[String]] = Map.empty)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new AvroFleetRowLevelOperation(schema, path, maxFileBytes,
      info.command(), evolve, aliases)
}

private[sources] class AvroFleetRowLevelOperation(schema: StructType,
    path: String, maxFileBytes: Long,
    cmd: RowLevelOperation.Command, evolve: Boolean = false,
    aliases: Map[String, Seq[String]] = Map.empty) extends RowLevelOperation {

  /** The scan's final planned file list — written by the scan at
    * partition-planning time (driver), read by the write at commit
    * time (driver). `Nil` until planned; a command whose scan never
    * plans (fully pruned) replaces nothing. */
  @volatile private[sources] var replacedFiles: Seq[String] = Nil

  /** The deletion-vector bindings (absence included) the scan READ
    * the replaced files under — compare-and-set at the replace
    * commit, so a merge-on-read delete landing mid-command conflicts
    * loudly instead of resurrecting its rows in the post-image. */
  @volatile private[sources] var replacedDvs
      : Map[String, Option[String]] = Map.empty

  /** Under `spark.graft.isolation = serializable`: the fleet version
    * the scan resolved, pinned at scan-planning time — the replace
    * commit conflicts on ANY intervening commit (write skew closed). */
  @volatile private var scanVersion: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-avro $cmd `$path`"

  /** `_file` is the group identity: requiring it (a) makes Spark's
    * runtime group filtering collect matched rows' FILES and hand the
    * scan an exact replaced-file list, and (b) routes the replace
    * write through the projected (data, metadata) path — without a
    * required metadata attribute Spark's group-based writer passes the
    * raw operation-prefixed rows straight to the sink. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(AvroFleetTable.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val p = new org.apache.hadoop.fs.Path(path)
    scanVersion = FleetManifest.scanVersionIfSerializable(
      p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), p)
    new AvroFleetRowLevelScanBuilder(schema, path, maxFileBytes, this,
      evolve, aliases)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // driver-side, plan-time: same flat-schema validation and
          // job tagging as the plain V2 write path
          val schemaJson = Avro.toAvroSchema(info.schema()).toString
          val jobTag = java.security.MessageDigest.getInstance("MD5")
            .digest(info.queryId().getBytes("UTF-8"))
            .take(4).map(b => f"$b%02x").mkString
          new AvroFleetReplaceBatchWrite(schemaJson, info.schema(), path,
            jobTag, () => replacedFiles, () => replacedDvs,
            () => scanVersion)
        }
      }
    }
}

/** Scan builder for the row-level scan: column pruning as usual, but
  * filter pushdown is GROUP-granular — everything is returned as
  * residual (the plan above owns row semantics) and retained only to
  * drive sidecar file skipping. No limit/TopN/aggregate pushdown: a
  * replace source must produce complete groups. */
private[sources] class AvroFleetRowLevelScanBuilder(fullSchema: StructType,
    path: String, maxFileBytes: Long, op: AvroFleetRowLevelOperation,
    evolve: Boolean = false, aliases: Map[String, Seq[String]] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var groupFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    groupFilters = filters.filter(FleetFilters.supported(fullSchema, _))
    filters // ALL residual: the scan only skips files, never rows
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    groupFilters

  // one resolved snapshot: the replaced group set and the vector
  // bindings reported for the commit's compare-and-set come from the
  // same manifest read the tasks decode under
  private lazy val view = FleetView.resolve(SparkSession.active, path)

  override def build(): Scan =
    new AvroFleetScan(fullSchema, required, path, maxFileBytes, view,
      limit = None, pushedFilters = groupFilters,
      evolve = evolve,
      groupFilterOnly = true,
      onPlanned = files => op.replacedFiles = files,
      onPlannedDvs = dvs => op.replacedDvs = dvs,
      aliases = aliases)
}

/** The replace-commit: the plain fleet batch write's commit with the
  * replaced group set passed as the manifest swap — ONE
  * [[FleetManifest]] commit adds the rewritten generation and removes
  * the replaced originals, so a reader sees the old generation or the
  * new one, never both (the r14 append-then-delete crash window is
  * closed). The retired originals stay ON DISK: they are exactly the
  * previous manifest version's file set, so `VERSION AS OF` keeps
  * serving the pre-command snapshot until
  * [[FleetCompact.expireVersions]] reclaims it — physical deletion is
  * a RETENTION decision, not part of the commit (the transactional-
  * table posture; a crash at any point leaves only invisible
  * unreferenced files, never duplicates). Abort rolls back only this
  * job's files, leaving the previous generation complete. */
private[sources] class AvroFleetReplaceBatchWrite(schemaJson: String,
    schema: StructType, dir: String, jobTag: String,
    replaced: () => Seq[String],
    replacedDvs: () => Map[String, Option[String]] =
      () => Map.empty,
    scanVersion: () => Option[Long] = () => None)
    extends AvroFleetBatchWrite(schemaJson, schema, dir, jobTag,
      truncate = false) {

  override protected def manifestRemoveNames: Set[String] =
    replaced().map(p => new org.apache.hadoop.fs.Path(p).getName).toSet

  override protected def manifestRequireDvs
      : Map[String, Option[String]] = replacedDvs()

  override protected def manifestExpectedVersion: Option[Long] =
    scanVersion()

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val parts = messages.collect {
      case AvroFleetCommitMessage(ps) => ps
    }.flatten
    // a command that matched nothing (pruning emptied the scan, zero
    // rows written) must leave the fleet byte-identical: roll back the
    // tasks' schema-bearing empty containers instead of committing
    // them. `exists(rows == 0)` not `forall`: a part WITHOUT stats is
    // conservatively treated as row-bearing.
    if (replaced().isEmpty && parts.forall(_._2.exists(_.rows == 0))) {
      parts.foreach { case (f, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(f), false)
      }
    } else {
      // manifest swap: new generation in, replaced out; the replaced
      // files remain as the previous version's snapshot until expired
      super.commit(messages)
    }
  }
}
