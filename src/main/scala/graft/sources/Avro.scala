package graft.sources

import java.io.ByteArrayInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro source/sink built directly on the Apache Avro Java library
  * that Spark already ships (`avro-1.12.1.jar` is a core dependency —
  * only the `spark-avro` DataSource CONNECTOR is absent offline), so
  * the survey's last §2.A gap closes with zero new jars: real Avro
  * Object Container Files, deflate-compressed, readable by any Avro
  * tooling.
  *
  * Schema mapping is the flat-record subset the fixture tables (and
  * the reference's sheet model) need: long/int/double/float/boolean/
  * string/binary, each as a `["null", T]` union so Spark nullability
  * roundtrips, plus date (`date` logical int) and timestamp
  * (`timestamp-micros` logical long) — avro is the one interchange
  * format here that carries temporals EXACTLY typed (xlsx demotes
  * them to ISO strings by documented contract).
  *
  * Scale: `writeDistributed` is the real sink — one container file
  * per partition, encoded on EXECUTORS (no driver bottleneck; Avro,
  * unlike xlsx, has no format-imposed row cap, so the driver-streamed
  * single-file `write` is reserved for small interchange drops) — and
  * `readDistributed` parses MANY container files on executors via the
  * binaryFile source, one task per file — the same
  * fleet-of-small-files ingest shape as `Xlsx.readDistributed`, landed
  * to parquet once and scanned columnar thereafter.
  */
object Avro {

  private def avroType(dt: DataType): Schema = dt match {
    case LongType => Schema.create(Schema.Type.LONG)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    // the standard Avro logical types — unlike xlsx, avro can carry
    // dates/timestamps EXACTLY (day serial / µs instant), so the sheet
    // model's temporal columns roundtrip typed through this format
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case other => throw new IllegalArgumentException(
      s"avro sink supports flat primitive columns; got $other " +
        "(stringify arrays/maps/structs upstream, per the oracle discipline)")
  }

  private[graft] def toAvroSchema(schema: StructType): Schema = {
    val b = SchemaBuilder.record("row").namespace("graft").fields()
    schema.fields.foreach { f =>
      b.name(f.name).`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), avroType(f.dataType))).withDefault(null)
    }
    b.endRecord()
  }

  private def sparkType(s: Schema): DataType = s.getType match {
    case Schema.Type.INT if s.getLogicalType.isInstanceOf[LogicalTypes.Date] =>
      DateType
    case Schema.Type.LONG
        if s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMicros] =>
      TimestampType
    case Schema.Type.LONG => LongType
    case Schema.Type.INT => IntegerType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.FLOAT => FloatType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.STRING => StringType
    case Schema.Type.BYTES => BinaryType
    case Schema.Type.UNION =>
      // ["null", T] unions — the only union form this source emits/reads
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1, s"unsupported avro union: $s")
      sparkType(nonNull.head)
    case other => throw new IllegalArgumentException(
      s"unsupported avro type for a sheet column: $other")
  }

  private[graft] def toSparkSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.toSeq.map(f =>
      StructField(f.name(), sparkType(f.schema()), nullable = true)))

  private def toAvroValue(v: Any): AnyRef = v match {
    case null => null
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case s: Short => Int.box(s.toInt)
    case b: Byte => Int.box(b.toInt)
    // temporal values → their logical-type carriers (day / µs instant)
    case d: java.sql.Date => Int.box(d.toLocalDate.toEpochDay.toInt)
    case ld: java.time.LocalDate => Int.box(ld.toEpochDay.toInt)
    case t: java.sql.Timestamp =>
      Long.box(t.getTime * 1000L + (t.getNanos % 1000000) / 1000)
    case i: java.time.Instant =>
      Long.box(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong))
    case other => other.asInstanceOf[AnyRef]
  }

  /** The non-null branch of the `["null", T]` unions this codec emits. */
  private def nonNullBranch(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  private[sources] def fromAvroValue(v: AnyRef, fieldSchema: Schema): Any = v match {
    case null => null
    case u: Utf8 => u.toString
    case bb: java.nio.ByteBuffer =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case i: Integer
        if nonNullBranch(fieldSchema).getLogicalType
          .isInstanceOf[LogicalTypes.Date] =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case l: java.lang.Long
        if nonNullBranch(fieldSchema).getLogicalType
          .isInstanceOf[LogicalTypes.TimestampMicros] =>
      val micros = l.longValue()
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    case other => other
  }

  /** Write `df` as a DIRECTORY of Avro Object Container Files at
    * `dir` — one deflate-compressed OCF per partition, encoded on the
    * EXECUTORS (the Avro schema travels as its JSON string, exactly
    * like `readDistributed`'s task side). This is the scale-safe sink:
    * unlike `write` there is no driver serialization point, and
    * throughput scales with the cluster. Empty partitions write no
    * file EXCEPT partition 0, so an all-empty frame still leaves one
    * schema-bearing OCF and the directory roundtrips through
    * `read`/`readDistributed`.
    *
    * Cluster robustness (the classic file-sink commit protocol): each
    * task writes to an ATTEMPT-SUFFIXED hidden temp file
    * (`.part-NNNNN-attempt-A.avro.tmp`) and renames it to the final
    * part name only on task success — so a task that dies mid-stream
    * leaves a hidden temp, never a truncated OCF at a final path, and
    * two SPECULATIVE attempts of one task write distinct temps (the
    * globally-unique task-attempt id) and race only on the final
    * rename, which commits ONLY IF ABSENT: a final part file can only
    * ever have appeared via a successful rename of a fully-written
    * temp, so an existing final is complete by construction and a late
    * duplicate attempt discards its temp rather than touching it.
    * After the job succeeds the driver writes a `_SUCCESS`
    * marker; the readers REQUIRE it on any directory of `part-*.avro`
    * files, so a directory from a killed job reads as "uncommitted
    * output", not silently as partial data. Executors resolve the
    * filesystem from a BROADCAST serialized session Hadoop conf
    * (`util.SerializableHadoopConf`), so object-store credentials and
    * `fs.defaultFS` overrides travel with the job. */
  def writeDistributed(s: SparkSession, dir: String, df: DataFrame): Unit = {
    val schemaJson = toAvroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val hadoopConf = s.sessionState.newHadoopConf()
    val fs = dirPath.getFileSystem(hadoopConf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    val confB = s.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(hadoopConf))
    // per-file min/max/null stats ride back on an accumulator (tiny:
    // one entry per part file); duplicate adds from speculative or
    // re-run attempts collapse in the toMap — stats are deterministic
    // per partition, so last-wins merge is exact
    val statsAcc = s.sparkContext.collectionAccumulator[
      (String, FleetStats.PartStats)]("graft.fleetStats")
    df.foreachPartition { (it: Iterator[Row]) =>
      val tc = org.apache.spark.TaskContext.get()
      if (it.hasNext || tc.partitionId() == 0)
        writePartitionFile(schemaJson, names, dir, tc.partitionId(),
          tc.taskAttemptId(), confB.value.value, it).foreach(statsAcc.add)
    }
    // an empty LOCAL relation plans to zero tasks, so even the
    // partition-0-always-writes rule never fires — leave one
    // schema-bearing OCF from the driver so the directory roundtrips
    if (fs.listStatus(dirPath, dataFileFilter).isEmpty)
      write(s, f"$dir/part-00000.avro", df)
    // data-skipping sidecar BEFORE the marker: readers only trust
    // stats for files whose committed length matches, so a torn or
    // missing sidecar degrades to "no skipping", never to wrong rows
    val statEntries = statsAcc.value.asScala.toMap
    if (statEntries.nonEmpty) FleetStats.write(fs, dirPath, statEntries)
    // commit marker: written LAST, so its presence certifies that every
    // task committed and the driver saw the job succeed
    fs.create(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), true).close()
  }

  /** Hidden-file filter for sink-directory listings: attempt temps
    * (`.part-...avro.tmp`) and markers (`_SUCCESS`) are not data. Same
    * convention Spark's own file sources apply when listing. */
  private val dataFileFilter = new org.apache.hadoop.fs.PathFilter {
    def accept(p: org.apache.hadoop.fs.Path): Boolean = {
      val n = p.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
  }

  /** One task attempt's write-then-commit (factored out so the failure
    * and duplicate-attempt paths are directly testable): stream the
    * partition to `.part-NNNNN-attempt-A.avro.tmp`, then commit by
    * renaming onto the final part name ONLY IF ABSENT. A final part
    * file can only appear through this rename of a fully-written temp,
    * so an existing final is complete by construction — a late
    * duplicate/speculative or zombie attempt must NEVER delete it
    * (delete-then-rename would let an attempt that dies between the
    * two calls erase its twin's committed data, possibly after the
    * driver already wrote `_SUCCESS`). If the final exists up front
    * the attempt skips the write entirely; if it appears between our
    * write and our rename, the failed rename + exists-check classifies
    * it as a twin commit and this attempt just discards its temp. */
  private[graft] def writePartitionFile(schemaJson: String,
      names: Array[String], dir: String, pid: Int, attemptId: Long,
      conf: org.apache.hadoop.conf.Configuration, it: Iterator[Row])
      : Option[(String, FleetStats.PartStats)] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val finalPath = new org.apache.hadoop.fs.Path(f"$dir/part-$pid%05d.avro")
    val fs = finalPath.getFileSystem(conf)
    if (fs.exists(finalPath)) return None // twin committed; finals are complete
    val tmpPath = new org.apache.hadoop.fs.Path(
      f"$dir/.part-$pid%05d-attempt-$attemptId.avro.tmp")
    // fold per-column min/max/nulls as values stream past — the rows
    // already pass through this task, so the stats are free
    val stats = new FleetStats.Collector(toSparkSchema(schema))
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      .setCodec(CodecFactory.deflateCodec(6))
      .create(schema, fs.create(tmpPath, true))
    try it.foreach { row =>
      stats.startRow()
      val rec = new GenericData.Record(schema)
      names.indices.foreach { i =>
        val v = toAvroValue(row.get(i))
        stats.observe(i, v)
        rec.put(names(i), v)
      }
      w.append(rec)
    } finally w.close()
    commitPart(fs, tmpPath, finalPath)
    Some(finalPath.getName ->
      stats.result(fs.getFileStatus(finalPath).getLen))
  }

  /** The rename-if-absent task commit shared by `writePartitionFile`
    * and the `graft-avro` V2 writer: a final part file only ever
    * appears through this rename of a fully-written temp, so an
    * existing final is complete by construction and is NEVER deleted.
    * A losing racer just discards its temp. */
  private[graft] def commitPart(fs: org.apache.hadoop.fs.FileSystem,
      tmpPath: org.apache.hadoop.fs.Path,
      finalPath: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(finalPath)) { fs.delete(tmpPath, false); return }
    if (!fs.rename(tmpPath, finalPath)) {
      val twinCommitted = fs.exists(finalPath)
      fs.delete(tmpPath, false)
      if (!twinCommitted) throw new java.io.IOException(
        s"failed to commit $tmpPath -> $finalPath")
    }
  }

  /** Write `df` as ONE Avro Object Container File at `path` (any
    * Hadoop-visible filesystem), deflate-compressed. Streams row by
    * row through the block writer — driver memory is O(block), but the
    * driver IS the single writer: use `writeDistributed` for anything
    * bigger than an interchange drop. Same commit shape as the
    * distributed sink: the stream lands in a hidden `.tmp` sibling and
    * is renamed into place only after a clean close, so a driver crash
    * mid-write cannot leave a truncated OCF at the final path. */
  def write(s: SparkSession, path: String, df: DataFrame): Unit = {
    val avroSchema = toAvroSchema(df.schema)
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + ".tmp")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
      .setCodec(CodecFactory.deflateCodec(6))
      .create(avroSchema, fs.create(tmp, true))
    try {
      val names = df.schema.fieldNames
      df.toLocalIterator().asScala.foreach { row =>
        val rec = new GenericData.Record(avroSchema)
        names.indices.foreach(i => rec.put(names(i), toAvroValue(row.get(i))))
        w.append(rec)
      }
    } finally w.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"failed to commit $tmp -> $p")
    }
  }

  /** The ingest paths hold a WHOLE container file in memory (driver
    * for `read`, one executor task for `readDistributed` — binaryFile
    * is one task per file, and an OCF fleet is only parallel ACROSS
    * files). A single huge OCF from an external producer is therefore
    * a straggler/OOM, not a scan — fail loudly at this documented
    * bound (the `Xlsx` peek's pattern) instead. Avro's sync-marker
    * splittability is real but needs a splitting input format; the
    * supported shape here is a fleet of partition-sized files (what
    * `writeDistributed` emits), landed to parquet for the scale path. */
  private[graft] val MaxIngestFileBytes: Long = 512L * 1024 * 1024

  /** Reader-schema projection: the same record name/namespace with
    * only `columns`, in the REQUESTED order. Avro schema resolution
    * then SKIP-decodes every unprojected writer field on read (strings
    * and bytes are skipped by length, never materialized) — decode-side
    * column pruning for the row-major interchange format. Fields carry
    * NO default: defaults only matter for reader-only fields, which the
    * `require` below already excludes, and a `null` default is invalid
    * against a non-nullable writer field schema (an external producer's
    * plain `long`) — Avro rejects it at schema-build time. */
  private[sources] def prunedSchema(full: Schema, columns: Seq[String]): Schema = {
    val byName = full.getFields.asScala.map(f => f.name() -> f).toMap
    val missing = columns.filterNot(byName.contains)
    require(missing.isEmpty,
      s"columns not in avro schema: ${missing.mkString(", ")} " +
        s"(schema has: ${full.getFields.asScala.map(_.name()).mkString(", ")})")
    val b = SchemaBuilder.record(full.getName).namespace(full.getNamespace)
      .fields()
    columns.foreach(c => b.name(c).`type`(byName(c).schema()).noDefault())
    b.endRecord()
  }

  /** Decode a container file; with `columns` non-empty, decode ONLY
    * those fields (reader-schema resolution skips the rest) in the
    * requested order. Returns the file's WRITER schema (for fleet
    * mismatch checks) alongside the — possibly pruned — rows. */
  private[graft] def parseAll(bytes: Array[Byte],
      columns: Seq[String] = Nil): (Schema, Seq[Seq[Any]]) =
    parseAllPruned(bytes, if (columns.isEmpty) None else Some(columns))

  /** Like `parseAll`, but `Some(Nil)` means a genuinely EMPTY
    * projection (a `count(*)` over the fleet): every field is
    * skip-decoded and each row comes back zero-width, preserving only
    * the row count — the shape Catalyst's column pruning hands the V2
    * connector. `None` means no pruning. `limit` stops DECODE after
    * that many records (the connector's partial limit pushdown — a
    * head() over a fleet must not decode whole files). */
  private[graft] def parseAllPruned(bytes: Array[Byte],
      columns: Option[Seq[String]],
      limit: Option[Int] = None): (Schema, Seq[Seq[Any]]) = {
    val datumReader = new GenericDatumReader[GenericRecord]()
    val in = new DataFileStream(new ByteArrayInputStream(bytes), datumReader)
    try {
      val writerSchema = in.getSchema
      val effective = columns match {
        case None => writerSchema
        case Some(cols) =>
          val p = prunedSchema(writerSchema, cols)
          datumReader.setExpected(p); p
      }
      val fields = effective.getFields.asScala.toSeq
        .map(f => (f.name(), f.schema()))
      val cap = limit.getOrElse(Int.MaxValue)
      val rows = mutable.ArrayBuffer[Seq[Any]]()
      while (in.hasNext && rows.size < cap) {
        val rec = in.next()
        rows += fields.map { case (f, fs) => fromAvroValue(rec.get(f), fs) }
      }
      (writerSchema, rows.toSeq)
    } finally in.close()
  }

  /** Read one container file — or a `writeDistributed` DIRECTORY of
    * them — as a typed DataFrame. A single file is a driver-side parse
    * (ONE interchange file); a directory delegates to
    * `readDistributed`, so `Workbook.load` handles both layouts.
    * `columns` (optional) prunes the decode to those fields, in that
    * order; `maxFileBytes` is the single-file ingest bound (see
    * `MaxIngestFileBytes`). */
  def read(s: SparkSession, path: String, columns: Seq[String] = Nil,
      maxFileBytes: Long = MaxIngestFileBytes): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val status = fs.getFileStatus(p)
    if (status.isDirectory) return readDistributed(s, path, columns, maxFileBytes)
    requireIngestSized(status, maxFileBytes)
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val (schema, rows) = parseAll(bytes, columns)
    val outSchema =
      if (columns.isEmpty) schema else prunedSchema(schema, columns)
    s.createDataFrame(
      s.sparkContext.parallelize(rows.map(Row.fromSeq), 1),
      toSparkSchema(outSchema))
  }

  private def requireIngestSized(st: org.apache.hadoop.fs.FileStatus,
      maxFileBytes: Long): Unit =
    require(st.getLen <= maxFileBytes,
      s"avro ingest holds a whole container file in one JVM task; " +
        s"${st.getPath} is ${st.getLen} bytes (> $maxFileBytes) — split " +
        "the producer's output into partition-sized files (what " +
        "writeDistributed emits) or convert to parquet for a splittable " +
        "columnar scan")

  /** Split a multi-path spec on TOP-LEVEL commas only: commas inside
    * `{...}` belong to Hadoop brace-alternation globs
    * (`/data/{a,b}.avro`) and must reach globStatus intact. */
  private[graft] def splitGlobs(glob: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    glob.foreach {
      case '{' => depth += 1; sb += '{'
      case '}' => depth = math.max(0, depth - 1); sb += '}'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Resolve a glob (or directory) to its DATA files: hidden temps and
    * markers filtered, the `_SUCCESS` commit contract enforced on any
    * part-file directory — the file projection of
    * [[FleetView.resolve]], which the DataSource V2 fleet scans plan
    * from directly, so the listing contracts can never drift.
    *
    * `glob` may be a COMMA-separated list of globs/paths (the classic
    * Hadoop multi-path spelling) — each resolves independently and the
    * union is deduplicated by path. This is what lets a maintenance
    * pass (e.g. [[FleetMerge]]'s sidecar-pruned copy-on-write) load
    * exactly the files it proved touched, through the same connector
    * and contract as a whole-fleet read. */
  private[graft] def listFleet(s: SparkSession, glob: String)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    FleetView.resolve(s, glob).files

  /** Raw-listing contract for manifest-less directories (interchange
    * drops, `writeDistributed` output, externally-produced fleets). */
  private[sources] def listLegacyDir(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.FileStatus)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val all = fs.listStatus(d.getPath).toSeq
    val data = all.filter(st => st.isFile && dataFileFilter.accept(st.getPath))
    // a directory of sink-patterned part files without the commit
    // marker is a killed/in-flight writeDistributed job — reading
    // it as if complete is silent data loss, the one failure mode
    // a marker exists to prevent
    // both sink spellings: writeDistributed's part-NNNNN.avro and
    // the V2 writer's job-tagged part-NNNNN-tag.avro
    if (data.exists(_.getPath.getName.matches("part-\\d{5}(-[0-9a-f]+)?\\.avro")))
      require(all.exists(_.getPath.getName == "_SUCCESS"),
        s"${d.getPath} holds part-*.avro files but no _SUCCESS " +
          "marker — uncommitted or partial writeDistributed output; " +
          "re-run the write (or add a _SUCCESS marker if this " +
          "directory was produced complete by another tool)")
    data
  }

  // ---- writer-schema memo ------------------------------------------
  //
  // A data file's writer schema is fixed when the file is written: the
  // fleet writers only ever publish complete, immutable files under a
  // fresh name. So the schema read from one header serves every later
  // peek of the same file, keyed by (qualified path, len, mtime) from
  // the status the caller already holds — a manifest fleet's statuses
  // come from its committed sizes, so a hit costs no filesystem call.
  // A file rewritten in place under its old name (outside the fleet
  // contract) changes its length or mtime and is peeked again. Parsed
  // schemas are interned by the fingerprint of their full JSON, so a
  // fleet of a million files holds one Schema per distinct shape, not
  // one per file. Both maps are cleared past 4096 entries (the
  // manifest snapshot cache's policy).
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Schema]()
  private val schemaIntern =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Schema]()
  private val MemoCap = 4096

  private def memoKey(st: org.apache.hadoop.fs.FileStatus) =
    (st.getPath.toString, st.getLen, st.getModificationTime)

  /** The one parsed Schema for writer-schema JSON `json`. */
  private def intern(json: String): Schema = {
    val fp = java.lang.Long.valueOf(org.apache.avro.SchemaNormalization
      .fingerprint64(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val hit = schemaIntern.get(fp)
    if (hit != null && hit.toString == json) hit
    else {
      val parsed = new Schema.Parser().parse(json)
      if (schemaIntern.size > MemoCap) schemaIntern.clear()
      schemaIntern.put(fp, parsed)
      parsed
    }
  }

  private def remember(st: org.apache.hadoop.fs.FileStatus,
      schema: Schema): Schema = {
    if (schemaMemo.size > MemoCap) schemaMemo.clear()
    schemaMemo.put(memoKey(st), schema)
    schema
  }

  /** The writer-schema JSON in `p`'s OCF header (magic + metadata
    * block): DataFileStream parses the schema at construction and we
    * never iterate rows, so this pulls O(header) bytes. */
  private def headerJson(conf: org.apache.hadoop.conf.Configuration)(
      p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val in = path.getFileSystem(conf).open(path)
    try {
      val header =
        new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      try header.getSchema.toString finally header.close()
    } finally { try in.close() catch { case _: java.io.IOException => () } }
  }

  /** HEADER-ONLY schema peek for `readDistributed`: resolve the glob
    * through [[FleetView.resolve]] and take the writer schema of the
    * lexicographically FIRST file — deterministic across runs, unlike
    * a binaryFile `head()`, whose listing order is no contract. The
    * header is opened only on a writer-schema memo miss (see the memo
    * above): a repeated peek of an unchanged fleet opens nothing. */
  private[graft] def peekSchema(s: SparkSession, glob: String): Schema = {
    val first = listFleet(s, glob).minBy(_.getPath.toString)
    Option(schemaMemo.get(memoKey(first))).getOrElse(remember(first,
      intern(headerJson(s.sessionState.newHadoopConf())(
        first.getPath.toString))))
  }

  /** All DISTINCT writer schemas across a fleet, via bounded
    * header-only reads (an OCF header is a few KB, like a parquet
    * footer), each file's taken from the writer-schema memo when it
    * was seen before. Only the unseen files are opened: on the driver
    * when there are at most 64, else as one Spark job over their
    * paths — the same move Spark's parquet `mergeSchema` makes, so a
    * million-file fleet costs one distributed pass, not a driver
    * loop. Schemas travel as JSON strings (Avro `Schema` is not
    * serializable-stable), deduped per partition. The result is
    * ordered as it always was: first appearance in path order for
    * fleets of at most 64 files, JSON order past that. */
  private[graft] def peekAllSchemas(s: SparkSession, glob: String)
      : Seq[Schema] = {
    val files = listFleet(s, glob).sortBy(_.getPath.toString)
    val known = files.map(st => Option(schemaMemo.get(memoKey(st))))
    val unseen = files.zip(known).collect { case (st, None) => st }
    val paths = unseen.map(_.getPath.toString)
    val jsons: Seq[String] =
      if (paths.length <= 64)
        paths.map(headerJson(s.sessionState.newHadoopConf()))
      else {
        val conf =
          new graft.util.SerializableHadoopConf(s.sessionState.newHadoopConf())
        // each partition returns its distinct JSONs and, per file in
        // input order, the index of its JSON among them
        s.sparkContext.parallelize(paths, math.min(paths.length, 256))
          .mapPartitions { it =>
            val js = it.map(headerJson(conf.value)).toArray
            val distinct = js.distinct
            Iterator((distinct, js.map(j => distinct.indexOf(j))))
          }
          .collect().toSeq.flatMap { case (d, idx) => idx.map(d(_)) }
      }
    val peeked = unseen.zip(jsons).map { case (st, j) =>
      st.getPath.toString -> remember(st, intern(j)) }.toMap
    val all = files.zip(known).map { case (st, k) =>
      k.getOrElse(peeked(st.getPath.toString)) }.distinct
    if (files.length <= 64) all else all.sortBy(_.toString)
  }

  /** Distributed ingest of MANY container files — a thin veneer over
    * the `graft-avro` DataSource V2 connector (`AvroFleetSource`): one
    * task per file, Avro-decoded on EXECUTORS, schema pinned by a
    * deterministic header-only driver peek and re-checked per file, so
    * a mixed-schema fleet fails loudly instead of mis-decoding.
    * Because the connector implements `SupportsPushDownRequiredColumns`,
    * ANY downstream projection — not just the explicit `columns`
    * parameter, which is kept as a convenience for callers that know
    * their subset up front — reaches executors as an Avro
    * reader-schema that skip-decodes unprojected fields at the byte
    * level. */
  def readDistributed(s: SparkSession, glob: String,
      columns: Seq[String] = Nil,
      maxFileBytes: Long = MaxIngestFileBytes): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = s.read.format("graft-avro")
      .option("maxFileBytes", maxFileBytes.toString)
      .load(glob)
    if (columns.isEmpty) df else df.select(columns.map(col): _*)
  }
}
