package graft.sources.lake

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S21: SQL row-level DML on the lake — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` through Spark's DELTA-BASED row-level operation API
  * (`SupportsDelta`), the last missing face of the catalog's SQL
  * surface (reads s19b, INSERT s19c).
  *
  * Why delta-based and not group-based copy-on-write: the lake is a
  * KEYED store whose whole mutation stack (y38 cow, y40 DV, y41 CDF,
  * y45 MERGE) is keyed change-batch application. With `rowId = [key]`,
  * Spark's rewrite plans produce exactly a keyed change feed — only
  * CHANGED rows reach the writers, churn-sized by construction — and
  * the commit hands that feed to the SAME engine primitive every other
  * mutation path uses ([[graft.ops.Sync.cowApplyChanges]]): span-routed
  * file rewrite, byte-verbatim carry of untouched files, manifest
  * maintenance, DV re-assertion folds, CDF-on-write sidecars, and the
  * one staged pointer commit. A group-based rewrite would re-implement
  * all of that against whole-file groups and still ship more rows
  * (every surviving row of every affected file crosses the write path;
  * here only the changes do).
  *
  * The flow:
  *   1. Spark's RewriteDelete/Update/MergeRows plans read the table
  *      through [[LakeRowLevelOperation.newScanBuilder]] — the standard
  *      pruning scan, so the command's condition span-prunes files and
  *      DV'd ghosts are already subtracted (a MERGE cannot re-match a
  *      deleted row; y45's MOR-ghost law holds by construction);
  *   2. executors spool the emitted change rows (op ∈ I/U/D) as
  *      parquet into `<root>/_rlo_<uuid>/` — churn-sized, cluster-safe
  *      (the table's own filesystem, not local disk);
  *   3. `commit` re-checks the pointer (optimistic concurrency: the
  *      table object pinned one version at analysis; a publish that
  *      raced it refuses loudly rather than silently rebasing), reads
  *      the spool, and runs `cowApplyChanges` → version N+1. A DML
  *      statement that changed NOTHING (no matching rows) mints NO
  *      version — version history stays proportional to actual change
  *      (the y53 law, here for SQL).
  *
  * UPDATE of the row's IDENTITY (the key — or, on a y49 partitioned
  * version, the partition value: identity there is (partition, key))
  * arrives as `update(id, row)` with a changed id: spooled as
  * D(old identity) + I(new row) with the delete stamped before the
  * insert, so latest-wins application nets to a correct move — a
  * cross-partition UPDATE deletes from the old partition and inserts
  * into the new one. Both layouts commit through
  * [[graft.ops.Sync.cowApplyChanges]] (partition-first pruning on a
  * partitioned version, same batch shape); a version without the `key`
  * option refuses at planning, loudly.
  */
final class LakeRowLevelBuilder(ref: LakeRef, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    val key = ref.key.getOrElse(throw new IllegalArgumentException(
      "graftlake: SQL DELETE/UPDATE/MERGE needs option 'key' " +
        "(catalog: spark.sql.catalog.<cat>.key.<table>) to route " +
        "changes through the keyed cow path"))
    new LakeRowLevelOperation(ref, info.command, key)
  }
}

final class LakeRowLevelOperation(ref: LakeRef, cmd: Command, key: String)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd

  /** The standard pruning scan: the rewrite only needs MATCHING rows,
    * so row-exact filtering above a span-pruned, DV-subtracted scan is
    * exactly right (unlike group-based COW, where a row-filtering scan
    * would lose the unmatched remainder of rewritten groups). */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new LakeScanBuilder(ref)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new LakeDeltaBatchWrite(ref, key)
      }
    }

  /** Row identity: the lake key — plus the partition column on a y49
    * partitioned version, where (partition, key) is the identity the
    * cow path routes by (a cross-partition move is a D+I pair; see
    * [[graft.ops.Sync.cowApplyChanges]]). Carrying the partition
    * in the id also puts it on DELETE's wire, which partition-first
    * pruning needs. */
  override def rowId(): Array[NamedReference] =
    (key +: ref.partCol.toSeq).map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def description(): String =
    s"graftlake $cmd @ ${ref.version} (keyed delta)"
}

/** The spool row layout: every table column + the op marker. Deletes
  * carry only the row identity — key, plus partition value on y49
  * versions — with other columns null: all the cow paths need from a
  * D row. */
private[lake] object LakeDelta {
  def spoolSchema(ref: LakeRef): StructType =
    StructType(ref.schema.fields :+
      StructField("op", StringType, nullable = false))
}

final class LakeDeltaBatchWrite(ref: LakeRef, key: String)
    extends DeltaBatchWrite {

  private val spoolDir = s"${ref.root}/_rlo_${UUID.randomUUID}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new LakeDeltaWriterFactory(spoolDir, LakeDelta.spoolSchema(ref),
      ref.schema, key, ref.partCol,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(ref.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val committed = messages.collect {
        case m: LakeDeltaCommitMessage => m
      }
      val files = committed.flatMap(_.file).toSeq
      // quiet DML mints no version: history stays ∝ change
      if (committed.map(_.rows).sum == 0L || files.isEmpty) return
      // optimistic concurrency: the statement planned against the
      // version this table object pinned; if the pointer moved, the
      // matched set may be stale — refuse, never rebase silently
      val live = graft.ops.Sync.liveVersion(spark, ref.root)
      if (!live.contains(ref.version)) throw new IllegalStateException(
        s"graftlake: concurrent publish — this statement planned " +
          s"against ${ref.version} but the live version is now " +
          s"${live.getOrElse("<none>")}; re-run the statement")
      val fromV = ref.version.stripPrefix("v").toInt
      // D rows stamp below I/U so an identity-moving UPDATE (spooled
      // as D(old)+I(new)) nets correctly under latest-wins
      // read exactly the winners' files, never the whole dir — a
      // speculative loser's file must not double-apply its rows
      val changes = spark.read.schema(LakeDelta.spoolSchema(ref))
        .parquet(files: _*)
        .withColumn("version",
          when(col("op") === "D", lit(1L)).otherwise(lit(2L)))
      val published = graft.ops.Sync.cowApplyChanges(spark, ref.root,
        fromV, fromV + 1, key, changes).published
      if (!published) throw new IllegalStateException(
        "graftlake: the cow publish was refused (validation failed or " +
          "a concurrent publisher staged the same version) — no " +
          "reader-visible change was made; re-run the statement")
    } finally fs.delete(new Path(spoolDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    new Path(ref.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(spoolDir), true)
  }
}

final case class LakeDeltaCommitMessage(rows: Long, file: Option[String])
    extends WriterCommitMessage

final class LakeDeltaWriterFactory(spoolDir: String, spool: StructType,
    data: StructType, key: String, partCol: Option[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new LakeDeltaWriter(spoolDir, spool, data, key, partCol,
      partitionId, taskId, conf)
}

/** Executor-side spool: change rows land as ordinary parquet via
  * Spark's own `ParquetWriteSupport` (the codec the built-in sink
  * uses), one ATTEMPT-UNIQUE file per task (partitionId + taskId), and
  * the commit message names it — the driver reads exactly the files
  * the WINNING attempts reported, so a failed or speculative loser's
  * file is simply never read (the standard v2 commit protocol; the
  * spool dir delete at commit/abort sweeps orphans). */
final class LakeDeltaWriter(spoolDir: String, spool: StructType,
    data: StructType, key: String, partCol: Option[String],
    partitionId: Int, taskId: Long,
    serConf: org.apache.spark.util.SerializableConfiguration)
    extends DeltaWriter[InternalRow] {

  private val fileName =
    f"$spoolDir/delta-$partitionId%05d-$taskId%d.parquet"
  private val keyIdx = data.fieldNames.indexWhere(_.equalsIgnoreCase(key))
  // the row-id projection is [key] or [key, partCol] (rowId()); these
  // are the DATA-schema slots its fields copy back into
  private val idIdx: Array[Int] = keyIdx +: partCol.toArray.map(pc =>
    data.fieldNames.indexWhere(_.equalsIgnoreCase(pc)))
  private val opIdx = spool.length - 1
  private var rows = 0L
  private var writer: org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow] = _

  private def open(): Unit = if (writer == null) {
    // the JOB's Hadoop configuration, serialized from the driver at
    // factory construction — the same seam the read path threads
    // (LakeSource's reader factory), so programmatic filesystem
    // settings (object-store credentials, fs impls) reach the
    // executor-side spool write too; a bare `new Configuration()`
    // here was the r12 cluster-deployment gap
    val conf = new Configuration(serConf.value)
    ParquetWriteSupport.setSchema(spool, conf)
    // the conf keys ParquetUtils.prepareWrite sets for the built-in
    // sink; fixed here because no SQLConf exists executor-side
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    val fmt = new ParquetOutputFormat[InternalRow](new ParquetWriteSupport)
    writer = fmt.getRecordWriter(conf, new Path(fileName),
      CompressionCodecName.SNAPPY)
  }

  /** Copy a (possibly Unsafe) row's fields into a fresh spool row with
    * the op marker. */
  private def spoolRow(row: InternalRow, op: String,
      keyOnly: Boolean): InternalRow = {
    val out = new GenericInternalRow(spool.length)
    var i = 0
    while (i < data.length) {
      if ((!keyOnly || i == keyIdx) && !row.isNullAt(i))
        out.update(i, InternalRow.copyValue(
          row.get(i, data.fields(i).dataType)))
      i += 1
    }
    out.update(opIdx, org.apache.spark.unsafe.types.UTF8String
      .fromString(op))
    out
  }

  /** The delete spool row from the ROW-ID projection — the key, plus
    * the partition value on partitioned versions (partition-first
    * pruning needs it on the delete's wire). */
  private def spoolIdRow(id: InternalRow): InternalRow = {
    val out = new GenericInternalRow(spool.length)
    var i = 0
    while (i < idIdx.length) {
      if (!id.isNullAt(i))
        out.update(idIdx(i), InternalRow.copyValue(
          id.get(i, data.fields(idIdx(i)).dataType)))
      i += 1
    }
    out.update(opIdx, org.apache.spark.unsafe.types.UTF8String
      .fromString("D"))
    out
  }

  /** Has the row's IDENTITY moved (key, or partition on a partitioned
    * version)? A moved identity nets as delete(old)+insert(new). */
  private def idMoved(id: InternalRow, row: InternalRow): Boolean = {
    var i = 0
    while (i < idIdx.length) {
      val di = idIdx(i)
      val dt = data.fields(di).dataType
      val a = if (id.isNullAt(i)) null else id.get(i, dt)
      val b = if (row.isNullAt(di)) null else row.get(di, dt)
      if (a != b) return true
      i += 1
    }
    false
  }

  private def emit(r: InternalRow): Unit = {
    open(); writer.write(null, r); rows += 1
  }

  override def insert(row: InternalRow): Unit =
    emit(spoolRow(row, "I", keyOnly = false))

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    if (!idMoved(id, row)) emit(spoolRow(row, "U", keyOnly = false))
    else { // identity-moving UPDATE: delete the old, insert the new
      emit(spoolIdRow(id))
      emit(spoolRow(row, "I", keyOnly = false))
    }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    emit(spoolIdRow(id))

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close(null)
    LakeDeltaCommitMessage(rows,
      if (writer != null) Some(fileName) else None)
  }

  override def abort(): Unit = if (writer != null) writer.close(null)

  override def close(): Unit = ()
}
