package graft.sources.lake

import java.util.{List => JList, Map => JMap, OptionalLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** S19: DataSourceV2 connector for the published lake — the piece that
  * turns the y36–y49 transactional storage from a library API into a
  * first-class Spark TABLE:
  *
  *   spark.read.format("graftlake")
  *     .option("path", root).option("key", "o_orderkey")
  *     .option("version", 2)          // omit → live pointer
  *     .load()
  *
  * Everything the library read path (`Sync.readVersionLogical`) does is
  * re-expressed through the connector contract, where Catalyst can see
  * and use it:
  *
  *  - VERSION RESOLUTION happens once at table-load time (the pointer
  *    protocol's `_ptr_gen_*` resolve), so a query plans against one
  *    immutable version dir — snapshot isolation for free, and the same
  *    table object can be held across publishes without torn reads.
  *  - FILE PRUNING: pushed key filters (`EqualTo/In/range`) are
  *    intersected with the version's `_file_stats` key-span manifest in
  *    `planInputPartitions` — a point lookup on a key-clustered 100 TB
  *    table plans ONE input partition instead of all of them. The
  *    pushed filters are also handed back to Spark (`pushFilters`
  *    returns its input): span pruning is file-level, so Spark's
  *    row-level re-evaluation keeps exactness — same contract as
  *    parquet's own row-group skipping.
  *  - COLUMN PRUNING reaches the parquet decoder: only requested
  *    columns are materialized (`SupportsPushDownRequiredColumns` →
  *    the vectorized reader's requested schema).
  *  - VECTORIZED reads: clean versions scan as `ColumnarBatch`es
  *    through Spark's own `VectorizedParquetRecordReader` (the decoder
  *    the built-in parquet source uses), so the connector loses nothing
  *    to the native path. A DV-carrying version (y40 merge-on-read)
  *    degrades to row reads with the delta-sized deletion vector
  *    applied as a per-task hash-set probe — the executor-side analogue
  *    of `readPublishedMor`'s broadcast anti-join, chosen because a
  *    connector cannot inject a join above itself; the scheduled
  *    `dvFold` restores the columnar path, which is exactly the
  *    MOR trade (read tax until the fold).
  *  - SCHEMA EVOLUTION (y43): the version's `_schema` sidecar is the
  *    table schema; files that predate an added column return constant
  *    null vectors for it — zero data movement, same semantics as the
  *    library read.
  *  - STATISTICS (`SupportsReportStatistics`): size/row counts of the
  *    PRUNED file set from the manifest, so AQE and join planning see a
  *    post-pruning size (a span-pruned fact side can broadcast).
  *  - PARTITIONED VERSIONS (y49): `part=` subdirs are detected at load
  *    time; pushed equality/IN filters on the partition column prune
  *    whole partitions BEFORE key spans (the standard 100 TB fact
  *    layout reads one day, not all of them), and the partition column
  *    — absent from the data files — materializes as a constant vector
  *    per file, never decoded, never stored.
  *
  * Cluster-conf threading: the job's Hadoop configuration is captured
  * driver-side at `createReaderFactory` (a `SerializableConfiguration`
  * on [[LakeReaderFactory]]) and used for every executor-side touch —
  * footer reads, DV loads, and the vectorized decode itself (the
  * split-based initialize) — so programmatic filesystem settings
  * (object-store credentials, fs impls, IO tuning) reach the readers
  * exactly as they do in Spark's built-in sources.
  */
class LakeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlake"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeRef.resolve(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LakeTable(LakeRef.resolve(new CaseInsensitiveStringMap(properties)))
}

/** A resolved, immutable (version, schema, file set) snapshot — all the
  * driver-side metadata a scan needs, captured once at load time.
  * `partCol` is set for Y49 partitioned versions: file names are then
  * RELATIVE (`part=<v>/part-*.parquet`), each file carries its
  * partition value, and the partition column — absent from the data
  * files — materializes in the reader as a constant vector. */
final case class LakeRef(root: String, version: String, dir: String,
    schema: StructType, key: Option[String],
    files: Seq[LakeRef.FileStat], dvPath: Option[String],
    partCol: Option[String]) {
  def keyType: Option[DataType] =
    key.flatMap(k => schema.fields.find(_.name.equalsIgnoreCase(k))
      .map(_.dataType))
}

object LakeRef {
  /** One data file with its manifest span. `kmin`/`kmax` are None when
    * the version has no `_file_stats` (or the file holds only null
    * keys) — such files are never pruned. `part` is the partition
    * value's path rendering (Y49 layouts only). `dir` is the VERSION
    * DIR the file physically lives in (the r13 zero-copy carry: a
    * file version N references may sit in v{K<N}'s dir) — None means
    * the version's own dir. */
  final case class FileStat(name: String, kmin: Option[Any],
      kmax: Option[Any], rows: Long, bytes: Long,
      part: Option[String] = None, dir: Option[String] = None)

  def resolve(options: CaseInsensitiveStringMap): LakeRef = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graftlake: option 'path' (lake root) is required"))
    resolve(SparkSession.active, root,
      Option(options.get("version")), Option(options.get("key")))
  }

  def resolve(spark: SparkSession, root: String, version: Option[String],
      key: Option[String]): LakeRef = {
    import graft.ops.Sync
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vName = version.map(v => if (v.startsWith("v")) v else s"v$v")
      .getOrElse(Sync.liveVersion(spark, root).getOrElse(
        throw new IllegalStateException(
          s"graftlake: no published version under $root")))
    val dir = s"$root/$vName"
    if (!fs.exists(new Path(dir)))
      throw new IllegalStateException(
        s"graftlake: version dir $dir does not exist — never published, " +
          "or reaped by retention GC (pin it with a reader lease)")
    if (fs.exists(new Path(s"$dir/_REAPED")))
      throw new IllegalStateException(
        s"graftlake: $dir was reaped by retention GC — its remaining " +
          "files only back newer versions' manifests; pin versions " +
          "with a reader lease to time-travel them")
    // r13+ manifests carry `dir` + `bytes`: names, spans, row counts,
    // sizes, partition values, and PHYSICAL dirs all resolve from the
    // one metadata file — ZERO listing RPCs on the read path, and
    // zero-copy carried files (living in older version dirs) plan
    // correctly. Legacy/absent manifests fall back to the dir listing.
    val manifest: Option[Sync.LocalManifest] = {
      val statsPath = new Path(s"$dir/_file_stats")
      if (!fs.exists(statsPath)) None
      else {
        // signature-keyed cache (Sync.manifestLocal): repeat table
        // loads — every SQL statement resolves the table — cost one
        // listing, zero read jobs
        val lm = graft.ops.Sync.manifestLocal(spark, root, vName)
        if (lm.rawHasDirBytes) Some(lm) else None
      }
    }
    // The key column — and the partition column, when present —
    // surface NON-NULLABLE: they are the lake's row identity (span
    // manifests, DV probes, partition-first cow routing all key on
    // them), and row-level SQL requires a non-nullable row id. A
    // null-partition sentinel would make that claim a lie, so it
    // refuses loudly rather than silently mis-typing.
    def refuseNullPart(found: Boolean): Unit = require(!found,
      s"graftlake: $dir carries a null-partition sentinel — the " +
        "partition column is part of row identity and must be " +
        "non-null; route null partitions to an explicit value")
    val listed: Seq[FileStat] = manifest match {
      case Some(lm) => lm.rows.map(r => FileStat(r.getAs[String]("file"),
        Option(r.getAs[Any]("kmin")), Option(r.getAs[Any]("kmax")),
        r.getAs[Long]("n_rows"), r.getAs[Long]("bytes"),
        dir = Some(r.getAs[String]("dir"))))
      case None =>
        // a LEGACY manifest still feeds spans/row counts
        val spans: Map[String, (Option[Any], Option[Any], Long)] =
          if (!fs.exists(new Path(s"$dir/_file_stats"))) Map.empty
          else graft.ops.Sync.manifestLocal(spark, root, vName).rows
            .map { r =>
              r.getAs[String]("file") ->
                (Option(r.getAs[Any]("kmin")),
                  Option(r.getAs[Any]("kmax")),
                  r.getAs[Long]("n_rows"))
            }.toMap
        Sync.dataFiles(fs, dir).map { case (st, n) =>
          val (lo, hi, rows) = spans.getOrElse(n, (None, None, -1L))
          FileStat(n, lo, hi, rows, st.getLen)
        }
    }
    val partCol = Sync.partColIn(listed.map(_.name))
    refuseNullPart(listed.exists(
      _.name.contains("=__HIVE_DEFAULT_PARTITION__/")))
    // a partitioned file's value is its `<col>=<v>/` dir's rendering
    val files = listed.sortBy(_.name).map(f =>
      if (partCol.isEmpty) f
      else f.copy(part = Some(f.name.split("/", 2)(0).split("=", 2)(1))))
    // versionSchema resolves a metadata-only version (zero local data
    // files) through its manifest; partitioned schemas include the
    // inferred partition column either way.
    val idCols = key.toSeq ++ partCol.toSeq
    val schema = StructType(Sync.versionSchema(spark, dir).fields.map(f =>
      if (idCols.exists(_.equalsIgnoreCase(f.name)))
        f.copy(nullable = false)
      else f))
    val dvPath =
      if (fs.exists(new Path(s"$dir/_deletes"))) Some(s"$dir/_deletes")
      else None
    if (dvPath.nonEmpty && key.isEmpty)
      throw new IllegalArgumentException(
        s"graftlake: $dir carries a deletion vector; option 'key' is " +
          "required so the reader can subtract it (or dvFold the version)")
    LakeRef(root, vName, dir, schema, key, files, dvPath, partCol)
  }
}

final class LakeTable(ref: LakeRef) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graftlake ${ref.root} @ ${ref.version}"
  override def schema(): StructType = ref.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new LakeScanBuilder(ref)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeWriteBuilder(ref)
  /** S21: SQL DELETE/UPDATE/MERGE — see [[LakeRowLevelBuilder]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new LakeRowLevelBuilder(ref, info)
}

/** The write half: `INSERT INTO` (append) and `INSERT OVERWRITE`
  * (truncate) both land on `Sync.appendPublish` — a STAGED, VALIDATED,
  * POINTER-COMMITTED new version, never an in-place mutation. The
  * `V1Write` seam hands the whole incoming DataFrame to the publish
  * protocol on the driver, which is exactly right here: the protocol's
  * value IS its single commit point, and the data path inside it is
  * ordinary distributed parquet writes. Appends are frontier moves
  * (old files + manifest rows carry verbatim, cost ∝ batch); an
  * appended key that the carried deletion vector holds is re-asserted
  * (resurrected), mirroring MERGE's only-reasserted rule. The write
  * lands on the LIVE version at insert time (not the version this
  * table object resolved for reads) — last-writer-wins on the pointer,
  * serialized by the publish protocol itself. */
final class LakeWriteBuilder(ref: LakeRef) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            v1Overwrite: Boolean): Unit = {
          val key = ref.key.getOrElse(throw new IllegalArgumentException(
            "graftlake: writes need option 'key' (catalog: " +
              "key.<table>) to maintain the span manifest"))
          val ok = graft.ops.Sync.appendPublish(SparkSession.active,
            ref.root, key, data, overwrite || v1Overwrite)
          if (!ok) throw new IllegalStateException(
            s"graftlake: publish of the ${if (overwrite) "overwrite"
              else "append"} version was refused (validation failed " +
              "or a concurrent publisher staged the same version) — " +
              "no reader-visible change was made; retry")
        }
      }
  }
}

/** File-span pruning: decide whether a file MAY contain a row
  * satisfying a pushed key filter. Conservative by construction — a
  * file with no span survives everything, and only the five exact
  * single-column shapes prune. Values compare as BigDecimal when both
  * sides are numeric (filter literals arrive as the narrowest JVM type
  * Catalyst chose, not necessarily the column's), else via Comparable
  * when classes match. */
private[lake] object SpanPrune {
  private[lake] def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    // null on either side: no ordering — callers' forall(...) keeps
    // the file (conservative), and the null-literal shapes below
    // never reach here. Matched FIRST because the class-equality
    // guard would otherwise dereference a null side.
    case (null, _) | (_, null) => None
    case (x: Number, y: Number) =>
      Some(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)))
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      Some(x.asInstanceOf[Comparable[Any]].compareTo(y))
    case _ => None
  }

  /** Is this a filter the manifest can prune files with? */
  def prunable(f: Filter, key: String): Boolean = f match {
    case EqualTo(a, _) => a.equalsIgnoreCase(key)
    case GreaterThan(a, _) => a.equalsIgnoreCase(key)
    case GreaterThanOrEqual(a, _) => a.equalsIgnoreCase(key)
    case LessThan(a, _) => a.equalsIgnoreCase(key)
    case LessThanOrEqual(a, _) => a.equalsIgnoreCase(key)
    case In(a, vs) => a.equalsIgnoreCase(key) && vs.nonEmpty
    case _ => false
  }

  /** Partition-column filters prune on the manifest's path-rendered
    * value — equality shapes only (range semantics on a string
    * rendering would silently mis-prune numerics). */
  def partPrunable(f: Filter, partCol: String): Boolean = f match {
    case EqualTo(a, _) => a.equalsIgnoreCase(partCol)
    case In(a, vs) => a.equalsIgnoreCase(partCol) && vs.nonEmpty
    case _ => false
  }

  def mayMatchPart(file: LakeRef.FileStat, f: Filter): Boolean =
    file.part match {
      case Some(pv) => f match {
        case EqualTo(_, v) => v != null && pv == v.toString
        case In(_, vs) => vs.exists(v => v != null && pv == v.toString)
        case _ => true
      }
      case None => true
    }

  /** May `file` contain a row passing `f`? (true = keep the file) */
  def mayMatch(file: LakeRef.FileStat, f: Filter): Boolean =
    (file.kmin, file.kmax) match {
      case (Some(lo), Some(hi)) => f match {
        // a null comparison value can never match a row (SQL: `k = NULL`
        // is unknown, a NULL element of an IN list matches nothing), so
        // `= NULL` prunes every file and In skips null elements — an
        // `In(k, [1, NULL])` arrives legally from `WHERE k IN (1, NULL)`
        case EqualTo(_, null) => false
        case EqualTo(_, v) =>
          cmp(lo, v).forall(_ <= 0) && cmp(v, hi).forall(_ <= 0)
        case GreaterThan(_, v) => cmp(hi, v).forall(_ > 0)
        case GreaterThanOrEqual(_, v) => cmp(hi, v).forall(_ >= 0)
        case LessThan(_, v) => cmp(lo, v).forall(_ < 0)
        case LessThanOrEqual(_, v) => cmp(lo, v).forall(_ <= 0)
        case In(_, vs) => vs.exists(v => v != null &&
          cmp(lo, v).forall(_ <= 0) && cmp(v, hi).forall(_ <= 0))
        case _ => true
      }
      case _ => true // no span recorded — never prune
    }
}

final class LakeScanBuilder(ref: LakeRef) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = ref.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None
  private var limit: Option[Int] = None

  /** LIMIT trims the PLANNED FILE SET: any N files whose manifest rows
    * already cover the limit satisfy an unordered LIMIT, so a
    * `LIMIT 10` on a million-file table plans one file. Partial
    * pushdown — Spark still applies the row-exact limit above; the
    * connector only refuses to read files that cannot matter. Declined
    * under a DV (a file's logical rows < its manifest rows) or a
    * missing row count. */
  override def pushLimit(n: Int): Boolean = {
    if (ref.dvPath.nonEmpty || ref.files.exists(_.rows < 0)) false
    else { limit = Some(n); true }
  }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      ref.key.exists(SpanPrune.prunable(f, _)) ||
        ref.partCol.exists(SpanPrune.partPrunable(f, _)))
    // span/partition pruning is file-level: every filter is handed
    // back so Spark re-evaluates row-exact semantics above the scan
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** METADATA-ONLY AGGREGATES: an unfiltered COUNT(*) / MIN(key) /
    * MAX(key) over a clean version is already answered by the
    * manifest — row counts sum, spans fold — so the whole query costs
    * zero data IO regardless of table size (the same trick Delta
    * plays with its commit stats). Declined whenever exactness could
    * slip: any filter (Spark only offers the pushdown when it kept no
    * post-scan filters, but belt and braces), a deletion vector
    * (counts/extremes would need the DV subtracted against actual
    * content), a file without manifest rows, or a span the key-type
    * comparison can't order. */
  private def computeAgg(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.length == 1 &&
          ref.key.exists(_.equalsIgnoreCase(nr.fieldNames()(0)))
      case _ => false
    }
    // grouping: none, or exactly the partition column (Y49) — then the
    // manifest's per-file partition values key the fold and the result
    // is one row per partition, still zero data IO ("rows per day" on
    // a date-partitioned fact is THE warehouse metadata query)
    val groupByPart = a.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(e: org.apache.spark.sql.connector.expressions.NamedReference)
        if e.fieldNames.length == 1 &&
          ref.partCol.exists(_.equalsIgnoreCase(e.fieldNames()(0))) => true
      case _ => return None
    }
    if (pushed.nonEmpty || ref.dvPath.nonEmpty || ref.files.isEmpty)
      return None
    if (groupByPart && ref.files.exists(_.part.isEmpty)) return None
    val kType = ref.keyType
    val groups: Seq[(Option[String], Seq[LakeRef.FileStat])] =
      if (groupByPart)
        ref.files.groupBy(_.part).toSeq.sortBy(_._1.getOrElse(""))
      else Seq((None, ref.files))
    def foldGroup(files: Seq[LakeRef.FileStat])
        : Option[Seq[(StructField, Any)]] = {
      val cols = a.aggregateExpressions.toSeq.map {
        case _: CountStar if files.forall(_.rows >= 0) =>
          Some((StructField("count_star", LongType),
            files.map(_.rows).sum: Any))
        case m: Min if keyRef(m.column) && kType.nonEmpty &&
            files.forall(_.kmin.nonEmpty) =>
          files.flatMap(_.kmin).reduceLeftOption((x, y) =>
            SpanPrune.cmp(x, y) match {
              case Some(c) => if (c <= 0) x else y
              case None => return None
            }).map(v => (StructField("min_key", kType.get), v))
        case m: Max if keyRef(m.column) && kType.nonEmpty &&
            files.forall(_.kmax.nonEmpty) =>
          files.flatMap(_.kmax).reduceLeftOption((x, y) =>
            SpanPrune.cmp(x, y) match {
              case Some(c) => if (c >= 0) x else y
              case None => return None
            }).map(v => (StructField("max_key", kType.get), v))
        case _ => None
      }
      if (cols.exists(_.isEmpty)) None else Some(cols.flatten)
    }
    val folded = groups.map { case (pv, files) =>
      foldGroup(files).map(cols => (pv, cols))
    }
    if (folded.exists(_.isEmpty)) return None
    val rows = folded.flatten
    val aggFields = rows.head._2.map(_._1)
    val partType = ref.partCol.flatMap(c =>
      ref.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
    val schema =
      if (groupByPart)
        StructType(StructField(ref.partCol.get, partType.get) +: aggFields)
      else StructType(aggFields)
    // values per output row; partition values parse from their path
    // rendering exactly as the constant-vector reader does
    val out = rows.map { case (pv, cols) =>
      val aggVals = cols.map(_._2)
      if (groupByPart) {
        val raw = pv.get
        val v: Any =
          if (raw == "__HIVE_DEFAULT_PARTITION__") null
          else partType.get match {
            case org.apache.spark.sql.types.StringType => raw
            case org.apache.spark.sql.types.LongType => raw.toLong
            case org.apache.spark.sql.types.IntegerType => raw.toInt
            case org.apache.spark.sql.types.DoubleType => raw.toDouble
            case org.apache.spark.sql.types.DateType =>
              java.sql.Date.valueOf(raw)
            case _ => return None
          }
        v +: aggVals
      } else aggVals
    }
    Some((schema, out))
  }

  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeAgg(a).isDefined

  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = computeAgg(a)
    aggResult.nonEmpty
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new LakeAggScan(ref, schema, values)
    case None => new LakeScan(ref, required, pushed, limit)
  }
}

/** The scan a fully-pushed manifest aggregate resolves to: one row
  * (global fold) or one row per partition value (GROUP BY partCol). */
final class LakeAggScan(ref: LakeRef, out: StructType,
    values: Seq[Seq[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = out
  override def description(): String =
    s"graftlake ${ref.root} @ ${ref.version}, " +
      s"PushedAggregates (manifest-only): ${out.fieldNames.mkString(", ")}" +
      s", rows=${values.length}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeFilePartition("<manifest>", values.length.toLong))
  override def createReaderFactory(): PartitionReaderFactory = {
    val rows = values.map(_.map(org.apache.spark.sql.catalyst
      .CatalystTypeConverters.convertToCatalyst).toArray)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = rows.iterator
          private var row: Array[Any] = _
          override def next(): Boolean =
            if (it.hasNext) { row = it.next(); true } else false
          override def get(): InternalRow = new GenericInternalRow(row)
          override def close(): Unit = ()
        }
    }
  }
}

final case class LakeFilePartition(path: String, rows: Long,
    partValue: Option[String] = None) extends InputPartition

final class LakeScan(ref: LakeRef, required: StructType,
    pushed: Array[Filter], limit: Option[Int] = None) extends Scan
    with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime (DPP-style) filters: a join against this table can push
    * the build side's key/partition values here AT EXECUTION TIME —
    * Spark re-plans the scan after `filter()`, so a fact-side lake
    * scan joined to a filtered dimension reads only the files whose
    * spans/partitions the dimension actually references. This is the
    * connector analogue of dynamic partition pruning, and on a 100 TB
    * key-clustered table it is routinely a bigger lever than the
    * static pushdown. */
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (ref.key.toSeq ++ ref.partCol.toSeq)
      // only columns this scan actually OUTPUTS: Spark resolves these
      // against the (column-pruned) scan output and THROWS on a miss —
      // a key projected out of a DPP-joined scan would kill the query
      .filter(c => required.fieldNames.exists(_.equalsIgnoreCase(c)))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(f =>
      ref.key.exists(SpanPrune.prunable(f, _)) ||
        ref.partCol.exists(SpanPrune.partPrunable(f, _)))

  private def pruned: Seq[LakeRef.FileStat] = {
    val filtered = ref.files.filter { f =>
      (pushed ++ runtime).forall { p =>
        val keyOk = if (ref.key.exists(SpanPrune.prunable(p, _)))
          SpanPrune.mayMatch(f, p) else true
        val partOk = if (ref.partCol.exists(SpanPrune.partPrunable(p, _)))
          SpanPrune.mayMatchPart(f, p) else true
        keyOk && partOk
      }
    }
    limit match {
      // Spark only pushes a limit when no post-scan filter sits above
      // the relation (and we hand every filter back, so one always
      // does) — but guard anyway: with ANY filter in play a file's
      // MATCHING rows can be fewer than its manifest rows, and
      // trimming by total counts could under-return.
      case Some(n) if pushed.isEmpty && runtime.isEmpty =>
        var need = n.toLong
        filtered.takeWhile { f =>
          val take = need > 0; need -= f.rows; take
        }
      case _ => filtered
    }
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"graftlake ${ref.root} @ ${ref.version}, " +
      s"files=${pruned.length}/${ref.files.length}" +
      (if (pushed.nonEmpty) s", PushedKeySpanFilters: [${pushed.mkString(", ")}]"
       else "") +
      (if (ref.dvPath.nonEmpty) ", mor=deletion-vector" else "")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    pruned.map(f =>
      LakeFilePartition(
        f.dir.fold(s"${ref.dir}/${f.name}")(d =>
          s"${ref.root}/$d/${f.name}"),
        f.rows, f.part)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(required,
      ref.key, ref.keyType, ref.dvPath, 4096, ref.partCol,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))

  /** Post-pruning estimates from the manifest — what makes a span-
    * pruned scan broadcastable in the eyes of join planning. Row
    * counts fall back to size-only when a file has no manifest row. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, pruned.map(_.bytes).sum))
    override def numRows(): OptionalLong =
      if (pruned.exists(_.rows < 0)) OptionalLong.empty()
      else OptionalLong.of(pruned.map(_.rows).sum)
  }
}

/** `conf` is the JOB's serialized Hadoop configuration, captured
  * driver-side at factory construction and carried to every task —
  * the piece a cluster deployment needs so programmatic filesystem
  * settings (object-store credentials, fs impls, IO tuning) reach the
  * executor-side footer reads, DV loads, and vectorized decodes. */
final class LakeReaderFactory(required: StructType, key: Option[String],
    keyType: Option[DataType], dvPath: Option[String], capacity: Int,
    partCol: Option[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  private def constantsOf(p: InputPartition): Map[String, String] =
    (partCol, p.asInstanceOf[LakeFilePartition].partValue) match {
      case (Some(c), Some(v)) => Map(c -> v)
      case _ => Map.empty
    }

  override def supportColumnarReads(p: InputPartition): Boolean =
    dvPath.isEmpty

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new LakeColumnarReader(
      p.asInstanceOf[LakeFilePartition].path, required, capacity,
      constantsOf(p), conf.value)

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = dvPath match {
    case Some(dv) =>
      new LakeMorRowReader(p.asInstanceOf[LakeFilePartition].path,
        required, key.get, keyType.get, dv, capacity, constantsOf(p),
        conf.value)
    case None => // row-wise view over the columnar reader
      val inner = createColumnarReader(p)
      new PartitionReader[InternalRow] {
        private var it: java.util.Iterator[InternalRow] = _
        private var row: InternalRow = _
        override def next(): Boolean = {
          while ((it == null || !it.hasNext) && inner.next())
            it = inner.get().rowIterator()
          if (it != null && it.hasNext) { row = it.next(); true }
          else false
        }
        override def get(): InternalRow = row
        override def close(): Unit = inner.close()
      }
  }
}

private object LakeRead {
  /** Field names physically present in a parquet file (footer read —
    * one small ranged GET per task on an object store). */
  def fileFields(path: String, conf: Configuration): Set[String] = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try rd.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSet
    finally rd.close()
  }

  def rowCount(path: String, conf: Configuration): Long = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf))
    try rd.getRecordCount finally rd.close()
  }

  /** Open a file through Spark's vectorized decoder WITH the job's
    * Hadoop conf (the split-based initialize — the cluster-honest
    * path: filesystem impls, credentials, and IO tuning set on the
    * job reach every ranged read). The five decode-semantics flags
    * are pinned to the same values the decoder's own test-facing
    * String initializer uses, so behavior is identical to the
    * pre-threading reader; the requested schema rides the standard
    * conf key (only file-present columns — evolution's added columns
    * materialize as constant null vectors above, never here). */
  def open(path: String, requested: StructType, capacity: Int,
      base: Configuration): VectorizedParquetRecordReader = {
    val conf = new Configuration(base)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet" +
        ".ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      requested.json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", false)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", false)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    val p = new Path(path)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    // the decoder downcasts to the mapred-API split internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      p, 0, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new VectorizedParquetRecordReader(false, capacity)
    r.initialize(split, ctx)
    r
  }

  /** A constant vector for a Y49 partition value (its path rendering,
    * parsed back to the column's inferred type — Hive's convention,
    * including the null-partition sentinel). */
  def constantVector(capacity: Int, dt: DataType, raw: String)
      : ConstantColumnVector = {
    import org.apache.spark.sql.types._
    val c = new ConstantColumnVector(capacity, dt)
    if (raw == "__HIVE_DEFAULT_PARTITION__") c.setNull()
    else dt match {
      case StringType =>
        c.setUtf8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      case LongType => c.setLong(raw.toLong)
      case IntegerType => c.setInt(raw.toInt)
      case ShortType => c.setShort(raw.toShort)
      case DoubleType => c.setDouble(raw.toDouble)
      case FloatType => c.setFloat(raw.toFloat)
      case BooleanType => c.setBoolean(raw.toBoolean)
      case DateType => c.setInt(java.time.LocalDate.parse(raw)
        .toEpochDay.toInt)
      case other => throw new UnsupportedOperationException(
        s"graftlake: partition column type $other is not supported")
    }
    c
  }

  /** Load a version's deletion-vector keys into a per-task probe set.
    * The DV is delta-sized by the y40 contract (dvFold bounds growth);
    * the cap turns a silently melting executor into a loud instruction
    * to fold. Values are deep-copied — the decoder reuses buffers. */
  def dvKeys(dvDir: String, key: String, keyType: DataType,
      conf: Configuration): java.util.HashSet[Any] = {
    val fs = new Path(dvDir).getFileSystem(conf)
    val parts = fs.listStatus(new Path(dvDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val set = new java.util.HashSet[Any]()
    parts.foreach { st =>
      val r = open(st.getPath.toString,
        StructType(Seq(StructField(key, keyType))), capacity = 4096,
        conf)
      try {
        val batch = r.resultBatch() // allocates the batch vectors
        while (r.nextBatch()) {
          val it = batch.rowIterator()
          while (it.hasNext) {
            set.add(InternalRow.copyValue(it.next().get(0, keyType)))
            if (set.size() > 10000000) throw new IllegalStateException(
              s"graftlake: deletion vector $dvDir exceeds 10M keys — " +
                "run dvFold before reading this version through the " +
                "connector")
          }
        }
      } finally r.close()
    }
    set
  }
}

/** Vectorized reader for one file: requested columns decode through
  * Spark's own parquet decoder; columns the file predates (y43
  * evolution) surface as constant-null vectors; a Y49 partition column
  * (absent from data files by construction) surfaces as a constant
  * vector carrying the file's partition value; an empty projection
  * (count(*), or a projection entirely of constant columns)
  * short-circuits to footer-count batches with zero data IO. */
final class LakeColumnarReader(path: String, required: StructType,
    capacity: Int, constants: Map[String, String] = Map.empty,
    conf: Configuration = new Configuration())
    extends PartitionReader[ColumnarBatch] {

  private val present = LakeRead.fileFields(path, conf)
  // requested fields surface nullable: the decoder validates the
  // file's repetition against the schema, and lake files write every
  // column optional (the key's non-null contract is metadata-level)
  private val readFields = required.fields
    .filter(f => present.contains(f.name) && !constants.contains(f.name))
    .map(_.copy(nullable = true))

  private val reader =
    if (readFields.isEmpty) null
    else LakeRead.open(path, StructType(readFields), capacity, conf)
  private var remaining = // footer-count path only
    if (readFields.isEmpty) LakeRead.rowCount(path, conf) else 0L
  private val inner = if (reader == null) null else reader.resultBatch()

  private val out: ColumnarBatch = {
    val vecs = new Array[ColumnVector](required.length)
    var pi = 0
    required.fields.zipWithIndex.foreach { case (f, i) =>
      if (constants.contains(f.name))
        vecs(i) = LakeRead.constantVector(capacity, f.dataType,
          constants(f.name))
      else if (present.contains(f.name)) {
        vecs(i) = inner.column(pi); pi += 1
      } else {
        val c = new ConstantColumnVector(capacity, f.dataType)
        c.setNull()
        vecs(i) = c
      }
    }
    new ColumnarBatch(vecs)
  }
  private var lastRows = 0

  override def next(): Boolean =
    if (reader != null) {
      val has = reader.nextBatch()
      if (has) lastRows = inner.numRows()
      has
    } else if (remaining > 0) {
      lastRows = math.min(capacity.toLong, remaining).toInt
      remaining -= lastRows
      true
    } else false

  override def get(): ColumnarBatch = { out.setNumRows(lastRows); out }

  override def close(): Unit = if (reader != null) reader.close()
}

/** Merge-on-read row reader: decode vectorized, probe each row's key
  * against the deletion-vector set, emit survivors. The key column is
  * force-included in the read schema and projected back out when the
  * query didn't ask for it. Rows are copied on emit — the batch
  * buffers are reused by the decoder and Spark may buffer rows. */
final class LakeMorRowReader(path: String, required: StructType,
    key: String, keyType: DataType, dvDir: String, capacity: Int,
    constants: Map[String, String] = Map.empty,
    conf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {

  private val hasKey = required.fields.exists(_.name.equalsIgnoreCase(key))
  private val readSchema =
    if (hasKey) required
    else StructType(required.fields :+ StructField(key, keyType))
  private val keyIdx =
    readSchema.fields.indexWhere(_.name.equalsIgnoreCase(key))
  private val dv = LakeRead.dvKeys(dvDir, key, keyType, conf)
  private val inner =
    new LakeColumnarReader(path, readSchema, capacity, constants, conf)
  private var it: java.util.Iterator[InternalRow] = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      while (it != null && it.hasNext) {
        val r = it.next()
        if (!dv.contains(r.get(keyIdx, keyType))) { row = r; return true }
      }
      if (!inner.next()) return false
      it = inner.get().rowIterator()
    }
    false
  }

  override def get(): InternalRow = {
    val copied = row.copy()
    if (hasKey) copied
    else new GenericInternalRow(Array.tabulate[Any](required.length)(i =>
      copied.get(i, required.fields(i).dataType)))
  }

  override def close(): Unit = inner.close()
}
