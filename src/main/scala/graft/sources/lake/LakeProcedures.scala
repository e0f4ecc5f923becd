package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Sync

/** S22: the lake's MAINTENANCE VERBS as SQL procedures — Spark 4's
  * `ProcedureCatalog` surface, so an operator (or a scheduler emitting
  * plain SQL) runs the table-keeping jobs without touching the Scala
  * API:
  *
  *   CALL glake.system.compact(table => 'orders_t', target_mb => 128)
  *   CALL glake.system.gc(table => 'orders_t', keep => 2)
  *   CALL glake.system.dv_fold(table => 'orders_t')
  *   CALL glake.system.rollback(table => 'orders_t', version => 3)
  *
  * Each delegates to the engine primitive every library caller uses —
  * `compactPublished` (y39 incremental bin-pack, span-adjacent groups,
  * byte-verbatim carry), `gcPublished` (y37 retention, reader leases
  * honored), `dvFold` (y40's debt payment), `rollbackTo` (the pointer
  * protocol's git-revert: a NEW generation naming an OLD version, zero
  * data movement) — and returns its report as the procedure's result
  * rows, so the caller sees exactly what the job did (files rewritten,
  * versions reaped, leases that pinned). DDL stays refused; these are
  * the ONLY mutations the catalog exposes besides DML, and every one
  * goes through the staged publish / pointer protocol.
  */
private[lake] object LakeProcedures {

  val names: Seq[String] = Seq("compact", "gc", "dv_fold", "rollback")

  def load(catalogRoot: String, keyFor: String => Option[String],
      ident: Identifier): UnboundProcedure = {
    val procName = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (!names.contains(procName))
      throw new IllegalArgumentException(
        s"graftlake: unknown procedure '${ident.name}' — available: " +
          names.mkString(", "))
    new UnboundProcedure {
      // named val, NOT `name` — `override def name() = name` would
      // recurse into itself (the parameter is shadowed by the method)
      override def name(): String = procName
      override def description(): String =
        s"graftlake maintenance procedure $procName"
      override def bind(inputType: StructType): BoundProcedure =
        bound(catalogRoot, keyFor, procName)
    }
  }

  private def param(n: String, dt: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(n, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private def bound(root: String, keyFor: String => Option[String],
      procName: String): BoundProcedure = new BoundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graftlake maintenance procedure $procName"
    override def isDeterministic: Boolean = false // mutates the lake

    override def parameters(): Array[ProcedureParameter] = procName match {
      case "compact" => Array(param("table", StringType),
        param("target_mb", IntegerType, Some("128")))
      case "gc" => Array(param("table", StringType),
        param("keep", IntegerType, Some("2")))
      case "dv_fold" => Array(param("table", StringType))
      case "rollback" => Array(param("table", StringType),
        param("version", IntegerType))
    }

    override def call(input: InternalRow)
        : java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val table = input.getUTF8String(0).toString
      val tableRoot = s"$root/$table"
      def key: String = keyFor(table).getOrElse(
        throw new IllegalArgumentException(
          s"graftlake: procedure $procName needs the key option " +
            s"(spark.sql.catalog.<cat>.key.$table)"))
      def liveV: Int = Sync.liveVersion(spark, tableRoot).getOrElse(
        throw new IllegalStateException(
          s"graftlake: no published version under $tableRoot"))
        .stripPrefix("v").toInt
      val (schema, row): (StructType, Seq[Any]) = procName match {
        case "compact" =>
          val v = liveV
          val target = input.getInt(1).toLong * 1024 * 1024
          // partitioned versions bin-pack per partition, layout kept
          val rep = Sync.compactPublished(spark, tableRoot,
            v, v + 1, key, target)
          (StructType(Seq(
            StructField("from_version", IntegerType),
            StructField("to_version", IntegerType),
            StructField("total_files", IntegerType),
            StructField("rewritten_files", IntegerType),
            StructField("published", BooleanType))),
            Seq(v, v + 1, rep.nFilesTotal, rep.nFilesRewritten,
              rep.published))
        case "gc" =>
          val rep = Sync.gcPublished(spark, tableRoot, input.getInt(1))
          (StructType(Seq(
            StructField("n_deleted", IntegerType),
            StructField("n_pinned_kept", IntegerType),
            StructField("n_ptr_gens_trimmed", IntegerType))),
            Seq(rep.deleted.size, rep.pinnedKept.size,
              rep.trimmedPtrGens.size))
        case "dv_fold" =>
          val v = liveV
          // a deletion vector is keyed on the key alone, while a
          // partitioned row's identity is (partition, key): the fold's
          // D batch could not name the partition of the rows it removes
          if (Sync.partColOf(spark, tableRoot, s"v$v").nonEmpty)
            throw new UnsupportedOperationException(
              "graftlake: procedure dv_fold on a PARTITIONED version is " +
                "not supported — the fold is a flat-only rewrite and a " +
                "deletion vector is keyed on the key alone")
          val fs = new org.apache.hadoop.fs.Path(tableRoot)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(new org.apache.hadoop.fs.Path(
            s"$tableRoot/v$v/_deletes")))
            throw new IllegalStateException(
              s"graftlake: v$v of $table carries no deletion vector — " +
                "nothing to fold")
          val rep = Sync.dvFold(spark, tableRoot, v, v + 1, key)
          (StructType(Seq(
            StructField("from_version", IntegerType),
            StructField("to_version", IntegerType),
            StructField("rewritten_files", IntegerType),
            StructField("published", BooleanType))),
            Seq(v, v + 1, rep.nFilesRewritten, rep.published))
        case "rollback" =>
          val target = input.getInt(1)
          Sync.rollbackTo(spark, tableRoot, target)
          (StructType(Seq(
            StructField("live_version", StringType))),
            Seq(UTF8String.fromString(s"v$target")))
      }
      java.util.Collections.singletonList(
        new LakeLocalScan(s"graftlake procedure $procName", schema,
          Seq(row)): Scan).iterator()
    }
  }
}

/** A driver-computed procedure result: Spark's procedure invocation
  * (InvokeProcedures) accepts only `LocalScan` outputs — the report is
  * already on the driver, so that is also the honest shape. Values
  * must be Catalyst-internal (UTF8String for strings). */
final class LakeLocalScan(desc: String, out: StructType,
    data: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = out
  override def description(): String = desc
  override def rows(): Array[InternalRow] =
    data.map(r => new GenericInternalRow(r.toArray): InternalRow).toArray
}
