package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Manifest stats from parquet FOOTERS — the production writer's path.
  *
  * Every publish needs one manifest row per staged file: (key min, key
  * max, row count, size). Pre-r13 the engine derived them by RE-READING
  * the just-written files through a full Spark job
  * (`read.parquet(dir).groupBy(file).agg(min,max,count)`), i.e. every
  * publish paid a second scan of its own output plus a job's fixed
  * scheduling cost — pure overhead the guide's "don't compute things
  * you throw away" rule names (§1.2): parquet already wrote exact
  * column statistics and row counts into each footer. This helper
  * sweeps the footers driver-side on a small thread pool instead —
  * microseconds per file, zero Spark jobs, zero data-page IO.
  *
  * Scale note: the sweep is per-publish CHURN-sized (only rewritten
  * files need fresh stats; carried files keep their manifest rows), so
  * driver-side is the right home even at 100 TB — the same place
  * Delta/Iceberg writers assemble commit stats. A real cluster writer
  * would capture the stats at write time from its own task results;
  * this sweep is the library-side equivalent over the same footers.
  *
  * Exactness gate: footer min/max is trusted only for physical
  * INT32/INT64/FLOAT/DOUBLE key columns WITHOUT a re-interpreting
  * logical type (dates, decimals, timestamps re-map the physical
  * value; binary/string stats may be truncated by the writer). Any
  * other key type — or any file whose footer lacks usable stats —
  * returns None and the caller falls back to the Spark scan, so the
  * manifest is never less exact than before.
  */
private[graft] object FooterStats {

  /** One staged file's manifest ingredients. kmin/kmax are null iff
    * the file holds only null keys (matching the SQL agg the fallback
    * computes). */
  final case class FileStat(name: String, nRows: Long,
      kmin: Any, kmax: Any, bytes: Long)

  private def intReinterprets(
      lt: org.apache.parquet.schema.LogicalTypeAnnotation): Boolean =
    lt match {
      // signed INT(8)/INT(16) re-interpret for OUR purposes: Spark
      // scans them as Byte/ShortType while the physical chunk is
      // INT32, so a footer-typed manifest (IntegerType) would mismatch
      // a scan-typed carried manifest and crash the kt==carriedKt
      // gate instead of falling back. Only full-width signed ints are
      // identity-mapped.
      case i: org.apache.parquet.schema.LogicalTypeAnnotation
        .IntLogicalTypeAnnotation => !i.isSigned || i.getBitWidth < 32
      case _ => true // DATE/DECIMAL/TIME/TIMESTAMP/... re-map the value
    }

  /** Sweep the footers of `files` (absolute statuses) for key-column
    * stats. Returns the key's SPARK type (for the manifest schema) and
    * one FileStat per file; None when any file's stats cannot be
    * trusted — caller falls back to the Spark scan. `rel` maps a
    * status to the manifest-relative file name. */
  def sweep(conf: Configuration, files: Seq[FileStatus], key: String,
      rel: FileStatus => String)
      : Option[(org.apache.spark.sql.types.DataType, Seq[FileStat])] = {
    if (files.isEmpty) return None // no type evidence — caller decides
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, files.size))
    try {
      val tasks = files.map { st =>
        pool.submit(new java.util.concurrent.Callable[
            Option[(org.apache.spark.sql.types.DataType, FileStat)]] {
          override def call()
              : Option[(org.apache.spark.sql.types.DataType, FileStat)] =
            readOne(conf, st, key)
              .map { case (dt, fs) => (dt, fs.copy(name = rel(st))) }
        })
      }
      val out = tasks.map(_.get())
      if (out.forall(_.isDefined)) {
        val dts = out.map(_.get._1).distinct
        if (dts.size == 1) Some((dts.head, out.map(_.get._2))) else None
      } else None
    } finally pool.shutdown()
  }

  /** Do the footers of `files` PROVE that no row holds a null in any
    * of `cols`? Every row group must record a null count of zero for
    * each column; a missing column or an unset count answers false, so
    * the caller can only err towards its slower path. */
  def nullFree(conf: Configuration, files: Seq[FileStatus],
      cols: Seq[String]): Boolean =
    files.forall { st =>
      try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(st, conf))
        try {
          val blocks = reader.getFooter.getBlocks
          (0 until blocks.size()).forall { i =>
            val chunks = blocks.get(i).getColumns
            cols.forall(c => (0 until chunks.size()).exists { j =>
              val ch = chunks.get(j)
              val stats = ch.getStatistics
              ch.getPath.toDotString == c && stats != null &&
                stats.isNumNullsSet && stats.getNumNulls == 0L
            })
          }
        } finally reader.close()
      } catch { case _: Exception => false }
    }

  private def sparkTypeOf(ptn: PrimitiveTypeName)
      : org.apache.spark.sql.types.DataType = ptn match {
    case PrimitiveTypeName.INT64 => org.apache.spark.sql.types.LongType
    case PrimitiveTypeName.INT32 => org.apache.spark.sql.types.IntegerType
    case PrimitiveTypeName.DOUBLE => org.apache.spark.sql.types.DoubleType
    case _ => org.apache.spark.sql.types.FloatType
  }

  private def readOne(conf: Configuration, st: FileStatus, key: String)
      : Option[(org.apache.spark.sql.types.DataType, FileStat)] = {
    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        if (!schema.containsField(key)) return None
        val field = schema.getType(schema.getFieldIndex(key))
        if (!field.isPrimitive) return None
        val prim = field.asPrimitiveType()
        val ptn = prim.getPrimitiveTypeName
        val supported = (ptn == PrimitiveTypeName.INT64 ||
          ptn == PrimitiveTypeName.INT32 ||
          ptn == PrimitiveTypeName.DOUBLE ||
          ptn == PrimitiveTypeName.FLOAT) &&
          (prim.getLogicalTypeAnnotation == null ||
            !intReinterprets(prim.getLogicalTypeAnnotation))
        if (!supported) return None
        var nRows = 0L
        var mn: Any = null
        var mx: Any = null
        val blocks = footer.getBlocks
        var i = 0
        while (i < blocks.size()) {
          val b = blocks.get(i)
          nRows += b.getRowCount
          val chunk = {
            val cols = b.getColumns
            var j = 0
            var found: org.apache.parquet.hadoop.metadata
              .ColumnChunkMetaData = null
            while (j < cols.size() && found == null) {
              if (cols.get(j).getPath.toDotString == key)
                found = cols.get(j)
              j += 1
            }
            found
          }
          if (chunk == null) return None
          val stats = chunk.getStatistics
          if (stats == null || stats.isEmpty) return None
          if (stats.hasNonNullValue) {
            val bmin = stats.genericGetMin
              .asInstanceOf[Comparable[Any]]
            val bmax = stats.genericGetMax
              .asInstanceOf[Comparable[Any]]
            if (mn == null || bmin.compareTo(mn) < 0) mn = bmin
            if (mx == null || bmax.compareTo(mx) > 0) mx = bmax
          } else if (!stats.isNumNullsSet ||
              stats.getNumNulls != b.getRowCount) {
            // no non-null value recorded yet the chunk isn't provably
            // all-null — stats untrustworthy, fall back
            return None
          }
          i += 1
        }
        Some((sparkTypeOf(ptn),
          FileStat(st.getPath.getName, nRows, mn, mx, st.getLen)))
      } finally reader.close()
    } catch { case _: Exception => None }
  }
}
