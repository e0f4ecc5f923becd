package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two lake writes lake_rw needs that the SQL surface does not
  * offer: publishing a table's first version (the catalog refuses
  * CREATE TABLE), and a merge-on-read delete (SQL DELETE is
  * copy-on-write, so without it `CALL dv_fold` would have no deletion
  * vector to fold). Both go straight to the `ops.Sync` primitives the
  * catalog itself delegates to. */
object PerfbenchLake {

  /** Publish `df` as v1 of the table at `root`, with its span manifest. */
  def publishFirst(spark: SparkSession, df: DataFrame, root: String, key: String): Boolean =
    ops.Sync.publish(spark, df, root, 1, _.head(1).nonEmpty) && {
      ops.Sync.writeFileStats(spark, s"$root/v1", key)
      true
    }

  /** Delete the rows whose `key` is in `keys` as a deletion vector on a
    * new version; no data file is rewritten. */
  def dvDelete(spark: SparkSession, root: String, key: String, keys: DataFrame): Boolean = {
    val v = ops.Sync.liveVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root")).stripPrefix("v").toInt
    ops.Sync.dvDelete(spark, root, v, v + 1, key, keys).published
  }
}
