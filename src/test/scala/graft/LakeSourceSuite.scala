package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Sync, Tables}
import graft.sources.lake.{LakeRef, LakeScan, LakeScanBuilder}

/** S19/S19b: the DataSourceV2 lake connector + read-only catalog.
  * Laws: connector content ≡ the library read path (readVersionLogical)
  * on clean, MOR, and schema-evolved versions; pushed key filters prune
  * INPUT PARTITIONS (not just rows); column pruning reaches the scan;
  * SQL `VERSION AS OF` lands on the same immutable dirs. */
class LakeSourceSuite extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private val key = "o_orderkey"

  /** One shared three-version lake: v1 clean (4 key-clustered files),
    * v2 = v1 minus a DV ghost band (merge-on-read), v3 = v2 plus a
    * metadata-only `note` column. */
  private lazy val root: String = {
    spark // force session init before Sources.stage's SparkSession.active
    val r = ops.Sources.stage("lakesrc_suite/orders_t")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    val ghosts = proj.filter(col(key) % 13 === 0).select(col(key))
    assert(Sync.dvDelete(spark, r, 1, 2, key, ghosts).published)
    assert(Sync.evolveSchema(spark, r, 2, 3, Seq(
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType))))
    r
  }

  private def connector(version: Int): DataFrame =
    spark.read.format("graftlake")
      .option("path", root).option("key", key)
      .option("version", version).load()

  private def sameContent(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"content drift between connector and library reads")
  }

  test("clean version: connector ≡ library read, vectorized") {
    val df = connector(1)
    sameContent(df, Sync.readVersionLogical(spark, s"$root/v1", key))
    // no DV → the scan reports columnar batches
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[BatchScanExec]))
    assert(leaves.head.supportsColumnar,
      "clean version must scan through the vectorized columnar path")
  }

  test("MOR version: DV subtracted; ≡ readVersionLogical") {
    val df = connector(2)
    sameContent(df, Sync.readVersionLogical(spark, s"$root/v2", key))
    assert(df.filter(col(key) % 13 === 0).count() === 0)
    // count(*) over a DV version must subtract ghosts too
    assert(connector(2).count() ===
      Sync.readVersionLogical(spark, s"$root/v2", key).count())
  }

  test("MOR with the key projected OUT still subtracts the DV") {
    val libSum = Sync.readVersionLogical(spark, s"$root/v2", key)
      .agg(sum(col("o_custkey"))).collect()(0).getLong(0)
    val conSum = connector(2).select("o_custkey")
      .agg(sum(col("o_custkey"))).collect()(0).getLong(0)
    assert(conSum === libSum)
  }

  test("pushed key filter prunes input partitions via the manifest") {
    val probe = Tables.orders(spark, sf)
      .agg(min(col(key))).collect()(0).getLong(0)
    val df = connector(1).filter(col(key) === probe)
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val planned = scans.head.partitions.flatten.size
    assert(planned === 1,
      s"a point lookup on a 4-file key-clustered version must plan 1 " +
        s"input partition, planned $planned")
    assert(df.count() === 1)
    // and the pruned read is still row-exact
    assert(df.collect()(0).getLong(0) === probe)
  }

  test("column pruning reaches the scan schema") {
    val df = connector(1).select("o_orderstatus")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("o_orderstatus"))
  }

  test("count(*) on a clean version is metadata-bound (no column IO)") {
    assert(connector(1).count() ===
      Tables.orders(spark, sf).count())
  }

  test("schema evolution: pre-evolution files read null for the new column") {
    val df = connector(3)
    assert(df.schema.fieldNames.contains("note"))
    assert(df.filter(col("note").isNotNull).count() === 0)
    // projecting ONLY the evolved column still yields the right row count
    // (constant-null batches over the footer/row path)
    assert(df.select("note").count() === connector(2).count())
    sameContent(df.drop("note"),
      Sync.readVersionLogical(spark, s"$root/v2", key))
  }

  test("omitting version resolves the live pointer") {
    val live = spark.read.format("graftlake")
      .option("path", root).option("key", key).load()
    assert(live.schema.fieldNames.contains("note")) // v3 is live
    sameContent(live.drop("note"), connector(3).drop("note"))
  }

  test("a DV-carrying version without a key option refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftlake")
        .option("path", root).option("version", 2).load()
    }
    assert(e.getMessage.contains("deletion vector"))
  }

  test("statistics report the PRUNED file set") {
    val ref = LakeRef.resolve(spark, root, Some("v1"), Some(key))
    val all = {
      val b = new LakeScanBuilder(ref)
      b.build().asInstanceOf[LakeScan].estimateStatistics()
    }
    val probe = Tables.orders(spark, sf)
      .agg(min(col(key))).collect()(0).getLong(0)
    val prunedStats = {
      val b = new LakeScanBuilder(ref)
      b.pushFilters(Array(EqualTo(key, probe)))
      b.build().asInstanceOf[LakeScan].estimateStatistics()
    }
    assert(prunedStats.sizeInBytes.getAsLong < all.sizeInBytes.getAsLong)
    assert(prunedStats.numRows.getAsLong < all.numRows.getAsLong)
  }

  /** A separate table for write tests so the shared read fixture stays
    * immutable. */
  private def freshWriteTable(sub: String): (String, String) = {
    spark // force session init before Sources.stage's SparkSession.active
    val parent = ops.Sources.stage(s"lakesrc_w/$sub")
    val r = s"$parent/wt"
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    assert(Sync.publish(spark,
      proj.filter(col(key) % 3 =!= 0)
        .repartitionByRange(3, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    (parent, r)
  }

  test("INSERT INTO appends as a frontier publish: old files carry verbatim") {
    val (parent, r) = freshWriteTable("ins")
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(v: Int) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$r/v$v")).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName -> st.getLen).toMap
    val v1Files = dataFiles(1)
    spark.conf.set("spark.sql.catalog.glakew",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glakew.root", parent)
    spark.conf.set("spark.sql.catalog.glakew.key.wt", key)
    proj.filter(col(key) % 3 === 0).createOrReplaceTempView("incr_rows")
    spark.sql("INSERT INTO glakew.wt SELECT * FROM incr_rows")
    assert(Sync.liveVersion(spark, r).contains("v2"))
    // content = full projection now
    sameContent(spark.sql("SELECT * FROM glakew.wt"), proj)
    // frontier law (zero-copy): every v1 file is REFERENCED by v2's
    // manifest in its v1 home — never physically copied forward — and
    // the appended rows land as new v2-local files
    val v2Files = dataFiles(2)
    assert(v1Files.keySet.intersect(v2Files.keySet).isEmpty,
      "append physically duplicated old data files into v2")
    val m2 = spark.read.parquet(s"$r/v2/_file_stats")
      .select("dir", "file").collect()
      .map(row => (row.getString(0), row.getString(1)))
    assert(v1Files.keySet.forall(f => m2.contains(("v1", f))),
      s"append must reference every old data file: ${m2.toSeq}")
    assert(v2Files.nonEmpty, "append must add new files")
    assert(m2.count(_._1 == "v2") == v2Files.size,
      "v2 manifest out of sync with its own dir")
    // manifest covers the new files: a key filter still prunes
    val probe = proj.agg(min(col(key))).collect()(0).getLong(0)
    val pf = spark.read.format("graftlake")
      .option("path", r).option("key", key).load()
      .filter(col(key) === probe)
    val planned = pf.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head.partitions.flatten.size
    assert(planned < m2.length, "post-append manifest must still prune")
  }

  test("INSERT of a DV'd key re-asserts it (resurrection, not silent loss)") {
    val (parent, r) = freshWriteTable("dvins")
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val victim = proj.filter(col(key) % 3 =!= 0)
      .agg(min(col(key))).collect()(0).getLong(0)
    assert(Sync.dvDelete(spark, r, 1, 2, key,
      spark.range(1).select(lit(victim).as(key))).published)
    spark.conf.set("spark.sql.catalog.glakew2",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glakew2.root", parent)
    spark.conf.set("spark.sql.catalog.glakew2.key.wt", key)
    assert(spark.sql(
      s"SELECT * FROM glakew2.wt WHERE o_orderkey = $victim").count() === 0)
    spark.sql(s"INSERT INTO glakew2.wt VALUES ($victim, 1L, 9.5D, 'Z')")
    val back = spark.sql(
      s"SELECT * FROM glakew2.wt WHERE o_orderkey = $victim").collect()
    assert(back.length === 1, "the inserted row must resurrect the DV'd key")
    assert(back(0).getString(3) === "Z")
  }

  test("INSERT OVERWRITE swaps the snapshot under the same protocol") {
    val (parent, r) = freshWriteTable("ovw")
    spark.conf.set("spark.sql.catalog.glakew3",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glakew3.root", parent)
    spark.conf.set("spark.sql.catalog.glakew3.key.wt", key)
    spark.sql(
      "INSERT OVERWRITE glakew3.wt VALUES (1L, 2L, 3.5D, 'O'), (2L, 3L, 4.5D, 'F')")
    assert(Sync.liveVersion(spark, r).contains("v2"))
    val rows = spark.sql("SELECT * FROM glakew3.wt ORDER BY o_orderkey")
      .collect()
    assert(rows.length === 2 && rows(0).getLong(0) === 1L)
    // time travel still sees the pre-overwrite snapshot
    assert(spark.sql(
      "SELECT count(*) FROM glakew3.wt VERSION AS OF 1")
      .collect()(0).getLong(0) > 2)
  }

  test("a write with mismatched columns refuses loudly") {
    val (_, r) = freshWriteTable("bad")
    val e = intercept[IllegalArgumentException] {
      Sync.appendPublish(spark, r, key,
        Tables.orders(spark, sf).select("o_orderkey", "o_custkey"),
        overwrite = false)
    }
    assert(e.getMessage.contains("logical schema"))
    // and the refusal left no reader-visible change
    assert(Sync.liveVersion(spark, r).contains("v1"))
  }

  /** CDF-enabled five-version fixture: v1 I-bootstrap, v2 cow I/U/D,
    * v3 MOR delete, v4 compaction (empty feed), v5 evolution (empty
    * feed, widened schema). */
  private def cdfLake(sub: String): (String, Long, Long, Long, Long) = {
    spark
    val r = ops.Sources.stage(s"lakesrc_cdf/$sub")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    Sync.enableCdf(spark, r)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val hi = proj.agg(max(col(key))).collect()(0).getLong(0)
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    val ins = proj.filter(col(key) % 31 === 0)
      .withColumn(key, col(key) + hi + 1000000L)
      .withColumn("op", lit("I"))
    val upd = proj.filter(col(key) % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
      .withColumn("op", lit("U"))
    val del = proj.filter(col(key) % 11 === 0 && col(key) % 7 =!= 0)
      .withColumn("op", lit("D"))
    val batch = ins.unionByName(upd).unionByName(del)
      .withColumn("version", lit(1L))
    assert(Sync.cowApplyChanges(spark, r, 1, 2, key, batch).published)
    val dv = proj.filter(col(key) % 13 === 0 && col(key) % 11 =!= 0 &&
      col(key) % 7 =!= 0).select(col(key))
    assert(Sync.dvDelete(spark, r, 2, 3, key, dv).published)
    assert(Sync.compactPublished(spark, r, 3, 4, key,
      Long.MaxValue / 4).published)
    assert(Sync.evolveSchema(spark, r, 4, 5, Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))))
    (r, ins.count(), upd.count(), del.count(), dv.count())
  }

  test("CDF-on-write + batch change-feed read: ops, versions, empty layout feeds") {
    val (r, nI, nU, nD, nDv) = cdfLake("batch")
    val base = Tables.orders(spark, sf).count()
    val feed = spark.read.format("graftlake-cdf").option("path", r).load()
    assert(feed.schema.fieldNames.contains("tag")) // evolved schema rides
    val byOp = feed.groupBy("op").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(byOp("I") === base + nI) // v1 bootstrap I + v2 inserts
    assert(byOp("U") === nU)
    assert(byOp("D") === nD + nDv)
    assert(!byOp.contains("T"))
    // layout-only versions carry EMPTY feeds, present but zero rows
    assert(feed.filter(col("_commit_version").isin(4L, 5L)).count() === 0)
    // version-windowed read: only v2..v3 changes
    val window = spark.read.format("graftlake-cdf").option("path", r)
      .option("startingVersion", 2).option("endingVersion", 3).load()
    assert(window.count() === nI + nU + nD + nDv)
    // the feed replays to the live logical state: apply I/U/D over v1
    val v1 = Sync.readVersionLogical(spark, s"$r/v1", key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col("_commit_version").desc)
    val net = window.withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
    val replayed = v1.join(net.select(col(key)), Seq(key), "left_anti")
      .unionByName(net.filter(col("op") =!= "D")
        .select(v1.columns.map(col).toIndexedSeq: _*))
    sameContent(replayed,
      Sync.readVersionLogical(spark, s"$r/v3", key))
  }

  test("a feed-less version refuses loudly instead of silently skipping") {
    // the shared read fixture was published WITHOUT enableCdf
    val e = intercept[Exception] {
      spark.read.format("graftlake-cdf").option("path", root).load()
        .count()
    }
    assert(e.getMessage.contains("_changes") ||
      Option(e.getCause).exists(_.getMessage.contains("_changes")))
  }

  test("streaming mirror: versions as offsets, checkpoint restart, T reseed") {
    import graft.sources.JdbcSync
    spark
    val r = ops.Sources.stage("lakesrc_cdf/stream")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    Sync.enableCdf(spark, r)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    val db = ops.Sources.stage("lakesrc_cdf/streamdb")
    val cfg = JdbcSync.JdbcConfig(
      url = s"jdbc:derby:$db;create=true", table = "MIRROR_T",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    JdbcSync.writeTable(
      proj.limit(0).select(proj.columns.toSeq
        .map(c => col(c).as(c.toUpperCase)): _*),
      cfg, org.apache.spark.sql.SaveMode.Overwrite)
    JdbcSync.ensureKeyIndex(cfg, Seq(key.toUpperCase))
    val ck = ops.Sources.stage("lakesrc_cdf/stream_ck")
    def mirrored = JdbcSync.readTable(spark, cfg, None)
      .select(proj.columns.toSeq
        .map(c => col(c.toUpperCase).as(c)): _*)
    def lakeLive = {
      val (v, _) = Sync.readPublished(spark, r)
      Sync.readVersionLogical(spark, s"$r/$v", key)
    }
    // phase 1: bootstrap from v1's I feed (startingVersion 0)
    val q1 = graft.sync.LakeToJdbc.mirrorStream(spark, r, key, cfg, ck)
    try {
      q1.processAllAvailable()
      sameContent(mirrored, lakeLive)
      // phase 2: live mutations stream through while the query runs
      val hi = proj.agg(max(col(key))).collect()(0).getLong(0)
      val batch = proj.filter(col(key) % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 7.0)
        .withColumn("op", lit("U"))
        .unionByName(proj.filter(col(key) % 17 === 0 && col(key) % 9 =!= 0)
          .withColumn("op", lit("D")))
        .withColumn("version", lit(1L))
      assert(Sync.cowApplyChanges(spark, r, 1, 2, key, batch).published)
      assert(Sync.dvDelete(spark, r, 2, 3, key,
        proj.filter(col(key) % 23 === 0 && col(key) % 17 =!= 0 &&
          col(key) % 9 =!= 0).select(col(key))).published)
      q1.processAllAvailable()
      sameContent(mirrored, lakeLive)
    } finally q1.stop()
    // phase 3: mutations while the mirror is DOWN, then restart from
    // the checkpoint — only the missed versions replay
    assert(Sync.appendPublish(spark, r, key,
      proj.filter(col(key) % 29 === 0)
        .withColumn(key, col(key) + 50000000L),
      overwrite = false))
    val q2 = graft.sync.LakeToJdbc.mirrorStream(spark, r, key, cfg, ck)
    try {
      q2.processAllAvailable()
      sameContent(mirrored, lakeLive)
      // phase 4: INSERT OVERWRITE publishes a T reseed; the mirror
      // truncates and converges on the tiny new snapshot
      assert(Sync.appendPublish(spark, r, key,
        proj.filter(col(key) % 41 === 0), overwrite = true))
      q2.processAllAvailable()
      sameContent(mirrored, lakeLive)
      assert(mirrored.count() === proj.filter(col(key) % 41 === 0).count())
    } finally q2.stop()
  }

  test("CDF admission control: a consumer far behind catches up in " +
      "bounded version windows") {
    import scala.jdk.CollectionConverters._
    spark
    val r = ops.Sources.stage("lakesrc_cdf/admission")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    Sync.enableCdf(spark, r)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").limit(60)
    assert(Sync.publish(spark,
      proj.repartitionByRange(2, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    (2 to 7).foreach { i =>
      assert(Sync.appendPublish(spark, r, key,
        proj.withColumn(key, col(key) + i * 100000000L),
        overwrite = false))
    }
    // start 7 versions behind with a 2-version admission bound
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long)]()
    val ck = ops.Sources.stage("lakesrc_cdf/admission_ck")
    fs.delete(new org.apache.hadoop.fs.Path(ck), true)
    val q = spark.readStream.format("graftlake-cdf")
      .option("path", r).option("startingVersion", 0)
      .option("maxVersionsPerBatch", 2)
      .load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val mm = b.agg(min("_commit_version"), max("_commit_version"),
          count(lit(1))).collect()(0)
        if (!mm.isNullAt(0))
          seen.add((mm.getLong(0), mm.getLong(1), mm.getLong(2)))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batches = seen.asScala.toSeq
    // each batch admits at most 2 versions — never the whole backlog
    assert(batches.forall { case (lo, hi, _) => hi - lo <= 1 },
      s"a batch spanned more than 2 versions: $batches")
    assert(batches.size >= 4, // ceil(7/2)
      s"7 versions under limit 2 must take >= 4 batches: $batches")
    // windows advance monotonically without overlap (the committed
    // checkpoint is the only cursor)
    assert(batches.sliding(2).forall {
      case Seq((_, h1, _), (l2, _, _)) => l2 > h1
      case _ => true
    }, s"non-monotone version windows: $batches")
    // full coverage: bounded catch-up delivers exactly the whole feed
    val fullFeed = spark.read.format("graftlake-cdf")
      .option("path", r).option("startingVersion", 1)
      .option("endingVersion", 7).load().count()
    assert(batches.map(_._3).sum === fullFeed)
    assert(batches.head._1 === 1L && batches.last._2 === 7L)
  }

  test("partitioned version (y49): partition + span pruning, constant partition vectors") {
    spark
    val r = ops.Sources.stage("lakesrc_part/orders_p")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf).select(
      "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    assert(ops.Sync.publish(spark,
      proj.repartitionByRange(3, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty, Some("o_orderstatus")))
    ops.Sync.writeFileStats(spark, s"$r/v1", key)
    val df = spark.read.format("graftlake")
      .option("path", r).option("key", key).load()
    // content law incl. the constant partition column
    sameContent(df.select(proj.columns.map(col).toIndexedSeq: _*), proj)
    // partition filter prunes to that partition's files
    val all = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head.partitions.flatten.size
    val one = df.filter(col("o_orderstatus") === "F")
    val onePlanned = one.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head.partitions.flatten.size
    assert(onePlanned < all && onePlanned > 0,
      s"partition filter must prune files: $onePlanned vs $all")
    sameContent(one.select(proj.columns.map(col).toIndexedSeq: _*),
      proj.filter(col("o_orderstatus") === "F"))
    // partition + key-span compose: a point lookup in one partition
    val probe = proj.filter(col("o_orderstatus") === "F")
      .agg(min(col(key))).collect()(0).getLong(0)
    val pt = df.filter(col("o_orderstatus") === "F" && col(key) === probe)
    val ptPlanned = pt.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head.partitions.flatten.size
    assert(ptPlanned <= onePlanned && ptPlanned < all)
    assert(pt.count() === 1)
  }

  test("lake-to-lake replication: CDF stream, restart, T reseed, replica consistency") {
    spark
    val src = ops.Sources.stage("lakesrc_repl/primary")
    val dst = ops.Sources.stage("lakesrc_repl/replica")
    val fsp = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(src, dst).foreach(p =>
      fsp.delete(new org.apache.hadoop.fs.Path(p), true))
    Sync.enableCdf(spark, src)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col(key)).sortWithinPartitions(key),
      src, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$src/v1", key)
    val ck = ops.Sources.stage("lakesrc_repl/ck")
    def liveOf(root: String) = {
      val (v, _) = Sync.readPublished(spark, root)
      Sync.readVersionLogical(spark, s"$root/$v", key)
    }
    val q1 = graft.streaming.StreamOps.lakeReplica(spark, src, dst, key)
      .option("checkpointLocation", ck).start()
    try {
      q1.processAllAvailable()
      sameContent(liveOf(dst), liveOf(src)) // bootstrap from v1's feed
      // live mutations: cow + MOR delete
      val batch = proj.filter(col(key) % 9 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 3.0)
        .withColumn("op", lit("U"))
        .unionByName(proj.filter(col(key) % 14 === 0 && col(key) % 9 =!= 0)
          .withColumn("op", lit("D")))
        .withColumn("version", lit(1L))
      assert(Sync.cowApplyChanges(spark, src, 1, 2, key, batch).published)
      assert(Sync.dvDelete(spark, src, 2, 3, key,
        proj.filter(col(key) % 25 === 0 && col(key) % 14 =!= 0 &&
          col(key) % 9 =!= 0).select(col(key))).published)
      q1.processAllAvailable()
      sameContent(liveOf(dst), liveOf(src))
    } finally q1.stop()
    // mutate while the replica is down, restart from the checkpoint
    assert(Sync.appendPublish(spark, src, key,
      proj.filter(col(key) % 33 === 0)
        .withColumn(key, col(key) + 70000000L), overwrite = false))
    val q2 = graft.streaming.StreamOps.lakeReplica(spark, src, dst, key)
      .option("checkpointLocation", ck).start()
    try {
      q2.processAllAvailable()
      sameContent(liveOf(dst), liveOf(src))
      // a primary overwrite reseeds the replica through the T sentinel
      assert(Sync.appendPublish(spark, src, key,
        proj.filter(col(key) % 51 === 0), overwrite = true))
      q2.processAllAvailable()
      sameContent(liveOf(dst), liveOf(src))
      assert(liveOf(dst).count() ===
        proj.filter(col(key) % 51 === 0).count())
    } finally q2.stop()
  }

  test("post-pruning statistics drive join planning: span-pruned scan broadcasts") {
    // full lake joined to lineitem would sort-merge; a span-pruned
    // slice reports a tiny size via SupportsReportStatistics, so the
    // planner broadcasts it — the stats are load-bearing, not cosmetic
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val probe = Tables.orders(spark, sf)
      .agg(min(col(key))).collect()(0).getLong(0)
    val sliced = connector(1).filter(col(key) <= probe + 50)
      .withColumnRenamed(key, "l_orderkey")
    val joined = li.join(sliced, Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"span-pruned lake side must broadcast, got:\n$plan")
  }

  test("CDF planning is metadata-only: partitions == the window's feed files") {
    val (r, _, _, _, _) = cdfLake("plan")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def feedFiles(v: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$r/v$v/_changes")).toSeq
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val expected = (2 to 3).map(feedFiles).sum
    val df = spark.read.format("graftlake-cdf").option("path", r)
      .option("startingVersion", 2).option("endingVersion", 3).load()
    val planned = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }.head.partitions.flatten.size
    assert(planned === expected,
      s"CDF must plan exactly the window's feed files: $planned vs $expected")
  }

  test("partitioned lake emits its feed too; replay law holds with the partition column") {
    spark
    val r = ops.Sources.stage("lakesrc_cdf/part")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    Sync.enableCdf(spark, r)
    val proj = Tables.orders(spark, sf).select(
      "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    assert(ops.Sync.publish(spark,
      proj.repartitionByRange(3, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty, Some("o_orderstatus")))
    ops.Sync.writeFileStats(spark, s"$r/v1", key)
    val batch = proj.filter(col(key) % 8 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 2.0)
      .withColumn("op", lit("U"))
      .unionByName(proj.filter(col(key) % 19 === 0 && col(key) % 8 =!= 0)
        .withColumn("op", lit("D")))
      .withColumn("version", lit(1L))
    assert(Sync.cowApplyChanges(spark, r, 1, 2, key, batch).published)
    // v1 snapshot feed carries the partition column; v2 feed = the batch
    val feed = spark.read.format("graftlake-cdf").option("path", r).load()
    assert(feed.schema.fieldNames.contains("o_orderstatus"))
    assert(feed.filter(col("_commit_version") === 1L).count() ===
      proj.count())
    val v2 = feed.filter(col("_commit_version") === 2L)
    assert(v2.count() === batch.count())
    // replay: v1 content + v2 feed == v2 content
    val v1c = spark.read.parquet(s"$r/v1")
      .select(proj.columns.map(col).toIndexedSeq: _*)
    val replayed = v1c.join(v2.select(col(key)), Seq(key), "left_anti")
      .unionByName(v2.filter(col("op") =!= "D")
        .select(proj.columns.map(col).toIndexedSeq: _*))
    sameContent(replayed, spark.read.parquet(s"$r/v2")
      .select(proj.columns.map(col).toIndexedSeq: _*))
  }

  test("runtime filtering (DPP analogue): a dimension join prunes lake files at execution") {
    // nation keys (0..24) all land in the FIRST of the four clustered
    // files; the region filter is on a NON-join column, so nothing is
    // statically inferable onto the fact key — only the runtime filter
    // (the dim's key values, pushed at execution) can prune files
    val dim = Tables.nation(spark, sf)
      .select(col("n_nationkey").as("k"), col("n_regionkey"))
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val fact = connector(1)
      val joined = fact.join(dim.filter(col("n_regionkey") === 1),
        fact(key) === dim("k"))
      joined.count()
      val plan = joined.queryExecution.executedPlan
      val fin = plan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = fin.collectLeaves()
        .collect { case b: BatchScanExec => b }.head
      assert(scan.toString.contains("RuntimeFilters: [dynamicpruning"),
        s"expected a runtime filter on the lake scan:\n$fin")
      // the surviving keys live in ONE of the four clustered files —
      // the scan must not have decoded the table
      val rows = scan.metrics("numOutputRows").value
      val full = Tables.orders(spark, sf).count()
      assert(rows < full / 2,
        s"runtime filter must prune file reads: scanned $rows of $full")
    } finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("manifest-only aggregate pushdown: count/min/max answer without data IO") {
    val aggDf = connector(1)
      .agg(count(lit(1)).as("n"), min(col(key)).as("lo"),
        max(col(key)).as("hi"))
    val plan = aggDf.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates (manifest-only)"),
      s"expected the manifest to answer the aggregate:\n$plan")
    val got = aggDf.collect()(0)
    val exp = Tables.orders(spark, sf)
      .agg(count(lit(1)), min(col(key)), max(col(key))).collect()(0)
    assert(got.getLong(0) === exp.getLong(0))
    assert(got.getLong(1) === exp.getLong(1))
    assert(got.getLong(2) === exp.getLong(2))
    // declined whenever exactness could slip: a DV version or a filter
    val dvPlan = connector(2).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!dvPlan.contains("manifest-only"))
    assert(connector(2).agg(count(lit(1))).collect()(0).getLong(0) ===
      Sync.readVersionLogical(spark, s"$root/v2", key).count())
    val filtered = connector(1).filter(col(key) > 10)
    assert(!filtered.agg(count(lit(1))).queryExecution.executedPlan
      .toString.contains("manifest-only"))
  }

  test("limit pushdown trims the planned file set (partial — Spark keeps row exactness)") {
    val df = connector(1).limit(10)
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.partitions.flatten.size === 1,
      "LIMIT 10 over 4 clustered files must plan one file")
    assert(df.count() === 10)
    // declined on a DV version (logical rows < manifest rows) — the
    // limit still lands row-exact through the normal path
    val dvScan = connector(2).limit(10).queryExecution.executedPlan
      .collectLeaves().collect { case b: BatchScanExec => b }.head
    assert(dvScan.partitions.flatten.size > 1)
    assert(connector(2).limit(10).count() === 10)
  }

  test("group catalog (y44): cross-table SQL from one pointer; pinned generation is immutable") {
    spark
    val r = ops.Sources.stage("lakesrc_grp")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    assert(Sync.publishGroup(spark, r,
      Seq("orders_g" -> o, "cust_g" -> c), 1, _.head(1).nonEmpty))
    spark.conf.set("spark.sql.catalog.glakeg",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glakeg.root", r)
    spark.conf.set("spark.sql.catalog.glakeg.group", "true")
    val joined = spark.sql(
      """SELECT c.c_mktsegment, count(*) AS n
        |FROM glakeg.orders_g o JOIN glakeg.cust_g c
        |  ON o.o_custkey = c.c_custkey GROUP BY 1""".stripMargin)
    val expected = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment").count()
    sameContent(joined, expected
      .select(col("c_mktsegment"), col("count").as("n")))
    // generation 2 mutates orders only; the live group follows, a
    // pinned generation does not
    assert(Sync.publishGroup(spark, r,
      Seq("orders_g" -> o.filter(col(key) % 2 === 0)), 2,
      _.head(1).nonEmpty))
    val liveN = spark.sql("SELECT count(*) FROM glakeg.orders_g")
      .collect()(0).getLong(0)
    assert(liveN === o.filter(col(key) % 2 === 0).count())
    spark.conf.set("spark.sql.catalog.glakegp",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glakegp.root", r)
    spark.conf.set("spark.sql.catalog.glakegp.group", "true")
    spark.conf.set("spark.sql.catalog.glakegp.groupGen", "1")
    val pinnedN = spark.sql("SELECT count(*) FROM glakegp.orders_g")
      .collect()(0).getLong(0)
    assert(pinnedN === o.count())
    // a table outside the group refuses as missing
    intercept[Exception] {
      spark.sql("SELECT * FROM glakeg.not_a_member").collect()
    }
  }

  test("GROUP BY partition aggregate answers per-partition from the manifest") {
    spark
    val r = ops.Sources.stage("lakesrc_part_agg/orders_pa")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf).select(
      "o_orderkey", "o_custkey", "o_orderstatus")
    assert(ops.Sync.publish(spark,
      proj.repartitionByRange(3, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty, Some("o_orderstatus")))
    ops.Sync.writeFileStats(spark, s"$r/v1", key)
    val df = spark.read.format("graftlake")
      .option("path", r).option("key", key).load()
    val agg = df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), min(col(key)).as("lo"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates (manifest-only)"),
      s"per-partition counts must come from the manifest:\n$plan")
    sameContent(agg,
      proj.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min(col(key)).as("lo")))
    // grouping by a non-partition column declines
    assert(!df.groupBy("o_custkey").agg(count(lit(1)))
      .queryExecution.executedPlan.toString.contains("manifest-only"))
  }

  test("catalog: SQL reads, VERSION AS OF, read-only refusals") {
    val parent = new java.io.File(root).getParent
    spark.conf.set("spark.sql.catalog.glake",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glake.root", parent)
    spark.conf.set("spark.sql.catalog.glake.key.orders_t", key)
    val live = spark.sql("SELECT * FROM glake.orders_t")
    assert(live.schema.fieldNames.contains("note"))
    sameContent(live.drop("note"),
      Sync.readVersionLogical(spark, s"$root/v2", key))
    val v1 = spark.sql(
      "SELECT count(*) AS n FROM glake.orders_t VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 === Tables.orders(spark, sf).count())
    // time travel sees pre-DV ghosts that the live read must not
    val liveN = spark.sql("SELECT count(*) AS n FROM glake.orders_t")
      .collect()(0).getLong(0)
    assert(v1 > liveN)
    val e = intercept[Exception] {
      spark.sql("DROP TABLE glake.orders_t")
    }
    assert(e.getMessage.toLowerCase.contains("read-only"))
    // TIMESTAMP AS OF: commit clock = pointer-generation mtime. v1/v2/
    // v3 committed within this suite run, so "now" resolves the newest
    // generation (v3, the live version) and a pre-epoch timestamp
    // refuses with the earliest commit time.
    val nowN = spark.sql(
      "SELECT count(*) FROM glake.orders_t TIMESTAMP AS OF " +
        "current_timestamp()").collect()(0).getLong(0)
    val liveN2 = spark.sql("SELECT count(*) FROM glake.orders_t")
      .collect()(0).getLong(0)
    assert(nowN === liveN2)
    val tsErr = intercept[Exception] {
      spark.sql("SELECT * FROM glake.orders_t TIMESTAMP AS OF " +
        "'1999-01-01'").collect()
    }
    assert(tsErr.getMessage.contains("earliest commit") ||
      Option(tsErr.getCause).exists(_.getMessage.contains("earliest commit")))
  }

  test("SQL row-level DML: DELETE/UPDATE/MERGE land as keyed cow publishes") {
    spark
    val r = ops.Sources.stage("lakesrc_rlo/orders_dml")
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    val parent = new java.io.File(r).getParent
    spark.conf.set("spark.sql.catalog.gdml",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gdml.root", parent)
    spark.conf.set("spark.sql.catalog.gdml.key.orders_dml", key)
    def live = {
      val (v, _) = Sync.readPublished(spark, r)
      v
    }
    def liveDf = Sync.readVersionLogical(spark, s"$r/$live", key)
    def filesOf(v: String): Map[String, Long] = {
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$r/$v")).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName -> st.getLen).toMap
    }
    // ---- DELETE with a span-prunable predicate: one file rewrites,
    // the other three carry byte-verbatim into v2 ----
    val keys = proj.select(col(key)).orderBy(col(key))
      .limit((proj.count() / 4).toInt).collect().map(_.getLong(0))
    val cut = keys.last // everything in roughly the first file
    val v1Files = filesOf("v1")
    spark.sql(s"DELETE FROM gdml.orders_dml WHERE $key <= $cut")
    assert(live === "v2", s"DELETE must mint exactly one version, at $live")
    sameContent(liveDf, proj.filter(col(key) > cut))
    val v2Files = filesOf("v2")
    assert(v1Files.keySet.intersect(v2Files.keySet).isEmpty,
      "DELETE physically copied carried files into v2")
    val carried = spark.read.parquet(s"$r/v2/_file_stats")
      .select("dir", "file").collect()
      .map(row => (row.getString(0), row.getString(1)))
      .filter(_._1 == "v1").map(_._2)
    assert(carried.size >= 2,
      s"a span-pruned DELETE must reference untouched files in v1; " +
        s"v1=${v1Files.keys}, v2=${v2Files.keys}, carried=${carried.toSeq}")
    assert(carried.forall(v1Files.contains),
      s"v2 references files absent from v1: ${carried.toSeq}")
    // ---- quiet DML mints NO version ----
    spark.sql(s"DELETE FROM gdml.orders_dml WHERE $key < 0")
    assert(live === "v2", "a DELETE matching nothing must not publish")
    // ---- UPDATE (in place) ----
    spark.sql(s"UPDATE gdml.orders_dml SET o_totalprice = " +
      s"o_totalprice + 100.0 WHERE $key % 7 = 0")
    assert(live === "v3")
    sameContent(liveDf, proj.filter(col(key) > cut)
      .withColumn("o_totalprice", when(col(key) % 7 === 0,
        col("o_totalprice") + 100.0).otherwise(col("o_totalprice"))))
    // ---- UPDATE that MOVES THE KEY: nets to delete(old)+insert(new) ----
    val moved = liveDf.filter(col(key) % 11 === 0).count()
    spark.sql(s"UPDATE gdml.orders_dml SET $key = $key + 90000000 " +
      s"WHERE $key % 11 = 0")
    assert(live === "v4")
    val after = liveDf
    assert(after.filter(col(key) % 11 === 0 &&
      col(key) < 90000000L).count() === 0)
    assert(after.filter(col(key) >= 90000000L).count() === moved)
    // ---- MERGE INTO: the full I/U/D mix in one statement ----
    val pre = liveDf.cache(); pre.count()
    val srcIns = pre.limit(3).select(
      (col(key) + 200000000L).as(key),
      lit(1.0).as("o_totalprice"), lit("N").as("o_orderstatus"))
    val srcUpd = pre.filter(col(key) % 5 === 0).limit(50)
      .select(col(key), (col("o_totalprice") * 2).as("o_totalprice"),
        col("o_orderstatus"))
    val srcDel = pre.filter(col(key) % 5 =!= 0 && col(key) % 3 === 0)
      .limit(50).select(col(key), col("o_totalprice"),
        col("o_orderstatus"))
    srcIns.unionByName(srcUpd).unionByName(srcDel)
      .createOrReplaceTempView("dml_src")
    spark.sql(
      s"""MERGE INTO gdml.orders_dml t USING dml_src s
         |ON t.$key = s.$key
         |WHEN MATCHED AND s.$key % 3 = 0 AND s.$key % 5 != 0
         |  THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(live === "v5")
    val delKeys = srcDel.select(col(key))
    val updMap = srcUpd.select(col(key), col("o_totalprice")
      .as("new_price"))
    val expected = pre
      .join(delKeys, Seq(key), "left_anti")
      .join(updMap, Seq(key), "left")
      .select(col(key),
        coalesce(col("new_price"), col("o_totalprice"))
          .as("o_totalprice"),
        col("o_orderstatus"))
      .unionByName(srcIns)
    sameContent(liveDf, expected)
    pre.unpersist()
    // ---- refusals: no key option, partitioned version ----
    spark.conf.set("spark.sql.catalog.gnokey",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gnokey.root", parent)
    val eNoKey = intercept[Exception] {
      spark.sql(s"DELETE FROM gnokey.orders_dml WHERE $key = 1")
    }
    assert(eNoKey.getMessage.contains("key"),
      s"keyless DML must refuse loudly: ${eNoKey.getMessage}")
  }

  test("SQL row-level DML on a PARTITIONED version: identity is " +
      "(partition, key); cross-partition UPDATE nets as a move") {
    spark
    val pr = ops.Sources.stage("lakesrc_rlo2/orders_part")
    val fs = new org.apache.hadoop.fs.Path(pr)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(pr), true)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert(ops.Sync.publish(spark, proj, pr, 1, _.head(1).nonEmpty,
      Some("o_orderstatus")))
    ops.Sync.writeFileStats(spark, s"$pr/v1", key)
    val parent = new java.io.File(pr).getParent
    // fresh catalog name: a catalog caches its options at first use
    spark.conf.set("spark.sql.catalog.gpart",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gpart.root", parent)
    spark.conf.set("spark.sql.catalog.gpart.key.orders_part", key)
    def sqlT = spark.sql("SELECT * FROM gpart.orders_part")
    // DELETE scoped by partition + key span: partition-first pruning
    spark.sql(s"DELETE FROM gpart.orders_part " +
      s"WHERE o_orderstatus = 'F' AND $key % 7 = 0")
    val afterDel = proj.filter(!(col("o_orderstatus") === "F" &&
      col(key) % 7 === 0))
    assert(Sync.liveVersion(spark, pr).contains("v2"))
    sameContent(sqlT, afterDel)
    // cross-partition UPDATE: the partition value IS row identity —
    // the old partition's row deletes, the new partition's inserts
    val moved = afterDel.filter(col(key) % 19 === 0).count()
    spark.sql(s"UPDATE gpart.orders_part SET o_orderstatus = 'Z' " +
      s"WHERE $key % 19 = 0")
    val afterUpd = afterDel.withColumn("o_orderstatus",
      when(col(key) % 19 === 0, lit("Z")).otherwise(col("o_orderstatus")))
    sameContent(sqlT, afterUpd)
    assert(sqlT.filter(col("o_orderstatus") === "Z").count() === moved)
    assert(sqlT.count() === afterDel.count(),
      "a partition move must not change cardinality")
    // the new partition materialized as its own part= subdir
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$pr/v3/o_orderstatus=Z")))
    // MERGE with an I/U/D mix through the partitioned path
    val pre = sqlT.cache(); pre.count()
    val srcU = pre.filter(col(key) % 11 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
      .withColumn("__act", lit("U"))
    val srcD = pre.filter(col(key) % 13 === 0 && col(key) % 11 =!= 0)
      .withColumn("__act", lit("D"))
    val srcI = pre.limit(5)
      .withColumn("o_orderkey", col(key) + 400000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("__act", lit("I"))
    srcU.unionByName(srcD).unionByName(srcI)
      .createOrReplaceTempView("part_dml_src")
    spark.sql(
      s"""MERGE INTO gpart.orders_part t USING part_dml_src s
         |ON t.$key = s.$key
         |WHEN MATCHED AND s.__act = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT
         |  (o_orderkey, o_totalprice, o_orderstatus)
         |  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderstatus)
         |""".stripMargin)
    val expected = pre
      .join(srcD.select(col(key)), Seq(key), "left_anti")
      .join(srcU.select(col(key), col("o_totalprice").as("__p")),
        Seq(key), "left")
      .select(col(key),
        coalesce(col("__p"), col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
      .unionByName(srcI.drop("__act"))
    sameContent(sqlT, expected)
    pre.unpersist()
  }

  test("the job's Hadoop conf reaches executor-side readers") {
    import graft.sources.lake.{LakeColumnarReader, LakeReaderFactory}
    root // force the shared lake
    // 1. the factory carries the conf through task serialization
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    hconf.set("graft.test.conf.key", "reached")
    val factory = new LakeReaderFactory(
      Sync.readVersionLogical(spark, s"$root/v1", key).schema,
      Some(key), None, None, 4096, None,
      new org.apache.spark.util.SerializableConfiguration(hconf))
    val bytes = {
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(factory); oo.close(); bo.toByteArray
    }
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[LakeReaderFactory]
    // the deserialized factory still creates working readers, i.e. the
    // conf (FS settings and all) survived the executor hop
    val file = new org.apache.hadoop.fs.Path(s"$root/v1")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(s"$root/v1")).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .head.getPath.toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType)))
    // 2. the reader genuinely CONSUMES the threaded conf (not a
    // fallback default): sabotaging the filesystem impl in the conf
    // must break the read — exactly the knob (fs impls, credentials)
    // a cluster deployment sets programmatically — while the clean
    // conf succeeds
    val ok = new LakeColumnarReader(file, schema, 4096, Map.empty, hconf)
    assert(ok.next() && ok.get().numRows() > 0); ok.close()
    val bad = new org.apache.hadoop.conf.Configuration(hconf)
    bad.set("fs.file.impl", "no.such.FileSystem")
    bad.setBoolean("fs.file.impl.disable.cache", true)
    intercept[Exception] {
      val r = new LakeColumnarReader(file, schema, 4096, Map.empty, bad)
      try r.next() finally r.close()
    }
  }

  test("SQL maintenance procedures: dv_fold / compact / gc / rollback") {
    spark
    val parent = ops.Sources.stage("lakesrc_proc")
    val r = s"$parent/orders_m"
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r), true)
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    assert(Sync.publish(spark,
      proj.repartitionByRange(6, col(key)).sortWithinPartitions(key),
      r, 1, _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$r/v1", key)
    spark.conf.set("spark.sql.catalog.gproc",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gproc.root", parent)
    spark.conf.set("spark.sql.catalog.gproc.key.orders_m", key)
    // catalog options are CAPTURED at first use — the partitioned
    // table's key must be configured before any gproc statement runs
    spark.conf.set("spark.sql.catalog.gproc.key.orders_pm", key)
    def live = Sync.liveVersion(spark, r).get
    def dataFiles(v: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$r/$v")).toSeq
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val expected = proj.filter(col(key) % 13 =!= 0)
    // fold on a clean version refuses: nothing to fold
    val eClean = intercept[Exception] {
      spark.sql("CALL gproc.system.dv_fold(table => 'orders_m')")
        .collect()
    }
    assert(eClean.getMessage.contains("no deletion vector"))
    // MOR delete, then CALL dv_fold pays the debt: DV gone, content kept
    assert(Sync.dvDelete(spark, r, 1, 2, key,
      proj.filter(col(key) % 13 === 0).select(col(key))).published)
    val fold = spark.sql(
      "CALL gproc.system.dv_fold(table => 'orders_m')").collect()(0)
    assert(fold.getInt(0) === 2 && fold.getInt(1) === 3 &&
      fold.getBoolean(3))
    assert(live === "v3" && !fs.exists(
      new org.apache.hadoop.fs.Path(s"$r/v3/_deletes")))
    sameContent(spark.sql("SELECT * FROM gproc.orders_m"), expected)
    // CALL compact bin-packs the six small files; content unchanged
    val comp = spark.sql(
      "CALL gproc.system.compact(table => 'orders_m')").collect()(0)
    assert(comp.getInt(0) === 3 && comp.getInt(1) === 4 &&
      comp.getBoolean(4))
    assert(live === "v4" && dataFiles("v4") < dataFiles("v3"))
    sameContent(spark.sql("SELECT * FROM gproc.orders_m"), expected)
    // CALL gc reaps history beyond the keep window, honors the live set
    val gc = spark.sql(
      "CALL gproc.system.gc(table => 'orders_m', keep => 1)")
      .collect()(0)
    assert(gc.getInt(0) === 2, s"expected v1+v2 reaped, got $gc")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$r/v1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$r/v3")))
    // CALL rollback points the table at a RETAINED version: one new
    // pointer generation, zero data movement
    spark.sql(
      "CALL gproc.system.rollback(table => 'orders_m', version => 3)")
      .collect()
    assert(live === "v3")
    sameContent(spark.sql("SELECT * FROM gproc.orders_m"), expected)
    // rolling back to a REAPED version refuses loudly
    val eGone = intercept[Exception] {
      spark.sql(
        "CALL gproc.system.rollback(table => 'orders_m', version => 1)")
        .collect()
    }
    assert(eGone.getMessage.contains("does not exist"))
    // CALL compact on a PARTITIONED version routes to the
    // per-partition bin-pack (layout preserved, content invariant)
    val pr2 = ops.Sources.stage("lakesrc_proc/orders_pm")
    fs.delete(new org.apache.hadoop.fs.Path(pr2), true)
    val pproj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert(ops.Sync.publish(spark,
      pproj.repartition(4), pr2, 1, _.head(1).nonEmpty,
      Some("o_orderstatus")))
    ops.Sync.writeFileStats(spark, s"$pr2/v1", key)
    val before = spark.read.parquet(s"$pr2/v1/_file_stats").count()
    val pcomp = spark.sql(
      "CALL gproc.system.compact(table => 'orders_pm')").collect()(0)
    assert(pcomp.getInt(0) === 1 && pcomp.getInt(1) === 2 &&
      pcomp.getBoolean(4), s"partitioned compact failed: $pcomp")
    assert(pcomp.getInt(3) >= 2,
      s"partitioned compact rewrote ${pcomp.getInt(3)} files")
    assert(spark.read.parquet(s"$pr2/v2/_file_stats").count() < before,
      "partitioned compact did not reduce the logical file count")
    sameContent(spark.sql("SELECT * FROM gproc.orders_pm"), pproj)
    // the partition layout survives: v2's manifest rows keep part=
    val relNames = spark.read.parquet(s"$pr2/v2/_file_stats")
      .select("file").collect().map(_.getString(0))
    assert(relNames.nonEmpty && relNames.forall(_.contains("=")),
      s"compacted files lost the part= layout: ${relNames.toSeq}")
    // dv_fold stays refused on a partitioned version (a flat keyed DV
    // fold would flatten the layout)
    val ePart = intercept[Exception] {
      spark.sql("CALL gproc.system.dv_fold(table => 'orders_pm')")
        .collect()
    }
    assert(ePart.getMessage.contains("PARTITIONED"))
  }

  test("missing table surfaces the SQL-standard no-such-table error") {
    val parent = new java.io.File(root).getParent
    spark.conf.set("spark.sql.catalog.glake2",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.glake2.root", parent)
    // the catch-and-translate path used to initCause a
    // NoSuchTableException whose cause slot AnalysisException had
    // already initialized — every missing-table lookup then died with
    // "Can't overwrite cause" instead of the SQL error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM glake2.no_such_published_table").collect()
    }
    assert(e.getMessage.toLowerCase.contains("cannot be found") ||
      e.getMessage.toLowerCase.contains("not found"),
      s"expected a no-such-table AnalysisException, got: ${e.getMessage}")
    // the original refusal rides along for operators, suppressed
    assert(e.getSuppressed.nonEmpty)
    // and DROP TABLE IF EXISTS on a missing name resolves cleanly
    // through tableExists instead of exploding mid-lookup
    spark.sql("DROP TABLE IF EXISTS glake2.no_such_published_table")
  }

  test("null filter values neither crash planning nor mis-prune") {
    // WHERE key IN (probe, NULL) pushes sources.In with a null element;
    // SpanPrune.cmp used to NPE dereferencing it during file planning
    val probe = Tables.orders(spark, sf)
      .agg(min(col(key))).collect()(0).getLong(0)
    val df = connector(1).filter(
      col(key).isin(probe, null.asInstanceOf[java.lang.Long]))
    assert(df.count() === 1 && df.collect()(0).getLong(0) === probe)
    // a null IN element matches nothing, so pruning still plans the
    // single covering file — conservative, not disabled
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .collect { case b: BatchScanExec => b }
    assert(scans.head.partitions.flatten.size === 1)
    // `key = NULL` matches no row: zero count, and zero planned files
    val eq = connector(1).filter(col(key) === lit(null).cast("bigint"))
    assert(eq.count() === 0)
  }
}
