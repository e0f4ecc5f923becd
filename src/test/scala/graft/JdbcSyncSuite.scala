package graft

import graft.ops.Tables
import graft.sources.JdbcSync._
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S4/S5 integration against embedded Derby (ships in /opt/spark/jars) —
  * the closest available stand-in for the reference's MS-SQL endpoints
  * (same Spark JDBC code path, different dialect). Proves: batched write,
  * range-partitioned parallel read, and the partition count actually
  * landing in the scan.
  */
class JdbcSyncSuite extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private lazy val dbPath =
    java.nio.file.Files.createTempDirectory("graft_derby").resolve("db")
  private lazy val cfg = JdbcConfig(
    url = s"jdbc:derby:$dbPath;create=true",
    table = "ORDERS_SYNC",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  test("S5 write + S4 range-partitioned read round-trip (embedded Derby)") {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    writeTable(o, cfg, SaveMode.Overwrite)

    val maxKey = o.agg(max("o_orderkey")).collect()(0).getLong(0)
    val back = readTable(spark, cfg,
      Some(ReadPartitioning("o_orderkey", 0, maxKey + 1, 4)))

    assert(back.rdd.getNumPartitions == 4, "range partitioning must fan out")
    assert(back.count() == o.count())
    // content equality via order-insensitive comparison
    assert(back.exceptAll(o).count() == 0 && o.exceptAll(back).count() == 0)
  }

  test("idempotentAppend law: a retried append leaves the table identical") {
    val cfg2 = cfg.copy(table = "ORDERS_IDEM")
    // UPPERCASE aliases: Spark's JDBC writer quotes column identifiers
    // at CREATE, and MergeSql interpolates them unquoted (Derby folds
    // unquoted to upper) — the unquoted-DDL naming convention the
    // rowDigest scaladoc documents for JDBC sync targets
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("O_ORDERKEY"),
        col("o_custkey").as("O_CUSTKEY"),
        col("o_totalprice").as("O_TOTALPRICE"),
        col("o_orderstatus").as("O_ORDERSTATUS"))
      .limit(500)
    // seed the table shape via a normal write of 0 rows, then append
    writeTable(o.limit(0), cfg2, SaveMode.Overwrite)
    idempotentAppend(o, cfg2, "O_ORDERKEY")
    val once = readTable(spark, cfg2, None).collect().toSet
    // the worst-case task retry: the ENTIRE append runs again
    idempotentAppend(o, cfg2, "O_ORDERKEY")
    val twice = readTable(spark, cfg2, None).collect().toSet
    assert(once.size == 500 && twice == once,
      "re-running the append must not duplicate or alter rows")
    // and a retry carrying NEW payload for existing keys updates in place
    val bumped = o.withColumn("O_TOTALPRICE", col("O_TOTALPRICE") + 1d)
    idempotentAppend(bumped, cfg2, "O_ORDERKEY")
    val after = readTable(spark, cfg2, None)
    assert(after.count() == 500)
    assert(after.agg(sum("O_TOTALPRICE")).collect()(0).getDouble(0) >
      once.toSeq.map(_.getDouble(2)).sum + 499,
      "updated payload must land on every existing key")
  }

  test("S4 filters and column pruning push into the JDBC scan (100 TB extract shape)") {
    // The property a sync's incremental extract lives on: the WHERE and
    // the column list must reach the database — a scan that ships every
    // row/column over JDBC and filters in Spark moves the whole table
    // per sync. Spark renders both into the generated SQL; the plan's
    // JDBCRelation node exposes them as PushedFilters / ReadSchema.
    // numeric predicate only: Spark's Derby dialect stores StringType as
    // CLOB, which Derby refuses to compare with literals DB-side — a
    // string filter here throws from the generated WHERE (dialect quirk;
    // MS-SQL's NVARCHAR compares fine). The numeric pushdown is the
    // portable core of the incremental-extract shape.
    val back = readTable(spark, cfg, None)
      .filter(col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val leaves = back.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(leaves.contains("PushedFilters:") &&
           (leaves.contains("GreaterThan(O_TOTALPRICE") ||
            leaves.contains("GreaterThan(o_totalprice")),
      s"price filter did not reach the JDBC scan:\n$leaves")
    assert(!leaves.toLowerCase.contains("o_custkey"),
      s"unused column not pruned from the JDBC scan:\n$leaves")
    // and the pushed plan computes the same answer as post-scan filtering
    val expected = readTable(spark, cfg, None).collect()
      .count(r => r.getDouble(r.fieldIndex("o_totalprice")) > 100000.0)
    assert(back.count() == expected)
  }

  test("S5 append mode accumulates batches") {
    val n0 = readTable(spark, cfg, None).count()
    val extra = Tables.orders(spark, sf).limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    writeTable(extra, cfg, SaveMode.Append)
    assert(readTable(spark, cfg, None).count() == n0 + 10)
  }

  test("Y28 resumable copy: crash mid-run, restart skips done chunks, end state exactly-once") {
    val tcfg = cfg.copy(table = "ORDERS_RESUME")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("O_ORDERKEY"),
        col("o_custkey").as("O_CUSTKEY"),
        col("o_totalprice").as("O_TOTALPRICE"),
        col("o_orderstatus").as("O_ORDERSTATUS"))
    writeTable(o.limit(0), tcfg, SaveMode.Overwrite) // target shape only
    Class.forName(tcfg.driver)
    val conn = java.sql.DriverManager.getConnection(tcfg.url)
    try conn.createStatement().executeUpdate(
      "CREATE TABLE COPY_PROGRESS (chunk_id INT PRIMARY KEY, " +
        "lo BIGINT, hi BIGINT, n_rows BIGINT)")
    finally conn.close()
    val maxKey = o.agg(max("O_ORDERKEY")).collect()(0).getLong(0)
    val step = maxKey / 4 + 1
    val bounds = (0 until 4).map(i => (i * step, (i + 1) * step))
    // run 1 dies after two committed chunks (the injected crash fires
    // BEFORE chunk 2's data ships — the worst-case cursor position)
    val boom = intercept[RuntimeException] {
      resumableCopy(o, "O_ORDERKEY", bounds, tcfg, "COPY_PROGRESS",
        failAfterChunks = Some(2))
    }
    assert(boom.getMessage.contains("injected crash"))
    val partial = readTable(spark, tcfg, None)
    val firstTwo = o.filter(col("O_ORDERKEY") < 2 * step)
    assert(partial.count() == firstTwo.count(),
      "crashed run must hold exactly the committed chunks")
    // run 2 resumes: completed chunks SKIP, the rest copy
    val rep = resumableCopy(o, "O_ORDERKEY", bounds, tcfg, "COPY_PROGRESS")
    assert(rep.map(_.status) == Seq("skipped", "skipped", "copied", "copied"),
      s"resume must skip the committed cursor: $rep")
    val full = readTable(spark, tcfg, None)
    assert(full.count() == o.count(), "resumed copy lost or duplicated rows")
    assert(full.exceptAll(o).count() == 0 && o.exceptAll(full).count() == 0)
    // run 3 is a pure no-op — and chunk row counts in the report match
    val rep2 = resumableCopy(o, "O_ORDERKEY", bounds, tcfg, "COPY_PROGRESS")
    assert(rep2.forall(_.status == "skipped"))
    assert(rep2.map(_.n_rows).sum == o.count(),
      "progress-table row counts must reconstruct the full copy")
    assert(readTable(spark, tcfg, None).count() == o.count())
  }

  test("rollback law: a failing batch rolls the partition back and surfaces the real error") {
    val spark0 = spark
    import spark0.implicits._
    val rcfg = cfg.copy(table = "ROLLBACK_LAW")
    Class.forName(rcfg.driver)
    def onConn[A](f: java.sql.Connection => A): A = {
      val conn = java.sql.DriverManager.getConnection(rcfg.url)
      try f(conn) finally conn.close()
    }
    def count(): Long = onConn { conn =>
      val rs = conn.createStatement()
        .executeQuery("SELECT COUNT(*) FROM ROLLBACK_LAW")
      rs.next(); rs.getLong(1)
    }
    onConn(_.createStatement().execute(
      "CREATE TABLE ROLLBACK_LAW (K BIGINT NOT NULL PRIMARY KEY, " +
        "V VARCHAR(8) NOT NULL)"))
    // one partition, one row per batch: the first batch lands, the
    // second violates NOT NULL
    val rows = Seq((1L, "a"), (2L, null: String)).toDF("K", "V").coalesce(1)
    val err = intercept[Exception] {
      idempotentAppend(rows, rcfg, "K", batchSize = 1)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    val states = causes.flatMap {
      case e: java.sql.SQLException =>
        Iterator.iterate(e)(_.getNextException).takeWhile(_ != null)
          .map(_.getSQLState).toSeq
      case _ => Nil
    }
    assert(states.contains("23502") && !states.contains("25001"),
      s"the NOT NULL violation must surface, not a close failure: " +
        s"$states / ${causes.map(_.toString).mkString(" <- ")}")
    assert(count() == 0, "the first batch must have been rolled back")
    // no lock or open transaction is left behind on the table
    applyChangeFeed(Seq(("I", 1L, "a"), ("I", 2L, "b"))
      .toDF("op", "K", "V").coalesce(1), rcfg, "K")
    assert(count() == 2)
  }

  test("Y48 law: CDF-driven lake→JDBC sync converges, replays idempotently, and chains across versions") {
    import graft.ops.Sync
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y48l")
      .toString + "/lake"
    // v1: four rows; v2 mutates one of each class (I/U/D) and carries k=4
    val v1 = Seq((1L, 10.0, "A"), (2L, 20.0, "A"), (3L, 30.0, "A"),
      (4L, 40.0, "A")).toDF("k", "price", "st")
    assert(Sync.publish(spark, v1.repartition(1), root, 1,
      _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    val batch = Seq((2L, 22.0, "B", "U", 1L), (3L, 0.0, "A", "D", 1L),
      (9L, 90.0, "N", "I", 1L)).toDF("k", "price", "st", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 1, 2, "k", batch).published)
    val tcfg = cfg.copy(table = "LAKE_TGT")
    writeTable(v1.limit(0).select(col("k").as("K"),
      col("price").as("PRICE"), col("st").as("ST")),
      tcfg, SaveMode.Overwrite)
    assert(graft.sync.LakeToJdbc.seed(spark, root, 1, "k", tcfg) == 4)
    val rep = graft.sync.LakeToJdbc.incrementalSync(
      spark, root, 1, 2, "k", tcfg)
    assert(rep.validated, s"post-sync drift: $rep")
    assert(rep.nInsert == 1 && rep.nUpdate == 1 && rep.nDelete == 1,
      s"net op counts wrong: $rep")
    def targetSet() = readTable(spark, tcfg, None).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val expect2 = Set((1L, 10.0, "A"), (2L, 22.0, "B"), (4L, 40.0, "A"),
      (9L, 90.0, "N"))
    assert(targetSet() == expect2, s"target diverged: ${targetSet()}")
    // REPLAY: the crash-after-apply shape — the same step runs again
    // before the caller records the new watermark; MERGE re-asserts,
    // DELETE no-ops, the state is unchanged and still validates
    val rep2 = graft.sync.LakeToJdbc.incrementalSync(
      spark, root, 1, 2, "k", tcfg)
    assert(rep2.validated && targetSet() == expect2,
      "replayed sync step changed the target")
    // CHAIN: a further lake version syncs from the new watermark
    val batch3 = Seq((9L, 99.0, "N", "U", 2L), (1L, 0.0, "A", "D", 2L))
      .toDF("k", "price", "st", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 2, 3, "k", batch3).published)
    val rep3 = graft.sync.LakeToJdbc.incrementalSync(
      spark, root, 2, 3, "k", tcfg)
    assert(rep3.validated && rep3.nUpdate == 1 && rep3.nDelete == 1)
    assert(targetSet() ==
      Set((2L, 22.0, "B"), (4L, 40.0, "A"), (9L, 99.0, "N")),
      s"chained step diverged: ${targetSet()}")
  }

  test("Y50 law: catch-up sync — reseed/incremental/noop modes, crash-window replay, retention-loss fallback") {
    import graft.ops.Sync
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y50")
      .toString + "/lake"
    val tcfg = cfg.copy(table = "LAKE_CATCH")
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "price")
    assert(Sync.publish(spark, v1.repartition(1), root, 1,
      _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    writeTable(v1.limit(0).select(col("k").as("K"),
      col("price").as("PRICE")), tcfg, SaveMode.Overwrite)
    ensureKeyIndex(tcfg, Seq("K"))
    def targetSet(): Set[(Long, Double)] =
      readTable(spark, tcfg, None).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    // first run: no watermark → reseed
    val r1 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r1.mode == "reseed" && r1.validated && r1.toVersion == 1 &&
      targetSet() == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)), s"$r1")
    // already live → noop
    val r2 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r2.mode == "noop" && r2.fromVersion == 1 && r2.toVersion == 1)
    // mutate to v2, catch up → ONE incremental CDF jump
    val b2 = Seq((2L, 22.0, "U", 1L), (3L, 0.0, "D", 1L),
      (9L, 90.0, "I", 1L)).toDF("k", "price", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 1, 2, "k", b2).published)
    val r3 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r3.mode == "incremental" && r3.fromVersion == 1 &&
      r3.toVersion == 2 && r3.nInsert == 1 && r3.nUpdate == 1 &&
      r3.nDelete == 1 && r3.validated, s"$r3")
    val after2 = Set((1L, 10.0), (2L, 22.0), (9L, 90.0))
    assert(targetSet() == after2)
    // CRASH WINDOW: the apply landed but the watermark write was lost —
    // wind the state row back to 1; the next tick must re-run the same
    // step onto the already-synced target and converge (replay-
    // idempotent MERGE/DELETE), then advance the watermark
    Class.forName(tcfg.driver)
    val c1 = java.sql.DriverManager.getConnection(tcfg.url)
    try c1.createStatement().executeUpdate(
      "UPDATE SYNC_STATE SET SYNCED_VERSION = 1 WHERE TBL = 'LAKE_CATCH'")
    finally c1.close()
    val r4 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r4.mode == "incremental" && r4.validated &&
      targetSet() == after2, s"crash replay diverged: $r4 ${targetSet()}")
    // RETENTION LOSS: v3 publishes, then retention GC reaps the
    // watermark version (v2) — under the zero-copy carry the husk may
    // keep files newer manifests reference, but its _REAPED marker
    // refuses reads, so the diff FROM v2 is impossible and catchUp
    // must fall back to a loud full reseed of the live version, never
    // a wrong diff
    val b3 = Seq((9L, 99.0, "U", 2L)).toDF("k", "price", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 2, 3, "k", b3).published)
    Sync.gcPublished(spark, root, keepPrevious = 0)
    val p2 = new org.apache.hadoop.fs.Path(s"$root/v2")
    val p2fs = p2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!p2fs.exists(p2) || p2fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/v2/_REAPED")),
      "GC left the watermark version readable — fixture vacuous")
    val r5 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r5.mode == "reseed" && r5.toVersion == 3 && r5.validated &&
      targetSet() == Set((1L, 10.0), (2L, 22.0), (9L, 99.0)),
      s"retention fallback wrong: $r5 ${targetSet()}")
    // and the tick after the disaster is a plain noop again
    assert(graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
      .mode == "noop")
  }

  test("Y51 law: schema-evolving catch-up — adds flow to the target, drops track the source, type changes refuse") {
    import graft.ops.Sync
    import org.apache.spark.sql.types.{StructField, StringType}
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y51")
      .toString + "/lake"
    val tcfg = cfg.copy(table = "LAKE_EVOLVE")
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "price")
    assert(Sync.publish(spark, v1.repartition(1), root, 1,
      _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    writeTable(v1.limit(0).select(col("k").as("K"),
      col("price").as("PRICE")), tcfg, SaveMode.Overwrite)
    ensureKeyIndex(tcfg, Seq("K"))
    assert(graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
      .mode == "reseed")
    // ADD path: evolve (+note), backfill one key via cow, one tick —
    // the target must gain NOTE and carry the backfilled value
    assert(Sync.evolveSchema(spark, root, 1, 2,
      Seq(StructField("note", StringType, nullable = true))))
    val b = Seq((2L, 22.0, "hot", "U", 2L), (4L, 40.0, null, "I", 2L))
      .toDF("k", "price", "note", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 2, 3, "k", b).published)
    val r = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r.mode == "incremental" && r.fromVersion == 1 &&
      r.toVersion == 3 && r.nAddCols == 1 && r.nDropCols == 0 &&
      r.validated, s"$r")
    val rows = readTable(spark, tcfg, None).collect()
      .map(t => (t.getLong(0), t.getDouble(1),
        Option(t.getString(2)))).toSet
    assert(rows == Set((1L, 10.0, None), (2L, 22.0, Some("hot")),
      (3L, 30.0, None), (4L, 40.0, None)), s"$rows")
    // DROP path: a target column the lake never had must go — a mirror
    // that keeps it is drift wearing a schema. Next tick is noop-mode
    // but still reconciles (schema rides every tick, not just data).
    Class.forName(tcfg.driver)
    val c = java.sql.DriverManager.getConnection(tcfg.url)
    try c.createStatement().execute(
      "ALTER TABLE LAKE_EVOLVE ADD COLUMN JUNK INTEGER")
    finally c.close()
    val r2 = graft.sync.LakeToJdbc.catchUp(spark, root, "k", tcfg)
    assert(r2.mode == "noop" && r2.nDropCols == 1 &&
      !readTable(spark, tcfg, None).columns.map(_.toUpperCase)
        .contains("JUNK"), s"$r2")
    // TYPE-CHANGE refusal: a hand-built target with PRICE INTEGER
    // against the lake's DOUBLE is an operator decision, not a tick's
    val t3 = tcfg.copy(table = "LAKE_BADTYPE")
    val c2 = java.sql.DriverManager.getConnection(tcfg.url)
    try c2.createStatement().execute(
      "CREATE TABLE LAKE_BADTYPE (K BIGINT NOT NULL PRIMARY KEY, " +
        "PRICE INTEGER, NOTE VARCHAR(32))")
    finally c2.close()
    val ex = intercept[IllegalArgumentException] {
      graft.sync.LakeToJdbc.catchUp(spark, root, "k", t3)
    }
    assert(ex.getMessage.contains("type changes cannot auto-apply"))
  }

  test("Y53 law: JDBC→lake capture — bootstrap/incremental/noop, quiet ticks mint no version, replay converges, round-trip closes") {
    import graft.ops.Sync
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y53")
      .toString + "/lake"
    val sCfg = cfg.copy(table = "CAPTURE_SRC")
    def loadSrc(rows: Seq[(Long, Double)]): Unit = {
      writeTable(rows.toDF("k", "price").select(col("k").as("K"),
        col("price").as("PRICE")), sCfg, SaveMode.Overwrite)
      ensureKeyIndex(sCfg, Seq("K"))
    }
    loadSrc(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    val t1 = graft.sync.JdbcToLake.capture(spark, sCfg, root, "k")
    assert(t1.mode == "bootstrap" && t1.version == 1 && t1.validated)
    def lakeSet(): Set[(Long, Double)] =
      Sync.readPublished(spark, root)._2.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(lakeSet() == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // quiet tick: empty diff, NO version minted
    val t2 = graft.sync.JdbcToLake.capture(spark, sCfg, root, "k")
    assert(t2.mode == "noop" && t2.version == 1)
    // source mutates: U(2), D(3), I(9) → one cow version, mix counted
    loadSrc(Seq((1L, 10.0), (2L, 22.0), (9L, 90.0)))
    val t3 = graft.sync.JdbcToLake.capture(spark, sCfg, root, "k")
    assert(t3.mode == "incremental" && t3.version == 2 &&
      t3.nInsert == 1 && t3.nUpdate == 1 && t3.nDelete == 1 &&
      t3.validated, s"$t3")
    assert(lakeSet() == Set((1L, 10.0), (2L, 22.0), (9L, 90.0)))
    // replay (the crash-window: tick re-runs after an applied cow):
    // the diff against the NEW live version is empty → noop, v stays
    assert(graft.sync.JdbcToLake.capture(spark, sCfg, root, "k")
      .version == 2)
    // ROUND-TRIP CLOSES: catch the captured lake up into a second
    // Derby table and digest-match it against the original source
    val tCfg = cfg.copy(table = "CAPTURE_TGT")
    writeTable(Seq.empty[(Long, Double)].toDF("k", "price")
      .select(col("k").as("K"), col("price").as("PRICE")),
      tCfg, SaveMode.Overwrite)
    ensureKeyIndex(tCfg, Seq("K"))
    assert(graft.sync.LakeToJdbc.catchUp(spark, root, "k", tCfg)
      .mode == "reseed")
    val e2e = graft.sync.SyncJob.validate(
      readTable(spark, sCfg, None), readTable(spark, tCfg, None),
      graft.sync.SyncJob.SyncConfig(Seq("K"), Seq("PRICE"),
        deleteMissing = true))
    assert(e2e, "round-trip source≡target digest failed")
  }

  test("capture pinning law: the pinned diff reads no JDBC relation, and a tick — committed or refused — leaves no cached block behind") {
    import graft.ops.Sync
    import graft.sync.JdbcToLake
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cappin")
      .toString + "/lake"
    val sCfg = cfg.copy(table = "CAPTURE_PIN")
    def loadSrc(rows: Seq[(Long, Double)]): Unit = {
      writeTable(rows.toDF("k", "price").select(col("k").as("K"),
        col("price").as("PRICE")), sCfg, SaveMode.Overwrite)
      ensureKeyIndex(sCfg, Seq("K"))
    }
    def jdbcIn(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.getClass.getSimpleName == "JDBCRelation"
        case _ => false
      }
    def noCachedBlocks(what: String): Unit = {
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$what left a frame in the CacheManager")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$what left a persisted RDD behind")
    }
    loadSrc(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    assert(JdbcToLake.capture(spark, sCfg, root, "k").mode == "bootstrap")
    loadSrc(Seq((1L, 10.0), (2L, 22.0), (4L, 40.0), (9L, 90.0)))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    // the diff capture builds reads the source; once pinned it does not
    val snap = readTable(spark, sCfg, None)
      .select(col("K").as("k"), col("PRICE").as("price"))
    val diff = JdbcToLake.snapshotDiff(
      Sync.readPublishedMor(spark, root, "k")._2, snap, "k", 1)
    assert(jdbcIn(diff), "the unpinned diff should read the JDBC source")
    val pinned = JdbcToLake.pin(diff)
    try {
      assert(!jdbcIn(pinned.batch),
        "the pinned diff can still recompute from the live source")
      assert(pinned.counts == Map("I" -> 1L, "U" -> 1L, "D" -> 1L),
        s"${pinned.counts}")
      assert(pinned.batch.select("op", "k").as[(String, Long)].collect()
        .toSet == Set(("U", 2L), ("D", 3L), ("I", 9L)))
    } finally pinned.release()
    noCachedBlocks("a released pin")
    // a committed tick
    val t = JdbcToLake.capture(spark, sCfg, root, "k")
    assert(t.mode == "incremental" && t.version == 2 && t.nInsert == 1 &&
      t.nUpdate == 1 && t.nDelete == 1, s"$t")
    noCachedBlocks("a committed capture tick")
    // a refused tick: v3 already exists, so the publish is refused
    loadSrc(Seq((1L, 11.0), (2L, 22.0), (9L, 90.0)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v3"))
    val e = intercept[IllegalArgumentException] {
      JdbcToLake.capture(spark, sCfg, root, "k")
    }
    assert(e.getMessage.contains("refused"), e.getMessage)
    noCachedBlocks("a refused capture tick")
    // the refusal changed nothing: once the stray dir is gone the same
    // tick commits
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v3"), true)
    val t3 = JdbcToLake.capture(spark, sCfg, root, "k")
    assert(t3.mode == "incremental" && t3.version == 3 &&
      t3.nUpdate == 1 && t3.nDelete == 1, s"$t3")
    noCachedBlocks("the replayed capture tick")
  }

  test("Y52 law: group catch-up — FK-safe order, replay converges, all-or-nothing reseed, wrong order refuses") {
    import graft.ops.Sync
    import graft.sync.LakeToJdbc.GroupMember
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y52")
      .toString + "/grp"
    val p1 = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val c1 = Seq((10L, 1L, 100.0), (11L, 2L, 200.0)).toDF("k", "fk", "v")
    assert(Sync.publishGroup(spark, root,
      Seq("p" -> p1, "c" -> c1), 1, _.head(1).nonEmpty))
    Class.forName(cfg.driver)
    def ddl(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(cfg.url)
      try c.createStatement().execute(sql) finally c.close()
    }
    // REAL FK constraint: the law is Derby refusing bad orderings, not
    // this suite asserting them
    ddl("CREATE TABLE GRP_P (K BIGINT NOT NULL PRIMARY KEY, " +
      "NAME VARCHAR(32))")
    ddl("CREATE TABLE GRP_C (K BIGINT NOT NULL PRIMARY KEY, " +
      "FK BIGINT NOT NULL REFERENCES GRP_P (K), V DOUBLE)")
    val mp = GroupMember("p", "k", cfg.copy(table = "GRP_P"))
    val mc = GroupMember("c", "k", cfg.copy(table = "GRP_C"))
    val r1 = graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(mp, mc))
    assert(r1.forall(_._2.mode == "reseed") &&
      r1.forall(_._2.validated), s"$r1")
    // v2: parent gains 3 / loses 2; child 11 re-homes 2→3 (must apply
    // BEFORE the parent delete), child 12 inserts onto the NEW parent
    // (must apply AFTER the parent insert)
    val p2 = Seq((1L, "a"), (3L, "c")).toDF("k", "name")
    val c2 = Seq((10L, 1L, 100.0), (11L, 3L, 200.0), (12L, 3L, 300.0))
      .toDF("k", "fk", "v")
    assert(Sync.publishGroup(spark, root,
      Seq("p" -> p2, "c" -> c2), 2, _.head(1).nonEmpty))
    val r2 = graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(mp, mc))
    val r2m = r2.toMap
    assert(r2.forall(_._2.mode == "incremental") &&
      r2m("p").nInsert == 1 && r2m("p").nDelete == 1 &&
      r2m("c").nInsert == 1 && r2m("c").nUpdate == 1, s"$r2")
    def tset(t: String): Set[(Long, Long)] = {
      val c = java.sql.DriverManager.getConnection(cfg.url)
      try {
        val rs = c.createStatement().executeQuery(
          s"SELECT K, ${if (t == "GRP_C") "FK" else "K"} FROM $t")
        val b = Set.newBuilder[(Long, Long)]
        while (rs.next()) b += ((rs.getLong(1), rs.getLong(2)))
        b.result()
      } finally c.close()
    }
    assert(tset("GRP_P").map(_._1) == Set(1L, 3L) &&
      tset("GRP_C") == Set((10L, 1L), (11L, 3L), (12L, 3L)))
    // CRASH-WINDOW REPLAY: both watermarks wound back; the re-run must
    // re-apply the same FK-ordered step onto the synced target
    ddl("UPDATE SYNC_STATE SET SYNCED_VERSION = 1 " +
      "WHERE TBL IN ('GRP_P', 'GRP_C')")
    val r3 = graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(mp, mc))
    assert(r3.forall(_._2.mode == "incremental") &&
      r3.forall(_._2.validated) &&
      tset("GRP_C") == Set((10L, 1L), (11L, 3L), (12L, 3L)), s"$r3")
    // ALL-OR-NOTHING: child-only v3 publish, parent watermark lost →
    // the whole group reseeds (a parent rebuild under live children is
    // FK-impossible piecemeal), then the next tick noops
    assert(Sync.publishGroup(spark, root,
      Seq("c" -> Seq((10L, 1L, 110.0)).toDF("k", "fk", "v")), 3,
      _.head(1).nonEmpty))
    ddl("DELETE FROM SYNC_STATE WHERE TBL = 'GRP_P'")
    val r4 = graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(mp, mc))
    assert(r4.forall(_._2.mode == "reseed") &&
      tset("GRP_C") == Set((10L, 1L)), s"$r4")
    assert(graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(mp, mc))
      .forall(_._2.mode == "noop"))
    // WRONG ORDER REFUSES: fresh FK-constrained targets, members listed
    // child-first — the child seed fires before its parents exist and
    // Derby itself throws; nothing in the sync layer special-cases it
    ddl("CREATE TABLE GRP_P2 (K BIGINT NOT NULL PRIMARY KEY, " +
      "NAME VARCHAR(32))")
    ddl("CREATE TABLE GRP_C2 (K BIGINT NOT NULL PRIMARY KEY, " +
      "FK BIGINT NOT NULL REFERENCES GRP_P2 (K), V DOUBLE)")
    val bad = Seq(GroupMember("c", "k", cfg.copy(table = "GRP_C2")),
      GroupMember("p", "k", cfg.copy(table = "GRP_P2")))
    val ex = intercept[Exception] {
      graft.sync.LakeToJdbc.catchUpGroup(spark, root, bad)
    }
    def fkViolation(t: Throwable): Boolean =
      if (t == null) false
      else t.isInstanceOf[java.sql.SQLException] &&
        t.getMessage.contains("foreign key") || fkViolation(t.getCause)
    assert(fkViolation(ex) || ex.getMessage.toLowerCase.contains("foreign"),
      s"expected an FK violation, got: $ex")
  }

  test("group catch-up leak law: a drift refusal leaves no member feed cached") {
    import graft.ops.Sync
    import graft.sync.LakeToJdbc.{GroupMember, Validation}
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_grpleak")
      .toString + "/grp"
    def snap(name2: String) = Seq((1L, "a"), (2L, name2), (3L, "c"))
      .toDF("k", "name")
    assert(Sync.publishGroup(spark, root, Seq("p" -> snap("b")), 1,
      _.head(1).nonEmpty))
    Class.forName(cfg.driver)
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(cfg.url)
      try c.createStatement().execute(sql) finally c.close()
    }
    exec("CREATE TABLE GRP_LEAK (K BIGINT NOT NULL PRIMARY KEY, " +
      "NAME VARCHAR(32))")
    val m = GroupMember("p", "k", cfg.copy(table = "GRP_LEAK"))
    assert(graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(m))
      .forall(_._2.validated))
    // v2's feed touches only k=2; the mirror loses k=3 behind the
    // sync's back, so the full validation after the apply must refuse
    assert(Sync.publishGroup(spark, root, Seq("p" -> snap("B")), 2,
      _.head(1).nonEmpty))
    exec("DELETE FROM GRP_LEAK WHERE K = 3")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    val e = intercept[IllegalArgumentException] {
      graft.sync.LakeToJdbc.catchUpGroup(spark, root, Seq(m),
        validation = Validation.Full())
    }
    assert(e.getMessage.contains("left drift"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the refused catch-up left a member feed in the cache")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the refused catch-up left a persisted RDD behind")
  }

  test("Y48b law: CDF-driven lake→SCD2 sync — history accretes, current slice converges, replay is a no-op, chain extends history") {
    import graft.ops.Sync
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y48b")
      .toString + "/lake"
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "price")
    assert(Sync.publish(spark, v1.repartition(1), root, 1,
      _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    val tcfg = cfg.copy(table = "LAKE_HIST")
    Class.forName(tcfg.driver)
    val conn = java.sql.DriverManager.getConnection(tcfg.url)
    try conn.createStatement().execute(
      "CREATE TABLE LAKE_HIST (K BIGINT, PRICE DOUBLE, " +
        "VALID_FROM BIGINT, VALID_TO BIGINT, IS_CURRENT SMALLINT, " +
        "PRIMARY KEY (K, VALID_FROM))")
    finally conn.close()
    // seed = the v1 snapshot as an all-I feed stamped with version 1
    applyScd2Feed(v1.select(lit("I").as("op"), col("k").as("K"),
      col("price").as("PRICE"), lit(1L).as("ver")), tcfg, "K", "PRICE")
    def hist(): Set[(Long, Double, Long, Option[Long], Int)] =
      readTable(spark, tcfg, None).collect().map(r => (r.getLong(0),
        r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4))).toSet
    assert(hist() == Set((1L, 10.0, 1L, None, 1), (2L, 20.0, 1L, None, 1),
      (3L, 30.0, 1L, None, 1)), s"seed wrong: ${hist()}")
    // v2: update k=2, delete k=3, insert k=9 — one CDC cow apply
    val batch = Seq((2L, 22.0, "U", 1L), (3L, 0.0, "D", 1L),
      (9L, 90.0, "I", 1L)).toDF("k", "price", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 1, 2, "k", batch).published)
    val rep = graft.sync.LakeToJdbc.incrementalScd2(
      spark, root, 1, 2, "k", "price", tcfg)
    assert(rep.validated && rep.nInsert == 1 && rep.nUpdate == 1 &&
      rep.nDelete == 1, s"scd2 step wrong: $rep")
    val after2 = Set(
      (1L, 10.0, 1L, None, 1),           // untouched, still open
      (2L, 20.0, 1L, Some(2L), 0),       // closed at version 2...
      (2L, 22.0, 2L, None, 1),           // ...new version open
      (3L, 30.0, 1L, Some(2L), 0),       // delete = close WITHOUT open
      (9L, 90.0, 2L, None, 1))           // insert opens at 2
    assert(hist() == after2, s"history after step 1: ${hist()}")
    // REPLAY: the valid_from<ver guard + (key, valid_from) MERGE make
    // the whole step a no-op on re-delivery
    val rep2 = graft.sync.LakeToJdbc.incrementalScd2(
      spark, root, 1, 2, "k", "price", tcfg)
    assert(rep2.validated && hist() == after2,
      s"replayed SCD2 step changed history: ${hist()}")
    // CHAIN: v3 updates k=9; history extends, old versions untouched
    val batch3 = Seq((9L, 99.0, "U", 2L)).toDF("k", "price", "op", "version")
    assert(Sync.cowApplyChanges(spark, root, 2, 3, "k", batch3).published)
    val rep3 = graft.sync.LakeToJdbc.incrementalScd2(
      spark, root, 2, 3, "k", "price", tcfg)
    assert(rep3.validated && rep3.nUpdate == 1)
    assert(hist() == after2 - ((9L, 90.0, 2L, None, 1)) +
      ((9L, 90.0, 2L, Some(3L), 0)) + ((9L, 99.0, 3L, None, 1)),
      s"chained history wrong: ${hist()}")
  }

  test("Validation law: sampled ticks are churn-priced; count probe, " +
      "cadence and bucket rotation catch what one sample misses") {
    import graft.sync.LakeToJdbc
    import graft.sync.LakeToJdbc.Validation
    val cfgV = cfg.copy(table = "ORDERS_VALM")
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(cfgV.url)
      try c.createStatement().executeUpdate(sql) finally c.close()
    }
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("O_ORDERKEY"),
        col("o_totalprice").as("O_TOTALPRICE")).limit(400)
    writeTable(o.limit(0), cfgV, SaveMode.Overwrite)
    ensureKeyIndex(cfgV, Seq("O_ORDERKEY"))
    writeTable(o, cfgV, SaveMode.Append)
    val lake = o // stands in for the published v_to content
    val buckets = 8
    // converged: both modes certify, and the sample tag discloses mode
    val (ok0, tag0) = LakeToJdbc.validateTarget(spark, lake,
      "O_ORDERKEY", cfgV, 2, Validation.Sampled(buckets))
    assert(ok0 && tag0 == s"sampled[$buckets:2]")
    assert(LakeToJdbc.validateTarget(spark, lake, "O_ORDERKEY", cfgV,
      2, Validation.Full(4))._1)
    // the full pull is range-partitioned: 4 parallel JDBC scans, not
    // one connection streaming the table (the r11 scale defect)
    assert(LakeToJdbc.fullTargetRead(spark, lake, "O_ORDERKEY", cfgV,
      "O_ORDERKEY", 4).rdd.getNumPartitions == 4)
    val bucketAt2 = 2 // floorMod(version 2, 8)
    // VOLUME drift outside the sampled bucket: the exact COUNT probe
    // (one 1-row query) fails the very next sampled tick
    val gone = o.filter(pmod(col("O_ORDERKEY"), lit(buckets))
        =!= bucketAt2).select("O_ORDERKEY", "O_TOTALPRICE").head()
    exec(s"DELETE FROM ORDERS_VALM WHERE O_ORDERKEY = ${gone.getLong(0)}")
    assert(!LakeToJdbc.validateTarget(spark, lake, "O_ORDERKEY", cfgV,
      2, Validation.Sampled(buckets))._1,
      "count probe must catch volume drift outside the bucket")
    exec(s"INSERT INTO ORDERS_VALM VALUES (${gone.getLong(0)}, " +
      s"${gone.getDouble(1)})")
    // VALUE drift outside the bucket: version 2's sampled tick misses
    // it — the disclosed, churn-priced trade —
    val drift = o.filter(pmod(col("O_ORDERKEY"), lit(buckets))
      =!= bucketAt2).select("O_ORDERKEY").head().getLong(0)
    exec(s"UPDATE ORDERS_VALM SET O_TOTALPRICE = -1 " +
      s"WHERE O_ORDERKEY = $drift")
    assert(LakeToJdbc.validateTarget(spark, lake, "O_ORDERKEY", cfgV,
      2, Validation.Sampled(buckets))._1)
    // — but the full-cadence tick runs the complete digest and catches
    val (okCad, tagCad) = LakeToJdbc.validateTarget(spark, lake,
      "O_ORDERKEY", cfgV, 2, Validation.Sampled(buckets, fullEvery = 2))
    assert(!okCad && tagCad == "full")
    // — and bucket ROTATION catches it within `buckets` plain ticks:
    // the version whose bucket covers the drifted key fails sampled
    val driftBucket = java.lang.Math.floorMod(drift, buckets).toInt
    val (okRot, tagRot) = LakeToJdbc.validateTarget(spark, lake,
      "O_ORDERKEY", cfgV, driftBucket, Validation.Sampled(buckets))
    assert(!okRot && tagRot == s"sampled[$buckets:$driftBucket]")
  }
}
