package graft.sources

import graft.sync.MergeSql
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** JDBC source/sink for table synchronization (SURVEY.md §2.1 S4/S5 — the
  * reference's named approach: "JDBC read/write for table synchronization",
  * BASELINE.md). Scans and plain writes are Spark's standard parallel JDBC
  * reads/writes; the keyed writers ([[idempotentAppend]],
  * [[applyChangeFeed]], [[applyScd2Feed]]) and the streaming JDBC sinks
  * all run through ONE executor-side apply kernel, and every connection
  * the library opens itself goes through [[withConn]]. The laws run end
  * to end against embedded Derby (JdbcSyncSuite, StreamingSuite); the
  * T-SQL renderings for the MS-SQL-shaped target are pinned offline in
  * SyncJobSuite.
  *
  * Scale notes: reads MUST be range-partitioned (partitionColumn/bounds/
  * numPartitions) or the whole table funnels through one task; writes batch
  * statements per partition (`batchsize`), and MS-SQL type mapping is Spark's
  * built-in MsSqlServerDialect (SURVEY §7.4 — no custom dialect needed).
  */
object JdbcSync {

  // Embedded-Derby stand-in tuning lives in [[graft.EntryTuning]] and
  // is applied by the BENCH/TEST entry points, never by this library's
  // class load: a host application embedding this module must not have
  // its own Derby databases' crash durability silently disabled by a
  // static initializer (r13 shipped it here; r14 moved it out).

  final case class JdbcConfig(
      url: String,
      table: String,
      user: String = "",
      password: String = "",
      driver: String = "com.microsoft.sqlserver.jdbc.SQLServerDriver")

  final case class ReadPartitioning(
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int)

  def readOptions(cfg: JdbcConfig, part: Option[ReadPartitioning],
                  fetchSize: Int = 10000): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url, "dbtable" -> cfg.table,
      "user" -> cfg.user, "password" -> cfg.password,
      "driver" -> cfg.driver, "fetchsize" -> fetchSize.toString)
    base ++ part.map(p => Map(
      "partitionColumn" -> p.partitionColumn,
      "lowerBound" -> p.lowerBound.toString,
      "upperBound" -> p.upperBound.toString,
      "numPartitions" -> p.numPartitions.toString)).getOrElse(Map.empty)
  }

  def writeOptions(cfg: JdbcConfig, batchSize: Int = 10000,
                   isolation: String = "READ_COMMITTED"): Map[String, String] =
    Map("url" -> cfg.url, "dbtable" -> cfg.table,
        "user" -> cfg.user, "password" -> cfg.password,
        "driver" -> cfg.driver, "batchsize" -> batchSize.toString,
        "isolationLevel" -> isolation)

  /** S4: parallel range-partitioned JDBC scan. */
  def readTable(spark: SparkSession, cfg: JdbcConfig,
                part: Option[ReadPartitioning]): DataFrame =
    spark.read.format("jdbc").options(readOptions(cfg, part)).load()

  /** S5: batched JDBC write.
    *
    * NOT idempotent under task retry in Append mode: Spark's JDBC sink
    * has no transactional coordination across tasks, so a task that
    * fails AFTER inserting some batches re-runs and re-inserts them —
    * duplicate rows. Use [[idempotentAppend]] for keyed targets; plain
    * Append is only exactly-once when the write is known
    * retry-free (e.g. staging into a fresh table that is atomically
    * swapped/validated afterwards). */
  def writeTable(df: DataFrame, cfg: JdbcConfig, mode: SaveMode): Unit =
    df.write.format("jdbc").options(writeOptions(cfg)).mode(mode).save()

  /** Ensure the sync key is indexed on the target — the one DDL the
    * MERGE/DELETE apply paths structurally require. Spark's JDBC
    * writer creates tables with NO constraints or indexes, so without
    * this every single-row MERGE probe in [[idempotentAppend]] /
    * [[applyChangeFeed]] is a FULL TABLE SCAN and a seed degrades to
    * O(n²) — measured: a 150k-row seed that takes seconds indexed ran
    * for 28+ minutes unindexed on embedded Derby. Idempotent: an
    * already-existing index (Derby X0Y32 / T-SQL "already exists") is
    * swallowed, so retried jobs and pre-indexed targets (a real DBA'd
    * table with its own PK) pass through untouched. */
  def ensureKeyIndex(cfg: JdbcConfig, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "ensureKeyIndex: at least one column")
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    require(cfg.table.matches(s"$ident(\\.$ident)?") &&
      cols.forall(_.matches(ident)),
      s"ensureKeyIndex: invalid identifier in ${cfg.table} / $cols")
    val name = s"IX_${cfg.table.replace('.', '_')}_${cols.mkString("_")}"
    withConn(cfg) { conn =>
      try conn.createStatement().execute(
        s"CREATE INDEX $name ON ${cfg.table} (${cols.mkString(", ")})")
      catch {
        case e: java.sql.SQLException
            if e.getSQLState == "X0Y32" ||
              Option(e.getMessage).exists(_.contains("already exists")) =>
          () // idempotent re-run or externally managed index
      }
    }
  }

  /** Open one connection to `cfg`, run `f`, close it — the only place
    * the library asks `DriverManager` for a connection. */
  def withConn[A](cfg: JdbcConfig)(f: java.sql.Connection => A): A = {
    Class.forName(cfg.driver)
    val conn =
      if (cfg.user.isEmpty) java.sql.DriverManager.getConnection(cfg.url)
      else java.sql.DriverManager.getConnection(cfg.url, cfg.user,
        cfg.password)
    try f(conn) finally conn.close()
  }

  /** Retry-idempotent keyed append: each partition MERGEs its rows into
    * the target on the PK (the [[graft.sync.MergeSql]] dialect builder —
    * Derby for the embedded e2e tests, T-SQL for the MS-SQL-shaped
    * target), so a retried task re-MERGEs the same keys into the same
    * final state instead of duplicating inserts — the exactly-once
    * closure for the append path that plain [[writeTable]] lacks
    * (its scaladoc). LAW (JdbcSyncSuite): running the same append twice
    * — the worst-case retry — leaves the table equal to running it once.
    *
    * Executor-side like any batch JDBC write (foreachPartition, batched
    * statements, one commit per partition): nothing funnels through the
    * driver, parallelism = input partitions. The input must be unique
    * per key (pre-aggregate latest-wins first — y4's shape — as the
    * streaming sink does); duplicate in-batch keys would race their own
    * MERGEs. Cost vs plain INSERT is the per-row match probe — the
    * price of exactly-once on a non-transactional sink. */
  def idempotentAppend(df: DataFrame, cfg: JdbcConfig, key: String,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      batchSize: Int = 1000): Unit = {
    val valueCols = df.schema.fieldNames.filterNot(_ == key).toSeq
    applyPartitions(df, cfg,
      Seq(MergeSql.upsert(dialect, cfg.table, key, valueCols)),
      _ => Seq(0), batchSize)
  }

  /** The one executor-side write loop behind every keyed JDBC writer.
    * Each non-empty partition opens one connection ([[withConn]]) with
    * autocommit off, prepares `stmts`, and binds each row ([[bindRow]])
    * into the statements `route` names (indices into `stmts`). Flush
    * rule: once any statement holds `batchSize` rows, every statement
    * with pending rows executes, in declared order — so a statement
    * declared earlier (SCD2's close) always lands before a later one
    * (its open) for the same rows. The partition commits once at the
    * end. Any failure rolls the partition back before the connection
    * closes: closing with a transaction open is driver-defined (Derby
    * refuses with 25001, which would mask the real error and leave the
    * first batches' locks held; other drivers commit the partial work a
    * retry assumes was never applied). */
  private def applyPartitions(df: DataFrame, cfg: JdbcConfig,
      stmts: Seq[MergeSql.Stmt], route: Row => Seq[Int],
      batchSize: Int): Unit = {
    val schema = df.schema
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) withConn(cfg) { conn =>
        conn.setAutoCommit(false)
        val ps = new Array[java.sql.PreparedStatement](stmts.size)
        val pending = new Array[Int](stmts.size)
        def flush(): Unit = ps.indices.foreach { i =>
          if (pending(i) > 0) { ps(i).executeBatch(); pending(i) = 0 }
        }
        try {
          stmts.indices.foreach(i =>
            ps(i) = conn.prepareStatement(stmts(i).sql))
          rows.foreach { r =>
            route(r).foreach { i =>
              bindRow(ps(i), stmts(i).bindOrder, schema, r)
              ps(i).addBatch(); pending(i) += 1
            }
            if (pending.exists(_ >= batchSize)) flush()
          }
          flush()
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        } finally ps.foreach(p => if (p != null) p.close())
      }
    }
  }

  /** Typed JDBC parameter binding for one row, in the statement's own
    * bind order — shared by every executor-side batched writer here so
    * the Spark-type → JDBC-setter dispatch exists exactly once. */
  private def bindRow(ps: java.sql.PreparedStatement,
      bindOrder: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      r: Row): Unit = {
    import org.apache.spark.sql.types._
    bindOrder.zipWithIndex.foreach { case (cn, pos) =>
      val i = schema.fieldIndex(cn)
      if (r.isNullAt(i))
        ps.setObject(pos + 1, null)
      else schema(i).dataType match {
        case LongType      => ps.setLong(pos + 1, r.getLong(i))
        case IntegerType   => ps.setInt(pos + 1, r.getInt(i))
        case DoubleType    => ps.setDouble(pos + 1, r.getDouble(i))
        case FloatType     => ps.setFloat(pos + 1, r.getFloat(i))
        case StringType    => ps.setString(pos + 1, r.getString(i))
        case BooleanType   => ps.setBoolean(pos + 1, r.getBoolean(i))
        case TimestampType => ps.setTimestamp(pos + 1, r.getTimestamp(i))
        case DateType      => ps.setDate(pos + 1, r.getDate(i))
        case _: DecimalType => ps.setBigDecimal(pos + 1, r.getDecimal(i))
        case _             => ps.setObject(pos + 1, r.get(i))
      }
    }
  }

  /** Y48: apply one change-data-feed batch (the y41 `lakeChanges` row
    * shape — `op` ∈ I/U/D, the key, then the data columns: post-image
    * for I/U, pre-image identity for D) to a JDBC target. I/U rows
    * MERGE on the key (retry-idempotent upsert), D rows DELETE by key
    * (deleting an absent key is a no-op), so REPLAYING the whole feed —
    * the worst-case task retry or a re-delivered micro-batch — lands on
    * the same final state: the exactly-once contract the incremental
    * sync job needs from its non-transactional side.
    *
    * Executor-side like [[idempotentAppend]]: foreachPartition, batched
    * statements, one transaction per partition — the CDF is churn-sized
    * by construction (y41 diffs only changed files), so the JDBC
    * round-trips are proportional to the churn, never the table. A key
    * appears at most once per feed (y41 emits one net op per key), so
    * in-partition statement order can't race itself. */
  def applyChangeFeed(changes: DataFrame, cfg: JdbcConfig, key: String,
      opCol: String = "op",
      dialect: MergeSql.Dialect = MergeSql.Derby,
      batchSize: Int = 1000): Unit = {
    val names = changes.schema.fieldNames
    require(names.contains(opCol) && names.contains(key),
      s"applyChangeFeed: feed must carry '$opCol' and '$key' columns")
    val valueCols = names.filterNot(c => c == key || c == opCol).toSeq
    val opIdx = changes.schema.fieldIndex(opCol)
    applyPartitions(changes, cfg,
      Seq(MergeSql.upsert(dialect, cfg.table, key, valueCols),
        MergeSql.delete(dialect, cfg.table, key)),
      r => r.getString(opIdx) match {
        case "I" | "U" => Seq(0)
        case "D" => Seq(1)
        // fail the partition's transaction, never half-apply a feed with
        // corrupt ops — rollback keeps the target as it was and the
        // retried task re-applies idempotently
        case other => throw new IllegalArgumentException(
          s"applyChangeFeed: unknown op '$other' (expected I/U/D)")
      }, batchSize)
  }

  /** Y48b: apply one change-data-feed batch to an SCD2 HISTORY target —
    * the warehouse-grade sibling of [[applyChangeFeed]]: instead of
    * overwriting the key's row, every op CLOSES the key's current
    * version (`valid_to = ver, is_current = 0`; the `valid_from < ver`
    * guard makes replay a no-op) and I/U additionally OPEN the new one
    * via a MERGE keyed on (key, valid_from), so a replayed feed
    * re-updates the same history row instead of duplicating it — the
    * whole apply is replay-idempotent like the flat variant. A delete
    * closes without opening: the key's history survives, which is the
    * point of SCD2. The feed must carry the key, ONE tracked value
    * column (SCD2 history is per-attribute by design — project before
    * calling), the op, and a `ver` column (callers use the lake's
    * destination version number: one monotone clock for the whole
    * step). Close executes before open per flush; one (net) op per key
    * per feed keeps the pair atomic within the partition transaction. */
  def applyScd2Feed(changes: DataFrame, cfg: JdbcConfig, key: String,
      valueCol: String, opCol: String = "op", verCol: String = "ver",
      dialect: MergeSql.Dialect = MergeSql.Derby,
      batchSize: Int = 1000): Unit = {
    require(Seq(key, valueCol, opCol, verCol)
      .forall(changes.schema.fieldNames.contains),
      s"applyScd2Feed: feed must carry '$key', '$valueCol', '$opCol', " +
        s"'$verCol'")
    // MergeSql renders bind slots under the name "ver"; rebind it to the
    // caller's column
    def rebind(st: MergeSql.Stmt): MergeSql.Stmt =
      st.copy(bindOrder = st.bindOrder.map(c => if (c == "ver") verCol else c))
    val opIdx = changes.schema.fieldIndex(opCol)
    applyPartitions(changes, cfg,
      Seq(rebind(MergeSql.scd2Close(dialect, cfg.table, key)),
        rebind(MergeSql.scd2Open(dialect, cfg.table, key, valueCol))),
      r => r.getString(opIdx) match {
        case "D" => Seq(0)
        case "I" | "U" => Seq(0, 1)
        case other => throw new IllegalArgumentException(
          s"applyScd2Feed: unknown op '$other' (expected I/U/D)")
      }, batchSize)
  }

  /** One chunk's outcome from [[resumableCopy]]. */
  final case class ChunkReport(chunk_id: Int, lo: Long, hi: Long,
                               n_rows: Long, status: String)

  /** Y28: RESUMABLE chunked bulk copy — the restart story a first-time
    * bulk sync needs: at 100 TB a single monolithic copy WILL die
    * mid-flight (spot loss, network partition, maintenance window), and
    * without a durable cursor the only options are duplicate-risking
    * re-append or a full restart. Shape:
    *
    *  - the caller splits the key range into chunks (y14's
    *    partition-bounds planner is the natural source of the splits);
    *  - per chunk, the source slice (`lo <= key < hi` — a pushed-down
    *    range predicate, so each chunk reads only its slice) MERGEs into
    *    the target via [[idempotentAppend]];
    *  - then ONE progress row (chunk_id, lo, hi, n_rows) inserts
    *    transactionally — the chunk's commit point;
    *  - a (re)start first reads the progress table and SKIPS completed
    *    chunks.
    *
    * Crash safety is the ORDER of those two steps: dying between the
    * data MERGE and the progress insert re-runs the chunk, and the
    * MERGE is retry-idempotent, so the end state is exactly-once no
    * matter where the previous run died. Chunks run sequentially on the
    * driver (each internally parallel) — the sequencing is the cursor;
    * parallel chunk dispatch would need per-chunk leases, which a
    * single-writer sync job doesn't.
    *
    * `failAfterChunks` is the crash-injection hook the restart law
    * tests with (throws after N chunk commits, mid-"run"); production
    * callers leave it None.
    */
  def resumableCopy(src: DataFrame, key: String, bounds: Seq[(Long, Long)],
      target: JdbcConfig, progressTable: String,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      failAfterChunks: Option[Int] = None): Seq[ChunkReport] = {
    import org.apache.spark.sql.functions.col
    val done: Map[Int, (Long, Long, Long)] = withConn(target) { conn =>
      val rs = conn.createStatement()
        .executeQuery(s"SELECT chunk_id, lo, hi, n_rows FROM $progressTable")
      val b = Map.newBuilder[Int, (Long, Long, Long)]
      while (rs.next())
        b += rs.getInt(1) -> ((rs.getLong(2), rs.getLong(3), rs.getLong(4)))
      b.result()
    }
    var copied = 0
    bounds.zipWithIndex.map { case ((lo, hi), id) =>
      if (done.contains(id)) {
        // A skip is only safe when it skips the SAME range: a restart
        // invoked with a different bounds list must fail loudly, not
        // silently drop/duplicate the mismatched slice while reporting
        // success.
        val (plo, phi, n) = done(id)
        require(plo == lo && phi == hi,
          s"resumableCopy: progress row for chunk $id records bounds " +
            s"[$plo,$phi) but this run requested [$lo,$hi) — the bounds " +
            "list changed across restarts; refusing to skip")
        ChunkReport(id, lo, hi, n, "skipped")
      }
      else {
        failAfterChunks.foreach(n => if (copied >= n)
          throw new RuntimeException(
            s"resumableCopy: injected crash before chunk $id"))
        val slice = src.filter(col(key) >= lo && col(key) < hi)
        val n = slice.count()
        idempotentAppend(slice, target, key, dialect)
        withConn(target) { conn =>
          val ps = conn.prepareStatement(
            s"INSERT INTO $progressTable (chunk_id, lo, hi, n_rows) " +
              "VALUES (?, ?, ?, ?)")
          ps.setInt(1, id); ps.setLong(2, lo); ps.setLong(3, hi)
          ps.setLong(4, n); ps.executeUpdate()
        }
        copied += 1
        ChunkReport(id, lo, hi, n, "copied")
      }
    }
  }
}
