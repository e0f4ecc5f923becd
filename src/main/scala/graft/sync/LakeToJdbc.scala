package graft.sync

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.JdbcSync
import graft.sources.JdbcSync.{JdbcConfig, withConn}

/** Y48: LAKE → JDBC INCREMENTAL SYNC — the flagship composition that
  * closes the loop between the repo's two halves. The reference's job
  * is incremental table synchronization into an MS-SQL-shaped target
  * ([INFERRED] SURVEY §3.1); here that job runs end-to-end ON THE
  * ENGINE'S OWN TRANSACTIONAL STORAGE: the published lake (y36–y46) is
  * the source of record, the change feed each version committed
  * (`_changes`, y55) is the delta extractor, and the dialected
  * MERGE/DELETE writers are the apply path.
  *
  *   lake v_from ──(already synced)──► JDBC target
  *   lake v_to   ──[[graft.ops.Sync.lakeChanges]]──► I/U/D change set
  *   change set  ──[[JdbcSync.applyChangeFeed]]──► MERGE/DELETE batches
  *       target ──[[SyncJob.validate]] vs lake v_to ──► drift == 0
  *
  * Why this shape survives 100 TB:
  *  - the DELTA, not the table, crosses the wire. On a CDF root the
  *    change set is READ from the feeds of v_from+1 … v_to (collapsed
  *    latest-wins on a multi-version jump) — the writers already
  *    derived it once, at commit. Where a feed is missing, a version in
  *    the range reseeded (`T`), or the root has no CDF, the y41 diff
  *    derives it instead, over only the files that changed between the
  *    versions (manifest-pruned — a self-diff scans ZERO files). Either
  *    way cost ∝ churn: a nightly 0.1 % churn on a 100 TB table ships
  *    ~100 GB of MERGEs, not 100 TB of reloads;
  *  - the apply is retry-idempotent (MERGE on key; DELETE of an absent
  *    key is a no-op), so task retries and whole-feed replays land on
  *    the same state — exactly-once without target-side transactions
  *    spanning the job;
  *  - validation is churn-proportional too ([[Validation]]): the
  *    default tick certificate is a rotating deterministic key-bucket
  *    sample (pushed into the target's SQL — wire cost ∝ 1/buckets)
  *    plus an exact two-sided COUNT probe; the full digest diff runs
  *    on an explicit cadence or on demand, with the target pull
  *    range-partitioned. Either way the lake side reads the published
  *    version dir, so the certificate names an immutable snapshot,
  *    not a moving table.
  *
  * Identifier casing: unquoted DDL folds identifiers UPPER in
  * Derby/DB2 and is case-preserving-but-insensitive in T-SQL, while
  * the lake keeps lowercase parquet names. `jdbcName` maps lake →
  * target names at the boundary (default: uppercase, the unquoted-DDL
  * convention [[SyncJob.rowDigest]] documents); Spark's default
  * case-insensitive resolution makes the validation diff line the two
  * spellings up without renames.
  */
object LakeToJdbc {

  /** One incremental sync's certificate: the net CDF op counts that
    * were applied, the file-level scan proof (`scannedFiles` out of
    * `totalFiles` — the manifest prune at work), and the post-apply
    * drift validation (`validation` names the mode that produced it —
    * "full" or "sampled[buckets:bucket]"). */
  final case class LakeSyncReport(
      fromVersion: Int, toVersion: Int,
      nInsert: Long, nUpdate: Long, nDelete: Long,
      scannedFiles: Int, totalFiles: Int,
      validated: Boolean, validation: String = "full")

  /** How a sync tick certifies convergence against the published lake
    * version. The r11 shape — a FULL two-sided digest diff with a
    * single-connection pull of the whole target after EVERY tick — is
    * the one O(table) cost in an otherwise churn-proportional pipeline:
    * at 100 TB it turns a 0.1 %-churn nightly step into two full scans
    * and a full wire read. The modes:
    *
    *  - [[Validation.Sampled]] (the default): y24's deterministic
    *    key-bucket sample, with the SAME membership predicate applied
    *    on the lake side (Spark `pmod`) and PUSHED INTO the target's
    *    SQL (dbtable subquery, [[MergeSql.modPredicate]]) so the wire
    *    carries ~1/`buckets` of the table — plus an exact COUNT(*)
    *    probe on both sides (one 1-row query; parquet answers from
    *    footers), which catches volume drift OUTSIDE the bucket
    *    (missed deletes, duplicate inserts) that a sample alone would
    *    miss. The bucket ROTATES with the destination version, so a
    *    standing value drift anywhere is caught within `buckets`
    *    ticks; `fullEvery > 0` adds a hard cadence — every
    *    `fullEvery`-th version runs the full digest. Requires a
    *    non-negative integral key (MOD must mean the same thing on
    *    both sides); non-integral keys fall back to full.
    *  - [[Validation.Full]]: the complete two-sided digest — the
    *    strongest certificate, now with the target pull
    *    RANGE-PARTITIONED over the key (`readers` parallel JDBC
    *    scans, bounds from the lake's own min/max — y14's planning)
    *    instead of one connection streaming the table. The reseed
    *    path always validates fully: the seed just shipped the whole
    *    table, so a full check is churn-proportional by definition.
    */
  sealed trait Validation
  object Validation {
    final case class Full(readers: Int = 4) extends Validation
    final case class Sampled(buckets: Int = 16, fullEvery: Int = 0,
        readers: Int = 4) extends Validation
  }

  /** `SELECT COUNT(*)` straight over JDBC — one row on the wire. */
  private def countWhere(conn: java.sql.Connection, table: String,
      where: Option[String]): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table" +
        where.fold("")(w => s" WHERE $w"))
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally st.close()
  }

  /** The target read a FULL validation uses: range-partitioned on the
    * key when it is integral (bounds from the LAKE side — the source
    * of truth and a 1-row parquet agg), one connection otherwise.
    * Spark's JDBC partitioning keeps the first/last partitions
    * unbounded, so target rows outside the lake's key span (exactly
    * the drift a validation exists to find) are still read. */
  private[graft] def fullTargetRead(s: SparkSession,
      lake: org.apache.spark.sql.DataFrame, key: String,
      cfg: JdbcConfig, keyUp: String, readers: Int)
      : org.apache.spark.sql.DataFrame = {
    val part =
      if (!integralKey(lake, key) || readers <= 1) None
      else {
        val b = lake.agg(min(col(key)).cast("long"),
          max(col(key)).cast("long")).collect()(0)
        if (b.isNullAt(0) || b.getLong(1) <= b.getLong(0)) None
        else Some(JdbcSync.ReadPartitioning(keyUp, b.getLong(0),
          b.getLong(1) + 1, readers))
      }
    JdbcSync.readTable(s, cfg, part)
  }

  /** One tick's convergence certificate: lake version content vs the
    * JDBC target, per `mode` (scaladoc on [[Validation]]). Optional
    * `targetWhere` scopes the target side in ITS OWN SQL (pushed into
    * the count probe and the read subquery — the SCD2 `is_current = 1`
    * slice); `targetCols` projects the pull to the compared columns.
    * Returns (converged, mode-tag-for-the-report). */
  private[graft] def validateTarget(s: SparkSession,
      lake: org.apache.spark.sql.DataFrame, key: String,
      cfg: JdbcConfig, toVersion: Int, mode: Validation,
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      targetWhere: Option[String] = None,
      targetCols: Option[Seq[String]] = None,
      lakeCount: Option[Long] = None,
      conn: Option[java.sql.Connection] = None): (Boolean, String) = {
    val keyUp = jdbcName(key)
    val compareCols = lake.columns.toSeq.filterNot(_ == key)
    val selList = targetCols.fold("*")(_.mkString(", "))
    def scoped(extra: Option[String]): JdbcConfig = {
      val conds = (targetWhere.toSeq ++ extra.toSeq)
      if (conds.isEmpty && targetCols.isEmpty) cfg
      else cfg.copy(table = s"(SELECT $selList FROM ${cfg.table}" +
        (if (conds.isEmpty) ""
         else conds.mkString(" WHERE ", " AND ", "")) + ") AS SYNC_V")
    }
    def full(readers: Int): Boolean =
      SyncJob.validate(lake,
        fullTargetRead(s, lake, key, scoped(None), keyUp, readers),
        SyncJob.SyncConfig(Seq(key), compareCols, deleteMissing = true))
    mode match {
      case Validation.Full(readers) => (full(readers), "full")
      case Validation.Sampled(_, fullEvery, readers)
          if !integralKey(lake, key) ||
            (fullEvery > 0 && toVersion % fullEvery == 0) =>
        (full(readers), "full")
      case Validation.Sampled(buckets, _, _) =>
        val bucket = java.lang.Math.floorMod(toVersion, buckets)
        val pred = MergeSql.modPredicate(dialect, keyUp, buckets, bucket)
        // on the caller's connection when it shares one (catch-up)
        def n(c: java.sql.Connection) = countWhere(c, cfg.table, targetWhere)
        val nTarget = conn.fold(withConn(cfg)(n))(n)
        // the lake-side COUNT comes from the version MANIFEST when the
        // caller could prove it exact (clean version) — zero data IO;
        // a full scan of the lake side per tick was the r12 gap
        val nLake = lakeCount.getOrElse(lake.count())
        val sampleOk = nTarget == nLake && SyncJob.validate(
          lake.filter(
            pmod(col(key).cast("long"), lit(buckets.toLong)) === bucket),
          JdbcSync.readTable(s, scoped(Some(pred)), None),
          SyncJob.SyncConfig(Seq(key), compareCols,
            deleteMissing = true))
        (sampleOk, s"sampled[$buckets:$bucket]")
    }
  }

  /** Y55: apply ONE micro-batch of the `graftlake-cdf` stream to the
    * JDBC target. Three rules make arbitrary version ranges per batch
    * safe:
    *  1. a `T` (reseed) sentinel obsoletes every row the batch carries
    *     from EARLIER versions: truncate the target, then apply only
    *     rows stamped at or after the reseed;
    *  2. multi-version batches collapse LATEST-WINS per key before the
    *     wire (a key updated in v2 and deleted in v3 inside one batch
    *     must net to deleted — partition apply order is arbitrary, so
    *     the collapse, not the order, carries the semantics);
    *  3. the wire is the replay-idempotent MERGE/DELETE writer, so a
    *     batch that fails mid-apply (even after the truncate) replays
    *     from the checkpoint onto the same final state. */
  def applyCdfBatch(batch: org.apache.spark.sql.DataFrame,
      cfg: JdbcConfig, key: String,
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby): Unit = {
    if (batch.isEmpty) return
    val (cut, resolved) = collapseCdfBatch(batch, key)
    if (cut.isDefined) execDdl(cfg, s"DELETE FROM ${cfg.table}")
    JdbcSync.applyChangeFeed(
      jdbcNamed(resolved.drop("_commit_version"), jdbcName), cfg,
      jdbcName(key), "op", dialect)
  }

  /** One `graftlake-cdf` micro-batch under rules 1–2 of
    * [[applyCdfBatch]]: the newest `T` (reseed) version in the batch, if
    * any, and the rows stamped at or after it, collapsed latest-wins per
    * key (`T` rows dropped, `_commit_version` kept). The caller decides
    * what a reseed means for its target. */
  private[graft] def collapseCdfBatch(batch: org.apache.spark.sql.DataFrame,
      key: String): (Option[Long], org.apache.spark.sql.DataFrame) = {
    val tVer = batch.filter(col("op") === "T")
      .agg(max(col("_commit_version"))).collect()(0)
    val cut = if (tVer.isNullAt(0)) None else Some(tVer.getLong(0))
    (cut, graft.ops.Sync.latestWins(batch
      .filter(col("op") =!= "T" &&
        col("_commit_version") >= cut.getOrElse(Long.MinValue)),
      Seq(key), col("_commit_version").desc))
  }

  /** A lake frame under target names: `op` stays, every other column
    * maps through `jdbcName`. */
  private def jdbcNamed(df: org.apache.spark.sql.DataFrame,
      jdbcName: String => String): org.apache.spark.sql.DataFrame =
    df.select(df.columns.toSeq.map(c =>
      if (c == "op") col(c) else col(c).as(jdbcName(c))): _*)

  /** MOD-bucket sampling and range-partitioned reads need an integral
    * key. */
  private def integralKey(df: org.apache.spark.sql.DataFrame,
      key: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Y55: CONTINUOUS lake→JDBC mirror — the reference's job as a LIVE
    * pipeline instead of a scheduled tick (y50 remains the batch
    * form). The `graftlake-cdf` source makes lake versions the stream
    * offsets, so this is Structured Streaming's standard contract
    * end-to-end: the checkpoint remembers the last mirrored version,
    * restarts resume from it, a replayed batch re-lands idempotently,
    * and a version published while the mirror slept costs exactly its
    * churn when it wakes. `startingVersion = 0` bootstraps the target
    * from v1's `I` feed — no separate seed step. */
  def mirrorStream(s: SparkSession, lakeRoot: String, key: String,
      cfg: JdbcConfig, checkpoint: String, startingVersion: Long = 0L,
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      maxVersionsPerBatch: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val base = s.readStream.format("graftlake-cdf")
      .option("path", lakeRoot)
      .option("startingVersion", startingVersion)
    // bound catch-up batches (admission control): a mirror restarting
    // far behind applies N bounded windows, each committed, instead of
    // one unbounded batch — see LakeCdfMicroBatchStream
    maxVersionsPerBatch.foreach(m =>
      base.option("maxVersionsPerBatch", m))
    base.load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        applyCdfBatch(b, cfg, key, jdbcName, dialect)
      }
      .start()
  }

  /** Seed the target with a published lake version — the one-time full
    * load before the incremental cadence starts. Goes through the
    * retry-idempotent MERGE (not a plain append) so a died-and-retried
    * seed never duplicates; the table must already exist (create it
    * with a 0-row [[JdbcSync.writeTable]] overwrite, which also fixes
    * the column casing the incremental feed will bind against). */
  def seed(s: SparkSession, lakeRoot: String, version: Int, key: String,
      cfg: JdbcConfig, jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      writers: Int = 1, bulk: Boolean = false): Long = {
    val snap = graft.ops.Sync.readVersionLogical(s,
      s"$lakeRoot/v$version", key)
    val up = jdbcNamed(snap, jdbcName)
    // `bulk` = batched plain INSERTs — the retry-FREE case writeTable's
    // own scaladoc carves out: a seed lands in a fresh, just-created
    // table and is validated before the incremental cadence starts, so
    // a died-and-retried seed is re-run from TRUNCATE/empty, not
    // resumed. n× faster than the per-row MERGE probe and the right
    // default for a first full load; keep bulk=false when resuming a
    // partial seed into a non-empty target.
    if (bulk)
      JdbcSync.writeTable(
        up.repartitionByRange(writers, col(jdbcName(key))),
        cfg, org.apache.spark.sql.SaveMode.Append)
    else
      JdbcSync.idempotentAppend(
        up.repartitionByRange(writers, col(jdbcName(key))),
        cfg, jdbcName(key), dialect)
    // the seeded row count: answered from the version MANIFEST when it
    // is exact (no deletion vector, complete n_rows) — zero data IO;
    // the pre-r14 shape always re-read the version for one count job
    graft.ops.Sync.manifestRowCount(s, lakeRoot, version)
      .getOrElse(snap.count())
  }

  /** One incremental step: extract the net CDF between two published
    * versions, apply it to the target, validate the target against the
    * destination version's content. Replay-idempotent end to end —
    * re-running the same step (crash after apply, before the caller
    * recorded the new watermark) re-MERGEs/re-DELETEs into the same
    * state and re-validates clean. */
  /** `writers` = JDBC apply parallelism (transactions run per
    * partition). Default 1: correct on ANY target, required on
    * embedded Derby, whose row-lock escalation deadlocks concurrent
    * MERGE transactions on one table. A server-grade target (MS-SQL
    * with HOLDLOCK merges) takes 4–8; the feed is range-partitioned by
    * key so concurrent writers touch DISJOINT key ranges — the feed is
    * churn-sized, so even writers=1 moves only the delta. */
  def incrementalSync(s: SparkSession, lakeRoot: String,
      fromVersion: Int, toVersion: Int, key: String, cfg: JdbcConfig,
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      writers: Int = 1,
      validation: Validation = Validation.Sampled()): LakeSyncReport =
    incremental(s, lakeRoot, fromVersion, toVersion, key, cfg, jdbcName,
      dialect, writers, validation, None)

  /** [[incrementalSync]] with its count probe on `conn` when given. */
  private def incremental(s: SparkSession, lakeRoot: String,
      fromVersion: Int, toVersion: Int, key: String, cfg: JdbcConfig,
      jdbcName: String => String, dialect: MergeSql.Dialect,
      writers: Int, validation: Validation,
      conn: Option[java.sql.Connection]): LakeSyncReport = {
    val cdf = graft.ops.Sync.lakeChanges(s, lakeRoot, fromVersion,
      toVersion, key)
    // one churn-sized pass: per-op counts via observe on the SAME scan
    // that feeds the JDBC writers (no second extraction job)
    val obs = org.apache.spark.sql.Observation()
    val feed = jdbcNamed(cdf.changes, jdbcName)
      .repartitionByRange(writers, col(jdbcName(key)))
      .observe(obs,
        count(when(col("op") === "I", 1)).as("nI"),
        count(when(col("op") === "U", 1)).as("nU"),
        count(when(col("op") === "D", 1)).as("nD"))
    JdbcSync.applyChangeFeed(feed, cfg, jdbcName(key), "op", dialect)
    val m = obs.get
    // drift certificate: the target must now equal the published v_to
    // snapshot (deleteMissing = true — applied deletes mean target-only
    // leftovers are drift, not expected residue). Churn-proportional by
    // default — see [[Validation]].
    val lake = graft.ops.Sync.readVersionLogical(s,
      s"$lakeRoot/v$toVersion", key)
    val (ok, vmode) = validateTarget(s, lake, key, cfg, toVersion,
      validation, jdbcName, dialect,
      lakeCount = graft.ops.Sync.manifestRowCount(s, lakeRoot, toVersion),
      conn = conn)
    LakeSyncReport(fromVersion, toVersion,
      m("nI").asInstanceOf[Long], m("nU").asInstanceOf[Long],
      m("nD").asInstanceOf[Long],
      cdf.scannedFrom + cdf.scannedTo, cdf.totalFrom + cdf.totalTo,
      validated = ok, validation = vmode)
  }

  /** Y50: one scheduled catch-up's certificate. `mode` names the path
    * taken: `noop` (target already at the live version — zero JDBC
    * traffic beyond the watermark read), `incremental` (ONE CDF jump
    * watermark → live; intermediate versions net out, so a job that
    * slept through ten publishes pays one churn-sized step, not ten),
    * or `reseed` (no watermark yet, the watermark's version dir no
    * longer exists — retention GC outran the cadence, y21's condition —
    * or the lake was rolled back below the watermark: truncate + bulk
    * reload + revalidate). The op counts are the change set shipped: on
    * a jump read from committed feeds they count the feed collapsed
    * latest-wins per row identity, so a key inserted and then updated
    * inside the jump counts as one U where the derived diff says I. The
    * MERGE/DELETE apply lands on the same target either way. */
  final case class CatchUpReport(
      mode: String, fromVersion: Int, toVersion: Int,
      nInsert: Long, nUpdate: Long, nDelete: Long,
      scannedFiles: Int, totalFiles: Int, validated: Boolean,
      nAddCols: Int = 0, nDropCols: Int = 0,
      validation: String = "full")

  /** Y51: RECONCILE THE TARGET'S PHYSICAL SCHEMA with the live lake
    * version's logical schema before a sync step — the schema-drift
    * half of the reference's job ([INFERRED] SURVEY §3.1; the lake
    * side of the same drift is Y10/Y43). The y27 [[Migration]] planner
    * classifies the diff; this applies exactly its AUTO-SAFE phases
    * and refuses the rest:
    *
    *  - **adds** apply (nullable ALTER ADD — y43's evolution reaching
    *    the target; existing rows read NULL until the CDF backfills);
    *  - **drops** apply (a mirror must track its source — retaining a
    *    column the source dropped is drift wearing a schema);
    *  - **type changes** (`alter`/`manual`) REFUSE loudly: a lossy or
    *    incompatible cast on a live target is an operator decision
    *    (and usually a rebuild), never something a scheduled tick
    *    guesses at — y27 rule 2 applied at apply time.
    *
    * Metadata-only on both sides: one JDBC schema probe, zero data
    * scanned, so the tick cost at 100 TB is unchanged. DDL is rendered
    * per dialect ([[MergeSql.addColumnDdl]]) because the planner's own
    * strings are T-SQL and the embedded test target is Derby. */
  def reconcileTargetSchema(s: SparkSession, lakeSchema:
      org.apache.spark.sql.types.StructType, key: String,
      cfg: JdbcConfig, jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby): (Int, Int) = {
    import org.apache.spark.sql.types.StructType
    val target = JdbcSync.readTable(s, cfg, None).schema
    val desired = StructType(lakeSchema.fields.map(f =>
      f.copy(name = jdbcName(f.name))))
    val steps = Migration.plan(target, desired, cfg.table,
      Seq(jdbcName(key)))
    val blocked = steps.filter(st =>
      st.action == "alter" || st.action == "manual")
    require(blocked.isEmpty,
      "reconcileTargetSchema: type changes cannot auto-apply on a " +
        s"live target (operator decision / rebuild): $blocked")
    val adds = steps.filter(_.action == "add")
    val drops = steps.filter(_.action == "drop")
    adds.foreach { st =>
      val f = desired.fields.find(_.name.equalsIgnoreCase(st.column)).get
      execDdl(cfg,
        MergeSql.addColumnDdl(dialect, cfg.table, st.column, f.dataType))
    }
    drops.foreach(st =>
      execDdl(cfg, MergeSql.dropColumnDdl(dialect, cfg.table, st.column)))
    (adds.size, drops.size)
  }

  /** Y50: THE SCHEDULED CATCH-UP — the reference's actual operating
    * mode ("sync whatever is new since the last run" [INFERRED]
    * SURVEY §3.1) with the sync STATE LIVING IN THE TARGET database:
    * a `SYNC_STATE` row (table name → last synced lake version) is
    * the watermark, so the job is a pure function of (lake, target) —
    * no driver-side state, no checkpoint directory, any scheduler slot
    * can run the next tick.
    *
    * Crash windows, all converging:
    *  - crash BEFORE the apply: nothing moved, next tick retries;
    *  - crash AFTER the apply, BEFORE the watermark write: next tick
    *    re-runs the same CDF step — the apply is replay-idempotent
    *    ([[JdbcSync.applyChangeFeed]]), so the target lands on the
    *    same state and the watermark then advances;
    *  - retention GC reaped the watermark's version dir (the lake
    *    can't produce a diff FROM it any more): loud fallback to a
    *    full reseed — truncate + bulk reload of the live version —
    *    never a silent wrong diff. Same path serves a lake ROLLBACK
    *    below the watermark (live < watermark: the target tracked a
    *    lineage the lake abandoned) and the very first run (no
    *    watermark row yet).
    *
    * Validation runs on every non-noop path against the IMMUTABLE live
    * version dir. At 100 TB the steady state is one churn-sized CDF
    * jump per tick; the reseed path is the disaster lever, same cost
    * as the initial load. */
  def catchUp(s: SparkSession, lakeRoot: String, key: String,
      cfg: JdbcConfig, stateTable: String = "SYNC_STATE",
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      writers: Int = 1,
      validation: Validation = Validation.Sampled()): CatchUpReport =
    // the watermark read and write, the count probe and the reseed's
    // TRUNCATE share one connection; Spark's JDBC scans and writers
    // open their own
    withConn(cfg) { conn =>
      val (vname, live) = graft.ops.Sync.readPublishedMor(s, lakeRoot, key)
      val liveV = vname.stripPrefix("v").toInt
      val w = readWatermark(conn, cfg.table, stateTable)
      val fromDir = new org.apache.hadoop.fs.Path(
        s"$lakeRoot/v${w.getOrElse(-1)}")
      val fs = fromDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      // zero-copy retention GC leaves a THINNED husk (files newer
      // manifests reference stay, a _REAPED marker refuses reads) — a
      // reaped watermark is retention loss exactly like a deleted dir
      def fromReadable: Boolean = fs.exists(fromDir) &&
        !fs.exists(new org.apache.hadoop.fs.Path(fromDir, "_REAPED"))
      // Y51: schema first, data second — the ALTERs must land before the
      // feed binds against the new columns (and before a reseed INSERTs
      // the wider rows). When nothing drifted the plan is empty and this
      // is one metadata probe. Runs on every tick, noop included: a
      // schema-only publish (y43 with no follow-up cow) still reaches
      // the target on the next tick even though no CDF rows flow.
      val (nAdd, nDrop) = reconcileTargetSchema(s, live.schema, key, cfg,
        jdbcName, dialect)
      w match {
        case Some(wv) if wv == liveV =>
          CatchUpReport("noop", wv, liveV, 0, 0, 0, 0, 0, validated = true,
            nAddCols = nAdd, nDropCols = nDrop, validation = "noop")
        case Some(wv) if wv < liveV && fromReadable =>
          val rep = incremental(s, lakeRoot, wv, liveV, key, cfg,
            jdbcName, dialect, writers, validation, Some(conn))
          require(rep.validated,
            s"catchUp: incremental step $wv→$liveV left drift: $rep")
          writeWatermark(conn, cfg.table, stateTable, liveV, dialect)
          CatchUpReport("incremental", wv, liveV, rep.nInsert,
            rep.nUpdate, rep.nDelete, rep.scannedFiles, rep.totalFiles,
            rep.validated, nAddCols = nAdd, nDropCols = nDrop,
            validation = rep.validation)
        case _ =>
          // first run, watermark dir reaped, or lake rolled back below
          // the watermark — rebuild from the live snapshot. The reseed
          // just shipped the WHOLE table, so a full validation is
          // churn-proportional here by definition — always Full, with
          // the range-partitioned parallel pull.
          exec(conn, s"TRUNCATE TABLE ${cfg.table}")
          val n = seed(s, lakeRoot, liveV, key, cfg, jdbcName, dialect,
            writers, bulk = true)
          val fullReaders = validation match {
            case Validation.Full(r) => r
            case Validation.Sampled(_, _, r) => r
          }
          val (ok, vmode) = validateTarget(s, live, key, cfg, liveV,
            Validation.Full(fullReaders), jdbcName, dialect)
          require(ok, s"catchUp: reseed of v$liveV left drift")
          writeWatermark(conn, cfg.table, stateTable, liveV, dialect)
          CatchUpReport("reseed", w.getOrElse(-1), liveV, n, 0, 0,
            0, 0, ok, nAddCols = nAdd, nDropCols = nDrop,
            validation = vmode)
      }
    }

  /** One member of a synced group: the lake table name under the group
    * root, its PK column, and its JDBC target. */
  final case class GroupMember(table: String, key: String,
      cfg: JdbcConfig)

  /** Y52: GROUP CATCH-UP — the multi-table form of the reference's job
    * ([INFERRED] SURVEY §3.1: real sync configs enumerate related
    * tables, not one): catch a CONSISTENT cross-table snapshot (the
    * y44 group pointer) up into a JDBC database whose tables carry
    * REAL foreign-key constraints, which makes apply ORDER
    * load-bearing, not cosmetic:
    *
    *  - `members` is a topological PARENT-FIRST order (the caller's
    *    FK graph, y17's input);
    *  - upserts (I/U) apply parent→child — a child row referencing a
    *    freshly-inserted parent key finds it present;
    *  - deletes apply child→parent — a parent key leaves only after
    *    every referencing child row was deleted or updated away
    *    (child updates ran in the upsert phase, strictly before);
    *  - reseed is ALL-OR-NOTHING: one member needing a rebuild forces
    *    the group, because clearing a parent under live children is an
    *    FK violation and a half-reseeded group is not a consistent
    *    snapshot of anything. Clearing runs child→parent (DELETE, not
    *    TRUNCATE — Derby refuses TRUNCATE on an FK-referenced table
    *    even when empty), loading parent→child.
    *
    * Watermarks stay PER TABLE (`SYNC_STATE` rows keyed by target
    * table), but they only advance after EVERY changed member
    * validated against its live version — a crash mid-group leaves all
    * watermarks unmoved and the next tick re-runs the replay-idempotent
    * steps. The apply itself is not a cross-table transaction (no JDBC
    * target gives one across statements from many connections); the
    * certificate is CONVERGENCE, with the FK constraints themselves
    * refusing any interleaving that would expose a dangling reference.
    *
    * At 100 TB the per-member cost is y50's: a churn-sized CDF jump
    * per changed table, noop members pay one watermark probe. */
  def catchUpGroup(s: SparkSession, root: String,
      members: Seq[GroupMember], stateTable: String = "SYNC_STATE",
      jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      writers: Int = 1,
      validation: Validation = Validation.Sampled())
      : Seq[(String, CatchUpReport)] = {
    val group = graft.ops.Sync.readPublishedGroup(s, root)
    members.foreach(m => require(group.contains(m.table),
      s"catchUpGroup: '${m.table}' not in the published group " +
        s"(${group.keys.toSeq.sorted.mkString(", ")})"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val state = members.map { m =>
      val liveV = group(m.table)._1
      val w = withConn(m.cfg)(readWatermark(_, m.cfg.table, stateTable))
      val reseed = w.isEmpty || w.exists(_ > liveV) ||
        w.exists(wv => !fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/${m.table}/v$wv")) ||
          fs.exists(new org.apache.hadoop.fs.Path(
            s"$root/${m.table}/v$wv/_REAPED")))
      (m, w, liveV, reseed)
    }
    if (state.exists(_._4)) {
      // ALL-OR-NOTHING RESEED: clear child→parent, load parent→child
      state.reverse.foreach { case (m, _, _, _) =>
        execDdl(m.cfg, s"DELETE FROM ${m.cfg.table}") }
      state.map { case (m, w, liveV, _) =>
        // LOGICAL content (files minus any deletion vector) — a raw
        // read of a MOR-state member would seed resurrected ghosts
        val live = graft.ops.Sync.readVersionLogical(s,
          s"$root/${m.table}/v$liveV", m.key)
        reconcileTargetSchema(s, live.schema, m.key, m.cfg, jdbcName,
          dialect)
        val n = seed(s, s"$root/${m.table}", liveV, m.key, m.cfg,
          jdbcName, dialect, writers, bulk = true)
        // reseed shipped the whole member — full validation is
        // churn-proportional here (parallel range-partitioned pull)
        val (ok, vmode) = validateTarget(s, live, m.key, m.cfg, liveV,
          Validation.Full(), jdbcName, dialect)
        require(ok, s"catchUpGroup: reseed of ${m.table} left drift")
        withConn(m.cfg)(writeWatermark(_, m.cfg.table, stateTable, liveV,
          dialect))
        m.table -> CatchUpReport("reseed", w.getOrElse(-1), liveV,
          n, 0, 0, 0, 0, ok, validation = vmode)
      }
    } else {
      val changed = state.filter { case (_, w, liveV, _) =>
        w.exists(_ < liveV) }
      changed.foreach { case (m, _, _, _) =>
        val live = group(m.table)._2
        reconcileTargetSchema(s, live.schema, m.key, m.cfg, jdbcName,
          dialect)
      }
      // one churn-sized feed per changed member, reused by both phases;
      // every feed leaves the cache on the way out, failure or not
      val feeds0 = changed.map { case (m, w, liveV, _) =>
        val cdf = graft.ops.Sync.lakeChanges(s, s"$root/${m.table}",
          w.get, liveV, m.key)
        val feed = jdbcNamed(cdf.changes, jdbcName)
          .repartitionByRange(writers, col(jdbcName(m.key)))
        (m, w.get, liveV, feed, cdf)
      }
      val applied = try {
        feeds0.foreach(_._4.persist())
        // the member diffs are INDEPENDENT — materialize them (one
        // op-count action each, caching the feed) concurrently so the
        // next member's tasks back-fill the tail of the previous one's
        // (guide §2.6); only the APPLY below is FK-ordered. Failures
        // drain every future first, then rethrow — a staging error stays
        // loud and no half-materialized feed is applied.
        val opsList = {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(3, math.max(feeds0.size, 1)))
          try {
            val fs2 = feeds0.map { case (_, _, _, feed, _) =>
              pool.submit(new java.util.concurrent.Callable[Map[String, Long]] {
                override def call(): Map[String, Long] =
                  feed.groupBy("op").count().collect()
                    .map(r => r.getString(0) -> r.getLong(1)).toMap
              })
            }
            val results = fs2.map(f =>
              try Right(f.get())
              catch { case e: java.util.concurrent.ExecutionException =>
                Left(e.getCause) })
            results.collectFirst { case Left(e) => e }.foreach(throw _)
            results.collect { case Right(m) => m }
          } finally pool.shutdown()
        }
        val feeds = feeds0.zip(opsList).map {
          case ((m, w, liveV, feed, cdf), ops) =>
            (m, w, liveV, feed, ops, cdf)
        }
        // upserts parent→child, then deletes child→parent
        feeds.foreach { case (m, _, _, feed, _, _) =>
          JdbcSync.applyChangeFeed(feed.filter(col("op") =!= "D"),
            m.cfg, jdbcName(m.key), "op", dialect) }
        feeds.reverse.foreach { case (m, _, _, feed, _, _) =>
          JdbcSync.applyChangeFeed(feed.filter(col("op") === "D"),
            m.cfg, jdbcName(m.key), "op", dialect) }
        feeds.map { case (m, wv, liveV, _, ops, cdf) =>
          val live = graft.ops.Sync.readVersionLogical(s,
            s"$root/${m.table}/v$liveV", m.key)
          val (ok, vmode) = validateTarget(s, live, m.key, m.cfg, liveV,
            validation, jdbcName, dialect,
            lakeCount = graft.ops.Sync.manifestRowCount(s,
              s"$root/${m.table}", liveV))
          require(ok,
            s"catchUpGroup: incremental ${m.table} $wv→$liveV left drift")
          m.table -> CatchUpReport("incremental", wv, liveV,
            ops.getOrElse("I", 0L), ops.getOrElse("U", 0L),
            ops.getOrElse("D", 0L),
            cdf.scannedFrom + cdf.scannedTo,
            cdf.totalFrom + cdf.totalTo, ok, validation = vmode)
        }
      } finally feeds0.foreach(_._4.unpersist(blocking = false))
      // watermarks advance only after EVERY member validated
      applied.foreach { case (t, rep) =>
        val m = members.find(_.table == t).get
        withConn(m.cfg)(writeWatermark(_, m.cfg.table, stateTable,
          rep.toVersion, dialect))
      }
      val noops = state.filter { case (_, w, liveV, _) =>
        w.contains(liveV) }.map { case (m, _, liveV, _) =>
        m.table -> CatchUpReport("noop", liveV, liveV, 0, 0, 0, 0, 0,
          validated = true, validation = "noop")
      }
      members.map(m => (applied ++ noops).find(_._1 == m.table).get)
    }
  }

  /** The watermark row: `stateTable(TBL VARCHAR PK, SYNCED_VERSION)`,
    * keyed by the TARGET table's name so one state table serves every
    * synced table in the database. Missing state table or row = never
    * synced. */
  private def readWatermark(conn: java.sql.Connection, table: String,
      stateTable: String): Option[Int] = {
    require(stateTable.matches(
      "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?"),
      s"readWatermark: invalid state table identifier '$stateTable'")
    try {
      val ps = conn.prepareStatement(
        s"SELECT SYNCED_VERSION FROM $stateTable WHERE TBL = ?")
      try {
        ps.setString(1, table)
        val rs = ps.executeQuery()
        try { if (rs.next()) Some(rs.getInt(1)) else None }
        finally rs.close()
      } finally ps.close()
    } catch {
      case e: java.sql.SQLException
          if e.getSQLState == "42X05" ||  // Derby: table not found
            Option(e.getMessage).exists(_.toLowerCase
              .contains("does not exist")) =>
        None
    }
  }

  private def writeWatermark(conn: java.sql.Connection, table: String,
      stateTable: String, version: Int, dialect: MergeSql.Dialect): Unit = {
    try exec(conn,
      s"CREATE TABLE $stateTable (TBL VARCHAR(128) NOT NULL " +
        "PRIMARY KEY, SYNCED_VERSION BIGINT)")
    catch {
      case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" ||
            Option(e.getMessage).exists(_.contains("already exists")) =>
        ()
    }
    val up = MergeSql.upsert(dialect, stateTable, "TBL",
      Seq("SYNCED_VERSION"))
    val ps = conn.prepareStatement(up.sql)
    try {
      up.bindOrder.zipWithIndex.foreach { case (c, pos) =>
        if (c == "TBL") ps.setString(pos + 1, table)
        else ps.setLong(pos + 1, version.toLong)
      }
      ps.executeUpdate()
    } finally ps.close()
  }

  private def exec(conn: java.sql.Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }

  private def execDdl(cfg: JdbcConfig, sql: String): Unit =
    withConn(cfg)(exec(_, sql))

  /** Y48b: one incremental step into an SCD2 HISTORY target
    * ([[JdbcSync.applyScd2Feed]]) — the warehouse shape where the
    * target keeps every version of the tracked attribute instead of
    * overwriting. The lake's DESTINATION VERSION NUMBER is the SCD2
    * clock (`valid_from`/`valid_to` hold version numbers): one
    * monotone, replay-stable stamp for the whole step, so re-running a
    * step can neither regress the open row nor duplicate history.
    * Validation: the target's `is_current = 1` slice must equal the
    * published v_to projection — the same drift certificate as the
    * flat sync, over the history table's open edge. */
  def incrementalScd2(s: SparkSession, lakeRoot: String,
      fromVersion: Int, toVersion: Int, key: String, valueCol: String,
      cfg: JdbcConfig, jdbcName: String => String = _.toUpperCase,
      dialect: MergeSql.Dialect = MergeSql.Derby,
      writers: Int = 1,
      validation: Validation = Validation.Sampled()): LakeSyncReport = {
    val cdf = graft.ops.Sync.lakeChanges(s, lakeRoot, fromVersion,
      toVersion, key)
    val obs = org.apache.spark.sql.Observation()
    val feed = cdf.changes.select(col("op"),
        col(key).as(jdbcName(key)), col(valueCol).as(jdbcName(valueCol)),
        lit(toVersion.toLong).as("ver"))
      .repartitionByRange(writers, col(jdbcName(key)))
      .observe(obs,
        count(when(col("op") === "I", 1)).as("nI"),
        count(when(col("op") === "U", 1)).as("nU"),
        count(when(col("op") === "D", 1)).as("nD"))
    JdbcSync.applyScd2Feed(feed, cfg, jdbcName(key), jdbcName(valueCol),
      "op", "ver", dialect)
    val m = obs.get
    val lake = graft.ops.Sync.readVersionLogical(s,
      s"$lakeRoot/v$toVersion", key)
      .select(key, valueCol)
    // the compared slice is the history's OPEN EDGE — push the
    // `is_current = 1` scope into the target's own SQL so neither
    // mode pulls closed history rows over the wire
    val (ok, vmode) = validateTarget(s, lake, key, cfg, toVersion,
      validation, jdbcName, dialect,
      targetWhere = Some(s"${jdbcName("is_current")} = 1"),
      targetCols = Some(Seq(jdbcName(key), jdbcName(valueCol))),
      lakeCount = graft.ops.Sync.manifestRowCount(s, lakeRoot, toVersion))
    LakeSyncReport(fromVersion, toVersion,
      m("nI").asInstanceOf[Long], m("nU").asInstanceOf[Long],
      m("nD").asInstanceOf[Long],
      cdf.scannedFrom + cdf.scannedTo, cdf.totalFrom + cdf.totalTo,
      validated = ok, validation = vmode)
  }
}
