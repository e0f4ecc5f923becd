package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import java.sql.Timestamp
import graft.sources.JdbcSync
import graft.sources.JdbcSync.JdbcConfig

/** Structured Streaming surface (SURVEY.md §2.10 T1–T8). Builders are
  * source-agnostic: they take any streaming (or batch — the expressions are
  * identical) DataFrame with the events schema
  * `(event_id long, ts timestamp, user_id long, event_type string,
  * value double)` and return the transformed streaming plan. Sources
  * (S8: rate/file/MemoryStream) and sinks (S9: memory/parquet/foreachBatch)
  * are bound by the caller; StreamingSuite drives every builder through
  * MemoryStream → MemorySink micro-batches, the only oracle available for
  * watermark semantics (DuckDB cannot run a micro-batch pipeline).
  *
  * Scale notes: all stateful ops key their state by a bounded-cardinality
  * key (window×type, user), and every builder takes a watermark so state
  * is evicted — the difference between a pipeline that runs for a day and
  * one that runs for a year at 100 TB/day.
  */
/** Mutable-state buffer for StreamOps.sessionize (top-level: encoder
  * codegen cannot reach a private nested case class). */
final case class SessionBuf(n: Int, first: Long, last: Long, total: Double)

object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** Timestamp ↔ epoch-MICROS. `Timestamp.getTime` is millis and
    * silently truncates the µs the corpus carries (parquet
    * TIMESTAMP(MICROS) — the r8 lesson's neighbor): session bounds must
    * round-trip exactly or the batch≡streaming sessionization law (and
    * any downstream join on session edges) drifts sub-ms. State buffers
    * therefore hold µs; only the timer API (ms-granular) sees ms, via
    * [[msCeil]] so a timer can never fire BEFORE last+gap. */
  private[streaming] def usOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private[streaming] def tsOfUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private[streaming] def msCeil(us: Long): Long =
    Math.floorDiv(us + 999L, 1000L)

  /** T1+T4: watermarked tumbling window aggregate (append mode → a window
    * emits once, when the watermark passes its end; later rows drop).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
              col("n"), col("sum_value"))

  /** T2: sliding windows (1 hour every 15 minutes). */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("user_id"), col("n"))

  /** T3: session windows (30-minute gap) per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
              col("user_id"), col("n_events"), col("session_value"))

  /** T5: streaming dedup on event_id, state bounded by the watermark —
    * the exactly-once-ish ingest guard for sync pipelines.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** T6: stream-stream join — purchases enriched with the user's views in
    * the preceding hour; both sides watermarked, join time-bounded (state
    * on both sides is evictable — unbounded joins never GC).
    *
    * joinType "left_outer": an unmatched purchase is HELD in state until
    * the watermark proves no in-window view can still arrive, then emits
    * once with null view columns — the semantics an enrichment pipeline
    * needs when the dimension stream may simply lack a match (an inner
    * join would silently drop the fact row; a batch left join cannot
    * know when to stop waiting).
    */
  def purchaseViewJoin(events: DataFrame, watermark: String = "10 minutes",
                       joinType: String = "inner"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermark)
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
              col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
  }

  final case class SessionSummary(user_id: Long, n_events: Int,
                                  first_ts: Timestamp, last_ts: Timestamp,
                                  total_value: Double)

  /** T7: arbitrary stateful processing — sessionization via
    * flatMapGroupsWithState with event-time timeout: a session summary is
    * emitted only when the watermark passes last_ts + gap (session closed).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            val b = state.get
            state.remove()
            Iterator.single(SessionSummary(user, b.n,
              tsOfUs(b.first), tsOfUs(b.last), b.total))
          } else {
            // batch rows are unordered: fold min/max, split on gap later —
            // simplification: one open session per user, extended by any
            // row within gap of the current [first, last] envelope.
            // SessionBuf bounds are epoch-µs ([[usOf]]); the gap compare
            // runs at full µs precision, the timeout at ms (timer API).
            val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
            var buf = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              val t = usOf(e.ts)
              buf match {
                case Some(b) if t - b.last <= gapMs * 1000L =>
                  buf = Some(SessionBuf(b.n + 1, b.first, math.max(b.last, t),
                    b.total + e.value))
                case Some(b) =>
                  closed += SessionSummary(user, b.n, tsOfUs(b.first),
                    tsOfUs(b.last), b.total)
                  buf = Some(SessionBuf(1, t, t, e.value))
                case None =>
                  buf = Some(SessionBuf(1, t, t, e.value))
              }
            }
            buf.foreach { b =>
              state.update(b)
              state.setTimeoutTimestamp(msCeil(b.last) + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  final case class IdleCount(user_id: Long, n_events: Int, total_value: Double)

  /** State for [[idleFlushCounts]] — just the running (count, sum); a
    * reused SessionBuf would carry two dead always-zero timestamp fields
    * in every key's state-store entry. */
  final case class IdleBuf(n: Int, total: Double)

  /** T7 (processing-time arm): accumulate a per-user running count and
    * flush it once the user has been idle for `idleMs` of WALL-CLOCK time
    * — `ProcessingTimeTimeout`, the complement of [[sessionize]]'s
    * event-time timer. This is the right timeout for operational flushes
    * (emit what we have if the source goes quiet) where event time may
    * stall entirely — an event-time timer never fires when the watermark
    * stops moving. No watermark is required; state stays bounded because
    * every key's timer eventually fires and removes it.
    */
  def idleFlushCounts(events: Dataset[Event], idleMs: Long): Dataset[IdleCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[IdleBuf, IdleCount](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[IdleBuf]) =>
          if (state.hasTimedOut) {
            val b = state.get
            state.remove()
            Iterator.single(IdleCount(user, b.n, b.total))
          } else {
            val prev = state.getOption.getOrElse(IdleBuf(0, 0.0))
            var n = prev.n
            var total = prev.total
            rows.foreach { e => n += 1; total += e.value }
            state.update(IdleBuf(n, total))
            state.setTimeoutDuration(idleMs)
            Iterator.empty
          }
      }
  }

  /** Streaming incremental corpus dedup — the production form of the
    * batch l16 operator: documents arrive as a stream, the standing
    * corpus's LSH band index lives as a parquet dir, and each
    * micro-batch (1) probes the index — any band collision ⇒ dup_index;
    * (2) clusters the remaining docs on shared bands (star edges to the
    * bucket minimum — the l8 shape) and keeps the min doc per connected
    * component ⇒ others are dup_batch; (3) appends survivors' bands to
    * the index and per-doc verdicts to `verdictDir`.
    *
    * In-batch rule vs batch l16: l16 drops on collision with ANY
    * lower-id batch doc (the SQL-expressible, oracle-checkable rule);
    * this form keeps one doc per collision CLUSTER. Both are standard
    * points on the LSH dedup recall/precision dial — the cluster rule
    * is what makes the cross-batch survivor invariant below hold.
    *
    * The invariant this buys (law-tested in StreamingSuite): ACROSS THE
    * WHOLE RUN, no two surviving docs ever share a band hash — batch
    * boundaries cannot manufacture duplicate survivors, because a later
    * batch probes an index that already holds every earlier survivor's
    * bands, and within a batch one doc per collision-cluster survives.
    *
    * Scale: the probe is the l16 shape (index streams, batch bands
    * broadcast); the CC loop touches only the batch's collision graph.
    * The parquet appends are NOT exactly-once under foreachBatch retry —
    * a retried batch re-appends its band/verdict rows. Verdicts carry
    * batch_id so readers can dedupe on (doc_id, batch_id); the index
    * tolerates duplicate band rows semantically (collision is an EXISTS,
    * not a count), so retries cost space, never correctness.
    *
    * Caller binds source and checkpoint: `incrementalDedup(docs, i, v)
    * .option("checkpointLocation", ck).start()`.
    */
  def incrementalDedup(docs: DataFrame, indexDir: String,
                       verdictDir: String) = {
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bands = graft.ops.LlmPipeline.minhashBandsOf(s,
            batch.select(col("doc_id"), lower(col("text")).as("text")))
          .persist()
        // the stored index keeps doc_id (provenance / compaction); the
        // probe needs only the band key. Existence goes through the
        // path's OWN FileSystem — a java.io.File check would read false
        // on hdfs:///s3a:// and silently probe an empty index forever.
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val idxFs = idxPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val idx =
          if (idxFs.exists(idxPath))
            s.read.parquet(indexDir).select("band", "band_hash")
          else bands.filter(lit(false)).select("band", "band_hash")
        // persisted: both the verdict write and the survivor-band append
        // consume it — unpersisted, each would rescan the standing index
        // (the dominant per-batch cost at steady state) a second time.
        val hitIdx = idx.join(broadcast(bands
            .select(col("doc_id"), col("band"), col("band_hash"))),
            Seq("band", "band_hash"))
          .select("doc_id").distinct().persist()
        val rest = bands.join(hitIdx, Seq("doc_id"), "left_anti")
        val reps = rest.groupBy("band", "band_hash")
          .agg(min(col("doc_id")).as("u"))
        val edges = rest.join(reps, Seq("band", "band_hash"))
          .where(col("doc_id") =!= col("u"))
          .select(col("u"), col("doc_id").as("v"))
        val dupBatch = graft.ops.LlmPipeline.connectedComponents(edges)
          .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        val verdicts = batch.select(col("doc_id"))
          .join(hitIdx.withColumn("vi", lit(1)), Seq("doc_id"), "left")
          .join(dupBatch.withColumn("vb", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("vi") === 1, "dup_index")
              .when(col("vb") === 1, "dup_batch")
              .otherwise("keep").as("verdict"),
            lit(batchId).as("batch_id"))
          .persist()
        verdicts.write.mode("append").parquet(verdictDir)
        bands.join(verdicts.filter(col("verdict") === "keep")
            .select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "band", "band_hash")
          .write.mode("append").parquet(indexDir)
        verdicts.unpersist()
        hitIdx.unpersist()
        bands.unpersist()
        ()
      }
  }

  /** STREAMING data-quality gate — [[graft.ops.Quality]] composed into
    * the ingest path: every micro-batch is audited against the
    * constraint suite, rows violating any ROW-LOCAL check route to a
    * quarantine sink, clean rows to the target sink, and the per-batch
    * audit report (stamped with batch_id) appends to a report sink —
    * the standard expectation-gate shape (quarantine, never drop:
    * violations are evidence, and reprocessable once the rule or the
    * data is fixed). Table-level checks (unique/FK) in the suite still
    * AUDIT each batch in the report; they cannot flag individual rows
    * without their join, so routing uses [[Quality.violationFlag]]'s
    * row-local OR only. Same retry discipline as [[incrementalDedup]]:
    * parquet appends are not exactly-once under foreachBatch retry, and
    * report rows carry batch_id so readers dedupe on it.
    */
  def dqGate(rows: DataFrame, checks: Seq[graft.ops.Quality.Check],
             cleanDir: String, quarantineDir: String,
             reportDir: String) = {
    val flag = graft.ops.Quality.violationFlag(checks)
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = batch.withColumn("__viol", flag).persist()
        flagged.filter(!col("__viol")).drop("__viol")
          .write.mode("append").parquet(cleanDir)
        flagged.filter(col("__viol")).drop("__viol")
          .write.mode("append").parquet(quarantineDir)
        graft.ops.Quality.audit(flagged.drop("__viol"), checks)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(reportDir)
        flagged.unpersist()
        ()
      }
  }

  /** Compact [[incrementalDedup]]'s band index. Micro-batches append
    * small files and a retried batch appends duplicate rows — both cost
    * probe-scan time and space, never correctness (collision is an
    * EXISTS). One distinct + coalesced rewrite (the s13 small-file
    * idiom) restores the minimal index; returns its row count. The
    * rewrite goes through a sibling temp dir and an FS rename — on a
    * real object store you'd write a new versioned prefix and flip a
    * manifest pointer instead, but the Spark plan is identical.
    * Run it between batches (the caller owns the quiesce window). */
  def compactBandIndex(s: org.apache.spark.sql.SparkSession,
                       indexDir: String, parts: Int = 1): Long = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(indexDir + ".compacting")
    val old = new Path(indexDir + ".old")
    val live = new Path(indexDir)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    s.read.parquet(indexDir).distinct()
      .coalesce(parts).write.mode("overwrite").parquet(tmp.toString)
    // swap order matters: the live dir is renamed ASIDE (never deleted
    // while it is the only copy), the replacement renamed IN, and only
    // then is the old copy dropped — a failure at any step leaves a
    // complete index under either name. A delete-then-rename would (a)
    // lose the index if the rename failed, and (b) on HDFS, rename INTO
    // a surviving destination dir nests tmp inside it and silently
    // serves the stale files.
    fs.delete(old, true) // leftover from an earlier failed swap, if any
    if (!fs.rename(live, old))
      throw new java.io.IOException(
        s"compactBandIndex: could not move $live aside")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // restore; the compacted copy stays in tmp
      throw new java.io.IOException(
        s"compactBandIndex: rename $tmp -> $live failed (index restored)")
    }
    fs.delete(old, true)
    s.read.parquet(indexDir).count()
  }

  /** STREAMING CDC → PUBLISHED LAKE, EXACTLY-ONCE — one micro-batch of
    * y4-shaped change rows (full row + op ∈ I/U/D + version) applies
    * through the copy-on-write path and publishes one lake version.
    * Unlike the parquet-append sinks above (at-least-once by disclosed
    * design — a retried batch re-appends), THIS sink is idempotent
    * under every foreachBatch replay, because the target version
    * number is a pure function of the batch id
    * (`baseVersion + batchId + 1` — the y28 cursor idiom with the
    * version dir AS the cursor and the pointer swap as the commit):
    *
    *  - replayed batch, fully committed before the crash → the target
    *    dir exists → SKIP, zero data movement;
    *  - crash BETWEEN the staging rename and the pointer swap → the
    *    dir exists but the pointer lags → the replay HEALS the pointer
    *    to the newest published version and skips the data;
    *  - crash before the rename → the orphaned staging dir is clobbered
    *    by the re-run's own staging write (cowApplyChanges deletes it
    *    first) and the batch applies exactly once.
    *
    * Empty batches publish nothing (no version churn); the resulting
    * version-number gaps are fine — the apply chains FROM the newest
    * published version below the target, not from `target - 1`, and
    * y37's GC windows by rank, never by numeric distance. Returns true
    * when the batch published, false when it was skipped (replay or
    * empty). The lake must be bootstrapped: `baseVersion` published
    * with a `_file_stats` manifest before the stream starts. */
  def applyCdcBatch(s: org.apache.spark.sql.SparkSession, root: String,
                    key: String, baseVersion: Int, batch: DataFrame,
                    batchId: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    val target = baseVersion + batchId.toInt + 1
    val versions = fs.listStatus(new Path(root)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toInt }
    if (versions.contains(target)) {
      // replay of a committed batch; heal a lagging pointer (the crash
      // window between rename and swap) and touch nothing else
      val newest = versions.max
      val (cur, _) = graft.ops.Sync.readPublished(s, root)
      if (cur.stripPrefix("v").toInt < newest)
        graft.ops.Sync.repoint(s, root, newest)
      false
    } else if (batch.isEmpty) false
    else {
      val from = versions.filter(_ < target).max
      val rep = graft.ops.Sync.cowApplyChanges(s, root, from, target, key,
        batch)
      // A FAILED publish (validation refusal, leftover-dir or rename
      // refusal in publishStagedDir) must FAIL the batch: returning
      // normally would let foreachBatch commit the offset range to the
      // checkpoint and the changes would be lost forever — exactly-once
      // silently degrading to at-most-once. Throwing makes Structured
      // Streaming retry the batch; the replay branch above keeps the
      // retry idempotent if the failure raced an actual commit.
      if (!rep.published) throw new IllegalStateException(
        s"applyCdcBatch: publish of $root/v$target from v$from refused " +
          "— failing batch " + batchId + " so the stream retries instead " +
          "of committing the checkpoint past lost changes")
      true
    }
  }

  /** The [[applyCdcBatch]] kernel bound to a stream. Caller binds the
    * checkpoint: `cdcIntoLake(src, root, "k", 1)
    * .option("checkpointLocation", ck).start()`. */
  def cdcIntoLake(changes: DataFrame, root: String, key: String,
                  baseVersion: Int) =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch.sparkSession, root, key, baseVersion,
          batch, batchId)
        ()
      }

  /** Y56: apply one `graftlake-cdf` micro-batch to a REPLICA lake —
    * the kernel of continuous lake→lake replication. Exactly-once by
    * the [[applyCdcBatch]] construction: replica version = batchId + 1
    * (deterministic per checkpoint — a replayed batch finds its
    * version already published and skips after healing the pointer);
    * empty batches mint nothing, so version numbers may gap and the
    * cow base is simply the highest existing version below the target.
    * Batch content rules mirror [[graft.sync.LakeToJdbc.applyCdfBatch]]:
    * multi-version batches collapse LATEST-WINS per key, and a `T`
    * reseed sentinel (primary snapshot/overwrite) turns the batch into
    * a fresh SNAPSHOT publish of the rows at/after it — the replica's
    * version history is its own (batch-granular, reseeds flattened),
    * but every published replica version is a consistent logical state
    * and the LIVE one converges to the primary's. If the replica root
    * is itself CDF-enabled, its publishes stage their own feeds —
    * replication CHAINS. */
  def applyFeedToLake(s: org.apache.spark.sql.SparkSession,
      dstRoot: String, key: String, batch: DataFrame,
      batchId: Long): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dstRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val target = batchId.toInt + 1
    val versions = (if (fs.exists(new Path(dstRoot)))
        fs.listStatus(new Path(dstRoot)).toSeq else Seq.empty)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toInt }
    if (versions.contains(target)) {
      val newest = versions.max
      val (cur, _) = graft.ops.Sync.readPublished(s, dstRoot)
      if (cur.stripPrefix("v").toInt < newest)
        graft.ops.Sync.repoint(s, dstRoot, newest)
      false
    } else if (batch.isEmpty) false
    else {
      val (cut, resolved) = graft.sync.LakeToJdbc.collapseCdfBatch(batch, key)
      val published =
        if (versions.isEmpty || cut.isDefined) {
          // bootstrap, or reseed: a fresh snapshot publish of the
          // collapsed non-deleted rows (D rows net keys OUT of it)
          val snap = resolved.filter(col("op") =!= "D")
            .drop("op", "_commit_version")
          val ok = graft.ops.Sync.publish(s,
            snap.repartitionByRange(4, col(key))
              .sortWithinPartitions(key),
            dstRoot, target, _.head(1).nonEmpty)
          if (ok)
            graft.ops.Sync.writeFileStats(s, s"$dstRoot/v$target", key)
          ok
        } else {
          val from = versions.filter(_ < target).max
          graft.ops.Sync.cowApplyChanges(s, dstRoot, from, target, key,
            resolved.withColumnRenamed("_commit_version", "version"))
            .published
        }
      if (!published) throw new IllegalStateException(
        s"applyFeedToLake: publish of $dstRoot/v$target refused — " +
          s"failing batch $batchId so the stream retries instead of " +
          "committing the checkpoint past lost changes")
      true
    }
  }

  /** The [[applyFeedToLake]] kernel bound to a `graftlake-cdf` stream.
    * Caller binds the checkpoint:
    * `lakeReplica(s, src, dst, "k").option("checkpointLocation", ck)
    * .start()`. `startingVersion = 0` bootstraps the replica from the
    * primary's v1 feed. */
  def lakeReplica(s: org.apache.spark.sql.SparkSession, srcRoot: String,
      dstRoot: String, key: String) =
    s.readStream.format("graftlake-cdf")
      .option("path", srcRoot).option("startingVersion", 0L)
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFeedToLake(batch.sparkSession, dstRoot, key, batch, batchId)
        ()
      }

  /** T8+Y5: streaming upsert — each micro-batch is reduced to a
    * deterministic latest-wins row per PK, then MERGEd into the JDBC
    * target from the executors by [[JdbcSync.idempotentAppend]] —
    * nothing is collected to the driver, so the sink scales with the
    * cluster like any batch JDBC write. The MERGE text comes from the
    * dialect-parameterized [[graft.sync.MergeSql]] builder (Derby here —
    * the embedded test DB; the T-SQL rendering is pinned offline in
    * SyncJobSuite).
    */
  def upsertToJdbc(changes: DataFrame, url: String, table: String,
                   driver: String,
                   dialect: graft.sync.MergeSql.Dialect = graft.sync.MergeSql.Derby) = {
    val cfg = JdbcConfig(url, table, driver = driver)
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch.groupBy(col("user_id"))
          .agg(max_by(struct(col("event_type"), col("value")),
                      struct(col("ts"), col("event_id"))).as("m"))
          .select(col("user_id"), col("m.event_type").as("event_type"),
                  col("m.value").as("val"))
        JdbcSync.idempotentAppend(latest, cfg, "user_id", dialect)
      }
  }

  /** T7 (Spark 4 successor API): the same sessionization as [[sessionize]]
    * but via `transformWithState` — ValueState + event-time timers
    * (requires the RocksDB state store provider). A timer at last+gap
    * fires when the watermark passes it and emits the closed session;
    * extending a session re-registers the timer.
    */
  final class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, SessionSummary] {
    @transient private var session: ValueState[SessionBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionBuf]("session",
        Encoders.product[SessionBuf], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionSummary] = {
      val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
      var buf = if (session.exists()) Option(session.get()) else None
      // drop the stale timer before extending; re-registered below.
      // SessionBuf bounds are epoch-µs; timers are ms (msCeil).
      buf.foreach(b => getHandle.deleteTimer(msCeil(b.last) + gapMs))
      val closed = Seq.newBuilder[SessionSummary]
      sorted.foreach { e =>
        val t = usOf(e.ts)
        buf match {
          case Some(b) if t - b.last <= gapMs * 1000L =>
            buf = Some(SessionBuf(b.n + 1, b.first, math.max(b.last, t),
              b.total + e.value))
          case Some(b) =>
            closed += SessionSummary(user, b.n, tsOfUs(b.first),
              tsOfUs(b.last), b.total)
            buf = Some(SessionBuf(1, t, t, e.value))
          case None =>
            buf = Some(SessionBuf(1, t, t, e.value))
        }
      }
      buf.foreach { b =>
        session.update(b)
        getHandle.registerTimer(msCeil(b.last) + gapMs)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionSummary] =
      if (session.exists()) {
        val b = session.get()
        // a stale timer (session extended after registration) fires early:
        // only close when this timer is the session's current one
        if (info.getExpiryTimeInMs() >= msCeil(b.last) + gapMs) {
          session.clear()
          Iterator.single(SessionSummary(user, b.n, tsOfUs(b.first),
            tsOfUs(b.last), b.total))
        } else Iterator.empty
      } else Iterator.empty
  }

  def sessionizeTws(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                    watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypeCount(user_id: Long, event_type: String,
                             run_count: Long, recent: String)

  /** T7d: the remaining transformWithState primitives — MapState and
    * ListState — in their natural roles: per-user PER-TYPE running
    * counts as a MapState (one map entry per event type; a ValueState
    * would need the whole map serialized per update), and the user's
    * last-3 event ids
    * as a bounded ListState ring (the recency window pattern-matchers
    * read). Emits one row per input event with the updated counter and
    * ring — cross-batch persistence is the point, pinned in the test.
    */
  final class TypeCountsProcessor
      extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // NB TTLConfig(Duration) here is the production state-eviction
      // lever (idle users age out) — but TTL forces TimeMode
      // ProcessingTime, whose maintenance batches never quiesce under
      // MemoryStream's processAllAvailable (measured: the t7d query
      // spun micro-batches indefinitely), so the TEST surface runs
      // TTL-free and eviction stays a config note, not a tested claim
      counts = getHandle.getMapState[String, Long]("typeCounts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recentIds",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[TypeCount] = {
      val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
      val out = sorted.map { e =>
        val n = (if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L) + 1
        counts.updateValue(e.event_type, n)
        val ring = (recent.get().toSeq :+ e.event_id).takeRight(3)
        recent.put(ring.toArray)
        TypeCount(user, e.event_type, n, ring.mkString(","))
      }
      out.iterator
    }
  }

  def typeCountsTws(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One CDC changelog entry: op ∈ I/U/D, ver strictly increasing per key
    * at the source (the change-tracking version column). */
  final case class Change(k: Long, v: String, op: String, ver: Long)

  /** Cross-batch latest-wins guard for a CDC stream: per key, keep the
    * highest version APPLIED so far (ValueState, recovered from the
    * checkpoint across restarts) and emit only changes strictly newer —
    * an out-of-order or replayed older change can never regress the
    * target. Within one micro-batch only the winning change is emitted
    * (at most one row per key per batch reaches the sink). This is the
    * stateful core the reference's change-tracking apply needs and a
    * per-batch max_by alone cannot provide: max_by forgets across
    * batches, so a late batch carrying an older version would win.
    */
  final class LatestWinsProcessor
      extends StatefulProcessor[Long, Change, Change] {
    @transient private var applied: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      applied = getHandle.getValueState[Long]("appliedVer",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(k: Long, rows: Iterator[Change],
        timers: TimerValues): Iterator[Change] = {
      // rows all share the grouping key k; ver is strictly increasing
      // per key at the source (Change's contract), so maxBy(_.ver) is
      // unambiguous — a duplicate ver would be a source bug
      val best = rows.maxBy(_.ver)
      val prev = if (applied.exists()) applied.get() else Long.MinValue
      if (best.ver > prev) {
        applied.update(best.ver)
        Iterator.single(best)
      } else Iterator.empty
    }
  }

  /** The changelog stream through the [[LatestWinsProcessor]] guard,
    * ready for a `foreachBatch` sink: at most one row per key per
    * micro-batch, with the `Change` columns (k, v, op, ver). */
  private def latestWins(changes: Dataset[Change]) = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.k)
      .transformWithState(new LatestWinsProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
      .writeStream.outputMode("append")
  }

  /** Streaming SCD2 (Y7 ∘ Z3): the CDC apply with HISTORY — instead of
    * overwriting the key's row, each applied change CLOSES the key's
    * current version and, for I/U, OPENS the new one
    * ([[JdbcSync.applyScd2Feed]] with `ver` as the clock: the close guard
    * and the (k, valid_from) open MERGE make replay a no-op). A delete
    * closes without opening — the key's history survives, which is the
    * point of SCD2. Cross-batch ordering is the same LatestWinsProcessor
    * state as [[cdcToJdbc]]: a stale replayed version can neither
    * regress the open row nor interleave history.
    */
  def cdcToJdbcScd2(changes: Dataset[Change], url: String, table: String,
                    driver: String,
                    dialect: graft.sync.MergeSql.Dialect = graft.sync.MergeSql.Derby) = {
    val cfg = JdbcConfig(url, table, driver = driver)
    latestWins(changes).foreachBatch { (batch: DataFrame, _: Long) =>
      JdbcSync.applyScd2Feed(batch, cfg, "k", "v", "op", "ver", dialect)
    }
  }

  /** The composed streaming-CDC apply: changelog stream → latest-wins
    * state → per-batch MERGE (I/U) + DELETE (D) into the JDBC target
    * from the executors ([[JdbcSync.applyChangeFeed]]). Pair with a
    * checkpointLocation and Trigger.AvailableNow for the scheduled
    * incremental-sync shape; the state store makes the whole pipeline
    * idempotent under restart and out-of-order delivery. The statement
    * text comes from the dialect-parameterized [[graft.sync.MergeSql]]
    * builder, so swapping dialects swaps only the `dialect` argument.
    */
  def cdcToJdbc(changes: Dataset[Change], url: String, table: String,
                driver: String,
                dialect: graft.sync.MergeSql.Dialect = graft.sync.MergeSql.Derby) = {
    val cfg = JdbcConfig(url, table, driver = driver)
    latestWins(changes).foreachBatch { (batch: DataFrame, _: Long) =>
      JdbcSync.applyChangeFeed(batch, cfg, "k", "op", dialect)
    }
  }
}
