package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** A JSON number with `digits` decimals. `f"%.3f"` follows the JVM's
    * default locale and would write `1,500` under a German one. */
  private[graft] def num(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    EntryTuning.tuneEmbeddedDerby()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // No bench-only flags: every timed query is exactly the plan Verify
    // and the DuckDB gate check. The block-quadratic dedup/fuzzy queries
    // are timed in BOTH forms - full (l2a/l2d/j10) and the 1/10-1/20
    // probe-slice monitoring variants (*_sampled), each its own
    // oracle-checked query.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // STATIC conf, must be set before the session exists. Default 100
      // entries thrash across this suite (~120 queries × several generated
      // classes each), so pass 2 recompiles every WholeStageCodegen body
      // and the per-query minimum measures Janino, not the plan. A warm
      // long-running cluster keeps its codegen cache; size it to fit.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.ops.Tables.prepare(spark)
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time session costs (Hadoop FS init, codegen, parquet
    // footer machinery) so they don't land on whichever query runs first
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Two passes, per-query minimum: this host stalls episodically (an
    // identical query swings 0.5↔30 s between runs), so a single-shot
    // total measures stall luck, not plans. Pass 2 re-times every query
    // after the whole suite warmed page cache/JIT; min is the honest
    // plan cost. A throwing query records -1 and does not abort.
    def pass(): Map[String, Double] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      // sweep caches after the action completes: queries run sequentially
      // and never share cached data, so without this each pass
      // accumulates cache blocks until the ContextCleaner happens to GC —
      // unbounded memory/local-disk growth across ~270 timed runs. TWO
      // levels, both required: clearCache() drops Dataset-level persists
      // from the CacheManager (an RDD-level unpersist alone leaves the
      // CacheManager entry behind, and the NEXT query persisting the
      // identical plan would hit "already cached", no-op, and recompute
      // through the dead InMemoryRelation every consumer); the RDD sweep
      // catches the dedup family's explicit RDD-level persists, which the
      // CacheManager never sees. Both sit outside the timed window;
      // building the cached blocks (the real cost) is inside it.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      name -> (if (ok) t else -1.0)
    }
    // Stall sentinel: a fixed-cost no-op (sum over 10M longs, one codegen'd
    // stage, no IO) timed before/between/after the passes. On a healthy
    // host it is ~10-30 ms; this host stalls episodically (identical
    // queries swing 0.5↔30 s), so a sentinel reading in the hundreds of
    // ms marks the surrounding pass as stall-contaminated — a reader can
    // tell a real plan regression from stall luck without a re-run.
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(10000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // A pass is HEALTHY-BRACKETED when the sentinels immediately before
    // and after it both read inside the healthy band. Round 7 showed
    // min-of-two cannot defend when the stall phase covers a whole pass
    // (driver r7: sentinels 0.48/0.336 -> scored 69.4 s vs 48.2-57.4 s
    // for the same build), and round 8 showed an ABSOLUTE band cannot
    // either: healthyMax=0.4 accepted a retry pass bracketed at
    // 0.396/0.348 — "healthy" by the letter, ~4x degraded vs this host's
    // true band (~0.08-0.13 s) — and scored 249 s where the same build
    // measures ~77 s under clean brackets. So the band is now RELATIVE:
    // a sentinel is healthy iff <= 2x the session-minimum sentinel
    // (floored at 0.15 s so ordinary jitter around a very fast minimum
    // isn't rejected; capped at the old 0.4 s so a session whose EVERY
    // reading is degraded can't stretch the band upward). Health is
    // (re-)evaluated at SCORING time against the final session minimum —
    // a pass accepted mid-run is retroactively rejected if a later,
    // faster sentinel reveals its brackets were degraded. The threshold
    // used is emitted alongside the sentinel log.
    val sentinelLog = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinelLogged(): Double = { val t = sentinel(); sentinelLog += t; t }
    // WALL BUDGET: the driver runs this main under a hard timeout; an
    // rc=124 scores NOTHING (round 11: two ~250-290 s passes + JVM
    // startup exceeded the budget and the round's performance contract
    // went unevaluated). A completed single-pass result beats a
    // timed-out two-pass one, so passes beyond the first — and stall
    // retries — only run while the elapsed wall plus an estimate of
    // the next pass (= the longest pass so far) fits the budget.
    // Default 600 s of in-JVM time: round 10's driver run completed
    // THREE ~183 s passes (~610 s in-JVM) inside its cap, so the cap
    // is >= ~700 s — 600 s leaves startup room while letting a healthy
    // host (~250 s/pass) keep its two-pass smoothing. Override via env.
    val wallBudgetSec = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BUDGET_SEC", "600").toDouble
    val wallStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wallStart) / 1e9
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
    def timedPass(): Map[String, Double] = {
      val t0 = System.nanoTime()
      val p = pass()
      passWalls += (System.nanoTime() - t0) / 1e9
      p
    }
    def budgetAllowsAnotherPass: Boolean =
      elapsedSec + passWalls.max <= wallBudgetSec
    // Floor 0.12: ordinary jitter around a fast minimum isn't rejected —
    // this host's measured healthy band is 0.08-0.13 s (r9 adjudication),
    // so the old 0.15 floor let a ~0.157-bracketed pass score without one
    // more retry (driver r9 ran mildly degraded for exactly that reason).
    // Cap 0.25: a session whose EVERY sentinel is degraded (min ≥ ~0.2 —
    // e.g. a co-tenant pinning the cores for the whole run) must NOT
    // stretch the band up to accept its own degradation; with the cap it
    // keeps retrying and, if the host never recovers, falls through to
    // the all-passes fallback with pass_healthy=[false,...] disclosing it.
    def healthyMax: Double =
      math.min(0.25, math.max(2.0 * sentinelLog.min, 0.12))
    def isHealthy(a: Double, b: Double): Boolean = {
      val h = healthyMax; a <= h && b <= h
    }
    // The sentinels that BRACKET a timed pass (excludes retry-wait
    // readings) - this is what the compact final stdout line carries; the
    // full log, including the wait readings, goes to bench_queries.json.
    val bracketSentinels = scala.collection.mutable.ArrayBuffer[Double]()
    // Each pass with its (pre, post) bracket; health judged at the end.
    val passes = scala.collection.mutable.ArrayBuffer[(Map[String, Double], Double, Double)]()
    // SETTLE: this host reliably stalls for a window right after
    // JVM/sbt startup — every recorded run's FIRST sentinel is its
    // worst (0.45-1.9 s vs the 0.08-0.13 healthy band). A pass that
    // straddles that window inflates ~2x AND its wall then blocks the
    // second pass through the budget estimate, so burn the stall in a
    // bounded warm-wait (<=60 s) before anything is timed.
    locally {
      var t = sentinelLogged()
      var waited = 0
      while (t > 0.15 && waited < 20) {
        Thread.sleep(3000); t = sentinelLogged(); waited += 1
      }
    }
    val s0 = sentinelLogged()
    val p1 = timedPass()
    val s1 = sentinelLogged()
    bracketSentinels ++= Seq(s0, s1)
    passes += ((p1, s0, s1))
    if (budgetAllowsAnotherPass) {
      val p2 = timedPass()
      val s2 = sentinelLogged()
      bracketSentinels += s2
      passes += ((p2, s1, s2))
    }
    // Retry while no pass is healthy-bracketed (bounded: at most 2 retry
    // passes, and only while the wall budget fits another pass). Wait
    // (bounded ~90 s per retry) for the host to recover - a sentinel
    // issued DURING a stall blocks for the stall's duration, so the
    // loop self-paces - then re-time the whole suite with fresh
    // brackets.
    var retries = 0
    while (!passes.exists(t => isHealthy(t._2, t._3)) && retries < 2 &&
        budgetAllowsAnotherPass) {
      var pre = sentinelLogged()
      var tries = 0
      while (pre > healthyMax && tries < 40 &&
          elapsedSec + passWalls.max <= wallBudgetSec) {
        Thread.sleep(3000)
        pre = sentinelLogged()
        tries += 1
      }
      val p = timedPass()
      val post = sentinelLogged()
      passes += ((p, pre, post))
      bracketSentinels ++= Seq(pre, post)
      retries += 1
    }
    // Health is judged HERE, against the full session's minimum sentinel.
    // The gate's role is to keep retrying until AT LEAST ONE pass is
    // healthy-bracketed; scoring then takes the per-query min over ALL
    // passes, healthy or not. That is sound because a stall can only
    // INFLATE a timing, never deflate it: a degraded pass's reading for
    // a query either exceeds the healthy pass's (min ignores it) or the
    // query genuinely ran inside a clear window of the degraded pass
    // (the faster reading is still an honest plan cost). Min over the
    // healthy passes ALONE loses this smoothing when only one pass
    // qualifies — a mid-pass stall burst that the brackets straddle
    // lands its full cost on whichever query it hit (r9: one query read
    // 21 s in the single healthy pass vs its 3 s profile). If every
    // pass including the retries is degraded, the min over all passes
    // is still produced and pass_healthy=[false,...] discloses it.
    val passHealthFinal = passes.map(t => isHealthy(t._2, t._3)).toSeq
    val counted = passes.map(_._1).toSeq
    // min over SUCCEEDED runs: a query that ran clean in one pass keeps
    // its valid timing even if another pass threw; a query that failed
    // every pass stays a visible -1 sentinel but is EXCLUDED from the
    // summed total (a failure must not lower the reported seconds).
    val results = p1.keys.map { k =>
      val ok = counted.flatMap(_.get(k)).filter(_ >= 0.0)
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    val failed = results.count(_._2 < 0.0)
    // Per-query timings go to a file + a non-final stdout line; the driver's
    // tail-capture window only reliably holds the LAST line, so the scored
    // summary is a compact (<200 char) total-only JSON line printed last.
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Per-query spread (max/min over the COUNTED passes): ~1 means the
    // counted passes agreed; a large ratio means one of them still hit a
    // stall window and the min is the trustworthy number. Only emitted
    // where >=2 counted passes succeeded for the query.
    val spread = p1.keys.flatMap { k =>
      val ok = counted.flatMap(_.get(k)).filter(_ > 0.0)
      if (ok.size >= 2)
        Some("\"" + k + "\":" + num(ok.max / ok.min, 1))
      else None
    }.mkString("{", ",", "}")
    // Full sentinel log (including retry-wait readings) -> file; compact
    // bracket-only list + per-pass health flags -> final stdout line.
    val sentinelsFull = sentinelLog.map(num(_)).mkString("[", ",", "]")
    val sentinels = bracketSentinels.map(num(_)).mkString("[", ",", "]")
    val passHealth = passHealthFinal.mkString("[", ",", "]")
    val hmax = num(healthyMax)
    val total = results.values.filter(_ >= 0.0).sum
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_queries.json"),
      s"""{"queries":$qs,"spread":$spread,"sentinel_sec":$sentinelsFull,"pass_healthy":$passHealth,"healthy_max":$hmax,"sf":"$sfDir"}""")
    catch { case _: Throwable => () }
    println(s"""{"perquery":$qs}""")
    // The one-line perquery map above is ~6 KB — larger than the
    // driver's stdout tail-capture window, which is why PERF_r12/r13
    // had per_query: {} (both tails begin mid-map). ADDITIONS-ONLY fix:
    // re-emit the same entries as chunked <=1 KB lines a tail window
    // can hold whole; the compact final line and bench_queries.json
    // stay byte-compatible.
    locally {
      val entries = results.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num(v) }
      val chunks = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      var len = 0
      entries.foreach { e =>
        if (len + e.length > 900 && cur.nonEmpty) {
          chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[String](); len = 0
        }
        cur += e; len += e.length + 1
      }
      if (cur.nonEmpty) chunks += cur.toSeq
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"perquery_part":${i + 1},"of":${chunks.size},""" +
          s""""queries":${c.mkString("{", ",", "}")}}""")
      }
    }
    println(s"""{"spread":$spread}""")
    spark.stop()
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${results.size},"n_failed":$failed,"sentinel_sec":$sentinels,"pass_healthy":$passHealth,"healthy_max":$hmax,"sf":"$sfDir"}""")
  }
}
