package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkEntry

/** query_mix: one analyst's session, repeated. One operation is a pass
  * over a fixed list of read-only parquet queries from
  * `SparkEntry.queries`, each running its full plan into Spark's no-op
  * sink, followed by one cycle of reads, writes and maintenance calls on
  * a keyed lake table through `LakeCatalog` (see `LakeRw`). The passes
  * never touch JDBC or the lake; the lake cycle never touches JDBC or the
  * sync path.
  *
  * Correctness: the warm-up runs each query once and writes its result
  * as parquet; after the run, `run.py` compares those results with
  * DuckDB running `SparkEntry.oracleSql` over the same generated
  * tables. The lake cycle checks itself against its model. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx._
  import QueryMix.names

  private val sf = 0.01
  private val dir = path("query_data")
  private val out = path("query_out")
  private val lake = new LakeRw(ctx)

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** As Bench does between queries: queries share no cached data, so
    * sweep what one left behind (the RDDs persisted since `before`;
    * the lake model's stay) outside the timed window. */
  private def clearCaches(before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = false)
    }
  }

  override def setup(): Unit = {
    new Gen(spark, seed, sf).writeAll(dir)
    lake.setup()
  }

  /** One pass that writes every result for the oracle check, then the
    * lake's warm-up. */
  override def warmUp(): Unit = {
    names.foreach { n =>
      val before = persisted
      SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
      clearCaches(before)
    }
    lake.warmUp()
  }

  /** One pass over every query: (name, seconds, ok) per query. */
  private def pass(): Seq[(String, Double, Boolean)] = names.map { n =>
    val before = persisted
    val (s, _, err) = Workload.timed(trace.span("query", n) {
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    })
    err.foreach(e => System.err.println(s"[perfbench] query $n failed: $e"))
    if (trace.enabled) trace.spans.last.counts("jvm.cached_frames") =
      (Trace.cachedFrames(spark) - before.size).toDouble
    clearCaches(before)
    (n, s, err.isEmpty)
  }

  /** One pass, each query its own span, then one lake cycle; the
    * operation's time is the pass's plus the cycle's. */
  override def step(): Seq[Sample] = {
    val runs = pass()
    println("queries " + runs.map { case (n, s, _) => s"$n=${Stats.human(s)}" }.mkString(" "))
    val p = Sample("pass", runs.map(_._2).sum, runs.size, runs.count(!_._3))
    val cycle = lake.step()
    Sample("op", p.seconds + lake.opSeconds(cycle).sum, 0, 0) +: p +: cycle
  }

  override def opSeconds(samples: Seq[Sample]): Seq[Double] =
    samples.filter(_.kind == "op").map(_.seconds)

  override def report(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val passes = samples.filter(_.kind == "pass").map(_.seconds)
    ("query_pass_s", Workload.median(passes), s"s (n=${passes.size})") +: lake.report(samples)
  }

  /** Per-query medians, the most cached frames a query left behind
    * (counted before the sweep), and the lake's metrics. */
  override def layers(samples: Seq[Sample]): Map[String, Double] = {
    val spans = trace.spans.filter(_.kind == "query").toSeq
    names.map(n => s"ops.query_s.$n" -> Workload.median(spans.filter(_.name == n).map(_.seconds))).toMap +
      ("jvm.leaked_cached_frames" -> spans.map(_.counts.getOrElse("jvm.cached_frames", 0.0)).maxOption.getOrElse(0.0)) ++
      lake.layers(samples)
  }

  /** Hands the oracle check to run.py (the data dir, the result dir and
    * the DuckDB SQL of every query), then checks the whole lake table
    * against its model. */
  override def finalCheck(): Seq[String] = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    val oracle = names.map(n => q(n) + ":" + q(SparkEntry.oracleSql(n))).mkString(",")
    val json = s"""{"data_dir":${q(dir)},"out_dir":${q(out)},"oracle":{$oracle}}"""
    Files.write(work.resolve("oracle_check.json"), json.getBytes(StandardCharsets.UTF_8))
    lake.finalCheck()
  }
}

object QueryMix {
  val names: Seq[String] = Seq("j1_broadcast_star", "j2_sortmerge_join", "j7_range_join",
    "j8_asof_join", "a1_pricing_summary", "a10_cube", "a7_percentiles", "w1_ranking",
    "w7_sessionize", "sql_q2_min_cost_supplier", "sql_q9_product_profit",
    "sql_q21_waiting_supplier", "f4_array_higher_order", "f6_json", "l1_exact_dedup",
    "l2b_minhash_lsh", "l3_cosine_topk", "l4b_ivf_ann", "l5e_tfidf")
}
