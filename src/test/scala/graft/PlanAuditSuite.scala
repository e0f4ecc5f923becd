package graft

import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the 100 TB story, SURVEY §4): these lock the plan
  * shapes that make the engine scale — filter pushdown to parquet, column
  * pruning, broadcast star joins, top-k without a global sort, codegen'd
  * similarity scoring. A regression here is a silent 10-100× at scale even
  * if results stay correct.
  */
class PlanAuditSuite extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // Sweep the shared session's CacheManager AFTER capturing the plan:
    // some audited queries (y16/y17/y20) persist their |years|-row plan,
    // and CacheManager substitutes InMemoryRelation by logical-plan
    // equality — a later test building an identical subplan would
    // silently read the cache and see a plan shape this audit never
    // intended to pin (ADVICE r8).
    spark.catalog.clearCache()
    p
  }

  test("P2: filters reach the parquet scan (PushedFilters non-empty)") {
    val p = plan("p2_filter_pushdown")
    // plan string truncates the filter list — presence of pushed IsNotNull/
    // range filters is the signal (empty pushdown renders "PushedFilters: []")
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("DataFilters: [isnotnull(l_shipdate"))
  }

  test("P1: column pruning — scan reads only referenced lineitem columns") {
    val df = SparkEntry.queries("p1_project_compute")(spark, sf)
    val scanSchema = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanSchema.contains("l_orderkey"))
    assert(!scanSchema.contains("l_shipdate"), "unused column not pruned from scan")
  }

  test("J1: star join broadcasts the dimension (no fact shuffle)") {
    val p = plan("j1_broadcast_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("J2: fact-fact join is sort-merge (co-partitioned shuffle)") {
    assert(plan("j2_sortmerge_join").contains("SortMergeJoin"))
  }

  test("O4: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan("o4_topk_global")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("O1: global sort is range-exchange + per-partition sort, global order") {
    val p = plan("o1_global_sort")
    assert(p.contains("Exchange rangepartitioning"),
      "global sort must range-partition from sampled bounds, not single-task")
    assert(p.contains("Sort [v_or_null"))
    assert(p.contains("NULLS FIRST"))
  }

  test("L2a/L2e: blocked-Jaccard item self-join is shuffle-hash, not broadcast") {
    // measured r5: the planner's broadcast pick builds a ~0.5M-row hash
    // table on the driver (2.28 s vs 1.01 s warm), and the unsampled
    // Verify probe is the full corpus — it must never be broadcast
    for (q <- Seq("l2a_shingle_jaccard", "l2e_sketch_jaccard")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q item join not shuffle-hash")
      assert(!p.contains("BroadcastHashJoin"), s"$q broadcasts a join side")
    }
  }

  test("P3b: rename/drop folds to one Project; dropped cols pruned from scan") {
    val df = SparkEntry.queries("p3b_rename_drop")(spark, sf)
    val leaves = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(leaves.contains("s_suppkey"))
    assert(!leaves.contains("s_comment"), "dropped column not pruned from scan")
    assert(!leaves.contains("s_address"), "dropped column not pruned from scan")
  }

  test("L3: similarity scoring is inside WholeStageCodegen with broadcast queries") {
    val p = plan("l3_cosine_topk")
    assert(p.contains("cosine_sim") || p.contains("cosinesim"),
      s"native expression missing from plan")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
  }

  test("A1: aggregate is two-phase hash (partial before shuffle)") {
    val p = plan("a1_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.split("HashAggregate").length >= 3, "expected partial+final HashAggregate")
  }

  test("Y3: snapshot diff is a single full-outer sort-merge join on the PK") {
    val p = plan("y3_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"))
  }

  test("W1: six window functions over one spec collapse into a single Window operator") {
    val p = plan("w1_ranking")
    assert(p.split("\\bWindow\\b").length - 1 <= 2,
      s"expected one Window exec (plus possible header mention):\n$p")
  }

  test("X4: typed flatMap generates rows like a UDTF") {
    val spark0 = spark
    import spark0.implicits._
    val out = Seq(("a b", 1), ("c", 2)).toDF("s", "k").as[(String, Int)]
      .flatMap { case (s, k) => s.split(" ").map(w => (w, k)) }
      .collect().toSet
    assert(out == Set(("a", 1), ("b", 1), ("c", 2)))
  }

  test("Q5: the 6-table star broadcasts every dimension (≤1 sort-merge join)") {
    val p = plan("sql_q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(p.split("SortMergeJoin").length - 1 <= 1,
      s"at most the lineitem⋈orders join may shuffle:\n$p")
  }

  test("O5b: bounded top-k aggregator plans partial+final (map-side k-buffer)") {
    val p = plan("o5b_topk_agg")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"typed aggregator should plan an object/sort aggregate:\n$p")
    assert(p.split("Aggregate").length >= 3,
      s"expected partial+final aggregate phases:\n$p")
  }

  test("O2: sortWithinPartitions is a local sort — no exchange added") {
    val df = Tables.orders(spark, sf)
      .repartition(4, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"), col("o_orderdate"))
    val p = df.queryExecution.executedPlan.toString
    // Sort renders as "Sort [keys], <global>, <limit>" — false = local sort
    assert(p.contains("Sort [") && p.contains("], false, 0"),
      s"expected a partition-local sort:\n$p")
    assert(p.split("Exchange").length - 1 == 1,
      s"the local sort must not add an exchange beyond the repartition:\n$p")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in final plan)") {
    val spark0 = spark
    import spark0.implicits._
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // detection = size > max(threshold, 5×median); one hot key holds
      // ~97% of rows so lowering the floor lets the 4-partition local
      // shuffle expose it exactly as a 100 TB hot key would
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 200000)
        .select(when(col("id") < 194000, 0L).otherwise(col("id") % 97).as("k"),
                col("id").as("v"))
      val right = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("w"))
      // NB: the post-join agg must NOT require hashpartitioning on the join
      // key (a global agg is fine) — AQE refuses to split skewed partitions
      // when a downstream operator relies on the join's output partitioning.
      val joined = left.join(right.hint("merge"), Seq("k"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      joined.collect() // AQE finalizes the plan only on execution
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("O5c: custom strategy plans BoundedTopKExec behind a clustered exchange") {
    val df = SparkEntry.queries("o5c_topk_exec")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BoundedTopK"), s"custom operator not planned:\n$p")
    assert(p.contains("hashpartitioning(o_custkey"),
      "requiredChildDistribution must insert the group-key exchange")
    assert(!p.contains("Sort "), "bounded top-k must not sort partitions")
    // and it agrees with the window-function form at sf0.001
    val viaWindow = SparkEntry.queries("o5_topk_per_group")(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    val viaExec = df.collect().map(_.toSeq).toSet
    assert(viaExec == viaWindow)
  }

  test("O5c: BoundedTopK coerces decimal order columns and skips null ties") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, 10L, "1.10"), (1L, 11L, "3.30"), (1L, 12L, "2.20"),
                 (1L, 13L, "4.40"), (2L, 20L, "5.50"))
      .toDF("g", "id", "s")
      .select(col("g"), col("id"), col("s").cast("decimal(15,2)").as("v"))
    val top = graft.plans.BoundedTopK.perGroup(df, Seq("g"), "v", "id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top == Set((1L, 13L), (1L, 11L), (2L, 20L)))
    val withNulls = Seq((1L, 1L, Some(2.0)), (1L, 2L, None), (1L, 3L, Some(1.0)))
      .toDF("g", "id", "v")
    val t2 = graft.plans.BoundedTopK.perGroup(withNulls, Seq("g"), "v", "id", 2)
      .collect().map(_.getLong(1)).toSet
    assert(t2 == Set(1L, 3L), "null order value must be excluded, not crash")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB story for fact-fact joins with a selective dim filter:
    // InjectRuntimeFilter builds a bloom filter from the filtered creation
    // side and pushes might_contain() into the fact scan, so most fact
    // rows die before the shuffle. Thresholds are tuned for real scans
    // (app side > 10 GB); lower them so the sf0.001 local join exposes
    // exactly the plan a 100 TB run would get.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter not injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val o = Tables.orders(spark, sf)
      .withColumn("order_year", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    val back = spark.read.parquet(out).filter(col("order_year") === 1997)
    val scan = back.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters: [") &&
           scan.contains("order_year"), "partition pruning not applied")
    assert(back.count() == o.filter(year(col("o_orderdate")) === 1997).count())
  }

  test("Y49: a partition-filtered read of a published partitioned version scans only matching part= subdirs") {
    val root = java.nio.file.Files.createTempDirectory("graft_y49pa")
      .toString + "/t"
    val proj = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    assert(Sync.publish(spark,
      proj.repartitionByRange(4, col("o_orderstatus"), col("o_orderkey"))
        .sortWithinPartitions("o_orderstatus", "o_orderkey"),
      root, 1, _.head(1).nonEmpty, Some("o_orderstatus")))
    val (_, cur) = Sync.readPublished(spark, root)
    def filesRead(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numFiles").value
    }
    val all = filesRead(cur.select("o_orderkey"))
    val f = cur.filter(col("o_orderstatus") === "F")
    val pruned = filesRead(f)
    val leaf = f.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PartitionFilters: [") &&
      leaf.contains("o_orderstatus"),
      s"partition filter did not reach the scan:\n$leaf")
    assert(pruned < all,
      s"partition-filtered read scanned $pruned of $all files — no " +
        "subdir pruning on the published version")
    assert(f.count() == proj.filter(col("o_orderstatus") === "F").count())
  }

  test("dynamic partition pruning injects a runtime filter into the fact scan") {
    // The 100 TB date-partitioned read path: fact partitioned on
    // order_year joined to a dim filtered on a non-join column — static
    // pruning can't help (the year set is only known at runtime), so
    // PlanDynamicPruningFilters must turn the broadcast dim into a
    // dynamicpruningexpression inside the fact scan's PartitionFilters.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.orders(spark, sf).withColumn("order_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("order_year").parquet(s"$dir/fact")
    spark.range(1992, 1999).select(col("id").as("dim_year"),
        when(col("id") === 1997, "target").otherwise("other").as("tag"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "target")
    val j = fact.join(dim, fact("order_year") === dim("dim_year"))
      .agg(count(lit(1)).as("n"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"dynamic partition pruning not planned:\n$p")
    // and the pruned result is still correct
    val n = j.collect()(0).getLong(0)
    assert(n == fact.filter(col("order_year") === 1997).count())
  }

  test("X1: the same predicate reaches PushedFilters as a built-in, not as a udf()") {
    // why the library bans UDFs from hot paths: a udf() cannot become a
    // parquet row-group filter, so at 100 TB every row-group is read
    // before the predicate runs. Identical semantics, opposite scans.
    graft.functions.UdfDemo.register(spark)
    val o = Tables.orders(spark, sf)
    val builtin = o.filter(col("o_totalprice") > 400000d)
    val viaUdf = o.filter(
      graft.functions.UdfDemo.gtUdf(col("o_totalprice"), lit(400000d)))
    val pBuiltin = builtin.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    val pUdf = viaUdf.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(pBuiltin.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"built-in comparison must reach PushedFilters:\n$pBuiltin")
    assert(pUdf.contains("PushedFilters: []"),
      s"udf() must NOT reach PushedFilters (that's the point):\n$pUdf")
    // same answer either way — only the plan differs
    assert(builtin.count() == viaUdf.count())
  }

  test("L10: contamination screen broadcasts the eval gram set (corpus streams)") {
    val p = plan("l10_contamination")
    assert(p.contains("BroadcastHashJoin"), "eval-set join must broadcast")
    assert(p.contains("LeftOuter"), "must be a left join (misses count as 0 hits)")
  }

  test("ANN family: no Window exchange between scoring and argmax (partial-agg re-rank)") {
    // r5 verdict `weak` fix: every nearest-centroid/neighbor selection
    // used row_number().over(Window.partitionBy(id)) over the scored
    // pairs — a hash exchange of ALL scored rows into |queries| reducer
    // tasks (a full-corpus shuffle into 8 partitions at 100 TB). Now:
    // corpus→cell assignment is a per-row codegen'd argmax over the
    // inlined ≤16-entry codebook (zero expansion, zero exchange), and
    // the re-rank is max_by / bounded TopKByPrice whose PARTIAL phase
    // reduces each partition to ≤|q| rows before any exchange. Pin all
    // six kernel consumers: no Window exec, and the re-rank aggregate
    // plans partial+final.
    for (q <- Seq("l3_cosine_topk", "l4_lsh_ann", "l4b_ivf_ann",
                  "l4c_ivf_multiprobe", "l4e_ivf_lloyd", "l4d_ann_recall")) {
      val p = plan(q)
      assert(p.split("\\bWindow\\b").length - 1 == 0,
        s"$q still plans a Window exchange:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$q re-rank is not an aggregate:\n$p")
      assert(p.split("Aggregate").length >= 3,
        s"$q re-rank aggregate must plan partial+final:\n$p")
    }
  }

  test("Q17/Q21: correlated subqueries decorrelate into joins (no per-row re-execution)") {
    // the scale property of the subquery surface: Catalyst must rewrite
    // the correlated scalar (q17) into an aggregate joined back on the
    // key and the EXISTS/NOT EXISTS pair (q21) into semi/anti joins —
    // a plan that re-ran the inner query per outer row (or fell back to
    // a cartesian product) would be unrunnable at 100 TB
    val p17 = plan("sql_q17_small_qty")
    assert(!p17.contains("CartesianProduct"), s"q17 fell back to cartesian:\n$p17")
    assert(p17.split("HashAggregate").length >= 3,
      s"q17's per-part average must plan as an aggregate, not a re-executed subquery:\n$p17")
    val p21 = plan("sql_q21_waiting_supplier")
    assert(p21.contains("LeftSemi"), s"q21 EXISTS did not become a semi join:\n$p21")
    assert(p21.contains("LeftAnti"), s"q21 NOT EXISTS did not become an anti join:\n$p21")
    assert(!p21.contains("CartesianProduct"), s"q21 fell back to cartesian:\n$p21")
  }

  test("L5l: unigram-LM vocab is bounded top-k + broadcast (corpus never shuffle-joins)") {
    val p = plan("l5l_unigram_logprob")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab selection must be bounded top-k, not a global sort/window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the scoring join must broadcast the vocab:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus token stream must not shuffle into the vocab join:\n$p")
  }

  test("A16: HLL rollup is partial+merge sketch aggregation, fact scanned once") {
    val p = plan("a16_hll_union")
    assert(p.contains("hll_sketch_agg"), "sketch aggregate missing")
    assert(p.contains("hll_union_agg"), "merge aggregate missing")
    val customerScans = p.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("customer"))
    assert(customerScans == 1, s"customer must be scanned once, saw $customerScans")
  }

  test("Q2/Q20: partsupp-surrogate subqueries decorrelate into joins") {
    // q2's correlated scalar MIN must become a per-part aggregate joined
    // back on the key; q20's double-nested IN (+ correlated scalar) must
    // become a semi-join chain. A cartesian or per-row re-execution in
    // either is unrunnable at 100 TB.
    val p2 = plan("sql_q2_min_cost_supplier")
    assert(!p2.contains("CartesianProduct"), s"q2 fell back to cartesian:\n$p2")
    assert(p2.split("HashAggregate").length >= 3,
      s"q2's per-part min-cost must plan as an aggregate joined back:\n$p2")
    val p20 = plan("sql_q20_promotion_parts")
    assert(!p20.contains("CartesianProduct"), s"q20 fell back to cartesian:\n$p20")
    assert(p20.split("LeftSemi").length >= 3,
      s"q20's nested INs must both become semi joins:\n$p20")
  }

  test("L5i: packing is a distributed prefix sum — no whole-language window") {
    // language mass is Zipfian: a running sum windowed by lang alone puts
    // most of a 100 TB corpus into ONE task. The doc-level window must be
    // co-keyed by the doc_id-range chunk (bounded ≤1024-row partitions),
    // and the tokenized projection must be cached so the corpus is
    // scanned+tokenized once even though offsets and join both consume it
    // (no broadcast pin: the offsets side grows with the corpus, so
    // forcing it to the driver is exactly the non-scalable shape).
    val p = plan("l5i_pack")
    val docWindows = p.split("\n").filter(l =>
      l.contains("Window [") && l.contains("doc_id#"))
    assert(docWindows.nonEmpty, s"doc-level window missing:\n$p")
    assert(docWindows.forall(l => l.matches(""".*\[lang#\d+, chunk#\d+L?\].*""")),
      s"doc-level running sum must partition by (lang, chunk), not lang alone:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"tokenized (doc_id, lang, n_toks, chunk) projection must be persisted " +
        s"so both consumers share one corpus pass:\n$p")
  }

  test("Y13b: approx profile plans HLL sketches with no Expand") {
    // y13's exact form Expand-multiplies every row ~6× for multi-column
    // NDV; the approx twin must plan mergeable HLL++ sketches in one scan
    // with no Expand node anywhere (its exact-NDV oracle scaffolding is
    // split into single-distinct aggs for the same reason).
    val p = plan("y13b_table_profile_approx")
    assert(p.contains("approx_count_distinct"), s"HLL sketch aggregate missing:\n$p")
    assert(!p.contains("Expand"), s"approx profile must not plan an Expand:\n$p")
  }

  test("Y17: FK sync broadcasts the dirty-year sets, never a cartesian") {
    // the copy pruning must ship only the ≤|years| dirty sets to the
    // fact/child scans (a shuffled year-join or a cartesian here scans
    // or exchanges the fact tables at 100 TB); the FK year-derivation
    // and orphan-audit joins are equi-joins on the key
    val p = plan("y17_fk_consistent_sync")
    // the dirty-set prune specifically: a broadcast SEMI/ANTI on the
    // same operator line, not just any broadcast join somewhere
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        (l.contains("LeftSemi") || l.contains("LeftAnti"))),
      s"dirty-set broadcast prune missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the FK sync:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi fallback join in the FK sync:\n$p")
  }

  test("Y17b: multi-child FK sync keeps the broadcast prunes, no fallback joins") {
    val p = plan("y17b_fk_multi_child")
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
        (l.contains("LeftSemi") || l.contains("LeftAnti"))),
      s"dirty-set broadcast prune missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the multi-child sync:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi fallback join in the multi-child sync:\n$p")
  }

  test("Y23: three-way diff is union + ONE hash-aggregate — no joins at all") {
    // the scale claim: three tagged scans union into a single PK-keyed
    // aggregate; any join here means a per-pair diff crept back in and
    // the shuffle count doubled
    val p = plan("y23_three_way_diff")
    assert(!p.contains("Join"), s"three-way diff must not join:\n$p")
    assert(p.contains("Union"), s"tagged union missing:\n$p")
    assert(p.contains("HashAggregate"), s"keyed aggregate missing:\n$p")
  }

  test("Y20: month-level rescan is semi-join-pruned on the broadcast dirty-year set") {
    // the whole point of hierarchical narrowing: the finer-grain scan
    // must be gated by the ≤|years| level-1 dirty set shipped as a
    // broadcast LeftSemi (at 100 TB with date-partitioned layout this
    // is the join partition pruning hangs off); a shuffled year-join or
    // a non-equi fallback would re-exchange the fact table at full width
    val p = plan("y20_hierarchical_narrow")
    // both substrings must name the SAME operator — a broadcast inner
    // join elsewhere plus a shuffled LeftSemi would pass independent
    // contains() checks while defeating the audit (ADVICE r8)
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      s"broadcast semi-join gate on dirty years missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the narrowing plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"non-equi fallback join in the narrowing plan:\n$p")
    // level 1 is computed once and feeds both level-2 sides via the cache
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
      s"level-1 year plan should be shared (persisted), not recomputed per side:\n$p")
  }

  test("J11b: AQE splits the skewed join partition at runtime — the built-in twin of manual salting") {
    // j11 salts by hand because pre-AQE engines made you; the modern
    // default is to let AQE detect the oversized post-shuffle partition
    // and split it against a replicated slice of the other side. Pin
    // that the machinery actually fires: a 99%-one-key join, thresholds
    // lowered so the test corpus trips them, and the FINAL adaptive
    // plan must carry the skew=true SortMergeJoin marker. Confs are
    // runtime-settable (adaptive.*) and restored afterwards so no other
    // audit inherits them.
    val spark0 = spark
    import spark0.implicits._
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      // both thresholds: the static planner AND AQE's re-plan each have
      // their own broadcast conf, and either one would turn the SMJ into
      // a broadcast join that has no skew problem to split
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 200000)
        .select((when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")))
          .as("k"), col("id").as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, Seq("k"))
      // execute THIS QueryExecution (count()/write() each wrap the query
      // in a NEW plan and would leave joined's own adaptive plan
      // unfinalized); toRdd is the physical RDD of exactly this plan
      val qe = joined.queryExecution
      assert(qe.toRdd.count() > 0)
      val p = qe.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"adaptive plan not finalized:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected SMJ under AQE:\n$p")
      assert(p.contains("skew=true"),
        s"AQE did not mark/split the skewed partition:\n$p")
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("S16 bucketed join: SortMergeJoin with ZERO Exchange on either side") {
    // the whole point of bucketBy: both sides pre-hashed on the join key
    // at write time, so the join plans no shuffle at all — bucket i
    // merges against bucket i straight off the scans
    SparkEntry.queries("s16_bucketed_join")(spark, sf).collect() // builds tables
    val p = spark.table("graft_s16_lineitem").hint("merge")
      .join(spark.table("graft_s16_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"bucketed join must be a merge join:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed co-located join must plan NO shuffle:\n$p")
    // and the bucket metadata actually drove the scan
    assert(p.contains("SelectedBucketsCount"),
      s"scan did not use the bucketed layout:\n$p")
    spark.catalog.clearCache()
  }

  test("S15 z-order layout: BOTH dimensions prune; 1-D sort leaves its off-dimension unpruned") {
    // The multi-dimensional successor to S14's lever: a user-major sort
    // gives user predicates perfect file locality and day predicates
    // NONE; z-ordering (user, day) — both scaled to the full 8-bit
    // range first, the step naive implementations skip — makes every
    // file cover a small rectangle, so min/max stats prune on EITHER
    // column. Measured through the scan's own numOutputRows.
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val b = ev.agg(min("user_id"), max("user_id"),
      min(to_date(col("ts"))), max(to_date(col("ts")))).collect()(0)
    val (ulo, uhi) = (b.getLong(0), b.getLong(1))
    val dlo = b.getDate(2)
    val span = datediff(to_date(col("ts")), lit(dlo))
    val dspan = math.max(b.getDate(3).toLocalDate.toEpochDay -
      dlo.toLocalDate.toEpochDay, 1L)
    val u8 = (col("user_id") - ulo) * 255 / math.max(uhi - ulo, 1L)
    val d8 = span * 255 / dspan
    val z = Sources.zValue(u8.cast("long"), d8.cast("long"), 8)
    val zdir = java.nio.file.Files.createTempDirectory("s15z").toString
    val ldir = java.nio.file.Files.createTempDirectory("s15l").toString
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS") // INT96 carries no stats (S14)
    try {
      ev.withColumn("__z", z).repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z").drop("__z")
        .write.mode("overwrite").parquet(zdir)
      ev.repartitionByRange(16, col("user_id"), col("ts"))
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite").parquet(ldir)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    val midUser = (ulo + uhi) / 2
    val day0 = lit("2024-01-15").cast("timestamp")
    val day1 = lit("2024-01-16").cast("timestamp")
    def scanRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(pred)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val total = ev.count()
    val pUser = col("user_id") === midUser
    val pDay = col("ts") >= day0 && col("ts") < day1
    val (zU, zD) = (scanRows(zdir, pUser), scanRows(zdir, pDay))
    val (lU, lD) = (scanRows(ldir, pUser), scanRows(ldir, pDay))
    info(s"total=$total zUser=$zU zDay=$zD linUser=$lU linDay=$lD")
    // correctness is layout-independent
    assert(spark.read.parquet(zdir).filter(pUser).count() ==
      spark.read.parquet(ldir).filter(pUser).count())
    // the 1-D layout: perfect on its own dimension, blind on the other
    assert(lU.toDouble <= total * 0.35, s"user-major lost user pruning: $lU/$total")
    assert(lD.toDouble >= total * 0.9, s"1-D layout unexpectedly pruned days: $lD/$total")
    // z-order: BOTH dimensions prune
    assert(zU.toDouble <= total * 0.6, s"z-order failed to prune users: $zU/$total")
    assert(zD.toDouble <= total * 0.6, s"z-order failed to prune days: $zD/$total")
    assert(zD < lD, "z-order must beat the 1-D layout on the off-dimension")
  }

  test("Y39×S15: z-keyed compaction preserves BOTH pruning dimensions through the rewrite") {
    // the silent scale regression this pins: compaction that re-sorts
    // merged files by anything other than the table's clustering key
    // destroys the layout the readers depend on. Recipe under audit:
    // publish with a MATERIALIZED z-value column, key the manifest (and
    // the compactor) on it — bin-packing by z-kmin keeps merged files
    // z-contiguous, so small (user, day) rectangles survive the merge.
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "value")
    val b = ev.agg(min("user_id"), max("user_id"),
      min(to_date(col("ts"))), max(to_date(col("ts")))).collect()(0)
    val (ulo, uhi) = (b.getLong(0), b.getLong(1))
    val dlo = b.getDate(2)
    val dspan = math.max(b.getDate(3).toLocalDate.toEpochDay -
      dlo.toLocalDate.toEpochDay, 1L)
    val u8 = (col("user_id") - ulo) * 255 / math.max(uhi - ulo, 1L)
    val d8 = datediff(to_date(col("ts")), lit(dlo)) * 255 / dspan
    val z = Sources.zValue(u8.cast("long"), d8.cast("long"), 8)
    val root = java.nio.file.Files.createTempDirectory("graft_zcomp")
      .toString + "/t"
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS") // INT96 carries no stats
    val rep = try {
      assert(Sync.publish(spark, ev.withColumn("zval", z)
        .repartitionByRange(24, col("zval")).sortWithinPartitions("zval"),
        root, 1, _.head(1).nonEmpty))
      Sync.writeFileStats(spark, s"$root/v1", "zval")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val totalBytes = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/v1")).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
      // target ≈ an eighth of the table: 24 fragments merge into ~8
      // files, each a narrow z range (= a small rectangle) — coarse
      // enough to prove real merging, fine enough that point filters
      // still exclude most files
      Sync.compactPublished(spark, root, 1, 2, "zval", totalBytes / 8)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    assert(rep.published && rep.nFilesRewritten >= 4,
      s"compaction did not actually merge fragments: $rep")
    def scanRows(pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(s"$root/v2").filter(pred)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val total = ev.count()
    val pUser = col("user_id") === (ulo + uhi) / 2
    val pDay = col("ts") >= lit("2024-01-15").cast("timestamp") &&
      col("ts") < lit("2024-01-16").cast("timestamp")
    val (zU, zD) = (scanRows(pUser), scanRows(pDay))
    info(s"total=$total compactedUser=$zU compactedDay=$zD")
    // ~8 files each fixing z-bits ≥13 (d7,u7,d6): a point user filter
    // excludes the wrong u7 half (~0.5), a day band fixes d7+d6
    // (~0.25); "destroyed" would read ~1.0 on both
    assert(zU.toDouble <= total * 0.7,
      s"compaction destroyed user pruning: $zU/$total")
    assert(zD.toDouble <= total * 0.6,
      s"compaction destroyed day pruning: $zD/$total")
    // and correctness survived the layout surgery
    assert(spark.read.parquet(s"$root/v2").count() == total)
  }

  test("Y25: time travel is ONE log window + a broadcast cuts join (no per-cut rescans)") {
    val p = plan("y25_time_travel")
    // one interval window per pk (the single full-log pass)...
    assert("WindowExec|Window ".r.findAllIn(p).length >= 1 &&
      p.split('\n').count(_.trim.startsWith("+- Window")) +
        p.split('\n').count(_.trim.startsWith(":- Window")) <= 1,
      s"expected exactly one Window pass over the log:\n$p")
    // ...fanned to cuts by a broadcast nested-loop with the ≤4-row side
    // BUILT, never the log side
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BuildRight"),
      s"cuts side must broadcast:\n$p")
    // rollup is the two-phase hash aggregate
    assert(p.contains("HashAggregate"), s"per-cut rollup fell off hash-agg:\n$p")
  }

  test("Y26: consistent cut broadcasts strategy rows; audit is one FK equi-join") {
    val p = plan("y26_consistent_cut")
    // the 2-row strategies side rides BroadcastExchange into both count
    // arms; the child→parent audit is a broadcast hash EQUI-join (no
    // cartesian against the fact-sized sides)
    assert(p.linesIterator.exists(l => l.contains("BroadcastNestedLoopJoin") &&
      l.contains("BuildRight") && l.contains("Cross")),
      s"strategy rows must broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("Inner")), s"FK audit must stay an equi-join:\n$p")
  }

  test("L4f: PQ codes assign with no exchange before the shortlist agg; re-rank joins broadcast") {
    val p = plan("l4f_pq_ann")
    // code assignment + ADC scoring happen before the FIRST exchange:
    // the only corpus-sized exchange is the TopK partial/final boundary
    val firstAgg = p.indexOf("ObjectHashAggregate")
    assert(firstAgg >= 0, s"shortlist TopK must be a partial/final agg:\n$p")
    // queries and shortlist both broadcast; the corpus is never the
    // build side of any join
    assert(!p.contains("SortMergeJoin"),
      s"PQ search must not shuffle the corpus into a join:\n$p")
    assert("BroadcastExchange".r.findAllIn(p).length >= 2,
      s"queries + shortlist must both broadcast:\n$p")
  }

  test("S14 range-clustered layout: parquet min/max pruning cuts the scan, random layout doesn't") {
    // THE data-layout lever at 100 TB: the same rows, the same filter,
    // 10-100x less IO purely from write-time clustering. Range-partition
    // + sort by the filter column makes every file/row-group cover a
    // narrow value span, so parquet footer min/max stats let the scan
    // skip non-matching row groups entirely; a hash-shuffled layout
    // spreads every value span across every file and nothing skips.
    // Pinned via the scan operator's own numOutputRows metric.
    val base = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val clustered = java.nio.file.Files.createTempDirectory("s14c").toString
    val random = java.nio.file.Files.createTempDirectory("s14r").toString
    // Spark's DEFAULT parquet timestamp encoding is INT96, which carries
    // no pushdown-usable min/max — clustering by a timestamp is WASTED
    // IO-wise unless the writer emits INT64 micros. Part of the lesson
    // this test pins (verified: with INT96 the clustered scan emits all
    // rows).
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      base.repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(clustered)
      base.repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(random)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    val cutoff = lit("1996-06-01").cast("timestamp")
    def scanRows(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("l_shipdate") < cutoff)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val matching = base.filter(col("l_shipdate") < cutoff).count()
    val (cl, rn) = (scanRows(clustered), scanRows(random))
    val total = base.count()
    // both layouts return identical results; only the IO differs
    assert(cl >= matching && rn >= matching)
    assert(rn.toDouble >= total * 0.9,
      s"random layout unexpectedly pruned ($rn of $total) — stats too fine?")
    assert(cl.toDouble <= total * 0.7,
      s"clustered layout pruned nothing: scan emitted $cl of $total " +
        s"(matching $matching) — min/max skipping regressed")
  }

  test("CBO: ANALYZE-driven stats reorder the 3-table join; without them the order stays syntactic") {
    // the one Catalyst subsystem the suite never exercised: y13 computes
    // exactly these statistics, ANALYZE TABLE is the catalog-injection
    // path, and CostBasedJoinReorder is the consumer. The query joins
    // the big fact FIRST syntactically; with column stats + CBO the
    // optimizer must defer it behind the selective orders⋈customer join
    // (customer filtered to a handful of keys), because (l⋈o) is
    // fact-sized while (o⋈σc) is tiny.
    for (t <- Seq("lineitem", "orders", "customer")) {
      spark.sql(s"DROP TABLE IF EXISTS graft_cbo_$t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"graft_cbo_$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .write.format("parquet").saveAsTable("graft_cbo_lineitem")
    Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .write.format("parquet").saveAsTable("graft_cbo_orders")
    Tables.customer(spark, sf).select("c_custkey", "c_name")
      .write.format("parquet").saveAsTable("graft_cbo_customer")
    spark.sql("ANALYZE TABLE graft_cbo_lineitem COMPUTE STATISTICS " +
      "FOR COLUMNS l_orderkey")
    spark.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS " +
      "FOR COLUMNS o_orderkey, o_custkey")
    spark.sql("ANALYZE TABLE graft_cbo_customer COMPUTE STATISTICS " +
      "FOR COLUMNS c_custkey")
    val q =
      """SELECT c.c_custkey, COUNT(*) AS n, SUM(l.l_extendedprice) AS s
        |FROM graft_cbo_lineitem l
        |JOIN graft_cbo_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_cbo_customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey < 10
        |GROUP BY c.c_custkey""".stripMargin
    def leafOrder(cbo: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
      try {
        spark.sql(q).queryExecution.optimizedPlan.collectLeaves().flatMap {
          l =>
            val id = l match {
              case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                lr.catalogTable.map(_.identifier.table).getOrElse(lr.toString)
              case o => o.toString
            }
            Seq("lineitem", "orders", "customer")
              .filter(n => id.contains(s"cbo_$n"))
        }.toSeq
      } finally {
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      }
    }
    val syntactic = leafOrder(cbo = false)
    assert(syntactic == Seq("lineitem", "orders", "customer"),
      s"without CBO the join order must stay syntactic: $syntactic")
    val reordered = leafOrder(cbo = true)
    assert(reordered.toSet == syntactic.toSet && reordered.last == "lineitem",
      s"CBO+stats did not defer the fact table to the top join: $reordered")
    // and the stats the reorder consumed are genuinely in the catalog
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.table("graft_cbo_orders")
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.exists(_.toLong > 0L),
        "ANALYZE did not surface a rowCount to the optimizer")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
    // results are order-invariant — same rows with and without CBO
    val a = spark.sql(q).collect().map(_.toString).sorted
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val b = try spark.sql(q).collect().map(_.toString).sorted
      finally {
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      }
    assert(a.sameElements(b), "join reorder changed the result")
  }

  test("S18: parquet bloom filters skip row groups on point lookups where min/max and dictionaries can't") {
    // the point-probe complement to S14's min/max pruning, serving the
    // sync diff's key-lookup side EXACTLY: the table is clustered by
    // DATE (the natural warehouse layout), the probe is by PRIMARY KEY
    // — orderkeys are assigned independently of dates, so every row
    // group's [min,max] orderkey span covers ~the whole domain and
    // stats prune nothing, while the key's uniqueness means exactly one
    // group truly contains it. Dictionary filtering is disabled on BOTH
    // twins because that is the honest 100 TB shape: a high-cardinality
    // key's dictionary page overflows parquet's 1 MB cap and silently
    // falls back to plain encoding, taking dictionary row-group
    // filtering with it — bloom filters are THE point-lookup index that
    // survives at scale.
    val base = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val writer = base.repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    val bloomDir = java.nio.file.Files.createTempDirectory("s18b").toString
    val plainDir = java.nio.file.Files.createTempDirectory("s18p").toString
    writer.write.option("parquet.enable.dictionary", "false")
      .option("parquet.bloom.filter.enabled#o_orderkey", "true")
      .mode("overwrite").parquet(bloomDir)
    writer.write.option("parquet.enable.dictionary", "false")
      .mode("overwrite").parquet(plainDir)
    // probe a MID-RANGE key: it sits inside every group's [min,max]
    // span (a min/max-extreme key would let plain stats prune the other
    // groups and contaminate the contrast); only bloom can say
    // "definitely absent" for the three groups that lack the row
    // (false-positive rate ~1% doesn't move the 0.7 assertion band)
    val b = base.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    val probe = base.filter(col("o_orderkey") <= mid)
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    def scan(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(col("o_orderkey") === probe)
      val n = df.count()
      df.collect()
      val rows = df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
      (n, rows)
    }
    val (nb, bloomRows) = scan(bloomDir)
    val (np, plainRows) = scan(plainDir)
    assert(nb == 1L && np == 1L, "twins disagree on the lookup result")
    val total = base.count()
    assert(plainRows.toDouble >= total * 0.9,
      s"bloomless twin pruned ($plainRows of $total) — the contrast " +
        "is not measuring bloom filters")
    assert(bloomRows.toDouble <= plainRows * 0.7,
      s"bloom scan emitted $bloomRows of $plainRows — row-group " +
        "bloom skipping regressed")
  }
}
