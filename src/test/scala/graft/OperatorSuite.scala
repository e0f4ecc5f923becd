package graft

import graft.ops._
import graft.functions.VectorMean
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Hand-computed unit checks for the trickiest batch operators (SURVEY §5.2)
  * — semantics the DuckDB oracle exercises only statistically.
  */
class OperatorSuite extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("J8 as-of join: equal-timestamp view counts; no-view purchase gets null") {
    val spark0 = spark
    import spark0.implicits._
    val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(min: Int) = new Timestamp(T0 + min * 60000L)
    val ev = Seq(
      (1L, t(10), 5L, "view", 0.0),
      (2L, t(20), 5L, "purchase", 1.0),  // asof view = t(10)
      (3L, t(20), 6L, "view", 0.0),
      (4L, t(20), 6L, "purchase", 1.0),  // tie: view at same ts counts
      (5L, t(30), 7L, "purchase", 1.0)   // user 7 has no view → null
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.createOrReplaceTempView("__asof_ev")
    // reuse the production query shape against a temp events frame
    val out = {
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
                lit(null).cast("long").as("p_event"), col("ts").as("view_ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
                col("event_id").as("p_event"), lit(null).cast("timestamp").as("view_ts"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("p_event").asc_nulls_first)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      views.unionByName(purch)
        .withColumn("asof_view_ts", max(col("view_ts")).over(w))
        .filter(col("kind") === 1)
        .select(col("p_event").as("event_id"), col("asof_view_ts"))
    }.collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    assert(out(2L).contains(t(10)))
    assert(out(4L).contains(t(20)))   // same-µs view included (<=)
    assert(out(5L).isEmpty)
  }

  test("J8b as-of directions: equal-ts view is backward's; nearest ties break backward") {
    val spark0 = spark
    import spark0.implicits._
    val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(min: Int) = new Timestamp(T0 + min * 60000L)
    // unique dir per run: Tables caches the per-path logical plan, so an
    // overwritten fixed path would serve a stale file listing (the
    // documented staged-path caveat in Tables' cache comment)
    val dir = java.nio.file.Files.createTempDirectory("graft_j8b").toString
    Seq(
      (1L, t(10), 5L, "view", 0.0),
      (2L, t(20), 5L, "purchase", 1.0),  // back=t(10), fwd=t(30)
      (3L, t(30), 5L, "view", 0.0),
      (4L, t(30), 6L, "view", 0.0),
      (5L, t(30), 6L, "purchase", 1.0),  // equal ts: back=t(30), fwd=t(50)
      (6L, t(50), 6L, "view", 0.0),
      (7L, t(40), 7L, "purchase", 1.0),  // no views at all → all null
      (8L, t(10), 8L, "view", 0.0),
      (9L, t(20), 8L, "purchase", 1.0),  // equidistant t(10)/t(30):
      (10L, t(30), 8L, "view", 0.0)      //   nearest ties BACKWARD
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("j8b_asof_directions")(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    def ts3(r: org.apache.spark.sql.Row, c: String) =
      Option(r.getAs[Timestamp](c)).map(_.getTime)
    assert(ts3(out(2L), "asof_back") == Some(t(10).getTime))
    assert(ts3(out(2L), "asof_fwd") == Some(t(30).getTime))
    assert(ts3(out(2L), "asof_nearest") == Some(t(10).getTime)) // tie → back
    // equal-ts view belongs to BACKWARD, not forward
    assert(ts3(out(5L), "asof_back") == Some(t(30).getTime))
    assert(ts3(out(5L), "asof_fwd") == Some(t(50).getTime))
    // no views: every direction null
    assert(ts3(out(7L), "asof_back").isEmpty &&
      ts3(out(7L), "asof_fwd").isEmpty && ts3(out(7L), "asof_nearest").isEmpty)
    // exact equidistance ties backward
    assert(ts3(out(9L), "asof_nearest") == Some(t(10).getTime))
  }

  test("W7/W7b session boundary semantics: exact-gap and sub-second cases split as documented") {
    val spark0 = spark
    import spark0.implicits._
    val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // user 1: gap EXACTLY 30 min → BOTH merge (session_window's end is
    //   inclusive — measured; w7's truncated-seconds `> 1800` also merges)
    // user 2: gap 30 min + 1 µs → session_window splits (µs precision),
    //   w7 still merges (second truncation reads 1800)
    // user 3: gap 30 min + 1 s → both split
    val gapMs = 30 * 60 * 1000L
    def tsAt(ms: Long, us: Int = 0) = {
      val t = new Timestamp(ms)
      t.setNanos(((ms % 1000) * 1000000L + us * 1000L).toInt)
      t
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_w7b").toString
    Seq(
      (1L, tsAt(T0), 1L, "view", 1.0), (2L, tsAt(T0 + gapMs), 1L, "view", 1.0),
      (3L, tsAt(T0), 2L, "view", 1.0), (4L, tsAt(T0 + gapMs, 1), 2L, "view", 1.0),
      (5L, tsAt(T0), 3L, "view", 1.0), (6L, tsAt(T0 + gapMs + 1000), 3L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    def sessions(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length).toMap
    assert(sessions("w7_sessionize") == Map(1L -> 1, 2L -> 1, 3L -> 2),
      "w7 (truncated-seconds, strictly-greater) must merge users 1 and 2")
    assert(sessions("w7b_session_window") == Map(1L -> 1, 2L -> 2, 3L -> 2),
      "session_window (µs, inclusive end) must merge 1, split 2 and 3")
    // away from the boundary the two operators agree on the REAL corpus
    val a = SparkEntry.queries("w7_sessionize")(spark, sf).count()
    val b = SparkEntry.queries("w7b_session_window")(spark, sf).count()
    assert(a == b, s"corpus session counts diverged off-boundary: $a vs $b")
  }

  test("L19 drift monitor: PSI non-negative, near zero on identical mixes, fires on planted drift") {
    val spark0 = spark
    import spark0.implicits._
    def write(rows: Seq[(Long, String, String, String, Long)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_l19").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    def psis(dir: String) = SparkEntry.queries("l19_drift_monitor")(spark, dir)
      .collect().map(r => r.getAs[String]("feature") ->
        (r.getAs[Double]("psi"), r.getAs[Boolean]("drifted"))).toMap
    // identical mixes: lang cycles independently of the %3 side split
    val stable = write((0L until 600L).map(i =>
      (i, "t", s"l${(i / 3) % 4}", s"s${(i / 3) % 5}", 100L)))
    val ps = psis(stable)
    for ((f, (p, d)) <- ps) {
      assert(p >= 0.0, s"$f: PSI must be non-negative, got $p")
      assert(p < 0.05 && !d, s"$f: identical mixes must not drift ($p)")
    }
    // planted drift: the arriving side speaks a language the standing
    // corpus has never seen
    val drifted = write((0L until 600L).map(i =>
      (i, "t", if (i % 3 == 0) "zz" else s"l${(i / 3) % 4}",
        s"s${(i / 3) % 5}", 100L)))
    val pd = psis(drifted)
    assert(pd("lang")._1 > 0.2 && pd("lang")._2,
      s"planted lang drift must fire: ${pd("lang")}")
    assert(!pd("source")._2, "undrifted features must stay quiet")
  }

  test("Y31 collation diff: class partition conserves both sides; CI suppresses only CASE_ONLY") {
    val out = SparkEntry.queries("y31_collation_drift")(spark, sf)
      .collect().map(r => r.getAs[String]("op_class") -> r).toMap
    assert(out.keySet == Set("I", "D", "S", "CASE_ONLY", "U"),
      s"all five classes must be populated: ${out.keySet}")
    def n(c: String) = out(c).getAs[Long]("n")
    // conservation: every target key classifies exactly once, ditto source
    val nTarget = Tables.orders(spark, sf).count()
    val nSource = Sync.sourceView(spark, sf).count()
    assert(n("D") + n("S") + n("CASE_ONLY") + n("U") == nTarget)
    assert(n("I") + n("S") + n("CASE_ONLY") + n("U") == nSource)
    // policy semantics: CI ships strictly less, the difference is exactly
    // the CASE_ONLY population
    val ciShips = out.values.filter(_.getAs[Boolean]("ships_under_ci"))
      .map(_.getAs[Long]("n")).sum
    val csShips = out.values.filter(_.getAs[Boolean]("ships_under_cs"))
      .map(_.getAs[Long]("n")).sum
    assert(csShips - ciShips == n("CASE_ONLY"))
    assert(!out("S").getAs[Boolean]("ships_under_cs"), "SAME never ships")
  }

  test("Y30 Quality: violation arithmetic exact on a planted frame; null FK keys exempt") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, Option(10L), Option("A"), Option(5.0)),
      (2L, Option(10L), Option("B"), Option(50.0)),   // x out of range
      (2L, Option(99L), None, Option(5.0)),           // dup id, null s, k∉dim
      (3L, None, Option("C"), None)                   // null k (FK-exempt), s∉set, null x
    ).toDF("id", "k", "s", "x")
    val dim = Seq(10L, 20L).toDF("dk")
    val out = Quality.audit(df, Seq(
      Quality.NotNull("s"),
      Quality.Unique("id"),
      Quality.InSet("s", Seq("A", "B")),
      Quality.InRange("x", 0, 10),
      Quality.FkExists("k", dim, "dk")))
      .collect().map(r => r.getAs[String]("constraint") ->
        (r.getAs[Long]("violations"), r.getAs[Boolean]("pass"))).toMap
    assert(out("not_null(s)") == (1L, false))
    assert(out("unique(id)") == (1L, false), "dup pair = ONE surplus row")
    assert(out("in_set(s)") == (2L, false), "null AND off-set value both violate")
    assert(out("in_range(x)") == (2L, false), "out-of-range AND null violate")
    assert(out("fk_exists(k)") == (1L, false),
      "null keys are FK-EXEMPT (SQL FK semantics); only 99 violates")
    // a clean suite on the same frame passes everything
    val clean = Quality.audit(df, Seq(Quality.NotNull("id"),
      Quality.InRange("x", 0, 100))).collect()
    assert(clean.count(_.getAs[Boolean]("pass")) == 1,
      "null x still violates the range check") // NotNull(id) passes only
    assert(clean.find(_.getAs[String]("constraint") == "not_null(id)")
      .get.getAs[Boolean]("pass"))
  }

  test("Y29 seam law: snapshot-aligned and overlapped cursors land on replay; a gap loses data") {
    val rows = SparkEntry.queries("y29_bootstrap_seam")(spark, sf)
      .collect().map(r => r.getAs[String]("variant") -> r).toMap
    assert(rows("cursor_at_snapshot").getAs[Boolean]("matches_full"))
    assert(rows("cursor_overlaps").getAs[Boolean]("matches_full"),
      "an overlapped cursor must be harmless under latest-wins apply")
    assert(rows("cursor_overlaps").getAs[Long]("n_stale") == 0L)
    val gap = rows("cursor_gapped")
    assert(!gap.getAs[Boolean]("matches_full") &&
      gap.getAs[Long]("n_stale") > 0L,
      "a gapped cursor must be OBSERVED losing the in-between changes")
    // the loss is real rows, not just digest noise
    assert(gap.getAs[Long]("n_state") < gap.getAs[Long]("n_full"))
  }

  test("Y3/Y5 sync round-trip law: apply(diff ops onto target) reproduces source") {
    val s = spark
    val tgt = Tables.orders(s, sf)
    val src = Sync.sourceView(s, sf)
    // upsert (I+U) then remove D-keys — full apply must equal source
    val diff = Sync.queries("y3_snapshot_diff")(s, sf)
    val dKeys = diff.filter(col("op") === "D").select(col("o_orderkey"))
    val merged = Sync.queries("y5_upsert_merge")(s, sf)
      .join(dKeys, Seq("o_orderkey"), "left_anti")
    val srcProj = src.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("o_totalprice"))
    assert(merged.exceptAll(srcProj).count() == 0)
    assert(srcProj.exceptAll(merged).count() == 0)
  }

  test("Y3 diff of a table with itself is all-SAME") {
    val s = spark
    val o = Tables.orders(s, sf).limit(200)
    val h = md5(concat_ws("|", col("o_orderkey"), col("o_custkey")))
    val a = o.select(col("o_orderkey").as("k1"), h.as("h1"))
    val b = o.select(col("o_orderkey").as("k2"), h.as("h2"))
    val diff = a.join(b, col("k1") === col("k2"), "full_outer")
      .select(when(col("k2").isNull, "D").when(col("k1").isNull, "I")
        .when(col("h1") =!= col("h2"), "U").otherwise("S").as("op"))
    assert(diff.filter(col("op") =!= "S").count() == 0)
  }

  test("L3 cosine: identical vectors score 1, orthogonal 0") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, Seq(1f, 0f), 10L, Seq(1f, 0f)),   // cos 1
      (2L, Seq(1f, 0f), 20L, Seq(0f, 1f)),   // cos 0
      (3L, Seq(1f, 1f), 30L, Seq(1f, 0f))    // cos 1/sqrt(2)
    ).toDF("qid", "qv0", "cid", "cv0")
      .select(col("qid"), col("cid"),
        transform(col("qv0"), _.cast("double")).as("qv"),
        transform(col("cv0"), _.cast("double")).as("cv"))
    def dot(a: String, b: String) =
      aggregate(zip_with(col(a), col(b), (x, y) => x * y), lit(0d), (acc, x) => acc + x)
    val cos = df.select(col("qid"),
      (dot("qv", "cv") / (sqrt(dot("qv", "qv")) * sqrt(dot("cv", "cv")))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-12)
    assert(math.abs(cos(2L)) < 1e-12)
    assert(math.abs(cos(3L) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("L2b minhash: identical docs collide in every band bucket") {
    val spark0 = spark
    import spark0.implicits._
    // two identical + one different doc through the production pipeline
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text with other words entirely here now"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("t_l2b")
    val toks = filter(split(lower(col("text")), " +"), t => t =!= "")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("p")
    val P = LlmPipeline.MinHashP
    val sig = docs.select(col("doc_id"), posexplode(toks))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      .select(col("doc_id"), concat_ws(" ", col("tok"),
        lead("tok", 1).over(w), lead("tok", 2).over(w)).as("sh"))
      .select(col("doc_id"),
        (conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long") % P).as("h"))
      .groupBy("doc_id")
      .agg(min((col("h") * LlmPipeline.minHashA(0) + LlmPipeline.minHashB(0)) % P).as("m0"),
           min((col("h") * LlmPipeline.minHashA(1) + LlmPipeline.minHashB(1)) % P).as("m1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sig(1L) == sig(2L))     // identical docs → identical signature
    assert(sig(1L) != sig(3L))     // different doc → different signature
  }

  test("X3 VectorMean UDAF matches posexplode centroid") {
    val spark0 = spark
    import spark0.implicits._
    val vmean = udaf(VectorMean)
    val emb = Tables.embeddings(spark, sf)
    val viaUdaf = emb.groupBy("label")
      .agg(vmean(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val viaExplode = emb.select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos").agg(avg(col("col").cast("double")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(viaUdaf.keySet == viaExplode.keySet)
    viaUdaf.foreach { case (k, v) => assert(math.abs(v - viaExplode(k)) < 1e-9) }
  }

  test("L2c simhash: identical docs collide at hamming 0 through the full query") {
    val out = graft.ops.LlmPipeline.queries("l2c_simhash")(spark, sf).collect()(0)
    // sf0.001 corpus has verbatim-duplicate token streams → pairs exist
    assert(out.getAs[Long]("n_neardup_pairs") > 0)
    assert(out.getAs[Int]("min_hamming") >= 0)
  }

  test("L4b IVF ANN: one match per query, never better than brute force") {
    val spark0 = spark
    import spark0.implicits._
    graft.functions.CosineSim.register(spark)
    val ivf = graft.ops.LlmPipeline.queries("l4b_ivf_ann")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ivf.size == 8 && ivf.keySet == (16L until 24L).toSet)
    // brute-force best per query bounds the IVF result from above
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") >= 16 && col("vec_id") < 24)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val best = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), expr("cosine_sim(qv, embedding)").as("c"))
      .groupBy("qid").agg(max("c").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { case (k, v) =>
      assert(v <= best(k) + 1e-6 && v >= -1.0 && v <= 1.0)
    }
  }

  test("L4c/L4d/L4e: probe + training monotonicity of the ANN audit") {
    val row = graft.ops.LlmPipeline.queries("l4d_ann_recall")(spark, sf)
      .collect()(0)
    assert(row.getLong(0) == 8)
    val (r1, r2) = (row.getDouble(1), row.getDouble(2))
    val (t1, t2) = (row.getDouble(3), row.getDouble(4))
    val (qs, qt) = (row.getDouble(5), row.getDouble(6))
    Seq(r1, r2, t1, t2).foreach(r => assert(r >= 0.0 && r <= 1.0))
    // structural: the nprobe=2 candidate set is a superset of nprobe=1's
    // and the brute-force neighbor, once in the set, is its re-rank max
    assert(r2 >= r1, s"probing a 2nd cell lost recall: $r2 < $r1")
    assert(t2 >= t1, s"trained: probing a 2nd cell lost recall: $t2 < $t1")
    // Lloyd's provable effect: quantization quality (mean cosine to the
    // assigned centroid) strictly improves over the seed codebook —
    // recall@1 over 8 queries of a near-isotropic synthetic corpus is
    // sampling noise, so the QUALITY metric is what training is held to
    // (see l4d's comment); at THIS sf the trained recalls also happen to
    // dominate the seed's deterministically, so pin that too
    assert(qt > qs, s"Lloyd training did not improve quantization: $qt <= $qs")
    assert(t1 >= r1 && t2 >= r2,
      s"trained recall fell below seed at sf0.001: ($t1,$t2) vs ($r1,$r2)")
    // the trained search itself: one match per query, bounded cos
    val ivfT = graft.ops.LlmPipeline.queries("l4e_ivf_lloyd")(spark, sf)
      .collect()
    assert(ivfT.map(_.getLong(0)).toSet == (16L until 24L).toSet)
    ivfT.foreach(r => assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
    // the multi-probe result itself: one match per query, bounded cos
    val ivf2 = graft.ops.LlmPipeline.queries("l4c_ivf_multiprobe")(spark, sf)
      .collect()
    assert(ivf2.map(_.getLong(0)).toSet == (16L until 24L).toSet)
    ivf2.foreach(r => assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
  }

  test("L4d on a planted-cluster corpus: Lloyd training provably lifts recall@1") {
    // The driver corpus is near-isotropic noise, so l4d's recall@1 is
    // sampling noise there (disclosed in its comment). This fixture
    // plants real cluster structure — 8 orthogonal-direction clusters,
    // 256 vectors — and poisons the seed: vectors 0..15 (the seed
    // codebook) all lie in clusters 0 and 1, so the seed cells slice
    // clusters 2..7 arbitrarily and queries (vec 16..23, planted in
    // clusters 2..7) miss their true neighbors. Two Lloyd iterations
    // move centroids onto the discovered cluster means, so the trained
    // recall must strictly beat the seed recall — training demonstrably
    // pays for itself when there is structure to find.
    val spark0 = spark
    import spark0.implicits._
    val dim = 64
    // deterministic LCG noise, same shape as the library's plane seeds
    var x = 0x2545F4914F6CDD1DL
    def nextNoise(): Float = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 11).toDouble / (1L << 53).toDouble) * 0.3 - 0.15).toFloat
    }
    def member(cluster: Int): Array[Float] = {
      val v = Array.fill(dim)(nextNoise())
      v(cluster) = 1.0f // dominant direction = basis axis `cluster`
      v
    }
    val rows = (0 until 256).map { i =>
      val cluster =
        if (i < 16) i % 2            // seed vectors: clusters 0 and 1 only
        else if (i < 24) 2 + (i - 16) % 6 // queries: clusters 2..7
        else i % 8
      (i.toLong, member(cluster), cluster)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_planted").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.ops.LlmPipeline.queries("l4d_ann_recall")(spark, dir)
      .collect()(0)
    val (seed1, seed2) = (r.getDouble(1), r.getDouble(2))
    val (tr1, tr2) = (r.getDouble(3), r.getDouble(4))
    val (qs, qt) = (r.getDouble(5), r.getDouble(6))
    info(s"seed recall ($seed1, $seed2), trained ($tr1, $tr2), quant $qs -> $qt")
    assert(qt > qs, s"quantization did not improve on clustered data: $qt <= $qs")
    // measured (deterministic): seed (0.375, 0.625) → trained (0.875, 1.0)
    assert(tr1 > seed1 && tr2 > seed2,
      s"Lloyd training failed to lift recall on planted clusters: " +
        s"seed=($seed1, $seed2) trained=($tr1, $tr2)")
    assert(tr2 >= tr1 && seed2 >= seed1, "probe monotonicity broke")
  }

  test("L4f PQ on planted twins: twin shares codes, survives the ADC shortlist, wins re-rank") {
    // The driver corpus is near-isotropic noise (PQ recall@1 there is
    // ~0.5 and data-dependent), so the law runs on a fixture where the
    // right answer is forced: every query vec 16..23 has a planted twin
    // at vec 100+q (query + 1e-3 noise). The twin's sub-vectors
    // quantize to the SAME 4 codes as the query's (perturbation ≪
    // distance to any seed-centroid boundary), its ADC therefore equals
    // the minimum possible for that query, the shortlist must contain
    // it, and the exact re-rank must pick it (cos ≈ 1 vs ≈ 0.3 noise).
    // End-to-end this pins the whole chain: code assignment, ADC
    // lookup, top-8 shortlist, exact re-rank, tie-breaks.
    val spark0 = spark
    import spark0.implicits._
    val dim = 64
    var x = 0x6C8E9CF570932BD5L
    def noise(scale: Double): Float = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 11).toDouble / (1L << 53).toDouble) * scale - scale / 2).toFloat
    }
    val base = (0 until 256).map(i =>
      (i.toLong, Array.fill(dim)(noise(2.0)), i % 8))
    val rows = base.map { case (id, v, lab) =>
      if (id >= 100 && id < 108) // twin of query (id - 84): 16..23
        (id, base(id.toInt - 84)._2.map(f => f + noise(0.002)), lab)
      else (id, v, lab)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pqtwin").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.ops.LlmPipeline.queries("l4f_pq_ann")(spark, dir)
      .collect().sortBy(_.getAs[Long]("qid"))
    assert(out.length == 8)
    for (r <- out) {
      val qid = r.getAs[Long]("qid")
      assert(r.getAs[Long]("match_id") == qid + 84,
        s"query $qid missed its planted twin: got ${r.getAs[Long]("match_id")}")
      assert(r.getAs[Double]("cos") > 0.99,
        s"twin cosine should be ~1, got ${r.getAs[Double]("cos")}")
    }
    // determinism: the whole chain (codes, ADC, shortlist, re-rank) is
    // seed-free arithmetic — a rerun must reproduce bit-identical rows
    val out2 = graft.ops.LlmPipeline.queries("l4f_pq_ann")(spark, dir)
      .collect().sortBy(_.getAs[Long]("qid"))
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq)
  }

  test("L18 bloom: membership guarantee exact, flagged set deterministic across runs/partitionings") {
    // pins the two assumptions the l18 audit rests on: (1) every
    // inserted key answers mightContain=true (the Bloom contract),
    // (2) Spark's BloomFilterImpl is seed-fixed and bit-OR-merged, so
    // the SAME key set gives the SAME filter regardless of run or
    // partitioning — the determinism the oracle's constant verdicts
    // require.
    val spark0 = spark
    import spark0.implicits._
    def build(parts: Int) = (1L to 1000L).toDF("h").repartition(parts)
      .stat.bloomFilter("h", 1000L, 0.03)
    val bf = build(4)
    assert((1L to 1000L).forall(bf.mightContainLong),
      "bloom violated its membership guarantee")
    val probes = (100001L to 110000L)
    val fp = probes.count(bf.mightContainLong)
    assert(fp < 10000 * 0.09 + 5, s"fp rate blew the bound: $fp/10000")
    // determinism: different partitioning, same bits → same verdicts
    val bf2 = build(13)
    assert(probes.forall(h => bf.mightContainLong(h) == bf2.mightContainLong(h)),
      "bloom verdicts depend on partitioning — the audit oracle is unsound")
    // and the scored audit itself holds its contracts with planted dups
    val r = SparkEntry.queries("l18_bloom_dedup")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_true_dups") > 0, "planted dups vanished")
    assert(r.getAs[Boolean]("no_false_negatives"))
    assert(r.getAs[Boolean]("fp_rate_ok"))
  }

  test("A5 approx_count_distinct within rsd of exact") {
    val l = Tables.lineitem(spark, sf)
    val row = l.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("a"),
      countDistinct(col("l_orderkey")).as("e")).collect()(0)
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.1)
  }

  test("F7b native hashes: crc32 matches the standard, xxhash64/murmur3 deterministic") {
    val spark0 = spark
    import spark0.implicits._
    val r = Seq("graft").toDF("s")
      .select(xxhash64(col("s")), hash(col("s")), crc32(col("s").cast("binary")))
      .collect()(0)
    assert(r.getLong(2) == 31255620L) // zlib.crc32(b"graft")
    val r2 = Seq("graft").toDF("s")
      .select(xxhash64(col("s")), hash(col("s"))).collect()(0)
    assert(r.getLong(0) == r2.getLong(0) && r.getInt(1) == r2.getInt(1))
  }

  test("L8 connected components: chain merges transitively, clique and isolate stay apart") {
    val spark0 = spark
    import spark0.implicits._
    // path 1-2-3-4-5 (diameter 4: exercises >1 propagation round),
    // triangle 10-11-12, disjoint pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("u", "v")
    val comp = LlmPipeline.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert((10L to 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 10)
  }

  test("L8 dup groups: every group is labeled by its own minimum member") {
    val rows = SparkEntry.queries("l8_dup_groups")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val byGroup = rows.groupBy(_.getLong(1))
    byGroup.foreach { case (g, members) =>
      assert(members.map(_.getLong(0)).min == g, s"group $g not labeled by min member")
      assert(members.forall(_.getLong(2) == members.length),
        s"comp_size mismatch in group $g")
      assert(members.length >= 2, s"singleton group $g should not appear")
    }
  }

  test("L5h chunking: stride-24/size-32 windows cover every token exactly") {
    val rows = SparkEntry.queries("l5h_chunk")(spark, "/root/testdata/sf0.001")
      .collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (_, chunks) =>
      val sorted = chunks.sortBy(_.getLong(1))
      // chunk starts advance by the stride; every chunk ≤ window size and
      // non-empty; the last chunk ends exactly at the doc's last token
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getLong(1) == i)
        assert(c.getInt(2) > 0 && c.getInt(2) <= 32)
      }
      // every chunk before the last is a full window, and consecutive
      // chunks agree on their 8-token (32-24) overlap — a stride or
      // slice-offset bug breaks this even when counts stay right
      sorted.init.foreach(c => assert(c.getInt(2) == 32))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val at = a.getString(3).split(" ")
          val bt = b.getString(3).split(" ")
          assert(at.drop(24).sameElements(bt.take(at.length - 24)),
            s"overlap mismatch between chunks ${a.getLong(1)} and ${b.getLong(1)}")
        case _ => ()
      }
    }
  }

  test("L5i packing: bins stay under budget and are contiguous per lang") {
    val rows = SparkEntry.queries("l5i_pack")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(3), r.getInt(2)))
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val byPack = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
      // exclusive cumsum packing: a pack overflows only by its last doc,
      // so every pack's starting offset is < budget → sum < budget + max doc
      val maxDoc = docs.map(_._3).max
      byPack.foreach { case (p, tot) =>
        assert(tot < 2048 + maxDoc, s"pack $p holds $tot tokens")
      }
      val ids = byPack.keys.toSeq.sorted
      assert(ids == (ids.min to ids.max), "pack ids not contiguous")
    }
  }

  test("L9 quantization: codes bounded by ±127 and error within half a step") {
    val rows = SparkEntry.queries("l9_quantize")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getString(2).split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // max reconstruction error ≤ half a quantization step (+6dp rounding)
      assert(r.getDouble(3) <= scale / 254.0 + 1e-6,
        s"vec ${r.getLong(0)} err ${r.getDouble(3)} > half-step")
    }
  }

  test("S13 compaction collapses the file count losslessly") {
    val before = Tables.orders(spark, sf).count()
    val agg = SparkEntry.queries("s13_compaction")(spark, sf).collect()(0)
    assert(agg.getLong(0) == before) // lossless rewrite
    def parts(sub: String) = new java.io.File(Sources.stage(sub))
      .listFiles().count(f => f.getName.startsWith("part-"))
    // not == 64: Spark writes no file for an empty shuffle partition, so
    // at a smaller gate scale repartition(64) can legally yield fewer
    val nFrag = parts("orders_fragmented")
    val nComp = parts("orders_compacted")
    assert(nFrag >= 16, s"fragmented stage only produced $nFrag files")
    assert(nComp <= 4 && nComp < nFrag,
      s"compaction left $nComp files (from $nFrag)")
  }

  test("*_sampled queries are exactly the documented probe slice of the full form") {
    // The monitoring variants are first-class oracle-checked queries (no
    // bench-only flag since r6); pin that each is precisely the id_a
    // slice of its full query so the slice can't silently drift.
    def rows(name: String) = graft.ops.LlmPipeline.queries
      .getOrElse(name, graft.ops.Relational.queries(name))(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(rows("l2a_sampled") ==
      rows("l2a_shingle_jaccard").filter(_.head.asInstanceOf[Long] % 10 == 0))
    assert(rows("l2d_sampled") ==
      rows("l2d_ngram_jaccard").filter(_.head.asInstanceOf[Long] % 10 == 0))
    assert(rows("j10_sampled") ==
      rows("j10_fuzzy_block_join").filter(_.head.asInstanceOf[Long] % 20 == 0))
  }

  test("L2a/L2e: char shingling walks CODE POINTS on supplementary text") {
    // The compiled shingle kernel must agree with the relational twin —
    // Spark SQL substring(), which (like the oracle's DuckDB substr())
    // counts code points — on text with supplementary characters (each
    // one is TWO UTF-16 units; a unit-walking kernel would emit split
    // surrogate shingles and silently diverge from the oracle on a
    // non-ASCII corpus). 𝄞 (U+1D11E) and 😀 (U+1F600) are non-BMP.
    val spark0 = spark
    import spark0.implicits._
    for (text <- Seq("ab𝄞cd😀ef ghijk", "𝄞😀", "plain ascii text", "")) {
      val kernel = graft.ops.LlmPipeline.charShingleHashes(text).toSet
      val twin = Seq(text).toDF("text").select(explode(expr(
        """transform(sequence(1, greatest(length(text) - 4, 1)),
          |  i -> conv(substring(md5(substring(text, i, 5)), 1, 15), 16, 10))"""
          .stripMargin)).as("hs"))
        .select(col("hs").cast("long"))
        .collect().map(_.getLong(0)).toSet
      assert(kernel == twin, s"kernel/twin shingle mismatch for '$text'")
      // and the l2e sketch is exactly the mod-8 slice of the full set
      assert(graft.ops.LlmPipeline.charShingleHashes(text, mod8 = true).toSet
        == kernel.filter(_ % 8 == 0))
    }
  }

  test("O1 global sort: output row order is the declared total order") {
    // the oracle gate canonicalises row ORDER away, so sortedness — the
    // whole point of O1 — is pinned here: nulls first, then ascending
    // v_or_null; ties broken by ts DESC then event_id ASC.
    val rows = SparkEntry.queries("o1_global_sort")(spark, sf).collect()
    assert(rows.length > 100)
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(2)) (0, 0.0) else (1, r.getDouble(2)),
       -r.getTimestamp(3).getTime, r.getLong(0))
    val keys = rows.map(key)
    assert(keys.zip(keys.tail).forall { case (a, b) =>
      implicitly[Ordering[((Int, Double), Long, Long)]].lteq(a, b)
    }, "collected rows are not in declared sort order")
    // sf0.001 may contain no exact-0.0 values (no nulls after nullif);
    // when nulls exist they must form a prefix
    val nNull = rows.count(_.isNullAt(2))
    assert(rows.take(nNull).forall(_.isNullAt(2)), "nulls must sort first")
  }

  test("S3 malformed JSON: PERMISSIVE captures the bad line, DROPMALFORMED drops it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badjson")
    java.nio.file.Files.writeString(dir.resolve("part.json"),
      """{"a": 1, "b": "x"}
        |{"a": 2, "b": "y"}
        |{"a": oops not json
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val permissive = spark.read.schema(schema).json(dir.toString).cache()
    try {
      assert(permissive.count() == 3)
      val bad = permissive.collect().filter(_.getString(2) != null)
      assert(bad.length == 1 && bad.head.getString(2).contains("oops"))
      val dropped = spark.read
        .schema(org.apache.spark.sql.types.StructType(schema.fields.take(2)))
        .option("mode", "DROPMALFORMED").json(dir.toString)
      assert(dropped.count() == 2)
    } finally permissive.unpersist()
  }

  test("S2 malformed CSV: PERMISSIVE nulls bad cells, DROPMALFORMED drops, FAILFAST throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv")
    java.nio.file.Files.writeString(dir.resolve("part.csv"),
      """a,b
        |1,x
        |2,y
        |notanint,z
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    def read(mode: String) = spark.read.schema(schema)
      .option("header", "true").option("mode", mode).csv(dir.toString)
    val permissive = read("PERMISSIVE").collect()
    assert(permissive.length == 3)
    assert(permissive.count(r => r.isNullAt(0)) == 1, "bad cell must null out")
    // count() prunes every column, so the parser never converts the bad
    // cell and nothing registers as malformed — the assertion must
    // materialize the columns for DROPMALFORMED to bite
    assert(read("DROPMALFORMED").collect().length == 2)
    intercept[org.apache.spark.SparkException](read("FAILFAST").collect())
  }

  test("JDBC option builders carry partitioning and batching") {
    import graft.sources.JdbcSync._
    val cfg = JdbcConfig("jdbc:sqlserver://host;database=db", "dbo.orders", "u", "p")
    val ro = readOptions(cfg, Some(ReadPartitioning("o_orderkey", 0, 1000000, 16)))
    assert(ro("numPartitions") == "16" && ro("partitionColumn") == "o_orderkey")
    assert(ro("fetchsize") == "10000")
    val wo = writeOptions(cfg, batchSize = 5000)
    assert(wo("batchsize") == "5000" && wo("url").startsWith("jdbc:sqlserver"))
  }

  test("A16 HLL: union of per-nation sketches ≡ direct region sketch, near exact") {
    // the union≡direct law on the raw estimates (the scored query outputs
    // the portable exact count + verdict, so rebuild the union here)
    val cn = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
    val union = cn.groupBy("n_regionkey", "n_name")
      .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"))
      .groupBy("n_regionkey")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("uest"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = cn.groupBy("n_regionkey")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(c_custkey, 14))").as("est"),
           countDistinct(col("c_custkey")).as("exact"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    direct.foreach { case (region, est, exact) =>
      // merging partial sketches must equal sketching the union directly
      assert(union(region) == est, s"union≠direct for region $region")
      // lgK=14 ⇒ rsd ~0.8%; corpus regions are tiny, so allow 2%
      assert(math.abs(est - exact) <= math.max(1L, (exact * 0.02).toLong),
        s"estimate $est too far from exact $exact in region $region")
    }
    // and the scored query's verdict + exact columns hold
    val out = SparkEntry.queries("a16_hll_union")(spark, sf).collect()
    assert(out.forall(_.getAs[Boolean]("union_est_ok")))
    val exactByRegion = direct.map(t => t._1 -> t._3).toMap
    out.foreach(r => assert(r.getAs[Long]("exact_customers") ==
      exactByRegion(r.getAs[Int]("n_regionkey"))))
  }

  test("partsupp surrogate: (ps_partkey, ps_suppkey) is a true PK at every SF") {
    // the round-7 review finding, pinned: at small supplier counts the
    // raw TPC-H increment rule collides (S=10 → only 1-2 distinct
    // suppkeys for some parts); the surrogate's DISTINCT must hold the
    // keys-UNIQUE contract (y11) that q9's join and q2's output rest on
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      graft.ops.Tables.table(spark, d, "part").createOrReplaceTempView("part")
      graft.ops.Tables.table(spark, d, "supplier").createOrReplaceTempView("supplier")
      val r = spark.sql(graft.ops.SqlQueries.partsuppCte +
        """
          |SELECT MAX(cnt) AS max_mult, COUNT(*) AS n_pairs FROM (
          |  SELECT ps_partkey, ps_suppkey, COUNT(*) AS cnt
          |  FROM partsupp GROUP BY ps_partkey, ps_suppkey)""".stripMargin)
        .collect().head
      assert(r.getAs[Long]("max_mult") == 1L,
        s"$d: duplicate (ps_partkey, ps_suppkey) pairs in the surrogate")
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("Y15 incremental join view ≡ full recompute, both delta sides active") {
    val inc = SparkEntry.queries("y15_incremental_join_view")(spark, sf)
    val full = Sync.sourceView(spark, sf)
      .join(Sync.custView(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").cast("double")
          .as("o_totalprice"))
    assert(inc.exceptAll(full).isEmpty, "incremental produced rows recompute lacks")
    assert(full.exceptAll(inc).isEmpty, "incremental missed rows recompute has")
    // the law is only meaningful if BOTH delta sides actually fire here
    assert(Sync.custView(spark, sf)
      .filter(col("c_mktsegment") === "MOVED").count() > 0,
      "dimension delta empty — K_c side untested")
    assert(inc.count() > 0)
  }

  test("Y16: selective sync leaves every partition clean, copies only dirty ones") {
    // sourceView's %7/%10/%13 mutation dirties EVERY year at every SF, so
    // selectivity and the vanished-partition sentinel need a narrower
    // fixture: year 1997 updated, year 1999 dropped, the rest untouched
    val tgt = Tables.orders(spark, sf)
    val src = tgt
      .filter(year(col("o_orderdate")) =!= 1999)
      .withColumn("o_totalprice",
        when(year(col("o_orderdate")) === 1997, col("o_totalprice") + 1d)
          .otherwise(col("o_totalprice")))
    val rows = Sync.dirtyPartitionSync(src, tgt).collect()
    spark.catalog.clearCache() // release the engine's ≤|years| plan pin
    assert(rows.forall(_.getAs[Boolean]("clean_after")),
      s"a partition stayed dirty after the selective sync: ${rows.toSeq}")
    val dirtyYears = rows.filter(_.getAs[Boolean]("dirty"))
      .map(_.getAs[Int]("order_year")).toSet
    assert(dirtyYears == Set(1997, 1999),
      s"expected exactly {1997, 1999} dirty, got $dirtyYears")
    rows.filterNot(_.getAs[Boolean]("dirty")).foreach(r =>
      assert(r.getAs[Long]("n_copied") == 0L,
        "a clean partition was copied — selectivity violated"))
    // the vanished year is dirty but copies nothing; its clean_after
    // comes from the −1 digest sentinel on both sides
    val vanished = rows.find(_.getAs[Int]("order_year") == 1999).get
    assert(vanished.getAs[Long]("n_copied") == 0L)
    assert(vanished.getAs[Boolean]("clean_after"))
    // and the production query (over sourceView) still validates all-clean
    val q = SparkEntry.queries("y16_dirty_partition_sync")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(q.nonEmpty && q.forall(_.getAs[Boolean]("clean_after")))
    assert(q.exists(_.getAs[Boolean]("dirty")))
  }

  test("Y17: child partitions follow parent dirt, both sides clean after, zero orphans") {
    val tgtO = Tables.orders(spark, sf)
    val tgtL = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber",
      "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    // year 1997: PARENT-only update (child rows untouched — the child
    // copy there happens purely through the FK rule); year 1995:
    // CHILD-only update (parent partition stays digest-clean — the
    // child's own compare must flag it); every other year untouched.
    val srcO = tgtO.withColumn("o_totalprice",
      when(year(col("o_orderdate")) === 1997, col("o_totalprice") + 1d)
        .otherwise(col("o_totalprice")))
    val k95 = tgtO.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey").as("k95"))
    val srcL = tgtL.join(k95, col("l_orderkey") === col("k95"), "left")
      .withColumn("l_quantity",
        when(col("k95").isNotNull, col("l_quantity") + 1d)
          .otherwise(col("l_quantity")))
      .drop("k95")
    val rows = Sync.fkConsistentSync(srcO, tgtO, srcL, tgtL).collect()
    spark.catalog.clearCache() // fkConsistentSync persists its ≤|years| plan
    val pDirty = rows.filter(_.getAs[Boolean]("parent_dirty"))
      .map(_.getAs[Int]("order_year")).toSet
    val cDirty = rows.filter(_.getAs[Boolean]("child_dirty"))
      .map(_.getAs[Int]("order_year")).toSet
    assert(pDirty == Set(1997), s"expected only 1997 parent-dirty: $pDirty")
    assert(cDirty == Set(1995, 1997),
      s"child dirty set must be own dirt ∪ parent's dirt: $cDirty")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parent_clean_after"), s"parent dirty after sync: $r")
      assert(r.getAs[Boolean]("child_clean_after"), s"child dirty after sync: $r")
      assert(r.getAs[Long]("n_orphans_after") == 0L, s"FK orphans after sync: $r")
    }
    rows.filterNot(_.getAs[Boolean]("parent_dirty")).foreach(r =>
      assert(r.getAs[Long]("n_parent_copied") == 0L,
        "a clean parent partition was copied"))
    rows.filterNot(_.getAs[Boolean]("child_dirty")).foreach(r =>
      assert(r.getAs[Long]("n_child_copied") == 0L,
        "a clean child partition was copied"))
    // 1997's children are digest-identical on both sides; they ship
    // anyway because their PARENT partition is dirty — the FK rule
    val y97 = rows.find(_.getAs[Int]("order_year") == 1997).get
    assert(y97.getAs[Long]("n_child_copied") > 0L,
      "child partition of a parent-dirty year must ship with it")
    // and 1995's parents stay put while its children ship
    val y95 = rows.find(_.getAs[Int]("order_year") == 1995).get
    assert(y95.getAs[Long]("n_parent_copied") == 0L)
    assert(y95.getAs[Long]("n_child_copied") > 0L)
    // the production query (full sourceView mutation) validates all-clean
    val q = SparkEntry.queries("y17_fk_consistent_sync")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(q.nonEmpty && q.forall(_.getAs[Boolean]("parent_clean_after")))
    assert(q.forall(_.getAs[Boolean]("child_clean_after")))
    assert(q.forall(_.getAs[Long]("n_orphans_after") == 0L))
    assert(q.exists(_.getAs[Boolean]("child_dirty")))
  }

  test("Y17b law: children go dirty independently, each follows parent dirt") {
    val tgtO = Tables.orders(spark, sf)
    val tgtL = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber",
      "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val tgtR = Sync.returnsTargetView(spark, sf)
    // 1997: PARENT-only churn; 1995: lineitem-ONLY churn; 1996:
    // returns-ONLY churn — three disjoint dirt sources, so the FK rule
    // and the children's independence are separately observable
    // (corpus orders span 1995-2001; all three years exist)
    val srcO = tgtO.withColumn("o_totalprice",
      when(year(col("o_orderdate")) === 1997, col("o_totalprice") + 1d)
        .otherwise(col("o_totalprice")))
    def orderKeysOf(y: Int) = tgtO.filter(year(col("o_orderdate")) === y)
      .select(col("o_orderkey").as("yk"))
    val srcL = tgtL.join(orderKeysOf(1995),
        col("l_orderkey") === col("yk"), "left")
      .withColumn("l_quantity",
        when(col("yk").isNotNull, col("l_quantity") + 1d)
          .otherwise(col("l_quantity")))
      .drop("yk")
    val srcR = tgtR.join(orderKeysOf(1996),
        col("l_orderkey") === col("yk"), "left")
      .withColumn("r_refund",
        when(col("yk").isNotNull, col("r_refund") + 1d)
          .otherwise(col("r_refund")))
      .drop("yk")
    val lineHash = Seq(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_quantity").cast("decimal(18,2)").cast("string"),
      col("l_extendedprice").cast("decimal(18,2)").cast("string"),
      col("l_returnflag"))
    val rows = Sync.fkConsistentSyncMulti(srcO, tgtO, Seq(
      Sync.FkChild("lineitem", srcL, tgtL, "l_orderkey", lineHash),
      Sync.FkChild("returns", srcR, tgtR, "l_orderkey",
        Seq(col("l_orderkey"), col("l_linenumber"),
          col("r_refund").cast("decimal(18,2)").cast("string"))))).collect()
    spark.catalog.clearCache() // the multi plan persists per-child plans
    def dirtyYears(child: String) = rows
      .filter(r => r.getAs[String]("child") == child &&
        r.getAs[Boolean]("child_dirty"))
      .map(_.getAs[Int]("order_year")).toSet
    assert(rows.filter(_.getAs[Boolean]("parent_dirty"))
      .map(_.getAs[Int]("order_year")).toSet == Set(1997),
      "parent dirt must be exactly 1997 (seen identically by every child)")
    assert(dirtyYears("lineitem") == Set(1995, 1997),
      s"lineitem dirt must be own (1995) + parent's (1997): ${dirtyYears("lineitem")}")
    assert(dirtyYears("returns") == Set(1996, 1997),
      s"returns dirt must be own (1996) + parent's (1997): ${dirtyYears("returns")}")
    // independence: one child's churn never ships the other
    val li96 = rows.find(r => r.getAs[String]("child") == "lineitem" &&
      r.getAs[Int]("order_year") == 1996).get
    val rt95 = rows.find(r => r.getAs[String]("child") == "returns" &&
      r.getAs[Int]("order_year") == 1995).get
    assert(li96.getAs[Long]("n_child_copied") == 0L &&
           rt95.getAs[Long]("n_child_copied") == 0L,
      "a child shipped a partition only the OTHER child dirtied")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parent_clean_after"), s"parent dirty after: $r")
      assert(r.getAs[Boolean]("child_clean_after"), s"child dirty after: $r")
      assert(r.getAs[Long]("n_orphans_after") == 0L, s"FK orphans after: $r")
    }
  }

  test("Y24 law: sampled drift estimate brackets the true rate; sample is deterministic") {
    val r = Sync.queries("y24_sampled_validation")(spark, sf).collect().head
    val (nS, nD) = (r.getAs[Long]("n_sampled"), r.getAs[Long]("n_drifted"))
    assert(nS > 0 && nD > 0, "sample must hit both clean and drifted keys")
    // rough size check: a 10% hash sample of a ~16k-key full-outer diff
    assert(nS > r.getAs[Long]("n_target_total") / 20,
      s"sample implausibly small: $nS")
    // true drift rate from the FULL y3 diff (the thing y24 exists to
    // avoid computing every cycle — affordable at sf0.001)
    val full = Sync.queries("y3_snapshot_diff")(spark, sf)
    val (tot, drift) = (full.count(),
      full.filter(col("op") =!= "S").count())
    val trueRate = drift.toDouble / tot.toDouble
    val (rate, ci) = (r.getAs[Double]("drift_rate"), r.getAs[Double]("ci_half"))
    // hash-sampling is as-if-random over keys: the fixed corpus's
    // deviation sits inside the normal bound with margin (deterministic
    // corpus => deterministic verdict; 2x guards the approximation)
    assert(math.abs(rate - trueRate) <= 2 * ci,
      s"estimate $rate ± $ci missed true rate $trueRate")
    // deterministic: a second run returns the identical row
    val r2 = Sync.queries("y24_sampled_validation")(spark, sf).collect().head
    assert(r2 == r, "hash-bucket sampling must be run-stable")
  }

  test("Y23 law: verdicts match the mutation arithmetic; disjoint churn never conflicts") {
    val base = Tables.orders(spark, sf)
    // rule-computed expectation per BASE key, straight from the two
    // mutation definitions: A deletes %10 / updates %7; B deletes %19 /
    // updates %11. Both-deleted converges; any other both-changed pair
    // conflicts (update payloads always differ across sides).
    val aDel = col("o_orderkey") % 10 === 0
    val aUpd = col("o_orderkey") % 7 === 0 && !aDel
    val bDel = col("o_orderkey") % 19 === 0
    val bUpd = col("o_orderkey") % 11 === 0 && !bDel
    val aCh = aDel || aUpd
    val bCh = bDel || bUpd
    val expected = base.select(col("o_orderkey"),
      when(!aCh && !bCh, "unchanged")
        .when(aCh && !bCh, "a_only")
        .when(bCh && !aCh, "b_only")
        .when(aDel && bDel, "convergent")
        .otherwise("conflict").as("verdict"))
    val got = Sync.queries("y23_three_way_diff")(spark, sf)
      .filter(col("o_orderkey") < 10000000L) // base keys; inserts below
    assert(got.select("o_orderkey", "verdict")
      .exceptAll(expected).isEmpty &&
      expected.exceptAll(got.select("o_orderkey", "verdict")).isEmpty,
      "three-way verdicts diverged from the mutation arithmetic")
    // every verdict class is genuinely populated at this SF
    val verdicts = got.select("verdict").distinct()
      .collect().map(_.getString(0)).toSet
    assert(verdicts == Set("unchanged", "a_only", "b_only",
      "convergent", "conflict"), s"missing verdict classes: $verdicts")
    // conflicts are exactly the 'manual' actions — never auto-applied
    val g2 = Sync.queries("y23_three_way_diff")(spark, sf)
    assert(g2.filter((col("verdict") === "conflict") =!=
      (col("action") === "manual")).count() == 0L)
    // rekeyed inserts surface as one-sided upserts
    assert(g2.filter(col("o_orderkey") >= 20000000L &&
      (col("verdict") =!= "b_only" || col("action") =!= "upsert_to_a"))
      .count() == 0L, "B-side inserts must classify b_only/upsert_to_a")
    // THE LAW: churn on disjoint key sets can never conflict
    val aSide = base.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1d)
      .unionByName(base.filter(col("o_orderkey") % 2 =!= 0))
    val bSide = base.filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 2d)
      .unionByName(base.filter(col("o_orderkey") % 2 === 0))
    val disjoint = Sync.threeWayDiff(base, aSide, bSide)
    assert(disjoint.filter(col("verdict") === "conflict").count() == 0L,
      "disjoint churn produced a conflict")
    assert(disjoint.filter(col("verdict") === "convergent").count() == 0L)
  }

  test("Y23b law: inert B degrades to one-way sync; policy decides every conflict; bad policy refuses") {
    val base = Tables.orders(spark, sf)
    val a = Sync.sourceView(spark, sf)
    val b = Sync.bSourceView(spark, sf)
    // inert B (≡ base): the three-way merge must reproduce A exactly,
    // under EITHER policy — no conflicts exist to break the tie on
    Seq("prefer_a", "prefer_b").foreach { pol =>
      val m = Sync.resolveThreeWay(base, a, base, pol)
      assert(m.exceptAll(a).isEmpty && a.exceptAll(m).isEmpty,
        s"inert-B merge under $pol diverged from plain A")
    }
    // production merge under prefer_a: every conflict key's outcome is
    // A's row (or absence when A deleted it) — never B's
    val merged = Sync.resolveThreeWay(base, a, b, "prefer_a")
    val conflicts = Sync.threeWayDiff(base, a, b)
      .filter(col("verdict") === "conflict").select("o_orderkey")
    val aProj = a.select(col("o_orderkey"),
      col("o_totalprice").as("a_price"))
    val bad = merged.join(conflicts, Seq("o_orderkey"), "left_semi")
      .join(aProj, Seq("o_orderkey"), "left")
      .filter(col("a_price").isNull || col("o_totalprice") =!= col("a_price"))
    assert(bad.isEmpty, "a conflict key did not take A's row under prefer_a")
    val aDeletedConflicts = conflicts.join(a.select("o_orderkey"),
      Seq("o_orderkey"), "left_anti")
    assert(merged.join(aDeletedConflicts, Seq("o_orderkey"), "left_semi")
      .isEmpty, "an A-deleted conflict key survived under prefer_a")
    // no silent side-picking: an unknown policy refuses loudly
    val e = intercept[IllegalArgumentException](
      Sync.resolveThreeWay(base, a, b, "fail"))
    assert(e.getMessage.contains("unresolvable"))
  }

  test("Y18 law: applying the compacted changelog equals applying the full log") {
    val log = Sync.changeLog(spark, sf)
    // A CONSISTENT base: exactly the keys whose first in-window op is
    // not an insert pre-exist (first=I means the key was born inside
    // the window — a base that already held it would make the feed
    // itself inconsistent, and I···D annihilation unsound).
    val base = log.groupBy("pk")
      .agg(min_by(col("op"), col("version")).as("first_op"))
      .filter(col("first_op") =!= "I")
      .select(col("pk"), lit("base").as("payload_type"),
              lit(0.0).as("payload_value"))
    // full replay: latest op per key wins; D removes, I/U upsert
    val last = log.groupBy("pk").agg(
      max_by(col("op"), col("version")).as("op"),
      max_by(col("payload_type"), col("version")).as("payload_type"),
      max_by(col("payload_value"), col("version")).as("payload_value"))
    val fullApply = base.join(last, Seq("pk"), "left_anti")
      .unionByName(last.filter(col("op") =!= "D").drop("op"))
    // compacted apply: net I/U upsert, net D removes, annihilated keys
    // (absent from the compacted set) leave the base untouched
    val compacted = SparkEntry.queries("y18_changelog_compact")(spark, sf)
    val compactApply = base.join(compacted, Seq("pk"), "left_anti")
      .unionByName(compacted.filter(col("net_op") =!= "D")
        .select(col("pk"), col("last_type").as("payload_type"),
                col("last_value").as("payload_value")))
    assert(fullApply.exceptAll(compactApply).isEmpty &&
           compactApply.exceptAll(fullApply).isEmpty,
      "compacted apply diverged from full replay")
    // and compaction genuinely compacts: one row per surviving key
    val c = compacted.groupBy("pk").count().filter(col("count") > 1).count()
    assert(c == 0L, "compaction emitted multiple rows for a key")
  }

  test("Y21 law: a target older than the horizon never applies a partial log") {
    val spark0 = spark
    import spark0.implicits._
    // Synthetic feed with a retention horizon at version 10: everything
    // older is PURGED from the available log. The trap rows: pk=1's
    // update and pk=2's tombstone both fall inside the purged window
    // (versions 5-6), so an incremental apply from a stale target
    // (last-synced v4) would keep pk=1's stale payload and RESURRECT
    // the deleted pk=2.
    val fullLog = Seq(
      (1L, "I", 1L, "signup", 1.0), (1L, "U", 5L, "purchase", 1.5),
      (2L, "I", 2L, "signup", 1.0), (2L, "D", 6L, "error", 0.0),
      (3L, "I", 3L, "signup", 1.0), (3L, "U", 12L, "purchase", 3.5),
      (4L, "I", 11L, "signup", 4.0)
    ).toDF("pk", "op", "version", "payload_type", "payload_value")
    val minValid = 10L
    val availableLog = fullLog.filter(col("version") >= minValid)
    def stateAsOf(v: Long) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("pk").orderBy(col("version").desc)
      fullLog.filter(col("version") <= v)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("op") =!= "D")
        .select(col("pk"), col("payload_type").as("last_type"),
          col("payload_value").as("last_value"))
    }
    val truth = stateAsOf(Long.MaxValue)
    val staleTarget = stateAsOf(4L)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // THE LAW: stale target (4 < 10) → the chosen arm is the full
    // resync; output equals the ground-truth recompute exactly
    assert(same(
      Sync.retentionSync(truth, staleTarget, availableLog, 4L, minValid),
      truth), "stale target did not fall back to full resync")
    // the trap is real: FORCING the incremental arm (lying that the
    // horizon is 0) resurrects pk=2 and keeps pk=1's purged update lost
    val forced = Sync.retentionSync(truth, staleTarget, availableLog, 4L, 0L)
    assert(!same(forced, truth), "forced incremental should diverge")
    assert(forced.filter(col("pk") === 2L).count() == 1L,
      "purged tombstone must resurrect under forced incremental")
    assert(forced.filter(col("pk") === 1L && col("last_value") === 1.0)
      .count() == 1L, "purged update must be lost under forced incremental")
    // and a VALID incremental (target v11 ≥ horizon) lands on the truth
    assert(same(
      Sync.retentionSync(truth, stateAsOf(11L), availableLog, 11L, minValid),
      truth), "valid incremental diverged from full recompute")
    // scored-query invariants: scenario A takes the incremental arm, B
    // the full arm, and both land on the same final state digest
    val q = SparkEntry.queries("y21_retention_fallback")(spark, sf)
      .collect().sortBy(_.getAs[String]("scenario"))
    assert(q.map(_.getAs[String]("decision")).toSeq ==
      Seq("INCREMENTAL", "FULL_RESYNC"))
    assert(q.map(_.getAs[Long]("final_digest")).distinct.length == 1)
    // (no ordering claim between the two n_shipped values: the
    // incremental arm ships tombstones — keys absent from the final
    // live state — so it can exceed the full arm's live-key count)
  }

  test("Y25 law: interval edges are inclusive-left; top cut equals latest-wins state") {
    val spark0 = spark
    import spark0.implicits._
    // Hand-checkable feed: cuts derive as vmin + span*k/3 = 4, 6, 8, and
    // every cut lands EXACTLY on a version so both interval edges are
    // exercised: U@4 is live AT cut 4 (left edge inclusive), I@6 at cut
    // 6, and D@8 tombstones pk=1 exactly at cut 8.
    val log = Seq(
      (1L, "I", 2L, "signup", 1.0), (1L, "U", 4L, "purchase", 2.0),
      (1L, "D", 8L, "error", 0.0), (2L, "I", 6L, "signup", 3.0)
    ).toDF("pk", "op", "version", "payload_type", "payload_value")
    val rows = Sync.timeTravel(log, 3).collect()
    assert(rows.map(_.getAs[Long]("cut_version")).toSeq == Seq(4L, 6L, 8L))
    assert(rows.map(_.getAs[Long]("n_rows")).toSeq == Seq(1L, 2L, 1L))
    assert(rows.map(_.getAs[Long]("n_tombstones")).toSeq == Seq(0L, 0L, 1L))
    // Corpus law: the q4 cut sits at vmax, so its (count, digest) IS the
    // y4 latest-wins state — recomputed here independently (row_number
    // window, no intervals) and compared field-for-field.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy(col("version").desc)
    val lw = Sync.changeLog(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("op") =!= "D")
      .agg(count(lit(1)).as("n"),
        sum(pmod(conv(substring(md5(concat_ws("|", col("pk"),
          col("payload_type"),
          col("payload_value").cast("decimal(18,2)").cast("string"))),
          1, 15), 16, 10).cast("long"), lit(1000000000L))).as("dig"))
      .collect()(0)
    val q4 = SparkEntry.queries("y25_time_travel")(spark, sf)
      .filter(col("cut_label") === "q4").collect()(0)
    assert(q4.getAs[Long]("n_rows") == lw.getAs[Long]("n"))
    assert(q4.getAs[Long]("state_digest") == lw.getAs[Long]("dig"))
  }

  test("Y26 law: watermark cuts are orphan-free at every version; naive lag is not") {
    val ev = Tables.events(spark, sf)
    val parents = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("event_id")).as("reg_version"))
    val children = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("cversion"), col("user_id"),
        to_date(col("ts")).as("day"))
    val Array(vmin, vmax) = ev
      .agg(min(col("event_id")), max(col("event_id")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    def cutAt(pct: Long) = vmin + (vmax - vmin) * pct / 10
    val spark0 = spark
    import spark0.implicits._
    // watermark rows at three different versions + one lagging-parent
    // naive row; the law quantifies over the watermark's parameter
    val strategies = Seq(
      ("w25", cutAt(2), cutAt(2)), ("w50", cutAt(5), cutAt(5)),
      ("w90", cutAt(9), cutAt(9)), ("naive", cutAt(5), vmax))
      .toDF("strategy", "parent_cut", "child_cut")
    val out = Sync.consistentCut(parents, children, strategies,
        Seq("user_id", "day")).collect()
      .map(r => r.getAs[String]("strategy") -> r).toMap
    for (wm <- Seq("w25", "w50", "w90"))
      assert(out(wm).getAs[Long]("n_orphans") == 0L,
        s"watermark cut $wm must be orphan-free")
    assert(out("naive").getAs[Long]("n_orphans") > 0L,
      "lagging parent under per-table-max cut must strand children")
    // consistency is monotone bookkeeping too: child counts grow with
    // the cut, and naive (child at vmax) sees at least w90's children
    val nc = Seq("w25", "w50", "w90", "naive")
      .map(k => out(k).getAs[Long]("n_children"))
    assert(nc == nc.sorted, s"child counts must be monotone: $nc")
  }

  test("Y14 partition bounds: quartiles are monotone within [lo, hi], verdicts true") {
    val r = SparkEntry.queries("y14_partition_bounds")(spark, sf).collect().head
    val (lo, hi) = (r.getAs[Long]("lo").toDouble, r.getAs[Long]("hi").toDouble)
    val qs = Seq(r.getAs[Double]("q25"), r.getAs[Double]("q50"), r.getAs[Double]("q75"))
    assert((lo +: qs :+ hi).sliding(2).forall(p => p.head <= p.last),
      s"bounds not monotone: lo=$lo $qs hi=$hi")
    Seq("b25_ok", "b50_ok", "b75_ok").foreach(c =>
      assert(r.getAs[Boolean](c), s"sketch verdict $c false at $sf"))
  }

  test("Y20: narrowing flags exactly the mutated months; clean months ship nothing") {
    val res = SparkEntry.queries("y20_hierarchical_narrow")(spark, sf).collect()
    spark.catalog.clearCache() // hierarchicalDigestNarrow persists its level-1 plan
    // ground truth recomputed from the data: a month is dirty iff the
    // monthDriftView mutation actually touched a row in it
    val expected = Tables.orders(spark, sf).filter(
        (month(col("o_orderdate")) === 3 && col("o_orderkey") % 7 === 0) ||
        (month(col("o_orderdate")) === 11 && col("o_orderkey") % 10 === 0))
      .select(year(col("o_orderdate")), month(col("o_orderdate")))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val dirty = res.filter(_.getAs[Boolean]("month_dirty"))
      .map(r => (r.getAs[Int]("order_year"), r.getAs[Int]("order_month"))).toSet
    assert(dirty == expected,
      s"dirty-month set diverged from the mutation: got $dirty, want $expected")
    res.filterNot(_.getAs[Boolean]("month_dirty")).foreach(r =>
      assert(r.getAs[Long]("n_ship_rows") == 0L,
        s"a clean month was shipped: $r"))
    // the point of the drill-down: localized churn leaves most months clean
    assert(res.count(!_.getAs[Boolean]("month_dirty")) >
           res.count(_.getAs[Boolean]("month_dirty")),
      "narrowing should leave most months clean under localized churn")
  }

  test("L16 law: verdicts match a declarative reclassification; all classes populated") {
    // sf0.01's documents table is the same 500 docs — use it so every
    // verdict class (dup_index / dup_batch / keep) is genuinely hit.
    val d = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("l16_incremental_dedup")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // Independent restatement: same band table (the shared kernel — its
    // cross-engine parity is l2b's oracle), but the classification
    // re-derived declaratively in SQL instead of the query's broadcast
    // join assembly. Catches precedence / join-direction / null-handling
    // bugs in the DataFrame form.
    graft.ops.LlmPipeline.minhashBands(spark, d)
      .createOrReplaceTempView("l16_bands")
    val want = spark.sql(
      """WITH nb AS (SELECT * FROM l16_bands WHERE doc_id % 3 = 0),
        |idx AS (SELECT band, band_hash FROM l16_bands WHERE doc_id % 3 <> 0),
        |hi AS (SELECT DISTINCT nb.doc_id FROM nb JOIN idx USING (band, band_hash)),
        |hb AS (SELECT DISTINCT a.doc_id FROM nb a JOIN nb b
        |       ON a.band = b.band AND a.band_hash = b.band_hash
        |       AND b.doc_id < a.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN hi.doc_id IS NOT NULL THEN 'dup_index'
        |       WHEN hb.doc_id IS NOT NULL THEN 'dup_batch'
        |       ELSE 'keep' END AS verdict
        |FROM (SELECT doc_id FROM parquet.`""".stripMargin + d +
        """/documents.parquet` WHERE doc_id % 3 = 0) d
        |LEFT JOIN hi ON d.doc_id = hi.doc_id
        |LEFT JOIN hb ON d.doc_id = hb.doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, "incremental-dedup verdicts diverged from the declarative form")
    Seq("dup_index", "dup_batch", "keep").foreach(v =>
      assert(got.values.exists(_ == v), s"verdict class $v not populated at sf0.01"))
    // incremental soundness: batch ∪ index partitions the corpus, and a
    // kept doc shares no band with the index (re-checked via the view)
    val keepSet = got.filter(_._2 == "keep").keySet
    val leak = spark.sql(
      """SELECT DISTINCT nb.doc_id FROM l16_bands nb
        |JOIN (SELECT band, band_hash FROM l16_bands WHERE doc_id % 3 <> 0) i
        |USING (band, band_hash) WHERE nb.doc_id % 3 = 0""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(keepSet.intersect(leak).isEmpty, "a kept batch doc collides with the index")
  }

  test("L5m law: denylist scrub is idempotent; both pattern classes hit") {
    import org.apache.spark.sql.functions._
    val agg = SparkEntry.queries("l5m_denylist_scrub")(spark, sf).collect()
    assert(agg.nonEmpty)
    assert(agg.map(_.getAs[Long]("entity_hits")).sum > 0,
      "entity pattern found nothing — the scrub demo is vacuous")
    assert(agg.map(_.getAs[Long]("term_hits")).sum > 0,
      "term pattern found nothing — the scrub demo is vacuous")
    // idempotence: scrubbing a scrubbed corpus is a no-op (uppercase tags
    // on a lowercased corpus can never re-match a lowercase pattern)
    val once = ops.LlmPipeline.DenylistPatterns.redact(lower(col("text")))
    val drift = ops.Tables.documents(spark, sf)
      .select(once.as("r1"),
        ops.LlmPipeline.DenylistPatterns.redact(once).as("r2"))
      .filter(col("r1") =!= col("r2")).count()
    assert(drift == 0L, s"scrub not idempotent on $drift docs")
  }

  test("L23 law: LSH recalls every planted cross-split near-copy; verdicts obey the threshold") {
    val rows = SparkEntry.queries("l23_fuzzy_contamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard"), r.getAs[Boolean]("contaminated")))
    val maxId = Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head.getLong(0)
    // every eval doc's planted successor must be caught, matched to its
    // own donor, at near-copy strength
    (0L to maxId by 97L).filter(_ + 1 <= maxId).foreach { e =>
      val hit = rows.find(_._1 == e + 1)
      assert(hit.isDefined, s"planted near-copy ${e + 1} of eval $e not recalled")
      assert(hit.get._2 == e && hit.get._4 && hit.get._3 >= 0.5,
        s"planted pair (${e + 1}, $e) mis-verified: $hit")
    }
    // verdict is exactly the threshold rule on the reported jaccard
    assert(rows.forall(r => r._4 == (r._3 >= 0.5)))
  }

  test("L22 law: budget respected and tight; band order monotone; cutoff kept-set is a prefix") {
    val rows = SparkEntry.queries("l22_budget_select")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("band"),
        r.getAs[Int]("n_toks").toLong,
        r.getAs[Long]("budget"), r.getAs[Boolean]("kept")))
    val budget = rows.head._4
    val keptToks = rows.filter(_._5).map(_._3).sum
    assert(keptToks <= budget, s"kept $keptToks exceeds budget $budget")
    assert(rows.exists(_._5) && rows.exists(!_._5), "selection is vacuous")
    // bands strictly better than the worst kept band are fully kept;
    // bands strictly worse than the best unkept band are fully dropped
    val minKeptBand = rows.filter(_._5).map(_._2).min
    val maxDropBand = rows.filter(!_._5).map(_._2).max
    assert(rows.filter(_._2 > maxDropBand).forall(_._5),
      "a better band has an unkept doc while a worse band has kept ones")
    assert(rows.filter(_._2 < minKeptBand).forall(!_._5),
      "a worse band has a kept doc below the cutoff")
    // inside the cutoff band the kept set is a doc_id prefix
    if (minKeptBand == maxDropBand) {
      val cut = rows.filter(_._2 == minKeptBand).sortBy(_._1)
      val firstDrop = cut.indexWhere(!_._5)
      assert(cut.drop(firstDrop).forall(!_._5),
        "cutoff-band kept set is not a doc_id prefix")
      // greedy tightness: the first dropped doc would not have fit
      assert(keptToks + cut(firstDrop)._3 > budget,
        "first dropped cutoff doc would still have fit — greedy not tight")
    }
  }

  test("S17 law: each run ingests only unseen files; a re-run is a strict no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s17").toString
    val in = s"$dir/in"; val mf = s"$dir/mf"; val tg = s"$dir/tg"
    val orders = Tables.orders(spark, sf)
    orders.filter(col("o_orderkey") % 3 =!= 0).repartition(4)
      .write.parquet(s"$in/b1")
    val n1 = Sources.incrementalIngest(spark, in, mf, tg)
    assert(n1 == 4, s"first run must ingest exactly batch 1's files, got $n1")
    orders.filter(col("o_orderkey") % 3 === 0).repartition(2)
      .write.parquet(s"$in/b2")
    val n2 = Sources.incrementalIngest(spark, in, mf, tg)
    assert(n2 == 2, s"second run must ingest ONLY batch 2's files, got $n2")
    val n3 = Sources.incrementalIngest(spark, in, mf, tg)
    assert(n3 == 0, s"third run must ingest nothing, got $n3")
    // target equals the source exactly — nothing dropped, nothing doubled
    val got = spark.read.parquet(tg)
    assert(got.count() == orders.count())
    assert(got.select("o_orderkey").distinct().count() == orders.count())
  }

  test("L21 law: planted footer is flagged in every source; organic docs read zero boilerplate") {
    val out = SparkEntry.queries("l21_boilerplate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_boiler")))
    assert(out.nonEmpty)
    val (even, odd) = out.partition(_._1 % 2 == 0)
    // every footer-carrying doc sees at least the pure footer 5-gram
    assert(even.forall(_._2 >= 1),
      s"footer not detected on ${even.count(_._2 == 0)} planted docs")
    // no organic 5-gram crosses the 30% document-frequency line
    assert(odd.forall(_._2 == 0),
      s"organic text got flagged on ${odd.count(_._2 > 0)} docs — threshold too low")
  }

  test("Y36 law: readers see v2 after an aborted publish; rollback restores v1 bit-identically") {
    val root = java.nio.file.Files.createTempDirectory("graft_y36").toString + "/pub"
    val v1 = Tables.orders(spark, sf)
    val v2 = Sync.sourceView(spark, sf)
    assert(Sync.publish(spark, v1, root, 1, _.head(1).nonEmpty))
    assert(Sync.publish(spark, v2, root, 2, _.head(1).nonEmpty))
    // poisoned publish: fails validation, must not become visible
    assert(!Sync.publish(spark, v1.filter(col("o_orderkey") < 0), root, 3,
      _.head(1).nonEmpty))
    val (ver, cur) = Sync.readPublished(spark, root)
    assert(ver == "v2" && cur.count() == v2.count(),
      "aborted publish disturbed the live version")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staging_v3")),
      "aborted publish leaked its staging dir")
    // rollback: repoint only — v1's files were never touched by v2/v3
    Sync.repoint(spark, root, 1)
    val (ver2, back) = Sync.readPublished(spark, root)
    assert(ver2 == "v1")
    assert(back.exceptAll(v1).isEmpty && v1.exceptAll(back).isEmpty,
      "rollback did not restore v1 bit-identically")
  }

  test("Y37 law: GC spares the window and the live version; rollback outside the window refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft_y37").toString + "/pub"
    val v2data = Sync.sourceView(spark, sf)
    Sync.publish(spark, Tables.orders(spark, sf), root, 1, _.head(1).nonEmpty)
    Sync.publish(spark, v2data, root, 2, _.head(1).nonEmpty)
    Sync.publish(spark, Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 2 === 0), root, 3, _.head(1).nonEmpty)
    val doomed = Sync.gcPublished(spark, root, keepPrevious = 1).deleted
    assert(doomed == Seq("v1"), s"GC reaped the wrong set: $doomed")
    // the rollback window survived bit-identically and is still usable
    val v2 = spark.read.parquet(s"$root/v2")
    assert(v2.exceptAll(v2data).isEmpty && v2data.exceptAll(v2).isEmpty)
    Sync.repoint(spark, root, 2)
    assert(Sync.readPublished(spark, root)._1 == "v2")
    // outside the window the rollback fails loudly, never half-works
    intercept[IllegalArgumentException] { Sync.repoint(spark, root, 1) }
    assert(Sync.readPublished(spark, root)._1 == "v2",
      "failed repoint disturbed the pointer")
  }

  test("Y37 law: GC retention window is rank-based over existing versions, not numeric distance") {
    // sparse numbering (v1, v5, v9): "keep 1 previous" must keep v5 —
    // numeric distance (n < cur - 1) would reap BOTH v1 and v5 and
    // empty the rollback window
    val root = java.nio.file.Files.createTempDirectory("graft_y37s").toString + "/pub"
    val small = Tables.region(spark, sf)
    Seq(1, 5, 9).foreach(v =>
      assert(Sync.publish(spark, small, root, v, _.head(1).nonEmpty)))
    val doomed = Sync.gcPublished(spark, root, keepPrevious = 1).deleted
    assert(doomed == Seq("v1"), s"sparse GC reaped the wrong set: $doomed")
    Sync.repoint(spark, root, 5) // the kept window is genuinely usable
    assert(Sync.readPublished(spark, root)._1 == "v5")
  }

  test("Y36 law: publish refuses when the target version dir already exists (failed rename)") {
    val root = java.nio.file.Files.createTempDirectory("graft_y36r").toString + "/pub"
    val small = Tables.region(spark, sf)
    assert(Sync.publish(spark, small, root, 1, _.head(1).nonEmpty))
    assert(Sync.publish(spark, small, root, 2, _.head(1).nonEmpty))
    // a leftover v1 from the prior run: re-publishing version 1 must
    // refuse (rename onto an existing dir) and leave the pointer alone —
    // before the rename check this "succeeded" and pointed _CURRENT at a
    // version whose data silently nested inside the stale dir
    assert(!Sync.publish(spark, small.limit(1), root, 1, _.head(1).nonEmpty),
      "publish over an existing v1 dir must return false")
    val (ver, cur) = Sync.readPublished(spark, root)
    assert(ver == "v2", "refused publish disturbed the pointer")
    assert(cur.count() == small.count(),
      "live version's data changed across the refused publish")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staging_v1")),
      "refused publish leaked its staging dir")
    assert(spark.read.parquet(s"$root/v1").count() == small.count(),
      "refused publish corrupted the existing v1 dir")
  }

  test("S17b law: a crash between data write and manifest publish is invisible to readers and resume leaves zero duplicates") {
    val in = java.nio.file.Files.createTempDirectory("graft_s17b_in").toString
    val root = java.nio.file.Files.createTempDirectory("graft_s17b").toString + "/lake"
    val orders = Tables.orders(spark, sf)
    orders.filter(col("o_orderkey") % 3 =!= 0).repartition(4)
      .write.parquet(s"$in/b1")
    assert(Sources.ingestExactlyOnce(spark, in, root) > 0)
    val afterRun1 = Sources.readIngested(spark, root).count()
    orders.filter(col("o_orderkey") % 3 === 0).repartition(2)
      .write.parquet(s"$in/b2")
    intercept[RuntimeException] {
      Sources.ingestExactlyOnce(spark, in, root, failBeforePublish = true)
    }
    // the crashed attempt is INVISIBLE: readers still see exactly run 1
    assert(Sources.readIngested(spark, root).count() == afterRun1,
      "a reader observed the crashed attempt's data")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/batches/b1")),
      "the crash point must be AFTER the data write (orphan dir exists)")
    // resume: batch 2 lands exactly once, in a FRESH dir
    assert(Sources.ingestExactlyOnce(spark, in, root) > 0)
    val t = Sources.readIngested(spark, root)
    assert(t.count() == orders.count())
    assert(t.select("o_orderkey").distinct().count() == orders.count(),
      "resume duplicated the crashed batch")
    val refs = Sync.readPublished(spark, s"$root/manifest")._2
      .select("batch_dir").distinct().collect().map(_.getString(0)).sorted
    assert(refs.length == 2 && !refs.exists(_.endsWith("/b1")),
      s"manifest must reference b0 and b2, never the orphan b1: ${refs.toSeq}")
    // fourth run: nothing new, no manifest version churn
    val vBefore = Sync.readPublished(spark, s"$root/manifest")._1
    assert(Sources.ingestExactlyOnce(spark, in, root) == 0L)
    assert(Sync.readPublished(spark, s"$root/manifest")._1 == vBefore,
      "a no-op run must not publish a new manifest version")
  }

  test("Y38 law: copy-on-write rewrites ONLY the pruned file subset; untouched files carry byte-identically") {
    val row = SparkEntry.queries("y38_row_level_delete")(spark, sf)
      .collect()(0)
    assert(row.getAs[Boolean]("pruned_rewrite"),
      "mutation must touch SOME files but not all — pruning is the point")
    assert(row.getAs[Boolean]("untouched_intact"))
    assert(row.getAs[Boolean]("prior_version_live"))
    val root = graft.ops.Sources.stage("y38_cow")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(v: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$v")).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => st.getPath.getName -> st.getLen).toMap
    val v1 = files("v1"); val v2 = files("v2")
    // ZERO-COPY CARRY: v2's dir holds ONLY the rewritten files — a
    // carried file never moves; v2's manifest references it where it
    // has always lived (dir=v1). Physical overlap between the dirs
    // would mean bytes were copied.
    assert(v1.keySet.intersect(v2.keySet).isEmpty,
      "v2 physically duplicates v1 files — carry must be by reference")
    val m2 = spark.read.parquet(s"$root/v2/_file_stats")
      .select("dir", "file").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val carried = m2.filter(_._1 == "v1").map(_._2).toSet
    assert(carried.nonEmpty,
      "no file was carried — pruning collapsed to a full rewrite")
    // every carried reference resolves: the file still sits in v1,
    // at its original length (it was never touched, so byte identity
    // is structural, not re-checked by copy)
    carried.foreach { f =>
      assert(v1.contains(f), s"v2 references v1/$f which is gone") }
    // and v2's local manifest rows cover exactly its local files
    assert(m2.filter(_._1 == "v2").map(_._2).toSet == v2.keySet,
      "v2 manifest out of sync with its own dir")
    // pruning exactness: a v1 file was rewritten (not referenced by
    // v2) IFF its key span intersects a change band — re-derive the
    // bands the query used and check against the v1 manifest
    val o = Tables.orders(spark, sf)
    val b = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).collect()(0)
    val lo = b.getLong(0); val span = b.getLong(1) - lo
    val bands = Seq((lo, lo + span / 10),
      (lo + 4 * (span / 10), lo + 5 * (span / 10)))
    spark.read.parquet(s"$root/v1/_file_stats").collect().foreach { st =>
      val (f, kmin, kmax) =
        (st.getAs[String]("file"), st.getAs[Long]("kmin"),
          st.getAs[Long]("kmax"))
      val hits = bands.exists { case (blo, bhi) => kmin <= bhi && kmax >= blo }
      assert(hits == !carried.contains(f),
        s"file $f span [$kmin,$kmax]: intersects-band=$hits but carried=${carried.contains(f)}")
    }
    // the rewritten layout stays range-clustered: the NEXT mutation on
    // v2 (a single-key delete) prunes to exactly one file — and under
    // the zero-copy carry, v3's dir holds EXACTLY that one data file
    val v2df = Sync.readVersionDir(spark, s"$root/v2")
    val oneKey = v2df.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val oneDel = spark.range(1).select(lit(oneKey).as("o_orderkey"))
    val emptyUpd = v2df
      .select(col("o_orderkey"), col("o_totalprice")).limit(0)
    val rep2 = Sync.cowApply(spark, root, 2, 3, "o_orderkey",
      oneDel, emptyUpd)
    assert(rep2.published && rep2.nFilesRewritten == 1,
      s"single-key delete rewrote ${rep2.nFilesRewritten} files — the v2 manifest lost clustering")
    assert(files("v3").size == 1,
      s"a 1-key DELETE must write exactly 1 data file in the new " +
        s"version dir, found ${files("v3").keys}")
    assert(Sync.readVersionDir(spark, s"$root/v3").count() ==
      v2df.count() - 1)
    // a NO-OP change set publishes a fully-carried version
    val rep3 = Sync.cowApply(spark, root, 3, 4, "o_orderkey",
      oneDel.limit(0), emptyUpd)
    assert(rep3.published && rep3.nFilesRewritten == 0 &&
      rep3.untouched.size == rep3.nFilesTotal)
    assert(Sync.readPublished(spark, root)._1 == "v4")
  }

  test("Y39 law: compaction rewrites only small-file groups, carries big files byte-identically, and converges") {
    val row = SparkEntry.queries("y39_lake_optimize")(spark, sf).collect()(0)
    assert(row.getAs[Boolean]("compacted"))
    assert(row.getAs[Boolean]("big_file_carried"))
    val root = graft.ops.Sources.stage("y39_opt")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(v: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/$v")).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val nv1 = parts("v1").length
    assert(nv1 == 13, s"fixture drifted: v1 has $nv1 files")
    // the version's LOGICAL file count is its manifest row count —
    // compacted outputs sit in v2, carried big files stay in v1
    val m2 = spark.read.parquet(s"$root/v2/_file_stats")
      .select("dir", "file", "bytes").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m2.length <= 5, s"compaction left ${m2.length} files (from $nv1)")
    assert(m2.exists(_._1 == "v1"),
      "the big file must carry as a v1 reference, never a copy")
    // data lossless across the layout change
    val v1 = Sync.readVersionDir(spark, s"$root/v1")
    val v2 = Sync.readVersionDir(spark, s"$root/v2")
    assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty)
    // every LOCAL v2 data file has exactly one local manifest row (the
    // next mutation's pruning depends on it)
    assert(m2.filter(_._1 == "v2").map(_._2).sorted.toSeq ==
      parts("v2").map(_.getPath.getName).sorted.toSeq,
      "compacted manifest out of sync with the data files")
    // convergence: a second pass finds nothing small enough to merge
    val total = m2.map(_._3).sum
    val rep2 = Sync.compactPublished(spark, root, 2, 3, "o_orderkey",
      targetBytes = math.max(total / 4, 1L))
    assert(rep2.published && rep2.nFilesRewritten == 0,
      s"second compaction re-rewrote ${rep2.nFilesRewritten} files — not converging")
    // and the compacted layout still serves the cow path: a single-key
    // delete after compaction prunes to one file
    val k = v2.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val spark0 = spark
    import spark0.implicits._
    val rep3 = Sync.cowApply(spark, root, 3, 4, "o_orderkey",
      Seq(k).toDF("o_orderkey"),
      v2.select(col("o_orderkey"), col("o_totalprice")).limit(0))
    assert(rep3.published && rep3.nFilesRewritten == 1,
      s"post-compaction mutation rewrote ${rep3.nFilesRewritten} files")
  }

  test("Y36b law: interleaved publishers — one wins, one refuses, then succeeds on retry from a fresh read") {
    val root = java.nio.file.Files.createTempDirectory("graft_y36b").toString + "/pub"
    val base = Tables.region(spark, sf)
    val st0 = Sync.beginPublish(spark, base, root, 1, _.head(1).nonEmpty)
    assert(st0.isDefined && Sync.commitPublish(spark, st0.get))
    // A and B both begin from v1; B commits first
    val stA = Sync.beginPublish(spark, base.limit(3), root, 2,
      _.head(1).nonEmpty)
    val stB = Sync.beginPublish(spark, base.limit(4), root, 3,
      _.head(1).nonEmpty)
    assert(Sync.commitPublish(spark, stB.get), "B (first committer) must win")
    assert(!Sync.commitPublish(spark, stA.get),
      "A must refuse: the pointer moved between its begin and commit")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$p"))
    assert(!exists("v2") && !exists("_staging_v2"),
      "refused publish left reader-visible or staged state behind")
    assert(!exists("_COMMIT_LOCK"), "commit lock leaked")
    val (ver, cur) = Sync.readPublished(spark, root)
    assert(ver == "v3" && cur.count() == 4,
      "the table must show exactly the winner's version, never a torn mix")
    // the optimistic LOOP: A retries from a fresh read and now succeeds
    val stA2 = Sync.beginPublish(spark, base.limit(3), root, 4,
      _.head(1).nonEmpty)
    assert(Sync.commitPublish(spark, stA2.get), "retry from fresh read wins")
    assert(Sync.readPublished(spark, root)._1 == "v4")
    // same-version collision: a second in-flight staging of v5 refuses at BEGIN
    val c1 = Sync.beginPublish(spark, base.limit(2), root, 5,
      _.head(1).nonEmpty)
    assert(c1.isDefined)
    assert(Sync.beginPublish(spark, base.limit(1), root, 5,
      _.head(1).nonEmpty).isEmpty,
      "two publishers staging the same version number must not clobber")
    assert(Sync.commitPublish(spark, c1.get))
  }

  test("Y35 law: maintained top-k equals the full recompute wherever the buffer holds") {
    val out = SparkEntry.queries("y35_incremental_topk")(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getAs[Long]("n_removed"), r.getAs[Boolean]("needs_rescan")))
    // ground truth: top-3 recomputed from the whole mutated source
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val truth = Sync.sourceView(spark, sf)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .collect()
      .map(r => (r.getString(0), r.getAs[Int]("rank")) -> r.getLong(1)).toMap
    out.filter(!_._5).foreach { case (p, rank, key, _, _) =>
      assert(truth((p, rank)) == key,
        s"maintained top-$rank of '$p' diverges from the recompute")
    }
    // the delta actually touched the state (deletes/updates in top-6)
    assert(out.map(t => t._1 -> t._4).distinct.map(_._2).sum > 0,
      "no state churn — the maintenance demo is vacuous")
    assert(out.map(_._1).distinct.size == 5 && out.length == 15)
  }

  test("Y34 law: vacuum keeps as-of-horizon answers and current versions; purge is real") {
    val out = SparkEntry.queries("y34_scd2_vacuum")(spark, sf).collect()
    assert(out.nonEmpty)
    // the law the interval-intersects keep-predicate exists for: no
    // as-of query at/after the horizon changes under vacuum
    assert(out.forall(_.getAs[Boolean]("asof_stable")),
      "as-of-horizon state changed under vacuum")
    assert(out.forall(r => r.getAs[Long]("n_purged") ==
      r.getAs[Long]("n_before") - r.getAs[Long]("n_after")))
    // every user still has exactly its open version after vacuum
    assert(out.forall(_.getAs[String]("current_type") != null))
    // and the fixture horizon actually bites (non-vacuous demo)
    assert(out.map(_.getAs[Long]("n_purged")).sum > 0,
      "vacuum purged nothing — horizon vacuous for this corpus")
  }

  test("L20 law: content-defined chunks resynchronize after an inserted prefix; fixed stride does not") {
    val spark0 = spark
    import spark0.implicits._
    // A shared 240-token passage; doc B prepends 13 junk tokens (13 ∤ 8,
    // so every fixed 8-token block boundary in B is misaligned vs A).
    val rng = new scala.util.Random(42)
    val passage = Seq.fill(240)(s"w${rng.nextInt(100000)}")
    val prefix = Seq.fill(13)(s"p${rng.nextInt(100000)}")
    val dir = java.nio.file.Files.createTempDirectory("graft_l20").toString
    Seq((1L, passage.mkString(" ")),
        (2L, (prefix ++ passage).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("l20_cdc_chunks")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) >= 1 && out(2L) >= 1,
      s"CDC chunks failed to resynchronize across the prefix: $out")
    // the contrast CDC exists to beat: fixed-stride chunking of the SAME
    // two token streams shares nothing once alignment shifts
    def strideHashes(t: Seq[String]) =
      t.grouped(8).map(_.mkString(" ")).toSet
    assert(strideHashes(passage)
      .intersect(strideHashes(prefix ++ passage)).isEmpty,
      "fixed-stride chunks unexpectedly survived the shift — contrast is vacuous")
  }

  test("M3 binaryFile ingest: bytes round-trip; glob prunes; features match m1") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("media_m3")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(50).collect()
    docs.foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"doc_${r.getLong(0)}.bin"),
        r.getString(1).getBytes("UTF-8"))
    }
    // a decoy that must be pruned at listing time, never read
    java.nio.file.Files.write(dir.resolve("manifest.txt"),
      "not media".getBytes("UTF-8"))
    val got = Multimodal.binaryFileIngest(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Array[Byte]]("content"))).toMap
    assert(got.size == docs.length, "glob filter let the decoy through or dropped a file")
    docs.foreach { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      val (len, content) = got(r.getLong(0))
      assert(len == bytes.length && java.util.Arrays.equals(content, bytes),
        s"payload for doc ${r.getLong(0)} did not round-trip")
    }
    // the ingested payloads feed the same decode path as the in-table m1
    val viaFiles = got.map { case (id, (_, content)) =>
      Multimodal.decodeStub(Iterator(
        Multimodal.MediaDoc(id, content, "", 0L))).next()
    }.map(f => f.doc_id -> (f.n_bytes, f.first_byte, f.head_sum)).toMap
    val viaTable = SparkEntry.queries("m1_multimodal_features")(spark, sf)
      .filter(col("doc_id").isInCollection(viaFiles.keys.toSeq)).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    assert(viaFiles == viaTable, "file-ingested features diverged from m1")
  }

  test("Y40 law: MOR delete rewrites zero data bytes; read subtracts the DV broadcast-anti; fold equals the MOR view") {
    val row = SparkEntry.queries("y40_deletion_vectors")(spark, sf)
      .collect()(0)
    assert(row.getAs[Boolean]("zero_copy_delete"))
    assert(row.getAs[Boolean]("dv_accumulated"))
    assert(row.getAs[Boolean]("folded_clean"))
    assert(row.getAs[Boolean]("pruned_fold"))
    val root = graft.ops.Sources.stage("y40_mor")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // zero-copy means ZERO data-file movement: a DV publish writes a
    // vector sidecar and a manifest whose every data row still points
    // at v1 — the version dir itself holds no data files at all
    def localData(v: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$v")).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath.getName)
    assert(localData("v3").isEmpty,
      s"a MOR delete physically wrote data files: ${localData("v3")}")
    val m3 = spark.read.parquet(s"$root/v3/_file_stats")
      .select("dir", "file").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(m3.nonEmpty && m3.forall(_._1 == "v1"),
      s"v3 manifest must reference every data file in v1: ${m3.toSeq}")
    m3.foreach { case (_, f) =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/$f")),
        s"v3 references v1/$f which is gone") }
    // the MOR read of v3 (base anti DV) must equal the folded v4 —
    // fold is a pure layout change of the same logical content
    val v3dv = spark.read.parquet(s"$root/v3/_deletes")
    val morV3 = Sync.readVersionDir(spark, s"$root/v3")
      .join(broadcast(v3dv), Seq("o_orderkey"), "left_anti")
    val v4 = Sync.readVersionDir(spark, s"$root/v4")
    assert(morV3.exceptAll(v4).isEmpty && v4.exceptAll(morV3).isEmpty,
      "dvFold changed the logical content")
    // accumulation is monotone: v3's vector contains all of v2's
    val v2dv = spark.read.parquet(s"$root/v2/_deletes")
    assert(v2dv.join(v3dv, Seq("o_orderkey"), "left_anti").isEmpty,
      "v3 dropped keys from v2's deletion vector")
    // plan law: a MOR read WITH a live vector (v3; the folded v4
    // rightly plans as a bare scan) is a BROADCAST anti-join — the
    // base table must not shuffle to subtract a delta-sized vector
    morV3.collect()
    val plan = morV3.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"MOR read plan is not a broadcast anti-join:\n$plan")
    // and the pointer-resolved read after the fold is sidecar-free
    val (v, cleanRead) = graft.ops.Sync
      .readPublishedMor(spark, root, "o_orderkey")
    assert(v == "v4" &&
      !cleanRead.queryExecution.executedPlan.toString.contains("Join"),
      "post-fold MOR read should be a bare scan")
  }

  test("Y41 law: CDF replay reconstructs v2 from v1; carried files are never scanned; self-diff is empty") {
    SparkEntry.queries("y41_change_data_feed")(spark, sf).collect()
    val root = graft.ops.Sources.stage("y41_cdf")
    val cdf = graft.ops.Sync.lakeChanges(spark, root, 1, 2, "o_orderkey")
    assert(cdf.scannedFrom < cdf.totalFrom &&
      cdf.scannedTo < cdf.totalTo,
      s"diff scanned everything: ${cdf.scannedFrom}/${cdf.totalFrom} " +
        s"from, ${cdf.scannedTo}/${cdf.totalTo} to")
    // the fundamental CDF law: v1 patched with the recovered changelog
    // IS v2 — any ghost U, missed D, or dropped I breaks set equality
    val v1 = graft.ops.Sync.readVersionDir(spark, s"$root/v1")
    val v2 = graft.ops.Sync.readVersionDir(spark, s"$root/v2")
    val ch = cdf.changes.cache()
    val touched = ch.select("o_orderkey")
    val replayed = v1
      .join(broadcast(touched), Seq("o_orderkey"), "left_anti")
      .unionByName(ch.filter(col("op") =!= "D").drop("op"))
    assert(replayed.exceptAll(v2).isEmpty && v2.exceptAll(replayed).isEmpty,
      "v1 + recovered changelog != v2")
    // D rows carry the pre-image (they have no post-image to show)
    val dRows = ch.filter(col("op") === "D").drop("op")
    assert(dRows.exceptAll(v1).isEmpty,
      "a D row's payload is not the v1 pre-image")
    ch.unpersist()
    // self-diff: zero changes, zero files scanned (every file carries)
    val selfCdf = graft.ops.Sync.lakeChanges(spark, root, 1, 1,
      "o_orderkey")
    assert(selfCdf.scannedFrom == 0 && selfCdf.scannedTo == 0 &&
      selfCdf.changes.isEmpty,
      "diffing a version against itself must scan nothing")
  }

  test("Y40b law: DVs survive compaction, upserts resurrect, ghost updates stay hidden, CDF sees through MOR") {
    // The composition matrix the lake primitives must close over:
    // compaction and cow rewrites on a MOR version must CARRY the
    // deletion vector (dropping it resurrects every deleted row), a
    // CDC upsert re-asserts its key (CDC semantics), a plain cowApply
    // UPDATE of a DV'd key is the SQL no-op (no logical row matches),
    // and the change-data-feed must read LOGICAL content on both sides
    // (a DV-only transition is all-D with carried-file pre-images; a
    // fold or compaction diffs to zero despite the file churn).
    val spark0 = spark
    import spark0.implicits._
    val sf0 = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_y40b")
      .toString + "/lake"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val proj = graft.ops.Tables.orders(spark, sf0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(graft.ops.Sync.publish(spark,
      proj.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
    graft.ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
    val b = proj.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b.getLong(0); val span = b.getLong(1) - lo
    val dv1 = proj.filter(col("o_orderkey").between(lo, lo + span / 10) &&
      col("o_orderkey") % 3 === 0).select("o_orderkey").cache()
    assert(graft.ops.Sync.dvDelete(spark, root, 1, 2, "o_orderkey", dv1)
      .published)
    // CDF over a DV-only transition: zero file churn, yet every DV'd
    // key surfaces as D with its carried-file pre-image
    val cdf12 = graft.ops.Sync.lakeChanges(spark, root, 1, 2, "o_orderkey")
    assert(cdf12.scannedFrom == 0 && cdf12.scannedTo == 0,
      "a DV publish should not churn data files")
    val ch12 = cdf12.changes.cache()
    assert(ch12.filter(col("op") =!= "D").isEmpty)
    assert(ch12.select("o_orderkey").exceptAll(dv1).isEmpty &&
      dv1.exceptAll(ch12.select("o_orderkey")).isEmpty,
      "MOR CDF missed or invented deleted keys")
    assert(ch12.drop("op").exceptAll(proj.join(dv1, Seq("o_orderkey"),
      "left_semi")).isEmpty, "MOR CDF pre-images diverge from v1 rows")
    ch12.unpersist()
    // compaction carries the vector; the MOR view is unchanged and the
    // CDF across the compaction is EMPTY despite the file churn. A DV
    // publish writes no data files, so v2's sizes live in its MANIFEST
    // (zero-copy refs into v1), not its dir.
    val bytes2 = spark.read.parquet(s"$root/v2/_file_stats")
      .agg(sum(col("bytes"))).collect()(0).getLong(0)
    val rep3 = graft.ops.Sync.compactPublished(spark, root, 2, 3,
      "o_orderkey", targetBytes = math.max(bytes2 / 2, 1L))
    assert(rep3.published && rep3.nFilesRewritten >= 2,
      s"fixture drifted: compaction rewrote ${rep3.nFilesRewritten} files")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v3/_deletes")),
      "compaction dropped the deletion vector")
    val mor2 = graft.ops.Sync.readVersionDir(spark, s"$root/v2")
      .join(dv1, Seq("o_orderkey"), "left_anti")
    val mor3 = graft.ops.Sync.readVersionDir(spark, s"$root/v3")
      .join(spark.read.parquet(s"$root/v3/_deletes"),
        Seq("o_orderkey"), "left_anti")
    assert(mor3.exceptAll(mor2).isEmpty && mor2.exceptAll(mor3).isEmpty,
      "compaction changed the MOR view")
    assert(graft.ops.Sync.lakeChanges(spark, root, 2, 3, "o_orderkey")
      .changes.isEmpty,
      "CDF across a compaction must be empty — it is a pure layout change")
    // CDC upsert of a DV'd key RESURRECTS it (and only it)
    val dvKeys = dv1.orderBy("o_orderkey").collect().map(_.getLong(0))
    val (kRes, kGhost) = (dvKeys(0), dvKeys(1))
    val resRow = Seq((kRes, 7L, 42.5, "U", 100L))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "op", "version")
    assert(graft.ops.Sync.cowApplyChanges(spark, root, 3, 4,
      "o_orderkey", resRow).published)
    val (_, mor4) = graft.ops.Sync.readPublishedMor(spark, root,
      "o_orderkey")
    assert(mor4.filter(col("o_orderkey") === kRes).count() == 1,
      "upsert did not resurrect the DV'd key")
    assert(mor4.filter(col("o_orderkey") === kRes)
      .collect()(0).getDouble(2) == 42.5)
    assert(mor4.filter(col("o_orderkey") === kGhost).isEmpty,
      "a non-upserted DV'd key leaked back")
    assert(spark.read.parquet(s"$root/v4/_deletes")
      .filter(col("o_orderkey") === kRes).isEmpty,
      "resurrected key still in the carried vector")
    // and the CDF reports the resurrection as I (from-side was a ghost)
    val ch34 = graft.ops.Sync.lakeChanges(spark, root, 3, 4, "o_orderkey")
      .changes.collect()
    assert(ch34.length == 1 && ch34(0).getAs[String]("op") == "I" &&
      ch34(0).getAs[Long]("o_orderkey") == kRes,
      s"resurrection should diff as a single I, got ${ch34.toSeq}")
    // plain cowApply UPDATE of a DV'd key is the SQL no-op: the ghost
    // is modified physically but stays subtracted at read
    val ghostUpd = Seq((kGhost, 123456.0))
      .toDF("o_orderkey", "o_totalprice")
    assert(graft.ops.Sync.cowApply(spark, root, 4, 5, "o_orderkey",
      ghostUpd.select("o_orderkey").limit(0), ghostUpd).published)
    val (_, mor5) = graft.ops.Sync.readPublishedMor(spark, root,
      "o_orderkey")
    assert(mor5.filter(col("o_orderkey") === kGhost).isEmpty,
      "updating a logically-deleted row must not resurrect it")
    assert(graft.ops.Sync.lakeChanges(spark, root, 4, 5, "o_orderkey")
      .changes.isEmpty,
      "a ghost-only update must diff to zero logical changes")
    // fold drops the vector; the CDF across the fold is empty
    assert(graft.ops.Sync.dvFold(spark, root, 5, 6, "o_orderkey")
      .published)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v6/_deletes")))
    assert(graft.ops.Sync.lakeChanges(spark, root, 5, 6, "o_orderkey")
      .changes.isEmpty,
      "CDF across a fold must be empty — it only materializes the vector")
    dv1.unpersist()
  }

  test("Y43 law: evolution is zero-copy metadata; mixed-vintage files compact cleanly; refusals are loud") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.types.{StructField, DoubleType, StringType}
    val sf0 = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_y43")
      .toString + "/lake"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val proj = graft.ops.Tables.orders(spark, sf0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(graft.ops.Sync.publish(spark,
      proj.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
    graft.ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
    assert(graft.ops.Sync.evolveSchema(spark, root, 1, 2,
      Seq(StructField("o_score", DoubleType, nullable = true))))
    // zero-copy = ZERO data-file movement: evolution writes only the
    // _schema sidecar + a manifest referencing every v1 file in place
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/v2"))
      .forall(st => !(st.isFile && st.getPath.getName.startsWith("part-"))),
      "evolution physically wrote data files into v2")
    val m2 = spark.read.parquet(s"$root/v2/_file_stats")
      .select("dir", "file").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(m2.nonEmpty && m2.forall(_._1 == "v1"),
      s"v2 manifest must reference every data file in v1: ${m2.toSeq}")
    m2.foreach { case (_, f) =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/$f")),
        s"v2 references v1/$f which is gone") }
    assert(graft.ops.Sync.lakeChanges(spark, root, 1, 2, "o_orderkey")
      .changes.isEmpty, "CDF across an evolution must be empty")
    // backfill a band through the ordinary cow path, then COMPACT the
    // mixed-vintage layout: pre-evolution carries and backfilled
    // rewrites must bin-pack together under the schema overlay
    val b = proj.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b.getLong(0); val span = b.getLong(1) - lo
    val backfill = proj
      .filter(col("o_orderkey").between(lo + 4 * (span / 10),
        lo + 5 * (span / 10)))
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_score"))
    assert(graft.ops.Sync.cowApply(spark, root, 2, 3, "o_orderkey",
      backfill.select("o_orderkey").limit(0), backfill).published)
    val v3 = graft.ops.Sync.readVersionDir(spark, s"$root/v3")
      .select("o_orderkey", "o_score")
    // v3's total size lives in its manifest — its dir holds only the
    // backfill rewrites, the pre-evolution carries stay in v1
    val bytes3 = spark.read.parquet(s"$root/v3/_file_stats")
      .agg(sum(col("bytes"))).collect()(0).getLong(0)
    val repC = graft.ops.Sync.compactPublished(spark, root, 3, 4,
      "o_orderkey", targetBytes = math.max(bytes3 / 2, 1L))
    assert(repC.published && repC.nFilesRewritten >= 2,
      s"fixture drifted: compaction rewrote ${repC.nFilesRewritten}")
    val v4 = graft.ops.Sync.readVersionDir(spark, s"$root/v4")
      .select("o_orderkey", "o_score")
    assert(v4.exceptAll(v3).isEmpty && v3.exceptAll(v4).isEmpty,
      "compaction lost or invented evolved-column values")
    assert(graft.ops.Sync.lakeChanges(spark, root, 3, 4, "o_orderkey")
      .changes.isEmpty, "CDF across a mixed-vintage compaction not empty")
    // MOR on an evolved table: the DV subtracts, the column survives
    val dvB = proj.filter(col("o_orderkey") % 11 === 0)
      .select("o_orderkey")
    assert(graft.ops.Sync.dvDelete(spark, root, 4, 5, "o_orderkey", dvB)
      .published)
    val (v5n, mor5) = graft.ops.Sync.readPublishedMor(spark, root,
      "o_orderkey")
    assert(v5n == "v5" && mor5.columns.contains("o_score"))
    assert(mor5.join(dvB, Seq("o_orderkey"), "left_semi").isEmpty,
      "MOR read on the evolved table leaked deleted keys")
    // a second evolution on the MOR version carries the vector
    assert(graft.ops.Sync.evolveSchema(spark, root, 5, 6,
      Seq(StructField("o_tag", StringType, nullable = true))))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v6/_deletes")),
      "evolution dropped the deletion vector")
    assert(graft.ops.Sync.readPublishedMor(spark, root, "o_orderkey")
      ._2.columns.sorted.toSeq ==
      Seq("o_custkey", "o_orderkey", "o_score", "o_tag", "o_totalprice"),
      "second evolution lost a column")
    // refusals: collision and non-nullable both throw before staging
    intercept[IllegalArgumentException] {
      graft.ops.Sync.evolveSchema(spark, root, 6, 7,
        Seq(StructField("o_score", DoubleType, nullable = true)))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Sync.evolveSchema(spark, root, 6, 7,
        Seq(StructField("o_flag", DoubleType, nullable = false)))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v7")),
      "a refused evolution left a published version behind")
  }

  test("Y41b law: direct CDF over a version RANGE equals the net effect of the per-step feeds") {
    // lakeChanges(v1, v3) never replays intermediate states — it diffs
    // the two endpoint listings directly. So a key updated in v2 and
    // reverted in v3 must produce NO net change row, inserted-then-
    // deleted must vanish, and a two-step update must surface once
    // with the FINAL post-image. The law: direct(v1,v3) == net of
    // (v1,v2) then (v2,v3), where net cancels I+D, collapses U+U,
    // rewrites I+U to I, and drops U-that-reverts.
    val spark0 = spark
    import spark0.implicits._
    val sf0 = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_y41b")
      .toString + "/lake"
    val proj = graft.ops.Tables.orders(spark, sf0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(graft.ops.Sync.publish(spark,
      proj.repartitionByRange(6, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
    graft.ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
    val ks = proj.orderBy("o_orderkey").limit(4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val (kRevert, kTwice, kDel, kStay) =
      (ks(0), ks(1), ks(2), ks(3))
    val kNew = proj.agg(max(col("o_orderkey"))).collect()(0)
      .getLong(0) + 7000
    def chg(k: (Long, Long, Double), price: Double, op: String,
            ver: Long) =
      (k._1, k._2, price, op, ver)
    // step v1→v2: revert-candidate +5, twice-candidate +10, insert
    // kNew, delete kDel, stay-candidate untouched
    val step1 = Seq(
      chg(kRevert, kRevert._3 + 5, "U", 1),
      chg(kTwice, kTwice._3 + 10, "U", 2),
      ((kNew, 555L, 9.5, "I", 3L)),
      chg(kDel, kDel._3, "D", 4))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "op", "version")
    assert(graft.ops.Sync.cowApplyChanges(spark, root, 1, 2,
      "o_orderkey", step1).published)
    // step v2→v3: revert back to the original, bump twice-candidate
    // again, delete the key inserted in step 1
    val step2 = Seq(
      chg(kRevert, kRevert._3, "U", 5),
      chg(kTwice, kTwice._3 + 20, "U", 6),
      ((kNew, 555L, 9.5, "D", 7L)))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "op", "version")
    assert(graft.ops.Sync.cowApplyChanges(spark, root, 2, 3,
      "o_orderkey", step2).published)
    val direct = graft.ops.Sync.lakeChanges(spark, root, 1, 3,
      "o_orderkey").changes.collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getDouble(3))).toMap
    assert(direct.get(kTwice._1).contains(("U", kTwice._3 + 20)),
      s"two-step update must net to one U with the FINAL image: $direct")
    assert(direct.get(kDel._1).map(_._1).contains("D"),
      "a step-1 delete must survive into the range feed")
    assert(!direct.contains(kRevert._1),
      "an update reverted in the next version must not net-change")
    assert(!direct.contains(kNew),
      "insert-then-delete must vanish from the range feed")
    assert(direct.size == 2, s"unexpected net rows: $direct")
  }

  test("Y44 law: a mid-commit reader sees the OLD consistent group; carry-forward moves one table with zero data movement") {
    val sf0 = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft_y44")
      .toString + "/grp"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = graft.ops.Tables.orders(spark, sf0)
      .select("o_orderkey", "o_totalprice")
    val li = graft.ops.Tables.lineitem(spark, sf0)
      .select("l_orderkey", "l_extendedprice")
    assert(graft.ops.Sync.publishGroup(spark, root,
      Seq("orders" -> o, "lineitem" -> li), 1, _.head(1).nonEmpty))
    val nO1 = o.count(); val nL1 = li.count()
    val b = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b.getLong(0); val span = b.getLong(1) - lo
    val o2 = o.filter(!(col("o_orderkey").between(lo, lo + span / 10) &&
      col("o_orderkey") % 3 === 0))
    val l2 = li.join(o2.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    def orphans(g: Map[String, (Int, org.apache.spark.sql.DataFrame)])
        : Long =
      g("lineitem")._2.join(g("orders")._2
        .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti").count()
    // MID-COMMIT: the new orders version LANDS (stage + rename) but the
    // pointer has not moved — a reader must still resolve the old,
    // CONSISTENT pair, never new-parent/old-children
    val staging = new org.apache.hadoop.fs.Path(
      s"$root/orders/_staging_v2")
    o2.write.mode("overwrite").parquet(staging.toString)
    assert(fs.rename(staging,
      new org.apache.hadoop.fs.Path(s"$root/orders/v2")))
    val mid = graft.ops.Sync.readPublishedGroup(spark, root)
    assert(mid("orders")._1 == 1 && mid("lineitem")._1 == 1,
      "a mid-commit reader resolved a landed-but-uncommitted version")
    assert(mid("orders")._2.count() == nO1 &&
      mid("lineitem")._2.count() == nL1 && orphans(mid) == 0)
    // the retry accepts its own landed dir (idempotent) and commits
    assert(graft.ops.Sync.publishGroup(spark, root,
      Seq("orders" -> o2, "lineitem" -> l2), 2, _.head(1).nonEmpty))
    val g2 = graft.ops.Sync.readPublishedGroup(spark, root)
    assert(g2("orders")._1 == 2 && g2("lineitem")._1 == 2)
    assert(g2("orders")._2.count() < nO1 && orphans(g2) == 0,
      "committed group lost FK consistency")
    // carry-forward: a child-only change moves ONE table; the parent
    // stays pinned at v2 with zero data movement (no orders/v3 dir)
    val l3 = l2.filter(col("l_orderkey") % 2 === 0)
    assert(graft.ops.Sync.publishGroup(spark, root,
      Seq("lineitem" -> l3), 3, _.head(1).nonEmpty))
    val g3 = graft.ops.Sync.readPublishedGroup(spark, root)
    assert(g3("orders")._1 == 2 && g3("lineitem")._1 == 3,
      s"carry-forward versions wrong: ${g3.view.mapValues(_._1).toMap}")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/orders/v3")),
      "carry-forward moved parent data")
    assert(orphans(g3) == 0 &&
      g3("lineitem")._2.count() == l3.count())
  }

  test("R11 pointer law: commits are create-exclusive generations; a lost mirror is invisible; rollback is a new generation naming an old version") {
    val root = java.nio.file.Files.createTempDirectory("graft_ptr")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$root/$n")
    val o = graft.ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    assert(Sync.publish(spark, o, root, 1, _.head(1).nonEmpty))
    assert(Sync.publish(spark, o.filter(col("o_orderkey") % 2 === 0),
      root, 2, _.head(1).nonEmpty))
    // the authoritative record is the numbered immutable generations
    assert(fs.exists(p("_ptr_gen_00001")) && fs.exists(p("_ptr_gen_00002")),
      "pointer commits did not land as create-exclusive generations")
    assert(Sync.readPublished(spark, root)._1 == "v2")
    // object-store crash shape: the convenience mirror is LOST (its
    // write is best-effort and non-atomic) — readers must not care
    fs.delete(p("_CURRENT"), false)
    assert(Sync.readPublished(spark, root)._1 == "v2",
      "reader depended on the non-authoritative _CURRENT mirror")
    // rollback = roll FORWARD: a NEW generation naming the OLD version;
    // history stays append-only and inspectable
    Sync.repoint(spark, root, 1)
    assert(fs.exists(p("_ptr_gen_00003")) &&
      Sync.readPublished(spark, root)._1 == "v1",
      "repoint did not commit as a new pointer generation")
    // no rename machinery anywhere on the commit path
    assert(!fs.exists(p("_CURRENT.tmp")),
      "rename-era tmp residue found on the commit path")
  }

  test("R11 lease law: GC keeps a pinned out-of-window version and reports it; an expired lease is reaped with its version") {
    val root = java.nio.file.Files.createTempDirectory("graft_pin")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$root/$n")
    val o = graft.ops.Tables.region(spark, sf)
    (1 to 4).foreach(v =>
      assert(Sync.publish(spark, o, root, v, _.head(1).nonEmpty)))
    val now = System.currentTimeMillis()
    // a long reader pins v1 (out of the keepPrevious=1 window)
    Sync.pinVersion(spark, root, 1, "readerA", now + 3600 * 1000L)
    val g1 = Sync.gcPublished(spark, root, keepPrevious = 1, nowMs = now)
    assert(g1.deleted == Seq("v2") && g1.pinnedKept == Seq("v1"),
      s"GC ignored the live lease: $g1")
    assert(fs.exists(p("v1")), "GC reaped a pinned version")
    // the reader died without releasing: once the lease lapses, the pin
    // file is itself garbage and the version follows it out
    val g2 = Sync.gcPublished(spark, root, keepPrevious = 1,
      nowMs = now + 2 * 3600 * 1000L)
    assert(g2.deleted == Seq("_pin_v1_readerA", "v1") &&
      g2.pinnedKept.isEmpty,
      s"expired lease did not release retention: $g2")
    assert(!fs.exists(p("v1")) && !fs.exists(p("_pin_v1_readerA")))
    // explicit release path
    Sync.pinVersion(spark, root, 3, "readerB", now + 3600 * 1000L)
    Sync.unpinVersion(spark, root, 3, "readerB")
    assert(!fs.exists(p("_pin_v3_readerB")))
    // pointer-generation history is trimmed to a bounded window
    assert(Sync.pointerGenerations(fs, root).size <= 2,
      "GC left unbounded pointer-generation history")
  }

  test("R11 merge NULL-clause law: a clause condition evaluating to NULL does not fire — the row survives and the counters agree") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mnull")
      .toString + "/t"
    val tgt = Seq((1L, 50.0, "A"), (2L, 60.0, "A"), (3L, 70.0, "A"))
      .toDF("k", "price", "st")
    Sync.publish(spark, tgt.repartition(1), root, 1, _.head(1).nonEmpty)
    Sync.writeFileStats(spark, s"$root/v1", "k")
    // source: k=1 carries a NULL price (delete-condition → NULL),
    // k=2 trips the delete condition, k=3 stays below it
    val src = Seq((1L, Option.empty[Double], "B"),
        (2L, Some(999.0), "B"), (3L, Some(71.0), "B"))
      .toDF("k", "price", "st")
    val rep = Sync.mergeInto(spark, root, 1, 2, "k", src,
      matchedDeleteCond = Some(col("src_price") > 100.0),
      matchedUpdateCond = None, notMatchedInsertCond = None,
      nmbsDelete = None)
    assert(rep.published && rep.cardinalityOk)
    // SQL MERGE: NULL condition = clause does not fire → k=1 is NOT
    // deleted; it falls through to the unconditional UPDATE
    val (_, cur) = Sync.readPublished(spark, root)
    val rows = cur.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      s"NULL delete-condition mis-routed: ${rows.mkString(",")}")
    assert(rows(0).isNullAt(1) && rows(0).getString(2) == "B",
      "k=1 should have taken the UPDATE path with the source's values")
    // counters tell the same story the filter enacted
    assert(rep.nMatchedDeleted == 1 && rep.nMatchedUpdated == 2,
      s"clause counters disagree with routing: $rep")
  }

  test("R11 merge MOR-ghost law: a DV-deleted key is NOT MATCHED — re-asserted only by a firing INSERT; unasserted ghosts keep their DV entry") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mghost")
      .toString + "/t"
    val tgt = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "price")
    Sync.publish(spark, tgt.repartition(1), root, 1, _.head(1).nonEmpty)
    Sync.writeFileStats(spark, s"$root/v1", "k")
    // MOR-delete k=1 and k=2: physical bytes stay, DV hides them
    assert(Sync.dvDelete(spark, root, 1, 2, "k",
      Seq(1L, 2L).toDF("k")).published)
    // merge: k=1 (ghost, insert fires) must come back with the SOURCE
    // values; k=2 (ghost, insert does NOT fire) must stay deleted and
    // keep its DV entry; k=3 (live) updates
    val src = Seq((1L, 111.0), (2L, 222.0), (3L, 33.0))
      .toDF("k", "price")
    val rep = Sync.mergeInto(spark, root, 2, 3, "k", src,
      matchedDeleteCond = None, matchedUpdateCond = None,
      notMatchedInsertCond = Some(col("src_price") < 200.0),
      nmbsDelete = None)
    assert(rep.published, s"merge refused: $rep")
    val (_, cur) = Sync.readPublishedMor(spark, root, "k")
    val got = cur.orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got == Seq(1L -> 111.0, 3L -> 33.0, 4L -> 40.0),
      s"ghost routing wrong: $got")
    // the stale pre-delete bytes must NOT have resurfaced for k=1
    assert(!got.contains(1L -> 10.0), "ghost resurrected with stale values")
    // k=2's DV entry survived (the merge never re-asserted it)
    val dv = spark.read.parquet(s"$root/v3/_deletes")
      .collect().map(_.getLong(0)).toSet
    assert(dv.contains(2L) && !dv.contains(1L),
      s"carried DV wrong: $dv")
    // MATCHED relationship is vs logical content: ghosts are not matches
    assert(rep.nMatchedUpdated == 1 && rep.nInserted == 1,
      s"counters saw ghosts as matches: $rep")
  }

  test("R11 group abort law: a failed re-publish never deletes dirs the committed group references") {
    val root = java.nio.file.Files.createTempDirectory("graft_gabort")
      .toString + "/grp"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = graft.ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    val r = graft.ops.Tables.region(spark, sf)
    assert(Sync.publishGroup(spark, root,
      Seq("orders" -> o, "region" -> r), 1, _.head(1).nonEmpty))
    // a re-run of the committed publish IS adopted (idempotent retry)
    assert(Sync.publishGroup(spark, root,
      Seq("orders" -> o, "region" -> r), 1, _.head(1).nonEmpty))
    // the dangerous shape: the group EXTENDED at the same version with
    // a table that fails validation — the retry branch adopts the two
    // live v1 dirs into `landed`, the new table aborts the attempt,
    // and the abort must NOT reap the adopted committed dirs
    val n = graft.ops.Tables.nation(spark, sf)
    assert(!Sync.publishGroup(spark, root,
      Seq("orders" -> o, "region" -> r, "nation" -> n.limit(0)), 1,
      _.head(1).nonEmpty))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/orders/v1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/region/v1")),
      "abort deleted dirs the committed group pointer references")
    val g = Sync.readPublishedGroup(spark, root)
    assert(g("orders")._1 == 1 && g("orders")._2.count() == o.count(),
      "committed group unreadable after aborted re-publish")
    // mid-swap mirror loss: the group's authoritative state is the
    // newest generation, so a vanished _CURRENT_GROUP changes nothing
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_CURRENT_GROUP"), false)
    val g2 = Sync.readPublishedGroup(spark, root)
    assert(g2("region")._1 == 1,
      "reader saw an empty group when the mirror was mid-swap/lost")
  }

  test("Y49 law: partition-first pruning — same key span in both partitions, a one-partition change leaves the other byte-identical; new partitions are frontier") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_y49")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: String): Array[Byte] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(p))
      val out = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      finally in.close()
      out.toByteArray
    }
    // partitions a and b hold the SAME key span — the layout where
    // span-only pruning (flat y38) would touch every partition
    val v1 = Seq(("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 1L, 100.0), ("b", 2L, 200.0)).toDF("p", "k", "x")
    assert(Sync.publish(spark, v1.repartition(1), root, 1,
      _.head(1).nonEmpty, Some("p")))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    def nParts(files: Seq[String]) = files.map(_.split("/", 2)(0)).distinct.size
    val b1 = Seq(("a", 1L, 11.0, "U", 1L)).toDF("p", "k", "x", "op", "version")
    val rep = Sync.cowApplyChanges(spark, root, 1, 2, "k", b1)
    assert(rep.published && rep.nFilesRewritten == 1 &&
      nParts(rep.rewritten) == 1 &&
      nParts(rep.rewritten ++ rep.untouched) == 2,
      s"partition-first prune failed: $rep")
    val bFiles = rep.untouched.filter(_.startsWith("p=b"))
    assert(bFiles.nonEmpty, s"partition b should carry: $rep")
    // zero-copy: the untouched partition's files are REFERENCED in v1,
    // never duplicated into v2's dir
    val m2 = spark.read.parquet(s"$root/v2/_file_stats")
      .select("dir", "file").collect()
      .map(r => (r.getString(0), r.getString(1)))
    bFiles.foreach { f =>
      assert(m2.contains(("v1", f)),
        s"carried file $f not referenced in v1 by the v2 manifest")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/$f")),
        s"carried file $f missing from v1")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v2/$f")),
        s"carried file $f was physically copied into v2")
    }
    def snap(): Set[(String, Long, Double)] =
      Sync.readPublished(spark, root)._2.collect()
        .map(r => (r.getAs[String]("p"), r.getAs[Long]("k"),
          r.getAs[Double]("x"))).toSet
    assert(snap() == Set(("a", 1L, 11.0), ("a", 2L, 20.0),
      ("b", 1L, 100.0), ("b", 2L, 200.0)), s"v2 content wrong: ${snap()}")
    // a NEW partition value is pure frontier (no rewrite for it); a
    // delete in b rewrites only b's file
    val b2 = Seq(("c", 5L, 500.0, "I", 1L), ("b", 2L, 0.0, "D", 1L))
      .toDF("p", "k", "x", "op", "version")
    val rep2 = Sync.cowApplyChanges(spark, root, 2, 3, "k", b2)
    assert(rep2.published && nParts(rep2.rewritten) == 1,
      s"frontier insert should touch no existing partition: $rep2")
    assert(snap() == Set(("a", 1L, 11.0), ("a", 2L, 20.0),
      ("b", 1L, 100.0), ("c", 5L, 500.0)), s"v3 content wrong: ${snap()}")
    // manifest knows the new partition — the NEXT mutation prunes by it
    val m3 = spark.read.parquet(s"$root/v3/_file_stats")
      .select("part").distinct().collect().map(_.getString(0)).toSet
    assert(m3 == Set("a", "b", "c"), s"v3 manifest partitions: $m3")
    // partitioned CDF: net ops, partition-local scan (a's file carried)
    val cdf = Sync.lakeChanges(spark, root, 2, 3, "k")
    val ops = cdf.changes.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(ops == Set(("I", "c", 5L), ("D", "b", 2L)),
      s"partitioned CDF wrong: $ops")
    assert(cdf.scannedFrom + cdf.scannedTo < cdf.totalFrom + cdf.totalTo,
      s"CDF scanned all files: $cdf")
  }

  test("cow persist law: a refused cowApplyChanges leaves no cached frame behind") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cowleak")
      .toString + "/t"
    // a version with no data files, hence an empty manifest
    new org.apache.hadoop.fs.Path(s"$root/v1")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(s"$root/v1"))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    val batch = Seq((1L, 1.0, "I", 1L)).toDF("k", "x", "op", "version")
    intercept[IllegalArgumentException] {
      Sync.cowApplyChanges(spark, root, 1, 2, "k", batch)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the refused mutation left its resolved batch in the cache")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the refused mutation left a persisted RDD behind")
  }

  test("flat = partitioned law: one I/U/D batch with a cross-partition move, compaction and the change feed agree across layouts") {
    val spark0 = spark
    import spark0.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_flatpart")
      .toString
    val (flat, part) = (s"$base/flat", s"$base/part")
    // every partition spans the whole key range, two files each
    val v1 = (1L to 30L).map(k => (Seq("a", "b", "c")((k % 3).toInt), k,
      k * 10.0)).toDF("p", "k", "x").repartitionByRange(2, col("k"))
    assert(Sync.publish(spark, v1, flat, 1, _.head(1).nonEmpty))
    assert(Sync.publish(spark, v1, part, 1, _.head(1).nonEmpty, Some("p")))
    Seq(flat, part).foreach(r => Sync.writeFileStats(spark, s"$r/v1", "k"))
    // U k=4 and D k=6 in place, I k=31 past every span, and k=7 moving
    // from b to the new partition d: a D then an I under (p, k), the
    // I winning latest-wins by key on the flat table
    val batch = Seq(("b", 4L, 400.0, "U", 1L), ("a", 6L, 0.0, "D", 1L),
      ("a", 31L, 310.0, "I", 1L), ("b", 7L, 0.0, "D", 1L),
      ("d", 7L, 77.0, "I", 2L)).toDF("p", "k", "x", "op", "version")
    val repF = Sync.cowApplyChanges(spark, flat, 1, 2, "k", batch)
    val repP = Sync.cowApplyChanges(spark, part, 1, 2, "k", batch)
    assert(repF.published && repP.published)
    def rows(r: String): Set[(String, Long, Double)] =
      Sync.readPublished(spark, r)._2.collect().map(x => (
        x.getAs[String]("p"), x.getAs[Long]("k"), x.getAs[Double]("x")))
        .toSet
    val expected = v1.collect().map(x => (x.getString(0), x.getLong(1),
      x.getDouble(2))).toSet.filterNot(t => Set(4L, 6L, 7L)(t._2)) ++
      Set(("b", 4L, 400.0), ("a", 31L, 310.0), ("d", 7L, 77.0))
    assert(rows(flat) == expected && rows(part) == expected)
    // the partitioned rewrite stayed inside the touched partitions:
    // c carries whole, d is pure frontier
    val touched = repP.rewritten.map(_.split("/", 2)(0)).toSet
    assert(touched.nonEmpty && touched.subsetOf(Set("p=a", "p=b")),
      s"partitioned cow rewrote outside a and b: $repP")
    assert(repP.untouched.count(_.startsWith("p=c/")) == 2, s"$repP")
    // compaction: bins never cross a partition, content is invariant
    val cF = Sync.compactPublished(spark, flat, 2, 3, "k", 64L << 20)
    val cP = Sync.compactPublished(spark, part, 2, 3, "k", 64L << 20)
    assert(cF.published && cP.published && cF.nFilesRewritten >= 2 &&
      cP.nFilesRewritten >= 2, s"$cF / $cP")
    assert(rows(flat) == expected && rows(part) == expected)
    val m3 = Sync.manifestLocal(spark, part, "v3")
    assert(m3.partCol.contains("p") && m3.rows.forall(r =>
      r.getAs[String]("file").startsWith(s"p=${r.getAs[String]("part")}/")))
    assert(m3.rows.map(_.getAs[String]("part")).toSet ==
      Set("a", "b", "c", "d"))
    // the change feed: compaction changes nothing on either side; over
    // v1 → v3 the (op, key) multisets agree once the partitioned side's
    // D+I pair for the moved key reads as the flat side's U
    def opKeys(r: String, from: Int, to: Int): Seq[(String, Long)] =
      Sync.lakeChanges(spark, r, from, to, "k").changes.select("op", "k")
        .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(opKeys(flat, 2, 3).isEmpty && opKeys(part, 2, 3).isEmpty)
    val opsP = opKeys(part, 1, 3)
    assert(opsP.filter(_._2 == 7L).map(_._1).sorted == Seq("D", "I"))
    val folded = opsP.groupBy(_._2).toSeq.map { case (k, os) =>
      (if (os.size == 2) "U" else os.head._1, k) }
    assert(opKeys(flat, 1, 3).sorted == folded.sorted &&
      folded.sorted == Seq(("D", 6L), ("I", 31L), ("U", 4L), ("U", 7L)),
      s"flat ${opKeys(flat, 1, 3)} vs partitioned $opsP")
  }

  test("cow broadcast-guard law: past spark.graft.cow.broadcastThreshold the change-key joins shuffle on both layouts, same result") {
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val spark0 = spark
    import spark0.implicits._
    object H extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    val plans = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // the broadcast sides (build sides) of every join the mutation ran;
    // the listener bus is FIFO, so once a marker query's plan arrives
    // every earlier plan has too
    def broadcastSides(run: => Unit): Seq[SparkPlan] = {
      plans.synchronized(plans.clear())
      run
      spark.range(1).selectExpr("id AS guard_marker").collect()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.PatienceConfiguration.Timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(plans.synchronized(plans.exists(
          _.toString.contains("guard_marker"))))
      }
      plans.synchronized(plans.toList).flatMap(p =>
        H.collect(p) { case b: BroadcastExchangeExec => b })
    }
    def fromManifest(b: SparkPlan): Boolean =
      H.collect(b) { case l: LocalTableScanExec => l }
        .exists(_.output.exists(_.name == "kmin"))
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    val autoWas = spark.conf.getOption(auto)
    spark.listenerManager.register(listener)
    try {
      // Spark's own size-based broadcast would hide the hint's effect
      // on these tiny frames
      spark.conf.set(auto, "-1")
      val v1 = (1L to 40L).map(k => (if (k % 2 == 0) "a" else "b", k,
        k.toDouble)).toDF("p", "k", "x").repartitionByRange(2, col("k"))
      val batch = Seq(("a", 2L, -2.0, "U", 1L), ("b", 3L, 0.0, "D", 1L),
        ("a", 50L, 50.0, "I", 1L)).toDF("p", "k", "x", "op", "version")
      Seq(None, Some("p")).foreach { pc =>
        def run(threshold: Option[String]): (Seq[SparkPlan], Set[String]) = {
          val root = java.nio.file.Files.createTempDirectory("graft_bguard")
            .toString + "/t"
          assert(Sync.publish(spark, v1, root, 1, _.head(1).nonEmpty, pc))
          Sync.writeFileStats(spark, s"$root/v1", "k")
          threshold.fold(spark.conf.unset("spark.graft.cow.broadcastThreshold"))(
            spark.conf.set("spark.graft.cow.broadcastThreshold", _))
          val sides = broadcastSides(assert(
            Sync.cowApplyChanges(spark, root, 1, 2, "k", batch).published))
          (sides, Sync.readPublished(spark, root)._2.collect()
            .map(r => s"${r.getAs[String]("p")}/${r.getAs[Long]("k")}/" +
              s"${r.getAs[Double]("x")}").toSet)
        }
        val (dflt, dfltRows) = run(None)
        val (guarded, guardedRows) = run(Some("1"))
        assert(dflt.exists(!fromManifest(_)),
          s"layout $pc: no change-key broadcast at the default threshold")
        assert(guarded.nonEmpty && guarded.forall(fromManifest),
          s"layout $pc: a change-key join broadcast past the threshold")
        assert(guardedRows == dfltRows && dfltRows.size == 40,
          s"layout $pc: the guarded run published different rows")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.cow.broadcastThreshold")
      autoWas.fold(spark.conf.unset(auto))(spark.conf.set(auto, _))
    }
  }

  test("one-MERGE law: Sync.mergeInto and SQL MERGE INTO publish the same rows and the same feed") {
    val spark0 = spark
    import spark0.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_onemerge")
      .toString
    val (lib, sql) = (s"$base/lib", s"$base/viasql")
    // even keys only, two files: odd source keys insert inside a span,
    // 100 lands past every span
    val v1 = (1L to 20L).map(i => (2 * i, i * 10.0, "A"))
      .toDF("k", "price", "st").repartitionByRange(2, col("k"))
    Seq(lib, sql).foreach { r =>
      Sync.enableCdf(spark, r)
      assert(Sync.publish(spark, v1, r, 1, _.head(1).nonEmpty))
      Sync.writeFileStats(spark, s"$r/v1", "k")
    }
    // 4 and 30 delete (price > 1000), 6 and 12 update, 7 and 100 insert
    val src = Seq((4L, 5000.0, "D"), (30L, 9000.0, "D"), (6L, 66.0, "U"),
      (12L, 120.5, "U"), (7L, 7.0, "I"), (100L, 1.0, "I"))
      .toDF("k", "price", "st")
    val rep = Sync.mergeInto(spark, lib, 1, 2, "k", src,
      matchedDeleteCond = Some(col("src_price") > 1000.0),
      matchedUpdateCond = None, notMatchedInsertCond = None,
      nmbsDelete = None)
    assert(rep.published && rep.nMatchedDeleted == 2 &&
      rep.nMatchedUpdated == 2 && rep.nInserted == 2, s"$rep")
    spark.conf.set("spark.sql.catalog.gmerge",
      "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gmerge.root", base)
    spark.conf.set("spark.sql.catalog.gmerge.key.viasql", "k")
    src.createOrReplaceTempView("one_merge_src")
    spark.sql(
      """MERGE INTO gmerge.viasql t USING one_merge_src s ON t.k = s.k
        |WHEN MATCHED AND s.price > 1000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    def rows(r: String): Set[(Long, Double, String)] = {
      val (v, df) = Sync.readPublishedMor(spark, r, "k")
      assert(v == "v2", s"$r is at $v")
      df.collect().map(x => (x.getAs[Long]("k"), x.getAs[Double]("price"),
        x.getAs[String]("st"))).toSet
    }
    val expected = v1.collect().map(x => (x.getLong(0), x.getDouble(1),
      x.getString(2))).toSet.filterNot(t => Set(4L, 6L, 12L, 30L)(t._1)) ++
      Set((6L, 66.0, "U"), (12L, 120.5, "U"), (7L, 7.0, "I"),
        (100L, 1.0, "I"))
    assert(rows(lib) == expected && rows(sql) == expected)
    def feed(r: String): Seq[(String, Long)] =
      spark.read.parquet(s"$r/v2/_changes").select("op", "k").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSeq.sorted
    assert(feed(lib) == feed(sql) && feed(lib) == Seq(("D", 4L),
      ("D", 30L), ("I", 7L), ("I", 100L), ("U", 6L), ("U", 12L)),
      s"library feed ${feed(lib)} vs SQL feed ${feed(sql)}")
  }

  test("feed/DV law: re-deleting a DV'd key leaves the feed, the vector and the diff without it") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_feeddv")
      .toString + "/t"
    Sync.enableCdf(spark, root)
    assert(Sync.publish(spark, (1L to 12L).map(k => (k, k * 1.5))
      .toDF("k", "x").repartitionByRange(3, col("k")), root, 1,
      _.head(1).nonEmpty))
    Sync.writeFileStats(spark, s"$root/v1", "k")
    assert(Sync.dvDelete(spark, root, 1, 2, "k", Seq(5L, 9L).toDF("k"))
      .published)
    val rep = Sync.cowApplyChanges(spark, root, 2, 3, "k",
      Seq((5L, Option.empty[Double], "D", 1L))
        .toDF("k", "x", "op", "version"))
    assert(rep.published && rep.nFilesRewritten == 1, s"$rep")
    assert(spark.read.parquet(s"$root/v3/_changes")
      .filter(col("k") === 5L).isEmpty,
      "the feed re-deletes a key the deletion vector already hid")
    assert(spark.read.parquet(s"$root/v3/_deletes").collect()
      .map(_.getLong(0)).toSet == Set(9L),
      "the carried vector must drop the physically removed key only")
    assert(Sync.lakeChanges(spark, root, 2, 3, "k").changes.isEmpty,
      "re-deleting a hidden key changed the logical content")
  }

  test("R11 CDC publish-refusal law: a refused lake publish FAILS the batch instead of committing the checkpoint past lost changes") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cdcfail")
      .toString + "/t"
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
    Sync.publish(spark, base.repartition(1), root, 1, _.head(1).nonEmpty)
    Sync.writeFileStats(spark, s"$root/v1", "k")
    // this batch deletes EVERY row → the staged result is empty → the
    // publish validation refuses → the batch must THROW (retry), not
    // return (checkpoint advance = changes lost forever)
    val killAll = Seq((1L, 0.0, "D", 1L), (2L, 0.0, "D", 2L))
      .toDF("k", "price", "op", "version")
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamOps.applyCdcBatch(
        spark, root, "k", 1, killAll, 0)
    }
    assert(e.getMessage.contains("refused"),
      s"wrong failure surface: ${e.getMessage}")
    // nothing moved: v1 still live, no v2 committed
    assert(Sync.readPublished(spark, root)._1 == "v1")
  }
}
