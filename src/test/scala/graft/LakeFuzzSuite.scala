package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz for the LAKE subsystem (y38/y38b/y40/y41) — the
  * newest surface in the engine, and the one whose curated queries use
  * hand-built bands. Here the change sets are GENERATED: seeded random
  * delete combs, update ladders with overlapping multi-version keys,
  * past-domain and in-span inserts — applied through the real
  * copy-on-write / merge-on-read machinery and compared against an
  * ALGEBRAIC twin computed by an independent code path (groupBy
  * max_by latest-wins + anti-join/union set algebra; the production
  * path collapses with a window function and routes by file span —
  * agreement is a genuine differential check, not a self-comparison).
  * Every iteration also closes the loop with the y41 change-data-feed:
  * the changelog RECOVERED from the two version dirs must reconstruct
  * v2 from v1 exactly.
  */
class LakeFuzzSuite extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def sameSet(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  test("lake fuzz: generated CDC batches — cow apply == algebraic twin; recovered CDF reconstructs v2") {
    val proj = ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice").cache()
    val b = proj.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b.getLong(0); val hi = b.getLong(1); val span = hi - lo
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(20260814L + seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_lakefz$seed").toString + "/lake"
      val nFiles = 4 + rnd.nextInt(7)
      assert(ops.Sync.publish(spark,
        proj.repartitionByRange(nFiles, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
      ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
      // generated change set: a delete comb in a random band, an
      // update ladder whose second rung overlaps the first on a
      // sub-comb (latest version must win), inserts beyond the domain
      // and IN-SPAN inserts at genuinely-new keys (orders keys are
      // sparse: key+1 is in-span and usually absent — anti-join makes
      // absence certain)
      val dm = Seq(3, 5, 7)(rnd.nextInt(3))
      val dband0 = lo + (span / 10) * rnd.nextInt(8)
      val dband1 = dband0 + span / 10
      val um = Seq(2, 3, 4)(rnd.nextInt(3))
      val uband0 = lo + (span / 10) * rnd.nextInt(8)
      val uband1 = uband0 + span / 10 + span / 20
      val delta1 = 1 + rnd.nextInt(500)
      val delta2 = 1 + rnd.nextInt(500)
      val dl = proj.filter(col("o_orderkey").between(dband0, dband1) &&
          col("o_orderkey") % dm === 0)
        .withColumn("op", lit("D")).withColumn("version", lit(50L))
      val u1 = proj.filter(col("o_orderkey").between(uband0, uband1) &&
          col("o_orderkey") % um === 0)
        .withColumn("o_totalprice", col("o_totalprice") + delta1)
        .withColumn("op", lit("U")).withColumn("version", lit(100L))
      val u2 = proj.filter(col("o_orderkey").between(uband0, uband1) &&
          col("o_orderkey") % (um * 2) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + delta2)
        .withColumn("op", lit("U")).withColumn("version", lit(200L))
      val insFar = proj.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + hi + 1000).as("o_orderkey"),
          col("o_custkey"), lit(1.5).as("o_totalprice"))
        .withColumn("op", lit("I")).withColumn("version", lit(100L))
      val insIn = proj.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + 1).as("o_orderkey"),
          col("o_custkey"), lit(2.5).as("o_totalprice"))
        .join(proj.select(col("o_orderkey")), Seq("o_orderkey"),
          "left_anti")
        .dropDuplicates("o_orderkey")
        .withColumn("op", lit("I")).withColumn("version", lit(100L))
      val changes = dl.unionByName(u1).unionByName(u2)
        .unionByName(insFar).unionByName(insIn).cache()
      val rep = ops.Sync.cowApplyChanges(spark, root, 1, 2,
        "o_orderkey", changes)
      assert(rep.published, s"seed $seed: publish failed")
      // zero-copy carry: v2's dir holds only REWRITTEN files; carried
      // files resolve through the manifest into v1 — read the version,
      // not the directory
      val v2 = ops.Sync.readVersionDir(spark, s"$root/v2")
      // independent algebra: latest-wins by max_by over (version DESC,
      // D-beats-U-beats-I at equal version — matches the window's
      // row_number tie order only when versions are DISTINCT per key,
      // which this generator guarantees across rungs)
      val latest = changes.groupBy("o_orderkey")
        .agg(max_by(struct(col("op"), col("o_custkey"),
          col("o_totalprice")), col("version")).as("m"))
        .select(col("o_orderkey"), col("m.op").as("op"),
          col("m.o_custkey").as("o_custkey"),
          col("m.o_totalprice").as("o_totalprice"))
      val expected = proj
        .join(latest.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(latest.filter(col("op") =!= "D").drop("op"))
      sameSet(v2, expected, s"seed $seed: cow apply != algebraic twin")
      // file-level sanity: the mutation pruned (some file carried)
      // whenever some file's span missed every change key
      assert(rep.nFilesTotal >= nFiles,
        s"seed $seed: manifest lost files (${rep.nFilesTotal} < $nFiles)")
      // CDF closure: the changelog recovered from the two dirs
      // reconstructs v2 from v1
      val cdf = ops.Sync.lakeChanges(spark, root, 1, 2, "o_orderkey")
      val ch = cdf.changes.cache()
      val replayed = ops.Sync.readVersionDir(spark, s"$root/v1")
        .join(ch.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(ch.filter(col("op") =!= "D").drop("op"))
      sameSet(replayed, v2, s"seed $seed: CDF replay != v2")
      // and the recovered D set is exactly the effective delete set
      val delEff = latest.filter(col("op") === "D")
        .join(proj, Seq("o_orderkey"), "left_semi")
        .select("o_orderkey")
      sameSet(ch.filter(col("op") === "D").select("o_orderkey"), delEff,
        s"seed $seed: CDF delete set wrong")
      ch.unpersist(); changes.unpersist()
    }
    proj.unpersist()
  }

  test("lake fuzz: generated MOR delete chains — fold(v_n) == base minus all vectors; every chain link zero-copy") {
    val proj = ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice").cache()
    val b = proj.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b.getLong(0); val span = b.getLong(1) - lo
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(777L + seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_morfz$seed").toString + "/lake"
      assert(ops.Sync.publish(spark,
        proj.repartitionByRange(4 + rnd.nextInt(5), col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
      ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
      val nBatches = 2 + rnd.nextInt(3)
      val batches = (0 until nBatches).map { i =>
        val m = Seq(3, 4, 5, 7)(rnd.nextInt(4))
        val b0 = lo + (span / 8) * rnd.nextInt(7)
        proj.filter(col("o_orderkey").between(b0, b0 + span / 8) &&
          col("o_orderkey") % m === 0).select("o_orderkey")
      }
      batches.zipWithIndex.foreach { case (dv, i) =>
        val rep = ops.Sync.dvDelete(spark, root, i + 1, i + 2,
          "o_orderkey", dv)
        assert(rep.published && rep.nFilesRewritten == 0,
          s"seed $seed batch $i: MOR delete rewrote data files")
      }
      val lastV = nBatches + 1
      val (vName, mor) = ops.Sync.readPublishedMor(spark, root,
        "o_orderkey")
      assert(vName == s"v$lastV")
      val allDel = batches.reduce(_ unionByName _).distinct()
      val expected = proj.join(allDel, Seq("o_orderkey"), "left_anti")
      sameSet(mor, expected, s"seed $seed: MOR view != base minus vectors")
      val repF = ops.Sync.dvFold(spark, root, lastV, lastV + 1,
        "o_orderkey")
      assert(repF.published, s"seed $seed: fold failed")
      sameSet(ops.Sync.readVersionDir(spark, s"$root/v${lastV + 1}"),
        expected, s"seed $seed: folded version != MOR view")
      // overlapping batches may cover every file; pruning is only
      // REQUIRED when some file's span escaped all delete bands
      val stats = spark.read.parquet(s"$root/v$lastV/_file_stats")
        .collect().map(r => (r.getAs[Long]("kmin"), r.getAs[Long]("kmax")))
      val dvKeys = allDel.collect().map(_.getLong(0))
      val untouchable = stats.count { case (kmin, kmax) =>
        !dvKeys.exists(k => k >= kmin && k <= kmax) }
      assert(repF.nFilesTotal - repF.nFilesRewritten >= untouchable,
        s"seed $seed: fold rewrote a file no delete key touches")
    }
    proj.unpersist()
  }

  test("lake fuzz: a JDBC mirror catch-up follows interleaved lake histories — random-cadence ticks always converge, across MOR/compaction/evolution states") {
    mirrorWalk(1 to 3, cdf = false)
  }

  test("lake fuzz: a mirror of a CDF root catches up through the committed feeds — multi-version jumps converge across DV/compaction/evolution, and a reseed in the range falls back to the derived diff") {
    mirrorWalk(4 to 5, cdf = true)
  }

  /** The mirror walk: on a `cdf` root every jump without a reseed in its
    * range must read the committed feeds, every other jump the derived
    * diff. */
  private def mirrorWalk(seeds: Seq[Int], cdf: Boolean): Unit = {
    // The y50 catch-up under GENERATED histories: every walk interleaves
    // cow CDC, MOR delete vectors, compaction, and evolution, and a
    // mirror tick fires at RANDOM CADENCE — so single jumps span
    // multiple lake versions and whatever physical state (deletion
    // vectors pending, layout rewritten, schema widened) the walk left.
    // Convergence is checked INDEPENDENTLY of catchUp's own validation:
    // the Derby table is read back and set-compared against the
    // algebraically-maintained logical twin. This is the arm that
    // forces the sync layer to read LOGICAL content (files minus DV) —
    // a raw version read resurrects ghosts and diverges immediately.
    val proj0 = ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val b0 = proj0.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b0.getLong(0); val hi = b0.getLong(1); val span = hi - lo
    var feedJumps = 0
    var derivedJumps = 0
    for (seed <- seeds) {
      val rnd = new scala.util.Random(5150L + seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_mirfz$seed").toString + "/lake"
      if (cdf) ops.Sync.enableCdf(spark, root)
      val db = java.nio.file.Files
        .createTempDirectory(s"graft_mirdb$seed").resolve("db")
      val cfg = graft.sources.JdbcSync.JdbcConfig(
        url = s"jdbc:derby:$db;create=true", table = "MIRROR_FZ",
        driver = "org.apache.derby.jdbc.EmbeddedDriver")
      assert(ops.Sync.publish(spark,
        proj0.repartitionByRange(5, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
      ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
      graft.sources.JdbcSync.writeTable(
        proj0.limit(0).select(proj0.columns.toSeq
          .map(c => col(c).as(c.toUpperCase)): _*),
        cfg, org.apache.spark.sql.SaveMode.Overwrite)
      graft.sources.JdbcSync.ensureKeyIndex(cfg, Seq("O_ORDERKEY"))
      var cur = 1
      var expected = proj0
      var evolved = false
      var step = 0
      // CDF walk: the mirror's watermark, the versions that committed a
      // T (reseed) feed, and how many jumps each path carried
      var synced = 0
      var reseeds = Set.empty[Int]
      def mirrorConverged(what: String): Unit = {
        if (cdf && synced > 0 && synced < cur) {
          val viaFeed = ops.Sync.committedChanges(spark, root, synced, cur,
            "o_orderkey").isDefined
          assert(viaFeed == !reseeds.exists(v => v > synced && v <= cur),
            s"seed $seed step $step [$what]: jump v$synced→v$cur took " +
              s"the wrong path (feed: $viaFeed, reseeds: $reseeds)")
          if (viaFeed) feedJumps += 1 else derivedJumps += 1
        }
        val r = graft.sync.LakeToJdbc.catchUp(spark, root,
          "o_orderkey", cfg)
        synced = r.toVersion
        assert(r.validated, s"seed $seed step $step [$what]: $r")
        val back0 = graft.sources.JdbcSync.readTable(spark, cfg, None)
        val back = back0.select(back0.columns.toSeq
          .map(c => col(c).as(c.toLowerCase)): _*)
          .select(expected.columns.map(col).toIndexedSeq: _*)
        sameSet(back, expected,
          s"seed $seed step $step [$what]: mirror diverged from twin")
      }
      mirrorConverged("seed-tick")
      for (_ <- 1 to 5) {
        step += 1
        expected = expected.localCheckpoint(true)
        rnd.nextInt(5) match {
          case 0 | 1 => // cow CDC
            val dm = Seq(3, 5, 7)(rnd.nextInt(3))
            val d0 = lo + (span / 10) * rnd.nextInt(8)
            val um = Seq(2, 3, 4)(rnd.nextInt(3))
            val u0 = lo + (span / 10) * rnd.nextInt(8)
            val delta = 1 + rnd.nextInt(400)
            val dl = expected.filter(col("o_orderkey").between(d0,
                d0 + span / 10) && col("o_orderkey") % dm === 0)
              .withColumn("op", lit("D")).withColumn("version", lit(50L))
            val up = expected.filter(col("o_orderkey").between(u0,
                u0 + span / 10) && col("o_orderkey") % um === 0)
              .withColumn("o_totalprice", col("o_totalprice") + delta)
              .withColumn("op", lit("U")).withColumn("version", lit(100L))
            val ins = expected.filter(col("o_orderkey") % 31 === 0 &&
                col("o_orderkey") <= hi)
              .withColumn("o_orderkey",
                col("o_orderkey") + hi + step * 10000000L)
              .withColumn("op", lit("I")).withColumn("version", lit(100L))
            val changes = dl.unionByName(up).unionByName(ins)
              .select((expected.columns.toSeq ++ Seq("op", "version"))
                .map(col): _*).cache()
            if (changes.head(1).isEmpty) { changes.unpersist() }
            else {
              val keep = expected.columns.toSeq
              val latest = changes.groupBy("o_orderkey")
                .agg(max_by(struct(col("op") +:
                  keep.filterNot(_ == "o_orderkey").map(col): _*),
                  col("version")).as("m"))
              assert(ops.Sync.cowApplyChanges(spark, root, cur, cur + 1,
                "o_orderkey", changes).published)
              cur += 1
              expected = expected.join(latest.select("o_orderkey"),
                  Seq("o_orderkey"), "left_anti")
                .unionByName(latest.filter(col("m.op") =!= "D")
                  .select(col("o_orderkey") +:
                    keep.filterNot(_ == "o_orderkey")
                      .map(c => col(s"m.$c").as(c)): _*)
                  .select(keep.map(col): _*))
              changes.unpersist()
            }
          case 2 => // MOR delete vector — stays PENDING for the mirror
            val m = Seq(3, 4, 5)(rnd.nextInt(3))
            val b1 = lo + (span / 8) * rnd.nextInt(7)
            val dv = expected.filter(col("o_orderkey").between(b1,
                b1 + span / 8) && col("o_orderkey") % m === 0)
              .select("o_orderkey")
            if (dv.head(1).nonEmpty) {
              assert(ops.Sync.dvDelete(spark, root, cur, cur + 1,
                "o_orderkey", dv).published)
              cur += 1
              expected = expected.join(dv, Seq("o_orderkey"), "left_anti")
            }
          case 3 => // compaction — layout only; the mirror must see a
            // zero-op feed across it
            val fsRoot = new org.apache.hadoop.fs.Path(root)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            val bytes = fsRoot.listStatus(
                new org.apache.hadoop.fs.Path(s"$root/v$cur")).toSeq
              .filter(st => st.isFile &&
                st.getPath.getName.startsWith("part-"))
              .map(_.getLen).sum
            assert(ops.Sync.compactPublished(spark, root, cur, cur + 1,
              "o_orderkey", math.max(bytes / 3, 1L)).published)
            cur += 1
          case 4 => // evolution — the mirror must ALTER before rows flow
            if (!evolved) {
              assert(ops.Sync.evolveSchema(spark, root, cur, cur + 1,
                Seq(org.apache.spark.sql.types.StructField(s"x_m$seed",
                  org.apache.spark.sql.types.DoubleType))))
              cur += 1
              evolved = true
              expected = expected.withColumn(s"x_m$seed",
                lit(null).cast("double"))
            }
          case _ => ()
        }
        // one snapshot republish of the logical state: its feed is a T
        // sentinel plus I rows, so the jump across it is derived
        if (cdf && step == 3) {
          assert(ops.Sync.appendPublish(spark, root, "o_orderkey",
            expected, overwrite = true))
          cur += 1
          reseeds += cur
          mirrorConverged("republish-tick")
        }
        // RANDOM CADENCE: the mirror sometimes sleeps through moves —
        // the next tick must absorb a multi-version, mixed-state jump
        if (rnd.nextBoolean()) mirrorConverged("tick")
      }
      mirrorConverged("final-tick")
    }
    if (cdf) assert(feedJumps > 0 && derivedJumps > 0,
      s"feed jumps $feedJumps, derived jumps $derivedJumps")
  }

  test("lake fuzz: interleaved cdc/MOR-delete/compact/evolve/GC move sequences hold the logical-state law and the CDF closure at every step") {
    // The full-op-mix generalization of the two generators above: one
    // seeded walk interleaves EVERY lake verb — cow CDC applies, MOR
    // delete vectors, y39 incremental compaction, y43 metadata-only
    // evolution, y37 retention GC — against an algebraically-maintained
    // twin of the LOGICAL state (files minus deletion vector, under the
    // version's logical schema). Two laws close every step:
    //  1. logical(current) == twin (layout moves must be invisible);
    //  2. after each CDC move, logical(prev) + recovered CDF ==
    //     logical(current) — y41 sees through whatever MOR/compaction/
    //     evolution state the walk left behind.
    val proj0 = ops.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val b0 = proj0.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val lo = b0.getLong(0); val hi = b0.getLong(1); val span = hi - lo
    def logicalAt(root: String, v: Int): DataFrame = {
      val dir = s"$root/v$v"
      val base = ops.Sync.readVersionDir(spark, dir)
      val dvp = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
      val fs = dvp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dvp)) base
      else base.join(broadcast(spark.read.parquet(dvp.toString)),
        Seq("o_orderkey"), "left_anti")
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(90210L + seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_mixfz$seed").toString + "/lake"
      ops.Sync.enableCdf(spark, root)
      assert(ops.Sync.publish(spark,
        proj0.repartitionByRange(5, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"), root, 1, _.head(1).nonEmpty))
      ops.Sync.writeFileStats(spark, s"$root/v1", "o_orderkey")
      var cur = 1
      var expected = proj0
      var evolvedCol: Option[String] = None
      var step = 0
      val fsRoot = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def checkState(what: String): Unit = {
        // truncate the twin's lineage each step — six composed moves of
        // join/union algebra otherwise compound into minutes of codegen
        expected = expected.localCheckpoint(true)
        val got = logicalAt(root, cur)
        val exp = expected.select(got.columns.map(col).toIndexedSeq: _*)
        sameSet(got, exp, s"seed $seed step $step [$what]: logical " +
          "state diverged from the algebraic twin")
        // third arm: the DataSourceV2 connector must agree with the
        // library read at EVERY interleaving point — span manifests,
        // deletion vectors, evolved schemas and compacted layouts all
        // flow through its planInputPartitions/reader path here
        val viaConnector = spark.read.format("graftlake")
          .option("path", root).option("key", "o_orderkey")
          .option("version", cur).load()
          .select(got.columns.map(col).toIndexedSeq: _*)
        sameSet(viaConnector, exp, s"seed $seed step $step [$what]: " +
          "DSv2 connector read diverged from the algebraic twin")
      }
      // fourth arm (Y55): EVERY minted version's on-write feed replays
      // the previous logical state to the new one — layout moves via
      // their empty feeds, mutations via their staged deltas. The walk
      // never overwrites, so T cannot appear.
      def checkFeed(prev: Int, what: String): Unit = {
        val fd = spark.read
          .parquet(s"$root/v$cur/_changes").cache()
        assert(fd.filter(col("op") === "T").isEmpty)
        val prevL = logicalAt(root, prev)
        val curCols = logicalAt(root, cur).columns.toSeq
        val prevAligned = curCols.foldLeft(prevL)((df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast("double")))
        val replayed = prevAligned
          .join(fd.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(fd.filter(col("op") =!= "D")
            .select(curCols.map(col).toIndexedSeq: _*))
        sameSet(replayed,
          logicalAt(root, cur).select(curCols.map(col).toIndexedSeq: _*),
          s"seed $seed step $step [$what]: the on-write feed does not " +
            "replay the previous logical state to the new one")
        fd.unpersist()
      }
      // fifth arm: on this CDF root lakeChanges READS the committed
      // feeds; they must set-equal the change set derived from the
      // files. A D row compares on its identity — the feed's D may
      // carry the key alone
      def checkFeedPath(prev: Int, what: String): Unit = {
        val read = ops.Sync.committedChanges(spark, root, prev, cur,
          "o_orderkey")
        assert(read.isDefined,
          s"seed $seed step $step [$what]: the feed path was not taken")
        def norm(df: DataFrame): DataFrame = df.select(df.columns.map(c =>
          if (c == "op" || c == "o_orderkey") col(c)
          else when(col("op") =!= "D", col(c)).as(c)).toIndexedSeq: _*)
        sameSet(norm(read.get.changes), norm(ops.Sync.derivedChanges(spark,
            root, prev, cur, "o_orderkey").changes),
          s"seed $seed step $step [$what]: the committed feed != the " +
            "derived diff")
      }
      for (_ <- 1 to 6) {
        step += 1
        rnd.nextInt(8) match {
          case 0 | 1 => // CDC cow apply (double weight)
            val dm = Seq(3, 5, 7)(rnd.nextInt(3))
            val d0 = lo + (span / 10) * rnd.nextInt(8)
            val um = Seq(2, 3, 4)(rnd.nextInt(3))
            val u0 = lo + (span / 10) * rnd.nextInt(8)
            val delta = 1 + rnd.nextInt(400)
            val dataCols = expected.columns.toSeq
            val dl = expected.filter(col("o_orderkey").between(d0,
                d0 + span / 10) && col("o_orderkey") % dm === 0)
              .withColumn("op", lit("D")).withColumn("version", lit(50L))
            val up = expected.filter(col("o_orderkey").between(u0,
                u0 + span / 10) && col("o_orderkey") % um === 0)
              .withColumn("o_totalprice", col("o_totalprice") + delta)
              .withColumn("op", lit("U")).withColumn("version", lit(100L))
            val ins = expected.filter(col("o_orderkey") % 31 === 0 &&
                col("o_orderkey") <= hi)
              .withColumn("o_orderkey",
                col("o_orderkey") + hi + step * 10000000L)
              .withColumn("op", lit("I")).withColumn("version", lit(100L))
            val changes = dl.unionByName(up).unionByName(ins).cache()
            if (changes.head(1).isEmpty) { changes.unpersist() }
            else {
              val rep = ops.Sync.cowApplyChanges(spark, root, cur,
                cur + 1, "o_orderkey", changes)
              assert(rep.published, s"seed $seed step $step: cow refused")
              val prev = cur; cur += 1
              val latest = changes.groupBy("o_orderkey")
                .agg(max_by(struct(col("op") +:
                  dataCols.filterNot(_ == "o_orderkey").map(col): _*),
                  col("version")).as("m"))
                .select(col("o_orderkey") +: col("m.op").as("op") +:
                  dataCols.filterNot(_ == "o_orderkey")
                    .map(c => col(s"m.$c").as(c)): _*)
              expected = expected.join(latest.select("o_orderkey"),
                  Seq("o_orderkey"), "left_anti")
                .unionByName(latest.filter(col("op") =!= "D").drop("op"))
              checkState("cdc")
              checkFeed(prev, "cdc")
              checkFeedPath(prev, "cdc")
              // CDF closure against whatever MOR/evolution state holds
              val ch = ops.Sync.lakeChanges(spark, root, prev, cur,
                "o_orderkey").changes.cache()
              val replayed = logicalAt(root, prev)
                .join(ch.select("o_orderkey"), Seq("o_orderkey"),
                  "left_anti")
                .unionByName(ch.filter(col("op") =!= "D").drop("op")
                  .select(logicalAt(root, prev).columns
                    .map(col).toIndexedSeq: _*))
              sameSet(replayed,
                logicalAt(root, cur).select(logicalAt(root, prev)
                  .columns.map(col).toIndexedSeq: _*),
                s"seed $seed step $step: CDF replay diverged")
              ch.unpersist(); changes.unpersist()
            }
          case 2 => // MOR delete vector
            val m = Seq(3, 4, 5)(rnd.nextInt(3))
            val b1 = lo + (span / 8) * rnd.nextInt(7)
            val dv = expected.filter(col("o_orderkey").between(b1,
                b1 + span / 8) && col("o_orderkey") % m === 0)
              .select("o_orderkey")
            if (dv.head(1).nonEmpty) {
              val rep = ops.Sync.dvDelete(spark, root, cur, cur + 1,
                "o_orderkey", dv)
              assert(rep.published && rep.nFilesRewritten == 0,
                s"seed $seed step $step: MOR delete rewrote data")
              cur += 1
              expected = expected.join(dv, Seq("o_orderkey"), "left_anti")
              checkState("mor")
              checkFeed(cur - 1, "mor")
              checkFeedPath(cur - 1, "mor")
            }
          case 3 => // incremental compaction — pure layout, state fixed
            val bytes = fsRoot.listStatus(
                new org.apache.hadoop.fs.Path(s"$root/v$cur")).toSeq
              .filter(st => st.isFile &&
                st.getPath.getName.startsWith("part-"))
              .map(_.getLen).sum
            val rep = ops.Sync.compactPublished(spark, root, cur,
              cur + 1, "o_orderkey", math.max(bytes / 3, 1L))
            assert(rep.published, s"seed $seed step $step: compact refused")
            cur += 1
            checkState("compact")
            checkFeed(cur - 1, "compact")
            checkFeedPath(cur - 1, "compact")
          case 4 => // metadata-only evolution (once per walk)
            if (evolvedCol.isEmpty) {
              val name = s"x_evo$seed"
              assert(ops.Sync.evolveSchema(spark, root, cur, cur + 1,
                Seq(org.apache.spark.sql.types.StructField(name,
                  org.apache.spark.sql.types.DoubleType))))
              cur += 1
              evolvedCol = Some(name)
              expected = expected.withColumn(name,
                lit(null).cast("double"))
              checkState("evolve")
              checkFeed(cur - 1, "evolve")
              checkFeedPath(cur - 1, "evolve")
            }
          case 5 => // retention GC — current + window must stay whole
            val rep = ops.Sync.gcPublished(spark, root, keepPrevious = 2)
            assert(!rep.deleted.contains(s"v$cur"),
              s"seed $seed step $step: GC reaped the live version")
            checkState("gc")
          case 6 => // SQL-DML append (y47): absent keys only — fresh
            // frontier keys plus keys earlier moves deleted (cow) or
            // ghosted (MOR DV — exercising the collision fold)
            val m = Seq(6, 8, 9)(rnd.nextInt(3))
            val dataCols = expected.columns.toSeq
              .filterNot(_ == evolvedCol.getOrElse(""))
            val candidates = proj0
              .filter(col("o_orderkey") % m === rnd.nextInt(m))
              .select(dataCols.map(col).toIndexedSeq: _*)
            val fresh = candidates.limit(40)
              .withColumn("o_orderkey",
                col("o_orderkey") + hi + step * 77000000L)
            val inc0 = candidates.unionByName(fresh)
              .join(expected.select("o_orderkey"), Seq("o_orderkey"),
                "left_anti")
            val inc = evolvedCol.fold(inc0)(c =>
              inc0.withColumn(c, lit(null).cast("double")))
              .select(expected.columns.map(col).toIndexedSeq: _*)
              .cache()
            if (inc.head(1).isEmpty) { inc.unpersist() }
            else {
              assert(ops.Sync.appendPublish(spark, root, "o_orderkey",
                inc, overwrite = false),
                s"seed $seed step $step: append refused")
              cur += 1
              expected = expected.unionByName(inc)
              checkState("append")
              checkFeed(cur - 1, "append")
              checkFeedPath(cur - 1, "append")
              inc.unpersist()
            }
          case 7 => // SQL row-level MERGE via the catalog (s21's
            // surface): the SAME walk laws must hold when the mutation
            // arrives as a SQL statement through SupportsDelta instead
            // of a library call — one statement mixing matched-DELETE,
            // matched-UPDATE and NOT-MATCHED-INSERT clauses
            val cat = s"gfz$seed"
            spark.conf.set(s"spark.sql.catalog.$cat",
              "graft.sources.lake.LakeCatalog")
            spark.conf.set(s"spark.sql.catalog.$cat.root",
              new java.io.File(root).getParent)
            spark.conf.set(s"spark.sql.catalog.$cat.key.lake",
              "o_orderkey")
            val cols = expected.columns.toSeq
            val um = Seq(4, 5, 6)(rnd.nextInt(3))
            val ub = lo + (span / 8) * rnd.nextInt(7)
            val delta = 1 + rnd.nextInt(300)
            val upd = expected.filter(col("o_orderkey").between(ub,
                ub + span / 8) && col("o_orderkey") % um === 0)
              .withColumn("o_totalprice", col("o_totalprice") + delta)
              .withColumn("__act", lit("U"))
            val dm = Seq(7, 9, 11)(rnd.nextInt(3))
            val db = lo + (span / 8) * rnd.nextInt(7)
            // disjoint from upd: one source row per target row or the
            // MERGE cardinality check refuses (correctly)
            val dels = expected.filter(col("o_orderkey").between(db,
                db + span / 8) && col("o_orderkey") % dm === 0)
              .join(upd.select("o_orderkey"), Seq("o_orderkey"),
                "left_anti")
              .withColumn("__act", lit("D"))
            val ins = expected.filter(col("o_orderkey") % 29 === 0 &&
                col("o_orderkey") <= hi)
              .withColumn("o_orderkey",
                col("o_orderkey") + hi + step * 31000000L)
              .withColumn("__act", lit("I"))
            val src = upd.unionByName(dels).unionByName(ins).cache()
            if (src.head(1).isEmpty) { src.unpersist() }
            else {
              src.createOrReplaceTempView("fzdml_src")
              spark.sql(
                s"""MERGE INTO $cat.lake t USING fzdml_src s
                   |ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED AND s.__act = 'D' THEN DELETE
                   |WHEN MATCHED THEN UPDATE
                   |  SET o_totalprice = s.o_totalprice
                   |WHEN NOT MATCHED THEN INSERT
                   |  (${cols.mkString(", ")})
                   |  VALUES (${cols.map(c => s"s.$c").mkString(", ")})
                   |""".stripMargin)
              cur += 1
              val updMap = upd.select(col("o_orderkey"),
                col("o_totalprice").as("__newp"))
              expected = expected
                .join(dels.select("o_orderkey"), Seq("o_orderkey"),
                  "left_anti")
                .join(updMap, Seq("o_orderkey"), "left")
                .withColumn("o_totalprice",
                  coalesce(col("__newp"), col("o_totalprice")))
                .drop("__newp")
                .unionByName(ins.drop("__act"))
                .select(cols.map(col).toIndexedSeq: _*)
              checkState("sqlmerge")
              checkFeed(cur - 1, "sqlmerge")
              checkFeedPath(cur - 1, "sqlmerge")
              src.unpersist()
            }
        }
      }
      // end-of-walk: the MOR view equals the twin too
      val (vName, mor) = ops.Sync.readPublishedMor(spark, root,
        "o_orderkey")
      assert(vName == s"v$cur")
      sameSet(mor, expected.select(mor.columns.map(col).toIndexedSeq: _*),
        s"seed $seed: final MOR view diverged")
    }
  }

  /** Job starts seen by a listener, as (job id, call site of its final
    * stage) — the call site is the driver stack that submitted it. */
  private def withJobs[T](body: => T): (T, Seq[(Int, String)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.jobId, e.stageInfos.lastOption.fold("")(_.details)))
    }
    org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq.sortBy(_._1))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("commit-path law: every commit seeds the manifest cache with exactly what a cold read returns, and every writer's feed holds one row per identity") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_seed")
      .toString + "/t"
    ops.Sync.enableCdf(spark, root)
    assert(ops.Sync.publish(spark, (1L to 40L).map(k => (k, k * 1.5))
      .toDF("k", "x").repartitionByRange(4, col("k")), root, 1,
      _.head(1).nonEmpty))
    ops.Sync.writeFileStats(spark, s"$root/v1", "k")
    def law(v: Int, what: String): Unit = {
      val (seeded, jobs) = withJobs(ops.Sync.manifestLocal(spark, root,
        s"v$v"))
      assert(jobs.isEmpty, s"$what: the manifest read ran jobs $jobs")
      val cold = spark.read.parquet(s"$root/v$v/_file_stats")
      assert(seeded.schema == cold.schema,
        s"$what: seeded schema ${seeded.schema} != cold ${cold.schema}")
      assert(seeded.rows == cold.collect().toSeq,
        s"$what: seeded rows differ from a cold read")
      assert(seeded.rows.map(_.getAs[String]("file")) == seeded.files)
      val fd = spark.read.parquet(s"$root/v$v/_changes")
      assert(fd.groupBy("k").count().filter(col("count") > 1).isEmpty,
        s"$what: the feed holds two rows for one identity")
    }
    law(1, "snapshot")
    assert(ops.Sync.cowApplyChanges(spark, root, 1, 2, "k",
      Seq((3L, 9.0, "U", 1L), (3L, 9.5, "U", 2L), (7L, 0.0, "D", 1L),
        (99L, 1.0, "I", 1L)).toDF("k", "x", "op", "version")).published)
    law(2, "cow apply")
    assert(ops.Sync.dvDelete(spark, root, 2, 3, "k",
      Seq(11L, 12L, 12L).toDF("k")).published)
    law(3, "dvDelete")
    assert(ops.Sync.compactPublished(spark, root, 3, 4, "k", 64L << 20)
      .published)
    law(4, "compaction")
    assert(ops.Sync.evolveSchema(spark, root, 4, 5,
      Seq(org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.StringType))))
    law(5, "evolution")
    assert(ops.Sync.appendPublish(spark, root, "k",
      Seq((12L, 2.0, "a"), (100L, 3.0, "b")).toDF("k", "x", "y"),
      overwrite = false))
    law(6, "append")
    assert(ops.Sync.mergeInto(spark, root, 6, 7, "k",
      Seq((4L, 4.5, "m"), (101L, 5.0, "n")).toDF("k", "x", "y"),
      None, None, None, None).published)
    law(7, "merge")
  }

  test("commit-path law: a cow publish with complete row counts runs no Spark job after its manifest write, and its own readers run none") {
    val spark0 = spark
    import spark0.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nojob")
      .toString + "/t"
    assert(ops.Sync.publish(spark, (1L to 40L).map(k => (k, k * 1.5))
      .toDF("k", "x").repartitionByRange(4, col("k")), root, 1,
      _.head(1).nonEmpty))
    ops.Sync.writeFileStats(spark, s"$root/v1", "k")
    val (rep, jobs) = withJobs(ops.Sync.cowApplyChanges(spark, root, 1, 2,
      "k", Seq((3L, 9.0, "U", 1L), (50L, 1.0, "I", 1L))
        .toDF("k", "x", "op", "version")))
    assert(rep.published, s"$rep")
    assert(jobs.nonEmpty && jobs.last._2.contains("writeManifest"),
      s"a job ran after the manifest write: ${jobs.last}")
    assert(!jobs.exists(_._2.contains("publishStagedDir")),
      "the publish gate built the staged view")
    val (_, readJobs) = withJobs {
      ops.Sync.readPublishedMor(spark, root, "k")
      ops.Sync.manifestRowCount(spark, root, 2)
    }
    assert(readJobs.isEmpty, s"post-publish reads ran jobs: $readJobs")
  }
}
