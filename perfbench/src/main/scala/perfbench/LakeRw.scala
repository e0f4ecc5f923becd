package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.lake.{LakeCatalog, LakeRef}

/** The lake half of query_mix: a keyed lake table read and written
  * through SQL on `LakeCatalog`. The table is the `l_id % 10 = 0` slice of the sf0.1
  * lineitem (60k rows, `l_id` the generator's row id); the benchmark
  * keeps a model of it with plain DataFrame ops (localCheckpointed after
  * every write) and checks every read against the same query on the
  * model.
  *
  * One operation is a cycle of two rounds. A round is four reads (two
  * point lookups, one 1k-row key-range scan, one grouped aggregate) and
  * one ~1k-row write, so 80 % of the calls read: a MERGE with matched
  * UPDATE, matched DELETE and INSERT clauses, then a merge-on-read
  * delete (a deletion vector; SQL DELETE is copy-on-write), each on a
  * key band the seed picks. The cycle ends with `CALL dv_fold`,
  * `CALL compact` and `CALL gc`; maintenance calls count as writes.
  * Separate UPDATE and DELETE statements would take the same row-level
  * path as MERGE's matched clauses and do not fit the run budget. It
  * runs inside query_mix rather than as a workload of its own for the
  * same reason. */
final class LakeRw(ctx: Ctx) extends Workload {
  import ctx._

  private val key = "l_id"
  private val cat = "perfbench_lake"
  private val name = "lineitem"
  private val table = s"$cat.$name"
  private val catRoot = path("lake")
  private val root = s"$catRoot/$name"
  private val gen = new Gen(spark, seed, 0.1)
  /** The slice: every `stride`-th row id. */
  private val stride = 10L
  /** A write's key band: 2000 rows of the slice. */
  private val band = 2000 * stride
  private val rng = new scala.util.Random(seed * 7919 + 3)

  private var model: DataFrame = _
  private var modelRdds = Set.empty[Int]
  private var scratchRdds = Set.empty[Int]
  private var nextKey = 0L

  /** `df` materialized, with the ids of the RDDs that hold it, so the
    * benchmark frees exactly its own and the leak guard still sees the
    * program's. */
  private def materialize(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val m = df.localCheckpoint(eager = true)
    (m, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private def free(ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))

  /** An input of one write, freed once the model has moved past it. */
  private def scratch(df: DataFrame): DataFrame = {
    val (m, ids) = materialize(df)
    scratchRdds ++= ids
    m
  }

  /** Replace the model by `df`, materialized, and free the old one. */
  private def setModel(df: DataFrame): Unit = {
    val (m, ids) = materialize(df)
    free(modelRdds ++ scratchRdds)
    modelRdds = ids
    scratchRdds = Set.empty
    model = m
    m.createOrReplaceTempView("lake_model")
  }

  override def setup(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)
    spark.conf.set(s"spark.sql.catalog.$cat.key.$name", key)
    val df = gen.lineitemKeyed.filter(col(key) % stride === 0)
    require(graft.PerfbenchLake.publishFirst(spark,
      df.repartitionByRange(8, col(key)).sortWithinPartitions(key), root, key),
      "publishing the lake table's first version was refused")
    setModel(df)
    nextKey = gen.nLineitem
  }

  /** Each kind of read and write once, then the maintenance calls. */
  override def warmUp(): Unit = {
    val r = reads()
    val warm = r.map { case (k, q) => read(k, q) } ++ LakeRw.writeKinds.map(write) ++ maintenance()
    require(warm.forall(_.ok), s"warm-up failed: ${warm.filterNot(_.ok)}")
  }

  private def someKey(): Long = rng.nextLong(gen.nLineitem / stride) * stride

  private def reads(): Seq[(String, String)] = {
    val a = rng.nextLong((gen.nLineitem - 1000 * stride) / stride) * stride
    Seq("point" -> s"SELECT * FROM T WHERE l_id = ${someKey()}",
      "point" -> s"SELECT * FROM T WHERE l_id = ${someKey()}",
      "range" -> s"SELECT * FROM T WHERE l_id BETWEEN $a AND ${a + 1000 * stride - 1}",
      "aggregate" -> ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
        "sum(l_extendedprice) AS price, avg(l_tax) AS tax FROM T GROUP BY l_returnflag, l_linestatus"))
  }

  /** Run one read on the lake (timed), then on the model, and compare. */
  private def read(kind: String, sql: String): Sample = {
    val (s, out, err) = Workload.timed(trace.span("read", kind) {
      if (trace.enabled) CountingFileSystem.dataFilesOpened.clear()
      val rows = spark.sql(sql.replace("FROM T", s"FROM $table")).collect()
      trace.note("lake.rows_returned", rows.length.toDouble)
      trace.note("lake.read_files_scanned", CountingFileSystem.dataFilesOpened.size.toDouble)
      rows
    })
    err.foreach(e => System.err.println(s"[perfbench] $kind read failed: $e"))
    val ok = out.exists { got =>
      val want = spark.sql(sql.replace("FROM T", "FROM lake_model")).collect()
      val same = LakeRw.sameRows(got, want)
      if (!same) System.err.println(s"[perfbench] $kind read differs from the model: $sql")
      same
    }
    Sample("read", s, 1, if (ok) 0 else 1, out.fold(0.0)(_.length.toDouble))
  }

  private val columns: Seq[String] = gen.lineitemKeyed.columns.toSeq

  /** One write: the SQL (or merge-on-read delete) timed, then the model
    * moved with DataFrame ops. */
  private def write(kind: String): Sample = {
    val a = rng.nextLong(gen.nLineitem / band) * band
    val inBand = col(key).between(a, a + band - 1)
    val (next, changed, body): (DataFrame, Long, () => Unit) = kind match {
      case "merge" =>
        // 500 updates and 250 deletes in the band, 250 inserts past
        // the key domain: one statement, all three row-level clauses
        val upd = model.filter(inBand && col(key) % (4 * stride) === 0)
          .withColumn("l_quantity", col("l_quantity") + 1)
          .withColumn("l_extendedprice", round(col("l_extendedprice") * 1.01, 2))
          .withColumn("op", lit("U"))
        val del = model.filter(inBand && col(key) % (8 * stride) === 2 * stride).withColumn("op", lit("D"))
        val b = rng.nextLong((gen.nLineitem - 250 * stride) / stride) * stride
        val ins = gen.lineitemKeyed.filter(col(key).between(b, b + 250 * stride - 1) && col(key) % stride === 0)
          .withColumn(key, col(key) - b + nextKey).withColumn("op", lit("I"))
        nextKey += 250 * stride
        val src = scratch(upd.unionByName(del).unionByName(ins))
        src.createOrReplaceTempView("lake_merge_src")
        (model.join(src.select(key), Seq(key), "left_anti")
          .unionByName(src.filter(col("op") =!= "D").drop("op")), src.count(), () =>
          spark.sql(s"""MERGE INTO $table t USING lake_merge_src s ON t.l_id = s.l_id
            |WHEN MATCHED AND s.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, l_extendedprice = s.l_extendedprice
            |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (${columns.mkString(", ")})
            |  VALUES (${columns.map("s." + _).mkString(", ")})""".stripMargin).collect())
      case "mor_delete" =>
        val keys = scratch(model.filter(inBand && col(key) % (2 * stride) === stride).select(key))
        (model.join(keys, Seq(key), "left_anti"), keys.count(), () =>
          require(graft.PerfbenchLake.dvDelete(spark, root, key, keys), "merge-on-read delete refused"))
    }
    val (s, _, err) = Workload.timed(trace.span("dml", kind) {
      trace.note("lake.changed_rows", changed.toDouble)
      body()
    })
    err.foreach(e => System.err.println(s"[perfbench] $kind failed: $e"))
    setModel(next)
    spark.catalog.dropTempView("lake_merge_src")
    Sample("write", s, 1, if (err.isEmpty) 0 else 1, changed.toDouble)
  }

  private def maintenance(): Seq[Sample] = Seq(
    "dv_fold" -> s"CALL $cat.system.dv_fold(table => '$name')",
    "compact" -> s"CALL $cat.system.compact(table => '$name', target_mb => 1)",
    "gc" -> s"CALL $cat.system.gc(table => '$name', keep => 2)").map { case (proc, sql) =>
    val (s, _, err) = Workload.timed(trace.span("maintenance", proc)(spark.sql(sql).collect()))
    err.foreach(e => System.err.println(s"[perfbench] CALL $proc failed: $e"))
    Sample("maintenance", s, 1, if (err.isEmpty) 0 else 1)
  }

  /** One cycle: a round of four reads and a write per write kind, then
    * maintenance. */
  override def step(): Seq[Sample] = {
    val ops = LakeRw.writeKinds.flatMap(w => reads().map { case (k, q) => read(k, q) } :+ write(w)) ++
      maintenance()
    Sample("cycle", ops.map(_.seconds).sum, 0, 0) +: ops
  }

  override def opSeconds(samples: Seq[Sample]): Seq[Double] =
    samples.filter(_.kind == "cycle").map(_.seconds)

  override def report(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val rd = samples.filter(_.kind == "read").map(_.seconds)
    val wr = samples.filter(s => s.kind == "write" || s.kind == "maintenance").map(_.seconds)
    val (rTail, rLabel) = Stats.tail(rd)
    val (wTail, wLabel) = Stats.tail(wr)
    Seq(("read_p50_s", Workload.median(rd), s"s (n=${rd.size})"),
      ("read_tail_s", rTail, s"s ($rLabel, n=${rd.size})"),
      ("write_p50_s", Workload.median(wr), s"s (n=${wr.size})"),
      ("write_tail_s", wTail, s"s ($wLabel, n=${wr.size})"),
      ("space_amp", LakeRw.lakeState(spark, root, key)("lake.space_amp"), "ratio"))
  }

  override def layers(samples: Seq[Sample]): Map[String, Double] = {
    def of(kind: String) = trace.spans.filter(_.kind == kind).toSeq
    def med(kind: String, f: Span => Double) = Workload.median(of(kind).map(f))
    def cnt(s: Span, k: String) = s.counts.getOrElse(k, 0.0)
    val state = LakeRw.lakeState(spark, root, key)
    val ref = LakeRef.resolve(spark, root, None, Some(key))
    val bytesPerRow = ref.files.map(_.bytes).sum.toDouble / ref.files.map(_.rows).sum.max(1L)
    Map(
      "lake.read_s" -> med("read", _.seconds),
      "lake.read_files_scanned" -> med("read", cnt(_, "lake.read_files_scanned")),
      "lake.rows_read_per_row_returned" -> med("read", s =>
        cnt(s, "spark.input_rows") / cnt(s, "lake.rows_returned").max(1.0)),
      "lake.dml_s" -> med("dml", _.seconds),
      "lake.files_written" -> med("dml", cnt(_, "fs.data_files_created")),
      "lake.bytes_written" -> med("dml", cnt(_, "fs.bytes_written")),
      "lake.write_amp" -> med("dml", s =>
        cnt(s, "fs.bytes_written") / (cnt(s, "lake.changed_rows") * bytesPerRow).max(1.0)),
      "lake.maintenance_s" -> med("maintenance", _.seconds)) ++ state
  }

  /** The whole table equals the model, both ways, duplicates counted. */
  override def finalCheck(): Seq[String] = {
    val lake = spark.table(table).select(columns.map(col): _*)
    val m = model.select(columns.map(col): _*)
    if (lake.exceptAll(m).isEmpty && m.exceptAll(lake).isEmpty) Nil
    else Seq("final lake table differs from the model")
  }
}

object LakeRw {

  /** The writes of one cycle, in order; the merge-on-read delete goes
    * last so `dv_fold` has a deletion vector to fold. */
  val writeKinds: Seq[String] = Seq("merge", "mor_delete")

  /** Same rows in any order; doubles equal to a relative 1e-9 (sums
    * over a different file layout add in a different order). This is
    * the model check every lake_rw read goes through. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
      case x => String.valueOf(x)
    }.mkString("\u0001")
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
      case _ => x == y
    }
    a.length == b.length && a.sortBy(key).zip(b.sortBy(key)).forall { case (r, s) =>
      r.length == s.length && (0 until r.length).forall(i => close(r.get(i), s.get(i)))
    }
  }

  /** Self-test of the model check; run at the start of every run.
    * Returns the failures (empty when the check is right). */
  def selfTest(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(cond: Boolean, what: String): Unit = if (!cond) bad += what
    def rows(xs: Seq[Any]*): Array[Row] = xs.map(Row.fromSeq).toArray
    val a = rows(Seq(1L, "A", 10.0), Seq(2L, "N", 0.1 + 0.2))
    expect(sameRows(a, rows(Seq(2L, "N", 0.3), Seq(1L, "A", 10.0))), "order and last-bit float noise are ignored")
    expect(!sameRows(a, rows(Seq(1L, "A", 10.0))), "a missing row is caught")
    expect(!sameRows(a, rows(Seq(1L, "A", 10.0), Seq(2L, "N", 0.3), Seq(2L, "N", 0.3))), "an extra row is caught")
    expect(!sameRows(a, rows(Seq(1L, "A", 10.0), Seq(2L, "F", 0.3))), "a changed string is caught")
    expect(!sameRows(a, rows(Seq(1L, "A", 10.01), Seq(2L, "N", 0.3))), "a changed double is caught")
    expect(!sameRows(a, rows(Seq(1L, "A", 10.0), Seq(3L, "N", 0.3))), "a changed key is caught")
    expect(!sameRows(rows(Seq(1L, null)), rows(Seq(1L, "A"))), "null differs from a value")
    expect(sameRows(rows(), rows()), "two empty results agree")
    bad.result()
  }

  /** A lake table's shape: live data files, deletion vectors, versions
    * kept, and bytes on disk per byte of live data. */
  def lakeState(spark: SparkSession, root: String, key: String): Map[String, Double] = {
    val ref = LakeRef.resolve(spark, root, None, Some(key))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(root)).count(st => st.isDirectory &&
      st.getPath.getName.matches("v\\d+") && !fs.exists(new Path(st.getPath, "_REAPED")))
    Map("lake.files_live" -> ref.files.size.toDouble,
      "lake.dv_files_live" -> ref.dvPath.size.toDouble,
      "lake.versions_retained" -> versions.toDouble,
      "lake.space_amp" -> fs.getContentSummary(new Path(root)).getLength.toDouble /
        ref.files.map(_.bytes).sum.max(1L))
  }
}
