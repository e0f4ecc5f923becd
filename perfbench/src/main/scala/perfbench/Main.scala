package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints human-readable `metric` / `layer` lines on stdout and writes
  * the run's result as JSON to `<work>/result.json`; `run.py` adds the
  * DuckDB oracle verdict for query_mix and prints the final line. */
object Main {

  val workloads: Seq[String] = Seq("sync_trickle", "query_mix")

  val spanKinds: Seq[String] = Seq("capture", "catchup", "read", "dml", "maintenance", "query")
  val sparkMetrics: Seq[String] = Seq("spark.plan_s", "spark.driver_gap_s", "spark.jobs", "spark.tasks",
    "spark.task_s", "spark.gc_s", "spark.shuffle_bytes", "spark.input_bytes")
  val fsMetrics: Seq[String] = Seq("fs.read_ops", "fs.write_ops", "fs.bytes_read", "fs.bytes_written")

  /** Every per-layer metric, in output order. A traced run reports all
    * of them; one that does not apply to the workload reads 0. */
  val layerNames: Seq[String] =
    Seq("sync.capture_s", "sync.catchup_s", "sync.capture_source_rows", "sync.capture_changed_rows",
      "sync.capture_useful_ratio", "sync.catchup_files_scanned", "sync.catchup_files_total") ++
      CountingDriver.snapshot().keys.toSeq.sorted ++
      Seq("lake.read_s", "lake.read_files_scanned", "lake.rows_read_per_row_returned", "lake.dml_s",
        "lake.files_written", "lake.bytes_written", "lake.write_amp", "lake.maintenance_s",
        "lake.files_live", "lake.dv_files_live", "lake.versions_retained", "lake.space_amp") ++
      QueryMix.names.map(n => s"ops.query_s.$n") ++
      (sparkMetrics ++ fsMetrics).flatMap(m => spanKinds.map(k => s"$m.$k")) ++
      Seq("jvm.heap_after_gc_mb", "jvm.leaked_cached_frames", "host.sentinel_s",
        "trace.overhead_s", "trace.unattributed_s")

  def unitOf(layer: String): String =
    if (layer.endsWith("_s") || layer.contains("_s.")) "s"
    else if (layer.contains("bytes")) "bytes"
    else if (layer.endsWith("_mb")) "MiB"
    else if (layer.contains("ratio") || layer.contains("per_row") || layer.endsWith("_amp")) "ratio"
    else "count"

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-layers"))) {
      layerNames.foreach(n => println(s"$n ${unitOf(n)}"))
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val selfTest = Stats.selfTest() ++ LakeRw.selfTest()
    require(selfTest.isEmpty, s"self-test failed: ${selfTest.mkString("; ")}")

    System.setProperty("derby.system.home", work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    graft.EntryTuning.tuneEmbeddedDerby()

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // traced runs count file system operations from the first one on
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.Tables.prepare(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    try run(spark, workload, seed, seconds, traced, work, sessionS)
    finally spark.stop()
  }

  /** The stall sentinel Bench uses: a 10M-row sum, no IO. Recorded
    * before and after the run; never used to drop, retry or pick runs. */
  private def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(10000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, sessionS: Double): Unit = {
    val trace = new Trace(spark)
    val ctx = Ctx(spark, seed, work, trace)
    val w: Workload = name match {
      case "sync_trickle" => new SyncTrickle(ctx)
      case "query_mix" => new QueryMix(ctx)
    }
    val sentinelBefore = sentinel(spark)
    val setupS = {
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }
    val warmS = {
      val t = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t) / 1e9
    }
    val baseFrames = Trace.cachedFrames(spark)
    val heap = mutable.ArrayBuffer[Double]()
    val frames = mutable.ArrayBuffer[Double]()

    def loop(secs: Double): Seq[Sample] = {
      val out = mutable.ArrayBuffer[Sample]()
      val end = System.nanoTime() + (secs * 1e9).toLong
      do {
        out ++= w.step()
        if (trace.enabled) {
          heap += Trace.heapAfterGcMb()
          frames += (Trace.cachedFrames(spark) - baseFrames).toDouble
        }
      } while (System.nanoTime() < end)
      out.toSeq
    }

    // A traced run measures its first half untraced and its second half
    // traced; the difference of the two medians is the trace's overhead.
    val loopStart = System.nanoTime()
    val untraced = loop(if (traced) seconds / 2 else seconds)
    val tracedSamples = if (traced) {
      trace.start()
      val s = loop(seconds / 2)
      trace.finish()
      s
    } else Nil
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val samples = untraced ++ tracedSamples
    val failures = w.finalCheck()
    val sentinelAfter = sentinel(spark)

    val attempted = samples.map(_.attempts).sum + 1
    val failed = samples.map(_.failures).sum + (if (failures.isEmpty) 0 else 1)
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val times = w.opSeconds(untraced)
    val e2e = Seq(
      ("setup_s", sessionS + setupS + warmS, "s",
        s"session ${Stats.human(sessionS)} s + set-up ${Stats.human(setupS)} s + warm-up ${Stats.human(warmS)} s"),
      ("op_p50_s", Stats.median(times), "s", s"n=${times.size}"))

    println(s"# perfbench $name seed=$seed seconds=${Stats.human(seconds)} trace=${if (traced) 1 else 0}")
    e2e.foreach { case (n, v, u, note) => println(s"metric $n ${Stats.human(v)} $u ($note)") }
    w.report(untraced).foreach { case (n, v, u) => println(s"metric $n ${Stats.human(v)} $u") }
    println(s"# measured loop ${Stats.human(loopS)} s wall, checks included")
    println("samples " + untraced.map(s => s"${s.kind}=${Stats.human(s.seconds)}").mkString(" "))
    println(s"metric host.sentinel_s before=${Stats.human(sentinelBefore)} after=${Stats.human(sentinelAfter)}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (n, v, u, _) => (n, v, u) }
      else {
        val layers = mutable.LinkedHashMap[String, Double]()
        layerNames.foreach(layers(_) = 0.0)
        val spans = trace.spans.toSeq
        for (k <- spanKinds; m <- sparkMetrics ++ fsMetrics) {
          val of = spans.filter(_.kind == k)
          if (of.nonEmpty) layers(s"$m.$k") = Stats.median(of.map(_.counts.getOrElse(m, 0.0)))
        }
        layers("jvm.heap_after_gc_mb") = if (heap.isEmpty) 0.0 else heap.max
        layers("jvm.leaked_cached_frames") = if (frames.isEmpty) 0.0 else frames.max
        layers("host.sentinel_s") = sentinelBefore.max(sentinelAfter)
        layers ++= w.layers(tracedSamples)
        layers("trace.overhead_s") = Stats.median(w.opSeconds(tracedSamples)) - Stats.median(times)
        val roots = spans.filter(s => s.parent < 0 && spans.exists(_.parent == s.id))
        layers("trace.unattributed_s") = if (roots.isEmpty) 0.0 else Stats.median(roots.map(trace.selfSeconds))
        trace.writeJsonl(work.resolve("spans.jsonl"))
        layers.foreach { case (n, v) => println(s"layer $n ${Stats.human(v)}") }
        layers.toSeq.map { case (n, v) => (n, v, unitOf(n)) }
      }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    Files.write(work.resolve("result.json"),
      (s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
}
