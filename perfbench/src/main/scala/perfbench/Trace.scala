package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are nanoTime; `ms` converts to the
  * epoch milliseconds Spark stamps its events with. `counts` holds the
  * counter deltas taken at the span's boundaries plus anything the
  * Spark events attributed to it. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, var endNs: Long = 0L,
    counts: mutable.Map[String, Double] = mutable.Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory, plus the collectors that feed them: the
  * counting JDBC driver and Hadoop FileSystem statistics (read at the
  * span boundaries, exact), and a SparkListener and
  * QueryExecutionListener whose events arrive asynchronously and are
  * attributed to the innermost span open at the event's time. There is
  * one client thread, so time attribution is unambiguous. */
final class Trace(spark: SparkSession) {
  @volatile private var on = false
  def enabled: Boolean = on

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  private def msOf(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  private final case class Job(startMs: Long, var endMs: Long)
  private final case class Event(atMs: Double, counts: Map[String, Double])
  private val jobs = mutable.Map[Int, Job]()
  private val events = mutable.ArrayBuffer[Event]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(e.time, Long.MaxValue)
      events += Event(e.time.toDouble, Map("spark.jobs" -> 1.0))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val ev = Event(e.taskInfo.finishTime.toDouble, Map(
        "spark.tasks" -> 1.0,
        "spark.task_s" -> m.executorRunTime / 1e3,
        "spark.gc_s" -> m.jvmGCTime / 1e3,
        "spark.shuffle_bytes" -> (m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead).toDouble,
        "spark.input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "spark.input_rows" -> m.inputMetrics.recordsRead.toDouble))
      Trace.this.synchronized(events += ev)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val ev = Event(phases.map(_.startTimeMs).min.toDouble,
          Map("spark.plan_s" -> phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
        Trace.this.synchronized(events += ev)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start collecting; from here on `span` records. */
  def start(): Unit = {
    CountingDriver.install()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  private def syncCounters(): Map[String, Double] = CountingDriver.snapshot() ++ Trace.fsCounters()

  /** Time `body` as a span of `kind`. Without tracing it just runs it. */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), kind, name, System.nanoTime())
      spans += s
      stack = s :: stack
      val before = syncCounters()
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        syncCounters().foreach { case (k, v) => s.counts(k) = v - before(k) }
      }
    }

  /** Add a count the benchmark knows (rows scanned, rows changed) to
    * the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + value)

  /** Drain Spark's listener bus, then hand every asynchronous event to
    * the innermost span that was open when it happened, and the job
    * intervals to the driver-gap of each leaf span. */
  def finish(): Unit = if (on) {
    on = false
    Trace.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id)).sortBy(_.startNs)
    val starts = leaves.map(s => msOf(s.startNs)).toArray
    synchronized {
      events.foreach { ev =>
        val i = java.util.Arrays.binarySearch(starts, ev.atMs) match {
          case k if k >= 0 => k
          case k => -k - 2
        }
        if (i >= 0 && ev.atMs <= msOf(leaves(i).endNs) + 1) ev.counts.foreach { case (k, v) =>
          leaves(i).counts(k) = leaves(i).counts.getOrElse(k, 0.0) + v
        }
      }
      leaves.foreach { s =>
        val (a, b) = (msOf(s.startNs), msOf(s.endNs))
        val covered = jobs.values.toSeq
          .map(j => (j.startMs.toDouble.max(a), j.endMs.toDouble.min(b)))
          .filter { case (x, y) => y > x }.sortBy(_._1)
          .foldLeft((0.0, a)) { case ((acc, upTo), (x, y)) =>
            if (y <= upTo) (acc, upTo) else (acc + y - x.max(upTo), y)
          }._1
        s.counts("spark.driver_gap_s") = ((b - a) - covered).max(0.0) / 1e3
      }
    }
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + Stats.num(v) }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""start_s":${Stats.num((s.startNs - ns0) / 1e9)},"dur_s":${Stats.num(s.seconds)},""" +
        s""""self_s":${Stats.num(selfSeconds(s))},"counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** File system operations (from [[CountingFileSystem]]) and bytes
    * (Hadoop's statistics, summed over every scheme). */
  def fsCounters(): Map[String, Double] = {
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "fs.read_ops" -> CountingFileSystem.reads.get.toDouble,
      "fs.write_ops" -> CountingFileSystem.writes.get.toDouble,
      "fs.data_files_created" -> CountingFileSystem.dataFilesCreated.get.toDouble,
      "fs.bytes_read" -> all.map(_.getBytesRead).sum.toDouble,
      "fs.bytes_written" -> all.map(_.getBytesWritten).sum.toDouble)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** Cached frames the program left behind: CacheManager entries plus
    * persisted RDDs. */
  def cachedFrames(spark: SparkSession): Int =
    org.apache.spark.PerfbenchAccess.cacheEntries(spark) +
      spark.sparkContext.getPersistentRDDs.size

  /** Heap in use after the most recent collection of each heap pool. */
  def heapAfterGcMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
