package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's seed, a scratch
  * directory inside the checkout, and the trace (a no-op until the
  * traced half of a traced run starts). */
final case class Ctx(spark: SparkSession, seed: Long, work: java.nio.file.Path, trace: Trace) {
  def path(sub: String): String = work.resolve(sub).toString
}

/** One timed operation of the closed loop, made of `attempts` calls of
  * which `failures` threw or failed the benchmark's own check of their
  * output; `rows` is the work it carried (changed rows for a sync tick). */
final case class Sample(kind: String, seconds: Double, attempts: Int, failures: Int, rows: Double = 0.0) {
  def ok: Boolean = failures == 0
}

/** A workload is a closed loop with one client: `step` issues the next
  * operation, waits for it, checks it, and returns its sample(s). */
trait Workload {
  /** Build the state the run measures (data, tables, lake). */
  def setup(): Unit

  /** Run each kind of operation once, untimed, so caches, JIT and
    * codegen are warm before timing. */
  def warmUp(): Unit

  def step(): Seq[Sample]

  /** The samples `op_p50_s` is the median of. */
  def opSeconds(samples: Seq[Sample]): Seq[Double] = samples.map(_.seconds)

  /** The workload's own named metrics, printed for a reader:
    * (name, value, unit). */
  def report(samples: Seq[Sample]): Seq[(String, Double, String)]

  /** Workload-specific per-layer metrics from the traced spans. */
  def layers(samples: Seq[Sample]): Map[String, Double]

  /** End-of-run check beyond the per-operation ones: the failures. */
  def finalCheck(): Seq[String]
}

object Workload {
  /** Time `body`, turning a throw into a failed sample. */
  def timed[T](body: => T): (Double, Option[T], Option[Throwable]) = {
    val t0 = System.nanoTime()
    try {
      val out = body
      ((System.nanoTime() - t0) / 1e9, Some(out), None)
    } catch {
      case e: Exception => ((System.nanoTime() - t0) / 1e9, None, Some(e))
    }
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
