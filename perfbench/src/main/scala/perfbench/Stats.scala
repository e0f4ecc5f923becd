package perfbench

import java.util.Locale

/** Order statistics for the benchmark's timings, and the one number
  * formatter every printed value goes through. */
object Stats {

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = rankOf(s.size, p).max(1)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rankOf(n, p)

  // p * n / 100 is exact in decimal but not always in binary
  // (99.9 * 10000 / 100 = 9990.000000000002), so round before ceil
  private def rankOf(n: Int, p: Double): Int =
    math.ceil(math.rint(p * n * 1e6 / 100.0) / 1e6).toInt

  private val ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail percentile a sample of `n` supports: the highest one on
    * the ladder that still leaves at least ten samples beyond it. A
    * sample too small for even p50 to qualify reports its maximum and
    * says so, rather than a percentile it cannot support. */
  def tailPercentile(n: Int): Option[Double] =
    ladder.find(p => beyond(n, p) >= 10)

  /** (value, label) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, String) = tailPercentile(xs.size) match {
    case _ if xs.isEmpty => (0.0, "none")
    case Some(p) => (percentile(xs, p), "p" + num(p).stripSuffix(".0"))
    case None => (xs.max, s"max(n<20)")
  }

  /** Every number the benchmark prints goes through one of these two,
    * and neither consults the host's locale: `num` is the exact decimal
    * of the double (for JSON), `human` a fixed four-place rendering
    * with Locale.ROOT. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a finite number: $x")
    java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString
  }

  def human(x: Double): String =
    String.format(Locale.ROOT, "%.4f", Double.box(x))

  /** Self-test of the tail selection; run at the start of every run.
    * Returns the failures (empty when the selection is right). */
  def selfTest(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def expect(cond: Boolean, what: String): Unit = if (!cond) bad += what
    expect(tailPercentile(19).isEmpty, "n=19 must support no percentile")
    expect(tailPercentile(20).contains(50.0), "n=20 supports p50")
    expect(tailPercentile(39).contains(50.0), "n=39 supports p50, not p75")
    expect(tailPercentile(40).contains(75.0), "n=40 supports p75")
    expect(tailPercentile(100).contains(90.0), "n=100 supports p90")
    expect(tailPercentile(199).contains(90.0), "n=199 supports p90, not p95")
    expect(tailPercentile(200).contains(95.0), "n=200 supports p95")
    expect(tailPercentile(1000).contains(99.0), "n=1000 supports p99")
    expect(tailPercentile(10000).contains(99.9), "n=10000 supports p99.9")
    val xs = (1 to 100).map(_.toDouble)
    expect(tail(xs) == ((90.0, "p90")), s"tail(1..100) = ${tail(xs)}")
    expect(beyond(100, 90.0) == 10, "p90 of 100 leaves 10 beyond")
    expect(tail(Seq(3.0, 1.0, 2.0)) == ((3.0, "max(n<20)")), "small sample")
    expect(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even median")
    expect(human(1234.5) == "1234.5000", s"human(1234.5) = ${human(1234.5)}")
    expect(num(0.5) == "0.5" && num(1e-7) == "0.0000001", s"num = ${num(1e-7)}")
    bad.result()
  }
}
