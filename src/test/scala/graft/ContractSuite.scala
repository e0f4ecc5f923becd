package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: cheap failures for mistakes the scored harness
  * would surface only as silent downgrades (an oracle key that matches no
  * query is dead weight; a query missing from oracleSql silently becomes a
  * rows-only check; an analysis error would cost the whole query).
  */
class ContractSuite extends AnyFunSuite with SparkFixture {

  test("every oracle key names an existing query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("every query has an oracle (zero rows-only entries)") {
    // Round 4: the former rows-only set (a5/a16/f7b/l2b/l2c) was made
    // oracle-checkable via engine-portable outputs (exact counts +
    // tolerance verdicts, md5/conv-derived hashes) — keep it that way.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"queries without oracle SQL: $rowsOnly")
  }

  test("every query analyzes against the sf0.001 corpus (no execution)") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").queryExecution.analyzed; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("Bench JSON numbers ignore the JVM's default locale") {
    val was = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Bench.num(1.5) == "1.500", "a German locale leaked into JSON")
      assert(Bench.num(12.0, 1) == "12.0")
      assert(graft.ops.LlmPipeline.planeSql(Array(0.5)) == "[0.500000]::DOUBLE[]",
        "a German locale leaked into the oracle SQL")
    } finally java.util.Locale.setDefault(was)
  }

  test("entry returns rows (the driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names follow the section_operator convention") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("[a-z][a-z0-9]*(_[a-z0-9]+)+"))
    assert(bad.isEmpty, s"non-conforming names: $bad")
  }
}
