package perfbench

import java.sql.Connection
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.sources.JdbcSync
import graft.sources.JdbcSync.JdbcConfig
import graft.sync.{JdbcToLake, LakeToJdbc}

/** sync_trickle: the scheduled source → lake → target pipeline on a
  * ~50k-row orders slice. Each tick runs source DML over plain JDBC
  * (untimed), then the timed `JdbcToLake.capture` + `LakeToJdbc.catchUp`,
  * then checks target ≡ source by reading both Derby tables over plain
  * JDBC (untimed). A change tick alters ~0.5 % of the rows (60 % updates,
  * 20 % inserts, 20 % deletes; the seed picks which rows and the new
  * values); the first tick of every four is quiet. */
final class SyncTrickle(ctx: Ctx) extends Workload {
  import ctx._

  private val key = "o_orderkey"
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val changeShare = 0.005
  private val gen = new Gen(spark, seed, 0.1)

  // fixed I/U/D shares; the seed picks the rows and the new values
  private val updateShare = 0.6
  private val insertShare = 0.2

  private var tick = 0
  private val rng = new scala.util.Random(seed * 7919 + 1)
  private val keys = mutable.ArrayBuffer[Long]()
  private var nextKey = 0L

  private def driverClass =
    if (trace.enabled) classOf[CountingDriver].getName else "org.apache.derby.jdbc.EmbeddedDriver"
  private def src = JdbcConfig(url, "SRC", driver = driverClass)
  private def tgt = JdbcConfig(url, "TGT", driver = driverClass)
  private val root = path("lake/sync")

  /** The benchmark's own connection: straight to Derby, never counted. */
  private def plain[T](f: Connection => T): T = {
    val c = CountingDriver.derby.connect(url, new Properties)
    try f(c) finally c.close()
  }

  override def setup(): Unit = {
    val df = gen.orders.filter(col(key) % 3 === 0)
      .select(Seq(key, "o_custkey", "o_totalprice", "o_orderstatus").map(c => col(c).as(c.toUpperCase)): _*)
    JdbcSync.writeTable(df, src, SaveMode.Overwrite)
    JdbcSync.ensureKeyIndex(src, Seq("O_ORDERKEY"))
    JdbcSync.writeTable(df.limit(0), tgt, SaveMode.Overwrite)
    JdbcToLake.capture(spark, src, root, key)
    LakeToJdbc.catchUp(spark, root, key, tgt)
    JdbcSync.ensureKeyIndex(tgt, Seq("O_ORDERKEY"))
    keys.clear()
    keys ++= df.select("O_ORDERKEY").collect().map(_.getLong(0))
    nextKey = gen.nOrders
    tick = 0
  }

  /** A quiet tick and a change tick, checked: the first incremental
    * ticks of a JVM run well above the steady state while the JIT
    * compiles the planning and scheduling paths. */
  override def warmUp(): Unit = {
    val warm = (0 until 2).flatMap(_ => step())
    require(warm.forall(_.ok), s"warm-up ticks failed: $warm")
    tick = 0
  }

  /** Source DML for one change tick, in one transaction. */
  private def mutate(): Int = {
    val n = math.max(1, math.round(keys.size * changeShare).toInt)
    val nU = math.round(n * updateShare).toInt
    val nI = math.round(n * insertShare).toInt
    val nD = n - nU - nI
    // distinct victims for U and D: partial Fisher-Yates over the key list
    for (i <- 0 until (nU + nD)) {
      val j = i + rng.nextInt(keys.size - i)
      val t = keys(i); keys(i) = keys(j); keys(j) = t
    }
    val upd = keys.slice(0, nU).toSeq
    val del = keys.slice(nU, nU + nD).toSeq
    val ins = (0 until nI).map(_ => { nextKey += 1; nextKey })
    plain { c =>
      c.setAutoCommit(false)
      val u = c.prepareStatement(s"UPDATE ${src.table} SET O_TOTALPRICE = O_TOTALPRICE + ?, " +
        "O_ORDERSTATUS = ? WHERE O_ORDERKEY = ?")
      upd.foreach { k =>
        u.setDouble(1, 1 + rng.nextInt(50000) / 100.0); u.setString(2, Seq("F", "O", "P")(rng.nextInt(3)))
        u.setLong(3, k); u.addBatch()
      }
      u.executeBatch(); u.close()
      val d = c.prepareStatement(s"DELETE FROM ${src.table} WHERE O_ORDERKEY = ?")
      del.foreach { k => d.setLong(1, k); d.addBatch() }
      d.executeBatch(); d.close()
      val i = c.prepareStatement(s"INSERT INTO ${src.table} VALUES (?, ?, ?, ?)")
      ins.foreach { k =>
        i.setLong(1, k); i.setLong(2, rng.nextInt(gen.nCustomer.toInt).toLong)
        i.setDouble(3, 1000 + rng.nextInt(49900000) / 100.0); i.setString(4, "O"); i.addBatch()
      }
      i.executeBatch(); i.close()
      c.commit()
    }
    val gone = del.toSet
    keys.filterInPlace(k => !gone.contains(k))
    keys ++= ins
    n
  }

  private def readAll(table: String): Vector[(Long, Long, Double, String)] = plain { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT O_ORDERKEY, O_CUSTKEY, O_TOTALPRICE, O_ORDERSTATUS FROM $table ORDER BY O_ORDERKEY")
    val b = Vector.newBuilder[(Long, Long, Double, String)]
    while (rs.next()) b += ((rs.getLong(1), rs.getLong(2), rs.getDouble(3), rs.getString(4)))
    rs.close()
    b.result()
  }

  override def step(): Seq[Sample] = {
    // the first tick of every four is quiet, so even a short window
    // times one
    val quiet = tick % 4 == 0
    tick += 1
    if (!quiet) mutate()
    val (s, out, err) = Workload.timed {
      trace.span("tick", if (quiet) "quiet" else "change") {
        val c = trace.span("capture", "capture") {
          val c = JdbcToLake.capture(spark, src, root, key)
          trace.note("sync.capture_changed_rows", (c.nInsert + c.nUpdate + c.nDelete).toDouble)
          c
        }
        val u = trace.span("catchup", "catchup") {
          val u = LakeToJdbc.catchUp(spark, root, key, tgt)
          trace.note("sync.catchup_files_scanned", u.scannedFiles.toDouble)
          trace.note("sync.catchup_files_total", u.totalFiles.toDouble)
          u
        }
        (c, u)
      }
    }
    err.foreach(e => System.err.println(s"[perfbench] tick $tick failed: $e"))
    val same = err.isEmpty && readAll(src.table) == readAll(tgt.table)
    if (err.isEmpty && !same) System.err.println(s"[perfbench] tick $tick: target differs from source")
    val carried = out.fold(0L) { case (_, u) => u.nInsert + u.nUpdate + u.nDelete }
    Seq(Sample(if (quiet) "quiet" else "change", s, 1, if (same) 0 else 1, carried.toDouble))
  }

  /** Change ticks; the quiet ones are reported on their own. */
  override def opSeconds(samples: Seq[Sample]): Seq[Double] =
    samples.filter(_.kind == "change").map(_.seconds)

  override def report(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val change = samples.filter(_.kind == "change")
    val quiet = samples.filter(_.kind == "quiet")
    val (tail, label) = Stats.tail(change.map(_.seconds))
    Seq(("tick_p50_s", Workload.median(change.map(_.seconds)), s"s (n=${change.size})"),
      ("tick_tail_s", tail, s"s ($label, n=${change.size})"),
      ("quiet_tick_p50_s", Workload.median(quiet.map(_.seconds)), s"s (n=${quiet.size})"),
      ("sync_rows_per_s", change.map(_.rows).sum / change.map(_.seconds).sum.max(1e-9), "rows/s"))
  }

  override def layers(samples: Seq[Sample]): Map[String, Double] = {
    def med(kind: String, f: Span => Double) =
      Workload.median(trace.spans.filter(_.kind == kind).map(f).toSeq)
    def cnt(kind: String, k: String) = med(kind, _.counts.getOrElse(k, 0.0))
    Map(
      "sync.capture_s" -> med("capture", _.seconds),
      "sync.catchup_s" -> med("catchup", _.seconds),
      // what capture read from the source: every row the counting
      // driver handed out during the span, Spark's JDBC scans included
      "sync.capture_source_rows" -> cnt("capture", "sources.jdbc_rows_fetched"),
      "sync.capture_changed_rows" -> cnt("capture", "sync.capture_changed_rows"),
      "sync.capture_useful_ratio" -> med("capture", s =>
        s.counts.getOrElse("sync.capture_changed_rows", 0.0) /
          s.counts.getOrElse("sources.jdbc_rows_fetched", 0.0).max(1.0)),
      "sync.catchup_files_scanned" -> cnt("catchup", "sync.catchup_files_scanned"),
      "sync.catchup_files_total" -> cnt("catchup", "sync.catchup_files_total")) ++
      CountingDriver.snapshot().keys.map(k => k -> cnt("tick", k)) ++
      LakeRw.lakeState(spark, root, key)
  }

  override def finalCheck(): Seq[String] =
    if (readAll(src.table) == readAll(tgt.table)) Nil else Seq("final target differs from source")
}
