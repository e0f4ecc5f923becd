package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

/** A JDBC driver that counts what the program asks of the database and
  * delegates every call to the embedded Derby driver.
  *
  * It accepts the same `jdbc:derby:` URLs as Derby, so Spark still picks
  * its Derby dialect from the URL. While counting is on, Derby's own
  * driver is taken out of `DriverManager` and this one put in its place,
  * so connections the library opens itself (`DriverManager.getConnection`)
  * and the ones Spark opens (by driver class name) are both counted. The
  * benchmark's own DML and checks go to `derby` directly and are never
  * counted. */
final class CountingDriver extends Driver {
  private def inner: Driver = CountingDriver.derby
  override def acceptsURL(url: String): Boolean = inner.acceptsURL(url)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      CountingDriver.connections.incrementAndGet()
      CountingDriver.wrap(classOf[Connection], inner.connect(url, info))
    }
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    inner.getPropertyInfo(url, info)
  override def getMajorVersion: Int = inner.getMajorVersion
  override def getMinorVersion: Int = inner.getMinorVersion
  override def jdbcCompliant(): Boolean = inner.jdbcCompliant()
  override def getParentLogger: java.util.logging.Logger = inner.getParentLogger
}

object CountingDriver {
  val statements = new AtomicLong
  val connections = new AtomicLong
  val commits = new AtomicLong
  val rowsFetched = new AtomicLong
  val rowsWritten = new AtomicLong
  val execSeconds = new DoubleAdder

  /** The embedded Derby driver, loaded once. */
  lazy val derby: Driver = Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    .getDeclaredConstructor().newInstance().asInstanceOf[Driver]

  private lazy val self = new CountingDriver

  /** Route every `jdbc:derby:` connection through the counters. */
  def install(): Unit = synchronized {
    derby.connect("jdbc:derby:memory:perfbench_boot;create=true", new Properties).close()
    // Derby's own driver, and any wrapper Spark registered around it
    val it = DriverManager.getDrivers
    while (it.hasMoreElements) {
      val d = it.nextElement()
      if (!(d eq self) && d.acceptsURL("jdbc:derby:memory:x")) DriverManager.deregisterDriver(d)
    }
    if (!DriverManager.drivers().anyMatch(_ eq self)) DriverManager.registerDriver(self)
  }

  def snapshot(): Map[String, Double] = Map(
    "sources.jdbc_statements" -> statements.get.toDouble,
    "sources.jdbc_exec_s" -> execSeconds.sum,
    "sources.jdbc_connections" -> connections.get.toDouble,
    "sources.jdbc_commits" -> commits.get.toDouble,
    "sources.jdbc_rows_fetched" -> rowsFetched.get.toDouble,
    "sources.jdbc_rows_written" -> rowsWritten.get.toDouble)

  private val wrapped: Set[Class[_]] = Set(classOf[Connection], classOf[Statement],
    classOf[java.sql.PreparedStatement], classOf[java.sql.CallableStatement], classOf[ResultSet])

  private[perfbench] def wrap[T](iface: Class[T], target: AnyRef): T =
    if (target == null) null.asInstanceOf[T]
    else Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[T]

  private final class Handler(target: AnyRef) extends InvocationHandler {
    override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      val isExec = name.startsWith("execute") && target.isInstanceOf[Statement]
      val t0 = System.nanoTime()
      val out =
        try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      if (isExec) {
        execSeconds.add((System.nanoTime() - t0) / 1e9)
        statements.incrementAndGet()
        out match {
          case n: java.lang.Integer if name == "executeUpdate" => rowsWritten.addAndGet(n.longValue.max(0))
          case n: java.lang.Long if name == "executeLargeUpdate" => rowsWritten.addAndGet(n.longValue.max(0))
          case a: Array[Int] => rowsWritten.addAndGet(a.map(c => if (c == Statement.SUCCESS_NO_INFO) 1L else c.toLong.max(0)).sum)
          case a: Array[Long] => rowsWritten.addAndGet(a.map(_.max(0)).sum)
          case b: java.lang.Boolean if name == "execute" && !b.booleanValue =>
            rowsWritten.addAndGet(target.asInstanceOf[Statement].getUpdateCount.toLong.max(0))
          case _ =>
        }
      } else if (name == "commit" && target.isInstanceOf[Connection]) commits.incrementAndGet()
      else if (name == "next" && target.isInstanceOf[ResultSet] && out == java.lang.Boolean.TRUE)
        rowsFetched.incrementAndGet()
      // keep counting through the objects a call hands back
      m.getReturnType match {
        case rt if out != null && wrapped.contains(rt) && !Proxy.isProxyClass(out.getClass) =>
          wrap(rt.asInstanceOf[Class[AnyRef]], out).asInstanceOf[AnyRef]
        case _ => out
      }
    }
  }
}
