package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{CallableStatement, Connection, Driver, DriverManager,
  DriverPropertyInfo, PreparedStatement, ResultSet, Statement}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.jdbc.DriverWrapper

/** A JDBC delegate that counts the round trips of the `io` layer. It
  * takes the place of the Derby driver in `DriverManager` under the
  * unchanged `jdbc:derby:` URLs, so the program's `DriverManager`
  * connections and Spark's JDBC source (which still picks its Derby
  * dialect from the URL prefix) both go through it. Installed only in
  * a traced run, and taken out again while [[Tracing.off]] runs.
  *
  * Counters: `io.connections`, `io.statements` (every execute call),
  * `io.batches` (executeBatch calls), `io.commits`, `io.rows_written`
  * (rows added to a batch plus update counts of single statements),
  * `io.rows_read` (rows fetched from result sets), `io.write_s` and
  * `io.read_s` (time inside those calls, summed over threads). */
final class CountingDriver extends Driver {
  private def inner: Driver = CountingDriver.derby
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val c = inner.connect(url, info)
      if (c == null) null
      else {
        Trace.add("io.connections", 1)
        CountingDriver.proxy(classOf[Connection], c, new CountingDriver.Conn(c))
      }
    }
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:derby:") && inner.acceptsURL(url)
  override def getPropertyInfo(url: String, info: Properties)
      : Array[DriverPropertyInfo] = inner.getPropertyInfo(url, info)
  override def getMajorVersion: Int = inner.getMajorVersion
  override def getMinorVersion: Int = inner.getMinorVersion
  override def jdbcCompliant(): Boolean = inner.jdbcCompliant()
  override def getParentLogger: java.util.logging.Logger =
    inner.getParentLogger
}

object CountingDriver {
  @volatile private var derby: Driver = _

  private lazy val counting = new CountingDriver

  /** Every registered driver that takes `jdbc:derby:` URLs. Besides
    * Derby's own and the counting one, these are the `DriverWrapper`s
    * Spark's JDBC source registers around whichever of the two it
    * found for a URL. */
  private def derbyDrivers(): List[Driver] =
    DriverManager.getDrivers.asScala.toList
      .filter(_.acceptsURL("jdbc:derby:probe"))

  /** Replace every registered Derby driver with the counting one. */
  def install(): Unit = synchronized {
    val found = derbyDrivers()
    if (derby == null) {
      require(found.nonEmpty, "no Derby JDBC driver on the classpath")
      derby = found.head match {
        case w: DriverWrapper => w.wrapped
        case d => d
      }
    }
    found.foreach(DriverManager.deregisterDriver)
    DriverManager.registerDriver(counting)
  }

  /** Put the Derby driver back in the counting one's place. */
  def uninstall(): Unit = synchronized {
    if (derby != null) {
      derbyDrivers().foreach(DriverManager.deregisterDriver)
      DriverManager.registerDriver(derby)
    }
  }

  private def proxy[T](iface: Class[T], target: AnyRef,
      h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def timed(counter: String)(f: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    try f finally Trace.add(counter, (System.nanoTime() - t0) / 1e9)
  }

  private final class Conn(c: Connection) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "createStatement" =>
          val s = call(c, m, args).asInstanceOf[Statement]
          proxy(classOf[Statement], s, new Stmt(s))
        case "prepareStatement" =>
          val s = call(c, m, args).asInstanceOf[PreparedStatement]
          proxy(classOf[PreparedStatement], s, new Stmt(s))
        case "prepareCall" =>
          val s = call(c, m, args).asInstanceOf[CallableStatement]
          proxy(classOf[CallableStatement], s, new Stmt(s))
        case "commit" =>
          Trace.add("io.commits", 1)
          timed("io.write_s")(call(c, m, args))
        case _ => call(c, m, args)
      }
  }

  private final class Stmt(s: Statement) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "addBatch" =>
          Trace.add("io.rows_written", 1)
          call(s, m, args)
        case "executeBatch" | "executeLargeBatch" =>
          Trace.add("io.statements", 1)
          Trace.add("io.batches", 1)
          timed("io.write_s")(call(s, m, args))
        case "executeQuery" =>
          Trace.add("io.statements", 1)
          val rs = timed("io.read_s")(call(s, m, args)).asInstanceOf[ResultSet]
          proxy(classOf[ResultSet], rs, new Rows(rs))
        case "executeUpdate" | "executeLargeUpdate" =>
          Trace.add("io.statements", 1)
          val n = timed("io.write_s")(call(s, m, args))
          Trace.add("io.rows_written", n.asInstanceOf[Number].doubleValue)
          n
        case "execute" =>
          Trace.add("io.statements", 1)
          val hasRows = timed("io.write_s")(call(s, m, args))
          if (!hasRows.asInstanceOf[Boolean])
            Trace.add("io.rows_written", math.max(0, s.getUpdateCount))
          hasRows
        case "getResultSet" =>
          val rs = call(s, m, args).asInstanceOf[ResultSet]
          if (rs == null) null else proxy(classOf[ResultSet], rs, new Rows(rs))
        case _ => call(s, m, args)
      }
  }

  private final class Rows(rs: ResultSet) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      if (m.getName == "next") {
        val more = timed("io.read_s")(call(rs, m, args))
        if (more.asInstanceOf[Boolean]) Trace.add("io.rows_read", 1)
        more
      } else call(rs, m, args)
  }
}
