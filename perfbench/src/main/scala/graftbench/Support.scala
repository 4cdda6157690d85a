package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Plain-JDBC access for fixtures and output checks. These run outside
  * every timed region and never go through the program. */
object Db {
  def count(url: String, table: String, predicate: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM $table WHERE $predicate")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** The rows of a query as a multiset (row text -> multiplicity). */
  def rows(url: String, sql: String): Map[String, Int] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.HashMap.empty[String, Int]
      while (rs.next()) {
        val k = (1 to n).map(i => String.valueOf(rs.getObject(i)))
          .mkString("|")
        out(k) = out.getOrElse(k, 0) + 1
      }
      out.toMap
    } finally c.close()
  }

  /** Rows of `a` not matched in `b`, counting multiplicity: SQL's
    * `a EXCEPT ALL b`. */
  def exceptAll(a: Map[String, Int], b: Map[String, Int]): Int =
    a.iterator.map { case (k, n) => math.max(0, n - b.getOrElse(k, 0)) }.sum

  /** Close an embedded database so its files can be removed. */
  def shutdown(dbPath: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$dbPath;shutdown=true")
    catch { case _: SQLException => () } // 08006 is the normal reply
}

/** Machine context recorded beside the metrics. */
object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (busy, steal, total) jiffies from the aggregate line of /proc/stat. */
  def jiffies(): (Long, Long, Long) =
    try {
      val v = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (v(0) + v(1) + v(2), if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  /** Busy and hypervisor-steal fractions of the machine over a window
    * opened by [[jiffies]]. */
  def fractions(start: (Long, Long, Long)): Map[String, Double] = {
    val end = jiffies()
    val total = math.max(1L, end._3 - start._3).toDouble
    Map("busy" -> (end._1 - start._1) / total,
      "steal" -> (end._2 - start._2) / total)
  }

  /** Driver heap in use after a full collection, in MB: the least of
    * three collections, each followed by a pause in which Spark's
    * context cleaner can release what the previous one freed. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def jvmUptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JSON output, through the Jackson (with its Scala module) that Spark
  * ships: maps, seqs, options and numbers as they are. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: Seq[(String, Any)]): String =
    mapper.writeValueAsString(ListMap(kv: _*))
}
