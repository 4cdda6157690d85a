package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.io.{JdbcConfig, JdbcWrite, SqlDialect, SqlGen}
import graft.run.Pipeline

/** The inputs: byte copies of the repo's test data (TESTDATA.md), kept
  * under `perfbench/tables/<scale>/<table>.parquet`, the one-file-per-
  * table layout `graft.core.Tables` and the stream sources of
  * `graft.streaming.Streams` read. The copies are
  * `sf0_1/orders.parquet` (150,000 orders, 50,189 with status `P`,
  * which `Pipeline.ordersSource` maps to a NULL `order_created_at`)
  * and `sf0_01/{documents,events,lineitem,orders}.parquet`. They are
  * read only; the seed picks the sync windows and the query order. */
object Inputs {
  def dir(tables: Path, scale: String): String = {
    val d = tables.resolve(scale)
    require(java.nio.file.Files.isDirectory(d), s"no input tables at $d")
    d.toString
  }

  /** The order dates of the test data: 1995-01-01 .. 2001-08-01. */
  val FirstDay = "1995-01-01"
  val Days = 2404

  /** The DB-to-DB sync source: `Pipeline.ordersSource` over the orders
    * parquet, loaded into a Derby table `APP."orders"` with the
    * program's own DDL and batched insert. */
  def buildDerbySource(spark: SparkSession, sfDir: String,
      src: JdbcConfig): Long = {
    val d = SqlDialect.Derby
    val rows = Pipeline.ordersSource(spark, sfDir)
    JdbcWrite.ensureTable(src, d, "APP", "orders", Pipeline.targetSchema)
    JdbcWrite.run(rows, src,
      SqlGen.insert(d, d.table("APP", "orders"), rows.columns.toSeq))
    Db.count(src.url, d.table("APP", "orders"), "1=1")
  }
}
