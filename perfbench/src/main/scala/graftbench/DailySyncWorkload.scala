package graftbench

import java.nio.file.Path

import graft.core.Sessions
import graft.io.{JdbcConfig, JdbcSources, RefreshSink, SqlDialect}
import graft.operators.Upsert
import graft.run.{Config, DailySync, Pipeline}

/** `sync_daily`: the DB-to-DB orders catchup of the `DailySync` CLI
  * against an embedded Derby source, each operation into a fresh Derby
  * target.
  *
  * Untraced, an operation is one in-process call of the CLI's `main`,
  * which starts and stops its own Spark session as every user run
  * does. Traced, an operation drives the same public `Pipeline`/sink
  * functions in the CLI's order with a span around each call (the CLI
  * has no spans inside), and one extra CLI call checks that the
  * replica leaves exactly the CLI's target rows. */
final class DailySyncWorkload(spec: RunSpec) {
  private val d = SqlDialect.Derby
  private val ts = d.quote("order_created_at")
  private val srcPath = spec.derbyDir.resolve("source")
  private val srcUrl = s"jdbc:derby:$srcPath"
  private val orders = d.table("APP", "orders")
  private val incomplete = d.table("APP", "incomplete_orders")
  private val rng = spec.random

  /** Days per catchup operation. */
  val CatchupDays = 2

  /** The sync source: the sf0.1 test data's orders. */
  private val sfDir = Inputs.dir(spec.tables, "sf0_1")
  val SourceRows = 150000L

  /** Untimed warm-up calls of the CLI: the JIT keeps speeding the
    * calls up for about the first six. */
  val WarmUpCalls = 6

  /** Set-up: the Derby source built from the orders parquet and the
    * untimed warm-up calls. Returns the seconds from JVM start to the
    * end of the warm-up, the phase split and the failed warm-up calls. */
  private def setup(warmUp: Path => Op)
      : (Double, Map[String, Double], Seq[Op]) = {
    val (spark, sessionS, _) = Workload.timed(Sessions.local("graftbench-setup"))
    val (_, sourceS, _) = Workload.timed {
      try {
        val n = Inputs.buildDerbySource(spark, sfDir,
          JdbcConfig(srcUrl + ";create=true"))
        require(n == SourceRows, s"source has $n rows, want $SourceRows")
      } finally spark.stop()
    }
    val (warm, warmS, _) = Workload.timed {
      (1 to WarmUpCalls).map(i => warmUp(target(s"warmup$i")))
    }
    (Machine.jvmUptimeS(), Map("session_s" -> sessionS,
      "source_s" -> sourceS, "warmup_s" -> warmS),
      warm.filter(_.failure.nonEmpty).map(o =>
        o.copy(name = s"${o.name} warm-up")))
  }

  private def target(name: String): Path = spec.derbyDir.resolve(name)
  private def targetUrl(p: Path) = s"jdbc:derby:$p;create=true"

  private def config(tgt: Path): Config = Config.fromEnv(sys.env ++ Map(
    "GRAFT_SOURCE_URL" -> srcUrl, "GRAFT_TARGET_URL" -> targetUrl(tgt)))

  private lazy val nullRows: Map[String, Int] =
    Db.rows(srcUrl, s"SELECT * FROM $orders WHERE $ts IS NULL")

  private def windowRows(first: String, last: String): Map[String, Int] = {
    val next = java.time.LocalDate.parse(last).plusDays(1)
    Db.rows(srcUrl, s"SELECT * FROM $orders WHERE $ts >= {ts '$first 00:00:00'}" +
      s" AND $ts < {ts '$next 00:00:00'}")
  }

  /** Row-level check of a target against the source window: EXCEPT ALL
    * in both directions must be empty for `orders` (the window's rows)
    * and `incomplete_orders` (every NULL-timestamp row). */
  private def checkTarget(tgt: Path, first: String, last: String)
      : Option[String] = {
    val url = s"jdbc:derby:$tgt"
    val want = windowRows(first, last)
    val got = Db.rows(url, s"SELECT * FROM $orders")
    val wantNull = nullRows
    val gotNull = Db.rows(url, s"SELECT * FROM $incomplete")
    val diffs = Seq(
      "orders EXCEPT ALL source" -> Db.exceptAll(got, want),
      "source EXCEPT ALL orders" -> Db.exceptAll(want, got),
      "incomplete_orders EXCEPT ALL source" -> Db.exceptAll(gotNull, wantNull),
      "source EXCEPT ALL incomplete_orders" -> Db.exceptAll(wantNull, gotNull))
      .filter(_._2 != 0)
    if (diffs.isEmpty) None
    else Some(diffs.map { case (k, n) => s"$k: $n rows" }.mkString("; "))
  }

  /** (rows in `orders`, rows in `incomplete_orders`) of a target. */
  private def targetRows(tgt: Path): (Long, Long) = {
    val url = s"jdbc:derby:$tgt"
    (Db.count(url, orders, "1=1"), Db.count(url, incomplete, "1=1"))
  }

  private def dropTarget(tgt: Path): Unit = {
    Db.shutdown(tgt.toString)
    Workload.deleteTree(tgt)
  }

  private val Validate = """\[validate\] (.*): extracted=(\d+) loaded=(\d+) (\S+)""".r

  /** The `[validate]` lines of a CLI run: (lines, all OK, rows loaded). */
  private def validated(out: String): (Int, Boolean, Long) = {
    val ls = out.linesIterator.collect { case Validate(_, _, l, mark) =>
      (l.toLong, mark == "OK") }.toSeq
    (ls.size, ls.forall(_._2), ls.map(_._1).sum)
  }

  private def captured(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true))(f)
    buf.toString("UTF-8")
  }

  /** Run one CLI (or replica) catchup over the days `ds` into `tgt`,
    * then check it outside the timed region. */
  private def operation(ds: Seq[String], tgt: Path)(run: => Unit): Op = {
    val name = s"daily ${ds.head}"
    val before = Trace.snapshot()
    val attempt = scala.util.Try(Workload.timed(captured(run)))
    val layers = Trace.delta(Trace.snapshot(), before)
    attempt match {
      case scala.util.Failure(e) =>
        Op(name, 0, 0, 0, Some(s"${e.getClass.getName}: ${e.getMessage}"),
          layers)
      case scala.util.Success((out, wall, cpu)) =>
        val c0 = System.nanoTime()
        val (n, allOk, loaded) = validated(out)
        val failure =
          if (n != 2 * ds.size) Some(s"$n [validate] lines, want ${2 * ds.size}")
          else if (!allOk) Some("[validate] MISMATCH")
          else checkTarget(tgt, ds.head, ds.last)
        val (complete, refreshed) = targetRows(tgt)
        Op(name, wall, cpu, loaded, failure, layers ++ Map(
          "target_rows" -> (complete + refreshed).toDouble,
          "refresh_rows" -> refreshed.toDouble),
          checkS = (System.nanoTime() - c0) / 1e9)
    }
  }

  // ------------------------------------------------------------ daily

  private def days(first: java.time.LocalDate): Seq[String] =
    (0 until CatchupDays).map(first.plusDays(_).toString)

  private def dailyArgs(ds: Seq[String], tgt: Path) = Array(
    "--run-date", ds.last, "--catchup-from", ds.head,
    "--source-url", srcUrl, "--target-url", targetUrl(tgt))

  def dailyCli(ds: Seq[String], tgt: Path): Op =
    operation(ds, tgt)(DailySync.main(dailyArgs(ds, tgt)))

  /** DailySync's orders loop, call for call, with a span per stage. */
  def dailyReplica(ds: Seq[String], tgt: Path): Op =
    operation(ds, tgt) {
      Trace.span("run.sync") {
        val cfg = config(tgt)
        val spark = Trace.span("core.session_start") {
          Sessions.local("graft-daily-sync")
        }
        Trace.span("run.ensure_tables")(Pipeline.ensureTargetTables(cfg))
        for (date <- ds) Trace.span("run.day", "date" -> date) {
          val (complete, inc) = Trace.span("run.extract") {
            Pipeline.extractForDay(spark, cfg, "", date)
          }
          val extracted = Trace.span("run.extract")(complete.count())
          Trace.span("run.upsert") {
            Pipeline.upsertBatch(cfg, complete, Upsert.Unconditional)
          }
          val loaded = Trace.span("run.countback") {
            Pipeline.countLoadedForDay(cfg, date)
          }
          val extractedNull = Trace.span("run.extract")(inc.count())
          val side = cfg.targetDialect.table(cfg.targetSchemaName,
            cfg.targetIncompleteTable)
          Trace.span("run.refresh") {
            RefreshSink.write(inc, cfg.targetJdbc, cfg.targetDialect, side)
          }
          val loadedNull = Trace.span("run.countback") {
            JdbcSources.countWhere(cfg.targetJdbc, side, "1=1")
          }
          Pipeline.reconcile(s"complete $date", extracted, loaded)
          Pipeline.reconcile("incomplete (full refresh)", extractedNull,
            loadedNull)
        }
        Trace.span("core.session_stop")(spark.stop())
      }
    }

  /** First day of the seeded run of consecutive days. The warm-up
    * window, the days just before it, stays within the test data. */
  private def firstDay(): java.time.LocalDate =
    java.time.LocalDate.parse(Inputs.FirstDay)
      .plusDays(CatchupDays + rng.nextInt(Inputs.Days - 400).toLong)

  def run(): Outcome = {
    val start = firstDay()
    val (setupS, phases, warmFailures) = setup { tgt =>
      try dailyCli(days(start.minusDays(CatchupDays.toLong)), tgt)
      finally dropTarget(tgt)
    }
    val ops = Workload.closedLoop(spec.seconds, 1) { i =>
      val ds = days(start.plusDays(i.toLong * CatchupDays))
      val tgt = target(s"op$i")
      try if (spec.trace) dailyReplica(ds, tgt) else dailyCli(ds, tgt)
      finally dropTarget(tgt)
    }
    val extra = if (spec.trace) replicaCheck(days(start))
      else Map.empty[String, Any]
    // a replica that leaves other rows than the CLI fails the run
    val replicaFailure = extra.get("replica_rows_equal_cli").collect {
      case false => Op("replica check", 0, 0, 0,
        Some(s"replica target differs from the CLI's: $extra"), Map.empty)
    }
    Outcome(setupS, warmFailures ++ ops ++ replicaFailure, None, extra + (
      "setup_phases" -> phases,
      "catchup_days" -> CatchupDays,
      "first_day" -> start.toString,
      "source_rows" -> SourceRows,
      "source_null_rows" -> nullRows.values.sum,
      "loop" -> "closed, one client"))
  }

  /** Traced runs only: the replica must leave the CLI's target rows.
    * Both write the same window into their own target; EXCEPT ALL both
    * ways over both tables must be empty. The untraced CLI call also
    * gives the tracing overhead on the same window. */
  private def replicaCheck(ds: Seq[String]): Map[String, Any] = {
    val a = target("check_cli"); val b = target("check_replica")
    val cliOp = Tracing.off(dailyCli(ds, a))
    val repOp = dailyReplica(ds, b)
    val diff = Seq(orders, incomplete).map { t =>
      val x = Db.rows(s"jdbc:derby:$a", s"SELECT * FROM $t")
      val y = Db.rows(s"jdbc:derby:$b", s"SELECT * FROM $t")
      Db.exceptAll(x, y) + Db.exceptAll(y, x)
    }.sum
    Seq(a, b).foreach(dropTarget)
    Map(
      "replica_rows_equal_cli" -> (diff == 0 && cliOp.failure.isEmpty &&
        repOp.failure.isEmpty),
      "replica_row_diff" -> diff,
      "cli_failure" -> cliOp.failure,
      "replica_failure" -> repOp.failure,
      "cli_untraced_wall_s" -> cliOp.wallS,
      "replica_traced_wall_s" -> repOp.wallS,
      "trace_overhead" -> (repOp.wallS / cliOp.wallS - 1))
  }

}
