package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Sessions

/** `catalog`: named catalog queries from `SparkEntry.queries` over the
  * sf0.01 test data, in a seeded order. An operation is one query built
  * and then forced with the `noop` write that `graft.Bench` uses; build
  * and force are timed apart. Four untimed warm-up passes build the
  * session memos and record each query's row count and
  * order-independent checksum, which every later operation must
  * reproduce. */
final class CatalogWorkload(spec: RunSpec) {
  /** sf0.01. These queries are bound by job dispatch, not data: a cold
    * traced run of `q_chi_square`, `q_cvm_test` and `q_graph_hits`
    * fired the same jobs (118), map-stage jobs (53) and broadcast jobs
    * (23) on the sf0.01 test data as on sf0.1. The smaller scale keeps
    * those counts and fits more sweeps into a run. */
  val Scale = "sf0_01"

  /** Untimed passes over the query list before the timed loop: the JIT
    * keeps speeding the queries up for about the first four. */
  val WarmUpPasses = 4

  /** The timed loop runs whole sweeps of the query list, so every query
    * is timed equally often, and as many of them as `--seconds` holds
    * at this nominal length of a sweep (about 3.5-4.7 s measured, plus
    * the output checks), three at least. The count does not depend on
    * the speed of a run: the heap retained after the loop grows with
    * the number of queries run (about 133 MB after three sweeps, 141 MB
    * after four), and the median of a query is taken over as many
    * reps in every run. */
  val NominalSweepS = 5.0

  /** Dispatch-bound statistics tests that fire eager build jobs (the
    * persist / one-row result / checkpoint / unpersist pattern of
    * ROADMAP item 3); two of the three queries behind the ROADMAP
    * baseline's job-count pins. */
  val Eager = Seq("q_chi_square", "q_cvm_test")

  /** Streaming twins, whose cost is a drain's planning, start and stop:
    * a windowed aggregate and keyed latest state (CDC). */
  val Streams = Seq("q_stream_windows", "q_stream_cdc")

  private def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** (rows, checksum): a sum of per-row hashes, independent of order. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*),
        lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def storage(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def run(): Outcome = {
    val queries = Eager ++ Streams
    val catalog = SparkEntry.queries
    val missing = queries.filterNot(catalog.contains)
    require(missing.isEmpty, s"not in the catalog: ${missing.mkString(", ")}")
    val order = spec.random.shuffle(queries)
    val dir = Inputs.dir(spec.tables, Scale)

    val (spark, sessionS, _) = Workload.timed {
      Trace.span("core.session_start")(Sessions.local("graftbench"))
    }
    val sc = spark.sparkContext

    /** Build and force `q`, then, outside the timed region, take its
      * (rows, checksum) and check it against `want`. */
    def operation(q: String, want: Option[(Long, Long)])
        : (Op, Option[(Long, Long)]) = {
      val (cached0, mb0) = storage(spark)
      Trace.flush(sc)
      val before = Trace.snapshot()
      val attempt = scala.util.Try {
        Workload.timed {
          sc.setLocalProperty(Trace.PhaseKey, "build")
          val df = Trace.span("operators.build", "query" -> q) {
            catalog(q)(spark, dir)
          }
          sc.setLocalProperty(Trace.PhaseKey, "force")
          Trace.span("operators.force", "query" -> q)(force(df))
          df
        }
      }
      sc.setLocalProperty(Trace.PhaseKey, null)
      Trace.flush(sc)
      val layers = Trace.delta(Trace.snapshot(), before)
      attempt match {
        case scala.util.Failure(e) =>
          (Op(q, 0, 0, 0, Some(s"${e.getClass.getName}: ${e.getMessage}"),
            layers), None)
        case scala.util.Success((df, wall, cpu)) =>
          val c0 = System.nanoTime()
          val (cached1, mb1) = storage(spark)
          val got = digest(df)
          val failure = want.filter(_ != got)
            .map(w => s"rows/checksum $got, want $w")
          (Op(q, wall, cpu, got._1, failure, layers ++ Map(
            "core.cached_rdds_left" -> (cached1 - cached0).toDouble,
            "core.storage_mb_left" -> (mb1 - mb0)),
            checkS = (System.nanoTime() - c0) / 1e9), Some(got))
      }
    }

    // Four warm-up passes. The first runs each query cold and gives
    // its reference output (and, traced, its cold counts for the
    // pins); the JIT keeps speeding the queries up for a few passes,
    // and the later ones must reproduce the first's outputs.
    val ((cold, reference, warmFailures), warmS, _) = Workload.timed {
      val first = order.map(q => operation(q, None))
      val ref = first.collect { case (o, Some(d)) => o.name -> d }.toMap
      val later = Seq.fill(WarmUpPasses - 1)(order).flatten.map(q =>
        operation(q, Some(ref.getOrElse(q, (-1L, -1L))))._1)
      val coldOps = first.map(_._1)
      (coldOps, ref, (coldOps ++ later).filter(_.failure.nonEmpty)
        .map(o => o.copy(name = s"${o.name} warm-up")))
    }
    // set-up runs from JVM start to the end of the warm-up passes
    val setupS = Machine.jvmUptimeS()

    val sweeps = math.max(3, math.round(spec.seconds / NominalSweepS).toInt)
    val ops = Workload.closedLoop(0, sweeps * order.size) { i =>
      val q = order(i % order.size)
      operation(q, reference.get(q))._1
    }
    // Traced runs only, after the timed loop: one cold run of
    // q_graph_hits, the third query of the ROADMAP job-count pin.
    val coldHits =
      if (!spec.trace) Nil
      else Seq(operation("q_graph_hits", None)._1)
    val heapMb = Machine.retainedHeapMb()
    spark.stop()
    Outcome(setupS, warmFailures ++ ops, Some(heapMb),
      Map("setup_phases" -> Map("session_s" -> sessionS,
        "warmup_s" -> warmS),
        "cold_layers" ->
          (if (spec.trace) (cold ++ coldHits).map(o => o.name -> o.layers).toMap
           else Map.empty),
        "scale" -> Scale, "sweeps" -> sweeps, "queries" -> order,
        "reference" -> reference.map {
          case (q, (n, h)) => q -> Map("rows" -> n, "checksum" -> h) },
        "loop" -> "closed, one client"))
  }
}
