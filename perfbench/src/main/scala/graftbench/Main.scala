package graftbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM side. `perfbench/run.py` builds it and starts it:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --tables DIR
  *
  * It runs one workload in a closed loop for S seconds, checks every
  * operation's output, writes the full record to DIR/results and
  * prints one `GRAFTBENCH_RESULT {json}` line with every figure; run.py
  * picks the metrics BENCHMARK.json names. */
object Main {
  val Workloads = Seq("sync_daily", "catalog")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload " +
      s"(${Workloads.mkString(" | ")})")
    val spec = RunSpec(workload, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt,
      Paths.get(arg("work")).toAbsolutePath,
      Paths.get(arg("tables")).toAbsolutePath)
    Workload.deleteTree(spec.scratch)
    Files.createDirectories(spec.derbyDir)
    System.setProperty("derby.system.home", spec.derbyDir.toString)
    if (spec.trace) Tracing.enable()

    val load0 = Machine.loadAvg()
    val outcome = workload match {
      case "sync_daily" => new DailySyncWorkload(spec).run()
      case "catalog"    => new CatalogWorkload(spec).run()
    }
    val heapMb = outcome.heapMb.getOrElse(Machine.retainedHeapMb())
    val summary = Summary(spec, outcome, heapMb)
    val context = Map(
      "seed" -> spec.seed, "trace" -> spec.trace,
      "cores_used" -> spec.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_start" -> load0, "loadavg_end" -> Machine.loadAvg(),
      "run_id" -> Trace.runId,
      "jvm_uptime_s" -> Machine.jvmUptimeS()) ++ outcome.context

    val results = spec.work.resolve("results")
    Files.createDirectories(results)
    val stem = s"$workload-seed${spec.seed}-trace${if (spec.trace) 1 else 0}"
    if (spec.trace) Trace.writeSpans(results.resolve(s"$stem.spans.jsonl"))
    val record = Json.obj(Seq(
      "workload" -> workload, "context" -> context,
      "attempted" -> summary.attempted, "failed" -> summary.failed,
      "failures" -> outcome.ops.flatMap(o =>
        o.failure.map(f => Map("op" -> o.name, "failure" -> f))),
      "op_count" -> outcome.ops.size,
      "steal_limit" -> Summary.StealLimit,
      "steal_excluded_ops" -> summary.stealExcluded,
      "end_to_end" -> summary.e2e,
      "per_layer" -> summary.layers,
      "pins" -> summary.pins,
      "ops" -> outcome.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS,
        "cpu_s" -> o.cpuS, "sink_rows" -> o.sinkRows, "busy" -> o.busy,
        "steal" -> o.steal, "check_s" -> o.checkS, "failure" -> o.failure,
        "layers" -> (if (spec.trace) o.layers else Map.empty)))))
    Files.writeString(results.resolve(s"$stem.json"), record)

    println("GRAFTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (summary.failed == 0),
      "attempted" -> summary.attempted,
      "failed" -> summary.failed,
      "end_to_end" -> summary.e2e,
      "per_layer" -> summary.layers,
      "record" -> results.resolve(s"$stem.json").toString)))
    System.out.flush()
    sys.exit(0)
  }
}

/** Switches the traced instrument on for every session created later. */
object Tracing {
  def enable(): Unit = {
    Trace.listenerConf.foreach { case (k, v) => System.setProperty(k, v) }
    CountingDriver.install()
    Trace.enabled = true
  }

  /** Run `f` with tracing off: listeners detached from new sessions and
    * the plain Derby driver back in `DriverManager`. */
  def off[T](f: => T): T = {
    Trace.listenerConf.keys.foreach(System.clearProperty)
    CountingDriver.uninstall()
    Trace.enabled = false
    try f finally enable()
  }
}
