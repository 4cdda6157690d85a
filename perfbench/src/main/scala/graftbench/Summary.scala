package graftbench

/** The figures a run reports, derived from its operations.
  *
  * Sync workloads: an operation is a pass (one CLI call), so each
  * figure is the median over operations. Query workloads: a pass is a
  * sweep of the query list, so each figure is the sum over queries of
  * that query's median, and `op_p50_s` is the median of the per-query
  * medians (every query weighs the same however often the loop reached
  * it). */
final case class Summary(
    attempted: Int,
    failed: Int,
    stealExcluded: Int,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    pins: Map[String, Any])

object Summary {
  import Stats.median

  /** Steal-clean filter: an operation during which the hypervisor stole
    * more than this share of the machine's CPU time is left out of the
    * figures, unless every operation of its group (its query, or the
    * whole sync run) was. The record counts what was left out. */
  val StealLimit = 0.05

  def apply(spec: RunSpec, o: Outcome, heapMb: Double): Summary = {
    val perQuery = spec.workload == "catalog"
    val passed = o.ops.filter(_.failure.isEmpty)
    def clean(g: Seq[Op]) = {
      val c = g.filter(_.steal <= StealLimit)
      if (c.nonEmpty) c else g
    }
    val ok =
      if (perQuery) passed.groupBy(_.name).values.flatMap(clean).toSeq
      else clean(passed)
    def agg(f: Op => Double): Double =
      if (ok.isEmpty) 0.0
      else if (perQuery) ok.groupBy(_.name).values.map(g => median(g.map(f))).sum
      else median(ok.map(f))

    val wall = agg(_.wallS)
    val p50 =
      if (ok.isEmpty) 0.0
      else if (perQuery) median(ok.groupBy(_.name).values.map(g =>
        median(g.map(_.wallS))).toSeq)
      else median(ok.map(_.wallS))
    val rowsPerS =
      if (ok.isEmpty) 0.0
      else if (perQuery) agg(_.sinkRows.toDouble) / wall
      else median(ok.map(op => op.sinkRows / op.wallS))
    val e2e = Map(
      "wall_s" -> wall, "op_p50_s" -> p50, "rows_per_s" -> rowsPerS,
      "cpu_s" -> agg(_.cpuS), "setup_s" -> o.setupS,
      "heap_retained_mb" -> heapMb)

    def ratio(op: Op, a: String, b: String): Double = {
      val den = op.layers.getOrElse(b, 0.0)
      if (den == 0) 0.0 else op.layers.getOrElse(a, 0.0) / den
    }
    val derived = ok.map(op => op.copy(layers = op.layers ++ Map(
      "io.rows_written_per_target_row" ->
        ratio(op, "io.rows_written", "target_rows"),
      "io.rows_read_per_row_written" ->
        ratio(op, "io.rows_read", "io.rows_written"))))
    val keys = derived.flatMap(_.layers.keys).distinct
    val layers = keys.map { k =>
      k -> (if (derived.isEmpty) 0.0
        else if (perQuery) derived.groupBy(_.name).values
          .map(g => median(g.map(_.layers.getOrElse(k, 0.0)))).sum
        else median(derived.map(_.layers.getOrElse(k, 0.0))))
    }.toMap
    val util = Map("spark.cpu_util" ->
      (if (wall == 0) 0.0
       else layers.getOrElse("spark.task_cpu_s", 0.0) / (wall * spec.cores)))

    Summary(o.ops.size, o.ops.size - passed.size, passed.size - ok.size,
      e2e, layers ++ util,
      if (spec.trace) pins(spec, ok, o) else Map.empty)
  }

  /** Known counts the traced instrument should reproduce. */
  private def pins(spec: RunSpec, ok: Seq[Op], o: Outcome): Map[String, Any] = {
    def perOp(k: String): Option[Double] =
      if (ok.isEmpty) None else Some(median(ok.map(_.layers.getOrElse(k, 0.0))))
    def perQuery(q: String, k: String): Option[Double] = {
      val g = ok.filter(_.name == q)
      if (g.isEmpty) None else Some(median(g.map(_.layers.getOrElse(k, 0.0))))
    }
    def pin(expected: Double, observed: Option[Double], why: String) =
      Map("expected" -> expected, "observed" -> observed,
        "equal" -> observed.contains(expected),
        "note" -> (if (observed.contains(expected)) "" else why))
    spec.workload match {
      case "catalog" =>
        val cold = o.context.get("cold_layers").collect {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Map[String, Double]]]
        }.getOrElse(Map.empty)
        val trio = Seq("q_chi_square", "q_cvm_test", "q_graph_hits")
        def coldSum(ks: String*): Option[Double] =
          if (!trio.forall(cold.contains)) None
          else Some(trio.flatMap(q => ks.map(cold(q).getOrElse(_, 0.0))).sum)
        Map(
          "q_chi_square.build_jobs" -> pin(24,
            perQuery("q_chi_square", "operators.build_jobs"),
            "the median of the timed (warm) reps on the sf0.01 test data; " +
              "ROADMAP counted steady reps on sf0.1"),
          "chi_cvm_hits.jobs" -> pin(118, coldSum("spark.jobs"),
            "the first, cold run of each query in this session on the " +
              "sf0.01 test data; ROADMAP counted one cold run per query " +
              "on sf0.1"),
          "chi_cvm_hits.aqe_stage_jobs" -> (pin(97,
            coldSum("spark.map_stage_jobs", "spark.broadcast_stage_jobs"),
            "this instrument counts as adaptive query-stage jobs those " +
              "that materialize a shuffle map stage (submitMapStage) and " +
              "the broadcast-exchange jobs; the rest are result-stage " +
              "jobs (the build's eager actions and the force) and jobs " +
              "outside any SQL execution (the first read of a table). " +
              "ROADMAP does " +
              "not say how it classed its 97. The counts do not depend " +
              "on the scale: a cold run gave the same 118 jobs, 53 " +
              "map-stage and 23 broadcast jobs on sf0.1 as on sf0.01") ++
            Map("map_stage_jobs" -> coldSum("spark.map_stage_jobs"),
              "broadcast_stage_jobs" -> coldSum("spark.broadcast_stage_jobs"))))
      case "sync_daily" =>
        Map("refresh_rows_per_day" -> pin(50189,
          perOp("refresh_rows"),
          "rows in incomplete_orders after each catchup, which refreshes " +
            "it in full every day"))
      case _ => Map.empty
    }
  }
}
