package perfbench

/** Per-layer metrics of a traced run. Each is the median over the traced
  * rounds of a per-round value: the summed self time of the spans of that
  * name, a count the round returned, or the Spark listener's totals over
  * the round's spans. A layer the workload does not reach reads 0. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val All: Seq[(String, String)] = Seq(
    "operators.fit_s.fraud" -> "s", "operators.fit_s.insurance" -> "s",
    "operators.fit_s.mental" -> "s", "operators.fit_s.catenc" -> "s",
    "operators.save_s" -> "s", "operators.load_s" -> "s",
    "operators.transform_s.fraud" -> "s",
    "operators.transform_s.insurance" -> "s",
    "operators.transform_s.mental" -> "s",
    "operators.transform_s.catenc" -> "s",
    "operators.online_compile_s" -> "s",
    "catalyst.plan_s" -> "s", "catalyst.non_codegen_ops" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_share" -> "ratio",
    "spark.executor_run_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "graph.lpa_s" -> "s", "graph.kcore_s" -> "s", "graph.bfs_s" -> "s",
    "graph.pagerank_s" -> "s", "graph.jobs_per_round" -> "count",
    "dedup.components_s" -> "s", "dedup.lsh_s" -> "s",
    "dedup.candidates" -> "count", "dedup.verify_s" -> "s",
    "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "ratio",
    "dedup.keep_best_s" -> "s", "functions.minhash_sig_s" -> "s",
    "sim.near_dup_s" -> "s", "sim.pairs" -> "count",
    "eval.auc_s" -> "s", "eval.spearman_s" -> "s",
    "jvm.gc_s" -> "s", "trace.overhead_ms" -> "ms")

  /** Spans of the five fixpoint operators, whose jobs `graph.jobs_per_round`
    * divides by the rounds their references ran. */
  private val Fixpoint = Set("graph.lpa_s", "graph.kcore_s", "graph.bfs_s",
    "graph.pagerank_s", "dedup.components_s")

  def values(ctx: Ctx, outcome: Outcome): Seq[Metric] = {
    val rounds = outcome.rounds
    val traced = rounds.filter(_.traced)
    val untraced = rounds.filterNot(_.traced)
    val spansByRound = ctx.spans.groupBy(_.round)
    val listener = ctx.listener.getOrElse(new SparkTrace)
    val perRound: Seq[Map[String, Double]] = traced.map { r =>
      val spans = spansByRound.getOrElse(r.index, Nil).toSeq
      val self = SelfTime.of(spans)
      val timed = spans.groupMapReduce(_.name)(s => self(s.id))(_ + _)
      val stats = spans.map(s => s.name -> listener.of(s.id))
      def total(f: SpanStats => Long): Double = stats.map(x => f(x._2)).sum.toDouble
      val execS = total(_.executorRunMs) / 1000
      val fixJobs = stats.collect { case (n, st) if Fixpoint(n) => st.jobs }.sum
      timed ++ r.values ++ Map(
        "catalyst.plan_s" -> total(_.planMs) / 1000,
        "catalyst.non_codegen_ops" -> total(_.nonCodegenOps),
        "spark.jobs" -> total(_.jobs),
        "spark.stages" -> total(_.stages),
        "spark.tasks" -> total(_.tasks),
        "spark.driver_share" -> (1 - execS / (r.wallS * ctx.cores)),
        "spark.executor_run_s" -> execS,
        "spark.shuffle_read_bytes" -> total(_.shuffleReadBytes),
        "spark.shuffle_write_bytes" -> total(_.shuffleWriteBytes),
        "spark.spill_bytes" -> total(_.spillBytes)) ++
        r.values.get("graph.rounds").map(n =>
          "graph.jobs_per_round" -> fixJobs / n)
    }
    val overheadMs =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (Stats.median(traced.map(_.wallS)) -
        Stats.median(untraced.map(_.wallS))) * 1000
    val fromSetup = outcome.setupLayers
    All.map { case (name, unit) =>
      val xs = perRound.flatMap(_.get(name))
      val v = fromSetup.getOrElse(name,
        if (name == "trace.overhead_ms") overheadMs
        else if (xs.isEmpty) 0.0 else Stats.median(xs))
      val n =
        if (fromSetup.contains(name)) 1
        else if (name == "trace.overhead_ms") traced.size + untraced.size
        else xs.size
      Metric(name, v, unit, n)
    }
  }
}
