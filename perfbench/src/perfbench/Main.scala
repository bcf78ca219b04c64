package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --out <dir>
  *
  * Prints a report (every metric by name, unit and sample count) and, as
  * the last stdout line, the JSON result. Exit 0: all checks passed; 1: an
  * output check failed; 2: the run could not complete. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: Path)

  val SetupReps = 3
  val MaxCores = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("out", ".bench_build/perfbench")))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        val host0 = (Jvm.cpuProbeSeconds(), Jvm.gcSeconds(),
          Jvm.stealSeconds())
        val spark = session(a.out)
        try run(spark, a, host0) finally spark.stop()
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def session(out: Path): SparkSession = {
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the engine's own bench session: shuffled-hash joins preferred
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "feature_pipeline" => new FeaturePipeline(ctx)
    case "online_scoring" => new OnlineScoring(ctx)
    case "iterative_graph" => new IterativeGraph(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(spark: SparkSession, a: Args,
      host0: (Double, Double, Option[Double])): Int = {
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis}"
    val ctx = new Ctx(spark, a.trace, runId, a.out.resolve("work").resolve(runId))
    val w = workload(a.workload, ctx)
    val heap = new HeapProbe
    val setups = (1 to SetupReps).map(_ => Workload.time(w.setup(a.seed))._2)
    heap.sample()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val firstOpS = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val outcome = w.measure(a.seconds)
    heap.sample()
    w.release()
    ctx.listener.foreach(_ =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    ctx.close()
    val host1 = (Jvm.cpuProbeSeconds(), Jvm.gcSeconds(), Jvm.stealSeconds())
    val steal = for (a <- host0._3; b <- host1._3) yield b - a
    Workload.deleteTree(ctx.workDir)

    val setupSorted = Stats.sorted(setups)
    val endToEnd = Seq(
      Metric("setup_s", setupSorted.quantile(0.5), "s", setups.size),
      outcome.workUnit,
      Metric("heap_after_gc_mb", heap.peakMb, "MB", heap.samples))
    val failureRatio = ctx.failed.toDouble / math.max(ctx.attempted, 1L)
    val report = endToEnd ++ outcome.named :+
      Metric("op_failure_ratio", failureRatio, "ratio", ctx.attempted.toInt)
    val perLayer =
      if (a.trace) Layers.values(ctx, outcome) else Seq.empty

    val header = s"perfbench ${a.workload} seed=${a.seed} " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"cores=${ctx.cores} run=$runId"
    println(header)
    println(f"host cpu_probe_s start=${host0._1}%.3f end=${host1._1}%.3f " +
      f"gc_s start=${host0._2}%.3f end=${host1._2}%.3f " +
      steal.fold("")(s => f"steal_s=$s%.2f ") +
      f"process_to_first_timed_op_s=$firstOpS%.3f")
    (report ++ perLayer).foreach(m => println(line(m)))
    println(s"attempted ${ctx.attempted} failed ${ctx.failed} " +
      s"(checks failed ${ctx.checksFailed})")
    ctx.errors.take(20).foreach(e => println(s"error $e"))

    val resultMetrics = if (a.trace) perLayer else endToEnd
    val result = Json.obj(Seq(
      "correct" -> (ctx.checksFailed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(resultMetrics.map(m => m.name ->
        Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    val runs = a.out.resolve("runs")
    val stem = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Json.write(runs.resolve(s"$stem.json"), Json.obj(Seq(
      "run" -> Json.str(runId),
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds),
      "trace" -> a.trace.toString,
      "cores" -> ctx.cores.toString,
      "host" -> Json.obj(Seq(
        "cpu_probe_s_start" -> Json.num(host0._1),
        "cpu_probe_s_end" -> Json.num(host1._1),
        "gc_s_start" -> Json.num(host0._2),
        "gc_s_end" -> Json.num(host1._2),
        "process_to_first_timed_op_s" -> Json.num(firstOpS)) ++
        steal.map(s => "steal_s" -> Json.num(s))),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "rounds" -> Json.arr(outcome.rounds.map(r => Json.obj(Seq(
        "index" -> r.index.toString, "wall_s" -> Json.num(r.wallS),
        "traced" -> r.traced.toString,
        "values" -> Json.obj(r.values.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) })))).toSeq),
      "metrics" -> Json.arr((report ++ perLayer).map(metricJson)),
      "errors" -> Json.arr(ctx.errors.map(Json.str).toSeq),
      "result" -> result)) + "\n")
    if (a.trace) {
      val self = SelfTime.of(ctx.spans.toSeq)
      Json.write(runs.resolve(s"$stem-spans.jsonl"), ctx.spans.map(s =>
        Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "round" -> s.round.toString, "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString, "self_s" -> Json.num(self(s.id))))
      ).mkString("", "\n", "\n"))
    }
    println(result)
    if (ctx.checksFailed == 0) 0 else 1
  }

  private def line(m: Metric): String =
    f"metric ${m.name} = ${m.value}%.6g ${m.unit} (n=${m.n}" +
      m.tail.fold("")(t => f", ${t._1}=${t._2}%.6g") + ")"

  private def metricJson(m: Metric): String = Json.obj(Seq(
    "name" -> Json.str(m.name), "value" -> Json.num(m.value),
    "unit" -> Json.str(m.unit), "n" -> m.n.toString) ++
    m.tail.toSeq.flatMap(t => Seq("tail" -> Json.str(t._1),
      "tail_value" -> Json.num(t._2))))
}
