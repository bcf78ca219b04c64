package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.operators._
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The reference's online deploy shape: one client scores a seeded request
  * stream one row at a time through `OnlineScorer.compile`, each request
  * sent when the previous one returned (closed loop). The 9-stage pipeline
  * is fit during set-up; no Spark job runs on the timed path.
  *
  * `work_unit_ms` is the mean request latency over the whole window, not
  * the median: on a shared host this memory-bound loop runs in stretches
  * of about a second up to 2x slower, and the mean moves in proportion to
  * the share of the window spent slow while the median jumps between the
  * two speeds once that share nears one half. The median and p99 are
  * reported beside it. */
final class OnlineScoring(ctx: Ctx) extends Workload {
  import OnlineScoring._

  private var model: PipelineModel = _
  private var score: OnlineScorer.OnlineRow => OnlineScorer.OnlineRow = _
  private var requests: Array[Map[String, Any]] = Array.empty
  private val compileSeconds = ArrayBuffer.empty[Double]

  def setup(seed: Long): Unit = {
    val customers = Gen.customers(ctx.spark, seed, Customers, ctx.cores)
      .persist()
    try {
      model = ctx.op("operators.online_fit")(pipeline.fit(customers))
      val (fn, s) = Workload.time(
        ctx.op("operators.online_compile_s")(OnlineScorer.compile(model)))
      score = fn
      compileSeconds += s
    } finally customers.unpersist()
    requests = Gen.requests(seed, Requests, Customers)
  }

  def measure(seconds: Double): Outcome = {
    // a serving process is long-lived: score until the JIT has settled
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmupNs) requests.foreach(score)
    val plain = new LongBuffer
    val traced = new LongBuffer
    var next = 0
    val rounds = ctx.rounds(seconds, MinChunks) {
      () =>
        val lat = if (ctx.tracing) traced else plain
        ctx.span("operators.online_score") {
          var i = 0
          while (i < Chunk) {
            val req = requests(next)
            next = (next + 1) % requests.length
            ctx.attempted += 1
            val t0 = System.nanoTime()
            try {
              score(req)
              lat += System.nanoTime() - t0
            } catch {
              case NonFatal(e) =>
                ctx.failed += 1
                if (ctx.errors.size < 20) ctx.errors += s"online score: $e"
            }
            i += 1
          }
        }
        (Map("requests" -> Chunk.toDouble), () => Map.empty[String, Double])
    }
    parityCheck()
    val ns = plain.toArray
    val us = Stats.sorted(ns.map(_ / 1000.0))
    val untraced = rounds.filterNot(_.traced)
    val rps = untraced.size * Chunk / untraced.map(_.wallS).sum
    val p50 = us.quantile(0.5)
    val meanMs = ns.map(_.toDouble).sum / ns.length / 1e6
    Outcome(
      Metric(Workload.WorkUnit, meanMs, "ms", us.n,
        us.tail.map { case (l, v) => l -> v / 1000 }),
      Seq(Metric("online_p50_us", p50, "us", us.n, us.tail),
        Metric("online_p99_us", us.quantile(0.99), "us", us.n),
        Metric("online_rows_per_s", rps, "1/s", untraced.size)),
      rounds,
      Map("operators.online_compile_s" -> Stats.median(compileSeconds)))
  }

  def release(): Unit = ()

  /** A seeded sample of requests, scored online and by batch `transform`
    * on the same rows, must agree value for value. */
  private def parityCheck(): Unit = {
    val r = new java.util.SplittableRandom(requests.length)
    val sample = Array.fill(ParitySample)(requests(r.nextInt(requests.length)))
      .distinctBy(_("c_custkey"))
    val rows = sample.map(m => Row.fromSeq(Schema.fieldNames.toSeq.map(m)))
    val df = ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), Schema)
    val out = model.transform(df)
    val cols = out.columns
    val batch = ctx.op("operators.online_parity_transform")(out.collect())
    val byKey = batch.map(b => b.getAs[Any]("c_custkey") -> b).toMap
    var mismatches = 0
    var first = ""
    for (req <- sample) {
      val online = score(req)
      val b = byKey(req("c_custkey"))
      for (c <- cols) {
        val (o, e) = (online.getOrElse(c, MissingColumn), b.getAs[Any](c))
        if (o != e) {
          if (mismatches == 0) first = s"column $c: online=$o batch=$e for $req"
          mismatches += 1
        }
      }
    }
    ctx.check("online == batch transform", mismatches == 0,
      s"$mismatches mismatching values over ${sample.length} rows; first: $first")
  }
}

object OnlineScoring {
  val Customers = 10000L
  val Requests = 50000
  val Chunk = 5000
  val MinChunks = 10
  val ParitySample = 500
  val WarmupNs = 2000000000L
  private val MissingColumn = "<missing>"

  val Schema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_mktsegment", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType)))

  /** The 9-stage online pipeline of the engine's bench: concat, map, label,
    * frequency, target, hash, aggregate, scaler and one-hot stages. */
  def pipeline = DFPipeline(
    new StringConcatenator(Seq(Seq("c_mktsegment", "c_nationkey")),
      Seq("ckey"), "_"),
    new MapTransformer(Seq("c_mktsegment"), Seq("seg_short"),
      Seq(("BUILDING", "B"), ("AUTOMOBILE", "A")),
      defaultValue = Some("other")),
    new ComplementLabelEncoder(Seq("ckey"), Seq("ckey_code")),
    new FrequencyEncoder(Seq("c_mktsegment"), Seq("seg_freq"),
      normalize = true),
    new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
      targetCol = "c_acctbal", idCol = "c_custkey",
      nFolds = 4, smoothing = 10.0),
    new HashingEncoder(Seq("c_name"), Seq("name_bucket"), 64),
    new Aggregator(Seq("c_acctbal"), Seq("bal_mean"), Nil, "mean"),
    new Scaler(Seq("c_acctbal"), Seq("bal_std"), "standard"),
    new OneHotEncoder(Seq("seg_short")))

  /** Growable primitive buffer for per-request latencies. */
  final class LongBuffer {
    private var a = new Array[Long](1 << 16)
    private var n = 0
    def +=(x: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x
      n += 1
    }
    def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
  }
}
