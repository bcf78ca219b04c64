package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.operators._
import graft.relational.Eval
import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The reference's batch train/serve loop: the four reference-shaped stage
  * lists are fit on a training table and saved, then loaded again to
  * transform a held-out table into the noop sink, and the round ends with
  * AUC and Spearman read back from the fraud pipeline's output. */
final class FeaturePipeline(ctx: Ctx) extends Workload {
  import FeaturePipeline._

  private val spark = ctx.spark
  private var train: DataFrame = _
  private var serve: DataFrame = _
  private var expectedRows = Map.empty[String, Long]
  private var reference: Option[Reference] = None

  def setup(seed: Long): Unit = {
    release()
    train = Gen.orders(spark, seed, 0, TrainRows, Nations, Priorities,
      ctx.cores).persist()
    serve = Gen.orders(spark, seed, TrainRows, TrainRows + ServeRows, Nations,
      ServePriorities, ctx.cores).persist()
    train.count()
    val n = serve.count()
    // the mental pipeline serves the rows the RowTransformer keeps; count
    // them with a plain filter, not with the engine's operator
    val mental = serve.filter(col("l_linestatus").isNull ||
      col("l_linestatus") =!= "O").count()
    expectedRows = Names.map(p => p -> (if (p == "mental") mental else n)).toMap
    reference = None
  }

  def measure(seconds: Double): Outcome = {
    val rounds =
      ctx.rounds(seconds, MinRounds, maxRounds = MaxRounds)(() => round())
    val n = rounds.count(!_.traced)
    Outcome(Workload.roundUnit(rounds), Seq(
      Metric("train_s", Workload.medianOf(rounds, "train_s"), "s", n),
      Metric("serve_rows_per_s",
        Workload.rate(rounds, "served_rows", "serve_s"), "1/s", n),
      Metric("eval_s", Workload.medianOf(rounds, "eval_s"), "s", n)), rounds)
  }

  def release(): Unit = {
    Option(train).foreach(_.unpersist())
    Option(serve).foreach(_.unpersist())
  }

  private def input(name: String, df: DataFrame): DataFrame = name match {
    case "fraud" => df.select("o_orderkey", "o_totalprice", "c_mktsegment",
      "c_nationkey", "label")
    case "insurance" => df.select("o_orderkey", "o_custkey", "o_orderdate",
      "o_totalprice", "o_orderpriority", "o_orderstatus")
    case "mental" =>
      new RowTransformer(Seq("l_linestatus"), Seq("O")).transform(
        df.select(col("o_orderkey"), col("l_linestatus"),
          col("l_returnflag"), col("l_extendedprice"),
          when(col("l_discount") === 0.0, lit(null))
            .otherwise(col("l_discount")).as("disc_n")))
    case "catenc" => df.select("o_orderkey", "p_brand", "p_type",
      "p_retailprice")
  }

  /** One train -> save -> load -> serve -> eval round. */
  private def round(): (Map[String, Double], () => Map[String, Double]) = {
    val dir = ctx.workDir.resolve(s"models-${ctx.round}")
    val (_, trainS) = Workload.time(ctx.span("train") {
      Names.foreach { n =>
        val model = ctx.op(s"operators.fit_s.$n")(
          pipeline(n).fit(input(n, train)))
        ctx.op("operators.save_s")(
          GraftPersistence.save(model, dir.resolve(n).toString))
      }
    })
    val served = ArrayBuffer.empty[(String, Long)]
    var scored: DataFrame = null
    val (_, serveS) = Workload.time(ctx.span("serve") {
      Names.foreach { n =>
        val model = ctx.op("operators.load_s")(
          GraftPersistence.load(spark, dir.resolve(n).toString))
        served += n -> ctx.op(s"operators.transform_s.$n") {
          val out = model.transform(input(n, serve))
          // the fraud output is kept for the eval readback
          if (n == "fraud") scored = out.persist()
          Workload.sinkRows(out)
        }
      }
    })
    val ((auc, rho), evalS) = Workload.time(ctx.span("eval") {
      (ctx.op("eval.auc_s")(
        Eval.auc(scored, "cust_price_mean", "label").head()),
        ctx.op("eval.spearman_s")(
          Eval.spearman(scored, "o_totalprice", "cust_price_mean").head()))
    })
    val values = Map("train_s" -> trainS, "serve_s" -> serveS,
      "eval_s" -> evalS, "served_rows" -> served.map(_._2).sum.toDouble)
    val check = () => {
      for ((n, rows) <- served)
        ctx.check(s"operators.transform_s.$n rows", rows == expectedRows(n),
          s"transform wrote $rows rows, input has ${expectedRows(n)}")
      val ref = reference.getOrElse {
        val r = Reference.of(scored)
        reference = Some(r)
        r
      }
      ctx.check("eval.auc", math.abs(auc.getDouble(0) - ref.auc) <= 5e-7 &&
          auc.getLong(1) == ref.pos && auc.getLong(2) == ref.neg,
        s"engine $auc, Mann-Whitney (${ref.auc}, ${ref.pos}, ${ref.neg})")
      ctx.check("eval.spearman", math.abs(rho.getDouble(0) - ref.rho) <= 5e-7 &&
          rho.getLong(1) == ref.n,
        s"engine $rho, reference midrank rho ${ref.rho} over ${ref.n}")
      scored.unpersist()
      Workload.deleteTree(dir)
      Map.empty[String, Double]
    }
    (values, check)
  }
}

object FeaturePipeline {
  val TrainRows = 100000L
  val ServeRows = 25000L
  /** (segment, nation) keys: 5 x 150 = 750, under the literal-map limit. */
  val Nations = 150
  /** Order priorities: up to 4000 at fit, well over the limit; serving
    * draws from 4400, so some serve-time keys were never fit. */
  val Priorities = 4000
  val ServePriorities = 4400
  val MinRounds = 1
  /** A batch job runs as its own application, so the unit of work is its
    * first (cold) round; later rounds would be warm and not comparable. */
  val MaxRounds = 1
  val Names = Seq("fraud", "insurance", "mental", "catenc")

  def pipeline(name: String): Pipeline = name match {
    case "fraud" => DFPipeline(
      new StringConcatenator(Seq(Seq("c_mktsegment", "c_nationkey")),
        Seq("ckey"), "_"),
      new ComplementLabelEncoder(Seq("ckey"), Seq("ckey_code")),
      new FrequencyEncoder(Seq("ckey"), Seq("ckey_freq"), normalize = true),
      new Aggregator(Seq("o_totalprice"), Seq("cust_price_mean"),
        Seq("ckey"), "mean"))
    case "insurance" => DFPipeline(
      new DateTransformer("o_orderdate"),
      new ComplementLabelEncoder(Seq("o_orderpriority", "o_orderstatus"),
        Seq("priority_code", "status_code")),
      new ColumnSelector(Seq("o_orderdate", "o_custkey", "o_totalprice",
        "o_orderpriority", "o_orderstatus"), drop = true))
    case "mental" => DFPipeline(
      new Imputer(Seq("disc_n"), Seq("disc_n"), Some("median")),
      new MapTransformer(Seq("l_returnflag"), Seq("flag"),
        Seq(("A", "ACC"), ("N", "NONE"), ("R", "RET"))),
      new ComplementLabelEncoder(Seq("flag"), Seq("flag_code")),
      new Scaler(Seq("l_extendedprice"), Seq("price_mm"), "minmax"))
    case "catenc" => DFPipeline(
      new StringSplitter(Seq("p_brand"), Seq("brand_num"), index = Some(6),
        keep = -1),
      new TypeConverter(Seq("brand_num"), IntegerType),
      FunctionTransformer.fromOp(Seq(Seq("brand_num")), Seq("brand_num"),
        Op.in(0) - Op.lit(1)),
      new StringSplitter(Seq("p_type"), Seq("type_head"),
        separator = Some(" "), keep = 0),
      new Scaler(Seq("p_retailprice"), Seq("retail_std"), "standard"),
      new OneHotEncoder(Seq("type_head")))
  }

  /** Reference AUC and Spearman over the collected serving output. */
  final case class Reference(auc: Double, pos: Long, neg: Long, rho: Double,
      n: Long)

  object Reference {
    def of(scored: DataFrame): Reference = {
      val rows = scored.select("cust_price_mean", "label", "o_totalprice")
        .collect()
      val score = rows.map(_.getDouble(0))
      val (auc, pos, neg) = Refs.auc(score, rows.map(_.getInt(1)))
      Reference(auc, pos, neg, Refs.spearman(rows.map(_.getDouble(2)), score),
        rows.length.toLong)
    }
  }
}
