package graft

import org.apache.spark.ml.Transformer
import org.apache.spark.sql.DataFrame

import graft.operators._

/** The no-driver-collect encoder fit paths (forced via maxCollect = 0) must
  * produce exactly the same codes/frequencies as the collect paths —
  * including the sentinel-appended-last rule and unseen-value defaults —
  * and every dictionary encoder must behave the same in each of the three
  * [[FittedLookup]] tiers (table-driven cases at the end). */
class DistributedFitSpec extends SparkSpec {
  import spark.implicits._

  lazy val train = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("b")),
    (4L, None)).toDF("row_id", "col1")
  lazy val noNull = Seq((1L, "a"), (2L, "zz")).toDF("row_id", "col1")
  lazy val serve = Seq((1L, "a"), (2L, "UNSEEN")).toDF("row_id", "col1")

  test("distributed CLE fit: null → sentinel sorted in, identical codes") {
    val m = new ComplementLabelEncoder(Seq("col1"), Seq("col1"), maxCollect = 0)
      .fit(train)
    assert(m.dicts.head.isDistributed)
    assertCol(m.transform(train), "col1", Seq(0, 0, 1, 2))
  }

  test("distributed CLE fit: no-null appends sentinel last; unseen → sentinel") {
    val m = new ComplementLabelEncoder(Seq("col1"), Seq("col1"), maxCollect = 0)
      .fit(noNull)
    assertCol(m.transform(serve), "col1", Seq(0, 2))
  }

  test("distributed frequency fit matches collect path incl. defaults") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "x")).toDF("row_id", "c")
    val big = new FrequencyEncoder(Seq("c"), Seq("n"), normalize = true,
      maxCollect = 0).fit(df)
    assert(big.dicts.head.isDistributed)
    val small = new FrequencyEncoder(Seq("c"), Seq("n"), normalize = true)
      .fit(df)
    val serveF = Seq((1L, "x"), (2L, "NEW")).toDF("row_id", "c")
    assert(colOf(big.transform(serveF), "n") ==
      colOf(small.transform(serveF), "n"))
    assertCol(big.transform(serveF), "n", Seq(0.75, 0.0))
  }

  test("multi-column forced distributed CLE fit matches the collect path " +
      "exactly") {
    // one shared distinct-pairs scan must yield per-column relations whose
    // codes equal the driver-map (collect) fit on every column at once —
    // including a null-bearing column and a no-null column in the SAME fit
    val train = Seq(
      (1L, Some("a"), "x", Some(10)), (2L, Some("b"), "y", Some(20)),
      (3L, None, "y", None), (4L, Some("a"), "z", Some(10)))
      .toDF("row_id", "c1", "c2", "c3")
    val serve = Seq((1L, "a", "z", "10"), (2L, "NEW", "nope", "99"))
      .toDF("row_id", "c1", "c2", "c3")
    val big = new ComplementLabelEncoder(
      Seq("c1", "c2", "c3"), Seq("o1", "o2", "o3"), maxCollect = 0)
      .fit(train)
    assert(big.dicts.forall(_.isDistributed))
    val small = new ComplementLabelEncoder(
      Seq("c1", "c2", "c3"), Seq("o1", "o2", "o3")).fit(train)
    assert(small.dicts.forall(!_.isDistributed))
    val a = big.transform(serve).orderBy("row_id").collect().toSeq
    val b = small.transform(serve).orderBy("row_id").collect().toSeq
    assert(a == b)
    // null-bearing column: sentinel sorted in ("extra_category_" > "b");
    // no-null column: sentinel appended last (code = vocab size)
    assertCol(big.transform(train), "o1", Seq(0, 1, 2, 0))
    assertCol(big.transform(serve), "o2", Seq(2, 3))
  }

  test("big-dict model survives save/load") {
    val model = DFPipeline(
      new ComplementLabelEncoder(Seq("col1"), Seq("col1"), maxCollect = 0))
      .fit(train)
    val dir = "target/tmp/persist_bigdict"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    assertCol(loaded.transform(serve), "col1", Seq(0, 2))
  }

  // ---- every dictionary encoder × every lookup tier ----------------------

  /** One dictionary encoder: its estimator on input `in` with
    * `maxCollect`, how its model encodes a frame, and its lookups. */
  private case class EncoderCase(
      name: String,
      estimator: (String, Long) => org.apache.spark.ml.PipelineStage,
      lookups: Transformer => Seq[FittedLookup[_]],
      encode: (Transformer, DataFrame) => DataFrame = _.transform(_))

  private val Collect = ComplementLabelEncoder.DefaultMaxCollect
  private def te(in: String, mc: Long) = new TargetEncoder(Seq(in),
    Seq("enc"), "t", "row_id", nFolds = 3, smoothing = 2.0, maxCollect = mc)
  private def teLookups(m: Transformer) = m match {
    case t: TargetEncoderModel => t.oof ++ t.full }

  private val encoders = Seq(
    EncoderCase("CLE", (in, mc) =>
      new ComplementLabelEncoder(Seq(in), Seq("enc"), maxCollect = mc),
      { case m: ComplementLabelEncoderModel => m.dicts }),
    EncoderCase("FE", (in, mc) => new FrequencyEncoder(Seq(in), Seq("enc"),
      normalize = true, maxCollect = mc),
      { case m: FrequencyEncoderModel => m.dicts }),
    EncoderCase("TE serve", te, teLookups),
    EncoderCase("TE train", te, teLookups,
      { case (m: TargetEncoderModel, d) => m.transformTrain(d) }),
    EncoderCase("WOE", (in, mc) =>
      new WoeEncoder(Seq(in), Seq("enc"), "y", maxCollect = mc),
      { case m: WoeEncoderModel => m.states }))

  /** (tier, input, maxCollect): `lo` has 37 keys and `hi` 1500, either
    * side of [[FittedLookup.LiteralMapMax]]. */
  private val tiers = Seq(("literal-map", "lo", Collect),
    ("broadcast", "hi", Collect), ("distributed", "hi", 0L))

  private lazy val tierTrain = (0 until 3000).map { i =>
    (i.toLong, if (i % 101 == 0) None else Some(s"l${i % 37}"),
      if (i % 103 == 0) None else Some(s"h${i * 7919 % 1500}"),
      if (i * 31 % 7 < 3) 1L else 0L, i % 13 * 0.5)
  }.toDF("row_id", "lo", "hi", "y", "t")
  // the training rows plus unseen and null keys
  private lazy val tierServe = tierTrain.select("row_id", "lo", "hi")
    .union(Seq[(Long, Option[String], Option[String])](
      (5000L, Some("unseen"), Some("unseen")), (5001L, None, None))
      .toDF("row_id", "lo", "hi"))

  for (enc <- encoders; (tier, in, mc) <- tiers)
    test(s"${enc.name}, $tier tier: same output as the other fit form, " +
        "save/load round trip, online parity or the named refusal") {
      def fit(maxCollect: Long) =
        DFPipeline(enc.estimator(in, maxCollect)).fit(tierTrain)
      def encoded(m: Transformer) =
        rowsOf(enc.encode(m, tierServe), "row_id", "enc")
      val model = fit(mc)
      val stage = model.stages.head
      val lookups = enc.lookups(stage)
      val out = enc.encode(stage, tierServe)
      val plan = out.queryExecution.executedPlan.toString
      tier match {
        case "literal-map" =>
          assert(lookups.forall(l => !l.isDistributed &&
            l.driverMap("t").size <= FittedLookup.LiteralMapMax))
          assert(!plan.contains("Join"), plan)
        case "broadcast" =>
          assert(lookups.forall(l => !l.isDistributed &&
            l.driverMap("t").size > FittedLookup.LiteralMapMax))
          assert(plan.contains("BroadcastHashJoin"), plan)
        case "distributed" => assert(lookups.forall(_.isDistributed))
      }
      val expected = encoded(stage)
      assert(expected.length == 3002)
      assert(encoded(fit(if (mc == 0L) Collect else 0L).stages.head) ==
        expected)

      val dir = java.nio.file.Files.createTempDirectory("graft_tier").toString
      GraftPersistence.save(model, dir)
      assert(encoded(GraftPersistence.load(spark, dir).stages.head) ==
        expected)

      if (mc == 0L) {
        val e = intercept[NotDriverResidentException] {
          OnlineScorer.compile(model)
        }
        assert(e.getMessage.contains(stage.getClass.getSimpleName))
      } else {
        val score = OnlineScorer.compile(model)
        model.transform(tierServe).select("row_id", in, "enc").collect()
          .foreach { r =>
            assert(score(Map(in -> r.get(1)))("enc") == r.get(2), r)
          }
      }
    }
}
