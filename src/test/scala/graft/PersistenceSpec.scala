package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Save/load round-trip: a fitted pipeline reloaded from disk must produce
  * byte-identical transforms (the reference's export-then-serve contract,
  * SURVEY §3.2). */
class PersistenceSpec extends SparkSpec {
  import spark.implicits._

  lazy val train = Seq(
    (1L, "BUILDING", 1, 100.0, Some(0.1)),
    (2L, "BUILDING", 1, 200.0, None),
    (3L, "AUTO", 2, 300.0, Some(0.3)),
    (4L, "AUTO", 2, 500.0, Some(0.5)))
    .toDF("row_id", "seg", "nat", "price", "disc")

  lazy val serve = Seq(
    (1L, "BUILDING", 1, 150.0, Some(0.2)),
    (2L, "UNSEEN", 9, 250.0, None))
    .toDF("row_id", "seg", "nat", "price", "disc")

  test("full-pipeline save/load round trip") {
    val model = DFPipeline(
      new StringConcatenator(Seq(Seq("seg", "nat")), Seq("key"), "_"),
      new ComplementLabelEncoder(Seq("key"), Seq("key_code")),
      new FrequencyEncoder(Seq("key"), Seq("key_freq"), normalize = true),
      new Aggregator(Seq("price"), Seq("price_mean"), Seq("key"), "mean"),
      new Aggregator(Seq("price"), Seq("price_gmean"), Nil, "mean"),
      new Scaler(Seq("price"), Seq("price_mm"), "minmax"),
      new MapTransformer(Seq("seg"), Seq("seg2"), Seq(("AUTO", "A"))),
      new RangeTransformer(Seq("price"), Seq("price_r"),
        Seq(((Some(300.0), None), -1.0))),
      new Imputer(Seq("disc"), Seq("disc"), None, 0.0),
      new TypeConverter(Seq("nat"), DoubleType),
      new ColumnSelector(Seq("seg"), drop = true))
      .fit(train)

    val dir = "target/tmp/persist_test"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)

    val a = model.transform(serve).orderBy("row_id").collect().toSeq
    val b = loaded.transform(serve).orderBy("row_id").collect().toSeq
    assert(a == b)
    // unseen key behavior survives the round trip
    val r = loaded.transform(serve).filter(col("row_id") === 2).head()
    assert(r.getAs[Double]("key_freq") == 0.0)
    assert(r.isNullAt(r.fieldIndex("price_mean")))
  }

  test("IvfIndex fit -> save -> load -> query serves identical top-k " +
      "(the ANN index lifecycle: fit once, serve anywhere)") {
    import graft.sim.IvfIndex
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(j =>
        math.sin(i * 0.37 + j * 1.3) + (if (i % 4 == j % 4) 2.0 else 0.0)))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))

    val fresh = IvfIndex.fit(corpus, "vec_id", "embedding", nCentroids = 4)
    val dir = "target/tmp/ivf_index_test"
    fresh.save(dir)
    val loaded = IvfIndex.load(spark, dir)

    assert(loaded.centroids.map(_.toSeq).toSeq ==
      fresh.centroids.map(_.toSeq).toSeq)
    def res(ix: IvfIndex) = ix.query(qs, "query_id", "qvec", k = 3,
        nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(res(loaded) == res(fresh))
    fresh.release(); loaded.release()
  }

  test("target + hashing encoders survive save/load (small and big state)") {
    val df = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", i.toDouble)).toDF("id", "c", "y")
    for (maxCollect <- Seq(1000000L, 0L)) { // literal-map AND distributed
      val model = DFPipeline(
        new TargetEncoder(Seq("c"), Seq("c_te"), "y", "id",
          nFolds = 3, smoothing = 5.0, maxCollect = maxCollect),
        new HashingEncoder(Seq("c"), Seq("c_h"), 16)).fit(df)
      val dir = s"target/tmp/persist_te_$maxCollect"
      GraftPersistence.save(model, dir)
      val loaded = GraftPersistence.load(spark, dir)
      val a = model.transform(df).orderBy("id")
        .select("id", "c_te", "c_h").collect().toSeq
      val b = loaded.transform(df).orderBy("id")
        .select("id", "c_te", "c_h").collect().toSeq
      assert(a == b, s"maxCollect=$maxCollect")
      // the reloaded train path (leave-own-fold-out) also matches
      val m0 = model.stages.collectFirst {
        case m: TargetEncoderModel => m }.get
      val l0 = loaded.stages.collectFirst {
        case m: TargetEncoderModel => m }.get
      val at = m0.transformTrain(df).orderBy("id").select("c_te")
        .collect().toSeq
      val bt = l0.transformTrain(df).orderBy("id").select("c_te")
        .collect().toSeq
      assert(at == bt, s"train path, maxCollect=$maxCollect")
    }
  }

  test("closure-bearing stages refuse to persist with a clear error") {
    val m = DFPipeline(
      FunctionTransformer(Seq("price"), Seq("p2"), _ * 2)).fit(train)
    val e = intercept[UnsupportedOperationException] {
      GraftPersistence.save(m, "target/tmp/persist_fail")
    }
    assert(e.getMessage.contains("fromOp"))
  }

  test("Op tree JSON round trip is structural identity") {
    import Op._
    val tree = when(in(0) > lit(3.0) && !isnull(in(1)), sqrt(in(0) * in(1)))
      .when(isnan(in(0)), lit(null))
      .otherwise(pow(abs(in(0)), lit(2.0)) + least(in(1), lit(0), in(0))
        - element_at(split(lower(in(2)), " "), 1).cast(DoubleType))
    assert(Op.fromJson(Op.toJson(tree)) == tree)
  }

  test("FunctionTransformer.fromOp and SetTransformer survive save/load") {
    val tree = {
      import Op._
      when(isnull(in(1)), lit(-1.0))
        .otherwise(sqrt(in(0)) * greatest(in(1), lit(0.05)))
    }
    val ft = FunctionTransformer.fromOp(
      Seq(Seq("price", "disc")), Seq("score"), tree)
    val st = new SetTransformer(Left("seg"), Right(Seq("AUTO", "X")), "&")
    val model = DFPipeline(ft, st,
      new Scaler(Seq("price"), Seq("p_mm"), "minmax")).fit(train)

    val dir = "target/tmp/persist_optree"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)

    val a = model.transform(serve).orderBy("row_id").collect().toSeq
    val b = loaded.transform(serve).orderBy("row_id").collect().toSeq
    assert(a == b)
    // the reloaded SetTransformer still computes its set algebra
    val setStage = loaded.stages.collectFirst { case s: SetTransformer => s }
    assert(setStage.nonEmpty)
    assert(setStage.get.resultDF(serve).collect().isEmpty) // no AUTO in serve
  }

  test("QuantileBinner cuts survive save/load (incl. all-null column)") {
    val t2 = train.withColumn("allnull",
      lit(null).cast(DoubleType))
    val model = DFPipeline(
      new QuantileBinner(Seq("price", "allnull"),
        Seq("price_bin", "null_bin"), nBins = 4)).fit(t2)
    val dir = "target/tmp/persist_binner"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    val s2 = serve.withColumn("allnull", lit(null).cast(DoubleType))
    val a = model.transform(s2).orderBy("row_id").collect().toSeq
    val b = loaded.transform(s2).orderBy("row_id").collect().toSeq
    assert(a == b)
    val lm = loaded.stages.collectFirst {
      case m: QuantileBinnerModel => m }.get
    assert(lm.cuts.head.get.length == 3 && lm.cuts(1).isEmpty)
  }

  test("SetTransformer padded-output params survive save/load") {
    val st = new SetTransformer(Left("seg"), Right(Seq("AUTO", "B")), "|",
      None, outputOperand = Some("set_out"), orderCol = Some("row_id"))
    val model = DFPipeline(st).fit(train)
    val dir = "target/tmp/persist_setpad"
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    val a = model.transform(train).orderBy("row_id").collect().toSeq
    val b = loaded.transform(train).orderBy("row_id").collect().toSeq
    assert(a == b)
    assert(a.head.schema.fieldNames.contains("set_out"))
  }

  test("op whitelist lowers to the same values as the Column closures") {
    val df = Seq((4.0, -2.0, "A B"), (9.0, 3.0, "C D"))
      .toDF("x", "y", "s")
    val tree = {
      import Op._
      ceil(exp(lit(1.0))) + floor(log(in(0))) +
        pow(in(1), lit(2.0)) / greatest(in(0), in(1), lit(1.0)) +
        when(element_at(split(lower(in(2)), " "), 1) === lit("a"), lit(10.0))
          .otherwise(lit(0.0))
    }
    val viaOp = FunctionTransformer.fromOp(
      Seq(Seq("x", "y", "s")), Seq("out"), tree)
      .transform(df).select("out").as[Double].collect().toSeq
    val viaCol = df.select(
      (ceil(exp(lit(1.0))) + floor(log(col("x"))) +
        pow(col("y"), lit(2.0)) / greatest(col("x"), col("y"), lit(1.0)) +
        when(element_at(split(lower(col("s")), " "), 1) === "a", 10.0)
          .otherwise(0.0)).as("out")).as[Double].collect().toSeq
    assert(viaOp == viaCol)
  }

  test("Op.mean is element-wise over operands and survives JSON") {
    val df = Seq((1.0, 3.0), (10.0, 0.0)).toDF("x", "y")
    val tree = { import Op._; mean(in(0), in(1)) }
    val reloaded = Op.fromJson(Op.toJson(tree))
    val out = FunctionTransformer.fromOp(Seq(Seq("x", "y")), Seq("m"),
      reloaded).transform(df).select("m").as[Double].collect().toSeq
    assert(out == Seq(2.0, 5.0))
  }

  test("Op.split is literal (regex metachars quoted); element_at nulls OOR") {
    val df = Seq(("a.b.c", 1), ("nodots", 2)).toDF("s", "k")
    val tree = {
      import Op._
      element_at(split(in(0), "."), 2) // Python: str.split('.')[1]
    }
    val out = FunctionTransformer.fromOp(Seq(Seq("s")), Seq("tok"), tree)
      .transform(df).select("tok").as[Option[String]].collect().toSeq
    // regex-unquoted split on "." would tokenize every char to "" — the
    // literal split yields "b"; the 1-token row nulls instead of throwing
    assert(out == Seq(Some("b"), None))
  }
}
