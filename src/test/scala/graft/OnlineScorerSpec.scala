package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Online (row-at-a-time) serving parity: the reference benchmarks an
  * online deploy mode scoring one-row frames (RunBench.py:41, 66-77); the
  * Spark analog is [[OnlineScorer]] — frozen fitted maps applied as a plain
  * Scala closure chain. Contract: scoring rows one at a time must equal
  * batch `model.transform` EXACTLY, value for value. */
class OnlineScorerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("100 rows scored one-at-a-time equal the batch transform exactly") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val model = DFPipeline(
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
      .fit(customer)

    val batch = model.transform(customer).orderBy("c_custkey")
      .limit(100).collect()
    val cols = model.transform(customer).columns

    val score = OnlineScorer.compile(model)
    val inputCols = customer.columns
    val inputs = customer.orderBy("c_custkey").limit(100).collect()

    inputs.zip(batch).foreach { case (in, expected) =>
      val row: OnlineScorer.OnlineRow =
        inputCols.map(c => c -> in.getAs[Any](c)).toMap
      val got = score(row)
      cols.foreach { c =>
        val e = expected.getAs[Any](c)
        val g = got.getOrElse(c, sys.error(s"online row missing column $c"))
        assert(g == e, s"column $c: online=$g batch=$e (row $row)")
      }
    }
  }

  test("serve-time TargetEncoder path and unseen values hit the prior") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val model = DFPipeline(
      new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
        targetCol = "c_acctbal", idCol = "c_custkey",
        nFolds = 4, smoothing = 10.0)).fit(customer)
    val score = OnlineScorer.compile(model)
    val te = model.stages.head.asInstanceOf[TargetEncoderModel]
    // unseen category and null both encode to the prior (serve semantics)
    assert(score(Map("c_mktsegment" -> "NEVER_SEEN"))("seg_te") == te.prior)
    assert(score(Map("c_mktsegment" -> null))("seg_te") == te.prior)
  }

  test("online hash keys refuse non-integral runtime values whose JVM " +
      "rendering diverges from Spark's string cast (ADVICE r7)") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val model = DFPipeline(
      new FeatureHasher(Seq("c_mktsegment"), Nil, "fh", 16)).fit(customer)
    val score = OnlineScorer.compile(model)
    // strings round-trip; doubles/timestamps render differently under
    // JVM toString vs Spark's string cast, so the online bucket could
    // silently diverge from the batch bucket — the contract is REFUSAL
    assert(score(Map("c_mktsegment" -> "BUILDING")).contains("fh"))
    intercept[UnsupportedOperationException] {
      score(Map("c_mktsegment" -> 1.0e7))
    }
    intercept[UnsupportedOperationException] {
      score(Map("c_mktsegment" ->
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    }
  }

  test("batch-side FeatureHasher stays permissive for double categoricals" +
      " (ADVICE r8): cast(string) is self-consistent at fit and transform") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    // a double-typed categorical column was legal before the r7 require
    // and must stay legal for batch-only pipelines and persisted models;
    // only OnlineScorer (the serving boundary) refuses it
    val out = DFPipeline(
      new FeatureHasher(Seq("c_acctbal"), Nil, "fh", 16))
      .fit(customer).transform(customer)
    assert(out.select("fh").head().getSeq[Double](0).length == 16)
  }

  test("a stage on its big (distributed) path refuses to compile") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val model = DFPipeline(
      new ComplementLabelEncoder(Seq("c_mktsegment"), Seq("seg_code"),
        maxCollect = 2)).fit(customer)
    intercept[NotDriverResidentException] {
      OnlineScorer.compile(model)
    }
  }
}
