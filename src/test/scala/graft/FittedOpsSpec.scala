package graft

import graft.operators._

/** Golden tests: fitted (Estimator/Model) operators. */
class ComplementLabelEncoderSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_le.py:25-37
  test("null → sentinel, lexicographic codes, int32") {
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("b")), (4L, None))
      .toDF("row_id", "col1")
    val out = new ComplementLabelEncoder(Seq("col1"), Seq("col1"))
      .fit(df).transform(df)
    assert(dtypeOf(out, "col1") == "int")
    assertCol(out, "col1", Seq(0, 0, 1, 2))
  }
  test("no-null fit appends sentinel at END (ComplementLabelEncoder.py:61-63)") {
    val train = Seq((1L, "a"), (2L, "zz")).toDF("row_id", "col1")
    val m = new ComplementLabelEncoder(Seq("col1"), Seq("col1")).fit(train)
    assert(m.dicts.head.driverMap("cle") ==
      Map("a" -> 0, "zz" -> 1, "extra_category_" -> 2))
    // unseen value at serve time collapses to the sentinel code
    val serve = Seq((1L, "a"), (2L, "UNSEEN")).toDF("row_id", "col1")
    assertCol(m.transform(serve), "col1", Seq(0, 2))
  }
  test("sentinel sorts among values when nulls were seen") {
    val train = Seq((1L, Some("a")), (2L, Some("zz")), (3L, None))
      .toDF("row_id", "col1")
    val m = new ComplementLabelEncoder(Seq("col1"), Seq("col1")).fit(train)
    // sorted: a < extra_category_ < zz
    assert(m.dicts.head.driverMap("cle") ==
      Map("a" -> 0, "extra_category_" -> 1, "zz" -> 2))
  }
  test("empty inputs = the reference's _PARM_ALL: encode every column in place") {
    // DFPBase.py:25-33 / ComplementLabelEncoder.py:41-42 — inputs/outputs
    // default to ALL columns, outputs overwrite in place
    val df = Seq(("a", "x"), ("b", "y")).toDF("c1", "c2")
    val out = new ComplementLabelEncoder().fit(df).transform(df)
    assert(out.columns.toSeq == Seq("c1", "c2"))
    assert(out.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.IntegerType))
  }

  test("unicode lexicographic order matches codepoint order (BMP)") {
    val train = Seq((1L, "été"), (2L, "abc"), (3L, "Übung"), (4L, "中文"))
      .toDF("row_id", "col1")
    val m = new ComplementLabelEncoder(Seq("col1"), Seq("col1")).fit(train)
    // Python sorted(): 'abc' < 'extra_category_'? no — fit appends sentinel
    // last (no nulls): sorted values abc < Übung(Ü=0xDC) < été < 中文
    assert(m.dicts.head.driverMap("cle") ==
      Map("abc" -> 0, "Übung" -> 1, "été" -> 2, "中文" -> 3,
        "extra_category_" -> 4))
  }
}

class FrequencyEncoderSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_freq.py:25-47
  lazy val df = Seq((1L, "device-1"), (2L, "device-1"), (3L, "device-2"),
    (4L, "device-2")).toDF("row_id", "col1")

  test("raw counts, long") {
    val out = new FrequencyEncoder(Seq("col1"), Seq("col2"))
      .fit(df).transform(df)
    assert(dtypeOf(out, "col2") == "bigint")
    assertCol(out, "col2", Seq(2L, 2L, 2L, 2L))
  }
  test("normalized, double") {
    val out = new FrequencyEncoder(Seq("col1"), Seq("col2"), normalize = true)
      .fit(df).transform(df)
    assertCol(out, "col2", Seq(0.5, 0.5, 0.5, 0.5))
  }
  test("unseen value defaults: 1 raw / 0.0 normalized (FrequencyEncoder.py:60-66)") {
    val serve = Seq((1L, "device-1"), (2L, "NEW")).toDF("row_id", "col1")
    val raw = new FrequencyEncoder(Seq("col1"), Seq("col2")).fit(df)
    assertCol(raw.transform(serve), "col2", Seq(2L, 1L))
    val norm = new FrequencyEncoder(Seq("col1"), Seq("col2"), normalize = true).fit(df)
    assertCol(norm.transform(serve), "col2", Seq(0.5, 0.0))
  }
}

class AggregatorSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_agg.py:25-61
  lazy val df = Seq((1L, 2, "device-1"), (2L, 2, "device-1"),
    (3L, 4, "device-2"), (4L, 4, "device-2")).toDF("row_id", "col1", "col2")

  test("global mean → constant column") {
    val out = new Aggregator(Seq("col1"), Seq("mean"), Nil, "mean")
      .fit(df).transform(df)
    assertCol(out, "mean", Seq(3.0, 3.0, 3.0, 3.0))
  }
  test("grouped mean → training-time lookup") {
    // NOTE: mean of an int column is double here (pandas test_agg.py:35-40
    // declares an int64 expected frame — bit-rotted; `mean` yields float)
    val out = new Aggregator(Seq("col1"), Seq("mean_to_col2"), Seq("col2"), "mean")
      .fit(df).transform(df)
    assertCol(out, "mean_to_col2", Seq(2.0, 2.0, 4.0, 4.0))
  }
  test("grouped count, long") {
    val out = new Aggregator(Seq("col2"), Seq("count"), Seq("col2"), "count")
      .fit(df).transform(df)
    assertCol(out, "count", Seq(2L, 2L, 2L, 2L))
  }
  test("unseen group key at serve time → null (Aggregator.py:94-96)") {
    val m = new Aggregator(Seq("col1"), Seq("m"), Seq("col2"), "mean").fit(df)
    val serve = Seq((1L, 0, "device-1"), (2L, 0, "NEW")).toDF("row_id", "col1", "col2")
    assertCol(m.transform(serve), "m", Seq(2.0, null))
  }
  test("inputs sharing a group key fuse into one relation and one join") {
    val m = new Aggregator(Seq("col1", "col1"), Seq("m1", "m2"),
      Seq("col2", "col2"), "mean").fit(df)
    assert(m.lookups.size == 1)
    assert(m.lookups.head.outs == Seq("m1", "m2"))
    val out = m.transform(df)
    assertCol(out, "m1", Seq(2.0, 2.0, 4.0, 4.0))
    assertCol(out, "m2", Seq(2.0, 2.0, 4.0, 4.0))
  }

  test("custom callable aggregate (the reference's Series.aggregate surface)") {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val m = Aggregator.custom(Seq("col1"), Seq("range"), Seq("col2"),
      "range", c => fmax(c) - fmin(c)).fit(df)
    assertCol(m.transform(df), "range", Seq(0, 0, 0, 0))
    val g = Aggregator.custom(Seq("col1"), Seq("spread"), Nil,
      "spread", c => fmax(c) - fmin(c)).fit(df)
    assertCol(g.transform(df), "spread", Seq(2, 2, 2, 2))
  }

  test("approx sketches track the exact aggregates (100 TB fit path)") {
    val big = (1 to 5000).map(i => (i.toLong, i % 700, s"g${i % 3}"))
      .toDF("row_id", "v", "g")
    // HLL++ nunique: ±5% of the exact 700 distinct values
    val ap = new Aggregator(Seq("v"), Seq("nu"), Nil, "approx_nunique")
      .fit(big).transform(big).select("nu").head().getLong(0)
    assert(math.abs(ap - 700L) <= 35, s"approx_nunique $ap vs 700")
    // quantile-sketch median within 1% of the exact per-group median
    val exact = new Aggregator(Seq("v"), Seq("m"), Seq("g"), "median")
      .fit(big).transform(big)
    val approx = new Aggregator(Seq("v"), Seq("m"), Seq("g"), "approx_median")
      .fit(big).transform(big)
    val pairs = colOf(exact, "m").map(_.asInstanceOf[Double])
      .zip(colOf(approx, "m").map(_.asInstanceOf[Double]))
    pairs.foreach { case (e, a) =>
      assert(math.abs(e - a) <= math.max(1.0, e * 0.01), s"median $a vs $e")
    }
  }

  test("std is sample std (pandas ddof=1)") {
    val m = new Aggregator(Seq("col1"), Seq("s"), Nil, "std").fit(df)
    assertColApprox(m.transform(df), "s",
      Seq.fill(4)(Some(1.1547005383792515))) // std([2,2,4,4], ddof=1)
  }
}

class ScalerSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_scale.py:25-58
  lazy val df = Seq((1L, 0, 1), (2L, 1, 2), (3L, 2, 3))
    .toDF("row_id", "col1", "col2")

  test("minmax → [0,1] double") {
    val out = new Scaler(Seq("col1"), Seq("col1"), "minmax").fit(df).transform(df)
    assertCol(out, "col1", Seq(0.0, 0.5, 1.0))
  }
  test("standard → population std (sklearn ddof=0)") {
    val out = new Scaler(Seq("col1"), Seq("col1"), "standard").fit(df).transform(df)
    assertColApprox(out, "col1",
      Seq(Some(-1.224744871391589), Some(0.0), Some(1.224744871391589)))
  }
  test("min → subtract min, int stays int") {
    val out = new Scaler(Seq("col2"), Seq("col2"), "min").fit(df).transform(df)
    assert(dtypeOf(out, "col2") == "int")
    assertCol(out, "col2", Seq(0, 1, 2))
  }
}

class OneHotEncoderSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_onehot.py:25-40
  lazy val df = Seq(
    (1L, "male", Some(3.0)), (2L, "female", Some(4.0)), (3L, "female", Some(6.0)),
    (4L, "male", Some(9.0)), (5L, "female", None), (6L, "male", Some(17.0)),
    (7L, "female", Some(20.0)), (8L, "female", Some(100.0)))
    .toDF("row_id", "sex", "C2")

  test("dense double indicator columns, source kept") {
    val out = new OneHotEncoder(Seq("sex")).fit(df).transform(df)
    assert(out.columns.toSeq ==
      Seq("row_id", "sex", "C2", "sex__female", "sex__male"))
    assert(dtypeOf(out, "sex__female") == "double")
    assertCol(out, "sex__female", Seq(0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 1.0, 1.0))
    assertCol(out, "sex__male", Seq(1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 0.0, 0.0))
    assertCol(out, "sex", Seq("male", "female", "female", "male", "female",
      "male", "female", "female"))
  }
  test("null row → all zeros") {
    val d = Seq((1L, Some("a")), (2L, None)).toDF("row_id", "c")
    val out = new OneHotEncoder(Seq("c")).fit(d).transform(d)
    assertCol(out, "c__a", Seq(1.0, 0.0))
  }
}

class WrapTransformerSpec extends SparkSpec {
  import spark.implicits._
  // tests/test_wrap.py:30-78 — semantics follow the WRAPPED spark.ml stage
  // (e.g. spark's StandardScaler uses sample std vs sklearn's population
  // std — divergence documented in wrap.scala).
  lazy val df = Seq(
    (1L, "A", 1.0, Some(2.0), Some(4.0)),
    (2L, "B", 1.0, Some(2.0), Some(4.0)),
    (3L, "C", 2.0, Some(2.0), None),
    (4L, "C", 2.0, None, Some(4.0)))
    .toDF("row_id", "col1", "col2", "col3", "col4")

  test("wrapped StandardScaler (spark semantics: sample std)") {
    val out = WrapTransformer(Seq("col2"), Seq("col2"),
      () => new org.apache.spark.ml.feature.StandardScaler().setWithMean(true))
      .fit(df).transform(df)
    // mean 1.5, stddev_samp([1,1,2,2]) = 0.57735 → ±0.8660254
    assertColApprox(out, "col2",
      Seq(Some(-0.8660254037844387), Some(-0.8660254037844387),
        Some(0.8660254037844387), Some(0.8660254037844387)), 1e-9)
  }
  test("wrapped spark.ml Imputer (mean)") {
    val out = WrapTransformer(Seq("col3", "col4"), Seq("col3", "col4"),
      () => new org.apache.spark.ml.feature.Imputer().setStrategy("mean"))
      .fit(df).transform(df)
    assertCol(out, "col3", Seq(2.0, 2.0, 2.0, 2.0))
    assertCol(out, "col4", Seq(4.0, 4.0, 4.0, 4.0))
  }
  test("wrapped MinMaxScaler over multiple columns (per-column fit)") {
    // tests/test_wrap.py:63-70 — minmax is column-wise, so per-column
    // wrapped fits equal the sklearn block fit; nulls pass through as null
    val d = Seq((1L, Some(1.0), Some(10.0)), (2L, Some(3.0), None),
      (3L, Some(5.0), Some(30.0))).toDF("row_id", "a", "b")
    val out = WrapTransformer(Seq("a", "b"), Seq("a", "b"),
      () => new org.apache.spark.ml.feature.MinMaxScaler())
      .fit(d).transform(d)
    assertColApprox(out, "a", Seq(Some(0.0), Some(0.5), Some(1.0)))
    assertColApprox(out, "b", Seq(Some(0.0), None, Some(1.0)))
  }

  test("tuple input: ONE scaler fitted over the column tuple") {
    // WrapTransform.py:72-75 — a tuple entry fits one transformer over the
    // multi-column frame; minmax stats stay per-column, so the golden is
    // sklearn's block fit_transform
    val d = Seq((1L, 1.0, 10.0), (2L, 3.0, 20.0), (3L, 5.0, 40.0))
      .toDF("row_id", "a", "b")
    val out = WrapTransformer.tuples(Seq(Seq("a", "b")), Seq(Seq("x", "y")),
      () => new org.apache.spark.ml.feature.MinMaxScaler())
      .fit(d).transform(d)
    assertColApprox(out, "x", Seq(Some(0.0), Some(0.5), Some(1.0)))
    assertColApprox(out, "y",
      Seq(Some(0.0), Some(1.0 / 3.0), Some(1.0)))
    // inputs stay in place, outputs are new columns
    assert(out.columns.toSeq == Seq("row_id", "a", "b", "x", "y"))
  }

  test("tuple input: multi-column stage via plural params (ml Imputer)") {
    val out = WrapTransformer.tuples(
      Seq(Seq("col3", "col4")), Seq(Seq("col3", "col4")),
      () => new org.apache.spark.ml.feature.Imputer().setStrategy("mean"))
      .fit(df).transform(df)
    assertCol(out, "col3", Seq(2.0, 2.0, 2.0, 2.0))
    assertCol(out, "col4", Seq(4.0, 4.0, 4.0, 4.0))
  }

  test("tuple input: stage without plural params fails with a clear error") {
    val e = intercept[UnsupportedOperationException] {
      WrapTransformer.tuples(Seq(Seq("col1", "col2")), Seq(Seq("o1", "o2")),
        () => new org.apache.spark.ml.feature.Tokenizer())
        .fit(df)
    }
    assert(e.getMessage.contains("inputCols"))
  }

  test("wrapped StringIndexer (alphabetAsc ≈ LabelEncoder)") {
    val out = WrapTransformer(Seq("col1"), Seq("col1"),
      () => new org.apache.spark.ml.feature.StringIndexer()
        .setStringOrderType("alphabetAsc"))
      .fit(df).transform(df)
    assertCol(out, "col1", Seq(0.0, 1.0, 2.0, 2.0))
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._
  /** SURVEY §7.3 minimum end-to-end slice: concat → label-encode →
    * frequency-encode → grouped aggregate (the fraud pipeline's magic
    * feature shape, FraudDetection1.py:135-152). */
  test("4-stage pipeline fit_transform") {
    val df = Seq(
      (1L, "BUILDING", 1, 100.0), (2L, "BUILDING", 1, 200.0),
      (3L, "AUTO", 2, 300.0), (4L, "AUTO", 2, 500.0))
      .toDF("row_id", "seg", "nat", "price")
    val pipe = DFPipeline(
      new StringConcatenator(Seq(Seq("seg", "nat")), Seq("key"), "_"),
      new ComplementLabelEncoder(Seq("key"), Seq("key_enc")),
      new FrequencyEncoder(Seq("key"), Seq("key_freq"), normalize = true),
      new Aggregator(Seq("price"), Seq("price_mean"), Seq("key"), "mean"))
    val out = pipe.fit(df).transform(df)
    assertCol(out, "key", Seq("BUILDING_1", "BUILDING_1", "AUTO_2", "AUTO_2"))
    assertCol(out, "key_enc", Seq(1, 1, 0, 0))
    assertCol(out, "key_freq", Seq(0.5, 0.5, 0.5, 0.5))
    assertCol(out, "price_mean", Seq(150.0, 150.0, 400.0, 400.0))
  }
}
