package graft

import graft.operators._
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("csv round trip with explicit schema; NaN and empty → null") {
    val dir = "target/tmp/src_csv"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,name,score\n1,alice,1.5\n2,,NaN\n3,carol,2.0\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = Sources.readCsv(spark, s"$dir/in.csv", schema)
    assert(df.schema == schema)
    val r = df.orderBy("id").collect()
    assert(r(1).isNullAt(1)) // empty string → null
    assert(r(1).isNullAt(2)) // NaN marker → null
    assert(r(2).getDouble(2) == 2.0)
  }

  test("jsonl round trip is lossless incl. newlines/quotes/unicode") {
    val dir = "target/tmp/src_jsonl"
    val src = Seq(
      (1L, "plain text", "en"),
      (2L, "line\nbreak and \"quotes\" and tab\t", "de"),
      (3L, "unicode: café 中文 😀", "zh"),
      (4L, null.asInstanceOf[String], "en")
    ).toDF("id", "text", "lang")
    Sources.writeJsonl(src, dir)
    val back = Sources.readJsonl(spark, dir, src.schema)
    // compare names+types (a json read is always nullable)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
  }

  test("jsonl malformed lines null out under PERMISSIVE with schema") {
    val dir = "target/tmp/src_jsonl_bad"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id": 1, "text": "ok"}""" + "\nnot json at all\n" +
        """{"id": 3, "text": "also ok"}""" + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val df = Sources.readJsonl(spark, s"$dir/in.json", schema)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.count(_.isNullAt(0)) == 1) // the corrupt line, fields null
    assert(df.filter(col("id").isNotNull).count() == 2)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val out = "target/tmp/src_part"
    Sources.writePartitioned(df, out, Seq("c_mktsegment"))
    val back = Sources.readParquet(spark, out)
      .filter(col("c_mktsegment") === "BUILDING")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("c_mktsegment"))
    assert(back.count() ==
      df.filter(col("c_mktsegment") === "BUILDING").count())
  }
}

/** Algebraic properties over generated data (SURVEY §5 strategy item 3). */
class OperatorPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
  private def check(p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val valuesGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "π", "", "zz", "extra_category_"))

  test("label encoder: injective on seen values, sentinel for unseen") {
    check(Prop.forAll(valuesGen) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("row_id", "c")
      val m = new ComplementLabelEncoder(Seq("c"), Seq("code")).fit(df)
      val vocab = m.dicts.head.driverMap("cle")
      val distinctVals = vs.distinct
      val codes = distinctVals.map(vocab)
      val injective = codes.distinct.size == distinctVals.size
      val denseRange = vocab.values.toSeq.sorted == (0 until vocab.size)
      val serve = Seq((0L, "__never_seen__")).toDF("row_id", "c")
      val unseenToSentinel =
        m.transform(serve).head().getAs[Int]("code") ==
          vocab("extra_category_")
      injective && denseRange && unseenToSentinel
    })
  }

  test("row filter: survivor set is exactly the non-dropped values") {
    check(Prop.forAll(valuesGen, Gen.someOf("a", "b", "zz")) { (vs, drop) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("row_id", "c")
      val out = new RowTransformer(Seq("c"), drop.toSeq)
        .transform(df).select("c").as[String].collect()
      out.forall(v => !drop.contains(v)) &&
        out.length == vs.count(v => !drop.contains(v))
    })
  }

  test("minmax scaler: fitted-frame outputs within [0,1]") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("row_id", "x")
      val out = new Scaler(Seq("x"), Seq("x"), "minmax").fit(df)
        .transform(df).select("x").as[Double].collect()
      out.forall(v => v >= -1e-9 && v <= 1.0 + 1e-9)
    })
  }

  test("frequency encoder: counts on the fitted frame sum to row count") {
    check(Prop.forAll(valuesGen) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("row_id", "c")
      val m = new FrequencyEncoder(Seq("c"), Seq("n")).fit(df)
      // each row carries its value's count; summing 1/count per row over
      // each distinct value's rows gives exactly the distinct count
      val counts = m.dicts.head.driverMap("fe")
      counts.values.sum.toLong == vs.length
    })
  }
}
