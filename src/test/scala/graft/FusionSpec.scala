package graft

import graft.operators._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared-scan fit fusion: the fused pipeline fit must produce models
  * bit-identical to per-stage fits, in fewer Spark jobs, and must refuse to
  * fuse when a later fit reads an earlier stage's output. */
class FusionSpec extends SparkSpec {
  import spark.implicits._

  private def train = Seq(
    (1L, Some("a"), 10.0), (2L, Some("a"), 20.0), (3L, Some("b"), 30.0),
    (4L, None, 40.0), (5L, Some("c"), 50.0), (6L, Some("b"), 60.0))
    .toDF("row_id", "k", "v")

  private def countJobs(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        { counter.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async; poll until the count is stable
      var last = -1
      var same = 0
      while (same < 3) {
        val now = counter.get()
        if (now == last) same += 1 else { same = 0; last = now }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get()
  }

  private def sameFrames(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.orderBy("row_id").collect().toSeq ==
      b.orderBy("row_id").collect().toSeq)
  }

  test("fused keyed fit == per-stage fits (CLE + Freq + grouped Agg + OneHot)") {
    val df = train
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new FrequencyEncoder(Seq("k"), Seq("k_freq"), normalize = true),
      new Aggregator(Seq("v"), Seq("k_mean"), Seq("k"), "mean"),
      new OneHotEncoder(Seq("k")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
  }

  test("fused scalar fit == per-stage fits (Scaler + global Agg)") {
    val df = train
    val stages = () => Seq(
      new Scaler(Seq("v"), Seq("v_std"), "standard"),
      new Aggregator(Seq("v"), Seq("v_mean"), Nil, "mean"),
      new Scaler(Seq("v"), Seq("v_mm"), "minmax"))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
  }

  test("fusion saves jobs: 3 same-key fits run as ONE aggregation job") {
    val df = train.persist()
    df.count() // warm the cache so both measurements read memory
    val mk = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new FrequencyEncoder(Seq("k"), Seq("k_freq")),
      new Aggregator(Seq("v"), Seq("k_mean"), Seq("k"), "mean"))
    val fusedJobs = countJobs { DFPipeline(mk(): _*).fit(df); () }
    val seqJobs = countJobs {
      mk().foldLeft(df)((d, e) => e.fit(d).transform(d)); ()
    }
    df.unpersist()
    // AQE materializes the shuffle stage as its own job → 2 jobs for the
    // one aggregation (map + collect); per-stage fits run ≥6
    assert(fusedJobs <= 2, s"fused fit ran $fusedJobs jobs")
    assert(seqJobs > fusedJobs,
      s"sequential ($seqJobs) should exceed fused ($fusedJobs)")
  }

  test("no fusion across a data dependency (later fit reads earlier output)") {
    val df = train
    // Freq reads CLE's OUTPUT — fusing them on the base frame would count
    // the wrong column; the run must break and results must equal sequential
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k2")),
      new FrequencyEncoder(Seq("k2"), Seq("k2_freq")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
    assertCol(fused, "k2_freq", Seq(2L, 2L, 2L, 1L, 1L, 2L))
  }

  test("grouped Aggregator on a non-string key does not fuse (and still works)") {
    val df = Seq((1L, 10, 1.0), (2L, 10, 3.0), (3L, 20, 5.0))
      .toDF("row_id", "ik", "v")
      .withColumn("ks", col("ik").cast("string"))
    val stages = () => Seq(
      new FrequencyEncoder(Seq("ks"), Seq("ks_freq")),
      new Aggregator(Seq("v"), Seq("ik_mean"), Seq("ik"), "mean"))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df)((d, e) => e.fit(d).transform(d))
    sameFrames(fused, seq)
    assertColApprox(fused, "ik_mean", Seq(Some(2.0), Some(2.0), Some(5.0)))
  }

  test("vocabulary overflow falls back to per-stage (distributed) fits") {
    val df = train
    val stages = Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code"), maxCollect = 0L),
      new FrequencyEncoder(Seq("k"), Seq("k_freq")))
    val fused = DFPipeline(stages: _*).fit(df).transform(df)
    // distributed codes are still lexicographic: a→0, b→1, c→2, sentinel→3? no —
    // nulls WERE seen, so sentinel sorts among values: a,b,c,extra_category_
    assertCol(fused, "k_code", Seq(0, 0, 1, 3, 2, 1))
    assertCol(fused, "k_freq", Seq(2L, 2L, 2L, 1L, 1L, 2L))
  }

  test("DFPipeline still round-trips through Spark ML Pipeline persistence") {
    // graft stages persist via GraftPersistence; the ML-writer contract
    // matters for pipelines of standard writable Spark stages
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pipe_io").toString
    val sql = new org.apache.spark.ml.feature.SQLTransformer()
      .setStatement("SELECT k FROM __THIS__")
    DFPipeline(sql).write.overwrite().save(dir)
    val re = org.apache.spark.ml.Pipeline.load(dir)
    val out = re.fit(train).transform(train)
    assert(out.columns.toSeq == Seq("k"))
  }

  test("interleaving preserved: stateless stage between fused fits") {
    val df = train
    val stages = () => Seq(
      new ComplementLabelEncoder(Seq("k"), Seq("k_code")),
      new StringConcatenator(Seq(Seq("k", "k_code")), Seq("kk"), "_"),
      new FrequencyEncoder(Seq("kk"), Seq("kk_freq")))
    val fused = DFPipeline(stages(): _*).fit(df).transform(df)
    val seq = stages().foldLeft(df) {
      case (d, e: GraftEstimator[_]) => e.fit(d).transform(d)
      case (d, t: GraftTransformer) => t.transform(d)
    }
    sameFrames(fused, seq)
  }
}
