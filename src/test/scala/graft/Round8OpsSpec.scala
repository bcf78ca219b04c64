package graft

import org.apache.spark.sql.functions._

/** Round-8 operator suites: scorecard stats (WOE/IV, best split, mSPRT),
  * DP releases, grid distance joins, readability, stupid-backoff LM,
  * golden-record consolidation, forecast accuracy. */
class WoeSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Scorecard

  private val df = Seq(
    ("A", 0), ("A", 0), ("A", 1),
    ("B", 1), ("B", 1)).toDF("cat", "y")

  test("woeTable: hand-computed smoothed WOE and IV terms") {
    val m = Scorecard.woeTable(df, "cat", "y").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    // totals: pos=3, neg=2
    val (na, pa, ga, woeA, ivA) = m("A")
    assert(na == 3 && pa == 1 && ga == 2)
    val expWoeA = math.log(((2 + 0.5) / 2.0) / ((1 + 0.5) / 3.0))
    assert(math.abs(woeA - expWoeA) < 1e-6)
    assert(math.abs(ivA - (2 / 2.0 - 1 / 3.0) * expWoeA) < 1e-6)
    val (_, _, _, woeB, _) = m("B")
    val expWoeB = math.log(((0 + 0.5) / 2.0) / ((2 + 0.5) / 3.0))
    assert(math.abs(woeB - expWoeB) < 1e-6)
  }

  test("informationValue: IV == sum of unrounded terms; category count") {
    val r = Scorecard.informationValue(df, Seq("cat"), "y").collect()(0)
    assert(r.getString(0) == "cat" && r.getLong(1) == 2)
    val expA = (2 / 2.0 - 1 / 3.0) *
      math.log(((2 + 0.5) / 2.0) / ((1 + 0.5) / 3.0))
    val expB = (0 / 2.0 - 2 / 3.0) *
      math.log(((0 + 0.5) / 2.0) / ((2 + 0.5) / 3.0))
    assert(math.abs(r.getDouble(2) - (expA + expB)) < 1e-6)
  }

  test("woeEncode joins each row its category's WOE") {
    val enc = Scorecard.woeEncode(df, "cat", "y", "cat_woe")
    val table = Scorecard.woeTable(df, "cat", "y").collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    enc.collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("cat_woe")) ==
        table(r.getString(r.fieldIndex("cat"))))
    }
  }
}

class BestSplitSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Scorecard

  test("perfect split found with exact counts and gain") {
    val df = Seq((1.0, 0), (1.0, 0), (2.0, 1), (3.0, 1)).toDF("x", "y")
    val r = Scorecard.bestSplits(df, Seq("x"), "y").collect()(0)
    assert(r.getString(0) == "x")
    assert(r.getDouble(1) == 1.0)       // threshold
    assert(r.getLong(2) == 2 && r.getLong(3) == 0) // left: n=2, pos=0
    assert(r.getLong(4) == 2 && r.getLong(5) == 2) // right: n=2, pos=2
    assert(r.getDouble(6) == 0.5)       // parent gini 0.5 -> 0
  }

  test("score ties break to the smallest threshold") {
    // t=1 and t=2 both score (1+0)/1-style symmetric 2.0
    val df = Seq((1.0, 1), (2.0, 0), (3.0, 1)).toDF("x", "y")
    val r = Scorecard.bestSplits(df, Seq("x"), "y").collect()(0)
    assert(r.getDouble(1) == 1.0)
    assert(math.abs(r.getDouble(6) - (4.0 / 9 - 1.0 / 3)) < 1e-6)
  }

  test("multiple features rank independently; one row per feature") {
    val df = Seq((1.0, 9.0, 0), (2.0, 7.0, 1), (3.0, 5.0, 1))
      .toDF("a", "b", "y")
    val rows = Scorecard.bestSplits(df, Seq("a", "b"), "y").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }
}

class MsprtSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Scorecard

  test("hand-computed mixture likelihood and always-valid p") {
    val df = Seq(("g", 10L), ("g", 12L), ("g", 14L)).toDF("grp", "v")
    val r = Scorecard.msprt(df, Seq("grp"), "v", tau = 2.0, theta0 = 10.0)
      .collect()(0)
    assert(r.getLong(1) == 3)
    assert(r.getDouble(2) == 12.0) // mean
    assert(r.getDouble(3) == 4.0)  // ddof=1 variance
    val lam = math.sqrt(4.0 / (4.0 + 3 * 4.0)) *
      math.exp(9.0 * 4.0 * 4.0 / (2.0 * 4.0 * (4.0 + 3 * 4.0)))
    assert(math.abs(r.getDouble(4) - lam) < 1e-6)
    assert(math.abs(r.getDouble(5) - math.min(1.0, 1.0 / lam)) < 1e-6)
  }

  test("null-mean data gives p near 1; groups with n<2 or var=0 drop") {
    val df = Seq(("ok", 10L), ("ok", 10L), ("ok", 10L),
      ("single", 5L)).toDF("grp", "v")
    val rows = Scorecard.msprt(df, Seq("grp"), "v", 1.0, 10.0).collect()
    assert(rows.isEmpty) // ok has var=0, single has n=1
    val df2 = Seq.tabulate(20)(i => ("g", (if (i % 2 == 0) 9L else 11L)))
      .toDF("grp", "v")
    val p = Scorecard.msprt(df2, Seq("grp"), "v", 1.0, 10.0)
      .collect()(0).getDouble(5)
    assert(p > 0.5) // mean == theta0: no evidence
  }
}

class PrivacySpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Privacy

  private def md5Uniform(s: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) / math.pow(2, 60)
  }

  private def laplace(u: Double, b: Double): Double = {
    val c = math.min(math.max(u, 1e-18), 1.0 - 1e-15)
    val d = c - 0.5
    -b * math.signum(d) * math.log(1.0 - 2.0 * math.abs(d))
  }

  test("dpCounts: noise is the md5-uniform Laplace draw, exactly") {
    val df = Seq.fill(10)("a").union(Seq.fill(4)("b")).toDF("g")
    val got = Privacy.dpCounts(df, Seq("g"), epsilon = 1.0, tag = "t8")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def exp(g: String, n: Long) =
      BigDecimal(n + laplace(md5Uniform(s"t8:$g"), 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") == exp("a", 10))
    assert(got("b") == exp("b", 4))
  }

  test("same tag replays identical noise; a new tag is a new draw") {
    val df = Seq.fill(7)("x").toDF("g")
    val a1 = Privacy.dpCounts(df, Seq("g"), 0.5, "r1").collect()(0).getDouble(1)
    val a2 = Privacy.dpCounts(df, Seq("g"), 0.5, "r1").collect()(0).getDouble(1)
    val b = Privacy.dpCounts(df, Seq("g"), 0.5, "r2").collect()(0).getDouble(1)
    assert(a1 == a2)
    assert(a1 != b)
  }

  test("dpSums clips each contribution to [lo, hi] before summing") {
    val base = Seq(("g", 5.0), ("g", 8.0)).toDF("grp", "v")
    val spiked = Seq(("g", 5.0), ("g", 8.0), ("g", 1e6)).toDF("grp", "v")
    val clean = Privacy.dpSums(base, Seq("grp"), "v", 0.0, 10.0, 1.0, "s")
      .collect()(0).getDouble(1)
    val spike = Privacy.dpSums(spiked, Seq("grp"), "v", 0.0, 10.0, 1.0, "s")
      .collect()(0).getDouble(1)
    // same key, same tag -> identical noise; the outlier adds exactly
    // the clip ceiling, never its raw magnitude
    assert(math.abs((spike - clean) - 10.0) < 1e-9)
  }
}

class GeoSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Geo

  test("distanceJoin: exact integer membership, adjacent-cell pairs " +
      "found, each pair exactly once") {
    val pts = Seq((1L, 0L, 0L), (2L, 0L, 50L), (3L, 0L, 101L))
      .toDF("id", "lat", "lon")
    val rows = Geo.distanceJoin(pts, "id", "lat", "lon", 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // 1-2: 50^2 in range; 2-3: 51^2 in range (crosses cell 0|1);
    // 1-3: 101^2 out of range
    assert(rows.keySet == Set((1L, 2L), (2L, 3L)))
    assert(rows((1L, 2L)) == 2500L && rows((2L, 3L)) == 2601L)
  }

  test("haversine: one degree of latitude is ~111.19 km") {
    val pts = Seq((1L, 0L, 0L), (2L, 100L, 0L)).toDF("id", "lat", "lon")
    val km = Geo.distanceJoin(pts, "id", "lat", "lon", 150)
      .collect()(0).getDouble(3)
    assert(math.abs(km - 111.195) < 0.01, km)
  }

  test("nearestSite picks the min (dist, site) with deterministic ties") {
    val pts = Seq((10L, 0L, 29L), (11L, 0L, 30L)).toDF("id", "lat", "lon")
    val sites = Seq((1L, 0L, 0L), (2L, 0L, 60L)).toDF("sid", "lat", "lon")
    val m = Geo.nearestSite(pts, sites, "id", "sid", "lat", "lon", 40)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(m(10L) == ((1L, 841L)))  // 29^2 < 31^2
    assert(m(11L) == ((1L, 900L)))  // tie 900 == 900 -> smaller site id
  }
}

class ReadabilitySpec extends SparkSpec {
  import spark.implicits._
  import graft.text.TextFunctions

  test("hand-counted words/sentences/syllables and both formulas") {
    val df = Seq("The cat sat. The dog ran!").toDF("text")
      .select(TextFunctions.readability(col("text")).as("r"))
      .select("r.*")
    val r = df.collect()(0)
    assert(r.getLong(0) == 6)  // words
    assert(r.getLong(1) == 2)  // sentences
    assert(r.getLong(2) == 6)  // vowel groups
    val wps = 3.0; val spw = 1.0
    assert(math.abs(r.getDouble(3) -
      (206.835 - 1.015 * wps - 84.6 * spw)) < 1e-6)
    assert(math.abs(r.getDouble(4) -
      (0.39 * wps + 11.8 * spw - 15.59)) < 1e-6)
  }

  test("no words -> null metrics, sentence floor keeps division safe") {
    val r = Seq("123 456 !!!").toDF("text")
      .select(TextFunctions.readability(col("text")).as("r"))
      .select("r.*").collect()(0)
    assert(r.getLong(0) == 0)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("polysyllabic text scores harder than monosyllabic") {
    val df = Seq(
      (1L, "The cat sat on the mat. It was flat."),
      (2L, "Extraordinary communication necessitates unambiguous " +
        "articulation. Organizational infrastructure facilitates " +
        "internationalization."))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.readability(col("text")).as("r"))
    val m = df.collect().map(r => r.getLong(0) ->
      r.getStruct(1).getDouble(3)).toMap
    assert(m(1L) > 90)   // easy
    assert(m(2L) < 0)    // impenetrable
  }
}

class StupidBackoffSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.Ranking

  private val train = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
  // N = 6 train tokens; c3(a,b,c)=1; c2(a,b)=2, c2(b,c)=1; c1(b)=2, c1(c)=1

  private def score(text: String): (Long, Double) = {
    val df = Seq((9L, text)).toDF("doc_id", "text")
    val r = Ranking.stupidBackoffScore(train, df, "text", "doc_id")
      .collect()(0)
    (r.getLong(1), r.getDouble(2))
  }

  test("seen trigram scores c3/c2(prefix)") {
    val (n, s) = score("a b c")
    assert(n == 1)
    assert(math.abs(s - math.log(1.0 / 2.0)) < 1e-6)
  }

  test("unseen trigram backs off to alpha * bigram") {
    val (_, s) = score("x b c") // (x,b,c) unseen; (b,c) seen once; c1(b)=2
    assert(math.abs(s - math.log(0.4 * 1.0 / 2.0)) < 1e-6)
  }

  test("unseen bigram backs off to alpha^2 * unigram") {
    val (_, s) = score("x y c") // (y,c) unseen; c1(c)=1, N=6
    assert(math.abs(s - math.log(0.16 * 1.0 / 6.0)) < 1e-6)
  }

  test("unseen unigram hits the floor") {
    val (_, s) = score("x y z")
    assert(math.abs(s - math.log(0.16 * 0.5 / 6.0)) < 1e-6)
  }

  test("short docs are absent; multi-trigram docs average") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val rows = Ranking.stupidBackoffScore(train, df, "text", "doc_id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
    assert(rows(0).getLong(1) == 2) // (a,b,c) + (b,c,d)
  }
}

class GoldenRecordSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Relational
  import graft.relational.Relational.{LatestValue, MaxValue, ModeValue}

  test("per-field survivorship: mode, latest, max") {
    val df = Seq(
      (1L, 1L, "active", 5.0, "e1"),
      (1L, 2L, "closed", 3.0, "e2"),
      (1L, 3L, "active", 4.0, "e3"),
      (2L, 1L, "new", 1.0, "z1")).toDF("k", "ts", "status", "score", "email")
    val m = Relational.goldenRecord(df, Seq("k"), "ts",
        Seq(("status", ModeValue), ("score", MaxValue),
          ("email", LatestValue)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
      .toMap
    assert(m(1L) == ((3L, "active", 5.0, "e3")))
    assert(m(2L) == ((1L, "new", 1.0, "z1")))
  }

  test("mode ties break to the smallest value") {
    val df = Seq((1L, 1L, "b"), (1L, 2L, "a")).toDF("k", "ts", "v")
    val r = Relational.goldenRecord(df, Seq("k"), "ts",
      Seq(("v", ModeValue))).collect()(0)
    assert(r.getString(2) == "a")
  }

  test("plan: no window over the corpus") {
    val df = Seq((1L, 1L, "a", 2.0)).toDF("k", "ts", "v", "s")
    val p = Relational.goldenRecord(df, Seq("k"), "ts",
        Seq(("v", ModeValue), ("s", MaxValue)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(600))
  }
}

class ForecastAccuracySpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Eval

  test("hand-computed sMAPE, wMAPE and pinball on a lag-1 backtest") {
    val df = Seq(("s", 1L, 10.0), ("s", 2L, 20.0), ("s", 3L, 10.0))
      .toDF("series", "t", "v")
    val r = Eval.forecastAccuracy(df, Seq("series"), "t", "v",
      season = 1, quantile = 0.9).collect()(0)
    assert(r.getLong(1) == 2)
    assert(math.abs(r.getDouble(2) - 2.0 / 3) < 1e-6)  // smape
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-6)  // wmape
    // pinball: over-forecast 10 at q=.9 costs .1*10=1, under-forecast 10
    // costs .9*10=9 -> mean 5.0
    assert(r.getDouble(4) == 5.0)
  }

  test("seasonal lag defines the eval set; zero-zero smape term is 0") {
    val df = Seq(("s", 1L, 0.0), ("s", 2L, 0.0), ("s", 3L, 0.0))
      .toDF("series", "t", "v")
    val r = Eval.forecastAccuracy(df, Seq("series"), "t", "v", 1, 0.5)
      .collect()(0)
    assert(r.getDouble(2) == 0.0)
    assert(r.isNullAt(3)) // wmape undefined on zero mass
  }
}

class CmsStreamSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.Streaming
  import graft.relational.Sketches

  test("cmsStream == batch cmsSketch count-for-count across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1 to 200).map(i => Streaming.CmsEvent(s"g${i % 2}", s"k${i % 17}"))
    val batch2 = (1 to 150).map(i => Streaming.CmsEvent(s"g${i % 2}", s"k${i % 11}"))

    val mem = MemoryStream[Streaming.CmsEvent]
    val q = Streaming.cmsStream(mem.toDS(), d = 2, w = 32)
      .writeStream.outputMode("update").format("memory")
      .queryName("cms_s").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // update-mode sink appends per-batch snapshots; counts are monotone,
    // so max per (group, row, col) is the final state
    val streamed = spark.table("cms_s")
      .groupBy("group", "row_j", "col").agg(max("cnt").as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val batch = Sketches.cmsSketch(
      (batch1 ++ batch2).map(e => (e.group, e.key)).toDF("group", "key"),
      Seq("group"), "key", d = 2, w = 32)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(streamed == batch)
  }
}

/** Physical-plan pins for the round-8 operators: the SCALE.md shape
  * claims asserted against actual plans (the AnalyticsPlanSpec
  * discipline — a silent plan regression fails here, not in a bench
  * artifact a round later). */
class Round8PlanSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int = p.sliding(9).count(_ == "Exchange ")

  test("woeTable: one corpus shuffle, totals ride a broadcast cross " +
      "join, no window") {
    val df = Seq(("a", 1), ("b", 0)).toDF("cat", "y")
    val p = plan(graft.relational.Scorecard.woeTable(df, "cat", "y"))
    assert(!p.contains("Window"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("bestSplits: windows partition by feature, never a join, never " +
      "a global window") {
    val df = Seq((1.0, 2.0, 1), (2.0, 1.0, 0)).toDF("a", "b", "y")
    val p = plan(graft.relational.Scorecard.bestSplits(df, Seq("a", "b"), "y"))
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), p.take(800))
    // every window partitions by feature: no empty partition spec
    assert(!p.contains("windowspecdefinition(v"), p.take(800))
  }

  test("msprt and dpCounts are ONE map-side-combined aggregate each") {
    val df = Seq(("g", 1L), ("g", 2L), ("g", 5L)).toDF("grp", "v")
    val pm = plan(graft.relational.Scorecard.msprt(df, Seq("grp"), "v",
      1.0, 0.0))
    assert(exchanges(pm) == 1 && !pm.contains("Join") &&
      !pm.contains("Window"), pm.take(600))
    val pc = plan(graft.relational.Privacy.dpCounts(
      df.toDF("g", "v"), Seq("g"), 1.0, "t"))
    assert(exchanges(pc) == 1 && !pc.contains("Join") &&
      !pc.contains("Window"), pc.take(600))
  }

  test("geo distanceJoin is an EQUI join on cells: no cartesian, no " +
      "nested loop, no distinct pass") {
    val pts = Seq((1L, 0L, 0L), (2L, 5L, 5L)).toDF("id", "lat", "lon")
    val p = plan(graft.relational.Geo.distanceJoin(pts, "id", "lat",
      "lon", 100))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("HashAggregate(keys=[id_a"), p.take(800)) // no distinct
  }

  test("forecastAccuracy: one per-key window sort feeding one aggregate " +
      "— no join, one sort") {
    val df = Seq(("s", 1L, 1.0), ("s", 2L, 2.0)).toDF("k", "t", "v")
    val p = plan(graft.relational.Eval.forecastAccuracy(df, Seq("k"),
      "t", "v", 1, 0.5))
    assert(!p.contains("Join"), p.take(600))
    assert(p.sliding(6).count(_ == "Sort [") == 1, p.take(800))
  }

  test("stupidBackoffScore: every model join is an equi join — no " +
      "cartesian, no nested loop") {
    val train = Seq((1L, "a b c")).toDF("doc_id", "text")
    val df = Seq((2L, "a b d")).toDF("doc_id", "text")
    val p = plan(graft.text.Ranking.stupidBackoffScore(train, df,
      "text", "doc_id"))
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }
}

/** WOE as a pipeline stage: fit/transform parity with the table fn, the
  * driver-map/distributed dual path, save → load → serve, and online scoring. */
class WoeEncoderOpSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators._

  private val df = Seq(
    ("A", "x", 0), ("A", "y", 0), ("A", "x", 1),
    ("B", "y", 1), ("B", "x", 1)).toDF("cat", "cat2", "y")

  test("fit/transform equals Scorecard.woeEncode value for value; " +
      "unseen category serves the 0.0 no-information default") {
    val model = new WoeEncoder(Seq("cat", "cat2"),
      Seq("cat_woe", "cat2_woe"), "y").fit(df)
    val viaTable = graft.relational.Scorecard
      .woeEncode(df, "cat", "y", "w").collect()
      .map(r => r.getString(r.fieldIndex("cat")) ->
        r.getDouble(r.fieldIndex("w"))).toMap
    model.transform(df).collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("cat_woe")) ==
        viaTable(r.getString(r.fieldIndex("cat"))))
    }
    val unseen = model.transform(
      Seq(("Z", "x", 0)).toDF("cat", "cat2", "y")).collect()(0)
    assert(unseen.getDouble(unseen.fieldIndex("cat_woe")) == 0.0)
  }

  test("distributed forced path (maxCollect = 0) is value-identical to " +
      "the collected path") {
    val small = new WoeEncoder(Seq("cat"), Seq("w"), "y").fit(df)
    val big = new WoeEncoder(Seq("cat"), Seq("w"), "y",
      maxCollect = 0).fit(df)
    assert(big.states.head.isDistributed)
    val a = small.transform(df).select("cat", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val b = big.transform(df).select("cat", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(a == b)
  }

  test("save -> load -> serve round-trip (both state kinds) and online " +
      "scoring equal batch exactly") {
    val model = DFPipeline(
      new WoeEncoder(Seq("cat"), Seq("w"), "y"),
      new WoeEncoder(Seq("cat2"), Seq("w2"), "y", maxCollect = 0))
      .fit(df)
    val dir = java.nio.file.Files.createTempDirectory("woe_persist")
      .toString
    GraftPersistence.save(model, dir)
    val loaded = GraftPersistence.load(spark, dir)
    val expect = model.transform(df).select("cat", "cat2", "w", "w2")
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = loaded.transform(df).select("cat", "cat2", "w", "w2")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == expect.toSeq)

    // online path: driver map only (a distributed lookup is refused)
    val smallOnly = DFPipeline(new WoeEncoder(Seq("cat"), Seq("w"), "y"))
      .fit(df)
    val score = OnlineScorer.compile(smallOnly)
    val batch = smallOnly.transform(df).collect()
    df.collect().zip(batch).foreach { case (in, exp) =>
      val row: OnlineScorer.OnlineRow =
        df.columns.map(c => c -> in.getAs[Any](c)).toMap
      assert(score(row)("w") == exp.getAs[Any]("w"))
    }
  }
}

class DecomposeSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Eval

  test("hand-decomposed series: exact trend/seasonal/residual, null " +
      "boundary rows") {
    // values 0,3,0,3,0,3,0 at season 3: trend alternates 1,2; the
    // phase-0 rows (t4) detrend to +2, phases 1/2 average to 0
    val df = Seq(0.0, 3.0, 0.0, 3.0, 0.0, 3.0, 0.0).zipWithIndex
      .map { case (v, i) => ("s", (i + 1).toLong, v) }
      .toDF("k", "t", "v")
    val rows = Eval.decompose(df, Seq("k"), "t", "v", season = 3)
      .orderBy("t").collect()
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val trend = rows.map(d(_, 3)).toSeq
    val seasonal = rows.map(d(_, 4)).toSeq
    val residual = rows.map(d(_, 5)).toSeq
    assert(trend == Seq(None, Some(1.0), Some(2.0), Some(1.0), Some(2.0),
      Some(1.0), None))
    assert(seasonal == Seq(None, Some(0.0), Some(0.0), Some(2.0),
      Some(0.0), Some(0.0), None))
    assert(residual == Seq(None, Some(2.0), Some(-2.0), Some(0.0),
      Some(-2.0), Some(2.0), None))
  }

  test("pure trend decomposes to zero seasonal and residual everywhere") {
    val df = (1 to 9).map(i => ("s", i.toLong, i * 10.0)).toDF("k", "t", "v")
    val rows = Eval.decompose(df, Seq("k"), "t", "v", season = 3)
      .filter(col("trend").isNotNull).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0, r)
    }
  }

  test("short series (< season) emits all-null components, never fails") {
    val df = Seq(("s", 1L, 5.0), ("s", 2L, 6.0)).toDF("k", "t", "v")
    val rows = Eval.decompose(df, Seq("k"), "t", "v", season = 3).collect()
    assert(rows.length == 2)
    rows.foreach(r => assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("plan: one Sort carries all window frames; the seasonal join is " +
      "the only join") {
    val df = Seq(("s", 1L, 5.0)).toDF("k", "t", "v")
    val p = Eval.decompose(df, Seq("k"), "t", "v", 3)
      .queryExecution.executedPlan.toString
    assert(p.sliding(6).count(_ == "Sort [") <= 2, p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
  }
}

class GoldenRecordStreamSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.Streaming
  import graft.relational.Relational

  test("goldenRecordStream == batch goldenRecord field for field " +
      "across micro-batch boundaries, including tie rules") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(
      Streaming.GrEvent("u1", 10L, "view", 5.0, "p1"),
      Streaming.GrEvent("u1", 20L, "click", 9.0, "p2"),
      Streaming.GrEvent("u2", 5L, "view", 1.0, "z1"))
    val batch2 = Seq(
      Streaming.GrEvent("u1", 20L, "view", 2.0, "p9"), // ts tie: payload max
      Streaming.GrEvent("u1", 15L, "view", 7.0, "p0"), // out of order
      Streaming.GrEvent("u2", 5L, "click", 8.0, "z0")) // mode tie -> 'click'

    val mem = MemoryStream[Streaming.GrEvent]
    val q = Streaming.goldenRecordStream(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("gr_s").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // update mode appends per-batch snapshots; n_rows is monotone, so
    // the row with max n_rows per key is the final state
    val streamed = spark.table("gr_s")
      .groupBy("key")
      .agg(max_by(struct(col("n_rows"), col("cat"), col("value"),
        col("payload")), col("n_rows")).as("r"))
      .select("key", "r.n_rows", "r.cat", "r.value", "r.payload")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4))).toMap

    val batch = Relational.goldenRecord(
      (batch1 ++ batch2).map(e => (e.key, e.ts, e.cat, e.value, e.payload))
        .toDF("key", "ts", "cat", "value", "payload"),
      Seq("key"), "ts",
      Seq(("cat", Relational.ModeValue), ("value", Relational.MaxValue),
        ("payload", Relational.LatestValue)))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4))).toMap

    assert(streamed == batch)
  }
}

class SeasonalOutliersSpec extends SparkSpec {
  import spark.implicits._
  import graft.relational.Eval

  test("MAD rule on the decomposed residuals: exact medians, exact cut") {
    // residuals of the 0/3 alternating series at season 3 are
    // [2,-2,0,-2,2] (DecomposeSpec): low-median 0, MAD 2
    val df = Seq(0.0, 3.0, 0.0, 3.0, 0.0, 3.0, 0.0).zipWithIndex
      .map { case (v, i) => ("s", (i + 1).toLong, v) }
      .toDF("k", "t", "v")
    val rows = Eval.seasonalOutliers(df, Seq("k"), "t", "v",
        season = 3, k = 0.5).orderBy("t").collect()
    assert(rows.length == 5) // boundary rows dropped
    assert(rows.forall(r => r.getDouble(4) == 0.0)) // resid_median
    assert(rows.forall(r => r.getDouble(5) == 2.0)) // resid_mad
    // k=0.5: flag where dev > 1 -> every row except t4 (residual 0)
    val flags = rows.map(r => r.getLong(1) -> r.getBoolean(6)).toMap
    assert(flags == Map(2L -> true, 3L -> true, 4L -> false,
      5L -> true, 6L -> true))
  }

  test("a trend-only series flags nothing (all residuals zero)") {
    val df = (1 to 12).map(i => ("s", i.toLong, i * 2.0)).toDF("k", "t", "v")
    val rows = Eval.seasonalOutliers(df, Seq("k"), "t", "v", 3, 3.0)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.getBoolean(6)))
  }
}
