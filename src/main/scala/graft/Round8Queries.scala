package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 additions: scorecard statistics (WOE/IV, decision stump,
  * mSPRT), differential-privacy releases, grid geo joins (oracled by
  * BRUTE FORCE — the all-pairs SQL independently verifies the grid
  * candidate generation), readability, stupid-backoff LM scoring,
  * golden-record survivorship, and scale-free forecast accuracy.
  *
  * Determinism notes per query are on the oracle strings; the shared
  * rules: counts are exact integers, money/value quantizes to cents
  * before any sum, every libm call (ln/exp/sqrt/sin) happens after all
  * set-defining decisions and lands in a 6-dp-rounded output column.
  */
object Round8Queries {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Fit-once memo for the product quantizer shared by q_sim_pq and
    * q_sim_ivfpq (the langidProfile discipline): both fit the IDENTICAL
    * codebooks — same table, params, deterministic init — so re-fitting
    * per query re-paid m×iters corpus aggregates each time. The model
    * is bounded driver state (m·k·subDim doubles), keyed by (data dir,
    * mtime) via [[graft.util.FitMemo]] — bounded entries, staleness-safe,
    * fit cost reported in the bench artifact's fit_sec (ADVICE r8) — so
    * warmup and bench scales never cross; oracles are unaffected (the
    * replay SQL derives from the same parameters). */
  private val pqModelMemo =
    new graft.util.FitMemo[graft.sim.Pq.PqModel]("pq_model")
  private def pqModel(s: SparkSession, d: String): graft.sim.Pq.PqModel =
    pqModelMemo.getOrFit(d)(
      graft.sim.Pq.fit(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = PqDim, m = PqM, k = PqK, iters = PqIters))

  /** Binary label shared by the scorecard queries: order fell through. */
  private def ordersLabeled(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").withColumn("y",
      when(col("o_orderstatus") === "F", 1).otherwise(0))

  /** Deterministic synthetic coordinates in integer centidegrees —
    * same integer arithmetic on both engines. ~20°x40° region so the
    * sf0.01 point set has real neighbor structure. */
  private def synthCoords(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("lat", (col(keyCol) * 7919) % 2000 - 1000)
      .withColumn("lon", (col(keyCol) * 104729) % 4000 - 2000)

  private val coordSql: String => String = k =>
    s"($k * 7919) % 2000 - 1000 AS lat, ($k * 104729) % 4000 - 2000 AS lon"

  /** DuckDB replay of Privacy.laplace(uniform(tag,key), b): the
    * md5-uniform draw, endpoint clamp, and inverse CDF. */
  private def laplaceSql(tag: String, keyExpr: String, b: String): String = {
    val u = s"""(CAST(('0x' || substr(md5('$tag:' || $keyExpr), 1, 15))
      AS BIGINT) / 1152921504606846976.0)"""
    val c = s"least(greatest($u, 1e-18), 1.0 - 1e-15)"
    s"""(-($b) * (CASE WHEN ($c - 0.5) > 0 THEN 1.0
                       WHEN ($c - 0.5) < 0 THEN -1.0 ELSE 0.0 END)
        * ln(1.0 - 2.0 * abs($c - 0.5)))"""
  }

  /** DuckDB haversine over centidegree ints — mirrors Geo.haversineKm
    * term for term (rounded 6 dp at the use sites, never a predicate). */
  private def havSql(latA: String, lonA: String, latB: String,
      lonB: String): String =
    s"""(2 * 6371.0088 * asin(sqrt(
        power(sin((radians($latB / 100.0) - radians($latA / 100.0)) / 2), 2)
        + cos(radians($latA / 100.0)) * cos(radians($latB / 100.0))
          * power(sin((radians($lonB / 100.0) - radians($lonA / 100.0)) / 2),
                  2))))"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // weight-of-evidence table: order priority vs fell-through label
    "q_woe" -> ((s, d) =>
      graft.relational.Scorecard.woeTable(
        ordersLabeled(s, d), "o_orderpriority", "y")),

    // the encode: every order row carries its priority's WOE
    "q_woe_encode" -> ((s, d) =>
      graft.relational.Scorecard.woeEncode(
          ordersLabeled(s, d), "o_orderpriority", "y", "priority_woe")
        .select("o_orderkey", "o_orderpriority", "priority_woe")),

    // IV feature ranking: priority vs order month as predictors
    "q_iv" -> ((s, d) =>
      graft.relational.Scorecard.informationValue(
        ordersLabeled(s, d)
          .withColumn("o_month", month(col("o_orderdate")).cast("long")),
        Seq("o_orderpriority", "o_month"), "y")),

    // decision stumps over three lineitem features (price pre-binned to
    // $1000 steps — the bounded-threshold discipline for continuous cols)
    "q_best_split" -> ((s, d) =>
      graft.relational.Scorecard.bestSplits(
        t(s, d, "lineitem")
          .withColumn("y", when(col("l_returnflag") === "R", 1).otherwise(0))
          .withColumn("price_k", floor(col("l_extendedprice") / 1000)),
        Seq("l_quantity", "l_discount", "price_k"), "y")),

    // always-valid sequential test: is each event type's mean value 50?
    "q_msprt" -> ((s, d) =>
      graft.relational.Scorecard.msprt(
        t(s, d, "events")
          .withColumn("vc", floor(col("value") * 100).cast("long")),
        Seq("event_type"), "vc", tau = 100.0, theta0 = 5000.0)),

    // DP release: noisy order counts per priority (eps=1, tagged draw)
    "q_dp_counts" -> ((s, d) =>
      graft.relational.Privacy.dpCounts(
        t(s, d, "orders"), Seq("o_orderpriority"), 1.0, "r8")),

    // DP release: noisy revenue per priority, contributions clipped to
    // [0, 200k] (sensitivity = 200k/eps)
    "q_dp_sums" -> ((s, d) =>
      graft.relational.Privacy.dpSums(
        t(s, d, "orders"), Seq("o_orderpriority"), "o_totalprice",
        0.0, 200000.0, 1.0, "r8")),

    // grid distance self-join on synthetic customer coordinates; the
    // oracle brute-forces ALL pairs — an independent check that the
    // 3x3 neighbor equi-join finds exactly the true pair set
    "q_geo_join" -> ((s, d) =>
      graft.relational.Geo.distanceJoin(
        synthCoords(t(s, d, "customer").select(
          col("c_custkey").as("id")), "id"),
        "id", "lat", "lon", radiusCdeg = 100)),

    // grid DBSCAN over the same synthetic point set — brute-force +
    // recursive-CTE oracle replays cores, components, borders, noise
    "q_geo_clusters" -> ((s, d) =>
      graft.relational.Geo.densityClusters(
        synthCoords(t(s, d, "customer").select(
          col("c_custkey").as("id")), "id"),
        "id", "lat", "lon", radiusCdeg = 100, minPts = 4)),

    // nearest supplier site per customer within 4 degrees
    "q_geo_nearest" -> ((s, d) =>
      graft.relational.Geo.nearestSite(
        synthCoords(t(s, d, "customer").select(
          col("c_custkey").as("id")), "id"),
        synthCoords(t(s, d, "supplier").select(
          col("s_suppkey").as("sid")), "sid"),
        "id", "sid", "lat", "lon", radiusCdeg = 400)),

    // Flesch readability over the documents table (CJK docs have no
    // ASCII letter runs -> null metrics, kept to pin that contract)
    "q_readability" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.readability(col("text")).as("r"))
        .select("doc_id", "r.*")),

    // trigram stupid-backoff LM: train on the English slice, score all
    // docs (non-English text exercises every backoff level)
    "q_backoff_lm" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.Ranking.stupidBackoffScore(
        docs.filter(col("lang") === "en"), docs, "text", "doc_id")
    }),

    // golden record per user: modal event type, max value, latest props
    "q_golden_record" -> ((s, d) =>
      graft.relational.Relational.goldenRecord(
        t(s, d, "events"), Seq("user_id"), "ts",
        Seq(("event_type", graft.relational.Relational.ModeValue),
          ("value", graft.relational.Relational.MaxValue),
          ("props", graft.relational.Relational.LatestValue)))),

    // WOE as a PIPELINE stage through save -> load -> serve: one
    // encoder on each state kind (collected map + forced-distributed
    // relation), so green means the fitted WOE state survives
    // persistence on both paths
    "q_persist_woe" -> ((s, d) => {
      val df = ordersLabeled(s, d)
      val model = graft.operators.DFPipeline(
        new graft.operators.WoeEncoder(
          Seq("o_orderpriority"), Seq("priority_woe"), "y"),
        new graft.operators.WoeEncoder(
          Seq("o_orderstatus"), Seq("status_woe"), "y", maxCollect = 0))
        .fit(df)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_persist_woe").toString
      graft.operators.GraftPersistence.save(model, dir)
      graft.operators.GraftPersistence.load(s, dir).transform(df)
        .select("o_orderkey", "priority_woe", "status_woe")
    }),

    // forecast accuracy of the weekly-seasonal naive on daily event
    // value (series pre-quantized to integer cents — exact daily sums)
    "q_forecast_accuracy" -> ((s, d) =>
      graft.relational.Eval.forecastAccuracy(
        t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents")),
        Seq("event_type"), "day", "cents", season = 7, quantile = 0.9)),

    // weekly seasonal decomposition of the same daily series (trend =
    // centered 7-day MA; exact-integer detrend arithmetic)
    "q_decompose" -> ((s, d) =>
      graft.relational.Eval.decompose(
        t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents")),
        Seq("event_type"), "day", "cents", season = 7)),

    // which days broke the weekly pattern: MAD rule on the decomposed
    // residuals, per event type
    "q_seasonal_outliers" -> ((s, d) =>
      graft.relational.Eval.seasonalOutliers(
        t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents")),
        Seq("event_type"), "day", "cents", season = 7, k = 2.0)),

    // product quantization: fit m per-subspace codebooks, encode to m
    // codes per vector, rank by asymmetric distance — full replay oracle
    "q_sim_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = pqModel(s, d)
      graft.sim.Pq.topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < PqNq)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qvec")),
        "query_id", "qvec", PqTopN, model)
    }),

    // IVFADC at FULL probe: the cell pruning covers every cell, so the
    // result must equal plain PQ ADC over the whole corpus — the oracle
    // is literally the PQ replay, gating that the IVF path loses
    // nothing except by pruning
    "q_sim_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val model = pqModel(s, d)
      val ivf = graft.sim.IvfIndex.fit(emb, "vec_id", "embedding",
        nCentroids = 8)
      graft.sim.Pq.ivfAdcTopK(ivf, model,
        emb.filter(col("vec_id") < PqNq)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qvec")),
        "query_id", "qvec", PqTopN, nProbe = ivf.nCentroids)
    }),

    // TPC-DS q34/q73 family: ticket-size banding — orders whose item
    // count sits in a band, re-grouped per customer, repeat customers
    // only. Shape at 100 TB: the lineitem count and the orders join are
    // both keyed on l_orderkey/o_orderkey (co-partitioned, ONE shuffle
    // key end to end); customer joins broadcast; all-integer output
    "q_tpcds_tickets" -> ((s, d) => {
      val band = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
        .filter(col("n_items").between(5, 7))
      band
        .join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum("n_items").as("n_items_total"))
        .filter(col("n_orders") >= 2)
    })
  )

  private val PqDim = 64
  private val PqM = 4
  private val PqK = 4
  private val PqIters = 2
  private val PqNq = 8
  private val PqTopN = 5

  /** Generated PQ replay: per-subspace unrolled Lloyd's (the
    * kmeansSql pattern over vector SLICES), codeword assignment, and
    * the ADC ranking — all the exactness arguments live in
    * [[graft.sim.Pq]]/[[graft.sim.Cluster]]; both engines execute the
    * identical arithmetic, so codebooks, codes, and rankings replay
    * bit-for-bit. */
  private def pqSql(dim: Int, m: Int, k: Int, iters: Int, nQ: Int,
      topN: Int): String = {
    val sub = dim / m
    def xs(j: Int) = (0 until sub).map(i => s"x${j}_$i")
    def dist(j: Int, cj: Int, qual: String) = (0 until sub).map(i =>
      s"($qual${j}_$i - c${j}_${cj}_$i) * ($qual${j}_$i - c${j}_${cj}_$i)")
      .mkString(" + ")
    def assignCase(j: Int) = {
      val cases = (0 until k - 1).map { cj =>
        val conds = ((cj + 1) until k).map(l => s"d${j}_$cj <= d${j}_$l")
          .mkString(" AND ")
        s"WHEN $conds THEN $cj"
      }.mkString(" ")
      s"CASE $cases ELSE ${k - 1} END"
    }
    def dCols(j: Int, qual: String) =
      (0 until k).map(cj => s"${dist(j, cj, qual)} AS d${j}_$cj")
        .mkString(", ")
    val qCte =
      s"""q AS (SELECT vec_id AS id,
         ${(0 until m).flatMap(j => (0 until sub).map(i =>
        s"floor(embedding[${j * sub + i + 1}]::DOUBLE * 1048576.0)" +
          s" AS x${j}_$i")).mkString(", ")}
         FROM embeddings)"""
    val subCtes = (0 until m).map { j =>
      val cent0 =
        s"""cent0_$j AS (SELECT
           ${(0 until k).flatMap(cj => xs(j).zipWithIndex.map {
          case (x, i) => s"max(CASE WHEN rn = ${cj + 1} THEN $x END)" +
            s" AS c${j}_${cj}_$i" }).mkString(", ")}
           FROM (SELECT q.*, row_number() OVER (ORDER BY id) AS rn FROM q)
           WHERE rn <= $k)"""
      val iterCtes = (1 to iters).map { it =>
        val a =
          s"""a${it}_$j AS (SELECT id, ${xs(j).mkString(", ")},
             ${assignCase(j)} AS cl
             FROM (SELECT q.id, ${xs(j).mkString(", ")},
               ${dCols(j, "x")}
             FROM q CROSS JOIN cent${it - 1}_$j))"""
        val c =
          s"""cent${it}_$j AS (SELECT
             ${(0 until k).flatMap(cj => xs(j).zipWithIndex.map {
            case (x, i) =>
              s"coalesce(sum(CASE WHEN cl = $cj THEN $x END) / " +
                s"nullif(count(CASE WHEN cl = $cj THEN 1 END), 0), " +
                s"max(c${j}_${cj}_$i)) AS c${j}_${cj}_$i" })
            .mkString(", ")}
             FROM a${it}_$j CROSS JOIN cent${it - 1}_$j)"""
        s"$a, $c"
      }.mkString(", ")
      s"$cent0, $iterCtes"
    }.mkString(", ")
    val centJoin = (0 until m).map(j => s"cent${iters}_$j")
      .mkString(" CROSS JOIN ")
    val enc =
      s"""enc AS (SELECT id,
         ${(0 until m).map(j => s"${assignCase(j)} AS cl_$j")
        .mkString(", ")}
         FROM (SELECT q.*,
           ${(0 until m).map(j => dCols(j, "x")).mkString(", ")}
         FROM q CROSS JOIN $centJoin))"""
    val qv =
      s"""qv AS (SELECT id AS qid,
         ${(0 until m).flatMap(j => (0 until sub).map(i =>
        s"x${j}_$i AS qx${j}_$i")).mkString(", ")}
         FROM q WHERE id < $nQ)"""
    // ADC: the assigned codeword's distance to the QUERY subvector,
    // summed across subspaces in subspace order
    val adcTerm = (0 until m).map { j =>
      val cases = (0 until k).map(cj =>
        s"WHEN cl_$j = $cj THEN ${dist(j, cj, "qx")}").mkString(" ")
      s"(CASE $cases END)"
    }.mkString(" + ")
    s"""WITH $qCte, $subCtes, $enc, $qv
       SELECT qid AS query_id, id AS vec_id, adist,
         CAST(rank AS BIGINT) AS rank
       FROM (SELECT qv.qid, e.id, $adcTerm AS adist,
           row_number() OVER (PARTITION BY qv.qid
             ORDER BY $adcTerm, e.id) AS rank
         FROM enc e CROSS JOIN qv CROSS JOIN $centJoin)
       WHERE rank <= $topN"""
  }

  private val woeCte =
    """WITH c AS (
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pos
         FROM orders GROUP BY 1),
       t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS pt,
               CAST(sum(n - n_pos) AS BIGINT) AS nt FROM c),
       w AS (SELECT o_orderpriority, n, n_pos, n - n_pos AS n_neg,
               ln((((n - n_pos) + 0.5) / nt) / ((n_pos + 0.5) / pt))
                 AS raw_woe,
               (n - n_pos) / CAST(nt AS DOUBLE) -
                 n_pos / CAST(pt AS DOUBLE) AS share_gap
             FROM c, t)"""

  def oracleSql: Map[String, String] = Map(

    "q_woe" -> s"""$woeCte
       SELECT o_orderpriority, n, n_pos, n_neg,
         round(raw_woe, 6) AS woe,
         round(share_gap * raw_woe, 6) AS iv_term
       FROM w""",

    "q_woe_encode" -> s"""$woeCte
       SELECT o.o_orderkey, o.o_orderpriority,
         round(w.raw_woe, 6) AS priority_woe
       FROM orders o JOIN w USING (o_orderpriority)""",

    // same per-feature category stats, unioned; iv sums unrounded terms
    "q_iv" ->
      """WITH f AS (
           SELECT 'o_orderpriority' AS feature, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
           FROM orders
           UNION ALL
           SELECT 'o_month', CAST(CAST(month(o_orderdate) AS BIGINT)
             AS VARCHAR),
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
           FROM orders),
         c AS (SELECT feature, cat, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS p
               FROM f GROUP BY 1, 2),
         t AS (SELECT feature, CAST(sum(p) AS BIGINT) AS pt,
                 CAST(sum(n - p) AS BIGINT) AS nt
               FROM c GROUP BY 1)
         SELECT c.feature, CAST(count(*) AS BIGINT) AS n_categories,
           round(sum(((n - p) / CAST(nt AS DOUBLE) - p / CAST(pt AS DOUBLE))
             * ln((((n - p) + 0.5) / nt) / ((p + 0.5) / pt))), 6) AS iv
         FROM c JOIN t ON c.feature = t.feature
         GROUP BY 1""",

    // cumulative label sweep per feature; score is exact integer
    // arithmetic + single divisions, so the DESC ordering replays
    "q_best_split" ->
      """WITH f AS (
           SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
           FROM lineitem
           UNION ALL
           SELECT 'l_discount', CAST(l_discount AS DOUBLE),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
           FROM lineitem
           UNION ALL
           SELECT 'price_k', CAST(floor(l_extendedprice / 1000) AS DOUBLE),
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
           FROM lineitem),
         c AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS p
               FROM f GROUP BY 1, 2),
         s AS (SELECT feature, v,
                 CAST(sum(n) OVER (PARTITION BY feature ORDER BY v)
                   AS BIGINT) AS nl,
                 CAST(sum(p) OVER (PARTITION BY feature ORDER BY v)
                   AS BIGINT) AS pl,
                 CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
                 CAST(sum(p) OVER (PARTITION BY feature) AS BIGINT) AS pt
               FROM c),
         sc AS (SELECT *,
                  (pl * pl + (nl - pl) * (nl - pl)) / CAST(nl AS DOUBLE)
                  + ((pt - pl) * (pt - pl)
                     + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))
                    / CAST(nt - nl AS DOUBLE) AS score
                FROM s WHERE nl < nt),
         r AS (SELECT *, row_number() OVER (PARTITION BY feature
                 ORDER BY score DESC, v ASC) AS rk FROM sc)
         SELECT feature, v AS threshold, nl AS n_left, pl AS pos_left,
           nt - nl AS n_right, pt - pl AS pos_right,
           round((1.0 - (pt / CAST(nt AS DOUBLE)) * (pt / CAST(nt AS DOUBLE))
             - ((nt - pt) / CAST(nt AS DOUBLE))
               * ((nt - pt) / CAST(nt AS DOUBLE)))
             - (1.0 - score / CAST(nt AS DOUBLE)), 6) AS gain
         FROM r WHERE rk = 1""",

    // exact integer cent sums -> identical doubles into sqrt/exp,
    // rounded 6 dp
    "q_msprt" ->
      """WITH g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)
               * CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS ss
           FROM events GROUP BY 1),
         v AS (SELECT event_type, n,
                 s / CAST(n AS DOUBLE) AS mean,
                 (ss - s * (s / CAST(n AS DOUBLE)))
                   / (CAST(n AS DOUBLE) - 1) AS var
               FROM g WHERE n >= 2),
         l AS (SELECT event_type, n, mean, var,
                 sqrt(var / (var + CAST(n AS DOUBLE) * 10000.0))
                 * exp(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 10000.0
                     * (mean - 5000.0) * (mean - 5000.0)
                   / (2.0 * var * (var + CAST(n AS DOUBLE) * 10000.0)))
                   AS lambda
               FROM v WHERE var > 0)
         SELECT event_type, n, round(mean, 6) AS mean,
           round(var, 6) AS var, round(lambda, 6) AS lambda,
           round(least(1.0, 1.0 / lambda), 6) AS p_value
         FROM l""",

    "q_dp_counts" -> s"""
       SELECT o_orderpriority,
         round(count(*) + ${laplaceSql("r8", "o_orderpriority", "1.0")}, 6)
           AS n_noisy
       FROM orders GROUP BY 1""",

    "q_dp_sums" -> s"""
       SELECT o_orderpriority,
         round(CAST(sum(CAST(floor(least(greatest(o_totalprice, 0.0),
             200000.0) * 100) AS BIGINT)) AS BIGINT) / 100.0
           + ${laplaceSql("r8", "o_orderpriority", "200000.0")}, 6)
           AS sum_noisy
       FROM orders GROUP BY 1""",

    // BRUTE FORCE all-pairs — independently verifies the grid join's
    // candidate generation; membership is exact integer arithmetic
    "q_geo_join" -> s"""
       WITH p AS (SELECT c_custkey AS id, ${coordSql("c_custkey")}
                  FROM customer)
       SELECT a.id AS id_a, b.id AS id_b,
         (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon) AS dist_cdeg2,
         round(${havSql("a.lat", "a.lon", "b.lat", "b.lon")}, 6)
           AS haversine_km
       FROM p a JOIN p b ON a.id < b.id
       WHERE (a.lat - b.lat) * (a.lat - b.lat)
           + (a.lon - b.lon) * (a.lon - b.lon) <= 10000""",

    // brute-force neighbors + recursive transitive closure over core
    // edges; min-label components and min-label border assignment
    "q_geo_clusters" -> s"""
       WITH RECURSIVE p AS (SELECT c_custkey AS id,
           ${coordSql("c_custkey")} FROM customer),
         pr AS (
           SELECT a.id AS ia, b.id AS ib
           FROM p a JOIN p b ON a.id < b.id
           WHERE (a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon) <= 10000),
         dir AS (SELECT ia AS a, ib AS b FROM pr
                 UNION ALL SELECT ib, ia FROM pr),
         deg AS (SELECT p.id, count(dir.b) AS dg
                 FROM p LEFT JOIN dir ON p.id = dir.a GROUP BY 1),
         core AS (SELECT id FROM deg WHERE dg + 1 >= 4),
         ce AS (SELECT a, b FROM dir
                WHERE a IN (SELECT id FROM core)
                  AND b IN (SELECT id FROM core)),
         reach(a, b) AS (
           SELECT a, b FROM ce
           UNION
           SELECT ce.a, reach.b FROM ce JOIN reach ON ce.b = reach.a),
         clab AS (
           SELECT c.id,
             coalesce(least(c.id, r.mn), c.id) AS cluster
           FROM core c LEFT JOIN (SELECT a, min(b) AS mn FROM reach
                                  GROUP BY 1) r ON c.id = r.a),
         blab AS (
           SELECT dir.a AS id, min(clab.cluster) AS cluster
           FROM dir JOIN clab ON dir.b = clab.id
           WHERE dir.a NOT IN (SELECT id FROM core) GROUP BY 1)
       SELECT p.id,
         CASE WHEN clab.id IS NOT NULL THEN 'core'
              WHEN blab.id IS NOT NULL THEN 'border'
              ELSE 'noise' END AS role,
         coalesce(clab.cluster, blab.cluster) AS cluster
       FROM p
       LEFT JOIN clab ON p.id = clab.id
       LEFT JOIN blab ON p.id = blab.id""",

    "q_geo_nearest" -> s"""
       WITH p AS (SELECT c_custkey AS id, ${coordSql("c_custkey")}
                  FROM customer),
         st AS (SELECT s_suppkey AS sid, ${coordSql("s_suppkey")}
                FROM supplier),
         cand AS (
           SELECT p.id, st.sid,
             (p.lat - st.lat) * (p.lat - st.lat)
               + (p.lon - st.lon) * (p.lon - st.lon) AS d2,
             round(${havSql("p.lat", "p.lon", "st.lat", "st.lon")}, 6)
               AS hav
           FROM p, st
           WHERE (p.lat - st.lat) * (p.lat - st.lat)
               + (p.lon - st.lon) * (p.lon - st.lon) <= 160000),
         r AS (SELECT *, row_number() OVER (PARTITION BY id
                 ORDER BY d2, sid) AS rk FROM cand)
       SELECT id, sid AS site_id, d2 AS dist_cdeg2, hav AS haversine_km
       FROM r WHERE rk = 1""",

    // regex counting classes only — RE2 == Java on these patterns
    "q_readability" ->
      """WITH c AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
               AS BIGINT) AS n_words,
             greatest(CAST(1 AS BIGINT),
               CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
                 AS BIGINT)) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE)), 6) END AS flesch,
           CASE WHEN n_words > 0 THEN round(0.39
             * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             + 11.8 * (CAST(n_syllables AS DOUBLE)
                       / CAST(n_words AS DOUBLE))
             - 15.59, 6) END AS fk_grade
         FROM c""",

    // full replay: train-side n-gram counts from the English slice,
    // left-joined onto every doc's trigram stream, stupid-backoff CASE
    "q_backoff_lm" -> {
      val a1 = 0.4
      val a2 = 0.4 * 0.4 // exact Scala double, interpolated below
      s"""WITH tk AS (
           SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
           FROM documents),
         tg AS (
           SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
           FROM tk, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)),
         etk AS (SELECT ts FROM tk WHERE lang = 'en'),
         c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
                FROM (SELECT ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
                      FROM etk, LATERAL
                        (SELECT unnest(range(1, len(ts) - 1)) AS i))
                GROUP BY 1, 2, 3),
         c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
                FROM (SELECT ts[i] AS w1, ts[i+1] AS w2
                      FROM etk, LATERAL
                        (SELECT unnest(range(1, len(ts))) AS i))
                GROUP BY 1, 2),
         c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
                FROM (SELECT unnest(ts) AS w FROM etk) GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(ts) AS w FROM etk)),
         sc AS (
           SELECT tg.doc_id,
             CASE
               WHEN c3.c3 IS NOT NULL THEN c3.c3 / c2p.c2
               WHEN c2b.c2 IS NOT NULL THEN $a1 * c2b.c2 / c1b.c1
               WHEN c1w.c1 IS NOT NULL THEN $a2 * c1w.c1 / nt.n
               ELSE $a2 * 0.5 / nt.n
             END AS s
           FROM tg
           LEFT JOIN c3 ON tg.w1 = c3.w1 AND tg.w2 = c3.w2
             AND tg.w3 = c3.w3
           LEFT JOIN c2 c2p ON tg.w1 = c2p.w1 AND tg.w2 = c2p.w2
           LEFT JOIN c2 c2b ON tg.w2 = c2b.w1 AND tg.w3 = c2b.w2
           LEFT JOIN c1 c1b ON tg.w2 = c1b.w
           LEFT JOIN c1 c1w ON tg.w3 = c1w.w
           CROSS JOIN nt)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           round(avg(ln(s)), 6) AS avg_logscore
         FROM sc GROUP BY 1"""
    },

    // survivorship rules replayed as explicit orderings: mode = count
    // DESC then value ASC; latest = (ts, value) lexicographic max
    "q_golden_record" ->
      """WITH m AS (SELECT user_id, event_type, count(*) AS c
                    FROM events GROUP BY 1, 2),
         mr AS (SELECT user_id, event_type, row_number() OVER (
                  PARTITION BY user_id ORDER BY c DESC, event_type ASC)
                  AS rk FROM m),
         lat AS (SELECT user_id, props, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, props DESC)
                   AS rk FROM events),
         agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
                   max(value) AS value FROM events GROUP BY 1)
         SELECT a.user_id, a.n_rows, m.event_type, a.value, l.props
         FROM agg a
         JOIN mr m ON a.user_id = m.user_id AND m.rk = 1
         JOIN lat l ON a.user_id = l.user_id AND l.rk = 1""",

    // both encoders replay as the smoothed-WOE CTE on their own label
    // columns; status_woe's categories include the label's own source
    // (the degenerate-predictor case the smoothing keeps finite)
    "q_persist_woe" ->
      """WITH cp AS (
           SELECT o_orderpriority AS v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS p
           FROM orders GROUP BY 1),
         tp AS (SELECT CAST(sum(p) AS BIGINT) AS pt,
                  CAST(sum(n - p) AS BIGINT) AS nt FROM cp),
         wp AS (SELECT v, round(ln((((n - p) + 0.5) / nt)
                  / ((p + 0.5) / pt)), 6) AS w FROM cp, tp),
         cs AS (
           SELECT o_orderstatus AS v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS p
           FROM orders GROUP BY 1),
         ts AS (SELECT CAST(sum(p) AS BIGINT) AS pt,
                  CAST(sum(n - p) AS BIGINT) AS nt FROM cs),
         ws AS (SELECT v, round(ln((((n - p) + 0.5) / nt)
                  / ((p + 0.5) / pt)), 6) AS w FROM cs, ts)
         SELECT o.o_orderkey, wp.w AS priority_woe, ws.w AS status_woe
         FROM orders o
         JOIN wp ON o.o_orderpriority = wp.v
         JOIN ws ON o.o_orderstatus = ws.v""",

    // daily exact cent series -> lag-7 backtest; per-row terms exact
    // integers except smape's single division (averaged, 6 dp)
    "q_forecast_accuracy" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type,
                 CAST(floor(CAST(s AS DOUBLE) * 100) AS BIGINT) AS x,
                 lag(CAST(floor(CAST(s AS DOUBLE) * 100) AS BIGINT), 7)
                   OVER (PARTITION BY event_type ORDER BY day) AS f
               FROM d),
         e AS (SELECT event_type, x, f, x - f AS err,
                 abs(x) + abs(f) AS den
               FROM l WHERE f IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
           round(avg(CASE WHEN den > 0 THEN 2.0 * abs(err) / den
             ELSE 0.0 END), 6) AS smape,
           CASE WHEN sum(abs(x)) > 0 THEN
             round(CAST(sum(abs(err)) AS DOUBLE)
               / CAST(sum(abs(x)) AS DOUBLE), 6) END AS wmape,
           round(CAST(sum(CASE WHEN err > 0 THEN err * 900
               ELSE -err * 100 END) AS DOUBLE)
             / 1000.0 / 100.0 / CAST(count(*) AS BIGINT), 6) AS pinball
         FROM e GROUP BY 1""",

    // centered-MA decomposition replay: detrended values are exact
    // integers in season-ths of a cent, so every emitted double is an
    // integer through <= 2 single divisions
    "q_decompose" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT event_type, day, cents,
             CAST(floor(CAST(cents AS DOUBLE) * 100) AS BIGINT) AS x,
             CAST(sum(CAST(floor(CAST(cents AS DOUBLE) * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS BIGINT) AS ws,
             count(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
             (row_number() OVER (PARTITION BY event_type ORDER BY day)
               - 1) % 7 AS phase
           FROM d),
         b2 AS (
           SELECT *, CASE WHEN wn = 7 THEN x * 7 - ws END AS dd
           FROM b),
         s AS (
           SELECT event_type, phase,
             CAST(sum(dd) AS BIGINT) / CAST(count(dd) AS BIGINT) / 7
               AS seas
           FROM b2 WHERE dd IS NOT NULL GROUP BY 1, 2)
         SELECT b2.event_type, b2.day, b2.cents,
           CASE WHEN wn = 7
             THEN round(ws / 7 / 100.0, 6) END AS trend,
           CASE WHEN wn = 7 THEN round(seas / 100.0, 6) END AS seasonal,
           round((dd / 7.0 - seas) / 100.0, 6) AS residual
         FROM b2 LEFT JOIN s
           ON b2.event_type = s.event_type AND b2.phase = s.phase""",

    // decompose replay + low-median MAD rule; the flag cuts on the
    // deterministic 6-dp residuals, so it replays exactly
    "q_seasonal_outliers" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT event_type, day, cents,
             CAST(floor(CAST(cents AS DOUBLE) * 100) AS BIGINT) AS x,
             CAST(sum(CAST(floor(CAST(cents AS DOUBLE) * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS BIGINT) AS ws,
             count(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
             (row_number() OVER (PARTITION BY event_type ORDER BY day)
               - 1) % 7 AS phase
           FROM d),
         b2 AS (SELECT *, CASE WHEN wn = 7 THEN x * 7 - ws END AS dd
                FROM b),
         s AS (SELECT event_type, phase,
                 CAST(sum(dd) AS BIGINT) / CAST(count(dd) AS BIGINT) / 7
                   AS seas
               FROM b2 WHERE dd IS NOT NULL GROUP BY 1, 2),
         res AS (
           SELECT b2.event_type, b2.day, b2.cents,
             round((dd / 7.0 - seas) / 100.0, 6) AS residual
           FROM b2 JOIN s
             ON b2.event_type = s.event_type AND b2.phase = s.phase
           WHERE dd IS NOT NULL),
         r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY residual ASC) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM res),
         m1 AS (SELECT event_type AS e1, residual AS med FROM r1
                WHERE rn = greatest(1, CAST(ceil(n / 2.0) AS BIGINT))),
         dv AS (SELECT res.*, m1.med, abs(res.residual - m1.med) AS dev
                FROM res JOIN m1 ON res.event_type = m1.e1),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY dev ASC) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM dv),
         m2 AS (SELECT event_type AS e2, dev AS mad FROM r2
                WHERE rn = greatest(1, CAST(ceil(n / 2.0) AS BIGINT)))
         SELECT dv.event_type, dv.day, dv.cents, dv.residual,
           round(dv.med, 6) AS resid_median,
           round(m2.mad, 6) AS resid_mad,
           dv.dev > 2.0 * m2.mad AS is_outlier
         FROM dv JOIN m2 ON dv.event_type = m2.e2""",

    "q_sim_pq" -> pqSql(PqDim, PqM, PqK, PqIters, PqNq, PqTopN),

    // full probe == plain PQ over the whole corpus, so the replay
    // oracle is the same generated SQL
    "q_sim_ivfpq" -> pqSql(PqDim, PqM, PqK, PqIters, PqNq, PqTopN),

    // all-integer band + re-group; replay-exact
    "q_tpcds_tickets" ->
      """WITH band AS (
           SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1
           HAVING count(*) BETWEEN 5 AND 7)
         SELECT c.c_custkey, c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_items) AS BIGINT) AS n_items_total
         FROM band b
         JOIN orders o ON b.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2 HAVING count(*) >= 2"""
  )
}
