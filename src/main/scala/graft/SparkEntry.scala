package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2. Every query fits on the sfDir
  * tables and transforms the same tables, so the DuckDB oracle can be stated
  * as plain SQL over the same parquet. Double-valued outputs that pass
  * through an aggregate (mean/std/median) are rounded to 6 decimals on BOTH
  * sides so engine-order-dependent floating-point summation can't flip the
  * hash compare; outputs that are exact (counts, codes, plain arithmetic)
  * are left unrounded.
  */
object SparkEntry {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `rstrip('0').rstrip('.')` in SQL, for oracle parity with
    * StringConcatenator (StringConcatenator.py:64). */
  private val stripSql: String => String = c =>
    s"regexp_replace(regexp_replace($c, '0+$$', ''), '\\.+$$', '')"

  /** Flagship: SURVEY §7.3 fraud-style slice on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    classicQueries ++ DataQueries.queries ++ bigPathQueries ++
      Round6Queries.queries ++ TpchQueries.queries ++ EvalQueries.queries ++
      Round7Queries.queries ++ Round8Queries.queries ++
      Round9Queries.queries ++ Round10Queries.queries

  def oracleSql: Map[String, String] = {
    val base = classicOracleSql ++ DataQueries.oracleSql ++
      Round6Queries.oracleSql ++ TpchQueries.oracleSql ++
      EvalQueries.oracleSql ++ Round7Queries.oracleSql ++
      Round8Queries.oracleSql ++ Round9Queries.oracleSql ++
      Round10Queries.oracleSql
    // the 100-TB twins are semantically IDENTICAL to their small-path
    // twins — the oracle SQL is literally the twin's, because the whole
    // point is bit-identical output from the distributed branch
    base ++ Map(
      "q_le_big" -> base("q_le"),
      "q_freq_big" -> base("q_freq"),
      "q_target_big" -> base("q_target_encode"),
      "q_pctrank_binned" -> base("q_pctrank"),
      "q_pctrank_binned_grouped" -> base("q_pctrank_grouped"),
      "q_pctrank_cont" ->
        """WITH c AS (
             SELECT l_extendedprice AS v, count(*) AS n FROM lineitem
             GROUP BY 1),
           cum AS (
             SELECT v,
               coalesce(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0) AS below,
               sum(n) OVER () AS nn
             FROM c)
           SELECT l.l_orderkey, l.l_linenumber,
             cum.below / (cum.nn - 1.0) AS price_pr
           FROM lineitem l JOIN cum ON l.l_extendedprice = cum.v""",
      "q_components_distributed" -> base("q_dup_components"))
  }

  /** 100-TB path twins (VERDICT r5 #1): same semantics as the small-path
    * twins, with thresholds forced down so the DISTRIBUTED branch — the
    * branch a 1000-executor job actually takes — runs under the DuckDB
    * oracle: distributed FittedLookup relation joins instead of
    * collected literal maps, the binned percentileRank instead of the
    * broadcast window, and distributed min-label components instead of
    * driver union-find. A green row here means the big branch is
    * bit-identical to the collected one. */
  private def bigPathQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_le_big" -> ((s, d) => {
      val df = t(s, d, "customer")
      new ComplementLabelEncoder(Seq("c_mktsegment"), Seq("seg_code"),
        maxCollect = 2)
        .fit(df).transform(df)
        .select("c_custkey", "seg_code")
    }),

    "q_freq_big" -> ((s, d) => {
      val df = t(s, d, "customer")
      new FrequencyEncoder(Seq("c_mktsegment"), Seq("seg_freq"),
        maxCollect = 2)
        .fit(df).transform(df)
        .select("c_custkey", "seg_freq")
    }),

    "q_target_big" -> ((s, d) => {
      val df = t(s, d, "customer")
      val model = new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
        targetCol = "c_acctbal", idCol = "c_custkey",
        nFolds = 4, smoothing = 10.0, maxCollect = 2).fit(df)
      model.transformTrain(df)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("seg_te"), 6).as("seg_te"))
    }),

    // threshold 0: even l_quantity's ~50 distinct values take the binned
    // path (degenerate case — more macro edges than distinct values, so
    // duplicate quantile edges leave most bins empty; exactness must hold)
    "q_pctrank_binned" -> ((s, d) =>
      graft.relational.Relational.percentileRank(t(s, d, "lineitem"),
        "l_quantity", "qty_pr", maxDistinctBroadcast = 0)
        .select("l_orderkey", "l_linenumber", "qty_pr")),

    "q_pctrank_binned_grouped" -> ((s, d) =>
      graft.relational.Relational.percentileRank(t(s, d, "lineitem"),
        "l_quantity", "qty_pr", Seq("l_returnflag"),
        maxDistinctBroadcast = 0)
        .select("l_orderkey", "l_linenumber", "qty_pr")),

    // the realistic continuous case: l_extendedprice distinct ≈ N, so the
    // per-bin windows actually hold runs of values (the within-bin
    // cumulative is exercised, not just the cross-bin offsets)
    "q_pctrank_cont" -> ((s, d) =>
      graft.relational.Relational.percentileRank(t(s, d, "lineitem"),
        "l_extendedprice", "price_pr", maxDistinctBroadcast = 100)
        .select("l_orderkey", "l_linenumber", "price_pr")),

    // maxCollect = 0: the verified pair list (a few hundred pairs at this
    // SF) is forced through symmetrize + distinct + iterative min-label
    // propagation — the path a corpus-scale duplicate graph takes
    "q_components_distributed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cand = graft.text.Dedup.minHashLSH(docs, "text", "doc_id",
        maxBucket = 1000000, withEstimate = false)
      val pairs = graft.text.Dedup.verifyJaccard(cand, docs,
        "text", "doc_id", shingleK = 3, threshold = 0.8,
        restrictToCandidates = true)
      graft.text.Dedup.duplicateComponents(pairs.select("id_a", "id_b"),
          maxCollect = 0)
        .select(col("id_a").as("doc_id"), col("component"))
    })
  )

  private def classicQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- stateless operators -------------------------------------------
    "q_select" -> ((s, d) =>
      new ColumnSelector(Seq("c_custkey", "c_name", "c_acctbal"))
        .transform(t(s, d, "customer"))),

    "q_typeconv" -> ((s, d) => {
      val out = new TypeConverter(Seq("l_quantity"), IntegerType)
        .transform(t(s, d, "lineitem"))
      out.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    "q_rowfilter" -> ((s, d) =>
      new RowTransformer(Seq("o_orderstatus"), Seq("P"))
        .transform(t(s, d, "orders"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")),

    "q_map" -> ((s, d) =>
      new MapTransformer(Seq("c_mktsegment"), Seq("seg"),
        Seq(("BUILDING", "B"), ("AUTOMOBILE", "A")),
        defaultValue = Some("other"))
        .transform(t(s, d, "customer"))
        .select("c_custkey", "seg")),

    "q_map_regex" -> ((s, d) =>
      new MapTransformer(Seq("p_type"), Seq("ptype_n"),
        Seq(("BRUSHED.*", "BRUSHED"), ("POLISHED.*", "POLISHED")),
        regex = true)
        .transform(t(s, d, "part"))
        .select("p_partkey", "ptype_n")),

    "q_strsplit" -> ((s, d) => {
      val a = new StringSplitter(Seq("p_type"), Seq("type_first"),
        separator = Some(" "), keep = 0)
      val b = new StringSplitter(Seq("p_type"), Seq("type_last"),
        separator = Some(" "), keep = -1)
      val c = new StringSplitter(Seq("p_brand"), Seq("brand_pfx"),
        index = Some(5), keep = 0)
      val e = new StringSplitter(Seq("p_brand"), Seq("brand_sfx"),
        index = Some(6), keep = -1)
      e.transform(c.transform(b.transform(a.transform(t(s, d, "part")))))
        .select("p_partkey", "type_first", "type_last", "brand_pfx", "brand_sfx")
    }),

    "q_strconcat" -> ((s, d) =>
      new StringConcatenator(Seq(Seq("c_mktsegment", "c_nationkey")),
        Seq("ckey"), "_")
        .transform(t(s, d, "customer"))
        .select("c_custkey", "ckey")),

    "q_date" -> ((s, d) =>
      new DateTransformer("o_orderdate")
        .transform(t(s, d, "orders"))
        .select(col("o_orderkey"), col("o_orderdate_MY"), col("o_orderdate_WY"),
          col("o_orderdate_DY"), col("o_orderdate_DM"), col("o_orderdate_DW"),
          col("o_orderdate_HD"))),

    "q_function" -> ((s, d) =>
      new FunctionTransformer(
        Seq(Seq("l_extendedprice"), Seq("l_extendedprice", "l_quantity")),
        Seq("amt_per_day", "amt_less_qty"),
        cs => if (cs.length == 1) cs.head / lit(86400.0)
              else cs(0) - cs(1))
        .transform(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "amt_per_day", "amt_less_qty")),

    // ---- transform-time-statistics operators ---------------------------
    "q_impute_mean" -> ((s, d) => {
      val df = t(s, d, "lineitem")
        .withColumn("disc_n", when(col("l_discount") === 0.0, lit(null))
          .otherwise(col("l_discount")))
      new Imputer(Seq("disc_n"), Seq("disc_filled"), Some("mean"))
        .transform(df)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("disc_filled"), 6).as("disc_filled"))
    }),

    "q_impute_median" -> ((s, d) => {
      val df = t(s, d, "lineitem")
        .withColumn("tax_n", when(col("l_tax") === 0.0, lit(null))
          .otherwise(col("l_tax")))
      new Imputer(Seq("tax_n"), Seq("tax_filled"), Some("median"))
        .transform(df)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("tax_filled"), 6).as("tax_filled"))
    }),

    "q_impute_const" -> ((s, d) => {
      val df = t(s, d, "lineitem")
        .withColumn("disc_n", when(col("l_discount") === 0.0, lit(null))
          .otherwise(col("l_discount")))
      new Imputer(Seq("disc_n"), Seq("disc_filled"), None, -1.0)
        .transform(df)
        .select("l_orderkey", "l_linenumber", "disc_filled")
    }),

    "q_minority" -> ((s, d) =>
      new MinorityTransformer(Seq("p_type"), Seq("type_common"), 400, "rare")
        .transform(t(s, d, "part"))
        .select("p_partkey", "type_common")),

    "q_range" -> ((s, d) =>
      new RangeTransformer(Seq("l_quantity"), Seq("qty_norm"), Seq(
        ((None, Some(40.0)), -1.0),          // x >= 40 → -1
        ((Some(10.0), None), 0.0),           // x <= 10 → 0
        ((Some(35.0), Some(20.0)), "mean"))) // 20 ≤ x ≤ 35 → mean(matched)
        .transform(t(s, d, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("qty_norm"), 6).as("qty_norm"))),

    "q_setop" -> ((s, d) =>
      new SetTransformer(Left("c_mktsegment"),
        Right(Seq("BUILDING", "MACHINERY", "NOPE")), "*")
        .resultDF(t(s, d, "customer"))),

    // the reference's padded positional output column
    // (SetTransformer.py:84-89), made deterministic by orderCol
    "q_setop_padded" -> ((s, d) =>
      new SetTransformer(Left("c_mktsegment"),
        Right(Seq("BUILDING", "MACHINERY", "NOPE")), "*",
        outputFunc = None, outputOperand = Some("set_out"),
        orderCol = Some("c_custkey"))
        .transform(t(s, d, "customer").select("c_custkey", "c_mktsegment"))
        .select("c_custkey", "c_mktsegment", "set_out")),

    // ---- fitted operators ----------------------------------------------
    "q_le" -> ((s, d) => {
      val df = t(s, d, "customer")
      new ComplementLabelEncoder(Seq("c_mktsegment"), Seq("seg_code"))
        .fit(df).transform(df)
        .select("c_custkey", "seg_code")
    }),

    "q_freq" -> ((s, d) => {
      val df = t(s, d, "customer")
      new FrequencyEncoder(Seq("c_mktsegment"), Seq("seg_freq"))
        .fit(df).transform(df)
        .select("c_custkey", "seg_freq")
    }),

    "q_freq_norm" -> ((s, d) => {
      val df = t(s, d, "customer")
      new FrequencyEncoder(Seq("c_mktsegment"), Seq("seg_freq"), normalize = true)
        .fit(df).transform(df)
        .select("c_custkey", "seg_freq")
    }),

    // hashing-trick encoder: fixed-width md5 buckets, no fitted state
    "q_hash_encode" -> ((s, d) =>
      new HashingEncoder(Seq("c_mktsegment", "c_name"),
        Seq("seg_bucket", "name_bucket"), 64)
        .transform(t(s, d, "customer"))
        .select("c_custkey", "seg_bucket", "name_bucket")),

    // out-of-fold smoothed target encoding (md5 folds — the oracle
    // replays fold membership and the leave-own-fold-out arithmetic)
    "q_target_encode" -> ((s, d) => {
      val df = t(s, d, "customer")
      val model = new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
        targetCol = "c_acctbal", idCol = "c_custkey",
        nFolds = 4, smoothing = 10.0).fit(df)
      model.transformTrain(df)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("seg_te"), 6).as("seg_te"))
    }),

    "q_agg_global" -> ((s, d) => {
      val df = t(s, d, "lineitem")
      val m = DFPipeline(
        new Aggregator(Seq("l_extendedprice"), Seq("price_mean"), Nil, "mean"),
        new Aggregator(Seq("l_extendedprice"), Seq("price_std"), Nil, "std"))
        .fit(df)
      m.transform(df).select(col("l_orderkey"), col("l_linenumber"),
        round(col("price_mean"), 6).as("price_mean"),
        round(col("price_std"), 6).as("price_std"))
    }),

    "q_agg_grouped" -> ((s, d) => {
      val df = t(s, d, "orders")
      new Aggregator(Seq("o_totalprice"), Seq("cust_avg_price"),
        Seq("o_custkey"), "mean")
        .fit(df).transform(df)
        .select(col("o_orderkey"),
          round(col("cust_avg_price"), 6).as("cust_avg_price"))
    }),

    "q_scaler_minmax" -> ((s, d) => {
      val df = t(s, d, "customer")
      new Scaler(Seq("c_acctbal"), Seq("bal_mm"), "minmax")
        .fit(df).transform(df)
        .select(col("c_custkey"), round(col("bal_mm"), 6).as("bal_mm"))
    }),

    "q_scaler_standard" -> ((s, d) => {
      val df = t(s, d, "customer")
      new Scaler(Seq("c_acctbal"), Seq("bal_std"), "standard")
        .fit(df).transform(df)
        .select(col("c_custkey"), round(col("bal_std"), 6).as("bal_std"))
    }),

    "q_scaler_min" -> ((s, d) => {
      val df = t(s, d, "customer")
      new Scaler(Seq("c_acctbal"), Seq("bal_min"), "min")
        .fit(df).transform(df)
        .select("c_custkey", "bal_min")
    }),

    // robust scaling: (x - median) / IQR, exact quartiles (ExactStats)
    "q_scaler_robust" -> ((s, d) => {
      val df = t(s, d, "customer")
      new Scaler(Seq("c_acctbal"), Seq("bal_rob"), "robust")
        .fit(df).transform(df)
        .select(col("c_custkey"), round(col("bal_rob"), 6).as("bal_rob"))
    }),

    "q_onehot" -> ((s, d) => {
      val df = t(s, d, "customer")
      new OneHotEncoder(Seq("c_mktsegment")).fit(df).transform(df)
        .drop("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    "q_wrap" -> ((s, d) => {
      val df = t(s, d, "supplier")
      val model = DFPipeline(
        WrapTransformer(Seq("s_acctbal"), Seq("bal_scaled"),
          () => new org.apache.spark.ml.feature.StandardScaler()
            .setWithMean(true)),
        // tuple entry: ONE minmax stage fitted over both columns
        // (WrapTransform.py:72-75)
        WrapTransformer.tuples(
          Seq(Seq("s_acctbal", "s_nationkey")), Seq(Seq("bal_mm", "nat_mm")),
          () => new org.apache.spark.ml.feature.MinMaxScaler()))
        .fit(df)
      model.transform(df)
        .select(col("s_suppkey"), round(col("bal_scaled"), 6).as("bal_scaled"),
          round(col("bal_mm"), 6).as("bal_mm"),
          round(col("nat_mm"), 6).as("nat_mm"))
    }),

    // ---- benchmark-shaped composite pipelines (FIXTURES.md) ------------
    // insurance-style: DateTransformer → bulk ComplementLabelEncoder →
    // ColumnSelector (Insurance1.py:69-74 shape)
    "q_pipeline_insurance" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val model = DFPipeline(
        new DateTransformer("o_orderdate"),
        new ComplementLabelEncoder(
          Seq("o_orderpriority", "o_orderstatus"),
          Seq("priority_code", "status_code")),
        new ColumnSelector(Seq("o_orderdate", "o_custkey", "o_totalprice",
          "o_orderpriority", "o_orderstatus"), drop = true))
        .fit(orders)
      model.transform(orders)
    }),

    // mental-health-style: RowTransformer → transform-time median Imputer →
    // MapTransformer → ComplementLabelEncoder → minmax Scaler
    // (MentalHealth1.py:114-203 shape)
    "q_pipeline_mental" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("disc_n", when(col("l_discount") === 0.0, lit(null))
          .otherwise(col("l_discount")))
      val filtered = new RowTransformer(Seq("l_linestatus"), Seq("O"))
        .transform(li)
      val model = DFPipeline(
        new Imputer(Seq("disc_n"), Seq("disc_n"), Some("median")),
        new MapTransformer(Seq("l_returnflag"), Seq("flag"),
          Seq(("A", "ACC"), ("N", "NONE"), ("R", "RET"))),
        new ComplementLabelEncoder(Seq("flag"), Seq("flag_code")),
        new Scaler(Seq("l_extendedprice"), Seq("price_mm"), "minmax"))
        .fit(filtered)
      model.transform(filtered)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("disc_n"), 6).as("disc_n"),
          col("flag"), col("flag_code"),
          round(col("price_mm"), 6).as("price_mm"))
    }),

    // categorical-encoding-style: StringSplitter (index + separator modes) →
    // TypeConverter → FunctionTransformer → standard Scaler → OneHotEncoder
    // (CategoricalEncoding1.py:64-86 shape)
    "q_pipeline_catenc" -> ((s, d) => {
      val part = t(s, d, "part")
      val model = DFPipeline(
        new StringSplitter(Seq("p_brand"), Seq("brand_num"),
          index = Some(6), keep = -1),
        new TypeConverter(Seq("brand_num"), IntegerType),
        FunctionTransformer.fromOp(Seq(Seq("brand_num")), Seq("brand_num"),
          Op.in(0) - Op.lit(1)),
        new StringSplitter(Seq("p_type"), Seq("type_head"),
          separator = Some(" "), keep = 0),
        new Scaler(Seq("p_retailprice"), Seq("retail_std"), "standard"),
        new OneHotEncoder(Seq("type_head")))
        .fit(part)
      model.transform(part)
        .drop("p_name", "p_brand", "p_type", "p_size", "p_retailprice",
          "type_head")
        .withColumn("retail_std", round(col("retail_std"), 6))
    }),

    // ---- persistence: save → load → serve (SURVEY §3.2) ----------------
    // The reloaded pipeline (not the fitted one) produces the output, so
    // CORRECTNESS green means the op-tree JSON round trip is faithful.
    // fitted-encoder persistence round trip: the RELOADED target +
    // hashing encoders serve the output (full smoothed means; stateless
    // md5 buckets), so green means the fitted-state JSON survives
    "q_persist_target" -> ((s, d) => {
      val df = t(s, d, "customer")
      val model = DFPipeline(
        new TargetEncoder(Seq("c_mktsegment"), Seq("seg_te"),
          targetCol = "c_acctbal", idCol = "c_custkey",
          nFolds = 4, smoothing = 10.0),
        new HashingEncoder(Seq("c_mktsegment"), Seq("seg_hash"), 32))
        .fit(df)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_persist_te").toString
      GraftPersistence.save(model, dir)
      GraftPersistence.load(s, dir).transform(df)
        .select(col("c_custkey"), round(col("seg_te"), 6).as("seg_te"),
          col("seg_hash"))
    }),

    "q_persist_function" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val model = DFPipeline(
        FunctionTransformer.fromOp(
          Seq(Seq("l_quantity", "l_extendedprice")), Seq("qty_score"),
          Op.when(Op.in(0) > Op.lit(30.0), Op.lit(30.0))
            .otherwise(Op.sqrt(Op.in(0) * Op.in(1)))),
        new SetTransformer(Left("l_returnflag"), Right(Seq("A", "R")), "*"),
        new Scaler(Seq("l_tax"), Seq("tax_mm"), "minmax"))
        .fit(li)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_persist_q").toString
      GraftPersistence.save(model, dir)
      GraftPersistence.load(s, dir).transform(li)
        .select(col("l_orderkey"), col("l_linenumber"), col("qty_score"),
          round(col("tax_mm"), 6).as("tax_mm"))
    }),

    // ---- flagship pipeline (SURVEY §7.3) -------------------------------
    "q_pipeline" -> ((s, d) => {
      val customer = t(s, d, "customer")
      val orders = t(s, d, "orders")
      // persisted: three estimator fits + the final transform each scan the
      // training frame; caching it turns 4 scan+join passes into 1
      val joined = orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("c_mktsegment"), col("c_nationkey"))
        .persist()
      val model = DFPipeline(
        new StringConcatenator(Seq(Seq("c_mktsegment", "c_nationkey")),
          Seq("ckey"), "_"),
        new ComplementLabelEncoder(Seq("ckey"), Seq("ckey_code")),
        new FrequencyEncoder(Seq("ckey"), Seq("ckey_freq"), normalize = true),
        new Aggregator(Seq("o_totalprice"), Seq("cust_price_mean"),
          Seq("ckey"), "mean"))
        .fit(joined)
      model.transform(joined)
        .select(col("o_orderkey"), col("ckey"), col("ckey_code"),
          col("ckey_freq"),
          round(col("cust_price_mean"), 6).as("cust_price_mean"))
    })
  )

  private def classicOracleSql: Map[String, String] = {
    val stripSeg = stripSql("c_mktsegment")
    val stripNat = stripSql("CAST(c_nationkey AS VARCHAR)")
    Map(
      "q_select" ->
        "SELECT c_custkey, c_name, c_acctbal FROM customer",

      "q_typeconv" ->
        """SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER) AS l_quantity FROM lineitem""",

      "q_rowfilter" ->
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('P')""",

      "q_map" ->
        """SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 'B'
                WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A'
                ELSE 'other' END AS seg
           FROM customer""",

      "q_map_regex" ->
        """SELECT p_partkey,
           regexp_replace(regexp_replace(p_type, 'BRUSHED.*', 'BRUSHED', 'g'),
                          'POLISHED.*', 'POLISHED', 'g') AS ptype_n
           FROM part""",

      "q_strsplit" ->
        """SELECT p_partkey,
           split_part(p_type, ' ', 1) AS type_first,
           list_extract(string_split(p_type, ' '), -1) AS type_last,
           substring(p_brand, 1, 5) AS brand_pfx,
           substring(p_brand, 7) AS brand_sfx
           FROM part""",

      "q_strconcat" ->
        s"""SELECT c_custkey, concat($stripSeg, '_', $stripNat) AS ckey
            FROM customer""",

      "q_date" ->
        """SELECT o_orderkey,
           month(o_orderdate) AS "o_orderdate_MY",
           weekofyear(o_orderdate) AS "o_orderdate_WY",
           dayofyear(o_orderdate) AS "o_orderdate_DY",
           day(o_orderdate) AS "o_orderdate_DM",
           isodow(o_orderdate) - 1 AS "o_orderdate_DW",
           hour(o_orderdate) AS "o_orderdate_HD"
           FROM orders""",

      "q_function" ->
        """SELECT l_orderkey, l_linenumber,
           l_extendedprice / 86400.0 AS amt_per_day,
           l_extendedprice - l_quantity AS amt_less_qty
           FROM lineitem""",

      "q_impute_mean" ->
        """SELECT l_orderkey, l_linenumber,
           round(coalesce(nullif(l_discount, 0.0),
             (SELECT avg(nullif(l_discount, 0.0)) FROM lineitem)), 6)
             AS disc_filled
           FROM lineitem""",

      "q_impute_median" ->
        """SELECT l_orderkey, l_linenumber,
           round(coalesce(nullif(l_tax, 0.0),
             (SELECT median(nullif(l_tax, 0.0)) FROM lineitem)), 6)
             AS tax_filled
           FROM lineitem""",

      "q_impute_const" ->
        """SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_filled
           FROM lineitem""",

      "q_minority" ->
        """SELECT p_partkey,
           CASE WHEN cnt >= 400 THEN p_type ELSE 'rare' END AS type_common
           FROM (SELECT p_partkey, p_type,
                 count(*) OVER (PARTITION BY p_type) AS cnt FROM part)""",

      "q_range" ->
        """SELECT l_orderkey, l_linenumber,
           round(CASE
             WHEN l_quantity >= 20 AND l_quantity <= 35 THEN
               (SELECT avg(l_quantity) FROM lineitem
                WHERE l_quantity >= 20 AND l_quantity <= 35)
             WHEN l_quantity <= 10 THEN 0.0
             WHEN l_quantity >= 40 THEN -1.0
             ELSE l_quantity END, 6) AS qty_norm
           FROM lineitem""",

      "q_setop" ->
        """SELECT DISTINCT c_mktsegment AS value FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'NOPE')""",

      "q_setop_padded" ->
        """WITH res AS (
             SELECT value, row_number() OVER (ORDER BY value) - 1 AS idx
             FROM (SELECT DISTINCT c_mktsegment AS value FROM customer
                   WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'NOPE'))),
           rws AS (
             SELECT c_custkey, c_mktsegment,
               row_number() OVER (ORDER BY c_custkey) - 1 AS idx
             FROM customer)
           SELECT r.c_custkey, r.c_mktsegment, res.value AS set_out
           FROM rws r LEFT JOIN res USING (idx)""",

      "q_le" ->
        """WITH vocab AS (
             SELECT c_mktsegment AS v,
                    CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER)
                      AS code
             FROM (SELECT DISTINCT c_mktsegment FROM customer))
           SELECT c.c_custkey, vocab.code AS seg_code
           FROM customer c JOIN vocab ON c.c_mktsegment = vocab.v""",

      "q_freq" ->
        """SELECT c.c_custkey, f.cnt AS seg_freq
           FROM customer c JOIN (SELECT c_mktsegment, count(*) AS cnt
                                 FROM customer GROUP BY 1) f
           USING (c_mktsegment)""",

      "q_freq_norm" ->
        """SELECT c.c_custkey,
           CAST(f.cnt AS DOUBLE) / (SELECT count(*) FROM customer) AS seg_freq
           FROM customer c JOIN (SELECT c_mktsegment, count(*) AS cnt
                                 FROM customer GROUP BY 1) f
           USING (c_mktsegment)""",

      "q_hash_encode" ->
        """SELECT c_custkey,
             CAST(CAST(('0x' || substr(md5('c_mktsegment=' || c_mktsegment),
                          1, 15)) AS BIGINT) % 64 AS INTEGER) AS seg_bucket,
             CAST(CAST(('0x' || substr(md5('c_name=' || c_name),
                          1, 15)) AS BIGINT) % 64 AS INTEGER) AS name_bucket
           FROM customer""",

      "q_target_encode" ->
        """WITH base AS (
             SELECT c_custkey, c_mktsegment AS v, c_acctbal AS y,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) % 4 AS f
             FROM customer),
           pf AS (SELECT v, f, sum(y) AS s, count(*) AS c
                  FROM base GROUP BY v, f),
           tot AS (SELECT v, sum(s) AS ts, sum(c) AS tc FROM pf GROUP BY v),
           pr AS (SELECT avg(c_acctbal) AS p FROM customer)
           SELECT b.c_custkey, b.v AS c_mktsegment,
             round((t.ts - coalesce(pf.s, 0) + 10 * pr.p)
                   / (t.tc - coalesce(pf.c, 0) + 10), 6) AS seg_te
           FROM base b
           JOIN tot t ON b.v = t.v
           LEFT JOIN pf ON pf.v = b.v AND pf.f = b.f
           CROSS JOIN pr""",

      "q_agg_global" ->
        """SELECT l_orderkey, l_linenumber,
           round((SELECT avg(l_extendedprice) FROM lineitem), 6) AS price_mean,
           round((SELECT stddev(l_extendedprice) FROM lineitem), 6) AS price_std
           FROM lineitem""",

      "q_agg_grouped" ->
        """SELECT o.o_orderkey, round(g.m, 6) AS cust_avg_price
           FROM orders o LEFT JOIN (SELECT o_custkey, avg(o_totalprice) AS m
                                    FROM orders GROUP BY 1) g
           USING (o_custkey)""",

      "q_scaler_minmax" ->
        """SELECT c_custkey,
           round((c_acctbal - (SELECT min(c_acctbal) FROM customer)) /
                 ((SELECT max(c_acctbal) FROM customer) -
                  (SELECT min(c_acctbal) FROM customer)), 6) AS bal_mm
           FROM customer""",

      "q_scaler_standard" ->
        """SELECT c_custkey,
           round((c_acctbal - (SELECT avg(c_acctbal) FROM customer)) /
                 (SELECT stddev_pop(c_acctbal) FROM customer), 6) AS bal_std
           FROM customer""",

      "q_scaler_min" ->
        """SELECT c_custkey,
           c_acctbal - (SELECT min(c_acctbal) FROM customer) AS bal_min
           FROM customer""",

      // quantile_cont == the engine's exact interpolated quartiles
      "q_scaler_robust" ->
        """SELECT c_custkey,
           round((c_acctbal -
                  (SELECT quantile_cont(c_acctbal, 0.5) FROM customer)) /
                 ((SELECT quantile_cont(c_acctbal, 0.75) FROM customer) -
                  (SELECT quantile_cont(c_acctbal, 0.25) FROM customer)),
                 6) AS bal_rob
           FROM customer""",

      "q_onehot" ->
        """SELECT c_custkey,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1.0 ELSE 0.0 END
             AS "c_mktsegment__AUTOMOBILE",
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END
             AS "c_mktsegment__BUILDING",
           CASE WHEN c_mktsegment = 'FURNITURE' THEN 1.0 ELSE 0.0 END
             AS "c_mktsegment__FURNITURE",
           CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1.0 ELSE 0.0 END
             AS "c_mktsegment__HOUSEHOLD",
           CASE WHEN c_mktsegment = 'MACHINERY' THEN 1.0 ELSE 0.0 END
             AS "c_mktsegment__MACHINERY"
           FROM customer""",

      "q_wrap" ->
        """SELECT s_suppkey,
           round((s_acctbal - (SELECT avg(s_acctbal) FROM supplier)) /
                 (SELECT stddev(s_acctbal) FROM supplier), 6) AS bal_scaled,
           round((s_acctbal - (SELECT min(s_acctbal) FROM supplier)) /
                 ((SELECT max(s_acctbal) FROM supplier) -
                  (SELECT min(s_acctbal) FROM supplier)), 6) AS bal_mm,
           round((s_nationkey - (SELECT min(s_nationkey) FROM supplier)) /
                 CAST((SELECT max(s_nationkey) FROM supplier) -
                      (SELECT min(s_nationkey) FROM supplier) AS DOUBLE), 6)
             AS nat_mm
           FROM supplier""",

      "q_pipeline_insurance" ->
        """WITH pv AS (
             SELECT o_orderpriority AS v,
               CAST(row_number() OVER (ORDER BY o_orderpriority) - 1
                    AS INTEGER) AS code
             FROM (SELECT DISTINCT o_orderpriority FROM orders)),
           sv AS (
             SELECT o_orderstatus AS v,
               CAST(row_number() OVER (ORDER BY o_orderstatus) - 1
                    AS INTEGER) AS code
             FROM (SELECT DISTINCT o_orderstatus FROM orders))
           SELECT o.o_orderkey,
             month(o.o_orderdate) AS "o_orderdate_MY",
             weekofyear(o.o_orderdate) AS "o_orderdate_WY",
             dayofyear(o.o_orderdate) AS "o_orderdate_DY",
             day(o.o_orderdate) AS "o_orderdate_DM",
             isodow(o.o_orderdate) - 1 AS "o_orderdate_DW",
             hour(o.o_orderdate) AS "o_orderdate_HD",
             pv.code AS priority_code, sv.code AS status_code
           FROM orders o JOIN pv ON o.o_orderpriority = pv.v
                         JOIN sv ON o.o_orderstatus = sv.v""",

      "q_pipeline_mental" ->
        """WITH f AS (
             SELECT *, nullif(l_discount, 0.0) AS disc_n FROM lineitem
             WHERE l_linestatus IS NULL OR l_linestatus NOT IN ('O')),
           fm AS (
             SELECT f.*,
               CASE WHEN l_returnflag = 'A' THEN 'ACC'
                    WHEN l_returnflag = 'N' THEN 'NONE'
                    WHEN l_returnflag = 'R' THEN 'RET'
                    ELSE l_returnflag END AS flag
             FROM f),
           vocab AS (
             SELECT flag AS v,
               CAST(row_number() OVER (ORDER BY flag) - 1 AS INTEGER) AS code
             FROM (SELECT DISTINCT flag FROM fm))
           SELECT fm.l_orderkey, fm.l_linenumber,
             round(coalesce(fm.disc_n, (SELECT median(disc_n) FROM f)), 6)
               AS disc_n,
             fm.flag, vocab.code AS flag_code,
             round((fm.l_extendedprice -
                    (SELECT min(l_extendedprice) FROM f)) /
                   ((SELECT max(l_extendedprice) FROM f) -
                    (SELECT min(l_extendedprice) FROM f)), 6) AS price_mm
           FROM fm JOIN vocab ON fm.flag = vocab.v""",

      "q_pipeline_catenc" ->
        """SELECT p_partkey,
             CAST(substring(p_brand, 7) AS INTEGER) - 1 AS brand_num,
             round((p_retailprice - (SELECT avg(p_retailprice) FROM part)) /
                   (SELECT stddev_pop(p_retailprice) FROM part), 6)
               AS retail_std,
             CASE WHEN split_part(p_type, ' ', 1) = 'ECONOMY' THEN 1.0
                  ELSE 0.0 END AS "type_head__ECONOMY",
             CASE WHEN split_part(p_type, ' ', 1) = 'LARGE' THEN 1.0
                  ELSE 0.0 END AS "type_head__LARGE",
             CASE WHEN split_part(p_type, ' ', 1) = 'MEDIUM' THEN 1.0
                  ELSE 0.0 END AS "type_head__MEDIUM",
             CASE WHEN split_part(p_type, ' ', 1) = 'PROMO' THEN 1.0
                  ELSE 0.0 END AS "type_head__PROMO",
             CASE WHEN split_part(p_type, ' ', 1) = 'SMALL' THEN 1.0
                  ELSE 0.0 END AS "type_head__SMALL",
             CASE WHEN split_part(p_type, ' ', 1) = 'STANDARD' THEN 1.0
                  ELSE 0.0 END AS "type_head__STANDARD"
           FROM part""",

      "q_persist_target" ->
        """WITH tot AS (
             SELECT c_mktsegment AS v, sum(c_acctbal) AS ts,
               count(*) AS tc
             FROM customer GROUP BY 1),
           pr AS (SELECT avg(c_acctbal) AS p FROM customer)
           SELECT c.c_custkey,
             round((t.ts + 10 * pr.p) / (t.tc + 10), 6) AS seg_te,
             CAST(CAST(('0x' || substr(md5('c_mktsegment=' ||
                   c.c_mktsegment), 1, 15)) AS BIGINT) % 32 AS INTEGER)
               AS seg_hash
           FROM customer c JOIN tot t ON c.c_mktsegment = t.v
           CROSS JOIN pr""",

      "q_persist_function" ->
        """SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 30.0 THEN 30.0
                ELSE sqrt(l_quantity * l_extendedprice) END AS qty_score,
           round((l_tax - (SELECT min(l_tax) FROM lineitem)) /
                 ((SELECT max(l_tax) FROM lineitem) -
                  (SELECT min(l_tax) FROM lineitem)), 6) AS tax_mm
           FROM lineitem""",

      "q_pipeline" ->
        s"""WITH j AS (
              SELECT o.o_orderkey, o.o_totalprice,
                     concat($stripSeg, '_', $stripNat) AS ckey
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
            vocab AS (
              SELECT ckey AS v,
                     CAST(row_number() OVER (ORDER BY ckey) - 1 AS INTEGER)
                       AS code
              FROM (SELECT DISTINCT ckey FROM j)),
            freq AS (SELECT ckey AS v, count(*) AS cnt FROM j GROUP BY 1),
            ag AS (SELECT ckey AS v, avg(o_totalprice) AS m FROM j GROUP BY 1)
            SELECT j.o_orderkey, j.ckey, vocab.code AS ckey_code,
                   CAST(freq.cnt AS DOUBLE) / (SELECT count(*) FROM j)
                     AS ckey_freq,
                   round(ag.m, 6) AS cust_price_mean
            FROM j JOIN vocab ON j.ckey = vocab.v
                   JOIN freq ON j.ckey = freq.v
                   JOIN ag ON j.ckey = ag.v"""
    )
  }
}
