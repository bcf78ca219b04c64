package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weighted PageRank (Page et al. 1999) on an edge relation, in EXACT
  * integer arithmetic so any SQL engine replays every iteration
  * bit-for-bit — the same determinism discipline as
  * [[graft.sim.Cluster]]'s k-means (floor-quantized state, no
  * float-sum order dependence). Rank mass lives in integer units of
  * `scale`; every per-edge contribution and every teleport/dangling
  * share is a floor division, so partial-sum ORDER cannot change a
  * result (long addition is associative-commutative) — the one thing a
  * floating-point PageRank can never promise on a cluster.
  *
  * Per iteration, per edge u→v:  c = (85 · ((r(u) · w) div W(u))) div 100
  * where W(u) is u's total out-weight (damping 0.85 as the 85/100
  * rational). Every node also receives
  * base = (15·scale) div (100·N)  +  (85 · (dang div N)) div 100,
  * `dang` = Σ rank over nodes with no out-edges (their mass teleports).
  * Floor rounding leaks a few units of mass per iteration — bounded by
  * edges + N per round, far below rank magnitudes, and both engines
  * leak identically.
  *
  * Shape at 100 TB: the edge relation (with pre-joined out-weights) is
  * built ONCE and persisted; each iteration is one join of the
  * (node, rank) relation — always the small side, broadcast by AQE when
  * it fits — one dst-aggregate (map-side combined), and one scalar
  * action for the dangling mass. `localCheckpoint` per round truncates
  * the iterative lineage exactly like
  * [[graft.text.Dedup]]'s distributed components loop. Overflow bound:
  * needs scale · max(w) < 2^63 / 85 — at the default 1e9 scale that
  * allows per-edge weights up to ~10^8.
  */
object Graph {

  /** PageRank over `(srcCol, dstCol, wCol)` edges (long weights > 0;
    * rows with w ≤ 0 are dropped). Returns `(node, rank)` with rank in
    * integer `scale` units; Σ rank ≈ scale. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    require(scale >= 1000L, s"need scale >= 1000, got $scale")
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), col(wCol).cast("long").as("w"))
      .filter(col("w") > 0L)
    val outW = e0.groupBy("src").agg(sum("w").as("ow"))
    val e = e0.join(outW, "src").persist(StorageLevel.MEMORY_AND_DISK)
    // the dangling set (nodes with no out-edges) is STATIC: flag it once
    // on the persisted node relation instead of re-deriving it with a
    // per-iteration anti-join (round 10, guide §2.4 — one join per round
    // removed; the rank relation carries one extra boolean)
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .join(outW.select(col("src").as("node"))
        .withColumn("__hasout", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__hasout"), lit(false))
        .as("__hasout"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = math.max(nodes.count(), 1L)
    var r = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 1 to iters) {
      // dangling mass rides the plan as a broadcast one-row relation, so
      // each iteration is ONE job (the eager localCheckpoint) — no
      // driver scalar round trip per round; the static flag turns the
      // old per-round anti-join into a filter over the rank relation
      val dang = r.filter(!col("__hasout"))
        .agg(coalesce(sum("rank"), lit(0L)).as("__dang"))
      // rank side broadcast when the EXACT node count (already in hand)
      // fits (round 11, guide §2.4/§3.1): the persisted edge relation is
      // then never re-shuffled per round — the only remaining exchange
      // is the map-side-combined dst aggregate
      val contrib = e.join(graft.util.Joins.maybeBroadcast(
          r.select(col("node").as("src"), col("rank")), n),
          "src")
        .select(col("dst").as("node"),
          expr("(85 * ((rank * w) div ow)) div 100").as("__c"))
        .groupBy("node").agg(sum("__c").as("__inflow"))
      r = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("__hasout"),
          (coalesce(col("__inflow"), lit(0L)) +
            lit(15L * scale / (100L * n)) +
            expr(s"(85 * (__dang div ${n}L)) div 100")).as("rank"))
        .localCheckpoint(true)
    }
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    r.select("node", "rank")
  }

  /** EXACT triangle count over an undirected edge relation — the
    * clustering-structure metric (and the workload that goes quadratic
    * on hub nodes if joined naively). Degree-oriented node-iterator
    * (Schank & Wagner 2005): normalize to distinct `a < b` edges, orient
    * every edge from its (degree, id)-smaller endpoint — out-degrees are
    * then O(√E) for ANY degree distribution, so the wedge self-join
    * never explodes on hubs — and close wedges against the normalized
    * edge set. Three shuffles total (degree agg, wedge join, closing
    * join); each triangle counts exactly once (its rank-smallest vertex
    * owns the wedge). Returns one row `(n_triangles)`. */
  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("string"); val d = col(dstCol).cast("string")
    val und = edges.select(least(s, d).as("a"), greatest(s, d).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") <= col("db"), col("a")).otherwise(col("b"))
          .as("x"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("y"))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.x") === col("o2.x") &&
        col("o1.y") < col("o2.y"))
      .select(col("o1.y").as("p"), col("o2.y").as("q"))
    wedges.join(und, col("p") === col("a") && col("q") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distances: for every node reachable from
    * `sources` within `maxHops` directed hops, the minimum hop count —
    * pure integer iteration, deterministic in any engine (min hop
    * distance is unique; no weights, no floats). Returns (node, dist).
    *
    * Frontier-style: each round expands only the LAST round's frontier
    * and anti-joins the visited set, so per-round work is proportional
    * to the frontier, not to everything seen so far — the difference
    * between BFS and quadratic blowup on small-diameter graphs. Per
    * round: one join with the (persisted, deduped) edge relation, one
    * distinct, one anti-join; `localCheckpoint` truncates the iterative
    * lineage like [[pageRank]]'s loop. An empty frontier short-circuits
    * the remaining rounds (one cheap `isEmpty` action per round on the
    * already-checkpointed frontier). */
  def shortestPaths(
      edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20,
      s"need 1 <= maxHops <= 20, got $maxHops")
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var visited = sources.select(col(sources.columns.head)
        .cast("string").as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("node")
    // frontier/visited counts are exact and carried incrementally, so
    // the per-round joins broadcast the node-sized side when it fits
    // (round 11, guide §2.4/§3.1) — the persisted edge relation is then
    // never shuffled; the count replaces the old isEmpty check (same
    // one action per round over the checkpointed frontier)
    var nFrontier = visited.count()
    var nVisited = nFrontier
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      frontier = e.join(graft.util.Joins.maybeBroadcast(
          frontier.withColumnRenamed("node", "src"), nFrontier), "src")
        .select(col("dst").as("node")).distinct()
        .join(graft.util.Joins.maybeBroadcast(visited, nVisited),
          Seq("node"), "left_anti")
        .localCheckpoint(true)
      nFrontier = frontier.count()
      if (nFrontier == 0L) done = true
      else {
        visited = visited
          .union(frontier.withColumn("dist", lit(hop.toLong)))
          .localCheckpoint(true)
        nVisited += nFrontier
        hop += 1
      }
    }
    e.unpersist(blocking = false)
    visited
  }

  /** Generated BFS oracle: the identical frontier replay as unrolled SQL
    * CTEs from the same `maxHops`. `edgesCte` must yield (src, dst);
    * `sourcesCte` one column `node`. (The SQL always unrolls all
    * `maxHops` rounds — an exhausted frontier just contributes empty
    * CTEs, matching the Spark short-circuit.) */
  def shortestPathsSql(edgesCte: String, sourcesCte: String,
      maxHops: Int): String = {
    val rounds = (1 to maxHops).map { k =>
      s"""f$k AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM e JOIN f${k - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM v${k - 1})),
         |v$k AS (SELECT * FROM v${k - 1}
         |        UNION ALL SELECT node, $k FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS src,
       |        CAST(dst AS VARCHAR) AS dst
       |      FROM e0 WHERE CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)),
       |f0 AS (SELECT DISTINCT CAST(node AS VARCHAR) AS node
       |       FROM ($sourcesCte)),
       |v0 AS (SELECT node, 0 AS dist FROM f0),
       |$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM v$maxHops""".stripMargin
  }

  /** k-core decomposition by synchronous peeling: after `maxRounds`
    * rounds of "drop every node whose degree within the surviving set
    * is < k", the surviving nodes with their within-core degrees —
    * the standard dense-subgraph / spam-cluster / collaboration-core
    * extraction. Edges are symmetrized and deduped (undirected simple
    * graph); self-loops dropped.
    *
    * Peeling is monotone (the active set only shrinks), so a converged
    * round is a FIXPOINT: Spark short-circuits when a round removes
    * nothing, while the generated oracle ([[kCoreSql]]) always unrolls
    * all `maxRounds` — identical output either way, which is what makes
    * the early exit safe under the oracle. Per round: one join of the
    * persisted edge relation against the (checkpointed, node-sized)
    * active set + one count aggregate — work is edges-bound and shrinks
    * with the active set; nothing is ever quadratic. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 30,
      s"need k >= 1, 1 <= maxRounds <= 30; got k=$k rounds=$maxRounds")
    val dir = edges.select(col(srcCol).cast("string").as("s"),
      col(dstCol).cast("string").as("d"))
    val e = dir.union(dir.select(col("d").as("s"), col("s").as("d")))
      .filter(col("s") =!= col("d")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // active side broadcast into BOTH joins when the EXACT count from
    // the round's own convergence check fits (round 11, guide
    // §2.4/§3.1): the persisted edge relation is then never re-shuffled
    // per round — only the node-sized degree aggregate exchanges
    def coreDegrees(active: DataFrame, nActive: Long): DataFrame =
      e.join(graft.util.Joins.maybeBroadcast(
          active.withColumnRenamed("node", "s"), nActive), "s")
        .join(graft.util.Joins.maybeBroadcast(
          active.withColumnRenamed("node", "d"), nActive), "d")
        .groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    var active = e.select(col("s").as("node")).distinct()
      .localCheckpoint(true)
    var nActive = active.count()
    var round = 1
    var done = nActive == 0L
    while (round <= maxRounds && !done) {
      val next = coreDegrees(active, nActive).filter(col("deg") >= k)
        .select("node").localCheckpoint(true)
      val m = next.count()
      if (m == nActive) done = true // fixpoint: further rounds identical
      else { active = next; nActive = m; round += 1 }
    }
    // materialize the final degrees BEFORE releasing the edge cache —
    // unpersisting first hands back a lazy plan that recomputes the
    // union+distinct from raw edges on first action (ADVICE r6); the
    // output is node-sized, so the eager checkpoint is cheap
    val out = coreDegrees(active, nActive).localCheckpoint(eager = true)
    e.unpersist(blocking = false)
    out
  }

  /** Generated k-core oracle: the identical peeling replay as unrolled
    * SQL CTEs from the same (k, maxRounds). `edgesCte` must yield
    * (src, dst). */
  def kCoreSql(edgesCte: String, k: Int, maxRounds: Int): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""d$r AS (
         |  SELECT und.s AS node, count(*) AS deg
         |  FROM und JOIN a${r - 1} x ON und.s = x.node
         |           JOIN a${r - 1} y ON und.d = y.node
         |  GROUP BY 1),
         |a$r AS (SELECT node FROM d$r WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |dirn AS (SELECT CAST(src AS VARCHAR) AS s,
       |           CAST(dst AS VARCHAR) AS d FROM e0),
       |und AS (SELECT DISTINCT s, d FROM
       |  (SELECT s, d FROM dirn UNION ALL SELECT d, s FROM dirn)
       |  WHERE s <> d),
       |a0 AS (SELECT DISTINCT s AS node FROM und),
       |$rounds
       |SELECT und.s AS node, count(*) AS deg
       |FROM und JOIN a$maxRounds x ON und.s = x.node
       |         JOIN a$maxRounds y ON und.d = y.node
       |GROUP BY 1""".stripMargin
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007) with DETERMINISTIC rules, so any engine
    * replays the identical communities: labels start as the node id;
    * each round every node adopts the most frequent label among its
    * neighbors PLUS one self-vote (the self-vote removes the classic
    * 2-cycle oscillation of synchronous LPA on bipartite structure),
    * with ties broken by the LEXICOGRAPHICALLY SMALLEST label. Classic
    * LPA breaks ties randomly and is run-order dependent — useless for
    * a pipeline whose sampling/curation decisions must replay years
    * later; this variant is a pure integer/string fixpoint iteration.
    * Edges are symmetrized and deduped (undirected simple graph),
    * self-loops dropped. Returns `(node, community)` after `rounds`
    * rounds (or the earlier fixpoint — a converged labeling is
    * invariant under further rounds, so the short-circuit is safe
    * under the always-unrolled oracle, exactly like [[kCore]]).
    *
    * Shape at 100 TB: per round, ONE join of the persisted edge
    * relation against the node-sized label relation, one
    * (node, label)-keyed count aggregate (map-side combined), and one
    * per-node argmax window — partitioned by node, so the sort is
    * degree-bounded per node, never global. `localCheckpoint`
    * truncates the iterative lineage like [[pageRank]]'s loop; the
    * fixpoint check rides the same action. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 30,
      s"need 1 <= rounds <= 30, got $rounds")
    val dir = edges.select(col(srcCol).cast("string").as("s"),
      col(dstCol).cast("string").as("d"))
    val e = dir.union(dir.select(col("d").as("s"), col("s").as("d")))
      .filter(col("s") =!= col("d")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("s").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    // every node keeps exactly one label, so the relation's cardinality
    // is the node count, constant across rounds — count it ONCE and
    // broadcast the label side into the per-round edge join when it
    // fits (round 11, guide §2.4/§3.1): the persisted edge relation is
    // then never re-shuffled; the vote aggregate is the only exchange
    val nNodes = labels.count()
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val next = labelPropagationRound(e, labels, nNodes)
        .localCheckpoint(true)
      // fixpoint: a round that changes nothing leaves every later
      // round identical (the vote inputs are a pure function of the
      // labeling) — short-circuit like kCore's peeling. isEmpty stops at
      // the FIRST changed row (early rounds change thousands — the old
      // full count evaluated the whole join every round), and the last
      // round's check is skipped outright: its only consumer is the
      // loop condition that is about to exit anyway (round 10, guide
      // §1.2 — don't compute things you throw away)
      val changed = round < rounds &&
        !next.join(graft.util.Joins.maybeBroadcast(
            labels.withColumnRenamed("label", "__old"), nNodes), "node")
          .filter(col("label") =!= col("__old")).isEmpty
      labels = next
      if (!changed) done = true else round += 1
    }
    e.unpersist(blocking = false)
    labels.withColumnRenamed("label", "community")
  }

  /** One synchronous [[labelPropagation]] vote round: every node of the
    * symmetrized edge relation `e` (s, d) adopts the most frequent label
    * among its neighbors' `labels` (node, label; `nNodes` rows) plus its
    * own, ties to the smallest label. */
  private[graft] def labelPropagationRound(e: DataFrame, labels: DataFrame,
      nNodes: Long): DataFrame = {
    val votes = e.join(graft.util.Joins.maybeBroadcast(
        labels.withColumnRenamed("node", "s"), nNodes), "s")
      .select(col("d").as("node"), col("label"))
      .union(labels)
    // per-node argmax as a second AGGREGATE, not a window (round 10,
    // guide §2.4/§4): min(struct(-cnt, label)) realizes the identical
    // (cnt DESC, label ASC) total order — struct comparison is
    // field-lexicographic and Spark string order is bytewise, the same
    // order the row_number window sorted by — but the aggregate is
    // map-side combined, whole-stage-codegen'd, and skips the window's
    // per-node sort (WindowExec is not codegen'd). Plan: Sort+Window →
    // partial/final HashAggregate; one exchange either way.
    votes
      .groupBy("node", "label").agg(count(lit(1)).as("__cnt"))
      .groupBy("node").agg(min(struct((-col("__cnt")).as("nc"),
        col("label").as("label"))).as("__best"))
      .select(col("node"), col("__best.label").as("label"))
  }

  /** Generated label-propagation oracle: the identical deterministic
    * vote replay as unrolled SQL CTEs from the same `rounds`.
    * `edgesCte` must yield (src, dst). (The SQL always unrolls all
    * rounds — past the fixpoint each round reproduces the previous
    * labeling, matching the Spark short-circuit.) */
  def labelPropagationSql(edgesCte: String, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""v$r AS (
         |  SELECT und.d AS node, l.label
         |  FROM und JOIN l${r - 1} l ON und.s = l.node
         |  UNION ALL SELECT node, label FROM l${r - 1}),
         |l$r AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT node, label, count(*) AS cnt
         |          FROM v$r GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |dirn AS (SELECT CAST(src AS VARCHAR) AS s,
       |           CAST(dst AS VARCHAR) AS d FROM e0),
       |und AS (SELECT DISTINCT s, d FROM
       |  (SELECT s, d FROM dirn UNION ALL SELECT d, s FROM dirn)
       |  WHERE s <> d),
       |l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
       |$steps
       |SELECT node, label AS community FROM l$rounds""".stripMargin
  }

  /** Generated oracle: the identical integer replay as unrolled SQL CTEs
    * (the [[graft.Round6Queries]] k-means convention — oracle SQL built
    * from the SAME parameters the Spark query runs with, so the sides
    * cannot drift). `edgesCte` must yield columns (src, dst, w). */
  def pageRankSql(edgesCte: String, iters: Int,
      scale: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { k =>
      val p = s"r${k - 1}"
      s"""dang$k AS (
         |  SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dang
         |  FROM $p WHERE node NOT IN (SELECT src FROM outw)),
         |base$k AS (
         |  SELECT (15 * CAST($scale AS BIGINT)) // (100 * n)
         |       + (85 * (dang // n)) // 100 AS b
         |  FROM nn, dang$k),
         |c$k AS (
         |  SELECT ew.dst AS node,
         |    CAST(sum((85 * ((r.rank * ew.w) // outw.W)) // 100)
         |      AS BIGINT) AS inflow
         |  FROM ew JOIN outw USING (src) JOIN $p r ON r.node = ew.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT nodes.node,
         |    coalesce(c.inflow, 0) + (SELECT b FROM base$k) AS rank
         |  FROM nodes LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |ew AS (SELECT CAST(src AS VARCHAR) AS src,
       |         CAST(dst AS VARCHAR) AS dst, CAST(w AS BIGINT) AS w
       |       FROM e0 WHERE w > 0),
       |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS W FROM ew GROUP BY 1),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, (SELECT $scale // n FROM nn) AS rank FROM nodes),
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters""".stripMargin
  }
}
