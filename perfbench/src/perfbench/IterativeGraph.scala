package perfbench

import graft.relational.Graph
import graft.text.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The engine's five hand-rolled fixpoint loops on one seeded skewed
  * graph: label propagation, k-core, BFS, PageRank and distributed
  * duplicate components. Each round of each loop is a few small Spark jobs,
  * so driver round trips and scheduling dominate. */
final class IterativeGraph(ctx: Ctx) extends Workload {
  import IterativeGraph._

  private var g: Gen.GraphData = _
  private var edges: DataFrame = _
  private var sources: DataFrame = _
  private var ref: Reference = _

  def setup(seed: Long): Unit = {
    release()
    g = Gen.graph(seed, Nodes, Edges, Skew, Sources)
    val spark = ctx.spark
    import spark.implicits._
    edges = g.src.indices.map(i => (g.src(i), g.dst(i), g.w(i)))
      .toDF("src", "dst", "w").repartition(ctx.cores).persist()
    edges.count()
    sources = g.sources.toSeq.toDF("node")
    ref = null
  }

  def measure(seconds: Double): Outcome = {
    val rounds = ctx.rounds(seconds, MinRounds, WarmupRounds)(() => round())
    val unit = Workload.roundUnit(rounds)
    Outcome(unit, Seq(
      Metric("fixpoint_s", unit.value / 1000, "s", unit.n),
      Metric("fixpoint_rounds_per_s",
        Workload.rate(rounds, "graph.rounds", "fixpoint_s"), "1/s", unit.n)),
      rounds)
  }

  def release(): Unit = Option(edges).foreach(_.unpersist())

  private def round(): (Map[String, Double], () => Map[String, Double]) = {
    val ((lpa, kc, bfs, pr, cc), s) = Workload.time {
      val lpa = ctx.op("graph.lpa_s")(
        Graph.labelPropagation(edges, "src", "dst", LpaRounds).collect())
      val kc = ctx.op("graph.kcore_s")(
        Graph.kCore(edges, "src", "dst", K, KCoreRounds).collect())
      val bfs = ctx.op("graph.bfs_s")(
        Graph.shortestPaths(edges, "src", "dst", sources, MaxHops).collect())
      val pr = ctx.op("graph.pagerank_s")(
        Graph.pageRank(edges, "src", "dst", "w", PageRankIters).collect())
      val cc = ctx.op("dedup.components_s")(Dedup.duplicateComponents(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")),
        maxCollect = 0).collect())
      (lpa, kc, bfs, pr, cc)
    }
    val check = () => {
      if (ref == null) ref = Reference.of(g)
      same("graph.lpa", strings(lpa), ref.lpa)
      same("graph.kcore", longs(kc), ref.kcore)
      same("graph.bfs", longs(bfs), ref.bfs)
      same("graph.pagerank", longs(pr), ref.pageRank)
      same("dedup.components",
        cc.map(r => r.getLong(0) -> r.getLong(1)).toMap, ref.components)
      Map("graph.rounds" -> ref.rounds.toDouble)
    }
    (Map("fixpoint_s" -> s), check)
  }

  private def strings(rows: Array[Row]): Map[String, String] =
    rows.map(r => r.getString(0) -> r.getString(1)).toMap
  private def longs(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  private def same[K, V](what: String, got: Map[K, V], want: Map[K, V]): Unit = {
    val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    ctx.check(what, diff.isEmpty, s"${diff.size} of ${want.size} nodes differ " +
      s"from the reference, e.g. ${diff.take(3).map(k =>
        s"$k: engine ${got.get(k)} reference ${want.get(k)}").mkString("; ")}")
  }
}

object IterativeGraph {
  val Nodes = 2000
  val Edges = 8000
  /** Zipf exponent of edge destinations: the in-degree skew. */
  val Skew = 1.0
  val Sources = 4
  val LpaRounds = 2
  val K = 3
  val KCoreRounds = 3
  val MaxHops = 3
  val PageRankIters = 1
  val PageRankScale = 1000000000L
  val MinRounds = 1
  /** Unlike the other batch workloads, this one is timed warm: its first
    * round is mostly code generation and JIT compilation for many small
    * plans, and its time varied by IQR/median 0.22 over ten seeds. */
  val WarmupRounds = 1

  /** Reference results of the five operators and the number of loop
    * rounds they take between them. */
  final case class Reference(lpa: Map[String, String],
      kcore: Map[String, Long], bfs: Map[String, Long],
      pageRank: Map[String, Long], components: Map[Long, Long], rounds: Int)

  object Reference {
    def of(g: Gen.GraphData): Reference = {
      val simple = Refs.simpleGraph(g.src, g.dst)
      val (lpa, lpaRounds) = Refs.labelPropagation(simple, LpaRounds)
      val (kcore, kRounds) = Refs.kCore(simple, K, KCoreRounds)
      val (bfs, bfsRounds) = Refs.bfs(g.src, g.dst, g.sources.toSeq, MaxHops)
      val pairs = g.src.indices.map(i => (g.src(i), g.dst(i)))
      Reference(lpa, kcore, bfs,
        Refs.pageRank(g.src, g.dst, g.w, PageRankIters, PageRankScale),
        Refs.components(pairs),
        lpaRounds + kRounds + bfsRounds + PageRankIters +
          Refs.minLabelRounds(pairs))
    }
  }
}
