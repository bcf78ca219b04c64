package graft

import graft.relational.Graph

/** Integer-deterministic PageRank: mass conservation (up to documented
  * floor leak), dangling redistribution, symmetry, and weight
  * sensitivity. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String, Long)], iters: Int = 5)
      : Map[String, Long] =
    Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("symmetric cycle gives equal ranks that conserve mass") {
    val got = ranks(Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L)))
    assert(got.values.toSet.size == 1)
    val total = got.values.sum
    // floor leak only: within (edges + nodes) units per iteration of 1e9
    assert(total <= 1000000000L && total > 1000000000L - 5 * 6)
  }

  test("a sink node's mass teleports back uniformly") {
    // a -> b, b is a sink: without dangling handling b would absorb all
    val got = ranks(Seq(("a", "b", 1L)))
    assert(got("b") > got("a"))
    assert(got("a") > 100000000L) // teleport + dangling keep a alive
  }

  test("heavier edges attract proportionally more rank") {
    val got = ranks(Seq(("s", "x", 9L), ("s", "y", 1L),
      ("x", "s", 1L), ("y", "s", 1L)))
    assert(got("x") > got("y"))
  }

  test("zero- and negative-weight edges are dropped") {
    val got = ranks(Seq(("a", "b", 1L), ("a", "c", 0L), ("a", "d", -3L)))
    assert(!got.contains("c") && !got.contains("d"))
  }

  private def tri(edges: Seq[(String, String)]): Long =
    Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
      .head().getLong(0)

  test("triangle count: K4 has 4, a path has 0, duplicates don't count") {
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b) yield (a, b)
    assert(tri(k4) == 4L)
    assert(tri(Seq(("a", "b"), ("b", "c"), ("c", "d"))) == 0L)
    // reversed + repeated edges and self-loops are normalized away
    assert(tri(Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
      ("a", "c"), ("a", "a"))) == 1L)
  }

  test("triangle count survives a hub (star + one closing edge)") {
    val star = (1 to 50).map(i => ("hub", s"leaf$i"))
    assert(tri(star) == 0L)
    assert(tri(star :+ ("leaf1", "leaf2")) == 1L)
  }

  test("result is partition-count invariant (integer determinism)") {
    val edges = (1 to 40).map(i =>
      (s"n${i % 7}", s"n${(i * 3) % 7}", (i % 5 + 1).toLong))
      .toDF("src", "dst", "w")
    val a = Graph.pageRank(edges.coalesce(1), "src", "dst", "w", 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(edges.repartition(13), "src", "dst", "w", 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  private def bfs(edges: Seq[(String, String)], sources: Seq[String],
      maxHops: Int): Map[String, Long] =
    Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst",
      sources.toDF("node"), maxHops)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("bfs: chain distances, hop cap, unreachable nodes absent") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y"))
    assert(bfs(chain, Seq("a"), 10) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L, "e" -> 4L))
    // cap truncates; x/y stay unreachable from a
    assert(bfs(chain, Seq("a"), 2) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("bfs: multi-source takes the minimum; direction respected") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "d"))
    val got = bfs(edges, Seq("a", "e"), 10)
    // d: 3 hops from a but 1 from e
    assert(got == Map("a" -> 0L, "e" -> 0L, "b" -> 1L, "d" -> 1L,
      "c" -> 2L))
    // edges are directed: nothing reaches a or e back
    assert(!bfs(Seq(("a", "b")), Seq("b"), 5).contains("a"))
  }

  test("bfs: cycles terminate, a revisit never shortens a known dist") {
    val got = bfs(Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a"), 10)
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  private def kcore(edges: Seq[(String, String)], k: Int, rounds: Int = 20)
      : Map[String, Long] = {
    import spark.implicits._
    Graph.kCore(edges.toDF("s", "d"), "s", "d", k, rounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("kcore: pendant peels off a triangle; cascade empties a near-K4; " +
      "K4 survives its own 3-core") {
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "t"))
    assert(kcore(tri, 2) == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"))
    assert(kcore(k4, 3) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // K4 minus one edge: two deg-3 nodes depend on the two deg-2 nodes —
    // the 3-core cascades to empty, not to a partial survivor set
    assert(kcore(k4.filterNot(_ == ("a", "b")), 3).isEmpty)
  }

  test("kcore equals a driver-side peeling fixpoint on random graphs; " +
      "duplicate and reversed edges collapse") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val edges = (1 to 80).map(_ => (s"n${rnd.nextInt(16)}",
        s"n${rnd.nextInt(16)}"))
      val k = rnd.nextInt(3) + 2
      // driver fixpoint over the undirected simple graph
      val und = edges.flatMap(e => Seq(e, e.swap)).filter(e => e._1 != e._2)
        .distinct
      var act = und.map(_._1).toSet
      var stable = false
      while (!stable) {
        val deg = und.filter(e => act(e._1) && act(e._2))
          .groupBy(_._1).map { case (n, v) => n -> v.size }
        val next = deg.filter(_._2 >= k).keySet
        stable = next == act
        act = next
      }
      val expect = und.filter(e => act(e._1) && act(e._2))
        .groupBy(_._1).map { case (n, v) => n -> v.size.toLong }
      assert(kcore(edges, k) == expect, s"trial $trial k=$k")
    }
  }

  test("SPARK_GRAFT_BCAST_MAX_ROWS: positive counts parse, anything else " +
      "falls back to 1M instead of failing initialization") {
    import graft.util.Joins.parseMaxRows
    assert(parseMaxRows(None) == 1000000L)
    assert(parseMaxRows(Some("250000")) == 250000L)
    assert(parseMaxRows(Some(" 42 ")) == 42L)
    for (bad <- Seq("", "1e6", "ten", "0", "-5", "99999999999999999999"))
      assert(parseMaxRows(Some(bad)) == 1000000L, bad)
  }
}
