package perfbench

import scala.collection.mutable

/** Reference implementations the engine's outputs are checked against,
  * run in-process on collected data. Written from the operators'
  * documented semantics, independent of the engine code. */
object Refs {

  /** ROC AUC by Mann-Whitney U with midranks for ties. */
  def auc(scores: Array[Double], labels: Array[Int]): (Double, Long, Long) = {
    val ranks = midranks(scores)
    var rankSum = 0.0
    var pos = 0L
    var i = 0
    while (i < scores.length) {
      if (labels(i) == 1) { rankSum += ranks(i); pos += 1 }
      i += 1
    }
    val neg = scores.length - pos
    val u = rankSum - pos * (pos + 1) / 2.0
    (u / (pos.toDouble * neg.toDouble), pos, neg)
  }

  /** Spearman's rho: Pearson correlation of the midranks. */
  def spearman(a: Array[Double], b: Array[Double]): Double = {
    val (ra, rb) = (midranks(a), midranks(b))
    val n = a.length
    val (ma, mb) = (ra.sum / n, rb.sum / n)
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      val (x, y) = (ra(i) - ma, rb(i) - mb)
      sab += x * y; saa += x * x; sbb += y * y
      i += 1
    }
    sab / math.sqrt(saa * sbb)
  }

  /** 1-based ranks, tied values sharing the mean of their ranks. */
  def midranks(xs: Array[Double]): Array[Double] = {
    val order = xs.indices.sortBy(xs(_)).toArray
    val out = new Array[Double](xs.length)
    var i = 0
    while (i < order.length) {
      var j = i
      while (j + 1 < order.length && xs(order(j + 1)) == xs(order(i))) j += 1
      val r = (i + j) / 2.0 + 1
      (i to j).foreach(k => out(order(k)) = r)
      i = j + 1
    }
    out
  }

  /** Distinct `k`-word shingles. */
  def shingles(tokens: Array[String], k: Int): Set[String] =
    if (tokens.length < k) Set.empty
    else tokens.sliding(k).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String], k: Int): Double = {
    val (sa, sb) = (shingles(a, k), shingles(b, k))
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
    }
    ab / math.sqrt(aa * bb)
  }

  /** Connected components of undirected pairs, each node labelled with the
    * smallest id in its component (self-pairs carry no connectivity). */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    for ((a, b) <- pairs if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Rounds synchronous min-label propagation needs on these pairs: the
    * seeding round plus every round until one changes nothing. */
  def minLabelRounds(pairs: Seq[(Long, Long)]): Int = {
    val adj = undirectedAdj(pairs.filter { case (a, b) => a != b })
    var labels = adj.map { case (v, ns) => v -> (ns + v).min }
    var rounds = 1
    var changed = true
    while (changed) {
      val next = labels.map { case (v, l) =>
        v -> (adj(v).iterator.map(labels).foldLeft(l)(math.min))
      }
      changed = next != labels
      labels = next
      rounds += 1
    }
    rounds
  }

  private def undirectedAdj[T](pairs: Seq[(T, T)]): Map[T, Set[T]] = {
    val m = mutable.HashMap.empty[T, mutable.Set[T]]
    for ((a, b) <- pairs) {
      m.getOrElseUpdate(a, mutable.Set.empty) += b
      m.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    m.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** Undirected simple graph of string ids: symmetrized, self-loops
    * dropped, as the engine's graph operators read edges. */
  def simpleGraph(src: Array[Long], dst: Array[Long]): Map[String, Set[String]] =
    undirectedAdj(src.indices.collect {
      case i if src(i) != dst(i) => (src(i).toString, dst(i).toString)
    })

  /** Synchronous label propagation with a self-vote and ties to the
    * smallest label, for at most `rounds` rounds or until a round changes
    * nothing. Returns (node -> community, rounds run). */
  def labelPropagation(g: Map[String, Set[String]],
      rounds: Int): (Map[String, String], Int) = {
    var labels = g.keys.map(v => v -> v).toMap
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val next = g.map { case (v, ns) =>
        val votes = mutable.HashMap.empty[String, Int]
        (ns.iterator.map(labels) ++ Iterator(labels(v)))
          .foreach(l => votes(l) = votes.getOrElse(l, 0) + 1)
        val best = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        v -> best
      }
      done = next == labels
      labels = next
    }
    (labels, r)
  }

  /** Synchronous k-core peeling for at most `maxRounds` rounds; returns the
    * surviving nodes with their degree inside the survivors, and the
    * number of peeling rounds run. */
  def kCore(g: Map[String, Set[String]], k: Int,
      maxRounds: Int): (Map[String, Long], Int) = {
    def degrees(active: Set[String]): Map[String, Long] =
      active.iterator.map(v => v -> g(v).count(active).toLong)
        .filter(_._2 > 0).toMap
    var active = g.keySet
    var r = 0
    var done = active.isEmpty
    while (r < maxRounds && !done) {
      r += 1
      val next = degrees(active).collect { case (v, d) if d >= k => v }.toSet
      if (next.size == active.size) done = true else active = next
    }
    (degrees(active), r)
  }

  /** Hop distances from `sources` along distinct directed non-loop edges,
    * up to `maxHops`; returns (node -> hops, expansion rounds run). */
  def bfs(src: Array[Long], dst: Array[Long], sources: Seq[Long],
      maxHops: Int): (Map[String, Long], Int) = {
    val out = src.indices.collect {
      case i if src(i) != dst(i) => (src(i).toString, dst(i).toString)
    }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    val dist = mutable.HashMap.empty[String, Long]
    sources.map(_.toString).foreach(s => dist(s) = 0L)
    var frontier = dist.keySet.toSet
    var hop = 1
    var rounds = 0
    var done = false
    while (hop <= maxHops && !done) {
      rounds += 1
      val next = frontier.flatMap(v => out.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      if (next.isEmpty) done = true
      else {
        next.foreach(v => dist(v) = hop.toLong)
        frontier = next
        hop += 1
      }
    }
    (dist.toMap, rounds)
  }

  /** The engine's exact integer PageRank: rank mass in units of `scale`,
    * damping 85/100, every division a floor. */
  def pageRank(src: Array[Long], dst: Array[Long], w: Array[Long],
      iters: Int, scale: Long): Map[String, Long] = {
    val edges = src.indices.filter(w(_) > 0)
      .map(i => (src(i).toString, dst(i).toString, w(i)))
    val outW = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = math.max(nodes.size.toLong, 1L)
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(outW.contains).map(rank).sum
      val inflow = edges.groupMapReduce(_._2) { case (s, _, ww) =>
        (85L * ((rank(s) * ww) / outW(s))) / 100L
      }(_ + _)
      val base = 15L * scale / (100L * n) + (85L * (dang / n)) / 100L
      rank = nodes.map(v => v -> (inflow.getOrElse(v, 0L) + base)).toMap
    }
    rank
  }

  /** Keep-best over duplicate components: in each component keep the
    * highest score (ties to the lower id); returns the ids dropped. */
  def keepBestDrops(components: Map[Long, Long],
      score: Long => Double): Set[Long] =
    components.groupMap(_._2)(_._1).values.flatMap { members =>
      val keep = members.maxBy(id => (score(id), -id))
      members.filterNot(_ == keep)
    }.toSet
}
