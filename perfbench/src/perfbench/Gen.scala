package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees what these return. */
object Gen {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")

  /** Uniform [0, 1) per row, from the row id, the seed and a stream number
    * — independent of partitioning. */
  private def u(seed: Long, stream: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(stream)), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(x * values.size) + 1).cast("int"))

  /** Rows `[from, until)` of the wide order/lineitem/part-shaped table the
    * four reference pipelines read. Key cardinalities straddle the engine's
    * literal-map limit (1000 entries): `c_mktsegment`_`c_nationkey` has
    * 5 x `nations` distinct values, `o_orderpriority` up to `priorities`
    * (skewed). `label` depends on the (segment, nation) key, so a
    * key-level mean of `o_totalprice` predicts it. */
  def orders(spark: SparkSession, seed: Long, from: Long, until: Long,
      nations: Int, priorities: Int, partitions: Int): DataFrame = {
    val base = spark.range(from, until, 1, partitions)
      .select(col("id"),
        pick(Segments, pow(u(seed, 2), lit(1.5))).as("c_mktsegment"),
        floor(u(seed, 3) * nations).cast("int").as("c_nationkey"))
    val effect = pmod(xxhash64(col("c_mktsegment"), col("c_nationkey"),
      lit(seed)), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)
    base.select(
      col("id").as("o_orderkey"),
      floor(u(seed, 1) * 15000).cast("long").as("o_custkey"),
      col("c_mktsegment"), col("c_nationkey"),
      concat(lit("PRI-"), floor(pow(u(seed, 4), lit(2.0)) * priorities)
        .cast("long").cast("string")).as("o_orderpriority"),
      pick(Seq("F", "O", "P"), u(seed, 5)).as("o_orderstatus"),
      date_add(lit("1992-01-01").cast("date"),
        floor(u(seed, 6) * 2400).cast("int")).as("o_orderdate"),
      round(lit(1000.0) + effect * 50000.0 + u(seed, 8) * 20000.0, 2)
        .as("o_totalprice"),
      (u(seed, 7) < lit(0.15) + effect * 0.6).cast("int").as("label"),
      (floor(u(seed, 9) * 11) / 100.0).as("l_discount"),
      when(u(seed, 10) < 0.5, lit("O")).otherwise(lit("F")).as("l_linestatus"),
      pick(Seq("A", "N", "R"), u(seed, 11)).as("l_returnflag"),
      round(lit(900.0) + u(seed, 12) * 100000.0, 2).as("l_extendedprice"),
      concat(lit("Brand#"), (floor(u(seed, 13) * 5) + 1).cast("string"),
        (floor(u(seed, 14) * 5) + 1).cast("string")).as("p_brand"),
      concat_ws(" ",
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
          u(seed, 15)),
        pick(Seq("ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"),
          u(seed, 16)),
        pick(Seq("BRASS", "COPPER", "NICKEL", "STEEL", "TIN"), u(seed, 17)))
        .as("p_type"),
      round(lit(900.0) + u(seed, 18) * 1200.0, 2).as("p_retailprice"))
  }

  /** The customer-shaped training table of the online pipeline. */
  def customers(spark: SparkSession, seed: Long, n: Long,
      partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"),
        lpad(floor(u(seed, 1) * (2 * n)).cast("string"), 9, "0"))
        .as("c_name"),
      pick(Segments, u(seed, 2)).as("c_mktsegment"),
      floor(u(seed, 3) * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 4) * 10999.98, 2).as("c_acctbal"))

  /** Online requests with the `customers` columns. Keys the pipeline never
    * saw at fit time and nulls are mixed in: ~4% unseen and ~3% null
    * segments, ~3% unseen and ~2% null nations, ~1% null names and ~2%
    * null balances. */
  def requests(seed: Long, n: Int, nCustomers: Long): Array[Map[String, Any]] = {
    val r = new SplittableRandom(seed ^ 0x6F6E6C696E65L)
    Array.tabulate(n) { i =>
      val seg: Any = r.nextInt(100) match {
        case x if x < 3 => null
        case x if x < 7 => s"SEGMENT_${r.nextInt(50)}"
        case _ => Segments(r.nextInt(Segments.size))
      }
      val nation: Any = r.nextInt(100) match {
        case x if x < 2 => null
        case x if x < 5 => Integer.valueOf(25 + r.nextInt(15))
        case _ => Integer.valueOf(r.nextInt(25))
      }
      val name: Any =
        if (r.nextInt(100) < 1) null
        else f"Customer#${r.nextLong(2 * nCustomers)}%09d"
      val bal: Any =
        if (r.nextInt(100) < 2) null
        else java.lang.Double.valueOf(
          math.rint((-999.99 + r.nextDouble() * 10999.98) * 100) / 100)
      Map("c_custkey" -> java.lang.Long.valueOf(1000000000L + i),
        "c_name" -> name, "c_mktsegment" -> seg, "c_nationkey" -> nation,
        "c_acctbal" -> bal)
    }
  }

  /** Samples ranks 0 until n with probability proportional to
    * 1 / (rank + 1)^skew. */
  final class Zipf(n: Int, skew: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, skew))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  final case class GraphData(src: Array[Long], dst: Array[Long],
      w: Array[Long], sources: Array[Long])

  /** A directed weighted graph: sources uniform, destinations Zipf(skew)
    * over a seeded node permutation, so a few hubs collect most in-edges.
    * Duplicate edges and self-loops occur, as in real edge lists. */
  def graph(seed: Long, nodes: Int, edges: Int, skew: Double,
      nSources: Int): GraphData = {
    val r = new SplittableRandom(seed ^ 0x6772617068L)
    val perm = Array.range(0, nodes).map(_.toLong)
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val z = new Zipf(nodes, skew)
    val src = Array.fill(edges)(perm(r.nextInt(nodes)))
    val dst = Array.fill(edges)(perm(z.sample(r)))
    val w = Array.fill(edges)(1L + r.nextInt(9))
    val sources = src.distinct.take(nSources)
    GraphData(src, dst, w, sources)
  }

  final case class Corpus(ids: Array[Long], tokens: Array[Array[String]],
      vecs: Array[Array[Double]], quality: Array[Double],
      planted: Seq[(Long, Long)]) {
    def text(i: Int): String = tokens(i).mkString(" ")
  }

  /** A corpus of Zipf-distributed word documents. A `dupShare` of the
    * documents copies an earlier one (possibly itself a copy) with one or
    * two word substitutions, and its embedding is the source's plus small
    * noise. Every copy whose exact `shingleK`-word Jaccard with its source
    * reaches `threshold` is a planted pair. */
  def corpus(seed: Long, docs: Int, dupShare: Double, vocab: Int, dim: Int,
      shingleK: Int, threshold: Double): Corpus = {
    val r = new SplittableRandom(seed ^ 0x636F72707573L)
    val z = new Zipf(vocab, 1.0)
    val words = Array.tabulate(vocab)(k => s"w$k")
    val tokens = new Array[Array[String]](docs)
    val vecs = new Array[Array[Double]](docs)
    val planted = ArrayBuffer.empty[(Long, Long)]
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    for (d <- 0 until docs) {
      if (d >= 50 && r.nextDouble() < dupShare) {
        val s = r.nextInt(d)
        val t = tokens(s).clone()
        for (_ <- 0 to r.nextInt(2)) t(r.nextInt(t.length)) = words(z.sample(r))
        tokens(d) = t
        vecs(d) = unit(vecs(s).map(_ + r.nextGaussian() * 0.04))
        if (Refs.jaccard(tokens(s), t, shingleK) >= threshold)
          planted += ((s.toLong, d.toLong))
      } else {
        tokens(d) = Array.fill(40 + r.nextInt(41))(words(z.sample(r)))
        vecs(d) = unit(Array.fill(dim)(r.nextGaussian()))
      }
    }
    Corpus(Array.tabulate(docs)(_.toLong), tokens, vecs,
      Array.fill(docs)(r.nextDouble()), planted.toSeq)
  }
}
