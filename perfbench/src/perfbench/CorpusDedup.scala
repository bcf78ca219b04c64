package perfbench

import graft.sim.Similarity
import graft.text.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Near-duplicate removal on a seeded corpus with planted near-duplicate
  * pairs: MinHash LSH candidates, exact Jaccard verification, duplicate
  * components and keep-best, plus embedding near-duplicates. The only
  * workload that reaches the text, sim and codegen'd function layers. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._

  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _

  def setup(seed: Long): Unit = {
    release()
    corpus = Gen.corpus(seed, Docs, DupShare, Vocab, Dim, ShingleK, Threshold)
    val spark = ctx.spark
    import spark.implicits._
    val c = corpus
    docs = c.ids.indices.map(i => (c.ids(i), c.text(i), c.vecs(i), c.quality(i)))
      .toDF("doc_id", "text", "vec", "quality").repartition(ctx.cores).persist()
    docs.count()
  }

  def measure(seconds: Double): Outcome = {
    val rounds = ctx.rounds(seconds, MinRounds, WarmupRounds)(() => round())
    val unit = Workload.roundUnit(rounds)
    Outcome(unit, Seq(
      Metric("dedup_docs_per_s", Workload.rate(rounds, "docs", "dedup_s"),
        "1/s", unit.n),
      Metric("dedup_recall", Workload.medianOf(rounds, "recall"), "ratio",
        unit.n),
      Metric("sim_recall", Workload.medianOf(rounds, "sim_recall"), "ratio",
        unit.n)), rounds)
  }

  def release(): Unit = Option(docs).foreach(_.unpersist())

  private def round(): (Map[String, Double], () => Map[String, Double]) = {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    ctx.op("functions.minhash_sig_s")(Workload.sinkRows(
      docs.select(Dedup.minHashSignature(col("text"), NumHashes, ShingleK)
        .as("sig"))))
    val (cand, nCand) = ctx.op("dedup.lsh_s") {
      val c = Dedup.minHashLSH(docs, "text", "doc_id", NumHashes, Bands,
        ShingleK, withEstimate = false)
      (c, c.count())
    }
    val verified = ctx.op("dedup.verify_s")(
      Dedup.verifyJaccard(cand, docs, "text", "doc_id", ShingleK, Threshold)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val pairs = verified.map(v => (v._1, v._2)).toSeq.toDF("id_a", "id_b")
    val comps = ctx.op("dedup.components_s")(
      Dedup.duplicateComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val kept = ctx.op("dedup.keep_best_s")(
      Dedup.keepBestPerComponent(docs, "doc_id", pairs,
        docs.select("doc_id", "quality"), "quality")
        .select("doc_id").collect().map(_.getLong(0)))
    val sims = ctx.op("sim.near_dup_s") {
      val r = Similarity.embeddingNearDup(docs, "doc_id", "vec", Dim,
        SimThreshold, nPlanes = SimPlanes, bands = SimBands)
      try r.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      finally r.unpersist()
    }
    val s = (System.nanoTime() - t0) / 1e9
    val check = () => {
      val planted = corpus.planted.map { case (a, b) => (a min b, a max b) }
      def recallOf(pairs: Array[(Long, Long, Double)]): Double = {
        val found = pairs.map(v => (v._1, v._2)).toSet
        planted.count(found).toDouble / planted.size
      }
      val recall = recallOf(verified)
      try checkRound(cand, verified, comps, kept, sims, recall)
      finally cand.unpersist()
      Map("recall" -> recall, "sim_recall" -> recallOf(sims),
        "dedup.candidates" -> nCand.toDouble,
        "dedup.verified_pairs" -> verified.length.toDouble,
        "dedup.verify_yield" -> verified.length.toDouble / math.max(nCand, 1L),
        "sim.pairs" -> sims.length.toDouble)
    }
    (Map("dedup_s" -> s, "docs" -> Docs.toDouble), check)
  }

  private def checkRound(cand: DataFrame,
      verified: Array[(Long, Long, Double)], comps: Map[Long, Long],
      kept: Array[Long], sims: Array[(Long, Long, Double)],
      recall: Double): Unit = {
    val c = corpus
    // verification keeps exactly the candidates whose exact Jaccard
    // reaches the threshold, with the exact value
    val want = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) =>
        (a, b) -> Refs.jaccard(c.tokens(a.toInt), c.tokens(b.toInt), ShingleK)
      }.filter(_._2 >= Threshold).toMap
    val got = verified.map(v => (v._1, v._2) -> v._3).toMap
    val bad = (want.keySet ++ got.keySet).filter(k =>
      !(want.contains(k) && got.contains(k) &&
        math.abs(want(k) - got(k)) <= 1e-12))
    ctx.check("dedup.verify", bad.isEmpty,
      s"${bad.size} pairs differ from the reference Jaccard, e.g. ${bad.take(3)}")
    ctx.check("dedup_recall", recall >= RecallFloor,
      s"recall $recall of ${c.planted.size} planted pairs is under $RecallFloor")
    val ref = Refs.components(verified.map(v => (v._1, v._2)).toSeq)
    ctx.check("dedup.components", comps == ref,
      s"${(comps.keySet ++ ref.keySet).count(k => comps.get(k) != ref.get(k))}" +
        " nodes differ from the reference union-find")
    val drops = Refs.keepBestDrops(ref, id => c.quality(id.toInt))
    val keptSet = kept.toSet
    ctx.check("dedup.keep_best", kept.length == keptSet.size &&
        keptSet == c.ids.toSet -- drops,
      s"kept ${kept.length} docs, reference keeps ${c.ids.length - drops.size}")
    val badSim = sims.filterNot { case (a, b, sim) =>
      val ref = Refs.cosine(c.vecs(a.toInt), c.vecs(b.toInt))
      a < b && sim >= SimThreshold && math.abs(sim - ref) <= 1e-9
    }
    ctx.check("sim.near_dup", badSim.isEmpty,
      s"${badSim.length} pairs disagree with the reference cosine, e.g. " +
        badSim.take(3).mkString(", "))
  }
}

object CorpusDedup {
  val Docs = 6000
  /** Share of documents that copy an earlier one with small edits. */
  val DupShare = 0.08
  val Vocab = 5000
  val Dim = 32
  val ShingleK = 3
  val NumHashes = 64
  val Bands = 16
  val Threshold = 0.7
  val SimThreshold = 0.95
  /** 8 hyperplane bits per band: ~30 docs per bucket, under the cap. */
  val SimPlanes = 32
  val SimBands = 4
  val RecallFloor = 0.95
  val MinRounds = 1
  /** Timed warm: its first round is mostly code generation and JIT
    * compilation, and its time varied by IQR/median 0.22 over eight seeds. */
  val WarmupRounds = 1
}
