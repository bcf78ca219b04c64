package graft.operators

import org.apache.spark.ml.{Estimator, Model, PipelineStage, Transformer}
import org.apache.spark.ml.graft.MLBridge
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Shared-scan fit fusion — the fit-time analog of Catalyst's shared-subplan
  * reuse, applied across pipeline stages.
  *
  * `Pipeline.fit` runs every estimator's fit as its own Spark job(s), so a
  * fraud-shaped pipeline (ComplementLabelEncoder + FrequencyEncoder +
  * grouped Aggregator, all keyed on the same composite column —
  * FraudDetection1.py:135-152) scans and shuffles the training frame once
  * PER STAGE even though all three fits are aggregations over the same
  * `groupBy(key)`. At 100 TB that's three full scans + three shuffles where
  * one suffices. This pass groups consecutive, mutually-independent
  * estimator fits and serves each group from ONE aggregation job:
  *
  *  - '''keyed fits''' (label-encoder vocabulary, frequency counts, one-hot
  *    categories, grouped training aggregates) sharing one key column fuse
  *    into a single `groupBy(key).agg(count, aggs…)`;
  *  - '''scalar fits''' (Scaler min/max/mean/std, global Aggregator) fuse
  *    into a single `df.agg(…)` row.
  *
  * Semantics are bit-identical to the per-stage fits (same stringification,
  * same null handling, same lexicographic vocabulary order) — asserted
  * stage-by-stage in FusionSpec and end-to-end by the unchanged q_pipeline /
  * q_pipeline_catenc oracles. Fusion is only attempted where it is provably
  * safe: a stage joins a fusion run only if its fit inputs are untouched by
  * the outputs of every earlier stage in the run, grouped Aggregators fuse
  * only on string keys (their fit groups by the RAW key; the fused scan
  * groups by the stringified key — identical only when the key is already a
  * string), and a fused vocabulary falling above `maxCollect` falls back to
  * the stages' own fits (which then take their distributed-lookup paths).
  */
object FitFusion {
  /** Fusable-fit descriptor for one estimator. */
  private sealed trait Part {
    def stage: Estimator[_]
    /** Columns the fit reads. */
    def fitInputs: Set[String]
    /** Columns the transform writes (None = statically unknown). */
    def outCols: Option[Set[String]]
  }
  private case class KeyedPart(stage: Estimator[_], key: String,
      fitInputs: Set[String], outCols: Option[Set[String]],
      maxCollect: Long) extends Part
  private case class ScalarPart(stage: Estimator[_],
      fitInputs: Set[String], outCols: Option[Set[String]]) extends Part

  private def partOf(st: PipelineStage, schema: StructType): Option[Part] =
    st match {
      case e: ComplementLabelEncoder =>
        val (ins, outs, maxCollect) = e.fuseInfo
        if (ins.length != 1) None // _PARM_ALL / multi-column: own fit
        else Some(KeyedPart(e, ins.head, ins.toSet,
          Some((if (outs.isEmpty) ins else outs).toSet), maxCollect))
      case e: FrequencyEncoder =>
        val (ins, outs, _, maxCollect) = e.fuseInfo
        if (ins.length != 1) None
        else Some(KeyedPart(e, ins.head, ins.toSet, Some(outs.toSet),
          maxCollect))
      case e: OneHotEncoder =>
        e.fuseCols match {
          // output names depend on fitted categories → statically unknown
          case Seq(c) => Some(KeyedPart(e, c, Set(c), None,
            ComplementLabelEncoder.DefaultMaxCollect))
          case _ => None
        }
      case e: Aggregator =>
        val (ins, outs, groupby, _) = e.fuseInfo
        if (groupby.isEmpty)
          Some(ScalarPart(e, ins.toSet, Some(outs.toSet)))
        else if (groupby.distinct.length == 1 &&
            schema.fieldNames.contains(groupby.head) &&
            schema(groupby.head).dataType == StringType)
          Some(KeyedPart(e, groupby.head, ins.toSet + groupby.head,
            Some(outs.toSet), Aggregator.CollectMax))
        else None
      case e: Scaler =>
        val (ins, outs, strategy) = e.fuseInfo
        if (strategy == "robust") None // quantile fit: multi-pass, no fusion
        else Some(ScalarPart(e, ins.toSet, Some(outs.toSet)))
      case e: Winsorizer =>
        if (e.isDistributed) None // multi-pass fit: nothing to fuse into
        else {
          val (ins, outs, _, _) = e.fuseInfo
          Some(ScalarPart(e, ins.toSet, Some(outs.toSet)))
        }
      case e: QuantileBinner =>
        if (e.isDistributed) None // multi-pass fit: nothing to fuse into
        else {
          val (ins, outs, _) = e.fuseInfo
          Some(ScalarPart(e, ins.toSet, Some(outs.toSet)))
        }
      case _ => None
    }

  /** Longest prefix of `stages` (from `from`) that can fit against the
    * frame as it stands at `from` — every stage fusable and reading only
    * columns no earlier run member writes. */
  private def fusionRun(
      stages: Array[PipelineStage], from: Int,
      schema: StructType): Seq[Part] = {
    val run = ArrayBuffer.empty[Part]
    var written = Set.empty[String]
    var unknownWrites = false
    var j = from
    var done = false
    while (j < stages.length && !done) {
      partOf(stages(j), schema) match {
        case Some(p)
            if p.fitInputs.intersect(written).isEmpty &&
              // after a statically-unknown writer (OneHot), only inputs that
              // can't collide with its `col__cat` outputs are safe
              (!unknownWrites || p.fitInputs.forall(!_.contains("__"))) =>
          run += p
          written ++= p.outCols.getOrElse(Set.empty)
          if (p.outCols.isEmpty) unknownWrites = true
          j += 1
        case _ => done = true
      }
    }
    run.toSeq
  }

  /** Does fusing this run actually save jobs? */
  private def worthFusing(run: Seq[Part]): Boolean = {
    val keyed = run.collect { case p: KeyedPart => p }
    val scalar = run.collect { case p: ScalarPart => p }
    keyed.groupBy(_.key).values.exists(_.size >= 2) || scalar.size >= 2
  }

  /** Drop-in replacement for `Pipeline.fit` with fit fusion. Returns a
    * plain `PipelineModel`; interleaving semantics match Spark's (each fit
    * sees all earlier transforms; stages after the last estimator are not
    * executed at fit time). */
  def fitPipeline(
      stages: Array[PipelineStage], df: DataFrame): PipelineModel = {
    // same upfront schema-chain validation as Pipeline.fit
    stages.foldLeft(df.schema)((s, st) => st.transformSchema(s))
    val lastEst = stages.lastIndexWhere(_.isInstanceOf[Estimator[_]])
    val fitted = ArrayBuffer.empty[Transformer]
    var cur = df
    var i = 0
    while (i < stages.length) {
      stages(i) match {
        case est: Estimator[_] =>
          val run = fusionRun(stages, i, cur.schema)
          val models: Seq[Transformer] =
            if (run.length >= 2 && worthFusing(run)) fuseRun(run, cur)
            else Seq(fitOne(est, cur))
          models.foreach { m =>
            fitted += m
            if (i < lastEst) cur = m.transform(cur).toDF()
            i += 1
          }
        case t: Transformer =>
          fitted += t
          if (i < lastEst) cur = t.transform(cur).toDF()
          i += 1
        case other => throw new IllegalArgumentException(
          s"stage ${other.getClass.getName} is neither Estimator nor " +
            "Transformer")
      }
    }
    MLBridge.pipelineModel(fitted.toArray)
  }

  /** Fit every part of a run against the run's base frame, fusing keyed
    * groups and the scalar group; models returned in stage order. */
  private def fuseRun(run: Seq[Part], df: DataFrame): Seq[Transformer] = {
    val models = new Array[Transformer](run.length)
    val idx = run.zipWithIndex

    val keyedGroups = idx.collect { case (p: KeyedPart, i) => (p, i) }
      .groupBy(_._1.key)
    keyedGroups.foreach { case (key, parts) =>
      if (parts.size >= 2) {
        fuseKeyed(df, key, parts.map(_._1)) match {
          case Some(ms) =>
            parts.map(_._2).zip(ms).foreach { case (i, m) => models(i) = m }
          case None => // vocabulary overflow → per-stage fits (distributed lookups)
            parts.foreach { case (p, i) => models(i) = fitOne(p.stage, df) }
        }
      } else parts.foreach { case (p, i) => models(i) = fitOne(p.stage, df) }
    }

    val scalars = idx.collect { case (p: ScalarPart, i) => (p, i) }
    if (scalars.size >= 2) {
      val ms = fuseScalar(df, scalars.map(_._1))
      scalars.map(_._2).zip(ms).foreach { case (i, m) => models(i) = m }
    } else scalars.foreach { case (p, i) => models(i) = fitOne(p.stage, df) }

    models.toSeq
  }

  private def fitOne(est: Estimator[_], df: DataFrame): Transformer =
    est.fit(df).asInstanceOf[Transformer]

  /** One `groupBy(key)` serves every keyed fit: group keys are the
    * vocabulary (nulls ride along as the null group), `count(*)` the
    * frequencies, and the grouped Aggregators contribute their aggregate
    * expressions. Collected through a `limit(maxCollect+1)` guard — a
    * single job; on overflow returns None and the stages refit themselves
    * distributedly. */
  private def fuseKeyed(
      df: DataFrame, key: String,
      parts: Seq[KeyedPart]): Option[Seq[Transformer]] = {
    val S = ComplementLabelEncoder.Sentinel
    val aggParts = parts.zipWithIndex
      .collect { case (p @ KeyedPart(a: Aggregator, _, _, _, _), i) =>
        (a, i)
      }
    val aggExprs = ArrayBuffer[Column](count(lit(1)).as("__cnt"))
    aggParts.foreach { case (a, i) =>
      val (ins, outs, _, _) = a.fuseInfo
      ins.zip(outs).foreach { case (in, out) =>
        aggExprs += a.fuseAgg(col(in)).as(s"__v_${i}_$out")
      }
    }
    val base = df.groupBy(col(key).cast(StringType).as("__k"))
      .agg(aggExprs.head, aggExprs.tail.toSeq: _*)
    val maxCollect = math.min(parts.map(_.maxCollect).min,
      Int.MaxValue - 2L).toInt
    // coalesce(1): the final reduce of a vocab-sized aggregate runs in one
    // task, so the guarded collect is exactly ONE job (executeTake would
    // otherwise probe the 32 reduce partitions incrementally = several jobs)
    val rows = base.coalesce(1).limit(maxCollect + 1).collect()
    if (rows.length > maxCollect) return None

    val nonNull = rows.filterNot(_.isNullAt(0))
    val total = nonNull.map(_.getLong(1)).sum

    Some(parts.zipWithIndex.map { case (p, i) =>
      p.stage match {
        case e: ComplementLabelEncoder =>
          val (ins, outs0, _) = e.fuseInfo
          val outs = if (outs0.isEmpty) ins else outs0
          val vals = rows
            .map(r => if (r.isNullAt(0)) S else r.getString(0))
            .distinct.sorted
          val classes = if (vals.contains(S)) vals else vals :+ S
          val m = classes.zipWithIndex.toMap
          new ComplementLabelEncoderModel(ins, outs,
            Seq(FittedLookup(Left(m))), Seq(m(S)))
        case e: FrequencyEncoder =>
          val (ins, outs, normalize, _) = e.fuseInfo
          val m = nonNull.map { r =>
            r.getString(0) -> (if (normalize) r.getLong(1) / total.toDouble
                               else r.getLong(1).toDouble)
          }.toMap
          new FrequencyEncoderModel(ins, outs, normalize,
            Seq(FittedLookup(Left(m))))
        case e: OneHotEncoder =>
          new OneHotEncoderModel(e.fuseCols,
            Seq(nonNull.map(_.getString(0)).distinct.sorted.toSeq))
        case a: Aggregator =>
          val (ins, outs, groupby, func) = a.fuseInfo
          val schema = StructType(
            StructField("__agg_k", StringType) +:
              outs.map(o => StructField(s"__agg_v_$o",
                base.schema(s"__v_${i}_$o").dataType)))
          val lookupRows: Seq[Row] = nonNull.map { r =>
            Row.fromSeq(r.getString(0) +:
              outs.map(o => r.get(r.fieldIndex(s"__v_${i}_$o"))))
          }.toSeq
          val lookup = df.sparkSession.createDataFrame(
            new java.util.ArrayList[Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(lookupRows).asJava),
            schema)
          new AggregatorModel(ins, outs, groupby, func, Nil,
            Seq(AggLookup(key, outs, lookup, broadcastable = true)))
      }
    })
  }

  /** One `df.agg(…)` row serves every scalar fit (Scaler stats, global
    * Aggregator values). */
  private def fuseScalar(
      df: DataFrame, parts: Seq[ScalarPart]): Seq[Transformer] = {
    val exprs = ArrayBuffer.empty[Column]
    val offsets = parts.map { p =>
      val off = exprs.length
      p.stage match {
        case s: Scaler =>
          val (ins, _, _) = s.fuseInfo
          ins.foreach { c =>
            exprs ++= Seq(min(col(c)), max(col(c)).cast(DoubleType),
              avg(col(c)), stddev_pop(col(c)))
          }
        case a: Aggregator =>
          val (ins, _, _, _) = a.fuseInfo
          ins.foreach(c => exprs += a.fuseAgg(col(c)))
        case w: Winsorizer =>
          val (ins, _, lo, hi) = w.fuseInfo
          ins.foreach(c =>
            exprs += percentile(col(c), array(lit(lo), lit(hi))))
        case q: QuantileBinner =>
          val (ins, _, ps) = q.fuseInfo
          ins.foreach(c =>
            exprs += percentile(col(c), array(ps.map(lit(_)): _*)))
      }
      off
    }
    val row = df.agg(exprs.head, exprs.tail.toSeq: _*).head()
    parts.zip(offsets).map { case (p, off) =>
      p.stage match {
        case s: Scaler =>
          val (ins, outs, strategy) = s.fuseInfo
          val stats = ins.indices.map { i =>
            ScalerStats(
              minRaw = row.get(off + i * 4),
              max = Option(row.get(off + i * 4 + 1))
                .fold(0.0)(_.asInstanceOf[Double]),
              mean = Option(row.get(off + i * 4 + 2))
                .fold(0.0)(_.asInstanceOf[Double]),
              stdPop = Option(row.get(off + i * 4 + 3))
                .fold(0.0)(_.asInstanceOf[Double]))
          }
          new ScalerModel(ins, outs, strategy, stats)
        case a: Aggregator =>
          val (ins, outs, _, func) = a.fuseInfo
          new AggregatorModel(ins, outs, Nil, func,
            ins.indices.map(i => row.get(off + i)), Nil)
        case w: Winsorizer =>
          val (ins, outs, _, _) = w.fuseInfo
          new WinsorizerModel(ins, outs,
            WinsorizerModel.boundsOf(row, ins.length, off))
        case q: QuantileBinner =>
          val (ins, outs, _) = q.fuseInfo
          val cuts = ins.indices.map(i => Option(row.get(off + i))
            .map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq))
          new QuantileBinnerModel(ins, outs, cuts)
      }
    }
  }
}
