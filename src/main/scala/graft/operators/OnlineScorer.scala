package graft.operators

import org.apache.spark.ml.{PipelineModel, Transformer}

/** Driver-local row-at-a-time serving — the reference's ONLINE deploy shape
  * (RunBench.py:41, 66-77 scores one-row frames through the exported ONNX
  * graph). The Spark analog (SURVEY §3.3): a fitted `PipelineModel`'s state
  * is frozen driver-side maps and scalars for every small-dictionary stage,
  * so a single row can be scored as a plain Scala function — no Spark job,
  * no task scheduling, microseconds per call. `compile` walks the fitted
  * stages once and returns a closure chain; row parity with batch
  * `model.transform` is asserted operator-by-operator in OnlineScorerSpec.
  *
  * Scope: stages whose fitted state is driver-resident (encoder
  * dictionaries held as driver maps, scaler scalars, global aggregates,
  * one-hot category lists, stateless string/map/hash transforms). An
  * encoder whose [[FittedLookup]] is a distributed relation throws
  * [[NotDriverResidentException]].
  */
object OnlineScorer {
  /** One serving row: column name → value (null for SQL NULL). */
  type OnlineRow = Map[String, Any]

  /** Compile a fitted pipeline into a driver-local scoring function. */
  def compile(model: PipelineModel): OnlineRow => OnlineRow = {
    val fns = model.stages.map(stageFn)
    row => fns.foldLeft(row)((r, f) => f(r))
  }

  /** Mirror of Spark's numeric/string `cast(StringType)` for the value
    * types the testdata tables carry (Java `toString` matches Spark's
    * UTF8String formatting for int/long/double/boolean/string). */
  private def str(v: Any): String = v.toString

  /** Spark-`cast("string")`-compatible rendering for HASH KEYS: for
    * strings, booleans and integrals the JVM `toString` and Spark's
    * string cast agree, so the online bucket equals the batch bucket.
    * For everything else (doubles like `1.0E7`, timestamps, decimals)
    * the two renderings DIVERGE and the online vector would land in a
    * different bucket than the batch vector — breaking the
    * online == batch parity contract — so refuse loudly (ADVICE r7).
    * This is the SOLE enforcement point (ADVICE r8): batch-side
    * [[FeatureHasher.transformDF]] stays permissive because
    * cast("string") at both fit and transform is self-consistent for
    * batch-only pipelines and persisted models — the divergence only
    * exists once a row is scored here. */
  private def castStr(v: Any): String = v match {
    case s: String => s
    case _: java.lang.Boolean | _: java.lang.Integer | _: java.lang.Long |
        _: java.lang.Short | _: java.lang.Byte => v.toString
    case other => throw new UnsupportedOperationException(
      s"online hash key of type ${other.getClass.getName}: JVM toString " +
        "differs from Spark's string cast for non-integral types — cast " +
        "the column to string upstream")
  }

  private def numOpt(v: Any): Option[Double] = v match {
    case null => None
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  private def name(stage: Transformer): String = stage.getClass.getSimpleName

  private def unsupported(stage: Transformer, why: String): Nothing =
    throw new UnsupportedOperationException(
      s"OnlineScorer: ${name(stage)} — $why")

  private def stageFn(stage: Transformer): OnlineRow => OnlineRow =
    stage match {
      case m: ComplementLabelEncoderModel =>
        val dicts = m.dicts.map(_.driverMap(name(m))).zip(m.sentinelCodes)
        row => m.ins.zip(m.outs).zip(dicts).foldLeft(row) {
          case (r, ((in, out), (mm, sc))) =>
            val key = Option(r.getOrElse(in, null)).map(str)
              .getOrElse(ComplementLabelEncoder.Sentinel)
            r + (out -> mm.getOrElse(key, sc))
        }

      case m: FrequencyEncoderModel =>
        val dicts = m.dicts.map(_.driverMap(name(m)))
        row => m.ins.zip(m.outs).zip(dicts).foldLeft(row) {
          case (r, ((in, out), mm)) =>
            val hit = Option(r.getOrElse(in, null))
              .flatMap(v => mm.get(str(v)))
            val value: Any =
              if (m.normalize) hit.getOrElse(0.0)
              else hit.getOrElse(1.0).toLong
            r + (out -> value)
        }

      case m: AggregatorModel =>
        if (m.groupby.nonEmpty)
          unsupported(m, "grouped lookup state is a relation, not a map")
        row => m.outs.zip(m.globals).foldLeft(row) {
          case (r, (out, v)) => r + (out -> v)
        }

      case m: ScalerModel =>
        row => m.ins.zip(m.outs).zip(m.stats).foldLeft(row) {
          case (r, ((in, out), st)) =>
            val minD = Option(st.minRaw).fold(0.0)(_.toString.toDouble)
            val result: Any = (m.strategy, r.getOrElse(in, null)) match {
              case (_, null) => null
              // `min` keeps the column's type (int stays int)
              case ("min", a: java.lang.Integer) =>
                a.intValue - st.minRaw.asInstanceOf[Number].intValue
              case ("min", a: java.lang.Long) =>
                a.longValue - st.minRaw.asInstanceOf[Number].longValue
              case ("min", a) => numOpt(a).get - minD
              case ("minmax", a) =>
                val x = numOpt(a).get
                val denom = st.max - minD
                if (denom == 0.0) x - minD else (x - minD) / denom
              case ("standard", a) =>
                val sd = if (st.stdPop == 0.0) 1.0 else st.stdPop
                (numOpt(a).get - st.mean) / sd
              case ("robust", a) =>
                val sc = if (st.iqr == 0.0) 1.0 else st.iqr
                (numOpt(a).get - st.median) / sc
              case (other, _) =>
                unsupported(m, s"strategy $other")
            }
            r + (out -> result)
        }

      case m: OneHotEncoderModel =>
        row => m.cols.zip(m.categories).foldLeft(row) {
          case (r, (c, cats)) =>
            val v = Option(r.getOrElse(c, null)).map(str)
            cats.foldLeft(r)((rr, cat) =>
              rr + (s"${c}__$cat" -> (if (v.contains(cat)) 1.0 else 0.0)))
        }

      case m: TargetEncoderModel =>
        // serve path only (transformDF): all-data smoothed mean; the
        // leave-own-fold-out train path is a training-time construct
        val fulls = m.full.map(_.driverMap(name(m)))
        row => m.ins.zip(m.outs).zip(fulls).foldLeft(row) {
          case (r, ((in, out), full)) =>
            val v = Option(r.getOrElse(in, null))
              .flatMap(v => full.get(str(v))).getOrElse(m.prior)
            r + (out -> v)
        }

      case m: WoeEncoderModel =>
        val maps = m.states.map(_.driverMap(name(m)))
        row => m.ins.zip(m.outs).zip(maps).foldLeft(row) {
          case (r, ((in, out), woe)) =>
            val v = Option(r.getOrElse(in, null))
              .flatMap(v => woe.get(str(v))).getOrElse(0.0)
            r + (out -> v)
        }

      case t: HashingEncoder =>
        row => t.inputs.zip(t.outputs).foldLeft(row) {
          case (r, (in, out)) =>
            val result: Any = r.getOrElse(in, null) match {
              case null => null
              case v =>
                // castStr, not toString: the batch side hashes Spark's
                // string cast of the column (same parity contract as
                // FeatureHasher below)
                val h = graft.functions.Md5Hash60.top60(
                  s"$in=${castStr(v)}".getBytes("UTF-8"))
                val b = t.numBuckets.toLong
                (((h % b) + b) % b).toInt
            }
            r + (out -> result)
        }

      case t: FeatureHasher =>
        // the batch expression, arithmetic step for step: md5 bucket,
        // independent md5 sign, LONG-unit accumulation, exact /scale
        def h60(s: String): Long =
          graft.functions.Md5Hash60.top60(s.getBytes("UTF-8"))
        def signOf(key: String): Long =
          if (h60(s"s:$key") % 2 == 0) 1L else -1L
        row => {
          val units = new Array[Long](t.nBuckets)
          t.catCols.foreach { c =>
            Option(row.getOrElse(c, null)).foreach { v =>
              val key = s"$c=${castStr(v)}"
              units((h60(key) % t.nBuckets).toInt) += signOf(key) * t.scale
            }
          }
          t.numCols.foreach { c =>
            Option(row.getOrElse(c, null)).flatMap(numOpt).filterNot(_.isNaN).foreach { x =>
              units((h60(c) % t.nBuckets).toInt) +=
                signOf(c) * math.floor(x * t.scale).toLong
            }
          }
          row + (t.outputCol -> units.map(_.toDouble / t.scale).toSeq)
        }

      case t: MapTransformer =>
        row => t.inputs.zip(t.outputs).foldLeft(row) {
          case (r, (in, out)) =>
            val v = r.getOrElse(in, null)
            var e: Any =
              if (t.regex) {
                // sequential regexp_replace over the string form; a null
                // input stays null through the whole chain
                if (v == null) null
                else t.mapping.foldLeft(str(v)) { case (acc, (k, vv)) =>
                  acc.replaceAll(k.toString, vv.toString)
                }
              } else {
                // first matching key wins (when-chain order); null key
                // matches null input; unmatched keeps the original
                t.mapping.find { case (k, _) =>
                  if (k == null) v == null
                  else v != null && (v == k ||
                    (for (a <- numOpt(v); b <- numOpt(k)) yield a == b)
                      .getOrElse(false))
                }.map(_._2).getOrElse(v)
              }
            t.defaultValue.foreach { dv =>
              val vals = t.mapping.map(_._2).filter(_ != null)
              if (e == null || !vals.contains(e)) e = dv
            }
            if (t.dtype.nonEmpty)
              unsupported(t, "dtype cast not supported online")
            r + (out -> e)
        }

      case t: StringConcatenator =>
        def strip(s: String): String =
          s.replaceAll("0+$", "").replaceAll("\\.+$", "")
        row => t.inputs.zip(t.outputs).foldLeft(row) {
          case (r, (tuple, out)) =>
            val vs = tuple.map(c => r.getOrElse(c, null))
            val e: Any =
              if (tuple.lengthCompare(1) == 0) vs.head
              else if (vs.contains(null)) null // concat null-propagates
              else vs.tail.foldLeft(str(vs.head)) { (acc, v) =>
                strip(acc) + t.separator + strip(str(v))
              }
            r + (out -> e)
        }

      case t: ColumnSelector =>
        row =>
          if (t.drop) row -- t.columns
          else t.columns.map(c => c -> row.getOrElse(c, null)).toMap

      case other =>
        unsupported(other, "stage has no online scoring path")
    }
}
