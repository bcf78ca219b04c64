package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.DataType
import org.json4s._
import org.json4s.jackson.JsonMethods._

/** Fitted-pipeline persistence — the role the reference's ONNX export plays
  * (DataframePipeline.export, SURVEY §3.2): freeze a fitted pipeline to
  * storage and reload it for serving.
  *
  * Layout: `<path>/pipeline.json` (stage params + small fitted state) plus
  * `<path>/data/<i>_<j>/` parquet relations for grouped-Aggregator lookups
  * (which may be too large for JSON, and at 100 TB never pass through the
  * driver at all).
  *
  * `FunctionTransformer` persists when built via `fromOp` (its expression
  * is a serializable [[Op]] tree — the analog of the reference's
  * bytecode→ONNX export for lambda stages); `SetTransformer` persists in
  * its callback-free form. Closure-carrying variants throw at save time
  * with a clear message (code, not state — the reference has the same
  * boundary: its lambdas need the bytecode compiler), as does
  * `WrapTransformerModel` (persist wrapped spark.ml models with spark.ml's
  * own writers).
  */
object GraftPersistence {

  private def anyToJson(v: Any): JValue = LitJson.write(v)
  private def jsonToAny(j: JValue): Any = LitJson.read(j)

  private def strs(j: JValue): Seq[String] =
    j.asInstanceOf[JArray].arr.map { case JString(s) => s; case x => x.toString }
  private def jarr(xs: Seq[JValue]): JArray = JArray(xs.toList)
  private def jstrs(xs: Seq[String]): JArray = jarr(xs.map(JString(_)))
  private def optD(j: JValue): Option[Double] = j match {
    case JDouble(d) => Some(d)
    case JInt(i)    => Some(i.toDouble)
    case _          => None
  }

  private def arr(j: JValue): List[JValue] = j.asInstanceOf[JArray].arr
  private def num(j: JValue): Double = optD(j).getOrElse(
    throw new IllegalArgumentException(j.toString))

  /** One stage's fitted lookups; a distributed one goes to `<rel>_<j>`. */
  private def lookupsJson[T](ls: Seq[FittedLookup[T]], field: String,
      path: String, rel: String,
      extras: Seq[List[JField]] = Seq.empty)(enc: T => JValue): JArray =
    jarr(ls.zipWithIndex.map { case (l, j) =>
      FittedLookup.toJson(l, field, path, s"${rel}_$j",
        extras.lift(j).getOrElse(Nil))(enc) })

  private def stageToJson(
      st: Transformer, idx: Int, path: String): JObject = st match {
    case t: ColumnSelector => JObject(
      "type" -> JString("ColumnSelector"),
      "columns" -> jstrs(t.columns), "drop" -> JBool(t.drop))
    case t: TypeConverter => JObject(
      "type" -> JString("TypeConverter"),
      "columns" -> jstrs(t.columns), "to" -> JString(t.to.json))
    case t: RowTransformer => JObject(
      "type" -> JString("RowTransformer"),
      "columns" -> jstrs(t.columns),
      "dropValues" -> jarr(t.dropValues.map(anyToJson)))
    case t: MapTransformer => JObject(
      "type" -> JString("MapTransformer"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "mapping" -> jarr(t.mapping.map { case (k, v) =>
        JObject("k" -> anyToJson(k), "v" -> anyToJson(v)) }),
      "regex" -> JBool(t.regex),
      "default" -> t.defaultValue.map(anyToJson).getOrElse(JNothing),
      "dtype" -> t.dtype.map(d => JString(d.json)).getOrElse(JNothing))
    case t: StringSplitter => JObject(
      "type" -> JString("StringSplitter"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "separator" -> t.separator.map(JString(_)).getOrElse(JNothing),
      "index" -> t.index.map(i => JInt(i)).getOrElse(JNothing),
      "keep" -> JInt(t.keep))
    case t: StringConcatenator => JObject(
      "type" -> JString("StringConcatenator"),
      "inputs" -> jarr(t.inputs.map(jstrs)),
      "outputs" -> jstrs(t.outputs), "separator" -> JString(t.separator))
    case t: DateTransformer => JObject(
      "type" -> JString("DateTransformer"),
      "column" -> JString(t.column),
      "origin" -> t.origin.map(JString(_)).getOrElse(JNothing))
    case t: Imputer => JObject(
      "type" -> JString("Imputer"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "strategy" -> t.strategy.map(JString(_)).getOrElse(JNothing),
      "value" -> anyToJson(t.value),
      "distributedMedian" -> JBool(t.distributedMedian))
    case t: MinorityTransformer => JObject(
      "type" -> JString("MinorityTransformer"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "threshold" -> JInt(t.threshold),
      "replacedTo" -> anyToJson(t.replacedTo))
    case t: RangeTransformer => JObject(
      "type" -> JString("RangeTransformer"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "rules" -> jarr(t.rules.map { case ((u, l), v) => JObject(
        "upper" -> u.map(JDouble(_)).getOrElse(JNothing),
        "lower" -> l.map(JDouble(_)).getOrElse(JNothing),
        "value" -> anyToJson(v)) }),
      "useAllElements" -> JBool(t.useAllElements))
    case m: ComplementLabelEncoderModel => JObject(
      "type" -> JString("ComplementLabelEncoderModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "dicts" -> lookupsJson(m.dicts, "m", path, s"data/${idx}_cle",
        m.sentinelCodes.map(c => List("sentinelCode" -> JInt(c))))(JInt(_)))
    case m: FrequencyEncoderModel => JObject(
      "type" -> JString("FrequencyEncoderModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "normalize" -> JBool(m.normalize),
      "dicts" -> lookupsJson(m.dicts, "m", path, s"data/${idx}_fe")(JDouble))
    case m: ScalerModel => JObject(
      "type" -> JString("ScalerModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "strategy" -> JString(m.strategy),
      "stats" -> jarr(m.stats.map(s => JObject(
        "minRaw" -> anyToJson(s.minRaw), "max" -> JDouble(s.max),
        "mean" -> JDouble(s.mean), "stdPop" -> JDouble(s.stdPop),
        "median" -> JDouble(s.median), "iqr" -> JDouble(s.iqr)))))
    case m: OneHotEncoderModel => JObject(
      "type" -> JString("OneHotEncoderModel"),
      "cols" -> jstrs(m.cols),
      "categories" -> jarr(m.categories.map(jstrs)))
    case m: WinsorizerModel => JObject(
      "type" -> JString("WinsorizerModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "bounds" -> jarr(m.bounds.map { case (lo, hi) => JObject(
        "lo" -> lo.fold[JValue](JNull)(JDouble(_)),
        "hi" -> hi.fold[JValue](JNull)(JDouble(_))) }))
    case m: QuantileBinnerModel => JObject(
      "type" -> JString("QuantileBinnerModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "cuts" -> jarr(m.cuts.map(
        _.fold[JValue](JNull)(cs => jarr(cs.map(JDouble(_)))))))
    case m: AggregatorModel =>
      val lookupPaths = m.lookups.zipWithIndex.map { case (lk, j) =>
        val rel = s"data/${idx}_$j"
        lk.df.write.mode("overwrite").parquet(s"$path/$rel")
        JObject("path" -> JString(rel), "key" -> JString(lk.key),
          "outs" -> jstrs(lk.outs),
          "broadcastable" -> JBool(lk.broadcastable))
      }
      JObject(
        "type" -> JString("AggregatorModel"),
        "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
        "groupby" -> jstrs(m.groupby), "func" -> JString(m.func),
        "globals" -> jarr(m.globals.map(anyToJson)),
        "lookups" -> jarr(lookupPaths))
    case t: HashingEncoder => JObject(
      "type" -> JString("HashingEncoder"),
      "inputs" -> jstrs(t.inputs), "outputs" -> jstrs(t.outputs),
      "numBuckets" -> JInt(t.numBuckets))
    case t: FeatureHasher => JObject(
      "type" -> JString("FeatureHasher"),
      "catCols" -> jstrs(t.catCols), "numCols" -> jstrs(t.numCols),
      "outputCol" -> JString(t.outputCol),
      "nBuckets" -> JInt(t.nBuckets), "scale" -> JInt(t.scale))
    case m: TargetEncoderModel => JObject(
      "type" -> JString("TargetEncoderModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "idCol" -> JString(m.idCol), "nFolds" -> JInt(m.nFolds),
      "prior" -> JDouble(m.prior),
      // oof keys embed the \u0001 (value, fold) separator — JSON string
      // escaping round-trips control chars faithfully; a distributed
      // `full` relation carries the oof column too
      "states" -> lookupsJson(m.full, "full", path, s"data/${idx}_te",
        m.oof.map(_.state.fold(o => List("oof" -> FittedLookup.mapToJson(o)(
          JDouble)), _ => Nil)))(JDouble))
    case m: WoeEncoderModel => JObject(
      "type" -> JString("WoeEncoderModel"),
      "ins" -> jstrs(m.ins), "outs" -> jstrs(m.outs),
      "states" -> lookupsJson(m.states, "woe", path, s"data/${idx}_woe")(
        JDouble))
    case t: FunctionTransformer if t.op.nonEmpty => JObject(
      "type" -> JString("FunctionTransformer"),
      "inputs" -> jarr(t.inputs.map(jstrs)),
      "outputs" -> jstrs(t.outputs),
      "op" -> Op.toJson(t.op.get))
    case t: SetTransformer if t.outputFunc.isEmpty =>
      def operand(o: Either[String, Seq[String]]): JValue = o match {
        case Left(c)   => JObject("col" -> JString(c))
        case Right(vs) => JObject("values" -> jstrs(vs))
      }
      JObject(
        "type" -> JString("SetTransformer"),
        "first" -> operand(t.firstOperand),
        "second" -> operand(t.secondOperand),
        "operation" -> JString(t.setOperation),
        "output" -> t.outputOperand.map(JString(_)).getOrElse(JNull),
        "orderCol" -> t.orderCol.map(JString(_)).getOrElse(JNull))
    case t: FunctionTransformer => throw new UnsupportedOperationException(
      "this FunctionTransformer carries an opaque Scala closure; build it " +
        "with FunctionTransformer.fromOp (a serializable Op tree) to persist")
    case t: SetTransformer => throw new UnsupportedOperationException(
      "SetTransformer with an outputFunc callback carries code; drop the " +
        "callback (use resultDF) to persist")
    case other => throw new UnsupportedOperationException(
      s"stage ${other.getClass.getSimpleName} is not persistable " +
        "(closure-bearing stages carry code, not state; wrapped spark.ml " +
        "models persist via spark.ml writers)")
  }

  private def stageFromJson(
      j: JValue, spark: SparkSession, path: String): Transformer = {
    val JString(tpe) = j \ "type"
    def lookups[T](v: JValue, field: String)(dec: JValue => T) =
      arr(v).map(FittedLookup.fromJson(_, field, spark, path)(dec))
    def o(field: String): Option[JValue] = j \ field match {
      case JNothing => None
      case x        => Some(x)
    }
    tpe match {
      case "ColumnSelector" =>
        new ColumnSelector(strs(j \ "columns"),
          (j \ "drop").asInstanceOf[JBool].value)
      case "TypeConverter" =>
        new TypeConverter(strs(j \ "columns"),
          DataType.fromJson((j \ "to").asInstanceOf[JString].s))
      case "RowTransformer" =>
        new RowTransformer(strs(j \ "columns"),
          (j \ "dropValues").asInstanceOf[JArray].arr.map(jsonToAny))
      case "MapTransformer" =>
        new MapTransformer(strs(j \ "inputs"), strs(j \ "outputs"),
          (j \ "mapping").asInstanceOf[JArray].arr.map(e =>
            (jsonToAny(e \ "k"), jsonToAny(e \ "v"))),
          (j \ "regex").asInstanceOf[JBool].value,
          o("default").map(jsonToAny),
          o("dtype").map(d => DataType.fromJson(d.asInstanceOf[JString].s)))
      case "StringSplitter" =>
        new StringSplitter(strs(j \ "inputs"), strs(j \ "outputs"),
          o("separator").map(_.asInstanceOf[JString].s),
          o("index").map(_.asInstanceOf[JInt].num.toInt),
          (j \ "keep").asInstanceOf[JInt].num.toInt)
      case "StringConcatenator" =>
        new StringConcatenator(
          (j \ "inputs").asInstanceOf[JArray].arr.map(strs),
          strs(j \ "outputs"), (j \ "separator").asInstanceOf[JString].s)
      case "DateTransformer" =>
        new DateTransformer((j \ "column").asInstanceOf[JString].s,
          o("origin").map(_.asInstanceOf[JString].s))
      case "Imputer" =>
        new Imputer(strs(j \ "inputs"), strs(j \ "outputs"),
          o("strategy").map(_.asInstanceOf[JString].s),
          jsonToAny(j \ "value"),
          o("distributedMedian").exists(_.asInstanceOf[JBool].value))
      case "MinorityTransformer" =>
        new MinorityTransformer(strs(j \ "inputs"), strs(j \ "outputs"),
          (j \ "threshold").asInstanceOf[JInt].num.toLong,
          jsonToAny(j \ "replacedTo"))
      case "RangeTransformer" =>
        new RangeTransformer(strs(j \ "inputs"), strs(j \ "outputs"),
          (j \ "rules").asInstanceOf[JArray].arr.map(r =>
            ((optD(r \ "upper"), optD(r \ "lower")), jsonToAny(r \ "value"))),
          (j \ "useAllElements").asInstanceOf[JBool].value)
      case "ComplementLabelEncoderModel" =>
        new ComplementLabelEncoderModel(strs(j \ "ins"), strs(j \ "outs"),
          lookups(j \ "dicts", "m")(_.asInstanceOf[JInt].num.toInt),
          arr(j \ "dicts").map(d =>
            (d \ "sentinelCode").asInstanceOf[JInt].num.toInt))
      case "FrequencyEncoderModel" =>
        new FrequencyEncoderModel(strs(j \ "ins"), strs(j \ "outs"),
          (j \ "normalize").asInstanceOf[JBool].value,
          lookups(j \ "dicts", "m")(num))
      case "ScalerModel" =>
        new ScalerModel(strs(j \ "ins"), strs(j \ "outs"),
          (j \ "strategy").asInstanceOf[JString].s,
          (j \ "stats").asInstanceOf[JArray].arr.map(s => ScalerStats(
            jsonToAny(s \ "minRaw"),
            (s \ "max").asInstanceOf[JDouble].num,
            (s \ "mean").asInstanceOf[JDouble].num,
            (s \ "stdPop").asInstanceOf[JDouble].num,
            // absent in pipelines saved before the robust strategy
            optD(s \ "median").getOrElse(0.0),
            optD(s \ "iqr").getOrElse(0.0))))
      case "OneHotEncoderModel" =>
        new OneHotEncoderModel(strs(j \ "cols"),
          (j \ "categories").asInstanceOf[JArray].arr.map(strs))
      case "WinsorizerModel" =>
        new WinsorizerModel(strs(j \ "ins"), strs(j \ "outs"),
          (j \ "bounds").asInstanceOf[JArray].arr.map(b =>
            (optD(b \ "lo"), optD(b \ "hi"))))
      case "QuantileBinnerModel" =>
        new QuantileBinnerModel(strs(j \ "ins"), strs(j \ "outs"),
          (j \ "cuts").asInstanceOf[JArray].arr.map {
            case JNull => None
            case a: JArray =>
              Some(a.arr.map(_.asInstanceOf[JDouble].num))
            case other => throw new IllegalArgumentException(
              s"bad cuts entry: $other")
          })
      case "AggregatorModel" =>
        new AggregatorModel(strs(j \ "ins"), strs(j \ "outs"),
          strs(j \ "groupby"), (j \ "func").asInstanceOf[JString].s,
          (j \ "globals").asInstanceOf[JArray].arr.map(jsonToAny),
          (j \ "lookups").asInstanceOf[JArray].arr.map { lk =>
            AggLookup(
              (lk \ "key").asInstanceOf[JString].s,
              strs(lk \ "outs"),
              spark.read.parquet(
                s"$path/${(lk \ "path").asInstanceOf[JString].s}"),
              (lk \ "broadcastable").asInstanceOf[JBool].value)
          })
      case "HashingEncoder" =>
        new HashingEncoder(strs(j \ "inputs"), strs(j \ "outputs"),
          (j \ "numBuckets").asInstanceOf[JInt].num.toInt)
      case "FeatureHasher" =>
        new FeatureHasher(strs(j \ "catCols"), strs(j \ "numCols"),
          (j \ "outputCol").asInstanceOf[JString].s,
          (j \ "nBuckets").asInstanceOf[JInt].num.toInt,
          (j \ "scale").asInstanceOf[JInt].num.toLong)
      case "TargetEncoderModel" =>
        val full = lookups(j \ "states", "full")(num)
        new TargetEncoderModel(strs(j \ "ins"), strs(j \ "outs"),
          (j \ "idCol").asInstanceOf[JString].s,
          (j \ "nFolds").asInstanceOf[JInt].num.toInt,
          (j \ "prior").asInstanceOf[JDouble].num,
          full.zip(arr(j \ "states")).map { case (f, st) =>
            TargetEncoderModel.oofOf(f,
              FittedLookup.mapFromJson(st \ "oof")(num)) },
          full)
      case "WoeEncoderModel" =>
        new WoeEncoderModel(strs(j \ "ins"), strs(j \ "outs"),
          lookups(j \ "states", "woe")(num))
      case "FunctionTransformer" =>
        FunctionTransformer.fromOp(
          (j \ "inputs").asInstanceOf[JArray].arr.map(strs),
          strs(j \ "outputs"), Op.fromJson(j \ "op"))
      case "SetTransformer" =>
        def operand(v: JValue): Either[String, Seq[String]] = v \ "col" match {
          case JString(c) => Left(c)
          case _          => Right(strs(v \ "values"))
        }
        def optStr(v: JValue): Option[String] = v match {
          case JString(s) => Some(s)
          case _          => None
        }
        new SetTransformer(operand(j \ "first"), operand(j \ "second"),
          (j \ "operation").asInstanceOf[JString].s,
          outputFunc = None,
          outputOperand = optStr(j \ "output"),
          orderCol = optStr(j \ "orderCol"))
      case other =>
        throw new IllegalArgumentException(s"unknown stage type $other")
    }
  }

  def save(model: PipelineModel, path: String): Unit = {
    Files.createDirectories(Paths.get(path))
    val stages = model.stages.zipWithIndex.map { case (st, i) =>
      stageToJson(st, i, path)
    }
    val json = compact(render(JObject("stages" -> jarr(stages.toSeq))))
    Files.writeString(Paths.get(s"$path/pipeline.json"), json)
  }

  def load(spark: SparkSession, path: String): LoadedPipelineModel = {
    val j = parse(Files.readString(Paths.get(s"$path/pipeline.json")))
    val stages = (j \ "stages").asInstanceOf[JArray].arr
      .map(s => stageFromJson(s, spark, path))
    new LoadedPipelineModel(stages)
  }
}

/** A reloaded fitted pipeline: folds its transformer stages like
  * `PipelineModel.transform` (whose constructor is private[ml]). */
class LoadedPipelineModel(val stages: Seq[Transformer])
    extends GraftTransformer {
  override def transformDF(df: org.apache.spark.sql.DataFrame) =
    stages.foldLeft(df)((d, st) => st.transform(d).toDF())
}
