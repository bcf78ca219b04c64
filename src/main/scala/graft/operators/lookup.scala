package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.json4s._

/** The fitted state of every dictionary encoder (ComplementLabelEncoder,
  * FrequencyEncoder, TargetEncoder, WoeEncoder): a `key -> T` dictionary,
  * either a driver map (vocabulary ≤ the encoder's `maxCollect`) or a
  * persisted relation that never touches the driver (SCALE.md known-limit
  * #1 — the 100 TB path). A relation's leading columns are the key, its
  * last column the value.
  *
  * The companion owns every step of the collect-or-distribute decision:
  * [[FittedLookup.fit]] picks the form, [[FittedLookup.attach]] picks the
  * join (literal map, broadcast of the driver map, or a plain join of the
  * relation), [[FittedLookup.toJson]]/[[FittedLookup.fromJson]] save and
  * load either form, and [[driverMap]] is the only driver-side access. */
final case class FittedLookup[T](state: Either[Map[String, T], DataFrame]) {
  def isDistributed: Boolean = state.isRight

  /** The driver map; a distributed lookup refuses with
    * [[NotDriverResidentException]] naming `stage`. */
  def driverMap(stage: String): Map[String, T] =
    state.fold(identity, _ => throw new NotDriverResidentException(stage))
}

/** Driver-local scoring met a stage whose fitted lookup is a distributed
  * relation: at that cardinality the state does not fit a serving process
  * and belongs behind `transform` or a streaming join
  * ([[graft.streaming.Streaming.score]]). */
final class NotDriverResidentException(stage: String)
    extends UnsupportedOperationException(
      s"OnlineScorer: $stage — fitted lookup is a distributed relation, " +
        "not driver-resident")

object FittedLookup {
  /** Above this size a driver map is applied as a broadcast hash join of a
    * lookup relation instead of a literal in-plan map — `element_at` on a
    * literal `MapType` is a per-row linear scan, fine for small encoder
    * dictionaries, wrong for high-cardinality keys (SURVEY §7.1.3). */
  val LiteralMapMax = 1000

  /** Fit-time form: `collect` when the counted vocabulary `size` is at most
    * `maxCollect`, else persist `relation` and materialize it, so the
    * caller may release the fit's intermediate cache. */
  def fit[T](size: Long, maxCollect: Long)(collect: => Map[String, T])(
      relation: => DataFrame): FittedLookup[T] =
    if (size <= maxCollect) FittedLookup(Left(collect))
    else {
      val r = relation.persist()
      r.count()
      FittedLookup(Right(r))
    }

  /** [[fit]] of a `(value, v)` relation, collected as it stands. */
  def fit[T](size: Long, maxCollect: Long, relation: DataFrame)
      : FittedLookup[T] =
    fit[T](size, maxCollect)(relation.collect()
      .map(r => r.getString(0) -> r.getAs[T](1)).toMap)(relation)

  /** Joins `lookup` onto `df` and returns the frame, the looked-up value
    * (null on a miss) and the temporary columns to drop once it is used.
    * A driver map is probed with `key`, a relation joined on `relKeys`. */
  def attach[T: TypeTag](df: DataFrame, key: Column, relKeys: Seq[Column],
      lookup: FittedLookup[T], tag: String)
      : (DataFrame, Column, Seq[String]) = {
    val v = s"__${tag}_v"
    lookup.state match {
      case Left(m) if m.size <= LiteralMapMax =>
        (df, if (m.isEmpty) lit(null) else try_element_at(typedLit(m), key),
          Nil)
      case Left(m) =>
        val k = s"__${tag}_k"
        val rel = df.sparkSession
          .createDataset(m.toSeq)(ExpressionEncoder[(String, T)]()).toDF(k, v)
        (df.join(broadcast(rel), key === col(k), "left"), col(v), Seq(k, v))
      case Right(rel) =>
        // no broadcast hint: the relation may be huge; AQE decides
        val ks = relKeys.indices.map(i => s"__${tag}_k$i")
        val cs = rel.columns
        val l = rel.select(cs.take(ks.size).zip(ks).map { case (c, n) =>
          col(c).as(n) } :+ col(cs.last).as(v): _*)
        // projecting a wider relation onto (key, value) repeats rows
        val dedup = if (cs.length > ks.size + 1) l.distinct() else l
        val on = relKeys.zip(ks).map { case (c, n) => c === col(n) }
        (df.join(dedup, on.reduce(_ && _), "left"), col(v), ks :+ v)
    }
  }

  /** `out = finish(coalesce(lookup(key), default))`. */
  def withLookup[T: TypeTag](df: DataFrame, out: String, key: Column,
      lookup: FittedLookup[T], default: Column, finish: Column => Column,
      tag: String): DataFrame = {
    val (d, hit, tmp) = attach(df, key, Seq(key), lookup, tag)
    d.withColumn(out, finish(coalesce(hit, default))).drop(tmp: _*)
  }

  /** A saved lookup: `"kind"`, then `extra`, then the driver map inline
    * under `field` ("small") or the relation written as parquet at
    * `path/rel` and referenced by `"path"` ("big"). */
  def toJson[T](l: FittedLookup[T], field: String, path: String,
      rel: String, extra: List[JField] = Nil)(enc: T => JValue): JObject =
    l.state match {
      case Left(m) => JObject(("kind" -> JString("small")) :: extra :::
        List(field -> mapToJson(m)(enc)))
      case Right(df) =>
        df.write.mode("overwrite").parquet(s"$path/$rel")
        JObject(("kind" -> JString("big")) :: extra :::
          List("path" -> JString(rel)))
    }

  def fromJson[T](j: JValue, field: String, spark: SparkSession,
      path: String)(dec: JValue => T): FittedLookup[T] = j \ "kind" match {
    case JString("small") => FittedLookup(Left(mapFromJson(j \ field)(dec)))
    case _ => FittedLookup(Right(spark.read.parquet(
      s"$path/${(j \ "path").asInstanceOf[JString].s}")))
  }

  def mapToJson[T](m: Map[String, T])(enc: T => JValue): JObject =
    JObject(m.toList.map { case (k, v) => k -> enc(v) })

  def mapFromJson[T](j: JValue)(dec: JValue => T): Map[String, T] =
    j.asInstanceOf[JObject].obj.map { case (k, v) => k -> dec(v) }.toMap

  /** One distributed pass over `df` yielding the distinct (columnIndex,
    * stringValue) pairs for all `cols` — a single shuffle fits every
    * column's dictionary instead of one job per column. */
  def distinctPairs(df: DataFrame, cols: Seq[String]): Array[Row] =
    distinctPairsDF(df, cols).collect()

  def distinctPairsDF(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(
        posexplode(array(cols.map(c => col(c).cast(StringType)): _*))
          .as(Seq("__i", "__v")))
      .distinct()
}
