package graft

import graft.operators._

/** Pins the on-disk pipeline format. `encoder_pipeline_v1` is a pipeline
  * saved by an earlier build: CLE, FE, TE and WOE stages, each once with
  * its dictionary inline in `pipeline.json` (literal-map form) and once
  * as a parquet relation under `data/` (fit with `maxCollect = 0`). The
  * expected values are the ones that build produced from the same saved
  * state, so a change to the layout or to the lookup semantics fails
  * here, not in a deployed reload.
  *
  * Fit input (row_id, c1, c2, y, t), nFolds = 3, smoothing = 2.0:
  * (1,a,10,1,1.5) (2,b,20,0,2.0) (3,a,10,1,3.25) (4,c,30,0,0.5)
  * (5,null,20,1,4.0) (6,b,null,0,1.0) (7,a,10,0,2.5) (8,d,40,1,6.0)
  * (9,c,30,1,0.25) (10,a,20,0,1.75) (11,b,10,1,5.5) (12,e,50,0,3.0). */
class SavedPipelineFormatSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir =
    getClass.getResource("/encoder_pipeline_v1").toURI.getPath
  private lazy val loaded = GraftPersistence.load(spark, dir)

  private val outs = Seq("cle_lit", "cle_dist", "fe_lit", "fe_dist",
    "te_lit", "te_dist", "woe_lit", "woe_dist")

  test("fixture holds every encoder in both state forms") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "pipeline.json")), "UTF-8")
    assert("\"kind\":\"small\"".r.findAllIn(json).length == 4)
    assert("\"kind\":\"big\"".r.findAllIn(json).length == 4)
    assert(loaded.stages.map(_.getClass.getSimpleName) == Seq(
      "ComplementLabelEncoderModel", "ComplementLabelEncoderModel",
      "FrequencyEncoderModel", "FrequencyEncoderModel",
      "TargetEncoderModel", "TargetEncoderModel",
      "WoeEncoderModel", "WoeEncoderModel"))
  }

  test("saved pipeline serves the values it served when it was saved") {
    val serve = Seq[(Long, Option[String], Option[Int])](
      (1L, Some("a"), Some(10)), (2L, Some("b"), Some(20)),
      (3L, Some("zz"), Some(99)), (4L, None, None),
      (5L, Some("e"), Some(50)), (6L, Some("c"), Some(30)))
      .toDF("row_id", "c1", "c2")
    val got = rowsOf(loaded.transform(serve), outs: _*)
    val expected = Seq(
      Seq(0, 0, 0.36363636363636365, 4L, 2.3680555555555554,
        2.9930555555555554, -0.182322, -0.664976),
      Seq(1, 1, 0.2727272727272727, 3L, 2.7416666666666663,
        2.5916666666666663, 0.328504, 0.693147),
      Seq(5, 5, 0.0, 1L, 2.6041666666666665, 2.6041666666666665, 0.0, 0.0),
      Seq(5, 5, 0.0, 1L, 2.6041666666666665, 2.6041666666666665, 0.0, 0.0),
      Seq(4, 4, 0.09090909090909091, 1L, 2.7361111111111107,
        2.7361111111111107, 0.916291, 1.280934),
      Seq(2, 2, 0.18181818181818182, 2L, 1.4895833333333333,
        1.4895833333333333, -0.182322, 0.182322))
    assert(got == expected)
    assert(loaded.transform(serve).select(outs.map(
      org.apache.spark.sql.functions.col): _*).schema.simpleString ==
      "struct<cle_lit:int,cle_dist:int,fe_lit:double,fe_dist:bigint," +
      "te_lit:double,te_dist:double,woe_lit:double,woe_dist:double>")
  }

  test("saved target encoders replay the leave-own-fold-out train path") {
    val train = Seq[(Long, Option[String], Option[Int])](
      (1L, Some("a"), Some(10)), (2L, Some("b"), Some(20)),
      (3L, Some("a"), Some(10)), (4L, Some("c"), Some(30)),
      (5L, None, Some(20)), (6L, Some("b"), None),
      (7L, Some("a"), Some(10)), (8L, Some("d"), Some(40)),
      (9L, Some("c"), Some(30)), (10L, Some("a"), Some(20)),
      (11L, Some("b"), Some(10)), (12L, Some("e"), Some(50)))
      .toDF("row_id", "c1", "c2")
    val tes = loaded.stages.collect { case m: TargetEncoderModel => m }
    val got = rowsOf(tes.foldLeft(train)((d, m) => m.transformTrain(d)),
      "te_lit", "te_dist")
    val expected = Seq(
      Seq(2.5416666666666665, 2.739583333333333),
      Seq(2.927083333333333, 3.069444444444444),
      Seq(2.302083333333333, 2.9416666666666664),
      Seq(2.6041666666666665, 2.6041666666666665),
      Seq(2.6041666666666665, 2.239583333333333),
      Seq(2.4027777777777777, 2.6041666666666665),
      Seq(2.3416666666666663, 3.0916666666666663),
      Seq(2.6041666666666665, 2.6041666666666665),
      Seq(2.6041666666666665, 2.6041666666666665),
      Seq(2.302083333333333, 3.069444444444444),
      Seq(2.4027777777777777, 2.739583333333333),
      Seq(2.6041666666666665, 2.6041666666666665))
    assert(got == expected)
  }
}
