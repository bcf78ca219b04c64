package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** A reported number: `n` is its sample count, `tail` the highest
  * percentile with at least ten samples beyond it, when there is one. */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    tail: Option[(String, Double)] = None)

/** What one measured run of a workload yields: the end-to-end
  * `work_unit_ms`, the workload's own named metrics for the report, the
  * rounds the per-layer metrics are read from, and per-layer values
  * measured outside the rounds (during set-up). */
final case class Outcome(workUnit: Metric, named: Seq[Metric],
    rounds: Seq[Round], setupLayers: Map[String, Double] = Map.empty)

/** One benchmark workload. `setup` generates the inputs from the seed and
  * prepares them; it runs several times per run (each call replaces the
  * previous state) so its median is the set-up metric.
  *
  * `feature_pipeline` times its first round after set-up: a batch job is
  * its own application, so its users pay operator code generation and JIT
  * warm-up on every run. `iterative_graph` and `corpus_dedup` run one
  * round untimed first (see their `WarmupRounds`). A serving process is
  * long-lived, so `online_scoring` warms up before timing. */
trait Workload {
  def setup(seed: Long): Unit
  def measure(seconds: Double): Outcome
  def release(): Unit
}

object Workload {
  /** Writes `df` to the noop sink (every column evaluated) and returns the
    * row count observed on the same execution. */
  def sinkRows(df: DataFrame): Long = {
    val obs = Observation("rows")
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally paths.close()
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `key` over untraced rounds. */
  def medianOf(rounds: Seq[Round], key: String): Double =
    Stats.median(rounds.filterNot(_.traced).map(_.values(key)))

  /** Sum of `num` over the sum of `den`, untraced rounds. */
  def rate(rounds: Seq[Round], num: String, den: String): Double = {
    val rs = rounds.filterNot(_.traced)
    rs.map(_.values(num)).sum / rs.map(_.values(den)).sum
  }

  /** `work_unit_ms` of a batch workload: the median wall time of its
    * untraced rounds. */
  def roundUnit(rounds: Seq[Round]): Metric = {
    val walls = Stats.sorted(rounds.filterNot(_.traced).map(_.wallS * 1000))
    Metric(WorkUnit, walls.quantile(0.5), "ms", walls.n, walls.tail)
  }

  val WorkUnit = "work_unit_ms"
}
