package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A timed interval of benchmark code around one call into an engine layer.
  * `parent` is the enclosing span's id (-1 at a round's root). */
final case class Span(id: Int, parent: Int, name: String, round: Int,
    startNs: Long) {
  var endNs: Long = startNs
}

/** An engine call that threw: already counted as failed by [[Ctx.op]]. */
final class OpFailed(name: String, cause: Throwable)
    extends RuntimeException(s"$name failed: $cause", cause)

/** One completed round: its wall time, the measurements the workload
  * returned (seconds, counts), and whether tracing was on. */
final case class Round(index: Int, wallS: Double, values: Map[String, Double],
    traced: Boolean)

/** Run state shared by the workloads: the session, failure accounting,
  * and — in a traced run — spans, job groups and the Spark listener. */
final class Ctx(val spark: SparkSession, val traceRun: Boolean,
    val runId: String, val workDir: Path) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism

  var attempted = 0L
  var failed = 0L
  var checksFailed = 0L
  val errors = ArrayBuffer.empty[String]

  /** True while a traced round runs: spans are recorded and every engine
    * call carries a job group that names its span. */
  var tracing = false
  var round = 0
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  val listener: Option[SparkTrace] =
    if (traceRun) Some(new SparkTrace) else None
  listener.foreach(sc.addSparkListener)

  /** One call into the engine: always counted as attempted. An exception
    * counts as failed and is rethrown, so it never ends up timed as a
    * fast success. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    try span(name)(body)
    catch {
      case e: OpFailed => throw e
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}"
        throw new OpFailed(name, e)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), name, round,
        System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(SparkTrace.group(s.id), name, false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(SparkTrace.group(p.id), p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** An output check on `what`: a failure counts as a failed operation and
    * makes the run incorrect. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      checksFailed += 1
      errors += s"check $what: $detail"
    }

  /** Runs `warmupRounds` unrecorded rounds, then recorded rounds while
    * fewer than `seconds` have passed since the first warm-up round began,
    * at least `minRounds` and at most `maxRounds` of them. `body` returns
    * the round's measurements and a check that runs once the clock has
    * stopped; the check adds derived values. In a traced run at least one
    * unrecorded round warms the operators, then every second round is
    * traced, so the untraced rounds give the overhead baseline (the round
    * counts double). */
  def rounds(seconds: Double, minRounds: Int, warmupRounds: Int = 0,
      maxRounds: Int = Int.MaxValue)(
      body: () => (Map[String, Double], () => Map[String, Double])
  ): Seq[Round] = {
    val t0 = System.nanoTime()
    val warm = if (traceRun) math.max(warmupRounds, 1) else warmupRounds
    for (_ <- 0 until warm) {
      val (_, check) = body()
      check()
    }
    val out = ArrayBuffer.empty[Round]
    val need = if (traceRun) 2 * minRounds else minRounds
    val most = if (traceRun) 2L * maxRounds else maxRounds.toLong
    var r = 0
    while (r < need ||
        (r < most && (System.nanoTime() - t0) / 1e9 < seconds)) {
      round = r
      tracing = traceRun && r % 2 == 1
      val gc0 = Jvm.gcSeconds()
      val start = System.nanoTime()
      val res =
        try Some(span("round")(body()))
        catch {
          case _: OpFailed => None
          case NonFatal(e) =>
            failed += 1
            errors += s"round $r: ${e.getClass.getName}: ${e.getMessage}"
            None
        }
      val wall = (System.nanoTime() - start) / 1e9
      val gc = Jvm.gcSeconds() - gc0
      tracing = false
      res.foreach { case (values, check) =>
        val derived =
          try check()
          catch {
            case NonFatal(e) =>
              this.check(s"round $r", ok = false, e.toString)
              Map.empty[String, Double]
          }
        out += Round(r, wall, values ++ derived + ("jvm.gc_s" -> gc),
          traceRun && r % 2 == 1)
      }
      r += 1
    }
    out.toSeq
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Peak heap in use right after a full collection: the live set, which is
  * where work moved into memory shows. Spark frees unpersisted and
  * unreferenced blocks asynchronously, so the probe collects until the
  * live set stops shrinking (by more than 1 MB, at most five times). */
final class HeapProbe {
  private var peak = 0.0
  var samples = 0
  def sample(): Unit = {
    samples += 1
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var prev = Long.MaxValue
    var tries = 1
    while (tries < 5 && prev - used > (1L << 20)) {
      prev = used
      used = collect()
      tries += 1
    }
    peak = math.max(peak, used / (1024.0 * 1024.0))
  }
  def peakMb: Double = peak
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum / 1000.0

  /** CPU time the hypervisor gave to other guests while this one's
    * processors wanted to run: the `steal` column of /proc/stat, summed
    * over processors, in seconds at 100 ticks per second; None where
    * /proc/stat is not readable. Host context only — never folded into a
    * metric. */
  def stealSeconds(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next() finally src.close()
      cpu.trim.split("\\s+").lift(8).map(_.toDouble / 100)
    } catch { case NonFatal(_) => None }

  /** The xorshift CPU probe the engine's own bench records: seconds per
    * 1e9 single-thread steps, here measured over 1e8 steps. Host context
    * only — never folded into a metric. */
  def cpuProbeSeconds(): Double = {
    val steps = 100000000L
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("")
    dt * (1e9 / steps)
  }
}

object Stats {
  def sorted(xs: Iterable[Double]): Sorted = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    new Sorted(a)
  }
  def median(xs: Iterable[Double]): Double = sorted(xs).quantile(0.5)
}

/** Order statistics over samples sorted once. */
final class Sorted(a: Array[Double]) {
  require(a.nonEmpty, "no samples")
  def n: Int = a.length

  /** Quantile with linear interpolation between neighbouring ranks. */
  def quantile(q: Double): Double = {
    val pos = q * (a.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, a.length - 1)
    a(lo) + (a(hi) - a(lo)) * (pos - lo)
  }

  /** The highest of p90, p99, p99.9, ... that has at least ten samples
    * beyond it, as (label, value); None under 100 samples. */
  def tail: Option[(String, Double)] =
    Seq("p90" -> 0.9, "p99" -> 0.99, "p99.9" -> 0.999, "p99.99" -> 0.9999,
      "p99.999" -> 0.99999)
      .filter { case (_, q) => n * (1 - q) >= 10 }.lastOption
      .map { case (l, q) => l -> quantile(q) }
}

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** Writes `text` to `path`; an I/O failure propagates and fails the run. */
  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Self time of each span: its duration minus the part of its interval
  * that its children cover. */
object SelfTime {
  def of(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (acc + (b - from), b) else (acc, reach)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}
