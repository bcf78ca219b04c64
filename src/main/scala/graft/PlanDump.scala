package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Optimization evidence tool: dumps `.explain("formatted")` for named
  * queries to `plans/<dir>/<query>_<tag>.txt` so before/after plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump <tag> q_a,q_b,..."`
  * (tag is typically `before` or `after`). Data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so the plans
  * carry the same AQE-input statistics the bench sees); output dir from
  * SPARK_GRAFT_PLANS_DIR (default plans/r11). The session is
  * [[GraftSession.build]], the one Bench and Verify use (VERDICT r10 #3:
  * the r10 dumps omitted the SHJ preference flags, so every "after" dump
  * showed the UN-benched planner) — including the SPARK_GRAFT_PREFER_SMJ
  * / _SHJ_THRESHOLD env overrides so A/B plan pairs are possible.
  *
  * SPARK_GRAFT_EXECUTED=1 additionally EXECUTES each query's own
  * QueryExecution and dumps its post-AQE `executedPlan`
  * (`isFinalPlan=true`) as `<query>_<tag>_executed.txt` — required to see
  * AQE's runtime join-strategy conversions.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val executed = sys.env.get("SPARK_GRAFT_EXECUTED").contains("1")
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r11"))
    Files.createDirectories(outDir)
    def write(file: String, text: String): Unit = {
      Files.writeString(outDir.resolve(file), text)
      println(s"[plandump] wrote $outDir/$file")
    }
    // one routine for the queries and the internal plans (queries that
    // materialize eagerly, whose top-level plan is a localCheckpoint scan
    // stub: the *Plan split the plan-shape specs use). The executed dump
    // runs the SAME QueryExecution it dumps — a noop write would plan and
    // run its own, leaving this one's AdaptiveSparkPlan unfinalized.
    def dump(name: String, df: DataFrame): Unit = {
      val qe = df.queryExecution
      write(s"${name}_$tag.txt", qe.explainString(FormattedMode))
      if (executed) {
        SQLExecution.withNewExecutionId(qe, Some(name))(
          qe.toRdd.foreach(_ => ()))
        write(s"${name}_${tag}_executed.txt", qe.executedPlan.toString)
      }
    }
    if (names.contains("internal_quantile_norm")) {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val (out, a, b) = graft.relational.Eval.quantileNormalizePlan(
        li, "l_extendedprice", "l_returnflag", "N", "R", 100000)
      dump("internal_quantile_norm", out)
      a.unpersist(blocking = false); b.unpersist(blocking = false)
    }
    if (names.contains("internal_lpa_vote")) {
      import org.apache.spark.sql.functions._
      // one vote round: the labelPropagation loop body itself
      val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").cast("string").as("s"),
          col("l_partkey").cast("string").as("d"))
      val labels = e.select(col("s").as("node")).distinct()
        .withColumn("label", col("node")).localCheckpoint(true)
      dump("internal_lpa_vote", graft.relational.Graph
        .labelPropagationRound(e, labels, labels.count()))
    }
    // BPE deep-encode codegen probe (VERDICT r10 #8): encodeBpe compiles
    // the whole merge table into nested replace expressions — dump the
    // executed plan at several merge depths and TIME the encode, so
    // SCALE.md can record where whole-stage codegen gives up (64 KB
    // method limit → interpreted fallback) and what it costs. Synthetic
    // non-matching merges keep the expression tree shape and depth of a
    // real table without needing a 4096-round fit.
    names.filter(_.startsWith("internal_bpe_encode_")).foreach { name =>
      val n = name.stripPrefix("internal_bpe_encode_").toInt
      // the probe body runs on a dedicated 512 MB-stack thread: the
      // Column-tree → Catalyst expression conversion recurses once per
      // nested replace, and ≥512 merges overflow the default JVM thread
      // stack BEFORE any plan exists — that driver-side recursion, not
      // the codegen method limit, is the first deep-merge ceiling (the
      // measured SCALE.md finding this probe exists to produce)
      val body: Runnable = () => {
        val merges = (1 to n).map(i =>
          graft.text.Bpe.Merge(i, s"q$i", s"z$i", 1L))
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val df = graft.text.Bpe.encodeBpe(docs, "text", "doc_id", merges)
        val t0 = System.nanoTime()
        dump(name, df)
        println(f"[plandump] $name encode+dump took " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s (merges=$n)")
      }
      val th = new Thread(null, body, s"bpe-probe-$n", 512L * 1024 * 1024)
      var err: Option[Throwable] = None
      th.setUncaughtExceptionHandler((_, e) => err = Some(e))
      th.start(); th.join()
      err.foreach { e =>
        val chain = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(6)
          .map(t => t.getClass.getSimpleName + ": " +
            Option(t.getMessage).getOrElse("").take(200))
          .mkString(" <- ")
        println(s"[plandump] $name FAILED: $chain")
      }
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try dump(name, fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
