package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the harness mains (Bench, Verify,
  * PlanDump), so the oracle gate verifies and the plan dumps show exactly
  * the planner the bench times. */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
      // when the per-partition build side fits (AQE partition sizing keeps
      // build sides bounded) — skips the sort on both join inputs. Scale-
      // neutral planner preferences, parameterised for A/B
      // (SPARK_GRAFT_PREFER_SMJ=true restores the Spark default).
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "67108864"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the repo's global windows are all bounded-by-construction (audited
    // via graft.util.BoundedWindow — see its scaladoc); WindowExec's
    // per-execution warning for them is noise that camouflaged real
    // failures in round 4's bench tail
    graft.util.BoundedWindow.silenceBoundedWindowWarning()
    spark
  }
}
