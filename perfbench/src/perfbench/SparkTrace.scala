package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Scheduler, executor and Catalyst counters of one span, from the events
  * of the jobs that ran under its job group. */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var nonCodegenOps = 0L
}

/** SparkListener of a traced run. Jobs are attributed to the span whose job
  * group they carry; stages, tasks and SQL executions follow their job.
  * Events arrive on the listener bus thread: read the stats only after
  * draining the bus. */
final class SparkTrace extends SparkListener {
  private val bySpan = mutable.HashMap.empty[Int, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]

  private def stats(id: Int): SpanStats = bySpan.getOrElseUpdate(id, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(SparkTrace.spanOf).foreach { id =>
        stats(id).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.getOrElseUpdate(x.toLong, id))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val s = stats(id)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.executorRunMs += m.executorRunTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (id <- execSpan.get(end.executionId);
           qe <- org.apache.spark.sql.PerfbenchSql.queryExecution(end)) {
        val s = stats(id)
        val phases = qe.tracker.phases
        s.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        s.nonCodegenOps += SparkTrace.nonCodegenOps(qe.executedPlan)
      }
    }
    case _ =>
  }

  def of(spanId: Int): SpanStats = synchronized {
    bySpan.getOrElse(spanId, new SpanStats)
  }
}

object SparkTrace {
  private val Prefix = "perfbench-span-"
  def group(spanId: Int): String = Prefix + spanId
  def spanOf(group: String): Option[Int] =
    if (group.startsWith(Prefix)) group.drop(Prefix.length).toIntOption
    else None

  /** Executed-plan operators that run outside whole-stage codegen
    * (exchanges, scans of cached relations, interpreted operators, ...),
    * looking through adaptive plans and query stages. */
  def nonCodegenOps(plan: SparkPlan): Int = {
    def walk(p: SparkPlan, inCodegen: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        (if (inCodegen) 0 else 1) + other.children.map(walk(_, inCodegen)).sum
    }
    walk(plan, inCodegen = false)
  }
}
