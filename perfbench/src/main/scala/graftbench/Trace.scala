package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer: `op` is the benchmark operation the call
  * belongs to, `parent` the enclosing span (-1 at top level).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Bench-side spans, kept in memory and written out when the run ends.
  * When disabled, `span` is a plain call and records nothing.
  */
final class Spans(val enabled: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = all.size
      val parent = open.headOption.getOrElse(-1)
      all += Span(id, name, parent, op, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        all(id) = all(id).copy(endNs = System.nanoTime())
      }
    }

  /** Inclusive seconds of every span with this name. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Self seconds per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }
}

/** Scheduler, task and storage counters from Spark's listener bus. */
final class SchedulerCounters extends SparkListener {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskWaitMs = 0L
  var scanBytes = 0L; var scanRecords = 0L
  var writeBytes = 0L; var writeRecords = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var shuffleRecords = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock milliseconds of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageSubmit.get(e.stageId).foreach(s => taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      scanBytes += m.inputMetrics.bytesRead
      scanRecords += m.inputMetrics.recordsRead
      writeBytes += m.outputMetrics.bytesWritten
      writeRecords += m.outputMetrics.recordsWritten
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
    }
  }

  /** Seconds of [from, to] (wall-clock ms) during which no job ran. */
  def noJobSeconds(from: Long, to: Long): Double = synchronized {
    var covered = 0L; var reach = from
    jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (to - from - covered) / 1e3
  }
}

/** Catalyst phase times and executed-plan shape of every action. */
final class QueryCounters extends QueryExecutionListener {
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var topkPlans = 0L; var exchanges = 0L; var collects = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      val plan = nodes(qe.executedPlan)
      if (plan.exists(_.getClass.getSimpleName.startsWith("TopKPerGroup"))) topkPlans += 1
      exchanges += plan.count(_.isInstanceOf[ShuffleExchangeLike])
      if (funcName.startsWith("collect") || funcName == "head" || funcName == "take")
        collects += 1
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Analysis happens when a frame is built, before any action runs. */
  def analysed(df: DataFrame): Unit = synchronized {
    analysisMs += df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
  }
}

object Listeners {
  @volatile private var query: Option[QueryCounters] = None

  def attach(spark: SparkSession): (SchedulerCounters, QueryCounters) = {
    val s = new SchedulerCounters
    val q = new QueryCounters
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(q)
    query = Some(q)
    (s, q)
  }

  def detach(spark: SparkSession, s: SchedulerCounters, q: QueryCounters): Unit = {
    spark.sparkContext.removeSparkListener(s)
    spark.listenerManager.unregister(q)
    query = None
  }

  /** Count the analysis time of a frame built by the benchmark. */
  def analysed(df: DataFrame): Unit = query.foreach(_.analysed(df))
}
