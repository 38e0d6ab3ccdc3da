package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's view of the traced blocks, attached from outside the
  * program: one span per job, parented by the job group the benchmark
  * set around the call that ran it (a request's handler, or a line's
  * construct/execute phase), with the job's task counters as
  * attributes. Every callback runs on the listener bus thread. */
final class JobTracer(rec: Recorder) extends SparkListener {
  private final class Acc(val group: String, val submit: Long) {
    var firstTask = -1L
    var end = -1L
    var tasks = 0L
    var cpuNs = 0L
    var rows = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val stageToJob = mutable.Map[Int, Int]()
  private val jobs = mutable.LinkedHashMap[Int, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new Acc(group, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { a =>
      if (a.firstTask < 0) a.firstTask = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { a =>
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.rows += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  /** Write every finished job out as a span. */
  def flush(): Unit = synchronized {
    jobs.foreach { case (id, a) if a.end >= 0 =>
      rec.span(Span(s"job$id", a.group, "job", a.submit.toDouble, a.end.toDouble, Map(
        "tasks" -> a.tasks.toDouble,
        "task_cpu_ms" -> a.cpuNs / 1e6,
        "rows_read" -> a.rows.toDouble,
        "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "spill_bytes" -> a.spill.toDouble,
        "wait_ms" -> (if (a.firstTask >= 0) (a.firstTask - a.submit).toDouble else 0.0))))
    case _ => ()
    }
    jobs.clear()
  }
}

/** Catalyst planning time of every Dataset action in a traced block:
  * the QueryPlanningTracker phases (analysis, optimization, planning). */
final class PlanTracer extends QueryExecutionListener {
  private var planMs = 0.0
  private var actions = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planMs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      actions += 1
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def totals: (Double, Long) = synchronized((planMs, actions))
}

/** Switches tracing on and off between blocks. While on, both
  * listeners are registered and GC time is accumulated; while off,
  * nothing of the benchmark's is attached to Spark. */
final class Tracing(spark: SparkSession, rec: Recorder) {
  val jobs = new JobTracer(rec)
  val plans = new PlanTracer
  private var gcMs = 0L
  private var gcAtOn = 0L

  private def gcNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def on(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    gcAtOn = gcNow()
    rec.tracing.set(true)
  }

  def off(): Unit = {
    rec.tracing.set(false)
    gcMs += gcNow() - gcAtOn
    // events of the block's last jobs may still be queued
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  /** Record the measured blocks' planning and GC totals; call once,
    * after the last measured block and before any direct phase. */
  def measured(): Unit = {
    val (planMs, actions) = plans.totals
    rec.layerValue("raw.plan_ms", planMs)
    rec.layerValue("raw.plan_actions", actions.toDouble)
    rec.layerValue("raw.gc_ms", gcMs.toDouble)
  }

  /** Write the job spans of every traced block out. */
  def finish(): Unit = jobs.flush()
}
