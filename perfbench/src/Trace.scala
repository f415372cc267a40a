package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one interval at one layer boundary. Times are epoch
  * milliseconds; `op` ties every span of one operation together.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    start: Double, end: Double)

/** Per-task figures kept by the listener. */
final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
    deserMs: Long, serMs: Long, resultMs: Long, gcMs: Long,
    shufWrite: Long, shufRead: Long, spill: Long, input: Long, outBytes: Long) {
  /** Scheduler delay as the Spark UI computes it, plus deserialization. */
  def waitMs: Long =
    math.max(0L, (finish - launch) - runMs - deserMs - serMs - resultMs) + deserMs
}

final case class StageRec(id: Int, submit: Long, complete: Long, scopes: Seq[String])

final case class JobRec(id: Int, exec: Long, start: Long, end: Long, stages: Seq[Int])

final case class PhaseRec(name: String, start: Long, end: Long)

/** Records Spark's scheduler and SQL events, in memory, for the traced
  * run. Registered only in traced windows: untraced windows run with no
  * listener at all.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Seq[Int])]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val sqlEnd = mutable.HashMap.empty[Long, Long]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStart(e.jobId) = (e.time, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, exec, st) =>
      jobs += JobRec(e.jobId, exec, t0, e.time, st)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val scopes = i.rddInfos.flatMap(_.scope.map(_.name)) ++ i.rddInfos.map(_.name) :+ i.name
    stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), scopes.toSeq)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = e.taskInfo
    if (m != null && t != null)
      tasks += TaskRec(e.stageId, t.launchTime, t.finishTime, m.executorRunTime,
        m.executorDeserializeTime, m.resultSerializationTime,
        if (t.gettingResult) t.finishTime - t.gettingResultTime else 0L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionEnd => sqlEnd(s.executionId) = s.time
      case _ =>
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += PhaseRec(name, p.startTimeMs, p.endTimeMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); phases.clear(); sqlEnd.clear()
  }
}

object Recorder {
  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
  def detach(spark: SparkSession, r: Recorder): Unit = {
    drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }
  /** Wait until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}

/** Length of the union of `ivs`, clipped to [lo, hi]. */
object Intervals {
  def union(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Length of the part of [lo, hi] covered by `a` but not by `b`. */
  def minus(a: Seq[(Double, Double)], b: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    union(a ++ b, lo, hi) - union(b, lo, hi)
}
