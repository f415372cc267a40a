package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import _root_.graft.{Caches, FixtureTimer}

/** The one run recorder: a listener attached for one window that
  * records the jobs started (as their stages' names), the completed
  * stages, and the task-summed spill and shuffle-write bytes. Summing
  * task metrics per run attributes spill and shuffle bytes to the
  * query that paid them, so an inflated row carries its own diagnosis:
  * same spill bytes + higher wall = environment (bandwidth, disk);
  * more spill bytes = a smaller execution-memory ceiling; flat spill +
  * high process GC = heap inheritance.
  *
  * Lives in `org.apache.spark.sql.graft` because closing a window must
  * drain the `private[spark]` listener bus: events are delivered
  * asynchronously, so a count read right after the action returns
  * would otherwise be short.
  */
final class Trace private () extends SparkListener {
  private val jobQ = new ConcurrentLinkedQueue[String]()
  private val stageQ = new ConcurrentLinkedQueue[StageInfo]()
  private val spillDisk = new AtomicLong
  private val spillMem = new AtomicLong
  private val shufWrite = new AtomicLong

  /** Each job started, as its stages' names joined by " / ". */
  def jobs: Seq[String] = jobQ.asScala.toSeq
  def stages: Seq[StageInfo] = stageQ.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobQ.add(e.stageInfos.map(_.name).mkString(" / ")): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageQ.add(e.stageInfo): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      spillDisk.addAndGet(m.diskBytesSpilled)
      spillMem.addAndGet(m.memoryBytesSpilled)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

object Trace {

  /** One timed run of a query. `constructJobs` is the number of jobs
    * started while the frame was built, before its action; `gcSec` is
    * process-wide collector time (all collectors, driver and executors
    * share the JVM); `fixtureSec` is the [[FixtureTimer]] time inside
    * the run; `plan` is the executed (post-AQE) plan of the count.
    */
  final case class Run(rows: Long, constructSec: Double, executeSec: Double,
      constructJobs: Int, gcSec: Double, fixtureSec: Double, jobs: Seq[String],
      stages: Seq[StageInfo], spillDiskBytes: Long, spillMemBytes: Long,
      shuffleWriteBytes: Long, plan: String) {
    def sec: Double = constructSec + executeSec

    /** The two runs' figures summed; jobs, stages and plan are `o`'s. */
    def +(o: Run): Run = Run(rows + o.rows, constructSec + o.constructSec,
      executeSec + o.executeSec, constructJobs + o.constructJobs, gcSec + o.gcSec,
      fixtureSec + o.fixtureSec, o.jobs, o.stages, spillDiskBytes + o.spillDiskBytes,
      spillMemBytes + o.spillMemBytes, shuffleWriteBytes + o.shuffleWriteBytes, o.plan)
  }

  /** `body`'s result and the trace of every event it caused: the bus
    * is drained before the listener attaches and again before it
    * detaches.
    */
  def during[T](s: SparkSession)(body: => T): (T, Trace) = window(s)(_ => body)

  private def window[T](s: SparkSession)(body: Trace => T): (T, Trace) = {
    val sc = s.sparkContext
    val t = new Trace
    drain(sc)
    sc.addSparkListener(t)
    try {
      val r = body(t)
      drain(sc)
      (r, t)
    } finally sc.removeSparkListener(t)
  }

  /** Build `frame` and count it through `groupBy().count()` — the plan
    * `Dataset.count()` runs, kept in hand so its executed plan can be
    * read — then release the run's caches. The jobs the build started
    * are counted after a bus drain between the two timers. A failure
    * propagates after the caches are released.
    */
  def run(s: SparkSession)(frame: => DataFrame): Run = {
    val g0 = gcMs()
    val f0 = FixtureTimer.totalNanos
    val ((rows, built, constructJobs, done, plan), t) = window(s) { t =>
      try {
        val t0 = System.nanoTime()
        val counted = frame.groupBy().count()
        val built = (System.nanoTime() - t0) / 1e9
        drain(s.sparkContext)
        val constructJobs = t.jobQ.size
        val t1 = System.nanoTime()
        val n = counted.collect().head.getLong(0)
        (n, built, constructJobs, (System.nanoTime() - t1) / 1e9,
          counted.queryExecution.executedPlan.toString)
      } finally Caches.clear()
    }
    Run(rows, built, done, constructJobs, (gcMs() - g0) / 1e3,
      (FixtureTimer.totalNanos - f0) / 1e9, t.jobs, t.stages,
      t.spillDisk.get, t.spillMem.get, t.shufWrite.get, plan)
  }

  /** Total collector milliseconds of this JVM so far. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Bounded: a wedged bus must not hang the caller. */
  private def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(5000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
