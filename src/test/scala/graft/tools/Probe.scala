package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.BenchMetricsListener
import graft.{Caches, Session, SparkEntry}

/** Dev profiling main (not part of the API): runs one SparkEntry query
  * `runs` times (default 1) in a `graft.Session` — the benched session —
  * and prints, for each run, the construct/execute split, then for the
  * LAST run (JIT/codegen-warm when runs > 1, the view comparable to a
  * bench median):
  *  - the per-stage table: wall, tasks, CPU, input, shuffle read/write
  *    and memory/disk spill, slowest first — locates an I/O-bound stage
  *    that wall-clock timing cannot separate from CPU;
  *  - the timeline: stages in submission order with the idle gap since
  *    the previous stage ended — locates driver-side time (planning,
  *    AQE re-optimization, broadcast waits) no stage metric sees;
  *  - the final post-AQE plan's Exchange/Sort/Join/InMemory/Window/Scan
  *    lines — the operators that actually ran, unlike a static explain.
  *    The whole plan is written to `target/probe/<query>.txt`.
  *
  * The action is `count()`, as in Bench, so the plan is the benched
  * one: column pruning may drop work a written result would pay.
  * With `runs` = 0 nothing runs: the query's own optimized logical
  * plan (no count on top) is written to
  * `target/probe/<query>.optimized.txt`, the file a refactor that must
  * keep plans unchanged diffs between two checkouts.
  *
  * Usage: `sbt "Test/runMain graft.tools.Probe <query>[,<query>…] <dir> [runs]"`.
  * Keys the session does not set can be A/B'd as `-Dspark.…` JVM
  * properties.
  */
object Probe {
  private final case class St(id: Int, name: String, ms: Long, tasks: Int,
      cpuMs: Long, input: Long, shRead: Long, shWrite: Long,
      memSpill: Long, diskSpill: Long, submitted: Long, completed: Long)

  private val PlanKeys = Seq("Exchange", "Sort ", "Join", "InMemory", "Window", "Scan")

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.Probe <query>[,<query>…] <dir> [runs]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val dir = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    names.foreach(SparkEntry.queries) // fail on a bad name before any work
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach(probe(spark, _, dir, runs))
    spark.stop()
  }

  private def write(file: String, text: String): java.nio.file.Path = {
    val out = Paths.get(sys.props("user.dir"), "target", "probe", file)
    Files.createDirectories(out.getParent)
    Files.writeString(out, text)
  }

  private def probe(spark: SparkSession, name: String, dir: String, runs: Int): Unit = {
    val query = SparkEntry.queries(name)
    if (runs == 0) {
      val out = write(s"$name.optimized.txt",
        query(spark, dir).queryExecution.optimizedPlan.toString)
      Caches.clear()
      println(s"[probe] $name optimized logical plan: $out")
      return
    }
    val stages = ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val sub = si.submissionTime.getOrElse(0L)
        val end = si.completionTime.getOrElse(0L)
        stages.synchronized {
          stages += St(si.stageId, si.name.take(40), end - sub, si.numTasks,
            m.executorCpuTime / 1000000, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled, sub, end)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    var plan = ""
    for (r <- 1 to runs) {
      BenchMetricsListener.drainBus(spark.sparkContext)
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      // count through an explicit aggregate so its QueryExecution —
      // whose AdaptiveSparkPlanExec holds the final plan once run —
      // stays in hand (Dataset.count() builds and drops its own)
      val counted = query(spark, dir).groupBy().count()
      val tBuilt = System.nanoTime()
      val n = counted.collect().head.getLong(0)
      val tDone = System.nanoTime()
      plan = counted.queryExecution.executedPlan.toString
      Caches.clear()
      println(f"[probe] $name run $r/$runs rows=$n wall=${(tDone - t0) / 1e9}%.2f s " +
        f"(construct=${(tBuilt - t0) / 1e9}%.2f s, execute=${(tDone - tBuilt) / 1e9}%.2f s)")
    }
    BenchMetricsListener.drainBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)

    val mb = 1024.0 * 1024
    val byWall = stages.synchronized(stages.sortBy(-_.ms).toSeq)
    println(f"[probe] last run: ${byWall.size} stages, " +
      f"sum-of-stage-wall=${byWall.map(_.ms).sum / 1000.0}%.2f s, " +
      f"sum-cpu=${byWall.map(_.cpuMs).sum / 1000.0}%.2f s")
    byWall.take(15).foreach { s =>
      println(f"stage ${s.id}%4d ${s.ms / 1000.0}%7.2f s tasks=${s.tasks}%4d " +
        f"cpu=${s.cpuMs / 1000.0}%7.2f s in=${s.input / mb}%8.1f MB " +
        f"shR=${s.shRead / mb}%8.1f shW=${s.shWrite / mb}%8.1f " +
        f"spillM=${s.memSpill / mb}%8.1f spillD=${s.diskSpill / mb}%8.1f MB  ${s.name}")
    }

    val bySubmit = byWall.sortBy(_.submitted)
    if (bySubmit.nonEmpty) {
      val start = bySubmit.head.submitted
      var prevEnd = start
      println("[probe] timeline (submission order):")
      bySubmit.foreach { s =>
        println(f"  +${(s.submitted - start) / 1000.0}%6.2f s " +
          f"gap=${(s.submitted - prevEnd) / 1000.0}%5.2f dur=${s.ms / 1000.0}%5.2f " +
          f"tasks=${s.tasks}%4d  ${s.name}")
        prevEnd = math.max(prevEnd, s.completed)
      }
    }

    val out = write(s"$name.txt", plan)
    println(s"[probe] final plan (full text: $out):")
    plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).zipWithIndex
      .foreach { case (l, i) => if (PlanKeys.exists(l.contains)) println(f"$i%4d $l") }
  }
}
