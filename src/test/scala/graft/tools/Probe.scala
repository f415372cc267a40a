package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Trace
import graft.{Caches, Session, SparkEntry}

/** Dev profiling main (not part of the API): runs one SparkEntry query
  * `runs` times (default 1) in a `graft.Session` — the benched session —
  * and prints, for each run, the construct/execute split and the jobs
  * started during construction, then for the LAST run (JIT/codegen-warm
  * when runs > 1, the view comparable to a bench median):
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
  * Each run is a [[Trace.run]], as in Bench, so the plan is the
  * benched one: column pruning may drop work a written result would pay.
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
    val last = (1 to runs).map { r =>
      val run = Trace.run(spark)(query(spark, dir))
      println(f"[probe] $name run $r/$runs rows=${run.rows} wall=${run.sec}%.2f s " +
        f"(construct=${run.constructSec}%.2f s, execute=${run.executeSec}%.2f s) " +
        s"construct_jobs=${run.constructJobs}")
      run
    }.last

    def submitted(s: StageInfo): Long = s.submissionTime.getOrElse(0L)
    def completed(s: StageInfo): Long = s.completionTime.getOrElse(0L)
    def ms(s: StageInfo): Long = completed(s) - submitted(s)
    def cpuMs(s: StageInfo): Long = s.taskMetrics.executorCpuTime / 1000000
    val mb = 1024.0 * 1024
    val byWall = last.stages.sortBy(-ms(_))
    println(f"[probe] last run: ${byWall.size} stages, " +
      f"sum-of-stage-wall=${byWall.map(ms).sum / 1000.0}%.2f s, " +
      f"sum-cpu=${byWall.map(cpuMs).sum / 1000.0}%.2f s")
    byWall.take(15).foreach { s =>
      val m = s.taskMetrics
      println(f"stage ${s.stageId}%4d ${ms(s) / 1000.0}%7.2f s tasks=${s.numTasks}%4d " +
        f"cpu=${cpuMs(s) / 1000.0}%7.2f s in=${m.inputMetrics.bytesRead / mb}%8.1f MB " +
        f"shR=${m.shuffleReadMetrics.totalBytesRead / mb}%8.1f " +
        f"shW=${m.shuffleWriteMetrics.bytesWritten / mb}%8.1f " +
        f"spillM=${m.memoryBytesSpilled / mb}%8.1f spillD=${m.diskBytesSpilled / mb}%8.1f MB  " +
        s.name.take(40))
    }

    val bySubmit = byWall.sortBy(submitted)
    if (bySubmit.nonEmpty) {
      val start = submitted(bySubmit.head)
      var prevEnd = start
      println("[probe] timeline (submission order):")
      bySubmit.foreach { s =>
        println(f"  +${(submitted(s) - start) / 1000.0}%6.2f s " +
          f"gap=${(submitted(s) - prevEnd) / 1000.0}%5.2f dur=${ms(s) / 1000.0}%5.2f " +
          f"tasks=${s.numTasks}%4d  ${s.name.take(40)}")
        prevEnd = math.max(prevEnd, completed(s))
      }
    }

    val out = write(s"$name.txt", last.plan)
    println(s"[probe] final plan (full text: $out):")
    last.plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).zipWithIndex
      .foreach { case (l, i) => if (PlanKeys.exists(l.contains)) println(f"$i%4d $l") }
  }
}
