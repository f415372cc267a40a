package graft

import org.apache.spark.sql.graft.Trace

/** The run recorder: what one timed run reports, and that it leaves
  * no cache behind.
  */
class TraceSpec extends SparkSpec {

  test("a traced run reports rows, jobs, stages, shuffle bytes and the executed plan, then clears caches") {
    val cached = Caches.track(spark.range(1000).repartition(4).toDF("id"))
    val run = Trace.run(spark)(cached.filter("id % 2 = 0"))
    assert(run.rows == 500)
    assert(run.jobs.nonEmpty && run.stages.nonEmpty)
    assert(run.stages.forall(_.completionTime.isDefined))
    assert(run.shuffleWriteBytes > 0)
    assert(run.plan.contains("Exchange") && run.plan.contains("isFinalPlan=true"))
    assert(run.constructSec >= 0 && run.executeSec > 0 && run.sec == run.constructSec + run.executeSec)
    assert(run.constructJobs == 0)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val twice = run + run
    assert(twice.rows == 1000 && twice.shuffleWriteBytes == 2 * run.shuffleWriteBytes)
  }

  test("a job started while the frame is built is a construction job") {
    val run = Trace.run(spark)(spark.range(spark.range(7).collect().length).toDF("id"))
    assert(run.rows == 7 && run.constructJobs == 1 && run.jobs.size > 1)
    assert((run + run).constructJobs == 2)
  }
}
