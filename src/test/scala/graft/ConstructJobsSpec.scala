package graft

import org.apache.spark.sql.graft.Trace

/** A warm query's frame is built without a Spark job: every job of a
  * run belongs to its action. Covers the nine `geo_olap` benchmark
  * queries and the two snapshot change-feed queries, whose frames read
  * the toggled files of each commit.
  */
class ConstructJobsSpec extends SparkSpec {

  private val GeoOlap = Seq("g2_region_filter", "g4_elevation_stats",
    "g6_region_elevation_join", "g44_stats_prune", "q1_agg", "q3_join",
    "q5_multijoin", "q6_filter", "q9_window")

  private val ChangeFeed = Seq("g40_snapshot_changes", "g41_incremental_agg")

  for (name <- GeoOlap ++ ChangeFeed) test(s"$name: a second build starts no construction job") {
    val query = SparkEntry.queries(name)
    Trace.run(spark)(query(spark, Sf))
    val warm = Trace.run(spark)(query(spark, Sf))
    assert(warm.constructJobs == 0, warm.jobs.take(warm.constructJobs).mkString("; "))
  }
}
