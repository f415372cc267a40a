package graft

import org.apache.spark.sql.graft.Trace

/** A warm query's frame is built without a Spark job: every job of a
  * run belongs to its action. Covers the nine `geo_olap` benchmark
  * queries and the two snapshot change-feed queries, whose frames read
  * the toggled files of each commit, and the Delta reads, whose only
  * construction jobs are one `toJSON` collect per checkpoint or
  * sidecar set a snapshot replays.
  */
class ConstructJobsSpec extends SparkSpec {

  private val GeoOlap = Seq("g2_region_filter", "g4_elevation_stats",
    "g6_region_elevation_join", "g44_stats_prune", "q1_agg", "q3_join",
    "q5_multijoin", "q6_filter", "q9_window")

  private val ChangeFeed = Seq("g40_snapshot_changes", "g41_incremental_agg")

  /** Delta reads whose fixtures resolve from JSON commits alone. */
  private val DeltaCommitReads = Seq("j12_delta_changes", "j14_delta_dv",
    "j16_delta_dv_cdc", "j17_delta_skipping", "j20_delta_cm_id",
    "j21_delta_export", "j23_delta_log_export")

  /** j10 replays a classic checkpoint, j18 a V2 checkpoint and then its
    * sidecars. */
  private val DeltaCheckpointReads = Seq("j10_delta_read" -> 1, "j18_delta_v2cp" -> 2)

  private def assertWarmConstructJobs(name: String, jobs: Int): Unit = {
    val query = SparkEntry.queries(name)
    Trace.run(spark)(query(spark, Sf))
    val warm = Trace.run(spark)(query(spark, Sf))
    assert(warm.constructJobs == jobs, warm.jobs.take(warm.constructJobs).mkString("; "))
  }

  for (name <- GeoOlap ++ ChangeFeed ++ DeltaCommitReads)
    test(s"$name: a second build starts no construction job") {
      assertWarmConstructJobs(name, 0)
    }

  for ((name, jobs) <- DeltaCheckpointReads)
    test(s"$name: a second build starts only its checkpoint replay jobs") {
      assertWarmConstructJobs(name, jobs)
    }
}
