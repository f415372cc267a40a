package graft

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.Geo

/** CLI twin of the reference binary (/root/reference/src/main.rs
  * main + Opt): `graft.Cli [--input DIR] [--parquet DIR] <set>` with
  * sets netherlands|france|europe|world. Where the reference
  * downloads GeoTIFF tiles and writes one parquet per tile, this
  * derives the tile universe from the input star schema, filters it
  * by the chosen region set (main.rs:56-88), expands the per-tile
  * grid (main.rs:163-191) and writes a snappy parquet dataset
  * partitioned by tile (main.rs:272-296) — distributed instead of
  * file-at-a-time. A set is one Spark job: the write, which counts the
  * rows it writes.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    var input   = "/root/testdata/sf0.001"
    var out     = "/tmp/graft_parquet"
    var set     = Option.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--input" | "-t"   => input = args(i + 1); i += 2
        case "--parquet" | "-p" => out = args(i + 1); i += 2
        case s                  => set = Some(s); i += 1
      }
    }
    val setName = set.getOrElse {
      System.err.println("usage: graft.Cli [--input DIR] [--parquet DIR] <netherlands|france|europe|world>")
      sys.exit(2)
    }
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val n = run(spark, input, out, setName)
      println(s"wrote $n rows for set '$setName' to $out")
    } finally spark.stop()
  }

  /** Longest wait for the written row count once the write has
    * returned: the count is delivered after the job, so it can lag the
    * write's return by a bus delivery, but a missing one must throw
    * rather than hang the caller.
    */
  private val CountWait = 60.seconds

  /** The reference pipeline for one set; returns rows written. One
    * Spark job: the rows are counted by an [[Observation]] on the
    * written frame, so no cache and no second pass over the grid are
    * needed. An empty set writes only `_SUCCESS` and returns 0.
    */
  def run(spark: SparkSession, input: String, out: String, setName: String): Long = {
    val t = Geo.tiles(spark, input)
    val inSet = setName match {
      case "netherlands" => Geo.inNetherlands(col("lat0"), col("lon0"))
      case "france"      => Geo.inFrance(col("lat0"), col("lon0"))
      case "europe"      => Geo.inEurope(col("lat0"), col("lon0"))
      case "world"       => lit(true)
      case other         => throw new IllegalArgumentException(s"unknown set: $other")
    }
    val written = Observation()
    val grid = Geo.gridExpand(t.filter(inSet))
      .select(col("lat"), col("lon"), col("elevation"), col("tile_key"))
      .observe(written, count(lit(1)))
    Geo.writeTiled(grid, out)
    Await.result(written.future, CountWait).getLong(0)
  }
}
