package graft.geo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RasterExprs
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.Tables
import graft.sources.LocalWriteFileSystem

/** Spark-native re-expression of the reference's geospatial ETL
  * surface (aw3d30-parquet, /root/reference/src/main.rs).
  *
  * The reference's pipeline: S3 listing → tile-name regex parse
  * (main.rs:298) → region-set bbox filter (main.rs:56-88) →
  * idempotent download (main.rs:135-161) → affine grid expansion
  * (main.rs:163-191) → snappy parquet sink (main.rs:272-296).
  *
  * No live GeoTIFF exists in this environment, so the tile universe
  * is derived deterministically from the synthetic star schema
  * (SURVEY.md §3): both Spark and the DuckDB oracle compute identical
  * inputs from `part.p_partkey`. Every transform here is a `Column`
  * expression — whole-stage-codegen'd, pushdown-friendly, no UDFs.
  * All but one are built from Spark's functions; the tile-key parse
  * (`parseLat`/`parseLon`) is one native codegen'd expression,
  * `org.apache.spark.sql.graft.TileDegree`, because it runs once per
  * pixel above an `explode`. The grid expansion is a generator
  * (`explode`) whose parallelism scales with tiles × rows, exactly
  * what a 1000-executor cluster needs for the real 400 GiB `world`
  * set.
  */
object Geo {

  /** AW3D30 tile-name pattern, as in main.rs:298. `parseLat`/`parseLon`
    * match the same pattern by a byte scan (`TileDegree`); ExprSpec
    * checks the scan against this regex.
    */
  val TilePattern = "ALPSMLC30_([NS])(\\d{3})([EW])(\\d{3})_DSM"

  // --- deterministic tile universe (SURVEY.md §3) --------------------
  /** Signed integer tile lat in [-90, 90] derived from a key column. */
  def tileLat(k: Column): Column = pmod(k * lit(37), lit(181)) - lit(90)
  /** Signed integer tile lon in [-180, 180] derived from a key column. */
  def tileLon(k: Column): Column = pmod(k * lit(73), lit(361)) - lit(180)

  /** Key prefixes that COVER the tile-key space, for sharded listing
    * (FsListing): hemisphere × second latitude digit. The latitude is
    * `%03d` of |lat| ≤ 90, so the LEADING digit is always 0 and 20
    * prefixes span every key `tileKey` can emit. Kept beside the
    * formatter so a key-format change breaks both together; GeoSpec
    * additionally reconciles the sharded listing count against a flat
    * listing, which would catch any silently-dropped file.
    */
  val ListingPrefixes: Seq[String] =
    for (h <- Seq("N", "S"); d <- 0 to 9) yield s"ALPSMLC30_${h}0$d"

  /** Scala mirror of `tileKey` for driver-side key construction (the
    * reference addresses tiles by FILENAME the same way, main.rs:108-161
    * — a region resolves to key strings with no data read). GeoSpec
    * asserts this mirror is byte-identical to the column formatter over
    * the whole bounded id space, so they cannot drift apart silently.
    */
  def tileKeyString(lat: Int, lon: Int): String =
    f"ALPSMLC30_${if (lat >= 0) "N" else "S"}%s${math.abs(lat)}%03d${if (lon >= 0) "E" else "W"}%s${math.abs(lon)}%03d_DSM"

  /** Tile keys whose origin falls in a bbox, enumerated by pure
    * arithmetic over the bounded tile-id space — the driver-side
    * "region → partition directories" resolution used by the
    * partition-pruned sink query (g11). Bounded output: a bbox holds
    * at most (latHi-latLo+1)·(lonHi-lonLo+1) distinct keys, so the
    * resulting IN-list stays broadcast-trivial at any corpus scale.
    */
  def regionKeys(idLimit: Int, latLo: Int, latHi: Int, lonLo: Int, lonHi: Int): Seq[String] =
    (0 until idLimit).iterator
      .map(id => (Math.floorMod(id * 37, 181) - 90, Math.floorMod(id * 73, 361) - 180))
      .filter { case (lat, lon) => lat >= latLo && lat <= latHi && lon >= lonLo && lon <= lonHi }
      .map { case (lat, lon) => tileKeyString(lat, lon) }
      .toSeq.distinct

  /** Format a signed (lat, lon) into the reference's tile key. */
  def tileKey(lat: Column, lon: Column): Column =
    format_string(
      "ALPSMLC30_%s%03d%s%03d_DSM",
      when(lat >= 0, "N").otherwise("S"), abs(lat),
      when(lon >= 0, "E").otherwise("W"), abs(lon))

  /** Parse a tile key back to signed lat (null if no match): the
    * leftmost `TilePattern` match anywhere in the string, found by one
    * byte scan (`RasterExprs.tile_lat`).
    */
  def parseLat(key: Column): Column = RasterExprs.tile_lat(key)

  /** Parse a tile key back to signed lon (null if no match), as [[parseLat]]. */
  def parseLon(key: Column): Column = RasterExprs.tile_lon(key)

  // --- region sets (main.rs:56-88) -----------------------------------
  /** N50..=53 × E3..=7 */
  def inNetherlands(lat: Column, lon: Column): Column =
    lat.between(50, 53) && lon.between(3, 7)
  /** N42..=51 × (W6..=0 | E0..=9) */
  def inFrance(lat: Column, lon: Column): Column =
    lat.between(42, 51) && lon.between(-6, 9)
  /** N23..=80 × (W25..=0 | E0..=49) */
  def inEurope(lat: Column, lon: Column): Column =
    lat.between(23, 80) && lon.between(-25, 49)

  /** Tile metadata table derived from `part`: one row per tile with
    * signed integer origin. Mirrors the reference's listed-object
    * manifest; `sizeBytes` stands in for the S3 object size.
    */
  def tiles(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    p.select(
        col("p_partkey").as("tile_id"),
        tileLat(col("p_partkey")).as("lat0"),
        tileLon(col("p_partkey")).as("lon0"))
      .withColumn("tile_key", tileKey(col("lat0"), col("lon0")))
      .withColumn("size_bytes", pmod(col("tile_id") * lit(2654435761L), lit(10000000L)) + lit(1000000L))
  }

  /** Affine grid expansion (main.rs:163-191): each tile expands to an
    * n×n pixel grid; `lon = lon0 + x*step`, `lat = lat0 - y*step`
    * (north-up GeoTIFF geotransform: gt = [lon0, step, 0, lat0, 0,
    * -step]). step = 1/8 — exactly representable in binary so the
    * arithmetic is bit-identical in any IEEE engine. Elevation is a
    * deterministic congruential function of (tile, x, y) standing in
    * for the raster band (main.rs:179-191).
    *
    * Scale: a generator over tiles — Spark parallelizes by input
    * split; at the real 30 m resolution (3600×3600 px/tile) one tile
    * → 12.96M rows, so the real deployment repartitions by tile
    * before expanding. No shuffle is needed for the expansion itself.
    */
  def gridExpand(tilesDf: DataFrame, n: Int = 8, keep: Seq[String] = Nil): DataFrame = {
    // `keep` survives the internal mid-selects unaliased, so a name
    // colliding with a generated or always-selected column would
    // surface as a confusing duplicate-attribute analysis error —
    // reject it here with the actual constraint named (r16 ADVICE)
    val reserved = Set("x", "y", "lon", "lat", "elevation",
      "tile_id", "tile_key", "lat0", "lon0")
    val clash = keep.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"gridExpand keep columns collide with generated columns: ${clash.mkString(", ")}")
    val step = 1.0 / 8
    tilesDf
      .select(col("tile_id") +: col("tile_key") +: col("lat0") +: col("lon0") +:
        keep.map(col) :+ explode(sequence(lit(0), lit(n - 1))).as("y"): _*)
      .select(col("*"), explode(sequence(lit(0), lit(n - 1))).as("x"))
      .select(
        col("tile_id") +: col("tile_key") +:
        (col("lon0") + col("x") * lit(step)).as("lon") +:
        (col("lat0") - col("y") * lit(step)).as("lat") +:
        pmod(col("tile_id") * lit(131) + col("x") * lit(17) + col("y") * lit(29), lit(8848))
          .cast(IntegerType).as("elevation") +: keep.map(col): _*)
  }

  /** Morton (Z-order) interleave of two 9-bit non-negative integers:
    * bit i of `a` lands at output position 2i, bit i of `b` at 2i+1 —
    * the space-filling-curve clustering key behind Delta Z-ORDER /
    * Iceberg sort orders. Pure integer bit arithmetic (9 shift-mask
    * terms summed), whole-stage-codegen'd, and reproduced term-by-term
    * by the DuckDB oracle.
    */
  def morton9(a: Column, b: Column): Column =
    (0 until 9).map { i =>
      shiftright(a, i).bitwiseAND(lit(1)).cast(LongType) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1)).cast(LongType) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Scala mirror of [[morton9]] for driver-side checks. */
  def morton9Long(a: Int, b: Int): Long =
    (0 until 9).map { i =>
      (((a >> i) & 1).toLong << (2 * i)) | (((b >> i) & 1).toLong << (2 * i + 1))
    }.sum

  /** Snappy parquet sink partitioned by tile — the distributed twin of
    * the reference's file-per-tile layout (main.rs:272-296): partition
    * pruning on `tile_key` replaces its filename-based addressing.
    *
    * A `file:` target is written through
    * [[graft.sources.LocalWriteFileSystem]]. Without libhadoop,
    * Hadoop's local file system forks a `chmod` process for every
    * file, `.crc` file and directory it creates: 72 files in their
    * own directories took 630–810 ms through Hadoop's `LocalFileSystem`,
    * 16–52 ms through this one and 2–11 ms through `java.io` (4-core
    * host), so the write task spent most of its wall time on forks. The
    * layout, `.crc` files and permissions are unchanged (GeoSpec).
    * The cache is disabled for this job's `file` scheme because the
    * `FileSystem` cache ignores `fs.file.impl`; other schemes (s3a,
    * hdfs) and every other `file:` access are unaffected.
    */
  def writeTiled(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("compression", "snappy")
      .option("fs.file.impl", classOf[LocalWriteFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy("tile_key")
      .parquet(path)
}
