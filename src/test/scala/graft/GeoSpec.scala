package graft

import org.apache.spark.sql.functions._
import graft.geo.{Geo, GeoQueries}

class GeoSpec extends SparkSpec {
  import spark.implicits._

  test("tile key formats and parses all four hemisphere quadrants") {
    val df = Seq((50, 6), (-14, -77), (0, 0), (-90, 180)).toDF("lat", "lon")
      .select(col("lat"), col("lon"), Geo.tileKey(col("lat"), col("lon")).as("key"))
      .select(col("lat"), col("lon"), col("key"),
        Geo.parseLat(col("key")).as("plat"), Geo.parseLon(col("key")).as("plon"))
    df.collect().foreach { r =>
      assert(r.getInt(3) == r.getInt(0), s"lat roundtrip: $r")
      assert(r.getInt(4) == r.getInt(1), s"lon roundtrip: $r")
    }
    val keys = df.select("key").as[String].collect()
    assert(keys.contains("ALPSMLC30_N050E006_DSM"))
    assert(keys.contains("ALPSMLC30_S014W077_DSM"))
  }

  test("tileKeyString mirror is byte-identical to the column formatter") {
    // every (lat, lon) the bounded id space can produce, both ways
    val ids = (0 until 800).map(_.toLong)
    val fromCol = ids.toDF("id")
      .select(Geo.tileKey(Geo.tileLat(col("id")), Geo.tileLon(col("id"))).as("key"))
      .as[String].collect()
    val fromScala = ids.map(id =>
      Geo.tileKeyString(Math.floorMod(id * 37, 181).toInt - 90,
        Math.floorMod(id * 73, 361).toInt - 180))
    assert(fromCol.toSeq == fromScala)
  }

  test("regionKeys enumerates exactly the tiles the column predicate admits") {
    val expected = Geo.tiles(spark, Sf)
      .filter(col("tile_id") < geo.Fixtures.TiledLimit &&
        Geo.inEurope(col("lat0"), col("lon0")))
      .select("tile_key").distinct().as[String].collect().toSet
    val got = Geo.regionKeys(geo.Fixtures.TiledLimit, 23, 80, -25, 49).toSet
    // regionKeys covers the full id space; data may hold fewer ids
    assert(expected.subsetOf(got), (expected -- got).take(5).toString)
  }

  test("malformed tile keys parse to null") {
    val df = Seq("garbage", "ALPSMLC30_X050E006_DSM").toDF("key")
      .select(Geo.parseLat(col("key")).as("plat"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("region predicates match the reference's set bounds (main.rs:69-87)") {
    val cases = Seq(
      // (lat, lon, netherlands, france, europe)
      (52, 5, true, false, true),   // Amsterdam: in NL set; France caps at N51 (main.rs:76)
      (48, 2, false, true, true),   // Paris tile
      (48, -3, false, true, true),  // Brittany (west lon)
      (60, 25, false, false, true), // Helsinki
      (40, -100, false, false, false)) // Kansas
    val df = cases.map(c => (c._1, c._2)).toDF("lat", "lon").select(
      col("lat"), col("lon"),
      Geo.inNetherlands(col("lat"), col("lon")).as("nl"),
      Geo.inFrance(col("lat"), col("lon")).as("fr"),
      Geo.inEurope(col("lat"), col("lon")).as("eu"))
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
    assert(got.toSet == cases.toSet)
  }

  test("gridExpand emits n*n pixels per tile with exact affine coordinates") {
    val tiles = Seq((1L, "ALPSMLC30_N050E006_DSM", 50L, 6L))
      .toDF("tile_id", "tile_key", "lat0", "lon0")
    val g = Geo.gridExpand(tiles, n = 8)
    assert(g.count() == 64)
    val r = g.filter(col("lat") === 50.0 && col("lon") === 6.0).collect()
    assert(r.length == 1) // pixel (0,0) at the tile origin
    val lats = g.select("lat").as[Double].collect().toSet
    assert(lats == (0 until 8).map(y => 50.0 - y * 0.125).toSet)
  }

  test("writeTiled partitions by tile_key and reads back pruned") {
    val dir = scratchDir("graft_geo")
    val g = Geo.gridExpand(Geo.tiles(spark, Sf).limit(5))
    Geo.writeTiled(g, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == g.count())
    val keys = g.select("tile_key").distinct().as[String].collect()
    val one = back.filter(col("tile_key") === keys.head)
    assert(one.count() == 64)
  }

  test("writeTiled equals a default local-FS write: files, .crc files, permissions, data; s3a still writes") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import scala.jdk.CollectionConverters._
    val g = Geo.gridExpand(Geo.tiles(spark, Sf).filter(col("tile_id") < 12))
      .repartition(col("tile_key"))
    val ours = scratchDir("graft_tiled")
    val control = scratchDir("graft_tiled_control")
    // bytes written through the in-process-chmod file system: writeTiled
    // must reach it (its writer options select it for this job only),
    // the default write must not
    val viaOurs = org.apache.hadoop.fs.FileSystem.getStatistics("file",
      classOf[graft.sources.InProcessChmodFileSystem])
    val before = viaOurs.getBytesWritten
    Geo.writeTiled(g, ours)
    val afterOurs = viaOurs.getBytesWritten
    assert(afterOurs > before, "writeTiled did not write through LocalWriteFileSystem")
    g.write.mode("overwrite").option("compression", "snappy")
      .partitionBy("tile_key").parquet(control)
    assert(viaOurs.getBytesWritten == afterOurs)
    // relative path (part-file ids folded) and POSIX mode of every entry
    def tree(root: String): Seq[(String, String)] = {
      val r = Paths.get(root)
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_ != r).map { p =>
        r.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toVector.sorted
      finally walk.close()
    }
    val files = tree(ours)
    assert(files == tree(control))
    val names = files.map(_._1)
    val tileDirs = names.filter(n => n.startsWith("tile_key=") && !n.contains("/"))
    assert(tileDirs.nonEmpty)
    tileDirs.foreach { d =>
      assert(names.filter(_.startsWith(s"$d/")) ==
        Seq(s"$d/.part.c000.snappy.parquet.crc", s"$d/part.c000.snappy.parquet"))
    }
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"))
    val back = spark.read.parquet(ours)
    val backControl = spark.read.parquet(control)
    assert(back.count() == g.count())
    assert(back.exceptAll(backControl).isEmpty && backControl.exceptAll(back).isEmpty)
    // the file-system choice is the local disk's only: s3a writes as before
    val stub = new S3Stub("tiles")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", "graft.sources.S3HttpFileSystem")
      hc.set("fs.s3a.endpoint", stub.endpoint)
      hc.set("fs.s3a.retry.base.ms", "10")
      hc.set("fs.s3a.impl.disable.cache", "true")
      Geo.writeTiled(g, "s3a://tiles/grid")
      assert(stub.keys.count(k => k.startsWith("grid/tile_key=") && k.endsWith(".parquet")) ==
        tileDirs.length, stub.keys)
      val viaS3 = spark.read.parquet("s3a://tiles/grid")
      assert(viaS3.exceptAll(back).isEmpty && back.exceptAll(viaS3).isEmpty)
    } finally stub.stop()
  }

  test("InProcessChmodFileSystem sets the same mode bits as Hadoop's forked chmod") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = scratchDir("graft_chmod")
    val ours = new graft.sources.InProcessChmodFileSystem
    val hadoop = new RawLocalFileSystem
    Seq(ours, hadoop).foreach(_.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration))
    def modeAfter(fs: RawLocalFileSystem, name: String, m: Int): Int = {
      val f = new java.io.File(dir, name)
      assert(f.createNewFile())
      fs.setPermission(new Path(f.getPath), new FsPermission(m.toShort))
      java.nio.file.Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff
    }
    // 1777 carries the sticky bit, which goes through the parent
    val rnd = new scala.util.Random(5)
    val modes = Seq("0", "400", "644", "755", "777", "1777").map(Integer.parseInt(_, 8)) ++
      Seq.fill(24)(rnd.nextInt(512))
    modes.zipWithIndex.foreach { case (m, i) =>
      assert(modeAfter(ours, s"ours-$i", m) == modeAfter(hadoop, s"hadoop-$i", m),
        s"mode ${Integer.toOctalString(m)}")
    }
  }

  test("g34: compaction rewrites each bin into ONE file; row multiset preserved both ways") {
    val manifest = graft.geo.GeoQueries.compactionApply(spark, Sf).collect()
    assert(manifest.nonEmpty)
    val fixture = graft.geo.Fixtures.ensureTiledSink(spark, Sf)
    val outPath = graft.geo.GeoQueries.compactedPath(Sf)
    def parquets(d: java.io.File): Seq[java.io.File] =
      if (!d.isDirectory) Nil
      else d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) parquets(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    // byte level: each bin directory holds exactly one parquet file
    val binDirs = new java.io.File(outPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bin_id="))
    assert(binDirs.length == manifest.length, s"${binDirs.length} bin dirs vs ${manifest.length} manifest rows")
    binDirs.foreach { d =>
      val fs = parquets(d)
      assert(fs.length == 1, s"${d.getName}: ${fs.length} files")
    }
    // compaction compacted: strictly fewer files than the per-tile sink
    val beforeFiles = parquets(new java.io.File(fixture)).length
    assert(binDirs.length < beforeFiles,
      s"after ${binDirs.length} !< before $beforeFiles")
    assert(beforeFiles.toLong == manifest.map(_.getAs[Long]("n_files_before")).sum)
    // multiset identity both ways on full rows
    val src = spark.read.parquet(fixture)
      .select(col("tile_id"), col("lon"), col("lat"), col("elevation"),
        col("tile_key").cast("string"))
    val cmp = spark.read.parquet(outPath)
      .select(col("tile_id"), col("lon"), col("lat"), col("elevation"),
        col("tile_key").cast("string"))
    assert(src.exceptAll(cmp).isEmpty && cmp.exceptAll(src).isEmpty)
    graft.Caches.clear()
  }

  test("ensureTiledSink rebuilds a sink deleted mid-JVM instead of returning its stale path") {
    import graft.geo.Fixtures
    val first = new java.io.File(Fixtures.ensureTiledSink(spark, Sf))
    Fixtures.deleteRecursively(first)
    assert(!first.exists())
    val again = new java.io.File(Fixtures.ensureTiledSink(spark, Sf))
    assert(again == first && new java.io.File(again, "_COMPLETE").exists())
    val tiles = Geo.tiles(spark, Sf).filter(col("tile_id") < Fixtures.TiledLimit).count()
    assert(spark.read.parquet(again.toString).count() == tiles * Fixtures.GridN * Fixtures.GridN)
  }

  test("Cli.run writes a tiled parquet dataset filtered to the set") {
    val out = scratchDir("graft_cli")
    Tables.part(spark, Sf) // the part schema is read outside the counted window
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val (n, jobs) = withJobCount(Cli.run(spark, Sf, out, "europe"))
    // the write counts its own rows: no cache, no second pass
    assert(jobs == 1)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    val t = Geo.tiles(spark, Sf)
    val expectedTiles = t.filter(Geo.inEurope(col("lat0"), col("lon0"))).count()
    assert(n == expectedTiles * 64)
    val back = spark.read.parquet(out)
    assert(n == back.count())
    assert(back.columns.sorted.toSeq == Seq("elevation", "lat", "lon", "tile_key"))
    intercept[IllegalArgumentException](Cli.run(spark, Sf, out, "atlantis"))
  }

  test("Cli.run over a set with no tiles returns 0 and writes only _SUCCESS") {
    // one tile at (-53, -107): in no set but world
    val in = scratchDir("graft_cli_empty_in")
    spark.range(1, 2).toDF("p_partkey").write.parquet(s"$in/part.parquet")
    for (set <- Seq("netherlands", "france", "europe")) {
      val out = scratchDir("graft_cli_empty")
      assert(Cli.run(spark, in, out, set) == 0, set)
      assert(new java.io.File(out).list().toSet == Set("_SUCCESS", "._SUCCESS.crc"), set)
    }
  }

  test("g7: raster bytes decode to the formula values; malformed payloads → null") {
    import org.apache.spark.sql.graft.RasterExprs
    val good = graft.geo.Fixtures.rasterBytes(7, 12, -34, 2)
    val bad1 = "notGRFT".getBytes
    val bad2 = good.take(25) // truncated band
    val df = Seq(good, bad1, bad2).toDF("content")
      .select(RasterExprs.raster_decode(col("content")).as("r"))
    val rows = df.collect()
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
    val r = rows(0).getStruct(0)
    assert(r.getInt(0) == 7 && r.getInt(1) == 12 && r.getInt(2) == -34)
    val pts = r.getSeq[org.apache.spark.sql.Row](3)
    assert(pts.length == 4)
    // elevation formula: (7*131 + x*17 + y*29) % 8848
    assert(pts.map(p => (p.getInt(0), p.getInt(1), p.getInt(2))).toSet ==
      Set((0, 0, 917), (1, 0, 934), (0, 1, 946), (1, 1, 963)))
  }

  test("g7: end-to-end binaryFile ingest matches the expanded-grid stats") {
    val got = GeoQueries.rasterIngest(spark, Sf)
      .select("tile_key", "n_pixels", "min_elev", "max_elev", "sum_elev")
      .collect().map(_.toSeq).toSet
    val exp = Geo.gridExpand(Geo.tiles(spark, Sf).filter(col("tile_id") < graft.geo.Fixtures.RasterLimit))
      .groupBy(col("tile_key"))
      .agg(count(lit(1)).as("n_pixels"), min(col("elevation")).as("min_elev"),
        max(col("elevation")).as("max_elev"), sum(col("elevation")).as("sum_elev"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == exp)
    assert(GeoQueries.rasterIngest(spark, Sf).filter(!col("key_matches_header")).count() == 0)
  }

  test("g9: TiffDecode parses both byte orders and rejects malformed payloads") {
    import spark.implicits._
    val le = graft.geo.Fixtures.tiffBytes(7, n = 8)
    val be = graft.geo.Fixtures.tiffBytes(7, n = 8, order = java.nio.ByteOrder.BIG_ENDIAN)
    val bad = "not a tiff".getBytes
    val truncated = le.take(le.length - 5)
    val rows = Seq(le, be, bad, truncated).toDF("content")
      .select(org.apache.spark.sql.graft.RasterExprs.tiff_decode(col("content")))
      .collect()
    assert(rows(2).isNullAt(0) && rows(3).isNullAt(0))
    for (i <- 0 to 1) {
      val r = rows(i).getStruct(0)
      assert(r.getInt(0) == 8 && r.getInt(1) == 8)
      val pts = r.getSeq[org.apache.spark.sql.Row](2)
      assert(pts.length == 64)
      // same congruential formula as GRFT: (7*131 + x*17 + y*29) % 8848
      assert(pts.forall(p =>
        p.getInt(2) == (7 * 131 + p.getInt(0) * 17 + p.getInt(1) * 29) % 8848))
    }
  }

  test("g9: a SINGLE-strip TIFF decodes exactly (count-1 LONG values are inline)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    for (order <- Seq(java.nio.ByteOrder.LITTLE_ENDIAN, java.nio.ByteOrder.BIG_ENDIAN);
         n <- Seq(1, 2, 3)) { // rowsPerStrip = 3 ⇒ all single-strip
      val out = expr.eval(InternalRow(graft.geo.Fixtures.tiffBytes(7, n, order)))
        .asInstanceOf[InternalRow]
      assert(out != null, s"n=$n $order decoded to null")
      assert(out.getInt(0) == n && out.getInt(1) == n)
      val pts = out.getArray(2)
      assert(pts.numElements() == n * n)
      for (i <- 0 until n * n) {
        val p = pts.getStruct(i, 3)
        val (x, y) = (p.getInt(0), p.getInt(1))
        assert(p.getInt(2) == ((7L * 131 + x * 17 + y * 29) % 8848).toInt)
      }
    }
  }

  test("g9: TiffDecode never throws on corrupted payloads — null or a decode, only") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val base = graft.geo.Fixtures.tiffBytes(11, n = 8)
    val rnd = new scala.util.Random(7)
    // truncations at every boundary region + random byte flips: a
    // malformed container must drop out (null), never crash the scan
    // a tiny payload CLAIMING huge dims must fail the strip-backing
    // check before the pixel array is allocated (OOM guard): patch
    // ImageWidth/ImageLength (first two IFD entries, inline LONGs at
    // ifd+2+{0,1}*12+8) up to the 16384 cap
    val huge = base.clone()
    val bb = java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(10 + 8, 16384)
    bb.putInt(22 + 8, 16384)
    val mutants =
      Seq(huge) ++
      (0 until base.length by 7).map(base.take(_)) ++
      (1 to 300).map { _ =>
        val m = base.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        m
      }
    mutants.foreach { m =>
      val out = expr.eval(InternalRow(m)) // must not throw
      assert(out == null || out.isInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
    }
    assert(expr.eval(InternalRow(huge)) == null)
  }

  test("g9: TIFF ingest agrees with the GRFT ingest on every shared stat") {
    val got = GeoQueries.rasterIngestTiff(spark, Sf)
    assert(got.filter(!col("dims_ok")).count() == 0)
    val a = got.select("tile_id", "tile_key", "lat0", "lon0",
      "n_pixels", "min_elev", "max_elev", "avg_elev_e6", "sum_elev")
      .collect().map(_.toSeq).toSet
    val b = GeoQueries.rasterIngest(spark, Sf).select("tile_id", "tile_key", "lat0", "lon0",
      "n_pixels", "min_elev", "max_elev", "avg_elev_e6", "sum_elev")
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("g10: TiffDecode round-trips every DEFLATE layout the fixture cycles") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val n = graft.geo.Fixtures.GridN2
    val variants = Seq(
      graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1),
      graft.geo.Fixtures.tiffBytesDeflate(9),
      graft.geo.Fixtures.tiffBytesDeflate(9, tiled = true),
      graft.geo.Fixtures.tiffBytesDeflate(9, tiled = true,
        order = java.nio.ByteOrder.BIG_ENDIAN),
      // non-multiple-of-16 grid exercises a 16x16 tile fully padded
      // on two sides AND a striped short last strip
      graft.geo.Fixtures.tiffBytesDeflate(9, n = 17, tiled = true),
      graft.geo.Fixtures.tiffBytesDeflate(9, n = 17),
      // Int16 band (real AW3D30 sample format), every layout: baseline
      // uncompressed, DEFLATE striped +/- predictor, DEFLATE tiled BE
      graft.geo.Fixtures.tiffBytesDeflate(9, bits = 16, predictor = 1,
        compress = false),
      graft.geo.Fixtures.tiffBytesDeflate(9, bits = 16),
      graft.geo.Fixtures.tiffBytesDeflate(9, bits = 16, tiled = true,
        order = java.nio.ByteOrder.BIG_ENDIAN),
      graft.geo.Fixtures.tiffBytesDeflate(9, bits = 16, n = 17, tiled = true))
    for ((bytes, vi) <- variants.zipWithIndex) {
      val nn = if (vi == 4 || vi == 5 || vi == 9) 17 else n
      val out = expr.eval(InternalRow(bytes)).asInstanceOf[InternalRow]
      assert(out != null, s"variant $vi decoded to null")
      assert(out.getInt(0) == nn && out.getInt(1) == nn)
      val pts = out.getArray(2)
      assert(pts.numElements() == nn * nn, s"variant $vi")
      for (i <- 0 until nn * nn) {
        val p = pts.getStruct(i, 3)
        val (x, y) = (p.getInt(0), p.getInt(1))
        assert(p.getInt(2) == ((9L * 131 + x * 17 + y * 29) % 8848).toInt,
          s"variant $vi pixel ($x,$y)")
      }
    }
  }

  // One body for every TIFF-ingest query whose fixture carries the
  // plain elevation formula on a GridN2 grid, whatever its layouts (g9
  // uses GridN and g37 blockPix: both keep their own tests).
  Seq(
    ("g10", "DEFLATE", GeoQueries.rasterIngestTiffDeflate _),
    ("g12", "Int16", GeoQueries.rasterIngestTiffI16 _),
    ("g27", "PackBits + Float32", GeoQueries.rasterIngestTiffPackbits _),
    ("g35", "ZSTD + BigTIFF", GeoQueries.rasterIngestTiffZstdBig _)
  ).foreach { case (q, layouts, ingest) =>
    test(s"$q: $layouts TIFF ingest agrees with the formula on every stat") {
      val got = ingest(spark, Sf)
      assert(got.filter(!col("dims_ok")).count() == 0)
      val n = graft.geo.Fixtures.GridN2
      val a = got.select("tile_id", "n_pixels", "min_elev", "max_elev", "sum_elev")
        .as[(Long, Long, Int, Int, Long)].collect().toSet
      val ids = Geo.tiles(spark, Sf).filter(col("tile_id") < graft.geo.Fixtures.RasterLimit)
        .select("tile_id").as[Long].collect()
      val b = ids.map { id =>
        val elevs = for (y <- 0 until n; x <- 0 until n)
          yield ((id * 131 + x * 17 + y * 29) % 8848).toInt
        (id, (n * n).toLong, elevs.min, elevs.max, elevs.map(_.toLong).sum)
      }.toSet
      assert(a.nonEmpty && a == b)
    }
  }

  test("g10: TiffDecode never throws on corrupted DEFLATE payloads; bombs are gated") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val rnd = new scala.util.Random(13)
    for (base <- Seq(graft.geo.Fixtures.tiffBytesDeflate(11),
      graft.geo.Fixtures.tiffBytesDeflate(11, tiled = true),
      graft.geo.Fixtures.tiffBytesDeflate(11, bits = 16),
      graft.geo.Fixtures.tiffBytesDeflate(11, bits = 16, predictor = 1,
        compress = false))) {
      // a tiny compressed payload claiming the 16384x16384 cap must
      // fail the decoded-bytes backing gate (zlib max expansion) long
      // before the 268M-element pixel array would be allocated
      val huge = base.clone()
      val bb = java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(10 + 8, 16384)
      bb.putInt(22 + 8, 16384)
      assert(expr.eval(InternalRow(huge)) == null)
      val mutants =
        (0 until base.length by 7).map(base.take(_)) ++
        (1 to 300).map { _ =>
          val m = base.clone()
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          m
        }
      mutants.foreach { m =>
        val out = expr.eval(InternalRow(m)) // must not throw
        assert(out == null || out.isInstanceOf[InternalRow])
      }
    }
  }

  test("g13: TIFF-LZW round-trips across width bumps and clear resets; corrupt never throws") {
    val rnd = new scala.util.Random(17)
    // sizes straddling the 9->10->11->12-bit early-change boundaries
    // (253/765/1789 payload bytes after the first code) and the 4093
    // clear-reset threshold of the literal-only writer
    for (size <- Seq(0, 1, 200, 253, 254, 765, 766, 1789, 1790, 3835, 3836, 5000, 20000)) {
      val data = Array.fill(size)(rnd.nextInt(256).toByte)
      val enc = graft.geo.Fixtures.lzwEncode(data)
      val dec = org.apache.spark.sql.graft.TiffLzw.decode(enc, 0, enc.length, size)
      assert(dec != null && java.util.Arrays.equals(dec, data), s"size=$size")
      // wrong expected length must fail, not mis-size
      if (size > 0)
        assert(org.apache.spark.sql.graft.TiffLzw.decode(enc, 0, enc.length, size - 1) == null)
    }
    // real-LZW shape: a decoder-side stream with actual string codes
    // incl. the KwKwK case ("ababab...": encoder would emit 97,98,258,
    // 260(=KwKwK)...) — hand-build one and check against a reference
    // decode of repeated text through the fixture path is below; here
    // assert corrupt streams never throw
    val base = graft.geo.Fixtures.lzwEncode(Array.fill(500)(rnd.nextInt(256).toByte))
    (1 to 300).foreach { _ =>
      val m = base.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      val out = org.apache.spark.sql.graft.TiffLzw.decode(m, 0, m.length, 500)
      assert(out == null || out.length == 500) // never throws, never mis-sizes
    }
  }

  test("g13: NoData tag decodes, sentinel pixels null out, fuzz extended to LZW layout") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val nd = Some(graft.geo.Fixtures.NoDataVal)
    val n = graft.geo.Fixtures.GridN2
    for ((bytes, lzw) <- Seq(
      (graft.geo.Fixtures.tiffBytesDeflate(7, bits = 16, compress = false,
        lzw = true, noData = nd), true),
      (graft.geo.Fixtures.tiffBytesDeflate(7, bits = 16, noData = nd), false),
      (graft.geo.Fixtures.tiffBytesDeflate(7, tiled = true, bits = 16,
        order = java.nio.ByteOrder.BIG_ENDIAN, noData = nd), false))) {
      val row = expr.eval(InternalRow(bytes)).asInstanceOf[InternalRow]
      assert(row != null, s"decode failed lzw=$lzw")
      assert(row.getInt(0) == n && row.getInt(1) == n)
      assert(!row.isNullAt(3) && row.getInt(3) == graft.geo.Fixtures.NoDataVal)
      val pts = row.getArray(2)
      var sentinels = 0
      (0 until pts.numElements()).foreach { i =>
        val p = pts.getStruct(i, 3)
        val x = p.getInt(0); val y = p.getInt(1); val e = p.getInt(2)
        val expected = if ((x * 13 + y * 7 + 7) % 89 == 0) graft.geo.Fixtures.NoDataVal
          else ((7L * 131 + x * 17 + y * 29) % 8848).toInt
        assert(e == expected, s"($x,$y) lzw=$lzw")
        if (e == graft.geo.Fixtures.NoDataVal) sentinels += 1
      }
      assert(sentinels > 0)
    }
    // fuzz: byte flips + truncations of the LZW-compressed container
    // never throw (extends the g10 fuzz to the new codec)
    val rnd = new scala.util.Random(19)
    val base = graft.geo.Fixtures.tiffBytesDeflate(11, bits = 16, compress = false,
      lzw = true, noData = nd)
    val mutants =
      (0 until base.length by 7).map(base.take(_)) ++
      (1 to 300).map { _ =>
        val m = base.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        m
      }
    mutants.foreach { m =>
      val out = expr.eval(InternalRow(m))
      assert(out == null || out.isInstanceOf[InternalRow])
    }
    // a file WITHOUT the tag decodes with a null nodata field
    val plain = graft.geo.Fixtures.tiffBytesDeflate(7, bits = 16)
    val prow = expr.eval(InternalRow(plain)).asInstanceOf[InternalRow]
    assert(prow.isNullAt(3))
  }

  test("g27: PackBits + Float32 layouts decode exactly; packbits fuzz never throws") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val n = graft.geo.Fixtures.GridN2
    def pix(id: Int, x: Int, y: Int): Int = ((id.toLong * 131 + x * 17 + y * 29) % 8848).toInt
    // all five fixture layouts round-trip pixel-exactly
    val layouts: Seq[(String, Array[Byte])] = Seq(
      "pb-i32" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, packbits = true),
      "pb-i16" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, packbits = true, bits = 16),
      "pb-tiled-be" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, packbits = true, tiled = true,
        order = java.nio.ByteOrder.BIG_ENDIAN),
      "f32-raw" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, floatSamples = true),
      "f32-pb" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, packbits = true, floatSamples = true))
    layouts.foreach { case (label, bytes) =>
      val row = expr.eval(InternalRow(bytes)).asInstanceOf[InternalRow]
      assert(row != null, label)
      assert(row.getInt(0) == n && row.getInt(1) == n, label)
      val pts = row.getArray(2)
      assert(pts.numElements() == n * n, label)
      (0 until pts.numElements()).foreach { i =>
        val p = pts.getStruct(i, 3)
        assert(p.getInt(2) == pix(9, p.getInt(0), p.getInt(1)),
          s"$label (${p.getInt(0)},${p.getInt(1)})")
      }
    }
    // packbits codec identity on adversarial byte patterns (long runs,
    // alternations, 128-boundary literals)
    val rnd = new scala.util.Random(31)
    (0 until 20).foreach { k =>
      val data = k match {
        case 0 => Array.fill[Byte](400)(7)
        case 1 => Array.tabulate[Byte](400)(i => (i % 2).toByte)
        case 2 => Array.tabulate[Byte](300)(i => (i % 129).toByte)
        case _ => Array.fill[Byte](rnd.nextInt(500) + 1)(rnd.nextInt(4).toByte)
      }
      val enc = graft.geo.Fixtures.packbitsEncode(data)
      // decode via a 1-strip fixture shape is overkill; exercise the
      // kernel through a real file instead below. Here: encoder sanity
      assert(enc.nonEmpty && enc.length <= data.length + (data.length + 127) / 128)
    }
    // fuzz: truncations + byte flips of a PackBits container never
    // throw (extends the g10/g13 fuzz to the new codec)
    val base = layouts.head._2
    val mutants =
      (0 until base.length by 7).map(base.take(_)) ++
      (1 to 300).map { _ =>
        val m = base.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        m
      }
    mutants.foreach { m =>
      val out = expr.eval(InternalRow(m))
      assert(out == null || out.isInstanceOf[InternalRow])
    }
    // float truncation semantics: a non-integer float truncates toward
    // zero (the read_band_as::<i32> widening rule this subset mirrors)
    val fbytes = graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
      compress = false, floatSamples = true)
    // patch pixel (0,0)'s float to 123.9f: first strip data starts
    // right after the IFD + external arrays — find it via the decoded
    // identity instead of offsets arithmetic: flip and re-check
    val row0 = expr.eval(InternalRow(fbytes)).asInstanceOf[InternalRow]
    assert(row0 != null) // guard: the layout decodes before we reason about it
    val needle = java.lang.Float.floatToIntBits(pix(9, 0, 0).toFloat)
    val bb = java.nio.ByteBuffer.wrap(fbytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val at = (0 until fbytes.length - 3).find(i => bb.getInt(i) == needle).get
    bb.putInt(at, java.lang.Float.floatToIntBits(123.9f))
    val row1 = expr.eval(InternalRow(fbytes)).asInstanceOf[InternalRow]
    val p00 = (0 until row1.getArray(2).numElements()).map(row1.getArray(2).getStruct(_, 3))
      .find(p => p.getInt(0) == 0 && p.getInt(1) == 0).get
    assert(p00.getInt(2) == 123, "float band must truncate toward zero")
  }

  test("g35: ZSTD + BigTIFF layouts decode exactly; fuzz never throws") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val n = graft.geo.Fixtures.GridN2
    def pix(id: Int, x: Int, y: Int): Int = ((id.toLong * 131 + x * 17 + y * 29) % 8848).toInt
    // all five fixture layouts round-trip pixel-exactly
    val layouts: Seq[(String, Array[Byte])] = Seq(
      "zstd-i32" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, zstd = true),
      "zstd-i16-pred2" -> graft.geo.Fixtures.tiffBytesDeflate(9,
        compress = false, zstd = true, bits = 16),
      "zstd-tiled-be" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, zstd = true, tiled = true,
        order = java.nio.ByteOrder.BIG_ENDIAN),
      "bigtiff-raw" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, bigTiff = true),
      "bigtiff-zstd-pred2" -> graft.geo.Fixtures.tiffBytesDeflate(9,
        compress = false, zstd = true, bigTiff = true))
    layouts.foreach { case (label, bytes) =>
      val row = expr.eval(InternalRow(bytes)).asInstanceOf[InternalRow]
      assert(row != null, label)
      assert(row.getInt(0) == n && row.getInt(1) == n, label)
      val pts = row.getArray(2)
      assert(pts.numElements() == n * n, label)
      (0 until pts.numElements()).foreach { i =>
        val p = pts.getStruct(i, 3)
        assert(p.getInt(2) == pix(9, p.getInt(0), p.getInt(1)),
          s"$label (${p.getInt(0)},${p.getInt(1)})")
      }
    }
    // the BigTIFF container genuinely carries the 43 magic and LONG8
    // layout arrays — the writer isn't quietly emitting classic TIFF
    val big = layouts.find(_._1 == "bigtiff-raw").get._2
    val bb = java.nio.ByteBuffer.wrap(big).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getShort(2) == 43 && bb.getShort(4) == 8 && bb.getShort(6) == 0)
    // fuzz: truncations + byte flips of both a zstd and a BigTIFF
    // container never throw (extends the g10/g13/g27 fuzz families)
    val rnd = new scala.util.Random(47)
    Seq(layouts.head._2, big, layouts.last._2).foreach { base =>
      val mutants =
        (0 until base.length by 7).map(base.take(_)) ++
        (1 to 300).map { _ =>
          val m = base.clone()
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          m
        }
      mutants.foreach { m =>
        val out = expr.eval(InternalRow(m))
        assert(out == null || out.isInstanceOf[InternalRow])
      }
    }
    // a zstd bomb-shaped claim fails the backed() gate instead of
    // allocating: truncate the segment bytes but leave dims in place
    val bombish = layouts.head._2.take(200)
    assert(expr.eval(InternalRow(bombish)) == null)
  }

  test("g37: JPEG-in-TIFF layouts decode exactly; codec is genuinely lossy; fuzz never throws") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    val n = graft.geo.Fixtures.GridN2
    def pix(id: Int, x: Int, y: Int): Int = graft.geo.Fixtures.blockPix(id, x, y)
    val layouts: Seq[(String, Array[Byte])] = Seq(
      "jpeg-full" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, jpeg = true, bits = 8),
      "jpeg-tables" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, jpeg = true, jpegTables = true, bits = 8),
      "jpeg-full-be" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, jpeg = true, bits = 8,
        order = java.nio.ByteOrder.BIG_ENDIAN),
      "jpeg-tables-bigtiff" -> graft.geo.Fixtures.tiffBytesDeflate(9, predictor = 1,
        compress = false, jpeg = true, jpegTables = true, bits = 8, bigTiff = true))
    layouts.foreach { case (label, bytes) =>
      val row = expr.eval(InternalRow(bytes)).asInstanceOf[InternalRow]
      assert(row != null, label)
      assert(row.getInt(0) == n && row.getInt(1) == n, label)
      val pts = row.getArray(2)
      assert(pts.numElements() == n * n, label)
      (0 until pts.numElements()).foreach { i =>
        val p = pts.getStruct(i, 3)
        assert(p.getInt(2) == pix(9, p.getInt(0), p.getInt(1)),
          s"$label (${p.getInt(0)},${p.getInt(1)})")
      }
    }
    // the codec is genuinely LOSSY — per-pixel-varying content does
    // NOT roundtrip (so the fixture isn't quietly uncompressed, and
    // the block-constant design is load-bearing)
    val varying = graft.geo.Fixtures.jpegEncodeGray(24, 24,
      (x, y) => ((x * 17 + y * 29) % 251) % 256)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(varying))
    val lossy = (0 until 24).exists(y => (0 until 24).exists(x =>
      back.getRaster.getSample(x, y, 0) != ((x * 17 + y * 29) % 251) % 256))
    assert(lossy, "per-pixel content should not survive quality-1.0 JPEG")
    // the abbreviated fixture genuinely splits: tag 347 present and
    // the per-strip streams carry no DQT/DHT of their own
    val (tbl, img) = graft.geo.Fixtures.splitJpeg(
      graft.geo.Fixtures.jpegEncodeGray(24, 8, (x, y) => pix(9, x, y)))
    assert(tbl.length > 4 && img.length > 4)
    def hasMarker(b: Array[Byte], m: Int): Boolean =
      b.sliding(2).exists(w => (w(0) & 0xFF) == 0xFF && (w(1) & 0xFF) == m)
    assert(hasMarker(tbl, 0xDB) && hasMarker(tbl, 0xC4))
    assert(!hasMarker(img.takeWhile(_ != 0xDA.toByte), 0xDB))
    // fuzz: truncations + byte flips of complete-stream, tables, and
    // BigTIFF variants never throw
    val rnd = new scala.util.Random(59)
    Seq(layouts.head._2, layouts(1)._2, layouts.last._2).foreach { base =>
      val mutants =
        (0 until base.length by 7).map(base.take(_)) ++
        (1 to 200).map { _ =>
          val m = base.clone()
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          m
        }
      mutants.foreach { m =>
        val out = expr.eval(InternalRow(m))
        assert(out == null || out.isInstanceOf[InternalRow])
      }
    }
  }

  test("g28: contour crossings re-derive from an independent JVM sweep") {
    val n = graft.geo.Fixtures.GridN
    def elev(t: Long, x: Int, y: Int): Long = Math.floorMod(t * 131 + x * 17 + y * 29, 8848)
    val got = GeoQueries.contourCensus(spark, Sf).collect()
    assert(got.length == graft.geo.Fixtures.RasterLimit * 8)
    got.foreach { r =>
      val (t, level) = (r.getLong(0), r.getLong(2))
      var cross = 0L; var below = 0L
      for (y <- 0 until n; x <- 0 until n) {
        val e0 = elev(t, x, y)
        if (e0 < level) below += 1
        if (x < n - 1 && (e0 < level) != (elev(t, x + 1, y) < level)) cross += 1
        if (y < n - 1 && (e0 < level) != (elev(t, x, y + 1) < level)) cross += 1
      }
      assert(r.getLong(3) == cross, s"tile $t level $level cross")
      assert(r.getLong(4) == below, s"tile $t level $level below")
    }
    // both census columns genuinely vary across levels
    assert(got.map(_.getLong(3)).distinct.length > 3)
    // the census computes inside the decode split: no Exchange before
    // the final sort (g17's zero-shuffle discipline)
    val plan = GeoQueries.contourCensus(spark, Sf).queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the final-order exchange:\n$plan")
  }

  test("g26: geotags parse from file bytes; audit flags mismatches; tag fuzz never throws") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val expr = org.apache.spark.sql.graft.TiffDecode(BoundReference(0, BinaryType, true))
    // direct decode: the struct carries exactly the written doubles
    val tagged = graft.geo.Fixtures.tiffBytes(7, geo = Some((12.0, -3.0)))
    val row = expr.eval(InternalRow(tagged)).asInstanceOf[InternalRow]
    assert(row != null && !row.isNullAt(4) && !row.isNullAt(5))
    assert(row.getArray(4).toDoubleArray().toSeq ==
      Seq(1.0 / graft.geo.Fixtures.GridN, 1.0 / graft.geo.Fixtures.GridN, 0.0))
    assert(row.getArray(5).toDoubleArray().toSeq ==
      Seq(0.0, 0.0, 0.0, 12.0, -3.0, 0.0))
    // a bare TIFF decodes with null geo fields (and big-endian works)
    val bare = expr.eval(InternalRow(graft.geo.Fixtures.tiffBytes(7)))
      .asInstanceOf[InternalRow]
    assert(bare != null && bare.isNullAt(4) && bare.isNullAt(5))
    val be = expr.eval(InternalRow(graft.geo.Fixtures.tiffBytes(7,
      order = java.nio.ByteOrder.BIG_ENDIAN, geo = Some((12.0, -3.0)))))
      .asInstanceOf[InternalRow]
    assert(be != null && be.getArray(5).toDoubleArray()(3) == 12.0)

    // query level: populations land exactly per the fixture rules
    val got = GeoQueries.geotags(spark, Sf).collect()
    assert(got.length == graft.geo.Fixtures.RasterLimit)
    got.foreach { r =>
      val id = r.getLong(0)
      val expectHas = id % 7 == 3 || id % 11 != 5
      assert(r.getBoolean(2) == expectHas, s"has_geotags tile $id")
      if (!expectHas) {
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(7), s"tile $id")
      } else {
        assert(r.getBoolean(3) == (id % 7 != 3), s"tag_matches_key tile $id")
        assert(r.getLong(5) == 125000L && r.getLong(7) == -125000L, s"scale tile $id")
      }
    }
    assert(got.exists(r => !r.isNullAt(3) && !r.getBoolean(3)),
      "the mismatch population must be non-empty")
    assert(got.exists(r => !r.getBoolean(2)),
      "the tag-less population must be non-empty")

    // tag-region fuzz: flips across the whole file AND targeted
    // mutations of the two geotag IFD entries / double arrays never
    // throw — null field, null row, or a decode only
    val rnd = new scala.util.Random(23)
    val mutants =
      (0 until tagged.length by 5).map(tagged.take(_)) ++
      (1 to 400).map { _ =>
        val m = tagged.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        m
      }
    mutants.foreach { m =>
      val out = expr.eval(InternalRow(m))
      assert(out == null || out.isInstanceOf[InternalRow])
    }
    // a malformed ModelPixelScale COUNT (2, not 3) nulls the geo
    // field without poisoning the raster decode
    val badCount = tagged.clone()
    // find the 33550 entry: tags are little-endian shorts in the IFD
    val ifd = java.nio.ByteBuffer.wrap(badCount)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nEntries = ifd.getShort(8) & 0xFFFF
    val entryOff = (0 until nEntries).map(8 + 2 + _ * 12)
      .find(p => (ifd.getShort(p) & 0xFFFF) == 33550).get
    ifd.putInt(entryOff + 4, 2)
    val bc = expr.eval(InternalRow(badCount)).asInstanceOf[InternalRow]
    assert(bc != null && bc.isNullAt(4) && !bc.isNullAt(5))
    assert(bc.getArray(2).numElements() ==
      graft.geo.Fixtures.GridN * graft.geo.Fixtures.GridN)
  }

  test("g8: FS listing manifest flags missing and torn downloads only") {
    val got = GeoQueries.listingManifest(spark, Sf)
      .select("tile_id").as[Long].collect().toSet
    val all = Geo.tiles(spark, Sf).filter(col("tile_id") < graft.geo.Fixtures.ListingLimit)
      .select("tile_id").as[Long].collect().toSet
    val exp = all.filter(id => id % 3 != 0 || id % 7 == 0)
    assert(got == exp)
  }

  test("g8: the local listing is distributed — rows flow from tasks, not a driver LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, MapPartitions}
    val plan = GeoQueries.listingManifest(spark, Sf).queryExecution.optimizedPlan
    // the old formulation collected listStatus driver-side into a
    // per-file LocalRelation; now the only LocalRelation is the tiny
    // prefix seed and the listing rows come out of a MapPartitions
    // running in tasks
    assert(plan.collect { case m: MapPartitions => m }.nonEmpty, plan.toString)
    val localRows = plan.collect { case l: LocalRelation => l.data.size }
    assert(localRows.forall(_ <= 20), s"LocalRelation sizes: $localRows\n$plan")
  }

  test("g8: prefix-sharded listing equals a flat driver-side listStatus") {
    // Uses the PRODUCTION prefix set: this is the count reconciliation
    // that catches a prefix list no longer covering the key space.
    val fixture = graft.geo.Fixtures.ensureListing(spark, Sf)
    val got = org.apache.spark.sql.graft.FsListing
      .listByPrefix(spark, fixture, Geo.ListingPrefixes, ".grft")
      .as[(String, Long)].collect().toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(fixture), spark.sparkContext.hadoopConfiguration)
    val exp = fs.listStatus(new org.apache.hadoop.fs.Path(fixture))
      .filter(_.getPath.getName.endsWith(".grft"))
      .map(st => (st.getPath.getName, st.getLen)).toSet
    assert(got.nonEmpty && got == exp)
  }

  test("g14: Horn numerators match an independent recomputation; octants classify exactly") {
    val got = GeoQueries.slopeAspect(spark, Sf)
      .select("tile_id", "x", "y", "dzdx_num", "dzdy_num", "tan2_num", "grad_octant")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))))
      .toMap
    assert(got.nonEmpty && got.size % 36 == 0) // 6x6 interior per tile
    def z(t: Long, x: Int, y: Int): Long = (t * 131 + x * 17 + y * 29) % 8848
    got.foreach { case ((t, x, y), (dx, dy, t2, oct)) =>
      val edx = (z(t, x + 1, y - 1) + 2 * z(t, x + 1, y) + z(t, x + 1, y + 1)) -
        (z(t, x - 1, y - 1) + 2 * z(t, x - 1, y) + z(t, x - 1, y + 1))
      val edy = (z(t, x - 1, y + 1) + 2 * z(t, x, y + 1) + z(t, x + 1, y + 1)) -
        (z(t, x - 1, y - 1) + 2 * z(t, x, y - 1) + z(t, x + 1, y - 1))
      assert(dx == edx && dy == edy && t2 == edx * edx + edy * edy, s"($t,$x,$y)")
      val eo =
        if (edx == 0 && edy == 0) "flat"
        else if (math.abs(edx) > math.abs(edy)) { if (edx > 0) "E" else "W" }
        else if (math.abs(edy) > math.abs(edx)) { if (edy > 0) "S" else "N" }
        else if (edx > 0 && edy > 0) "SE"
        else if (edx > 0) "NE"
        else if (edy > 0) "SW"
        else "NW"
      assert(oct == eo, s"($t,$x,$y): $oct vs $eo")
    }
  }

  test("g15: D8 flow direction matches an independent argmax; sinks and ties exact") {
    val got = GeoQueries.flowDir(spark, Sf)
      .select("tile_id", "x", "y", "flow_dir", "drop_num", "diag")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)),
        (r.getInt(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got.nonEmpty && got.size % 36 == 0)
    def z(t: Long, x: Int, y: Int): Long = (t * 131 + x * 17 + y * 29) % 8848
    val nb = Seq( // ESRI order: (dx, dy, code, diag)
      (1, 0, 1, false), (1, 1, 2, true), (0, 1, 4, false), (-1, 1, 8, true),
      (-1, 0, 16, false), (-1, -1, 32, true), (0, -1, 64, false), (1, -1, 128, true))
    got.foreach { case ((t, x, y), (code, drop, diag)) =>
      val z0 = z(t, x, y)
      val pos = nb.map { case (dx, dy, c, d) => (c, z0 - z(t, x + dx, y + dy), d) }
        .filter(_._2 > 0)
      if (pos.isEmpty) assert(code == 0 && drop == 0L && !diag, s"($t,$x,$y)")
      else {
        // max score = drop^2 * (2 cardinal / 1 diagonal); first in
        // ESRI order wins same-class ties (cross-class ties impossible)
        def score(p: (Int, Long, Boolean)): Long =
          p._2 * p._2 * (if (p._3) 1 else 2)
        val bestScore = pos.map(score).max
        val expected = pos.find(score(_) == bestScore).get // priority order
        assert(code == expected._1 && drop == expected._2 && diag == expected._3,
          s"($t,$x,$y): got ($code,$drop,$diag) exp $expected")
      }
    }
  }

  test("g18: hillshade reproduces the JVM IEEE tree bit-for-bit; shade stays in 1..255") {
    val got = GeoQueries.hillshade(spark, Sf)
      .select("tile_id", "x", "y", "dzdx_num", "dzdy_num", "cang_e6", "shade")
      .collect()
    assert(got.nonEmpty && got.length % 36 == 0)
    def z(t: Long, x: Int, y: Int): Long = (t * 131 + x * 17 + y * 29) % 8848
    got.foreach { r =>
      val (t, x, y) = (r.getLong(0), r.getInt(1), r.getInt(2))
      val edx = (z(t, x + 1, y - 1) + 2 * z(t, x + 1, y) + z(t, x + 1, y + 1)) -
        (z(t, x - 1, y - 1) + 2 * z(t, x - 1, y) + z(t, x - 1, y + 1))
      val edy = (z(t, x - 1, y + 1) + 2 * z(t, x, y + 1) + z(t, x + 1, y + 1)) -
        (z(t, x - 1, y - 1) + 2 * z(t, x, y - 1) + z(t, x + 1, y - 1))
      assert(r.getLong(3) == edx && r.getLong(4) == edy)
      // the JVM evaluates the identical IEEE tree — every op correctly
      // rounded, so equality is EXACT, not approximate
      val p = edx / 240.0
      val s = edy / 240.0
      val cang = (0.5 * p + 0.5 * s + math.sqrt(0.5)) /
        math.sqrt(1.0 + p * p + s * s)
      val e6 = math.floor(cang * 1e6 + 0.5).toLong
      assert(r.getLong(5) == e6, s"($t,$x,$y): ${r.getLong(5)} vs $e6")
      val shade = if (cang <= 0) 1L else math.floor(cang * 254 + 1.5).toLong
      assert(r.getLong(6) == shade && shade >= 1 && shade <= 255, s"($t,$x,$y)")
    }
  }

  test("g19: flow accumulation equals brute-force path following; mass conserves") {
    val got = GeoQueries.flowAccum(spark, Sf)
      .select("tile_id", "x", "y", "acc")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
      .toMap
    assert(got.nonEmpty && got.size % 64 == 0) // all 8x8 cells per tile
    def z(t: Long, x: Int, y: Int): Long = (t * 131 + x * 17 + y * 29) % 8848
    val nb = Seq( // ESRI priority order: (dx, dy, cardinal)
      (1, 0, true), (1, 1, false), (0, 1, true), (-1, 1, false),
      (-1, 0, true), (-1, -1, false), (0, -1, true), (1, -1, false))
    val tiles = got.keys.map(_._1).toSeq.distinct
    tiles.foreach { t =>
      // successor per interior cell by the g15 argmax
      def succ(x: Int, y: Int): Option[(Int, Int)] = {
        if (x < 1 || x > 6 || y < 1 || y > 6) return None
        val z0 = z(t, x, y)
        val pos = nb.map { case (dx, dy, card) =>
          ((x + dx, y + dy), z0 - z(t, x + dx, y + dy), card) }
          .filter(_._2 > 0)
        if (pos.isEmpty) None
        else {
          def score(p: ((Int, Int), Long, Boolean)): Long =
            p._2 * p._2 * (if (p._3) 2 else 1)
          val best = pos.map(score).max
          Some(pos.find(score(_) == best).get._1)
        }
      }
      // brute force: walk every interior cell's path to termination,
      // counting visits — an algorithm independent of the expression's
      // topological sweep
      val visits = scala.collection.mutable.Map[(Int, Int), Long]().withDefaultValue(0L)
      for (sy <- 1 to 6; sx <- 1 to 6) {
        var cur = succ(sx, sy)
        while (cur.isDefined) {
          val c = cur.get
          visits(c) += 1
          cur = succ(c._1, c._2)
        }
      }
      for (y <- 0 to 7; x <- 0 to 7)
        assert(got((t, x, y)) == visits((x, y)), s"($t,$x,$y)")
      // conservation: total accumulated flow = total path length
      assert(got.filter(_._1._1 == t).values.sum == visits.values.sum)
    }
  }

  test("g22: watershed labels equal brute-force path following; basins partition the tile") {
    val got = GeoQueries.watersheds(spark, Sf)
      .select("tile_id", "x", "y", "basin_pos", "is_root")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), (r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got.nonEmpty && got.size % 64 == 0)
    def z(t: Long, x: Int, y: Int): Long = (t * 131 + x * 17 + y * 29) % 8848
    val nb = Seq(
      (1, 0, true), (1, 1, false), (0, 1, true), (-1, 1, false),
      (-1, 0, true), (-1, -1, false), (0, -1, true), (1, -1, false))
    got.keys.map(_._1).toSeq.distinct.foreach { t =>
      def succ(x: Int, y: Int): Option[(Int, Int)] = {
        if (x < 1 || x > 6 || y < 1 || y > 6) return None
        val z0 = z(t, x, y)
        val pos = nb.map { case (dx, dy, card) =>
          ((x + dx, y + dy), z0 - z(t, x + dx, y + dy), card) }
          .filter(_._2 > 0)
        if (pos.isEmpty) None
        else {
          def score(p: ((Int, Int), Long, Boolean)): Long =
            p._2 * p._2 * (if (p._3) 2 else 1)
          val best = pos.map(score).max
          Some(pos.find(score(_) == best).get._1)
        }
      }
      for (y <- 0 to 7; x <- 0 to 7) {
        // brute walk to the terminal cell
        var cur = (x, y)
        var next = succ(cur._1, cur._2)
        while (next.isDefined) { cur = next.get; next = succ(cur._1, cur._2) }
        val (basin, isRoot) = got((t, x, y))
        assert(basin == cur._2 * 8 + cur._1, s"($t,$x,$y)")
        assert(isRoot == (cur == ((x, y))), s"root flag ($t,$x,$y)")
        // the label really is terminal: the basin cell has no successor
        assert(succ(cur._1, cur._2).isEmpty)
      }
      // a root labels itself — basins partition the tile around roots
      val tileCells = got.filter(_._1._1 == t)
      val roots = tileCells.filter(_._2._2).map(_._2._1).toSet
      assert(tileCells.values.map(_._1).toSet == roots)
    }
  }

  test("D8 kernels: equal cardinal drops go E, equal diagonal drops go SE, a sink is its own terminal") {
    import org.apache.spark.sql.graft.RasterExprs
    // (flow_accum, watershed, flow_length) of one hand-built n×n grid
    def kernels(z: Seq[Long], n: Int): (Seq[Long], Seq[Long], Seq[Long]) = {
      val r = Seq(z).toDF("z").select(
        RasterExprs.flow_accum(col("z"), lit(n)),
        RasterExprs.watershed(col("z"), lit(n)),
        RasterExprs.flow_length(col("z"), lit(n))).head()
      (r.getSeq[Long](0), r.getSeq[Long](1), r.getSeq[Long](2))
    }
    // the one interior cell (index 4) of a 3×3 grid drains to `succ`;
    // every rim cell is terminal
    def drainsTo(z: Seq[Long], succ: Int): Unit = {
      val (acc, basin, len) = kernels(z, 3)
      assert(acc == (0 until 9).map(i => if (i == succ) 1L else 0L), s"flow_accum $acc")
      assert(basin == (0 until 9).map(i => if (i == 4) succ.toLong else i.toLong), s"watershed $basin")
      assert(len == (0 until 9).map(i => if (i == 4) 1L else 0L), s"flow_length $len")
    }
    // E (index 5) and S (index 7) both drop 5: E comes first in the ESRI ring
    drainsTo(Seq(20L, 20L, 20L, 20L, 10L, 5L, 20L, 5L, 20L), succ = 5)
    // SE (index 8) and SW (index 6) both drop 5, every cardinal rises:
    // SE comes first
    drainsTo(Seq(20L, 20L, 20L, 20L, 10L, 20L, 5L, 20L, 5L), succ = 8)
    // 5×5 bowl, z = 10·(|x−2| + |y−2|): the centre (index 12) is a sink,
    // and every other interior cell drains straight into it
    val bowl = for (y <- 0 until 5; x <- 0 until 5) yield 10L * (math.abs(x - 2) + math.abs(y - 2))
    def interior(i: Int) = i % 5 >= 1 && i % 5 <= 3 && i / 5 >= 1 && i / 5 <= 3
    val (acc, basin, len) = kernels(bowl, 5)
    assert(acc == (0 until 25).map(i => if (i == 12) 8L else 0L), s"flow_accum $acc")
    assert(basin == (0 until 25).map(i => if (interior(i)) 12L else i.toLong), s"watershed $basin")
    assert(len == (0 until 25).map(i => if (interior(i) && i != 12) 1L else 0L), s"flow_length $len")
  }

  test("g20: halo-exchanged rim numerators equal the global formula across tile boundaries") {
    import graft.geo.Fixtures
    val got = GeoQueries.haloSlope(spark, Sf)
      .select("lat0", "lon0", "x", "y", "dzdx_num", "dzdy_num", "tan2_num")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)),
        (r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val n = Fixtures.GridN
    val w = Fixtures.MosaicW
    def e(gx: Int, gy: Int): Long = Fixtures.mosaicElev(gx, gy).toLong
    // expected set: every rim pixel whose 3x3 window stays inside the
    // mosaic's global pixel rectangle — including windows that cross
    // into a NEIGHBOR TILE (the whole point of the halo exchange)
    var crossBoundary = 0
    val expected = (for {
      lat0 <- Fixtures.MosaicLat0 until (Fixtures.MosaicLat0 + w)
      lon0 <- Fixtures.MosaicLon0 until (Fixtures.MosaicLon0 + w)
      y <- 0 until n; x <- 0 until n
      if x == 0 || x == n - 1 || y == 0 || y == n - 1
      gx = (lon0 - Fixtures.MosaicLon0) * n + x
      gy = (Fixtures.MosaicLat0 + w - 1 - lat0) * n + y
      if gx >= 1 && gx <= w * n - 2 && gy >= 1 && gy <= w * n - 2
    } yield {
      crossBoundary += 1
      val dzdx = (e(gx + 1, gy - 1) + 2 * e(gx + 1, gy) + e(gx + 1, gy + 1)) -
        (e(gx - 1, gy - 1) + 2 * e(gx - 1, gy) + e(gx - 1, gy + 1))
      val dzdy = (e(gx - 1, gy + 1) + 2 * e(gx, gy + 1) + e(gx + 1, gy + 1)) -
        (e(gx - 1, gy - 1) + 2 * e(gx, gy - 1) + e(gx + 1, gy - 1))
      ((lat0, lon0, x, y), (dzdx, dzdy, dzdx * dzdx + dzdy * dzdy))
    }).toMap
    assert(got == expected, s"got=${got.size} expected=${expected.size}")
    // interior tiles contribute their ENTIRE rim (full haloes); the
    // mosaic's outer boundary pixels are absent (no neighbor = nodata)
    val interiorRims = (w - 2) * (w - 2) * (4 * n - 4)
    assert(got.size > interiorRims) // interior tiles + partial boundary-tile rims
    assert(!got.contains((Fixtures.MosaicLat0 + w - 1, Fixtures.MosaicLon0, 0, 0))) // NW mosaic corner
  }

  test("g1/g2/g5 run at sf0.001 with sane shapes") {
    assert(GeoQueries.tileParse(spark, Sf).filter(!col("roundtrip_ok")).count() == 0)
    val g2 = GeoQueries.regionFilter(spark, Sf).collect().head
    assert(g2.getLong(3) > 0) // world count
    val g5 = GeoQueries.ingestManifest(spark, Sf)
    // remote minus up-to-date locals: locals are tile_id%3==0 with 1/5 size-bumped
    val total = Geo.tiles(spark, Sf).count()
    assert(g5.count() < total && g5.count() > 0)
  }

  test("g16: Morton column matches the JVM mirror; Z-blocks are aligned 8x8 cells") {
    // exhaustive over the whole shifted (lat, lon) space: a 64-code
    // block IS the aligned 8x8 square (the property that makes
    // min/max pruning work in both dimensions)
    for (a <- 0 to 180; b <- 0 to 360) {
      val z = Geo.morton9Long(a, b)
      assert(z / 64 == Geo.morton9Long(a / 8, b / 8), s"($a,$b)")
    }
    // column expression ≡ mirror over the tile universe
    Geo.tiles(spark, Sf)
      .select(col("lat0").cast("long"), col("lon0").cast("long"),
        Geo.morton9(col("lat0") + lit(90), col("lon0") + lit(180)).cast("long").as("z"))
      .collect().foreach { r =>
        assert(r.getLong(2) ==
          Geo.morton9Long((r.getLong(0) + 90).toInt, (r.getLong(1) + 180).toInt))
      }
    // layout-audit invariants the oracle re-proves on every row
    val audit = GeoQueries.zorderLayout(spark, Sf).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getLong(r.fieldIndex("lat_span")) <= 7)
      assert(r.getLong(r.fieldIndex("lon_span")) <= 7)
      assert(r.getLong(r.fieldIndex("n_cells")) == 1L)
    }
    // the z-sorted sink round-trips: ranges of zcode are written and
    // read back in zcode order within each file
    val dir = scratchDir("graft_g16")
    val z = Geo.tiles(spark, Sf)
      .select(col("tile_id"),
        Geo.morton9(col("lat0") + lit(90), col("lon0") + lit(180)).as("zcode"))
    z.repartitionByRange(4, col("zcode")).sortWithinPartitions(col("zcode"))
      .write.mode("overwrite").parquet(s"$dir/ztiles")
    val back = spark.read.parquet(s"$dir/ztiles")
      .select(col("tile_id"), col("zcode"),
        input_file_name().as("f"))
      .collect().groupBy(_.getString(2))
    // files hold disjoint zcode ranges (the layout bbox-pruning premise)
    val ranges = back.values.map(rows =>
      (rows.map(_.getLong(1)).min, rows.map(_.getLong(1)).max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
  }

  test("g17: overview blocks re-derive from the elevation formula at both levels") {
    val rows = GeoQueries.overviews(spark, Sf).collect()
    // 50 fixture tiles x (16 level-1 + 4 level-2) cells
    assert(rows.length == 50 * 20, s"got ${rows.length}")
    def elev(t: Long, x: Int, y: Int): Long = Math.floorMod(t * 131 + x * 17 + y * 29, 8848)
    rows.foreach { r =>
      val (t, level, ox, oy) =
        (r.getLong(0), r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4).toInt)
      val f = 1 << level
      val block = for (ky <- 0 until f; kx <- 0 until f)
        yield elev(t, ox * f + kx, oy * f + ky)
      assert(r.getLong(5) == f.toLong * f)        // n_px
      assert(r.getLong(6) == block.sum)           // block_sum
      assert(r.getLong(7) == block.min)           // block_min
      assert(r.getLong(8) == block.max)           // block_max
    }
    // a level-2 block sum equals the sum of its four level-1 children
    // (the pyramid consistency gdaladdo relies on)
    val l1 = rows.filter(_.getLong(2) == 1L)
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)) -> r.getLong(6)).toMap
    rows.filter(_.getLong(2) == 2L).foreach { r =>
      val (t, ox, oy) = (r.getLong(0), r.getLong(3), r.getLong(4))
      val children = for (dy <- 0 to 1; dx <- 0 to 1)
        yield l1((t, ox * 2 + dx, oy * 2 + dy))
      assert(r.getLong(6) == children.sum)
    }
  }

  test("g21 compaction plan: sharded prefix == naive, bins contiguous and filled to target") {
    val got = GeoQueries.compactionPlan(spark, Sf).collect()
    val fine = GeoQueries.compactionPlan(spark, Sf, shardWidth = 7).collect()
    assert(got.map(_.toSeq).toSeq == fine.map(_.toSeq).toSeq)
    val bins = got.sortBy(_.getLong(0))
    // bin ids contiguous from 0 (file sizes < target, so no bin skips)
    assert(bins.map(_.getLong(0)).toSeq == (0L until bins.length).toSeq)
    // id ranges disjoint and ordered
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(5) < b.getLong(4))
      case _ =>
    }
    // every bin but the last closes at or past its target boundary
    val target = 67108864L
    var cum = 0L
    bins.init.zipWithIndex.foreach { case (r, i) =>
      cum += r.getLong(2)
      assert(cum >= (i + 1) * target, s"bin $i closes short: $cum")
    }
    // plan covers every file exactly once
    assert(bins.map(_.getLong(1)).sum == graft.Tables.part(spark, Sf).count())
  }
  test("g23 hypsometry: deciles partition each region's pixel mass; reconciles with g6") {
    val rows = GeoQueries.hypsometry(spark, Sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val g6 = GeoQueries.regionElevation(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (set, ds) =>
      assert(ds.map(_._3).sum == g6(set))      // decile masses tile the region
      assert(ds.map(_._2).distinct.length == ds.length)
      ds.foreach { case (_, d, _, _) => assert(d >= 0 && d <= 10) }
    }
    // region coverage mirrors g6 exactly (the fixture corpus may
    // leave a small set empty — both queries must agree on which)
    assert(rows.map(_._1).distinct.sorted.toSeq == g6.keys.toSeq.sorted)
  }

  test("g25 polygon filter: integer crossing-number matches a double-arithmetic reference") {
    val row = GeoQueries.polygonFilter(spark, Sf).head
    val (nPoly, nBbox, nOnly, nTiles) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // independent reference: the textbook formulation with a DOUBLE
    // intersection (division), not the engine's cross-multiplied form
    def inside(py: Int, px: Int): Boolean = {
      val pts = GeoQueries.FrancePoly
      var c = 0
      pts.indices.foreach { i =>
        val (y1, x1) = pts(i); val (y2, x2) = pts((i + 1) % pts.size)
        if ((y1 > py) != (y2 > py)) {
          val xint = x1 + (x2 - x1).toDouble * (py - y1) / (y2 - y1)
          if (px < xint) c += 1
        }
      }
      c % 2 == 1
    }
    assert(inside(48, 2), "Paris must be inside")   // sanity of the reference
    assert(!inside(40, -3), "Madrid must be outside")
    assert(!inside(48, 9), "east of the hexagon must be outside")
    val ts = Geo.tiles(spark, Sf).select("lat0", "lon0").collect()
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).intValue))
    val expPoly = ts.count { case (la, lo) => inside(la, lo) }.toLong
    val expBbox = ts.count { case (la, lo) =>
      la >= 42 && la <= 51 && lo >= -5 && lo <= 8 }.toLong
    val expOnly = ts.count { case (la, lo) =>
      la >= 42 && la <= 51 && lo >= -5 && lo <= 8 && !inside(la, lo) }.toLong
    assert((nPoly, nBbox, nOnly, nTiles) == ((expPoly, expBbox, expOnly, ts.length.toLong)))
    assert(nPoly + nOnly == nBbox) // poly ⊆ bbox by construction
    // the polygon is strictly tighter than its bbox on the full
    // integer grid (the sparse sf0.001 tile universe may miss the
    // corner cells — the fixture's coverage, not the predicate)
    val bboxOnlyFull = (for { la <- 42 to 51; lo <- -5 to 8 } yield (la, lo))
      .count { case (la, lo) => !inside(la, lo) }
    assert(bboxOnlyFull > 0)
  }

  test("g24 ruggedness: JVM brute force over the fixture formula, every raster tile") {
    val got = GeoQueries.ruggedness(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == (0L until 50L).toSet)
    def z(t: Long, x: Int, y: Int): Long = math.floorMod(t * 131 + x * 17 + y * 29, 8848L)
    (0L until 50L).foreach { t =>
      val tri2s = for { y <- 1 to 6; x <- 1 to 6 } yield
        (for { dy <- -1 to 1; dx <- -1 to 1; if dx != 0 || dy != 0 } yield {
          val d = z(t, x + dx, y + dy) - z(t, x, y); d * d
        }).sum
      assert(got(t) ==
        ((36L, tri2s.sum, tri2s.max, tri2s.count(_ > 100000000L).toLong)), s"tile $t")
    }
  }

  test("g32 TPI: JVM brute force over the fixture formula; classes partition and are non-vacuous") {
    val got = GeoQueries.tpi(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(got.keySet == (0L until 50L).toSet)
    def z(t: Long, x: Int, y: Int): Long = {
      val bump = math.floorMod(x + 3 * y + t, 5L) match {
        case 0 => 500L; case 2 => -500L; case _ => 0L
      }
      math.floorMod(t * 131 + x * 17 + y * 29, 8848L) + bump
    }
    (0L until 50L).foreach { t =>
      val nums = for { y <- 1 to 6; x <- 1 to 6 } yield
        8 * z(t, x, y) - (for { dy <- -1 to 1; dx <- -1 to 1; if dx != 0 || dy != 0 }
          yield z(t, x + dx, y + dy)).sum
      val (r, v) = (nums.count(_ > 1000L).toLong, nums.count(_ < -1000L).toLong)
      // the planted stripes make all three classes non-vacuous per tile,
      // and the planted numerator is exactly ±5000/0
      assert(r > 0 && v > 0 && r + v < 36 && nums.forall(n => n.abs == 5000L || n == 0L))
      assert(got(t) == ((36L, nums.sum, nums.max, nums.min, r, v, 36L - r - v)), s"tile $t")
    }
  }

  test("g33 basin stats reconcile with g22 labels; the outlet is the basin minimum") {
    val got = GeoQueries.basinStats(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> ((r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val ws = GeoQueries.watersheds(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getLong(4)))
    def z(t: Long, x: Int, y: Int): Long = math.floorMod(t * 131 + x * 17 + y * 29, 8848L)
    val exp = ws.groupBy(r => (r._1, r._4)).map { case ((t, bp), rows) =>
      val zs = rows.map(r => z(t, r._2, r._3))
      (t, bp) -> ((rows.length.toLong, zs.sum, zs.min, zs.max,
        z(t, (bp % 8).toInt, (bp / 8).toInt)))
    }
    assert(got == exp && got.nonEmpty)
    // D8 descent strictly decreases elevation => outlet == basin minimum
    got.values.foreach { case (_, _, zmin, _, oz) => assert(oz == zmin) }
    // pixel totals reconcile: 64 per tile
    assert(got.groupBy(_._1._1).forall(_._2.values.map(_._1).sum == 64L))
  }

  test("g29 path profile: JVM DDA identity, endpoints, nodata honesty") {
    val got = GeoQueries.pathProfile(spark, Sf).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), if (r.isNullAt(4)) None else Some(r.getInt(4)))
    }
    val tl = Geo.tiles(spark, Sf)
      .select(col("tile_id"), col("lat0"), col("lon0"), col("tile_key")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val uni = tl.groupBy(t => (t._2, t._3)).map { case (c, ts) =>
      val w = ts.minBy(_._1); c -> ((w._1, w._4))
    }
    def gp(id: Long) = tl.find(_._1 == id).map(t => ((t._3 + 180) * 8, (90 - t._2) * 8)).get
    val (ax, ay) = gp(1); val (bx, by) = gp(2)
    val (dx, dy) = (bx - ax, by - ay)
    val n = math.max(math.max(math.abs(dx), math.abs(dy)), 1L)
    assert(got.length == n + 1)
    val exp = (0L to n).map { i =>
      val gx = ax + math.signum(dx) * (i * math.abs(dx) / n)
      val gy = ay + math.signum(dy) * (i * math.abs(dy) / n)
      val cell = uni.get((90 - gy / 8, gx / 8 - 180))
      (i, gx, gy, cell.map(_._2),
        cell.map { case (tid, _) =>
          (((tid * 131 + (gx % 8) * 17 + (gy % 8) * 29) % 8848) + 8848) % 8848 }
          .map(_.toInt))
    }
    assert(got.toSeq == exp)
    assert((got.head._2, got.head._3) == ((ax, ay)))
    assert((got.last._2, got.last._3) == ((bx, by)))
  }

  test("g30 line of sight equals the JVM running-max-of-slopes sweep") {
    val prof = GeoQueries.pathProfile(spark, Sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) None else Some(r.getInt(4))))
    graft.Caches.clear()
    val got = GeoQueries.lineOfSight(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(5)))
    val e0 = prof.head._2.get
    var prevMax = Double.NegativeInfinity
    var anyPrev = false
    val exp = prof.map { case (step, ev) =>
      if (step == 0L) (step, ev.isDefined)
      else ev match {
        case None => (step, false)
        case Some(e) =>
          val sl = (e - e0).toDouble / step
          val vis = !anyPrev || sl > prevMax
          if (sl > prevMax) prevMax = sl
          anyPrev = true
          (step, vis)
      }
    }
    assert(got.toSeq == exp.toSeq)
    assert(got.head._2) // observer sees itself
    // the sweep is non-trivial on this corpus: both classes occur
    assert(got.exists(_._2) && got.exists(!_._2))
  }

  test("g31 flow length equals a JVM pointer walk over the D8 argmax") {
    val got = GeoQueries.flowLength(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3)) -> r.getLong(4)).toMap
    val n = 8
    def z(t: Long, x: Int, y: Int): Long =
      java.lang.Math.floorMod(t * 131 + x * 17 + y * 29, 8848L)
    val ring = Seq((1, 0, false), (1, 1, true), (0, 1, false), (-1, 1, true),
      (-1, 0, false), (-1, -1, true), (0, -1, false), (1, -1, true))
    val tids = got.keys.map(_._1).toSeq.distinct
    tids.foreach { t =>
      def succ(x: Int, y: Int): Option[(Int, Int)] =
        if (x == 0 || y == 0 || x == n - 1 || y == n - 1) None
        else {
          val cands = ring.flatMap { case (dx, dy, diag) =>
            val drop = z(t, x, y) - z(t, x + dx, y + dy)
            if (drop > 0) Some(((x + dx, y + dy), drop * drop * (if (diag) 1L else 2L)))
            else None
          }
          // strict argmax in ring-priority order, as the kernel does
          if (cands.isEmpty) None
          else Some(cands.maxBy(_._2)._1) match {
            case s => // maxBy keeps FIRST max → ring priority
              s.map(_ => cands.foldLeft(Option.empty[((Int, Int), Long)]) {
                case (acc, c) if acc.forall(a => c._2 > a._2) => Some(c)
                case (acc, _) => acc
              }.get._1)
          }
        }
      for (y <- 0 until n; x <- 0 until n) {
        var cur = (x, y); var d = 0L
        var next = succ(cur._1, cur._2)
        while (next.isDefined) { cur = next.get; d += 1; next = succ(cur._1, cur._2) }
        assert(got((t, x, y)) == d, s"tile $t cell ($x,$y)")
      }
    }
    // non-vacuous: some cell actually drains more than one hop
    assert(got.values.max >= 2)
  }

  test("g38 warp: inverse mapping is the JVM center rule; pulls match the formula; georef exact") {
    val rows = graft.geo.GeoQueries.warpResample(spark, Sf).collect()
      .map(r => (r.getAs[Long]("tile_id"), r.getAs[Long]("ty"), r.getAs[Long]("tx"),
        r.getAs[Long]("src_x"), r.getAs[Long]("src_y"),
        r.getAs[Long]("lon_e6"), r.getAs[Long]("lat_e6"),
        r.getAs[Long]("elevation")))
    assert(rows.nonEmpty && rows.length % 25 == 0)
    val tiles = rows.map(_._1).distinct
    rows.foreach { case (t, ty, tx, sx, sy, lonE6, latE6, elev) =>
      // the gdalwarp center rule, floating-point reference:
      // src = floor((t + 0.5) * n/nt)
      assert(sx == math.floor((tx + 0.5) * 8.0 / 5.0).toLong)
      assert(sy == math.floor((ty + 0.5) * 8.0 / 5.0).toLong)
      assert(sx >= 0 && sx < 8 && sy >= 0 && sy < 8)
      // every pulled elevation is the fixture formula at the SOURCE cell
      assert(elev == Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848))
      // exact e6 georeferencing of the target center
      val lat0 = Math.floorMod(t * 37, 181) - 90
      val lon0 = Math.floorMod(t * 73, 361) - 180
      assert(lonE6 == lon0 * 1000000L + (2 * tx + 1) * 100000L)
      assert(latE6 == lat0 * 1000000L - (2 * ty + 1) * 100000L)
    }
    // per tile: the mapping is monotone non-decreasing and hits
    // {0,2,4,5,7} — the 5-of-8 nearest-neighbor selection
    tiles.foreach { t =>
      val xs = rows.filter(r => r._1 == t && r._2 == 0L).sortBy(_._3).map(_._4)
      assert(xs.toSeq == Seq(0L, 2L, 4L, 5L, 7L))
    }
  }

  test("g42 warp average: JVM re-derives every cell's exact weighted fold; mass laws") {
    val rows = graft.geo.GeoQueries.warpAverage(spark, Sf).collect()
      .map(r => (r.getAs[Long]("tile_id"), r.getAs[Long]("ty"), r.getAs[Long]("tx"),
        r.getAs[Long]("lon_e6"), r.getAs[Long]("lat_e6"),
        r.getAs[Long]("wsum"), r.getAs[Long]("avg_e6")))
    assert(rows.nonEmpty && rows.length % 25 == 0)
    // exact integer overlap weights on the common 1/5 grid: per axis,
    // target t covers [8t, 8t+8), source s covers [5s, 5s+5)
    def w(s: Long, t: Long): Long =
      math.min(5 * s + 5, 8 * t + 8) - math.max(5 * s, 8 * t)
    rows.foreach { case (t, ty, tx, lonE6, latE6, wsum, avgE6) =>
      var exp = 0L
      var mass = 0L
      for (sy <- 0L until 8L; sx <- 0L until 8L) {
        val wt = math.max(0L, w(sx, tx)) * math.max(0L, w(sy, ty))
        val e = Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848)
        exp += wt * e; mass += wt
      }
      // the weighted fold is exact and the weight mass is n² = 64 for
      // EVERY cell — interior and edge alike (partition of the area)
      assert(wsum == exp, s"tile $t cell ($ty,$tx): $wsum != $exp")
      assert(mass == 64L)
      assert(avgE6 == math.floor(wsum.toDouble / 64 * 1e6 + 0.5).toLong)
      val lat0 = Math.floorMod(t * 37, 181) - 90
      val lon0 = Math.floorMod(t * 73, 361) - 180
      assert(lonE6 == lon0 * 1000000L + (2 * tx + 1) * 100000L)
      assert(latE6 == lat0 * 1000000L - (2 * ty + 1) * 100000L)
    }
    // conservation: per tile, Σ over target cells of wsum = 25 × the
    // tile's pixel sum (each source pixel's weight across all targets
    // is its own area, 5×5 in 1/5-units) — area-average resampling
    // preserves total mass, the property that makes -r average the
    // DEM downsampling choice; nearest-neighbor g38 has no such law
    rows.groupBy(_._1).foreach { case (t, g) =>
      val pxSum = (for (sy <- 0L until 8L; sx <- 0L until 8L)
        yield Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848)).sum
      assert(g.map(_._6).sum == 25L * pxSum)
    }
  }

  test("g45 warp mercator: fixed-point Y matches libm to 2e-7; selection diverges from every affine pick; JVM re-derivation") {
    // the fixed-point spec, re-derived move-for-move in plain Scala:
    // the series folds through |φ| (every operand non-negative, so
    // trunc ≡ floor ≡ the Spark DIV ≡ the DuckDB //) and the SIGN
    // re-applies at the end — Y(φ) = atanh(sin φ) is odd, the r16
    // southern-hemisphere arm
    val N = 1000000000L
    def mercFixed(latE6: Long): Long = {
      val phi = math.abs(latE6) * 1745329252L / 100000000L
      val p2 = phi * phi / N
      var u = phi; var acc = phi
      for (k <- 1 to 7) {
        u = u * p2 / (2L * k * (2 * k + 1) * N)
        acc += (if (k % 2 == 1) -u else u)
      }
      val sv = acc
      val q2 = sv * sv / N
      var v = sv; var acc2 = sv
      for (k <- 1 to 75) { v = v * q2 / N; acc2 += v / (2L * k + 1) }
      if (latE6 < 0) -acc2 else acc2
    }
    // accuracy claim: within 2e-7 rad of the real atanh(sin φ) over
    // the whole gated band, BOTH hemispheres; exact oddness
    (-59 to 60).foreach { latDeg =>
      val phi = math.toRadians(latDeg)
      val want = 0.5 * math.log((1 + math.sin(phi)) / (1 - math.sin(phi)))
      val got = mercFixed(latDeg * 1000000L) / 1e9
      assert(math.abs(got - want) < 2e-7, s"lat $latDeg: $got vs $want")
      assert(mercFixed(-latDeg * 1000000L) == -mercFixed(latDeg * 1000000L))
    }
    val rows = graft.geo.GeoQueries.warpMercator(spark, Sf).collect()
      .map(r => (r.getAs[Long]("tile_id"), r.getAs[Long]("ty"), r.getAs[Long]("tx"),
        r.getAs[Long]("y_merc_nano"), r.getAs[Long]("src_row"),
        r.getAs[Long]("elevation")))
    assert(rows.nonEmpty && rows.length % (256 * 8) == 0)
    def e(t: Long, sx: Long, sy: Long): Long =
      Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848)
    var diverged = false
    rows.foreach { case (t, ty, tx, ym, sy, elev) =>
      val lat0 = Math.floorMod(t * 37, 181) - 90
      assert(lat0 >= -59 && lat0 <= 60) // the gate, both hemispheres
      val yb = (0 to 8).map(b => mercFixed(lat0 * 1000000L - b * 125000L))
      assert(ym == yb(0) - (2 * ty + 1) * (yb(0) - yb(8)) / 512)
      val expSy = (1 to 8).count(b => ym <= yb(b))
      assert(sy == expSy && sy >= 0 && sy <= 7, s"tile $t ty $ty")
      assert(elev == e(t, tx, sy))
      // the Mercator signature: the affine pick at the same ratio is
      // (2ty+1)·8 div 128; any divergence proves the row mapping is
      // genuinely non-uniform in latitude
      if (sy != (2 * ty + 1) * 8 / 512) diverged = true
      // monotone, onto: rows advance south as ty grows
    }
    assert(diverged, "mercator selection never diverged from the affine pick")
    // the mixed-hemisphere proof: the gated set must actually contain
    // southern (and northern) tiles, or the sign arm went untested
    val lat0s = rows.map(r => Math.floorMod(r._1 * 37, 181) - 90).distinct
    assert(lat0s.exists(_ < 0) && lat0s.exists(_ > 0),
      s"fixture not mixed-hemisphere: $lat0s")
    // per tile: src_row is nondecreasing in ty and covers all 8 rows
    rows.groupBy(_._1).foreach { case (t, rs) =>
      val byTy = rs.filter(_._3 == 0L).sortBy(_._2).map(_._5)
      assert(byTy.zip(byTy.tail).forall { case (a, b) => a <= b }, s"tile $t not monotone")
      assert(byTy.distinct.length == 8, s"tile $t skipped a source row")
    }
  }

  test("g46 warp upsample: JVM re-derives the clamped fold; edge rows really clamp; convex bound holds") {
    val rows = graft.geo.GeoQueries.warpUpsample(spark, Sf).collect()
      .map(r => (r.getAs[Long]("tile_id"), r.getAs[Long]("ty"), r.getAs[Long]("tx"),
        r.getAs[Long]("lon_num26"), r.getAs[Long]("lat_num26"),
        r.getAs[Long]("bsum"), r.getAs[Long]("interp_e6")))
    assert(rows.nonEmpty && rows.length % (13 * 13) == 0)
    def e(t: Long, sx: Long, sy: Long): Long =
      Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848)
    rows.foreach { case (t, ty, tx, lonN, latN, bsum, interpE6) =>
      def clamp(v: Long) = math.min(math.max(16 * v - 5, 0L), 26L * 7)
      val (px, py) = (clamp(tx), clamp(ty))
      val (x0, fx) = (px / 26, px % 26)
      val (y0, fy) = (py / 26, py % 26)
      val (x1, y1) = (math.min(x0 + 1, 7L), math.min(y0 + 1, 7L))
      val exp = (26 - fy) * ((26 - fx) * e(t, x0, y0) + fx * e(t, x1, y0)) +
        fy * ((26 - fx) * e(t, x0, y1) + fx * e(t, x1, y1))
      assert(bsum == exp, s"tile $t cell ($ty,$tx): $bsum != $exp")
      assert(interpE6 == math.floor(bsum.toDouble / 676 * 1e6 + 0.5).toLong)
      val corners = Seq(e(t, x0, y0), e(t, x1, y0), e(t, x0, y1), e(t, x1, y1))
      assert(bsum >= 676 * corners.min && bsum <= 676 * corners.max)
      val lat0 = Math.floorMod(t * 37, 181) - 90
      val lon0 = Math.floorMod(t * 73, 361) - 180
      assert(lonN == lon0 * 26L + 2 * tx + 1 && latN == lat0 * 26L - 2 * ty - 1)
      // the edge rows really clamp: the raw map leaves the grid there
      if (ty == 0 || tx == 0) assert(16 * math.min(tx, ty) - 5 < 0)
      if (ty == 12 || tx == 12) assert(16 * math.max(tx, ty) - 5 > 26 * 7)
      // clamped edge cells degenerate to pure edge-pixel selection
      if (tx == 0 && ty == 0) assert(bsum == 676 * e(t, 0, 0))
      if (tx == 12 && ty == 12) assert(bsum == 676 * e(t, 7, 7))
    }
    // interior cells keep nonzero fractions (really interpolating)
    assert(rows.exists { case (_, _, tx, _, _, _, _) =>
      tx > 0 && tx < 12 && (16 * tx - 5) % 26 != 0 })
  }

  test("g43 warp bilinear: JVM re-derives every cell's four-corner fold; center map and mass laws") {
    val rows = graft.geo.GeoQueries.warpBilinear(spark, Sf).collect()
      .map(r => (r.getAs[Long]("tile_id"), r.getAs[Long]("ty"), r.getAs[Long]("tx"),
        r.getAs[Long]("lon_e6"), r.getAs[Long]("lat_e6"),
        r.getAs[Long]("bsum"), r.getAs[Long]("interp_e6")))
    assert(rows.nonEmpty && rows.length % 25 == 0)
    def e(t: Long, sx: Long, sy: Long): Long =
      Math.floorMod(t * 131 + sx * 17 + sy * 29, 8848)
    rows.foreach { case (t, ty, tx, lonE6, latE6, bsum, interpE6) =>
      // GDAL's pixel-center inverse map, exact in tenths at 8→5:
      // X = 16·t + 3 → x0 = X/10, fx = X%10 — both corners in-grid
      val (xX, yY) = (16 * tx + 3, 16 * ty + 3)
      val (x0, fx) = (xX / 10, xX % 10)
      val (y0, fy) = (yY / 10, yY % 10)
      assert(x0 + 1 <= 7 && y0 + 1 <= 7) // the no-clamp claim
      val exp = (10 - fy) * ((10 - fx) * e(t, x0, y0) + fx * e(t, x0 + 1, y0)) +
        fy * ((10 - fx) * e(t, x0, y0 + 1) + fx * e(t, x0 + 1, y0 + 1))
      assert(bsum == exp, s"tile $t cell ($ty,$tx): $bsum != $exp")
      assert(interpE6 == math.floor(bsum.toDouble / 100 * 1e6 + 0.5).toLong)
      // bilinear value is a convex combination (mass exactly 100):
      // bounded by the four corners — the no-overshoot law averaging
      // shares but nearest lacks only trivially
      val corners = Seq(e(t, x0, y0), e(t, x0 + 1, y0),
        e(t, x0, y0 + 1), e(t, x0 + 1, y0 + 1))
      assert(bsum >= 100 * corners.min && bsum <= 100 * corners.max)
      val lat0 = Math.floorMod(t * 37, 181) - 90
      val lon0 = Math.floorMod(t * 73, 361) - 180
      assert(lonE6 == lon0 * 1000000L + (2 * tx + 1) * 100000L)
      assert(latE6 == lat0 * 1000000L - (2 * ty + 1) * 100000L)
    }
    // interpolation consistency: where a target center lands EXACTLY
    // on a source center (fx = fy = 0 never happens at 8→5 — X % 10
    // is odd), the nearest-neighbor g38 pull and the bilinear value
    // may differ; but a zero-fraction AXIS degenerates to linear
    // interpolation on the other axis alone — checked structurally by
    // the corner-bound law above for every cell
    assert(rows.map(r => (16 * r._3 + 3) % 10).forall(_ != 0))
  }
}
