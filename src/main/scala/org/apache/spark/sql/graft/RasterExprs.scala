package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object RasterExprs {
  /** Decode a GRFT raster payload (see [[RasterDecode]]). */
  def raster_decode(content: Column): Column =
    ExpressionUtils.column(RasterDecode(ExpressionUtils.expression(content)))

  /** Decode a baseline-TIFF raster payload (see [[TiffDecode]]). */
  def tiff_decode(content: Column): Column =
    ExpressionUtils.column(TiffDecode(ExpressionUtils.expression(content)))

  /** Signed latitude of the first AW3D30 tile key in a string (see [[TileDegree]]). */
  def tile_lat(key: Column): Column =
    ExpressionUtils.column(TileDegree(ExpressionUtils.expression(key), lon = false))

  /** Signed longitude of the first AW3D30 tile key in a string (see [[TileDegree]]). */
  def tile_lon(key: Column): Column =
    ExpressionUtils.column(TileDegree(ExpressionUtils.expression(key), lon = true))

  /** D8 flow accumulation over a row-major tile array (see [[FlowAccum]]). */
  def flow_accum(elev: Column, n: Column): Column =
    ExpressionUtils.column(FlowAccum(
      ExpressionUtils.expression(elev), ExpressionUtils.expression(n)))

  /** D8 watershed labels over a row-major tile array (see [[Watershed]]). */
  def watershed(elev: Column, n: Column): Column =
    ExpressionUtils.column(Watershed(
      ExpressionUtils.expression(elev), ExpressionUtils.expression(n)))

  /** D8 flow-path lengths over a row-major tile array (see [[FlowLength]]). */
  def flow_length(elev: Column, n: Column): Column =
    ExpressionUtils.column(FlowLength(
      ExpressionUtils.expression(elev), ExpressionUtils.expression(n)))
}

/** The D8 flow graph of one tile (O'Callaghan & Mark 1984), shared by
  * [[FlowAccum]], [[Watershed]] and [[FlowLength]]. Direction per
  * interior cell is the EXACT argmax g15 computes in SQL — score =
  * drop²·(2 for cardinal, 1 for diagonal), comparing drop/1 vs drop/√2
  * without floats (2a² = b² has no nonzero integer solutions, so
  * cardinal/diagonal ties are impossible); same-score same-class ties
  * break by the fixed ESRI priority E,SE,S,SW,W,NW,N,NE. Rim cells
  * have no direction (the 3×3 kernel is undefined there — gdaldem
  * nodata semantics) but still receive flow.
  */
private object D8 {
  // ESRI D8 neighbor ring in tie-break priority order:
  // (dx, dy, diagonal)
  private val Ring: Array[(Int, Int, Boolean)] = Array(
    (1, 0, false), (1, 1, true), (0, 1, false), (-1, 1, true),
    (-1, 0, false), (-1, -1, true), (0, -1, false), (1, -1, true))

  /** Row-major successor of every cell of the n×n elevation array `z`:
    * the steepest strictly-lower neighbor, or -1 for terminals (rim
    * cells and interior sinks, which have no positive drop).
    */
  def successors(z: Array[Long], n: Int): Array[Int] = {
    val succ = new Array[Int](n * n)
    java.util.Arrays.fill(succ, -1)
    var y = 1
    while (y < n - 1) {
      var x = 1
      while (x < n - 1) {
        val i = y * n + x
        val z0 = z(i)
        var bestScore = 0L
        var bestIdx = -1
        var k = 0
        while (k < 8) {
          val (dx, dy, diag) = Ring(k)
          val j = (y + dy) * n + (x + dx)
          val drop = z0 - z(j)
          if (drop > 0) {
            val score = drop * drop * (if (diag) 1L else 2L)
            if (score > bestScore) { bestScore = score; bestIdx = j } // strict >: first hit wins ties = ESRI priority
          }
          k += 1
        }
        succ(i) = bestIdx
        x += 1
      }
      y += 1
    }
    succ
  }
}

/** A per-tile D8 kernel: one tile's row-major elevation array and its
  * side n in, one bigint per cell out, computed by `sweep` over the
  * [[D8.successors]] graph. Drops are strictly positive along every
  * edge, so the graph is a forest with strictly DECREASING elevation
  * and each sweep is one pass in elevation order — no iteration.
  * O(n² log n²) per tile, no state beyond the tile: the whole
  * computation lives inside the tile's file split, which is how
  * raster engines distribute (a 3600×3600 production tile is one call
  * per file row). Eval-only (CodegenFallback) is fine off the codegen
  * hot path: one call amortizes over n² output cells, exactly like
  * RasterDecode.
  */
abstract class D8Kernel extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // malformed (wrong-length) arrays yield null, mirroring RasterDecode
  override def nullable: Boolean = true

  /** The per-cell output, given the elevations and their successors. */
  protected def sweep(z: Array[Long], succ: Array[Int]): Array[Long]

  override def nullSafeEval(elevAny: Any, nAny: Any): Any = {
    val arr = elevAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = nAny.asInstanceOf[Int]
    if (n < 3 || arr.numElements() != n * n) return null
    val z = arr.toLongArray()
    new GenericArrayData(sweep(z, D8.successors(z, n)))
  }
}

/** D8 flow accumulation: for each cell, the number of cells whose
  * steepest-descent flow path passes through it. One sweep in
  * descending-elevation order propagates loads in topological order:
  * load[succ(u)] += load[u], every upstream cell of u having already
  * been folded in (anything flowing into u sits strictly higher).
  */
case class FlowAccum(left: Expression, right: Expression) extends D8Kernel {

  override protected def sweep(z: Array[Long], succ: Array[Int]): Array[Long] = {
    val total = z.length
    // descending-elevation sweep = topological order of the flow forest
    val order = Array.range(0, total)
      .sortBy(i => -z(i))
    val load = Array.fill(total)(1L)
    var oi = 0
    while (oi < total) {
      val u = order(oi)
      if (succ(u) >= 0) load(succ(u)) += load(u)
      oi += 1
    }
    var i = 0
    while (i < total) { load(i) -= 1; i += 1 } // acc excludes the cell itself
    load
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FlowAccum = copy(left = l, right = r)
}

/** D8 WATERSHED labeling (basin delineation — TauDEM/GRASS
  * `r.watershed`'s partitioning output, the step after g19's
  * accumulation): every cell labels with the row-major index of the
  * TERMINAL cell its steepest-descent path reaches. Terminals are
  * interior sinks (no positive drop) and rim cells, so each basin is
  * one flow tree and the label is its root.
  *
  * One ASCENDING-elevation sweep assigns labels in topological order:
  * a cell's successor sits strictly lower (drop > 0), so by the time
  * a cell is processed its successor's basin is known — the upstream
  * mirror of FlowAccum's descending load sweep.
  */
case class Watershed(left: Expression, right: Expression) extends D8Kernel {

  override protected def sweep(z: Array[Long], succ: Array[Int]): Array[Long] = {
    val total = z.length
    // ascending-elevation sweep: successors resolve before their
    // upstream cells (succ is strictly lower; equal-z cells are never
    // each other's successors, so tie order is irrelevant)
    val order = Array.range(0, total).sortBy(i => z(i))
    val basin = new Array[Long](total)
    var oi = 0
    while (oi < total) {
      val u = order(oi)
      basin(u) = if (succ(u) < 0) u.toLong else basin(succ(u))
      oi += 1
    }
    basin
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Watershed = copy(left = l, right = r)
}

/** D8 FLOW-PATH LENGTH per cell — hops along the steepest-descent
  * path to its terminal (TauDEM `D8FlowPathExtremeUp` / GRASS
  * `r.flow`'s length output, the drainage-distance layer beside
  * [[Watershed]]'s labels): one ascending-elevation sweep resolves
  * `len(u) = len(succ(u)) + 1` — successors are strictly lower so
  * each resolves before its upstream cells, zero iteration.
  */
case class FlowLength(left: Expression, right: Expression) extends D8Kernel {

  override protected def sweep(z: Array[Long], succ: Array[Int]): Array[Long] = {
    val total = z.length
    val order = Array.range(0, total).sortBy(i => z(i))
    val len = new Array[Long](total)
    var oi = 0
    while (oi < total) {
      val u = order(oi)
      len(u) = if (succ(u) < 0) 0L else len(succ(u)) + 1L
      oi += 1
    }
    len
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FlowLength = copy(left = l, right = r)
}

/** Byte-level decoder for the deterministic GRFT raster format — the
  * engine's twin of the reference's GeoTIFF band read
  * (main.rs:172-191, `Dataset::open` → `read_band_as::<i32>`): a real
  * binary payload parsed into pixels, not a formula re-evaluated on
  * the query side.
  *
  * Layout (big-endian): magic "GRFT" | i32 tile_id | i32 lat0 |
  * i32 lon0 | i32 n | n·n i32 elevations in row-major (y, x) order.
  *
  * Returns `struct(tile_id, lat0, lon0, points array<struct<x, y,
  * elevation>>)`, or NULL for a payload that is truncated or does not
  * start with the magic — malformed files drop out instead of
  * poisoning the scan. Evaluated once per FILE row (the binaryFile
  * source yields one row per file), so interpretation cost is
  * amortized over n² pixels; the explode downstream is the
  * generator-parallel pattern of Geo.gridExpand.
  */
case class RasterDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)

  val pointType: StructType = StructType(Seq(
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("elevation", IntegerType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("tile_id", IntegerType, nullable = false),
    StructField("lat0", IntegerType, nullable = false),
    StructField("lon0", IntegerType, nullable = false),
    StructField("points", ArrayType(pointType, containsNull = false), nullable = false)))

  // malformed payloads decode to null
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any = {
    val bytes = in.asInstanceOf[Array[Byte]]
    if (bytes.length < 20) return null
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    if (buf.get() != 'G' || buf.get() != 'R' || buf.get() != 'F' || buf.get() != 'T') return null
    val tileId = buf.getInt(); val lat0 = buf.getInt(); val lon0 = buf.getInt()
    val n = buf.getInt()
    if (n < 0 || n > 16384 || bytes.length < 20 + 4L * n * n) return null
    val points = new Array[Any](n * n)
    var y = 0; var i = 0
    while (y < n) {
      var x = 0
      while (x < n) {
        points(i) = new GenericInternalRow(Array[Any](x, y, buf.getInt()))
        x += 1; i += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](tileId, lat0, lon0, new GenericArrayData(points)))
  }

  override protected def withNewChildInternal(c: Expression): RasterDecode = copy(child = c)
}

/** Byte-level decoder for the structural subset of TIFF the
  * reference's GeoTIFF band read consumes (main.rs:172-191,
  * `Dataset::open` → `read_band_as::<i32>`): TIFF 6.0, one signed
  * 16- or 32-bit integer sample per pixel (real AW3D30 DSM tiles
  * ship Int16 — the reference widens to i32 at read time, as does
  * this decoder's int32 elevation band), STRIPED or TILED (tags
  * 322-325), uncompressed, DEFLATE (Compression=8, zlib via
  * `java.util.zip.Inflater`), LZW, PackBits, or ZSTD (50000, via the
  * zstd-jni Spark ships), in CLASSIC or BIGTIFF (magic 43, 64-bit
  * offsets, 20-byte IFD entries, LONG8 values) containers, with
  * optional horizontal-differencing
  * predictor (tag 317 = 2) — the layout real AW3D30 GeoTIFFs actually
  * ship (GDAL writes them DEFLATE-compressed). A REAL TIFF parser,
  * not a fixture-shaped one: it honors either byte order ("II"/"MM"),
  * walks the IFD, resolves inline-vs-offset values by size (per spec:
  * a value whose byte size fits in 4 is stored inline), reassembles
  * pixel rows across strips, and pastes edge-padded tiles into the
  * image, so any conforming writer's output decodes — our fixture
  * writer is merely one such writer.
  *
  * Returns `struct(width, height, points array<struct<x, y,
  * elevation>>)`, or NULL for payloads that are malformed or outside
  * the subset (non-DEFLATE compression, multi-band, non-int32) —
  * such files drop out instead of poisoning the scan, mirroring
  * RasterDecode. Decompression is bomb-guarded: the pixel array is
  * only allocated once the container's segment byte counts can
  * plausibly back the claimed dimensions (zlib's maximum expansion is
  * ~1032x; we gate at 1100x), and each segment must inflate to
  * EXACTLY its layout-implied size. Unlike GRFT, TIFF carries no tile
  * identity: as with real AW3D30 tiles, identity comes from the
  * filename (main.rs:108-133).
  */
case class TiffDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)

  val pointType: StructType = StructType(Seq(
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("elevation", IntegerType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("points", ArrayType(pointType, containsNull = false), nullable = false),
    // GDAL's band NoData sentinel (ASCII tag 42113, e.g. "-9999" on
    // real AW3D30 DSMs) — null when the file carries none; LAST so
    // pre-existing positional consumers keep their offsets. The band
    // stays a primitive int array; callers map elevation = nodata to
    // SQL null with one `when` (the GDAL mask-band semantic), so
    // files without the tag pay nothing.
    StructField("nodata", IntegerType, nullable = true),
    // GEOREFERENCING tags — what GDAL's geo_transform() is built from
    // (main.rs:172-177) and the last reference behavior previously
    // approximated from the FILENAME: ModelPixelScaleTag 33550
    // (DOUBLE x3: sx, sy, sz) and the first ModelTiepointTag 33922
    // tuple (DOUBLE x6: raster i,j,k -> model x,y,z). Null when the
    // file carries no georeferencing (a bare TIFF) or the tag shape
    // is malformed; appended after nodata so positional consumers
    // keep their offsets.
    StructField("px_scale", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("tiepoint", ArrayType(DoubleType, containsNull = false), nullable = true)))

  override def nullable: Boolean = true

  private final val TypeAscii = 2
  private final val TypeShort = 3
  private final val TypeLong = 4
  private final val TypeDouble = 12
  private final val TypeLong8 = 16 // BigTIFF 64-bit unsigned

  override def nullSafeEval(in: Any): Any = {
    val bytes = in.asInstanceOf[Array[Byte]]
    if (bytes.length < 8) return null
    val order =
      if (bytes(0) == 'I' && bytes(1) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN
      else if (bytes(0) == 'M' && bytes(1) == 'M') java.nio.ByteOrder.BIG_ENDIAN
      else return null
    val buf = java.nio.ByteBuffer.wrap(bytes).order(order)
    // classic (magic 42, 4-byte offsets) or BigTIFF (magic 43, 8-byte
    // offsets — what GDAL switches to past 4 GB; mosaic-scale rasters
    // exceed classic TIFF's 32-bit addressing). Payloads here are
    // bounded by the pixel cap below, so every validated 64-bit
    // offset must also fit an int.
    val magic = buf.getShort(2)
    val isBig = magic == 43
    if (magic != 42 && !isBig) return null
    // format parameters: entry count, entries base, entry stride,
    // inline-value capacity, value-field offset within an entry
    val (nEntries, entriesBase, entryStride, inlineMax, valueField) =
      if (isBig) {
        if (bytes.length < 24) return null
        // bytesize-of-offsets must be 8, the reserved word 0
        if (buf.getShort(4) != 8 || buf.getShort(6) != 0) return null
        val ifd0 = buf.getLong(8)
        if (ifd0 < 16 || ifd0 + 8 > bytes.length) return null
        val cnt = buf.getLong(ifd0.toInt)
        if (cnt <= 0 || cnt > 65536) return null
        if (ifd0 + 8 + cnt * 20 > bytes.length) return null
        (cnt.toInt, ifd0.toInt + 8, 20, 8L, 12)
      } else {
        val ifd0 = buf.getInt(4)
        if (ifd0 < 8 || ifd0 + 2 > bytes.length) return null
        val cnt = buf.getShort(ifd0) & 0xFFFF
        if (ifd0 + 2 + cnt * 12 > bytes.length) return null
        (cnt, ifd0 + 2, 12, 4L, 8)
      }

    // tag -> position of its IFD entry
    var entryPos = Map.empty[Int, Int]
    var i = 0
    while (i < nEntries) {
      val p = entriesBase + i * entryStride
      entryPos += ((buf.getShort(p) & 0xFFFF) -> p)
      i += 1
    }

    /** An entry's element count (4-byte classic, 8-byte BigTIFF). */
    def entryCount(p: Int): Long =
      if (isBig) buf.getLong(p + 4) else buf.getInt(p + 4) & 0xFFFFFFFFL

    /** An entry's offset field at the format's width. */
    def entryOffset(p: Int): Long =
      if (isBig) buf.getLong(p + valueField)
      else buf.getInt(p + valueField) & 0xFFFFFFFFL

    /** All values of a SHORT/LONG (/BigTIFF LONG8) tag, resolving
      * inline vs offset storage by the spec's fits-in-inlineMax rule
      * (4 bytes classic, 8 BigTIFF).
      */
    def values(tag: Int): Option[Array[Long]] = entryPos.get(tag).flatMap { p =>
      val typ = buf.getShort(p + 2) & 0xFFFF
      val count = entryCount(p)
      val elemSize = typ match {
        case TypeShort => 2
        case TypeLong => 4
        case TypeLong8 if isBig => 8
        case _ => return None
      }
      if (count < 0 || count > 65536) return None
      val base =
        if (elemSize.toLong * count <= inlineMax) p + valueField
        else {
          val off = entryOffset(p)
          if (off < 0 || off + elemSize * count > bytes.length) return None
          off.toInt
        }
      Some(Array.tabulate(count.toInt) { j =>
        if (elemSize == 2) (buf.getShort(base + 2 * j) & 0xFFFF).toLong
        else if (elemSize == 4) buf.getInt(base + 4 * j) & 0xFFFFFFFFL
        else buf.getLong(base + 8 * j)
      })
    }
    def scalar(tag: Int): Option[Long] = values(tag).collect { case a if a.length == 1 => a(0) }

    /** An ASCII tag's string (NUL-trimmed), inline-vs-offset resolved
      * like values().
      */
    def ascii(tag: Int): Option[String] = entryPos.get(tag).flatMap { p =>
      if ((buf.getShort(p + 2) & 0xFFFF) != TypeAscii) return None
      val count = entryCount(p)
      if (count <= 0 || count > 256) return None
      val base =
        if (count <= inlineMax) p + valueField
        else {
          val off = entryOffset(p)
          if (off < 0 || off + count > bytes.length) return None
          off.toInt
        }
      Some(new String(bytes, base, count.toInt, java.nio.charset.StandardCharsets.US_ASCII)
        .takeWhile(_ != '\u0000').trim)
    }

    /** Raw bytes of an UNDEFINED (type 7) tag — JPEGTables (347)
      * carries an abbreviated JPEG table stream this way.
      */
    def undef(tag: Int): Option[Array[Byte]] = entryPos.get(tag).flatMap { p =>
      if ((buf.getShort(p + 2) & 0xFFFF) != 7) return None
      val count = entryCount(p)
      if (count <= 0 || count > 65536) return None
      val base =
        if (count <= inlineMax) p + valueField
        else {
          val off = entryOffset(p)
          if (off < 0 || off + count > bytes.length) return None
          off.toInt
        }
      Some(java.util.Arrays.copyOfRange(bytes, base, base + count.toInt))
    }

    /** All values of a DOUBLE tag (8-byte elements — offset-stored in
      * classic TIFF by the fits-in-4 rule; a SINGLE double is inline
      * in BigTIFF's 8-byte value field).
      */
    def doubles(tag: Int): Option[Array[Double]] = entryPos.get(tag).flatMap { p =>
      if ((buf.getShort(p + 2) & 0xFFFF) != TypeDouble) return None
      val count = entryCount(p)
      if (count <= 0 || count > 1024) return None
      val base =
        if (8L * count <= inlineMax) p + valueField
        else {
          val off = entryOffset(p)
          if (off < 0 || off + 8L * count > bytes.length) return None
          off.toInt
        }
      Some(Array.tabulate(count.toInt)(j => buf.getDouble(base + 8 * j)))
    }

    // ModelPixelScale must be the spec's 3-vector; ModelTiepoint is
    // 6k doubles — the FIRST tuple is the one GDAL's north-up
    // geo_transform derives from, and the only one a north-up raster
    // needs (additional tiepoints imply a non-affine model this
    // subset doesn't represent — take the first, as GDAL does).
    val pxScale: Option[Array[Double]] = doubles(33550).filter(_.length == 3)
    val tiePoint: Option[Array[Double]] =
      doubles(33922).filter(a => a.length >= 6 && a.length % 6 == 0).map(_.take(6))

    // GDAL_NODATA (42113): integral decimal forms only — the DSM
    // sentinel is an integer band value ("-9999", GDAL may print
    // "-9999.0"); anything else (NaN, scientific) stays null rather
    // than silently mis-marking pixels
    val noData: Option[Int] = ascii(42113).flatMap { s0 =>
      val s = if (s0.endsWith(".0")) s0.dropRight(2) else s0
      try Some(java.lang.Integer.parseInt(s)) catch { case _: NumberFormatException => None }
    }

    val width = scalar(256).getOrElse(return null).toInt
    val height = scalar(257).getOrElse(return null).toInt
    if (width <= 0 || height <= 0 || width > 16384 || height > 16384) return null
    // total-pixel cap: per-axis caps alone admit 16384² = 268M pixels
    // (~25 GB of row structs) from a ~1 MB DEFLATE payload inside the
    // 1100x expansion gate below. 2^24 covers a full 3600x3600 AW3D30
    // tile (13M px) with headroom while bounding the allocation BEFORE
    // any array is sized from attacker-controlled dims.
    if (width.toLong * height > (1L << 24)) return null
    // subset gate: single-band signed 16/32-bit (or IEEE float32)
    // samples; compression none (1), LZW (5), DEFLATE (8), PackBits
    // (32773 — the byte-RLE every baseline reader must speak), or
    // ZSTD (50000 — GDAL's registered code, the default modern
    // writers increasingly emit)
    val compression = scalar(259).getOrElse(1L)
    if (compression != 1L && compression != 5L && compression != 7L &&
      compression != 8L && compression != 32773L && compression != 50000L)
      return null
    val bits = scalar(258).getOrElse(return null)
    val isJpeg = compression == 7L
    // 8-bit samples ONLY under new-style JPEG (the codec is defined
    // over 8-bit components); elsewhere the DSM subset stays 16/32
    if (bits != 16L && bits != 32L && !(isJpeg && bits == 8L)) return null
    if (isJpeg && bits != 8L) return null
    // bytes per stored sample; Int16 (the real AW3D30 DSM sample
    // format) sign-extends into the int32 elevation band on read
    val bps = (bits / 8).toInt
    if (scalar(277).getOrElse(1L) != 1L) return null
    // SampleFormat 2 = signed int; 3 = IEEE float (32-bit only here —
    // the band still reads as int32, truncating toward zero exactly
    // as a read_band_as::<i32> widening read does); JPEG bands are
    // unsigned 8-bit (SampleFormat 1)
    val sampleFormat = scalar(339).getOrElse(1L)
    val isFloat = sampleFormat == 3L
    if (isJpeg) { if (sampleFormat != 1L) return null }
    else if (sampleFormat != 2L && !(isFloat && bits == 32L)) return null
    val predictor = scalar(317).getOrElse(1L)
    if (predictor != 1L && predictor != 2L) return null
    if (isJpeg && predictor != 1L) return null
    // JPEGTables (TIFF TechNote 2): an abbreviated table-only stream
    // (SOI + DQT/DHT + EOI) shared by every abbreviated segment
    val jpegTables: Option[Array[Byte]] = if (isJpeg) undef(347) else None
    // the integer horizontal-differencing predictor is undefined over
    // float sample bytes (GDAL uses predictor 3 for floats — outside
    // this subset)
    if (isFloat && predictor != 1L) return null

    // exactly one layout: classic strips (273/279) or tiles (322-325)
    val isTiled = entryPos.contains(324) || entryPos.contains(322)
    if (isTiled == entryPos.contains(273)) return null

    /** One decoded segment (strip or tile) of exactly `expectedLen`
      * bytes — a bounds-checked raw slice, or a bounded inflate that
      * must consume its input and produce neither more nor less.
      */
    def segment(off: Long, len: Long, expectedLen: Int,
        segW: Int, segH: Int): Array[Byte] = {
      if (off < 0 || len <= 0 || off + len > bytes.length || off > Int.MaxValue) return null
      if (compression == 7L) {
        // new-style JPEG (TechNote 2): the segment is a JPEG stream —
        // complete, or abbreviated with its DQT/DHT bodies in the
        // shared JPEGTables stream (merged as SOI + table bodies +
        // segment-sans-SOI). Dims are validated BEFORE pixel decode
        // via the ImageReader header, so a crafted header cannot
        // allocate beyond the layout-implied segment.
        try {
          val seg = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
          if (seg.length < 4 || (seg(0) & 0xFF) != 0xFF || (seg(1) & 0xFF) != 0xD8)
            return null
          val full = jpegTables match {
            case Some(t) if t.length > 4 &&
                (t(0) & 0xFF) == 0xFF && (t(1) & 0xFF) == 0xD8 &&
                (t(t.length - 2) & 0xFF) == 0xFF && (t(t.length - 1) & 0xFF) == 0xD9 =>
              val out = new Array[Byte](2 + (t.length - 4) + (seg.length - 2))
              out(0) = 0xFF.toByte; out(1) = 0xD8.toByte
              System.arraycopy(t, 2, out, 2, t.length - 4)
              System.arraycopy(seg, 2, out, 2 + t.length - 4, seg.length - 2)
              out
            case _ => seg
          }
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(full))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return null
          val rd = readers.next()
          rd.setInput(iis)
          try {
            if (rd.getWidth(0) != segW || rd.getHeight(0) != segH) return null
            val img = rd.read(0)
            val r = img.getRaster
            if (r.getNumBands != 1) return null
            val out = new Array[Byte](expectedLen)
            var yy = 0
            var idx = 0
            while (yy < segH) {
              var xx = 0
              while (xx < segW) {
                out(idx) = r.getSample(xx, yy, 0).toByte; idx += 1; xx += 1
              }
              yy += 1
            }
            out
          } finally rd.dispose()
        } catch { case scala.util.control.NonFatal(_) => null }
      } else if (compression == 1L) {
        if (len != expectedLen) return null
        java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
      } else if (compression == 5L) {
        TiffLzw.decode(bytes, off.toInt, len.toInt, expectedLen)
      } else if (compression == 32773L) {
        // PackBits: header byte h >= 0 -> copy h+1 literal bytes;
        // -127 <= h <= -1 -> repeat next byte 1-h times; -128 -> noop.
        // Must land on EXACTLY expectedLen without reading past the
        // segment (truncated/overlong streams null out, like DEFLATE)
        val out = new Array[Byte](expectedLen)
        var ip = off.toInt
        val end = (off + len).toInt
        var op = 0
        while (ip < end && op < expectedLen) {
          val h = bytes(ip); ip += 1
          if (h >= 0) {
            val c = h + 1
            if (ip + c > end || op + c > expectedLen) return null
            System.arraycopy(bytes, ip, out, op, c)
            ip += c; op += c
          } else if (h != -128) {
            val c = 1 - h
            if (ip >= end || op + c > expectedLen) return null
            java.util.Arrays.fill(out, op, op + c, bytes(ip))
            ip += 1; op += c
          }
        }
        if (op != expectedLen) return null
        // surplus ENCODED bytes beyond the decoded size (ignoring
        // trailing noops) mean a malformed stream
        while (ip < end && bytes(ip) == -128) ip += 1
        if (ip != end) return null
        out
      } else if (compression == 50000L) {
        // ZSTD via the zstd-jni Spark already ships for shuffle
        // compression: single-shot decompress into the layout-implied
        // buffer; must produce EXACTLY expectedLen (same discipline
        // as DEFLATE), errors/overruns null out, never throw
        try {
          val out = new Array[Byte](expectedLen)
          val rc = com.github.luben.zstd.Zstd.decompressByteArray(
            out, 0, expectedLen, bytes, off.toInt, len.toInt)
          if (com.github.luben.zstd.Zstd.isError(rc) || rc != expectedLen) null
          else out
        } catch { case scala.util.control.NonFatal(_) => null }
      } else {
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(bytes, off.toInt, len.toInt)
          val out = new Array[Byte](expectedLen)
          var total = 0
          while (total < expectedLen && !inf.finished()) {
            val k = inf.inflate(out, total, expectedLen - total)
            // truncated stream, or a header demanding a preset
            // dictionary (FDICT) — without this check a crafted
            // payload spins this loop forever
            if (k == 0 && (inf.needsInput() || inf.needsDictionary())) return null
            total += k
          }
          if (total != expectedLen) return null
          // reject surplus decoded bytes beyond the layout-implied size
          if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0) return null
          out
        } catch { case _: java.util.zip.DataFormatException => return null }
        finally inf.end()
      }
    }

    /** Undo horizontal differencing (predictor 2) in place: each
      * sample is stored as the delta from its left neighbor, per row
      * of `rowSamples` samples of `bps` bytes, in the file's byte
      * order (Int16 deltas wrap in 16-bit arithmetic, per spec).
      */
    def undoPredictor(data: Array[Byte], rowSamples: Int): Unit = {
      val b = java.nio.ByteBuffer.wrap(data).order(order)
      val rows = data.length / (bps * rowSamples)
      var r = 0
      while (r < rows) {
        var p = r * rowSamples * bps + bps
        val end = (r + 1) * rowSamples * bps
        if (bps == 4)
          while (p < end) { b.putInt(p, b.getInt(p) + b.getInt(p - 4)); p += 4 }
        else
          while (p < end) {
            b.putShort(p, (b.getShort(p) + b.getShort(p - 2)).toShort); p += 2
          }
        r += 1
      }
    }

    /** Sample `idx` of a decoded segment, widened to int32. Float
      * bands convert per IEEE-to-int truncation (NaN -> 0, the JVM
      * rule — deterministic; fixture bands carry integer-valued
      * floats, so the conversion is exact there).
      */
    def sample(db: java.nio.ByteBuffer, idx: Int): Int =
      if (isFloat) java.lang.Float.intBitsToFloat(db.getInt(4 * idx)).toInt
      else if (bps == 4) db.getInt(4 * idx)
      else if (bps == 1) db.get(idx) & 0xFF // JPEG gray: unsigned
      else db.getShort(2 * idx).toInt

    /** Allocate the pixel array ONLY once the container's segment
      * byte counts can back the claimed dims: uncompressed must match
      * exactly; DEFLATE is gated at zlib's ~1032x max expansion — a
      * ~200-byte crafted payload claiming 16384x16384 fails here
      * instead of OOMing the task.
      */
    def backed(counts: Array[Long], decodedTotal: Long): Boolean = {
      var claimed = 0L
      var ci = 0
      while (ci < counts.length) {
        if (counts(ci) < 0) return false
        claimed += counts(ci); ci += 1
      }
      claimed <= bytes.length &&
        (if (compression == 1L) claimed == decodedTotal
         // LZW: ≤ 8c/9 codes from c bytes, each emitting ≤ 4096 bytes
         // ⇒ ratio < 3641; DEFLATE: zlib max ~1032x; PackBits: a
         // 2-byte repeat packet emits ≤ 128 bytes ⇒ ratio ≤ 64.
         // Gated with slack.
         else if (compression == 5L) decodedTotal <= claimed * 3700L
         else if (compression == 32773L) decodedTotal <= claimed * 70L
         // JPEG: a constant image's entropy data is tiny — gate loose,
         // the pixel cap bounds any allocation and dims are verified
         // against the layout before decode
         else if (compression == 7L) decodedTotal <= claimed * 1000L
         // ZSTD's RLE block emits up to 128 KB from a ~4-byte block
         // (~32768x); gated with slack — the pixel cap above already
         // bounds any single allocation at 64 MB
         else if (compression == 50000L) decodedTotal <= claimed * 40000L
         else decodedTotal <= claimed * 1100L)
    }

    if (isTiled) {
      val tw = scalar(322).getOrElse(return null).toInt
      val th = scalar(323).getOrElse(return null).toInt
      // spec: tile dims are positive multiples of 16
      if (tw <= 0 || th <= 0 || tw % 16 != 0 || th % 16 != 0 ||
        tw > 16384 || th > 16384) return null
      val across = (width + tw - 1) / tw
      val down = (height + th - 1) / th
      val offsets = values(324).getOrElse(return null)
      val counts = values(325).getOrElse(return null)
      if (offsets.length != across.toLong * down || counts.length != offsets.length)
        return null
      if (!backed(counts, bps.toLong * tw * th * across * down)) return null

      val points = new Array[Any](width * height)
      var t = 0
      while (t < offsets.length) {
        val data = segment(offsets(t), counts(t), bps * tw * th, tw, th)
        if (data == null) return null
        if (predictor == 2L) undoPredictor(data, tw)
        val db = java.nio.ByteBuffer.wrap(data).order(order)
        val x0 = (t % across) * tw
        val y0 = (t / across) * th
        // paste the tile's valid region; right/bottom padding drops
        var r = 0
        while (r < th && y0 + r < height) {
          var x = 0
          while (x < tw && x0 + x < width) {
            points((y0 + r) * width + (x0 + x)) = new GenericInternalRow(
              Array[Any](x0 + x, y0 + r, sample(db, r * tw + x)))
            x += 1
          }
          r += 1
        }
        t += 1
      }
      new GenericInternalRow(Array[Any](width, height, new GenericArrayData(points),
        noData.map(Int.box).orNull,
        pxScale.map(new GenericArrayData(_)).orNull,
        tiePoint.map(new GenericArrayData(_)).orNull))
    } else {
      val rowsPerStrip = scalar(278).getOrElse(height.toLong)
      if (rowsPerStrip <= 0) return null
      val offsets = values(273).getOrElse(return null)
      val counts = values(279).getOrElse(return null)
      val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
      if (offsets.length != nStrips || counts.length != offsets.length) return null
      if (!backed(counts, bps.toLong * width * height)) return null

      val points = new Array[Any](width * height)
      var row = 0
      var s = 0
      while (s < offsets.length) {
        val rows = math.min(rowsPerStrip, (height - row).toLong).toInt
        val data = segment(offsets(s), counts(s), bps * width * rows, width, rows)
        if (data == null) return null
        if (predictor == 2L) undoPredictor(data, width)
        val db = java.nio.ByteBuffer.wrap(data).order(order)
        var r = 0
        while (r < rows) {
          var x = 0
          while (x < width) {
            points(row * width + x) = new GenericInternalRow(
              Array[Any](x, row, sample(db, r * width + x)))
            x += 1
          }
          r += 1; row += 1
        }
        s += 1
      }
      if (row != height) return null // strips did not cover the image
      new GenericInternalRow(Array[Any](width, height, new GenericArrayData(points),
        noData.map(Int.box).orNull,
        pxScale.map(new GenericArrayData(_)).orNull,
        tiePoint.map(new GenericArrayData(_)).orNull))
    }
  }

  override protected def withNewChildInternal(c: Expression): TiffDecode = copy(child = c)
}

/** TIFF 6.0 LZW decompressor (Compression = 5): MSB-first bit
  * packing, variable code width 9→12 with the spec's EARLY CHANGE
  * (the width bumps when the NEXT code to be assigned would be
  * 2^w − 1 — TIFF writers, GDAL included, all use it), ClearCode 256,
  * EndOfInformation 257, and the KwKwK case (a code equal to the next
  * unassigned entry decodes as prev + prev[0]). Total: every
  * malformed input path — out-of-range code, missing EOI, output
  * overflow/underflow, truncated bitstream — returns null rather than
  * throwing, matching TiffDecode's poison-free scan contract. Output
  * length is exact-checked against the layout-implied segment size,
  * the same discipline as the DEFLATE path. Strings materialize by
  * backward suffix walk into the output buffer (no per-code byte
  * array concatenation), so decode is O(output bytes).
  */
object TiffLzw {
  private final val Clear = 256
  private final val Eoi = 257

  def decode(bytes: Array[Byte], off: Int, len: Int, expectedLen: Int): Array[Byte] = {
    val out = new Array[Byte](expectedLen)
    var outPos = 0
    // code tables: entry c is prefix(c) ++ suffix(c); roots 0..255
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val length = new Array[Int](4096)
    var c = 0
    while (c < 256) { prefix(c) = -1; suffix(c) = c.toByte; length(c) = 1; c += 1 }

    var nextCode = 258
    var width = 9
    var prev = -1

    // MSB-first bit reader
    var acc = 0L
    var accBits = 0
    var pos = off
    val end = off + len

    /** Write code's string at outPos (backward suffix walk); returns
      * its first byte or -1 on overflow.
      */
    def emit(code: Int): Int = {
      val l = length(code)
      if (outPos + l > expectedLen) return -1
      var p = outPos + l - 1
      var cc = code
      while (cc >= 0) { out(p) = suffix(cc); p -= 1; cc = prefix(cc) }
      outPos += l
      out(outPos - l) & 0xFF
    }

    while (true) {
      while (accBits < width && pos < end) {
        acc = (acc << 8) | (bytes(pos) & 0xFF); accBits += 8; pos += 1
      }
      if (accBits < width) return null // truncated before EOI
      val code = ((acc >>> (accBits - width)) & ((1 << width) - 1)).toInt
      accBits -= width

      if (code == Eoi) {
        if (outPos != expectedLen) return null
        return out
      } else if (code == Clear) {
        nextCode = 258; width = 9; prev = -1
      } else if (prev < 0) {
        // first code after a clear must be a root
        if (code > 255) return null
        if (emit(code) < 0) return null
        prev = code
      } else if (code < nextCode) {
        val first = emit(code)
        if (first < 0) return null
        if (nextCode < 4096) {
          prefix(nextCode) = prev; suffix(nextCode) = first.toByte
          length(nextCode) = length(prev) + 1
          nextCode += 1
          if (nextCode == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
      } else if (code == nextCode && nextCode < 4096) {
        // KwKwK: entry being defined — prev's string plus its own
        // first byte; materialize the entry FIRST, then emit it
        val l = length(prev) + 1
        if (outPos + l > expectedLen) return null
        prefix(nextCode) = prev; suffix(nextCode) = 0 // patched below
        length(nextCode) = l
        var p = outPos + l - 2
        var cc = prev
        while (cc >= 0) { out(p) = suffix(cc); p -= 1; cc = prefix(cc) }
        out(outPos + l - 1) = out(outPos) // K = first byte of prev's string
        suffix(nextCode) = out(outPos)
        outPos += l
        nextCode += 1
        if (nextCode == (1 << width) - 1 && width < 12) width += 1
        prev = code
      } else return null // code beyond the table
    }
    null // unreachable
  }
}

/** Signed degree of the leftmost AW3D30 tile key in a string: the
  * latitude (`lon = false`) or longitude of the first 22-byte window
  * `ALPSMLC30_[NS]ddd[EW]ddd_DSM` (main.rs:298), `S`/`W` negative;
  * null when no window matches. Exactly what `regexp_extract` with
  * `Geo.TilePattern` followed by a cast returns: the pattern is ASCII
  * and every byte of a multibyte UTF-8 character is >= 0x80, so the
  * leftmost byte window is the leftmost char match, and `d` is ASCII
  * `0-9` as Java's `\d` is. One scan of the string's bytes with no
  * allocation; the generated code calls the same scan, so a parse
  * placed above a pixel `explode` stays inside whole-stage codegen.
  */
case class TileDegree(child: Expression, lon: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  // a string without a tile key parses to null
  override def nullable: Boolean = true
  override def prettyName: String = if (lon) "tile_lon" else "tile_lat"

  override def nullSafeEval(in: Any): Any = {
    val d = TileDegree.parse(in.asInstanceOf[UTF8String], lon)
    if (d == TileDegree.NoMatch) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => s"""
      |${ev.value} = org.apache.spark.sql.graft.TileDegree.parse($in, $lon);
      |${ev.isNull} = ${ev.value} == ${TileDegree.NoMatch};
    """.stripMargin)

  override protected def withNewChildInternal(c: Expression): TileDegree = copy(child = c)
}

/** The key scan shared by [[TileDegree]]'s interpreted and generated paths. */
object TileDegree {
  /** `parse`'s result for a string with no tile key. */
  final val NoMatch = Int.MinValue

  private val Prefix = "ALPSMLC30_".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private final val KeyLen = 22

  def parse(s: UTF8String, lon: Boolean): Int = {
    val last = s.numBytes - KeyLen
    var i = 0
    while (i <= last) {
      if (keyAt(s, i)) {
        val at = i + (if (lon) 14 else 10)
        val deg = (s.getByte(at + 1) - '0') * 100 + (s.getByte(at + 2) - '0') * 10 +
          (s.getByte(at + 3) - '0')
        val h = s.getByte(at)
        return if (h == 'N' || h == 'E') deg else -deg
      }
      i += 1
    }
    NoMatch
  }

  private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Whether the pattern matches the 22 bytes starting at `i`. */
  private def keyAt(s: UTF8String, i: Int): Boolean = {
    var j = 0
    while (j < Prefix.length) {
      if (s.getByte(i + j) != Prefix(j)) return false
      j += 1
    }
    val ns = s.getByte(i + 10); val ew = s.getByte(i + 14)
    (ns == 'N' || ns == 'S') && digit(s.getByte(i + 11)) && digit(s.getByte(i + 12)) &&
      digit(s.getByte(i + 13)) && (ew == 'E' || ew == 'W') && digit(s.getByte(i + 15)) &&
      digit(s.getByte(i + 16)) && digit(s.getByte(i + 17)) && s.getByte(i + 18) == '_' &&
      s.getByte(i + 19) == 'D' && s.getByte(i + 20) == 'S' && s.getByte(i + 21) == 'M'
  }
}
