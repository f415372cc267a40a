package org.apache.spark.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, Cli, FixtureTimer, SparkEntry, Tables}
import graft.geo.Geo

/** The benchmark's JVM side. One process, one Spark `local[cores]`
  * session with the program's GraftExtensions, one client thread that
  * runs a closed loop over a workload's operations.
  *
  * It talks to `run.py` over stdin/stdout: lines starting with `@@` are
  * protocol, everything else is log. Sequence:
  *   1. check pass — each operation once, cold; its full output is
  *      written under `<work>/verify` and `@@VERIFY <json>` is printed;
  *   2. `run.py` checks the outputs against DuckDB and answers with
  *      `@@VERDICT <op,op,...>` (the operations that failed, or empty);
  *   3. warm-up passes, then the timed window, each operation checked
  *      against the digest recorded in step 1;
  *   4. `@@RESULT <json>`.
  */
object Runner {

  final case class Op(name: String, kind: String, arg: String = "")

  /** A workload: its operations and the warm-up passes that follow the
    * check pass (which is itself the first, cold pass).
    */
  final case class Workload(warmup: Int, ops: Seq[Op])

  val Workloads: Map[String, Workload] = Map(
    "aw3d30_etl" -> Workload(2, Seq(
      Op("cli_europe", "cli", "europe"),
      Op("cli_france", "cli", "france"),
      Op("tiff_ingest", "tiff"))),
    "geo_olap" -> Workload(6, Seq("g2_region_filter", "g4_elevation_stats",
      "g6_region_elevation_join", "g44_stats_prune", "q1_agg", "q3_join",
      "q5_multijoin", "q6_filter", "q9_window").map(Op(_, "entry"))))

  final case class Conf(workload: String, data: String, tiles: String, work: String,
      seconds: Double, seed: Long, trace: Boolean, plant: Boolean, cores: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("tiles"), m("work"), m("seconds").toDouble,
      m("seed").toLong, m("trace") == "1", m.getOrElse("plant", "0") == "1",
      m("cores").toInt)
  }

  // ---- clock: epoch milliseconds with nanosecond resolution ----------
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  // ---- JVM figures ----------------------------------------------------
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Heap in use after each collection, MB. */
  val gcLog = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def watchGc(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          gcLog.add(after / 1e6)
        }
      }, null, null)
    case _ =>
  }

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU nanoseconds of the JIT compiler threads, from Linux's per-thread
    * `schedstat` (0 where there is none). The compilers keep working
    * through the timed window — Spark generates and loads new code for
    * every query — and how much they do in a given minute varies from run
    * to run. The JVM runs with a fixed set of compiler threads, so
    * process CPU minus this is the CPU the workload's own threads (Spark's
    * tasks, the client, GC) used.
    */
  def jitNanos(): Long = Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
    try {
      val comm = new String(java.nio.file.Files.readAllBytes(new File(t, "comm").toPath)).trim
      if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler"))
        new String(java.nio.file.Files.readAllBytes(new File(t, "schedstat").toPath))
          .trim.split(" ")(0).toLong
      else 0L
    } catch { case _: java.io.IOException | _: NumberFormatException => 0L }
  }.sum

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  // ---- session --------------------------------------------------------
  def session(c: Conf, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config(Tables.NanosConf._1, Tables.NanosConf._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- output digest --------------------------------------------------
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and an order-independent digest over every column of
    * every row: the exact decimal sum of the rows' xxhash64 values.
    */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (r.getLong(0), h)
  }

  // ---- one operation --------------------------------------------------
  final case class Res(op: String, ok: Boolean, latency: Double, rows: Long,
      digest: String, err: String, start: Double, end: Double,
      entry: (Double, Double), action: (Double, Double), fixture: Double,
      storedMb: Double, rdds: Int, files: Int, bytes: Long)

  private var etlSeq = 0

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def outFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) outFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** The raster ETL: AW3D30 GeoTIFFs read as binary files, decoded by
    * the program's tiff_decode, exploded to one row per pixel with the
    * tile's geotransform (origin from the tile name, north-up), one
    * Parquet file per tile.
    */
  def tiffRows(spark: SparkSession, tiles: String): DataFrame = {
    import org.apache.spark.sql.graft.RasterExprs
    spark.read.format("binaryFile").option("pathGlobFilter", "*.tif").load(tiles)
      .select(regexp_extract(col("path"), Geo.TilePattern, 0).as("tile_key"),
        RasterExprs.tiff_decode(col("content")).as("r"))
      .select(col("tile_key"), col("r.width").as("w"), col("r.height").as("h"),
        explode(col("r.points")).as("p"))
      .select(
        (Geo.parseLat(col("tile_key")) + lit(1) - col("p.y") / col("h")).as("lat"),
        (Geo.parseLon(col("tile_key")) + col("p.x") / col("w")).as("lon"),
        col("p.elevation").as("elevation"), col("tile_key"))
      .repartition(col("tile_key"))
  }

  def runOp(spark: SparkSession, c: Conf, op: Op, outDir: Option[File],
      rec: Option[Recorder]): Res = {
    val f0 = FixtureTimer.totalNanos
    var entry = (0.0, 0.0)
    var action = (0.0, 0.0)
    val out = outDir.getOrElse {
      etlSeq += 1
      new File(s"${c.work}/etl/${op.name}-$etlSeq")
    }
    val t0 = now()
    val (ok, rows, dig, err) =
      try {
        var reported = Option.empty[Long]
        val a = now()
        val query = op.kind match {
          case "entry" => Some(SparkEntry.queries(op.name)(spark, c.data))
          case "cli" => reported = Some(Cli.run(spark, c.data, out.getPath, op.arg)); None
          case "tiff" => Geo.writeTiled(tiffRows(spark, c.tiles), out.getPath); None
        }
        entry = (a, now())
        val b = now()
        // the check pass keeps a query's whole output on disk for the oracle
        if (outDir.isDefined) query.foreach(_.coalesce(1).write.mode("overwrite").parquet(out.getPath))
        val (n, d) = digest(query.filter(_ => outDir.isEmpty)
          .getOrElse(spark.read.parquet(out.getPath)))
        action = (b, now())
        reported.foreach(w => require(n == w, s"read back $n rows, Cli.run reported $w"))
        (true, n, d, "")
      } catch {
        case e: Throwable => (false, 0L, "", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val t1 = now()
    log(f"${op.name} ${(t1 - t0) / 1e3}%.3f s ${if (ok) "ok" else err}")
    // outside the latency: cache state, release, output bookkeeping
    val fixture = (FixtureTimer.totalNanos - f0) / 1e9
    rec.foreach(_ => Recorder.drain(spark.sparkContext))
    val info = spark.sparkContext.getRDDStorageInfo
    val stored = info.map(i => i.memSize + i.diskSize).sum / 1e6
    Caches.clear()
    // Cli.run caches its grid without registering it; release it too
    if (op.kind != "entry") spark.catalog.clearCache()
    val files = if (op.kind == "entry") Nil else outFiles(out)
    val bytes = files.map(_.length).sum
    if (outDir.isEmpty && op.kind != "entry") deleteTree(out)
    Res(op.name, ok, (t1 - t0) / 1e3, rows, dig, err, t0, t1, entry, action,
      fixture, stored, info.length, files.size, bytes)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ---- JSON -----------------------------------------------------------
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")

  // ---- passes ---------------------------------------------------------
  def order(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

  /** One pass: operations run, wall seconds, CPU seconds outside and
    * inside the JIT compiler threads.
    */
  final case class Pass(ops: Int, wall: Double, cpu: Double, jit: Double, rows: Long)

  final case class Window(results: Seq[Res], passes: Seq[Pass], gcS: Double,
      heapAfterGc: Seq[Double]) {
    def wall: Double = passes.map(_.wall).sum
  }

  def merge(ws: Seq[Window]): Window = Window(ws.flatMap(_.results), ws.flatMap(_.passes),
    ws.map(_.gcS).sum, ws.flatMap(_.heapAfterGc))

  /** Closed loop: whole passes until `seconds` have gone by (at least one). */
  def window(spark: SparkSession, c: Conf, ops: Seq[Op], expected: Map[String, String],
      failedByOracle: Set[String], firstPass: Int, seconds: Double,
      rec: Option[Recorder], onOp: Res => Unit = _ => ()): Window = {
    val res = mutable.ArrayBuffer.empty[Res]
    val passes = mutable.ArrayBuffer.empty[Pass]
    gcLog.clear()
    val gc0 = gcMs()
    val t0 = now()
    var pass = firstPass
    do {
      val p0 = now()
      val cpu0 = cpuNanos()
      val jit0 = jitNanos()
      val n0 = res.size
      order(ops, c.seed, pass).foreach { op =>
        rec.foreach(_.clear())
        val r = runOp(spark, c, op, None, rec)
        val good = r.ok && !failedByOracle(op.name) && expected.get(op.name).contains(r.digest)
        val checked = if (good || !r.ok) r else r.copy(ok = false,
          err = if (failedByOracle(op.name)) "output failed the oracle check"
                else s"digest ${r.digest} != expected ${expected.getOrElse(op.name, "?")}")
        if (!checked.ok) log(s"${op.name} failed: ${checked.err}")
        res += checked
        onOp(checked)
      }
      val done = res.drop(n0)
      val wall = (now() - p0) / 1e3
      val jit = (jitNanos() - jit0) / 1e9
      passes += Pass(done.size, wall, (cpuNanos() - cpu0) / 1e9 - jit, jit, done.map(_.rows).sum)
      log(f"pass $pass: $wall%.3f s, ${passes.last.cpu}%.2f cpu s, $jit%.2f jit s")
      pass += 1
    } while (now() - t0 < seconds * 1e3)
    Window(res.toSeq, passes.toSeq, (gcMs() - gc0) / 1e3, gcLog.asScala.toSeq)
  }

  /** Heap in use after a full collection: what the workload keeps live.
    * The least of three collections a moment apart, because Spark's
    * ContextCleaner releases shuffle and broadcast state only after a
    * collection has found their handles unreachable.
    */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def samples(w: Window): String = w.results.map { r =>
    obj(Seq("op" -> js(r.op), "ok" -> r.ok.toString, "s" -> num(r.latency),
      "rows" -> r.rows.toString, "bytes" -> r.bytes.toString, "files" -> r.files.toString))
  }.mkString("[", ", ", "]")

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    watchGc()
    val wl = Workloads(c.workload)
    val ops = wl.ops
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var spark = session(c, c.cores)

    // 1. check pass
    log(s"session up ${(now() - jvmStart) / 1e3} s after JVM start")
    val verify = new File(s"${c.work}/verify")
    val first = ops.map { op =>
      val dir = new File(verify, op.name)
      runOp(spark, c, op, Some(dir), None)
    }
    val manifest = first.zip(ops).map { case (r, op) =>
      op.name -> obj(Seq("kind" -> js(op.kind), "arg" -> js(op.arg),
        "dir" -> js(new File(verify, op.name).getPath), "ok" -> r.ok.toString,
        "rows" -> r.rows.toString, "err" -> js(r.err),
        "oracle" -> SparkEntry.oracleSql.get(op.name).map(js).getOrElse("null")))
    }
    val a = now()
    println("@@VERIFY " + obj(manifest))
    System.out.flush()
    val verdict = Option(stdin.readLine()).getOrElse("")
    // outside set-up: DuckDB, and the check pass's query writes for the
    // oracle with their read-back
    val checkMs = now() - a + first.zip(ops).collect {
      case (r, op) if op.kind == "entry" => r.action._2 - r.action._1
    }.sum
    val failedByOracle = verdict.stripPrefix("@@VERDICT").trim.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet ++ first.filterNot(_.ok).map(_.op)
    var expected = first.filter(_.ok).map(r => r.op -> r.digest).toMap
    if (c.plant) {
      // planted wrong expectation: the benchmark's own check that a
      // digest mismatch is counted as a failure
      val victim = ops.head.name
      expected = expected.updated(victim, "planted-" + expected.getOrElse(victim, ""))
    }

    log(s"checks ${checkMs / 1e3} s")
    // 2. warm-up
    (1 to wl.warmup).foreach { p =>
      log(s"warm-up pass $p")
      order(ops, c.seed, p).foreach(op => runOp(spark, c, op, None, None))
    }
    val firstTimed = now()
    val setupS = (firstTimed - jvmStart - checkMs) / 1e3

    // 3. timed window(s). A traced run alternates untraced and traced
    // passes, so warm-up drift and machine load fall on both alike.
    val layers = new Layers(c.cores)
    val (plain, traced) =
      if (!c.trace) (window(spark, c, ops, expected, failedByOracle, 1 + wl.warmup,
        c.seconds, None), None)
      else {
        val ps, ts = mutable.ArrayBuffer.empty[Window]
        var pass = 1 + wl.warmup
        while (ps.map(_.wall).sum < c.seconds || ts.map(_.wall).sum < c.seconds) {
          if (ps.size <= ts.size)
            ps += window(spark, c, ops, expected, failedByOracle, pass, 0, None)
          else {
            val rec = Recorder.attach(spark)
            ts += window(spark, c, ops, expected, failedByOracle, pass, 0, Some(rec),
              r => layers.add(r, rec))
            Recorder.detach(spark, rec)
          }
          pass += 1
        }
        (merge(ps.toSeq), Some(merge(ts.toSeq)))
      }
    val fields = mutable.ArrayBuffer[(String, String)](
      "setup_s" -> num(setupS), "check_ms" -> num(checkMs),
      "heap_live_mb" -> num(liveHeapMb()), "samples" -> samples(plain),
      "passes" -> plain.passes.map(p => obj(Seq("ops" -> p.ops.toString,
        "wall_s" -> num(p.wall), "cpu_s" -> num(p.cpu), "jit_s" -> num(p.jit),
        "rows" -> p.rows.toString)))
        .mkString("[", ", ", "]"),
      "spark" -> js(spark.version), "java" -> js(System.getProperty("java.version")),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1e6),
      "storage_mb" -> num(spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6),
      "all_ops" -> Workloads.values.flatMap(_.ops).map(o => js(o.name)).mkString("[", ", ", "]"))

    traced.foreach { tw =>
      // single-thread baseline: one pass on local[1] over the same ops
      spark.stop()
      spark = session(c, 1)
      val single = order(ops, c.seed, 5000).map(op => runOp(spark, c, op, None, None))
      val plainP50 = plain.results.groupBy(_.op).map { case (k, v) => k -> median(v.map(_.latency)) }
      val speedup = single.map(_.latency).sum / single.map(r => plainP50.getOrElse(r.op, 0.0)).sum
      fields += "layers" -> layers.json(tw, plain, speedup)
      layers.writeSpans(s"${c.work}/spans.json")
    }
    spark.stop()
    println("@@RESULT " + obj(fields.toSeq))
    System.out.flush()
  }
}
