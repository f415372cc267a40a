package graft

/** Single-query fresh-PROCESS benchmark child: `BenchOne <dir> <query>`
  * builds a session, pays an untimed warm read + one untimed warm run
  * of the query (JIT/codegen warmup — the subset-run protocol every
  * prior round's "isolated" numbers used), then times one run and
  * prints `BENCHONE <query> <sec>`.
  *
  * Why a separate PROCESS: r9 measured g6 at sf10 taking ~46 s late in
  * the full bench even in a freshly rebuilt SparkSession with a 1 GiB
  * code cache, vs ~5 s in a fresh JVM on the same data — after
  * hundreds of distinct whole-stage-codegen classes have trained the
  * JIT's call-site profiles, core iterator loops compile megamorphic
  * and stay that way for the JVM's lifetime. No in-process reset
  * exists; the honest standalone cost requires a new JVM.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    // tmpfs shuffle/spill when available (BenchLocal — the child
    // pays ~18 GB of shuffle+spill writes per query at the 100x
    // proxy; on the sandbox's virtio disk that made fresh-run times
    // writeback-bound with a 1.3-3.4x spread)
    val spark = BenchLocal.configure(Session.builder()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    try spark.read.parquet(s"$dir/documents.parquet").count()
    catch { case _: Exception => () }
    // one untimed warm run: JIT + codegen + page cache
    val w0 = System.nanoTime()
    try { fn(spark, dir).count() } catch { case _: Exception => () }
    val warmSec = (System.nanoTime() - w0) / 1e9
    Caches.clear()
    System.gc()
    val r = org.apache.spark.sql.graft.Trace.run(spark)(fn(spark, dir))
    def mb(bytes: Long): Double = math.rint(bytes / 1e6 * 10) / 10
    // marker line the parent greps from child stdout; gc_sec rides
    // along so a parent (or a human) can tell a GC-bound run from a
    // plan regression without re-running under -Xlog:gc. fx = fixture
    // seconds inside the TIMED run (the warm run absorbs any build;
    // nonzero here means the fixture path leaked into the number),
    // local = the shuffle/spill dir actually configured. spilld/
    // spillm/shufw (MB, timed run only) + xmx: the r15 driver/builder
    // split was on spill-heavy rows and nothing in the row could name
    // heap or spill as the axis — now every fresh primary carries both.
    println(s"BENCHONE $name ${r.sec} gc=${r.gcSec} warm=$warmSec " +
      s"fx=${r.fixtureSec} " +
      s"local=${spark.conf.get("spark.local.dir", "spark-default")} " +
      s"spilld=${mb(r.spillDiskBytes)} spillm=${mb(r.spillMemBytes)} " +
      s"shufw=${mb(r.shuffleWriteBytes)} xmx=${Runtime.getRuntime.maxMemory}")
    spark.stop()
  }
}
