package graft

/** Process-wide accumulator for wall time spent ENSURING on-disk
  * fixtures (freshness checks and builds) as
  * opposed to executing the query under measurement.
  *
  * Why it exists (r14 VERDICT "what's wrong" #2): the driver's bench
  * artifact showed stable 8-22x inflation on a handful of
  * fixture-backed queries (g12 6.16 s vs 0.27 s across all three
  * raws) with a 1.05 median elsewhere, and nothing in the artifact
  * could say whether the time went into the query's plan or into
  * fixture (re)construction. Bench snapshots [[totalNanos]] around
  * every timed run and publishes the per-query delta as
  * `fixture_sec`, so a fixture-dominated row self-explains.
  *
  * Accounting is OUTERMOST-only per thread (a ThreadLocal depth
  * guard): nested ensure calls (ensureIcebergStress ->
  * ensureDeltaStress, each a [[BuildOnce.ensure]]) must not
  * double-count.
  * Fixture ensures run on the query-construction (driver) thread, so
  * a single atomic accumulator is sufficient and cross-thread races
  * only ever under-attribute, never corrupt.
  */
object FixtureTimer {
  private val acc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  def timed[T](body: => T): T = {
    val d: Int = depth.get
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try body
    finally {
      depth.set(d)
      if (d == 0) acc.addAndGet(System.nanoTime() - t0): Unit
    }
  }

  /** Total fixture-ensure nanos accumulated so far this JVM. */
  def totalNanos: Long = acc.get
}
