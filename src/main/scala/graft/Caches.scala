package graft

import org.apache.spark.sql.DataFrame

/** Explicit lifecycle for per-query caches. Operators that cache an
  * intermediate (Dedup's hashed feature sets, Ann's normed corpus)
  * register it here; long-lived sessions that run many queries
  * back-to-back (Bench, Verify) call `clear()` between queries so
  * cached corpora don't accumulate in executor storage memory. A
  * single interactive query can skip `clear()` — Spark's LRU eviction
  * handles one query's worth of cache.
  */
object Caches {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** The frames `track` newly cached on this thread inside the
    * innermost [[releasing]] block. */
  private val scoped = new ThreadLocal[List[DataFrame]]

  /** Cache `df` and register it for the next `clear()`, and for the
    * enclosing [[releasing]] block's release unless its plan was
    * already cached (a caller's own cache of the same plan stays). */
  private[graft] def track(df: DataFrame): DataFrame = {
    val fresh = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached = df.cache()
    live.add(cached)
    val mine = scoped.get
    if (fresh && mine != null) scoped.set(cached :: mine)
    cached
  }

  /** Run `body`, then unpersist (non-blocking) exactly the caches
    * `track` registered on this thread inside it — never another
    * query's or the caller's. An operator that caches per step of a
    * loop releases each step's caches this way instead of `clear()`. */
  private[graft] def releasing[T](body: => T): T = {
    val outer = scoped.get
    scoped.set(Nil)
    try body
    finally {
      scoped.get.foreach { df =>
        live.remove(df)
        df.unpersist(blocking = false)
      }
      scoped.set(outer)
    }
  }

  /** Globally sort `df` without executing its pipeline twice: a
    * range exchange computes its partition bounds with a SEPARATE
    * sampling job over the child, so every narrow stage below an
    * `orderBy` — codec decode, candidate verify, similarity compute —
    * runs once for the sample and again for the real shuffle.
    * Materializing the child first turns the sampling job into a
    * cache read. Use whenever the pre-sort chain is CPU-heavy; the
    * cache is tracked, so Bench/Verify release it between queries.
    * (At cluster scale the same trade holds — Spark caches spill to
    * executor disk — but a 100 TB pipeline would normally persist the
    * unsorted result and sort on read instead.)
    */
  private[graft] def ordered(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame =
    track(df).orderBy(cols: _*)

  /** Unpersist every tracked cache (non-blocking). */
  def clear(): Unit = {
    var df = live.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = live.poll()
    }
  }
}
