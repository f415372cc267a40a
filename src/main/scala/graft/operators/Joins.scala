package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join strategies for the shapes AQE alone doesn't fix (SURVEY.md §6). */
object Joins {

  /** Salted equi-join for skewed keys: the big (skewed) side gets a
    * per-row salt in [0, salt), the small side is replicated once per
    * salt value, and the join key becomes (key, salt) — a hot key's
    * rows spread over `salt` reducers instead of one. Result is
    * row-identical to the plain equi-join (asserted in JoinsSpec).
    * Use when a known hot key defeats AQE's skew split (e.g. the
    * null-like default key of a fact table).
    *
    * The salt is DETERMINISTIC (a hash of data columns) on purpose: a
    * non-deterministic salt (rand(), monotonically_increasing_id())
    * is a correctness hazard at scale — on a partial stage retry the
    * recomputed rows draw NEW salts while already-fetched shuffle
    * blocks keep the old ones, so rows can duplicate or vanish (the
    * classic nondeterministic-repartition-key failure). `saltCols`
    * names the row-distinguishing columns to hash (with `key`);
    * default = every column, which is always correct but widens the
    * scan to the full row — on the skewed events (SURVEY.md §6) the
    * 2-column events scan grew to all 6 (props included) under the
    * default, so pass one narrow unique column (an id) when the
    * table has one.
    * Rows identical across (key ++ saltCols) share a salt; that only
    * defeats spreading if the hot key's rows are near-all duplicates.
    */
  def saltedJoin(skewed: DataFrame, small: DataFrame, key: String,
      salt: Int = 16, saltCols: Seq[String] = Nil): DataFrame = {
    val hashed = (key +: (if (saltCols.nonEmpty) saltCols else skewed.columns.toSeq.diff(Seq(key))))
      .distinct.map(col)
    val l = skewed.withColumn("_salt",
      pmod(xxhash64(hashed: _*), lit(salt)).cast("int"))
    // spread the dim BEFORE exploding: a small dim often arrives as
    // 1-2 input splits, and without this those tasks generate and
    // shuffle-write ALL salt x |small| replicated rows — a straggler
    // measured at the same cost as the skew being fixed (SURVEY.md
    // §6). The extra exchange moves only the pre-replication rows.
    val r = small.repartition(salt).withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** Bucketed co-located join setup: write both sides bucketed by the
    * join key into the session catalog; joining the returned tables
    * on that key needs NO shuffle (both sides' bucketing satisfies
    * the join's distribution requirement — asserted on the plan in
    * JoinsSpec). This is the 100 TB fact-fact join layout: pay the
    * shuffle once at write time, never per query.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$table")
      .saveAsTable(table)
}
