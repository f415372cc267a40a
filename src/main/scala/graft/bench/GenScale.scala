package graft.bench
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BuildOnce, Tables}

/** Builds the 10× scale-proxy dataset (default `.data/sf1`) from
  * sf0.1 for the scaling-exponent measurement (Bench's `sf1`
  * section). Only the tables the heavy queries consume are scaled:
  * documents (d4/d6), embeddings (d5/s3), part (g6's tile universe).
  *
  * Replication preserves WITHIN-replica similarity structure exactly
  * and decorrelates replicas, so candidate/pair counts scale ~10×
  * (linearly), not quadratically in spurious cross-replica matches:
  *
  *  - documents: replica k applies a per-replica character bijection
  *    (letters rotate by 7k mod 26 case-preserving, digits by k) —
  *    a bijection on chars is a bijection on char-4-grams and words,
  *    so every within-replica Jaccard / span structure is preserved
  *    bit-for-bit, while cross-replica grams are disjoint except
  *    letterless/digitless grams.
  *  - embeddings: replica k applies a fixed dimension permutation +
  *    sign flips (an orthogonal transform): within-replica cosines
  *    are EXACTLY preserved; cross-replica cosines decorrelate.
  *  - part: keys shift by k·stride; tile coords are functions of the
  *    key, so the tile universe grows 10× with the same density.
  *
  * Replica 0 is the identity — sf0.1 is a subset of the output.
  * Generation is fully distributed (N unioned selects, no driver
  * data) and build-once through [[graft.BuildOnce]]: the stamp carries
  * the cipher-version tag and the replica count, and the source
  * tables' fingerprint, so a dir built by an older generator or from
  * other testdata rebuilds.
  *
  * `replicas` defaults to 10 (the sf1 proxy); Bench's sf10 section
  * passes 100 for the second scale decade. The per-replica bijection
  * is a SEEDED RANDOM PERMUTATION of the letter and digit alphabets
  * (case-preserving) — NOT a rotation. The original rotation cipher
  * had period 26 for letters, so for digit-free texts replicas k and
  * k+26 were bit-identical: at 100 replicas the corpus silently
  * carried 74% exact-duplicate rows (measured on the first sf10
  * build), which quadratically inflated every dedup query's pair
  * counts and poisoned the measured exponents. Random permutations
  * draw from a 26!-sized family: two replicas sharing a letter
  * mapping is negligible at any replica count, and cross-replica
  * grams collide only when the permutations agree on every char of
  * the gram.
  */
object GenScale {
  val Replicas = 10
  val Stride = 1000000L

  /** Marker tag: bump to invalidate proxy dirs built by an older
    * generator (counts alone can't tell the ciphers apart).
    */
  val CipherTag = "cipher=perm-v2"

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private val Digits = "0123456789"

  /** Per-replica character bijection via `translate` (codegen'd):
    * replica 0 is the identity; replica k>0 applies a seeded random
    * permutation of letters (same permutation upper-cased, so case
    * structure is preserved) and of digits.
    */
  private def cipher(text: org.apache.spark.sql.Column, k: Int) =
    if (k == 0) text
    else {
      val rng = new scala.util.Random(9000 + k)
      val lowerPerm = rng.shuffle(Lower.toList).mkString
      val digitPerm = rng.shuffle(Digits.toList).mkString
      translate(text, Lower + Upper + Digits,
        lowerPerm + lowerPerm.toUpperCase + digitPerm)
    }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/.data/sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(Replicas)
    val ownSession = SparkSession.getActiveSession.isEmpty
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, srcDir, outDir, replicas)
    if (ownSession) spark.stop() // don't kill a caller's session (Bench)
  }

  /** Build the scale dataset with the caller's session; no-op if it
    * is already built by this generator from these source tables.
    */
  def build(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int = Replicas): Unit = {
    require(replicas > 0 && replicas < 130,
      s"replicas must be in (0, 130) for distinct ciphers, got $replicas")
    BuildOnce.ensure(spark, outDir, s"genscale $CipherTag replicas=$replicas",
      Seq("documents", "embeddings", "part").map(t => s"$srcDir/$t.parquet")) { out =>
      write(spark, srcDir, out, replicas)
      println(s"[genscale] wrote $out")
    }
  }

  private def write(spark: SparkSession, srcDir: String, outDir: String, replicas: Int): Unit = {
    def replicate(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(k => f(base, k)).reduce(_.unionAll(_))

    val docs = replicate(Tables.documents(spark, srcDir)) { (d, k) =>
      d.select((col("doc_id") + k * Stride).as("doc_id"),
        cipher(col("text"), k).as("text"), col("lang"), col("source"), col("n_chars"))
    }

    val dim = 64
    val embBase = Tables.embeddings(spark, srcDir)
    val emb = replicate(embBase) { (e, k) =>
      if (k == 0) e
      else {
        val rng = new scala.util.Random(1000 + k)
        val perm = rng.shuffle((0 until dim).toList).toArray
        val sign = Array.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
        val transformed = array((0 until dim).map(i =>
          (element_at(col("embedding"), perm(i) + 1) * sign(i)).cast("float")): _*)
        e.select((col("vec_id") + k * Stride).as("vec_id"),
          transformed.as("embedding"), col("label"))
      }
    }

    val part = replicate(Tables.part(spark, srcDir)) { (p, k) =>
      p.withColumn("p_partkey", col("p_partkey") + k * Stride)
    }

    docs.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    emb.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    part.write.mode("overwrite").parquet(s"$outDir/part.parquet")
  }

  /** Synthetic hot user for the skewed variant — a value outside the
    * natural id range, playing the "null-like default key" role the
    * saltedJoin Scaladoc warns about.
    */
  val HotUser = -1L

  /** Opt-in SKEWED scale variant (SURVEY.md §6): events replicated
    * `replicas`× (ids shifted per replica, as in `build`), then every
    * 5th event reassigned to one hot user — so one key owns exactly
    * 20% of the fact table. The source corpus has no natural skew
    * (top user ≈ 0.1% of rows), so salted-vs-plain join behavior can
    * only be MEASURED on this. Also writes the matching `users` dim
    * (distinct user_id + derived segment) so the join under test reads
    * both sides from parquet, keeping dim construction out of the
    * measurement.
    */
  def buildSkewedEvents(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit =
    BuildOnce.ensure(spark, outDir, s"skewed-events replicas=$replicas",
        Seq(s"$srcDir/events.parquet")) { out =>
      val base = Tables.events(spark, srcDir)
      val ev = (0 until replicas).map { k =>
        base.select((col("event_id") + k * Stride).as("event_id"), col("ts"),
          (col("user_id") + k * Stride).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_.unionAll(_))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(5)) === 0, lit(HotUser)).otherwise(col("user_id")))
      ev.write.mode("overwrite").parquet(s"$out/events.parquet")
      spark.read.parquet(s"$out/events.parquet")
        .select("user_id").distinct()
        .withColumn("segment", pmod(col("user_id"), lit(1000)).cast("int"))
        .write.mode("overwrite").parquet(s"$out/users.parquet")
      println(s"[genscale] wrote $out")
    }
}
