package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic star schema
  * (/root/testdata/sf*). One parquet file per table; Catalyst handles
  * column pruning + predicate pushdown at the scan, so loaders stay
  * projection-free.
  */
object Tables {

  /** Required on every session: events.parquet stores TIMESTAMP(NANOS)
    * which Spark's parquet reader only accepts as int64.
    */
  val NanosConf: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Schema-inference cache, keyed by the tables'
    * [[BuildOnce.fingerprint]] (their files' paths, lengths and mtimes).
    * A schema-less `spark.read.parquet` runs a footer-read JOB at
    * DataFrame construction; with the cache the footer is read once per
    * version of a table and every later construction is job-free
    * (matters to Bench, which rebuilds each query's frame per run, and
    * to the no-eager-job guarantee DedupSpec asserts), while a table
    * rewritten in the JVM is read with its new schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Each path's fingerprint at its last read here. */
  private val lastRead = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The parquet table(s) at `paths`, their schema read once per
    * version. A path whose fingerprint changed since its last read here
    * (or that is read here for the first time) is refreshed first:
    * Spark's cache matches a cached scan by path, so a cached frame over
    * a rewritten table would otherwise keep serving its old rows.
    */
  private[graft] def parquet(s: SparkSession, paths: String*): DataFrame = {
    val prints = paths.map(p => p -> BuildOnce.fingerprint(s, Seq(p)))
    prints.foreach { case (p, fp) =>
      if (lastRead.put(p, fp) != fp) s.catalog.refreshByPath(p)
    }
    // keyed by every path's listing, as BuildOnce.fingerprint(s, paths)
    val sch = schemaCache.computeIfAbsent(prints.map(_._2).mkString("\n"),
      _ => s.read.parquet(paths: _*).schema)
    s.read.schema(sch).parquet(paths: _*)
  }
  def region(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = parquet(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/lineitem.parquet")
  /** events.ts normalization — the loader owns the physical-type
    * contract so a testdata regeneration can never break an operator.
    * Three parquet encodings are accepted, all normalized to
    * session-zoned TimestampType (`timestamp`):
    *   - int64 TIMESTAMP(NANOS) (with NanosConf set it arrives as
    *     LongType nanos) → floor-converted to micros (integer `div`,
    *     no double roundoff);
    *   - timestamp[us] WITHOUT timezone (TIMESTAMP_NTZ) → cast to
    *     TimestampType — the session is UTC, so wall-clock values are
    *     identical and every oracle comparison is unchanged;
    *   - timestamp[us] WITH timezone (TimestampType) → passthrough.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = parquet(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  /** documents/embeddings physical-type contracts — the same
    * loader-owned normalization discipline as [[events]] (the r6
    * lesson: a driver testdata regeneration changed a physical type
    * and broke an operator; the loader, not each query, owns the
    * mapping). `doc_id`/`n_chars`/`vec_id` normalize to LongType if a
    * regeneration ships int32; `embedding` normalizes to
    * array<float> if it ships doubles (the FloatDot/MinHash kernels
    * and every Encoder-typed spec require floats). All no-ops on the
    * current testdata.
    */
  def documents(s: SparkSession, dir: String): DataFrame = {
    val raw = parquet(s, s"$dir/documents.parquet")
    Seq("doc_id", "n_chars").foldLeft(raw) { (df, c) =>
      if (df.schema(c).dataType == IntegerType) df.withColumn(c, col(c).cast(LongType))
      else df
    }
  }
  def embeddings(s: SparkSession, dir: String): DataFrame = {
    val raw = parquet(s, s"$dir/embeddings.parquet")
    val idFixed =
      if (raw.schema("vec_id").dataType == IntegerType)
        raw.withColumn("vec_id", col("vec_id").cast(LongType))
      else raw
    idFixed.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        idFixed.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => idFixed
    }
  }
}
