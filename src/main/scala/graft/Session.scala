package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExtensions

/** The one way graft builds a session, so a probed, verified, tested
  * and benched plan are the same plan. Every session gets:
  *  - `GraftExtensions` (graft's SQL functions, optimizer rule and
  *    join strategies) without a `register` call;
  *  - `local[cpus]` with shuffle partitions equal to cpus;
  *  - the UTC session time zone;
  *  - `Tables.NanosConf` (events.parquet has TIMESTAMP(NANOS));
  *  - no UI;
  *  - `maxToStringFields=2000`, so wide (m-family) schemas print in
  *    plans without truncation warnings.
  *
  * To A/B a key this does not set, pass it as a `-Dspark.…` JVM
  * property: SparkConf reads those.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A builder carrying the settings above; callers may add their own
    * before `getOrCreate()`.
    */
  def builder(cpus: Int = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf._1, Tables.NanosConf._2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "2000")

  /** `builder(cpus).getOrCreate()`. */
  def local(cpus: Int = Session.cpus): SparkSession = builder(cpus).getOrCreate()
}
