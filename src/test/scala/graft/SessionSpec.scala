package graft

/** The session factory's contract: what every graft session carries
  * without the caller restating it.
  */
class SessionSpec extends SparkSpec {

  test("a Session-built session resolves graft SQL, reads nanos, runs UTC with one shuffle partition per cpu") {
    // newSession(): same extensions and SparkConf, but a function
    // registry no suite's GraftExtensions.register call has touched
    val s = spark.newSession()
    val row = s.sql(
      "SELECT float_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
        "jaccard_sets(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j").head()
    assert(row.getAs[Double]("d") == 11.0)
    assert(math.abs(row.getAs[Double]("j") - 0.5) < 1e-12)
    assert(s.conf.get(Tables.NanosConf._1) == Tables.NanosConf._2)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    val cpus = s.sparkContext.defaultParallelism
    assert(s.sparkContext.master == s"local[$cpus]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
  }
}
