package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (getOrCreate reuses one JVM-wide
  * session across suites in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(cpus = 8)

  val Sf = "/root/testdata/sf0.001"

  /** Scratch dir under the build's target/ (inside the repo, never
    * the system temp dir).
    */
  def scratchDir(prefix: String): String = {
    val base = java.nio.file.Paths.get(sys.props("user.dir"), "target", "test-scratch")
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def withJobCount[T](body: => T): (T, Int) = {
    val (r, jobs) = withJobs(body)
    (r, jobs.size)
  }

  /** `body`'s result and the jobs started while it ran, each named by
    * its stages. */
  def withJobs[T](body: => T): (T, Seq[String]) = {
    val (r, t) = org.apache.spark.sql.graft.Trace.during(spark)(body)
    (r, t.jobs)
  }
}
