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
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.BenchMetricsListener.drainBus(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graft.BenchMetricsListener.drainBus(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
