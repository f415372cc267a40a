package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.sources.LogStore

/** The one table-log publish primitive, asserted directly: exclusive
  * and replacing publishes under concurrent writers, cleanup after a
  * failed write, the scheme branch over a Hadoop FileSystem, and that
  * no other main source makes its own atomicity decision.
  */
class LogStoreSpec extends SparkSpec {

  /** `n` threads released at once, each running `body(i)`. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = { gate.await(); body(i) }
        })
      }
      gate.countDown()
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** 64 KiB of writer `i`'s byte: a torn or mixed file shows. */
  private def payload(i: Int): Array[Byte] = Array.fill(1 << 16)(i.toByte)

  private def names(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("eight exclusive publishes to one target: one wins, its bytes land, no temp file") {
    val dir = Paths.get(scratchDir("graft_ls_excl"))
    val target = dir.resolve("00000000000000000000.json")
    val won = race(8)(i => LogStore.publish(target.toString, exclusive = true)(_.write(payload(i))))
    assert(won.count(identity) == 1, won)
    assert(Files.readAllBytes(target).sameElements(payload(won.indexOf(true))))
    assert(names(dir) == Set(target.getFileName.toString))
  }

  test("concurrent replaces leave one writer's complete bytes and no temp file") {
    val dir = Paths.get(scratchDir("graft_ls_repl"))
    val target = dir.resolve("_last_checkpoint")
    race(8) { i =>
      (0 until 5).foreach { _ =>
        assert(LogStore.publish(target.toString, exclusive = false)(_.write(payload(i))))
      }
    }
    val got = Files.readAllBytes(target)
    assert((0 until 8).exists(i => got.sameElements(payload(i))))
    assert(names(dir) == Set("_last_checkpoint"))
  }

  test("a write that throws leaves no target and no temp file") {
    val dir = Paths.get(scratchDir("graft_ls_fail"))
    Seq(true, false).foreach { exclusive =>
      val e = intercept[IllegalStateException] {
        LogStore.publish(dir.resolve("v1.metadata.json").toString, exclusive) { o =>
          o.write(payload(1))
          throw new IllegalStateException("writer died")
        }
      }
      assert(e.getMessage == "writer died")
      assert(names(dir).isEmpty, s"exclusive=$exclusive")
    }
  }

  test("a scheme path goes through its Hadoop FileSystem: list, exists, read, exclusive publish") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    try {
      val dir = scratchDir("graft_ls_m3")
      val log = s"mock3a://bucket$dir/_delta_log"
      val commit = s"$log/00000000000000000000.json"
      assert(LogStore.list(log).isEmpty && !LogStore.exists(commit))
      assert(LogStore.publish(commit, exclusive = true)(_.write(payload(1))))
      assert(LogStore.list(log) == Seq("00000000000000000000.json"))
      assert(LogStore.exists(commit))
      assert(LogStore.read(commit).sameElements(payload(1)))
      // an existing key is refused and keeps its bytes
      assert(!LogStore.publish(commit, exclusive = true)(_.write(payload(2))))
      assert(LogStore.read(commit).sameElements(payload(1)))
      assert(Files.readAllBytes(Paths.get(dir, "_delta_log", "00000000000000000000.json"))
        .sameElements(payload(1)))
      intercept[IllegalArgumentException] {
        LogStore.publish(s"$log/_last_checkpoint", exclusive = false)(_.write(payload(3)))
      }
    } finally hc.unset("fs.mock3a.impl")
  }

  test("racing Delta exports to one empty target: exactly one publishes version 0") {
    import spark.implicits._
    val snap = scratchDir("graft_ls_snap")
    graft.sources.SnapshotTable.commit(spark, snap, (0L until 10L).toDF("k"))
    val out = Paths.get(scratchDir("graft_ls_dexp"))
    val outcomes = race(4) { _ =>
      try { graft.sources.DeltaExport.export(spark, snap, out.toString, copy = false); "ok" }
      catch {
        case _: IllegalArgumentException => "not empty"
        case _: IllegalStateException => "lost version 0"
      }
    }
    assert(outcomes.count(_ == "ok") == 1, outcomes)
    assert(names(out.resolve("_delta_log")) == Set("00000000000000000000.json"))
  }

  test("no main source but LogStore links or atomically moves a file") {
    val main = Paths.get(sys.props("user.dir"), "src", "main")
    val st = Files.walk(main)
    val offenders =
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "LogStore.scala")
        .filter { p =>
          val text = new String(Files.readAllBytes(p), "UTF-8")
          text.contains("Files.createLink") || text.contains("ATOMIC_MOVE")
        }
        .map(main.relativize(_).toString).toList
      finally st.close()
    assert(offenders.isEmpty,
      s"log publishes belong in graft.sources.LogStore: ${offenders.mkString(", ")}")
  }
}
