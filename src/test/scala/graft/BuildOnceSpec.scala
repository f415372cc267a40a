package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import graft.operators.Ann

/** The build-once gate: what makes an output fresh, what rebuilds it,
  * and what a fresh check costs — through the gate itself and through
  * the ANN indexes and tables that use it.
  */
class BuildOnceSpec extends SparkSpec {

  /** A private copy of `table` from the suite corpus under a fresh
    * scratch dir, so an index keyed by that dir is this test's alone. */
  private def corpusCopy(prefix: String, table: String): String = {
    val dir = scratchDir(prefix)
    Files.copy(Paths.get(Sf, s"$table.parquet"), Paths.get(dir, s"$table.parquet"))
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

  test("a fresh check starts no Spark job; a new tag or a failed build rebuilds") {
    val dir = scratchDir("graft_bo")
    spark.range(10).write.parquet(s"$dir/src.parquet")
    var builds = 0
    def ensure(tag: String, fail: Boolean = false) =
      BuildOnce.ensure(spark, s"$dir/out", tag, Seq(s"$dir/src.parquet")) { out =>
        builds += 1
        spark.range(3).write.parquet(s"$out/data")
        if (fail) throw new RuntimeException("killed mid-build")
      }
    ensure("t v1")
    val (path, jobs) = withJobCount(ensure("t v1"))
    assert(path == s"$dir/out" && builds == 1 && jobs == 0)
    ensure("t v2")
    assert(builds == 2)
    // a build that dies leaves no marker, so the next call starts over
    intercept[RuntimeException](ensure("t v3", fail = true))
    assert(!Files.exists(Paths.get(dir, "out", BuildOnce.Marker)))
    ensure("t v3")
    assert(builds == 4 && spark.read.parquet(s"$dir/out/data").count() == 3)
  }

  test("fresh holds after a build and fails for a new tag or a touched source") {
    val dir = scratchDir("graft_bo_fresh")
    val src = Paths.get(dir, "src.parquet")
    spark.range(10).coalesce(1).write.parquet(src.toString)
    val srcs = Seq(src.toString)
    val out = s"$dir/out"
    assert(!BuildOnce.fresh(spark, out, "t v1", srcs))
    BuildOnce.ensure(spark, out, "t v1", srcs)(o => spark.range(3).write.parquet(s"$o/data"))
    assert(BuildOnce.fresh(spark, out, "t v1", srcs))
    assert(!BuildOnce.fresh(spark, out, "t v2", srcs))
    val part = Files.list(src).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis + 10000))
    assert(!BuildOnce.fresh(spark, out, "t v1", srcs))
  }

  test("an index deleted mid-JVM is rebuilt, not handed back as a stale path") {
    val dir = corpusCopy("graft_bo_ivf", "embeddings")
    val first = rows(Ann.ivfTopKAuto(spark, dir))
    graft.geo.Fixtures.deleteRecursively(new java.io.File(graft.geo.Fixtures.fixtureRoot("ivf", dir)))
    assert(rows(Ann.ivfTopKAuto(spark, dir)) == first && first.nonEmpty)
  }

  test("a corpus rewritten with the same row count rebuilds the PQ index") {
    val dir = corpusCopy("graft_bo_pq", "embeddings")
    Ann.pqTopK(spark, dir).collect() // its build leaves the old corpus cached
    // same rows, same count: each vec_id takes its successor's vector
    val src = Paths.get(dir, "embeddings.parquet")
    val old = spark.read.parquet(src.toString)
    val e = old.collect()
    val at = old.schema.fieldIndex("embedding")
    val shifted = spark.createDataFrame(spark.sparkContext.parallelize(
      e.indices.map(i => Row.fromSeq(e(i).toSeq.updated(at, e((i + 1) % e.length).get(at)))), 1),
      old.schema)
    // the reference index reads the new corpus under a path no cache holds
    val ref = scratchDir("graft_bo_pq_ref")
    shifted.write.parquet(s"$ref/embeddings.parquet")
    shifted.write.parquet(s"$dir/next")
    Files.delete(src)
    Files.move(Paths.get(dir, "next"), src)
    val got = rows(Ann.pqTopK(spark, dir))
    val fresh = s"$ref/index"
    Ann.buildPqIndex(spark, ref, fresh)
    val codes = (p: String) => spark.read.parquet(s"$p/codes").collect().map(_.toSeq).toSet
    assert(codes(graft.geo.Fixtures.fixtureRoot("pq", dir)) == codes(fresh))
    assert(got == rows(Ann.pqTopKIndexed(spark, ref, fresh)))
  }

  test("a torn PQ build (no marker, corrupt codes) is rebuilt instead of failing") {
    val dir = corpusCopy("graft_bo_torn", "embeddings")
    val first = rows(Ann.pqTopK(spark, dir))
    val idx = graft.geo.Fixtures.fixtureRoot("pq", dir)
    Files.delete(Paths.get(idx, BuildOnce.Marker))
    Files.walk(Paths.get(idx, "codes")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.write(p, "torn".getBytes("UTF-8")))
    assert(rows(Ann.pqTopK(spark, dir)) == first && first.nonEmpty)
  }

  test("a source on another Hadoop file system is fingerprinted and its change rebuilds") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    try {
      val dir = scratchDir("graft_bo_m3")
      val src = Paths.get(dir, "src.bin")
      Files.write(src, Array[Byte](1, 2, 3))
      val remote = s"mock3a://bucket$dir"
      var builds = 0
      def ensure() =
        BuildOnce.ensure(spark, s"$remote/out", "m v1", Seq(s"$remote/src.bin"))(_ => builds += 1)
      ensure()
      ensure()
      assert(builds == 1)
      assert(BuildOnce.fingerprint(spark, Seq(s"$remote/src.bin")).startsWith(s"$remote/src.bin 3 "))
      Files.write(src, Array[Byte](1, 2, 3, 4))
      ensure()
      assert(builds == 2 && Files.exists(Paths.get(dir, "out", BuildOnce.Marker)))
    } finally hc.unset("fs.mock3a.impl")
  }

  test("Tables reads a table rewritten in the JVM with its new schema") {
    val dir = scratchDir("graft_bo_tbl")
    val part = spark.read.parquet(s"$Sf/part.parquet")
    part.coalesce(1).write.parquet(s"$dir/part.parquet")
    assert(Tables.part(spark, dir).columns.toSeq == part.columns.toSeq)
    part.withColumn("p_extra", lit(1)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(Tables.part(spark, dir).columns.toSeq == part.columns.toSeq :+ "p_extra")
  }

  test("a cached frame over a table rewritten with the same schema and row count is not served") {
    val dir = scratchDir("graft_bo_cached")
    val t = s"$dir/t.parquet"
    spark.range(10).withColumn("v", lit("old")).coalesce(1).write.parquet(t)
    try {
      val cached = Caches.track(Tables.parquet(spark, t))
      assert(cached.filter("v = 'old'").count() == 10)
      // rewritten by another writer: Spark's own overwrite would
      // refresh the path's caches itself
      spark.range(10).withColumn("v", lit("new")).coalesce(1).write.parquet(s"$dir/next")
      graft.geo.Fixtures.deleteRecursively(new java.io.File(t))
      Files.move(Paths.get(dir, "next"), Paths.get(t))
      assert(rows(Tables.parquet(spark, t).select("v").distinct()) == Seq(Seq("new")))
    } finally Caches.clear()
  }
}
