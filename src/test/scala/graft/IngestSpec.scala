package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.operators.Ingest

/** In-flight concurrency probe shared across tasks (local mode = one
  * JVM, so statics are executor-visible).
  */
object FetchProbe {
  val cur = new AtomicInteger(0)
  val max = new AtomicInteger(0)
  val calls = new AtomicInteger(0)
  def reset(): Unit = { cur.set(0); max.set(0); calls.set(0) }
  def enter(): Unit = {
    val c = cur.incrementAndGet()
    max.accumulateAndGet(c, Math.max(_, _))
  }
  def exit(): Unit = cur.decrementAndGet()
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("the JSON escape writes quote, backslash and control characters as JSON does") {
    assert(graft.sources.Json.jesc("a\"b\\c\nd\u0001e") == "a\\\"b\\\\c\\nd\\u0001e")
  }

  test("fetch bounds in-flight concurrency to maxConcurrent") {
    FetchProbe.reset()
    val manifest = (1 to 64).map(i => s"key_$i").toDF("k")
    val out = Ingest.fetch(manifest, "k", maxConcurrent = 3) { k =>
      FetchProbe.enter()
      try { Thread.sleep(20); k.getBytes("UTF-8") }
      finally FetchProbe.exit()
    }
    val rows = out.collect()
    assert(rows.length == 64)
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("content"), "UTF-8") == r.getString(0)))
    // the session has 8 cores, but only 3 partitions → ≤3 in flight
    assert(FetchProbe.max.get() <= 3, s"max in-flight ${FetchProbe.max.get()}")
    assert(FetchProbe.max.get() >= 2, "fetches should actually overlap")
  }

  test("fetch retries transient failures with backoff and then succeeds") {
    FetchProbe.reset()
    val manifest = Seq("a", "b").toDF("k")
    val out = Ingest.fetch(manifest, "k", maxConcurrent = 2, attempts = 3, baseDelayMs = 1) { k =>
      // every key fails on its first attempt, succeeds on retry
      if (FetchProbe.calls.getAndIncrement() < 2) sys.error(s"transient $k")
      k.getBytes("UTF-8")
    }
    assert(out.count() == 2)
    intercept[org.apache.spark.SparkException] {
      Ingest.fetch(manifest, "k", 1, attempts = 2, baseDelayMs = 1) { _ =>
        sys.error("permanent")
      }.count()
    }
  }

  test("manifest → fetch → RasterDecode composes end-to-end (the reference pipeline)") {
    import org.apache.spark.sql.graft.RasterExprs
    val fixture = graft.geo.Fixtures.ensureRasters(spark, Sf)
    val manifest = graft.geo.Geo.tiles(spark, Sf)
      .filter(col("tile_id") < graft.geo.Fixtures.RasterLimit)
      .select(col("tile_key"))
    val fetched = Ingest.fetch(manifest, "tile_key", maxConcurrent = 4) { key =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture, s"$key.grft"))
    }
    val pixels = fetched
      .select(RasterExprs.raster_decode(col("content")).as("r"))
      .select(explode(col("r.points")))
      .count()
    val tiles = manifest.count()
    assert(pixels == tiles * 64)
  }

  test("g8: object-store config injection reaches the task-side FileSystem (the S3A path)") {
    // The reference points its client at a custom endpoint with
    // anonymous credentials (main.rs:254-263). The Hadoop twin is
    // pure configuration — for a real bucket:
    //   fs.s3a.endpoint                  = https://<custom-endpoint>
    //   fs.s3a.aws.credentials.provider  = ...AnonymousAWSCredentialsProvider
    //   fs.s3a.path.style.access         = true
    // This test proves the injection CHAIN those keys ride: session
    // hadoopConfiguration → SerializableConfiguration → task-side
    // Path.getFileSystem → FileSystem.initialize(conf), using a
    // conf-registered scheme (mock3a) whose init records what it saw.
    // FsListing itself is scheme-agnostic — the same code lists
    // file://, mock3a://, or s3a://.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    hc.set("fs.mock3a.endpoint", "https://objects.example.edu")
    hc.set("fs.mock3a.aws.credentials.provider", "AnonymousAWSCredentialsProvider")
    hc.set("fs.mock3a.path.style.access", "true")
    try {
      val fixture = graft.geo.Fixtures.ensureListing(spark, Sf)
      val viaMock = org.apache.spark.sql.graft.FsListing
        .listByPrefix(spark, "mock3a://raster" + new java.io.File(fixture).getAbsolutePath,
          graft.geo.Geo.ListingPrefixes, ".grft")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val viaLocal = org.apache.spark.sql.graft.FsListing
        .listByPrefix(spark, fixture, graft.geo.Geo.ListingPrefixes, ".grft")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // identical manifest through the object-store scheme
      assert(viaMock.nonEmpty && viaMock == viaLocal)
      // the task-side FileSystem saw the injected endpoint + creds
      val (bucket, endpoint, creds, pathStyle) = Mock3aFileSystem.seen.get
      assert(bucket == "raster") // the reference's bucket name role
      assert(endpoint == "https://objects.example.edu")
      assert(creds == "AnonymousAWSCredentialsProvider")
      assert(pathStyle == "true")
    } finally {
      // unset the conf; the cached mock3a FileSystem instance is
      // harmless (unique scheme) and closing ALL cached filesystems
      // would yank file:// out from under concurrent Spark internals
      Seq("fs.mock3a.impl", "fs.mock3a.endpoint",
        "fs.mock3a.aws.credentials.provider", "fs.mock3a.path.style.access")
        .foreach(hc.unset)
    }
  }

  test("j3: merged schema surfaces the evolved column as null in old generations; partition prunes") {
    import org.apache.spark.sql.functions._
    val path = graft.sources.IngestFixtures.ensureEvolution(spark, Sf)
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    assert(df.columns.contains("quality") && df.columns.contains("batch"))
    // evolved column: null exactly on the pre-evolution generation
    assert(df.filter(col("batch") === 0 && col("quality").isNotNull).count() == 0)
    assert(df.filter(col("batch") === 1 && col("quality").isNull).count() == 0)
    // evolved values follow the generating rule
    df.filter(col("batch") === 1)
      .select(col("doc_id"), col("quality")).collect()
      .foreach(r => assert(r.getLong(1) == r.getLong(0) * 7 % 100))
    // the generation id is a PARTITION column: a generation filter
    // prunes directories at the scan
    val plan = df.filter(col("batch") === 1).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("batch"),
      s"expected partition pruning in:\n$plan")
    // audit matches a direct recomputation from the documents table
    val audit = graft.operators.IngestQueries.schemaEvolution(spark, Sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = graft.Tables.documents(spark, Sf).filter(col("doc_id") < 400)
      .select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b0 = docs.filter(_._1 % 2 == 0)
    val b1 = docs.filter(_._1 % 2 == 1)
    assert(audit(0) == ((b0.length.toLong, b0.length.toLong, 0L, b0.map(_._2).sum)))
    assert(audit(1) == ((b1.length.toLong, 0L, b1.map(t => t._1 * 7 % 100).sum, b1.map(_._2).sum)))
  }

  test("loaders normalize regenerated physical types: int32 ids -> long, double embeddings -> float") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = scratchDir("graft_tblnorm")
    Seq((1, "alpha beta", "en", "s", 10), (2, "gamma delta", "en", "s", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val d = Tables.documents(spark, dir)
    assert(d.schema("doc_id").dataType == LongType &&
      d.schema("n_chars").dataType == LongType)
    assert(d.select(sum(col("n_chars"))).head.getLong(0) == 21L)
    val e = Tables.embeddings(spark, dir)
    assert(e.schema("vec_id").dataType == LongType)
    assert(e.schema("embedding").dataType == ArrayType(FloatType, true) ||
      e.schema("embedding").dataType == ArrayType(FloatType, false))
    // the float kernel path works on the normalized column
    val n = e.select(graft.functions.VecFns.norm(col("embedding")).as("n"))
      .collect().map(_.getDouble(0))
    assert(n.forall(x => math.abs(x - 1.0) < 1e-6))
  }

  test("j4: ORC round-trips every row byte-exactly; stripe pushdown and column pruning engage") {
    import org.apache.spark.sql.functions._
    val path = s"${graft.sources.IngestFixtures.ensureOrc(spark, Sf)}/data"
    val orc = spark.read.orc(path)
    // row-identical to the parquet-side slice, text bytes included
    val got = orc.select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSet
    val want = graft.Tables.documents(spark, Sf).filter(col("doc_id") < 400)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(got == want && got.size == 400)
    // the ORC scan pushes predicates (stripe/row-group stats) and
    // prunes columns exactly like the parquet path
    val plan = orc.filter(col("doc_id") < 10).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      s"expected ORC predicate pushdown in:\n$plan")
    assert(!plan.contains("text"), s"expected text pruned from ReadSchema in:\n$plan")
  }

  test("j5: XML rowTag scan quarantines torn rows and round-trips clean text exactly") {
    import org.apache.spark.sql.functions._
    val path = s"${graft.sources.IngestFixtures.ensureXml(spark, Sf)}/corpus.xml"
    // the file source forbids corrupt-only projections off the raw
    // scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize first,
    // exactly the caching recipe the error prescribes
    val xml = graft.sources.TextSources.readXml(spark, path).cache()
    val (clean, bad) = graft.sources.TextSources.quarantine(xml)
    // every torn id quarantined, nothing else; escaped &/< round-trip
    val want = graft.Tables.documents(spark, Sf).filter(col("doc_id") < 400)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val keep = want.filter(_._1 % 7 != 3).toSet
    val got = clean.select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(got == keep)
    assert(bad.count() == want.count(_._1 % 7 == 3))
    // the corrupt column carries the raw element for forensics
    assert(bad.select("raw_line").collect().forall(!_.isNullAt(0)))
    xml.unpersist()
  }

  test("j6: the gz codec is invisible — gzip-sharded read ≡ plain jsonl read, row for row") {
    import graft.sources.{IngestFixtures, TextSources}
    // same parse chain over compressed shards vs the plain file:
    // identical rows prove the codec layer touched nothing
    val gz = TextSources.readJsonl(spark, IngestFixtures.ensureJsonlGz(spark, Sf))
    val plain = TextSources.readJsonl(spark, IngestFixtures.ensureJsonl(spark, Sf))
    assert(gz.exceptAll(plain).isEmpty && plain.exceptAll(gz).isEmpty)
    // the audit sees all four shards
    val row = graft.operators.IngestQueries.gzipIngest(spark, Sf).collect()(0)
    assert(row.getAs[Long]("n_files") == 4L)
    assert(row.getAs[Long]("n_quarantine") > 0L)
  }

  test("j8: whole-file JSON-array read matches the line-split corpus row for row") {
    import graft.sources.{IngestFixtures, TextSources}
    val arr = graft.Caches.track(
      TextSources.readJsonArray(spark, IngestFixtures.ensureJsonArray(spark, Sf)))
    val line = TextSources.readJsonl(spark, IngestFixtures.ensureJsonl(spark, Sf))
    // the clean populations are identical across containers (the torn
    // SHAPES differ — truncation vs type mismatch — but hit the same
    // planted ids, so the surviving rows must agree field for field).
    // Clean keys on doc_id: in multiLine mode _corrupt_record is
    // FILE-grain (below), so the type-nulled field is the row signal
    val ac = arr.filter(col("doc_id").isNotNull).drop("_corrupt_record")
    val lc = line.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    assert(ac.exceptAll(lc).isEmpty && lc.exceptAll(ac).isEmpty)
    // the measured multiLine contract the operator's scaladoc states:
    // one bad record stamps the WHOLE shard's text into
    // _corrupt_record on every row — every shard contains torn ids,
    // so every row carries it, while doc_id nulls mark exactly the
    // planted records (cached read: Spark forbids corrupt-only
    // projections off a raw JSON scan)
    assert(arr.filter(col("_corrupt_record").isNotNull).count() ==
      IngestFixtures.DocLimit.toLong)
    val planted = (0L until IngestFixtures.DocLimit.toLong)
      .count(id => id % IngestFixtures.TornMod == IngestFixtures.TornRem)
    assert(arr.filter(col("doc_id").isNull).count() == planted.toLong)
    val row = graft.operators.IngestQueries.jsonArrayIngest(spark, Sf).collect()(0)
    assert(row.getAs[Long]("n_files") == 4L)
    assert(row.getAs[Long]("n_quarantine") == planted.toLong)
    assert(row.getAs[Long]("n_clean") + row.getAs[Long]("n_quarantine") ==
      IngestFixtures.DocLimit.toLong)
  }

  test("j9: Avro container — block-grain corrupt quarantine; split-union invariance") {
    import graft.sources.{AvroContainer, IngestFixtures}
    import graft.operators.IngestQueries
    import java.nio.file.{Files, Paths}
    val path = IngestFixtures.ensureAvro(spark, Sf)
    val docs = graft.Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    def shardRows(k: Int) = docs.filter(_._1 % 4 == k).toVector

    // a clean shard round-trips every record byte-exactly, zero bad blocks
    val bytes0 = Files.readAllBytes(Paths.get(path, "shard-0.avro"))
    val r0 = AvroContainer.readSplit(bytes0, 0L, bytes0.length.toLong)
    assert(r0.badBlocks == 0 && r0.docs == shardRows(0))

    // the corrupt shard loses EXACTLY the planted block's records
    // (within-shard rows [16, 32)) and counts ONE bad block — the
    // sync-marker resync recovered every later block, where gzip
    // would have lost the rest of the member
    val bytes2 = Files.readAllBytes(Paths.get(path, s"shard-${IngestFixtures.AvroCorruptShard}.avro"))
    val r2 = AvroContainer.readSplit(bytes2, 0L, bytes2.length.toLong)
    val lostLo = IngestFixtures.AvroCorruptBlock * AvroContainer.BlockRecs
    val exp2 = shardRows(IngestFixtures.AvroCorruptShard).zipWithIndex
      .filterNot { case (_, i) => i >= lostLo && i < lostLo + AvroContainer.BlockRecs }
      .map(_._1)
    assert(r2.badBlocks == 1 && r2.docs == exp2)

    // SPLIT-UNION INVARIANCE (the splittability claim, j7's discipline
    // on a binary container): for randomized partitions of the byte
    // range — including boundaries inside blocks, headers and sync
    // markers — the concatenation over splits reproduces the whole
    // read, records AND bad-block count, on both a clean and the
    // corrupt shard
    val rnd = new scala.util.Random(13)
    Seq(bytes0 -> r0, bytes2 -> r2).foreach { case (bytes, whole) =>
      (0 until 6).foreach { _ =>
        val cuts = Vector.fill(3)(rnd.between(1L, bytes.length.toLong))
          .distinct.sorted
        val bounds = 0L +: cuts :+ bytes.length.toLong
        val parts = bounds.sliding(2).map { w =>
          AvroContainer.readSplit(bytes, w(0), w(1)) }.toVector
        assert(parts.flatMap(_.docs) == whole.docs, s"split variance at $cuts")
        assert(parts.map(_.badBlocks).sum == whole.badBlocks, s"bad-block variance at $cuts")
      }
    }

    // the audit query: 4 shards, 1 bad block, clean = all minus the block
    val audit = IngestQueries.avroIngest(spark, Sf).collect()(0)
    assert(audit.getAs[Long]("n_files") == 4L)
    assert(audit.getAs[Long]("n_bad_blocks") == 1L)
    assert(audit.getAs[Long]("n_clean") ==
      docs.length.toLong - AvroContainer.BlockRecs)
    assert(audit.getAs[Long]("sum_doc_id") ==
      (docs.map(_._1).sum - shardRows(IngestFixtures.AvroCorruptShard)
        .slice(lostLo, lostLo + AvroContainer.BlockRecs).map(_._1).sum))
  }

  test("j10: Delta log replay — checkpoint-mandatory snapshot, remove semantics, loud gates") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDelta(spark, Sf)

    // latest snapshot: 3 surviving v0 shards + v1 insert + v2 rewrite
    val snap = DeltaTable.snapshot(spark, table)
    assert(snap.version == 2L && snap.minReaderVersion == 1)
    assert(snap.files.sorted == Seq("file-v0-0.parquet", "file-v0-2.parquet",
      "file-v0-3.parquet", "file-v1-insert.parquet", "file-v2-rewrite.parquet"))

    // the v0 commit json is aged out, so this snapshot is ONLY
    // reconstructible through the checkpoint — reaching here proves
    // the checkpoint path is load-bearing. Row-level parity with the
    // generating rules (base corpus once each + reinserted torn docs):
    val got = DeltaTable.read(spark, table)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (base ++ base.filter(_._1 % IngestFixtures.TornMod ==
      IngestFixtures.TornRem).map { case (id, t, nc) =>
      (id + IngestFixtures.DeltaReinsert, t, nc) }).sorted
    assert(want.nonEmpty && got == want)

    // time travel to v1 = exactly the checkpoint state (shard 1 still
    // active, no rewrite); to v0 = unreachable past the aged-out log,
    // failing at LOG RESOLUTION, never silently dropping the commit
    val v1 = DeltaTable.snapshot(spark, table, 1L)
    assert(v1.files.sorted == Seq("file-v0-0.parquet", "file-v0-1.parquet",
      "file-v0-2.parquet", "file-v0-3.parquet", "file-v1-insert.parquet"))
    val e = intercept[IllegalStateException] {
      DeltaTable.snapshot(spark, table, 0L)
    }
    assert(e.getMessage.contains("aged out"), e.getMessage)

    // reader-version gate: r14 implements 2 (column mapping) and
    // feature-gated 3 (deletionVectors/columnMapping), so the refusal
    // boundary moved to versions/features BEYOND that — reading past
    // an unknown feature would silently return wrong rows
    val v9tbl = new java.io.File(scratchDir("delta_v9"))
    val log = new java.io.File(v9tbl, "_delta_log"); log.mkdirs()
    java.nio.file.Files.write(
      log.toPath.resolve("00000000000000000000.json"),
      ("""{"protocol":{"minReaderVersion":9,"minWriterVersion":9}}""" + "\n" +
        """{"add":{"path":"x.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    val g = intercept[IllegalArgumentException] {
      DeltaTable.snapshot(spark, v9tbl.toString)
    }
    assert(g.getMessage.contains("reader features"), g.getMessage)
  }

  test("j10: partitioned Delta read reconstitutes log-only partition columns with schema types") {
    import graft.sources.DeltaTable
    // Delta's physical layout: partition columns live ONLY in the
    // log's partitionValues — the data files do not contain them. A
    // two-column partition (string lang × long gen) proves both the
    // reconstruction and the schemaString-driven cast.
    val tbl = new java.io.File(scratchDir("delta_part"))
    val log = new java.io.File(tbl, "_delta_log"); log.mkdirs()
    def part(name: String, rows: Seq[(Long, Long)]): Unit = {
      val scratch = new java.io.File(tbl, ".w")
      spark.createDataFrame(rows).toDF("doc_id", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val p = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(tbl, name); dest.getParentFile.mkdirs()
      java.nio.file.Files.move(p.toPath, dest.toPath)
      graft.geo.Fixtures.deleteRecursively(scratch)
    }
    part("lang=en/gen=1/a.parquet", Seq((1L, 10L), (2L, 20L)))
    part("lang=de/gen=2/b.parquet", Seq((3L, 30L)))
    val schema = """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
      """{\"name\":\"n_chars\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"gen\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}"""
    java.nio.file.Files.write(
      log.toPath.resolve("00000000000000000000.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"p","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["lang","gen"],"configuration":{}}}""",
        """{"add":{"path":"lang=en/gen=1/a.parquet","partitionValues":{"lang":"en","gen":"1"},"size":1,"modificationTime":0,"dataChange":true}}""",
        """{"add":{"path":"lang=de/gen=2/b.parquet","partitionValues":{"lang":"de","gen":"2"},"size":1,"modificationTime":0,"dataChange":true}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val df = DeltaTable.read(spark, tbl.toString)
    assert(df.schema("gen").dataType ==
      org.apache.spark.sql.types.LongType) // cast from the string "1"
    val got = df.select("doc_id", "n_chars", "lang", "gen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == Seq((1L, 10L, "en", 1L), (2L, 20L, "en", 1L),
      (3L, 30L, "de", 2L)))
  }

  test("j12: derived Delta change feed — classes by rule, compaction invisible, partitioned diffs") {
    import graft.sources.{DeltaTable, IngestFixtures}

    // a pure compaction (j10's v2: remove + byte-identical rewrite)
    // must yield an EMPTY feed — layout changes are invisible to CDC
    val compacted = IngestFixtures.ensureDelta(spark, Sf)
    assert(DeltaTable.changes(spark, compacted, 1L, 2L, Seq("doc_id")).count() == 0L)
    graft.Caches.clear()

    // the correction commit on the now-PARTITIONED fixture: every
    // class lands where the rule put it, and the reconstituted
    // partition column rides every change row
    val table = IngestFixtures.ensureDeltaCdc(spark, Sf)
    val chRows = DeltaTable.changes(spark, table, 0L, 1L, Seq("doc_id"))
      .select("doc_id", "n_chars", "_change_type", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val ch = chRows.map(r => (r._1, r._2, r._3))
    graft.Caches.clear()
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s1 = base.filter(_._1 % 4 == 1)
    val torn = (id: Long) => id % IngestFixtures.TornMod == IngestFixtures.TornRem
    val want = (
      s1.filter(r => torn(r._1)).map { case (id, nc) => (id, nc, "delete") } ++
      s1.filter(r => !torn(r._1) && r._1 % 5 == 0)
        .flatMap { case (id, nc) =>
          Seq((id, nc, "update_preimage"), (id, nc + 100, "update_postimage")) } ++
      base.filter(r => torn(r._1)).map { case (id, nc) =>
        (id + IngestFixtures.DeltaReinsert, nc, "insert") }).sorted
    assert(want.nonEmpty && ch.sorted.toSeq == want)
    // the untouched carries cancelled: no shard-1 doc outside the
    // planted classes appears under any label
    val planted = want.map(_._1).toSet
    assert(ch.forall(r => planted.contains(r._1)))
    // the partition column was reconstituted from the log on EVERY
    // row (DeltaReinsert % 4 == 0, so inserts keep their shard)
    assert(chRows.forall(r => r._4 == r._1 % 4))

    // the PARTITIONED pure-compaction commit (v2: shard 2 rewritten
    // byte-identical, dataChange false) yields an empty feed too
    assert(DeltaTable.changes(spark, table, 1L, 2L, Seq("doc_id")).count() == 0L)
    graft.Caches.clear()
  }

  test("j10: multi-part checkpoints — parts read as one state, a torn part set refuses") {
    import graft.sources.{DeltaTable, CpRow, CpProtocol, CpMeta, CpAdd}
    import spark.implicits._
    val tbl = new java.io.File(scratchDir("delta_multicp")); tbl.mkdirs()
    val log = new java.io.File(tbl, "_delta_log"); log.mkdirs()
    def writeOne(dir: java.io.File, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val scratch = new java.io.File(dir, ".w_" + name)
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(dir, name).toPath)
      scratch.listFiles().foreach(_.delete()); scratch.delete()
    }
    writeOne(tbl, "a.parquet", (1L to 10L).toDF("doc_id"))
    writeOne(tbl, "b.parquet", (11L to 20L).toDF("doc_id"))
    writeOne(tbl, "c.parquet", (21L to 25L).toDF("doc_id"))
    // a 2-part checkpoint at v0: protocol/metaData + add(a) in part 1,
    // add(b) in part 2 — the replayed state is the UNION of the parts
    val schemaStr = """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}}]}"""
    writeOne(log, "00000000000000000000.checkpoint.0000000001.0000000002.parquet",
      Seq(CpRow(Some(CpProtocol(1, 2)), None, None, None),
        CpRow(None, Some(CpMeta("mp", schemaStr, Nil)), None, None),
        CpRow(None, None, Some(CpAdd("a.parquet", Map.empty, 1L, 0L,
          dataChange = true)), None)).toDS().toDF())
    writeOne(log, "00000000000000000000.checkpoint.0000000002.0000000002.parquet",
      Seq(CpRow(None, None, Some(CpAdd("b.parquet", Map.empty, 1L, 0L,
        dataChange = true)), None)).toDS().toDF())
    java.nio.file.Files.write(log.toPath.resolve("_last_checkpoint"),
      """{"version":0,"size":4,"parts":2}""".getBytes("UTF-8"))
    // v0's commit JSON is aged out (never written): reading ANY
    // version requires assembling the multi-part base
    java.nio.file.Files.write(log.toPath.resolve("00000000000000000001.json"),
      ("""{"add":{"path":"c.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    assert(DeltaTable.read(spark, tbl.toString, 0L).count() == 20L)
    assert(DeltaTable.read(spark, tbl.toString).count() == 25L)
    // tear the checkpoint: a missing part must REFUSE with the real
    // problem named, never read half the state (losing b.parquet)
    java.nio.file.Files.delete(log.toPath.resolve(
      "00000000000000000000.checkpoint.0000000002.0000000002.parquet"))
    val e = intercept[IllegalArgumentException] {
      DeltaTable.read(spark, tbl.toString)
    }
    assert(e.getMessage.contains("incomplete multi-part"), e.getMessage)
  }

  test("delta decoder: one table state decodes alike from JSON commits and classic, multi-part and V2 checkpoints") {
    import graft.sources.DeltaTable
    import graft.sources.DeltaTable.{AddFile, Dv, Snapshot}
    import graft.sources.Json.jesc
    // the delta.io checkpoint schema for the actions decoded here, as
    // a writer lays them out (V2 rows in their own columns)
    val cpSchema = Seq(
      "protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT, readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>",
      "metaData STRUCT<id: STRING, format: STRUCT<provider: STRING, options: MAP<STRING, STRING>>, schemaString: STRING, partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>, createdTime: BIGINT>",
      "add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN, stats: STRING, deletionVector: STRUCT<storageType: STRING, pathOrInlineDv: STRING, offset: INT, sizeInBytes: INT, cardinality: BIGINT>>",
      "remove STRUCT<path: STRING, deletionTimestamp: BIGINT, dataChange: BOOLEAN>",
      "checkpointMetadata STRUCT<version: BIGINT>",
      "sidecar STRUCT<path: STRING, sizeInBytes: BIGINT, modificationTime: BIGINT>").mkString(", ")
    val dataSchema = """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"k","type":"string","nullable":true,"metadata":{}}]}"""
    val statsA = """{"numRecords":3,"minValues":{"doc_id":1},"maxValues":{"doc_id":3}}"""
    val statsD = """{"numRecords":1,"minValues":{"doc_id":9},"maxValues":{"doc_id":9}}"""
    val inlineDv = "wi5b=000010000siXQKl0rr91000f55c8Xg0@@D72lkbi5=-{L"
    def protocol(features: String) =
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$features],"writerFeatures":["deletionVectors"]}}"""
    val meta = s"""{"metaData":{"id":"dec","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(dataSchema)}","partitionColumns":["k"],"configuration":{"delta.enableDeletionVectors":"true","delta.columnMapping.mode":"none"},"createdTime":0}}"""
    val addA = s"""{"add":{"path":"a.parquet","partitionValues":{"k":"x"},"size":10,"modificationTime":0,"dataChange":true,"stats":"${jesc(statsA)}","deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":4,"sizeInBytes":40,"cardinality":2}}}"""
    val addB = s"""{"add":{"path":"b.parquet","partitionValues":{"k":null},"size":10,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inlineDv","sizeInBytes":40,"cardinality":6}}}"""
    val addC = """{"add":{"path":"c.parquet","partitionValues":{"k":"y"},"size":10,"modificationTime":0,"dataChange":true}}"""
    val removeC = """{"remove":{"path":"c.parquet","deletionTimestamp":1,"dataChange":true}}"""
    val addD = s"""{"add":{"path":"d.parquet","partitionValues":{"k":"y"},"size":10,"modificationTime":0,"dataChange":true,"stats":"${jesc(statsD)}"}}"""
    def writeLines(f: java.io.File, lines: Seq[String]): Unit =
      java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def writeCp(dir: java.io.File, name: String, lines: Seq[String], cols: String*): Unit = {
      val scratch = new java.io.File(dir, ".w_" + name)
      val rows = spark.read.schema(cpSchema).json(lines.toDS())
      (if (cols.isEmpty) rows else rows.select(cols.map(col): _*))
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(dir, name).toPath)
      graft.geo.Fixtures.deleteRecursively(scratch)
    }
    // the same version-1 state five ways: two JSON commits (v0 adds
    // a/b/c, v1 removes c and adds d), and checkpoints at v1 with the
    // commits aged out — classic, two-part, and V2 whose add/remove
    // state lives in two sidecars
    def forms(proto: String): Seq[(String, String)] = {
      val state = Seq(proto, meta, addA, addB, addD, removeC)
      def table(name: String)(fill: java.io.File => Unit): (String, String) = {
        val tbl = new java.io.File(scratchDir(s"delta_dec_$name"))
        val log = new java.io.File(tbl, "_delta_log"); log.mkdirs()
        fill(log)
        name -> tbl.toString
      }
      Seq(
        table("json") { log =>
          writeLines(new java.io.File(log, "00000000000000000000.json"),
            Seq(proto, meta, addA, addB, addC))
          writeLines(new java.io.File(log, "00000000000000000001.json"), Seq(removeC, addD))
        },
        table("classic") { log =>
          writeCp(log, "00000000000000000001.checkpoint.parquet", state)
          writeLines(new java.io.File(log, "_last_checkpoint"), Seq("""{"version":1,"size":6}"""))
        },
        table("multipart") { log =>
          writeCp(log, "00000000000000000001.checkpoint.0000000001.0000000002.parquet", state.take(3))
          writeCp(log, "00000000000000000001.checkpoint.0000000002.0000000002.parquet", state.drop(3))
        },
        table("v2") { log =>
          val sidecars = new java.io.File(log, "_sidecars"); sidecars.mkdirs()
          writeCp(sidecars, "s1.parquet", Seq(addA, addB), "add", "remove")
          writeCp(sidecars, "s2.parquet", Seq(addD, removeC), "add", "remove")
          writeCp(log, "00000000000000000001.checkpoint.3f2b6a1e-0c4d-4e8f-9a7b-1c2d3e4f5a6b.parquet",
            Seq(proto, meta, """{"checkpointMetadata":{"version":1}}""") ++
              Seq("s1.parquet", "s2.parquet").map(n =>
                s"""{"sidecar":{"path":"$n","sizeInBytes":1,"modificationTime":0}}"""),
            "protocol", "metaData", "checkpointMetadata", "sidecar")
        })
    }
    val want = Snapshot(1L, Seq(
        AddFile("a.parquet", Map("k" -> "x"),
          Some(Dv("u", "ab^-aqEH.-t@S}K{vb[*k^", 4, 40, 2L)), Some(statsA)),
        AddFile("b.parquet", Map("k" -> null), Some(Dv("i", inlineDv, -1, 40, 6L))),
        AddFile("d.parquet", Map("k" -> "y"), None, Some(statsD))),
      minReaderVersion = 3, partitionColumns = Seq("k"), schemaJson = Some(dataSchema),
      configuration = Map("delta.enableDeletionVectors" -> "true",
        "delta.columnMapping.mode" -> "none"))
    forms(protocol(""""deletionVectors","columnMapping"""")).foreach { case (name, tbl) =>
      val snap = DeltaTable.snapshot(spark, tbl)
      assert(snap.copy(adds = snap.adds.sortBy(_.path)) == want, name)
    }
    // readerFeatures decode from every form: an unimplemented one refuses
    forms(protocol(""""deletionVectors","timestampNtz"""")).foreach { case (name, tbl) =>
      val e = intercept[IllegalArgumentException](DeltaTable.snapshot(spark, tbl))
      assert(e.getMessage.contains("timestampNtz"), s"$name: ${e.getMessage}")
    }
  }

  test("delta decoder: a commit-JSON DV descriptor without cardinality refuses by name") {
    import graft.sources.DeltaTable
    val tbl = new java.io.File(scratchDir("delta_torn_dv"))
    val log = new java.io.File(tbl, "_delta_log"); log.mkdirs()
    java.nio.file.Files.write(log.toPath.resolve("00000000000000000000.json"),
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^","offset":1,"sizeInBytes":36}}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaTable.snapshot(spark, tbl.toString))
    assert(e.getMessage.contains("DV descriptor for a.parquet") &&
      e.getMessage.contains("missing cardinality"), e.getMessage)
  }

  test("j14: deletion vectors — deleted rows stay deleted, pre-DV time travel, torn DV refuses") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDeltaDv(spark, Sf)
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // v0 predates the DV commit: time travel shows EVERY row
    val v0 = DeltaTable.read(spark, table, 0L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(v0 == base)
    // current version: the planted per-shard ordinal rules are gone,
    // nothing else is, and all four data FILES stay live (row grain)
    val cur = DeltaTable.read(spark, table)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val deleted = base.groupBy(_ % 4).flatMap { case (k, ids) =>
      ids.sorted.zipWithIndex.collect {
        case (id, ridx) if (k == 0 || k == 2) && ridx % 5 == IngestFixtures.DvRem => id
        case (id, ridx) if k == 1 &&
          ridx % IngestFixtures.TornMod == IngestFixtures.TornRem => id
      }
    }.toSet
    assert(deleted.nonEmpty && cur == base.toSet -- deleted)
    assert(DeltaTable.snapshot(spark, table).files.size == 4)
    graft.Caches.clear()
    // torn sidecar: flip one payload byte — the CRC must refuse, a
    // torn DV read as empty would silently resurrect deleted rows
    val sidecar = new java.io.File(table).listFiles()
      .find(_.getName.startsWith("deletion_vector_")).get
    val save = java.nio.file.Files.readAllBytes(sidecar.toPath)
    val torn = save.clone()
    torn(10) = (torn(10) ^ 0x7).toByte
    java.nio.file.Files.write(sidecar.toPath, torn)
    try {
      val e = intercept[Throwable] { DeltaTable.read(spark, table).count() }
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
      assert(msgs(e).contains("checksum mismatch"), msgs(e).take(400))
    } finally java.nio.file.Files.write(sidecar.toPath, save)
    graft.Caches.clear()
  }

  test("delta column mapping (name mode) reads; id mode and unknown reader features refuse") {
    import graft.sources.DeltaTable
    import spark.implicits._
    def writeOne(dir: java.io.File, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val scratch = new java.io.File(dir, ".w_" + name)
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(dir, name).toPath)
      scratch.listFiles().foreach(_.delete()); scratch.delete()
    }
    def mkTable(dirName: String, mode: String, protocolLine: String): java.io.File = {
      val tbl = new java.io.File(scratchDir(dirName)); tbl.mkdirs()
      val log = new java.io.File(tbl, "_delta_log"); log.mkdirs()
      // the DATA file carries PHYSICAL column names; `lang` is a
      // partition column whose partitionValues key is its physical
      // name, per the protocol
      writeOne(tbl, "a.parquet",
        Seq((1L, "alpha"), (2L, "beta")).toDF("col-d01", "col-t02"))
      val rawSchema = Seq(
        """{"type":"struct","fields":[""",
        """{"name":"doc_id","type":"long","nullable":false,"metadata":{"delta.columnMapping.columnId":1,"delta.columnMapping.physicalName":"col-d01"}},""",
        """{"name":"text","type":"string","nullable":true,"metadata":{"delta.columnMapping.columnId":2,"delta.columnMapping.physicalName":"col-t02"}},""",
        """{"name":"lang","type":"string","nullable":true,"metadata":{"delta.columnMapping.columnId":3,"delta.columnMapping.physicalName":"col-p03"}}]}""").mkString
      val esc = rawSchema.replace("\\", "\\\\").replace("\"", "\\\"")
      java.nio.file.Files.write(log.toPath.resolve("00000000000000000000.json"),
        (Seq(protocolLine,
          s"""{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":["lang"],"configuration":{"delta.columnMapping.mode":"$mode"}}}""",
          """{"add":{"path":"a.parquet","partitionValues":{"col-p03":"en"},"size":1,"modificationTime":0,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      tbl
    }
    val proto2 = """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    val tbl = mkTable("delta_cm_name", "name", proto2)
    val df = DeltaTable.read(spark, tbl.toString)
    assert(df.columns.toSeq == Seq("doc_id", "text", "lang"))
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == Seq((1L, "alpha", "en"), (2L, "beta", "en")))

    // id mode resolves by field id — a schema whose fields carry NO
    // delta.columnMapping.id (this one only has columnId/physicalName)
    // refuses with the gap named, never guesses a column identity
    val tblId = mkTable("delta_cm_id", "id", proto2)
    val e1 = intercept[IllegalArgumentException] {
      DeltaTable.read(spark, tblId.toString)
    }
    assert(e1.getMessage.contains("delta.columnMapping.id"), e1.getMessage)

    // a version-3 table demanding a feature we do not implement
    // refuses WITH the feature named
    val tblF = mkTable("delta_cm_feat", "name",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","timestampNtz"]}}""")
    val e2 = intercept[IllegalArgumentException] {
      DeltaTable.read(spark, tblF.toString)
    }
    assert(e2.getMessage.contains("timestampNtz"), e2.getMessage)
  }

  test("j16: DV-aware CDC — a grown deletion vector surfaces only the newly-deleted rows") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDeltaDvCdc(spark, Sf)
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def ruleIds(f: (Long, Int) => Boolean): Set[Long] =
      base.groupBy(_ % 4).flatMap { case (k, ids) =>
        ids.sorted.zipWithIndex.collect {
          case (id, ridx) if f(k, ridx) => id }
      }.toSet
    // v2 diffs ONLY the delta of shard 0's replacement bitmap — the
    // already-deleted %5 ordinals must NOT re-emit
    val v2 = DeltaTable.changes(spark, table, 1L, 2L, Seq("doc_id"))
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    graft.Caches.clear()
    val wantV2 = ruleIds((k, ridx) =>
      k == 0 && ridx % 3 == 1 && ridx % 5 != IngestFixtures.DvRem)
    assert(wantV2.nonEmpty && v2.map(_._1).toSet == wantV2)
    assert(v2.forall(_._2 == "delete"))
    // v1: each shard's first-generation deletions, deletes only
    val v1 = DeltaTable.changes(spark, table, 0L, 1L, Seq("doc_id"))
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    graft.Caches.clear()
    val wantV1 = ruleIds((k, ridx) =>
      ((k == 0 || k == 2) && ridx % 5 == IngestFixtures.DvRem) ||
        (k == 1 && ridx % IngestFixtures.TornMod == IngestFixtures.TornRem))
    assert(v1.map(_._1).toSet == wantV1 && v1.forall(_._2 == "delete"))
  }

  test("j17: delta data skipping — stats prune files, the stat-less file always opens") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDeltaStats(spark, Sf)
    val all = DeltaTable.snapshot(spark, table).files.toSet
    def opened(lo: Long, hi: Long): Set[String] =
      DeltaTable.readPruned(spark, table, "doc_id", lo, hi)
        .inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val noStats = s"file-bucket-${IngestFixtures.DeltaStatsNoStatsBucket}.parquet"
    // [20, 70] spans buckets 0 and 1; bucket 3 opens ONLY because it
    // carries no stats (the conservative contract)
    val o = opened(20, 70)
    assert(o == Set("file-bucket-0.parquet", "file-bucket-1.parquet", noStats),
      o.toString)
    assert(o.size < all.size) // skipping actually skipped
    // a far probe opens only its bucket + the stat-less witness
    val far = opened(350, 360)
    assert(far == Set("file-bucket-7.parquet", noStats), far.toString)
    // values survive the prune: superset scan + caller predicate
    val got = DeltaTable.readPruned(spark, table, "doc_id", 20, 70)
      .filter(col("doc_id").between(20, 70))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = Tables.documents(spark, Sf)
      .filter(col("doc_id").between(20, 70))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(want.nonEmpty && got == want)
  }

  test("s3 wire protocol: g8 listing + fetch stage run over s3a:// HTTP with pagination and throttle-retry") {
    import graft.sources.S3HttpFileSystem
    val fixture = graft.geo.Fixtures.ensureListing(spark, Sf)
    val files = new java.io.File(fixture).listFiles()
      .filter(_.getName.endsWith(".grft")).sortBy(_.getName)
    assert(files.length > 20)
    // page size 7 forces real ListObjectsV2 pagination under every
    // per-prefix listing task
    val stub = new S3Stub("raster", pageSize = 7)
    try {
      files.foreach(f => stub.put("listing/" + f.getName,
        java.nio.file.Files.readAllBytes(f.toPath)))
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", "graft.sources.S3HttpFileSystem")
      hc.set("fs.s3a.endpoint", stub.endpoint)
      hc.set("fs.s3a.retry.base.ms", "10")
      hc.set("fs.s3a.impl.disable.cache", "true")
      // g8's distributed listing path, verbatim, over the wire: one
      // ListObjectsV2 pager per prefix task
      val pages0 = S3HttpFileSystem.listPages.get()
      val rows = org.apache.spark.sql.graft.FsListing
        .listByPrefix(spark, "s3a://raster/listing",
          graft.geo.Geo.ListingPrefixes, ".grft")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(rows == files.map(f => (f.getName, f.length())).toSeq)
      assert(S3HttpFileSystem.listPages.get() - pages0 >
        graft.geo.Geo.ListingPrefixes.size, "pagination never continued")
      // throttle-retry: the next 3 responses are 503 SlowDown; the
      // client must back off and still succeed
      val p0 = new org.apache.hadoop.fs.Path(
        s"s3a://raster/listing/${files.head.getName}")
      val fs = p0.getFileSystem(hc)
      val r0 = S3HttpFileSystem.retries.get()
      stub.arm503(3)
      assert(fs.getFileStatus(p0).getLen == files.head.length())
      assert(S3HttpFileSystem.retries.get() - r0 >= 3)
      // ranged read: seek past the GRFT magic and read the tile id —
      // the stream must re-range, not re-download from zero
      val in = fs.open(p0)
      try {
        in.seek(4)
        val buf = new Array[Byte](4)
        in.readFully(buf)
        val local = java.nio.file.Files.readAllBytes(files.head.toPath)
        assert(buf.toSeq == local.slice(4, 8).toSeq)
      } finally in.close()
      // the bounded-concurrency fetch stage, fetchers opening s3a://
      // paths inside tasks (conf travels the FsListing way)
      val conf = new org.apache.spark.util.SerializableConfiguration(hc)
      import spark.implicits._
      val manifest = files.take(12).map(_.getName).toSeq.toDF("name")
      val fetched = graft.operators.Ingest.fetch(manifest, "name", 4) { k =>
        val p = new org.apache.hadoop.fs.Path(s"s3a://raster/listing/$k")
        val f = p.getFileSystem(conf.value)
        val s = f.open(p)
        try s.readAllBytes() finally s.close()
      }.collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toMap
      assert(fetched.size == 12)
      files.take(12).foreach { f =>
        assert(fetched(f.getName).toSeq ==
          java.nio.file.Files.readAllBytes(f.toPath).toSeq, f.getName)
      }
      // append is the one write S3 cannot express — refuses loudly
      intercept[UnsupportedOperationException] {
        fs.append(p0, 4096, null)
      }
      // retry EXHAUSTION is loud, not an empty result: with more 503s
      // than the retry limit the client gives up with the throttle
      // named (fs.s3a.retry.limit default 7 → arm more than that)
      stub.arm503(50)
      val ex = intercept[java.io.IOException] {
        fs.getFileStatus(p0)
      }
      assert(ex.getMessage.contains("throttled"), ex.getMessage)
      stub.arm503(0)
      // the hard client test: spark.read.parquet over s3a:// — the
      // parquet reader seeks the footer (tail-first positioned reads),
      // then range-reads row groups; any mis-ranged byte corrupts the
      // footer magic and the read fails loudly
      val docs = new java.io.File(s"$Sf/documents.parquet")
      stub.put("pq/documents.parquet",
        java.nio.file.Files.readAllBytes(docs.toPath))
      val overWire = spark.read.parquet("s3a://raster/pq/documents.parquet")
        .agg(count(lit(1)), sum(col("doc_id")))
        .collect().head
      val localAgg = spark.read.parquet(docs.getPath)
        .agg(count(lit(1)), sum(col("doc_id")))
        .collect().head
      assert(overWire == localAgg && overWire.getLong(0) > 0)
    } finally stub.stop()
    graft.Caches.clear()
  }

  test("j23: delta log export — history time-travels, tailing appends only new versions, replays are no-ops") {
    import graft.sources.{DeltaExport, DeltaTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_dlog_snap")
    SnapshotTable.commit(spark, snap,
      (0L until 100L).map(i => (i, i * 3)).toDF("k", "n")
        .repartitionByRange(2, col("k")))
    SnapshotTable.commit(spark, snap,
      (100L until 150L).map(i => (i, i * 3)).toDF("k", "n")
        .repartitionByRange(1, col("k")))
    val out = scratchDir("graft_dlog_out")
    new java.io.File(out).delete()
    assert(DeltaExport.exportLog(spark, snap, out) == 1L)
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // every exported version time-travels identically to the source
    (0L to 1L).foreach { v =>
      assert(census(DeltaTable.read(spark, out, version = v)) ==
        census(SnapshotTable.readVersion(spark, snap, v)), s"v$v")
    }
    // a replay exports nothing new and changes no bytes
    val logDir = new java.io.File(out, "_delta_log")
    val before = logDir.listFiles().map(f => f.getName -> f.length()).toMap
    assert(DeltaExport.exportLog(spark, snap, out) == 1L)
    assert(logDir.listFiles().map(f => f.getName -> f.length()).toMap == before)
    // the source advances (a replace); tailing appends EXACTLY the
    // new commit and the exported CDC sees only its delta
    SnapshotTable.commit(spark, snap,
      SnapshotTable.read(spark, snap).filter(col("k") < 50)
        .repartitionByRange(1, col("k")), replace = true)
    assert(DeltaExport.exportLog(spark, snap, out) == 2L)
    assert(census(DeltaTable.read(spark, out)) ==
      census(SnapshotTable.read(spark, snap)))
    val ch = DeltaTable.changes(spark, out, 1L, 2L, Seq("k"))
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(ch == (50L until 150L).map(k => (k, "delete")))
    // a target tailing a DIFFERENT source refuses
    val snap2 = scratchDir("graft_dlog_snap2")
    SnapshotTable.commit(spark, snap2, Seq((1L, 1L)).toDF("k", "n"))
    val e = intercept[IllegalArgumentException] {
      DeltaExport.exportLog(spark, snap2, out)
    }
    assert(e.getMessage.contains("different source"), e.getMessage)
    graft.Caches.clear()
  }

  test("j23: checkpoints — exported log resolves from the checkpoint after commits age out, stats survive, tailing stays idempotent") {
    import graft.sources.{DeltaExport, DeltaTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_dcp_snap")
    // 5 versions; range-split files + k sidecar stats so skipping is
    // provable through the checkpoint
    (0 until 5).foreach { i =>
      SnapshotTable.commit(spark, snap,
        (i * 100L until (i + 1) * 100L).map(j => (j, j * 3)).toDF("k", "n")
          .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    }
    val out = scratchDir("graft_dcp_out")
    new java.io.File(out).delete()
    assert(DeltaExport.exportLog(spark, snap, out, checkpointEvery = 2) == 4L)
    val logDir = new java.io.File(out, "_delta_log")
    val names = logDir.listFiles().map(_.getName).toSet
    assert(names.contains("00000000000000000001.checkpoint.parquet"), names)
    assert(names.contains("00000000000000000003.checkpoint.parquet"), names)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(logDir, "_last_checkpoint").toPath), "UTF-8")
    assert(ptr.contains("\"version\":3"), ptr)
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // METADATA CLEANUP: age out every commit the checkpoint covers —
    // resolution now has nothing but the v3 checkpoint + v4 tail, so
    // a matching census PROVES the reader resolved from the
    // checkpoint (the files-opened assertion in its strictest form:
    // the aged-out JSONs cannot be opened, they are gone)
    (0 to 3).foreach { v =>
      java.nio.file.Files.delete(
        new java.io.File(logDir, f"$v%020d.json").toPath)
    }
    assert(census(DeltaTable.read(spark, out)) ==
      census(SnapshotTable.read(spark, snap)))
    // time travel ONTO the checkpoint version needs zero JSONs
    assert(census(DeltaTable.read(spark, out, version = 3L)) ==
      census(SnapshotTable.readVersion(spark, snap, 3L)))
    // the checkpoint's add.stats still drive j17 skipping
    val opened = DeltaTable.readPruned(spark, out, "k", 0L, 40L).inputFiles.toSet
    assert(opened.size < DeltaTable.read(spark, out).inputFiles.toSet.size, opened)
    // tailing past the cleanup stays idempotent: the source advances,
    // exactly one commit (and the v5 checkpoint) append, census holds
    SnapshotTable.commit(spark, snap,
      (500L until 550L).map(j => (j, j * 3)).toDF("k", "n")
        .repartitionByRange(1, col("k")), statsCols = Seq("k"))
    assert(DeltaExport.exportLog(spark, snap, out, checkpointEvery = 2) == 5L)
    assert(census(DeltaTable.read(spark, out)) ==
      census(SnapshotTable.read(spark, snap)))
    val after = logDir.listFiles().map(f => f.getName -> f.length()).toMap
    assert(after.contains("00000000000000000005.checkpoint.parquet"), after.keys)
    assert(DeltaExport.exportLog(spark, snap, out, checkpointEvery = 2) == 5L)
    assert(logDir.listFiles().map(f => f.getName -> f.length()).toMap == after,
      "a replay must not change a byte")
    graft.Caches.clear()
  }

  test("j22: iceberg log export — tailing appends snapshots, history time-travels by id, replays are no-ops") {
    import graft.sources.{IcebergExport, IcebergTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_ilog_snap")
    SnapshotTable.commit(spark, snap,
      (0L until 100L).map(i => (i, i * 3)).toDF("k", "n")
        .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    SnapshotTable.commit(spark, snap,
      (100L until 150L).map(i => (i, i * 3)).toDF("k", "n")
        .repartitionByRange(1, col("k")), statsCols = Seq("k"))
    val out = scratchDir("graft_ilog_out")
    new java.io.File(out).delete()
    assert(IcebergExport.exportLog(spark, snap, out) == 1L)
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(census(IcebergTable.read(spark, out)) ==
      census(SnapshotTable.read(spark, snap)))
    // source version v published as snapshot id v+1 — time travel
    (0L to 1L).foreach { v =>
      assert(census(IcebergTable.read(spark, out, snapshotId = v + 1)) ==
        census(SnapshotTable.readVersion(spark, snap, v)), s"v$v")
    }
    // a replay exports nothing new and changes no bytes
    val metaDir = new java.io.File(out, "metadata")
    val before = metaDir.listFiles().map(f => f.getName -> f.length()).toMap
    assert(IcebergExport.exportLog(spark, snap, out) == 1L)
    assert(metaDir.listFiles().map(f => f.getName -> f.length()).toMap == before)
    // the source advances with a REPLACE; the tail appends exactly
    // one snapshot, history stays readable, bounds still prune
    SnapshotTable.commit(spark, snap,
      SnapshotTable.read(spark, snap).filter(col("k") < 50)
        .repartitionByRange(2, col("k")), replace = true, statsCols = Seq("k"))
    assert(IcebergExport.exportLog(spark, snap, out) == 2L)
    assert(census(IcebergTable.read(spark, out)) ==
      census(SnapshotTable.read(spark, snap)))
    assert(census(IcebergTable.read(spark, out, snapshotId = 2L)) ==
      census(SnapshotTable.readVersion(spark, snap, 1L)))
    val isnap = IcebergTable.snapshot(out)
    assert(isnap.snapshotId == 3L)
    val kept = IcebergTable.prunedFiles(isnap, "k", 0L, 10L)
    assert(kept.size < isnap.files.size, kept)
    // a target tailing a DIFFERENT source refuses
    val snap2 = scratchDir("graft_ilog_snap2")
    SnapshotTable.commit(spark, snap2, Seq((1L, 1L)).toDF("k", "n"))
    val e = intercept[IllegalArgumentException] {
      IcebergExport.exportLog(spark, snap2, out)
    }
    assert(e.getMessage.contains("different source"), e.getMessage)
    graft.Caches.clear()
  }

  test("j22: iceberg export — both path modes round-trip, versions pin, bounds hand off, non-empty target refuses") {
    import graft.sources.{IcebergExport, IcebergTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_iexp_snap")
    SnapshotTable.commit(spark, snap,
      (0L until 100L).map(i => (i, s"t$i", i * 3)).toDF("k", "t", "n")
        .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    SnapshotTable.commit(spark, snap,
      (100L until 150L).map(i => (i, s"t$i", i * 3)).toDF("k", "t", "n")
        .repartitionByRange(1, col("k")), statsCols = Seq("k"))
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // copy mode, PINNED version 0
    val out0 = scratchDir("graft_iexp_v0")
    new java.io.File(out0).delete()
    assert(IcebergExport.export(spark, snap, out0, version = 0L) == 2)
    assert(census(IcebergTable.read(spark, out0)) ==
      census(SnapshotTable.readVersion(spark, snap, 0L)))
    // metadata-only mode, latest: no data dir beside the metadata
    val out1 = scratchDir("graft_iexp_meta")
    new java.io.File(out1).delete()
    assert(IcebergExport.export(spark, snap, out1, copy = false) == 3)
    assert(new java.io.File(out1).listFiles().map(_.getName).toSet == Set("metadata"))
    assert(census(IcebergTable.read(spark, out1)) ==
      census(SnapshotTable.read(spark, snap)))
    // exported bounds drive j19's skipping on the read side: a [0,10]
    // probe over the range-split files opens a strict subset
    val isnap = IcebergTable.snapshot(out1)
    val kept = IcebergTable.prunedFiles(isnap, "k", 0L, 10L)
    assert(kept.size < isnap.files.size, kept)
    assert(IcebergTable.readPruned(spark, out1, "k", 0L, 10L)
      .filter(col("k") <= 10).count() == 11L)
    // a non-empty target refuses loudly
    val e = intercept[IllegalArgumentException] {
      IcebergExport.export(spark, snap, out1)
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    graft.Caches.clear()
  }

  test("s3 write path: multipart upload round-trips over the wire, retries a mid-upload 503, keys with spaces") {
    import graft.sources.S3HttpFileSystem
    val stub = new S3Stub("sink")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", "graft.sources.S3HttpFileSystem")
      hc.set("fs.s3a.endpoint", stub.endpoint)
      hc.set("fs.s3a.retry.base.ms", "10")
      hc.set("fs.s3a.impl.disable.cache", "true")
      // core-default ships 64M; pin the part floor so a 12 MiB object
      // actually exercises the multipart path
      hc.set("fs.s3a.multipart.size", "8M")
      val fs = new org.apache.hadoop.fs.Path("s3a://sink/")
        .getFileSystem(hc)
      // 12 MiB deterministic payload: crosses the 8 MiB part floor →
      // CreateMultipartUpload + 2 UploadParts + Complete
      val payload = Array.tabulate(12 << 20)(i => ((i * 31 + 7) & 0xff).toByte)
      val mp0 = S3HttpFileSystem.multipartStarted.get()
      val pp0 = S3HttpFileSystem.partsUploaded.get()
      val r0 = S3HttpFileSystem.retries.get()
      val big = new org.apache.hadoop.fs.Path("s3a://sink/data/big.bin")
      val out = fs.create(big, true)
      out.write(payload, 0, 9 << 20) // part 1 (8 MiB) uploads here
      stub.arm503(3) // throttle the REST of the upload mid-flight
      out.write(payload, 9 << 20, payload.length - (9 << 20))
      out.close() // part 2 + Complete, through the 503s
      assert(S3HttpFileSystem.multipartStarted.get() - mp0 == 1)
      assert(S3HttpFileSystem.partsUploaded.get() - pp0 == 2)
      assert(S3HttpFileSystem.retries.get() - r0 >= 3, "503s must be retried")
      assert(stub.completedUploads.get() == 1 && stub.pendingUploads == 0)
      // byte-identical read-back through the ranged-GET stream
      val in = fs.open(big)
      val got = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(got, payload))
      // a key with a space: form-encoding would PUT "with+space" and
      // read back the wrong key (r15 ADVICE) — percent-encoding must
      // round-trip through BOTH the write and read paths
      val spaced = new org.apache.hadoop.fs.Path("s3a://sink/dir/with space.bin")
      val o2 = fs.create(spaced, true)
      o2.write("hello spaced".getBytes("UTF-8")); o2.close()
      assert(stub.keys.contains("dir/with space.bin"), stub.keys)
      val in2 = fs.open(spaced)
      assert(new String(try in2.readAllBytes() finally in2.close(), "UTF-8") == "hello spaced")
      // rename = server-side copy + delete; delete removes the key
      assert(fs.rename(spaced, new org.apache.hadoop.fs.Path("s3a://sink/dir/renamed.bin")))
      assert(!stub.keys.contains("dir/with space.bin"))
      assert(stub.get("dir/renamed.bin").map(new String(_, "UTF-8")).contains("hello spaced"))
      assert(fs.delete(new org.apache.hadoop.fs.Path("s3a://sink/dir/renamed.bin"), false))
      assert(!stub.keys.contains("dir/renamed.bin"))
      // retry exhaustion aborts the multipart upload (no orphan parts)
      val ab0 = stub.abortedUploads.get()
      val doomed = fs.create(new org.apache.hadoop.fs.Path("s3a://sink/doomed.bin"), true)
      doomed.write(Array.fill(9 << 20)(1.toByte)) // part 1 succeeds
      // 8 armed 503s: the part burns the full retry limit (7) and
      // dies; the best-effort abort eats the last 503, retries, and
      // still lands — so no orphan parts linger
      stub.arm503(8)
      intercept[java.io.IOException] { doomed.write(Array.fill(9 << 20)(2.toByte)); doomed.close() }
      stub.arm503(0)
      assert(stub.abortedUploads.get() - ab0 >= 1, "failed upload must abort")
    } finally stub.stop()
  }

  test("s3 write path: Spark's own parquet writer commits through the committer contract over s3a://") {
    // the FileOutputCommitter drives create/mkdirs/rename/delete in
    // exactly the sequence a generic engine sink would — a successful
    // df.write.parquet round-trip proves the write path composes with
    // Hadoop's committer, not just our own sinks
    val stub = new S3Stub("wout")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", "graft.sources.S3HttpFileSystem")
      hc.set("fs.s3a.endpoint", stub.endpoint)
      hc.set("fs.s3a.retry.base.ms", "10")
      hc.set("fs.s3a.impl.disable.cache", "true")
      import spark.implicits._
      val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("k", "v")
      df.repartition(2).write.mode("overwrite").parquet("s3a://wout/tbl")
      // the staging _temporary tree must be gone, the data keys live
      assert(!stub.keys.exists(_.contains("_temporary")), stub.keys)
      assert(stub.keys.count(k => k.startsWith("tbl/part-") && k.endsWith(".parquet")) == 2,
        stub.keys)
      val back = spark.read.parquet("s3a://wout/tbl")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(back == (0L until 1000L).map(i => (i, s"row$i")))
    } finally stub.stop()
  }

  test("j21 over the wire: export publishes to s3a:// via multipart, j10 reads it back") {
    import graft.sources.{DeltaExport, DeltaTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_dexp_wire_snap")
    SnapshotTable.commit(spark, snap,
      (0L until 100L).map(i => (i, s"t$i", i * 3)).toDF("k", "t", "n")
        .repartitionByRange(2, col("k")), statsCols = Seq("k"))
    SnapshotTable.commit(spark, snap,
      (100L until 150L).map(i => (i, s"t$i", i * 3)).toDF("k", "t", "n")
        .repartitionByRange(1, col("k")), statsCols = Seq("k"))
    val stub = new S3Stub("exp")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", "graft.sources.S3HttpFileSystem")
      hc.set("fs.s3a.endpoint", stub.endpoint)
      hc.set("fs.s3a.retry.base.ms", "10")
      hc.set("fs.s3a.impl.disable.cache", "true")
      stub.arm503(2) // the publish must ride the backoff contract too
      assert(DeltaExport.export(spark, snap, "s3a://exp/table") == 3)
      assert(stub.keys.contains("table/_delta_log/00000000000000000000.json"),
        stub.keys)
      // j10's reader resolves the log and scans the parquet OVER THE
      // WIRE — row-identical to the source snapshot
      def census(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "t", "n").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(census(DeltaTable.read(spark, "s3a://exp/table")) ==
        census(SnapshotTable.read(spark, snap)))
      // exported stats still drive skipping on the remote table
      val opened = DeltaTable.readPruned(spark, "s3a://exp/table", "k", 0L, 10L)
        .inputFiles.toSet
      assert(opened.size <
        DeltaTable.read(spark, "s3a://exp/table").inputFiles.toSet.size, opened)
      // a non-empty remote target refuses loudly
      val e = intercept[IllegalArgumentException] {
        DeltaExport.export(spark, snap, "s3a://exp/table")
      }
      assert(e.getMessage.contains("not empty"), e.getMessage)
    } finally { stub.stop(); graft.Caches.clear() }
  }

  test("j21: delta export — both path modes round-trip, versions pin, stats hand off, non-empty target refuses") {
    import graft.sources.{DeltaExport, DeltaTable, SnapshotTable}
    import spark.implicits._
    val snap = scratchDir("graft_dexp_snap")
    val v0rows = (0L until 100L).map(i => (i, s"t$i", i * 3))
    SnapshotTable.commit(spark, snap,
      v0rows.toDF("k", "t", "n").repartitionByRange(2, col("k")),
      statsCols = Seq("k"))
    SnapshotTable.commit(spark, snap,
      (100L until 150L).map(i => (i, s"t$i", i * 3)).toDF("k", "t", "n")
        .repartitionByRange(1, col("k")), statsCols = Seq("k"))
    def census(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "t", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // copy mode, PINNED version 0: row-identical to readVersion(0) —
    // the later commit must not leak in
    val out0 = scratchDir("graft_dexp_v0")
    new java.io.File(out0).delete()
    assert(DeltaExport.export(spark, snap, out0, version = 0L) == 2)
    assert(census(DeltaTable.read(spark, out0)) ==
      census(SnapshotTable.readVersion(spark, snap, 0L)))
    // metadata-only mode, latest version: NO parquet beside the log
    // (adds are absolute URIs into the snapshot table), row-identical
    val out1 = scratchDir("graft_dexp_meta")
    new java.io.File(out1).delete()
    assert(DeltaExport.export(spark, snap, out1, copy = false) == 3)
    assert(!new java.io.File(out1).listFiles().exists(_.getName.endsWith(".parquet")))
    assert(census(DeltaTable.read(spark, out1)) == census(SnapshotTable.read(spark, snap)))
    // the exported add.stats drive j17's skipping on the OTHER side:
    // a [0, 10] probe over the range-split files opens a strict
    // subset, and numRecords/min/max came from footers + sidecars
    val opened = DeltaTable.readPruned(spark, out1, "k", 0L, 10L).inputFiles.toSet
    assert(opened.size < DeltaTable.read(spark, out1).inputFiles.toSet.size, opened)
    assert(DeltaTable.readPruned(spark, out1, "k", 0L, 10L)
      .filter(col("k") <= 10).count() == 11L)
    // a non-empty target refuses loudly
    val e = intercept[IllegalArgumentException] {
      DeltaExport.export(spark, snap, out1)
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    graft.Caches.clear()
  }

  test("j20: delta column-mapping id mode — field ids beat misnamed file columns; one kernel for none/name/id") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDeltaCmId(spark, Sf)
    val df = DeltaTable.read(spark, table)
    // logical schema, not the files' (deliberately wrong) names
    assert(df.columns.toSeq == Seq("doc_id", "text", "source", "n_chars", "lang"))
    val want = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val got = df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    // oracle-parity INCLUDING the partition column reconstituted from
    // its physical-name partitionValues key — and because every file
    // column is named after a DIFFERENT column's physicalName, this
    // equality can only hold if matching went by field id
    assert(want.nonEmpty && got == want)
    // the misnaming is load-bearing: name-style matching on these
    // files reads doc_id's longs under text's physical name
    val raw = spark.read.parquet(df.inputFiles.head)
    assert(raw.columns.contains("col-t02") &&
      raw.schema("col-t02").dataType.typeName == "long")
    // one kernel: none (j10), name (the cm test above) and id (this)
    // all read through DeltaTable.read/readAdds — none-mode parity
    val none = DeltaTable.read(spark, IngestFixtures.ensureDelta(spark, Sf))
    assert(none.columns.contains("doc_id") && none.count() > 0)
    graft.Caches.clear()
  }

  test("j19: iceberg manifest stats — bounds prune files, the bounds-less file always opens") {
    import graft.sources.{IcebergTable, IngestFixtures}
    val table = IngestFixtures.ensureIcebergStats(spark, Sf)
    val snap = IcebergTable.snapshot(table)
    def names(fs: Seq[String]): Set[String] =
      fs.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val noStats = s"file-bucket-${IngestFixtures.IcebergNoStatsBucket}.parquet"
    // [20, 70] spans buckets 0 and 1; bucket 3 opens ONLY because its
    // manifest entry carries no bounds (the conservative contract)
    val o = names(IcebergTable.prunedFiles(snap, "doc_id", 20, 70))
    assert(o == Set("file-bucket-0.parquet", "file-bucket-1.parquet", noStats),
      o.toString)
    assert(o.size < snap.files.size) // skipping actually skipped
    // a far probe opens only its bucket + the bounds-less witness
    val far = names(IcebergTable.prunedFiles(snap, "doc_id", 350, 360))
    assert(far == Set("file-bucket-7.parquet", noStats), far.toString)
    // an unknown column or a file without bounds keeps everything
    assert(IcebergTable.prunedFiles(snap, "no_such_col", 0, 1).toSet ==
      snap.files.toSet)
    // the actual scan opens exactly the pruned set
    val scanned = IcebergTable.readPruned(spark, table, "doc_id", 20, 70)
      .inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(scanned == o, scanned.toString)
    // values survive the prune: superset scan + caller predicate
    val got = IcebergTable.readPruned(spark, table, "doc_id", 20, 70)
      .filter(col("doc_id").between(20, 70))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = Tables.documents(spark, Sf)
      .filter(col("doc_id").between(20, 70))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(want.nonEmpty && got == want)
  }

  test("j18: v2 checkpoints — sidecar state assembles, torn sidecars and misnamed files refuse") {
    import graft.sources.{DeltaTable, IngestFixtures}
    val table = IngestFixtures.ensureDeltaV2cp(spark, Sf)
    // latest (v2): 3 surviving shards + insert + rewrite — resolved
    // ENTIRELY through main + sidecars (both commit JSONs aged out)
    val snap = DeltaTable.snapshot(spark, table)
    assert(snap.version == 2L && snap.files.size == 5)
    assert(snap.files.sorted == Seq("file-v0-0.parquet", "file-v0-2.parquet",
      "file-v0-3.parquet", "file-v1-insert.parquet", "file-v2-rewrite.parquet"))
    // time travel to the checkpoint state itself
    assert(DeltaTable.snapshot(spark, table, 1L).files.size == 5)
    // aged-out v0 fails at log resolution
    val e0 = intercept[IllegalStateException] {
      DeltaTable.snapshot(spark, table, 0L)
    }
    assert(e0.getMessage.contains("aged out"), e0.getMessage)
    // a MISSING sidecar refuses — reading main-only would silently
    // lose two shards
    val sc = new java.io.File(table, "_delta_log/_sidecars/sc-1.parquet")
    val saved = java.nio.file.Files.readAllBytes(sc.toPath)
    java.nio.file.Files.delete(sc.toPath)
    try {
      val e1 = intercept[IllegalArgumentException] {
        DeltaTable.snapshot(spark, table)
      }
      assert(e1.getMessage.contains("sidecar missing"), e1.getMessage)
    } finally java.nio.file.Files.write(sc.toPath, saved)
    // a checkpoint whose DECLARED version disagrees with its name
    // refuses (a misnamed copy would replay the wrong state)
    val log = new java.io.File(table, "_delta_log")
    val cpName = log.listFiles()
      .find(f => f.getName.matches("""\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet""")).get
    val badName = "00000000000000000000" +
      cpName.getName.substring(20)
    val bad = new java.io.File(log, badName)
    java.nio.file.Files.copy(cpName.toPath, bad.toPath)
    try {
      val e2 = intercept[IllegalArgumentException] {
        DeltaTable.snapshot(spark, table, 0L)
      }
      assert(e2.getMessage.contains("declares version"), e2.getMessage)
    } finally java.nio.file.Files.delete(bad.toPath)
  }

  test("iceberg hint fallback: a missing version-hint resolves by listing, stale hints still refuse") {
    import graft.sources.{IcebergTable, IngestFixtures}
    val table = IngestFixtures.ensureIceberg(spark, Sf)
    val hint = new java.io.File(table, "metadata/version-hint.text")
    val saved = java.nio.file.Files.readAllBytes(hint.toPath)
    java.nio.file.Files.delete(hint.toPath)
    try {
      // fallback lists vN.metadata.json and takes the highest —
      // identical resolution to the hinted path
      assert(IcebergTable.snapshot(table).snapshotId == 2L)
    } finally java.nio.file.Files.write(hint.toPath, saved)
    // a PRESENT hint pointing at a missing file is corruption, not a
    // fallback case — falling back past it would silently time-travel
    java.nio.file.Files.write(hint.toPath, "99\n".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalArgumentException] {
        IcebergTable.snapshot(table)
      }
      assert(e.getMessage.contains("missing metadata v99"), e.getMessage)
    } finally java.nio.file.Files.write(hint.toPath, saved)
    assert(IcebergTable.snapshot(table).snapshotId == 2L)
  }

  test("j15: equality deletes — sequence scoping protects same-commit re-inserts of the key") {
    import graft.sources.{IcebergTable, IngestFixtures}
    val table = IngestFixtures.ensureIcebergEq(spark, Sf)
    val torn = (id: Long) =>
      id % IngestFixtures.TornMod == IngestFixtures.TornRem
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // s2: every torn key exists EXACTLY once — as the seq-2 re-insert
    // (n_chars+1000), never the deleted seq-1 original and never
    // zero times (the unscoped-implementation failure, which deletes
    // its own re-inserts)
    val cur = IcebergTable.read(spark, table)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = base.map { case (id, nc) =>
      if (torn(id)) (id, nc + 1000) else (id, nc) }
    assert(base.exists(r => torn(r._1)) && cur.sorted == want.sorted)
    // all 5 data files stay live — deletion happened at row grain
    val snap = IcebergTable.snapshot(table)
    assert(snap.files.size == 5 && snap.eqDeletes.nonEmpty)
    assert(snap.eqDeletes.forall(_.equalityIds == Seq(1)))
    // time travel to s1: self-contained resolution, pre-delete corpus
    val s1 = IcebergTable.read(spark, table, 1L)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(s1.sorted == base.sorted)
  }

  test("j11: Iceberg snapshot resolution — status algebra, self-contained time travel, v2 gate") {
    import graft.sources.{IcebergTable, IngestFixtures}
    val table = IngestFixtures.ensureIceberg(spark, Sf)

    // current snapshot (s2): DELETED shard 1 must not read; the
    // multi-manifest union (EXISTING survivors + ADDED insert) must
    val snap = IcebergTable.snapshot(table)
    assert(snap.snapshotId == 2L)
    assert(snap.files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ==
      Seq("file-s1-shard-0.parquet", "file-s1-shard-2.parquet",
        "file-s1-shard-3.parquet", "file-s2-insert.parquet"))
    val got = IcebergTable.read(spark, table)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (base.filter(_._1 % 4 != 1) ++
      base.filter(_._1 % IngestFixtures.TornMod == IngestFixtures.TornRem)
        .map { case (id, t, nc) =>
          (id + IngestFixtures.DeltaReinsert, t, nc) }).sorted
    assert(want.nonEmpty && got == want)

    // time travel to s1 resolves through its OWN manifest list
    // (manifest-a is not referenced by s2 — snapshots are
    // self-contained): the full 4-shard base corpus
    val s1 = IcebergTable.snapshot(table, 1L)
    assert(s1.files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ==
      (0 until 4).map(k => s"file-s1-shard-$k.parquet"))
    val s1rows = IcebergTable.read(spark, table, 1L)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(s1rows == base.sorted)

    // an expired/unknown snapshot fails at metadata resolution
    val e = intercept[IllegalArgumentException] {
      IcebergTable.snapshot(table, 99L)
    }
    assert(e.getMessage.contains("snapshot 99"), e.getMessage)

    // format-version gate: versions past 2 carry delete semantics
    // this reader does not implement — refuse loudly
    val v3tbl = new java.io.File(scratchDir("iceberg_v3"))
    val meta = new java.io.File(v3tbl, "metadata"); meta.mkdirs()
    java.nio.file.Files.write(meta.toPath.resolve("version-hint.text"),
      "1\n".getBytes("UTF-8"))
    java.nio.file.Files.write(meta.toPath.resolve("v1.metadata.json"),
      """{"format-version":3,"current-snapshot-id":1,"snapshots":[]}"""
        .getBytes("UTF-8"))
    val g = intercept[IllegalArgumentException] {
      IcebergTable.snapshot(v3tbl.toString)
    }
    assert(g.getMessage.contains("format-version 3"), g.getMessage)
  }

  test("j13: Iceberg v2 position deletes subtract by row ordinal; files stay live; equality refused") {
    import graft.sources.{IcebergTable, IngestFixtures}
    val table = IngestFixtures.ensureIcebergV2(spark, Sf)

    // merge-on-read: the planted within-shard positions vanish, every
    // OTHER row survives, and ALL FOUR data files still open (deletes
    // are row-grain — the j11 contrast)
    val snap = IcebergTable.snapshot(table)
    assert(snap.snapshotId == 2L && snap.files.length == 4 &&
      snap.deleteFiles.length == 1)
    val df = IcebergTable.read(spark, table)
    val got = df.select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val base = Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = base.groupBy(_._1 % 4).values.flatMap { shard =>
      shard.sortBy(_._1).zipWithIndex.collect {
        case (row, i) if i % 5 != IngestFixtures.IcebergDelRem => row }
    }.toSeq.sorted
    assert(want.nonEmpty && want.size < base.size && got == want)
    val dataOpened = df.inputFiles.filter(!_.contains("posdel")).toSet
    assert(dataOpened.size == 4, dataOpened.toString)

    // time travel to s1: the delete manifest is not in s1's list —
    // the full corpus reads back
    val s1 = IcebergTable.read(spark, table, 1L)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(s1 == base.sorted)

    // a MALFORMED equality-delete entry (content = 2 with no
    // equality_ids) refuses loudly — r14 reads well-formed equality
    // deletes (j15); one with no key columns cannot be applied and
    // must never be ignored
    val eqtbl = new java.io.File(scratchDir("iceberg_eq"))
    val meta = new java.io.File(eqtbl, "metadata"); meta.mkdirs()
    val mf = new java.io.File(meta, "manifest-eq.avro")
    graft.sources.AvroContainer.writeGeneric(mf,
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin,
      Seq(Map("status" -> 1, "snapshot_id" -> 1L,
        "data_file" -> Map("content" -> 2, "file_path" -> "x.parquet",
          "file_format" -> "PARQUET", "record_count" -> 1L,
          "file_size_in_bytes" -> 1L))))
    graft.sources.AvroContainer.writeGeneric(
      new java.io.File(meta, "snap-1.avro"),
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin,
      Seq(Map("manifest_path" -> mf.getAbsolutePath,
        "manifest_length" -> mf.length(), "partition_spec_id" -> 0,
        "added_snapshot_id" -> 1L)))
    java.nio.file.Files.write(meta.toPath.resolve("version-hint.text"),
      "1\n".getBytes("UTF-8"))
    java.nio.file.Files.write(meta.toPath.resolve("v1.metadata.json"),
      (s"""{"format-version":2,"current-snapshot-id":1,"snapshots":[{"snapshot-id":1,"timestamp-ms":0,"manifest-list":"${meta.getAbsolutePath}/snap-1.avro","summary":{}}]}""")
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      IcebergTable.snapshot(eqtbl.toString)
    }
    assert(e.getMessage.contains("equality-delete"), e.getMessage)
  }

  test("j7: WARC framing round-trips every payload byte-exactly; split-size invariant") {
    import graft.sources.IngestFixtures
    import graft.operators.IngestQueries
    val docs = graft.Tables.documents(spark, Sf)
      .filter(col("doc_id") < IngestFixtures.DocLimit)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val path = IngestFixtures.ensureWarc(spark, Sf)
    // re-parse records independently of the operator: every record's
    // payload must equal the source text VERBATIM (framing loses
    // nothing), including the torn ones — their lie is the header
    val body = element_at(split(col("value"), "\r\n\r\n", 2), 2)
    val parsed = spark.read.option("lineSep", "WARC/1.0\r\n").text(path)
      .where(length(col("value")) > 0)
      .select(
        regexp_extract(col("value"), "WARC-Target-URI: \\S*/doc/(\\d+)", 1)
          .cast("long").as("doc_id"),
        body.substr(lit(1), length(body) - 4).as("payload"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(parsed.length == docs.size)
    parsed.foreach { case (id, p) => assert(p == docs(id), s"payload drift doc $id") }
    val audit = IngestQueries.warcIngest(spark, Sf).collect()(0)
    assert(audit.getAs[Long]("n_files") == 4L)
    assert(audit.getAs[Long]("n_quarantine") ==
      docs.keys.count(id => id % IngestFixtures.TornMod == IngestFixtures.TornRem))
    assert(audit.getAs[Long]("n_clean") + audit.getAs[Long]("n_quarantine") ==
      docs.size.toLong)
    // the 100 TB claim: the audit must not depend on how the scan is
    // split — rerun with a split size smaller than single records
    val conf = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "4096")
      val tiny = IngestQueries.warcIngest(spark, Sf).collect()(0)
      assert(tiny == audit, s"split-size variance: $tiny vs $audit")
    } finally spark.conf.set(conf, saved)

    // conservation under REAL damage: a record torn mid-header (no
    // header/payload separator at all — the shape beyond the planted
    // length lie) must land in n_quarantine, not crash the audit
    // under ANSI mode and not vanish from both counters
    val dmgDir = new java.io.File(scratchDir("warc_damaged"))
    dmgDir.mkdirs()
    val good = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://a/doc/1\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"
    val tornHeader = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Targ" // mid-header cut
    val lengthLie = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://a/doc/3\r\nContent-Length: 9\r\n\r\nworld\r\n\r\n"
    java.nio.file.Files.write(dmgDir.toPath.resolve("d.warc"),
      (good + lengthLie + tornHeader).getBytes("UTF-8"))
    val dmg = IngestQueries.warcAudit(spark, dmgDir.toString).collect()(0)
    assert(dmg.getAs[Long]("n_clean") == 1L, dmg.toString)
    assert(dmg.getAs[Long]("n_quarantine") == 2L, dmg.toString)
    assert(dmg.getAs[Long]("sum_doc_id") == 1L) // only the clean record folds
  }
}
