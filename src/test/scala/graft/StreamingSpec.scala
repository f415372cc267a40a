package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling window equals the batch result on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val streamDf = mem.toDF().toDF("ts", "event_type", "value")

    val q = EventStreams.tumblingCounts(streamDf)
      .writeStream.outputMode("complete").format("memory").queryName("tumbling_out").start()
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0),
      (Timestamp.valueOf("2024-01-01 10:30:00"), "view", 8.0))
    mem.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumbling_out")
      .orderBy("hour_epoch", "event_type").collect().toSeq
    q.stop()

    val batch = EventStreams.tumblingCounts(rows.toDF("ts", "event_type", "value"))
      .orderBy("hour_epoch", "event_type").collect().toSeq
    assert(streamed == batch)
    // spot-check: 10:00 click bucket has 2 events, 300 cents
    val b10 = batch.find(r => r.getString(1) == "click" &&
      r.getLong(0) == Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000).get
    assert(b10.getLong(2) == 2 && b10.getLong(3) == 300)
  }

  test("streaming mg_sketch accumulates exact counts across micro-batches when width > distinct") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[String]
    // complete-mode global aggregation: the TypedImperativeAggregate
    // buffer serializes into the state store between micro-batches,
    // so the sketch must survive a serialize/deserialize/merge cycle
    // per batch — the property that makes corpus-stats-over-a-stream
    // work at all
    val q = mem.toDF().toDF("w")
      .agg(org.apache.spark.sql.graft.MisraGries.mg_sketch(col("w"), 64).as("mg"))
      .select(col("mg.n").as("n"), col("mg.entries").as("entries"))
      .writeStream.outputMode("complete").format("memory").queryName("mg_out").start()
    mem.addData("a", "b", "a")
    q.processAllAvailable()
    mem.addData("a", "c", "b", "a")
    q.processAllAvailable()
    val row = spark.table("mg_out").collect().head
    q.stop()
    assert(row.getLong(0) == 7)
    val entries = row.getSeq[org.apache.spark.sql.Row](1)
      .map(e => e.getString(0) -> e.getLong(1)).toMap
    // width 64 > 3 distinct: exact regardless of batch/merge order
    assert(entries == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
  }

  test("streaming quality gate: t12's stateless transform scores a doc stream identically") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, Sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(200)
    val batch = graft.operators.TextAnalysis
      .gopherGateFrame(docs.toSeq.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis
      .gopherGateFrame(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gate_out").start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    mem.addData(b1.toIndexedSeq); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    val streamed = spark.table("gate_out").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    q.stop()
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming retractable agg over CDC batches equals batch q38") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val o = graft.Tables.orders(spark, Sf)
      .select(col("o_orderkey"),
        (col("o_orderdate") < lit("1997-01-01")).as("is_base"),
        col("o_orderpriority"),
        graft.functions.Det.cents(col("o_totalprice")).as("cents"))
      .collect()
    def isBase(r: org.apache.spark.sql.Row) = r.getBoolean(1)
    val base = o.filter(isBase)
      .map(r => ("I", r.getString(2), r.getLong(3)))
    val ins = o.filterNot(isBase)
      .map(r => ("I", r.getString(2), r.getLong(3)))
    val del = o.filter(r => isBase(r) && r.getLong(0) % 50 == 0)
      .map(r => ("D", r.getString(2), r.getLong(3)))
    val mem = MemoryStream[(String, String, Long)]
    val q = graft.streaming.EventStreams.retractableAgg(
        mem.toDF().toDF("op", "o_orderpriority", "cents"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("retract_out").start()
    mem.addData(base.toIndexedSeq)         // batch 1: the historical load
    q.processAllAvailable()
    mem.addData((ins ++ del).toIndexedSeq) // batch 2: the CDC delta
    q.processAllAvailable()
    val got = spark.table("retract_out").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    q.stop()
    val batch = graft.operators.Relational.q38DeltaAgg(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == batch)
  }

  test("streaming native session_window matches batch q41 once the watermark closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // two users, gaps straddling 30 min; sentinel user 99 only
    // advances the watermark and is excluded from the comparison
    val rows = Seq(
      (1L, ts(600), 5.0), (1L, ts(900), 7.0),     // u1 session 1
      (1L, ts(600 + 4000), 1.0),                  // u1 session 2 (gap 3700 > 1800)
      (2L, ts(650), 2.0), (2L, ts(2400), 3.0))    // u2 one session (gap 1750 < 1800)
    val dir = scratchDir("graft_q41s")
    rows.zipWithIndex
      .map { case ((u, t, v), i) => (i.toLong, t, u, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Relational.q41SessionWindow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("start_epoch"),
        unix_timestamp(col("w.end")).as("end_epoch"), col("n_events"), col("value_cents"))
      .writeStream.outputMode("append").format("memory").queryName("sw_out").start()
    mem.addData(rows.map { case (u, t, v) => (u, t, v) })
    q.processAllAvailable()
    mem.addData(Seq((99L, ts(1000000), 0.0))) // watermark far past every session end
    q.processAllAvailable()
    val streamed = spark.table("sw_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .filter(_._1 != 99L).toSet
    q.stop()
    assert(streamed == batch)
    assert(batch.size == 3) // u1 splits on the 3700 s gap, u2 merges
  }

  test("stateful sessionize closes sessions on gap and matches batch semantics") {
    import graft.streaming.{EventStreams, SessionEvent}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("sessions_out").start()
    // user 1: two events 5 min apart (one session), then one 2 h later
    // (closes session 1, opens session 2)
    mem.addData(
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00"), 2.0))
    q.processAllAvailable()
    mem.addData(SessionEvent(1L, Timestamp.valueOf("2024-01-01 12:05:00"), 4.0))
    q.processAllAvailable()
    val out = spark.table("sessions_out").collect()
    q.stop()
    assert(out.length == 1) // only session 1 closed so far
    val s1 = out.head
    assert(s1.getAs[Long]("session_id") == 1 && s1.getAs[Long]("n_events") == 2)
    assert(s1.getAs[Long]("value_cents") == 300)
    assert(s1.getAs[Long]("end_epoch") - s1.getAs[Long]("start_epoch") == 300)
  }

  test("watermark drops events later than the delay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.tumblingCounts(mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append").format("memory").queryName("wm_out").start()
    // batch 1 advances the watermark to 13:00 - 1h = 12:00
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 2: an event at 10:30 is >1h behind the watermark → dropped;
    // 12:30 is within the hour bucket still open → kept
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:30:00"), "late", 8.0),
      (Timestamp.valueOf("2024-01-01 12:30:00"), "click", 2.0))
    // batch 3 closes the 12:00 and 13:00 buckets
    mem.addData((Timestamp.valueOf("2024-01-01 15:00:00"), "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("wm_out").collect()
    q.stop()
    assert(!rows.exists(_.getString(1) == "late"), s"late event must be dropped: ${rows.mkString}")
    val b12 = rows.find(r => r.getLong(0) == Timestamp.valueOf("2024-01-01 12:00:00").getTime / 1000)
    assert(b12.exists(_.getLong(2) == 1)) // only the 12:30 event
  }

  test("sessionFn folds out-of-order events without regressing session bounds") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.{SessionEvent, SessionState}
    val state = TestGroupState.create[SessionState](
      Optional.of(SessionState(1, 1000000L, 2000000L, 2, 300)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(500000L), hasTimedOut = false)
    // out-of-order (above-watermark) event 10 s before the session's
    // current last event: merges, but the session end must not regress
    val out = EventStreams.sessionFn(1L,
      Iterator(SessionEvent(1L, new Timestamp(1990000L), 1.0)), state).toSeq
    assert(out.isEmpty)
    val st = state.get
    assert(st.lastMs == 2000000L, "session end moved backwards")
    assert(st.startMs == 1000000L)
    assert(st.nEvents == 3 && st.valueCents == 400)
  }

  test("streaming as-of join enriches events from the initial-state order index") {
    import graft.streaming.KeyedEvent
    implicit val sqlCtx = spark.sqlContext
    val orders = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 100L),
      (1L, Timestamp.valueOf("2024-01-03 00:00:00"), 101L),
      (1L, Timestamp.valueOf("2024-01-03 00:00:00"), 102L), // tie → max key wins
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 200L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
    val mem = MemoryStream[KeyedEvent]
    val q = EventStreams.asofStream(mem.toDS(), orders)
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    mem.addData(
      KeyedEvent(1, 1L, Timestamp.valueOf("2024-01-02 12:00:00")), // → 100
      KeyedEvent(2, 1L, Timestamp.valueOf("2024-01-03 00:00:00")), // tie-inclusive → 102
      KeyedEvent(3, 2L, Timestamp.valueOf("2024-01-01 12:00:00")), // before all → null
      KeyedEvent(4, 3L, Timestamp.valueOf("2024-01-05 00:00:00"))) // unknown user → null
    q.processAllAvailable()
    // a later trigger still sees the initial-state index
    mem.addData(KeyedEvent(5, 2L, Timestamp.valueOf("2024-02-01 00:00:00"))) // → 200
    q.processAllAvailable()
    val got = spark.table("asof_out").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    q.stop()
    assert(got == Map(1L -> Some(100L), 2L -> Some(102L), 3L -> None,
      4L -> None, 5L -> Some(200L)))
  }

  test("streaming exact dedup keeps one row per content hash within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.dedupStream(mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "the same text"),
      (Timestamp.valueOf("2024-01-01 10:00:30"), 2L, "THE  same   text"), // dup after normalize
      (Timestamp.valueOf("2024-01-01 10:01:00"), 3L, "something else"))
    q.processAllAvailable()
    // a later duplicate still within the watermark window is dropped too
    mem.addData((Timestamp.valueOf("2024-01-01 10:02:00"), 4L, "the same text"))
    q.processAllAvailable()
    val out = spark.table("dedup_out").collect()
    q.stop()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
  }

  test("sessionize and dedup behave identically under the RocksDB state store") {
    // At 100 TB of streaming state the default HDFS-backed store keeps
    // every key on the JVM heap; RocksDB spills state off-heap/on-disk
    // and is the production provider. Same pipeline, same results —
    // and the progress metrics prove RocksDB actually held the state.
    import graft.streaming.{EventStreams, SessionEvent}
    implicit val sqlCtx = spark.sqlContext
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    spark.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[SessionEvent]
      val q = EventStreams.sessionize(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("sessions_rocksdb_out").start()
      mem.addData(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(1L, Timestamp.valueOf("2024-01-01 12:05:00"), 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sessions_rocksdb_out").collect()
      val rocksMetrics = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
        .filter(_.toLowerCase.contains("rocksdb"))
      q.stop()
      // identical semantics to the default-provider sessionize test
      assert(sessions.length == 1)
      val s1 = sessions.head
      assert(s1.getAs[Long]("session_id") == 1 && s1.getAs[Long]("n_events") == 2)
      assert(s1.getAs[Long]("value_cents") == 300)
      assert(rocksMetrics.nonEmpty, "state operator reported no RocksDB metrics")

      val dmem = MemoryStream[(Timestamp, Long, String)]
      val dq = EventStreams.dedupStream(dmem.toDF().toDF("ts", "doc_id", "text"))
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_rocksdb_out").start()
      dmem.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "the same text"),
        (Timestamp.valueOf("2024-01-01 10:00:30"), 2L, "THE  same   text"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 3L, "something else"))
      dq.processAllAvailable()
      dmem.addData((Timestamp.valueOf("2024-01-01 10:02:00"), 4L, "the same text"))
      dq.processAllAvailable()
      val deduped = spark.table("dedup_rocksdb_out").collect()
      dq.stop()
      assert(deduped.length == 2)
      assert(deduped.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerConf, v)
        case None    => spark.conf.unset(providerConf)
      }
    }
  }

  test("stream-static enrichment: broadcast dim join, unmatched keys null-pad, no state store") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dims = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val enriched = EventStreams.enrichStream(
      mem.toDF().toDF("event_id", "user_id"), dims)
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    mem.addData((10L, 1L), (11L, 3L)) // 3 has no dim row
    q.processAllAvailable()
    mem.addData((12L, 2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_out")
      .select(col("event_id"), col("tier")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1))).toSet
    assert(got == Set((10L, "gold"), (11L, "-"), (12L, "basic")))
    // the static side rides a broadcast join; nothing stateful exists
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("StateStore"), plan)
  }

  test("foreachBatch idempotent sink: an epoch replay overwrites, never duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = scratchDir("graft_fb_out")
    val ckpt = scratchDir("graft_fb_ckpt")
    val q = EventStreams.idempotentSink(mem.toDF().toDF("id", "v"), out, ckpt)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    def all: Seq[(Long, String)] = spark.read.parquet(out)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val first = all.sorted
    assert(first == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // simulate foreachBatch's at-least-once replay: a crash between
    // sink write and offset commit re-delivers epoch 1 with the same
    // data — the overwrite leaves the output multiset unchanged
    EventStreams.idempotentBatchWriter(out)(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(all.sorted == first)
  }

  test("exactly-once foreign-Delta tail: per-version markers survive replay and cursor loss") {
    import graft.sources.{DeltaTable, IngestFixtures, SnapshotTable}
    val foreign = IngestFixtures.ensureDeltaCdc(spark, Sf)
    val sink = scratchDir("graft_dtail_sink")
    val cursor = scratchDir("graft_dtail_cur") + "/cursor"
    // first tail: v1 (the correction commit's four classes) and v2
    // (pure compaction → ZERO rows, but still exactly one sink
    // version — the cursor only advances through committed steps)
    val c1 = EventStreams.deltaTailOnce(spark, foreign, sink, cursor, Seq("doc_id"))
    assert(c1 == 2L)
    val rows1 = SnapshotTable.read(spark, sink).count()
    val expected = DeltaTable.changes(spark, foreign, 0L, 2L, Seq("doc_id")).count()
    graft.Caches.clear()
    assert(rows1 > 0 && rows1 == expected)
    assert(SnapshotTable.latestVersion(sink) == 1L) // one sink version per foreign version
    // replay with the cursor intact: cheap no-op
    assert(EventStreams.deltaTailOnce(spark, foreign, sink, cursor, Seq("doc_id")) == 2L)
    assert(SnapshotTable.read(spark, sink).count() == rows1)
    // the crash case: cursor lost AFTER the sink commits — the
    // per-version txn markers make the full replay a no-op and the
    // cursor repairs to latest
    java.nio.file.Files.delete(java.nio.file.Paths.get(cursor))
    assert(EventStreams.deltaTailOnce(spark, foreign, sink, cursor, Seq("doc_id")) == 2L)
    assert(SnapshotTable.read(spark, sink).count() == rows1)
    assert(SnapshotTable.latestVersion(sink) == 1L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cursor)), "UTF-8").trim == "2")
    graft.Caches.clear()
  }

  test("a foreign-Delta tail releases its own step caches, never the caller's") {
    import graft.sources.IngestFixtures
    val foreign = IngestFixtures.ensureDeltaCdc(spark, Sf)
    val mine = Caches.track(spark.range(100).selectExpr("id * 3 AS x"))
    assert(mine.count() == 100L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cursor = scratchDir("graft_dtail_keep_cur") + "/cursor"
    assert(EventStreams.deltaTailOnce(spark, foreign,
      scratchDir("graft_dtail_keep_sink"), cursor, Seq("doc_id")) == 2L)
    assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    Caches.clear()
  }

  test("streaming IVM: the g40 change feed drives the g41 view across a crash/replay boundary") {
    import graft.sources.SnapshotTable
    // the SAME copy-on-write scenario batch g41 maintains (v0 base,
    // v1 merge, v2 replace-delete) — parity below is against the
    // from-scratch v2 recompute, exactly g41's full-outer check side
    val table = graft.geo.GeoQueries.cowScenario(spark, Sf, "ivm_stream",
      withReplace = true)
    val feed = scratchDir("graft_ivms_feed")
    val view = scratchDir("graft_ivms_view")
    val ckpt = scratchDir("graft_ivms_ckpt")
    val keys = Seq("tile_id", "lon", "lat")
    val bucket = (col("tile_id") / 50).cast("long").as("bucket")
    def census(df: org.apache.spark.sql.DataFrame) = df.groupBy(bucket)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("elevation").cast("long")).as("sum_elev"))
    // bootstrap: the one full scan an IVM system ever pays
    SnapshotTable.commit(spark, view,
      census(SnapshotTable.readVersion(spark, table, 0L)))
    val schema = SnapshotTable.changes(spark, table, 0L, 1L, keys).schema
    // v1's changes drop onto the feed; the stream maintains, then the
    // query dies (stop = the crash boundary — offsets are committed)
    EventStreams.changeFeedExport(spark, table, feed, 0L, 1L, keys)
    val q1 = EventStreams.ivmSink(
      EventStreams.changeFeedStream(spark, feed, schema), view, ckpt)
    q1.processAllAvailable(); q1.stop()
    val vAfter1 = SnapshotTable.latestVersion(view)
    assert(vAfter1 >= 1L)
    // foreachBatch's at-least-once contract: a crash between the sink
    // commit and the offset advance re-delivers epoch 0 — the txn
    // marker makes the replay a no-op (no new view version)
    EventStreams.ivmBatchMaintainer(view, EventStreams.ivmScope(ckpt))(
      spark.read.schema(schema).option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet").parquet(feed), 0L)
    assert(SnapshotTable.latestVersion(view) == vAfter1)
    // v2 drops; a FRESH query restarts from the checkpoint and
    // processes only the new files (the file-source log's replay
    // guarantee), advancing the view exactly once more
    EventStreams.changeFeedExport(spark, table, feed, 1L, 2L, keys)
    val q2 = EventStreams.ivmSink(
      EventStreams.changeFeedStream(spark, feed, schema), view, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(SnapshotTable.latestVersion(view) == vAfter1 + 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("bucket"), col("n_rows"), col("sum_elev")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(SnapshotTable.read(spark, view))
    val want = rows(census(SnapshotTable.readVersion(spark, table, 2L)))
    graft.Caches.clear()
    assert(want.nonEmpty && got == want)
  }

  test("streaming media manifest: stateless decode at arrival equals the batch m1 manifest") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val payloads = Multimodal.withPayload(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Multimodal.manifestFrame(mem.toDS()).toDF()
      .select("doc_id", "n_bytes", "width", "height", "channels", "phash")
      .writeStream.outputMode("append").format("memory").queryName("mm_stream").start()
    // two micro-batches: the decode is stateless, so the split point
    // cannot matter
    val (b1, b2) = payloads.splitAt(payloads.length / 2)
    mem.addData(b1.toIndexedSeq); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    q.stop()
    val got = spark.table("mm_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSet
    val want = Multimodal.manifest(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSet
    graft.Caches.clear()
    assert(want.nonEmpty && got == want)
  }

  test("transformWithState sessionize matches the fMGWS form row-for-row") {
    import graft.streaming.{EventStreams, SessionEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    // transformWithState supports only the RocksDB provider
    spark.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch1 = Seq(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
        SessionEvent(2L, Timestamp.valueOf("2024-01-01 10:00:00"), 8.0))
      val batch2 = Seq( // u1's gap closes s1 in-band, opens s2
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 11:30:00"), 4.0))
      val flush = Seq( // advances the watermark so open sessions time out
        SessionEvent(3L, Timestamp.valueOf("2024-01-01 20:00:00"), 0.5))
      def run(f: org.apache.spark.sql.Dataset[SessionEvent] =>
          org.apache.spark.sql.Dataset[SessionOut], name: String): Seq[SessionOut] = {
        val mem = MemoryStream[SessionEvent]
        val q = f(mem.toDS()).writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        mem.addData(batch1: _*); q.processAllAvailable()
        mem.addData(batch2: _*); q.processAllAvailable()
        mem.addData(flush: _*); q.processAllAvailable()
        q.stop()
        spark.table(name).as[SessionOut].collect().toSeq
      }
      val fmgws = run(EventStreams.sessionize(_), "tws_parity_a")
      val tws = run(EventStreams.sessionizeTws(_), "tws_parity_b")
      def ms(xs: Seq[SessionOut]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      assert(ms(tws) == ms(fmgws), s"tws=$tws fmgws=$fmgws")
      // both the in-band close (u1 s1) and the timer close (u1 s2,
      // u2 s1) paths produced rows
      assert(tws.exists(s => s.user_id == 1L && s.session_id == 1L && s.n_events == 2))
      assert(tws.exists(s => s.user_id == 1L && s.session_id == 2L))
      assert(tws.exists(s => s.user_id == 2L && s.session_id == 1L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerConf, v)
        case None    => spark.conf.unset(providerConf)
      }
    }
  }

  test("sessionize restarts from a RocksDB checkpoint with no loss and no duplicates") {
    // The failure mode a long-running deployment actually hits: the
    // query dies mid-stream and restarts from its checkpoint. Open
    // per-user session state must survive the restart (else counts
    // and session ids come out wrong) and batches committed before
    // the stop must not re-emit (else duplicates). The interrupted
    // run's combined output must equal an uninterrupted run's.
    import graft.streaming.{EventStreams, SessionEvent, SessionOut}
    implicit val sqlCtx = spark.sqlContext
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    spark.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = scratchDir("graft_recov_ckpt")
    try {
      val batch1 = Seq(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0), // u1 session 1
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 11:00:00"), 2.0), // closes it, opens s2
        SessionEvent(2L, Timestamp.valueOf("2024-01-01 10:00:00"), 8.0)) // u2 session 1 (open)
      val batch2 = Seq(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 11:05:00"), 4.0), // extends u1 s2
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.5), // closes u1 s2
        SessionEvent(2L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.25)) // closes u2 s1

      // the memory sink is not fault-tolerant (recovery is rejected);
      // the parquet file sink is the production sink — its metadata
      // log is what provides exactly-once across restarts.
      val outA = scratchDir("graft_recov_out_a")
      val outB = scratchDir("graft_recov_out_b")
      def rows(dir: String): Seq[SessionOut] =
        spark.read.schema(implicitly[org.apache.spark.sql.Encoder[SessionOut]].schema)
          .parquet(dir).as[SessionOut].collect().toSeq

      // interrupted run: batch1, STOP, restart from checkpoint, batch2
      val mem = MemoryStream[SessionEvent]
      val q1 = EventStreams.sessionize(mem.toDS())
        .writeStream.outputMode("append").format("parquet")
        .option("path", outA).option("checkpointLocation", ckpt).start()
      mem.addData(batch1: _*)
      q1.processAllAvailable()
      q1.stop() // u1 s2 and u2 s1 are OPEN state in the checkpoint here
      val phase1 = rows(outA)
      val q2 = EventStreams.sessionize(mem.toDS())
        .writeStream.outputMode("append").format("parquet")
        .option("path", outA).option("checkpointLocation", ckpt).start()
      mem.addData(batch2: _*)
      q2.processAllAvailable()
      q2.stop()
      val combined = rows(outA)

      // uninterrupted run: same batches, fresh checkpoint
      val mem2 = MemoryStream[SessionEvent]
      val qb = EventStreams.sessionize(mem2.toDS())
        .writeStream.outputMode("append").format("parquet")
        .option("path", outB)
        .option("checkpointLocation", scratchDir("graft_recov_ckpt_b")).start()
      mem2.addData(batch1: _*)
      qb.processAllAvailable()
      mem2.addData(batch2: _*)
      qb.processAllAvailable()
      qb.stop()
      val uninterrupted = rows(outB)

      // multiset compare: catches loss AND duplicates
      def ms(xs: Seq[SessionOut]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      assert(phase1.nonEmpty, "no session closed before the stop")
      assert(ms(combined) == ms(uninterrupted),
        s"interrupted=$combined uninterrupted=$uninterrupted")
      // and the recovered state really carried across the restart:
      // u1's second session spans both sides of the stop
      val s2 = combined.find(s => s.user_id == 1L && s.session_id == 2L).get
      assert(s2.n_events == 2 && s2.value_cents == 600)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerConf, v)
        case None    => spark.conf.unset(providerConf)
      }
    }
  }

  test("stream-stream interval join attributes purchases to clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.clickPurchaseJoin(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.outputMode("append").format("memory").queryName("attr_out").start()
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
      (2L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L),
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 8L))
    purchases.addData(
      (101L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L), // within 30m of click 1
      (102L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L), // outside any window
      (103L, Timestamp.valueOf("2024-01-01 10:10:00"), 9L)) // no such user clicked
    q.processAllAvailable()
    val got = spark.table("attr_out")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((1L, 101L)))
  }

  test("streaming Benford monitor: per-window digit census, ppm math, watermark emission") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = EventStreams.benfordStream(mem.toDF().toDF("ts", "cents"))
      .writeStream.outputMode("append").format("memory").queryName("benford_out").start()
    // window 1: digits 1,1,2 plus a refund and a zero (excluded);
    // window 2: digit 9; window 3: refunds ONLY
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 123L),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 150L),
      (Timestamp.valueOf("2024-01-01 10:02:00"), 20000L),
      (Timestamp.valueOf("2024-01-01 10:03:00"), -12345L),
      (Timestamp.valueOf("2024-01-01 10:04:00"), 0L),
      (Timestamp.valueOf("2024-01-01 10:15:00"), 900L),
      (Timestamp.valueOf("2024-01-01 10:25:00"), -7L))
    q.processAllAvailable()
    // advance the watermark far enough to close all three windows
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 555L))
    q.processAllAvailable()
    val got = spark.table("benford_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))))
      .toMap
    q.stop()
    val w1 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val w2 = Timestamp.valueOf("2024-01-01 10:10:00").getTime / 1000
    val w3 = Timestamp.valueOf("2024-01-01 10:20:00").getTime / 1000
    // zero-count digits are filtered; censuses and ppm are exact
    // integers; exclusions surface as digit-0 rows — a refund-only
    // window still emits
    assert(got.keySet == Set((w1, 0L), (w1, 1L), (w1, 2L), (w2, 9L), (w3, 0L)))
    assert(got((w1, 0L)) == ((2L, None, None, None)))
    assert(got((w1, 1L)) == ((2L, Some(666666L), Some(301030L), Some(365636L))))
    assert(got((w1, 2L)) == ((1L, Some(333333L), Some(176091L), Some(157242L))))
    assert(got((w2, 9L)) == ((1L, Some(1000000L), Some(45757L), Some(954243L))))
    assert(got((w3, 0L)) == ((1L, None, None, None)))
  }

  test("left-semi interval join emits each converting click exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.clickPurchaseJoinSemi(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.outputMode("append").format("memory").queryName("attr_semi").start()
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L), // two purchases in window
      (2L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L), // none
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 8L)) // user never purchases
    purchases.addData(
      (101L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L),
      (102L, Timestamp.valueOf("2024-01-01 10:20:00"), 7L),
      (103L, Timestamp.valueOf("2024-01-01 10:10:00"), 9L))
    q.processAllAvailable()
    val got = spark.table("attr_semi").select("click_id").as[Long].collect().toSeq
    q.stop()
    // click 1 once (semi dedups its two matches), clicks 2/3 never
    assert(got == Seq(1L))
  }

  test("left-outer interval join emits unmatched clicks once the watermark proves no match") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.clickPurchaseJoinOuter(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.outputMode("append").format("memory").queryName("attr_outer").start()
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
      (2L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L), // no purchase in window
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 8L)) // user never purchases
    purchases.addData(
      (101L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L),
      (102L, Timestamp.valueOf("2024-01-01 11:00:00"), 7L))
    q.processAllAvailable()
    // advance BOTH watermarks far past every click's join horizon
    // (ts + 30 min window + 1 h delay) so unmatched state evicts
    clicks.addData((90L, Timestamp.valueOf("2024-01-02 10:00:00"), 7L))
    purchases.addData((190L, Timestamp.valueOf("2024-01-02 10:00:00"), 9L))
    q.processAllAvailable()
    clicks.addData((91L, Timestamp.valueOf("2024-01-02 12:00:00"), 7L))
    purchases.addData((191L, Timestamp.valueOf("2024-01-02 12:00:00"), 9L))
    q.processAllAvailable()
    val got = spark.table("attr_outer")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    q.stop()
    assert(got.contains((1L, 101L)))       // the conversion
    assert(got.contains((2L, -1L)))        // in-window purchase absent
    assert(got.contains((3L, -1L)))        // user never purchased
    assert(!got.exists(p => p._1 == 1L && p._2 == -1L)) // matched click has no null row
  }

  test("full-outer interval join surfaces unmatched rows from BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.clickPurchaseJoinFull(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.outputMode("append").format("memory").queryName("attr_full").start()
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L), // converts (101)
      (2L, Timestamp.valueOf("2024-01-01 12:00:00"), 7L), // no purchase in window
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 8L)) // user never purchases
    purchases.addData(
      (101L, Timestamp.valueOf("2024-01-01 10:10:00"), 7L), // the conversion
      (103L, Timestamp.valueOf("2024-01-01 10:10:00"), 9L), // user never clicked
      (104L, Timestamp.valueOf("2024-01-01 09:00:00"), 7L)) // precedes every click
    q.processAllAvailable()
    // advance BOTH watermarks far past every row's join horizon so
    // unmatched state on both sides evicts and null-pads
    clicks.addData((90L, Timestamp.valueOf("2024-01-02 10:00:00"), 17L))
    purchases.addData((190L, Timestamp.valueOf("2024-01-02 10:00:00"), 19L))
    q.processAllAvailable()
    clicks.addData((91L, Timestamp.valueOf("2024-01-02 12:00:00"), 17L))
    purchases.addData((191L, Timestamp.valueOf("2024-01-02 12:00:00"), 19L))
    q.processAllAvailable()
    val got = spark.table("attr_full")
      .select("click_id", "purchase_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    q.stop()
    assert(got.contains((1L, 101L)))  // the conversion, matched once
    assert(got.contains((2L, -1L)))   // unmatched click: in-window purchase absent
    assert(got.contains((3L, -1L)))   // unmatched click: user never purchased
    assert(got.contains((-1L, 103L))) // unmatched purchase: user never clicked
    assert(got.contains((-1L, 104L))) // unmatched purchase: precedes every click
    // matched rows never ALSO emit null-padded
    assert(!got.contains((1L, -1L)) && !got.contains((-1L, 101L)))
  }

  test("streaming near-dup emits exactly the batch d2 pair set on the same corpus") {
    import graft.streaming.DocEvent
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), t0, r.getString(1)))
    val mem = MemoryStream[DocEvent]
    val q = EventStreams.nearDupStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("neardup_out").start()
    mem.addData(docs.toIndexedSeq)
    q.processAllAvailable()
    // at-least-once per shared band → distinct, then exact set-compare
    val got = spark.table("neardup_out")
      .select("id_a", "id_b", "inter_sz", "union_sz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    val want = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    graft.Caches.clear()
    assert(want.nonEmpty && got == want)
  }

  test("near-dup state ages out with the watermark: an evicted doc pairs no more") {
    import graft.streaming.DocEvent
    implicit val sqlCtx = spark.sqlContext
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val mem = MemoryStream[DocEvent]
    val q = EventStreams.nearDupStream(mem.toDS(), ttlMinutes = 10).toDF()
      .writeStream.outputMode("append").format("memory").queryName("neardup_ttl_out").start()
    mem.addData(DocEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00"), text))
    q.processAllAvailable()
    // an unrelated far-future doc pushes the watermark past doc 1's horizon
    mem.addData(DocEvent(2L, Timestamp.valueOf("2024-01-01 11:00:00"),
      "totally different words in here entirely unrelated content stream"))
    q.processAllAvailable()
    // doc 1's exact twin arrives after eviction: no pair may surface
    mem.addData(DocEvent(3L, Timestamp.valueOf("2024-01-01 11:01:00"), text))
    q.processAllAvailable()
    assert(spark.table("neardup_ttl_out").count() == 0)
    // control: a twin arriving WITHIN the horizon pairs immediately
    mem.addData(DocEvent(4L, Timestamp.valueOf("2024-01-01 11:02:00"), text))
    q.processAllAvailable()
    val pairs = spark.table("neardup_ttl_out")
      .select("id_a", "id_b", "inter_sz", "union_sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(pairs.map(p => (p._1, p._2)) == Set((3L, 4L)))
    pairs.foreach(p => assert(p._3 == p._4 && p._3 > 0)) // exact twin: J = 1
  }

  test("streaming funnel matches batch q34 stages on a randomized in-order corpus") {
    import graft.streaming.FunnelEvent
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val types = Seq("signup", "view", "click", "purchase", "error")
    val dir = scratchDir("graft_sfunnel")
    val rows = (0 until 2000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + rnd.nextInt(100000) * 1000L),
        rnd.nextInt(40).toLong, types(rnd.nextInt(types.length)), 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Relational.q34Funnel(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(5), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4))))).toMap
    val mem = MemoryStream[FunnelEvent]
    val q = EventStreams.funnelStream(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("funnel_out").start()
    // two micro-batches, split where event time strictly increases so
    // the stream is in order ACROSS batches too
    val evs = rows.sortBy(_._2.getTime).map(r => FunnelEvent(r._3, r._2, r._4))
    var cut = evs.length / 2
    while (cut < evs.length && evs(cut - 1).ts == evs(cut).ts) cut += 1
    mem.addData(evs.take(cut)); q.processAllAvailable()
    mem.addData(evs.drop(cut)); q.processAllAvailable()
    // final (max-stage) snapshot per user ≡ the batch chain of minimums
    val fin = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), (r.getInt(1), Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4)), Option(r.get(5)))))
      .groupBy(_._1).map { case (u, snaps) => u -> snaps.map(_._2).maxBy(_._1) }
    q.stop()
    val reached = batch.filter(_._2._1 >= 1)
    assert(fin.keySet == reached.keySet) // stage-0 users emit nothing
    reached.foreach { case (u, exp) => assert(fin(u) == exp, s"user $u") }
    assert(reached.values.exists(_._1 == 4)) // corpus exercises full depth
  }

  test("file-source ingest picks up only newly arrived files per trigger") {
    import spark.implicits._
    val dir = scratchDir("graft_ingest")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v DOUBLE")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val q = EventStreams.fileIngest(spark, dir, schema)
      .writeStream.outputMode("append").format("memory").queryName("ingest_out").start()
    q.processAllAvailable()
    assert(spark.table("ingest_out").count() == 2)
    Seq((3L, 3.0)).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    assert(spark.table("ingest_out").count() == 3) // incremental, no re-read
    q.stop()
  }

  test("streaming heavy hitters: MG guarantees hold across micro-batches") {
    import graft.streaming.DocEvent
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val width = 8; val nShards = 4
    // planted stream: "hot" floods every batch; filler terms rotate so
    // the vocabulary far exceeds nShards*width counters of state
    def doc(id: Long, t: String) = DocEvent(id, t0, t)
    val batches = (0 until 3).map { b =>
      (0 until 40).map(i => doc(b * 100 + i,
        s"hot hot hot filler${b}_${i} rare${(b * 40 + i) % 90}"))
    }
    val mem = MemoryStream[DocEvent]
    val q = EventStreams.heavyHittersStream(mem.toDS(), width, nShards).toDF()
      .writeStream.outputMode("update").format("memory").queryName("hh_out").start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    // last snapshot per shard = the final summaries
    val snaps = spark.table("hh_out").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[String](2), r.getSeq[Long](3)))
    q.stop()
    val fin = snaps.groupBy(_._1).map { case (sh, v) => sh -> v.last }
    // true per-shard counts from the same corpus
    val words = batches.flatten.flatMap(_.text.split(" ")).filter(_.nonEmpty)
    def shardOf(t: String): Int = {
      val df = Seq(t).toDF("term")
        .select(pmod(xxhash64(col("term")), lit(nShards)).cast("int")).collect()
      df.head.getInt(0)
    }
    val hotShard = shardOf("hot")
    val (_, n, terms, cnts) = fin(hotShard)
    val trueHot = words.count(_ == "hot").toLong
    // no false negative: hot exceeds n/(width+1) in its shard, must
    // be present with counter within the MG undercount bound
    assert(trueHot > n / (width + 1))
    val idx = terms.indexOf("hot")
    assert(idx >= 0)
    assert(cnts(idx) <= trueHot && trueHot - cnts(idx) <= n / (width + 1))
    // bounded state: every shard's summary holds at most width entries
    fin.values.foreach { case (_, _, ts, _) => assert(ts.size <= width) }
    // totals reconcile: shard n's sum to the corpus token count
    assert(fin.values.map(_._2).sum == words.size.toLong)
  }
}
