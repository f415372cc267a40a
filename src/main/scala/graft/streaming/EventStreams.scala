package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A raw event for stateful sessionization. */
case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

/** A purchase-like event for the streaming as-of join. */
case class KeyedEvent(event_id: Long, user_id: Long, ts: Timestamp)

/** Per-user as-of index: order (epoch-ms, orderkey) pairs sorted by
  * time — the stream-side state.
  */
case class OrderIndex(ms: Seq[Long], keys: Seq[Long])

/** A streamed event enriched with its as-of order. */
case class AsofOut(event_id: Long, user_id: Long, ts_epoch: Long,
    asof_orderkey: Option[Long])

/** Accumulating per-user session state. */
case class SessionState(sessionId: Long, startMs: Long, lastMs: Long,
    nEvents: Long, valueCents: Long)

/** An emitted (closed or in-progress snapshot) session. */
case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
    start_epoch: Long, end_epoch: Long, value_cents: Long)

/** A document arriving on a stream for near-dup detection. */
case class DocEvent(doc_id: Long, ts: Timestamp, text: String)

/** A typed event for the streaming funnel. */
case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)

/** Per-user funnel state: stage times in epoch micros, None = not
  * reached. Four optional longs — bounded regardless of stream length.
  */
case class FunnelState(t1: Option[Long], t2: Option[Long],
    t3: Option[Long], t4: Option[Long])

/** Emitted on each stage advance: the user's funnel snapshot. */
case class FunnelOut(user_id: Long, stage_reached: Int,
    t_signup: Option[Long], t_view: Option[Long], t_click: Option[Long],
    t_purchase: Option[Long])

/** One doc landing in one LSH band bucket (streaming near-dup);
  * carries the watermarked event-time column itself — the unsupported-
  * operation checker requires it present in the FMGWS input.
  */
case class BandRow(bkey: Long, doc_id: Long, ts: Timestamp, fh: Seq[Long])

/** Per-band-bucket state: docs seen within the watermark horizon. */
case class BandBucket(ids: Seq[Long], ms: Seq[Long], fhs: Seq[Seq[Long]])

/** An emitted near-dup pair; `ts` is the later doc's event time. */
case class PairOut(id_a: Long, id_b: Long, inter_sz: Long, union_sz: Long, ts: Timestamp)

/** Structured Streaming operators over the events stream. Each
  * transform takes a DataFrame so the same logic runs on a batch
  * frame (oracle-checked via Relational.q12EventsWindow) and on a
  * `readStream`/MemoryStream frame (asserted in StreamingSpec).
  */
object EventStreams {

  /** Tumbling 1-hour window per event type with a 1-hour watermark —
    * the streaming twin of q12. State is bounded by the watermark;
    * partial aggregation keeps the shuffle to one round per trigger.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Streaming twin of q61: per-window BENFORD first-digit drift
    * monitor — the data-quality alarm run against a live payment/
    * price stream (a window whose digit mix departs the Benford
    * expectation flags an upstream bug or fraud burst the moment the
    * watermark closes the window). Streaming forbids a second
    * aggregation, so the window total never needs one: the NINE digit
    * counts pivot into ONE row per window (conditional sums — a
    * single watermark-bounded agg), and every ppm column is a
    * stateless projection over that row; the expected-ppm table is
    * the same published constant array q61 ships. Benford is only
    * defined on POSITIVE amounts — zero and negative values (refunds,
    * voids) are excluded from the census but NEVER silently: they
    * surface as a DIGIT-0 row (null ppm columns), so a refund burst
    * is itself visible even in a window with no valid amounts at
    * all. Emission is append-mode at watermark close; state is one
    * 11-long row per open window.
    */
  def benfordStream(values: DataFrame, windowMinutes: Int = 10): DataFrame = {
    // try_cast: a negative amount's first char is '-', which an ANSI
    // cast rejects loudly — here it must classify as excluded instead
    val digit = expr("try_cast(substring(cast(cents as string), 1, 1) as int)")
    val counts = (1 to 9).map(d =>
      sum(when(digit === d, 1L).otherwise(0L)).as(s"n$d")) :+
      sum(when(digit.between(1, 9), 0L).otherwise(1L)).as("n_excluded")
    val exp = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val expCol = element_at(array(exp.map(lit): _*), col("digit").cast("int"))
    values
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$windowMinutes minutes").as("w"))
      .agg(counts.head, counts.tail: _*)
      // the window total is the ROW-LOCAL sum of the nine pivoted
      // counts — no second aggregation, no window function (both are
      // illegal downstream of a streaming agg)
      .withColumn("total", (1 to 9).map(d => col(s"n$d")).reduce(_ + _))
      .select(unix_timestamp(col("w.start")).as("win_epoch"), col("total"),
        posexplode(array(col("n_excluded") +:
          (1 to 9).map(d => col(s"n$d")): _*)))
      .select(col("win_epoch"), col("total"),
        col("pos").cast("long").as("digit"), col("col").as("n"))
      .filter(col("n") > 0)
      .select(col("win_epoch"), col("digit"), col("n"),
        when(col("digit") === 0, lit(null).cast("long"))
          .otherwise(expr("(n * CAST(1000000 AS BIGINT)) div total"))
          .as("obs_ppm"),
        when(col("digit") === 0, lit(null).cast("long")).otherwise(expCol)
          .as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
  }

  /** Streaming twin of q38: a RETRACTABLE aggregate maintained from a
    * CDC change stream — Flink's retract semantics re-expressed as a
    * plain signed fold, legal because count/sum form an abelian group
    * (the same algebra q38 applies in batch): an `I` row contributes
    * +1/+cents, a `D` row −1/−cents, and the running group state is
    * their sum. State = one row per group key (bounded by group
    * cardinality, not stream length); update mode emits only groups a
    * trigger changed. Input schema: (op: I|D, o_orderpriority,
    * cents). StreamingSpec feeds the q38 CDC batches through
    * micro-batches and asserts the final state is row-identical to
    * the batch (oracle-checked) q38 result.
    */
  def retractableAgg(changes: DataFrame): DataFrame =
    changes.select(col("o_orderpriority"),
        when(col("op") === "I", 1L).otherwise(-1L).as("sgn"), col("cents"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("sgn")).as("n_orders"),
        sum(col("sgn") * col("cents")).as("total_cents"))

  /** Streaming twin of q13: gap-based (30 min) sessionization with
    * explicit state via flatMapGroupsWithState under EVENT-TIME
    * timeouts. A session closes when a same-user event arrives ≥ gap
    * later (emitted immediately) or when the watermark passes its
    * last-event-time + gap (emitted by the timeout branch). State per
    * user is one SessionState — bounded regardless of stream length.
    * (Processing-time timeouts are deliberately avoided: they make
    * the engine re-trigger micro-batches forever, which also breaks
    * `processAllAvailable` in tests.)
    */
  val SessionGapMs: Long = 30L * 60 * 1000

  def sessionize(events: Dataset[SessionEvent],
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessionFn)
  }

  private[graft] def sessionFn(userId: Long, events: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(emit(userId, _)).iterator
      state.remove()
      return out
    }
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var cur    = state.getOption
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val ms    = e.ts.getTime
      val cents = math.round(e.value * 100)
      cur match {
        case Some(st) if ms - st.lastMs <= SessionGapMs =>
          // out-of-order (above-watermark) events fold in without
          // regressing the session bounds: end never moves backwards,
          // start never moves forwards
          cur = Some(st.copy(startMs = math.min(st.startMs, ms),
            lastMs = math.max(st.lastMs, ms), nEvents = st.nEvents + 1,
            valueCents = st.valueCents + cents))
        case Some(st) =>
          closed += emit(userId, st)
          cur = Some(SessionState(st.sessionId + 1, ms, ms, 1, cents))
        case None =>
          cur = Some(SessionState(1, ms, ms, 1, cents))
      }
    }
    cur.foreach { st =>
      state.update(st)
      // timeout fires when the watermark passes last event + gap; must
      // stay above the current watermark or the API rejects it
      state.setTimeoutTimestamp(
        math.max(st.lastMs + SessionGapMs, state.getCurrentWatermarkMs() + 1))
    }
    closed.result().iterator
  }

  private def emit(userId: Long, st: SessionState): SessionOut =
    SessionOut(userId, st.sessionId, st.nEvents, st.startMs / 1000, st.lastMs / 1000,
      st.valueCents)

  /** Sessionize on TRANSFORMWITHSTATE — Spark 4's arbitrary-state
    * operator (the fMGWS successor: typed state variables, first-class
    * timers, state schema evolution): IDENTICAL semantics to
    * [[sessionize]] — the same greedy fold closes a session when a
    * same-user event arrives past the gap, and a registered
    * EVENT-TIME TIMER (handleExpiredTimer, re-armed on every update)
    * closes the final open session when the watermark passes
    * last + gap. State per user is one typed ValueState[SessionState]
    * — bounded as before. StreamingSpec asserts row-for-row parity
    * with the fMGWS form on the same multi-batch input. Requires the
    * RocksDB state store provider (the only one transformWithState
    * supports).
    */
  def sessionizeTws(events: Dataset[SessionEvent],
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  private[graft] class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, SessionOut] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[SessionEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var cur: Option[SessionState] = if (state.exists()) Some(state.get()) else None
      val closed = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val ms    = e.ts.getTime
        val cents = math.round(e.value * 100)
        cur match {
          case Some(st) if ms - st.lastMs <= SessionGapMs =>
            cur = Some(st.copy(startMs = math.min(st.startMs, ms),
              lastMs = math.max(st.lastMs, ms), nEvents = st.nEvents + 1,
              valueCents = st.valueCents + cents))
          case Some(st) =>
            closed += emit(userId, st)
            cur = Some(SessionState(st.sessionId + 1, ms, ms, 1, cents))
          case None =>
            cur = Some(SessionState(1, ms, ms, 1, cents))
        }
      }
      cur.foreach { st =>
        state.update(st)
        // re-arm: timers are per-(key, timestamp) and additive, so
        // every stale deadline must be deleted or it still fires
        val next = math.max(st.lastMs + SessionGapMs, timers.getCurrentWatermarkInMs() + 1)
        val existing = getHandle.listTimers().toSeq
        existing.filter(_ != next)
          .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        if (!existing.contains(next)) getHandle.registerTimer(next)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(userId: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val out = if (state.exists()) Iterator(emit(userId, state.get())) else Iterator.empty
      state.clear()
      out
    }
  }

  /** Streaming twin of q14's as-of join: each streamed event is
    * enriched with the most recent order (t ≤ event time) of its
    * user. The per-user sorted order index arrives as INITIAL STATE
    * (`flatMapGroupsWithState(initialState = ...)`) built once from
    * the batch orders table; each event then binary-searches its
    * user's index — no stream-side shuffle beyond the groupByKey, no
    * re-scan of orders per trigger. State is the per-user order
    * index (bounded by that user's order count; production systems
    * cap it with a time-horizon cut when building the index).
    */
  def asofStream(events: Dataset[KeyedEvent],
      orders: DataFrame): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    val init = orders
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(
        (unix_timestamp(col("o_orderdate")) * 1000).as("ms"),
        col("o_orderkey").as("key")))).as("idx"))
      .select(col("o_custkey"), col("idx.ms").as("ms"), col("idx.key").as("keys"))
      .as[(Long, Seq[Long], Seq[Long])]
      .groupByKey(_._1)
      .mapValues(r => OrderIndex(r._2, r._3))
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OrderIndex, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), init)(asofFn)
  }

  private[graft] def asofFn(userId: Long, events: Iterator[KeyedEvent],
      state: GroupState[OrderIndex]): Iterator[AsofOut] = {
    val idx = state.getOption.getOrElse(OrderIndex(Nil, Nil))
    val ms = idx.ms.toArray
    events.map { e =>
      val t = e.ts.getTime
      // last index with ms <= t
      var lb = 0; var ub = ms.length
      while (lb < ub) {
        val mid = (lb + ub) >>> 1
        if (ms(mid) <= t) lb = mid + 1 else ub = mid
      }
      AsofOut(e.event_id, userId, t / 1000,
        if (lb > 0) Some(idx.keys(lb - 1)) else None)
    }
  }

  /** Streaming twin of d1's exact dedup: one surviving row per
    * content hash over a document stream. State (one hash per unique
    * document) is bounded by the event-time watermark — duplicates
    * arriving within the watermark window are dropped exactly like
    * the batch hash-groupBy; hashes older than the watermark age out
    * of state, which is the only state policy that survives an
    * unbounded stream.
    */
  /** Streaming twin of q34's conversion funnel: a per-user stage
    * machine in `flatMapGroupsWithState`. Each micro-batch's events
    * sort by (event-micros, stage rank) — the tie rule that matches
    * the batch operator's INCLUSIVE `ts >= prev` bound — and fold
    * through the state greedily: a stage records the first eligible
    * event at/after the previous stage's time, which on an in-order
    * stream is exactly the batch chain of stage-wise minimums
    * (greedy-earliest ≡ chained min under a time-ordered scan;
    * StreamingSpec asserts parity against Relational.q34Funnel on a
    * randomized corpus). A snapshot row is emitted on every advance —
    * the "conversion event" feed a product pipeline tails. State is
    * four optional longs per user (no event history), so it is
    * bounded by the user population, not the stream; late
    * (cross-batch out-of-order) events can only under-report a stage,
    * never corrupt one — the prereq-time guard rides each transition.
    */
  private val StageOf = Map("signup" -> 1, "view" -> 2, "click" -> 3, "purchase" -> 4)

  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(funnelFn)
  }

  private[graft] def funnelFn(userId: Long, events: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelOut] = {
    var st = state.getOption.getOrElse(FunnelState(None, None, None, None))
    val out = Seq.newBuilder[FunnelOut]
    def stageReached(s: FunnelState): Int =
      if (s.t4.isDefined) 4 else if (s.t3.isDefined) 3
      else if (s.t2.isDefined) 2 else if (s.t1.isDefined) 1 else 0
    events.toSeq
      .flatMap { e =>
        val i = e.ts.toInstant
        StageOf.get(e.event_type)
          .map(r => (i.getEpochSecond * 1000000L + i.getNano / 1000L, r))
      }
      .sorted
      .foreach { case (us, stage) =>
        val next = stage match {
          case 1 if st.t1.isEmpty                          => Some(st.copy(t1 = Some(us)))
          case 2 if st.t2.isEmpty && st.t1.exists(_ <= us) => Some(st.copy(t2 = Some(us)))
          case 3 if st.t3.isEmpty && st.t2.exists(_ <= us) => Some(st.copy(t3 = Some(us)))
          case 4 if st.t4.isEmpty && st.t3.exists(_ <= us) => Some(st.copy(t4 = Some(us)))
          case _                                           => None
        }
        next.foreach { ns =>
          st = ns
          out += FunnelOut(userId, stageReached(ns), ns.t1, ns.t2, ns.t3, ns.t4)
        }
      }
    state.update(st)
    out.result().iterator
  }

  def dedupStream(docs: org.apache.spark.sql.DataFrame,
      watermarkDelay: String = "10 minutes"): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("content_hash",
        org.apache.spark.sql.functions.md5(graft.functions.TextFns.normalize(
          org.apache.spark.sql.functions.col("text"))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming twin of d2's MinHash-LSH near-dup: documents band into
    * the SAME 32×4 LSH buckets as the batch operator (identical
    * kernels — fold32 → minhash_sig → bandKeys), and each band bucket
    * keeps flatMapGroupsWithState state of the docs seen within the
    * watermark horizon; a new arrival exact-verifies (word-3-shingle
    * Jaccard on the stored hash sets) against its bucket's members
    * and emits qualifying pairs immediately. State per bucket is
    * bounded by the event-time timeout: members older than the
    * watermark age out exactly like dedupStream's hashes — the only
    * policy that survives an unbounded stream. Shuffle is one
    * hash-partition on the band key per trigger, the streaming analog
    * of the batch candidate join.
    *
    * Emission is AT-LEAST-ONCE per pair: docs sharing several bands
    * emit once per shared band (a band's state knows nothing of other
    * bands). The batch operator's `distinct()` becomes, in streaming,
    * either a downstream keyed sink upsert (the production shape) or
    * a chained dropDuplicatesWithinWatermark — StreamingSpec asserts
    * the DISTINCT pair set equals batch d2 on the same corpus.
    *
    * STATE SIZE: each doc's full shingle-hash array is stored once
    * PER BAND — a 32× amplification over the corpus working set
    * (band state is self-contained by design: exact verification
    * never crosses state keys, so a bucket can verify its own members
    * with no second lookup). The real state dial is therefore
    * `ttlMinutes` × arrival rate × nBands × avg shingle count; on a
    * high-rate stream with a long watermark, shrink the TTL (or move
    * to a doc-keyed fh store + id-only band buckets, trading a
    * stream-stream join per verification) before the state store
    * becomes the bottleneck — RocksDB state (StreamingSpec's parity
    * run) extends the runway but not the asymptote.
    */
  def nearDupStream(docs: Dataset[DocEvent], threshold: Double = 0.8,
      ttlMinutes: Int = 10): Dataset[PairOut] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.graft.ArrayExprs
    import graft.operators.Dedup
    // validate the TENTHS contract exactly once, with the SAME check
    // the batch path runs (Dedup.tauRational) — a non-tenth threshold
    // (e.g. 0.75) throws here instead of silently rounding to 0.8,
    // which would break the documented batch/streaming parity
    val (tauNum, _) = Dedup.tauRational(threshold)
    val nBands = 32; val nRows = 4
    docs.toDF()
      .withWatermark("ts", s"$ttlMinutes minutes")
      .select(col("doc_id"), col("ts"),
        ArrayExprs.word_shingle_hashes(
          graft.functions.TextFns.normalize(col("text")), 3).as("fh"))
      // sig MUST be its own projection attribute: inlined inside
      // bandKeys' transform lambda it would re-run the full
      // 128-permutation signature once per band (pitfall (a))
      .select(col("doc_id"), col("ts"), col("fh"),
        ArrayExprs.minhash_sig(Dedup.fold32(col("fh")),
          Dedup.permA.take(nBands * nRows), Dedup.permB.take(nBands * nRows),
          Dedup.P32).as("sig"))
      .select(col("doc_id"), col("ts"), col("fh"),
        explode(Dedup.bandKeys(col("sig"), nBands, nRows)).as("bkey"))
      .select(col("bkey"), col("doc_id"), col("ts"), col("fh")).as[BandRow]
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        nearDupFn(tauNum, ttlMinutes * 60000L))
  }

  private[graft] def nearDupFn(tauNum: Int, ttlMs: Long)(
      @annotation.unused bkey: Long, rows: Iterator[BandRow],
      state: GroupState[BandBucket]): Iterator[PairOut] = {
    if (state.hasTimedOut) {
      // age out members the watermark has passed; drop empty buckets
      val wm = state.getCurrentWatermarkMs()
      val b = state.get
      val keep = b.ids.indices.filter(i => b.ms(i) >= wm)
      if (keep.isEmpty) state.remove()
      else {
        state.update(BandBucket(keep.map(b.ids), keep.map(b.ms), keep.map(b.fhs)))
        state.setTimeoutTimestamp(keep.map(b.ms).max + ttlMs)
      }
      Iterator.empty
    } else {
      val cur = state.getOption.getOrElse(BandBucket(Nil, Nil, Nil))
      // the timeout branch only fires for buckets with NO data this
      // batch — a bucket receiving data evicts its expired members
      // here, so a late twin of an aged-out doc cannot pair with it
      val wm = state.getCurrentWatermarkMs()
      val live = cur.ids.indices.filter(i => cur.ms(i) >= wm)
      val ids = live.map(cur.ids).toBuffer
      val mss = live.map(cur.ms).toBuffer
      val fhs = live.map(cur.fhs).toBuffer
      val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
      // deterministic fold order so a batch-internal pair is emitted
      // with the later doc as the arrival regardless of row order
      rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
        if (!ids.contains(r.doc_id)) {
          val rMs = r.ts.getTime
          val set = r.fh.toSet
          var i = 0
          while (i < ids.length) {
            val other = fhs(i)
            val inter = other.count(set.contains).toLong
            val union = set.size + other.size - inter
            // EXACT rational threshold (tenths, validated by
            // tauRational at operator construction), matching batch
            // verifyJaccard's integer cross-multiplication — the
            // parity contract is set-identical with no rounding step
            if (inter * 10 >= union * tauNum) out += PairOut(
              math.min(r.doc_id, ids(i)), math.max(r.doc_id, ids(i)),
              inter, union, new Timestamp(math.max(rMs, mss(i))))
            i += 1
          }
          ids += r.doc_id; mss += rMs; fhs += r.fh
        }
      }
      state.update(BandBucket(ids.toSeq, mss.toSeq, fhs.toSeq))
      state.setTimeoutTimestamp(mss.max + ttlMs)
      out.iterator
    }
  }

  /** STREAM-STREAM interval join: each click pairs with the same
    * user's purchases landing within `windowMinutes` AFTER it — the
    * attribution join every event pipeline runs. Both sides carry
    * watermarks and the join condition bounds purchase time relative
    * to click time, so the engine can size per-key state and EVICT
    * rows once the watermark passes their join horizon — without the
    * time bound a stream-stream join would buffer both streams
    * forever. State is keyed by user_id (the equi-part of the
    * condition); shuffle is one hash-partition per side per trigger.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p,
        expr(s"""c.user_id = p.user_id AND
                 |p.ts >= c.ts AND
                 |p.ts <= c.ts + INTERVAL $windowMinutes minutes""".stripMargin))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        unix_timestamp(col("c.ts")).as("click_epoch"),
        unix_timestamp(col("p.ts")).as("purchase_epoch"))
  }

  /** LEFT-OUTER stream-stream interval join: [[clickPurchaseJoin]]
    * plus the unmatched side — a click with no purchase in its window
    * emits (click, null) once the watermark passes the click's join
    * horizon (click ts + window + watermark delay), which is when the
    * engine can PROVE no matching purchase can still arrive. This is
    * the "conversion AND abandonment" form of the attribution join —
    * the unmatched rows are the negative training examples / funnel
    * drop-offs a pipeline needs as much as the conversions. Same
    * bounded state as the inner form: the outer row is emitted at
    * state eviction time, so no extra buffering.
    */
  def clickPurchaseJoinOuter(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p,
        expr(s"""c.user_id = p.user_id AND
                 |p.ts >= c.ts AND
                 |p.ts <= c.ts + INTERVAL $windowMinutes minutes""".stripMargin),
        "left_outer")
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        unix_timestamp(col("c.ts")).as("click_epoch"),
        unix_timestamp(col("p.ts")).as("purchase_epoch"))
  }

  /** LEFT-SEMI stream-stream interval join — the third join type
    * beside the inner and left-outer attribution forms: WHICH clicks
    * converted, one row per click however many purchases land in its
    * window (the semi join IS the dedup — no downstream distinct, no
    * purchase columns leak). Same watermark-bounded state as the
    * inner form; a click emits as soon as its first match arrives
    * and its state retires at the same horizon.
    */
  def clickPurchaseJoinSemi(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p,
        expr(s"""c.user_id = p.user_id AND
                 |p.ts >= c.ts AND
                 |p.ts <= c.ts + INTERVAL $windowMinutes minutes""".stripMargin),
        "left_semi")
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"),
        unix_timestamp(col("c.ts")).as("click_epoch"))
  }

  /** FULL-OUTER stream-stream interval join — the fourth member of
    * the join family (inner / left-outer / left-semi above): both
    * unmatched sides surface. Unmatched CLICKS are the abandonment
    * rows the left-outer form already emits; unmatched PURCHASES are
    * the inventory-side attribution gap — conversions with no
    * preceding click (direct traffic, lost click events, bot
    * purchases), which a revenue-reconciliation pipeline needs to
    * account for every sale. Each side's null-padded row emits once
    * the watermark passes ITS join horizon (clicks: ts + window +
    * delay; purchases: ts + delay — a purchase's candidate clicks
    * precede it by at most the window, so its horizon closes with the
    * click watermark); state stays bounded exactly as in the inner
    * form, outer rows emitting at eviction.
    */
  def clickPurchaseJoinFull(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    c.join(p,
        expr(s"""c.user_id = p.user_id AND
                 |p.ts >= c.ts AND
                 |p.ts <= c.ts + INTERVAL $windowMinutes minutes""".stripMargin),
        "full_outer")
      .select(coalesce(col("c.user_id"), col("p.user_id")).as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        unix_timestamp(col("c.ts")).as("click_epoch"),
        unix_timestamp(col("p.ts")).as("purchase_epoch"))
  }

  /** STREAM-STATIC enrichment join: every micro-batch of events joins
    * against a static dimension snapshot under an explicit broadcast —
    * the most common production streaming shape (fact stream ×
    * dimension table). No watermark and no state: the static side is
    * planned once, broadcast to executors, and each trigger's rows
    * hash-probe it locally — no shuffle of the stream, no state store.
    * At 100 TB/day stream volume the dimension rides the driver once
    * per (re)plan, which is why dimensions must stay broadcast-sized
    * — the same discipline as the batch dim joins (q3/q5).
    */
  def enrichStream(events: DataFrame, dims: DataFrame): DataFrame =
    events.join(broadcast(dims), Seq("user_id"), "left")

  /** Idempotent micro-batch writer: each epoch lands in its own
    * `batch=<id>` directory with OVERWRITE mode. foreachBatch's
    * contract is at-least-once — after a crash between sink write and
    * offset commit the same epoch is re-delivered — so a replayed
    * epoch overwrites its own previous attempt instead of appending
    * duplicates: exactly-once at the directory level, the standard
    * production recipe for non-transactional parquet targets.
    */
  def idempotentBatchWriter(path: String): (org.apache.spark.sql.DataFrame, Long) => Unit =
    (batch, id) => batch.write.mode("overwrite").parquet(s"$path/batch=$id")

  /** foreachBatch sink wired to [[idempotentBatchWriter]] — the
    * deployment shape for sinks Spark has no transactional committer
    * for (JDBC upserts, object-store renames, parquet-per-epoch).
    */
  def idempotentSink(df: org.apache.spark.sql.DataFrame, path: String,
      ckpt: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch(idempotentBatchWriter(path))
      .option("checkpointLocation", ckpt)
      .start()

  /** Streaming twin of g5's incremental ingest: a file-source stream
    * over a directory of parquet drops — each trigger processes only
    * newly-arrived files (Spark's file-source log IS the idempotent
    * (key, size) manifest of main.rs:135-161, maintained by the
    * engine).
    */
  def fileIngest(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Export one snapshot-table commit range's change rows into a
    * change-feed directory — the PRODUCER half of streaming change
    * data capture: a pipeline appends one parquet drop per commit
    * (the file-source log makes discovery incremental, exactly as
    * [[fileIngest]]), and any number of downstream streams consume
    * the feed at their own pace. Drops are per-version subdirs read
    * back with `recursiveFileLookup` (versions are not hive
    * partitions — `_commit_version` already rides in the rows).
    */
  def changeFeedExport(s: org.apache.spark.sql.SparkSession, table: String,
      feedDir: String, fromV: Long, toV: Long, keyCols: Seq[String]): Unit =
    (fromV until toV).foreach { v =>
      graft.sources.SnapshotTable.changes(s, table, v, v + 1, keyCols)
        .write.mode("errorifexists").parquet(s"$feedDir/v${v + 1}")
    }

  /** EXACTLY-ONCE TAIL of a FOREIGN Delta table — the deployed
    * incremental-consumption shape for tables someone else writes
    * (Debezium-style CDC without any writer cooperation): each call
    * advances a durable CURSOR from the last-processed version to
    * the table's latest, deriving each step's change rows
    * ([[graft.sources.DeltaTable.changes]] — partitioned and
    * deletion-vector tables included) and appending them to the sink
    * table under a PER-VERSION txnId
    * ([[graft.sources.SnapshotTable.commitOnce]]). Per-version
    * granularity is what makes the crash algebra exact: a crash
    * between a step's sink commit and the cursor write replays that
    * step on the next call, commitOnce finds its marker (or the
    * manifest's txn header) and skips, and the cursor repairs — the
    * sink advances EXACTLY once per foreign version no matter where
    * the tailer dies or how many foreign commits land in between
    * (a range-grain txnId would double-append the overlap when the
    * range endpoint moved between crash and retry). The cursor write
    * is an atomic replace ([[graft.sources.LogStore]]). Returns the
    * new cursor.
    *
    * Scale: each call's cost is |changed rows in (cursor, latest]|,
    * never a table rescan — the j12 incrementality contract carried
    * to the consumption side.
    */
  def deltaTailOnce(s: org.apache.spark.sql.SparkSession,
      foreignTable: String, sinkTable: String, cursorFile: String,
      keyCols: Seq[String]): Long = {
    import graft.sources.{DeltaTable, LogStore, SnapshotTable}
    val last =
      if (LogStore.exists(cursorFile))
        new String(LogStore.read(cursorFile), "UTF-8").trim.toLong
      else 0L // v0 is the bootstrap snapshot; the feed starts after it
    val latest = DeltaTable.latestVersion(foreignTable)
    require(latest >= 0, s"not a delta table: $foreignTable")
    var cursor = last
    while (cursor < latest) {
      val v = cursor + 1
      graft.Caches.releasing(SnapshotTable.commitOnce(s, sinkTable,
        DeltaTable.changes(s, foreignTable, v - 1, v, keyCols),
        txnId = s"delta-tail-v$v"))
      LogStore.publish(cursorFile, exclusive = false)(_.write(s"$v\n".getBytes("UTF-8")))
      cursor = v
    }
    cursor
  }

  /** The change-feed stream over a [[changeFeedExport]] directory:
    * each trigger processes only newly-dropped change files. */
  def changeFeedStream(spark: org.apache.spark.sql.SparkSession,
      feedDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(feedDir)

  /** STREAMING incremental view maintenance — the streaming twin of
    * g41, closing the table-maintenance story end-to-end: the g40
    * change feed drives the materialized per-bucket census
    * CONTINUOUSLY instead of per nightly batch. Each micro-batch
    * signs its change rows into the view's groups (insert/post-image
    * +1, delete/pre-image −1 — count/sum are abelian-group
    * aggregates, so signed deltas are EXACT), folds them into the
    * view's current version, and publishes the next version with
    * [[graft.sources.SnapshotTable.commitOnce]] under the epoch's
    * txnId — foreachBatch's at-least-once replay (crash between sink
    * write and offset commit) finds the marker and SKIPS, so the view
    * table advances exactly once per epoch. Per-epoch cost is
    * |batch changes| + |view| (the view IS the aggregate — buckets,
    * never base rows), and the 100 TB story is unchanged from g41:
    * a 50-tile merge refreshes the view by processing 50 change rows.
    */
  /** Stable txn-namespace token for a streaming query, derived from
    * its CHECKPOINT location: a RESTART of the same query (same
    * checkpoint → the file-source log continues its batchIds) reuses
    * the namespace, so replays dedupe; a FRESH query (new checkpoint
    * → batchIds restart at 0) gets a NEW namespace, so its early
    * epochs are not silently skipped by a previous query's markers
    * for the same view (the batchId alone is not globally unique —
    * two lineages both emit epoch 0).
    */
  def ivmScope(ckpt: String): String = {
    val canon = new java.io.File(ckpt).getAbsolutePath
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  def ivmBatchMaintainer(viewTable: String, scope: String = "default")
      : (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, id) => {
    val s = batch.sparkSession
    import graft.sources.SnapshotTable
    val bucket = (col("tile_id") / 50).cast("long").as("bucket")
    val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltas = batch
      .select(bucket, sgn.as("sgn"), col("elevation").cast("long").as("elev"))
      .groupBy(col("bucket"))
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("elev")).as("delev"))
    val cur = SnapshotTable.read(s, viewTable)
      .select(col("bucket"), col("n_rows").as("dn"), col("sum_elev").as("delev"))
    val next = cur.unionByName(deltas)
      .groupBy(col("bucket"))
      .agg(sum(col("dn")).as("n_rows"), sum(col("delev")).as("sum_elev"))
      .filter(col("n_rows") > 0) // a fully-deleted bucket leaves the view
    SnapshotTable.commitOnce(s, viewTable, next, s"ivm-$scope-$id",
      replace = true)
  }

  /** foreachBatch sink wiring [[changeFeedStream]] →
    * [[ivmBatchMaintainer]]: the deployed shape of streaming IVM. */
  def ivmSink(changes: org.apache.spark.sql.DataFrame, viewTable: String,
      ckpt: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch(ivmBatchMaintainer(viewTable, ivmScope(ckpt)))
      .option("checkpointLocation", ckpt)
      .start()

  /** STREAMING heavy hitters (streaming twin of t8): frequent terms
    * over an unbounded document stream with BOUNDED state — the exact
    * groupBy-every-term t8 runs nightly becomes a per-shard
    * Misra-Gries summary maintained in flatMapGroupsWithState state
    * and snapshotted every trigger (Update mode).
    *
    * Sharding IS the scale story: terms hash into `nShards` state
    * keys, each shard's MG buffer sees every occurrence of ITS terms
    * (a term never splits across shards), so the classic bound holds
    * per shard — true_count − counter ≤ n_shard/(width+1), and no
    * term above that bound can be absent. State is nShards × width
    * counters TOTAL regardless of stream length or vocabulary; the
    * shuffle per trigger is one hash exchange of (shard, term) rows
    * (Spark rejects an aggregation upstream of fMGWS, so the
    * per-batch pre-reduce runs INSIDE the fold: each trigger's rows
    * collapse to distinct-term counts before any MG add — the state
    * update cost is the batch's distinct terms, only the exchange
    * pays per-token). The SAME decrement kernel as the batch
    * mg_sketch aggregate
    * (MisraGriesBuffer) folds the per-batch counts into state, so
    * batch and streaming candidates obey identical guarantees.
    */
  def heavyHittersStream(docs: Dataset[DocEvent], width: Int = 16,
      nShards: Int = 4): Dataset[HHSnapshot] = {
    import docs.sparkSession.implicits._
    docs.toDF()
      .select(explode(graft.functions.TextFns.words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .select(pmod(xxhash64(col("term")), lit(nShards)).cast("int").as("shard"),
        col("term"), lit(1L).as("w"))
      .as[(Int, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        hhFold(width))
  }

  private[graft] def hhFold(width: Int)(
      shard: Int, rows: Iterator[(Int, String, Long)],
      state: GroupState[MGState]): Iterator[HHSnapshot] = {
    import org.apache.spark.unsafe.types.UTF8String
    val buf = new org.apache.spark.sql.graft.MisraGriesBuffer(width)
    state.getOption.foreach { st =>
      // replay the persisted counters as weighted adds; restore the
      // true processed total (decrement-dropped weight included)
      st.terms.indices.foreach(i =>
        buf.add(UTF8String.fromString(st.terms(i)), st.cnts(i)))
      buf.n = st.n
    }
    // per-batch pre-reduce (exact distinct-term counts), then a
    // deterministic term-sorted fold so snapshots don't depend on
    // arrival order within the trigger
    val batchCounts = scala.collection.mutable.LinkedHashMap[String, Long]()
    rows.foreach { case (_, t, w) =>
      batchCounts(t) = batchCounts.getOrElse(t, 0L) + w }
    batchCounts.toSeq.sortBy(_._1).foreach { case (t, w) =>
      buf.add(UTF8String.fromString(t), w) }
    import scala.jdk.CollectionConverters._
    val entries = buf.counts.entrySet().asScala.toSeq
      .map(e => (e.getKey.toString, e.getValue))
      .sortBy { case (t, c) => (-c, t) }
    state.update(MGState(buf.n, entries.map(_._1), entries.map(_._2)))
    Iterator.single(HHSnapshot(shard, buf.n, entries.map(_._1), entries.map(_._2)))
  }
}

/** Persisted MG summary of one shard: processed weight + counters. */
case class MGState(n: Long, terms: Seq[String], cnts: Seq[Long])

/** Per-trigger snapshot of one shard's candidates (cnt desc, term). */
case class HHSnapshot(shard: Int, n: Long, terms: Seq[String], cnts: Seq[Long])
