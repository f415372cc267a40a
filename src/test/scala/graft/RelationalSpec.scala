package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("q1 pricing summary: 6 flag/status groups, counts add up") {
    val rows = Relational.q1Agg(spark, Sf).collect()
    assert(rows.length == 6)
    val totalRows = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, Sf)
      .filter(col("l_shipdate") <= lit("1998-09-02")).count()
    assert(totalRows == expected)
  }

  test("semi + anti join partition the customer table") {
    val semiAll = Tables.customer(spark, Sf)
      .join(Tables.orders(spark, Sf), col("c_custkey") === col("o_custkey"), "left_semi").count()
    val anti = Tables.customer(spark, Sf)
      .join(Tables.orders(spark, Sf), col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(semiAll + anti == Tables.customer(spark, Sf).count())
    val q8Total = Relational.q8Anti(spark, Sf).collect().map(_.getAs[Long]("n_customers")).sum
    assert(q8Total == anti)
  }

  test("sessionize: session bounds ordered, per-user sessions numbered from 1") {
    val rows = Relational.q13Sessionize(spark, Sf).collect()
    rows.foreach(r => assert(r.getAs[Long]("start_epoch") <= r.getAs[Long]("end_epoch")))
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val ids = rs.map(_.getAs[Long]("session_id")).sorted
      assert(ids.head == 1 && ids.toSeq == (1L to ids.length))
    }
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, Sf).count())
  }

  test("as-of join: every purchase matched to newest order at or before ts") {
    val rows = Relational.q14AsofJoin(spark, Sf).collect()
    val purchases = Tables.events(spark, Sf).filter(col("event_type") === "purchase").count()
    assert(rows.length == purchases)
    // all events are after all orders, so users with any order must match
    val usersWithOrders = Tables.orders(spark, Sf).select("o_custkey").distinct()
      .as[Long].collect().toSet
    rows.foreach { r =>
      if (usersWithOrders.contains(r.getAs[Long]("user_id")))
        assert(!r.isNullAt(r.fieldIndex("asof_orderkey")))
    }
  }

  test("approx distinct within 5% of exact") {
    val r = Relational.q16ApproxDistinct(spark, Sf).collect().head
    def relErr(a: Long, e: Long) = math.abs(a - e).toDouble / e
    assert(relErr(r.getAs[Long]("approx_parts"), r.getAs[Long]("exact_parts")) < 0.05)
    assert(relErr(r.getAs[Long]("approx_orders"), r.getAs[Long]("exact_orders")) < 0.05)
  }

  test("quartiles ordered and bounded by min/max") {
    Relational.q17Quantiles(spark, Sf).collect().foreach { r =>
      val (a, b, c) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(a <= b && b <= c)
    }
  }

  test("native functions usable from SQL after extension registration") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").collect().head.getDouble(0)
    assert(got == 11.0)
    val j = spark.sql("SELECT jaccard_sets(array(1L, 2L, 3L), array(2L, 3L, 4L))")
      .collect().head.getDouble(0)
    assert(j == 0.5)
    val sh = spark.sql("SELECT simhash64(array('spark', 'sql'))").collect().head.getSeq[Long](0)
    assert(sh.length == 2 && sh.forall(v => v >= 0 && v < (1L << 32)))
    val cg = spark.sql("SELECT size(char_gram_hashes('abcde', 4))").collect().head.getInt(0)
    assert(cg == 2) // 'abcd', 'bcde'
    val mg = spark.sql(
      "SELECT mg_sketch(w, 8) FROM VALUES ('a'), ('a'), ('b') AS t(w)")
      .collect().head.getStruct(0)
    assert(mg.getLong(0) == 3)
    assert(mg.getSeq[org.apache.spark.sql.Row](1)
      .map(e => e.getString(0) -> e.getLong(1)).toMap == Map("a" -> 2L, "b" -> 1L))
    val ws = spark.sql("SELECT size(word_shingle_hashes('a b c', 2))").collect().head.getInt(0)
    assert(ws == 2) // 'a b', 'b c'
    val ob = spark.sql(
      s"SELECT size(oph_bands(array(1L, 2L, 3L), 16, 4, ${graft.operators.Dedup.permA(0)}L, " +
        s"${graft.operators.Dedup.permB(0)}L, ${graft.operators.Dedup.P32}L, " +
        s"${graft.operators.Dedup.DensifyC}L))").collect().head.getInt(0)
    assert(ob == 16)
    val os = spark.sql(
      s"SELECT size(oph_sig(array(1L, 2L), 32, ${graft.operators.Dedup.permA(0)}L, " +
        s"${graft.operators.Dedup.permB(0)}L, ${graft.operators.Dedup.P32}L, " +
        s"${graft.operators.Dedup.DensifyC}L))").collect().head.getInt(0)
    assert(os == 32)
    // byte-level decoders reachable from SQL too (malformed -> null)
    val td = spark.sql("SELECT tiff_decode(CAST('junk' AS BINARY)) IS NULL, " +
      "raster_decode(CAST('junk' AS BINARY)) IS NULL").collect().head
    assert(td.getBoolean(0) && td.getBoolean(1))
  }

  test("rollup contains region subtotals and a grand total") {
    val rows = Relational.q10Rollup(spark, Sf).collect()
    val grand = rows.filter(r => r.getString(0) == "(all)" && r.getString(1) == "(all)")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_customers") == Tables.customer(spark, Sf).count())
  }

  test("q29 unpivot is the exact long form of the wide aggregate") {
    val long = Relational.q29Unpivot(spark, Sf).collect()
    val flags = Tables.lineitem(spark, Sf).select("l_returnflag").distinct().count()
    assert(long.length == flags * 3) // 3 metrics per flag
    // every (flag, metric) value equals the wide cell it was melted from
    val wide = Tables.lineitem(spark, Sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("long").as("qty_sum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    long.filter(_.getString(1) == "qty_sum").foreach { r =>
      assert(r.getLong(2) == wide(r.getString(0)))
    }
  }

  test("q23 merge applies deletes, updates and inserts consistently") {
    val snapN = Tables.customer(spark, Sf).count()
    val rows = Relational.q23Merge(spark, Sf).collect()
    val byOrigin = rows.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    val dels = Tables.customer(spark, Sf)
      .filter(expr("c_custkey % 17 = 0")).count()
    assert(rows.length == snapN - dels + byOrigin.getOrElse("inserted", 0))
    assert(byOrigin.contains("updated") && byOrigin.contains("inserted"))
    rows.filter(_.getString(3) == "inserted").foreach { r =>
      assert(r.getLong(0) >= 10000000L && r.getString(1) == "NEW")
    }
    rows.foreach(r => assert(r.getLong(0) % 17 != 0 || r.getLong(0) >= 10000000L,
      "deleted keys must not survive"))
  }

  test("q24 grouping sets include the nation-only set rollup lacks") {
    val rows = Relational.q24GroupingSets(spark, Sf).collect()
    val nationOnly = rows.filter(r => r.getString(0) == "(all)" && r.getString(1) != "(all)")
    assert(nationOnly.nonEmpty, "the (n_name) grouping set must produce rows")
    val grand = rows.filter(r => r.getString(0) == "(all)" && r.getString(1) == "(all)")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_customers") == Tables.customer(spark, Sf).count())
  }

  test("q25 sketch quantiles land within 3% of exact") {
    // ~300 rows per group at this sf: the sketch snaps to an observed
    // value, so the bound reflects adjacent-value gaps, not accuracy
    Relational.q25ApproxQuantiles(spark, Sf).collect().foreach { r =>
      val approxQ50 = r.getLong(2).toDouble
      val exactQ50  = r.getDouble(4)
      assert(math.abs(approxQ50 - exactQ50) / exactQ50 < 0.03,
        s"approx $approxQ50 vs exact $exactQ50")
    }
  }

  test("q28 gap-fill: spine is contiguous hourly, filled rows are zero") {
    val rows = Relational.q28Gapfill(spark, Sf).collect()
    rows.filter(_.getAs[Boolean]("filled"))
      .foreach(r => assert(r.getAs[Long]("n_events") == 0))
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val hours = rs.map(_.getLong(0)).sorted
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600 },
        "spine must be contiguous hourly")
    }
  }

  test("q21 left-outer keeps every customer; unmatched rows are genuinely exercised") {
    val rows = Relational.q21Outer(spark, Sf).collect()
    assert(rows.length == Tables.customer(spark, Sf).count())
    val unmatched = rows.filter(!_.getAs[Boolean]("has_recent"))
    assert(unmatched.nonEmpty, "test data must contain customers without recent orders")
    unmatched.foreach { r =>
      assert(r.getAs[Long]("n_recent_orders") == 0 && r.getAs[Long]("recent_cents") == 0)
    }
  }

  test("q22 full-outer has days from each side alone and from both") {
    val rows = Relational.q22FullOuter(spark, Sf).collect()
    val oOnly = rows.count(r => r.getAs[Boolean]("has_orders") && !r.getAs[Boolean]("has_events"))
    val eOnly = rows.count(r => !r.getAs[Boolean]("has_orders") && r.getAs[Boolean]("has_events"))
    assert(oOnly > 0 && eOnly > 0, s"oOnly=$oOnly eOnly=$eOnly")
    rows.filter(!_.getAs[Boolean]("has_orders"))
      .foreach(r => assert(r.getAs[Long]("n_orders") == 0 && r.getAs[Long]("order_cents") == 0))
  }

  test("q34 funnel: hand-computed stages incl. out-of-order, ties, and missing entry") {
    val dir = scratchDir("graft_q34")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // (event_id, ts, user_id, event_type, value, props)
    Seq(
      // user 1: full funnel in order → stage 4
      (1L, ts(10), 1L, "signup", 1.0, "{}"), (2L, ts(20), 1L, "view", 1.0, "{}"),
      (3L, ts(30), 1L, "click", 1.0, "{}"), (4L, ts(40), 1L, "purchase", 1.0, "{}"),
      // user 2: only view BEFORE signup → stage 1 (order matters)
      (5L, ts(5), 2L, "view", 1.0, "{}"), (6L, ts(10), 2L, "signup", 1.0, "{}"),
      // user 3: view ties signup's timestamp → inclusive, stage 2
      (7L, ts(10), 3L, "signup", 1.0, "{}"), (8L, ts(10), 3L, "view", 1.0, "{}"),
      // user 4: no signup at all → stage 0
      (9L, ts(5), 4L, "click", 1.0, "{}"), (10L, ts(6), 4L, "purchase", 1.0, "{}"),
      // user 5: skips click; purchase must NOT count → stage 2
      (11L, ts(10), 5L, "signup", 1.0, "{}"), (12L, ts(12), 5L, "view", 1.0, "{}"),
      (13L, ts(13), 5L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q34Funnel(spark, dir).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)), r.getInt(5)))).toMap
    def us(sec: Long) = Some(sec * 1000000L)
    assert(got(1L) == ((us(10), us(20), us(30), us(40), 4)))
    assert(got(2L) == ((us(10), None, None, None, 1)))
    assert(got(3L) == ((us(10), us(10), None, None, 2)))
    assert(got(4L) == ((None, None, None, None, 0)))
    assert(got(5L) == ((us(10), us(12), None, None, 2)))
  }

  test("q47 tolerance as-of: brute-force last-touch attribution agrees; horizon splits") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, Sf)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("t"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click")
      .groupBy(_._2).view.mapValues(_.map(c => (c._3, c._1))).toMap
    val got = Relational.q47AsofTolerance(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    got.foreach { case (eid, uid, ts, attr) =>
      // latest click at or before ts; ties to max event_id (the dedup rule)
      val cand = clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
        .filter(_._1 <= ts)
      val exp = if (cand.isEmpty) None else {
        val bestT = cand.map(_._1).max
        val id = cand.filter(_._1 == bestT).map(_._2).max
        if (ts - bestT <= 3600L) Some(id) else None
      }
      assert(attr == exp, s"purchase $eid")
    }
    // the horizon genuinely splits: attributed and unattributed both occur
    assert(got.exists(_._4.isDefined) && got.exists(_._4.isEmpty))
  }

  test("q46 waiting orders: brute-force sole-blame attribution agrees") {
    import org.apache.spark.sql.functions._
    val flags = Tables.lineitem(spark, Sf)
      .join(Tables.orders(spark, Sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 60, 1)
        .otherwise(0)).as("late"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byOrder = flags.groupBy(_._1)
    val exp = flags.filter(_._3 == 1).filter { case (o, s, _) =>
      val others = byOrder(o).filter(_._2 != s)
      others.nonEmpty && !others.exists(_._3 == 1)
    }.groupBy(_._2).map { case (s, v) => s -> v.length.toLong }
    val top = exp.toSeq.sortBy { case (s, n) => (-n, s) }.take(20).toMap
    val got = Relational.q46WaitingOrders(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == top)
    assert(got.nonEmpty)
  }

  test("q53 transitions reconcile with a JVM fold over per-user ordered event sequences") {
    val got = Relational.q53Transitions(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.Caches.clear()
    val evs = Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._4, e._2)).map(_._3).sliding(2).collect {
        case Array(a, b) => (a, b) }.toSeq
    }
    val exp = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fromTot = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got.keySet == exp.keySet && got.nonEmpty)
    got.foreach { case (k, (n, nf, pm)) =>
      assert(n == exp(k) && nf == fromTot(k._1) && pm == n * 1000 / nf, s"$k")
    }
    // every from-row's transitions sum to its total
    got.keys.map(_._1).toSet.foreach { ft: String =>
      assert(got.collect { case ((f, _), (n, _, _)) if f == ft => n }.sum == fromTot(ft))
    }
  }

  test("q52 TWAP: hand-computed held intervals, same-second ties hold zero, last event holds nothing") {
    val dir = scratchDir("graft_q52")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq(
      (1L, ts(0), 1L, "A", 1.0, "{}"),   // holds 10 s at 100 cents
      (2L, ts(10), 1L, "B", 2.0, "{}"),  // holds 20 s at 200 cents
      (3L, ts(30), 1L, "A", 3.0, "{}"),  // last for u1 — holds nothing
      (10L, ts(5), 2L, "A", 5.0, "{}"),  // same-second tie: dt 0
      (11L, ts(5), 2L, "A", 1.0, "{}"),  // holds 3 s at 100 cents
      (12L, ts(8), 2L, "B", 9.99, "{}")) // last for u2
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q52Twap(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("A") == ((3L, 1300L, 13L, 100L)))
    assert(got("B") == ((1L, 4000L, 20L, 200L)))
    assert(got.size == 2)
  }

  test("q45 percent_rank/cume_dist: exact integer numerators equal the 0-based position") {
    val rows = Relational.q45RankDist(spark, Sf).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    rows.groupBy(_._1).values.foreach { ns =>
      val ordered = ns.sortBy(t => (t._2, t._3))
      val n = ordered.length.toLong
      assert(ordered.forall(_._4 == n)) // n_part
      ordered.zipWithIndex.foreach { case (t, i) =>
        assert(t._5 == i.toLong, "pr*(n-1) = rank-1 under a unique order key")
        assert(t._6 == i.toLong + 1, "cd*n = row_number under a unique order key")
      }
    }
    assert(rows.nonEmpty)
  }

  test("q44 NOT IN nulls: unguarded form empties, guarded equals the anti join") {
    import org.apache.spark.sql.functions._
    val got = Relational.q44NotInNull(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("unguarded") == 0L) // one NULL in the subquery kills NOT IN
    // guarded ≡ a plain left-anti join on the null-filtered key set
    val keys = Tables.orders(spark, Sf)
      .filter(year(col("o_orderdate")) === 1996 && pmod(col("o_orderkey"), lit(10)) =!= 0)
      .select(col("o_custkey"))
    val anti = Tables.customer(spark, Sf)
      .join(keys, col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(got("guarded") == anti && anti > 0)
  }

  test("q43 cube: lattice cells reconcile — margins sum to the grand total") {
    val rows = Relational.q43Cube(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val grand = rows(("(all)", "(all)"))
    val byRegion = rows.filter { case ((reg, pri), _) => reg != "(all)" && pri == "(all)" }
    val byPri = rows.filter { case ((reg, pri), _) => reg == "(all)" && pri != "(all)" }
    val cells = rows.filter { case ((reg, pri), _) => reg != "(all)" && pri != "(all)" }
    for (group <- Seq(byRegion, byPri, cells)) {
      assert(group.values.map(_._1).sum == grand._1)
      assert(group.values.map(_._2).sum == grand._2)
    }
    // all four grouping levels present
    assert(byRegion.nonEmpty && byPri.nonEmpty && cells.nonEmpty)
  }

  test("q42 analyze stats: key column is unique, enum column is narrow, rows consistent") {
    val got = Relational.q42AnalyzeStats(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (nOrders, _, ndKey) = got(("orders", "o_orderkey"))
    assert(ndKey == nOrders)                       // primary key: distinct = rows
    val (nEv, _, ndType) = got(("events", "event_type"))
    assert(ndType < 10 && ndType > 1)              // enum column
    assert(got(("events", "event_id"))._3 == nEv)  // event ids unique
    assert(got.forall { case (_, (n, z, d)) => z >= 0 && d <= n })
    assert(got.keys.count(_._1 == "orders") == 6 && got.keys.count(_._1 == "events") == 6)
  }

  test("q41 native session windows agree with q13's manual sessionization") {
    // same corpus, two construction paths: the native SessionWindow
    // operator and the lag+running-sum form. Sub-second gaps make the
    // >= vs > edge invisible on this corpus, so the session SETS
    // (user, start_epoch, n_events, cents) must coincide; q41's end
    // is start-of-gap semantics (last + 30 min) vs q13's last event
    val native = Relational.q41SessionWindow(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    val manual = Relational.q13Sessionize(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(2), r.getLong(5))).toSet
    assert(native == manual)
    // and ends are exactly last-event + gap
    val ends = Relational.q41SessionWindow(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val manualEnds = Relational.q13Sessionize(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(4) + 1800L)).toMap
    assert(ends == manualEnds)
  }

  test("q40 range frame: value-bounded totals differ from a rows frame where dates gap") {
    val rows = Relational.q40RangeFrame(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // brute check per customer: frame = orders with t in [t-30d, t]
    val byCust = rows.groupBy(_._2)
    byCust.values.foreach { os =>
      os.foreach { case (_, _, t, _, n) =>
        val frame = os.filter(o => o._3 >= t - 2592000L && o._3 <= t)
        assert(n == frame.length.toLong)
      }
      // peer rows (equal t) must carry identical frame results
      os.groupBy(_._3).values.foreach { peers =>
        assert(peers.map(p => (p._4, p._5)).toSet.size == 1)
      }
    }
    // windows genuinely multi-row somewhere
    assert(rows.exists(_._5 > 1))
  }

  test("q39 multiset ops: engine bags equal direct least/difference of count vectors") {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, Sf)
    def counts(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ca = counts(1997)
    val cb = counts(1996)
    val expIa = ca.flatMap { case (k, n) =>
      cb.get(k).map(m => k -> math.min(n, m)) }.filter(_._2 > 0)
    val expEa = ca.flatMap { case (k, n) =>
      val d = n - cb.getOrElse(k, 0L); if (d > 0) Some(k -> d) else None }
    val got = Relational.q39SetopsAll(spark, Sf).collect()
      .groupBy(_.getString(0))
      .map { case (op, rs) => op -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(got("intersect_all") == expIa)
    assert(got("except_all") == expEa)
    assert(expIa.nonEmpty && expEa.nonEmpty)
    // genuinely multiset: some multiplicity above 1 survives
    assert(got("except_all").values.exists(_ > 1) || got("intersect_all").values.exists(_ > 1))
  }

  test("q38 delta-agg: maintained mv equals the full recompute") {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, Sf)
    val full = o.filter((col("o_orderdate") < lit("1997-01-01") &&
        pmod(col("o_orderkey"), lit(50)) =!= 0) ||
        col("o_orderdate") >= lit("1997-01-01"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Det.sumCents(col("o_totalprice")).as("total_cents"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = Relational.q38DeltaAgg(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == full)
    assert(got.nonEmpty)
  }

  test("q36 concurrency: hand-computed sweep-line peaks; shard width never changes the result") {
    val dir = scratchDir("graft_q36")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // sessions (30-min gap): u1 [100,1000]; u2 [500,500]; u3 [900,900]
    // and [3000,3000] (gap 2100 > 1800 splits); u4 [8000,8000] (hour
    // 2); u5 [3500,4200] spans the hour-0/1 boundary — its carried-in
    // level is hour 1's only nonzero candidate (no change point in
    // hour 1 ever reaches it), the case the carry-in seeding exists for
    Seq(
      (1L, ts(100), 1L, "view", 1.0, "{}"), (2L, ts(1000), 1L, "view", 1.0, "{}"),
      (3L, ts(500), 2L, "view", 1.0, "{}"),
      (4L, ts(900), 3L, "view", 1.0, "{}"), (5L, ts(3000), 3L, "view", 1.0, "{}"),
      (6L, ts(8000), 4L, "view", 1.0, "{}"),
      (7L, ts(3500), 5L, "view", 1.0, "{}"), (8L, ts(4200), 5L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q36Concurrency(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // hour 0 change points: 100(+1→1) 500(+1→2) 501(−1→1) 900(+1→2)
    // 901(−1→1) 1001(−1→0) 3000(+1→1) 3001(−1→0) 3500(+1→1) → peak 2;
    // hour 1: u5's level 1 carries across the boundary, its only
    // change point 4201(−1→0) → peak 1 (not 0); hour 2: carry 0,
    // 8000(+1→1) 8001(−1→0) → peak 1
    assert(got(0L) == ((2L, 9L)))
    assert(got(1L) == ((1L, 1L)))
    assert(got(2L) == ((1L, 2L)))
    assert(got.size == 3)
    // sharded prefix ≡ naive at a shard width that splits hour 0
    val fine = Relational.q36Concurrency(spark, dir, shardSec = 5L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fine == got)
  }

  test("q49 group mode: struct-argmax equals a JVM frequency count with the smallest-value tie rule") {
    val got = Relational.q49GroupMode(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val rows = Tables.orders(spark, Sf)
      .join(Tables.customer(spark, Sf), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exp = rows.groupBy(_._1).map { case (seg, xs) =>
      val cnts = xs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (v, c) = cnts.toSeq.sortBy { case (value, n) => (-n, value) }.head
      seg -> ((v, c, xs.length.toLong, c * 1000 / xs.length))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q50 sketch rollup: <5% error vs exact; merged-daily equals direct-monthly estimates") {
    val got = Relational.q50SketchRollup(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // exact monthly distincts + event counts from the same bucketing
    val exact = Tables.events(spark, Sf)
      .select(expr("unix_timestamp(ts) div 86400 div 30").as("m"), col("user_id"))
      .groupBy(col("m"))
      .agg(countDistinct(col("user_id")).as("du"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == exact.keySet && got.nonEmpty)
    got.foreach { case (m, (approx, n, _)) =>
      val (du, n2) = exact(m)
      assert(n == n2, s"month $m event count")
      assert(math.abs(approx - du).toDouble / du < 0.05, s"month $m: $approx vs $du")
    }
    // the merge identity that makes STORED sketches composable:
    // union of daily sketches estimates exactly what one direct
    // monthly sketch estimates (HLL union at equal lgK is lossless)
    val direct = Tables.events(spark, Sf)
      .groupBy(expr("unix_timestamp(ts) div 86400 div 30").as("m"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (m, (approx, _, _)) =>
      assert(approx == direct(m), s"month $m: merged $approx vs direct ${direct(m)}")
    }
  }

  test("q51 sketch overlap: inclusion-exclusion within 10% of the union vs exact intersections") {
    val got = Relational.q51SketchOverlap(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    val sets = Tables.events(spark, Sf)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.nonEmpty)
    got.foreach { case ((a, b), est) =>
      val exact = (sets(a) & sets(b)).size.toLong
      val union = (sets(a) | sets(b)).size.toLong
      assert(math.abs(est - exact).toDouble / union < 0.10,
        s"($a,$b): est $est exact $exact union $union")
    }
  }

  test("q48 table stats: boundaries equal ranks of the fully-sorted multiset") {
    val rows = Relational.q48TableStats(spark, Sf).collect()
    val got = rows.map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val li = Tables.lineitem(spark, Sf)
    val cols: Seq[(String, Array[Long])] = Seq(
      "l_orderkey" -> li.select(col("l_orderkey")).collect().map(_.getLong(0)),
      "l_quantity" -> li.select(col("l_quantity").cast("long")).collect().map(_.getLong(0)),
      "l_extendedprice" -> li.select(graft.functions.Det.cents(col("l_extendedprice")))
        .collect().map(_.getLong(0)),
      "l_shipdate" -> li.select(datediff(col("l_shipdate").cast("date"),
        lit("1970-01-01")).cast("long")).collect().map(_.getLong(0)))
    cols.foreach { case (name, vs) =>
      val sorted = vs.sorted
      val n = sorted.length.toLong
      (1 to 8).foreach { b =>
        val rank = (n * b + 7) / 8 // ceil(n*b/8), 1-based
        val r = got((name, b))
        assert(r.getLong(2) == sorted((rank - 1).toInt), s"$name bucket $b boundary")
        assert(r.isNullAt(3), s"$name hi_str must be null")
        assert(r.getLong(4) == vs.distinct.length.toLong && r.getLong(5) == 0L)
        assert(r.getLong(6) == sorted.head && r.getLong(7) == sorted.last, s"$name min/max")
        assert(r.isNullAt(8) && r.isNullAt(9), s"$name str min/max must be null")
      }
    }
    // the STRING column: equi-depth over the sorted string multiset
    // (the dictionary-rank histogram), numeric stat columns null
    val flags = li.select(col("l_returnflag")).collect().map(_.getString(0))
    val fsorted = flags.sorted
    val fn = fsorted.length.toLong
    (1 to 8).foreach { b =>
      val rank = (fn * b + 7) / 8
      val r = got(("l_returnflag", b))
      assert(r.isNullAt(2) && r.isNullAt(6) && r.isNullAt(7), "numeric stats must be null")
      assert(r.getString(3) == fsorted((rank - 1).toInt), s"l_returnflag bucket $b")
      assert(r.getLong(4) == flags.distinct.length.toLong && r.getLong(5) == 0L)
      assert(r.getString(8) == fsorted.head && r.getString(9) == fsorted.last)
    }
    assert(got.size == 40)
  }

  test("q37 retention: hand-computed cohort cells, within-week dedup, integer per-mille") {
    val dir = scratchDir("graft_q37")
    val W = 604800L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // (event_id, ts, user_id, event_type, value, props)
    Seq(
      // user 1 (cohort week 0): two events in week 0 (must count once),
      // active weeks 0, 1, 3
      (1L, ts(10), 1L, "view", 1.0, "{}"), (2L, ts(20), 1L, "click", 1.0, "{}"),
      (3L, ts(W + 5), 1L, "view", 1.0, "{}"), (4L, ts(3 * W + 5), 1L, "view", 1.0, "{}"),
      // user 2 (cohort week 0): active weeks 0, 1
      (5L, ts(30), 2L, "view", 1.0, "{}"), (6L, ts(W + 9), 2L, "view", 1.0, "{}"),
      // user 3 (cohort week 1): active week 1 only
      (7L, ts(W + 1), 3L, "view", 1.0, "{}"),
      // user 4 (cohort week 1): active weeks 1, 3
      (8L, ts(W + 2), 4L, "view", 1.0, "{}"), (9L, ts(3 * W + 2), 4L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q37Retention(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // cohort 0 (users 1,2): offset 0 → 2/2, offset 1 → 2/2, offset 3 → 1/2
    assert(got((0L, 0L)) == ((2L, 2L, 1000L)))
    assert(got((0L, 1L)) == ((2L, 2L, 1000L)))
    assert(got((0L, 3L)) == ((1L, 2L, 500L)))
    // cohort 1 (users 3,4): offset 0 → 2/2, offset 2 → 1/2
    assert(got((1L, 0L)) == ((2L, 2L, 1000L)))
    assert(got((1L, 2L)) == ((1L, 2L, 500L)))
    assert(got.size == 5)
  }

  test("q55 skyline equals the brute-force dominance filter") {
    val got = Relational.q55Skyline(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    graft.Caches.clear()
    val rows = Tables.part(spark, Sf).select(col("p_partkey"), col("p_size"),
      expr("cast(round(p_retailprice*100) as bigint)").as("pc")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val exp = rows.filter { case (_, sz, pc) =>
      !rows.exists { case (_, osz, opc) =>
        opc <= pc && osz >= sz && (opc < pc || osz > sz) }
    }.map { case (k, sz, pc) => (k, pc, sz) }.sortBy(_._1).toSeq
    assert(got == exp && got.nonEmpty)
    // every non-skyline part is dominated by some skyline part —
    // the frontier is a sufficient shortlist, not just undominated
    val sky = exp.map { case (_, pc, sz) => (pc, sz) }
    rows.filterNot(r => exp.exists(_._1 == r._1)).take(50).foreach {
      case (_, sz, pc) => assert(sky.exists { case (spc, ssz) =>
        spc <= pc && ssz >= sz && (spc < pc || ssz > sz) })
    }
  }

  test("q56 weighted median equals the sorted-fold definition per group") {
    val got = Relational.q56WeightedMedian(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.Caches.clear()
    val rows = Tables.lineitem(spark, Sf).select(col("l_returnflag"),
      expr("cast(round(l_extendedprice*100) as bigint)").as("v"),
      expr("cast(l_quantity as bigint)").as("w")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exp = rows.groupBy(_._1).map { case (g, rs) =>
      val tot = rs.map(_._3).sum
      var cum = 0L
      // fold values ascending, first value whose cumulative weight
      // crosses half the total (2*cum >= tot) is the lower median
      val sorted = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val (mv, at) = sorted.iterator.map { case (v, w) =>
        cum += w; (v, cum) }.find { case (_, c) => 2 * c >= tot }.get
      g -> ((mv, at, tot))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q57 interval union matches a literal day-set fold per supplier") {
    val got = Relational.q57IntervalUnion(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.Caches.clear()
    val ivs = Tables.lineitem(spark, Sf).select(col("l_suppkey"),
      expr("cast(datediff(l_shipdate, '1992-01-01') as bigint)").as("st"),
      expr("cast(l_quantity as bigint)").as("qty")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(1) + r.getLong(2)))
    val exp = ivs.groupBy(_._1).map { case (k, rs) =>
      // covered days literally as a set of day indices — the oracle
      // of oracles; island count from a sorted merge fold
      val days = rs.flatMap { case (_, st, en) => st until en }.toSet
      val sorted = rs.map(r => (r._2, r._3)).sortBy(identity)
      val islands = sorted.drop(1).foldLeft((1, sorted.head._2)) {
        case ((n, maxEn), (st, en)) =>
          (if (st > maxEn) n + 1 else n, math.max(maxEn, en))
      }._1
      k -> ((rs.size.toLong, islands.toLong, days.size.toLong))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q58 growth accounting: JVM ledger identity and conservation laws") {
    val got = Relational.q58GrowthAccounting(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
    graft.Caches.clear()
    val am = Tables.events(spark, Sf)
      .select(col("user_id"), expr("cast(year(ts)*12 + month(ts) as bigint)").as("mo"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val mx = am.map(_._2).max
    val byU = am.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val classed = byU.values.flatMap { mos =>
      mos.zipWithIndex.map { case (m, i) =>
        val p = if (i == 0) None else Some(mos(i - 1))
        (m, p)
      }
    }.toSeq
    val churn = byU.values.flatMap { mos =>
      mos.zipWithIndex.collect { case (m, i)
        if (i == mos.length - 1 || mos(i + 1) > m + 1) && m + 1 <= mx => m + 1 }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exp = (classed.map(_._1) ++ churn.keys).distinct.sorted.map { m =>
      val rows = classed.filter(_._1 == m)
      m -> ((rows.count(_._2.isEmpty).toLong,
        rows.count(_._2.contains(m - 1)).toLong,
        rows.count(c => c._2.exists(_ < m - 1)).toLong,
        churn.getOrElse(m, 0L), rows.size.toLong))
    }
    assert(got.toSeq == exp)
    // identities: actives decompose; (t−1)-actives = retained(t)+churned(t)
    got.foreach { case (_, (nw, rt, rs, _, act)) => assert(nw + rt + rs == act) }
    got.sliding(2).foreach {
      case Array((pm, (_, _, _, _, pAct)), (m, (_, rt, _, chn, _))) if m == pm + 1 =>
        assert(rt + chn == pAct)
      case _ => ()
    }
    assert(got.nonEmpty)
  }

  test("q4 priority-late: EXISTS semantics — one vote per order, JVM identity") {
    val got = Relational.q4PriorityLate(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.Caches.clear()
    val os = Tables.orders(spark, Sf)
      .filter(col("o_orderdate") >= lit("1995-07-01") && col("o_orderdate") < lit("1995-10-01"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(datediff(o_orderdate, '1992-01-01') as int)").as("od")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val li = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), expr("cast(datediff(l_shipdate, '1992-01-01') as int)").as("sd"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val exp = os.filter { case (k, _, od) =>
      li.getOrElse(k, Seq.empty[Int]).exists(_ > od + 60) }
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got == exp)
    // sf0.001's quarter can be empty — prove the lateness rule itself
    // fires on this corpus so the identity above is not vacuous
    val odAll = Tables.orders(spark, Sf)
      .select(col("o_orderkey"), expr("cast(datediff(o_orderdate, '1992-01-01') as int)"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(li.exists { case (k, sds) =>
      odAll.get(k).exists(od => sds.exists(_ > od + 60)) })
  }

  test("q35 reconcile: counts partition orders; drift is non-negative") {
    val got = Relational.q35FkReconcile(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    got.foreach { case (_, (n, m, mm, drift)) =>
      assert(m + mm == n && drift >= 0 && (mm > 0 || drift == 0))
    }
    val totalOrders = Tables.orders(spark, Sf).count()
    assert(got.map(_._2._1).sum == totalOrders)
  }

  test("q59 period-end balances match a JVM last-per-(user,month) fold") {
    val got = Relational.q59PeriodBalance(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.Caches.clear()
    val evs = Tables.events(spark, Sf)
      .select(col("user_id"), expr("cast(year(ts)*12 + month(ts) as bigint)").as("mo"),
        expr("unix_timestamp(ts)").as("t"), col("event_id"),
        expr("cast(round(value*100) as bigint)").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val exp = evs.groupBy(e => (e._1, e._2)).toSeq.map { case ((_, mo), es) =>
      mo -> es.maxBy(e => (e._3, e._4))._5
    }.groupBy(_._1).map { case (mo, vs) =>
      mo -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q60 MAD matches a JVM two-median fold (lower-median semantics)") {
    val got = Relational.q60Mad(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.Caches.clear()
    val vs = Tables.lineitem(spark, Sf)
      .select(col("l_returnflag"), expr("cast(round(l_extendedprice*100) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = { val s = xs.sorted; s((s.size - 1) / 2) }
    val exp = vs.groupBy(_._1).map { case (g, rows) =>
      val v = rows.map(_._2).toSeq
      val med = lowerMedian(v)
      g -> ((med, lowerMedian(v.map(x => math.abs(x - med))), v.size.toLong))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q62 basket pairs match a JVM basket fold (support/conf/lift integer forms)") {
    val got = Relational.q62Basket(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    graft.Caches.clear()
    val ob = Tables.lineitem(spark, Sf)
      .join(Tables.part(spark, Sf), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nOrders = ob.map(_._1).distinct.length.toLong
    val singles = ob.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
    val exp = ob.groupBy(_._1).values.flatMap { rows =>
      val bs = rows.map(_._2).sorted
      for { i <- bs.indices; j <- (i + 1) until bs.length } yield (bs(i), bs(j))
    }.groupBy(identity).map { case ((a, b), xs) =>
      val (nAb, nA, nB) = (xs.size.toLong, singles(a), singles(b))
      (a, b) -> ((nAb, nA, nB, nOrders, nAb * 1000000L / nOrders, nAb * 1000000L / nA,
        (BigInt(nAb) * nOrders * 1000000 / (BigInt(nA) * nB)).toLong))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("q63 global customers: cross-multiplied threshold and dormancy flag") {
    val got = Relational.q63GlobalCustomers(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val cust = Tables.customer(spark, Sf)
      .join(Tables.nation(spark, Sf), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"),
        expr("cast(round(c_acctbal*100) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val recent = Tables.orders(spark, Sf)
      .filter(col("o_orderdate") >= lit("1998-01-01") && col("o_orderkey") % 2 =!= 0)
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val pos = cust.map(_._3).filter(_ > 0)
    val (sumPos, nPos) = (pos.sum, pos.length.toLong)
    val above = cust.filter(c => c._3 * nPos > sumPos)
    val exp = above.groupBy(_._2).map { case (n, xs) =>
      n -> ((xs.length.toLong, xs.count(c => !recent(c._1)).toLong, xs.map(_._3).sum))
    }
    assert(got == exp && got.nonEmpty)
    // the planted dormancy predicate is non-vacuous
    assert(got.values.map(_._2).sum > 0)
  }

  test("q64 RFM: JVM quantile fold identity; runs never split buckets") {
    val got = Relational.q64Rfm(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    graft.Caches.clear()
    val base = Tables.orders(spark, Sf)
      .groupBy(col("o_custkey"))
      .agg(datediff(lit("1998-08-02"), max(col("o_orderdate"))).cast("long").as("rec"),
        count(lit(1)).as("freq"),
        expr("sum(cast(round(o_totalprice*100) as bigint))").as("mon"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = base.length.toLong
    def quant(vs: Seq[Long]): Map[Long, Long] = {
      val counts = vs.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      counts.map { case (v, c) => val q = cum * 5 / n; cum += c; v -> q }.toMap
    }
    val (rq, fq, mq) = (quant(base.map(_._1).toSeq), quant(base.map(_._2).toSeq),
      quant(base.map(_._3).toSeq))
    val exp = base.groupBy(b => (rq(b._1), fq(b._2), mq(b._3))).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._3).sum, xs.map(_._2).sum))
    }
    assert(got == exp && got.nonEmpty)
    assert(got.keys.forall(k => Seq(k._1, k._2, k._3).forall(q => q >= 0 && q <= 4)))
    assert(got.values.map(_._1).sum == n)
  }

  test("q65 interarrival: JVM sorted-diff fold; gap count reconciles with orders") {
    val got = Relational.q65Interarrival(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val o = Tables.orders(spark, Sf)
      .select(col("o_custkey"), datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val gaps = o.groupBy(_._1).values.flatMap { rows =>
      val ds = rows.map(_._2).sorted
      ds.zip(ds.tail).map { case (a, b) => b - a }
    }.toSeq
    val exp = gaps.groupBy(_ / 30).map { case (b, xs) =>
      b -> ((xs.length.toLong, xs.min, xs.max, xs.sum))
    }
    assert(got == exp && got.nonEmpty)
    // every order past each customer's first contributes exactly one gap
    val nCust = o.map(_._1).distinct.length
    assert(got.values.map(_._1).sum == o.length - nCust)
  }

  test("q66 bilateral volume: JVM join fold; same-nation pairs excluded") {
    val got = Relational.q66BilateralVolume(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    val nations = Tables.nation(spark, Sf).collect()
      .map(r => r.getAs[Long]("n_nationkey") -> r.getAs[String]("n_name")).toMap
    val cust = Tables.customer(spark, Sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> nations(r.getAs[Long]("c_nationkey"))).toMap
    val supp = Tables.supplier(spark, Sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> nations(r.getAs[Long]("s_nationkey"))).toMap
    val ordCust = Tables.orders(spark, Sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val exp = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long"),
        expr("cast(round(l_extendedprice*(1-l_discount)*100) as bigint)"))
      .collect().map { r =>
        ((supp(r.getLong(1)), cust(ordCust(r.getLong(0))), r.getLong(2)), r.getLong(3))
      }.filter(t => t._1._1 != t._1._2)
      .groupBy(_._1).map { case (k, xs) => k -> ((xs.map(_._2).sum, xs.length.toLong)) }
    assert(got == exp && got.nonEmpty)
    assert(got.keys.forall(k => k._1 != k._2))
  }

  test("q67 returned top-k: JVM fold identity incl. the (cents desc, custkey asc) tie rule") {
    val got = Relational.q67ReturnedTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    graft.Caches.clear()
    val nations = Tables.nation(spark, Sf).collect()
      .map(r => r.getAs[Long]("n_nationkey") -> r.getAs[String]("n_name")).toMap
    val cust = Tables.customer(spark, Sf).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        ((r.getAs[String]("c_name"), nations(r.getAs[Long]("c_nationkey"))))).toMap
    val ordCust = Tables.orders(spark, Sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val exp = Tables.lineitem(spark, Sf).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice*(1-l_discount)*100) as bigint)"))
      .collect().map(r => (ordCust(r.getLong(0)), r.getLong(1)))
      .groupBy(_._1).map { case (ck, xs) => (ck, xs.map(_._2).sum, xs.length.toLong) }
      .toSeq.sortBy(t => (-t._2, t._1)).take(20).zipWithIndex
      .map { case ((ck, cents, n), i) =>
        (i + 1L, ck, cust(ck)._1, cust(ck)._2, cents, n) }
    assert(got.toSeq == exp && got.length == 20)
  }

  test("q68 ABC classes: JVM cumulative fold; classes partition all parts") {
    val got = Relational.q68AbcClasses(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.Caches.clear()
    val pr = Tables.lineitem(spark, Sf)
      .groupBy(col("l_partkey"))
      .agg(expr("sum(cast(round(l_extendedprice*(1-l_discount)*100) as bigint))").as("rev"))
      .collect().map(_.getLong(1))
    val tot = pr.sum
    // class per distinct revenue VALUE on the descending cumulative line
    val byV = pr.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(-_._1)
    var cum = 0L
    val classOf = byV.map { case (v, c) =>
      cum += v * c
      v -> (if (cum * 5 <= tot * 4) "A" else if (cum * 20 <= tot * 19) "B" else "C")
    }.toMap
    val exp = pr.groupBy(classOf).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.sum, (BigInt(xs.sum) * 1000000 / tot).toLong))
    }
    assert(got == exp && got.nonEmpty)
    assert(got.values.map(_._1).sum == pr.length.toLong)
    // all three classes exist (this corpus is near-uniform, not Zipf —
    // A is therefore a LARGE fraction of parts; the boundaries still cut)
    assert(got.keySet == Set("A", "B", "C"))
  }

  test("shardedPrefix: shard-width invariance (1/7/10^9), both directions, JVM fold identity") {
    import spark.implicits._
    // negative values included: the negated-shard banding must stay
    // monotone for any sign
    val rows = Seq((-5000L, 3L), (-1L, 2L), (0L, 7L), (1L, 1L), (4095L, 4L),
      (4096L, 5L), (9999L, 6L), (1000000L, 8L))
    val vw = rows.toDF("v", "w")
    def jvm(desc: Boolean): Map[Long, (Long, Long)] = {
      val sorted = if (desc) rows.sortBy(-_._1) else rows.sortBy(_._1)
      val tot = rows.map(_._2).sum
      var cum = 0L
      sorted.map { case (v, w) => cum += w; v -> ((cum, tot)) }.toMap
    }
    for (desc <- Seq(false, true); width <- Seq(1L, 7L, 1000000000L)) {
      val got = Relational.shardedPrefix(vw, width, desc).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      graft.Caches.clear()
      assert(got == jvm(desc), s"desc=$desc width=$width")
    }
  }

  test("q61 Benford: digits partition the corpus, shares are exact integer division") {
    val got = Relational.q61Benford(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = Tables.lineitem(spark, Sf).count()
    assert(got.map(_._2).sum == total)
    assert(got.forall(t => t._1 >= 1 && t._1 <= 9))
    got.foreach { case (_, n, obs, exp, dev) =>
      assert(obs == n * 1000000L / total && dev == obs - exp)
    }
    // the published constant table, spot-checked
    val byDigit = got.map(t => t._1 -> t._4).toMap
    assert(byDigit(1L) == 301030L && byDigit(9L) == 45757L)
  }

  test("q70 attribution: per-purchase cents conserve exactly; JVM fold identity") {
    import org.apache.spark.sql.functions._
    val got = Relational.q70Attribution(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, Sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ep"),
        expr("cast(round(value*100) as bigint)").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    // JVM reference: linear split, remainder to the most recent click
    val attr = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var attributedTotal = 0L
    var convertingPurchaseCents = 0L
    purchases.foreach { case (_, u, _, pep, cents) =>
      val in = clicks.filter(c => c._2 == u && c._4 <= pep && pep - c._4 <= 86400L)
      if (in.nonEmpty) {
        convertingPurchaseCents += cents
        val k = in.length
        val recent = in.maxBy(c => (c._4, c._1))._1
        var sumThis = 0L
        in.foreach { c =>
          val share = cents / k + (if (c._1 == recent) cents % k else 0L)
          sumThis += share
          val (n0, a0) = attr.getOrElse(c._1, (0L, 0L))
          attr(c._1) = (n0 + 1, a0 + share)
        }
        assert(sumThis == cents, s"conservation broke for purchase cents=$cents k=$k")
        attributedTotal += sumThis
      }
    }
    val exp = attr.toSeq.sortBy(_._1).map { case (id, (n, a)) => (id, n, a) }
    assert(got.toSeq == exp && got.nonEmpty)
    // the global law: every converting purchase's cents land exactly once
    assert(got.map(_._3).sum == attributedTotal &&
      attributedTotal == convertingPurchaseCents)
  }

  test("q71 variant: JVM identity from props; try_variant_get nulls on cast failure") {
    val got = Relational.q71Variant(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val ks = Tables.events(spark, Sf)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = ks.groupBy(_._1).map { case (t, xs) =>
      val k = xs.map(_._2)
      val arr = k.filter(_ % 3 == 1)
      t -> ((k.length.toLong, k.sum, arr.length.toLong,
        arr.map(_ + 1).sum, k.count(_ % 3 == 0).toLong, 0L))
    }
    assert(got == exp && got.nonEmpty)
    // the typed-null contract is the last tuple slot: a string tag
    // read as long through try_variant_get counts ZERO everywhere
    got.values.foreach(v => assert(v._6 == 0L))
    // every planted shape class is non-vacuous
    assert(got.values.map(_._3).sum > 0 && got.values.map(_._5).sum > 0)
  }

  test("q72 pagerank: JVM integer-iteration identity; mass and degree laws") {
    val got = Relational.q72Pagerank(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.Caches.clear()
    val ids = Tables.documents(spark, Sf).select(col("doc_id")).collect().map(_.getLong(0))
    val edges = ids.map { id =>
      val s = (id % 97) % 37
      val d0 = (id * 31 + 7) % 37
      (s, if (d0 == s) (d0 + 1) % 37 else d0)
    }.distinct
    val hosts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = hosts.length.toLong
    val out = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val in = edges.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val Scale = 1000000000000L
    var r = hosts.map(h => h -> Scale / n).toMap
    for (_ <- 1 to 3) {
      val cin = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => 85L * r(s) / (100L * out(s)) }.sum).toMap
      r = hosts.map(h => h -> ((15L * Scale) / (100L * n) + cin.getOrElse(h, 0L))).toMap
    }
    val exp = hosts.map(h => (h, r(h), out.getOrElse(h, 0L), in.getOrElse(h, 0L)))
      .sortBy(t => (-t._2, t._1))
    assert(got.toSeq == exp.toSeq && got.nonEmpty)
    // damped-mass law: total rank stays within truncation loss of
    // Scale — each iteration drops < 1 unit per host (base div) and
    // per edge (contrib div), and the 15% base replenishes at full
    // Scale, so the shortfall never compounds past Σ per-iter losses
    val mass = got.map(_._2).sum
    val maxLoss = 3L * (n + edges.length)
    assert(mass <= Scale && mass >= Scale - maxLoss)
    // the planted graph never dangles: every host sends somewhere
    assert(got.forall(_._3 >= 1L))
  }

  test("q72 pagerank: a 20-iteration walk completes through the per-superstep lineage cut") {
    // iters > 3 switches each superstep to localCheckpoint (the
    // GraphX persist-per-superstep pattern) — an unrolled 20-join
    // tower would re-plan superlinearly; this proves the long-walk
    // path terminates and still conserves damped mass
    val got = Relational.q72Pagerank(spark, Sf, iters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.Caches.clear()
    val n = got.length.toLong
    val edgeCount = got.map(_._3).sum // Σ out_deg = |E|
    val Scale = 1000000000000L
    val mass = got.map(_._2).sum
    val maxLoss = 20L * (n + edgeCount)
    assert(n > 0 && mass <= Scale && mass >= Scale - maxLoss)
  }

  test("q74 hierarchy: the recursion-row-limit raise is query-scoped and the view is dropped") {
    val before = spark.conf.getOption("spark.sql.cteRecursionRowLimit")
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    assert(Relational.q74Hierarchy(spark, Sf).collect().nonEmpty)
    // the raise must not leak into the session (the guard protects
    // every LATER recursive query), nor the per-call temp view
    assert(spark.conf.getOption("spark.sql.cteRecursionRowLimit") == before)
    val viewsAfter = spark.catalog.listTables().collect().map(_.name).toSet
    assert(!(viewsAfter -- viewsBefore).exists(_.startsWith("customer_v74")))
  }

  test("q76 bloom join: JVM join identity; conf scope restored") {
    val beforeBcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val got = Relational.q76BloomJoin(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the bloom filter is an OPTIMIZATION — a false positive passes it
    // and dies in the real join, a dropped true match would corrupt:
    // recompute the exact join on the JVM
    val keys = Tables.orders(spark, Sf)
      .filter(col("o_orderstatus") === "P" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val items = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice")).collect()
      .filter(r => keys.contains(r.getLong(0)))
    val exp = items.groupBy(_.getString(1)).toSeq.map { case (f, g) =>
      (f, g.length.toLong, g.map(_.getDouble(2)).sum.toLong,
        g.map(r => math.round(r.getDouble(3) * 100)).sum)
    }.sortBy(_._1)
    assert(got.toSeq == exp && got.nonEmpty)
    // the conf bundle (broadcast off, bloom gate lowered) must not
    // leak into the session — later queries rely on broadcast joins
    assert(spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold") == beforeBcast)
  }

  test("q74 hierarchy: JVM forest-walk identity; partition and path laws") {
    val got = Relational.q74Hierarchy(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val rows = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100))
    val cents = rows.toMap
    val keys = cents.keySet
    // forest walk: parent(k) = k/10, root where the parent key is
    // absent — or is the node itself (k=0, the self-parent fixpoint:
    // without this guard the recursion never terminates)
    def chain(k: Long): List[Long] = // k, parent, ..., root
      if (k / 10 == k || !keys.contains(k / 10)) List(k) else k :: chain(k / 10)
    val walked = rows.map { case (k, _) =>
      val c = chain(k)
      (k, c.last, c.length - 1L, c.map(cents).sum)
    }
    val exp = walked.groupBy(_._3).toSeq.map { case (d, g) =>
      (d, g.length.toLong, g.map(_._2).distinct.length.toLong,
        g.map(_._4).sum, g.map(_._1).min, g.map(_._1).max)
    }.sortBy(_._1)
    assert(got.toSeq == exp && got.nonEmpty)
    // partition law: every customer appears at exactly one depth
    assert(got.map(_._2).sum == rows.length.toLong)
    // depth-0 path sum is exactly the roots' own cents (nothing
    // accumulated yet) — the recursion starts from the anchor alone
    val roots = rows.filter { case (k, _) => k / 10 == k || !keys.contains(k / 10) }
    assert(got.head._1 == 0L && got.head._4 == roots.map(_._2).sum)
  }
}
