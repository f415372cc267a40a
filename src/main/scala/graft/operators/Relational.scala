package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Det._

/** Relational/analytic core: TPC-H-shaped queries proving grouped
  * aggregation, multi-way joins, semi/anti joins, windows, rollups,
  * distinct counting, event-time windows, sessionization, as-of join
  * and JSON extraction — each written so Catalyst pushes filters and
  * projections to the parquet scan and picks broadcast joins for the
  * dim tables.
  *
  * All money aggregates use the exact-cents scheme (Det.cents) for
  * bit-stable oracle parity, and every query ends in a total order.
  */
object Relational {

  /** Q1-shape pricing summary: single-shuffle grouped agg with
    * map-side partial aggregation; the heaviest scan reads only 7 of
    * 16 lineitem columns.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sumCents(col("l_extendedprice")).as("sum_base_cents"),
        sumCents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_cents"),
        sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("sum_charge_cents"),
        e6(sum(col("l_quantity")) / count(lit(1))).as("avg_qty_e6"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top-k customers by order revenue: fact-side agg first (shrinks
    * the join input), then join the customer table, then a
    * deterministic top-10. Customer is sf-PROPORTIONAL (150k×sf rows),
    * not a bounded dim — no broadcast hint: AQE broadcasts it at small
    * sf and shuffle-joins at scale, where a forced broadcast would OOM.
    */
  def q2Topk(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sumCents(col("o_totalprice")).as("revenue_cents"), count(lit(1)).as("n_orders"))
    rev.join(Tables.customer(s, dir), rev("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue_cents"), col("n_orders"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(10)
  }

  /** Q3-shape shipping priority: segment filter is pushed to the
    * customer scan; both joins shuffle on their keys. The filtered
    * customer side is still sf-proportional (~1/5 of customers), so it
    * carries NO broadcast hint — AQE converts the join to broadcast at
    * small sf from runtime stats and keeps the shuffle join at scale.
    */
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01")
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q5-shape local supplier volume: 6-table join where every dim
    * chain (region→nation→customer / →supplier) broadcasts, so the
    * only shuffles are the two fact joins.
    */
  def q5Multijoin(s: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey")))
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, dir)
    val su = Tables.supplier(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(dims, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** Q6-shape forecast revenue: pure filter+agg — every predicate
    * must appear in the scan's PushedFilters; reads 4 columns only.
    */
  def q6Filter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(sumCents(col("l_extendedprice") * col("l_discount")).as("revenue_cents"),
        count(lit(1)).as("n_rows"))

  /** EXISTS via left-semi join: customers with ≥1 order ≥ 2000,
    * counted per nation (nation broadcasts).
    */
  def q7Semi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderdate") >= lit("2000-01-01")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))

  /** NOT EXISTS via left-anti join: customers with no orders at all,
    * counted per market segment.
    */
  def q8Anti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** Per-nation account-balance top-3 with rank + running sum
    * (cents). A plain window partitioned by nation would funnel the
    * whole customer table through 25 reducers (nation keys are FIXED,
    * so partition size grows with sf); instead the bounded-heap
    * TopKCosine aggregate keeps 3 candidates per nation per task and
    * merges partials — the reducers see tasks×3 rows, never the
    * table — and the rank/running-sum window then runs over ≤3-row
    * partitions. Ties break as (balance desc, custkey asc), identical
    * to the row_number formulation the oracle evaluates. Cents cast
    * to double exactly (< 2^53).
    */
  def q9Window(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), cents(col("c_acctbal")).as("ac"))
      .groupBy(col("c_nationkey"))
      .agg(org.apache.spark.sql.graft.TopKCosine
        .top_k(col("ac").cast("double"), col("c_custkey"), 3).as("tk"))
      .select(col("c_nationkey"), posexplode(col("tk")))
      .select(col("c_nationkey"), (col("pos") + 1).cast("int").as("rank_in_nation"),
        col("col.id").as("c_custkey"), col("col.score").cast("long").as("acctbal_cents"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("rank_in_nation"))
      .rowsBetween(Window.unboundedPreceding, 0)
    top
      .withColumn("running_cents", sum(col("acctbal_cents")).over(w))
      .select(col("c_custkey"), col("c_nationkey"), col("acctbal_cents"),
        col("rank_in_nation"), col("running_cents"))
      .orderBy(col("c_nationkey"), col("rank_in_nation"))
  }

  /** ROLLUP region→nation over customer balances; grouping level made
    * explicit and nulls coalesced so the oracle rows align.
    */
  def q10Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sumCents(col("c_acctbal")).as("acctbal_cents"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("n_customers"), col("acctbal_cents"))
      .orderBy(col("region"), col("nation"))

  /** Exact multi-column distinct counting over the fact table. Four
    * countDistincts in one agg plan an Expand ×4 over lineitem —
    * deliberate here as the EXACT showcase (one pass, no re-scans);
    * at 100 TB the affordable form is q16's HLL sketches, which skip
    * the Expand entirely.
    */
  def q11Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** Event-time tumbling-window aggregate (batch twin of the
    * Structured Streaming query in streaming/EventStreams.scala):
    * 1-hour buckets per event type, epoch seconds for oracle parity.
    */
  def q12EventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumCents(col("value")).as("value_cents"))
      .orderBy(col("hour_epoch"), col("event_type"))

  /** Gap-based sessionization (30 min): lag over (user, ts) marks
    * session starts; a running sum of the marks numbers sessions.
    * Single shuffle on user_id; per-user partitions stay bounded.
    */
  def q13Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("start_epoch"),
        unix_timestamp(max(col("ts"))).as("end_epoch"),
        sumCents(col("value")).as("value_cents"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** As-of join: each purchase event matched to the most recent order
    * (o_orderdate ≤ ts) of the same customer, through the custom
    * partitioned sort-merge operator (org.apache.spark.sql.graft
    * .AsofJoin — LogicalPlan + Strategy + SparkPlan): both sides
    * shuffle once on the key, sort once within partitions, and a
    * single merge pass carries the latest matching order — no window
    * over unioned rows, no range cross-join, both sides keep their own
    * schemas. Orders are pre-deduped per (custkey, date) to the max
    * orderkey so ties are deterministic. (The sorted-union window
    * formulation this replaces survives in AsofJoinSpec as the
    * cross-check reference.)
    */
  /** q32: FORWARD as-of join — the "next order at or after the event"
    * mirror of q14 (same custom partitioned sort-merge operator,
    * forward direction: earliest right with rt >= lt).
    */
  def q32AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    org.apache.spark.sql.graft.AsofJoin
      .asofForward(ev, ord, col("user_id"), col("o_custkey"),
        col("ts"), col("o_orderdate").cast("timestamp"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        col("o_orderkey").as("next_orderkey"))
      .orderBy(col("event_id"))
  }

  /** q33: NEAREST as-of — pandas `merge_asof(direction='nearest')`
    * semantics: the match minimizing |Δt|, ties to the backward
    * (at-or-before) side. Composed from the two directions of the
    * custom operator (each one shuffle+sort per side, one row per
    * event) plus an event_id-keyed pick; Δt compares as INTEGER
    * microseconds (unix_micros), so the argmin is exact.
    */
  def q33AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val asof = org.apache.spark.sql.graft.AsofJoin
    val rT = col("o_orderdate").cast("timestamp")
    val b = asof.asofBackward(ev, ord, col("user_id"), col("o_custkey"),
        col("ts"), rT)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey").as("bk"), unix_micros(rT).as("bt"))
    val f = asof.asofForward(ev, ord, col("user_id"), col("o_custkey"),
        col("ts"), rT)
      .select(col("event_id").as("event_id_f"),
        col("o_orderkey").as("fk"), unix_micros(rT).as("ft"))
    val us = unix_micros(col("ts"))
    b.join(f, col("event_id") === col("event_id_f"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        when(col("bk").isNull, col("fk"))
          .when(col("fk").isNull, col("bk"))
          .when(us - col("bt") <= col("ft") - us, col("bk"))
          .otherwise(col("fk")).as("nearest_orderkey"))
      .orderBy(col("event_id"))
  }

  def q14AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    org.apache.spark.sql.graft.AsofJoin
      .asofBackward(ev, ord, col("user_id"), col("o_custkey"),
        col("ts"), col("o_orderdate").cast("timestamp"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        col("o_orderkey").as("asof_orderkey"))
      .orderBy(col("event_id"))
  }

  /** q47: as-of join with TOLERANCE — pandas `merge_asof(...,
    * tolerance=...)`, completing the direction set (q14 backward, q32
    * forward, q33 nearest): a backward match only COUNTS if it lies
    * within the horizon — last-touch ATTRIBUTION: a purchase credits
    * the user's most recent click only when it is ≤ 1 hour old
    * (staler context is noise, not signal). Same custom sort-merge
    * operator; the tolerance is a post-join null-out on integer epoch
    * seconds, so the plan cost is exactly q14's.
    */
  def q47AsofTolerance(s: SparkSession, dir: String, horizonSec: Long = 3600L): DataFrame = {
    val ev = Tables.events(s, dir)
    // dedupe clicks per (user, ts) to the max event_id — same
    // determinism discipline as q14's per-(custkey, date) order dedup
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    org.apache.spark.sql.graft.AsofJoin
      .asofBackward(purchases, clicks, col("user_id"), col("c_user"),
        col("ts"), col("c_ts"))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        when(col("click_id").isNotNull &&
          unix_timestamp(col("ts")) - unix_timestamp(col("c_ts")) <= horizonSec,
          col("click_id")).as("attr_click_id"))
      .orderBy(col("event_id"))
  }

  /** Sketch-based distinct counting: HyperLogLog++ (approx_count_
    * distinct) next to the exact counts it approximates — the 100 TB
    * path where exact countDistinct's shuffle is unaffordable.
    * Rows-only check (HLL registers are engine-specific); relative
    * error asserted < 5% in RelationalSpec.
    */
  def q16ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
      countDistinct(col("l_orderkey")).as("exact_orders"))

  /** Exact interpolated quartiles of order value (cents) per priority.
    * Quartile fractions are powers of two and cents are integers, so
    * the interpolation arithmetic is FP-exact and oracle-safe.
    * SCALE NOTE: exact percentile buffers each group's values on its
    * reducer, and priorities are a FIXED key set — this is the exact
    * showcase; the 100 TB path is q25's mergeable
    * approx_percentile sketches.
    */
  def q17Quantiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("c"))
      .groupBy(col("o_orderpriority"))
      .agg(percentile(col("c"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        element_at(col("qs"), 1).as("q25_cents"),
        element_at(col("qs"), 2).as("q50_cents"),
        element_at(col("qs"), 3).as("q75_cents"),
        col("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** Q17-shape correlated aggregate: lineitems below 20% of their
    * part's average quantity. The correlation decorrelates into a
    * per-part aggregate joined back to the fact. The per-part side's
    * cardinality SCALES WITH THE FACT TABLE (one row per distinct
    * partkey — ~200M at sf100), so it must NOT be broadcast: both
    * sides shuffle on partkey (AQE still broadcasts it at small sf).
    */
  def q18Correlated(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(sumCents(col("l_extendedprice")).as("below_avg_revenue_cents"),
        count(lit(1)).as("n_rows"))
  }

  /** Set operations: BUILDING-segment customers vs customers with an
    * order ≥ 2000 — intersection and difference sizes, plus a sample
    * of the intersection for value-level checking.
    */
  def q19Setops(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    val both   = building.intersect(recent)
    val only_b = building.except(recent)
    both.agg(count(lit(1)).as("n_intersect"),
        min(col("c_custkey")).as("min_common"), max(col("c_custkey")).as("max_common"))
      .crossJoin(only_b.agg(count(lit(1)).as("n_building_only")))
  }

  /** Range join via the custom PointIntervalJoin operator
    * (org.apache.spark.sql.graft.RangeJoin — LogicalPlan + Strategy +
    * SparkPlan): events bucketed into value bands derived from the
    * nation dim. Vanilla Spark plans this non-equi join as a
    * nested-loop over all bands per event; the custom exec probes a
    * broadcast sorted interval index in O(log n).
    */
  def q20RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.nation(s, dir).select(col("n_name"),
      (col("n_nationkey") * lit(20.0)).as("lo"),
      (col("n_nationkey") * lit(20.0) + lit(19.99)).as("hi"))
    org.apache.spark.sql.graft.RangeJoin
      .pointInInterval(Tables.events(s, dir).select(col("event_id"), col("value")),
        bands, col("value"), col("lo"), col("hi"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), sumCents(col("value")).as("value_cents"))
      .orderBy(col("n_name"))
  }

  /** Left-outer join with null-group semantics: every customer keeps a
    * row whether or not they have post-2000 orders; unmatched rows
    * surface as `has_recent = false` with zeroed aggregates (values
    * that only arise under correct outer-join null handling). The
    * order side is pre-aggregated per custkey BEFORE the join — the
    * outer join ships one row per customer per side, never the raw
    * fact table.
    */
  def q21Outer(s: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sumCents(col("o_totalprice")).as("rc"))
    Tables.customer(s, dir)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("o_custkey").isNotNull.as("has_recent"),
        coalesce(col("n"), lit(0L)).as("n_recent_orders"),
        coalesce(col("rc"), lit(0L)).as("recent_cents"))
      .orderBy(col("c_custkey"))
  }

  /** Full-outer join: per-day order totals against per-day event
    * totals — days exist with only orders, only events, or both, and
    * each case must survive with nulls on the absent side (surfaced as
    * has_orders/has_events + zeroed totals). Both inputs aggregate to
    * bounded per-day rows before the join, so the full-outer shuffle
    * is day-cardinality regardless of fact size.
    */
  def q22FullOuter(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_o"))
      .agg(count(lit(1)).as("n_orders"), sumCents(col("o_totalprice")).as("oc"))
    val ed = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d_e"))
      .agg(count(lit(1)).as("n_events"), sumCents(col("value")).as("ec"))
    od.join(ed, col("d_o") === col("d_e"), "full_outer")
      .select(coalesce(col("d_o"), col("d_e")).as("day"),
        col("d_o").isNotNull.as("has_orders"), col("d_e").isNotNull.as("has_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("oc"), lit(0L)).as("order_cents"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("ec"), lit(0L)).as("event_cents"))
      .orderBy(col("day"))
  }

  /** MERGE-semantics changeset apply (the CDC/upsert pattern, Spark-
    * without-Delta): a deterministic changeset (updates, deletes,
    * inserts derived from key residues) full-outer-joins the snapshot
    * on the key; deletes drop, updates override, inserts append,
    * untouched rows pass through, each tagged with its origin. The
    * join ships one row per key per side — MERGE at 100 TB is exactly
    * this full-outer shuffle plus partition-overwrite on write.
    */
  def q23Merge(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("cents"))
    val base = Tables.customer(s, dir).select(col("c_custkey"))
    val del = base.filter(pmod(col("c_custkey"), lit(17)) === 0)
      .select(col("c_custkey").as("k"), lit("D").as("op"),
        lit(null).cast("long").as("new_cents"))
    val upd = base.filter(pmod(col("c_custkey"), lit(10)) === 0 &&
        pmod(col("c_custkey"), lit(17)) =!= 0)
      .select(col("c_custkey").as("k"), lit("U").as("op"),
        (col("c_custkey") * 7).as("new_cents"))
    val ins = base.filter(pmod(col("c_custkey"), lit(23)) === 0)
      .select((col("c_custkey") + 10000000L).as("k"), lit("I").as("op"),
        (pmod(col("c_custkey"), lit(100000)) * 3).as("new_cents"))
    snap.join(del.unionByName(upd).unionByName(ins),
        col("c_custkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(coalesce(col("c_custkey"), col("k")).as("custkey"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("segment"),
        when(col("op") === "U" || col("op") === "I", col("new_cents"))
          .otherwise(col("cents")).as("acctbal_cents"),
        when(col("op") === "U", "updated").when(col("op") === "I", "inserted")
          .otherwise("kept").as("origin"))
      .orderBy(col("custkey"))
  }

  /** GROUPING SETS beyond rollup's prefix hierarchy — the (nation)
    * set is not in ROLLUP(region, nation) — through the engine's SQL
    * entry path (temp views + spark.sql), proving the surface users
    * actually type. Null group keys coalesce to '(all)' exactly as
    * q10 so set identity is value-visible.
    */
  def q24GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v")
    Tables.region(s, dir).createOrReplaceTempView("region_v")
    s.sql("""
      SELECT coalesce(r_name, '(all)') AS region, coalesce(n_name, '(all)') AS nation,
             count(1) AS n_customers,
             sum(cast(round(c_acctbal * 100) AS bigint)) AS acctbal_cents
      FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
           JOIN region_v ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name), ())
      ORDER BY region, nation""")
  }

  /** Sketch quantiles: approx_percentile (positional error ≤ 1/acc)
    * beside the exact interpolated quartiles it approximates — the
    * 100 TB path where q17's exact per-group sort is unaffordable.
    * Rows-only driver check (sketch internals are engine-specific);
    * the relative error vs exact is asserted in RelationalSpec.
    */
  def q25ApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("c"))
      .groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("c"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
          .as("approx"),
        percentile(col("c"), array(lit(0.25), lit(0.5), lit(0.75))).as("exact"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        element_at(col("approx"), 1).as("q25_approx"),
        element_at(col("approx"), 2).as("q50_approx"),
        element_at(col("approx"), 3).as("q75_approx"),
        element_at(col("exact"), 2).as("q50_exact"),
        col("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** PIVOT: order revenue by year × priority, priorities becoming
    * columns. The explicit value list keeps the schema static (no
    * discovery pass over the data) — the form that scales; output
    * columns are CASE-sum aggregates either way, so the oracle
    * mirrors it portably.
    */
  def q27Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("c"))
      .groupBy(col("yr"))
      .pivot(col("o_orderpriority"),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .sum("c")
      .select(col("yr"),
        coalesce(col("1-URGENT"), lit(0L)).as("urgent_cents"),
        coalesce(col("2-HIGH"), lit(0L)).as("high_cents"),
        coalesce(col("3-MEDIUM"), lit(0L)).as("medium_cents"),
        coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("notspec_cents"),
        coalesce(col("5-LOW"), lit(0L)).as("low_cents"))
      .orderBy(col("yr"))

  /** Time-series gap fill: hourly event counts per type with MISSING
    * HOURS materialized as zero rows — the resample step every
    * monitoring/feature pipeline needs. The hour spine generates from
    * the observed [min, max] range per type (sequence + explode — a
    * generator, not a driver loop) and left-joins the actual counts;
    * spine cardinality is hours × types, independent of event volume.
    */
  def q28Gapfill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      .select(col("event_type").as("et"),
        explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
    spine.join(hourly,
        spine("et") === hourly("event_type") && spine("hour_epoch") === hourly("hour_epoch"),
        "left_outer")
      .select(spine("hour_epoch"), col("et").as("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.as("filled"))
      .orderBy(col("event_type"), spine("hour_epoch"))
  }

  /** q29: UNPIVOT (melt) — the wide→long inverse of q27's pivot, via
    * the built-in `Dataset.unpivot` (a Catalyst Expand: each row fans
    * out to one row per value column IN PLACE, no shuffle beyond the
    * upstream agg). All melted measures share one BIGINT domain
    * (units/cents) as unpivot requires a common value type.
    */
  def q29Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("long").as("qty_sum"),
        sumCents(col("l_extendedprice")).as("extprice_cents"),
        sumCents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty_sum"), col("extprice_cents"), col("disc_cents")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))

  /** q30: SLIDING-FRAME window — per supplier, the 4-row moving
    * quantity sum over its lineitems in (orderkey, linenumber) order.
    * `ROWS BETWEEN 3 PRECEDING AND CURRENT ROW` is the bounded-frame
    * shape (running q9 is the unbounded one). The frame order is
    * (orderkey, linenumber, qty): this corpus has duplicate
    * (orderkey, linenumber) pairs, and qty breaks every tie that
    * could change a frame sum — rows still tied are FULL duplicates
    * of the projection, so any engine-internal order yields the same
    * result multiset. Quantities are integral, so no FP association
    * ambiguity survives either engine's frame evaluation strategy.
    * One shuffle on the partition key.
    */
  def q30Sliding(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"))
      .rowsBetween(-3, 0)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") < 20) // partition-key filter: pushes below the window
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("qty_4row", sum(col("qty")).over(w))
      // qty/qty_4row complete the sort key: (suppkey, orderkey, linenumber)
      // is NOT unique here, and two rows tied on it can still carry
      // different frame sums (frames at adjacent positions drop different
      // trailing rows). With all five columns in the sort, rows that
      // remain tied are identical, so output order is deterministic in
      // any engine.
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("qty"), col("qty_4row"))
  }

  /** q31: NTILE quartiles — customers bucketed into balance quartiles
    * WITHIN their nation. The order key carries the unique c_custkey
    * tiebreaker, so bucket boundaries are engine-deterministic
    * (Spark and DuckDB share the ntile remainder rule: earlier
    * buckets take the extra rows). One shuffle on the nation key.
    */
  def q31Ntile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("acctbal_cents").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("acctbal_cents"))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy(col("c_nationkey"), col("quartile"), col("c_custkey"))
  }

  /** JSON extraction from the events.props payload + aggregate. */
  def q15Json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** q34: ordered conversion funnel — the product-analytics staple
    * (signup → view → click → purchase, each stage the FIRST matching
    * event at or after the previous stage's time). The naive
    * formulation sorts every user's full event history through a
    * window; this one exploits the funnel's FIXED depth instead: each
    * stage is one filtered aggregate of (user, min event-micros)
    * joined to the previous stage's skinny frame — 4 aggregations +
    * equi-joins on user_id, all map-side-combinable, no per-user
    * event list ever materializes, and every shuffled row is a
    * 16-byte pair. Stage times ride as integer microseconds
    * (`unix_micros` ≡ DuckDB `epoch_us`), so the oracle compare
    * never touches timestamp formatting.
    */
  def q34Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    def first(typ: String, out: String): DataFrame =
      ev.filter(col("event_type") === typ)
        .groupBy(col("user_id")).agg(min(col("us")).as(out))
    def next(typ: String, prev: DataFrame, prevCol: String, out: String): DataFrame =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col(prevCol)), "user_id")
        .filter(col("us") >= col(prevCol))
        .groupBy(col("user_id")).agg(min(col("us")).as(out))
    val s1 = first("signup", "t_signup")
    val s2 = next("view", s1, "t_signup", "t_view")
    val s3 = next("click", s2, "t_view", "t_click")
    val s4 = next("purchase", s3, "t_click", "t_purchase")
    ev.select(col("user_id")).distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .join(s4, Seq("user_id"), "left")
      .withColumn("stage_reached",
        when(col("t_purchase").isNotNull, 4)
          .when(col("t_click").isNotNull, 3)
          .when(col("t_view").isNotNull, 2)
          .when(col("t_signup").isNotNull, 1)
          .otherwise(0))
      .orderBy(col("user_id"))
  }

  /** q46: "suppliers who kept orders waiting" — the TPC-H Q21 shape,
    * the suite's hardest semi/anti COMPOSITION on one fact: per
    * supplier, orders where THIS supplier shipped late (> 60 days
    * after the order date — the trimmed schema's receipt/commit twin),
    * the order involved ANOTHER supplier (semi), and NO other
    * supplier was late on it (anti) — sole-blame attribution. The
    * per-(order, supplier) lateness flag collapses first (map-side
    * combinable), so the semi and anti joins run over skinny 17-byte
    * rows, never raw lineitems; both are equi-joins on l_orderkey
    * with the supplier inequality in the condition. Deterministic
    * top-20 by (numwait desc, suppkey).
    */
  def q46WaitingOrders(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 60, 1)
        .otherwise(0)).as("late"))
    val cand = j.filter(col("late") === 1)
    val multi = cand.as("c").join(j.as("o"),
      col("c.l_orderkey") === col("o.l_orderkey") &&
        col("c.l_suppkey") =!= col("o.l_suppkey"), "left_semi")
    val sole = multi.as("c").join(cand.as("x"),
      col("c.l_orderkey") === col("x.l_orderkey") &&
        col("c.l_suppkey") =!= col("x.l_suppkey"), "left_anti")
    sole.groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(20)
  }

  /** q45: distribution-position window functions — `percent_rank`
    * (rank−1)/(n−1) and `cume_dist` #(peers ≤)/n, the normalized
    * ranking pair q9/q31's rank/ntile don't cover (percentile
    * position is scale-free, so downstream thresholds survive group
    * size changes). Order key (acctbal cents, custkey) is unique ⇒
    * both functions are engine-deterministic. The output recovers
    * the EXACT integer numerators — `pr·(n−1)` and `cd·n` are
    * integers up to 1 ulp, so `round(...)` makes them exact longs —
    * because a 6dp-rounded double is NOT cross-engine stable: at
    * sf0.1 three cume_dist values landed on decimal ties where
    * Spark's round (BigDecimal HALF_UP on the double's shortest
    * decimal repr) and DuckDB's disagree in the 6th digit (caught by
    * the r8 sf0.1 oracle sweep; sf0.01 never hit a tie). The native
    * window functions stay in the plan — only the surface is integer.
    */
  def q45RankDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bal_cents"), col("c_custkey"))
    val wAll = Window.partitionBy(col("c_nationkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), cents(col("c_acctbal")).as("bal_cents"))
      .withColumn("n_part", count(lit(1)).over(wAll))
      .withColumn("pr_k",
        round(percent_rank().over(w) * (col("n_part") - 1)).cast("long"))
      .withColumn("cd_k", round(cume_dist().over(w) * col("n_part")).cast("long"))
      .orderBy(col("c_custkey"))
  }

  /** q44: NOT IN under NULLs — SQL's most notorious anti-join trap,
    * through the engine's SQL surface: `x NOT IN (S)` is three-valued
    * logic — one NULL in S makes the predicate UNKNOWN for every
    * non-member, silently emptying the result. Spark plans this as a
    * NULL-AWARE anti join (a plan shape that exists only for this
    * semantic); a plain left-anti join would return the wrong answer.
    * Both variants run against the same subquery (low orderkeys
    * project as NULL by rule, so NULLs are guaranteed): the unguarded
    * form must count ZERO, the IS-NOT-NULL-guarded form is the
    * intended anti join. The oracle replays both — DuckDB shares the
    * standard's semantics, so this doubles as a cross-engine proof
    * the engine's null-aware path is standard-correct.
    */
  def q44NotInNull(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v44")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v44")
    s.sql("""
      SELECT 'guarded' AS variant, count(*) AS n FROM customer_v44
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END
         FROM orders_v44 WHERE year(o_orderdate) = 1996
           AND (CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END) IS NOT NULL)
      UNION ALL
      SELECT 'unguarded', count(*) FROM customer_v44
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END
         FROM orders_v44 WHERE year(o_orderdate) = 1996)
      ORDER BY variant""")
  }

  /** q43: CUBE — the full 2^n grouping lattice (q10's ROLLUP walks
    * only the prefix hierarchy; q24's GROUPING SETS picks explicit
    * sets; CUBE materializes all four (region, priority) groupings in
    * one Expand pass). Null group keys coalesce to '(all)' (the q10
    * convention) so set identity is value-visible and the oracle hash
    * never rests on NULL-vs-string semantics.
    */
  def q43Cube(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sumCents(col("o_totalprice")).as("total_cents"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total_cents"))
      .orderBy(col("region"), col("priority"))
  }

  /** q42: ANALYZE-style column statistics — the stats-collection pass
    * behind every cost-based optimizer (ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS; Delta/Iceberg column stats): per column,
    * row count, null count, and EXACT distinct count, for two tables
    * in ONE scan each (all per-column aggregates fold into a single
    * agg node; the row explodes to one output row per column). Exact
    * NDV is the oracle-checkable form — at 100 TB the same shape runs
    * with approx_count_distinct (q16's HLL path) and nothing else
    * changes. All-integer output.
    */
  def q42AnalyzeStats(s: SparkSession, dir: String): DataFrame = {
    def stats(name: String, df: DataFrame): DataFrame = {
      val aggs = df.columns.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), count_distinct(col(c)).as(s"nd_$c")))
      val one = df.agg(count(lit(1)).as("n_rows"), aggs.toSeq: _*)
      one.select(explode(array(df.columns.map(c => struct(
          lit(name).as("table_name"), lit(c).as("column_name"),
          col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
          col(s"nd_$c").as("n_distinct"))): _*)).as("r"))
        .select(col("r.*"))
    }
    stats("orders", Tables.orders(s, dir))
      .unionByName(stats("events", Tables.events(s, dir)))
      .orderBy(col("table_name"), col("column_name"))
  }

  /** q41: NATIVE session windows — `session_window(ts, gap)`, the
    * Catalyst SessionWindow operator behind Structured Streaming's
    * session aggregation, exercised on the batch path (q13 builds the
    * same sessions MANUALLY via lag + running sum; this is the
    * engine-native form, and the two must agree — the oracle
    * recomputes q13's construction and maps `window.start = min ts`,
    * `window.end = max ts + gap`). Sessions merge transitively inside
    * the operator (an event chain each ≤ gap apart is ONE session
    * regardless of total span), state is per (user, open-session) —
    * the semantics that make it the streaming-safe primitive. One
    * shuffle on the grouping key.
    */
  def q41SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumCents(col("value")).as("value_cents"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_epoch"),
        unix_timestamp(col("w.end")).as("end_epoch"),
        col("n_events"), col("value_cents"))
      .orderBy(col("user_id"), col("start_epoch"))

  /** q40: RANGE-frame window — the VALUE-based frame semantics q30's
    * ROWS frame cannot express (a "last 30 days" rolling sum must
    * bound by the ORDER-BY VALUE, not a row count: with gaps or
    * duplicate dates the two frames differ). Per customer, each
    * order's trailing-30-day spend: `RANGE BETWEEN 2592000 PRECEDING
    * AND CURRENT ROW` over integer epoch seconds — RANGE frames
    * require a single numeric order key, and epoch seconds keep the
    * frame bound integer-exact on both engines. Peer rows (same
    * customer, same date) share one frame by definition — RANGE
    * includes ALL peers of the current value, so duplicate-date
    * totals are engine-deterministic without a tiebreaker (the
    * property that makes RANGE, not ROWS, the correct rolling-window
    * primitive). One shuffle on the partition key; frame evaluation
    * is the running two-pointer pass inside each sorted partition.
    */
  def q40RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("t"))
      .rangeBetween(-2592000L, 0L)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_timestamp(col("o_orderdate").cast("timestamp")).as("t"),
        cents(col("o_totalprice")).as("c"))
      .withColumn("spend_30d_cents", sum(col("c")).over(w))
      .withColumn("n_30d", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("t").as("t_epoch"),
        col("spend_30d_cents"), col("n_30d"))
      .orderBy(col("o_orderkey"))
  }

  /** q39: MULTISET set operations — INTERSECT ALL / EXCEPT ALL, the
    * bag-algebra semantics q19's DISTINCT forms erase (SQL:2003 bag
    * operators; Spark rewrites them via ReplaceIntersectAll/
    * ReplaceExceptAll into aggregate+generate plans — this query
    * proves that path end-to-end): the 1997 order bag of customer
    * keys vs the 1996 bag. A customer with 3 orders in '97 and 1 in
    * '96 contributes 1 to INTERSECT ALL and 2 to EXCEPT ALL — bag
    * min and bag difference, with multiplicity. Output folds each
    * result bag to (op, custkey, n) so row order is deterministic;
    * RelationalSpec asserts n ≡ the direct least/difference of the
    * two count vectors.
    */
  def q39SetopsAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def bag(y: Int) = o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = bag(1997)
    val b = bag(1996)
    def fold(df: DataFrame, op: String) =
      df.groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n"))
        .withColumn("op", lit(op))
    fold(a.intersectAll(b), "intersect_all")
      .unionByName(fold(a.exceptAll(b), "except_all"))
      .select(col("op"), col("custkey"), col("n"))
      .orderBy(col("op"), col("custkey"))
  }

  /** q38: INCREMENTAL aggregate maintenance — the materialized-view
    * delta-apply every warehouse runs nightly (Delta/BigQuery MV
    * refresh, Flink's retractable aggregates): a stored per-priority
    * revenue aggregate is brought current by applying a CDC batch
    * (inserts = the new period's orders, deletes = late
    * cancellations) WITHOUT rescanning history — count and sum are
    * abelian-group aggregates, so mv' = mv ⊕ agg(inserts) ⊖
    * agg(deletes), merged by group key.
    *
    * Here the "stored" mv is a frame over the base period (a
    * self-contained query needs it); in production it is table state
    * and the plan touches ONLY the delta: two delta-sized aggregates
    * (both map-side combinable) and a groups-sized three-way
    * full-outer merge — work ∝ |delta| + |groups|, independent of
    * history size. The same algebra is why q1-style aggs stream
    * (partial merge = the ⊕). RelationalSpec asserts the maintained
    * result is row-identical to the full recompute; the oracle IS
    * the full recompute.
    */
  def q38DeltaAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def agg(df: DataFrame, n: String, c: String) =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as(n), sumCents(col("o_totalprice")).as(c))
    val mv = agg(o.filter(col("o_orderdate") < lit("1997-01-01")), "n0", "c0")
    val ins = agg(o.filter(col("o_orderdate") >= lit("1997-01-01")), "ni", "ci")
    val del = agg(o.filter(col("o_orderdate") < lit("1997-01-01") &&
      pmod(col("o_orderkey"), lit(50)) === 0), "nd", "cd")
    mv.join(ins, Seq("o_orderpriority"), "full_outer")
      .join(del, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("ni"), lit(0L))
          - coalesce(col("nd"), lit(0L))).as("n_orders"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("ci"), lit(0L))
          - coalesce(col("cd"), lit(0L))).as("total_cents"))
      .filter(col("n_orders") > 0)
      .orderBy(col("o_orderpriority"))
  }

  /** q36: peak concurrent sessions per hour — the sweep-line /
    * interval-stabbing aggregate (load curves, capacity planning,
    * "how many sessions were open at once"). Each q13 session
    * contributes +1 at its start second and −1 one past its inclusive
    * end; the running sum of per-second nets IS the concurrency
    * curve, and the hourly report takes the TRUE sup of that step
    * function over each hour: every level is active on
    * [t, next_change) and is a peak candidate for every hour that
    * interval touches, so a session spanning an hour boundary seeds
    * the next hour with its carried-in level, and hours with no
    * change points still appear (n_changes = 0) at the carried
    * level. Report ends at the last change point (level 0 after).
    *
    * The classic formulation is one global `ORDER BY t` running
    * window — a single reducer over every session boundary at 100 TB.
    * This is the sharded two-pass prefix instead (p3/p4's pattern on
    * the TIME axis): deltas first collapse to per-second nets (skinny
    * 16-byte rows, map-side combinable), shard-local running sums run
    * in bounded `t div shardSec` window partitions, and only the
    * per-shard totals (seconds/shardSec rows) cross the one global
    * window. Identity with the naive window for every shardSec is
    * asserted in RelationalSpec. All-integer end-to-end.
    */
  def q36Concurrency(s: SparkSession, dir: String, shardSec: Long = 86400L): DataFrame = {
    val sess = q13Sessionize(s, dir).select(col("start_epoch"), col("end_epoch"))
    val deltas = sess.select(col("start_epoch").as("t"), lit(1L).as("d"))
      .unionAll(sess.select((col("end_epoch") + 1).as("t"), lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("net"))
      .withColumn("shard", expr(s"t div $shardSec"))
    val wLocal = Window.partitionBy(col("shard")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = deltas.withColumn("cum_local", sum(col("net")).over(wLocal))
    val wShard = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy(col("shard")).agg(sum(col("net")).as("shard_net"))
      .withColumn("offset", coalesce(sum(col("shard_net")).over(wShard), lit(0L)))
      .select(col("shard"), col("offset"))
    val curve = local.join(offsets, Seq("shard"))
      .withColumn("conc", col("offset") + col("cum_local"))
      .select(col("shard"), col("t"), col("conc"))
    // Each level holds on [t, t_next): lead within the bounded shard
    // window, shard-boundary nulls patched from the skinny per-shard
    // first-t frame (same two-pass shape — no global window over the
    // change points). The global last level is 0 (every +1 has its
    // -1), so its single-hour interval is exact.
    val wLead = Window.partitionBy(col("shard")).orderBy(col("t"))
    val firsts = curve.groupBy(col("shard")).agg(min(col("t")).as("first_t"))
      .withColumn("next_first", lead(col("first_t"), 1)
        .over(Window.orderBy(col("shard"))))
      .select(col("shard"), col("next_first"))
    curve
      .withColumn("t_next", lead(col("t"), 1).over(wLead))
      .join(firsts, Seq("shard"))
      .withColumn("t_next", coalesce(col("t_next"), col("next_first"), col("t") + 1))
      .withColumn("h0", expr("t div 3600"))
      .withColumn("h1", expr("(t_next - 1) div 3600"))
      .select(col("conc"), col("h0"), explode(sequence(col("h0"), col("h1"))).as("hour"))
      .groupBy(col("hour"))
      .agg(max(col("conc")).as("peak_concurrent"),
        sum(when(col("hour") === col("h0"), 1L).otherwise(0L)).as("n_changes"))
      .orderBy(col("hour"))
  }

  /** q37: cohort retention matrix — the other product-analytics
    * staple beside q34's funnel (Amplitude/Mixpanel retention tables):
    * users are cohorted by the week of their FIRST event, and each
    * (cohort_week, week_offset) cell counts how many of that cohort
    * were active `offset` weeks later, with a per-mille retention
    * rate against the cohort size.
    *
    * All-integer arithmetic end-to-end: week = floor(epoch seconds)
    * `div` 604800 on both engines, retained_pm an integer cross
    * division — nothing float crosses the oracle hash. The shape is
    * the 100-TB one: the raw scan reduces immediately to DISTINCT
    * (user, week) pairs (16-byte rows — at 100 TB of events this is
    * bounded by users × horizon-weeks, orders of magnitude smaller
    * than events), first-week is a map-side-combinable min per user,
    * and because (user, week) pairs are already distinct and
    * (cohort, offset) is a function of (user, week), the cell count
    * is a plain count(*) — no countDistinct expand anywhere. The
    * offset-0 self-join attaches cohort sizes to a frame whose
    * cardinality is cohorts × offsets (tiny at any corpus size, AQE
    * broadcasts it).
    */
  def q37Retention(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("week"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val cells = uw.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    cells.join(sizes, "cohort_week")
      .withColumn("retained_pm", expr("(n_active * 1000) div cohort_size"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"), col("retained_pm"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q50: SKETCH ROLLUP — mergeable-summary re-aggregation, the
    * production pattern behind every "daily uniques → monthly
    * uniques without rescanning" dashboard (Druid/Pinot/BigQuery
    * sketch columns): per-day HLL sketches of user_id built ONCE
    * (`hll_sketch_agg`), then month-level distincts come from MERGING the
    * stored sketches (`hll_union_agg`) — never from re-scanning
    * events. The merge is the point at 100 TB: daily sketch rows are
    * KB-sized regardless of corpus size, so the rollup reads sketches,
    * not data. Approximate → rows-only; RelationalSpec asserts <5%
    * error vs exact distincts AND the production-critical merge
    * identity: merged-daily ≡ direct-monthly sketch estimates
    * (HLL union at equal lgK is lossless, which is WHY stored
    * sketches compose).
    */
  def q50SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("n_events"))
    daily.groupBy(expr("day div 30").as("month30"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
      .orderBy(col("month30"))
  }

  /** q53: event-flow TRANSITION matrix — consecutive (from → to)
    * event-type pairs per user, the Markov-chain / Sankey-diagram
    * aggregate behind "where do users go next" product analytics
    * (q34's funnel counts a FIXED stage chain; this surfaces the
    * empirical transition structure). Same bounded per-user lead
    * window as q52 (deterministic (t, event_id) order), then a
    * skinny (from, to) count with the per-from integer per-mille
    * transition rate — the row-probability of the Markov matrix.
    * Corpus-linear, ≤ |event types|² output rows at any scale.
    */
  /** q54: CHANGEPOINT detection on event rates — the "did the metric
    * shift, and when" product/ops question (CUSUM / Kolmogorov-style
    * maximum cumulative deviation, Page 1954): per event type, over
    * its HOURLY count series, the hour maximizing
    * |S_i·H − i·S| — the integer cross-multiplied form of
    * |S_i/S − i/H| (max deviation of observed cumulative mass from
    * the uniform-rate line), so detection is EXACT with no float
    * anywhere; ties break to the earliest hour (max(struct(dev,
    * −hr)) — p9's argmax discipline, map-side combinable, no
    * row_number funnel over the corpus).
    *
    * Scale shape: the corpus scan collapses to (type, hour) counts
    * first — the window runs on the CALENDAR-bounded hourly frame
    * (≤ 8760 rows/type/year at any corpus size), so partitioning by
    * type is a bounded-frame window, not a corpus funnel; totals are
    * a types-sized broadcast.
    */
  def q54Changepoint(s: SparkSession, dir: String): DataFrame = {
    val hourly = graft.Caches.track(Tables.events(s, dir)
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val pre = hourly
      .withColumn("si", sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("i", row_number().over(w).cast("long"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(sum(col("c")).as("s_tot"), count(lit(1)).as("h_tot"))
    pre.join(broadcast(tot), "event_type")
      .withColumn("dev", abs(col("si") * col("h_tot") - col("i") * col("s_tot")))
      .groupBy(col("event_type"))
      .agg(max(struct(col("dev").as("d"), (-col("hr")).as("nhr"),
        col("si").as("si"), col("i").as("i"),
        col("s_tot").as("s"), col("h_tot").as("h"))).as("b"))
      .select(col("event_type"), (-col("b.nhr")).as("cp_hour"),
        col("b.d").as("dev_num"), col("b.si").as("n_before"),
        col("b.i").as("h_before"), col("b.s").as("n_total"),
        col("b.h").as("h_total"))
      .orderBy(col("event_type"))
  }

  def q53Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    // cached: the types²-sized matrix feeds both the totals and the
    // join-back — uncached, each consumer re-runs the events scan
    val steps = graft.Caches.track(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("t"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans")))
    val fromTotals = steps.groupBy(col("from_type"))
      .agg(sum(col("n_trans")).as("n_from"))
    steps.join(broadcast(fromTotals), "from_type")
      .withColumn("trans_pm", expr("(n_trans * 1000) div n_from"))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        col("n_from"), col("trans_pm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q52: TIME-WEIGHTED average — the irregular-sampling aggregate
    * (TWAP in finance, time-weighted gauges in metrics systems): a
    * plain AVG over-weights bursts, so each observation is weighted
    * by how long it HELD — the seconds until the same user's next
    * event. Per event type: Σ cents·Δt and Σ Δt ride as exact
    * integers (the sumCents discipline extended to time weights; the
    * surfaced ratio is a per-mille integer division). Last event per
    * user has no successor → contributes no held interval (standard
    * left-closed convention, stated). One bounded per-user window
    * (lead over the user partition) + a skinny per-type aggregate —
    * no global window, corpus-linear.
    */
  def q52Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("t"), cents(col("value")).as("cents"))
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .withColumn("dt", col("t_next") - col("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_held"),
        sum(col("cents") * col("dt")).as("twap_num"),
        sum(col("dt")).as("twap_den"))
      .withColumn("twap_cents",
        when(col("twap_den") === 0, 0L)
          .otherwise(expr("twap_num div twap_den")))
      .orderBy(col("event_type"))
  }

  /** q51: sketch SET ALGEBRA — audience overlap between event types
    * by HLL inclusion-exclusion (the "how many users do segments A
    * and B share" dashboard): per-segment sketches built once, every
    * pair's union estimated by merging the two KB-sized sketches
    * (`hll_union`), overlap = est(A) + est(B) − est(A∪B). The pair
    * join runs on the segment-sized sketch frame — segments², never
    * users², and never a re-scan of events. Approximate → rows-only;
    * RelationalSpec bounds the overlap error against exact
    * intersections at 10% of the UNION size (the honest denominator:
    * inclusion-exclusion error compounds three ±2% estimates, so
    * relative-to-intersection error is unbounded when the overlap is
    * tiny — stated, not hidden).
    */
  def q51SketchOverlap(s: SparkSession, dir: String): DataFrame = {
    val sk = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    sk.as("a").join(sk.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("et_a"), col("b.event_type").as("et_b"),
        expr("hll_sketch_estimate(a.sk)").as("users_a"),
        expr("hll_sketch_estimate(b.sk)").as("users_b"),
        expr("hll_sketch_estimate(hll_union(a.sk, b.sk))").as("users_union"))
      .withColumn("overlap_est",
        // Inclusion-exclusion on three ±2% estimates can go negative on
        // tiny true overlaps; a negative shared-user count is
        // semantically impossible, so clamp at the surface.
        greatest(lit(0L), col("users_a") + col("users_b") - col("users_union")))
      .orderBy(col("et_a"), col("et_b"))
  }

  /** q49: exact per-group MODE — the most-frequent-value aggregate
    * (SQL:2023 / DuckDB `mode()`, Postgres `mode() WITHIN GROUP`)
    * with a DETERMINISTIC tie rule (smallest value wins), per
    * customer market segment over order priorities. Two map-side-
    * combinable aggregations and an argmax as `min(struct(-cnt,
    * value))` — p9's struct-argmax discipline: never a
    * `row_number().over(partitionBy(seg))` window funnel, ≤ one row
    * per (seg, value) per task crosses each shuffle; group count and
    * modal share ride along as integers.
    */
  def q49GroupMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("c_mktsegment"))
      .agg(
        min(struct((-col("cnt")).as("nc"), col("o_orderpriority").as("v"))).as("m"),
        sum(col("cnt")).as("n_orders"))
      .select(col("c_mktsegment"), col("m.v").as("modal_priority"),
        (-col("m.nc")).as("modal_cnt"), col("n_orders"),
        expr("((- m.nc) * 1000) div n_orders").as("modal_pm"))
      .orderBy(col("c_mktsegment"))
  }

  /** q48: ANALYZE-style table statistics — the stats-collection job
    * behind every cost-based optimizer (Spark `ANALYZE TABLE ... FOR
    * COLUMNS`, DuckDB/Postgres auto-stats): per column, exact NDV,
    * null count, min/max, and an 8-bucket EQUI-DEPTH histogram whose
    * boundary `hi` for bucket b is the value at rank ⌈n·b/8⌉ of the
    * sorted non-null multiset — the boundaries a join-selectivity
    * estimator consumes. Columns normalize to BIGINT first (money as
    * Det.cents), so every output is integer-exact.
    *
    * Scale shape: ONE lineitem scan fans each row into (col_name,
    * value) pairs, collapses to per-(column, value) counts (map-side
    * combinable, skinny 24-byte rows), and ranks come from the
    * p3/g21 sharded two-pass prefix over value order — bounded
    * `v div shardW` window partitions plus one skinny per-shard
    * offset frame per column, never a global single-reducer window
    * over the distinct values. Boundary selection is a literal
    * 1..8 explode with cross-multiplied rank tests (⌈n·b/8⌉ =
    * `(n·b + 7) div 8` lands in (cum_prev, cum]) — no percentile
    * UDF, no interpolation, deterministic under ties.
    */
  def q48TableStats(s: SparkSession, dir: String, buckets: Int = 8,
      shardW: Long = 4096L): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // every ANALYZE column rides ONE exploded frame with a typed value
    // pair: numerics (and dates, as epoch days) in vn, strings in vs —
    // exactly one of the two is non-null per column, so ordering by
    // (vn, vs) is the column's natural order and the whole boundary
    // machinery below is type-agnostic (r8 VERDICT #8: ANALYZE parity
    // for non-numeric columns; equi-depth over the sorted string
    // multiset = the dictionary-rank histogram).
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    // spread the narrow local scan before the 5× explode + partial
    // aggregate (r17: the cache build ran as 3 scan tasks, 1.2 s of
    // the 3.0 s warm wall, with 29 cores idle — guarded, so a
    // pre-split cluster scan skips the shuffle)
    val u = graft.Layout.spread(li.select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"), col("l_returnflag")))
      .select(explode(array(
        struct(lit("l_orderkey").as("col_name"), col("l_orderkey").as("vn"), nullS.as("vs")),
        struct(lit("l_quantity").as("col_name"), col("l_quantity").cast("long").as("vn"), nullS.as("vs")),
        struct(lit("l_extendedprice").as("col_name"), cents(col("l_extendedprice")).as("vn"), nullS.as("vs")),
        struct(lit("l_shipdate").as("col_name"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01")).cast("long").as("vn"),
          nullS.as("vs")),
        struct(lit("l_returnflag").as("col_name"), nullL.as("vn"), col("l_returnflag").as("vs"))
      )).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.vn").as("vn"), col("p.vs").as("vs"))
    // ONE table scan: nulls stay in the per-value count frame as their
    // own group, and every downstream frame (row/null stats, the
    // sharded prefix, NDV/min/max) derives from this NDV-sized cached
    // intermediate — without it each subtree re-scans the table (4
    // pruned scans observed at plan review; at 100 TB that is 4 reads
    // of a 3-column projection for one stats job).
    val counted = graft.Caches.track(
      u.groupBy(col("col_name"), col("vn"), col("vs")).agg(count(lit(1)).as("cnt")))
    val present = col("vn").isNotNull || col("vs").isNotNull
    val stats = counted.groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(present, col("cnt")).otherwise(0L)).as("n_vals"))
    // shard key, monotone in the column's value order: numeric shards
    // by value range (shardW-wide), strings by leading code point —
    // both bound per-shard window size without a global single-reducer
    // sort (strings: ≤ charset-size shards of the dictionary, each a
    // local window; the shard offsets frame is shards-sized)
    val vals = counted.filter(present)
      .withColumn("shard",
        coalesce(expr(s"vn div $shardW"), ascii(substring(col("vs"), 1, 1)).cast("long")))
    val wLocal = Window.partitionBy(col("col_name"), col("shard"))
      .orderBy(col("vn"), col("vs"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = vals.withColumn("cum_local", sum(col("cnt")).over(wLocal))
    val wShard = Window.partitionBy(col("col_name")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = vals.groupBy(col("col_name"), col("shard"))
      .agg(sum(col("cnt")).as("sb"))
      .withColumn("offset", coalesce(sum(col("sb")).over(wShard), lit(0L)))
      .select(col("col_name"), col("shard"), col("offset"))
    val cum = local.join(offsets, Seq("col_name", "shard"))
      .withColumn("cum", col("offset") + col("cum_local"))
      .withColumn("cum_prev", col("cum") - col("cnt"))
    val nd = vals.groupBy(col("col_name"))
      .agg(count(lit(1)).as("ndv"), min(col("vn")).as("min_num"), max(col("vn")).as("max_num"),
        min(col("vs")).as("min_str"), max(col("vs")).as("max_str"))
    cum.join(broadcast(stats), "col_name")
      .select(col("col_name"), col("vn"), col("vs"), col("cum"), col("cum_prev"),
        col("n_vals"), col("n_rows"), explode(sequence(lit(1), lit(buckets))).as("bucket"))
      .filter(expr(s"(n_vals * bucket + ${buckets - 1}) div $buckets") > col("cum_prev") &&
        expr(s"(n_vals * bucket + ${buckets - 1}) div $buckets") <= col("cum"))
      .join(broadcast(nd), "col_name")
      .select(col("col_name"), col("bucket").cast("int").as("bucket"),
        col("vn").as("hi_num"), col("vs").as("hi_str"), col("ndv"),
        (col("n_rows") - col("n_vals")).as("n_nulls"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      .orderBy(col("col_name"), col("bucket"))
  }

  /** q55: SKYLINE (Pareto frontier) over part — every part no other
    * part dominates on (price ↓, size ↑): the multi-objective
    * shortlist query (Börzsönyi et al., ICDE 2001). A part survives
    * iff no other part is ≤ on price AND ≥ on size with at least one
    * strict; exact-cents prices keep every comparison integer.
    *
    * Spark-first shape — NO quadratic self-join: dominance in 2D
    * reduces to prefix maxima over the PRICE-AGGREGATED table. A row
    * survives iff (a) its size equals the max size at its own price
    * (no same-price row is strictly taller) and (b) every strictly
    * cheaper price's max size is below it. (b) is a running max over
    * prices ascending — computed with the p3/q48 sharded two-pass
    * prefix discipline ($100 price shards: shard-local window + a
    * skinny per-shard exclusive prefix), so no window partition ever
    * holds more than one shard's distinct prices and nothing funnels
    * through one reducer at any corpus size. The fact table re-joins
    * the per-price frontier by price (equi-join, broadcastable: the
    * frontier is bounded by the price domain, not the corpus).
    */
  def q55Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Caches.track(Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"), cents(col("p_retailprice")).as("price_c")))
    val byPrice = p.groupBy(col("price_c")).agg(max(col("p_size")).as("max_sz"))
      .withColumn("shard", expr("price_c div 10000"))
    // pass 1: shard-local EXCLUSIVE running max over ascending price
    val wLoc = Window.partitionBy(col("shard")).orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val loc = byPrice.withColumn("loc_prev", max(col("max_sz")).over(wLoc))
    // pass 2: per-shard maxima (skinny: one row per $100 of price
    // domain) → exclusive prefix = max size among ALL cheaper shards
    val wSh = Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)
    val shPrev = byPrice.groupBy(col("shard")).agg(max(col("max_sz")).as("sh_max"))
      .withColumn("sh_prev", max(col("sh_max")).over(wSh))
      .select(col("shard"), col("sh_prev"))
    val frontier = loc.join(broadcast(shPrev), Seq("shard"))
      .withColumn("strict_prev",
        coalesce(greatest(col("loc_prev"), col("sh_prev")),
          col("loc_prev"), col("sh_prev"), lit(Int.MinValue)))
      .select(col("price_c"), col("max_sz"), col("strict_prev"))
    p.join(frontier, Seq("price_c"))
      .filter(col("p_size") === col("max_sz") && col("p_size") > col("strict_prev"))
      .select(col("p_partkey"), col("price_c"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** q56: EXACT weighted median per group — the robust central
    * tendency the approximate-percentile ops (q17/q25) explicitly
    * give up on: the smallest price v whose cumulative quantity
    * weight reaches half the group total (lower weighted median,
    * stated by integer cross-multiplication `2·cum ≥ tot` — no halves
    * and no float anywhere; `2·cum_prev < tot` picks exactly the
    * first crossing).
    *
    * Scale shape — exact medians WITHOUT a per-group global sort: the
    * corpus collapses to (group, value) weight pairs first (bounded by
    * the value domain, not the corpus), the cumulative weight over
    * ascending values is the q55/p3 sharded two-pass prefix sum
    * ($100-of-value shards), and group totals ride as a groups-sized
    * broadcast. One row emerges per group by a filter, not a sort.
    */
  def q56WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    // cache the distinct-value aggregate, not the corpus projection:
    // its two consumers (local-prefix window, shard-level frame) are
    // the only readers, and the group totals now ride the shard frame
    // (sum of per-shard sums ≡ the former corpus-sized second pass),
    // so the corpus is scanned exactly once (guide §2.3/§2.4)
    val agg = graft.Caches.track(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"),
        cents(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("grp"), col("v")).agg(sum(col("w")).as("w"))
      .withColumn("shard", expr("v div 10000")))
    val wLoc = Window.partitionBy(col("grp"), col("shard")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val loc = agg.withColumn("cum_loc", sum(col("w")).over(wLoc))
    val wSh = Window.partitionBy(col("grp")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shards = agg.groupBy(col("grp"), col("shard")).agg(sum(col("w")).as("sw"))
      .withColumn("off", coalesce(sum(col("sw")).over(wSh), lit(0L)))
      .withColumn("tot", sum(col("sw")).over(Window.partitionBy(col("grp"))))
      .select(col("grp"), col("shard"), col("off"), col("tot"))
    loc.join(broadcast(shards), Seq("grp", "shard"))
      .withColumn("cum", col("off") + col("cum_loc"))
      .filter(col("cum") * 2 >= col("tot") && (col("cum") - col("w")) * 2 < col("tot"))
      .select(col("grp"), col("v").as("median_cents"),
        col("cum").as("w_at"), col("tot").as("w_total"))
      .orderBy(col("grp"))
  }

  /** q58: GROWTH ACCOUNTING — the new/retained/resurrected/churned
    * monthly user ledger (the Social-Capital growth-accounting
    * identity: actives(t) = new + retained + resurrected;
    * churned(t) counts users active in t−1 who went dark): per-user
    * lag/lead over DISTINCT active months classifies each
    * (user, month) exactly — new (no prior month), retained (active
    * t−1), resurrected (gap > 1); churn attributes to the month AFTER
    * last activity, clamped to the observed horizon so the ledger
    * never invents post-corpus months. All integer month indexes
    * (year·12+month), no dates compared as floats anywhere.
    *
    * Scale shape: the corpus collapses to distinct (user, month)
    * rows first (months-per-user bounded by the calendar); both
    * windows ride one per-user partition; the horizon is a 1-row
    * broadcast (the q19 crossJoin shape, PlanSpec-registered); the
    * final ledger is months-sized.
    */
  def q58GrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val am = graft.Caches.track(Tables.events(s, dir)
      .select(col("user_id"), (year(col("ts")) * 12 + month(col("ts")))
        .cast("long").as("mo"))
      .distinct())
    val w = Window.partitionBy(col("user_id")).orderBy(col("mo"))
    val lagged = am.withColumn("pmo", lag(col("mo"), 1).over(w))
      .withColumn("nmo", lead(col("mo"), 1).over(w))
    val mx = am.agg(max(col("mo")).as("mxmo"))
    val st = lagged.groupBy(col("mo")).agg(
      count(when(col("pmo").isNull, 1)).as("n_new"),
      count(when(col("pmo") === col("mo") - 1, 1)).as("n_retained"),
      count(when(col("pmo").isNotNull && col("pmo") < col("mo") - 1, 1))
        .as("n_resurrected"),
      count(lit(1)).as("n_active"))
    val ch = lagged.crossJoin(broadcast(mx))
      .filter((col("nmo").isNull || col("nmo") > col("mo") + 1) &&
        col("mo") + 1 <= col("mxmo"))
      .groupBy((col("mo") + 1).as("mo"))
      .agg(count(lit(1)).as("n_churned"))
    st.join(ch, Seq("mo"), "full_outer")
      .select(col("mo"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        coalesce(col("n_active"), lit(0L)).as("n_active"))
      .orderBy(col("mo"))
  }

  /** q4: ORDER-PRIORITY checking — the TPC-H Q4 shape (how many
    * orders per priority shipped LATE in a quarter), the classic
    * EXISTS semi-join with a cross-table predicate. The synthetic
    * lineitem has no commit/receipt dates, so lateness is PLANTED
    * identically in both engines (§3): a line shipping more than 60
    * days after its order date. The semi-join keeps the equi-key on
    * orderkey (hash-partitionable at any scale) with the date test as
    * a residual condition — never a nested loop; one row per order at
    * most regardless of how many lines are late (EXISTS semantics).
    */
  def q4PriorityLate(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-07-01") &&
        col("o_orderdate") < lit("1995-10-01"))
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > date_add(col("o_orderdate"), 60), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** q35: ORDER↔LINEITEM reconciliation — the FK/rollup integrity
    * audit every warehouse runs (does the header total equal the sum
    * of its lines?): per order, the exact-cents difference between
    * o_totalprice and Σ line revenue (price·(1−disc)·(1+tax), each
    * line rounded to cents BEFORE summing — the stated convention, so
    * no float accumulation exists), rolled up per order status as
    * matched/mismatched counts and total absolute drift. Headers
    * without lines reconcile against 0 (left join, stated).
    *
    * Scale shape: one partial-agg groupBy on orderkey over lineitem,
    * one equi-join to headers, a statuses-sized rollup.
    */
  def q35FkReconcile(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("line_cents"))
      .groupBy(col("o_orderkey")).agg(sum(col("line_cents")).as("lines_cents"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_cents"))
      .join(lines, Seq("o_orderkey"), "left")
      .withColumn("diff", col("o_cents") - coalesce(col("lines_cents"), lit(0L)))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("diff") === 0, 1)).as("n_matched"),
        count(when(col("diff") =!= 0, 1)).as("n_mismatched"),
        sum(abs(col("diff"))).as("sum_absdiff_cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** q59: SEMI-ADDITIVE period-end balances — the measure class
    * (account balances, inventory levels, gauge metrics) that sums
    * across USERS but not across TIME: a month's figure is each
    * active user's LAST observed value that month (argmax by
    * (t, event_id) via one max(struct) — map-side combinable, no
    * row_number funnel; event_id unique ⇒ the carried cents never
    * participate in the comparison), summed per month in exact cents.
    *
    * Scale shape: one groupBy on (user, month) with partial
    * aggregation — the corpus never sorts; the month rollup is
    * months-sized. The carry-forward variant (inactive users keep
    * their last balance) is q28's gap-fill composed on top; this
    * surfaces the in-month truth.
    */
  def q59PeriodBalance(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("mo"),
        expr("unix_timestamp(ts)").as("t"), col("event_id"),
        cents(col("value")).as("cents"))
      .groupBy(col("user_id"), col("mo"))
      .agg(max(struct(col("t"), col("event_id"), col("cents"))).as("b"))
      .groupBy(col("mo"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("b.cents")).as("sum_end_cents"))
      .orderBy(col("mo"))

  /** q57: INTERVAL UNION length per supplier — how many distinct days
    * each supplier had freight in transit (overlaps counted once):
    * the classic gaps-and-islands sweep (SLA coverage /
    * machine-uptime / on-call hours). The synthetic lineitem carries
    * no receipt date, so transit duration is PLANTED by arithmetic
    * identically in both engines (§3 discipline): l_quantity days
    * from ship. Intervals are half-open integer day ranges
    * [st, st + qty); a new island starts
    * where the start clears the running max end of every earlier
    * interval (touching ranges merge), islands then aggregate to
    * min-start/max-end and their lengths SUM to the union length —
    * additive because islands are disjoint by construction.
    *
    * Scale shape: both windows ride ONE hash partitioning + sort on
    * supplier (the q13 per-key discipline — partitions are per-key
    * interval lists, never a corpus funnel), and the island fold is a
    * prefix sum of 0/1 flags, integer-exact. Tied (st, en) rows are
    * interchangeable, so any tie order yields the same islands.
    */
  /** Lower weighted median per group over pre-aggregated
    * (grp, v, w) rows with distinct (grp, v) — the q56 sharded
    * two-pass crossing, factored so q60 can run it twice (values,
    * then absolute deviations). Returns one (grp, med, tot) row per
    * group: the smallest v whose cumulative weight crosses tot/2.
    *
    * Scale shape: cumulative weight is NEVER a per-group global
    * window — local prefix within a (grp, shard) value range plus a
    * groups×shards offset frame, so no single task sorts a whole
    * group's value list.
    */
  private def lowerWeightedMedian(agg: DataFrame): DataFrame = {
    // cache the sharded frame: it feeds the local-prefix window and
    // the shard-level frame — uncached, every downstream derivative
    // re-runs the whole input subtree (measured: q60 10.8 s -> ~3 s
    // isolated with the two caches in this file)
    val a = graft.Caches.track(agg.withColumn("shard", expr("v div 10000")))
    val wLoc = Window.partitionBy(col("grp"), col("shard")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val loc = a.withColumn("cum_loc", sum(col("w")).over(wLoc))
    val wSh = Window.partitionBy(col("grp")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ONE groups×shards frame carries both the exclusive shard prefix
    // (off) and the group total (tot = full-frame sum over the same
    // partitioning): the former separate `tot` aggregate re-ran a
    // second corpus-sized pass and attached through its own broadcast
    // join — same values, two fewer shuffles and one fewer join per
    // crossing (guide §2.4: operations keyed the same way share one
    // exchange)
    val shards = a.groupBy(col("grp"), col("shard")).agg(sum(col("w")).as("sw"))
      .withColumn("off", coalesce(sum(col("sw")).over(wSh), lit(0L)))
      .withColumn("tot", sum(col("sw")).over(Window.partitionBy(col("grp"))))
      .select(col("grp"), col("shard"), col("off"), col("tot"))
    loc.join(broadcast(shards), Seq("grp", "shard"))
      .withColumn("cum", col("off") + col("cum_loc"))
      .filter(col("cum") * 2 >= col("tot") && (col("cum") - col("w")) * 2 < col("tot"))
      .select(col("grp"), col("v").as("med"), col("tot"))
  }

  /** q60: MEDIAN ABSOLUTE DEVIATION — the robust spread statistic
    * (MAD = median of |x − median(x)|), exact per group in integer
    * cents: two chained lower-weighted-median crossings over
    * count-weighted DISTINCT values. Pass 1 finds each group's
    * median; pass 2 re-keys the same distinct-value frame by
    * |v − med| and crosses again. No floats anywhere — both medians
    * are lower-median (first crossing) by definition, stated
    * identically in the oracle's window form.
    *
    * Scale shape: the corpus collapses to distinct (grp, value)
    * counts first (map-side combinable); each crossing is the q56
    * sharded prefix (local windows + a groups×shards offset frame,
    * never a per-group global sort); medians re-attach by broadcast
    * (one row per group).
    */
  def q60Mad(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"), cents(col("l_extendedprice")).as("v"))
    // distinct-value-sized, cached: pass 1's crossing and the dev
    // re-key both consume it, and the corpus groupBy is the only
    // corpus-sized shuffle in the query — it used to run twice
    val agg = graft.Caches.track(
      li.groupBy(col("grp"), col("v")).agg(count(lit(1)).cast("long").as("w")))
    // groups-sized — cached so the three consumers (dev's broadcast,
    // the final join) never re-run the first crossing
    val med = graft.Caches.track(lowerWeightedMedian(agg))
    val dev = agg.join(broadcast(med.select(col("grp"), col("med"))), Seq("grp"))
      .groupBy(col("grp"), abs(col("v") - col("med")).as("v"))
      .agg(sum(col("w")).as("w"))
    lowerWeightedMedian(dev)
      .withColumnRenamed("med", "mad_cents")
      .join(broadcast(med.select(col("grp"), col("med").as("median_cents"))), Seq("grp"))
      .select(col("grp"), col("median_cents"), col("mad_cents"),
        col("tot").as("n_rows"))
      .orderBy(col("grp"))
  }

  /** q61: BENFORD FIRST-DIGIT AUDIT — the classic data-quality /
    * fraud screen: census of the first significant digit of every
    * price against Benford's published expectation. Observed share
    * is exact integer division (n·1e6 div total); the expected-ppm
    * column is the published 9-row constant table (floor(log10(1+1/d)
    * ·1e6+0.5)) written LITERALLY in both engines — a fixed spec
    * constant, so no runtime log/float can diverge.
    *
    * Scale shape: one scan, map-side-combined 9-group aggregate, a
    * 1-row total broadcast. Nothing here grows with the corpus.
    */
  def q61Benford(s: SparkSession, dir: String): DataFrame = {
    // floor(log10(1 + 1/d) * 1e6 + 0.5) for d = 1..9 — published constants
    val exp = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val expCol = element_at(array(exp.map(lit): _*), col("digit").cast("int"))
    val li = Tables.lineitem(s, dir)
      .select(substring(cents(col("l_extendedprice")).cast("string"), 1, 1)
        .cast("long").as("digit"))
    val tot = li.agg(count(lit(1)).as("total"))
    li.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(n * CAST(1000000 AS BIGINT)) div total").as("obs_ppm"),
        expCol.as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  /** q62: MARKET-BASKET co-occurrence — the association-rule
    * support/confidence/lift table (Agrawal & Srikant, VLDB 1994)
    * over order baskets: which BRAND pairs ship together in one order
    * more or less often than independence predicts. Baskets are the
    * DISTINCT brands per order; pairs canonically ordered (a < b);
    * every surfaced ratio is exact integer division — lift
    * P(ab)/(P(a)·P(b)) ships as (n_ab·N·1e6) div (n_a·n_b) through
    * DECIMAL(38,0), so the 128-bit product is exact in both engines
    * (the t20 discipline).
    *
    * Scale shape: the corpus collapses to distinct (order, brand)
    * first (map-side combinable; per-order fan-out bounded by the
    * BRAND DOMAIN, not line count), so the pair self-join is an
    * equi-join on orderkey with bounded per-key multiplicity — never
    * lines². Singles and the basket total are brands-sized /
    * 1-row frames that broadcast onto the ≤ brands² pair table.
    */
  def q62Basket(s: SparkSession, dir: String): DataFrame = {
    val ob = graft.Caches.track(
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct())
    val singles = ob.groupBy(col("brand")).agg(count(lit(1)).as("n"))
    val tot = ob.agg(countDistinct(col("ok")).as("n_orders"))
    ob.as("a").join(ob.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(singles.select(col("brand").as("brand_a"), col("n").as("n_a"))),
        Seq("brand_a"))
      .join(broadcast(singles.select(col("brand").as("brand_b"), col("n").as("n_b"))),
        Seq("brand_b"))
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_orders"),
        expr("(n_ab * CAST(1000000 AS BIGINT)) div n_orders").as("support_ppm"),
        expr("(n_ab * CAST(1000000 AS BIGINT)) div n_a").as("conf_ppm"),
        expr("""cast((cast(n_ab as decimal(38,0)) * n_orders * 1000000)
                div (cast(n_a as decimal(38,0)) * n_b) as bigint)""").as("lift_ppm"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** q63: GLOBAL-CUSTOMER dormancy report (TPC-H Q22 shape — the
    * correlated-global-scalar + anti-join classic): customers whose
    * balance beats the positive-balance GLOBAL average, per nation,
    * with the subset that placed no RECENT CONFIRMED order — recency
    * evidence is orders from 1998-01-01 with an ODD orderkey, the §3
    * planting discipline: every customer in this corpus has SOME
    * order (Q22's bare no-orders test is vacuous at every sf), and
    * at sf0.001 even a bare date cutoff is, so half the late orders
    * are voided by deterministic key arithmetic (q44's device).
    * The average never materializes as a float: `bal·n_pos > sum_pos`
    * is the q45 integer cross-multiplication, exact at any scale.
    *
    * Scale shape: the global scalar is a 1-row broadcast
    * (crossJoin, PlanSpec-registered); the recency test is a
    * left join against the DISTINCT recent-customer keys (equi-key,
    * hash-partitionable — the anti-join decorrelated to a flag so
    * one pass yields both counts); nation attaches by broadcast;
    * output is nations-sized.
    */
  def q63GlobalCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"),
      cents(col("c_acctbal")).as("bal"))
    val glob = c.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01") &&
        col("o_orderkey") % 2 =!= 0)
      .select(col("o_custkey").as("rk")).distinct()
    c.crossJoin(broadcast(glob))
      .filter(col("bal") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("rk"), "left_outer")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_above"),
        sum(when(col("rk").isNull, 1L).otherwise(0L)).as("n_dormant"),
        sum(col("bal")).as("bal_cents_sum"))
      .orderBy(col("nation"))
  }

  /** Sharded two-pass INCLUSIVE prefix over an ungrouped
    * value-collapsed (v, w) frame — the ONE implementation behind
    * valueQuantile (q64) and q68's cumulative revenue line: local
    * windows per value-shard plus a shards-sized offset frame that
    * carries prefix AND grand total, so no task ever sorts the whole
    * value list and no separate count pass runs. Descending order
    * rides the ascending shard of the NEGATED value — truncating div
    * is monotone for any sign, so the banding stays valid. The
    * sharded input is cached: it feeds the local-prefix window and
    * the offset frame (the q60 multi-consumer lesson). Returns
    * (v, w, cum, tot).
    */
  private[graft] def shardedPrefix(vw: DataFrame, shardWidth: Long,
      desc: Boolean): DataFrame = {
    val a = graft.Caches.track(vw.withColumn("shard",
      if (desc) expr(s"(-v) div $shardWidth") else expr(s"v div $shardWidth")))
    val wLoc = Window.partitionBy(col("shard"))
      .orderBy(if (desc) col("v").desc else col("v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wSh = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val off = a.groupBy(col("shard")).agg(sum(col("w")).as("sw"))
      .withColumn("off", coalesce(sum(col("sw")).over(wSh), lit(0L)))
      .withColumn("tot", sum(col("sw")).over(wAll))
      .select(col("shard"), col("off"), col("tot"))
    a.withColumn("cum_loc", sum(col("w")).over(wLoc))
      .join(broadcast(off), Seq("shard"))
      .select(col("v"), col("w"), (col("off") + col("cum_loc")).as("cum"),
        col("tot"))
  }

  /** Exact value-quantile assignment without a global rank — the
    * p13 discipline factored for q64: collapse to per-VALUE counts,
    * sharded two-pass exclusive prefix (cum − w over the inclusive
    * [[shardedPrefix]] line), bucket = (cum_before·k) div N assigned
    * to the VALUE (equal values never split buckets — stated).
    * Returns (v, q).
    */
  private def valueQuantile(vals: DataFrame, k: Int): DataFrame =
    shardedPrefix(vals.groupBy(col("v")).agg(count(lit(1)).as("w")),
      shardWidth = 4096L, desc = false)
      .select(col("v"), expr(s"((cum - w) * $k) div tot").as("q"))

  /** q64: RFM SEGMENTATION — the classic marketing/lifecycle census
    * (recency / frequency / monetary quintiles; Hughes 1994): per
    * customer, days since last order, order count and exact-cents
    * spend, each quintiled 0–4, rolled up to the ≤125-cell segment
    * grid. EXACT with NO per-customer global rank: each metric runs
    * the p13 value-collapsed sharded prefix (`valueQuantile`), so a
    * value run lands in ONE bucket by definition and the oracle's
    * window form provably matches. All integers end to end.
    *
    * Scale shape: one orders scan → per-customer agg (map-side
    * combinable, customer-keyed); recency/frequency quantile maps are
    * value-DOMAIN-sized (days / order counts — broadcast); the
    * monetary map is distinct-values-sized (≈ customers — stated:
    * that join stays a hash equi-join, NOT a broadcast); final
    * rollup is 125 cells.
    */
  def q64Rfm(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Caches.track(Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(datediff(lit("1998-08-02"), max(col("o_orderdate"))).cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sumCents(col("o_totalprice")).as("mon")))
    val rq = valueQuantile(base.select(col("rec").as("v")), 5)
      .select(col("v").as("rec"), col("q").as("r_q"))
    val fq = valueQuantile(base.select(col("freq").as("v")), 5)
      .select(col("v").as("freq"), col("q").as("f_q"))
    val mq = valueQuantile(base.select(col("mon").as("v")), 5)
      .select(col("v").as("mon"), col("q").as("m_q"))
    base.join(broadcast(rq), Seq("rec"))
      .join(broadcast(fq), Seq("freq"))
      .join(mq, Seq("mon"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_cust"), sum(col("mon")).as("mon_cents_sum"),
        sum(col("freq")).as("n_orders"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** q65: INTER-ARRIVAL census — the purchase-cadence distribution
    * behind churn/LTV models (renewal analysis: the gap histogram is
    * the empirical inter-purchase distribution): per customer,
    * day gaps between consecutive orders via one lag over the
    * (date, orderkey) total order, rolled up into 30-day buckets
    * with exact integer count/min/max/sum per bucket. The gap
    * MULTISET is tie-invariant (gaps are differences of the sorted
    * date multiset — same-day orders contribute 0 regardless of tie
    * order), so the bucketed rollup is deterministic by construction.
    *
    * Scale shape: a 3-column projection before the one per-customer
    * window (q13 discipline — hash partition + sort, no corpus
    * funnel); output is buckets-sized. All integers.
    */
  def q65Interarrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("ck")).orderBy(col("d"), col("ok"))
    Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("d"))
      .withColumn("gap", col("d") - lag(col("d"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(expr("gap div 30").as("bucket"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("gap_min"),
        max(col("gap")).as("gap_max"), sum(col("gap")).as("gap_sum"))
      .orderBy(col("bucket"))
  }

  /** q66: BILATERAL VOLUME (TPC-H Q7 shape — the nation-pair × year
    * trade report): revenue between distinct supplier and customer
    * nations per shipment year, exact cents (each line's discounted
    * price rounds to cents BEFORE summing — stated, no float
    * accumulation). The two nation attachments ride the customer and
    * supplier keys; only cross-nation pairs survive.
    *
    * Scale shape: the lineitem→orders→customer chain is three
    * hash-partitionable equi-joins on their natural keys; supplier
    * and both nation dims broadcast; the rollup is
    * nations²×years-sized with map-side partials. No filter is lost:
    * the cross-nation predicate sits on broadcast-joined columns and
    * prunes before the shuffle-heavy rollup.
    */
  def q66BilateralVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(Tables.nation(s, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, dir)
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("snk"))
      .join(n2, col("c_nationkey") === col("cnk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue_cents"), count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** q67: RETURNED-ITEM customer ranking (TPC-H Q10 shape — the
    * lost-revenue report): top-20 customers by exact-cents revenue on
    * returned lines ('R'), with name and nation attached to the
    * winners only. The ranking is the q2/q9 bounded-heap discipline:
    * a TopKCosine aggregate (score desc, custkey asc — the oracle's
    * row_number order) instead of a corpus-wide window, so nothing
    * ever sorts the full customer list; dims join the 20-row winner
    * frame by broadcast.
    *
    * Scale shape: the returnflag filter pushes to the scan; lineitem
    * PRE-AGGREGATES to order grain BEFORE the orders join (per-line
    * cents rounding precedes both sums, so the regrouped sum is
    * exact), shuffling one row per returned ORDER into the join
    * instead of one per returned line — at 100 TB that is the
    * difference between order-count and line-count shuffle volume;
    * then one customer-keyed agg; the heap is 20 entries per partition
    * then merged; name/nation attach AFTER selection (20 rows ×
    * broadcast dims).
    */
  def q67ReturnedTopK(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val perOrder = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("o_lost_cents"), count(lit(1)).as("o_n_lines"))
    val lost = graft.Caches.track(perOrder
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_lost_cents")).as("lost_cents"),
        sum(col("o_n_lines")).as("n_lines")))
    val top = lost.groupBy()
      .agg(org.apache.spark.sql.graft.TopKCosine
        .top_k(col("lost_cents").cast("double"), col("ck"), k).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).cast("long").as("rank"), col("col.id").as("ck"))
    // the k-row winner frame is the broadcast side of the customer
    // attach — the customer table itself must never exchange for a
    // 20-row lookup
    broadcast(lost.join(broadcast(top), Seq("ck")))
      .join(Tables.customer(s, dir), col("ck") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("rank"), col("ck").as("custkey"), col("c_name"),
        col("n_name").as("nation"), col("lost_cents"), col("n_lines"))
      .orderBy(col("rank"))
  }

  /** q68: ABC / PARETO revenue classification — the inventory-policy
    * census (Pareto's 80/15/5 rule; Dickie 1951): parts classed A
    * (the head supplying the first 80% of revenue), B (to 95%), C
    * (tail) by the CUMULATIVE revenue line in descending revenue
    * order, boundaries stated by integer cross-multiplication
    * (5·cum ≤ 4·tot; 20·cum ≤ 19·tot — no percentage float ever
    * exists) and a revenue-VALUE run lands in one class by
    * construction (ties are interchangeable — stated, the q64/p13
    * tie rule). Output is the 3-row class rollup with exact share
    * ppm through DECIMAL(38,0).
    *
    * Scale shape: per-part revenue is one map-side-combinable agg;
    * the cumulative line runs on the value-COLLAPSED frame via the
    * sharded two-pass prefix (descending order = ascending shard of
    * the negated value, truncating div is monotone so the banding is
    * valid); the class map ≈ distinct revenues (≈ parts — stated:
    * hash equi-join, not broadcast); the rollup is 3 rows.
    */
  def q68AbcClasses(s: SparkSession, dir: String): DataFrame = {
    val pr = graft.Caches.track(Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev")))
    val classed = shardedPrefix(
      pr.groupBy(col("rev")).agg(count(lit(1)).as("cnt"))
        .select(col("rev").as("v"), (col("rev") * col("cnt")).as("w")),
      shardWidth = 1000000L, desc = true)
      // boundary cross-multiplication in DECIMAL(38,0): tot is total
      // corpus revenue in cents, so tot*20 has only ~2.5x headroom to
      // 2^63 at the 100 TB design point — same discipline as share_ppm
      .select(col("v").as("rev"),
        when(expr("cast(cum as decimal(38,0)) * 5 <= cast(tot as decimal(38,0)) * 4"), "A")
          .when(expr("cast(cum as decimal(38,0)) * 20 <= cast(tot as decimal(38,0)) * 19"), "B")
          .otherwise("C").as("abc"),
        col("tot"))
    pr.join(classed, Seq("rev"))
      .groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"),
        max(col("tot")).as("tot"))
      .select(col("abc"), col("n_parts"), col("rev_cents"),
        expr("""cast((cast(rev_cents as decimal(38,0)) * 1000000)
                div tot as bigint)""").as("share_ppm"))
      .orderBy(col("abc"))
  }

  /** q69: SKEW-SAFE fact-dim join — the #1 production incident shape
    * at 100 TB made a first-class, oracle-checked operator (r10
    * VERDICT #6: the suite measured skew in probes but never exercised
    * a skewed join end-to-end). The fact side is DELIBERATELY skewed
    * the way real facts are: rows whose supplier is unresolved
    * collapse to the sentinel key 0 (the null-like default-key
    * pattern), putting ~75% of the corpus on ONE join key — the
    * single-reducer straggler AQE's skew split cannot always save
    * (it needs the skew to materialize as oversized shuffle blocks
    * AFTER partial aggregation; a hot KEY inside a well-sized
    * partition sails through). The join runs through
    * [[Joins.saltedJoin]]: a DETERMINISTIC per-row salt spreads the
    * hot key over 16 reducers, the dim replicates per salt, and the
    * result is row-identical to the plain equi-join — which is
    * exactly what the DuckDB oracle states (plain join), so the hash
    * gate proves the salting is semantics-free. PlanSpec asserts the
    * skew path actually fired: with auto-broadcast off, the join
    * keys carry `_salt` beside the natural key, and JoinsSpec
    * demonstrates the AQE alternative (OptimizeSkewedJoin marks the
    * plain join under lowered thresholds) against the same frame.
    *
    * Scale shape: salt ∝ hot-key row share × reducer target; the dim
    * exchange moves only pre-replication rows (the straggler
    * fix in SURVEY.md §6); the rollup output is nations+1 rows.
    */
  def q69SkewJoin(s: SparkSession, dir: String, salt: Int = 16): DataFrame = {
    val fact = skewedFact(s, dir)
    val dim = skewedDim(s, dir)
    Joins.saltedJoin(fact, dim, "sk", salt,
      saltCols = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("nk"))
      .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("n_lines"))
      .select(col("nk").as("nation_key"), col("revenue_cents"), col("n_lines"))
      .orderBy(col("nation_key"))
  }

  /** q69's deliberately skewed fact: ~75% of lines collapse to the
    * sentinel supplier key 0 (shared with JoinsSpec's AQE twin).
    */
  private[graft] def skewedFact(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(pmod(col("l_orderkey"), lit(4)) =!= 0, 0L)
        .otherwise(col("l_suppkey")).as("sk"),
      cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("cents"),
      col("l_orderkey"), col("l_linenumber"))

  /** q69's dim: supplier→nation plus the sentinel row (0, -1). */
  private[graft] def skewedDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, dir)
      .select(col("s_suppkey").as("sk"), col("s_nationkey").as("nk"))
      .unionByName(Seq((0L, -1L)).toDF("sk", "nk"))
  }

  /** q70: MULTI-TOUCH (linear) attribution — the revenue-assignment
    * report beside q47's last-touch form: each purchase's exact cents
    * split EQUALLY across every click of the same user within the
    * lookback horizon, the integer remainder assigned to the MOST
    * RECENT click (ties by highest click_id) so per-purchase cents
    * CONSERVE exactly — Σ attributed = purchase cents, no float
    * weights, spec-asserted as a law and implied by the oracle hash.
    * Output: per converting click, its purchase count and attributed
    * exact cents.
    *
    * Scale shape: the pair join is user-keyed (equi on user_id, the
    * horizon predicate filters in the join) — pairs bounded by
    * per-user activity × horizon, never corpus²; the split runs in a
    * window PARTITIONED BY purchase (bounded by clicks-in-horizon,
    * never a global window); the rollup is click-keyed with map-side
    * partials.
    */
  def q70Attribution(s: SparkSession, dir: String, horizonSec: Long = 86400L): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_timestamp(col("ts")).as("c_ep"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_timestamp(col("ts")).as("p_ep"), cents(col("value")).as("p_cents"))
    val pairs = purch.join(clicks, Seq("user_id"))
      .filter(col("c_ep") <= col("p_ep") &&
        col("p_ep") - col("c_ep") <= horizonSec)
    val w = Window.partitionBy(col("purchase_id"))
    val ranked = pairs
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("c_ep").desc, col("click_id").desc)))
    ranked
      .select(col("click_id"),
        (expr("p_cents div k") +
          when(col("rnk") === 1, pmod(col("p_cents"), col("k"))).otherwise(0L))
          .as("attr_cents"))
      .groupBy(col("click_id"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("attr_cents")).as("attr_cents"))
      .orderBy(col("click_id"))
  }

  def q57IntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.lineitem(s, dir).select(col("l_suppkey").as("k"),
      datediff(col("l_shipdate"), lit("1992-01-01")).cast("long").as("st"),
      (datediff(col("l_shipdate"), lit("1992-01-01")) +
        col("l_quantity")).cast("long").as("en"))
    val w = Window.partitionBy(col("k")).orderBy(col("st"), col("en"))
    val marked = iv
      .withColumn("mp", max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("mp").isNull || col("st") > col("mp"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = marked.groupBy(col("k"), col("island"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"), count(lit(1)).as("n"))
    islands.groupBy(col("k"))
      .agg(sum(col("n")).as("n_intervals"), count(lit(1)).as("n_islands"),
        sum(col("ien") - col("ist")).as("covered_days"))
      .select(col("k").as("l_suppkey"), col("n_intervals"),
        col("n_islands"), col("covered_days"))
      .orderBy(col("l_suppkey"))
  }

  /** q73: TOP-N PER GROUP through the OPTIMIZER's WindowGroupLimit —
    * the third member of the suite's top-n family and the one that
    * rides a Spark-4 optimizer rule instead of hand-engineering: q2
    * aggregates-then-limits, q9/t5 use the bounded-heap aggregate
    * precisely because a window over a FIXED key set funnels whole
    * partitions through single reducers — but when the rank filter
    * sits DIRECTLY above the window, Catalyst's
    * InferWindowGroupLimit inserts a WindowGroupLimit below BOTH
    * sides of the exchange: every map task pre-truncates its
    * partition to the top n per group before shuffling, so the
    * 5-segment reducer funnel receives ≤ n·tasks rows instead of the
    * corpus. Same survivable shape as the heap aggregate, obtained
    * declaratively — PlanSpec asserts the Partial WindowGroupLimit
    * sits below the exchange, making the optimization a tested
    * contract rather than a hope. Unique (cents desc, orderkey)
    * order key ⇒ engine-deterministic ranks.
    */
  def q73GroupTopn(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("c_mktsegment"), col("o_orderkey"), col("cents"),
        col("rnk").cast("long").as("rnk"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  /** q71: SEMI-STRUCTURED columns through Spark 4's VARIANT type —
    * the schemaless-column answer at 100 TB: `parse_json` decodes a
    * heterogeneous JSON document ONCE into the binary VariantType
    * encoding, and every later `variant_get` is a path walk over
    * that encoding (vs `get_json_object`, which re-parses the string
    * per extraction — q15's shape; with five extractions that is 5×
    * the parse CPU on every row of a 100 TB scan). Exercised here:
    * nested-object path ($.a.b), array index ($.arr[1]), a typed
    * string path, and `try_variant_get`'s null-on-cast-failure
    * contract (a string tag read as long — counts 0, never throws).
    *
    * The heterogeneous shapes are PLANTED from the extracted k (§3
    * discipline: the shipped `props` is flat '{"k":N}'), three
    * document schemas keyed by k mod 3, so the DuckDB oracle states
    * the same aggregate from k directly — the hash compare proves
    * parse → nested access → array index → typed null end to end.
    * One scan, one skinny event_type-keyed groupBy, map-side
    * combinable.
    */
  def q71Variant(s: SparkSession, dir: String): DataFrame = {
    // % (truncated remainder), NOT pmod: the oracle's k % 3 and the
    // spec's Scala % are sign-preserving, so the three classifiers
    // only agree under matching semantics (k happens to be ≥ 0 in
    // this corpus, but the operator must not depend on that)
    val k = get_json_object(col("props"), "$.k").cast("long")
    val j = when(k % lit(3) === 0,
        concat(lit("{\"a\":{\"b\":"), k, lit("},\"tag\":\"x"), k % lit(5), lit("\"}")))
      .when(k % lit(3) === 1,
        concat(lit("{\"k\":"), k, lit(",\"arr\":["), k, lit(","), k + 1, lit("]}")))
      .otherwise(concat(lit("{\"k\":"), k, lit("}")))
    Tables.events(s, dir)
      .select(col("event_type"), parse_json(j).as("v"))
      .select(col("event_type"),
        coalesce(variant_get(col("v"), "$.a.b", "long"),
          variant_get(col("v"), "$.k", "long")).as("val"),
        variant_get(col("v"), "$.arr[1]", "long").as("arr1"),
        variant_get(col("v"), "$.tag", "string").as("tag"),
        try_variant_get(col("v"), "$.tag", "long").as("tag_as_long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("val")).as("sum_val"),
        count(col("arr1")).as("n_arr"),
        sum(col("arr1")).as("sum_arr1"),
        count(col("tag")).as("n_tag"),
        count(col("tag_as_long")).as("n_bad_cast"))
      .orderBy(col("event_type"))
  }

  /** q72: PAGERANK over the host link graph — the link-centrality
    * source-quality signal web curation pipelines weight by (Common
    * Crawl publishes exactly this ranking over its host graph). The
    * damped update runs a FIXED number of unrolled iterations in
    * pure integer arithmetic: ranks live in e12 units (10^12 mass
    * split over N hosts), each iteration is
    * `r'(v) = (15·10^12) div (100·N) + Σ_in (85·r(u)) div (100·out(u))`
    * — truncating integer division, identical in Spark (`div`) and
    * DuckDB (`//`) for the non-negative operands here, so three
    * iterations stay hash-exact with no float anywhere.
    *
    * Distribution is the standard edge-shuffle PageRank: ranks and
    * edges are host-keyed frames, one equi-join + one dst-keyed
    * groupBy per iteration (3 shuffles total), hosts with no
    * in-links re-enter via a left join against the host frame. No
    * driver-side state — N rides a broadcast 1-row frame. The edge
    * frame is cached once (4 consumers). At 10^8 hosts each
    * iteration shuffles |E| skinny (long, long) contribution rows —
    * the shape GraphX/Pregel jobs run at exactly this scale.
    *
    * The documents table carries no links, so the edge set is
    * planted by doc_id arithmetic over d10's host universe (§3):
    * src = (doc_id%97)%37, dst = (doc_id·31+7)%37 bumped off
    * self-loops; the oracle re-derives the identical graph.
    *
    * ITERATION SCALING: the default 3 iterations unroll into one
    * lineage — fine at that depth, but a real convergence loop (20+
    * iterations) re-executes the join tower per action and blows up
    * optimizer time superlinearly. Past 3 iterations each step
    * therefore cuts lineage with `localCheckpoint()` (materialized
    * rank blocks, |hosts| skinny rows — the GraphX/Pregel pattern of
    * persisting each superstep); the unrolled default stays
    * hash-exact and plan-identical to r12.
    */
  def q72Pagerank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val Scale = 1000000000000L
    val docs = Tables.documents(s, dir)
    val src = pmod(pmod(col("doc_id"), lit(97)), lit(37))
    val d0 = pmod(col("doc_id") * 31 + 7, lit(37))
    val dst = when(d0 === src, pmod(d0 + 1, lit(37))).otherwise(d0)
    val edges = graft.Caches.track(
      docs.select(src.as("src"), dst.as("dst")).distinct())
    val hosts = graft.Caches.track(
      edges.select(col("src").as("hid"))
        .union(edges.select(col("dst").as("hid"))).distinct())
    val n = hosts.agg(count(lit(1)).as("n_hosts"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eo = graft.Caches.track(edges.join(outdeg, "src"))
    val hostsN = hosts.crossJoin(broadcast(n))
    var ranks = hostsN.select(col("hid"), expr(s"${Scale}L div n_hosts").as("r"))
    for (i <- 1 to iters) {
      val contribs = eo
        .join(ranks.withColumnRenamed("hid", "src"), "src")
        .select(col("dst").as("hid"), expr("(85 * r) div (100 * outdeg)").as("c"))
        .groupBy(col("hid")).agg(sum(col("c")).as("cin"))
      ranks = hostsN.join(contribs, Seq("hid"), "left")
        .select(col("hid"),
          (expr(s"(15 * ${Scale}L) div (100 * n_hosts)") +
            coalesce(col("cin"), lit(0L))).as("r"))
      // long walks cut lineage per superstep (scaladoc: iteration
      // scaling); the 3-iteration default stays one unrolled plan
      if (iters > 3 && i < iters) ranks = ranks.localCheckpoint()
    }
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    ranks
      .join(outdeg.withColumnRenamed("src", "hid"), Seq("hid"), "left")
      .join(indeg.withColumnRenamed("dst", "hid"), Seq("hid"), "left")
      .select(col("hid"), col("r").as("rank_e12"),
        coalesce(col("outdeg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("rank_e12").desc, col("hid"))
  }

  /** q74: HIERARCHY FLATTEN through a RECURSIVE CTE (Spark 4's
    * `WITH RECURSIVE` → `UnionLoopExec`) — the org-chart / category
    * -tree / bill-of-materials walk every warehouse eventually runs,
    * expressed declaratively instead of a hand-rolled driver loop.
    * The engine executes the recursion as FRONTIER ITERATION: each
    * step equi-joins the previous level (a `UnionLoopRef` frame)
    * against the child table, so per-iteration shuffle is
    * |frontier ⋈ children| — BFS's cost shape, never depth × table.
    * At 10^8 nodes a level-keyed step shuffles one level, and the
    * iteration count is the tree DEPTH (here ≤ log10(max key) ≈ 8
    * at any TPC-H scale — strictly-decreasing parents make
    * termination a proof, not a hope; Spark's recursion guards
    * backstop it: `spark.sql.cteRecursionLevelLimit` (100) covers
    * any real hierarchy, and a production-scale walk raises
    * `spark.sql.cteRecursionRowLimit` deliberately — that limit
    * bounds TOTAL recursion output and a 10^8-node walk legitimately
    * emits 10^8 rows; the guard exists for runaway recursions, not
    * proven-finite ones).
    *
    * The customer table carries no hierarchy, so one is PLANTED by
    * key arithmetic (§3): parent(k) = k div 10 — a 10-ary forest
    * whose roots are exactly the keys whose parent key is absent
    * (anti-join anchor: no reliance on key contiguity). k = 0 is its
    * own parent (the one fixpoint of k div 10) — the `c.k <> h.k`
    * guard makes it a root instead of an infinite loop; every other
    * parent is strictly smaller, so depth is bounded. Each node
    * carries exact acctbal cents; the walk accumulates PATH SUMS
    * (root-to-node ancestor cents — the rolled-up-cost column of
    * every BOM query), and the report is a depth-grain census:
    * nodes, distinct roots, path-cents mass, key bounds per level.
    * All-integer surfaces; `div` ≡ DuckDB `//` on the non-negative
    * keys, so the recursion is hash-exact end to end.
    */
  def q74Hierarchy(s: SparkSession, dir: String): DataFrame = {
    // the walk emits each customer exactly once, so total recursion
    // output = |customer| — past the default cteRecursionRowLimit of
    // 10^6 at sf ≥ ~7. The raise is QUERY-SCOPED: the recursion
    // executes eagerly inside [[withConfs]] (localCheckpoint
    // materializes the depth-grain census, ≤ ~10 rows), so the
    // runaway-recursion guard stays at its default for every other
    // recursive query in the session. The temp view is per-call
    // unique and dropped on the way out.
    withConfs(s, Seq("spark.sql.cteRecursionRowLimit" -> "2000000000")) {
      val (df, view) = q74Lazy(s, dir)
      try df.localCheckpoint()
      finally s.catalog.dropTempView(view)
    }
  }

  /** The LAZY recursive frame behind [[q74Hierarchy]], for plan
    * inspection (PlanSpec's UnionLoop assertion needs the recursion
    * visible, which the scoped eager wrapper's checkpoint hides).
    * Leaves the caller to manage `cteRecursionRowLimit` and to drop
    * the returned per-call temp view — the production entry is
    * q74Hierarchy. */
  private[graft] def q74Lazy(s: SparkSession, dir: String): (DataFrame, String) = {
    val view = s"customer_v74_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.customer(s, dir).createOrReplaceTempView(view)
    val df = s.sql(s"""
      WITH RECURSIVE
      c AS (SELECT c_custkey AS k,
              CAST(round(c_acctbal * 100) AS BIGINT) AS cents
            FROM $view),
      h AS (
        SELECT k, k AS root, 0 AS depth, cents AS path_cents
        FROM c WHERE NOT EXISTS
          (SELECT 1 FROM c p WHERE p.k = c.k div 10 AND p.k <> c.k)
        UNION ALL
        SELECT c.k, h.root, h.depth + 1, h.path_cents + c.cents
        FROM c JOIN h ON c.k div 10 = h.k AND c.k <> h.k
      )
      SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_nodes,
        count(DISTINCT root) AS n_roots, sum(path_cents) AS sum_path_cents,
        min(k) AS min_key, max(k) AS max_key
      FROM h GROUP BY depth ORDER BY depth""")
    (df, view)
  }

  /** Month-partitioned orders fixture for q75 (the ensureEvolution
    * pattern: real Spark writer, built once): one hive directory per
    * `o_month = year·100 + month` — the star-schema fact layout whose
    * directories dynamic pruning skips.
    */
  private def ensureMonthPartitioned(s: SparkSession, dir: String): String = {
    val root = graft.BuildOnce.ensure(s, graft.geo.Fixtures.fixtureRoot("ordpart", dir),
        "ordpart v1", Seq(s"$dir/orders.parquet")) { out =>
      Tables.orders(s, dir)
        .withColumn("o_month",
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
        .write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$out/data")
    }
    s"$root/data"
  }

  /** q75: DYNAMIC PARTITION PRUNING — the join-driven complement of
    * g11's static IN-list pruning, and THE star-schema optimization
    * at 100 TB: the fact is laid out one directory per month, the
    * dimension's selective predicate (first-quarter months) is known
    * only at RUNTIME through the join, and Catalyst turns the
    * broadcast build side into a partition filter on the fact scan
    * (`dynamicpruningexpression` reusing the broadcast exchange) —
    * the fact reads ~1/4 of its directories and never touches the
    * rest. Without DPP this plan scans every partition and filters
    * rows after the join; with it, pruning happens at LISTING time.
    * PlanSpec asserts both halves: the dynamicpruning partition
    * filter in the plan AND the numPartitions metric reading a
    * strict subset. The dimension derives from the orders table (a
    * months-sized frame with a derived quarter attribute), the fact
    * from the partitioned fixture — the oracle recomputes the
    * quarter-1 census straight from orders, so the hash proves the
    * pruned scan dropped no row.
    */
  def q75Dpp(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(ensureMonthPartitioned(s, dir))
    val dim = Tables.orders(s, dir)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("o_month"))
      .distinct()
      .withColumn("quarter", expr("(o_month % 100 - 1) div 3 + 1"))
    fact.join(broadcast(dim.filter(col("quarter") === 1)), Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sumCents(col("o_totalprice")).as("revenue_cents"))
      .select(col("o_month").cast("long").as("o_month"),
        col("n_orders"), col("revenue_cents"))
      .orderBy(col("o_month"))
  }

  /** Save/set/restore a conf bundle around an EAGER block — the
    * query-scoped twin of a SQL hint for knobs that have no hint
    * form. The block must finish executing inside (localCheckpoint /
    * collect); a lazy frame escaping the scope would re-read restored
    * confs at action time. */
  private[graft] def withConfs[T](s: SparkSession,
      confs: Seq[(String, String)])(f: => T): T = {
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q76's conf bundle: Spark 4 enables the runtime bloom filter by
    * default but gates it behind a 10 GB application-side scan — the
    * 100 TB posture; at test scale the gate is lowered so the rule
    * fires on the fixture-sized fact. autoBroadcastJoinThreshold=-1
    * models the non-broadcastable dimension this operator exists
    * for (a broadcast-size dim takes q75's DPP path instead). */
  private[graft] val q76Confs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** q76: RUNTIME BLOOM-FILTER JOIN PRUNING (Catalyst's
    * `InjectRuntimeFilter` → `BloomFilterMightContain`) — the
    * ROW-GRAIN complement of q75's partition-grain dynamic pruning,
    * and the scan-reduction lever when the star join's dimension is
    * TOO BIG TO BROADCAST: a selective dim predicate is known only
    * through the join, the join key (`orderkey`) is NOT a partition
    * key, so directory pruning cannot help — instead the optimizer
    * builds a bloom filter over the dim's surviving join keys (a
    * scalar subquery aggregating `BloomFilterAggregate`) and plants
    * `bloom_filter_might_contain(key)` as a FILTER on the fact scan.
    * The fact side then drops non-matching rows BEFORE the shuffle:
    * at 100 TB a 6%-selective dim predicate means ~94% of fact rows
    * never leave their map task — the sort-merge exchange shrinks by
    * the dim's selectivity without any layout prerequisite (q75
    * needs the fact partitioned by the join attribute; this needs
    * nothing). False positives pass the bloom and die in the real
    * join — correctness never depends on the filter, which is why
    * the oracle recomputes the join exactly. This is also the
    * READ-side twin of the per-column bloom SINK already proved in
    * ParquetSinkSpec (write-side blooms prune row groups for point
    * predicates; runtime blooms prune rows for JOIN predicates).
    *
    * PlanSpec asserts both halves: the bloom filter subtree in the
    * fact scan's plan AND the executed rows-pruned metric (the
    * bloom's filter output strictly below the scan output).
    */
  def q76BloomJoin(s: SparkSession, dir: String): DataFrame =
    withConfs(s, q76Confs)(q76Frame(s, dir).localCheckpoint())

  /** The lazy frame behind [[q76BloomJoin]] — PlanSpec executes it
    * inside its own [[withConfs]] scope to read plan + metrics. */
  private[graft] def q76Frame(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "P" && col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val fact = Tables.lineitem(s, dir)
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sumCents(col("l_extendedprice")).as("revenue_cents"))
      .orderBy(col("l_returnflag"))
  }

  /** q77: correlated LATERAL join — the SQL-standard "top-k related
    * rows per outer row" shape (`FROM customer c, LATERAL (SELECT …
    * WHERE o_custkey = c_custkey ORDER BY … LIMIT 2)`), and a
    * DECORRELATION showcase: the naive reading executes the subquery
    * once PER OUTER ROW (|customer| subquery runs — the correlated
    * nested loop that kills at any scale), but Catalyst's
    * DecorrelateInnerQuery rewrites the correlated limit into ONE
    * window pass over orders (row_number ≤ 2 per custkey, truncated
    * below the exchange by WindowGroupLimit — the q73 machinery
    * arriving automatically via decorrelation) joined ONCE on the
    * correlation key. Per-key cost is the key's own orders, the
    * shuffle is one hash exchange each side — the plan a hand-writer
    * would build from q73, produced from the declarative correlated
    * form. PlanSpec asserts the rewrite: LateralJoin in the analyzed
    * plan, gone from the optimized plan, WindowGroupLimit + equi-join
    * in the executed one.
    *
    * Deterministic: the inner ORDER BY carries an o_orderkey
    * tiebreak, so LIMIT 2 is a total-order prefix in both engines;
    * money in exact cents (Det.cents' round-to-long in SQL form).
    *
    * Plan discovery (measured, kept as the row's lesson): ordering
    * the inner subquery by the NON-projected o_totalprice makes the
    * decorrelator fall back to a GLOBAL range sort of orders with an
    * order-by-less window (no group limit — every orders row crosses
    * two shuffles); ordering by the PROJECTED price_cents column is
    * what buys the windowed WindowGroupLimit plan asserted below.
    * Same rows either way — the projected form is the scale-correct
    * spelling.
    */
  def q77Lateral(s: SparkSession, dir: String): DataFrame = {
    val (df, vs) = q77Lazy(s, dir)
    try df.localCheckpoint()
    finally vs.foreach(s.catalog.dropTempView)
  }

  /** The LAZY frame behind [[q77Lateral]] with its per-call temp
    * views, for PlanSpec's analyzed/optimized rewrite assertions. */
  private[graft] def q77Lazy(s: SparkSession, dir: String): (DataFrame, Seq[String]) = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val cv = s"customer_q77_$tag"
    val ov = s"orders_q77_$tag"
    Tables.customer(s, dir).createOrReplaceTempView(cv)
    Tables.orders(s, dir).createOrReplaceTempView(ov)
    val df = s.sql(s"""
      SELECT c.c_custkey, t.o_orderkey, t.price_cents
      FROM $cv c,
      LATERAL (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
               FROM $ov o WHERE o.o_custkey = c.c_custkey
               ORDER BY price_cents DESC, o_orderkey LIMIT 2) t
      ORDER BY c.c_custkey, price_cents DESC, o_orderkey""")
    (df, Seq(cv, ov))
  }
}
