package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AsofJoin

/** The custom partitioned sort-merge as-of join must agree with the
  * sorted-union window formulation (the construction it replaced in
  * q14) on randomized data, and handle nulls/ties/missing keys.
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: time-sorted union + last(ignoreNulls)
    * carry-forward window.
    */
  private def windowReference(ev: DataFrame, ord: DataFrame): DataFrame = {
    val o = ord.select(col("k").as("uid"), col("t"), col("payload"),
      lit(null).cast("long").as("ev_id"), lit(0).as("kind"))
    val e = ev.select(col("k").as("uid"), col("t"),
      lit(null).cast("long").as("payload"), col("ev_id"), lit(1).as("kind"))
    val w = Window.partitionBy(col("uid")).orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    o.unionByName(e)
      .withColumn("asof_payload", last(col("payload"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("ev_id"), col("asof_payload"))
  }

  test("asof equals the window-trick reference on randomized data") {
    val rnd = new scala.util.Random(11)
    // events and right rows over 20 keys with colliding timestamps;
    // right payloads unique per (key, time) so ties are deterministic
    val ev = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      .toDF("ev_id", "k", "tl").select(col("ev_id"), col("k"),
        timestamp_seconds(col("tl")).as("t"))
    val ord = (1 to 300).map { _ => (rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong) }
      .distinct.zipWithIndex
      .map { case ((k, tl), i) => (k, tl, i.toLong) }
      .toDF("k", "tl", "payload").select(col("k"),
        timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("ev_id"), col("payload").as("asof_payload"))
      .as[(Long, Option[Long])].collect().toMap
    val exp = windowReference(
      ev.select(col("k"), col("t"), col("ev_id")), ord)
      .as[(Long, Option[Long])].collect().toMap
    assert(got.size == 400 && got == exp)
  }

  test("string keys work (carried key values survive row-buffer reuse)") {
    val rnd = new scala.util.Random(31)
    val keys = Vector("alpha", "bravo", "charlie", "delta", "echo", "フォックス")
    val ev = (1 to 200).map(i => (i.toLong, keys(rnd.nextInt(keys.size)), rnd.nextInt(500).toLong))
      .toDF("ev_id", "k", "tl")
      .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
    val ord = (1 to 120).map(_ => (keys(rnd.nextInt(keys.size)), rnd.nextInt(500).toLong))
      .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("k", "tl", "payload")
      .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
    val exp = windowReference(
      ev.select(col("k"), col("t"), col("ev_id")),
      ord).as[(Long, Option[Long])].collect().toMap
    assert(got.size == 200 && got == exp)
  }

  /** Forward reference: time-sorted union + first(ignoreNulls) over
    * the CURRENT ROW..FOLLOWING frame, events before right rows at
    * equal t (inclusive rt >= lt).
    */
  private def windowReferenceFwd(ev: DataFrame, ord: DataFrame): DataFrame = {
    val o = ord.select(col("k").as("uid"), col("t"), col("payload"),
      lit(null).cast("long").as("ev_id"), lit(1).as("kind"))
    val e = ev.select(col("k").as("uid"), col("t"),
      lit(null).cast("long").as("payload"), col("ev_id"), lit(0).as("kind"))
    val w = Window.partitionBy(col("uid")).orderBy(col("t"), col("kind"))
      .rowsBetween(0, Window.unboundedFollowing)
    o.unionByName(e)
      .withColumn("next_payload", first(col("payload"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("ev_id"), col("next_payload"))
  }

  test("forward asof equals the window reference on randomized data, longs and strings") {
    val rnd = new scala.util.Random(17)
    val ev = (1 to 400).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
      .toDF("ev_id", "k", "tl").select(col("ev_id"), col("k"),
        timestamp_seconds(col("tl")).as("t"))
    val ord = (1 to 300).map { _ => (rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong) }
      .distinct.zipWithIndex
      .map { case ((k, tl), i) => (k, tl, i.toLong) }
      .toDF("k", "tl", "payload").select(col("k"),
        timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofForward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
    val exp = windowReferenceFwd(
      ev.select(col("k"), col("t"), col("ev_id")), ord)
      .as[(Long, Option[Long])].collect().toMap
    assert(got.size == 400 && got == exp)
    // generic path: string keys
    val evS = ev.select(col("ev_id"), concat(lit("k"), col("k")).as("k"), col("t"))
    val ordS = ord.select(concat(lit("k"), col("k")).as("k"), col("t"), col("payload"))
    val gotS = AsofJoin.asofForward(evS, ordS, evS("k"), ordS("k"), evS("t"), ordS("t"))
      .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
    val expS = windowReferenceFwd(
      evS.select(col("k"), col("t"), col("ev_id")), ordS)
      .as[(Long, Option[Long])].collect().toMap
    assert(gotS.size == 400 && gotS == expS)
  }

  test("forward inclusive bound: a right row exactly at the left time matches; earliest wins") {
    val ev  = Seq((1L, 1L, 100L), (2L, 1L, 101L), (3L, 1L, 500L)).toDF("ev_id", "k", "tl")
      .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
    val ord = Seq((1L, 100L, 42L), (1L, 150L, 43L)).toDF("k", "tl", "payload")
      .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofForward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(42L), 2L -> Some(43L), 3L -> None))
  }

  test("nearest composition picks the smaller |dt|, ties backward, one-sided falls through") {
    val dir = scratchDir("graft_asof_nearest")
    // orders for user 1 at days 10 and 20 (epoch days); events at
    // day 14 (backward nearer), 16 (forward nearer), 15 (tie →
    // backward), 25 (forward absent → backward), 5 (backward absent
    // → forward); user 9 has no orders → null
    val day = 86400L
    Seq((1L, 10L * day), (2L, 20L * day))
      .map { case (ok, sec) => (ok, 1L, new java.sql.Timestamp(sec * 1000)) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((100L, 1L, 14L), (101L, 1L, 16L), (102L, 1L, 15L),
      (103L, 1L, 25L), (104L, 1L, 5L), (105L, 9L, 15L))
      .map { case (e, u, d) => (e, u, new java.sql.Timestamp(d * day * 1000), "purchase", "{}") }
      .toDF("event_id", "user_id", "ts", "event_type", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Relational.q33AsofNearest(spark, dir)
      .select("event_id", "nearest_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(100L -> Some(1L), 101L -> Some(2L), 102L -> Some(1L),
      103L -> Some(2L), 104L -> Some(1L), 105L -> None), got.toString)
  }

  test("left rows with no match (or unmatched keys) get nulls; null keys/times never match") {
    val ev = Seq(
      (1L, Some(1L), Some(100L)),  // matched
      (2L, Some(1L), Some(5L)),    // before every right row → null
      (3L, Some(9L), Some(100L)),  // key absent on right → null
      (4L, None, Some(100L)),      // null key → null
      (5L, Some(1L), None))        // null time → null
      .toDF("ev_id", "k", "tl")
      .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
    val ord = Seq(
      (Some(1L), Some(50L), 7L),
      (Some(1L), None, 8L),        // null right time: skipped
      (None, Some(10L), 9L))       // null right key: skipped
      .toDF("k", "tl", "payload")
      .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(7L), 2L -> None, 3L -> None, 4L -> None, 5L -> None))
  }

  test("inclusive bound: a right row exactly at the left time matches") {
    val ev  = Seq((1L, 1L, 100L)).toDF("ev_id", "k", "tl")
      .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
    val ord = Seq((1L, 100L, 42L), (1L, 99L, 41L)).toDF("k", "tl", "payload")
      .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
    val got = AsofJoin.asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
      .select(col("payload")).as[Long].collect().toSeq
    assert(got == Seq(42L))
  }

  test("mismatched key/time types fail at planning with a clear error") {
    val ev  = Seq((1L, 1, 100L)).toDF("ev_id", "k", "tl") // int key
      .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
    val ord = Seq((1L, 99L, 41L)).toDF("k", "tl", "payload") // long key
      .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
    val err = intercept[Exception] {
      AsofJoin.asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t")).collect()
    }
    assert(err.getMessage.contains("key columns must share a data type"), err.getMessage)
  }

  test("q14 through the custom operator equals the window-trick result on real data") {
    val got = graft.operators.Relational.q14AsofJoin(spark, Sf).collect().map(_.toSeq).toSeq
    // legacy union-window formulation over the same tables
    val ord = Tables.orders(spark, Sf)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("uid"), col("o_orderdate").as("t"),
        col("o_orderkey"), lit(null).cast("long").as("event_id"), lit(0).as("kind"))
    val ev = Tables.events(spark, Sf).filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid"), col("ts").as("t"),
        lit(null).cast("long").as("o_orderkey"), col("event_id"), lit(1).as("kind"))
    val w = Window.partitionBy(col("uid")).orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val exp = ord.unionByName(ev)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("uid").as("user_id"),
        unix_timestamp(col("t")).as("ts_epoch"), col("asof_orderkey"))
      .orderBy(col("event_id")).collect().map(_.toSeq).toSeq
    assert(got == exp)
  }
}
