package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayExprs
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties for the native kernels: each property batches
  * many generated cases into ONE DataFrame per evaluation (a Spark job
  * per case would dominate the suite), and asserts bit-parity with the
  * composable HOF formulation the kernel replaces — including unicode
  * (multibyte and astral-plane) inputs, which exercise GramHashes'
  * code-point walking.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(name: String, prop: Prop, cases: Int = 6): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val wordChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('é', 'ß', '中', '文', 'λ', 'Ж'))
  private val token: Gen[String] = for {
    n  <- Gen.choose(1, 6)
    cs <- Gen.listOfN(n, wordChar)
    astral <- Gen.oneOf("", "", "𝔘") // surrogate-pair code point
  } yield cs.mkString + astral
  private val text: Gen[String] = for {
    n  <- Gen.choose(0, 12)
    ws <- Gen.listOfN(n, token)
    sep <- Gen.oneOf(" ", "  ", "\t", " \n ")
  } yield ws.mkString(sep)

  test("GramHashes(char/word) set-equal xxhash64 over the string grams, any unicode") {
    import graft.functions.TextFns._
    val prop = Prop.forAll(Gen.listOfN(25, text)) { texts =>
      val df = texts.toDF("text").select(
        sort_array(ArrayExprs.char_gram_hashes(normalize(col("text")), 4)).as("nc"),
        sort_array(array_distinct(transform(
          charGrams(normalize(col("text"))), g => xxhash64(g)))).as("hc"),
        sort_array(ArrayExprs.word_shingle_hashes(normalize(col("text")), 3)).as("nw"),
        sort_array(array_distinct(transform(
          wordShingles(split(normalize(col("text")), " ")), g => xxhash64(g)))).as("hw"))
      df.as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
        .forall { case (nc, hc, nw, hw) => nc == hc && nw == hw }
    }
    check("gram-hashes", prop)
  }

  test("JaccardSets equals the composed intersect/union form, empties included") {
    val arr = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 20L)))
    val prop = Prop.forAll(Gen.listOfN(30, Gen.zip(arr, arr))) { pairs =>
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val df = pairs.toDF("a", "b").repartition(2).select(
          ArrayExprs.jaccard_sets(col("a"), col("b")).as("n"),
          (size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b"))).cast("double")).as("h"))
        df.collect().forall(r =>
          r.isNullAt(0) == r.isNullAt(1) && (r.isNullAt(0) || r.getDouble(0) == r.getDouble(1)))
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    check("jaccard-sets", prop)
  }

  test("FloatDot matches HOF bits and null semantics for arbitrary float arrays") {
    val finite = Gen.choose(-1e6f, 1e6f)
    val arr = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, finite))
    val prop = Prop.forAll(Gen.listOfN(30, Gen.zip(arr, arr))) { pairs =>
      val df = pairs.toDF("a", "b").select(
        ArrayExprs.float_dot(col("a"), col("b")).as("n"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x).as("h"))
      df.collect().forall(r =>
        r.isNullAt(0) == r.isNullAt(1) && (r.isNullAt(0) || r.getDouble(0) == r.getDouble(1)))
    }
    check("float-dot", prop)
  }

  test("OphSig is order- and duplicate-invariant (a true SET signature)") {
    import graft.operators.Dedup
    val hashes = Gen.listOfN(40, Gen.choose(0L, 4294967295L))
    val prop = Prop.forAll(Gen.listOfN(10, hashes)) { sets =>
      val rnd = new scala.util.Random(9)
      val rows = sets.map { h =>
        val shuffled = rnd.shuffle(h)
        val withDups = h ++ h.take(h.length / 2) // duplicates must not matter
        (h, shuffled, withDups)
      }
      def sig(c: org.apache.spark.sql.Column) =
        ArrayExprs.oph_sig(c, 32, Dedup.permA(0), Dedup.permB(0), Dedup.P32, Dedup.DensifyC)
      val out = rows.toDF("a", "b", "c")
        .select(sig(col("a")).as("sa"), sig(col("b")).as("sb"), sig(col("c")).as("sc"))
        .as[(Seq[Long], Seq[Long], Seq[Long])].collect()
      out.forall { case (sa, sb, sc) => sa == sb && sa == sc }
    }
    check("oph-invariance", prop)
  }

  test("lineDedup segmentation+reconstruct is lossless on arbitrary text") {
    // join(split(s, " "), " ") == s for ANY s (single-char separator),
    // and chunked re-joining is associative — so with no corpus-hot
    // lines, kept_text must be the original text byte-for-byte, and
    // with everything hot (minDocs = 1) the dual invariant holds
    val prop = Prop.forAll(Gen.listOfN(30, text)) { texts =>
      val dir = scratchDir("graft_linededup_prop")
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nothingHot = graft.operators.Dedup
        .lineDedup(spark, dir, minDocs = texts.length + 1)
        .select("doc_id", "n_dup_lines", "kept_text")
        .as[(Long, Long, String)].collect()
      val allHot = graft.operators.Dedup.lineDedup(spark, dir, minDocs = 1)
        .select("n_lines", "n_dup_lines", "kept_text")
        .as[(Long, Long, String)].collect()
      nothingHot.forall { case (id, nd, kept) =>
        nd == 0L && kept == texts(id.toInt)
      } && allHot.forall { case (nl, nd, kept) => nl == nd && kept == "" }
    }
    check("line-dedup-identity", prop, cases = 3)
  }

  test("AsofJoin equals the window reference on arbitrary keyed event/order sets") {
    val row = Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 500L))
    val prop = Prop.forAll(
      Gen.listOfN(40, row), Gen.listOfN(25, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 500L)))) {
      (evRows, ordRows) =>
        val ev = evRows.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("ev_id", "k", "tl")
          .select(col("ev_id"), col("k"), timestamp_seconds(col("tl")).as("t"))
        // unique payload per (k, t) so ties are deterministic
        val ord = ordRows.distinct.zipWithIndex
          .map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "tl", "payload")
          .select(col("k"), timestamp_seconds(col("tl")).as("t"), col("payload"))
        val got = org.apache.spark.sql.graft.AsofJoin
          .asofBackward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
          .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
        val gotF = org.apache.spark.sql.graft.AsofJoin
          .asofForward(ev, ord, ev("k"), ord("k"), ev("t"), ord("t"))
          .select(col("ev_id"), col("payload")).as[(Long, Option[Long])].collect().toMap
        // reference: max payload-bearing (t, payload) per key at or before each
        // event (backward) / min at or after (forward)
        val byKey = ordRows.distinct.zipWithIndex
          .map { case ((k, t), i) => (k, t, i.toLong) }.groupBy(_._1)
        val exp = evRows.zipWithIndex.map { case ((k, t), i) =>
          i.toLong -> byKey.getOrElse(k, Nil).filter(_._2 <= t)
            .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
        }.toMap
        val expF = evRows.zipWithIndex.map { case ((k, t), i) =>
          i.toLong -> byKey.getOrElse(k, Nil).filter(_._2 >= t)
            .sortBy(r => (r._2, r._3)).headOption.map(_._3)
        }.toMap
        got == exp && gotF == expF
    }
    check("asof-join", prop, cases = 4)
  }

  test("q36 sweep-line equals a brute-force per-second simulation on arbitrary event sets") {
    // events → q13 sessions → deltas → sharded prefix → hourly peaks;
    // the reference simulates the timeline second-by-second in plain
    // Scala from the same session set — an algorithm with no shared
    // code path (no prefix sums, no shards)
    val row = Gen.zip(Gen.choose(1L, 6L), Gen.choose(0L, 8000L))
    val prop = Prop.forAll(Gen.listOfN(50, row), Gen.oneOf(5L, 97L, 3600L)) {
      (evRows, shardSec) =>
        val dir = scratchDir("graft_q36_prop")
        evRows.zipWithIndex
          .map { case ((u, t), i) =>
            (i.toLong, new java.sql.Timestamp(t * 1000L), u, "view", 1.0, "{}") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
        val got = graft.operators.Relational.q36Concurrency(spark, dir, shardSec)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        // reference: per-user sessions by the 30-min gap rule, then a
        // second-by-second active count
        val sessions = evRows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
          val ts = es.map(_._2).sorted
          val segs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var start = ts.head; var prev = ts.head
          ts.tail.foreach { t =>
            if (t - prev > 1800) { segs += ((start, prev)); start = t }
            prev = t
          }
          segs += ((start, prev))
          segs
        }
        val deltas = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        sessions.foreach { case (a, b) => deltas(a) += 1; deltas(b + 1) -= 1 }
        // true per-second simulation from first to last change point:
        // every second's level is a peak candidate for its hour (the
        // carry-in semantics), change points count toward their hour
        val ts0 = deltas.keys.min; val ts1 = deltas.keys.max
        var run = 0L
        val peak = scala.collection.mutable.Map[Long, Long]()
        val nchg = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        (ts0 to ts1).foreach { t =>
          if (deltas.contains(t)) { run += deltas(t); nchg(t / 3600) += 1 }
          val h = t / 3600
          peak(h) = math.max(peak.getOrElse(h, Long.MinValue), run)
        }
        val exp = peak.keys.map(h => h -> ((peak(h), nchg(h)))).toMap
        got == exp
    }
    check("q36-sweep-line", prop, cases = 5)
  }

  test("q48 equi-depth boundaries match a sorted-multiset reference on arbitrary tie-heavy values") {
    // tie-heavy generators (50 distinct quantities over 300 rows) so
    // boundary determinism under duplicates is exercised; prices are
    // exact cents/100 so the cents rounding is unambiguous in the
    // JVM reference; shardW varies to assert shard-width invariance
    val row = Gen.zip(Gen.choose(0L, 500L), Gen.choose(1L, 50L), Gen.choose(100L, 100000L),
      Gen.choose(0L, 20000L), Gen.oneOf("A", "N", "R", "", "zz"))
    val prop = Prop.forAll(Gen.listOfN(300, row), Gen.oneOf(7L, 64L, 4096L)) {
      (rows, shardW) =>
        val dir = scratchDir("graft_q48_prop")
        rows.map { case (k, q, cents, day, fl) =>
          (k, q.toDouble, cents / 100.0,
            new java.sql.Timestamp(day * 86400000L), fl) }
          .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        val out = graft.operators.Relational.q48TableStats(spark, dir, shardW = shardW)
          .collect()
        val got = out.map(r => (r.getString(0), r.getInt(1)) -> r).toMap
        val cols = Seq(
          "l_orderkey" -> rows.map(_._1),
          "l_quantity" -> rows.map(_._2),
          "l_extendedprice" -> rows.map(_._3),
          "l_shipdate" -> rows.map(_._4))
        val numOk = cols.forall { case (name, vs) =>
          val sorted = vs.sorted
          val n = sorted.length.toLong
          (1 to 8).forall { b =>
            val rank = (n * b + 7) / 8
            val r = got((name, b))
            r.getLong(2) == sorted((rank - 1).toInt) &&
              r.getLong(4) == vs.distinct.length.toLong && r.getLong(5) == 0L &&
              r.getLong(6) == sorted.head && r.getLong(7) == sorted.last
          }
        }
        val fs = rows.map(_._5).sorted
        val strOk = (1 to 8).forall { b =>
          val rank = (fs.length.toLong * b + 7) / 8
          val r = got(("l_returnflag", b))
          r.isNullAt(2) && r.getString(3) == fs((rank - 1).toInt) &&
            r.getString(8) == fs.head && r.getString(9) == fs.last
        }
        numOk && strOk && got.size == 40
    }
    check("q48-equi-depth", prop, cases = 4)
  }
}
