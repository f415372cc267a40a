package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount splits alpha runs, digit runs, punctuation") {
    val df = Seq("Hello, world 42!", "a  b\tc", "").toDF("text")
      .select(tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(5, 3, 0))
  }

  test("wordShingles: n-2 distinct shingles, short docs degrade to whole doc") {
    val df = Seq("a b c d e", "a b").toDF("text")
      .select(words(col("text")).as("w"))
      .select(wordShingles(col("w")).as("s"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq("a b"))
  }

  test("charGrams distinct 4-grams over normalized input") {
    val df = Seq("abcde", "ab").toDF("nrm")
      .select(charGrams(col("nrm")).as("g"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("abcd", "bcde"))
    assert(got(1) == Seq("ab"))
  }

  test("jaccard on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(jaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].collect().head == 0.5)
  }

  test("fingerprint64 is stable, positive, and whitespace-insensitive") {
    val df = Seq("Spark  Engine", "spark engine", "other").toDF("text")
      .select(fingerprint64(col("text")).as("fp"))
    val got = df.as[Long].collect()
    assert(got(0) == got(1)) // normalization collapses case+whitespace
    assert(got(0) != got(2))
    assert(got.forall(_ >= 0)) // 60-bit prefix fits positive long
  }

  test("t5: bounded-heap top terms equal the window formulation") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextAnalysis
    val got = TextAnalysis.topTerms(spark, Sf).collect().map(_.toSeq).toSeq
    val counts = Tables.documents(spark, Sf)
      .select(col("lang"), explode(array_distinct(words(col("text")))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("w"))
    val exp = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("rank"), col("w").as("term"), col("df").as("doc_freq"))
      .orderBy(col("lang"), col("rank")).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp)
  }

  test("t6: bounded-heap TF-IDF equals the window formulation") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextAnalysis
    import graft.functions.Det._
    val got = TextAnalysis.tfidfTerms(spark, Sf).collect().map(_.toSeq).toSeq
    val docs = Tables.documents(spark, Sf)
    val n = docs.count().toDouble
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w")
      .select(col("doc_id"), col("w"),
        (col("tf").cast("double") * (lit(n) - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
    val exp = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("w").as("term"),
        e6(col("score")).as("score_e6"))
      .orderBy(col("doc_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == exp)
  }

  test("langPredict returns a profile language deterministically") {
    val df = Seq("the data query stuff", "join filter sort x", "zzz").toDF("text")
      .select(words(col("text")).as("w")).select(langPredict(col("w")).as("p"))
    val got = df.as[String].collect()
    assert(got(0) == "en" && got(1) == "fr")
    assert(Set("de", "en", "es", "fr", "zh").contains(got(2))) // tie → deterministic first
    assert(got(2) == "de") // all-zero scores: first in sorted profile order
  }

  test("t7: PII counts match the planted contacts and redaction removes every match") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.piiRedact(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 3 == 0) 1 else 0), s"n_email doc=$id")
      assert(r.getInt(2) == (if (id % 5 == 0) 1 else 0), s"n_ip doc=$id")
      assert(r.getInt(3) == (if (id % 7 == 0) 1 else 0), s"n_phone doc=$id")
    }
    // recompute a redaction locally (Java regex — the engine the Spark
    // side uses) and assert the query's md5/len agree, and that no
    // pattern survives in the redacted text
    val doc = Tables.documents(spark, Sf)
      .filter(col("doc_id") === 105L) // 105 = 3·5·7: all three kinds planted
      .select(col("text")).as[String].collect().head
    val t2 = doc + " contact user105@mail-0.example.com" + " from 10.105.0.5" + " call 555-0105"
    val red = t2.replaceAll(TextAnalysis.EmailRe, "<EMAIL>")
      .replaceAll(TextAnalysis.Ipv4Re, "<IP>")
      .replaceAll(TextAnalysis.PhoneRe, "<PHONE>")
    assert(!TextAnalysis.EmailRe.r.findFirstIn(red).isDefined &&
      !TextAnalysis.Ipv4Re.r.findFirstIn(red).isDefined &&
      !TextAnalysis.PhoneRe.r.findFirstIn(red).isDefined)
    val got = rows.find(_.getLong(0) == 105L).get
    assert(got.getInt(4) == red.length)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(red.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.getString(5) == md5)
  }

  test("t9 repSignals: hand-computed repetition numerators and fractions") {
    val dir = scratchDir("graft_t9")
    // hand-computed (chars exclude joiner spaces; grams OVERLAP, so
    // cfrac can exceed 1 on degenerate loops — the Gopher signals are
    // thresholds, not probabilities):
    //   doc 0 "x y x y z": n_chars 5; "x y"×2 clen 2 → top2 4 (0.8);
    //     all 3-grams unique, clen 3 → top3 3 (0.6); no dup 5-gram → 0
    //   doc 1 "a a a a a a": n_chars 6; "a a"×5 → top2 10; "a a a"×4
    //     clen 3 → top3 12; "a a a a a"×2 clen 5 → dup5 10 (1.666667)
    //   doc 2 "hello world": n_chars 10; one 2-gram → top2 10 (1.0);
    //     no 3-grams → 0
    //   doc 3 "solo": single word, every signal 0
    Seq(
      (0L, "x y x y z", "en", "s", 9L),
      (1L, "a a a a a a", "en", "s", 11L),
      (2L, "Hello  WORLD", "en", "s", 12L), // normalization folds case+spaces
      (3L, "solo", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.repSignals(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(got(0L) == ((5, 5L, 4L, 3L, 0L, 800000L, 600000L, 0L)))
    assert(got(1L) == ((6, 6L, 10L, 12L, 10L, 1666667L, 2000000L, 1666667L)))
    assert(got(2L) == ((2, 10L, 10L, 0L, 0L, 1000000L, 0L, 0L)))
    assert(got(3L) == ((1, 4L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("t11 qualityModel: score is the md5-fold linear model over bigrams") {
    val dir = scratchDir("graft_t11")
    Seq(
      (0L, "The data  QUERY runs", "en", "s", 20L), // normalization folds case+spaces
      (1L, "solo", "en", "s", 4L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent JVM re-derivation of the md5-hex-fold weight
    def weight(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("qm" + g).getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 4096L) % 401L - 200L
    }
    val exp0 = Seq("the data", "data query", "query runs").map(weight).sum
    val expMean = math.floor(exp0.toDouble / 3 * 1e6 + 0.5).toLong
    val got = graft.operators.TextAnalysis.qualityModel(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(got(0L) == ((3L, exp0, exp0 > 0, expMean)))
    assert(got(1L) == ((0L, 0L, false, 0L))) // single word: no features
    assert(got(2L) == ((0L, 0L, false, 0L))) // empty text: no features
  }

  test("t12 gopherGate: each rule fails on its hand-built doc, planted symbols count") {
    val dir = scratchDir("graft_t12")
    // 52 normal words incl. stopwords "the" and "of" → passes all
    val good = (1 to 50).map(i => s"word$i").mkString("the of ", " ", "")
    // id 5 plants 5 '#' words: 52 + 5 = 57 words, 5·10 = 50 ≤ 57 →
    // sym_ok true at 5; id 12 plants 12: 12·10 = 120 > 64 → sym fail
    Seq(
      (0L, good, "en", "s", 1L),
      (5L, good, "en", "s", 1L),
      (12L, good, "en", "s", 1L),
      // 10 words → wc fail (< 50); stopwords present
      (1L, "the of tiny doc with just a few words here", "en", "s", 1L),
      // 52 words of length 12 → mean word length 12 > 10 → mwl fail
      (2L, (1 to 50).map(_ => "abcdefghijkl").mkString("the of ", " ", ""), "en", "s", 1L),
      // 52 words, 50 numeric → alpha frac 2/52 < 0.8 → alpha fail
      (3L, (1 to 50).map(i => s"$i$i").mkString("the of ", " ", ""), "en", "s", 1L),
      // 52 words, only one distinct stopword → stop fail
      (4L, (1 to 51).map(i => s"word$i").mkString("the ", " ", ""), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.gopherGate(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(4),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
        r.getBoolean(10), r.getBoolean(11)))).toMap
    // (n_words, n_symbol, wc, mwl, alpha, sym, stop, pass)
    assert(got(0L) == ((52, 0, true, true, true, true, true, true)))
    assert(got(5L) == ((57, 5, true, true, true, true, true, true)))
    assert(got(12L)._2 == 12)
    assert(!got(12L)._6 && !got(12L)._8) // sym fail kills the gate
    assert(got(1L) == ((11, 1, false, true, true, true, true, false)))
    assert(!got(2L)._4 && !got(2L)._8)   // mwl fail
    assert(!got(3L)._5 && !got(3L)._8)   // alpha fail
    assert(!got(4L)._7 && !got(4L)._8)   // stopword fail
  }

  test("t15 confusion matrix reconciles with t3's per-doc predictions") {
    val pairs = graft.operators.TextAnalysis.langId(spark, Sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("pred_lang")))
    val expCells = pairs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = graft.operators.TextAnalysis.langConfusion(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.view.mapValues(_._1).toMap == expCells)
    // marginals and rates reconcile
    got.groupBy(_._1._1).foreach { case (_, cells) =>
      val nLabel = cells.head._2._2
      assert(cells.values.map(_._1).sum == nLabel)
      cells.foreach { case (_, (n, nl, pm)) =>
        assert(nl == nLabel && pm == n * 1000 / nLabel)
      }
    }
  }

  test("t17 lmFluency: hand-computed weakest transitions and weak counts") {
    val dir = scratchDir("graft_t17")
    // corpus transitions: "a b" x3, "b a" x2, "a c" x1, "c d" x1
    //   prefix counts: a->4 (3x "a b" + 1x "a c"), b->2, c->1
    // doc 0 "a b a b a b": bigrams {a b, b a} -> p(b|a)=3/4 (750000),
    //   p(a|b)=2/2 (1000000); min 750000; none under 1/100
    // doc 1 "a c d": p(c|a)=1/4 (250000), p(d|c)=1/1; min 250000
    // doc 2 "b a": p(a|b)=1000000
    // doc 3 "solo": no bigrams -> vacuous 1000000
    Seq(
      (0L, "a b a b a b", "en", "s", 1L),
      (1L, "a c d", "en", "s", 1L),
      (2L, "b a", "en", "s", 1L),
      (3L, "solo", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.lmFluency(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((5L, 750000L, 0L)), got(0L).toString)
    assert(got(1L) == ((2L, 250000L, 0L)), got(1L).toString)
    assert(got(2L) == ((1L, 1000000L, 0L)))
    assert(got(3L) == ((0L, 1000000L, 0L)))
    // a weak transition: plant 200 copies of "x y" and one "x z" —
    // p(z|x) = 1/201 < 1/100 so the doc carrying "x z" counts 1 weak
    val dir2 = scratchDir("graft_t17b")
    val many = (0 until 200).map(i => (i.toLong + 10, "x y", "en", "s", 1L))
    (many :+ ((1L, "x z", "en", "s", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got2 = graft.operators.TextAnalysis.lmFluency(spark, dir2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got2(1L) == ((1L, 1000000L / 201L, 1L)), got2(1L).toString)
    assert(got2(10L) == ((1L, 200L * 1000000L / 201L, 0L)))
  }

  test("t18 readability: hand-computed counts and integer composites") {
    val dir = scratchDir("graft_t18")
    // doc 0: "Nice dog. Bad weather?!" — sentences=2 ([.] and [?!]),
    //   words = nice,dog,bad,weather (4), long (7+) = weather (1),
    //   vowel groups: i,e / o / a / ea,e = 6
    // doc 1: no terminator, one word, no vowels → guards fire
    // doc 2: empty text → all zeros
    Seq(
      (0L, "Nice dog. Bad weather?!", "en", "s", 1L),
      (1L, "brrr", "en", "s", 1L),
      (2L, "", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.readability(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got(0L) == ((2L, 4L, 1L, 6L, 200L, 250L, 1500L)), got(0L).toString)
    assert(got(1L) == ((0L, 1L, 0L, 0L, 0L, 0L, 0L)), got(1L).toString)
    assert(got(2L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("t19 script mix: hand-computed census, classes partition the text") {
    val dir = scratchDir("graft_t19")
    // doc 0: "Ab1 c!?" → total 7, letters 3, digits 1, spaces 1, other 2
    // doc 1: unicode content counts as OTHER by subtraction
    // doc 2: empty → all zeros, guards fire
    Seq(
      (0L, "Ab1 c!?", "en", "s", 1L),
      (1L, "héllo ñ", "es", "s", 1L),
      (2L, "", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.scriptMix(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got(0L) == ((7L, 3L, 1L, 1L, 2L, 3000L / 7, 2000L / 7)), got(0L).toString)
    // "héllo ñ": 7 chars, ascii letters h,l,l,o = 4, space 1, é/ñ other 2
    assert(got(1L) == ((7L, 4L, 0L, 1L, 2L, 4000L / 7, 2000L / 7)), got(1L).toString)
    assert(got(2L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // the four classes partition every doc exactly
    got.values.foreach { case (t, l, d, sp, o, _, _) => assert(l + d + sp + o == t) }
  }

  test("t14 novelty: first doc owns its shingles, exact copies have zero novelty") {
    val dir = scratchDir("graft_t14")
    val base = "alpha beta gamma delta epsilon zeta"
    Seq(
      (0L, base, "en", "s", 1L),                       // introduces all 4 shingles
      (1L, base, "en", "s", 1L),                       // exact copy → novelty 0
      (2L, s"$base eta theta", "en", "s", 1L),         // 2 of 6 shingles new
      (3L, "wholly new words only here now", "en", "s", 1L)) // all new
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((4L, 4L, 1000000L)))
    assert(got(1L) == ((4L, 0L, 0L)))
    assert(got(2L) == ((6L, 2L, 333333L)))
    assert(got(3L) == ((4L, 4L, 1000000L)))
  }

  test("t13 oovRate: hand-computed OOV against the exact heavy-hitter vocab") {
    val dir = scratchDir("graft_t13")
    // 16 tokens total; at phiInv=4 the vocab rule cnt*4 >= 16 admits
    // only "the" (cnt 6)
    Seq(
      (0L, "the the the the", "en", "s", 1L),
      (1L, "the foo bar baz", "en", "s", 1L),
      (2L, "the qux quux corge", "en", "s", 1L),
      (3L, "grault garply waldo fred", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.oovRate(spark, dir, phiInv = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((4L, 0L, 0L)))
    assert(got(1L) == ((4L, 3L, 750L)))
    assert(got(2L) == ((4L, 3L, 750L)))
    assert(got(3L) == ((4L, 4L, 1000L)))
  }

  test("t16 bigramCoverage: hand-computed coverage, single-word doc keeps a zero row") {
    val dir = scratchDir("graft_t16")
    // bigram counts corpus-wide: "a b" ×5 (common at minCount=5),
    // "b a" ×2, "b c" ×1 — only "a b" clears the bar
    Seq(
      (0L, "a b a b a b", "en", "s", 1L), // bigrams: a-b, b-a, a-b, b-a, a-b
      (1L, "a b c", "en", "s", 1L),       // a-b, b-c
      (2L, "a b", "en", "s", 1L),         // a-b
      (3L, "x", "en", "s", 1L))           // no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.bigramCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((5L, 3L, 600L)))
    assert(got(1L) == ((2L, 1L, 500L)))
    assert(got(2L) == ((1L, 1L, 1000L)))
    assert(got(3L) == ((0L, 0L, 0L)))
    assert(got.size == 4)
  }

  test("t21 burstiness: JVM fold identity incl. the (cf desc, term asc) tie rule") {
    val got = graft.operators.TextAnalysis.termBurstiness(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    graft.Caches.clear()
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), graft.functions.TextFns.words(col("text")))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val nDocs = docs.length.toLong
    val byTerm = docs.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(_._1).map { case (w, xs) =>
        (w, xs.length.toLong, xs.map(_._2).distinct.length.toLong)
      }.toSeq
    val exp = byTerm.sortBy(t => (-t._2, t._1)).take(50).zipWithIndex.map {
      case ((w, cf, df), i) =>
        (i + 1L, w, cf, df, cf * 1000000L / df, df * 1000000L / nDocs)
    }
    assert(got.toSeq == exp && got.nonEmpty)
    // burstiness is the point: at least one top term repeats in-doc
    assert(got.exists(t => t._5 > 1000000L))
  }

  test("t20 vocab census: hand-computed slice diversity, integer-exact") {
    val dir = scratchDir("graft_t20")
    // slice (en, s): docs "a a b" + "a c" -> token counts a:3, b:1, c:1
    //   N=5, V=3, hapax=2 (b, c), top=3 (a),
    //   simpson_num = 3*2 = 6, den = 5*4 = 20,
    //   ttr_ppm = 3e6 div 5 = 600000, simpson_ppm = 6e6 div 20 = 300000
    // slice (fr, s): one single-token doc -> den = 0, guard fires
    Seq(
      (0L, "a a b", "en", "s", 1L),
      (1L, "a c", "en", "s", 1L),
      (2L, "x", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.vocabCensus(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))).toMap
    assert(got(("en", "s")) == ((5L, 3L, 2L, 3L, 6L, 20L, 600000L, 300000L)),
      got(("en", "s")).toString)
    assert(got(("fr", "s")) == ((1L, 1L, 1L, 1L, 0L, 0L, 1000000L, 0L)))
    assert(got.size == 2)
  }

  test("t23 zipf: JVM fold identity incl. tie rule; rank-1 ppm is exactly 1e6") {
    val got = graft.operators.TextAnalysis.zipfCensus(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, Sf)
      .select(graft.functions.TextFns.words(col("text")))
      .collect().map(_.getSeq[String](0))
    val cf = docs.flatten.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val top = cf.sortBy(t => (-t._2, t._1)).take(100)
    val cf1 = top.head._2
    val exp = top.zipWithIndex.map { case ((w, c), i) =>
      val rank = i + 1L
      (rank, w, c, rank * c, rank * c * 1000000L / cf1)
    }
    assert(got.toSeq == exp.toSeq && got.length == math.min(100, cf.length))
    // the curve's anchor: rank 1 deviates from itself by exactly 1e6
    assert(got.head == (1L, top.head._1, cf1, cf1, 1000000L))
  }

  test("t22 effective size: JVM identity; singleton-family sources save nothing") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.TextAnalysis.effectiveSize(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = Tables.documents(spark, Sf)
      .select(col("source"), md5(normalize(col("text"))).as("h"),
        size(words(col("text"))).cast("long").as("t")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val fam = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val exp = docs.groupBy(_._1).map { case (src, xs) =>
      val raw = xs.map(_._3).sum
      val eff = xs.map(d => d._3 * 1000L / fam(d._2)).sum
      val sav = ((BigInt(raw) * 1000 - eff) * 1000000 / (BigInt(raw) * 1000)).toLong
      src -> ((xs.length.toLong, raw, eff, sav))
    }
    assert(got == exp && got.nonEmpty)
    // effective mass never exceeds raw; equality exactly when every
    // family the source touches is a singleton
    got.foreach { case (src, (_, raw, effPm, sav)) =>
      assert(effPm <= raw * 1000)
      val allSingleton = docs.filter(_._1 == src).forall(d => fam(d._2) == 1L)
      assert((effPm == raw * 1000) == allSingleton, src)
      assert((sav == 0L) == allSingleton, src)
    }
  }
}
