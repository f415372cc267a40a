package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayExprs
import org.apache.spark.sql.types.IntegerType
import graft.geo.Geo
import graft.operators.Dedup

/** Native expressions must be bit-identical to their HOF formulations
  * (SURVEY.md §5 depends on it).
  */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  test("FloatDot == aggregate(zip_with(...)) bitwise") {
    val rnd = new scala.util.Random(1)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat())))
    val df = rows.toDF("a", "b").select(
      ArrayExprs.float_dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("MinHashSig == HOF affine-mod formulation bitwise") {
    val rnd = new scala.util.Random(2)
    val rows = Seq.fill(20)(Seq.fill(30)(rnd.nextInt(Int.MaxValue).toLong))
    val n = 16
    val aLit = typedLit(Dedup.permA.take(n).toSeq)
    val bLit = typedLit(Dedup.permB.take(n).toSeq)
    val df = rows.toDF("h").select(
      ArrayExprs.minhash_sig(col("h"), Dedup.permA.take(n), Dedup.permB.take(n), Dedup.P32).as("native"),
      transform(sequence(lit(0), lit(n - 1)),
        j => array_min(transform(col("h"),
          h => pmod(element_at(aLit, j + 1) * h + element_at(bLit, j + 1), lit(Dedup.P32)))))
        .as("hof"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (a, b) => assert(a == b) }
  }

  test("OphSig codegen == interpreted eval, and fills every slot") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(20)(Seq.fill(rnd.nextInt(60) + 1)(
      rnd.nextLong().abs % 4294967296L)) :+ Seq.empty[Long]
    val k = 64
    val mk = () => org.apache.spark.sql.graft.OphSig(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType), true),
      k, Dedup.permA(0), Dedup.permB(0), Dedup.P32, Dedup.DensifyC)
    // codegen path (DataFrame) vs interpreted path (direct eval)
    val viaDf = rows.toDF("h")
      .select(ArrayExprs.oph_sig(col("h"), k, Dedup.permA(0), Dedup.permB(0),
        Dedup.P32, Dedup.DensifyC))
      .as[Seq[Long]].collect()
    rows.zip(viaDf).foreach { case (in, got) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(in.toArray))
      val interp = mk().eval(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
      assert(got == interp)
      assert(got.length == k)
      // non-empty input densifies every slot below the sentinel
      if (in.nonEmpty) assert(got.forall(_ != Long.MaxValue))
      else assert(got.forall(_ == Long.MaxValue))
    }
  }

  test("OphBands codegen == interpreted eval, bands-many keys") {
    val rnd = new scala.util.Random(4)
    val rows = Seq.fill(20)(Seq.fill(rnd.nextInt(60) + 1)(rnd.nextLong()))
    val (bands, rws) = (16, 4)
    val viaDf = rows.toDF("h")
      .select(ArrayExprs.oph_bands(col("h"), bands, rws, Dedup.permA(0),
        Dedup.permB(0), Dedup.P32, Dedup.DensifyC))
      .as[Seq[Long]].collect()
    rows.zip(viaDf).foreach { case (in, got) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(in.toArray))
      val interp = org.apache.spark.sql.graft.OphBands(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType), true),
        bands, rws, Dedup.permA(0), Dedup.permB(0), Dedup.P32, Dedup.DensifyC)
        .eval(row)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
      assert(got == interp && got.length == bands)
    }
  }

  test("GramHashes(word) set-equals xxhash64 over wordShingles strings") {
    import graft.functions.TextFns._
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b", "singleword", "x y z", "repeat repeat repeat repeat repeat")
    val df = texts.toDF("text").select(
      sort_array(ArrayExprs.word_shingle_hashes(normalize(col("text")), 3)).as("native"),
      sort_array(array_distinct(transform(
        wordShingles(split(normalize(col("text")), " ")), g => xxhash64(g)))).as("hof"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (a, b) => assert(a == b) }
  }

  test("GramHashes(char) set-equals xxhash64 over charGrams strings") {
    import graft.functions.TextFns._
    val texts = Seq("abcdefg", "ab", "the quick brown fox", "aaaaaa")
    val df = texts.toDF("text").select(
      sort_array(ArrayExprs.char_gram_hashes(normalize(col("text")), 4)).as("native"),
      sort_array(array_distinct(transform(
        charGrams(normalize(col("text"))), g => xxhash64(g)))).as("hof"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (a, b) => assert(a == b) }
  }

  test("GramHashesPos: element i equals xxhash64(substr(i, n)); distinct equals GramHashes") {
    val texts = Seq("abcdefg", "ab", "the quick brown fox jumps over it", "aaaaaa",
      "x" * 60, "padding plus \u00fcnicode ch\u00e4rs in the middle here")
    val n = 5
    val df = texts.toDF("text").select(
      ArrayExprs.char_gram_hashes_pos(col("text"), n).as("pos"),
      ArrayExprs.char_gram_hashes(col("text"), n).as("set"),
      transform(sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
        i => xxhash64(col("text").substr(i, lit(n)))).as("hof"),
      length(col("text")).as("len"))
    df.collect().foreach { r =>
      val pos = r.getSeq[Long](0)
      val set = r.getSeq[Long](1)
      val hof = r.getSeq[Long](2)
      if (r.getInt(3) >= n) assert(pos == hof, "positional identity")
      assert(pos.distinct == set, "distinct(pos) == GramHashes first-occurrence set")
      if (r.getInt(3) >= n) assert(pos.length == r.getInt(3) - n + 1)
    }
  }

  test("GramHashesPos seeded: independent of the default-seed stream, positionally aligned") {
    val texts = Seq("abcdefg", "the quick brown fox jumps over it", "aaaaaa", "x" * 60)
    val n = 5
    val df = texts.toDF("text").select(
      ArrayExprs.char_gram_hashes_pos(col("text"), n).as("h1"),
      ArrayExprs.char_gram_hashes_pos_seeded(col("text"), n, 1337L).as("h2"),
      ArrayExprs.char_gram_hashes_pos_seeded(col("text"), n, 42L).as("h42"))
    df.collect().foreach { r =>
      val h1 = r.getSeq[Long](0); val h2 = r.getSeq[Long](1); val h42 = r.getSeq[Long](2)
      assert(h1.length == h2.length, "same window universe")
      assert(h1 == h42, "seed 42 IS the default stream")
      // seeds give genuinely independent streams (equal windows keep
      // equal hashes per stream — d6's pair-identity relies on both)
      assert(h1 != h2, "distinct seeds must differ")
      h1.indices.foreach { i => h1.indices.foreach { j =>
        if (h1(i) == h1(j)) assert(h2(i) == h2(j), "pair consistency")
      }}
    }
  }

  test("HotSpanOccs: bit-identical to the HOF filter/element_at formulation") {
    val n = 5
    // repetitive + multi-byte + boundary cases; hot sets are arbitrary
    // sorted subsets of each doc's own hash universe plus misses
    val texts = Seq("ababababababababab", "ééééé-ééééé-ééééé",
      "the quick brown fox jumps over it", "x" * 60, "aaaaaaaaaa")
    val base = texts.toDF("text").select(col("text"),
      ArrayExprs.char_gram_hashes_pos(col("text"), n).as("hs"),
      ArrayExprs.char_gram_hashes_pos_seeded(col("text"), n, 1337L).as("hs2"))
    // hot = every other distinct hash of the doc, plus two misses
    val withHot = base.select(col("text"), col("hs"), col("hs2"),
      sort_array(array_union(
        filter(array_distinct(col("hs")), h => pmod(h, lit(2L)) === 0),
        array(lit(1L), lit(-99L)))).as("hot"))
    val got = withHot.select(
      ArrayExprs.hot_span_occs(col("text"), col("hs"), col("hot"), n, 1337L).as("w"),
      transform(
        filter(sequence(lit(1), size(col("hs"))),
          i => array_contains(col("hot"), element_at(col("hs"), i))),
        i => struct(element_at(col("hs"), i).as("h1"),
          element_at(col("hs2"), i).as("h2"), i.as("off"))).as("hof"))
    got.collect().foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1))
      assert(r.getSeq[org.apache.spark.sql.Row](0).nonEmpty)
    }
    // empty hot set → empty output
    val empty = base.select(ArrayExprs.hot_span_occs(
      col("text"), col("hs"), array().cast("array<long>"), n, 1337L).as("w"))
    empty.collect().foreach(r => assert(r.getSeq[Any](0).isEmpty))
  }

  test("JaccardSets matches the composed intersect/union form, and the rule fires") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(100)((Seq.fill(rnd.nextInt(20) + 1)(rnd.nextInt(30).toLong),
      Seq.fill(rnd.nextInt(20) + 1)(rnd.nextInt(30).toLong)))
    // repartition keeps the projection out of ConvertToLocalRelation's
    // eager fold so the fused expression is visible in the plan
    val hof = rows.toDF("a", "b").repartition(2).select(
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")).as("j"))
    // under GraftExtensions the optimizer must fuse the HOF form
    assert(hof.queryExecution.executedPlan.toString.contains("jaccard_sets"),
      hof.queryExecution.executedPlan.toString)
    val direct = rows.toDF("a", "b").select(
      ArrayExprs.jaccard_sets(col("a"), col("b")).as("j"))
    val a = hof.as[Double].collect().sorted.toSeq
    val b = direct.as[Double].collect().sorted.toSeq
    assert(a == b)
  }

  test("SimHash64 == md5-hex HOF formulation bitwise") {
    val texts = Seq("the quick brown fox", "a b c d e f g", "singleword", "",
      "spark batch stream window group merge join filter sort")
    val df = texts.toDF("text").select(
      array_distinct(split(trim(lower(col("text"))), " ")).as("dw"))
      .select(
        ArrayExprs.simhash64(col("dw")).as("native"),
        Dedup.simhashHalf(transform(col("dw"), x => Dedup.md5Hash32(x, 1))).as("hi"),
        Dedup.simhashHalf(transform(col("dw"), x => Dedup.md5Hash32(x, 9))).as("lo"))
    df.collect().foreach { r =>
      val native = r.getSeq[Long](0)
      assert(native == Seq(r.getLong(1), r.getLong(2)), r.toString)
    }
  }

  test("SortedJaccardGe == JaccardSets above the r6-safe abort margin, below stays below τ") {
    val rnd = new scala.util.Random(11)
    // distinct sorted arrays with overlap levels spanning the threshold
    val rows = Seq.fill(300)((
      Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(40).toLong).distinct.sorted,
      Seq.fill(rnd.nextInt(30) + 1)(rnd.nextInt(40).toLong).distinct.sorted))
    for (tau <- Seq(0.0, 0.5, 0.7, 0.8)) {
      val both = rows.toDF("a", "b").select(
        ArrayExprs.jaccard_sets(col("a"), col("b")).as("js"),
        ArrayExprs.jaccard_sorted_ge(col("a"), col("b"), tau).as("jm"))
        .as[(Double, Double)].collect()
      both.foreach { case (js, jm) =>
        if (js >= tau - 1e-6) assert(jm == js, s"tau=$tau: $jm != $js")
        else assert(jm < tau, s"tau=$tau: aborted value $jm must stay below tau (js=$js)")
      }
    }
    // null semantics match: two empty sets
    val nulls = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(ArrayExprs.jaccard_sorted_ge(col("a"), col("b"), 0.7).as("j")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("BloomBoundGe is lossless: never rejects a pair whose exact Jaccard reaches tau") {
    val rnd = new scala.util.Random(29)
    // overlap levels spanning the threshold, hash values spread over
    // the full long range (the real feature-hash domain), PLUS tiny
    // widths (words=1,2) where saturation is maximal — the bound must
    // stay sound (only ever weaker) even when every bit is set
    val universe = Seq.fill(4000)(rnd.nextLong())
    val rows = Seq.fill(400) {
      val base = Seq.fill(rnd.nextInt(300) + 1)(universe(rnd.nextInt(universe.size))).distinct
      val keep = base.filter(_ => rnd.nextDouble() < 0.3 + rnd.nextDouble() * 0.7)
      val extra = Seq.fill(rnd.nextInt(120))(universe(rnd.nextInt(universe.size))).distinct
      (base.sorted, (keep ++ extra).distinct.sorted)
    }
    for (words <- Seq(1, 2, 32); tau <- Seq(0.5, 0.7, 0.8)) {
      val got = rows.toDF("a", "b").select(
        ArrayExprs.jaccard_sets(col("a"), col("b")).as("j"),
        ArrayExprs.bloom_bound_ge(
          ArrayExprs.bloom_bits(col("a"), words),
          ArrayExprs.bloom_bits(col("b"), words),
          size(col("a")), size(col("b")), tau).as("keep"))
        .as[(Double, Boolean)].collect()
      got.foreach { case (j, keep) =>
        if (j >= tau - 1e-6) assert(keep, s"words=$words tau=$tau: LOST true pair j=$j")
      }
      // effectiveness sanity at the real width only: some far-below-
      // threshold pair must be rejected, else the filter is a no-op
      if (words == 32 && tau == 0.8)
        assert(got.exists { case (j, keep) => !keep && j < tau })
    }
  }

  test("SortedContainCounts == size(array_intersect) + integer containment filter") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(500)((
      Seq.fill(rnd.nextInt(40) + 1)(rnd.nextInt(50).toLong).distinct.sorted,
      Seq.fill(rnd.nextInt(40) + 1)(rnd.nextInt(50).toLong).distinct.sorted))
    for ((tn, td) <- Seq((9, 10), (7, 10), (0, 10))) {
      val got = rows.toDF("a", "b").select(
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"),
        size(col("a")).cast("long").as("sza"),
        ArrayExprs.contain_counts_ge(col("a"), col("b"), tn, td).as("cc"))
        .collect()
      got.foreach { r =>
        val ref = r.getLong(0); val sza = r.getLong(1)
        val cc = if (r.isNullAt(2)) None else Some(r.getLong(2))
        if (ref * td >= tn.toLong * sza) assert(cc.contains(ref), s"tn=$tn: $cc != $ref")
        else assert(cc.isEmpty, s"tn=$tn: below-threshold pair surfaced $cc (ref=$ref)")
      }
    }
    // empty contained side → null (containment undefined), any tn
    import spark.implicits._
    val empty = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(ArrayExprs.contain_counts_ge(col("a"), col("b"), 0, 10)).collect()
    assert(empty.head.isNullAt(0))
  }

  test("BloomContainGe is lossless: never rejects a pair whose exact containment reaches t") {
    val rnd = new scala.util.Random(37)
    val universe = Seq.fill(4000)(rnd.nextLong())
    val rows = Seq.fill(400) {
      val base = Seq.fill(rnd.nextInt(300) + 1)(universe(rnd.nextInt(universe.size))).distinct
      val keep = base.filter(_ => rnd.nextDouble() < 0.3 + rnd.nextDouble() * 0.7)
      val extra = Seq.fill(rnd.nextInt(120))(universe(rnd.nextInt(universe.size))).distinct
      (base.sorted, (keep ++ extra).distinct.sorted)
    }
    for (words <- Seq(1, 2, 32); tn <- Seq(5, 7, 9)) {
      val got = rows.toDF("a", "b").select(
        size(array_intersect(col("a"), col("b"))).cast("long").as("inter"),
        size(col("a")).cast("long").as("sza"),
        ArrayExprs.bloom_contain_ge(
          ArrayExprs.bloom_bits(col("a"), words),
          ArrayExprs.bloom_bits(col("b"), words),
          size(col("a")).cast("long"), tn, 10).as("keep"))
        .as[(Long, Long, Boolean)].collect()
      got.foreach { case (inter, sza, keep) =>
        if (inter * 10 >= tn.toLong * sza)
          assert(keep, s"words=$words tn=$tn: LOST true pair inter=$inter sza=$sza")
      }
      if (words == 32 && tn == 9)
        assert(got.exists { case (inter, sza, keep) => !keep && inter * 10 < 9 * sza })
    }
  }

  test("NearestClusters == the sort-of-(negscore,id)-structs formulation bitwise") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    val k = 37
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    // duplicate centroids force score ties — the tie must break by id
    cents(12) = cents(3).clone()
    cents(30) = cents(3).clone()
    val rows = Seq.fill(200)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    // the r5 formulation, inlined as the reference
    def reference(v: org.apache.spark.sql.Column, nprobe: Int) = {
      val scored = cents.zipWithIndex.map { case (c, i) =>
        val half = c.map(x => x.toDouble * x.toDouble).sum / 2
        struct((lit(half) - graft.functions.VecFns.dot(v, typedLit(c.toSeq))).as("negscore"),
          lit(i).as("id"))
      }
      slice(transform(sort_array(array(scored: _*)), x => x("id")), 1, nprobe)
    }
    for (nprobe <- Seq(1, 3, 5, k + 4)) {
      val both = rows.toDF("v").select(
        ArrayExprs.nearest_clusters(col("v"), cents, nprobe).as("a"),
        reference(col("v"), nprobe).as("b"))
        .as[(Seq[Int], Seq[Int])].collect()
      both.foreach { case (a, b) => assert(a == b, s"nprobe=$nprobe: $a != $b") }
    }
    // a vector of the wrong dim is null (the sort form had no defined
    // order there; call sites filter such rows)
    val bad = Seq(Seq.fill(dim + 1)(0.5f)).toDF("v")
      .select(ArrayExprs.nearest_clusters(col("v"), cents, 3).as("a")).collect()
    assert(bad.head.isNullAt(0))
  }

  test("JaccardSets on two empty arrays is null (composed 0/0 semantics)") {
    val df = Seq((Seq.empty[Long], Seq.empty[Long]), (Seq(1L), Seq.empty[Long]))
      .toDF("a", "b")
      .select(ArrayExprs.jaccard_sets(col("a"), col("b")).as("j"))
    val got = df.collect()
    assert(got(0).isNullAt(0))           // 0/0 → null, never NaN
    assert(got(1).getDouble(0) == 0.0)   // 0/1 → 0
    // non-ANSI composed form agrees (ANSI divide would raise instead —
    // either way, no NaN escapes into `jaccard >= t` filters)
    withNonAnsi {
      val composed = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
        .select((size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double")).as("j"))
      assert(composed.collect()(0).isNullAt(0))
    }
  }

  private def withNonAnsi[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("FuseJaccardRule does not fire on arrays that may contain null elements") {
    // array_insert(..., null) forces containsNull=true on the type
    val df = Seq((Seq(1L, 2L), Seq(2L, 3L))).toDF("a", "b").repartition(2)
      .select(array_insert(col("a"), lit(1), lit(null).cast("long")).as("an"), col("b"))
      .select((size(array_intersect(col("an"), col("b"))).cast("double") /
        size(array_union(col("an"), col("b"))).cast("double")).as("j"))
    assert(!df.queryExecution.executedPlan.toString.contains("jaccard_sets"),
      df.queryExecution.executedPlan.toString)
  }

  test("FloatDot matches HOF null semantics: length mismatch and null elements") {
    val rows = Seq(
      (Seq(Some(1f), Some(2f)), Seq(Some(3f), Some(4f), Some(5f))), // mismatch → null
      (Seq(Some(1f), None), Seq(Some(3f), Some(4f))),               // null elem → null
      (Seq(Some(2f), Some(3f)), Seq(Some(4f), Some(5f))))           // 23.0
    val df = rows.toDF("a", "b").select(
      ArrayExprs.float_dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("FloatDot survives codegen and interpreted paths with nulls") {
    val df = Seq((Some(Seq(1f, 2f)), Some(Seq(3f, 4f))), (None, Some(Seq(1f))))
      .toDF("a", "b")
      .select(ArrayExprs.float_dot(col("a"), col("b")).as("d"))
    val got = df.collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
  }

  /** The `regexp_extract` formula `Geo.parseLat` (`hemi` group 1,
    * `pos` "N") and `Geo.parseLon` (group 3, "E") were built from: the
    * reference the native TileDegree scan must match.
    */
  private def regexDegree(key: Column, hemiGroup: Int, pos: String): Column = {
    val hemi = regexp_extract(key, Geo.TilePattern, hemiGroup)
    val deg  = regexp_extract(key, Geo.TilePattern, hemiGroup + 1)
    when(hemi === "", lit(null).cast(IntegerType))
      .otherwise(when(hemi === pos, deg.cast(IntegerType)).otherwise(-deg.cast(IntegerType)))
  }

  test("TileDegree == the regexp_extract tile-key formula, codegen'd and interpreted") {
    val rnd = new scala.util.Random(11)
    def pick(s: String): Char = s(rnd.nextInt(s.length))
    // a key-shaped string whose letter and digit slots are sometimes
    // wrong: bad hemispheres, a non-ASCII digit, a letter
    def shaped(): String = {
      def deg() = Seq.fill(3)(if (rnd.nextInt(12) == 0) pick("\u0663a\u00e9") else pick("0123456789")).mkString
      def hemi(ok: String) = if (rnd.nextInt(12) == 0) pick("XNSEWn") else pick(ok)
      s"ALPSMLC30_${hemi("NS")}${deg()}${hemi("EW")}${deg()}_DSM"
    }
    val tokens = Seq("ALPSMLC30_", "ALPSMLC30", "_DSM", "_DS", "N", "S", "E", "W", "X",
      "0", "12", "345", "\u0663", "\u00e9\u00e9", "\u6771", "p/", ".tif", "_", " ")
    def noise(): String = Seq.fill(rnd.nextInt(5))(tokens(rnd.nextInt(tokens.size))).mkString
    def gen(): String = rnd.nextInt(5) match {
      case 0 => shaped()
      case 1 => noise() + shaped() + noise()
      case 2 => val k = shaped(); noise() + k.take(rnd.nextInt(k.length)) + noise() // truncated
      case 3 => noise() + shaped() + noise() + shaped()                               // two keys
      case _ => Seq.fill(rnd.nextInt(12))(tokens(rnd.nextInt(tokens.size))).mkString
    }
    val fixed = Seq("p/ALPSMLC30_N000E000_DSM.tif", "ALPSMLC30_S014W077_DSM ALPSMLC30_N050E006_DSM",
      "ALPSMLC30_ALPSMLC30_N001W002_DSM", "ALPSMLC30_N001W00", "ALPSMLC30_N001W002_DS",
      "ALPSMLC30_X050E006_DSM", "ALPSMLC30_N050X006_DSM", "ALPSMLC30_N0\u06630E006_DSM",
      "\u00e9\u6771/ALPSMLC30_S001E002_DSM", "", null)
    val keys = (fixed ++ Seq.fill(200000)(gen())).map(Option(_))
    // repartition keeps the projection out of ConvertToLocalRelation's
    // eager (interpreted) fold
    def compare(): (Long, Long) = {
      val df = keys.toDF("key").repartition(4).select(col("key"),
        Geo.parseLat(col("key")).as("lat"), Geo.parseLon(col("key")).as("lon"),
        regexDegree(col("key"), 1, "N").as("ref_lat"), regexDegree(col("key"), 3, "E").as("ref_lon"))
      val bad = df.filter(!(col("lat") <=> col("ref_lat")) || !(col("lon") <=> col("ref_lon")))
      assert(bad.isEmpty, bad.take(5).mkString("; "))
      (df.count(), df.filter(col("lat").isNotNull).count())
    }
    // whether a fresh parse (no exchange, so no adaptive plan) runs in
    // a whole-stage codegen stage under the current settings
    def codegen(): Boolean = spark.range(1)
      .select(Geo.parseLat(concat(lit("ALPSMLC30_N00"), col("id").cast("string"), lit("E002_DSM"))))
      .queryExecution.executedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegen())
    val (n, hits) = compare()
    assert(n == keys.size && hits > n / 4 && hits < n, s"$hits of $n strings hold a key")
    info(s"$hits of $n strings hold a key")
    val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(!codegen())
      assert(compare() == ((n, hits)))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // spot values: leftmost key wins, a repeated prefix still matches
    val spot = Seq("ALPSMLC30_S014W077_DSM ALPSMLC30_N050E006_DSM", "ALPSMLC30_ALPSMLC30_N001W002_DSM")
      .toDF("key").select(Geo.parseLat(col("key")), Geo.parseLon(col("key")))
      .as[(Int, Int)].collect().toSeq
    assert(spot == Seq((-14, -77), (1, -2)))
  }

  test("flow_accum and watershed are SQL-callable through GraftExtensions") {
    // 3×3 bowl: center lowest — all 8 ring cells would flow inward,
    // but only the center is interior, so it is a sink (code 0):
    // acc = 0 everywhere, every cell its own basin root
    val bowl = "array(9L,8L,9L, 8L,1L,8L, 9L,8L,9L)"
    val acc = spark.sql(s"SELECT flow_accum($bowl, 3) AS a").collect()(0)
      .getSeq[Long](0)
    assert(acc == Seq(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    val ws = spark.sql(s"SELECT watershed($bowl, 3) AS w").collect()(0)
      .getSeq[Long](0)
    assert(ws == (0 until 9).map(_.toLong))
    // 3×4 is malformed for n=3 → null, mirroring RasterDecode
    assert(spark.sql("SELECT watershed(array(1L,2L,3L,4L), 3) AS w")
      .collect()(0).isNullAt(0))
  }
}
