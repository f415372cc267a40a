package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Planted-duplicate tests: writes a small synthetic documents.parquet
  * to a temp dir and runs the (SparkSession, dir) operators on it.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val plantedDir: String = {
    val dir = scratchDir("graft_dedup")
    val base = "the quick brown fox jumps over the lazy dog again and again until done"
    val near = base.replace("done", "finished") // one-word edit ⇒ high jaccard
    val docs = Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, near, "en", "s", near.length.toLong),
      (2L, base, "en", "s", base.length.toLong), // exact dup of 0
      (3L, "completely different content about spark shuffles and partitions here", "en", "s", 70L),
      (4L, "another unrelated document mentioning broadcast joins and codegen stages", "en", "s", 73L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical canonical text") {
    val got = Dedup.exact(spark, plantedDir).collect()
    assert(got.length == 4) // 5 docs, one exact pair
    val grp = got.find(_.getLong(2) > 1).get
    assert(grp.getLong(1) == 0L && grp.getLong(2) == 2L) // canonical=min id, size 2
  }

  test("d18 similarity histogram reconciles with the collected d2 pair set") {
    val Sf = "/root/testdata/sf0.001"
    val pairs = Dedup.minhashLsh(spark, Sf).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    graft.Caches.clear()
    val exp = pairs.groupBy { case (i, u) => (i * 20 / u).toInt }
      .view.mapValues(_.length.toLong).toMap
    val got = Dedup.similarityHistogram(spark, Sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    graft.Caches.clear()
    assert(got.view.mapValues(_._1).toMap == exp)
    got.foreach { case (b, (_, lo)) => assert(lo == b / 20.0) }
    assert(got.nonEmpty && got.keys.forall(b => b >= 16 && b <= 20),
      "every verified pair sits at or above the 0.8 threshold bin")
  }

  test("minhash LSH finds planted near+exact dup pairs and nothing else") {
    val got = Dedup.minhashLsh(spark, plantedDir, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 2L))) // exact pair, jaccard 1.0
    assert(got.contains((0L, 1L)) && got.contains((1L, 2L))) // near pair
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
  }

  test("ngram LSH jaccard finds the near pair at char level") {
    val got = Dedup.ngramJaccard(spark, plantedDir, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 2L)) && got.contains((0L, 1L)))
    assert(!got.exists(p => p._2 == 4L))
  }

  test("d13: planted clique yields exactly its triangle; corpus matches brute force") {
    val dir = scratchDir("graft_tri")
    val base  = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    Seq(
      (0L, base), (1L, base), (2L, base),   // identical clique of 3 → 1 triangle
      (3L, other), (4L, other),             // pair only → no triangle
      (5L, "totally unrelated text about shuffle partitions and codegen"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.graphTriangles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, 2L)))
    // corpus identity: brute-force closure over the exact d2 pair set
    val pairs = Dedup.minhashLsh(spark, Sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      (a, b) <- pairs; (a2, c) <- pairs
      if a2 == a && c > b && pairs.contains((b, c))
    } yield (a, b, c)).toSet
    val corpus = Dedup.graphTriangles(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(corpus == brute)
  }

  test("d17: per-source dup rates reconcile with d1's exact groups") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source"),
        md5(graft.functions.TextFns.normalize(col("text"))).as("k"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val kn = docs.groupBy(_._2).map { case (k, v) => k -> v.length }
    val exp = docs.groupBy(_._1).map { case (src, v) =>
      src -> ((v.length.toLong, v.count(t => kn(t._2) > 1).toLong)) }
    val got = Dedup.sourceDupRates(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (src, (n, d)) =>
      val (gn, gd, pm) = got(src)
      assert(gn == n && gd == d && pm == d * 1000 / n, src)
    }
  }

  test("d16: size histogram reconciles with d8's clusters") {
    val clusters = Dedup.dupClusters(spark, Sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val exp = clusters.groupBy(_._2).map { case (sz, rows) =>
      sz -> ((rows.map(_._1).distinct.length.toLong, rows.length.toLong)) }
    val got = Dedup.clusterSizeHistogram(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
    // doc mass reconciles with the member table
    assert(got.values.map(_._2).sum == clusters.length.toLong)
  }

  test("line dedup strips corpus-hot 8-word windows, keeps within-doc repeats") {
    val dir = scratchDir("graft_linededup")
    val hotLine = "w1 w2 w3 w4 w5 w6 w7 w8" // in 3 docs ⇒ hot
    val b0 = "only in doc zero"             // short trailing window
    val c1 = "c1 c2 c3 c4 c5 c6 c7 c8"
    val twice = "t1 t2 t3 t4 t5 t6 t7 t8"   // twice in ONE doc ⇒ not hot
    val docs = Seq(
      (0L, s"$hotLine $b0"),     // lines: [hot, b0]
      (1L, s"$c1 $hotLine"),     // hot at window 1 (aligned)
      (2L, hotLine),             // all lines removed
      (3L, s"$twice $twice"))    // distinct-doc count 1 — kept
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.lineDedup(spark, dir)
      .select("doc_id", "n_lines", "n_dup_lines", "kept_chars", "kept_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, b0.length.toLong, b0),
      (1L, 2L, 1L, c1.length.toLong, c1),
      (2L, 1L, 1L, 0L, ""),
      (3L, 2L, 0L, (s"$twice $twice").length.toLong, s"$twice $twice")), got.toString)
  }

  test("exact-set collapse expands losslessly, incl. same-set different-order texts") {
    val dir = scratchDir("graft_dedup_fam")
    // same circular char-4-gram SET in two different first-occurrence
    // orders: the collapse must group by SET, not by text or by the
    // unsorted gram array
    val rot1 = "abcdeabc"
    val rot2 = "bcdeabcd"
    val other = "totally different words entirely here"
    val docs = Seq((0L, rot1), (1L, rot2), (2L, rot1), (3L, rot2),
      (4L, other), (5L, other))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.ngramJaccard(spark, dir, threshold = 0.7)
      .select("id_a", "id_b", "inter_sz", "union_sz")
      .as[(Long, Long, Long, Long)].collect().toSet
    // every expected pair is an exact duplicate: inter == union
    assert(got.map(p => (p._1, p._2)) ==
      ((for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)).toSet + ((4L, 5L))),
      got.toString)
    got.foreach { case (a, b, i, u) => assert(i == u && i > 0, s"($a,$b)") }
  }

  test("hot-band salting: identical pair set on a planted hot-band corpus, salted plan engages") {
    import spark.implicits._
    // planted hot band: 60 distinct docs sharing 29 of 30 feature
    // hashes (each drops one) — NOT exact dups, so the family
    // collapse cannot remove them, and with 1-row bands their band
    // keys coincide whenever the shared features own the minimum:
    // bucket sizes ~60 on every band, the adversarial shape
    val common = (1L to 30L).map(_ * 0x9E3779B97F4A7C15L)
    val docs = (0 until 60).map { i =>
      (i.toLong, common.zipWithIndex.collect {
        case (h, j) if j != i % 30 => h
      } :+ (0xABCDEF00L + i))
    }
    val hashed = docs.toDF("doc_id", "fh")
    def pairs(): Set[Seq[Any]] = Dedup.pairsFromHashed(
      hashed, bands = 8, rows = 1, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    val unsalted = pairs()
    spark.conf.set("spark.graft.lsh.hotBandThreshold", "8")
    spark.conf.set("spark.graft.lsh.hotBandSalt", "4")
    try {
      val salted = pairs()
      assert(unsalted.nonEmpty, "planted corpus produced no pairs")
      assert(salted == unsalted,
        s"salting changed the pair set: ${(salted diff unsalted) ++ (unsalted diff salted)}")
      // the salted branch actually planned (salt column in the join)
      val plan = Dedup.pairsFromHashed(hashed, 8, 1, 0.5)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__salt"), plan.take(2000))
      // all-hot degenerate setting still produces the same set
      spark.conf.set("spark.graft.lsh.hotBandThreshold", "1")
      assert(pairs() == unsalted)
    } finally {
      spark.conf.unset("spark.graft.lsh.hotBandThreshold")
      spark.conf.unset("spark.graft.lsh.hotBandSalt")
      graft.Caches.clear()
    }
  }

  test("d2/d4 frame construction runs only the two cache builds; explain adds none") {
    // The r5 dup-detection probe ran a DATA-DEPENDENT job at frame
    // construction (its result branched the plan); the r6 collapse
    // made construction job-free. r16 deliberately re-introduces two
    // eager, DATA-INDEPENDENT jobs: the corpus and banded caches
    // materialize at construction so that every downstream join can
    // see their doc_id/bkey layouts (an unexecuted cached
    // AdaptiveSparkPlan reports UnknownPartitioning and consumers
    // would re-exchange the fat side). The plan itself stays static —
    // no branch reads those jobs' results — and EXPLAINING the built
    // frame still runs nothing further.
    val dir = plantedDir // materialize the fixture before listening
    Tables.documents(spark, dir) // warm the one-time schema-footer read
    val ((d2, d4), constructJobs) = withJobCount(
      (Dedup.minhashLsh(spark, dir, threshold = 0.5),
        Dedup.ngramJaccard(spark, dir, threshold = 0.7)))
    val (_, jobs) = withJobs {
      d2.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      d4.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    }
    assert(jobs.isEmpty, s"explain ran ${jobs.size} jobs: " + jobs.mkString("; "))
    // the eager builds DID run at construction (2 caches per frame,
    // 2 frames; AQE may split each build into several jobs — no
    // upper bound, r16 ADVICE: a hard cap is environment-sensitive).
    // The explain-runs-nothing assertion above is the property that
    // actually guards the laziness contract.
    assert(constructJobs >= 4,
      s"construction ran $constructJobs jobs (expected the 2x2 cache builds)")
  }

  test("prefixJaccard (PPJoin variant) agrees with the banded result") {
    val docs = Tables.documents(spark, plantedDir)
      .select(col("doc_id"), graft.functions.TextFns.normalize(col("text")).as("nrm"))
      .select(col("doc_id"), graft.functions.TextFns.charGrams(col("nrm")).as("feats"))
    val pp = Dedup.prefixJaccard(docs, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.ngramJaccard(spark, plantedDir, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pp == banded)
  }

  test("d12: prefix-filtered containment equals brute force on the real corpus") {
    import graft.functions.TextFns
    // brute force: exact containment over distinct word-3-shingle
    // string sets, computed driver-side — the prefix filter must lose
    // nothing
    val sets = Tables.documents(spark, Sf)
      .select(col("doc_id"), TextFns.normalize(col("text")).as("nrm"))
      .collect().map { r =>
        val w = r.getString(1).split(" ", -1)
        val sh = if (w.length < 3) Set(w.mkString(" "))
          else w.sliding(3).map(_.mkString(" ")).toSet
        (r.getLong(0), sh)
      }
    val brute = (for {
      (da, sa) <- sets; (db, sb) <- sets
      if da != db && sa.size >= 5
      i = (sa intersect sb).size if i * 10 >= sa.size * 9
    } yield (da, db, sa.size.toLong, sb.size.toLong, i.toLong)).toSet
    val got = Dedup.containment(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == brute, s"got=${got.size} brute=${brute.size}")
    assert(brute.nonEmpty)
    val setsBy = sets.toMap
    assert(brute.forall { case (a, b, sa, _, i) =>
      i <= math.min(setsBy(a).size, setsBy(b).size) && i >= 0.9 * sa - 1e-9 })
  }

  test("d12: a planted quote inside a long article is found despite tiny Jaccard") {
    // the case symmetric near-dup CANNOT see: a 14-word excerpt of a
    // 120-word article — containment 1.0, Jaccard ≈ 0.1
    val words = (0 until 120).map(i => s"w${i * 37 % 211}")
    val article = words.mkString(" ")
    val quote = words.slice(40, 54).mkString(" ")
    val unrelated = (0 until 60).map(i => s"x${i}").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, quote), (2L, article), (3L, unrelated))).toDF("doc_id", "text")
    val got = Dedup.containmentOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(2)))
    assert(got.toSeq.map(g => (g._1, g._2)) == Seq((1L, 2L))) // quote⊂article only
    got.foreach { case (_, _, i, sa) => assert(i == sa) } // containment exactly 1
    // and the pair is genuinely invisible to the symmetric threshold
    val qs = quote.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val as = article.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val j = (qs intersect as).size.toDouble / (qs union as).size
    assert(j < 0.2, s"fixture drifted: J=$j")
  }

  test("incremental d2: delta-vs-index pairs + base pairs == self-contained d2 on the union") {
    val idx = scratchDir("graft_dedup_idx")
    // base = docs 0,1,3,4 ; delta = doc 2 (the exact dup of 0) — the
    // delta probe must surface 2's pairs with base docs AND the base
    // near-pair (0,1) must come from the base run, not the delta
    val basePred = col("doc_id") =!= 2L
    val deltaPred = col("doc_id") === 2L
    Dedup.buildDedupIndex(spark, plantedDir, idx, basePred)
    val deltaPairs = Dedup.minhashLshDelta(spark, plantedDir, idx, deltaPred,
        threshold = 0.5).collect().map(_.toSeq).toSet
    // base pairs via the same public kernels on the base subset
    val basePairs = Dedup.pairsFromHashed(
        Tables.documents(spark, plantedDir).filter(basePred)
          .select(col("doc_id"), org.apache.spark.sql.graft.ArrayExprs
            .word_shingle_hashes(graft.functions.TextFns.normalize(col("text")), 3).as("fh")),
        bands = 32, rows = 4, threshold = 0.5).collect().map(_.toSeq).toSet
    val full = Dedup.minhashLsh(spark, plantedDir, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    assert(deltaPairs.nonEmpty && basePairs.nonEmpty)
    assert((deltaPairs & basePairs).isEmpty) // clean partition, no overlap
    assert((deltaPairs | basePairs) == full)
    // the band-probe scan of the persisted index must prune fh (the
    // wide verify column) out of the read — the stored-column pruned
    // -scan promise of the s2 index, kept by the dedup index
    val plan = Dedup.minhashLshDelta(spark, plantedDir, idx, deltaPred, threshold = 0.5)
      .queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("bands")).toSeq
    assert(idxScans.nonEmpty, plan)
    assert(idxScans.exists(!_.contains("fh")),
      s"band-probe scan must prune the fh column:\n$plan")
  }

  test("incremental d2: a re-delivered delta overlapping the index emits no duplicate rows") {
    val idx = scratchDir("graft_dedup_idx_ovl")
    // index the WHOLE corpus, then re-deliver doc 2 as the delta — the
    // at-least-once retry case: doc 2 is in the index AND the delta
    Dedup.buildDedupIndex(spark, plantedDir, idx, lit(true))
    val rows = Dedup.minhashLshDelta(spark, plantedDir, idx, col("doc_id") === 2L,
        threshold = 0.5).collect().map(_.toSeq)
    assert(rows.distinct.length == rows.length,
      s"duplicate pair rows from index/delta overlap: $rows")
    // and the pair set is exactly doc 2's pairs from the full run
    val full = Dedup.minhashLsh(spark, plantedDir, threshold = 0.5)
      .collect().map(_.toSeq).filter(r => r(0) == 2L || r(1) == 2L).toSet
    assert(rows.toSet == full, s"${rows.toSet} != $full")
  }

  test("d8: label propagation resolves transitive near-dup chains into one cluster") {
    // planted graph: 0~1, 1~2 (and 0~2) form a component; 3, 4 are
    // singletons and must not appear at all
    val got = Dedup.dupClusters(spark, plantedDir).collect()
    assert(got.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    got.foreach { r =>
      assert(r.getLong(1) == 0L)      // cluster id = min member
      assert(r.getLong(2) == 3L)      // cluster size
    }
  }

  test("d8 core: connectedComponents stitches components across partitions") {
    // a 64-vertex chain (diameter 63, guaranteed to straddle 3 hash
    // partitions ⇒ the boundary-graph recursion actually runs) plus a
    // detached pair; labels must be the global component minima
    val pairs = ((0L until 63L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(spark, pairs, 3)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 66)
    (0L to 63L).foreach(v => assert(got(v) == 0L))
    assert(got(100L) == 100L && got(101L) == 100L)
  }

  test("d8: clusters partition the pair graph on the real corpus") {
    import org.apache.spark.sql.functions._
    val clusters = Dedup.dupClusters(spark, Sf)
    val labelOf = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLsh(spark, Sf).select("id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    // every pair's endpoints share a cluster, and every cluster id is a member min
    pairs.foreach { case (a, b) => assert(labelOf(a) == labelOf(b)) }
    clusters.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("m")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("d4 OPH signature is candidate-complete: pairs identical to classic MinHash, real corpus") {
    val classic = Dedup.ngramJaccard(spark, Sf, oph = false).collect().map(_.toSeq).toSet
    val oph = Dedup.ngramJaccard(spark, Sf, oph = true).collect().map(_.toSeq).toSet
    assert(oph.nonEmpty && oph == classic)
  }

  test("simhash flags exact and near dups within hamming 3") {
    val got = Dedup.simhashPairs(spark, plantedDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 2L))) // identical text ⇒ hamming 0
  }

  test("hierarchical simhash blocking is lossless: identical pairs, real corpus") {
    val flat = Dedup.simhashPairs(spark, Sf).collect().map(_.toSeq).toSet
    val hier = Dedup.simhashPairs(spark, Sf, hierarchical = true)
      .collect().map(_.toSeq).toSet
    assert(flat.nonEmpty && hier == flat)
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val got = Dedup.embedNearDup(spark, Sf, threshold = 0.4).collect()
    got.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 400000L) // cosine_e6 micro-units
    }
  }

  test("d5 scale gate: the quadratic path refuses oversized corpora and names d9") {
    // lower the cap below the fixture corpus size; the require must
    // fire at construction and point the caller at the sublinear path
    spark.conf.set(graft.operators.Dedup.EmbedNearDupMaxRowsKey, "10")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.embedNearDup(spark, Sf)
      }
      assert(e.getMessage.contains("semDedup") && e.getMessage.contains("d9"),
        e.getMessage)
    } finally spark.conf.unset(graft.operators.Dedup.EmbedNearDupMaxRowsKey)
  }

  test("block-pair distributed d5 equals the naive all-pairs join, any block count") {
    import org.apache.spark.sql.functions._
    import graft.functions.VecFns._
    import graft.functions.Det._
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val naive = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosinePre(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm"))
          .as("cos_raw"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("id_a"), col("id_b"), e6(col("cos_raw")).as("cosine_e6"))
      .collect().map(_.toSeq).toSet
    for (blocks <- Seq(0, 1, 3, 8)) { // 0 = auto-sized
      val blocked = Dedup.embedNearDup(spark, Sf, threshold = 0.4, blocks = blocks)
        .collect().map(_.toSeq).toSet
      assert(blocked == naive, s"blocks=$blocks")
    }
  }

  test("d9 semdedup: precision 1.0 against exact d5, measured recall floor holds") {
    // the within-cluster self-join must be a shuffled equi-join on the
    // cluster id — never a nested-loop/cartesian fallback
    val plan = Dedup.semDedup(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    graft.Caches.clear()
    val exact = Dedup.embedNearDup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sem = Dedup.semDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    // precision 1.0: every cluster-bounded pair is a true exact pair,
    // with the identical cosine (same kernel, same rounding)
    sem.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive $k")
      assert(exact(k) == c, s"cosine drift $k")
    }
    // recall is deterministic (k-means init = lowest vec_ids): 0.909
    // measured at this fixture with defaults (passign=3, iters=3);
    // floor leaves headroom for parameter-neutral refactors only
    assert(sem.length.toDouble / exact.size >= 0.85,
      s"recall ${sem.length.toDouble / exact.size}")
  }

  test("d9 coarseK: centroid-matrix bytes stay bounded at any corpus size") {
    val capBytes = 64L << 20
    for (dim <- Seq(64, 768); n <- Seq(1e4, 1e6, 1e8, 1e10, 1e12).map(_.toLong)) {
      val k = Dedup.coarseK(n, 256, dim, capBytes)
      assert(k.toLong * dim * 4 <= math.max(capBytes, 16L * dim * 4),
        s"n=$n dim=$dim k=$k matrix=${k.toLong * dim * 4}")
      assert(k >= 16)
    }
    // below the cap the published k = n/clusterSize shape is unchanged
    assert(Dedup.coarseK(1000000L, 256, 64) == math.ceil(1000000.0 / 256).toInt)
    // at 10^10 docs the uncapped k would be ~39M (a ~10 GB matrix at
    // dim 64); the cap pins it at capBytes/(4*dim)
    assert(Dedup.coarseK(10000000000L, 256, 64) == (64L << 20) / (4 * 64))
  }

  test("d14 source overlap matrix reconciles with d2 pairs + a JVM rollup") {
    val Sf = "/root/testdata/sf0.001"
    val got = Dedup.sourceOverlapMatrix(spark, Sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    graft.Caches.clear()
    val pairs = Dedup.minhashLsh(spark, Sf).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.clear()
    val src = Tables.documents(spark, Sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tagged = pairs.map { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), a, b)
    }
    val exp = tagged.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong, v.flatMap(t => Seq(t._2, t._3)).distinct.size.toLong))
    }
    assert(got == exp && got.nonEmpty)
  }

  test("d15 cluster purity reconciles with d8 clusters + a JVM rollup") {
    val Sf = "/root/testdata/sf0.001"
    val got = Dedup.clusterPurity(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    graft.Caches.clear()
    val cl = Dedup.dupClusters(spark, Sf).select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    graft.Caches.clear()
    val meta = Tables.documents(spark, Sf).select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val exp = cl.groupBy(_._2).map { case (cid, ms) =>
      val langs = ms.map(m => meta(m._1)._1)
      val byLang = langs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val (topL, topC) = byLang.minBy { case (l, c) => (-c, l) }
      cid -> ((ms.size.toLong, byLang.size.toLong, topL, topC,
        ms.map(m => meta(m._1)._2).distinct.size.toLong,
        topC * 1000 / ms.size))
    }
    assert(got == exp && got.nonEmpty)
    // purity is a real measurement here: the corpus has dup clusters
    // and every cluster's majority share is consistent
    got.values.foreach { case (n, _, _, tc, _, pm) =>
      assert(tc <= n && pm == tc * 1000 / n) }
  }
}
