package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns._
import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("d6: hash-prefiltered repeated spans equal the direct string group-by") {
    val direct = Tables.documents(spark, Sf)
      .select(col("doc_id"), normalize(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 50)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("nrm")) - 49),
          i => col("nrm").substr(i, lit(50))))).as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .collect().map(_.toSeq).toSet
    val got = Curation.repeatedSpans(spark, Sf).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == direct)
    // every reported span is exactly `width` chars and in ≥2 docs
    got.foreach { r => assert(r.head.asInstanceOf[String].length == 50) }
  }

  test("d6: identity holds on a pathologically repetitive corpus (hot-set binary search)") {
    // the r15 variance case: docs whose EVERY window is hot — a
    // period-2 5000-char doc makes |hotg| large and windows dense, the
    // exact corpus where the old linear array_contains scan degraded
    val dir = scratchDir("graft_d6_rep")
    val rep1 = "ab" * 2500
    val rep2 = "ab" * 2400 + "xy" * 50 // shares all period-2 spans with rep1
    val shared = "s" * 20 + "hello shared span here padded to fifty!!!" + "s" * 20
    val docs = Seq(
      (0L, rep1, "en", "s", rep1.length.toLong),
      (1L, rep2, "en", "s", rep2.length.toLong),
      (2L, "prefix " + shared + " suffix one " + ("z" * 40), "en", "s", 120L),
      (3L, "other lead " + shared + " tail two " + ("w" * 40), "en", "s", 118L),
      (4L, "no repeats in this document at all beyond fifty characters of unique text qqq", "en", "s", 78L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val direct = Tables.documents(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 50)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("nrm")) - 49),
          i => col("nrm").substr(i, lit(50))))).as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .collect().map(_.toSeq).toSet
    val got = Curation.repeatedSpans(spark, dir).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == direct)
  }

  test("d7: decontamination counts distinct shared shingles, pool docs excluded") {
    val rows = Curation.decontaminate(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 97 != 0, "pool docs must not appear as train docs")
      assert(r.getLong(1) >= 1)
      assert(r.getBoolean(2) == (r.getLong(1) >= 5))
    }
    // a doc sharing shingles must not count one shingle twice: n_shared
    // is bounded by the doc's distinct shingle count
    val shCounts = Tables.documents(spark, Sf)
      .select(col("doc_id"),
        size(array_distinct(wordShingles(split(normalize(col("text")), " ")))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(r.getLong(1) <= shCounts(r.getLong(0))))
  }

  test("p3: sharded two-pass packing equals the naive single-window form, any width") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val naive = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("start div 2048").as("seq_id"), pmod(col("start"), lit(2048L)).as("seq_offset"))
      .collect().map(_.toSeq).toSet
    for (width <- Seq(1L, 7L, 1000L)) {
      val sharded = Curation.packManifest(spark, Sf, budget = 2048, shardWidth = width)
        .collect().map(_.toSeq).toSet
      assert(sharded == naive, s"shardWidth=$width")
    }
  }

  test("p3: pack manifest is a consistent prefix-sum packing per language") {
    val rows = Curation.packManifest(spark, Sf, budget = 2048).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (_, docs) =>
      val byId = docs.sortBy(_.getLong(0))
      var start = 0L
      byId.foreach { r =>
        assert(r.getLong(3) == start / 2048, r.toString)  // seq_id
        assert(r.getLong(4) == start % 2048, r.toString)  // seq_offset
        assert(r.getLong(4) < 2048)
        start += r.getLong(2)
      }
      // sequence ids are non-decreasing in doc order
      val ids = byId.map(_.getLong(3))
      assert(ids.zip(ids.tail).forall { case (a, b) => a <= b })
    }
  }

  test("p2: stratified sample is deterministic and respects per-lang quotas") {
    val a = Curation.stratifiedSample(spark, Sf).collect().map(_.toSeq).toSeq
    val b = Curation.stratifiedSample(spark, Sf).collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
    a.foreach { r =>
      val lang = r(1).asInstanceOf[String]
      val bucket = r(2).asInstanceOf[Long]
      assert(bucket < Curation.SampleRates.getOrElse(lang, 40))
    }
    // sampled fraction per lang tracks the quota (±15pp at this sf)
    val totals = Tables.documents(spark, Sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_(1).asInstanceOf[String]).view.mapValues(_.size)
    sampled.foreach { case (lang, n) =>
      val frac = n.toDouble / totals(lang)
      val quota = Curation.SampleRates.getOrElse(lang, 40) / 100.0
      assert(math.abs(frac - quota) < 0.15, s"$lang frac=$frac quota=$quota")
    }
  }

  test("p4: sharded PPS sample equals the naive single-window form, any shard width") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, 0)
    val base = Tables.documents(spark, Sf)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("w"))
      .withColumn("cum", sum(col("w")).over(w))
    val tot = base.agg(sum(col("w"))).collect()(0).getLong(0)
    val stride = math.max(tot / 500, 1L)
    val naive = base
      .withColumn("n_hits", expr(s"cum div $stride") - expr(s"(cum - w) div $stride"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("w"), col("cum"), col("n_hits"))
      .collect().map(_.toSeq).toSet
    for (width <- Seq(1L, 7L, 1000L)) {
      val got = Curation.ppsSample(spark, Sf, k = 500, shardWidth = width)
        .collect().map(_.toSeq).toSet
      assert(got == naive && got.nonEmpty, s"shardWidth=$width")
    }
  }

  test("p4: systematic PPS draw count and coverage invariants") {
    val rows = Curation.ppsSample(spark, Sf, k = 100).collect()
    val tot = Tables.documents(spark, Sf)
      .agg(sum(size(words(col("text"))))).collect()(0).getLong(0)
    val stride = math.max(tot / 100, 1L)
    // systematic PPS draws exactly floor(W / S) interval hits in total
    assert(rows.map(_.getLong(3)).sum == tot / stride)
    // a doc's hit count never exceeds its weight/stride + 1 (interval
    // of length w covers at most w/S + 1 multiples)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) / stride + 1, r.toString)
    }
    // determinism
    val again = Curation.ppsSample(spark, Sf, k = 100).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("p5: temperature mix equals a driver-side recomputation of the integer draw") {
    val k = 30L
    val B = 100000L
    val base = Tables.documents(spark, Sf)
      .select(col("doc_id"), Curation.skewTier.as("mix_src"),
        pmod(conv(substring(md5(concat(lit("tmix"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"), lit(B)).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nS = base.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val wS = nS.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val wTot = wS.values.sum
    val tS = nS.map { case (src, n) => src -> math.min(B * k * wS(src) / wTot / n, B) }
    val naive = base.filter { case (_, src, b) => b < tS(src) }
      .map { case (id, src, b) => Seq(id, src, b) }.toSet
    val got = Curation.temperatureMix(
      Tables.documents(spark, Sf).select(col("doc_id"), Curation.skewTier.as("mix_src")),
      k = k, B = B).collect().map(_.toSeq).toSet
    assert(got == naive && got.nonEmpty)
    // temperature upweighting: smaller sources get a rate at least as
    // high as larger ones (strict when uncapped)
    val rates = nS.keys.toSeq.sortBy(nS).map(src => tS(src))
    assert(rates.zip(rates.tail).forall { case (small, large) => small >= large })
  }

  test("p6: bounded-heap fixed sample equals the window row_number form") {
    import org.apache.spark.sql.expressions.Window
    val k = 7
    val bucket = conv(substring(md5(concat(lit("fix"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    val naive = Tables.documents(spark, Sf)
      .select(col("lang"), col("doc_id"), bucket.as("bucket"))
      .withColumn("rank", row_number()
        .over(Window.partitionBy(col("lang")).orderBy(col("bucket"), col("doc_id")))
        .cast("int"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"), col("bucket"))
      .collect().map(_.toSeq).toSet
    val got = Curation.fixedSample(spark, Sf, k = k).collect()
    assert(got.map(_.toSeq).toSet == naive)
    // exactly k per language (corpus has ≥ k docs per lang at this sf)
    got.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.length == k, s"$lang has ${rows.length} rows")
    }
  }

  test("p7: DSIR importance equals a driver-side recomputation; selection is TakeOrdered") {
    val B = 8192L
    def fold(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val tok = Tables.documents(spark, Sf).select("doc_id", "lang", "text")
      .collect().map { r =>
        val w = r.getString(2).trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
        (r.getLong(0), r.getString(1), w.map(x => fold("dsir" + x) % B))
      }
    val rawCnt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val tgtCnt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    tok.foreach { case (_, lang, bs) =>
      bs.foreach { b => rawCnt(b) += 1; if (lang == "en") tgtCnt(b) += 1 }
    }
    def score(b: Long) = (tgtCnt(b) + 1) * 1000000L / (rawCnt(b) + 1)
    val k = 25
    val exp = tok.map { case (id, lang, bs) => (id, lang, bs.length.toLong, bs.map(score).sum) }
      .sortBy { case (id, _, _, im) => (-im, id) }.take(k)
      .map { case (id, lang, nw, im) => Seq(id, lang, nw, im) }.toSeq
    val q = Curation.dsirSelect(spark, Sf, k = k)
    assert(q.collect().map(_.toSeq).toSeq == exp)
    // selection must be the bounded per-partition heap, not a global sort
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("constructing and explaining the r6 curation/text frames runs no Spark job") {
    // the d2/d4 static-plan discipline (DedupSpec) extended to the
    // r6 additions: t8's sketch is a broadcast SUBTREE, p4's total a
    // broadcast 1-row aggregate, p5's thresholds a broadcast map —
    // none may execute before an action
    Tables.documents(spark, Sf) // warm the one-time schema-footer read
    val (_, jobs) = withJobs {
      val frames = Seq(
        graft.operators.TextAnalysis.heavyHitters(spark, Sf),
        Curation.ppsSample(spark, Sf),
        Curation.temperatureMixQuery(spark, Sf),
        Curation.fixedSample(spark, Sf))
      frames.foreach(_.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    assert(jobs.isEmpty,
      s"construction/explain ran ${jobs.size} jobs: " + jobs.mkString("; "))
  }

  test("d10: canonicalization folds case/port/www/tracking/order; groups are (doc_id%97)-exact") {
    val got = Curation.urlDedup(spark, Sf).collect()
    val n = graft.Tables.documents(spark, Sf).count()
    // group structure: one group per residue class mod 97 present
    assert(got.length == math.min(97L, n))
    assert(got.map(_.getLong(1)).sum == n) // every doc in exactly one group
    got.foreach { r =>
      val url = r.getString(0)
      // canonical invariants: lowercase scheme+host, no www/port/
      // tracking/trailing slash, params key-sorted
      assert(url.startsWith("https://site"))
      assert(!url.contains("WWW") && !url.contains(":443") &&
        !url.contains("utm_") && !url.contains("ref=") && !url.endsWith("/"))
      assert(url.contains("?id=") && url.contains("&lang=")) // sorted: id < lang
      // keeper = min doc_id of the group = the residue itself when
      // present in [0, n)
      assert(r.getLong(2) % 97 == r.getLong(2) ||
        r.getLong(2) < 97) // keeper is the smallest id in its class
    }
    // the keeper set is exactly the residues (min id of class c is c for n >= 97)
    if (n >= 97) assert(got.map(_.getLong(2)).sorted.toSeq == (0L until 97L))
  }

  test("t10: per-host mix report — hosts are h%37 classes, counts partition the corpus") {
    val got = graft.operators.TextAnalysis.domainStats(spark, Sf).collect()
    val docs = graft.Tables.documents(spark, Sf)
      .select("doc_id", "text", "lang", "n_chars").collect()
    val n = docs.length.toLong
    // host structure: one row per residue class (doc_id%97)%37 present
    val classes = docs.map(r => (r.getLong(0) % 97) % 37).distinct.length
    assert(got.length == classes)
    assert(got.map(_.getLong(1)).sum == n) // n_docs partitions the corpus
    val byHost = docs.groupBy(r => s"site${(r.getLong(0) % 97) % 37}.example.com")
    got.foreach { r =>
      val host = r.getString(0)
      assert(host.matches("site\\d+\\.example\\.com"), host)
      val grp = byHost(host)
      assert(r.getLong(1) == grp.length.toLong)                       // n_docs
      assert(r.getLong(2) == grp.map(_.getLong(0) % 97).distinct.length) // n_urls
      assert(r.getLong(3) == grp.map(_.getString(2)).distinct.length)    // n_langs
      assert(r.getLong(4) == grp.map(_.getString(1).split(" ", -1).length.toLong).sum) // tok_sum
    }
  }

  test("p8: funnel is monotone, stage drops reconcile, and URL stage keeps one doc per group") {
    val rows = graft.operators.Pipelines.webPipeline(spark, Sf)
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 5)
    val docs = Tables.documents(spark, Sf).select("doc_id").collect().map(_.getLong(0))
    // stage 0 is the raw corpus
    assert(rows(0).getLong(2) == docs.length.toLong)
    // survival is monotone non-increasing and drops reconcile exactly
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(2) <= prev.getLong(2))
      assert(cur.getLong(4) == prev.getLong(2) - cur.getLong(2))
      assert(cur.getLong(3) <= prev.getLong(3)) // token volume shrinks too
      case _ =>
    }
    // the URL gate keeps exactly one doc per canonical group — and the
    // generating formula makes that group (doc_id % 97)
    assert(rows(1).getLong(2) == docs.map(_ % 97).distinct.length.toLong)
  }

  test("p10: cross-split leaks surface, within-split dups do not") {
    import spark.implicits._
    val dir = scratchDir("graft_p10")
    // md5('splt'||id) buckets: 0→28, 1→0, 2→3, 3→88, 4→88, 5→85 —
    // so eval = {1, 2}, train = {0, 3, 4, 5}
    val base  = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven"
    Seq(
      (0L, base), (1L, base), (2L, base),  // clique across the split
      (3L, other), (4L, other),            // train-train pair: no leak
      (5L, "unrelated text about shuffle partitions and codegen stages"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.Pipelines.splitCheck(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.map(g => (g._1, g._2)) == Set((1L, 0L), (2L, 0L)))
    got.foreach(g => assert(g._3 == g._4 && g._3 > 0)) // exact clique: J = 1
  }

  test("p9: struct-max keeper equals the window argmax; keeper is a cluster member") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Pipelines.clusterSelect(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty, "fixture corpus must contain near-dup clusters")
    // reference: window row_number over the same clusters + n_words
    val clusters = graft.operators.Dedup.dupClusters(spark, Sf)
    val nw = Tables.documents(spark, Sf)
      .select(col("doc_id"), size(graft.functions.TextFns.words(col("text"))).cast("long").as("n_words"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("n_words").desc, col("doc_id").asc)
    val ref = clusters.join(nw, "doc_id")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("cluster_id"), col("cluster_size"), col("doc_id"), col("n_words"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (cid, (sz, keepId, keepW, dropped)) =>
      val (rsz, rid, rw) = ref(cid)
      assert(sz == rsz && keepId == rid && keepW == rw, s"cluster $cid")
      assert(dropped == sz - 1)
    }
    // every keeper belongs to its own cluster
    val members = clusters.collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    got.foreach { case (cid, (_, keepId, _, _)) => assert(members.contains((cid, keepId))) }
  }

  test("p12 soft-dedup: per-source mass reconciles with d8 clusters in the JVM") {
    val cl = graft.operators.Dedup.dupClusters(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.Caches.clear()
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val exp = docs.groupBy(_._2).map { case (src, ds) =>
      src -> ((ds.length.toLong,
        ds.count(d => cl.getOrElse(d._1, 1L) > 1L).toLong,
        ds.map(_._3).sum,
        ds.map(d => d._3 * (1000L / cl.getOrElse(d._1, 1L)) / 1000L).sum))
    }
    val got = Curation.softDedup(spark, Sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == exp)
    assert(got.values.exists(v => v._2 > 0), "fixture corpus must contain clusters")
    // down-weighting never increases mass
    got.values.foreach { case (_, _, raw, eff) => assert(eff <= raw) }
  }

  test("p11 epoch-mix equals the iterative redistribute-until-fixpoint water-filling") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 4) {
      val nSrc = 8 + rnd.nextInt(8)
      val counts = (0 until nSrc).map(i => (s"src$i", 1000L + rnd.nextInt(100000).toLong))
      val docs = counts.toDF("source", "n_chars")
      val got = Curation.epochMix(docs).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
            r.getLong(5), r.getLong(6)))).toMap
      // reference: a different algorithm — cap violators, redistribute
      // to the rest, repeat until no new source hits its cap (the
      // textbook iterative water-filling); comparisons cross-multiplied
      val E = 3L
      val cmap = counts.toMap
      val w = counts.map { case (s, _) => s -> ((s.drop(3).toLong % 5) + 1L) }.toMap
      val budget = 2L * counts.map(_._2).sum
      var capped = Set.empty[String]
      var changed = true
      while (changed) {
        val r = budget - capped.toSeq.map(s => E * cmap(s)).sum
        val wu = counts.collect { case (s, _) if !capped(s) => w(s) }.sum
        val add = counts.collect {
          case (s, c) if !capped(s) && wu > 0 && E * c * wu <= r * w(s) => s }
        changed = add.nonEmpty
        capped ++= add
      }
      val r = budget - capped.toSeq.map(s => E * cmap(s)).sum
      val wu = counts.collect { case (s, _) if !capped(s) => w(s) }.sum
      assert(got.keySet == counts.map(_._1).toSet, s"trial $trial")
      counts.foreach { case (s, c) =>
        val expAlloc = if (capped(s)) E * c else r * w(s) / wu
        val (nTok, ws, capTok, isCapped, alloc, pm) = got(s)
        assert(nTok == c && ws == w(s) && capTok == E * c, s"trial $trial $s stats")
        assert(isCapped == capped(s), s"trial $trial $s capped flag")
        assert(alloc == expAlloc, s"trial $trial $s alloc")
        assert(pm == alloc * 1000 / c, s"trial $trial $s pm")
      }
      // invariants: no allocation exceeds its cap, total stays within
      // budget (floor-division remainders are the only shortfall)
      assert(got.values.forall { case (_, _, cap, _, al, _) => al <= cap })
      assert(got.values.map(_._5).sum <= budget)
    }
  }

  test("p13 curriculum phases match a JVM fold and partition the corpus") {
    val k = 5
    val got = Curation.curriculumPhases(spark, Sf, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    val lens = Tables.documents(spark, Sf)
      .select(tokenCount(col("text")).cast("long")).collect().map(_.getLong(0))
    val n = lens.length.toLong
    // JVM fold: per-length counts ascending, phase = (cum_before*k) div n
    var cum = 0L
    val phased = lens.groupBy(identity).toSeq.sortBy(_._1).map { case (len, v) =>
      val p = cum * k / n; cum += v.size; (p, len, v.size.toLong)
    }
    val exp = phased.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, rs) =>
      p -> ((rs.map(_._3).sum, rs.map(r => r._2 * r._3).sum,
        rs.map(_._2).min, rs.map(_._2).max))
    }
    assert(got.toSeq == exp)
    // phases partition the corpus and are ordered by length bounds
    assert(got.map(_._2._1).sum == n)
    got.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(a._4 < b._3) // tok_max of phase p < tok_min of phase p+1
    case _ => () }
  }
}
