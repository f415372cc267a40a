package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.operators.{Dedup, Relational}

/** Physical-plan audits (SURVEY.md §6): pushdown, pruning, broadcast
  * choice and shuffle shape must survive refactors — these assert the
  * plan, not the result.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q73: WindowGroupLimit pre-truncates each map task below the exchange") {
    val p = formatted(Relational.q73GroupTopn(spark, Sf))
    // InferWindowGroupLimit must have fired with BOTH modes: a
    // Partial group-limit on the map side (below the window's
    // exchange) and the Final one above it — without the Partial, a
    // fixed-key window funnels whole partitions through single
    // reducers, the exact q9 anti-pattern. Two distinct TREE nodes
    // (not the node name re-printed in the details section) with an
    // Exchange between them, plus both mode arguments.
    val lines = p.split("\n")
    val isNode = (l: String) => l.matches(".*\\bWindowGroupLimit \\(\\d+\\).*")
    assert(lines.count(isNode) == 2, s"expected 2 WindowGroupLimit tree nodes:\n$p")
    val first = lines.indexWhere(isNode)
    val last = lines.lastIndexWhere(isNode)
    // tree prints top-down: Final first, then the Exchange, then the
    // map-side Partial below it
    assert(lines.slice(first + 1, last).exists(_.contains("Exchange")),
      s"no Exchange between the two WindowGroupLimit nodes:\n$p")
    assert(p.contains("Partial") && p.contains("Final"), p)
  }

  test("q77: the correlated LATERAL decorrelates — one window + one join, never per-row subqueries") {
    val (df, views) = Relational.q77Lazy(spark, Sf)
    try {
      // the correlated form survives analysis as LateralJoin …
      val analyzed = df.queryExecution.analyzed.toString
      assert(analyzed.contains("LateralJoin"), analyzed)
      // … and DecorrelateInnerQuery removes it: the optimized plan is
      // an ordinary equi-join fed by a windowed inner side — the
      // subquery runs ONCE, not |customer| times
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("LateralJoin"), optimized)
      assert(!optimized.contains("DomainJoin"), optimized)
      val exec = df.queryExecution.executedPlan.toString
      // the per-key LIMIT arrives as the q73 machinery: a
      // WindowGroupLimit truncating below the window, and the
      // correlation key joins hash-to-hash
      assert(exec.contains("WindowGroupLimit"), exec)
      assert(exec.contains("Join") || exec.contains("HashJoin"), exec)
    } finally views.foreach(spark.catalog.dropTempView)
  }

  test("q74: the recursion executes through UnionLoop, not a driver loop") {
    // the lazy variant: q74Hierarchy's scoped eager wrapper checkpoints
    // the census (a LogicalRDD), which would hide the recursion nodes
    val (df, view) = Relational.q74Lazy(spark, Sf)
    val p = try df.queryExecution.executedPlan.toString
      finally spark.catalog.dropTempView(view)
    // Spark's recursive-CTE engine nodes: frontier iteration inside
    // the executor DAG (a UnionLoop node consuming a UnionLoopRef
    // back-edge) — the recursion never materializes to the driver.
    // Counted as TREE NODES, not substrings ("UnionLoopRef" contains
    // "UnionLoop" — a bare contains() could pass on the ref alone,
    // the q73 lesson applied here): the node prints as
    // "UnionLoop <id>, [..." and the ref as "UnionLoopRef <id>, [...".
    val lines = p.split("\n")
    val loopIdx = lines.indexWhere(_.matches(""".*\bUnionLoop \d+,.*"""))
    val refIdx = lines.indexWhere(_.matches(""".*\bUnionLoopRef \d+,.*"""))
    assert(loopIdx >= 0, s"no UnionLoop tree node:\n$p")
    assert(refIdx >= 0, s"no UnionLoopRef tree node:\n$p")
    // the ref is the back-edge INSIDE the loop: it prints below it
    assert(refIdx > loopIdx, s"UnionLoopRef not under UnionLoop:\n$p")
  }

  test("q30: the partition-key filter pushes below the window to the scan") {
    val p = formatted(Relational.q30Sliding(spark, Sf))
    // filtering on the window PARTITION key is push-safe: frames never
    // cross partitions, so the predicate must reach the parquet scan
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_suppkey,20)"), p)
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!read.contains("l_extendedprice"), "projection must prune unused columns")
  }

  test("q6: every predicate reaches the parquet scan; schema pruned to 4 columns") {
    val p = formatted(Relational.q6Filter(spark, Sf))
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(read.split(",").length == 4, read)
    assert(!read.contains("l_orderkey"), "projection must prune unused columns")
  }

  test("q1: scan reads only the 7 needed lineitem columns") {
    val p = formatted(Relational.q1Agg(spark, Sf))
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(read.split(",").length == 7, read)
  }

  test("q2/q5: dimension joins broadcast, no shuffle of the small side") {
    assert(formatted(Relational.q2Topk(spark, Sf)).contains("BroadcastHashJoin"))
    val q5 = formatted(Relational.q5Multijoin(spark, Sf))
    assert(q5.contains("BroadcastHashJoin"))
    assert(!q5.contains("CartesianProduct"))
  }

  test("q2/q3/q18: sf-proportional sides carry no broadcast hint") {
    // With auto-broadcast off, the ONLY way a broadcast can appear in
    // these plans is a hard-coded hint — which would OOM at 100×
    // scale (customer and per-partkey aggregates grow with sf). The
    // broadcasts PlanSpec sees under default conf come from stats/AQE.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (df <- Seq(Relational.q2Topk(spark, Sf), Relational.q3Join(spark, Sf),
          Relational.q18Correlated(spark, Sf))) {
        val p = formatted(df)
        assert(!p.contains("Broadcast"), p)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH candidate joins are equi-joins, never cartesian") {
    val d2 = formatted(Dedup.minhashLsh(spark, Sf))
    assert(!d2.contains("CartesianProduct") && !d2.contains("BroadcastNestedLoopJoin"))
    val d3 = formatted(Dedup.simhashPairs(spark, Sf))
    assert(!d3.contains("CartesianProduct") && !d3.contains("BroadcastNestedLoopJoin"))
  }

  test("d5: block-pair self-join is a shuffled equi-join, never a nested loop") {
    val d5 = formatted(Dedup.embedNearDup(spark, Sf))
    assert(!d5.contains("CartesianProduct") && !d5.contains("BroadcastNestedLoopJoin"), d5)
  }

  test("q9/t5 rank through bounded-heap aggregates, not full-table windows") {
    // a fixed-key window (25 nations / 5 languages) would funnel the
    // whole table through a handful of reducers; the heap aggregate
    // must appear and any window must run AFTER it (over ≤k-row groups)
    val q9 = formatted(Relational.q9Window(spark, Sf))
    assert(q9.contains("top_k_cosine"), q9)
    val t5 = formatted(graft.operators.TextAnalysis.topTerms(spark, Sf))
    assert(t5.contains("top_k_labeled"), t5)
    assert(!t5.contains("Window"), t5)
  }

  test("d6: repeated-span stages are equi-joins and aggregations, never cartesian") {
    val d6 = formatted(graft.operators.Curation.repeatedSpans(spark, Sf))
    assert(!d6.contains("CartesianProduct") && !d6.contains("BroadcastNestedLoopJoin"), d6)
  }

  test("q67: lineitem pre-aggregates to order grain before the orders join") {
    // the cached lost frame hides the shape inside an InMemoryRelation,
    // whose physical plan the optimizedPlan string inlines: the
    // order-grain HashAggregate(keys=[l_orderkey…]) must sit BELOW
    // (print after) the orders join that consumes it — the shuffle
    // into that join then carries one row per returned ORDER, not one
    // per returned line
    val s = Relational.q67ReturnedTopK(spark, Sf).queryExecution.optimizedPlan.toString
    val iJoin = s.indexOf("Join [l_orderkey")
    val iJoinB = s.indexOf("BroadcastHashJoin [l_orderkey")
    val join = if (iJoin >= 0) iJoin else iJoinB
    val iAgg = s.indexOf("HashAggregate(keys=[l_orderkey")
    assert(iAgg >= 0, s"no order-grain aggregate in:\n$s")
    assert(join >= 0 && iAgg > join, s"aggregate not below the orders join:\n$s")
    graft.Caches.clear()
  }

  test("q69: the salted skew path fires — join keys carry _salt, fact never broadcasts") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = formatted(Relational.q69SkewJoin(spark, Sf))
      // the equi-join must key on (sk, _salt) — the hot key's rows
      // spread over salt reducers instead of one (formatted mode puts
      // join keys in the details section's "keys" lines)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      val keyLine = p.linesIterator.find(l =>
        l.contains("keys") && l.contains("_salt")).getOrElse("")
      assert(keyLine.contains("sk#") && keyLine.contains("_salt"),
        s"no (sk, _salt) join keys in:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q29: unpivot lowers to an in-place Expand, no extra shuffle or join") {
    val p = formatted(Relational.q29Unpivot(spark, Sf))
    assert(p.contains("Expand"))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"))
    // exactly the agg's exchange plus the final sort — melting adds
    // none (count tree nodes only; the details section repeats names)
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 2, s"unexpected exchanges:\n$p")
  }

  test("t6: the corpus-count side is broadcast, term joins are equi-joins") {
    val p = formatted(graft.operators.TextAnalysis.tfidfTerms(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("g11: the region IN-list prunes partitions at listing time") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val fixture = graft.geo.Fixtures.ensureTiledSink(spark, Sf)
    val keys = graft.geo.Geo.regionKeys(graft.geo.Fixtures.TiledLimit, 23, 80, -25, 49)
    // the full query's scan must carry the IN-list as a PARTITION
    // filter (directory-level), not a data filter (row-level)
    val p = formatted(graft.geo.GeoQueries.tiledRegionQuery(spark, Sf))
    val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters")).get
    assert(pf.contains("tile_key") && (pf.contains(" INSET ") || pf.contains(" IN ")), pf)
    // metric-level proof on the bare scan (no AQE wrapper): the scan
    // must open only the region's directories, not the world's
    val scanDf = spark.read.parquet(fixture).filter(col("tile_key").isin(keys: _*))
    scanDf.collect()
    val scan = scanDf.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    val readPartitions = scan.metrics("numPartitions").value
    val total = spark.read.parquet(fixture).select("tile_key").distinct().count()
    assert(readPartitions > 0 && readPartitions < total,
      s"read $readPartitions of $total partitions")
  }

  test("q75: join-driven dynamic pruning reads a strict subset of fact partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = Relational.q75Dpp(spark, Sf)
    // plan half: the fact scan carries a dynamicpruning PARTITION
    // filter (directory-level, fed by the broadcast build side) —
    // without it the scan lists every month and filters rows later
    val p = formatted(df)
    val pf = p.linesIterator.filter(_.trim.startsWith("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("dynamicpruning") && l.contains("o_month")),
      s"no dynamic pruning partition filter:\n$p")
    // metric half: execute and read the fact scan's partition count —
    // quarter-1 months are ~1/4 of the fixture's directories. AQE off
    // for THIS execution only: under AQE the scan hides inside query
    // stages that tree-collect cannot traverse; DPP is an optimizer
    // feature and fires identically without it
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val (scans, read) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df2 = Relational.q75Dpp(spark, Sf)
      df2.collect()
      val ss = df2.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
      val fact = ss.find(_.metadata.get("Location").exists(_.contains("ordpart")))
        .getOrElse(fail(s"no partitioned fact scan: ${ss.map(_.metadata.get("Location"))}"))
      (ss, fact.metrics("numPartitions").value)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val total = spark.read.parquet(
      graft.geo.Fixtures.fixtureRoot("ordpart", Sf).toString + "/data")
      .select("o_month").distinct().count()
    assert(read > 0 && read <= total / 3,
      s"dynamic pruning read $read of $total partitions")
  }

  test("q76: the runtime bloom filter prunes fact rows below the exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    // the query's own conf scope (bloom rule gate lowered to fixture
    // scale, dim forced past broadcast — the non-broadcastable-dim
    // posture this operator exists for); AQE off for the metric walk
    // only, as in the q75 test
    Relational.withConfs(spark, Relational.q76Confs :+
        ("spark.sql.adaptive.enabled" -> "false")) {
      val df = Relational.q76Frame(spark, Sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val p = plan.toString
      // plan half: InjectRuntimeFilter planted the bloom probe on the
      // fact side (a scalar-subquery BloomFilterAggregate feeding
      // might_contain above the lineitem scan)
      assert(p.contains("might_contain"), s"no runtime bloom filter:\n$p")
      val filt = plan.collect {
        case f: FilterExec if f.condition.toString.contains("might_contain") => f
      }
      assert(filt.nonEmpty, s"no bloom FilterExec:\n$p")
      // metric half: rows die at the filter, BEFORE the join exchange —
      // the dim predicate keeps ~1/15 of orders, so even with bloom
      // false positives the filter output must be well under the scan
      val factScan = plan.collect {
        case s: FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("lineitem")) => s
      }
      assert(factScan.nonEmpty, s"no lineitem scan:\n$p")
      val scanned = factScan.map(_.metrics("numOutputRows").value).max
      val kept = filt.map(_.metrics("numOutputRows").value).min
      assert(scanned > 0 && kept < scanned / 2,
        s"bloom filter pruned nothing: kept $kept of $scanned scanned rows")
    }
  }

  test("d11: frequency-pass shuffle is skinny — no line text through the hot-count exchange") {
    val df = Dedup.lineDedup(spark, Sf)
    val p = formatted(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the formatted details list each Exchange's Input columns; the
    // hot-count side must shuffle only (hash, doc_id) — the line text
    // may ride an exchange ONLY on the strip-join/reconstruct path
    // (where it is the payload being deduplicated)
    val blocks = p.split(raw"\n\n").toSeq
    val exchanges = blocks.filter(b => b.contains("Exchange") && b.contains("Input"))
    assert(exchanges.nonEmpty, p)
    // the distinct-count partial groups by (md5(line), doc_id); its
    // exchange must carry the grouping hash + doc_id ONLY — Catalyst
    // names the unaliased md5 key `_groupingexpression`
    val skinny = exchanges.exists { b =>
      b.contains("_groupingexpression") && !b.contains("line#")
    }
    assert(skinny, "no skinny frequency exchange found:\n" + p)
    // the hot set reaches the strip join as a broadcast, so line text
    // crosses an exchange only in the per-doc reconstruct aggregate
    assert(p.contains("BroadcastHashJoin LeftOuter"), p)
  }

  test("asof join: custom sort-merge, one sort per side, no window/union") {
    val p = formatted(Relational.q14AsofJoin(spark, Sf))
    assert(p.contains("AsofMergeJoin"), p)
    assert(!p.contains("Window") && !p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly 3 sorts: one per merge side + the final presentation
    // orderBy(event_id)
    assert(p.linesIterator.count(_.matches(raw".*\(\d+\) Sort.*")) == 3, p)
  }

  test("t11: classifier scoring is a pure projection — only the final sort exchanges") {
    val p = formatted(graft.operators.TextAnalysis.qualityModel(spark, Sf))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 1, s"scoring must not shuffle:\n$p")
  }

  test("p7: the bucket score table broadcasts; no window funnels the selection") {
    val p = formatted(graft.operators.Curation.dsirSelect(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g17: the pyramid build folds in place — no exchange before the final sort") {
    val p = formatted(graft.geo.GeoQueries.overviews(spark, Sf))
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 1, s"pyramid must build inside the tile split:\n$p")
  }

  test("q34: funnel stages are aggregates + equi-joins, no per-user history window") {
    val p = formatted(Relational.q34Funnel(spark, Sf))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q37: retention cells count without a countDistinct expand") {
    val p = formatted(Relational.q37Retention(spark, Sf))
    // distinct (user, week) pairs make count(*) ≡ distinct users —
    // an Expand node would mean the expensive two-phase distinct crept in
    assert(!p.contains("Expand"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q48: no global-order window, no percentile expression — ranks ride the sharded prefix") {
    val p = formatted(Relational.q48TableStats(spark, Sf))
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty, p)
    // every window carries the column-name partition key (the shard
    // window adds the shard key on top) — never an empty partitionBy
    // over the full distinct-value frame
    assert(winSpecs.forall(_.contains("col_name#")), s"expected col_name-partitioned windows:\n$p")
    assert(!p.toLowerCase.contains("percentile"), p)
  }

  test("t16: the bigram exchange carries 8-byte hashes, never bigram strings") {
    val p = formatted(graft.operators.TextAnalysis.bigramCoverage(spark, Sf))
    // the count group-by and the join-back key on xxhash64(g); the
    // string column g must be projected away before any Exchange
    val exchanges = p.linesIterator.zipWithIndex.filter(_._1.contains("Exchange")).map(_._2)
    assert(exchanges.nonEmpty, p)
    assert(p.contains("xxhash64"), p)
    val lines = p.linesIterator.toVector
    exchanges.foreach { i =>
      assert(!lines(i).contains(" g#"), s"bigram string crosses an exchange:\n${lines(i)}")
    }
  }

  test("q36/g21: sharded prefixes keep every window partition bounded (no empty partitionBy)") {
    for (df <- Seq(Relational.q36Concurrency(spark, Sf),
        graft.geo.GeoQueries.compactionPlan(spark, Sf))) {
      val p = formatted(df)
      // the corpus-sized window must carry a shard partition key; the
      // only unpartitioned window is the skinny per-shard offset frame
      val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(winSpecs.nonEmpty, p)
      assert(winSpecs.exists(_.contains("shard#")), s"expected a shard-partitioned window:\n$p")
    }
  }

  test("s7: neither side of the kNN bucket join broadcasts; join is an equi-join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = formatted(graft.operators.Ann.knnJoin(spark, Sf))
      // both sides are corpus-sized: a hard-coded broadcast would OOM
      // at scale, so with auto-broadcast off none may appear
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t13: the heavy-hitter vocab side broadcasts even with auto-broadcast off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = formatted(graft.operators.TextAnalysis.oovRate(spark, Sf))
      // the vocab frame is aggregate-bounded (≤ phiInv rows) and
      // explicitly hinted — it must ride a broadcast join, never
      // shuffle the token explode against it
      assert(p.contains("BroadcastHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("p9: no window over cluster partitions — the keeper argmax is an aggregate") {
    val p = formatted(graft.operators.Pipelines.clusterSelect(spark, Sf))
    // dupClusters itself carries one window (cluster_size); the p9
    // keeper selection must NOT add a row_number window on top
    assert(!p.contains("row_number"), p)
  }

  test("runtime filters: DPP prunes the tiled sink through a join; bloom filter reaches the fact side") {
    import org.apache.spark.sql.functions._
    // Dynamic partition pruning: querying the partitionBy(tile_key)
    // sink through a join against a FILTERED dim must insert a
    // dynamicpruning subquery on the partition column — the
    // join-driven complement of g11's static IN-list pruning, and at
    // 100 TB the difference between scanning 3 directories and all of
    // them when the tile list comes from another table.
    val dir = scratchDir("graft_dpp")
    val tiles = graft.geo.Geo.tiles(spark, Sf).limit(200).cache()
    graft.geo.Geo.writeTiled(
      tiles.select(col("tile_key"), col("tile_id"), col("size_bytes")), dir)
    val fact = spark.read.parquet(dir)
    val dim = tiles.filter(col("tile_id") < 10).select(col("tile_key"), col("tile_id"))
    val joined = fact.join(dim, Seq("tile_key"))
      .groupBy(col("tile_key")).agg(sum(col("size_bytes")).as("s"))
    val p = formatted(joined)
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      s"expected dynamic partition pruning:\n$p")
    // Runtime bloom-filter join reduction on an unpartitioned fact
    // join: with the feature forced on, the optimizer should inject a
    // might_contain runtime filter on the fact's join key
    val prevB = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val prevT = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // broadcast joins get no runtime filter (it would be pointless);
    // force the shuffle join a 100 TB fact-fact join would use
    val prevA = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, Sf)
      val sel = Tables.orders(spark, Sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
        .select(col("o_orderkey"))
      val q = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
      val bp = formatted(q)
      assert(bp.contains("might_contain") || bp.contains("bloom"),
        s"expected a runtime bloom filter on the fact side:\n$bp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevA)
      prevB.fold(spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled"))(
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", _))
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      prevT.fold(spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"))(
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", _))
    }
  }

  test("m7/m8: zero-shuffle per-payload operators — only the final sort exchanges") {
    for (df <- Seq(graft.operators.Multimodal.sceneCuts(spark, Sf),
        graft.operators.Audio.vadSegments(spark, Sf))) {
      val p = formatted(df)
      assert(!p.contains("Join") && !p.contains("Window"), p)
      // exactly two exchanges are legitimate: the deliberate
      // round-robin that spreads the CPU-bound codec over tasks
      // (the local corpus is one split) and the final sort — nothing
      // may shuffle BETWEEN decode and output
      val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
      assert(exchanges <= 2, s"decode pipeline must stay narrow:\n$p")
      assert(p.contains("RoundRobinPartitioning"), p)
    }
  }

  test("g7 and the TIFF ingest parse tile keys in codegen, with no regex above the pixel explode") {
    import org.apache.spark.sql.catalyst.expressions.RegExpExtract
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{RasterExprs, TileDegree}
    import graft.geo.{Fixtures, Geo}
    // the aw3d30 TIFF ETL shape: binaryFile -> tiff_decode -> explode,
    // the tile origin parsed from the key once per pixel
    val tiff = spark.read.format("binaryFile").option("pathGlobFilter", "*.tif")
      .load(Fixtures.ensureTiffsDeflate(spark, Sf))
      .select(regexp_extract(col("path"), Geo.TilePattern, 0).as("tile_key"),
        RasterExprs.tiff_decode(col("content")).as("r"))
      .select(col("tile_key"), col("r.width").as("w"), col("r.height").as("h"),
        explode(col("r.points")).as("p"))
      .select((Geo.parseLat(col("tile_key")) + lit(1) - col("p.y") / col("h")).as("lat"),
        (Geo.parseLon(col("tile_key")) + col("p.x") / col("w")).as("lon"),
        col("p.elevation").as("elevation"), col("tile_key"))
      .repartition(col("tile_key"))
    // each physical node, and whether it runs inside a codegen stage
    def staged(p: SparkPlan, in: Boolean): Seq[(SparkPlan, Boolean)] = {
      val here = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => in
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      (p, here) +: kids.flatMap(staged(_, here))
    }
    for ((name, df) <- Seq("g7_raster_ingest" -> SparkEntry.queries("g7_raster_ingest")(spark, Sf),
        "tiff ingest" -> tiff)) {
      val opt = df.queryExecution.optimizedPlan
      def aboveGenerate(n: LogicalPlan) = n.children.exists(_.exists(_.isInstanceOf[Generate]))
      val regex = opt.collect {
        case n if aboveGenerate(n) && n.expressions.exists(_.exists(_.isInstanceOf[RegExpExtract])) => n
      }
      assert(regex.isEmpty, s"$name: regexp_extract above the explode:\n$opt")
      // run the frame's own plan, so AQE's final stages are codegen'd
      df.queryExecution.toRdd.count()
      val parses = staged(df.queryExecution.executedPlan, in = false).filter { case (p, _) =>
        p.expressions.exists(_.exists(_.isInstanceOf[TileDegree])) }
      assert(parses.nonEmpty && parses.forall(_._2),
        s"$name: tile-key parse outside whole-stage codegen:\n${df.queryExecution.executedPlan}")
    }
  }

  // --- suite-wide plan hygiene gate (r8 VERDICT #6) ------------------

  /** Hygiene findings for one frame: cartesian product, broadcast
    * nested-loop join, nondeterministic expressions anywhere in the
    * analyzed plan. Shared by the suite sweep and the gate-fires test.
    */
  private def planFindings(df: DataFrame): Seq[String] = {
    val phys = df.queryExecution.executedPlan.toString
    val cart = if (phys.contains("CartesianProduct")) Seq("CartesianProduct") else Nil
    val bnlj = if (phys.contains("BroadcastNestedLoopJoin"))
      Seq("BroadcastNestedLoopJoin") else Nil
    var nondet = List.empty[String]
    df.queryExecution.analyzed.foreach { pl =>
      pl.expressions.foreach(_.foreach { e =>
        if (!e.deterministic) nondet ::= e.prettyName })
    }
    cart ++ bnlj ++ nondet.distinct.map("nondeterministic:" + _)
  }

  test("suite-wide hygiene: every driver query plans shuffle-safe and deterministic") {
    // BNLJ is allowed ONLY for declared tiny-broadcast shapes: a
    // ≤20-row query/entry frame broadcast against the corpus under an
    // inequality condition (the s1 pattern — the broadcast side is
    // constant-sized at any corpus scale, so the NLJ is O(corpus·20)).
    // CartesianProduct is never allowed; nondeterministic expressions
    // are never allowed (re-execution under task retry must reproduce
    // identical output everywhere).
    val bnljAllowed: Map[String, String] = Map(
      "s1_ann_bruteforce"  -> "broadcast 20-query frame x corpus, =!= condition",
      "s2_ann_lsh"         -> "broadcast 20-query frame x corpus sketch prefilter",
      "s4_ann_pq"          -> "broadcast 20-query frame x codes scan",
      "s8_ann_graph"       -> "broadcast 20-query frame x entries/frontier hops",
      "s9_mips_bruteforce" -> "broadcast 20-query frame x corpus, =!= condition",
      "s10_range_search"   -> "broadcast 20-query frame x corpus, =!= condition",
      "s11_knn_classify"   -> "rides s1's broadcast 20-query frame x corpus",
      "m9_visual_search"   -> "broadcast 20-query signature frame x corpus",
      "t6_tfidf"           -> "crossJoin(broadcast(1-row corpus count))",
      "q19_setops"         -> "crossJoin(broadcast(1-row universe stats))",
      "q26_dq_audit"       -> "crossJoin(broadcast(1-row audit totals))",
      "q58_growth_accounting" -> "crossJoin(broadcast(1-row max-month horizon))",
      "q51_sketch_overlap" -> "segment-sized sketch frame self-join on <",
      "p4_pps_sample"      -> "crossJoin(broadcast(1-row corpus total))",
      "p5_temperature_mix" -> "crossJoin(broadcast(sources-sized totals))",
      "p11_epoch_mix"      -> "crossJoin(broadcast(1-row budget totals))",
      "q61_benford"        -> "crossJoin(broadcast(1-row corpus total))",
      "q62_basket"         -> "crossJoin(broadcast(1-row basket total))",
      "t21_burstiness"     -> "crossJoin(broadcast(1-row n_docs total))",
      "q63_global_customers" -> "crossJoin(broadcast(1-row global-average scalar))",
      "s13_hybrid_rrf"     -> "broadcast 20-query frames x corpus, =!= condition (lex + s1 vec lists)",
      "q72_pagerank"       -> "crossJoin(broadcast(1-row host count))",
      "t23_zipf"           -> "crossJoin(broadcast(1-row rank-1 cf))",
      "s15_recall_audit"   -> "rides s1/s2/s8's broadcast 20-query frames x corpus",
      "s14_cos_calibration" -> "declared bounded panel x panel block (md5-bucket sample, < condition)")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val fs = planFindings(fn(spark, Sf))
          .filterNot(f => f == "BroadcastNestedLoopJoin" && bnljAllowed.contains(name))
        if (fs.nonEmpty) failures += s"$name: ${fs.mkString(", ")}"
      } catch {
        case e: Exception => failures += s"$name: construction failed: ${e.getMessage}"
      } finally graft.Caches.clear()
    }
    assert(failures.isEmpty, "plan hygiene violations:\n" + failures.mkString("\n"))
  }

  test("the hygiene gate actually fires on a broken plan") {
    import org.apache.spark.sql.functions._
    // both sides must exceed the broadcast threshold or Spark plans a
    // (benign) broadcast NLJ instead of a true cartesian
    val a = spark.range(5000000L).toDF("x")
    val b = spark.range(5000000L).toDF("y")
    val cart = a.crossJoin(b) // deliberate cartesian
    assert(planFindings(cart).contains("CartesianProduct"))
    val nd = a.withColumn("r", rand(7))
    assert(planFindings(nd).exists(_.startsWith("nondeterministic:")))
  }

  test("a laid-out cache satisfies a self-join's distribution and ordering only once materialized") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the Dedup banded-cache shape: repartition(k).sortWithinPartitions(k),
    // cached, then self-joined on k (merge hint: the frame is small
    // enough to broadcast, the band cache never is)
    val laid = spark.range(0, 100000)
      .select(col("id"), pmod(col("id"), lit(977)).as("k"))
      .repartition(col("k")).sortWithinPartitions("k")
      .cache()
    // shuffles and sorts the join's planner added ABOVE the two
    // InMemoryTableScans (the cache's own plan is not a child)
    def added(): (Int, Int) = {
      val j = laid.as("x").join(laid.as("y").hint("merge"),
        col("x.k") === col("y.k") && col("x.id") < col("y.id"))
      val root: SparkPlan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (root.collect { case e: ShuffleExchangeExec => e }.size,
        root.collect { case s: SortExec => s }.size)
    }
    // the session default, under which Dedup's eager counts are needed
    // (with it set true, even a materialized cache re-exchanges)
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false")
    try {
      // cold: the cached AdaptiveSparkPlan has not run, reports
      // UnknownPartitioning, and each side is re-shuffled and re-sorted
      assert(added() == ((2, 2)))
      laid.count()
      // materialized: the cache's hash partitioning and per-partition
      // order satisfy the sort-merge join as they are
      assert(added() == ((0, 0)))
    } finally laid.unpersist(blocking = true)
  }
}
