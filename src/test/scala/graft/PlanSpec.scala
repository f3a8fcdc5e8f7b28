package graft

import org.apache.spark.sql.functions._

/** Plan-quality assertions: the optimizations SURVEY §4 promises must be
  * visible in the physical plan, not just hoped for. */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = run(name)
    df.collect() // execute THIS plan so AQE finalizes it
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_shipdate.*"))
  }

  test("q1: column pruning — scan reads only the 7 needed lineitem columns") {
    val plan = executedPlan("q1_pricing_summary")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"))
  }

  test("q5: all three dimension joins are broadcast") {
    val plan = executedPlan("q5_nation_revenue")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins, plan:\n$plan")
  }

  test("j6: file-index lookup stays a broadcast join (no shuffle of tiles)") {
    val plan = executedPlan("j6_file_lookup")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("j4 relate: DE-9IM expands to comparisons — broadcast join, no UDF") {
    // the 100x plan: the per-version coverage side is tiny and broadcast;
    // the (at scale, huge) feature side never shuffles, and the whole
    // predicate is plain comparisons inside codegen — both for the
    // Column API and the SQL-function expansion
    for (q <- Seq("j4_relate_coverage", "v2_sql_relate")) {
      val plan = executedPlan(q)
      // coverage side (2 rows after its own tiny agg) is the broadcast
      // build side (Right under the DataFrame order, Left under the SQL
      // FROM order); the feature side streams through without an exchange
      assert(plan.contains("BroadcastNestedLoopJoin BuildRight") ||
             plan.contains("BroadcastNestedLoopJoin BuildLeft"), s"$q:\n$plan")
      assert(!plan.toLowerCase.contains("scalaudf"), s"$q:\n$plan")
      // the DE-9IM pattern is gone — expanded to plain comparisons
      assert(plan.contains("least(") && plan.contains("greatest("), s"$q:\n$plan")
      assert(!plan.contains("212101212"), s"$q:\n$plan")
    }
  }

  test("q1: aggregation happens inside whole-stage codegen") {
    val plan = executedPlan("q1_pricing_summary")
    assert(plan.contains("*(1)")) // whole-stage-codegen span markers
    assert(plan.contains("partial_sum")) // map-side partial aggregation
  }

  test("j10: binned spatial join plans as an equi-join, not a nested loop") {
    val plan = executedPlan("j10_binned_spatial_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("dedup/ANN family: every pair-generating plan is equi-join only — no nested loops") {
    // the 100 TB contract of SCALE.md: candidate generation is ALWAYS a
    // hash/sort-merge equi-join on a bucket/band/chunk key, never a
    // cartesian or broadcast-nested-loop pair enumeration
    for (q <- Seq("dd2_minhash_lsh", "dd3_jaccard_pairs", "dd5_simhash_pairs",
        "dd6_dedup_filter", "dd7_minhash_dfcap", "nn3_bucket_neardup",
        "nn7_embed_dedup_filter")) {
      val plan = executedPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join:\n$plan")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin") ||
        plan.contains("InMemoryTableScan"), s"$q: no equi-join found:\n$plan")
    }
  }

  test("w7: binned range join plans as an equi-join on the time cell — no nested loop") {
    val plan = executedPlan("w7_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"w7: no equi-join found:\n$plan")
  }

  test("pp3: centroid assignment broadcasts the O(nlists) quantizer side") {
    val plan = executedPlan("pp3_embed_pipeline")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroids should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("runtime bloom filter prunes the fat side of a selective fact-fact shuffle join") {
    // at 100 TB a selective dimension-side predicate should reach the
    // fact scan as a runtime bloom filter (Spark's InjectRuntimeFilter),
    // cutting the fact shuffle to candidate rows; thresholds here only
    // unlock the optimization at fixture scale
    val conf = spark.conf
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = spark.read.parquet(s"$Sf/lineitem.parquet")
      val o = spark.read.parquet(s"$Sf/orders.parquet")
        .filter(col("o_totalprice") > 400000)
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$plan")
    } finally {
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("nn6: the query batch is the broadcast side; corpus side never shuffles for the join") {
    val plan = executedPlan("nn6_batch_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch should broadcast:\n$plan")
    // ranking shuffles on qid only — no shuffle of the corpus for the join itself
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ds4: two-phase top-K shuffles on the salted (lang, partition) key first") {
    val df = run("ds4_lang_rebalance")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // phase 1 partitions by (lang, SPARK_PARTITION_ID) — the well-spread
    // key; phase 2 by lang over the pre-capped survivors only
    assert(plan.contains("SPARK_PARTITION_ID"), s"missing salted pre-rank:\n$plan")
    // the pre-rank exchange carries (lang, <salt>) — a 2-key partitioning
    // (the salt surfaces as a projected attr like _w0) — while the final
    // rank exchanges on lang alone over the pre-capped survivors
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.exists(_.matches(".*hashpartitioning\\(lang#\\d+, [^,)]+, \\d+\\).*")),
      exchanges.mkString("\n"))
  }

  test("per-tile read of a tile-partitioned layout prunes to one partition") {
    val out = graft.model.Fs.scratch("prune", Sf)
    graft.sources.Tables.features(spark, Sf)
      .select("o_orderkey", "tile_id")
      .write.mode("overwrite").partitionBy("tile_id").parquet(out)
    val one = spark.read.parquet(out).filter(col("tile_id") === "t1_1")
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    // the reference creates one PG view per tile for this
    // (tileconfig.py:680-747); here it is partition pruning on the scan
    assert(plan.contains("PartitionFilters") && plan.contains("t1_1"))
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("tile_id"))
  }

  test("bucketed co-located join runs without a shuffle exchange") {
    Seq("li_bucketed", "o_bucketed").foreach(graft.sources.Tables.dropManaged(spark, _))
    val sf = spark.read.parquet(s"$Sf/lineitem.parquet")
    sf.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    spark.read.parquet(s"$Sf/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // co-located SMJ: no exchange on either join key (the only allowed
      // shuffle is the one for the final groupBy)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
             !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected shuffle on bucketed join keys:\n$plan")
      assert(plan.contains("Bucketed: true"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("g6: per-iteration PageRank exchanges never touch the bucketed edge side") {
    import graft.operators.GraphOps
    import spark.implicits._
    val edges = GraphOps.bucketedTradeEdges(spark, Sf)
    // a synthetic 2-node frontier: the pr side of one power-iteration
    // step, deliberately NOT derived from the edge table so the plan has
    // exactly one consumer of the bucketed scan
    val pr = Seq((2L, GraphOps.Mass), (4L, GraphOps.Mass)).toDF("node", "pr")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val step = GraphOps.pagerankStep(edges, pr)
      step.collect()
      // AQE's toString repeats the plan under "== Initial Plan ==" —
      // count only the final plan
      val plan = step.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), s"edge scan not bucketed:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // exactly two shuffles per iteration: the frontier into the edge
      // layout (rank-relation-sized) and the groupBy(dst) share
      // aggregation — an edge-side exchange would make it three
      val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(nEx == 2, s"expected 2 exchanges (frontier-in, agg-out), got $nEx:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("s8: DSv2 tiledir — tile_id pushdown prunes files at planning time") {
    import graft.operators.SourceSinkOps
    graft.sources.v2.TileDirSource.writeFixture(SourceSinkOps.TileDirPath)
    val scan = spark.read.format("graft.sources.v2.TileDirSource")
      .load(SourceSinkOps.TileDirPath)
      .filter(col("tile_id").isin("t1_1", "t2_2", "t3_0"))
      .select("tile_id", "z")
    // 3 of 16 files survive → 3 input partitions, no post-scan filter work
    assert(scan.rdd.getNumPartitions == 3)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTileFilters=[In(tile_id"), plan)
    assert(plan.contains("files=3/16"), plan)
  }

  // AQE plan strings repeat the tree under "== Initial Plan ==" — node
  // counts must look at the final tree only.
  private def finalPlan(name: String): String =
    executedPlan(name).split("== Initial Plan ==")(0)

  test("a15: grouping sets are one Expand over one scan, not one scan per set") {
    val plan = finalPlan("a15_grouping_sets")
    assert("Expand".r.findAllIn(plan).size == 1, plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("tx9: top-k is a TakeOrdered over partials and the df side broadcasts") {
    val plan = executedPlan("tx9_tfidf")
    // no global sort for a LIMIT-10 ranking
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the O(|terms|) document-frequency relation joins broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("k12: upsert-merge is windowed union — never a full-outer join") {
    val plan = executedPlan("k12_upsert_merge")
    assert(!plan.contains("FullOuter"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("w9: the frame aggregate costs exactly one exchange (the partition key)") {
    val plan = finalPlan("w9_moving_avg")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("w11: the sweep is two-level — bucketed local window + broadcast offsets") {
    // the running sum must partition on (prio, bkt), never prio alone
    // (cardinality 5 = 5 reducers at 100 TB), and the per-bucket offset
    // relation must come back via broadcast, not a shuffle join
    val plan = executedPlan("w11_peak_concurrency")
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.exists(l => l.contains("prio") && l.contains("bkt")),
      s"local window must partition on (prio, bkt):\n${winLines.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("tx12: the zipf profile joins nothing — lang rides the explode") {
    val plan = executedPlan("tx12_zipf_topshare")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("w12: the tolerance as-of is join-free — two exchanges (click dedup + the window key)") {
    val plan = finalPlan("w12_asof_tolerance")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("nn12: multi-probe candidates come from a broadcast equi-join; corpus never shuffles to join") {
    val plan = executedPlan("nn12_multiprobe_ann")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only nested-loop is the 4-query × 9-mask probe expansion —
    // never the corpus-side candidate search
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("mask")), plan)
  }

  test("dd10: the cross-source gate aggregates map-side before the fingerprint shuffle") {
    val plan = executedPlan("dd10_cross_source_dup")
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("nn8: Lloyd assignment broadcasts the seeds; mean recompute is partial-agged") {
    val plan = executedPlan("nn8_kmeans_step")
    assert(plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("partial_avg") || plan.contains("partial_average"), plan)
  }

  test("ds7: the contamination probe is a semi-join — no test×train pair relation") {
    val plan = finalPlan("ds7_decontaminate")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("ds8: the packing window is partitioned by shard, never global") {
    val plan = finalPlan("ds8_sequence_pack")
    assert(plan.contains("windowspecdefinition(shard"), plan)
  }

  test("tx11: the vocabulary cut is a TakeOrdered BEFORE the running-sum window") {
    val plan = finalPlan("tx11_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the window input is the 50-row cut, so its spec carries no
    // partition columns — acceptable ONLY because of the preceding cut
    assert(plan.indexOf("TakeOrderedAndProject") > plan.indexOf("Window"), plan)
    // plan prints leaves last: TakeOrdered must sit BELOW the window
  }

  test("mm7: signature bucketing partial-aggregates map-side") {
    val plan = finalPlan("mm7_phash_neardup")
    assert(plan.contains("partial_count"), plan)
  }

  test("q8: every dimension side broadcasts; only the fact-fact join shuffles") {
    val plan = finalPlan("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 6, plan)
    // the lone non-broadcast join is lineitem⋈orders on the order key
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size <= 1, plan)
  }

  test("q9: the LIKE-filtered part gate and both nation-chain dims broadcast") {
    val plan = finalPlan("q9_product_profit")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size <= 1, plan)
  }

  test("q13: zero-order customers survive — the outer join is not demoted to inner") {
    val plan = finalPlan("q13_order_distribution")
    assert(plan.contains("LeftOuter"), plan)
  }

  test("q16: count distinct is two-phase partial aggregation, no global sort") {
    val plan = finalPlan("q16_part_suppliers")
    assert(plan.contains("partial_count(distinct") ||
           "HashAggregate".r.findAllIn(plan).size >= 3, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q19: the disjunctive mixed-side predicate keeps the equi hash join") {
    val plan = finalPlan("q19_disjunctive_revenue")
    // Catalyst must extract l_partkey = p_partkey as the hash key and
    // carry the 3-way OR as a join filter — never a nested loop
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"), plan)
  }

  test("q15: the scalar-max branch reuses the revenue aggregation's exchange") {
    val plan = executedPlan("q15_top_supplier")
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      plan)
  }

  test("q22: idleness is a LEFT ANTI probe with the recency filter pushed to the scan") {
    val plan = finalPlan("q22_idle_balance")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate.*"), plan)
  }

  test("j12: the bloom probe filters the fact scan BELOW the join, inside codegen") {
    val plan = finalPlan("j12_bloom_prune")
    // the probe must run scan-side (before the exchange), not post-join:
    // in the plan text the fact side's Filter mentions might_contain and
    // sits under the join operator
    val joinIdx = plan.indexOf("Join")
    val probeIdx = plan.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe not under the join: join@$joinIdx probe@$probeIdx\n$plan")
    // and the join itself stays a hash equi-join on the key
    assert(plan.contains("HashJoin"), plan)
    // the probe is a native codegen expression, not a UDF — the scan-side
    // filter must NOT break the whole-stage span at a UDF call
    assert(!"UDF\\([a-z(]*l_orderkey".r.findFirstIn(plan).isDefined,
      s"probe still a UDF:\n$plan")
  }

  test("ds13: no corpus-sized single-partition window — ranking is per range partition") {
    val plan = finalPlan("ds13_curriculum_order")
    // the row_number window must be partitioned (by pid), never global
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    val rnWindow = windows.find(_.contains("row_number"))
    assert(rnWindow.isDefined, plan)
    assert(rnWindow.get.contains("pid"),
      s"row_number window not partitioned by pid: ${rnWindow.get}")
    // and the corpus reaches it through a RANGE repartition (global order
    // from contiguous partition ranges, not one reducer)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("k17: box predicates are pushed into the re-laid-out parquet scan") {
    val plan = executedPlan("k17_zorder_layout")
    // the rendered PushedFilters list is length-truncated — assert the
    // partkey range bounds and that suppkey made it into the pushed set
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_partkey,50\\).*"), plan)
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*IsNotNull\\(l_suppkey\\).*"), plan)
    assert(plan.contains("(l_suppkey#") && plan.contains(" <= 150"), plan)
  }

  test("nn13: codebook and query sides broadcast — codes never shuffle to score") {
    val plan = finalPlan("nn13_pq_adc")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins (cb×2, qsl):\n$plan")
  }

  test("s8: DSv2 tiledir values match the fixture constants") {
    val got = run("s8_dsv2_tiledir").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1)
    // per tile: 6 pts, z = (tx+ty)*10 + i for i<6, max_x = xmin + 2000
    val want = Seq(
      ("t1_1", 6L, (0 until 6).map(2 * 10 + _).sum.toLong, 2500 + 2000),
      ("t2_2", 6L, (0 until 6).map(4 * 10 + _).sum.toLong, 5000 + 2000),
      ("t3_0", 6L, (0 until 6).map(3 * 10 + _).sum.toLong, 7500 + 2000))
    assert(got.toSeq == want)
  }

  test("g1: every PageRank iteration is equi-join + shuffle — no nested loop, no cartesian") {
    val plan = executedPlan("g1_pagerank")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // top-20 must be TakeOrderedAndProject, not a global sort of all nodes
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("g5: one convergence round is equi-join + partial-agg shuffle — and the loop's final plan is lineage-truncated") {
    import graft.operators.GraphOps
    // per-iteration shape (the loop localCheckpoints, so the FINAL plan
    // no longer contains the rounds — pin ONE step explicitly): the
    // share fan-out joins on src, the mass sum is a hash aggregate with
    // a map-side partial, and nothing is a nested loop
    val edgesDeg = GraphOps.tradeEdgesDeg(spark, Sf)
    val pr = edgesDeg.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(GraphOps.Mass))
    val step = GraphOps.pagerankStep(edgesDeg, pr)
    step.collect()
    val plan = step.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_sum"), plan)
    // the loop's returned frame reads the checkpointed ranks, not a
    // re-derivation of every round: top-20 via TakeOrderedAndProject
    val fin = executedPlan("g5_pagerank_converged")
    assert(fin.contains("TakeOrderedAndProject"), fin)
    assert(!fin.contains("CartesianProduct"), fin)
  }

  test("g2: wedge join and closing semi-join are equi-joins — no nested loop") {
    val plan = executedPlan("g2_triangle_count")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("a20: the sketch is built with map-side partial aggregation") {
    val plan = executedPlan("a20_countmin")
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ds15: windows run on the value grid partitioned by source, never the corpus") {
    val plan = executedPlan("ds15_ks_drift")
    // the only Window node partitions by source
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("source")), plan)
  }

  test("tx14: the bigram-vocabulary probe is a hash equi-join, no nested loop") {
    val plan = executedPlan("tx14_oov_bigram_rate")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("w15: the gap-fill window partitions by tile and the calendar join is an equi-join") {
    val plan = executedPlan("w15_gap_fill")
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("tile_id")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tx15: both vocabulary-count joins broadcast; the pair join is a hash equi-join") {
    val plan = executedPlan("tx15_cooccurrence_lift")
    // wc joins (vocab-sized) + the 1-row n_docs cross: >= 3 broadcasts
    val nBroadcast = "Broadcast".r.findAllIn(plan).size
    assert(nBroadcast >= 3, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dd13: new-vs-corpus probe is an equi-join on the band bucket — no nested loop") {
    val plan = executedPlan("dd13_incremental_dedup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("band"), plan)
  }

  test("g4: every BFS round is equi-join + shuffle — no nested loop, no cartesian") {
    val plan = executedPlan("g4_bfs_hops")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("w16: OHLC is one partial-agg shuffle — no window, no sort, no join") {
    val plan = executedPlan("w16_ohlc")
    assert(plan.contains("partial_min") && plan.contains("partial_max"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ds16: the embargo split is map-side predicates + one aggregate — no join") {
    val plan = executedPlan("ds16_embargo_split")
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("pp5: the incremental probe is semi/anti equi-joins only — no nested loop, no cartesian") {
    val plan = executedPlan("pp5_incremental_curation")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("w17: both passes are partial-agg shuffles and the stats side joins broadcast") {
    val plan = executedPlan("w17_zscore_outliers")
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("windowspecdefinition"), plan)
  }

  test("s1: the JDBC scan carries the predicate (PushedFilters) and a 2-slice partitioned read") {
    // the reference's S1 is a predicate-carrying PG query evaluated inside
    // the database; at 100 TB pushdown decides whether the DB ships
    // matching rows or the whole table, and the range partitioning decides
    // whether the read is one serial cursor or executor-parallel
    val plan = executedPlan("s1_jdbc_pushdown")
    assert(plan.contains("JDBCRelation(tile_index)"), plan)
    assert(plan.contains("numPartitions=2"), plan)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(VERSION,2\\).*") ||
           plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(version,2\\).*"), plan)
  }

  test("q12: shipdate window is pushed to the parquet scan") {
    val plan = executedPlan("q12_ship_priority")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate.*"),
      plan)
  }

  test("q21: no nested-loop or cartesian anywhere in the double-correlation plan") {
    val plan = executedPlan("q21_waiting_supplier")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"), plan)
    // supplier + the 1-row nation filter ride broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1, plan)
  }

  test("nn15: the probe scan of the list-partitioned layout is partition-pruned") {
    val plan = executedPlan("nn15_partitioned_ivf_probe")
    // the probed-list scan must carry a partition filter on `list` —
    // dynamic (DPP subquery from the broadcast probe join) or, after
    // AQE finalization, the materialized pruning predicate
    val scanLine = plan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("list"))
      .mkString("\n")
    assert(scanLine.nonEmpty, s"no partition filter on list:\n$plan")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP subquery on the partitioned scan:\n$plan")
  }

  test("q2: every dimension of the partsupp-surrogate chain broadcasts") {
    val plan = executedPlan("q2_min_cost_supplier")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
