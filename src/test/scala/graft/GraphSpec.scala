package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, GraphOps}

/** Closed-form synthetic-graph properties for the graph family, plus the
  * incremental-dedup restriction invariant — structures whose answers are
  * known a priori, pinning the algorithms independently of both the
  * fixture data and the DuckDB oracle. */
class GraphSpec extends SparkSpec {

  private def und(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")
  }

  private def triCount(pairs: Seq[(Long, Long)]): Long =
    GraphOps.trianglesOf(und(pairs)).collect()(0).getLong(0)

  test("triangles: star K1,n has none — the celebrity-hub shape that breaks unoriented joins") {
    val star = (1L to 40L).map(i => (0L, i))
    assert(triCount(star) == 0L)
  }

  test("triangles: clique K8 has C(8,3) = 56") {
    val k8 = for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i, j)
    assert(triCount(k8) == 56L)
  }

  test("triangles: wheel W12 (hub + 12-cycle rim) has exactly 12") {
    val rim = (0L until 12L).map(i => (100L + i, 100L + (i + 1) % 12))
    val spokes = (0L until 12L).map(i => (0L, 100L + i))
    assert(triCount(rim ++ spokes) == 12L)
  }

  test("BFS: path graph distances are exact and clipped at the round budget") {
    import spark.implicits._
    // path 0-1-2-...-9, seed at 0, 4 rounds => one node at each d in 0..4
    val e0 = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq((0L, 0)).toDF("node", "d")
    val got = GraphOps.bfsHistogram(edges, seeds, rounds = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == (0 to 4).map(d => (d, 1L)))
  }

  test("BFS: star from the hub reaches every leaf at distance 1 in one round") {
    import spark.implicits._
    val e0 = (1L to 25L).map(i => (0L, i)).toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq((0L, 0)).toDF("node", "d")
    val got = GraphOps.bfsHistogram(edges, seeds, rounds = 1)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((0, 1L), (1, 25L)))
  }

  test("fixed-round loops stay lazy: construction must not materialize the checkpoint") {
    // r18 made the FIXED-round loops' per-generation localCheckpoint lazy
    // (the result-stage materialization rides the terminal action instead
    // of running one blocking job per generation). That invariant was
    // previously enforced only by comments: a future edit reverting to
    // the eager form would silently serialize the rounds again. The
    // precise observable: the generation's checkpoint RDD must NOT be
    // materialized when the loop returns (AQE still runs shuffle map
    // stages during planning either way — job counts can't pin this),
    // and MUST be after the terminal action computes it.
    import spark.implicits._
    val e0 = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    def ckptRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
      df.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.getOrElse(fail("no LogicalRDD leaf — lineage cut disappeared"))
    for ((name, df) <- Seq(
        "lpa" -> GraphOps.lpa(edges, rounds = 2),
        "bfsHistogram" -> GraphOps.bfsHistogram(edges,
          Seq((0L, 0)).toDF("node", "d"), rounds = 4))) {
      // the LogicalRDD leaf found above IS the lineage cut; what must stay
      // lazy is its materialization state (isLocallyCheckpointed is
      // private[spark], but isCheckpointed flips exactly at
      // materialization for local checkpoints too)
      val r = ckptRdd(df)
      assert(!r.isCheckpointed,
        s"$name: construction materialized the checkpoint — the loop went " +
          "eager again, one blocking job per generation")
      df.count()
      assert(r.isCheckpointed,
        s"$name: the terminal action must materialize the checkpoint")
    }
  }

  test("g5: integer mass is stationary on a regular graph — the early exit fires after one round") {
    import spark.implicits._
    // 12-cycle: every node has degree 2, so each round every node sends
    // Mass/2 both ways and receives Mass back: pr stays exactly Mass
    // (85·Mass div 100 + Teleport = Mass, exact in integers) — delta = 0
    // after round 1, so the convergence loop must stop at n_iters = 1
    // long before the cap
    val e0 = (0L until 12L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val got = GraphOps.pagerankConverged(GraphOps.withDeg(edges), cap = 8).collect()
    assert(got.forall(_.getAs[Int]("n_iters") == 1), got.mkString(","))
    assert(got.forall(_.getAs[Long]("pr") == GraphOps.Mass), got.mkString(","))
  }

  test("g5: a dst-only node on a directed edge relation is ranked, not dropped") {
    import spark.implicits._
    // edges 1→2, 3→2: node 2 never appears as src, so it has no previous
    // rank in round 1 — an inner-join delta probe would both truncate the
    // result to empty AND read max-over-empty as converged. The left-join
    // probe must keep node 2 (pr = Teleport + 0.85·2·Mass exactly) and
    // count it as changed (cap reached, not converged-at-0).
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val got = GraphOps.pagerankConverged(GraphOps.withDeg(edges), cap = 1)
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("node") == 2L, got.mkString(","))
    assert(got.head.getAs[Long]("pr") ==
      GraphOps.Teleport + 85L * 2L * GraphOps.Mass / 100L)
    assert(got.head.getAs[Int]("n_iters") == 1)
  }

  test("g5: rank-set shrinkage alone reads as change — the probe sees disappearing nodes") {
    import spark.implicits._
    // edges 1→2, 3→3: the self-loop node 3 is exactly stationary from
    // round 1 (Teleport + 85·Mass div 100 = Mass), so every per-node
    // value delta is 0 from round 2 on — but the rank SET still shrinks:
    // round 1 emits {2, 3}, round 2 emits {3} (node 2 has no out-edges).
    // A one-sided (new←old) probe reads round 2 as delta = 0 and stops
    // at n_iters = 2 one round early; the full-outer probe counts node
    // 2's disappearance as its full previous rank, runs round 3, and
    // only then observes exact stationarity.
    val edges = Seq((1L, 2L), (3L, 3L)).toDF("src", "dst")
    val got = GraphOps.pagerankConverged(GraphOps.withDeg(edges), cap = 8)
      .collect()
    assert(got.map(_.getAs[Long]("node")).toSeq == Seq(3L), got.mkString(","))
    assert(got.head.getAs[Long]("pr") == GraphOps.Mass, got.mkString(","))
    assert(got.head.getAs[Int]("n_iters") == 3, got.mkString(","))
  }

  test("g5: the fixture's bipartite trade graph stays non-stationary through the cap") {
    // the oracle replays exactly 8 CTE steps, which is only valid if the
    // loop deterministically reaches the cap — pin that here so a fixture
    // change that suddenly converges early fails THIS spec, not the gate
    val got = run("g5_pagerank_converged").collect()
    assert(got.forall(_.getAs[Int]("n_iters") == 8),
      s"fixture converged before the cap: ${got.map(_.getAs[Int]("n_iters")).toSet}")
  }

  test("dd13 is exactly dd7's candidate pairs restricted to new×corpus") {
    val pairs = run("dd7_minhash_dfcap").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // dd7 emits doc_a < doc_b; classify each side by the dd13 batch rule
    val crossSide = pairs.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).collect {
        case (nw, old) if nw % DedupOps.BatchMod >= DedupOps.BatchNewMin &&
          old % DedupOps.BatchMod < DedupOps.BatchNewMin => (nw, old)
      }
    }
    val expect = crossSide.groupBy(_._1).map { case (nw, es) =>
      (nw, es.map(_._2).distinct.length.toLong, es.map(_._2).min)
    }.toSeq.sorted
    val got = run("dd13_incremental_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == expect)
    assert(got.nonEmpty, "no new-vs-corpus candidates at sf0.001 — probe unexercised")
  }

  test("dd12 containment >= jaccard pointwise on the fixture's pair relation") {
    // the fixture's near-dups are symmetric (similar sizes), so dd12 and
    // dd3 flag the same pairs here — the asymmetric case dd12 exists for
    // is pinned on a synthetic embedded doc in the next test
    val j = run("dd3_jaccard_pairs").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val c = run("dd12_containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // containment >= jaccard pointwise (|∩|/min >= |∩|/|∪|)
    for ((k, cv) <- c if j.contains(k)) assert(cv >= j(k) - 1e-9, s"$k")
    assert(c.nonEmpty)
  }

  test("dd12's measure catches a doc embedded in a larger one where dd3's jaccard misses it") {
    import spark.implicits._
    // doc 1 = 30 distinct shingle-words; doc 2 = those 30 + 270 others:
    // containment = 30/30 = 1.0, jaccard = 30/300 = 0.1 < dd3's 0.2 cut
    val words = (0 until 300).map(i => s"w$i")
    val docs = Seq(
      (1L, words.take(30).mkString(" ")),
      (2L, words.mkString(" "))).toDF("doc_id", "text")
    val scores = DedupOps.pairScoresOf(DedupOps.shinglesOf(docs))
      .withColumn("containment",
        round(col("inter") / least(col("sza"), col("szb")), 6))
      .withColumn("jaccard",
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .collect()
    assert(scores.length == 1)
    val r = scores(0)
    val (cont, jac) = (r.getAs[Double]("containment"), r.getAs[Double]("jaccard"))
    assert(cont >= 0.8, s"embedded doc must clear dd12's cut, got $cont")
    assert(jac < 0.2, s"the same pair must MISS dd3's jaccard cut, got $jac")
  }

  test("g7 LPA: two disjoint triangles converge to per-clique minimum in 2 rounds") {
    import spark.implicits._
    // symmetric edges of cliques {1,2,3} and {10,11,12}. Round 1: every
    // node's two neighbor labels tie at count 1 -> it adopts the SMALLER
    // neighbor id (node 1 adopts 2, others adopt the clique min). Round
    // 2: the min label is now the majority vote everywhere -> all nodes
    // of a clique share its minimum. The vote excludes self, so this
    // golden pins both the tiebreak and the synchronous schedule.
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a != b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)))
      .toDF("src", "dst")
    val labels = graft.operators.GraphOps.lpa(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), labels.toString)
    // and the intermediate round-1 state shows the pure-neighbor vote:
    // node 1's neighbors are {2,3}, tie -> 2 (NOT its own label 1)
    val r1 = graft.operators.GraphOps.lpa(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(1L) == 2L && r1(2L) == 1L && r1(3L) == 1L, r1.toString)
  }

  test("g7 on the corpus: communities partition the node set") {
    val nodes = graft.operators.GraphOps.lpa(
      graft.operators.GraphOps.tradeEdges(spark, Sf), rounds = 2)
    val total = nodes.count()
    val distinctNodes = nodes.select("node").distinct().count()
    assert(total == distinctNodes, "a node must carry exactly one label")
    val viaQuery = run("g7_label_propagation")
      .agg(sum("n_nodes")).first().getLong(0)
    assert(viaQuery == total, "community sizes must sum to the node count")
  }

  test("round sizing counts every loaded cache in the plan, not the first one found") {
    // a tiny materialized cache first in plan order, joined with one
    // large enough for 2+ round partitions: the rounds size from both
    val tiny = spark.range(0, 16).select(col("id").as("k")).persist()
    val big = spark.range(0, 1500000)
      .select((col("id") % 16).as("k"), xxhash64(col("id")).as("a"),
        xxhash64(col("id"), lit(1)).as("b"))
      .persist()
    try {
      tiny.collect()
      big.count()
      assert(GraphOps.roundPartitions(spark, tiny) == 1)
      val alone = GraphOps.roundPartitions(spark, big)
      assert(alone >= 2, s"the large cache alone sizes $alone partitions")
      assert(GraphOps.roundPartitions(spark, tiny.join(big, "k")) >= alone)
    } finally {
      tiny.unpersist()
      big.unpersist()
    }
  }
}
