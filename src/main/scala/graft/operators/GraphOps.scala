package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{OpModule, Session}
import graft.sources.{Cached, Sql, Tables}

/** Graph operators over relationship graphs derived from the fixture's
  * fact tables: integer-mass PageRank and degree-oriented triangle
  * counting. The reference's closest analogue is its tile-neighbour
  * traversal (tileconfig.py:262-320 border expansion — a one-hop graph
  * walk); these generalize one-hop neighbourhood logic to iterative and
  * pattern-matching graph analytics, the shape a 100 TB corpus needs for
  * link-graph quality signals (domain rank, community density).
  *
  * Scale stance:
  *  - Both run as plain equi-joins on node ids — Pregel-without-Pregel.
  *    Each PageRank iteration is one shuffle keyed by node id; at 100 TB
  *    the edge relation is bucketed by `src` once and every iteration
  *    reuses that layout (no driver-side state, no collect) —
  *    demonstrated by g6_bucketed_pagerank over the bucketed read-back,
  *    edge-side-exchange-free per iteration (PlanSpec).
  *  - EXACT INTEGER MASS, not floating-point: ranks are integer
  *    micro-mass units and every step uses integer division, so the
  *    result is independent of addition order — reproducible under ANY
  *    partitioning/re-execution, which is also what makes it
  *    oracle-checkable bit-exactly. (A float PageRank would differ by
  *    reduction order across engines AND across retries of the same job —
  *    determinism at scale is a correctness feature, not a test
  *    convenience. Production would widen mass to DECIMAL if 1e-12
  *    resolution is not enough.)
  *  - Triangle counting degree-orients each edge (low-degree endpoint →
  *    high-degree endpoint, id tiebreak) before the wedge join, the
  *    standard bound that keeps per-reducer wedge fanout O(sqrt(m)) per
  *    edge instead of O(max-degree) — the difference between a skew-safe
  *    join and a hot-key blowup on celebrity nodes.
  */
object GraphOps extends OpModule {

  /** Integer mass per node: 1e12 micro-units (≈ rank resolution 1e-12).
    *
    * Arithmetic envelope (the w17 discipline): the per-iteration damping
    * product `85 * SUM(share)` is computed in DECIMAL(38,0) on the Spark
    * side (DuckDB's SUM is already HUGEINT-exact), so the multiply can
    * NEVER wrap regardless of how much mass a hub absorbs. The final
    * rank is stored back as BIGINT, which is exact while total graph
    * mass N·Mass < 2^63, i.e. N < ~9.2e6 nodes at 1e12 micro-units —
    * beyond that, shrink Mass (rank resolution) or keep ranks DECIMAL. */
  val Mass = 1000000000000L
  /** (1-d)·Mass with d = 0.85, exactly. */
  val Teleport = 150000000000L

  /** Undirected customer↔supplier edges (distinct trade pairs), node ids
    * disjointly encoded: customer → 2k, supplier → 2k+1. Persisted via
    * [[Cached]]: every PageRank iteration (and g1/v4 both) joins this
    * relation — without the persist the plan re-derives the
    * orders⋈lineitem distinct once per iteration per consumer, a
    * 12×-scan blowup at 100 TB. */
  private[graft] def tradeEdges(s: SparkSession, dir: String): DataFrame =
    Cached.of(s, s"g:edges:$dir") {
      val e0 = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      e0.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
    }

  /** Per-part fan-out cap for the co-purchase pair join: a part
    * contributes pairs among at most this many customers — the
    * MaxCoDeg SMALLEST custkeys buying it, a deterministic rule both
    * engines can spell. Without it the per-part clique is quadratic in
    * part popularity: benign on the uniform fixtures (≤ a handful of
    * %7-customers per part, the cap never binds, results unchanged),
    * a real blowup on a power-law corpus — the round-13 Zipf re-gate
    * caught the uncapped form computing a ~10⁹-pair clique for the hub
    * part at gen-zipf-sf1. Same guard as the dedup family's MaxDf on
    * hot shingles (round 11); the 100 TB form is exactly this window. */
  val MaxCoDeg = 64

  /** Canonical undirected co-purchase edges (u < v) between customers in
    * the custkey % 7 = 0 slice that share a part, per-part fan-out
    * capped at [[MaxCoDeg]] (see there). One shuffle on the part key
    * serves both the cap window and the pair join. */
  private[operators] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Cached.of(s, s"g:copurchase:$dir") {
      val cp0 = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .filter(col("o_custkey") % 7 === 0)
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p").orderBy("c")
      val cp = cp0.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= MaxCoDeg).drop("rn")
      cp.as("a").join(cp.as("b"),
          col("a.p") === col("b.p") && col("a.c") < col("b.c"))
        .select(col("a.c").as("u"), col("b.c").as("v"))
        .distinct()
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1 (extension) — PAGERANK over the customer↔supplier trade graph,
    // 3 power iterations, damping 0.85, integer micro-mass (see scale
    // stance above). Per iteration: contribution = pr div deg per node,
    // one groupBy(dst) shuffle to sum incoming shares. Top 20 by rank via
    // TakeOrderedAndProject (no global sort materialization).
    "g1_pagerank" -> ((s, dir) => {
      val edgesDeg = tradeEdgesDeg(s, dir)
      var pr = edgesDeg.select(col("src").as("node")).distinct()
        .withColumn("pr", lit(Mass))
      for (_ <- 1 to 3) pr = pagerankStep(edgesDeg, pr)
      pr.orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // G6 (round 11) — g1's EXACT recurrence over the BUCKETED EDGE
    // LAYOUT the 100 TB story prescribes (SCALE.md: "the edge relation
    // is bucketed by src once and every iteration reuses that layout"),
    // converted from documented path to demonstrated plan the way k15
    // did for fact-fact joins: the denormalized (src, dst, deg) relation
    // lands hash-bucketed (8) + sorted on src ONCE, and every power
    // iteration's frontier join then reads it co-located — the only
    // per-round shuffles are the frontier itself (rank-relation-sized)
    // and the groupBy(dst) share aggregation; the corpus-sized edge side
    // never moves again. PlanSpec pins exactly that (edge-side subtree
    // exchange-free, 2 exchanges per step). The oracle is g1's replayed
    // recurrence from the PLAIN parquet, so the bucketed write is also
    // proven lossless.
    "g6_bucketed_pagerank" -> ((s, dir) => {
      val edges = bucketedTradeEdges(s, dir)
      var pr = edges.select(col("src").as("node")).distinct()
        .withColumn("pr", lit(Mass))
      for (_ <- 1 to 3) pr = pagerankStep(edges, pr)
      pr.orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // G7 (round 12) — synchronous LABEL-PROPAGATION community detection:
    // the third distinct community/cluster algorithm in the family
    // (dd9/dd15 propagate the MIN label — connected components; g7
    // propagates the MODE: each node adopts its neighbors' most
    // frequent label, ties broken by smallest label, for 2 synchronous
    // rounds). Pure neighbor vote (self excluded), so the update is
    // one edge⋈label equi-join + two node-keyed partial aggregations —
    // the (count, label) argmax via the a21 struct-ordering trick, no
    // window. Deterministic by construction (integer counts, total
    // tiebreak), hence exactly oracle-checkable; per-round
    // localCheckpoint is the standard lineage-truncation discipline.
    // Scale: same shuffle structure as one PageRank step — label
    // relation is node-sized, edges never move beyond the join.
    "g7_label_propagation" -> ((s, dir) =>
      lpa(tradeEdges(s, dir), rounds = 2)
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_nodes"))),

    // G5 (extension) — CONVERGENCE-AWARE PageRank: the same integer-mass
    // recurrence as g1, but iterated until the ranks are exactly
    // stationary (max |Δpr| = 0 in micro-mass units — integer state
    // makes "converged" a well-defined exact predicate, not an epsilon
    // policy) or a fixed cap. The driver-loop-over-converging-relation
    // shape at scale: per round, ONE node-keyed shuffle (the g1 step),
    // one frontier-sized localCheckpoint (the g4 lineage-truncation
    // argument — the rank relation is referenced twice per round, by the
    // next step AND the delta probe, so without truncation round k
    // re-executes 2^(rounds−k) times), and one driver-side SCALAR (the
    // max-delta aggregate — bounded telemetry per round, never row
    // data; the o3 retry loop makes the same trade). On the fixture the
    // bipartite trade graph oscillates and the cap (8) terminates —
    // deterministically, so the oracle replays exactly 8 steps; the
    // early-exit path is pinned by GraphSpec on a regular graph, where
    // integer mass is stationary after round 1.
    "g5_pagerank_converged" -> ((s, dir) =>
      pagerankConverged(tradeEdgesDeg(s, dir), cap = 8)),

    // G2 (extension) — TRIANGLE COUNT on the co-purchase graph by
    // degree-oriented wedge join: orient each edge from its lower-degree
    // endpoint (id tiebreak), join oriented⋈oriented on the wedge
    // midpoint, close with a semi-join back onto the oriented edge set.
    // Counts each triangle exactly once; orientation bounds the wedge
    // fanout per node by O(sqrt(m)), so no reducer ever enumerates a
    // celebrity node's full neighbourhood squared.
    "g2_triangle_count" -> ((s, dir) => triangles(s, dir)),

    // G3 (extension) — GLOBAL CLUSTERING COEFFICIENT: 3·triangles /
    // wedges, the one-number community-density summary. Triangles reuse
    // g2's degree-oriented join; the wedge total is a pure per-node
    // aggregate Σ d(d−1)/2 (integer — no pair enumeration). Both counts
    // are single-row relations, combined with a broadcast cross of two
    // 1-row frames; cc is the only float (one IEEE division, rounded).
    "g3_clustering_coeff" -> ((s, dir) => {
      val und = copurchaseEdges(s, dir)
      val deg = und.select(col("u").as("n"))
        .unionByName(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val wedges = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val tri = triangles(s, dir)
      tri.crossJoin(broadcast(wedges))
        .select(col("n_triangles"), col("n_wedges"),
          round(lit(3) * col("n_triangles") / col("n_wedges"), 6).as("global_cc"))
    }),

    // G4 (extension) — MULTI-SOURCE BFS hop distances over the trade
    // graph from the decimal-supplier frontier (s_suppkey % 10 = 0 —
    // a seed set that is non-empty at every SF): 4 fixed rounds of
    // min-distance propagation, one node-keyed shuffle per round — the
    // same Pregel-without-Pregel shape as g1, and like g1 the state is
    // exact integers, so the result is reduction-order-independent and
    // bit-reproducible under any partitioning. Each round unions the
    // current label set with neighbour labels+1 and takes the per-node
    // min; unreached nodes simply never appear (no corpus-wide
    // initialization). Output is the hop-distance histogram — 5 rows,
    // whatever the graph size.
    // Rounds localCheckpoint per generation inside [[bfsHistogram]]: the
    // recurrence references `dist` twice (carried labels + neighbour
    // propagation), so without lineage truncation the final action
    // re-executes round k's subtree 2^(rounds-k) times — the
    // componentsLoop argument; each round's relation is frontier-sized,
    // so the materialization is tiny. (Cluster scale: reliable
    // checkpoint, same shape.)
    "g4_bfs_hops" -> ((s, dir) =>
      bfsHistogram(tradeEdges(s, dir),
        Tables.supplier(s, dir)
          .filter(col("s_suppkey") % 10 === 0)
          .select((col("s_suppkey") * 2 + 1).as("node"), lit(0).as("d")),
        rounds = 4)),

    // V4 (extension) — the g1 recurrence through the SQL FRONT DOOR:
    // a reference user can paste the chained-CTE PageRank (the exact
    // oracle text, modulo `div` vs `//` spelling and the explicit
    // DECIMAL(38,0) widen that DuckDB gets implicitly via HUGEINT) at
    // spark.sql() and get g1's rows — proving the iterative
    // integer-mass shape survives Spark's SQL parser/optimizer
    // unchanged. Must produce exactly g1's result.
    "v4_sql_pagerank" -> ((s, dir) => {
      // SHUFFLE_HASH on the rank/degree sides: they are NODE-proportional
      // relations, and without the hint Catalyst happily broadcasts them
      // once stats look small — which materializes a data-proportional
      // table ON THE DRIVER. The round-13 driver-heap gate caught
      // exactly that: this query was the only one of 230 to die at
      // -Xmx1g on zipf-sf1 ("Not enough memory to build and broadcast"),
      // while the DataFrame twin g1 (shuffle joins throughout) passed.
      // At 100 TB a broadcast rank table is a driver OOM by design;
      // node-keyed shuffle joins are the only shape that scales.
      def step(name: String, prev: String): String =
        s"""$name AS (SELECT /*+ SHUFFLE_HASH(p, d) */ e.dst AS node,
           |       $Teleport + (85 * SUM(CAST(p.pr div d.deg AS DECIMAL(38,0)))) div 100 AS pr
           |FROM edges e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.node
           |GROUP BY e.dst)""".stripMargin
      Session.sql(s, "orders_v" -> Tables.orders(s, dir),
          "lineitem_v" -> Tables.lineitem(s, dir))(
        // MERGE on the fact-fact foundation join: orders is a FACT table,
      // and un-hinted Catalyst broadcast it (1.5M rows hashed on the
      // driver) — worse, the un-persisted CTE chain re-inlines e0 into
      // every pr step, so SEVERAL fact broadcasts were live on the
      // driver at once. Same driver-heap-gate find as the step hint.
      s"""WITH e0 AS (SELECT /*+ MERGE(o) */ DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
           |            FROM orders_v o JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey),
           |edges AS (SELECT a AS src, b AS dst FROM e0
           |          UNION ALL SELECT b AS src, a AS dst FROM e0),
           |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
           |pr0 AS (SELECT node, CAST($Mass AS BIGINT) AS pr FROM deg),
           |${step("pr1", "pr0")},
           |${step("pr2", "pr1")},
           |${step("pr3", "pr2")}
           |SELECT node, pr FROM pr3 ORDER BY pr DESC, node LIMIT 20""".stripMargin)
    })
  )

  /** Out-degree folded INTO the persisted edge relation (src, dst, deg):
    * one join per iteration instead of two — at 100 TB that is one fewer
    * corpus-sized shuffle per round, and the denormalized deg column
    * costs one long per edge in the layout that is bucketed once and
    * reused by every round anyway. Shared by g1/g5/v4. */
  private[graft] def tradeEdgesDeg(s: SparkSession, dir: String): DataFrame =
    Cached.of(s, s"g:edgesdeg:$dir")(withDeg(tradeEdges(s, dir)))

  /** The denormalized (src, dst, deg) trade relation written
    * hash-bucketed ([[graft.model.Layout.buckets]] — explicit knob with a
    * defaultParallelism fallback) + sorted by `src` and read back from the
    * managed table — the write-once layout every PageRank iteration's frontier
    * join consumes shuffle-free on the edge side (k15's machinery
    * applied to iterative graph state; plan property pinned in
    * PlanSpec). */
  private[graft] def bucketedTradeEdges(s: SparkSession, dir: String): DataFrame = {
    // Layout.dirKey: sanitized dir + hash of the raw dir, so two corpus
    // dirs that sanitize identically never share a layout.
    val t = "g6_edges_" + graft.model.Layout.dirKey(dir)
    // Build once per session (serving reality: build once, iterate
    // many — the bench measures ITERATION cost, not a rewrite per
    // call). Cached keeps the mark-only-after-success invariant.
    Cached.once(s, t) {
      Tables.dropManaged(s, t)
      // |buckets| = Layout.buckets: explicit env knob, cluster cores as
      // the fallback (pp6's partition rule applied to a LAYOUT — the
      // knob exists because defaultParallelism is time-varying under
      // dynamic allocation): a fixed count caps every later iteration's join at
      // that parallelism forever — buckets can be coalesced but never
      // split, so 8 buckets at 1000 executors means an 8-task join
      // stage. Two gen-sf10 measurements temper the claim honestly
      // (records/GRAPHITER_gensf10{,_fix}_r15.jsonl): the LOCAL
      // per-round wall is edge-scan/checkpoint-bound, not join-width-
      // bound (8 vs 32 buckets lands within box noise — the box's
      // loopback shuffle makes g5's cached-relation round artificially
      // cheap), and widening the layout multiplies the groupBy(dst)
      // partial-agg shuffle (each bucket partition emits its own
      // partial row per dst key: ~240 MB/round at 8 buckets → ~570 MB
      // at 32). Both are the right trade: the cap is removed where it
      // is fatal (cluster join width) and the partial-agg fan-out is
      // bounded by buckets × |nodes|, linear in each.
      tradeEdgesDeg(s, dir).write.mode("overwrite")
        .bucketBy(graft.model.Layout.buckets(s), "src")
        .sortBy("src").saveAsTable(t)
    }
    s.table(t)
  }

  /** Initial reducer count for the iterative loops' per-round shuffles
    * (guide §2.2): the rounds shuffle node/frontier-sized relations, not
    * the corpus, so the reducer count derives from the (cached) edge
    * relation's size at [[RoundPartitionBytes]] per partition instead of
    * inheriting the corpus-sized session setting. The session setting is
    * the CEILING — at scale (stats ≫ cores × target, or an unmaterialized
    * cache whose join-chain estimate is huge) behavior is unchanged and
    * AQE still coalesces. Measured at sf0.1/local[32]
    * (records/QMETRICS_g_roundsized_r19.jsonl): g5 steady 7.5-8.3 s at
    * 32 initial partitions vs 4.4-4.6 s at 8, shuffle bytes 46.6 → 20.1
    * MB — the same graph-sized-rounds argument dd15's componentsOf makes
    * with its fixed 8, made scale-adaptive. */
  private val RoundPartitionBytes = BigInt(16L << 20)
  private[graft] def roundPartitions(s: SparkSession, rel: DataFrame): Int = {
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    // For a MATERIALIZED cached relation, read the cache builder's size
    // accumulator directly: plan-level stats are memoized per plan
    // INSTANCE, so a Cached relation whose stats were first touched
    // before materialization reports its join-chain ESTIMATE (terabytes
    // for tradeEdgesDeg) forever. Unmaterialized (first call in a fresh
    // session), the estimate path returns that huge value, the min()
    // hits the session ceiling, and behavior is simply unchanged — the
    // safe fallback. Every loaded cache counts, once however often the
    // plan reads it: a tiny auxiliary cache must not size the rounds.
    val plan = rel.queryExecution.optimizedPlan
    val loaded = plan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if m.cacheBuilder.isCachedColumnBuffersLoaded => m.cacheBuilder
    }.distinct.map(b => BigInt(b.sizeInBytesStats.value))
    val bytes = if (loaded.nonEmpty) loaded.sum else plan.stats.sizeInBytes
    val n = ((bytes + RoundPartitionBytes - 1) / RoundPartitionBytes)
      .min(BigInt(sessionParts)).max(BigInt(1)).toInt
    // one bounded stderr line per loop entry (the tx15 regime-print
    // discipline): which sizing the rounds actually ran with
    System.err.println(
      s"[graft] graph rounds: $n of $sessionParts partitions (rel $bytes B)")
    n
  }

  /** Synchronous label propagation: `rounds` mode-label updates over a
    * symmetric (src, dst) edge relation. Each round every node adopts
    * the most frequent label among its NEIGHBORS (self excluded),
    * smallest label on ties — (count desc, label asc) realized as
    * min_by over a ((-count), label) struct, the a21 trick. Exposed for
    * the synthetic-graph goldens in GraphSpec. */
  private[graft] def lpa(edges: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    val n = Session.narrowed(s, roundPartitions(s, edges))
    Session.on(s, lpaLoop(Session.on(n, edges), rounds))
  }

  private def lpaLoop(edges: DataFrame, rounds: Int): DataFrame = {
    // LAZY localCheckpoint (r18 optimization): the round count is fixed —
    // no per-round driver decision needs the materialization NOW — so the
    // lineage cut still happens (LogicalRDD leaf, constant-size plans)
    // but the blocks are saved when the next round's aggregation computes
    // every partition anyway, collapsing `rounds` sequential jobs into
    // one. Safe here because each generation's first consumer is a FULL
    // materialization (groupBy over all partitions); loops that read a
    // per-round scalar on the driver (g5's observe, componentsLoop's
    // convergence probe) must keep the eager form.
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      labels = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min_by(col("lab"),
          struct((-col("c")).as("nc"), col("lab"))).as("lab"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Denormalize out-degree onto any (src, dst) edge relation — exposed
    * for the synthetic-graph specs. */
  private[graft] def withDeg(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    edges.join(deg, Seq("src"))
  }

  /** One power-iteration step over the denormalized (src, dst, deg)
    * relation: contribution = pr div deg per edge, one groupBy(dst)
    * shuffle to sum incoming shares. 85·Σshare is computed in
    * DECIMAL(38,0): wrap-proof whatever a hub absorbs (see [[Mass]]
    * scaladoc); div returns BIGINT. */
  private[graft] def pagerankStep(edgesDeg: DataFrame, pr: DataFrame): DataFrame =
    edgesDeg
      .join(pr.withColumnRenamed("node", "src"), Seq("src"))
      .select(col("dst"), expr("pr div deg").as("share"))
      .groupBy(col("dst").as("node"))
      .agg((lit(Teleport) +
        expr("(85 * sum(cast(share as decimal(38,0)))) div 100")).as("pr"))

  /** g5's loop: iterate [[pagerankStep]] until exact integer-mass
    * stationarity (max |Δpr| = 0) or `cap` rounds. Returns the top-20
    * ranks plus the round count actually executed.
    *
    * ONE action per round: the previous ranks are joined back so the
    * convergence delta rides the checkpoint materialization as an
    * `observe`d metric ([[org.apache.spark.sql.Observation]] blocks
    * until that action finishes) — the convergence test costs zero
    * extra passes over the data, which is the shape an
    * iterate-to-fixpoint job must have at 100 TB (a separate
    * diff-relation action per round would double every iteration). */
  private[graft] def pagerankConverged(edgesDeg: DataFrame, cap: Int): DataFrame = {
    val s = edgesDeg.sparkSession
    val n = Session.narrowed(s, roundPartitions(s, edgesDeg))
    Session.on(s, pagerankConvergedLoop(Session.on(n, edgesDeg), cap))
  }

  private def pagerankConvergedLoop(edgesDeg: DataFrame, cap: Int): DataFrame = {
    // init checkpoint is EAGER, like the per-round ones below (obs.get
    // blocks on the materialization they trigger). r18 tried a lazy init
    // here; the r19 interleaved local[32] A/B (3 alternations, g-family
    // only, records/BENCH_G5AB_r19.jsonl) read eager faster in every
    // adjacent pair (6.68/6.38/6.15 vs 6.94/7.59/6.22 s) — deferring the
    // init merely moves its materialization inside round 1's blocking
    // observe, where it serializes with the round instead of overlapping
    // the loop setup. Reverted per the r18 verdict.
    var pr = edgesDeg.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(Mass)).localCheckpoint()
    var iters = 0
    var delta = -1L
    while (iters < cap && delta != 0L) {
      val obs = org.apache.spark.sql.Observation(s"g5_delta_$iters")
      // FULL-OUTER probe: on a non-symmetric edge relation a node can
      // appear in the step output without a previous rank (dst-only
      // nodes) OR drop out of the rank set entirely (cascade from an
      // in-degree-0 source losing rank). Either membership change must
      // read as delta ≠ 0 — a one-sided join sees only one of them. The
      // missing side coalesces to 0, so an appearing node counts as
      // changed (pr >= Teleport > 0) and a disappearing one counts as
      // its full previous rank.
      val next = pagerankStep(edgesDeg, pr)
        .join(pr.select(col("node"), col("pr").as("pr_prev")),
          Seq("node"), "full_outer")
        .observe(obs, max(abs(coalesce(col("pr"), lit(0L)) -
          coalesce(col("pr_prev"), lit(0L)))).as("d"))
        .localCheckpoint() // the round's single action; obs.get blocks on it
      // null max ⇔ both the step output and the carried set are empty:
      // nothing left to update, stop
      delta = Option(obs.get("d")).map(_.asInstanceOf[Long]).getOrElse(0L)
      // carry only the step output forward: prev-only rows (pr null)
      // exist solely for the delta probe, not in the next rank relation
      pr = next.filter(col("pr").isNotNull).drop("pr_prev")
      iters += 1
    }
    pr.orderBy(col("pr").desc, col("node")).limit(20)
      .withColumn("n_iters", lit(iters))
  }

  /** DuckDB CTEs mirroring [[tradeEdges]]. */
  private val tradeSql =
    """e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
      |       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (SELECT a AS src, b AS dst FROM e0
      |          UNION ALL SELECT b AS src, a AS dst FROM e0),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)""".stripMargin

  /** One DuckDB PageRank step from CTE `prev` to a new named CTE. */
  private def prStep(name: String, prev: String): String =
    s"""$name AS (SELECT e.dst AS node,
       |       CAST($Teleport + (85 * SUM(p.pr // d.deg)) // 100 AS BIGINT) AS pr
       |FROM edges e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.node
       |GROUP BY e.dst)""".stripMargin

  /** Triangle count (1 row) by degree-oriented wedge join: orient each
    * edge from its lower-degree endpoint (id tiebreak), join
    * oriented⋈oriented on the wedge midpoint, close with a semi-join
    * back onto the edge set. Counts each triangle exactly once;
    * orientation bounds wedge fanout per node at O(√m), so no reducer
    * enumerates a celebrity node's neighbourhood squared. Persisted via
    * [[Cached]] — g2 and g3 both consume it, and the wedge join is the
    * graph family's most expensive relation. */
  private def triangles(s: SparkSession, dir: String): DataFrame =
    Cached.of(s, s"g:tri:$dir")(trianglesOf(copurchaseEdges(s, dir)))

  /** The degree-oriented count over any canonical (u < v) edge relation —
    * exposed for the synthetic-graph property specs (star/clique/cycle),
    * which pin the orientation logic independently of the fixture. */
  private[graft] def trianglesOf(und: DataFrame): DataFrame = {
      val deg = und.select(col("u").as("n"))
        .unionByName(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // orient: x→y iff (deg(x), x) < (deg(y), y)
      val oriented = und
        .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
        .select(
          when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("x"),
          when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("y"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.y") === col("e2.x"))
        .select(col("e1.x").as("p"), col("e1.y").as("q"), col("e2.y").as("r"))
      // close the wedge: (p,r) must be an edge in EITHER orientation
      val closing = oriented.select(col("x").as("p"), col("y").as("r"))
        .unionByName(oriented.select(col("y").as("p"), col("x").as("r")))
      wedges.join(closing, Seq("p", "r"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
  }

  /** The fixed-round BFS over any (src, dst) edge relation from a
    * (node, d=0) seed frame — g4's recurrence, exposed for the
    * synthetic-graph specs (path/star distances known in closed form). */
  private[graft] def bfsHistogram(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val s = edges.sparkSession
    val n = Session.narrowed(s, roundPartitions(s, edges))
    Session.on(s, bfsLoop(Session.on(n, edges), Session.on(n, seeds), rounds))
  }

  private def bfsLoop(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    var dist = seeds
    for (_ <- 1 to rounds) {
      // lazy checkpoint — fixed round count, no per-round driver
      // decision, every generation's first consumer materializes all
      // partitions (see lpa); lineage truncation is unchanged
      dist = dist.unionByName(
          edges.join(dist.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), (col("d") + 1).as("d")))
        .groupBy("node").agg(min("d").as("d"))
        .localCheckpoint(false)
    }
    dist.groupBy("d").agg(count(lit(1)).as("n_nodes")).orderBy("d")
  }

  /** One BFS min-distance round from CTE `prev` to a new named CTE. */
  private def bfsStep(name: String, prev: String): String =
    s"""$name AS (SELECT node, MIN(d) AS d FROM (
       |  SELECT node, d FROM $prev
       |  UNION ALL
       |  SELECT e.dst AS node, p.d + 1 AS d
       |  FROM $prev p JOIN edges e ON e.src = p.node) t
       |GROUP BY node)""".stripMargin

  /** g1's replayed 3-step integer-mass recurrence — integer division
    * makes both engines' results order-independent, so they can only
    * agree if the graph AND the recurrence agree. Shared with g6: the
    * bucketed read-back must reproduce the plain-parquet recurrence
    * exactly, which proves the bucketed write lossless. */
  private val pagerank3Sql: String = Sql.query(
    tradeSql,
    s"pr0 AS (SELECT node, CAST($Mass AS BIGINT) AS pr FROM deg)",
    prStep("pr1", "pr0"), prStep("pr2", "pr1"), prStep("pr3", "pr2"))(
    "SELECT node, pr FROM pr3 ORDER BY pr DESC, node LIMIT 20")

  def oracles: Map[String, String] = Map(
    "g1_pagerank" -> pagerank3Sql,

    // one QUALIFY row_number per round spells the same (count desc,
    // label asc) mode vote the Spark side computes with min_by
    "g7_label_propagation" -> Sql.query(tradeSql,
      "l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)",
      """v1 AS (SELECT e.dst AS node, l.lab, COUNT(*) AS c
        |       FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2)""".stripMargin,
      """l1 AS (SELECT node, lab FROM v1
        |       QUALIFY row_number() OVER (PARTITION BY node
        |                                  ORDER BY c DESC, lab) = 1)""".stripMargin,
      """v2 AS (SELECT e.dst AS node, l.lab, COUNT(*) AS c
        |       FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2)""".stripMargin,
      """l2 AS (SELECT node, lab FROM v2
        |       QUALIFY row_number() OVER (PARTITION BY node
        |                                  ORDER BY c DESC, lab) = 1)""".stripMargin)(
      "SELECT lab AS community, COUNT(*) AS n_nodes FROM l2 GROUP BY lab"),
    "g6_bucketed_pagerank" -> pagerank3Sql,

    // g3: wedge total from un-oriented degrees; the triangle probe uses
    // the oriented spelling (see copurchaseSql/orientedTriSql) so the
    // oracle survives power-law corpora too
    "g3_clustering_coeff" -> Sql.query(copurchaseSql, orientedTriSql)(
      """SELECT tri.n_triangles,
        |       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |       ROUND(3 * tri.n_triangles /
        |             (SELECT SUM(d * (d - 1) // 2) FROM deg), 6) AS global_cc
        |FROM tri""".stripMargin),

    // g5: the oracle replays exactly 8 steps — the cap the Spark loop
    // deterministically reaches on the fixture (the bipartite trade
    // graph oscillates in integer mass; verified non-stationary through
    // round 8 at sf0.001/0.01/0.1). The early-exit arm of the loop is
    // pinned by GraphSpec on a regular graph instead, where the oracle
    // CTE chain could not express the data-dependent round count.
    "g5_pagerank_converged" -> Sql.query(
      tradeSql,
      s"pr0 AS (SELECT node, CAST($Mass AS BIGINT) AS pr FROM deg)",
      prStep("pr1", "pr0"), prStep("pr2", "pr1"), prStep("pr3", "pr2"),
      prStep("pr4", "pr3"), prStep("pr5", "pr4"), prStep("pr6", "pr5"),
      prStep("pr7", "pr6"), prStep("pr8", "pr7"))(
      "SELECT node, pr, 8 AS n_iters FROM pr8 ORDER BY pr DESC, node LIMIT 20"),

    // v4: identical oracle to g1 — the SQL front door must reproduce the
    // DataFrame path's rows exactly
    "v4_sql_pagerank" -> Sql.query(
      tradeSql,
      s"pr0 AS (SELECT node, CAST($Mass AS BIGINT) AS pr FROM deg)",
      prStep("pr1", "pr0"), prStep("pr2", "pr1"), prStep("pr3", "pr2"))(
      "SELECT node, pr FROM pr3 ORDER BY pr DESC, node LIMIT 20"),

    // g4: the same 4 fixed min-propagation rounds as chained CTEs; the
    // seed set and +1 recurrence must agree exactly for the histogram
    // to match (integer state — no tolerance anywhere)
    "g4_bfs_hops" -> Sql.query(
      tradeSql,
      """d0 AS (SELECT s_suppkey*2+1 AS node, 0 AS d
        |       FROM supplier WHERE s_suppkey % 10 = 0)""".stripMargin,
      bfsStep("d1", "d0"), bfsStep("d2", "d1"),
      bfsStep("d3", "d2"), bfsStep("d4", "d3"))(
      "SELECT d, COUNT(*) AS n_nodes FROM d4 GROUP BY d ORDER BY d"),

    // g2: the oracle orients by ITS OWN total order before the wedge
    // join. Until round 13 it enumerated u<v<w wedges unoriented — an
    // independent second strategy, but one that squares a celebrity
    // node's neighbourhood: on the Zipf corpus the capped graph still
    // has a 15.8k-degree hub (Σd² ≈ 4·10⁹ unoriented wedges) where the
    // oriented form is bounded at max-outdeg 355 / Σ ≈ 1.8·10⁸. The
    // independence that matters survives: a DIFFERENT orientation
    // order (plain degree-then-id over a different tie profile) and a
    // different join spelling must land on the identical count.
    "g2_triangle_count" -> Sql.query(copurchaseSql, orientedTriSql)(
      "SELECT n_triangles FROM tri")
  )

  /** Shared co-purchase CTE chain (cp0 → capped cp → und → deg),
    * generated from the SAME [[MaxCoDeg]] constant as the Spark
    * pipeline — the cap rule cannot drift between engines. */
  private def copurchaseSql: String =
    // MATERIALIZED throughout: DuckDB re-inlines plain CTEs per
    // reference, and und/deg/ori are each consumed 2-3 times — the
    // sigSqlAt lesson (an un-materialized chain turned the dd oracle
    // quadratic in references)
    s"""cp0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |        WHERE o_custkey % 7 = 0),
       |cp AS MATERIALIZED (SELECT c, p FROM (
       |         SELECT c, p, row_number() OVER (PARTITION BY p ORDER BY c) AS rn
       |         FROM cp0) t
       |       WHERE rn <= ${MaxCoDeg}),
       |und AS MATERIALIZED (SELECT DISTINCT a.c AS u, b.c AS v
       |        FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c),
       |deg AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM (
       |          SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und) t
       |        GROUP BY n)""".stripMargin

  /** Degree-oriented triangle count over `und`/`deg`: each edge points
    * from its lower-(degree, id) endpoint, so a triangle's three
    * vertices orient r1→r2, r1→r3, r2→r3 and the wedge-at-r1 join
    * counts it exactly once. Any strict total order works — the count
    * is orientation-invariant — which is what keeps this an independent
    * check of the Spark side's own orientation. */
  private def orientedTriSql: String =
    """ori AS MATERIALIZED (
      |        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |                    THEN e.u ELSE e.v END AS a,
      |               CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |                    THEN e.v ELSE e.u END AS b
      |        FROM und e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
      |tri AS (SELECT COUNT(*) AS n_triangles
      |        FROM ori e1 JOIN ori e2 ON e2.a = e1.a
      |        JOIN ori e3 ON e3.a = e1.b AND e3.b = e2.b)""".stripMargin
}
