package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{OpModule, Session}
import graft.functions.{Envelope, EnvelopeUnion}
import graft.sources.{Sql, Tables}

/** Aggregation + window suite A1-A9, W1, W4-W5 (SURVEY §2.5-§2.6).
  *
  * All group-bys get map-side partial aggregation from Spark for free
  * (the reference's single-process Python has none). Sums of doubles are
  * rounded on BOTH engine sides because float summation order differs
  * between Spark partial aggregation and DuckDB (SURVEY §7.4).
  */
object AggOps extends OpModule {

  /** Per-tile two-step worker outcomes (export, merge) with deterministic
    * success arithmetic — the fixture stand-in for worker exit codes
    * (worker.py:646-691). */
  private def workerSteps(s: SparkSession): DataFrame = {
    val b = Tables.boundaries(s)
    b.select(col("tile_id"), lit("export").as("step"),
        (((col("tx") * 4 + col("ty")) % 3) =!= 0).as("ok"))
      .unionByName(
        b.select(col("tile_id"), lit("merge").as("step"),
          (((col("tx") * col("ty")) % 4) =!= 1).as("ok")))
  }

  private val workerStepsSql =
    """worker_steps AS (
      |  SELECT tile_id, 'export' AS step, ((tx*4+ty) % 3) <> 0 AS ok FROM boundaries
      |  UNION ALL
      |  SELECT tile_id, 'merge' AS step, ((tx*ty) % 4) <> 1 AS ok FROM boundaries)""".stripMargin

  /** TWO-LEVEL sweep-line over order lifetimes (w11/w13): each order is an
    * interval [o_orderdate, +30d); the boundary union (+1 start, −1 end)
    * gets a per-(prio, month-bucket) local running sum, an exclusive
    * prefix over the tiny per-bucket totals relation, and broadcast
    * offsets added back — local_run + offset ≡ the global running sum
    * (month(t) ordering is consistent with t ordering). `prio` alone has
    * cardinality 5, so a single partitionBy(prio) window would funnel
    * the whole fact table through 5 reducers at 100 TB; the (prio, bkt)
    * key's parallelism instead grows with the data's time span. Ends
    * sort BEFORE starts at equal t (ORDER BY t, d), making intervals
    * half-open; every consumer below aggregates the per-row `open`
    * order-invariantly. All-integer. Returns (prio, t, d, open),
    * persisted once per (session, dir) — w11 and w13 both consume it. */
  private def sweepOpen(s: SparkSession, dir: String): DataFrame =
    graft.sources.Cached.of(s, s"w:sweep:$dir") { sweepOpenBuild(s, dir) }

  private def sweepOpenBuild(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val deltas = o.select(col("o_orderpriority").as("prio"),
        col("o_orderdate").as("t"), lit(1).as("d"))
      .unionByName(o.select(col("o_orderpriority").as("prio"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("t"),
        lit(-1).as("d")))
      .withColumn("bkt", date_trunc("month", col("t")).cast("date"))
    val wLocal = Window.partitionBy("prio", "bkt").orderBy("t", "d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = deltas.withColumn("run", sum("d").over(wLocal))
    // Per-bucket totals: |prios| × |months| rows — tiny at any scale.
    val wPrefix = Window.partitionBy("prio").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy("prio", "bkt")
      .agg(sum("d").as("tot"))
      .withColumn("off", coalesce(sum("tot").over(wPrefix), lit(0L)))
      .select("prio", "bkt", "off")
    local.join(broadcast(offsets), Seq("prio", "bkt"))
      .withColumn("open", col("run") + col("off"))
      .select("prio", "t", "d", "open")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — dissolve per version via the custom EnvelopeUnion Aggregator
    // (ST_UnaryUnion(ST_Collect(...)) GROUP BY version, tileconfig.py:567-586)
    "a1_envelope_union" -> ((s, _) => {
      import s.implicits._
      Tables.boundaries(s)
        .select(col("version"), col("xmin"), col("ymin"), col("xmax"), col("ymax"))
        .as[(Int, Int, Int, Int, Int)]
        .groupByKey(_._1)
        .mapValues(t => Envelope(t._2, t._3, t._4, t._5))
        .agg(EnvelopeUnion.toColumn.name("env"))
        .toDF("version", "env")
        .select(col("version"), col("env.xmin").as("uxmin"),
          col("env.ymin").as("uymin"), col("env.xmax").as("uxmax"),
          col("env.ymax").as("uymax"))
    }),

    // A2 — array_agg(tile) GROUP BY version (tileconfig.py:587-598);
    // sorted + joined to a string for order-stable comparison
    "a2_tiles_per_version" -> ((s, _) =>
      Tables.boundaries(s).groupBy("version")
        .agg(array_join(sort_array(collect_list("tile_id")), ",").as("tiles"),
          count(lit(1)).as("n"))),

    // A3 — monitor log grouped per tile (recorder.py:102)
    "a3_monitor_by_tile" -> ((s, dir) =>
      Tables.monitorLog(s, dir).groupBy("tile_id")
        .agg(count(lit(1)).as("n_samples"),
          // order-independent float sum — see Exact
          Exact.decSum(col("cpu_time_user"), 4).as("cpu_user_total"),
          max("mem_rss").as("mem_peak"))),

    // A4 — max per group (recorder.py:127)
    "a4_max_cpu_per_tile" -> ((s, dir) =>
      Tables.monitorLog(s, dir).groupBy("tile_id")
        .agg(max("cpu_time_user").as("cpu_max"))),

    // A5 — success/failure tally over worker results (processor.py:99-125)
    "a5_worker_result_counts" -> ((s, _) =>
      workerSteps(s).filter(col("step") === "export")
        .groupBy("ok").agg(count(lit(1)).as("n"))),

    // A6 — boolean conjunction over a tile's sub-steps (worker.py:691)
    "a6_steps_all_ok" -> ((s, _) =>
      workerSteps(s).groupBy("tile_id")
        .agg(expr("bool_and(ok)").as("all_ok"))),

    // A7 — duplicate detection per (tile, priority) — the error branch of
    // tileconfig.py:630-637 (implemented as intended, not the `id` bug)
    "a7_dup_detect" -> ((s, _) =>
      Tables.elevIndex(s).groupBy("tile_id", "priority")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)),

    // A8/W1 — the reference's most intricate pure-data operator:
    // highest-priority dir wins per tile, equal priorities append
    // (tileconfig.py:443-497; golden map test_tiles.py:68-91)
    "a8_priority_dedup" -> ((s, _) => {
      val w = Window.partitionBy("tile_id")
      Tables.elevIndex(s)
        .withColumn("minp", min("priority").over(w))
        .filter(col("priority") === col("minp"))
        .groupBy("tile_id")
        .agg(max("dir_version").as("version"),
          array_join(sort_array(collect_list("path")), ",").as("file_list"),
          count(lit(1)).as("n_files"))
    }),

    // A9 — cardinalities via count distinct (tileconfig.py:218-222, 511-515)
    "a9_cardinalities" -> ((s, _) =>
      Tables.boundaries(s).agg(
        countDistinct("tile_id").as("n_tiles"),
        countDistinct("version").as("n_versions"))),

    // A13 (extension) — the 100 TB form of A9: Datasketches HLL
    // cardinality (mergeable, bounded memory per group, one pass — exact
    // COUNT DISTINCT shuffles every key). The sketch's coupon phase is
    // EXACT until ~0.75·2^(lgK-3) distinct keys (measured empirically at
    // lgK=16: the sf1 leg's 15k users crossed its ~6k threshold and the
    // estimate drifted 0.25% off the oracle's exact count — the
    // hash-equality gate only holds in the exact regime). lgK=21 puts
    // the threshold at ~196k, covering every generated decade; memory
    // stays coupon-sized (4 B/key) until then. Past the threshold the
    // estimate degrades gracefully (~0.4% rse at lgK=21) — that regime
    // is spec-tested (AggJoinSpec), not hash-gated.
    // (Spark's approx_count_distinct HLL++ lacks an exact phase — off by
    // one even at 150 keys — hence the Datasketches variant.)
    // A13 — HLL approximate distinct, gated by its ERROR CONTRACT. The
    // r12 form output the raw estimate and the oracle compared it to
    // the exact count — which "passed" only while no two user_ids
    // collided in the sketch's 26-bit coupon space (expected collisions
    // ≈ k²/2²⁷ ≈ 1.4 at k≈14k distinct): the round-13 Zipf corpus
    // produced the collision and the estimate came up one short, as an
    // approximate sketch is ALLOWED to. The honest, scale-robust gate
    // is the bound itself: the estimate must track the exact count
    // within 2% (lgK=21's nominal RSE is 0.07%; the coupon-collision
    // correction adds off-by-ones at small k), asserted exactly as a
    // boolean both engines agree on. The exact count rides along for
    // the hash compare — at gate scale it is one more agg on the same
    // shuffle; at 100 TB only the sketch column survives.
    "a13_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id, 21))").as("est"))
        .select(col("event_type"), col("n_users"),
          (abs(col("est") - col("n_users")) <= col("n_users") * 0.02)
            .as("est_in_bound"))),

    // A18 (extension) — MERGEABLE-SKETCH re-aggregation: per-(type, day)
    // HLL sketches built once, then union-merged to per-type totals —
    // the incremental-analytics pattern that makes distinct-counting
    // tractable at 100 TB (daily sketch materialization; any window's
    // cardinality is a cheap register max-merge of O(days) sketches,
    // never a re-scan). Two exact booleans gate the two properties that
    // actually define the pattern: HLL union is REGISTER-EXACT
    // (max-merge), so the merged estimate must equal the single-pass
    // a13 estimate BIT-FOR-BIT (`merge_exact` — the sketches see the
    // same values, so their states are identical whatever the grouping);
    // and the estimate must track the exact count within the sketch's
    // bound (`est_in_bound` — see a13 for why exact equality was the
    // wrong gate: coupon-space hash collisions). Both aggregation
    // levels are partial-agg shuffles on shrinking keys.
    "a18_sketch_merge" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 21)").as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id, 21))")
            .as("single_pass_est"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_users"),
          (col("est") === col("single_pass_est")).as("merge_exact"),
          (abs(col("est") - col("n_users")) <= col("n_users") * 0.02)
            .as("est_in_bound"))
        .orderBy("event_type")
    }),

    // A19 (extension) — HEAVY HITTERS: tokens with frequency > n/100 of
    // the whole token stream, via a mergeable Misra–Gries sketch
    // ([[graft.functions.MisraGries]], k=100 — retains every item with
    // freq > n/k by the MG guarantee) followed by an EXACT counting pass
    // over the ≤ k candidates. The 100 TB shape: an exact groupBy must
    // shuffle every distinct token (corpus-sized junk vocabulary); the
    // sketch pass shuffles k counters per partition, and the verify
    // groupBy's shuffle carries only candidate tokens (broadcast
    // semi-join gate before the exchange). Exact-verify means the
    // sketch's undercounts never reach the output — the oracle is the
    // plain exact query. Same approx-candidates → exact-verify shape as
    // the dedup family.
    "a19_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val tok = TextOps.tokens(s, dir).select("w")
      val n = tok.count()
      val cands = tok.as[String]
        .select(new graft.functions.MisraGries(100).toColumn).head()
      tok.join(broadcast(cands.toDF("w")), Seq("w"), "left_semi")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > lit(n) / 100.0)
    }),

    // A20 (extension) — COUNT-MIN SKETCH, oracle-exact: a d=3 × w=64
    // counter grid over the token stream, bucketed by the portable h60
    // hash, estimate(key) = min over rows of its bucket count. The
    // whole sketch is two partial-agg shuffles of at most d·w counter
    // rows — at 100 TB the token stream collapses map-side into 192
    // counters per partition, and point-frequency queries broadcast the
    // 192-row sketch instead of re-scanning the corpus (the per-key
    // estimate join below enumerates the vocabulary only because the
    // gate compares every key). CMS never underestimates
    // (cm_est ≥ exact_cnt, pinned in PropertySpec); the oracle replays
    // the identical grid in SQL, so the estimates match bit-exactly —
    // the sketch itself is under test, not just its exact verify pass
    // (the a19 shape).
    "a20_countmin" -> ((s, dir) => {
      val tok = TextOps.tokens(s, dir).select("w")
      val rows = array((0 to 2).map(lit): _*)
      val bkt = (i: Column) =>
        DedupOps.h60("cm:", concat(i.cast("string"), lit("|"), col("w"))) % 64
      val sketch = tok.withColumn("i", explode(rows))
        .withColumn("bkt", bkt(col("i")))
        .groupBy("i", "bkt").agg(count(lit(1)).as("c"))
      val exact = tok.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      val est = exact.select(col("w")).withColumn("i", explode(rows))
        .withColumn("bkt", bkt(col("i")))
        .join(sketch, Seq("i", "bkt"))
        .groupBy("w").agg(min(col("c")).as("cm_est"))
      exact.join(est, Seq("w")).orderBy("w")
    }),

    // A14 (extension) — pivot: the lang × split contingency matrix of
    // the training mix (the report every corpus-curation run ends with).
    // `pivot` with EXPLICIT values keeps the plan a single-pass
    // aggregation — no extra distinct-scan job to discover columns, which
    // is the difference between one pass and two at 100 TB.
    "a14_pivot_splits" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", DedupOps.h60("spl:", col("text")) % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("lang").pivot("split", Seq("train", "val", "test"))
        .count().na.fill(0L)),

    // A10 (extension) — exact percentiles per tile: both engines use
    // linear interpolation, so values agree (rounded for float safety)
    "a10_percentiles" -> ((s, dir) =>
      Tables.monitorLog(s, dir).groupBy("tile_id")
        .agg(round(expr("percentile(cpu_time_user, 0.5)"), 6).as("cpu_p50"),
          round(expr("percentile(cpu_time_user, 0.9)"), 6).as("cpu_p90"))),

    // A12 (extension) — sketch percentiles: approx_percentile's GK
    // summary is the MERGEABLE percentile path (map-side partial sketches
    // merged at reduce — no global sort), the form that replaces a10's
    // exact percentile at 100 TB. accuracy=1e6 > N makes the rank error
    // <1 at test scale, so the result is the exact discrete quantile and
    // the oracle can pin it (quantile_disc in DuckDB).
    "a12_approx_percentiles" -> ((s, dir) =>
      Tables.monitorLog(s, dir).groupBy("tile_id")
        .agg(expr("approx_percentile(mem_rss, 0.5, 1000000)").as("mem_p50"),
          expr("approx_percentile(mem_rss, 0.9, 1000000)").as("mem_p90"))),

    // A11 (extension) — rollup subtotals over (tile, pid): grouping-set
    // aggregation for pipeline reporting
    "a11_rollup_monitor" -> ((s, dir) =>
      Tables.monitorLog(s, dir)
        .rollup("tile_id", "pid")
        .agg(count(lit(1)).as("n"))),

    // W1 — explicit rank-per-partition over the file index
    "w1_rank_files" -> ((s, _) =>
      Tables.elevIndex(s).select(col("tile_id"), col("path"),
        row_number().over(
          Window.partitionBy("tile_id").orderBy("priority", "path")).as("rn"))),

    // W4 — time-series downsample: tumbling 1-hour buckets per tile
    // (recorder.py:81-103 analytics, scaled form)
    "w4_monitor_resample" -> ((s, dir) =>
      Tables.monitorLog(s, dir)
        .groupBy(col("tile_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          // order-independent float sum — see Exact
          Exact.decSum(col("cpu_time_user"), 4).as("cpu_total"),
          max("mem_rss").as("mem_peak"))),

    // W5 — per-tile ordered deltas (the monitor series' derivative)
    "w5_monitor_delta" -> ((s, dir) => {
      val w = Window.partitionBy("tile_id").orderBy("ts", "event_id")
      Tables.monitorLog(s, dir)
        .select(col("tile_id"), col("event_id"),
          (col("cpu_time_user") - lag("cpu_time_user", 1).over(w)).as("cpu_delta"))
    }),

    // W9 (extension) — window-FRAME aggregation: trailing 4-row moving
    // sum/average of purchase value per user. The frame sums are done in
    // exact DECIMAL(18,4) so the sliding aggregate is identical no matter
    // how the engine evaluates the frame (DuckDB's segment tree vs
    // Spark's running accumulator add values in different orders — exact
    // decimals make that unobservable). One shuffle on the partition key.
    "w9_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("sum_d", sum(Exact.dec(col("value"))).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"),
          round(col("sum_d"), 2).cast("double").as("mov_sum"),
          round(col("sum_d").cast("double") / col("cnt"), 6).as("mov_avg"))
    }),

    // A16 (extension) — rank-transform windows: percent_rank + ntile
    // deciles of document length per language (the curriculum-binning /
    // difficulty-bucketing step of a training-mix builder). Unique
    // ordering (n_chars, doc_id) makes both rank functions
    // deterministic; the window key is the language — corpus-parallel.
    "a16_decile_rank" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("decile", ntile(10).over(w))
    }),

    // A15 (extension) — GROUPING SETS: the general multi-group form that
    // a11's rollup special-cases; one shuffle produces all four grouping
    // combinations (Spark expands sets into a single Expand + partial
    // aggregation, not one scan per set). GROUPING() markers disambiguate
    // "NULL key" from "aggregated-away key" on both engines.
    "a15_grouping_sets" -> ((s, dir) =>
      Session.sql(s, "orders_gs" -> Tables.orders(s, dir))(
        """SELECT o_orderstatus, o_orderpriority,
          |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
          |       COUNT(*) AS n,
          |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
          |            AS DOUBLE) AS revenue
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // W10 (extension) — inter-event gap percentiles: time since the
    // user's previous activity, summarized per arriving event type (the
    // behavioral inter-arrival profile next to j11's funnel and a17's
    // retention). One shuffle for the per-user lag window, one for the
    // tiny per-type aggregate. Gaps are exact integer microseconds
    // divided by an exact constant, so both engines interpolate
    // percentiles from bit-identical operands (a10's parity argument);
    // at 100 TB the percentile swaps for the mergeable GK sketch as a12.
    "w10_event_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s",
          (unix_micros(col("ts")) - col("prev_us")) / lit(1000000.0))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 6).as("gap_p50"),
          round(expr("percentile(gap_s, 0.9)"), 6).as("gap_p90"),
          round(max("gap_s"), 6).as("gap_max"))
        .orderBy("event_type")
    }),

    // W11 (extension) — SWEEP-LINE peak concurrency: how many orders of
    // each priority are simultaneously "open" (30-day lifetime), at the
    // busiest instant — max over the sweep's running open count, no
    // interval×interval join anywhere (see [[sweepOpen]] for the
    // two-level scale shape).
    "w11_peak_concurrency" -> ((s, dir) =>
      sweepOpen(s, dir)
        .groupBy("prio")
        .agg(max("open").as("peak_open"), count(lit(1)).as("n_boundaries"))
        .orderBy("prio")),

    // W13 (extension) — interval SELF-OVERLAP pair counts from the same
    // sweep, never a self-join: every start event sees `open − 1` other
    // intervals already open, and summing that over starts counts each
    // overlapping pair exactly once (half-open [start, start+30d)
    // semantics; equal-start tie groups contribute C(k,2) — the per-row
    // running sum inside a tie group is order-dependent but its SUM is
    // permutation-invariant, so the result is deterministic under any
    // partitioning). The oracle recomputes the count by day-bucketed
    // outer-product aggregation (Σ g(d)·g(d+k)) + an explicit tie
    // term — an independent algorithm validating the sweep. (Its r10
    // form was a literal range self-join; DuckDB planned that as
    // hash-join-on-prio + residual filter — ~10^11 candidates at sf1 —
    // so the enumeration-free formulation replaced it in round 11.)
    "w13_overlap_pairs" -> ((s, dir) =>
      sweepOpen(s, dir)
        .filter(col("d") === 1)
        .groupBy("prio")
        .agg(sum(col("open") - 1).as("n_pairs"),
          count(lit(1)).as("n_intervals"))
        .orderBy("prio")),

    // W14 (extension) — INTERVAL UNION COVERAGE: total time each user
    // is "active" under 30-minute event windows, with overlaps counted
    // ONCE — the union-of-intervals length, the dwell/uptime metric.
    // Same boundary-sweep family as w11/w13 (never an interval self
    // join): +1/−1 deltas, running open count per user, and the covered
    // time is the sum of boundary-segment lengths where open > 0.
    // user_id is a corpus-cardinality key, so the per-user window is
    // well-distributed (the w8/w10 argument) — no two-level split
    // needed. Ends sort before starts at equal t (ORDER BY t, d):
    // half-open intervals, touching windows don't bridge. All-integer
    // microseconds end to end — no float crosses the engine boundary.
    "w14_interval_coverage" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val b = ev.select(col("user_id"), col("ts").as("t"), lit(1).as("d"))
        .unionByName(ev.select(col("user_id"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1).as("d")))
      val run = Window.partitionBy("user_id").orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val seq = Window.partitionBy("user_id").orderBy("t", "d")
      b.withColumn("open", sum("d").over(run))
        .withColumn("nxt_us", lead(unix_micros(col("t")), 1).over(seq))
        .filter(col("open") > 0 && col("nxt_us").isNotNull)
        .withColumn("cov_us", col("nxt_us") - unix_micros(col("t")))
        .groupBy("user_id")
        .agg(sum("cov_us").as("covered_us"),
          count(lit(1)).as("n_segments"))
    }),

    // W15 (extension) — CALENDAR GAP-FILL + FORWARD FILL: the hourly
    // monitor rollup densified to one row per (tile, hour) across each
    // tile's own observed span, gap hours flagged, and the last observed
    // mem_peak carried forward through gaps. The calendar is generated
    // per tile from its min/max hour (sequence + explode) — sized by
    // TIME SPAN × tiles, never by corpus rows — and the fill is one
    // last(ignoreNulls) window per tile. At 100 TB the hourly rollup
    // (first groupBy) has already shrunk the fact table to the grid, so
    // everything downstream of the first shuffle is calendar-sized.
    "w15_gap_fill" -> ((s, dir) => {
      val hourly = Tables.monitorLog(s, dir)
        .groupBy(col("tile_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_obs"), max("mem_rss").as("mem_peak"))
      val cal = hourly.groupBy("tile_id")
        .agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(col("tile_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy("tile_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(hourly, Seq("tile_id", "hour"), "left")
        .select(col("tile_id"), col("hour"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          col("n_obs").isNull.as("is_gap"),
          last("mem_peak", ignoreNulls = true).over(w).as("mem_peak_filled"))
    }),

    // W17 (extension) — EXACT z-score OUTLIER FLAGS: per-tile count of
    // monitor readings beyond 1.5σ of the tile's own distribution,
    // decided WITHOUT any float: with dev = n·x − Σ = n(x−μ) and
    // varn = n·Σx² − Σ² = n²σ², |x−μ| > 1.5σ  ⇔  4·dev² > 9·varn —
    // all in exact wide-integer arithmetic. Arithmetic envelope: terms
    // reach ~4·n²·max(x)², so DECIMAL(38,0) is exact up to n ≈ 2.5e9
    // readings PER TILE at x ≤ 1e9 — beyond that, pre-aggregate per
    // (tile, time-bucket) first (w15's rollup) or widen the
    // representation; Spark decimal overflow yields NULL (counted as
    // non-outlier), it does not wrap. (The
    // threshold is 1.5 because the fixture's mem_rss is near-uniform,
    // whose max deviation is √3σ ≈ 1.73σ — a 2σ gate would flag nothing
    // and leave the path unexercised; a real heavy-tailed corpus uses
    // 2-3σ. The constant is the policy knob; the exact-arithmetic plan
    // is the point.) (DECIMAL(38,0) here,
    // HUGEINT in the oracle — internal types differ, outputs are plain
    // BIGINTs). A float mean/stddev differs across engines by reduction
    // order; the cross-multiplied integer test cannot. Two passes: one
    // per-tile aggregate (n, Σ, Σx²) broadcast back as an O(tiles)
    // relation, then a map-side flag — the shape that holds when tiles
    // number in the millions and readings in the trillions.
    "w17_zscore_outliers" -> ((s, dir) => {
      val m = Tables.monitorLog(s, dir)
        .select(col("tile_id"), col("mem_rss").cast("decimal(38,0)").as("x"))
      val stats = m.groupBy("tile_id").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("s1"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("s2"))
      val dev = col("n") * col("x") - col("s1")
      val varn = col("n") * col("s2") - col("s1") * col("s1")
      m.join(broadcast(stats), Seq("tile_id"))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_readings"),
          sum(when(lit(4) * dev * dev > lit(9) * varn, 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("tile_id")
    }),

    // A21 (extension) — EXACT MODE per group with a deterministic
    // tiebreak (highest count, then lexicographically smallest value):
    // the most frequent token per language. Two aggregations, both
    // map-side combinable — the (lang, w) count shuffle, then the pick
    // as min(struct(−cnt, w)) which needs no window and no sort (the
    // w16 struct-ordering trick pointed at argmax). At 100 TB the first
    // shuffle is the only data-sized stage; the pick stage sees
    // vocabulary-sized input.
    "a21_mode_token" -> ((s, dir) => {
      val lw = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      lw.groupBy("lang")
        .agg(min(struct((-col("cnt")).as("nc"), col("w").as("w"))).as("m"))
        .select(col("lang"), col("m.w").as("mode_w"), (-col("m.nc")).as("cnt"))
        .orderBy("lang")
    }),

    // W16 (extension) — OHLC DOWNSAMPLE: per (event_type, day)
    // open/high/low/close/volume over the event value stream — the
    // canonical time-series compaction. Open/close are exact
    // argmin/argmax by the total (ts, event_id) order, computed as
    // min/max of a (us, event_id, value) struct — a single map-side-
    // combinable aggregate: no window, no per-partition sort, one
    // shuffle keyed by (type, day) with partial aggregation. The struct
    // comparison never reaches the float field (event_id is unique), so
    // both engines pick the identical row and the raw doubles compare
    // bit-exactly with no rounding anywhere.
    "w16_ohlc" -> ((s, dir) => {
      def byTime(v: String) = struct(unix_micros(col("ts")).as("us"),
        col("event_id").as("eid"), col("value").as(v))
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(min(byTime("v")).getField("v").as("open"),
          max(byTime("v")).getField("v").as("close"),
          max("value").as("high"), min("value").as("low"),
          count(lit(1)).as("volume"))
    }),

    // A17 (extension) — cohort retention matrix: users bucketed by their
    // first-activity week, counted (distinct) in each later week they
    // returned. Two shuffles, both on keys that shrink the data: the
    // per-user first-week aggregate (|users| rows), then the per-
    // (cohort, offset) distinct count. The week offset is an exact
    // integer (day diffs between week truncations are multiples of 7),
    // so no float crosses an engine boundary anywhere.
    "a17_retention_cohorts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      val firsts = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      ev.distinct()
        .join(firsts, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_week")) / lit(7)).cast("int"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    })
  )

  def oracles: Map[String, String] = Map(
    "a1_envelope_union" -> Sql.query(Sql.boundaries)(
      """SELECT version, MIN(xmin) AS uxmin, MIN(ymin) AS uymin,
        |       MAX(xmax) AS uxmax, MAX(ymax) AS uymax
        |FROM boundaries GROUP BY version""".stripMargin),

    "a2_tiles_per_version" -> Sql.query(Sql.boundaries)(
      """SELECT version, string_agg(tile_id, ',' ORDER BY tile_id) AS tiles,
        |       COUNT(*) AS n
        |FROM boundaries GROUP BY version""".stripMargin),

    "a3_monitor_by_tile" -> Sql.query(Sql.monitor)(
      """SELECT tile_id, COUNT(*) AS n_samples,
        |       CAST(ROUND(SUM(CAST(cpu_time_user AS DECIMAL(18,4))), 4) AS DOUBLE)
        |         AS cpu_user_total,
        |       MAX(mem_rss) AS mem_peak
        |FROM monitor GROUP BY tile_id""".stripMargin),

    "a4_max_cpu_per_tile" -> Sql.query(Sql.monitor)(
      "SELECT tile_id, MAX(cpu_time_user) AS cpu_max FROM monitor GROUP BY tile_id"),

    "a5_worker_result_counts" -> Sql.query(Sql.boundaries, workerStepsSql)(
      """SELECT ok, COUNT(*) AS n FROM worker_steps
        |WHERE step = 'export' GROUP BY ok""".stripMargin),

    "a6_steps_all_ok" -> Sql.query(Sql.boundaries, workerStepsSql)(
      "SELECT tile_id, bool_and(ok) AS all_ok FROM worker_steps GROUP BY tile_id"),

    "a7_dup_detect" -> Sql.query(Sql.elevFiles, Sql.elevIndex)(
      """SELECT tile_id, priority, COUNT(*) AS n FROM elev_index
        |GROUP BY tile_id, priority HAVING COUNT(*) > 1""".stripMargin),

    "a8_priority_dedup" -> Sql.query(Sql.elevFiles, Sql.elevIndex)(
      """SELECT tile_id, MAX(dir_version) AS version,
        |       string_agg(path, ',' ORDER BY path) AS file_list,
        |       COUNT(*) AS n_files
        |FROM (SELECT *, MIN(priority) OVER (PARTITION BY tile_id) AS minp
        |      FROM elev_index) t
        |WHERE priority = minp
        |GROUP BY tile_id""".stripMargin),

    "a9_cardinalities" -> Sql.query(Sql.boundaries)(
      """SELECT COUNT(DISTINCT tile_id) AS n_tiles,
        |       COUNT(DISTINCT version) AS n_versions FROM boundaries""".stripMargin),

    // a13/a18: the oracle asserts the exact counts and requires the
    // sketch-side booleans TRUE — the estimate's 2% contract and (a18)
    // the register-exact merge are what an approximate sketch
    // guarantees; exact estimate==count equality is not (see the query
    // comments: coupon-space collisions)
    "a13_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |       TRUE AS est_in_bound
        |FROM events GROUP BY event_type""".stripMargin,

    "a18_sketch_merge" ->
      """SELECT event_type,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       TRUE AS merge_exact, TRUE AS est_in_bound
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // a19: the sketch is invisible to semantics (exact verify pass) —
    // the oracle is the direct exact heavy-hitter query
    "a19_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE w <> '')
        |SELECT w, COUNT(*) AS cnt
        |FROM tok
        |GROUP BY w
        |HAVING COUNT(*) > (SELECT COUNT(*) FROM tok) / 100.0""".stripMargin,

    // a20: the oracle replays the SAME d×w counter grid (portable h60
    // bucketing), so the CMS estimates themselves are compared bit-exact
    "a20_countmin" -> {
      val h = graft.operators.DedupOps.h60Sql("cm:", "CAST(i AS VARCHAR) || '|' || w")
      s"""WITH tok AS (
         |  SELECT w FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE w <> ''),
         |ids AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2),
         |sketch AS (
         |  SELECT i, $h % 64 AS bkt, COUNT(*) AS c
         |  FROM tok CROSS JOIN ids GROUP BY 1, 2),
         |exact AS (SELECT w, COUNT(*) AS exact_cnt FROM tok GROUP BY w),
         |est AS (
         |  SELECT kb.w, MIN(s.c) AS cm_est
         |  FROM (SELECT e.w, ids.i, $h % 64 AS bkt FROM exact e CROSS JOIN ids) kb
         |  JOIN sketch s ON kb.i = s.i AND kb.bkt = s.bkt
         |  GROUP BY kb.w)
         |SELECT e.w, e.exact_cnt, t.cm_est
         |FROM exact e JOIN est t ON e.w = t.w
         |ORDER BY e.w""".stripMargin
    },

    // a14: conditional aggregation — the pivot must equal the hand-built
    // contingency matrix
    "a14_pivot_splits" -> {
      val b = graft.operators.DedupOps.h60Sql("spl:", "text")
      s"""SELECT lang,
         |       CAST(SUM(CASE WHEN b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS train,
         |       CAST(SUM(CASE WHEN b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS val,
         |       CAST(SUM(CASE WHEN b >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS test
         |FROM (SELECT lang, $b % 100 AS b FROM documents) t
         |GROUP BY lang""".stripMargin
    },

    "a10_percentiles" -> Sql.query(Sql.monitor)(
      """SELECT tile_id,
        |       ROUND(quantile_cont(cpu_time_user, 0.5), 6) AS cpu_p50,
        |       ROUND(quantile_cont(cpu_time_user, 0.9), 6) AS cpu_p90
        |FROM monitor GROUP BY tile_id""".stripMargin),

    "a12_approx_percentiles" -> Sql.query(Sql.monitor)(
      """SELECT tile_id,
        |       quantile_disc(mem_rss, 0.5) AS mem_p50,
        |       quantile_disc(mem_rss, 0.9) AS mem_p90
        |FROM monitor GROUP BY tile_id""".stripMargin),

    "a11_rollup_monitor" -> Sql.query(Sql.monitor)(
      """SELECT tile_id, pid, COUNT(*) AS n
        |FROM monitor GROUP BY ROLLUP (tile_id, pid)""".stripMargin),

    "w1_rank_files" -> Sql.query(Sql.elevFiles, Sql.elevIndex)(
      """SELECT tile_id, path,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY tile_id
        |                               ORDER BY priority, path) AS INT) AS rn
        |FROM elev_index""".stripMargin),

    "w4_monitor_resample" -> Sql.query(Sql.monitor)(
      """SELECT tile_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(cpu_time_user AS DECIMAL(18,4))), 4) AS DOUBLE)
        |         AS cpu_total,
        |       MAX(mem_rss) AS mem_peak
        |FROM monitor GROUP BY tile_id, date_trunc('hour', ts)""".stripMargin),

    // w17: the oracle replays the cross-multiplied integer test in
    // HUGEINT (int128) — exact, so both engines must flag the same rows
    "w17_zscore_outliers" -> Sql.query(Sql.monitor,
      """m AS (SELECT tile_id, CAST(mem_rss AS HUGEINT) AS x FROM monitor),
        |stats AS (
        |  SELECT tile_id, CAST(COUNT(*) AS HUGEINT) AS n,
        |         SUM(x) AS s1, SUM(x * x) AS s2
        |  FROM m GROUP BY tile_id)""".stripMargin)(
      """SELECT m.tile_id, COUNT(*) AS n_readings,
        |       CAST(SUM(CASE WHEN 4 * (s.n * m.x - s.s1) * (s.n * m.x - s.s1)
        |                          > 9 * (s.n * s.s2 - s.s1 * s.s1)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM m JOIN stats s ON s.tile_id = m.tile_id
        |GROUP BY m.tile_id ORDER BY m.tile_id""".stripMargin),

    // a21: the oracle picks the mode with an explicit (cnt DESC, w ASC)
    // window rank — a different formulation that must land on the same
    // deterministic pick
    "a21_mode_token" ->
      """WITH lw AS (
        |  SELECT lang, w, COUNT(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE w <> '' GROUP BY lang, w)
        |SELECT lang, w AS mode_w, cnt FROM (
        |  SELECT lang, w, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY cnt DESC, w) AS rn
        |  FROM lw) r
        |WHERE rn = 1 ORDER BY lang""".stripMargin,

    // w16: arg_min/arg_max over the zero-padded (epoch_us, event_id)
    // string reproduces the struct-ordering pick exactly (event_id is
    // unique, so the value field never participates in the order)
    "w16_ohlc" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |       arg_min(value, printf('%020d|%020d', epoch_us(ts), event_id))
        |         AS open,
        |       arg_max(value, printf('%020d|%020d', epoch_us(ts), event_id))
        |         AS close,
        |       MAX(value) AS high, MIN(value) AS low, COUNT(*) AS volume
        |FROM events GROUP BY 1, 2""".stripMargin,

    // w15: DuckDB regenerates the per-tile hour calendar and replays the
    // forward fill with last_value IGNORE NULLS
    "w15_gap_fill" -> Sql.query(Sql.monitor,
      """hourly AS (
        |  SELECT tile_id, date_trunc('hour', ts) AS hour,
        |         COUNT(*) AS n_obs, MAX(mem_rss) AS mem_peak
        |  FROM monitor GROUP BY 1, 2)""".stripMargin,
      """cal AS (
        |  SELECT tile_id,
        |         unnest(generate_series(MIN(hour), MAX(hour),
        |                                INTERVAL 1 HOUR)) AS hour
        |  FROM hourly GROUP BY tile_id)""".stripMargin)(
      """SELECT c.tile_id, c.hour,
        |       COALESCE(h.n_obs, 0) AS n_obs,
        |       h.n_obs IS NULL AS is_gap,
        |       last_value(h.mem_peak IGNORE NULLS) OVER (
        |         PARTITION BY c.tile_id ORDER BY c.hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS mem_peak_filled
        |FROM cal c LEFT JOIN hourly h
        |  ON h.tile_id = c.tile_id AND h.hour = c.hour""".stripMargin),

    "w5_monitor_delta" -> Sql.query(Sql.monitor)(
      """SELECT tile_id, event_id,
        |       cpu_time_user - LAG(cpu_time_user) OVER (
        |         PARTITION BY tile_id ORDER BY ts, event_id) AS cpu_delta
        |FROM monitor""".stripMargin),

    "w9_moving_avg" ->
      """SELECT user_id, event_id,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER w, 2)
        |            AS DOUBLE) AS mov_sum,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |             / (COUNT(*) OVER w), 6) AS mov_avg
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    "a16_decile_rank" ->
      """SELECT doc_id, lang, n_chars,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        |       CAST(NTILE(10) OVER w AS INT) AS decile
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)""".stripMargin,

    "a15_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        |       COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |            AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "w11_peak_concurrency" ->
      """WITH deltas AS (
        |  SELECT o_orderpriority AS prio, o_orderdate AS t, 1 AS d
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority, o_orderdate + INTERVAL 30 DAY, -1
        |  FROM orders),
        |op AS (
        |  SELECT prio, SUM(d) OVER (PARTITION BY prio ORDER BY t, d
        |              ROWS UNBOUNDED PRECEDING) AS open
        |  FROM deltas)
        |SELECT prio, CAST(MAX(open) AS BIGINT) AS peak_open,
        |       COUNT(*) AS n_boundaries
        |FROM op GROUP BY prio ORDER BY prio""".stripMargin,

    // independent algorithm: day-bucketed outer-product pair counting —
    // per-(prio, day) counts g, then cross pairs = Σ g(d)·g(d+k) for
    // day offsets k ∈ [1, 29] (orderdates are day-granular in both
    // fixture generators; offset 30 is excluded by the half-open
    // [st, st+30d) window), plus the closed-form C(k,2) tie term for
    // equal-start groups. No running sum, no sweep — and, unlike the
    // r10 IEJoin formulation, no pair ENUMERATION either: DuckDB
    // planned equality+range as a hash join on prio with a residual
    // range filter, which at sf1 meant ~10^11 filtered candidates and
    // an hour-plus oracle. The aggregated outer product is exact over
    // ≤ |days|·|prios| rows.
    "w13_overlap_pairs" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS prio, o_orderdate AS st,
        |         date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
        |                   o_orderdate) AS d
        |  FROM orders),
        |g AS (SELECT prio, d, COUNT(*) AS n FROM o GROUP BY prio, d),
        |cross_pairs AS (
        |  SELECT a.prio, CAST(SUM(a.n * b.n) AS BIGINT) AS n
        |  FROM g a
        |  JOIN (SELECT unnest(generate_series(1, 29)) AS k) ks ON true
        |  JOIN g b ON b.prio = a.prio AND b.d = a.d + k
        |  GROUP BY a.prio),
        |tie_pairs AS (
        |  SELECT prio, CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n
        |  FROM g GROUP BY prio),
        |counts AS (SELECT prio, CAST(SUM(n) AS BIGINT) AS n_intervals
        |           FROM g GROUP BY prio)
        |SELECT c.prio,
        |       CAST(COALESCE(cp.n, 0) + COALESCE(tp.n, 0) AS BIGINT)
        |         AS n_pairs,
        |       c.n_intervals
        |FROM counts c
        |LEFT JOIN cross_pairs cp ON cp.prio = c.prio
        |LEFT JOIN tie_pairs tp ON tp.prio = c.prio
        |ORDER BY c.prio""".stripMargin,

    // w14: same sweep replayed relationally (windows are deterministic:
    // ties carry zero-length segments whose membership is fixed by the
    // (t, d) order both engines share)
    "w14_interval_coverage" ->
      """WITH b AS (
        |  SELECT user_id, ts AS t, 1 AS d FROM events
        |  UNION ALL
        |  SELECT user_id, ts + INTERVAL 30 MINUTE AS t, -1 AS d FROM events),
        |sw AS (
        |  SELECT user_id, t, d,
        |         SUM(d) OVER (PARTITION BY user_id ORDER BY t, d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open,
        |         LEAD(epoch_us(t)) OVER (PARTITION BY user_id
        |           ORDER BY t, d) AS nxt_us
        |  FROM b)
        |SELECT user_id,
        |       CAST(SUM(nxt_us - epoch_us(t)) AS BIGINT) AS covered_us,
        |       COUNT(*) AS n_segments
        |FROM sw
        |WHERE open > 0 AND nxt_us IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    "w10_event_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |         (epoch_us(ts) - lag(epoch_us(ts)) OVER
        |            (PARTITION BY user_id ORDER BY ts, event_id))
        |           / 1000000.0 AS gap_s
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |       ROUND(quantile_cont(gap_s, 0.5), 6) AS gap_p50,
        |       ROUND(quantile_cont(gap_s, 0.9), 6) AS gap_p90,
        |       ROUND(MAX(gap_s), 6) AS gap_max
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // both engines truncate weeks to Monday (ISO), so cohort keys align
    "a17_retention_cohorts" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |                   CAST(DATE_TRUNC('week', ts) AS DATE) AS wk
        |            FROM events),
        |firsts AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT cohort_week,
        |       CAST(DATE_DIFF('day', cohort_week, wk) / 7 AS INT) AS week_offset,
        |       COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN firsts ON ev.user_id = firsts.user_id
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin
  )
}
