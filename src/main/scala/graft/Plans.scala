package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: `explain("formatted")` output for representative
  * queries, so the physical plans (pushdown, pruning, broadcast, codegen
  * spans) can be reviewed without running anything. */
object Plans {
  // private[graft]: PlansDriftSpec pins PLANS.md against this list
  private[graft] val Show = Seq(
    "q1_pricing_summary",  // scan-agg: pushdown + partial agg + codegen
    "q5_nation_revenue",   // star join: broadcast every dimension
    "j1_feature_index_join", // large-large equi join under AQE
    "j6_file_lookup",      // broadcast dimension lookup
    "dd2_minhash_lsh",     // banded candidate join (bucket = shuffle key)
    "dd3_jaccard_pairs",   // df-capped shingle self-join (bounded fan-out)
    "dd6_dedup_filter",    // candidate-proportional Jaccard verification
    "tx6_trigram_langid",  // per-row array_distinct, no corpus-wide distinct
    "w6_asof_join",        // as-of via union + window (single shuffle)
    "w7_range_join",       // temporal range join as cell equi-join
    "pp3_embed_pipeline",  // broadcast-centroid IVF assignment
    "nn2_lsh_ann",         // bucketed ANN probe
    "ds4_lang_rebalance",  // skew-safe two-phase per-lang top-K
    "k12_upsert_merge",    // CDC merge: windowed union, no full-outer join
    "ds7_decontaminate",   // banded train/test leakage probe
    "tx9_tfidf",           // broadcast df side + TakeOrdered top-k
    "q8_market_share",     // six broadcast dims, one fact-fact shuffle
    "q15_top_supplier",    // scalar-max branch reuses the agg exchange
    "q19_disjunctive_revenue", // OR across join sides stays an equi hash join
    "j11_event_funnel",    // all funnel stages co-partition on user_id
    "ds10_temperature_resample", // O(languages) rates broadcast over the corpus
    "w11_peak_concurrency", // two-level sweep: (prio, month) window + broadcast offsets
    "w12_asof_tolerance",  // freshness-gated as-of: one shuffle, join-free
    "tx12_zipf_topshare",  // (lang, w) partial-agg shuffle, no documents join
    "k16_compaction_plan", // per-source offset binning over file metadata
    "nn12_multiprobe_ann", // Hamming-1 probe expansion stays an equi-join
    "j12_bloom_prune",     // bloom sketch probe in the fact scan's filter set
    "ds13_curriculum_order", // exact global NTILE with per-range-partition windows
    "nn13_pq_adc",         // PQ: broadcast codebook encode + code-only ADC search
    "g1_pagerank",         // per-iteration node-keyed shuffles, TakeOrdered top-20
    "g5_pagerank_converged", // convergence loop: checkpointed ranks, TakeOrdered
    "g2_triangle_count",   // degree-oriented wedge equi-join + closing semi-join
    "a20_countmin",        // corpus→192-counter partial agg, broadcast sketch probe
    "ds15_ks_drift",       // value-grid windows partitioned by source
    "w15_gap_fill",        // calendar-sized densify + per-tile fill window
    "tx15_cooccurrence_lift", // doc-bounded pair join, broadcast vocab counts
    "tx19_capped_cooccurrence", // the capped form: constant per-doc pair fan-out
    "dd13_incremental_dedup", // batch-proportional new-vs-corpus band probe
    "g4_bfs_hops",         // fixed-round min-propagation, node-keyed shuffles
    "q21_waiting_supplier", // EXISTS+NOT-EXISTS as per-order distinct counts
    "q2_min_cost_supplier", // correlated MIN re-join, all dims broadcast
    "nn15_partitioned_ivf_probe", // DPP subquery prunes the probed list's partition
    "tx16_bigram_score",   // (w1,w2) count equi-join, decimal contrib sum
    "dd15_cc_starcontract", // star-contraction rounds, node-keyed partial aggs
    "tx17_bpe_merge_step",  // pair-count shuffle + TakeOrdered top-10
    "p15_poly_within",     // codegen'd point_in_poly over a broadcast edge array
    "j14_poly_bin_join",   // bin-cell equi-join + exact ray-cast residual
    "dd16_url_canonicalize", // per-row canonicalization + one partial-agg shuffle
    "tx18_nfc_normalize",  // per-row NFC expression on the corpus scan
    "dd14_minhash_production", // r14 wide re-plan: minhash_array + 128-min HashAggregate, NO ObjectHashAggregate
    "dd1_exact_dedup",     // canonical exact dedup: one hash-groupBy, no join
    "dd8_shingle_dupfrac", // df-capped shingle overlap, doc-bounded pair join
    "g6_bucketed_pagerank", // build-once bucketed edges: exchange-free join side per iteration
    "pp6_sequence_pack",   // cluster-derived range partitions, pid-local windows
    "k15_bucketed_join",   // bucketed SMJ read-back: zero exchanges on either side
    "j13_salted_join",     // AQE skew-split on a natural Zipf hub key
    "mm7_phash_neardup")   // Hamming-ball pHash bucket join over binary payloads

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.builder("local[4]", 4, "plans_").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Debug arm: `Plans <sfDir> <queryName>` prints ONE query's EXECUTED
    // plan (post-AQE — what actually ran, not what was proposed) to
    // stdout and exits. For plan triage on any corpus without editing
    // the Show list.
    args.lift(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      println(df.queryExecution.executedPlan.toString)
      spark.stop()
      return
    }
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `sbt \"runMain graft.Plans $sfDir\"`. ")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans, ")
    sb.append("`BroadcastHashJoin` on dimension sides, `partial_` aggregate ")
    sb.append("pairs, and `WholeStageCodegen` spans. `InMemoryRelation` ")
    sb.append("nodes in the dedup plans are the shared persisted relations ")
    sb.append("(`sources/Cached`) every query in the family reuses.\n")
    Show.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println("wrote PLANS.md")
    spark.stop()
  }
}
