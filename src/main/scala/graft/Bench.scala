package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A warmup pass (trivial job + a scan of each base
  * table) runs first so per-query numbers reflect steady state rather
  * than JVM/session startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(s"local[$cpus]", cpus, "").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: codegen/JIT + file-system metadata, outside the timings.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.sources.Tables.table(spark, sfDir, t).count())

    // min of three INTERLEAVED full passes per query: the machine is
    // multi-tenant and single-shot timings vary >2x under load (round 5's
    // driver sweep read 71.4 s where the identical commit measured
    // 41.4 s minutes later). Back-to-back repeats of one query land in
    // the same contention window; interleaving whole-sweep passes
    // separates the three samples by minutes, so the per-query min
    // approximates the uncontended cost. A crashed query reports -1
    // (not a fake duration) so failures are visible in the JSON, and the
    // first error message per query lands in BENCH_FULL's "errors" map —
    // the round-9 driver run's 8 failures were undiagnosable from the
    // record alone because the cause was swallowed here.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        -1.0
      }
    }
    // Optional local-iteration filter (driver never sets it): time only
    // the comma-separated query names in SPARK_GRAFT_ONLY — mirrors
    // Verify's filter, for targeted perf work on one query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // a typo'd name must error, not silently time zero queries and
    // print a plausible-but-vacuous JSON line
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val passes = (1 to 3).map(_ => named.map { case (name, fn) => time(name, fn) })
    val results = named.zipWithIndex.map { case ((name, _), i) =>
      val samples = passes.map(_(i))
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    val ok = results.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    // explicit locale: the default-locale f-interpolator emits "1,234"
    // under comma-decimal locales, corrupting the JSON line
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The driver keeps only a bounded tail of stdout, so the JSON line must
    // stay short: report the headline subset inline (one per operator
    // family); the full per-query map goes to a sidecar file.
    val headline = Seq("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
      "j1_feature_index_join", "j10_binned_spatial_join", "a8_priority_dedup",
      "w6_asof_join", "w7_range_join", "dd2_minhash_lsh", "nn1_cosine_topk",
      "nn4_ivf_ann", "pp3_embed_pipeline",
      "tx2_quality", "mm1_decode_meta", "st1_stream_monitor_agg",
      "s8_dsv2_tiledir", "pp1_training_pipeline",
      "k12_upsert_merge", "dd9_dup_components", "ds7_decontaminate",
      "pp4_curation_pipeline",
      "q8_market_share", "q15_top_supplier", "j11_event_funnel",
      "ds10_temperature_resample", "st11_stream_observe",
      "k15_bucketed_join", "nn10_mips_topk",
      "j12_bloom_prune", "nn13_pq_adc", "ds13_curriculum_order",
      "k17_zorder_layout", "g1_pagerank", "g5_pagerank_converged",
      "g2_triangle_count",
      "a20_countmin", "ds15_ks_drift", "st12_stream_drift", "dd12_containment",
      "g4_bfs_hops", "dd13_incremental_dedup", "w15_gap_fill", "w16_ohlc",
      "tx15_cooccurrence_lift", "st13_availablenow_ingest",
      "st14_stream_decontam", "v5_sql_asof", "k21_write_audit_publish",
      "q21_waiting_supplier", "q2_min_cost_supplier", "tx16_bigram_score",
      "dd15_cc_starcontract", "nn15_partitioned_ivf_probe",
      "g6_bucketed_pagerank", "dd14_minhash_production", "s1_jdbc_pushdown")
    val resMap = results.toMap
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // A filtered run is small: print every timed query inline instead of
    // the headline subset (which may not intersect the filter at all).
    val qs =
      if (only.nonEmpty) fullQs
      else headline.flatMap(h => resMap.get(h).map(v => "\"" + h + "\":" + r3(v)))
        .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    val errJson = Json.obj(errors)
    // A filtered run must not clobber the full-sweep sidecar record.
    try if (only.isEmpty) {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      w.println(s"""{"total":${r3(total)},"failed":$failedJson,"errors":$errJson,"queries":$fullQs,"sf":"$sfDir"}""")
      w.close()
    } catch { case _: Throwable => () }
    // The driver recovers the line from a bounded stdout TAIL, so it must
    // be the LAST thing on stdout: release caches and stop Spark first
    // (both log shutdown warnings), then print. Both are best-effort — a
    // throw in either must not lose the measurement, which a filtered
    // run writes nowhere else. The identical line also lands in a fixed
    // sidecar so a clipped/interleaved tail can never lose the
    // measurement. Measurement methodology (min-of-3 interleaved count()
    // per query) is unchanged.
    try if (only.isEmpty) {
      val w = new java.io.PrintWriter("BENCH_LINE.json")
      w.println(line)
      w.close()
    } catch { case _: Throwable => () }
    try graft.sources.Cached.releaseAll() catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    println(line)
    System.out.flush()
  }
}
