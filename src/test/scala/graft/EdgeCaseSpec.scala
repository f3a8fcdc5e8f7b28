package graft

import org.apache.spark.sql.functions._

/** Edge/invalid-input behavior, mirroring the reference's invalid-input
  * tests (tests/test_tiles.py:168-175, 209-217). */
class EdgeCaseSpec extends SparkSpec {

  test("empty corpus: the whole dedup/text family returns empty, never throws") {
    // a 100 TB pipeline routinely hits empty partitions/shards; every
    // corpus operator must degrade to an empty result
    val emptyDir = graft.model.Fs.scratch("empty_sf", Sf)
    for (t <- Seq("documents", "embeddings", "events")) {
      spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }
    for (q <- Seq("dd1_exact_dedup", "dd2_minhash_lsh", "dd3_jaccard_pairs",
        "dd4_simhash", "dd5_simhash_pairs", "dd6_dedup_filter",
        "dd7_minhash_dfcap", "dd8_shingle_dupfrac", "tx1_langid",
        "tx6_trigram_langid", "tx8_repetition", "ds1_hash_sample",
        "ds4_lang_rebalance", "ds6_mixture_sample", "nn3_bucket_neardup",
        "pp3_embed_pipeline", "w7_range_join",
        // round-7 additions
        "tx9_tfidf", "tx10_redact", "tx11_vocab_coverage",
        "ds7_decontaminate", "mm7_phash_neardup", "nn8_kmeans_step",
        "k12_upsert_merge", "k13_scd2_history", "w9_moving_avg",
        "st10_stream_upsert",
        "j11_event_funnel", "a17_retention_cohorts",
        "ds10_temperature_resample")) {
      assert(run(q, emptyDir).count() == 0, s"$q not empty on empty corpus")
    }
  }

  test("corrupt TSV rows are isolated in PERMISSIVE mode, not fatal") {
    // a 100 TB log scan WILL contain malformed lines; the declared-schema
    // read must quarantine them (null row + corrupt-record column), never
    // abort the job — the S7 scan's failure mode
    import org.apache.spark.sql.types._
    val tsv = new java.io.File(graft.model.Fs.scratch("corrupt_tsv", Sf))
    java.nio.file.Files.write(tsv.toPath,
      ("2024-01-01 00:00:00\tt0_0\t100\t1.5\t0.5\t1000\n" +
       "NOT_A_TIMESTAMP\tt0_1\tNaN\toops\n" + // malformed line
       "2024-01-01 00:01:00\tt0_2\t101\t2.5\t1.0\t2000\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("tile_id", StringType),
      StructField("pid", IntegerType), StructField("cpu_user", DoubleType),
      StructField("cpu_sys", DoubleType), StructField("mem_rss", LongType),
      StructField("_corrupt", StringType)))
    val df = spark.read.option("sep", "\t")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema).csv(tsv.getPath).cache()
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt").isNotNull).count() == 1)
    assert(df.filter(col("_corrupt").isNull).agg(sum("mem_rss"))
      .collect()(0).getLong(0) == 3000L)
    df.unpersist()
  }

  test("select() enforces the reference's extent-xor-tiles contract") {
    import graft.operators.TileSelectOps
    // both → error; neither → error (test_tiles.py:168-176)
    intercept[IllegalArgumentException] {
      TileSelectOps.select(spark, Some((0, 0, 1, 1)), Some(Seq("t0_0")))
    }
    intercept[IllegalArgumentException] { TileSelectOps.select(spark) }
    // the literal "all" list selects everything; an extent selects the
    // overlapping block; an explicit list selects itself
    assert(TileSelectOps.select(spark, tiles = Some(Seq("all"))).count() == 16)
    assert(TileSelectOps.select(spark,
      extent = Some((graft.model.TileGrid.ExtentXMin, graft.model.TileGrid.ExtentYMin,
        graft.model.TileGrid.ExtentXMax, graft.model.TileGrid.ExtentYMax))).count() == 9)
    assert(TileSelectOps.select(spark,
      tiles = Some(Seq("t0_0", "t3_3"))).count() == 2)
  }

  test("requesting only unknown tiles yields an empty selection, not an error") {
    val df = graft.sources.Tables.boundaries(spark)
      .filter(col("tile_id").isin("t9_9", "nope"))
    assert(df.count() == 0)
  }

  test("j8 reports unknown requested tiles as missing") {
    val statuses = run("j8_semi_validate").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses("t9_9") == "missing")
    assert(statuses("t0_0") == "found")
  }

  test("dynamic partition overwrite replaces only re-run tiles, never the rest") {
    // the K2 write semantics a per-tile re-run needs at scale: static
    // overwrite mode would wipe every tile's output; dynamic mode
    // replaces exactly the partitions present in the new write
    import spark.implicits._
    val out = graft.model.Fs.scratch("dpo", Sf)
    Seq(("t0_0", "orig0"), ("t1_1", "orig1")).toDF("tile_id", "v")
      .write.partitionBy("tile_id").mode("overwrite").parquet(out)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq(("t1_1", "rerun")).toDF("tile_id", "v")
        .write.partitionBy("tile_id").mode("overwrite").parquet(out)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val back = spark.read.parquet(out).select("tile_id", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("t0_0" -> "orig0", "t1_1" -> "rerun"))
  }

  test("mm4: strided resize keeps ceil(n/5) bytes") {
    val bad = run("mm4_resize_stride")
      .filter(col("new_len") =!= expr("cast(ceil(orig_len / 5.0) as int)"))
      .count()
    assert(bad == 0)
  }

  test("tx6: predictions come from the label space with positive overlap") {
    val rows = run("tx6_trigram_langid").collect()
    val langs = Set("en", "de", "fr", "es", "zh")
    assert(rows.nonEmpty)
    assert(rows.forall(r => langs.contains(r.getString(1)) && r.getLong(2) > 0))
  }

  test("dd7: df cap never invents candidates absent from uncapped LSH shape") {
    // both are banded candidate generators over the same corpus; the
    // capped variant must stay a plausible candidate set (sanity: bounded
    // by the all-pairs count and self-consistent ordering)
    val rows = run("dd7_minhash_dfcap").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }
}
