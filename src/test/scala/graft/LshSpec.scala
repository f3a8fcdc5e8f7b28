package graft

import org.apache.spark.sql.DataFrame
import graft.operators.DedupOps
import graft.operators.DedupOps.LshConfig

/** The LSH banding math holds at BOTH parameterizations: the gate's
  * fixture-scale setting (4 hashes, 2 bands × 2 rows) and the documented
  * production setting (128 hashes, 16 bands × 8 rows). The pipeline is
  * one code path driven by [[LshConfig]] — scaling up the hash family
  * for a real corpus is a constant change, and this spec is the proof:
  * a known near-dup pair is recalled and a disjoint pair is not, at
  * both settings.
  */
class LshSpec extends SparkSpec {

  import spark.implicits._

  // 21 shared words → doc 2 differs from doc 1 in one trailing word:
  // 19 common shingles of 19+20 distinct → shingle-Jaccard ≈ 0.86,
  // far above both settings' candidate thresholds
  private val base = (1 to 20).map(i => s"w$i").mkString(" ")
  private def docs: DataFrame = Seq(
    (1L, base + " tail"),
    (2L, base + " tear"),
    (3L, (1 to 20).map(i => s"x$i").mkString(" ")), // disjoint
    (4L, (1 to 20).map(i => s"y$i").mkString(" ")) // disjoint
  ).toDF("doc_id", "text")

  private def pairs(cfg: LshConfig): Set[(Long, Long)] =
    DedupOps.candidatePairsAt(docs, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("fixture setting (4 hashes, 2x2) recalls the near-dup pair only") {
    val p = pairs(LshConfig.Fixture)
    assert(p.contains((1L, 2L)), s"near-dup pair missed: $p")
    assert(!p.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).size == 2 },
      s"disjoint docs became candidates: $p")
  }

  test("production setting (128 hashes, 16 bands x 8 rows) recalls the same pair") {
    val p = pairs(LshConfig.Production)
    assert(p.contains((1L, 2L)), s"near-dup pair missed at production setting: $p")
    assert(!p.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).size == 2 },
      s"disjoint docs became candidates: $p")
  }

  test("identical documents are candidates under any setting (exact recall)") {
    val dup = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    for (cfg <- Seq(LshConfig.Fixture, LshConfig.Production, LshConfig(8, 4))) {
      val p = DedupOps.candidatePairsAt(dup, cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p == Set((10L, 11L)), s"cfg=$cfg: $p")
    }
  }

  test("rowsPerBand derives from the config and must divide numHashes") {
    assert(LshConfig.Fixture.rowsPerBand == 2)
    assert(LshConfig.Production.rowsPerBand == 8)
    intercept[IllegalArgumentException](LshConfig(10, 3))
  }

  test("single-pass MinHashSig aggregate is bit-identical to the exploded form") {
    // dd14's value contract: swapping the long[128]-buffer aggregate in
    // for the 128-row explode changes the PLAN, never the (doc, seed,
    // mh) relation. Checked at the production setting, where the
    // explosion factor (and thus the risk of a divergent hash path)
    // is largest, plus an uneven non-power setting.
    for (cfg <- Seq(LshConfig.Production, LshConfig(12, 3))) {
      val sh = DedupOps.shinglesOf(docs)
      val exploded = DedupOps.signaturesOf(sh, cfg)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val onePass = DedupOps.signaturesOnePassOf(sh, cfg)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(onePass == exploded, s"cfg=$cfg: signature relations differ")
      assert(exploded.size == 4 * cfg.numHashes) // 4 docs x all seeds
    }
  }

  test("wide declarative band plan is value-identical to the aggregate forms") {
    // dd14's round-14 re-plan: band keys from one wide 128-min row
    // (codegen'd HashAggregate) instead of the long[128] buffer
    // aggregate whose ObjectHashAggregate fallback spilled 18 GB at
    // gen-sf10. Same (doc_id, band, bkey) relation, at both settings
    // and an uneven non-power one.
    for (cfg <- Seq(LshConfig.Fixture, LshConfig.Production, LshConfig(12, 3))) {
      val sh = DedupOps.shinglesOf(docs)
      def rel(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val viaAgg = rel(DedupOps.bandsOf(DedupOps.signaturesOnePassOf(sh, cfg), cfg))
      val viaWide = rel(DedupOps.wideSignatureBands(sh, cfg))
      assert(viaWide == viaAgg, s"cfg=$cfg: band relations differ")
      assert(viaWide.size == 4 * cfg.bands) // 4 docs x all bands
    }
  }

  test("wide plan drops all-null docs and signs partially-null docs like the aggregate forms") {
    import org.apache.spark.sql.functions.{col, when}
    val cfg = LshConfig.Fixture
    val sh = DedupOps.shinglesOf(docs)
      .withColumn("sh", when(col("doc_id") === 3L, null)
        .when(col("doc_id") === 1L && col("sh").startsWith("w1"), null)
        .otherwise(col("sh")))
    val rows = DedupOps.wideSignatureBands(sh, cfg).collect()
    assert(!rows.exists(_.getLong(0) == 3L), "all-null doc banded")
    assert(rows.count(_.getLong(0) == 1L) == cfg.bands,
      "partially-null doc must still band on its non-null shingles")
    assert(rows.forall(!_.isNullAt(2)), "null bkey leaked")
  }

  test("dd14's physical plan has no ObjectHashAggregate (the sort-fallback spill path)") {
    // The scale defect this plan exists to avoid: ObjectHashAggregate
    // falls back to sort-based aggregation at 128 map keys and then
    // serializes one agg buffer PER INPUT ROW into its external sorter
    // (18 GB of spill at gen-sf10, records/LSHSCALE_legacy_r14.jsonl).
    // The production query must plan as codegen'd HashAggregate only.
    val plan = SparkEntry.queries("dd14_minhash_production")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"dd14 planned through ObjectHashAggregate:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash aggregate at all?\n$plan")
    // the shared-encode digest loop must be evaluated ONCE per row: if
    // CollapseProject ever inlined the projection into the aggregate,
    // the plan would carry one minhasharray per min slot (>= 128 digest
    // loops per row instead of 1). The node legitimately appears a few
    // times in the STRING: once per side of the candidate self-join,
    // and the persisted band relation's InMemoryRelation re-prints its
    // build plan at every scan site — so the pin is an order-of-
    // magnitude bound against per-slot duplication, not exact-1.
    val nMha = "minhasharray".r.findAllIn(plan.toLowerCase).size
    assert(nMha >= 1 && nMha < 16,
      s"expected a handful of minhasharray nodes (per-slot duplication?), found $nMha:\n$plan")
  }

  test("a group whose shingles are all null yields no signature rows in either form") {
    // The corner the round-12 forms disagreed on: the exploded twin
    // emitted (doc, seed, NULL) rows while the aggregate emitted the
    // Long.MaxValue zero-buffer sentinel. Both now drop null shingles
    // up front (and MinHashSig.finish returns null for an empty group
    // as defense in depth), so an all-null doc simply has no signature
    // — and a doc with SOME null shingles signs on the non-null ones.
    import org.apache.spark.sql.functions.{col, when}
    val cfg = LshConfig.Fixture
    val sh = DedupOps.shinglesOf(docs)
      // doc 3: every shingle nulled; doc 1: every other shingle nulled
      .withColumn("sh", when(col("doc_id") === 3L, null)
        .when(col("doc_id") === 1L && col("sh").startsWith("w1"), null)
        .otherwise(col("sh")))
    for (form <- Seq(DedupOps.signaturesOf(sh, cfg),
                     DedupOps.signaturesOnePassOf(sh, cfg))) {
      val rows = form.collect()
      assert(!rows.exists(_.getLong(0) == 3L), "all-null doc signed")
      assert(rows.count(_.getLong(0) == 1L) == cfg.numHashes,
        "partially-null doc must still sign on its non-null shingles")
      assert(rows.forall(!_.isNullAt(2)), "null mh leaked")
    }
  }
}
