package graft

import org.apache.spark.sql.SparkSession

/** Interpreted-vs-codegen execution audit main: run the
  * expression-risk [[InterpCheck.Suite]] twice — once normally
  * (whole-stage codegen + compiled expression code) and once with codegen disabled outright
  * (`spark.sql.codegen.wholeStage=false` plus
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`, which forces every
  * Expression through its interpreted `eval` path) — and pin each
  * order-independent exact [[Fingerprint]] equal.
  *
  * Why this exists: every custom Expression with a `doGenCode`
  * (VectorDot, Hash60) is TWO implementations of the same semantics —
  * the interpreted `eval` and the generated Java — and nothing had ever
  * executed the interpreted one on the real query surface (production
  * runs compile it). The same duality hides in Spark itself: the
  * codegen'd and interpreted paths of every builtin the 225 queries
  * touch. Divergence here is the classic "works until codegen falls
  * back at 8000 fields / huge method limit" bug class — at 100 TB wide
  * schemas and deep plans DO hit codegen fallbacks, so the interpreted
  * path is a production path, same argument as the spill gate.
  *
  * The no-codegen phase must prove it actually disabled codegen: the
  * flagship plan is checked for the absence of WholeStageCodegen and
  * the gate fails if compiled stages appear (a renamed conf cannot
  * silently hollow the check).
  *
  * Usage: runMain graft.InterpCheck [sfDir]   (prints one JSON line).
  */
object InterpCheck {

  /** The expression-risk surface: ClusterCheck's serialization suite
    * already concentrates the custom Expressions/Aggregators; add the
    * HOF-heavy polygon queries and the two hash expressions' hottest
    * consumers. The full-surface and AQE-off audits are recorded in
    * BENCH_NOTES.md. */
  val Suite: Seq[String] =
    (ClusterCheck.Suite ++ Seq("p15_poly_within", "j14_poly_bin_join",
      "a22_poly_area", "tx4_fingerprint", "tx5_rolling_hash",
      "nn1_cosine_topk", "v3_sql_dedup", "tx18_nfc_normalize",
      "dd16_url_canonicalize")).distinct

  private def session(flipped: Boolean): SparkSession.Builder = {
    val b = Session.builder("local[8]", 8, s"ic_${flipped}_")
      .appName("graft-interp-check")
    if (flipped)
      b.config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    else b
  }

  /** Regime probe: collect() (not count(), which plans its own tree)
    * materializes THIS QueryExecution so the adaptive plan reaches
    * isFinalPlan=true; codegen'd stages print as `*(n)` markers. */
  private def hasCodegen(sfDir: String)(spark: SparkSession): Boolean = {
    val probe = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    probe.collect()
    probe.queryExecution.executedPlan.toString.contains("*(")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def run(flipped: Boolean) = Parity.phase(session(flipped), hasCodegen(sfDir))(
      (s, _) => Parity.fingerprints(s, Suite, sfDir))
    val (gen, genHas) = run(flipped = false)
    val (interp, interpHas) = run(flipped = true)
    val regimeOk = genHas && !interpHas
    Parity.report("interp_parity", Suite, sfDir, "codegen" -> gen, "interp" -> interp,
      Seq("regime_ok" -> regimeOk.toString), regimeOk)
  }
}
