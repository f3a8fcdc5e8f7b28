package graft

import org.apache.spark.sql.SparkSession

import graft.Fingerprint.Fp

/** Interpreted-vs-codegen execution audit main: run the FULL query
  * surface twice — once normally (whole-stage codegen + compiled
  * expression code) and once with codegen disabled outright
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

  private def session(flipped: Boolean, mode: String): SparkSession = {
    val b = Session.builder("local[8]", 8, s"ic_${flipped}_")
      .appName("graft-interp-check")
    if (flipped) mode match {
      case "noaqe" =>
        b.config("spark.sql.adaptive.enabled", "false")
      case _ =>
        b.config("spark.sql.codegen.wholeStage", "false")
          .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // `noaqe`: instead of disabling codegen, phase B disables ADAPTIVE
    // EXECUTION entirely — results must not depend on AQE's runtime
    // re-planning (coalesced shuffle reads, skew splits, runtime join
    // demotions). Every other gate runs AQE on; this is the off half.
    val mode = if (args.exists(_ == "noaqe")) "noaqe" else "nocodegen"
    // default: the FULL surface (the recorded audit). `quick`: the
    // expression-risk subset for CI — ClusterCheck's serialization
    // suite already concentrates the custom Expressions/Aggregators,
    // plus the HOF-heavy polygon queries and the two hash expressions'
    // hottest consumers.
    val suite: Seq[String] =
      if (args.exists(_ == "quick"))
        (ClusterCheck.Suite ++ Seq("p15_poly_within", "j14_poly_bin_join",
          "a22_poly_area", "tx4_fingerprint", "tx5_rolling_hash",
          "nn1_cosine_topk", "v3_sql_dedup", "tx18_nfc_normalize",
          "dd16_url_canonicalize")).distinct
      else SparkEntry.queries.keys.toSeq.sorted

    def runPhase(flipped: Boolean): (Map[String, Fp], Map[String, String], Boolean) = {
      val spark = session(flipped, mode)
      spark.sparkContext.setLogLevel("ERROR")
      // regime proof: the flagship aggregation plan must (not) contain
      // the flipped regime's marker. collect() (not count(), which
      // plans its own tree) materializes THIS QueryExecution so the
      // adaptive plan reaches isFinalPlan=true; codegen'd stages print
      // as `*(n)` markers, AQE as the AdaptiveSparkPlan root.
      val probe = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      probe.collect()
      val planStr = probe.queryExecution.executedPlan.toString
      val hasCodegen =
        if (mode == "noaqe") planStr.contains("AdaptiveSparkPlan")
        else planStr.contains("*(")
      val fps = scala.collection.mutable.LinkedHashMap.empty[String, Fp]
      val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      suite.foreach { name =>
        try fps(name) = Fingerprint.of(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          errs(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
      graft.sources.Cached.releaseAll()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (fps.toMap, errs.toMap, hasCodegen)
    }

    val (genFps, genErrs, genHas) = runPhase(flipped = false)
    val (interpFps, interpErrs, interpHas) = runPhase(flipped = true)

    val mismatched = suite.filter(q =>
      genFps.get(q).isDefined && interpFps.get(q).isDefined &&
        genFps(q) != interpFps(q))
    val failed = (genErrs.keySet ++ interpErrs.keySet).toSeq.sorted
    val matched = suite.count(q =>
      genFps.get(q).isDefined && genFps.get(q) == interpFps.get(q))
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errDetail = Json.obj(scala.collection.mutable.LinkedHashMap(
      (genErrs.map { case (k, v) => s"codegen:$k" -> v } ++
        interpErrs.map { case (k, v) => s"interp:$k" -> v }).toSeq: _*))
    val regimeOk = genHas && !interpHas
    val metric = if (mode == "noaqe") "aqe_parity" else "interp_parity"
    println(s"""{"metric":"$metric","matched":$matched,"total":${suite.size},"regime_ok":$regimeOk,"mismatched":${arr(mismatched)},"failed":${arr(failed)},"errors":$errDetail,"sf":"$sfDir"}""")
    if (mismatched.nonEmpty || failed.nonEmpty || !regimeOk) sys.exit(1)
  }
}
