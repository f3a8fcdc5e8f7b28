package graft

import org.apache.spark.sql.SparkSession

import graft.Fingerprint.Fp

/** The execution-regime gate protocol, in ONE place — the role the
  * reference's single fan-out-and-retry loop plays for every controller
  * (processor.py:39-153). A gate runs the same query suite in two
  * regimes (two [[phase]]s), [[fingerprints]] every query in each, and
  * [[report]]s exact-[[Fingerprint]] parity as one JSON line. What a
  * gate adds is only its session configuration, its `Suite` and the
  * proof that its regime really engaged (spilled bytes, a flipped plan
  * marker, a landed kill, real concurrency).
  */
object Parity {

  /** One phase's outcome: the fingerprint of every query that ran and
    * the (truncated) error of every query that threw. */
  final case class Run(fps: Map[String, Fp], errs: Map[String, String]) {
    def ++(o: Run): Run = Run(fps ++ o.fps, errs ++ o.errs)
  }

  /** Fingerprint each query of `suite` on `spark`. A failing query is
    * recorded, not thrown, so one defect never hides the rest. */
  def fingerprints(spark: SparkSession, suite: Seq[String], sfDir: String): Run =
    suite.map { q =>
      try Run(Map(q -> Fingerprint.of(SparkEntry.queries(q)(spark, sfDir))), Map.empty)
      catch { case e: Throwable =>
        Run(Map.empty, Map(q -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
      }
    }.foldLeft(Run(Map.empty, Map.empty))(_ ++ _)

  /** Build a session from `builder`, call `hook` on it before the first
    * query (listeners, plan probes, an executor killer), run `body`, then
    * tear the session down: release cached relations, stop the context
    * (which drains the listener bus, so counters a hook registered are
    * complete afterwards) and clear the active and default sessions so
    * the next phase builds a fresh one. Returns the body's run and the
    * hook's value. A relation still cached after `Cached.releaseAll()`,
    * or a session conf the body left changed, fails the run: leaks no
    * fingerprint shows. */
  def phase[A](builder: SparkSession.Builder, hook: SparkSession => A)(
      body: (SparkSession, A) => Run): (Run, A) = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val a = hook(spark)
      val before = spark.conf.getAll
      val run = body(spark, a)
      graft.sources.Cached.releaseAll()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      val errs =
        (if (spark.sharedState.cacheManager.isEmpty) Map.empty[String, String]
         else Map("cache_invariant" -> "relations still cached after Cached.releaseAll()")) ++
        (if (changed.isEmpty) Map.empty[String, String]
         else Map("conf_invariant" -> s"session conf changed: ${changed.toSeq.sorted.mkString(",")}"))
      (run ++ Run(Map.empty, errs), a)
    } finally {
      graft.sources.Cached.releaseAll()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Print the gate's JSON line and exit 1 unless every query of `suite`
    * matched across the two runs, none failed, and `proofOk` holds.
    * `extra` holds the gate's proof fields as raw JSON values; they sit
    * between `total` and `mismatched`. */
  def report(metric: String, suite: Seq[String], sfDir: String,
      a: (String, Run), b: (String, Run),
      extra: Seq[(String, String)], proofOk: Boolean): Unit = {
    val (labelA, runA) = a
    val (labelB, runB) = b
    val mismatched = suite.filter(q =>
      runA.fps.contains(q) && runB.fps.contains(q) && runA.fps(q) != runB.fps(q))
    val failed = (runA.errs.keySet ++ runB.errs.keySet).toSeq.sorted
    val matched = suite.count(q =>
      runA.fps.contains(q) && runA.fps.get(q) == runB.fps.get(q))
    def labelled(label: String, r: Run) =
      r.errs.toSeq.sorted.map { case (q, e) => s"$label:$q" -> e }
    val fields = Seq(
      "metric" -> Json.str(metric),
      "matched" -> matched.toString,
      "total" -> suite.size.toString) ++ extra ++ Seq(
      "mismatched" -> Json.arr(mismatched),
      "failed" -> Json.arr(failed),
      "errors" -> Json.obj(labelled(labelA, runA) ++ labelled(labelB, runB)),
      "sf" -> Json.str(sfDir))
    println(fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    if (mismatched.nonEmpty || failed.nonEmpty || !proofOk) sys.exit(1)
  }
}
