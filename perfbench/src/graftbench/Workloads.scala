package graftbench

import graft.SparkEntry

/** One benchmark workload: a fixed job list over one generated input.
  *
  * A run executes `passes(seconds)` passes over `jobs`, each pass in its
  * own seeded shuffle, closed loop with one client. The first pass runs
  * in a fresh JVM, so it carries codegen, JIT and shared-cache builds the
  * way a batch user's process does; later passes reuse them. */
final case class Workload(name: String, input: String, passSeconds: Double,
    jobs: Seq[String]) {

  /** Passes that fill `seconds` at the nominal pass time measured on a
    * 4-core box; fixed per (workload, seconds) so every run of a
    * workload has the same job count and the same tail percentile. */
  def passes(seconds: Int): Int =
    math.max(2, math.round(seconds / passSeconds).toInt)

  /** The run's job order: (pass, job) pairs, a deterministic function of
    * the seed. */
  def order(seed: Long, passes: Int): Seq[(Int, String)] = {
    val rnd = new scala.util.Random(seed)
    (1 to passes).flatMap(p => rnd.shuffle(jobs).map(p -> _))
  }
}

object Workloads {
  /** `graft.Cli` commands run in-process against the benchmark's session. */
  val CliRun = "cli:run"
  val CliJobs: Seq[String] = Seq(CliRun)

  /** Generated inputs, by id: `graft.DataGen <sf> <dir>` with no flags. */
  val Inputs: Map[String, String] = Map("sf0.01" -> "0.01")

  val all: Seq[Workload] = Seq(
    // The reference's own job: select tiles, join the tile and elevation
    // indexes, fan workers out with retry, write per-tile outputs, run the
    // CLI. Small, overhead-bound jobs, the retry loop and the sinks.
    Workload("tile_batch", "sf0.01", 13.0, Seq(
      "p5_within_extent", "j1_feature_index_join", "j14_poly_bin_join",
      "j10_binned_spatial_join", "e2_except_border", "f5_explode_files",
      "k3_merge_payloads", "o3_retry_loop", "k4_pertile_csv",
      "k12_upsert_merge", "a8_priority_dedup", CliRun)),
    // Corpus curation: dedup, text, similarity, sampling and pipeline jobs
    // that share shingles, bands and tokens through sources.Cached, a
    // streaming ingest, and two corpus-side reports (a TPC-H shape and a
    // graph statistic) over the same session.
    Workload("curation", "sf0.01", 13.0, Seq(
      "dd2_minhash_lsh", "dd6_dedup_filter", "dd8_shingle_dupfrac",
      "tx2_quality", "nn1_cosine_topk", "ds1_hash_sample",
      "mm1_decode_meta", "v3_sql_dedup", "st11_stream_observe",
      "q6_forecast_revenue", "g3_clustering_coeff"))
  )

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))

  private def simpleName(o: AnyRef): String = o.getClass.getSimpleName.stripSuffix("$")

  /** The operator modules in registry order, by simple name. */
  lazy val modules: Seq[String] = SparkEntry.modules.map(simpleName)

  /** Layer of each job: its `SparkEntry` module, or `Cli`. */
  lazy val moduleOf: Map[String, String] =
    SparkEntry.modules.flatMap(m => m.queries.keys.map(_ -> simpleName(m))).toMap ++
      CliJobs.map(_ -> "Cli")
}
