package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Forced-spill execution audit main: run a spill-prone query suite
  * twice — once in a normal session, once with every external-sorter /
  * aggregation spill path FORCED on via Spark's public row-count
  * thresholds — and pin the results exactly equal, with task metrics
  * proving real spills happened.
  *
  * Why this exists: at 100 TB the spill path IS the common path — every
  * large sort, window, sort-merge join and hash aggregate runs partially
  * from disk (`ExternalAppendOnlyUnsafeRowArray`, `UnsafeExternalSorter`
  * spill files, hash-agg sort-based fallback). On the test fixtures
  * everything fits in memory, so none of that code had ever executed in
  * any gate: a defect in merge-after-spill ordering, a non-associative
  * partial agg that only shows when partials re-merge from disk, or an
  * Aggregator buffer that mis-serializes into the sorter would have been
  * invisible. Rather than playing heap-sizing games, this main flips the
  * documented thresholds so the spill machinery engages after a few
  * hundred rows REGARDLESS of memory:
  *
  *  - `spark.shuffle.spill.numElementsForceSpillThreshold` — every
  *    UnsafeExternalSorter (sorts, shuffle writes) force-spills;
  *  - `spark.sql.windowExec.buffer.spill.threshold` — window buffers;
  *  - `spark.sql.sessionWindow.buffer.spill.threshold` — session windows;
  *  - `spark.sql.sortMergeJoinExec.buffer.spill.threshold` — SMJ match
  *    buffers;
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` —
  *    ObjectHashAggregate (percentile, collect_list, custom Aggregators)
  *    falls back to sort-based merge;
  *  - `spark.sql.TungstenAggregate.testFallbackStartsAt` — codegen'd
  *    HashAggregate falls back to sort-based aggregation.
  *
  * Parity contract: per query, the order-independent exact
  * [[Fingerprint]] under forced spilling equals the normal-session
  * fingerprint, AND the spilled-bytes counter observed by a TaskEnd
  * listener is > 0 in the forced phase (so the gate fails loudly if a
  * Spark upgrade renames a threshold and the forced phase silently runs
  * the in-memory path).
  *
  * Usage: runMain graft.SpillCheck [sfDir]   (prints one JSON line;
  * SpillSpec launches it as a subprocess and asserts the line).
  */
object SpillCheck {

  /** Spill-prone shapes: big sorts (ds13/w8), window buffers (w8/w9),
    * session windows (w8's oracle path uses lag, ds8 packs sequences),
    * SMJ (k15 bucketed, j1 corpus join), ObjectHashAggregate with custom
    * Aggregators (a1/a19/dd14/a10's exact percentile), codegen hash agg
    * (q1/q18), iterative joins (g1), and the heaviest text/dedup scans
    * (tx9/dd8). */
  val Suite: Seq[String] = Seq(
    "q1_pricing_summary", "q18_big_orders", "j1_feature_index_join",
    "k15_bucketed_join", "w8_sessionize", "w9_moving_avg",
    "ds8_sequence_pack", "ds13_curriculum_order", "a10_percentiles",
    "a1_envelope_union", "a19_heavy_hitters", "dd14_minhash_production",
    "dd8_shingle_dupfrac", "tx9_tfidf", "g1_pagerank")

  private def session(forceSpill: Boolean): SparkSession.Builder = {
    val b = Session.builder("local[4]", 4, s"sp_${forceSpill}_")
      .appName("graft-spill-check")
    if (forceSpill)
      b.config("spark.shuffle.spill.numElementsForceSpillThreshold", "500")
        .config("spark.sql.windowExec.buffer.spill.threshold", "128")
        .config("spark.sql.sessionWindow.buffer.spill.threshold", "128")
        .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "128")
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "64")
        .config("spark.sql.TungstenAggregate.testFallbackStartsAt", "300,700")
    else b
  }

  /** Registers a TaskEnd listener summing memory + disk spill bytes;
    * complete once the phase has stopped the context. */
  private def spillCounter(spark: SparkSession): AtomicLong = {
    val spilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })
    spilled
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    def run(forceSpill: Boolean) = Parity.phase(session(forceSpill), spillCounter)(
      (s, _) => Parity.fingerprints(s, Suite, sfDir))
    val (normal, _) = run(forceSpill = false)
    val (spill, spilled) = run(forceSpill = true)
    val spilledBytes = spilled.get()
    Parity.report("spill_parity", Suite, sfDir, "normal" -> normal, "spill" -> spill,
      Seq("spilled_bytes" -> spilledBytes.toString), spilledBytes > 0L)
  }
}
