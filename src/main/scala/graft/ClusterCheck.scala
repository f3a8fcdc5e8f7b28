package graft

/** Multi-JVM execution audit main: run a representative query suite
  * under `local-cluster[2,4,2048]` — TWO REAL EXECUTOR JVMs, separate
  * from the driver — and pin the results byte-identical to the same
  * queries on in-process `local[*]`.
  *
  * Why this exists: every gate to date ran in ONE JVM (`local[32]`),
  * where a task "serializes" its closures and buffers but never actually
  * ships them across a process boundary. The class of defect that only
  * a separate executor JVM exposes — a non-serializable capture in a
  * closure, an Aggregator buffer whose encoder round-trip loses state,
  * a custom Expression referencing driver-side registry state, a DSv2
  * reader factory that isn't Serializable, a broadcast of a
  * non-serializable value — is invisible there. This main makes the
  * boundary real: executors are forked JVM processes that receive
  * tasks over RPC, so every custom Expression (Hash60, VectorDot,
  * RectRelate, ZOrder), every Aggregator (EnvelopeUnion, MisraGries,
  * BloomFilterAgg, TopKByHash, MinHashSig), the DSv2 source, Cached
  * persists, broadcasts, rdd.pipe workers and streaming state all
  * cross serialization for real.
  *
  * Parity contract: per query, an ORDER-INDEPENDENT exact fingerprint
  * (row count + bit_xor of xxhash64 over all columns, maps normalized
  * through to_json) computed under local-cluster must equal the same
  * fingerprint under local[*] in the same process (sequential sessions
  * — Spark allows one context at a time). All gated queries are
  * deterministic by construction (the DuckDB oracle already hash-checks
  * them), so any divergence is a serialization/distribution defect, not
  * noise.
  *
  * Usage: runMain graft.ClusterCheck [sfDir]   (prints one JSON line;
  * LocalClusterSpec launches it as a subprocess and asserts the line).
  */
object ClusterCheck {

  /** The serialization-risk surface, one query per mechanism:
    * custom Aggregators (a1/a19/ds5/j12/dd14), custom Expressions via
    * SQL registry and Column bridge (nn5/v2/dd2/k17), the DSv2 source
    * (s8), corrupt-record handling (s9), Cached persists + iterative
    * joins (g1/dd9), the bucketed-table layout (g6/k15), broadcasts
    * (j6), seeded shuffle determinism (w3), the external-process worker
    * (o2), retry loop (o3), UDTF explode (f5), binary multimodal
    * batches (mm1), streaming state + sinks (st1/st2), window/sort
    * shapes (w1/ds13), networked JDBC read/write from executor JVMs
    * (s1/k5), and a plain wide agg as control (q1).
    *
    * s1/k5 reach Derby through the graft.jdbc TCP proxy: embedded Derby
    * is single-JVM by design (db.lck), so a forked executor opening the
    * same on-disk store failed — the first full-surface run caught
    * exactly that (220/222), the kind of single-JVM-only assumption
    * this gate exists to expose. The sandbox ships no derbynet/
    * derbyclient, so the gate JVM hosts graft.jdbc's socket server and
    * every executor JVM opens real network JDBC connections to it — the
    * same topology as the reference's PostgreSQL deployment
    * (db.py:17-77). The full-surface and driver-heap-bounded runs are
    * recorded in records/ and BENCH_NOTES.md. */
  val Suite: Seq[String] = Seq(
    "q1_pricing_summary", "a1_envelope_union", "a19_heavy_hitters",
    "ds5_topk_agg", "j12_bloom_prune", "dd14_minhash_production",
    "nn5_sql_vecdot", "v2_sql_relate", "dd2_minhash_lsh",
    "k17_zorder_layout", "s8_dsv2_tiledir", "s9_corrupt_quarantine",
    "g1_pagerank", "dd9_dup_components", "g6_bucketed_pagerank",
    "k15_bucketed_join", "j6_file_lookup", "w3_det_shuffle",
    "o2_pipe_worker", "o3_retry_loop", "f5_explode_files",
    "mm1_decode_meta", "st1_stream_monitor_agg", "st2_stream_peak_state",
    "w1_rank_files", "ds13_curriculum_order",
    "s1_jdbc_pushdown", "k5_jdbc_roundtrip")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")

    // Executor JVMs need the graft classes and the JDK17 module opens;
    // ship the launching JVM's own classpath and opens verbatim.
    // ABSOLUTE paths only (Jvm.absoluteClasspath): executors run from
    // the Spark work dir, so a relative `target/scala-2.13/classes`
    // entry silently resolves to nothing there — the first actual
    // multi-JVM defect this main caught was its own harness shipping a
    // relative classpath (SerializedLambda ClassCastExceptions on every
    // Scala closure).
    val clusterConf = Map(
      "spark.executor.extraClassPath" -> Jvm.absoluteClasspath,
      "spark.executor.extraJavaOptions" -> Jvm.addOpensString,
      // 2 workers x 4 cores x 2 GiB: small enough to coexist with the
      // harness, large enough that every shuffle/broadcast really
      // crosses process boundaries between two executor backends.
      "spark.executor.memory" -> "2g")

    def run(master: String, extra: Map[String, String]) = Parity.phase(
      Session.builder(master, 8, s"cc_${master.takeWhile(_ != '[')}_")
        .appName("graft-cluster-check").config(extra), _ => ())(
      (s, _) => Parity.fingerprints(s, Suite, sfDir))._1
    // Phase 1: the REAL multi-JVM run (2 executor processes).
    val cluster = run("local-cluster[2,4,2048]", clusterConf)
    // Phase 2: the in-process reference.
    val local = run("local[8]", Map.empty)
    Parity.report("cluster_parity", Suite, sfDir, "cluster" -> cluster, "local" -> local,
      Seq.empty, proofOk = true)
  }
}
