package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Fingerprint.Fp

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
    * through the graft.jdbc proxy (s1/k5 — round 13; previously the two
    * documented exclusions), and a plain wide agg as control (q1). */
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

  private def fingerprint(df: DataFrame): Fp = Fingerprint.of(df)

  private def session(master: String, extra: Map[String, String]): SparkSession = {
    val b = Session.builder(master, 8, s"cc_${master.takeWhile(_ != '[')}_")
      .appName(s"graft-cluster-check")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // `all`: gate the ENTIRE query surface, not just the representative
    // serialization suite. Every query is deterministic by construction
    // (the DuckDB oracle hash-checks them), so exact-fingerprint parity
    // is well-defined for all of them — since round 13 with ZERO
    // exclusions. Through round 12 the two JDBC queries had to be
    // skipped: embedded Derby is single-JVM by design (db.lck), so a
    // forked executor attempting the same on-disk store failed — the
    // first full-surface run caught exactly that (220/222), which is
    // the kind of single-JVM-only assumption this gate exists to
    // expose. S1/K5 now reach Derby through graft.jdbc's TCP proxy
    // (the sandbox ships no derbynet/derbyclient, so Derby's own
    // network-server mode was unavailable): the gate JVM hosts the
    // socket server, and every executor JVM opens real network JDBC
    // connections to it — the same topology as the reference's
    // PostgreSQL deployment (db.py:17-77).
    val suite: Seq[String] =
      if (args.lift(1).exists(Set("all", "driverheap"))) SparkEntry.queries.keys.toSeq.sorted
      else Suite

    // `driverheap`: the resource PROOF behind "no driver-side
    // materialization". The grep claim (no .collect() in operator hot
    // paths) is code review; this converts it to physics — the full
    // surface executes with the DRIVER JVM deliberately tiny (the
    // launcher sets -Xmx1g; asserted below so a fat-heap run can't
    // masquerade) while the real work runs in the two forked 2 GiB
    // executor JVMs. Run it against a generated sf1 corpus and any
    // query that secretly collects a corpus-sized relation (a
    // driver-side loop, an unbounded collect_list to the driver, a
    // broadcast of a fact table) dies on the spot instead of surviving
    // review. Single phase, zero failures required; fingerprint parity
    // is the `all` mode's job.
    if (args.lift(1).contains("driverheap")) {
      val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      require(maxHeapMb <= 1536,
        s"driverheap mode must run under -Xmx1g (saw ${maxHeapMb}MB) — " +
          "a roomy driver heap proves nothing")
      val spark = session("local-cluster[2,4,2048]", Map(
        "spark.executor.extraClassPath" -> Jvm.absoluteClasspath,
        "spark.executor.extraJavaOptions" -> Jvm.addOpensString,
        "spark.executor.memory" -> "2g"))
      spark.sparkContext.setLogLevel("ERROR")
      val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var done = 0
      suite.foreach { name =>
        try { SparkEntry.queries(name)(spark, sfDir).count(); done += 1 }
        catch { case e: Throwable =>
          errs(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
      graft.sources.Cached.releaseAll()
      spark.stop()
      val failedArr = errs.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"metric":"driver_heap_bound","ok":$done,"total":${suite.size},"driver_max_heap_mb":$maxHeapMb,"failed":$failedArr,"errors":${Json.obj(errs)},"sf":"$sfDir"}""")
      if (errs.nonEmpty) sys.exit(1)
      return
    }

    // Executor JVMs need the graft classes and the JDK17 module opens;
    // ship the launching JVM's own classpath and opens verbatim.
    val addOpens = Jvm.addOpensString
    // ABSOLUTE paths only (Jvm.absoluteClasspath): executors run from
    // the Spark work dir, so a relative `target/scala-2.13/classes`
    // entry silently resolves to nothing there — the first actual
    // multi-JVM defect this main caught was its own harness shipping a
    // relative classpath (SerializedLambda ClassCastExceptions on every
    // Scala closure).
    val absClasspath = Jvm.absoluteClasspath
    val clusterConf = Map(
      "spark.executor.extraClassPath" -> absClasspath,
      "spark.executor.extraJavaOptions" -> addOpens,
      // 2 workers x 4 cores x 2 GiB: small enough to coexist with the
      // harness, large enough that every shuffle/broadcast really
      // crosses process boundaries between two executor backends.
      "spark.executor.memory" -> "2g")

    def runPhase(master: String, extra: Map[String, String]): (Map[String, Fp], Map[String, String]) = {
      val spark = session(master, extra)
      spark.sparkContext.setLogLevel("ERROR")
      val fps = scala.collection.mutable.LinkedHashMap.empty[String, Fp]
      val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      suite.foreach { name =>
        try fps(name) = fingerprint(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          errs(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
      graft.sources.Cached.releaseAll()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (fps.toMap, errs.toMap)
    }

    // Phase 1: the REAL multi-JVM run (2 executor processes).
    val (clusterFps, clusterErrs) = runPhase("local-cluster[2,4,2048]", clusterConf)
    // Phase 2: the in-process reference.
    val (localFps, localErrs) = runPhase("local[8]", Map.empty)

    val mismatched = suite.filter(q =>
      clusterFps.get(q).isDefined && localFps.get(q).isDefined &&
        clusterFps(q) != localFps(q))
    val failed = (clusterErrs.keySet ++ localErrs.keySet).toSeq.sorted
    val matched = suite.count(q =>
      clusterFps.get(q).isDefined && clusterFps.get(q) == localFps.get(q))
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errDetail = Json.obj(scala.collection.mutable.LinkedHashMap(
      (clusterErrs.map { case (k, v) => s"cluster:$k" -> v } ++
        localErrs.map { case (k, v) => s"local:$k" -> v }).toSeq: _*))
    println(s"""{"metric":"cluster_parity","matched":$matched,"total":${suite.size},"mismatched":${arr(mismatched)},"failed":${arr(failed)},"errors":$errDetail,"sf":"$sfDir"}""")
    if (mismatched.nonEmpty || failed.nonEmpty) sys.exit(1)
  }
}
