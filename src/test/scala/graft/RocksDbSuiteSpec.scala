package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Round-12: the WHOLE streaming family under the RocksDB state-store
  * provider, not just st2's spot check (StreamingSpec's provider-swap
  * test). The 100 TB deployment runs RocksDB (bounded heap, spills
  * keyed state to local disk); state semantics must be
  * provider-invariant for every stateful shape we ship — dedup state,
  * watermarked dedup, session windows (two forms), stream-stream join
  * state, mapGroupsWithState peaks, upsert state, drift windows,
  * decontamination joins. Any result diff is a failure.
  *
  * Per-query wall-clock under both providers lands in the test report
  * via info() — the latency delta is bounded noise at fixture scale;
  * the point is the RESULT invariance (BENCH_NOTES records one run).
  */
class RocksDbSuiteSpec extends SparkSpec {

  private val RunTag = "graft.spec.run"

  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Every streaming query on the gate (st1-st14 + pp2). */
  private val family: Seq[String] =
    SparkEntry.queries.keys.filter(n => n.startsWith("st")).toSeq.sorted :+
      "pp2_stream_ingest"

  test("st1-st14 + pp2: results identical under RocksDB state store") {
    assert(family.size == 15, s"streaming family drifted: $family")
    def resultsOf(name: String): Seq[Seq[Any]] =
      run(name).collect().map(_.toSeq.map {
        // binary columns compare by value, not array identity
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSeq.sortBy(_.mkString("|"))

    // the provider each job ran with, by the run that started it (a local
    // property, inherited by the stream's own thread)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String], Boolean)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => jobs.add((
          p.getProperty(RunTag, ""),
          Option(p.getProperty("spark.sql.streaming.stateStore.providerClass")),
          p.getProperty("sql.streaming.queryId") != null)))
    }
    spark.sparkContext.addSparkListener(listener)
    try family.foreach { name =>
      val t0 = System.nanoTime()
      val dflt = resultsOf(name)
      val t1 = System.nanoTime()
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", Provider)
      spark.sparkContext.setLocalProperty(RunTag, s"$name:rocksdb")
      val (rocks, t2) =
        try (resultsOf(name), System.nanoTime())
        finally {
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
          spark.sparkContext.setLocalProperty(RunTag, null)
        }
      assert(rocks == dflt,
        s"$name diverged under RocksDB: ${rocks.size} vs ${dflt.size} rows")
      assert(dflt.nonEmpty, s"$name returned no rows")
      info(f"$name%-28s default ${(t1 - t0) / 1e9}%5.2f s  rocksdb ${(t2 - t1) / 1e9}%5.2f s  rows ${dflt.size}")
    } finally {
      // the listener bus delivers in order: once a marker job is seen,
      // every job before it has been recorded
      spark.sparkContext.setLocalProperty(RunTag, "marker")
      spark.range(1).count()
      spark.sparkContext.setLocalProperty(RunTag, null)
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!jobs.asScala.exists(_._1 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
      spark.sparkContext.removeSparkListener(listener)
    }
    // the state-store provider set on the session reaches the streaming
    // query's own jobs: the narrowed clone it runs on carries the
    // caller's conf, not the conf of whichever call made a clone first
    val st2 = jobs.asScala.filter(j => j._1 == "st2_stream_peak_state:rocksdb" && j._3).toSeq
    assert(st2.nonEmpty, "no streaming job of st2's RocksDB run was seen")
    assert(st2.forall(_._2.contains(Provider)), s"st2 jobs ran without RocksDB: $st2")
  }
}
