package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.MonitorStream

class StreamingSpec extends SparkSpec {

  test("st1: streaming windowed agg equals the batch aggregation") {
    val streamed = run("st1_stream_monitor_agg")
      .select("tile_id", "hour", "n").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = graft.sources.Tables.monitorLog(spark, Sf)
      .groupBy(col("tile_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("st2: keyed state peaks equal batch max per tile") {
    val stream = run("st2_stream_peak_state").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.sources.Tables.monitorLog(spark, Sf)
      .groupBy("tile_id").agg(max("mem_rss")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream == batch && stream.nonEmpty)
  }

  test("st4: dropDuplicatesWithinWatermark evicts key state once the watermark passes") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val ev = ms.toDF().toDF("epoch", "k")
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val q = ev.writeStream.outputMode("append").format("memory")
      .queryName("wmdedup_demo").start()
    try {
      // batch 1: duplicate inside the watermark window → one emitted row
      ms.addData((0L, "a"), (100L, "a"))
      q.processAllAvailable()
      // batch 2: watermark advances to 10000-3600, past a's expiry → evict
      ms.addData((10000L, "b"))
      q.processAllAvailable()
      // batch 3: "a" again — state was dropped, so it re-emits; with plain
      // dropDuplicates (unbounded state) this row would be suppressed
      ms.addData((10500L, "a"))
      q.processAllAvailable()
      val ks = spark.table("wmdedup_demo").select("k").collect().map(_.getString(0))
      assert(ks.count(_ == "a") == 2, ks.mkString(","))
      assert(ks.count(_ == "b") == 1, ks.mkString(","))
    } finally q.stop()
  }

  test("watermark: append mode emits only windows closed by the watermark") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val mon = ms.toDF().toDF("epoch", "tile_id", "mem_rss")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val q = MonitorStream.windowedAgg(mon)
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_demo").start()
    try {
      // batch 1: events in hour 0 and hour 1 → nothing closed yet
      ms.addData((600L, "t0_0", 10L), (4200L, "t0_0", 20L))
      q.processAllAvailable()
      assert(spark.table("wm_demo").count() == 0)
      // batch 2: event in hour 3 → watermark 02:30 closes hours 0 and 1
      ms.addData((12600L, "t0_0", 30L))
      q.processAllAvailable()
      val hours = spark.table("wm_demo")
        .select(col("window.start").cast("long")).collect().map(_.getLong(0)).toSet
      assert(hours == Set(0L, 3600L)) // hour-3 window still open
    } finally q.stop()
  }

  test("st6: session_window merges events within the gap and splits across it") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double)]
    val ev = ms.toDF().toDF("epoch", "user_id", "value")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val sess = ev.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = sess.writeStream.outputMode("complete").format("memory")
      .queryName("sess_demo").start()
    try {
      val H = 3600L
      // user 1: events at 0h, 5h (within gap → merge), 20h (new session);
      // user 2: one event
      ms.addData((0L, 1L, 1.0), (5 * H, 1L, 1.0), (20 * H, 1L, 1.0), (0L, 2L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_demo")
        .select(col("user_id"), col("session_window.start").cast("long"),
          col("session_window.end").cast("long"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows == Set(
        (1L, 0L, 11 * H, 2L),          // merged: end = last event + gap
        (1L, 20 * H, 26 * H, 1L),
        (2L, 0L, 6 * H, 1L)), rows.mkString(","))
    } finally q.stop()
  }

  test("st5: stream-static join equals the batch join") {
    val df = run("st5_stream_static_join")
    val batch = graft.sources.Tables.monitorLog(spark, Sf)
      .join(graft.sources.Tables.boundaries(spark), Seq("tile_id"))
      .select("event_id", "tile_id", "border", "mem_rss")
    assert(df.count() == batch.count())
    assert(df.except(batch).isEmpty && batch.except(df).isEmpty)
  }

  test("st5: stream-static join runs with zero stateful operators") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val mon = ms.toDF().toDF("event_id", "tile_id")
    val dims = broadcast(
      graft.sources.Tables.boundaries(spark).select("tile_id", "border"))
    val q = mon.join(dims, Seq("tile_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_state_demo").start()
    try {
      ms.addData((1L, "t0_0"), (2L, "t1_1"))
      q.processAllAvailable()
      assert(spark.table("ss_state_demo").count() == 2)
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.stateOperators.mkString(","))
    } finally q.stop()
  }

  test("session windows in append mode emit only sessions closed by the watermark") {
    // the unbounded-stream form of st6: watermark + append — a session is
    // emitted exactly once, when the watermark passes its close; state
    // holds only open sessions
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val ev = ms.toDF().toDF("epoch", "user_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .withWatermark("ts", "1 hour")
    val sess = ev.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = sess.writeStream.outputMode("append").format("memory")
      .queryName("sess_append_demo").start()
    try {
      val H = 3600L
      // batch 1: one session for user 1 — still open, nothing emitted
      ms.addData((0L, 1L), (2 * H, 1L))
      q.processAllAvailable()
      assert(spark.table("sess_append_demo").count() == 0)
      // batch 2: event far past the close+watermark → session 1 emitted
      ms.addData((20 * H, 1L))
      q.processAllAvailable()
      val rows = spark.table("sess_append_demo")
        .select(col("user_id"), col("session_window.start").cast("long"),
          col("n_events")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 0L, 2L)), rows.mkString(","))
      // the open session (20h) is in state, not in the sink
    } finally q.stop()
  }

  test("st8: stream-stream join evicts both sides' state past the watermark horizon") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mc = MemoryStream[(Long, Long)] // (epoch, user)
    val mp = MemoryStream[(Long, Long)]
    val clicks = mc.toDF().toDF("epoch", "user_id")
      .withColumn("c_ts", timestamp_seconds(col("epoch"))).drop("epoch")
      .withWatermark("c_ts", "10 seconds")
    val purchases = mp.toDF().toDF("epoch", "p_user")
      .withColumn("p_ts", timestamp_seconds(col("epoch"))).drop("epoch")
      .withWatermark("p_ts", "10 seconds")
    val j = clicks.join(purchases,
      col("user_id") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") < col("c_ts") + expr("INTERVAL 30 SECONDS"))
    val q = j.writeStream.outputMode("append").format("memory")
      .queryName("ss_join_demo").start()
    try {
      // a matching pair emits, and both rows are buffered for further
      // matches (epochs offset from 0 — an event time equal to the
      // initial watermark would be treated as late)
      mc.addData((1000L, 1L)); mp.addData((1010L, 1L))
      q.processAllAvailable()
      assert(spark.table("ss_join_demo").count() == 1)
      // watermark jumps far past the first pair's join horizon → its
      // state must be evicted; only the two new rows may stay buffered.
      // Without the time-bound condition this would grow monotonically.
      // Asserted with slack (< 4, i.e. the first pair's 2 rows are
      // gone) rather than an exact count: whether the watermark-commit
      // cleanup batch runs inside this processAllAvailable depends on
      // shouldRunAnotherBatch scheduling, which has shifted across
      // Spark patch releases — the eviction EFFECT is the contract,
      // the batch count is not.
      mc.addData((10000L, 2L)); mp.addData((10010L, 2L))
      q.processAllAvailable()
      assert(spark.table("ss_join_demo").count() == 2)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows < 4, s"first pair's state not evicted: $stateRows rows buffered")
    } finally q.stop()
  }

  test("st9: a session whose end lands EXACTLY on the watermark is emitted") {
    // Pins the append-mode eviction boundary: Spark emits a session as
    // soon as watermark >= session_end (INCLUSIVE at equality). st9's
    // oracle must therefore select sessions with end <= final watermark
    // — a strict < would drop a session whose last event is exactly
    // (gap + delay) before the stream's max timestamp, which
    // second-granularity fixtures can produce.
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val ev = ms.toDF().toDF("epoch", "user_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
      .withWatermark("ts", "1 hour")
    val sess = ev.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = sess.writeStream.outputMode("append").format("memory")
      .queryName("sess_eq_wm_demo").start()
    try {
      val H = 3600L
      ms.addData((0L, 1L)) // session end = 6H
      q.processAllAvailable()
      ms.addData((7 * H, 2L)) // watermark → 7H − 1H = 6H == session end
      q.processAllAvailable()
      val rows = spark.table("sess_eq_wm_demo")
        .select(col("user_id"), col("session_window.end").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 6 * H)),
        s"session with end == watermark not emitted: $rows")
    } finally q.stop()
  }

  test("st6: an event exactly at the gap boundary MERGES into the open session") {
    // Empirically pins Spark's exact-boundary semantics: session windows
    // merge on touch-or-overlap (newStart <= openEnd), so an event at
    // prev_ts + exactly the gap EXTENDS the session. st6's oracle
    // therefore breaks sessions only on gap > 6h (strict) — matching.
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val ev = ms.toDF().toDF("epoch", "user_id")
      .withColumn("ts", timestamp_seconds(col("epoch")))
    val sess = ev.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = sess.writeStream.outputMode("complete").format("memory")
      .queryName("sess_boundary_demo").start()
    try {
      val H = 3600L
      ms.addData((0L, 1L), (6 * H, 1L))
      q.processAllAvailable()
      val rows = spark.table("sess_boundary_demo")
        .select(col("session_window.start").cast("long"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((0L, 2L)), rows.mkString(","))
    } finally q.stop()
  }

  test("st10: streaming upsert converges to the batch latest state, across real micro-batches") {
    import org.apache.spark.sql.expressions.Window
    val snapshot = run("st10_stream_upsert").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getTimestamp(2)))).toMap
    // the run stages >= 4 files with maxFilesPerTrigger=1, so the merge
    // path must have produced multiple snapshot versions
    val base = new java.io.File(graft.model.Fs.path("st10", Sf))
    val versions = base.listFiles().map(_.getName).filter(_.startsWith("v"))
    assert(versions.length >= 4, versions.mkString(","))
    // batch-boundary-free convergence: identical to the direct recompute
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val direct = graft.sources.Tables.events(spark, Sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("value"), r.getAs[java.sql.Timestamp]("ts")))).toMap
    assert(snapshot == direct)
  }

  test("st11: observed gate metrics equal the batch ground truth across all batches") {
    val gated = graft.sources.Tables.documentsStream(spark, Sf)
      .observe("gate",
        count(lit(1)).as("rows_seen"),
        sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("rows_dropped"))
      .filter(col("n_chars") >= 200)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val q = gated.writeStream.outputMode("complete")
      .format("memory").queryName("st11_obs").start()
    try q.processAllAvailable() finally q.stop()
    // observedMetrics are per micro-batch; sum over the whole run
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("gate")))
    assert(metrics.nonEmpty, "no observed metrics surfaced")
    val seen = metrics.map(_.getAs[Long]("rows_seen")).sum
    val dropped = metrics.map(_.getAs[Long]("rows_dropped")).sum
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    assert(seen == docs.count(), s"rows_seen $seen")
    assert(dropped == docs.filter(col("n_chars") < 200).count(),
      s"rows_dropped $dropped")
    // the observe node is pass-through: gated output matches the batch gate
    val streamed = spark.table("st11_obs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = docs.filter(col("n_chars") >= 200)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == direct)
  }

  test("state-store provider swap: results identical under RocksDB (the spill-capable 100 TB provider)") {
    // the default HDFSBackedStateStore is heap-resident — fine at test
    // scale, an OOM risk when keyed state outgrows executor memory. The
    // 100 TB deployment sets the RocksDB provider (bounded memory,
    // spills to local disk). State semantics must not depend on the
    // provider: the same stateful query must produce identical results.
    val Provider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def st2(): Map[String, Long] = run("st2_stream_peak_state").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t0 = System.nanoTime(); val dflt = st2()
    val t1 = System.nanoTime()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Provider)
    val (rocks, t2) =
      try { (st2(), System.nanoTime()) }
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert(rocks == dflt && rocks.nonEmpty)
    info(f"st2 default ${(t1 - t0) / 1e9}%.2f s, rocksdb ${(t2 - t1) / 1e9}%.2f s")

    // engagement proof: the provider conf really reaches the state store
    // (rocksdb custom metrics appear in the query progress)
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", Provider)
    try {
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
      val q = ms.toDF().toDF("k", "v").groupBy("k").agg(max("v").as("mx"))
        .writeStream.outputMode("update").format("memory")
        .queryName("rocks_probe").start()
      try {
        ms.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
        val custom = q.lastProgress.stateOperators.head.customMetrics
        assert(custom.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
          custom.toString)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
