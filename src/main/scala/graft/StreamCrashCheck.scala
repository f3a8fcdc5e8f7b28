package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}

import graft.Fingerprint.Fp
import graft.streaming.MonitorStream.{MonSample, TilePeak}

/** Streaming CRASH-RECOVERY audit main: SIGKILL a stateful streaming
  * query's JVM in the MIDDLE of a micro-batch, restart it from its own
  * checkpoint, run to completion, and pin the converged result
  * byte-identical to an undisturbed run.
  *
  * This is the one failure regime the round-12 gate inventory did not
  * cover: ExecutorLossCheck kills executors under BATCH queries (shuffle
  * recovery); st13 does two PLANNED runs against one checkpoint (clean
  * stop, clean resume). Nothing killed a stateful streaming query while
  * a micro-batch was in flight — i.e. after the offset WAL named the
  * batch's input but before the commit log sealed it, with keyed state
  * (session windows, dedup sets, mapGroupsWithState buffers) mid-update.
  * Recovery from that point is Structured Streaming's exactly-once
  * contract: on restart the engine replays the uncommitted batch from
  * the offset log against the LAST COMMITTED state-store version, and a
  * sink that is idempotent per batch id deduplicates the re-delivery.
  * That is the reference's O3 restart semantics (processor.py:89-125 —
  * crashed tiles re-enter the queue and must not double-count) lifted to
  * the streaming plane, and the daily reality of a long-running ingest:
  * a 100 TB stream WILL lose its driver mid-batch.
  *
  * Choreography per shape: the events fixture is staged as 8
  * strictly-ordered files; a child JVM runs the shape with
  * maxFilesPerTrigger=1 + Trigger.AvailableNow and a foreachBatch sink
  * that (a) drops a marker file when batch N starts, (b) writes the
  * batch output idempotently (overwrite keyed by batch id), then
  * (c) sleeps before returning — so the parent, polling for the batch-2
  * marker, lands its SIGKILL inside the batch with certainty. Mid-batch
  * is then PROVEN from the checkpoint itself: max(offsets) >
  * max(commits) at kill time, and the gate fails if any kill missed.
  * The relaunched child resumes from the checkpoint, reprocesses the
  * uncommitted batch (state-store recovery + idempotent re-write), and
  * its converged fingerprint must equal the undisturbed run's exactly.
  *
  * Usage: runMain graft.StreamCrashCheck [sfDir]       (the driver)
  *        runMain graft.StreamCrashCheck child <shape> <sfDir> <workDir>
  * Prints one JSON line; StreamCrashSpec launches it as a subprocess.
  */
object StreamCrashCheck {

  /** The stateful shapes named by the round-12 verdict, each exercising
    * a different state-store layout through recovery:
    * mapGroupsWithState's user buffers (st2), merging session windows in
    * append mode (st6/st9), the dedup-within-watermark key set (st4),
    * foreachBatch CDC snapshot chaining (st10), and watermark-closed
    * tumbling windows (st1's production append form). */
  val Suite: Seq[String] = Seq(
    "peak_state", "session_append", "dedup_watermark",
    "cdc_upsert", "windowed_agg")

  /** Batch whose mid-flight execution receives the SIGKILL: late enough
    * that committed keyed state exists to recover, early enough that
    * real work (5 more files) happens after the restart. */
  private val KillBatch = 2L

  /** foreachBatch sleeps this long AFTER writing output, BEFORE
    * returning — the window in which the batch is observable (marker
    * file) but uncommitted. The parent's kill poll is 25 ms. */
  private val BatchSleepMs = 500L

  // ---------------------------------------------------------------- child

  private def childSession(): SparkSession =
    Session.builder("local[4]", 4, "scc_")
      .appName("graft-stream-crash-child")
      .getOrCreate()

  /** Stage events as 8 single-file jobs in strictly increasing mod-time
    * order (FileStreamSource orders by mod time), so every fresh run of
    * one shape slices the stream into the same 8 micro-batches.
    * Idempotent: the restarted child sees the marker and reuses the
    * files its checkpoint's offset log references. */
  private def stage(s: SparkSession, sfDir: String, work: String): String = {
    val dir = s"$work/stage"
    val marker = Paths.get(s"$work/_STAGED")
    if (!Files.exists(marker)) {
      val ev = graft.sources.Tables.events(s, sfDir)
        .select("user_id", "event_id", "ts", "event_type", "value")
      (0 until 8).foreach { b =>
        ev.filter(col("event_id") % 8 === b)
          .coalesce(1).write.mode("append").parquet(dir)
      }
      Files.createFile(marker)
    }
    dir
  }

  private def source(s: SparkSession, stageDir: String): DataFrame =
    // staging went through Tables.events, so ts is already a timestamp
    s.readStream
      .schema(s.read.parquet(stageDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir)

  /** The streaming DataFrame + output mode per shape. */
  private def shapeOf(s: SparkSession, src: DataFrame, shape: String): (DataFrame, String) =
    shape match {
      case "peak_state" =>
        import s.implicits._
        val mon = graft.sources.Tables.monitorCols(src)
          .select(col("tile_id"), col("mem_rss")).as[MonSample]
        val peaks = mon.groupByKey(_.tile_id)
          .mapGroupsWithState[Long, TilePeak](GroupStateTimeout.NoTimeout) {
            (tile, rows, state) =>
              val mx = (rows.map(_.mem_rss) ++ state.getOption.iterator).max
              state.update(mx)
              TilePeak(tile, mx)
          }
        (peaks.toDF(), "update")
      case "session_append" =>
        val sess = src.withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events"))
        (sess, "append")
      case "dedup_watermark" =>
        val dd = src.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select("user_id", "event_type", "event_id")
        (dd, "append")
      case "cdc_upsert" =>
        (src.select("user_id", "event_id", "ts", "value"), "append")
      case "windowed_agg" =>
        val agg = graft.sources.Tables.monitorCols(src)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("tile_id"))
          .agg(count(lit(1)).as("n"), max("mem_rss").as("mem_peak"))
          .select(col("window.start").as("hour"), col("tile_id"),
            col("n"), col("mem_peak"))
        (agg, "append")
    }

  /** Converged result after the stream finishes — what gets
    * fingerprinted and must be crash-invariant. */
  private def result(s: SparkSession, work: String, shape: String): DataFrame = {
    def outUnion(): DataFrame = {
      val dirs = new java.io.File(s"$work/out").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("b"))
        .map(_.getPath).sorted
      dirs.map(s.read.parquet(_)).reduce(_ unionByName _)
    }
    shape match {
      case "peak_state" => // update mode re-emits a key per batch: fold to the final peak
        outUnion().groupBy("tile_id").agg(max("mem_peak").as("mem_peak"))
      case "cdc_upsert" => // the tip of the snapshot chain
        val last = new java.io.File(s"$work/snap").listFiles()
          .filter(_.getName.startsWith("v")).map(_.getName.drop(1).toLong).max
        s.read.parquet(s"$work/snap/v$last")
      case _ => outUnion()
    }
  }

  private def child(shape: String, sfDir: String, work: String): Unit = {
    val s = childSession()
    s.sparkContext.setLogLevel("ERROR")
    val stageDir = stage(s, sfDir, work)
    val (df, mode) = shapeOf(s, source(s, stageDir), shape)
    Files.createDirectories(Paths.get(s"$work/markers"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val q = df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        try Files.write(Paths.get(s"$work/markers/start_$id"),
          Array.empty[Byte], StandardOpenOption.CREATE)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        if (shape == "cdc_upsert") {
          // latest-wins MERGE into a versioned snapshot (st10's shape).
          // Reading v(id-1) FROM DISK — not a driver variable — is what
          // makes the re-run of an uncommitted batch reproduce the same
          // snapshot: v(id-1) was sealed before batch id's offsets were.
          val latestB = batch.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
          val merged =
            if (id == 0) latestB
            else s.read.parquet(s"$work/snap/v${id - 1}").unionByName(latestB)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
          merged.coalesce(1).write.mode("overwrite").parquet(s"$work/snap/v$id")
        } else {
          // idempotent per-batch-id sink: a replayed batch OVERWRITES
          // the partial output its killed predecessor left behind
          batch.coalesce(1).write.mode("overwrite").parquet(s"$work/out/b$id")
        }
        // output written, commit pending: the kill window
        Thread.sleep(BatchSleepMs)
      }
      .start()
    q.awaitTermination()
    val fp = Fingerprint.of(result(s, work, shape))
    println(s"""{"metric":"stream_child","shape":"$shape","n":${fp.n},"xor":${fp.xor},"sum":${fp.sum}}""")
    s.stop()
  }

  // --------------------------------------------------------------- driver

  private final case class ChildRun(exit: Int, fp: Option[Fp])

  private def launchChild(shape: String, sfDir: String, work: String,
      killAtMarker: Option[java.nio.file.Path]): ChildRun = {
    val pb = new ProcessBuilder(Jvm.command("4g", "graft.StreamCrashCheck",
      Seq("child", shape, sfDir, work)): _*)
    val errFile = java.io.File.createTempFile("scc", ".err", graft.model.Fs.root)
    pb.redirectError(errFile)
    val proc = pb.start()
    killAtMarker match {
      case Some(marker) =>
        // poll for the kill batch's start marker, then SIGKILL inside
        // its sleep window
        while (proc.isAlive && !Files.exists(marker)) Thread.sleep(25)
        Thread.sleep(100) // let the batch get its output mid-write
        proc.destroyForcibly()
        proc.waitFor()
        // a killed JVM runs no exit hook: remove its scratch root here
        graft.model.Fs.deleteRecursively(graft.model.Fs.rootOf(proc.pid))
        ChildRun(proc.exitValue(), None)
      case None =>
        val out = new String(proc.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val exit = proc.waitFor()
        val fp = out.linesIterator
          .find(_.contains(""""metric":"stream_child""""))
          .map { line =>
            def num(k: String) =
              s""""$k":(-?\\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
            Fp(num("n"), num("xor"), num("sum"))
          }
        if (exit != 0 || fp.isEmpty) {
          val tail = scala.util.Try(scala.io.Source.fromFile(errFile)(
            scala.io.Codec.UTF8).getLines().toSeq.takeRight(10).mkString(" | "))
            .getOrElse("")
          System.err.println(s"[stream-crash] child $shape exit=$exit $tail")
        }
        ChildRun(exit, fp)
    }
  }

  /** Max batch id present in a checkpoint sublog (offsets/commits). */
  private def maxBatch(dir: String): Long = {
    val f = new java.io.File(dir)
    if (!f.isDirectory) -1L
    else f.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).foldLeft(-1L)(math.max)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) {
      child(args(1), args(2), args(3))
      return
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val root = graft.model.Fs.scratch("scc", sfDir)

    val results = Suite.map { shape =>
      // Phase 1: undisturbed reference run
      val refWork = s"$root/${shape}_ref"
      val ref = launchChild(shape, sfDir, refWork, None)

      // Phase 2: kill mid-batch, prove it, restart from the checkpoint
      val work = s"$root/${shape}_kill"
      val killed = launchChild(shape, sfDir, work,
        Some(Paths.get(s"$work/markers/start_$KillBatch")))
      val offsetsAfterKill = maxBatch(s"$work/ckpt/offsets")
      val commitsAfterKill = maxBatch(s"$work/ckpt/commits")
      val midBatch = offsetsAfterKill > commitsAfterKill
      val resumed = launchChild(shape, sfDir, work, None)

      (shape, ref, killed, resumed, midBatch, offsetsAfterKill, commitsAfterKill)
    }

    val matched = results.count { case (_, ref, _, res, mid, _, _) =>
      mid && ref.fp.isDefined && ref.fp == res.fp && ref.fp.exists(_.n > 0) }
    val mismatched = results.collect {
      case (sh, ref, _, res, _, _, _) if ref.fp != res.fp => sh }
    val notMid = results.collect { case (sh, _, _, _, false, _, _) => sh }
    val failed = results.collect {
      case (sh, ref, _, res, _, _, _) if ref.fp.isEmpty || res.fp.isEmpty => sh }
    val detail = results.map { case (sh, _, killed, _, mid, o, c) =>
      s""""$sh":{"kill_exit":${killed.exit},"offsets":$o,"commits":$c,"mid_batch":$mid}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_crash_parity","matched":$matched,"total":${Suite.size},"mismatched":${Json.arr(mismatched)},"not_mid_batch":${Json.arr(notMid)},"failed":${Json.arr(failed)},"detail":$detail,"sf":${Json.str(sfDir)}}""")
    if (matched != Suite.size) sys.exit(1)
  }
}
