package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

/** Operational audit main: prove "results survive task retries
  * unchanged" by RUNNING it, not asserting it.
  *
  * SCALE.md's reproducibility story rests on hash-determinism (no
  * rand(), no partitioning-dependent arithmetic), which implies a task
  * re-executed after a failure recomputes byte-identical output. This
  * main makes the implication observable: it runs an aggregation
  * pipeline over the events table in a `local[4, 2]` session (2 task
  * attempts) with a mapPartitions stage that THROWS on the first
  * attempt of every even-numbered partition — so half the stage's
  * tasks really do fail and re-run — and compares the order-independent
  * exact [[Fingerprint]] (row count, bit_xor and wrapping sum of per-row
  * xxhash64) against the same pipeline with no injection. Any divergence under retry (lost rows, duplicated rows,
  * reordered nondeterministic arithmetic) changes the fingerprint.
  *
  * Usage: runMain graft.RetryCheck [sfDir]   (prints one JSON line;
  * ExecutorLossSpec launches it as a subprocess).
  */
object RetryCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // 2 attempts: first-attempt failures retry
    val spark = Session.builder("local[4, 2]", 4, "rc_")
      .appName("graft-retry-check")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR") // injected failures WARN loudly

    // proof the failure path actually executed: a listener counting
    // FAILED task attempts (an accumulator cannot — Spark discards
    // accumulator updates from failed tasks, which is itself part of
    // the exactly-once story this main demonstrates)
    val failedTasks = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (!e.taskInfo.successful) failedTasks.incrementAndGet()
      })

    def pipeline(inject: Boolean) = {
      // hash-repartition to 8 so the injected stage has 8 real tasks
      // (4 of which fail their first attempt), not one small-file scan
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .repartition(8, col("event_id"))
      val staged =
        if (!inject) ev
        else ev.mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc.attemptNumber() == 0 && tc.partitionId() % 2 == 0)
            throw new RuntimeException(
              s"injected first-attempt failure in partition ${tc.partitionId()}")
          it
        }(ev.encoder)
      // integer-exact per-group aggregate: value is 2-decimal, so cents
      // are exact AFTER the decimal cast — value*100 on the raw double
      // truncates IEEE error (0.29 stores as 0.2899…98; *100→28.99…96;
      // long cast → 28), which is deterministic but not the cents sum
      staged.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"),
          sum((col("value").cast("decimal(18,4)") * 100).cast("long"))
            .as("sv"))
    }

    val clean = Fingerprint.of(pipeline(inject = false))
    val retried = Fingerprint.of(pipeline(inject = true))
    // listener events are posted asynchronously; stop() drains the bus,
    // so the count is complete after it
    spark.stop()
    val nFailed = failedTasks.get()
    val ok = clean == retried && nFailed > 0
    println(s"""{"metric":"retry_invariance","match":$ok,""" +
      s""""injected_failures":$nFailed,""" +
      s""""rows":${clean.n},"xor":${clean.xor},"sum":${clean.sum},""" +
      s""""rows_retry":${retried.n},"xor_retry":${retried.xor},"sum_retry":${retried.sum}}""")
    if (!ok) sys.exit(1)
  }
}
