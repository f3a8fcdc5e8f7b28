package graft

import org.apache.spark.sql.functions._

/** Pins the executed-plan-harvest lesson that cost round 17 a debugging
  * detour: `df.count()` plans its OWN
  * QueryExecution, so `df.queryExecution.executedPlan` is a plan that
  * never ran — under AQE it stays `isFinalPlan=false` forever, and
  * grepping it for skew marks (or printing it as "the" plan) reads
  * decisions AQE never made. The plan that actually executed reaches a
  * QueryExecutionListener's onSuccess with `isFinalPlan=true`. This
  * suite asserts BOTH halves of the trap so a future harness cannot
  * quietly regress to the wrong side.
  */
class ExecutedPlanListenerSpec extends SparkSpec {

  test("listener harvests the AQE final plan; the stale handle never finalizes") {
    // 424243 fingerprints OUR query's plans on the shared async listener
    // bus (warmups and other suites' executions also fire onSuccess)
    @volatile var harvested = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("424243")) harvested = p
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // one shuffle under AQE (enabled session-wide in SparkSpec)
      val df = spark.range(100000)
        .select((col("id") % 424243 % 997).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
      df.count()

      // the handle the caller holds: an adaptive plan that never ran
      val stale = df.queryExecution.executedPlan.toString
      assert(stale.contains("AdaptiveSparkPlan"), stale.take(500))
      assert(stale.contains("isFinalPlan=false"),
        s"count() executed the caller's own QueryExecution?\n${stale.take(2000)}")

      // the listener bus is async: poll, don't sleep a fixed interval
      val deadline = System.nanoTime() + 15_000_000_000L
      while (harvested.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(harvested.nonEmpty, "listener never saw the count()'s execution")
      assert(harvested.contains("isFinalPlan=true"),
        s"harvested plan is not the executed FINAL plan:\n${harvested.take(2000)}")
    } finally spark.listenerManager.unregister(listener)
  }
}
