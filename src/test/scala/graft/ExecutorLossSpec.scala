package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 gate: results must survive EXECUTOR LOSS byte-identically.
  *
  * RetryCheck (round 11) covers task-level failures; this covers the
  * harder path — an executor JVM SIGKILLed mid-query takes its shuffle
  * map outputs with it (no external shuffle service), so reducers hit
  * FetchFailed, the DAGScheduler resubmits the lost map partitions, and
  * the standalone worker relaunches a replacement executor that
  * re-registers from scratch. [[ExecutorLossCheck]] choreographs exactly
  * one kill per query (after a stage has completed, so the victim owns
  * outputs someone needs) over a 5-query multi-stage suite and pins
  * exact fingerprint parity with the undisturbed run; the gate fails if
  * no kill landed or the loss was never felt (no lost task AND no
  * resubmitted stage).
  *
  * Subprocess for the usual one-context-per-JVM reason — and because
  * the killer must see the executor backends as ITS process descendants.
  *
  * The task-failure half of the recovery story runs here too:
  * [[RetryCheck]] fails the first attempt of half a stage's tasks and
  * pins the retried result's fingerprint to the uninjected run.
  */
class ExecutorLossSpec extends AnyFunSuite {

  test("5-query suite: executor SIGKILL mid-query, results byte-identical") {
    val r = GateLauncher.run("graft.ExecutorLossCheck",
      Seq("/root/testdata/sf0.01"), "executor_loss_parity")
    assert(r.line.contains("\"mismatched\":[]"), r.line)
    assert(r.line.contains("\"failed\":[]"), r.line)
    assert(r.line.contains(s""""matched":${ExecutorLossCheck.Suite.size}"""), r.line)
    assert(!r.line.contains("\"kills\":0,"), s"no executor was killed: ${r.line}")
  }

  test("task retries: injected first-attempt failures, result unchanged") {
    // no sfDir argument: RetryCheck's default corpus is sf0.01
    val r = GateLauncher.run("graft.RetryCheck", Seq.empty, "retry_invariance")
    assert(r.line.contains("\"match\":true"), r.line)
    val injected = """"injected_failures":(\d+)""".r
      .findFirstMatchIn(r.line).get.group(1).toLong
    assert(injected > 0, s"no task failure was injected: ${r.line}")
  }
}
