package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Executor-LOSS audit main: under `local-cluster[2,4,2048]`, kill one
  * of the two REAL executor JVMs (SIGKILL the CoarseGrainedExecutor-
  * Backend process) in the middle of each gated query, and pin the
  * result exactly equal to the undisturbed run.
  *
  * Why this exists beyond RetryCheck (round 11): RetryCheck injects
  * task-level FAILURES — exceptions a task throws and Spark retries on
  * the same executors. Executor DEATH is a different recovery path: the
  * executor's shuffle map outputs vanish with it (no external shuffle
  * service here, as on many real clusters), so downstream reducers hit
  * FetchFailed, the DAGScheduler resubmits the parent map stage for the
  * lost partitions, and the standalone worker relaunches a fresh
  * executor that must re-register and re-receive every broadcast and
  * task binary. On a 1000-executor cluster this happens daily (spot
  * kills, OOM kills, node failures); a result that shifts under it —
  * a non-deterministic partial re-aggregation, state rebuilt from a
  * side effect, an Aggregator whose re-run diverges — is a silent
  * correctness bug at scale. All gated queries are deterministic by
  * construction (DuckDB-oracled), so exact fingerprint parity is the
  * right contract.
  *
  * Kill choreography per query: once re-armed, a stage-completion
  * listener SIGKILLs one live executor backend process when the FIRST
  * stage of the query's own job completes (so the victim executor owns
  * shuffle outputs some later stage must fetch). The gate
  * requires (a) at least one kill actually happened while queries ran,
  * and (b) at least one task-end with a non-success reason OR a stage
  * resubmission was observed — proving the loss was felt, not absorbed
  * before any work landed on the victim.
  *
  * Usage: runMain graft.ExecutorLossCheck [sfDir]  (prints one JSON
  * line; ExecutorLossSpec launches it as a subprocess).
  */
object ExecutorLossCheck {

  /** Multi-stage shapes with real shuffle dependencies: iterative
    * PageRank (checkpointed lineage re-registration), the banded dedup
    * join (Cached persist partially lost with the executor), a wide
    * TPC-H agg-join, the priority-dedup window, and the single-pass
    * MinHash Aggregator (buffer re-merge on re-run). */
  val Suite: Seq[String] = Seq(
    "g1_pagerank", "dd2_minhash_lsh", "q18_big_orders",
    "a8_priority_dedup", "dd14_minhash_production")

  /** The executor JVMs forked under this process. ProcessHandle's
    * commandLine() is TRUNCATED on Linux (the giant -cp pushes the main
    * class off the end), so read /proc/<pid>/cmdline directly — the
    * NUL-separated full argv — and match the backend class there. */
  private def executorBackends(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.current().descendants().iterator().asScala.filter { ph =>
      scala.util.Try {
        val raw = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/${ph.pid()}/cmdline"))
        new String(raw, java.nio.charset.StandardCharsets.US_ASCII)
          .contains("CoarseGrainedExecutorBackend")
      }.getOrElse(false)
    }.toSeq
  }

  private def session(tag: String): SparkSession.Builder =
    Session.builder("local-cluster[2,4,2048]", 8, s"el_${tag}_")
      .appName(s"graft-executor-loss-$tag")
      .config("spark.executor.extraClassPath", Jvm.absoluteClasspath)
      .config("spark.executor.extraJavaOptions", Jvm.addOpensString)
      .config("spark.executor.memory", "2g")
      // lost-shuffle recovery must win within the run: generous retry
      // budget, short locality waits so resubmitted tasks land anywhere
      .config("spark.task.maxFailures", "8")
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .config("spark.locality.wait", "0")

  /** The kill phase's listener: kills one executor per [[rearm]] and
    * records whether the loss was felt. */
  private final class Killer extends SparkListener {
    val kills, nonSuccess, resubmits = new AtomicInteger(0)
    // ONE kill per query: the first kill exhausts the budget until the
    // driver re-arms it for the next query — continuous slaughter would
    // murder every relaunched executor and exhaust the stage-attempt
    // budget (the first run of this gate did exactly that: 90 kills,
    // every job dead at 8 attempts).
    private val budget = new AtomicInteger(0)
    def rearm(): Unit = budget.set(1)

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      // a stage attempt beyond 0 is the DAGScheduler resubmitting
      // after lost shuffle output — the other way a felt loss shows
      if (s.stageInfo.attemptNumber() > 0) resubmits.incrementAndGet()
      // a stage has completed: its map outputs now live on the
      // executors, including the victim. Kill whichever backend is
      // alive; the worker relaunches a replacement, which must
      // re-register from scratch
      if (budget.getAndSet(0) > 0)
        executorBackends().headOption.foreach { ph =>
          if (ph.destroyForcibly()) kills.incrementAndGet()
        }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (!t.reason.toString.startsWith("Success")) nonSuccess.incrementAndGet()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")

    // ---- Phase 1: undisturbed reference run ----
    val (ref, _) = Parity.phase(session("ref"), _ => ())(
      (s, _) => Parity.fingerprints(s, Suite, sfDir))

    // ---- Phase 2: same queries, one executor SIGKILLed mid-query ----
    val (kill, k) = Parity.phase(session("kill"),
      s => { val k = new Killer; s.sparkContext.addSparkListener(k); k })(
      (s, k) => Suite.map { q => k.rearm(); Parity.fingerprints(s, Seq(q), sfDir) }
        .reduce(_ ++ _))

    // felt = the loss was observable in the scheduler (a lost/failed
    // task OR a resubmitted stage), not a no-op kill
    val felt = k.nonSuccess.get() > 0 || k.resubmits.get() > 0
    Parity.report("executor_loss_parity", Suite, sfDir, "ref" -> ref, "kill" -> kill,
      Seq("kills" -> k.kills.get().toString,
        "non_success_tasks" -> k.nonSuccess.get().toString,
        "stage_resubmits" -> k.resubmits.get().toString),
      k.kills.get() > 0 && felt)
  }
}
