package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** In-memory span: run -> job -> call / action. Times are epoch millis so
  * they line up with Spark's task launch and finish times. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

/** Span store of one run: every span shares the run id, nothing leaves
  * memory until the run writes them out. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, kind: String, name: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, kind, name, start, end, attrs)
    id
  }

  /** Duration minus the time covered by the span's children. */
  def selfMs(s: Span): Long =
    s.dur - Intervals.covered(spans.iterator.filter(_.parent == s.id)
      .map(c => (c.start, c.end)).toSeq, s.start, s.end)

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${graft.Json.str(k)}:${graft.Json.str(v)}" }
    s"""{"run":${graft.Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
      s""""kind":${graft.Json.str(s.kind)},"name":${graft.Json.str(s.name)},""" +
      s""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${selfMs(s)},""" +
      s""""attrs":${attrs.mkString("{", ",", "}")}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total + (curE - curS)
  }
}

/** Spark counts per benchmark job. */
final class JobCounts {
  var sparkJobs = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
}

/** Scheduler-side counts, attributed to benchmark jobs through the local
  * property [[EngineListener.JobProp]] that the client thread sets before
  * each job (streaming query threads inherit it). Jobs whose property
  * [[EngineListener.TracedProp]] is not "1" are ignored, which is how a
  * run switches tracing off without detaching the listener and losing
  * events still queued on the bus. All fields are written on the
  * listener-bus thread; read them only after `SparkContext.stop()` has
  * drained the bus. */
final class EngineListener extends SparkListener {
  import EngineListener._

  val perJob = mutable.Map.empty[Int, JobCounts]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val ignoredStages = mutable.Set.empty[Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var jobs, stages, tasks, taskFailures = 0L
  var taskMs, taskWaitMs = 0L
  var shuffleBytes, spillBytes, inputBytes, inputRecords, outputBytes, outputRecords = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (!props.exists(p => p.getProperty(TracedProp) == "1")) {
      ignoredStages ++= e.stageIds
      return
    }
    val idx = props.flatMap(p => Option(p.getProperty(JobProp))).map(_.toInt).getOrElse(-1)
    jobs += 1
    perJob.getOrElseUpdate(idx, new JobCounts).sparkJobs += 1
    e.stageIds.foreach(stageJob(_) = idx)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    if (ignoredStages(si.stageId)) return
    stages += 1
    si.submissionTime.foreach(t => stageSubmit((si.stageId, si.attemptNumber())) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (ignoredStages(e.stageId)) return
    val info = e.taskInfo
    tasks += 1
    if (!info.successful) taskFailures += 1
    taskIntervals += ((info.launchTime, info.finishTime))
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(t => taskWaitMs += math.max(0L, info.launchTime - t))
    val c = perJob.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new JobCounts)
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      c.taskMs += m.executorRunTime
      val sh = m.shuffleWriteMetrics.bytesWritten
      shuffleBytes += sh
      c.shuffleBytes += sh
      spillBytes += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

object EngineListener {
  val JobProp = "graftbench.job"
  val TracedProp = "graftbench.traced"
}

/** In-memory cache scans of a result's physical plan: AQE wrappers and
  * subqueries are walked, the cached relations' own build plans are not. */
object CacheScans {
  def of(p: SparkPlan): Seq[InMemoryTableScanExec] = {
    val here = p match {
      case s: InMemoryTableScanExec => Seq(s)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    here ++ (kids ++ p.subqueries).flatMap(of)
  }
}

/** Live heap probes: once the listener bus has delivered every queued
  * event, full collections until the heap in use stops shrinking, then
  * the heap in use, which is what the run keeps alive (Spark's on-heap
  * cache included). Queued events would otherwise count as live; a
  * collection lets Spark's ContextCleaner drop the blocks of broadcasts
  * and shuffles that became unreachable, and a later one frees them. The
  * probes' own collection time is kept apart from the program's. */
final class HeapProbe {
  private val StableBytes = 1L << 20
  private val MaxRounds = 8
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var probeMs = 0L
  val liveBytes = mutable.ArrayBuffer.empty[Long]

  def probe(sc: org.apache.spark.SparkContext): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    val before = collectorMs
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used
    var now = used
    var rounds = 2
    while (last - now > StableBytes && rounds < MaxRounds) { last = now; now = used; rounds += 1 }
    liveBytes += now
    probeMs += collectorMs - before
  }

  def peakBytes: Long = liveBytes.max

  private def collectorMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Collection time of the program so far, probes excluded. */
  def programGcMs: Long = collectorMs - probeMs
}
