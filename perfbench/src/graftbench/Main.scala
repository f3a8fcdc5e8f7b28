package graftbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Fingerprint, Json, SparkEntry}

/** Benchmark JVM. Modes (first argument):
  *
  *   run        --workload W --seed N --seconds S --trace 0|1
  *              --inputs DIR --work DIR --expected FILE --result FILE
  *   record     --workload W --inputs DIR --work DIR --result FILE
  *   jobs       --workload W
  *   inputs     --inputs DIR
  *   self-check
  *
  * `perfbench/run.py` builds this and drives it; see perfbench/README.md. */
object Main {
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => sys.exit(new Run(opts).execute())
      case Some("record") => record(opts)
      case Some("jobs") =>
        val w = Workloads.byName(opts("workload"))
        w.jobs.sorted.foreach(j => println(s"${w.input}\t$j"))
      case Some("inputs") => inputs(opts("inputs"))
      case Some("self-check") =>
        val problems = SelfCheck.problems()
        problems.foreach(p => System.err.println(s"self-check: $p"))
        println(s"self-check: ${if (problems.isEmpty) "ok" else s"${problems.size} problem(s)"}")
        sys.exit(if (problems.isEmpty) 0 else 1)
      case other =>
        System.err.println(s"unknown mode: ${other.getOrElse("")}")
        sys.exit(2)
    }
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Generated inputs: `graft.DataGen <sf> <dir>` for every input id. */
  def inputs(dir: String): Unit =
    Workloads.Inputs.toSeq.sorted.foreach { case (id, sf) =>
      graft.DataGen.main(Array(sf, new File(dir, id).getAbsolutePath))
    }

  /** Runs every job of a workload once and writes `input \t job \t
    * fingerprint` lines; run.py calls this only after the DuckDB oracle
    * has passed on the same jobs and input. */
  def record(opts: Map[String, String]): Unit = {
    val w = Workloads.byName(opts("workload"))
    val spark = session(opts("work"))
    val jobs = new Jobs(spark, opts("inputs"), w.input)
    val lines = w.jobs.sorted.map { name =>
      val df = jobs.call(name)
      s"${w.input}\t$name\t${jobs.fingerprint(name, df)}"
    }
    Files.write(Paths.get(opts("result")), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    graft.sources.Cached.releaseAll()
    spark.stop()
  }

  def loadExpected(file: String): Map[(String, String), String] =
    Files.readAllLines(Paths.get(file), UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => (a(0), a(1)) -> a(2)).toMap

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The work of one job, split into the call into the module (planning
  * plus any eager work) and the action that materializes and checks its
  * result. Cli commands run in-process on the same session. */
final class Jobs(spark: SparkSession, inputsDir: String, input: String) {
  private val dataDir = new File(inputsDir, input).getAbsolutePath
  /** Captured stdout of the last Cli command. */
  private var cliText = ""

  /** Runs the query function (or the Cli command); returns the result
    * frame for registry jobs, null for Cli jobs. */
  def call(name: String): DataFrame = name match {
    case Workloads.CliRun =>
      cli("run", dataDir, "--restart", "1"); null
    case q => SparkEntry.queries(q)(spark, dataDir)
  }

  private def cli(args: String*): Unit = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(graft.Cli.main(args.toArray))
    cliText = buf.toString("UTF-8")
  }

  /** Materializes every column of the job's result: the order-independent
    * `graft.Fingerprint` of a query result, or a digest of the text a Cli
    * command printed. */
  def fingerprint(name: String, df: DataFrame): String = name match {
    case Workloads.CliRun => Jobs.textFp(cliText)
    case _ => fp(df)
  }

  private def fp(df: DataFrame): String = {
    val f = Fingerprint.of(df)
    s"${f.n}:${f.xor}:${f.sum}"
  }
}

object Jobs {
  /** Line count, xor and sum of line hashes: independent of line order
    * and of the order inside comma-separated lists. */
  def textFp(text: String): String = {
    val hs = text.split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val norm = l.split("=", 2) match {
        case Array(k, v) => k + "=" + v.split(",").sorted.mkString(",")
        case _ => l
      }
      scala.util.hashing.MurmurHash3.stringHash(norm).toLong
    }
    s"${hs.size}:${hs.foldLeft(0L)(_ ^ _)}:${hs.sum}"
  }
}

/** One executed job; times are epoch millis. */
final case class JobRecord(seq: Int, pass: Int, name: String, module: String,
    start: Long, callEnd: Long, end: Long, ok: Boolean, error: String) {
  def latencyS: Double = (end - start) / 1e3
}

/** One measured run. */
final class Run(opts: Map[String, String]) {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val w = Workloads.byName(opts("workload"))
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toInt
  private val traced = opts("trace") == "1"
  private val work = opts("work")
  private val resultFile = opts("result")

  def execute(): Int = {
    val spark = Main.session(work)
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val problems = SelfCheck.problems()
    require(problems.isEmpty, s"self-check failed: ${problems.mkString("; ")}")
    val expected = Main.loadExpected(opts("expected"))
    val jobs = new Jobs(spark, opts("inputs"), w.input)
    val passes = w.passes(seconds)
    val order = w.order(seed, passes)
    val missing = order.map(_._2).distinct.filterNot(j => expected.contains((w.input, j)))
    require(missing.isEmpty, s"no expected fingerprint for ${missing.mkString(", ")}")

    val engine = new EngineListener
    val tracer = new Tracer(s"${w.name}-$seed-${System.currentTimeMillis()}")
    val fanout = new FanoutCounts
    val cache = new CacheCounts
    if (traced) spark.sparkContext.addSparkListener(engine)

    val heap = new HeapProbe
    val gc0 = heap.programGcMs
    val sc = spark.sparkContext
    val records = mutable.ArrayBuffer.empty[JobRecord]
    val mismatches = mutable.ArrayBuffer.empty[String]

    def runJob(seq: Int, pass: Int, name: String, trace: Boolean): JobRecord = {
      sc.setLocalProperty(EngineListener.JobProp, seq.toString)
      sc.setLocalProperty(EngineListener.TracedProp, if (trace) "1" else "0")
      val t0 = System.currentTimeMillis()
      var t1 = t0
      val rec = try {
        val df = jobs.call(name)
        t1 = System.currentTimeMillis()
        if (trace && df != null) cache.observe(df)
        val got = jobs.fingerprint(name, df)
        if (trace && name == "o3_retry_loop") fanout.observe(df)
        val want = expected((w.input, name))
        val ok = got == want
        if (!ok) mismatches += s"$name: expected $want, got $got"
        JobRecord(seq, pass, name, Workloads.moduleOf(name), t0, t1, System.currentTimeMillis(),
          ok, if (ok) "" else "fingerprint mismatch")
      } catch {
        case NonFatal(e) =>
          val t = System.currentTimeMillis()
          JobRecord(seq, pass, name, Workloads.moduleOf(name), t0, if (t1 == t0) t else t1, t,
            ok = false, Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally {
        sc.setLocalProperty(EngineListener.JobProp, null)
        sc.setLocalProperty(EngineListener.TracedProp, null)
      }
      rec
    }

    def span(rs: Seq[JobRecord]): Long = rs.map(_.end).max - rs.map(_.start).min
    // Pass by pass, with a live-heap probe after each; the probes lie
    // between passes and are not part of the makespan.
    val passMs = order.zipWithIndex.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (pass, jobsOfPass) =>
      val rs = jobsOfPass.map { case ((_, name), i) => runJob(i, pass, name, traced) }
      records ++= rs
      heap.probe(sc)
      pass -> span(rs)
    }
    val start = records.head.start
    val end = records.last.end
    val gcS = (heap.programGcMs - gc0) / 1e3

    // Tracing overhead: one more warm pass with tracing off, against the
    // traced warm passes of the same JVM.
    val untraced =
      if (!traced) Nil
      else w.order(seed + 1, 1).zipWithIndex.map { case ((_, name), i) =>
        runJob(order.size + i, passes + 1, name, trace = false)
      }
    val overheadS =
      if (!traced) Double.NaN
      else (Metrics.median(passMs.filter(_._1 > 1).map(_._2.toDouble)) - span(untraced)) / 1e3

    val lat = records.map(_.latencyS).toSeq
    val (tailS, tailPct) = Metrics.tail(lat)
    val attempted = records.size + untraced.size
    val failed = (records ++ untraced).count(!_.ok)
    val p50S = Metrics.median(lat)
    val e2e = Map(
      "setup_s" -> setupS,
      "makespan_s" -> passMs.map(_._2).sum / 1e3,
      "heap_live_peak_mb" -> heap.peakBytes / 1e6)
    val storedMb = if (!traced) 0.0 else
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

    def resultJson(perLayer: Map[String, Double], drained: Boolean): String = {
      def metricsJson(names: Seq[(String, String)], vals: Map[String, Double]) =
        names.map { case (n, u) =>
          s"${Json.str(n)}:{\"value\":${Main.num(vals(n))},\"unit\":${Json.str(u)}}"
        }.mkString("{", ",", "}")
      val jobsJson = records.map { r =>
        s"""{"seq":${r.seq},"pass":${r.pass},"name":${Json.str(r.name)},""" +
          s""""module":${Json.str(r.module)},"call_s":${Main.num((r.callEnd - r.start) / 1e3)},""" +
          s""""action_s":${Main.num((r.end - r.callEnd) / 1e3)},"ok":${r.ok},""" +
          s""""error":${Json.str(r.error)}}"""
      }.mkString("[", ",", "]")
      val passJson = passMs.map { case (p, ms) => s""""$p":${Main.num(ms / 1e3)}""" }
        .mkString("{", ",", "}")
      s"""{"workload":${Json.str(w.name)},"seed":$seed,"seconds":$seconds,"trace":$traced,""" +
        s""""passes":$passes,"jobs_per_pass":${w.jobs.size},"attempted":$attempted,""" +
        s""""failed":$failed,"failed_frac":${Main.num(failed.toDouble / attempted)},""" +
        s""""correct":${failed == 0},"mismatches":${mismatches.map(Json.str).mkString("[", ",", "]")},""" +
        s""""job_p50_s":${Main.num(p50S)},"job_tail_s":${Main.num(tailS)},""" +
        s""""job_tail_percentile":${Main.num(tailPct)},"job_tail_n":${lat.size},""" +
        s""""trace_overhead_s":${Main.num(overheadS)},"listener_drained":$drained,""" +
        s""""provenance":{"input":${Json.str(w.input)},"datagen_args":${Json.str(s"${Workloads.Inputs(w.input)} <dir>")},""" +
        s""""local_n":${Main.Cpus},"master":${Json.str(sc.master)},"driver_heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
        s""""spark_version":${Json.str(spark.version)}},""" +
        s""""end_to_end":${metricsJson(Metrics.EndToEnd, e2e)},""" +
        s""""per_layer":${if (perLayer.isEmpty) "null" else metricsJson(Metrics.perLayer(Workloads.modules), perLayer)},""" +
        s""""pass_s":$passJson,"heap_live_mb_by_pass":${heap.liveBytes.map(b => Main.num(b / 1e6)).mkString("[", ",", "]")},""" +
        s""""jobs":$jobsJson}"""
    }
    def write(json: String): Unit = {
      val tmp = Paths.get(resultFile + ".tmp")
      Files.write(tmp, (json + "\n").getBytes(UTF_8))
      Files.move(tmp, Paths.get(resultFile), java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    // Durable before teardown: the end-to-end result survives a failing
    // releaseAll() or stop().
    write(resultJson(Map.empty, drained = false))

    val runSpan = tracer.add(-1, "run", w.name, start, end, Map("seed" -> seed.toString))
    if (traced) records.foreach { r =>
      val job = tracer.add(runSpan, "job", r.name, r.start, r.end,
        Map("module" -> r.module, "pass" -> r.pass.toString, "index" -> r.seq.toString))
      tracer.add(job, "call", r.name, r.start, r.callEnd)
      tracer.add(job, "action", r.name, r.callEnd, r.end)
    }
    var drained = true
    try graft.sources.Cached.releaseAll()
    catch { case NonFatal(e) => System.err.println(s"releaseAll failed: $e") }
    try spark.stop()
    catch { case NonFatal(e) => drained = false; System.err.println(s"stop failed: $e") }

    if (traced) {
      // SparkContext.stop() has drained the listener bus: the counts are final.
      val makespanS = e2e("makespan_s")
      val byModule = records.groupBy(_.module)
      val modules = Workloads.modules
      def jobCounts(m: String) = byModule.getOrElse(m, Nil).flatMap(r => engine.perJob.get(r.seq))
      val perModule = modules.flatMap { m =>
        val rs = byModule.getOrElse(m, Nil)
        val cs = jobCounts(m)
        Seq(s"$m.call_s" -> rs.map(r => r.callEnd - r.start).sum / 1e3,
          s"$m.action_s" -> rs.map(r => r.end - r.callEnd).sum / 1e3,
          s"$m.spark_jobs" -> cs.map(_.sparkJobs).sum.toDouble,
          s"$m.shuffle_mb" -> cs.map(_.shuffleBytes).sum / 1e6,
          s"$m.task_s" -> cs.map(_.taskMs).sum / 1e3)
      }
      val noTaskMs = records.map(r =>
        (r.end - r.start) - Intervals.covered(engine.taskIntervals.toSeq, r.start, r.end)).sum
      val perLayer = (perModule ++ Seq(
        "client.job_p50_s" -> p50S,
        "client.job_tail_s" -> tailS,
        "Cli.call_s" -> byModule.getOrElse("Cli", Nil).map(r => r.callEnd - r.start).sum / 1e3,
        "engine.jobs" -> engine.jobs.toDouble,
        "engine.stages" -> engine.stages.toDouble,
        "engine.tasks" -> engine.tasks.toDouble,
        "engine.task_s" -> engine.taskMs / 1e3,
        "engine.busy_frac" -> engine.taskMs / 1e3 / (Main.Cpus * makespanS),
        "engine.no_task_s" -> noTaskMs / 1e3,
        "engine.task_wait_s" -> engine.taskWaitMs / 1e3,
        "engine.task_failures" -> engine.taskFailures.toDouble,
        "engine.gc_s" -> gcS,
        "engine.spill_mb" -> engine.spillBytes / 1e6,
        "engine.shuffle_mb" -> engine.shuffleBytes / 1e6,
        "sources.scan_mb" -> engine.inputBytes / 1e6,
        "sources.scan_rows" -> engine.inputRecords.toDouble,
        "Cached.builds" -> cache.builds.toDouble,
        "Cached.reads" -> cache.reads.toDouble,
        "Cached.hit_ratio" -> (if (cache.reads == 0) 0.0
          else (cache.reads - cache.buildingReads).toDouble / cache.reads),
        "Cached.stored_mb" -> storedMb,
        "sinks.write_mb" -> engine.outputBytes / 1e6,
        "sinks.write_rows" -> engine.outputRecords.toDouble,
        "FanoutOps.worker_calls" -> fanout.calls.toDouble,
        "FanoutOps.useful_ratio" -> (if (fanout.calls == 0) 0.0 else fanout.ok.toDouble / fanout.calls),
        "trace.overhead_s" -> overheadS)).toMap
      write(resultJson(perLayer, drained))
      Files.write(Paths.get(resultFile.stripSuffix(".json") + ".spans.json"),
        tracer.toJson.getBytes(UTF_8))
    }
    println(s"result written to $resultFile")
    System.out.flush()
    if (failed == 0) 0 else 1
  }
}

/** In-memory cache reads seen in traced jobs' result plans; a read whose
  * relation was not yet materialized when its job started is a build. */
final class CacheCounts {
  var reads, buildingReads = 0L
  private val built = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  def observe(df: DataFrame): Unit =
    try CacheScans.of(df.queryExecution.executedPlan).foreach { s =>
      val b = s.relation.cacheBuilder
      reads += 1
      if (!b.isCachedColumnBuffersLoaded) { buildingReads += 1; built.add(b) }
    } catch { case NonFatal(_) => () }

  def builds: Int = built.size
}

/** Worker calls and settled-ok tiles of the retry loop (`o3_retry_loop`
  * rows: tile_id, ok, attempts). */
final class FanoutCounts {
  var calls, ok = 0L
  def observe(df: DataFrame): Unit = df.collect().foreach { r =>
    calls += r.getAs[Int]("attempts")
    if (r.getAs[Boolean]("ok")) ok += 1
  }
}

/** The benchmark's own consistency checks. */
object SelfCheck {
  def problems(): Seq[String] = {
    val registry = SparkEntry.queries.keySet ++ Workloads.CliJobs
    val unresolved = Workloads.all.flatMap(w => w.jobs.filterNot(registry).map(j => s"${w.name}: unknown job $j"))
    val listed = Workloads.all.flatMap(_.jobs)
    val dupes = listed.groupBy(identity).collect { case (j, xs) if xs.size > 1 => s"job $j listed ${xs.size} times" }
    val covered = Workloads.all.flatMap(_.jobs).flatMap(Workloads.moduleOf.get).toSet
    val uncovered = (Workloads.modules :+ "Cli").filterNot(covered).map(m => s"layer $m is in no workload")
    val orders = Workloads.all.flatMap { w =>
      val a = w.order(7, 2)
      (if (a != w.order(7, 2)) Seq(s"${w.name}: same seed gave different orders") else Nil) ++
        (if (a == w.order(8, 2)) Seq(s"${w.name}: different seeds gave the same order") else Nil)
    }
    val names = (Metrics.EndToEnd ++ Metrics.perLayer(Workloads.modules)).map(_._1)
    val badNames = names.filterNot(_.matches(Metrics.NameRe)).map(n => s"bad metric name $n")
    val nameDupes = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => s"metric $n repeated" }
    val thinTail = Workloads.all.filter(w => w.jobs.size * w.passes(1) <= Metrics.TailBeyond)
      .map(w => s"${w.name}: too few jobs for job_tail_s")
    unresolved ++ dupes ++ uncovered ++ orders ++ badNames ++ nameDupes ++ thinTail
  }
}
