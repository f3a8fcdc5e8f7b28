package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.Fingerprint.Fp

/** Concurrent-query invariance audit main: the full registered surface
  * executed with N worker threads IN FLIGHT AT ONCE on one engine
  * process (one SparkContext, FAIR scheduler, one session clone per
  * worker — the Thrift-server topology for concurrent clients), pinned
  * exact-fingerprint-identical to the same queries run sequentially.
  *
  * Why this exists: every other gate runs queries one at a time, but a
  * shared engine serves them concurrently — and the process-global
  * build-once state is exactly what races: [[graft.sources.Cached]]'s
  * persisted relations (shingles/tokens/bands feeding the whole dedup
  * and text families), [[graft.model.BuildOnce]] layouts (nn15's
  * partitioned IVF dir, g6's bucketed table), the DSv2 fixture writers,
  * the JDBC proxy server's connection handling, and concurrent
  * streaming queries sharing one context. A lost-update in any of them
  * would serve a partial layout to a query that then returns silently
  * wrong rows — at 100 TB, to a tenant.
  *
  * Determinism note: per-worker session CLONES (`newSession()`) share
  * the context, catalog, and all process-global state above, but
  * isolate SQLConf — required because the streaming harness temporarily
  * retunes shuffle partitions per query (MonitorStream.runToTable), a
  * session-level mutation no real concurrent deployment would share
  * either (Thrift server gives each client its own session).
  *
  * Usage: runMain graft.ConcurrencyCheck [sfDir] [nThreads]
  * Prints one JSON line; ConcurrencySpec launches it as a subprocess.
  */
object ConcurrencyCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nThreads = args.lift(1).map(_.toInt).getOrElse(4)

    val spark = Session.builder("local[8]", 8, "cq_")
      .appName("graft-concurrency-check")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val queries = SparkEntry.queries.keys.toSeq.sorted

    // ---- Phase 1: sequential reference ----
    val seqFps = scala.collection.mutable.LinkedHashMap.empty[String, Fp]
    val seqErrs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      try seqFps(q) = Fingerprint.of(SparkEntry.queries(q)(spark, sfDir))
      catch { case e: Throwable =>
        seqErrs(q) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200) }
    }
    graft.sources.Cached.releaseAll()

    // ---- Phase 2: N queries in flight at once ----
    // Work-stealing over a deterministic-but-shuffled order (hash of the
    // name), so families that share Cached/BuildOnce state (dd*, tx*,
    // nn*, g*) get split ACROSS workers instead of running back-to-back
    // on one — maximizing real concurrent contact with shared state.
    val queue = new ConcurrentLinkedQueue[String]()
    queries.sortBy(q => java.util.Arrays.hashCode(q.getBytes("UTF-8")))
      .foreach(queue.add)
    val conFps = new java.util.concurrent.ConcurrentHashMap[String, Fp]()
    val conErrs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until nThreads).map { w =>
      val t = new Thread(() => {
        val session = spark.newSession()
        session.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool$w")
        var q = queue.poll()
        while (q != null) {
          val now = inFlight.incrementAndGet()
          peak.getAndUpdate(p => math.max(p, now))
          try conFps.put(q, Fingerprint.of(SparkEntry.queries(q)(session, sfDir)))
          catch { case e: Throwable =>
            conErrs.put(q, Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
          finally inFlight.decrementAndGet()
          q = queue.poll()
        }
      }, s"graft-concurrent-worker-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    graft.sources.Cached.releaseAll()
    spark.stop()

    val mismatched = queries.filter(q =>
      seqFps.contains(q) && conFps.containsKey(q) && seqFps(q) != conFps.get(q))
    val failed = (seqErrs.keySet ++
      scala.jdk.CollectionConverters.SetHasAsScala(conErrs.keySet()).asScala)
      .toSeq.sorted
    val matched = queries.count(q =>
      seqFps.contains(q) && seqFps.get(q).contains(conFps.get(q)))
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errDetail = Json.obj(scala.collection.mutable.LinkedHashMap(
      (seqErrs.map { case (k, v) => s"seq:$k" -> v } ++
        scala.jdk.CollectionConverters.MapHasAsScala(conErrs).asScala
          .map { case (k, v) => s"con:$k" -> v }).toSeq.sortBy(_._1): _*))
    println(s"""{"metric":"concurrency_parity","matched":$matched,"total":${queries.size},"threads":$nThreads,"peak_in_flight":${peak.get()},"mismatched":${arr(mismatched)},"failed":${arr(failed)},"errors":$errDetail,"sf":"$sfDir"}""")
    if (mismatched.nonEmpty || failed.nonEmpty || peak.get() < 2) sys.exit(1)
  }
}
