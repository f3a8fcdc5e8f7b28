package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Concurrent-query invariance audit main: the full registered surface
  * executed with 4 worker threads ([[ConcurrencyCheck.Threads]]) IN
  * FLIGHT AT ONCE on one engine process (one SparkContext, FAIR
  * scheduler, one session clone per worker — the Thrift-server topology
  * for concurrent clients), pinned exact-fingerprint-identical to the
  * same queries run sequentially in a preceding session. The concurrent
  * session starts with no Cached relation and an empty catalog, so the
  * catalog-backed layouts (g6, k15) are rebuilt while other queries are
  * in flight.
  *
  * Why this exists: every other gate runs queries one at a time, but a
  * shared engine serves them concurrently — and the shared build-once
  * state is exactly what races: [[graft.sources.Cached]]'s persisted
  * relations (shingles/tokens/bands feeding the whole dedup and text
  * families) and build-once layouts (nn15's partitioned IVF dir, g6's
  * and k15's bucketed tables), the DSv2 fixture writers,
  * the JDBC proxy server's connection handling, and concurrent
  * streaming queries sharing one context. A lost-update in any of them
  * would serve a partial layout to a query that then returns silently
  * wrong rows — at 100 TB, to a tenant.
  *
  * Determinism note: per-worker sessions (`newSession()`) share the
  * context, catalog, cache manager and all the state above, but each has
  * its own temp views — several queries register views under fixed names
  * (`orders_v`, `boundaries_v`, `emb_v`, ...), which two workers on one
  * session would overwrite under each other, just as a Thrift server
  * gives each client its own session. Session conf needs no isolation:
  * no query writes it ([[Session.narrowed]]).
  *
  * Usage: runMain graft.ConcurrencyCheck [sfDir]
  * Prints one JSON line; ConcurrencySpec launches it as a subprocess.
  */
object ConcurrencyCheck {

  /** Queries in flight at once. */
  val Threads = 4

  /** Width 6, not DedupOps' 8 or MonitorStream's 4: a leaked narrowed
    * width must fail `conf_invariant`. */
  private def session(): SparkSession.Builder =
    Session.builder("local[8]", 6, "cq_")
      .appName("graft-concurrency-check")
      .config("spark.scheduler.mode", "FAIR")

  /** Work-stealing over a deterministic-but-shuffled order (hash of the
    * name), so families that share Cached state (dd*, tx*,
    * nn*, g*) get split ACROSS workers instead of running back-to-back
    * on one — maximizing real concurrent contact with shared state.
    * `peak` records the most queries ever in flight at once. */
  private def concurrently(spark: SparkSession, queries: Seq[String],
      sfDir: String, peak: AtomicInteger): Parity.Run = {
    val queue = new ConcurrentLinkedQueue[String]()
    queries.sortBy(q => java.util.Arrays.hashCode(q.getBytes("UTF-8")))
      .foreach(queue.add)
    val runs = new ConcurrentLinkedQueue[Parity.Run]()
    val inFlight = new AtomicInteger(0)
    val workers = (0 until Threads).map { w =>
      val t = new Thread(() => {
        val session = spark.newSession()
        session.sparkContext.setLocalProperty("spark.scheduler.pool", s"pool$w")
        Iterator.continually(queue.poll()).takeWhile(_ != null).foreach { q =>
          val now = inFlight.incrementAndGet()
          peak.getAndUpdate(p => math.max(p, now))
          try runs.add(Parity.fingerprints(session, Seq(q), sfDir))
          finally inFlight.decrementAndGet()
        }
      }, s"graft-concurrent-worker-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    runs.asScala.foldLeft(Parity.Run(Map.empty, Map.empty))(_ ++ _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries = SparkEntry.queries.keys.toSeq.sorted
    // ---- Phase 1: sequential reference ----
    val (seq, _) = Parity.phase(session(), _ => ())(
      (s, _) => Parity.fingerprints(s, queries, sfDir))
    // ---- Phase 2: Threads queries in flight at once ----
    val (con, peak) = Parity.phase(session(), _ => new AtomicInteger(0))(
      concurrently(_, queries, sfDir, _))
    Parity.report("concurrency_parity", queries, sfDir, "seq" -> seq, "con" -> con,
      Seq("threads" -> Threads.toString, "peak_in_flight" -> peak.get().toString),
      peak.get() >= 2)
  }
}
