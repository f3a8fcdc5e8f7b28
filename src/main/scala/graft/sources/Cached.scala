package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of session-scoped state: persisted relations several
  * operators share (shingles, MinHash bands, token streams), build-once
  * layouts (nn15's IVF directory, k15's and g6's bucketed tables) and
  * data-driven choices (tx15's arm).
  *
  * The dedup/text families all derive from the same two relations;
  * rebuilding and re-persisting them per query both recomputes the
  * explode and leaks cached partitions across a long sweep (the round-2
  * bench regression). One memo keyed by (session, key) gives every query
  * the same value — the Spark analogue of the reference threading one
  * file index through its per-tile workers (tileconfig.py:395-499) — and
  * one [[releaseAll]] call frees everything deterministically.
  * Only session-lived values belong here: a per-call loop materializes
  * its rounds with an eager localCheckpoint and persists nothing.
  *
  * The session is its shared state: the catalog and the cache manager a
  * SparkSession shares with its `newSession()` clones. A session built
  * fresh starts empty and rebuilds every layout. Entries of a stopped
  * session are purged on the way in.
  *
  * MEMORY_AND_DISK: at 100 TB these relations exceed executor memory;
  * spilled blocks beat recomputing a corpus-wide explode.
  */
object Cached {

  /** Set only after a build returns, so a build that throws is retried.
    * Its monitor lets one build of the key run at a time. */
  private final class Entry(val sc: SparkContext) {
    @volatile var value: Option[Any] = None
  }

  private val memo = TrieMap.empty[(AnyRef, String), Entry]

  /** `build`'s value per (session, key), built at most once. */
  def once[T](s: SparkSession, key: String)(build: => T): T = {
    memo.filterInPlace((_, e) => !e.sc.isStopped)
    val e = memo.getOrElseUpdate((s.sharedState, key), new Entry(s.sparkContext))
    e.value.getOrElse(e.synchronized {
      if (e.value.isEmpty) e.value = Some(build)
      e.value.get
    }).asInstanceOf[T]
  }

  /** Memoize `build` per (session, key), persisted. */
  def of(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    once(s, key)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Unpersist every relation and forget every entry (harness teardown).
    * Files stay until JVM exit ([[graft.model.Fs]]). */
  def releaseAll(): Unit = {
    memo.values.flatMap(_.value).foreach {
      case ds: Dataset[_] =>
        try ds.unpersist(blocking = false) catch { case _: Throwable => () }
      case _ => ()
    }
    memo.clear()
  }
}
