package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.sources.Cached

/** Contract of the session-state owner: one persisted frame per
  * (session, key), reused by reference, deterministically released; one
  * build-once value per (session, key); nothing left cached after
  * releaseAll. */
class CachedSpec extends SparkSpec {

  test("of() memoizes per key and persists MEMORY_AND_DISK; releaseAll unpersists") {
    var builds = 0
    def build() = { builds += 1; spark.range(10).toDF("n") }

    val a1 = Cached.of(spark, "spec:a")(build())
    val a2 = Cached.of(spark, "spec:a")(build())
    val b = Cached.of(spark, "spec:b")(build())
    // same key → same DataFrame instance, built once; new key → new build
    assert(a1 eq a2)
    assert(builds == 2)
    assert(!(a1 eq b))
    assert(a1.storageLevel == StorageLevel.MEMORY_AND_DISK)

    Cached.releaseAll()
    // released: no cached blocks remain, and the memo forgets the key
    assert(a1.storageLevel == StorageLevel.NONE)
    val a3 = Cached.of(spark, "spec:a")(build())
    assert(builds == 3 && !(a3 eq a1))
    assert(a3.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Cached.releaseAll()
  }

  test("shared dedup relations come back as the same instance across queries") {
    import graft.operators.DedupOps
    val s1 = DedupOps.shingles(spark, Sf)
    val s2 = DedupOps.shingles(spark, Sf)
    assert(s1 eq s2)
    // a different data dir gets its own relation
    assert(!(DedupOps.shingles(spark, Sf) eq
      DedupOps.shingles(spark, "/root/testdata/sf0.01")))
  }

  test("once() retries a failed build, runs a successful one once, and a new session rebuilds") {
    var builds = 0
    def build(fail: Boolean): Int = {
      builds += 1
      if (fail) throw new IllegalStateException("build failed")
      builds
    }
    intercept[IllegalStateException](Cached.once(spark, "spec:once")(build(fail = true)))
    // the failed build left no marker: the next call builds again
    assert(Cached.once(spark, "spec:once")(build(fail = false)) == 2)
    assert(Cached.once(spark, "spec:once")(build(fail = false)) == 2)
    // a newSession() clone shares the catalog, so it shares the value
    assert(Cached.once(spark.newSession(), "spec:once")(build(fail = false)) == 2)
    assert(builds == 2)

    // concurrent callers of one key wait for the build in flight
    val concurrentBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        got.add(Cached.once(spark, "spec:once:concurrent") {
          Thread.sleep(50)
          concurrentBuilds.incrementAndGet()
        })
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(concurrentBuilds.get() == 1)
    assert(got.toArray.toSeq == Seq.fill(4)(1))

    // a session built fresh has its own catalog: it builds again
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val fresh = SparkSession.builder().getOrCreate()
      assert(!(fresh.sharedState eq spark.sharedState))
      assert(Cached.once(fresh, "spec:once")(build(fail = false)) == 3)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    Cached.releaseAll()
  }

  test("o3 and Cli run persist nothing: repeated calls leave the cache manager empty") {
    // a long-lived session (a notebook, a server) never calls releaseAll,
    // so a per-call loop must not leave its rounds cached
    Cached.releaseAll()
    spark.catalog.clearCache()
    for (_ <- 1 to 3) {
      assert(run("o3_retry_loop").count() == 16)
      assert(spark.sharedState.cacheManager.isEmpty)
      Console.withOut(new PrintStream(new ByteArrayOutputStream(), true, "UTF-8"))(
        Cli.main(Array("run", Sf, "--restart", "1")))
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }
}
