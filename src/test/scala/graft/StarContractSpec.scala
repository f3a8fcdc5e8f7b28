package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, FutureTask, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Holds a task of the star loop's first checkpoint until released. */
private object StarLatch {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** dd15's large-star/small-star contraction vs dd9's min-label
  * propagation: two independent algorithms, one fixpoint. */
class StarContractSpec extends SparkSpec {

  private def pairsDf(ps: Seq[(Long, Long)]) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  private def comps(ps: Seq[(Long, Long)]): Map[Long, Long] =
    DedupOps.starComponentsOf(pairsDf(ps)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph (worst case for propagation) contracts to its minimum") {
    // 0-1-2-...-9 in a line, plus a separate 2-cycle {100, 101}
    val path = (0L until 9L).map(i => (i, i + 1))
    val got = comps(path :+ (100L, 101L))
    assert(got == ((0L to 9L).map(_ -> 0L) ++ Seq(100L -> 100L, 101L -> 100L)).toMap)
  }

  test("pre-contracted star and reversed pair order are both stable inputs") {
    val star = Seq((5L, 1L), (1L, 7L), (9L, 1L), (1L, 3L))
    assert(comps(star) == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L, 9L -> 1L))
    val singleton = Seq((42L, 17L))
    assert(comps(singleton) == Map(17L -> 17L, 42L -> 17L))
  }

  test("dd15 == dd9 on the fixture candidate graph (independent algorithms)") {
    val viaStars = run("dd15_cc_starcontract").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = run("dd9_dup_components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == viaProp)
    assert(viaStars.nonEmpty)
  }

  test("per-node labels agree between the two algorithms on a random-ish graph") {
    // hash-derived edge list: ~60 edges over 40 nodes — multiple
    // components of varying diameter, deterministic
    val edges = (0 until 60).map { i =>
      val a = (i * 2654435761L) % 40
      val b = (i * 40503L + 7) % 40
      (a.min(b), a.max(b))
    }.filter { case (a, b) => a != b }
    val viaStars = comps(edges)
    // independent reference: tiny driver-side union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    // normalize union-find roots to component minima
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    val expect = byRoot.values.flatMap(ns => ns.map(_ -> ns.min)).toMap
    assert(viaStars == expect)
  }

  test("the narrowed loop runs at 8 partitions without touching the caller's width") {
    // A task of the loop's first eager checkpoint blocks inside the
    // narrowed call; meanwhile the caller's session must still read its
    // own width, and that job must still carry the narrowed one.
    val widths = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.shuffle.partitions"))).foreach(widths.add)
    }
    val gate = udf { (x: Long) =>
      StarLatch.entered.countDown()
      StarLatch.release.await(120, TimeUnit.SECONDS)
      x
    }
    // from an RDD: over a local relation the optimizer would evaluate
    // the UDF on the driver, outside any job
    import spark.implicits._
    val pairs = spark.sparkContext.parallelize(Seq((1L, 2L), (2L, 3L), (7L, 8L)), 2)
      .toDF("doc_a", "doc_b")
      .withColumn("doc_a", gate(col("doc_a")))
    spark.sparkContext.addSparkListener(listener)
    val result = new FutureTask[Map[Long, Long]](() =>
      DedupOps.starComponentsOf(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    try {
      new Thread(result, "star-components-under-latch").start()
      try {
        assert(StarLatch.entered.await(120, TimeUnit.SECONDS),
          "the loop's first checkpoint never ran")
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
        val deadline = System.nanoTime() + 30_000_000_000L
        while (!widths.contains("8") && System.nanoTime() < deadline) Thread.sleep(50)
        assert(widths.contains("8"), s"no job ran at the narrowed width: ${widths.asScala}")
      } finally StarLatch.release.countDown()
      assert(result.get(120, TimeUnit.SECONDS) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
