package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Independent in-memory reference models for the round-8 analytics ops
  * (graph, sketch, drift, n-gram). Each test recomputes the operator's
  * result with a deliberately different, single-threaded algorithm on
  * collected sf0.001 data and compares exactly — a third voice next to
  * the DuckDB oracle (which shares the SQL formulation) and the Spark
  * plan. Integer-exact ops compare bit-for-bit. */
class ModelCheckSpec extends SparkSpec {

  private def tradePairs: Seq[(Long, Long)] = {
    val o = spark.read.parquet(s"$Sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey") * 2, col("l_suppkey") * 2 + 1).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("g1: distributed PageRank equals the sequential integer-mass model") {
    val pairs = tradePairs
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var pr: Map[Long, Long] = deg.map { case (n, _) => n -> GraphOps.Mass }.toMap
    for (_ <- 1 to 3) {
      val incoming = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.iterator.map { case (src, _) => pr(src) / deg(src) }.sum
        }
      pr = incoming.map { case (n, in) =>
        n -> (GraphOps.Teleport + 85L * in / 100L)
      }.toMap
    }
    val expect = pr.toSeq.sortBy { case (n, p) => (-p, n) }.take(20)
    val got = run("g1_pagerank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("g2: degree-oriented triangle count equals the adjacency-set model") {
    val cp = spark.read.parquet(s"$Sf/orders.parquet")
      .filter(col("o_custkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(spark.read.parquet(s"$Sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byPart = cp.groupBy(_._2).values
    val und = byPart.flatMap { rows =>
      val cs = rows.map(_._1).distinct.sorted
      for (i <- cs.indices; j <- (i + 1) until cs.size) yield (cs(i), cs(j))
    }.toSet
    val adj = (und.toSeq ++ und.toSeq.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val expect = und.iterator.map { case (u, v) =>
      (adj(u) & adj(v)).count(w => w > v)
    }.sum
    assert(und.nonEmpty && expect > 0, "fixture must yield a non-trivial graph")
    val got = run("g2_triangle_count").collect()(0).getLong(0)
    assert(got == expect)
  }

  test("a20: count-min estimates equal the model sketch and never underestimate") {
    val toks = spark.read.parquet(s"$Sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      .collect().map(_.getString(0)).toSeq
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val sketch: Map[(Int, Long), Long] = toks
      .flatMap(w => (0 to 2).map(i => (i, h60(s"cm:$i|$w") % 64)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val exact = toks.groupBy(identity).map { case (w, v) => w -> v.size.toLong }
    val rows = run("a20_countmin").collect()
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val (w, exactCnt, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      val modelEst = (0 to 2).map(i => sketch((i, h60(s"cm:$i|$w") % 64))).min
      assert(exactCnt == exact(w))
      assert(est == modelEst, s"estimate mismatch for $w")
      assert(est >= exactCnt, s"CMS underestimated $w")
    }
  }

  test("g3: clustering coefficient matches wedges/triangles recomputed from g2's model") {
    val r = run("g3_clustering_coeff").collect()(0)
    val (tri, wedges, cc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(tri == run("g2_triangle_count").collect()(0).getLong(0))
    assert(tri * 3 <= wedges, "3T <= W always (each triangle closes 3 wedges)")
    assert(cc == BigDecimal(3.0 * tri / wedges)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("v4: the SQL front-door PageRank reproduces g1's rows exactly") {
    val g1 = run("g1_pagerank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val v4 = run("v4_sql_pagerank").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v4 == g1)
  }

  test("k20: the snapshot cut splits orders non-trivially, so the merge is exercised") {
    val o = spark.read.parquet(s"$Sf/orders.parquet")
    val base = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")).count()
    val delta = o.count() - base
    assert(base > 0 && delta > 0, s"degenerate cut: base=$base delta=$delta")
  }

  test("ds15: KS numerators equal the direct two-sample model per source") {
    val vals = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val grid = vals.map(_._2).distinct.sorted
    val expect = vals.map(_._1).distinct.sorted.map { src =>
      val a = vals.filter(_._1 == src).map(_._2)
      val b = vals.filter(_._1 != src).map(_._2)
      val d = grid.map(v =>
        math.abs(a.count(_ <= v).toLong * b.length - b.count(_ <= v).toLong * a.length)).max
      (src, a.length.toLong, b.length.toLong, d)
    }.toSeq
    val got = run("ds15_ks_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("tx14: OOV bigram rates equal the direct parity-split model") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(t: String): Seq[String] = {
      val a = t.split(" ", -1)
      if (a.length < 2) Seq.empty
      else (0 until a.length - 1).map(i => s"${a(i)} ${a(i + 1)}")
    }
    val vocab = docs.filter(_._1 % 2 == 0).flatMap(d => bigrams(d._3)).toSet
    val expect = docs.filter(_._1 % 2 == 1)
      .flatMap { case (_, src, t) => bigrams(t).map(src -> _) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (src, bgs) =>
        val oov = bgs.count(b => !vocab.contains(b._2)).toLong
        (src, bgs.length.toLong, oov)
      }
    val got = run("tx14_oov_bigram_rate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    run("tx14_oov_bigram_rate").collect().foreach { r =>
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("g4: BFS hop histogram equals the sequential frontier model") {
    val adj = tradePairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val seeds = spark.read.parquet(s"$Sf/supplier.parquet")
      .filter(col("s_suppkey") % 10 === 0)
      .select(col("s_suppkey") * 2 + 1)
      .collect().map(_.getLong(0)).toSet
    var dist: Map[Long, Int] = seeds.map(_ -> 0).toMap
    for (k <- 1 to 4) {
      val frontier = dist.collect { case (n, d) if d == k - 1 => n }.toSet
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Set.empty[Long]))
      dist = dist ++ nxt.filterNot(dist.contains).map(_ -> k)
    }
    val expect = dist.values.groupBy(identity)
      .map { case (d, xs) => (d, xs.size.toLong) }.toSeq.sortBy(_._1)
    val got = run("g4_bfs_hops").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == expect)
    assert(got.map(_._2).sum > seeds.size, "BFS never left the seed set")
  }

  test("w15: gap-fill equals the sequential calendar model") {
    val HourUs = 3600L * 1000000L
    val rows = graft.sources.Tables.monitorLog(spark, Sf)
      .select(col("tile_id"), unix_micros(col("ts")).as("us"), col("mem_rss"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hourly = rows.groupBy(r => (r._1, r._2 / HourUs * HourUs))
      .map { case ((tile, h), xs) => (tile, h) -> (xs.length.toLong, xs.map(_._3).max) }
    val expect = hourly.keys.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (tile, hs) =>
        val (h0, h1) = (hs.map(_._2).min, hs.map(_._2).max)
        var lastPeak: Option[Long] = None
        (h0 to h1 by HourUs).map { h =>
          val obs = hourly.get((tile, h))
          obs.foreach { case (_, peak) => lastPeak = Some(peak) }
          (tile, h, obs.map(_._1).getOrElse(0L), obs.isEmpty, lastPeak)
        }
    }
    val got = run("w15_gap_fill").collect().map { r =>
      (r.getString(0), r.getTimestamp(1).getTime * 1000L, r.getLong(2),
        r.getBoolean(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(got == expect)
    assert(got.exists(_._4), "no gap hours at all — fill path unexercised")
  }

  test("tx15: co-occurrence lifts equal the direct presence-count model") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val pres = docs.map { case (_, t) => t.split(" ").filter(_.nonEmpty).toSet }
    val wc = pres.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = docs.length.toLong
    val expect = pres.flatMap { ws =>
      val s = ws.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.size) yield (s(i), s(j))
    }.groupBy(identity).collect { case ((wa, wb), xs) if xs.size >= 50 =>
      val lift = BigDecimal(n.toDouble * xs.size / (wc(wa) * wc(wb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (wa, wb, xs.size.toLong, lift)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = run("tx15_cooccurrence_lift").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == expect)
    assert(got.nonEmpty, "threshold 50 left no pairs at sf0.001")
  }

  test("w16: open/close equal the sequential first/last-by-(ts,event_id) model") {
    val ev = graft.sources.Tables.events(spark, Sf)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val DayUs = 86400L * 1000000L
    val expect = ev.groupBy(r => (r._1, r._2 / DayUs)).map { case (_, xs) =>
      val sorted = xs.sortBy(r => (r._2, r._3))
      ((sorted.head._1, sorted.head._2 / DayUs), sorted.head._4, sorted.last._4,
        xs.map(_._4).max, xs.map(_._4).min, xs.length.toLong)
    }.toSeq.sortBy(_._1)
    val got = run("w16_ohlc").collect().map { r =>
      ((r.getString(0), r.getDate(1).toLocalDate.toEpochDay * 86400L * 1000000L / DayUs),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))
    }.toSeq.sortBy(_._1)
    assert(got == expect)
  }

  test("w17: outlier counts equal the float mean/stddev model, and flag a nonzero tail") {
    // independent formulation ON PURPOSE: float μ/σ with a direct
    // |x−μ| > 1.5σ test — the integer cross-multiplied form and the
    // oracle share their algebra, so only a third formulation can catch
    // a shared-formula error (the first cut of w17 had an extra n factor
    // and BOTH engines agreed on an all-zero ledger). Far from the
    // threshold boundary, float and exact tests agree; ties cannot occur
    // (4·dev² = 9·varn has no solutions on this fixture, asserted).
    val rows = graft.sources.Tables.monitorLog(spark, Sf)
      .select(col("tile_id"), col("mem_rss"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = rows.groupBy(_._1).map { case (tile, xs) =>
      val v = xs.map(_._2.toDouble)
      val mu = v.sum / v.length
      val sigma = math.sqrt(v.map(x => (x - mu) * (x - mu)).sum / v.length)
      (tile, v.length.toLong, v.count(x => math.abs(x - mu) > 1.5 * sigma).toLong)
    }.toSeq.sortBy(_._1)
    // no exact ties on the integer boundary (guards the float comparison)
    rows.groupBy(_._1).foreach { case (_, xs) =>
      val n = BigInt(xs.length)
      val s1 = xs.map(x => BigInt(x._2)).sum
      val s2 = xs.map(x => BigInt(x._2) * BigInt(x._2)).sum
      xs.foreach { case (_, x) =>
        val dev = n * BigInt(x) - s1
        assert(4 * dev * dev != 9 * (n * s2 - s1 * s1))
      }
    }
    val got = run("w17_zscore_outliers").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    assert(got.map(_._3).sum > 0, "degenerate: no outliers flagged anywhere")
  }

  test("st13: the second AvailableNow run reads only the newly landed files") {
    run("st13_availablenow_ingest").collect()
    val base = new java.io.File(graft.model.Fs.path("st13", Sf))
    val offsets = new java.io.File(base, "ckpt/offsets").list().toSet
    assert(offsets.contains("0") && offsets.contains("1"),
      s"expected exactly the two AvailableNow batches, saw $offsets")
    // the file-source manifest for batch 1 must contain only files absent
    // from batch 0 — exactly-once incremental progress, not a re-read
    def manifest(b: Int): Set[String] = {
      val src = scala.io.Source.fromFile(new java.io.File(base, s"ckpt/sources/0/$b"))
      try src.getLines().filter(_.startsWith("{")).map { l =>
        l.split("\"path\":\"")(1).split("\"")(0)
      }.toSet finally src.close()
    }
    val (b0, b1) = (manifest(0), manifest(1))
    assert(b0.nonEmpty && b1.nonEmpty)
    assert((b0 & b1).isEmpty, s"batch 1 re-read ${(b0 & b1).size} old files")
  }
}
