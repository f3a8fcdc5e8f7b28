package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{Envelope, EnvelopeUnion, VectorDot}

/** Property tests for the algebraic invariants SURVEY §5 calls out:
  * the union aggregate's monoid laws (required for map-side partial
  * aggregation to be correct), the custom expression vs a reference
  * implementation, and the priority-dedup (A8) against a pure model.
  * (scalatestplus isn't on the classpath, so generators are sampled
  * with fixed seeds directly.) */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C], n: Int = 50)(
      f: (A, B, C) => Unit): Unit =
    (samples(ga, n), samples(gb, n), samples(gc, n)).zipped.foreach(f)

  private val genEnv: Gen[Envelope] = for {
    x1 <- Gen.choose(-1000, 1000); y1 <- Gen.choose(-1000, 1000)
    w <- Gen.choose(0, 500); h <- Gen.choose(0, 500)
  } yield Envelope(x1, y1, x1 + w, y1 + h)

  test("EnvelopeUnion is a commutative monoid (merge assoc/comm/identity)") {
    forAll(genEnv, genEnv, genEnv) { (a, b, c) =>
      val m = EnvelopeUnion
      assert(m.merge(a, m.merge(b, c)) == m.merge(m.merge(a, b), c))
      assert(m.merge(a, b) == m.merge(b, a))
      assert(m.merge(a, m.zero) == a)
    }
  }

  test("Hash60 equals the SQL conv(substr(md5)) formulation for arbitrary strings") {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    import spark.implicits._
    val genStr = Gen.listOfN(24,
      Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', ':', 'é', '中')))
      .map(_.mkString)
    val inputs = samples(genStr, 80) :+ "" :+ "0:exact"
    val df = inputs.toDF("s")
      .withColumn("fast", graft.operators.DedupOps.h60("p:", col("s")))
      .withColumn("slow", sqlExpr(
        "cast(conv(substr(md5(concat('p:', s)), 1, 15), 16, 10) as bigint)"))
    assert(df.filter(col("fast") =!= col("slow")).count() == 0)
    assert(df.filter(col("fast") < 0).count() == 0) // 60-bit → non-negative
  }

  test("MinHashArray element i equals Hash60 of the 'i:'-prefixed input for arbitrary strings") {
    // dd14's wide plan hinges on this identity: one shared-encode
    // digest loop per row must produce exactly the per-seed Hash60
    // family the exploded/one-pass forms (and the generated oracle
    // SQL) compute. Checked via eval on arbitrary strings at several
    // hash counts, including multi-byte UTF-8 and the empty string.
    import org.apache.spark.unsafe.types.UTF8String
    val genStr = Gen.listOfN(24,
      Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', ':', 'é', '中')))
      .map(_.mkString)
    val inputs = samples(genStr, 60) :+ "" :+ "0:exact"
    for (n <- Seq(1, 4, 12, 128); s <- inputs) {
      val arr = graft.functions.MinHashArray.compute(UTF8String.fromString(s), n)
      assert(arr.numElements() == n)
      for (i <- 0 until n)
        assert(arr.getLong(i) ==
          graft.functions.Hash60.hash(UTF8String.fromString(s"$i:" + s)),
          s"n=$n i=$i s=$s")
    }
  }

  test("TopKByHash merge is assoc/comm with identity and equals sort-take") {
    import graft.functions.{KeyedId, TopKByHash}
    val agg = new TopKByHash(3)
    val genIds = Gen.listOfN(8, for {
      o <- Gen.choose(-100L, 100L); i <- Gen.choose(0L, 50L)
    } yield KeyedId(o, i))
    forAll(genIds, genIds, genIds) { (a0, b0, c0) =>
      // buffers must be reachable states (sorted + capped, i.e. built by
      // reduce as the Aggregator contract does) for closure to hold
      val fold = (xs: Seq[KeyedId]) => xs.foldLeft(agg.zero)(agg.reduce)
      val (a, b, c) = (fold(a0), fold(b0), fold(c0))
      assert(agg.merge(a, agg.merge(b, c)) == agg.merge(agg.merge(a, b), c))
      assert(agg.merge(a, b) == agg.merge(b, a))
      assert(agg.merge(a, agg.zero) == a)
      // model: global sort-take over the union
      assert(agg.finish(agg.merge(a, b)) ==
        (a ++ b).sortBy(e => (e.ord, e.id)).take(3).map(_.id))
    }
  }

  test("TopKStrByHash merge is assoc/comm with identity and equals sort-take") {
    import graft.functions.{KeyedStr, TopKStrByHash}
    import org.apache.spark.unsafe.types.UTF8String
    val agg = new TopKStrByHash(3)
    // non-ASCII payloads included on purpose: the tie-break must follow
    // UTF-8 binary order (Spark StringType / DuckDB collation), which
    // diverges from String.compareTo beyond the BMP — '😀' is
    // such a case against 'é'/'￿'
    val genIds = Gen.listOfN(8, for {
      o <- Gen.choose(-5L, 5L) // narrow so ties actually occur
      s <- Gen.oneOf("a", "b", "zz", "é", "￿", "😀", "0", "")
    } yield KeyedStr(o, s))
    val ord = Ordering.by[KeyedStr, (Long, UTF8String)](e =>
      (e.ord, UTF8String.fromString(e.id)))
    forAll(genIds, genIds, genIds) { (a0, b0, c0) =>
      val fold = (xs: Seq[KeyedStr]) => xs.foldLeft(agg.zero)(agg.reduce)
      val (a, b, c) = (fold(a0), fold(b0), fold(c0))
      assert(agg.merge(a, agg.merge(b, c)) == agg.merge(agg.merge(a, b), c))
      assert(agg.merge(a, b) == agg.merge(b, a))
      assert(agg.merge(a, agg.zero) == a)
      assert(agg.finish(agg.merge(a, b)) ==
        (a ++ b).sorted(ord).take(3).map(_.id))
    }
  }

  test("w7 binning lemma: cell equi-join + residual equals the direct range join on µs-jittered times") {
    // the claim doing the work at scale: a window starting at ANY
    // fractional second still only reaches its start cell and the next
    // one, so the equi-join misses no pair and duplicates none
    import spark.implicits._
    import graft.operators.PipelineOps
    val genTs = for {
      s0 <- Gen.choose(0L, 7200L); us <- Gen.choose(0L, 999999L)
    } yield s0 * 1000000L + us
    val pRows = samples(genTs, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t + 999983L) } // decorrelate sides
    val cRows = samples(genTs, 120)
    val p = pRows.toDF("p_event_id", "us")
      .select(col("p_event_id"), expr("timestamp_micros(us)").as("p_ts"))
    val c = cRows.toDF("us")
      .select(expr("timestamp_micros(us)").as("c_ts"))
    val naive = p.join(c,
        col("c_ts") >= col("p_ts") &&
        col("c_ts") < col("p_ts") + expr("INTERVAL 30 MINUTES"), "left")
      .groupBy("p_event_id").agg(count(col("c_ts")).as("n_clicks"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val binned = PipelineOps.binnedWindowCounts(p, c).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(binned == naive && binned.values.exists(_ > 0))
  }

  test("VectorDot.eval equals the reference fold for arbitrary vectors") {
    val genVec = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    samples(genVec, 50).zip(samples(genVec, 50).reverse).foreach { case (a, b) =>
      val lit = (v: List[Double]) =>
        Literal.create(new GenericArrayData(v.toArray), ArrayType(DoubleType))
      val got = VectorDot(lit(a), lit(b)).eval(null).asInstanceOf[Double]
      val want = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      assert(got == want) // same sequential order -> bit-identical
    }
  }

  test("Exact decimal sums equal the BigDecimal model under random partitionings") {
    // the whole Exact contract as a property (RoundingSpec pins the one
    // constructed half-cent boundary): for ANY 2-decimal corpus and ANY
    // partitioning, decSum/decSumExpr equal a sequential BigDecimal
    // reference exactly — i.e. the sum is order- and plan-independent
    import spark.implicits._
    import graft.operators.Exact
    val genRow = for {
      priceCents <- Gen.choose(0L, 10000000L)
      discBp <- Gen.choose(0L, 100L) // discount 0.00-1.00 in hundredths
    } yield (priceCents / 100.0, discBp / 100.0)
    val genCorpus = Gen.listOfN(80, genRow)
    val genParts = Gen.choose(1, 16)
    samples(genCorpus, 8).zip(samples(genParts, 8)).foreach { case (rows, nPart) =>
      def d4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val wantSum = rows.map(r => d4(r._1)).sum
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val wantRev = rows.map(r => d4(r._1) * (BigDecimal(1) - d4(r._2))).sum
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      def agg(data: Seq[(Double, Double)], parts: Int): (Double, Double) = {
        val r = data.toDF("price", "disc").repartition(parts)
          .agg(Exact.decSum(col("price"), 2).as("s"),
            Exact.decSumExpr(
              Exact.dec(col("price")) * (lit(1) - Exact.dec(col("disc"))), 2)
              .as("rev"))
          .collect()(0)
        (r.getDouble(0), r.getDouble(1))
      }
      val (s1, rev1) = agg(rows, nPart)
      val (s2, rev2) = agg(rows.reverse, 17 - nPart) // other order+partitioning
      assert(s1 == wantSum && s2 == wantSum, s"decSum != model at $nPart parts")
      assert(rev1 == wantRev && rev2 == wantRev, s"decSumExpr != model at $nPart parts")
    }
  }

  test("RectRelate: transpose law and the oracle's closed decomposition hold for random rectangles") {
    import graft.functions.RectRelate
    import graft.functions.RectRelate.Rect
    import spark.implicits._
    val genRect = for {
      x <- Gen.choose(-20, 20); y <- Gen.choose(-20, 20)
      w <- Gen.choose(1, 25); h <- Gen.choose(1, 25)
    } yield (x, y, x + w, y + h)
    // one Spark job for all sampled pairs (collect once, assert locally)
    val pairs = samples(genRect, 400).zip(samples(genRect, 400).reverse)
    val df = pairs.toDF("a", "b").select(
      RectRelate.matrix(
        Rect($"a._1", $"a._2", $"a._3", $"a._4"),
        Rect($"b._1", $"b._2", $"b._3", $"b._4")).as("mab"),
      RectRelate.matrix(
        Rect($"b._1", $"b._2", $"b._3", $"b._4"),
        Rect($"a._1", $"a._2", $"a._3", $"a._4")).as("mba"),
      RectRelate.relate(
        Rect($"a._1", $"a._2", $"a._3", $"a._4"),
        Rect($"b._1", $"b._2", $"b._3", $"b._4"), "212101212").as("rel"),
      $"a", $"b")
    df.collect().foreach { r =>
      val (mab, mba, rel) = (r.getString(0), r.getString(1), r.getBoolean(2))
      // DE-9IM transpose law: matrix(b,a) is matrix(a,b) with
      // IB↔BI, IE↔EI, BE↔EB swapped (indices 1↔3, 2↔6, 5↔7)
      val transposed = Seq(0, 3, 6, 1, 4, 7, 2, 5, 8).map(mab(_)).mkString
      assert(mba == transposed, s"$mab / $mba")
      // the gate oracle's closed decomposition of '212101212' (the SQL
      // in JoinOps) must coincide with cell-by-cell matrix matching —
      // re-derived here in Scala from the raw coordinates
      val a = r.getStruct(3); val b = r.getStruct(4)
      val (ax1, ay1, ax2, ay2) = (a.getInt(0), a.getInt(1), a.getInt(2), a.getInt(3))
      val (bx1, by1, bx2, by2) = (b.getInt(0), b.getInt(1), b.getInt(2), b.getInt(3))
      val open = math.min(ax2, bx2) > math.max(ax1, bx1) &&
                 math.min(ay2, by2) > math.max(ay1, by1)
      val aInB = ax1 >= bx1 && ax2 <= bx2 && ay1 >= by1 && ay2 <= by2
      val bInA = bx1 >= ax1 && bx2 <= ax2 && by1 >= ay1 && by2 <= ay2
      val collinear =
        ((Set(bx1, bx2)(ax1) || Set(bx1, bx2)(ax2)) &&
          math.max(ay1, by1) < math.min(ay2, by2)) ||
        ((Set(by1, by2)(ay1) || Set(by1, by2)(ay2)) &&
          math.max(ax1, bx1) < math.min(ax2, bx2))
      val touch =
        ((Seq(ax1, ax2).exists(v => v >= bx1 && v <= bx2)) &&
          (Seq(by1, by2).exists(v => v >= ay1 && v <= ay2))) ||
        ((Seq(bx1, bx2).exists(v => v >= ax1 && v <= ax2)) &&
          (Seq(ay1, ay2).exists(v => v >= by1 && v <= by2)))
      val decomposed = open && !aInB && !bInA && touch && !collinear
      assert(rel == decomposed && rel == (mab == "212101212"),
        s"($ax1,$ay1,$ax2,$ay2) vs ($bx1,$by1,$bx2,$by2): $mab rel=$rel dec=$decomposed")
    }
  }

  /** Pure model of the reference's priority resolution
    * (tileconfig.py:443-497): per tile keep all entries of the minimum
    * priority (equal priorities append). */
  private def dedupModel(files: Seq[(String, String, Int)]): Map[String, Set[String]] =
    files.groupBy(_._1).map { case (tile, fs) =>
      val minP = fs.map(_._3).min
      tile -> fs.filter(_._3 == minP).map(_._2).toSet
    }

  test("ArraysOverlapRewrite: rewritten ≡ unrewritten on generated arrays; the nullable-element guard is load-bearing") {
    import org.apache.spark.sql.types.ArrayType
    // the rule is injected at session build; the shared session has it
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "overlap_prop").toString

    // ---- non-nullable elements: the rule FIRES; results must equal
    // both the un-matched spelling (>= 1, same predicate, outside the
    // rule's pattern) and a Scala set model — including NULL arrays and
    // empty arrays on either side. Parquet-backed so
    // ConvertToLocalRelation cannot constant-fold the predicate away.
    val genArr: Gen[Option[List[Int]]] = Gen.frequency(
      1 -> Gen.const(None),      // NULL array
      1 -> Gen.const(Some(Nil)), // empty array
      8 -> Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0, 9)).map(l => Some(l))))
    val rows = samples(Gen.zip(genArr, genArr), 300)
    rows.toDF("a", "b").write.mode("overwrite").parquet(s"$dir/nonnull")
    val base = spark.read.parquet(s"$dir/nonnull")
    // parquet read-back declares nullable elements; coalesce inside a
    // transform proves non-nullability to the optimizer (identity on
    // this data — part A generates no null elements)
    def nn(c: String) = transform(col(c), x => coalesce(x, lit(0)))
    val df = base.select(col("a"), col("b"),
      (size(array_intersect(nn("a"), nn("b"))) > 0).as("rewritten"),
      (size(array_intersect(nn("a"), nn("b"))) >= 1).as("unrewritten"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("arrays_overlap"), opt) // the > 0 spelling rewrote
    df.collect().foreach { r =>
      val model: Any =
        if (r.isNullAt(0) || r.isNullAt(1)) null
        else java.lang.Boolean.valueOf(
          r.getSeq[Int](0).toSet.intersect(r.getSeq[Int](1).toSet).nonEmpty)
      def b(i: Int): Any =
        if (r.isNullAt(i)) null else java.lang.Boolean.valueOf(r.getBoolean(i))
      assert(b(2) == model && b(3) == model,
        s"a=${r.get(0)} b=${r.get(1)} rewritten=${b(2)} unrewritten=${b(3)} model=$model")
    }

    // ---- nullable elements: the guard BLOCKS the rule, and must —
    // generated data includes the divergent shape (null element on one
    // side, disjoint other side) where overlap yields NULL but the
    // size-form yields false
    val genElem: Gen[Option[Int]] =
      Gen.frequency(3 -> Gen.choose(0, 9).map(v => Some(v)), 1 -> Gen.const(None))
    val genArrN: Gen[Option[List[Option[Int]]]] = Gen.frequency(
      1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)),
      8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genElem).map(l => Some(l))))
    val rowsN = samples(Gen.zip(genArrN, genArrN), 300) :+
      ((Some(List(Option.empty[Int])), Some(List(Option(1))))) // known divergent pair
    rowsN.toDF("a", "b").write.mode("overwrite").parquet(s"$dir/nullable")
    val baseN = spark.read.parquet(s"$dir/nullable")
    assert(baseN.schema("a").dataType.asInstanceOf[ArrayType].containsNull)
    val dfN = baseN.select(
      expr("size(array_intersect(a, b)) > 0").as("sz"),
      expr("arrays_overlap(a, b)").as("ov"))
    assert(dfN.queryExecution.optimizedPlan.toString.contains("array_intersect"),
      dfN.queryExecution.optimizedPlan.toString) // size-form survived unrewritten
    // the guard is NECESSARY: the two forms really diverge here
    assert(dfN.filter(col("sz").isNotNull && col("ov").isNull).count() > 0)
    // and wherever overlap is defined, they agree
    assert(dfN.filter(col("ov").isNotNull && !(col("sz") <=> col("ov"))).count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("A8 priority dedup matches the pure model on generated file indexes") {
    import org.apache.spark.sql.expressions.Window
    val genFiles = Gen.nonEmptyListOf(for {
      t <- Gen.oneOf("ta", "tb", "tc", "td")
      p <- Gen.choose(1, 3)
      n <- Gen.choose(0, 9999)
    } yield (t, s"/d$p/f$n.laz", p)).map(_.distinct)
    samples(genFiles, 8).foreach { files =>
      import spark.implicits._
      val df = files.toDF("tile_id", "path", "priority")
      val w = Window.partitionBy("tile_id")
      val got = df.withColumn("minp", min("priority").over(w))
        .filter(col("priority") === col("minp"))
        .groupBy("tile_id").agg(collect_set("path").as("paths"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
      assert(got == dedupModel(files))
    }
  }

  test("dd15 star contraction equals union-find on generated random graphs") {
    // graphs with varied density and node-id ranges: components of
    // diameter 0 (isolated pairs) through long chains — each Spark
    // result compared per-node against a driver-side union-find.
    // Spark runs per graph are expensive, so fewer samples, but each
    // sample is a whole-graph equivalence, not a point check.
    val genGraph: Gen[Seq[(Long, Long)]] = for {
      nNodes <- Gen.choose(2, 30)
      nEdges <- Gen.choose(1, 50)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, nNodes.toLong - 1)
        b <- Gen.choose(0L, nNodes.toLong - 1)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (a.min(b), a.max(b)) }
    import spark.implicits._
    samples(genGraph, 12).filter(_.nonEmpty).foreach { edges =>
      val got = graft.operators.DedupOps
        .starComponentsOf(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.groupBy(find).values
        .flatMap(ns => ns.map(_ -> ns.min)).toMap
      assert(got == expect, s"edges: $edges")
    }
  }
}
