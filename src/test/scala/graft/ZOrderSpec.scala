package graft

import org.apache.spark.sql.functions._

import graft.functions.ZOrder

/** [[graft.functions.ZOrder]] + k17: encoding correctness and the layout
  * payoff (fewer files touched by a 2-D box than a 1-D sort). */
class ZOrderSpec extends SparkSpec {

  test("column zvalue equals the scalar reference on a grid + edge values") {
    import spark.implicits._
    val pts = (for (x <- 0 to 40 by 3; y <- 0 to 40 by 3) yield (x, y)) ++
      Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (123456, 654321),
          (Int.MaxValue, 0), (0, Int.MaxValue))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zvalue(col("x"), col("y")).as("zv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == ZOrder.zvalueRef(x, y), s"($x,$y)")
    }
  }

  test("zvalue interleaves bits: unit steps flip the expected bit") {
    assert(ZOrder.zvalueRef(1, 0) == 1L)
    assert(ZOrder.zvalueRef(0, 1) == 2L)
    assert(ZOrder.zvalueRef(2, 0) == 4L)
    assert(ZOrder.zvalueRef(0, 2) == 8L)
    assert(ZOrder.zvalueRef(3, 3) == 15L)
  }

  test("k17 box aggregate equals the same box over the original table") {
    val got = run("k17_zorder_layout").collect().head
    val ref = sources.Tables.lineitem(spark, Sf)
      .filter(col("l_partkey").between(50, 150) &&
              col("l_suppkey").between(5, 25))
      .agg(count(lit(1)), sum("l_quantity")).collect().head
    assert(got.getLong(0) == ref.getLong(0))
    assert(got.getDouble(1) == ref.getDouble(1))
  }

  test("z-order touches fewer files than a 1-D sort for a 2-D box (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    val li = sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    def filesForLayout(sorted: org.apache.spark.sql.DataFrame, tag: String): Long = {
      val out = graft.model.Fs.scratch(s"zspec_$tag", dir)
      sorted.write.mode("overwrite")
        .option("maxRecordsPerFile", 2000).parquet(out)
      spark.read.parquet(out)
        .filter(col("l_partkey").between(50, 150) &&
                col("l_suppkey").between(5, 25))
        .select(input_file_name()).distinct().count()
    }
    val zFiles = filesForLayout(
      li.withColumn("zv", ZOrder.zvalue(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(8, col("zv")).sortWithinPartitions("zv"), "z")
    val linFiles = filesForLayout(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"), "lin")
    // ~30 files each; the box is ~0.2% of the z-key space but hits every
    // file under an unrelated-column sort
    assert(zFiles < linFiles, s"z=$zFiles linear=$linFiles")
    assert(zFiles <= linFiles / 2, s"expected ≥2x locality win: z=$zFiles lin=$linFiles")
  }
}
