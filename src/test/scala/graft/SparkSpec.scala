package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.warehouse.dir",
      new java.io.File(graft.model.Fs.root, "warehouse").getPath)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def run(name: String, dir: String = Sf): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, dir)
}
