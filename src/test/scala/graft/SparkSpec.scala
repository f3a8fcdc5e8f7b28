package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy), built by
  * the same [[Session.builder]] every main uses, so the suites test the
  * configuration that ships: GraftExtensions attached, the same conf. */
trait SparkSpec extends AnyFunSuite {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession =
    Session.builder("local[4]", 4, "test").appName("graft-test").getOrCreate()

  def run(name: String, dir: String = Sf): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, dir)
}
