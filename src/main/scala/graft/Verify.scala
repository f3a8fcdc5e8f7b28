package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(s"local[$cpus]", cpus, "").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter (driver never sets it): run only
    // the comma-separated query names in SPARK_GRAFT_ONLY.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // truncate: Spark analysis errors embed whole plan trees
        failures(name) =
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Explicit failure manifest: a query that threw leaves NO parquet dir,
    // and a comparator that only walks dirs would silently under-count
    // coverage (the round-9 hole — 8 dead queries simply vanished from
    // the record). check_oracle.py fails these by name.
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      Json.obj(failures))
    // Attempted-set manifest: under SPARK_GRAFT_ONLY only a subset runs,
    // and check_oracle's coverage closure must check attempted-vs-
    // accounted, not all-of-oracle, or a partial outdir floods FAIL-miss.
    Files.writeString(Paths.get(s"$outDir/_attempted.json"),
      selected.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    graft.sources.Cached.releaseAll()
    spark.stop()
  }
}
