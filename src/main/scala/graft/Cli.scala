package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.FanoutOps
import graft.sources.Tables

/** Command-line entry point mirroring the reference's Click CLI
  * (tile_processor/cli.py:13-200). Commands:
  *
  *   list-queries                      — registry listing (cli.py choices)
  *   run <sfDir> [--restart N] [--tiles a,b|all]
  *                                     — fan-out workers with retry
  *                                       (run_cmd, cli.py:48-97)
  *   export-tile-inputs <sfDir> <outDir>
  *                                     — per-tile exports (cli.py:99-143)
  *   plot-monitor-log <tsvPath> <outDir>
  *                                     — monitor analytics to CSV (the
  *                                       data behind rss.pdf/cpu.pdf,
  *                                       cli.py:178-192)
  *   register-config <name> <path> [--registry dir]
  *                                     — register a config schema
  *                                       (register_schema, cli.py:146-158)
  *   list-configs [--registry dir]     — list registered schemas
  *                                       (list_schemas, cli.py:161-166)
  *   remove-config <name> [--registry dir]
  *                                     — remove a schema
  *                                       (remove_schema, cli.py:169-175)
  */
object Cli {
  /** Reuse an already-running session (tests, notebooks) and only stop
    * sessions this CLI created itself. */
  private def withSession(body: SparkSession => Unit): Unit = {
    val reused = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val s = reused.getOrElse(session())
    s.sparkContext.setLogLevel("WARN")
    try body(s) finally if (reused.isEmpty) s.stop()
  }

  private def registryDir(rest: List[String]): java.nio.file.Path =
    java.nio.file.Paths.get(rest.sliding(2).collectFirst {
      case "--registry" :: d :: Nil => d
    }.getOrElse(sys.env.getOrElse("GRAFT_REGISTRY_DIR",
      sys.props("user.home") + "/.graft/schemas")))

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    Session.builder(s"local[$cpus]", cpus, "cli_").getOrCreate()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "list-queries" :: Nil =>
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)

    case "run" :: sfDir :: rest =>
      val restart = rest.sliding(2).collectFirst {
        case "--restart" :: n :: Nil => n.toInt }.getOrElse(0)
      val tiles = rest.sliding(2).collectFirst {
        case "--tiles" :: t :: Nil => t }.getOrElse("all")
      withSession { s =>
        val all = FanoutOps.tileTasks(s)
        val selected =
          if (tiles == "all") all
          else all.filter(col("tile_id").isin(tiles.split(",").toSeq: _*))
        val results = FanoutOps.runWithRetry(s, selected, maxAttempts = restart + 1)
          .collect()
        val failed = results.filter(!_.ok).map(_.tile_id)
        // sfDir feeds the data-dependent part of the run report: how many
        // features the successful tiles actually covered (the reference logs
        // per-tile work in run_cmd, cli.py:94-95)
        val okTiles = results.filter(_.ok).map(_.tile_id).toSeq
        val nFeatures =
          if (okTiles.isEmpty) 0L
          else Tables.features(s, sfDir)
            .filter(col("tile_id").isin(okTiles: _*)).count()
        println(s"nr_success=${results.length - failed.length}")
        println(s"failed_tiles=${failed.mkString(",")}")
        println(s"features_processed=$nFeatures")
      }

    case "export-tile-inputs" :: sfDir :: outDir :: Nil =>
      withSession { s =>
        Tables.features(s, sfDir)
          .write.mode("overwrite").partitionBy("tile_id")
          .parquet(s"$outDir/footprints")
        SparkEntry.queries("k3_merge_payloads")(s, sfDir)
          .write.mode("overwrite").parquet(s"$outDir/merged_payloads")
        println(s"exported to $outDir")
      }

    case "plot-monitor-log" :: tsv :: outDir :: Nil =>
      withSession { s =>
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("ts", TimestampType), StructField("tile_id", StringType),
          StructField("pid", IntegerType), StructField("cpu_user", DoubleType),
          StructField("cpu_sys", DoubleType), StructField("mem_rss", LongType)))
        val log = s.read.option("sep", "\t").schema(schema).csv(tsv)
          .withColumn("cpu_total", col("cpu_user") + col("cpu_sys"))
          .withColumn("mem_mb", col("mem_rss") / lit(1e6))
        // rss.pdf data: per-tile memory series; cpu.pdf data: max per tile
        log.select("ts", "tile_id", "mem_mb")
          .write.mode("overwrite").option("header", "true").csv(s"$outDir/rss")
        val cpuMax = log.groupBy("tile_id").agg(max("cpu_total").as("cpu_max"))
        cpuMax.write.mode("overwrite").option("header", "true").csv(s"$outDir/cpu")

        // the reference's actual artifacts (recorder.py:106-133): rss.pdf
        // and cpu.pdf — emitted here as dependency-free SVG. The figure
        // data is driver-bounded by construction: every series is
        // downsampled to <= 512 points per tile BEFORE collect (the plot
        // has no more pixels anyway), and the bar chart is one row per
        // tile.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("tile_id").orderBy("ts")
        val counts = log.groupBy("tile_id").agg(count(lit(1)).as("n_rows"))
        val sampled = log.join(broadcast(counts), Seq("tile_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") % greatest(ceil(col("n_rows") / 512), lit(1)) === 0 ||
            col("rn") === 1)
          .select(col("tile_id"), col("ts").cast("double").as("epoch"),
            col("mem_mb"))
          .collect()
        if (sampled.isEmpty) {
          println(s"no samples in $tsv — skipping rss.svg/cpu.svg")
        } else {
          val t0 = sampled.map(_.getDouble(1)).min
          val series = sampled.groupBy(_.getString(0)).toSeq
            .map { case (tile, rows) =>
              tile -> rows.sortBy(_.getDouble(1))
                .map(r => ((r.getDouble(1) - t0) / 60.0, r.getDouble(2))).toSeq
            }
            .sortBy { case (_, pts) => -pts.map(_._2).max } // legend = top tiles
          Files.writeString(Paths.get(outDir, "rss.svg"),
            graft.sinks.SvgPlot.lineChart("Memory usage per tile",
              "Time [minutes]", "Resident Set Size [Mb]", series))
          val bars = cpuMax.collect()
            .map(r => r.getString(0) -> r.getDouble(1) / 60.0) // seconds → minutes
            .sortBy(_._1).toSeq
          if (bars.nonEmpty)
            Files.writeString(Paths.get(outDir, "cpu.svg"),
              graft.sinks.SvgPlot.barChart("CPU time per tile",
                "Tile", "CPU time (User+Sys) [minutes]", bars))
          println(s"wrote $outDir/rss and $outDir/cpu and rss.svg/cpu.svg")
        }
      }

    // schema-registry surface: pure file operations, no Spark session
    case "register-config" :: name :: path :: rest =>
      val reg = new graft.model.ConfigRegistry(registryDir(rest))
      val fname = reg.register(name, java.nio.file.Paths.get(path))
      println(s"Registered the configuration schema '$fname' as '$name'")

    case "list-configs" :: rest =>
      val reg = new graft.model.ConfigRegistry(registryDir(rest))
      println("Registered schemas:")
      reg.db.toSeq.sorted.foreach { case (n, f) => println(s"  $n -> $f") }

    case "remove-config" :: name :: rest =>
      val reg = new graft.model.ConfigRegistry(registryDir(rest))
      if (reg.remove(name))
        println(s"Removed the configuration schema '$name'")
      else
        println(s"Schema '$name' not in the database, not removing anything")

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("commands: list-queries | run | export-tile-inputs | " +
        "plot-monitor-log | register-config | list-configs | remove-config")
      sys.exit(2)
  }
}
