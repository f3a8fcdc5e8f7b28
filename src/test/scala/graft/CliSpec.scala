package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Drives the CLI commands end-to-end (the reference's test_cli.py
  * analogue). Cli reuses the suite's active session and must not stop
  * it. */
class CliSpec extends SparkSpec {

  private def captureOut(body: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8")
  }

  test("list-queries prints every registered query name") {
    val out = captureOut { Cli.main(Array("list-queries")) }
    val names = out.linesIterator.toSet
    assert(SparkEntry.queries.keySet.subsetOf(names))
  }

  test("run --tiles subset reports success/failure counts (run_cmd analogue)") {
    spark // force the shared session so Cli reuses it
    val out = captureOut {
      Cli.main(Array("run", Sf, "--restart", "1", "--tiles", "t0_0,t0_1,t1_2"))
    }
    // t0_0 fails permanently ((0*4+0)%5==0); t0_1 and t1_2 succeed
    assert(out.contains("nr_success=2"), out)
    assert(out.contains("failed_tiles=t0_0"), out)
    // the CLI must not have stopped the shared session
    assert(!spark.sparkContext.isStopped)
  }

  test("plot-monitor-log writes the rss series and per-tile cpu max CSVs") {
    spark
    // s7's fixture writer produces the TSV the reference's recorder emits
    run("s7_tsv_scan").count()
    val outDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "cli_plot").toString
    val out = captureOut {
      Cli.main(Array("plot-monitor-log", operators.SourceSinkOps.MonitorTsvPath, outDir))
    }
    assert(out.contains("wrote"), out)
    val rss = spark.read.option("header", "true").csv(s"$outDir/rss")
    val cpu = spark.read.option("header", "true").csv(s"$outDir/cpu")
    assert(rss.count() == 48) // 16 tiles x 3 samples
    assert(cpu.count() == 16)
    assert(cpu.columns.toSeq == Seq("tile_id", "cpu_max"))
    // K7's actual artifacts: one figure per plot family, as the
    // reference emits rss.pdf/cpu.pdf (recorder.py:106-133)
    val rssSvg = Files.readString(java.nio.file.Paths.get(outDir, "rss.svg"))
    val cpuSvg = Files.readString(java.nio.file.Paths.get(outDir, "cpu.svg"))
    assert(rssSvg.startsWith("<svg") && rssSvg.contains("Memory usage per tile"))
    assert(rssSvg.contains("<polyline")) // at least one drawn series
    assert(rssSvg.contains("8 others")) // 16 tiles → 8 colored + folded legend
    assert(cpuSvg.startsWith("<svg") && cpuSvg.contains("CPU time per tile"))
    assert(cpuSvg.sliding(7).count(_ == "<path d") == 16) // one bar per tile
    assert(!spark.sparkContext.isStopped)
  }

  test("plot-monitor-log on an empty TSV completes without figures") {
    spark
    val emptyTsv = Files.createTempFile(graft.model.Fs.root.toPath, "empty_monitor", ".tsv").toString
    val outDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "cli_plot_empty").toString
    val out = captureOut {
      Cli.main(Array("plot-monitor-log", emptyTsv, outDir))
    }
    assert(out.contains("no samples"), out)
    assert(!Files.exists(java.nio.file.Paths.get(outDir, "rss.svg")))
    assert(!Files.exists(java.nio.file.Paths.get(outDir, "cpu.svg")))
    assert(!spark.sparkContext.isStopped)
  }
}
