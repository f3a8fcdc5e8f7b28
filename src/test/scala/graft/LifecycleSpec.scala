package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Round-12 stretch: the reference's §3.1 LIFECYCLE end-to-end at the
  * largest generated scale — one spec case driving the CLI the way an
  * operator drives the reference:
  *
  *   run (tile fan-out + retry)  →  export-tile-inputs (per-tile
  *   parquet + payload merge)  →  monitor TSV  →  plot-monitor-log
  *   (CSV series + SVG figures)
  *
  * against the Heaps-law GENERATED corpus: /tmp/gen/sf1 when the decade
  * gate has built it (GRAFT_GEN_DIR overrides), else a gen-sf0.1 corpus
  * generated on the spot — always DataGen output, never the shipped
  * fixtures, so the lifecycle is exercised at the largest scale this
  * box has on hand. Every asserted number is computed independently
  * from the corpus, not hardcoded.
  */
class LifecycleSpec extends SparkSpec {

  private def captureOut(body: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8"))(body)
    bos.toString("UTF-8")
  }

  private lazy val corpusDir: String = {
    val preferred = sys.env.getOrElse("GRAFT_GEN_DIR", "/tmp/gen/sf1")
    if (Files.exists(Paths.get(preferred, "orders.parquet"))) preferred
    else {
      val d = Files.createTempDirectory(graft.model.Fs.root.toPath, "lifecycle_gen").toString
      DataGen.generate(spark, 0.1, d, heapsVocab = true)
      d
    }
  }

  test("reference lifecycle end-to-end on the generated corpus") {
    spark // force the shared session so Cli reuses it
    info(s"corpus: $corpusDir")

    // ---- run: fan-out all 16 tiles with one retry ----
    val runOut = captureOut {
      Cli.main(Array("run", corpusDir, "--restart", "1", "--tiles", "all"))
    }
    // expected outcome derived from the worker-failure rule, not
    // hardcoded: permanent failures at (tx*4+ty)%5==0, transients
    // cleared by the retry
    val tiles = graft.model.TileGrid.tiles
    val permFail = tiles.filter(t => (t.tx * 4 + t.ty) % 5 == 0).map(_.tile_id)
    assert(runOut.contains(s"nr_success=${tiles.size - permFail.size}"), runOut)
    assert(runOut.contains(s"failed_tiles=${permFail.mkString(",")}"), runOut)
    val okTiles = tiles.map(_.tile_id).filterNot(permFail.contains)
    val expectFeatures = graft.sources.Tables.features(spark, corpusDir)
      .filter(col("tile_id").isin(okTiles: _*)).count()
    assert(runOut.contains(s"features_processed=$expectFeatures"), runOut)

    // ---- export-tile-inputs: per-tile footprints + merged payloads ----
    val exportDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "lifecycle_export").toString
    val exportOut = captureOut {
      Cli.main(Array("export-tile-inputs", corpusDir, exportDir))
    }
    assert(exportOut.contains("exported"), exportOut)
    // partition layout: one tile_id=... directory per tile with data
    val partDirs = new java.io.File(s"$exportDir/footprints").listFiles()
      .filter(_.getName.startsWith("tile_id=")).map(_.getName).sorted.toSeq
    assert(partDirs == tiles.map(t => s"tile_id=${t.tile_id}").sorted,
      s"footprint partitions: $partDirs")
    val exported = spark.read.parquet(s"$exportDir/footprints")
    assert(exported.count() ==
      graft.sources.Tables.features(spark, corpusDir).count())
    val merged = spark.read.parquet(s"$exportDir/merged_payloads")
    val expectMerged = SparkEntry.queries("k3_merge_payloads")(spark, corpusDir)
    assert(merged.count() == expectMerged.count() && merged.count() > 0)

    // ---- monitor TSV: the recorder's per-tile resource log, derived
    // from the corpus (3 samples per tile, values keyed on the tile's
    // feature count so the plotted series are corpus-dependent) ----
    val counts = graft.sources.Tables.features(spark, corpusDir)
      .groupBy("tile_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tsv = Files.createTempFile(graft.model.Fs.root.toPath, "lifecycle_monitor", ".tsv")
    val lines = for {
      t <- tiles.map(_.tile_id).sorted
      s <- 0 until 3
    } yield {
      val n = counts.getOrElse(t, 0L)
      val epoch = 1700000000L + s * 60
      f"${java.time.Instant.ofEpochSecond(epoch)}%s\t$t%s\t${1000 + s}%d\t${n / 100.0}%.2f\t${n / 400.0}%.2f\t${n * 1000}%d"
    }
    Files.writeString(tsv, lines.mkString("\n"))

    // ---- plot-monitor-log: CSV series + the reference's figures ----
    val plotDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "lifecycle_plot").toString
    val plotOut = captureOut {
      Cli.main(Array("plot-monitor-log", tsv.toString, plotDir))
    }
    assert(plotOut.contains("wrote"), plotOut)
    val rss = spark.read.option("header", "true").csv(s"$plotDir/rss")
    val cpu = spark.read.option("header", "true").csv(s"$plotDir/cpu")
    assert(rss.count() == tiles.size * 3L)
    assert(cpu.count() == tiles.size.toLong)
    // cpu_max must reflect the corpus-derived values: spot-check the
    // largest tile carries the largest bar
    val maxTile = counts.maxBy(_._2)._1
    val cpuRows = cpu.collect().map(r => r.getString(0) -> r.getString(1).toDouble)
    assert(cpuRows.maxBy(_._2)._1 == maxTile)
    val rssSvg = Files.readString(Paths.get(plotDir, "rss.svg"))
    val cpuSvg = Files.readString(Paths.get(plotDir, "cpu.svg"))
    assert(rssSvg.startsWith("<svg") && rssSvg.contains("<polyline"))
    assert(cpuSvg.startsWith("<svg"))
    assert(!spark.sparkContext.isStopped)
  }
}
