package graft.operators

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OpModule
import graft.model.{Fs, TileGrid}
import graft.sources.{Sql, Tables}

/** Real filesystem directory scan (S5) and per-tile payload merge (K3).
  *
  * s5 materializes the elevation-file fixture as an actual on-disk tree
  * and scans it with Spark's distributed `binaryFile` source — the true
  * analogue of the reference's os.listdir walk (tileconfig.py:455-461),
  * except the listing itself is a DataFrame. k3 is the `lasmerge -i ...
  * -o merged` step (worker.py:671-691): per-tile ordered concatenation
  * of payloads, fingerprinted so the oracle can check the merge without
  * byte-level output.
  */
object MergeScanOps extends OpModule {

  private val ScanBase = Fs.fixture("ahn")

  /** Create the fixture tree once: one 1-byte file per ElevFile path
    * (Spark's file listing skips empty files). */
  private def materializeTree(): Unit = {
    TileGrid.elevFiles.foreach { f =>
      val p = Paths.get(f.path.replace("/data/", s"$ScanBase/"))
      Files.createDirectories(p.getParent)
      if (!Files.exists(p)) Files.write(p, Array[Byte]('x'))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S5 — distributed directory scan: binaryFile source + filename
    // parsing + directory-mapping join (broadcast)
    "s5_dir_scan" -> ((s, _) => {
      materializeTree()
      import s.implicits._
      val dirs = TileGrid.elevDirs.toDF()
      val files = s.read.format("binaryFile").load(s"$ScanBase/*/*")
        .select(regexp_replace(col("path"),
          s"^file:.*?${Pattern.quote(ScanBase)}", "/data").as("path"))
      files
        .withColumn("dir", regexp_extract(col("path"), "^/data/([^/]+)/", 1))
        .join(broadcast(dirs), col("dir") === col("name"))
        .withColumn("tile_id",
          regexp_extract(lower(col("path")), Tables.TileFromPath, 1))
        .filter(col("tile_id") =!= "" && col("version").isNotNull)
        .select(col("path"), col("version").as("dir_version"), col("priority"),
          col("tile_id"))
    }),

    // K3 — per-tile ordered payload merge + fingerprint
    "k3_merge_payloads" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("tile_id", concat(lit("t"), (col("doc_id") % 4).cast("string"),
          lit("_"), expr("(doc_id div 4) % 4").cast("string")))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_docs"),
          expr("array_join(transform(array_sort(collect_list(struct(doc_id, text)))," +
            " x -> x.text), '|')").as("merged"))
        .select(col("tile_id"), col("n_docs"),
          length(col("merged")).as("merged_len"),
          md5(col("merged")).as("merged_md5")))
  )

  def oracles: Map[String, String] = Map(
    // identical rows to the elev_index CTE built from the same constants
    "s5_dir_scan" -> Sql.query(Sql.elevFiles, Sql.elevIndex)(
      "SELECT path, dir_version, priority, tile_id FROM elev_index"),

    "k3_merge_payloads" ->
      """SELECT tile_id, COUNT(*) AS n_docs,
        |       length(string_agg(text, '|' ORDER BY doc_id)) AS merged_len,
        |       md5(string_agg(text, '|' ORDER BY doc_id)) AS merged_md5
        |FROM (SELECT doc_id, text,
        |             't' || CAST(doc_id % 4 AS VARCHAR) || '_'
        |                 || CAST((doc_id // 4) % 4 AS VARCHAR) AS tile_id
        |      FROM documents) d
        |GROUP BY tile_id""".stripMargin
  )
}
