package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.TileGrid

/** Readers for the driver-provided parquet tables plus the derived fixture
  * relations: features-with-coordinates, tile boundaries, elevation file
  * index, monitor log. Each derived relation has a DuckDB CTE counterpart
  * in [[Sql]], built from the same constants in [[graft.model.TileGrid]].
  *
  * Scale note: boundaries/elev_files are tiny dimension tables — join
  * sides that must be broadcast (reference joins its tile index the same
  * way via PostgreSQL; SURVEY §4). features/monitor are derived lazily
  * from the big fact tables so all filters still push down to parquet.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource(dir).read(spark, name)

  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet stores TIMESTAMP(NANOS), which Spark 4 only reads as
    * LongType under the legacy parquet `nanosAsLong` flag (set by the
    * shared [[graft.Session]] builder). Convert back to a microsecond
    * TimestampType here — the data is µs-resolution, so no precision is
    * lost. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Drop the managed table `name` together with its warehouse location.
    * The in-memory catalog forgets a table when its session goes, but the
    * directory stays, and a later saveAsTable of the same name fails with
    * LOCATION_ALREADY_EXISTS unless both are cleared. */
  def dropManaged(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    graft.model.Fs.deleteRecursively(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name))
  }

  /** Features = orders + deterministic integer coordinates in the
    * [0,10000)^2 world and their tile assignment (SURVEY §7.1 fixture
    * adaptation: orders plays bagactueel.pandactueelbestaand, the derived
    * tile_id plays tile_index.bag_index.unit). */
  def features(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("fx", (col("o_orderkey") * 7919) % 10000)
      .withColumn("fy", (col("o_custkey") * 104729) % 10000)
      .withColumn("tx", floor(col("fx") / 2500.0).cast("int"))
      .withColumn("ty", floor(col("fy") / 2500.0).cast("int"))
      .withColumn("tile_id",
        concat(lit("t"), col("tx").cast("string"), lit("_"), col("ty").cast("string")))

  /** The feature→tile mapping alone (reference tile_index.bag_index:
    * `(gid, unit)`), i.e. the minimal projection of [[features]]. */
  def featureIndex(spark: SparkSession, dir: String): DataFrame =
    features(spark, dir).select(col("o_orderkey").as("gid"), col("tile_id"))

  /** Tile index with envelope + version + border flag (16 rows; broadcast
    * side of every join against it). */
  def boundaries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TileGrid.tiles.toDF()
  }

  /** Border-strip subset of the tile index (reference
    * tile_index.ahn_tiles_border; FIXTURES.md §1). */
  def borderTiles(spark: SparkSession): DataFrame =
    boundaries(spark).filter(col("border"))

  /** Raw elevation-file listing (path, dir_version, priority) — the input
    * of the S5 file-index builder; tiny, broadcast side. */
  def elevFilesRaw(spark: SparkSession): DataFrame = {
    import spark.implicits._
    TileGrid.elevFiles.toDF()
  }

  /** Regex that pulls the tile ID out of an elevation file name,
    * case-insensitively, across all three per-version filename patterns
    * (reference tileconfig.py:450-461 builds this from the config's
    * `file_pattern: C{tile}.LAZ` etc.). Applied to `lower(path)`. */
  val TileFromPath = "/(?:c|unit_|m-)(t[0-9]+_[0-9]+)\\.laz$"

  /** Elevation file index: S5 of SURVEY §2.1 — listing → regex tile
    * extraction → null-version skip (tileconfig.py:395-499, 633-639). */
  def elevIndex(spark: SparkSession): DataFrame =
    elevFilesRaw(spark)
      .withColumn("tile_id", regexp_extract(lower(col("path")), TileFromPath, 1))
      .filter(col("tile_id") =!= "" && col("dir_version").isNotNull)

  /** Monitor-log column derivation over any events-shaped frame (batch or
    * streaming). Schema mirrors reference recorder.py:81-95: timestamp,
    * tile, pid, cpu_time_user, cpu_time_sys, mem_rss. */
  def monitorCols(ev: DataFrame): DataFrame =
    ev.withColumn("tile_id", concat(lit("t"), (col("event_id") % 4).cast("string"),
        lit("_"), (col("user_id") % 4).cast("string")))
      .withColumn("pid", (col("user_id") % 32 + 100).cast("int"))
      .withColumn("cpu_time_user", col("value"))
      .withColumn("cpu_time_sys", col("value") / 2)
      .withColumn("mem_rss", (col("event_id") * 9973) % 1000000000)

  /** Monitor log derived from `events` (batch path). */
  def monitorLog(spark: SparkSession, dir: String): DataFrame =
    monitorCols(events(spark, dir))

  /** Streaming read of the documents table — the ingest-side source of
    * the streaming training-data pipeline (pp2). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
      .parquet(s"$dir/documents.parque*")

  /** Streaming read of the events table (file stream source over the same
    * parquet), with the same nanos→µs timestamp handling as [[events]]. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // file-stream source needs a directory base; a glob keeps `dir` as
    // basePath while matching the single parquet file
    val raw = spark.readStream.schema(spark.read.parquet(path).schema)
      .parquet(s"$dir/events.parque*")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
}
