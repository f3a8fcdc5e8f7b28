package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge

import graft.sources.Cached

/** The session setup every graft main shares, in ONE place — the role
  * the reference's single connection module plays for its controllers
  * and workers (db.py:17-213). The operators depend on this setup being
  * identical everywhere: `Tables.events` needs `nanosAsLong` to read a
  * TIMESTAMP(NANOS) `ts`, and the native SQL functions exist only
  * because [[GraftExtensions]] is attached here. Callers chain their own
  * `.appName`/`.config` calls onto the returned builder.
  *
  * Extensions go in through `withExtensions`, not the
  * `spark.sql.extensions` conf: the conf is read from the SparkContext,
  * so a session built on an already-running context would miss it.
  */
object Session {

  /** @param master       Spark master URL
    * @param cores        shuffle partitions (the cores the master runs on)
    * @param warehouseTag suffix of the warehouse directory
    *                     `warehouse_<tag>` under the process's scratch root
    *                     ([[graft.model.Fs.root]]): concurrent JVMs (and
    *                     differently-tagged sessions in one JVM) never
    *                     share a warehouse */
  def builder(master: String, cores: Int,
      warehouseTag: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new java.io.File(graft.model.Fs.root, s"warehouse_$warehouseTag").getPath)
      .config("spark.ui.enabled", "false")

  /** `s`'s clone with `spark.sql.shuffle.partitions` = `parts`, for work
    * sized to a small relation (a pair graph, a streaming micro-batch)
    * rather than the corpus. No query writes its caller's conf: a
    * concurrent query on that session would plan under the narrowed
    * width, and two overlapping loops would restore each other's value.
    * The width is set once, on the clone this makes.
    *
    * Memoized through [[Cached.once]], keyed by the width and the
    * caller's conf (a streaming caller's state-store provider must reach
    * its queries); a fresh clone's first query pays its own planning
    * warm-up. The clone shares `s`'s shared state, so [[Cached]] entries
    * and persisted relations are the same on both.
    *
    * Binding rule: moving a body's inputs here with [[on]] narrows only
    * the shuffles whose plans are FINALIZED inside the body — eager or
    * lazy localCheckpoint loops qualify (even a lazy checkpoint builds
    * its RDD, fixing reducer counts, at construction); a fully lazy
    * result plans at the caller's terminal action, at the caller's
    * width once [[on]] moves it back. */
  def narrowed(s: SparkSession, parts: Int): SparkSession =
    Cached.once(s, s"narrowed:$parts:${s.conf.getAll.toSeq.sorted.mkString(",")}") {
      val c = ColumnBridge.cloneSession(s)
      c.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      c
    }

  /** `text` run over temp `views` that `s` never sees: the views go on a
    * per-call clone of `s`, the text is analyzed there and the result
    * comes back on `s` with [[on]]. A view registered on `s` would outlive
    * the call, and dropping it afterwards would pull it from under a
    * concurrent call of the same query still analyzing against it. */
  def sql(s: SparkSession, views: (String, DataFrame)*)(text: String): DataFrame = {
    val c = ColumnBridge.cloneSession(s)
    views.foreach { case (name, df) => on(c, df).createOrReplaceTempView(name) }
    on(s, c.sql(text))
  }

  /** `df`'s analyzed plan as a DataFrame of `target`. */
  def on(target: SparkSession, df: DataFrame): DataFrame =
    ColumnBridge.ofRows(target, df.queryExecution.analyzed)
}
