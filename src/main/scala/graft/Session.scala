package graft

import org.apache.spark.sql.SparkSession

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
}
