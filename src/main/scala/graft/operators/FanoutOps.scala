package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.OpModule
import graft.model.Fs
import graft.sources.{Sql, Tables}

/** The unit of fan-out work (one tile) and its outcome — the Spark
  * incarnation of the reference's per-tile worker call
  * (processor.py:127-149, worker.py:694-751). */
final case class TileTask(tile_id: String, tx: Int, ty: Int)
final case class WorkerResult(tile_id: String, ok: Boolean, attempts: Int)

/** Dataflow/orchestration suite O1-O3 + per-tile sink K2 (SURVEY §2.10,
  * §2.2).
  *
  * The reference fans out one OS process per tile from a
  * ThreadPoolExecutor; here the fan-out IS the Spark job: tiles are rows,
  * the worker runs in `mapPartitions`, results stream back as a Dataset.
  * Workers are pure deterministic functions standing in for the external
  * executables (3dfier/Geoflow), so the retry semantics stay testable and
  * oracle-checkable. The `pipe()` variant exercises a real child-process
  * boundary (O2). At scale: tiles are repartitioned so each executor gets
  * a balanced slice; a retry round only re-runs the failed subset.
  */
object FanoutOps extends OpModule {

  /** Deterministic worker: permanent failure on (tx*4+ty)%5==0, transient
    * failure (cleared on retry) on (tx+ty)%3==0 — the fixture analogue of
    * worker exit codes (worker.py:60-78). */
  def workerSucceeds(t: TileTask, attempt: Int): Boolean = {
    val permanentOk = ((t.tx * 4 + t.ty) % 5) != 0
    val transient = (t.tx + t.ty) % 3 == 0
    permanentOk && !(transient && attempt == 1)
  }

  def tileTasks(s: SparkSession): Dataset[TileTask] = {
    import s.implicits._
    Tables.boundaries(s).select("tile_id", "tx", "ty").as[TileTask]
  }

  /** O1: one worker call per tile via mapPartitions (the
    * ThreadPoolExecutor fan-out of processor.py:127-149). */
  def runAttempt(s: SparkSession, tiles: Dataset[TileTask], attempt: Int): Dataset[WorkerResult] = {
    import s.implicits._
    tiles.mapPartitions(_.map(t =>
      WorkerResult(t.tile_id, workerSucceeds(t, attempt), attempt)))
  }

  /** Fan-out over an ARBITRARY worker function with exception capture: a
    * worker that throws marks ITS tile failed instead of failing the
    * Spark task (and with it every tile in the partition) — the
    * reference wraps each future the same way
    * (processor.py:106-123, test_processor.py:45-57). */
  def runAttemptSafe(s: SparkSession, tiles: Dataset[TileTask], attempt: Int)(
      work: (TileTask, Int) => Boolean): Dataset[WorkerResult] = {
    import s.implicits._
    tiles.mapPartitions(_.map(t =>
      WorkerResult(t.tile_id,
        scala.util.Try(work(t, attempt)).getOrElse(false), attempt)))
  }

  /** O3: semantic retry loop — failed tiles re-run up to `maxAttempts`
    * (processor.py:89-125; --restart, cli.py:66-71). The failed set never
    * visits the driver: each round's pending set is a `left_semi` join of
    * the tile Dataset against the failed results (the reference collects
    * a Python list, processor.py:106-123 — fine at its tile counts, a
    * driver bottleneck at 100x; the semi join costs the same shuffle the
    * retry attempt needs anyway). */
  def runWithRetry(s: SparkSession, maxAttempts: Int): Dataset[WorkerResult] =
    runWithRetry(s, tileTasks(s), maxAttempts)

  def runWithRetry(s: SparkSession, tiles: Dataset[TileTask],
      maxAttempts: Int): Dataset[WorkerResult] = {
    import s.implicits._
    var pending = tiles
    var finished: Dataset[WorkerResult] = s.emptyDataset[WorkerResult]
    var attempt = 1
    while (attempt <= maxAttempts && !pending.isEmpty) {
      // eager localCheckpoint, not persist: the workers run once per round
      // for the union, the semi join and the isEmpty probe, and the result
      // owns its rounds as checkpoint leaves, so the call caches nothing
      val res = runAttempt(s, pending, attempt).localCheckpoint()
      val lastRound = attempt == maxAttempts
      finished = finished.union(res.filter(r => r.ok || lastRound))
      val failed = res.filter(!_.ok).toDF().select("tile_id")
      pending = pending.join(failed, Seq("tile_id"), "left_semi").as[TileTask]
      attempt += 1
    }
    finished
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1 — parallel fan-out map, single attempt
    "o1_fanout_workers" -> ((s, _) =>
      runAttempt(s, tileTasks(s), attempt = 2).toDF()
        .select("tile_id", "ok")),

    // O2 — per-tile external process via RDD pipe (run_subprocess,
    // worker.py:694-751; here a real child `sed` per partition)
    "o2_pipe_worker" -> ((s, _) => {
      import s.implicits._
      val lines = Tables.boundaries(s).select("tile_id").as[String]
        .rdd.pipe(Seq("sed", "s/$/,ok/"))
      lines.toDF("line").select(
        split(col("line"), ",").getItem(0).as("tile_id"),
        split(col("line"), ",").getItem(1).as("status"))
    }),

    // O3 — retry loop: transient failures clear on attempt 2, permanent
    // ones survive; attempts records when each tile settled
    "o3_retry_loop" -> ((s, _) => runWithRetry(s, maxAttempts = 2).toDF()),

    // K2 — per-tile export: partitionBy(tile) parquet sink + read-back
    // (ogr2ogr per-tile GPKG export, worker.py:646-669)
    "k2_pertile_export" -> ((s, dir) => {
      val out = Fs.scratch("k2", dir)
      Tables.features(s, dir)
        .select("o_orderkey", "o_totalprice", "tile_id")
        .write.mode("overwrite").partitionBy("tile_id").parquet(out)
      s.read.parquet(out).groupBy("tile_id")
        .agg(count(lit(1)).as("n_features"),
          // order-independent money sum — see Exact
          Exact.decSum(col("o_totalprice"), 2).as("total_price"))
    })
  )

  def oracles: Map[String, String] = Map(
    "o1_fanout_workers" -> Sql.query(Sql.boundaries)(
      """SELECT tile_id, ((tx*4+ty) % 5) <> 0 AS ok FROM boundaries"""),

    "o2_pipe_worker" -> Sql.query(Sql.boundaries)(
      "SELECT tile_id, 'ok' AS status FROM boundaries"),

    "o3_retry_loop" -> Sql.query(Sql.boundaries)(
      """SELECT tile_id,
        |       ((tx*4+ty) % 5) <> 0 AS ok,
        |       CAST(CASE WHEN ((tx*4+ty) % 5) <> 0 AND (tx+ty) % 3 <> 0
        |            THEN 1 ELSE 2 END AS INT) AS attempts
        |FROM boundaries""".stripMargin),

    "k2_pertile_export" -> Sql.query(Sql.feat)(
      """SELECT tile_id, COUNT(*) AS n_features,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_price
        |FROM feat GROUP BY tile_id""".stripMargin)
  )
}
