package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sources.Tables

/** Pins the timestamp-encoding contract against fixture regeneration drift.
  *
  * The driver has shipped the fixture's timestamp columns as
  * TIMESTAMP(NANOS), TIMESTAMP(MICROS, adjustedToUTC=true) and
  * TIMESTAMP(MICROS) NTZ across rounds. Two Spark surfaces hard-reject
  * TIMESTAMP_NTZ — `withWatermark` (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
  * and `unix_micros` (DATATYPE_MISMATCH) — which silently killed exactly
  * the 8 watermark/unix_micros queries in the round-9 driver run while
  * every date_trunc/window query sailed through. The rule these tests pin:
  * every session sets spark.sql.parquet.inferTimestampNTZ.enabled=false,
  * and [[Tables.normalizeTs]] covers sessions without the conf.
  */
class TimestampEncodingSpec extends SparkSpec {

  test("fixture timestamp columns read as TimestampType, never NTZ") {
    for ((table, col) <- Seq("events" -> "ts", "orders" -> "o_orderdate",
        "lineitem" -> "l_shipdate")) {
      val dt = Tables.table(spark, Sf, table).schema(col).dataType
      assert(dt == TimestampType, s"$table.$col read as $dt")
    }
  }

  test("normalizeTs casts NTZ columns to timestamp, value-identically under UTC") {
    val ntz = spark.range(3).select(col("id"),
      expr("to_timestamp_ntz('2024-03-01 12:34:56') + make_interval(0,0,0,0,0,0,id)")
        .as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val fixed = Tables.normalizeTs(ntz)
    assert(fixed.schema("ts").dataType == TimestampType)
    val micros = fixed.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(micros.head == 1709296496000000L && micros.length == 3)
  }

  test("watermark + unix_micros accept the fixture's event time end to end") {
    val ev = Tables.events(spark, Sf)
    assert(ev.select(unix_micros(col("ts"))).limit(1).count() == 1)
    val st = Tables.eventsStream(spark, Sf).withWatermark("ts", "1 hour")
    assert(st.isStreaming)
  }
}
