package graft

import org.apache.spark.sql.functions.{array, coalesce, col, expr, lit, when}

/** GraftExtensions must make `vector_dot` a first-class SQL function at
  * SESSION BUILD time — no per-session registration call — and bind it
  * to the native codegen'd Expression, not a UDF. The shared test
  * session comes from [[Session.builder]], as every main's does. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects native vector_dot") {
    val df = spark.sql("SELECT vector_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d")
    assert(df.head().getDouble(0) == 32.0)
    // bound to the native expression → visible in the analyzed plan
    assert(df.queryExecution.analyzed.toString.contains("vectordot"),
      df.queryExecution.analyzed.toString)

    // injected h60: value-identical to the SQL md5-prefix rendering
    // (the oracle's h60Sql form, evaluated here by Spark itself)
    val h = spark.sql(
      """SELECT h60('v3:x') AS a,
        |       conv(substr(md5('v3:x'), 1, 15), 16, 10) AS b""".stripMargin)
      .head()
    assert(h.getLong(0) == h.getString(1).toLong, h.toString)

    // injected optimizer rule: intersection-emptiness test rewritten to
    // an early-exit overlap probe — only when elements are provably
    // non-null (coalesce-backed array qualifies; parquet-backed so the
    // optimizer cannot constant-fold the whole relation away)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val rewritten = docs
      .select(col("doc_id"), array(coalesce(col("lang"), lit("?"))).as("v"))
      .filter(expr("size(array_intersect(v, array('en','de'))) > 0"))
    val opt = rewritten.queryExecution.optimizedPlan.toString
    assert(opt.contains("arrays_overlap"), opt)
    assert(!opt.contains("array_intersect"), opt)
    assert(rewritten.count() ==
      docs.filter(coalesce(col("lang"), lit("?")).isin("en", "de")).count())

    // nullable-element arrays must NOT be rewritten (semantics differ
    // when a null element is present): array(nullable col) declares
    // containsNull, so the guard blocks the rule
    val guarded = docs
      .select(array(col("lang")).as("v"))
      .filter(expr("size(array_intersect(v, array('en'))) > 0"))
    val gopt = guarded.queryExecution.optimizedPlan.toString
    assert(gopt.contains("array_intersect"), gopt)

    // legacy size(null) = -1 semantics: for a NULLABLE array input the
    // two forms disagree (size-form -> false, overlap -> null), so the
    // rule must not fire; a non-nullable input still rewrites (no null
    // array can reach the node). The conf goes on a new session, never
    // on the shared one.
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    legacy.conf.set("spark.sql.legacy.sizeOfNull", "true")
    val ldocs = legacy.read.parquet(s"$Sf/documents.parquet")
    val legacyNullable = ldocs
      .select(when(col("doc_id") % 2 === 0, array(lit("en"))).as("v"))
      .filter(expr("size(array_intersect(v, array('en'))) > 0"))
    val lopt = legacyNullable.queryExecution.optimizedPlan.toString
    assert(lopt.contains("array_intersect"), lopt)
    val legacyNonNull = ldocs
      .select(array(coalesce(col("lang"), lit("?"))).as("v"))
      .filter(expr("size(array_intersect(v, array('en','de'))) > 0"))
    val nopt = legacyNonNull.queryExecution.optimizedPlan.toString
    assert(nopt.contains("arrays_overlap"), nopt)
  }

  test("Session.builder carries the shared setup every main relies on") {
    import org.apache.spark.sql.types.TimestampType
    val events = graft.sources.Tables.events(spark, Sf)
    assert(events.schema("ts").dataType == TimestampType, events.schema)
    val dot = spark.sql("SELECT vector_dot(array(1D, 2D), array(3D, 4D)) AS d")
    assert(dot.head().getDouble(0) == 11.0)
    assert(dot.queryExecution.analyzed.toString.contains("vectordot"),
      dot.queryExecution.analyzed.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a new session of the shared one resolves the injected functions before any query runs in it") {
    // nothing has run in `fresh`: the functions resolve because the
    // session was built with GraftExtensions, not because a query
    // registered them
    val fresh = spark.newSession()
    val decomposed = "e\u0301" // e + combining acute; its NFC form is \u00e9
    val row = fresh.sql(
      s"""SELECT vector_dot(array(1D, 2D), array(3D, 4D)) AS d,
         |       h60('x') = CAST(conv(substr(md5('x'), 1, 15), 16, 10) AS BIGINT) AS h,
         |       st_relate_rect(0, 4, 10, 6, 4, 0, 6, 10, '212101212') AS r,
         |       nfc_normalize('$decomposed') AS n""".stripMargin).head()
    assert(row.getDouble(0) == 11.0, row)
    assert(row.getBoolean(1), row)
    assert(row.getBoolean(2), row)
    assert(row.getString(3) == "\u00e9", row)

    // and the optimizer rule is on the shared session itself
    val opt = spark.read.parquet(s"$Sf/documents.parquet")
      .select(array(coalesce(col("lang"), lit("?"))).as("v"))
      .filter(expr("size(array_intersect(v, array('en'))) > 0"))
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("arrays_overlap"), opt)
  }

  test("spatial SQL surface: st_relate_rect / st_covers_rect / rect_de9im") {
    // the reference's J4 predicate, written AS SQL — the form its
    // users write (tileconfig.py:587-593), over the rectangle model
    val row = spark.sql(
      """SELECT st_relate_rect(0, 4, 10, 6, 4, 0, 6, 10, '212101212') AS crossing,
        |       st_relate_rect(0, 0, 10, 10, 2, 2, 8, 8, '212101212') AS contained,
        |       st_covers_rect(0, 0, 10, 10, 2, 2, 8, 8) AS covers,
        |       rect_de9im(0, 0, 1, 1, 1, 1, 2, 2) AS corner""".stripMargin)
      .head()
    assert(row.getBoolean(0))          // plus-sign crossing matches
    assert(!row.getBoolean(1))         // containment does not
    assert(row.getBoolean(2))          // but covers does
    assert(row.getString(3) == "FF2F01212") // corner touch matrix
    // literal coordinates → the expansion is foldable: the whole
    // predicate constant-folds away in the optimized plan
    val folded = spark.sql(
      "SELECT st_covers_rect(0, 0, 10, 10, 2, 2, 8, 8) AS c")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("true"), folded)
    // the pattern is plan-time structure, not data: non-literal rejected
    val err = intercept[Exception] {
      spark.sql("SELECT st_relate_rect(0, 0, 1, 1, 0, 0, 1, 1, repeat(string(rand()), 9))")
        .head()
    }
    assert(err.getMessage.contains("literal"), err.getMessage)
  }
}
