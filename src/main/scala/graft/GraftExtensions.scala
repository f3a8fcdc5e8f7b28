package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Hash60, NfcNormalize, PointInPoly, PqArgmin, RectRelate, VectorDot}

/** The engine's native SQL functions and optimizer rule, declared once.
  * Every graft session gets them from [[Session.builder]]; a cluster
  * user sets `spark.sql.extensions=graft.GraftExtensions`. This is the
  * only registration path: a session built without it does not resolve
  * `vector_dot`, `h60` or the spatial functions in SQL text. The Column
  * API builds the same Expressions directly (`SimilarityOps.dot`,
  * `DedupOps.h60`), never through the function registry.
  *
  * This is the SparkSessionExtensions slot the reference fills with its
  * plugin registry (tile_processor/controller.py:146-166): engine
  * capabilities declared once at startup, visible to every query.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs(0), exprs(1))))
    // the portable 60-bit content hash every dedup/sampling decision
    // uses, as a first-class SQL function (same codegen'd Expression as
    // the Column API's DedupOps.h60)
    ext.injectFunction((
      FunctionIdentifier("h60"),
      new ExpressionInfo(classOf[Hash60].getName, "h60"),
      (exprs: Seq[Expression]) => Hash60(exprs.head)))
    // Unicode NFC normalization (UAX #15 via the JDK) — step zero of
    // text dedup; DuckDB's nfc_normalize is the oracle counterpart
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    // exact integer ray-cast containment for the non-rectangular
    // geometry family — the codegen'd hot loop behind p15/j14
    ext.injectFunction((
      FunctionIdentifier("point_in_poly"),
      new ExpressionInfo(classOf[PointInPoly].getName, "point_in_poly"),
      (exprs: Seq[Expression]) => PointInPoly(exprs(0), exprs(1), exprs(2))))
    // PQ nearest-codeword assignment as a codegen'd per-row loop — the
    // encode step of the nn13/nn14 IVF-PQ family (see PqArgmin's
    // scaladoc for the measured failure modes of the relational forms)
    ext.injectFunction((
      FunctionIdentifier("pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "pq_argmin"),
      (exprs: Seq[Expression]) => PqArgmin(exprs(0), exprs(1))))
    // the reference's spatial SQL surface (tileconfig.py:591-592) for
    // the rectangle geometry model: ST_Relate / ST_Covers / the raw
    // DE-9IM matrix as SQL functions. Each expands at RESOLUTION time
    // into the same plain comparison tree RectRelate builds for the
    // Column API — fully foldable/pushable/codegen'd, no UDF.
    RectRelate.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(RectRelate.getClass.getName, name),
        builder))
    }
    // optimizer tier: emptiness tests on array intersections become
    // early-exit overlap probes (see the rule's exactness guard)
    ext.injectOptimizerRule(_ => graft.plans.ArraysOverlapRewrite)
  }
}
