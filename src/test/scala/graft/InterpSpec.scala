package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 gate: results must be invariant between codegen'd and
  * INTERPRETED execution.
  *
  * Every custom Expression with a `doGenCode` (VectorDot, Hash60,
  * PointInPoly, NfcNormalize) is two implementations of one semantics,
  * and Spark's own builtins have the same duality; codegen fallbacks
  * (wide schemas, huge methods) make the interpreted path a production
  * path at scale. [[InterpCheck]] runs its expression-risk suite under
  * `spark.sql.codegen.factoryMode=NO_CODEGEN` + `wholeStage=false` and
  * pins exact fingerprint parity with the compiled run, proving the
  * regime flip via the `*(n)` markers in the executed flagship plan.
  * The full-surface runs (interp 227/227, AQE-off 227/227) are recorded
  * audits in records/ and BENCH_NOTES.md; this spec keeps the
  * expression-risk suite green in CI.
  */
class InterpSpec extends AnyFunSuite {

  test("expression-risk suite: interpreted == codegen, byte-identical, regime proven") {
    val r = GateLauncher.run("graft.InterpCheck",
      Seq("/root/testdata/sf0.001"), "interp_parity")
    assert(r.line.contains("\"mismatched\":[]"), r.line)
    assert(r.line.contains("\"failed\":[]"), r.line)
    assert(r.line.contains("\"regime_ok\":true"), r.line)
  }

  /** minhash_array has two genuinely separate execution paths —
    * `nullSafeEval` (interpreted) and `doGenCode` (a compiled call into
    * the static helper, including the UnaryExpression null plumbing the
    * generator emits around it). The parity gate above covers it
    * end-to-end (dd14/dd2 sit in ClusterCheck.Suite); this test names
    * the expression explicitly and flips both paths in-process,
    * including the null-input branch the end-to-end queries never hit
    * (shingles are non-null by construction). */
  test("minhash_array: interpreted eval == codegen'd projection, incl. null input") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String

    assert(ClusterCheck.Suite.contains("dd14_minhash_production"),
      "the parity suites must keep exercising minhash_array end-to-end")

    val e = graft.functions.MinHashArray(
      BoundReference(0, StringType, nullable = true), 128)
    val codegen = GenerateMutableProjection.generate(Seq(e))
    for (s <- Seq("", "a", "w1 w2", "shingle text é®¬", null)) {
      val row = InternalRow(if (s == null) null else UTF8String.fromString(s))
      val interp = e.eval(row)
      val gen = codegen(row)
      if (s == null) {
        assert(interp == null, "interpreted null input must yield null")
        assert(gen.isNullAt(0), "codegen null input must yield null")
      } else {
        val ia = interp.asInstanceOf[ArrayData].toLongArray()
        val ga = gen.getArray(0).toLongArray()
        assert(ia.sameElements(ga), s"paths diverge for input '$s'")
        assert(ia.length == 128)
      }
    }
  }

  /** pq_argmin is the round-16 codegen'd loop behind nn13/nn14's PQ
    * encode (see PqArgmin's scaladoc for why the relational spellings
    * were replaced). Same duality as minhash_array: `nullSafeEval`
    * (interpreted) and `doGenCode` are two implementations of one
    * argmin, so this pins them against each other across the branch
    * space — plain argmin, exact-tie cid break, empty codebook, null
    * codebook ENTRY (skipped), and null inputs. */
  test("pq_argmin: interpreted eval == codegen'd projection, incl. ties and nulls") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._

    val vType = ArrayType(DoubleType)
    val candType = ArrayType(StructType(Seq(
      StructField("cid", LongType), StructField("cvec", vType))))
    val e = graft.functions.PqArgmin(
      BoundReference(0, vType, nullable = true),
      BoundReference(1, candType, nullable = true))
    val codegen = GenerateMutableProjection.generate(Seq(e))

    def vec(xs: Double*): ArrayData = ArrayData.toArrayData(xs.toArray)
    def entry(cid: Long, cv: Seq[Double]): InternalRow =
      new GenericInternalRow(Array[Any](cid, vec(cv: _*)))
    def cands(es: Any*): ArrayData = new GenericArrayData(es.toArray)

    val cases: Seq[(Any, Any, Any)] = Seq(
      // plain argmin: c1 is exactly v -> d2 = 0
      (vec(1.0, 0.0), cands(entry(0L, Seq(0.0, 0.0)), entry(1L, Seq(1.0, 0.0))), 1L),
      // exact distance tie (both d2 = 1.0) -> smaller cid wins
      (vec(1.0, 1.0), cands(entry(5L, Seq(0.0, 1.0)), entry(3L, Seq(1.0, 0.0))), 3L),
      // null codebook entry is skipped, not fatal
      (vec(1.0, 0.0), cands(null, entry(7L, Seq(0.0, 0.0))), 7L),
      // empty / all-null codebook -> null result
      (vec(1.0), cands(), null),
      (vec(1.0), cands(null), null),
      // null inputs -> null
      (null, cands(entry(1L, Seq(0.0))), null),
      (vec(1.0), null, null),
      // null ELEMENT in v -> null (no well-defined distance; round-17
      // guard — previously read garbage from UnsafeArrayData)
      (new GenericArrayData(Array[Any](1.0, null)),
        cands(entry(0L, Seq(0.0, 0.0))), null),
      // null element in a candidate's cvec -> that candidate is skipped
      (vec(1.0, 0.0),
        cands(
          new GenericInternalRow(Array[Any](0L,
            new GenericArrayData(Array[Any](1.0, null)))),
          entry(9L, Seq(0.0, 0.0))), 9L),
      // all candidates skipped (null cvec elements) -> null
      (vec(1.0),
        cands(new GenericInternalRow(Array[Any](0L,
          new GenericArrayData(Array[Any](null))))), null))

    for ((v, cs, expected) <- cases) {
      val row = InternalRow(v, cs)
      val interp = e.eval(row)
      val gen = codegen(row)
      assert(interp == expected, s"interpreted: got $interp, want $expected")
      if (expected == null) assert(gen.isNullAt(0), "codegen must yield null")
      else assert(!gen.isNullAt(0) && gen.getLong(0) == expected,
        s"codegen: got ${if (gen.isNullAt(0)) null else gen.getLong(0)}, want $expected")
    }

    // dimension mismatch RAISES — identically in both paths (round-17
    // guard, the fixedPointEdges precedent: a malformed codebook is an
    // error, not a silently truncated v·c against a full c·c)
    val badRow = InternalRow(vec(1.0, 0.0), cands(entry(4L, Seq(1.0))))
    val ie = intercept[IllegalArgumentException](e.eval(badRow))
    assert(ie.getMessage.contains("pq_argmin") && ie.getMessage.contains("dims"))
    val ge = intercept[IllegalArgumentException](codegen(badRow))
    assert(ge.getMessage.contains("pq_argmin") && ge.getMessage.contains("dims"))
  }
}
