package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `numHashes` seeded 60-bit hashes of one string in a single
  * evaluation: element i == [[Hash60.hash]]("i:" + input) — the same
  * portable-hash family as the SQL/oracle form, byte-for-byte
  * (PropertySpec pins the identity against Hash60 across arbitrary
  * inputs and hash counts).
  *
  * Why an Expression and not 128 `Hash60(concat(lit, col))` columns:
  * the input's UTF-8 bytes are encoded ONCE and digested under each
  * precomputed seed prefix, instead of one concat + re-encode per
  * seed per row — on dd14's hot path (every surviving shingle × 128
  * seeds) that is the difference [[MinHashSig]] was built for, kept
  * here WITHOUT the TypedImperativeAggregate execution path whose
  * sort-based fallback serializes per-row buffers (the 18 GB gen-sf10
  * spill in records/LSHSCALE_legacy_r14.jsonl). The per-doc minima over
  * this array are taken by plain declarative `min` columns — codegen'd
  * HashAggregate with a fixed-width buffer — in
  * [[graft.operators.DedupOps.wideSignatureBands]].
  *
  * Codegen calls the static helper (no boxing: the result is an
  * UnsafeArrayData over a primitive long[]), so the expression stays
  * inside whole-stage codegen.
  */
case class MinHashArray(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_array expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    MinHashArray.compute(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashArray.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashArray =
    copy(child = newChild)
}

object MinHashArray {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** UTF-8 bytes of "0:", "1:", …, "(n-1):", once per JVM per setting. */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixBytes(n: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(n, k =>
      Array.tabulate(k)(s =>
        (s.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Same fold as [[Hash60.hash]]: first 7 digest bytes + the high
    * nibble of byte 8, i.e. the first 15 hex digits as a long. */
  private def fold60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >> 4)
  }

  def compute(s: UTF8String, n: Int): ArrayData = {
    val shBytes = s.getBytes
    val d = md5.get()
    val prefixes = prefixBytes(n)
    val out = new Array[Long](n)
    var seed = 0
    while (seed < n) {
      d.reset()
      d.update(prefixes(seed))
      d.update(shBytes)
      out(seed) = fold60(d.digest())
      seed += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
