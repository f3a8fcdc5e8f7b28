package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit portable content hash: the first 15 hex digits of md5(input)
  * as a non-negative long — value-identical to the SQL formulation
  * `cast(conv(substr(md5(x),1,15),16,10) as bigint)` (and to DuckDB's
  * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), which is the oracle
  * contract of the whole dedup/sampling family.
  *
  * Why an Expression: the SQL form materializes the 32-char hex STRING,
  * substrings it, and re-parses it per row — three string allocations on
  * the hottest path in the engine (every shingle, every sampling
  * decision hashes). Hash60 digests the UTF-8 bytes and folds the first
  * 7.5 bytes straight into a long; codegen calls the static helper, no
  * intermediate strings. Value equality with the SQL form is pinned in
  * PropertySpec across arbitrary inputs.
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hash60 expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Hash60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60 {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5 == first 7 bytes + high nibble of byte 8,
    * folded big-endian — exactly what parsing the hex prefix yields. */
  def hash(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xf0L) >> 4)
  }
}
