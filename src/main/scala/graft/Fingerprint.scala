package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent exact result fingerprint shared by the execution-
  * invariance gates (through [[Parity]]: [[ClusterCheck]] — multi-JVM,
  * [[SpillCheck]] — forced-spill, [[InterpCheck]], [[ExecutorLossCheck]],
  * [[ConcurrencyCheck]]; directly: [[RetryCheck]], [[StreamCrashCheck]])
  * and the benchmark's per-job checks: row count +
  * bit_xor + wrapping SUM of xxhash64 over all columns. Exactness is
  * the point: the gated queries are deterministic by construction (the
  * DuckDB oracle hash-checks them), so ANY bit of divergence between
  * two execution regimes is a defect in the regime, not noise.
  *
  * Why both xor AND sum: xor alone sees only the PARITY of each
  * distinct row's multiplicity — a recovery bug that double-emits one
  * row and drops two copies of another (1→3 and 3→1) preserves count
  * and xor. The wrapping mod-2^64 sum changes under any multiplicity
  * shift, and both fold orders are commutative, so the triple stays
  * order-independent while closing that blind spot. */
object Fingerprint {
  final case class Fp(n: Long, xor: Long, sum: Long)

  def of(df: DataFrame): Fp = {
    // Maps hash order-sensitively (Spark disallows hashing them by
    // default for exactly that reason) — normalize through to_json,
    // which renders map entries in insertion order deterministically
    // for these queries' construction paths; everything else feeds
    // xxhash64 natively.
    val cols = df.schema.fields.map { f =>
      if (f.dataType.isInstanceOf[MapType]) to_json(col(f.name))
      else col(f.name)
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df
      .agg(count(lit(1)).as("n"),
        coalesce(bit_xor(h), lit(0L)).as("x"),
        // sum in decimal(38,0) (no overflow for any realistic row
        // count), then wrap back to the long range explicitly
        coalesce(sum(h.cast("decimal(38,0)")), lit(0))
          .mod(lit(BigDecimal(2).pow(64))).as("s"))
      .collect()(0)
    val wrapped = r.getDecimal(2).toBigInteger.longValue()
    Fp(r.getLong(0), r.getLong(1), wrapped)
  }
}
