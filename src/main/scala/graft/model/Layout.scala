package graft.model

import org.apache.spark.sql.SparkSession

/** Single source of truth for write-once layout widths (bucket counts,
  * range-partition counts). Rule: the width should track the CLUSTER, not
  * be a hardcoded constant — buckets can be coalesced but never split, so
  * a fixed 8 caps every future consumer join at 8 tasks forever.
  *
  * `sparkContext.defaultParallelism` is the right default under local[N]
  * (fixed = N) but is TIME-VARYING on a real cluster with dynamic
  * allocation: it reflects currently-registered executor cores and can be
  * tiny right after startup, which would silently bake a narrow layout.
  * Deployments therefore pin the width explicitly via the
  * `SPARK_GRAFT_LAYOUT_BUCKETS` env knob; defaultParallelism is only the
  * fallback.
  */
object Layout {
  val EnvKnob = "SPARK_GRAFT_LAYOUT_BUCKETS"

  /** Bucket/partition width for persisted layouts: explicit knob first,
    * defaultParallelism fallback. A SET-but-invalid knob (non-numeric,
    * zero, negative) FAILS rather than falling back: the knob exists
    * precisely to prevent silently baking a narrow layout, so a typo'd
    * value reverting to the time-varying default would defeat it without
    * a trace in a write-once artifact. */
  def buckets(s: SparkSession,
      env: String => Option[String] = sys.env.get): Int =
    env(EnvKnob) match {
      case None => s.sparkContext.defaultParallelism
      case Some(raw) =>
        val n = raw.trim.toIntOption.getOrElse(0)
        require(n > 0, s"$EnvKnob must be a positive integer, got '$raw'")
        n
    }

  /** Collision-free identifier component for a corpus directory, used in
    * per-corpus layout table names and scratch dir names ([[Fs]]).
    * Sanitizing alone is lossy — "/data/sf0.1" and "/data/sf0_1" both
    * map to "_data_sf0_1", so the second corpus would silently read the
    * first corpus's layout. The appended MD5 prefix of the RAW string
    * keeps two distinct dirs on distinct layouts; deterministic across
    * JVMs (unlike String.hashCode, which is 32 bits and only *currently*
    * stable, MD5 is specified). */
  def dirKey(dir: String): String = {
    val sanitized = dir.replaceAll("[^A-Za-z0-9]", "_")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.take(4).map(b => f"$b%02x").mkString
    s"${sanitized}_$hex"
  }
}
