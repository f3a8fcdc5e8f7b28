package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 gate: the query surface must survive MULTI-JVM execution.
  *
  * Everything before this round ran in one JVM (local[*]), where task
  * closures, Aggregator buffers, custom Expressions, DSv2 reader
  * factories and broadcasts never actually cross a process boundary.
  * [[ClusterCheck]] runs a 28-query representative suite (one query per
  * serialization mechanism) under `local-cluster[2,4,2048]` — two real
  * forked executor JVMs — and pins each result's order-independent
  * exact fingerprint equal to the in-process `local[8]` run. The
  * full-surface runs (zero exclusions since the graft.jdbc proxy) and
  * the driver-heap-bounded run are recorded audits in records/ and
  * BENCH_NOTES.md; this spec keeps the representative suite green in CI.
  *
  * Subprocess because one JVM can hold only one SparkContext and this
  * suite's siblings share a live local[4] context; SPARK_HOME /
  * SPARK_SCALA_VERSION must reach the Spark launcher or executor
  * command construction fails ("Cannot find any build directories" —
  * see tools/graft_java.sh). GateLauncher handles all of that.
  */
class LocalClusterSpec extends AnyFunSuite {

  test("28-query serialization surface: local-cluster == local, byte-identical") {
    val r = GateLauncher.run("graft.ClusterCheck",
      Seq("/root/testdata/sf0.01"), "cluster_parity")
    assert(r.line.contains("\"mismatched\":[]"), r.line)
    assert(r.line.contains("\"failed\":[]"), r.line)
    assert(r.line.contains(s""""matched":${ClusterCheck.Suite.size}"""), r.line)
  }
}
