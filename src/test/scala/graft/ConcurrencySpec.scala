package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 gate: the full query surface with N=4 queries in flight at
  * once on one engine process must be byte-identical to sequential.
  *
  * Every other gate runs queries one at a time; a shared engine runs
  * them concurrently, where the shared build-once state (Cached's
  * persisted relations and build-once layouts, fixture writers, the
  * JDBC proxy server) is exactly what races. Like every Parity gate, it
  * also fails if a relation is still cached after Cached.releaseAll() or
  * the session conf changed. [[ConcurrencyCheck]]
  * work-steals the surface across its 4 workers (session clone per worker,
  * FAIR scheduler pools) and pins exact fingerprint parity; the gate
  * also fails if the measured peak concurrency never reached 2 — a
  * quietly serialized run proves nothing.
  */
class ConcurrencySpec extends AnyFunSuite {

  test("full surface, 4 queries in flight: concurrent == sequential, byte-identical") {
    val r = GateLauncher.run("graft.ConcurrencyCheck",
      Seq("/root/testdata/sf0.001"), "concurrency_parity")
    assert(r.line.contains("\"mismatched\":[]"), r.line)
    assert(r.line.contains("\"failed\":[]"), r.line)
    assert(r.line.contains(s""""matched":${SparkEntry.queries.size}"""), r.line)
    val peak = """"peak_in_flight":(\d+)""".r
      .findFirstMatchIn(r.line).get.group(1).toInt
    assert(peak >= 2, s"concurrency never materialized: ${r.line}")
  }
}
