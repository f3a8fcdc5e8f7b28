package graft

import graft.model.Layout

/** Contract for the persisted-layout width knob: an UNSET knob falls back
  * to defaultParallelism, a VALID knob wins, and a set-but-invalid knob
  * FAILS LOUDLY — the knob exists to stop dynamic allocation from baking
  * a narrow write-once layout, so a typo silently reverting to the
  * time-varying fallback is the exact failure mode it must not have. */
class LayoutSpec extends SparkSpec {

  test("unset knob falls back to defaultParallelism") {
    assert(Layout.buckets(spark, _ => None) ==
      spark.sparkContext.defaultParallelism)
  }

  test("valid knob wins over the fallback") {
    assert(Layout.buckets(spark, _ => Some("96")) == 96)
    assert(Layout.buckets(spark, _ => Some(" 128 ")) == 128)
  }

  test("set-but-invalid knob raises, naming the env var") {
    for (bad <- Seq("0", "-4", "-3", "abc", "", "12.5", "1.5", "1e3")) {
      val e = intercept[IllegalArgumentException](
        Layout.buckets(spark, _ => Some(bad)))
      assert(e.getMessage.contains(Layout.EnvKnob), s"'$bad': ${e.getMessage}")
      assert(e.getMessage.contains(s"'$bad'"), s"'$bad': ${e.getMessage}")
    }
  }

  test("dirKey: dirs that sanitize identically get distinct keys") {
    // the r18 advice case: sanitization alone maps both of these to
    // "_data_sf0_1", and a shared key would silently alias two corpora
    // onto one write-once layout
    assert(Layout.dirKey("/data/sf0.1") != Layout.dirKey("/data/sf0_1"))
    // deterministic (it names persistent tables) and identifier-safe
    assert(Layout.dirKey("/data/sf0.1") == Layout.dirKey("/data/sf0.1"))
    assert(Layout.dirKey("/data/sf0.1").matches("[A-Za-z0-9_]+"))
  }
}
