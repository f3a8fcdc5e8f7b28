package graft

import graft.model.Layout

/** Contract for the parsing rule of the [[Layout.buckets]] env knob,
  * stated for any knob name the rule is ever reused for: unset falls
  * back, valid wins, set-but-invalid raises NAMING the knob. A width of
  * 0 is a silent degeneration (a divide-by-nothing shuffle layout), so
  * zero and negatives must fail parsing, never reach the operator.
  * LayoutSpec pins the same rule against the layout's own fallback. */
class KnobSpec extends SparkSpec {

  test("unset knob takes the default") {
    assert(Layout.buckets(spark, _ => None) ==
      spark.sparkContext.defaultParallelism)
  }

  test("valid knob wins, whitespace tolerated") {
    assert(Layout.buckets(spark, _ => Some("64")) == 64)
    assert(Layout.buckets(spark, _ => Some(" 8 ")) == 8)
  }

  test("set-but-invalid knob raises, naming the env var") {
    for (bad <- Seq("0", "-3", "abc", "", "1.5", "1e3")) {
      val e = intercept[IllegalArgumentException](
        Layout.buckets(spark, _ => Some(bad)))
      assert(e.getMessage.contains(Layout.EnvKnob), s"'$bad': ${e.getMessage}")
      assert(e.getMessage.contains(bad) || bad.isEmpty,
        s"'$bad': ${e.getMessage}")
    }
  }

  test("the default is not evaluated when the knob is set") {
    // the fallback reads defaultParallelism from the session; a set knob
    // must not touch it (it is time-varying, and absent with no session)
    assert(Layout.buckets(null, _ => Some("5")) == 5)
  }
}
