package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Knob

/** Contract for validated numeric env knobs ([[Knob.posInt]] — the
  * Layout rule generalized):
  * unset falls back, valid wins, set-but-invalid raises NAMING the knob.
  * A salt of 0 is a silent degeneration (a divide-by-nothing shuffle
  * layout), so zero and negatives must fail parsing, never reach the
  * operator. */
class KnobSpec extends AnyFunSuite {

  test("unset knob takes the default") {
    assert(Knob.posInt("X", 16, _ => None) == 16)
  }

  test("valid knob wins, whitespace tolerated") {
    assert(Knob.posInt("X", 16, _ => Some("64")) == 64)
    assert(Knob.posInt("X", 16, _ => Some(" 8 ")) == 8)
  }

  test("set-but-invalid knob raises, naming the env var") {
    for (bad <- Seq("0", "-3", "abc", "", "1.5", "1e3")) {
      val e = intercept[IllegalArgumentException](
        Knob.posInt("SPARK_GRAFT_SOME_KNOB", 16, _ => Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SOME_KNOB"),
        s"'$bad': ${e.getMessage}")
      assert(e.getMessage.contains(bad) || bad.isEmpty,
        s"'$bad': ${e.getMessage}")
    }
  }

  test("the default is not evaluated when the knob is set") {
    // Layout passes defaultParallelism lazily; a set knob must not
    // touch it (it can be expensive or unavailable)
    assert(Knob.posInt("X", sys.error("default forced"), _ => Some("5")) == 5)
  }
}
