package graft.model

/** Validated env-knob parsing — the [[Layout]] rule generalized to every
  * numeric knob: an UNSET knob silently takes the default, but a
  * SET-but-invalid value (non-numeric, zero, negative) FAILS loudly,
  * naming the knob and the offending value. Knobs exist to override a
  * default deliberately; a typo silently reverting to that default is
  * the one failure mode they must not have (a salt width of 0 would
  * degenerate the shuffle layout — it must never pass parsing).
  */
object Knob {

  /** Strictly positive integer knob: default when unset, loud
    * IllegalArgumentException when set but not a positive integer. */
  def posInt(name: String, default: => Int,
      env: String => Option[String] = sys.env.get): Int =
    env(name) match {
      case None => default
      case Some(raw) =>
        val n = try raw.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$name must be a positive integer, got '$raw'")
        }
        require(n > 0, s"$name must be a positive integer, got '$raw'")
        n
    }
}
