package graft

/** Driver-gate caps for a spec body. */
object Caps {

  /** Runs `body` with each `graft.<gate>.cap` system property set to its
    * value, then restores the previous values. The properties are
    * JVM-wide on purpose: an operator's helper thread (the quotient
    * closure on `Dedup.onThread`) must see the forced cap too. */
  def withCaps[T](caps: (String, String)*)(body: => T): T = {
    val keys = caps.map { case (gate, _) => s"graft.$gate.cap" }
    val saved = keys.map(k => k -> sys.props.get(k))
    keys.zip(caps).foreach { case (k, (_, v)) => sys.props(k) = v }
    try body
    finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }
}
