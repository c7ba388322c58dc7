package perfbench

/** Minimal JSON rendering for result lines and truth sidecars. Maps keep
  * their insertion order (pass a `ListMap` or a `Seq` of pairs) so that the
  * same values always render to the same bytes. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      sb ++= (if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] => obj(sb, m.toSeq.map { case (k, x) => k.toString -> x })
    case a: Array[_] => arr(sb, a.toSeq)
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty &&
        s.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      obj(sb, s.map { case (k: String, x) => k -> x; case other => sys.error(s"$other") })
    case s: Iterable[_] => arr(sb, s.toSeq)
    case other => sys.error(s"cannot render ${other.getClass}")
  }

  private def obj(sb: StringBuilder, kv: Seq[(String, Any)]): Unit = {
    sb += '{'
    kv.zipWithIndex.foreach { case ((k, x), i) =>
      if (i > 0) sb ++= ", "
      str(sb, k); sb ++= ": "; write(sb, x)
    }
    sb += '}'
  }

  private def arr(sb: StringBuilder, xs: Seq[Any]): Unit = {
    sb += '['
    xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb ++= ", "; write(sb, x) }
    sb += ']'
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case '\r' => sb ++= "\\r"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
