package perfbench

/** Minimal JSON writer for the run record (no dependency beyond the
  * Scala library).
  */
sealed trait Json { def render: String }

object Json {
  final case class Num(v: Double) extends Json {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Str(v: String) extends Json {
    def render: String = {
      val sb = new StringBuilder("\"")
      v.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
  }
  final case class Bool(v: Boolean) extends Json { def render: String = v.toString }
  final case class Arr(vs: Seq[Json]) extends Json {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: Seq[(String, Json)]) extends Json {
    def render: String =
      kvs.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }

  implicit def fromDouble(v: Double): Json = Num(v)
  implicit def fromLong(v: Long): Json = Num(v.toDouble)
  implicit def fromInt(v: Int): Json = Num(v.toDouble)
  implicit def fromString(v: String): Json = Str(v)
  implicit def fromBoolean(v: Boolean): Json = Bool(v)

  def obj(kvs: (String, Json)*): Obj = Obj(kvs)
  def nums(vs: Seq[Double]): Arr = Arr(vs.map(Num))
}
