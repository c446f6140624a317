package perfbench

/** Just enough JSON for the harness's records: ordered objects, arrays,
  * strings, numbers, booleans and null. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    def +(kv: (String, Any)): Obj = new Obj(fields.filterNot(_._1 == kv._1) :+ kv)
    def ++(o: Obj): Obj = o.fields.foldLeft(this)(_ + _)
    def num(k: String): Option[Double] = fields.collectFirst {
      case (`k`, v: Double) => v
      case (`k`, v: Long) => v.toDouble
      case (`k`, v: Int) => v.toDouble
    }
    def str(k: String): String = fields.collectFirst { case (`k`, v: String) => v }.orNull
    def bool(k: String): Boolean = fields.collectFirst { case (`k`, b: Boolean) => b }.getOrElse(false)
  }
  object Obj { def apply(kv: (String, Any)*): Obj = new Obj(kv) }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
