package perfbench

/** The few JSON shapes the benchmark writes, and a reader for the flat
  * `expected.json` the generator writes. */
object Json {
  sealed trait V
  final case class Str(s: String) extends V
  final case class Num(d: Double) extends V
  final case class Bool(b: Boolean) extends V
  case object Null extends V
  final case class Arr(xs: Seq[V]) extends V
  final case class Obj(kv: Seq[(String, V)]) extends V

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Whole numbers print without a fraction; others with every digit
    * Double.toString gives. */
  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: V): String = v match {
    case Str(s) => quote(s)
    case Num(d) => num(d)
    case Bool(b) => b.toString
    case Null => "null"
    case Arr(xs) => xs.map(render).mkString("[", ", ", "]")
    case Obj(kv) => kv.map { case (k, x) => quote(k) + ": " + render(x) }
      .mkString("{", ", ", "}")
  }

  /** Parse the generator's JSON (objects, strings, numbers) through the
    * Jackson bundled with Spark. */
  def parse(text: String): Any = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) {
        val it = n.fields()
        val b = Map.newBuilder[String, Any]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> conv(e.getValue) }
        b.result()
      } else if (n.isArray) {
        val b = Seq.newBuilder[Any]
        n.elements().forEachRemaining(x => b += conv(x))
        b.result()
      } else if (n.isNumber) n.asDouble()
      else n.asText()
    conv(m.readTree(text))
  }
}
