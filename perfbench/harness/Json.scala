package perfbench

import scala.collection.mutable

/** The little JSON the harness writes: objects keep insertion order. */
sealed trait Json { def render: String }

object Json {
  final case class Str(s: String) extends Json {
    def render: String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }

  final case class Num(v: Double) extends Json {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else java.lang.Double.toString(v)
  }

  final case class Arr(items: Seq[Json]) extends Json {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }

  final class Obj extends Json {
    private val fields = mutable.LinkedHashMap[String, Json]()
    def update(k: String, v: Json): Unit = fields(k) = v
    def update(k: String, v: Double): Unit = fields(k) = Num(v)
    def update(k: String, v: String): Unit = fields(k) = Str(v)
    def render: String =
      fields.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }

  object Obj {
    def apply(kvs: (String, Json)*): Obj = {
      val o = new Obj
      kvs.foreach { case (k, v) => o(k) = v }
      o
    }
  }
}
