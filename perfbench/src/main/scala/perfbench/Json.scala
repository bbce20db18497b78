package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal JSON in and out for manifests and the result file. */
object Json {
  def readFile(path: String): Map[String, Any] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try JsonMethods.parse(src.mkString).values.asInstanceOf[Map[String, Any]]
    finally src.close()
  }

  def int(v: Any): Int = v match {
    case n: BigInt => n.toInt
    case n: Number => n.intValue
    case s => s.toString.toInt
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case Some(x) => write(x)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
