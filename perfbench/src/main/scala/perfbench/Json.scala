package perfbench

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Minimal JSON writer for the harness's output lines and trace file. */
object Json {
  def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** Doubles keep every digit (`Double.toString`); non-finite ones, which
    * JSON cannot carry, become null.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.iterator.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
