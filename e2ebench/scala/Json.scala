package graft.e2ebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON writing for the files the harness hands to `run.py`. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A finite number in full precision; non-finite values become null so
    * the reader flags them instead of parsing invalid JSON. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  def writeLines(path: String, lines: Seq[String]): Unit =
    write(path, lines.map(_ + "\n").mkString)
}
