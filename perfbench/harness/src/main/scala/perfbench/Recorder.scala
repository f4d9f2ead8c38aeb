package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

/** One closed-loop operation as measured: wall time of the calls into
  * the engine, then the (untimed) output check. */
final case class OpRecord(id: Int, kind: String, key: String, ms: Double,
                          ok: Boolean, digest: String, error: String,
                          traced: Boolean)

/** A span around a call into one layer; `op` is the operation that
  * caused it, `parent` the enclosing span (-1 at an operation's root). */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int)

/** Op and span records, kept in memory and written once at the end.
  * Spans are recorded only while `tracing` is on; the closed-loop
  * client is one thread, so a stack gives each span its parent. */
final class Recorder {
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  @volatile var tracing = false
  @volatile var currentOp: Int = -1

  private val stack = scala.collection.mutable.Stack.empty[Int]
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable to Spark's job event times. */
  def nowMs(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = spans.length
      spans += Span(id, name, nowMs(), -1, stack.headOption.getOrElse(-1),
        currentOp)
      stack.push(id)
      try f
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endMs = nowMs())
      }
    }
}

object Digest {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Order-insensitive digest of collected rows. */
  def rows(rs: Seq[org.apache.spark.sql.Row]): String =
    sha256(rs.map(_.mkString("\u0001")).sorted.mkString("\n"))
}

/** Minimal JSON writer for the harness's raw result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
