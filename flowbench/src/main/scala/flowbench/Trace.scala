package flowbench

import java.io.PrintWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed call into a layer: name, start, end, the span that caused
  * it (0 for a root) and the run it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** A span's self time: its duration minus the part of it covered by
    * its children's intervals (overlaps counted once, parts outside the
    * parent ignored).
    */
  def selfTimeNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs),
        math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}

/** Span recorder. Spans stay in memory until [[writeJsonl]]; when
  * disabled, [[span]] only runs its body. Spans opened on one thread
  * nest; the innermost open span is the parent of the next.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        synchronized {
          spans += Span(id, parent, name, start, end, runId)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new PrintWriter(Files.newBufferedWriter(path,
      StandardCharsets.UTF_8))
    val spans = all
    try spans.sortBy(_.startNs).foreach { s =>
      out.println(Json.Mapper.writeValueAsString(Json.Mapper.createObjectNode()
        .put("run_id", s.runId).put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs)
        .put("self_ns", Span.selfTimeNs(s, spans.filter(_.parent == s.id)))))
    }
    finally out.close()
  }
}

/** JSON output for the result line and the span file. */
object Json {
  val Mapper: ObjectMapper = new ObjectMapper()

  /** A number as JSON allows it: NaN and infinities are refused. */
  def num(d: Double): Double = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    d
  }
}
