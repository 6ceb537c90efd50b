package flowbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) =
    Span(id, parent, s"s$id", s, e, "run")

  test("self time subtracts the children's covered interval") {
    val p = span(1, 0, 0, 100)
    assert(Span.selfTimeNs(p, Nil) === 100)
    assert(Span.selfTimeNs(p, Seq(span(2, 1, 10, 30), span(3, 1, 50, 60))) === 70)
  }

  test("overlapping children are counted once") {
    val p = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 50), span(4, 1, 45, 55))
    assert(Span.selfTimeNs(p, kids) === 55)
  }

  test("parts of children outside the parent are ignored") {
    val p = span(1, 0, 100, 200)
    val kids = Seq(span(2, 1, 50, 120), span(3, 1, 190, 300), span(4, 1, 300, 400))
    assert(Span.selfTimeNs(p, kids) === 70)
  }

  test("nested spans record their parent and run id; disabled spans record nothing") {
    val tr = new Tracer(true, "r1")
    val v = tr.span("outer") {
      tr.span("inner")(Thread.sleep(2))
      tr.span("inner")(41) + 1
    }
    assert(v === 42)
    val outer = tr.named("outer").head
    val inner = tr.named("inner")
    assert(inner.size === 2 && inner.forall(_.parent == outer.id))
    assert(outer.parent === 0 && tr.all.forall(_.runId == "r1"))
    assert(Span.selfTimeNs(outer, inner) <= outer.durNs - inner.head.durNs)

    val off = new Tracer(false, "r2")
    assert(off.span("x")(7) === 7 && off.all.isEmpty)
  }

  test("spans are written as one JSON object per line") {
    val tr = new Tracer(true, "run \"q\"")
    tr.span("a")(tr.span("b")(()))
    val dir = Files.createTempDirectory("flowbench-spans")
    val path = dir.resolve("x/spans.jsonl")
    tr.writeJsonl(path)
    val lines = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      .split("\n").toSeq
    assert(lines.size === 2)
    val objs = lines.map(Json.Mapper.readTree)
    assert(objs.map(_.get("run_id").asText()) === Seq("run \"q\"", "run \"q\""))
    assert(objs.map(_.get("name").asText()) === Seq("a", "b"))
    assert(objs(1).get("parent").asInt() === objs.head.get("id").asInt())
    assert(objs.forall(_.get("self_ns").asLong() >= 0))
  }
}
