package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSuite
import graft.core.TagAttributes
import org.scalatest.funsuite.AnyFunSuite

import scala.io.Source

/** Span-lineage invariants: over the full 5,000+ golden-fixture corpus
  * (every reference test literal + harvested pages + bracket soup), the
  * emitted (input span → output span) rows must tile the strip output
  * exactly and each output slice must equal its input slice.
  */
class SpanLineageSpec extends AnyFunSuite with SparkSuite {
  private val mapper = new ObjectMapper()

  private def config(name: String): Map[String, TagAttributes] = name match {
    case "canonical" => TagAttributes.bbcodeCanonical
    case "nobr" =>
      TagAttributes.bbcodeCanonical ++ Map(
        "code" -> TagAttributes(false, true, false, false),
        "noparse" -> TagAttributes(false, true, false, false))
    case _ => Map.empty
  }

  test("spans reconstruct the strip output exactly for the whole fixture corpus") {
    val in = getClass.getResourceAsStream("/oracle_fixtures.jsonl")
    require(in != null)
    var n = 0
    for (line <- Source.fromInputStream(in, "UTF-8").getLines() if line.nonEmpty) {
      val fx = mapper.readTree(line)
      if (!fx.has("error")) {
        n += 1
        val input = fx.get("input").asText
        val markup = if (fx.get("parser").asText == "html") ExtractJob.Html else ExtractJob.BBCode
        val (out, spans) = SpanLineage.stripSpans(input, config(fx.get("config").asText), markup)
        assert(out == fx.get("strip").asText, s"id=${fx.get("id")}")
        // spans tile the output: contiguous, ordered, covering
        var cursor = 0
        spans.foreach { case (nb, ne, ob, oe) =>
          assert(ob == cursor && oe >= ob, s"id=${fx.get("id")} non-contiguous span")
          assert(out.substring(ob, oe) == input.substring(nb, ne),
            s"id=${fx.get("id")} span content mismatch")
          cursor = oe
        }
        assert(cursor == out.length, s"id=${fx.get("id")} spans don't cover output")
      }
    }
    assert(n > 5600)
  }

  test("spans with an escape transform map input spans to ESCAPED output spans") {
    import graft.core.Transform
    val in = "[b]a<b[/b] \"q\"&r"
    val (out, spans) = SpanLineage.stripSpans(in, TagAttributes.bbcodeCanonical,
      fn = Transform.htmlEscapePlain)
    assert(out == "a&lt;b &quot;q&quot;&amp;r")
    var cursor = 0
    spans.foreach { case (nb, ne, ob, oe) =>
      assert(ob == cursor)
      // each output slice is the ESCAPED form of its input slice
      val doc = new graft.core.Doc(in.toCharArray)
      val tn = new graft.core.TextNode(doc, null, nb, ne)
      assert(out.substring(ob, oe) == Transform.htmlEscapePlain(tn, in.substring(nb, ne)))
      cursor = oe
    }
    assert(cursor == out.length)
  }

  test("render spans: output slices equal escaped input slices and sit inside the rendered HTML, fixture-wide") {
    import graft.core.{BBCodeParser, BBCodeToHtml, Transform}
    val in = getClass.getResourceAsStream("/oracle_fixtures.jsonl")
    require(in != null)
    var n = 0
    for (line <- Source.fromInputStream(in, "UTF-8").getLines() if line.nonEmpty) {
      val fx = mapper.readTree(line)
      if (!fx.has("error") && fx.get("parser").asText == "bbcode") {
        n += 1
        val input = fx.get("input").asText
        val cfg = config(fx.get("config").asText)
        val (out, spans) = SpanLineage.renderSpans(input, cfg)
        // output must be byte-equal to the plain render path
        assert(out == BBCodeToHtml(BBCodeParser.parse(input, cfg)), s"id=${fx.get("id")}")
        val doc = new graft.core.Doc(input.toCharArray)
        spans.foreach { case (nb, ne, ob, oe) =>
          assert(0 <= ob && ob <= oe && oe <= out.length, s"id=${fx.get("id")} span oob")
          val tn = new graft.core.TextNode(doc, null, nb, ne)
          assert(out.substring(ob, oe) ==
            Transform.htmlEscapePlain(tn, input.substring(nb, ne)),
            s"id=${fx.get("id")} render span content mismatch at [$nb,$ne)->[$ob,$oe)")
        }
      }
    }
    assert(n > 2000)
  }

  test("render spans: wrapped, nested, and escaped positions are exact") {
    val cfg = TagAttributes.bbcodeCanonical
    val (out, spans) = SpanLineage.renderSpans("[b]hi [i]deep[/i][/b]<&", cfg)
    assert(out == "<strong>hi <em>deep</em></strong>&lt;&amp;")
    // text node "hi " at input [3,6) -> output [8,11); "deep" at [9,13) ->
    // inside <em> at 8+3+4=15..19; "<&" at [21,23) -> escaped [33,42)
    assert(spans == Vector((3, 6, 8, 11), (9, 13, 15, 19), (21, 23, 33, 42)))
  }

  test("spanTable (distributed) equals core stripSpans per turn") {
    val turns = TranscriptGen.turns(spark, 2000, seed = 42, partitions = 8)
    val rows = SpanLineage.spanTable(turns).collect()
      .groupBy(r => (r.conv_id, r.turn_idx))
      .view.mapValues(_.sortBy(_.out_begin)
        .map(r => (r.node_begin, r.node_end, r.out_begin, r.out_end)).toVector)
      .toMap
    var checked = 0
    (0L until 2000L).foreach { g =>
      val t = TranscriptGen.turnAt(g, 42)
      val (_, expected) = SpanLineage.stripSpans(t.text, TagAttributes.bbcodeCanonical)
      val actual = rows.getOrElse((t.conv_id, t.turn_idx), Vector.empty)
      assert(actual == expected, s"g=$g")
      checked += 1
    }
    assert(checked == 2000)
  }
}
