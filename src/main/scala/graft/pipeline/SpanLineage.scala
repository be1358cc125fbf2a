package graft.pipeline

import graft.core._
import org.apache.spark.sql.Dataset

/** One extracted-text span: the half-open input span `[node_begin,
  * node_end)` of a text node and the half-open span `[out_begin, out_end)`
  * its (optionally transformed) body occupies in the extracted output.
  */
final case class SpanRow(
    conv_id: String,
    turn_idx: Int,
    node_begin: Int,
    node_end: Int,
    out_begin: Int,
    out_end: Int
)

/** Input-position → output-position lineage for the extraction pipeline,
  * built on the core's NodeConsumer visitor tap (reference:
  * service/Transformer.java:56-65, tapped by TextTransformer.java:55-57) —
  * the position-mapping capability the reference library exists for, emitted
  * as a table at corpus scale.
  *
  * Scale shape: strictly per-turn (`mapPartitions` flatMap, no shuffle);
  * span rows are 4 ints + the key — orders of magnitude smaller than the
  * text they index.
  */
object SpanLineage {

  /** Pure core: strip `text` and return (output, spans). Concatenating
    * `output[out_begin, out_end)` over the spans in order reconstructs the
    * output exactly; with no transform function each output slice equals its
    * input slice `text[node_begin, node_end)`.
    */
  def stripSpans(text: String,
                 cfg: Map[String, TagAttributes],
                 markup: ExtractJob.Markup = ExtractJob.BBCode,
                 fn: Transform.TransformFunction = null): (String, Vector[(Int, Int, Int, Int)]) = {
    val doc = markup match {
      case ExtractJob.BBCode => BBCodeParser.parse(text, cfg)
      case ExtractJob.Html   => HtmlParser.parse(text, cfg)
    }
    val spans = Vector.newBuilder[(Int, Int, Int, Int)]
    var cursor = 0
    val consumer: Transform.NodeConsumer = (node, result, _) => node match {
      case t: TextNode =>
        spans += ((t.begin, t.end, cursor, cursor + result.length))
        cursor += result.length
      case _ =>
    }
    val out = Transform.textTransform(doc, fn = fn, consumer = consumer)
    (out, spans.result())
  }

  /** Pure core, render path: BBCode-parse `text`, render to HTML through
    * the given renderer registry (escape fn applied to text-node bodies),
    * and return (html, spans): for each text node, its input span
    * `[node_begin, node_end)` and the half-open span its transformed body
    * occupies in the FINAL rendered HTML — the
    * FreeMarkerTransformer.java:96-122 half of the reference's
    * position-mapping story (the strip half is [[stripSpans]]).
    *
    * Built on the same NodeConsumer tap (core/Render.scala:59): the
    * consumer assembles per-node (output, spans) bottom-up as the renderer
    * fires, so rendering logic is not duplicated here. A tag's rendered
    * prefix before its body (e.g. `<strong>`) is measured by probing the
    * renderer once with a sentinel body — renderer prefixes are
    * body-independent for every bundled rendering, and a renderer that
    * drops its body yields no spans for that subtree. For renderers that
    * splice the body more than once (url without an attribute), spans map
    * into the FIRST occurrence.
    */
  def renderSpans(text: String,
                  cfg: Map[String, TagAttributes],
                  renderers: Map[String, Render.TagRenderer] = BBCodeToHtml.renderers,
                  fn: Transform.TransformFunction = Transform.htmlEscapePlain)
      : (String, Vector[(Int, Int, Int, Int)]) = {
    val doc = BBCodeParser.parse(text, cfg)
    val acc = new java.util.IdentityHashMap[Node, (String, Vector[(Int, Int, Int, Int)])]()
    // NUL delimiters make an attribute-value collision (an attr printed
    // before the body that happens to contain the sentinel) practically
    // impossible
    val sentinel = "\u0000graft-body\u0000"

    // Concatenate the already-consumed outputs of `children` in order,
    // shifting each child's spans by the running cursor. A child absent
    // from `acc` was emitted raw (no renderer / failed predicate): its
    // output is its source slice and it contributes no spans.
    def assemble(children: collection.Seq[Node]): (String, Vector[(Int, Int, Int, Int)]) = {
      val sb = new java.lang.StringBuilder
      val spans = Vector.newBuilder[(Int, Int, Int, Int)]
      children.foreach { c =>
        val (out, ss) = Option(acc.get(c)).getOrElse(c match {
          case t: TagNode  => (t.rawString, Vector.empty[(Int, Int, Int, Int)])
          case t: TextNode => (t.body, Vector.empty[(Int, Int, Int, Int)])
        })
        val base = sb.length
        ss.foreach { case (nb, ne, ob, oe) => spans += ((nb, ne, ob + base, oe + base)) }
        sb.append(out)
      }
      (sb.toString, spans.result())
    }

    val consumer: Transform.NodeConsumer = (node, result, _) => node match {
      case t: TextNode =>
        acc.put(t, (result, Vector((t.begin, t.end, 0, result.length))))
      case tag: TagNode =>
        val (_, childSpans) = assemble(tag.children)
        val prefixLen = renderers.get(TagAttributes.lookupKey(tag.name))
          .map(r => r(tag, sentinel).indexOf(sentinel)).getOrElse(-1)
        val spans =
          if (prefixLen < 0) Vector.empty[(Int, Int, Int, Int)]
          else childSpans.map { case (nb, ne, ob, oe) => (nb, ne, ob + prefixLen, oe + prefixLen) }
        acc.put(tag, (result, spans))
    }

    val out = Render.transform(doc, renderers, strict = false, fn = fn, consumer = consumer)
    val (_, spans) = assemble(doc.children)
    (out, spans)
  }

  /** The render-path lineage table: one row per text node per turn, output
    * positions indexed into the rendered HTML. Same per-turn zero-shuffle
    * shape as [[spanTable]].
    */
  def renderSpanTable(turns: Dataset[Turn],
                      cfg: Map[String, TagAttributes] = null): Dataset[SpanRow] = {
    val resolvedCfg = if (cfg != null) cfg else ExtractJob.defaultCfg(ExtractJob.BBCode)
    spanRows(turns)(renderSpans(_, resolvedCfg)._2)
  }

  /** The lineage table for a transcript Dataset: one row per text node per
    * turn. `cfg = null` resolves per markup dialect.
    */
  def spanTable(turns: Dataset[Turn],
                cfg: Map[String, TagAttributes] = null,
                markup: ExtractJob.Markup = ExtractJob.BBCode): Dataset[SpanRow] = {
    val resolvedCfg = if (cfg != null) cfg else ExtractJob.defaultCfg(markup)
    spanRows(turns)(stripSpans(_, resolvedCfg, markup)._2)
  }

  /** One row per span of each non-null turn text, per partition, no shuffle. */
  private def spanRows(turns: Dataset[Turn])(
      spans: String => Seq[(Int, Int, Int, Int)]): Dataset[SpanRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.mapPartitions { iter =>
      iter.flatMap { t =>
        if (t.text == null) Iterator.empty
        else spans(t.text).iterator.map { case (nb, ne, ob, oe) =>
          SpanRow(t.conv_id, t.turn_idx, nb, ne, ob, oe)
        }
      }
    }
  }
}
