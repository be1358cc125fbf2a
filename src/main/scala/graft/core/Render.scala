package graft.core

import graft.core.Transform.{NodeConsumer, TransformFunction}

/** Template-driven Document→String transformer with a native renderer
  * registry replacing the reference's FreeMarker engine
  * (reference: service/FreeMarkerTransformer.java:36-136). Children render
  * first (bottom-up); the rendered body plus the tag's simple `attribute`
  * and complex `attributes` feed the tag's renderer. A tag with no renderer
  * passes through as its raw source slice — or throws in `strict` mode. A
  * tag failing the predicate emits its raw slice (whole subtree
  * untransformed).
  *
  * Renderer output shapes follow the reference's 25 bundled templates
  * (reference: the 25 .ftl files under resources/.../templates/bbCode)
  * emitting canonical
  * single-space HTML; the reference's own test suite compares rendered HTML
  * whitespace-insensitively (BBCodeToHTMLTransformerSpec.groovy:112), which
  * is the equality regime these shapes are pinned under.
  */
object Render {
  /** (tag, renderedBody) => html for one tag name. */
  type TagRenderer = (TagNode, String) => String

  def transform(doc: Doc,
                renderers: Map[String, TagRenderer],
                strict: Boolean = false,
                predicate: TagNode => Boolean = _ => true,
                fn: TransformFunction = null,
                consumer: NodeConsumer = null): String = {
    require(predicate != null, "A transform predicate is required")
    val build = new java.lang.StringBuilder(doc.source.length * 2)

    // index-based child loop: ArrayBuffer's inherited foreach goes through
    // the generic iterator path (profiled ~10% of the whole pipeline)
    def recurseAll(cs: scala.collection.mutable.ArrayBuffer[Node]): Unit = {
      var i = 0
      while (i < cs.length) { recurse(cs(i)); i += 1 }
    }
    def recurse(node: Node): Unit = node match {
      case textNode: TextNode =>
        var text = textNode.body
        if (fn != null) text = fn(textNode, text)
        if (consumer != null) consumer(textNode, text, text)
        build.append(text)
      case tagNode: TagNode =>
        val tagName = TagAttributes.lookupKey(tagNode.name)
        renderers.get(tagName) match {
          case Some(renderer) if predicate(tagNode) =>
            // Render children first into this builder, then lift the slice
            // out as the body (single-builder variant of the reference's
            // per-node StringBuilder; output is identical).
            val mark = build.length
            recurseAll(tagNode.children)
            val body = build.substring(mark)
            build.setLength(mark)
            val result =
              try renderer(tagNode, body)
              catch {
                case e: TransformException => throw e
                case e: Exception =>
                  throw new TransformException(
                    s"Rendering failed for tag [$tagName] body [$body]", e)
              }
            if (consumer != null) consumer(tagNode, result, body)
            build.append(result)
          case None if strict =>
            throw new TransformException(s"No template found for tag [${tagNode.name}]")
          case _ =>
            build.append(tagNode.rawString)
        }
    }

    recurseAll(doc.children)
    build.toString
  }

  /** Specialized hot path for the pipeline: render with HTML-escape fused
    * into the output builder (no per-text-node intermediate strings),
    * predicate always true, no consumer, non-strict. Output is identical to
    * `transform(doc, renderers, false, _ => true, Transform.htmlEscape(offsets, attributes))`
    * — asserted in tests.
    */
  def renderEscaped(doc: Doc, renderers: Map[String, TagRenderer],
                    offsets: Offsets, attributes: Map[String, TagAttributes]): String = {
    val build = new java.lang.StringBuilder(doc.source.length * 2)
    // per-tag lookups run millions of times per second in the pipeline:
    // a JDK HashMap + null check avoids the immutable-map descent and the
    // Option allocation per tag (the registry is identical for the call)
    val jRenderers = javaRegistry(renderers)

    def recurseAll(cs: scala.collection.mutable.ArrayBuffer[Node]): Unit = {
      var i = 0
      while (i < cs.length) { recurse(cs(i)); i += 1 }
    }
    def recurse(node: Node): Unit = node match {
      case textNode: TextNode =>
        Transform.escapeAppend(build, textNode, doc.source, textNode.begin, textNode.end,
          offsets, attributes)
      case tagNode: TagNode =>
        val renderer = jRenderers.get(TagAttributes.lookupKey(tagNode.name))
        if (renderer != null) {
          val mark = build.length
          recurseAll(tagNode.children)
          val body = build.substring(mark)
          build.setLength(mark)
          build.append(renderer(tagNode, body))
        } else {
          build.append(doc.source, tagNode.begin, tagNode.length)
        }
    }

    recurseAll(doc.children)
    build.toString
  }

  /** JDK-map view of a renderer registry, cached per registry INSTANCE
    * (identity keys: content-equality keys would hash all 27 entries per
    * turn; a single mutable slot would race when two registries are live
    * concurrently and could hand one caller the other's map). Registries
    * are long-lived singletons in practice (BBCodeToHtml.renderers), so
    * the cache stays tiny.
    */
  private final class IdentityKey(val ref: AnyRef) {
    override def hashCode: Int = System.identityHashCode(ref)
    override def equals(o: Any): Boolean = o match {
      case k: IdentityKey => k.ref eq ref
      case _ => false
    }
  }
  /** Size bound: registries are long-lived singletons in practice, so the
    * cache never grows past a handful of entries — but strong identity keys
    * would leak forever in a long-lived executor if a caller constructed a
    * fresh registry per call. On overflow the whole (tiny) cache is cleared
    * and rebuilt lazily: an O(27-entry) rebuild per lookup in the
    * pathological registry-per-call case, zero cost in the normal one.
    */
  private val registryCacheMax = 64
  private val registryCache =
    new java.util.concurrent.ConcurrentHashMap[IdentityKey, java.util.HashMap[String, TagRenderer]]()
  // last-used fast path: renders overwhelmingly reuse one long-lived
  // registry, and the CHM hash+probe per TRANSFORM call profiled at ~1% of
  // the extraction bench. A single volatile holding an immutable pair is
  // race-safe (readers see a consistent (key, map) or miss to the CHM).
  @volatile private var lastRegistry: (AnyRef, java.util.HashMap[String, TagRenderer]) = null
  private def javaRegistry(renderers: Map[String, TagRenderer]): java.util.HashMap[String, TagRenderer] = {
    val last = lastRegistry
    if (last != null && (last._1 eq renderers)) return last._2
    if (registryCache.size > registryCacheMax) registryCache.clear()
    val m = registryCache.computeIfAbsent(new IdentityKey(renderers), { _ =>
      val j = new java.util.HashMap[String, TagRenderer](renderers.size * 2)
      renderers.foreach { case (k, v) => j.put(k, v) }
      j
    })
    lastRegistry = (renderers, m)
    m
  }
}

/** The built-in BBCode→HTML registry: 27 tag registrations over 25 distinct
  * renderings (`*`/`li` share item, `list`/`ul` share list), matching
  * reference: service/BBCodeToHTMLTransformer.java:49-75 and the bundled
  * template shapes.
  */
object BBCodeToHtml {
  import Render.TagRenderer

  /** Complex attributes render as ` k="v"` pairs in insertion order
    * (reference: templates/bbCode/_macros.ftl).
    */
  private def attrs(tag: TagNode): String =
    if (!tag.hasAttributes) ""
    else tag.attributes.iterator.map { case (k, v) => s""" $k="$v"""" }.mkString

  private def simple(open: String, close: String): TagRenderer =
    (_, body) => open + body + close

  private def withAttrs(name: String): TagRenderer =
    (tag, body) => s"<$name${attrs(tag)}>$body</$name>"

  /** `<div align="...">` family (left.ftl / center.ftl / right.ftl). */
  private def aligned(align: String): TagRenderer =
    (tag, body) => s"""<div align="$align"${attrs(tag)}>$body</div>"""

  /** Span with a style derived from the simple attribute when present
    * (color.ftl / font.ftl).
    */
  private def styledSpan(styleKey: String): TagRenderer =
    (tag, body) =>
      if (tag.attribute != null) s"""<span style="$styleKey: ${tag.attribute}">$body</span>"""
      else s"<span>$body</span>"

  val renderers: Map[String, TagRenderer] = Map(
    "b" -> simple("<strong>", "</strong>"),
    "i" -> simple("<em>", "</em>"),
    "u" -> simple("<u>", "</u>"),
    "sub" -> simple("<sub>", "</sub>"),
    "sup" -> simple("<sup>", "</sup>"),
    // strikethrough.ftl: attrs precede the style attribute
    "s" -> ((tag, body) =>
      s"""<span${attrs(tag)} style="text-decoration: line-through">$body</span>"""),
    "*" -> withAttrs("li"),
    "li" -> withAttrs("li"),
    "list" -> withAttrs("ul"),
    "ul" -> withAttrs("ul"),
    "ol" -> withAttrs("ol"),
    "table" -> withAttrs("table"),
    "tr" -> withAttrs("tr"),
    "td" -> withAttrs("td"),
    "th" -> withAttrs("th"),
    // url.ftl: attrs then href (simple attribute, else the body)
    "url" -> ((tag, body) => {
      val href = if (tag.attribute != null) tag.attribute else body
      s"""<a${attrs(tag)} href="$href">$body</a>"""
    }),
    // email.ftl: href first (mailto:attribute, else the body), then attrs
    "email" -> ((tag, body) => {
      val href = if (tag.attribute != null) s"mailto:${tag.attribute}" else body
      s"""<a href="$href"${attrs(tag)}>$body</a>"""
    }),
    // image.ftl: a simple attribute `WxH` expands to width/height
    "img" -> ((tag, body) => {
      val attrPart =
        if (tag.attribute == null) ""
        else if (tag.attribute.contains("x")) {
          val parts = tag.attribute.split("x", -1)
          s""" width="${parts(0)}" height="${parts(1)}""""
        } else s" ${tag.attribute}"
      s"""<img$attrPart${attrs(tag)} src="$body">"""
    }),
    "quote" -> ((tag, body) => {
      val cite = if (tag.attribute != null) s""" cite="${tag.attribute}"""" else ""
      s"<blockquote$cite>$body</blockquote>"
    }),
    "code" -> simple(
      "<pre style=\"margin: 5px 15px 5px 15px; border: 1px dashed #2f6fab; " +
        "font-family: monospace; padding: 3px 5px 3px 5px; background-color: #f9f9f9;\">",
      "</pre>"),
    "size" -> ((tag, body) => {
      val size = if (tag.attribute != null) s""" size="${tag.attribute}"""" else ""
      s"<font$size>$body</font>"
    }),
    "color" -> styledSpan("color"),
    "font" -> styledSpan("font-family"),
    "left" -> aligned("left"),
    "center" -> aligned("center"),
    "right" -> aligned("right"),
    "noparse" -> withAttrs("div")
  )

  /** Parse + render convenience entry mirroring README.md:11-18 usage. */
  def apply(doc: Doc, strict: Boolean = false,
            fn: TransformFunction = Transform.htmlEscapePlain,
            predicate: TagNode => Boolean = _ => true,
            consumer: NodeConsumer = null): String =
    Render.transform(doc, renderers, strict, predicate, fn, consumer)
}
