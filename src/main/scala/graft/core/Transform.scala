package graft.core

/** Thrown when a transformation fails: bad/missing renderer in strict mode
  * or an unknown node class (reference: service/TransformException.java).
  */
final class TransformException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

object Transform {
  /** Visitor tap invoked per transformed node: (node, result, newBody)
    * (reference: service/Transformer.java:56-65).
    */
  type NodeConsumer = (Node, String, String) => Unit

  /** Transforms a TextNode body during transformation
    * (reference: service/Transformer.java:72-81).
    */
  type TransformFunction = (TextNode, String) => String

  /** HTML escape + newline→`<br>` transform function with exact offset
    * bookkeeping (reference: Transformer.java:89-167):
    * `& → &amp; (+4)`, `< → &lt; (+3)`, `> → &gt; (+3)`, `" → &quot; (+5)`,
    * `\n`/`\r` → `<br>` (+3), an LF/CR or CR/LF pair consumed together (+2);
    * newline transform skipped when the parent tag's
    * `TagAttributes.transformNewLines` is false.
    */
  def htmlEscape(offsets: Offsets, attributes: Map[String, TagAttributes]): TransformFunction =
    (node: TextNode, original: String) => {
      val build = new java.lang.StringBuilder(original.length + 16)
      escapeAppend(build, node, original.toCharArray, 0, original.length, offsets, attributes)
      build.toString
    }

  /** Escape `src[from, until)`, the text of `node`, straight into `build`:
    * the one escape loop, shared by [[htmlEscape]] and the fused
    * `Render.renderEscaped` path, which passes the node's slice of the
    * source so no per-node string is made. Offsets are recorded at
    * `node.begin + (i - from)` for the char at `i`.
    */
  def escapeAppend(build: java.lang.StringBuilder, node: TextNode, src: Array[Char],
                   from: Int, until: Int, offsets: Offsets,
                   attributes: Map[String, TagAttributes]): Unit = {
    val shift = node.begin - from
    // Newline suppression depends only on the node's parent — resolve it
    // once per node, lazily on the first newline (0 = unknown, 1 = keep
    // newline, 2 = transform).
    var suppressState = 0
    def suppressNewlines: Boolean = {
      if (suppressState == 0) {
        val policy =
          if (node.parent != null && attributes != null) node.parent.policy(attributes) else null
        suppressState = if (policy != null && !policy.transformNewLines) 1 else 2
      }
      suppressState == 1
    }
    var i = from
    while (i < until) {
      // clean-run fast path: bulk-append the maximal escapable-free slice
      // (most text contains no escapables; per-char append dominated the
      // escape cost in pipeline profiles)
      var j = i
      var c0 = 0: Char
      while (j < until && {
        c0 = src(j)
        c0 != '&' && c0 != '<' && c0 != '>' && c0 != '"' && c0 != '\n' && c0 != '\r'
      }) j += 1
      if (j > i) {
        build.append(src, i, j - i)
        i = j
      }
      if (i >= until) return
      (src(i): @annotation.switch) match {
        case '&' =>
          build.append("&amp;")
          if (offsets != null) offsets.add(shift + i, 4)
        case '<' =>
          build.append("&lt;")
          if (offsets != null) offsets.add(shift + i, 3)
        case '>' =>
          build.append("&gt;")
          if (offsets != null) offsets.add(shift + i, 3)
        case '"' =>
          build.append("&quot;")
          if (offsets != null) offsets.add(shift + i, 5)
        case c @ ('\n' | '\r') =>
          if (suppressNewlines) {
            build.append(c)
          } else {
            if (i + 1 < until &&
                ((c == '\n' && src(i + 1) == '\r') ||
                 (c == '\r' && src(i + 1) == '\n'))) {
              if (offsets != null) offsets.add(shift + i, 2)
              i += 1
            } else if (offsets != null) {
              offsets.add(shift + i, 3)
            }
            build.append("<br>")
          }
        case c =>
          build.append(c)
      }
      i += 1
    }
  }

  /** Escape without offsets/attributes (plain variant). */
  val htmlEscapePlain: TransformFunction = htmlEscape(null, null)

  /** Tag strip / main-content extraction: DFS appending TextNode bodies
    * (optionally via the transform function); a TagNode failing the
    * predicate emits its raw source slice instead of recursing
    * (reference: service/TextTransformer.java:36-79).
    */
  def textTransform(doc: Doc,
                    predicate: TagNode => Boolean = _ => true,
                    fn: TransformFunction = null,
                    consumer: NodeConsumer = null): String = {
    val build = new java.lang.StringBuilder(doc.source.length)

    // index-based child loop: ArrayBuffer's inherited foreach goes through
    // the generic iterator path (profiled ~10% of the whole pipeline)
    def recurseAll(cs: scala.collection.mutable.ArrayBuffer[Node]): Unit = {
      var i = 0
      while (i < cs.length) { recurse(cs(i)); i += 1 }
    }
    def recurse(node: Node): Unit = node match {
      case textNode: TextNode if fn == null && consumer == null =>
        build.append(doc.source, textNode.begin, textNode.length)
      case textNode: TextNode =>
        var text = textNode.body
        if (fn != null) text = fn(textNode, text)
        if (consumer != null) consumer(textNode, text, text)
        build.append(text)
      case tagNode: TagNode =>
        if (predicate(tagNode)) recurseAll(tagNode.children)
        else build.append(doc.source, tagNode.begin, tagNode.length)
    }

    recurseAll(doc.children)
    build.toString
  }
}
