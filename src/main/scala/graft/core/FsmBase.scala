package graft.core

import java.util.ArrayDeque

/** Shared malformed-input machinery for both FSM parsers: stack-based tree
  * construction, closing-tag matching, demotion of bad tags to text nodes
  * (with offset purging), expected-unclosed-tag completion, preformatted
  * body collapse, EOF cleanup, and adjacent-text-node coalescing.
  *
  * This is a function-for-function port of the reference's semantics
  * (reference: service/AbstractParser.java:37-475); the begin/end-offset
  * bookkeeping here IS the contract that the Spark pipeline's per-turn
  * equality gate verifies.
  *
  * `java.util.ArrayDeque` is used deliberately: `peek()` on an empty deque
  * returns `null`, which several code paths rely on for "no parent".
  */
abstract class FsmBase {
  type Attrs = Map[String, TagAttributes]

  protected def doesNotRequireClosingTag(tag: TagNode, attributes: Attrs): Boolean = {
    val a = tag.policy(attributes)
    a != null && a.doesNotRequireClosingTag
  }

  protected def hasPreFormattedBody(tag: TagNode, attributes: Attrs): Boolean = {
    val a = tag.policy(attributes)
    a != null && a.hasPreFormattedBody
  }

  protected def isStandalone(tag: TagNode, attributes: Attrs): Boolean = {
    val a = tag.policy(attributes)
    a != null && a.standalone
  }

  /** Add `node` to the top-of-stack tag (adjusting the parent's body/end
    * indexes) or to the document when the stack is empty; record tag offsets
    * (AbstractParser.java:47-82).
    */
  protected def addNode(doc: Doc, attributes: Attrs, node: Node, nodes: ArrayDeque[TagNode]): Unit = {
    if (nodes.isEmpty) {
      doc.addChild(node)
      node match {
        case t: TagNode  => t.parent = null
        case t: TextNode => t.parent = null
      }
    } else {
      val current = nodes.peek()
      current.addChild(node)
      node match {
        case t: TagNode  => t.parent = current
        case t: TextNode => t.parent = current
      }
      // Parent indexes must be at least large enough to contain the child
      current.bodyEnd = node.end
      if (doesNotRequireClosingTag(current, attributes)) {
        current.end = current.bodyEnd
      }
    }

    node match {
      case tag: TagNode =>
        doc.offsets.add(tag.begin, tag.bodyBegin - tag.begin)
        if (tag.hasClosingTag) {
          doc.offsets.add(tag.bodyEnd, tag.end - tag.bodyEnd)
        }
      case _ =>
    }
  }

  /** Whether the closing tag that ends at `index` names `tag`: its name,
    * the slice between `[/` (or `</`) and the final `]`/`>`, equals the
    * tag's name ignoring case; a tag or closing tag with no name matches
    * nothing (AbstractParser.java:93-98, 122-133).
    *
    * Compares on the source `char[]` without allocating. A mismatch between
    * two ASCII chars is final: `equalsIgnoreCase` compares position by
    * position and ASCII folds only to ASCII. A mismatch involving any
    * other char falls back to `equalsIgnoreCase` on the two slices, so the
    * result is exactly that of the string comparison.
    */
  protected final def closes(doc: Doc, index: Int, tag: TagNode): Boolean = {
    val nameBegin = tag.begin + 1
    val closeBegin = tag.bodyEnd + 2
    val n = tag.nameEnd - nameBegin
    if (tag.bodyEnd == -1 || index <= closeBegin || n <= 0 || index - 1 - closeBegin != n) return false
    val src = doc.source
    var i = 0
    while (i < n) {
      val a = src(nameBegin + i)
      val b = src(closeBegin + i)
      if (a != b) {
        if (a >= 128 || b >= 128)
          return doc.getString(nameBegin, tag.nameEnd).equalsIgnoreCase(doc.getString(closeBegin, index - 1))
        if ((if (a >= 'A' && a <= 'Z') a + 32 else a) != (if (b >= 'A' && b <= 'Z') b + 32 else b)) return false
      }
      i += 1
    }
    true
  }

  /** Handle a fully-lexed closing tag name; returns the new parsingEnabled
    * flag (AbstractParser.java:135-152).
    */
  protected def handleClosingTagName(doc: Doc, attributes: Attrs, index: Int,
                                     nodes: ArrayDeque[TagNode], parsingEnabled: Boolean): Boolean = {
    if (closes(doc, index, nodes.peek())) {
      nodes.peek().end = index
      if (parsingEnabled) {
        handleCompletedTagNode(doc, attributes, index, nodes)
      } else {
        handlePreFormattedClosingTag(doc, attributes, nodes)
        return true // re-enable parsing: the no-parse tag just closed
      }
    } else if (parsingEnabled) {
      handleExpectedUnclosedTags(doc, attributes, nodes)
      handleCompletedTagNode(doc, attributes, index, nodes)
    }
    parsingEnabled
  }

  /** Pop and attach the completed top-of-stack tag; recursively demote
    * mismatches (AbstractParser.java:163-181).
    */
  protected def handleCompletedTagNode(doc: Doc, attributes: Attrs, index: Int,
                                       nodes: ArrayDeque[TagNode]): Unit = {
    if (nodes.isEmpty) return
    val current = nodes.peek()
    if (doesNotRequireClosingTag(current, attributes) || closes(doc, index, current)) {
      val tagNode = nodes.pop()
      tagNode.end = index
      addNode(doc, attributes, tagNode, nodes)
    } else {
      handleUnexpectedState(doc, attributes, index, nodes)
      handleCompletedTagNode(doc, attributes, index, nodes)
    }
  }

  /** EOF cleanup: close the open text node, the 1-char special case,
    * complete open/standalone tags, unclosed-preformatted handling,
    * trailing-text recovery, then coalesce adjacent text nodes
    * (AbstractParser.java:192-231).
    */
  protected def handleDocumentCleanup(doc: Doc, attributes: Attrs, index: Int,
                                      nodes: ArrayDeque[TagNode], textNode: TextNode): Unit = {
    if (textNode != null) {
      textNode.end = index
      addNode(doc, attributes, textNode, nodes)
    }

    // Special case of a string of length 1
    if (index == 1) {
      addNode(doc, attributes, new TextNode(doc, nodes.peek(), index - 1, index), nodes)
    }

    // Complete an open tag
    if (!nodes.isEmpty && nodes.peek().bodyBegin == -1) {
      handleOpenTagCompleted(index, nodes)
    }

    // Complete a standalone tag
    if (!nodes.isEmpty && isStandalone(nodes.peek(), attributes)) {
      val tagNode = nodes.pop()
      tagNode.end = index
      addNode(doc, attributes, tagNode, nodes)
    }

    handleUnclosedPreFormattedTag(doc, attributes, index, nodes)
    if (!nodes.isEmpty) {
      handleUnexpectedState(doc, attributes, index, nodes)
    }

    // last tag end should be equal to the index, handle remaining text
    if (doc.children.nonEmpty) {
      val last = doc.children.last
      if (last.end < index) {
        addNode(doc, attributes, new TextNode(doc, nodes.peek(), last.end, index), nodes)
      }
    }

    handleAdjacentTextNodes(doc.children)
  }

  /** The opening tag just ended: set bodyBegin/bodyEnd/end to the current
    * index (AbstractParser.java:239-244).
    */
  protected def handleOpenTagCompleted(index: Int, nodes: ArrayDeque[TagNode]): Unit = {
    val current = nodes.peek()
    current.bodyBegin = index
    current.bodyEnd = index // adjusted when body end is found
    current.end = index     // adjusted when tag is closed
  }

  /** Remove offsets with `begin <= first < end` (AbstractParser.java:253-261). */
  protected def handleRemovingOffsets(offsets: OffsetSet, begin: Int, end: Int): Unit =
    offsets.removeRange(begin, end)

  /** Demote the top-of-stack tag to a TextNode and purge its offsets
    * (AbstractParser.java:272-291). Keeps an already-set end (the
    * `textNode.end == 0` guard) so `<ul><li></ul>` keeps the li's end.
    */
  protected def handleUnexpectedState(doc: Doc, attributes: Attrs, index: Int,
                                      nodes: ArrayDeque[TagNode]): Unit = {
    val tagNode = nodes.pop()
    handleRemovingOffsets(doc.offsets, tagNode.begin, index)
    handleRemovingOffsets(doc.attributeOffsets, tagNode.begin, index)
    val textNode = tagNode.toTextNode
    if (textNode.end == 0) { // if we already have an end, keep it
      textNode.end = index
    }
    addNode(doc, attributes, textNode, nodes)
  }

  /** Attach a no-closing-tag node, deriving bodyEnd/end from its last child
    * (AbstractParser.java:327-334).
    */
  private def addNodeWithNoClosingTag(doc: Doc, attributes: Attrs, nodes: ArrayDeque[TagNode],
                                      node: TagNode): Unit = {
    if (node.children.nonEmpty) {
      node.bodyEnd = node.children.last.end
      node.end = node.bodyEnd
    }
    addNode(doc, attributes, node, nodes)
  }

  /** Collapse adjacent TextNodes produced by malformed-markup demotion
    * (AbstractParser.java:343-370).
    */
  private def handleAdjacentTextNodes(children: scala.collection.mutable.ArrayBuffer[Node]): Unit = {
    var i = 0
    var lastText: TextNode = null
    while (i < children.length) {
      children(i) match {
        case current: TextNode =>
          if (lastText != null && lastText.end == current.begin) {
            lastText.end = current.end
            children.remove(i)
          } else {
            lastText = current
            i += 1
          }
        case t: TagNode =>
          lastText = null
          handleAdjacentTextNodes(t.children)
          i += 1
      }
    }
  }

  /** Batch-complete expected-unclosed tags (`[*]`)
    * (AbstractParser.java:382-411).
    */
  protected def handleExpectedUnclosedTags(doc: Doc, attributes: Attrs,
                                           nodes: ArrayDeque[TagNode]): Unit = {
    var count = nodes.size
    while (count > 0) {
      val stack = new ArrayDeque[TagNode]()
      while (!nodes.isEmpty && doesNotRequireClosingTag(nodes.peek(), attributes)) {
        stack.push(nodes.pop())
        count -= 1
      }

      if (stack.isEmpty) return

      // if the parent node is still on the stack, set the bodyEnd
      if (!nodes.isEmpty) {
        nodes.peek().bodyEnd = stack.peekLast().end
      }

      while (!stack.isEmpty) {
        addNodeWithNoClosingTag(doc, attributes, nodes, stack.pop())
      }
      count -= 1
    }
  }

  /** Closing a preformatted tag: collapse its entire body into a single
    * TextNode (AbstractParser.java:430-436).
    */
  protected def handlePreFormattedClosingTag(doc: Doc, attributes: Attrs,
                                             nodes: ArrayDeque[TagNode]): Unit = {
    val tagNode = nodes.pop()
    tagNode.addChild(new TextNode(doc, tagNode, tagNode.bodyBegin, tagNode.bodyEnd))
    addNode(doc, attributes, tagNode, nodes)
  }

  /** Unclosed preformatted tag at EOF (AbstractParser.java:446-463). */
  private def handleUnclosedPreFormattedTag(doc: Doc, attributes: Attrs, index: Int,
                                            nodes: ArrayDeque[TagNode]): Unit = {
    if (nodes.isEmpty) return

    if (hasPreFormattedBody(nodes.peek(), attributes)) {
      addNode(doc, attributes, new TextNode(doc, nodes.peek(), nodes.peek().bodyBegin, index), nodes)
    }
    if (doesNotRequireClosingTag(nodes.peek(), attributes)) {
      handleExpectedUnclosedTags(doc, attributes, nodes)
    } else if (!closes(doc, index, nodes.peek())) {
      handleUnexpectedState(doc, attributes, index, nodes)
    }
  }
}
