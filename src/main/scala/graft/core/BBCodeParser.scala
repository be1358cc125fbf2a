package graft.core

import java.util.ArrayDeque
import scala.annotation.switch

/** Single-pass 20-state FSM over `char[]` building the offset-indexed
  * document tree. `\` escapes a following `[`; malformed markup degrades to
  * text — the parser never throws.
  *
  * State transitions are a literal port of the reference's enum FSM
  * (reference: service/BBCodeParser.java:279-535) re-expressed as an
  * `Int`-state jump table (`@switch`), which avoids megamorphic virtual
  * dispatch. The transition function is unchanged. What differs is how it
  * is driven: once a character has kept the state it found, the rest of
  * that run of side-effect-free characters is skipped in one tight loop
  * ([[skipRun]]) instead of one dispatch per character.
  */
object BBCodeParser extends FsmBase {
  // FSM states (reference: BBCodeParser.java State enum)
  private final val Start = 0
  private final val Escape = 1
  private final val TagBegin = 2
  private final val TagName = 3
  private final val SimpleAttribute = 4
  private final val SimpleSingleQuotedValue = 5
  private final val SimpleDoubleQuotedValue = 6
  private final val SimpleUnQuotedValue = 7
  private final val ComplexAttribute = 8
  private final val ComplexAttributeName = 9
  private final val ComplexAttributeValue = 10
  private final val ComplexDoubleQuotedValue = 11
  private final val ComplexSingleQuotedValue = 12
  private final val ComplexUnQuotedValue = 13
  private final val OpeningTagEnd = 14
  private final val ClosingTagBegin = 15
  private final val ClosingTagName = 16
  private final val ClosingTagEnd = 17
  private final val Text = 18
  private final val Complete = 19

  /** Transition function — one cell per (state, char-class)
    * (reference: BBCodeParser.java:279-535).
    */
  private def next(state: Int, c: Char): Int = (state: @switch) match {
    case Start =>
      if (c == '[') TagBegin else if (c == '\\') Escape else Text
    case Escape => Text
    case TagBegin =>
      if (c == '/') ClosingTagBegin
      else if (Character.isWhitespace(c) || c == '[' || c == ']') Text // no tag name, e.g. []
      else TagName
    case TagName =>
      if (c == '=') SimpleAttribute
      else if (c == ' ') ComplexAttribute
      else if (c == ']') OpeningTagEnd
      else if (c == '[') TagBegin
      else TagName
    case SimpleAttribute =>
      if (c == ']') OpeningTagEnd
      else if (c == '\'') SimpleSingleQuotedValue
      else if (c == '"') SimpleDoubleQuotedValue
      else SimpleUnQuotedValue
    case SimpleSingleQuotedValue =>
      if (c == '\'') SimpleAttribute else SimpleSingleQuotedValue
    case SimpleDoubleQuotedValue =>
      if (c == '"') SimpleAttribute else SimpleDoubleQuotedValue
    case SimpleUnQuotedValue =>
      if (c == ']') OpeningTagEnd else SimpleUnQuotedValue
    case ComplexAttribute =>
      if (c == ']') OpeningTagEnd
      else if (c == ' ') ComplexAttribute // ignore whitespace
      else if (c == '[') Text            // tag is not closed properly
      else ComplexAttributeName
    case ComplexAttributeName =>
      if (c == '=') ComplexAttributeValue
      else if (c == ' ') Text // no spaces allowed between name and equals
      else if (c == ']') Text // missing name and value of attribute
      else ComplexAttributeName
    case ComplexAttributeValue =>
      if (c == ']') OpeningTagEnd
      else if (c == ' ') ComplexAttribute
      else if (c == '\'') ComplexSingleQuotedValue
      else if (c == '"') ComplexDoubleQuotedValue
      else ComplexUnQuotedValue
    case ComplexDoubleQuotedValue =>
      if (c == '"') ComplexAttribute else ComplexDoubleQuotedValue
    case ComplexSingleQuotedValue =>
      if (c == '\'') ComplexAttribute else ComplexSingleQuotedValue
    case ComplexUnQuotedValue =>
      if (c == ' ') ComplexAttribute
      else if (c == ']') OpeningTagEnd
      else ComplexUnQuotedValue
    case OpeningTagEnd =>
      if (c == '[') TagBegin else Text
    case ClosingTagBegin =>
      if (c == ']') ClosingTagEnd else ClosingTagName // ']' = no name of closing tag
    case ClosingTagName =>
      if (c == ']') ClosingTagEnd else ClosingTagName
    case ClosingTagEnd =>
      if (c == '[') TagBegin else Text
    case Text =>
      if (c == '[') TagBegin else if (c == '\\') Escape else Text
    case Complete => Complete
  }

  /** The index of the first char at or after `from` that could leave
    * `state`: a char of the state's stop set, or `len`. Every char before
    * it keeps the state and has no side effect in [[run]], because the
    * iteration that kept the state already did that state's one-time work
    * (the Text case creates its `TextNode` there). States not listed here
    * are not skipped.
    */
  private def skipRun(state: Int, src: Array[Char], from: Int, len: Int): Int = {
    var i = from
    (state: @switch) match {
      case Text =>
        while (i < len && { val c = src(i); c != '[' && c != '\\' }) i += 1
      case TagName =>
        while (i < len && { val c = src(i); c != '=' && c != ' ' && c != ']' && c != '[' }) i += 1
      case SimpleSingleQuotedValue | ComplexSingleQuotedValue =>
        while (i < len && src(i) != '\'') i += 1
      case SimpleDoubleQuotedValue | ComplexDoubleQuotedValue =>
        while (i < len && src(i) != '"') i += 1
      case SimpleUnQuotedValue | ClosingTagName =>
        while (i < len && src(i) != ']') i += 1
      case ComplexAttributeName =>
        while (i < len && { val c = src(i); c != '=' && c != ' ' && c != ']' }) i += 1
      case ComplexUnQuotedValue =>
        while (i < len && { val c = src(i); c != ' ' && c != ']' }) i += 1
      case _ =>
    }
    i
  }

  def parse(source: String, tagAttributes: Map[String, TagAttributes]): Doc =
    parse(source.toCharArray, tagAttributes)

  def parse(source: Array[Char], tagAttributes: Map[String, TagAttributes]): Doc = {
    val doc = new Doc(source)
    run(doc, if (tagAttributes == null) Map.empty else tagAttributes)
    doc
  }

  /** FSM main loop (reference: BBCodeParser.java:75-272). */
  private def run(doc: Doc, attributes: Map[String, TagAttributes]): Unit = {
    val nodes = new ArrayDeque[TagNode]()
    var textNode: TextNode = null
    var parsingEnabled = true

    var attributeName: String = null
    var attributeNameBegin = 0
    var attributeValueBegin = 0

    var state = Start
    var previous = Start
    var index = 0
    val source = doc.source
    val len = source.length

    while (index <= len) {
      previous = state
      if (index == len) state = Complete

      (state: @switch) match {
        case Start | Escape | ClosingTagBegin =>
          state = next(state, source(index))
          index += 1

        case TagBegin =>
          state = next(state, source(index))
          // No tags to end, malformed, set state to text
          if (state == ClosingTagBegin && nodes.isEmpty) {
            state = Text
          } else if (state == TagName && parsingEnabled) {
            nodes.push(new TagNode(doc, nodes.peek(), index - 1))
          }
          if (!nodes.isEmpty) {
            nodes.peek().bodyEnd = index - 1
          }
          // Increment only if not in text state (char re-examined)
          if (state != Text) index += 1

        case TagName =>
          state = next(state, source(index))
          if (parsingEnabled) {
            if (state == TagBegin) {
              handleUnexpectedState(doc, attributes, index, nodes)
            } else if (state != TagName) {
              nodes.peek().nameEnd = index
            }
          }
          index += 1

        case OpeningTagEnd =>
          if (parsingEnabled) {
            handleOpenTagCompleted(index, nodes)
            parsingEnabled = !hasPreFormattedBody(nodes.peek(), attributes)
            if (parsingEnabled && isStandalone(nodes.peek(), attributes)) {
              val tagNode = nodes.pop()
              tagNode.end = index
              addNode(doc, attributes, tagNode, nodes)
            }
          }
          state = next(state, source(index))
          index += 1

        case ClosingTagName =>
          state = next(state, source(index))
          index += 1
          if (state == ClosingTagEnd) {
            parsingEnabled = handleClosingTagName(doc, attributes, index, nodes, parsingEnabled)
          }

        case ClosingTagEnd =>
          state = next(state, source(index))
          if (state == Text && textNode == null && parsingEnabled) {
            textNode = new TextNode(doc, nodes.peek(), index, index + 1)
          }
          index += 1

        case SimpleAttribute =>
          state = next(state, source(index))
          if (parsingEnabled) {
            if (state == SimpleUnQuotedValue) attributeValueBegin = index
            else if (state == SimpleSingleQuotedValue || state == SimpleDoubleQuotedValue)
              attributeValueBegin = index + 1
          }
          index += 1

        case SimpleDoubleQuotedValue | SimpleSingleQuotedValue | SimpleUnQuotedValue =>
          state = next(state, source(index))
          if (parsingEnabled && state != previous) {
            addSimpleAttribute(doc, attributeValueBegin, index, nodes)
          }
          index += 1

        case ComplexAttribute =>
          state = next(state, source(index))
          if (parsingEnabled) {
            if (state == ComplexAttributeName) attributeNameBegin = index
            else if (state == Text) handleUnexpectedState(doc, attributes, index, nodes)
          }
          index += 1

        case ComplexAttributeName =>
          state = next(state, source(index))
          if (parsingEnabled) {
            if (state == ComplexAttributeValue) attributeName = doc.getString(attributeNameBegin, index)
            else if (state == Text) handleUnexpectedState(doc, attributes, index, nodes)
          }
          index += 1

        case ComplexAttributeValue =>
          state = next(state, source(index))
          if (parsingEnabled) {
            if (state == OpeningTagEnd) {
              nodes.peek().attributes.put(attributeName, "") // no value → empty string
              doc.attributeOffsets.add(index, 0)
            } else if (state == ComplexUnQuotedValue) attributeValueBegin = index
            else if (state == ComplexSingleQuotedValue || state == ComplexDoubleQuotedValue)
              attributeValueBegin = index + 1
          }
          index += 1

        case ComplexDoubleQuotedValue | ComplexSingleQuotedValue | ComplexUnQuotedValue =>
          state = next(state, source(index))
          if (parsingEnabled && state != previous) {
            nodes.peek().attributes.put(attributeName, doc.getString(attributeValueBegin, index))
            doc.attributeOffsets.add(attributeValueBegin, index - attributeValueBegin)
          }
          index += 1

        case Text =>
          state = next(state, source(index))
          if (textNode == null && parsingEnabled) {
            textNode = new TextNode(doc, nodes.peek(), index - 1, index)
          }
          if (state != Text && parsingEnabled) {
            textNode.end = index
            addNode(doc, attributes, textNode, nodes)
            textNode = null
          }
          index += 1

        case Complete =>
          handleDocumentCleanup(doc, attributes, index, nodes, textNode)
          index += 1
      }
      if (state == previous && index < len) index = skipRun(state, source, index, len)
    }
  }

  /** Simple `[tag=v]` attribute capture with trailing-space trim and offset
    * correction (reference: BBCodeParser.java:56-66).
    */
  private def addSimpleAttribute(doc: Doc, attributeValueBegin: Int, index: Int,
                                 nodes: ArrayDeque[TagNode]): Unit = {
    val current = nodes.peek()
    val raw = doc.getString(attributeValueBegin, index)
    val trimmed = raw.trim
    // Keep the trimmed value; account for the shortened value in the offset
    doc.attributeOffsets.add(attributeValueBegin, index - attributeValueBegin - (raw.length - trimmed.length))
    current.attribute = trimmed
  }
}
