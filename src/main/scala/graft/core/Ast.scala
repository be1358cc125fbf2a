package graft.core

import scala.collection.mutable

/** Parse-time policy for a single tag name.
  *
  * Semantics follow the reference's per-tag attribute flags
  * (reference: domain/TagAttributes.java:26-92): a tag may not require a
  * closing tag (`[*]`), may have a pre-formatted body (`[code]`), may be
  * standalone (`[emoji]`), and may opt out of newline transformation.
  */
final case class TagAttributes(
    doesNotRequireClosingTag: Boolean,
    hasPreFormattedBody: Boolean,
    standalone: Boolean,
    transformNewLines: Boolean
) {
  /** Validation rules per reference domain/TagAttributes.java:76-91. */
  def validate: Boolean = {
    if (hasPreFormattedBody && (doesNotRequireClosingTag || standalone)) false
    else if (doesNotRequireClosingTag) !standalone
    else true
  }
}

object TagAttributes {
  /** Lowercase a tag name for config lookup without allocating when it is
    * already lowercase ASCII — the overwhelmingly common case in real
    * markup. Exactly equivalent to `name.toLowerCase` as a lookup key.
    */
  def lookupKey(name: String): String = {
    var i = 0
    val len = name.length
    while (i < len) {
      val c = name.charAt(i)
      if ((c >= 'A' && c <= 'Z') || c > 127) return name.toLowerCase
      i += 1
    }
    name
  }
  /** The canonical BBCode config used throughout the reference test suite
    * (reference: ParserAsserter.groovy:41-44).
    */
  val bbcodeCanonical: Map[String, TagAttributes] = Map(
    "*" -> TagAttributes(doesNotRequireClosingTag = true, hasPreFormattedBody = false, standalone = false, transformNewLines = true),
    "code" -> TagAttributes(doesNotRequireClosingTag = false, hasPreFormattedBody = true, standalone = false, transformNewLines = true),
    "noparse" -> TagAttributes(doesNotRequireClosingTag = false, hasPreFormattedBody = true, standalone = false, transformNewLines = true),
    "emoji" -> TagAttributes(doesNotRequireClosingTag = false, hasPreFormattedBody = false, standalone = true, transformNewLines = true)
  )

  /** HTML defaults merged under the caller's map
    * (reference: HTMLParser.java:566-612): void elements, raw-text
    * `script`/`style`, and `svg`.
    */
  val htmlDefaults: Map[String, TagAttributes] = {
    val voidTag = TagAttributes(doesNotRequireClosingTag = true, hasPreFormattedBody = false, standalone = true, transformNewLines = true)
    val rawText = TagAttributes(doesNotRequireClosingTag = false, hasPreFormattedBody = true, standalone = false, transformNewLines = false)
    val voids = Seq("area", "base", "br", "col", "embed", "hr", "img", "input",
      "link", "meta", "param", "source", "track", "wbr").map(_ -> voidTag)
    (voids ++ Seq("script" -> rawText, "style" -> rawText,
      "svg" -> TagAttributes(doesNotRequireClosingTag = false, hasPreFormattedBody = true, standalone = false, transformNewLines = true))).toMap
  }
}

/** A node in the offset-indexed document tree. Nodes store only `int`
  * indexes into the shared source `char[]`; every string is materialized
  * lazily (reference: domain/BaseNode.java, domain/Node.java).
  */
sealed abstract class Node {
  var doc: Doc = _
  var begin: Int = 0
  var end: Int = 0
  def length: Int = end - begin
  def rawString: String = doc.getString(begin, end)
}

/** Leaf text node; body is the lazy slice `source[begin, end)`
  * (reference: domain/TextNode.java:34-83).
  */
final class TextNode(d: Doc, var parent: TagNode, b: Int, e: Int) extends Node {
  doc = d; begin = b; end = e
  def body: String = doc.getString(begin, end)

  override def equals(o: Any): Boolean = o match {
    case t: TextNode =>
      begin == t.begin && end == t.end &&
        (if (parent != null)
           t.parent != null && parent.begin == t.parent.begin && parent.end == t.parent.end
         else t.parent == null)
    case _ => false
  }
  override def hashCode: Int = begin * 31 + end
  override def toString: String = s"TextNode{body=$body}"
}

/** A parsed tag. Five-index anatomy
  * `begin < nameEnd <= attributeBegin < bodyBegin <= bodyEnd <= end`
  * (reference: domain/TagNode.java:59-233). Attribute insertion order is
  * preserved (LinkedHashMap in the reference).
  */
final class TagNode(d: Doc, var parent: TagNode, b: Int) extends Node {
  doc = d; begin = b
  var nameEnd: Int = -1
  var bodyBegin: Int = -1
  var bodyEnd: Int = -1
  var attribute: String = _
  // most tags have no complex attributes and one or two children
  private[this] var _attributes: mutable.LinkedHashMap[String, String] = _
  val children: mutable.ArrayBuffer[Node] = new mutable.ArrayBuffer[Node](4)

  /** Complex attributes in insertion order. The map is allocated on first
    * use, so read through [[hasAttributes]] to keep attribute-free tags
    * allocation-free.
    */
  def attributes: mutable.LinkedHashMap[String, String] = {
    if (_attributes == null) _attributes = mutable.LinkedHashMap.empty
    _attributes
  }

  def hasAttributes: Boolean = _attributes != null && _attributes.nonEmpty

  def addChild(n: Node): Unit = children += n

  /** Lazy name slice `source[begin+1, nameEnd)`; null when the tag has no
    * name (reference: TagNode.java:194-199). Cached per nameEnd value —
    * `begin` never changes after construction and the name is re-read many
    * times during closing-tag matching and config lookups.
    */
  def name: String = {
    if (_nameKey != nameEnd) {
      _name = if (nameEnd > begin + 1) doc.getString(begin + 1, nameEnd) else null
      _nameKey = nameEnd
    }
    _name
  }
  private[this] var _name: String = _
  private[this] var _nameKey: Int = Int.MinValue

  /** This tag's entry in the parse policy `config` (looked up by lowercased
    * name), or null. Cached per (nameEnd, config instance) like [[name]]:
    * the parsers consult the policy several times per tag.
    */
  def policy(config: Map[String, TagAttributes]): TagAttributes = {
    if (_policyKey != nameEnd || (_policyConfig ne config)) {
      val n = name
      _policy = if (n == null) null else config.getOrElse(TagAttributes.lookupKey(n), null)
      _policyKey = nameEnd
      _policyConfig = config
    }
    _policy
  }
  private[this] var _policy: TagAttributes = _
  private[this] var _policyKey: Int = Int.MinValue
  private[this] var _policyConfig: Map[String, TagAttributes] = _

  def hasBody: Boolean = bodyEnd != -1 && bodyBegin != bodyEnd

  def hasClosingTag: Boolean = if (hasBody) bodyEnd != end else bodyBegin != end

  def toTextNode: TextNode = new TextNode(doc, parent, begin, end)

  /** Pre-order tag subtree flatten, self-inclusive
    * (reference: BaseTagNode.java:37-48).
    */
  def childTagNodes: List[TagNode] =
    this :: children.iterator.collect { case t: TagNode => t.childTagNodes }.flatten.toList

  override def equals(o: Any): Boolean = o match {
    case t: TagNode =>
      begin == t.begin && end == t.end && nameEnd == t.nameEnd &&
        bodyBegin == t.bodyBegin && bodyEnd == t.bodyEnd &&
        attribute == t.attribute &&
        hasAttributes == t.hasAttributes &&
        (!hasAttributes || attributes.toList == t.attributes.toList) &&
        children == t.children &&
        (if (parent != null)
           t.parent != null && parent.begin == t.parent.begin && parent.end == t.parent.end
         else t.parent == null)
    case _ => false
  }
  override def hashCode: Int = begin * 31 + end
  override def toString: String =
    s"TagNode[$name]{body=${if (hasBody) doc.getString(bodyBegin, bodyEnd) else ""}}"
}

/** Sorted, deduplicated set of `(position, amount)` int pairs packed into a
  * long array — the semantics of the reference's `TreeSet<Pair<Int,Int>>`
  * (ordering by first then second, dedup) without per-insert tuple/node
  * allocation. Sets here hold ~2 entries per tag, so sorted-array insertion
  * beats a red-black tree by a wide margin (this showed up as a top-3 cost
  * in pipeline profiles).
  *
  * Packing `pos << 32 | amount` preserves (pos, amount) ordering for
  * amounts in [0, 2^31); parser offsets are always non-negative lengths.
  * Negative amounts (possible through the public Offsets API) are stored
  * order-correctly by flipping the amount sign bit.
  */
final class OffsetSet {
  private var arr = new Array[Long](8)
  private var n = 0

  @inline private def pack(pos: Int, amount: Int): Long =
    (pos.toLong << 32) | ((amount.toLong & 0xffffffffL) ^ 0x80000000L)
  @inline private def unpackPos(v: Long): Int = (v >>> 32).toInt
  @inline private def unpackAmount(v: Long): Int = ((v & 0xffffffffL) ^ 0x80000000L).toInt

  def size: Int = n
  def isEmpty: Boolean = n == 0

  def add(pos: Int, amount: Int): Unit = {
    val v = pack(pos, amount)
    // append fast path: the render/escape pass discovers offsets in
    // strictly increasing position order, so nearly every add lands past
    // the current maximum — skip the binary search (profiled at ~5% of the
    // whole extraction pipeline before this)
    if (n == 0 || v > arr(n - 1)) {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = v
      n += 1
      return
    }
    var i = java.util.Arrays.binarySearch(arr, 0, n, v)
    if (i < 0) {
      i = -i - 1
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      System.arraycopy(arr, i, arr, i + 1, n - i)
      arr(i) = v
      n += 1
    } // duplicates collapse, like the TreeSet
  }

  /** Remove every entry with `begin <= pos < end`. */
  def removeRange(begin: Int, end: Int): Unit = {
    var r = 0
    var w = 0
    while (r < n) {
      val p = unpackPos(arr(r))
      if (!(p >= begin && p < end)) { arr(w) = arr(r); w += 1 }
      r += 1
    }
    n = w
  }

  def foreachPair(f: (Int, Int) => Unit): Unit = {
    var i = 0
    while (i < n) { f(unpackPos(arr(i)), unpackAmount(arr(i))); i += 1 }
  }

  def toList: List[(Int, Int)] = {
    var out = List.empty[(Int, Int)]
    var i = n - 1
    while (i >= 0) { out = (unpackPos(arr(i)), unpackAmount(arr(i))) :: out; i -= 1 }
    out
  }

  /** `(pos << 32 | amount)` packed pairs, sorted — zero-boxing export for
    * the pipeline's offsets column.
    */
  def packedArray: Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = (unpackPos(arr(i)).toLong << 32) | (unpackAmount(arr(i)).toLong & 0xffffffffL)
      i += 1
    }
    out
  }

  def sumAmounts: Int = {
    var s = 0
    var i = 0
    while (i < n) { s += unpackAmount(arr(i)); i += 1 }
    s
  }

  /** Sum of amounts at positions <= originalIndex (Offsets semantics). */
  def sumAmountsUpTo(originalIndex: Int): Int = {
    var s = 0
    var i = 0
    while (i < n) {
      if (originalIndex >= unpackPos(arr(i))) s += unpackAmount(arr(i))
      i += 1
    }
    s
  }

  override def equals(o: Any): Boolean = o match {
    case other: OffsetSet =>
      n == other.n && java.util.Arrays.equals(
        java.util.Arrays.copyOf(arr, n), java.util.Arrays.copyOf(other.arr, other.n))
    case _ => false
  }
  override def hashCode: Int = {
    var h = 1
    var i = 0
    while (i < n) { h = 31 * h + java.lang.Long.hashCode(arr(i)); i += 1 }
    h
  }
  override def toString: String = toList.mkString("[", ", ", "]")
}

/** Root of the document model. Owns the source `char[]`, the top-level
  * children, and the two sorted offset sets that make the source
  * reconstructable (reference: domain/Document.java:31-131).
  */
final class Doc(val source: Array[Char]) {
  /** `(tagBegin, length)` spans of opening/closing tags; source minus these
    * spans equals the concatenated text (Document.java:50-60).
    */
  val offsets: OffsetSet = new OffsetSet
  /** `(attrValueBegin, length)` of each attribute value (Document.java:32-42). */
  val attributeOffsets: OffsetSet = new OffsetSet
  val children: mutable.ArrayBuffer[Node] = mutable.ArrayBuffer.empty

  def addChild(n: Node): Unit = children += n
  def getString(start: Int, end: Int): String = new String(source, start, end - start)

  /** All tag nodes in the document, pre-order. */
  def tagNodes: List[TagNode] =
    children.iterator.collect { case t: TagNode => t.childTagNodes }.flatten.toList

  /** Tag count without materializing the pre-order list (hot in pipeline
    * per-turn stats).
    */
  def tagCount: Int = {
    def count(ns: scala.collection.mutable.ArrayBuffer[Node]): Int = {
      var c = 0
      var i = 0
      while (i < ns.length) {
        ns(i) match {
          case t: TagNode => c += 1 + count(t.children)
          case _ =>
        }
        i += 1
      }
      c
    }
    count(children)
  }

  override def equals(o: Any): Boolean = o match {
    case d: Doc =>
      java.util.Arrays.equals(source, d.source) && children == d.children &&
        offsets == d.offsets && attributeOffsets == d.attributeOffsets
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(source)
  override def toString: String =
    s"Document{children=[${children.mkString(", ")}], offsets=[${offsets.toList.map(o => s"${o._1}:${o._2}").mkString(", ")}]" +
      s", attributeOffsets=[${attributeOffsets.toList.map(o => s"${o._1}:${o._2}").mkString(", ")}]}"
}

/** Output-shift tracker: a sorted set of `(position, amount)` pairs.
  * `computeOffsetFromIndex(i)` sums amounts at positions `<= i` — note the
  * `>=` comparison and TreeSet dedup semantics are part of the contract
  * (reference: domain/Offsets.java:33-88, pinned by
  * FreemarkerTransformerTest.java:62-77).
  */
final class Offsets {
  val set: OffsetSet = new OffsetSet

  def pairs: List[(Int, Int)] = set.toList

  def add(position: Int, amount: Int): Unit = set.add(position, amount)

  def computeOffsetFromIndex(originalIndex: Int): Int = set.sumAmountsUpTo(originalIndex)

  def total: Int = set.sumAmounts

  override def equals(o: Any): Boolean = o match {
    case other: Offsets => set == other.set
    case _ => false
  }
  override def hashCode: Int = set.hashCode
  override def toString: String = set.toString
}
