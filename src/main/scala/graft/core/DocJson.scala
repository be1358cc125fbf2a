package graft.core

/** Canonical JSON rendering of a Document for golden-fixture comparison and
  * optional persistence/debugging. Mirrors the shape of the reference's own
  * Jackson proxy serialization (reference: test/.../jackson/ProxyModule
  * .java:31-40) — `document`/`parent`/`source` back-references omitted —
  * with attribute insertion order preserved.
  */
object DocJson {
  def escape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  private def q(s: String): String = if (s == null) "null" else "\"" + escape(s) + "\""

  private def pairs(set: OffsetSet): String =
    set.toList.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")

  def node(n: Node): String = n match {
    case t: TextNode =>
      s"""{"t":"text","begin":${t.begin},"end":${t.end},"body":${q(t.body)}}"""
    case t: TagNode =>
      val attrs =
        if (!t.hasAttributes) "[]"
        else t.attributes.iterator.map { case (k, v) => s"[${q(k)},${q(v)}]" }.mkString("[", ",", "]")
      val kids = t.children.iterator.map(node).mkString("[", ",", "]")
      s"""{"t":"tag","begin":${t.begin},"end":${t.end},"nameEnd":${t.nameEnd},""" +
        s""""bodyBegin":${t.bodyBegin},"bodyEnd":${t.bodyEnd},"name":${q(t.name)},""" +
        s""""attribute":${q(t.attribute)},"attributes":$attrs,"children":$kids}"""
  }

  def doc(d: Doc): String = {
    val kids = d.children.iterator.map(node).mkString("[", ",", "]")
    s"""{"children":$kids,"offsets":${pairs(d.offsets)},""" +
      s""""attributeOffsets":${pairs(d.attributeOffsets)}}"""
  }

  def offsets(o: Offsets): String = pairs(o.set)
}
