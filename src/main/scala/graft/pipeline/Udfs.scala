package graft.pipeline

import graft.core._
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Column-API wrappers of the core transforms that have no native Catalyst
  * expression (strip, render, HTML strip and tag count are the
  * `graft.functions` expressions).
  */
object Udfs {
  private val cfg = TagAttributes.bbcodeCanonical

  val escapeHtml: UserDefinedFunction = udf { (s: String) =>
    if (s == null) null
    else {
      // escape semantics over a bare string = one unparented TextNode
      val doc = new Doc(s.toCharArray)
      val tn = new TextNode(doc, null, 0, s.length)
      Transform.htmlEscape(null, cfg)(tn, s)
    }
  }

  /** DOM-heuristic main-content extraction (readability-lite). */
  val mainContent: UserDefinedFunction = udf { (s: String) =>
    if (s == null) null else ContentExtract.mainContent(s)
  }
}
