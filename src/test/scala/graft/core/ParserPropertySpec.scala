package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: the parsers must never throw on arbitrary input, node
  * spans must stay within bounds and properly nested, and strip/render must
  * be total for any parse result.
  */
class ParserPropertySpec extends AnyFunSuite {
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private val markupChar = Gen.frequency(
    6 -> Gen.alphaNumChar,
    1 -> Gen.oneOf('[', ']', '/', '=', '\\', '\'', '"', ' ', '*', '\n', '\r', '<', '>', '&', '!', '-', '`', '\t'))

  private val soup: Gen[String] = for {
    n <- Gen.choose(0, 200)
    cs <- Gen.listOfN(n, markupChar)
  } yield cs.mkString

  private val tagged: Gen[String] = {
    val frag = Gen.oneOf("[b]", "[/b]", "[code]", "[/code]", "[*]", "[list]", "[/list]",
      "[emoji]", "[url=x]", "[font a=1 b=\"2\"]", "text ", "\\[b]", "<a>", "</a>",
      "<br/>", "<!-- c -->", "<img src='x'>", "x\ny", "[", "]", "<", ">")
    for { n <- Gen.choose(0, 30); fs <- Gen.listOfN(n, frag) } yield fs.mkString
  }

  private def structurallySound(d: Doc): Boolean = {
    val len = d.source.length
    def ok(n: Node, lo: Int, hi: Int): Boolean = n match {
      case t: TextNode => t.begin >= lo && t.end <= hi && t.begin <= t.end
      case t: TagNode =>
        t.begin >= lo && t.end <= hi && t.begin <= t.end &&
          t.children.forall(c => ok(c, t.begin, math.max(t.end, t.begin)))
    }
    d.children.forall(c => ok(c, 0, len))
  }

  private def totalPipeline(s: String): Boolean = {
    val d1 = BBCodeParser.parse(s, TagAttributes.bbcodeCanonical)
    val d2 = HtmlParser.parse(s, Map.empty)
    val o = new Offsets
    Transform.textTransform(d1)
    Transform.textTransform(d1, fn = Transform.htmlEscape(o, TagAttributes.bbcodeCanonical))
    Transform.textTransform(d2)
    BBCodeToHtml(d1)
    structurallySound(d1) && structurallySound(d2)
  }

  test("never throws + sound spans on random soup") {
    check(Prop.forAll(soup)(s => totalPipeline(s)))
  }

  test("never throws + sound spans on fragment compositions") {
    check(Prop.forAll(tagged)(s => totalPipeline(s)))
  }

  test("[a]x[/b] closes iff a.equalsIgnoreCase(b), non-ASCII names included") {
    // ſ and K (Kelvin) fold to ASCII letters, İ and ı fold across dotted and
    // dotless i, ß upper-cases to two chars, and U+10400/U+10428 are a
    // Deseret case pair outside the BMP
    val unit = Gen.frequency(
      6 -> Gen.oneOf(('a' to 'z') ++ ('A' to 'Z')).map(_.toString),
      4 -> Gen.oneOf("ſ", "K", "İ", "ı", "ß", "𐐀", "𐐨", "s", "S", "k", "K", "i", "I"))
    val name = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, unit)).map(_.mkString)
    val pair = for {
      a <- name
      b <- Gen.oneOf(Gen.const(a.toUpperCase(java.util.Locale.ROOT)),
        Gen.const(a.toLowerCase(java.util.Locale.ROOT)), name)
    } yield (a, b)
    check(Prop.forAll(pair) { case (a, b) =>
      val closes = BBCodeParser.parse(s"[$a]x[/$b]", Map.empty).tagCount == 1
      (closes == a.equalsIgnoreCase(b)) :| s"a=$a b=$b closes=$closes"
    })
  }

  test("strip of markup-free text is identity") {
    val plain = Gen.listOf(Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.const(' '))).map(_.mkString)
    check(Prop.forAll(plain) { s =>
      Transform.textTransform(BBCodeParser.parse(s, TagAttributes.bbcodeCanonical)) == s
    })
  }
}
