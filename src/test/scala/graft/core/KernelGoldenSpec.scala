package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import scala.io.Source
import scala.util.Random

/** Frozen kernel behaviour: `bbcode_kernel_golden.jsonl` holds 2,500
  * seeded inputs with what the kernel produced for them when the file was
  * written — the BBCode tree (`DocJson`, which carries `offsets` and
  * `attributeOffsets`), strip, `renderEscaped` html with its offsets and
  * `tagCount`, plus the `HtmlParser` tree and strip of the same input.
  * Text nodes are stored without their `body`, which is `input[begin, end)`
  * and so adds nothing but bytes. The
  * inputs put long runs in every FSM state the BBCode parser skips over,
  * end inside each state, hold `[`/`]` in quoted values, leave tags
  * unclosed and preformatted, use `\` escapes, and close tags with
  * mixed-case and non-ASCII names.
  *
  * Regenerate only for a deliberate behaviour change (the file is the
  * expectation): `sbt "Test/runMain graft.core.KernelGolden <out.jsonl>"`.
  */
class KernelGoldenSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("the kernel reproduces every frozen golden row") {
    val in = getClass.getResourceAsStream("/bbcode_kernel_golden.jsonl")
    require(in != null, "bbcode_kernel_golden.jsonl not on test classpath")
    var n = 0
    var failures = List.empty[String]
    for (line <- Source.fromInputStream(in, "UTF-8").getLines() if line.nonEmpty) {
      n += 1
      val expected = mapper.readTree(line)
      val actual = KernelGolden.record(mapper, expected.get("id").asInt,
        expected.get("config").asText, expected.get("input").asText)
      if (actual != expected && failures.size < 10) {
        val fields = Seq("bb", "strip", "html", "htmlOffsets", "tags", "hdoc", "hstrip")
          .filter(f => actual.get(f) != expected.get(f))
        failures ::= s"[id=${expected.get("id")}] ${fields.mkString(", ")} differ\n" +
          s" input=${expected.get("input")}\n" +
          fields.map(f => s" $f expected=${expected.get(f)}\n $f actual  =${actual.get(f)}").mkString("\n")
      }
    }
    if (failures.nonEmpty) fail(s"golden mismatches (up to 10):\n${failures.reverse.mkString("\n---\n")}")
    assert(n >= 2500, s"golden corpus shrank: consumed only $n rows")
  }
}

/** Input generator and per-row record for [[KernelGoldenSpec]]. */
object KernelGolden {
  val configs: Map[String, Map[String, TagAttributes]] = Map(
    "canonical" -> TagAttributes.bbcodeCanonical,
    // preformatted bodies keep their newlines: exercises escape suppression
    "nobr" -> (TagAttributes.bbcodeCanonical ++ Map(
      "code" -> TagAttributes(false, true, false, false),
      "noparse" -> TagAttributes(false, true, false, false))),
    "empty" -> Map.empty)

  private def offsetsJson(mapper: ObjectMapper, o: Offsets) = {
    val arr = mapper.createArrayNode()
    o.pairs.foreach { case (p, a) => arr.addArray().add(p).add(a) }
    arr
  }

  private def tree(mapper: ObjectMapper, doc: Doc): JsonNode = {
    def dropBodies(n: JsonNode): Unit = n.elements.forEachRemaining { c =>
      if (c.isObject && c.path("t").asText == "text") c.asInstanceOf[ObjectNode].remove("body")
      dropBodies(c)
    }
    val t = mapper.readTree(DocJson.doc(doc))
    dropBodies(t)
    t
  }

  /** Everything the kernel produces for one input, as one JSON object. */
  def record(mapper: ObjectMapper, id: Int, config: String, input: String): ObjectNode = {
    val cfg = configs(config)
    val row = mapper.createObjectNode()
    row.put("id", id).put("config", config).put("input", input)
    val doc = BBCodeParser.parse(input, cfg)
    row.set[JsonNode]("bb", tree(mapper, doc))
    row.put("strip", Transform.textTransform(doc))
    val offsets = new Offsets
    row.put("html", Render.renderEscaped(doc, BBCodeToHtml.renderers, offsets, cfg))
    row.set[JsonNode]("htmlOffsets", offsetsJson(mapper, offsets))
    row.put("tags", doc.tagCount)
    val hdoc = HtmlParser.parse(input, Map.empty)
    row.set[JsonNode]("hdoc", tree(mapper, hdoc))
    row.put("hstrip", Transform.textTransform(hdoc))
    row
  }

  private val fragments = Vector(
    "[b]", "[/b]", "[B]", "[/B]", "[i]", "[/I]", "[u]", "[/u]", "[s]", "[/S]",
    "[url]", "[/url]", "[url=http://x.y/a?b=c&d]", "[url='q]u[o]te']", "[url=\"a [b] c\"]",
    "[URL=x ]", "[/Url]", "[img]", "[img=100x200]", "[/img]", "[quote]", "[quote=bob]",
    "[/quote]", "[quote name='a]b' date=\"[1]\"]", "[code]", "[/code]", "[CODE]", "[/Code]",
    "[noparse]", "[/noparse]", "[*]", "[list]", "[/list]", "[LIST]", "[emoji]", "[EMOJI]",
    "[font a=1 b=\"2\"]", "[font face='x]y' size=3]", "[/font]", "[color=red]", "[/color]",
    "[size=4]", "[/size]", "[table]", "[tr]", "[td]", "[/td]", "[/tr]", "[/table]",
    "[ſ]", "[/ſ]", "[K]", "[/k]", "[İ]", "[/i]", "[ı]", "[/I]", "[ß]", "[/SS]", "[/ß]",
    "[𐐀]", "[/𐐨]", "[é]", "[/É]", "[/s]", "[/K]",
    "\\[b]", "\\\\", "\\", "\\x", "[", "]", "[/", "[]", "[/]", "[ b]", "[b ]", "[b c]",
    "[b c=]", "[b c= d]", "[b=]", "[=x]", "[b c=d e]", "[b c='d' e=\"f\"]",
    "text ", "hello world ", "x\ny", "a\r\nb", "c\n\rd", "\r", "\n", "&", "<", ">", "\"", "'",
    "=", " ", "  ", "<a href=\"x\">", "</a>", "<br/>", "<!-- c -->", "<img src='x'>",
    "<script>if (a<b) x</script>", "<P>", "</p>", "<div class=a id='b'>", "</DIV>",
    "é", "日本語", "😀")

  private def run(r: Random, n: Int, pool: String): String =
    Seq.fill(n)(pool.charAt(r.nextInt(pool.length))).mkString

  private val textPool = "abcdefghij KLMNOP qrstu  vwxyz 0123 .,;:!?=]/'\"&<>\n\r\té日"
  private val namePool = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789*_-.:/\\'\"é"
  private val valuePool = "abc DEF 123 ][=/:?&<>\"'é\\"

  /** Long runs in every skipped state, each closed and cut at EOF. */
  private def runRows(r: Random): Seq[String] = {
    def len = 30 + r.nextInt(100)
    def noneOf(pool: String, stop: String) = pool.filterNot(stop.contains(_))
    def text = run(r, len, noneOf(textPool, "[\\"))
    def name = run(r, len, noneOf(namePool, "= ][")) + "x"
    def sq = run(r, len, noneOf(valuePool, "'"))
    def dq = run(r, len, noneOf(valuePool, "\""))
    def unq = run(r, len, noneOf(valuePool, "]"))
    def cunq = run(r, len, noneOf(valuePool, " ]"))
    def attrName = run(r, len, noneOf(namePool, "= ]"))
    (0 until 4).flatMap { _ =>
      val n = name
      val full = Seq(
        text, s"[b]$text[/b]$text", s"$text\\[b]$text\\",
        s"[$n]$text[/$n]", s"[$n]x[/${n.toUpperCase}]", s"[$n=v]x[/$n]", s"[$n a=1]x",
        s"[url='$sq']x[/url]", s"[url=\"$dq\"]x[/url]", s"[url=$unq]x[/url]",
        s"[b]x[/$n]", s"[b]x[/${name}b]y", s"[code]$text[/$n][/code]",
        s"[font $attrName=1]x[/font]", s"[font $attrName]x[/font]", s"[font $attrName x=2]x",
        s"[font a=$cunq b=2]x[/font]", s"[font a=$cunq]x[/font]",
        s"[font a='$sq' b=\"$dq\"]x[/font]")
      full.flatMap(s => Seq(s, s.take(1 + r.nextInt(s.length))))
    }
  }

  /** Inputs that end inside each parser state. */
  private val eofRows: Seq[String] = Seq(
    "a", "[", "\\", "[b", "[b=", "[b='x", "[b=\"x", "[b=x", "[b ", "[b a", "[b a=", "[b a='x",
    "[b a=\"x", "[b a=x", "[b]", "[b]x[", "[b]x[/", "[b]x[/b", "[b]x[/b]", "[b]x", "x[b]y[/",
    "[code]x[", "[code]x[/", "[code]x[/cod", "[noparse][b]", "[*]", "[*]x", "[list][*]a[*]b",
    "[emoji]", "[b][emoji", "x\\", "x\\[", "[b]\\", "[b a='x]", "[b a=\"x]\"", "[/", "[/b",
    "]", "[]", "[b][/]", "<", "<a", "<a b", "<a b=", "<a b='", "<a b=\"", "<a b=c", "<a/",
    "<!", "<!-", "<!--", "<!-- x -", "<!-- x --", "</", "</a", "<a>x</", "<a>x</a")

  /** Closing tags whose names differ only in case, some non-ASCII. */
  private val closingRows: Seq[String] = {
    val names = Seq("b", "B", "Url", "URL", "ſ", "S", "s", "K", "k", "K", "İ", "i", "I",
      "ı", "ß", "SS", "ss", "𐐀", "𐐨", "é", "É", "bé", "BÉ", "codE")
    for (a <- names; b <- names) yield s"[$a]x[/$b]"
  }

  private def soupRow(r: Random): String = {
    val n = 1 + r.nextInt(5)
    val s = Seq.fill(n)(fragments(r.nextInt(fragments.length))).mkString
    if (r.nextInt(4) == 0) s.take(r.nextInt(s.length + 1)) else s
  }

  /** Tag names with the spellings a closing tag may use for them. */
  private val tagNames: Vector[(String, Seq[String])] = Vector(
    "b", "i", "u", "s", "url", "img", "quote", "code", "noparse", "list", "*", "emoji", "font",
    "color", "size", "table", "td", "Foo"
  ).map(n => n -> Seq(n, n.toUpperCase, n.capitalize)) ++ Vector(
    "ſ" -> Seq("ſ", "s", "S"), "K" -> Seq("K", "k", "K"), "İ" -> Seq("İ", "i", "I"),
    "ß" -> Seq("ß", "SS"), "𐐀" -> Seq("𐐀", "𐐨"), "é" -> Seq("é", "É"))
  private val tagAttrs = Vector("", "", "", "=v", "=100x200", "='a]b'", "=\"[c]\"", "= x ",
    " a=1", " a='[x]' b=\"y]\"", " a=b c", " a=", " a")
  private val leaves = Vector("hello ", "x\ny", "a & b", "<i>", "\\[b]", "é", "日本", "\r\n",
    "\"q\"", "", " ", "\\", "]")

  /** A nested tag tree with mixed-case closers; some closers are missing. */
  private def element(r: Random, depth: Int): String = r.nextInt(10) match {
    case 0 | 1 | 2 => leaves(r.nextInt(leaves.length))
    case 3 => fragments(r.nextInt(fragments.length))
    case _ if depth < 2 =>
      val (name, closers) = tagNames(r.nextInt(tagNames.length))
      val kids = Seq.fill(r.nextInt(3))(element(r, depth + 1)).mkString
      val close = if (r.nextInt(8) == 0) "" else s"[/${closers(r.nextInt(closers.length))}]"
      s"[$name${tagAttrs(r.nextInt(tagAttrs.length))}]$kids$close"
    case _ => leaves(r.nextInt(leaves.length))
  }

  private def treeRow(r: Random): String = {
    val s = Seq.fill(1 + r.nextInt(2))(element(r, 0)).mkString
    if (r.nextInt(4) == 0) s.take(r.nextInt(s.length + 1)) else s
  }

  def inputs(seed: Long): Seq[String] = {
    val r = new Random(seed)
    val fixed = runRows(r) ++ eofRows ++ closingRows
    val soup = Iterator.continually(if (r.nextBoolean()) soupRow(r) else treeRow(r))
      .filterNot(fixed.contains).distinct
    fixed ++ soup.take(2500 - fixed.length)
  }

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val names = Vector("canonical", "canonical", "canonical", "nobr", "empty")
    val lines = inputs(20261017L).zipWithIndex.map { case (s, i) =>
      mapper.writeValueAsString(record(mapper, i, names(i % names.length), s))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
