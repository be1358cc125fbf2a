package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSuite
import graft.functions.MinhashKernel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import scala.io.Source
import scala.util.Random

/** Frozen word-shingle and MinHash behaviour: `minhash_golden.jsonl` holds
  * 2,000 seeded texts with what the dedup front half produced for them when
  * the file was written: the shingle array of `TextOps.shingles` for k in
  * {1, 2, 3, 5}, its distinct count, and the LSH band hashes of the k = 3
  * shingles at (64 hashes, 16 bands) and (128 hashes, 32 bands). The band
  * hashes are what a MinHash index stores on disk, so this file also pins
  * index compatibility across versions.
  *
  * The texts mix tab, CR/LF, VT, FF, NBSP and em-space runs, leading and
  * trailing whitespace, case-folding edge letters (ß, İ, ı, ſ), surrogate
  * pairs, texts shorter than k tokens, the empty text, null and repeated
  * shingles.
  *
  * Regenerate only for a deliberate behaviour change (the file is the
  * expectation): `sbt "Test/runMain graft.ops.MinhashGolden <out.jsonl>"`.
  */
class MinhashGoldenSpec extends AnyFunSuite with SparkSuite {
  private val mapper = new ObjectMapper()

  test("shingles, distinct counts and band hashes reproduce every frozen row") {
    val in = getClass.getResourceAsStream("/minhash_golden.jsonl")
    require(in != null, "minhash_golden.jsonl not on test classpath")
    val expected = Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(mapper.readTree).toVector
    val texts = expected.map(e => (e.get("id").asInt, Option(e.get("text")).filterNot(_.isNull).map(_.asText)))
    val actual = MinhashGolden.records(spark, mapper, texts)
    assert(actual.size == expected.size)
    val failures = expected.zip(actual).filter { case (e, a) => e != a }.take(10).map { case (e, a) =>
      val fields = MinhashGolden.fields.filter(f => a.get(f) != e.get(f))
      s"[id=${e.get("id")}] ${fields.mkString(", ")} differ\n text=${e.get("text")}\n" +
        fields.map(f => s" $f expected=${e.get(f)}\n $f actual  =${a.get(f)}").mkString("\n")
    }
    if (failures.nonEmpty) fail(s"golden mismatches (up to 10):\n${failures.mkString("\n---\n")}")
    assert(expected.size >= 2000, s"golden corpus shrank: consumed only ${expected.size} rows")
  }

  /** Seeded token arrays: empty, null and non-ASCII tokens, a repeated
    * token run, and null arrays.
    */
  private def tokenArrays(n: Int): Seq[Option[Seq[String]]] = {
    import org.scalacheck.Gen
    val token = Gen.frequency(6 -> Gen.alphaLowerStr.map(_.take(6)), 1 -> Gen.const(""),
      1 -> Gen.const(null: String), 1 -> Gen.oneOf("ß", "i̇stanbul", "ı", "ſ", "😀", "日本", " ", "a,b"))
    val arrays = Gen.frequency(12 -> Gen.choose(0, 14).flatMap(Gen.listOfN(_, token)).map(Option(_)),
      1 -> Gen.const(None))
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).map(i => arrays(params, org.scalacheck.rng.Seed(i.toLong)).get)
  }

  test("native shingles equal the transform/slice/concat_ws composition, generated and interpreted") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val s = spark; import s.implicits._
    val arrays = tokenArrays(600)
    val df = arrays.map(_.orNull).toDF("toks")
    for (k <- 1 to 6) {
      val rows = df.select(TextOps.shinglesOf(col("toks"), k), MinhashReference.shinglesOf(col("toks"), k))
        .collect()
      assert(rows.length == arrays.size)
      rows.zip(arrays).foreach { case (r, in) =>
        assert(r.get(0) == r.get(1), s"k=$k tokens=$in")
        val interpreted = graft.functions.ShinglesExpr(
          Literal.create(in.orNull, ArrayType(StringType)), k).eval()
        val expected = Option(r.getSeq[String](1)).map(_.map(UTF8String.fromString))
        assert(Option(interpreted).map(_.asInstanceOf[ArrayData].toSeq[UTF8String](StringType)) == expected,
          s"interpreted k=$k tokens=$in")
      }
    }
    // the result type is the composition's, so written outputs keep their schema
    def typeOf(toks: Column, sh: (Column, Int) => Column) = {
      val f = df.select(sh(toks, 2)).schema.head
      (f.dataType, f.nullable)
    }
    for (toks <- Seq(col("toks"), coalesce(col("toks"), array(lit("x")))))
      assert(typeOf(toks, TextOps.shinglesOf) == typeOf(toks, MinhashReference.shinglesOf))
  }

  test("native band hashes equal the signature UDF and band transform they replace") {
    val s = spark; import s.implicits._
    val arrays = tokenArrays(400)
    val df = arrays.map(_.orNull).toDF("toks")
      .withColumn("sh", MinhashReference.shinglesOf(col("toks"), 2))
    for ((numHashes, bands) <- Seq((64, 16), (128, 32), (12, 3), (8, 8), (5, 1))) {
      val rows = df.select(DedupOps.minhashBands(col("sh"), numHashes, bands),
          MinhashReference.bandHashes(col("sh"), numHashes, bands))
        .collect()
      rows.zip(arrays).foreach { case (r, in) =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"($numHashes, $bands) tokens=$in")
      }
    }
  }
}

/** The shingle and MinHash composition the native kernel replaced —
  * interpreted higher-order functions and a `Seq[String]` UDF — kept as
  * the oracle of the kernel's property tests.
  */
object MinhashReference {
  def shinglesOf(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  def shingles(c: Column, k: Int): Column =
    TextOps.bindOnce(TextOps.tokens(lower(c)))(ts => shinglesOf(ts, k))

  def signature(sh: Column, numHashes: Int): Column = {
    val sigUdf = udf { (shingles: Seq[String]) =>
      val mins = Array.fill(numHashes)(Long.MaxValue)
      if (shingles != null) shingles.foreach { s =>
        val a = MinhashKernel.hash64(s)
        val b = MinhashKernel.deriveB(a)
        var v = a
        for (i <- 0 until numHashes) {
          if (v < mins(i)) mins(i) = v
          v += b
        }
      }
      mins
    }
    sigUdf(sh)
  }

  def bandHashes(sh: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    TextOps.bindOnce(signature(sh, numHashes))(s =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(s, b * rows + 1, lit(rows))), b)))
  }
}

/** Input generator and per-row record for [[MinhashGoldenSpec]]. */
object MinhashGolden {
  val ks: Seq[Int] = Seq(1, 2, 3, 5)
  val fields: Seq[String] = ks.flatMap(k => Seq(s"sh$k", s"nsh$k")) ++ Seq("bh64", "bh128")

  /** The shingle and band columns of one `text` column. */
  private def compute(df: DataFrame): DataFrame = {
    val sh3 = TextOps.shingles(col("text"), 3)
    def bands(numHashes: Int, bands: Int) = DedupOps.minhashBands(sh3, numHashes, bands)
    df.select(Seq(col("id")) ++ ks.flatMap { k =>
      val sh = TextOps.shingles(col("text"), k)
      Seq(sh.as(s"sh$k"), size(array_distinct(sh)).as(s"nsh$k"))
    } ++ Seq(bands(64, 16).as("bh64"), bands(128, 32).as("bh128")): _*)
  }

  /** Every row as one JSON object, in `texts`' order. */
  def records(spark: SparkSession, mapper: ObjectMapper,
              texts: Seq[(Int, Option[String])]): Seq[ObjectNode] = {
    import spark.implicits._
    val rows = compute(texts.map { case (i, t) => (i, t.orNull) }.toDF("id", "text"))
      .collect().map(r => r.getInt(0) -> r).toMap
    texts.map { case (i, t) =>
      val r: Row = rows(i)
      val o = mapper.createObjectNode()
      o.put("id", i)
      t.fold(o.putNull("text"))(o.put("text", _))
      fields.foreach { f =>
        val v = r.get(r.fieldIndex(f))
        v match {
          case null => o.putNull(f)
          case n: Int => o.put(f, n)
          case s: scala.collection.Seq[_] =>
            val arr = o.putArray(f)
            s.foreach {
              case x: String => arr.add(x)
              case x: Long => arr.add(x)
              case x => sys.error(s"unexpected element $x in $f")
            }
          case x => sys.error(s"unexpected value $x in $f")
        }
      }
      o
    }
  }

  private val words = Vector("the", "a", "of", "cat", "sat", "on", "mat", "Data", "DATA",
    "straße", "STRASSE", "İstanbul", "ısı", "ſtar", "Ǆemal", "café", "CAFÉ", "naïve",
    "日本語", "😀", "👍🏽", "𐐀x", "", "x", "0123", "-", "...", "a,b", "Ωmega", "ﬁne")
  private val seps = Vector(" ", " ", " ", " ", "  ", "\t", "\r\n", "\n", "\u000B", "\f",
    " ", " ", " \t ", "\r", "  ", "  ")
  private val edges = Vector("", "", "", " ", "  ", "\t", "\n", "\r\n", " ", " ", "\f")

  private def text(r: Random): String = {
    val n = r.nextInt(10) match {
      case 0 => r.nextInt(3) // under k for most k
      case 1 => 20 + r.nextInt(20)
      case _ => 3 + r.nextInt(10)
    }
    val toks = Vector.fill(n)(words(r.nextInt(words.length)))
    // a repeated phrase: repeated shingles inside one document
    val body = if (n >= 4 && r.nextInt(4) == 0) toks ++ toks.take(4) ++ toks.take(4) else toks
    val sb = new StringBuilder(edges(r.nextInt(edges.length)))
    body.zipWithIndex.foreach { case (w, i) =>
      if (i > 0) sb ++= seps(r.nextInt(seps.length))
      sb ++= w
    }
    sb ++= edges(r.nextInt(edges.length))
    sb.toString
  }

  def inputs(seed: Long): Seq[Option[String]] = {
    val r = new Random(seed)
    val fixed: Seq[Option[String]] = Seq(None, Some(""), Some(" "), Some("\t"), Some(" "),
      Some("one"), Some("one two"), Some("one two three"), Some("one two three four five"),
      Some("a a a a a a a a"), Some(" lead and trail "), Some("\tlead tab"), Some("trail tab\t"),
      Some("ß İ ı ſ"), Some("😀 😀 😀"), Some("x\u000By\fz\r\nw"))
    fixed ++ Iterator.continually(Some(text(r))).filterNot(fixed.contains).distinct
      .take(2000 - fixed.size)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("MinhashGolden")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", 2)
      .getOrCreate()
    try {
      val mapper = new ObjectMapper()
      val lines = records(spark, mapper, inputs(20261019L).zipWithIndex.map(_.swap))
        .map(mapper.writeValueAsString)
      java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
