package layerbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.pipeline.Turn

/** splitmix64 stream: the same seed always gives the same sequence. */
final class Rng(seed: Long) {
  private var s = seed * 0x2545f4914f6cdd1dL + 0x632be59bd9b4e019L
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound.toLong).toInt
}

/** 64-bit FNV-1a over a field sequence; field boundaries are hashed too. */
final class Digest {
  private var h = 0xcbf29ce484222325L
  def add(s: String): Digest = {
    if (s == null) addLong(-1L)
    else {
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      addLong(s.length.toLong)
    }
  }
  def addLong(v: Long): Digest = {
    var x = v
    var i = 0
    while (i < 8) { h = (h ^ (x & 0xff)) * 0x100000001b3L; x >>>= 8; i += 1 }
    this
  }
  def value: Long = h
}

/** What the benchmark prints about its generated input. */
final case class InputInfo(rows: Long, bytes: Long, digest: Long)

object InputInfo {
  def ofTurns(ts: Array[Turn]): InputInfo = {
    val d = new Digest
    var bytes = 0L
    ts.foreach { t =>
      d.add(t.conv_id).addLong(t.turn_idx).add(t.role).add(t.text).add(t.tool).addLong(t.ts.getTime)
      bytes += t.text.getBytes(UTF_8).length
    }
    InputInfo(ts.length, bytes, d.value)
  }
  def ofDocs(ds: Array[CorpusDoc]): InputInfo = {
    val d = new Digest
    var bytes = 0L
    ds.foreach { x => d.addLong(x.doc_id).add(x.text); bytes += x.text.getBytes(UTF_8).length }
    InputInfo(ds.length, bytes, d.value)
  }
}

/** One document of the dedup corpus. */
final case class CorpusDoc(doc_id: Long, text: String)

/** Fixed synthetic vocabulary (not seeded: the seed picks from it). */
object Words {
  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da",
    "zu", "re", "mo", "fi", "ga", "bel", "tor", "ien", "an", "ex", "qua", "sol", "dri", "um")
  val vocab: Array[String] = {
    val r = new Rng(7L)
    Array.tabulate(8000)(_ => Seq.fill(2 + r.nextInt(3))(syllables(r.nextInt(syllables.length))).mkString)
  }
  def sentence(r: Rng, n: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < n) {
      val w = vocab(r.nextInt(vocab.length))
      if (i == 0) sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
      else sb.append(' ').append(w)
      i += 1
    }
    sb.append(". ")
  }
}

/** A prose corpus with planted duplicates and the survivors the min-id
  * dedup policy must keep:
  *  - unique documents (kept);
  *  - near-duplicate twins of some of them (word 3-shingle Jaccard >= 0.85;
  *    the pair keeps only its smaller id);
  *  - exact boilerplate groups of Zipf-like size, the largest
  *    `largestGroup` members (each group keeps only its smallest id).
  * Ids are a seeded permutation, so a group's minimum is anywhere in it.
  */
final case class Corpus(docs: Array[CorpusDoc], survivors: Set[Long], planted: Set[Long])

object CorpusGen {
  private def prose(r: Rng, words: Int): String = {
    val sb = new java.lang.StringBuilder(words * 8)
    var left = words
    while (left > 0) { val n = math.min(left, 6 + r.nextInt(12)); Words.sentence(r, n, sb); left -= n }
    sb.toString.trim
  }

  private def shingles(text: String): Set[String] =
    text.toLowerCase.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** A copy of `text` with about one word in 70 replaced. */
  private def twinOf(r: Rng, text: String): String = {
    val ws = text.split(" ")
    val edits = math.max(1, ws.length / 70)
    (0 until edits).foreach { _ =>
      val i = r.nextInt(ws.length)
      ws(i) = "zz" + Words.vocab(r.nextInt(Words.vocab.length))
    }
    ws.mkString(" ")
  }

  def corpus(unique: Int, twins: Int, groups: Int, largestGroup: Int, seed: Long): Corpus = {
    val r = new Rng(seed)
    val uniq = Array.fill(unique)(prose(r, 90 + r.nextInt(61)))
    val pairs = (0 until twins).map { i =>
      var t = twinOf(r, uniq(i))
      while (jaccard(uniq(i), t) < 0.85) t = twinOf(r, uniq(i))
      t
    }
    val boiler = Array.fill(groups)(prose(r, 60))
    val sizes = (1 to groups).map(k => math.max(2, largestGroup / k))
    val texts = uniq.toSeq ++ pairs ++ sizes.zipWithIndex.flatMap { case (s, g) => Seq.fill(s)(boiler(g)) }
    val n = texts.length
    // seeded Fisher-Yates permutation of ids 1000..1000+n-1
    val ids = Array.tabulate(n)(i => 1000L + i)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val docs = Array.tabulate(n)(k => CorpusDoc(ids(k), texts(k)))
    val uniqIds = ids.slice(0, unique)
    val twinIds = ids.slice(unique, unique + twins)
    var at = unique + twins
    val groupMins = sizes.map { s => val m = ids.slice(at, at + s).min; at += s; m }
    val keptOfPairs = (0 until twins).map(k => math.min(uniqIds(k), twinIds(k)))
    val survivors = uniqIds.drop(twins).toSet ++ keptOfPairs ++ groupMins
    val planted = (uniqIds.take(twins) ++ twinIds ++ ids.drop(unique + twins)).toSet
    Corpus(docs, survivors, planted)
  }
}
