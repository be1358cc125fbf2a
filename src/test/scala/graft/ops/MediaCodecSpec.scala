package graft.ops

import java.awt.image.BufferedImage
import java.sql.Timestamp

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The real (javax.imageio) decode behind image near-dup detection: actual
  * PNG bytes are decoded and dHashed, undecodable payloads take the exact
  * content-hash fallback; plus the generic Hamming-banded pair join and the
  * stub stages' null-payload contract.
  */
class MediaCodecSpec extends AnyFunSuite with SparkSuite {
  override protected def cores: Int = 2

  /** A real encoded image: a gradient so resampling has structure. */
  private def realImageBytes(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private def media(rows: (Long, String, Array[Byte], Int, Int)*) = {
    val s = spark; import s.implicits._
    spark.createDataset(rows.map { case (id, kind, payload, w, h) =>
      MediaOps.MediaFile(id * 10 + 1, id, kind,
        if (kind == "image") "png" else "mp4", w, h,
        if (kind == "image") 0L else 2000L, payload,
        new Timestamp(1700000000000L + id))
    })
  }

  test("codec probe: JDK imageio is present and decodes what it encodes") {
    assert(MediaOps.codecAvailable)
    val png = realImageBytes(20, 12, "png")
    val img = MediaOps.decodeImage(png)
    assert(img.exists(i => i.getWidth == 20 && i.getHeight == 12))
    // junk bytes decode to None, not an exception
    assert(MediaOps.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(MediaOps.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("null payload (failed download) is in-domain on every path: no NPE, zero features") {
    val src = media((0L, "image", null, 64, 64), (1L, "video", null, 0, 0))
    // stub features: null payload -> empty features, n_bytes 0; resize
    // passes the row through untouched
    val feats = MediaOps.extractFeatures(src, dims = 8).collect().sortBy(_.media_id)
    assert(feats.length == 2)
    feats.foreach { f =>
      assert(f.n_bytes == 0, s"media ${f.media_id}")
      assert(f.features.forall(_ == 0.0f), s"media ${f.media_id}")
    }
    assert(MediaOps.resizeImages(src, 8, 8).collect().forall(_.payload == null))
  }

  // ---- perceptual hashing (dHash) -----------------------------------------

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** The structural opposite of [[realImageBytes]]' gradient. */
  private def invertedImageBytes(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        (((w - 1 - x) * 255 / w) << 16) | (((h - 1 - y) * 255 / h) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash is resize-invariant on real images and separates different content") {
    def h(bytes: Array[Byte]): Long =
      MediaOps.dHashOf(MediaOps.decodeImage(bytes).get)
    val small = h(realImageBytes(64, 48, "png"))
    val big = h(realImageBytes(128, 96, "png"))    // SAME gradient, 2x size
    assert(hamming(small, big) <= 4,
      s"resize must barely move the dHash: ${hamming(small, big)}")
    // inverted gradient: structurally opposite image
    val inv = h(invertedImageBytes(64, 48))
    assert(hamming(small, inv) > 20,
      s"opposite content must be far: ${hamming(small, inv)}")
  }

  test("imageNearDups finds resized twins (real codec) and exact stub collisions, not distinct content") {
    val junk = "definitely not an image payload".getBytes("UTF-8")
    val inv = invertedImageBytes(64, 48)
    val src = media(
      (1L, "image", realImageBytes(64, 48, "png"), 64, 48),   // media_id 11
      (2L, "image", realImageBytes(128, 96, "png"), 128, 96), // media_id 21: resized twin
      (3L, "image", inv, 64, 48),                             // media_id 31: different
      (4L, "image", junk, 0, 0),                              // media_id 41: stub path
      (5L, "image", junk.clone(), 0, 0),                      // media_id 51: stub twin
      (6L, "video", realImageBytes(64, 48, "png"), 64, 48))   // 61: MISLABELED image
    val hashes = MediaOps.imageDHash(src).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(hashes(11L)._2 && hashes(21L)._2 && hashes(31L)._2, "real images decode")
    assert(!hashes(41L)._2 && !hashes(51L)._2, "junk takes the stub path")
    assert(hashes(41L)._1 == hashes(51L)._1, "byte-identical stubs collide exactly")
    // the hash is a function of the bytes, not the kind label: a real
    // image mislabeled "video" still decodes and hashes identically
    assert(hashes(61L)._2 && hashes(61L)._1 == hashes(11L)._1,
      "mislabeled image must hash via the codec path")
    val pairs = MediaOps.imageNearDups(src, maxHamming = 6, nBands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((11L, 21L)), s"resized twin must pair: $pairs")
    assert(pairs.contains((41L, 51L)) && pairs((41L, 51L)) == 0)
    assert(pairs.contains((11L, 61L)) && pairs((11L, 61L)) == 0,
      s"mislabeled byte-identical image must pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 31L || p._2 == 31L),
      s"distinct content must not pair: $pairs")
    // radius past the band count would lose guaranteed recall: rejected
    intercept[IllegalArgumentException](MediaOps.imageNearDups(src, maxHamming = 8))
  }

  test("hammingNearDups: pigeonhole recall guarantee and radius cut") {
    val rnd = new scala.util.Random(31)
    def flip(sig: Long, n: Int): Long = {
      var s = sig
      rnd.shuffle((0 until 64).toList).take(n).foreach(b => s ^= 1L << b)
      s
    }
    val bases = (0 until 50).map(i => (i.toLong * 2, rnd.nextLong()))
    // plant twins at hamming 1..7 (all < 8 bands -> guaranteed recall)
    val twins = bases.take(7).zipWithIndex.map { case ((id, sig), i) =>
      (id + 1, flip(sig, i + 1))
    }
    // and one far pair at hamming 20 (over the radius -> excluded)
    val far = Seq((999L, flip(bases.head._2, 20)))
    val sigs = spark.createDataFrame(bases ++ twins ++ far).toDF("id", "sig")
    // explicit 8-band opt-in: the scale-safe default is 4 bands (radius 3)
    val pairs = DedupOps.hammingNearDups(sigs, "id", "sig", maxHamming = 7, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    twins.zip(bases.take(7)).foreach { case ((tid, _), (bid, _)) =>
      assert(pairs.contains((bid, tid)), s"planted twin ($bid,$tid) missed: $pairs")
    }
    assert(!pairs.exists(p => p._1 == 999L || p._2 == 999L),
      "a hamming-20 pair is outside the radius")
    intercept[IllegalArgumentException](
      DedupOps.hammingNearDups(sigs, "id", "sig", nBands = 7))
  }

  test("hammingNearDups: tinyint and smallint columns are integral, strings are not") {
    // Spark names these types tinyint/smallint, not byte/short
    val sigs = spark.createDataFrame(Seq((1.toByte, 7.toShort), (2.toByte, 6.toShort),
        (3.toByte, -1.toShort)))
      .toDF("id", "sig")
    val pairs = DedupOps.hammingNearDups(sigs, "id", "sig")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 1)), pairs.toString)
    intercept[IllegalArgumentException](
      DedupOps.hammingNearDups(sigs.selectExpr("cast(id as string) as id", "sig"), "id", "sig"))
  }
}
