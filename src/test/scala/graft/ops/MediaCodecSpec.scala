package graft.ops

import java.awt.image.BufferedImage
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The real (javax.imageio) media decode path: actual PNG/JPEG bytes are
  * decoded, scaled, re-encoded — and undecodable payloads fall back to the
  * deterministic stub, so a mixed corpus flows end-to-end.
  */
class MediaCodecSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-media-codec-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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

  test("codec resize really decodes and rescales: output is a valid PNG at target dims") {
    val src = media((0L, "image", realImageBytes(40, 30, "png"), 40, 30),
      (3L, "image", realImageBytes(16, 16, "jpg"), 16, 16))
    val out = MediaOps.resizeImagesCodec(src, 8, 8).collect().sortBy(_.media_id)
    out.foreach { m =>
      assert(m.width == 8 && m.height == 8)
      val back = MediaOps.decodeImage(m.payload)
      assert(back.exists(i => i.getWidth == 8 && i.getHeight == 8),
        s"resized payload of ${m.media_id} is not a decodable 8x8 image")
    }
    // bilinear downscale of a gradient preserves ordering along the axis
    val px = MediaOps.decodeImage(out.head.payload).get
    val leftRed = (px.getRGB(0, 4) >> 16) & 0xff
    val rightRed = (px.getRGB(7, 4) >> 16) & 0xff
    assert(leftRed < rightRed, s"gradient lost: $leftRed !< $rightRed")
  }

  test("undecodable payloads fall back to the stub row; non-images pass through") {
    val junk = "definitely not pixels but long enough to sample".getBytes("UTF-8")
    val src = media((0L, "image", junk, 64, 64), (2L, "video", junk, 0, 0))
    val codec = MediaOps.resizeImagesCodec(src, 16, 16).collect().sortBy(_.media_id)
    val stub = MediaOps.resizeImages(src, 16, 16).collect().sortBy(_.media_id)
    codec.zip(stub).foreach { case (c, s) =>
      assert(c.width == s.width && c.height == s.height)
      assert(c.payload.sameElements(s.payload), s"fallback diverged for ${c.media_id}")
    }
    assert(codec.find(_.kind == "video").get.payload.sameElements(junk))
  }

  test("null payload (failed download) is in-domain on every path: no NPE, zero features") {
    val src = media((0L, "image", null, 64, 64), (1L, "video", null, 0, 0))
    // codec features: null payload -> empty features, n_bytes 0 (the same
    // contract the stub resize has for failed downloads)
    val feats = MediaOps.extractFeaturesCodec(src, dims = 8).collect().sortBy(_.media_id)
    feats.foreach { f =>
      assert(f.n_bytes == 0, s"media ${f.media_id}")
      assert(f.features.forall(_ == 0.0f), s"media ${f.media_id}")
    }
    // stub features and both resize paths agree: pass through, no throw
    val stubFeats = MediaOps.extractFeatures(src, dims = 8).collect().sortBy(_.media_id)
    feats.zip(stubFeats).foreach { case (c, s) =>
      assert(c.n_bytes == s.n_bytes && c.sha_lo == s.sha_lo)
    }
    assert(MediaOps.resizeImagesCodec(src, 8, 8).collect().forall(_.payload == null))
    assert(MediaOps.resizeImages(src, 8, 8).collect().forall(_.payload == null))
  }

  /** A real WAV container: 16-bit signed PCM mono sine at `freqHz`. */
  private def realWavBytes(freqHz: Double, seconds: Double, rate: Float = 8000f,
                           amplitude: Double = 0.5): Array[Byte] = {
    import javax.sound.sampled._
    val n = (seconds * rate).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * freqHz * i / rate) * amplitude * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16, 1, 2, rate, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio codec probe: JDK javax.sound.sampled decodes a real WAV with exact sample count") {
    assert(MediaOps.audioCodecAvailable)
    val rate = 8000f
    val clip = MediaOps.decodeAudio(realWavBytes(440.0, seconds = 0.5, rate = rate))
    assert(clip.isDefined, "synthesized WAV did not decode")
    // exact round-trip: 0.5 s at 8 kHz = 4000 mono samples at the same rate
    assert(clip.get.samples.length == 4000, s"got ${clip.get.samples.length} samples")
    assert(clip.get.sampleRate == rate)
    // samples are real sine values in [-1, 1] peaking near the amplitude
    val peak = clip.get.samples.map(math.abs).max
    assert(peak > 0.45f && peak <= 0.51f, s"peak $peak")
    // junk bytes decode to None, not an exception
    assert(MediaOps.decodeAudio("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(MediaOps.decodeAudio(Array.emptyByteArray).isEmpty)
    // a VALID WAV with an empty data chunk decodes to zero samples and
    // keeps the frames >= 1 invariant (no downstream divide-by-zero)
    val emptyClip = MediaOps.decodeAudio(realWavBytes(440.0, seconds = 0.0, rate = rate))
    assert(emptyClip.exists(_.samples.isEmpty))
    val (feats, frames) = MediaOps.audioFeatures(emptyClip.get, dims = 8)
    assert(frames == 1 && feats.forall(_ == 0.0f))
  }

  test("audio features: per-window RMS matches the sine's a/sqrt(2), ZCR tracks frequency") {
    val rate = 8000f
    val freq = 400.0
    val wav = realWavBytes(freq, seconds = 1.0, rate = rate, amplitude = 0.5)
    val s = spark; import s.implicits._
    val src = spark.createDataset(Seq(MediaOps.MediaFile(
      11L, 1L, "audio", "wav", 0, 0, 1000L, wav,
      new java.sql.Timestamp(1700000000000L))))
    val f = MediaOps.extractFeaturesCodec(src, dims = 8).collect().head
    // 4 windows of (rms, zcr): sine RMS = a/sqrt(2) ~= 0.354; each window
    // sees the same stationary signal
    assert(f.frames == 4, s"frames ${f.frames}")
    for (w <- 0 until 4) {
      val rms = f.features(2 * w)
      assert(math.abs(rms - 0.5 / math.sqrt(2)) < 0.02, s"window $w rms $rms")
      // a 400 Hz sine crosses zero 2*400 times/s -> zcr ~= 800/8000 = 0.1
      val zcr = f.features(2 * w + 1)
      assert(math.abs(zcr - 2 * freq / rate) < 0.02, s"window $w zcr $zcr")
    }
    // the stub path is untouched: undecodable "audio" rows keep the stub's
    // deterministic fake features and duration-derived frame count
    val junk = spark.createDataset(Seq(MediaOps.MediaFile(
      12L, 2L, "audio", "wav", 0, 0, 2000L, "junk bytes".getBytes("UTF-8"),
      new java.sql.Timestamp(1700000000000L))))
    val g = MediaOps.extractFeaturesCodec(junk, dims = 8).collect().head
    assert(g.frames == 4) // 2000 ms / 500
    assert(g.features.toSeq == MediaOps.fakeDecode("junk bytes".getBytes("UTF-8"), 8).toSeq)
  }

  test("codec features: per-cell RGB means reflect real pixel content; deterministic") {
    // left half black, right half white -> first-row cells dark to bright
    val w = 32; val h = 32
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val src = media((0L, "image", bos.toByteArray, w, h))
    val f1 = MediaOps.extractFeaturesCodec(src, dims = 12).collect().head
    val f2 = MediaOps.extractFeaturesCodec(src, dims = 12).collect().head
    assert(f1.features.toSeq == f2.features.toSeq)
    // grid = 2x2, 3 channels: cells 0-2 = top-left (dark), 3-5 = top-right
    assert(f1.features(0) < 0.3f, s"left cell should be dark: ${f1.features.toSeq}")
    assert(f1.features(3) > 0.7f, s"right cell should be bright: ${f1.features.toSeq}")
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

  /** Amplitude-modulated sine: the ENVELOPE (at `envHz`) is the content
    * the audio fingerprint keys on; the carrier is perceptually the
    * texture.
    */
  private def modulatedWavBytes(envHz: Double, seconds: Double,
                                rate: Float = 8000f,
                                carrierHz: Double = 440.0,
                                amplitude: Double = 0.5): Array[Byte] = {
    import javax.sound.sampled._
    val n = (seconds * rate).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val env = 0.5 + 0.5 * math.sin(2 * math.Pi * envHz * i / rate)
      val s = (math.sin(2 * math.Pi * carrierHz * i / rate) * env * amplitude * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16, 1, 2, rate, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio fingerprint: amplitude- and resample-invariant, separates different envelopes") {
    def fp(bytes: Array[Byte]): Long =
      MediaOps.audioEnvelopeHash(MediaOps.decodeAudio(bytes).get)
    val base = fp(modulatedWavBytes(3.0, seconds = 1.0, rate = 8000f, amplitude = 0.5))
    val quiet = fp(modulatedWavBytes(3.0, seconds = 1.0, rate = 8000f, amplitude = 0.1))
    assert(hamming(base, quiet) <= 2,
      s"uniform amplitude scaling must preserve the envelope hash: ${hamming(base, quiet)}")
    val resampled = fp(modulatedWavBytes(3.0, seconds = 1.0, rate = 16000f, amplitude = 0.5))
    assert(hamming(base, resampled) <= 4,
      s"resampling must barely move the hash: ${hamming(base, resampled)}")
    val different = fp(modulatedWavBytes(7.0, seconds = 1.0, rate = 8000f, amplitude = 0.5))
    assert(hamming(base, different) > 12,
      s"a different envelope must be far: ${hamming(base, different)}")
  }

  test("audioNearDups pairs envelope twins across rates, not different content; stub for junk") {
    val junk = "not audio".getBytes("UTF-8")
    val src = media(
      (1L, "audio", modulatedWavBytes(3.0, 1.0, 8000f), 0, 0),        // 11
      (2L, "audio", modulatedWavBytes(3.0, 1.0, 16000f), 0, 0),       // 21: resampled twin
      (3L, "audio", modulatedWavBytes(7.0, 1.0, 8000f), 0, 0),        // 31: different envelope
      (4L, "audio", junk, 0, 0),                                      // 41: stub
      (5L, "audio", junk.clone(), 0, 0))                              // 51: stub twin
    val pairs = MediaOps.audioNearDups(src, maxHamming = 6, nBands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((11L, 21L)), s"resampled twin must pair: $pairs")
    assert(pairs.contains((41L, 51L)) && pairs((41L, 51L)) == 0)
    assert(!pairs.keySet.exists(p => p._1 == 31L || p._2 == 31L),
      s"different envelope must not pair: $pairs")
    intercept[IllegalArgumentException](MediaOps.audioNearDups(src, maxHamming = 9))
  }

  test("dedupImages keeps one representative per visual cluster, min media_id") {
    val junk = "junk payload not an image".getBytes("UTF-8")
    val inv = invertedImageBytes(64, 48)
    val src = media(
      (1L, "image", realImageBytes(64, 48, "png"), 64, 48),   // 11: cluster A keeper
      (2L, "image", realImageBytes(128, 96, "png"), 128, 96), // 21: A (resized twin)
      (3L, "image", realImageBytes(96, 72, "png"), 96, 72),   // 31: A (another size)
      (4L, "image", inv, 64, 48),                             // 41: distinct, survives
      (5L, "image", junk, 0, 0),                              // 51: stub cluster keeper
      (6L, "image", junk.clone(), 0, 0))                      // 61: stub twin, drops
    val survivors = MediaOps.dedupImages(src, maxHamming = 6, nBands = 8)
      .collect().map(_.media_id).toSet
    assert(survivors == Set(11L, 41L, 51L), s"got $survivors")
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
