package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * resize / frame-sample stages as batched per-partition transforms.
  *
  * Feature extraction, resize and frame sampling run a clearly-marked
  * deterministic STUB (`fakeDecode`, byte-sampling resize): the
  * synthesized test corpus carries text bytes, not real images, and a real
  * decoder would drop into the same `mapPartitions` slot. Image near-dup
  * detection ([[imageNearDups]]) decodes for real through the JDK's
  * `javax.imageio` ([[decodeImage]], probed at runtime via
  * [[codecAvailable]]) and falls back to an exact-bytes content hash for
  * payloads that do not decode.
  */
object MediaOps {
  /** One media object: opaque payload + typed metadata. */
  final case class MediaFile(
      media_id: Long,
      doc_id: Long,
      kind: String,            // image | audio | video
      format: String,          // png | wav | mp4 | ...
      width: Int,
      height: Int,
      duration_ms: Long,
      payload: Array[Byte],
      ts: Timestamp
  )

  /** Decoded/extracted features for one media object. */
  final case class MediaFeatures(
      media_id: Long,
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      sha_lo: Long,            // content hash (integrity / exact dedup key)
      features: Array[Float],  // embedding-like feature vector
      frames: Int              // frames sampled (video) / windows (audio)
  )

  /** ======== STUB: deterministic fake decoder ========
    * A real implementation would decode the payload with an image/audio
    * library here. This stand-in derives a deterministic pseudo-feature
    * vector from the payload bytes so the full pipeline (schema, batch
    * shape, partitioning, downstream ANN) is exercised end-to-end.
    */
  def fakeDecode(payload: Array[Byte], dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < payload.length) {
      h = (h ^ payload(i)) * 0xc2b2ae3d27d4eb4fL
      out(i % dims) += ((h >>> 40).toInt / 16777216.0f) - 0.5f
      i += 1
    }
    out
  }

  private def contentHash(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /** Synthesize a deterministic media table from a documents table: the
    * payload is the UTF-8 text bytes standing in for real image/audio
    * payloads (same opaque-binary plumbing).
    */
  def synthesize(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[MediaFile] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        val payload = text.getBytes("UTF-8")
        val kind = (docId % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val fmt = kind match { case "image" => "png"; case "audio" => "wav"; case _ => "mp4" }
        MediaFile(docId * 10 + 1, docId, kind, fmt,
          width = if (kind == "image") 64 + (docId % 8).toInt * 32 else 0,
          height = if (kind == "image") 64 else 0,
          duration_ms = if (kind != "image") 1000 + (docId % 60) * 250 else 0,
          payload = payload,
          ts = new Timestamp(1700000000000L + docId * 1000))
      }
  }

  /** Decode + feature-extract, batched per partition (the Scala analogue of
    * a vectorized mapInPandas stage: one decoder instance per partition,
    * rows streamed through it).
    */
  def extractFeatures(media: Dataset[MediaFile], dims: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      // per-partition decoder state would be initialized here
      iter.map { m =>
        // a null payload (failed download) is in-domain — zero features,
        // length 0, same as the resize stage's pass-through contract
        val payload = if (m.payload == null) Array.emptyByteArray else m.payload
        val feats = fakeDecode(payload, dims)
        val frames = m.kind match {
          case "video" => math.max(1, (m.duration_ms / 1000).toInt)
          case "audio" => math.max(1, (m.duration_ms / 500).toInt)
          case _       => 1
        }
        MediaFeatures(m.media_id, m.doc_id, m.kind, payload.length,
          contentHash(payload), feats, frames)
      }
    }
  }

  /** ======== REAL codec path (JDK javax.imageio) ======== */

  /** True when the JVM ships image codecs (javax.imageio readers exist).
    * Always true on a standard JDK (java.desktop module); false only on
    * jlink-stripped runtimes, where [[decodeImage]] returns None and
    * [[imageDHash]] takes its content-hash fallback for every row.
    */
  lazy val codecAvailable: Boolean =
    try javax.imageio.ImageIO.getReaderFormatNames.nonEmpty
    catch { case _: Throwable => false }

  /** Real image decode: ImageIO over the payload bytes; None when the
    * payload is not a decodable image (wrong bytes, unknown format).
    * Headless-safe.
    */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload == null || payload.isEmpty || !codecAvailable) None
    else
      // NonFatal, not just IOException: ImageIO plugins throw unchecked
      // exceptions (CMMException, IllegalArgumentException, index errors)
      // on truncated/adversarial payloads — a crawl corpus WILL contain
      // them, and one such row must fall back, not kill the stage
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case scala.util.control.NonFatal(_) => None }

  private def scaleImage(src: java.awt.image.BufferedImage,
                         w: Int, h: Int): java.awt.image.BufferedImage = {
    val dst = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    dst
  }

  /** 64-bit difference hash (dHash) of a decoded image: bilinear-downscale
    * to 9×8, take the luminance, set bit (y·8+x) iff pixel (x,y) is
    * brighter than its right neighbour. Robust to resizing, re-encoding,
    * and mild color shifts — the standard perceptual key for image
    * near-dup dedup; hamming distance between dHashes measures visual
    * difference.
    */
  private[ops] def dHashOf(img: java.awt.image.BufferedImage): Long = {
    val small = scaleImage(img, 9, 8)
    def lum(rgb: Int): Double =
      0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
    var bits = 0L
    var i = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(small.getRGB(x, y)) > lum(small.getRGB(x + 1, y))) bits |= 1L << i
        i += 1
        x += 1
      }
      y += 1
    }
    bits
  }

  /** ======== STUB fallback ======== undecodable payloads have no visual
    * content, so "perceptual similarity" is undefined for them — the only
    * meaningful dedup key is exact bytes. The fallback is therefore a
    * full-avalanche 64-bit content hash: byte-identical payloads collide
    * exactly (hamming 0), and any two DIFFERENT payloads land ~32 bits
    * apart in expectation, far outside every near-dup radius. (A
    * grid-derived pseudo-dHash was tried and rejected: correlated
    * non-image payloads — same-vocabulary text bytes — collided at
    * radius 0, silently inventing visual similarity that does not exist.)
    */
  private[ops] def dHashStub(payload: Array[Byte]): Long = {
    val p = if (payload == null) Array.emptyByteArray else payload
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < p.length) {
      h = (h ^ (p(i) & 0xffL)) * 0xc2b2ae3d27d4eb4fL
      h ^= h >>> 29
      i += 1
    }
    // fmix64 final avalanche: every input bit flips ~half the output bits
    h ^= p.length.toLong
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Perceptual hash per row: `(media_id, doc_id, phash, decoded)`. Real
    * codec path (ImageIO decode → [[dHashOf]]) with the deterministic
    * content-hash fallback for undecodable payloads — one map-side pass,
    * no shuffle. The decode attempt deliberately ignores `kind`: the hash
    * must be a function of the BYTES alone, so a mislabeled row (a real
    * image tagged "video" in a crawl) still pairs with its byte-identical
    * or visually-near twin instead of silently landing in a different
    * hash family. ImageIO fails fast on non-image magic bytes, so the
    * attempt costs a header sniff on audio/video rows.
    */
  def imageDHash(media: Dataset[MediaFile]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      decodeImage(m.payload) match {
        case Some(img) => (m.media_id, m.doc_id, dHashOf(img), true)
        case None => (m.media_id, m.doc_id, dHashStub(m.payload), false)
      }
    }).toDF("media_id", "doc_id", "phash", "decoded")
  }

  /** Image near-dup pairs: dHash map-side, then the generic Hamming-banded
    * candidate join ([[graft.ops.DedupOps.hammingNearDups]]). This wrapper
    * ENFORCES the pigeonhole guarantee — `maxHamming < nBands` — so a
    * caller cannot widen the radius past guaranteed recall without also
    * raising the band count (nBands must divide 64). Output
    * `(id_a, id_b, hamming)` over media_ids; the returned frame is
    * persisted — caller unpersists when done. Only (media_id, 8-byte
    * phash) rows ever shuffle — payload bytes stay at the scan;
    * degenerate perceptual buckets (solid-color thumbnails, a viral meme
    * template) are capped by `maxBucket` with skip accounting.
    *
    * The defaults (radius 3, 4×16-bit bands) are the CORPUS-SCALE shape:
    * 65k bucket values per band hold to ~10^7–10^8 distinct hashes. A
    * wider radius needs nBands = 8, whose 256-value bands are only viable
    * below ~10^5 distinct hashes — beyond that every bucket trips the
    * guard and recall collapses (measured, see BENCH.md; the tradeoff is
    * documented at [[graft.ops.DedupOps.hammingNearDups]]).
    */
  def imageNearDups(media: Dataset[MediaFile], maxHamming: Int = 3,
                    maxBucket: Int = Int.MaxValue, nBands: Int = 4): DataFrame = {
    require(maxHamming < nBands,
      s"maxHamming $maxHamming >= nBands $nBands would lose the pigeonhole " +
        "recall guarantee (a pair can differ in every band and never " +
        "candidate) — raise nBands (must divide 64; mind the bucket-" +
        "cardinality tradeoff documented on hammingNearDups)")
    DedupOps.hammingNearDups(imageDHash(media), "media_id", "phash",
      maxHamming, nBands = nBands, maxBucket = maxBucket)
  }

  /** The deterministic stub resize of a single row. */
  private def stubResizeRow(m: MediaFile, targetW: Int, targetH: Int): MediaFile =
    // empty payload with intact metadata (failed download) passes through
    // rather than indexing an empty array below
    if (m.kind != "image" || m.width <= 0 || m.height <= 0 ||
        m.payload == null || m.payload.isEmpty) m
    else {
      val scale = math.min(1.0,
        (targetW.toLong * targetH).toDouble / (m.width.toLong * m.height))
      val outLen = math.max(1, (m.payload.length * scale).toInt)
      val out = new Array[Byte](outLen)
      var i = 0
      while (i < outLen) {
        // nearest-neighbor byte sampling (stands in for pixel resampling)
        out(i) = m.payload((i.toLong * m.payload.length / outLen).toInt)
        i += 1
      }
      m.copy(width = targetW, height = targetH, payload = out)
    }

  /** Resize stage for image payloads — ======== STUB decode/re-encode:
    * a real implementation decodes, scales, re-encodes; this stand-in
    * deterministically downsamples the payload bytes in proportion to the
    * target area so payload size tracks the resize like a real codec's
    * would. The metadata contract (width/height updated, payload replaced)
    * and the batched per-partition shape are the real plumbing.
    */
  def resizeImages(media: Dataset[MediaFile], targetW: Int, targetH: Int): Dataset[MediaFile] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(stubResizeRow(_, targetW, targetH)))
  }

  /** Frame sampling for video payloads: split the payload into `frames`
    * equal chunks (stub for real frame extraction), emitting one row per
    * sampled frame — the explode-shaped stage a video pipeline needs.
    */
  def sampleFrames(media: Dataset[MediaFile], everyNth: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val frames = math.max(1, (m.duration_ms / 1000).toInt)
      val chunk = math.max(1, m.payload.length / frames)
      (0 until frames by everyNth).map { f =>
        val from = f * chunk
        val until = math.min(m.payload.length, from + chunk)
        (m.media_id, m.doc_id, f, if (from < until) m.payload.slice(from, until) else Array.emptyByteArray)
      }
    }.toDF("media_id", "doc_id", "frame_idx", "frame_payload")
  }
}
