package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal.MediaRow

/** Video columns for a training-data pipeline — the third modality
  * leg beside [[Multimodal.ImageHeaderCodec]] (image) and [[Audio]]
  * (audio): a REAL GIF container parser (logical screen descriptor,
  * NETSCAPE looping application extension, per-frame graphic-control +
  * image-descriptor blocks, length-prefixed data sub-blocks) plus the
  * frame-sampling operator a multimodal pipeline needs. Mirrors the
  * reference's opaque-payload treatment of media blobs (the reference
  * pipelines JSON events and never decodes media; its source schema is
  * typed fields only —
  * `/root/reference/services/processing/src/core/schemas/event_source.py`
  * — with payload bytes never interpreted beyond the declared
  * columns), extended per the brief.
  *
  * The synthetic corpus is a genuine GIF89a byte stream whose frame
  * payloads are the document text's octets sliced frame-by-frame
  * (byte i of n lands in frame i·nFrames/n — the [[Audio]] grid rule),
  * so every parsed field and every per-frame checksum is replayable by
  * the DuckDB oracle from `documents.text` alone.
  *
  * Pixel level: [[synthesizePixelGif]] writes fully valid GIFs — gray
  * global color table, REAL variable-width LZW frame streams
  * ([[GifLzw]], the Appendix-F codec) at 2 bits (4 colors, even
  * doc_id) or 4 bits (16 colors, odd doc_id) — whose pixels follow a
  * deterministic arithmetic rule, and [[frameFeatures]] decodes those
  * streams back and computes per-frame luminance features from the
  * DECODED indices. The oracle restates the features from the pixel
  * rule alone, so a hash match proves the whole
  * synthesize→container→LZW-encode→LZW-decode→feature chain is
  * faithful; VideoSpec additionally cross-checks both codec directions
  * against the JVM's own independent GIF implementation (javax.imageio).
  *
  * Scale shape: synthesis, parse, and frame sampling are all
  * mapPartitions batches over the media column — no shuffle, no
  * driver, one O(n_bytes) pass per blob emitting ≤ n_frames kB rows.
  * At 100 TB the blobs come from object-store parquet and the same
  * walk runs unchanged.
  */
object Video {

  case class VideoMeta(doc_id: Long, width: Int, height: Int,
                       frame_count: Int, loop_count: Int,
                       duration_cs: Long, data_bytes: Long)
  case class VideoFrame(doc_id: Long, frame_idx: Int, delay_cs: Int,
                        data_bytes: Long, payload_sum: Long)

  /** Synthesis parameters — deterministic doc_id/text arithmetic so the
    * oracle can restate them: width 16+id%8, height 8+id%5, loop id%4,
    * frame f delayed 4+f centiseconds, 1+len%6 frames. */
  private def widthOf(id: Long): Int = 16 + (id % 8).toInt
  private def heightOf(id: Long): Int = 8 + (id % 5).toInt
  private def loopOf(id: Long): Int = (id % 4).toInt
  private def framesOf(textLen: Int): Int = 1 + textLen % 6
  private def delayOf(f: Int): Int = 4 + f

  /** Genuine GIF89a container: header + logical screen descriptor (no
    * global color table), NETSCAPE2.0 looping extension, then per frame
    * a graphic control extension, an image descriptor, an LZW
    * minimum-code-size byte and the frame's payload in ≤255-byte
    * sub-blocks. Payload bytes are the text slice for that frame —
    * valid container framing around an opaque payload (no LZW encode;
    * see the object doc). */
  def synthesizeGif(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val n = bytes.length
        val nf = framesOf(n)
        val out = new java.io.ByteArrayOutputStream(64 + n + 16 * nf)
        def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
        out.write("GIF89a".getBytes("US-ASCII"))
        u16(widthOf(id)); u16(heightOf(id))
        out.write(0x00); out.write(0x00); out.write(0x00) // no GCT, bg, aspect
        // NETSCAPE2.0 looping application extension
        out.write(0x21); out.write(0xFF); out.write(11)
        out.write("NETSCAPE2.0".getBytes("US-ASCII"))
        out.write(3); out.write(1); u16(loopOf(id)); out.write(0x00)
        var f = 0
        while (f < nf) {
          // slice [lo, hi): bytes i with i*nf/n == f (empty when n == 0)
          val lo = if (n == 0) 0 else ((f.toLong * n + nf - 1) / nf).toInt
          val hi = if (n == 0) 0 else (((f + 1).toLong * n + nf - 1) / nf).toInt
          out.write(0x21); out.write(0xF9); out.write(4) // GCE
          out.write(0x00); u16(delayOf(f)); out.write(0x00); out.write(0x00)
          out.write(0x2C) // image descriptor: full-frame, no local table
          u16(0); u16(0); u16(widthOf(id)); u16(heightOf(id)); out.write(0x00)
          out.write(0x07) // LZW minimum code size
          var p = lo
          while (p < hi) {
            val len = math.min(255, hi - p)
            out.write(len); out.write(bytes, p, len)
            p += len
          }
          out.write(0x00) // sub-block terminator
          f += 1
        }
        out.write(0x3B) // trailer
        MediaRow(id, "image/gif", out.toByteArray)
      })
  }

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private case class ParsedFrame(idx: Int, delay: Int, bytes: Long, sum: Long,
                                 mcs: Int = 0, payload: Array[Byte] = null,
                                 interlaced: Boolean = false)
  private case class Parsed(meta: VideoMeta, frames: List[ParsedFrame])

  /** Strict GIF block walk — GIF87a/89a magic, screen descriptor,
    * optional global color table, then extensions / image descriptors
    * to the trailer. Per frame it records the preceding graphic-control
    * delay and skips the payload sub-blocks while accumulating byte
    * count and octet checksum (the opaque-payload fingerprint the
    * oracle replays). Hostile-input safe, the [[Audio.parse]] contract:
    * every advance is bounds-checked and > 0, sub-block lengths can't
    * run past the buffer, unknown blocks are malformed (None), and any
    * residual surprise lands in the catch-all None. */
  private def parse(m: MediaRow,
                    wantPixels: Boolean = false): Option[Parsed] = try {
    val b = m.media
    if (b.length < 14) return None
    val magic = new String(b, 0, 6, "US-ASCII")
    if (magic != "GIF89a" && magic != "GIF87a") return None
    val (w, h) = (u16le(b, 6), u16le(b, 8))
    val packed = b(10) & 0xff
    var o = 13
    if ((packed & 0x80) != 0) o += 3 * (1 << ((packed & 0x07) + 1))
    var loop = 0
    var pendingDelay = 0
    var frames = List.empty[ParsedFrame]
    var nFrames = 0
    var done = false
    // skip length-prefixed sub-blocks from `o`, folding (count, sum);
    // `collect` additionally concatenates payload octets (pixel path)
    def subBlocks(from: Int, fold: Boolean,
                  collect: java.io.ByteArrayOutputStream = null
                 ): Option[(Int, Long, Long)] = {
      var p = from
      var cnt = 0L
      var sum = 0L
      while (p < b.length && (b(p) & 0xff) != 0) {
        val len = b(p) & 0xff
        if (p + 1 + len > b.length) return None
        if (fold) {
          var i = p + 1
          while (i < p + 1 + len) { sum += (b(i) & 0xff); i += 1 }
          cnt += len
        }
        if (collect != null) collect.write(b, p + 1, len)
        p += 1 + len
      }
      if (p >= b.length) None else Some((p + 1, cnt, sum))
    }
    while (!done) {
      if (o >= b.length) return None
      (b(o) & 0xff) match {
        case 0x3B => done = true
        case 0x21 => // extension: label, then sub-blocks
          if (o + 2 > b.length) return None
          val label = b(o + 1) & 0xff
          if (label == 0xFF && o + 14 <= b.length && (b(o + 2) & 0xff) == 11 &&
            new String(b, o + 3, 11, "US-ASCII") == "NETSCAPE2.0") {
            // app data sub-block: 03 01 <loop u16le>
            if (o + 18 <= b.length && (b(o + 14) & 0xff) == 3)
              loop = u16le(b, o + 16)
          }
          if (label == 0xF9 && o + 8 <= b.length && (b(o + 2) & 0xff) == 4)
            pendingDelay = u16le(b, o + 4)
          // an extension's fixed-size part is itself length-prefixed, so
          // the generic sub-block skip covers every extension type
          subBlocks(o + 2, fold = false) match {
            case Some((next, _, _)) => o = next
            case None => return None
          }
        case 0x2C => // image descriptor: 10 bytes, optional local table
          if (o + 10 > b.length) return None
          val ipacked = b(o + 9) & 0xff
          var p = o + 10
          if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 0x07) + 1))
          if (p + 1 > b.length) return None
          val mcs = b(p) & 0xff
          p += 1 // past the LZW minimum code size byte
          val collect =
            if (wantPixels) new java.io.ByteArrayOutputStream() else null
          subBlocks(p, fold = true, collect) match {
            case Some((next, cnt, sum)) =>
              frames ::= ParsedFrame(nFrames, pendingDelay, cnt, sum, mcs,
                if (collect == null) null else collect.toByteArray,
                interlaced = (ipacked & 0x40) != 0)
              nFrames += 1; pendingDelay = 0; o = next
            case None => return None
          }
        case _ => return None
      }
    }
    val fs = frames.reverse
    Some(Parsed(VideoMeta(m.doc_id, w, h, nFrames, loop,
      fs.map(_.delay.toLong).sum, fs.map(_.bytes).sum), fs))
  } catch { case scala.util.control.NonFatal(_) => None }

  def decode(m: MediaRow): Option[VideoMeta] = parse(m).map(_.meta)

  def extractMeta(media: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(decode))
  }

  /** Frame sampling — keep every `every`-th frame (idx % every == 0),
    * the decimation step a video pipeline runs before feature
    * extraction. Emits container facts plus the payload octet checksum;
    * a real pixel decoder would slot in where the checksum fold runs. */
  def sampleFrames(media: Dataset[MediaRow],
                   every: Int = 2): Dataset[VideoFrame] = {
    require(every >= 1, s"every=$every must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      parse(m).toSeq.flatMap(_.frames.iterator
        .filter(_.idx % every == 0)
        .map(f => VideoFrame(m.doc_id, f.idx, f.delay, f.bytes, f.sum)))
    })
  }

  /** Oracle twin of synthesize → [[extractMeta]]: every field restated
    * from the synthesis parameters (ASCII corpus: length(text) is the
    * payload octet count; Σ delays = Σ_{f<nf}(4+f) = 4nf + nf(nf−1)/2). */
  def videoMetaSql: String =
    s"""SELECT doc_id,
       |       CAST(16 + doc_id % 8 AS INT) AS width,
       |       CAST(8 + doc_id % 5 AS INT) AS height,
       |       CAST(1 + length(text) % 6 AS INT) AS frame_count,
       |       CAST(doc_id % 4 AS INT) AS loop_count,
       |       CAST(4 * (1 + length(text) % 6)
       |         + (1 + length(text) % 6) * (length(text) % 6) / 2
       |         AS BIGINT) AS duration_cs,
       |       CAST(length(text) AS BIGINT) AS data_bytes
       |FROM documents""".stripMargin

  /** Oracle twin of synthesize → [[sampleFrames]]: a dense frame grid
    * per document (empty docs still carry frame 0), byte i (1-based)
    * assigned to frame (i−1)·nf // n, payload checksum via ascii(). */
  def sampleFramesSql(every: Int = 2): String =
    s"""WITH nf AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         1 + length(text) % 6 AS nf
       |  FROM documents),
       |grid AS (
       |  SELECT doc_id, n, CAST(f.f AS INT) AS frame_idx
       |  FROM nf CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, nf - 1)) AS f) f),
       |bysum AS (
       |  SELECT doc_id, ((i - 1) * (1 + n % 6)) // n AS f,
       |         count(*) AS cnt,
       |         sum(ascii(substr(text, CAST(i AS INT), 1))) AS s
       |  FROM (SELECT doc_id, text, length(text) AS n,
       |          unnest(generate_series(1, length(text))) AS i
       |        FROM documents WHERE length(text) > 0)
       |  GROUP BY 1, 2)
       |SELECT g.doc_id, g.frame_idx,
       |       CAST(4 + g.frame_idx AS INT) AS delay_cs,
       |       CAST(coalesce(b.cnt, 0) AS BIGINT) AS data_bytes,
       |       CAST(coalesce(b.s, 0) AS BIGINT) AS payload_sum
       |FROM grid g
       |LEFT JOIN bysum b ON b.doc_id = g.doc_id AND b.f = g.frame_idx
       |WHERE g.frame_idx % $every = 0""".stripMargin

  // ── pixel-true leg: real LZW streams and decoded-pixel features ──

  case class VideoFeat(doc_id: Long, frame_idx: Int, sum_lum: Long,
                       b0: Long, b1: Long, b2: Long, b3: Long,
                       delta_prev: Long)

  /** Colors per pixel-GIF: 4 (2-bit) for even ids, 16 (4-bit) for odd —
    * both sub-byte LZW widths exercised. min code size = log2(nc). */
  private def colorsOf(id: Long): Int = if (id % 2 == 0) 4 else 16

  /** The SQL-replayable pixel rule: palette index of (x, y) in frame f
    * = (x + 2y + 3f + doc_id + n + t) mod nc, where n is the payload
    * octet count and t the text byte at offset (f·w + x + y) mod n
    * (0 for empty text) — CONTENT-dependent, so the perceptual hash
    * family downstream has real entropy (without t, pixels depended on
    * the document only through a handful of id/length-derived
    * parameters and near-dup demos paired mostly unrelated docs).
    * Still closed-form for the oracle: one ascii(substr(...)) per grid
    * cell, no decoder. */
  private def pixelOf(id: Long, n: Int, f: Int, x: Int, y: Int,
                      nc: Int, w: Int, bytes: Array[Byte]): Byte = {
    val t = if (n == 0) 0L
      else (bytes(((f.toLong * w + x + y) % n).toInt) & 0xff).toLong
    ((x + 2L * y + 3L * f + id + n + t) % nc).toByte
  }

  /** Fully valid GIF89a: gray GLOBAL color table (level i·255/(nc−1)),
    * NETSCAPE loop, per frame a graphic control + image descriptor +
    * genuine LZW-encoded pixel stream from [[pixelOf]]. Same
    * width/height/frame-count/delay/loop arithmetic as
    * [[synthesizeGif]], so the metadata oracles stay shared. */
  def synthesizePixelGif(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val textBytes = text.getBytes("UTF-8")
        val n = textBytes.length
        val nf = framesOf(n)
        val w = widthOf(id); val h = heightOf(id)
        val nc = colorsOf(id)
        val mcs = Integer.numberOfTrailingZeros(nc) // 4→2, 16→4
        val out = new java.io.ByteArrayOutputStream(64 + nf * (16 + w * h))
        def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
        out.write("GIF89a".getBytes("US-ASCII"))
        u16(w); u16(h)
        // GCT present, 8-bit color resolution, size field = mcs-1
        out.write(0x80 | 0x70 | (mcs - 1)); out.write(0x00); out.write(0x00)
        var c = 0
        while (c < nc) { // gray palette: the luminance IS the index scaled
          val g = c * 255 / (nc - 1)
          out.write(g); out.write(g); out.write(g)
          c += 1
        }
        out.write(0x21); out.write(0xFF); out.write(11)
        out.write("NETSCAPE2.0".getBytes("US-ASCII"))
        out.write(3); out.write(1); u16(loopOf(id)); out.write(0x00)
        var f = 0
        while (f < nf) {
          out.write(0x21); out.write(0xF9); out.write(4)
          out.write(0x00); u16(delayOf(f)); out.write(0x00); out.write(0x00)
          out.write(0x2C)
          u16(0); u16(0); u16(w); u16(h); out.write(0x00)
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(y * w + x) = pixelOf(id, n, f, x, y, nc, w, textBytes)
              x += 1
            }
            y += 1
          }
          val lzw = GifLzw.encode(mcs, px)
          out.write(mcs)
          var p = 0
          while (p < lzw.length) {
            val len = math.min(255, lzw.length - p)
            out.write(len); out.write(lzw, p, len)
            p += len
          }
          out.write(0x00)
          f += 1
        }
        out.write(0x3B)
        MediaRow(id, "image/gif", out.toByteArray)
      })
  }

  /** Per-frame luminance features from the DECODED pixel indices:
    * luminance sum, 4-bucket histogram (lum div 64), and the
    * frame-to-frame absolute-luminance delta (the video-dedup /
    * scene-cut signal; 0 for frame 0). Colors-per-pixel comes from the
    * container's LZW min code size, luminance from the gray palette law
    * idx·255/(nc−1) — everything downstream of the real decoder, so a
    * container whose LZW stream doesn't decode to exactly w·h pixels
    * contributes nothing (hostile-input discipline, like [[parse]]).
    * Scale shape: mapPartitions, no shuffle, one decode pass per blob;
    * prev-frame state is one w·h int array per in-flight doc. */
  def frameFeatures(media: Dataset[MediaRow]): Dataset[VideoFeat] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      parse(m, wantPixels = true) match {
        case None => Iterator.empty[VideoFeat]
        case Some(p) =>
          val w = p.meta.width; val h = p.meta.height
          val rows = scala.collection.mutable.ArrayBuffer.empty[VideoFeat]
          var prevLum: Array[Int] = null
          var ok = true
          for (fr <- p.frames if ok) {
            decodedPixels(p, fr) match {
              case None => ok = false
              case Some(px) =>
                val nc = 1 << fr.mcs
                val lum = new Array[Int](px.length)
                var sum = 0L; var delta = 0L
                val b = new Array[Long](4)
                var i = 0
                while (i < px.length) {
                  val l = (px(i) & 0xff) * 255 / (nc - 1)
                  lum(i) = l
                  sum += l
                  b(l / 64) += 1
                  if (prevLum != null) delta += math.abs(l - prevLum(i))
                  i += 1
                }
                rows += VideoFeat(m.doc_id, fr.idx, sum,
                  b(0), b(1), b(2), b(3), if (prevLum == null) 0L else delta)
                prevLum = lum
            }
          }
          if (ok) rows.iterator else Iterator.empty[VideoFeat]
      }
    })
  }

  /** Decoded palette-index frames of a pixel GIF, in frame order —
    * spec surface for cross-checking the LZW decoder against foreign
    * codecs (javax.imageio) byte-for-byte. None if the container or
    * any frame's stream is malformed. */
  /** GIF interlace row order (passes 8/8/4/2 starting 0/4/2/1): map
    * file-order rows back to display order. Our writer never
    * interlaces, but foreign encoders (the JVM's included) do. */
  private def deinterlace(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](px.length)
    var src = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
         y <- start until h by step) {
      System.arraycopy(px, src * w, out, y * w, w); src += 1
    }
    out
  }

  private def decodedPixels(p: Parsed, f: ParsedFrame): Option[Array[Byte]] = {
    val w = p.meta.width; val h = p.meta.height
    GifLzw.decode(f.mcs, f.payload, w * h)
      .map(px => if (f.interlaced) deinterlace(px, w, h) else px)
  }

  private[graft] def decodeFrames(m: MediaRow): Option[Seq[Array[Byte]]] =
    parse(m, wantPixels = true).flatMap { p =>
      val fs = p.frames.map(f => decodedPixels(p, f))
      if (fs.forall(_.isDefined)) Some(fs.map(_.get)) else None
    }

  case class VideoFp(doc_id: Long, vfp: Long)

  /** 63-bit perceptual video hash from DECODED pixels — the
    * [[Audio.AudioFpCodec]] shape lifted to the spatio-temporal grid:
    * 64 slots sweep frame and column together (slot j reads column
    * (j·w) div 64 of frame (j·nf) div 64), each slot's value is that
    * column's luminance sum, and bit j compares slot j+1 against slot
    * j (gradient bits — level-invariant, like every acoustic
    * fingerprint). An exact re-encode of the same frames hashes
    * identically; shifting content by even a few pixels or re-timing
    * frames scrambles roughly half the comparisons.
    *
    * On THIS synthetic corpus the pixel rule gives the codec less
    * entropy than real video would (pixels depend on the doc only
    * through (w, h, nf, nc, (doc_id+n) mod nc) — a few thousand
    * classes), so incidental hamming-0 collisions between same-class
    * docs are expected alongside the planted pairs; the codec itself
    * is content-driven and the plumbing (decode → slots → bands →
    * gated join) is exactly what real footage needs. */
  object VideoFpCodec {
    val Slots = 64
    val Bits: Int = Slots - 1 // 63
  }

  /** (doc_id, vfp) per decodable pixel GIF; containers whose LZW
    * streams don't decode drop out (hostile-input discipline). */
  def videoFp(media: Dataset[MediaRow]): Dataset[VideoFp] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      parse(m, wantPixels = true).flatMap { p =>
        val w = p.meta.width; val h = p.meta.height
        val nf = p.frames.size
        val decoded = p.frames.map(f => decodedPixels(p, f).map(px => (f, px)))
        if (nf == 0 || decoded.exists(_.isEmpty)) None
        else {
          val frames = decoded.map(_.get)
          val v = new Array[Long](VideoFpCodec.Slots)
          var j = 0
          while (j < VideoFpCodec.Slots) {
            val (fr, px) = frames(j * nf / VideoFpCodec.Slots)
            val nc = 1 << fr.mcs
            val x = j * w / VideoFpCodec.Slots
            var y = 0
            var s = 0L
            while (y < h) { s += (px(y * w + x) & 0xff) * 255 / (nc - 1); y += 1 }
            v(j) = s
            j += 1
          }
          var hash = 0L
          j = 0
          while (j < VideoFpCodec.Bits) {
            if (v(j + 1) > v(j)) hash |= 1L << j
            j += 1
          }
          Some(VideoFp(m.doc_id, hash))
        }
      }
    })
  }

  /** Near-duplicate video candidate pairs through
    * [[Multimodal.hammingPairs]]: 63 bits → 7 bands of 9 bits, candidate
    * when ANY band matches, exact hamming gates survivors
    * (pigeonhole-exact for maxHamming < nBands). Never media × media. */
  def videoPairs(media: Dataset[MediaRow], maxHamming: Int = 6,
                 nBands: Int = 7): DataFrame =
    Multimodal.hammingPairs(videoFp(media).toDF(), "vfp", VideoFpCodec.Bits,
      maxHamming, nBands)

  /** The oracle-checked video PAIR demo, mirroring
    * [[Audio.plantedAudioPairs]]: every 20th doc gets an exact copy
    * (the planted-id offset is a multiple of 100 000 — ≡ 0 mod every
    * id-derived GIF parameter (w: id%8, h: id%5, loop: id%4, nc:
    * id%2, pixel phase: (id+n) mod nc ≤ 16), so the copy's container
    * is bit-identical and MUST pair at hamming 0), and every
    * (20k+5)th a 5-char text drift (n changes → frame count and pixel
    * phase both shift → MUST be rejected). Gate default is 2, tighter
    * than audio's 6: slots sharing a (w, nf) trajectory correlate some
    * bits structurally (measured at sf0.01: hamming 0 = exactly the 25
    * planted copies, ≤2 adds a ~25-pair near tail, ≥3 grows into the
    * hundreds), and 2 < nBands keeps the banding pigeonhole-exact. */
  def plantedVideoPairs(docs: DataFrame, maxHamming: Int = 2): DataFrame =
    videoPairs(synthesizePixelGif(Multimodal.plantedCorpus(docs)), maxHamming)

  /** The slot-grid fingerprint CTE chain (reads `documents`, ends in
    * `vfpt(doc_id, vfp)`): the pixel rule replayed per (slot, row) —
    * no decoder, pure arithmetic, the [[videoFeaturesSql]] grid
    * narrowed to one column per slot. */
  private def videoFpCtes: String = {
    val slots = VideoFpCodec.Slots
    s"""d AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         16 + doc_id % 8 AS w, 8 + doc_id % 5 AS h,
       |         1 + length(text) % 6 AS nf,
       |         CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 16 END AS nc
       |  FROM documents),
       |slotv AS (
       |  SELECT d.doc_id, sl.j,
       |         sum((((((sl.j * d.w) // $slots) + 2*yy.y
       |                + 3*((sl.j * d.nf) // $slots)
       |                + d.doc_id + d.n
       |                + CASE WHEN d.n = 0 THEN 0 ELSE ascii(substr(d.text,
       |                    CAST(1 + ((((sl.j * d.nf) // $slots) * d.w
       |                               + ((sl.j * d.w) // $slots)
       |                               + yy.y) % d.n) AS INT), 1))
       |                  END) % d.nc) * 255) // (d.nc - 1)) AS v
       |  FROM d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${slots - 1})) AS j) sl
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, d.h - 1)) AS y) yy
       |  GROUP BY 1, 2),
       |vfpt AS (
       |  SELECT a.doc_id,
       |         CAST(coalesce(sum(CASE WHEN b.v > a.v
       |           THEN 1::BIGINT << a.j ELSE 0 END), 0) AS BIGINT) AS vfp
       |  FROM slotv a JOIN slotv b ON b.doc_id = a.doc_id AND b.j = a.j + 1
       |  WHERE a.j < ${slots - 1}
       |  GROUP BY a.doc_id)""".stripMargin
  }

  /** DuckDB twin of synthesizePixelGif → [[videoFp]] — locks the whole
    * encode→decode→slot-sum→gradient-bit chain per document. */
  def videoFpSql: String =
    s"""WITH $videoFpCtes
       |SELECT doc_id, vfp FROM vfpt""".stripMargin

  /** DuckDB twin of [[plantedVideoPairs]]: planted corpus CTE
    * shadowing `documents`, then the band self-join + hamming gate. */
  def plantedVideoPairsSql(maxHamming: Int = 2, nBands: Int = 7): String = {
    val bandBits = VideoFpCodec.Bits / nBands
    val mask = (1L << bandBits) - 1
    s"""WITH documents AS (
       |  SELECT doc_id, text FROM main.documents
       |  UNION ALL
       |  SELECT doc_id + ${Multimodal.plantedIdOffsetSql}, text
       |  FROM main.documents WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 2 * ${Multimodal.plantedIdOffsetSql}, text || ' tail'
       |  FROM main.documents WHERE doc_id % 20 = 5),
       |$videoFpCtes,
       |bands AS (
       |  SELECT doc_id, vfp, b.band,
       |         (vfp >> (b.band * $bandBits)) & $mask AS bval
       |  FROM vfpt CROSS JOIN (SELECT unnest(range(0, $nBands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |         x.vfp AS fa, y.vfp AS fb
       |  FROM bands x JOIN bands y
       |    ON y.band = x.band AND y.bval = x.bval AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $maxHamming""".stripMargin
  }

  /** Oracle twin of synthesizePixelGif → [[frameFeatures]]: the pixel
    * rule replayed on a doc × frame × y × x generate_series grid —
    * integer-exact luminance (c·255 // (nc−1)), the same div-64
    * buckets, and the f−1 pixel recomputed in place for the delta. */
  def videoFeaturesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         16 + doc_id % 8 AS w, 8 + doc_id % 5 AS h,
       |         1 + length(text) % 6 AS nf,
       |         CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 16 END AS nc
       |  FROM documents),
       |px AS (
       |  SELECT d.doc_id, ff.f, d.nc,
       |         (xx.x + 2*yy.y + 3*ff.f + d.doc_id + d.n
       |          + CASE WHEN d.n = 0 THEN 0 ELSE ascii(substr(d.text,
       |              CAST(1 + ((ff.f*d.w + xx.x + yy.y) % d.n) AS INT), 1))
       |            END) % d.nc AS c,
       |         (xx.x + 2*yy.y + 3*(ff.f-1) + d.doc_id + d.n
       |          + CASE WHEN d.n = 0 THEN 0 ELSE ascii(substr(d.text,
       |              -- double-mod keeps the f=0 row's (gated, unused)
       |              -- position positive instead of feeding substr a
       |              -- negative index; for f >= 1 it equals the plain mod
       |              CAST(1 + ((((ff.f-1)*d.w + xx.x + yy.y) % d.n + d.n)
       |                        % d.n) AS INT), 1))
       |            END) % d.nc AS cp
       |  FROM d
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, d.nf - 1)) AS f) ff
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, d.h - 1)) AS y) yy
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, d.w - 1)) AS x) xx)
       |SELECT doc_id, CAST(f AS INT) AS frame_idx,
       |       CAST(sum((c * 255) // (nc - 1)) AS BIGINT) AS sum_lum,
       |       CAST(sum(CASE WHEN ((c * 255) // (nc - 1)) // 64 = 0
       |                THEN 1 ELSE 0 END) AS BIGINT) AS b0,
       |       CAST(sum(CASE WHEN ((c * 255) // (nc - 1)) // 64 = 1
       |                THEN 1 ELSE 0 END) AS BIGINT) AS b1,
       |       CAST(sum(CASE WHEN ((c * 255) // (nc - 1)) // 64 = 2
       |                THEN 1 ELSE 0 END) AS BIGINT) AS b2,
       |       CAST(sum(CASE WHEN ((c * 255) // (nc - 1)) // 64 = 3
       |                THEN 1 ELSE 0 END) AS BIGINT) AS b3,
       |       CAST(sum(CASE WHEN f = 0 THEN 0
       |                ELSE abs((c * 255) // (nc - 1)
       |                       - (cp * 255) // (nc - 1)) END)
       |         AS BIGINT) AS delta_prev
       |FROM px GROUP BY 1, 2""".stripMargin
}

/** GIF-wire LZW (GIF89a spec Appendix F): variable-width codes
  * starting at minCodeSize+1 bits growing to 12, LSB-first bit
  * packing, CLEAR = 2^mcs and EOI = CLEAR+1, encoder leading with
  * CLEAR and resetting the table when it fills. Both directions are
  * here because the synthesis path needs the encoder and the feature
  * path the decoder; VideoSpec proves interop against javax.imageio's
  * independent implementation in both directions. */
private[graft] object GifLzw {

  /** Encode palette indices at `mcs` minimum code size. The width-bump
    * rule is one add AHEAD of the decoder's (next == 2^w + 1 vs the
    * decoder's next == 2^w) because the encoder registers its table
    * entry at the emission that tells the decoder to register its own —
    * the standard symmetric schedule. */
  def encode(mcs: Int, px: Array[Byte]): Array[Byte] = {
    require(mcs >= 2 && mcs <= 8, s"LZW min code size $mcs out of range")
    val clear = 1 << mcs
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream(px.length)
    var bitBuf = 0L
    var bitCnt = 0
    var codeSize = mcs + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var next = eoi + 1
    emit(clear)
    if (px.nonEmpty) {
      var prefix: Int = px(0) & 0xff
      var i = 1
      while (i < px.length) {
        val k = px(i) & 0xff
        val key = Integer.valueOf((prefix << 8) | k)
        val hit = dict.get(key)
        if (hit != null) prefix = hit.intValue()
        else {
          emit(prefix)
          if (next == 4096) { // table full: clear and restart
            emit(clear)
            dict.clear(); next = eoi + 1; codeSize = mcs + 1
          } else {
            dict.put(key, Integer.valueOf(next)); next += 1
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          }
          prefix = k
        }
        i += 1
      }
      emit(prefix)
    }
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** Decode a frame's concatenated sub-block payload expecting exactly
    * `expected` pixels; None on ANY malformation (short stream, code
    * beyond the table, over-long output, chain corruption) — never a
    * throw, never a loop, the [[Video.parse]] hostile-input contract. */
  def decode(mcs: Int, data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    if (mcs < 2 || mcs > 8) return None
    val clear = 1 << mcs
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream(expected)
    val prefixArr = new Array[Int](4096)
    val tailArr = new Array[Byte](4096)
    var next = eoi + 1
    var codeSize = mcs + 1
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    def read(): Int = {
      while (bitCnt < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt; pos += 1; bitCnt += 8
      }
      if (bitCnt < codeSize) -1
      else {
        val c = (bitBuf & ((1L << codeSize) - 1)).toInt
        bitBuf >>>= codeSize; bitCnt -= codeSize; c
      }
    }
    val tmp = new Array[Byte](4096)
    // write code c's string; composite codes chain through prefixArr
    def emitCode(c: Int): Boolean = {
      var nTmp = 0; var cur = c
      while (cur >= clear) { // composite entries all sit above EOI
        if (nTmp >= 4096 || cur < eoi + 1) return false
        tmp(nTmp) = tailArr(cur); nTmp += 1; cur = prefixArr(cur)
      }
      tmp(nTmp) = cur.toByte; nTmp += 1
      var i = nTmp - 1
      while (i >= 0) { out.write(tmp(i) & 0xff); i -= 1 }
      true
    }
    def firstOf(c: Int): Int = {
      var cur = c
      while (cur >= eoi + 1) cur = prefixArr(cur)
      cur
    }
    var prev = -1
    var finished = false
    while (!finished) {
      val c = read()
      if (c < 0) return None
      if (c == clear) {
        next = eoi + 1; codeSize = mcs + 1; prev = -1
      } else if (c == eoi) {
        finished = true
      } else if (prev == -1) { // first code after clear must be a root
        if (c >= clear) return None
        out.write(c)
        prev = c
      } else {
        if (c > next || c == next && next >= 4096) return None
        if (c == next) { // the K-case: prev's string + its own first char
          prefixArr(next) = prev; tailArr(next) = firstOf(prev).toByte
          if (!emitCode(next)) return None
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        } else {
          if (!emitCode(c)) return None
          if (next < 4096) {
            prefixArr(next) = prev; tailArr(next) = firstOf(c).toByte
            next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
        }
        prev = c
      }
      if (out.size > expected) return None
    }
    if (out.size != expected) None else Some(out.toByteArray)
  }
}
