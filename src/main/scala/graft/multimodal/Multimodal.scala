package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for a training-data pipeline.
  *
  * Media travels as an opaque `binary` column plus typed metadata —
  * the only schema that scales: decode happens late, per-partition, in
  * the executor, never on the driver, and the binary column prunes away
  * when a query doesn't touch it.
  *
  * DECODE IS A STUB: this container ships no image/audio codecs, so
  * [[FakeCodec]] derives deterministic pseudo-metadata from the raw
  * bytes. Every byte of the Spark-side plumbing — binary schema, typed
  * Dataset rows, batch-shaped mapPartitions (the Scala analog of
  * mapInPandas: one iterator per partition, amortized setup), explode of
  * per-frame rows — is real and tested; swapping FakeCodec for a JNI/
  * javax.imageio decoder changes one function.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String, media: Array[Byte])
  case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                       width: Int, height: Int, channels: Int)
  case class Frame(doc_id: Long, frame_idx: Int, offset: Long, frame_bytes: Long)

  /** Deterministic fake decode: metadata derived from leading bytes.
    * ??? -> replace with a real codec (imageio / ffmpeg JNI) outside
    * this container. Kept arithmetic-simple so correctness oracles can
    * recompute it. */
  object FakeCodec {
    def decode(m: MediaRow): MediaMeta = {
      val b0 = if (m.media.length > 0) m.media(0) & 0xff else 0
      val b1 = if (m.media.length > 1) m.media(1) & 0xff else 0
      MediaMeta(m.doc_id, m.media_type, m.media.length.toLong,
        320 + (b0 % 32) * 16, 240 + (b1 % 24) * 16, 3)
    }

    /** Fake frame sampling: nFrames evenly-spaced slices. */
    def sampleFrames(m: MediaRow, nFrames: Int): Seq[Frame] = {
      val n = m.media.length.toLong
      val stride = math.max(n / nFrames, 1L)
      (0 until nFrames).filter(i => i * stride < n).map { i =>
        Frame(m.doc_id, i, i * stride, math.min(stride, n - i * stride))
      }
    }
  }

  /** Real image header codec: parses actual PNG IHDR and JPEG SOF
    * structures straight from the binary column — no java.awt decode, no
    * pixel buffer, just the few header bytes, which is also the right
    * 100 TB shape (metadata extraction must not decompress 100 TB of
    * pixels; full decode belongs to the explicit resize/feature stages).
    * Returns None for bytes that are not a known image container (the
    * synthetic corpus, audio, truncated blobs) — callers fall back to
    * [[FakeCodec]], so deterministic oracle queries are unchanged. */
  object ImageHeaderCodec {
    def isPng(b: Array[Byte]): Boolean =
      b.length > 33 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    def isJpeg(b: Array[Byte]): Boolean =
      b.length > 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

    private def u32(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
    private def u16(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    /** PNG: 8-byte signature, then the IHDR chunk (always first):
      * 4 len + "IHDR" + width u32 + height u32 + bitdepth + colortype. */
    private def png(m: MediaRow): Option[MediaMeta] = {
      val b = m.media
      if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
      val channels = (b(25) & 0xff) match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // gray + alpha
        case 6 => 4 // truecolor + alpha
        case _ => return None
      }
      Some(MediaMeta(m.doc_id, m.media_type, b.length.toLong,
        u32(b, 16), u32(b, 20), channels))
    }

    /** JPEG: walk the marker stream to the first SOFn frame header
      * (precision u8, height u16, width u16, components u8). */
    private def jpeg(m: MediaRow): Option[MediaMeta] = {
      val b = m.media
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // desynced marker stream
        val marker = b(i + 1) & 0xff
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
          i += 2 // standalone marker, no length field
        } else if (marker >= 0xc0 && marker <= 0xcf &&
                   marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (i + 9 >= b.length) return None
          return Some(MediaMeta(m.doc_id, m.media_type, b.length.toLong,
            u16(b, i + 7), u16(b, i + 5), b(i + 9) & 0xff))
        } else {
          i += 2 + u16(b, i + 2) // skip segment payload
        }
      }
      None
    }

    def decode(m: MediaRow): Option[MediaMeta] =
      try {
        if (isPng(m.media)) png(m)
        else if (isJpeg(m.media)) jpeg(m)
        else None
      } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Attach a synthetic binary media column (UTF-8 bytes of the text —
    * the driver corpus has no real media) with a deterministic type tag.
    * In production this column comes straight from parquet/object-store. */
  def synthesizeMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      element_at(lit(Array("image/jpeg", "image/png", "audio/wav")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("media"))
      .as[MediaRow]
  }

  /** Decode/feature-extract: batch-shaped per-partition map — codec
    * setup (the expensive part with a full codec) amortizes across the
    * partition's iterator, exactly like mapInPandas batches. Real image
    * containers get real header parsing ([[ImageHeaderCodec]]); anything
    * else falls back to the deterministic [[FakeCodec]], which keeps the
    * synthetic-corpus oracle exact. */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m =>
      ImageHeaderCodec.decode(m).getOrElse(FakeCodec.decode(m))))
  }

  /** Frame sampling: one input row → nFrames rows. flatMap keeps it
    * streaming-safe and whole-partition batched. */
  def sampleFrames(media: Dataset[MediaRow], nFrames: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap(FakeCodec.sampleFrames(_, nFrames))
  }

  case class Resized(doc_id: Long, media_type: String, width: Int,
                     height: Int, media: Array[Byte])
  case class Features(doc_id: Long, features: Array[Float])

  /** Full-decode image codec (javax.imageio — on every JVM, no native
    * deps): the executor-side pixel path for the stages that genuinely
    * need pixels. Header-only metadata stays in [[ImageHeaderCodec]];
    * this one decompresses, so it belongs ONLY in explicit resize /
    * feature stages, never in metadata queries. Returns None for bytes
    * ImageIO cannot decode — callers fall back to the deterministic
    * stubs, keeping the synthetic-corpus oracles exact. */
  object ImagePixelCodec {
    import java.awt.image.BufferedImage

    private def read(bytes: Array[Byte]): Option[BufferedImage] =
      if (!ImageHeaderCodec.isPng(bytes) && !ImageHeaderCodec.isJpeg(bytes)) None
      else Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))

    /** Aspect-preserving fit into (maxW, maxH), re-encoded as PNG
      * (lossless → byte-deterministic for a given JVM). */
    def resize(m: MediaRow, maxW: Int, maxH: Int): Option[Resized] =
      read(m.media).map { img =>
        val scale = math.min(1.0,
          math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
        val (w, h) = ((img.getWidth * scale).toInt.max(1),
          (img.getHeight * scale).toInt.max(1))
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Resized(m.doc_id, "image/png", w, h, bos.toByteArray)
      }

    /** dim-bin luminance histogram over decoded pixels, L1-normalized —
      * a real (if simple) visual feature, same schema as the stub. */
    def luminanceHistogram(m: MediaRow, dim: Int): Option[Features] =
      read(m.media).map { img =>
        val hist = new Array[Float](dim)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            hist(lum * dim / 256) += 1f
            x += 1
          }
          y += 1
        }
        val n = (img.getWidth.toLong * img.getHeight).max(1L).toFloat
        Features(m.doc_id, hist.map(_ / n))
      }

    /** PHashRows×PHashCols integer mean-luminance grid over decoded
      * pixels (cell (r,c) averages the pixel block [r·H/rows,(r+1)·H/
      * rows) × [c·W/cols,(c+1)·W/cols)) — the perceptual-hash input:
      * invariant under rescaling because the grid averages whatever
      * pixels land in each block. Integer arithmetic end-to-end (the
      * same per-pixel integer luminance as [[luminanceHistogram]]). */
    def lumGrid(m: MediaRow, rows: Int, cols: Int): Option[Array[Long]] =
      read(m.media).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        val sum = new Array[Long](rows * cols)
        val cnt = new Array[Long](rows * cols)
        var y = 0
        while (y < h) {
          val r = y.toLong * rows / h
          var x = 0
          while (x < w) {
            val c = x.toLong * cols / w
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            val i = (r * cols + c).toInt
            sum(i) += lum; cnt(i) += 1
            x += 1
          }
          y += 1
        }
        Array.tabulate(rows * cols)(i => if (cnt(i) == 0) 0L else sum(i) / cnt(i))
      }
  }

  /** Resize: real bilinear rescale + PNG re-encode for decodable images
    * ([[ImagePixelCodec]]); the deterministic proportional-truncation
    * stub for everything else (audio/video would route to their own
    * codecs here). Batch-shaped per-partition map either way. */
  def resize(media: Dataset[MediaRow], maxW: Int = 256, maxH: Int = 256): Dataset[Resized] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      ImagePixelCodec.resize(m, maxW, maxH).getOrElse {
        val meta = FakeCodec.decode(m)
        val scale = math.min(1.0,
          math.min(maxW.toDouble / meta.width, maxH.toDouble / meta.height))
        val (w, h) = ((meta.width * scale).toInt.max(1), (meta.height * scale).toInt.max(1))
        val keep = math.max((m.media.length * scale * scale).toInt, 1)
        Resized(m.doc_id, m.media_type, w, h, m.media.take(keep))
      }
    })
  }

  /** Feature extraction: real luminance histogram for decodable images;
    * the byte-histogram stub otherwise (where a vision/audio model would
    * plug in — batch shape and schema are identical). */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      ImagePixelCodec.luminanceHistogram(m, dim).getOrElse {
        val hist = new Array[Float](dim)
        var i = 0
        while (i < m.media.length) { hist((m.media(i) & 0xff) % dim) += 1f; i += 1 }
        val n = math.max(m.media.length, 1).toFloat
        Features(m.doc_id, hist.map(_ / n))
      }
    })
  }

  case class PHash(doc_id: Long, phash: Long)

  /** Perceptual image hashing (dHash) for multimodal dedup — the image
    * analog of [[graft.dedup.Dedup.simhash]]: a 63-bit gradient hash
    * over a 9×8 integer mean-luminance grid (9 rows × 7 horizontal
    * comparisons each = bits 0..62, deliberately one short of the sign
    * bit so the hash stays a positive BIGINT in every engine). A
    * resized copy of an image averages to (nearly) the same grid, so
    * its hash sits within a few bits of the original; a different
    * image diverges at ~half the bits.
    *
    * Decodable images hash their REAL pixel grid
    * ([[ImagePixelCodec.lumGrid]]); other media fall back to the same
    * grid arithmetic over the raw byte stream (byte p of n lands in
    * cell p·72/n), which is what keeps the synthetic-corpus oracle
    * exact — DuckDB replays it with ascii()/integer division. */
  object PHashCodec {
    val Rows = 9; val Cols = 8
    val Bits: Int = Rows * (Cols - 1) // 63

    def gridFromBytes(bytes: Array[Byte]): Array[Long] = {
      val n = bytes.length
      val cells = Rows * Cols
      val sum = new Array[Long](cells)
      val cnt = new Array[Long](cells)
      var p = 0
      while (p < n) {
        val i = (p.toLong * cells / n).toInt
        sum(i) += bytes(p) & 0xff; cnt(i) += 1
        p += 1
      }
      Array.tabulate(cells)(i => if (cnt(i) == 0) 0L else sum(i) / cnt(i))
    }

    /** bit r·7+c = [cell(r,c+1) > cell(r,c)] — the horizontal
      * brightness gradient, the classic dHash construction. */
    def dhash(grid: Array[Long]): Long = {
      var h = 0L
      var r = 0
      while (r < Rows) {
        var c = 0
        while (c < Cols - 1) {
          if (grid(r * Cols + c + 1) > grid(r * Cols + c))
            h |= 1L << (r * (Cols - 1) + c)
          c += 1
        }
        r += 1
      }
      h
    }

    def of(m: MediaRow): PHash = PHash(m.doc_id,
      dhash(ImagePixelCodec.lumGrid(m, Rows, Cols)
        .getOrElse(gridFromBytes(m.media))))
  }

  /** (doc_id, phash) per media row — batch-shaped like the other
    * decode stages. */
  def phash(media: Dataset[MediaRow]): Dataset[PHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(PHashCodec.of))
  }

  /** The oracle-checked PAIR demo over the synthetic corpus: byte-grid
    * hashes of distinct texts all sit ≥12 bits apart (measured at
    * sf0.01 — the fallback grid is deliberately content-sensitive; the
    * perceptual "resized copy" robustness belongs to the real pixel
    * grid, MultimodalCodecSpec), so the corpus is augmented with
    * planted media: an exact byte copy of every 20th doc (MUST pair at
    * hamming 0) and a 5-byte-tail drift of every (20k+5)th doc (shifts
    * every cell boundary — measured hamming ≥19, MUST be rejected).
    * The surviving pairs are exactly the exact copies, in both
    * engines. */
  def plantedPhashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    phashPairs(synthesizeMedia(plantedCorpus(docs)), maxHamming)

  /** The planted-pair corpus every medium's PAIR demo synthesizes from:
    * (doc_id, text) of `docs` plus an exact copy of every 20th doc and
    * a 5-char-tail drift of every (20k+5)th, at ids offset by one and
    * two [[plantedIdOffset]]s. */
  private[graft] def plantedCorpus(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    val off = plantedIdOffset(docs)
    val copies = d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val drifted = d.filter(col("doc_id") % 20 === 5)
      .select((col("doc_id") + 2 * off).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    d.unionAll(copies).unionAll(drifted)
  }

  /** Planted-id offset guaranteed disjoint from real doc_ids at ANY
    * scale factor: the next multiple of 100 000 past max(doc_id). At
    * sf≤0.1 (max id < 100 000) this is exactly the historical 100 000,
    * so existing oracle hashes are unchanged. Bounded 1-row collect. */
  private[graft] def plantedIdOffset(docs: DataFrame): Long = {
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    (maxId / 100000L + 1L) * 100000L
  }

  /** SQL twin of [[plantedIdOffset]] — a scalar subquery both planted
    * CTEs share. */
  private[graft] val plantedIdOffsetSql: String =
    "(SELECT (max(doc_id) // 100000 + 1) * 100000 FROM main.documents)"

  /** Near-duplicate image candidate pairs, banded like the MinHash LSH
    * path: the 63-bit hash splits into 7 bands of 9 bits; a pair is a
    * candidate when ANY band matches exactly, then the exact hamming
    * distance gates the survivors. h differing bits can break at most
    * h bands, so with maxHamming < nBands the banding is EXACT — every
    * pair inside the gated radius shares at least one intact band
    * (pigeonhole), no recall loss. Output: (a_id, b_id, hamming).
    *
    * Scale shape: identical to MinHash-LSH — the self-join touches
    * band-key collisions only, never media × media; unrelated hashes
    * collide on a 9-bit band with p ≈ 2⁻⁹ per band, so candidate
    * volume tracks the true near-dup count (at 100 TB, widen bands /
    * prepend a coarse grid-quantile key to sparsify further — the
    * same knob MinHash banding exposes). */
  def phashPairs(media: Dataset[MediaRow], maxHamming: Int = 6,
                 nBands: Int = 7): DataFrame =
    hammingPairs(phash(media).toDF(), "phash", PHashCodec.Bits, maxHamming,
      nBands)

  /** The banded Hamming self-join behind every medium's pair operator
    * ([[phashPairs]], [[Audio.audioPairs]], [[Video.videoPairs]]):
    * `fp` holds (doc_id, `fpCol`) with a `bits`-bit fingerprint, split
    * into `nBands` bands of bits/nBands bits; a pair is a candidate
    * when ANY band matches, and the exact hamming distance gates it.
    * Output: (a_id, b_id, hamming), a_id < b_id.
    *
    * `fp` is pinned first (decode once): without it Catalyst plans two
    * full decode subtrees for the self-join (no ReusedExchange across
    * the alias boundary — verified on the executed plan), i.e. the
    * corpus decodes twice. Fingerprint once, pair from the stored
    * hashes — the shape a 100 TB corpus needs anyway (the fp table is
    * what you'd persist). */
  private[graft] def hammingPairs(fp: DataFrame, fpCol: String, bits: Int,
                                  maxHamming: Int, nBands: Int): DataFrame = {
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    val bands = fp.localCheckpoint().select(col("doc_id"), col(fpCol),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col(fpCol), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bval")))
    val a = bands.select(col("doc_id").as("a_id"), col(fpCol).as("fa"),
      col("band"), col("bval"))
    val b = bands.select(col("doc_id").as("b_id"), col(fpCol).as("fb"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(fa ^ fb)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  case class FeatureCount(doc_id: Long, dim: Int, cnt: Long, n_bytes: Long)

  /** Scalarized feature rows for the correctness gate: the byte-histogram
    * underlying [[extractFeatures]], exploded to one (doc, dim) row of
    * exact integer counts. Same mapPartitions batch shape as the float
    * path, but hash-comparable (no array column, no FP division) — this
    * is the oracle-checked face of the feature extractor. */
  def featureCounts(media: Dataset[MediaRow], dim: Int = 8): Dataset[FeatureCount] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      val hist = new Array[Long](dim)
      var i = 0
      while (i < m.media.length) { hist((m.media(i) & 0xff) % dim) += 1; i += 1 }
      (0 until dim).map(d => FeatureCount(m.doc_id, d, hist(d), m.media.length.toLong))
    })
  }

  // ---- DuckDB oracle SQL recomputing the fake decode arithmetically
  // (documents.text is ASCII, so ascii(substr(text,i,1)) == byte i) ----

  def featureCountsSql(dim: Int = 8): String =
    s"""WITH cnt AS (
       |  SELECT doc_id, ascii(substr(text, i, 1)) % $dim AS dim, count(*) AS cnt
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, length(text))) AS i
       |        FROM documents)
       |  GROUP BY 1, 2)
       |SELECT d.doc_id, CAST(dm.dim AS INT) AS dim,
       |       CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
       |       CAST(length(d.text) AS BIGINT) AS n_bytes
       |FROM documents d
       |CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS dim) dm
       |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.dim = dm.dim""".stripMargin

  /** The byte-grid dHash CTE chain (reads `documents`, ends in
    * `ph(doc_id, phash)`): ascii()/integer division replay of
    * [[PHashCodec.gridFromBytes]] (byte p of n → cell p·72/n, integer
    * mean per cell) + dHash bits from right-neighbor comparisons. */
  private def phashCtes: String = {
    val cells = PHashCodec.Rows * PHashCodec.Cols
    val cols = PHashCodec.Cols
    s"""pos AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         unnest(generate_series(1, length(text))) AS p
       |  FROM documents WHERE length(text) > 0),
       |cellsum AS (
       |  SELECT doc_id, ((p - 1) * $cells) // n AS cell,
       |         sum(ascii(substr(text, p, 1))) AS s, count(*) AS cnt
       |  FROM pos GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.doc_id, c.cell, coalesce(cs.s // cs.cnt, 0) AS val
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${cells - 1})) AS cell) c
       |  LEFT JOIN cellsum cs ON cs.doc_id = d.doc_id AND cs.cell = c.cell),
       |ph AS (
       |  SELECT a.doc_id,
       |         CAST(coalesce(sum(CASE WHEN b.val > a.val
       |           THEN 1::BIGINT << ((a.cell // $cols) * ${cols - 1} + (a.cell % $cols))
       |           ELSE 0 END), 0) AS BIGINT) AS phash
       |  FROM grid a JOIN grid b ON b.doc_id = a.doc_id AND b.cell = a.cell + 1
       |  WHERE a.cell % $cols < ${cols - 1}
       |  GROUP BY a.doc_id)""".stripMargin
  }

  /** DuckDB twin of [[phash]] over the synthetic corpus — the 500-row
    * value check that locks the grid + dHash arithmetic. */
  def phashSql: String =
    s"""WITH $phashCtes
       |SELECT doc_id, phash FROM ph""".stripMargin

  /** DuckDB twin of [[plantedPhashPairs]]: the planted corpus as a
    * `documents` CTE shadowing the base table (main.documents stays
    * reachable — the [[graft.text.Curate]] oracle pattern), then the
    * same band self-join and bit_count(xor) hamming gate. */
  def plantedPhashPairsSql(maxHamming: Int = 6, nBands: Int = 7): String = {
    val bandBits = PHashCodec.Bits / nBands
    val mask = (1L << bandBits) - 1
    s"""WITH documents AS (
       |  SELECT doc_id, text FROM main.documents
       |  UNION ALL
       |  SELECT doc_id + $plantedIdOffsetSql, text FROM main.documents
       |  WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 2 * $plantedIdOffsetSql, text || ' tail'
       |  FROM main.documents WHERE doc_id % 20 = 5),
       |$phashCtes,
       |bands AS (
       |  SELECT doc_id, phash, b.band,
       |         (phash >> (b.band * $bandBits)) & $mask AS bval
       |  FROM ph CROSS JOIN (SELECT unnest(range(0, $nBands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |         x.phash AS pa, y.phash AS pb
       |  FROM bands x JOIN bands y
       |    ON y.band = x.band AND y.bval = x.bval AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(pa, pb)) <= $maxHamming""".stripMargin
  }

  def mediaMetaSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
      |                  ELSE 'audio/wav' END AS media_type,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(320 + (CASE WHEN length(text) > 0 THEN ascii(substr(text,1,1)) ELSE 0 END % 32) * 16 AS INT) AS width,
      |  CAST(240 + (CASE WHEN length(text) > 1 THEN ascii(substr(text,2,1)) ELSE 0 END % 24) * 16 AS INT) AS height,
      |  CAST(3 AS INT) AS channels
      |FROM documents""".stripMargin

  def framesSql(nFrames: Int = 4): String =
    s"""WITH m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
       |f AS (SELECT doc_id, n, greatest(n // $nFrames, 1) AS stride FROM m)
       |SELECT doc_id, CAST(i AS INT) AS frame_idx, i * stride AS offset,
       |       least(stride, n - i * stride) AS frame_bytes
       |FROM (SELECT doc_id, n, stride,
       |        unnest(generate_series(0, ${nFrames - 1})) AS i
       |      FROM f)
       |WHERE i * stride < n""".stripMargin
}
