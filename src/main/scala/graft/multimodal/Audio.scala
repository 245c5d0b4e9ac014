package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal.MediaRow

/** Audio columns for a training-data pipeline — the audio analog of
  * [[Multimodal.ImageHeaderCodec]]: a REAL RIFF/WAVE container parser
  * (chunk walk, little-endian fmt fields) plus sample-level feature
  * extraction, both pure-JVM executor-side code. The synthetic corpus
  * is genuine PCM WAV bytes built from the document text (8-bit mono
  * 8 kHz; each UTF-8 octet is one unsigned sample), which makes every
  * parsed field and every frame energy replayable by the DuckDB oracle
  * from the text alone — the codec's output is pinned against the
  * synthesis parameters end-to-end.
  *
  * Scale shape: synthesis, parse, and feature extraction are all
  * mapPartitions batches over the media column (no shuffle, no
  * driver); at 100 TB the WAV bytes come from object-store parquet and
  * the same chunk-walk/energy loops run unchanged — frame energies are
  * one O(n_bytes) pass per blob, emitted as nFrames kB-sized rows.
  */
object Audio {

  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
                       bits: Int, n_samples: Long, duration_ms: Long)
  case class FrameEnergy(doc_id: Long, frame: Int, n_samples: Long,
                         energy: Long)

  private val Rate = 8000

  /** Genuine 44-byte-header PCM WAV: RIFF size, fmt (PCM, mono,
    * 8 kHz, 8-bit), data chunk = the text's UTF-8 octets as unsigned
    * samples. */
  def synthesizeWav(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val pcm = text.getBytes("UTF-8")
        val bb = java.nio.ByteBuffer.allocate(44 + pcm.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1) // PCM, mono
          .putInt(Rate).putInt(Rate) // sample rate, byte rate
          .putShort(1).putShort(8) // block align, bits
          .put("data".getBytes("US-ASCII")).putInt(pcm.length)
          .put(pcm)
        MediaRow(id, "audio/wav", bb.array())
      })
  }

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Parsed container facts the public [[AudioMeta]] doesn't carry:
    * where the data chunk's payload starts and how many of its bytes
    * are actually present in the blob. */
  private case class Parsed(meta: AudioMeta, dataOff: Int, dataLen: Long)

  /** Strict RIFF chunk walk: WAVE form, then fmt / data chunks in any
    * order (the container permits LIST/fact chunks between them).
    * None for anything malformed — callers decide the fallback, the
    * [[Multimodal.ImageHeaderCodec]] contract. Hostile-input safe:
    * chunk sizes are u32s advanced in Long arithmetic (a 0xFFFFFFF8
    * size can neither loop forever nor go negative), a data-size
    * header larger than the remaining payload is clamped to the bytes
    * actually present, a zero bytes-per-sample (bits < 8) is rejected,
    * and any residual surprise lands in the catch-all None. */
  private def parse(m: MediaRow): Option[Parsed] = try {
    val b = m.media
    if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") None
    else {
      var o = 12L
      var (rate, ch, bits) = (-1, -1, -1)
      var dataOff = -1
      var dataLen = -1L
      while (o + 8 <= b.length) {
        val oi = o.toInt
        val (id, sz) = (tag(b, oi), u32(b, oi + 4))
        if (id == "fmt " && o + 24 <= b.length) {
          ch = u16(b, oi + 10); rate = u32(b, oi + 12).toInt
          bits = u16(b, oi + 22)
        } else if (id == "data") {
          dataOff = oi + 8
          dataLen = math.min(sz, (b.length - dataOff).toLong)
        }
        o += 8L + sz + (sz & 1L) // word-aligned; Long math, advance ≥ 8
      }
      val bytesPerSample = ch.toLong * bits / 8
      if (rate <= 0 || ch <= 0 || bits <= 0 || dataLen < 0 ||
        bytesPerSample <= 0) None
      else {
        val n = dataLen / bytesPerSample
        Some(Parsed(AudioMeta(m.doc_id, rate, ch, bits, n, n * 1000L / rate),
          dataOff, dataLen))
      }
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  def decode(m: MediaRow): Option[AudioMeta] = parse(m).map(_.meta)

  def extractMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(decode))
  }

  /** Per-frame signal energy over the 8-bit unsigned samples:
    * Σ (s − 128)² with sample i assigned to frame (i·nFrames) div n —
    * one O(n) pass per blob. Integer arithmetic end-to-end, so the
    * oracle replays it from the source text with ascii(). */
  def frameEnergy(media: Dataset[MediaRow],
                  nFrames: Int = 4): Dataset[FrameEnergy] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      parse(m).toSeq.flatMap { p =>
        val n = p.meta.n_samples.toInt
        val off = p.dataOff // the data chunk's payload, not the blob tail
        val (cnt, en) = (new Array[Long](nFrames), new Array[Long](nFrames))
        var i = 0
        while (i < n) {
          val f = (i.toLong * nFrames / n).toInt
          val d = (m.media(off + i) & 0xff) - 128
          cnt(f) += 1; en(f) += d.toLong * d
          i += 1
        }
        (0 until nFrames).filter(cnt(_) > 0)
          .map(f => FrameEnergy(m.doc_id, f, cnt(f), en(f)))
      }
    })
  }

  case class AudioFp(doc_id: Long, afp: Long)

  /** Acoustic fingerprinting for audio near-dup detection — the audio
    * analog of [[Multimodal.PHashCodec]]'s image dHash: a 63-bit
    * energy-gradient hash over a 64-frame integer energy grid (bit f =
    * [energy(f+1) > energy(f)], f = 0..62 — one short of the sign bit
    * so the hash stays a positive BIGINT in every engine). An exact
    * copy of a clip fingerprints identically (hamming 0); shifting the
    * frame boundaries (even a 5-sample tail) scrambles ~half the
    * gradient bits — byte-slice grids are boundary-sensitive, which is
    * why the planted-pair gate plants EXACT copies, the measured
    * [[Multimodal.plantedPhashPairs]] lesson. Frames with no samples
    * keep energy 0 (dense grid), so the DuckDB oracle replays the hash
    * from the source text with ascii() alone. */
  object AudioFpCodec {
    val Frames = 64
    val Bits: Int = Frames - 1 // 63

    def of(m: MediaRow): Option[AudioFp] = parse(m).map { p =>
      val n = p.meta.n_samples.toInt
      val off = p.dataOff
      val en = new Array[Long](Frames)
      var i = 0
      while (i < n) {
        val f = (i.toLong * Frames / n).toInt
        val d = (m.media(off + i) & 0xff) - 128
        en(f) += d.toLong * d
        i += 1
      }
      var h = 0L
      var f = 0
      while (f < Bits) {
        if (en(f + 1) > en(f)) h |= 1L << f
        f += 1
      }
      AudioFp(p.meta.doc_id, h)
    }
  }

  /** (doc_id, afp) per decodable media row — same mapPartitions batch
    * shape as the other codecs; undecodable blobs drop out. */
  def audioFp(media: Dataset[MediaRow]): Dataset[AudioFp] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(AudioFpCodec.of))
  }

  /** Near-duplicate audio candidate pairs through
    * [[Multimodal.hammingPairs]]: 63 bits → 7 bands of 9 bits, candidate
    * when ANY band matches, exact hamming gates survivors. With
    * maxHamming < nBands the banding is EXACT (pigeonhole: h flipped
    * bits break at most h bands). Scale shape: band-key equi-join over
    * collisions only, never media × media — unrelated fingerprints
    * collide on a 9-bit band with p ≈ 2⁻⁹. */
  def audioPairs(media: Dataset[MediaRow], maxHamming: Int = 6,
                 nBands: Int = 7): DataFrame =
    Multimodal.hammingPairs(audioFp(media).toDF(), "afp", AudioFpCodec.Bits,
      maxHamming, nBands)

  /** The oracle-checked audio PAIR demo: the corpus plus an exact WAV
    * copy of every 20th doc (MUST pair at hamming 0) and a 5-char-tail
    * drift of every (20k+5)th doc (shifts every frame boundary — MUST
    * be rejected). Planted ids via [[Multimodal.plantedIdOffset]], so
    * they stay disjoint from real doc_ids at any scale factor. */
  def plantedAudioPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    audioPairs(synthesizeWav(Multimodal.plantedCorpus(docs)), maxHamming)

  /** The energy-grid fingerprint CTE chain (reads `documents`, ends in
    * `afpt(doc_id, afp)`): ascii() replay of [[AudioFpCodec]] — sample
    * i of n lands in frame i·64/n, Σ(s−128)² per frame over a DENSE
    * 64-frame grid (absent frames are 0), gradient bits from
    * next-frame comparisons. */
  private def audioFpCtes: String = {
    val frames = AudioFpCodec.Frames
    s"""pos AS (
       |  SELECT doc_id, text, length(text) AS n,
       |         unnest(generate_series(1, length(text))) AS i
       |  FROM documents WHERE length(text) > 0),
       |fen AS (
       |  SELECT doc_id, ((i - 1) * $frames) // n AS f,
       |         sum((ascii(substr(text, i, 1)) - 128)
       |           * (ascii(substr(text, i, 1)) - 128)) AS en
       |  FROM pos GROUP BY 1, 2),
       |grid AS (
       |  SELECT d.doc_id, fr.f, coalesce(fe.en, 0) AS en
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${frames - 1})) AS f) fr
       |  LEFT JOIN fen fe ON fe.doc_id = d.doc_id AND fe.f = fr.f),
       |afpt AS (
       |  SELECT a.doc_id,
       |         CAST(coalesce(sum(CASE WHEN b.en > a.en
       |           THEN 1::BIGINT << a.f ELSE 0 END), 0) AS BIGINT) AS afp
       |  FROM grid a JOIN grid b ON b.doc_id = a.doc_id AND b.f = a.f + 1
       |  WHERE a.f < ${frames - 1}
       |  GROUP BY a.doc_id)""".stripMargin
  }

  /** DuckDB twin of synthesize → [[audioFp]] — the per-row value check
    * that locks the frame grid + gradient arithmetic. */
  def audioFpSql: String =
    s"""WITH $audioFpCtes
       |SELECT doc_id, afp FROM afpt""".stripMargin

  /** DuckDB twin of [[plantedAudioPairs]]: planted corpus as a
    * `documents` CTE shadowing the base table, then the same band
    * self-join and bit_count(xor) hamming gate. */
  def plantedAudioPairsSql(maxHamming: Int = 6, nBands: Int = 7): String = {
    val bandBits = AudioFpCodec.Bits / nBands
    val mask = (1L << bandBits) - 1
    s"""WITH documents AS (
       |  SELECT doc_id, text FROM main.documents
       |  UNION ALL
       |  SELECT doc_id + ${Multimodal.plantedIdOffsetSql}, text
       |  FROM main.documents WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 2 * ${Multimodal.plantedIdOffsetSql}, text || ' tail'
       |  FROM main.documents WHERE doc_id % 20 = 5),
       |$audioFpCtes,
       |bands AS (
       |  SELECT doc_id, afp, b.band,
       |         (afp >> (b.band * $bandBits)) & $mask AS bval
       |  FROM afpt CROSS JOIN (SELECT unnest(range(0, $nBands)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |         x.afp AS fa, y.afp AS fb
       |  FROM bands x JOIN bands y
       |    ON y.band = x.band AND y.bval = x.bval AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $maxHamming""".stripMargin
  }

  /** Oracle twin of synthesize → [[extractMeta]]: every parsed field
    * restated from the synthesis parameters and the text's octet
    * length. */
  def audioMetaSql: String =
    s"""SELECT doc_id, $Rate AS sample_rate, 1 AS channels, 8 AS bits,
       |       CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
       |       CAST(octet_length(encode(text)) * 1000 // $Rate AS BIGINT)
       |         AS duration_ms
       |FROM documents""".stripMargin

  /** Oracle twin of synthesize → [[frameEnergy]] (ASCII corpus: one
    * octet per char, so ascii() IS the sample value). */
  def frameEnergySql(nFrames: Int = 4): String =
    s"""WITH samples AS (
       |  SELECT doc_id, i,
       |         ascii(substring(text, CAST(i AS INT), 1)) AS s,
       |         length(text) AS n
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, length(text))) AS i
       |        FROM documents))
       |SELECT doc_id, CAST((i - 1) * $nFrames // n AS INT) AS frame,
       |       CAST(count(*) AS BIGINT) AS n_samples,
       |       CAST(sum((s - 128) * (s - 128)) AS BIGINT) AS energy
       |FROM samples
       |GROUP BY doc_id, (i - 1) * $nFrames // n""".stripMargin
}
