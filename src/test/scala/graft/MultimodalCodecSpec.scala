package graft

import java.io.ByteArrayOutputStream
import java.awt.image.BufferedImage
import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{ImageHeaderCodec, MediaRow}

/** Real-codec leg of the multimodal stage: the header parser must agree
  * with javax.imageio on genuine PNG/JPEG bytes (fixtures are encoded
  * in-test by ImageIO itself, so they are real container structures, not
  * hand-crafted byte strings), while non-image bytes keep flowing to the
  * deterministic FakeCodec — which is what keeps q_media_meta's oracle
  * exact on the synthetic corpus. */
class MultimodalCodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, bos), s"JVM carries no $format writer")
    bos.toByteArray
  }

  private def rgb(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
    img
  }

  test("PNG IHDR parsing matches ImageIO on real encoder output") {
    for ((w, h) <- Seq((640, 480), (17, 923), (1, 1))) {
      val bytes = encode(rgb(w, h), "png")
      val meta = ImageHeaderCodec.decode(MediaRow(1L, "image/png", bytes))
        .getOrElse(fail("real PNG not recognized"))
      assert((meta.width, meta.height) == (w, h))
      assert(meta.channels == 3) // TYPE_INT_RGB → truecolor
      assert(meta.n_bytes == bytes.length)
      val crossCheck = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert((crossCheck.getWidth, crossCheck.getHeight) == (meta.width, meta.height))
    }
    // gray+alpha exercises the colorType→channels table beyond truecolor
    val ga = new BufferedImage(5, 9, BufferedImage.TYPE_BYTE_GRAY)
    val gaMeta = ImageHeaderCodec.decode(
      MediaRow(2L, "image/png", encode(ga, "png"))).get
    assert((gaMeta.width, gaMeta.height, gaMeta.channels) == (5, 9, 1))
  }

  test("JPEG SOF parsing matches ImageIO on real encoder output") {
    for ((w, h) <- Seq((320, 200), (1024, 3))) {
      val bytes = encode(rgb(w, h), "jpg")
      val meta = ImageHeaderCodec.decode(MediaRow(3L, "image/jpeg", bytes))
        .getOrElse(fail("real JPEG not recognized"))
      assert((meta.width, meta.height) == (w, h))
      assert(meta.channels == 3) // YCbCr
      val crossCheck = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert((crossCheck.getWidth, crossCheck.getHeight) == (w, h))
    }
  }

  test("resize really rescales decodable images and re-encodes them as PNG") {
    import spark.implicits._
    val big = encode(rgb(640, 480), "png")
    val rows = Multimodal.resize(
      Seq(Multimodal.MediaRow(1L, "image/png", big)).toDS(), maxW = 64, maxH = 64)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.width, r.height) == (64, 48), "aspect ratio not preserved")
    // the output bytes are a real decodable PNG of the claimed size
    val back = ImageIO.read(new java.io.ByteArrayInputStream(r.media))
    assert((back.getWidth, back.getHeight) == (64, 48))
  }

  test("feature extraction computes a real luminance histogram for images") {
    import spark.implicits._
    // half black, half white image → mass in the lowest and highest bins
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(1L, "image/png", encode(img, "png"))).toDS())
      .collect().head.features
    assert(math.abs(feats(0) - 0.5f) < 1e-6, s"black mass: ${feats.toSeq}")
    assert(math.abs(feats(7) - 0.5f) < 1e-6, s"white mass: ${feats.toSeq}")
    assert(math.abs(feats.sum - 1.0f) < 1e-5, "histogram not L1-normalized")
  }

  test("perceptual hash: resized copy is found as a near-dup, distinct image is not") {
    import spark.implicits._
    // smooth horizontal gradient — resizing averages the same ramp, so
    // the 9×8 mean-luminance grid (and so the dHash) barely moves
    def ramp(w: Int, h: Int, reversed: Boolean): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val g = ((if (reversed) w - 1 - x else x) * 255) / (w - 1)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    val a = encode(ramp(320, 240, reversed = false), "png")
    val aSmall = Multimodal.resize(
      Seq(MediaRow(1L, "image/png", a)).toDS(), maxW = 80, maxH = 80)
      .collect().head.media
    val b = encode(ramp(320, 240, reversed = true), "png")
    val media = Seq(
      MediaRow(1L, "image/png", a),      // original
      MediaRow(2L, "image/png", aSmall), // its resized copy (80×60)
      MediaRow(3L, "image/png", b)).toDS() // reversed ramp: opposite gradients
    val hashes = Multimodal.phash(media).collect()
      .map(p => p.doc_id -> p.phash).toMap
    // the gradient direction IS the dHash: original ≈ its resize,
    // reversed ramp flips (almost) every comparison
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) <= 6,
      s"resized copy drifted: ${hashes(1L)} vs ${hashes(2L)}")
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) > 30,
      s"distinct image too close: ${hashes(1L)} vs ${hashes(3L)}")
    val pairs = Multimodal.phashPairs(media)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"expected only the planted pair: $pairs")
  }

  test("hammingPairs: maxHamming bits in distinct bands pair, maxHamming + 1 do not") {
    import spark.implicits._
    val f0 = 0x2b5a3c96e1d7f08L // 63-bit pattern
    def flip(bits: Int*): Long = bits.foldLeft(f0)((h, b) => h ^ (1L << b))
    def pairs(other: Long): Set[(Long, Long, Int)] =
      Multimodal.hammingPairs(Seq((1L, f0), (2L, other)).toDF("doc_id", "fp"),
          "fp", 63, maxHamming = 6, nBands = 7)
        .as[(Long, Long, Int)].collect().toSet
    // 7 bands of 9 bits: one flipped bit in each of bands 0-5, band 6
    // intact — the pigeonhole case at the radius
    assert(pairs(flip(0, 9, 18, 27, 36, 45)) == Set((1L, 2L, 6)))
    // 7 bits, band 6 still intact: a band candidate the gate rejects
    assert(pairs(flip(0, 1, 9, 18, 27, 36, 45)).isEmpty)
  }

  test("extractMeta routes real images to the header codec, other bytes to FakeCodec") {
    import spark.implicits._
    val png = encode(rgb(64, 32), "png")
    val jpg = encode(rgb(48, 16), "jpg")
    val text = "plain text pretending to be media".getBytes("UTF-8")
    val truncatedPng = png.take(20) // signature but no full IHDR
    val rows = Seq(
      MediaRow(1L, "image/png", png),
      MediaRow(2L, "image/jpeg", jpg),
      MediaRow(3L, "audio/wav", text),
      MediaRow(4L, "image/png", truncatedPng))
    val got = Multimodal.extractMeta(rows.toDS())
      .collect().map(m => m.doc_id -> m).toMap
    assert((got(1L).width, got(1L).height, got(1L).channels) == (64, 32, 3))
    assert((got(2L).width, got(2L).height, got(2L).channels) == (48, 16, 3))
    // non-image and truncated blobs take the deterministic fake path
    val fake3 = Multimodal.FakeCodec.decode(rows(2))
    assert(got(3L) == fake3)
    val fake4 = Multimodal.FakeCodec.decode(rows(3))
    assert(got(4L) == fake4)
  }

  test("wav codec: synth→parse round-trip, chunk walk, frame energy") {
    import graft.multimodal.Audio
    import spark.implicits._
    val docs = Seq((7L, "abcd")).toDF("doc_id", "text")
    val wav = Audio.synthesizeWav(docs).collect().head
    val meta = Audio.decode(wav).get
    assert(meta == Audio.AudioMeta(7L, 8000, 1, 8, 4L, 0L), meta.toString)
    // a LIST chunk between fmt and data must not derail the walk
    val bytes = wav.media
    val withList = java.nio.ByteBuffer
      .allocate(bytes.length + 12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(bytes, 0, 36) // RIFF..fmt chunk end
      .put("LIST".getBytes("US-ASCII")).putInt(4)
      .put("INFO".getBytes("US-ASCII"))
      .put(bytes, 36, bytes.length - 36).array()
    assert(Audio.decode(MediaRow(7L, "audio/wav", withList)).contains(meta))
    // malformed: not RIFF
    assert(Audio.decode(MediaRow(8L, "audio/wav", "xxxx".getBytes)).isEmpty)
    // energy: 'a'=97 → d=-31; 4 samples / 4 frames → one sample each
    val en = Audio.frameEnergy(Audio.synthesizeWav(docs))
      .collect().sortBy(_.frame).toSeq
    assert(en == Seq(
      Audio.FrameEnergy(7L, 0, 1, 31L * 31), Audio.FrameEnergy(7L, 1, 1, 30L * 30),
      Audio.FrameEnergy(7L, 2, 1, 29L * 29), Audio.FrameEnergy(7L, 3, 1, 28L * 28)),
      en.toString)
  }

  test("wav codec: hostile containers never hang, crash, or misread") {
    import graft.multimodal.Audio
    import spark.implicits._
    val docs = Seq((7L, "abcd")).toDF("doc_id", "text")
    val good = Audio.synthesizeWav(docs).collect().head
    val meta = Audio.decode(good).get
    def patched(f: java.nio.ByteBuffer => Unit): Multimodal.MediaRow = {
      val bb = java.nio.ByteBuffer.wrap(good.media.clone())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); Multimodal.MediaRow(9L, "audio/wav", bb.array())
    }
    // u32 chunk size 0xFFFFFFF8: with i32 truncation the advance would
    // be 0 (infinite loop) — must terminate and reject
    assert(Audio.decode(patched(_.putInt(16, 0xFFFFFFF8))).isEmpty)
    // size that would push the cursor negative under i32 math
    assert(Audio.decode(patched(_.putInt(16, 0x80000000))).isEmpty)
    // bits-per-sample < 8 → bytes-per-sample 0 → must not divide by zero
    assert(Audio.decode(patched(_.putShort(34, 4.toShort))).isEmpty)
    // data-size header larger than the payload: clamp, don't overrun
    val oversized = patched(_.putInt(40, 1000))
    assert(Audio.decode(oversized).get.n_samples == 4L)
    assert(Audio.frameEnergy(Seq(oversized).toDS()).collect().nonEmpty)
    // a trailing chunk AFTER data: energies must come from the data
    // chunk's offset, not the blob tail
    val tailed = {
      val b = good.media
      val bb = java.nio.ByteBuffer.allocate(b.length + 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(b).put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("zzzz".getBytes("US-ASCII"))
      Multimodal.MediaRow(7L, "audio/wav", bb.array())
    }
    assert(Audio.decode(tailed).contains(meta))
    val enGood = Audio.frameEnergy(Seq(good).toDS()).collect().toSet
    val enTailed = Audio.frameEnergy(Seq(tailed).toDS()).collect().toSet
    assert(enGood == enTailed, s"tail chunk skewed energies: $enTailed")
  }

  test("audio fingerprint: exact copies pair at hamming 0, drift rejected") {
    import graft.multimodal.Audio
    import spark.implicits._
    val base = (0L until 40L).map(i =>
      (i, s"doc $i " + ("lorem ipsum dolor sit amet " * 8) + i.toString))
    val docs = base.toDF("doc_id", "text")
    val pairs = Audio.plantedAudioPairs(docs).collect()
    val copyIds = base.map(_._1).filter(_ % 20 == 0)
      .map(i => (i, i + 100000L)).toSet
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(copyIds.subsetOf(got), s"planted copies missing: $got")
    // exact copies fingerprint identically
    assert(pairs.filter(r => copyIds((r.getLong(0), r.getLong(1))))
      .forall(_.getInt(2) == 0))
    // the 5-char drifts (ids +200000) must NOT pair with their source
    assert(!got.exists { case (_, b) => b >= 200000L && b < 300000L })
  }
}
