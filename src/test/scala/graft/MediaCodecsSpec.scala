package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.ops.{MediaCodecs, Multimodal}
import graft.ops.Multimodal.{MediaMeta, MediaRow}

/** Real (library-free) media decoding: synthetic PPM/BMP/PNG/WAV bytes
  * and JDK-encoded JPEG/GIF through the Spark path; unknown or malformed
  * blobs fall back to the deterministic stub.
  */
class MediaCodecsSpec extends SparkSpec {

  private def ppm(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val pixels = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      val o = 3 * (y * w + x)
      pixels(o) = r.toByte; pixels(o + 1) = g.toByte; pixels(o + 2) = b.toByte
    }
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pixels
  }

  private def bmp(w: Int, h: Int, bpp: Int): Array[Byte] = {
    val b = new Array[Byte](54)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    b(0) = 'B'; b(1) = 'M'
    bb.putInt(18, w); bb.putInt(22, h); bb.putShort(28, bpp.toShort)
    b
  }

  private def png(w: Int, h: Int, colorType: Int): Array[Byte] = {
    val b = new Array[Byte](33)
    val magic = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
    magic.zipWithIndex.foreach { case (v, i) => b(i) = v.toByte }
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    bb.putInt(8, 13) // IHDR length
    "IHDR".getBytes.copyToArray(b, 12)
    bb.putInt(16, w); bb.putInt(20, h)
    b(24) = 8 // bit depth
    b(25) = colorType.toByte
    b
  }

  private def wav(channels: Int, rate: Int, bits: Int, frames: Int): Array[Byte] = {
    val dataLen = frames * channels * (bits / 8)
    val b = new Array[Byte](44 + dataLen)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    "RIFF".getBytes.copyToArray(b, 0); bb.putInt(4, 36 + dataLen)
    "WAVE".getBytes.copyToArray(b, 8)
    "fmt ".getBytes.copyToArray(b, 12); bb.putInt(16, 16)
    bb.putShort(20, 1); bb.putShort(22, channels.toShort)
    bb.putInt(24, rate); bb.putInt(28, rate * channels * bits / 8)
    bb.putShort(32, (channels * bits / 8).toShort); bb.putShort(34, bits.toShort)
    "data".getBytes.copyToArray(b, 36); bb.putInt(40, dataLen)
    (0 until dataLen).foreach(i => b(44 + i) = (i % 251).toByte)
    b
  }

  test("format-aware decode through the batched Spark path") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, ppm(4, 3)((x, y) => (x * 10, y * 10, 7)), MediaMeta("image", 0, 0)),
      MediaRow(2L, bmp(640, 480, 24), MediaMeta("image", 0, 0)),
      MediaRow(3L, png(800, 600, 6), MediaMeta("image", 0, 0)),
      MediaRow(4L, wav(2, 16000, 16, 1000), MediaMeta("audio", 0, 0)),
      MediaRow(5L, "not a media file".getBytes, MediaMeta("image", 0, 0)))
    val got = Multimodal.extractFeatures(rows.toDS())
      .collect().map(f => f.id -> f).toMap
    assert((got(1L).width, got(1L).height, got(1L).channels) === ((4, 3, 3)))
    assert((got(2L).width, got(2L).height, got(2L).channels) === ((640, 480, 3)))
    assert((got(3L).width, got(3L).height, got(3L).channels) === ((800, 600, 4)))
    assert((got(4L).channels, got(4L).frames) === ((2, 1000)))
    val w = MediaCodecs.parseWav(rows(3).media)
    assert(w.sampleRate === 16000 && w.bitsPerSample === 16)
    // unknown bytes: deterministic stub fallback, real length/checksum
    assert(got(5L).n_bytes === 16L)
    assert(got(5L) === MediaCodecs.stub(rows(4)))
  }

  test("null media blob decodes as the empty blob through both decoders (no task kill)") {
    import spark.implicits._
    // a nullable binary column WILL carry nulls in production; NPE is
    // deliberately outside the malformed-media catch, so null must be
    // handled explicitly (as the empty blob), not caught
    val rows = Seq(
      MediaRow(1L, null, MediaMeta("image", 0, 0)),
      MediaRow(2L, "not a media file".getBytes, MediaMeta("image", 0, 0)))
    val got = Multimodal.extractFeatures(rows.toDS())
      .collect().map(f => f.id -> f).toMap
    val stub = MediaCodecs.stub(rows.head)
    assert(stub.n_bytes === 0L, "null blob must read as 0 bytes")
    assert(got(1L) === stub)
    assert(got(1L) === MediaCodecs.stub(rows.head.copy(media = Array.emptyByteArray)))
  }

  test("malformed WAV chunk sizes terminate the walk and fall back to the stub") {
    import java.nio.{ByteBuffer, ByteOrder}
    // a valid RIFF/WAVE magic followed by a chunk whose size is NEGATIVE —
    // the naive walk `off += 8 + size` would move backward forever inside
    // an executor task
    def evil(size: Int): Array[Byte] = {
      val b = new Array[Byte](64)
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      "RIFF".getBytes.copyToArray(b, 0); bb.putInt(4, 56)
      "WAVE".getBytes.copyToArray(b, 8)
      "junk".getBytes.copyToArray(b, 12); bb.putInt(16, size)
      b
    }
    for (size <- Seq(-5, -8, Int.MaxValue - 4, Int.MinValue)) {
      assert(MediaCodecs.isWav(evil(size)))
      intercept[IllegalArgumentException](MediaCodecs.parseWav(evil(size)))
      // the Spark-path decoder routes the failure to the deterministic stub
      val row = graft.ops.Multimodal.MediaRow(7L, evil(size),
        graft.ops.Multimodal.MediaMeta("audio", 0, 0))
      assert(MediaCodecs.decode(row) === MediaCodecs.stub(row))
    }
    // an fmt chunk whose declared body runs past the buffer is skipped,
    // not read out of bounds
    val truncated = {
      val b = new Array[Byte](50)
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      "RIFF".getBytes.copyToArray(b, 0); bb.putInt(4, 42)
      "WAVE".getBytes.copyToArray(b, 8)
      "fmt ".getBytes.copyToArray(b, 12); bb.putInt(16, 100)
      b
    }
    intercept[IllegalArgumentException](MediaCodecs.parseWav(truncated))
  }

  test("JPEG and GIF decode through javax.imageio: metadata") {
    def encoded(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
      baos.toByteArray
    }
    // solid mid-gray: JPEG chroma subsampling is exact on flat fields
    val jpeg = encoded("jpeg", 8, 6, 0x808080)
    assert(MediaCodecs.isJpeg(jpeg) && !MediaCodecs.isGif(jpeg))
    assert(MediaCodecs.decodeImageIo(jpeg) === ((8, 6, 3, 1)))
    val gif = encoded("gif", 5, 4, 0xFF0000) // palette format: exact red
    assert(MediaCodecs.isGif(gif) && !MediaCodecs.isJpeg(gif))
    val (gw, gh, gc, gframes) = MediaCodecs.decodeImageIo(gif)
    assert((gw, gh, gframes) === ((5, 4, 1)))
    assert(gc >= 3) // palette color model reports its RGB(A) components
    // the Spark path decodes both through imageio, and a
    // truncated JPEG falls back to the stub instead of killing the task
    import spark.implicits._
    import graft.ops.Multimodal
    val media = Seq(
      Multimodal.MediaRow(1L, jpeg, Multimodal.MediaMeta("image", 0, 0)),
      Multimodal.MediaRow(2L, gif, Multimodal.MediaMeta("image", 0, 0)),
      Multimodal.MediaRow(3L, jpeg.take(8), Multimodal.MediaMeta("image", 0, 0)))
      .toDS()
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.id -> f).toMap
    assert((got(1L).width, got(1L).height, got(1L).channels) === ((8, 6, 3)))
    assert((got(2L).width, got(2L).height) === ((5, 4)))
    assert(got(3L).n_bytes === 8L) // stub fallback still yields real length
  }

  test("decompression-bomb guard: absurd declared geometry routes to the stub, never read(0)") {
    // minimal valid 1x1 GIF (hand-assembled; image descriptor w/h at 32-35)
    val tiny = Array(
      0x47, 0x49, 0x46, 0x38, 0x39, 0x61, // GIF89a
      0x01, 0x00, 0x01, 0x00, 0x80, 0x00, 0x00, // logical screen 1x1
      0x00, 0x00, 0x00, 0xFF, 0xFF, 0xFF, // 2-entry palette
      0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, 0x00, 0x00, // GCE
      0x2C, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00, // descriptor
      0x02, 0x02, 0x44, 0x01, 0x00, 0x3B).map(_.toByte)
    val (tw, th, tc, tf) = MediaCodecs.decodeImageIo(tiny)
    assert((tw, th, tf) === ((1, 1, 1)))
    assert(tc >= 3) // GCE transparency → RGBA color model
    // same bytes declaring 20675x20675 (~427M pixels): a read(0) would
    // allocate gigabytes; the guard rejects on the header alone
    val bomb = tiny.clone()
    for ((off, v) <- Seq(6 -> 0xC3, 7 -> 0x50, 8 -> 0xC3, 9 -> 0x50,
        32 -> 0xC3, 33 -> 0x50, 34 -> 0xC3, 35 -> 0x50))
      bomb(off) = v.toByte
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeImageIo(bomb))
    assert(e.getMessage.contains("geometry"))
    // and the Spark path falls back to the stub instead of dying
    import spark.implicits._
    import graft.ops.Multimodal
    val got = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(7L, bomb, Multimodal.MediaMeta("image", 0, 0))).toDS())
      .collect().head
    assert(got.n_bytes === bomb.length.toLong)
  }

  test("text that starts with BM is not a BMP: q20's stub features") {
    import spark.implicits._
    // isBmp accepts any text of 31+ bytes starting with "BM"; read as a
    // BITMAPINFOHEADER this sentence declares bpp 8306 (channels 1038),
    // so the header check must send it to the stub like q20's other rows
    val text = "BMW shares rose sharply after the quarterly report was published."
    val got = Multimodal.extractFeatures(
      Multimodal.asMedia(Seq((1L, text)).toDF("doc_id", "text"))).collect()
    assert(got.map(f => (f.channels, f.frames)).toSeq === Seq((3, 1)))
    assert(got.head.n_bytes === text.getBytes("UTF-8").length.toLong)
  }
}
