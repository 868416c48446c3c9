package graft.ops

import java.nio.{ByteBuffer, ByteOrder}

import graft.ops.Multimodal.{MediaFeatures, MediaRow}

/** Pure-JVM media decoding for the container-friendly formats — no codec
  * libraries required. [[decode]] sniffs the format of one blob:
  *
  *   - PPM (P6): width and height from the header, once the pixel payload
  *     it declares is present.
  *   - BMP (BITMAPINFOHEADER): width, height and channels (from bpp) from
  *     the header.
  *   - PNG: metadata from the IHDR chunk (no inflate needed for w/h/
  *     channels).
  *   - WAV (PCM RIFF): channels and frame count from the fmt + data
  *     chunks.
  *   - JPEG / GIF: metadata through `javax.imageio` (JDK-standard, still
  *     zero external libraries), frame count for animated GIFs.
  *
  * Anything unrecognized or malformed gets the deterministic [[stub]]
  * features: real length and checksum, dimensions derived from the hash.
  */
object MediaCodecs {

  /** Features of one blob: its real metadata when it is one of the
    * formats above and well-formed, else the [[stub]]'s. A NULL blob
    * (nullable binary column) is the empty blob, which no format matches.
    */
  def decode(r: MediaRow): MediaFeatures = {
    val stubbed = stub(r)
    def real(w: Int, h: Int, channels: Int, frames: Int) =
      stubbed.copy(width = w, height = h, channels = channels, frames = frames)
    val b = r.media
    // malformed bytes behind a valid magic (truncated header, adversarial
    // chunk sizes, imageio stream errors) must not kill the executor task
    // — they get the stub features like any unknown codec. NPE is
    // deliberately NOT caught (it signals a bug, not bad data), hence the
    // explicit null check.
    try {
      if (b == null) stubbed
      else if (isPpm(b)) { val (w, h) = parsePpm(b); real(w, h, 3, 1) }
      else if (isBmp(b)) { val (w, h, c) = bmpMeta(b); real(w, h, c, 1) }
      else if (isPng(b)) { val (w, h, c) = pngMeta(b); real(w, h, c, 1) }
      else if (isJpeg(b) || isGif(b)) {
        val (w, h, c, frames) = decodeImageIo(b); real(w, h, c, frames)
      } else if (isWav(b)) { val w = parseWav(b); real(0, 0, w.channels, w.frames) }
      else stubbed
    } catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException
           | _: java.io.IOException => stubbed
    }
  }

  /** Deterministic fake features for a blob no format recognizes: byte
    * length and checksum are real, "dimensions" derive from the checksum
    * unless the row's metadata declares them. Null blob ≡ empty blob.
    */
  private[graft] def stub(r: MediaRow): MediaFeatures = {
    val bytes = if (r.media == null) Array.emptyByteArray else r.media
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
    MediaFeatures(
      id = r.id,
      n_bytes = bytes.length.toLong,
      checksum = h,
      width = if (r.meta.declared_w > 0) r.meta.declared_w else (math.abs(h) % 640).toInt,
      height = if (r.meta.declared_h > 0) r.meta.declared_h else (math.abs(h >> 16) % 480).toInt,
      channels = 3,
      frames = if (r.meta.kind == "video") 1 + (math.abs(h) % 32).toInt else 1)
  }

  // ------------------------------------------------------------------ PPM

  def isPpm(b: Array[Byte]): Boolean =
    b.length > 2 && b(0) == 'P' && b(1) == '6'

  /** (width, height) of a binary PPM (P6, maxval 255, single whitespace
    * separators) whose pixel payload is present.
    */
  def parsePpm(b: Array[Byte]): (Int, Int) = {
    var i = 2
    def skipWs(): Unit = {
      while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\t' || b(i) == '\r')) i += 1
      if (i < b.length && b(i) == '#') { // comment line
        while (i < b.length && b(i) != '\n') i += 1
        skipWs()
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val w = int(); val h = int(); val maxv = int()
    require(maxv == 255, s"unsupported PPM maxval $maxv")
    i += 1 // single whitespace after maxval
    // header-declared geometry is only believed when the payload it
    // declares is actually present; a failure routes the caller to the
    // stub path like any malformed media
    val need = 3L * w * h
    require(w > 0 && h > 0 && i + need <= b.length,
      s"truncated/absurd PPM geometry ${w}x$h for ${b.length} bytes")
    (w, h)
  }

  // ------------------------------------------------------------------ BMP

  def isBmp(b: Array[Byte]): Boolean =
    b.length > 30 && b(0) == 'B' && b(1) == 'M'

  private val BmpBitsPerPixel = Set(1, 4, 8, 16, 24, 32)

  /** (width, height, channels) from the BITMAPINFOHEADER. The header is
    * checked, not trusted: `isBmp` accepts any text that starts with "BM"
    * ("BMW shares rose…" reads as bpp 8306), and a NUL-free text never
    * holds a valid bpp, so such a text gets the stub features.
    */
  def bmpMeta(b: Array[Byte]): (Int, Int, Int) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val w = bb.getInt(18)
    val h = math.abs(bb.getInt(22)) // top-down BMPs store negative height
    val bpp = bb.getShort(28) & 0xFFFF
    require(BmpBitsPerPixel(bpp) && w > 0 && h > 0 && w.toLong * h <= MaxImagePixels,
      s"absurd BMP header ${w}x$h at $bpp bpp")
    (w, h, math.max(1, bpp / 8))
  }

  // ------------------------------------------------------------------ PNG

  private val PngMagic = Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  def isPng(b: Array[Byte]): Boolean =
    b.length > 26 && PngMagic.indices.forall(i => (b(i) & 0xFF) == PngMagic(i))

  def pngMeta(b: Array[Byte]): (Int, Int, Int) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    val w = bb.getInt(16) // IHDR data starts at 16 (8 magic + 4 len + 4 type)
    val h = bb.getInt(20)
    val colorType = b(25) & 0xFF
    val channels = colorType match {
      case 0 => 1 // gray
      case 2 => 3 // rgb
      case 3 => 1 // palette
      case 4 => 2 // gray+alpha
      case 6 => 4 // rgba
      case _ => 3
    }
    (w, h, channels)
  }

  // ----------------------------------------------------------- JPEG / GIF

  def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 &&
      (b(2) & 0xFF) == 0xFF

  def isGif(b: Array[Byte]): Boolean =
    b.length > 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** Decompression-bomb cap: header-declared geometry above this pixel
    * count routes the blob to the stub instead of letting a few-KB GIF
    * declaring 65535×65535 allocate ~17 GB in `read(0)` — an
    * OutOfMemoryError is an Error the [[decode]] fallback does NOT
    * catch, so without the cap a crafted blob kills the executor task
    * (the same header-vs-payload discipline as [[parsePpm]]). BMP
    * headers are held to the same cap.
    */
  val MaxImagePixels: Long = 64L * 1024 * 1024

  private def imageReader[T](b: Array[Byte])(
      f: javax.imageio.ImageReader => T): T = {
    // MemoryCacheImageInputStream directly: ImageIO.createImageInputStream
    // honors the useCache default (true) and would SPOOL every blob to a
    // java.io.tmpdir cache file — a temp-file create/write/delete per
    // decoded row on the executor hot path, for bytes already in memory
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no ImageIO reader recognizes this blob")
      val r = readers.next()
      try { r.setInput(iis); f(r) } finally r.dispose()
    } finally iis.close()
  }

  private def checkedDims(r: javax.imageio.ImageReader): (Int, Int) = {
    val w = r.getWidth(0)
    val h = r.getHeight(0)
    require(w > 0 && h > 0 && w.toLong * h <= MaxImagePixels,
      s"absurd image geometry ${w}x$h")
    (w, h)
  }

  /** JPEG/GIF metadata through `javax.imageio` — public JDK API, no
    * external codec library. Returns (width, height,
    * channels, frames); frames counts GIF animation frames. Metadata
    * only — no pixel decode (channels come from the reader's image
    * type), so cost is header-bounded.
    */
  def decodeImageIo(b: Array[Byte]): (Int, Int, Int, Int) =
    imageReader(b) { r =>
      val (w, h) = checkedDims(r)
      // allowSearch=true walks the stream for the true frame count
      // (animated GIF); JPEG readers return 1
      val frames =
        try math.max(1, r.getNumImages(true))
        catch { case _: java.io.IOException => 1 }
      val types = r.getImageTypes(0)
      val channels =
        if (types.hasNext) types.next().getColorModel.getNumComponents else 3
      (w, h, channels, frames)
    }

  // ------------------------------------------------------------------ WAV

  final case class Wav(channels: Int, sampleRate: Int, bitsPerSample: Int,
      dataOffset: Int, dataLength: Int) {
    def bytesPerFrame: Int = channels * (bitsPerSample / 8)
    def frames: Int = if (bytesPerFrame == 0) 0 else dataLength / bytesPerFrame
  }

  def isWav(b: Array[Byte]): Boolean =
    b.length > 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Chunk-walk the RIFF structure (fmt may not be the first chunk). */
  def parseWav(b: Array[Byte]): Wav = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var channels = 0; var rate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    var ok = true
    while (ok && off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val size = bb.getInt(off + 4)
      // a malformed/adversarial chunk size (negative, or overflowing the
      // word-aligned advance) would stall or move the walk backward —
      // an infinite loop inside an executor task. Stop the walk instead;
      // the require below then routes the caller to the stub path.
      val next = off.toLong + 8L + size.toLong + (size & 1)
      if (size < 0 || next <= off || next > Int.MaxValue) ok = false
      else {
        id match {
          case "fmt " if off + 24 <= b.length =>
            channels = bb.getShort(off + 10) & 0xFFFF
            rate = bb.getInt(off + 12)
            bits = bb.getShort(off + 22) & 0xFFFF
          case "data" if off + 8 <= b.length =>
            dataOff = off + 8
            dataLen = math.max(0, math.min(size, b.length - dataOff))
          case _ => ()
        }
        off = next.toInt
      }
    }
    require(dataOff >= 0 && channels > 0, "malformed WAV")
    Wav(channels, rate, bits, dataOff, dataLen)
  }
}
