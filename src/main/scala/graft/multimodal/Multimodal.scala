package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing for training-data pipelines: image/audio/video
 * payloads travel as opaque `binary` columns with a typed metadata struct;
 * decode / feature-extract / resize / frame-sample run as partition-local
 * batch transforms.
 *
 * The decode step is REAL, dependency-free JVM parsing of six public
 * formats (no image/audio libraries exist in this container, and none are
 * needed for these):
 *
 *  - **PPM (P6)** for image rows — the Netpbm binary RGB format: ASCII
 *    header `P6 <width> <height> <maxval>` with `#` comments, one
 *    whitespace byte, then `width*height*3` raw bytes. Video rows are a
 *    concatenated P6 frame sequence (the Netpbm convention for streams —
 *    `ppmtoy4m` et al. consume exactly this shape).
 *  - **BMP (24-bit BI_RGB)** for image rows — the Windows DIB container:
 *    BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up (or top-down) BGR
 *    rows with 4-byte stride padding, normalized on decode to the same
 *    top-down RGB stream P6 yields, so downstream features are
 *    container-blind.
 *  - **PNG (8-bit, all five color types, sequential AND Adam7
 *    interlaced)** for image rows —
 *    the container real crawls are actually full of: signature + chunk
 *    grammar with CRC-32 verification, concatenated IDAT inflate via the
 *    JDK's `java.util.zip.Inflater`, and all five scanline filters
 *    (None/Sub/Up/Average/Paeth) reconstructed per the spec; grayscale
 *    expands to R=G=B so downstream features stay container-blind.
 *  - **GIF (87a/89a)** for image AND animation rows — the palette
 *    container with a real variable-width LZW codec, global/local color
 *    tables, four-pass interlace, and animated multi-frame compositing
 *    (placed sub-rect frames, Graphic Control Extension transparency) —
 *    the smallest genuinely multi-frame format crawls deliver.
 *  - **JPEG (baseline, [[Jpeg]])** for image rows — the dominant crawl
 *    image format: full marker grammar, Huffman entropy decode with
 *    byte de-stuffing and restart markers, dequantization, 8x8 IDCT,
 *    4:4:4/4:2:2/4:2:0 chroma upsampling, YCbCr→RGB. Lossy, so its
 *    correctness pin is the ImageIO cross-check spec + the
 *    metadata-exact oracle rather than pixel replay.
 *  - **WAV (RIFF/PCM)** for audio rows — canonical RIFF container walked
 *    chunk-by-chunk (unknown chunks skipped by their declared size, the
 *    rule real files demand — LIST/INFO chunks abound), `fmt ` parsed for
 *    PCM/mono/16-bit, `data` samples decoded s16le → unsigned 8-bit.
 *
 * The decoders accept ANY valid payload of their format, not just the
 * synthetic fixture; corrupt or truncated payloads yield empty output
 * instead of failing the task. A real pipeline adds H.264/VP9 via JNI to
 * the same [[decodeFrames]] dispatch — everything around it (schema
 * contract, mapPartitions batching with one decoder state per partition,
 * partition sizing, null/corrupt handling) is the shape those drop into.
 */
object Multimodal {

  /** Typed metadata carried alongside every binary payload. */
  final case class MediaMeta(media_type: String, width: Int, height: Int,
                             n_frames: Int, sample_rate: Int)

  final case class MediaRow(id: Long, payload: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(id: Long, media_type: String,
                                 byte_len: Int, histogram: Array[Double],
                                 mean_luma: Double)

  /** [[MediaFeatures]] + the decoded frame count (one-pass form). */
  final case class MediaFeaturesN(id: Long, media_type: String,
                                  byte_len: Int, histogram: Array[Double],
                                  mean_luma: Double, n_frames: Int)

  final case class FrameRow(id: Long, frame_idx: Int, frame: Array[Byte])

  // ------------------------------------------------------------------
  // Real codecs (public formats, dependency-free)
  // ------------------------------------------------------------------

  /** Encode one P6 PPM image (maxval 255). */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3,
      s"P6 needs w*h*3 = ${w * h * 3} bytes, got ${rgb.length}")
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  /** Parse one P6 frame at `off`: (width, height, rgb, bytesConsumed).
    * Handles the full header grammar — any whitespace run between
    * tokens, `#` comments to end-of-line, exactly one whitespace byte
    * after maxval. None on anything malformed or truncated. */
  def decodePpm(bytes: Array[Byte], off: Int): Option[(Int, Int, Array[Byte], Int)] = {
    var i = off
    def eof = i >= bytes.length
    def skipSpaceAndComments(): Unit = {
      var moving = true
      while (moving && !eof) {
        val c = bytes(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b) i += 1
        else if (c == '#') { while (!eof && bytes(i) != '\n') i += 1 }
        else moving = false
      }
    }
    def readInt(): Option[Int] = {
      skipSpaceAndComments()
      var v = 0L
      var any = false
      while (!eof && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        if (v > Int.MaxValue) return None
        any = true
        i += 1
      }
      if (any) Some(v.toInt) else None
    }
    if (i + 2 > bytes.length || bytes(i) != 'P' || bytes(i + 1) != '6') return None
    i += 2
    (readInt(), readInt(), readInt()) match {
      case (Some(w), Some(h), Some(maxval))
          if maxval == 255 && w > 0 && h > 0 &&
            // overflow-safe raster size; reject before allocating
            w.toLong * h * 3 <= Int.MaxValue &&
            // exactly ONE whitespace byte separates maxval from raster data
            !eof && (bytes(i) == '\n' || bytes(i) == ' ' ||
              bytes(i) == '\t' || bytes(i) == '\r') =>
        i += 1
        val n = w * h * 3
        if (i.toLong + n > bytes.length) None
        else Some((w, h, java.util.Arrays.copyOfRange(bytes, i, i + n), i + n - off))
      case _ => None
    }
  }

  /** Encode a 24-bit uncompressed BI_RGB BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, bottom-up BGR rows, 4-byte row padding) from a
    * top-down RGB pixel stream — the other dependency-free image
    * container real crawls carry alongside Netpbm. */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3,
      s"BMP needs w*h*3 = ${w * h * 3} bytes, got ${rgb.length}")
    val rowLen = w * 3
    val pad = (4 - rowLen % 4) % 4
    val dataLen = (rowLen + pad) * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        buf.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p))
        x += 1
      }
      var i = 0
      while (i < pad) { buf.put(0.toByte); i += 1 }
      y -= 1
    }
    buf.array()
  }

  /** Parse a 24-bit BI_RGB BMP into (width, height, top-down RGB).
    * Handles both bottom-up (positive height) and top-down (negative)
    * row orders; anything else (palettized, compressed, truncated)
    * yields None — never a task failure. */
  def decodeBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 54 ||
      bytes(0) != 'B' || bytes(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOff = buf.getInt(10)
    val hdrSize = buf.getInt(14)
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    val planes = buf.getShort(26)
    val bpp = buf.getShort(28)
    val comp = buf.getInt(30)
    if (hdrSize < 40 || planes != 1 || bpp != 24 || comp != 0 ||
      w <= 0 || hRaw == 0) return None
    val topDown = hRaw < 0
    // Long arithmetic: w·3 wraps an Int for hostile widths, and
    // |Int.MinValue| is only representable as a Long
    val hL = math.abs(hRaw.toLong)
    val strideL = (w.toLong * 3 + 3) / 4 * 4
    // the pixel rows must fit in the input; since w·h·3 ≤ stride·h that
    // also bounds the output by the input length. The stride is checked
    // first so stride·h cannot overflow a Long.
    if (dataOff < 54 || strideL > bytes.length ||
      dataOff.toLong + strideL * hL > bytes.length) return None
    val h = hL.toInt
    val stride = strideL.toInt
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val s = srcRow + x * 3
        val d = (y * w + x) * 3
        out(d) = bytes(s + 2)
        out(d + 1) = bytes(s + 1)
        out(d + 2) = bytes(s)
        x += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  // PNG (ISO/IEC 15948) — the container real image crawls actually carry.
  // Dependency-free: DEFLATE via the JDK's java.util.zip, leaving only the
  // chunk grammar, CRC-32 framing, and scanline filters 0-4 to implement.

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  private def pngChunk(out: java.io.ByteArrayOutputStream, tag: String,
                       body: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(body.length).array()
    out.write(len)
    val tagB = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(tagB)
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(tagB)
    crc.update(body)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  /** Samples per pixel for the 8-bit PNG color types this codec covers:
    * 0 grayscale, 2 truecolor, 3 palette-indexed, 4 gray+alpha, 6 RGBA
    * (everything but sub-byte and 16-bit depths — the shapes real
    * crawls actually carry). */
  private def pngBpp(colorType: Int): Int = colorType match {
    case 0 | 3 => 1
    case 2 => 3
    case 4 => 2
    case 6 => 4
    case _ => -1
  }

  /** Adam7 pass geometry: (xStart, yStart, xStep, yStep) per pass. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Filter `ph` scanlines of `stride` bytes each (top-down in `sub`)
    * into `raw` at `off`, cycling the filter type by row — the encoder
    * half shared by the sequential and Adam7 layouts. `bpp` is the
    * filter unit: bytes per pixel, or 1 for sub-byte depths (spec §9:
    * "rounded up to one"). */
  private def pngFilterInto(sub: Array[Byte], stride: Int, ph: Int, bpp: Int,
                            raw: Array[Byte], off: Int): Unit = {
    var y = 0
    while (y < ph) {
      val ft = y % 5
      raw(off + y * (1 + stride)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = sub(y * stride + i) & 0xFF
        val left = if (i >= bpp) sub(y * stride + i - bpp) & 0xFF else 0
        val up = if (y > 0) sub((y - 1) * stride + i) & 0xFF else 0
        val ul = if (y > 0 && i >= bpp) sub((y - 1) * stride + i - bpp) & 0xFF else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        raw(off + y * (1 + stride) + 1 + i) = (cur - pred).toByte
        i += 1
      }
      y += 1
    }
  }

  /** Reconstruct `ph` filtered scanlines of `stride` bytes each from
    * `raw` at `off` into `out` (ph*stride bytes) — the decoder half
    * shared by the sequential and Adam7 layouts (each Adam7 pass
    * unfilters independently). `bpp` is the filter unit (1 for sub-byte
    * depths). False on a bad filter byte. */
  private def pngUnfilterInto(raw: Array[Byte], off: Int, stride: Int,
                              ph: Int, bpp: Int, out: Array[Byte]): Boolean = {
    var y = 0
    while (y < ph) {
      val ft = raw(off + y * (1 + stride)) & 0xFF
      if (ft > 4) return false
      var i = 0
      while (i < stride) {
        val x = raw(off + y * (1 + stride) + 1 + i) & 0xFF
        val left = if (i >= bpp) out(y * stride + i - bpp) & 0xFF else 0
        val up = if (y > 0) out((y - 1) * stride + i) & 0xFF else 0
        val ul = if (y > 0 && i >= bpp) out((y - 1) * stride + i - bpp) & 0xFF else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        out(y * stride + i) = (x + pred).toByte
        i += 1
      }
      y += 1
    }
    true
  }

  /** Dimensions of one Adam7 pass for a w×h image (0 = empty pass). */
  @inline private def adam7Dims(w: Int, h: Int, p: Int): (Int, Int) = {
    val (xs, ys, xStep, yStep) = Adam7(p)
    (if (w > xs) (w - xs + xStep - 1) / xStep else 0,
      if (h > ys) (h - ys + yStep - 1) / yStep else 0)
  }

  /** Encode an 8-bit PNG from a top-down pixel stream — truecolor (the
    * default) or grayscale (`gray = true`, 1 byte/px input). Each row's
    * filter type is `y % 5`, so a round-trip exercises every filter
    * decoder (None/Sub/Up/Average/Paeth), not just the trivial one. */
  def encodePng(w: Int, h: Int, px: Array[Byte], gray: Boolean = false): Array[Byte] =
    encodePngOfType(w, h, if (gray) 0 else 2, px)

  /** [[encodePng]] for ANY supported color type: `samples` holds bpp
    * bytes per pixel top-down (palette indices for type 3, which also
    * needs the RGB `palette` triplets). Same per-row filter cycling. */
  def encodePngOfType(w: Int, h: Int, colorType: Int, samples: Array[Byte],
                      palette: Array[Byte] = null,
                      interlace: Boolean = false,
                      bitDepth: Int = 8): Array[Byte] = {
    val bpp = pngBpp(colorType)
    require(bpp > 0, s"unsupported PNG color type $colorType")
    require(bitDepth == 8 || (bitDepth == 16 && colorType != 3) ||
      ((bitDepth == 1 || bitDepth == 2 || bitDepth == 4) &&
        (colorType == 0 || colorType == 3)),
      "depth 8 any type; 16 non-palette; 1/2/4 gray or palette only")
    require(samples.length == w * h * bpp,
      s"PNG type $colorType needs w*h*$bpp = ${w * h * bpp} bytes, " +
        s"got ${samples.length}")
    require(colorType != 3 || (palette != null && palette.length % 3 == 0 &&
      palette.length >= 3 && palette.length <= 768),
      "palette PNG needs 1-256 RGB triplets")
    val subD = if (bitDepth < 8) bitDepth else 0
    require(subD == 0 ||
      samples.forall(s => (s & 0xFF) < (1 << subD)),
      s"depth-$bitDepth samples must fit $bitDepth bits")
    // depth 16 writes each 8-bit input sample as (hi = sample, lo =
    // sample) — the high-byte projection on decode recovers it exactly
    val sb = if (bitDepth == 16) bpp * 2 else bpp
    val px =
      if (bitDepth != 16) samples
      else {
        val wide = new Array[Byte](samples.length * 2)
        var k = 0
        while (k < samples.length) {
          wide(2 * k) = samples(k)
          wide(2 * k + 1) = samples(k)
          k += 1
        }
        wide
      }
    val encUnit = if (subD > 0) 1 else sb // filter unit
    def encRowBytes(pw: Int): Int =
      if (subD > 0) (pw * subD + 7) / 8 else pw * sb
    // pack 1-byte-per-pixel sub-byte samples into MSB-first row bits
    def packRows(s: Array[Byte], pw: Int, ph: Int): Array[Byte] = {
      val rb = encRowBytes(pw)
      val out = new Array[Byte](ph * rb)
      var y = 0
      while (y < ph) {
        var c = 0
        while (c < pw) {
          val bitPos = c * subD
          val at = y * rb + (bitPos >> 3)
          out(at) = (out(at) |
            ((s(y * pw + c) & 0xFF) << (8 - subD - (bitPos & 7)))).toByte
          c += 1
        }
        y += 1
      }
      out
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(bitDepth.toByte)
      .put(colorType.toByte)
      .put(0.toByte).put(0.toByte)                // compression/filter
      .put((if (interlace) 1 else 0).toByte)      // Adam7 flag
      .array()
    pngChunk(out, "IHDR", ihdr)
    if (colorType == 3) pngChunk(out, "PLTE", palette)
    // filtered scanlines: raw byte minus the per-filter prediction, mod
    // 256 — sequential layout, or the seven Adam7 pass sub-images each
    // filtered independently
    // sub-byte pixel extraction reads 1 byte/px from `px`; whole-byte
    // paths read sb bytes/px — the same loop with pxUnit bytes
    val pxUnit = if (subD > 0) 1 else sb
    val raw =
      if (!interlace) {
        val body = if (subD > 0) packRows(px, w, h) else px
        val rb = encRowBytes(w)
        val r = new Array[Byte](h * (1 + rb))
        pngFilterInto(body, rb, h, encUnit, r, 0)
        r
      } else {
        val total = (0 until 7).map { p =>
          val (pw, ph) = adam7Dims(w, h, p)
          if (pw > 0 && ph > 0) ph * (1 + encRowBytes(pw)) else 0
        }.sum
        val r = new Array[Byte](total)
        var off = 0
        var p = 0
        while (p < 7) {
          val (xs, ys, xStep, yStep) = Adam7(p)
          val (pw, ph) = adam7Dims(w, h, p)
          if (pw > 0 && ph > 0) {
            val sub = new Array[Byte](ph * pw * pxUnit)
            var r2 = 0
            while (r2 < ph) {
              var c = 0
              while (c < pw) {
                var b = 0
                while (b < pxUnit) {
                  sub((r2 * pw + c) * pxUnit + b) =
                    px(((ys + r2 * yStep) * w + xs + c * xStep) * pxUnit + b)
                  b += 1
                }
                c += 1
              }
              r2 += 1
            }
            val body = if (subD > 0) packRows(sub, pw, ph) else sub
            val rb = encRowBytes(pw)
            pngFilterInto(body, rb, ph, encUnit, r, off)
            off += ph * (1 + rb)
          }
          p += 1
        }
        r
      }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    while (!deflater.finished())
      zBuf.write(chunk, 0, deflater.deflate(chunk))
    deflater.end()
    pngChunk(out, "IDAT", zBuf.toByteArray)
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** The Paeth predictor (PNG spec §9.4) — exact integer arithmetic. */
  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /**
   * Parse an 8-bit PNG — sequential or Adam7-interlaced — of ANY of the
   * five color types
   * (grayscale, truecolor, palette-indexed, gray+alpha, RGBA) into
   * (width, height, top-down RGB) — grayscale expands to R=G=B, palette
   * indices resolve through PLTE, alpha channels drop (features run over
   * the color data; alpha is carrier metadata), so downstream features
   * are container-blind (the BMP normalization precedent). Real chunk
   * walk: IHDR validated (CRC included), PLTE captured (required before
   * IDAT for type 3), multiple IDAT chunks concatenated in order (the
   * spec allows any split), ancillary chunks (tEXt, pHYs, gAMA, tRNS, …)
   * skipped by declared size, IEND terminates; Adam7 streams unfilter
   * each of the seven pass sub-images independently and scatter them to
   * their interleaved positions; 16-bit samples reduce by high-byte
   * projection (non-palette types); 1/2/4-bit packed rows (gray or
   * palette) unpack MSB-first after unfiltering, gray scaling to 8-bit.
   * EVERY depth/type/interlace combination the spec defines now
   * decodes. Invalid combinations (16-bit palette, sub-byte color), bad
   * CRCs, out-of-palette indices, inflate errors, and short/layout-
   * mismatched rasters all yield None — never a task failure.
   */
  def decodePng(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < PngSig.length + 12 ||
      !PngSig.indices.forall(i => bytes(i) == PngSig(i))) return None
    val buf = java.nio.ByteBuffer.wrap(bytes) // network byte order (default)
    var pos = PngSig.length
    var w = 0; var h = 0; var bpp = 0; var colorType = -1
    var interlaced = false
    var depth16 = false
    var subDepth = 0 // 1/2/4-bit packed depths; 0 = whole-byte samples
    var palette: Array[Byte] = null
    var seenIhdr = false; var done = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!done && pos + 12 <= bytes.length) {
      val len = buf.getInt(pos)
      if (len < 0 || pos + 12 + len.toLong > bytes.length) return None
      val tag = new String(bytes, pos + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      // CRC covers tag + body (spec §5.3); a corrupt critical chunk must
      // reject, not decode garbage
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      if (crc.getValue.toInt != buf.getInt(pos + 8 + len)) return None
      tag match {
        case "IHDR" =>
          if (len != 13 || seenIhdr) return None
          w = buf.getInt(pos + 8)
          h = buf.getInt(pos + 12)
          val bitDepth = bytes(pos + 16) & 0xFF
          colorType = bytes(pos + 17) & 0xFF
          val interlace = bytes(pos + 20) & 0xFF
          bpp = pngBpp(colorType)
          val okDepth = bitDepth match {
            case 8 => true
            case 16 => colorType != 3 // palette is 8-bit max
            case 1 | 2 | 4 => colorType == 0 || colorType == 3 // packed
            case _ => false
          }
          if (!okDepth || bpp <= 0 ||
            (bytes(pos + 18) & 0xFF) != 0 || (bytes(pos + 19) & 0xFF) != 0 ||
            interlace > 1) return None
          interlaced = interlace == 1
          depth16 = bitDepth == 16
          subDepth = if (bitDepth < 8) bitDepth else 0
          if (w <= 0 || h <= 0 || w.toLong * h * 8 > Int.MaxValue) return None
          seenIhdr = true
        case "PLTE" =>
          if (!seenIhdr || len % 3 != 0 || len < 3 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
        case "IDAT" =>
          if (!seenIhdr) return None
          if (colorType == 3 && palette == null) return None // PLTE before IDAT
          idat.write(bytes, pos + 8, len)
        case "IEND" => done = true
        case _ => () // tEXt, pHYs, gAMA, tRNS … — skip by declared size
      }
      pos += 12 + len
    }
    if (!done || !seenIhdr) return None
    if (colorType == 3 && palette == null) return None
    val sb = if (depth16) bpp * 2 else bpp // raster bytes per pixel (≥8-bit)
    // sub-byte depths (1/2/4-bit gray or palette) pack pixels into row
    // bytes; each scanline starts a fresh byte and filters at unit 1
    def rowBytesFor(pw: Int): Long =
      if (subDepth > 0) (pw.toLong * subDepth + 7) / 8 else pw.toLong * sb
    val filterUnit = if (subDepth > 0) 1 else sb
    // filter bytes (1/row) can overflow Int for near-cap headers — size in
    // Long and cap the decode buffer at 1 GiB (the GIF frame-bomb guard)
    // so a crafted header yields None, never NegativeArraySizeException
    // or a multi-GiB allocation before any IDAT plausibility check.
    val rawLenL: Long =
      if (!interlaced) h.toLong * (1L + rowBytesFor(w))
      else (0 until 7).map { p =>
        val (pw, ph) = adam7Dims(w, h, p)
        if (pw > 0 && ph > 0) ph.toLong * (1L + rowBytesFor(pw)) else 0L
      }.sum
    if (rawLenL <= 0 || rawLenL > (1L << 30)) return None
    val rawLen = rawLenL.toInt
    val raw = new Array[Byte](rawLen)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val got =
      try {
        var at = 0
        var stalled = false // truncated IDAT: inflate yields 0 and wants more
        while (at < raw.length && !inflater.finished() && !stalled) {
          val n = inflater.inflate(raw, at, raw.length - at)
          if (n == 0 && inflater.needsInput()) stalled = true
          else at += n
        }
        if (stalled) -1 else at
      } catch { case _: java.util.zip.DataFormatException => -1 }
      finally inflater.end()
    if (got != raw.length) return None
    // unfilter (spec §9): each byte's prediction uses the RECONSTRUCTED
    // left/up/up-left bytes — sequentially, or per Adam7 pass with the
    // pass's pixels scattered to their interleaved positions. Sub-byte
    // rows unpack MSB-first AFTER unfiltering (gray values scale to
    // 8-bit: ×255/85/17 for depths 1/2/4; palette indices stay raw).
    val grayScale = subDepth match {
      case 1 => 255; case 2 => 85; case 4 => 17; case _ => 1
    }
    def unpackRow(packed: Array[Byte], rowOff: Int, pw: Int,
                  out: Array[Byte], outOff: Int): Unit = {
      var c = 0
      while (c < pw) {
        val bitPos = c * subDepth
        val v = ((packed(rowOff + (bitPos >> 3)) & 0xFF) >>
          (8 - subDepth - (bitPos & 7))) & ((1 << subDepth) - 1)
        out(outOff + c) =
          (if (colorType == 0) v * grayScale else v).toByte
        c += 1
      }
    }
    val pxWide = new Array[Byte](h * w * sb) // 1 byte/sample for sub-byte
    if (!interlaced) {
      val rb = rowBytesFor(w).toInt // ≤ rawLen/h, Int-safe post-cap
      if (subDepth == 0) {
        if (!pngUnfilterInto(raw, 0, rb, h, filterUnit, pxWide)) return None
      } else {
        val packed = new Array[Byte](h * rb)
        if (!pngUnfilterInto(raw, 0, rb, h, filterUnit, packed)) return None
        var y = 0
        while (y < h) {
          unpackRow(packed, y * rb, w, pxWide, y * w)
          y += 1
        }
      }
    } else {
      var off = 0
      var p = 0
      while (p < 7) {
        val (xs, ys, xStep, yStep) = Adam7(p)
        val (pw, ph) = adam7Dims(w, h, p)
        if (pw > 0 && ph > 0) {
          val rb = rowBytesFor(pw).toInt // ≤ rawLen/ph, Int-safe post-cap
          val sub = new Array[Byte](ph * rb)
          if (!pngUnfilterInto(raw, off, rb, ph, filterUnit, sub)) return None
          val samples =
            if (subDepth == 0) sub
            else {
              val s = new Array[Byte](ph * pw)
              var r = 0
              while (r < ph) {
                unpackRow(sub, r * rb, pw, s, r * pw)
                r += 1
              }
              s
            }
          var r = 0
          while (r < ph) {
            var c = 0
            while (c < pw) {
              var b = 0
              while (b < sb) {
                pxWide(((ys + r * yStep) * w + xs + c * xStep) * sb + b) =
                  samples((r * pw + c) * sb + b)
                b += 1
              }
              c += 1
            }
            r += 1
          }
          off += ph * (1 + rb)
        }
        p += 1
      }
    }
    // depth 16 → 8: keep each sample's HIGH byte (network order puts it
    // first) — the standard bit-depth reduction
    val px =
      if (!depth16) pxWide
      else {
        val p8 = new Array[Byte](h * w * bpp)
        var k = 0
        while (k < p8.length) {
          p8(k) = pxWide(2 * k)
          k += 1
        }
        p8
      }
    // normalize every color type to the container-blind top-down RGB
    // stream (grayscale → R=G=B; palette → PLTE lookup; alpha dropped —
    // features run over the color channels, alpha is carrier metadata)
    colorType match {
      case 2 => Some((w, h, px))
      case 0 =>
        val rgb = new Array[Byte](w * h * 3)
        var k = 0
        while (k < w * h) {
          rgb(3 * k) = px(k); rgb(3 * k + 1) = px(k); rgb(3 * k + 2) = px(k)
          k += 1
        }
        Some((w, h, rgb))
      case 3 =>
        val entries = palette.length / 3
        val rgb = new Array[Byte](w * h * 3)
        var k = 0
        while (k < w * h) {
          val i = px(k) & 0xFF
          if (i >= entries) return None // index past the palette: corrupt
          rgb(3 * k) = palette(3 * i)
          rgb(3 * k + 1) = palette(3 * i + 1)
          rgb(3 * k + 2) = palette(3 * i + 2)
          k += 1
        }
        Some((w, h, rgb))
      case 4 =>
        val rgb = new Array[Byte](w * h * 3)
        var k = 0
        while (k < w * h) {
          val g = px(2 * k)
          rgb(3 * k) = g; rgb(3 * k + 1) = g; rgb(3 * k + 2) = g
          k += 1
        }
        Some((w, h, rgb))
      case 6 =>
        val rgb = new Array[Byte](w * h * 3)
        var k = 0
        while (k < w * h) {
          rgb(3 * k) = px(4 * k)
          rgb(3 * k + 1) = px(4 * k + 1)
          rgb(3 * k + 2) = px(4 * k + 2)
          k += 1
        }
        Some((w, h, rgb))
      case _ => None
    }
  }

  /** Encode a canonical 16-bit mono PCM WAV. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
      .putShort(1)                    // PCM
      .putShort(1)                    // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)         // byte rate
      .putShort(2)                    // block align
      .putShort(16)                   // bits per sample
    buf.put("data".getBytes).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Parse a RIFF/WAVE payload (PCM, mono, 16-bit) into unsigned 8-bit
    * samples (`(s16 >> 8) + 128` — the standard 16→8 requantization).
    * Walks the chunk list generically, skipping unknown chunks by their
    * declared (word-aligned) size. None on malformed/unsupported. */
  def decodeWav(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < 12) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(at: Int): String =
      if (at + 4 > bytes.length) ""
      else new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag4(0) != "RIFF" || tag4(8) != "WAVE") return None
    var pos = 12
    var fmtOk = false
    var data: Array[Byte] = null
    while (pos + 8 <= bytes.length && (data == null || !fmtOk)) {
      val id = tag4(pos)
      val size = buf.getInt(pos + 4)
      if (size < 0 || pos + 8 + size > bytes.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          val audioFormat = buf.getShort(pos + 8)
          val channels = buf.getShort(pos + 10)
          val bits = buf.getShort(pos + 22)
          if (audioFormat != 1 || channels != 1 || bits != 16) return None
          fmtOk = true
        case "data" =>
          data = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size)
        case _ => () // LIST, fact, cue … — skip by declared size
      }
      pos += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    if (!fmtOk || data == null || data.length % 2 != 0) return None
    val out = new Array[Byte](data.length / 2)
    val db = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < out.length) {
      out(i) = ((db.getShort(i * 2) >> 8) + 128).toByte
      i += 1
    }
    Some(out)
  }

  // GIF (87a/89a) — the other palette container real crawls carry, and the
  // one multi-frame IMAGE container in wide use (animated GIF = the
  // smallest real "video" a crawl yields). Dependency-free: the variable-
  // width LZW codec is ~80 lines; the rest is the block grammar
  // (logical screen descriptor, global/local color tables, interlace,
  // graphic-control extensions, frame compositing with transparency).

  /** The 256-entry grayscale palette (i, i, i) the synthetic GIF fixture
    * uses — decoded RGB of index v is exactly (v, v, v), so the DuckDB
    * oracle recomputes features from the fixture byte directly. */
  def grayPalette256: Array[Byte] = {
    val p = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      p(3 * i) = i.toByte; p(3 * i + 1) = i.toByte; p(3 * i + 2) = i.toByte
      i += 1
    }
    p
  }

  /** Display-row order of interlaced GIF data: the four passes store rows
    * 0,8,16…, then 4,12…, then 2,6…, then 1,3,5… — `result(k)` is the
    * display row of the k-th STORED row (shared by encoder and decoder,
    * so a round-trip that forgets interlace scrambles rows and fails). */
  private def gifInterlaceOrder(h: Int): Array[Int] = {
    val out = new Array[Int](h)
    var k = 0
    var pass = 0
    val starts = Array(0, 4, 2, 1)
    val steps = Array(8, 8, 4, 2)
    while (pass < 4) {
      var y = starts(pass)
      while (y < h) { out(k) = y; k += 1; y += steps(pass) }
      pass += 1
    }
    out
  }

  /** GIF variable-width LZW compression (minCodeSize 8): clear code first,
    * code width grows at `next == (1 << width) + 1` (the encoder runs one
    * dictionary entry AHEAD of the decoder — the classic off-by-one), a
    * clear-and-reset when the 12-bit table fills. Bits pack LSB-first. */
  private def gifLzwEncode(data: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    var width = minCode + 1
    def emit(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += width
      while (nbits >= 8) {
        out.write((acc & 0xFF).toInt)
        acc >>= 8
        nbits -= 8
      }
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = eoi + 1
    emit(clear)
    var prefix = data(0) & 0xFF
    var i = 1
    while (i < data.length) {
      val b = data(i) & 0xFF
      val key = Integer.valueOf((prefix << 8) | b)
      val hit = dict.get(key)
      if (hit != null) prefix = hit.intValue()
      else {
        emit(prefix)
        if (next < 4096) {
          dict.put(key, Integer.valueOf(next))
          next += 1
          if (next == (1 << width) + 1 && width < 12) width += 1
        } else { // table full: reset both sides
          emit(clear)
          dict.clear()
          next = eoi + 1
          width = minCode + 1
        }
        prefix = b
      }
      i += 1
    }
    emit(prefix)
    emit(eoi)
    if (nbits > 0) out.write((acc & 0xFF).toInt)
    out.toByteArray
  }

  /** GIF LZW decompression: mirrors [[gifLzwEncode]] — dictionary as
    * prefix/suffix arrays, the `code == next` self-referential case
    * (KwKwK), width growth at `next == 1 << width`, adds stop at the
    * 12-bit ceiling until a clear code resets. Strict: the stream must
    * produce exactly `expected` pixels or the frame is corrupt (None). */
  private def gifLzwDecode(data: Array[Byte], minCode: Int,
                           expected: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Byte](expected)
    var outAt = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var next = eoi + 1
    var width = minCode + 1
    var prev = -1
    var bitPos = 0L
    val totalBits = data.length.toLong * 8
    def readCode(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        v |= (((data((bp >> 3).toInt) & 0xFF) >> (bp & 7).toInt) & 1) << i
        i += 1
      }
      bitPos += width
      v
    }
    def firstOf(code0: Int): Byte = {
      var c = code0
      while (c >= clear + 2) c = prefix(c)
      c.toByte
    }
    while (outAt < expected) {
      val c = readCode()
      if (c < 0 || c == eoi) return None // raster short: corrupt
      if (c == clear) {
        next = eoi + 1; width = minCode + 1; prev = -1
      } else if (prev < 0) {
        if (c >= clear) return None // first code must be a root
        out(outAt) = c.toByte
        outAt += 1
        prev = c
      } else {
        if (c > next || c == next && next >= 4096) return None
        var code = c
        var sp = 0
        if (code == next) { // KwKwK: string = prev's string + its first char
          stack(sp) = firstOf(prev); sp += 1
          code = prev
        }
        while (code >= clear + 2) {
          stack(sp) = suffix(code); sp += 1
          code = prefix(code)
        }
        if (code >= clear) return None
        stack(sp) = code.toByte
        sp += 1
        if (outAt + sp > expected) return None // raster overflow: corrupt
        var i = sp - 1
        while (i >= 0) {
          out(outAt) = stack(i); outAt += 1; i -= 1
        }
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = stack(sp - 1) // first char of the emitted string
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = c
      }
    }
    Some(out)
  }

  /** Encode a GIF89a animation from full-frame palette-index rasters
    * (1 byte/px top-down) over a 256-entry global color table. */
  def encodeGif(w: Int, h: Int, frames: Seq[Array[Byte]],
                palette: Array[Byte],
                interlace: Boolean = false): Array[Byte] =
    encodeGifFrames(w, h,
      frames.map(f => (0, 0, w, h, f, -1)), palette, interlace)

  /** Full-control GIF89a encoder: each frame is (left, top, fw, fh,
    * indices, transparentIdx) — placed sub-rect frames with a Graphic
    * Control Extension when `transparentIdx >= 0`, so the decoder's
    * compositing path (offsets + transparency holes) is exercisable. */
  def encodeGifFrames(w: Int, h: Int,
                      frames: Seq[(Int, Int, Int, Int, Array[Byte], Int)],
                      palette: Array[Byte],
                      interlace: Boolean = false): Array[Byte] = {
    require(palette.length == 768, "encoder writes a 256-entry GCT")
    require(frames.nonEmpty, "a GIF needs at least one image block")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    u16(w); u16(h)
    out.write(0xF7) // GCT present, 2^(7+1) = 256 entries
    out.write(0)    // background color index
    out.write(0)    // pixel aspect ratio
    out.write(palette, 0, 768)
    frames.foreach { case (left, top, fw, fh, idx, transparent) =>
      require(idx.length == fw * fh,
        s"frame raster needs $fw*$fh = ${fw * fh} bytes, got ${idx.length}")
      require(left >= 0 && top >= 0 && left + fw <= w && top + fh <= h,
        "frame rect must sit inside the logical screen")
      if (transparent >= 0) { // Graphic Control Extension
        out.write(0x21); out.write(0xF9); out.write(4)
        out.write(1) // transparent-color flag
        u16(0)       // delay
        out.write(transparent)
        out.write(0) // block terminator
      }
      out.write(0x2C)
      u16(left); u16(top); u16(fw); u16(fh)
      out.write(if (interlace) 0x40 else 0x00) // no LCT
      val ordered =
        if (!interlace) idx
        else {
          val order = gifInterlaceOrder(fh)
          val o = new Array[Byte](idx.length)
          var k = 0
          while (k < fh) {
            System.arraycopy(idx, order(k) * fw, o, k * fw, fw)
            k += 1
          }
          o
        }
      out.write(8) // LZW minimum code size
      val lzw = gifLzwEncode(ordered, 8)
      var at = 0
      while (at < lzw.length) {
        val n = math.min(255, lzw.length - at)
        out.write(n)
        out.write(lzw, at, n)
        at += n
      }
      out.write(0) // data sub-block terminator
    }
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /**
   * Parse a GIF87a/89a payload into (width, height, top-down RGB frames).
   * Real block walk: logical screen descriptor + global color table,
   * extensions skipped by sub-block lengths (Graphic Control Extensions
   * read for the transparent index), image descriptors with optional
   * local color tables and interlace, variable-width LZW decompression,
   * trailer terminates. Animation semantics: each image block composites
   * onto the running canvas at its (left, top) rect — transparent pixels
   * leave the previous content visible (disposal "do not dispose", the
   * delta-frame shape real animated GIFs use) — and the canvas snapshot
   * after each block is that frame. Corrupt signatures, truncated
   * sub-blocks, out-of-palette indices, over/under-full rasters, and
   * unknown block types all yield None — never a task failure.
   */
  def decodeGif(bytes: Array[Byte])
      : Option[(Int, Int, IndexedSeq[Array[Byte]])] = {
    if (bytes == null || bytes.length < 13) return None
    val sig = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    def u16(at: Int): Int = (bytes(at) & 0xFF) | ((bytes(at + 1) & 0xFF) << 8)
    val w = u16(6)
    val h = u16(8)
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > Int.MaxValue) return None
    val packed = bytes(10) & 0xFF
    var pos = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (pos + 3 * n > bytes.length) return None
      gct = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
      pos += 3 * n
    }
    val frames = Vector.newBuilder[Array[Byte]]
    var sawFrame = false
    var nFrames = 0
    val canvas = new Array[Byte](w * h * 3) // starts black
    var transparent = -1
    var done = false
    while (!done) {
      if (pos >= bytes.length) return None // ran out before the trailer
      (bytes(pos) & 0xFF) match {
        case 0x3B => done = true
        case 0x21 => // extension: label, then length-prefixed sub-blocks
          if (pos + 2 > bytes.length) return None
          val label = bytes(pos + 1) & 0xFF
          var p = pos + 2
          if (label == 0xF9) { // GCE: [size=4][packed][delay x2][index]
            if (p + 6 > bytes.length || (bytes(p) & 0xFF) != 4) return None
            transparent =
              if ((bytes(p + 1) & 1) != 0) bytes(p + 4) & 0xFF else -1
          }
          var blk = 0
          while (p < bytes.length && { blk = bytes(p) & 0xFF; blk != 0 }) {
            p += 1 + blk
          }
          if (p >= bytes.length) return None // missing terminator
          pos = p + 1
        case 0x2C => // image descriptor
          if (pos + 10 > bytes.length) return None
          val left = u16(pos + 1)
          val top = u16(pos + 3)
          val fw = u16(pos + 5)
          val fh = u16(pos + 7)
          val ip = bytes(pos + 9) & 0xFF
          var p = pos + 10
          var pal = gct
          if ((ip & 0x80) != 0) { // local color table overrides
            val n = 2 << (ip & 7)
            if (p + 3 * n > bytes.length) return None
            pal = java.util.Arrays.copyOfRange(bytes, p, p + 3 * n)
            p += 3 * n
          }
          if (pal == null) return None
          if (fw <= 0 || fh <= 0 || left + fw > w || top + fh > h) return None
          if (p >= bytes.length) return None
          val minCode = bytes(p) & 0xFF
          p += 1
          if (minCode < 2 || minCode > 8) return None
          val data = new java.io.ByteArrayOutputStream()
          var blk = 0
          while (p < bytes.length && { blk = bytes(p) & 0xFF; blk != 0 }) {
            if (p + 1 + blk > bytes.length) return None
            data.write(bytes, p + 1, blk)
            p += 1 + blk
          }
          if (p >= bytes.length) return None // missing terminator
          pos = p + 1
          val idx = gifLzwDecode(data.toByteArray, minCode, fw * fh) match {
            case Some(a) => a
            case None => return None
          }
          val rowOf =
            if ((ip & 0x40) != 0) gifInterlaceOrder(fh)
            else Array.tabulate(fh)(identity)
          val entries = pal.length / 3
          var r = 0
          while (r < fh) {
            val y = top + rowOf(r)
            var x = 0
            while (x < fw) {
              val ci = idx(r * fw + x) & 0xFF
              if (ci != transparent) {
                if (ci >= entries) return None // index past the palette
                val o = (y * w + left + x) * 3
                canvas(o) = pal(3 * ci)
                canvas(o + 1) = pal(3 * ci + 1)
                canvas(o + 2) = pal(3 * ci + 2)
              }
              x += 1
            }
            r += 1
          }
          // frame-bomb guard: a crawl GIF claiming thousands of frames
          // on a big canvas would materialize frames × w × h × 3 bytes —
          // cap the decoded total at 1 GiB and call the rest corrupt
          nFrames += 1
          if (nFrames.toLong * w * h * 3 > (1L << 30)) return None
          frames += canvas.clone()
          sawFrame = true
          transparent = -1 // a GCE governs only the next rendering block
        case _ => return None // unknown block type: corrupt
      }
    }
    if (!sawFrame) None else Some((w, h, frames.result()))
  }

  /**
   * Decode a payload into its frame list by sniffing the container magic
   * (the way real demuxers dispatch — the metadata is advisory):
   * `P6` → one or more concatenated PPM frames (image = 1, video = many),
   * `RIFF` → one WAV "frame" of 8-bit-requantized samples. Corrupt,
   * truncated, or unknown payloads yield no frames — never a task failure.
   */
  def decodeFrames(payload: Array[Byte]): IndexedSeq[Array[Byte]] = {
    if (payload == null || payload.length < 2) return Vector.empty
    if (payload(0) == 'P' && payload(1) == '6') {
      val frames = Vector.newBuilder[Array[Byte]]
      var off = 0
      var ok = true
      while (ok && off < payload.length) {
        decodePpm(payload, off) match {
          case Some((_, _, px, consumed)) =>
            frames += px
            off += consumed
          case None => ok = false // trailing garbage invalidates nothing decoded
        }
      }
      if (ok) frames.result() else Vector.empty
    } else if (payload(0) == 'B' && payload(1) == 'M') {
      decodeBmp(payload).map { case (_, _, px) => Vector(px) }
        .getOrElse(Vector.empty)
    } else if (payload(0) == PngSig(0) && payload(1) == PngSig(1)) {
      decodePng(payload).map { case (_, _, px) => Vector(px) }
        .getOrElse(Vector.empty)
    } else if (payload.length >= 3 && payload(0) == 'G' && payload(1) == 'I'
               && payload(2) == 'F') {
      decodeGif(payload).map { case (_, _, fs) => fs.toVector }
        .getOrElse(Vector.empty)
    } else if ((payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8) {
      Jpeg.decode(payload).map { case (_, _, px) => Vector(px) }
        .getOrElse(Vector.empty)
    } else if (payload.length >= 4 && payload(0) == 'R' && payload(1) == 'I'
               && payload(2) == 'F' && payload(3) == 'F') {
      decodeWav(payload).map(Vector(_)).getOrElse(Vector.empty)
    } else Vector.empty
  }

  /** All decoded frames concatenated into one sample/pixel stream. */
  private def decodeAll(payload: Array[Byte]): Array[Byte] = {
    val frames = decodeFrames(payload)
    if (frames.isEmpty) Array.emptyByteArray
    else if (frames.length == 1) frames.head
    else {
      val out = new Array[Byte](frames.map(_.length).sum)
      var at = 0
      frames.foreach { f =>
        System.arraycopy(f, 0, out, at, f.length)
        at += f.length
      }
      out
    }
  }

  // ------------------------------------------------------------------
  // Synthetic fixture (real bytes, deterministic content)
  // ------------------------------------------------------------------

  /** Deterministic fixture stream: element k is
    * `(textByte[k mod L] + k) mod 256` (`k mod 256` for empty text) —
    * recomputable in SQL, so the oracle can check features produced by
    * the REAL decode path end-to-end. */
  private[graft] def fixtureStream(text: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    val l = text.length
    var k = 0
    while (k < n) {
      out(k) = (if (l == 0) k else (text(k % l) & 0xFF) + k).toByte
      k += 1
    }
    out
  }

  /**
   * Attach a binary payload + metadata struct to any table, derived
   * deterministically from an id + text column so the fixture reproduces
   * at every scale factor (stands in for `spark.read.format("binaryFile")`).
   * Payloads are REAL format bytes: 24-bit BMP, 8-bit PNG, and P6 PPM
   * rotating for images, concatenated P6 frames for video, RIFF/PCM WAV
   * for audio — so the decode side exercises genuine parsers (including
   * DEFLATE and all five PNG scanline filters), and any external
   * P6/BMP/PNG/WAV tool reads them.
   */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string")).map { row =>
      val id = row.getLong(0)
      val text = row.getString(1)
      val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 8).toInt
      val perFrame = w * h * 3
      (id % 3) match {
        case 0 =>
          // rotate the image container three ways: image ids (multiples
          // of 3) split by id % 9 into BMP / PNG / P6 — all three decode
          // to the SAME pixel stream, so the oracles (which recompute
          // from (id, text)) are container-blind and a regression in ANY
          // of the three real parsers breaks the hash. The PNG rows go
          // through DEFLATE and all five scanline filters (encodePng
          // cycles filter type by row).
          val px = fixtureStream(tb, perFrame)
          val payload = (id % 9) match {
            case 0 => encodeBmp(w, h, px)
            case 3 =>
              // the PNG arm itself alternates truecolor-sequential and
              // RGBA-Adam7 (alpha 255 — the decode drops it), so the
              // type-6 path AND the seven-pass deinterlacer are both
              // oracle-exercised: identical pixels, different rasters
              if (id % 18 == 3) encodePng(w, h, px)
              else {
                val rgba = new Array[Byte](px.length / 3 * 4)
                var k = 0
                while (k < px.length / 3) {
                  rgba(4 * k) = px(3 * k)
                  rgba(4 * k + 1) = px(3 * k + 1)
                  rgba(4 * k + 2) = px(3 * k + 2)
                  rgba(4 * k + 3) = 255.toByte
                  k += 1
                }
                encodePngOfType(w, h, 6, rgba, interlace = true)
              }
            case _ => encodePpm(w, h, px)
          }
          MediaRow(id, payload, MediaMeta("image", w, h, 1, 0))
        case 1 =>
          val u8 = fixtureStream(tb, perFrame)
          val samples = new Array[Short](u8.length)
          var i = 0
          while (i < u8.length) {
            samples(i) = (((u8(i) & 0xFF) - 128) << 8).toShort
            i += 1
          }
          MediaRow(id, encodeWav(16000, samples),
            MediaMeta("audio", w, h, 1, 16000))
        case _ =>
          val nf = 8 + (id % 8).toInt
          val all = fixtureStream(tb, nf * perFrame)
          val out = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nf) {
            out.write(encodePpm(w, h,
              java.util.Arrays.copyOfRange(all, f * perFrame, (f + 1) * perFrame)))
            f += 1
          }
          MediaRow(id, out.toByteArray, MediaMeta("video", w, h, nf, 0))
      }
    }
  }

  /**
   * The GIF sibling of [[syntheticMedia]]: every row is a genuine GIF89a
   * payload over the 256-entry grayscale palette (decoded RGB of fixture
   * byte v is exactly (v, v, v), so the oracle recomputes features from
   * the fixture formula directly). Even ids are single-frame images, odd
   * ids are 2–5-frame animations (the multi-frame container real crawls
   * actually deliver); ids with `id % 4 >= 2` are INTERLACED, so the
   * four-pass deinterlacer sits on the oracle-checked path — a row-order
   * or LZW regression breaks the feature hash immediately.
   */
  def syntheticGifMedia(df: DataFrame, idCol: String,
                        textCol: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string")).map { row =>
      val id = row.getLong(0)
      val text = row.getString(1)
      val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 8).toInt
      val nf = if (id % 2 == 0) 1 else 2 + (id % 4).toInt
      val all = fixtureStream(tb, nf * w * h)
      val frames = (0 until nf).map(f =>
        java.util.Arrays.copyOfRange(all, f * w * h, (f + 1) * w * h))
      val payload = encodeGif(w, h, frames, grayPalette256,
        interlace = id % 4 >= 2)
      MediaRow(id, payload,
        MediaMeta(if (nf == 1) "image" else "video", w, h, nf, 0))
    }
  }

  /**
   * The JPEG sibling of [[syntheticMedia]]: every row is a genuine
   * baseline JPEG of the fixture pixel stream — color 4:4:4 normally,
   * grayscale for `id % 5 == 0`, restart markers every 2 MCUs for
   * `id % 3 == 0` — so the oracled `media_jpeg_meta` query drives the
   * full marker grammar, Huffman decode, IDCT, and RST resync on real
   * bytes. JPEG is lossy, so the oracle checks decodability + exact
   * dimensions; pixel-level agreement is pinned by the ImageIO
   * cross-check specs.
   */
  def syntheticJpegMedia(df: DataFrame, idCol: String,
                         textCol: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string")).map { row =>
      val id = row.getLong(0)
      val text = row.getString(1)
      val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 16 + (id % 16).toInt
      val h = 16 + (id % 8).toInt
      val gray = id % 5 == 0
      val px = fixtureStream(tb, w * h * (if (gray) 1 else 3))
      // odd ids encode PROGRESSIVE (SOF2, DC scan + per-component AC
      // scans) -- a large share of real web JPEGs; the oracle pins the
      // same dims + ok, so a decoder that drops progressive arms
      // hash-mismatches
      val ri = if (id % 3 == 0) 2 else 0
      val payload =
        if (id % 2 == 1)
          Jpeg.encodeProgressive(w, h, px, quality = 85, gray = gray,
            restartInterval = ri)
        else Jpeg.encode(w, h, px, quality = 85, gray = gray,
          restartInterval = ri)
      MediaRow(id, payload, MediaMeta("image", w, h, 1, 0))
    }
  }

  /** Decode JPEG payloads to their dimensions — the metadata-exact slice
    * of the decode (dimensions parse from SOF0 but are only emitted when
    * the WHOLE scan entropy-decodes, so `ok` certifies the full path). */
  def jpegMeta(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        Jpeg.decode(m.payload) match {
          case Some((w, h, px)) =>
            (m.id, w, h, px.length == w * h * 3)
          case None => (m.id, -1, -1, false)
        }
      }
    }.toDF("id", "width", "height", "ok")
  }

  /**
   * Feature extraction over media batches: one `mapPartitions` pass,
   * decoder state initialized once per partition (the batch shape that
   * amortizes native-decoder init at scale), 16-bin histogram + mean
   * luminance per row over the REAL decoded samples. Corrupt/null
   * payloads yield empty features instead of failing the task.
   */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (native handles, buffers)
      val histBuf = new Array[Double](16)
      rows.map { m =>
        java.util.Arrays.fill(histBuf, 0.0)
        val px = decodeAll(m.payload)
        var i = 0
        var lumaSum = 0.0
        while (i < px.length) {
          val b = px(i) & 0xFF
          histBuf(b >> 4) += 1.0
          lumaSum += b
          i += 1
        }
        val n = math.max(px.length, 1)
        MediaFeatures(m.id, m.meta.media_type, px.length,
          histBuf.map(_ / n), lumaSum / n)
      }
    }
  }

  /** [[extractFeatures]] PLUS the frame count, from ONE decode pass
    * (r16): a consumer that wants features AND n_frames previously
    * paired extractFeatures with a stride-1 [[sampleFrames]], decoding
    * every payload twice — for animated GIFs the decode IS the cost.
    * Identical feature math (same accumulation order over the frames
    * in sequence, same max(len, 1) divisor); `n_frames` counts decoded
    * frames with the sampleFrames floor (a corrupt/empty payload
    * reports 1, matching the single FrameRow it would have emitted). */
  def extractFeaturesWithFrames(media: Dataset[MediaRow])
      : Dataset[MediaFeaturesN] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val histBuf = new Array[Double](16)
      rows.map { m =>
        java.util.Arrays.fill(histBuf, 0.0)
        val frames = decodeFrames(m.payload)
        var total = 0
        var lumaSum = 0.0
        frames.foreach { px =>
          var i = 0
          while (i < px.length) {
            val b = px(i) & 0xFF
            histBuf(b >> 4) += 1.0
            lumaSum += b
            i += 1
          }
          total += px.length
        }
        val n = math.max(total, 1)
        MediaFeaturesN(m.id, m.meta.media_type, total,
          histBuf.map(_ / n), lumaSum / n, math.max(frames.length, 1))
      }
    }
  }

  /**
   * Frame sampling for video rows: every `stride`-th DECODED frame
   * becomes a row (stands in for keyframe extraction — with P6 streams
   * the frame boundaries come from the parser, not arithmetic).
   * Non-video rows pass through as frame 0.
   */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 2): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val frames = decodeFrames(m.payload)
      if (frames.length <= 1) {
        Iterator.single(FrameRow(m.id, 0,
          frames.headOption.getOrElse(Array.emptyByteArray)))
      } else {
        (0 until frames.length by stride).iterator.map(f =>
          FrameRow(m.id, f, frames(f)))
      }
    }
  }

  /**
   * "Resize": re-bucket the decoded samples to a fixed-size feature array
   * (stands in for bilinear resize to a model's input resolution).
   */
  def resizeTo(media: Dataset[MediaRow], targetLen: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val px = decodeAll(m.payload)
      val out = new Array[Double](targetLen)
      if (px.nonEmpty) {
        var i = 0
        while (i < targetLen) {
          val src = (i.toLong * px.length / targetLen).toInt
          out(i) = (px(src) & 0xFF).toDouble / 255.0
          i += 1
        }
      }
      (m.id, out)
    }.toDF("id", "resized")
  }

  final case class PHashRow(id: Long, width: Int, height: Int,
                            ahash: Long, dhash: Long)

  /** First decoded frame WITH its dimensions (the phash kernels need
    * geometry, which [[decodeFrames]] deliberately strips): P6 → frame 0
    * of the stream, BMP/PNG → the image; audio/corrupt/unknown → None. */
  def decodeFirstFrame(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (payload == null || payload.length < 2) None
    else if (payload(0) == 'P' && payload(1) == '6')
      decodePpm(payload, 0).map { case (w, h, px, _) => (w, h, px) }
    else if (payload(0) == 'B' && payload(1) == 'M') decodeBmp(payload)
    else if (payload(0) == PngSig(0) && payload(1) == PngSig(1))
      decodePng(payload)
    else if (payload.length >= 3 && payload(0) == 'G' && payload(1) == 'I'
             && payload(2) == 'F')
      decodeGif(payload).map { case (w, h, fs) => (w, h, fs.head) }
    else if ((payload(0) & 0xFF) == 0xFF && (payload(1) & 0xFF) == 0xD8)
      Jpeg.decode(payload)
    else None
  }

  /** Integer-exact Rec.601 grayscale of one RGB pixel:
    * (299·r + 587·g + 114·b) div 1000 — every step exact integer
    * arithmetic, so any engine recomputes the identical value (the
    * float 0.299r+0.587g+0.114b would round engine-dependently). */
  @inline private def gray(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  /** The aHash kernel over one decoded RGB frame (the textbook grid×grid
    * assignment bx = x·grid div w): integer block means, bit = block >
    * global mean — shared by [[perceptualHashes]] (whole images) and
    * [[videoFrameHashes]] (per frame). */
  private def aHashOf(w: Int, h: Int, px: Array[Byte], grid: Int): Long = {
    val aSums = new Array[Long](grid * grid)
    val aCnts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val byA = y * grid / h
      var x = 0
      while (x < w) {
        val bxA = x * grid / w
        val p = (y * w + x) * 3
        val g = gray(px(p) & 0xFF, px(p + 1) & 0xFF, px(p + 2) & 0xFF)
        val i = byA * grid + bxA
        aSums(i) += g
        aCnts(i) += 1
        x += 1
      }
      y += 1
    }
    val blocks = Array.tabulate(grid * grid)(i =>
      if (aCnts(i) == 0) 0L else aSums(i) / aCnts(i))
    val mean = blocks.sum / (grid * grid)
    var ah = 0L
    var i = 0
    while (i < grid * grid) {
      if (blocks(i) > mean) ah |= 1L << i
      i += 1
    }
    ah
  }

  /**
   * Perceptual image hashes — aHash and dHash (the classic public
   * average/gradient hashes) over the REAL decoded pixels, defined in
   * EXACT integer arithmetic end-to-end so an oracle recomputes the same
   * 64 bits from raw fixture bytes:
   *
   *  - grayscale: Rec.601 integer luma per pixel,
   *  - box downsample: pixel (x, y) belongs to block
   *    (x·gridW div w, y·gridH div h) — every pixel in exactly one
   *    block; block value = sum(gray) div count (floor),
   *  - aHash (8×8): bit(by,bx) = 1 iff block > (Σ blocks) div 64,
   *    bit index by·8+bx,
   *  - dHash (9×8): bit(by,bx) = 1 iff block(by,bx) > block(by,bx+1)
   *    (horizontal gradient over a 9-column grid), bit index by·8+bx.
   *
   * Both hashes are brightness-shift invariant (a constant luma offset
   * moves every block and the mean together) and robust to re-encoding
   * and mild rescaling — the container-swap/near-copy signature that
   * byte-level dedup misses entirely. Rows whose payload is not a
   * decodable image at least (gridW+1)×gridH pixels emit nothing
   * (emit-less, the classifier rule — a 5×5 thumbnail has no meaningful
   * 9-column gradient). Video rows hash their FIRST frame — the cheap
   * keyframe proxy; hash sampled frames via [[sampleFrames]] when
   * full-stream dedup matters.
   *
   * One `mapPartitions` pass, no shuffle; feed the hashes to
   * [[graft.dedup.Dedup.hammingNearDuplicates64]] for banded candidate
   * pairs and the CC/prune loop — the image sibling of text simhash.
   */
  def perceptualHashes(media: Dataset[MediaRow], grid: Int = 8): Dataset[PHashRow] = {
    require(grid >= 2 && grid <= 8, s"grid must be in [2, 8] (8x8 = 64 bits), got $grid")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val sums = new Array[Long](grid * (grid + 1))
      val cnts = new Array[Long](grid * (grid + 1))
      rows.flatMap { m =>
        hashPayload(m.payload, grid, sums, cnts).map { case (w, h, ah, dh) =>
          PHashRow(m.id, w, h, ah, dh)
        }.iterator
      }
    }
  }

  /** Both perceptual hashes of one payload, or None for non-decodable /
    * sub-grid images. `sums`/`cnts` are caller-provided scratch (length
    * grid·(grid+1)) so partition loops allocate once. */
  private def hashPayload(payload: Array[Byte], grid: Int,
                          sums: Array[Long], cnts: Array[Long])
      : Option[(Int, Int, Long, Long)] = {
    decodeFirstFrame(payload) match {
      case Some((w, h, px)) if w >= grid + 1 && h >= grid =>
        // dHash accumulates on the grid×(grid+1) wide grid here;
        // aHash runs its own grid×grid pixel pass inside aHashOf (the
        // 8-column box boundaries are NOT derivable from the 9-column
        // grid) — two passes over the decoded pixels, which the
        // decode cost dominates
        java.util.Arrays.fill(sums, 0L)
        java.util.Arrays.fill(cnts, 0L)
        var y = 0
        while (y < h) {
          val by = y * grid / h
          var x = 0
          while (x < w) {
            val bx = x * (grid + 1) / w
            val p = (y * w + x) * 3
            val g = gray(px(p) & 0xFF, px(p + 1) & 0xFF, px(p + 2) & 0xFF)
            val i = by * (grid + 1) + bx
            sums(i) += g
            cnts(i) += 1
            x += 1
          }
          y += 1
        }
        val wide = Array.tabulate(grid * (grid + 1))(i =>
          if (cnts(i) == 0) 0L else sums(i) / cnts(i))
        // dHash on the wide grid: horizontal gradient
        var dh = 0L
        var by = 0
        while (by < grid) {
          var bx = 0
          while (bx < grid) {
            if (wide(by * (grid + 1) + bx) > wide(by * (grid + 1) + bx + 1))
              dh |= 1L << (by * grid + bx)
            bx += 1
          }
          by += 1
        }
        Some((w, h, aHashOf(w, h, px, grid), dh))
      case _ => None
    }
  }

  final case class KeyedDims(key: String, width: Int, height: Int)

  /** Image geometry per STRING key — the decode step between a fetch
    * and [[graft.pipeline.Crawl.pairQualityFilter]]: (key, width,
    * height) for every payload the codec chain decodes; non-decodable
    * keys emit nothing (pairs left-join this, and the filter's
    * null-dims rule drops what never decoded). One mapPartitions
    * pass, no shuffle; only the first frame's header/geometry is
    * needed but corrupt data must not crash, so this runs the real
    * decode (emit-less on failure, the classifier rule). */
  def imageDimsByKey(images: DataFrame, keyCol: String = "img_url",
                     payloadCol: String = "body"): Dataset[KeyedDims] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col(keyCol).cast("string"), col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (key, payload) =>
          decodeFirstFrame(payload).map { case (w, h, _) =>
            KeyedDims(key, w, h)
          }.iterator
        }
      }
  }

  final case class KeyedVideoMeta(key: String, width: Int, height: Int,
                                  n_frames: Int)

  /** Video geometry + frame count per STRING key — the decode step
    * between a media fetch and
    * [[graft.pipeline.Crawl.videoPairQualityFilter]]'s gates:
    * (key, width, height, n_frames) for every payload the codec chain
    * decodes (multi-frame P6 streams and animated GIFs count every
    * frame; single-frame codecs count 1). Non-decodable keys emit
    * nothing — the [[imageDimsByKey]] rule: pairs left-join this and
    * the filter's null-meta rule drops what never decoded. One
    * mapPartitions pass, no shuffle. */
  def videoMetaByKey(media: DataFrame, keyCol: String = "media_url",
                     payloadCol: String = "body")
      : Dataset[KeyedVideoMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(keyCol).cast("string"),
        col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (key, p) =>
          val frames = decodeFrames(p)
          if (frames.isEmpty) Iterator.empty
          else decodeFirstFrame(p).map { case (w, h, _) =>
            KeyedVideoMeta(key, w, h, frames.length)
          }.iterator
        }
      }
  }

  final case class KeyedPHashRow(key: String, width: Int, height: Int,
                                 ahash: Long, dhash: Long)

  /** [[perceptualHashes]] keyed by an arbitrary STRING column — the
    * form a crawl's image harvest needs, where the natural identity is
    * the fetched img_url, not a minted long id. Same kernel, same
    * emit-less rule for non-decodable/sub-grid payloads; output keys
    * feed [[graft.dedup.Dedup.hammingNearDuplicates64]] /
    * [[graft.dedup.Dedup.connectedComponents]] directly (both are
    * id-type-agnostic — comparisons only). One mapPartitions pass, no
    * shuffle. */
  def perceptualHashesByKey(images: DataFrame, keyCol: String = "img_url",
                            payloadCol: String = "body",
                            grid: Int = 8): Dataset[KeyedPHashRow] = {
    require(grid >= 2 && grid <= 8, s"grid must be in [2, 8], got $grid")
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col(keyCol).cast("string"),
        col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        val sums = new Array[Long](grid * (grid + 1))
        val cnts = new Array[Long](grid * (grid + 1))
        rows.flatMap { case (key, payload) =>
          hashPayload(payload, grid, sums, cnts).map { case (w, h, ah, dh) =>
            KeyedPHashRow(key, w, h, ah, dh)
          }.iterator
        }
      }
  }

  /**
   * One-call perceptual image dedup — the [[graft.dedup.Dedup.minhashPrune]]
   * shape for the image modality: hash every decodable image
   * ([[perceptualHashes]]), find hamming near-dup pairs
   * ([[graft.dedup.Dedup.hammingNearDuplicates64]] — banded, exact at the
   * threshold), resolve transitive clusters, keep each cluster's min-id
   * representative, return the surviving MEDIA rows with their original
   * schema. Rows that don't hash (audio, corrupt, sub-grid) survive
   * untouched — only demonstrated near-duplicates drop.
   *
   * Scale shape: hashing is one mapPartitions pass; the pair join is the
   * 4×16-bit chunk bucket join (one shuffle, no cross join); CC runs on
   * the pair list (≪ corpus); the ids-only drop list anti-joins back
   * (`broadcastDrop = true` when the dup set is known small). Call
   * [[graft.dedup.Dedup.release]] on the result to free the CC
   * checkpoint blocks eagerly.
   */
  def phashPrune(media: Dataset[MediaRow], maxHamming: Int = 3,
                 useDhash: Boolean = false,
                 broadcastDrop: Boolean = false): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    val hashes = perceptualHashes(media).toDF()
    val pairs = graft.dedup.Dedup.hammingNearDuplicates64(
      hashes, "id", if (useDhash) "dhash" else "ahash", maxHamming)
    val labels = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val drop = labels.filter(col("id") =!= col("rep"))
      .select(col("id"))
    val dropSide = if (broadcastDrop) broadcast(drop) else drop
    media.toDF().join(dropSide, Seq("id"), "left_anti").as[MediaRow]
  }

  final case class FrameHashRow(id: Long, frame_idx: Int, width: Int,
                                height: Int, ahash: Long)

  /**
   * Per-frame perceptual hashes of visual payloads — the video form of
   * [[perceptualHashes]]: every decoded frame of a P6 stream (and the
   * single frame of a BMP/P6 image) gets its own aHash, so a video
   * becomes a SET of frame fingerprints. Frames below the hashable
   * minimum ((grid+1)×grid, the perceptualHashes rule) and non-visual
   * payloads emit nothing. One mapPartitions pass, frame boundaries from
   * the real parser, no shuffle.
   */
  def videoFrameHashes(media: Dataset[MediaRow], grid: Int = 8): Dataset[FrameHashRow] = {
    require(grid >= 2 && grid <= 8, s"grid must be in [2, 8], got $grid")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        frameHashesOf(m.payload, grid).map { case (idx, w, h, ah) =>
          FrameHashRow(m.id, idx, w, h, ah)
        }
      }
    }
  }

  /** The [[videoFrameHashes]] kernel over one payload: (frame_idx,
    * width, height, ahash) per hashable decoded frame; empty for
    * non-visual/corrupt payloads. */
  private def frameHashesOf(p: Array[Byte], grid: Int)
      : Iterator[(Int, Int, Int, Long)] = {
    if (p == null || p.length < 2) Iterator.empty
    else if (p(0) == 'P' && p(1) == '6') {
      val out = Vector.newBuilder[(Int, Int, Int, Long)]
      var off = 0
      var idx = 0
      var ok = true
      while (ok && off < p.length) {
        decodePpm(p, off) match {
          case Some((w, h, px, consumed)) =>
            if (w >= grid + 1 && h >= grid)
              out += ((idx, w, h, aHashOf(w, h, px, grid)))
            idx += 1
            off += consumed
          case None => ok = false
        }
      }
      if (ok) out.result().iterator else Iterator.empty
    } else if (p.length >= 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F') {
      // animated GIF: every composited frame hashes (the smallest
      // real multi-frame container — clipped-copy detection works
      // on GIF animations exactly like on P6 streams)
      decodeGif(p) match {
        case Some((w, h, frames)) if w >= grid + 1 && h >= grid =>
          frames.iterator.zipWithIndex.map { case (px, idx) =>
            (idx, w, h, aHashOf(w, h, px, grid))
          }
        case _ => Iterator.empty
      }
    } else if ((p(0) == 'B' && p(1) == 'M') ||
               (p(0) == PngSig(0) && p(1) == PngSig(1)) ||
               ((p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8)) {
      decodeFirstFrame(p) match {
        case Some((w, h, px)) if w >= grid + 1 && h >= grid =>
          Iterator.single((0, w, h, aHashOf(w, h, px, grid)))
        case _ => Iterator.empty
      }
    } else Iterator.empty
  }

  final case class KeyedFrameHashRow(key: String, frame_idx: Int,
                                     width: Int, height: Int, ahash: Long)

  /** [[videoFrameHashes]] keyed by an arbitrary STRING column — the
    * [[perceptualHashesByKey]] sibling for multi-frame payloads, where
    * a crawl's natural identity is the fetched media_url. Same kernel,
    * same emit-less rule; output (key, ahash) sets feed the
    * containment machinery directly. One mapPartitions pass, no
    * shuffle. */
  def videoFrameHashesByKey(media: DataFrame, keyCol: String = "media_url",
                            payloadCol: String = "body", grid: Int = 8)
      : Dataset[KeyedFrameHashRow] = {
    require(grid >= 2 && grid <= 8, s"grid must be in [2, 8], got $grid")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(keyCol).cast("string"),
        col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (key, p) =>
          frameHashesOf(p, grid).map { case (idx, w, h, ah) =>
            KeyedFrameHashRow(key, idx, w, h, ah)
          }
        }
      }
  }

  /**
   * Video near-duplicate detection by frame-set CONTAINMENT — the
   * [[graft.dedup.Dedup.ngramContainmentJoin]] idea with frame hashes as
   * the shingles: two videos pair when the smaller one's distinct frame
   * hashes are mostly a subset of the other's (clipped/trimmed/re-muxed
   * copies have containment ≈ 1 where symmetric Jaccard under-scores —
   * the truncation signature). Output: (id_a, id_b, shared, containment)
   * for pairs at or above `threshold`, id_a < id_b.
   *
   * Scale shape: the inverted-index join on the hash value — one shuffle
   * on frame-hash, one on the pair — with the [[graft.dedup.Dedup
   * .ngramJaccardJoin]] df guard: a frame hash shared by more than
   * `maxDocFreq` videos (black frames, test cards — boilerplate that
   * cannot identify near-dups) is pruned before it can fan out
   * quadratically. Exact at the threshold for surviving hashes.
   */
  def videoContainmentDups(media: Dataset[MediaRow], threshold: Double = 0.9,
                           maxDocFreq: Int = 1000,
                           grid: Int = 8): DataFrame =
    // the kernel is shared with the persisted video index's batch-internal
    // prune pass (graft.dedup.Dedup.containmentPairsFromSets)
    graft.dedup.Dedup.containmentPairsFromSets(
      videoFrameHashes(media, grid).toDF()
        .select(col("id"), col("ahash").as("h")),
      threshold, maxDocFreq)

  final case class AudioHashRow(id: Long, n_samples: Long, ahash64: Long)

  /**
   * Perceptual audio fingerprint — the audio sibling of
   * [[perceptualHashes]], closing the modality triangle (text simhash /
   * image phash / audio energy-gradient hash all feed the same
   * [[graft.dedup.Dedup.hammingNearDuplicates64]] banding): the decoded
   * sample stream splits into 65 time blocks (sample k belongs to block
   * k·65 div n — every sample in exactly one block, the phash box rule),
   * each block's ENERGY is the exact integer Σ dev² (dev = sample − 128,
   * BIGINT — no float accumulates), and bit i of the hash is
   * energy(block i) > energy(block i+1) — the temporal energy gradient,
   * the dHash idea in the time domain (the same sign-of-difference
   * principle as Haitsma–Kalker audio fingerprinting, reduced to one
   * 64-bit word). Integer-exact end-to-end, so an oracle recomputes the
   * identical bits from raw fixture samples.
   *
   * Robust to constant gain shifts in the ±dev sense only approximately
   * (energy ratios survive, floor boundaries can flip near-equal
   * neighbors — which is exactly what the hamming threshold absorbs);
   * exact under container/metadata changes and resampling-free copies.
   * Rows that don't decode to ≥ 65 samples (images, corrupt, tiny clips)
   * emit nothing. One mapPartitions pass, no shuffle.
   */
  def audioHash64(media: Dataset[MediaRow]): Dataset[AudioHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val energy = new Array[Long](65)
      rows.flatMap { m =>
        audioHash64Of(m.payload, energy).map { case (n, h) =>
          AudioHashRow(m.id, n, h)
        }.iterator
      }
    }
  }

  /** The [[audioHash64]] kernel over one payload: (n_samples, hash),
    * or None for non-RIFF / corrupt / < 65-sample payloads. `energy`
    * is the caller's scratch block array (length = block count). */
  private def audioHash64Of(p: Array[Byte], energy: Array[Long])
      : Option[(Long, Long)] = {
    val blocks = energy.length
    val isRiff = p != null && p.length >= 4 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
    if (!isRiff) None
    else decodeWav(p) match {
      case Some(s) if s.length >= blocks =>
        java.util.Arrays.fill(energy, 0L)
        val n = s.length
        var k = 0
        while (k < n) {
          val dev = (s(k) & 0xFF) - 128
          energy((k.toLong * blocks / n).toInt) += dev.toLong * dev
          k += 1
        }
        var h = 0L
        var i = 0
        while (i < blocks - 1) {
          if (energy(i) > energy(i + 1)) h |= 1L << i
          i += 1
        }
        Some((n.toLong, h))
      case _ => None
    }
  }

  final case class KeyedAudioHashRow(key: String, n_samples: Long,
                                     ahash64: Long)

  /** [[audioHash64]] keyed by an arbitrary STRING column — the
    * [[perceptualHashesByKey]] sibling for the audio modality, where a
    * crawl's natural identity is the fetched media_url. Same kernel,
    * same emit-less rule for non-RIFF/corrupt/short payloads; output
    * keys feed [[graft.dedup.Dedup.hammingNearDuplicates64]] /
    * [[graft.dedup.Dedup.connectedComponents]] directly. One
    * mapPartitions pass, no shuffle. */
  def audioHashesByKey(media: DataFrame, keyCol: String = "media_url",
                       payloadCol: String = "body")
      : Dataset[KeyedAudioHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(keyCol).cast("string"),
        col(payloadCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        val energy = new Array[Long](65)
        rows.flatMap { case (key, p) =>
          audioHash64Of(p, energy).map { case (n, h) =>
            KeyedAudioHashRow(key, n, h)
          }.iterator
        }
      }
  }

  /**
   * Exact integer linear resampler — the 16 kHz-mono conversion step
   * every ASR/speech pipeline applies before feature extraction,
   * deterministic enough for an oracle to replay bit-for-bit: output
   * sample i sits at rational position i·inRate/outRate; with k the
   * floor index and r = (i·inRate) mod outRate, the value is the
   * integer-floor linear blend (v[k]·(outRate−r) + v[k+1]·r) div
   * outRate over the decoder's unsigned-8-bit projection (r = 0 →
   * v[k] verbatim, so a same-rate call is the identity on samples).
   * Output length = (n−1)·outRate div inRate + 1 — endpoints map to
   * endpoints. The result re-encodes as 16-bit PCM RIFF at `outRate`
   * with `meta.sample_rate` updated; non-audio rows, corrupt payloads
   * and rows without a positive recorded rate pass through UNTOUCHED
   * (the phashPrune rule — only demonstrated audio converts). One
   * mapPartitions pass, no shuffle; payload sizes scale by
   * outRate/inRate.
   */
  def audioResample(media: Dataset[MediaRow], outRate: Int)
      : Dataset[MediaRow] = {
    require(outRate > 0, s"outRate must be positive, got $outRate")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        if (m.meta.media_type != "audio" || m.meta.sample_rate <= 0) m
        else decodeWav(m.payload) match {
          case Some(s) if s.length > 0 =>
            val inRate = m.meta.sample_rate
            val n = s.length
            val outLen =
              if (n == 1) 1
              else ((n - 1).toLong * outRate / inRate).toInt + 1
            val out = new Array[Short](outLen)
            var i = 0
            while (i < outLen) {
              val pos = i.toLong * inRate
              val k = (pos / outRate).toInt
              val r = (pos % outRate).toInt
              val a = s(k) & 0xFF
              // r > 0 implies k+1 < n (endpoints map to endpoints);
              // the bound check is belt-and-braces
              val v =
                if (r == 0 || k + 1 >= n) a
                else {
                  val b = s(k + 1) & 0xFF
                  ((a.toLong * (outRate - r) + b.toLong * r) / outRate)
                    .toInt
                }
              out(i) = ((v - 128) << 8).toShort
              i += 1
            }
            MediaRow(m.id, encodeWav(outRate, out),
              m.meta.copy(sample_rate = outRate))
          case _ => m
        }
      }
    }
  }

  /**
   * Trim leading/trailing silence — the edge-trim every ASR corpus
   * applies before packing: keep the sample range [first, last] whose
   * |dev| (dev = u8 − 128) exceeds `threshold`, re-encoded at the
   * recorded rate. A clip that never crosses the threshold trims to
   * ZERO samples (a valid empty RIFF — downstream stats are emit-less
   * on it, so fully-silent clips vanish from the corpus observably).
   * Non-audio rows, corrupt payloads and rows without a positive
   * recorded rate pass through UNTOUCHED. Integer-exact end-to-end.
   */
  def audioTrimSilence(media: Dataset[MediaRow], threshold: Int = 0)
      : Dataset[MediaRow] = {
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        if (m.meta.media_type != "audio" || m.meta.sample_rate <= 0) m
        else decodeWav(m.payload) match {
          case Some(s) if s.length > 0 =>
            var first = 0
            while (first < s.length &&
              math.abs((s(first) & 0xFF) - 128) <= threshold) first += 1
            var last = s.length - 1
            while (last >= first &&
              math.abs((s(last) & 0xFF) - 128) <= threshold) last -= 1
            val out =
              if (first > last) new Array[Short](0)
              else {
                val o = new Array[Short](last - first + 1)
                var i = 0
                while (i < o.length) {
                  o(i) = ((((s(first + i) & 0xFF) - 128)) << 8).toShort
                  i += 1
                }
                o
              }
            MediaRow(m.id, encodeWav(m.meta.sample_rate, out), m.meta)
          case _ => m
        }
      }
    }
  }

  /**
   * Peak-normalize — scale every sample so the clip's peak |dev|
   * becomes `targetPeak` (gain staging before packing; the RMS/LUFS
   * cousins need float pipelines, the peak form stays integer-exact):
   * dev′ = sign(dev) · (|dev|·targetPeak div peak) — sign-split floor
   * division so the SAME bits come out of any engine (a plain signed
   * division truncates toward zero on the JVM but floors in SQL).
   * Already-silent clips (peak 0) and empty payloads pass through
   * unchanged, as do non-audio/corrupt/rate-less rows.
   */
  def audioNormalizePeak(media: Dataset[MediaRow], targetPeak: Int = 127)
      : Dataset[MediaRow] = {
    require(targetPeak >= 1 && targetPeak <= 127,
      s"targetPeak must be in [1, 127], got $targetPeak")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        if (m.meta.media_type != "audio" || m.meta.sample_rate <= 0) m
        else decodeWav(m.payload) match {
          case Some(s) if s.length > 0 =>
            var peak = 0
            var i = 0
            while (i < s.length) {
              val a = math.abs((s(i) & 0xFF) - 128)
              if (a > peak) peak = a
              i += 1
            }
            if (peak == 0) m
            else {
              val out = new Array[Short](s.length)
              i = 0
              while (i < s.length) {
                val dev = (s(i) & 0xFF) - 128
                val a = (math.abs(dev) * targetPeak) / peak
                val nd = if (dev < 0) -a else a
                out(i) = (nd << 8).toShort
                i += 1
              }
              MediaRow(m.id, encodeWav(m.meta.sample_rate, out), m.meta)
            }
          case _ => m
        }
      }
    }
  }

  final case class AudioStats(id: Long, n_samples: Long, sum_sq_dev: Long,
                              peak_dev: Long, zero_crossings: Long)

  /**
   * Audio signal statistics over the REAL decoded PCM stream — the
   * silence/clipping triage of an audio-corpus pipeline (energy, peak
   * amplitude, and zero-crossing count are the classic cheap
   * voice-activity features): one `mapPartitions` pass over the audio
   * rows; samples are the decoder's unsigned-8-bit projection (center
   * 128), statistics EXACT integers — Σ dev² in a BIGINT, peak as
   * max |dev|, zero crossings as strict sign alternations with zeros
   * transparent (a run …,+,0,+,… does not cross; sign memory persists
   * through zeros) — so an oracle can recompute them bit-for-bit.
   * Non-audio rows and corrupt/empty payloads yield no row (emit-less,
   * the classifier rule).
   */
  def audioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.meta.media_type == "audio").flatMap { m =>
        val s = decodeAll(m.payload)
        if (s.isEmpty) Iterator.empty
        else {
          var i = 0; var ss = 0L; var peak = 0; var zc = 0L; var prevSign = 0
          while (i < s.length) {
            val d = (s(i) & 0xFF) - 128
            ss += d.toLong * d
            val a = math.abs(d)
            if (a > peak) peak = a
            val sign = Integer.signum(d)
            if (sign != 0) {
              if (prevSign != 0 && sign != prevSign) zc += 1
              prevSign = sign
            }
            i += 1
          }
          Iterator.single(AudioStats(m.id, s.length.toLong, ss, peak.toLong, zc))
        }
      }
    }
  }
}
