package graft.multimodal

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(90)
  private lazy val media = Multimodal.syntheticMedia(docs, "doc_id", "text").cache()

  test("media rows carry binary payload + typed metadata") {
    val schema = media.toDF().schema
    assert(schema("payload").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    val types = media.map(_.meta.media_type).distinct().collect().toSet
    assert(types === Set("image", "audio", "video"))
    // metadata is type-consistent
    assert(media.filter(m => m.meta.media_type == "audio" && m.meta.sample_rate == 0).count() === 0)
    assert(media.filter(m => m.meta.media_type == "video" && m.meta.n_frames <= 1).count() === 0)
  }

  test("feature extraction: histogram sums to 1, luma in range, deterministic") {
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() === media.count())
    feats.collect().foreach { f =>
      assert(f.histogram.length === 16)
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9, s"hist must normalize for ${f.id}")
      assert(f.mean_luma >= 0.0 && f.mean_luma <= 255.0)
      assert(f.byte_len > 0)
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(media)
      .select("id", "mean_luma").as[(Long, Double)].collect().toMap
    feats.collect().foreach(f => assert(again(f.id) === f.mean_luma))
  }

  test("frame sampling: videos explode to stride-sampled frames, others pass through") {
    val frames = Multimodal.sampleFrames(media, stride = 2).cache()
    val perId = frames.groupBy("id").count().as[(Long, Long)].collect().toMap
    media.collect().foreach { m =>
      val expected = if (m.meta.media_type == "video")
        (0 until m.meta.n_frames by 2).size else 1
      assert(perId(m.id) === expected.toLong, s"id ${m.id} (${m.meta.media_type})")
    }
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() === 0)
  }

  test("resize produces fixed-length normalized features") {
    val resized = Multimodal.resizeTo(media, targetLen = 32)
    val rows = resized.select("resized").as[Seq[Double]].collect()
    assert(rows.forall(_.length === 32))
    assert(rows.forall(_.forall(v => v >= 0.0 && v <= 1.0)))
  }

  test("corrupt/empty payloads do not fail the task") {
    val bad = Seq(Multimodal.MediaRow(1L, Array.emptyByteArray,
      Multimodal.MediaMeta("image", 4, 4, 1, 0))).toDS()
    val f = Multimodal.extractFeatures(bad).collect()
    assert(f.length === 1 && f(0).byte_len === 0)
  }

  // ---- codec-level tests: the decoders are real format parsers ----

  test("PPM round-trips and the parser handles the full header grammar") {
    val rgb = Array.tabulate(4 * 3 * 3)(i => (i * 7 % 256).toByte)
    val enc = Multimodal.encodePpm(4, 3, rgb)
    val Some((w, h, px, consumed)) = Multimodal.decodePpm(enc, 0)
    assert((w, h) === (4, 3) && consumed === enc.length)
    assert(px.toSeq === rgb.toSeq)
    // hand-built header: comments and mixed whitespace between tokens
    val weird = "P6 # a comment\n  4\t3 #another\n255\n"
      .getBytes("US-ASCII") ++ rgb
    val Some((w2, h2, px2, _)) = Multimodal.decodePpm(weird, 0)
    assert((w2, h2) === (4, 3) && px2.toSeq === rgb.toSeq)
    // truncated raster, wrong magic, wrong maxval all reject
    assert(Multimodal.decodePpm(enc.dropRight(1), 0).isEmpty)
    assert(Multimodal.decodePpm("P5\n4 3\n255\n".getBytes ++ rgb, 0).isEmpty)
    assert(Multimodal.decodePpm("P6\n4 3\n65535\n".getBytes ++ rgb, 0).isEmpty)
  }

  test("WAV round-trips, skips foreign RIFF chunks, rejects non-PCM-mono-16") {
    val u8 = Array.tabulate(300)(i => (i * 11 % 256))
    val samples = u8.map(v => ((v - 128) << 8).toShort)
    val enc = Multimodal.encodeWav(16000, samples)
    assert(Multimodal.decodeWav(enc).get.map(_ & 0xFF).toSeq === u8.toSeq)
    // splice a LIST chunk between fmt and data — real files have these
    val listChunk = "LIST".getBytes ++ Array[Byte](6, 0, 0, 0) ++
      "INFOxy".getBytes
    val spliced = enc.take(36) ++ listChunk ++ enc.drop(36)
    // fix the RIFF size field
    val bb = java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    assert(Multimodal.decodeWav(spliced).get.map(_ & 0xFF).toSeq === u8.toSeq)
    // stereo (channels=2) rejects
    val stereo = enc.clone()
    java.nio.ByteBuffer.wrap(stereo).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(22, 2)
    assert(Multimodal.decodeWav(stereo).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxNOPE".getBytes).isEmpty)
  }

  test("BMP round-trips through padding and row flip; malformed variants reject") {
    // width 3 -> rowLen 9, stride 12: the 4-byte padding path is live
    val rgb = Array.tabulate(3 * 2 * 3)(i => (i * 13 % 256).toByte)
    val enc = Multimodal.encodeBmp(3, 2, rgb)
    assert(enc(0) === 'B'.toByte && enc(1) === 'M'.toByte)
    val Some((w, h, px)) = Multimodal.decodeBmp(enc)
    assert((w, h) === (3, 2))
    assert(px.toSeq === rgb.toSeq, "bottom-up BGR must normalize back to top-down RGB")
    // top-down variant (negative height) decodes to the same pixels:
    // flip the stored row order, then negate the height field
    val stride = 12
    val topDown = enc.clone()
    System.arraycopy(enc, 54 + stride, topDown, 54, stride)
    System.arraycopy(enc, 54, topDown, 54 + stride, stride)
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -2)
    assert(Multimodal.decodeBmp(topDown).get._3.toSeq === rgb.toSeq)
    // 8-bit palettized, compressed, and truncated all reject
    val pal = enc.clone()
    java.nio.ByteBuffer.wrap(pal).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(28, 8)
    assert(Multimodal.decodeBmp(pal).isEmpty)
    val rle = enc.clone()
    java.nio.ByteBuffer.wrap(rle).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(30, 1)
    assert(Multimodal.decodeBmp(rle).isEmpty)
    assert(Multimodal.decodeBmp(enc.dropRight(1)).isEmpty)
    // and the frame dispatcher routes BM payloads through the BMP parser
    assert(Multimodal.decodeFrames(enc).head.toSeq === rgb.toSeq)
  }

  test("BMP headers with hostile dimensions return None; mutations never throw") {
    def withInt(b: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(off, v)
      c
    }
    // 1×1 image: 54-byte header + one 4-byte padded row = 58 bytes
    val tiny = Multimodal.encodeBmp(1, 1, Array[Byte](1, 2, 3))
    assert(tiny.length === 58)
    // width·3 wraps an Int: a wrapped (negative) stride must not pass
    // the row check and reach the allocation
    assert(Multimodal.decodeBmp(withInt(tiny, 18, 800000000)).isEmpty)
    // |Int.MinValue| stays negative as an Int
    assert(Multimodal.decodeBmp(withInt(tiny, 22, Int.MinValue)).isEmpty)
    assert(Multimodal.decodeBmp(
      withInt(withInt(tiny, 18, Int.MaxValue), 22, Int.MinValue)).isEmpty)
    // seeded header mutations plus truncation over a valid image: every
    // input returns (Some or None), none throws
    val rgb = Array.tabulate(5 * 3 * 3)(i => (i * 7 % 256).toByte)
    val enc = Multimodal.encodeBmp(5, 3, rgb)
    val rnd = new scala.util.Random(2024L)
    (0 until 3000).foreach { i =>
      val m = enc.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        m(rnd.nextInt(54)) = rnd.nextInt(256).toByte
      }
      val cut = if (rnd.nextBoolean()) m else m.take(rnd.nextInt(m.length + 1))
      val got = Multimodal.decodeBmp(cut)
      got.foreach { case (w, h, px) =>
        assert(px.length.toLong === w.toLong * h * 3, s"case $i")
        assert(px.length <= cut.length, s"case $i")
      }
    }
  }

  test("PNG round-trips through every filter type, truecolor and grayscale") {
    // height 10 → filter types 0,1,2,3,4 each used twice (encodePng
    // cycles y % 5); width 5 makes Sub/Paeth predictions non-trivial
    val rgb = Array.tabulate(5 * 10 * 3)(i => (i * 37 % 256).toByte)
    val enc = Multimodal.encodePng(5, 10, rgb)
    assert((enc(1) & 0xFF) === 'P'.toInt && (enc(0) & 0xFF) === 0x89)
    val Some((w, h, px)) = Multimodal.decodePng(enc)
    assert((w, h) === (5, 10))
    assert(px.toSeq === rgb.toSeq,
      "all five scanline filters must reconstruct exactly")
    // grayscale (color type 0) expands to R=G=B
    val gray = Array.tabulate(4 * 10)(i => (i * 11 % 256).toByte)
    val encG = Multimodal.encodePng(4, 10, gray, gray = true)
    val Some((wg, hg, pxg)) = Multimodal.decodePng(encG)
    assert((wg, hg) === (4, 10))
    (0 until 40).foreach { k =>
      assert(pxg(3 * k) === gray(k) && pxg(3 * k + 1) === gray(k) &&
        pxg(3 * k + 2) === gray(k))
    }
    // the frame dispatcher routes PNG payloads through the real parser
    assert(Multimodal.decodeFrames(enc).head.toSeq === rgb.toSeq)
    assert(Multimodal.decodeFirstFrame(enc).get._3.toSeq === rgb.toSeq)
  }

  test("Adam7-interlaced PNGs round-trip every color type exactly") {
    // odd dims: every pass hits ragged sub-image edges; each pass
    // unfilters independently (its own first row has no 'up' neighbor)
    for ((w, h) <- Seq((19, 13), (7, 5), (1, 1), (8, 8), (2, 9))) {
      val rgb = Array.tabulate(w * h * 3)(i => (i * 37 + 11).toByte)
      val enc = Multimodal.encodePngOfType(w, h, 2, rgb, interlace = true)
      val Some((dw, dh, dec)) = Multimodal.decodePng(enc)
      assert((dw, dh) === (w, h), s"dims ${w}x$h")
      assert(dec.toSeq === rgb.toSeq, s"pixels ${w}x$h")
    }
    // gray and RGBA arms through the interlaced path too
    val g = Array.tabulate(11 * 6)(k => (k * 13 % 256).toByte)
    val Some((_, _, gDec)) = Multimodal.decodePng(
      Multimodal.encodePngOfType(11, 6, 0, g, interlace = true))
    (0 until 11 * 6).foreach(k => assert(gDec(3 * k) === g(k), s"gray $k"))
    val rgba = Array.tabulate(9 * 8 * 4)(k => (k * 7 % 256).toByte)
    val Some((_, _, aDec)) = Multimodal.decodePng(
      Multimodal.encodePngOfType(9, 8, 6, rgba, interlace = true))
    (0 until 9 * 8).foreach { k =>
      assert(aDec(3 * k) === rgba(4 * k) && aDec(3 * k + 1) === rgba(4 * k + 1)
        && aDec(3 * k + 2) === rgba(4 * k + 2), s"rgba $k")
    }
  }

  test("1/2/4-bit packed PNGs round-trip, sequential and Adam7") {
    val w = 13; val h = 6 // odd width: last row byte is partially used
    for (d <- Seq(1, 2, 4); interlace <- Seq(false, true)) {
      // gray: values scale to 8-bit by 255/85/17
      val g = Array.tabulate(w * h)(k => (k % (1 << d)).toByte)
      val scale = 255 / ((1 << d) - 1)
      val Some((dw, dh, gDec)) = Multimodal.decodePng(
        Multimodal.encodePngOfType(w, h, 0, g, interlace = interlace,
          bitDepth = d))
      assert((dw, dh) === (w, h), s"gray d=$d i=$interlace")
      (0 until w * h).foreach { k =>
        assert((gDec(3 * k) & 0xFF) === (g(k) & 0xFF) * scale,
          s"gray d=$d i=$interlace px $k")
      }
      // palette: packed indices resolve through PLTE
      val pal = Array.tabulate[Byte](3 << d)(i => (i * 31 + 5).toByte)
      val idx = Array.tabulate(w * h)(k => ((k * 7) % (1 << d)).toByte)
      val Some((_, _, pDec)) = Multimodal.decodePng(
        Multimodal.encodePngOfType(w, h, 3, idx, pal,
          interlace = interlace, bitDepth = d))
      (0 until w * h).foreach { k =>
        val e = (idx(k) & 0xFF) * 3
        assert(pDec(3 * k) === pal(e) && pDec(3 * k + 1) === pal(e + 1) &&
          pDec(3 * k + 2) === pal(e + 2), s"palette d=$d i=$interlace px $k")
      }
    }
    // out-of-range input samples refuse at encode
    intercept[IllegalArgumentException] {
      Multimodal.encodePngOfType(4, 4, 0,
        Array.fill(16)(9.toByte), bitDepth = 2)
    }
  }

  test("16-bit PNGs reduce by high-byte projection, sequential and Adam7") {
    val w = 10; val h = 7
    val rgb = Array.tabulate(w * h * 3)(i => (i * 29 + 3).toByte)
    for (interlace <- Seq(false, true)) {
      val enc = Multimodal.encodePngOfType(w, h, 2, rgb,
        interlace = interlace, bitDepth = 16)
      // the file really declares depth 16
      assert((enc(24 + 0) & 0xFF) === 16, "IHDR bit depth")
      val Some((dw, dh, dec)) = Multimodal.decodePng(enc)
      assert((dw, dh) === (w, h), s"interlace=$interlace")
      assert(dec.toSeq === rgb.toSeq, s"interlace=$interlace")
    }
    // gray16 expands to R=G=B like gray8
    val g = Array.tabulate(w * h)(k => (k * 11).toByte)
    val Some((_, _, gDec)) = Multimodal.decodePng(
      Multimodal.encodePngOfType(w, h, 0, g, bitDepth = 16))
    (0 until w * h).foreach(k => assert(gDec(3 * k) === g(k), s"gray16 $k"))
    // palette cannot be 16-bit: encoder refuses, decoder rejects
    intercept[IllegalArgumentException] {
      Multimodal.encodePngOfType(4, 4, 3,
        Array.fill(16)(0.toByte), Multimodal.grayPalette256.take(48),
        bitDepth = 16)
    }
  }

  test("PNG palette/gray+alpha/RGBA all normalize to the same RGB stream") {
    val w = 6; val h = 5
    // a 4-entry palette and an index raster covering all entries
    val palette = Array[Byte](
      10, 20, 30,  40, 50, 60,  70, 80, 90,  100, 110, 120)
    val idx = Array.tabulate(w * h)(k => (k % 4).toByte)
    val encP = Multimodal.encodePngOfType(w, h, 3, idx, palette)
    val Some((wp, hp, rgbP)) = Multimodal.decodePng(encP)
    assert((wp, hp) === (w, h))
    (0 until w * h).foreach { k =>
      val e = (k % 4) * 3
      assert(rgbP(3 * k) === palette(e) && rgbP(3 * k + 1) === palette(e + 1)
        && rgbP(3 * k + 2) === palette(e + 2), s"palette pixel $k")
    }
    // gray+alpha (type 4): alpha drops, gray expands
    val ga = Array.tabulate(w * h * 2)(k =>
      (if (k % 2 == 0) k * 3 % 256 else 200) .toByte)
    val Some((_, _, rgbGa)) = Multimodal.decodePng(
      Multimodal.encodePngOfType(w, h, 4, ga))
    (0 until w * h).foreach { k =>
      val g = ga(2 * k)
      assert(rgbGa(3 * k) === g && rgbGa(3 * k + 1) === g &&
        rgbGa(3 * k + 2) === g, s"gray+alpha pixel $k")
    }
    // RGBA (type 6): alpha drops, colors survive exactly
    val rgba = Array.tabulate(w * h * 4)(k => (k * 7 % 256).toByte)
    val Some((_, _, rgbA)) = Multimodal.decodePng(
      Multimodal.encodePngOfType(w, h, 6, rgba))
    (0 until w * h).foreach { k =>
      assert(rgbA(3 * k) === rgba(4 * k) && rgbA(3 * k + 1) === rgba(4 * k + 1)
        && rgbA(3 * k + 2) === rgba(4 * k + 2), s"rgba pixel $k")
    }
    // an index past the palette rejects (corrupt, not garbage pixels)
    val badIdx = idx.clone(); badIdx(3) = 9
    assert(Multimodal.decodePng(
      Multimodal.encodePngOfType(w, h, 3, badIdx, palette)).isEmpty)
    // and the hash kernels see identical pixels regardless of container:
    // an RGBA re-encode of a truecolor image must hash identically
    val rgb = Array.tabulate(9 * 8 * 3)(k => (k * 11 % 256).toByte)
    val asRgba = new Array[Byte](9 * 8 * 4)
    (0 until 9 * 8).foreach { k =>
      asRgba(4 * k) = rgb(3 * k); asRgba(4 * k + 1) = rgb(3 * k + 1)
      asRgba(4 * k + 2) = rgb(3 * k + 2); asRgba(4 * k + 3) = 255.toByte
    }
    assert(Multimodal.decodeFirstFrame(
      Multimodal.encodePngOfType(9, 8, 6, asRgba)).get._3.toSeq === rgb.toSeq)
  }

  test("PNG rejects corrupt CRCs, truncation, and unsupported shapes") {
    val rgb = Array.tabulate(6 * 6 * 3)(i => (i * 7 % 256).toByte)
    val enc = Multimodal.encodePng(6, 6, rgb)
    // flip one IDAT byte: the chunk CRC must catch it (reject, not garbage)
    val bad = enc.clone()
    val idatAt = {
      var p = 8
      while (!(bad(p + 4) == 'I' && bad(p + 5) == 'D' && bad(p + 6) == 'A'))
        p += 12 + java.nio.ByteBuffer.wrap(bad).getInt(p)
      p
    }
    bad(idatAt + 10) = (bad(idatAt + 10) ^ 0x55).toByte
    assert(Multimodal.decodePng(bad).isEmpty, "bad CRC must reject")
    // truncation rejects
    assert(Multimodal.decodePng(enc.dropRight(13)).isEmpty)
    // a flipped interlace FLAG over sequential data is a layout mismatch
    // (raster length differs) — corrupt; 16-bit depth is unsupported
    def withIhdr(mod: Array[Byte] => Unit): Array[Byte] = {
      val c = enc.clone(); mod(c)
      val crc = new java.util.zip.CRC32()
      crc.update(c, 12, 17) // tag + 13-byte IHDR body
      java.nio.ByteBuffer.wrap(c).putInt(29, crc.getValue.toInt)
      c
    }
    assert(Multimodal.decodePng(withIhdr(_(28) = 1)).isEmpty,
      "interlace flag over sequential layout")
    // depth flipped to 16 over an 8-bit layout: raster mismatch, corrupt
    assert(Multimodal.decodePng(withIhdr(_(24) = 16)).isEmpty,
      "16-bit flag over 8-bit layout")
    // depth flipped to 4 over an 8-bit layout: raster mismatch, corrupt
    assert(Multimodal.decodePng(withIhdr(_(24) = 4)).isEmpty,
      "4-bit flag over 8-bit layout")
    assert(Multimodal.decodePng(withIhdr(_(25) = 3)).isEmpty, "palette")
    // a crafted near-cap header (w=2, h=134217727, 16-bit RGBA) passes the
    // w*h*8 pixel guard but wraps rawLen in Int arithmetic — must yield
    // None via the Long-sized 1 GiB decode cap, never throw or allocate
    assert(Multimodal.decodePng(withIhdr { c =>
      java.nio.ByteBuffer.wrap(c).putInt(16, 2)          // width
      java.nio.ByteBuffer.wrap(c).putInt(20, 134217727)  // height
      c(24) = 16; c(25) = 6                              // 16-bit RGBA
    }).isEmpty, "rawLen Int-wrap header must reject, not throw")
    // ancillary chunks are skipped: splice a tEXt chunk before IDAT
    val text = "comment".getBytes
    val tChunk = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(java.nio.ByteBuffer.allocate(4).putInt(text.length).array())
      o.write("tEXt".getBytes)
      o.write(text)
      val crc = new java.util.zip.CRC32()
      crc.update("tEXt".getBytes); crc.update(text)
      o.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      o.toByteArray
    }
    val spliced = enc.take(idatAt) ++ tChunk ++ enc.drop(idatAt)
    assert(Multimodal.decodePng(spliced).get._3.toSeq === rgb.toSeq,
      "unknown ancillary chunks must be skipped by declared size")
  }

  test("the three image containers decode to identical pixel streams") {
    val rgb = Array.tabulate(9 * 7 * 3)(i => (i * 23 % 256).toByte)
    val viaP6 = Multimodal.decodeFirstFrame(Multimodal.encodePpm(9, 7, rgb)).get
    val viaBmp = Multimodal.decodeFirstFrame(Multimodal.encodeBmp(9, 7, rgb)).get
    val viaPng = Multimodal.decodeFirstFrame(Multimodal.encodePng(9, 7, rgb)).get
    assert(viaP6._3.toSeq === rgb.toSeq)
    assert(viaBmp._3.toSeq === viaP6._3.toSeq)
    assert(viaPng._3.toSeq === viaP6._3.toSeq,
      "container-blind contract: PNG must yield the same stream as P6/BMP")
  }

  test("concatenated P6 frames decode to the frame list; truncation rejects") {
    val f0 = Array.tabulate(2 * 2 * 3)(i => i.toByte)
    val f1 = Array.tabulate(2 * 2 * 3)(i => (100 + i).toByte)
    val payload = Multimodal.encodePpm(2, 2, f0) ++ Multimodal.encodePpm(2, 2, f1)
    val frames = Multimodal.decodeFrames(payload)
    assert(frames.length === 2)
    assert(frames(0).toSeq === f0.toSeq && frames(1).toSeq === f1.toSeq)
    assert(Multimodal.decodeFrames(payload.dropRight(3)).isEmpty)
  }

  test("synthetic payloads are genuine formats and features come from decoded content") {
    val rows = media.collect()
    rows.foreach { m =>
      val head = new String(m.payload.take(4), "US-ASCII")
      m.meta.media_type match {
        case "audio" => assert(head === "RIFF", s"id ${m.id}")
        case "image" =>
          // image containers rotate three ways by id % 9: BMP / PNG / P6
          (m.id % 9) match {
            case 0 => assert(head.startsWith("BM"), s"id ${m.id}")
            case 3 => assert((m.payload(0) & 0xFF) == 0x89 &&
              m.payload(1) == 'P'.toByte, s"id ${m.id}")
            case _ => assert(head.startsWith("P6"), s"id ${m.id}")
          }
        case _ => assert(head.startsWith("P6"), s"id ${m.id}")
      }
    }
    // mean luma must equal the fixture-stream formula computed directly
    // (proves the real parse path reproduces the encoded content)
    val feats = Multimodal.extractFeatures(media)
      .select("id", "byte_len", "mean_luma")
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { m =>
      val w = 16 + (m.id % 16).toInt
      val h = 16 + (m.id % 8).toInt
      val nf = if (m.meta.media_type == "video") 8 + (m.id % 8).toInt else 1
      assert(feats(m.id)._1 === nf * w * h * 3,
        s"decoded element count for id ${m.id}")
    }
    // spot-check one image's mean against a direct decode of its payload
    val img = rows.find(_.meta.media_type == "image").get
    val px = Multimodal.decodeFrames(img.payload).flatten
    val want = px.map(_ & 0xFF).sum.toDouble / px.length
    assert(math.abs(feats(img.id)._2 - want) < 1e-12)
  }

  test("audioStats: hand-computed energy/peak/ZCR; zeros are transparent") {
    import Multimodal._
    // u8 samples 130, 128, 126, 128, 131, 125 → devs +2, 0, −2, 0, +3, −3:
    // Σdev² = 4+0+4+0+9+9 = 26, peak 3, crossings: +→− (zero skipped),
    // −→+ (zero skipped), +→− = 3
    val samples = Array[Short](
      (2 << 8).toShort, 0, (-2 << 8).toShort, 0,
      (3 << 8).toShort, (-3 << 8).toShort)
    val wav = encodeWav(16000, samples)
    val rows = Seq(
      MediaRow(1L, wav, MediaMeta("audio", 1, 1, 1, 16000)),
      MediaRow(2L, wav, MediaMeta("image", 1, 1, 1, 0)),      // not audio
      MediaRow(3L, Array[Byte](1, 2, 3), MediaMeta("audio", 1, 1, 1, 16000)))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val stats = audioStats(ds).collect()
    // non-audio and corrupt rows are emit-less
    assert(stats.map(_.id).toSeq === Seq(1L))
    val s = stats.head
    assert(s.n_samples === 6L)
    assert(s.sum_sq_dev === 26L)
    assert(s.peak_dev === 3L)
    assert(s.zero_crossings === 3L)
  }

  test("audioResample: exact blend values, endpoints, passthrough (r17)") {
    import Multimodal._
    // u8 values 100, 200, 150 at 8 kHz
    val samples = Array[Short](
      ((100 - 128) << 8).toShort, ((200 - 128) << 8).toShort,
      ((150 - 128) << 8).toShort)
    val rows = Seq(
      MediaRow(1L, encodeWav(8000, samples),
        MediaMeta("audio", 0, 0, 0, 8000)),
      MediaRow(2L, encodeWav(8000, samples),
        MediaMeta("image", 0, 0, 0, 0)),                 // not audio
      MediaRow(3L, Array[Byte](1, 2, 3),
        MediaMeta("audio", 0, 0, 0, 8000)))              // corrupt
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    // UP ×2: positions 0, .5, 1, 1.5, 2 → 100, 150, 200, 175, 150
    val up = audioResample(ds, 16000).collect().sortBy(_.id)
    val u1 = up.find(_.id == 1L).get
    assert(u1.meta.sample_rate === 16000)
    assert(decodeWav(u1.payload).get.map(_ & 0xFF).toSeq ===
      Seq(100, 150, 200, 175, 150))
    // non-audio and corrupt rows pass through untouched
    assert(up.find(_.id == 2L).get.payload.toSeq ===
      rows(1).payload.toSeq)
    assert(up.find(_.id == 3L).get.meta.sample_rate === 8000)
    // DOWN ÷2: positions 0, 2 → 100, 150 (endpoint maps to endpoint)
    val d1 = audioResample(ds, 4000).collect().find(_.id == 1L).get
    assert(decodeWav(d1.payload).get.map(_ & 0xFF).toSeq ===
      Seq(100, 150))
    // same-rate call is the identity on samples
    val s1 = audioResample(ds, 8000).collect().find(_.id == 1L).get
    assert(decodeWav(s1.payload).get.map(_ & 0xFF).toSeq ===
      Seq(100, 200, 150))
    // NON-divisible ratio: 8k→3k over 3 samples → out len (2*3000)//8000
    // + 1 = 1 (just the first endpoint)
    val t1 = audioResample(ds, 3000).collect().find(_.id == 1L).get
    assert(decodeWav(t1.payload).get.map(_ & 0xFF).toSeq === Seq(100))
    // and 8k→5k over 3 samples: positions 0, 8/5=1.6 →
    // (200*(5-3)+150*3)//5 = 170
    val f1 = audioResample(ds, 5000).collect().find(_.id == 1L).get
    assert(decodeWav(f1.payload).get.map(_ & 0xFF).toSeq ===
      Seq(100, 170))
  }

  test("audioTrimSilence + audioNormalizePeak: bounds, sign-split gain (r17)") {
    import Multimodal._
    def wav(devs: Int*) =
      encodeWav(8000, devs.map(d => ((d << 8)).toShort).toArray)
    def devsOf(m: MediaRow) =
      decodeWav(m.payload).get.map(b => (b & 0xFF) - 128).toSeq
    val rows = Seq(
      MediaRow(1L, wav(0, 0, 3, 0, -6, 0), MediaMeta("audio", 0, 0, 0, 8000)),
      MediaRow(2L, wav(0, 0, 0), MediaMeta("audio", 0, 0, 0, 8000)), // silent
      MediaRow(3L, wav(5, -5), MediaMeta("image", 0, 0, 0, 0)))      // not audio
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[MediaRow])
    val trimmed = audioTrimSilence(ds).collect().sortBy(_.id)
    // edges strip, INTERIOR zero survives
    assert(devsOf(trimmed(0)) === Seq(3, 0, -6))
    // fully-silent clip trims to zero samples (stats emit-less on it)
    assert(devsOf(trimmed(1)) === Seq())
    assert(audioStats(spark.createDataset(trimmed.toSeq)(
      org.apache.spark.sql.Encoders.product[MediaRow]))
      .collect().map(_.id).toSeq === Seq(1L))
    // non-audio untouched
    assert(trimmed(2).payload.toSeq === rows(2).payload.toSeq)
    // normalize: peak 6 -> 127; 3*127/6 = 63 (floor), -6 -> -127;
    // the sign-split floor keeps +3 and -3 symmetric
    val norm = audioNormalizePeak(
      spark.createDataset(trimmed.toSeq)(
        org.apache.spark.sql.Encoders.product[MediaRow]), 127)
      .collect().sortBy(_.id)
    assert(devsOf(norm(0)) === Seq(63, 0, -127))
    // silent/empty + non-audio pass through
    assert(devsOf(norm(1)) === Seq())
    assert(norm(2).payload.toSeq === rows(2).payload.toSeq)
    // symmetric rounding: +3/-3 at peak 7 both map to magnitude 54
    val sym = audioNormalizePeak(spark.createDataset(Seq(
      MediaRow(9L, wav(3, -3, 7), MediaMeta("audio", 0, 0, 0, 8000))))(
      org.apache.spark.sql.Encoders.product[MediaRow]), 127).collect()
    assert(devsOf(sym(0)) === Seq(54, -54, 127))
  }

  test("audioStats round-trips the synthetic fixture's sample count") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val stats = Multimodal.audioStats(
      Multimodal.syntheticMedia(docs, "doc_id", "text")).collect()
    assert(stats.nonEmpty)
    stats.foreach { s =>
      val w = 16 + (s.id % 16); val h = 16 + (s.id % 8)
      assert(s.id % 3 === 1L)
      assert(s.n_samples === w * h * 3)
      assert(s.peak_dev <= 128L)
    }
  }

  // ------------------------------------------------ perceptual hashes

  private def mediaRow(id: Long, payload: Array[Byte]): Multimodal.MediaRow =
    Multimodal.MediaRow(id, payload, Multimodal.MediaMeta("image", 0, 0, 1, 0))

  private def halfImage(left: Int, right: Int): Array[Byte] = {
    // 16×16, left 8 columns at gray v=left, right at v=right (all three
    // channels equal → Rec.601 luma == the channel value exactly)
    val px = new Array[Byte](16 * 16 * 3)
    for (y <- 0 until 16; x <- 0 until 16; c <- 0 until 3)
      px((y * 16 + x) * 3 + c) = (if (x < 8) left else right).toByte
    px
  }

  test("phash: hand-computed aHash/dHash on a half-and-half image") {
    val px = halfImage(10, 200)
    val rows = Seq(mediaRow(1L, Multimodal.encodePpm(16, 16, px))).toDS()
    val h = Multimodal.perceptualHashes(rows).collect().head
    // aHash: 8×8 blocks of 2×2 pixels — left 4 block-cols mean 10, right
    // 200; global mean (32·10+32·200)/64 = 105 → right half bits set
    assert(h.ahash === 0xF0F0F0F0F0F0F0F0L,
      f"ahash ${h.ahash}%016x != f0f0f0f0f0f0f0f0")
    // dHash: luma non-decreasing left→right → no block strictly exceeds
    // its right neighbor → all gradient bits clear
    assert(h.dhash === 0L, f"dhash ${h.dhash}%016x != 0")
    // the mirrored image flips the gradient at the boundary column
    val dec = Seq(mediaRow(2L, Multimodal.encodePpm(16, 16, halfImage(200, 10)))).toDS()
    val h2 = Multimodal.perceptualHashes(dec).collect().head
    assert(h2.dhash === 0x0808080808080808L,
      f"dhash ${h2.dhash}%016x != 0808080808080808")
    assert(h2.ahash === 0x0F0F0F0F0F0F0F0FL)
  }

  test("phash: container-swap and brightness-shift invariance") {
    val px = halfImage(10, 200)
    val asPpm = Seq(mediaRow(1L, Multimodal.encodePpm(16, 16, px))).toDS()
    val asBmp = Seq(mediaRow(2L, Multimodal.encodeBmp(16, 16, px))).toDS()
    val hp = Multimodal.perceptualHashes(asPpm).collect().head
    val hb = Multimodal.perceptualHashes(asBmp).collect().head
    assert((hp.ahash, hp.dhash) === ((hb.ahash, hb.dhash)),
      "identical pixels must hash identically regardless of container")
    // +16 on every channel (no clamping in this fixture) shifts every
    // block mean and the global mean by exactly 16 → bits unchanged
    val brighter = px.map(b => ((b & 0xFF) + 16).toByte)
    val hv = Multimodal.perceptualHashes(
      Seq(mediaRow(3L, Multimodal.encodePpm(16, 16, brighter))).toDS()).collect().head
    assert((hv.ahash, hv.dhash) === ((hp.ahash, hp.dhash)),
      "constant brightness shift must not change either hash")
  }

  test("phash: video hashes its first frame; tiny/corrupt/audio rows emit nothing") {
    val px = halfImage(10, 200)
    val single = Multimodal.encodePpm(16, 16, px)
    // duplicate-frame stream: frame 0 = the fixture, frame 1 = its mirror
    val stream = single ++ Multimodal.encodePpm(16, 16, halfImage(200, 10))
    val hs = Multimodal.perceptualHashes(Seq(
      mediaRow(1L, single), mediaRow(2L, stream)).toDS()).collect()
      .map(h => h.id -> (h.ahash, h.dhash)).toMap
    assert(hs(2L) === hs(1L), "a video must hash by its FIRST frame")
    // emit-less rows: sub-grid image, corrupt payload, audio
    val tiny = Multimodal.encodePpm(5, 5, Array.fill(75)(7.toByte))
    val none = Multimodal.perceptualHashes(Seq(
      mediaRow(10L, tiny),
      mediaRow(11L, Array[Byte](1, 2, 3)),
      mediaRow(12L, Multimodal.encodeWav(16000, Array.fill(32)(5.toShort)))
    ).toDS()).count()
    assert(none === 0L)
  }

  test("audioHash64: hand-computed gradient bits, rate invariance, emit-less guards") {
    // 130 samples: first 65 at dev 0 (silence), last 65 at dev 100 —
    // blocks 0..31 silent, 33..64 loud; only the energy STEP UP produces
    // no bit (e_i > e_{i+1} is false on a rise), so the hash is 0
    def wav(devs: Seq[Int], rate: Int = 16000) =
      Multimodal.encodeWav(rate, devs.map(d => (d << 8).toShort).toArray)
    val rising = Seq.fill(65)(0) ++ Seq.fill(65)(100)
    val falling = Seq.fill(65)(100) ++ Seq.fill(65)(0)
    val hs = Multimodal.audioHash64(Seq(
      mediaRow(1L, wav(rising)),
      mediaRow(2L, wav(falling)),
      mediaRow(3L, wav(falling, rate = 8000)) // same samples, new header
    ).toDS()).collect().map(h => h.id -> h.ahash64).toMap
    assert(hs(1L) === 0L, f"rising energy must set no gradient bit: ${hs(1L)}%016x")
    // falling: the step down lands where block boundaries cross sample 65
    // (block = k*65 div 130 = k div 2): blocks 0..31 loud, 33.. silent,
    // block 32 mixed — bits exactly at the descents
    assert(java.lang.Long.bitCount(hs(2L)) >= 1 && hs(2L) != 0L)
    assert(hs(3L) === hs(2L), "a sample-rate-only change must not move the hash")
    // emit-less: image payloads, tiny clips, corrupt bytes
    val none = Multimodal.audioHash64(Seq(
      mediaRow(10L, Multimodal.encodePpm(16, 16, halfImage(10, 200))),
      mediaRow(11L, wav(Seq.fill(10)(5))),
      mediaRow(12L, Array[Byte](1, 2, 3, 4))
    ).toDS()).count()
    assert(none === 0L)
    // the dedup loop closes: byte twins pair at hamming 0
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(90)
      .filter($"doc_id" % 3 === 1)
    val base = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val twins = base.map(m => Multimodal.MediaRow(m.id + 1000L, m.payload, m.meta))
    val hashes = Multimodal.audioHash64(base.unionByName(twins)).toDF()
    val pairs = graft.dedup.Dedup.hammingNearDuplicates64(
        hashes, "id", "ahash64", maxHamming = 0)
      .as[(Long, Long, Int)].collect()
    assert(pairs.count(p => p._2 == p._1 + 1000L) === docs.count())
  }

  test("videoFrameHashes: per-frame hashes from the real parser; clipped subsets contain") {
    val f0 = halfImage(10, 200)
    val f1 = halfImage(200, 10)
    val f2 = halfImage(30, 220)
    def stream(frames: Seq[Array[Byte]]) = {
      val out = new java.io.ByteArrayOutputStream()
      frames.foreach(f => out.write(Multimodal.encodePpm(16, 16, f)))
      out.toByteArray
    }
    val rows = Seq(
      mediaRow(1L, stream(Seq(f0, f1, f2, f0))),      // 4 frames, 3 distinct
      mediaRow(2L, stream(Seq(f0, f2))),              // clipped subset of 1
      mediaRow(3L, stream(Seq({
        // TOP-bright: a different aHash bit pattern than any left/right
        // half split (aHash is mean-relative, so right-brighter images
        // all share 0xF0F0…; a vertical split does not)
        val px = new Array[Byte](16 * 16 * 3)
        for (y <- 0 until 16; x <- 0 until 16; c <- 0 until 3)
          px((y * 16 + x) * 3 + c) = (if (y < 8) 200 else 10).toByte
        px
      }))), // unrelated in hash space
      mediaRow(4L, Multimodal.encodeWav(16000, Array.fill(80)(3.toShort)))
    ).toDS()
    val fh = Multimodal.videoFrameHashes(rows).collect()
    assert(fh.count(_.id == 1L) === 4)
    assert(fh.count(_.id == 2L) === 2)
    assert(fh.count(_.id == 4L) === 0, "audio must not frame-hash")
    // frame 0 of video 1 hashes identically to perceptualHashes' ahash
    val whole = Multimodal.perceptualHashes(
      Seq(mediaRow(9L, Multimodal.encodePpm(16, 16, f0))).toDS()).head()
    assert(fh.find(r => r.id == 1L && r.frame_idx == 0).get.ahash === whole.ahash)
    // containment: the clipped copy pairs with its source at 1.0;
    // the unrelated video pairs with nothing
    val pairs = Multimodal.videoContainmentDups(rows, threshold = 0.9)
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._4 === 1.0)
    // the df guard prunes boilerplate frames: with maxDocFreq = 1, the
    // shared frames are boilerplate and the pair disappears
    assert(Multimodal.videoContainmentDups(rows, threshold = 0.9,
      maxDocFreq = 1).isEmpty)
  }

  test("phashPrune keeps cluster minima; non-hashable rows survive untouched") {
    val px = halfImage(10, 200)
    val rows = Seq(
      mediaRow(1L, Multimodal.encodePpm(16, 16, px)),
      mediaRow(2L, Multimodal.encodeBmp(16, 16, px)),     // twin of 1 → drops
      mediaRow(3L, Multimodal.encodePpm(16, 16, halfImage(200, 10))), // distinct
      mediaRow(4L, Multimodal.encodeWav(16000, Array.fill(32)(5.toShort))), // audio
      mediaRow(5L, Array[Byte](9, 9, 9))                  // corrupt
    ).toDS()
    val survivors = Multimodal.phashPrune(rows, maxHamming = 0)
      .map(_.id).collect().toSet
    assert(survivors === Set(1L, 3L, 4L, 5L),
      s"twin must drop, audio/corrupt must survive: $survivors")
    // broadcast dual path + schema round-trip
    val viaBroadcast = Multimodal.phashPrune(rows, maxHamming = 0,
      broadcastDrop = true).map(_.id).collect().toSet
    assert(viaBroadcast === survivors)
  }

  test("phash + hammingNearDuplicates64 close the image-dedup loop") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(90)
      .filter($"doc_id" % 3 === 0)
    val base = Multimodal.syntheticMedia(docs, "doc_id", "text")
    // container-swapped twins: decode, re-encode in the OTHER container —
    // identical pixels, new ids
    val twins = base.map { m =>
      val Some((w, h, px)) = Multimodal.decodeFirstFrame(m.payload)
      val other = if (m.payload(0) == 'B') Multimodal.encodePpm(w, h, px)
                  else Multimodal.encodeBmp(w, h, px)
      Multimodal.MediaRow(m.id + 1000L, other, m.meta)
    }
    val hashes = Multimodal.perceptualHashes(base.unionByName(twins)).toDF()
    val pairs = graft.dedup.Dedup.hammingNearDuplicates64(
        hashes, "id", "ahash", maxHamming = 0)
      .as[(Long, Long, Int)].collect()
    val twinPairs = pairs.filter(p => p._2 == p._1 + 1000L)
    assert(twinPairs.length === docs.count(),
      s"every container twin must pair at hamming 0: got ${twinPairs.length}")
    assert(pairs.forall(_._3 === 0))
  }

  test("JPEG re-encode of a PNG image pairs as a phash near-dup") {
    // the real-world case: the SAME image crawled twice, once as PNG and
    // once re-saved as JPEG — lossy, so pixels differ, but aHash block
    // means stay on their side of the global mean and the hamming index
    // must pair them. High-contrast halves keep every bit decision far
    // from the mean (JPEG quantization noise is single digits).
    val w = 32; val h = 32
    val rgb = Array.tabulate(w * h * 3) { i =>
      (if ((i / 3) / w < h / 2) 30 else 220).toByte
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodePng(w, h, rgb),
        Multimodal.MediaMeta("image", w, h, 1, 0)),
      Multimodal.MediaRow(2L, Jpeg.encode(w, h, rgb, quality = 90),
        Multimodal.MediaMeta("image", w, h, 1, 0))).toDS()
    val hashes = Multimodal.perceptualHashes(rows).toDF()
    val pairs = graft.dedup.Dedup.hammingNearDuplicates64(
        hashes, "id", "ahash", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.length === 1 && pairs.head._3 <= 3,
      s"PNG + JPEG encodes of one image must near-dup: ${pairs.toSeq}")
  }

  test("GIF round-trips arbitrary palettes, interlaced and not") {
    val w = 19; val h = 13 // odd dims: interlace passes hit ragged rows
    val palette = Array.tabulate(768)(i => (i * 37 + 11).toByte)
    val idx = Array.tabulate(w * h)(k => (k * 31 % 256).toByte)
    for (interlace <- Seq(false, true)) {
      val enc = Multimodal.encodeGif(w, h, Seq(idx), palette, interlace)
      val Some((dw, dh, frames)) = Multimodal.decodeGif(enc)
      assert((dw, dh, frames.length) === (w, h, 1), s"interlace=$interlace")
      val rgb = frames.head
      (0 until w * h).foreach { k =>
        val e = (idx(k) & 0xFF) * 3
        assert(rgb(3 * k) === palette(e) && rgb(3 * k + 1) === palette(e + 1)
          && rgb(3 * k + 2) === palette(e + 2),
          s"pixel $k interlace=$interlace")
      }
    }
  }

  test("GIF LZW survives dictionary growth to 12 bits and table reset") {
    // a 128x128 noise raster forces the code table through every width
    // 9..12 and past 4096 entries (encoder emits clear + reset; decoder
    // must follow) — a width-sync or reset bug scrambles pixels
    val w = 128; val h = 128
    val rnd = new scala.util.Random(42)
    val idx = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val enc = Multimodal.encodeGif(w, h, Seq(idx), Multimodal.grayPalette256)
    val Some((_, _, frames)) = Multimodal.decodeGif(enc)
    val rgb = frames.head
    (0 until w * h).foreach { k =>
      val v = idx(k)
      assert(rgb(3 * k) === v && rgb(3 * k + 1) === v && rgb(3 * k + 2) === v,
        s"pixel $k after table reset")
    }
    // and the run-heavy opposite: long runs exercise KwKwK self-reference
    val runs = Array.tabulate(w * h)(k => (k / 97 % 256).toByte)
    val encR = Multimodal.encodeGif(w, h, Seq(runs), Multimodal.grayPalette256)
    assert(encR.length < w * h / 2, "runs must actually compress")
    val Some((_, _, framesR)) = Multimodal.decodeGif(encR)
    (0 until w * h).foreach { k =>
      assert(framesR.head(3 * k) === runs(k), s"run pixel $k")
    }
  }

  test("animated GIF composites placed frames with transparency") {
    val w = 8; val h = 6
    val pal = Multimodal.grayPalette256
    // frame 1: full screen of 10s; frame 2: a 3x2 patch at (2,1) of 200s
    // with one TRANSPARENT pixel (index 7) that must show frame 1 through
    val f1 = Array.fill(w * h)(10.toByte)
    val patch = Array[Byte](200.toByte, 7, 200.toByte,
                            200.toByte, 200.toByte, 200.toByte)
    val enc = Multimodal.encodeGifFrames(w, h, Seq(
      (0, 0, w, h, f1, -1),
      (2, 1, 3, 2, patch, 7)), pal)
    val Some((_, _, frames)) = Multimodal.decodeGif(enc)
    assert(frames.length === 2)
    assert(frames(0).forall(_ === 10.toByte))
    val c = frames(1)
    def px(x: Int, y: Int): Byte = c(3 * (y * w + x))
    assert(px(2, 1) === 200.toByte && px(4, 1) === 200.toByte)
    assert(px(3, 1) === 10.toByte, "transparent pixel shows the canvas")
    assert(px(0, 0) === 10.toByte && px(7, 5) === 10.toByte,
      "pixels outside the patch rect keep frame 1")
    // dispatch: decodeFrames sees both frames, decodeFirstFrame the first
    assert(Multimodal.decodeFrames(enc).length === 2)
    assert(Multimodal.decodeFirstFrame(enc).get._3.toSeq === frames(0).toSeq)
  }

  test("GIF rejects corrupt signatures, truncation, and bad indices") {
    val idx = Array.tabulate(6 * 6)(k => (k % 4).toByte)
    val enc = Multimodal.encodeGif(6, 6, Seq(idx), Multimodal.grayPalette256)
    assert(Multimodal.decodeGif(enc).isDefined)
    val badSig = enc.clone(); badSig(3) = 'X'
    assert(Multimodal.decodeGif(badSig).isEmpty)
    // truncation anywhere: no exceptions, just None
    Seq(5, 12, 700, 790, enc.length - 2).foreach { cut =>
      assert(Multimodal.decodeGif(java.util.Arrays.copyOf(enc, cut)).isEmpty,
        s"truncated at $cut")
    }
    // an unknown block type where an image descriptor belongs
    val badBlock = enc.clone(); badBlock(6 + 7 + 768) = 0x55
    assert(Multimodal.decodeGif(badBlock).isEmpty)
    // shrink the declared GCT to 2 entries: the remaining palette bytes
    // misparse as blocks — corrupt, None, no exception
    val shrunk = enc.clone(); shrunk(10) = 0xF0.toByte
    assert(Multimodal.decodeGif(shrunk).isEmpty)
    // corrupt one LZW data byte: either decodes-short (None) or garbles —
    // must never throw
    val flip = enc.clone(); flip(6 + 7 + 768 + 11) = 0x33
    Multimodal.decodeGif(flip) // any Option is fine; no exception
  }

  test("animated GIFs flow through the video containment pipeline") {
    // a GIF animation and its every-other-frame clipped twin must pair
    // by frame-set containment — the P6-stream path, now on the real
    // multi-frame container
    val w = 16; val h = 16
    val pal = Multimodal.grayPalette256
    val frames = (0 until 6).map(f =>
      Array.tabulate(w * h)(k => ((k * 7 + f * 41) % 256).toByte))
    val full = Multimodal.encodeGif(w, h, frames, pal)
    val clipped = Multimodal.encodeGif(w, h,
      frames.zipWithIndex.collect { case (fr, i) if i % 2 == 0 => fr }, pal)
    val rows = Seq(
      Multimodal.MediaRow(1L, full, Multimodal.MediaMeta("video", w, h, 6, 0)),
      Multimodal.MediaRow(2L, clipped, Multimodal.MediaMeta("video", w, h, 3, 0))
    ).toDS()
    val fh = Multimodal.videoFrameHashes(rows).toDF()
    assert(fh.filter($"id" === 1L).count() === 6)
    assert(fh.filter($"id" === 2L).count() === 3)
    val dups = Multimodal.videoContainmentDups(rows, threshold = 0.9)
      .as[(Long, Long, Long, Double)].collect()
    assert(dups.length === 1 && dups.head._1 === 1L && dups.head._2 === 2L,
      s"clipped GIF twin must contain: ${dups.toSeq}")
    assert(dups.head._4 === 1.0)
    // JPEG rows hash their (single) frame through the same kernel
    val jrgb = Array.tabulate(32 * 16 * 3)(i =>
      (if ((i / 3) % 32 < 16) 20 else 230).toByte)
    val jrow = Seq(Multimodal.MediaRow(3L, Jpeg.encode(32, 16, jrgb),
      Multimodal.MediaMeta("image", 32, 16, 1, 0))).toDS()
    assert(Multimodal.videoFrameHashes(jrow).toDF().count() === 1)
  }

  test("GIF fixture: frames and features match the fixture formula") {
    val gifs = Multimodal.syntheticGifMedia(docs, "doc_id", "text").cache()
    // every payload is a decodable real GIF
    val metas = gifs.collect()
    metas.foreach { m =>
      val Some((w, h, frames)) = Multimodal.decodeGif(m.payload)
      assert((w, h) === (m.meta.width, m.meta.height))
      assert(frames.length === m.meta.n_frames, s"id ${m.id}")
    }
    // pixel-exact vs the fixture formula for an interlaced doc with text
    val docId = docs.filter($"doc_id" % 4 >= 2 && length($"text") > 0)
      .select("doc_id").as[Long].head()
    val sample = metas.find(_.id == docId).get
    val doc = docs.filter($"doc_id" === sample.id)
      .select("text").as[String].head()
    val tb = doc.getBytes("UTF-8")
    val Some((w, h, frames)) = Multimodal.decodeGif(sample.payload)
    val np = w * h * frames.length
    (0 until np).foreach { k =>
      val expected = (((tb(k % tb.length) & 0xFF) + k) % 256).toByte
      val f = k / (w * h); val p = k % (w * h)
      assert(frames(f)(3 * p) === expected, s"frame $f pixel $p")
    }
    gifs.unpersist()
  }

  test("extractFeaturesWithFrames == extractFeatures + stride-1 frame count") {
    // the r16 one-decode form must be BIT-IDENTICAL to the two-pass
    // pairing it replaces (same accumulation order, same divisor, same
    // corrupt-payload floor)
    val gifs = Multimodal.syntheticGifMedia(docs.limit(40), "doc_id", "text")
    val corrupt = Seq(
      Multimodal.MediaRow(90001L, Array[Byte](1, 2, 3),
        Multimodal.MediaMeta("image", 0, 0, 0, 0)),
      Multimodal.MediaRow(90002L, null,
        Multimodal.MediaMeta("image", 0, 0, 0, 0))).toDS()
    val media = gifs.union(corrupt).cache()
    try {
      val one = Multimodal.extractFeaturesWithFrames(media).collect()
        .map(f => f.id ->
          ((f.media_type, f.byte_len, f.histogram.toSeq, f.mean_luma,
            f.n_frames))).toMap
      val two = Multimodal.extractFeatures(media).collect()
        .map(f => f.id ->
          ((f.media_type, f.byte_len, f.histogram.toSeq, f.mean_luma)))
        .toMap
      val nf = Multimodal.sampleFrames(media, stride = 1).toDF()
        .groupBy("id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(one.keySet === two.keySet)
      one.foreach { case (id, (mt, bl, hist, luma, n)) =>
        assert(two(id) === ((mt, bl, hist, luma)), s"id $id features")
        assert(n.toLong === nf(id), s"id $id frame count")
      }
    } finally media.unpersist()
  }

  test("imageDimsByKey / perceptualHashesByKey: url-keyed decode, emit-less on corrupt") {
    val images = Seq(
      ("https://i/bmp", Multimodal.encodeBmp(12, 9,
        Array.tabulate(12 * 9 * 3)(i => (i % 251).toByte))),
      ("https://i/ppm", Multimodal.encodePpm(16, 8,
        Array.fill[Byte](16 * 8 * 3)(64.toByte))),
      ("https://i/tiny", Multimodal.encodeBmp(3, 2,
        Array.fill[Byte](3 * 2 * 3)(0.toByte))),
      ("https://i/bad", "garbage".getBytes("UTF-8")))
      .toDF("img_url", "body")
    val dims = Multimodal.imageDimsByKey(images)
      .collect().map(d => d.key -> ((d.width, d.height))).toMap
    // dims decode even below the phash grid minimum; corrupt emits nothing
    assert(dims === Map("https://i/bmp" -> ((12, 9)),
      "https://i/ppm" -> ((16, 8)), "https://i/tiny" -> ((3, 2))))
    val hashes = Multimodal.perceptualHashesByKey(images)
      .collect().map(_.key).toSet
    // sub-grid (3x2) and corrupt payloads emit no hash
    assert(hashes === Set("https://i/bmp", "https://i/ppm"))
  }
}
