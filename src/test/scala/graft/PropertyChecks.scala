package graft

import org.scalacheck.{Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.analysis.{TextAnalyzer, TextMetrics}
import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.pipeline.Scrub

/** Property-based invariants (SURVEY.md §5 test plan): pure kernels only —
  * no SparkSession — so arbitrary unicode inputs run in volume. */
object PropertyChecks extends Properties("graft.kernels") {

  // ≙ StringAnalyzerTests.cs:209-221 (vectors finite + normalized), as a law
  property("token vectors are finite, unit-norm, sorted, in-range") =
    forAll { (s: String) =>
      TextAnalyzer.tokenizeIntoVectors(s, 128).forall { t =>
        val finite = t.values.forall(v => !v.isNaN && !v.isInfinite)
        val norm = VectorOps.l2Norm(t.values)
        val sorted = t.indices.sameElements(t.indices.sorted)
        val inRange = t.indices.forall(i => i >= 0 && i < 128)
        finite && sorted && inRange && math.abs(norm - 1.0) < 1e-9
      }
    }

  property("tokenization is deterministic") = forAll { (s: String) =>
    val a = TextAnalyzer.tokenizeIntoVectors(s, 128).toSeq
    val b = TextAnalyzer.tokenizeIntoVectors(s, 128).toSeq
    a.map(_.label) == b.map(_.label) &&
      a.zip(b).forall { case (x, y) =>
        x.indices.sameElements(y.indices) && x.values.sameElements(y.values)
      }
  }

  property("identity angle lies in [-1, 1]") = forAll { (s: String) =>
    TextAnalyzer.tokenizeIntoVectors(s, 128).forall { t =>
      val a = VectorOps.angleOfIdentity(t.indices, t.values, 128)
      a >= -1.0 && a <= 1.0 && !a.isNaN
    }
  }

  property("normalizeString is idempotent") = forAll { (s: String) =>
    val n = Dedup.normalizeString(s)
    Dedup.normalizeString(n) == n
  }

  // the one-pass token loop must be indistinguishable from the regex
  // formulation the DuckDB oracles run — on ANY input, unicode included
  property("normalizeTokens equals the regex pipeline") = forAll { (s: String) =>
    val regexForm = s.toLowerCase
      .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
    Dedup.normalizeTokens(s).sameElements(regexForm.split(" ", -1)) &&
      Dedup.normalizeString(s) == regexForm
  }

  // the defining min-hash law: sig(A ∪ B) = elementwise min(sig A, sig B)
  property("minhash signature distributes over union") =
    forAll { (a: List[String], b: List[String]) =>
      val sa = Dedup.minhashSig(a, 16)
      val sb = Dedup.minhashSig(b, 16)
      val su = Dedup.minhashSig(a ++ b, 16)
      su.sameElements(sa.zip(sb).map { case (x, y) => math.min(x, y) })
    }

  // simhash accumulates per-bit counts — multiset order cannot matter
  property("simhash is permutation-invariant") = forAll { (ts: List[String]) =>
    Dedup.simhash64(ts) == Dedup.simhash64(ts.reverse)
  }

  property("cosine is symmetric and bounded") =
    forAll { (a: List[Double], b: List[Double]) =>
      // clamp magnitudes so the dot product cannot overflow — the law is
      // about the finite domain
      def clean(l: List[Double]): Array[Double] =
        l.map(v => if (v.isNaN || v.isInfinite) 0.0 else v % 1e6)
          .take(32).toArray
      val x = clean(a); val y = clean(b)
      val c1 = VectorOps.cosine(x, y)
      val c2 = VectorOps.cosine(y, x)
      c1 == c2 && c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9
    }

  property("languageId is total and deterministic") = forAll { (s: String) =>
    val a = TextMetrics.languageId(s)
    a == TextMetrics.languageId(s) && a.nonEmpty
  }

  property("pii redaction is idempotent") = forAll { (s: String) =>
    val once = Scrub.redactPiiString(s)
    Scrub.redactPiiString(once) == once
  }

  // the replacement tokens contain no digits or '@', so no pattern can
  // match anything a redaction produced — scrubbed text is scrubbed
  property("no pii pattern survives redaction") = forAll { (s: String) =>
    val red = Scrub.redactPiiString(s)
    Scrub.Patterns.forall { case (_, re, _) =>
      !java.util.regex.Pattern.compile(re).matcher(red).find()
    }
  }

  property("rollingFingerprint ignores whitespace runs and case") =
    forAll { (s: String) =>
      TextMetrics.rollingFingerprint(s) ==
        TextMetrics.rollingFingerprint(s.toLowerCase(java.util.Locale.ROOT)
          .replaceAll("\\s+", " ").trim)
    }

  // C4 line rules see through surrounding spaces — exactly what SQL trim
  // strips, so the kernel and its oracle can never diverge on padding
  property("c4 line filter is invariant under surrounding spaces") =
    forAll { (s: String) =>
      graft.pipeline.CorpusClean.c4KeepLine(s) ==
        graft.pipeline.CorpusClean.c4KeepLine("  " + s + "   ")
    }

  // kept lines are already trimmed and rule-passing, so cleaning a
  // cleaned document changes nothing
  property("c4 cleaning is idempotent on its own output") =
    forAll { (s: String) =>
      val (c1, k1, _) = graft.pipeline.CorpusClean.c4CleanString(s)
      val (c2, k2, d2) = graft.pipeline.CorpusClean.c4CleanString(c1)
      c2 == c1 && (k1 == 0 || (k2 == k1 && d2 == 0))
    }

  // the tight span-removal kernel vs an independent brute-force coverage
  // reference, over arbitrary text and any VALID mark set
  property("span removal matches the brute-force coverage reference") =
    forAll { (s: String, rawMarks: List[Int], kRaw: Int) =>
      val k = 2 + math.abs(kRaw % 5)
      val t = TextMetrics.wsTokenArr(if (s == null) "" else s)
      val maxStart = t.length - k
      val marks =
        if (maxStart < 0) Nil
        else rawMarks.map(m => ((m % (maxStart + 1)) + (maxStart + 1)) % (maxStart + 1))
      val got = graft.pipeline.SpanDedup.removeSpansKernel(s, marks, k)
      val covered = t.indices.map(i => marks.exists(p => i >= p && i < p + k))
      val keptText = t.indices.filterNot(covered).map(t).mkString(" ")
      val removed = covered.count(identity)
      val ps = marks.distinct.sorted
      val spans =
        if (ps.isEmpty) 0
        else 1 + ps.zip(ps.tail).count { case (a, b) => b - a >= k }
      got == ((keptText, removed, spans))
    }

  // both image containers must round-trip ARBITRARY pixel content (the
  // fixed-fixture spec round-trips can't rule out content-dependent
  // parser bugs — BMP row padding and P6 header grammar both vary with
  // dimensions), and both must hand perceptual hashing identical pixels
  property("P6 and BMP round-trip arbitrary pixels identically") =
    forAll { (wRaw: Int, hRaw: Int, seed: Long) =>
      val w = 9 + math.abs(wRaw % 16)  // >= grid+1, exercises padding mod 4
      val h = 8 + math.abs(hRaw % 12)
      val rnd = new scala.util.Random(seed)
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val viaPpm = graft.multimodal.Multimodal
        .decodeFirstFrame(graft.multimodal.Multimodal.encodePpm(w, h, rgb))
      val viaBmp = graft.multimodal.Multimodal
        .decodeFirstFrame(graft.multimodal.Multimodal.encodeBmp(w, h, rgb))
      viaPpm.exists { case (pw, ph, px) =>
        pw == w && ph == h && px.sameElements(rgb) } &&
      viaBmp.exists { case (bw, bh, bx) =>
        bw == w && bh == h && bx.sameElements(rgb) }
    }

  // WAV round-trips the engine's unsigned-8-bit sample projection for
  // arbitrary content (the fingerprint and stats paths both ride it)
  property("WAV round-trips the u8 sample projection") =
    forAll { (nRaw: Int, seed: Long) =>
      val n = 1 + math.abs(nRaw % 500)
      val rnd = new scala.util.Random(seed)
      val u8 = Array.fill(n)(rnd.nextInt(256).toByte)
      val s16 = u8.map(b => (((b & 0xFF) - 128) << 8).toShort)
      graft.multimodal.Multimodal
        .decodeWav(graft.multimodal.Multimodal.encodeWav(16000, s16))
        .exists(_.sameElements(u8))
    }

  // GIF: arbitrary rasters/palettes/interlace round-trip to the exact
  // palette lookup — the LZW codec, filter walk, and deinterlacer under
  // volume randomness, not just the spec's hand cases
  property("GIF round-trips arbitrary rasters, palettes, interlace") =
    forAll { (wRaw: Int, hRaw: Int, seed: Long, interlace: Boolean) =>
      val w = 1 + math.abs(wRaw % 24)
      val h = 1 + math.abs(hRaw % 20)
      val rnd = new scala.util.Random(seed)
      val palette = Array.fill(768)(rnd.nextInt(256).toByte)
      val nf = 1 + rnd.nextInt(3)
      val frames = Seq.fill(nf)(Array.fill(w * h)(rnd.nextInt(256).toByte))
      val m = graft.multimodal.Multimodal
      m.decodeGif(m.encodeGif(w, h, frames, palette, interlace)).exists {
        case (dw, dh, decoded) =>
          dw == w && dh == h && decoded.length == nf &&
            decoded.zip(frames).forall { case (rgb, idx) =>
              (0 until w * h).forall { k =>
                val e = (idx(k) & 0xFF) * 3
                rgb(3 * k) == palette(e) &&
                  rgb(3 * k + 1) == palette(e + 1) &&
                  rgb(3 * k + 2) == palette(e + 2)
              }
            }
      }
    }

  // JPEG: our decoder and the JDK's independent ImageIO implementation
  // must agree on OUR encoder's bytes for arbitrary content, quality,
  // grayscale, and restart intervals. Tolerance 4: T.81 permits IDCT
  // implementations to differ by a few LSBs (libjpeg runs a scaled
  // integer IDCT, ours is exact double) and random-noise blocks maximize
  // that divergence — empirically worst 3 over 300 random images; smooth
  // content stays within 2 (JpegSpec pins that tighter bound)
  property("JPEG cross-decodes against ImageIO within rounding") =
    forAll { (wRaw: Int, hRaw: Int, seed: Long, gray: Boolean) =>
      val w = 8 + math.abs(wRaw % 17)
      val h = 8 + math.abs(hRaw % 13)
      val rnd = new scala.util.Random(seed)
      val quality = 70 + rnd.nextInt(26)
      val ri = rnd.nextInt(3)
      val px = Array.fill(w * h * (if (gray) 1 else 3))(
        rnd.nextInt(256).toByte)
      val enc = graft.multimodal.Jpeg.encode(w, h, px, quality, gray, ri)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(enc))
      graft.multimodal.Jpeg.decode(enc).exists { case (dw, dh, mine) =>
        dw == w && dh == h && img != null &&
          img.getWidth == w && img.getHeight == h && {
            val raster = img.getRaster
            val grayBands = raster.getNumBands == 1
            (0 until w * h).forall { k =>
              val x = k % w
              val y = k / w
              val (r, g, b) =
                if (grayBands) {
                  val v = raster.getSample(x, y, 0)
                  (v, v, v)
                } else {
                  val argb = img.getRGB(x, y)
                  ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF)
                }
              math.abs((mine(3 * k) & 0xFF) - r) <= 4 &&
                math.abs((mine(3 * k + 1) & 0xFF) - g) <= 4 &&
                math.abs((mine(3 * k + 2) & 0xFF) - b) <= 4
            }
          }
      }
    }

  // WARC: arbitrary binary bodies survive the counted-payload framing
  property("WARC round-trips arbitrary binary bodies") =
    forAll { (seed: Long, gz: Boolean) =>
      val rnd = new scala.util.Random(seed)
      val recs = Seq.fill(1 + rnd.nextInt(4)) {
        val body = Array.fill(rnd.nextInt(2000))(rnd.nextInt(256).toByte)
        (s"https://p/${rnd.nextInt(1000)}", 200, body)
      }
      val got = graft.sources.Warc.parseWarc(
        graft.sources.Warc.encodeWarcFixtures(recs.map { case (u, st, b) =>
          graft.sources.Warc.ResponseFixture(u, st,
            contentType = "text/plain; charset=utf-8", body = b)
        }, gzipPerRecord = gz))
        .filter(_.warc_type == "response")
      got.length == recs.length &&
        got.zip(recs).forall { case (r, (u, _, b)) =>
          r.target_uri == u && r.body.sameElements(b)
        }
    }

  // TAR: arbitrary member names (incl. >100-byte GNU 'L' paths) and
  // binary payloads round-trip through the checksummed header walk
  property("TAR round-trips arbitrary members") =
    forAll { (seed: Long, gz: Boolean) =>
      val rnd = new scala.util.Random(seed)
      val entries = Seq.tabulate(1 + rnd.nextInt(4)) { i =>
        val depth = rnd.nextInt(3)
        val longPart = if (rnd.nextBoolean()) "d" * 110 else "d"
        val name = (Seq.fill(depth)(longPart) :+ s"f$i.bin").mkString("/")
        (name, Array.fill(rnd.nextInt(1500))(rnd.nextInt(256).toByte))
      }
      val got = graft.sources.WebDataset.parseTar(
        graft.sources.WebDataset.encodeTar(entries, gz))
      got.length == entries.length &&
        got.zip(entries).forall { case (e, (n, b)) =>
          e.name == n && e.bytes.sameElements(b)
        }
    }

  // HtmlText totality: any input yields trimmed single-space lines with
  // no collapsible-whitespace residue. The collapsible set is EXACTLY
  // RE2's \s ([\t\n\f\r ]) for oracle parity (r12, HtmlText.scala):
  // NUL and \u000B are CONTENT, not whitespace, so the property must
  // NOT assert their absence (the pre-r14 form asserted no-NUL and was
  // seed-flaky — falsified whenever ScalaCheck surfaced a NUL-content
  // input). HtmlTextSpec pins NUL-as-content on explicit fixtures.
  property("htmlToText is total with normalized line structure") =
    forAll { (s: String) =>
      val t = graft.pipeline.HtmlText.htmlToText(s)
      t.isEmpty || t.split("\n", -1).forall { l =>
        l.nonEmpty && !l.startsWith(" ") && !l.endsWith(" ") &&
          !l.contains('\t') && !l.contains('\f') && !l.contains('\r') &&
          !l.contains("  ")
      }
    }

  // WET conversion records (late r15): arbitrary BYTE payloads — CRLF
  // runs, WARC-lookalike text, empty bodies — round-trip through the
  // counted parser in both packagings; uris, order, and bytes exact.
  property("encodeWet round-trips arbitrary payloads, plain and gzip") =
    forAll { (seeds: List[Long], gzip: Boolean) =>
      val recs = seeds.take(8).zipWithIndex.map { case (seed, i) =>
        val rnd = new scala.util.Random(seed)
        val body = new Array[Byte](rnd.nextInt(400))
        rnd.nextBytes(body)
        (s"https://w.test/$i", body)
      }
      val parsed = graft.sources.Warc
        .parseWarc(graft.sources.Warc.encodeWet(recs, gzipPerRecord = gzip))
        .filter(_.warc_type == "conversion")
      parsed.length == recs.length &&
        parsed.zip(recs).forall { case (r, (uri, body)) =>
          r.target_uri == uri && r.http_status == -1 &&
            java.util.Arrays.equals(r.body, body)
        }
    }

  // validator headers (late r15): If-None-Match comparison is OPAQUE
  // per RFC 9110, so any header-safe ETag/Last-Modified value must
  // survive the HTTP split byte-exact — quotes, weak prefixes, case.
  property("ETag / Last-Modified survive the HTTP split verbatim") =
    forAll { (core: String, weak: Boolean, gzip: Boolean) =>
      // header-safe: strip CTL and exotic whitespace; parseHeaders
      // trims edge spaces by contract, so the generated value has none
      val safe = core.filter(c => c > ' ' && c < 127 && c != ',').take(40)
      val etag = (if (weak) "W/" else "") + "\"" + safe + "\""
      val lm = s"Sat, 15 Aug 2026 0${math.abs(safe.length % 10)}:00:00 GMT"
      val recs = Seq(graft.sources.Warc.ResponseFixture(
        "https://v.test/p", 200, contentType = "text/html",
        etag = etag, lastModified = lm,
        body = "x".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val r = graft.sources.Warc
        .parseWarc(graft.sources.Warc.encodeWarcFixtures(recs,
          gzipPerRecord = gzip))
        .find(_.warc_type == "response").get
      r.http_etag == etag && r.http_last_modified == lm
    }
}
