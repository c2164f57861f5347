package perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded input generators. Every generator is a pure function of its seed
  * and arguments; none calls into the program under test, which only ever
  * sees the files and frames these produce. */
object Gen {

  /** An independent random stream per (seed, purpose) pair, so adding a
    * draw to one generator never shifts another's inputs. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 0x632BE59BD9B4E019L))

  // ----------------------------------------------------------- vectors

  /** A Gaussian mixture: `centres` unit-scale centres in `dim` dimensions;
    * each point is a centre plus isotropic noise. Clustered data is what
    * an IVF index is for, and the mixture gives every seed the same
    * list-balance shape. */
  final class Mixture(seed: Long, val dim: Int, centres: Int, noise: Double) {
    private val c: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(centres, dim)(gauss(r))
    }
    /** `n` points from stream `stream`. */
    def draw(stream: Long, n: Int): Array[Array[Float]] = {
      val r = rng(seed, 100 + stream)
      Array.fill(n) {
        val ci = c(r.nextInt(c.length))
        Array.tabulate(dim)(i => (ci(i) + noise * gauss(r)).toFloat)
      }
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  // -------------------------------------------------------- crawl pages

  /** Zipf-distributed pseudo-word vocabulary (lowercase a-z, so the dedup
    * tokenizer keeps every word whole). */
  final class Vocab(seed: Long, size: Int, exponent: Double) {
    private val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "si", "po",
      "ve", "du", "ga", "fi", "zo", "be", "ha", "ju", "qua", "ren", "tor",
      "sel", "mar", "vin", "dal", "cor")
    val words: Array[String] = {
      val r = rng(seed, 2)
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](size)
      var i = 0
      while (i < size) {
        val n = 2 + r.nextInt(3)
        val w = (0 until n).map(_ => syll(r.nextInt(syll.length))).mkString
        if (seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, exponent))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  /** What the generator planted in one batch: the exact outcome a correct
    * ingest must report. */
  final case class CrawlBatch(files: Seq[File], records: Int, bytes: Long,
                              fresh: Set[String], freshTextBytes: Long,
                              dups: Seq[String], redirects: Int)

  /** A page the crawl kept: its url and words (near-duplicates of later
    * batches copy a prefix of these). */
  final case class Page(url: String, words: Array[String])

  /** Crawl batches over one synthetic web. Batch `b` holds `pages` HTML
    * responses: fresh pages, plus `dupShare` near-duplicates of pages kept
    * by EARLIER batches (a prefix of 90-97% of the words under a mirror
    * url; 3-shingle Jaccard >= 0.9, well above the 0.8 prune threshold),
    * plus `deadShare` split between 404 responses and 301 redirects.
    * Records are gzip-per-member WARC, split over `files` files. */
  final class Crawl(seed: Long, pages: Int, dupShare: Double,
                    deadShare: Double, files: Int) {
    private val vocab = new Vocab(seed, 20000, 1.07)
    private val kept = scala.collection.mutable.ArrayBuffer.empty[Page]

    def batch(b: Int, dir: File): CrawlBatch = {
      val r = rng(seed, 1000 + b)
      val nDead = math.round(pages * deadShare).toInt
      val nDup = if (kept.isEmpty) 0 else math.round(pages * dupShare).toInt
      val nFresh = pages - nDead - nDup
      val recs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val fresh = scala.collection.mutable.ArrayBuffer.empty[Page]
      val dups = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 0 until nFresh) {
        val n = 150 + r.nextInt(301)
        val p = Page(s"http://host${r.nextInt(500)}.example/b$b/p$i",
          Array.fill(n)(vocab.word(r)))
        fresh += p
        recs += response(p.url, 200, html(p, r), null)
      }
      for (i <- 0 until nDup) {
        val src = kept(r.nextInt(kept.length))
        val keep = math.ceil(src.words.length * (0.90 + 0.07 * r.nextDouble())).toInt
        val p = Page(s"http://mirror${r.nextInt(50)}.example/b$b/d$i",
          src.words.take(keep))
        dups += p.url
        recs += response(p.url, 200, html(p, r), null)
      }
      val nRedirect = nDead / 2
      for (i <- 0 until nDead) {
        val url = s"http://host${r.nextInt(500)}.example/b$b/x$i"
        if (i < nRedirect)
          recs += response(url, 301, Array.emptyByteArray,
            s"http://host${r.nextInt(500)}.example/moved/b$b/$i")
        else recs += response(url, 404,
          "<html><body>not found</body></html>".getBytes(UTF_8), null)
      }
      kept ++= fresh
      // interleave classes so every file carries every class
      val shuffled = shuffle(recs.toArray, r)
      dir.mkdirs()
      val out = (0 until files).map { f =>
        val file = new File(dir, f"part-$f%03d.warc.gz")
        val os = new FileOutputStream(file)
        try {
          var i = f
          while (i < shuffled.length) { os.write(shuffled(i)); i += files }
        } finally os.close()
        file
      }
      CrawlBatch(out, recs.length, out.map(_.length).sum,
        fresh.map(_.url).toSet,
        fresh.map(p => p.words.map(_.length + 1).sum.toLong).sum,
        dups.toSeq, nRedirect)
    }

    private def html(p: Page, r: SplittableRandom): Array[Byte] = {
      val sb = new java.lang.StringBuilder(p.words.length * 8 + 256)
      sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>")
      sb.append(p.words(0)).append(' ').append(p.words(1))
      sb.append("</title></head><body>\n<p>")
      var i = 0
      while (i < p.words.length) {
        if (i > 0) sb.append(if (i % 60 == 0) "</p>\n<p>" else " ")
        sb.append(p.words(i))
        i += 1
      }
      sb.append("</p>\n<ul>")
      for (_ <- 0 until 3)
        sb.append("<li><a href=\"/link/").append(r.nextInt(100000))
          .append("\">more</a></li>")
      sb.append("</ul></body></html>\n")
      sb.toString.getBytes(UTF_8)
    }

    private var recordNo = 0L

    /** One gzip member holding one WARC response record. */
    private def response(url: String, status: Int, body: Array[Byte],
                         location: String): Array[Byte] = {
      val reason = status match { case 200 => "OK"; case 301 => "Moved Permanently"; case _ => "Not Found" }
      val http = new StringBuilder(s"HTTP/1.1 $status $reason\r\n")
      if (status != 301) http.append("Content-Type: text/html; charset=utf-8\r\n")
      if (location != null) http.append(s"Location: $location\r\n")
      http.append(s"Content-Length: ${body.length}\r\n\r\n")
      val payload = http.toString.getBytes(US_ASCII) ++ body
      recordNo += 1
      val head = "WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $url\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-$recordNo%012d>\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
      val bos = new ByteArrayOutputStream(payload.length / 2 + 256)
      val gz = new GZIPOutputStream(bos)
      gz.write(head.getBytes(US_ASCII)); gz.write(payload)
      gz.write("\r\n\r\n".getBytes(US_ASCII))
      gz.close()
      bos.toByteArray
    }
  }

  def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }
}
