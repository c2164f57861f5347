package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class WarcSpec extends SparkTestBase {
  import spark.implicits._

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def plainText(uri: String, status: Int, body: Array[Byte]) =
    Warc.ResponseFixture(uri, status,
      contentType = "text/plain; charset=utf-8", body = body)

  private def fileOf(gzip: Boolean): Array[Byte] =
    Warc.encodeWarcFixtures(Seq(
      plainText("https://a.test/1", 200, "hello world".getBytes(utf8)),
      plainText("https://a.test/2", 404, "gone".getBytes(utf8)),
      plainText("https://a.test/3", 200,
        Array.tabulate[Byte](1000)(i => (i % 251).toByte))
    ), gzipPerRecord = gzip)

  test("round-trips records, plain and gzip-per-member") {
    for (gz <- Seq(false, true)) {
      val recs = Warc.parseWarc(fileOf(gz))
      assert(recs.length === 4, s"warcinfo + 3 responses (gz=$gz)")
      assert(recs.head.warc_type === "warcinfo")
      assert(recs.head.http_status === -1, "warcinfo has no HTTP layer")
      val rs = recs.tail
      assert(rs.map(_.warc_type).toSet === Set("response"))
      assert(rs.map(_.target_uri) ===
        Seq("https://a.test/1", "https://a.test/2", "https://a.test/3"))
      assert(rs.map(_.http_status) === Seq(200, 404, 200))
      assert(new String(rs(0).body, utf8) === "hello world")
      assert(new String(rs(1).body, utf8) === "gone")
      assert(rs(2).body.length === 1000)
      assert(rs(2).body.toSeq === Array.tabulate[Byte](1000)(i => (i % 251).toByte).toSeq)
      assert(rs.forall(_.http_content_type == "text/plain; charset=utf-8"))
      assert(rs.forall(_.warc_date == "2026-01-01T00:00:00Z"))
    }
  }

  test("Retry-After survives the HTTP split (r15), alongside its siblings") {
    val bytes = Warc.encodeWarcFixtures(Seq(
      Warc.ResponseFixture("https://t/429", 429, retryAfter = "120"),
      Warc.ResponseFixture("https://t/503", 503, contentType = "text/html",
        retryAfter = "Fri, 01 Jan 2027 00:00:00 GMT",
        body = "<p>x</p>".getBytes(utf8)),
      Warc.ResponseFixture("https://t/ok", 200, contentType = "text/html",
        xRobots = "noindex", body = "<p>y</p>".getBytes(utf8))),
      gzipPerRecord = true)
    val rs = Warc.parseWarc(bytes).filter(_.warc_type == "response")
    assert(rs.map(_.http_retry_after) ===
      Seq("120", "Fri, 01 Jan 2027 00:00:00 GMT", null))
    assert(rs.map(_.http_status) === Seq(429, 503, 200))
    assert(rs(2).http_x_robots === "noindex",
      "the wider encoder must not disturb the r14 headers")
  }

  test("ETag / Last-Modified survive the split byte-exact; revisit records parse (r15)") {
    val bytes = Warc.encodeWarcFixtures(Seq(
      Warc.ResponseFixture("https://t/strong", 200, contentType = "text/html",
        etag = "\"abc123\"", body = "<p>a</p>".getBytes(utf8)),
      Warc.ResponseFixture("https://t/weak", 200, contentType = "text/html",
        etag = "W/\"v2\"", lastModified = "Tue, 04 Mar 2025 09:30:00 GMT",
        body = "<p>b</p>".getBytes(utf8)),
      Warc.ResponseFixture("https://t/304", 304),
      Warc.ResponseFixture("https://t/revisit", 200,
        contentType = "text/plain", warcType = "revisit")),
      gzipPerRecord = true)
    val rs = Warc.parseWarc(bytes).filter(_.warc_type != "warcinfo")
    // If-None-Match comparison is opaque per RFC 9110: the quotes and
    // the weak prefix must ride through unnormalized
    assert(rs(0).http_etag === "\"abc123\"")
    assert(rs(0).http_last_modified === null)
    assert(rs(1).http_etag === "W/\"v2\"")
    assert(rs(1).http_last_modified === "Tue, 04 Mar 2025 09:30:00 GMT")
    assert(rs(2).http_status === 304)
    assert(rs(2).http_etag === null)
    assert(rs(2).body.isEmpty)
    assert(rs(3).warc_type === "revisit")
    assert(rs(3).http_status === 200, "a revisit's stored status line parses")
    assert(rs(3).body.isEmpty)
  }

  test("WET conversion records round-trip: no HTTP layer, text verbatim (r15)") {
    val text = "extracted text with unicode é中 and\nnewlines"
    val bytes = Warc.encodeWet(Seq(
      ("https://w/1", text.getBytes(utf8)),
      ("https://w/2", Array.emptyByteArray)), gzipPerRecord = true)
    val rs = Warc.parseWarc(bytes).filter(_.warc_type == "conversion")
    assert(rs.length === 2)
    assert(rs(0).http_status === -1, "conversion records have no HTTP layer")
    assert(rs(0).http_content_type === null)
    assert(new String(rs(0).body, utf8) === text)
    assert(rs(1).body.isEmpty)
  }

  test("binary-safe: bodies containing CRLF runs and fake headers parse by length") {
    // a body that CONTAINS a blank line and a WARC version line — only
    // Content-Length-driven parsing survives this (the reason WARC is
    // counted, not delimited)
    val trap = "x\r\n\r\nWARC/1.0\r\nContent-Length: 999\r\n\r\ny".getBytes(utf8)
    val recs = Warc.parseWarc(Warc.encodeWarcFixtures(Seq(
      plainText("https://t/x", 200, trap))))
    assert(recs.length === 2)
    assert(recs(1).body.toSeq === trap.toSeq)
  }

  test("chunked Transfer-Encoding bodies de-chunk; framing violations keep raw") {
    // hand-built wire framing (RFC 7230 §4.1): sizes in hex, an
    // extension on the first frame, a trailer header after the 0 frame
    def warcOf(httpPayload: Array[Byte]): Array[Byte] = {
      val head = ("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Target-URI: https://c.test/chunked\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
        "WARC-Record-ID: <urn:uuid:1>\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: ${httpPayload.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      head ++ httpPayload ++ "\r\n\r\n".getBytes(utf8)
    }
    def http(te: String, body: String): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Transfer-Encoding: $te\r\n\r\n$body").getBytes(utf8)

    val chunked = "B;ext=1\r\n<p>hello, w\r\n6\r\norld</\r\n2\r\np>\r\n" +
      "0\r\nX-Trailer: t\r\n\r\n"
    val got = Warc.parseWarc(warcOf(http("chunked", chunked)))
    assert(got.length === 1)
    assert(new String(got(0).body, utf8) === "<p>hello, world</p>",
      s"dechunked: ${new String(got(0).body, utf8)}")
    // token-list value: chunked is the final coding by spec
    val got2 = Warc.parseWarc(warcOf(http("gzip, chunked", chunked)))
    assert(new String(got2(0).body, utf8) === "<p>hello, world</p>")
    // bare-LF framing (crawl reality) decodes too
    val lfChunked = "B\n<p>hello, w\n6\norld</\n2\np>\n0\n\n"
    val got3 = Warc.parseWarc(warcOf(http("chunked", lfChunked)))
    assert(new String(got3(0).body, utf8) === "<p>hello, world</p>")
    // framing violations: mislabeled plain body, size past end, garbage
    // size line — all keep the RAW bytes (total, never garbled)
    for (bad <- Seq("<p>not actually chunked</p>",
      "FFFF\r\nshort\r\n0\r\n\r\n", "zz\r\nx\r\n0\r\n\r\n", "")) {
      val r = Warc.parseWarc(warcOf(http("chunked", bad)))
      assert(new String(r(0).body, utf8) === bad, s"raw kept for: $bad")
    }
    // a Content-Length body without the header is untouched
    val plain = Warc.parseWarc(warcOf(
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        "5\r\nx").getBytes(utf8)))
    assert(new String(plain(0).body, utf8) === "5\r\nx")
  }

  test("tolerates truncation and garbage: parses the prefix, never throws") {
    val full = fileOf(false)
    val cut = java.util.Arrays.copyOf(full, full.length - 20)
    val recs = Warc.parseWarc(cut) // last record truncated -> dropped
    assert(recs.length === 3)
    assert(Warc.parseWarc(Array[Byte](1, 2, 3)).isEmpty)
    assert(Warc.parseWarc(Array.emptyByteArray).isEmpty)
    assert(Warc.parseWarc(null).isEmpty)
    assert(Warc.parseWarc("HTTP/1.1 200 OK\r\n\r\n".getBytes(utf8)).isEmpty)
    // corrupt gzip: None from the inflater -> no records, no throw
    val gzFull = fileOf(true)
    gzFull(gzFull.length / 2) = 0x55
    Warc.parseWarc(gzFull) // any prefix is fine; must not throw
    // record with a bad Content-Length stops the walk cleanly
    val bad = new String(full, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("Content-Length: ", "Content-Length: nope")
    assert(Warc.parseWarc(bad.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).isEmpty)
  }

  test("accepts bare-LF header lines (crawl reality)") {
    val body = "b".getBytes(utf8)
    val rec = ("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://l/1\n" +
      "Content-Type: application/http;msgtype=response\n" +
      s"Content-Length: ${17 + body.length}\n\n" + // "HTTP/1.1 200 OK\n\n" = 17
      "HTTP/1.1 200 OK\n\n").getBytes(utf8) ++ body
    val recs = Warc.parseWarc(rec)
    assert(recs.length === 1)
    assert(recs.head.target_uri === "https://l/1")
    assert(recs.head.http_status === 200)
    assert(recs.head.body.toSeq === body.toSeq)
  }

  test("warcRecords explodes files map-side through the Spark path") {
    val files = Seq((0L, fileOf(false)), (1L, fileOf(true)))
      .toDF("g", "payload")
    val recs = Warc.warcRecords(files).toDF().cache()
    assert(recs.count() === 8)
    assert(recs.filter($"warc_type" === "response").count() === 6)
    assert(recs.filter($"http_status" === 404).count() === 2)
    // no shuffle: the plan is scan -> deserialize -> flatMap only
    val plan = recs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"parse must not shuffle:\n$plan")
    recs.unpersist()
  }
}
