package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * WARC (ISO 28500) ingestion — the container web-crawl training corpora
 * actually arrive in (Common Crawl ships ~100 TB/month of exactly this).
 * Dependency-free: the format is CRLF header lines + a counted payload,
 * and the standard "one gzip member per record" packaging streams through
 * the JDK's GZIPInputStream (which concatenates members transparently).
 *
 * The production path is [[warcRecords]]: a binary column holding WARC
 * file (or chunk) bytes explodes into typed records — WARC headers
 * parsed, HTTP response payloads split into status/headers/body — inside
 * one `mapPartitions` pass (the [[graft.multimodal.Multimodal]] decoder
 * batching shape). Corrupt or truncated files yield the records parsed
 * so far and never fail the task.
 *
 * Scale notes: a WARC file is one row here, so parallelism = file count —
 * the shape crawl dumps already have (CC segments are ~1 GB gzip * ~64k
 * files/crawl). Per-record gzip members mean a SPLIT file is still
 * parseable from any member boundary; a production reader adds a custom
 * FileFormat that seeks member boundaries inside large files, which drops
 * into the same record parser. Nothing here shuffles: parse is map-side,
 * and downstream dedup/filtering receives (url, body) rows directly.
 */
object Warc {

  /** One parsed WARC record: the standard headers, plus the HTTP layer
    * (status/content-type/body, the `Location` header — the 3xx
    * redirect target the crawl loop must follow — the
    * `X-Robots-Tag` header (r14): the HTTP-level twin of
    * `<meta name=robots>`, how sites mark non-HTML resources and how
    * CDNs mark whole paths noindex/nofollow — and the `Retry-After`
    * header (r15): how a throttling host says WHEN it may be hit
    * again; a fetcher honoring crawl-delay but not Retry-After still
    * hammers a 429/503 host, so it must survive the split into
    * [[graft.pipeline.Crawl.retryAfterDelays]]) when the record is an
    * HTTP response — -1/null/empty otherwise. `http_etag` and
    * `http_last_modified` (r15) carry the RFC 9110 §8.8 cache
    * validators VERBATIM (a strong or weak `ETag` including its
    * quotes, an HTTP-date `Last-Modified`): a refresh fetcher sends
    * them back as `If-None-Match`/`If-Modified-Since` so an unchanged
    * page costs a bodiless 304 instead of a full transfer — at
    * recrawl scale that is most of the bandwidth. They must survive
    * the split byte-exact because `If-None-Match` comparison is
    * OPAQUE per the RFC (normalizing the quotes or case breaks
    * revalidation against the origin). */
  final case class WarcRecord(warc_type: String, target_uri: String,
                              warc_date: String, record_id: String,
                              http_status: Int, http_content_type: String,
                              body: Array[Byte], http_location: String,
                              http_x_robots: String,
                              http_retry_after: String,
                              http_etag: String,
                              http_last_modified: String)

  private val Crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // ------------------------------------------------------------------
  // Encoder (fixtures, specs, round-trip tooling)
  // ------------------------------------------------------------------

  /** Serialize one record: version line, headers, Content-Length, blank
    * line, payload, blank separator. */
  private def encodeRecord(out: java.io.OutputStream, warcType: String,
                           uri: String, date: String, recordId: String,
                           contentType: String,
                           payload: Array[Byte]): Unit = {
    val sb = new StringBuilder()
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    if (uri != null) sb.append(s"WARC-Target-URI: $uri\r\n")
    sb.append(s"WARC-Date: $date\r\n")
    sb.append(s"WARC-Record-ID: <$recordId>\r\n")
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${payload.length}\r\n")
    sb.append("\r\n")
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(payload)
    out.write(Crlf)
    out.write(Crlf)
  }

  /** Build an HTTP response payload (status line + headers + body).
    * `location`, when set, emits the `Location:` header — the 3xx
    * redirect fixture shape; `xRobots` emits `X-Robots-Tag:` (the
    * header-politeness fixture shape, r14); `retryAfter` emits
    * `Retry-After:` (the throttling-politeness fixture shape, r15). */
  def httpResponsePayload(status: Int, reason: String, contentType: String,
                          body: Array[Byte],
                          location: String = null,
                          xRobots: String = null,
                          retryAfter: String = null,
                          etag: String = null,
                          lastModified: String = null): Array[Byte] = {
    val head = s"HTTP/1.1 $status $reason\r\n" +
      (if (contentType == null) "" // unlabeled responses are crawl reality
       else s"Content-Type: $contentType\r\n") +
      (if (location == null) "" else s"Location: $location\r\n") +
      (if (xRobots == null) "" else s"X-Robots-Tag: $xRobots\r\n") +
      (if (retryAfter == null) "" else s"Retry-After: $retryAfter\r\n") +
      (if (etag == null) "" else s"ETag: $etag\r\n") +
      (if (lastModified == null) "" else s"Last-Modified: $lastModified\r\n") +
      s"Content-Length: ${body.length}\r\n\r\n"
    val hb = head.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](hb.length + body.length)
    System.arraycopy(hb, 0, out, 0, hb.length)
    System.arraycopy(body, 0, out, hb.length, body.length)
    out
  }

  /** One fixture record for [[encodeWarcFixtures]] — the named-field
    * form that ended the positional-tuple treadmill (r15): every
    * header the HTTP split surfaces is a defaulted field, and
    * `warcType` admits the NON-response record kinds a real crawl
    * dump carries (`revisit` — the ISO 28500 §6.7.2 "fetched again,
    * content unchanged" record Common Crawl writes for deduplicated
    * recaptures; its payload is the revisit's HTTP header block with
    * no body). */
  final case class ResponseFixture(uri: String, status: Int,
                                   contentType: String = null,
                                   location: String = null,
                                   xRobots: String = null,
                                   retryAfter: String = null,
                                   etag: String = null,
                                   lastModified: String = null,
                                   body: Array[Byte] = Array.emptyByteArray,
                                   warcType: String = "response")

  /** Encode a complete WARC file: a `warcinfo` record followed by one
    * record per [[ResponseFixture]]. `gzipPerRecord` wraps EACH record in
    * its own gzip member — the Common Crawl packaging the decoder must
    * stream through. */
  def encodeWarcFixtures(records: Seq[ResponseFixture],
                         date: String = "2026-01-01T00:00:00Z",
                         gzipPerRecord: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def member(write: java.io.OutputStream => Unit): Unit =
      if (!gzipPerRecord) write(out)
      else {
        val gz = new java.util.zip.GZIPOutputStream(out)
        write(gz)
        gz.finish()
      }
    member(o => encodeRecord(o, "warcinfo", null, date,
      "urn:uuid:00000000-0000-0000-0000-000000000000",
      "application/warc-fields",
      "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    records.foreach { r =>
      val reason = r.status match {
        case 200 => "OK"
        case 301 => "Moved Permanently"
        case 302 => "Found"
        case 303 => "See Other"
        case 304 => "Not Modified"
        case 307 => "Temporary Redirect"
        case 308 => "Permanent Redirect"
        case 429 => "Too Many Requests"
        case 503 => "Service Unavailable"
        case _ => "Not Found"
      }
      member(o => encodeRecord(o, r.warcType, r.uri, date,
        s"urn:uuid:${r.uri.hashCode}", "application/http;msgtype=response",
        httpResponsePayload(r.status, reason, r.contentType, r.body,
          r.location, r.xRobots, r.retryAfter, r.etag, r.lastModified)))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  /** Decompress a whole payload by magic sniff: gzip (concatenated
    * members — the per-record packaging — stream through one
    * GZIPInputStream) or zstd (multi-frame via the zstd-jni already on
    * Spark's classpath — Spark ships it for shuffle/parquet codecs, so
    * this adds no dependency); anything else passes through untouched.
    * None on corrupt compressed input. */
  private[graft] def gunzipAll(bytes: Array[Byte]): Option[Array[Byte]] = {
    val isGzip = bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F &&
      (bytes(1) & 0xFF) == 0x8B
    val isZstd = bytes.length >= 4 && (bytes(0) & 0xFF) == 0x28 &&
      (bytes(1) & 0xFF) == 0xB5 && (bytes(2) & 0xFF) == 0x2F &&
      (bytes(3) & 0xFF) == 0xFD
    if (!isGzip && !isZstd) return Some(bytes)
    try {
      val in: java.io.InputStream =
        if (isGzip) new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes), 65536)
        else {
          val z = new com.github.luben.zstd.ZstdInputStream(
            new java.io.ByteArrayInputStream(bytes))
          z.setContinuous(true) // read across concatenated frames
          z
        }
      // close on EVERY exit path (bomb guard included): the gzip/zstd
      // streams hold NATIVE Inflater/ZSTD contexts that otherwise wait
      // for finalization — a WARC full of bombs would accumulate native
      // memory inside the task with no GC pressure to trigger cleanup
      try {
        val out = new java.io.ByteArrayOutputStream(
          math.min(math.max(bytes.length, 16) * 4L, 1L << 20).toInt)
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          // decompression-bomb guard: past ~1.9 GB the backing array can no
          // longer double (JVM array cap) and the next grow throws OOM
          // inside the task — treat such a payload as corrupt instead
          if (out.size() > 1900000000) return None
          n = in.read(buf)
        }
        Some(out.toByteArray)
      } finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Find the end of the header block (first blank line); returns the
    * offset just past it, or -1. Accepts CRLF and bare-LF line ends (both
    * occur in the wild). */
  private def headerEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) {
      if (b(i) == '\n') {
        // blank line = \n immediately followed by \r?\n
        if (i + 1 < b.length && b(i + 1) == '\n') return i + 2
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') return i + 3
      }
      i += 1
    }
    -1
  }

  /** Parse `name: value` header lines (case-insensitive names) from a
    * header block. Malformed lines are skipped, not fatal. */
  private def parseHeaders(b: Array[Byte], from: Int,
                           until: Int): Map[String, String] = {
    val text = new String(b, from, until - from,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    text.split("\n").iterator
      .map(_.stripSuffix("\r"))
      .filter(_.contains(":"))
      .map { line =>
        val i = line.indexOf(':')
        line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim
      }
      .toMap
  }

  /** Parse all records of one (possibly gzipped) WARC file. Tolerant:
    * returns the records parsed before the first malformed/truncated
    * region; never throws on crawl garbage. */
  def parseWarc(fileBytes: Array[Byte]): Seq[WarcRecord] = {
    if (fileBytes == null) return Seq.empty
    val bytes = gunzipAll(fileBytes).getOrElse(return Seq.empty)
    val out = Seq.newBuilder[WarcRecord]
    var pos = 0
    var ok = true
    while (ok && pos < bytes.length) {
      // skip inter-record blank lines
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n'))
        pos += 1
      if (pos >= bytes.length) ok = false
      else {
        // version line must open the record
        val he = headerEnd(bytes, pos)
        if (he < 0) ok = false
        else {
          val firstLineEnd = bytes.indexOf('\n'.toByte, pos) match {
            case -1 => -1
            case i => i
          }
          val version = new String(bytes, pos, firstLineEnd - pos,
            java.nio.charset.StandardCharsets.ISO_8859_1).trim
          if (!version.startsWith("WARC/")) ok = false
          else {
            val hdrs = parseHeaders(bytes, firstLineEnd + 1, he)
            hdrs.get("content-length").flatMap(s =>
              scala.util.Try(s.toLong).toOption) match {
              case Some(len) if len >= 0 && he + len <= bytes.length =>
                val payload =
                  java.util.Arrays.copyOfRange(bytes, he, he + (len.toInt))
                out += toRecord(hdrs, payload)
                pos = he + len.toInt
              case _ => ok = false // missing/bad length or truncated payload
            }
          }
        }
      }
    }
    out.result()
  }

  /** RFC 7230 §4.1 chunked transfer decoding: `hex-size[;ext]\r\n data
    * \r\n` frames until a zero-size frame (trailers ignored). Common
    * Crawl ships de-chunked WARCs, but raw-proxy self-recordings carry
    * the wire framing — without this, chunk-size lines are embedded in
    * every extracted text. Returns None on ANY framing violation
    * (non-hex size, size past end-of-payload, missing frame LF) — the
    * caller keeps the raw bytes; a total parse must never turn a
    * mislabeled body into garbage. Bare-LF line ends tolerated (the
    * header-parse convention). */
  private[sources] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val n = b.length
    val out = new java.io.ByteArrayOutputStream(math.min(n, 1 << 20))
    var i = 0
    while (true) {
      var le = i
      while (le < n && b(le) != '\n') le += 1
      if (le >= n) return None // no size line terminator
      var size = 0L
      var k = i
      var any = false
      var stop = false
      while (!stop && k < le) {
        val c = (b(k) & 0xFF).toChar
        val h =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (h >= 0) {
          size = size * 16 + h
          if (size > Int.MaxValue.toLong) return None
          any = true
          k += 1
        } else if (c == ';' || c == '\r') stop = true // extensions/EOL
        else return None // garbage in the size line
      }
      if (!any) return None
      i = le + 1
      if (size == 0L) return Some(out.toByteArray) // trailers ignored
      if (i + size > n) return None
      out.write(b, i, size.toInt)
      i += size.toInt
      if (i < n && b(i) == '\r') i += 1
      if (i >= n || b(i) != '\n') return None // missing frame terminator
      i += 1
    }
    None // unreachable
  }

  /** Lift one raw record into [[WarcRecord]], splitting the HTTP layer
    * out of response payloads. */
  private def toRecord(hdrs: Map[String, String],
                       payload: Array[Byte]): WarcRecord = {
    val wtype = hdrs.getOrElse("warc-type", "")
    val isHttp = hdrs.getOrElse("content-type", "")
      .toLowerCase.startsWith("application/http")
    var status = -1
    var httpCt: String = null
    var httpLoc: String = null
    var httpXRobots: String = null
    var httpRetryAfter: String = null
    var httpEtag: String = null
    var httpLastModified: String = null
    var body = payload
    if (isHttp) {
      val he = headerEnd(payload, 0)
      val statusLineEnd = payload.indexOf('\n'.toByte)
      if (he > 0 && statusLineEnd > 0) {
        val statusLine = new String(payload, 0, statusLineEnd,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim
        val parts = statusLine.split(" ")
        if (parts.length >= 2 && parts(0).startsWith("HTTP/"))
          status = scala.util.Try(parts(1).toInt).getOrElse(-1)
        val hh = parseHeaders(payload, statusLineEnd + 1, he)
        httpCt = hh.getOrElse("content-type", null)
        httpLoc = hh.getOrElse("location", null)
        httpXRobots = hh.getOrElse("x-robots-tag", null)
        httpRetryAfter = hh.getOrElse("retry-after", null)
        httpEtag = hh.getOrElse("etag", null)
        httpLastModified = hh.getOrElse("last-modified", null)
        body = java.util.Arrays.copyOfRange(payload, he, payload.length)
        // de-chunk when the wire framing is present (r14): chunked is
        // the FINAL transfer coding by RFC 7230 §3.3.1, so a token-list
        // value ("gzip, chunked") still means the outer framing is
        // chunked frames. Framing violations keep the raw bytes.
        val te = hh.getOrElse("transfer-encoding", "")
        if (te.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
          body = dechunk(body).getOrElse(body)
      }
    }
    WarcRecord(wtype, hdrs.getOrElse("warc-target-uri", null),
      hdrs.getOrElse("warc-date", null),
      hdrs.getOrElse("warc-record-id", null), status, httpCt, body, httpLoc,
      httpXRobots, httpRetryAfter, httpEtag, httpLastModified)
  }

  /**
   * The Spark operator: explode a binary column of WARC file bytes into
   * typed records — one `mapPartitions`-shaped `flatMap`, no shuffle;
   * downstream filters/dedup receive (uri, body) rows directly.
   */
  def warcRecords(files: DataFrame, payloadCol: String = "payload"): Dataset[WarcRecord] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(payloadCol)).as[Array[Byte]]
      .flatMap(bytes => parseWarc(bytes))
  }

  /**
   * The WRITE side — export a corpus back into crawl-standard form: each
   * input partition becomes one (or more) `part-<partition>-<n>.warc.gz`
   * shard of per-record-gzip response records, written FROM THE
   * EXECUTORS into `dir` (a shared filesystem path — exactly how shard
   * writers run on a cluster; no driver collect, no shuffle). Shards
   * roll at `recordsPerShard`, so output sizes stay bounded regardless
   * of partition skew. The per-record-member packaging means the output
   * is immediately splittable by this package's own `format("warc")`
   * source — write/read symmetry. Returns nothing; list the directory
   * for the shard files.
   */
  def writeShards(docs: DataFrame, dir: String, uriCol: String = "url",
                  bodyCol: String = "body",
                  recordsPerShard: Int = 10000,
                  date: String = "2026-01-01T00:00:00Z"): Unit = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    val confEntries = hadoopConfEntries(docs)
    docs.select(col(uriCol).cast("string"), col(bodyCol).cast("binary"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(rebuildConf(confEntries))
        var shard = 0
        rows.grouped(recordsPerShard).foreach { chunk =>
          val batch = chunk.map { r =>
            ResponseFixture(r.getString(0), 200,
              contentType = "text/plain; charset=utf-8",
              body = Option(r.getAs[Array[Byte]](1))
                .getOrElse(Array.emptyByteArray))
          }
          val out = fs.create(new org.apache.hadoop.fs.Path(dir,
            f"part-$pid%05d-$shard%04d.warc.gz"), true)
          try out.write(encodeWarcFixtures(batch, date, gzipPerRecord = true))
          finally out.close()
          shard += 1
        }
      }
  }

  /** The session's Hadoop configuration as serializable entries (late
    * r15): executor-side shard writers previously built a DEFAULT
    * `Configuration()`, which drops the session's filesystem settings
    * — object-store credentials, endpoints, HDFS nameservices — so
    * shard export to anything but the local FS/defaults failed.
    * Hadoop's `Configuration` is not serializable; the entry map is
    * (a few hundred strings), and [[rebuildConf]] replays it once per
    * partition. */
  private[sources] def hadoopConfEntries(df: DataFrame): Map[String, String] = {
    val c = df.sparkSession.sparkContext.hadoopConfiguration
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue
    }
    b.result()
  }

  private[sources] def rebuildConf(entries: Map[String, String])
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Encode EXTRACTED-TEXT records as WARC `conversion` records — the
    * WET form (ISO 28500 §6.8; what Common Crawl distributes extracted
    * text as): no HTTP layer, `Content-Type: text/plain`, payload =
    * the UTF-8 text verbatim. Readable back by [[parseWarc]] /
    * `format("warc")` (a non-`application/http` record's body IS its
    * payload — round-trip lossless). */
  def encodeWet(records: Seq[(String, Array[Byte])],
                date: String = "2026-01-01T00:00:00Z",
                gzipPerRecord: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def member(write: java.io.OutputStream => Unit): Unit =
      if (!gzipPerRecord) write(out)
      else {
        val gz = new java.util.zip.GZIPOutputStream(out)
        write(gz)
        gz.finish()
      }
    member(o => encodeRecord(o, "warcinfo", null, date,
      "urn:uuid:00000000-0000-0000-0000-000000000000",
      "application/warc-fields",
      "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    records.foreach { case (uri, text) =>
      member(o => encodeRecord(o, "conversion", uri, date,
        s"urn:uuid:${uri.hashCode}", "text/plain; charset=utf-8", text))
    }
    out.toByteArray
  }

  /** [[writeShards]] for EXTRACTED TEXT (late r15): the corpus exported
    * as WET-style `conversion` shards — per-record-gzip, rolled at
    * `recordsPerShard`, written FROM THE EXECUTORS (no driver collect,
    * no shuffle), immediately re-readable/splittable by this package's
    * own `format("warc")` source. The standard interchange form for a
    * text corpus derived from a crawl. Writer parallelism = input
    * partitions (the [[writeShards]] contract): `repartition` a
    * narrow-partitioned corpus first, or the per-record gzip
    * serializes on however few partitions the scan produced. */
  def writeWetShards(docs: DataFrame, dir: String, uriCol: String = "url",
                     textCol: String = "text",
                     recordsPerShard: Int = 10000,
                     date: String = "2026-01-01T00:00:00Z"): Unit = {
    require(recordsPerShard > 0, "recordsPerShard must be positive")
    val confEntries = hadoopConfEntries(docs)
    docs.select(col(uriCol).cast("string"), col(textCol).cast("string"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(rebuildConf(confEntries))
        var shard = 0
        rows.grouped(recordsPerShard).foreach { chunk =>
          val batch = chunk.map { r =>
            (r.getString(0), Option(r.getString(1)).getOrElse("")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val out = fs.create(new org.apache.hadoop.fs.Path(dir,
            f"part-$pid%05d-$shard%04d.warc.wet.gz"), true)
          try out.write(encodeWet(batch, date, gzipPerRecord = true))
          finally out.close()
          shard += 1
        }
      }
  }
}
