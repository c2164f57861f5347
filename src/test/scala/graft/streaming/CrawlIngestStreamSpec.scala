package graft.streaming

import graft.SparkTestBase
import graft.dedup.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The crawl-to-corpus composition: WARC bytes → records → HTML text →
  * minhash prune vs the persisted corpus → replay-idempotent fold-in.
  * URLs are the ids end-to-end (string-keyed minhash index). */
class CrawlIngestStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def warcOf(recs: (String, Int, String)*): Array[Byte] =
    graft.sources.Warc.encodeWarcFixtures(
      recs.map { case (u, st, html) =>
        graft.sources.Warc.ResponseFixture(u, st,
          contentType = "text/plain; charset=utf-8",
          body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }, gzipPerRecord = true)

  test("stream: parse -> extract -> dedup vs corpus and earlier batches -> fold in") {
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("crawl-idx")
      .resolve("idx").toString
    Dedup.minhashIndexBuild(Seq(
      ("https://c/1", "the quick brown fox jumps over the lazy dog tonight"),
      ("https://c/2", "completely different content about spark engines and parquet files")
    ).toDF("url", "text"), "text", "url", idx,
      shingleK = 3, numHashes = 64, bands = 32)

    val emitted = scala.collection.mutable.Map.empty[Long, Set[String]]
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5) { (fresh, b) =>
      emitted.synchronized {
        emitted(b) = fresh.select("url").as[String].collect().toSet
      }
    }.start()

    // batch 0: a near-dup of the stored corpus (drops), a novel doc
    // (survives), a 404 (filtered before extraction)
    input.addData((0L, warcOf(
      ("https://b0/dup", 200,
        "<p>the quick brown fox jumps over the lazy dog today</p>"),
      ("https://b0/new", 200,
        "<h1>Title</h1><p>a totally new take on distributed columnar indexes</p>"),
      ("https://b0/gone", 404,
        "<p>the page you want is gone gone gone away</p>"))))
    q.processAllAvailable()
    // batch 1: a near-dup of batch 0's SURVIVOR (drops — the fold-in is
    // visible), plus one more novel doc
    input.addData((1L, warcOf(
      ("https://b1/dup", 200,
        "<p>a totally new take on distributed columnar indexes again</p>"),
      ("https://b1/new", 200,
        "<p>unrelated text about watermarks and session windows</p>"))))
    q.processAllAvailable()
    q.stop()

    assert(emitted(0L) === Set("https://b0/new"), s"batch 0: ${emitted(0L)}")
    assert(emitted(1L) === Set("https://b1/new"), s"batch 1: ${emitted(1L)}")
    val stored = spark.read.parquet(s"$idx/sets")
      .select("id").as[String].collect().toSet
    assert(stored === Set("https://c/1", "https://c/2",
      "https://b0/new", "https://b1/new"))

    // replay idempotence at a fixed installment: the as-of probe excludes
    // the batch's own landed partition, so a retry cannot self-match and
    // the overwrite reproduces the installment byte-for-byte
    val inst = EventStreams.StreamInstallmentBase + 77
    val b = Seq(("https://r/x",
      "some replay resilient document about installment numbering"))
      .toDF("url", "text")
    def attempt(): Set[String] = {
      val dup = Dedup.minhashIndexProbe(spark, idx, b, "text", "url", 0.5,
        asOfInstallment = inst - 1)
      val dupIds = dup.select("new_id").as[String].collect().toSet
      Dedup.release(dup)
      assert(dupIds.isEmpty, "the as-of probe must not see installment " +
        s"$inst (got $dupIds)")
      Dedup.minhashIndexAppendAt(spark, idx, b, inst, "text", "url")
      spark.read.parquet(s"$idx/sets/installment=$inst")
        .select("id").as[String].collect().toSet
    }
    val first = attempt()
    assert(first === Set("https://r/x"))
    assert(attempt() === first, "replay must overwrite, not duplicate")
    // sanity of the guard: an UNpinned probe of the same text under a
    // new url DOES match the landed copy (the as-of pin was load-bearing)
    val twin = Seq(("https://r/y",
      "some replay resilient document about installment numbering"))
      .toDF("url", "text")
    val self = Dedup.minhashIndexProbe(spark, idx, twin, "text", "url", 0.5)
    assert(self.count() > 0, "unpinned probe should see the landed copy")
    Dedup.release(self)
  }

  test("stream lands a per-batch frontier: outlinks minus batch + stored urls") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-frontier-stream")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    // the crash shape (r15): next/ exists with an EMPTY partition dir
    // (mkdir committed, first parquet never landed) — the stream's
    // committed-data probe must treat it like absence, not wedge on
    // schema inference
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$fDir/next/batch=0"))
    Dedup.minhashIndexBuild(Seq(
      ("https://c/1", "the stored corpus document about foxes and dogs here")
    ).toDF("url", "text"), "text", "url", idx,
      shingleK = 3, numHashes = 64, bands = 32)

    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir)().start()

    // page links: one stored url (dropped), one batch-internal url
    // (dropped), one genuinely new target + a relative (RESOLVED against
    // its page since r13); b0/pruned is a near-dup of the stored corpus
    // — fetched but NOT appended, the fetched-ledger case
    input.addData((0L, warcOf(
      ("https://b0/a", 200,
        """<p>first page body words</p><a href="https://c/1">stored</a>
          |<a href="https://b0/b">sibling</a>
          |<a href="https://next/1#f">fresh</a><a href="/rel">r</a>""".stripMargin),
      ("https://b0/b", 200,
        """<p>second page body other words</p>
          |<a href="https://next/1">fresh again</a>""".stripMargin),
      ("https://b0/pruned", 200,
        "<p>the stored corpus document about foxes and dogs here</p>"))))
    q.processAllAvailable()
    val f0 = spark.read.parquet(s"$fDir/next/batch=0")
      .as[(String, Long)].collect().toSet
    assert(f0 === Set(("https://next/1", 2L), ("https://b0/rel", 1L)),
      s"frontier batch 0: $f0")

    // batch 1 links back to an APPENDED batch-0 url (excluded via the
    // corpus) AND to the PRUNED batch-0 url — which never entered the
    // index, so only the fetched ledger can keep it from re-entering
    // the frontier (the refetch-forever hole)
    input.addData((1L, warcOf(
      ("https://b1/a", 200,
        """<p>third page distinct body tokens entirely</p>
          |<a href="https://b0/a">older</a>
          |<a href="https://b0/pruned">mirror</a>
          |<a href="https://next/2">newer</a>""".stripMargin))))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$idx/sets").select("id").as[String]
      .collect().toSet.contains("https://b0/pruned") === false,
      "precondition: the pruned page must not be in the index")
    val f1 = spark.read.parquet(s"$fDir/next/batch=1")
      .as[(String, Long)].collect().toSet
    assert(f1 === Set(("https://next/2", 1L)), s"frontier batch 1: $f1")
    // the ledger holds every FETCHED url, pruned included
    val fetched = spark.read.parquet(s"$fDir/fetched")
      .select("url").as[String].collect().toSet
    assert(fetched === Set("https://b0/a", "https://b0/b",
      "https://b0/pruned", "https://b1/a"))
    // every text page lands its change observation (r15): one md5 +
    // one accumulator pair per row, ready for recrawlChurn
    val obs = spark.read.parquet(s"$fDir/fetched")
      .select("url", "content_md5", "n_obs", "n_changes")
      .as[(String, String, Long, Long)].collect()
    assert(obs.length === 4 && obs.forall { case (_, h, o, c) =>
      h != null && o === 1L && c === 0L }, s"ledger observations: ${obs.toSeq}")
    val churn = graft.pipeline.Crawl.recrawlChurn(spark, fDir)
      .select("url", "n_obs", "n_changes")
      .as[(String, Long, Long)].collect().toSet
    assert(churn === fetched.map(u => (u, 1L, 0L)))
  }

  test("permanent-4xx pages enter the fetched ledger; transient ones do not") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-dead")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir)().start()
    input.addData((0L, warcOf(
      ("https://s/ok", 200,
        "<p>a live page body with words</p><a href=\"https://s/dead\">d</a>"),
      ("https://s/dead", 404, "<p>gone</p>"),
      ("https://s/busy", 429, "<p>rate limited</p>"),
      ("https://s/err", 500, "<p>server error</p>"))))
    q.processAllAvailable()
    // batch 1: links to the dead page (ledger-gated), the busy page
    // (NOT gated — transient, must stay fetchable) and a fresh one
    input.addData((1L, warcOf(
      ("https://s/next", 200,
        """<p>second page other words entirely</p>
          |<a href="https://s/dead">dead again</a>
          |<a href="https://s/busy">retry me</a>
          |<a href="https://s/new">fresh</a>""".stripMargin))))
    q.processAllAvailable()
    q.stop()
    val fetched = spark.read.parquet(s"$fDir/fetched")
      .select("url").as[String].collect().toSet
    assert(fetched === Set("https://s/ok", "https://s/dead",
      "https://s/next"), s"ledger: $fetched") // 429/500 stay retryable
    val f0 = spark.read.parquet(s"$fDir/next/batch=0")
      .as[(String, Long)].collect().toSet
    assert(f0 === Set.empty, s"batch-0 frontier: $f0") // only link is dead->fetched
    val f1 = spark.read.parquet(s"$fDir/next/batch=1")
      .as[(String, Long)].collect().toSet
    assert(f1 === Set(("https://s/busy", 1L), ("https://s/new", 1L)),
      s"batch-1 frontier: $f1")
  }

  test("304s and revisit records land n_obs=1 null-hash ledger rows (r15)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-revisit")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir)().start()
    input.addData((0L, warcOf(
      ("https://s/a", 200, "<p>first body words here</p>"),
      ("https://s/b", 200, "<p>second body other tokens</p>"))))
    q.processAllAvailable()
    // batch 1: a is revalidated (304), b arrives as a WARC revisit
    input.addData((1L, graft.sources.Warc.encodeWarcFixtures(Seq(
      graft.sources.Warc.ResponseFixture("https://s/a", 304),
      graft.sources.Warc.ResponseFixture("https://s/b", 200,
        contentType = "text/html", warcType = "revisit"),
      graft.sources.Warc.ResponseFixture("https://s/c", 200,
        contentType = "text/html",
        body = "<p>third body fresh material</p>".getBytes("UTF-8"))))))
    q.processAllAvailable()
    q.stop()
    val b1 = spark.read.parquet(s"$fDir/fetched/batch=1")
      .select("url", "content_md5", "n_obs")
      .as[(String, Option[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // both recapture forms: observation counted, no hash
    assert(b1("https://s/a") === ((None, 1L)))
    assert(b1("https://s/b") === ((None, 1L)))
    assert(b1("https://s/c")._1.isDefined && b1("https://s/c")._2 === 1L)
    // churn over the stream's own ledger: 2 observations each, 0 changes
    val churn = graft.pipeline.Crawl.recrawlChurn(spark, fDir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(churn("https://s/a") === ((1L, 2L, 0L)))
    assert(churn("https://s/b") === ((1L, 2L, 0L)))
    assert(churn("https://s/c") === ((1L, 1L, 0L)))
  }

  test("landRobots: the crawl self-feeds its robots cache; deletions supersede (r15)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-selfrobots")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir, landRobots = true)().start()
    def warcFx(recs: graft.sources.Warc.ResponseFixture*): Array[Byte] =
      graft.sources.Warc.encodeWarcFixtures(recs)
    def page(url: String, text: String, links: String*): graft.sources.Warc.ResponseFixture =
      graft.sources.Warc.ResponseFixture(url, 200,
        contentType = "text/html",
        body = (s"<p>$text</p>" + links.map(l =>
          s"""<a href="$l">l</a>""").mkString).getBytes("UTF-8"))
    // batch 0: the site's robots disallows /no — the SAME batch's
    // frontier must already honor it
    input.addData((0L, warcFx(
      graft.sources.Warc.ResponseFixture("https://s.test/robots.txt", 200,
        contentType = "text/plain",
        body = "User-agent: *\nDisallow: /no".getBytes("UTF-8")),
      page("https://s.test/a", "first page body words",
        "https://s.test/no/1", "https://s.test/ok/1"))))
    q.processAllAvailable()
    val f0 = spark.read.parquet(s"$fDir/next/batch=0")
      .select("url").as[String].collect().toSet
    assert(f0 === Set("https://s.test/ok/1"), s"batch-0 frontier: $f0")
    // batch 1: the site DELETED its robots.txt (404) — the allow
    // sentinel supersedes the stale disallow for the new frontier
    input.addData((1L, warcFx(
      graft.sources.Warc.ResponseFixture("https://s.test/robots.txt", 404,
        contentType = "text/plain"),
      page("https://s.test/b", "second page other tokens",
        "https://s.test/no/2"))))
    q.processAllAvailable()
    q.stop()
    val f1 = spark.read.parquet(s"$fDir/next/batch=1")
      .select("url").as[String].collect().toSet
    assert(f1 === Set("https://s.test/no/2"),
      s"deleted robots must stop gating: $f1")
    // the ledger itself: batch 0 rules, batch 1 sentinel
    val led = spark.read.parquet(s"$fDir/robots")
      .as[(String, String, Boolean, String, Long)].collect().toSet
    assert(led === Set(("s.test", "*", false, "/no", 0L),
      ("s.test", "*", true, "", 1L)), s"ledger: $led")
  }

  test("landHostEdges lands the per-batch host graph; compact folds it (r15)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-edges")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir, landHostEdges = true)().start()
    input.addData((0L, warcOf(
      ("https://a.test/1", 200,
        """<p>first page body words</p>
          |<a href="https://b.test/x">b</a>
          |<a href="https://b.test/y">b2</a>
          |<a href="/local">self</a>""".stripMargin))))
    q.processAllAvailable()
    input.addData((1L, warcOf(
      ("https://a.test/2", 200,
        """<p>second page other tokens</p>
          |<a href="https://b.test/z">b3</a>""".stripMargin))))
    q.processAllAvailable()
    q.stop()
    def ledger(): Set[(String, String, Long)] =
      graft.pipeline.Crawl.hostEdgesLedger(spark, fDir)
        .as[(String, String, Long)].collect().toSet
    assert(ledger() === Set(("a.test", "b.test", 3L),
      ("a.test", "a.test", 1L)))
    val b0 = spark.read.parquet(s"$fDir/edges/batch=0")
      .as[(String, String, Long)].collect().toSet
    assert(b0 === Set(("a.test", "b.test", 2L), ("a.test", "a.test", 1L)))
    // compaction folds to one partition at the max batch; the
    // accumulated graph is unchanged
    assert(graft.pipeline.Crawl.compactEdges(spark, fDir) === 1L)
    assert(ledger() === Set(("a.test", "b.test", 3L),
      ("a.test", "a.test", 1L)))
    assert(new java.io.File(s"$fDir/edges").listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
    // absent ledger: empty frame, never a crash
    assert(graft.pipeline.Crawl.hostEdgesLedger(spark,
      base.resolve("nowhere").toString).count() === 0L)
  }

  test("a url emitted at batch N and linked again at batch N+k does not re-emit") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-next-gate")
    base.toFile.deleteOnExit()
    // same crawl through the exact path and the bloom-routed path: a
    // popular not-yet-fetched url discovered in batch 0 AND batch 1
    // must emit exactly once, or a fetcher consuming next/ across
    // batches double-fetches it
    def run(bloom: Boolean, tag: String): (Set[(String, Long)], Set[(String, Long)]) = {
      val idx = base.resolve(s"idx-$tag").toString
      val fDir = base.resolve(s"frontier-$tag").toString
      val bp = base.resolve(s"bloom-$tag.bin").toString
      val input = MemoryStream[(Long, Array[Byte])]
      val q = EventStreams.crawlIngestStream(spark,
        input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
        frontierDir = fDir, bloomPath = if (bloom) bp else null)().start()
      input.addData((0L, warcOf(
        ("https://s/1", 200,
          """<p>first page body words</p>
            |<a href="https://popular/1">p</a>""".stripMargin))))
      q.processAllAvailable()
      if (bloom) // maintenance: the bloom folds fetched AND emitted
        graft.pipeline.Crawl.buildFetchedBloom(spark, fDir, idx,
          1000L, 0.01, bp)
      input.addData((1L, warcOf(
        ("https://s/2", 200,
          """<p>second page other body tokens</p>
            |<a href="https://popular/1">p again</a>
            |<a href="https://fresh/1">f</a>""".stripMargin))))
      q.processAllAvailable()
      q.stop()
      (spark.read.parquet(s"$fDir/next/batch=0")
        .as[(String, Long)].collect().toSet,
        spark.read.parquet(s"$fDir/next/batch=1")
          .as[(String, Long)].collect().toSet)
    }
    val (e0, e1) = run(bloom = false, "exact")
    assert(e0 === Set(("https://popular/1", 1L)), s"batch 0: $e0")
    assert(e1 === Set(("https://fresh/1", 1L)),
      s"batch 1 must not re-emit the emitted-but-unfetched url: $e1")
    val (b0, b1) = run(bloom = true, "bloom")
    assert(b0 === e0 && b1 === e1,
      s"bloom-routed emitted gate diverged: $b0 / $b1")
  }

  test("a 3xx without a Location header is ledger-gated like a dead page") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-3xx-noloc")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    def warcResp(recs: (String, Int, String, String)*): Array[Byte] =
      graft.sources.Warc.encodeWarcFixtures(
        recs.map { case (u, st, loc, html) =>
          graft.sources.Warc.ResponseFixture(u, st, contentType = "text/html",
            location = loc,
            body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }, gzipPerRecord = true)
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir)().start()
    input.addData((0L, warcResp(
      ("https://s/ok", 200,
        null, "<p>live page body</p><a href=\"https://s/broken\">b</a>"),
      ("https://s/broken", 301, null, ""), // Location-less redirect
      ("https://s/moved", 301, "https://t/new", ""))))
    q.processAllAvailable()
    // batch 1 links the broken redirect again: the ledger must gate it
    input.addData((1L, warcResp(
      ("https://s/next", 200, null,
        """<p>second page entirely other words</p>
          |<a href="https://s/broken">still broken</a>
          |<a href="https://s/new">fresh</a>""".stripMargin))))
    q.processAllAvailable()
    q.stop()
    val fetched = spark.read.parquet(s"$fDir/fetched")
      .select("url").as[String].collect().toSet
    assert(fetched === Set("https://s/ok", "https://s/broken",
      "https://s/moved", "https://s/next"),
      s"locationless 3xx must enter the ledger: $fetched")
    val f1 = spark.read.parquet(s"$fDir/next/batch=1")
      .as[(String, Long)].collect().toSet
    assert(f1 === Set(("https://s/new", 1L)),
      s"batch 1 must not re-emit the ledger-gated broken redirect: $f1")
  }

  test("bootstrap batch is replay-idempotent at its own installment") {
    val base = java.nio.file.Files.createTempDirectory("crawl-bootstrap")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val inst = EventStreams.StreamInstallmentBase // batchId 0
    def runOnce(): graft.pipeline.Crawl.BatchStats = {
      val files = Seq((0L, warcOf(
        ("https://s/1", 200, "<p>bootstrap document one with words</p>"),
        ("https://s/2", 200, "<p>bootstrap document two other words</p>"))))
        .toDF("g", "payload")
      val recs = graft.sources.Warc.warcRecords(files).toDF()
      graft.pipeline.Crawl.ingestBatch(spark, recs, idx, inst)(_ => ())._2
    }
    val first = runOnce()  // bootstrap path (no meta yet)
    val replay = runOnce() // meta exists: probe asOf inst-1 + AppendAt
    assert(first.appended === 2L && replay.appended === 2L)
    val stored = spark.read.parquet(s"$idx/sets")
      .select("id", "installment").distinct()
      .as[(String, Int)].collect().toSet
    assert(stored === Set(("https://s/1", inst), ("https://s/2", inst)),
      s"replay must overwrite the bootstrap partition, got $stored")
  }

  test("robotsPath rules live-reload between batches without a restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-robots-reload")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val rp = base.resolve("robots").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir, robotsPath = rp)().start()
    def page(g: Long, tag: String): Unit = {
      input.addData((g, warcOf(
        (s"https://s$g/$tag", 200,
          s"""<p>source page $tag body tokens $g entirely distinct</p>
             |<a href="https://t.example/a/$tag">a</a>
             |<a href="https://t.example/b/$tag">b</a>""".stripMargin))))
      q.processAllAvailable()
    }
    def frontierOf(b: Long): Set[String] =
      spark.read.parquet(s"$fDir/next/batch=$b")
        .select("url").as[String].collect().toSet
    // batch 0: robots dir absent -> no gate (fallback, never a wedge)
    page(0L, "first")
    assert(frontierOf(0L) === Set("https://t.example/a/first",
      "https://t.example/b/first"))
    // rules land: /a is forbidden — the RUNNING stream applies them
    Seq(("t.example", "User-agent: *\nDisallow: /a"))
      .toDF("host", "body").write.parquet(rp)
    page(1L, "second")
    assert(frontierOf(1L) === Set("https://t.example/b/second"),
      "the landed rules must gate the very next batch")
    // rules CHANGE: now /b is the forbidden path — reload, no restart
    Seq(("t.example", "User-agent: *\nDisallow: /b"))
      .toDF("host", "body").write.mode("overwrite").parquet(rp)
    page(2L, "third")
    assert(frontierOf(2L) === Set("https://t.example/a/third"),
      "a rule change must take effect without a stream restart")
    q.stop()
  }

  test("bloom-routed stream frontier equals the exact path; robots gate applies") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-bloom-stream")
    base.toFile.deleteOnExit()

    // one crawl replayed three ways over separate dirs: exact frontier,
    // bloom-routed frontier (maintenance artifact built between batches),
    // and robots-gated. Bloom output must be IDENTICAL to exact; robots
    // must drop exactly the disallowed host's urls.
    def run(bloom: Boolean, robots: Boolean, tag: String,
            blocked: Boolean = false,
            fetchedOnly: Boolean = false): Set[(String, Long)] = {
      val idx = base.resolve(s"idx-$tag").toString
      val fDir = base.resolve(s"frontier-$tag").toString
      val bp = base.resolve(s"bloom-$tag.bin").toString
      val rules =
        if (!robots) null
        else graft.pipeline.Robots.rulesDf(Seq(
          ("next", "User-agent: *\nDisallow: /blocked"))
          .toDF("host", "body"))
      val blocklist =
        if (!blocked) null else Seq("next").toDF("domain")
      val input = MemoryStream[(Long, Array[Byte])]
      val q = EventStreams.crawlIngestStream(spark,
        input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
        frontierDir = fDir, bloomPath = if (bloom) bp else null,
        robotsRules = rules, blockedDomains = blocklist)().start()
      input.addData((0L, warcOf(
        ("https://seed/1", 200,
          "<p>seed document one body words</p><a href=\"https://mid/1\">m</a>"),
        ("https://seed/2", 200,
          "<p>seed document two body other words</p>"))))
      q.processAllAvailable()
      if (bloom) // maintenance between batches: bloom covers batch 0
        graft.pipeline.Crawl.buildFetchedBloom(spark, fDir, idx,
          1000L, 0.01, bp, includeNext = !fetchedOnly)
      input.addData((1L, warcOf(
        ("https://mid/1", 200,
          """<p>mid page body totally different tokens</p>
            |<a href="https://seed/1">back to crawled</a>
            |<a href="https://next/1">fresh</a>
            |<a href="/blocked/x">same-host relative</a>
            |<a href="https://next/blocked/y">blocked on next</a>
            |<a href="https://trap/p/l/l/l/l/x">loop trap</a>"""
            .stripMargin))))
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$fDir/next/batch=1")
        .as[(String, Long)].collect().toSet
    }

    val exact = run(bloom = false, robots = false, "exact")
    assert(exact === Set(("https://next/1", 1L),
      ("https://mid/blocked/x", 1L), ("https://next/blocked/y", 1L)),
      s"exact frontier: $exact")
    val viaBloom = run(bloom = true, robots = false, "bloom")
    assert(viaBloom === exact, s"bloom-routed frontier diverged: $viaBloom")
    // a FETCHED-ONLY artifact (compactNext's) is REFUSED by the stream
    // (its routing assumes next/ coverage) — exact-path fallback,
    // identical output
    val viaRefused = run(bloom = true, robots = false, "fetched-only",
      fetchedOnly = true)
    assert(viaRefused === exact,
      s"fetched-only refusal fallback diverged: $viaRefused")
    val gated = run(bloom = false, robots = true, "robots")
    assert(gated === Set(("https://next/1", 1L),
      ("https://mid/blocked/x", 1L)), // mid has no robots row: allowed
      s"robots-gated frontier: $gated")
    // the operator blocklist drops every url on the blocked host —
    // including the path robots allowed
    val blockedOut = run(bloom = false, robots = false, "blocklist",
      blocked = true)
    assert(blockedOut === Set(("https://mid/blocked/x", 1L)),
      s"blocklist-gated frontier: $blockedOut")
  }

  test("landImages: resolved image-text pairs land per batch; latest wins (r16)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-images")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir, landImages = true)().start()
    // batch 0: a figure-captioned img with a RELATIVE src, a noindex
    // page whose img must NOT harvest
    input.addData((0L, warcOf(
      ("https://im.test/a", 200,
        """<p>first page body words</p>
          |<figure><img src="/pics/one.jpg?x=1&amp;y=2" alt="an image">
          |<figcaption>The <b>caption</b></figcaption></figure>""".stripMargin),
      ("https://im.test/hidden", 200,
        """<meta name="robots" content="noindex">
          |<p>hidden page body with enough words</p>
          |<img src="https://cdn.test/no.png" alt="x">""".stripMargin))))
    q.processAllAvailable()
    // batch 1: the SAME page refetched with a different image set —
    // the ledger read must supersede batch 0's pairs for that url
    input.addData((1L, warcOf(
      ("https://im.test/a", 200,
        """<p>first page now different body tokens entirely</p>
          |<img src="https://cdn.test/new.webp" title="t2">""".stripMargin))))
    q.processAllAvailable()
    val b0 = spark.read.parquet(s"$fDir/images/batch=0")
      .select("url", "img_url", "alt", "title", "caption")
      .as[(String, String, String, String, String)].collect().toSet
    // the noindex page harvests nothing but lands a null-src
    // SUPERSESSION SENTINEL (r17) — its one ledger row for this batch
    assert(b0 === Set(
      ("https://im.test/a",
        "https://im.test/pics/one.jpg?x=1&y=2", "an image", null,
        "The caption"),
      ("https://im.test/hidden", null, null, null, null)),
      s"batch 0 pairs: $b0")
    val ledger = graft.pipeline.Crawl.imagePairsLedger(spark, fDir)
      .as[(String, String, String, String, String)].collect().toSet
    assert(ledger === Set(("https://im.test/a",
      "https://cdn.test/new.webp", null, "t2", null)),
      s"ledger must keep the LATEST batch per url: $ledger")
    // compaction folds to one partition; the read is unchanged (the
    // hidden url's sentinel folds to ABSENCE)
    assert(graft.pipeline.Crawl.compactImages(spark, fDir) === 1L)
    assert(graft.pipeline.Crawl.imagePairsLedger(spark, fDir)
      .as[(String, String, String, String, String)].collect().toSet ===
      ledger)
    assert(new java.io.File(s"$fDir/images").listFiles()
      .count(_.getName.startsWith("batch=")) === 1)
    // batch 2: the page refetched with its images REMOVED — the
    // sentinel must supersede the stale batch-1 pair
    input.addData((2L, warcOf(
      ("https://im.test/a", 200,
        "<p>the images are gone now plain prose only</p>"))))
    q.processAllAvailable()
    q.stop()
    assert(graft.pipeline.Crawl.imagePairsLedger(spark, fDir)
      .count() === 0L,
      "a refetch that dropped its images must supersede the pairs")
    // absent ledger reads as empty
    assert(graft.pipeline.Crawl.imagePairsLedger(spark,
      base.resolve("nowhere").toString).count() === 0L)
  }

  test("landMedia: feed enclosures land per batch; sentinels supersede (r17)") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("crawl-media")
    base.toFile.deleteOnExit()
    val idx = base.resolve("idx").toString
    val fDir = base.resolve("frontier").toString
    def feedWarc(recs: (String, String, String)*): Array[Byte] =
      graft.sources.Warc.encodeWarcFixtures(
        recs.map { case (u, ct, body) =>
          graft.sources.Warc.ResponseFixture(u, 200, contentType = ct,
            body = body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }, gzipPerRecord = true)
    val input = MemoryStream[(Long, Array[Byte])]
    val q = EventStreams.crawlIngestStream(spark,
      input.toDF().toDF("g", "payload"), idx, threshold = 0.5,
      frontierDir = fDir, landMedia = true)().start()
    // batch 0: a podcast feed (two enclosures, item titles caption),
    // an html page (never media), an xhtml page (xml-typed but a PAGE)
    input.addData((0L, feedWarc(
      ("https://pod.test/feed.xml", "application/rss+xml",
        """<rss><channel><item><title>Ep 1 &amp; intro</title>
          |<enclosure url="/audio/1.mp3" type="audio/mpeg"/></item>
          |<item><title>Ep 2</title>
          |<enclosure url="https://cdn.test/2.mp3" type="audio/mpeg"/></item>
          |</channel></rss>""".stripMargin),
      ("https://pod.test/page", "text/html",
        "<p>a page with enough words to extract</p>"),
      ("https://pod.test/xh", "application/xhtml+xml",
        "<html><body><p>xhtml page not a feed</p></body></html>"))))
    q.processAllAvailable()
    val b0 = spark.read.parquet(s"$fDir/media/batch=0")
      .select("url", "media_url", "caption", "mime_type")
      .as[(String, String, String, String)].collect().toSet
    // relative enclosure urls resolve... they DON'T (enclosuresBySource
    // canonicalizes absolute urls only; relative nulls out) — only the
    // absolute one lands. r18 (one-pass sentinel fusion): the failed
    // relative enclosure folds to ONE all-null row beside the real
    // pair; every ledger read/compaction drops null-media_url rows
    // AFTER the latest-batch selection, so it is invisible downstream
    // (the ledger assertion below proves it)
    assert(b0 === Set(
      ("https://pod.test/feed.xml",
        "https://cdn.test/2.mp3", "Ep 2", "audio/mpeg"),
      ("https://pod.test/feed.xml", null, null, null)),
      s"batch 0 media pairs: $b0")
    // the READ drops the null row: exactly the real pair
    assert(graft.pipeline.Crawl.mediaPairsLedger(spark, fDir)
      .as[(String, String, String, String)].collect().toSet ===
      Set(("https://pod.test/feed.xml",
        "https://cdn.test/2.mp3", "Ep 2", "audio/mpeg")))
    // batch 1: the feed refetched with ZERO enclosures -> sentinel
    input.addData((1L, feedWarc(
      ("https://pod.test/feed.xml", "text/xml",
        "<rss><channel><item><title>empty now</title></item></channel></rss>"))))
    q.processAllAvailable()
    q.stop()
    assert(graft.pipeline.Crawl.mediaPairsLedger(spark, fDir)
      .count() === 0L,
      "a refetch that dropped its enclosures must supersede the pairs")
    assert(graft.pipeline.Crawl.compactMedia(spark, fDir) === 1L)
    assert(graft.pipeline.Crawl.mediaPairsLedger(spark, fDir)
      .count() === 0L)
    // absent ledger reads as empty
    assert(graft.pipeline.Crawl.mediaPairsLedger(spark,
      base.resolve("nowhere").toString).count() === 0L)
  }
}
