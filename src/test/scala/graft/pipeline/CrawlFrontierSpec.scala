package graft.pipeline

import graft.SparkTestBase
import graft.sources.Warc.{ResponseFixture, encodeWarcFixtures}
import org.apache.spark.sql.functions._

/** The crawl loop's closing edge: outlinks ride the fused decode pass,
  * and `frontier` turns them into the next fetch round (absolute-only,
  * fragments stripped, crawled urls excluded, ref-counted). */
class CrawlFrontierSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("x").toString
  }

  private def warcOf(pages: Seq[(String, String)]): Array[Byte] =
    encodeWarcFixtures(
      pages.map { case (u, html) =>
        ResponseFixture(u, 200, contentType = "text/plain; charset=utf-8",
          body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })

  test("ingestBatch hands every page's links to onPageLinks; frontier composes") {
    val idx = tmp("crawl-frontier-idx")
    val pages = Seq(
      ("https://s/1",
        """<html><body>words one for doc A repeated enough to shingle
          |<a href="https://s/2">known</a>
          |<a href="https://n/1#frag">new</a>
          |<a href="/rel">rel</a></body></html>""".stripMargin),
      ("https://s/2",
        """<html><head><link rel="canonical" href="https://c/2"></head>
          |<body>other words entirely for doc B distinct tokens
          |<a href="https://n/1">new too</a>
          |<a href="mailto:a@b">mail</a></body></html>""".stripMargin))
    val files = Seq((0L, warcOf(pages))).toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()

    var captured: Seq[(String, Seq[String])] = null
    var canonicals: Map[String, String] = null
    var frontierRows: Seq[(String, Long)] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        captured = pagesDf.select("url", "links")
          .as[(String, Seq[String])].collect().toSeq
        canonicals = pagesDf.select("url", "canonical")
          .as[(String, String)].collect().toMap
        val crawled = pagesDf.select($"url")
        frontierRows = Crawl.frontier(pagesDf, crawled)
          .as[(String, Long)].collect().toSeq.sorted
      }) { _.count() }
    assert(stats.responses === 2L && stats.appended === 2L)
    // raw links per page, in document order, relative/mailto included
    val byUrl = captured.toMap
    assert(byUrl("https://s/1") ===
      Seq("https://s/2", "https://n/1#frag", "/rel"))
    assert(byUrl("https://s/2") === Seq("https://n/1", "mailto:a@b"))
    // the pages feed carries the canonical key from the same pass
    assert(canonicals === Map("https://s/1" -> null,
      "https://s/2" -> "https://c/2"))
    // frontier: RFC 3986-resolved (the relative /rel resolves against
    // its page), fragment stripped, mailto dropped, crawled excluded,
    // both pages' refs to https://n/1 merged
    assert(frontierRows === Seq(("https://n/1", 2L), ("https://s/rel", 1L)))

    // crawledUrls reads the folded corpus back from the index
    assert(Crawl.crawledUrls(spark, idx).as[String].collect().toSet ===
      Set("https://s/1", "https://s/2"))

    // second batch: the frontier against batch + stored urls drops a
    // re-discovered stored page
    val pages2 = Seq(
      ("https://n/1",
        """<html><body>the newly fetched page now links back
          |<a href="https://s/1">stored</a>
          |<a href="https://n/2">fresh</a></body></html>""".stripMargin))
    val recs2 = graft.sources.Warc.warcRecords(
      Seq((0L, warcOf(pages2))).toDF("g", "payload")).toDF()
    var frontier2: Seq[(String, Long)] = null
    Crawl.ingestBatch(spark, recs2, idx, 1,
      onPageLinks = pagesDf => {
        val crawled = pagesDf.select($"url")
          .unionByName(Crawl.crawledUrls(spark, idx))
        frontier2 = Crawl.frontier(pagesDf, crawled)
          .as[(String, Long)].collect().toSeq.sorted
      }) { _.count() }
    assert(frontier2 === Seq(("https://n/2", 1L)))
  }

  test("schedule assigns per-host rounds by refs desc, url asc; excess defers") {
    val frontier = Seq(
      ("https://a.example/p1", 5L), ("https://a.example/p2", 5L),
      ("https://a.example/p3", 9L), ("https://a.example/p4", 1L),
      ("https://b.example/q1", 2L))
      .toDF("url", "n_refs")
    val got = Crawl.schedule(frontier, maxRounds = 3)
      .select("host", "url", "round")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("a.example", "https://a.example/p3", 1L), // highest refs
      ("a.example", "https://a.example/p1", 2L), // 5-refs tie: url asc
      ("a.example", "https://a.example/p2", 3L),
      // p4 (rank 4) defers to the next cycle
      ("b.example", "https://b.example/q1", 1L)))
  }

  test("frontierBloom equals the exact frontier, false positives rescued") {
    val pages = Seq(
      ("https://s/1", Seq("https://n/1", "https://n/2", "https://s/2",
        "https://n/1#frag", "/rel")),
      ("https://s/2", Seq("https://n/2", "https://s/1")))
      .toDF("url", "links")
    val crawled = Seq("https://s/1", "https://s/2").toDF("url")
    val exact = Crawl.frontier(pages, crawled)
      .as[(String, Long)].collect().toSet
    assert(exact === Set(("https://n/1", 2L), ("https://n/2", 2L),
      ("https://s/rel", 1L)))

    val bloom = crawled.stat.bloomFilter("url", 1000L, 0.01)
    // FORCE a false positive on a genuinely fresh url: the exact join
    // must rescue it into the frontier, not silently drop it
    bloom.putString("https://n/1")
    assert(bloom.mightContain("https://n/1"))
    val viaBloom = Crawl.frontierBloom(pages, crawled, bloom)
      .as[(String, Long)].collect().toSet
    assert(viaBloom === exact)

    // save/load round-trip preserves the filter
    val d = java.nio.file.Files.createTempDirectory("bloom")
    d.toFile.deleteOnExit()
    val bp = d.resolve("url_bloom.bin").toString
    Crawl.saveBloom(spark, bloom, bp)
    val loaded = Crawl.loadBloom(spark, bp)
    assert(loaded.mightContain("https://s/1") &&
      loaded.mightContain("https://n/1"))
    assert(Crawl.frontierBloom(pages, crawled, loaded)
      .as[(String, Long)].collect().toSet === exact)
  }

  test("buildCrawledBloom covers the index's folded urls") {
    val idx = tmp("crawl-bloom-idx")
    graft.dedup.Dedup.minhashIndexBuild(
      Seq(("https://c/1", "enough words to shingle this document body"),
        ("https://c/2", "another documents body with different words"))
        .toDF("url", "text"),
      "text", "url", idx)
    val bloom = Crawl.buildCrawledBloom(spark, idx, expectedItems = 100L)
    assert(bloom.mightContain("https://c/1") &&
      bloom.mightContain("https://c/2"))
  }

  test("frontier resolves relative links and normalizes variants") {
    val pages = Seq(
      ("https://a.ex/dir/page", Seq(
        "sub/x",                       // path-relative merge
        "../up",                       // dot segments
        "//b.ex/net",                  // scheme-relative
        "HTTPS://C.EX:443/Mixed",      // case + default port normalize
        "https://a.ex/dir/page?utm_source=t&gclid=1", // tracked self-variant
        "?q=1",                        // query-only
        "javascript:void(0)", "mailto:x@y")))
      .toDF("url", "links")
    val crawled = Seq("https://a.ex/dir/page").toDF("url")
    val got = Crawl.frontier(pages, crawled)
      .as[(String, Long)].collect().toSet
    assert(got === Set(
      ("https://a.ex/dir/sub/x", 1L),
      ("https://a.ex/up", 1L),
      ("https://b.ex/net", 1L),
      ("https://c.ex/Mixed", 1L), // host lowercased, :443 elided, path case kept
      // the utm/gclid variant normalized INTO the crawled url — not re-emitted
      ("https://a.ex/dir/page?q=1", 1L)))
  }

  test("schedule keys politeness on the canonical host; delays stack") {
    val frontier = Seq(
      ("https://a.example/p1", 5L),
      ("https://a.example:8443/p2", 4L), // explicit port: SAME queue
      ("https://u@A.EXAMPLE/p3", 3L),    // userinfo + case: SAME queue
      ("https://b.example/q1", 2L))
      .toDF("url", "n_refs")
    val got = Crawl.schedule(frontier, maxRounds = 5)
      .select("host", "url", "round")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("a.example", "https://a.example/p1", 1L),
      ("a.example", "https://a.example:8443/p2", 2L),
      ("a.example", "https://u@A.EXAMPLE/p3", 3L),
      ("b.example", "https://b.example/q1", 1L)))

    val delays = Robots.crawlDelayDf(Seq(
      ("A.EXAMPLE", "User-agent: graftbot\nCrawl-delay: 1.5\n" +
        "User-agent: *\nCrawl-delay: 99"),
      ("c.example", "User-agent: *\nCrawl-delay: 2"))
      .toDF("host", "body"), "graftbot")
    val paced = Crawl.schedule(frontier, maxRounds = 5, delays = delays)
      .select("url", "round", "delay_s", "not_before_s")
      .as[(String, Long, Double, Double)].collect().toSet
    assert(paced === Set(
      ("https://a.example/p1", 1L, 1.5, 0.0),
      ("https://a.example:8443/p2", 2L, 1.5, 1.5),
      ("https://u@A.EXAMPLE/p3", 3L, 1.5, 3.0),
      ("https://b.example/q1", 1L, 0.0, 0.0))) // no robots row -> no pacing
  }

  test("redirect records feed the frontier; Location resolves; crawled targets drop") {
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://s/1", 200, contentType = "text/html",
        body = "<a href=\"https://n/1\">x</a>".getBytes("UTF-8")),
      ResponseFixture("https://s/old", 301, contentType = "text/html",
        location = "https://n/2"),                   // absolute Location
      ResponseFixture("https://s/moved/deep", 302, contentType = "text/html",
        location = "../hub"),                        // relative Location
      ResponseFixture("https://s/gone", 301, contentType = "text/html",
        location = "https://s/1")))))                // redirect-to-crawled
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    // Location survives the HTTP split
    assert(recs.filter($"http_status" === 301 && $"target_uri" === "https://s/old")
      .select("http_location").as[String].head() === "https://n/2")
    val pages = Crawl.redirectLinks(recs)
      .as[(String, Seq[String])].collect().toMap
    assert(pages === Map(
      "https://s/old" -> Seq("https://n/2"),
      "https://s/moved/deep" -> Seq("../hub"),
      "https://s/gone" -> Seq("https://s/1")))
    val crawled = Seq("https://s/1", "https://s/old", "https://s/moved/deep",
      "https://s/gone").toDF("url")
    val fr = Crawl.frontier(Crawl.redirectLinks(recs), crawled)
      .as[(String, Long)].collect().toSet
    assert(fr === Set(("https://n/2", 1L), ("https://s/hub", 1L)))
  }

  test("resolveRedirects: chains fold, cycles and long chains terminate unresolved") {
    val edges = Seq(
      ("https://s/a", "https://s/b"), ("https://s/b", "https://s/c"),
      ("https://s/c", "https://s/d"), // 3-hop chain: a→b→c→d
      ("https://s/x", "https://s/y"), ("https://s/y", "https://s/x"), // cycle
      ("https://s/self", "https://s/self"), // self-loop
      ("https://s/one", "https://s/done")).toDF("url", "target")
    val got = Crawl.resolveRedirects(edges, maxHops = 4)
      .as[(String, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("https://s/a") === (("https://s/d", 3L, true)))
    assert(got("https://s/b") === (("https://s/d", 2L, true)))
    assert(got("https://s/c") === (("https://s/d", 1L, true)))
    assert(got("https://s/one") === (("https://s/done", 1L, true)))
    // cycle members walk maxHops and stay unresolved, deterministically
    assert(got("https://s/x")._2 === 4L && !got("https://s/x")._3)
    assert(got("https://s/y")._2 === 4L && !got("https://s/y")._3)
    assert(got("https://s/self") === (("https://s/self", 4L, false)))
    // a chain LONGER than maxHops surfaces unresolved instead of
    // half-resolving silently
    val short = Crawl.resolveRedirects(edges, maxHops = 2)
      .as[(String, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(short("https://s/a") === (("https://s/c", 2L, false)))
    // redirectEdges: resolve + normalize + dedup-by-source feeds this
    val recs = Seq(
      ("response", "https://e.test/old", 301, "/new?utm_source=x&a=1"),
      ("response", "https://e.test/old", 301, "/new?a=1"), // refetch dup
      ("response", "https://e.test/ok", 200, "/ignored"),
      ("response", "https://e.test/lost", 301, null),
      ("request", "https://e.test/req", 301, "/ignored"))
      .toDF("warc_type", "target_uri", "http_status", "http_location")
    val e2 = Crawl.redirectEdges(recs).as[(String, String)].collect().toSet
    // tracking param normalizes away; both fetches fold to one edge
    assert(e2 === Set(("https://e.test/old", "https://e.test/new?a=1")))
  }

  test("ingestBatch unions redirect targets into the frontier feed") {
    val idx = tmp("crawl-redir-idx")
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://s/1", 200, contentType = "text/html",
        body = "<html><body>enough words to make a document here <a href=\"https://n/1\">x</a></body></html>"
          .getBytes("UTF-8")),
      ResponseFixture("https://s/old", 301, contentType = "text/html",
        location = "/fresh-target")))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var frontierRows: Set[(String, Long)] = null
    var fetched: Set[String] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        fetched = pagesDf.select("url").as[String].collect().toSet
        frontierRows = Crawl.frontier(pagesDf, pagesDf.select($"url"))
          .as[(String, Long)].collect().toSet
      }) { _.count() }
    assert(stats.redirects === 1L && stats.responses === 1L)
    // the redirect SOURCE is a fetched page (ledger row), its target a link
    assert(fetched === Set("https://s/1", "https://s/old"))
    assert(frontierRows === Set(("https://n/1", 1L), ("https://s/fresh-target", 1L)))
  }

  test("<base href> overrides the resolution base for relative links") {
    val idx = tmp("crawl-base-idx")
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://s/dir/page", 200, contentType = "text/html",
        body = ("""<p>page one body words</p><base href="https://cdn.ex/assets/sub/">""" +
          """<a href="img/x">rel</a><a href="/root">abs-path</a>""" +
          """<a href="https://abs.ex/y">abs</a>""").getBytes("UTF-8")),
      ResponseFixture("https://s/nobase", 200, contentType = "text/html",
        body = """<p>page two other words</p><a href="rel2">r</a>""".getBytes("UTF-8")),
      ResponseFixture("https://s/relbase/deep/page", 200, contentType = "text/html",
        body = ("""<p>page three more words</p><base href='../up/'>""" +
          """<a href="z">r</a>""").getBytes("UTF-8"))))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var frontierRows: Set[(String, Long)] = null
    Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        frontierRows = Crawl.frontier(pagesDf, pagesDf.select($"url"))
          .as[(String, Long)].collect().toSet
      }) { _.count() }
    assert(frontierRows === Set(
      ("https://cdn.ex/assets/sub/img/x", 1L), // path-relative vs BASE
      ("https://cdn.ex/root", 1L),             // root-relative vs BASE host
      ("https://abs.ex/y", 1L),                // absolute: base irrelevant
      ("https://s/rel2", 1L),                  // no base: page url
      ("https://s/relbase/up/z", 1L)))         // RELATIVE base resolves first
  }

  test("non-text 200s are ledger-fed but never extracted into the corpus") {
    val idx = tmp("crawl-nontext-idx")
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0xFF.toByte, 0xFE.toByte, 0x80.toByte) // binary garbage body
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://s/1", 200, contentType = "text/html",
        body = "<p>a real html page body with words</p>".getBytes("UTF-8")),
      ResponseFixture("https://s/pic.png", 200, contentType = "image/png",
        body = png),
      ResponseFixture("https://s/blob", 200,
        contentType = "application/octet-stream", body = png),
      ResponseFixture("https://s/style.css", 200, contentType = "text/css",
        body = "body { color: red } /* boilerplate code is not a corpus doc */"
          .getBytes("UTF-8")),
      ResponseFixture("https://s/app.js", 200,
        contentType = "text/javascript; charset=utf-8",
        body = "function f() { return 42; }".getBytes("UTF-8")),
      ResponseFixture("https://s/readme", 200, contentType = "text/plain",
        body = "plain text is a real corpus document".getBytes("UTF-8")),
      ResponseFixture("https://s/unlabeled", 200,
        body = "<p>no content type still extracts</p>".getBytes("UTF-8"))))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var fetched: Set[String] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        fetched = pagesDf.select("url").as[String].collect().toSet
      }) { _.count() }
    // image/octet-stream AND code-bearing text/* subtypes (css, js —
    // the r14 gate narrowing) never reach extraction; html/plain/
    // unlabeled do
    assert(stats.responses === 3L && stats.appended === 3L &&
      stats.nonText === 4L, s"stats: $stats")
    assert(Crawl.crawledUrls(spark, idx).as[String].collect().toSet ===
      Set("https://s/1", "https://s/readme", "https://s/unlabeled"))
    // but they ARE fetched — the ledger must gate their re-entry
    assert(fetched === Set("https://s/1", "https://s/pic.png",
      "https://s/blob", "https://s/style.css", "https://s/app.js",
      "https://s/readme", "https://s/unlabeled"))
  }

  test("the ledger feed lands one file per records partition") {
    val idx = tmp("crawl-ledger-files")
    // four WARC files, each with every class the ledger feed unions: a
    // text page, a redirect, a dead page, a non-text 200 and a revisit
    val files = (0 until 4).map { g =>
      (g.toLong, graft.sources.Warc.encodeWarcFixtures(Seq(
        graft.sources.Warc.ResponseFixture(s"https://s$g/page", 200,
          contentType = "text/html",
          body = s"<p>page $g of the ledger file count fixture</p>".getBytes("UTF-8")),
        graft.sources.Warc.ResponseFixture(s"https://s$g/moved", 301,
          location = s"https://s$g/page"),
        graft.sources.Warc.ResponseFixture(s"https://s$g/dead", 404, contentType = "text/html"),
        graft.sources.Warc.ResponseFixture(s"https://s$g/pic.png", 200, contentType = "image/png"),
        graft.sources.Warc.ResponseFixture(s"https://s$g/again", 200,
          contentType = "text/html", warcType = "revisit"))))
    }.toDF("g", "payload").repartition(4)
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    val ledger = tmp("crawl-ledger-out")
    Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = _.write.parquet(ledger)) { _.count() }
    assert(spark.read.parquet(ledger).count() === 20L)
    val parts = new java.io.File(ledger).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts <= recs.rdd.getNumPartitions && parts <= 4,
      s"the ledger write landed $parts files for ${recs.rdd.getNumPartitions} partitions")
  }

  test("304s and revisit records are ledger observations, never corpus docs (r15)") {
    val idx = tmp("crawl-revisit-idx")
    val files = Seq((0L, graft.sources.Warc.encodeWarcFixtures(Seq(
      graft.sources.Warc.ResponseFixture("https://s/page", 200,
        contentType = "text/html",
        body = "<p>a real html page body</p>".getBytes("UTF-8")),
      graft.sources.Warc.ResponseFixture("https://s/unchanged", 304),
      graft.sources.Warc.ResponseFixture("https://s/recapture", 200,
        contentType = "text/html", warcType = "revisit"),
      graft.sources.Warc.ResponseFixture("https://s/dead", 404,
        contentType = "text/html")))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var rows: Map[String, (Boolean, Option[String])] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        rows = pagesDf.select("url", "revisit", "content_md5")
          .as[(String, Boolean, Option[String])].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      }) { _.count() }
    // only the real 200 extracts; both recapture forms count as revisits
    assert(stats.responses === 1L && stats.appended === 1L &&
      stats.revisits === 2L, s"stats: $stats")
    assert(Crawl.crawledUrls(spark, idx).as[String].collect().toSet ===
      Set("https://s/page"))
    // all four are ledger-fed; revisit rows are flagged, null-hash
    assert(rows.keySet === Set("https://s/page", "https://s/unchanged",
      "https://s/recapture", "https://s/dead"))
    assert(rows("https://s/unchanged") === ((true, None)))
    assert(rows("https://s/recapture") === ((true, None)))
    assert(rows("https://s/page")._1 === false)
    assert(rows("https://s/page")._2.isDefined,
      "a real 200 observes its content hash")
    assert(rows("https://s/dead") === ((false, None)))
  }

  test("revalidators: 200 validators survive verbatim; dead and bare drop") {
    val files = Seq((0L, graft.sources.Warc.encodeWarcFixtures(Seq(
      graft.sources.Warc.ResponseFixture("https://v/strong", 200,
        contentType = "text/html", etag = "\"abc\"",
        body = "x".getBytes("UTF-8")),
      graft.sources.Warc.ResponseFixture("https://v/both", 200,
        contentType = "text/html", etag = "W/\"v7\"",
        lastModified = "Tue, 04 Mar 2025 09:30:00 GMT",
        body = "y".getBytes("UTF-8")),
      graft.sources.Warc.ResponseFixture("https://v/bare", 200,
        contentType = "text/html", body = "z".getBytes("UTF-8")),
      graft.sources.Warc.ResponseFixture("https://v/dead", 404,
        contentType = "text/html", etag = "\"nope\""),
      // refetched url: the folded pair must be ONE response's pair,
      // never a cross-response mix (the r16 atomic-fold contract) —
      // struct MAX picks the greatest etag WITH ITS OWN last_modified
      graft.sources.Warc.ResponseFixture("https://v/twice", 200,
        contentType = "text/html", etag = "\"e1\"",
        lastModified = "Wed, 31 Dec 2025 23:59:59 GMT",
        body = "a".getBytes("UTF-8")),
      graft.sources.Warc.ResponseFixture("https://v/twice", 200,
        contentType = "text/html", etag = "\"e2\"",
        body = "b".getBytes("UTF-8"))))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    val got = Crawl.revalidators(recs)
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      "https://v/strong" -> ((Some("\"abc\""), None)),
      "https://v/both" -> ((Some("W/\"v7\""),
        Some("Tue, 04 Mar 2025 09:30:00 GMT"))),
      // a per-column max would mint ("e2", "Wed, 31 ...") — a pair no
      // response carried; the atomic fold keeps ("e2", null) whole
      "https://v/twice" -> ((Some("\"e2\""), None))))
  }

  test("robots-meta noindex pages: ledger + frontier yes, corpus no") {
    val idx = tmp("crawl-noindex-idx")
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://s/indexed", 200, contentType = "text/html",
        body = "<p>a normal page body with words</p>".getBytes("UTF-8")),
      ResponseFixture("https://s/hidden", 200, contentType = "text/html",
        body = ("""<meta name="robots" content="noindex">""" +
          """<p>substantial text that must not become a corpus doc</p>""" +
          """<a href="https://s/found-via-hidden">link still follows</a>""")
          .getBytes("UTF-8")),
      ResponseFixture("https://s/gone", 200, contentType = "text/html",
        body = ("""<meta name="robots" content="none">""" +
          """<p>none means noindex AND nofollow</p>""" +
          """<a href="https://s/never">dropped</a>""").getBytes("UTF-8"))))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var pages: Map[String, Seq[String]] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        pages = pagesDf.select("url", "links")
          .as[(String, Seq[String])].collect().toMap
      }) { _.count() }
    // only the plain page becomes a corpus document
    assert(Crawl.crawledUrls(spark, idx).as[String].collect().toSet ===
      Set("https://s/indexed"), "noindex pages must not enter the corpus")
    assert(stats.noindexed === 2L && stats.appended === 1L &&
      stats.responses === 3L, s"stats: $stats")
    // all three are FETCHED; the noindex page's links still flow, the
    // none page's do not (nofollow), the refreshless pages have no extras
    assert(pages.keySet === Set("https://s/indexed", "https://s/hidden",
      "https://s/gone"))
    assert(pages("https://s/hidden") === Seq("https://s/found-via-hidden"))
    assert(pages("https://s/gone") === Seq.empty)
  }

  test("X-Robots-Tag header gates like robots meta through ingestBatch") {
    val idx = tmp("crawl-xrobots-idx")
    val files = Seq((0L, encodeWarcFixtures(Seq(
      ResponseFixture("https://x/plain", 200, contentType = "text/html",
        body = "<p>plain page words</p><a href=\"https://x/l1\">l</a>"
          .getBytes("UTF-8")),
      ResponseFixture("https://x/hidden", 200, contentType = "text/html",
        xRobots = "noindex",
        body = "<p>header noindex page body</p><a href=\"https://x/l2\">l</a>"
          .getBytes("UTF-8")),
      ResponseFixture("https://x/gone", 200, contentType = "text/html",
        xRobots = "none",
        body = "<p>header none page body</p><a href=\"https://x/l3\">l</a>"
          .getBytes("UTF-8"))))))
      .toDF("g", "payload")
    val recs = graft.sources.Warc.warcRecords(files).toDF()
    var pages: Map[String, Seq[String]] = null
    val (_, stats) = Crawl.ingestBatch(spark, recs, idx, 0,
      onPageLinks = pagesDf => {
        pages = pagesDf.select("url", "links")
          .as[(String, Seq[String])].collect().toMap
      }) { _.count() }
    assert(Crawl.crawledUrls(spark, idx).as[String].collect().toSet ===
      Set("https://x/plain"), "header noindex must not enter the corpus")
    assert(stats.noindexed === 2L && stats.appended === 1L, s"stats: $stats")
    assert(pages("https://x/hidden") === Seq("https://x/l2"),
      "header noindex alone must not drop links")
    assert(pages("https://x/gone") === Seq.empty,
      "header none must drop links too")
  }

  test("scheduleRanked: authority orders hosts inside a round, rounds first") {
    // host graph: everyone links big.example; big links little once —
    // big's rank dominates every other host's
    val pages = Seq(
      ("https://a.example/p", Seq("https://big.example/x", "/local")),
      ("https://b.example/p", Seq("https://big.example/y")),
      ("https://big.example/p", Seq("rel/z"))) // relative: base = page url
      .toDF("url", "links")
    val edges = Crawl.hostEdges(pages)
      .as[(String, String)].collect().toSet
    assert(edges === Set(
      ("a.example", "big.example"), ("a.example", "a.example"),
      ("b.example", "big.example"), ("big.example", "big.example")))
    // frontier: the LOW-authority host has the higher ref count — the
    // priority must still put the authoritative host first inside
    // round 1, and every round-1 url before any round-2 url
    val frontier = Seq(
      ("https://a.example/1", 9L), ("https://a.example/2", 8L),
      ("https://big.example/1", 2L), ("https://big.example/2", 1L))
      .toDF("url", "n_refs")
    val out = Crawl.scheduleRanked(frontier, Crawl.hostEdges(pages),
        maxRounds = 3)
      .select("url", "round", "priority")
      .as[(String, Long, Long)].collect().sortBy(_._3)
    assert(out.map(_._1).toSeq === Seq(
      "https://big.example/1", // round 1, top authority
      "https://a.example/1",   // round 1, lower authority
      "https://big.example/2", // round 2 starts after EVERY round 1
      "https://a.example/2"))
    assert(out.map(_._3).toSeq === Seq(0L, 1L, 2L, 3L))
    // unranked hosts (outside the discovered graph) sort last in round
    val frontier2 = frontier.unionByName(
      Seq(("https://ghost.example/1", 99L)).toDF("url", "n_refs"))
    val out2 = Crawl.scheduleRanked(frontier2, Crawl.hostEdges(pages),
        maxRounds = 3)
      .select("url", "round", "priority", "host_rank_fp")
      .as[(String, Long, Long, Long)].collect().sortBy(_._3)
    assert(out2.head._1 === "https://big.example/1")
    val ghost = out2.find(_._1 === "https://ghost.example/1").get
    assert(ghost._4 === 0L, "a host outside the graph ranks 0")
    assert(ghost._3 === 2L,
      "rank 0 sorts after every ranked round-1 host despite 99 refs")
  }

  test("schedule pins its pacing-table broadcasts") {
    val frontier = Seq(
      ("https://a.example/1", 9L), ("https://a.example/2", 8L),
      ("https://big.example/1", 2L)).toDF("url", "n_refs")
    val delays = Seq(("a.example", 2.5)).toDF("host", "delay_s")
    val retry = Seq(("big.example", 60.0)).toDF("host", "retry_after_s")
    // kill auto-broadcast so any BroadcastHashJoin left in the plan is a
    // PINNED hint, not Catalyst sizing tiny test relations (the
    // BucketingSpec discipline)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Crawl.schedule(frontier, 3, delays = delays,
        retryAfter = retry).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"broadcast pacing must pin its broadcasts:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("retryAfterDelays: 429/503 delta-seconds fold per host; schedule shifts") {
    val records = Seq(
      // two throttling responses on one host: MAX wins; hostOf
      // canonicalizes the shouty/port/userinfo variants onto one key
      ("response", "https://a.example/x", 429, "60"),
      ("response", "HTTPS://A.EXAMPLE:443/y", 503, "240"),
      ("response", "https://u@a.example/z", 429, "90"),
      // date form: IGNORED here — this frame has no warc_date column,
      // so there is no fetch clock to measure against (the
      // with-warc_date arms below pin the date math)
      ("response", "https://b.example/d", 429,
        "Fri, 01 Jan 2027 00:00:00 GMT"),
      // non-throttling statuses never count, numeric or not
      ("response", "https://c.example/ok", 200, "999"),
      ("response", "https://c.example/moved", 301, "30"),
      // no header at all
      ("response", "https://d.example/none", 429, null),
      // non-response records are out of scope
      ("warcinfo", "https://e.example/w", 429, "15"))
      .toDF("warc_type", "target_uri", "http_status", "http_retry_after")
    val delays = Crawl.retryAfterDelays(records)
      .as[(String, Double)].collect().toMap
    assert(delays === Map("a.example" -> 240.0))
    // schedule with retryAfter only (no crawl-delay table): every round
    // of a throttling host starts at its retry_after_s; others at 0
    val frontier = Seq(
      ("https://a.example/1", 5L), ("https://a.example/2", 3L),
      ("https://f.example/1", 1L)).toDF("url", "n_refs")
    val sched = Crawl.schedule(frontier, maxRounds = 3,
        retryAfter = Crawl.retryAfterDelays(records))
      .select("url", "round", "delay_s", "retry_after_s", "not_before_s")
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(sched === Set(
      ("https://a.example/1", 1L, 0.0, 240.0, 240.0),
      ("https://a.example/2", 2L, 0.0, 240.0, 240.0),
      ("https://f.example/1", 1L, 0.0, 0.0, 0.0)))
    // with BOTH tables the offsets stack: retry + (round-1)*delay
    val both = Crawl.schedule(frontier, maxRounds = 3,
        delays = Seq(("a.example", 7.0)).toDF("host", "delay_s"),
        retryAfter = Crawl.retryAfterDelays(records))
      .select("url", "not_before_s").as[(String, Double)].collect().toMap
    assert(both === Map("https://a.example/1" -> 240.0,
      "https://a.example/2" -> 247.0, "https://f.example/1" -> 0.0))
    // the HTTP-date form measured against the record's OWN warc_date
    // (r15): future date = the delta, past date clamps to 0, junk
    // drops, and the per-host max mixes both forms
    val dated = Seq(
      ("response", "https://d.example/a", 429,
        "Thu, 01 Jan 2026 00:02:00 GMT", "2026-01-01T00:00:30Z"), // 90 s
      ("response", "https://d.example/b", 503, "45",
        "2026-01-01T00:00:00Z"), // delta form alongside: max picks 90
      ("response", "https://e.example/past", 429,
        "Wed, 31 Dec 2025 23:59:00 GMT", "2026-01-01T00:00:00Z"), // 0
      ("response", "https://g.example/junk", 429, "tomorrow-ish",
        "2026-01-01T00:00:00Z"))
      .toDF("warc_type", "target_uri", "http_status", "http_retry_after",
        "warc_date")
    val datedOut = Crawl.retryAfterDelays(dated)
      .as[(String, Double)].collect().toMap
    assert(datedOut === Map("d.example" -> 90.0, "e.example" -> 0.0))
  }

  test("fetched-ledger compaction + bloom maintenance artifacts round-trip") {
    val d = java.nio.file.Files.createTempDirectory("crawl-fetched")
    d.toFile.deleteOnExit()
    val fDir = d.resolve("frontier").toString
    Seq("https://f/1", "https://f/2").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=0")
    Seq("https://f/2", "https://f/3").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=1")
    // the EMITTED ledger folds in too (r14), and the cutoff is the MIN
    // over the two ledgers: next/ trails at batch 0 here (the
    // crash-between-writes shape), so only batch 0 is fully covered
    Seq(("https://emitted/1", 2L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir/next/batch=0")
    val bp = d.resolve("fetched.bloom").toString
    val covers = Crawl.buildFetchedBloom(spark, fDir, null, 1000L, 0.01, bp)
    assert(covers === 1L)
    val (bloom, cb) = Crawl.loadFetchedBloom(spark, bp).get
    assert(cb === 1L)
    assert(Seq("https://f/1", "https://f/2", "https://f/3",
      "https://emitted/1").forall(bloom.mightContain))
    // with next/ caught up the cutoff covers both ledgers in full
    Seq(("https://emitted/2", 1L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir/next/batch=1")
    assert(Crawl.buildFetchedBloom(spark, fDir, null, 1000L, 0.01, bp)
      === 2L)
    // compaction folds to one row per url AT ITS LAST FETCH BATCH
    // (r14 — the age is the recrawlSeeds refresh signal)
    assert(Crawl.compactFetched(spark, fDir) === 1L)
    val after = spark.read.parquet(s"$fDir/fetched")
      .select("batch", "url").as[(Long, String)].collect().toSet
    assert(after === Set((0L, "https://f/1"), (1L, "https://f/2"),
      (1L, "https://f/3")))
    // the swap leaves no side or aside directory next to the ledger
    assert(new java.io.File(fDir).list().filter(_.startsWith("fetched."))
      .isEmpty)
    // missing artifacts -> None (stream falls back to the exact path)
    assert(Crawl.loadFetchedBloom(spark, d.resolve("nope.bloom").toString)
      .isEmpty)
  }

  test("fetched-only bloom artifacts: coverage meta routes the consumers") {
    val d = java.nio.file.Files.createTempDirectory("crawl-bloom-meta")
    d.toFile.deleteOnExit()
    val fDir = d.resolve("frontier").toString
    Seq("https://f/1", "https://f/2").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=0")
    Seq(("https://emitted/1", 2L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir/next/batch=0")
    // the stream's artifact (default): covers next/, compactNext must
    // refuse it — against it every folded url is positive by
    // construction and the rescue broadcasts the whole frontier
    val bpStream = d.resolve("stream.bloom").toString
    Crawl.buildFetchedBloom(spark, fDir, null, 1000L, 0.01, bpStream)
    val aStream = Crawl.loadFetchedBloomArtifact(spark, bpStream).get
    assert(aStream.coversNext && aStream.coversBelow === 1L)
    assert(aStream.bloom.mightContain("https://emitted/1"))
    assert(Crawl.fetchedOnlyBloom(spark, bpStream).isEmpty,
      "compactNext must refuse a next-covering artifact")
    // the compactNext artifact: fetched-only; its cutoff ignores next/
    val bpFetched = d.resolve("fetched-only.bloom").toString
    assert(Crawl.buildFetchedBloom(spark, fDir, null, 1000L, 0.01,
      bpFetched, includeNext = false) === 1L)
    val aFetched = Crawl.loadFetchedBloomArtifact(spark, bpFetched).get
    assert(!aFetched.coversNext)
    assert(Crawl.fetchedOnlyBloom(spark, bpFetched).isDefined)
    assert(Seq("https://f/1", "https://f/2")
      .forall(aFetched.bloom.mightContain))
    // pre-r15 metas (bare decimal long) parse as next-covering — that
    // is what the r14 builder wrote into those filters. Fresh file
    // names: overwriting a Hadoop-written file via nio would break its
    // .crc sidecar
    val bpLegacy = d.resolve("legacy.bloom")
    java.nio.file.Files.copy(java.nio.file.Paths.get(bpStream), bpLegacy)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bpLegacy.toString + ".meta"),
      "1".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val legacy = Crawl.loadFetchedBloomArtifact(spark,
      bpLegacy.toString).get
    assert(legacy.coversNext && legacy.coversBelow === 1L)
    assert(Crawl.fetchedOnlyBloom(spark, bpLegacy.toString).isEmpty)
  }

  test("crash-created empty ledger dirs behave like absence") {
    val d = java.nio.file.Files.createTempDirectory("crawl-empty-dirs")
    d.toFile.deleteOnExit()
    val fDir = d.resolve("frontier").toString
    // the crash window: dir (even a batch= subdir) exists, but no
    // parquet file was ever committed — reads must not be attempted
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$fDir/next/batch=0"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$fDir/fetched"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$fDir/fetched/_SUCCESS"), Array[Byte]())
    assert(!Crawl.hasCommittedData(spark, s"$fDir/next"))
    assert(!Crawl.hasCommittedData(spark, s"$fDir/fetched"),
      "marker files alone are not committed data")
    assert(!Crawl.hasCommittedData(spark, s"$fDir/never-created"))
    assert(Crawl.compactNext(spark, fDir) === -1L)
    assert(Crawl.compactFetched(spark, fDir) === -1L)
    // a committed file flips the probe
    Seq(("https://n/a", 1L)).toDF("url", "n_refs")
      .write.mode("overwrite").parquet(s"$fDir/next/batch=0")
    assert(Crawl.hasCommittedData(spark, s"$fDir/next"))
    assert(Crawl.compactNext(spark, fDir) === 0L)
  }

  test("recrawlSeeds: last-fetch age survives compaction; refetch clears due") {
    val d = java.nio.file.Files.createTempDirectory("crawl-recrawl")
    d.toFile.deleteOnExit()
    val fDir = d.resolve("frontier").toString
    Seq("https://r/old", "https://r/refetched").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=0")
    Seq("https://r/mid").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=3")
    Seq("https://r/refetched", "https://r/new").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=8")
    def due(before: Long): Set[(String, Long)] =
      Crawl.recrawlSeeds(spark, fDir, before)
        .as[(String, Long)].collect().toSet
    // the refetch at batch 8 advanced that url's age out of the due set
    assert(due(5L) === Set(("https://r/old", 0L), ("https://r/mid", 3L)))
    assert(due(1L) === Set(("https://r/old", 0L)))
    assert(due(9L).map(_._1) === Set("https://r/old", "https://r/mid",
      "https://r/refetched", "https://r/new"))
    // compaction preserves every url's last-fetch batch
    assert(Crawl.compactFetched(spark, fDir) === 8L)
    assert(due(5L) === Set(("https://r/old", 0L), ("https://r/mid", 3L)))
    val folded = spark.read.parquet(s"$fDir/fetched")
      .select("url", "batch").as[(String, Long)].collect().toSet
    assert(folded === Set(("https://r/old", 0L), ("https://r/mid", 3L),
      ("https://r/refetched", 8L), ("https://r/new", 8L)))
  }

  test("hostHealth: status classes fold per canonical host; -1 counts nowhere") {
    val recs = Seq(
      ("response", "https://A.test/1", 200), // canonical host fold
      ("response", "https://a.test:443/2", 301),
      ("revisit", "https://a.test/3", 200), // recapture = ok
      ("response", "https://a.test/4", 404),
      ("response", "https://a.test/5", 429),
      ("response", "https://a.test/6", 503),
      ("response", "https://a.test/7", -1), // malformed: undetermined
      ("request", "https://a.test/8", 200), // non-response types drop
      ("response", "https://b.test/1", 500))
      .toDF("warc_type", "target_uri", "http_status")
    val got = Crawl.hostHealth(recs)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(("a.test", 3L, 1L, 1L, 1L),
      ("b.test", 0L, 0L, 0L, 1L)))
  }

  test("mirrorHosts: shared-content pairs, boilerplate guard, host canon") {
    val pages = Seq(
      // a.test and b.test mirror two pages; b.test url is a CASED
      // variant with a default port — the canonical-host key must fold
      ("https://a.test/1", "h1"), ("https://A.TEST:443/1b", "h2"),
      ("https://b.test/1", "h1"), ("https://b.test/2", "h2"),
      ("https://b.test/2dup", "h2"), // same hash twice on one host: 1 row
      ("https://c.test/solo", "h3"), // unshared
      ("https://a.test/null", null), // no observation
      // boilerplate on 4 hosts > maxHostsPerHash=3: never pairs
      ("https://a.test/b", "bp"), ("https://b.test/b", "bp"),
      ("https://c.test/b", "bp"), ("https://d.test/b", "bp"))
      .toDF("url", "content_md5")
    val got = Crawl.mirrorHosts(pages, minShared = 2, maxHostsPerHash = 3)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // a.test: h1,h2,bp = 3 distinct; b.test: h1,h2,bp = 3; shared 2
    assert(got === Seq(("a.test", "b.test", 2L, 3L, 3L)))
    // drop the guard: boilerplate inflates every pair — 6 pairs appear
    val loose = Crawl.mirrorHosts(pages, minShared = 1,
      maxHostsPerHash = 16)
    assert(loose.count() === 6L)
  }

  test("hostTemplates flags within-host repeated bodies; the gate drops them") {
    val pages = Seq(
      // h1 serves a soft-404 template at 3 urls (threshold 3: flagged)
      ("https://h1.test/a", "nf"), ("https://h1.test/b", "nf"),
      ("https://h1.test/c", "nf"),
      // the SAME hash on h2 at 2 urls: under threshold, per-host key
      ("https://h2.test/a", "nf"), ("https://h2.test/b", "nf"),
      // a real page + a duplicate URL row (countDistinct: one url)
      ("https://h1.test/real", "p1"), ("https://h1.test/real", "p1"),
      // null-hash rows pass the gate untouched
      ("https://h1.test/redir", null))
      .toDF("url", "content_md5")
    val tpl = Crawl.hostTemplates(pages, minUrls = 3)
      .as[(String, String, Long)].collect().toSeq
    assert(tpl === Seq(("h1.test", "nf", 3L)))
    val kept = Crawl.dropTemplatePages(pages, Crawl.hostTemplates(pages, 3))
      .select("url").as[String].collect().toSet
    assert(kept === Set("https://h2.test/a", "https://h2.test/b",
      "https://h1.test/real", "https://h1.test/redir"))
  }

  test("imageFetchList: refs, fetched gating, blocklist + robots arms; bytes join (r17)") {
    val base = java.nio.file.Files.createTempDirectory("crawl-imgfetch")
    base.toFile.deleteOnExit()
    val fDir = base.resolve("frontier").toString
    // pairs ledger: two pages reference img/1 (n_refs 2), one each for
    // the others; one url already fetched, one on a blocked host, one
    // robots-disallowed
    Seq(("https://p/a", "https://img.test/1", 0L),
      ("https://p/b", "https://img.test/1", 0L),
      ("https://p/c", "https://img.test/2", 0L),
      ("https://p/d", "https://done.test/3", 0L),
      ("https://p/e", "https://ads.bad.test/4", 0L),
      ("https://p/f", "https://img.test/private/5", 0L))
      .toDF("url", "img_url", "batch")
      .withColumn("alt", lit(null).cast("string"))
      .withColumn("title", lit(null).cast("string"))
      .withColumn("caption", lit(null).cast("string"))
      .select("url", "img_url", "alt", "title", "caption", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/images")
    // the shared fetched ledger gates ANY prior fetch — incl. a
    // non-text 200 landed by a crawl batch (images ride the same gate)
    Seq(("https://done.test/3", null.asInstanceOf[String], 1L, 0L, 0L))
      .toDF("url", "content_md5", "n_obs", "n_changes", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/fetched")
    // no gates: everything unfetched surfaces with its ref count
    val all = Crawl.imageFetchList(spark, fDir)
      .as[(String, Long)].collect().toMap
    assert(all === Map("https://img.test/1" -> 2L,
      "https://img.test/2" -> 1L, "https://ads.bad.test/4" -> 1L,
      "https://img.test/private/5" -> 1L))
    // the shared-materialization knob (r18): a caller-provided ledger
    // read must produce the identical fetch list
    val viaShared = Crawl.imageFetchList(spark, fDir,
        pairsLedger = Crawl.imagePairsLedger(spark, fDir).localCheckpoint())
      .as[(String, Long)].collect().toMap
    assert(viaShared === all, "pairsLedger knob diverged")
    // blocklist (host-suffix) + robots gates compose
    val rules = Robots.rulesDf(Seq(
      ("img.test", "User-agent: *\nDisallow: /private/"))
      .toDF("host", "body"), "host", "body")
    val gated = Crawl.imageFetchList(spark, fDir,
      blockedDomains = Seq("bad.test").toDF("domain"),
      robotsRules = rules)
      .select("url").as[String].collect().toSet
    assert(gated === Set("https://img.test/1", "https://img.test/2"))
    // bytes join: 200 bodies attach to EVERY referencing pair; non-200
    // and unfetched pairs drop
    val records = Seq(
      ("response", "https://img.test/1", 200, "one".getBytes("UTF-8")),
      ("response", "https://img.test/2", 404, "no".getBytes("UTF-8")))
      .toDF("warc_type", "target_uri", "http_status", "body")
    val joined = Crawl.imageBytesJoin(
      Crawl.imagePairsLedger(spark, fDir), records)
      .select($"url", $"img_url", $"body".cast("string"))
      .as[(String, String, String)].collect().toSet
    assert(joined === Set(
      ("https://p/a", "https://img.test/1", "one"),
      ("https://p/b", "https://img.test/1", "one")))
    // absent ledger -> empty fetch list, not an error
    assert(Crawl.imageFetchList(spark,
      base.resolve("nowhere").toString).count() === 0L)

    // ---- bloom routing (r17): output-identical, crawl-age-proof ----
    val bloomPath = base.resolve("bf").toString
    Crawl.buildFetchedBloom(spark, fDir, null, 100, 0.01, bloomPath,
      includeNext = false)
    val art = Crawl.loadFetchedBloomArtifact(spark, bloomPath).get
    assert(!art.coversNext)
    val routed = Crawl.imageFetchList(spark, fDir, bloomArtifact = art)
      .as[(String, Long)].collect().toMap
    assert(routed === all, s"bloom-routed fetch list diverged: $routed")
    // a url fetched AFTER the bloom build lands in a trickle partition
    // (batch >= coversBelow) — a STALE artifact must still gate it
    Seq(("https://img.test/2", null.asInstanceOf[String], 1L, 0L))
      .toDF("url", "content_md5", "n_obs", "n_changes")
      .write.parquet(s"$fDir/fetched/batch=${art.coversBelow}")
    val afterTrickle = Crawl.imageFetchList(spark, fDir,
        bloomArtifact = art)
      .select("url").as[String].collect().toSet
    assert(!afterTrickle.contains("https://img.test/2"),
      "a post-bloom fetch must gate through the trickle partitions")
    assert(afterTrickle.contains("https://img.test/1"))
    // forced false positive: plant a never-fetched url in the filter —
    // the exact rescue must keep it in the fetch list
    art.bloom.putString("https://img.test/1")
    val rescued = Crawl.imageFetchList(spark, fDir, bloomArtifact = art)
      .select("url").as[String].collect().toSet
    assert(rescued.contains("https://img.test/1"),
      "a bloom false positive must rescue via the exact join")
  }

  test("mediaFetchList: refs, fetched/blocklist/robots gates, bytes join (r17)") {
    val base = java.nio.file.Files.createTempDirectory("crawl-medfetch")
    base.toFile.deleteOnExit()
    val fDir = base.resolve("frontier").toString
    // media ledger: two feeds reference ep/1 (n_refs 2), one each for
    // the others; one enclosure already fetched, one on a blocked
    // host, one robots-disallowed; a supersession sentinel never
    // surfaces in the fetch list
    Seq(("https://f/a", "https://cdn.test/ep/1", "A", 0L),
      ("https://f/b", "https://cdn.test/ep/1", "B", 0L),
      ("https://f/c", "https://cdn.test/ep/2", "C", 0L),
      ("https://f/d", "https://done.test/ep/3", "D", 0L),
      ("https://f/e", "https://ads.bad.test/ep/4", "E", 0L),
      ("https://f/f", "https://cdn.test/private/5", "F", 0L),
      ("https://f/gone", null, null, 0L))
      .toDF("url", "media_url", "caption", "batch")
      .withColumn("mime_type", lit("audio/mpeg"))
      .select("url", "media_url", "caption", "mime_type", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/media")
    Seq(("https://done.test/ep/3", null.asInstanceOf[String], 1L, 0L, 0L))
      .toDF("url", "content_md5", "n_obs", "n_changes", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/fetched")
    val all = Crawl.mediaFetchList(spark, fDir)
      .as[(String, Long)].collect().toMap
    assert(all === Map("https://cdn.test/ep/1" -> 2L,
      "https://cdn.test/ep/2" -> 1L, "https://ads.bad.test/ep/4" -> 1L,
      "https://cdn.test/private/5" -> 1L))
    // the shared-materialization knob (r18): identical output
    val viaShared = Crawl.mediaFetchList(spark, fDir,
        pairsLedger = Crawl.mediaPairsLedger(spark, fDir).localCheckpoint())
      .as[(String, Long)].collect().toMap
    assert(viaShared === all, "pairsLedger knob diverged")
    val rules = Robots.rulesDf(Seq(
      ("cdn.test", "User-agent: *\nDisallow: /private/"))
      .toDF("host", "body"), "host", "body")
    val gated = Crawl.mediaFetchList(spark, fDir,
      blockedDomains = Seq("bad.test").toDF("domain"),
      robotsRules = rules)
      .select("url").as[String].collect().toSet
    assert(gated === Set("https://cdn.test/ep/1", "https://cdn.test/ep/2"))
    // bytes join: 200 bodies attach to EVERY referencing pair;
    // non-200 and unfetched pairs drop
    val records = Seq(
      ("response", "https://cdn.test/ep/1", 200, "one".getBytes("UTF-8")),
      ("response", "https://cdn.test/ep/2", 404, "no".getBytes("UTF-8")))
      .toDF("warc_type", "target_uri", "http_status", "body")
    val joined = Crawl.mediaBytesJoin(
      Crawl.mediaPairsLedger(spark, fDir), records)
      .select($"url", $"media_url", $"body".cast("string"))
      .as[(String, String, String)].collect().toSet
    assert(joined === Set(
      ("https://f/a", "https://cdn.test/ep/1", "one"),
      ("https://f/b", "https://cdn.test/ep/1", "one")))
    // absent ledger -> empty fetch list, not an error
    assert(Crawl.mediaFetchList(spark,
      base.resolve("nowhere").toString).count() === 0L)
    // bloom routing rides the shared gating tail: output-identical
    val bloomPath = base.resolve("bf").toString
    Crawl.buildFetchedBloom(spark, fDir, null, 100, 0.01, bloomPath,
      includeNext = false)
    val art = Crawl.loadFetchedBloomArtifact(spark, bloomPath).get
    val routed = Crawl.mediaFetchList(spark, fDir, bloomArtifact = art)
      .as[(String, Long)].collect().toMap
    assert(routed === all, s"bloom-routed media fetch list diverged: $routed")
  }

  test("pairEmbeddingFilter: cosine gate, missing/zero-norm drop, guards (r17)") {
    val pairs = Seq(
      ("https://p/1", "https://i/a", "x"),
      ("https://p/1", "https://i/b", "y"), // opposite-direction img
      ("https://p/2", "https://i/a", "z"), // no text embedding
      ("https://p/3", "https://i/z", "w"), // zero-norm img embedding
      ("https://p/4", "https://i/none", "v")) // no img embedding
      .toDF("url", "img_url", "alt")
    val v1 = Array(1f, 0f, 0f, 0f)
    val vNeg = Array(-1f, 0f, 0f, 0f)
    val imgEmb = Seq(("https://i/a", v1), ("https://i/b", vNeg),
      ("https://i/z", Array(0f, 0f, 0f, 0f)))
      .toDF("img_url", "embedding")
    val txtEmb = Seq(("https://p/1", v1), ("https://p/3", v1),
      ("https://p/4", v1))
      .toDF("url", "embedding")
    val kept = Crawl.pairEmbeddingFilter(pairs, imgEmb, txtEmb,
        threshold = 0.5)
      .select($"url", $"img_url", $"alt", $"clip_score")
      .as[(String, String, String, Double)].collect()
    // only the aligned pair survives: the anti-aligned one scores -1,
    // the missing/zero-norm rows have no cosine
    assert(kept.toSeq === Seq(("https://p/1", "https://i/a", "x", 1.0)))
    // reserved-column guard
    intercept[IllegalArgumentException] {
      Crawl.pairEmbeddingFilter(pairs.withColumn("clip_score", lit(1.0)),
        imgEmb, txtEmb, 0.5)
    }
  }

  test("purgeUrls: takedown rewrites the ledgers; full purge reads as absence") {
    val base = java.nio.file.Files.createTempDirectory("crawl-purge")
    base.toFile.deleteOnExit()
    val fDir = base.resolve("frontier").toString
    Seq(("https://p/keep", "h1", 1L, 0L, 0L),
      ("https://p/gone", "h2", 1L, 0L, 0L),
      ("https://p/keep", "h3", 1L, 0L, 1L))
      .toDF("url", "content_md5", "n_obs", "n_changes", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/fetched")
    Seq(("https://p/gone", 2L, 0L), ("https://p/fresh", 1L, 0L))
      .toDF("url", "n_refs", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/next")
    // the images ledger purges by page url too (r16)
    Seq(("https://p/gone", "https://img/1", "a", null, null, 0L),
      ("https://p/keep", "https://img/2", null, null, "cap", 0L))
      .toDF("url", "img_url", "alt", "title", "caption", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/images")
    // the media ledger purges by feed url too (r17)
    Seq(("https://p/gone", "https://m/e.mp3", "cap", "audio/mpeg", 0L),
      ("https://p/keep", "https://m/f.mp3", null, null, 0L))
      .toDF("url", "media_url", "caption", "mime_type", "batch")
      .write.partitionBy("batch").parquet(s"$fDir/media")
    val (pf, pn, pi, pm) = Crawl.purgeUrls(spark, fDir,
      Seq("https://p/gone", "https://p/nowhere").toDF("url"))
    assert((pf, pn, pi, pm) === ((1L, 1L, 1L, 1L)))
    assert(Crawl.mediaPairsLedger(spark, fDir)
      .select("url").as[String].collect().toSeq === Seq("https://p/keep"))
    assert(Crawl.imagePairsLedger(spark, fDir)
      .select("url").as[String].collect().toSeq === Seq("https://p/keep"))
    // survivors verbatim, per-batch layout preserved
    assert(spark.read.parquet(s"$fDir/fetched")
      .select("url", "batch").as[(String, Long)].collect().toSet ===
      Set(("https://p/keep", 0L), ("https://p/keep", 1L)))
    assert(spark.read.parquet(s"$fDir/next")
      .select("url").as[String].collect().toSeq === Seq("https://p/fresh"))
    // no-hit purge is a no-op (no rewrite)
    assert(Crawl.purgeUrls(spark, fDir,
      Seq("https://p/absent").toDF("url")) === ((0L, 0L, 0L, 0L)))
    // full purge of a ledger leaves ABSENCE, not an unreadable dir
    val (pf2, pn2, pi2, pm2) = Crawl.purgeUrls(spark, fDir,
      Seq("https://p/keep", "https://p/fresh").toDF("url"))
    assert((pf2, pn2, pi2, pm2) === ((2L, 1L, 1L, 1L)))
    assert(!Crawl.hasCommittedData(spark, s"$fDir/fetched"))
    assert(!Crawl.hasCommittedData(spark, s"$fDir/next"))
    assert(!Crawl.hasCommittedData(spark, s"$fDir/images"))
    assert(!Crawl.hasCommittedData(spark, s"$fDir/media"))
    assert(Crawl.purgeUrls(spark, fDir,
      Seq("https://p/keep").toDF("url")) === ((0L, 0L, 0L, 0L)))
  }

  test("recrawlChurn: observation counts, null gaps, compaction invariance") {
    def ledger(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"crawl-churn-$tag")
      d.toFile.deleteOnExit()
      d.resolve("frontier").toString
    }
    def rows(fDir: String, batch: Long,
             rs: Seq[(String, String)]): Unit =
      rs.toDF("url", "content")
        .select(col("url"),
          when(col("content").isNotNull, md5(col("content")))
            .as("content_md5"),
          when(col("content").isNotNull, 1L).otherwise(0L).as("n_obs"),
          lit(0L).as("n_changes"))
        .write.parquet(s"$fDir/fetched/batch=$batch")
    def history(fDir: String): Unit = {
      rows(fDir, 0L, Seq(("https://c/stable", "v1"),
        ("https://c/churny", "v1"), ("https://c/gappy", "v1")))
      rows(fDir, 1L, Seq(("https://c/stable", "v1"),
        ("https://c/churny", "v2"),
        ("https://c/gappy", null))) // 404 snapshot: observes nothing
      rows(fDir, 2L, Seq(("https://c/churny", "v3"),
        ("https://c/gappy", "v1"))) // identical around the gap: no change
    }
    val expected = Set(
      ("https://c/stable", 1L, 2L, 0L),
      ("https://c/churny", 2L, 3L, 2L),
      ("https://c/gappy", 2L, 2L, 0L))
    val plain = ledger("plain")
    history(plain)
    def churn(fDir: String): Set[(String, Long, Long, Long)] =
      Crawl.recrawlChurn(spark, fDir)
        .as[(String, Long, Long, Long)].collect().toSet
    assert(churn(plain) === expected)
    // compacting mid-history (after batch 1) must not change the math:
    // the folded row carries the last hash + accumulated counts
    val compacted = ledger("compacted")
    rows(compacted, 0L, Seq(("https://c/stable", "v1"),
      ("https://c/churny", "v1"), ("https://c/gappy", "v1")))
    rows(compacted, 1L, Seq(("https://c/stable", "v1"),
      ("https://c/churny", "v2"), ("https://c/gappy", null)))
    assert(Crawl.compactFetched(spark, compacted) === 1L)
    rows(compacted, 2L, Seq(("https://c/churny", "v3"),
      ("https://c/gappy", "v1")))
    assert(churn(compacted) === expected,
      "compaction must preserve the churn accumulators")
    // and compacting the FULL history folds to the same stats rows
    assert(Crawl.compactFetched(spark, compacted) === 2L)
    assert(churn(compacted) === expected)
    // recrawlSeeds still reads the hashed ledger (age-only view)
    assert(Crawl.recrawlSeeds(spark, compacted, 2L)
      .as[(String, Long)].collect().toSet === Set(("https://c/stable", 1L)))
    // legacy (unhashed) ledgers are refused with a clear error
    val legacy = ledger("legacy")
    Seq("https://c/x").toDF("url").write.parquet(s"$legacy/fetched/batch=0")
    val e = intercept[IllegalArgumentException](
      Crawl.recrawlChurn(spark, legacy))
    assert(e.getMessage.contains("content_md5"))
  }

  test("compactNext folds ref counts and drops since-fetched urls") {
    val d = java.nio.file.Files.createTempDirectory("crawl-next")
    d.toFile.deleteOnExit()
    val fDir = d.resolve("frontier").toString
    // url 'a' emitted in two batches (counts must SUM), 'b' emitted then
    // fetched (must DROP), 'c' emitted once
    Seq(("https://n/a", 3L), ("https://n/b", 1L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir/next/batch=0")
    Seq(("https://n/a", 2L), ("https://n/c", 5L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir/next/batch=1")
    Seq("https://n/b", "https://seed/0").toDF("url")
      .write.parquet(s"$fDir/fetched/batch=1")
    val expected = Set((1L, "https://n/a", 5L), (1L, "https://n/c", 5L))
    // the bloom-routed drop must equal the exact anti-join (false
    // positives rescued) — fold a COPY through each
    val d2 = java.nio.file.Files.createTempDirectory("crawl-next-bloom")
    d2.toFile.deleteOnExit()
    val fDir2 = d2.resolve("frontier").toString
    for (b <- 0 to 1)
      spark.read.parquet(s"$fDir/next/batch=$b")
        .write.parquet(s"$fDir2/next/batch=$b")
    spark.read.parquet(s"$fDir/fetched/batch=1")
      .write.parquet(s"$fDir2/fetched/batch=1")
    assert(Crawl.compactNext(spark, fDir) === 1L)
    val after = spark.read.parquet(s"$fDir/next")
      .select("batch", "url", "n_refs").as[(Long, String, Long)]
      .collect().toSet
    assert(after === expected, s"exact fold: $after")
    val fetchedBloom = spark.read.parquet(s"$fDir2/fetched")
      .stat.bloomFilter("url", 1000L, 0.5) // high fpp: exercise rescue
    assert(Crawl.compactNext(spark, fDir2, fetchedBloom) === 1L)
    val afterBloom = spark.read.parquet(s"$fDir2/next")
      .select("batch", "url", "n_refs").as[(Long, String, Long)]
      .collect().toSet
    assert(afterBloom === expected, s"bloom fold diverged: $afterBloom")
    // re-fold is a no-op fold (idempotent maintenance)
    assert(Crawl.compactNext(spark, fDir) === 1L)
    assert(spark.read.parquet(s"$fDir/next")
      .select("batch", "url", "n_refs").as[(Long, String, Long)]
      .collect().toSet === expected)
    // absent dir -> -1
    assert(Crawl.compactNext(spark,
      d.resolve("nothing").toString) === -1L)
    // STALE-artifact safety (r17): a url fetched AFTER the filter was
    // built must still drop — the artifact's coverage cutoff sends the
    // bloom-negative set through the post-cutoff trickle partitions
    val d3 = java.nio.file.Files.createTempDirectory("crawl-next-stale")
    d3.toFile.deleteOnExit()
    val fDir3 = d3.resolve("frontier").toString
    Seq(("https://n/a", 3L), ("https://n/c", 5L)).toDF("url", "n_refs")
      .write.parquet(s"$fDir3/next/batch=0")
    Seq("https://n/b").toDF("url")
      .write.parquet(s"$fDir3/fetched/batch=1")
    // filter built NOW covers batches < 2; then 'c' is fetched at 2
    val staleBloom = spark.read.parquet(s"$fDir3/fetched")
      .stat.bloomFilter("url", 1000L, 0.01)
    Seq("https://n/c").toDF("url")
      .write.parquet(s"$fDir3/fetched/batch=2")
    assert(Crawl.compactNext(spark, fDir3,
      Crawl.FetchedBloomArtifact(staleBloom, coversBelow = 2L,
        coversNext = false)) === 0L)
    val afterStale = spark.read.parquet(s"$fDir3/next")
      .select("url").as[String].collect().toSet
    assert(afterStale === Set("https://n/a"),
      s"a post-build fetch must drop via the trickle: $afterStale")
    // a next-covering artifact is refused outright
    intercept[IllegalArgumentException] {
      Crawl.compactNext(spark, fDir3,
        Crawl.FetchedBloomArtifact(staleBloom, 2L, coversNext = true))
    }
  }

  test("dedupePairsByImage: container-swap mirrors collapse, corrupt passes (r17)") {
    import graft.multimodal.Multimodal
    // img A: constant mid-gray (ahash 0); its cdn-b copy is the SAME
    // pixels re-encoded P6 (container swap). img B: hard vertical
    // split -> 32 bits set, hamming 32 from A (no accidental pairing).
    val w = 16; val h = 8
    val pxA = Array.fill[Byte](w * h * 3)(128.toByte)
    val pxB = Array.tabulate[Byte](w * h * 3) { i =>
      val x = (i / 3) % w
      if (x < w / 2) 0.toByte else 255.toByte
    }
    val images = Seq(
      ("https://a.cdn/img/1.bmp", Multimodal.encodeBmp(w, h, pxA)),
      ("https://b.cdn/m/1.bmp", Multimodal.encodePpm(w, h, pxA)),
      ("https://a.cdn/img/2.bmp", Multimodal.encodeBmp(w, h, pxB)),
      ("https://a.cdn/x/bad.bin", "NOTANIMAGE".getBytes("UTF-8")))
      .toDF("img_url", "body")
    val pairs = Seq(
      ("https://p/A", "https://a.cdn/img/1.bmp", "cap"),
      ("https://p/A", "https://b.cdn/m/1.bmp", "cap"), // folds with ^
      ("https://p/B", "https://b.cdn/m/1.bmp", "other"), // re-keys
      ("https://p/C", "https://a.cdn/img/2.bmp", "solo"),
      ("https://p/D", "https://a.cdn/x/bad.bin", "bad"))
      .toDF("url", "img_url", "alt")
    val got = Crawl.dedupePairsByImage(pairs, images)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("https://p/A", "https://a.cdn/img/1.bmp", "cap"),
      ("https://p/B", "https://a.cdn/img/1.bmp", "other"),
      ("https://p/C", "https://a.cdn/img/2.bmp", "solo"),
      ("https://p/D", "https://a.cdn/x/bad.bin", "bad")))
    // foldExact=false keeps page A's two re-keyed rows
    val unfolded = Crawl.dedupePairsByImage(pairs, images,
      foldExact = false).as[(String, String, String)].collect().toSeq
    assert(unfolded.size === 5)
    assert(unfolded.count(_ == ("https://p/A", "https://a.cdn/img/1.bmp",
      "cap")) === 2)
  }

  test("pairQualityFilter: dims, aspect, caption length, boilerplate df (r17)") {
    val pairs = Seq(
      // (url, img, alt, w, h)
      ("https://p/1", "i1", "a fine caption", 100, 80),   // keeps
      ("https://p/2", "i2", "tiny image", 10, 80),        // minWidth
      ("https://p/3", "i3", "short h", 100, 5),           // minHeight
      ("https://p/4", "i4", "banner", 400, 40),           // aspect 10 > 3
      ("https://p/5", "i5", "x", 100, 80),                // caption short
      ("https://p/6", "i6", "y" * 999, 100, 80),          // caption long
      ("https://p/7", "i7", "logo", 100, 80),             // boilerplate
      ("https://p/8", "i8", "logo", 100, 80),
      ("https://p/9", "i9", "logo", 100, 80),
      ("https://p/10", "i10", "exact aspect 3", 240, 80)) // boundary keeps
      .toDF("url", "img_url", "alt", "width", "height")
      // undecodable row: null dims drop
      .unionByName(Seq(("https://p/11", "i11", "no dims"))
        .toDF("url", "img_url", "alt")
        .withColumn("width", lit(null).cast("int"))
        .withColumn("height", lit(null).cast("int")))
    val kept = Crawl.pairQualityFilter(pairs, minWidth = 32, minHeight = 24,
        maxAspect = 3.0, minCaptionChars = 3, maxCaptionChars = 200,
        maxCaptionPages = 2)
      .select("url").as[String].collect().toSet
    assert(kept === Set("https://p/1", "https://p/10"))
    // column order survives the anti-join
    assert(Crawl.pairQualityFilter(pairs, maxCaptionPages = 2).columns.toSeq
      === Seq("url", "img_url", "alt", "width", "height"))
    // the same caption on ONE page is not boilerplate
    val single = Seq(("https://p/1", "i1", "logo", 100, 80),
      ("https://p/1", "i2", "logo", 100, 80))
      .toDF("url", "img_url", "alt", "width", "height")
    assert(Crawl.pairQualityFilter(single, minWidth = 32, minHeight = 24,
      maxAspect = 3.0, minCaptionChars = 3, maxCaptionChars = 200,
      maxCaptionPages = 1).count() === 2L)
  }

  test("dedupePairsByAudio: re-containered mirrors collapse, corrupt passes (r17)") {
    import graft.multimodal.Multimodal
    // clip A: digital silence (all energies 0 -> hash 0); its cdn-b
    // copy is the SAME samples re-encoded at a different header rate
    // (container swap). clip B: strictly decaying block energy -> all
    // 64 gradient bits set, hamming 64 from A (no accidental pairing).
    val sA = Array.fill[Short](650)(0)
    val sB = Array.tabulate[Short](650) { k =>
      (((127 - k / 10) - 0) << 8).toShort
    }
    val media = Seq(
      ("https://a.cdn/au/1.wav", Multimodal.encodeWav(8000, sA)),
      ("https://b.cdn/re/1.wav", Multimodal.encodeWav(16000, sA)),
      ("https://a.cdn/au/2.wav", Multimodal.encodeWav(8000, sB)),
      ("https://a.cdn/x/bad.bin", "NOTAUDIO".getBytes("UTF-8")))
      .toDF("media_url", "body")
    val pairs = Seq(
      ("https://f/A", "https://a.cdn/au/1.wav", "cap"),
      ("https://f/A", "https://b.cdn/re/1.wav", "cap"), // folds with ^
      ("https://f/B", "https://b.cdn/re/1.wav", "other"), // re-keys
      ("https://f/C", "https://a.cdn/au/2.wav", "solo"),
      ("https://f/D", "https://a.cdn/x/bad.bin", "bad"))
      .toDF("url", "media_url", "caption")
    val got = Crawl.dedupePairsByAudio(pairs, media)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("https://f/A", "https://a.cdn/au/1.wav", "cap"),
      ("https://f/B", "https://a.cdn/au/1.wav", "other"),
      ("https://f/C", "https://a.cdn/au/2.wav", "solo"),
      ("https://f/D", "https://a.cdn/x/bad.bin", "bad")))
    val unfolded = Crawl.dedupePairsByAudio(pairs, media,
      foldExact = false).as[(String, String, String)].collect().toSeq
    assert(unfolded.size === 5)
    assert(unfolded.count(_ == ("https://f/A", "https://a.cdn/au/1.wav",
      "cap")) === 2)
  }

  test("dedupePairsByVideo: clipped copies collapse by containment (r17)") {
    import graft.multimodal.Multimodal
    // frames with CONTROLLED distinct hashes: constant gray (hash 0),
    // right-white (bits bx>=4), bottom-white (bits by>=4), and their
    // complements (left-/top-white) for the disjoint clip
    val w = 16; val h = 12
    def px(f: (Int, Int) => Boolean) = Array.tabulate[Byte](w * h * 3) { i =>
      val pix = i / 3
      if (f(pix % w, pix / w)) 255.toByte else 0.toByte
    }
    val fG = Array.fill[Byte](w * h * 3)(128.toByte)
    val fRight = px((x, _) => x >= w / 2)
    val fBottom = px((_, y) => y >= h / 2)
    val fLeft = px((x, _) => x < w / 2)
    val fTop = px((_, y) => y < h / 2)
    def cat(frames: Array[Byte]*) = {
      val out = new java.io.ByteArrayOutputStream()
      frames.foreach(f => out.write(Multimodal.encodePpm(w, h, f)))
      out.toByteArray
    }
    val media = Seq(
      ("https://a.cdn/vid/1.ppm", cat(fG, fRight, fBottom)),
      // clipped copy: a strict 2-of-3 frame subset -> containment 1.0
      ("https://b.cdn/cl/1.ppm", cat(fG, fRight)),
      ("https://a.cdn/vid/2.ppm", cat(fLeft, fTop)),
      ("https://a.cdn/x/bad.bin", "NOTAVIDEO".getBytes("UTF-8")))
      .toDF("media_url", "body")
    val pairs = Seq(
      ("https://f/A", "https://a.cdn/vid/1.ppm", "cap"),
      ("https://f/A", "https://b.cdn/cl/1.ppm", "cap"), // folds with ^
      ("https://f/B", "https://b.cdn/cl/1.ppm", "other"), // re-keys
      ("https://f/C", "https://a.cdn/vid/2.ppm", "solo"),
      ("https://f/D", "https://a.cdn/x/bad.bin", "bad"))
      .toDF("url", "media_url", "caption")
    val got = Crawl.dedupePairsByVideo(pairs, media)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("https://f/A", "https://a.cdn/vid/1.ppm", "cap"),
      ("https://f/B", "https://a.cdn/vid/1.ppm", "other"),
      ("https://f/C", "https://a.cdn/vid/2.ppm", "solo"),
      ("https://f/D", "https://a.cdn/x/bad.bin", "bad")))
    // a 1-of-3 overlap (containment 1/3) must NOT pair
    val weak = Seq(
      ("https://a.cdn/vid/1.ppm", cat(fG, fRight, fBottom)),
      ("https://b.cdn/ov/1.ppm", cat(fG, fLeft, fTop)))
      .toDF("media_url", "body")
    val wk = Crawl.dedupePairsByVideo(
      pairs.limit(0).unionByName(Seq(
        ("https://f/X", "https://b.cdn/ov/1.ppm", "x"))
        .toDF("url", "media_url", "caption")), weak)
      .as[(String, String, String)].collect().toSet
    assert(wk === Set(("https://f/X", "https://b.cdn/ov/1.ppm", "x")))
  }

  test("audioPairQualityFilter: duration/rate/silence/caption gates (r17)") {
    val pairs = Seq(
      // (url, media, caption, n_samples, rate, energy)
      ("https://f/1", "m1", "a fine caption", 16000L, 8000L, 5L), // keeps
      ("https://f/2", "m2", "too short clip", 4000L, 8000L, 5L),  // < 1s
      ("https://f/3", "m3", "too long clip", 80001L, 8000L, 5L),  // > 10s
      ("https://f/4", "m4", "phone band", 16000L, 4000L, 5L),     // rate
      ("https://f/5", "m5", "silence", 16000L, 8000L, 0L),        // energy
      ("https://f/6", "m6", "x", 16000L, 8000L, 5L),              // caption
      ("https://f/7", "m7", "Trailer", 16000L, 8000L, 5L),        // df
      ("https://f/8", "m8", "Trailer", 16000L, 8000L, 5L),
      ("https://f/9", "m9", "Trailer", 16000L, 8000L, 5L),
      ("https://f/10", "m10", "exactly ten s", 80000L, 8000L, 5L)) // bound
      .toDF("url", "media_url", "caption", "n_samples", "sample_rate",
        "sum_sq_dev")
      // null caption keeps (title-less convention); null stats drop
      .unionByName(Seq(("https://f/11", "m11", 16000L, 8000L, 5L))
        .toDF("url", "media_url", "n_samples", "sample_rate",
          "sum_sq_dev")
        .withColumn("caption", lit(null).cast("string"))
        .select("url", "media_url", "caption", "n_samples",
          "sample_rate", "sum_sq_dev"))
      .unionByName(Seq(("https://f/12", "m12", "never decoded"))
        .toDF("url", "media_url", "caption")
        .withColumn("n_samples", lit(null).cast("long"))
        .withColumn("sample_rate", lit(null).cast("long"))
        .withColumn("sum_sq_dev", lit(null).cast("long")))
    val kept = Crawl.audioPairQualityFilter(pairs, minDurS = 1L,
        maxDurS = 10L, minSampleRate = 8000L, minCaptionChars = 3,
        maxCaptionChars = 200, maxCaptionFeeds = 2)
      .select("url").as[String].collect().toSet
    assert(kept === Set("https://f/1", "https://f/10", "https://f/11"))
    // column order survives the anti-join
    assert(Crawl.audioPairQualityFilter(pairs).columns.toSeq
      === Seq("url", "media_url", "caption", "n_samples", "sample_rate",
        "sum_sq_dev"))
    // requireCaption drops the title-less arm; dropSilent=false keeps
    // the silent one
    assert(!Crawl.audioPairQualityFilter(pairs, minDurS = 1L,
        maxDurS = 10L, minCaptionChars = 3, maxCaptionChars = 200,
        maxCaptionFeeds = 2, requireCaption = true)
      .select("url").as[String].collect().toSet
      .contains("https://f/11"))
    assert(Crawl.audioPairQualityFilter(pairs, minDurS = 1L,
        maxDurS = 10L, minCaptionChars = 3, maxCaptionChars = 200,
        maxCaptionFeeds = 2, dropSilent = false)
      .select("url").as[String].collect().toSet
      .contains("https://f/5"))
  }

  test("videoPairQualityFilter: dims/aspect/frames/caption gates (r17)") {
    val pairs = Seq(
      // (url, media, caption, w, h, nf)
      ("https://f/1", "v1", "a fine clip", 100, 80, 3),   // keeps
      ("https://f/2", "v2", "tiny", 10, 80, 3),           // minWidth
      ("https://f/3", "v3", "banner clip", 400, 40, 3),   // aspect
      ("https://f/4", "v4", "thumbnail", 100, 80, 1),     // minFrames
      ("https://f/5", "v5", "livestream", 100, 80, 99),   // maxFrames
      ("https://f/6", "v6", "x", 100, 80, 3),             // caption short
      ("https://f/7", "v7", "Trailer", 100, 80, 3),       // df
      ("https://f/8", "v8", "Trailer", 100, 80, 3),
      ("https://f/9", "v9", "Trailer", 100, 80, 3))
      .toDF("url", "media_url", "caption", "width", "height", "n_frames")
      .unionByName(Seq(("https://f/10", "v10", 100, 80, 3))
        .toDF("url", "media_url", "width", "height", "n_frames")
        .withColumn("caption", lit(null).cast("string"))
        .select("url", "media_url", "caption", "width", "height",
          "n_frames"))                                    // null cap keeps
      .unionByName(Seq(("https://f/11", "v11", "no meta"))
        .toDF("url", "media_url", "caption")
        .withColumn("width", lit(null).cast("int"))
        .withColumn("height", lit(null).cast("int"))
        .withColumn("n_frames", lit(null).cast("int")))   // never decoded
    val kept = Crawl.videoPairQualityFilter(pairs, minWidth = 32,
        minHeight = 24, maxAspect = 3.0, minFrames = 2, maxFrames = 10,
        minCaptionChars = 3, maxCaptionChars = 200, maxCaptionFeeds = 2)
      .select("url").as[String].collect().toSet
    assert(kept === Set("https://f/1", "https://f/10"))
    // column order survives; requireCaption drops the null-cap arm
    assert(Crawl.videoPairQualityFilter(pairs).columns.toSeq
      === Seq("url", "media_url", "caption", "width", "height",
        "n_frames"))
    assert(!Crawl.videoPairQualityFilter(pairs, minWidth = 32,
        minHeight = 24, maxAspect = 3.0, minFrames = 2, maxFrames = 10,
        minCaptionChars = 3, maxCaptionChars = 200, maxCaptionFeeds = 2,
        requireCaption = true)
      .select("url").as[String].collect().toSet
      .contains("https://f/10"))
  }

  test("frontier gated by robots keeps only fetchable urls") {
    val pages = Seq(
      ("https://s/1", Seq("https://a.example/ok/1",
        "https://a.example/private/1", "https://b.example/x")))
      .toDF("url", "links")
    val crawled = Seq("https://s/1").toDF("url")
    val rules = Robots.rulesDf(Seq(
      ("a.example", "User-agent: *\nDisallow: /private/"))
      .toDF("host", "body"))
    val gated = Robots.filterAllowed(
      Crawl.frontier(pages, crawled), rules, "graftbot")
      .select("url").as[String].collect().toSet
    assert(gated === Set("https://a.example/ok/1", "https://b.example/x"))
  }
}
