package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sitemap ingestion (sitemaps.org protocol) — the OTHER frontier feeder:
 * where [[HtmlText.htmlLinks]] discovers urls by crawling, sitemaps are
 * the site-declared seed list (robots.txt `Sitemap:` lines →
 * [[Robots.sitemapUrls]] → fetch → this parser). Both `<urlset>` page
 * entries and `<sitemapindex>` child-sitemap entries surface as `<loc>`
 * values — one `<loc>` extraction serves both levels, but the two MUST
 * route differently (r15): an index's locs are sitemap FILES to fetch
 * and re-parse ([[childSitemaps]]), never page seeds — a large site's
 * index lists thousands of child sitemaps, and seeding those urls into
 * the page frontier fetches XML into the corpus pipeline. [[seeds]]/
 * [[seedsFromBytes]]/[[seedsWithLastmod]] therefore skip index bodies.
 */
object Sitemaps {

  /** Is this body a `<sitemapindex>` (child-sitemap listing) rather
    * than a `<urlset>` (page listing)? The protocol makes a file
    * exactly one of the two, so classification is by whichever ROOT
    * tag opens first (case-insensitive). Bodies with neither tag
    * (bare loc soup — out-of-spec but crawl reality) classify as page
    * listings, preserving the permissive pre-r15 seeding. */
  def isIndex(xml: String): Boolean = {
    if (xml == null) return false
    val lower = xml.toLowerCase(java.util.Locale.ROOT)
    val idx = lower.indexOf("<sitemapindex")
    if (idx < 0) return false
    val us = lower.indexOf("<urlset")
    us < 0 || idx < us
  }

  private[pipeline] def decodeBody(body: Array[Byte]): Option[String] = {
    if (body == null) return None
    graft.sources.Warc.gunzipAll(body).map { bytes =>
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    }
  }

  /** The exact pattern [[locs]] implements, in the Java∩RE2 subset —
    * DuckDB `regexp_extract_all(xml, pattern, 1)` rebuilds the kernel's
    * output verbatim (the [[HtmlText.LinkPattern]] convention; the spec
    * cross-checks against `java.util.regex`). */
  val LocPattern: String = "(?i)<loc>([^<]*)</loc>"

  /** `<loc>` values in document order. Semantics are EXACTLY leftmost
    * non-overlapping [[LocPattern]] matches (group 1) — values are kept
    * verbatim at THIS layer so the pattern string remains the portable
    * oracle (the protocol XML-escapes `&`/`<` inside loc; [[seeds]]
    * decodes + canonicalizes before the crawled check). O(n) scan,
    * total on garbage, never throws. */
  def locs(xml: String): Array[String] = {
    if (xml == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = xml.length
    def lower(c: Char): Char = Character.toLowerCase(c)
    def tagAt(i: Int, t: String): Boolean = {
      if (i + t.length > n) return false
      var k = 0
      while (k < t.length) {
        if (lower(xml.charAt(i + k)) != t.charAt(k)) return false
        k += 1
      }
      true
    }
    var i = 0
    while (i < n) {
      if (xml.charAt(i) == '<' && tagAt(i, "<loc>")) {
        val capStart = i + 5
        var j = capStart
        while (j < n && xml.charAt(j) != '<') j += 1
        if (j < n && tagAt(j, "</loc>")) {
          out += xml.substring(capStart, j)
          i = j + 6 // resume after the closing tag (non-overlapping)
        } else i = j // '<' that is not </loc>: the [^<]* capture can
        // never complete here; the next match can only start at this '<'
      } else i += 1
    }
    out.toArray
  }

  /** (loc, lastmod|null) pairs in document order (r15): the protocol's
    * OPTIONAL `<lastmod>` is the site-declared change signal — the
    * complement of the crawl's own observed churn
    * ([[Crawl.recrawlChurn]]): a sitemap lastmod NEWER than a url's
    * last fetch is a refresh hint the fetcher gets for free. Pairing is
    * positional, matching the protocol's entry shape without an XML
    * parser: a `<lastmod>` value attaches to the MOST RECENT preceding
    * `<loc>` that has none yet (entries never nest and put loc first;
    * an entry without lastmod pairs with null; a stray lastmod before
    * any loc drops). Loc extraction is byte-identical to [[locs]]
    * (spec-pinned). Values stay verbatim — W3C datetime normalization
    * is the consumer's step. Total, O(n), never throws. */
  def locsWithLastmod(xml: String): Array[(String, String)] = {
    if (xml == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val n = xml.length
    def lower(c: Char): Char = Character.toLowerCase(c)
    def tagAt(i: Int, t: String): Boolean = {
      if (i + t.length > n) return false
      var k = 0
      while (k < t.length) {
        if (lower(xml.charAt(i + k)) != t.charAt(k)) return false
        k += 1
      }
      true
    }
    var pendingLoc: String = null
    var pendingMod: String = null
    var havePending = false
    def flush(): Unit = {
      if (havePending) out += ((pendingLoc, pendingMod))
      pendingLoc = null; pendingMod = null; havePending = false
    }
    var i = 0
    while (i < n) {
      if (xml.charAt(i) == '<' && tagAt(i, "<loc>")) {
        val capStart = i + 5
        var j = capStart
        while (j < n && xml.charAt(j) != '<') j += 1
        if (j < n && tagAt(j, "</loc>")) {
          flush()
          pendingLoc = xml.substring(capStart, j)
          havePending = true
          i = j + 6
        } else i = j
      } else if (xml.charAt(i) == '<' && tagAt(i, "<lastmod>")) {
        val capStart = i + 9
        var j = capStart
        while (j < n && xml.charAt(j) != '<') j += 1
        if (j < n && tagAt(j, "</lastmod>")) {
          if (havePending && pendingMod == null)
            pendingMod = xml.substring(capStart, j)
          i = j + 10
        } else i = j
      } else i += 1
    }
    flush()
    out.toArray
  }

  /** [[locsWithLastmod]] over a RAW (possibly gzipped) body — the
    * [[locsFromBytes]] sibling. */
  def locsWithLastmodFromBytes(body: Array[Byte])
      : Array[(String, String)] =
    decodeBody(body).map(locsWithLastmod).getOrElse(Array.empty)

  /** [[locs]] over a RAW fetched body: sitemaps ship gzipped
    * (`sitemap.xml.gz` — the protocol's own 50 MB/50k-url limits assume
    * it) at least as often as plain, so the binary form sniffs the gzip
    * magic and inflates (multi-member, bomb-guarded — the shared
    * [[graft.sources.Warc.gunzipAll]] kernel) before the UTF-8 decode
    * (REPLACE — the protocol mandates UTF-8; garbage bytes must not
    * kill a task) and the `<loc>` scan. Corrupt gzip yields no locs.
    * Total, never throws. */
  def locsFromBytes(body: Array[Byte]): Array[String] =
    // corrupt compressed bodies cost themselves (no locs)
    decodeBody(body).map(locs).getOrElse(Array.empty)

  /** Seed candidates from fetched sitemap bodies: every `<loc>` value
    * XML-entity-decoded (the protocol MANDATES escaping `&` as `&amp;`
    * inside loc — a raw capture fetches multi-param urls at a wrong
    * address), CANONICALIZED exactly like the frontier
    * ([[UrlResolve.selfNormalize]] — since r14; a non-canonical loc
    * fetched raw lands a ledger row that never matches the
    * frontier-normalized form of the same page, one duplicate fetch per
    * seed), then anti-joined against `crawled` and ref-counted across
    * sitemaps (a url listed by several sitemaps is a stronger seed).
    * Relative and non-http(s) locs null out at the canonicalize. Same
    * output shape as [[Crawl.frontier]] — the two feeders union
    * naturally, and the 'crawled side is frontier-normalized BY
    * CONSTRUCTION' invariant now covers both. */
  def seeds(sitemaps: DataFrame, crawled: DataFrame,
            xmlCol: String = "body", urlCol: String = "url"): DataFrame = {
    // index bodies route to childSitemaps, never into page seeds; the
    // classify+extract pair stays ONE udf call (one scan of the body)
    val u = udf((s: String) =>
      if (isIndex(s)) Array.empty[String] else locs(s))
    seedsOf(sitemaps, crawled, u(col(xmlCol)), urlCol)
  }

  /** [[seeds]] over RAW (possibly gzipped) fetched bodies — the shape a
    * crawl actually lands sitemaps in ([[locsFromBytes]]). */
  def seedsFromBytes(sitemaps: DataFrame, crawled: DataFrame,
                     bodyCol: String = "body",
                     urlCol: String = "url"): DataFrame = {
    // one decode per body: classify + extract inside the same udf
    val u = udf((b: Array[Byte]) =>
      decodeBody(b) match {
        case Some(xml) if !isIndex(xml) => locs(xml)
        case _ => Array.empty[String]
      })
    seedsOf(sitemaps, crawled, u(col(bodyCol)), urlCol)
  }

  /** The OTHER level of the hierarchy (r15): child-sitemap urls from
    * `<sitemapindex>` bodies — (url, n_refs, lastmod), the fetch list
    * a sitemap-ingestion loop feeds back into itself (fetch → classify
    * → pages to [[seedsFromBytes]], children back here) until the tree
    * is exhausted; real trees are 2 levels by the protocol's own
    * limits. `lastmod` = MAX verbatim value across listings — the
    * index-declared change signal, so a refresh loop refetches only
    * child sitemaps the site says changed. `fetched` (same convention
    * as the page side's `crawled`) holds already-fetched sitemap urls;
    * non-index bodies contribute nothing. */
  def childSitemaps(sitemaps: DataFrame, fetched: DataFrame,
                    bodyCol: String = "body",
                    urlCol: String = "url"): DataFrame = {
    val pairs = udf((b: Array[Byte]) =>
      decodeBody(b) match {
        case Some(xml) if isIndex(xml) => locsWithLastmod(xml)
        case _ => Array.empty[(String, String)]
      })
    val canon =
      udf((s: String) => UrlResolve.selfNormalize(HtmlText.decodeAttr(s)))
    sitemaps.select(explode(pairs(col(bodyCol))).as("_lm"))
      .select(canon(col("_lm._1")).as("url"), col("_lm._2").as("lastmod"))
      .filter(col("url").isNotNull)
      .join(fetched.select(col(urlCol).cast("string").as("url")),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"), max(col("lastmod")).as("lastmod"))
  }

  /** [[seeds]] carrying the site-declared change signal (r15): per
    * seed url, `n_refs` plus `lastmod` = the MAX verbatim `<lastmod>`
    * across its listings (W3C datetime strings order lexicographically
    * within one format; null when no listing declares one — max
    * ignores nulls). A fetcher joins this against the fetched ledger
    * ([[Crawl.recrawlChurn]] / last-fetch ages) to refresh exactly the
    * urls the site SAYS changed — free change detection where the
    * churn signal needs a refetch to observe. Same crawled-side
    * semantics as [[seeds]]. */
  def seedsWithLastmod(sitemaps: DataFrame, crawled: DataFrame,
                       bodyCol: String = "body",
                       urlCol: String = "url"): DataFrame = {
    // like seedsFromBytes, index bodies contribute no PAGE seeds
    val pairs = udf((b: Array[Byte]) =>
      decodeBody(b) match {
        case Some(xml) if !isIndex(xml) => locsWithLastmod(xml)
        case _ => Array.empty[(String, String)]
      })
    val canon =
      udf((s: String) => UrlResolve.selfNormalize(HtmlText.decodeAttr(s)))
    sitemaps.select(explode(pairs(col(bodyCol))).as("_lm"))
      .select(canon(col("_lm._1")).as("url"), col("_lm._2").as("lastmod"))
      .filter(col("url").isNotNull)
      .join(crawled.select(col(urlCol).cast("string").as("url")),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"), max(col("lastmod")).as("lastmod"))
  }

  private def seedsOf(sitemaps: DataFrame, crawled: DataFrame,
                      locsExpr: Column, urlCol: String): DataFrame = {
    // decode + canonicalize in ONE kernel call per loc (the explode must
    // sit in its own projection — generators cannot nest in expressions)
    val canon =
      udf((s: String) => UrlResolve.selfNormalize(HtmlText.decodeAttr(s)))
    sitemaps.select(explode(locsExpr).as("_loc"))
      .select(canon(col("_loc")).as("url"))
      .filter(col("url").isNotNull)
      // left_anti is insensitive to right-side duplicates — no distinct
      .join(crawled.select(col(urlCol).cast("string").as("url")),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"))
  }
}
