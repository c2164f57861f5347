package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The crawl-to-corpus batch component — the shared body of the streaming
 * ingest loop ([[graft.streaming.EventStreams.crawlIngestStream]]), the
 * `crawl-ingest` CLI, and the `crawl_corpus` declared query: WARC
 * records → 200-status responses → charset-aware visible-text extraction
 * ([[HtmlText.extractFromBodies]]) → MinHash near-dup prune against the
 * persisted corpus index (as-of the previous installment) → fold the
 * survivors in at this installment.
 *
 * Telemetry is first-class: every batch reports how many responses it
 * saw, how many decoded through a charset fallback (the possible-mojibake
 * signal — silently dropped/garbled pages are invisible downstream, so
 * the rate must be observable AT INGEST), how many extracted empty, how
 * many were pruned as near-dups, and how many were appended.
 *
 * Scale: the stored index never re-bands (probe broadcasts the batch
 * when it fits `broadcastMaxBytes` of extracted text; a bulk backfill
 * batch above it takes the probe's hash-shuffled dual path instead of a
 * multi-GB shingle-set broadcast); extraction is map-side; the dominant
 * cost is the batch's own shingle/band work — ingesting 1 GB into a
 * 100 TB corpus costs the 1 GB batch's work.
 */
object Crawl {

  /** Per-batch ingest counters (see object doc). `responses` counts
    * 200-status response records; `charsetFallbacks` of those decoded via
    * the windows-1252/REPLACE fallback (declared charset failed strict
    * decode); `emptyText` extracted to nothing (dropped); `duplicates`
    * were pruned against the stored corpus; `appended` survived;
    * `redirects` counts the 3xx-with-Location records whose targets were
    * handed to the frontier (0 when the frontier feed is off or the
    * records lack the `http_location` column); `nonText` counts the
    * 200-responses skipped by the [[textish]] Content-Type gate
    * (ledger-fed, never extracted — counted only when the frontier feed
    * is on; the batch-only form filters them without the extra scan);
    * `noindexed` (r14) counts non-empty text pages excluded from the
    * corpus by a robots-meta `noindex`/`none` directive (still
    * ledger-fed; their links still feed the frontier unless nofollow'd);
    * `revisits` (r15) counts unchanged-content recaptures — WARC
    * `revisit` records and 304 Not Modified responses — that fed the
    * churn ledger as observations without entering the corpus;
    * `imagePairs` (r16) counts the resolved image–text pairs handed to
    * the `onImages` consumer (0 when that feed is off). */
  final case class BatchStats(responses: Long, charsetFallbacks: Long,
                              emptyText: Long, duplicates: Long,
                              appended: Long, redirects: Long = 0L,
                              nonText: Long = 0L, noindexed: Long = 0L,
                              revisits: Long = 0L, imagePairs: Long = 0L,
                              mediaPairs: Long = 0L)

  /** 200-responses this TEXT pipeline extracts: HTML/XHTML and plain
    * text (a missing Content-Type gets the benefit of the doubt —
    * unlabeled HTML is common crawl reality). Everything else must NOT
    * flow through the charset ladder: a JPEG "decoded" via the
    * windows-1252 fallback becomes mojibake "text", and (r14 — the gate
    * narrowed from every text subtype) text/css / text/javascript 200s
    * are real crawl traffic whose "visible text" is boilerplate code
    * that pollutes dedup, LM scoring and the corpus itself.
    * Non-extracted pages still count as FETCHED (ledger). */
  private val textish: org.apache.spark.sql.Column =
    col("http_content_type").isNull ||
      col("http_content_type")
        .rlike("(?i)^\\s*(text/(html|plain)|application/xhtml)")

  /** Read one long metric from an [[org.apache.spark.sql.Observation]]
    * whose action has already run (r18: per-batch tallies ride the
    * localCheckpoint materializations as observed metrics instead of
    * paying their own aggregate actions — guide §2.6 fewer actions).
    * SQL sums over zero rows are null → 0. */
  private def obsLong(obs: org.apache.spark.sql.Observation,
                      name: String): Long =
    obs.get.get(name) match {
      case Some(v: java.lang.Number) => v.longValue()
      case _ => 0L
    }

  /** Run one crawl batch against the MinHash corpus index at `indexPath`.
    *
    * `records` is any DataFrame in the [[graft.sources.Warc.WarcRecord]]
    * shape (the `format("warc")` source or `Warc.warcRecords`). If the
    * index does not exist yet, the batch BOOTSTRAPS it
    * (`minhashIndexBuild` at installment 0 — every doc is fresh);
    * otherwise the batch probes as-of `installment - 1` and folds
    * survivors in at `installment` via the replay-idempotent
    * `minhashIndexAppendAt` (same-number retries overwrite themselves).
    *
    * `use` runs over the survivors WHILE they are materialized (write
    * them, count them, collect a small projection); they are released
    * before return, so `use` must not return a lazy plan over them.
    *
    * `onPageLinks`, when set, receives (url, links, base, canonical,
    * content_md5, revisit) for EVERY page the batch FETCHED — text 200s (near-dups included: their
    * outlinks are still valid discoveries) extracted in the same fused
    * decode pass with their declared `<base href>` (null when absent);
    * since r14 the links honor the markup's politeness signals
    * ([[HtmlText.htmlOutlinks]]: rel=nofollow anchors dropped,
    * robots-meta nofollow drops all anchors, the meta-refresh redirect
    * target appended) and robots-meta `noindex` pages stay OUT of the
    * corpus while still feeding ledger + frontier; `canonical` carries
    * the page's `<link rel=canonical>` target (raw; null for
    * redirect/dead/non-text rows) — the URL-level dedup key a crawl DB
    * wants beside the outlinks; `content_md5` (r15) carries md5 of the
    * page's extracted text (null for empty-text, redirect, dead and
    * non-text rows) — persisted into the fetched ledger it is the
    * change-observation the [[recrawlChurn]] refresh policy weighs;
    * `revisit` (r15) marks unchanged-content recapture rows (WARC
    * `revisit` records, 304 responses): null-hash observations whose
    * n_obs must still count (the stream writes n_obs = 1 for them);
    * 3xx redirects as one-outlink pages (their `Location`, when the
    * records carry `http_location`; base null — a Location resolves
    * against the redirect source), non-text 200s and PERMANENT-4xx
    * dead pages with empty links — so a fetched-URL ledger built from
    * these urls gates every url class against refetching, not just
    * successful pages. Like `use` it must consume eagerly (the backing
    * checkpoint is released on return). Compose with [[frontier]] for
    * the next fetch round. */
  def ingestBatch[A](spark: SparkSession, records: DataFrame,
                     indexPath: String, installment: Int,
                     threshold: Double = 0.8, maxBucketSize: Int = 1000,
                     shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                     broadcastMaxBytes: Long = 64L << 20,
                     onPageLinks: DataFrame => Unit = null,
                     onRobots: DataFrame => Unit = null,
                     onImages: DataFrame => Unit = null,
                     onMedia: DataFrame => Unit = null)
                    (use: DataFrame => A): (A, BatchStats) = {
    // links ride the SAME fused decode pass when the caller wants them
    // (the frontier feeder) -- decoding every body twice would double
    // the dominant per-row cost of the batch
    val wantLinks = onPageLinks != null
    // `onImages` (r16) receives the batch's image–text pairs — (url,
    // img_url, alt, title, caption), srcs RESOLVED against each page's
    // effective base and frontier-normalized exactly like hrefs
    // ([[HtmlText.htmlImages]] riding the same fused decode; the
    // LAION-shape multimodal feeder). Pairs come from extracted text
    // 200s only — near-dup pages still report (their pairs are valid
    // observations; a ledger keeps latest-per-url), robots-meta
    // noindex pages do NOT (the page asked to stay out of corpora).
    // Consumes eagerly like the other callbacks. Requires onPageLinks
    // (the shared extraction shape).
    val wantImages = onImages != null
    require(!wantImages || wantLinks,
      "onImages requires onPageLinks (the shared fused extraction)")
    // `onRobots` (late r15) receives the batch's checkpointed response
    // projection WITH robots.txt fetch records of EVERY status folded
    // in (5xx robots — the RFC 9309 complete-disallow signal — match
    // no other checkpoint class; a second records scan would re-run
    // the WARC member walk); feed it to
    // [[Robots.outcomesFromRecords]] for the robots-cache ledger.
    // It runs BEFORE onPageLinks so a landed outcome can gate the
    // same batch's frontier. Only supported alongside a frontier
    // consumer (the checkpoint exists only then).
    val wantRobots = onRobots != null
    require(!wantRobots || wantLinks,
      "onRobots requires onPageLinks (the shared records checkpoint)")
    // `onMedia` (r17) receives the batch's audio/video–text pairs
    // harvested from FEED bodies among the 200s — xml-typed responses
    // (rss/atom/text/application xml; xhtml excluded — that is a PAGE)
    // routed through [[Feeds.enclosuresBySource]], one row per
    // (feed url, media_url, caption, mime_type) plus a (url, nulls)
    // SUPERSESSION SENTINEL for every feed-typed 200 that harvested
    // nothing (the images-ledger discipline — a refetched feed that
    // dropped an episode must supersede its stale pairs). Consumes
    // eagerly. Requires onPageLinks (the shared records checkpoint —
    // feeds are non-text 200s and never reach extraction).
    val wantMedia = onMedia != null
    require(!wantMedia || wantLinks,
      "onMedia requires onPageLinks (the shared records checkpoint)")
    // redirect targets feed the frontier too (http→https and www→apex
    // migrations are a huge slice of real crawls) — but only when the
    // records carry the http_location column (pre-r13 record shapes
    // don't) and a frontier consumer exists
    val hasLocation = records.columns.contains("http_location")
    val hasXRobots = records.columns.contains("http_x_robots")
    val wantRedirects = wantLinks && hasLocation
    val deadCond = col("http_status") >= 400 && col("http_status") < 500 &&
      col("http_status") =!= 408 && col("http_status") =!= 429
    // when a frontier consumer exists, checkpoint ONE narrow projection
    // of every status class it needs (200 + redirect + dead) so the raw
    // WARC bytes parse exactly once (a second records scan would re-run
    // the member walk over the whole batch); without one, the
    // 200-filter feeds extraction directly as before
    // unchanged-content recaptures are OBSERVATIONS for the churn
    // ledger (r15): WARC `revisit` records (ISO 28500 §6.7.2 — the
    // form Common Crawl writes for deduplicated recaptures) and 304
    // Not Modified responses (what a conditional fetch sending the
    // ledger's validators gets back). Both mean "fetched again, same
    // content": the url's age advances AND its n_obs counts — with a
    // NULL hash, so churn never pairs them into a false transition
    // (and the later genuinely-changed fetch pairs against the
    // PRE-revisit hash, which is exactly the content it changed from).
    val revisitCond = col("warc_type") === "revisit" ||
      (col("warc_type") === "response" && col("http_status") === 304)
    val respBase =
      if (wantLinks)
        records.filter(col("warc_type").isin("response", "revisit"))
      else records.filter(col("warc_type") === "response")
    val redirect3xx = col("http_status").isin(301, 302, 303, 307, 308)
    // a 3xx WITHOUT a Location header can't be followed — but it was
    // FETCHED, so it must enter the ledger like a permanent 4xx (empty
    // links) or any page that keeps linking it refetches it every batch
    val ledgerDeadCond =
      if (hasLocation) deadCond || (redirect3xx && col("http_location").isNull)
      else deadCond
    // the three ledger-class tallies (non-text 200s, revisits, followable
    // redirects) ride the checkpoint's own materialization as OBSERVED
    // metrics (r18): the former one-aggregate job over the checkpointed
    // frame was a full extra action — planning + scheduling round-trip —
    // for conditional sums the checkpoint pass computes for free.
    val classObs = org.apache.spark.sql.Observation()
    val isResponse0 = col("warc_type") === "response"
    val resp0 =
      if (!wantLinks) respBase.filter(col("http_status") === 200 && textish)
      else {
        val redirectCond =
          if (hasLocation) redirect3xx && col("http_location").isNotNull
          else lit(false)
        val cols = Seq(col("warc_type"), col("target_uri"),
          col("http_status"), col("http_content_type")) ++
          (if (hasLocation) Seq(col("http_location")) else Nil) ++
          (if (hasXRobots) Seq(col("http_x_robots")) else Nil) :+ col("body")
        // robots.txt records of ANY status join the checkpoint when a
        // robots consumer exists (5xx robots — the RFC 9309
        // complete-disallow signal — match no other class; they ride
        // harmlessly past the ledger/extraction filters below)
        val robotsCond =
          if (wantRobots)
            Robots.pathOf(col("target_uri")) === "/robots.txt"
          else lit(false)
        respBase
          .filter(col("http_status") === 200 || redirectCond ||
            ledgerDeadCond || revisitCond || robotsCond)
          .select(cols: _*)
          .observe(classObs,
            sum(when(isResponse0 && col("http_status") === 200 && !textish,
              1L).otherwise(0L)).as("non_text"),
            sum(when(revisitCond, 1L).otherwise(0L)).as("revisits"),
            sum(when(isResponse0 && redirect3xx &&
              (if (hasLocation) col("http_location").isNotNull
               else lit(false)), 1L).otherwise(0L)).as("redirects"))
          .localCheckpoint()
      }
    // the WHOLE projection, not just robots-path rows: outcome
    // derivation follows 3xx chains through arbitrary-path hops and
    // looks up final 200 bodies ([[Robots.outcomesFromRecords]]
    // filters internally)
    if (wantRobots) onRobots(resp0)
    var mediaPairCount = 0L
    if (wantMedia) {
      // feed-typed 200s: any xml content-type EXCEPT xhtml (a page).
      // The checkpoint keeps non-text 200 bodies precisely so channels
      // like this never re-walk the WARC members.
      val feedish = resp0.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          lower(col("http_content_type")).contains("xml") &&
          !lower(col("http_content_type")).contains("xhtml"))
        .select(col("target_uri").cast("string").as("url"), col("body"))
      // ONE PASS with sentinels fused (r18): the former shape was
      // checkpoint(harvest) + count action + sentinel anti-join +
      // checkpoint(pairs) — four driver round-trips per batch. The
      // explode_outer form emits a feed's enclosures OR one all-null
      // sentinel row in the same projection, and the pair count rides
      // the pairs checkpoint as an observed metric. Every ledger
      // read/compaction drops null-media_url rows AFTER its
      // latest-batch selection, so sentinel multiplicity never shows.
      val mObs = org.apache.spark.sql.Observation()
      val pairs = Feeds.enclosuresBySourceWithSentinels(feedish)
        .observe(mObs, sum(when(col("media_url").isNotNull, 1L)
          .otherwise(0L)).as("pairs"))
        .localCheckpoint()
      try {
        mediaPairCount = obsLong(mObs, "pairs")
        onMedia(pairs)
      } finally graft.dedup.Dedup.release(pairs)
    }
    // only RESPONSE 200s extract: a revisit record's stored status line
    // commonly says 200, but its payload is the recapture's header
    // block with no body
    val resp =
      if (wantLinks) resp0.filter(col("warc_type") === "response" &&
        col("http_status") === 200 && textish)
      else resp0
    val extAll = HtmlText.extractFromBodies(resp, "body", "text",
      "http_content_type", "cs", linksCol = if (wantLinks) "links" else null,
      baseCol = if (wantLinks) "base" else null,
      honorRobotsMeta = true, noindexCol = "noindex",
      xRobotsCol = if (hasXRobots) "http_x_robots" else null,
      canonicalCol = if (wantLinks) "canonical" else null,
      imagesCol = if (wantImages) "images" else null)
    // extraction tallies ride the ext checkpoint as observed metrics
    // (r18) — the former extStats() aggregate was one more full action
    // over the checkpointed frame
    val extObs = org.apache.spark.sql.Observation()
    val ext = (if (wantLinks)
        extAll.select(Seq(col("target_uri").as("url"), col("text"),
          col("cs_fallback"), col("noindex"), col("links"), col("base"),
          col("canonical")) ++
          (if (wantImages) Seq(col("images")) else Nil): _*)
      else extAll.select(col("target_uri").as("url"), col("text"),
        col("cs_fallback"), col("noindex")))
      .observe(extObs,
        count(lit(1)).as("n"),
        sum(when(col("cs_fallback"), 1L).otherwise(0L)).as("fb"),
        sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("empty"),
        sum(length(col("text")).cast("long")).as("bytes"),
        // noindex counts only where it EXCLUDES a would-be corpus doc
        // (empty-text noindex pages are already in `empty`)
        sum(when(col("noindex") && length(col("text")) > 0, 1L)
          .otherwise(0L)).as("noidx"))
      .localCheckpoint() // parse+extract once: feeds stats, probe, append
    try {
      // inside the try: a failing frontier write must still release the
      // checkpoint blocks (a streaming retry loop would otherwise
      // accumulate leaked storage on every failed attempt)
      var redirectCount = 0L
      var nonTextCount = 0L
      var revisitCount = 0L
      if (wantLinks) {
        // fetched-but-not-extracted classes still feed the ledger with
        // empty links: permanent-4xx dead pages AND non-text 200s (a
        // crawl refetching every image forever is as broken as one
        // refetching every 404)
        val noBase = lit(null).cast("string").as("base")
        val noCanon = lit(null).cast("string").as("canonical")
        val noMd5 = lit(null).cast("string").as("content_md5")
        val noRevisit = lit(false).as("revisit")
        // the dead/non-text classes are RESPONSE-only: a revisit
        // record's stored status line may repeat the recapture's 200
        // or 4xx, but the revisit row below is its one ledger entry
        val isResponse = col("warc_type") === "response"
        val dead = resp0.filter(isResponse && ledgerDeadCond)
          .select(col("target_uri").as("url"),
            array().cast("array<string>").as("links"), noBase, noCanon,
            noMd5, noRevisit)
        val nonText = resp0.filter(isResponse &&
            col("http_status") === 200 && !textish)
          .select(col("target_uri").as("url"),
            array().cast("array<string>").as("links"), noBase, noCanon,
            noMd5, noRevisit)
        // unchanged-content recaptures: one observation row, no links
        // (the capture they duplicate already fed its links), null hash
        val revisitRows = resp0.filter(revisitCond)
          .select(col("target_uri").as("url"),
            array().cast("array<string>").as("links"), noBase, noCanon,
            noMd5, lit(true).as("revisit"))
        // the three ledger-class tallies were observed on resp0's own
        // checkpoint pass (r17 folded three count() actions into one
        // aggregate job; r18 folds that job into the checkpoint itself —
        // zero extra actions; redirectLinks is filter+select, so its
        // count is the same conditional sum)
        nonTextCount = obsLong(classObs, "non_text")
        revisitCount = obsLong(classObs, "revisits")
        if (wantRedirects) redirectCount = obsLong(classObs, "redirects")
        val extPages =
          ext.select(col("url"), col("links"), col("base"), col("canonical"),
            // the change observation: hash of the extracted text (the
            // recrawlChurn signal); empty extractions observe nothing
            when(length(col("text")) > 0, md5(col("text")))
              .as("content_md5"), noRevisit)
        val pagesForLinks =
          (if (!wantRedirects) extPages
           else {
             val redir = redirectLinks(resp0)
               .withColumn("base", lit(null).cast("string"))
               // a Location resolves against the redirect SOURCE —
               // <base> is a document concept; a redirect has no markup
               // canonical either
               .withColumn("canonical", lit(null).cast("string"))
               .withColumn("content_md5", lit(null).cast("string"))
               .withColumn("revisit", lit(false))
             extPages.unionByName(redir)
           }).unionByName(dead).unionByName(nonText)
            .unionByName(revisitRows)
        onPageLinks(pagesForLinks)
        // the redirect/dead rows live in resp0's checkpoint; once the
        // frontier consumer has run (eagerly, per contract) only ext is
        // needed — release the raw-body blocks before the probe
        graft.dedup.Dedup.release(resp0)
      }
      var imagePairCount = 0L
      if (wantImages) {
        // resolve+normalize srcs EXACTLY like the frontier's hrefs (the
        // same fused kernel) against each page's effective base;
        // noindex pages contribute nothing (they asked out of corpora).
        // ONE PASS with sentinels fused (r18): explode_outer emits each
        // page's images — or ONE null row for a page with nothing to
        // harvest (noindex pages' arrays are nulled first) — so the
        // former harvest checkpoint + count action + sentinel anti-join
        // + second checkpoint collapse into a single projection whose
        // pair count rides the checkpoint as an observed metric.
        // SUPERSESSION SENTINELS (r17 semantics preserved): every
        // extracted 200 that harvested NO pairs — zero imgs, turned
        // noindex, or a src that failed resolve — emits a (url, null
        // img_url) all-null row, so a refetch that DROPPED its images
        // still supersedes the url's stale pairs under the ledger's
        // latest-batch read (which filters null-src rows AFTER that
        // selection — a failed-resolve null row beside real pairs is
        // equally invisible to every ledger read and compaction).
        val effBase = coalesce(
          UrlResolve.resolveCol(col("url"), col("base")), col("url"))
        val iObs = org.apache.spark.sql.Observation()
        val pairs = ext
          .select(col("url"), effBase.as("_img_base"),
            explode_outer(when(!col("noindex"), col("images"))).as("_img"))
          .select(col("url"),
            UrlResolve.resolveAndNormalizeCol(col("_img_base"),
              col("_img.src")).as("img_url"),
            col("_img.alt").as("alt"), col("_img.title").as("title"),
            col("_img.caption").as("caption"))
          .select(col("url"), col("img_url"),
            when(col("img_url").isNotNull, col("alt")).as("alt"),
            when(col("img_url").isNotNull, col("title")).as("title"),
            when(col("img_url").isNotNull, col("caption")).as("caption"))
          .observe(iObs, sum(when(col("img_url").isNotNull, 1L)
            .otherwise(0L)).as("pairs"))
          .localCheckpoint()
        try {
          imagePairCount = obsLong(iObs, "pairs")
          onImages(pairs)
        } finally graft.dedup.Dedup.release(pairs)
      }
      val responses = obsLong(extObs, "n")
      val fallbacks = obsLong(extObs, "fb")
      val empties = obsLong(extObs, "empty")
      val textBytes = obsLong(extObs, "bytes")
      val noindexed = obsLong(extObs, "noidx")
      // broadcast the batch through the probe only when it is actually
      // broadcastable: the probe ships the batch's SHINGLE SETS (several
      // times the text bytes) to every executor, so a bulk backfill batch
      // (GB-scale) must take the probe's hash-shuffled dual path instead —
      // identical output, no broadcast OOM (measured: a 240 MB-of-text
      // batch is a ~700 MB shingle-set broadcast). Streaming micro-batches
      // stay comfortably under the default 64 MB and keep the
      // stored-side-never-shuffles fast path.
      val broadcastBatch = textBytes <= broadcastMaxBytes
      // robots-meta noindex pages are fetched (ledger) and their links
      // may feed the frontier, but they must not become corpus documents
      val docs = ext.filter(length(col("text")) > 0 && !col("noindex"))
        .select("url", "text")
      val conf = spark.sparkContext.hadoopConfiguration
      val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
      val bootstrap = !metaPath.getFileSystem(conf).exists(metaPath)
      if (bootstrap) {
        // bootstrap AT the caller's installment: an at-least-once replay
        // of the bootstrap batch finds meta present, probes asOf
        // installment-1 (its own landed partition excluded -> empty
        // index -> nothing flagged) and AppendAt-OVERWRITES this same
        // partition -- idempotent, where a fixed installment 0 would
        // leave the replay appending the same docs at a second number
        graft.dedup.Dedup.minhashIndexBuild(docs, "text", "url", indexPath,
          shingleK, numHashes, bands, installment = installment)
        val result = use(docs)
        (result, BatchStats(responses, fallbacks, empties, 0L,
          responses - empties - noindexed, redirectCount, nonTextCount,
          noindexed, revisitCount, imagePairCount, mediaPairCount))
      } else {
        val dupIds = graft.dedup.Dedup.minhashIndexProbe(spark, indexPath,
            docs, "text", "url", threshold, maxBucketSize,
            broadcastBatch = broadcastBatch,
            asOfInstallment = installment - 1)
          .select(col("new_id").as("url")).distinct()
        // the survivor count rides the fresh checkpoint as an observed
        // metric (r18) — the former fresh.count() was one more action
        // over blocks the checkpoint had just materialized
        val fObs = org.apache.spark.sql.Observation()
        val fresh = docs.join(dupIds, Seq("url"), "left_anti")
          .observe(fObs, count(lit(1)).as("n"))
          .localCheckpoint()
        try {
          graft.dedup.Dedup.minhashIndexAppendAt(spark, indexPath, fresh,
            installment, "text", "url")
          val appended = obsLong(fObs, "n")
          val result = use(fresh)
          (result, BatchStats(responses, fallbacks, empties,
            responses - empties - noindexed - appended, appended,
            redirectCount, nonTextCount, noindexed, revisitCount,
            imagePairCount, mediaPairCount))
        } finally graft.dedup.Dedup.release(fresh)
      }
    } finally {
      graft.dedup.Dedup.release(ext)
      // resp0 is normally released right after the frontier consumer;
      // this double-release is an idempotent no-op, but an exception
      // BEFORE that point must not leak the raw-body checkpoint blocks
      if (wantLinks) graft.dedup.Dedup.release(resp0)
    }
  }

  /** The shared frontier head: explode outlinks, resolve each against
    * its page's url (RFC 3986 — the MAJORITY of real-world hrefs are
    * relative; dropping them starves the crawl of most of the web
    * graph), keep only fetchable http(s) results, and canonicalize with
    * [[UrlFilter.normalizeUrl]] so URL variants of one page (tracking
    * params, default ports, fragments, trailing slash, host case)
    * collapse BEFORE the crawled-set check — without it a `?utm_...`
    * variant of a crawled page refetches forever. Map-side per link. */
  private def resolvedLinks(pages: DataFrame, linksCol: String,
                            urlCol: String, baseCol: String): DataFrame = {
    // a page that declares <base href> resolves its links against THAT
    // (itself resolved against the page url — base may be relative);
    // pages without the column, or with a null/unresolvable value,
    // fall back to the page url
    val hasBase = baseCol != null && pages.columns.contains(baseCol)
    val effBase =
      if (!hasBase) col(urlCol).cast("string")
      else coalesce(
        UrlResolve.resolveCol(col(urlCol).cast("string"), col(baseCol)),
        col(urlCol).cast("string"))
    pages.select(effBase.as("_frontier_base"),
        explode(col(linksCol)).as("_frontier_link"))
      // ONE fused kernel call per link (resolve + canonicalize): the
      // equivalent normalizeUrl Column chain measured ~35 µs/link —
      // ~10 core-hours per billion links of pure canonicalization;
      // the kernel's no-work fast path proves most links need none
      // (UrlResolveSpec pins kernel == chain)
      .select(UrlResolve.resolveAndNormalizeCol(col("_frontier_base"),
        col("_frontier_link")).as("url"))
      .filter(col("url").isNotNull)
  }

  private def guardFrontierCols(pages: DataFrame): Unit =
    require(!pages.columns.contains("_frontier_base") &&
      !pages.columns.contains("_frontier_link"),
      "column names _frontier_base/_frontier_link are reserved by frontier")

  /** The next fetch round from this batch's outlinks: hrefs RESOLVED
    * against their page url (absolute, scheme-relative `//host/x`,
    * root-relative `/x`, path-relative with `../` dot segments — see
    * [[UrlResolve]]), normalized ([[UrlFilter.normalizeUrl]]), minus
    * everything in `crawled`, with per-target reference counts (the
    * fetch-priority signal). This is the `crawl_frontier` query's
    * kernel — one explode + one anti-join + one count aggregate;
    * nothing scales with anything but the inputs.
    *
    * `pages` is the (url, links) shape `ingestBatch`'s `onPageLinks`
    * hands out (page url = the resolution base; a `baseCol` column,
    * when present, overrides it per page — the `<base href>` element,
    * itself resolved against the page url); `crawled` is whatever
    * url universe must not re-enter (the batch's own urls +
    * [[crawledUrls]], or at real corpus scale a fetched-URL Bloom
    * filter — [[frontierBloom]] — since an exact anti-join against a
    * billion-url set shuffles it per batch). The crawled universe holds
    * frontier-normalized urls BY CONSTRUCTION (fetch urls come from
    * frontier output), so only the link side pays the normalize. */
  def frontier(pages: DataFrame, crawled: DataFrame,
               linksCol: String = "links", urlCol: String = "url",
               baseCol: String = "base"): DataFrame = {
    guardFrontierCols(pages)
    resolvedLinks(pages, linksCol, urlCol, baseCol)
      // no distinct on the crawled side: left_anti is insensitive to
      // right-side duplicates, and a dedup pass over a corpus-sized url
      // set per batch buys nothing
      .join(crawled.select(col(urlCol).cast("string").as("url")),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"))
  }

  /** [[frontier]] with a crawled-URL Bloom filter — EXACTLY the same
    * output, with the corpus-sized `crawled` side never shuffling (the
    * decontaminateBloom pattern made URL-shaped):
    *  - `mightContain == false` links are DEFINITELY fresh (a Bloom has
    *    no false negatives) — they skip the join entirely;
    *  - the `maybe` trickle (true dups + fpp·fresh) broadcasts into an
    *    inner join against `crawled` (map-side stream over the big
    *    side), and the confirmed hits broadcast back into the anti-join.
    * Per-batch cost at 100 TB: one map-side scan of the crawled set and
    * two broadcast joins of batch-bounded sets — no billion-url
    * shuffle. Build/maintain the filter with [[buildCrawledBloom]] /
    * [[saveBloom]] / [[loadBloom]]. */
  def frontierBloom(pages: DataFrame, crawled: DataFrame,
                    bloom: org.apache.spark.util.sketch.BloomFilter,
                    linksCol: String = "links",
                    urlCol: String = "url",
                    baseCol: String = "base"): DataFrame =
    frontierBloomBc(pages, crawled,
      pages.sparkSession.sparkContext.broadcast(bloom), linksCol, urlCol,
      baseCol)

  /** [[frontierBloom]] with a CALLER-OWNED broadcast — the streaming
    * loop's form: a corpus-scale filter (1 B urls ≈ 1.2 GB) must ship
    * to the executors once per MAINTENANCE CYCLE, not once per
    * micro-batch, so the caller caches the broadcast across batches
    * (EventStreams keys it by artifact mtime) and this overload never
    * re-broadcasts. */
  def frontierBloomBc(pages: DataFrame, crawled: DataFrame,
                      bc: org.apache.spark.broadcast.Broadcast[
                        org.apache.spark.util.sketch.BloomFilter],
                      linksCol: String = "links",
                      urlCol: String = "url",
                      baseCol: String = "base"): DataFrame = {
    guardFrontierCols(pages)
    val might = udf { (u: String) => u != null && bc.value.mightContain(u) }
    val links = resolvedLinks(pages, linksCol, urlCol, baseCol)
    val definiteFresh = links.filter(!might(col("url")))
    val maybes = links.filter(might(col("url")))
    // NO distinct on the crawled side: it would shuffle/aggregate the
    // corpus-sized set per batch — the exact cost this function exists
    // to remove — and the downstream left_anti is insensitive to
    // duplicate confirmed rows anyway. The crawled set only ever
    // STREAMS map-side through the broadcast inner join; `confirmed`
    // dedups AFTER it, where the set is maybe-bounded, to keep the
    // broadcast-back small.
    val confirmed = crawled
      .select(col(urlCol).cast("string").as("url"))
      .join(broadcast(maybes.select("url").distinct()), Seq("url"))
      .distinct()
    val maybeFresh = maybes.join(broadcast(confirmed), Seq("url"), "left_anti")
    definiteFresh.unionByName(maybeFresh)
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"))
  }

  /** A Bloom filter over every url the index has folded in (the
    * [[crawledUrls]] universe) — build at maintenance cadence, then
    * every batch's frontier runs through [[frontierBloom]] without
    * shuffling the crawled set. Size it for the TARGET corpus: 1 B urls
    * at 1% fpp is ~1.2 GB — an executor-broadcastable maintenance
    * artifact, vs re-shuffling 50+ GB of url strings per batch. */
  def buildCrawledBloom(spark: SparkSession, indexPath: String,
                        expectedItems: Long, fpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter =
    crawledUrls(spark, indexPath).stat.bloomFilter("url", expectedItems, fpp)

  /** Persist a Bloom beside the index (atomic temp+rename — the
    * maintenance-swap convention). */
  def saveBloom(spark: SparkSession, bloom: org.apache.spark.util.sketch.BloomFilter,
                path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "._writing")
    val out = fs.create(tmp, true)
    try bloom.writeTo(out) finally out.close()
    if (fs.exists(p) && !fs.delete(p, false))
      throw new java.io.IOException(s"bloom swap failed for $path")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"bloom rename failed for $path")
  }

  /** Load a [[saveBloom]] artifact. */
  def loadBloom(spark: SparkSession, path: String)
      : org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Politeness scheduling: assign each frontier url a per-host fetch
    * ROUND — round r across all hosts can fetch concurrently while no
    * host sees more than one request per round (ref-count priority,
    * url-asc ties — the engine-portable ASCII ordering). Ranked through
    * the bounded [[graft.functions.TopK.topLabelsPerGroup]] aggregator
    * (≤ maxRounds rows per host per task — no window funnel over a
    * mega-host), which also IS the policy cap: urls beyond `maxRounds`
    * wait for the next crawl cycle, exactly what a real fetcher does
    * with a million-page host.
    *
    * The politeness key is the CANONICAL host ([[UrlFilter.hostOf]]:
    * lowercased, userinfo skipped, port elided) — a raw-authority key
    * would give `Example.com`, `example.com` and `example.com:8443`
    * three separate queues and hit one physical host concurrently.
    * Hostless rows (null [[UrlFilter.hostOf]]) are excluded — nothing
    * fetchable lacks a host.
    *
    * `delays`, when set, is a (host, delay_s) table (canonical lowercase
    * hosts — [[Robots.crawlDelayDf]] emits exactly this) broadcast onto
    * the schedule: hosts without a row pace at 0. The output gains
    * `delay_s` plus `not_before_s` = (round−1)·delay_s — the stacked
    * earliest-start offset a fetcher owes that host.
    *
    * `retryAfter`, when set (r15), is a (host, retry_after_s) table —
    * [[retryAfterDelays]] over the batch that discovered this frontier
    * emits exactly this — broadcast the same way: the output gains
    * `retry_after_s` (0 for hosts that are not throttling) and
    * `not_before_s` becomes retry_after_s + (round−1)·delay_s — the
    * host said WHEN it may be hit again, so every round's start shifts
    * by it. A fetcher honoring crawl-delay but not Retry-After still
    * hammers a 429/503 host.
    *
    * Output: (host, url, n_refs, round[, delay_s[, retry_after_s],
    * not_before_s]). */
  def schedule(frontier: DataFrame, maxRounds: Int,
               urlCol: String = "url", refsCol: String = "n_refs",
               delays: DataFrame = null,
               retryAfter: DataFrame = null): DataFrame = {
    val base = graft.functions.TopK.topLabelsPerGroup(
        frontier.withColumn("host", UrlFilter.hostOf(col(urlCol)))
          .filter(col("host").isNotNull),
        "host", urlCol, refsCol, maxRounds)
      .select(col("host"), col(urlCol),
        col(refsCol).cast("long").as(refsCol),
        col("rank").cast("long").as("round"))
    if (delays == null && retryAfter == null) return base
    val paced =
      if (delays == null) base.withColumn("delay_s", lit(0.0))
      else base
        .join(broadcast(delays.select(col("host"),
          col("delay_s").cast("double").as("delay_s"))), Seq("host"), "left")
        .na.fill(0.0, Seq("delay_s"))
    val withRetry =
      if (retryAfter == null) paced
      else paced
        .join(broadcast(retryAfter.select(col("host"),
          col("retry_after_s").cast("double").as("retry_after_s"))),
          Seq("host"), "left")
        .na.fill(0.0, Seq("retry_after_s"))
    val offset =
      if (retryAfter == null) lit(0.0) else col("retry_after_s")
    withRetry.withColumn("not_before_s",
      offset + (col("round") - 1).cast("double") * col("delay_s"))
  }

  /** The host graph a crawl DISCOVERS (r15): one (src_host, dst_host)
    * row per resolved outlink — src is the page's canonical host, dst
    * the link target's, each link resolved against the page's
    * effective base exactly like [[frontier]] does (the same fused
    * resolve kernel; a host edge derived from a differently-resolved
    * url would disagree with the frontier it prioritizes). Hostless
    * ends drop. Multi-edges ride through — [[graft.operators.PageRank]]
    * dedups internally. Map-side per link; feed the output (or an
    * accumulated union of batches) to [[scheduleRanked]]. */
  def hostEdges(pages: DataFrame, linksCol: String = "links",
                urlCol: String = "url", baseCol: String = "base")
      : DataFrame = {
    guardFrontierCols(pages)
    val hasBase = baseCol != null && pages.columns.contains(baseCol)
    val effBase =
      if (!hasBase) col(urlCol).cast("string")
      else coalesce(
        UrlResolve.resolveCol(col(urlCol).cast("string"), col(baseCol)),
        col(urlCol).cast("string"))
    pages.select(UrlFilter.hostOf(col(urlCol)).as("src_host"),
        effBase.as("_frontier_base"),
        explode(col(linksCol)).as("_frontier_link"))
      .select(col("src_host"),
        UrlFilter.hostOf(UrlResolve.resolveAndNormalizeCol(
          col("_frontier_base"), col("_frontier_link"))).as("dst_host"))
      .filter(col("src_host").isNotNull && col("dst_host").isNotNull)
  }

  /** [[hostEdges]] folded to one row per (src_host, dst_host) with a
    * multiplicity count — the compact per-batch form the host-edge
    * LEDGER stores (late r15): a stream's pages exist only for their
    * batch (WARC bytes parse once and are gone), so without a landed
    * edge artifact the authority loop ([[scheduleRanked]]) has no
    * graph to rank unless the caller retains pages itself. Host-pair
    * counts are tiny next to any link set (hosts², bounded in practice
    * by per-batch distinct pairs). */
  def hostEdgeCounts(pages: DataFrame, linksCol: String = "links",
                     urlCol: String = "url", baseCol: String = "base")
      : DataFrame =
    hostEdges(pages, linksCol, urlCol, baseCol)
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n"))

  /** The accumulated host graph from a frontier dir's `edges/batch=N`
    * ledger (written by `crawlIngestStream(landHostEdges = true)`) —
    * (src_host, dst_host, n) summed across batches, the
    * [[scheduleRanked]] input. Returns an empty frame when the ledger
    * is absent/uncommitted (a crawl that never landed edges ranks
    * everything 0, it does not crash). */
  def hostEdgesLedger(spark: SparkSession, frontierDir: String)
      : DataFrame = {
    val path = s"$frontierDir/edges"
    if (!hasCommittedData(spark, path))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("src_host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("dst_host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
    spark.read.parquet(path)
      .groupBy("src_host", "dst_host")
      .agg(sum(col("n")).cast("long").as("n"))
  }

  /** Fold the `edges/batch=N` partitions into ONE keyed by the highest
    * batch id seen (counts SUM per host pair) — the [[compactNext]]
    * sibling: same atomic delete+rename swap, same
    * replays-out-of-contract-afterwards convention. Returns the
    * retained batch id, or -1 when the ledger is empty/absent. */
  def compactEdges(spark: SparkSession, frontierDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val edges = new Path(s"$frontierDir/edges")
    val fs = edges.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hasCommittedData(spark, edges.toString)) return -1L
    val df = spark.read.parquet(edges.toString)
    val maxBatch = df.agg(max(col("batch"))).head() match {
      case r if r.isNullAt(0) => return -1L
      case r => r.getAs[Number](0).longValue()
    }
    val folded = df.groupBy("src_host", "dst_host")
      .agg(sum(col("n")).cast("long").as("n"))
    val tmp = new Path(s"$frontierDir/edges._compacting")
    fs.delete(tmp, true)
    folded.write.parquet(s"$tmp/batch=$maxBatch")
    val old = new Path(s"$frontierDir/edges._old")
    fs.delete(old, true)
    if (!fs.rename(edges, old))
      throw new java.io.IOException(s"edges compact swap-out failed: $edges")
    if (!fs.rename(tmp, edges))
      throw new java.io.IOException(s"edges compact swap-in failed: $edges")
    fs.delete(old, true)
    maxBatch
  }

  private val ImagePairCols = Seq("url", "img_url", "alt", "title",
    "caption")

  /** The accumulated image–text pairs from a frontier dir's
    * `images/batch=N` ledger (written by `crawlIngestStream(landImages
    * = true)` — r16): per page url, the pairs of its LATEST batch (a
    * refetched page fully replaces its older pairs — the
    * rulesFromLedger cache semantics). Since r17 every extracted 200
    * with ZERO harvested pairs lands a (url, null img_url) sentinel,
    * so a refetch that dropped its images (or turned noindex)
    * supersedes the stale pairs: the null-src rows are dropped HERE,
    * after the latest-batch selection — never before, or the sentinel
    * batch would lose to the older real pairs. Returns an empty frame
    * when the ledger is absent/uncommitted. Url-keyed aggregates over
    * an images-bearing-pages-sized table. */
  def imagePairsLedger(spark: SparkSession, frontierDir: String)
      : DataFrame = {
    val path = s"$frontierDir/images"
    if (!hasCommittedData(spark, path))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(ImagePairCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
    val df = spark.read.parquet(path)
    val latest = df.groupBy(col("url").as("_il_url"))
      .agg(max(col("batch")).as("_il_max"))
    df.join(latest, col("url") === col("_il_url") &&
        col("batch") === col("_il_max"))
      .filter(col("img_url").isNotNull)
      .select(ImagePairCols.map(col): _*)
  }

  /** Fold the `images/batch=N` partitions into ONE keyed by the highest
    * batch id seen, keeping each url's LATEST-batch pairs (exactly the
    * [[imagePairsLedger]] read — superseded pair sets drop physically,
    * and null-src supersession sentinels fold to ABSENCE: dropped after
    * the latest-batch selection, so the pairs they superseded drop with
    * them). The [[compactNext]] sibling: same atomic delete+rename
    * swap, same replays-out-of-contract-afterwards convention. Returns
    * the retained batch id, or -1 when the ledger is empty/absent. */
  def compactImages(spark: SparkSession, frontierDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val images = new Path(s"$frontierDir/images")
    val fs = images.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hasCommittedData(spark, images.toString)) return -1L
    val df = spark.read.parquet(images.toString)
    val maxBatch = df.agg(max(col("batch"))).head() match {
      case r if r.isNullAt(0) => return -1L
      case r => r.getAs[Number](0).longValue()
    }
    val latest = df.groupBy(col("url").as("_il_url"))
      .agg(max(col("batch")).as("_il_max"))
    val folded = df.join(latest, col("url") === col("_il_url") &&
        col("batch") === col("_il_max"))
      .filter(col("img_url").isNotNull)
      .select(ImagePairCols.map(col): _*)
    val tmp = new Path(s"$frontierDir/images._compacting")
    fs.delete(tmp, true)
    folded.write.parquet(s"$tmp/batch=$maxBatch")
    val old = new Path(s"$frontierDir/images._old")
    fs.delete(old, true)
    if (!fs.rename(images, old))
      throw new java.io.IOException(s"images compact swap-out failed: $images")
    if (!fs.rename(tmp, images))
      throw new java.io.IOException(s"images compact swap-in failed: $images")
    fs.delete(old, true)
    maxBatch
  }

  private val MediaPairCols = Seq("url", "media_url", "caption",
    "mime_type")

  /** The accumulated audio/video–text pairs from a frontier dir's
    * `media/batch=N` ledger (written by `crawlIngestStream(landMedia =
    * true)` — r17): per FEED url, the pairs of its LATEST batch, with
    * the null-media_url supersession sentinels dropped AFTER the
    * latest-batch selection — the [[imagePairsLedger]] semantics
    * exactly (a refetched feed that dropped an episode supersedes the
    * stale pairs; drop earlier and the sentinel batch loses to older
    * real pairs). Empty frame when absent/uncommitted. */
  def mediaPairsLedger(spark: SparkSession, frontierDir: String)
      : DataFrame = {
    val path = s"$frontierDir/media"
    if (!hasCommittedData(spark, path))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(MediaPairCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
    val df = spark.read.parquet(path)
    val latest = df.groupBy(col("url").as("_ml_url"))
      .agg(max(col("batch")).as("_ml_max"))
    df.join(latest, col("url") === col("_ml_url") &&
        col("batch") === col("_ml_max"))
      .filter(col("media_url").isNotNull)
      .select(MediaPairCols.map(col): _*)
  }

  /** Fold the `media/batch=N` partitions into ONE keyed by the highest
    * batch id seen — the [[compactImages]] sibling: latest-batch pairs
    * per feed url, sentinels fold to absence, atomic delete+rename
    * swap, replays out of contract afterwards. Returns the retained
    * batch id, or -1 when the ledger is empty/absent. */
  def compactMedia(spark: SparkSession, frontierDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val media = new Path(s"$frontierDir/media")
    val fs = media.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hasCommittedData(spark, media.toString)) return -1L
    val df = spark.read.parquet(media.toString)
    val maxBatch = df.agg(max(col("batch"))).head() match {
      case r if r.isNullAt(0) => return -1L
      case r => r.getAs[Number](0).longValue()
    }
    val latest = df.groupBy(col("url").as("_ml_url"))
      .agg(max(col("batch")).as("_ml_max"))
    val folded = df.join(latest, col("url") === col("_ml_url") &&
        col("batch") === col("_ml_max"))
      .filter(col("media_url").isNotNull)
      .select(MediaPairCols.map(col): _*)
    val tmp = new Path(s"$frontierDir/media._compacting")
    fs.delete(tmp, true)
    folded.write.parquet(s"$tmp/batch=$maxBatch")
    val old = new Path(s"$frontierDir/media._old")
    fs.delete(old, true)
    if (!fs.rename(media, old))
      throw new java.io.IOException(s"media compact swap-out failed: $media")
    if (!fs.rename(tmp, media))
      throw new java.io.IOException(s"media compact swap-in failed: $media")
    fs.delete(old, true)
    maxBatch
  }

  /** The image FETCH frontier (r17) — LAION step 2's missing glue: the
    * pairs ledger stores (page url, img_url, text) but nothing fed the
    * img_urls back into a fetch loop. This is the frontier's shape for
    * images: DISTINCT img_urls from [[imagePairsLedger]] (already
    * resolved + frontier-normalized at harvest — no re-normalize),
    * each with `n_refs` = distinct referencing pages, anti-joined
    * against the SHARED fetched ledger (an image fetched once — by
    * this loop or any other — never refetches), blocklist-gated
    * (`UrlFilter.dropBlockedUrls` host-suffix semantics) and
    * optionally robots-gated ([[Robots.filterAllowed]] — images are
    * fetches like any other). Output (url, n_refs) plugs STRAIGHT into
    * [[schedule]]/[[scheduleRanked]] for per-host politeness — the
    * machinery serves img urls unchanged. Scale shape: one
    * pairs-ledger-sized aggregate + the ledger anti-join; nothing
    * corpus-sized broadcasts.
    *
    * `bloomArtifact` (r17) is the crawl-age escape hatch the page
    * frontier already has: with a [[buildFetchedBloom]] artifact, the
    * fetched ledger never shuffles — bloom-negative urls only
    * anti-join the post-`coversBelow` TRICKLE partitions (so a url
    * fetched AFTER the bloom build still gates — a stale artifact
    * stays CORRECT, just less selective), and the ~fpp positives
    * rescue exactly with the ledger streaming map-side against the
    * broadcast maybe-set. A fetched-only artifact is optimal here; a
    * next-covering one stays correct (img urls that also appear as
    * emitted page links rescue to "not fetched" and are kept). */
  def imageFetchList(spark: SparkSession, frontierDir: String,
                     blockedDomains: DataFrame = null,
                     robotsRules: DataFrame = null,
                     agentToken: String = "graftbot",
                     bloomArtifact: FetchedBloomArtifact = null,
                     pairsLedger: DataFrame = null)
      : DataFrame = {
    // `pairsLedger` (r18, opt-in): a caller-materialized
    // [[imagePairsLedger]] read. The fetch loop's callers typically
    // need the pairs ledger TWICE — once here for the fetch list, once
    // in [[imageBytesJoin]] — and without sharing, each consumer
    // re-embeds the ledger read (scan + latest-batch join) in its own
    // plan; at crawl-age ledger sizes that re-read scales with the
    // ledger while a shared localCheckpoint does not (guide §3.3).
    // Default null = read the ledger here (unchanged behavior — at
    // small ledgers the extra materialization action can cost more
    // than the duplicate read, so sharing is the caller's call).
    val led =
      if (pairsLedger != null) pairsLedger
      else imagePairsLedger(spark, frontierDir)
    val wanted = led
      .groupBy(col("img_url"))
      .agg(countDistinct(col("url")).as("n_refs"))
      .select(col("img_url").as("url"), col("n_refs"))
    gatedFetchList(spark, wanted, frontierDir, blockedDomains,
      robotsRules, agentToken, bloomArtifact)
  }

  /** The media (audio/video enclosure) FETCH frontier (r17) — the
    * [[imageFetchList]] sibling over the `media/batch=N` ledger:
    * DISTINCT media_urls from [[mediaPairsLedger]] (already
    * selfNormalized at harvest), `n_refs` = distinct referencing
    * feeds, the same shared-fetched-ledger anti-join (exact or
    * bloom-trickle), blocklist and optional robots gates. Output
    * (url, n_refs) plugs straight into [[schedule]]/[[scheduleRanked]]
    * — enclosure fetches pace per-host like any other. */
  def mediaFetchList(spark: SparkSession, frontierDir: String,
                     blockedDomains: DataFrame = null,
                     robotsRules: DataFrame = null,
                     agentToken: String = "graftbot",
                     bloomArtifact: FetchedBloomArtifact = null,
                     pairsLedger: DataFrame = null)
      : DataFrame = {
    // `pairsLedger` (r18, opt-in): a caller-materialized
    // [[mediaPairsLedger]] read shared with [[mediaBytesJoin]] — the
    // [[imageFetchList]] knob, same default-off rationale.
    val led =
      if (pairsLedger != null) pairsLedger
      else mediaPairsLedger(spark, frontierDir)
    val wanted = led
      .groupBy(col("media_url"))
      .agg(countDistinct(col("url")).as("n_refs"))
      .select(col("media_url").as("url"), col("n_refs"))
    gatedFetchList(spark, wanted, frontierDir, blockedDomains,
      robotsRules, agentToken, bloomArtifact)
  }

  /** The shared gating tail of [[imageFetchList]]/[[mediaFetchList]]:
    * anti-join `wanted` (url, n_refs) against the frontier dir's
    * fetched ledger (exact, or bloom-routed with the post-coversBelow
    * trickle read exactly — a stale artifact stays correct), then the
    * host-suffix blocklist and the optional robots gate. */
  private def gatedFetchList(spark: SparkSession, wanted: DataFrame,
                             frontierDir: String,
                             blockedDomains: DataFrame,
                             robotsRules: DataFrame,
                             agentToken: String,
                             bloomArtifact: FetchedBloomArtifact)
      : DataFrame = {
    val fetchedPath = s"$frontierDir/fetched"
    val unfetched =
      if (!hasCommittedData(spark, fetchedPath)) wanted
      else {
        val fetchedDf = spark.read.parquet(fetchedPath)
        if (bloomArtifact == null)
          wanted.join(fetchedDf.select(col("url")), Seq("url"), "left_anti")
        else {
          val bc = spark.sparkContext.broadcast(bloomArtifact.bloom)
          val might =
            udf { (u: String) => u != null && bc.value.mightContain(u) }
          val miss = wanted.filter(!might(col("url")))
          val maybe = wanted.filter(might(col("url")))
          // the bloom covers batches < coversBelow; the later trickle
          // is read exactly (partition-pruned on batch)
          val trickle = fetchedDf
            .filter(col("batch") >= bloomArtifact.coversBelow)
            .select(col("url"))
          val missKept = miss.join(trickle, Seq("url"), "left_anti")
          val confirmed = fetchedDf.select(col("url"))
            .join(broadcast(maybe.select(col("url")).distinct()),
              Seq("url"))
            .distinct()
          missKept.unionByName(
            maybe.join(broadcast(confirmed), Seq("url"), "left_anti"))
        }
      }
    val unblocked =
      if (blockedDomains == null) unfetched
      else UrlFilter.dropBlockedUrls(unfetched, "url", blockedDomains,
        blockedDomains.columns.head)
    if (robotsRules == null) unblocked
    else Robots.filterAllowed(unblocked, robotsRules, agentToken)
  }

  /** Join fetched image payloads back to their harvested pairs — the
    * step after [[imageFetchList]]'s urls come back as WARC responses:
    * 200-response bodies key by `target_uri` (the fetcher fetched the
    * normalized img_url, so the keys agree by construction) and attach
    * to every (page, img_url, text) pair referencing them, ready for
    * the multimodal decode/phash chain. The batch of fetched records
    * broadcasts into the pairs side (pairs ledger = the big side,
    * never shuffles). */
  def imageBytesJoin(pairs: DataFrame, records: DataFrame): DataFrame = {
    val resp = records
      .filter(col("warc_type") === "response" && col("http_status") === 200)
      .select(col("target_uri").cast("string").as("img_url"), col("body"))
    pairs.join(broadcast(resp), Seq("img_url"))
  }

  /** Join fetched enclosure payloads back to their harvested
    * audio/video–text pairs — the [[imageBytesJoin]] sibling for the
    * media channel: 200-response bodies key by `target_uri` (the
    * fetcher fetched the normalized media_url, so the keys agree by
    * construction) and attach to every (feed, media_url, caption)
    * pair referencing them, ready for the audio/video decode chain.
    * Records broadcast into the pairs side. */
  def mediaBytesJoin(pairs: DataFrame, records: DataFrame): DataFrame = {
    val resp = records
      .filter(col("warc_type") === "response" && col("http_status") === 200)
      .select(col("target_uri").cast("string").as("media_url"), col("body"))
    pairs.join(broadcast(resp), Seq("media_url"))
  }

  /** CLIP-style pair filtering (r17) — LAION step 3: once the fetched
    * images and the captions have embeddings (any bi-encoder; the
    * embedding computation itself is external to this engine), keep
    * only the pairs whose image–text cosine crosses `threshold` — the
    * filter that turns a raw crawl harvest into a training set. Joins
    * are url-keyed equi-joins (pairs ⋈ imgEmb on img_url, ⋈ txtEmb on
    * the page url) — both embedding sides may be corpus-sized, so
    * nothing is forced broadcast; AQE picks SMJ at scale. The score
    * rides out as `clip_score` (exact cosine via the codegen'd
    * [[graft.functions.expressions.CosineSimilarity]] kernel); rows
    * whose either embedding is missing or zero-norm drop (no cosine —
    * the vector family rule). */
  def pairEmbeddingFilter(pairs: DataFrame, imgEmb: DataFrame,
                          txtEmb: DataFrame, threshold: Double,
                          imgKey: String = "img_url",
                          txtKey: String = "url",
                          vecCol: String = "embedding"): DataFrame = {
    require(!pairs.columns.contains("_pef_iv") &&
      !pairs.columns.contains("_pef_tv") &&
      !pairs.columns.contains("clip_score"),
      "columns _pef_iv/_pef_tv/clip_score are reserved by " +
        "pairEmbeddingFilter")
    val iv = imgEmb.select(col(imgKey).as("img_url"),
      col(vecCol).as("_pef_iv"))
    val tv = txtEmb.select(col(txtKey).as("url"),
      col(vecCol).as("_pef_tv"))
    pairs.join(iv, Seq("img_url"))
      .join(tv, Seq("url"))
      .withColumn("clip_score",
        graft.functions.expressions.CosineSimilarity.cosineNative(
          col("_pef_iv"), col("_pef_tv")))
      .filter(col("clip_score") >= threshold)
      .drop("_pef_iv", "_pef_tv")
  }

  /** Perceptual image dedup over a pairs corpus (r17) — LAION step 4:
    * the same image behind many urls (mirror CDN copies, re-encoded
    * containers, protocol/host variants the url normalizer cannot
    * see) would otherwise dominate a training set with byte-distinct
    * duplicates. `images` carries ONE row per fetched img_url (the
    * [[imageBytesJoin]] record shape — target_uri + body); every
    * decodable image hashes ([[graft.multimodal.Multimodal.perceptualHashesByKey]]),
    * hamming near-dup urls resolve into clusters, and every pair
    * re-keys its img_url to the cluster's canonical url — the
    * LEXICOGRAPHIC MIN (engine-portable on ASCII urls, the ranking
    * tie-break rule). Pairs whose re-keying made them identical fold
    * (a page citing two mirror copies contributes its caption once);
    * pairs of NON-decodable images pass through untouched (the
    * phashPrune rule — only demonstrated duplicates collapse).
    *
    * Scale shape: hashing is one map-side pass over the fetched
    * images (bytes never shuffle — 8 B hashes do); the pair join is
    * the banded chunk join; CC runs on the near-dup pair list
    * (≪ images); the url→canonical map is dup-images-sized and
    * broadcasts into the pairs side.
    * The exact-duplicate fold is one distinct over the re-keyed pairs
    * — strings only, the same cost class as doc_exact_dedup; pass
    * `foldExact = false` to keep multiplicity. */
  def dedupePairsByImage(pairs: DataFrame, images: DataFrame,
                         maxHamming: Int = 3,
                         imgKey: String = "img_url",
                         payloadCol: String = "body",
                         foldExact: Boolean = true): DataFrame = {
    require(!pairs.columns.contains("_ipd_canon"),
      "column name _ipd_canon is reserved by dedupePairsByImage")
    val hashes = graft.multimodal.Multimodal
      .perceptualHashesByKey(images, imgKey, payloadCol).toDF()
      // refetched duplicates of one url hash identically; drop them
      // on the 8-byte rows, never on the bytes
      .select(col("key"), col("ahash")).distinct()
    rekeyPairsByCanon(pairs, hashes, imgKey, maxHamming, foldExact)
  }

  /** Perceptual audio dedup over an enclosure-pairs corpus (r17) — the
    * [[dedupePairsByImage]] sibling for the media channel: the same
    * episode behind many urls (mirror CDN copies, re-containered /
    * resample-free re-encodes the url normalizer cannot see) collapses
    * to its cluster's lexicographic-min canonical url. `media` carries
    * ONE row per fetched media_url (the [[mediaBytesJoin]] record
    * shape); every decodable clip fingerprints
    * ([[graft.multimodal.Multimodal.audioHashesByKey]] — the temporal
    * energy-gradient hash), hamming near-dup urls resolve into
    * clusters, pairs re-key, identical re-keyed pairs fold; pairs of
    * NON-decodable payloads pass through untouched. Same scale shape
    * as the image twin: bytes never shuffle — 8 B fingerprints do. */
  def dedupePairsByAudio(pairs: DataFrame, media: DataFrame,
                         maxHamming: Int = 3,
                         mediaKey: String = "media_url",
                         payloadCol: String = "body",
                         foldExact: Boolean = true): DataFrame = {
    require(!pairs.columns.contains("_ipd_canon"),
      "column name _ipd_canon is reserved by dedupePairsByAudio")
    val hashes = graft.multimodal.Multimodal
      .audioHashesByKey(media, mediaKey, payloadCol).toDF()
      .select(col("key"), col("ahash64").as("ahash")).distinct()
    rekeyPairsByCanon(pairs, hashes, mediaKey, maxHamming, foldExact)
  }

  /** The shared mirror-collapse tail of [[dedupePairsByImage]] /
    * [[dedupePairsByAudio]]: hamming-cluster the (key, ahash)
    * fingerprints, re-key every pair's `keyCol` to its cluster's
    * lexicographic-min canonical, optionally fold exact duplicates. */
  private def rekeyPairsByCanon(pairs: DataFrame, hashes: DataFrame,
                                keyCol: String, maxHamming: Int,
                                foldExact: Boolean): DataFrame = {
    val nearDups = graft.dedup.Dedup.hammingNearDuplicates64(
      hashes, "key", "ahash", maxHamming)
    rekeyPairsFromEdges(pairs, nearDups, keyCol, foldExact)
  }

  /** Video frame-set dedup over an enclosure-pairs corpus (r17) — the
    * third modality sibling of [[dedupePairsByImage]] /
    * [[dedupePairsByAudio]], by frame-set CONTAINMENT rather than a
    * single hamming fingerprint: two media_urls pair when the smaller
    * one's distinct frame-hash set is `threshold`-contained in the
    * other's ([[graft.multimodal.Multimodal.videoFrameHashesByKey]] →
    * [[graft.dedup.Dedup]]'s containment join) — the clipped/trimmed/
    * re-muxed-copy signature a whole-file hash cannot see. Clusters
    * resolve to the lexicographic-min canonical url; pairs re-key;
    * identical re-keyed pairs fold; non-visual/corrupt payloads pass
    * through untouched. The `maxDocFreq` guard prunes boilerplate
    * frames (intros, black frames) before they fan out quadratically
    * — the scale rule the video index family already follows. */
  def dedupePairsByVideo(pairs: DataFrame, media: DataFrame,
                         threshold: Double = 0.9,
                         maxDocFreq: Int = 1000,
                         mediaKey: String = "media_url",
                         payloadCol: String = "body",
                         foldExact: Boolean = true): DataFrame = {
    require(!pairs.columns.contains("_ipd_canon"),
      "column name _ipd_canon is reserved by dedupePairsByVideo")
    val sets = graft.multimodal.Multimodal
      .videoFrameHashesByKey(media, mediaKey, payloadCol).toDF()
      .select(col("key").as("id"), col("ahash").as("h"))
    val edges = graft.dedup.Dedup.containmentPairsFromSets(
      sets, threshold, maxDocFreq)
    rekeyPairsFromEdges(pairs, edges, mediaKey, foldExact)
  }

  /** The shared re-key tail: cluster the duplicate-pair edge list
    * (id_a, id_b), map every key to its cluster's lexicographic-min
    * canonical, re-key the pairs, optionally fold exact duplicates. */
  private def rekeyPairsFromEdges(pairs: DataFrame, edges: DataFrame,
                                  keyCol: String,
                                  foldExact: Boolean): DataFrame = {
    val labels = graft.dedup.Dedup.connectedComponents(
      edges, "id_a", "id_b")
    val mapping = labels.filter(col("id") =!= col("rep"))
      .select(col("id").as(keyCol), col("rep").as("_ipd_canon"))
    val rekeyed = pairs.join(broadcast(mapping), Seq(keyCol), "left")
      .withColumn(keyCol, coalesce(col("_ipd_canon"), col(keyCol)))
      .drop("_ipd_canon")
      .select(pairs.columns.map(col): _*) // the join fronts its key
    // CC checkpoint blocks: call Dedup.release on the RESULT after
    // consuming it (the phashPrune contract) — releasing here would
    // drop blocks the lazy plan still needs
    if (foldExact) rekeyed.distinct() else rekeyed
  }

  /** LAION-style pair quality screens (r17) — the filtering step
    * between fetch/decode and CLIP scoring, the gates every published
    * image-text pipeline applies before embedding cost is paid:
    *
    *  - geometry: `width/height` (the decode step's output columns)
    *    must clear `minWidth`/`minHeight` (thumbnails and tracking
    *    pixels out) and `max(w,h) ≤ maxAspect·min(w,h)` (banners and
    *    sliver decorations out); null dims — undecodable payloads —
    *    drop (this gate feeds the TRAINING set, not the ledger);
    *  - caption: length in [minCaptionChars, maxCaptionChars];
    *  - boilerplate captions: a caption string carried by more than
    *    `maxCaptionPages` DISTINCT pages is navigation furniture
    *    ("logo", "stock photo") — the caption-df guard, computed over
    *    the INPUT pairs so the verdict is gate-order-independent.
    *
    * Scale shape: every gate but the df-guard is a map-side filter;
    * the guard is one (caption, url)-distinct + caption-keyed count —
    * the doc-exact-dedup cost class — and the over-threshold caption
    * set (tiny by construction: only furniture crosses a sane
    * threshold) broadcasts into an anti-join. */
  def pairQualityFilter(pairs: DataFrame,
                        minWidth: Int = 64, minHeight: Int = 64,
                        maxAspect: Double = 4.0,
                        minCaptionChars: Int = 5,
                        maxCaptionChars: Int = 1000,
                        maxCaptionPages: Long = 10,
                        urlCol: String = "url",
                        captionCol: String = "alt",
                        widthCol: String = "width",
                        heightCol: String = "height"): DataFrame = {
    require(maxAspect >= 1.0, s"maxAspect must be >= 1, got $maxAspect")
    val w = col(widthCol)
    val h = col(heightCol)
    val cap = col(captionCol)
    pairs
      .filter(w.isNotNull && h.isNotNull &&
        w >= minWidth && h >= minHeight &&
        greatest(w, h).cast("double") <= lit(maxAspect) * least(w, h) &&
        length(cap) >= minCaptionChars && length(cap) <= maxCaptionChars)
      .join(broadcast(captionDfGuard(pairs, urlCol, captionCol,
        maxCaptionPages)), Seq(captionCol), "left_anti")
      .select(pairs.columns.map(col): _*) // the join fronts its key
  }

  /** The shared boilerplate-caption df guard: captions carried by more
    * than `maxN` DISTINCT urls over the INPUT pairs (navigation
    * furniture — "logo", "Trailer"), as a one-column frame the quality
    * filters anti-join away. Null captions never count. */
  private def captionDfGuard(pairs: DataFrame, urlCol: String,
                             captionCol: String, maxN: Long): DataFrame =
    pairs.filter(col(captionCol).isNotNull)
      .select(col(captionCol).as("_pqf_cap"),
        col(urlCol).as("_pqf_url")).distinct()
      .groupBy("_pqf_cap")
      .agg(countDistinct(col("_pqf_url")).as("_pqf_n"))
      .filter(col("_pqf_n") > maxN)
      .select(col("_pqf_cap").as(captionCol))

  /** LAION-style pair quality screens for the VIDEO enclosure channel
    * (r17) — the [[pairQualityFilter]] sibling over pairs joined to
    * their decoded [[graft.multimodal.Multimodal.videoMetaByKey]]
    * columns: the image geometry gates (min dims, aspect) plus a
    * frame-count window — `minFrames` drops single-frame "videos"
    * (thumbnails served as clips) and `maxFrames` bounds unsplit
    * livestream dumps; caption length bounds with null captions
    * passing unless `requireCaption` (the enclosure convention), and
    * the shared feed-df boilerplate guard. Null meta columns — never
    * decoded — drop (the training-set rule). Map-side gates + one
    * broadcast anti-join, the family shape. */
  def videoPairQualityFilter(pairs: DataFrame,
                             minWidth: Int = 64, minHeight: Int = 64,
                             maxAspect: Double = 4.0,
                             minFrames: Int = 2,
                             maxFrames: Int = Int.MaxValue,
                             minCaptionChars: Int = 2,
                             maxCaptionChars: Int = 1000,
                             requireCaption: Boolean = false,
                             maxCaptionFeeds: Long = 10,
                             urlCol: String = "url",
                             captionCol: String = "caption",
                             widthCol: String = "width",
                             heightCol: String = "height",
                             framesCol: String = "n_frames")
      : DataFrame = {
    require(maxAspect >= 1.0, s"maxAspect must be >= 1, got $maxAspect")
    require(maxFrames >= minFrames && minFrames >= 1,
      s"need 1 <= minFrames <= maxFrames, got [$minFrames, $maxFrames]")
    val w = col(widthCol)
    val h = col(heightCol)
    val nf = col(framesCol)
    val cap = col(captionCol)
    val capOk = {
      val bounded = length(cap) >= minCaptionChars &&
        length(cap) <= maxCaptionChars
      if (requireCaption) cap.isNotNull && bounded
      else cap.isNull || bounded
    }
    pairs
      .filter(w.isNotNull && h.isNotNull && nf.isNotNull &&
        w >= minWidth && h >= minHeight &&
        greatest(w, h).cast("double") <= lit(maxAspect) * least(w, h) &&
        nf >= minFrames && nf <= maxFrames && capOk)
      .join(broadcast(captionDfGuard(pairs, urlCol, captionCol,
        maxCaptionFeeds)), Seq(captionCol), "left_anti")
      .select(pairs.columns.map(col): _*) // the join fronts its key
  }

  /** LAION-Audio-style pair quality screens (r17) — the
    * [[pairQualityFilter]] sibling for the enclosure channel, over
    * pairs already joined to their decoded
    * [[graft.multimodal.Multimodal.audioStats]] columns:
    *
    *  - duration: `minDurS·rate ≤ n_samples ≤ maxDurS·rate` — all
    *    integer arithmetic, engine-exact (jingle stingers and
    *    unbounded live streams out);
    *  - fidelity: `sample_rate ≥ minSampleRate` (telephony-band and
    *    corrupt-header clips out);
    *  - silence: `sum_sq_dev > 0` when `dropSilent` (digital silence
    *    carries no training signal);
    *  - caption: length in [minCaptionChars, maxCaptionChars] —
    *    null captions PASS unless `requireCaption` (the harvest keeps
    *    title-less enclosures for audio-side captioning, the
    *    [[graft.pipeline.Feeds.enclosurePairs]] convention);
    *  - boilerplate captions: a caption carried by more than
    *    `maxCaptionFeeds` DISTINCT feeds ("Trailer", episode-number
    *    furniture) anti-joins away — computed over the INPUT pairs,
    *    gate-order-independent.
    *
    * Null stats columns — payloads that never decoded — drop: this
    * gate feeds the TRAINING set, not the ledger. Scale shape
    * identical to the image twin: map-side gates + one tiny broadcast
    * anti-join. */
  def audioPairQualityFilter(pairs: DataFrame,
                             minDurS: Long = 1L, maxDurS: Long = 3600L,
                             minSampleRate: Long = 8000L,
                             dropSilent: Boolean = true,
                             minCaptionChars: Int = 2,
                             maxCaptionChars: Int = 1000,
                             requireCaption: Boolean = false,
                             maxCaptionFeeds: Long = 10,
                             urlCol: String = "url",
                             captionCol: String = "caption",
                             nSamplesCol: String = "n_samples",
                             rateCol: String = "sample_rate",
                             energyCol: String = "sum_sq_dev")
      : DataFrame = {
    require(maxDurS >= minDurS && minDurS >= 0,
      s"need 0 <= minDurS <= maxDurS, got [$minDurS, $maxDurS]")
    val ns = col(nSamplesCol)
    val rate = col(rateCol)
    val cap = col(captionCol)
    val boilerplate = pairs.filter(cap.isNotNull)
      .select(cap.as("_apq_cap"), col(urlCol).as("_apq_url")).distinct()
      .groupBy("_apq_cap")
      .agg(countDistinct(col("_apq_url")).as("_apq_n"))
      .filter(col("_apq_n") > maxCaptionFeeds)
      .select(col("_apq_cap").as(captionCol))
    val capOk = {
      val bounded = length(cap) >= minCaptionChars &&
        length(cap) <= maxCaptionChars
      if (requireCaption) cap.isNotNull && bounded
      else cap.isNull || bounded
    }
    val silentOk =
      if (dropSilent) col(energyCol).isNotNull && col(energyCol) > 0
      else lit(true)
    pairs
      .filter(ns.isNotNull && rate.isNotNull &&
        rate >= minSampleRate &&
        ns >= lit(minDurS) * rate && ns <= lit(maxDurS) * rate &&
        silentOk && capOk)
      .join(broadcast(boilerplate), Seq(captionCol), "left_anti")
      .select(pairs.columns.map(col): _*) // the join fronts its key
  }

  /** Authority-prioritized fetch ordering (r15): [[schedule]] plus a
    * CROSS-HOST priority — within-host politeness rounds say when a
    * host may be hit again, but say nothing about which host to spend
    * fetch budget on FIRST; at scale a fetcher without this burns its
    * budget on link-farm hosts before authoritative ones. The host
    * authority is the integer-exact [[graft.operators.PageRank]] over
    * `hostEdges` (the graph the crawl itself discovered — see
    * [[hostEdges]]); the priority is the 0-based GLOBAL rank by
    * (round asc, host_rank_fp desc, n_refs desc, url asc) — politeness
    * first, authority inside each round — through the two-phase
    * range-partitioned rank ([[graft.store.Ranks]]), never a global
    * window. Hosts outside the graph rank 0 (no evidence, lowest
    * authority). Output: schedule's columns + `host_rank_fp` +
    * `priority`; a fetcher consumes in priority order.
    *
    * Scale: the rank table is hosts-sized and broadcasts (millions of
    * hosts ≈ tens of MB). The schedule itself is ≤ maxRounds·hosts
    * rows, so the final range rank is frontier-bounded. */
  def scheduleRanked(frontier: DataFrame, hostEdges: DataFrame,
                     maxRounds: Int, iters: Int = 3,
                     urlCol: String = "url", refsCol: String = "n_refs",
                     delays: DataFrame = null,
                     retryAfter: DataFrame = null): DataFrame = {
    require(!frontier.columns.exists(Seq("_sr_nr", "_sr_nn").contains),
      "column names _sr_nr/_sr_nn are reserved by scheduleRanked")
    val ranks = graft.operators.PageRank.pageRank(hostEdges,
        "src_host", "dst_host", iters)
      .select(col("id").as("host"), col("rank_fp").as("host_rank_fp"))
    val base = schedule(frontier, maxRounds, urlCol, refsCol, delays,
      retryAfter)
    val joined = base.join(broadcast(ranks), Seq("host"), "left")
      .na.fill(0L, Seq("host_rank_fp"))
      .withColumn("_sr_nr", negate(col("host_rank_fp")))
      .withColumn("_sr_nn", negate(col(refsCol)))
    graft.store.Ranks.withOrderedIndexBy(joined,
        Seq("round", "_sr_nr", "_sr_nn", urlCol), "priority")
      .drop("_sr_nr", "_sr_nn")
  }

  /** Per-host `Retry-After` pacing from a batch's WARC records (r15):
    * the 429/503 responses' `Retry-After` values fold to
    * (host, retry_after_s = MAX over the host's throttling responses),
    * the table [[schedule]]'s `retryAfter` consumes. BOTH RFC 9110
    * §10.2.3 forms parse: delta-seconds (all digits), and the
    * HTTP-date form measured against the record's OWN `warc_date` —
    * the fetch wall clock a WARC carries by construction, so a
    * replayed batch needs no external clock (dates in the past clamp
    * to 0; unparseable values and records without a `warc_date`
    * column drop — a malformed header must not stall a host).
    * Statuses other than 429/503 never count (some servers attach
    * Retry-After to redirects; honoring those would stall healthy
    * hosts). Hosts are canonical ([[UrlFilter.hostOf]] — the
    * politeness key). Map-side scan + a hosts-sized aggregate. */
  def retryAfterDelays(records: DataFrame): DataFrame = {
    val base = records.filter(col("warc_type") === "response" &&
      col("http_status").isin(429, 503) &&
      col("http_retry_after").isNotNull)
    val deltaSeconds =
      when(col("http_retry_after").rlike("^[0-9]+$"),
        col("http_retry_after").cast("double"))
    val retrySec =
      if (!records.columns.contains("warc_date")) deltaSeconds
      else {
        // IMF-fixdate ("Sun, 06 Nov 1994 08:49:37 GMT" — the form RFC
        // 9110 requires senders to emit; the legacy RFC 850/asctime
        // forms are out of contract). The weekday prefix strips before
        // the parse — Spark 3+ refuses 'EEE' in PARSING patterns; the
        // try_ forms stay total under ANSI mode.
        val httpTs = try_to_timestamp(
          regexp_replace(col("http_retry_after"), "^[A-Za-z]{3}, ", ""),
          lit("dd MMM yyyy HH:mm:ss 'GMT'"))
        val fetchTs = try_to_timestamp(col("warc_date"))
        coalesce(deltaSeconds,
          when(httpTs.isNotNull && fetchTs.isNotNull,
            greatest(lit(0L),
              unix_timestamp(httpTs) - unix_timestamp(fetchTs))
              .cast("double")))
      }
    base.select(UrlFilter.hostOf(col("target_uri")).as("host"),
        retrySec.as("retry_after_s"))
      .filter(col("host").isNotNull && col("retry_after_s").isNotNull)
      .groupBy("host")
      .agg(max(col("retry_after_s")).as("retry_after_s"))
  }

  /** Per-host fetch HEALTH from a batch's WARC records (late r15) —
    * the dead-host/backoff signal [[schedule]]'s pacing inputs don't
    * carry: (host, n_ok, n_throttle, n_client_err, n_server_err) per
    * canonical host, where ok = 2xx/3xx (a redirect is a healthy
    * answer), throttle = 429 (pace, don't suppress — it pairs with
    * [[retryAfterDelays]]), client_err = other 4xx (page-level, the
    * host itself is fine), server_err = 5xx (the suppression signal —
    * a host answering mostly 5xx should lose fetch budget before it
    * wastes more; revisit records count as ok, they ARE successful
    * recaptures). A fetcher joins this into its scheduling policy at
    * whatever threshold it wants — the counts are integer-exact and
    * engine-portable. Map-side scan + one hosts-sized aggregate. */
  def hostHealth(records: DataFrame): DataFrame = {
    val st = col("http_status")
    records.filter(col("warc_type").isin("response", "revisit"))
      .select(UrlFilter.hostOf(col("target_uri")).as("host"),
        col("warc_type").as("wt"), st)
      .filter(col("host").isNotNull)
      .groupBy("host")
      .agg(
        sum(when(col("wt") === "revisit" ||
          (st >= 200 && st < 400), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("wt") === "response" && st === 429, 1L)
          .otherwise(0L)).as("n_throttle"),
        sum(when(col("wt") === "response" && st >= 400 && st < 500 &&
          st =!= 429, 1L).otherwise(0L)).as("n_client_err"),
        sum(when(col("wt") === "response" && st >= 500 && st < 600, 1L)
          .otherwise(0L)).as("n_server_err"))
  }

  /** Conditional-fetch validators from a batch's WARC records (r15):
    * per fetched url, the RFC 9110 §8.8 cache validators its 200
    * response carried — (url, etag, last_modified), both VERBATIM
    * (`If-None-Match` comparison is opaque per the RFC; weak `W/"…"`
    * tags and the quotes ride through byte-exact). A refresh fetcher
    * joins this against [[recrawlSeeds]]/[[recrawlChurn]] output and
    * sends `If-None-Match`/`If-Modified-Since` — an unchanged page
    * then costs a bodiless 304 (which [[ingestBatch]] folds back into
    * the churn ledger as a revisit observation) instead of a full
    * transfer; at recrawl scale that is most of the bandwidth.
    * Responses without either header drop (nothing to revalidate
    * with). Map-side scan + one batch-sized url aggregate. A batch can
    * carry one url twice: the pair folds ATOMICALLY (r16, the ADVICE
    * finding — MAX over the (etag, last_modified) struct, so both
    * validators always come from ONE response; independent per-column
    * maxes could mint an (etag, last_modified) combination no server
    * ever sent, and origins may reject such mismatched
    * If-None-Match/If-Modified-Since pairs). Struct MAX is
    * deterministic on any engine: field-by-field comparison, null
    * fields smallest — so among a url's responses the one with the
    * lexically-greatest etag (else greatest last_modified) wins
    * whole. */
  def revalidators(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "response" &&
        col("http_status") === 200 &&
        (col("http_etag").isNotNull || col("http_last_modified").isNotNull))
      .select(col("target_uri").as("url"), col("http_etag").as("etag"),
        col("http_last_modified").as("last_modified"))
      .groupBy("url")
      .agg(max(struct(col("etag"), col("last_modified"))).as("_rv_pair"))
      .select(col("url"), col("_rv_pair.etag").as("etag"),
        col("_rv_pair.last_modified").as("last_modified"))

  /** 3xx responses as (url, links = [Location]) pages — a redirect IS a
    * page with one outlink: composed with [[frontier]], the `Location`
    * value resolves against the redirect source like any relative href
    * (relative Locations are everywhere in the wild), crawled targets
    * anti-join away, and the source url rides the fetched ledger so it
    * is not refetched. Without this, every http→https / www→apex
    * migration (a huge slice of any real crawl) is silently lost.
    * `records` must carry the [[graft.sources.Warc.WarcRecord]] shape's
    * `http_location` column. */
  def redirectLinks(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "response" &&
        col("http_status").isin(301, 302, 303, 307, 308) &&
        col("http_location").isNotNull)
      .select(col("target_uri").as("url"),
        array(col("http_location")).as("links"))

  /** Redirect EDGES from a batch's (or a ledger's) WARC records (r15):
    * one (url, target) row per 3xx source, the `Location` resolved
    * against the source and frontier-normalized (the SAME fused kernel
    * as [[frontier]] — an edge set in any other url form would never
    * join against fetch urls). A refetched source that moved its
    * target folds to ONE row (MAX target — deterministic on any
    * engine; real recrawl policy would key on batch recency, which the
    * caller can do upstream by pre-filtering records). Map-side scan +
    * one redirect-sized aggregate. */
  def redirectEdges(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "response" &&
        col("http_status").isin(301, 302, 303, 307, 308) &&
        col("http_location").isNotNull)
      .select(col("target_uri").as("url"),
        UrlResolve.resolveAndNormalizeCol(col("target_uri"),
          col("http_location")).as("target"))
      .filter(col("target").isNotNull)
      .groupBy("url")
      .agg(max(col("target")).as("target"))

  /** Resolve redirect CHAINS to their final destination (r15):
    * http→https→www→canonical-path migrations routinely stack 2-4
    * hops, and URL-level dedup keyed on the FIRST hop treats every
    * intermediate as a distinct page. Input is [[redirectEdges]]'
    * (url, target) shape (unique per url); output is (url, final_url,
    * hops, resolved) for every SOURCE: `final_url` after following at
    * most `maxHops` edges, `resolved` = false when the walk still
    * sits on a redirect source (a longer chain, or a loop — redirect
    * cycles are live web reality and must terminate deterministically,
    * which the bounded unroll guarantees).
    *
    * Scale: `maxHops` self-joins of the redirect set — sized by the
    * CHAIN bound (the protocol reality: browsers cap around 20; 4
    * covers the migrations that matter), never by corpus size, and the
    * set itself is the 3xx fraction of the crawl. A maintenance-cadence
    * op like the compactions. Chains longer than `maxHops` surface as
    * resolved = false rather than silently half-resolving into a wrong
    * dedup key.
    *
    * The lazy plan scans `edges` maxHops+1 times: when it derives from
    * an expensive source ([[redirectEdges]] over a raw WARC scan —
    * each re-scan re-parses every member), `localCheckpoint()` it
    * first and release after consuming (the `crawl-redirect-chains`
    * CLI does exactly this); an edges set already landed as parquet
    * re-scans cheaply and needs nothing. */
  def resolveRedirects(edges: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // NOTE (r17 optimization round): the unroll below references the
    // edge set maxHops+1 times, so each reference re-embeds the
    // caller's upstream subtree — a caller whose edges are EXPENSIVE
    // (a WARC batch parse) should hand in a materialized frame
    // (localCheckpoint), as Robots.rulesFromRecords does; this
    // operator itself stays cache-free (the PersistHygieneSpec pin).
    val e = edges.select(col("url"), col("target"))
    var cur = e.select(col("url"), col("target").as("final_url"),
      lit(1L).as("hops"))
    for (_ <- 2 to maxHops) {
      val step = e.select(col("url").as("final_url"),
        col("target").as("_next"))
      cur = cur.join(step, Seq("final_url"), "left")
        .select(col("url"),
          coalesce(col("_next"), col("final_url")).as("final_url"),
          when(col("_next").isNotNull, col("hops") + 1L)
            .otherwise(col("hops")).as("hops"))
    }
    val still = e.select(col("url").as("final_url"),
      lit(true).as("_still_redirect"))
    cur.join(still, Seq("final_url"), "left")
      .select(col("url"), col("final_url"), col("hops"),
        col("_still_redirect").isNull.as("resolved"))
  }

  /** Every url the minhash corpus index has folded in — read from the
    * `bands/` table ((id, band, bucket) — the narrowest per-doc rows the
    * index stores). A corpus-sized scan: fine for a maintenance job or a
    * bounded backfill, wrong per-batch at 100 TB (keep a fetched-URL
    * Bloom there — see [[frontier]]). */
  def crawledUrls(spark: SparkSession, indexPath: String): DataFrame =
    crawledUrlsRaw(spark, indexPath).distinct()

  /** [[crawledUrls]] WITHOUT the distinct — one url row per stored band
    * row. For consumers that are duplicate-insensitive (left_anti's
    * right side, [[frontierBloom]]'s rescue join, Bloom builds) the
    * distinct is a pure corpus-sized shuffle tax; they take this form
    * and stay map-side. */
  def crawledUrlsRaw(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(s"$indexPath/bands")
      .select(col("id").cast("string").as("url"))

  // ------------------------------------------------------------------
  // Fetched-URL ledger maintenance. The streaming loop lands one
  // `fetched/batch=N` partition per micro-batch (the replay-idempotent
  // re-entry gate); left alone, a long crawl accumulates thousands of
  // small partitions AND the per-batch frontier read unions all of
  // them. Maintenance = (1) compact the partitions, (2) fold everything
  // fetched so far into a Bloom with a recorded coverage cutoff, so
  // per-batch frontiers route through [[frontierBloom]] and only the
  // post-cutoff trickle is checked exactly.
  // ------------------------------------------------------------------

  /** Per-url churn fold over a fetched-ledger frame (r15) — the shared
    * body of [[compactFetched]] and [[recrawlChurn]]. An OBSERVATION is
    * one (url, batch) with a non-null `content_md5` (the min hash when
    * raw duplicates share the batch — deterministic on any engine; a
    * folded row's accumulated counts ride the same group). Output per
    * url: `last_batch` = max batch over ALL rows (null-hash fetches
    * advance the age too), `content_md5` = the LAST observation's hash
    * (null if never observed), `n_obs` = total observations,
    * `n_changes` = accumulated + count of CONSECUTIVE-observation
    * pairs (batch order) whose hashes differ — nulls never pair, so a
    * page that 404s between two identical snapshots counts no change.
    * The per-url window is fetch-count-bounded (never a global
    * window); rows missing the accumulator columns (the stream's raw
    * shape pre-normalization) default to obs = hash-non-null, 0. */
  private def churnStats(df0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = {
      val withMd5 =
        if (df0.columns.contains("content_md5")) df0
        else df0.withColumn("content_md5", lit(null).cast("string"))
      val withObs =
        if (withMd5.columns.contains("n_obs")) withMd5
        else withMd5.withColumn("n_obs",
          when(col("content_md5").isNotNull, 1L).otherwise(0L))
      if (withObs.columns.contains("n_changes")) withObs
      else withObs.withColumn("n_changes", lit(0L))
    }
    // one group per (url, batch): the observation hash + carried counts
    val groups = df.groupBy(col("url"), col("batch").cast("long").as("batch"))
      .agg(min(col("content_md5")).as("_ch_h"),
        sum(coalesce(col("n_obs"),
          when(col("content_md5").isNotNull, 1L).otherwise(0L)))
          .cast("long").as("_ch_o"),
        sum(coalesce(col("n_changes"), lit(0L))).cast("long").as("_ch_c"))
    val w = Window.partitionBy("url").orderBy("batch")
    // transitions between consecutive OBSERVATIONS (non-null hashes)
    val trans = groups.filter(col("_ch_h").isNotNull)
      .withColumn("_ch_prev", lag(col("_ch_h"), 1).over(w))
      .groupBy("url")
      .agg(sum(when(col("_ch_prev").isNotNull &&
          col("_ch_prev") =!= col("_ch_h"), 1L).otherwise(0L))
        .cast("long").as("_ch_t"),
        max(struct(col("batch"), col("_ch_h"))).as("_ch_last"))
    groups.groupBy("url")
      .agg(max(col("batch")).as("last_batch"),
        sum(col("_ch_o")).cast("long").as("n_obs"),
        sum(col("_ch_c")).cast("long").as("_ch_acc"))
      .join(trans, Seq("url"), "left")
      .select(col("url"), col("last_batch"),
        col("_ch_last._ch_h").as("content_md5"),
        col("n_obs"),
        (col("_ch_acc") + coalesce(col("_ch_t"), lit(0L))).as("n_changes"))
  }

  /** Fold the `fetched/batch=N` partitions to ONE ROW PER URL at its
    * LAST fetch batch (since r14 — a flat distinct collapsed every
    * url's age to the compaction batch, which destroyed the
    * [[recrawlSeeds]] refresh signal), re-partitioned by that batch so
    * the small-file accumulation still folds (≤ one file per distinct
    * last-batch value) and batch-ranged reads keep pruning. When the
    * ledger carries `content_md5` (r15 — every stream ledger does now)
    * the fold also PRESERVES the churn signal: the folded row keeps
    * the url's LAST observed hash plus accumulated (n_obs, n_changes)
    * — [[recrawlChurn]] over a compacted-then-extended ledger equals
    * the uncompacted math (spec- and oracle-pinned). Atomic
    * delete+rename swap (the maintenance convention); replays of
    * PRE-compaction batches are out of contract afterwards, like every
    * index compaction here. Returns the max batch id seen, or -1 when
    * the ledger is empty/absent. */
  def compactFetched(spark: SparkSession, frontierDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val fetched = new Path(s"$frontierDir/fetched")
    val fs = fetched.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hasCommittedData(spark, fetched.toString)) return -1L
    val df = spark.read.parquet(fetched.toString)
    val maxBatch = df.agg(max(col("batch"))).head() match {
      case r if r.isNullAt(0) => return -1L
      case r => r.getAs[Number](0).longValue()
    }
    val folded =
      if (!df.columns.contains("content_md5"))
        // legacy (pre-r15) ledgers: age-only fold, unchanged
        df.groupBy("url").agg(max(col("batch")).cast("long").as("batch"))
      else churnStats(df)
        .select(col("url"), col("content_md5"), col("n_obs"),
          col("n_changes"), col("last_batch").as("batch"))
    val tmp = new Path(s"$frontierDir/fetched._compacting")
    fs.delete(tmp, true)
    folded.write.partitionBy("batch").parquet(tmp.toString)
    val old = new Path(s"$frontierDir/fetched._old")
    fs.delete(old, true)
    if (!fs.rename(fetched, old))
      throw new java.io.IOException(s"fetched compact swap-out failed: $fetched")
    if (!fs.rename(tmp, fetched))
      throw new java.io.IOException(s"fetched compact swap-in failed: $fetched")
    fs.delete(old, true)
    maxBatch
  }

  /** Change-aware refresh signal (r15): per url, the last-fetch age
    * PLUS how often its content actually changed across fetches —
    * (url, last_batch, n_obs, n_changes), integer-exact (a consumer
    * derives changed_ratio = n_changes / (n_obs − 1) at its end). A
    * news front page (changes every fetch) and a static TOS page
    * (never) stop sharing a cadence: a fetcher orders its refresh
    * budget by (n_changes desc, last_batch asc) or any policy on the
    * two signals. Needs the hashed ledger (`content_md5` — every
    * stream ledger since r15); counts survive [[compactFetched]] by
    * construction. Scale: one fetch-count-bounded window + two
    * url-keyed aggregates, maintenance cadence only. */
  def recrawlChurn(spark: SparkSession, frontierDir: String): DataFrame = {
    val df = spark.read.parquet(s"$frontierDir/fetched")
    require(df.columns.contains("content_md5"),
      "recrawlChurn needs a hashed ledger (content_md5 column) — " +
        "pre-r15 ledgers carry no change observations")
    churnStats(df).select(col("url"), col("last_batch"), col("n_obs"),
      col("n_changes"))
  }

  /** Mirror-host detection (r15): host PAIRS serving identical content
    * — www/apex splits the canonicalizer can't see, CDN clones,
    * wholesale site scrapes. Input is any (url, content_md5) frame
    * (the hashed fetched ledger raw or compacted; refetch duplicates
    * collapse on the internal distinct). Per pair of canonical hosts
    * ([[UrlFilter.hostOf]]): `n_shared` = distinct content hashes seen
    * on BOTH, plus each side's distinct-hash total (`n_a`, `n_b`) so a
    * consumer derives overlap ratios (n_shared/least(n_a,n_b) ≈ 1 is a
    * mirror) at its end. Hashes spread across more than
    * `maxHostsPerHash` hosts are BOILERPLATE (empty pages, error
    * templates, shared footers) and drop before pairing — the same
    * df-guard reasoning as the dedup family, and what bounds the
    * self-join: fan-out per hash ≤ C(maxHostsPerHash, 2), so the
    * shuffle is ∝ distinct (host, hash) rows, never pairs-of-urls.
    * Maintenance cadence, like the compactions. */
  def mirrorHosts(pages: DataFrame, minShared: Long = 2,
                  maxHostsPerHash: Int = 16): DataFrame = {
    val hp = pages.filter(col("content_md5").isNotNull)
      .select(UrlFilter.hostOf(col("url")).as("host"),
        col("content_md5").as("h"))
      .filter(col("host").isNotNull)
      .distinct()
    val sizes = hp.groupBy("host").agg(count(lit(1)).as("n"))
    val keep = hp.join(
      hp.groupBy("h").agg(count(lit(1)).as("_mh_n"))
        .filter(col("_mh_n") <= maxHostsPerHash)
        .select("h"),
      Seq("h"))
    val pairs = keep.as("l")
      .join(keep.as("r"),
        col("l.h") === col("r.h") && col("l.host") < col("r.host"))
      .groupBy(col("l.host").as("host_a"), col("r.host").as("host_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("host").as("host_a"), col("n").as("n_a")),
        Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("n").as("n_b")),
        Seq("host_b"))
      .select(col("host_a"), col("host_b"), col("n_shared"), col("n_a"),
        col("n_b"))
  }

  /** Within-host error-template detection (r15) — the soft-404
    * problem: sites that answer missing pages with a 200 "not found"
    * page put the SAME body at unboundedly many urls, polluting the
    * corpus (dedup catches the bodies, but every soft-404 url still
    * costs a fetch + a ledger row + a churn history) and hiding real
    * deletions from the refresh policy. The content-hash signature is
    * exact and engine-portable where error-word heuristics are
    * neither: a (host, content_md5) group spanning `minUrls`+ DISTINCT
    * urls of ONE host is a serving template, not a page. Output:
    * (host, content_md5, n_urls) per flagged template — the
    * maintenance artifact [[dropTemplatePages]] gates with. The
    * within-host twin of [[mirrorHosts]] (cross-host same-content).
    * One (host, hash)-keyed aggregate over the hashed ledger;
    * maintenance cadence. */
  def hostTemplates(pages: DataFrame, minUrls: Long = 100): DataFrame =
    pages.filter(col("content_md5").isNotNull)
      .select(UrlFilter.hostOf(col("url")).as("host"),
        col("content_md5"), col("url"))
      .filter(col("host").isNotNull)
      .groupBy("host", "content_md5")
      .agg(countDistinct(col("url")).as("n_urls"))
      .filter(col("n_urls") >= minUrls)

  /** Drop pages matching a [[hostTemplates]] artifact — one broadcast
    * anti-join on (host, content_md5); the artifact is
    * over-threshold-groups-sized (tiny by construction). Null-hash
    * rows (redirects, dead pages, revisits) pass through: they carry
    * no body to match a template. */
  def dropTemplatePages(pages: DataFrame, templates: DataFrame): DataFrame = {
    require(!pages.columns.contains("_tpl_host") &&
      !pages.columns.contains("_tpl_h"),
      "column names _tpl_host/_tpl_h are reserved by dropTemplatePages")
    val tpl = broadcast(templates.select(col("host").as("_tpl_host"),
      col("content_md5").as("_tpl_h")))
    pages.join(tpl,
      UrlFilter.hostOf(col("url")) === col("_tpl_host") &&
        col("content_md5") === col("_tpl_h"), "left_anti")
  }

  /** Refresh policy (r14): urls whose LAST fetch is older than
    * `beforeBatch` — the fetched ledger gates re-DISCOVERY forever (by
    * design: a frontier that re-emits crawled pages double-fetches),
    * so page refresh is a separate maintenance-cadence feed a fetcher
    * consumes directly, bypassing the discovery gate. Returns
    * UNORDERED (url, last_batch) rows — oldest-first is the natural
    * fetch priority, so a consumer sorts by (last_batch, url) at its
    * end (the `crawl-recrawl` CLI writes exactly that order; an
    * orderBy here would be a wasted range shuffle for consumers that
    * re-partition anyway). Refetched pages land a new
    * `fetched/batch=N` row, which advances their max(batch) out of
    * the due set automatically.
    * Scale: one groupBy over the ledger — corpus-sized, maintenance
    * cadence only (never per batch); run after [[compactFetched]] for
    * a single-partition scan. */
  def recrawlSeeds(spark: SparkSession, frontierDir: String,
                   beforeBatch: Long): DataFrame =
    spark.read.parquet(s"$frontierDir/fetched")
      .groupBy("url")
      .agg(max(col("batch")).cast("long").as("last_batch"))
      .filter(col("last_batch") < beforeBatch)

  /** Conditional-fetch refresh feed (r16 — the glue the r15 pieces
    * lacked): a refresh due-list ([[recrawlSeeds]] / [[recrawlChurn]]
    * output, or any url-keyed frame) joined with a [[revalidators]]
    * table, so a fetcher consumes ONE feed and sends
    * `If-None-Match`/`If-Modified-Since` directly — an unchanged page
    * then costs a bodiless 304 (which [[ingestBatch]] folds back into
    * the churn ledger as a revisit observation) instead of a full
    * transfer. LEFT join: urls without stored validators keep null
    * etag/last_modified — an unconditional refetch, not a dropped
    * refresh. Scale: both sides are corpus-url-sized at maintenance
    * cadence — a url-keyed sort-merge join, deliberately NOT a pinned
    * broadcast (the scheduleRanked lesson). */
  def recrawlValidators(due: DataFrame, validators: DataFrame): DataFrame = {
    require(!due.columns.contains("etag") &&
      !due.columns.contains("last_modified"),
      "due side must not carry etag/last_modified (the join would be ambiguous)")
    due.join(validators.select(col("url"), col("etag"),
      col("last_modified")), Seq("url"), "left")
  }

  /** Takedown for the crawl ledgers (late r15) — the delete lifecycle
    * the INDEX families have had since r10, closing the asymmetry: a
    * forget request must also purge the `fetched/` rows (urls +
    * content hashes + churn history ARE stored data about the page),
    * any pending `next/` frontier rows, and (r16) the page's
    * `images/` pairs (image urls + alt/caption text are stored data
    * about the page too). Rewrites the ledgers minus the given urls,
    * PRESERVING the per-batch partition layout and every surviving
    * row verbatim (accumulators included — churn math over the
    * survivors is untouched), via the atomic delete+rename swap of
    * the compaction family; replays of pre-purge batches are out of
    * contract afterwards (the shared convention). Returns (purged
    * fetched rows, purged next rows, purged image pairs, purged
    * media pairs).
    *
    * Purging makes the url REFETCHABLE by design (forget-and-
    * reacquire): a takedown that must also prevent re-acquisition
    * pairs this with the frontier blocklist
    * ([[UrlFilter.dropBlockedUrls]] / the stream's `blockedDomains`)
    * or a URL-level gate. Corpus-index rows are the index families'
    * own tombstone lifecycle (`store.Tombstones`); host-keyed
    * ledgers (`edges/`, `robots/`) carry no per-url rows to purge.
    * Scale: one anti-join per ledger against the (broadcast) forget
    * set, maintenance cadence. */
  def purgeUrls(spark: SparkSession, frontierDir: String,
                urls: DataFrame, urlCol: String = "url")
      : (Long, Long, Long, Long) = {
    import org.apache.hadoop.fs.Path
    val forget = broadcast(urls.select(col(urlCol).cast("string")
      .as("url")).distinct())
    def purge(name: String): Long = {
      val p = new Path(s"$frontierDir/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!hasCommittedData(spark, p.toString)) return 0L
      val df = spark.read.parquet(p.toString)
      val before = df.count()
      val kept = df.join(forget, Seq("url"), "left_anti")
      val keptCount = kept.count()
      if (keptCount == before) return 0L // no hits: leave the ledger be
      if (keptCount == 0L) {
        // full purge = absence (an empty partitioned write would leave
        // a dir that fails schema inference; absence reads cleanly)
        fs.delete(p, true)
        return before
      }
      val tmp = new Path(s"$frontierDir/$name._purging")
      fs.delete(tmp, true)
      kept.write.partitionBy("batch").parquet(tmp.toString)
      val old = new Path(s"$frontierDir/$name._old")
      fs.delete(old, true)
      if (!fs.rename(p, old))
        throw new java.io.IOException(s"purge swap-out failed: $p")
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"purge swap-in failed: $p")
      fs.delete(old, true)
      before - keptCount
    }
    (purge("fetched"), purge("next"), purge("images"), purge("media"))
  }

  /** Fold every `next/batch=N` frontier partition into ONE partition
    * keyed by the highest batch id seen: ref counts SUM per url (the
    * fetch-priority signal accumulates across discoveries), and urls
    * that have since been FETCHED drop (their ledger row gates them —
    * a frontier row for a fetched url is a guaranteed double-fetch).
    * The [[compactFetched]] sibling: same atomic delete+rename swap,
    * same replays-out-of-contract-afterwards convention. Run it before
    * handing `next/` to a fetcher that consumes across batches.
    * Returns the retained batch id, or -1 when the dir is empty/absent.
    *
    * Scale: the default exact anti-join is the SAFE general form — the
    * frontier side already shuffles for its ref-count fold, and the
    * fetched side joins sort-merge (a maintenance-cadence cost, never
    * per batch). `fetchedBloom` routes the drop map-side with an exact
    * rescue, but it must be a FETCHED-ONLY filter
    * ([[buildFetchedBloom]] with `includeNext = false`, checked via
    * [[fetchedOnlyBloom]]): the streaming frontier's artifact folds
    * the `next/` (emitted) ledger in, which makes EVERY url this
    * function folds bloom-positive by construction — the rescue then
    * broadcasts essentially the whole frontier, an OOM risk at scale
    * (r15, the ADVICE finding). Even with the right filter the rescue
    * broadcasts the bloom-POSITIVE frontier urls — sized by how much
    * of the frontier was fetched since the last compaction, not by one
    * batch — so take the bloom form only when compactions are frequent
    * relative to fetch throughput (positives stay broadcast-sized);
    * otherwise the exact join is both safe and cheaper. */
  def compactNext(spark: SparkSession, frontierDir: String,
                  fetchedBloom: org.apache.spark.util.sketch.BloomFilter =
                    null): Long =
    // the bare-filter form has no recorded coverage — it trusts the
    // caller to pass a FRESH filter (built after the last fetched
    // batch); prefer the artifact overload, whose coverage makes a
    // stale filter safe
    compactNextImpl(spark, frontierDir, fetchedBloom, Long.MaxValue)

  /** [[compactNext]] through a [[buildFetchedBloom]] ARTIFACT (r17):
    * the recorded `coversBelow` closes the stale-filter hole — a url
    * fetched AFTER the artifact was built is bloom-negative, and the
    * bare-filter form would keep its frontier row (a guaranteed
    * double-fetch); here the bloom-negative set still anti-joins the
    * post-coverage TRICKLE partitions (partition-pruned on batch), so
    * any artifact built since the previous compaction is correct.
    * Refuses next-covering artifacts outright (every folded url is
    * positive against one — route those callers to the exact form). */
  def compactNext(spark: SparkSession, frontierDir: String,
                  artifact: FetchedBloomArtifact): Long = {
    require(!artifact.coversNext,
      "compactNext: a next-covering artifact makes every folded url " +
        "bloom-positive by construction — use fetchedOnlyBloom routing " +
        "or the exact join")
    compactNextImpl(spark, frontierDir, artifact.bloom,
      artifact.coversBelow)
  }

  private def compactNextImpl(spark: SparkSession, frontierDir: String,
                              fetchedBloom: org.apache.spark.util.sketch.BloomFilter,
                              coversBelow: Long): Long = {
    import org.apache.hadoop.fs.Path
    val next = new Path(s"$frontierDir/next")
    val fs = next.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // committed-data probe, not bare existence: a crash-created empty
    // dir must fold like absence, not fail schema inference (r15)
    if (!hasCommittedData(spark, next.toString)) return -1L
    val df = spark.read.parquet(next.toString)
    val maxBatch = df.agg(max(col("batch"))).head() match {
      case r if r.isNullAt(0) => return -1L
      case r => r.getAs[Number](0).longValue()
    }
    val folded0 = df.groupBy("url")
      .agg(sum(col("n_refs")).cast("long").as("n_refs"))
    val fetched = new Path(s"$frontierDir/fetched")
    val folded =
      if (!hasCommittedData(spark, fetched.toString)) folded0
      else {
        val fetchedAll = spark.read.parquet(fetched.toString)
        val fetchedDf = fetchedAll.select("url")
        if (fetchedBloom == null)
          folded0.join(fetchedDf, Seq("url"), "left_anti")
        else {
          // bloom routing: misses are DEFINITELY unfetched below the
          // coverage cutoff — they still check the post-cutoff trickle
          // exactly (partition-pruned; empty at Long.MaxValue, the
          // bare-filter form); the maybes rescue exactly with the
          // fetched side streaming map-side through a broadcast join
          // (never shuffled)
          val bc = spark.sparkContext.broadcast(fetchedBloom)
          val might =
            udf { (u: String) => u != null && bc.value.mightContain(u) }
          val miss0 = folded0.filter(!might(col("url")))
          val miss =
            if (coversBelow == Long.MaxValue) miss0
            else miss0.join(
              fetchedAll.filter(col("batch") >= coversBelow).select("url"),
              Seq("url"), "left_anti")
          val maybe = folded0.filter(might(col("url")))
          val confirmed = fetchedDf
            .join(broadcast(maybe.select("url").distinct()), Seq("url"))
            .distinct()
          miss.unionByName(
            maybe.join(broadcast(confirmed), Seq("url"), "left_anti"))
        }
      }
    val tmp = new Path(s"$frontierDir/next._compacting")
    fs.delete(tmp, true)
    folded.write.parquet(s"$tmp/batch=$maxBatch")
    val old = new Path(s"$frontierDir/next._old")
    fs.delete(old, true)
    if (!fs.rename(next, old))
      throw new java.io.IOException(s"next compact swap-out failed: $next")
    if (!fs.rename(tmp, next))
      throw new java.io.IOException(s"next compact swap-in failed: $next")
    fs.delete(old, true)
    maxBatch
  }

  /** Maintenance build of the streaming frontier's Bloom: every url the
    * corpus index has folded in (when `indexPath` is set — covers a
    * bootstrap that predates the ledger) plus every fetched-ledger url
    * plus (since r14, when `includeNext`) every EMITTED url in the
    * `next/` frontier ledger — a url emitted at batch N and linked
    * again at batch N+k must not re-emit while it waits to be fetched,
    * or a fetcher consuming `next/` across batches double-fetches
    * everything popular. Saved to `bloomPath` with a `.meta` sidecar
    * recording the coverage cutoff (`coversBelow` = min over the
    * covered ledgers' max batch + 1 — both land per batch, `fetched`
    * first, so `next` can trail by one across a crash; min is the
    * batch below which BOTH are covered) and (r15) WHICH ledgers the
    * filter covers: a next-covering artifact is the STREAM's (the
    * emitted-ledger gate needs it), while [[compactNext]] needs a
    * FETCHED-ONLY one (`includeNext = false` — against a next-covering
    * filter every url it folds is positive by construction and the
    * exact rescue broadcasts the whole frontier). Consumers route on
    * the recorded flag ([[fetchedOnlyBloom]]; the stream refuses
    * fetched-only artifacts symmetrically). A batch at id ≥ cutoff
    * checks the bloom for everything older and only the
    * [cutoff, batch) trickle exactly — per-batch cost stops growing
    * with crawl age. The meta lands AFTER the bloom (a crash between
    * the two leaves the previous coherent pair in place — both writes
    * are atomic temp+rename swaps). */
  def buildFetchedBloom(spark: SparkSession, frontierDir: String,
                        indexPath: String, expectedItems: Long,
                        fpp: Double = 0.01, bloomPath: String,
                        includeNext: Boolean = true): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def maxBatchOf(df: DataFrame): Long =
      df.agg(max(col("batch"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getAs[Number](0).longValue()
      }
    val fetched = new Path(s"$frontierDir/fetched")
    val haveFetched = hasCommittedData(spark, fetched.toString)
    val fetchedDf =
      if (haveFetched) spark.read.parquet(fetched.toString)
      else null
    val next = new Path(s"$frontierDir/next")
    val haveNext = includeNext && hasCommittedData(spark, next.toString)
    val nextDf =
      if (haveNext) spark.read.parquet(next.toString)
      else null
    val coversBelow: Long =
      if (!haveFetched) 0L
      else {
        val f = maxBatchOf(fetchedDf)
        val n = if (haveNext) maxBatchOf(nextDf) else f
        math.max(0L, math.min(f, n) + 1L)
      }
    val corpus =
      if (indexPath != null &&
        new Path(s"$indexPath/meta").getFileSystem(conf)
          .exists(new Path(s"$indexPath/meta")))
        crawledUrlsRaw(spark, indexPath)
      else null
    val sources = Option(fetchedDf).map(_.select("url")).toSeq ++
      Option(nextDf).map(_.select("url")).toSeq ++
      Option(corpus).toSeq
    require(sources.nonEmpty, s"buildFetchedBloom: nothing to cover — no " +
      s"fetched ledger under $frontierDir and no index at $indexPath")
    val urls = sources.reduce(_ unionByName _)
    val bloom = urls.stat.bloomFilter("url", expectedItems, fpp)
    saveBloom(spark, bloom, bloomPath)
    // meta sidecar: `coversBelow,next=<0|1>` (r15 — pre-r15 artifacts
    // hold the bare long and parse as next=1, which is what they were),
    // same atomic-swap write
    val metaP = new Path(bloomPath + ".meta")
    val fs = metaP.getFileSystem(conf)
    val tmp = new Path(bloomPath + ".meta._writing")
    val out = fs.create(tmp, true)
    try out.write(s"$coversBelow,next=${if (includeNext) 1 else 0}"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    finally out.close()
    if (fs.exists(metaP) && !fs.delete(metaP, false))
      throw new java.io.IOException(s"bloom meta swap failed for $metaP")
    if (!fs.rename(tmp, metaP))
      throw new java.io.IOException(s"bloom meta rename failed for $metaP")
    coversBelow
  }

  /** A [[buildFetchedBloom]] artifact with its recorded coverage:
    * `coversNext` says whether the filter folded the `next/` (emitted)
    * ledger in — the flag [[compactNext]] and the stream route on. */
  final case class FetchedBloomArtifact(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      coversBelow: Long, coversNext: Boolean)

  /** Load a [[buildFetchedBloom]] artifact with its coverage meta.
    * None when either half is absent — callers fall back to the exact
    * path (a missing/in-progress maintenance artifact must never wedge
    * the stream). Pre-r15 metas (a bare decimal long) parse as
    * `coversNext = true` — that is what the r14 builder wrote into
    * those filters. */
  def loadFetchedBloomArtifact(spark: SparkSession, bloomPath: String)
      : Option[FetchedBloomArtifact] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val bp = new Path(bloomPath)
    val mp = new Path(bloomPath + ".meta")
    val fs = bp.getFileSystem(conf)
    if (!fs.exists(bp) || !fs.exists(mp)) return None
    val in = fs.open(mp)
    val meta =
      try {
        val buf = new java.io.ByteArrayOutputStream(32)
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.US_ASCII).trim
      } finally in.close()
    val parts = meta.split(",", -1)
    val coversBelow = parts(0).trim.toLong
    val coversNext = !parts.exists(_.trim == "next=0")
    Some(FetchedBloomArtifact(loadBloom(spark, bloomPath), coversBelow,
      coversNext))
  }

  /** Load a [[buildFetchedBloom]] artifact pair: (bloom, coversBelow).
    * The compatibility form of [[loadFetchedBloomArtifact]] — callers
    * that must distinguish fetched-only filters use that one. */
  def loadFetchedBloom(spark: SparkSession, bloomPath: String)
      : Option[(org.apache.spark.util.sketch.BloomFilter, Long)] =
    loadFetchedBloomArtifact(spark, bloomPath)
      .map(a => (a.bloom, a.coversBelow))

  /** The bloom a [[compactNext]] caller may route through: Some only
    * when an artifact exists at `bloomPath` AND its meta records a
    * FETCHED-ONLY filter. A next-covering artifact (the stream's)
    * yields None — against it every folded url is positive by
    * construction and the rescue broadcasts the whole frontier, so the
    * exact join is strictly better (r15, the ADVICE finding). */
  def fetchedOnlyBloom(spark: SparkSession, bloomPath: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    loadFetchedBloomArtifact(spark, bloomPath)
      .filter(!_.coversNext).map(_.bloom)

  /** Does `path` hold at least one COMMITTED data file (non-underscore,
    * non-hidden, recursively)? A partition dir that exists but holds no
    * readable parquet footer — the crash window between creating
    * `next/` and committing its first file — must behave like absence:
    * `spark.read.parquet` on it fails schema inference and would wedge
    * the stream permanently (r15, the ADVICE finding). One recursive
    * listing, maintenance-ledger-sized (compaction bounds the partition
    * count). */
  private[graft] def hasCommittedData(spark: SparkSession,
                                      path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        return true
    }
    false
  }
}
