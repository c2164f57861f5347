package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * RFC 9309 robots.txt evaluation — the crawl-politeness gate between a
 * frontier and the fetcher. A crawl's robots bodies arrive in the same
 * WARC stream as the pages (one `/robots.txt` response per host), so the
 * natural shape is: parse each host's body ONCE into flat
 * (agent, allow, path) rule rows, then gate candidate URLs host-by-host
 * with longest-match evaluation.
 *
 * Semantics implemented (RFC 9309 §2):
 *  - groups: one or more `user-agent:` lines followed by `allow:` /
 *    `disallow:` rules; a later `user-agent` line after rules starts a
 *    NEW group. Line comments (`#`) and unknown directives are ignored;
 *    keys are case-insensitive; values trim surrounding blanks.
 *  - agent selection: the group whose user-agent token is the LONGEST
 *    case-insensitive prefix of the product token wins; `*` groups are
 *    the fallback. All groups matching that winning token merge.
 *  - rule evaluation: longest-match-wins over the url PATH; on equal
 *    length `allow` wins; no matching rule (or no group) → allowed.
 *    An empty `disallow:` value matches nothing (allows all).
 *  - wildcards: `*` matches any char run, `$` anchors end-of-path —
 *    matched in O(path·rule) by a two-pointer scan (no regex — crawl
 *    inputs are adversarial; see HtmlText.htmlLinks for the precedent).
 *
 * Scale: rule tables are host-count-sized (tiny next to a corpus);
 * [[filterAllowed]] joins candidates to per-host rule lists and
 * evaluates map-side — broadcast the rules side when host cardinality
 * is small, or let AQE pick on the host-keyed shuffle otherwise. The
 * URL side is never collected or re-shuffled beyond that single join.
 */
object Robots {

  /** One parsed rule: `allow=false` is a `disallow` line. `path` keeps
    * the raw pattern (`*`/`$` intact). */
  final case class Rule(agent: String, allow: Boolean, path: String)

  /** Parse one robots.txt body into flat rules. Total: garbage lines are
    * skipped; a body with no user-agent line yields no rules (RFC: rules
    * outside a group are ignored). */
  def parse(body: String): Seq[Rule] = {
    if (body == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var agents = List.empty[String] // current group's user-agent tokens
    var inRules = false             // saw allow/disallow since last UA line
    body.linesIterator.foreach { raw =>
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) { agents = Nil; inRules = false } // new group
            if (value.nonEmpty)
              agents ::= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" if agents.nonEmpty =>
            inRules = true
            // an empty disallow allows everything = no rule; an empty
            // allow is meaningless the same way
            if (value.nonEmpty)
              agents.foreach(a => out += Rule(a, key == "allow", value))
          case "crawl-delay" if agents.nonEmpty =>
            // not an access rule (ignored here — see [[parseDelays]]),
            // but it BELONGS to the current group: a user-agent line
            // after it starts a new group, same as after allow/disallow
            inRules = true
          case _ => () // sitemap/unknown: not access rules
        }
      }
    }
    out.toSeq
  }

  /** Per-group `crawl-delay` values as (agent, delay_s) pairs — NOT an
    * RFC 9309 access rule (major crawlers differ: Google ignores it,
    * Bing/Yandex honor it) but universal in the wild, and a fetcher
    * needs seconds-per-host, not just round indices. Group tracking
    * mirrors [[parse]] exactly (a `crawl-delay` line counts as a rule
    * line for group-boundary purposes in both). Non-numeric / negative
    * values are skipped — crawl robots bodies are garbage-rich. */
  def parseDelays(body: String): Seq[(String, Double)] = {
    if (body == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var agents = List.empty[String]
    var inRules = false
    body.linesIterator.foreach { raw =>
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) { agents = Nil; inRules = false }
            if (value.nonEmpty)
              agents ::= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" if agents.nonEmpty =>
            inRules = true
          case "crawl-delay" if agents.nonEmpty =>
            inRules = true
            scala.util.Try(value.toDouble).toOption
              .filter(d => d >= 0 && !d.isNaN && !d.isInfinite)
              .foreach(d => agents.foreach(a => out += ((a, d))))
          case _ => ()
        }
      }
    }
    out.toSeq
  }

  /** The crawl-delay table [[graft.pipeline.Crawl.schedule]] consumes:
    * (host, delay_s) for one agent token, hosts lowercased to the
    * canonical politeness key. Winning-group selection matches
    * [[rulesForAgent]] (longest named prefix of the token, else `*`);
    * when the winning agent's groups carry several delays the MAX wins
    * (the conservative politeness read). Hosts with no applicable
    * delay emit no row — schedule paces them at 0. */
  def crawlDelayDf(robots: DataFrame, agentToken: String,
                   hostCol: String = "host",
                   bodyCol: String = "body"): DataFrame = {
    val tok = agentToken.toLowerCase(java.util.Locale.ROOT)
    val delayOf = udf { (b: String) =>
      val ds = parseDelays(b)
      val named = ds.filter(d => d._1 != "*" && tok.startsWith(d._1))
      val pick =
        if (named.nonEmpty) {
          val best = named.map(_._1.length).max
          named.filter(_._1.length == best)
        } else ds.filter(_._1 == "*")
      if (pick.isEmpty) None else Some(pick.map(_._2).max)
    }
    robots.select(lower(col(hostCol)).as("host"),
        delayOf(col(bodyCol)).as("delay_s"))
      .filter(col("delay_s").isNotNull)
  }

  /** `Sitemap:` lines from a robots.txt body — group-INDEPENDENT per
    * RFC 9309 §2.3 / sitemaps.org (they may appear anywhere, before any
    * user-agent line included), so this is a separate extraction from
    * [[parse]]'s rule groups. Values are absolute URLs, kept verbatim. */
  def sitemapUrls(body: String): Seq[String] = {
    if (body == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    body.linesIterator.foreach { raw =>
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      val c = line.indexOf(':')
      if (c > 0 &&
        line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
          == "sitemap") {
        val v = line.substring(c + 1).trim
        if (v.nonEmpty) out += v
      }
    }
    out.toSeq
  }

  /** Sitemap DISCOVERY from a crawl's own robots.txt fetch records —
    * the link between [[sitemapUrls]] (the per-body parse) and the
    * [[Sitemaps]] ingestion loop. 200 robots bodies contribute their
    * `Sitemap:` lines; each value resolves RFC 3986-style against the
    * robots url itself (the directive is specified absolute at
    * sitemaps.org, but relative values are common in the wild, and
    * resolve is the identity on absolute ones) and normalizes to the
    * frontier's canonical form; already-fetched sitemaps anti-join
    * away. Output (url, n_refs) — the [[Sitemaps.childSitemaps]]
    * fetch-list shape: fetch these, route `<sitemapindex>` bodies back
    * through childSitemaps and `<urlset>` bodies into
    * [[Sitemaps.seedsFromBytes]]. Everything is robots-fetch-sized:
    * one body decode+parse per host, a left-anti against the fetched
    * set, one url-keyed aggregate. */
  def sitemapsFromRecords(records: DataFrame, fetched: DataFrame,
                          urlCol: String = "url"): DataFrame = {
    val sitemapsOf = udf { (b: Array[Byte]) =>
      if (b == null) Array.empty[String]
      else {
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        sitemapUrls(
          dec.decode(java.nio.ByteBuffer.wrap(b)).toString).toArray
      }
    }
    records.filter(col("warc_type") === "response" &&
        col("http_status") === 200 &&
        pathOf(col("target_uri")) === "/robots.txt")
      .select(col("target_uri").cast("string").as("_rs_base"),
        explode(sitemapsOf(col("body"))).as("_rs_raw"))
      .select(UrlResolve.resolveAndNormalizeCol(col("_rs_base"),
        col("_rs_raw")).as("url"))
      .filter(col("url").isNotNull)
      .join(fetched.select(col(urlCol).cast("string").as("url")),
        Seq("url"), "left_anti")
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"))
  }

  /** RFC 9309 path-pattern match: literal chars, `*` any run, `$` end
    * anchor (only meaningful as the last char; elsewhere literal —
    * the de-facto interpretation). Two-pointer with single backtrack
    * point per `*`: O(path·pattern) worst case, no regex. */
  def pathMatches(pattern: String, path: String): Boolean = {
    val p = pattern
    val endAnchor = p.nonEmpty && p.charAt(p.length - 1) == '$'
    val pat = if (endAnchor) p.substring(0, p.length - 1) else p
    val m = pat.length
    val n = path.length
    var pi = 0; var si = 0
    var starPi = -1; var starSi = -1
    while (si < n) {
      if (pi < m && (pat.charAt(pi) == path.charAt(si)) &&
        pat.charAt(pi) != '*') { pi += 1; si += 1 }
      else if (pi < m && pat.charAt(pi) == '*') {
        starPi = pi; starSi = si; pi += 1
      } else if (starPi >= 0) {
        starSi += 1; si = starSi; pi = starPi + 1
      } else {
        // prefix semantics: pattern consumed = match (unless anchored)
        return pi == m && !endAnchor
      }
      if (pi == m && !endAnchor) return true // prefix matched
    }
    // path exhausted: remaining pattern must be all '*'
    var k = pi
    while (k < m && pat.charAt(k) == '*') k += 1
    k == m
  }

  /** Match LENGTH for longest-match ranking: RFC ranks by octet length
    * of the matched pattern (wildcards count as written). */
  private def ruleLen(pattern: String): Int = pattern.length

  /** Evaluate one url path against one agent's merged rules:
    * longest-match wins, allow wins ties, no match → allowed. */
  def isAllowed(rules: Seq[(Boolean, String)], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { case (allow, pattern) =>
      if (pathMatches(pattern, path)) {
        val l = ruleLen(pattern)
        if (l > bestLen || (l == bestLen && allow && !bestAllow)) {
          bestLen = l; bestAllow = allow
        }
      }
    }
    bestAllow
  }

  /** The group that governs `agentToken`: rules of the longest matching
    * user-agent prefix, falling back to `*`. Token comparison is
    * case-insensitive on the product token (RFC 9309 §2.2.1). */
  def rulesForAgent(all: Seq[Rule], agentToken: String): Seq[(Boolean, String)] = {
    val tok = agentToken.toLowerCase(java.util.Locale.ROOT)
    val named = all.filter(r => r.agent != "*" && tok.startsWith(r.agent))
    val pick =
      if (named.nonEmpty) {
        val best = named.map(_.agent.length).max
        named.filter(_.agent.length == best)
      } else all.filter(_.agent == "*")
    pick.map(r => (r.allow, r.path))
  }

  /** Flat per-host rule rows from (host, robots body) pairs — parse once,
    * persist/replay like any other corpus-side table. Output:
    * (host, agent, allow, path). */
  def rulesDf(robots: DataFrame, hostCol: String = "host",
              bodyCol: String = "body"): DataFrame = {
    val parseUdf = udf { (b: String) =>
      parse(b).map(r => (r.agent, r.allow, r.path))
    }
    robots.select(col(hostCol).as("host"), explode(parseUdf(col(bodyCol)))
        .as("r"))
      .select(col("host"), col("r._1").as("agent"),
        col("r._2").as("allow"), col("r._3").as("path"))
  }

  /** Per-host rules from a crawl's OWN robots.txt fetch records (late
    * r15) — the RFC 9309 §2.3.1 outcome semantics the (host, body)
    * input of [[rulesDf]] cannot express:
    *
    *  - a 200 robots.txt parses normally (refetched hosts fold by MAX
    *    body — deterministic on any engine);
    *  - a 3xx chain FOLLOWS (≤ `maxRedirects` hops, RFC: "MUST follow
    *    at least five consecutive redirects" — via
    *    [[Crawl.resolveRedirects]] over ALL the batch's 3xx records,
    *    since intermediate hops need not sit at /robots.txt) and the
    *    final 200 body applies to the ORIGINATING authority;
    *  - "unreachable" (5xx, §2.3.1.4) is COMPLETE DISALLOW — a host
    *    whose robots.txt errors must not be crawled as if it allowed
    *    everything — synthesized as a `('*', disallow, "/")` row;
    *  - "unavailable" (4xx) and exhausted/looping redirect chains mean
    *    NO RULES (allow all): the host simply gets no row, which is
    *    [[filterAllowed]]'s silent-host default.
    *
    * Precedence per host when the batch carries several outcomes (a
    * 503 then a successful retry): usable body first — direct 200,
    * else chain-resolved 200, else the 5xx disallow. Final-url lookups
    * key on frontier-normalized urls (fetch urls are normalized BY
    * CONSTRUCTION in this chain — [[Crawl.frontier]]). Output is the
    * [[rulesDf]] shape (host, agent, allow, path); feed straight into
    * [[filterAllowed]]. Everything is robots-fetch-sized: map-side
    * scans + host-keyed aggregates + the bounded chain unroll. */
  def rulesFromRecords(records: DataFrame, maxRedirects: Int = 5)
      : DataFrame = {
    val decode = udf { (b: Array[Byte]) =>
      if (b == null) null
      else {
        val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        dec.decode(java.nio.ByteBuffer.wrap(b)).toString
      }
    }
    val resp = records.filter(col("warc_type") === "response")
    // materialized once (robots-fetch-sized — tiny): four branches below
    // (direct bodies, chain sources, 5xx hosts, and the rule parse) each
    // re-embedded the caller's records subtree otherwise — for a raw
    // WARC batch that is four re-parses and a ~4× plan (guide §3.3)
    val robots = resp.filter(pathOf(col("target_uri")) === "/robots.txt")
      .select(UrlFilter.hostOf(col("target_uri")).as("host"),
        col("target_uri").cast("string").as("url"),
        col("http_status").as("status"), col("body"))
      .filter(col("host").isNotNull)
      .localCheckpoint()
    val direct = robots.filter(col("status") === 200)
      .groupBy("host").agg(max(decode(col("body"))).as("_direct"))
    // the whole batch's redirect graph: a robots chain may hop through
    // urls that are not themselves /robots.txt (record shapes without
    // the http_location column carry no followable chains)
    val chains =
      if (!records.columns.contains("http_location"))
        robots.limit(0).select(col("url"),
          col("url").as("final_url"), lit(true).as("resolved"))
      else graft.pipeline.Crawl.resolveRedirects(
        // materialized ONCE (redirect-sized): the chain unroll
        // references its edges maxRedirects+1 times, and each
        // reference would otherwise re-embed the whole records
        // subtree — a raw WARC batch re-parsed five times
        // (crawl_robots_outcomes carried 258 Exchange nodes before
        // this; guide §3.3). Blocks free via ContextCleaner when the
        // result drops (the minhashIndexProbe lifetime contract).
        graft.pipeline.Crawl.redirectEdges(resp).localCheckpoint(),
        maxRedirects)
    val wanted = robots
      .filter(col("status").isin(301, 302, 303, 307, 308))
      .select(col("host"), col("url"))
      .join(chains.filter(col("resolved")).select(col("url"),
        col("final_url")), Seq("url"))
    // decode ONLY the chain-final bodies: (host, final_url) is
    // robots-chain-sized, so the broadcast semi-join keeps the batch's
    // 200 bodies — the whole corpus — from being decoded and shuffled
    // for a handful of lookups
    val finals = resp.filter(col("http_status") === 200)
      .join(broadcast(wanted.select(col("final_url")).distinct()),
        col("target_uri").cast("string") === col("final_url"))
      .groupBy("final_url")
      .agg(max(decode(col("body"))).as("_chain"))
    val viaChain = wanted
      .join(finals, Seq("final_url"))
      .groupBy("host").agg(max(col("_chain")).as("_chain"))
    val bodies = direct.join(viaChain, Seq("host"), "full")
      .select(col("host"),
        coalesce(col("_direct"), col("_chain")).as("body"))
      .filter(col("body").isNotNull)
    val unreachable = robots
      .filter(col("status") >= 500 && col("status") <= 599)
      .select("host").distinct()
      .join(bodies.select("host"), Seq("host"), "left_anti")
      .select(col("host"), lit("*").as("agent"), lit(false).as("allow"),
        lit("/").as("path"))
    rulesDf(bodies).unionByName(unreachable)
  }

  /** [[rulesFromRecords]] for the robots-cache LEDGER (late r15): the
    * same outcome rows PLUS an explicit allow-all rule
    * `('*', allow, "")` for every robots-fetched host the outcome
    * semantics left ruleless (a 404, an exhausted chain, a ruleless or
    * empty 200). Under [[rulesFromLedger]]'s latest-outcome-wins read,
    * "no row" must mean "never fetched robots", NOT "fetched and
    * allowed" — otherwise a site that DELETED its robots.txt keeps its
    * stale disallows forever. The sentinel is a real RFC rule (an
    * empty-prefix allow matches every path at length 0), so no
    * consumer needs to special-case it.
    *
    * A 304 Not Modified robots response is NEITHER outcome (r16, the
    * ADVICE finding): it means "your cached copy is still current", so
    * the host's PRIOR ledger outcome must stand — emitting the
    * ruleless sentinel for it would let a conditional robots refetch
    * (the [[graft.pipeline.Crawl.revalidators]] loop covers
    * /robots.txt urls too) replace a cached disallow with allow-all
    * under the latest-wins read. 304s therefore produce no row at
    * all; the same goes for WARC `revisit` recaptures of robots.txt
    * (the other unchanged-content form). */
  def outcomesFromRecords(records: DataFrame, maxRedirects: Int = 5)
      : DataFrame = {
    val rules = rulesFromRecords(records, maxRedirects)
    val fetched = records.filter(col("warc_type") === "response" &&
        // null-safe: a malformed (statusless) robots response is not a
        // 304 and keeps its pre-r16 ruleless-sentinel behavior
        !col("http_status").eqNullSafe(304) &&
        pathOf(col("target_uri")) === "/robots.txt")
      .select(UrlFilter.hostOf(col("target_uri")).as("host"))
      .filter(col("host").isNotNull).distinct()
    val ruleless = fetched
      .join(rules.select("host").distinct(), Seq("host"), "left_anti")
      .select(col("host"), lit("*").as("agent"), lit(true).as("allow"),
        lit("").as("path"))
    rules.unionByName(ruleless)
  }

  /** The accumulated robots cache from a `robots/batch=N` ledger of
    * [[outcomesFromRecords]] rows (late r15): per host, the rules of
    * its LATEST outcome batch — a refetched robots.txt fully replaces
    * the host's older rules, matching cache semantics (recency by
    * batch id, the ledger convention). Returns an empty rulesDf-shaped
    * frame when the ledger is absent/uncommitted. Host-keyed
    * aggregates over a robots-fetch-sized table. */
  def rulesFromLedger(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    if (!graft.pipeline.Crawl.hasCommittedData(spark, dir))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("agent",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("allow",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType))))
    val df = spark.read.parquet(dir)
    val latest = df.groupBy(col("host").as("_rb_host"))
      .agg(max(col("batch")).as("_rb_max"))
    df.join(latest, col("host") === col("_rb_host") &&
        col("batch") === col("_rb_max"))
      .select("host", "agent", "allow", "path")
  }

  /** Column expression: url → path component ("" scheme-relative rest
    * after the authority; no match → "/"). Scheme matches
    * case-insensitively via char classes (RE2-portable — no inline
    * flag): an `HTTPS://host/private/x` candidate must evaluate its
    * REAL path, not fall to "/" and slip a Disallow through the
    * silent-allow default (the same evasion class as the host-key
    * canonicalization). Portable: the same regexp runs in any RE2
    * engine. */
  def pathOf(url: Column): Column = {
    val p = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1)
    when(p === "", lit("/")).otherwise(p)
  }

  /** Gate candidate urls through per-host rules for one agent token:
    * keeps the urls the agent may fetch. `urls` needs a url column;
    * hosts are keyed CANONICALLY on both sides ([[UrlFilter.hostOf]] on
    * the url side — lowercased, userinfo skipped, port elided — and
    * `lower()` on the rules side), so `https://u@A.EXAMPLE/x` cannot
    * slip past a.example's rules through a host-string mismatch (the
    * silent-host-allows default would otherwise admit it). Hosts with
    * no robots rows allow everything (left join + null-rules = allowed).
    *
    * Shape: rules collapse to one row per host (collect_list of the
    * winning agent group's rules — host-count-sized), then ONE join
    * against the candidates; the verdict is a map-side UDF. The rules
    * side broadcasts. */
  def filterAllowed(urls: DataFrame, rules: DataFrame, agentToken: String,
                    urlCol: String = "url"): DataFrame = {
    require(!urls.columns.contains("_robots_host"),
      "column name _robots_host is reserved by filterAllowed")
    require(!urls.columns.contains("host") && !urls.columns.contains("rules"),
      "url side must not carry host/rules columns (the join would be ambiguous)")
    val tok = agentToken.toLowerCase(java.util.Locale.ROOT)
    // winning agent group per host, resolved ONCE on the rules side:
    // longest named prefix of the token, else '*'
    val scored = rules
      .withColumn("host", lower(col("host")))
      .withColumn("named", col("agent") =!= "*" &&
        startswith(lit(tok), col("agent")))
      .withColumn("alen", when(col("named"), length(col("agent")))
        .otherwise(lit(-1)))
    val winners = scored.groupBy("host")
      .agg(max(col("alen")).as("best"))
    val groupRules = scored.join(winners, Seq("host"))
      .filter((col("best") >= 0 && col("alen") === col("best")) ||
        (col("best") < 0 && col("agent") === "*"))
      .groupBy("host")
      .agg(collect_list(struct(col("allow"), col("path"))).as("rules"))
    val verdict = udf { (rules: Seq[org.apache.spark.sql.Row], path: String) =>
      rules == null ||
        isAllowed(rules.map(r => (r.getBoolean(0), r.getString(1))), path)
    }
    urls
      .withColumn("_robots_host", UrlFilter.hostOf(col(urlCol)))
      .join(broadcast(groupRules), col("_robots_host") === col("host"), "left")
      .filter(verdict(col("rules"), pathOf(col(urlCol))))
      .drop("_robots_host", "host", "rules")
  }
}
