package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL / domain filtering for training-data pipelines (the C4-style
 * "drop documents citing blocklisted domains" step).
 *
 * Scale design: a host like `a.b.example.com` is matched against the
 * blocklist by expanding its bounded dot-suffix chain
 * (`[a.b.example.com, b.example.com, example.com, com]`, ≤ label count
 * entries) and broadcast EQUI-joining the chain — never `LIKE '%.' ||
 * domain`, which would force a nested-loop scan of corpus × blocklist.
 * The blocklist (thousands to millions of rows) broadcasts; the corpus
 * side stays map-side, one `distinct` shuffle on doc id for the hit set.
 *
 * The host regex is in the Java/RE2-shared subset, so DuckDB/Trino run
 * the same pattern for oracle checks.
 */
object UrlFilter {

  /** Capturing pattern for the host part of an http(s) URL. Evasion-
    * hardened in three ways, each of which would otherwise let a
    * blocklisted domain through: the capture must END on an alphanumeric
    * (a bare `[A-Za-z0-9.-]+` would swallow sentence-final punctuation
    * — "visit https://badsite.com." — and the trailing dot defeats both
    * the exact and the suffix match); the scheme matches case-
    * insensitively via explicit char classes (`HTTPS://badsite.com`; RE2
    * has no global case flag mid-pattern portability, so char classes
    * keep it Java∩RE2); and an optional userinfo prefix is skipped
    * (`https://u@badsite.com` must extract `badsite.com`, not `u`). */
  val HostRe =
    "[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])"

  /** Distinct lowercased hosts referenced by a text column. */
  def hosts(text: Column): Column =
    array_distinct(transform(
      regexp_extract_all(text, lit(HostRe), lit(1)), h => lower(h)))

  /** RFC 3986 §6.2.2 percent-encoding normalization as an ENGINE-
    * PORTABLE regex step list: first decode every escape of an
    * UNRESERVED character (`%41`→`A` … `%7E`→`~`, hex case-insensitive
    * — 66 single-pattern steps; `%7e`, `%7E` and `~` must be ONE dedup
    * key), then uppercase the hex of every REMAINING (reserved) escape
    * via 12 capture steps (`%3f`→`%3F`: second nibble `a`–`f` first,
    * then first nibble — by then the second is already upper, hence its
    * `[0-9A-F]` class). Replacements use Spark's `$1`; the DuckDB
    * oracle rewrites to `\1` (the established replay convention).
    * Decoded characters are never `%` and never delimiters, so steps
    * cannot cascade and cannot retro-trigger the earlier chain rules. */
  val PctSteps: Seq[(String, String)] = {
    val unreserved =
      (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++
        Seq('-', '.', '_', '~')).map { c =>
        (f"(?i)%%${c.toInt}%02X", c.toString)
      }
    val upperSecond = ('a' to 'f').map { h =>
      (s"%([0-9A-Fa-f])$h", s"%$$1${h.toUpper}")
    }
    val upperFirst = ('a' to 'f').map { h =>
      (s"%$h([0-9A-F])", s"%${h.toUpper}$$1")
    }
    unreserved ++ upperSecond ++ upperFirst
  }

  /**
   * Canonicalize an http(s) URL for URL-level dedup — the same page must
   * hash identically however it was cited. Rules (each a Java∩RE2
   * pattern or a literal replace, so the identical chain runs in any
   * engine; no lookarounds — trailing context is captured and restored):
   *
   *   1. scheme and host lowercase (path/query stay case-sensitive),
   *   2. fragment dropped (`#…` never reaches the server),
   *   3. tracking params dropped (`utm_*`, `gclid`, `fbclid`) — the
   *      param name is ANCHORED on its `?`/`&` delimiter so suffix
   *      look-alikes survive (`?xgclid=v` keeps `xgclid`; `?my_fbclid=a`
   *      and `?my_fbclid=b` stay distinct) — with `&&`/dangling-`?`/`&`
   *      repair,
   *   4. default ports elided (`:80` on http, `:443` on https),
   *   5. one trailing slash dropped,
   *   6. percent-encoding normalized ([[PctSteps]], r14): unreserved
   *      escapes decode, remaining escapes uppercase their hex. An
   *      encoded tracking-param name (`%75tm_source`) survives rule 3
   *      by design — the chain IS the definition, and rule 6 runs last
   *      so it cannot mint delimiters for the earlier rules.
   *
   * Non-URL input (no `scheme://`) passes through untouched.
   */
  def normalizeUrl(url: Column): Column = {
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val scheme = lower(regexp_extract(url, schemeRe, 1))
    val tail = regexp_replace(url, schemeRe, "")
    val host = lower(regexp_extract(tail, "^([^/?#]*)", 1))
    val rest = regexp_replace(tail, "^[^/?#]*", "")
    val joined = concat(scheme, lit("://"), host, rest)
    val noFrag = regexp_replace(joined, "#.*$", "")
    // Delimiter-anchored: a bare `(gclid|...)=...` would also match the
    // SUFFIX of a longer param name (`?xgclid=v` → `?x`), merging URLs
    // that are genuinely distinct. The captured `?`/`&` is restored and
    // the trailing `&` of a dropped param is deliberately NOT consumed —
    // consuming it would swallow the delimiter of an immediately
    // following tracking param (`?utm_a=1&utm_b=2` would keep `utm_b`).
    // Leftover `&&` runs / `?&` / trailing `?`/`&` are repaired below.
    val noUtm = regexp_replace(noFrag,
      "([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*", "$1")
    val noDangle = regexp_replace(regexp_replace(regexp_replace(noUtm,
      "&&+", "&"), "\\?&", "?"), "[?&]$", "")
    val noPort = regexp_replace(regexp_replace(noDangle,
        "^(http://[^/:?#]+):80([/?]|$)", "$1$2"),
      "^(https://[^/:?#]+):443([/?]|$)", "$1$2")
    val noSlash = regexp_replace(noPort, "/$", "")
    val pct = PctSteps.foldLeft(noSlash) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    when(url.rlike(schemeRe), pct).otherwise(url)
  }

  /** All dot-suffixes of a host: a.b.c → [a.b.c, b.c, c]. Since r15 a
    * per-row kernel UDF — the former `transform(sequence(...))` Column
    * chain evaluates INTERPRETED per element (the house anti-pattern;
    * bounded here by label count, but free to remove while touching
    * blocklist code). UrlFilterSpec keeps the chain for the
    * kernel==chain pin; the blocklist oracles rebuild suffix
    * semantics independently (`ends_with`), so the declared queries
    * never depended on the chain form. */
  def hostSuffixes(host: Column): Column = {
    val u = udf { (h: String) =>
      if (h == null) null
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        out += h
        while (i < h.length) {
          // every '.' opens one suffix — a trailing dot's EMPTY suffix
          // included, exactly like the chain (split keeps trailing
          // empties at limit -1)
          if (h.charAt(i) == '.') out += h.substring(i + 1)
          i += 1
        }
        out.toArray
      }
    }
    u(host)
  }

  /**
   * Flag documents whose text references a blocklisted domain, exactly or
   * as a subdomain. Adds a `blocked` boolean; every input row survives.
   */
  def flagBlockedDomains(df: DataFrame, idCol: String, textCol: String,
                         blocklist: DataFrame, domainCol: String): DataFrame = {
    val suffixes = df
      .select(col(idCol), explode(hosts(col(textCol))).as("host"))
      .select(col(idCol), explode(hostSuffixes(col("host"))).as("suffix"))
    val hits = suffixes
      .join(broadcast(blocklist.select(lower(col(domainCol)).as("suffix"))),
        Seq("suffix"))
      .select(col(idCol)).distinct()
      .withColumn("blocked", lit(true))
    df.join(hits, Seq(idCol), "left")
      .na.fill(false, Seq("blocked"))
  }

  /** Drop blocked documents (the filtering form of [[flagBlockedDomains]]). */
  def dropBlockedDomains(df: DataFrame, idCol: String, textCol: String,
                         blocklist: DataFrame, domainCol: String): DataFrame =
    flagBlockedDomains(df, idCol, textCol, blocklist, domainCol)
      .filter(!col("blocked")).drop("blocked")

  /** Drop rows whose URL column's host is a blocklisted domain, exactly
    * or as a subdomain — the frontier-side sibling of
    * [[dropBlockedDomains]] (which scans TEXT): a crawl must not even
    * SCHEDULE a blocklisted host, not just drop its documents after
    * fetching. Same scale shape: bounded dot-suffix expansion
    * (≤ label count per url) equi-joined against the BROADCAST
    * blocklist — never a `LIKE '%.' || domain` nested loop; the hit set
    * anti-joins back on the url. Hostless rows pass (nothing to match).
    */
  def dropBlockedUrls(df: DataFrame, urlCol: String,
                      blocklist: DataFrame, domainCol: String): DataFrame = {
    val hits = df.select(col(urlCol))
      .withColumn("_ufb_host", hostOf(col(urlCol)))
      .filter(col("_ufb_host").isNotNull)
      .select(col(urlCol), explode(hostSuffixes(col("_ufb_host")))
        .as("_ufb_suffix"))
      .join(broadcast(blocklist
        .select(lower(col(domainCol)).as("_ufb_suffix"))), Seq("_ufb_suffix"))
      .select(col(urlCol)).distinct()
    df.join(hits, Seq(urlCol), "left_anti")
  }

  /** Crawl-trap heuristic over ONE url — the classic infinite-URL-space
    * defenses every production crawler ships (a calendar that links
    * "next month" forever, a loop path `/a/b/a/b/…`, a session-id
    * cartesian query) will otherwise eat the whole fetch budget:
    *  - total length > `maxLen` (generated-link explosions),
    *  - more than `maxSegments` path segments (unbounded nesting),
    *  - one path segment repeated more than `maxSegmentRepeat` times
    *    CONSECUTIVELY (the self-referencing relative-link loop: each
    *    round appends the same segment again),
    *  - more than `maxQueryParams` `&`-separated query params
    *    (faceted-search cartesian blowups).
    * One linear scan, total, never throws; null is not a trap (nothing
    * to fetch). Thresholds are deliberately loose — this drops only
    * the shapes that are virtually never real content. */
  def isUrlTrap(url: String, maxLen: Int = 2048, maxSegments: Int = 32,
                maxSegmentRepeat: Int = 3, maxQueryParams: Int = 32)
      : Boolean = {
    if (url == null) return false
    val n = url.length
    if (n > maxLen) return true
    // path span: after scheme://authority, before ?/#
    var i = url.indexOf("://")
    i = if (i < 0) 0 else i + 3
    while (i < n && url.charAt(i) != '/' && url.charAt(i) != '?' &&
      url.charAt(i) != '#') i += 1
    var segments = 0
    var prevStart = -1
    var prevLen = -1
    var runLen = 1
    while (i < n && url.charAt(i) != '?' && url.charAt(i) != '#') {
      if (url.charAt(i) == '/') {
        val segStart = i + 1
        var j = segStart
        while (j < n && url.charAt(j) != '/' && url.charAt(j) != '?' &&
          url.charAt(j) != '#') j += 1
        val segLen = j - segStart
        if (segLen > 0) {
          segments += 1
          if (segments > maxSegments) return true
          val same = segLen == prevLen && {
            var k = 0
            var eq = true
            while (eq && k < segLen) {
              if (url.charAt(prevStart + k) != url.charAt(segStart + k))
                eq = false
              k += 1
            }
            eq
          }
          runLen = if (same) runLen + 1 else 1
          if (runLen > maxSegmentRepeat) return true
          prevStart = segStart
          prevLen = segLen
        }
        i = j
      } else i += 1
    }
    // query span: count params as 1 + separators ('&' and ';' — both
    // live in the wild)
    if (i < n && url.charAt(i) == '?') {
      var params = if (i + 1 < n && url.charAt(i + 1) != '#') 1 else 0
      i += 1
      while (i < n && url.charAt(i) != '#') {
        if (url.charAt(i) == '&' || url.charAt(i) == ';') params += 1
        if (params > maxQueryParams) return true
        i += 1
      }
    }
    false
  }

  /** Drop rows whose URL column trips [[isUrlTrap]] — compose after the
    * frontier's blocklist/robots gates. Map-side per row. */
  def dropUrlTraps(df: DataFrame, urlCol: String, maxLen: Int = 2048,
                   maxSegments: Int = 32, maxSegmentRepeat: Int = 3,
                   maxQueryParams: Int = 32): DataFrame = {
    val trap = udf((u: String) =>
      isUrlTrap(u, maxLen, maxSegments, maxSegmentRepeat, maxQueryParams))
    df.filter(!trap(col(urlCol)))
  }

  /** Lowercased host of ONE url column ([[HostRe]] semantics: scheme
    * required, optional userinfo skipped, port excluded). Non-URL input
    * yields null — callers decide whether hostless rows count. */
  def hostOf(url: Column): Column = {
    val h = lower(regexp_extract(url, HostRe, 1))
    when(length(h) > 0, h)
  }

  /**
   * Per-host corpus statistics — the host-granularity view web-pipeline
   * policies key on (CCNet and RefinedWeb aggregate quality and dedup
   * signals per host/domain before filtering at that level): one groupBy
   * from `(url, …)` rows to `(host, n_docs, sum_<signal>…)`. Signals must
   * be integral columns (exact BIGINT sums — means are derivable as
   * sum/n downstream; a float mean would be summation-order-dependent,
   * the repo-wide exactness rule). Hostless rows (null [[hostOf]]) are
   * excluded. The host table is hosts-sized, not corpus-sized — the
   * natural broadcast side of any keep/drop join a policy builds on it.
   */
  def hostStats(df: DataFrame, urlCol: String, idCol: String,
                signalCols: Seq[String] = Nil): DataFrame = {
    val base = df
      .withColumn("host", hostOf(col(urlCol)))
      .filter(col("host").isNotNull)
    val aggs = count(lit(1)).as("n_docs") +:
      signalCols.map(c => sum(col(c).cast("long")).as(s"sum_$c"))
    base.groupBy("host").agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Deterministic per-host document cap — "at most k pages per host", the
   * standard guard against a single boilerplate-heavy host dominating a
   * training mix. Keeps, per host, the k documents with the smallest
   * Knuth-hash coordinate (the quota-sampling rule: deterministic,
   * engine-portable, uniform within the host — NOT first-k-by-id, which
   * would bias toward old crawls), ranked through the bounded TopK
   * aggregator (≤ k rows per host per task — no window funnel over a hot
   * host's partition). Returns `(host, idCol, rank)`; join back on
   * `idCol` for the surviving rows. Hostless rows are excluded.
   */
  def capPerHost(df: DataFrame, urlCol: String, idCol: String,
                 k: Int): DataFrame = {
    val scored = df
      .withColumn("host", hostOf(col(urlCol)))
      .filter(col("host").isNotNull)
      .select(col("host"), col(idCol),
        negate(graft.pipeline.Sampling.hashCoord(col(idCol)).cast("double"))
          .as("_hs_neg"))
    graft.functions.TopK.topKPerGroup(scored, "host", idCol, "_hs_neg", k)
      .select(col("host"), col(idCol), col("rank"))
  }
}
