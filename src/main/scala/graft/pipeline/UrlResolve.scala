package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/**
 * RFC 3986 §5 reference resolution, specialized to the crawl loop: turn
 * an anchor href (absolute, scheme-relative, root-relative, or
 * path-relative — the MAJORITY of real-world links are relative) into
 * the absolute http(s) URL a fetcher would request, or null when the
 * reference is not fetchable (mailto:/javascript:/data: schemes,
 * malformed bases, fragment-only refs resolve to the base itself).
 *
 * Semantics (RFC 3986 §5.2, with the crawl-specific deltas):
 *  - fragments strip FIRST (a fragment never reaches the server);
 *  - a ref with its own scheme is kept only for http/https (lowercased;
 *    scheme comparison is case-insensitive per §3.1) — every other
 *    scheme yields null rather than a non-fetchable URL;
 *  - `//host/x` (network-path) takes the base's scheme;
 *  - `/x` (absolute-path) takes the base's authority;
 *  - `x`, `./x`, `../x` merge against the base path (§5.2.3) and pass
 *    through remove_dot_segments (§5.2.4) — INCLUDING the abnormal
 *    excess-`..` cases (§5.4.2: extra `..` segments are consumed at the
 *    root, where `java.net.URI` leaves them in place — the spec pins
 *    this divergence explicitly);
 *  - `?q` (query-only) keeps the base path; an empty ref (or `#frag`)
 *    resolves to the base minus its fragment (§5.4.1 same-document).
 *
 * Total: any (base, href) pair yields a string or null; never throws —
 * crawl hrefs are adversarial garbage. The kernel is a single
 * cursor-based pass (no regex, no per-iteration substring churn), so a
 * megabyte of `./././…` costs O(n), not O(n²).
 *
 * Oracle strategy: general resolution is not regex-replayable, so
 * declared queries pin it the fixture-arithmetic way (the oracle
 * rebuilds each arm's RESOLVED url from doc_id arithmetic — any merge /
 * dot-segment / scheme-relative defect hash-mismatches), and
 * UrlResolveSpec cross-checks `java.net.URI.resolve` on the normal
 * cases plus RFC 3986 §5.4's own example battery.
 */
object UrlResolve {

  /** Split an ABSOLUTE http(s) URL. Null when the input is not one
    * (wrong/missing scheme, no `//`, empty authority). `query` is null
    * when absent; any fragment is dropped. */
  private[pipeline] final case class Parts(scheme: String, authority: String,
                                           path: String, query: String)

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'

  /** Lowercased scheme of `s` when it syntactically starts with one
    * (`ALPHA *(ALPHA/DIGIT/+/-/.) ":"`), else null. A relative path
    * containing `:` in a later segment (`a/b:c`) has no scheme — the
    * colon must come before any `/`, `?` or `#`. */
  private[pipeline] def schemeOf(s: String): String = {
    if (s == null || s.isEmpty || !isAlpha(s.charAt(0))) return null
    var i = 1
    val n = s.length
    while (i < n && isSchemeChar(s.charAt(i))) i += 1
    if (i < n && s.charAt(i) == ':') s.substring(0, i)
      .toLowerCase(java.util.Locale.ROOT)
    else null
  }

  private[pipeline] def parseAbs(url: String): Parts = {
    val scheme = schemeOf(url)
    if (scheme == null || (scheme != "http" && scheme != "https")) return null
    val n = url.length
    var p = scheme.length + 1
    if (p + 1 >= n || url.charAt(p) != '/' || url.charAt(p + 1) != '/')
      return null
    p += 2
    val authStart = p
    while (p < n && url.charAt(p) != '/' && url.charAt(p) != '?' &&
      url.charAt(p) != '#') p += 1
    if (p == authStart) return null // empty authority: not fetchable
    val authority = url.substring(authStart, p)
    val pathStart = p
    while (p < n && url.charAt(p) != '?' && url.charAt(p) != '#') p += 1
    val path = url.substring(pathStart, p)
    var query: String = null
    if (p < n && url.charAt(p) == '?') {
      val qs = p + 1
      p += 1
      while (p < n && url.charAt(p) != '#') p += 1
      query = url.substring(qs, p)
    }
    Parts(scheme, authority, path, query)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments — cursor-based (each case
    * advances an index; nothing re-substrings the remaining input), so
    * adversarial `./././…` runs stay linear. */
  private[pipeline] def removeDotSegments(path: String): String = {
    val n = path.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    def at(s: String): Boolean = path.startsWith(s, i)
    while (i < n) {
      if (at("../")) i += 3 // case A
      else if (at("./")) i += 2 // case A
      else if (at("/./")) i += 2 // case B: "/./" -> "/" (keep the slash)
      else if (i + 2 == n && at("/.")) { i += 2; out.append('/') } // case B end
      else if (at("/../") || (i + 3 == n && at("/.."))) { // case C
        val cut = out.lastIndexOf("/")
        out.setLength(if (cut >= 0) cut else 0)
        if (i + 3 == n) { i += 3; out.append('/') } // final "/.." -> dir end
        else i += 3 // keep the trailing '/' for the next round
      } else if ((i + 1 == n && path.charAt(i) == '.') ||
        (i + 2 == n && at(".."))) i = n // case D
      else { // case E: move one segment (with its leading '/', if any)
        var k = if (path.charAt(i) == '/') i + 1 else i
        while (k < n && path.charAt(k) != '/') k += 1
        out.append(path, i, k)
        i = k
      }
    }
    out.toString
  }

  private def assemble(scheme: String, authority: String, path: String,
                       query: String): String = {
    val sb = new java.lang.StringBuilder(
      scheme.length + 3 + authority.length + path.length +
        (if (query == null) 0 else query.length + 1))
    sb.append(scheme).append("://").append(authority).append(path)
    if (query != null) sb.append('?').append(query)
    sb.toString
  }

  /** WHATWG-style href pre-clean: markup wraps href values in
    * whitespace constantly (`href="\n  https://x  "` across an
    * attribute line break), and browsers strip leading/trailing
    * C0-control-or-space and remove EVERY internal tab/LF/CR before
    * parsing — without this, a wrapped absolute link merges as a junk
    * relative path (" https://x" has no scheme) and garbage urls enter
    * the frontier. Internal SPACES pass through (a fetcher
    * percent-encodes at request time — this kernel is resolution, not
    * full WHATWG serialization). */
  private[pipeline] def cleanRef(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) <= ' ') a += 1
    while (b > a && s.charAt(b - 1) <= ' ') b -= 1
    var i = a
    var hasInner = false
    while (i < b && !hasInner) {
      val c = s.charAt(i)
      if (c == '\t' || c == '\n' || c == '\r') hasInner = true
      i += 1
    }
    if (!hasInner) s.substring(a, b)
    else {
      val sb = new java.lang.StringBuilder(b - a)
      var k = a
      while (k < b) {
        val c = s.charAt(k)
        if (c != '\t' && c != '\n' && c != '\r') sb.append(c)
        k += 1
      }
      sb.toString
    }
  }

  /** Resolve `ref` against the absolute http(s) `base` (see object doc).
    * Null when the base is malformed or the ref is not fetchable. */
  def resolve(base: String, ref: String): String = {
    val b = parseAbs(base)
    if (b == null || ref == null) return null
    val cleaned = cleanRef(ref)
    val hash = cleaned.indexOf('#')
    val r = if (hash >= 0) cleaned.substring(0, hash) else cleaned
    val scheme = schemeOf(r)
    if (scheme != null) {
      if (scheme != "http" && scheme != "https") return null
      val p = parseAbs(r)
      if (p == null) return null
      return assemble(p.scheme, p.authority, removeDotSegments(p.path),
        p.query)
    }
    if (r.startsWith("//")) { // network-path: scheme from base
      val p = parseAbs(b.scheme + ":" + r)
      if (p == null) return null
      return assemble(b.scheme, p.authority, removeDotSegments(p.path),
        p.query)
    }
    if (r.isEmpty) // same-document: base minus fragment
      return assemble(b.scheme, b.authority, b.path, b.query)
    val qi = r.indexOf('?')
    val rp = if (qi >= 0) r.substring(0, qi) else r
    val rq = if (qi >= 0) r.substring(qi + 1) else null
    if (rp.isEmpty) // query-only ref keeps the base path
      return assemble(b.scheme, b.authority, b.path, rq)
    val merged =
      if (rp.charAt(0) == '/') rp
      else if (b.path.isEmpty) "/" + rp // authority with empty path (§5.2.3)
      else {
        val cut = b.path.lastIndexOf('/')
        if (cut < 0) rp else b.path.substring(0, cut + 1) + rp
      }
    assemble(b.scheme, b.authority, removeDotSegments(merged), rq)
  }

  /** Column form: resolve a link column against a base-url column.
    * Null result rows are the not-fetchable refs — filter them. */
  def resolveCol(base: Column, href: Column): Column = {
    val u = udf((b: String, h: String) => resolve(b, h))
    u(base, href)
  }

  // ---------------------------------------------------------------------
  // Fused canonicalization for RESOLVE OUTPUTS. The frontier runs
  // [[UrlFilter.normalizeUrl]]'s ~12-regex Column chain per link; that
  // measured ~35 µs/link at sf0.1 — ~10 core-hours per BILLION links,
  // pure canonicalization. A [[resolve]] output already has a lowercase
  // http(s) scheme, a non-empty authority, and no fragment, so most
  // links need NO normalization work at all: one O(n) scan proves it
  // (no uppercase/':' in the authority, no '?'/'&' anywhere, no
  // trailing '/') and returns the string untouched. Links that do need
  // work run the chain's EXACT regexes, precompiled once per JVM —
  // same java.util.regex engine Spark's regexp_replace uses, same
  // patterns, same order, so equivalence is structural;
  // UrlResolveSpec additionally cross-checks kernel vs Column chain on
  // the fixture arms and randomized URLs.
  // ---------------------------------------------------------------------

  private val FragRe = java.util.regex.Pattern.compile("#.*$")
  private val UtmRe =
    java.util.regex.Pattern.compile("([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*")
  private val AmpRunRe = java.util.regex.Pattern.compile("&&+")
  private val QAmpRe = java.util.regex.Pattern.compile("\\?&")
  private val DanglingRe = java.util.regex.Pattern.compile("[?&]$")
  private val Port80Re =
    java.util.regex.Pattern.compile("^(http://[^/:?#]+):80([/?]|$)")
  private val Port443Re =
    java.util.regex.Pattern.compile("^(https://[^/:?#]+):443([/?]|$)")
  private val SlashRe = java.util.regex.Pattern.compile("/$")
  // the chain's percent-normalization steps, precompiled once per JVM —
  // the MALFORMED-escape fallback path only (see pctNormalize)
  private lazy val PctPatterns: Array[(java.util.regex.Pattern, String)] =
    UrlFilter.PctSteps.map { case (p, r) =>
      // the step replacements are already java.util.regex syntax ($1) —
      // the same engine Spark's regexp_replace runs on
      (java.util.regex.Pattern.compile(p), r)
    }.toArray

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def isUnreserved(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') || b == '-' || b == '.' || b == '_' || b == '~'

  /** [[UrlFilter.PctSteps]]'s exact semantics in one linear scan. When
    * EVERY `%` starts a valid two-hex escape (the overwhelming case),
    * the scan is provably step-equivalent: decode steps consume whole
    * valid escapes, decoded characters are never `%`, and the uppercase
    * steps' three-char match regions lie entirely inside remaining
    * escapes — so per-escape local rewriting equals the global chain. A
    * MALFORMED escape breaks that locality (a decoded char landing
    * after a dangling `%h` can complete a pattern the scan never sees:
    * `"%6%61"` → chain `"%6A"`… decode→`"%6a"`→upper→`"%6A"`), so such
    * inputs take the chain's exact precompiled patterns instead.
    * UrlResolveSpec cross-checks both paths against the Column chain. */
  private[pipeline] def pctNormalize(s: String): String = {
    val first = s.indexOf('%')
    if (first < 0) return s
    val n = s.length
    // one pass: detect malformation; valid escapes advance by 3
    var j = first
    while (j >= 0) {
      if (j + 2 >= n || hexVal(s.charAt(j + 1)) < 0 ||
        hexVal(s.charAt(j + 2)) < 0) {
        // malformed escape: replay the chain's own regexes
        var out = s
        var k = 0
        while (k < PctPatterns.length) {
          out = PctPatterns(k)._1.matcher(out).replaceAll(PctPatterns(k)._2)
          k += 1
        }
        return out
      }
      j = s.indexOf('%', j + 3)
    }
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%') {
        val h1 = s.charAt(i + 1)
        val h2 = s.charAt(i + 2)
        val b = hexVal(h1) * 16 + hexVal(h2)
        if (isUnreserved(b)) sb.append(b.toChar)
        else sb.append('%').append(Character.toUpperCase(h1))
          .append(Character.toUpperCase(h2))
        i += 3
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** [[UrlFilter.normalizeUrl]]'s exact semantics on a [[resolve]]
    * output (see the block comment): fast-path identity when one scan
    * proves no rule applies, else the chain's own regexes. Input MUST
    * be a resolve output — arbitrary strings keep using the Column
    * chain. */
  private[pipeline] def normalizeResolved(u: String): String = {
    val n = u.length
    val authStart = u.indexOf("://") + 3 // resolve guarantees presence
    var authEnd = authStart
    while (authEnd < n && u.charAt(authEnd) != '/' &&
      u.charAt(authEnd) != '?' && u.charAt(authEnd) != '#') authEnd += 1
    var work = false
    // authority span: any non-lowercase-ASCII byte (uppercase needs
    // lowering; non-ASCII may case-fold), ':' (maybe a default port),
    // '&' — the chain's UtmRe/DanglingRe are NOT query-scoped, so an
    // '&' inside userinfo ('https://u&gclid=x@h.ex/p') or a trailing
    // authority '&' ('https://a.ex&') makes them fire; without this arm
    // the fast path would return such urls untouched while the Column
    // chain rewrites them, breaking the output-identical pin — or '%'
    // (r14: an escape may need percent-normalization)
    var i = authStart
    while (!work && i < authEnd) {
      val c = u.charAt(i)
      if ((c >= 'A' && c <= 'Z') || c == ':' || c == '&' || c == '%' ||
        c > 0x7E) work = true
      i += 1
    }
    // rest of string: query/fragment markers (utm strip, dangling
    // repair) — '&' in a PATH also routes slow, the chain's regex is
    // not query-scoped — and '%' (percent-normalization). Path case is
    // preserved, so uppercase there is fine.
    i = authEnd
    while (!work && i < n) {
      val c = u.charAt(i)
      if (c == '?' || c == '&' || c == '#' || c == '%') work = true
      i += 1
    }
    if (!work && n > authStart && u.charAt(n - 1) == '/') work = true
    if (!work) return u
    // slow path: the Column chain's steps verbatim
    val tail = u.substring(authStart)
    var hostEnd = 0
    val tn = tail.length
    while (hostEnd < tn && tail.charAt(hostEnd) != '/' &&
      tail.charAt(hostEnd) != '?' && tail.charAt(hostEnd) != '#') hostEnd += 1
    val scheme = u.substring(0, authStart - 3)
      .toLowerCase(java.util.Locale.ROOT) // already lowercase from resolve
    val host = tail.substring(0, hostEnd).toLowerCase(java.util.Locale.ROOT)
    val joined = scheme + "://" + host + tail.substring(hostEnd)
    val noFrag = FragRe.matcher(joined).replaceAll("")
    val noUtm = UtmRe.matcher(noFrag).replaceAll("$1")
    val noDangle = DanglingRe.matcher(
      QAmpRe.matcher(
        AmpRunRe.matcher(noUtm).replaceAll("&")).replaceAll("?"))
      .replaceAll("")
    val noPort = Port443Re.matcher(
      Port80Re.matcher(noDangle).replaceAll("$1$2")).replaceAll("$1$2")
    pctNormalize(SlashRe.matcher(noPort).replaceAll(""))
  }

  /** Resolve + canonicalize in ONE kernel call — the frontier's
    * per-link hot path ([[graft.pipeline.Crawl.frontier]]): null for
    * not-fetchable refs, else `normalizeResolved(resolve(base, href))`.
    * Output-identical to `normalizeUrl(resolveCol(...))`. */
  def resolveAndNormalize(base: String, href: String): String = {
    val r = resolve(base, href)
    if (r == null) null else normalizeResolved(r)
  }

  /** Column form of [[resolveAndNormalize]]. */
  def resolveAndNormalizeCol(base: Column, href: Column): Column = {
    val u = udf((b: String, h: String) => resolveAndNormalize(b, h))
    u(base, href)
  }

  /** Canonicalize a STANDALONE url candidate (no base — sitemap `<loc>`
    * values, seed lists): WHATWG pre-clean, then [[resolve]] against
    * itself (an absolute http(s) url is its own base; anything relative
    * or non-http(s) nulls — exactly the fetchability contract), then
    * the fused normalize. Frontier urls are normalized BY CONSTRUCTION;
    * a seed feeder that skips this hands the fetcher raw `<loc>` forms
    * whose fetched-ledger rows never match the frontier-normalized form
    * of the same page — one duplicate fetch per non-canonical seed. */
  def selfNormalize(u: String): String = {
    if (u == null) return null
    val c = cleanRef(u)
    val r = resolve(c, c)
    if (r == null) null else normalizeResolved(r)
  }
}
