package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * WET-style HTML→text extraction — the step between WARC ingestion
 * ([[graft.sources.Warc]]) and the text pipeline (C4/Gopher filters,
 * dedup, quality): crawl response bodies are HTML; training corpora are
 * the visible text. Common Crawl publishes exactly this transform as its
 * WET files.
 *
 * The kernel is a single-pass character state machine, not regex — crawl
 * HTML is adversarial (unterminated tags, megabyte attributes, nested
 * garbage), and a backtracking regex over it is a DoS vector while a
 * state machine is strictly O(n):
 *
 *  - `<script>`/`<style>` elements drop whole (case-insensitive,
 *    attribute-tolerant), `<!-- -->` comments drop whole;
 *  - block-level tags (p, div, br, li, h1–h6, tr, td, table, ul, ol,
 *    section, article, header, footer, blockquote, pre, hr, title, …)
 *    become line breaks; inline tags vanish (HTML's own rendering
 *    semantics — `a<b>c</b>` renders "ac");
 *  - the core character entities decode (`&amp; &lt; &gt; &quot; &apos;
 *    &nbsp;`) plus numeric `&#NNN;`/`&#xHH;` forms; unknown entities
 *    pass through literally (crawl reality — never throw);
 *  - within each line, every whitespace run collapses to one space and
 *    edges trim (HTML whitespace semantics); empty lines drop; lines
 *    join with `\n`.
 *
 * Deterministic and engine-portable by construction: the
 * `warc_html_extract` oracle rebuilds the expected text in SQL from the
 * source documents and compares md5s byte-exactly.
 *
 * Scale: per-row map work — no shuffle, no driver involvement;
 * throughput scales with cores like the media decoders.
 */
object HtmlText {

  private val BlockTags: Set[String] = Set(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "td",
    "th", "table", "ul", "ol", "dl", "dt", "dd", "section", "article",
    "header", "footer", "blockquote", "pre", "hr", "form", "nav", "aside",
    "main", "figure", "figcaption", "title")

  // block boundaries are tracked as OFFSETS into the pre-collapse buffer
  // (not an in-band sentinel char), so no input byte -- NUL included -- can
  // mint or mask one; crawl bytes pass through as content verbatim

  /** Decode one entity starting at `i` (the `&`); returns (decoded code
    * point or -1 when not an entity, next index). */
  private def entity(s: String, i: Int): (Int, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) return (-1, i) // not an entity: literal &
    val name = s.substring(i + 1, semi)
    name match {
      case "amp" => ('&'.toInt, semi + 1)
      case "lt" => ('<'.toInt, semi + 1)
      case "gt" => ('>'.toInt, semi + 1)
      case "quot" => ('"'.toInt, semi + 1)
      case "apos" => ('\''.toInt, semi + 1)
      case "nbsp" => (' '.toInt, semi + 1)
      case _ if name.length > 1 && name.charAt(0) == '#' =>
        val cp =
          if (name.length > 2 && (name.charAt(1) == 'x' || name.charAt(1) == 'X'))
            scala.util.Try(Integer.parseInt(name.substring(2), 16)).getOrElse(-1)
          else scala.util.Try(Integer.parseInt(name.substring(1))).getOrElse(-1)
        if (cp > 0 && Character.isValidCodePoint(cp)) (cp, semi + 1)
        else (-1, i)
      case _ => (-1, i) // unknown entity: keep literal
    }
  }

  /** Case-insensitive check that `s` at `from` starts with `tag` followed
    * by a name terminator (whitespace, '>', '/'). */
  private def tagAt(s: String, from: Int, tag: String): Boolean = {
    if (from + tag.length > s.length) return false
    var k = 0
    while (k < tag.length) {
      if (Character.toLowerCase(s.charAt(from + k)) != tag.charAt(k)) return false
      k += 1
    }
    val end = from + tag.length
    end >= s.length || !Character.isLetterOrDigit(s.charAt(end))
  }

  /** Case-insensitive indexOf for the two raw-text element closers. */
  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length
    val m = needle.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var k = 0
      while (k < m && Character.toLowerCase(s.charAt(i + k)) == needle.charAt(k))
        k += 1
      if (k == m) return i
      i += 1
    }
    -1
  }

  /** The extraction kernel (see object doc). Total: any input, including
    * non-HTML garbage, yields a string; never throws. */
  def htmlToText(html: String): String = {
    if (html == null) return ""
    val n = html.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 20))
    var breaks = new Array[Int](16) // block-break offsets into `out`
    var nBreaks = 0
    def addBreak(): Unit = {
      if (nBreaks == breaks.length)
        breaks = java.util.Arrays.copyOf(breaks, breaks.length * 2)
      breaks(nBreaks) = out.length(); nBreaks += 1
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-'
          && html.charAt(i + 3) == '-') { // comment
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (tagAt(html, i + 1, "script") ||
                   tagAt(html, i + 1, "style")) {
          val closer =
            if (tagAt(html, i + 1, "script")) "</script" else "</style"
          val end = indexOfIgnoreCase(html, closer, i + 1)
          i =
            if (end < 0) n
            else html.indexOf('>', end) match {
              case -1 => n
              case e => e + 1
            }
          addBreak()
        } else {
          // generic tag: read the name, skip to '>'
          var j = i + 1
          if (j < n && html.charAt(j) == '/') j += 1
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          val close = html.indexOf('>', j)
          i = if (close < 0) n else close + 1
          if (BlockTags.contains(name)) addBreak()
        }
      } else if (c == '&') {
        val (cp, next) = entity(html, i)
        if (cp >= 0) { out.appendCodePoint(cp); i = next }
        else { out.append('&'); i += 1 }
      } else {
        out.append(c)
        i += 1
      }
    }
    // per-line whitespace collapse + trim, drop empties, join with \n.
    // the collapsible set is EXACTLY RE2's \s ([\t\n\f\r ]) so the
    // SQL-rebuilt oracle (DuckDB regexp_replace '\s+') holds for
    // arbitrary corpus text -- \u000B and NUL are content, not
    // whitespace (the documented Java-vs-RE2 parity trap class)
    val text = out.toString
    val sb = new java.lang.StringBuilder(text.length)
    var first = true
    var seg = 0
    var bi = 0
    while (bi <= nBreaks) {
      val brk = if (bi < nBreaks) breaks(bi) else text.length
      var k = seg
      val line = new java.lang.StringBuilder(brk - seg)
      var pendingSpace = false
      while (k < brk) {
        val ch = text.charAt(k)
        if (ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' ||
          ch == '\f') pendingSpace = line.length() > 0
        else {
          if (pendingSpace) { line.append(' '); pendingSpace = false }
          line.append(ch)
        }
        k += 1
      }
      if (line.length() > 0) {
        if (!first) sb.append('\n')
        sb.append(line)
        first = false
      }
      seg = brk
      bi += 1
    }
    sb.toString
  }

  /** Column form for pipeline composition. */
  def htmlToTextCol(html: Column): Column = {
    val u = udf((s: String) => htmlToText(s))
    u(html)
  }

  /** HTML attribute-value entity decode — the WHATWG tokenizer hands the
    * DOM an attribute value with character references already decoded,
    * so an extractor that emits the RAW capture feeds the frontier
    * literal `&amp;` bytes: every multi-param link (`href="p?a=1&amp;
    * b=2"` — conforming HTML MUST escape `&` inside attribute values)
    * would be fetched at a wrong URL and its dedup key would never match
    * the real page. Decodes the [[entity]] core set (`&amp; &lt; &gt;
    * &quot; &apos; &nbsp;` + numeric `&#NNN;`/`&#xHH;`); unknown
    * entities pass through literally (crawl reality). Fast path: no
    * `&` → the input returns untouched. Total, never throws. */
  private[pipeline] def decodeAttr(s: String): String = {
    if (s == null) return null
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, amp)
    var i = amp
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val (cp, next) = entity(s, i)
        if (cp >= 0) { sb.appendCodePoint(cp); i = next }
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The exact pattern [[htmlLinks]] implements, in the Java∩RE2 subset
    * (explicit `[\t\n\f\r ]`, no `\s` — the documented divergence class):
    * the href value is group 1 (double-quoted) or group 2 (single-quoted)
    * — exactly one is non-null per match, then passes through
    * [[decodeAttr]] (since r14: the emitted href is the regex capture
    * ENTITY-DECODED — the DuckDB oracle side mirrors fixture arms with
    * `replace(href, '&amp;', '&')`-style rewrites) — and HtmlTextSpec
    * cross-checks
    * the kernel against `java.util.regex` on every fixture. Real markup
    * single-quotes hrefs constantly, so both quote forms are in
    * contract; bare unquoted `href=x` stays out (the alternation's
    * documented boundary). */
  val LinkPattern: String =
    "(?i)<a[\\t\\n\\f\\r ][^>]*?href=(?:\"([^\"]*)\"|'([^']*)')"

  /** Anchor hrefs in document order — the crawl-frontier feeder. The
    * semantics are EXACTLY leftmost non-overlapping matches of
    * [[LinkPattern]] (group 1), so the same pattern string is the
    * portable oracle; but the implementation is an O(n) scan, because
    * running the regex itself backtracks quadratically on real crawl
    * pathologies (a megabyte of `<a ` starts with no closing `>` makes
    * every attempt rescan to end-of-input). Mirrored regex behaviors the
    * spec pins: case-insensitive `<a`/`href`, one mandatory RE2-`\s`
    * char after the `a`, the lazy `[^>]*?` taking the FIRST `href="`
    * before the tag's `>` (and, on an unclosed quote, falling forward to
    * the next `href="` exactly as the lazy loop would), a capture that
    * may cross `>` (`[^"]*` / `[^']*`), and the scan resuming AFTER a
    * match's closing quote. Both quote forms are in contract (the
    * alternation tries the double-quoted arm first — visible only in
    * that an unclosed `href="` cannot fall back to a later `'`, which
    * the kernel mirrors); bare unquoted `href=x` stays out. Total: any
    * input, never throws. */
  def htmlLinks(html: String): Array[String] = {
    if (html == null) return Array.empty
    val n = html.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def isWs(c: Char): Boolean =
      c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' '
    def lower(c: Char): Char = Character.toLowerCase(c)
    var i = 0
    while (i < n - 2) {
      if (html.charAt(i) == '<' && lower(html.charAt(i + 1)) == 'a' &&
        isWs(html.charAt(i + 2))) {
        // inside `[^>]*?`: find the first `href="` before '>' (on an
        // unclosed capture quote, continue from the next candidate —
        // the lazy loop's backtrack order)
        var j = i + 3
        var matched = false
        var done = false
        while (!done && j < n && html.charAt(j) != '>') {
          if (j + 5 < n && lower(html.charAt(j)) == 'h' &&
            lower(html.charAt(j + 1)) == 'r' &&
            lower(html.charAt(j + 2)) == 'e' &&
            lower(html.charAt(j + 3)) == 'f' &&
            html.charAt(j + 4) == '=' &&
            (html.charAt(j + 5) == '"' || html.charAt(j + 5) == '\'')) {
            val q = html.charAt(j + 5) // the opening quote picks the arm
            val capStart = j + 6
            val capEnd = html.indexOf(q, capStart) // capture may cross '>'
            if (capEnd >= 0) {
              out += decodeAttr(html.substring(capStart, capEnd))
              i = capEnd // resume after the closing quote (non-overlapping)
              matched = true
              done = true
            } else j += 1 // no closing quote anywhere: this href can
            // never complete; the lazy loop moves on
          } else j += 1
        }
        if (!matched) {
          // the scan proved no completable `href="` exists in
          // (i+3, j] — j is the first '>' (or EOF). Any later `<a `
          // start inside that region scans a SUBSET of it and fails
          // identically, and no start fits between j-2 and the '>'
          // itself, so jumping past j is regex-equivalent and keeps
          // the kernel linear where the regex engine goes quadratic
          // (the `<a <a <a …` no-'>' pathology).
          i = j + 1
        } else i += 1
      } else i += 1
    }
    out.toArray
  }

  /** Column form: array of hrefs per page. */
  def htmlLinksCol(html: Column): Column = {
    val u = udf((s: String) => htmlLinks(s))
    u(html)
  }

  /** The exact pattern [[htmlBase]] implements — [[LinkPattern]]'s
    * contract applied to the `<base>` element (both quote forms, group
    * 1 or 2). Only the FIRST match counts (HTML: the first base element
    * wins; later ones are ignored). */
  val BasePattern: String =
    "(?i)<base[\\t\\n\\f\\r ][^>]*?href=(?:\"([^\"]*)\"|'([^']*)')"

  /** The document's declared base href — the FIRST [[BasePattern]]
    * match's capture, [[decodeAttr]]-decoded, or null. Real pages use `<base href="…">`
    * constantly (site templates emit it), and resolving their relative
    * links against the page URL instead silently mis-addresses every
    * one. Same O(n) scan disciplines as [[htmlLinks]]; total, never
    * throws. The value may itself be relative — resolution against the
    * page url is the caller's step ([[Crawl.frontier]]'s baseCol). */
  def htmlBase(html: String): String = {
    if (html == null) return null
    val n = html.length
    def isWs(c: Char): Boolean =
      c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' '
    def lower(c: Char): Char = Character.toLowerCase(c)
    var i = 0
    while (i < n - 5) {
      if (html.charAt(i) == '<' && lower(html.charAt(i + 1)) == 'b' &&
        lower(html.charAt(i + 2)) == 'a' && lower(html.charAt(i + 3)) == 's' &&
        lower(html.charAt(i + 4)) == 'e' && isWs(html.charAt(i + 5))) {
        var j = i + 6
        var done = false
        while (!done && j < n && html.charAt(j) != '>') {
          if (j + 5 < n && lower(html.charAt(j)) == 'h' &&
            lower(html.charAt(j + 1)) == 'r' &&
            lower(html.charAt(j + 2)) == 'e' &&
            lower(html.charAt(j + 3)) == 'f' &&
            html.charAt(j + 4) == '=' &&
            (html.charAt(j + 5) == '"' || html.charAt(j + 5) == '\'')) {
            val q = html.charAt(j + 5)
            val capStart = j + 6
            val capEnd = html.indexOf(q, capStart)
            if (capEnd >= 0) return decodeAttr(html.substring(capStart, capEnd))
            else j += 1 // unclosed quote: the lazy loop moves on
          } else j += 1
        }
        // no completable href in this tag: jump past its '>' (the
        // htmlLinks equivalence argument — no later <base start inside
        // the scanned region can succeed where this one failed)
        i = j + 1
      } else i += 1
    }
    null
  }

  /** Column form: the page's declared base href, or null. */
  def htmlBaseCol(html: Column): Column = {
    val u = udf((s: String) => htmlBase(s))
    u(html)
  }

  // ---------------------------------------------------------------------
  // Robots-meta + meta-refresh politeness signals (r14). These are the
  // signals real crawlers honor that ride the markup itself rather than
  // robots.txt: `rel="nofollow"` on an anchor, `<meta name="robots"
  // content="nofollow,noindex">` page-wide, and `<meta
  // http-equiv="refresh" content="N;url=…">` — a de-facto redirect that
  // the 3xx chain never sees. None are regex-replayable (attribute
  // walking with quote discipline), so like UrlResolve they are the
  // fixture-arithmetic-oracle kind of kernel: the declared query
  // rebuilds each arm's expected url from doc_id math and the specs pin
  // the parsing edges. All total, O(n), never throw.
  // ---------------------------------------------------------------------

  private def isWsCh(c: Char): Boolean =
    c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' '

  /** The tag-closing `>` at/after `from`, QUOTE-AWARE (r15): a `>`
    * inside a quoted attribute value does not end the tag — `<meta
    * name=robots content="noindex > x, nofollow">` must keep its
    * `nofollow` token, where the old first-`>` bound truncated the
    * walk (htmlLinks deliberately lets captures cross `>`; the
    * attribute walkers now agree). An UNTERMINATED quote falls back to
    * the first `>` after it (the old bound — out-of-contract markup
    * must not make one tag swallow the document); a quote whose pair
    * sits far ahead can only OVERSHOOT, which is safe: [[eachAttr]]
    * stops at its own structural `>` regardless of `until`. */
  private def tagEnd(s: String, from: Int): Int = {
    val n = s.length
    var p = from
    while (p < n) {
      val c = s.charAt(p)
      if (c == '>') return p
      if (c == '"' || c == '\'') {
        val close = s.indexOf(c, p + 1)
        if (close < 0) {
          val gt = s.indexOf('>', p + 1)
          return if (gt < 0) n else gt
        }
        p = close + 1
      } else p += 1
    }
    n
  }

  /** Walk one tag's attribute region `[from, until)` as name[=value]
    * pairs (quoted or unquoted values, the labelFromMeta discipline) and
    * hand each pair to `take`; stops at the region end or a '>'. */
  private def eachAttr(s: String, from: Int, until0: Int)
                      (take: (String, String) => Boolean): Unit = {
    val until = math.min(until0, s.length)
    var p = from
    var done = false
    while (!done && p < until) {
      while (p < until && (isWsCh(s.charAt(p)) || s.charAt(p) == '/')) p += 1
      if (p >= until || s.charAt(p) == '>') done = true
      else {
        val nameStart = p
        while (p < until && !isWsCh(s.charAt(p)) && s.charAt(p) != '=' &&
          s.charAt(p) != '/' && s.charAt(p) != '>') p += 1
        val name = s.substring(nameStart, p).toLowerCase(java.util.Locale.ROOT)
        while (p < until && isWsCh(s.charAt(p))) p += 1
        var value = ""
        if (p < until && s.charAt(p) == '=') {
          p += 1
          while (p < until && isWsCh(s.charAt(p))) p += 1
          if (p < until && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
            val q = s.charAt(p); p += 1
            val vStart = p
            while (p < until && s.charAt(p) != q) p += 1
            value = s.substring(vStart, p)
            if (p < until) p += 1
          } else {
            val vStart = p
            while (p < until && !isWsCh(s.charAt(p)) &&
              s.charAt(p) != '>') p += 1
            value = s.substring(vStart, p)
          }
        }
        if (name.nonEmpty && take(name, value)) done = true
      }
    }
  }

  /** BOTH politeness meta signals in ONE document scan: the robots
    * directive content UNIONED across EVERY `<meta name="robots">` tag
    * (r15 — real pages carry several, one per CMS plugin, and the
    * standard semantics is most-restrictive-wins across ALL of them:
    * a second tag's `nofollow` must apply even when the first is
    * indexable, exactly how the X-Robots-Tag header already merges
    * with the markup; contents join on `,`, the [[robotsTokens]]
    * separator, so parsing unions the token sets) and the FIRST
    * `<meta http-equiv="refresh">` content (each entity-decoded, null
    * when absent). The fused decode UDF needs robots tokens AND the
    * refresh target per page — separate per-signal walks would scan
    * the document once per signal, a real per-page tax at corpus
    * scale. The scan always walks every `<meta>` (the no-robots page —
    * the common case — always did). */
  private[pipeline] def metaSignals(html: String): (String, String) = {
    if (html == null) return (null, null)
    val n = html.length
    var robots: StringBuilder = null
    var refresh: String = null
    var i = 0
    while (i < n) {
      val at = indexOfIgnoreCase(html, "<meta", i)
      if (at < 0)
        return (if (robots == null) null else robots.toString, refresh)
      var p = at + 5
      if (p < n && (isWsCh(html.charAt(p)) || html.charAt(p) == '/')) {
        var nameAttr: String = null
        var httpEquiv: String = null
        var contentAttr: String = null
        val end = tagEnd(html, p)
        eachAttr(html, p, end + 1) { (name, value) =>
          name match {
            case "name" => if (nameAttr == null) nameAttr = value
            case "http-equiv" => if (httpEquiv == null) httpEquiv = value
            case "content" => if (contentAttr == null) contentAttr = value
            case _ => ()
          }
          false
        }
        if (nameAttr != null &&
          nameAttr.trim.equalsIgnoreCase("robots") && contentAttr != null) {
          if (robots == null)
            robots = new StringBuilder(decodeAttr(contentAttr))
          else robots.append(',').append(decodeAttr(contentAttr))
        }
        if (refresh == null && httpEquiv != null &&
          httpEquiv.trim.equalsIgnoreCase("refresh") && contentAttr != null)
          refresh = decodeAttr(contentAttr)
      }
      i = at + 5
    }
    (if (robots == null) null else robots.toString, refresh)
  }

  /** The MERGED content of every `<meta name="robots">` (`,`-joined,
    * entity-decoded), or null when the page declares none. Directive
    * parsing is [[robotsTokens]]. */
  private[pipeline] def htmlMetaRobots(html: String): String =
    metaSignals(html)._1

  private def robotsTokens(content: String): Set[String] =
    if (content == null) Set.empty
    else content.toLowerCase(java.util.Locale.ROOT)
      .split("[\\t\\n\\f\\r ,]+").iterator.map(_.trim).filter(_.nonEmpty)
      .toSet

  private def nofollowTokens(t: Set[String]): Boolean =
    t.contains("nofollow") || t.contains("none")
  private def noindexTokens(t: Set[String]): Boolean =
    t.contains("noindex") || t.contains("none")

  /** Page-level "do not follow this page's links" — `<meta
    * name="robots">` carrying `nofollow` or `none` (= noindex,nofollow). */
  def htmlNofollowAll(html: String): Boolean =
    nofollowTokens(robotsTokens(htmlMetaRobots(html)))

  /** Page-level "do not index this page's content" — `noindex`/`none`.
    * A noindex page is still FETCHED (ledger) and its links may still
    * be followed; it just must not become a corpus document. */
  def htmlNoindex(html: String): Boolean =
    noindexTokens(robotsTokens(htmlMetaRobots(html)))

  /** The FIRST `<meta http-equiv="refresh">` target url (raw — caller
    * resolves against the page base like any href), or null. Content
    * grammar per WHATWG's tolerant parse: optional seconds number, a
    * `;`/`,` separator — or (r15, the WHATWG algorithm's third arm)
    * BARE WHITESPACE after at least one time character
    * (`content="0 url=/next"` is a live redirect in every browser) —
    * optional `url` `=`, optionally quoted target. A bare-number
    * content (refresh-to-self) yields null. */
  def htmlRefresh(html: String): String =
    parseRefreshContent(metaSignals(html)._2)

  /** The content-grammar half of [[htmlRefresh]], over an already-
    * extracted (entity-decoded) content value. */
  private def parseRefreshContent(content: String): String = {
    if (content == null) return null
    val n = content.length
    var i = 0
    while (i < n && isWsCh(content.charAt(i))) i += 1
    val timeStart = i
    while (i < n && (content.charAt(i).isDigit || content.charAt(i) == '.'))
      i += 1
    val timeEnd = i
    while (i < n && isWsCh(content.charAt(i))) i += 1
    if (i >= n) return null // bare number: refresh-to-self, no target
    if (content.charAt(i) == ';' || content.charAt(i) == ',') {
      i += 1
      while (i < n && isWsCh(content.charAt(i))) i += 1
    } else if (i == timeEnd || timeEnd == timeStart) {
      // no `;`/`,`: only whitespace separates per WHATWG, and only
      // after a real time prefix — `5x` and a bare `url=/x` stay null
      return null
    }
    // optional url= prefix, case-insensitive, ws-tolerant around '='
    if (i + 3 <= n &&
      content.substring(i, i + 3).equalsIgnoreCase("url")) {
      var j = i + 3
      while (j < n && isWsCh(content.charAt(j))) j += 1
      if (j < n && content.charAt(j) == '=') {
        j += 1
        while (j < n && isWsCh(content.charAt(j))) j += 1
        i = j
      }
    }
    if (i >= n) return null
    val target =
      if (content.charAt(i) == '"' || content.charAt(i) == '\'') {
        val q = content.charAt(i)
        val vStart = i + 1
        val vEnd = content.indexOf(q, vStart)
        content.substring(vStart, if (vEnd < 0) n else vEnd)
      } else {
        var e = n
        while (e > i && isWsCh(content.charAt(e - 1))) e -= 1
        content.substring(i, e)
      }
    if (target.isEmpty) null else target
  }

  /** The FIRST `<link rel="canonical" href="…">` target, entity-
    * decoded, or null — the site-declared "this content's one true
    * URL". Training pipelines key URL-level dedup on it: mirrors,
    * tracking-param variants and m.-subdomain mobile pages all declare
    * the same canonical, collapsing to one corpus row where the
    * fetched urls never would. Attribute ORDER is free (`href` before
    * or after `rel`) so this walks the tag's attributes (the
    * robots-meta discipline) rather than extending the LinkPattern
    * regex contract; the value may be RELATIVE — resolution against
    * the page base is the caller's step, like every href. Total, O(n),
    * never throws. */
  def htmlCanonical(html: String): String = {
    if (html == null) return null
    val n = html.length
    var i = 0
    while (i < n) {
      val at = indexOfIgnoreCase(html, "<link", i)
      if (at < 0) return null
      var p = at + 5
      if (p < n && (isWsCh(html.charAt(p)) || html.charAt(p) == '/')) {
        var relAttr: String = null
        var hrefAttr: String = null
        val end = tagEnd(html, p)
        eachAttr(html, p, end + 1) { (name, value) =>
          name match {
            case "rel" => if (relAttr == null) relAttr = value
            case "href" => if (hrefAttr == null) hrefAttr = value
            case _ => ()
          }
          false
        }
        if (relAttr != null &&
          robotsTokens(relAttr).contains("canonical") &&
          hrefAttr != null && hrefAttr.nonEmpty)
          return decodeAttr(hrefAttr)
      }
      i = at + 5
    }
    null
  }

  /** Column form of [[htmlCanonical]]. */
  def htmlCanonicalCol(html: Column): Column = {
    val u = udf((s: String) => htmlCanonical(s))
    u(html)
  }

  /** One harvested image reference: `src` entity-decoded (raw —
    * resolution against the page base is the caller's step, like every
    * href), `alt`/`title` entity-decoded attribute values (null when
    * the attribute is absent; an EMPTY alt is kept — `alt=""` is the
    * deliberate decorative-image marker), `caption` the enclosing
    * `<figure>`'s figcaption text (null outside a figure or when the
    * figure has none). Since r17 an `<img>` tag yields one ImageRef per
    * DISTINCT harvested url: its `src`, then its `srcset` candidates,
    * then the enclosing `<picture>`'s `<source srcset>` candidates —
    * all sharing the img's alt/title/caption (responsive-image markup
    * is the dominant modern form; without it a crawl misses every
    * high-resolution variant and every picture-wrapped image whose img
    * src is a placeholder). */
  final case class ImageRef(src: String, alt: String, title: String,
                            caption: String)

  /** Parse a `srcset` attribute value (ALREADY entity-decoded — HTML
    * decodes attribute values before microsyntax parsing) into its
    * candidate urls, in order, descriptors dropped. WHATWG image
    * candidate grammar: comma-separated candidates, each a url
    * optionally followed by whitespace + a descriptor (`2x`, `640w`);
    * a url's own trailing commas terminate its candidate. Total, O(n),
    * never throws. */
  def srcsetCandidates(v: String): Array[String] = {
    if (v == null) return Array.empty
    val n = v.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      // skip whitespace and (empty-candidate) commas
      while (i < n && (isWsCh(v.charAt(i)) || v.charAt(i) == ',')) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWsCh(v.charAt(i))) i += 1
        var end = i
        // trailing commas belong to the separator, not the url
        var sawComma = false
        while (end > start && v.charAt(end - 1) == ',') {
          end -= 1; sawComma = true
        }
        if (end > start) out += v.substring(start, end)
        if (!sawComma) {
          // consume the descriptor (until the next top-level comma)
          var depth = 0
          var done = false
          while (i < n && !done) {
            val c = v.charAt(i)
            if (c == '(') depth += 1
            else if (c == ')' && depth > 0) depth -= 1
            else if (c == ',' && depth == 0) done = true
            if (!done) i += 1
          }
        }
      }
    }
    out.toArray
  }

  /** Inner text of a markup fragment: tags drop — and `<script>`/
    * `<style>` elements drop WITH their raw-text content (r17: a
    * script-templated caption must not leak JS/CSS text into the
    * harvested label — the same rule htmlImages' outer walker and
    * htmlToText apply), `<!-- -->` comments skip whole — entities
    * decode, whitespace runs collapse to one space, edges trim; null
    * when nothing remains. The figcaption-text discipline — a caption
    * is a LABEL, so the block-break structure htmlToText keeps would
    * be noise here. */
  private def innerText(s: String): String = {
    val n = s.length
    val buf = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (i + 3 < n && s.charAt(i + 1) == '!' &&
          s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (tagAt(s, i + 1, "script") || tagAt(s, i + 1, "style")) {
          val closer =
            if (tagAt(s, i + 1, "script")) "</script" else "</style"
          val end = indexOfIgnoreCase(s, closer, i + 1)
          i =
            if (end < 0) n
            else s.indexOf('>', end) match {
              case -1 => n
              case e => e + 1
            }
        } else {
          val gt = s.indexOf('>', i + 1)
          i = if (gt < 0) n else gt + 1
        }
      } else if (c == '&') {
        val (cp, next) = entity(s, i)
        if (cp >= 0) { buf.appendCodePoint(cp); i = next }
        else { buf.append('&'); i += 1 }
      } else { buf.append(c); i += 1 }
    }
    val t = buf.toString
    val out = new java.lang.StringBuilder(t.length)
    var pendingSpace = false
    var k = 0
    while (k < t.length) {
      val ch = t.charAt(k)
      if (isWsCh(ch)) pendingSpace = out.length() > 0
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(ch)
      }
      k += 1
    }
    if (out.length() == 0) null else out.toString
  }

  /** Image–text pair harvesting (r16): every `<img>` with a non-empty
    * `src`, in document order, with its alt/title text and — when the
    * img sits inside a `<figure>` — the figure's FIRST `<figcaption>`
    * text (the caption may precede or follow the img within the
    * figure; nested figures associate with the INNERMOST open one).
    * This is the LAION-shape feeder a multimodal training pipeline
    * starts from: crawled HTML → (image url, associated text) pairs →
    * fetch/decode/dedup through the multimodal family.
    *
    * Parsing discipline: the tag walkers of the robots-meta family
    * (attribute order free, both quote forms + unquoted values,
    * quote-aware tag ends, entity-decoded values); `<!-- -->` comments
    * and `<script>`/`<style>` raw text are SKIPPED (script-templated
    * img markup is not a harvested image — the htmlToText rule);
    * captions strip tags via [[innerText]]. Total, O(n), never
    * throws. */
  def htmlImages(html: String): Array[ImageRef] = {
    if (html == null) return Array.empty
    val n = html.length
    // figures: caption per region index; stack of open region indices
    val captions = scala.collection.mutable.ArrayBuffer.empty[String]
    var figStack = List.empty[Int]
    // pictures: per open <picture>, its <source srcset> candidates so
    // far (document order — WHATWG puts sources before the img)
    var picStack = List.empty[scala.collection.mutable.ArrayBuffer[String]]
    // imgs: (src, alt, title, figure index or -1)
    val imgs =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Int)]
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' &&
          html.charAt(i + 2) == '-' && html.charAt(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (tagAt(html, i + 1, "script") ||
          tagAt(html, i + 1, "style")) {
          val closer =
            if (tagAt(html, i + 1, "script")) "</script" else "</style"
          val end = indexOfIgnoreCase(html, closer, i + 1)
          i =
            if (end < 0) n
            else html.indexOf('>', end) match {
              case -1 => n
              case e => e + 1
            }
        } else if (i + 1 < n && html.charAt(i + 1) == '/' &&
          tagAt(html, i + 2, "figure")) {
          if (figStack.nonEmpty) figStack = figStack.tail
          val gt = html.indexOf('>', i + 2)
          i = if (gt < 0) n else gt + 1
        } else if (tagAt(html, i + 1, "figure")) {
          captions += null
          figStack ::= captions.length - 1
          i = tagEnd(html, i + 7) + 1
        } else if (tagAt(html, i + 1, "figcaption")) {
          val contentStart = tagEnd(html, i + 11) + 1
          val close = indexOfIgnoreCase(html, "</figcaption", contentStart)
          val contentEnd = if (close < 0) n else close
          if (figStack.nonEmpty && captions(figStack.head) == null)
            captions(figStack.head) =
              innerText(html.substring(contentStart, contentEnd))
          // resume INSIDE the caption: an img within it still harvests
          // (and associates with the same figure)
          i = contentStart
        } else if (i + 1 < n && html.charAt(i + 1) == '/' &&
          tagAt(html, i + 2, "picture")) {
          if (picStack.nonEmpty) picStack = picStack.tail
          val gt = html.indexOf('>', i + 2)
          i = if (gt < 0) n else gt + 1
        } else if (tagAt(html, i + 1, "picture")) {
          picStack ::= scala.collection.mutable.ArrayBuffer.empty[String]
          i = tagEnd(html, i + 8) + 1
        } else if (tagAt(html, i + 1, "source")) {
          // <picture><source srcset=...>: candidates accumulate for the
          // innermost open picture's img; <source> outside a picture
          // (audio/video) has no srcset harvest
          val end = tagEnd(html, i + 7)
          if (picStack.nonEmpty) {
            var ss: String = null
            eachAttr(html, i + 7, end + 1) { (name, value) =>
              if (name == "srcset" && ss == null) ss = value
              false
            }
            if (ss != null)
              picStack.head ++= srcsetCandidates(decodeAttr(ss))
          }
          i = end + 1
        } else if (tagAt(html, i + 1, "img")) {
          val end = tagEnd(html, i + 4)
          var src: String = null
          var srcset: String = null
          var alt: String = null
          var title: String = null
          eachAttr(html, i + 4, end + 1) { (name, value) =>
            name match {
              case "src" => if (src == null) src = value
              case "srcset" => if (srcset == null) srcset = value
              case "alt" => if (alt == null) alt = value
              case "title" => if (title == null) title = value
              case _ => ()
            }
            false
          }
          // harvested urls, in priority order: src, the img's own
          // srcset candidates, then the enclosing picture's source
          // candidates — deduped on the decoded url, first wins
          val urls = scala.collection.mutable.ArrayBuffer.empty[String]
          val seen = scala.collection.mutable.HashSet.empty[String]
          def add(u: String): Unit =
            if (u != null && u.nonEmpty && seen.add(u)) urls += u
          if (src != null && src.nonEmpty) add(decodeAttr(src))
          if (srcset != null)
            srcsetCandidates(decodeAttr(srcset)).foreach(add)
          if (picStack.nonEmpty) picStack.head.foreach(add)
          if (urls.nonEmpty) {
            val a = if (alt == null) null else decodeAttr(alt)
            val t = if (title == null) null else decodeAttr(title)
            val fig = if (figStack.isEmpty) -1 else figStack.head
            urls.foreach(u => imgs += ((u, a, t, fig)))
          }
          i = end + 1
        } else {
          val gt = html.indexOf('>', i + 1)
          i = if (gt < 0) n else gt + 1
        }
      } else i += 1
    }
    imgs.map { case (src, alt, title, fig) =>
      ImageRef(src, alt, title, if (fig < 0) null else captions(fig))
    }.toArray
  }

  /** Does the attribute region `[from, until)` declare
    * `rel="…nofollow…"` (token list, case-insensitive)? */
  private def relNofollowIn(s: String, from: Int, until: Int): Boolean = {
    var found = false
    eachAttr(s, from, math.min(until, s.length)) { (name, value) =>
      if (name == "rel" && robotsTokens(value).contains("nofollow"))
        found = true
      found
    }
    found
  }

  /** PRODUCTION outlink extraction — [[htmlLinks]]'s capture semantics
    * with the politeness signals applied: anchors whose tag declares
    * `rel=nofollow` drop (the attribute may sit before OR after the
    * href), a page-level robots-meta `nofollow` drops every anchor, and
    * the [[htmlRefresh]] target (a de-facto redirect) appends as one
    * more outlink — it rides THROUGH a robots nofollow, the way real
    * crawlers treat refresh as a redirect rather than a link.
    *
    * r16 adds the NON-ANCHOR navigation elements real crawls still
    * meet: `<iframe src>` / `<frame src>` (frameset-era sites put their
    * whole content behind one) and `<area href>` (image-map
    * navigation), captured in document order alongside the anchors.
    * These walk the tag's attributes (the robots-meta discipline —
    * attribute order is free, both quote forms and unquoted values),
    * entity-decode like every href, and sit behind the SAME politeness
    * gates: a page-level nofollow drops them all, and an `<area>`
    * declaring `rel=nofollow` drops individually (iframe/frame carry
    * no rel semantics). The declared frontier queries pin each arm by
    * fixture arithmetic (the UrlResolve oracle convention — rel
    * parsing is not regex-replayable). Total, O(n), never throws. */
  def htmlOutlinks(html: String): Array[String] = {
    if (html == null) return Array.empty
    val (robots, refreshContent) = metaSignals(html)
    outlinksImpl(html, nofollowTokens(robotsTokens(robots)),
      parseRefreshContent(refreshContent))
  }

  /** [[htmlOutlinks]] with the meta signals PRE-COMPUTED — the fused
    * decode UDF scans the document for `<meta>` once and feeds both
    * this and the noindex column. */
  private def outlinksImpl(html: String, nofollowAll: Boolean,
                           refresh: String): Array[String] = {
    val anchors =
      if (nofollowAll) Array.empty[String]
      else {
        val n = html.length
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        def lower(c: Char): Char = Character.toLowerCase(c)
        // one attribute-walked navigation tag: first `urlAttr` value,
        // dropped when checkRel finds rel=nofollow; returns the resume
        // index (past the tag's quote-aware end)
        def navTag(from: Int, urlAttr: String, checkRel: Boolean): Int = {
          val end = tagEnd(html, from)
          var target: String = null
          var noF = false
          eachAttr(html, from, end + 1) { (name, value) =>
            if (name == urlAttr && target == null) target = value
            if (checkRel && name == "rel" &&
              robotsTokens(value).contains("nofollow")) noF = true
            false
          }
          if (target != null && target.nonEmpty && !noF)
            out += decodeAttr(target)
          end + 1
        }
        var i = 0
        while (i < n - 2) {
          if (html.charAt(i) == '<' && lower(html.charAt(i + 1)) == 'a' &&
            isWsCh(html.charAt(i + 2))) {
            var j = i + 3
            var matched = false
            var done = false
            while (!done && j < n && html.charAt(j) != '>') {
              if (j + 5 < n && lower(html.charAt(j)) == 'h' &&
                lower(html.charAt(j + 1)) == 'r' &&
                lower(html.charAt(j + 2)) == 'e' &&
                lower(html.charAt(j + 3)) == 'f' &&
                html.charAt(j + 4) == '=' &&
                (html.charAt(j + 5) == '"' || html.charAt(j + 5) == '\'')) {
                val q = html.charAt(j + 5)
                val capStart = j + 6
                val capEnd = html.indexOf(q, capStart)
                if (capEnd >= 0) {
                  // rel may precede the href or follow the capture
                  // within the tag — bounded by the tag's '>' AND by
                  // any '<' (a capture that crossed '>' must not scan
                  // a FOLLOWING tag's rel onto this anchor)
                  val tagEnd = {
                    val gt = html.indexOf('>', capEnd + 1)
                    val lt = html.indexOf('<', capEnd + 1)
                    val g = if (gt < 0) n else gt
                    val l = if (lt < 0) n else lt
                    math.min(g, l)
                  }
                  val noF = relNofollowIn(html, i + 3, j) ||
                    relNofollowIn(html, capEnd + 1, tagEnd)
                  if (!noF)
                    out += decodeAttr(html.substring(capStart, capEnd))
                  i = capEnd
                  matched = true
                  done = true
                } else j += 1
              } else j += 1
            }
            if (!matched) i = j + 1 else i += 1
          } else if (html.charAt(i) == '<' && tagAt(html, i + 1, "area")) {
            i = navTag(i + 5, "href", checkRel = true)
          } else if (html.charAt(i) == '<' && tagAt(html, i + 1, "iframe")) {
            i = navTag(i + 7, "src", checkRel = false)
          } else if (html.charAt(i) == '<' && tagAt(html, i + 1, "frame")) {
            // tagAt's name boundary keeps <frameset> out
            i = navTag(i + 6, "src", checkRel = false)
          } else i += 1
        }
        out.toArray
      }
    if (refresh == null) anchors else anchors :+ refresh
  }

  /** Column form of [[htmlOutlinks]]. */
  def htmlOutlinksCol(html: Column): Column = {
    val u = udf((s: String) => htmlOutlinks(s))
    u(html)
  }

  // ---------------------------------------------------------------------
  // Charset-aware body decoding. Real crawl HTML is ~10% non-UTF-8
  // (windows-1252, Shift_JIS, GBK, ...); a UTF-8-only decode turns those
  // pages into silent mojibake that flows into dedup, LM scoring and the
  // corpus. Resolution ladder (the browser order, WHATWG-style):
  //   1. BOM (UTF-8 / UTF-16LE / UTF-16BE)
  //   2. HTTP Content-Type charset= parameter
  //   3. <meta charset=> / <meta http-equiv Content-Type> in the first
  //      1024 bytes (ASCII-compatible prefix scan)
  //   4. strict-UTF-8 validity probe (unlabeled modern pages)
  //   5. windows-1252 (the HTML5 default; total -- every byte maps)
  // A labeled charset whose STRICT decode fails falls back to
  // windows-1252 with `fallback = true` -- wrong labels are real crawl
  // data, and the flag makes the silent-mojibake rate observable.
  // ---------------------------------------------------------------------

  private val Win1252 = java.nio.charset.Charset.forName("windows-1252")

  /** WHATWG-ish label mapping: browsers treat the latin1/ascii family as
    * windows-1252 and gb2312 as GBK; unknown labels yield None (the
    * ladder continues rather than throwing on crawl garbage). */
  private[pipeline] def charsetForLabel(label: String)
      : Option[java.nio.charset.Charset] = {
    if (label == null) return None
    val l = label.trim.toLowerCase.stripPrefix("\"").stripPrefix("'")
      .stripSuffix("\"").stripSuffix("'")
    if (l.isEmpty) return None
    val canonical = l match {
      case "utf-8" | "utf8" | "unicode-1-1-utf-8" => "UTF-8"
      case "iso-8859-1" | "iso8859-1" | "latin1" | "latin-1" | "l1" |
           "us-ascii" | "ascii" | "windows-1252" | "cp1252" | "x-cp1252" =>
        "windows-1252"
      case "shift_jis" | "shift-jis" | "sjis" | "x-sjis" | "ms_kanji" =>
        "Shift_JIS"
      case "gb2312" | "gbk" | "x-gbk" | "gb_2312-80" | "csgb2312" => "GBK"
      case "big5" | "big5-hkscs" | "cn-big5" | "x-x-big5" => "Big5"
      case "euc-jp" | "x-euc-jp" => "EUC-JP"
      case "euc-kr" | "ks_c_5601-1987" | "korean" => "EUC-KR"
      case "utf-16" | "utf16" => "UTF-16"
      case "utf-16le" => "UTF-16LE"
      case "utf-16be" => "UTF-16BE"
      case other => other
    }
    try Some(java.nio.charset.Charset.forName(canonical))
    catch { case _: Exception => None }
  }

  private val HeaderCharsetRe =
    java.util.regex.Pattern.compile(
      "(?i)charset\\s*=\\s*['\"]?\\s*([A-Za-z0-9._:\\-]+)")
  private def labelFromHeader(contentType: String): Option[String] = {
    if (contentType == null) return None
    val m = HeaderCharsetRe.matcher(contentType)
    if (m.find()) Some(m.group(1)) else None
  }

  /** Sniff the charset from `<meta>` tags in the (ASCII-compatible)
    * first 1024 bytes — a WHATWG-style prescan that parses each tag's
    * ATTRIBUTES: the `charset` attribute wins, else an
    * `http-equiv=Content-Type` tag's `content` value goes through the
    * header rule. A regex over the raw tag text (the previous form)
    * matches `charset=` inside an unrelated attribute VALUE — e.g. a
    * content= description that mentions charsets — and mislabels the
    * page: a wrong label whose strict decode happens to succeed is
    * silent mojibake with `fallback = false`, invisible to the
    * telemetry this ladder exists to feed. */
  private def labelFromMeta(body: Array[Byte]): Option[String] = {
    val n = math.min(body.length, 1024)
    val s = new String(body, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val len = s.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    var i = 0
    while (i < len) {
      val at = indexOfIgnoreCase(s, "<meta", i)
      if (at < 0) return None
      var p = at + 5
      // must be a real <meta> tag start, not <metadata...>
      if (p < len && (isWs(s.charAt(p)) || s.charAt(p) == '/')) {
        var charsetAttr: String = null
        var httpEquiv: String = null
        var contentAttr: String = null
        var done = false
        while (!done && p < len) {
          while (p < len && (isWs(s.charAt(p)) || s.charAt(p) == '/')) p += 1
          if (p >= len || s.charAt(p) == '>') done = true
          else {
            val nameStart = p
            while (p < len && !isWs(s.charAt(p)) && s.charAt(p) != '=' &&
              s.charAt(p) != '/' && s.charAt(p) != '>') p += 1
            val name = s.substring(nameStart, p)
              .toLowerCase(java.util.Locale.ROOT)
            while (p < len && isWs(s.charAt(p))) p += 1
            var value = ""
            if (p < len && s.charAt(p) == '=') {
              p += 1
              while (p < len && isWs(s.charAt(p))) p += 1
              if (p < len && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
                val q = s.charAt(p); p += 1
                val vStart = p
                while (p < len && s.charAt(p) != q) p += 1
                value = s.substring(vStart, p)
                if (p < len) p += 1
              } else {
                val vStart = p
                while (p < len && !isWs(s.charAt(p)) &&
                  s.charAt(p) != '>') p += 1
                value = s.substring(vStart, p)
              }
            }
            name match {
              case "charset" => if (charsetAttr == null) charsetAttr = value
              case "http-equiv" => if (httpEquiv == null) httpEquiv = value
              case "content" => if (contentAttr == null) contentAttr = value
              case _ => ()
            }
          }
        }
        val label =
          if (charsetAttr != null && charsetAttr.trim.nonEmpty)
            Some(charsetAttr.trim)
          else if (httpEquiv != null &&
            httpEquiv.trim.equalsIgnoreCase("content-type") &&
            contentAttr != null) labelFromHeader(contentAttr)
          else None
        if (label.isDefined) return label
      }
      i = at + 5
    }
    None
  }

  private def strictDecode(cs: java.nio.charset.Charset, b: Array[Byte],
                           off: Int): Option[String] = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try Some(dec.decode(java.nio.ByteBuffer.wrap(b, off, b.length - off))
      .toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  private def replaceDecode(cs: java.nio.charset.Charset, b: Array[Byte],
                            off: Int): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(b, off, b.length - off)).toString
  }

  /** Decode one crawl body via the ladder. Returns (text, resolved
    * charset name, fallback?) where fallback means the declared/implied
    * charset did not cleanly decode and bytes were reinterpreted
    * (windows-1252, or REPLACE for BOM-implied UTF-16) -- the
    * possible-mojibake telemetry signal. Total: never throws. */
  def decodeBody(contentType: String, body: Array[Byte])
      : (String, String, Boolean) = {
    if (body == null || body.isEmpty) return ("", "UTF-8", false)
    // 1. BOM wins over every label (a BOM is a byte-level fact)
    if (body.length >= 3 && (body(0) & 0xFF) == 0xEF &&
        (body(1) & 0xFF) == 0xBB && (body(2) & 0xFF) == 0xBF) {
      return strictDecode(java.nio.charset.StandardCharsets.UTF_8, body, 3)
        .map((_, "UTF-8", false))
        .getOrElse((replaceDecode(
          java.nio.charset.StandardCharsets.UTF_8, body, 3), "UTF-8", true))
    }
    if (body.length >= 2 && (body(0) & 0xFF) == 0xFF && (body(1) & 0xFF) == 0xFE) {
      val cs = java.nio.charset.StandardCharsets.UTF_16LE
      return strictDecode(cs, body, 2).map((_, "UTF-16LE", false))
        .getOrElse((replaceDecode(cs, body, 2), "UTF-16LE", true))
    }
    if (body.length >= 2 && (body(0) & 0xFF) == 0xFE && (body(1) & 0xFF) == 0xFF) {
      val cs = java.nio.charset.StandardCharsets.UTF_16BE
      return strictDecode(cs, body, 2).map((_, "UTF-16BE", false))
        .getOrElse((replaceDecode(cs, body, 2), "UTF-16BE", true))
    }
    // 2/3. transport header, then meta sniff
    val labeled = labelFromHeader(contentType).flatMap(charsetForLabel)
      .orElse(labelFromMeta(body).flatMap(charsetForLabel))
    labeled match {
      case Some(cs) =>
        strictDecode(cs, body, 0) match {
          case Some(t) => (t, cs.name(), false)
          case None => // wrong label: total windows-1252 reinterpretation
            (replaceDecode(Win1252, body, 0), Win1252.name(), true)
        }
      case None =>
        // 4. unlabeled: strict UTF-8 probe; 5. the HTML5 1252 default
        strictDecode(java.nio.charset.StandardCharsets.UTF_8, body, 0)
          .map((_, "UTF-8", false))
          .getOrElse((replaceDecode(Win1252, body, 0), Win1252.name(), false))
    }
  }

  /** Extract text from a binary HTML body column (the
    * [[graft.sources.Warc.warcRecords]] output shape): charset-aware
    * decode (see [[decodeBody]] -- BOM > HTTP header > meta sniff >
    * UTF-8 probe > windows-1252) then the kernel, one map-side pass per
    * row; the decoded full HTML never materializes as a column.
    *
    * `contentTypeCol` is consulted when present (the warcRecords schema
    * carries `http_content_type`); absent, the ladder starts at the
    * byte-level steps. Pass `charsetCol` to also emit the resolved
    * charset name plus a `<charsetCol>_fallback` boolean -- the
    * wrong-label/mojibake telemetry columns. Pass `linksCol` to also
    * emit the page's anchor hrefs ([[htmlLinks]]) from the SAME decode
    * pass -- the crawl loop needs text AND outlinks per page, and
    * decoding the body twice would double the dominant per-row cost.
    *
    * `honorRobotsMeta` (r14) switches the links column to
    * [[htmlOutlinks]] -- rel=nofollow anchors dropped, robots-meta
    * `nofollow` drops every anchor, the [[htmlRefresh]] redirect target
    * appended -- and `noindexCol`, when set, emits [[htmlNoindex]] per
    * page (same pass): the crawl loop excludes those from the corpus
    * while still feeding ledger and frontier. `xRobotsCol` names an
    * `X-Robots-Tag` HTTP-header column (the warcRecords schema carries
    * `http_x_robots`) whose directive tokens MERGE with the meta's --
    * header and markup are equal-rank politeness channels (an
    * agent-scoped form like `googlebot: noindex` conservatively
    * applies: over-respecting a directive is safe, ignoring one is
    * not); the refresh target still rides through a header nofollow,
    * the redirect-not-a-link rule. `canonicalCol` emits the page's
    * [[htmlCanonical]] target (raw — resolution is the caller's step)
    * from the same pass — the URL-level dedup key. `imagesCol` (r16)
    * emits the page's [[htmlImages]] pairs
    * (array<struct<src,alt,title,caption>>, srcs raw like every href)
    * from the same pass — the image–text harvesting feeder. */
  def extractFromBodies(records: DataFrame, bodyCol: String = "body",
                        outCol: String = "text",
                        contentTypeCol: String = "http_content_type",
                        charsetCol: String = null,
                        linksCol: String = null,
                        baseCol: String = null,
                        honorRobotsMeta: Boolean = false,
                        noindexCol: String = null,
                        xRobotsCol: String = null,
                        canonicalCol: String = null,
                        imagesCol: String = null): DataFrame = {
    require(!records.columns.contains("_charset_dec"),
      "column name _charset_dec is reserved by extractFromBodies")
    val ct =
      if (records.columns.contains(contentTypeCol)) col(contentTypeCol)
      else lit(null).cast("string")
    val xr =
      if (xRobotsCol != null && records.columns.contains(xRobotsCol))
        col(xRobotsCol)
      else lit(null).cast("string")
    val wantLinks = linksCol != null
    val wantBase = baseCol != null
    val wantNoindex = noindexCol != null
    val wantCanonical = canonicalCol != null
    val wantImages = imagesCol != null
    val dec = udf { (contentType: String, body: Array[Byte],
                     xRobots: String) =>
      val (html, charset, fellBack) = decodeBody(contentType, body)
      // ONE <meta> scan feeds links-gating AND the noindex column;
      // X-Robots-Tag tokens merge in (header ∪ markup)
      val needSignals = (wantLinks && honorRobotsMeta) || wantNoindex
      val (robots, refreshC) =
        if (needSignals) metaSignals(html) else (null, null)
      val toks =
        if (!needSignals) Set.empty[String]
        else robotsTokens(robots) ++ robotsTokens(xRobots)
      (htmlToText(html), charset, fellBack,
        if (!wantLinks) Array.empty[String]
        else if (honorRobotsMeta)
          outlinksImpl(html, nofollowTokens(toks),
            parseRefreshContent(refreshC))
        else htmlLinks(html),
        if (wantBase) htmlBase(html) else null,
        wantNoindex && noindexTokens(toks),
        if (wantCanonical) htmlCanonical(html) else null,
        if (wantImages) htmlImages(html).toSeq else Seq.empty[ImageRef])
    }
    val withDec = records.withColumn("_charset_dec",
      dec(ct, col(bodyCol), xr))
      .withColumn(outCol, col("_charset_dec._1"))
    val withCs =
      if (charsetCol == null) withDec
      else withDec.withColumn(charsetCol, col("_charset_dec._2"))
        .withColumn(s"${charsetCol}_fallback", col("_charset_dec._3"))
    val withLinks =
      if (!wantLinks) withCs
      else withCs.withColumn(linksCol, col("_charset_dec._4"))
    val withBase =
      if (!wantBase) withLinks
      else withLinks.withColumn(baseCol, col("_charset_dec._5"))
    val withNoindex =
      if (!wantNoindex) withBase
      else withBase.withColumn(noindexCol, col("_charset_dec._6"))
    val withCanonical =
      if (!wantCanonical) withNoindex
      else withNoindex.withColumn(canonicalCol, col("_charset_dec._7"))
    val out =
      if (!wantImages) withCanonical
      else withCanonical.withColumn(imagesCol, col("_charset_dec._8"))
    out.drop("_charset_dec")
  }
}
