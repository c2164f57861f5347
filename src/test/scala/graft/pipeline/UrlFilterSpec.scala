package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class UrlFilterSpec extends SparkTestBase {
  import spark.implicits._

  private val blocklist = Seq("badsite.com", "tracker.io").toDF("domain")

  /** The pre-r15 Column-chain form of [[UrlFilter.hostSuffixes]], the
    * reference the kernel is pinned to. */
  private def hostSuffixesChain(host: org.apache.spark.sql.Column) = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  test("hosts extracts distinct lowercased hosts") {
    val got = Seq("see https://A.B.com/x and http://a.b.com/y plus https://c.io")
      .toDF("t").select(UrlFilter.hosts($"t")).as[Seq[String]].head()
    assert(got === Seq("a.b.com", "c.io"))
  }

  test("hostSuffixes expands the bounded dot-suffix chain") {
    val got = Seq("a.b.example.com").toDF("h")
      .select(UrlFilter.hostSuffixes($"h")).as[Seq[String]].head()
    assert(got === Seq("a.b.example.com", "b.example.com", "example.com", "com"))
  }

  test("hostSuffixes kernel == the former transform(sequence) chain") {
    // the r15 kernel replaced the interpreted per-element HOF; the
    // chain stays as this pin. Edge cases deliberately ugly: leading/
    // trailing/doubled dots (split keeps trailing empties at limit -1),
    // single label, empty string, null
    val hosts = Seq("a.b.example.com", "example.com", "com", "",
      "a.", ".b", "a..b", "x.y.", "..", "localhost")
    val df = hosts.toDF("h")
    val kernel = df.select($"h", UrlFilter.hostSuffixes($"h").as("s"))
      .as[(String, Seq[String])].collect().toMap
    val chain = df.select($"h", hostSuffixesChain($"h").as("s"))
      .as[(String, Seq[String])].collect().toMap
    assert(kernel === chain)
    assert(Seq((null: String)).toDF("h")
      .select(UrlFilter.hostSuffixes($"h")).as[Seq[String]].head() === null)
  }

  test("exact domains and subdomains are blocked; lookalikes are not") {
    val docs = Seq(
      (1L, "x https://badsite.com/page y"),        // exact
      (2L, "x http://cdn.eu.badsite.com y"),       // deep subdomain
      (3L, "x https://notbadsite.com y"),          // lookalike — NOT blocked
      (4L, "x https://tracker.io.evil.org y"),     // suffix only as prefix — NOT blocked
      (5L, "no urls here"),
      (6L, "x https://ok.example.org http://sub.tracker.io y")
    ).toDF("id", "text")
    val got = UrlFilter.flagBlockedDomains(docs, "id", "text", blocklist, "domain")
      .select("id", "blocked").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> false, 6L -> true))
  }

  test("sentence-final punctuation does not let a blocked domain escape") {
    val docs = Seq(
      (1L, "visit https://badsite.com. next sentence"),
      (2L, "at the end: http://sub.tracker.io."),
      (3L, "dashed https://badsite.com- weird")
    ).toDF("id", "text")
    val got = UrlFilter.flagBlockedDomains(docs, "id", "text", blocklist, "domain")
      .select("id", "blocked").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> true))
  }

  test("uppercase schemes and userinfo prefixes do not evade the filter") {
    val docs = Seq(
      (1L, "go HTTPS://badsite.com/x now"),          // uppercase scheme
      (2L, "go Http://sub.badsite.com y"),           // mixed-case scheme
      (3L, "auth https://user%40x@badsite.com/p"),   // userinfo prefix
      (4L, "auth http://alice@sub.tracker.io/q"),    // userinfo + subdomain
      (5L, "mail alice@badsite.com no scheme")       // bare email — NOT a URL
    ).toDF("id", "text")
    val got = UrlFilter.flagBlockedDomains(docs, "id", "text", blocklist, "domain")
      .select("id", "blocked").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> true, 3L -> true,
      4L -> true, 5L -> false))
  }

  test("dropBlockedDomains keeps clean docs with original columns") {
    val docs = Seq((1L, "https://badsite.com"), (2L, "clean")).toDF("id", "text")
    val kept = UrlFilter.dropBlockedDomains(docs, "id", "text", blocklist, "domain")
    assert(kept.columns.toSeq === Seq("id", "text"))
    assert(kept.as[(Long, String)].collect().toSeq === Seq((2L, "clean")))
  }

  test("dropBlockedUrls gates by host suffix: subdomain/port/case/userinfo") {
    val rows = Seq(
      ("https://badsite.com/x", 1L),          // exact
      ("https://a.badsite.com/y", 2L),        // subdomain
      ("HTTPS://BADSITE.COM:8443/z", 3L),     // case + port variant
      ("https://u@badsite.com/w", 4L),        // userinfo
      ("https://notbadsite.com/ok", 5L),      // suffix lookalike survives
      ("https://badsite.community/ok", 6L),   // label-boundary lookalike
      ("not a url", 7L))                      // hostless passes
      .toDF("url", "n_refs")
    val kept = UrlFilter.dropBlockedUrls(rows, "url", blocklist, "domain")
    assert(kept.columns.toSeq === Seq("url", "n_refs"))
    assert(kept.select("n_refs").as[Long].collect().toSet ===
      Set(5L, 6L, 7L))
  }

  test("isUrlTrap: length, depth, consecutive-segment loops, param blowups") {
    val t = (u: String) => UrlFilter.isUrlTrap(u)
    assert(!t("https://ok.example/a/b/c?x=1&y=2"))
    assert(!t(null) && !t("") && !t("not a url"))
    // length
    assert(t("https://x.example/p?q=" + "a" * 2048))
    assert(!t("https://x.example/" + "a" * 2000))
    // depth: 33 segments trap, 32 pass
    assert(t("https://x.example" + (0 until 33).map(i => s"/s$i").mkString))
    assert(!t("https://x.example" + (0 until 32).map(i => s"/s$i").mkString))
    // consecutive repeats: 4 of one segment trap, 3 pass, alternation
    // passes (no run), non-adjacent repeats pass, trailing slash benign
    assert(t("https://x.example/p/loop/loop/loop/loop/q"))
    assert(!t("https://x.example/p/loop/loop/loop/q"))
    assert(!t("https://x.example/a/b/a/b/a/b/a/b"))
    assert(!t("https://x.example/a/z/a/z/a/"))
    assert(t("https://x.example/aa/aa/aa/aa"))
    assert(!t("https://x.example/aa/ab/aa/ab")) // same length, different
    // query params: 33 trap, 32 pass; ';' separators count; fragment
    // does not extend the query span
    assert(t("https://x.example/f?" +
      (0 until 33).map(i => s"a$i=1").mkString("&")))
    assert(!t("https://x.example/f?" +
      (0 until 32).map(i => s"a$i=1").mkString("&")))
    assert(t("https://x.example/f?" +
      (0 until 33).map(i => s"a$i=1").mkString(";")))
    assert(!t("https://x.example/f?a=1&b=2#" + "&" * 100))
    // dropUrlTraps column form keeps clean rows with original columns
    val rows = Seq(("https://ok.example/x", 1L),
      ("https://x.example/p/loop/loop/loop/loop/q", 2L)).toDF("url", "n")
    val kept = UrlFilter.dropUrlTraps(rows, "url")
    assert(kept.columns.toSeq === Seq("url", "n"))
    assert(kept.select("n").as[Long].collect().toSeq === Seq(1L))
  }

  test("normalizeUrl canonicalizes scheme, host, ports, tracking, fragments") {
    val cases = Seq(
      // scheme+host lowercase, path case preserved
      "HTTPS://Example.COM/Path" -> "https://example.com/Path",
      // default ports elided, non-default kept
      "http://x.com:80/a" -> "http://x.com/a",
      "https://x.com:443" -> "https://x.com",
      "http://x.com:8080/a" -> "http://x.com:8080/a",
      // fragment dropped
      "https://x.com/a#frag" -> "https://x.com/a",
      // tracking params dropped with dangling repair; real params stay
      "https://x.com/a?utm_source=n&id=5" -> "https://x.com/a?id=5",
      "https://x.com/a?id=5&utm_medium=m" -> "https://x.com/a?id=5",
      "https://x.com/a?utm_a=1&utm_b=2" -> "https://x.com/a",
      "https://x.com/a?gclid=zz" -> "https://x.com/a",
      // three consecutive tracking params, then a kept one
      "https://x.com/a?utm_a=1&gclid=2&utm_b=3&id=4" -> "https://x.com/a?id=4",
      // kept param BETWEEN tracking params — the && run is repaired
      "https://x.com/a?utm_a=1&id=5&utm_b=2&id2=6" ->
        "https://x.com/a?id=5&id2=6",
      // suffix look-alikes of tracking names are NOT tracking params:
      // the delimiter anchor must keep them (unanchored regexes turned
      // `?xgclid=v` into `?x` and merged distinct `?my_fbclid=…` URLs)
      "https://x.com/a?xgclid=v" -> "https://x.com/a?xgclid=v",
      "https://x.com/a?my_fbclid=a" -> "https://x.com/a?my_fbclid=a",
      "https://x.com/a?my_fbclid=b" -> "https://x.com/a?my_fbclid=b",
      "https://x.com/a?id=1&xutm_source=n" -> "https://x.com/a?id=1&xutm_source=n",
      // one trailing slash dropped
      "https://x.com/a/" -> "https://x.com/a",
      "https://x.com/" -> "https://x.com",
      // non-URLs pass through untouched
      "not a url" -> "not a url")
    val got = cases.map(_._1).toDF("u")
      .select($"u", UrlFilter.normalizeUrl($"u").as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) === want, s"normalizeUrl('$in')")
    }
  }

  test("the blocklist join broadcasts — no nested-loop, no big-side shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = UrlFilter.flagBlockedDomains(docs, "doc_id", "text",
      blocklist, "domain").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast equi-join:\n$plan")
    assert(!plan.contains("NestedLoop"), s"must not nested-loop:\n$plan")
  }

  test("hostOf lowercases, skips userinfo, drops ports, nulls non-URLs") {
    val cases = Seq(
      "https://Example.COM/x" -> "example.com",
      "HTTP://u@Sub.Host.org:8080/p" -> "sub.host.org",
      "https://a.b.c:443/" -> "a.b.c",
      "ftp://files.example.com/x" -> null,
      "not a url" -> null)
    val got = cases.map(_._1).toDF("u")
      .select($"u", UrlFilter.hostOf($"u").as("h"))
      .as[(String, Option[String])].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) === Option(want), s"hostOf('$in')")
    }
  }

  test("hostStats counts docs and sums signals per host, skipping hostless") {
    val rows = Seq(
      (1L, "https://A.com/1", 10L),
      (2L, "https://a.com/2", 20L),
      (3L, "https://b.com/1", 5L),
      (4L, "nope", 100L)
    ).toDF("doc_id", "url", "n_chars")
    val stats = UrlFilter.hostStats(rows, "url", "doc_id", Seq("n_chars"))
      .as[(String, Long, Long)].collect().toSet
    assert(stats === Set(("a.com", 2L, 30L), ("b.com", 1L, 5L)))
  }

  test("capPerHost keeps the k smallest hash coordinates per host") {
    val rows = (1L to 30L).map(i =>
      (i, s"https://h${i % 2}.com/$i")).toDF("doc_id", "url")
    val capped = UrlFilter.capPerHost(rows, "url", "doc_id", k = 5)
      .as[(String, Long, Int)].collect()
    // exactly k per host, ranks 1..k
    capped.groupBy(_._1).foreach { case (h, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1 to 5), s"ranks for $h")
    }
    // equals the window-ranked reference on the same coordinate
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"host")
      .orderBy(graft.pipeline.Sampling.hashCoord($"doc_id"), $"doc_id")
    val ref = rows
      .withColumn("host", UrlFilter.hostOf($"url"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"host", $"doc_id", $"rank")
      .as[(String, Long, Int)].collect().toSet
    assert(capped.toSet === ref)
  }
}
