package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analysis.TextMetrics
import graft.dedup.Dedup
import graft.index.SimilarityIndex
import graft.lexicon.Lexicon
import graft.multimodal.Multimodal
import graft.pipeline.Sampling

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2
  * plus the training-data-pipeline extensions (dedup / similarity / text
  * analysis); `oracleSql` carries DuckDB-equivalent SQL for everything
  * SQL-expressible (same column aliases both sides — the driver's compare
  * sorts columns by name before hashing values). The only queries without
  * an oracle are lexicon_build / lexicon_validate, whose keys derive from
  * the engine-private 512-d feature-hash kernel — their tokenize path and
  * validate totals ARE hash-checked through the lexicon_vocab /
  * lexicon_validate_totals companions; the approximate top-k queries are
  * oracled through their deterministic recall contract (top1 = self +
  * recall floor — see emb_topk_lsh below).
  *
  * Oracle-parity rules used throughout:
  *  - double sums go through CAST(... AS DECIMAL(18,x)) on BOTH sides
  *    (2-decimal prices are not binary-exact, so raw double sums are
  *    summation-order-dependent), then back to DOUBLE.
  *  - integer-valued doubles (l_quantity) and counts sum exactly — no cast.
  *  - every query ends in a total ORDER BY over a unique key combination.
  *  - regexes restricted to the Java∩RE2 common subset ([a-z0-9], \s, +).
  */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet needs the shared nanos→µs handling — one loader
    * (graft.sources.Sources.table) owns that logic. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.table(spark, dir, "events")

  /** Deterministically truncated copies of every 50th document — the
    * "incoming near-duplicate batch" half of the fixture, shared by the
    * one-shot and incremental dedup queries so they test the same
    * population. */
  private def mutatedDocs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select("doc_id", "text")
      .filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        // floor() explicitly: Spark's double→int cast truncates but
        // DuckDB's rounds, so the oracle must use the same floor()
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))

  /** documents ∪ deterministically truncated copies — self-contained
    * near-duplicate fixture (the mutation is reproducible in DuckDB). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select("doc_id", "text")
      .unionByName(mutatedDocs(s, dir))

  /** The crawl-frontier fixture: one page per document whose anchors are
    * pure doc_id arithmetic, SHARED by crawl_frontier,
    * crawl_frontier_bloom, crawl_schedule and crawl_schedule_delay so
    * their oracles all gate the same page population. The arms cover
    * every frontier transform: two absolute NEW targets (one
    * decade-shared; one behind a `#frag` the normalize strips), a
    * comment-wrapped link (regex extraction semantics), a self-link and
    * a tracking-param variant of it (both normalize INTO the crawled
    * set), root-relative / path-relative / `../` dot-segment /
    * scheme-relative refs (RFC 3986 resolution against the page url),
    * an uppercase-scheme-and-host `:443` absolute (case + default-port
    * normalization, path case preserved), a single-quoted href (in
    * contract since r13), an `&amp;`-escaped multi-param query (the
    * attribute-value entity decode, r14 — conforming HTML escapes `&`
    * in attributes; the resolved url carries a REAL `&`), an explicit
    * `:8443` port (survives normalize;
    * collapses into the canonical host queue in scheduling), a
    * whitespace-WRAPPED absolute (leading newline + trailing tab — the
    * WHATWG pre-clean; unstripped it would merge as a junk relative
    * path), and mailto/javascript refs the resolver must drop. Output:
    * (page_url, html). */
  private def crawlFixturePages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val esc = text.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        val own = s"https://h${id % 7}.example/page/$id"
        val html =
          s"""<html><body>
             |<a href="https://h${(id * 3) % 7}.example/page/${id + 100000}#frag">next</a>
             |<A HREF="https://h${(id * 5) % 7}.example/page/${id - (id % 10) + 200000}">decade hub</A>
             |<!-- <a href="https://hc.example/c/${id % 13}">from comment</a> -->
             |<a href="$own">self</a>
             |<a href="$own?utm_source=x&gclid=g$id">tracked self</a>
             |<a href="/about">root relative</a>
             |<a href="sub/item${id % 5}">path relative</a>
             |<a href="../up/${id % 3}">dot segments</a>
             |<a href="//h${(id * 2) % 7}.example/proto/${id % 11}">scheme relative</a>
             |<a href="HTTPS://H${id % 7}.EXAMPLE:443/Upper/${id % 9}">shouty</a>
             |<a href='https://sq.example/q/${id % 4}'>single quoted</a>
             |<a href="https://amp.example/q/${id % 5}?a=1&amp;b=${id % 3}">escaped amp</a>
             |<a href="https://h${(id + 3) % 7}.example:8443/alt/${id % 5}">alt port</a>
             |<a href="${"\n"}  https://h${(id + 1) % 7}.example/ws/${id % 6}${"\t"}">ws wrapped</a>
             |<a href="mailto:x@y">mail</a>
             |<a href="javascript:void(0)">js</a>
             |<p>$esc</p>
             |</body></html>""".stripMargin
        (own, html)
      }.toDF("page_url", "html")
  }

  /** The fixture pages with links EXTRACTED, cached: the frontier-family
    * queries branch over this frame several times (bloom routing alone
    * reads it four ways), and in production the (url, links) pages
    * arrive MATERIALIZED from the fused decode checkpoint — re-running
    * the fixture synthesis + extraction per plan branch would measure
    * fixture construction, not the operator. Bench/Verify call
    * `spark.catalog.clearCache()` after every query (the standing
    * helper-cache convention), so nothing outlives the measurement. */
  private def crawlFixtureLinkPages(s: SparkSession, dir: String): DataFrame =
    crawlFixturePages(s, dir)
      .select(col("page_url").as("url"),
        graft.pipeline.HtmlText.htmlLinksCol(col("html")).as("links"))
      .persist()

  /** Dirs queued for recursive deletion at JVM exit, drained by ONE static
    * shutdown hook — a hook per call would accumulate Thread objects (and
    * retained paths) unboundedly in a long-lived JVM. */
  private val tmpDirsToDelete =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val tmpDirHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      var dir = tmpDirsToDelete.poll()
      while (dir != null) {
        try {
          val walk = Files.walk(dir)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        } catch { case _: Throwable => () } // best-effort cleanup
        dir = tmpDirsToDelete.poll()
      }
    }))
    true
  }

  /** Register a temp directory for recursive deletion at JVM exit
    * (File.deleteOnExit only handles empty dirs). */
  private def deleteRecursivelyOnExit(dir: java.nio.file.Path): Unit = {
    tmpDirHookInstalled
    tmpDirsToDelete.add(dir)
    ()
  }

  /** Flagship query (≙ reference `lexicon` command, LexiconCommand.cs:14-58):
    * build the identity-angle lexicon over the documents corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = tbl(spark, "/root/testdata/sf0.001", "documents")
    Lexicon.build(docs, "text").toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ==================================================================
    // Reference flagship: lexicon build (non-SQL-expressible key function
    // → rows-only driver check)
    // ==================================================================
    "lexicon_build" -> ((s, dir) => {
      Lexicon.build(tbl(s, dir, "documents"), "text").toDF()
        .select("angle", "label").orderBy("angle")
    }),

    // Hash-checked companions for the lexicon pair: the ANGLE key derives
    // from the engine-private 512-d feature hash (rows-only above/below),
    // but the LABEL multiset does not — the corpus is lowercase ASCII +
    // space at every SF, where splitWords (TextAnalyzer.scala:89) reduces
    // to a space split, so the tokenize path feeding build/validate is
    // DuckDB-expressible and fully hash-checked here.
    "lexicon_vocab" -> ((s, dir) => {
      Lexicon.tokenize(tbl(s, dir, "documents"), "text").toDF()
        .groupBy("label").agg(count(lit(1)).as("n_occurrences"))
        .orderBy("label")
    }),

    // The real build+validate round-trip, projected onto its two
    // oracle-expressible aggregates: total token occurrences, and the
    // self-validate invariant missing = 0 (every token of the corpus must
    // hit its own lexicon).
    "lexicon_validate_totals" -> ((s, dir) => {
      import s.implicits._
      val tokens = Lexicon.tokenize(tbl(s, dir, "documents"), "text").persist()
      val lex = Lexicon.buildFromTokens(tokens).toDF()
      val r = Lexicon.validateTokens(tokens, lex)
      tokens.unpersist()
      Seq((r.totalTokens, r.missing)).toDF("total_tokens", "missing")
    }),

    // ==================================================================
    // Relational operator coverage (§2.8) — all DuckDB-oracled
    // ==================================================================
    "q1_pricing_summary" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // customer scales with SF — no broadcast hint; AQE decides at runtime
    // (a pinned hint OOMs the broadcast at sf100). Fixed-size nation/region
    // keep their hints in q5 below.
    "q3_top_revenue_orders" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // 6-table join through the star schema, revenue per nation
    "q5_revenue_by_nation" -> ((s, dir) => {
      val r = tbl(s, dir, "region"); val n = tbl(s, dir, "nation")
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem"); val su = tbl(s, dir, "supplier")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    "q_window_top_orders" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"), col("o_orderkey"))
    }),

    "q_keyset_ops" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val highValue = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      highValue.intersect(urgent)
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy("custkey")
    }),

    // symmetric difference via EXCEPT + UNION (README.md:52 set semantics)
    "q_keyset_symdiff" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val highValue = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      highValue.except(urgent).union(urgent.except(highValue))
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy("custkey")
    }),

    "q_orders_without_lineitems" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem").select(col("l_orderkey"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // EXISTS / semi-join: orders with at least one discounted lineitem
    "q_semi_join_exists" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem").filter(col("l_discount") > 0.05)
        .select(col("l_orderkey"))
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // correlated-aggregate pattern (TPC-H Q17 shape): lineitems far below
    // their part's average quantity; the per-part aggregate joins back in
    "q_below_avg_qty" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      l.join(avgQty, l("l_partkey") === avgQty("ap_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
          count(lit(1)).as("n"))
    }),

    // statistical aggregates: exact interpolated percentiles (both engines
    // use the (n-1)·p linear-interpolation convention; integer-valued
    // quantities make the arithmetic deterministic) + decimal-quantized
    // stddev (the accumulation algorithms differ in the last ulps)
    "q_quantile_stats" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          stddev_samp(col("l_quantity")).cast("decimal(18,6)").cast("double")
            .as("sd_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // distinct-count aggregate
    "q_distinct_customers" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // skew-mitigated join: hot l_partkey values spread over 16 salted
    // reducers; output is identical to the unsalted join (the salt is
    // internal), so the oracle is the plain join — exactly the equality
    // SkewSpec pins, now checked through the driver at sf scale
    "q_skew_join" -> ((s, dir) => {
      val big = tbl(s, dir, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val small = tbl(s, dir, "part")
        .select(col("p_partkey").as("partkey"), col("p_brand").as("brand"))
      graft.functions.Skew.saltedJoin(big, small, "partkey")
        .groupBy(col("brand"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("brand")
    }),

    // skew-mitigated aggregation: two-phase (key, salt) partial then key
    // final; decimal-cast BEFORE the salted sum so both phases accumulate
    // exactly and summation order cannot matter
    "q_skew_agg" -> ((s, dir) => {
      val df = tbl(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      graft.functions.Skew.saltedCountSum(df, "l_returnflag", "qty")
        .select(col("l_returnflag"), col("n"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // rollup (grouping sets) with null grouping keys folded to 'ALL'
    "q_rollup_order_stats" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    }),

    // cube: all grouping-set combinations (rollup's sibling)
    "q_cube_order_stats" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy("status", "priority")
    }),

    // pivot: order counts per status × priority, priorities as columns
    "q_pivot_status_priority" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("1-URGENT" -> "p1", "2-HIGH" -> "p2",
          "3-MEDIUM" -> "p3", "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        .orderBy("status")
    }),

    // map functions: props parsed to a typed map, value via element_at
    "q_map_funcs" -> ((s, dir) => {
      events(s, dir)
        .withColumn("m", from_json(col("props"), org.apache.spark.sql.types
          .MapType(org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)))
        .groupBy(col("event_type"))
        .agg(sum(element_at(col("m"), "k")).as("sum_k"),
          count(when(map_contains_key(col("m"), "k"), 1)).as("n_with_k"))
        .orderBy("event_type")
    }),

    // string functions over part
    "q_string_funcs" -> ((s, dir) => {
      tbl(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          min(length(col("p_name"))).as("min_name_len"),
          max(upper(substring(col("p_type"), 1, 5))).as("max_type_prefix"),
          sum(when(col("p_name").like("%green%"), 1L).otherwise(0L)).as("n_green"))
        .orderBy("p_brand")
    }),

    // date functions over orders
    "q_orders_by_year" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("yr", "mo")
    }),

    // JSON extraction from the events props column
    "q_events_json" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // time bucketing (streaming-shaped agg in batch form)
    "q_events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    // sessionization: 30-min-gap sessions per user (window lag; session
    // count = gap count + 1, which is order-stable under ts/event_id ties)
    "q_events_sessions" -> ((s, dir) => {
      val e = events(s, dir)
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
      e.withColumn("new_s", when(gapUs > 1800L * 1000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg((sum(col("new_s")) + 1).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // a REAL Structured Streaming execution: readStream over the events
    // parquet → watermark → windowed agg → memory sink (AvailableNow);
    // oracled identically to the batch hourly rollup
    "q_events_stream_hourly" -> ((s, dir) => {
      graft.streaming.EventStreams
        .runHourlyStream(s, s"$dir/events.parquet")
        .orderBy("hour", "event_type")
    }),

    // the DURABLE streaming path: update output mode appended through
    // foreachBatch as a batch-id-stamped parquet changelog with a
    // checkpoint, compacted last-writer-wins on read — the sink shape a
    // continuous ingest needs (the memory/complete path above re-emits and
    // driver-collects the whole table every batch; partitioning a sink by
    // the aggregation key mints one tiny file per aggregate row). Oracled
    // identically to the batch hourly rollup: the compacted log must equal
    // it. Fresh tmp dirs per call keep the run deterministic.
    "q_events_stream_durable" -> ((s, dir) => {
      val tmpDir = java.nio.file.Files.createTempDirectory("graft_durable_")
      // the changelog parquet must outlive this call (the returned frame
      // reads it lazily), so reclamation is a JVM-exit hook, not an inline
      // delete — without it, min-of-2 bench runs plus the run-all-queries
      // test leave a changelog+checkpoint pair in /tmp per invocation
      deleteRecursivelyOnExit(tmpDir)
      val tmp = tmpDir.toFile.getAbsolutePath
      graft.streaming.EventStreams.runHourlyStreamDurable(s,
        s"$dir/events.parquet", s"$tmp/out", s"$tmp/ckpt")
        .select(col("hour"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour", "event_type")
    }),

    // the streaming windowed aggregation run in batch (same window() code
    // path; the watermark is a no-op on batch frames)
    "q_events_windowed" -> ((s, dir) => {
      graft.streaming.EventStreams
        .windowedTypeCounts(events(s, dir), "5 minutes", "10 minutes")
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // the streaming sessionizer run in batch mode (same
    // flatMapGroupsWithState code path; state starts empty so exactly the
    // closed sessions emit) — oracled against a DuckDB window rewrite
    "q_events_closed_sessions" -> ((s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val ev = events(s, dir).drop("props")
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.sessionize(ev)
        .toDF()
        .select(col("user_id"), col("session_start"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // the FORWARD as-of: for each view, the user's next click at/after it
    // (conversion lag attribution). Same sweep operator descending;
    // DuckDB's ASOF supports the forward inequality natively.
    "q_events_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      graft.operators.AsofJoin.asofForward(views, clicks, Seq("user_id"),
        "view_ts", "click_ts", Seq("click_id", "click_ts"))
        .orderBy("view_id")
    }),

    // range (interval) join via axis binning (custom operator): session
    // intervals × the events inside them, as an EQUI-join on (user, time
    // bin) + exact filter — never a per-key cartesian with a range
    // post-filter. n_in_range re-derives each session's event count
    // through the join, so the oracle checks interval containment exactly.
    "q_events_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).select("user_id", "ts", "event_id")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = ev
        .withColumn("brk",
          when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
            > 1800000000L, 1).otherwise(0))
        .withColumn("sess", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
      graft.operators.RangeJoin.binnedRangeJoin(sessions,
          events(s, dir).select("user_id", "ts"),
          Seq("user_id"), "session_start", "session_end", "ts")
        .groupBy("user_id", "session_start", "n_events")
        .agg(count(lit(1)).as("n_in_range"))
        .select("user_id", "session_start", "n_events", "n_in_range")
        .orderBy("user_id", "session_start")
    }),

    // ==================================================================
    // KV column semantics (§2.1): multi-value grouped read (putOrAppend →
    // getMany); sorted multiset of values per key. Values stringified —
    // l_quantity is integer-valued — so the driver's pandas compare hashes
    // a scalar column (raw arrays are unhashable there).
    // ==================================================================
    "kv_grouped_values" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("key"))
        .agg(array_join(transform(
          array_sort(collect_list(col("l_quantity").cast("long"))),
          x => x.cast("string")), ",").as("vals"),
          count(lit(1)).as("n"))
        .orderBy("key")
    }),

    // point lookup / getMany (S8-S9): probe a small key set against the big
    // table — the probe side broadcasts, the big side never shuffles
    "kv_point_lookup" -> ((s, dir) => {
      val probes = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("key"))
      tbl(s, dir, "lineitem")
        .join(broadcast(probes), col("l_orderkey") === col("key"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_values"),
          array_join(transform(
            array_sort(collect_list(col("l_quantity").cast("long"))),
            x => x.cast("string")), ",").as("vals"))
        .orderBy("key")
    }),

    // indexOf: rank of each key in the sorted distinct key set (S10),
    // via two-phase range-partitioned rank (Ranks) — no global window.
    "kv_index_of" -> ((s, dir) => {
      val keys = tbl(s, dir, "orders").select(col("o_custkey").as("key")).distinct()
      graft.store.Ranks.withOrderedIndex(keys, "key", "idx")
        .orderBy("key")
    }),

    // as-of join (custom operator — Spark has none): attribute each click
    // to the latest prior view by the same user. One key shuffle + sorted
    // sweep; oracled by DuckDB's NATIVE ASOF LEFT JOIN. (user_id, ts) is
    // unique among views at every SF, so the match is deterministic.
    "q_events_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"), col("value").as("view_value"))
      graft.operators.AsofJoin.asofBackward(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", Seq("view_id", "view_ts", "view_value"))
        .orderBy("click_id")
    }),

    // z-order (Morton) layout kernel over (customer, order-day): the
    // magic-number bit spread is pure long arithmetic, codegen'd here and
    // reproduced shift-for-shift in DuckDB. The curve prefix (first 200
    // cells) is a deterministic sample of the layout order zOrderWrite
    // range-partitions on.
    "q_zorder_curve" -> ((s, dir) => {
      tbl(s, dir, "orders").select(col("o_orderkey"),
        graft.store.Layout.zValue(
          col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long"))
          .as("z"))
        .orderBy("z", "o_orderkey")
        .limit(200)
    }),

    // ==================================================================
    // Dedup suite (training-data pipeline)
    // ==================================================================
    "doc_exact_dedup" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("doc_id")
        .select("doc_id", "text_hash", "n_copies")
    }),

    "doc_normalized_dedup" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .groupBy(md5(Dedup.normalized(col("text"))).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
        .select("keep_id", "norm_hash", "n_copies")
    }),

    // exact n-gram Jaccard join (inverted index, no cross join) — oracled
    // against a brute-force DuckDB pair scan
    "doc_ngram_jaccard_dups" -> ((s, dir) => {
      Dedup.ngramJaccardJoin(docsWithNearDups(s, dir), "text", "doc_id",
        shingleK = 4, threshold = 0.3, maxDocFreq = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),

    // containment (overlap coefficient): |A∩B| / min(|A|,|B|) — the
    // subset-dup detector. The fixture's truncations score ≈ 1.0 here at
    // jaccard ≈ 0.5-0.7, exactly the truncation signature the symmetric
    // score under-reports. Same inverted-index core, brute-force oracle.
    "doc_containment_dups" -> ((s, dir) => {
      Dedup.ngramContainmentJoin(docsWithNearDups(s, dir), "text", "doc_id",
        shingleK = 4, threshold = 0.9, maxDocFreq = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),

    // the SAME join with the scale guard ON: shingles shared by more than
    // maxDocFreq docs are dropped before pairing (df-pruned intersection
    // over FULL set sizes), and the oracle reproduces the prune — so the
    // driver hash-checks the guarded code path, the one that runs at
    // 100 TB. maxDocFreq = 2 genuinely prunes at every SF (fixture shingle
    // df reaches 4-6).
    "doc_ngram_jaccard_pruned" -> ((s, dir) => {
      Dedup.ngramJaccardJoin(docsWithNearDups(s, dir), "text", "doc_id",
        shingleK = 4, threshold = 0.3, maxDocFreq = 2)
        .orderBy("id_a", "id_b")
    }),

    // MinHash-LSH near-dups. Candidates are LSH-generated but the output is
    // exact-Jaccard-verified, so the brute-force pair scan is a valid
    // oracle as long as recall holds: the fixture's true pairs all have
    // jaccard ≥ 0.58, and at 128 hashes / 64 bands the per-pair miss
    // probability is (1-0.58²)^64 ≈ 3e-12.
    "doc_minhash_dups" -> ((s, dir) => {
      Dedup.minhashNearDuplicates(docsWithNearDups(s, dir), "text", "doc_id",
        shingleK = 4, numHashes = 128, bands = 64, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // incremental dedup: band the corpus into a persisted MinHash index
    // once, then probe the incoming batch against it — the stored side is
    // only read map-side (batch band keys routed on the driver), never
    // re-banded or shuffled. Same recall argument as doc_minhash_dups (128 hashes / 64
    // bands), so the brute-force cross-pair scan is a valid oracle: the
    // fixture's true pairs (30% truncation) all sit at jaccard >= ~0.58,
    // far above the 0.3 threshold, where the per-pair LSH miss
    // probability is ~3e-12 — a pair AT the threshold would miss with
    // ~0.24% probability, so keep fixture pairs away from the boundary
    // when adding cases (Dedup.minhashIndexProbe scaladoc, "Recall
    // contract").
    "doc_incremental_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      // fresh per-call dir (a fixed path would race a concurrent
      // Verify/Bench pair: one JVM's overwrite deleting sets/ under the
      // other's lazy probe read), reclaimed by the JVM-exit hook — the
      // probe result reads the index lazily, so no inline delete
      val idxDir = java.nio.file.Files.createTempDirectory("graft_mhidx_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Dedup.minhashIndexBuild(d, "text", "doc_id", idxPath,
        shingleK = 4, numHashes = 128, bands = 64)
      Dedup.minhashIndexProbe(s, idxPath, mutatedDocs(s, dir),
        "text", "doc_id", threshold = 0.3)
        .orderBy("corpus_id", "new_id")
    }),

    // the APPEND path: install the corpus in two installments (even ids at
    // build, odd ids folded in by minhashIndexAppend — never re-banding
    // the stored side), then probe. Probe-after-append must equal the
    // one-shot probe over the whole corpus, so the oracle is the SAME
    // brute-force cross-pair scan as doc_incremental_dedup.
    "doc_index_append" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_mhidx_app_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        Dedup.minhashIndexBuild(d.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", idxPath, shingleK = 4, numHashes = 128, bands = 64)
      }
      Phases.timed("append") {
        Dedup.minhashIndexAppend(s, idxPath, d.filter(col("doc_id") % 2 === 1),
          "text", "doc_id")
      }
      Dedup.minhashIndexProbe(s, idxPath, mutatedDocs(s, dir),
        "text", "doc_id", threshold = 0.3)
        .orderBy("corpus_id", "new_id")
    }),

    // the SNAPSHOT-READ path: same two-installment shape as
    // doc_index_append, probed with asOfInstallment = 0 — the
    // partition-pruned `installment <= 0` filter must make the append
    // invisible. The installment split is `doc_id % 100 < 50` so the
    // probe batch's source docs (ids ≡ 0 mod 50 — every one EVEN)
    // straddle BOTH installments: a snapshot read that leaks
    // installment-1 rows returns extra pairs, one that over-prunes
    // drops installment-0 pairs — either hash-mismatches the oracle,
    // which restricts the corpus CTE to the installment-0 half.
    "doc_index_asof" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_mhidx_asof_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        Dedup.minhashIndexBuild(d.filter(col("doc_id") % 100 < 50),
          "text", "doc_id", idxPath, shingleK = 4, numHashes = 128, bands = 64)
      }
      Phases.timed("append") {
        Dedup.minhashIndexAppend(s, idxPath, d.filter(col("doc_id") % 100 >= 50),
          "text", "doc_id")
      }
      Dedup.minhashIndexProbe(s, idxPath, mutatedDocs(s, dir),
        "text", "doc_id", threshold = 0.3, asOfInstallment = 0)
        .orderBy("corpus_id", "new_id")
    }),

    // the DELETE path (takedown lifecycle): build over the whole corpus,
    // tombstone the doc_id % 7 == 0 docs (one id-list append + negative
    // bucket-size deltas — nothing rewritten), probe. Probe-after-delete
    // must equal a fresh index over corpus-minus-deleted, so the oracle
    // is the doc_index_append scan with the corpus CTE filtered.
    "doc_index_tombstone" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_mhidx_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        Dedup.minhashIndexBuild(d, "text", "doc_id", idxPath,
          shingleK = 4, numHashes = 128, bands = 64)
      }
      Phases.timed("delete") {
        Dedup.minhashIndexDelete(s, idxPath,
          d.filter(col("doc_id") % 7 === 0).select("doc_id"))
      }
      Dedup.minhashIndexProbe(s, idxPath, mutatedDocs(s, dir),
        "text", "doc_id", threshold = 0.3)
        .orderBy("corpus_id", "new_id")
    }),

    // transitive cluster resolution over the minhash pair list: connected
    // components (alternating large-star/small-star, O(log² n) rounds of
    // one reused exchange each) turn pairwise matches into dedup clusters
    // keyed by the min-id representative — a≈b, b≈c collapse into ONE
    // cluster even though (a,c) was never emitted. Oracled by a DuckDB
    // recursive CTE over the same brute-force pair set.
    "doc_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDuplicates(docsWithNearDups(s, dir),
        "text", "doc_id", shingleK = 4, numHashes = 128, bands = 64,
        threshold = 0.3)
      Dedup.duplicateClusters(pairs, "id_a", "id_b").orderBy("rep")
    }),

    // INCREMENTAL cluster maintenance: label the historical (base-base)
    // pairs first, then fold the batch's pairs (those touching the
    // mutated copies) into the labeling via CC over (labels ∪ new pairs)
    // — a star forest preserves connectivity exactly, so the clusters
    // must hash-match the one-shot doc_dup_clusters oracle verbatim
    "doc_dup_clusters_incr" -> ((s, dir) => {
      // the pair frame feeds BOTH CC passes — materialize the (small)
      // pair list once instead of re-running shingle+band+verify per
      // consumer (the lazy form recomputed pair generation 3×)
      val pairs = Dedup.minhashNearDuplicates(docsWithNearDups(s, dir),
        "text", "doc_id", shingleK = 4, numHashes = 128, bands = 64,
        threshold = 0.3)
        .localCheckpoint()
      val historical = pairs.filter(col("id_b") < 1000000L)
      val fresh = pairs.filter(col("id_b") >= 1000000L)
      val labels0 = Dedup.connectedComponents(historical, "id_a", "id_b")
      val labels = Dedup.connectedComponentsIncremental(labels0, fresh,
        "id_a", "id_b")
      Dedup.release(labels0)
      Dedup.release(pairs)
      labels.groupBy(col("rep"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(array_sort(collect_list(col("id"))),
            x => x.cast("string")), ",").as("members"))
        .orderBy("rep")
    }),

    // SimHash near-dups over docs ∪ exact copies (hamming 0 guaranteed)
    "doc_simhash_dups" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val copies = d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.simhashNearDuplicates(d.unionByName(copies), "text", "doc_id",
        maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // embedding cosine near-dups via hyperplane LSH over embeddings ∪
    // scaled copies (cosine ≈ 1 by construction). Output is ids-only so the
    // DuckDB brute-force scan can oracle the pair set with its own float
    // kernel — at threshold 0.98 both engines agree robustly (random 64-d
    // pairs sit near cosine 0, copies near 1; nothing lands near the cut).
    "emb_near_dups" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.05f)).as("embedding"))
      Dedup.embeddingNearDuplicates(e.unionByName(copies), "embedding", "vec_id",
        dims = 64, threshold = 0.98, planes = 96, bands = 8)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // semantic dedup end-to-end (SemDeDup shape): embedding near-dup
    // pairs → connected components → keep-min clusters. Same CC kernel as
    // doc_dup_clusters, composed over the vector modality.
    "emb_dup_clusters" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.05f)).as("embedding"))
      val pairs = Dedup.embeddingNearDuplicates(e.unionByName(copies),
        "embedding", "vec_id", dims = 64, threshold = 0.98,
        planes = 96, bands = 8)
      Dedup.duplicateClusters(pairs, "id_a", "id_b").orderBy("rep")
    }),

    // SemDeDup pruning over the same planted-copy fixture: every scaled
    // copy is cosine-1 with its original, so exactly the 1000000+ ids
    // drop (keep-min representative) and the survivor set is the
    // original corpus — the oracle prunes brute-force CC labels the
    // same way, so a missed LSH candidate or a wrong representative
    // choice both break the hash
    "emb_semantic_dedup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.05f)).as("embedding"))
      Dedup.semanticDedup(e.unionByName(copies), "embedding", "vec_id",
        dims = 64, threshold = 0.98, planes = 96, bands = 8)
        .select("vec_id").orderBy("vec_id")
    }),

    // ==================================================================
    // Similarity search (§2.4)
    // ==================================================================
    // exact nearest neighbor (non-self) per query — id-only output so the
    // DuckDB oracle can rank with its own cosine kernel (float rounding
    // differs in the low bits; the argmax does not)
    "emb_top1_brute" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      SimilarityIndex.bruteForceTopK(
        e.select("vec_id", "embedding"), q, k = 1, excludeSelf = true)
        .select("query_id", "vec_id")
        .orderBy("query_id")
    }),

    // cluster-balanced downsampling (the SemDeDup shape): assign every
    // vector to its most-cosine-similar seed (seeds = vec_id < 8,
    // broadcast; ties → smaller seed id, the emb_top1_brute argmax
    // precedent), then keep ≤ 60 per cluster by hash-coordinate rank.
    // Quota bites on the five big clusters, the 56- and 48-member
    // clusters survive whole — both paths hash-checked.
    "emb_cluster_sample" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      SimilarityIndex.clusterBalancedSample(e, seeds, quota = 60)
        .select(col("seed_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("seed_id", "rank")
    }),

    // LSH top-k, oracled via the reference's own index-quality contract
    // (GraphTests.cs:40-43): corpus-member queries must return themselves
    // at rank 1 (deterministic — identical sign bits collide in every
    // band) and recover ≥ recallFloor of the exact brute-force top-5
    // (the brute-force side is the recall harness, not the search path).
    // recallFloor = 2 of 5 is the majority-miss guard: measured per-query
    // hits are 3-5 (LSH) / 2-5 (IVF) across sf 0.001/0.01/0.1, so the
    // floor holds with margin at every SF while still failing hard if a
    // banding/probing regression collapses the candidate sets.
    "emb_topk_lsh" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val approx = SimilarityIndex.lshTopK(e, q,
        k = 5, dims = 64, planes = 64, bands = 16)
      val exact = SimilarityIndex.bruteForceTopK(e, q, k = 5)
      SimilarityIndex.approxRecallReport(approx, exact, recallFloor = 2)
        .orderBy("query_id")
    }),

    // IVF approximate top-k through the PERSISTED index (ivfBuild with a
    // sampled k-means fit → list_id-partitioned parquet → ivfSearchIndexed
    // with driver-resolved partition-pruned probes — the SeekableGraphReader
    // analog, SeekableGraphReader.cs:57-104). Same recall oracle as LSH:
    // a corpus-member query probes its own list (same nearest centroid), so
    // top1 = self deterministically.
    "emb_topk_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // fresh per-call dir + JVM-exit reclamation (a fixed path leaked the
      // index per run and raced concurrent Verify/Bench overwrites)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      SimilarityIndex.ivfBuild(e, idxPath, nlist = 16)
      val approx = SimilarityIndex.ivfSearchIndexed(s, idxPath, q, k = 5, nprobe = 6)
      val exact = SimilarityIndex.bruteForceTopK(e, q, k = 5)
      SimilarityIndex.approxRecallReport(approx, exact, recallFloor = 2)
        .orderBy("query_id")
    }),

    // the IVF APPEND path: fit + build on the even vec_ids, fold the odd
    // half in against the FROZEN centroids (map-side assignment, stored
    // assignments never rewritten), then search. The recall contract of
    // emb_topk_ivf must hold over the two-installment index: every
    // corpus-member query still probes its own list (its assigned list IS
    // its nearest centroid, frozen or not), so top1 = self at cosine 1.
    "emb_ivf_append" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_app_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        SimilarityIndex.ivfBuild(e.filter(col("vec_id") % 2 === 0), idxPath,
          nlist = 16)
      }
      Phases.timed("append") {
        SimilarityIndex.ivfAppend(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      val approx = SimilarityIndex.ivfSearchIndexed(s, idxPath, q, k = 5, nprobe = 6)
      val exact = SimilarityIndex.bruteForceTopK(e, q, k = 5)
      SimilarityIndex.approxRecallReport(approx, exact, recallFloor = 2)
        .orderBy("query_id")
    }),

    // IVF drift observability (r17 — the RE-TRAIN signal): centroids
    // are PLANTED one-hot axis vectors (the open layout), so the
    // Euclidean assignment (argmax of the first four components,
    // first-wins ties) and every per-list mean cosine replay exactly
    // in SQL; two ivfAppendAt ingests split the corpus by parity, and
    // the dashboard reads per-(list, ingest) counts + the
    // DECIMAL-summed mean cosine through the q_scaler_stats
    // DOUBLE-output protocol. An assignment, rounding, or
    // partition-layout defect hash-mismatches.
    "emb_ivf_drift" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_ivfdrift_")
      deleteRecursivelyOnExit(fd)
      val idx = fd.resolve("ivf").toFile.getAbsolutePath
      (0 until 4).map(i =>
          (i, Array.tabulate(64)(k => if (k == i) 1.0 else 0.0)))
        .toDF("list_id", "centroid")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$idx/centroids")
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      graft.index.SimilarityIndex.ivfAppendAt(s, idx,
        e.filter(col("vec_id") % 2 === 0), 0)
      graft.index.SimilarityIndex.ivfAppendAt(s, idx,
        e.filter(col("vec_id") % 2 === 1), 1)
      graft.index.SimilarityIndex.ivfDriftStats(s, idx)
        .orderBy("list_id", "ingest")
    }),

    // the FLOAT-IVF DELETE path (takedown lifecycle — the one index
    // family the r10 tombstone sweep missed): build over the whole
    // corpus, tombstone the vec_id % 5 == 0 vectors (one id-list append;
    // centroids stay FROZEN — a delete only shrinks lists, routing is
    // untouched), then search at nprobe = nlist so every list is probed
    // and the result is EXACTLY the float top-5 over corpus-minus-deleted
    // regardless of where k-means put the centroids (the oracle-pinnable
    // configuration, the emb_ivfsq8_probe_prune precedent). Queries
    // include deleted ids as vectors — their cosine-1 self-hits must
    // vanish from the top-5, so a tombstone leak is unmissable at rank 1.
    "emb_ivf_tombstone" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        SimilarityIndex.ivfBuild(e, idxPath, nlist = 16)
      }
      Phases.timed("delete") {
        SimilarityIndex.ivfDelete(s, idxPath,
          e.filter(col("vec_id") % 5 === 0).select("vec_id"))
      }
      SimilarityIndex.ivfSearchIndexed(s, idxPath, q, k = 5, nprobe = 16)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF-SQ8 (the FAISS billion-scale default shape): float k-means
    // routing + partition-pruned probes over PACKED int8 codes (1 B/dim
    // — a probe reads a quarter of the float bytes of the lists it
    // touches). Same deterministic recall contract as emb_topk_ivf: a
    // corpus member probes its own list and its own code matches
    // exactly, so top1 = self.
    "emb_topk_ivfsq8" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfsq8_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.ivfSq8Build(e, idxPath, nlist = 16)
      }
      val approx = graft.index.Quantize.ivfSq8Search(s, idxPath, q,
        k = 5, nprobe = 6)
        .withColumnRenamed("cosine_q", "cosine")
      val exact = SimilarityIndex.bruteForceTopK(e, q, k = 5)
      SimilarityIndex.approxRecallReport(approx, exact, recallFloor = 2)
        .orderBy("query_id")
    }),

    // int8-quantized brute-force top-k: one global symmetric scale
    // (maxabs/127), integer code dot products, cosine from one div + two
    // correctly-rounded sqrts — the quantized scores hash-match DuckDB
    // BIT-FOR-BIT (the float kernels agree only at argmax granularity),
    // while the packed at-rest form scans at 1/4 the bandwidth of
    // float32. Search goes through the PERSISTED two-installment index:
    // build fits the scale on the even ids and STORES it in meta; append
    // quantizes the odd half with that stored scale (the shared
    // stored-meta contract — installments can never disagree). The
    // oracle therefore derives its scale from the even ids only and
    // quantizes the whole corpus with it, exactly like the index does.
    // ANN hard-negative mining (the contrastive-training complement to
    // doc_negative_pairs' random negatives): top-5 most-similar NON-SELF
    // vectors per query through the persisted int8 index, rank gap closed
    // behind the dropped self hit — equals a direct (cosine desc, id)
    // top-5 over non-self rows, which is what the oracle computes.
    "emb_hard_negatives" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_hardneg_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e, idxPath)
      }
      graft.index.Quantize.hardNegatives(s, idxPath, q, k = 5)
        .select(col("query_id"), col("vec_id"), col("cosine_q"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "emb_topk_int8" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e.filter(col("vec_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Quantize.int8Append(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      graft.index.Quantize.int8SearchIndexed(s, idxPath, q, k = 5)
        .select(col("query_id"), col("vec_id"), col("cosine_q"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // INT8 SNAPSHOT READ: even-id build + odd-id append, searched at
    // asOfInstallment = 0 — candidates prune to the even codes while
    // queries still quantize with the stored scale. Odd-id queries lose
    // their cosine-1 self-hit (the twin lives in the pruned
    // installment), so a leaky snapshot is unmissable in the top-5.
    "emb_int8_asof" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_asof_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e.filter(col("vec_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Quantize.int8Append(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      graft.index.Quantize.int8SearchIndexed(s, idxPath, q, k = 5,
        asOfInstallment = 0)
        .select(col("query_id"), col("vec_id"), col("cosine_q"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // the INT8 DELETE path (takedown lifecycle): build over the whole
    // corpus, tombstone the vec_id % 5 == 0 vectors (one id-list append —
    // the stored SCALE is frozen by contract, deletes never re-fit it),
    // then search. Queries include deleted ids as VECTORS (callers own
    // their probes) — their cosine-1 self-hits must vanish from the
    // top-5, so a tombstone leak is unmissable at rank 1. The oracle
    // quantizes with the full-corpus scale and restricts candidates to
    // vec_id % 5 <> 0.
    "emb_int8_tombstone" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e, idxPath)
      }
      Phases.timed("delete") {
        graft.index.Quantize.int8Delete(s, idxPath,
          e.filter(col("vec_id") % 5 === 0).select("vec_id"))
      }
      graft.index.Quantize.int8SearchIndexed(s, idxPath, q, k = 5)
        .select(col("query_id"), col("vec_id"), col("cosine_q"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // INCREMENTAL EMBEDDING DEDUP (the vector sibling of
    // doc_incremental_dedup): build+append the int8 index, then probe an
    // incoming batch — every stored row is scored, so unlike the LSH
    // probes the pair set is EXACT at the threshold, bit-reproducible in
    // DuckDB's integer arithmetic. The batch stays in exactly-representable
    // float ops (copies scaled by 2, sign flips) so both engines quantize
    // identical input bits: ×2 twins land at quantized cosine ≈ 1 (their
    // CODES differ from the original's — the quantizer itself is
    // exercised, floor(2v/s + .5) ≠ 2·floor(v/s + .5)), negated rows at
    // −1; nothing sits near the 0.98 cut.
    "emb_incremental_dedup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_probe_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e.filter(col("vec_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Quantize.int8Append(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      val batch = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .unionByName(e.filter(col("vec_id") % 30 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      graft.index.Quantize.int8NearDupProbe(s, idxPath, batch, threshold = 0.98)
        .select("corpus_id", "new_id")
        .orderBy("corpus_id", "new_id")
    }),

    // NOTE (r13): the FLAT int8 probe-prune (`emb_probe_prune`,
    // |batch|×|stored| integer scoring, never the 100 TB path) was a
    // declared query through r12 as the exactness control for the routed
    // forms below. With two rounds of green history on
    // `emb_probe_prune_routed` (the production nprobe=4 shape) it is
    // demoted to spec coverage only — QuantizeSpec pins `int8ProbePrune`'s
    // policy, zero-norm, column-passthrough and flat-vs-routed-equality
    // arms, and an integer reference through appends, deletes and asOf.
    // Its flat probe is `emb_incremental_dedup` above: 4.1 s at sf1 on
    // the routed kernel (min of 3 runs, 4 cores).

    // NOTE (r14): the EXHAUSTIVE IVF-SQ8 probe-prune
    // (`emb_ivfsq8_probe_prune`, nprobe = nlist = 16 — every list
    // scanned, work = |batch|×|stored|, never the 100 TB shape) followed
    // the flat probe into spec-only coverage (the r13 demotion
    // precedent): QuantizeSpec's "ivfSq8ProbePrune at nprobe=nlist
    // equals the flat prune" arm pins the exactness contract, and the
    // routed production form below keeps the oracle.

    // THE PRODUCTION CONFIGURATION of ingest pruning -- nprobe << nlist,
    // the shape that runs at 100 TB (per-batch cost |probed lists|, ~4/16
    // of the corpus instead of all of it; 9.4 s at sf1 on the routed
    // kernel, build included, min of 3 runs on 4 cores). Exactness still
    // holds on THIS fixture deterministically:
    // every planted >= 0.98 pair is a scalar multiple (x2, -1x, -2x), so
    // batch vector and stored twin have IDENTICAL direction and route to
    // IDENTICAL top-nprobe centroid lists -- the stored twin's own list
    // is always probed at any nprobe >= 1, and no non-parallel pair
    // reaches the 0.98 threshold in random high-dim data. Same oracle as
    // the flat scan; the exhaustive nprobe=nlist sibling is spec-only
    // since r14 (QuantizeSpec pins it == flat).
    "emb_probe_prune_routed" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfsq8_prune_r_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.ivfSq8Build(e, idxPath, nlist = 16)
      }
      val batch = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .unionByName(e.filter(col("vec_id") % 30 === 0)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
        .unionByName(e.filter(col("vec_id") % 30 === 0)
          .select((col("vec_id") + 3000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(-2.0f)).as("embedding")))
      graft.index.Quantize.ivfSq8ProbePrune(s, idxPath, batch,
          threshold = 0.98, nprobe = 4, broadcastDrop = true)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // IVF-SQ8 + REFINE (FAISS IndexRefineFlat composition): quantized
    // candidate generation over probed code lists, then an EXACT float
    // re-rank of the bounded pool against the raw sidecar the build
    // stored list-partitioned alongside the codes. Probes cover every
    // list at this fixture, so the contract sharpens from recall to
    // exactness: int8 error cannot push a true top-5 neighbor below
    // rank 64 of 500, hence the refined top-5 IS the float brute-force
    // top-5 row for row (ids at argmax granularity — the float score
    // itself stays engine-local, like emb_top1_brute). At production
    // scale nprobe << nlist trades this back to the IVF recall contract
    // while answers keep full-precision ordering.
    "emb_topk_sq8_refined" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_sq8_refine_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.ivfSq8Build(e, idxPath, nlist = 16,
          storeRaw = true)
      }
      graft.index.Quantize.ivfSq8SearchRefined(s, idxPath, q, k = 5,
        candidateK = 64, nprobe = 16)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // Product quantization (r16 — the TENTH index family, the
    // memory-bound ANN tier: 16 B/vector at m=16 vs 64 B int8 /
    // 256 B float): per-subspace k-means codebooks, m-byte codes,
    // ADC search (m table lookups per stored row), installment
    // append with STORED codebooks (the batch here appends the odd
    // half against books trained on the evens), exact float re-rank
    // over a pool derived from the CORPUS COUNT (r17): candidateK >=
    // corpus rows makes the pool's coverage of the float top-5
    // STRUCTURAL — the gate's exactness claim holds at any sweep SF
    // by construction, not by an empirically-swept pool width (the
    // 256-pool sf1 miss is the precedent; these near-random synthetic
    // embeddings are PQ's worst case). Narrowed-pool ADC ranking
    // quality is spec-pinned separately (PqSpec recall floor); real
    // clustered corpora run candidateK ~ 8-64x k.
    "emb_topk_pq_refined" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_ref_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Pq.pqBuild(e.filter(col("vec_id") % 2 === 0), idxPath,
          m = 16, ksub = 64)
      }
      Phases.timed("append") {
        graft.index.Pq.pqAppendAt(s, idxPath,
          e.filter(col("vec_id") % 2 === 1), installment = 1)
      }
      graft.index.Pq.pqSearchRefined(s, idxPath, q, e, k = 5,
        candidateK = math.max(1024L, e.count()).toInt)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // PQ with the ROTATION quality tier (r17 — the OPQ-family lift at
    // the same byte budget): a stored seeded random orthonormal
    // rotation balances the subspace split; rotation preserves inner
    // products, so the REFINED exactness contract is identical — the
    // corpus-count pool + exact float re-rank equals the brute force
    // row for row THROUGH the rotated two-installment index (append
    // must encode with the STORED rotation or this hash-mismatches)
    "emb_topk_pq_rot" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_rot_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Pq.pqBuild(e.filter(col("vec_id") % 2 === 0), idxPath,
          m = 16, ksub = 64, rotate = true)
      }
      Phases.timed("append") {
        graft.index.Pq.pqAppendAt(s, idxPath,
          e.filter(col("vec_id") % 2 === 1), installment = 1)
      }
      graft.index.Pq.pqSearchRefined(s, idxPath, q, e, k = 5,
        candidateK = math.max(1024L, e.count()).toInt)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // PQ delete lifecycle: tombstone every vec_id%5==0, refined search
    // — the deleted rows must vanish from the pool AND the re-rank
    // (takedown semantics), so the answer equals the exact float top-5
    // over the SURVIVORS (the emb_ivf_tombstone contract). The pool is
    // corpus-count-derived like emb_topk_pq_refined (r17): a query
    // whose entire replica clique is deleted has only DISTANT true
    // neighbors on this near-random synthetic data — PQ's worst case —
    // so the exactness contract holds STRUCTURALLY at any sweep SF
    // (the pool re-rank stays |q|*candidateK, trivially cheap; real
    // clustered embeddings cover with far narrower pools).
    "emb_pq_tombstone" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Pq.pqBuild(e, idxPath, m = 16, ksub = 64)
      }
      Phases.timed("delete") {
        graft.index.Pq.pqDelete(s, idxPath,
          e.filter(col("vec_id") % 5 === 0).select("vec_id"))
      }
      graft.index.Pq.pqSearchRefined(s, idxPath, q, e, k = 5,
        candidateK = math.max(1024L, e.count()).toInt)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ (r17 — FAISS's billion-scale default `IVF<nlist>,PQ<m>`
    // + IndexRefineFlat): coarse k-means routing over m-byte PQ codes
    // in the two-level list_id=X/ingest=N layout, so an ADC probe
    // reads ~nprobe/nlist of the codes — here driven through the FULL
    // lifecycle: build on the evens (raw/ refine sidecar stored),
    // replay-idempotent append of the odds at ingest=1 (STORED
    // centroids + codebooks — installments can never disagree), then
    // refined search at nprobe = nlist with a corpus-count-derived
    // pool: full probe + covering pool makes the answer the exact
    // float top-5 STRUCTURALLY (the pq_refined contract). The routed
    // nprobe << nlist shape and its pruned scan plan are spec-pinned
    // (IvfPq arms of PqSpec) — list membership isn't SQL-replayable.
    "emb_topk_ivfpq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Pq.ivfPqBuild(e.filter(col("vec_id") % 2 === 0),
          idxPath, nlist = 16, m = 16, ksub = 64, storeRaw = true)
      }
      Phases.timed("append") {
        graft.index.Pq.ivfPqAppendAt(s, idxPath,
          e.filter(col("vec_id") % 2 === 1), ingest = 1)
      }
      graft.index.Pq.ivfPqSearchRefined(s, idxPath, q, k = 5,
        candidateK = math.max(1024L, e.count()).toInt, nprobe = 16)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ in RESIDUAL mode (r17 — FAISS's by_residual default): the
    // codes quantize (normalized vector − the assigned list's unit
    // centroid), scoring adds the per-(query, list) q·w_list base to
    // the ADC sum — the within-list-offset budget that makes
    // small-nprobe IVF-PQ usable. Same full lifecycle (build evens +
    // append odds against the STORED residual anchors) and the same
    // structural exactness: full probe + covering pool + exact re-rank
    // == the float brute force row for row.
    "emb_topk_ivfpq_res" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpqr_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Pq.ivfPqBuild(e.filter(col("vec_id") % 2 === 0),
          idxPath, nlist = 16, m = 16, ksub = 64, storeRaw = true,
          residual = true)
      }
      Phases.timed("append") {
        graft.index.Pq.ivfPqAppendAt(s, idxPath,
          e.filter(col("vec_id") % 2 === 1), ingest = 1)
      }
      graft.index.Pq.ivfPqSearchRefined(s, idxPath, q, k = 5,
        candidateK = math.max(1024L, e.count()).toInt, nprobe = 16)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // flat-index refine (the sidecar-free sibling of sq8_refined): int8
    // candidate pool from a TWO-INSTALLMENT index, exact float re-rank
    // against the source embeddings table — candidateK=64 of 500 makes
    // the pool certainly contain the float top-5, so the answer is the
    // float brute force row for row (ids at argmax granularity)
    "emb_topk_int8_refined" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_ref_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e.filter(col("vec_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Quantize.int8Append(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      graft.index.Quantize.int8SearchRefined(s, idxPath, q, e, k = 5,
        candidateK = 64)
        .select(col("query_id"), col("vec_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // INT8 COMPACTION lifecycle: three installments folded to one dir by
    // the atomic-swap int8Compact, then searched — code bytes are
    // untouched, so the result must be BIT-IDENTICAL to emb_topk_int8's
    // two-installment scan (same oracle SQL, integer-exact scores).
    "emb_int8_compact" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_int8_cmp_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Quantize.int8Build(e.filter(col("vec_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Quantize.int8Append(s, idxPath, e.filter(col("vec_id") % 2 === 1))
      }
      Phases.timed("compact") {
        graft.index.Quantize.int8Compact(s, idxPath)
      }
      graft.index.Quantize.int8SearchIndexed(s, idxPath, q, k = 5)
        .select(col("query_id"), col("vec_id"), col("cosine_q"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // feature-hashed TF-IDF vectors (hashing trick + log-free RSJ idf):
    // the full sparse weight matrix hash-checks — md5-hex dimension
    // hash, decimal collision/norm sums, one division per weight
    "doc_tfidf_vectors" -> ((s, dir) => {
      graft.analysis.Featurize.hashedTfidf(
        tbl(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", dims = 64)
        .orderBy("doc_id", "dim")
    }),

    // exact PPS sampling: systematic selection over the integer
    // cumulative-weight line (stride 2000, phase 500 over n_chars) —
    // long documents proportionally likelier, fixed realized size,
    // RNG-free and integer-exact so DuckDB replays the selection
    // row-for-row with a window cumsum
    "doc_weighted_sample" -> ((s, dir) => {
      graft.pipeline.Sampling.systematicWeightedSample(
        tbl(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", stride = 2000L, phase = 500L)
        .orderBy("doc_id")
    }),

    // row-level snapshot diff (CDC for corpus maintenance): two
    // deterministic snapshots derived from documents — the "old" crawl
    // is missing doc_id%10==7 and carries a stale suffix on %10==3, the
    // "new" crawl dropped %10==5 — classified added/removed/changed
    // through the md5 row-hash full-outer join (wide text never ships
    // through the shuffle; see SnapshotDiff scaladoc)
    "doc_snapshot_diff" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text", "lang")
      val oldSnap = docs
        .filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) === 3,
            concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = docs.filter(pmod(col("doc_id"), lit(10)) =!= 5)
      graft.pipeline.SnapshotDiff
        .diff(oldSnap, newSnap, Seq("doc_id"), Seq("text", "lang"))
        .orderBy("doc_id")
    }),

    // behavioral training sequences: each user's ordered event-type
    // journey as one string — the sequence-building step for
    // user-behavior models. Order is total (ts, event_id), join is one
    // groupBy; portable via sort_array of (ts, event_id, type) structs
    // mirrored by string_agg ORDER BY in SQL
    "q_user_journeys" -> ((s, dir) => {
      // tight kernel over the pos-sorted structs — no per-element HOF
      val joinTypes = udf { (evs: Seq[org.apache.spark.sql.Row]) =>
        val sb = new java.lang.StringBuilder(evs.length * 8)
        var i = 0
        while (i < evs.length) {
          if (i > 0) sb.append('>')
          sb.append(evs(i).getString(2))
          i += 1
        }
        sb.toString
      }
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          joinTypes(array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type"))))).as("journey"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // exact standardization stats for numeric featurization: Σx and Σx²
    // accumulate EXACTLY in decimal (order-free), convert once to
    // double — then the outputs ROUND to DECIMAL(18,6): the raw double
    // chain is NOT engine-bit-stable (late-r15 sf0.1 finding — DuckDB
    // converts decimal→double as int/scale, TWO roundings vs the JVM's
    // correctly-rounded BigDecimal path, and the variance cancellation
    // amplifies the ulp into repr space; 6dp is ~10^5 ulps of headroom).
    // The rounded decimal then casts BACK to DOUBLE (both sides): two
    // rounds of driver-red proved decimal OUTPUT canonicalization is
    // harness-dependent, while decimal→double is correctly rounded in
    // both engines — the doubles are identical bits in any harness
    "q_scaler_stats" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      def sums(c: String) = {
        val x = col(c).cast("decimal(18,2)")
        Seq(sum(x).cast("double").as(s"_sx_$c"),
          sum((x * x).cast("decimal(28,4)")).cast("double").as(s"_sq_$c"))
      }
      def meanStd(c: String, label: String) = {
        val n = col("n").cast("double")
        val mean = col(s"_sx_$c") / n
        Seq(mean.cast("decimal(18,6)").cast("double").as(s"mean_$label"),
          sqrt(col(s"_sq_$c") / n - mean * mean).cast("decimal(18,6)")
            .cast("double").as(s"std_$label"))
      }
      val aggs = sums("l_quantity") ++ sums("l_extendedprice") :+
        count(lit(1)).as("n")
      l.agg(aggs.head, aggs.tail: _*)
        .select(meanStd("l_quantity", "qty") ++
          meanStd("l_extendedprice", "price") :+ col("n"): _*)
    }),

    // BPE merge learning (tokenizer training): corpus → word-frequency
    // table (the one corpus-sized pass, materialized ONCE) → 64 merges
    // learned in BATCHED counting rounds (maxBatch = 16: disjoint-prefix
    // selection with the strict-count-dominance cut, provably equal to
    // one-at-a-time BPE — the trick that turns 32k-merge training into
    // hundreds of jobs) — → the merge table, hash-checked against a
    // DuckDB oracle that unrolls 64 SEQUENTIAL rounds and mirrors the
    // cnt>=2 early-stop: the oracle itself proves batched == sequential
    "doc_bpe_merges" -> ((s, dir) => {
      graft.analysis.Bpe.learnMergesDf(s,
        tbl(s, dir, "documents").select("text"), "text",
        numMerges = BpeMergeRounds, maxBatch = 16)
        .orderBy("step")
    }),

    // BPE ENCODE (tokenizer inference): the 3 learned merges applied
    // back over the corpus in one scan-fused UDF pass; per-doc token
    // totals and distinct-token counts hash-check against an oracle
    // that re-learns the identical merges (unrolled rounds, word
    // identity carried through) and replays the encode via a join of
    // doc words to their final symbol state
    "doc_bpe_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val merges = graft.analysis.Bpe.learnMerges(
        graft.analysis.Bpe.wordFrequencies(docs.select("text"), "text"),
        numMerges = 3)
      graft.analysis.Bpe.encode(
        docs.select("doc_id", "text"), "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          size(array_distinct(col("tokens"))).cast("long")
            .as("n_distinct_tokens"))
        .filter(col("n_tokens") > 0)
        .orderBy("doc_id")
    }),

    // HTML extraction (web-crawl → visible text): fixture docs wrapped
    // in a deterministic page shell (tags, script/style bodies,
    // comments, entities) then stripped — the cleaned text hash-checks
    // byte-for-byte against the identical Java∩RE2 chain in DuckDB
    "doc_html_strip" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val page = concat(
        lit("<html><head><style>p { color: red }</style></head>" +
          "<body><h1>Doc &amp; Title</h1><!-- id --><p>"),
        col("text"),
        lit("</p><script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "</body></html>"))
      d.select(col("doc_id"),
          graft.analysis.TextMetrics.stripHtml(page).as("clean"))
        .orderBy("doc_id")
    }),

    // URL canonicalization for URL-level dedup: scheme/host case,
    // default ports, tracking params, fragments, trailing slash — all
    // via the same RE2∩Java replace chain in both engines
    "q_url_normalize" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id")
      // percent arms (r14): %7e / %7E / ~ variants of the same key must
      // collapse to ONE canonical form; the %3f%61 arm pins
      // reserved-escape hex uppercasing next to unreserved decoding
      val pctTail = when(col("doc_id") % 4 === 0, "&k=%7etilde")
        .when(col("doc_id") % 4 === 1, "&k=%7Etilde")
        .when(col("doc_id") % 4 === 2, "&k=~tilde")
        .otherwise("&k=%3f%61")
      val url = concat(lit("HTTPS://Example.COM:443/Path/"),
        col("doc_id").cast("string"),
        lit("/?utm_source=news&id="), col("doc_id").cast("string"),
        lit("&utm_medium=email"), pctTail, lit("#section"))
      d.select(col("doc_id"),
          graft.pipeline.UrlFilter.normalizeUrl(url).as("canon"))
        .orderBy("doc_id")
    }),

    // URL-LEVEL dedup through the canonicalizer — the consumer
    // normalizeUrl exists for: distinct citations of one page (same path
    // mod 50, differing tracking params / fragments / case) collapse to
    // one canonical form; keep the smallest doc_id (first-crawled) per
    // group. The ?ref= param survives canonicalization, so each path
    // splits into 3 genuine variants — a regex that over-strips (the r8
    // anchor bug) would merge them and break the hash.
    "doc_url_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id")
      val url = concat(lit("HTTPS://Example.COM:443/p/"),
        (col("doc_id") % 50).cast("string"),
        lit("?utm_campaign=c"), col("doc_id").cast("string"),
        lit("&ref="), (col("doc_id") % 3).cast("string"),
        lit("#f"), col("doc_id").cast("string"))
      d.select(col("doc_id"),
          graft.pipeline.UrlFilter.normalizeUrl(url).as("canon"))
        .groupBy("canon")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("canon")
    }),

    // mix planning: target token shares (en 50% / de 30% / fr 20% of a
    // 20k-token budget) against the corpus's actual per-language totals
    // → the epoch factor repeatByEpochs must apply, in exact basis-point
    // integer arithmetic (de's target exceeds its supply → epoch_bp >
    // 10000, the data-constrained repeat regime).
    "doc_mix_plan" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("lang"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tok"))
      graft.pipeline.Sampling.planEpochs(d, "lang", "n_tok",
          Map("en" -> 5000, "de" -> 3000, "fr" -> 2000), budget = 20000L)
        .orderBy("lang")
    }),

    // realized-mix audit: the manifest a pipeline ships with its
    // training set — per language after epoch repetition: emissions,
    // distinct docs, exact summed tokens. Verifies the realized token
    // multiple against the spec (de ≈ 2.5× its base tokens, fr ≈ 0.5×).
    "doc_mix_manifest" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tok"))
      graft.pipeline.Sampling.repeatByEpochs(d, "lang", "doc_id",
          Map("en" -> 1.0, "de" -> 2.5, "fr" -> 0.5))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_emissions"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"))
        .orderBy("lang")
    }),

    // temperature-balanced mix at α = 0.5 (sqrt — the one correctly-
    // rounded power): rare languages upsample relative to their share,
    // thresholds derived through exact DECIMAL(28,10) sqrt sums so the
    // sampled row set reproduces row-for-row in DuckDB
    "doc_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureMixSqrt(
        tbl(s, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", targetRows = 250)
        .orderBy("doc_id")
    }),

    // distribution drift between two corpus snapshots over the
    // (lang, source) mix: L1/total-variation distance computed in EXACT
    // decimal integer arithmetic until one final division — bit-identical
    // cross-engine, no float-summation hazard. Snapshots split on
    // doc_id % 3 (coprime with the fixture's cyclic source assignment —
    // an even/odd split would be source-DISJOINT and saturate at 2.0)
    "q_drift_mix" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      graft.analysis.Drift.l1Drift(
        d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 3 =!= 0),
        concat_ws("|", col("lang"), col("source")))
    }),

    // corpus-level boilerplate removal (CCNet/Dolma line-dedup shape):
    // units appearing in more than maxDocFreq DISTINCT docs are dropped
    // from every doc, which is then reassembled in position order. Units
    // here are the 8-token chunks plus one injected boilerplate unit per
    // doc (df = all docs — guaranteed hot) — the fixture's random text
    // has no naturally-hot 8-grams, so the injection exercises the drop
    // path deterministically in both engines.
    "doc_boilerplate_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val lines = graft.pipeline.Chunking.chunkByTokens(d, "doc_id", "text", 8, 8)
        .select("doc_id", "chunk_idx", "chunk_text")
      val bp = d.select(col("doc_id"), lit(1000000L).as("chunk_idx"),
        lit("subscribe to our newsletter today").as("chunk_text"))
      graft.pipeline.CorpusClean.dedupUnits(lines.unionByName(bp),
        "doc_id", "chunk_idx", "chunk_text", maxDocFreq = 5, sep = " ")
        .orderBy("doc_id")
    }),

    // cross-document repeated-span removal (Lee et al. 2021 ExactSubstr
    // dedup in token space): every duplicated 8-token window survives only
    // at its first (doc_id, pos) occurrence; the truncated near-dup copies
    // share long prefixes with their originals, so the copies' prefix
    // spans are removed while the originals survive intact. clean_text
    // hash-checks byte-for-byte (token-normalized form).
    "doc_span_dedup" -> ((s, dir) => {
      graft.pipeline.SpanDedup.removeRepeatedSpans(
        docsWithNearDups(s, dir), k = 8)
        .orderBy("doc_id")
    }),

    // near-dup PRUNING last mile: the pair detectors + CC + keep-min
    // anti-join in one call — survivors of the near-dup union fixture
    // (originals survive, truncated copies drop; any corpus-internal
    // cluster keeps only its min id). Oracle = recursive-CTE CC keep-min.
    "doc_minhash_prune" -> ((s, dir) => {
      val survivors = Dedup.minhashPrune(docsWithNearDups(s, dir),
        "text", "doc_id", shingleK = 4, numHashes = 128, bands = 64,
        threshold = 0.3)
      survivors.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-SAFE split: near-duplicates must not straddle train/val (a
    // near-copy of a training doc in the validation set leaks the
    // answer), so the split coordinate is the dup-cluster representative
    // from star-contraction CC over the minhash pair list — singletons
    // split exactly like doc_train_val_split. The oracle reclusters with
    // the recursive-CTE CC and applies the same Knuth-hash arithmetic.
    "doc_leakage_safe_split" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDuplicates(docsWithNearDups(s, dir),
        "text", "doc_id", shingleK = 4, numHashes = 128, bands = 64,
        threshold = 0.3)
      Sampling.leakageSafeSplit(
        docsWithNearDups(s, dir).select("doc_id"), "doc_id",
        pairs, "id_a", "id_b", valFraction = 0.2)
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy("doc_id")
    }),

    // the INCREMENTAL span-dedup shape: window hashes persisted as an
    // append-only installment index (build even ids, append odd, compact),
    // then the incoming near-dup batch is probed WITHOUT touching the
    // stored corpus — stored windows always own, so probe == one-shot
    // removal over corpus ∪ batch restricted to the batch, which is
    // exactly what the oracle computes (corpus ids < batch ids).
    "doc_span_index_probe" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_span_idx_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.pipeline.SpanDedup.spanIndexBuild(
          d.filter(col("doc_id") % 2 === 0), idxPath, k = 8)
      }
      Phases.timed("append") {
        graft.pipeline.SpanDedup.spanIndexAppend(s, idxPath,
          d.filter(col("doc_id") % 2 === 1))
      }
      Phases.timed("compact") {
        graft.pipeline.SpanDedup.spanIndexCompact(s, idxPath)
      }
      graft.pipeline.SpanDedup.spanIndexProbe(s, idxPath, mutatedDocs(s, dir))
        .orderBy("doc_id")
    }),

    // the SPAN-INDEX DELETE path (content-addressed, the lm_tombstone
    // sibling): build windows over the whole corpus, delete the
    // doc_id % 7 == 0 docs via negated window-count deltas, probe the
    // near-dup batch. Stored ownership resolves as netted count > 0, so
    // the probe must equal one-shot removal over (corpus-minus-deleted ∪
    // batch) restricted to the batch — a window whose only occurrences
    // were deleted stops owning, one the corpus still holds keeps owning.
    "doc_span_tombstone" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_span_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.pipeline.SpanDedup.spanIndexBuild(d, idxPath, k = 8)
      }
      Phases.timed("delete") {
        graft.pipeline.SpanDedup.spanIndexDelete(s, idxPath,
          d.filter(col("doc_id") % 7 === 0))
      }
      graft.pipeline.SpanDedup.spanIndexProbe(s, idxPath, mutatedDocs(s, dir))
        .orderBy("doc_id")
    }),

    // deterministic negative sampling (contrastive-pair mining): 3
    // pseudo-random non-self partners per doc via the salted hash
    // coordinate over the range-partitioned global rank — RNG-free, so
    // the exact pair set reproduces in DuckDB
    "doc_negative_pairs" -> ((s, dir) => {
      Sampling.negativePairs(
        tbl(s, dir, "documents").select("doc_id"), "doc_id", k = 3)
        .select(col("doc_id"), col("draw").cast("long").as("draw"), col("neg_id"))
        .orderBy("doc_id", "draw")
    }),

    // column-level profiling in ONE aggregation pass (exact distincts via
    // Catalyst Expand — one shuffle, not a per-column rescan): the
    // pipeline-QA operator. Profiled columns are integer/ASCII-string so
    // min/max stringification is engine-portable.
    "q_profile_orders" -> ((s, dir) => {
      graft.analysis.Profile.profile(tbl(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),

    // ==================================================================
    // Text analysis (training-data pipeline)
    // ==================================================================
    // Stupid-Backoff bigram LM quality score (CCNet-style perplexity
    // filter, integer-exact fixed point — every per-pair score and the
    // per-doc sum/avg are BIGINTs, so the oracle matches bit-for-bit).
    // Self-trained here; production passes held-out count tables.
    "doc_ngram_lm_score" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.analysis.NgramLm.selfScore(docs).orderBy("doc_id")
    }),

    // Nearest-centroid classifier (Rocchio — the quality/domain-classifier
    // pipeline stage): centroids trained on the even-id docs' lang labels,
    // every doc scored by exact-integer cosine (DECIMAL(38,0) dots/norms,
    // one double division — bit-portable) against every centroid, argmax
    // with the label-asc tie-break. The oracle recomputes the identical
    // arithmetic, so a tokenization, count, or tie-break drift all break
    // the hash.
    "doc_quality_classifier" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "text")
      val labeled = d.filter(col("doc_id") % 2 === 0)
        .select(col("text"), col("lang").as("label"))
      graft.analysis.Classify.centroidClassify(
          d.select("doc_id", "text"), labeled)
        .orderBy("doc_id")
    }),

    // DSIR-style data selection (importance resampling toward a target
    // domain): every document scored under a target-domain LM (the `en`
    // docs) and the raw-corpus LM in ONE fused pass; importance = exact
    // integer difference of the fixed-point averages; deterministic
    // top-100 via the bounded TopK aggregator (importance desc, id asc).
    "doc_dsir_sample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      graft.analysis.NgramLm.dsirSelect(
        docs.select("doc_id", "text"),
        docs.filter(col("lang") === "en").select("doc_id", "text"),
        n = 100).orderBy("rank")
    }),

    // the LM-model APPEND path (4th appendable index family): count the
    // even doc_ids at build, fold the odd half in as delta installments,
    // compact, score everything — counts are delta-summable integers, so
    // score-after-append is BIT-identical to the one-shot model and the
    // oracle is the SAME whole-corpus LM SQL as doc_ngram_lm_score.
    "doc_lm_append" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_lm_app_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.analysis.NgramLm.lmIndexBuild(docs.filter(col("doc_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.analysis.NgramLm.lmIndexAppend(s, idxPath,
          docs.filter(col("doc_id") % 2 === 1))
      }
      Phases.timed("compact") {
        graft.analysis.NgramLm.lmIndexCompact(s, idxPath)
      }
      graft.analysis.NgramLm.lmScoreIndexed(s, idxPath, docs).orderBy("doc_id")
    }),

    // LM SNAPSHOT READ: two installments (even/odd halves), scored at
    // asOfInstallment = 0 — every count AND the total-token normalizer
    // must prune to the even half, so the oracle trains on
    // `WHERE doc_id % 2 = 0` while scoring ALL documents; a leaked odd
    // delta shifts the integer scores and hash-mismatches.
    "doc_lm_asof" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_lm_asof_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.analysis.NgramLm.lmIndexBuild(docs.filter(col("doc_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.analysis.NgramLm.lmIndexAppend(s, idxPath,
          docs.filter(col("doc_id") % 2 === 1))
      }
      graft.analysis.NgramLm.lmScoreIndexed(s, idxPath, docs,
        asOfInstallment = 0).orderBy("doc_id")
    }),

    // the LM DELETE path (content-addressed takedown): build over the
    // whole corpus, delete the doc_id % 7 == 0 docs by writing their
    // counts NEGATED as the next installment — no per-doc rows exist to
    // tombstone, so the delete is in the index's own currency. Scores
    // must be BIT-identical to a fresh build over corpus-minus-deleted
    // (the oracle trains on doc_id % 7 <> 0 while scoring everything).
    "doc_lm_tombstone" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_lm_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.analysis.NgramLm.lmIndexBuild(docs, idxPath)
      }
      Phases.timed("delete") {
        graft.analysis.NgramLm.lmIndexDelete(s, idxPath,
          docs.filter(col("doc_id") % 7 === 0))
      }
      graft.analysis.NgramLm.lmScoreIndexed(s, idxPath, docs).orderBy("doc_id")
    }),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the fixture is
    // given line structure deterministically (8-token chunks as lines,
    // 2 of 3 get terminal periods, plus injected code/lorem/javascript
    // lines on fixed id residues — all reproduced in the oracle), then
    // the famous line rules run: terminal punctuation + ≥3 words + no
    // "javascript"; page_kept folds in the <3-kept / curly-brace /
    // "lorem ipsum" page rules. clean_text hash-checks byte-for-byte.
    "doc_c4_clean" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val lines = graft.pipeline.Chunking.chunkByTokens(d, "doc_id", "text", 8, 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          concat(col("chunk_text"),
            when((col("doc_id") + col("chunk_idx")) % 3 === 0, lit(""))
              .otherwise(lit("."))).as("line"))
      val joinLines = udf { (ls: Seq[org.apache.spark.sql.Row]) =>
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i < ls.length) {
          if (i > 0) sb.append('\n'); sb.append(ls(i).getString(1)); i += 1
        }
        sb.toString
      }
      val built = lines.groupBy("doc_id")
        .agg(joinLines(array_sort(collect_list(
          struct(col("chunk_idx"), col("line"))))).as("t"))
        .withColumn("t", when(col("doc_id") % 13 === 0,
          concat(lit("function() { var x; }\n"), col("t"))).otherwise(col("t")))
        .withColumn("t", when(col("doc_id") % 17 === 0,
          concat(col("t"), lit("\nLorem ipsum dolor sit amet."))).otherwise(col("t")))
        .withColumn("t", when(col("doc_id") % 19 === 0,
          concat(col("t"), lit("\nclick javascript here now."))).otherwise(col("t")))
      graft.pipeline.CorpusClean.c4Clean(
        built.select(col("doc_id"), col("t").as("text")))
        .orderBy("doc_id")
    }),

    // the Gopher quality rule set (Rae et al. 2021 A1.1) — every
    // threshold integer-cross-multiplied, so the rule bits are exact.
    // Bullet and ellipsis lines are injected deterministically (the
    // fixture's random text has neither), exercising the line rules in
    // both engines identically.
    "doc_gopher_rules" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val t2 = when(col("doc_id") % 7 === 0,
          concat(lit("• promo\n• sale\n"), col("text")))
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit("\nread more...\nclick here...")))
        .otherwise(col("text"))
      d.select(col("doc_id"), TextMetrics.gopherRules(t2).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.r_wordcount").as("r_wordcount"),
          col("g.r_meanlen").as("r_meanlen"),
          col("g.r_symbol").as("r_symbol"),
          col("g.r_bullet").as("r_bullet"),
          col("g.r_ellipsis").as("r_ellipsis"),
          col("g.r_alpha").as("r_alpha"),
          col("g.r_stop").as("r_stop"),
          col("g.keep").as("keep"))
        .orderBy("doc_id")
    }),

    // per-language corpus stats (integer token/char sums — exact)
    "doc_token_stats" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("lang"),
        TextMetrics.tokenCountWs(col("text")).as("tws"),
        TextMetrics.tokenCountBpeish(col("text")).as("tbp"),
        length(col("text")).as("nc"))
        .groupBy("lang")
        .agg(sum(col("tws")).as("sum_tokens_ws"),
          sum(col("tbp")).as("sum_tokens_bpeish"),
          sum(col("nc")).as("sum_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // corpus vocabulary histogram (explode + count)
    "doc_token_histogram" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    }),

    // top-5 bigrams per language via the bounded string-label top-k
    // aggregator (partial agg ships ≤ k labels per group per task — never
    // a per-language window funnel over the full distinct-bigram set).
    // Tie-break is (count desc, bigram asc), portable to any engine.
    "doc_top_bigrams" -> ((s, dir) => {
      val bigrams = tbl(s, dir, "documents").select(col("lang"),
        explode(TextMetrics.wsBigramsUdf(col("text"))).as("bigram"))
      val counts = bigrams.groupBy("lang", "bigram")
        .agg(count(lit(1)).as("cnt"))
      graft.functions.TopK.topLabelsPerGroup(counts, "lang", "bigram", "cnt", 5)
        .select(col("lang"), col("bigram"),
          col("cnt").cast("long").as("cnt"), col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")
    }),

    // per-document character-class profile (all integers — exact oracle)
    "doc_charclass_stats" -> ((s, dir) => {
      val t = col("text")
      tbl(s, dir, "documents").select(
        col("doc_id"),
        length(t).as("n_chars_m"),
        (length(t) - length(regexp_replace(t, "[a-z0-9]", ""))).as("n_alnum"),
        (length(t) - length(regexp_replace(t, "\\s", ""))).as("n_space"),
        TextMetrics.tokenCountWs(t).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // language-ID heuristic + quality score + fingerprint (Scala kernels —
    // rows-only checks)
    "doc_langid" -> ((s, dir) => {
      val langIdUdf = udf((t: String) => TextMetrics.languageId(t))
      tbl(s, dir, "documents")
        .select(col("lang"), langIdUdf(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Trained char-n-gram language ID (r16): 16-language nearest-
    // centroid classification through Classify's integer-exact cosine
    // (LangId — Cavnar-Trenkle char 1-3 grams, DECIMAL(38,0) dots,
    // label-asc ties). The fixture assigns each doc a HELD-OUT
    // sentence (absent from the training centroids — generalization,
    // not memorization) by doc_id arithmetic, with digit noise the
    // letter filter must drop; the oracle is the true language by the
    // same arithmetic, so any gram/cosine/tie-break defect flips
    // labels and hash-mismatches.
    "doc_langid_trained" -> ((s, dir) => {
      import s.implicits._
      val held = LangIdHeldOut
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          (id, s"${held((id % 32).toInt)._2} ${id % 97}")
        }.toDF("doc_id", "text")
      graft.analysis.LangId.classify(docs)
        .orderBy("doc_id")
    }),

    // LangId CONFIDENCE (r17): classifyWithConfidence over a tiny
    // EXPLICIT corpus-trained model whose gram arithmetic is
    // hand-enumerable — docs are single-ASCII-letter word sequences,
    // so each letter expands to exactly 4 grams (c, _c, c_, _c_) and
    // every cosine is the letter-count cosine with a factor-4 inside
    // the integer sums; the margin (top1 − top2, 0 runner-up when only
    // one class scores, NULL on heuristic fallback) replays in DuckDB
    // with the same HUGEINT sums and double op sequence — the
    // doc_quality_classifier pattern extended to the confidence path.
    "doc_langid_margin" -> ((s, dir) => {
      import s.implicits._
      val grams = udf((t: String) => graft.analysis.LangId.charGramsText(t))
      val model = graft.analysis.Classify.centroidTrain(
        Seq(("aa", "a a b"), ("bb", "b b c"), ("cc", "c c a"))
          .toDF("label", "ltext")
          .select(col("label"), grams(col("ltext")).as("gtext")),
        "gtext", "label")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val text = (id % 4) match {
            case 0 => "a a a b" // strongly aa
            case 1 => "b b c"   // exactly the bb centroid
            case 2 => "a b c"   // near-ambiguous: small margin
            case _ => "z z"     // no centroid overlap: heuristic, NULL
          }
          (id, text)
        }.toDF("doc_id", "text")
      graft.analysis.LangId.classifyWithConfidence(docs, model = model)
        .orderBy("doc_id")
    }),

    // Confidence-GATED mixing (r17): low-margin docs route to the
    // 'und' fallback stratum instead of taking a hard language label,
    // and the temperature mix samples on the ROUTED label — the
    // production shape for short/ambiguous docs at 100 TB. The tiny
    // explicit model makes every margin SQL-replayable (the
    // doc_langid_margin fixture), so the τ=0.25 routing decision
    // ITSELF is oracle-gated (arm margins 0.57/0.60/0.0/NULL straddle
    // it), and the stratum thresholds replay doc_temperature_mix's
    // exact arithmetic over the routed labels.
    "doc_mix_langid_conf" -> ((s, dir) => {
      import s.implicits._
      val grams = udf((t: String) => graft.analysis.LangId.charGramsText(t))
      val model = graft.analysis.Classify.centroidTrain(
        Seq(("aa", "a a b"), ("bb", "b b c"), ("cc", "c c a"))
          .toDF("label", "ltext")
          .select(col("label"), grams(col("ltext")).as("gtext")),
        "gtext", "label")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val text = (id % 4) match {
            case 0 => "a a a b"
            case 1 => "b b c"
            case 2 => "a b c"
            case _ => "z z"
          }
          (id, text)
        }.toDF("doc_id", "text")
      val routed = graft.analysis.LangId
        .classifyWithConfidence(docs, model = model)
        .select(col("doc_id"),
          when(col("confidence").isNull || col("confidence") < 0.25,
            lit("und")).otherwise(col("lang")).as("lang"))
      Sampling.temperatureMixSqrt(routed, "lang", "doc_id",
        targetRows = 250)
        .orderBy("doc_id")
    }),

    // The mix stratifiers re-keyed on the TRAINED classifier's output
    // (the r15 VERDICT's composition suggestion): docs get a held-out
    // sentence with a SKEWED language assignment (id%3==0 folds onto
    // the first four languages, so strata sizes differ and the α=0.5
    // temperature actually reweights), LangId.classify predicts the
    // language, and temperatureMixSqrt samples ON THE PREDICTION — a
    // single mislabel flips that doc's stratum threshold and
    // hash-mismatches the sampled row set.
    "doc_mix_langid" -> ((s, dir) => {
      import s.implicits._
      val held = LangIdHeldOut
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val idx = if (id % 3 == 0) (id % 4).toInt else (id % 16).toInt
          (id, s"${held(idx)._2} ${id % 97}")
        }.toDF("doc_id", "text")
      Sampling.temperatureMixSqrt(
        graft.analysis.LangId.classify(docs).select(col("doc_id"),
          col("lang")),
        "lang", "doc_id", targetRows = 250)
        .orderBy("doc_id")
    }),

    "doc_quality" -> ((s, dir) => {
      TextMetrics.profile(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("m_quality"), col("m_stopword_ratio"),
          col("m_punct_ratio"), col("m_tokens_ws"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: word-level duplicate fraction
    // (codegen HOF) + most-frequent-2-gram share (tight UDF pass). Both
    // are exact integer ratios, so the DuckDB oracle compares bit-equal.
    "doc_repetition" -> ((s, dir) => {
      val topBigram = udf((t: String) => TextMetrics.topBigramFraction(t))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.dupWordFraction(col("text")).as("dupword_frac"),
          topBigram(col("text")).as("top2gram_frac"))
        .orderBy("doc_id")
    }),

    // the remaining Gopher repetition signal: fraction of n-gram-
    // occurrence characters covered by n-grams appearing >= 2 times
    // (n = 2 and 3), over documents ∪ a doubled-text variant whose
    // fraction approaches 1 — so the metric's full range is exercised.
    // Integer char sums + one final division: bit-equal in DuckDB.
    "doc_dup_ngram_chars" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val doubled = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", col("text"), col("text")).as("text"))
      d.unionByName(doubled)
        .select(col("doc_id"),
          TextMetrics.dupNgramCharFractionUdf(2)(col("text")).as("dup2_frac"),
          TextMetrics.dupNgramCharFractionUdf(3)(col("text")).as("dup3_frac"))
        .orderBy("doc_id")
    }),

    // BM25 lexical top-k (log-free RSJ idf — every op correctly-rounded
    // IEEE arithmetic, k1/b exact binary fractions, decimal-summed term
    // scores): queries are the first 5 normalized tokens of three fixture
    // docs, so each query's own doc must rank (usually first) and the
    // whole ranking is hash-comparable bit-for-bit.
    "doc_bm25_topk" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val q = d.filter(col("doc_id").isin(3L, 77L, 201L))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(graft.dedup.Dedup.normalized(col("text")), " "),
            1, 5), " ").as("qtext"))
      // persisted-index path (build once, search many — the emb_topk_ivf
      // precedent): postings/terms/stats written to a fresh temp dir
      val idxDir = java.nio.file.Files.createTempDirectory("graft_bm25_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      graft.index.Bm25.bm25IndexBuild(d, idxPath)
      graft.index.Bm25.bm25SearchIndexed(s, idxPath, q, k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // the BM25 APPEND path: index the even doc_ids at build, fold the odd
    // half in with bm25IndexAppend (df/N/avgdl resolved as sums of
    // per-installment integer deltas — stored installments never re-read),
    // then compact the deltas and search. Scores must be BIT-identical to
    // the one-shot index, so the oracle is the SAME whole-corpus BM25 SQL
    // as doc_bm25_topk.
    "doc_bm25_append" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val q = d.filter(col("doc_id").isin(3L, 77L, 201L))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(graft.dedup.Dedup.normalized(col("text")), " "),
            1, 5), " ").as("qtext"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_bm25_app_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Bm25.bm25IndexBuild(d.filter(col("doc_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Bm25.bm25IndexAppend(s, idxPath, d.filter(col("doc_id") % 2 === 1))
      }
      Phases.timed("compact") {
        graft.index.Bm25.bm25IndexCompact(s, idxPath)
      }
      graft.index.Bm25.bm25SearchIndexed(s, idxPath, q, k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // BM25 SNAPSHOT READ: two installments (even/odd doc ids), searched
    // at asOfInstallment = 0 — the delta-summed stats AND the postings
    // must both prune to the even half, so N/avgdl/df and every score
    // are those of an even-only corpus. The oracle recomputes BM25 over
    // `WHERE doc_id % 2 = 0`; leaked odd postings (or stats deltas)
    // shift scores and hash-mismatch.
    "doc_bm25_asof" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val q = d.filter(col("doc_id").isin(3L, 77L, 201L))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(graft.dedup.Dedup.normalized(col("text")), " "),
            1, 5), " ").as("qtext"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_bm25_asof_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Bm25.bm25IndexBuild(d.filter(col("doc_id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.index.Bm25.bm25IndexAppend(s, idxPath, d.filter(col("doc_id") % 2 === 1))
      }
      graft.index.Bm25.bm25SearchIndexed(s, idxPath, q, k = 10,
        asOfInstallment = 0)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // the BM25 DELETE path (takedown lifecycle): build over the whole
    // corpus, tombstone the doc_id % 7 == 0 docs — one id-list append
    // plus NEGATIVE df/N/dl deltas derived from the deleted docs' own
    // stored postings — then search. Because every global statistic is a
    // sum of integer deltas, scores must be BIT-identical to a fresh
    // build over corpus-minus-deleted (the oracle restricts the indexed
    // side to doc_id % 7 <> 0; queries still come from the full table —
    // query 77's text queries on, but its self-hit must vanish, which
    // makes a tombstone leak unmissable at rank 1).
    "doc_bm25_tombstone" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text")
      val q = d.filter(col("doc_id").isin(3L, 77L, 201L))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(graft.dedup.Dedup.normalized(col("text")), " "),
            1, 5), " ").as("qtext"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_bm25_del_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.index.Bm25.bm25IndexBuild(d, idxPath)
      }
      Phases.timed("delete") {
        graft.index.Bm25.bm25IndexDelete(s, idxPath,
          d.filter(col("doc_id") % 7 === 0).select("doc_id"))
      }
      graft.index.Bm25.bm25SearchIndexed(s, idxPath, q, k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking with a
    // static length prior (global top-10 by n_chars, attached to every
    // query via explode — no cross join). Ranks are integers and each
    // contribution is one correctly-rounded division, so the fused
    // ranking hash-matches bit-for-bit.
    "doc_hybrid_rrf" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select("doc_id", "text", "n_chars")
      val q = d.filter(col("doc_id").isin(3L, 77L, 201L))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(graft.dedup.Dedup.normalized(col("text")), " "),
            1, 5), " ").as("qtext"))
      val bm25 = graft.index.Bm25.bm25TopK(d.select("doc_id", "text"), q, k = 10)
      val prior = graft.functions.TopK.topKPerGroup(
        d.select(lit(0).as("g"), col("doc_id"),
          col("n_chars").cast("double").as("score")),
        "g", "doc_id", "score", 10)
        .withColumn("query_id", explode(array(lit(3L), lit(77L), lit(201L))))
        .select("query_id", "doc_id", "rank")
      graft.functions.RankFusion.rrf(Seq(bm25, prior), k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "doc_fingerprints" -> ((s, dir) => {
      val fp = udf((t: String) => TextMetrics.rollingFingerprint(t))
      tbl(s, dir, "documents")
        .select(col("doc_id"), fp(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // winnowing-style fingerprint: min-md5 over the doc's word-4-shingle
    // set — portable across engines, so fully oracle-checked
    "doc_winnow_fingerprints" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          array_min(transform(Dedup.shinglesUdf(4)(col("text")),
            sh => md5(sh))).as("winnow_fp"))
        .orderBy("doc_id")
    }),

    // token classification (≙ reference IsNumberToken, StringAnalyzer.cs:
    // 414-429, restricted to the Java∩RE2 regex subset)
    "q_token_classes" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .select(when(col("token").rlike("^[0-9]+$"), "int")
          .when(col("token").rlike("^[0-9]*\\.[0-9]+$"), "dec")
          .when(col("token").rlike("^[a-z]+$"), "word")
          .otherwise("other").as("cls"))
        .groupBy("cls").agg(count(lit(1)).as("n"))
        .orderBy("cls")
    }),

    // pure SQL text through spark.sql (TPC-H Q6 shape) — the engine's SQL
    // dialect surface over registered views
    "q6_forecast_revenue" -> ((s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT
          |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
          |    AS DOUBLE) AS revenue,
          |  count(*) AS n
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount BETWEEN 0.03 AND 0.07
          |  AND l_quantity < 24""".stripMargin)
    }),

    // SQL surface of the native Catalyst cosine_similarity expression
    // (registered via GraftExtensions / SparkSessionExtensions): per-row
    // cosine in pure SQL text, decimal-quantized so the double sum is
    // order-independent and engine-comparable
    "q_sql_cosine" -> ((s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT
          |  CAST(sum(CAST(cosine_similarity(
          |    array(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE),
          |          CAST(1.0 AS DOUBLE)),
          |    array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE),
          |          CAST(3.0 AS DOUBLE))) AS DECIMAL(18,9))) AS DOUBLE)
          |    AS sum_cos,
          |  count(*) AS n
          |FROM lineitem""".stripMargin)
    }),

    // unicode codepoint range over the corpus (≙ FindUnicodeRange,
    // StringAnalyzer.cs:714-743)
    "q_unicode_range" -> ((s, dir) => {
      val cps = transform(
        filter(split(col("text"), ""), s => s =!= ""), c => ascii(c))
      tbl(s, dir, "documents")
        .select(array_min(cps).as("dmin"), array_max(cps).as("dmax"))
        .agg(min(col("dmin")).as("min_cp"), max(col("dmax")).as("max_cp"))
    }),

    // the composed corpus-cleaning pipeline (language filter → quality
    // filter → normalized dedup) — every stage individually oracled above,
    // the composition oracled here
    "doc_clean_pipeline" -> ((s, dir) => {
      graft.pipeline.CorpusClean
        .clean(tbl(s, dir, "documents"), minQuality = 0.5,
          keepLangs = Seq("en", "de"))
        .select(col("doc_id"), col("pred_lang"), col("m_quality"))
        .orderBy("doc_id")
    }),

    // deterministic weighted corpus mixing (RNG-free Knuth-hash sampling —
    // reproducible across engines/retries, so the sampled rows themselves
    // are oracle-checkable, not just their count)
    // PII scrubbing: per-type counts + redacted text (hashed to keep the
    // dump compact while still checking every redacted byte). PII is
    // synthesized deterministically onto every 7th doc so both engines
    // scrub the same fixture; the patterns are the RE2/Java-shared subset,
    // so the oracle runs them verbatim.
    "doc_pii_scrub" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val withPii = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.42 ssn 123-45-6789 call +44 207 946 0958")))
          .otherwise(col("text")).as("text"))
      graft.pipeline.Scrub.scrub(withPii, "doc_id", "text")
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"),
          md5(col("redacted")).as("redacted_hash"))
        .orderBy("doc_id")
    }),

    // URL blocklist filter: hosts expand into their bounded dot-suffix
    // chains and broadcast-equi-join the blocklist (exact domain or any
    // subdomain blocks), never a LIKE nested-loop. URLs are synthesized
    // deterministically so both engines see the same fixture; the oracle
    // brute-forces the suffix match with LIKE, which is fine at sf0.01.
    "doc_url_filter" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val withUrls = docs.select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" see https://sub"),
            (col("doc_id") % 5).cast("string"),
            lit(".badsite.com/p?x=1 and http://ok.example.org/about")))
          .when(col("doc_id") % 13 === 0,
            concat(col("text"),
              lit(" ref http://cdn.tracker.io and https://example.com")))
          // evasion shapes the host regex must still catch: uppercase
          // scheme and a userinfo prefix before the real host
          .when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" go HTTPS://u@badsite.com/x")))
          .otherwise(col("text")).as("text"))
      val blocklist = Seq("badsite.com", "tracker.io").toDF("domain")
      graft.pipeline.UrlFilter
        .flagBlockedDomains(withUrls, "doc_id", "text", blocklist, "domain")
        .select(col("doc_id"),
          regexp_count(col("text"), lit("https?://[A-Za-z0-9.-]+"))
            .cast("long").as("n_urls"),
          col("blocked"))
        .orderBy("doc_id")
    }),

    // per-host statistics (the CCNet/RefinedWeb host-granularity view):
    // deterministic synthesized urls — mixed case (host lowercases), an
    // explicit :443 port (excluded from the host), and a non-URL arm
    // (hostless rows must not count). Exact BIGINT doc counts and signal
    // sums per host.
    "doc_host_stats" -> ((s, dir) => {
      val withUrl = tbl(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        when(col("doc_id") % 17 === 0, lit("not a url"))
          .otherwise(concat(lit("https://Host"),
            (col("doc_id") % 7).cast("string"),
            lit(".Example.com:443/p/"), col("doc_id").cast("string")))
          .as("url"))
      graft.pipeline.UrlFilter.hostStats(withUrl, "url", "doc_id",
          Seq("n_chars"))
        .orderBy("host")
    }),

    // host-graph PageRank (the Common-Crawl-style host authority prior):
    // a deterministic ASYMMETRIC link graph synthesized from documents —
    // src host = doc_id mod 7, dst range varies per src (modulus 1 + src
    // mod 4), so out-degrees run 1..4, h0 is everyone's sink, self-loops
    // occur, and the three fixed-point rounds produce genuinely distinct
    // ranks. The oracle unrolls the identical integer rounds, so the
    // damping arithmetic, truncating divisions, dangling handling, and
    // edge dedup all hash-check bit-for-bit.
    "q_host_pagerank" -> ((s, dir) => {
      val edges = tbl(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 7).cast("string")).as("src"),
        concat(lit("h"), (expr("doc_id div 7") %
          (lit(1) + (col("doc_id") % 7) % 4)).cast("string")).as("dst"))
      graft.operators.PageRank.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("id")
    }),

    // the authority signal USED for curation: rank the host graph, then
    // keep documents whose host clears a rank floor (hostless docs keep —
    // no evidence against them). Same integer arithmetic end-to-end, so
    // the composed decision hash-checks bit-for-bit.
    "doc_pagerank_filter" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 17 === 0, lit("no url here"))
          .otherwise(concat(lit("https://h"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string")))
          .as("url"))
      val edges = tbl(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 7).cast("string"),
          lit(".example.com")).as("src"),
        concat(lit("h"), (expr("doc_id div 7") %
          (lit(1) + (col("doc_id") % 7) % 4)).cast("string"),
          lit(".example.com")).as("dst"))
      val ranks = graft.operators.PageRank.pageRank(edges, "src", "dst",
        iters = 3).withColumnRenamed("id", "host")
      d.withColumn("host", graft.pipeline.UrlFilter.hostOf(col("url")))
        .join(broadcast(ranks), Seq("host"), "left")
        .select(col("doc_id"), col("rank_fp"),
          (col("host").isNull || col("rank_fp") >= lit(50000000000L))
            .as("kept"))
        .orderBy("doc_id")
    }),

    // per-host document cap: at most 40 docs per host, kept by the
    // smallest Knuth-hash coordinates (the quota-sample rule — uniform
    // within the host, not first-k-by-id), ranked through the bounded
    // TopK aggregator. Same url synthesis as doc_host_stats.
    "doc_host_cap" -> ((s, dir) => {
      val withUrl = tbl(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 17 === 0, lit("not a url"))
          .otherwise(concat(lit("https://Host"),
            (col("doc_id") % 7).cast("string"),
            lit(".Example.com:443/p/"), col("doc_id").cast("string")))
          .as("url"))
      graft.pipeline.UrlFilter.capPerHost(withUrl, "url", "doc_id", k = 40)
        .select(col("host"), col("doc_id"), col("rank").cast("long").as("rank"))
        .orderBy("host", "rank")
    }),

    // per-host TOKEN cap (the token-granular form of doc_host_cap —
    // hosts are capped the way mixes are measured, in tokens): uniform
    // 1200-token budget per host via tokenBudgetCap, hostless rows
    // excluded like capPerHost. ~3900 tokens/host at sf0.01, so the cap
    // bites every host. Same url synthesis as doc_host_stats.
    "doc_host_token_cap" -> ((s, dir) => {
      val withUrl = tbl(s, dir, "documents").select(
        col("doc_id"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tok"),
        when(col("doc_id") % 17 === 0, lit("not a url"))
          .otherwise(concat(lit("https://Host"),
            (col("doc_id") % 7).cast("string"),
            lit(".Example.com:443/p/"), col("doc_id").cast("string")))
          .as("url"))
      val hosted = withUrl
        .withColumn("host", graft.pipeline.UrlFilter.hostOf(col("url")))
        .filter(col("host").isNotNull)
      graft.pipeline.Sampling.tokenBudgetCap(hosted, "host", "doc_id",
          "n_tok", budget = 1200L)
        .select(col("host"), col("doc_id"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // score-percentile curation (the FineWeb-Edu shape): per language,
    // keep the best 30% by score — here the LONGEST docs (score =
    // negated ws-token count; ties by doc_id). Quotas derive from exact
    // basis-point integer arithmetic; the rank is the shared-shuffle
    // unit cumsum, never a per-language window.
    "doc_quality_select" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tok"))
      graft.pipeline.Sampling.topFractionPerStratum(
          d.withColumn("neg_tok", negate(col("n_tok"))),
          "lang", "doc_id", "neg_tok", fracBp = 3000)
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // curriculum training order: long documents (>= 50 ws-tokens) form
    // stage 0, the rest stage 1; within each stage the order is the
    // deterministic hash-coordinate shuffle. One two-phase range rank on
    // (stage, coord, id) — the oracle replays the identical arithmetic
    // with a window row_number.
    "doc_curriculum_order" -> ((s, dir) => {
      val staged = tbl(s, dir, "documents").select(col("doc_id"),
        when(TextMetrics.tokenCountWs(col("text")) >= 50, 0L).otherwise(1L)
          .as("stage"))
      graft.pipeline.Sampling.curriculumOrder(staged, "doc_id", "stage")
        .select(col("doc_id"), col("stage"), col("pos"))
        .orderBy("doc_id")
    }),

    // per-source epoch repetition (the "repeat the good sources" mix):
    // en 1 epoch, de 2.5 (every de doc twice, a deterministic half a
    // third time), fr 0.5 (a deterministic half once), zh 0 / es absent
    // (dropped). Map-side broadcast join + tiny-sequence explode; the
    // oracle replays reps with the same integer threshold arithmetic.
    "doc_epoch_repeat" -> ((s, dir) => {
      graft.pipeline.Sampling.repeatByEpochs(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id",
          Map("en" -> 1.0, "de" -> 2.5, "fr" -> 0.5, "zh" -> 0.0))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    "doc_sample_mix" -> ((s, dir) => {
      graft.pipeline.Sampling.mixByWeights(tbl(s, dir, "documents"),
        "lang", "doc_id", Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // deterministic train/validation split — complement partitions of the
    // same hash coordinate (train ∪ val == corpus, train ∩ val == ∅)
    "doc_train_val_split" -> ((s, dir) => {
      val (train, valSet) = graft.pipeline.Sampling
        .trainValSplit(tbl(s, dir, "documents"), "doc_id", 0.2)
      train.select(lit("train").as("split"), col("doc_id"))
        .unionByName(valSet.select(lit("val").as("split"), col("doc_id")))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // sequence packing: concat-then-chunk token-budget bins over sharded
    // per-language streams — the window partitions by (lang, shard), never
    // globally, so no task funnels the corpus
    // RAG-style chunking: overlapping 64-token windows advancing by 48,
    // pure explode (no shuffle). Chunk text hashed so the dump checks
    // every chunk byte while staying compact.
    "doc_chunks" -> ((s, dir) => {
      graft.pipeline.Chunking
        .chunkByTokens(tbl(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", windowSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // chunk-level (paragraph) dedup: disjoint 32-token windows hashed and
    // grouped corpus-wide — the RefinedWeb-style "drop repeated boilerplate
    // paragraphs across documents" step, composing Chunking with the exact
    // dedup shape. Output: every chunk text shared by >1 (doc, idx) site.
    "doc_chunk_dedup" -> ((s, dir) => {
      val chunks = graft.pipeline.Chunking
        .chunkByTokens(tbl(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", windowSize = 32, stride = 32)
        .filter(col("n_chunk_tokens") > 0)
      Dedup.exactGroups(chunks, "chunk_text", "doc_id")
        .filter(col("n_copies") > 1)
        .select(col("content_hash").as("chunk_hash"),
          col("n_copies").as("n_sites"), col("keep_id").as("first_doc"))
        .orderBy("chunk_hash")
    }),

    // exact k-per-stratum quota sample: rank docs within each language by
    // the Knuth-hash coordinate and keep the 50 smallest — deterministic
    // like all Sampling coordinates, but with an EXACT per-stratum count
    // (hashSample's Bernoulli fractions only hit quotas in expectation).
    // Bounded TopK partial agg: ≤ k rows per stratum per task, no window
    // funnel over the stratum.
    "doc_quota_sample" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("lang"), col("doc_id"),
        negate(graft.pipeline.Sampling.hashCoord(col("doc_id")).cast("double"))
          .as("neg_coord"))
      graft.functions.TopK.topKPerGroup(scored, "lang", "doc_id", "neg_coord", 50)
        .select(col("lang"), col("doc_id"), col("rank").cast("long").as("rank"))
        .orderBy("lang", "rank")
    }),

    // token-budget selection: realize a tokens-per-source mix spec —
    // per language, take docs in hash-coordinate order while the
    // inclusive running token sum stays within the language's budget
    // (en/de/fr budgeted below their sf0.01 totals so the cut bites;
    // es/zh unbudgeted → dropped). One range shuffle + shared-shuffle
    // cumsum; the per-stratum offset is a strata-sized broadcast — no
    // per-language window funnel.
    "doc_token_budget_select" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tok"))
      graft.pipeline.Sampling.tokenBudgetSelect(d, "lang", "doc_id", "n_tok",
          Map("en" -> 5000L, "de" -> 1500L, "fr" -> 2000L))
        .select(col("doc_id"), col("lang"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // sharded-export assignment: the global-shuffle rank chopped into
    // 64-row shards (shard = pos div 64, pos_in_shard = pos mod 64) — the
    // training-reader layout, reproducible bit-for-bit from the same
    // integer arithmetic the oracle replays
    "doc_shard_assign" -> ((s, dir) => {
      graft.pipeline.Export.assignShards(
          tbl(s, dir, "documents").select("doc_id"), "doc_id",
          rowsPerShard = 64L)
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
        .orderBy("doc_id")
    }),

    // deterministic global shuffle: rank by (knuth-hash coordinate, id) via
    // the range-partitioned two-phase rank — the training-order permutation,
    // reproducible across engines/retries, no global window funnel
    "doc_global_shuffle" -> ((s, dir) => {
      graft.pipeline.Sampling
        .globalShuffleOrder(tbl(s, dir, "documents").select("doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    "doc_pack_bins" -> ((s, dir) => {
      val withTokens = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.Packing.packByTokenBudget(withTokens,
        "doc_id", "n_tokens", "lang", tokenBudget = 512, nShards = 4)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("shard"), col("bin"))
        .orderBy("doc_id")
    }),

    // SEGMENT-THEN-PACK (the whale fix): oversized documents split into
    // ≤48-token segments — stable (doc_id, seg_idx) identity, seg_key =
    // doc_id·2^20 + seg_idx preserving (doc, position) order — and the
    // SEGMENTS pack into 512-token bins. Without this, packByTokenBudget
    // isolates a 5000-token doc into its own 10×-over-budget bin; with
    // it, no bin can exceed budget by more than one straddling segment.
    // Segment text is md5'd, so the split is byte-exact, and the bin
    // assignment replays the same window cumsum in SQL.
    "doc_pack_segments" -> ((s, dir) => {
      val segs = graft.pipeline.Chunking.segmentByTokens(
        tbl(s, dir, "documents").select("doc_id", "lang", "text"),
        "doc_id", "text", maxTokens = 48)
      graft.pipeline.Packing.packByTokenBudget(segs, "seg_key",
          "n_seg_tokens", "lang", tokenBudget = 512, nShards = 4)
        .select(col("seg_key"), col("doc_id"), col("seg_idx"), col("lang"),
          col("n_seg_tokens"), col("shard"), col("bin"),
          md5(col("text")).as("seg_hash"))
        .orderBy("seg_key")
    }),

    // the packing LAST MILE: each (lang, shard, bin) materialized as one
    // training row — members concatenated in key order with the \n\n
    // document separator. The assembled text hash-checks byte-for-byte,
    // so concat order, separators, and bin membership are all pinned;
    // aggregation state is bin-bounded (≤ budget + one straddler), never
    // stratum-sized
    "doc_pack_assemble" -> ((s, dir) => {
      val withTokens = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("text"),
        TextMetrics.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.Packing.assemblePacked(withTokens, "doc_id", "text",
        "n_tokens", "lang", tokenBudget = 512, nShards = 4)
        .orderBy("lang", "shard", "bin")
    }),

    // benchmark decontamination: training docs sharing >=1 distinct word
    // 5-gram with a held-out eval set (here: every 97th doc), with the
    // evidence count. The benchmark gram set broadcasts; the corpus side
    // streams through a map-side semi-join — no corpus shuffle.
    "doc_decontaminate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 97 === 0).select("text")
      graft.pipeline.Decontaminate
        .contaminationHits(docs, "doc_id", "text", bench, n = 5)
        .orderBy("doc_id")
    }),

    // bloom-prefiltered decontamination: EXACT same surviving set as the
    // broadcast path (the sketch only prunes; an exact confirm join kills
    // false positives), but the corpus gram stream is filtered map-side by
    // a ~1.2 GB-per-10⁹-grams broadcast sketch instead of joining a full
    // gram relation — the shape for benchmark sets too big to hash-broadcast
    "doc_decontaminate_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "text", "lang")
      val bench = docs.filter(col("doc_id") % 97 === 0).select("text")
      graft.pipeline.Decontaminate
        .decontaminateBloom(docs, "doc_id", "text", bench, n = 5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ==================================================================
    // Lexicon validate (reference flagship #2) + graph closest-match
    // ==================================================================
    // build + validate round-trip: report as a single row (rows-only check;
    // worst-token column excluded — min_by ties are nondeterministic).
    // The corpus is tokenized ONCE: the persisted token Dataset feeds both
    // the lexicon build and the validate join.
    "lexicon_validate" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val tokens = Lexicon.tokenize(docs, "text").persist()
      val lex = Lexicon.buildFromTokens(tokens).toDF()
      // validateTokens collects its one aggregate row — the persist's
      // terminal action — so the token cache releases before returning
      val r = Lexicon.validateTokens(tokens, lex)
      tokens.unpersist()
      Seq((r.ok, r.totalTokens, r.missing, r.collisions, r.minMutualAngle))
        .toDF("ok", "total_tokens", "missing", "collisions", "min_mutual")
    }),

    // bag-of-words closest match (≙ GraphService.Search, G1–G9): first 8
    // docs queried against the whole corpus — each finds itself at score 1.
    // Runs the hashed-dimension single-pass path (spec-proven equivalent to
    // the vocabulary path — integer counts make the score doubles
    // bit-identical) and the ids-only output, so no vocabulary fit jobs and
    // no dead sentence joins execute. The hot-dimension guard runs ON
    // (maxDocFreq = 1000) and the oracle SQL reproduces the same prune
    // (rare-dim candidates ∪ identical-multiset twins, exact re-score), so
    // the driver exercises and hash-checks the guarded code path — the one
    // that runs at 100 TB.
    "graph_closest_match" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id").as("id"), Dedup.normalized(col("text")).as("sentence"))
      SimilarityIndex.closestMatchHashedIds(docs, docs.filter(col("id") < 8),
        "id", "sentence", " ", maxDocFreq = 1000)
        .orderBy("query_id")
    }),

    // ==================================================================
    // Multimodal plumbing (binary payload + typed metadata; decode stubbed)
    // ==================================================================
    // media features through the REAL decode path: the synthetic
    // payloads are genuine P6 PPM / concatenated-P6 / RIFF-PCM WAV
    // bytes, parsed by dependency-free format decoders; the oracle
    // recomputes mean luma and the first/last histogram bins from the
    // deterministic fixture-stream formula, so a decoder that misparses
    // a header, frame boundary, or sample hash-mismatches immediately
    "media_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(tbl(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("id"), col("media_type"), col("byte_len"),
          col("mean_luma"),
          element_at(col("histogram"), 1).as("h_first"),
          element_at(col("histogram"), 16).as("h_last"))
        .orderBy("id")
    }),

    // GIF features through the REAL LZW + block-grammar decode path:
    // genuine GIF89a payloads (gray palette, single-frame images and
    // multi-frame animations, half of them INTERLACED) — the oracle
    // recomputes mean luma, the first/last histogram bins, and the frame
    // count from the fixture formula, so an LZW, deinterlace, palette, or
    // frame-boundary regression hash-mismatches immediately
    "media_gif_features" -> ((s, dir) => {
      // ONE decode pass for features AND the frame count (r16 — the
      // old extractFeatures + stride-1 sampleFrames pairing decoded
      // every GIF twice; for animations the LZW decode IS the cost)
      Multimodal.extractFeaturesWithFrames(Multimodal.syntheticGifMedia(
          tbl(s, dir, "documents"), "doc_id", "text")).toDF()
        .select(col("id"), col("media_type"), col("byte_len"),
          col("mean_luma"),
          element_at(col("histogram"), 1).as("h_first"),
          element_at(col("histogram"), 16).as("h_last"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy("id")
    }),

    // WebDataset TAR shards through the REAL ustar parser: documents
    // pack into tar shards (txt + json members per sample, a genuine
    // PNG member for every third doc; odd shards whole-file gzip), then
    // explode back into samples via the contiguous-key grouping. The
    // oracle recomputes member count, text md5, and the PNG's exact
    // dimensions and mean luma from the fixture formula — a header,
    // checksum, padding, grouping, or codec regression hash-mismatches.
    "webdataset_ingest" -> ((s, dir) => {
      import s.implicits._
      val shards = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("rs"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (g, rs) =>
          val entries = rs.flatMap { case (id, text) =>
            val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val base = Seq(
              (s"$id.txt", tb),
              (s"$id.json",
                s"""{"id":$id}""".getBytes(
                  java.nio.charset.StandardCharsets.US_ASCII)))
            if (id % 3 == 0) {
              val w = 16 + (id % 16).toInt
              val h = 16 + (id % 8).toInt
              base :+ ((s"$id.png", Multimodal.encodePng(w, h,
                Multimodal.fixtureStream(tb, w * h * 3))))
            } else base
          }
          (g, graft.sources.WebDataset.encodeTar(entries, gzip = g % 2 == 1))
        }.toDF("g", "payload")
      graft.sources.WebDataset.webdatasetSamples(shards).map { smp =>
        val id = smp.key.toLong
        val (iw, luma) = smp.parts.get("png") match {
          case Some(b) => Multimodal.decodeFirstFrame(b) match {
            case Some((w, _, px)) =>
              var sum = 0L
              var i = 0
              while (i < px.length) { sum += px(i) & 0xFF; i += 1 }
              (w, sum.toDouble / px.length)
            case None => (-1, -1.0)
          }
          case None => (-1, -1.0)
        }
        (id, smp.parts.size, smp.parts("txt"), iw, luma)
      }.toDF("doc_id", "n_parts", "txt", "img_w", "img_luma")
        .select(col("doc_id"), col("n_parts"),
          md5(col("txt")).as("txt_md5"), col("img_w"), col("img_luma"))
        .orderBy("doc_id")
    }),

    // WET-style HTML->text extraction through the REAL state-machine
    // kernel: every document wraps in a deterministic HTML template
    // (title/h1/p/div blocks, a script with "</div>" and "1 < 2" traps,
    // a style block, a comment with fake tags, escaped text, numeric
    // entities), then extracts back. The expected text rebuilds in SQL —
    // escape+decode cancel and HTML whitespace collapse is \s+ -> ' ' —
    // so md5/line/char counts are byte-exact across engines.
    "html_extract" -> ((s, dir) => {
      import s.implicits._
      val html = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val esc = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          (id,
            s"""<!DOCTYPE html><html><head><title>Doc $id</title>
               |<style>body { color: #fff; } /* <p>not text</p> */</style>
               |<script type="text/javascript">if (1 < 2) { var s = "</div>"; }</script>
               |</head><body>
               |<!-- comment <p>fake</p> -->
               |<h1>&#68;oc $id</h1>
               |<p>$esc</p>
               |<div>footer &#169; 2026</div>
               |</body></html>""".stripMargin)
        }.toDF("doc_id", "html")
      html.select(col("doc_id"),
          graft.pipeline.HtmlText.htmlToTextCol(col("html")).as("extracted"))
        .select(col("doc_id"),
          md5(col("extracted")).as("text_md5"),
          size(split(col("extracted"), "\n", -1)).cast("long").as("n_lines"),
          length(col("extracted")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Crawl frontier: anchor-href extraction (the HtmlText.LinkPattern
    // kernel -- O(n) scan, regex-equivalent semantics, both quote
    // forms) -> RFC 3986 resolution against the page url -> normalize
    // -> anti-join against the already-crawled url set -> per-target
    // reference counts. The fixture arms cover every transform (see
    // crawlFixturePages); the oracle rebuilds each arm's
    // RESOLVED+NORMALIZED url from the same doc_id arithmetic -- any
    // extraction, resolution, dot-segment, normalization or anti-join
    // defect hash-mismatches.
    "crawl_frontier" -> ((s, dir) => {
      val pages = crawlFixtureLinkPages(s, dir)
      graft.pipeline.Crawl.frontier(pages, pages.select(col("url")))
        .select(col("url"),
          regexp_extract(col("url"), "^https?://([^/]*)", 1).as("host"),
          col("n_refs"))
        .orderBy("url")
    }),

    // The 100 TB frontier shape: a Bloom filter over the crawled set
    // routes definitely-fresh links past the anti-join and broadcasts
    // only the maybe-trickle against the crawled side (map-side, never
    // shuffled) -- EXACTLY the frontier's output (a Bloom has no false
    // negatives; false positives are rescued by the exact join), so the
    // oracle is crawl_frontier's SQL verbatim. fpp 0.2 on purpose: a
    // 500-row fixture at 1% would exercise zero false positives.
    "crawl_frontier_bloom" -> ((s, dir) => {
      val pages = crawlFixtureLinkPages(s, dir)
      val crawled = pages.select(col("url"))
      val bloom = crawled.stat.bloomFilter("url", 100000L, 0.2)
      graft.pipeline.Crawl.frontierBloom(pages, crawled, bloom)
        .select(col("url"),
          regexp_extract(col("url"), "^https?://([^/]*)", 1).as("host"),
          col("n_refs"))
        .orderBy("url")
    }),

    // <base href> resolution: pages declaring a base element resolve
    // their relative links against IT, not the page url (site templates
    // emit <base> constantly -- resolving against the page instead
    // silently mis-addresses every relative link on such pages). Three
    // arms by id%3: an absolute base (path-relative AND root-relative
    // links land on the BASE's host), a RELATIVE base (itself resolved
    // against the page url first -- the RFC 3986 two-step), and no base
    // (page-url fallback). htmlBase rides the LinkPattern kernel
    // contract (both quote forms, first match wins, spec-pinned); the
    // oracle rebuilds every arm's resolved url from doc_id arithmetic.
    "crawl_frontier_base" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val own = s"https://h${id % 7}.example/page/$id"
          val html = (id % 3) match {
            case 0 =>
              s"""<base href="https://b${id % 7}.example/dir/">
                 |<a href="rel/${id % 5}">r</a>
                 |<a href="/abs/${id % 4}">a</a>
                 |<a href="$own">self</a>""".stripMargin
            case 1 =>
              s"""<base href='sub/'>
                 |<a href="x${id % 5}">r</a>
                 |<a href="$own">self</a>""".stripMargin
            case _ =>
              s"""<a href="plain/${id % 5}">r</a>
                 |<a href="$own">self</a>""".stripMargin
          }
          (own, html)
        }.toDF("url", "html")
        .select(col("url"),
          graft.pipeline.HtmlText.htmlLinksCol(col("html")).as("links"),
          graft.pipeline.HtmlText.htmlBaseCol(col("html")).as("base"))
      graft.pipeline.Crawl.frontier(pages, pages.select(col("url")))
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // Crawl-trap filtering (r14): the infinite-URL-space defenses every
    // production crawler ships — six arms per page: a clean link and a
    // 3-consecutive-repeat boundary link SURVIVE; an over-length link,
    // a 41-segment path, a 4-consecutive-segment loop, and a 40-param
    // faceted query are dropped by isUrlTrap. The oracle rebuilds only
    // the surviving arms from doc_id arithmetic — a trap leaking
    // through (or a boundary arm over-dropped) hash-mismatches.
    "crawl_frontier_traps" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val own = s"https://h${id % 7}.example/page/$id"
          val links = Seq(
            s"https://h${id % 7}.example/ok/${id % 9}",
            own + "/long?x=" + "a" * 2100,
            "https://deep.example/" +
              (0 until 40).map(i => s"s$i").mkString("/") + s"/${id % 5}",
            s"https://loop.example/p/loop/loop/loop/loop/${id % 4}",
            "https://facet.example/f?" +
              (0 until 40).map(i => s"a$i=${id % 3}").mkString("&"),
            s"https://edge.example/r/r/r/${id % 6}")
          (own, links)
        }.toDF("url", "links")
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      graft.pipeline.UrlFilter.dropUrlTraps(frontier, "url")
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // X-Robots-Tag header politeness (r14): the HTTP-level twin of
    // <meta name=robots> — how sites mark non-HTML resources and CDNs
    // mark whole paths. Header tokens MERGE with the markup's through
    // the same fused decode: arms by id%4 — no tag (links flow,
    // indexed), `noindex` (links flow, excluded from corpus), `none`
    // (= noindex,nofollow — links gone too), and an agent-scoped
    // `googlebot: nofollow` which conservatively applies (ignoring a
    // scoped directive is the unsafe direction). The records ride the
    // REAL WARC parser so the header must survive the HTTP split.
    "crawl_xrobots_gate" -> ((s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].groupByKey(_ % 8).mapGroups { (g, ids) =>
          val recs = ids.map { id =>
            val tag = (id % 4) match {
              case 0 => null
              case 1 => "noindex"
              case 2 => "NONE"
              case _ => "googlebot: nofollow"
            }
            graft.sources.Warc.ResponseFixture(
              s"https://h${id % 7}.example/xr/$id", 200,
              contentType = "text/html", xRobots = tag,
              body = (s"""<a href="https://t.example/${id % 5}">t</a>""" +
                s"<p>body $id</p>").getBytes("UTF-8"))
          }.toSeq
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      graft.pipeline.HtmlText.extractFromBodies(records, "body", "text",
          "http_content_type", linksCol = "links",
          honorRobotsMeta = true, noindexCol = "noindex",
          xRobotsCol = "http_x_robots")
        .filter(col("warc_type") === "response")
        .select(col("target_uri").as("url"), col("noindex"),
          size(col("links")).cast("long").as("n_links"))
        .orderBy("url")
    }),

    // Frontier domain blocklist (r14): a crawl must not even SCHEDULE a
    // blocklisted host — dropBlockedUrls gates the frontier by host
    // dot-suffix (exact or subdomain) against a broadcast blocklist,
    // the frontier-side sibling of the text-scanning
    // doc_blocked_domains. Blocks the single-quote fixture host
    // (sq.example) and one of the rotating hosts (h1.example, incl.
    // its :8443 port variants — hostOf strips ports).
    "crawl_frontier_blocked" -> ((s, dir) => {
      import s.implicits._
      val pages = crawlFixtureLinkPages(s, dir)
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      val blocklist = Seq("sq.example", "h1.example").toDF("domain")
      graft.pipeline.UrlFilter.dropBlockedUrls(frontier, "url",
          blocklist, "domain")
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // rel=canonical dedup (r14): the site-declared "one true URL" is
    // the URL-level dedup key real pipelines use — tracking-param
    // variants and mirror hosts declare the SAME canonical and collapse
    // to one corpus row where their fetched urls never would. Arms:
    // absolute canonical (id%3=0), entity-escaped single-quoted
    // canonical with a tracking param the normalize strips — SAME key
    // as arm 0 (id%3=1), and no canonical -> the page url itself,
    // normalized, is the key (id%3=2). htmlCanonical walks <link>
    // attributes in either order; the canonical resolves against the
    // page like any href.
    "crawl_canonical_dedup" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val own = s"HTTPS://H${id % 7}.EXAMPLE:443/self/$id"
          val canon = s"https://c.example/page/${id % 40}"
          val html = (id % 3) match {
            case 0 =>
              s"""<link rel="canonical" href="$canon"><p>v$id</p>"""
            case 1 =>
              s"""<link href='$canon?utm_source=v$id&amp;gclid=g$id' rel='canonical'>
                 |<p>variant $id</p>""".stripMargin
            case _ => s"<p>no canonical $id</p>"
          }
          (id, own, html)
        }.toDF("doc_id", "url", "html")
      val canonical = graft.pipeline.HtmlText.htmlCanonicalCol(col("html"))
      pages.select(col("doc_id"),
          graft.pipeline.UrlResolve.resolveAndNormalizeCol(col("url"),
            coalesce(canonical, col("url"))).as("canonical"))
        .groupBy("canonical")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("canonical")
    }),

    // Refresh policy (r14): the fetched ledger gates re-DISCOVERY
    // forever by design, so page refresh is a separate feed —
    // recrawlSeeds returns urls whose LAST fetch predates the cutoff.
    // Every page fetched at batch doc_id%10; every third REFETCHED at
    // doc_id%10+5 — the refetch must advance that url's age out of the
    // due set (the oracle rebuilds last_batch per arm and filters).
    "crawl_recrawl_due" -> ((s, dir) => {
      val fd = java.nio.file.Files.createTempDirectory("graft_recrawl_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val url = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id"))
      docs.select(url.as("url"), (col("doc_id") % 10).as("batch"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(url.as("url"), (col("doc_id") % 10 + 5).as("batch")))
        .write.partitionBy("batch").parquet(s"$fDir/fetched")
      graft.pipeline.Crawl.recrawlSeeds(s, fDir, beforeBatch = 7)
        .orderBy("url")
    }),

    // Conditional-fetch refresh feed (r16): the recrawl due-list JOINED
    // with the batch's stored validators — one feed a fetcher consumes
    // to send If-None-Match/If-Modified-Since directly. The ledger is
    // the crawl_recrawl_due fixture; the validators ride the REAL WARC
    // parser with the crawl_revalidators arm lattice keyed to the SAME
    // page urls (id%4: etag-only / last-modified-only / both-weak /
    // neither — the neither arm and never-fetched urls keep NULL
    // validators, an unconditional refetch).
    "crawl_recrawl_validators" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_rv_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val url = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id"))
      docs.select(url.as("url"), (col("doc_id") % 10).as("batch"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(url.as("url"), (col("doc_id") % 10 + 5).as("batch")))
        .write.partitionBy("batch").parquet(s"$fDir/fetched")
      val files = docs
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.map { id =>
            val own = s"https://h${id % 7}.example/page/$id"
            val body = s"doc $id"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            (id % 4) match {
              case 0 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                etag = s""""e${id % 9}"""")
              case 1 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                lastModified = s"Thu, 0${1 + id % 7} Jan 2026 12:00:00 GMT")
              case 2 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                etag = s"""W/"w${id % 5}"""",
                lastModified = s"Sat, 15 Aug 2026 0${id % 10}:00:00 GMT")
              case _ => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body)
            }
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val validators = graft.pipeline.Crawl.revalidators(
        graft.sources.Warc.warcRecords(files).toDF())
      graft.pipeline.Crawl.recrawlValidators(
          graft.pipeline.Crawl.recrawlSeeds(s, fDir, beforeBatch = 7),
          validators)
        .orderBy("url")
    }),

    // Change-aware recrawl (r15): the hashed fetched ledger counts how
    // often each url's content ACTUALLY changed across fetches, so a
    // news front page and a static TOS page stop sharing a refresh
    // cadence. Arms: same-content refetch (id%3=0 — no change), a
    // twice-refetched page whose first refetch changes only when
    // id%4>=2 and whose second always does (id%3=1), and a dead
    // refetch (null hash, id%3=2 — advances the age, observes
    // nothing). compactFetched runs BETWEEN the phases: the folded
    // accumulators must make the final counts equal the uncompacted
    // math, or this hash-mismatches.
    "crawl_recrawl_churn" -> ((s, dir) => {
      val fd = java.nio.file.Files.createTempDirectory("graft_churn_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val url = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id"))
      def rowOf(d: org.apache.spark.sql.DataFrame, batch: Column,
                content: Column) =
        d.select(url.as("url"),
          md5(content).as("content_md5"),
          when(content.isNotNull, 1L).otherwise(0L).as("n_obs"),
          lit(0L).as("n_changes"),
          batch.cast("long").as("batch"))
      // phase 1: every url's initial fetch at batch id%5
      rowOf(docs, col("doc_id") % 5, concat(lit("a"), col("doc_id") % 4))
        .write.partitionBy("batch").parquet(s"$fDir/fetched")
      // maintenance fold between the phases — preservation under test
      graft.pipeline.Crawl.compactFetched(s, fDir)
      // phase 2: the refetch arms
      val armA = docs.filter(col("doc_id") % 3 === 0)
      val armB = docs.filter(col("doc_id") % 3 === 1)
      val armC = docs.filter(col("doc_id") % 3 === 2)
      rowOf(armA, col("doc_id") % 5 + 3,
          concat(lit("a"), col("doc_id") % 4))
        .unionByName(rowOf(armB, col("doc_id") % 5 + 3,
          concat(lit("a"), col("doc_id") % 2)))
        .unionByName(rowOf(armB, col("doc_id") % 5 + 6,
          concat(lit("c"), col("doc_id"))))
        .unionByName(rowOf(armC, col("doc_id") % 5 + 4,
          lit(null).cast("string")))
        .write.mode("append").partitionBy("batch")
        .parquet(s"$fDir/fetched")
      graft.pipeline.Crawl.recrawlChurn(s, fDir).orderBy("url")
    }),

    // Markup politeness signals (r14, hardened r15): rel=nofollow
    // anchors drop (the attribute before OR after the href, token
    // lists, any case), a robots-meta nofollow page contributes NO
    // anchors, and <meta http-equiv=refresh> targets — de-facto
    // redirects the 3xx chain never sees — enter the frontier
    // (absolute on id%3==0 arms, RELATIVE resolved against the page
    // url on id%3==1, the WHATWG bare-WHITESPACE separator form on
    // id%3==2 (r15), riding THROUGH the robots-nofollow meta page like
    // a real redirect). The meta page's restriction is SPLIT ACROSS
    // TWO robots metas (r15 — first `noindex` only, second carrying
    // `nofollow` inside a quoted value WITH a '>': most-restrictive
    // union across tags AND the quote-aware tag end must both hold or
    // the x.example anchor leaks). The oracle rebuilds every surviving
    // arm from doc_id arithmetic; a nofollow'd arm leaking in or a
    // refresh arm missing hash-mismatches.
    "crawl_frontier_meta" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val own = s"https://h${id % 7}.example/page/$id"
          val meta = s"https://h${id % 7}.example/meta/$id"
          val refresh = (id % 3) match {
            case 0 =>
              s"""<meta http-equiv="refresh" content="0;url=https://r.example/abs/${id % 6}">"""
            case 1 =>
              s"""<META HTTP-EQUIV='Refresh' content="5; URL='../rel/${id % 4}'">"""
            case _ =>
              s"""<meta http-equiv="refresh" content="0 url=https://ws.example/w/${id % 5}">"""
          }
          val pageHtml =
            s"""$refresh
               |<a href="https://keep.example/k/${id % 5}" rel="noopener">kept</a>
               |<a href="https://no.example/n/${id % 4}" rel="nofollow">dropped</a>
               |<a rel="a,NoFollow" href="https://no2.example/m/${id % 3}">dropped</a>
               |<a href="$own">self</a>""".stripMargin
          val metaHtml =
            s"""<meta name="robots" content="noindex">
               |<meta name="robots" content="x > y, NOFOLLOW">
               |<meta http-equiv="refresh" content="2; url=https://rr.example/rr/${id % 7}">
               |<a href="https://x.example/x/${id % 5}">dropped by page meta</a>""".stripMargin
          Seq((own, pageHtml), (meta, metaHtml))
        }.flatMap(identity).toDF("url", "html")
        .select(col("url"),
          graft.pipeline.HtmlText.htmlOutlinksCol(col("html")).as("links"))
      graft.pipeline.Crawl.frontier(pages, pages.select(col("url")))
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // Frameset/iframe/image-map navigation (r16): <iframe src>,
    // <frame src> and <area href> enter the frontier like anchors,
    // behind the same politeness gates. Arms: absolute iframe (kept),
    // root-relative single-quoted frame resolving against the page,
    // nofollow'd area (dropped), kept area, an entity-escaped iframe
    // query (decodes), a plain anchor (sanity), the self link
    // (anti-joins away); a second robots-nofollow meta page carries
    // iframe/frame/area that must ALL drop — any of them leaking in
    // hash-mismatches.
    "crawl_frontier_frames" -> ((s, dir) => {
      import s.implicits._
      val pages = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          val own = s"https://h${id % 7}.example/page/$id"
          val fr = s"https://h${id % 7}.example/fset/$id"
          val pageHtml =
            s"""<iframe src="https://if.example/f/${id % 5}"></iframe>
               |<frameset cols="50%,50%"><frame src='/fr/${id % 4}'></frameset>
               |<map><area href="https://ar.example/a/${id % 3}" rel="nofollow">
               |<area shape="rect" href="https://ar.example/k/${id % 6}"></map>
               |<iframe src="https://if.example/q?x=1&amp;y=${id % 3}"></iframe>
               |<a href="https://keep.example/k/${id % 5}">kept</a>
               |<a href="$own">self</a>""".stripMargin
          val frHtml =
            s"""<meta name="robots" content="nofollow">
               |<iframe src="https://no.example/i/${id % 4}"></iframe>
               |<frame src="https://no.example/f/${id % 3}">
               |<area href="https://no.example/a/${id % 5}">""".stripMargin
          Seq((own, pageHtml), (fr, frHtml))
        }.flatMap(identity).toDF("url", "html")
        .select(col("url"),
          graft.pipeline.HtmlText.htmlOutlinksCol(col("html")).as("links"))
      graft.pipeline.Crawl.frontier(pages, pages.select(col("url")))
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // Image–text pair harvesting (r16): <img src> + alt/title and
    // figure/figcaption association ride the SAME fused decode pass as
    // the text (extractFromBodies imagesCol), then srcs resolve
    // against the page's effective base and normalize EXACTLY like
    // hrefs — the LAION-shape (image url, associated text) feeder the
    // multimodal family consumes. Arms by id%5: figure caption with
    // nested markup + entity (0), relative single-quoted src with
    // title and no alt (1), entity-escaped query src with EMPTY alt —
    // the decorative marker stays distinct from null (2), a declared
    // <base> the src resolves against (3), src-less imgs skipped
    // beside a bare kept one (4). Records ride the REAL WARC parser;
    // odd groups gzip per-record.
    "crawl_image_pairs" -> ((s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.map { id =>
            val own = s"https://h${id % 7}.example/img/$id"
            val html = (id % 5) match {
              case 0 =>
                s"""<figure><img src="https://img.example/i/${id % 9}.jpg" alt="pic ${id % 7}">
                   |<figcaption>Cap <b>${id % 4}</b> &amp; more</figcaption></figure>""".stripMargin
              case 1 =>
                // srcset on the img itself (r17): the first candidate
                // DUPLICATES src (dedupe, first wins), the second is a
                // density variant, the third scheme-relative — all
                // share the img's title
                s"""<p>intro</p><img src='/im/${id % 6}.png' title='t${id % 3}'
                   | srcset='/im/${id % 6}.png, /im/${id % 6}@2x.png 2x, //cdn${id % 2}.example/w/${id % 4}.webp 640w'>""".stripMargin
              case 2 =>
                // <picture><source srcset> (r17): candidates separated
                // by a comma WITHOUT whitespace; the second carries an
                // entity-encoded query and no descriptor
                s"""<picture><source srcset="https://img.example/hi/${id % 4}.avif 2x,https://img.example/hi/${id % 4}.jpg?x=1&amp;y=${id % 2}">
                   |<img alt="" src="https://img.example/p?a=1&amp;b=${id % 3}"></picture>""".stripMargin
              case 3 =>
                s"""<base href="https://b.example/dir/">
                   |<img src="r${id % 4}.gif" alt="rel ${id % 5}">""".stripMargin
              case _ =>
                // picture-wrapped PLACEHOLDER img (r17): no src at all —
                // only the source candidates harvest (padded srcset)
                s"""<img alt="no src"><img src="" alt="x">
                   |<img src="https://ok.example/o/${id % 5}">
                   |<picture><source srcset=" https://ph.example/s/${id % 3}.webp 1x , https://ph.example/s/${id % 3}b.webp 2x "><img alt="ph"></picture>""".stripMargin
            }
            graft.sources.Warc.ResponseFixture(own, 200,
              contentType = "text/html",
              body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      val ext = graft.pipeline.HtmlText.extractFromBodies(records, "body",
          "text", "http_content_type", baseCol = "base",
          imagesCol = "images")
        .filter(col("warc_type") === "response")
      val eff = coalesce(
        graft.pipeline.UrlResolve.resolveCol(
          col("target_uri").cast("string"), col("base")),
        col("target_uri").cast("string"))
      ext.select(col("target_uri").as("url"), eff.as("eff_base"),
          explode(col("images")).as("im"))
        .select(col("url"),
          graft.pipeline.UrlResolve.resolveAndNormalizeCol(col("eff_base"),
            col("im.src")).as("img_url"),
          col("im.alt").as("alt"), col("im.title").as("title"),
          col("im.caption").as("caption"))
        .filter(col("img_url").isNotNull)
        .orderBy("url", "img_url")
    }),

    // Politeness scheduling over the same frontier: per-host fetch
    // rounds (ref-count priority, url-asc ties) through the bounded
    // TopK-label aggregator -- round r fetches at most one url per host,
    // urls beyond maxRounds=3 defer to the next crawl cycle. The oracle
    // replays the frontier CTEs + row_number per host.
    "crawl_schedule" -> ((s, dir) => {
      val pages = crawlFixtureLinkPages(s, dir)
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      graft.pipeline.Crawl.schedule(frontier, maxRounds = 3)
        .orderBy("url")
    }),

    // Scheduling with per-host pacing: robots Crawl-delay values (host
    // hk declares k + 0.5 s for graftbot, 99 for everyone else — the
    // winning-group selection is oracle-gated) join onto the schedule;
    // not_before_s stacks (round-1)*delay_s, hosts without a robots row
    // pace at 0. Round indices alone can't drive a fetcher — this is
    // the seconds-per-host signal it actually needs.
    "crawl_schedule_delay" -> ((s, dir) => {
      import s.implicits._
      val pages = crawlFixtureLinkPages(s, dir)
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      val robots = (0 until 7).map { k =>
        (s"h$k.example",
          s"User-agent: graftbot\nCrawl-delay: $k.5\n" +
            "User-agent: *\nCrawl-delay: 99")
      }.toDF("host", "body")
      val delays = graft.pipeline.Robots.crawlDelayDf(robots, "graftbot")
      graft.pipeline.Crawl.schedule(frontier, maxRounds = 3, delays = delays)
        .orderBy("url")
    }),

    // Retry-After politeness (r15): throttling hosts say WHEN they may
    // be hit again; the header survives the REAL WARC HTTP split (the
    // http_location/http_x_robots pattern), folds to a per-host MAX
    // over 429/503 responses (retryAfterDelays — BOTH RFC 9110 forms:
    // delta-seconds on the id%3<2 arms, and the HTTP-date form on
    // id%3=2 measured against the record's own warc_date, id%90
    // seconds ahead of the fixture date; a PAST date clamps to 0, an
    // unparseable value and a 200-status numeric are IGNORED), and
    // shifts every round's start:
    // not_before_s = retry_after_s + (round-1)*delay_s.
    "crawl_schedule_retry" -> ((s, dir) => {
      import s.implicits._
      val pages = crawlFixtureLinkPages(s, dir)
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      val robots = (0 until 7).map { k =>
        (s"h$k.example",
          s"User-agent: graftbot\nCrawl-delay: $k.5\n" +
            "User-agent: *\nCrawl-delay: 99")
      }.toDF("host", "body")
      val delays = graft.pipeline.Robots.crawlDelayDf(robots, "graftbot")
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .as[Long].groupByKey(_ % 8).mapGroups { (g, ids) =>
          val recs = ids.flatMap { id =>
            val host = s"h${id % 7}.example"
            def fx(uri: String, status: Int, retryAfter: String) =
              graft.sources.Warc.ResponseFixture(uri, status,
                retryAfter = retryAfter)
            (id % 3) match {
              case 0 => Seq(fx(s"https://$host/th/$id", 429,
                s"${30 + id % 11}"))
              case 1 => Seq(fx(s"https://$host/busy/$id", 503,
                s"${30 + id % 11}"))
              case _ =>
                // HTTP-date form: id%90 seconds past the fixture
                // warc_date (2026-01-01T00:00:00Z)
                val future = f"Thu, 01 Jan 2026 00:${(id % 90) / 60}%02d:${(id % 90) % 60}%02d GMT"
                Seq(
                fx(s"https://$host/date/$id", 429, future),
                // a date in the PAST clamps to 0 (never negative)
                fx(s"https://$host/past/$id", 503,
                  "Wed, 31 Dec 2025 23:00:00 GMT"),
                // unparseable: dropped, must not stall the host
                fx(s"https://$host/junk/$id", 429, "tomorrow-ish"),
                // non-throttling status: ignored even with a numeric value
                fx(s"https://$host/ok/$id", 200, "999").copy(
                  contentType = "text/html", body = s"<p>fine $id</p>"
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            }
          }.toSeq
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val retry = graft.pipeline.Crawl.retryAfterDelays(
        graft.sources.Warc.warcRecords(files).toDF())
      graft.pipeline.Crawl.schedule(frontier, maxRounds = 3,
          delays = delays, retryAfter = retry)
        .orderBy("url")
    }),

    // Authority-prioritized fetch ordering (r15, the r14 verdict's #1):
    // within-host rounds alone leave the CROSS-host order unspecified,
    // so a fetcher burns budget on link-farm hosts before
    // authoritative ones. The host graph the fixture crawl itself
    // discovers (page host -> resolved-link host, the SAME resolve
    // kernel as the frontier) ranks through the integer-exact PageRank
    // (3 rounds, BIGINT trillionths), and the priority is the global
    // 0-based rank by (round, host_rank_fp desc, n_refs desc, url) via
    // the two-phase range rank — never a global window. The oracle
    // unrolls the identical integer rounds over the arm-rebuilt edge
    // set and replays the ordering with a row_number.
    "crawl_schedule_rank" -> ((s, dir) => {
      val pages = crawlFixtureLinkPages(s, dir)
      val frontier = graft.pipeline.Crawl.frontier(pages,
        pages.select(col("url")))
      val edges = graft.pipeline.Crawl.hostEdges(pages)
      graft.pipeline.Crawl.scheduleRanked(frontier, edges, maxRounds = 3)
        .orderBy("url")
    }),

    // Redirect handling end-to-end: real 3xx WARC records (Location
    // surviving the HTTP split) become one-outlink pages
    // (Crawl.redirectLinks), their targets resolve against the redirect
    // SOURCE (the relative `../hub/k` Location exercises dot-segment
    // merge), and redirect-to-crawled targets anti-join away — exactly
    // the composition ingestBatch feeds the streaming frontier. The
    // oracle rebuilds the surviving target multiset from the same
    // doc_id arithmetic.
    "crawl_redirects" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val files = docs
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.flatMap { id =>
            val own = s"https://h${id % 7}.example/page/$id"
            def html(uri: String, status: Int) =
              graft.sources.Warc.ResponseFixture(uri, status,
                contentType = "text/html")
            val page = Seq(html(own, 200).copy(
              body = s"<html><body>doc $id</body></html>"
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val redirect = (id % 10) match {
              case 3 => Seq(html(s"https://h${id % 7}.example/old/$id", 301)
                .copy(location =
                  s"https://h${(id * 3) % 7}.example/target/${id + 600000}"))
              case 7 => Seq(html(s"https://h${id % 7}.example/moved/$id", 302)
                .copy(location = s"../hub/${id % 13}"))
              case 1 => Seq(html(s"https://h${id % 7}.example/gone/$id", 301)
                .copy(location = own))
              case _ => Seq.empty
            }
            page ++ redirect
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      val crawled = docs.select(concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id")).as("url"))
      graft.pipeline.Crawl.frontier(
          graft.pipeline.Crawl.redirectLinks(records), crawled)
        .select(col("url"), col("n_refs"))
        .orderBy("url")
    }),

    // Redirect CHAIN resolution (r15): multi-hop migrations fold to
    // their final destination — every a/{id} 301s to b/{id} (relative
    // Location, resolved+normalized through redirectEdges), id%3==0
    // continue to d-host c/{id}, id%9==0 a third hop to the e-host
    // final. id%5==0 adds a TWO-CYCLE (x↔y) that must terminate at
    // hops=maxHops with resolved=false on BOTH members. A 200
    // carrying a Location and a Location-less 301 contribute no
    // edges. The oracle replays the bounded unroll as 3 chained LEFT
    // JOINs + the final still-a-source probe.
    "crawl_redirect_chains" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      def arm(cond: Column, src: Column, st: Int,
              loc: Column): DataFrame =
        docs.filter(cond).select(lit("response").as("warc_type"),
          src.as("target_uri"), lit(st).as("http_status"),
          loc.cast("string").as("http_location"))
      val id = col("doc_id")
      val records = arm(lit(true),
          concat(lit("https://c.example/a/"), id), 301,
          concat(lit("/b/"), id)) // relative Location
        .unionByName(arm(id % 3 === 0,
          concat(lit("https://c.example/b/"), id), 302,
          concat(lit("https://d.example/c/"), id)))
        .unionByName(arm(id % 9 === 0,
          concat(lit("https://d.example/c/"), id), 308,
          concat(lit("https://e.example/final/"), id)))
        .unionByName(arm(id % 5 === 0,
          concat(lit("https://cy.example/x/"), id), 301,
          concat(lit("https://cy.example/y/"), id)))
        .unionByName(arm(id % 5 === 0,
          concat(lit("https://cy.example/y/"), id), 302,
          concat(lit("https://cy.example/x/"), id)))
        // junk: a 200 with a Location, a 301 without one — no edges
        .unionByName(arm(id % 4 === 0,
          concat(lit("https://c.example/ok/"), id), 200,
          lit("/zzz")))
        .unionByName(arm(id % 4 === 1,
          concat(lit("https://c.example/lost/"), id), 301,
          lit(null)))
      val edges = graft.pipeline.Crawl.redirectEdges(records)
      graft.pipeline.Crawl.resolveRedirects(edges, maxHops = 4)
        .orderBy("url")
    }),

    // Sitemap seeding (pipeline.Sitemaps): the site-declared frontier
    // feeder -- <loc> extraction with regex-equivalent semantics
    // (LocPattern, the LinkPattern convention), then (r14) XML-entity
    // decode + the frontier's OWN canonicalization before the crawled
    // anti-join: an uppercase-host `:443` loc collapses to canonical
    // form, an `&amp;`-escaped multi-param loc seeds with a REAL `&`, a
    // whitespace-padded loc pre-cleans, a tracking-param variant of the
    // crawled page normalizes INTO the crawled set (dropped — the
    // duplicate-fetch-per-seed hole), and relative locs null out. Odd
    // ids use <LOC> arms so case-insensitivity is oracle-gated.
    "crawl_sitemap_seed" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val site = docs.as[Long].map { id =>
        val own = s"https://h${id % 7}.example/page/$id"
        val nw = s"https://h${(id * 11) % 7}.example/page/${id + 300000}"
        val shared = s"https://hs.example/s/${id % 13}"
        val shouty = s"HTTPS://H${(id + 2) % 7}.EXAMPLE:443/SM/${id % 9}"
        val amp = s"https://smq.example/q/${id % 5}?a=1&amp;b=${id % 3}"
        val (o, c) =
          if (id % 2 == 1) ("<LOC>", "</LOC>") else ("<loc>", "</loc>")
        (id,
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
             |<url>$o$own$c<lastmod>2026-01-01</lastmod></url>
             |<url>$o$nw$c</url>
             |<url>$o
             |  $shared
             |$c</url>
             |<url>$o$shouty$c</url>
             |<url>$o$amp$c</url>
             |<url>$o$own?utm_source=sm$c</url>
             |<url>$o/relative-ignored$c</url>
             |</urlset>""".stripMargin)
      }.toDF("doc_id", "body")
      val crawled = docs.select(concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id")).as("url"))
      graft.pipeline.Sitemaps.seeds(site, crawled)
        .orderBy("url")
    }),

    // Sitemap <lastmod> (r15): the site-declared change signal — per
    // seed, the MAX verbatim lastmod across listings (url a/{id%50} is
    // listed by many sitemaps with different days — max replays as
    // string max; url b/{id} declares none — null). A stray <lastmod>
    // BEFORE any <loc> must drop, the crawled own-page entry (with its
    // own lastmod) anti-joins away, and odd ids ship GZIPPED (the
    // locsWithLastmodFromBytes path).
    "crawl_sitemap_lastmod" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val site = docs.as[Long].map { id =>
        val own = s"https://h${id % 7}.example/page/$id"
        val day = f"${1 + id % 28}%02d"
        val xml =
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<lastmod>2027-12-31</lastmod>
             |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
             |<url><loc>https://sm.example/a/${id % 50}</loc><lastmod>2026-01-$day</lastmod></url>
             |<url><loc>https://sm.example/b/$id</loc></url>
             |<url><LOC>$own</LOC><LASTMOD>2025-05-05</LASTMOD></url>
             |</urlset>""".stripMargin
        val bytes = xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val body =
          if (id % 2 == 0) bytes
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            bos.toByteArray
          }
        (id, body)
      }.toDF("doc_id", "body")
      val crawled = docs.select(concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id")).as("url"))
      graft.pipeline.Sitemaps.seedsWithLastmod(site, crawled)
        .orderBy("url")
    }),

    // Feed seeding (late r15, recency-keyed r16): RSS 2.0 (even ids)
    // and Atom (odd ids, gzipped, href-attribute links in BOTH quote
    // forms) entries seed the frontier with a freshness date — the
    // shared s/{id%40} url aggregates refs across feeds and keeps the
    // MOST RECENT listed date by Feeds.dateKey epoch (RSS arms carry
    // RFC 822 10:00 GMT dates, Atom arms RFC 3339 09:00Z — a
    // lexicographic max would ALWAYS pick the letter-initial RFC 822
    // string, so any dialect-blind fold hash-mismatches; equal days
    // break on the 10:00-vs-09:00 hour), the unique u/{id} arm
    // carries no date, entity-escaped multi-param links decode, the
    // channel-level prologue link and the crawled own-page entry
    // never seed.
    "crawl_feed_seeds" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feeds = docs.as[Long].map { id =>
        val own = s"https://h${id % 7}.example/page/$id"
        val day = f"${1 + id % 28}%02d"
        val shared = s"https://nw.example/s/${id % 40}?p=1&amp;q=${id % 3}"
        val unique = s"https://nw.example/u/$id"
        val xml =
          if (id % 2 == 0)
            s"""<?xml version="1.0"?><rss version="2.0"><channel>
               |<link>https://nw.example/</link>
               |<pubDate>Mon, 01 Jan 2001 00:00:00 GMT</pubDate>
               |<item><link>$shared</link><pubDate>Mon, $day Mar 2026 10:00:00 GMT</pubDate></item>
               |<item><link>$unique</link></item>
               |<item><link>$own</link><pubDate>Mon, $day Mar 2026 10:00:00 GMT</pubDate></item>
               |</channel></rss>""".stripMargin
          else
            s"""<feed xmlns="http://www.w3.org/2005/Atom">
               |<link rel="self" href="https://nw.example/feed.xml"/>
               |<entry><link href="$shared"/><updated>2026-03-${day}T09:00:00Z</updated></entry>
               |<entry><LINK HREF='$unique'/></entry>
               |<entry><link href="$own"/><updated>2026-03-${day}T09:00:00Z</updated></entry>
               |</feed>""".stripMargin
        val bytes = xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val body =
          if (id % 2 == 0) bytes
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            bos.toByteArray
          }
        (id, body)
      }.toDF("doc_id", "body")
      val crawled = docs.select(concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/page/"), col("doc_id")).as("url"))
      graft.pipeline.Feeds.seedsFromFeeds(feeds, crawled)
        .orderBy("url")
    }),

    // Media-enclosure harvest (r17 — the audio/video discovery
    // channel, podcast-RSS shape): every doc is one feed carrying a
    // per-doc episode enclosure (RSS attribute-order-scrambled form on
    // evens; UPPERCASE single-quoted Atom rel=enclosure form on odds,
    // gzipped), the shared trailer every feed cites (n_refs = corpus
    // count; its date dialects MIX — the one early RFC 822 string must
    // LOSE the recency fold to later RFC 3339 dates even though
    // letters sort above digits), an entity-encoded query-string arm,
    // a garbage length (nulls out), already-fetched old/ urls
    // (anti-join), prologue enclosures and rel-less links (never
    // count).
    "crawl_feed_enclosures" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feeds = docs.as[Long].map { id =>
        val day = f"${1 + id % 28}%02d"
        val ep = s"https://media.example/ep/$id.mp3?a=1&amp;b=${id % 3}"
        val vid = s"https://media.example/vid/$id.mp4"
        val old = s"https://media.example/old/${id % 10}.mp3"
        val trailerDate =
          if (id % 40 == 2) "Wed, 01 Jan 2020 00:00:00 GMT"
          else s"2024-03-0${1 + id % 4}T00:00:00Z"
        val extra =
          if (id % 97 == 0 && id % 2 == 0)
            s"""<item><enclosure url="https://media.example/x/$id.bin" length="n/a" type="application/octet-stream"/></item>"""
          else ""
        val xml =
          if (id % 2 == 0)
            s"""<?xml version="1.0"?><rss version="2.0"><channel>
               |<link>https://nw.example/</link>
               |<enclosure url="https://nw.example/prologue.mp3" type="audio/mpeg"/>
               |<item><link>https://nw.example/page/$id</link>
               |<enclosure length="${1000 + id}" type="audio/mpeg" url="$ep"/>
               |<pubDate>Mon, $day Jan 2024 10:00:00 GMT</pubDate></item>
               |<item><enclosure url="$old" type="audio/mpeg"/></item>
               |<item><enclosure url="https://media.example/trailer.mp3" type="audio/mpeg" length="777"/><pubDate>$trailerDate</pubDate></item>
               |$extra
               |</channel></rss>""".stripMargin
          else
            s"""<feed xmlns="http://www.w3.org/2005/Atom">
               |<link rel="self" href="https://nw.example/feed.xml"/>
               |<entry><link href="https://nw.example/page/$id"/>
               |<LINK REL='enclosure' HREF='$vid' TYPE='video/mp4' LENGTH='${2000 + id}'/>
               |<updated>2024-02-${day}T09:00:00Z</updated></entry>
               |<entry><link rel="enclosure" href="$old" type="audio/mpeg"/></entry>
               |<entry><link rel="enclosure" href="https://media.example/trailer.mp3" type="audio/mpeg" length="777"/><updated>$trailerDate</updated></entry>
               |</feed>""".stripMargin
        val bytes = xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val body =
          if (id % 2 == 0) bytes
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            bos.toByteArray
          }
        (id, body)
      }.toDF("doc_id", "body")
      val fetched = s.range(10).select(
        concat(lit("https://media.example/old/"), col("id"), lit(".mp3"))
          .as("url"))
      graft.pipeline.Feeds.enclosureSeeds(feeds, fetched)
        .orderBy("url")
    }),

    // The AUDIO fetch loop (r17 — the enclosure sibling of
    // crawl_image_fetch, closing podcast-RSS discovery end-to-end):
    // per-doc episode enclosures harvest into a fetch list
    // (already-fetched old/ urls anti-join away), schedule paces the
    // five media hosts, the scheduled urls come back as REAL 16-bit
    // PCM WAVs whose samples derive from the url's own id arithmetic,
    // and audioStats' exact integer triage (energy/peak/strict-
    // alternation zero crossings through the REAL RIFF decode) joins
    // back to the schedule. Any harvest/gating/scheduling/decode
    // defect hash-mismatches.
    "crawl_enclosure_fetch" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feeds = docs.as[Long].map { id =>
        val ep = s"https://m${id % 5}.example/ep/$id.wav"
        val old = s"https://media.example/old/${id % 10}.wav"
        val xml =
          s"""<rss version="2.0"><channel>
             |<item><enclosure url="$ep" type="audio/wav" length="${(64 + id % 32) * 2 + 44}"/></item>
             |<item><enclosure url="$old" type="audio/wav"/></item>
             |</channel></rss>""".stripMargin
        (id, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "body")
      val fetched = s.range(10).select(
        concat(lit("https://media.example/old/"), col("id"), lit(".wav"))
          .as("url"))
      val list = graft.pipeline.Feeds.enclosureSeeds(feeds, fetched)
      val sched = graft.pipeline.Crawl.schedule(
        list.select(col("url"), col("n_refs")), maxRounds = 1 << 20)
      val bodies = sched.select(col("url")).as[String].map { u =>
        val id = u.substring(u.indexOf("/ep/") + 4, u.length - 4).toLong
        val n = (64 + id % 32).toInt
        val samples = Array.tabulate[Short](n) { i =>
          ((((id * 31 + i * 7) % 256) - 128) << 8).toShort
        }
        (id, Multimodal.encodeWav(8000, samples))
      }.toDF("id", "payload")
      val stats = Multimodal.audioStats(
        bodies.as[(Long, Array[Byte])].map { case (id, b) =>
          Multimodal.MediaRow(id, b,
            Multimodal.MediaMeta("audio", 0, 0, 0, 8000))
        }).toDF()
      stats
        .withColumn("url", concat(lit("https://m"), col("id") % 5,
          lit(".example/ep/"), col("id"), lit(".wav")))
        .join(sched.select(col("url"), col("n_refs"), col("round")),
          Seq("url"))
        .select(col("url"), col("n_refs"), col("round"), col("n_samples"),
          col("sum_sq_dev"), col("peak_dev"), col("zero_crossings"))
        .orderBy("url")
    }),

    // AUDIO-TEXT PAIRS (r17 — the LAION-Audio caption source): every
    // feed item's TITLE captions its enclosure — entity-decoded
    // (&amp; arm) and whitespace-collapsed (padded/newlined Atom arm);
    // the shared trailer's identical (url, caption) folds to
    // corpus-count refs, and a title-less item keeps its enclosure
    // with a null caption (speech pipelines caption from the audio).
    "crawl_audio_pairs" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feeds = docs.as[Long].map { id =>
        val extra =
          if (id % 89 == 0)
            s"""<item><enclosure url="https://media.example/n/$id.mp3" type="audio/mpeg"/></item>"""
          else ""
        val xml =
          if (id % 2 == 0)
            s"""<rss version="2.0"><channel>
               |<title>Feed $id</title>
               |<item><title>Ep $id &amp; notes ${id % 7}</title>
               |<enclosure url="https://media.example/ep/$id.mp3" type="audio/mpeg"/></item>
               |<item><title>Trailer</title>
               |<enclosure url="https://media.example/trailer.mp3" type="audio/mpeg"/></item>
               |$extra
               |</channel></rss>""".stripMargin
          else
            s"""<feed><title>Feed $id</title>
               |<entry><title>  Show
               | ${id % 5} </title>
               |<link rel="enclosure" href="https://media.example/vid/$id.mp4" type="video/mp4"/></entry>
               |<entry><title>Trailer</title>
               |<link rel="enclosure" href="https://media.example/trailer.mp3" type="audio/mpeg"/></entry>
               |</feed>""".stripMargin
        (id, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("doc_id", "body")
      graft.pipeline.Feeds.enclosurePairs(feeds)
        .orderBy("url")
    }),

    // Media-pair LEDGER lifecycle (r17 — the feeds channel
    // production-wired): batch 0 fetches every subset doc's podcast
    // feed (rss+xml content type; episode + bonus enclosures captioned
    // by item titles) alongside an html page (never routed to media —
    // the xml gate); batch 1 refetches id%4==0 feeds with a CHANGED
    // episode (the whole pair set supersedes — the bonus drops too)
    // and id%4==1 feeds with ZERO enclosures (the supersession
    // sentinel — the feed vanishes from the ledger); classes 2/3 keep
    // their batch-0 pairs. compactMedia folds MID-QUERY, so the read
    // is also pinned post-compaction.
    "crawl_media_ledger" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_medialedger_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val idxPath = fd.resolve("idx").toFile.getAbsolutePath
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 3 === 0)
      def warcOf(batch: Int): DataFrame =
        docs.withColumn("g", floor(col("doc_id") / 25))
          .groupBy("g")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .as[(Long, Seq[Long])]
          .map { case (g, ids) =>
            val recs = ids.flatMap { id =>
              val feedUrl = s"https://f${id % 7}.example/feed/$id.xml"
              def feed(ct: String, xml: String) =
                graft.sources.Warc.ResponseFixture(feedUrl, 200,
                  contentType = ct,
                  body = xml.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
              if (batch == 0) {
                val page = graft.sources.Warc.ResponseFixture(
                  s"https://f${id % 7}.example/pg/$id", 200,
                  contentType = "text/html",
                  body = s"<p>page $id words</p>".getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
                val bonus =
                  if (id % 2 == 0)
                    s"""<item><title>Bonus ${id % 20}</title><enclosure url="https://media.example/bonus/${id % 20}.mp3" type="audio/mpeg"/></item>"""
                  else ""
                Seq(page, feed("application/rss+xml",
                  s"""<rss><channel><item><title>Ep $id</title><enclosure url="https://media.example/ep/$id.mp3" type="audio/mpeg"/></item>$bonus</channel></rss>"""))
              } else (id % 4) match {
                case 0 => Seq(feed("application/rss+xml",
                  s"""<rss><channel><item><title>Ep2 $id</title><enclosure url="https://media.example/ep2/$id.mp3" type="audio/mpeg"/></item></channel></rss>"""))
                case 1 => Seq(feed("text/xml",
                  s"""<rss><channel><item><title>Gone $id</title></item></channel></rss>"""))
                case _ => Seq.empty
              }
            }
            (g, graft.sources.Warc.encodeWarcFixtures(recs,
              gzipPerRecord = g % 2 == 1))
          }.toDF("g", "payload")
      for (b <- 0 to 1) {
        val recs = graft.sources.Warc.warcRecords(warcOf(b)).toDF()
        Phases.timed(s"ingest$b") {
          graft.pipeline.Crawl.ingestBatch(s, recs, idxPath, b,
            onPageLinks = _ => (),
            onMedia = _.write.mode("overwrite")
              .parquet(s"$fDir/media/batch=$b")) { _.count() }
        }
      }
      Phases.timed("fold") { graft.pipeline.Crawl.compactMedia(s, fDir) }
      graft.pipeline.Crawl.mediaPairsLedger(s, fDir)
        .orderBy("url", "media_url")
    }),

    // Media FETCH loop (r17 — the enclosure channel's LAION step 2,
    // ledger-fed): the media ledger's distinct enclosure urls become a
    // politeness-scheduled fetch list (already-fetched urls anti-join
    // away against the SHARED fetched ledger, the a4.example host
    // blocklists away, supersession sentinels drop at the ledger
    // read, a shared episode referenced by every 11th feed carries
    // corpus-count refs), the scheduled urls come back as REAL 16-bit
    // PCM WAVs, and mediaBytesJoin + audioStats' exact integer triage
    // attach the decoded stats to every referencing (feed, enclosure,
    // caption) pair. Any ledger/gating/scheduling/join/decode defect
    // hash-mismatches.
    "crawl_media_fetch" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_mediafetch_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val id = col("doc_id")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feedUrl = concat(lit("https://f"), id % 7,
        lit(".example/feed/"), id, lit(".xml"))
      val perDocUrl = concat(lit("https://a"), id % 5,
        lit(".example/au/"), id, lit(".wav"))
      val perDoc = docs.select(
        feedUrl.as("url"), perDocUrl.as("media_url"),
        concat(lit("Ep "), id % 9).as("caption"),
        lit("audio/wav").as("mime_type"))
      val shared = docs.filter(id % 11 === 0).select(
        feedUrl.as("url"),
        lit("https://a0.example/au/777777.wav").as("media_url"),
        lit("Shared").as("caption"),
        lit("audio/wav").as("mime_type"))
      val sentinels = docs.filter(id % 13 === 0).select(
        concat(lit("https://f9.example/empty/"), id, lit(".xml"))
          .as("url"),
        lit(null).cast("string").as("media_url"),
        lit(null).cast("string").as("caption"),
        lit(null).cast("string").as("mime_type"))
      perDoc.unionByName(shared).unionByName(sentinels)
        .write.mode("overwrite").parquet(s"$fDir/media/batch=0")
      // the SHARED fetched ledger: the feeds themselves plus the
      // id%10==0 enclosures an earlier loop already fetched
      docs.select(feedUrl.as("url"))
        .unionByName(docs.filter(id % 10 === 0)
          .select(perDocUrl.as("url")))
        .write.mode("overwrite").parquet(s"$fDir/fetched/batch=0")
      val blocked = Seq("a4.example").toDF("domain")
      // r18: ONE materialized ledger read shared by the fetch list and
      // the bytes join (each consumer formerly re-embedded the ledger
      // scan + latest-batch join in its own plan)
      val ledger = graft.pipeline.Crawl.mediaPairsLedger(s, fDir)
        .localCheckpoint()
      val list = graft.pipeline.Crawl.mediaFetchList(s, fDir,
        blockedDomains = blocked, pairsLedger = ledger)
      val sched = graft.pipeline.Crawl.schedule(
        list.select(col("url"), col("n_refs")), maxRounds = 1 << 20)
      def midOf(u: String): Long =
        u.substring(u.indexOf("/au/") + 4, u.length - 4).toLong
      val bodies = sched.select(col("url")).as[String].map { u =>
        val mid = midOf(u)
        val n = (48 + mid % 40).toInt
        val samples = Array.tabulate[Short](n) { i =>
          ((((mid * 37 + i * 11) % 256) - 128) << 8).toShort
        }
        ("response", u, 200, Multimodal.encodeWav(16000, samples))
      }.toDF("warc_type", "target_uri", "http_status", "body")
      val joined = graft.pipeline.Crawl.mediaBytesJoin(ledger, bodies)
      val keyed = joined.select(col("media_url"), col("body"))
        .dropDuplicates("media_url")
        .as[(String, Array[Byte])]
        .map { case (u, b) => (u, midOf(u), b) }
        .toDF("media_url", "mid", "body")
      val stats = Multimodal.audioStats(
        keyed.select(col("mid"), col("body"))
          .as[(Long, Array[Byte])].map { case (mid, b) =>
            Multimodal.MediaRow(mid, b,
              Multimodal.MediaMeta("audio", 0, 0, 0, 16000))
          }).toDF()
      val byUrl = keyed.select(col("media_url"), col("mid"))
        .join(stats, col("mid") === col("id")).drop("id", "mid")
      joined.select(col("url"), col("media_url"), col("caption"))
        .join(byUrl, Seq("media_url"))
        .join(sched.select(col("url").as("media_url"), col("n_refs"),
          col("round")), Seq("media_url"))
        .select(col("url"), col("media_url"), col("caption"),
          col("n_refs"), col("round"), col("n_samples"),
          col("sum_sq_dev"), col("peak_dev"), col("zero_crossings"))
        .orderBy("url", "media_url")
    }),

    // Perceptual AUDIO pair dedup (r17 — the mirror-collapse for the
    // enclosure channel): every feed cites the SAME episode twice —
    // once per mirror CDN, and the cdn-b copy is a RE-CONTAINER (the
    // identical samples re-encoded at a different header rate, so
    // byte- and url-level dedup both miss it) — plus a corrupt .bin
    // arm that must pass through untouched. The 65-block
    // energy-gradient hash, the hamming pair set, the min-url cluster
    // canonicals, the re-keying, and the exact fold all replay in SQL
    // — the media_audio_dups hash machinery pointed at urls.
    "crawl_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feed = concat(lit("https://f"), id % 7, lit(".example/feed/"),
        id, lit(".xml"))
      def mirror(prefix: String) = docs.select(feed.as("url"),
        concat(lit(prefix), id % 8, lit(".wav")).as("media_url"),
        concat(lit("c"), id % 3).as("caption"))
      val corrupt = Seq("https://cdn-a.example/x/bad.bin",
          "https://cdn-b.example/x/bad.bin")
        .map(u => docs.filter(id % 97 === 0).select(feed.as("url"),
          lit(u).as("media_url"), lit("bad").as("caption")))
        .reduce(_ unionByName _)
      val pairs = mirror("https://cdn-a.example/au/")
        .unionByName(mirror("https://cdn-b.example/re/"))
        .unionByName(corrupt)
      val media = docs.select((id % 8).as("m")).distinct()
        .as[Long].flatMap { m =>
          val n = (130 + m * 7).toInt
          val samples = Array.tabulate[Short](n) { k =>
            ((((m * 13 + k * 5) % 256) - 128) << 8).toShort
          }
          Seq((s"https://cdn-a.example/au/$m.wav",
              Multimodal.encodeWav(8000, samples)),
            (s"https://cdn-b.example/re/$m.wav",
              Multimodal.encodeWav(16000, samples)))
        }.toDF("media_url", "body")
        .unionByName(Seq(
          ("https://cdn-a.example/x/bad.bin", "NOTAUDIO".getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)),
          ("https://cdn-b.example/x/bad.bin", "NOTAUDIO".getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)))
          .toDF("media_url", "body"))
      graft.pipeline.Crawl.dedupePairsByAudio(pairs, media)
        .orderBy("url", "media_url")
    }),

    // Video frame-set pair dedup (r17 — the third modality's
    // mirror-collapse, by CONTAINMENT): every feed cites its episode
    // twice — the full 4-frame P6 stream on cdn-a and a CLIPPED
    // 3-frame copy on cdn-b (a strict frame subset: whole-file and
    // single-hash dedup both miss it, containment = 1.0 pairs it) —
    // plus a corrupt arm that passes through untouched. Frame aHashes,
    // the df guard, the containment join, CC, min-url canonicals and
    // the fold all replay in SQL — the media_video_dups machinery
    // pointed at urls.
    "crawl_video_dedup" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val feed = concat(lit("https://f"), id % 7, lit(".example/feed/"),
        id, lit(".xml"))
      def mirror(prefix: String) = docs.select(feed.as("url"),
        concat(lit(prefix), id % 6, lit(".ppm")).as("media_url"),
        concat(lit("v"), id % 3).as("caption"))
      val corrupt = docs.filter(id % 97 === 0).select(feed.as("url"),
        lit("https://cdn-a.example/x/bad.bin").as("media_url"),
        lit("bad").as("caption"))
      val pairs = mirror("https://cdn-a.example/vid/")
        .unionByName(mirror("https://cdn-b.example/cl/"))
        .unionByName(corrupt)
      val media = docs.select((id % 6).as("m")).distinct()
        .as[Long].flatMap { m =>
          val w = 16 + m.toInt
          val h = 12 + (m % 5).toInt
          def frame(j: Int) = Multimodal.encodePpm(w, h,
            Multimodal.fixtureStream(
              s"v $m $j".getBytes(
                java.nio.charset.StandardCharsets.US_ASCII),
              w * h * 3))
          def cat(n: Int) = {
            val out = new java.io.ByteArrayOutputStream()
            (0 until n).foreach(j => out.write(frame(j)))
            out.toByteArray
          }
          Seq((s"https://cdn-a.example/vid/$m.ppm", cat(4)),
            (s"https://cdn-b.example/cl/$m.ppm", cat(3)))
        }.toDF("media_url", "body")
        .unionByName(Seq(("https://cdn-a.example/x/bad.bin",
          "NOTAVIDEO".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
          .toDF("media_url", "body"))
      graft.pipeline.Crawl.dedupePairsByVideo(pairs, media)
        .orderBy("url", "media_url")
    }),

    // LAION-Audio-style pair quality screens (r17): duration bounds
    // as exact integer cross-multiplication (id%12 seconds against a
    // [1s, 8s] window), the telephony-rate cut (id%31 at 4 kHz), the
    // digital-silence cut (id%29), null-stats drop (id%53 never
    // decoded), null captions PASS (the title-less enclosure
    // convention), short captions drop (id%19), and the 'Trailer'
    // boilerplate caption crosses the feed-df threshold at the gate
    // SFs but not sf0.001 — the HAVING is oracle-replayed so the
    // verdict is SF-consistent by construction.
    "crawl_audio_quality" -> ((s, dir) => {
      val id = col("doc_id")
      val rate = when(id % 31 === 0, lit(4000L))
        .otherwise(lit(8000L) + (id % 3) * 4000L)
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://f"), id % 7, lit(".example/feed/"), id,
          lit(".xml")).as("url"),
        concat(lit("https://a"), id % 5, lit(".example/ep/"), id,
          lit(".wav")).as("media_url"),
        when(id % 17 === 0, lit(null).cast("string"))
          .when(id % 10 === 7, lit("Trailer"))
          .when(id % 19 === 0, lit("x"))
          .otherwise(concat(lit("Cap "), id % 50)).as("caption"),
        when(id % 53 === 0, lit(null).cast("long"))
          .otherwise(rate * (id % 12)).as("n_samples"),
        rate.as("sample_rate"),
        when(id % 29 === 0, lit(0L))
          .otherwise(lit(1L) + id % 100).as("sum_sq_dev"))
      graft.pipeline.Crawl.audioPairQualityFilter(pairs,
          minDurS = 1L, maxDurS = 8L, minSampleRate = 8000L,
          minCaptionChars = 3, maxCaptionChars = 200,
          maxCaptionFeeds = 10)
        .orderBy("url")
    }),

    // Video pair quality screens (r17 — the third modality's gates,
    // off the REAL decode): every clip m=id%12 is a multi-frame P6
    // stream whose dims/frame count come from arithmetic, so the
    // min-dims (m=0), aspect (m=10,11), single-frame (m%5==0) and
    // too-many-frames (m%5==4) cuts all replay; id%37 pairs reference
    // a corrupt payload (no meta — drop), null captions pass, short
    // captions drop, and the 'Trailer' feed-df guard recomputes its
    // own threshold crossing.
    "crawl_video_quality" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val m = id % 12
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://f"), id % 7, lit(".example/feed/"), id,
          lit(".xml")).as("url"),
        when(id % 37 === 0, lit("https://v.example/bad/x.bin"))
          .otherwise(concat(lit("https://v.example/clip/"), m,
            lit(".ppm"))).as("media_url"),
        when(id % 17 === 0, lit(null).cast("string"))
          .when(id % 10 === 7, lit("Trailer"))
          .when(id % 19 === 0, lit("x"))
          .otherwise(concat(lit("Vid "), id % 40)).as("caption"))
      val media = tbl(s, dir, "documents").select((id % 12).as("m"))
        .distinct()
        .as[Long].map { mm =>
          val w = 24 + mm.toInt * 8
          val h = 48
          val nf = 1 + (mm % 5).toInt
          val out = new java.io.ByteArrayOutputStream()
          (0 until nf).foreach { j =>
            out.write(Multimodal.encodePpm(w, h,
              Multimodal.fixtureStream(
                s"vq $mm $j".getBytes(
                  java.nio.charset.StandardCharsets.US_ASCII),
                w * h * 3)))
          }
          (s"https://v.example/clip/$mm.ppm", out.toByteArray)
        }.toDF("media_url", "body")
        .unionByName(Seq(("https://v.example/bad/x.bin",
          "NOTAVIDEO".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
          .toDF("media_url", "body"))
      val meta = Multimodal.videoMetaByKey(media).toDF()
        .select(col("key").as("media_url"), col("width"), col("height"),
          col("n_frames"))
      val joined = pairs.join(meta, Seq("media_url"), "left")
        .select(col("url"), col("media_url"), col("caption"),
          col("width"), col("height"), col("n_frames"))
      graft.pipeline.Crawl.videoPairQualityFilter(joined,
          minWidth = 32, minHeight = 32, maxAspect = 2.0,
          minFrames = 2, maxFrames = 4, minCaptionChars = 3,
          maxCaptionChars = 200, maxCaptionFeeds = 10)
        .orderBy("url")
    }),

    // The LAION-Audio delivery step (r17): harvested enclosure pairs +
    // their fetched bytes (mediaBytesJoin) package into WebDataset tar
    // shards (wav + txt caption + json meta per sample) and read back
    // through the source. Lossless by the oracle: caption md5 and the
    // REAL RIFF decode's sample count replay from the fixture
    // arithmetic — a writer, grouping, or codec defect
    // hash-mismatches.
    "crawl_audio_export" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://f"), id % 7, lit(".example/feed/"), id,
          lit(".xml")).as("url"),
        concat(lit("https://c.example/au/"), id % 40, lit(".wav"))
          .as("media_url"),
        concat(lit("cap "), id % 6).as("caption"),
        id)
      val fetchedRecs = tbl(s, dir, "documents")
        .select((id % 40).as("m")).distinct()
        .as[Long].map { m =>
          val n = (70 + m).toInt
          val samples = Array.tabulate[Short](n) { k =>
            ((((m * 19 + k * 3) % 256) - 128) << 8).toShort
          }
          ("response", s"https://c.example/au/$m.wav", 200,
            Multimodal.encodeWav(8000, samples))
        }.toDF("warc_type", "target_uri", "http_status", "body")
      val joined = graft.pipeline.Crawl.mediaBytesJoin(pairs, fetchedRecs)
      val samples = joined.select(col("doc_id"), col("caption"),
          col("body"))
        .as[(Long, String, Array[Byte])]
        .map { case (docId, cap, body) =>
          (docId.toString, Map(
            "wav" -> body,
            "txt" -> cap.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            "json" -> s"""{"id":$docId}""".getBytes(
              java.nio.charset.StandardCharsets.US_ASCII)))
        }.toDF("key", "parts")
      val tmp = java.nio.file.Files.createTempDirectory("graft_audwds_")
      deleteRecursivelyOnExit(tmp)
      val out = tmp.toFile.getAbsolutePath
      graft.sources.WebDataset.writeWebdatasetShards(
        samples.repartition(16), out, samplesPerShard = 50)
      graft.sources.WebDataset.webdatasetSamples(
          s.read.format("binaryFile").load(out), payloadCol = "content")
        .map { smp =>
          val n = Multimodal.decodeWav(smp.parts("wav"))
            .map(_.length.toLong).getOrElse(-1L)
          (smp.key.toLong, smp.parts.size, smp.parts("txt"), n)
        }.toDF("doc_id", "n_parts", "txt", "n_samples")
        .select(col("doc_id"), col("n_parts"),
          md5(col("txt")).as("txt_md5"), col("n_samples"))
        .orderBy("doc_id")
    }),

    // Index observability (r17): a build + two appends + a tombstone
    // delete on a REAL int8 index, then Installments.stats — the
    // compaction/vacuum dashboard (per-installment row counts + the
    // deletes sidecar in one frame). Counts replay directly from the
    // split arithmetic, so a numbering, partition-layout, or
    // tombstone-dedup defect hash-mismatches.
    "idx_stats" -> ((s, dir) => {
      val fd = java.nio.file.Files.createTempDirectory("graft_idxstats_")
      deleteRecursivelyOnExit(fd)
      val idx = fd.resolve("int8").toString
      val e = tbl(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"))
      graft.index.Quantize.int8Build(e.filter(col("vec_id") % 4 < 2), idx)
      graft.index.Quantize.int8Append(s, idx,
        e.filter(col("vec_id") % 4 === 2))
      graft.index.Quantize.int8Append(s, idx,
        e.filter(col("vec_id") % 4 === 3))
      // two deletes, one overlapping id set — the sidecar stores each
      // batch distinct, so the counts pin the per-installment dedup
      graft.index.Quantize.int8Delete(s, idx,
        e.filter(col("vec_id") % 20 === 0).select(col("vec_id")))
      graft.index.Quantize.int8Delete(s, idx,
        e.filter(col("vec_id") % 30 === 0).select(col("vec_id")))
      graft.store.Installments.stats(s, idx, Seq("codes"))
        .orderBy("table", "installment")
    }),

    // The LAION delivery step (r17): harvested pairs + their fetched
    // image bytes (imageBytesJoin — the crawl_image_fetch shape)
    // package into WebDataset tar shards (txt caption + json meta +
    // the REAL BMP payload per sample) and read back through the
    // source. Lossless by the oracle: caption md5 and the decoded
    // dims of every image member replay from the fixture arithmetic —
    // a writer, grouping, or codec defect hash-mismatches.
    "crawl_pair_export" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://h"), id % 7, lit(".example/pg/"), id)
          .as("url"),
        concat(lit("https://c.example/i/"), id % 40, lit(".bmp"))
          .as("img_url"),
        concat(lit("alt "), id % 6).as("alt"),
        id)
      val fetchedRecs = tbl(s, dir, "documents")
        .select((id % 40).as("m")).distinct()
        .as[Long].map { m =>
          val w = 9 + (m % 12).toInt
          val h = 8 + (m % 5).toInt
          val px = Multimodal.fixtureStream(
            s"pair $m".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
            w * h * 3)
          ("response", s"https://c.example/i/$m.bmp", 200,
            Multimodal.encodeBmp(w, h, px))
        }.toDF("warc_type", "target_uri", "http_status", "body")
      val joined = graft.pipeline.Crawl.imageBytesJoin(pairs, fetchedRecs)
      val samples = joined
        .select(col("doc_id"), col("alt"), col("body"))
        .as[(Long, String, Array[Byte])]
        .map { case (docId, alt, body) =>
          (docId.toString, Map(
            "bmp" -> body,
            "txt" -> alt.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            "json" -> s"""{"id":$docId}""".getBytes(
              java.nio.charset.StandardCharsets.US_ASCII)))
        }.toDF("key", "parts")
      val tmp = java.nio.file.Files.createTempDirectory("graft_pairwds_")
      deleteRecursivelyOnExit(tmp)
      val out = tmp.toFile.getAbsolutePath
      graft.sources.WebDataset.writeWebdatasetShards(
        samples.repartition(16), out, samplesPerShard = 50)
      graft.sources.WebDataset.webdatasetSamples(
          s.read.format("binaryFile").load(out), payloadCol = "content")
        .map { smp =>
          val d = Multimodal.decodeBmp(smp.parts("bmp"))
          (smp.key.toLong, smp.parts.size, smp.parts("txt"),
            d.map(_._1).getOrElse(-1), d.map(_._2).getOrElse(-1))
        }.toDF("doc_id", "n_parts", "txt", "img_w", "img_h")
        .select(col("doc_id"), col("n_parts"), md5(col("txt")).as("txt_md5"),
          col("img_w"), col("img_h"))
        .orderBy("doc_id")
    }),

    // Sitemap-index routing (r15): a <sitemapindex> body's locs are
    // child SITEMAPS to fetch and re-parse, never page seeds — id%3==0
    // bodies are two-child indexes (a shared maps/{id%20} child whose
    // per-listing <lastmod> days must MAX, a solo child without one,
    // and an already-fetched child that anti-joins away); the rest are
    // urlsets (one shared + one unique page) carrying a
    // '<sitemapindex>' WORD in a comment AFTER the <urlset> root — the
    // first-root-tag-wins contract under test. An index loc leaking
    // into kind=page (the pre-r15 behavior) or a page loc into
    // kind=sitemap hash-mismatches. Odd ids ship gzipped.
    "crawl_sitemap_index" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val site = docs.as[Long].map { id =>
        val day = f"${1 + id % 28}%02d"
        val xml =
          if (id % 3 == 0)
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               |<sitemap><loc>https://sm.example/maps/${id % 20}.xml.gz</loc><lastmod>2026-02-$day</lastmod></sitemap>
               |<sitemap><loc>https://sm.example/solo/$id.xml</loc></sitemap>
               |<sitemap><loc>https://sm.example/maps/fetched.xml</loc></sitemap>
               |</sitemapindex>""".stripMargin
          else
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               |<!-- generated; not a <sitemapindex> -->
               |<url><loc>https://sm.example/p/${id % 40}</loc></url>
               |<url><loc>https://sm.example/q/$id</loc></url>
               |</urlset>""".stripMargin
        val bytes = xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val body =
          if (id % 2 == 0) bytes
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(bytes); g.finish()
            bos.toByteArray
          }
        (id, body)
      }.toDF("doc_id", "body")
      val fetchedMaps = s.createDataFrame(
        Seq(Tuple1("https://sm.example/maps/fetched.xml"))).toDF("url")
      val children = graft.pipeline.Sitemaps.childSitemaps(site, fetchedMaps)
        .select(lit("sitemap").as("kind"), col("url"), col("n_refs"),
          col("lastmod"))
      val pages = graft.pipeline.Sitemaps.seedsFromBytes(site, fetchedMaps)
        .select(lit("page").as("kind"), col("url"), col("n_refs"),
          lit(null).cast("string").as("lastmod"))
      children.unionByName(pages).orderBy("kind", "url")
    }),

    // Conditional-fetch validators (r15): ETag / Last-Modified survive
    // the WARC HTTP split BYTE-EXACT (If-None-Match comparison is
    // opaque per RFC 9110 — strong quotes and weak W/"…" prefixes must
    // ride through) into Crawl.revalidators — per 200-url, the pair a
    // refresh fetcher sends back as If-None-Match/If-Modified-Since.
    // Arms: etag-only, last-modified-only, BOTH (weak etag), neither
    // (dropped — nothing to revalidate with); a 404 carrying an ETag
    // must not leak (the status gate). Odd groups ship gzipped.
    "crawl_revalidators" -> ((s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.flatMap { id =>
            val own = s"https://h${id % 7}.example/page/$id"
            val body = s"doc $id"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val page = (id % 4) match {
              case 0 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                etag = s""""e${id % 9}"""")
              case 1 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                lastModified = s"Thu, 0${1 + id % 7} Jan 2026 12:00:00 GMT")
              case 2 => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body,
                etag = s"""W/"w${id % 5}"""",
                lastModified = s"Sat, 15 Aug 2026 0${id % 10}:00:00 GMT")
              case _ => graft.sources.Warc.ResponseFixture(own, 200,
                contentType = "text/html", body = body)
            }
            val dead = graft.sources.Warc.ResponseFixture(
              s"https://h${id % 7}.example/gone/$id", 404,
              contentType = "text/html", etag = "\"dead\"")
            Seq(page, dead)
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      graft.pipeline.Crawl.revalidators(records).orderBy("url")
    }),

    // Per-host fetch health (late r15): status classes fold per
    // canonical host — 2xx/3xx and revisit recaptures are OK, 429
    // throttles (paced, not suppressed), other 4xx are page-level
    // client errors, 5xx is the host-suppression signal. One arm per
    // id%10 class; odd groups ship gzipped.
    "crawl_host_health" -> ((s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.map { id =>
            val url = s"https://hh${id % 5}.example/p/$id"
            val body = s"doc $id"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            (id % 10) match {
              case 5 => graft.sources.Warc.ResponseFixture(url, 301,
                contentType = "text/html", location = "/moved")
              case 6 => graft.sources.Warc.ResponseFixture(url, 404,
                contentType = "text/html")
              case 7 => graft.sources.Warc.ResponseFixture(url, 429,
                contentType = "text/html")
              case 8 => graft.sources.Warc.ResponseFixture(url, 503,
                contentType = "text/html")
              case 9 => graft.sources.Warc.ResponseFixture(url, 200,
                contentType = "text/plain", warcType = "revisit")
              case _ => graft.sources.Warc.ResponseFixture(url, 200,
                contentType = "text/html", body = body)
            }
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      graft.pipeline.Crawl.hostHealth(records).orderBy("host")
    }),

    // Unchanged-content recaptures as churn observations (r15): 304
    // Not Modified responses (what a conditional fetch sending the
    // revalidators gets back) and WARC `revisit` records (the Common
    // Crawl dedup form) flow through ingestBatch into the fetched
    // ledger as NULL-HASH observations — n_obs counts, no transition
    // pairs, and a LATER genuine change pairs against the PRE-revisit
    // hash. Two ingestBatch lifecycles over a 1-in-5 documents subset
    // (batch 1 carries the 304/revisit/changed/same arms — the
    // plumbing under test), then a compactFetched runs MID-HISTORY so
    // the fold preserves revisit accumulators, and batch 2 lands as a
    // direct ledger write (plain-200 ledger rows are crawl_corpus /
    // crawl_recrawl_churn territory; a third minhash lifecycle here
    // bought no coverage at ~3.5 s). Arms (id%4): 0 = 304 then
    // changed (n_obs 3, n_changes 1 — the change detected ACROSS the
    // 304), 1 = revisit twice (3 obs, 0 changes), 2 = changed 200
    // (2, 1), 3 = same 200 (2, 0).
    "crawl_revisit_churn" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_revisit_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val idxPath = fd.resolve("idx").toFile.getAbsolutePath
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 5 === 0)
      def warcOf(batch: Int): DataFrame =
        docs.withColumn("g", floor(col("doc_id") / 25))
          .groupBy("g")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .as[(Long, Seq[Long])]
          .map { case (g, ids) =>
            val recs = ids.flatMap { id =>
              val url = s"https://rv.example/p/$id"
              def r200(text: String) = Some(
                graft.sources.Warc.ResponseFixture(url, 200,
                  contentType = "text/plain; charset=utf-8",
                  body = text.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
              val a = s"content a${id % 4} of $id"
              val c = s"content c$id changed"
              (batch, (id % 4).toInt) match {
                case (0, _) => r200(a)
                case (1, 0) => Some(graft.sources.Warc.ResponseFixture(
                  url, 304, contentType = null))
                case (1, 1) => Some(graft.sources.Warc.ResponseFixture(
                  url, 200, contentType = "text/plain",
                  warcType = "revisit"))
                case (1, 2) => r200(c)
                case (1, _) => r200(a)
                case _ => None
              }
            }
            (g, graft.sources.Warc.encodeWarcFixtures(recs,
              gzipPerRecord = g % 2 == 1))
          }.toDF("g", "payload")
      (0 to 1).foreach { b =>
        val recs = graft.sources.Warc.warcRecords(warcOf(b)).toDF()
        Phases.timed(if (b == 0) "bootstrap" else "revisit_ingest") {
          graft.pipeline.Crawl.ingestBatch(s, recs, idxPath, b,
            threshold = 0.9, shingleK = 3, numHashes = 8, bands = 4,
            onPageLinks = pages => {
              // the stream's ledger write shape (EventStreams): revisit
              // rows are null-hash observations with n_obs = 1
              pages.select(col("url"), col("content_md5"),
                  when(col("content_md5").isNotNull || col("revisit"), 1L)
                    .otherwise(0L).as("n_obs"),
                  lit(0L).as("n_changes"))
                .write.mode("overwrite")
                .parquet(s"$fDir/fetched/batch=$b")
            })(_ => ())
        }
      }
      // fold mid-history: the compaction must preserve the revisit
      // observation counts for the batch-2 math to come out right
      graft.pipeline.Crawl.compactFetched(s, fDir)
      // batch 2, direct ledger rows: arm 0 refetches CHANGED (pairs
      // against the pre-304 hash), arm 1 revisits again
      docs.filter(col("doc_id") % 4 === 0)
        .select(concat(lit("https://rv.example/p/"), col("doc_id"))
            .as("url"),
          md5(concat(lit("c"), col("doc_id"))).as("content_md5"),
          lit(1L).as("n_obs"), lit(0L).as("n_changes"))
        .unionByName(docs.filter(col("doc_id") % 4 === 1)
          .select(concat(lit("https://rv.example/p/"), col("doc_id"))
              .as("url"),
            lit(null).cast("string").as("content_md5"),
            lit(1L).as("n_obs"), lit(0L).as("n_changes")))
        .write.mode("overwrite").parquet(s"$fDir/fetched/batch=2")
      graft.pipeline.Crawl.recrawlChurn(s, fDir).orderBy("url")
    }),

    // Ledger takedown (late r15): purgeUrls drops every row of the
    // forget set from fetched/ AND next/ (urls + hashes + churn
    // history are stored data about a page), preserving survivors
    // verbatim — churn over the remainder equals never having fetched
    // the purged urls. id%9==0 urls are forgotten mid-history (their
    // batch-1 refetch rows go too); the frontier ledger loses its
    // pending id%9==0 rows. Output = churn over survivors + the
    // surviving next rows, kind-tagged.
    "crawl_forget" -> ((s, dir) => {
      val fd = java.nio.file.Files.createTempDirectory("graft_forget_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val url = concat(lit("https://fg.example/p/"), id)
      def ledgerRows(batch: Int, cond: Column, key: Column) =
        docs.filter(cond).select(url.as("url"),
          md5(key).as("content_md5"), lit(1L).as("n_obs"),
          lit(0L).as("n_changes"), lit(batch.toLong).as("batch"))
      ledgerRows(0, lit(true), concat(lit("a"), id % 3))
        .unionByName(ledgerRows(1, id % 2 === 0, concat(lit("b"), id)))
        .write.partitionBy("batch").parquet(s"$fDir/fetched")
      docs.filter(id % 4 === 0)
        .select(concat(lit("https://fg.example/p/"), id + 7000000)
          .as("url"), lit(1L).as("n_refs"), lit(0L).as("batch"))
        .unionByName(docs.filter(id % 6 === 0).select(url.as("url"),
          lit(2L).as("n_refs"), lit(1L).as("batch")))
        .write.partitionBy("batch").parquet(s"$fDir/next")
      graft.pipeline.Crawl.purgeUrls(s, fDir,
        docs.filter(id % 9 === 0).select(url.as("url")))
      val churn = graft.pipeline.Crawl.recrawlChurn(s, fDir)
        .select(lit("fetched").as("kind"), col("url"),
          col("last_batch"), col("n_obs"), col("n_changes"))
      val next = s.read.parquet(s"$fDir/next")
        .select(lit("next").as("kind"), col("url"),
          col("batch").cast("long").as("last_batch"),
          col("n_refs").as("n_obs"), lit(-1L).as("n_changes"))
      churn.unionByName(next).orderBy("kind", "url")
    }),

    // Mirror-host detection (r15): id%3==0 pages exist on BOTH their
    // m{id%5} host and a mm{id%2} mirror with identical content —
    // those 10 host pairs must surface with exact shared counts and
    // per-host distinct-hash totals; a 'boiler' page replicated on all
    // five m-hosts exceeds maxHostsPerHash=4 and must NOT pair (the
    // boilerplate df-guard under test).
    "crawl_mirror_hosts" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val primary = docs.select(
        concat(lit("https://m"), id % 5, lit(".example/p/"), id).as("url"),
        md5(concat(lit("c"), id)).as("content_md5"))
      val mirror = docs.filter(id % 3 === 0).select(
        concat(lit("https://mm"), id % 2, lit(".example/p/"), id).as("url"),
        md5(concat(lit("c"), id)).as("content_md5"))
      val boiler = docs.select(
        concat(lit("https://m"), id % 5, lit(".example/boiler"))
          .as("url"),
        md5(lit("boiler")).as("content_md5"))
      val pages = primary.unionByName(mirror).unionByName(boiler)
      graft.pipeline.Crawl.mirrorHosts(pages, minShared = 2,
          maxHostsPerHash = 4)
        .orderBy("host_a", "host_b")
    }),

    // Host-edge ledger (late r15): the authority loop's persisted
    // graph — two page batches fold to per-batch (src_host, dst_host,
    // n) partitions via the SAME hostEdgeCounts the stream lands, a
    // compactEdges folds them (counts SUM, one partition at the max
    // batch — the compactNext convention), and hostEdgesLedger reads
    // the accumulated graph back. Batch 0: every page links its
    // rotate-host twin and a hub; batch 1: odd pages link the hub
    // again (counts must accumulate ACROSS the compaction boundary).
    // Self-edges (h{k}→h{k} when id%7 == (id*3)%7, i.e. id%7==0)
    // ride through like hostEdges emits them.
    "crawl_edges_ledger" -> ((s, dir) => {
      val fd = java.nio.file.Files.createTempDirectory("graft_edges_")
      deleteRecursivelyOnExit(fd)
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      def pagesOf(linkHost: Column, path: Column): DataFrame =
        docs.select(
          concat(lit("https://h"), id % 7, lit(".example/p/"), id)
            .as("url"),
          array(concat(lit("https://"), linkHost, lit(".example/"), path))
            .as("links"),
          lit(null).cast("string").as("base"))
      val b0 = pagesOf(concat(lit("h"), (id * 3) % 7), concat(lit("t/"), id))
        .unionByName(pagesOf(lit("hub"), lit("home")))
      graft.pipeline.Crawl.hostEdgeCounts(b0)
        .write.mode("overwrite").parquet(s"$fDir/edges/batch=0")
      graft.pipeline.Crawl.compactEdges(s, fDir)
      val b1 = docs.filter(id % 2 === 1).select(
        concat(lit("https://h"), id % 7, lit(".example/q/"), id).as("url"),
        array(lit("https://hub.example/home")).as("links"),
        lit(null).cast("string").as("base"))
      graft.pipeline.Crawl.hostEdgeCounts(b1)
        .write.mode("overwrite").parquet(s"$fDir/edges/batch=1")
      graft.pipeline.Crawl.hostEdgesLedger(s, fDir)
        .orderBy("src_host", "dst_host")
    }),

    // Image–text pair LEDGER (r16, supersession hardened r17): three
    // ingest lifecycles through the REAL WARC parser and ingestBatch's
    // onImages feed — batch 0 lands every page's figure-captioned
    // relative-src img (resolved onto the page host, caption
    // tag-stripped + entity-decoded), a mid-history compactImages
    // folds the partitions (must be invisible), batch 1 REFETCHES the
    // id%3==0 pages with a new absolute image that must supersede
    // their batch-0 pairs under the latest-per-url read, and batch 2
    // refetches the id%5==0 pages with NO images (id%10==0 turned
    // robots-meta noindex WITH an img still in the markup — both
    // classes harvest nothing) — their null-src sentinels must drop
    // the urls' stale pairs entirely, across a SECOND compaction
    // (sentinels fold to absence). Any resolution, caption,
    // supersession or compaction defect hash-mismatches.
    "crawl_images_ledger" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_imgled_")
      deleteRecursivelyOnExit(fd)
      val idxPath = fd.resolve("idx").toFile.getAbsolutePath
      val fDir = fd.resolve("frontier").toString
      def warcFiles(df: org.apache.spark.sql.DataFrame,
                    html: Long => String) =
        df.withColumn("g", floor(col("doc_id") / 25))
          .groupBy("g")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .as[(Long, Seq[Long])]
          .map { case (g, ids) =>
            val recs = ids.map { id =>
              graft.sources.Warc.ResponseFixture(
                s"https://h${id % 7}.example/pg/$id", 200,
                contentType = "text/html",
                body = html(id)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            (g, graft.sources.Warc.encodeWarcFixtures(recs,
              gzipPerRecord = g % 2 == 1))
          }.toDF("g", "payload")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      def land(batch: Long)(pairs: org.apache.spark.sql.DataFrame): Unit =
        pairs.write.mode("overwrite").parquet(s"$fDir/images/batch=$batch")
      val recs0 = graft.sources.Warc.warcRecords(
        warcFiles(docs, id =>
          s"""<p>page $id body words</p>
             |<figure><img src="/i0/${id % 5}.jpg" alt="a${id % 3}">
             |<figcaption>C ${id % 4}</figcaption></figure>""".stripMargin))
        .toDF()
      Phases.timed("ingest0") {
        graft.pipeline.Crawl.ingestBatch(s, recs0, idxPath, 0,
          onPageLinks = _ => (), onImages = land(0)) { _.count() }
      }
      // maintenance fold between the batches — preservation under test
      Phases.timed("fold") { graft.pipeline.Crawl.compactImages(s, fDir) }
      val recs1 = graft.sources.Warc.warcRecords(
        warcFiles(docs.filter(col("doc_id") % 3 === 0), id =>
          s"""<p>changed $id body tokens</p>
             |<img src="https://cdn.example/n/${id % 6}.png" alt="new">"""))
        .toDF()
      Phases.timed("ingest1") {
        graft.pipeline.Crawl.ingestBatch(s, recs1, idxPath, 1,
          onPageLinks = _ => (), onImages = land(1)) { _.count() }
      }
      // refetch DROPS the images (id%10==0 additionally turns noindex
      // with an img still present) — sentinels must supersede
      val recs2 = graft.sources.Warc.warcRecords(
        warcFiles(docs.filter(col("doc_id") % 5 === 0), id =>
          if (id % 10 == 0)
            s"""<meta name="robots" content="noindex">
               |<p>private now $id</p>
               |<img src="/still/${id % 4}.gif" alt="hidden">""".stripMargin
          else s"<p>images removed $id plain prose</p>"))
        .toDF()
      Phases.timed("ingest2") {
        graft.pipeline.Crawl.ingestBatch(s, recs2, idxPath, 2,
          onPageLinks = _ => (), onImages = land(2)) { _.count() }
      }
      // second fold: sentinels + the pairs they superseded drop
      // physically; the read after must be identical
      Phases.timed("fold2") { graft.pipeline.Crawl.compactImages(s, fDir) }
      graft.pipeline.Crawl.imagePairsLedger(s, fDir)
        .orderBy("url")
    }),

    // The image FETCH loop (r17 — LAION step 2 closed): harvested
    // pairs land in the ledger through the REAL WARC parser, then
    // imageFetchList turns distinct img_urls into a (url, n_refs)
    // fetch frontier — the already-fetched j=0 images anti-join away
    // against a pre-seeded fetched ledger, the blocked.example arm
    // drops at the blocklist gate — which schedules per-host
    // politeness rounds exactly like page fetches; the scheduled urls
    // come back as 200 responses carrying REAL deterministic BMPs and
    // imageBytesJoin attaches the bytes to every referencing pair for
    // the decode chain (decodeBmp dims prove the payload routed
    // intact). Any harvest/dedup/gating/scheduling/join defect
    // hash-mismatches.
    "crawl_image_fetch" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_imgfetch_")
      deleteRecursivelyOnExit(fd)
      val idxPath = fd.resolve("idx").toFile.getAbsolutePath
      val fDir = fd.resolve("frontier").toString
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val files = docs.withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (g, ids) =>
          val recs = ids.map { id =>
            val html =
              if (id % 5 == 4)
                s"""<p>page $id words</p><img src="https://blocked.example/b/${id % 3}.bmp" alt="x">"""
              else
                s"""<p>page $id words</p><img src="/i/${id % 5}.bmp" alt="a${id % 3}">"""
            graft.sources.Warc.ResponseFixture(
              s"https://h${id % 7}.example/pg/$id", 200,
              contentType = "text/html",
              body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val recs0 = graft.sources.Warc.warcRecords(files).toDF()
      Phases.timed("ingest") {
        graft.pipeline.Crawl.ingestBatch(s, recs0, idxPath, 0,
          onPageLinks = _ => (),
          onImages = _.write.mode("overwrite")
            .parquet(s"$fDir/images/batch=0")) { _.count() }
      }
      // an earlier fetch cycle already fetched every host's /i/0.bmp —
      // the shared fetched ledger must gate them out
      (0 until 7).map(k => (s"https://h$k.example/i/0.bmp",
          null.asInstanceOf[String], 1L, 0L))
        .toDF("url", "content_md5", "n_obs", "n_changes")
        .withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(s"$fDir/fetched")
      // r18: ONE materialized ledger read shared by the fetch list and
      // the bytes join (the crawl_media_fetch rationale)
      val ledger = graft.pipeline.Crawl.imagePairsLedger(s, fDir)
        .localCheckpoint()
      val fetchList = graft.pipeline.Crawl.imageFetchList(s, fDir,
        blockedDomains = Seq("blocked.example").toDF("domain"),
        pairsLedger = ledger)
      val sched = graft.pipeline.Crawl.schedule(fetchList, maxRounds = 5)
      // the fetcher's 200s: a REAL 24-bit BMP per scheduled url, dims
      // derived from the url's own (host, file) arithmetic
      val fetched = sched.select(col("url")).as[String].map { u =>
        val k = u.charAt("https://h".length) - '0'
        val j = u.charAt(u.length - 5) - '0'
        val w = 4 + j
        val h = 3 + k
        val rgb = Array.tabulate(w * h * 3)(i =>
          ((k * 31 + j * 7 + i) % 251).toByte)
        ("response", u, 200, graft.multimodal.Multimodal.encodeBmp(w, h, rgb))
      }.toDF("warc_type", "target_uri", "http_status", "body")
      val joined = graft.pipeline.Crawl.imageBytesJoin(ledger, fetched)
      val decoded = joined.select(col("url"), col("img_url"), col("alt"),
          col("body"))
        .as[(String, String, String, Array[Byte])]
        .map { case (u, iu, alt, b) =>
          val d = graft.multimodal.Multimodal.decodeBmp(b)
          (u, iu, alt, d.map(_._1).getOrElse(-1).toLong,
            d.map(_._2).getOrElse(-1).toLong)
        }.toDF("url", "img_url", "alt", "width", "height")
      decoded.join(sched.select(col("url").as("img_url"), col("n_refs"),
          col("round")), Seq("img_url"))
        .select(col("url"), col("img_url"), col("alt"), col("n_refs"),
          col("round"), col("width"), col("height"))
        .orderBy("url")
    }),

    // CLIP-style pair filtering (r17 — LAION step 3, closing the
    // harvest → fetch → FILTER chain): every page carries one image
    // pair; the image and caption embeddings come from the embeddings
    // table by doc_id arithmetic (img vec = id%500, text vec =
    // (7·id+3)%500 — SF-stable keys), and pairEmbeddingFilter keeps
    // pairs whose cosine crosses τ=0.05. The kept set is
    // data-dependent (near-random embeddings straddle the threshold
    // both ways), the score emits through the DECIMAL(18,6)→DOUBLE
    // harness-proof rounding, and the oracle replays the joins + the
    // τ comparison with DuckDB's own cosine.
    "crawl_pair_clip" -> ((s, dir) => {
      val id = col("doc_id")
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://h"), id % 7, lit(".example/pg/"), id)
          .as("url"),
        concat(lit("https://img.example/i/"), id % 500).as("img_url"),
        concat(lit("alt "), id % 3).as("alt"),
        (id % 500).as("_iv_key"), ((id * 7 + 3) % 500).as("_tv_key"))
      val e = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val kept = graft.pipeline.Crawl.pairEmbeddingFilter(
        pairs.drop("_iv_key", "_tv_key"),
        pairs.select(col("img_url"), col("_iv_key")).distinct()
          .join(e, col("_iv_key") === col("vec_id"))
          .select(col("img_url"), col("embedding")),
        pairs.select(col("url"), col("_tv_key"))
          .join(e, col("_tv_key") === col("vec_id"))
          .select(col("url"), col("embedding")),
        threshold = 0.05)
      kept.select(col("url"), col("img_url"), col("alt"),
          col("clip_score").cast("decimal(18,6)").cast("double")
            .as("clip_score"))
        .orderBy("url")
    }),

    // Perceptual pair dedup (r17 — LAION step 4, the mirror-collapse):
    // every page cites the SAME image twice — once per mirror CDN, and
    // the cdn-b copy is a CONTAINER SWAP (the BMP's pixels re-encoded
    // P6, so byte-level and url-level dedup both miss it) — plus a
    // corrupt .bin arm that must pass through untouched. The aHash,
    // the hamming pair set (including any cross-m near-collisions the
    // fixture happens to produce), the min-url cluster canonicals, the
    // re-keying, and the exact fold all replay in SQL — the full
    // media_phash_prune oracle machinery pointed at urls.
    "crawl_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val page = concat(lit("https://h"), id % 7, lit(".example/pg/"), id)
      def mirror(prefix: String) = docs.select(page.as("url"),
        concat(lit(prefix), id % 10, lit(".bmp")).as("img_url"),
        concat(lit("a"), id % 3).as("alt"))
      val corrupt = Seq("https://cdn-a.example/x/bad.bin",
          "https://cdn-b.example/x/bad.bin")
        .map(u => docs.filter(id % 97 === 0).select(page.as("url"),
          lit(u).as("img_url"), lit("bad").as("alt")))
        .reduce(_ unionByName _)
      val pairs = mirror("https://cdn-a.example/img/")
        .unionByName(mirror("https://cdn-b.example/m/"))
        .unionByName(corrupt)
      val imgs = docs.select((id % 10).as("m")).distinct()
        .as[Long].flatMap { m =>
          val w = 16 + m.toInt
          val h = 12 + (m % 5).toInt
          val px = Multimodal.fixtureStream(
            s"img $m".getBytes(java.nio.charset.StandardCharsets.US_ASCII),
            w * h * 3)
          Seq((s"https://cdn-a.example/img/$m.bmp",
              Multimodal.encodeBmp(w, h, px)),
            (s"https://cdn-b.example/m/$m.bmp",
              Multimodal.encodePpm(w, h, px)))
        }.toDF("img_url", "body")
        .unionByName(Seq(
          ("https://cdn-a.example/x/bad.bin", "NOTANIMAGE".getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)),
          ("https://cdn-b.example/x/bad.bin", "NOTANIMAGE".getBytes(
            java.nio.charset.StandardCharsets.US_ASCII)))
          .toDF("img_url", "body"))
      graft.pipeline.Crawl.dedupePairsByImage(pairs, imgs)
        .orderBy("url", "img_url")
    }),

    // LAION-style pair quality screens (r17 — the pre-embedding
    // gates): geometry from doc arithmetic exercises the min-dims and
    // aspect cuts, id%53 rows are undecodable (null dims — drop),
    // id%31 captions are too short, id%41 too long, and the id%10==7
    // "stock photo" caption is boilerplate — its page-df crosses the
    // threshold at the gate SFs but NOT at sf0.001 (the HAVING itself
    // is oracle-replayed, the crawl_soft404_templates pattern, so the
    // verdict is SF-consistent by construction).
    "crawl_pair_quality" -> ((s, dir) => {
      val id = col("doc_id")
      val pairs = tbl(s, dir, "documents").select(
        concat(lit("https://h"), id % 7, lit(".example/pg/"), id)
          .as("url"),
        concat(lit("https://img.example/i/"), id, lit(".jpg"))
          .as("img_url"),
        when(id % 10 === 7, lit("stock photo"))
          .when(id % 31 === 0, lit("x"))
          .when(id % 41 === 0, lit("y" * 300))
          .otherwise(concat(lit("cap "), id)).as("alt"),
        when(id % 53 === 0, lit(null).cast("int"))
          .otherwise((lit(16) + id % 200).cast("int")).as("width"),
        when(id % 53 === 0, lit(null).cast("int"))
          .otherwise((lit(16) + id % 90).cast("int")).as("height"))
      graft.pipeline.Crawl.pairQualityFilter(pairs,
          minWidth = 32, minHeight = 24, maxAspect = 3.0,
          minCaptionChars = 3, maxCaptionChars = 200,
          maxCaptionPages = 10)
        .orderBy("url")
    }),

    // Within-host error templates / soft-404s (r15): each host h{k}
    // serves a "not found" template at every id%5==0 url (over the
    // minUrls=10 threshold at sf0.01 — flagged) and a small recurring
    // widget at id%5!=0 && id%100<3 urls (under it at sf0.01, OVER it
    // at sf0.1 — the threshold arithmetic itself is oracle-gated
    // because both sides replay the same HAVING); unique pages fill
    // the rest. Output per host: flagged template count, the urls
    // they cover, and the pages dropTemplatePages keeps (null-hash
    // rows pass through — one per host here).
    "crawl_soft404_templates" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val pages = docs.select(
        concat(lit("https://h"), id % 7, lit(".example/p/"), id).as("url"),
        when(id % 5 === 0, md5(concat(lit("nf"), id % 7)))
          .when(id % 100 < 3, md5(concat(lit("sm"), id % 7)))
          .otherwise(md5(concat(lit("u"), id))).as("content_md5"))
        .unionByName(docs.filter(id % 97 === 0).select(
          concat(lit("https://h"), id % 7, lit(".example/r/"), id)
            .as("url"),
          lit(null).cast("string").as("content_md5")))
      val templates = graft.pipeline.Crawl.hostTemplates(pages,
        minUrls = 10)
      val kept = graft.pipeline.Crawl.dropTemplatePages(pages, templates)
        .select(graft.pipeline.UrlFilter.hostOf(col("url")).as("host"))
        .groupBy("host").agg(count(lit(1)).as("kept_urls"))
      templates.groupBy("host")
        .agg(count(lit(1)).as("n_templates"),
          sum(col("n_urls")).cast("long").as("flagged_urls"))
        .join(kept, Seq("host"))
        .orderBy("host")
    }),

    // RFC 9309 robots gate (pipeline.Robots): per-host robots.txt bodies
    // parse into (agent, allow, path) rules; candidate urls keep only
    // what the agent may fetch (winning group = longest named prefix
    // else '*'; longest-match wins, allow wins ties, silent hosts allow).
    // EVEN hosts carry a graftbot group (Disallow /page/1, Allow
    // /page/12 -- the longest-match override) plus a Disallow-all '*'
    // group that must NOT apply to us; ODD hosts restrict only otherbot.
    // Literal prefixes only here so DuckDB rebuilds the decision with
    // starts_with; wildcard/$ semantics are RobotsSpec's regex
    // cross-check territory.
    "crawl_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val robots = (0 until 7).map { k =>
        val body =
          if (k % 2 == 0)
            "User-agent: graftbot\nDisallow: /page/1\nAllow: /page/12\n" +
              "User-agent: *\nDisallow: /"
          else
            "User-agent: otherbot\nDisallow: /"
        (s"h$k.example", body)
      }.toDF("host", "body")
      val rules = graft.pipeline.Robots.rulesDf(robots)
      val pages = tbl(s, dir, "documents")
        .select(concat(lit("https://h"), col("doc_id") % 7,
          lit(".example/page/"), col("doc_id")).as("url"))
      graft.pipeline.Robots.filterAllowed(pages, rules, "GraftBot/2.1")
        .orderBy("url")
    }),

    // Robots fetch OUTCOMES (late r15, RFC 9309 §2.3.1): the rules a
    // crawl derives from its own robots.txt fetch records — a 200
    // parses (r200 disallows /private), a 3xx FOLLOWS to the final 200
    // and applies it to the ORIGINATING host (r301's rules live at
    // rhub.example/robots-master.txt, disallowing /blocked), a 5xx is
    // complete disallow (r500 loses every url), a 404 allows all, a
    // redirect LOOP exhausts into allow-all, and a host with both a
    // 503 and a successful retry honors the 200 (r500ok). Candidates
    // from doc_id arithmetic; the oracle replays the outcome decision
    // per class.
    "crawl_robots_outcomes" -> ((s, dir) => {
      import s.implicits._
      val disallowPrivate = "User-agent: *\nDisallow: /private"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val disallowBlocked = "User-agent: *\nDisallow: /blocked"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      def rf(uri: String, status: Int, location: String = null,
             body: Array[Byte] = Array.emptyByteArray) =
        graft.sources.Warc.ResponseFixture(uri, status,
          contentType = "text/plain", location = location, body = body)
      val warc = graft.sources.Warc.encodeWarcFixtures(Seq(
        rf("https://r200.example/robots.txt", 200,
          body = disallowPrivate),
        rf("https://r301.example/robots.txt", 301,
          location = "https://rhub.example/robots-master.txt"),
        rf("https://rhub.example/robots-master.txt", 200,
          body = disallowBlocked),
        rf("https://r500.example/robots.txt", 503),
        rf("https://r404.example/robots.txt", 404),
        rf("https://rloop.example/robots.txt", 302,
          location = "https://rloop.example/robots.txt"),
        rf("https://r500ok.example/robots.txt", 503),
        rf("https://r500ok.example/robots.txt", 200,
          body = disallowPrivate)))
      val records = graft.sources.Warc.warcRecords(
        Seq(Tuple1(warc)).toDF("payload")).toDF()
      val rules = graft.pipeline.Robots.rulesFromRecords(records)
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val hosts = Seq("r200", "r301", "r500", "r404", "rloop", "r500ok")
      val pages = hosts.map { h =>
        val special = if (h == "r301") "blocked" else "private"
        docs.select(concat(lit(s"https://$h.example/page/"), id)
            .as("url"))
          .unionByName(docs.select(
            concat(lit(s"https://$h.example/$special/"), id).as("url")))
      }.reduce(_ unionByName _)
      graft.pipeline.Robots.filterAllowed(pages, rules, "graftbot")
        .orderBy("url")
    }),

    // Robots-cache ledger (late r15): per-batch outcome rows with
    // LATEST-PER-HOST-WINS reads — rb0's batch-0 disallow is
    // superseded by its batch-1 404 (the site DELETED robots.txt; the
    // explicit allow sentinel must beat the stale rule), rb1 gains
    // rules in batch 1, rb2's batch-0 rules persist unrefetched.
    "crawl_robots_ledger" -> ((s, dir) => {
      import s.implicits._
      val fd = java.nio.file.Files.createTempDirectory("graft_robledger_")
      deleteRecursivelyOnExit(fd)
      val ledger = fd.resolve("robots").toString
      def rf(uri: String, status: Int, body: String = "") =
        graft.sources.Warc.ResponseFixture(uri, status,
          contentType = "text/plain",
          body = body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val batches = Seq(
        Seq(rf("https://rb0.example/robots.txt", 200,
            "User-agent: *\nDisallow: /private"),
          rf("https://rb1.example/robots.txt", 404),
          rf("https://rb2.example/robots.txt", 200,
            "User-agent: *\nDisallow: /secret")),
        Seq(rf("https://rb0.example/robots.txt", 404),
          rf("https://rb1.example/robots.txt", 200,
            "User-agent: *\nDisallow: /p2")))
      batches.zipWithIndex.foreach { case (recs, b) =>
        val records = graft.sources.Warc.warcRecords(
          Seq(Tuple1(graft.sources.Warc.encodeWarcFixtures(recs)))
            .toDF("payload")).toDF()
        graft.pipeline.Robots.outcomesFromRecords(records)
          .write.mode("overwrite").parquet(s"$ledger/batch=$b")
      }
      val rules = graft.pipeline.Robots.rulesFromLedger(s, ledger)
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id")
      val pages = Seq(("rb0", "private"), ("rb1", "p2"), ("rb2", "secret"))
        .map { case (h, special) =>
          docs.select(concat(lit(s"https://$h.example/page/"), id)
              .as("url"))
            .unionByName(docs.select(
              concat(lit(s"https://$h.example/$special/"), id).as("url")))
        }.reduce(_ unionByName _)
      graft.pipeline.Robots.filterAllowed(pages, rules, "graftbot")
        .orderBy("url")
    }),

    // Sitemap DISCOVERY from robots.txt (r17): every host's robots
    // body lists its doc-derived sitemap shards RELATIVE (resolved
    // against the robots url), a host-absolute index, and the shared
    // CDN index all seven hosts point at (n_refs must sum across
    // hosts); s3's index is already fetched (anti-joins away), s5
    // carries an uppercase-scheme/host arm (canonicalized, path case
    // kept), and a 404 robots body with a Sitemap line contributes
    // NOTHING (status gate). Feeds Sitemaps.childSitemaps/
    // seedsFromBytes unchanged.
    "crawl_robots_sitemaps" -> ((s, dir) => {
      import s.implicits._
      val files = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 11 === 0)
        .withColumn("k", col("doc_id") % 7)
        .groupBy("k")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .as[(Long, Seq[Long])]
        .map { case (k, ids) =>
          val b = new StringBuilder
          b ++= "User-agent: *\nDisallow: /private\n"
          ids.foreach(i => b ++= s"Sitemap: /sm/part-$i.xml\n")
          b ++= "Sitemap: https://cdn.example/shared.xml # shared CDN index\n"
          b ++= s"sitemap: https://s$k.example/sitemap.xml\n"
          if (k == 5) b ++= "Sitemap: HTTPS://S5.EXAMPLE/CAPS/sm.xml\n"
          val recs = Seq(graft.sources.Warc.ResponseFixture(
            s"https://s$k.example/robots.txt", 200,
            contentType = "text/plain",
            body = b.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))) ++
            (if (k == 1) Seq(graft.sources.Warc.ResponseFixture(
              "https://s404.example/robots.txt", 404,
              contentType = "text/plain",
              body = "Sitemap: https://s404.example/never.xml".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)))
             else Nil)
          (k, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = k % 2 == 1))
        }.toDF("k", "payload")
      val records = graft.sources.Warc.warcRecords(files).toDF()
      val fetched = Seq("https://s3.example/sitemap.xml").toDF("url")
      graft.pipeline.Robots.sitemapsFromRecords(records, fetched)
        .orderBy("url")
    }),

    // Charset-aware extraction: each document encodes into one of four
    // real crawl charsets (UTF-8 via <meta>, windows-1252 via the HTTP
    // header, Shift_JIS via <meta>, UTF-16LE via BOM -- the resolution
    // ladder's first three rungs), with a charset-specific non-ASCII
    // marker prepended so a wrong decode cannot hash-collide with the
    // right one. The document text is ASCII-projected ([^ -~] stripped,
    // same expression both engines) so every arm round-trips its charset
    // exactly; the oracle rebuilds marker + collapsed text in SQL.
    "html_extract_charsets" -> ((s, dir) => {
      import s.implicits._
      val rows = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val win1252 = java.nio.charset.Charset.forName("windows-1252")
          val ascii = text.replaceAll("[^ -~]", "")
          val esc = ascii.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val arm = (id % 4).toInt
          val (ct, bytes) = arm match {
            case 0 =>
              val h = "<html><head><meta charset=\"utf-8\"></head><body>" +
                s"<p>\u2713 UTF $esc</p></body></html>"
              ("text/html", h.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case 1 =>
              val h = "<html><head></head><body>" +
                s"<p>\u20ACuro r\u00E9sum\u00E9 $esc</p></body></html>"
              ("text/html; charset=windows-1252", h.getBytes(win1252))
            case 2 =>
              val h = "<html><head><meta http-equiv=\"Content-Type\" " +
                "content=\"text/html; charset=shift_jis\"></head><body>" +
                s"<p>\u65E5\u672C\u8A9E $esc</p></body></html>"
              ("text/html", h.getBytes("Shift_JIS"))
            case _ =>
              val h = "<html><head></head><body>" +
                s"<p>\u0431\u0443\u043A\u0432\u03BB $esc</p></body></html>"
              ("text/html",
                Array[Byte](0xFF.toByte, 0xFE.toByte) ++ h.getBytes("UTF-16LE"))
          }
          (id, ct, bytes)
        }.toDF("doc_id", "http_content_type", "body")
      graft.pipeline.HtmlText
        .extractFromBodies(rows, "body", "text", "http_content_type", "cs")
        .select(col("doc_id"),
          md5(col("text")).as("text_md5"),
          length(col("text")).cast("long").as("n_chars"),
          col("cs").as("charset"),
          col("cs_fallback").as("charset_fallback"))
        .orderBy("doc_id")
    }),

    // WARC ingestion through the REAL ISO 28500 parser: documents pack
    // into multi-record WARC files (one warcinfo + N HTTP responses,
    // half the files gzipped ONE MEMBER PER RECORD — the Common Crawl
    // packaging), then explode back through Warc.warcRecords. The oracle
    // recomputes status/length/md5 from the documents table directly, so
    // a header-walk, Content-Length, HTTP-split, or gzip-member
    // regression breaks the hash. Lossless end-to-end: byte-exact check.
    "warc_ingest" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val files = docs
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("rs"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (g, rs) =>
          val recs = rs.map { case (id, text) =>
            val status = if (id % 10 == 7) 404 else 200
            graft.sources.Warc.ResponseFixture(s"https://graft.test/doc/$id",
              status, contentType = "text/plain; charset=utf-8",
              body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      graft.sources.Warc.warcRecords(files).toDF()
        .filter(col("warc_type") === "response")
        .select(
          substring(col("target_uri"), 24, 32).cast("long").as("doc_id"),
          col("http_status"),
          col("http_content_type").as("content_type"),
          length(col("body")).cast("long").as("body_len"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // The END-TO-END crawl flagship: WARC bytes -> records -> charset-
    // aware HTML extraction -> minhash near-dup prune against the
    // persisted corpus index -> fold-in (graft.pipeline.Crawl.ingestBatch,
    // the same body the streaming loop and the CLI run). Batch 1
    // bootstraps the index from every document (html_extract's template);
    // batch 2 replays the truncated near-dup fixture (mutatedDocs) and
    // must prune exactly the docs whose EXTRACTED text is >= 0.3 Jaccard
    // to some stored original -- the oracle rebuilds extraction AND the
    // shingle-Jaccard decision in SQL (the html_extract +
    // doc_incremental_dedup oracles composed).
    "crawl_corpus" -> ((s, dir) => {
      import s.implicits._
      val idxDir = java.nio.file.Files.createTempDirectory("graft_crawl_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      def warcFiles(docs: DataFrame): DataFrame =
        docs.withColumn("g", floor((col("doc_id") % 1000000L) / 25))
          .groupBy("g")
          .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
            .as("rs"))
          .as[(Long, Seq[(Long, String)])]
          .map { case (g, rs) =>
            val recs = rs.map { case (id, text) =>
              val esc = text.replace("&", "&amp;")
                .replace("<", "&lt;").replace(">", "&gt;")
              val html =
                s"""<!DOCTYPE html><html><head><title>Doc $id</title>
                   |<style>body { color: #fff; } /* <p>not text</p> */</style>
                   |<script type="text/javascript">if (1 < 2) { var s = "</div>"; }</script>
                   |</head><body>
                   |<!-- comment <p>fake</p> -->
                   |<h1>&#68;oc $id</h1>
                   |<p>$esc</p>
                   |<div>footer &#169; 2026</div>
                   |</body></html>""".stripMargin
              graft.sources.Warc.ResponseFixture(s"https://graft.test/doc/$id",
                200, contentType = "text/plain; charset=utf-8",
                body = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            (g, graft.sources.Warc.encodeWarcFixtures(recs,
              gzipPerRecord = g % 2 == 1))
          }.toDF("g", "payload")
      val recs1 = graft.sources.Warc.warcRecords(
        warcFiles(tbl(s, dir, "documents").select("doc_id", "text"))).toDF()
      Phases.timed("bootstrap") {
        graft.pipeline.Crawl.ingestBatch(s, recs1, idxPath, 0,
          threshold = 0.3, shingleK = 4, numHashes = 128, bands = 64)(_ => ())
      }
      // batch 2 carries BOTH polarity classes: near-dups that must be
      // pruned (truncated copies) and genuinely-fresh docs that must
      // survive (md5-derived text -- shares no shingle with any original,
      // and the same expression rebuilds in DuckDB)
      val freshDocs = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("fresh corpus item "), md5(col("text").cast("binary")),
            lit(" "), md5(md5(col("text").cast("binary")).cast("binary")))
            .as("text"))
      val batch2 = mutatedDocs(s, dir).unionByName(freshDocs)
      val recs2 = graft.sources.Warc.warcRecords(warcFiles(batch2)).toDF()
      val (survivors, _) = Phases.timed("probe_ingest") {
        graft.pipeline.Crawl.ingestBatch(s, recs2,
          idxPath, 1, threshold = 0.3, shingleK = 4, numHashes = 128,
          bands = 64) { fresh =>
          // batch-2 is |documents|/25 rows -- a driver-sized constant
          fresh.select("url").as[String].collect().toSet
        }
      }
      val mutIds = batch2.select("doc_id").as[Long]
        .collect().sorted.toSeq
      s.createDataFrame(mutIds.map { id =>
        val url = s"https://graft.test/doc/$id"
        (id, url, survivors.contains(url))
      }).toDF("doc_id", "url", "survived").orderBy("doc_id")
    }),

    // the DSv2 `warc` format end-to-end: the same packed files land on
    // disk as real .warc/.warc.gz files (written from EXECUTORS — the
    // distributed-write shape; no driver collect), then read back with
    // spark.read.format("warc") — file listing, gzip sniffing, member
    // parsing, and InternalRow production all on the oracle-checked
    // path. Same oracle as warc_ingest: the source must be lossless.
    "warc_source_scan" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val files = docs
        .withColumn("g", floor(col("doc_id") / 25))
        .groupBy("g")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("rs"))
        .as[(Long, Seq[(Long, String)])]
        .map { case (g, rs) =>
          val recs = rs.map { case (id, text) =>
            val status = if (id % 10 == 7) 404 else 200
            graft.sources.Warc.ResponseFixture(s"https://graft.test/doc/$id",
              status, contentType = "text/plain; charset=utf-8",
              body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (g, graft.sources.Warc.encodeWarcFixtures(recs,
            gzipPerRecord = g % 2 == 1))
        }.toDF("g", "payload")
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_src_")
      deleteRecursivelyOnExit(tmp)
      val out = tmp.toFile.getAbsolutePath
      files.foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val g = row.getLong(0)
            val ext = if (g % 2 == 1) "warc.gz" else "warc"
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"part-$g.$ext"),
              row.getAs[Array[Byte]](1))
          }
      }
      s.read.format("warc").load(out)
        .filter(col("warc_type") === "response")
        .select(
          substring(col("target_uri"), 24, 32).cast("long").as("doc_id"),
          col("http_status"),
          col("http_content_type").as("content_type"),
          length(col("body")).cast("long").as("body_len"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // WET-style export round-trip (late r15): the corpus written as
    // WARC `conversion` shards (the form extracted text actually
    // ships in — no HTTP layer, text/plain payload) from the
    // EXECUTORS, then read back through the DSv2 source. Lossless by
    // the oracle: every doc's text bytes survive md5-exact, the
    // record type is pinned `conversion`, and the absent HTTP layer
    // reads as status -1.
    "wet_export_scan" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(
        concat(lit("https://graft.test/doc/"), col("doc_id")).as("url"),
        col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_wet_")
      deleteRecursivelyOnExit(tmp)
      val out = tmp.toFile.getAbsolutePath
      // writer parallelism = input partitions (the writeShards
      // contract): a single-file parquet read would gzip every record
      // on one core — spread the export like a real exporter does
      graft.sources.Warc.writeWetShards(docs.repartition(32), out,
        recordsPerShard = 500)
      s.read.format("warc").load(out)
        .filter(col("warc_type") === "conversion")
        .select(
          substring(col("target_uri"), 24, 32).cast("long").as("doc_id"),
          col("warc_type"), col("http_status"),
          length(col("body")).cast("long").as("body_len"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // WebDataset EXPORT round-trip (r17 — the write side of
    // webdataset_ingest, closing the multimodal interchange loop):
    // every doc becomes one sample (txt + json members, a genuine PNG
    // for every third doc; every seventh doc's key carries a 110-char
    // directory prefix forcing GNU long-name entries through writer
    // AND reader), written as whole-shard-gzipped tars FROM THE
    // EXECUTORS, then read back through binaryFile +
    // webdatasetSamples. Lossless by the oracle: member counts, the
    // round-tripped key length, text md5, and the PNG's decoded
    // dims/luma all replay from the fixture formula.
    "webdataset_export_scan" -> ((s, dir) => {
      import s.implicits._
      val samples = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val key = if (id % 7 == 0) ("d" * 110) + s"/$id" else id.toString
          val base = Map(
            "txt" -> tb,
            "json" -> s"""{"id":$id}""".getBytes(
              java.nio.charset.StandardCharsets.US_ASCII))
          val parts =
            if (id % 3 == 0) {
              val w = 16 + (id % 16).toInt
              val h = 16 + (id % 8).toInt
              base + ("png" -> Multimodal.encodePng(w, h,
                Multimodal.fixtureStream(tb, w * h * 3)))
            } else base
          (key, parts)
        }.toDF("key", "parts")
      val tmp = java.nio.file.Files.createTempDirectory("graft_wds_")
      deleteRecursivelyOnExit(tmp)
      val out = tmp.toFile.getAbsolutePath
      graft.sources.WebDataset.writeWebdatasetShards(
        samples.repartition(16), out, samplesPerShard = 25, gzip = true)
      val files = s.read.format("binaryFile").load(out)
      graft.sources.WebDataset.webdatasetSamples(files, payloadCol = "content")
        .map { smp =>
          val id = smp.key.substring(smp.key.lastIndexOf('/') + 1).toLong
          val (iw, luma) = smp.parts.get("png") match {
            case Some(b) => Multimodal.decodeFirstFrame(b) match {
              case Some((w, _, px)) =>
                var sum = 0L
                var i = 0
                while (i < px.length) { sum += px(i) & 0xFF; i += 1 }
                (w, sum.toDouble / px.length)
              case None => (-1, -1.0)
            }
            case None => (-1, -1.0)
          }
          (id, smp.key.length.toLong, smp.parts.size, smp.parts("txt"),
            iw, luma)
        }.toDF("doc_id", "key_len", "n_parts", "txt", "img_w", "img_luma")
        .select(col("doc_id"), col("key_len"), col("n_parts"),
          md5(col("txt")).as("txt_md5"), col("img_w"), col("img_luma"))
        .orderBy("doc_id")
    }),

    // JPEG through the REAL baseline decoder (marker grammar, Huffman,
    // IDCT, restart-marker resync): lossy, so the oracle pins
    // decodability + exact dimensions — a decoder that fails any arm
    // (color 4:4:4, grayscale, RST every 2 MCUs) emits (-1, -1, false)
    // and hash-mismatches. Pixel-level agreement is spec-pinned against
    // the JDK's ImageIO decoder (JpegSpec).
    "media_jpeg_meta" -> ((s, dir) => {
      Multimodal.jpegMeta(
        Multimodal.syntheticJpegMedia(tbl(s, dir, "documents"), "doc_id", "text"))
        .orderBy("id")
    }),

    "media_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(tbl(s, dir, "documents"), "doc_id", "text"),
        stride = 2)
        .groupBy(col("id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("id")
    }),

    // audio triage stats over the REAL WAV decode path: energy (Σ dev²),
    // peak |dev|, and strict-alternation zero crossings, all exact
    // integers the oracle recomputes from the fixture formula — a parser
    // or sign-convention regression breaks the hash
    "media_audio_stats" -> ((s, dir) => {
      Multimodal.audioStats(
        Multimodal.syntheticMedia(tbl(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .orderBy("id")
    }),

    // Exact integer resampling (r17 — the ASR 16 kHz step): every
    // doc's 8 kHz clip converts — evens UP to 16 kHz, odds DOWN to
    // 4 kHz — through the floor-blend linear kernel, then the REAL
    // RIFF round-trip (re-encode at the new rate, decode, exact
    // integer triage). The oracle replays position arithmetic, the
    // integer blend, and every stat from the fixture samples — an
    // off-by-one in the length formula, the endpoint rule, or the
    // blend rounding hash-mismatches.
    "media_audio_resample" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val base = docs.as[Long].map { id =>
        val n = (40 + id % 30).toInt
        val samples = Array.tabulate[Short](n) { k =>
          ((((id * 7 + k * 3) % 256) - 128) << 8).toShort
        }
        Multimodal.MediaRow(id, Multimodal.encodeWav(8000, samples),
          Multimodal.MediaMeta("audio", 0, 0, 0, 8000))
      }
      val up = Multimodal.audioResample(base.filter(_.id % 2 == 0), 16000)
      val down = Multimodal.audioResample(base.filter(_.id % 2 == 1), 4000)
      val out = up.unionByName(down)
      val stats = Multimodal.audioStats(out).toDF()
      out.toDF()
        .select(col("id"), col("meta.sample_rate").as("sample_rate"))
        .join(stats, Seq("id"))
        .select(col("id").as("doc_id"), col("sample_rate"),
          col("n_samples"), col("sum_sq_dev"), col("peak_dev"),
          col("zero_crossings"))
        .orderBy("doc_id")
    }),

    // Audio conditioning (r17 — edge-trim + gain staging): each clip
    // carries id%5 leading and id%4 trailing silent samples around an
    // arithmetic body (whose own edge values may be zero — the trim
    // bound is the first/last NONZERO dev of the whole stream, exactly
    // what the oracle computes); trim strips them, peak-normalize
    // scales to |dev|=127 through the sign-split floor division, and
    // the exact triage of the conditioned stream comes out. Any
    // off-by-one in the trim bounds or a truncate-vs-floor slip in the
    // gain hash-mismatches.
    "media_audio_condition" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select(col("doc_id"))
      val base = docs.as[Long].map { id =>
        val lead = (id % 5).toInt
        val trail = (id % 4).toInt
        val nb = (30 + id % 20).toInt
        val devs = Array.tabulate(lead + nb + trail) { k =>
          if (k < lead || k >= lead + nb) 0
          else (((id * 11 + (k - lead) * 7) % 255) - 127).toInt
        }
        Multimodal.MediaRow(id,
          Multimodal.encodeWav(8000, devs.map(d => (d << 8).toShort)),
          Multimodal.MediaMeta("audio", 0, 0, 0, 8000))
      }
      val conditioned = Multimodal.audioNormalizePeak(
        Multimodal.audioTrimSilence(base), 127)
      Multimodal.audioStats(conditioned).toDF()
        .select(col("id").as("doc_id"), col("n_samples"),
          col("sum_sq_dev"), col("peak_dev"), col("zero_crossings"))
        .orderBy("doc_id")
    }),

    // resize plumbing: fixed-length re-bucketed features; first/last
    // buckets are scalar-checkable against the oracle (ASCII corpus →
    // byte == codepoint)
    "media_resized" -> ((s, dir) => {
      Multimodal.resizeTo(
        Multimodal.syntheticMedia(tbl(s, dir, "documents"), "doc_id", "text"),
        targetLen = 16)
        .select(col("id"),
          element_at(col("resized"), 1).as("r_first"),
          element_at(col("resized"), 16).as("r_last"))
        .orderBy("id")
    }),

    // PERCEPTUAL IMAGE NEAR-DUP (the image sibling of doc_simhash_dups):
    // aHash — integer Rec.601 luma, 8×8 box means, bit = block > mean —
    // over the REAL decoded pixels of the image rows PLUS container-
    // swapped twins (each payload decoded and re-encoded BMP↔P6, new id):
    // identical pixels through a DIFFERENT parser must land identical
    // hashes, so every twin pairs at hamming 0 and a regression in either
    // codec or the hash kernel breaks the pair set. Candidates come from
    // the 4×16-bit chunk banding (exact at hamming ≤ 3); the oracle
    // recomputes the hashes from the fixture definition in SQL and
    // brute-forces all pairs.
    "media_phash_dups" -> ((s, dir) => {
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 0)
      val base = Multimodal.syntheticMedia(imgs, "doc_id", "text")
      val twins = base.map { m =>
        val (w, h, px) = Multimodal.decodeFirstFrame(m.payload).get
        val other = if (m.payload(0) == 'B') Multimodal.encodePpm(w, h, px)
                    else Multimodal.encodeBmp(w, h, px)
        Multimodal.MediaRow(m.id + 1000000L, other, m.meta)
      }
      val hashes = Multimodal.perceptualHashes(base.unionByName(twins)).toDF()
      graft.dedup.Dedup.hammingNearDuplicates64(hashes, "id", "ahash",
          maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ONE-CALL image dedup (the minhashPrune shape for pixels): the same
    // fixture pruned — hash, hamming-band pairs, transitive clusters,
    // keep-min — so every container twin drops in favor of its original
    // and natural hash-collision clusters keep exactly their min id. The
    // oracle replays hash → brute pairs → recursive-CTE CC → keep-min.
    "media_phash_prune" -> ((s, dir) => {
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 0)
      val base = Multimodal.syntheticMedia(imgs, "doc_id", "text")
      val twins = base.map { m =>
        val (w, h, px) = Multimodal.decodeFirstFrame(m.payload).get
        val other = if (m.payload(0) == 'B') Multimodal.encodePpm(w, h, px)
                    else Multimodal.encodeBmp(w, h, px)
        Multimodal.MediaRow(m.id + 1000000L, other, m.meta)
      }
      Multimodal.phashPrune(base.unionByName(twins), maxHamming = 3,
          broadcastDrop = true)
        .toDF()
        .select(col("id"))
        .orderBy("id")
    }),

    // PERCEPTUAL AUDIO NEAR-DUP (closing the modality triangle: text
    // simhash, image phash, audio energy-gradient hash all feed the same
    // hamming banding): the 65-block integer energy-gradient fingerprint
    // over REAL decoded PCM, with SAMPLE-RATE-CHANGED twins — each audio
    // payload decoded and re-encoded at 8 kHz (identical samples, new
    // header) — so every twin pairs at hamming 0 through a genuinely
    // different WAV parse, and the oracle recomputes the bits from the
    // fixture's sample definition in SQL.
    "media_audio_dups" -> ((s, dir) => {
      import s.implicits._
      val auds = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 1)
      val base = Multimodal.syntheticMedia(auds, "doc_id", "text")
      val twins = base.map { m =>
        val u8 = Multimodal.decodeWav(m.payload).get
        val s16 = u8.map(b => (((b & 0xFF) - 128) << 8).toShort)
        Multimodal.MediaRow(m.id + 1000000L,
          Multimodal.encodeWav(8000, s16), m.meta)
      }
      val hashes = Multimodal.audioHash64(base.unionByName(twins)).toDF()
      graft.dedup.Dedup.hammingNearDuplicates64(hashes, "id", "ahash64",
          maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // VIDEO NEAR-DUP by frame-set containment (the ngramContainmentJoin
    // idea with per-frame aHashes as the shingles — clipped/trimmed
    // copies score containment ≈ 1 where symmetric Jaccard under-scores):
    // every video's P6 frames hash individually through the REAL parser,
    // and CLIPPED twins (even-index frames re-encoded as a shorter
    // stream, new id) must pair at containment 1. The oracle recomputes
    // every frame hash from the fixture pixel definition and replays the
    // inverted-index containment join in SQL.
    "media_video_dups" -> ((s, dir) => {
      import s.implicits._
      val vids = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 2)
      val base = Multimodal.syntheticMedia(vids, "doc_id", "text")
      val twins = base.map { m =>
        val frames = Multimodal.decodeFrames(m.payload)
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < frames.length) {
          if (f % 2 == 0)
            out.write(Multimodal.encodePpm(m.meta.width, m.meta.height, frames(f)))
          f += 1
        }
        Multimodal.MediaRow(m.id + 1000000L, out.toByteArray, m.meta)
      }
      Multimodal.videoContainmentDups(base.unionByName(twins),
          threshold = 0.9)
        .select(col("id_a"), col("id_b"), col("shared").cast("long").as("shared"),
          col("containment"))
        .orderBy("id_a", "id_b")    }),

    // the PERSISTED hamming-index path (8th index family, the minhash-
    // index shape for perceptual hashes): image aHashes installed in two
    // installments (even ids at build, odd appended), then the container-
    // swap twins probe WITHOUT re-hashing (or re-decoding) the stored
    // corpus — stored side explodes its 16-bit chunks map-side, the
    // batch broadcasts, pairs verify by bit_count. Probe-after-append
    // must equal the brute-force stored x batch scan, which is what the
    // oracle computes from the fixture pixels.
    "media_phash_index_probe" -> ((s, dir) => {
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 0)
      val base = Multimodal.syntheticMedia(imgs, "doc_id", "text")
      val hashes = Multimodal.perceptualHashes(base).toDF()
        .select(col("id"), col("ahash"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_hx_idx_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.dedup.Dedup.hammingIndexBuild(
          hashes.filter(col("id") % 2 === 0), idxPath, "id", "ahash")
      }
      Phases.timed("append") {
        graft.dedup.Dedup.hammingIndexAppend(s, idxPath,
          hashes.filter(col("id") % 2 === 1), "id", "ahash")
      }
      val twins = base.map { m =>
        val (w, h, px) = Multimodal.decodeFirstFrame(m.payload).get
        val other = if (m.payload(0) == 'B') Multimodal.encodePpm(w, h, px)
                    else Multimodal.encodeBmp(w, h, px)
        Multimodal.MediaRow(m.id + 1000000L, other, m.meta)
      }
      val batchHashes = Multimodal.perceptualHashes(twins).toDF()
        .select(col("id"), col("ahash"))
      graft.dedup.Dedup.hammingIndexProbe(s, idxPath, batchHashes,
          "id", "ahash", maxHamming = 3)
        .select(col("corpus_id"), col("new_id"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("corpus_id", "new_id")    }),

    // the hamming-index DELETE + PRUNE lifecycle through the gate: build
    // over every image hash, tombstone the id % 7 == 0 images (takedown),
    // then prune the container-twin batch — a twin whose original is LIVE
    // drops (anchored), a twin of a TOMBSTONED original survives unless a
    // natural hash collision anchors or out-ranks it (keep-min). The
    // oracle replays hashes -> stored-minus-deleted x batch pairs ∪
    // batch-internal pairs -> recursive-CTE CC -> anchored/keep-min.
    "media_phash_index_prune" -> ((s, dir) => {
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 0)
      val base = Multimodal.syntheticMedia(imgs, "doc_id", "text")
      val hashes = Multimodal.perceptualHashes(base).toDF()
        .select(col("id"), col("ahash"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_hx_prune_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.dedup.Dedup.hammingIndexBuild(hashes, idxPath, "id", "ahash")
      }
      Phases.timed("delete") {
        graft.dedup.Dedup.hammingIndexDelete(s, idxPath,
          hashes.filter(col("id") % 7 === 0).select("id"))
      }
      val twins = base.map { m =>
        val (w, h, px) = Multimodal.decodeFirstFrame(m.payload).get
        val other = if (m.payload(0) == 'B') Multimodal.encodePpm(w, h, px)
                    else Multimodal.encodeBmp(w, h, px)
        Multimodal.MediaRow(m.id + 1000000L, other, m.meta)
      }
      val batchHashes = Multimodal.perceptualHashes(twins).toDF()
        .select(col("id"), col("ahash"))
      graft.dedup.Dedup.hammingIndexPrune(s, idxPath, batchHashes,
          "id", "ahash", maxHamming = 3, broadcastDrop = true)
        .select(col("id"))
        .orderBy("id")
    }),

    // the PERSISTED video frame-hash index (9th family — the hamming-index
    // lifecycle lifted to frame SETS): per-frame aHashes installed in two
    // installments (even ids at build, odd appended), the doc_id % 7 == 0
    // videos tombstoned (takedown — one id-list append + negative df
    // deltas), then clipped twins (even frames only, the truncation
    // signature) probe for frame-set CONTAINMENT without re-decoding a
    // stored byte: batch hashes broadcast into the map-side stored scan,
    // the df guard resolves from summed stored deltas, sizes are
    // precomputed per video. Probe-after-append-after-delete must equal
    // the one-shot containment join over live-corpus x batch, which the
    // oracle recomputes from the fixture pixels.
    "media_video_index_probe" -> ((s, dir) => {
      import s.implicits._
      val vids = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 2)
      val base = Multimodal.syntheticMedia(vids, "doc_id", "text")
      val frames = Multimodal.videoFrameHashes(base).toDF()
        .select(col("id"), col("frame_idx"), col("ahash"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_vx_idx_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.dedup.Dedup.videoIndexBuild(
          frames.filter(col("id") % 2 === 0), idxPath)
      }
      Phases.timed("append") {
        graft.dedup.Dedup.videoIndexAppend(s, idxPath,
          frames.filter(col("id") % 2 === 1))
      }
      Phases.timed("delete") {
        graft.dedup.Dedup.videoIndexDelete(s, idxPath,
          frames.filter(col("id") % 7 === 0).select("id").distinct())
      }
      val twins = base.map { m =>
        val fs = Multimodal.decodeFrames(m.payload)
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < fs.length) {
          if (f % 2 == 0)
            out.write(Multimodal.encodePpm(m.meta.width, m.meta.height, fs(f)))
          f += 1
        }
        Multimodal.MediaRow(m.id + 1000000L, out.toByteArray, m.meta)
      }
      val batchFrames = Multimodal.videoFrameHashes(twins).toDF()
        .select(col("id"), col("frame_idx"), col("ahash"))
      graft.dedup.Dedup.videoContainmentProbe(s, idxPath, batchFrames,
          threshold = 0.9)
        .select(col("corpus_id"), col("new_id"),
          col("shared").cast("long").as("shared"), col("containment"))
        .orderBy("corpus_id", "new_id")
    }),

    // the video-index DELETE + PRUNE lifecycle through the gate (the
    // media_phash_index_prune shape in containment space): build over
    // every video's frames, tombstone the id % 7 == 0 videos, then prune
    // the clipped-twin batch — a twin whose original is LIVE drops
    // (anchored, containment 1.0), a twin of a TOMBSTONED original
    // survives unless a cross-video frame collision anchors or out-ranks
    // it (keep-min). The oracle replays frame hashes -> stored-minus-
    // deleted x batch containment pairs ∪ batch-internal pairs ->
    // recursive-CTE CC -> anchored/keep-min. Output: surviving batch
    // video ids.
    "media_video_index_prune" -> ((s, dir) => {
      import s.implicits._
      val vids = tbl(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 3 === 2)
      val base = Multimodal.syntheticMedia(vids, "doc_id", "text")
      val frames = Multimodal.videoFrameHashes(base).toDF()
        .select(col("id"), col("frame_idx"), col("ahash"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_vx_prune_")
      deleteRecursivelyOnExit(idxDir)
      val idxPath = idxDir.resolve("idx").toFile.getAbsolutePath
      Phases.timed("build") {
        graft.dedup.Dedup.videoIndexBuild(frames, idxPath)
      }
      Phases.timed("delete") {
        graft.dedup.Dedup.videoIndexDelete(s, idxPath,
          frames.filter(col("id") % 7 === 0).select("id").distinct())
      }
      val twins = base.map { m =>
        val fs = Multimodal.decodeFrames(m.payload)
        val out = new java.io.ByteArrayOutputStream()
        var f = 0
        while (f < fs.length) {
          if (f % 2 == 0)
            out.write(Multimodal.encodePpm(m.meta.width, m.meta.height, fs(f)))
          f += 1
        }
        Multimodal.MediaRow(m.id + 1000000L, out.toByteArray, m.meta)
      }
      val batchFrames = Multimodal.videoFrameHashes(twins).toDF()
        .select(col("id"), col("frame_idx"), col("ahash"))
      graft.dedup.Dedup.videoIndexPrune(s, idxPath, batchFrames,
          threshold = 0.9, broadcastDrop = true)
        .select(col("id")).distinct()
        .orderBy("id")
    })
  )

  /** BPE merge rounds the doc_bpe_merges driver query learns — chosen
    * > [[graft.analysis.Bpe.CheckpointInterval]] so the driver gate
    * exercises the mid-loop re-checkpoint path, and deep enough (64)
    * that the BATCHED selection (maxBatch = 16) is what makes the
    * query's job count reasonable — the scale story for real 32k-merge
    * tokenizer training, oracle-pinned to equal sequential BPE. */
  val BpeMergeRounds = 64

  /** Unrolled DuckDB CTE chain for n BPE merge rounds: p_k (weighted
    * adjacent-pair counts), m_k (argmax with the portable cnt DESC /
    * pair ASC tie-break), s_k (merge applied as the same literal
    * replace). `carryWord` keeps the word column through the symbol
    * states — the encode oracle joins doc words to their final state.
    * Every CTE is MATERIALIZED: s_k and m_k are each referenced twice,
    * so letting the optimizer inline them doubles the expanded plan per
    * round — 2^n base-table scans by round n, which at n=16 exhausts
    * file handles before it exhausts patience. */
  private def bpeRoundCtes(n: Int, carryWord: Boolean): String = {
    val cols = if (carryWord) "word, freq" else "freq"
    (1 to n).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT concat(z[1], chr(1), z[2]) AS pair, sum(freq) AS cnt
         |  FROM (SELECT freq, unnest(list_zip(string_split(sym, chr(1)),
         |          string_split(sym, chr(1))[2:])) AS z FROM s${k - 1}) t
         |  WHERE z[2] IS NOT NULL GROUP BY 1),
         |m$k AS MATERIALIZED (
         |  SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT $cols, replace(sym, (SELECT pair FROM m$k),
         |         replace((SELECT pair FROM m$k), chr(1), '')) AS sym FROM s${k - 1})"""
        .stripMargin
    }.mkString(",\n")
  }

  /** emb_probe_prune's full policy replay (exact int8 pairs over
    * stored×batch ∪ batch-internal → recursive-CTE components →
    * anchored-or-non-min drop) — shared VERBATIM by the flat prune and
    * the nprobe = nlist IVF-routed prune: full probe coverage makes the
    * routed answer equal the flat scan exactly, centroids and all. */
  /** The frontier's surviving link multiset rebuilt from the fixture's
    * doc_id arithmetic, each arm in its RESOLVED+NORMALIZED form (the
    * oracle-side statement of what RFC 3986 resolution + normalizeUrl
    * must produce): any extraction, resolution, dot-segment,
    * normalization or anti-join defect hash-mismatches. The self link
    * AND its tracking-param variant both land on the crawled url (two
    * `SELECT url FROM crawled` arms) — anti-joined away; mailto/
    * javascript refs never enter. */
  /** Held-out sentences (one per built-in LangId language, ASCII-
    * sorted codes) — absent from the training centroids, shared by
    * the doc_langid_trained and doc_mix_langid fixtures. */
  private val LangIdHeldOut: Vector[(String, String)] = Vector(
        "ar" -> "كل صباح كان الأطفال يمشون معا إلى المدرسة ويتحدثون عن ألعابهم المفضلة.",
        "de" -> "Jeden Morgen gingen die Kinder zusammen zur Schule und sprachen über ihre Lieblingsspiele.",
        "en" -> "Every morning the children walked to school together and talked about their favorite games.",
        "es" -> "Cada mañana los niños caminaban juntos a la escuela y hablaban de sus juegos favoritos.",
        "fr" -> "Chaque matin, les enfants marchaient ensemble vers l'école et parlaient de leurs jeux préférés.",
        "hi" -> "हर सुबह बच्चे साथ में स्कूल जाते थे और अपने पसंदीदा खेलों के बारे में बात करते थे।",
        "it" -> "Ogni mattina i bambini andavano a scuola insieme e parlavano dei loro giochi preferiti.",
        "ja" -> "毎朝子供たちは一緒に学校へ歩いて行き、好きな遊びについて話した。",
        "ko" -> "매일 아침 아이들은 함께 학교에 걸어가서 좋아하는 놀이에 대해 이야기했다.",
        "nl" -> "Elke ochtend liepen de kinderen samen naar school en praatten over hun favoriete spelletjes.",
        "pl" -> "Każdego ranka dzieci szły razem do szkoły i rozmawiały o swoich ulubionych grach.",
        "pt" -> "Todas as manhãs as crianças caminhavam juntas para a escola e falavam sobre os seus jogos favoritos.",
        "ru" -> "Каждое утро дети вместе шли в школу и говорили о своих любимых играх.",
        "sv" -> "Varje morgon gick barnen tillsammans till skolan och pratade om sina favoritspel.",
        "tr" -> "Her sabah çocuklar birlikte okula yürüdü ve en sevdikleri oyunlar hakkında konuştu.",
        "zh" -> "每天早上孩子们一起走路去上学，谈论他们最喜欢的游戏。",
        // r17 breadth: appended AFTER zh so 0..15 (doc_mix_langid's
        // arithmetic) never move; order matches LangId.TrainSamples
        "cs" -> "Každé ráno šly děti společně do školy a povídaly si o svých oblíbených hrách.",
        "da" -> "Hver morgen gik børnene sammen i skole og talte om deres yndlingslege.",
        "el" -> "Κάθε πρωί τα παιδιά πήγαιναν μαζί στο σχολείο και μιλούσαν για τα αγαπημένα τους παιχνίδια.",
        "fa" -> "هر روز صبح بچه‌ها با هم به مدرسه می‌رفتند و درباره بازی‌های مورد علاقه‌شان صحبت می‌کردند.",
        "fi" -> "Joka aamu lapset kävelivät yhdessä kouluun ja puhuivat lempileikeistään.",
        "hu" -> "Minden reggel a gyerekek együtt sétáltak az iskolába és a kedvenc játékaikról beszélgettek.",
        "uk" -> "Щоранку діти разом ішли до школи й розмовляли про свої улюблені ігри.",
        "vi" -> "Mỗi buổi sáng bọn trẻ cùng nhau đi bộ đến trường và nói về những trò chơi yêu thích của mình.",
        // r17 third session: eight more, appended in TrainSamples order
        "th" -> "ทุกเช้าเด็กๆ เดินไปโรงเรียนด้วยกันและพูดคุยเกี่ยวกับเกมที่พวกเขาชอบ",
        "he" -> "בכל בוקר הילדים הלכו יחד לבית הספר ודיברו על המשחקים האהובים עליהם.",
        "bn" -> "প্রতিদিন সকালে শিশুরা একসাথে স্কুলে হেঁটে যেত এবং তাদের প্রিয় খেলা নিয়ে কথা বলত।",
        "ta" -> "ஒவ்வொரு காலையிலும் குழந்தைகள் ஒன்றாக பள்ளிக்கு நடந்து சென்று தங்களுக்குப் பிடித்த விளையாட்டுகளைப் பற்றி பேசினர்.",
        "id" -> "Setiap pagi anak-anak berjalan bersama ke sekolah dan berbicara tentang permainan favorit mereka.",
        "ro" -> "În fiecare dimineață copiii mergeau împreună la școală și vorbeau despre jocurile lor preferate.",
        "sw" -> "Kila asubuhi watoto walitembea pamoja kwenda shuleni na kuzungumza kuhusu michezo wanayoipenda.",
        "bg" -> "Всяка сутрин децата вървяха заедно до училище и говореха за любимите си игри.")


  private val crawlFixtureCte: String =
    """crawled AS (
      |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |links AS (
      |  SELECT 'https://h' || CAST((doc_id * 3) % 7 AS VARCHAR) ||
      |         '.example/page/' || CAST(doc_id + 100000 AS VARCHAR) AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST((doc_id * 5) % 7 AS VARCHAR) ||
      |         '.example/page/' ||
      |         CAST(doc_id - (doc_id % 10) + 200000 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://hc.example/c/' || CAST(doc_id % 13 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT url FROM crawled
      |  UNION ALL
      |  SELECT url FROM crawled
      |  UNION ALL
      |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.example/about'
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.example/page/sub/item' || CAST(doc_id % 5 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.example/up/' || CAST(doc_id % 3 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST((doc_id * 2) % 7 AS VARCHAR) ||
      |         '.example/proto/' || CAST(doc_id % 11 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
      |         '.example/Upper/' || CAST(doc_id % 9 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://sq.example/q/' || CAST(doc_id % 4 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://amp.example/q/' || CAST(doc_id % 5 AS VARCHAR) ||
      |         '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST((doc_id + 3) % 7 AS VARCHAR) ||
      |         '.example:8443/alt/' || CAST(doc_id % 5 AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://h' || CAST((doc_id + 1) % 7 AS VARCHAR) ||
      |         '.example/ws/' || CAST(doc_id % 6 AS VARCHAR)
      |  FROM documents),
      |fresh AS (
      |  SELECT l.url FROM links l
      |  LEFT JOIN crawled c ON l.url = c.url
      |  WHERE c.url IS NULL)""".stripMargin

  private val crawlFrontierOracleSql: String =
    s"""WITH $crawlFixtureCte
       |SELECT url,
       |  regexp_extract(url, '^https?://([^/]*)', 1) AS host,
       |  CAST(count(*) AS BIGINT) AS n_refs
       |FROM fresh GROUP BY url ORDER BY url""".stripMargin

  /** The schedule oracle: frontier counts over [[crawlFixtureCte]],
    * canonical host (the [[graft.pipeline.UrlFilter.HostRe]] capture,
    * lowercased — the engine's exact pattern string runs in DuckDB),
    * row_number per host by (n_refs desc, url asc), rounds beyond 3
    * deferred; optionally the per-host crawl-delay join (delay k + 0.5
    * for host hk — the graftbot group's value in the fixture robots);
    * optionally (r15) the per-host Retry-After join — max(30 + id%11)
    * over host hk's 429/503 fixture arms (the date-form and 200-status
    * arms never count), shifting not_before_s by it. */
  private def crawlScheduleOracleSql(withDelays: Boolean,
                                     withRetry: Boolean = false): String = {
    val hostExpr =
      s"lower(regexp_extract(url, '${graft.pipeline.UrlFilter.HostRe}', 1))"
    val head =
      s"""WITH $crawlFixtureCte,
         |frontier AS (
         |  SELECT url, CAST(count(*) AS BIGINT) AS n_refs
         |  FROM fresh GROUP BY url),
         |hosted AS (
         |  SELECT $hostExpr AS host, url, n_refs FROM frontier),
         |ranked AS (
         |  SELECT host, url, n_refs,
         |    CAST(row_number() OVER (PARTITION BY host
         |      ORDER BY n_refs DESC, url) AS BIGINT) AS round
         |  FROM hosted)""".stripMargin
    if (!withDelays)
      head + "\nSELECT host, url, n_refs, round FROM ranked" +
        "\nWHERE round <= 3 ORDER BY url"
    else if (!withRetry)
      head +
        """,
          |delays AS (
          |  SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host,
          |    CAST(k AS DOUBLE) + 0.5 AS delay_s
          |  FROM range(7) t(k))
          |SELECT r.host, r.url, r.n_refs, r.round,
          |  COALESCE(d.delay_s, 0.0) AS delay_s,
          |  CAST(r.round - 1 AS DOUBLE) * COALESCE(d.delay_s, 0.0)
          |    AS not_before_s
          |FROM ranked r LEFT JOIN delays d ON d.host = r.host
          |WHERE r.round <= 3 ORDER BY r.url""".stripMargin
    else
      head +
        """,
          |delays AS (
          |  SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host,
          |    CAST(k AS DOUBLE) + 0.5 AS delay_s
          |  FROM range(7) t(k)),
          |retry AS (
          |  SELECT host, CAST(max(v) AS DOUBLE) AS retry_after_s FROM (
          |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example'
          |        AS host,
          |      30 + doc_id % 11 AS v
          |    FROM documents WHERE doc_id % 3 < 2
          |    UNION ALL
          |    -- the HTTP-date arm: id%90 s past the record's warc_date
          |    -- (the past-date arm contributes 0; junk/200 arms drop)
          |    SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example',
          |      doc_id % 90
          |    FROM documents WHERE doc_id % 3 = 2) t
          |  GROUP BY host)
          |SELECT r.host, r.url, r.n_refs, r.round,
          |  COALESCE(d.delay_s, 0.0) AS delay_s,
          |  COALESCE(t.retry_after_s, 0.0) AS retry_after_s,
          |  COALESCE(t.retry_after_s, 0.0) +
          |    CAST(r.round - 1 AS DOUBLE) * COALESCE(d.delay_s, 0.0)
          |    AS not_before_s
          |FROM ranked r LEFT JOIN delays d ON d.host = r.host
          |LEFT JOIN retry t ON t.host = r.host
          |WHERE r.round <= 3 ORDER BY r.url""".stripMargin
  }

  /** The crawl_schedule_rank oracle: the schedule CTEs + the
    * q_host_pagerank integer rounds (BIGINT trillionths, truncating
    * `//`, dangling via LEFT JOIN + COALESCE) over the host edge set
    * the fixture pages discover, + the global priority as
    * row_number()-1 by (round, rank desc, refs desc, url). */
  private val crawlScheduleRankOracleSql: String = {
    val hostExpr =
      s"lower(regexp_extract(url, '${graft.pipeline.UrlFilter.HostRe}', 1))"
    s"""WITH $crawlFixtureCte,
       |frontier AS (
       |  SELECT url, CAST(count(*) AS BIGINT) AS n_refs
       |  FROM fresh GROUP BY url),
       |hosted AS (
       |  SELECT $hostExpr AS host, url, n_refs FROM frontier),
       |ranked AS (
       |  SELECT host, url, n_refs,
       |    CAST(row_number() OVER (PARTITION BY host
       |      ORDER BY n_refs DESC, url) AS BIGINT) AS round
       |  FROM hosted),
       |sched AS (SELECT * FROM ranked WHERE round <= 3),
       |e AS (
       |  SELECT DISTINCT 'h' || (doc_id % 7) || '.example' AS src, dst
       |  FROM (
       |    SELECT doc_id, 'h' || ((doc_id * 3) % 7) || '.example' AS dst
       |    FROM documents
       |    UNION ALL
       |    SELECT doc_id, 'h' || ((doc_id * 5) % 7) || '.example'
       |    FROM documents
       |    UNION ALL SELECT doc_id, 'hc.example' FROM documents
       |    UNION ALL
       |    SELECT doc_id, 'h' || (doc_id % 7) || '.example' FROM documents
       |    UNION ALL
       |    SELECT doc_id, 'h' || ((doc_id * 2) % 7) || '.example'
       |    FROM documents
       |    UNION ALL SELECT doc_id, 'sq.example' FROM documents
       |    UNION ALL SELECT doc_id, 'amp.example' FROM documents
       |    UNION ALL
       |    SELECT doc_id, 'h' || ((doc_id + 3) % 7) || '.example'
       |    FROM documents
       |    UNION ALL
       |    SELECT doc_id, 'h' || ((doc_id + 1) % 7) || '.example'
       |    FROM documents) t),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |r0 AS (SELECT id, 1000000000000 // n AS r FROM nodes, nn),
       |s1 AS (
       |  SELECT e.dst AS id, sum(r0.r // deg.d) AS s
       |  FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst),
       |r1 AS (
       |  SELECT nodes.id,
       |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s1.s, 0)) // 20 AS r
       |  FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.id = nodes.id),
       |s2 AS (
       |  SELECT e.dst AS id, sum(r1.r // deg.d) AS s
       |  FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst),
       |r2 AS (
       |  SELECT nodes.id,
       |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s2.s, 0)) // 20 AS r
       |  FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.id = nodes.id),
       |s3 AS (
       |  SELECT e.dst AS id, sum(r2.r // deg.d) AS s
       |  FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
       |  GROUP BY e.dst),
       |r3 AS (
       |  SELECT nodes.id,
       |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s3.s, 0)) // 20 AS r
       |  FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.id = nodes.id)
       |SELECT s.host, s.url, s.n_refs, s.round,
       |  CAST(COALESCE(r3.r, 0) AS BIGINT) AS host_rank_fp,
       |  CAST(row_number() OVER (ORDER BY s.round,
       |    COALESCE(r3.r, 0) DESC, s.n_refs DESC, s.url) - 1 AS BIGINT)
       |    AS priority
       |FROM sched s LEFT JOIN r3 ON r3.id = s.host
       |ORDER BY s.url""".stripMargin
  }

  private val probePruneOracleSql: String =
    """WITH RECURSIVE comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |batch AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(-x AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 30 = 0
        |  UNION ALL
        |  SELECT vec_id + 3000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * -2 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 30 = 0),
        |bcomp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM batch),
        |bcodes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM bcomp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |bnorms AS (SELECT vec_id, sum(c*c) AS n2 FROM bcodes GROUP BY vec_id),
        |sdots AS (
        |  SELECT d.vec_id AS id_a, b.vec_id AS id_b, sum(d.c * b.c) AS dot
        |  FROM codes d JOIN bcodes b ON d.ord = b.ord
        |  GROUP BY d.vec_id, b.vec_id),
        |sp AS (
        |  SELECT id_a, id_b FROM sdots
        |  JOIN norms nc ON nc.vec_id = sdots.id_a
        |  JOIN bnorms nb ON nb.vec_id = sdots.id_b
        |  WHERE nc.n2 > 0 AND nb.n2 > 0
        |    AND CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.98),
        |bdots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.c * b.c) AS dot
        |  FROM bcodes a JOIN bcodes b ON a.ord = b.ord AND a.vec_id < b.vec_id
        |  GROUP BY a.vec_id, b.vec_id),
        |bp AS (
        |  SELECT id_a, id_b FROM bdots
        |  JOIN bnorms na ON na.vec_id = bdots.id_a
        |  JOIN bnorms nb ON nb.vec_id = bdots.id_b
        |  WHERE na.n2 > 0 AND nb.n2 > 0
        |    AND CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.98),
        |p AS (SELECT id_a, id_b FROM sp UNION SELECT id_a, id_b FROM bp),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |), sids AS (SELECT DISTINCT id_a AS id FROM sp),
        |anch AS (
        |  SELECT DISTINCT l.rep FROM lab l JOIN sids s ON l.id = s.id),
        |drp AS (
        |  SELECT l.id FROM lab l
        |  LEFT JOIN sids s ON l.id = s.id
        |  LEFT JOIN anch a ON l.rep = a.rep
        |  WHERE s.id IS NULL AND (a.rep IS NOT NULL OR l.id <> l.rep))
        |SELECT b.vec_id FROM batch b
        |LEFT JOIN drp d ON b.vec_id = d.id
        |WHERE d.id IS NULL
        |ORDER BY b.vec_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue_orders" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn, o_orderkey""".stripMargin,
    "q_keyset_ops" ->
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
        |ORDER BY custkey""".stripMargin,
    "q_keyset_symdiff" ->
      """SELECT custkey FROM (
        |  (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        |   EXCEPT
        |   SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |  UNION ALL
        |  (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |   EXCEPT
        |   SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000)) t
        |ORDER BY custkey""".stripMargin,
    "q_orders_without_lineitems" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_sql_cosine" ->
      """SELECT
        |  CAST(sum(CAST(list_cosine_similarity(
        |    [l_quantity, l_discount, 1.0]::DOUBLE[],
        |    [1.0, 2.0, 3.0]::DOUBLE[]) AS DECIMAL(18,9))) AS DOUBLE) AS sum_cos,
        |  count(*) AS n
        |FROM lineitem""".stripMargin,
    "q_unicode_range" ->
      """SELECT
        |  min(list_min(list_transform(string_split(text, ''), s -> unicode(s)))) AS min_cp,
        |  max(list_max(list_transform(string_split(text, ''), s -> unicode(s)))) AS max_cp
        |FROM documents""".stripMargin,
    "q_rollup_order_stats" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    // NOTE (all integer sums below): DuckDB sum(INTEGER) returns HUGEINT,
    // which pandas renders as float64 — CAST to BIGINT so both sides hash
    // as int64 (this was every round-1 hash mismatch).
    "q_string_funcs" ->
      """SELECT p_brand, count(*) AS n,
        |  min(length(p_name)) AS min_name_len,
        |  max(upper(substr(p_type, 1, 5))) AS max_type_prefix,
        |  CAST(sum(CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_cube_order_stats" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_pivot_status_priority" ->
      """SELECT o_orderstatus AS status,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q_map_funcs" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
        |    THEN 1 END) AS n_with_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_orders_by_year" ->
      """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
        |  CAST(extract(month FROM o_orderdate) AS INT) AS mo,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q_events_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_events_sessions" ->
      """WITH marked AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM marked GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_events_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_events_stream_durable" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // DuckDB's native ASOF JOIN oracles the custom sweep operator
    "q_events_asof" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts AS view_ts, event_id AS view_id,
        |    value AS view_value
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id, c.click_ts,
        |  v.view_id, v.view_ts, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
        |ORDER BY click_id""".stripMargin,
    "q_events_windowed" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "q_events_closed_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |a AS (
        |  SELECT user_id, sess, min(ts) AS session_start, count(*) AS n_events
        |  FROM s GROUP BY 1, 2),
        |m AS (SELECT user_id, max(sess) AS mx FROM a GROUP BY 1)
        |SELECT a.user_id, a.session_start, a.n_events
        |FROM a JOIN m ON a.user_id = m.user_id AND a.sess < m.mx
        |ORDER BY a.user_id, a.session_start""".stripMargin,
    "q_events_asof_fwd" ->
      """WITH views AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |clicks AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM events WHERE event_type = 'click')
        |SELECT v.view_id, v.user_id, v.view_ts, c.click_id, c.click_ts
        |FROM views v ASOF LEFT JOIN clicks c
        |  ON v.user_id = c.user_id AND v.view_ts <= c.click_ts
        |ORDER BY view_id""".stripMargin,
    // plain BETWEEN range join over the same session intervals — DuckDB
    // can brute-force what the binned equi-join computes at scale
    "q_events_range_join" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |a AS (
        |  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT a.user_id, a.session_start, a.n_events, count(*) AS n_in_range
        |FROM a JOIN events e
        |  ON e.user_id = a.user_id AND e.ts BETWEEN a.session_start AND a.session_end
        |GROUP BY 1, 2, 3
        |ORDER BY a.user_id, a.session_start""".stripMargin,
    "kv_grouped_values" ->
      """SELECT l_orderkey AS key,
        |  array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS vals,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_orderkey ORDER BY key""".stripMargin,
    "kv_point_lookup" ->
      """SELECT l_orderkey AS key, count(*) AS n_values,
        |  array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS vals
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_orderkey ORDER BY key""".stripMargin,
    "kv_index_of" ->
      """SELECT key, CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS idx
        |FROM (SELECT DISTINCT o_custkey AS key FROM orders) t
        |ORDER BY key""".stripMargin,
    "q_semi_join_exists" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_below_avg_qty" ->
      """WITH ap AS (
        |  SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  count(*) AS n
        |FROM lineitem JOIN ap ON l_partkey = ap_partkey
        |WHERE l_quantity < avg_qty * 0.5""".stripMargin,
    "q_quantile_stats" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  CAST(CAST(stddev_samp(l_quantity) AS DECIMAL(18,6)) AS DOUBLE) AS sd_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_distinct_customers" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_skew_join" ->
      """SELECT p_brand AS brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY brand""".stripMargin,
    "q_skew_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "lexicon_vocab" ->
      """SELECT w AS label, count(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |WHERE w <> ''
        |GROUP BY w ORDER BY label""".stripMargin,
    "lexicon_validate_totals" ->
      """SELECT count(*) AS total_tokens, CAST(0 AS BIGINT) AS missing
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |WHERE w <> ''""".stripMargin,
    "doc_exact_dedup" ->
      """SELECT doc_id, text_hash, n_copies FROM (
        |  SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS n_copies
        |  FROM documents GROUP BY md5(text)) t
        |ORDER BY doc_id""".stripMargin,
    "doc_normalized_dedup" ->
      """SELECT keep_id, norm_hash, n_copies FROM (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_hash,
        |    min(doc_id) AS keep_id, count(*) AS n_copies
        |  FROM documents GROUP BY 1) t
        |ORDER BY keep_id""".stripMargin,
    "doc_ngram_jaccard_dups" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // same shingle CTE, containment scoring: intersection over the
    // SMALLER set — truncation pairs land at ~1.0
    "doc_containment_dups" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |)
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      least(len(a.sh), len(b.sh)) AS containment
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id) p
        |WHERE containment >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // same fixture and shingling as doc_ngram_jaccard_dups, with the
    // operator's df prune reproduced: shingles with df > 2 are dropped
    // BEFORE pairing, intersections count pruned shingles only, set sizes
    // stay full — jaccard is the operator's guarded underestimate exactly
    "doc_ngram_jaccard_pruned" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |), e AS (
        |  SELECT doc_id, unnest(sh) AS shingle, len(sh) AS setsize FROM d
        |), f AS (
        |  SELECT shingle FROM (
        |    SELECT shingle, count(*) AS df FROM e GROUP BY shingle) g
        |  WHERE df <= 2
        |), p AS (
        |  SELECT e.doc_id, e.shingle, e.setsize FROM e JOIN f USING (shingle)
        |), co AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.setsize AS sa, b.setsize AS sb, count(*) AS inter
        |  FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
        |  FROM co) q
        |WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // the rolling-hash fingerprint (h = 31h + char over lowercased,
    // ws-collapsed text, Java Long wraparound) in HUGEINT mod-2^64 SQL —
    // verified bit-exact against the Scala kernel
    "doc_fingerprints" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |    THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS fingerprint
        |FROM (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(1125899906842597::HUGEINT,
        |      list_transform(
        |        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''),
        |        c -> unicode(c)::HUGEINT)),
        |    (h, c) -> (31::HUGEINT * h + c) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // bag-of-words closest match: counts are integers so dot products and
    // squared norms sum exactly in double regardless of order — the score
    // double is bit-deterministic and the argmax comparable across engines.
    // Reproduces the operator's hot-dimension guard exactly: candidate
    // pairs come from dims with corpus df <= 1000 plus identical-multiset
    // twins (string fingerprint here ≡ the operator's xxhash64 fingerprint:
    // both are equality on the sorted (word, cnt) set), then surviving
    // pairs re-score exactly over all shared dims.
    "graph_closest_match" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS sentence
        |  FROM documents
        |), tok AS (
        |  -- empty tokens are excluded like buildVocabulary's length>0
        |  -- filter: a doc normalizing to '' has a zero vector and, per the
        |  -- inverted-match contract, no result row
        |  SELECT id, t, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM (SELECT id, unnest(string_split(sentence, ' ')) AS t FROM docs) u
        |  WHERE t <> ''
        |  GROUP BY id, t
        |), rare AS (
        |  SELECT t FROM (SELECT t, count(*) AS df FROM tok GROUP BY t) f
        |  WHERE df <= 1000
        |), fp AS (
        |  SELECT id, string_agg(t || ':' || CAST(cnt AS BIGINT), '|' ORDER BY t) AS fp
        |  FROM tok GROUP BY id
        |), cand AS (
        |  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id
        |  FROM tok q
        |  JOIN rare r ON q.t = r.t
        |  JOIN tok c ON q.t = c.t
        |  WHERE q.id < 8
        |  UNION
        |  SELECT qf.id AS query_id, cf.id AS corpus_id
        |  FROM fp qf JOIN fp cf ON qf.fp = cf.fp
        |  WHERE qf.id < 8
        |), norms AS (
        |  SELECT id, sqrt(sum(cnt * cnt)) AS nrm FROM tok GROUP BY id
        |), dots AS (
        |  SELECT cand.query_id, cand.corpus_id, sum(q.cnt * c.cnt) AS dot
        |  FROM cand
        |  JOIN tok c ON c.id = cand.corpus_id
        |  JOIN tok q ON q.id = cand.query_id AND q.t = c.t
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT d.query_id, d.corpus_id,
        |    d.dot / (nc.nrm * nq.nrm) AS score,
        |    row_number() OVER (PARTITION BY d.query_id
        |      ORDER BY d.dot / (nc.nrm * nq.nrm) DESC, d.corpus_id) AS rn
        |  FROM dots d
        |  JOIN norms nc ON d.corpus_id = nc.id
        |  JOIN norms nq ON d.query_id = nq.id
        |)
        |SELECT query_id, corpus_id, score FROM scored
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // the SimHash kernel (FNV-1a per token, per-bit vote) reproduced in SQL
    // with HUGEINT mod-2^64 arithmetic — verified bit-exact against the
    // Scala kernel; pairs at hamming <= 3 from a brute-force scan
    "doc_simhash_dups" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 50 = 0
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS t
        |  FROM base
        |), th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(string_split(t, ''), c -> unicode(c)::HUGEINT)),
        |    (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
        |      % 18446744073709551616::HUGEINT) AS h
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b.b,
        |    CASE WHEN sum(CASE WHEN (h >> b.b) & 1::HUGEINT = 1
        |      THEN 1 ELSE -1 END) > 0
        |      THEN (1::HUGEINT << b.b) ELSE 0::HUGEINT END AS contrib
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) b
        |  GROUP BY doc_id, b.b
        |), sh AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM (SELECT doc_id, sum(contrib) AS s FROM bits GROUP BY doc_id) q
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h64, b.h64)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h64, b.h64)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // identical brute-force oracle as doc_ngram_jaccard_dups: the minhash
    // output is exact-Jaccard-verified, LSH only gates candidate generation
    "doc_minhash_dups" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // the same five shift-mask spread steps, chained through CTEs
    "q_zorder_curve" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(o_custkey AS BIGINT) & 65535 AS xa,
        |    CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
        |      & 65535 AS xb
        |  FROM orders),
        |p1 AS (SELECT o_orderkey, (xa | (xa << 8)) & 16711935 AS xa,
        |  (xb | (xb << 8)) & 16711935 AS xb FROM base),
        |p2 AS (SELECT o_orderkey, (xa | (xa << 4)) & 252645135 AS xa,
        |  (xb | (xb << 4)) & 252645135 AS xb FROM p1),
        |p3 AS (SELECT o_orderkey, (xa | (xa << 2)) & 858993459 AS xa,
        |  (xb | (xb << 2)) & 858993459 AS xb FROM p2),
        |p4 AS (SELECT o_orderkey, (xa | (xa << 1)) & 1431655765 AS xa,
        |  (xb | (xb << 1)) & 1431655765 AS xb FROM p3)
        |SELECT o_orderkey, xa | (xb << 1) AS z
        |FROM p4 ORDER BY z, o_orderkey LIMIT 200""".stripMargin,
    // brute-force CROSS pairs (corpus × batch) with the same shingle CTE
    // as doc_minhash_dups — the incremental probe must find exactly the
    // pairs the one-shot join would
    "doc_incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents) t
        |), m AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id + 1000000 AS doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(
        |      lower(substr(text, 1, CAST(floor(length(text)*0.7) AS INT))),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 50 = 0) t
        |)
        |SELECT corpus_id, new_id, jaccard FROM (
        |  SELECT d.doc_id AS corpus_id, m.doc_id AS new_id,
        |    CAST(len(list_intersect(d.sh, m.sh)) AS DOUBLE) /
        |      (len(d.sh) + len(m.sh) - len(list_intersect(d.sh, m.sh))) AS jaccard
        |  FROM d JOIN m ON true) p
        |WHERE jaccard >= 0.3
        |ORDER BY corpus_id, new_id""".stripMargin,
    // probe-after-append == one-shot: the appended index holds the SAME
    // corpus as doc_incremental_dedup's one-shot build, so the identical
    // brute-force cross-pair scan oracles the append path
    "doc_index_append" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents) t
        |), m AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id + 1000000 AS doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(
        |      lower(substr(text, 1, CAST(floor(length(text)*0.7) AS INT))),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 50 = 0) t
        |)
        |SELECT corpus_id, new_id, jaccard FROM (
        |  SELECT d.doc_id AS corpus_id, m.doc_id AS new_id,
        |    CAST(len(list_intersect(d.sh, m.sh)) AS DOUBLE) /
        |      (len(d.sh) + len(m.sh) - len(list_intersect(d.sh, m.sh))) AS jaccard
        |  FROM d JOIN m ON true) p
        |WHERE jaccard >= 0.3
        |ORDER BY corpus_id, new_id""".stripMargin,
    // the as-of snapshot probe: the doc_index_append scan with the
    // corpus CTE restricted to the installment-0 half (doc_id%100<50)
    "doc_index_asof" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 100 < 50) t
        |), m AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id + 1000000 AS doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(
        |      lower(substr(text, 1, CAST(floor(length(text)*0.7) AS INT))),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 50 = 0) t
        |)
        |SELECT corpus_id, new_id, jaccard FROM (
        |  SELECT d.doc_id AS corpus_id, m.doc_id AS new_id,
        |    CAST(len(list_intersect(d.sh, m.sh)) AS DOUBLE) /
        |      (len(d.sh) + len(m.sh) - len(list_intersect(d.sh, m.sh))) AS jaccard
        |  FROM d JOIN m ON true) p
        |WHERE jaccard >= 0.3
        |ORDER BY corpus_id, new_id""".stripMargin,
    // the tombstone probe: the doc_index_append scan with the corpus CTE
    // excluding the deleted doc_id % 7 == 0 docs — probe-after-delete
    // must equal a fresh index over the remainder
    "doc_index_tombstone" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 7 <> 0) t
        |), m AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id + 1000000 AS doc_id,
        |    string_split(trim(regexp_replace(regexp_replace(
        |      lower(substr(text, 1, CAST(floor(length(text)*0.7) AS INT))),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents WHERE doc_id % 50 = 0) t
        |)
        |SELECT corpus_id, new_id, jaccard FROM (
        |  SELECT d.doc_id AS corpus_id, m.doc_id AS new_id,
        |    CAST(len(list_intersect(d.sh, m.sh)) AS DOUBLE) /
        |      (len(d.sh) + len(m.sh) - len(list_intersect(d.sh, m.sh))) AS jaccard
        |  FROM d JOIN m ON true) p
        |WHERE jaccard >= 0.3
        |ORDER BY corpus_id, new_id""".stripMargin,
    // same brute-force pair set as doc_minhash_dups, closed transitively
    // with a recursive CTE — DuckDB's reachability fixpoint oracles the
    // Spark-side large-star/small-star fixpoint
    // incremental path: same full-pair-set oracle — the fold must be
    // indistinguishable from one-shot clustering
    "doc_dup_clusters_incr" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |), p AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id) q
        |  WHERE jaccard >= 0.3
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT rep, count(*) AS n_members,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM lab GROUP BY rep ORDER BY rep""".stripMargin,
    "doc_dup_clusters" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |), p AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id) q
        |  WHERE jaccard >= 0.3
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT rep, count(*) AS n_members,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM lab GROUP BY rep ORDER BY rep""".stripMargin,
    "emb_near_dups" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 1.05 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.98
        |ORDER BY id_a, id_b""".stripMargin,
    // SemDeDup survivors: the emb_dup_clusters CC verbatim, pruned to
    // keep-min representatives — a row survives unless it is a
    // non-representative member of some duplicate cluster
    "emb_semantic_dedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 1.05 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM base a JOIN base b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.98),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT b.vec_id FROM base b
        |LEFT JOIN (SELECT id FROM lab WHERE id <> rep) d ON b.vec_id = d.id
        |WHERE d.id IS NULL
        |ORDER BY b.vec_id""".stripMargin,
    "emb_dup_clusters" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 1.05 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM base a JOIN base b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.98),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT rep, count(*) AS n_members,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM lab GROUP BY rep ORDER BY rep""".stripMargin,
    // Sampling/mixing/packing: the Knuth multiplicative hash and the
    // chunked cumsum are plain BIGINT arithmetic, reproduced exactly
    // same fixture synthesis and the same RE2-subset patterns, applied in
    // the same order (email → ipv4 → ssn → phone)
    "doc_pii_scrub" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id ||
        |      '@example.com from 10.' || (doc_id % 256) ||
        |      '.0.42 ssn 123-45-6789 call +44 207 946 0958'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
        |  len(regexp_extract_all(text, '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{3,4}\b')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{3,4}\b', '<PHONE>', 'g')) AS redacted_hash
        |FROM base ORDER BY doc_id""".stripMargin,
    "doc_url_filter" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' see https://sub' ||
        |        (doc_id % 5) || '.badsite.com/p?x=1 and http://ok.example.org/about'
        |      WHEN doc_id % 13 = 0 THEN text ||
        |        ' ref http://cdn.tracker.io and https://example.com'
        |      WHEN doc_id % 17 = 0 THEN text || ' go HTTPS://u@badsite.com/x'
        |      ELSE text END AS text
        |  FROM documents),
        |bl AS (SELECT unnest(['badsite.com', 'tracker.io']) AS domain),
        |h AS (
        |  SELECT doc_id,
        |    lower(unnest(regexp_extract_all(text, '[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])', 1))) AS host
        |  FROM base),
        |hits AS (
        |  SELECT DISTINCT doc_id FROM h JOIN bl
        |    ON h.host = bl.domain OR h.host LIKE '%.' || bl.domain)
        |SELECT b.doc_id,
        |  len(regexp_extract_all(b.text, 'https?://[A-Za-z0-9.-]+')) AS n_urls,
        |  (hits.doc_id IS NOT NULL) AS blocked
        |FROM base b LEFT JOIN hits ON b.doc_id = hits.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // PageRank: three unrolled power-iteration rounds in identical
    // integer fixed point (BIGINT trillionths, truncating //); dangling
    // nodes get only the base term via the LEFT JOIN + COALESCE
    "q_host_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 'h' || (doc_id % 7) AS src,
        |    'h' || ((doc_id // 7) % (1 + (doc_id % 7) % 4)) AS dst
        |  FROM documents),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, 1000000000000 // n AS r FROM nodes, nn),
        |s1 AS (
        |  SELECT e.dst AS id, sum(r0.r // deg.d) AS s
        |  FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT nodes.id,
        |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s1.s, 0)) // 20 AS r
        |  FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.id = nodes.id),
        |s2 AS (
        |  SELECT e.dst AS id, sum(r1.r // deg.d) AS s
        |  FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT nodes.id,
        |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s2.s, 0)) // 20 AS r
        |  FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.id = nodes.id),
        |s3 AS (
        |  SELECT e.dst AS id, sum(r2.r // deg.d) AS s
        |  FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT nodes.id,
        |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s3.s, 0)) // 20 AS r
        |  FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.id = nodes.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_fp FROM r3 ORDER BY id""".stripMargin,
    // the q_host_pagerank rounds (with full hostnames) + host extraction
    // + the rank-floor keep decision, all in the same integer arithmetic
    "doc_pagerank_filter" ->
      """WITH e AS (
        |  SELECT DISTINCT 'h' || (doc_id % 7) || '.example.com' AS src,
        |    'h' || ((doc_id // 7) % (1 + (doc_id % 7) % 4)) || '.example.com' AS dst
        |  FROM documents),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |r0 AS (SELECT id, 1000000000000 // n AS r FROM nodes, nn),
        |s1 AS (
        |  SELECT e.dst AS id, sum(r0.r // deg.d) AS s
        |  FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT nodes.id,
        |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s1.s, 0)) // 20 AS r
        |  FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.id = nodes.id),
        |s2 AS (
        |  SELECT e.dst AS id, sum(r1.r // deg.d) AS s
        |  FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT nodes.id,
        |    (3 * 1000000000000) // (20 * n) + (17 * COALESCE(s2.s, 0)) // 20 AS r
        |  FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.id = nodes.id),
        |s3 AS (
        |  SELECT e.dst AS id, sum(r2.r // deg.d) AS s
        |  FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT nodes.id, CAST((3 * 1000000000000) // (20 * n)
        |    + (17 * COALESCE(s3.s, 0)) // 20 AS BIGINT) AS rank_fp
        |  FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.id = nodes.id),
        |u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN 'no url here'
        |      ELSE 'https://h' || (doc_id % 7) || '.example.com/p/' || doc_id
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    nullif(lower(regexp_extract(url,
        |      '[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])',
        |      1)), '') AS host
        |  FROM u)
        |SELECT h.doc_id, r3.rank_fp,
        |  (h.host IS NULL OR r3.rank_fp >= 50000000000) AS kept
        |FROM h LEFT JOIN r3 ON r3.id = h.host
        |ORDER BY h.doc_id""".stripMargin,
    "doc_host_stats" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 17 = 0 THEN 'not a url'
        |      ELSE 'https://Host' || (doc_id % 7) || '.Example.com:443/p/' || doc_id
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    lower(regexp_extract(url,
        |      '[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])',
        |      1)) AS host
        |  FROM u)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM h WHERE host IS NOT NULL AND length(host) > 0
        |GROUP BY host ORDER BY host""".stripMargin,
    "doc_host_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN 'not a url'
        |      ELSE 'https://Host' || (doc_id % 7) || '.Example.com:443/p/' || doc_id
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url,
        |      '[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])',
        |      1)) AS host
        |  FROM u)
        |SELECT host, doc_id, rank FROM (
        |  SELECT host, doc_id,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id)
        |      AS rank
        |  FROM h WHERE host IS NOT NULL AND length(host) > 0) t
        |WHERE rank <= 40 ORDER BY host, rank""".stripMargin,
    "doc_host_token_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tok,
        |    CASE WHEN doc_id % 17 = 0 THEN 'not a url'
        |      ELSE 'https://Host' || (doc_id % 7) || '.Example.com:443/p/' || doc_id
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_tok,
        |    lower(regexp_extract(url,
        |      '[Hh][Tt][Tt][Pp][Ss]?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]*[A-Za-z0-9])',
        |      1)) AS host
        |  FROM u),
        |s AS (
        |  SELECT host, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY host
        |      ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h WHERE host IS NOT NULL AND length(host) > 0)
        |SELECT host, doc_id, n_tok FROM s WHERE cum <= 1200
        |ORDER BY doc_id""".stripMargin,
    "doc_quality_select" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n FROM t GROUP BY lang),
        |r AS (
        |  SELECT t.doc_id, t.lang, t.n_tok, c.n,
        |    row_number() OVER (PARTITION BY t.lang
        |      ORDER BY -t.n_tok, t.doc_id) AS rnk
        |  FROM t JOIN c USING (lang))
        |SELECT doc_id, lang, n_tok FROM r WHERE rnk <= n * 3000 // 10000
        |ORDER BY doc_id""".stripMargin,
    "doc_curriculum_order" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) >= 50
        |      THEN 0 ELSE 1 END AS stage
        |  FROM documents)
        |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
        |  row_number() OVER (ORDER BY stage,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) - 1
        |    AS pos
        |FROM t ORDER BY doc_id""".stripMargin,
    "doc_epoch_repeat" ->
      """WITH e(lang, nfull, thresh) AS (VALUES
        |    ('en', 1, 0), ('de', 2, 2147483648),
        |    ('fr', 0, 2147483648), ('zh', 0, 0)),
        |d AS (
        |  SELECT doc_id, documents.lang,
        |    nfull + CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296
        |      < thresh THEN 1 ELSE 0 END AS reps
        |  FROM documents JOIN e ON documents.lang = e.lang)
        |SELECT doc_id, lang, CAST(unnest(range(reps)) AS BIGINT) AS epoch
        |FROM d WHERE reps > 0
        |ORDER BY doc_id, epoch""".stripMargin,
    "doc_sample_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 <
        |  CASE lang WHEN 'en' THEN 4294967296
        |            WHEN 'de' THEN 2147483648
        |            WHEN 'fr' THEN 1073741824
        |            ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "doc_train_val_split" ->
      """SELECT CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 858993459
        |  THEN 'val' ELSE 'train' END AS split, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    // near-dup pruning: recursive-CTE CC labels, survivors = unlabeled
    // docs plus cluster minima
    "doc_minhash_prune" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |), p AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id) q
        |  WHERE jaccard >= 0.3
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT b.doc_id, CAST(length(b.text) AS BIGINT) AS n_chars
        |FROM base b LEFT JOIN lab l ON l.id = b.doc_id
        |WHERE l.id IS NULL OR l.rep = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // leakage-safe split: the doc_dup_clusters recursive-CTE labeling +
    // the doc_train_val_split hash arithmetic applied to the REP
    "doc_leakage_safe_split" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM base) t
        |), p AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id) q
        |  WHERE jaccard >= 0.3
        |), e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |)
        |SELECT b.doc_id,
        |  COALESCE(l.rep, b.doc_id) AS rep,
        |  CASE WHEN ((COALESCE(l.rep, b.doc_id) % 2147483648) * 2654435761)
        |         % 4294967296 < 858993459
        |    THEN 'val' ELSE 'train' END AS split
        |FROM base b LEFT JOIN lab l ON l.id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 64 THEN 1
        |      ELSE (len(w) - 64 + 47) // 48 + 1 END AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        |  len(list_slice(w, chunk_idx*48+1, chunk_idx*48+64)) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(w, chunk_idx*48+1, chunk_idx*48+64), ' '))
        |    AS chunk_hash
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "doc_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 32 THEN 1 ELSE (len(w) - 32 + 31) // 32 + 1 END
        |      AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM c),
        |h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(w, chunk_idx*32+1, chunk_idx*32+32), ' '))
        |      AS chunk_hash,
        |    len(list_slice(w, chunk_idx*32+1, chunk_idx*32+32)) AS n_toks
        |  FROM e)
        |SELECT chunk_hash, count(*) AS n_sites, min(doc_id) AS first_doc
        |FROM h WHERE n_toks > 0
        |GROUP BY chunk_hash HAVING count(*) > 1
        |ORDER BY chunk_hash""".stripMargin,
    "doc_quota_sample" ->
      """SELECT lang, doc_id, rank FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,
    "doc_token_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tok,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS coord
        |  FROM documents),
        |b(lang, budget) AS (VALUES ('en', 5000), ('de', 1500), ('fr', 2000)),
        |s AS (
        |  SELECT t.doc_id, t.lang, t.n_tok, b.budget,
        |    sum(t.n_tok) OVER (PARTITION BY t.lang ORDER BY t.coord, t.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t JOIN b USING (lang))
        |SELECT doc_id, lang, n_tok FROM s WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin,
    "doc_shard_assign" ->
      """SELECT doc_id, rn // 64 AS shard, rn % 64 AS pos_in_shard FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id)
        |      - 1 AS rn
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "doc_global_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id)
        |    - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens,
        |    doc_id % 4 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, shard,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    // segment-then-pack: byte-exact 96-token segmentation (the doc_chunks
    // window arithmetic at stride == window), seg_key = doc_id*2^20 +
    // seg_idx, then the doc_pack_bins cumsum over (lang, seg_key % 4)
    "doc_pack_segments" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, w,
        |    CASE WHEN len(w) <= 48 THEN 1
        |      ELSE (len(w) - 48 + 47) // 48 + 1 END AS n_segs
        |  FROM t),
        |e AS (SELECT doc_id, lang, w, unnest(range(n_segs)) AS seg_idx FROM c),
        |s AS (
        |  SELECT doc_id, lang, seg_idx,
        |    doc_id * 1048576 + seg_idx AS seg_key,
        |    CAST(len(list_slice(w, seg_idx*48+1, seg_idx*48+48)) AS BIGINT)
        |      AS n_seg_tokens,
        |    md5(array_to_string(list_slice(w, seg_idx*48+1, seg_idx*48+48), ' '))
        |      AS seg_hash
        |  FROM e),
        |p AS (SELECT *, seg_key % 4 AS shard FROM s),
        |cc AS (
        |  SELECT *, sum(n_seg_tokens) OVER (PARTITION BY lang, shard
        |    ORDER BY seg_key ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM p)
        |SELECT seg_key, doc_id, seg_idx, lang, n_seg_tokens, shard,
        |  CAST((cum - n_seg_tokens) // 512 AS BIGINT) AS bin, seg_hash
        |FROM cc ORDER BY seg_key""".stripMargin,
    // assembly: the same binning CTE, materialized per bin with an
    // ordered string_agg — byte-for-byte equality pins concat order,
    // separator bytes, and membership in one hash
    "doc_pack_assemble" ->
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tokens,
        |    doc_id % 4 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, text, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |b AS (
        |  SELECT doc_id, lang, shard, text, n_tokens,
        |    CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
        |  FROM c)
        |SELECT lang, shard, bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
        |FROM b GROUP BY lang, shard, bin
        |ORDER BY lang, shard, bin""".stripMargin,
    // distinct word 5-grams on both sides (same normalization + short-text
    // fallback as the Jaccard oracle); n_hits = distinct shared grams
    "doc_decontaminate" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-3),
        |      i -> array_to_string(w[i:i+4], ' ')) END)) AS gram
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents) t
        |), bgrams AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0 AND gram <> ''
        |)
        |SELECT doc_id, count(*) AS n_hits
        |FROM grams JOIN bgrams USING (gram)
        |WHERE gram <> ''
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the bloom path must land on EXACTLY the exact-join survivors: the
    // sketch has one-sided error and false positives die in the confirm join
    "doc_decontaminate_bloom" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-3),
        |      i -> array_to_string(w[i:i+4], ' ')) END)) AS gram
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents) t
        |), bgrams AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0 AND gram <> ''
        |), hits AS (
        |  SELECT DISTINCT doc_id FROM grams JOIN bgrams USING (gram)
        |  WHERE gram <> ''
        |)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,
    // Stupid-Backoff bigram LM score — all-integer fixed point (millionths):
    // seen bigram ⌊1e6·c(w1 w2)/c(w1)⌋, else backoff ⌊2e6·c(w2)/(5·N)⌋;
    // HUGEINT products + `//` mirror Spark's DECIMAL(38,0) `div` exactly.
    "doc_ngram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM toks) u GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |prs AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |bi AS (
        |  SELECT w1 || ' ' || w2 AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM prs GROUP BY 1),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * b.c) // u1.c AS BIGINT)
        |      ELSE CAST((2000000::HUGEINT * COALESCE(u2.c, 0))
        |                // (5::HUGEINT * t.n_total) AS BIGINT)
        |    END AS s
        |  FROM prs p
        |  LEFT JOIN bi b ON b.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(s) AS BIGINT) AS lm_score_sum
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(a.lm_score_sum, 0) AS BIGINT) AS lm_score_sum,
        |  CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(a.lm_score_sum // a.n_pairs AS BIGINT) END AS lm_avg
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // DSIR selection: the same integer LM arithmetic under BOTH models
    // (target = en docs, raw = whole corpus), importance = avg_t − avg_r,
    // rank by (importance desc, doc_id) — the TopK tie-break
    // nearest-centroid classifier: identical integer dot/norm arithmetic
    // (HUGEINT products mirror DECIMAL(38,0)), identical double cosine
    // from the same exact integers, row_number tie-break (cosine desc,
    // label asc) = the TopK label aggregator's ordering
    "doc_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |dcnt AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS d
        |  FROM toks GROUP BY doc_id, token),
        |mtoks AS (
        |  SELECT lang AS label,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0),
        |model AS (
        |  SELECT label, token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM mtoks GROUP BY label, token),
        |cn AS (
        |  SELECT label, sum(CAST(cnt AS HUGEINT) * cnt) AS n2
        |  FROM model GROUP BY label),
        |dn AS (
        |  SELECT doc_id, sum(CAST(d AS HUGEINT) * d) AS n2
        |  FROM dcnt GROUP BY doc_id),
        |dots AS (
        |  SELECT dc.doc_id, m.label, sum(CAST(dc.d AS HUGEINT) * m.cnt) AS dot
        |  FROM dcnt dc JOIN model m ON dc.token = m.token
        |  GROUP BY dc.doc_id, m.label),
        |sc AS (
        |  SELECT dots.doc_id, dots.label,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(dn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cosine
        |  FROM dots
        |  JOIN dn ON dn.doc_id = dots.doc_id
        |  JOIN cn ON cn.label = dots.label)
        |SELECT doc_id, label, cosine FROM (
        |  SELECT doc_id, label, cosine,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cosine DESC, label) AS rn
        |  FROM sc) r
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "doc_dsir_sample" ->
      """WITH tgt AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE lang = 'en' AND length(trim(text)) > 0),
        |alltk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni_t AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM tgt) u GROUP BY token),
        |tot_t AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_total FROM uni_t),
        |bi_t AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM tgt, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2 GROUP BY 1),
        |uni_r AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM alltk) u GROUP BY token),
        |tot_r AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_total FROM uni_r),
        |bi_r AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM alltk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2 GROUP BY 1),
        |prs AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM alltk, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN bt.c IS NOT NULL AND u1t.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * bt.c) // u1t.c AS BIGINT)
        |      WHEN tt.n_total > 0
        |      THEN CAST((2000000::HUGEINT * COALESCE(u2t.c, 0))
        |                // (5::HUGEINT * tt.n_total) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS st,
        |    CASE WHEN br.c IS NOT NULL AND u1r.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * br.c) // u1r.c AS BIGINT)
        |      WHEN tr.n_total > 0
        |      THEN CAST((2000000::HUGEINT * COALESCE(u2r.c, 0))
        |                // (5::HUGEINT * tr.n_total) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS sr
        |  FROM prs p
        |  LEFT JOIN bi_t bt ON bt.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni_t u1t ON u1t.token = p.w1
        |  LEFT JOIN uni_t u2t ON u2t.token = p.w2
        |  LEFT JOIN bi_r br ON br.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni_r u1r ON u1r.token = p.w1
        |  LEFT JOIN uni_r u2r ON u2r.token = p.w2
        |  CROSS JOIN tot_t tt CROSS JOIN tot_r tr),
        |agg AS (
        |  SELECT doc_id, count(*) AS np,
        |    CAST(sum(st) AS BIGINT) AS sumt, CAST(sum(sr) AS BIGINT) AS sumr
        |  FROM scored GROUP BY doc_id),
        |w AS (
        |  SELECT d.doc_id,
        |    (CASE WHEN COALESCE(a.np, 0) = 0 THEN CAST(0 AS BIGINT)
        |          ELSE CAST(a.sumt // a.np AS BIGINT) END)
        |    - (CASE WHEN COALESCE(a.np, 0) = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(a.sumr // a.np AS BIGINT) END) AS importance
        |  FROM documents d LEFT JOIN agg a USING (doc_id)),
        |rk AS (
        |  SELECT doc_id, importance,
        |    row_number() OVER (ORDER BY importance DESC, doc_id) AS rank
        |  FROM w)
        |SELECT doc_id, CAST(importance AS BIGINT) AS importance,
        |  CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin,
    // append == one-shot by delta-summed construction → the oracle is the
    // SAME whole-corpus LM SQL as doc_ngram_lm_score
    "doc_lm_append" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM toks) u GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |prs AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |bi AS (
        |  SELECT w1 || ' ' || w2 AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM prs GROUP BY 1),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * b.c) // u1.c AS BIGINT)
        |      ELSE CAST((2000000::HUGEINT * COALESCE(u2.c, 0))
        |                // (5::HUGEINT * t.n_total) AS BIGINT)
        |    END AS s
        |  FROM prs p
        |  LEFT JOIN bi b ON b.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(s) AS BIGINT) AS lm_score_sum
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(a.lm_score_sum, 0) AS BIGINT) AS lm_score_sum,
        |  CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(a.lm_score_sum // a.n_pairs AS BIGINT) END AS lm_avg
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // snapshot read: the model CTEs train on the even half only; the
    // scoring side still walks every document's pairs
    // LM tombstone: the doc_lm_asof shape with the model CTEs trained on
    // doc_id % 7 <> 0 (corpus minus deleted) while scoring everything —
    // negative-delta deletion must be bit-identical to the fresh build
    "doc_lm_tombstone" ->
      """WITH tr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 7 <> 0 AND length(trim(text)) > 0),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM tr) u GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |bi AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM tr, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2 GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |prs AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM sc, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * b.c) // u1.c AS BIGINT)
        |      ELSE CAST((2000000::HUGEINT * COALESCE(u2.c, 0))
        |                // (5::HUGEINT * t.n_total) AS BIGINT)
        |    END AS s
        |  FROM prs p
        |  LEFT JOIN bi b ON b.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(s) AS BIGINT) AS lm_score_sum
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(a.lm_score_sum, 0) AS BIGINT) AS lm_score_sum,
        |  CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(a.lm_score_sum // a.n_pairs AS BIGINT) END AS lm_avg
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "doc_lm_asof" ->
      """WITH tr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0),
        |uni AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS token FROM tr) u GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
        |bi AS (
        |  SELECT t[i] || ' ' || t[i+1] AS bigram, CAST(count(*) AS BIGINT) AS c
        |  FROM tr, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2 GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |prs AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM sc, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
        |      THEN CAST((1000000::HUGEINT * b.c) // u1.c AS BIGINT)
        |      ELSE CAST((2000000::HUGEINT * COALESCE(u2.c, 0))
        |                // (5::HUGEINT * t.n_total) AS BIGINT)
        |    END AS s
        |  FROM prs p
        |  LEFT JOIN bi b ON b.bigram = p.w1 || ' ' || p.w2
        |  LEFT JOIN uni u1 ON u1.token = p.w1
        |  LEFT JOIN uni u2 ON u2.token = p.w2
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(s) AS BIGINT) AS lm_score_sum
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(a.lm_score_sum, 0) AS BIGINT) AS lm_score_sum,
        |  CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(a.lm_score_sum // a.n_pairs AS BIGINT) END AS lm_avg
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // C4 cleaning: the doc_chunks 8/8 CTE builds the same line fixture;
    // line keep = terminal punct + ≥3 ws-words + no "javascript";
    // reassembly via string_agg ORDER BY line index (NULLs skipped)
    "doc_c4_clean" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 8 THEN 1 ELSE (len(w) - 8 + 7) // 8 + 1 END
        |      AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM c),
        |ln AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(list_slice(w, chunk_idx*8+1, chunk_idx*8+8), ' ')
        |      || CASE WHEN (doc_id + chunk_idx) % 3 = 0 THEN '' ELSE '.' END
        |      AS line
        |  FROM e),
        |base AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY chunk_idx) AS b
        |  FROM ln GROUP BY doc_id),
        |built AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 13 = 0
        |       THEN 'function() { var x; }' || chr(10) ELSE '' END)
        |    || b
        |    || (CASE WHEN doc_id % 17 = 0
        |       THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END)
        |    || (CASE WHEN doc_id % 19 = 0
        |       THEN chr(10) || 'click javascript here now.' ELSE '' END)
        |      AS text
        |  FROM base),
        |ls AS (SELECT doc_id, text, regexp_split_to_array(text, '\n') AS la
        |  FROM built),
        |lx AS (
        |  SELECT doc_id, i, trim(la[i]) AS tr
        |  FROM ls, unnest(range(1, len(la) + 1)) AS r(i)),
        |j AS (
        |  SELECT doc_id, i, tr,
        |    tr <> ''
        |      AND substr(tr, length(tr), 1) IN ('.', '!', '?', '"')
        |      AND len(regexp_split_to_array(tr, '\s+')) >= 3
        |      AND strpos(lower(tr), 'javascript') = 0 AS keep
        |  FROM lx),
        |agg AS (
        |  SELECT doc_id,
        |    COALESCE(string_agg(CASE WHEN keep THEN tr END, chr(10)
        |      ORDER BY i), '') AS clean_text,
        |    CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
        |    CAST(count(CASE WHEN NOT keep THEN 1 END) AS BIGINT) AS n_dropped
        |  FROM j GROUP BY doc_id)
        |SELECT b.doc_id, a.clean_text, a.n_kept, a.n_dropped,
        |  (a.n_kept >= 3 AND strpos(b.text, '{') = 0
        |    AND strpos(lower(b.text), 'lorem ipsum') = 0) AS page_kept
        |FROM built b JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // Gopher rules: identical integer cross-multiplications; letter-word
    // counting consumes the leading separator so matches == letter tokens;
    // stop-hit indicators are list_contains over the canonical ws split
    "doc_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |           THEN '• promo' || chr(10) || '• sale' || chr(10) || text
        |         WHEN doc_id % 11 = 0
        |           THEN text || chr(10) || 'read more...' || chr(10) || 'click here...'
        |         ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(trim(text), '\s', '', 'g')) AS BIGINT) AS sum_len,
        |    CAST(len(regexp_extract_all(trim(text), '(^|\s)[^\s]*[a-zA-Z][^\s]*')) AS BIGINT) AS alpha_words,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
        |    CAST((length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) // 3 AS BIGINT) AS ellipses,
        |    CAST(len(regexp_split_to_array(text, '\n')) AS BIGINT) AS n_lines,
        |    CAST(len(regexp_extract_all(text, '(^|\n)[ \t]*[•*-]')) AS BIGINT) AS bullet_lines,
        |    CAST(len(regexp_extract_all(text, '\.\.\.[ \t]*(\n|$)')) AS BIGINT) AS ell_lines,
        |    CAST((CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'the') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'be') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'to') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'of') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'and') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'that') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'have') THEN 1 ELSE 0 END
        |        + CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'with') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |  FROM d)
        |SELECT doc_id, n_words,
        |  n_words >= 50 AND n_words <= 100000 AS r_wordcount,
        |  sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS r_meanlen,
        |  (hashes + ellipses) * 10 <= n_words AS r_symbol,
        |  bullet_lines * 10 <= n_lines AS r_bullet,
        |  ell_lines * 10 <= n_lines * 3 AS r_ellipsis,
        |  alpha_words * 5 >= n_words * 4 AS r_alpha,
        |  stop_hits >= 2 AS r_stop,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |    AND ((hashes + ellipses) * 10 <= n_words)
        |    AND (bullet_lines * 10 <= n_lines)
        |    AND (ell_lines * 10 <= n_lines * 3)
        |    AND (alpha_words * 5 >= n_words * 4)
        |    AND (stop_hits >= 2) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    "doc_token_stats" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens_ws,
        |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS sum_tokens_bpeish,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_token_histogram" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents) t
        |GROUP BY token ORDER BY token""".stripMargin,
    "doc_top_bigrams" ->
      """WITH w AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |b AS (
        |  SELECT lang, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM w WHERE len(t) >= 2),
        |c AS (SELECT lang, bigram, count(*) AS cnt FROM b GROUP BY lang, bigram),
        |r AS (
        |  SELECT lang, bigram, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rank
        |  FROM c)
        |SELECT lang, bigram, cnt, rank FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "doc_charclass_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  length(text) - length(regexp_replace(text, '[a-z0-9]', '', 'g')) AS n_alnum,
        |  length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_space,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_classes" ->
      """SELECT cls, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN regexp_matches(token, '^[0-9]+$') THEN 'int'
        |    WHEN regexp_matches(token, '^[0-9]*\.[0-9]+$') THEN 'dec'
        |    WHEN regexp_matches(token, '^[a-z]+$') THEN 'word'
        |    ELSE 'other' END AS cls
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |        FROM documents) t) c
        |GROUP BY cls ORDER BY cls""".stripMargin,
    "doc_winnow_fingerprints" ->
      """WITH d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM documents) t
        |)
        |SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS winnow_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    // mirrors TextMetrics.profile formulas op-for-op (same IEEE evaluation
    // order) — per-row arithmetic on ints/doubles is bit-deterministic
    "doc_quality" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    length(text) AS nch,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS npunct,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by'))) AS nstop,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS nsplit,
        |    length(regexp_replace(trim(text), '\s', '', 'g')) AS nws
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN nsplit = 0 THEN 0.0 ELSE CAST(nstop AS DOUBLE) / nsplit END AS stop_ratio,
        |    CASE WHEN nch = 0 THEN 0.0 ELSE CAST(npunct AS DOUBLE) / nch END AS punct_ratio,
        |    CASE WHEN toks = 0 THEN 0.0 ELSE CAST(nws AS DOUBLE) / toks END AS mwl,
        |    toks
        |  FROM p)
        |SELECT doc_id,
        |  least(stop_ratio * 4.0, 1.0) * 0.4
        |    + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.3
        |    + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
        |    AS m_quality,
        |  stop_ratio AS m_stopword_ratio,
        |  punct_ratio AS m_punct_ratio,
        |  toks AS m_tokens_ws
        |FROM r ORDER BY doc_id""".stripMargin,
    // mirrors TextMetrics.languageId: no CJK chars exist in the corpus, so
    // the stopword-coverage argmax (ties resolved alphabetically, all-zero
    // -> 'und') is the whole decision
    // integer-ratio repetition signals — exact on both engines
    "doc_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
        |    length(trim(text)) AS lt
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS gram,
        |    len(w) - 1 AS total
        |  FROM w WHERE lt > 0 AND len(w) >= 2),
        |m AS (
        |  SELECT doc_id, max(c)::DOUBLE / any_value(total) AS top2gram_frac
        |  FROM (SELECT doc_id, gram, any_value(total) AS total, count(*) AS c
        |        FROM g GROUP BY doc_id, gram) t
        |  GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN lt = 0 THEN 0.0
        |    ELSE (len(w) - len(list_distinct(w)))::DOUBLE / len(w) END
        |    AS dupword_frac,
        |  coalesce(m.top2gram_frac, 0.0) AS top2gram_frac
        |FROM w LEFT JOIN m USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // BM25: identical normalization, identical arithmetic token-for-token
    // (log-free RSJ idf; 0.25/0.75/1.25/2.25 are exact binary fractions;
    // DECIMAL(28,10) term-score sum kills summation-order dependence),
    // rank = row_number over (score DESC, doc_id) mirroring TopK's pinned
    // ordering
    "doc_bm25_topk" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(nt, ' ') AS w FROM nrm
        |  WHERE length(nt) > 0),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base) t
        |  GROUP BY doc_id, term),
        |scal AS (
        |  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
        |  FROM base),
        |q AS (
        |  SELECT doc_id AS query_id, array_to_string(w[1:5], ' ') AS qt
        |  FROM base WHERE doc_id IN (3, 77, 201)),
        |qt AS (
        |  SELECT DISTINCT query_id, unnest(string_split(qt, ' ')) AS term FROM q),
        |dfq AS (
        |  SELECT term, count(*) AS df_t FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |hits AS (
        |  SELECT qt.query_id, p.doc_id,
        |    (n - df_t + 0.5) / (df_t + 0.5) * (tf * 2.25) /
        |      (tf + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS ts
        |  FROM post p JOIN qt ON p.term = qt.term
        |    JOIN dfq ON p.term = dfq.term, scal),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(ts AS DECIMAL(28,10))) AS DOUBLE) AS score
        |  FROM hits GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // BM25 as-of snapshot: the doc_bm25_topk SQL with the INDEXED side
    // (postings + N/avgdl/df) restricted to the even installment-0 half;
    // query text still comes from the full table (queries need not be
    // in the index)
    "doc_bm25_asof" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(nt, ' ') AS w FROM nrm
        |  WHERE length(nt) > 0),
        |idx AS (SELECT * FROM base WHERE doc_id % 2 = 0),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM idx) t
        |  GROUP BY doc_id, term),
        |scal AS (
        |  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
        |  FROM idx),
        |q AS (
        |  SELECT doc_id AS query_id, array_to_string(w[1:5], ' ') AS qt
        |  FROM base WHERE doc_id IN (3, 77, 201)),
        |qt AS (
        |  SELECT DISTINCT query_id, unnest(string_split(qt, ' ')) AS term FROM q),
        |dfq AS (
        |  SELECT term, count(*) AS df_t FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |hits AS (
        |  SELECT qt.query_id, p.doc_id,
        |    (n - df_t + 0.5) / (df_t + 0.5) * (tf * 2.25) /
        |      (tf + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS ts
        |  FROM post p JOIN qt ON p.term = qt.term
        |    JOIN dfq ON p.term = dfq.term, scal),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(ts AS DECIMAL(28,10))) AS DOUBLE) AS score
        |  FROM hits GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // BM25 tombstone: the doc_bm25_asof shape with the INDEXED side
    // excluding the deleted doc_id % 7 == 0 docs — delete-by-negative-
    // deltas must score bit-identically to a fresh build over the
    // remainder; queries still come from the full table (77 queries on,
    // its self-hit must be gone)
    "doc_bm25_tombstone" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(nt, ' ') AS w FROM nrm
        |  WHERE length(nt) > 0),
        |idx AS (SELECT * FROM base WHERE doc_id % 7 <> 0),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM idx) t
        |  GROUP BY doc_id, term),
        |scal AS (
        |  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
        |  FROM idx),
        |q AS (
        |  SELECT doc_id AS query_id, array_to_string(w[1:5], ' ') AS qt
        |  FROM base WHERE doc_id IN (3, 77, 201)),
        |qt AS (
        |  SELECT DISTINCT query_id, unnest(string_split(qt, ' ')) AS term FROM q),
        |dfq AS (
        |  SELECT term, count(*) AS df_t FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |hits AS (
        |  SELECT qt.query_id, p.doc_id,
        |    (n - df_t + 0.5) / (df_t + 0.5) * (tf * 2.25) /
        |      (tf + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS ts
        |  FROM post p JOIN qt ON p.term = qt.term
        |    JOIN dfq ON p.term = dfq.term, scal),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(ts AS DECIMAL(28,10))) AS DOUBLE) AS score
        |  FROM hits GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // hashed tf-idf: identical hash (first 8 md5 hex chars → BIGINT),
    // identical RSJ idf, decimal-exact collision and norm sums
    "doc_tfidf_vectors" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(nt, ' ')) AS term
        |  FROM nrm WHERE length(nt) > 0),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY doc_id, term),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64 AS dim,
        |    CAST(sum(CAST(tf * ((n - df + 0.5) / (df + 0.5))
        |      AS DECIMAL(28,10))) AS DOUBLE) AS wr
        |  FROM tf JOIN dfx USING (term), nn
        |  GROUP BY 1, 2),
        |nv AS (
        |  SELECT doc_id,
        |    sqrt(CAST(sum(CAST(wr * wr AS DECIMAL(28,10))) AS DOUBLE)) AS nv
        |  FROM w GROUP BY doc_id)
        |SELECT w.doc_id, dim, wr / nv AS weight
        |FROM w JOIN nv USING (doc_id)
        |ORDER BY doc_id, dim""".stripMargin,
    // systematic weighted sample: window cumsum replays the integer
    // weight line; // is floor division (non-negative numerators, so
    // it agrees with Spark's truncating div)
    "doc_weighted_sample" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars, greatest(n_chars, 0) AS w,
        |    coalesce(sum(greatest(n_chars, 0)) OVER
        |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |       AND 1 PRECEDING), 0) AS cum
        |  FROM documents)
        |SELECT doc_id, n_chars FROM c
        |WHERE (cum + w - 1 - 500 + 2000) // 2000
        |    > (cum - 1 - 500 + 2000) // 2000
        |ORDER BY doc_id""".stripMargin,
    // snapshot diff: same md5(chr(1)-joined values) row hash, same
    // full-outer classification — the hash itself replays in DuckDB
    "doc_snapshot_diff" ->
      """WITH oldsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 3 THEN text || ' v1' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 10 <> 7),
        |newsnap AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 <> 5),
        |oh AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(text, chr(2) || 'NULL'),
        |    coalesce(lang, chr(2) || 'NULL'))) AS h
        |  FROM oldsnap),
        |nh AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(text, chr(2) || 'NULL'),
        |    coalesce(lang, chr(2) || 'NULL'))) AS h
        |  FROM newsnap)
        |SELECT coalesce(oh.doc_id, nh.doc_id) AS doc_id,
        |  CASE WHEN oh.doc_id IS NULL THEN 'added'
        |       WHEN nh.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change
        |FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
        |WHERE oh.doc_id IS NULL OR nh.doc_id IS NULL OR oh.h <> nh.h
        |ORDER BY doc_id""".stripMargin,
    // user journeys: string_agg ORDER BY (ts, event_id) mirrors the
    // sorted-struct kernel (event_id unique → total order)
    "q_user_journeys" ->
      """SELECT user_id,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS journey,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // scaler stats: decimal-exact Σx/Σx², one double conversion, then
    // the identical (sq/n − (sx/n)·(sx/n)) op sequence; outputs round
    // via DECIMAL(18,6) then cast back to DOUBLE (decimal output
    // canonicalization is harness-dependent; decimal→double is
    // correctly rounded in both engines — bit-identical anywhere)
    "q_scaler_stats" ->
      """WITH s AS (
        |  SELECT
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx_q,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sq_q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx_p,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sq_p,
        |    count(*) AS n
        |  FROM lineitem)
        |SELECT CAST(CAST(sx_q / n AS DECIMAL(18,6)) AS DOUBLE) AS mean_qty,
        |  CAST(CAST(sqrt(sq_q / n - (sx_q / n) * (sx_q / n))
        |    AS DECIMAL(18,6)) AS DOUBLE) AS std_qty,
        |  CAST(CAST(sx_p / n AS DECIMAL(18,6)) AS DOUBLE) AS mean_price,
        |  CAST(CAST(sqrt(sq_p / n - (sx_p / n) * (sx_p / n))
        |    AS DECIMAL(18,6)) AS DOUBLE) AS std_price,
        |  n
        |FROM s""".stripMargin,
    // BPE: chr(1)-joined symbols, list_zip adjacent pairs (zip pads with
    // NULL — filtered), argmax by (cnt DESC, pair ASC), merge applied as
    // the same literal replace; BpeMergeRounds generator-unrolled rounds.
    // WHERE cnt >= 2 mirrors the operator's early-stop: once the best
    // pair count drops below 2 it can never recover (a merge never
    // raises an untouched pair's count, and pairs minted by a cnt<2
    // merge inherit count <= that cnt), so filtering the unrolled tail
    // is exactly the operator's stop
    "doc_bpe_merges" -> {
      val unioned = (1 to BpeMergeRounds)
        .map(k => s"SELECT $k AS step, pair, cnt FROM m$k")
        .mkString(" UNION ALL\n  ")
      """WITH nrm AS (
        |  SELECT trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(nt, ' ')) AS word FROM nrm
        |    WHERE length(nt) > 0) t
        |  WHERE length(word) > 0 GROUP BY word),
        |s0 AS MATERIALIZED (
        |       SELECT freq,
        |         array_to_string(string_split(word, ''), chr(1)) AS sym
        |       FROM wf),
        |""".stripMargin +
      bpeRoundCtes(BpeMergeRounds, carryWord = false) + "\n" +
      """SELECT step, string_split(pair, chr(1))[1] AS sym_a,
        |  string_split(pair, chr(1))[2] AS sym_b,
        |  replace(pair, chr(1), '') AS merged, CAST(cnt AS BIGINT) AS cnt
        |FROM (
        |  """.stripMargin + unioned + """) u
        |WHERE cnt >= 2
        |ORDER BY step""".stripMargin
    },
    // BPE encode: the same unrolled merge chain with word identity
    // carried through; each doc word joins its final symbol state, the
    // chr(1)-split of which IS its token sequence
    "doc_bpe_encode" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(nt, ' ')) AS word FROM nrm
        |    WHERE length(nt) > 0) t
        |  WHERE length(word) > 0 GROUP BY word),
        |s0 AS (SELECT word, freq,
        |         array_to_string(string_split(word, ''), chr(1)) AS sym
        |       FROM wf),
        |p1 AS (
        |  SELECT concat(z[1], chr(1), z[2]) AS pair, sum(freq) AS cnt
        |  FROM (SELECT freq, unnest(list_zip(string_split(sym, chr(1)),
        |          string_split(sym, chr(1))[2:])) AS z FROM s0) t
        |  WHERE z[2] IS NOT NULL GROUP BY 1),
        |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |s1 AS (SELECT word, freq, replace(sym, (SELECT pair FROM m1),
        |         replace((SELECT pair FROM m1), chr(1), '')) AS sym FROM s0),
        |p2 AS (
        |  SELECT concat(z[1], chr(1), z[2]) AS pair, sum(freq) AS cnt
        |  FROM (SELECT freq, unnest(list_zip(string_split(sym, chr(1)),
        |          string_split(sym, chr(1))[2:])) AS z FROM s1) t
        |  WHERE z[2] IS NOT NULL GROUP BY 1),
        |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |s2 AS (SELECT word, freq, replace(sym, (SELECT pair FROM m2),
        |         replace((SELECT pair FROM m2), chr(1), '')) AS sym FROM s1),
        |p3 AS (
        |  SELECT concat(z[1], chr(1), z[2]) AS pair, sum(freq) AS cnt
        |  FROM (SELECT freq, unnest(list_zip(string_split(sym, chr(1)),
        |          string_split(sym, chr(1))[2:])) AS z FROM s2) t
        |  WHERE z[2] IS NOT NULL GROUP BY 1),
        |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |s3 AS (SELECT word, replace(sym, (SELECT pair FROM m3),
        |         replace((SELECT pair FROM m3), chr(1), '')) AS sym FROM s2),
        |dw AS (
        |  SELECT doc_id, unnest(string_split(nt, ' ')) AS word FROM nrm
        |  WHERE length(nt) > 0),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(sym, chr(1))) AS token
        |  FROM (SELECT doc_id, word FROM dw WHERE length(word) > 0) d
        |  JOIN s3 USING (word))
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(DISTINCT token) AS n_distinct_tokens
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // html strip: identical regexp/replace chain, 'g' flag everywhere
    // (DuckDB defaults to first-match-only); entity &amp; decoded last
    "doc_html_strip" ->
      """SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            concat('<html><head><style>p { color: red }</style></head>',
        |              '<body><h1>Doc &amp; Title</h1><!-- id --><p>', text,
        |              '</p><script type="text/javascript">var x = 1 < 2;',
        |              '</script></body></html>'),
        |            '(?is)<script\b.*?</script>', ' ', 'g'),
        |          '(?is)<style\b.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS clean
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // url normalize: same extraction-reassembly; DuckDB backrefs are \1
    // where Spark writes $1 — the one notational difference
    "q_url_normalize" -> {
      // the chain steps 1-5 as before; steps 6 (percent-normalization,
      // r14) are GENERATED from UrlFilter.PctSteps so the oracle replays
      // the engine's exact pattern list (replacement syntax translated
      // $1 -> \1, the DuckDB convention)
      val base =
        """regexp_replace(
          |      regexp_replace(
          |        regexp_replace(
          |          regexp_replace(
          |            regexp_replace(
          |              regexp_replace(
          |                regexp_replace(
          |                  regexp_replace(concat(sch, '://', host, rest),
          |                    '#.*$', '', 'g'),
          |                  '([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
          |                '&&+', '&', 'g'),
          |              '\?&', '?', 'g'),
          |            '[?&]$', '', 'g'),
          |          '^(http://[^/:?#]+):80([/?]|$)', '\1\2', 'g'),
          |        '^(https://[^/:?#]+):443([/?]|$)', '\1\2', 'g'),
          |      '/$', '', 'g')""".stripMargin
      val chain = graft.pipeline.UrlFilter.PctSteps
        .foldLeft(base) { case (e, (p, r)) =>
          s"regexp_replace($e, '$p', '${r.replace("$1", "\\1")}', 'g')"
        }
      s"""WITH u AS (
         |  SELECT doc_id,
         |    concat('HTTPS://Example.COM:443/Path/', CAST(doc_id AS VARCHAR),
         |      '/?utm_source=news&id=', CAST(doc_id AS VARCHAR),
         |      '&utm_medium=email',
         |      CASE CAST(doc_id % 4 AS INTEGER)
         |        WHEN 0 THEN '&k=%7etilde'
         |        WHEN 1 THEN '&k=%7Etilde'
         |        WHEN 2 THEN '&k=~tilde'
         |        ELSE '&k=%3f%61' END,
         |      '#section') AS url
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, url,
         |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
         |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS tail
         |  FROM u),
         |p2 AS (
         |  SELECT doc_id, url, sch,
         |    lower(regexp_extract(tail, '^([^/?#]*)', 1)) AS host,
         |    regexp_replace(tail, '^[^/?#]*', '') AS rest
         |  FROM p),
         |n AS (
         |  SELECT doc_id, url,
         |    $chain AS canon
         |  FROM p2)
         |SELECT doc_id,
         |  CASE WHEN regexp_matches(url, '^([A-Za-z][A-Za-z0-9+.-]*)://')
         |    THEN canon ELSE url END AS canon
         |FROM n
         |ORDER BY doc_id""".stripMargin
    },
    // url dedup: the full canonicalization chain (as in q_url_normalize)
    // + group-by-canonical with min-id representative
    "doc_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    concat('HTTPS://Example.COM:443/p/', CAST(doc_id % 50 AS VARCHAR),
        |      '?utm_campaign=c', CAST(doc_id AS VARCHAR),
        |      '&ref=', CAST(doc_id % 3 AS VARCHAR),
        |      '#f', CAST(doc_id AS VARCHAR)) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS tail
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, url, sch,
        |    lower(regexp_extract(tail, '^([^/?#]*)', 1)) AS host,
        |    regexp_replace(tail, '^[^/?#]*', '') AS rest
        |  FROM p),
        |n AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                regexp_replace(
        |                  regexp_replace(concat(sch, '://', host, rest),
        |                    '#.*$', '', 'g'),
        |                  '([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*', '\1', 'g'),
        |                '&&+', '&', 'g'),
        |              '\?&', '?', 'g'),
        |            '[?&]$', '', 'g'),
        |          '^(http://[^/:?#]+):80([/?]|$)', '\1\2', 'g'),
        |        '^(https://[^/:?#]+):443([/?]|$)', '\1\2', 'g'),
        |      '/$', '', 'g') AS canon
        |  FROM p2)
        |SELECT canon, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM n GROUP BY canon ORDER BY canon""".stripMargin,
    // mix plan: identical integer share/epoch arithmetic per language
    "doc_mix_plan" ->
      """WITH sh(lang, share) AS (VALUES
        |    ('en', 5000), ('de', 3000), ('fr', 2000)),
        |t AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
        |      AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY lang)
        |SELECT t.lang AS lang, t.sum_tokens,
        |  CAST(20000 * sh.share // 10000 AS BIGINT) AS target_tokens,
        |  CAST(CASE WHEN t.sum_tokens > 0
        |    THEN (20000 * sh.share // 10000) * 10000 // t.sum_tokens
        |    ELSE 0 END AS BIGINT) AS epoch_bp
        |FROM t JOIN sh ON t.lang = sh.lang
        |ORDER BY t.lang""".stripMargin,
    // realized-mix manifest: reps replayed with the identical integer
    // threshold, then exact integer aggregates per language
    "doc_mix_manifest" ->
      """WITH e(lang, nfull, thresh) AS (VALUES
        |    ('en', 1, 0), ('de', 2, 2147483648), ('fr', 0, 2147483648)),
        |d AS (
        |  SELECT doc_id, documents.lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |      AS n_tok,
        |    nfull + CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296
        |      < thresh THEN 1 ELSE 0 END AS reps
        |  FROM documents JOIN e ON documents.lang = e.lang)
        |SELECT lang, CAST(sum(reps) AS BIGINT) AS n_emissions,
        |  CAST(count(*) FILTER (WHERE reps > 0) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok * reps) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // temperature mix: identical threshold arithmetic — sqrt quantized
    // to DECIMAL(28,10) (exact order-free sum), double ops in the same
    // sequence (t * p / n), floor to BIGINT, Knuth-hash membership
    "doc_temperature_mix" ->
      """WITH st AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,10)) AS sd
        |      FROM st),
        |tot AS (SELECT sum(sd) AS td FROM w),
        |thr AS (
        |  SELECT lang,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      (250 * (CAST(sd AS DOUBLE) / CAST(td AS DOUBLE)))
        |        / CAST(n AS DOUBLE)) * 4294967296) AS BIGINT) AS thr
        |  FROM w, tot)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 < thr.thr
        |ORDER BY d.doc_id""".stripMargin,
    // drift: |a·B − b·A| sums exactly in DECIMAL(38,0); the only float
    // op is the final division of two decimal-cast doubles
    "q_drift_mix" ->
      """WITH a AS (SELECT concat_ws('|', lang, source) AS bin
        |           FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT concat_ws('|', lang, source) AS bin
        |      FROM documents WHERE doc_id % 3 <> 0),
        |ca AS (SELECT bin, count(*) AS n_a FROM a GROUP BY bin),
        |cb AS (SELECT bin, count(*) AS n_b FROM b GROUP BY bin),
        |bins AS (
        |  SELECT coalesce(ca.bin, cb.bin) AS bin,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
        |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM bins),
        |agg AS (
        |  SELECT
        |    sum(abs(CAST(n_a AS DECIMAL(38,0)) * CAST(tb AS DECIMAL(38,0)) -
        |            CAST(n_b AS DECIMAL(38,0)) * CAST(ta AS DECIMAL(38,0))))
        |      AS num,
        |    count(*) AS n_bins,
        |    CAST(any_value(ta) AS BIGINT) AS n_a,
        |    CAST(any_value(tb) AS BIGINT) AS n_b
        |  FROM bins, tot)
        |SELECT
        |  CAST(num AS DOUBLE) /
        |    CAST(CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
        |      AS DOUBLE) AS l1,
        |  n_bins, n_a, n_b
        |FROM agg""".stripMargin,
    // boilerplate unit dedup: the doc_chunks 8/8 CTE + injected unit,
    // hot set by count(DISTINCT doc_id) > 5, reassembly via string_agg
    // ORDER BY pos (string_agg skips NULLs exactly like collect_list)
    "doc_boilerplate_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 8 THEN 1 ELSE (len(w) - 8 + 7) // 8 + 1 END
        |      AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM c),
        |u AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    array_to_string(list_slice(w, chunk_idx*8+1, chunk_idx*8+8), ' ')
        |      AS unit
        |  FROM e
        |  UNION ALL
        |  SELECT doc_id, 1000000 AS chunk_idx,
        |    'subscribe to our newsletter today' AS unit
        |  FROM documents),
        |hot AS (
        |  SELECT unit FROM u GROUP BY unit
        |  HAVING count(DISTINCT doc_id) > 5)
        |SELECT u.doc_id,
        |  coalesce(string_agg(CASE WHEN hot.unit IS NULL THEN u.unit END,
        |    ' ' ORDER BY u.chunk_idx), '') AS clean_text,
        |  count(CASE WHEN hot.unit IS NULL THEN 1 END) AS n_kept,
        |  count(hot.unit) AS n_dropped
        |FROM u LEFT JOIN hot ON u.unit = hot.unit
        |GROUP BY u.doc_id
        |ORDER BY u.doc_id""".stripMargin,
    // repeated-span removal: 8-token windows; a window's first (doc_id,
    // pos) occurrence owns it, every other occurrence's tokens drop, with
    // same-length interval merge (a mark starts a new span iff it clears
    // the previous mark's cover). Output is the token-normalized rejoin.
    "doc_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM base WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(range(1, len(t) - 6)) AS r(i)
        |  WHERE len(t) >= 8),
        |mk AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY h) AS cnt,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM wins) w
        |  WHERE cnt >= 2 AND rn > 1),
        |alltok AS (
        |  SELECT doc_id, i, t[i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT a.doc_id, a.i, a.tok FROM alltok a
        |  WHERE NOT EXISTS (SELECT 1 FROM mk m
        |    WHERE m.doc_id = a.doc_id
        |      AND a.i - 1 >= m.pos AND a.i - 1 < m.pos + 8)),
        |cln AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |sp AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM (
        |    SELECT doc_id, pos,
        |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
        |    FROM mk) s
        |  WHERE pp IS NULL OR pos - pp >= 8
        |  GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks)
        |SELECT b.doc_id,
        |  COALESCE(c.clean_text, '') AS clean_text,
        |  CAST(COALESCE(nt.n, 0) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans
        |FROM base b
        |LEFT JOIN nt ON nt.doc_id = b.doc_id
        |LEFT JOIN cln c ON c.doc_id = b.doc_id
        |LEFT JOIN sp ON sp.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // probe == one-shot over corpus ∪ batch restricted to batch rows
    // (stored-always-owns == min-(doc_id,pos)-owns when corpus ids are
    // all below the +1000000 batch ids) → the SAME span SQL, filtered
    // span-index tombstone: the doc_span_index_probe scan with the
    // corpus side of `base` excluding the deleted doc_id % 7 == 0 docs —
    // netted-count ownership must equal a fresh index over the remainder
    "doc_span_tombstone" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM base WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(range(1, len(t) - 6)) AS r(i)
        |  WHERE len(t) >= 8),
        |mk AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY h) AS cnt,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM wins) w
        |  WHERE cnt >= 2 AND rn > 1),
        |alltok AS (
        |  SELECT doc_id, i, t[i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT a.doc_id, a.i, a.tok FROM alltok a
        |  WHERE NOT EXISTS (SELECT 1 FROM mk m
        |    WHERE m.doc_id = a.doc_id
        |      AND a.i - 1 >= m.pos AND a.i - 1 < m.pos + 8)),
        |cln AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |sp AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM (
        |    SELECT doc_id, pos,
        |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
        |    FROM mk) s
        |  WHERE pp IS NULL OR pos - pp >= 8
        |  GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks)
        |SELECT b.doc_id,
        |  COALESCE(c.clean_text, '') AS clean_text,
        |  CAST(COALESCE(nt.n, 0) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans
        |FROM base b
        |LEFT JOIN nt ON nt.doc_id = b.doc_id
        |LEFT JOIN cln c ON c.doc_id = b.doc_id
        |LEFT JOIN sp ON sp.doc_id = b.doc_id
        |WHERE b.doc_id >= 1000000
        |ORDER BY b.doc_id""".stripMargin,
    "doc_span_index_probe" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(floor(length(text)*0.7) AS INT)) AS text
        |  FROM documents WHERE doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM base WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(range(1, len(t) - 6)) AS r(i)
        |  WHERE len(t) >= 8),
        |mk AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      count(*) OVER (PARTITION BY h) AS cnt,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |    FROM wins) w
        |  WHERE cnt >= 2 AND rn > 1),
        |alltok AS (
        |  SELECT doc_id, i, t[i] AS tok
        |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT a.doc_id, a.i, a.tok FROM alltok a
        |  WHERE NOT EXISTS (SELECT 1 FROM mk m
        |    WHERE m.doc_id = a.doc_id
        |      AND a.i - 1 >= m.pos AND a.i - 1 < m.pos + 8)),
        |cln AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |sp AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM (
        |    SELECT doc_id, pos,
        |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
        |    FROM mk) s
        |  WHERE pp IS NULL OR pos - pp >= 8
        |  GROUP BY doc_id),
        |nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks)
        |SELECT b.doc_id,
        |  COALESCE(c.clean_text, '') AS clean_text,
        |  CAST(COALESCE(nt.n, 0) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans
        |FROM base b
        |LEFT JOIN nt ON nt.doc_id = b.doc_id
        |LEFT JOIN cln c ON c.doc_id = b.doc_id
        |LEFT JOIN sp ON sp.doc_id = b.doc_id
        |WHERE b.doc_id >= 1000000
        |ORDER BY b.doc_id""".stripMargin,
    // negative sampling: same salted-hash partner arithmetic in BIGINT
    // (every intermediate < 2^63 by the 31-bit pre-fold — no overflow in
    // either engine); rank = row_number-1 mirrors the two-phase rank
    "doc_negative_pairs" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |nn AS (SELECT count(*) AS n FROM d),
        |r AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY doc_id) - 1 AS rank FROM d),
        |j AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS draw),
        |e AS (
        |  SELECT r.doc_id, j.draw,
        |    (r.rank + 1 +
        |      (((((r.doc_id % 2147483648) + j.draw * 2654435761)
        |          % 2147483648) * 2654435761) % 4294967296)
        |        % (nn.n - 1)) % nn.n AS prank
        |  FROM r, j, nn)
        |SELECT e.doc_id, e.draw, p.doc_id AS neg_id
        |FROM e JOIN r p ON p.rank = e.prank
        |ORDER BY e.doc_id, e.draw""".stripMargin,
    // one UNION ALL branch per profiled column mirrors the stack()
    // unpivot; counts are exact integers, min/max stringify BIGINT and
    // ASCII strings identically in both engines
    "q_profile_orders" ->
      """SELECT col_name, n_rows, n_nulls, n_distinct, min_str, max_str FROM (
        |  SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_custkey) AS n_nulls,
        |    count(DISTINCT o_custkey) AS n_distinct,
        |    CAST(min(o_custkey) AS VARCHAR) AS min_str,
        |    CAST(max(o_custkey) AS VARCHAR) AS max_str FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
        |    count(DISTINCT o_orderkey),
        |    CAST(min(o_orderkey) AS VARCHAR),
        |    CAST(max(o_orderkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR),
        |    CAST(max(o_orderpriority) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR),
        |    CAST(max(o_orderstatus) AS VARCHAR) FROM orders
        |) p ORDER BY col_name""".stripMargin,
    // int8 quantization: scale fitted on the build installment (even
    // vec_ids), every code/dot/norm is exact integer arithmetic, the
    // final cosine is one division over two correctly-rounded sqrts —
    // scores hash-match bit-for-bit
    // hard negatives: whole-corpus scale, self excluded, rank over
    // (cosine desc, id) of the remainder
    "emb_hard_negatives" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, ord, c FROM codes WHERE vec_id < 8),
        |dots AS (
        |  SELECT q.query_id, d.vec_id, sum(q.c * d.c) AS dot
        |  FROM q JOIN codes d ON q.ord = d.ord
        |  GROUP BY q.query_id, d.vec_id),
        |sc AS (
        |  SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))
        |      AS cosine_q
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = dots.query_id
        |  JOIN norms nd ON nd.vec_id = dots.vec_id
        |  WHERE nq.n2 > 0 AND nd.n2 > 0
        |    AND dots.vec_id <> dots.query_id)
        |SELECT query_id, vec_id, cosine_q, rank FROM (
        |  SELECT query_id, vec_id, cosine_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine_q DESC, vec_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "emb_topk_int8" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp
        |       WHERE vec_id % 2 = 0),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, ord, c FROM codes WHERE vec_id < 8),
        |dots AS (
        |  SELECT q.query_id, d.vec_id, sum(q.c * d.c) AS dot
        |  FROM q JOIN codes d ON q.ord = d.ord
        |  GROUP BY q.query_id, d.vec_id),
        |sc AS (
        |  SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))
        |      AS cosine_q
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = dots.query_id
        |  JOIN norms nd ON nd.vec_id = dots.vec_id
        |  WHERE nq.n2 > 0 AND nd.n2 > 0)
        |SELECT query_id, vec_id, cosine_q, rank FROM (
        |  SELECT query_id, vec_id, cosine_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine_q DESC, vec_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // int8 tombstone: the emb_topk_int8 SQL with the FULL-corpus scale
    // (the stored scale is frozen — deletes never re-fit it) and the
    // candidate side excluding the deleted vec_id % 5 == 0 rows; deleted
    // ids still query as vectors, their self-hits must be gone
    "emb_int8_tombstone" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, ord, c FROM codes WHERE vec_id < 8),
        |dots AS (
        |  SELECT q.query_id, d.vec_id, sum(q.c * d.c) AS dot
        |  FROM q JOIN codes d ON q.ord = d.ord AND d.vec_id % 5 <> 0
        |  GROUP BY q.query_id, d.vec_id),
        |sc AS (
        |  SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))
        |      AS cosine_q
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = dots.query_id
        |  JOIN norms nd ON nd.vec_id = dots.vec_id
        |  WHERE nq.n2 > 0 AND nd.n2 > 0)
        |SELECT query_id, vec_id, cosine_q, rank FROM (
        |  SELECT query_id, vec_id, cosine_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine_q DESC, vec_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // int8 as-of snapshot: the emb_topk_int8 SQL with the CANDIDATE
    // side pruned to even vec_ids (the scale already fits on the even
    // half — the stored-scale contract — so codes are unchanged)
    "emb_int8_asof" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp
        |       WHERE vec_id % 2 = 0),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, ord, c FROM codes WHERE vec_id < 8),
        |dots AS (
        |  SELECT q.query_id, d.vec_id, sum(q.c * d.c) AS dot
        |  FROM q JOIN codes d ON q.ord = d.ord
        |  WHERE d.vec_id % 2 = 0
        |  GROUP BY q.query_id, d.vec_id),
        |sc AS (
        |  SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))
        |      AS cosine_q
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = dots.query_id
        |  JOIN norms nd ON nd.vec_id = dots.vec_id
        |  WHERE nq.n2 > 0 AND nd.n2 > 0)
        |SELECT query_id, vec_id, cosine_q, rank FROM (
        |  SELECT query_id, vec_id, cosine_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine_q DESC, vec_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // incremental embedding dedup: the full int8 kernel replayed — stored
    // scale from the even half (the build installment), batch synthesized
    // with exactly-representable float ops (×2, sign flip), every
    // stored×batch pair scored in integer arithmetic, thresholded at 0.98
    "emb_incremental_dedup" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp
        |       WHERE vec_id % 2 = 0),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |batch AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(-x AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id % 30 = 0),
        |bcomp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM batch),
        |bcodes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM bcomp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |bnorms AS (SELECT vec_id, sum(c*c) AS n2 FROM bcodes GROUP BY vec_id),
        |dots AS (
        |  SELECT d.vec_id AS corpus_id, b.vec_id AS new_id,
        |         sum(d.c * b.c) AS dot
        |  FROM codes d JOIN bcodes b ON d.ord = b.ord
        |  GROUP BY d.vec_id, b.vec_id)
        |SELECT corpus_id, new_id FROM dots
        |JOIN norms nc ON nc.vec_id = dots.corpus_id
        |JOIN bnorms nb ON nb.vec_id = dots.new_id
        |WHERE nc.n2 > 0 AND nb.n2 > 0
        |  AND CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.98
        |ORDER BY corpus_id, new_id""".stripMargin,
    // ingest-time pruning policy oracle (exact int8 pairs, stored×batch
    // ∪ batch-internal → recursive-CTE components → anchored-or-non-min
    // drop). The flat `emb_probe_prune` (r13) and exhaustive
    // nprobe=nlist `emb_ivfsq8_probe_prune` (r14) are spec-only; the
    // routed production shape keeps the policy fully oracle-gated —
    // deterministic-exact on this fixture (all true pairs are scalar
    // multiples -> identical routing; see query doc)
    "emb_probe_prune_routed" -> probePruneOracleSql,
    // append path: two installments + compaction must reproduce the
    // one-shot whole-corpus ranking bit-for-bit, so the oracle is
    // doc_bm25_topk's SQL verbatim
    "doc_bm25_append" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(nt, ' ') AS w FROM nrm
        |  WHERE length(nt) > 0),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base) t
        |  GROUP BY doc_id, term),
        |scal AS (
        |  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
        |  FROM base),
        |q AS (
        |  SELECT doc_id AS query_id, array_to_string(w[1:5], ' ') AS qt
        |  FROM base WHERE doc_id IN (3, 77, 201)),
        |qt AS (
        |  SELECT DISTINCT query_id, unnest(string_split(qt, ' ')) AS term FROM q),
        |dfq AS (
        |  SELECT term, count(*) AS df_t FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |hits AS (
        |  SELECT qt.query_id, p.doc_id,
        |    (n - df_t + 0.5) / (df_t + 0.5) * (tf * 2.25) /
        |      (tf + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS ts
        |  FROM post p JOIN qt ON p.term = qt.term
        |    JOIN dfq ON p.term = dfq.term, scal),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(ts AS DECIMAL(28,10))) AS DOUBLE) AS score
        |  FROM hits GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // RRF over the same BM25 CTE plus the n_chars prior; contributions
    // are CAST(1.0 AS DOUBLE)/(60+rank) — a bare 1.0/... would be DECIMAL
    // division in DuckDB, a different number than Spark's double op
    "doc_hybrid_rrf" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, string_split(nt, ' ') AS w FROM nrm
        |  WHERE length(nt) > 0),
        |post AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base) t
        |  GROUP BY doc_id, term),
        |scal AS (
        |  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
        |  FROM base),
        |q AS (
        |  SELECT doc_id AS query_id, array_to_string(w[1:5], ' ') AS qt
        |  FROM base WHERE doc_id IN (3, 77, 201)),
        |qt AS (
        |  SELECT DISTINCT query_id, unnest(string_split(qt, ' ')) AS term FROM q),
        |dfq AS (
        |  SELECT term, count(*) AS df_t FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
        |hits AS (
        |  SELECT qt.query_id, p.doc_id,
        |    (n - df_t + 0.5) / (df_t + 0.5) * (tf * 2.25) /
        |      (tf + 1.25 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS ts
        |  FROM post p JOIN qt ON p.term = qt.term
        |    JOIN dfq ON p.term = dfq.term, scal),
        |sc AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(ts AS DECIMAL(28,10))) AS DOUBLE) AS score
        |  FROM hits GROUP BY query_id, doc_id),
        |bm AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, doc_id) AS rank
        |    FROM sc) r WHERE rank <= 10),
        |pr AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id)
        |        AS rank
        |    FROM documents) r WHERE rank <= 10),
        |prq AS (
        |  SELECT qs.query_id, pr.doc_id, pr.rank
        |  FROM pr, (SELECT unnest([3, 77, 201]) AS query_id) qs),
        |u AS (
        |  SELECT query_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM bm
        |  UNION ALL
        |  SELECT query_id, doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS c FROM prq),
        |f AS (
        |  SELECT query_id, doc_id,
        |    CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS score
        |  FROM u GROUP BY query_id, doc_id)
        |SELECT query_id, doc_id, score, rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |  FROM f) r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // duplicate-n-gram char fractions: per n, sum occurrence charlens of
    // grams with count >= 2 over the total — integer sums, one division
    "doc_dup_ngram_chars" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, text || ' ' || text AS text
        |  FROM documents WHERE doc_id % 40 = 0),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS w
        |  FROM base),
        |g2 AS (
        |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |        FROM t WHERE len(w) >= 2)),
        |s2 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup,
        |    sum(cnt * length(gram)) AS tot
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |s3 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup,
        |    sum(cnt * length(gram)) AS tot
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(CAST(s2.dup AS DOUBLE) / s2.tot, 0.0) AS dup2_frac,
        |  coalesce(CAST(s3.dup AS DOUBLE) / s3.tot, 0.0) AS dup3_frac
        |FROM t LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "doc_langid" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','von','mit','den','des',
        |                 'ein','eine','im','für','auf','nicht'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for',
        |                 'with','as','was','on','are','this'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('el','la','de','que','y','en','un','una','los','las',
        |                 'por','con','para','es','del'))) AS s_es,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('le','la','les','de','des','et','est','un','une','du',
        |                 'dans','pour','que','qui','sur'))) AS s_fr
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |    WHEN s_es >= s_fr THEN 'es'
        |    ELSE 'fr' END AS predicted,
        |  count(*) AS n
        |FROM s GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    // the true language of each held-out fixture sentence, by the same
    // doc_id arithmetic the query used to pick it (32 languages since
    // r17; 16..23 are the appended breadth codes)
    "doc_langid_trained" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 32 AS INT)
        |    WHEN 0 THEN 'ar' WHEN 1 THEN 'de' WHEN 2 THEN 'en'
        |    WHEN 3 THEN 'es' WHEN 4 THEN 'fr' WHEN 5 THEN 'hi'
        |    WHEN 6 THEN 'it' WHEN 7 THEN 'ja' WHEN 8 THEN 'ko'
        |    WHEN 9 THEN 'nl' WHEN 10 THEN 'pl' WHEN 11 THEN 'pt'
        |    WHEN 12 THEN 'ru' WHEN 13 THEN 'sv' WHEN 14 THEN 'tr'
        |    WHEN 15 THEN 'zh' WHEN 16 THEN 'cs' WHEN 17 THEN 'da'
        |    WHEN 18 THEN 'el' WHEN 19 THEN 'fa' WHEN 20 THEN 'fi'
        |    WHEN 21 THEN 'hu' WHEN 22 THEN 'uk' WHEN 23 THEN 'vi'
        |    WHEN 24 THEN 'th' WHEN 25 THEN 'he' WHEN 26 THEN 'bn'
        |    WHEN 27 THEN 'ta' WHEN 28 THEN 'id' WHEN 29 THEN 'ro'
        |    WHEN 30 THEN 'sw'
        |    ELSE 'bg' END AS lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the confidence path replayed EXACTLY: per single-letter token
    // the gram kernel emits 4 forms (c, _c, c_, _c_), so every integer
    // sum is the letter-count sum times 4; cosines = the same HUGEINT
    // sums + double op sequence as the engine, margin = top1 − top2
    // (0 runner-up when one class scores), heuristic 'und' + NULL for
    // the no-overlap arm
    "doc_langid_margin" ->
      """WITH cent(label, letter, c) AS (
        |  SELECT * FROM (VALUES ('aa','a',2),('aa','b',1),('bb','b',2),
        |    ('bb','c',1),('cc','c',2),('cc','a',1)) v),
        |dc(arm, letter, d) AS (
        |  SELECT * FROM (VALUES (0,'a',3),(0,'b',1),(1,'b',2),(1,'c',1),
        |    (2,'a',1),(2,'b',1),(2,'c',1)) v),
        |cn AS (SELECT label, 4 * sum(CAST(c AS HUGEINT) * c) AS cn
        |  FROM cent GROUP BY label),
        |dn AS (SELECT arm, 4 * sum(CAST(d AS HUGEINT) * d) AS dn
        |  FROM dc GROUP BY arm),
        |dots AS (
        |  SELECT dc.arm, cent.label,
        |    4 * sum(CAST(dc.d AS HUGEINT) * cent.c) AS dot
        |  FROM dc JOIN cent ON dc.letter = cent.letter
        |  GROUP BY dc.arm, cent.label),
        |cosines AS (
        |  SELECT d.arm, d.label,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(dn.dn AS DOUBLE)) * sqrt(CAST(cn.cn AS DOUBLE)))
        |      AS cosine
        |  FROM dots d JOIN dn ON d.arm = dn.arm
        |  JOIN cn ON d.label = cn.label),
        |ranked AS (
        |  SELECT arm, label, cosine,
        |    row_number() OVER (PARTITION BY arm
        |      ORDER BY cosine DESC, label) AS rk
        |  FROM cosines),
        |arms AS (
        |  SELECT r1.arm, r1.label AS lang,
        |    r1.cosine - coalesce(r2.cosine, 0.0) AS confidence
        |  FROM ranked r1
        |  LEFT JOIN ranked r2 ON r1.arm = r2.arm AND r2.rk = 2
        |  WHERE r1.rk = 1)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 3 THEN 'und' ELSE a.lang END AS lang,
        |  CASE WHEN doc_id % 4 = 3 THEN NULL
        |    ELSE a.confidence END AS confidence
        |FROM documents
        |LEFT JOIN arms a ON CAST(doc_id % 4 AS INT) = a.arm
        |ORDER BY doc_id""".stripMargin,
    // the gated mix: the SAME margin replay routes low-confidence arms
    // to 'und' (the τ comparison is in-oracle), then the exact
    // temperature-mix threshold arithmetic runs over the routed labels
    "doc_mix_langid_conf" ->
      """WITH cent(label, letter, c) AS (
        |  SELECT * FROM (VALUES ('aa','a',2),('aa','b',1),('bb','b',2),
        |    ('bb','c',1),('cc','c',2),('cc','a',1)) v),
        |dc(arm, letter, d) AS (
        |  SELECT * FROM (VALUES (0,'a',3),(0,'b',1),(1,'b',2),(1,'c',1),
        |    (2,'a',1),(2,'b',1),(2,'c',1)) v),
        |cn AS (SELECT label, 4 * sum(CAST(c AS HUGEINT) * c) AS cn
        |  FROM cent GROUP BY label),
        |dn AS (SELECT arm, 4 * sum(CAST(d AS HUGEINT) * d) AS dn
        |  FROM dc GROUP BY arm),
        |dots AS (
        |  SELECT dc.arm, cent.label,
        |    4 * sum(CAST(dc.d AS HUGEINT) * cent.c) AS dot
        |  FROM dc JOIN cent ON dc.letter = cent.letter
        |  GROUP BY dc.arm, cent.label),
        |cosines AS (
        |  SELECT d.arm, d.label,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(dn.dn AS DOUBLE)) * sqrt(CAST(cn.cn AS DOUBLE)))
        |      AS cosine
        |  FROM dots d JOIN dn ON d.arm = dn.arm
        |  JOIN cn ON d.label = cn.label),
        |ranked AS (
        |  SELECT arm, label, cosine,
        |    row_number() OVER (PARTITION BY arm
        |      ORDER BY cosine DESC, label) AS rk
        |  FROM cosines),
        |arms AS (
        |  SELECT r1.arm, r1.label AS lang,
        |    r1.cosine - coalesce(r2.cosine, 0.0) AS confidence
        |  FROM ranked r1
        |  LEFT JOIN ranked r2 ON r1.arm = r2.arm AND r2.rk = 2
        |  WHERE r1.rk = 1),
        |p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 3 THEN 'und'
        |      WHEN a.confidence < 0.25 THEN 'und'
        |      ELSE a.lang END AS lang
        |  FROM documents
        |  LEFT JOIN arms a ON CAST(doc_id % 4 AS INT) = a.arm),
        |st AS (SELECT lang, count(*) AS n FROM p GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,10)) AS sd
        |      FROM st),
        |tot AS (SELECT sum(sd) AS td FROM w),
        |thr AS (
        |  SELECT lang,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      (250 * (CAST(sd AS DOUBLE) / CAST(td AS DOUBLE)))
        |        / CAST(n AS DOUBLE)) * 4294967296) AS BIGINT) AS thr
        |  FROM w, tot)
        |SELECT p.doc_id, p.lang
        |FROM p JOIN thr ON p.lang = thr.lang
        |WHERE ((p.doc_id % 2147483648) * 2654435761) % 4294967296 < thr.thr
        |ORDER BY p.doc_id""".stripMargin,
    // the trained prediction replayed (the skewed arm lattice), then
    // doc_temperature_mix's EXACT threshold arithmetic over it: sqrt
    // quantized to DECIMAL(28,10), double ops in the same sequence,
    // floor to BIGINT, Knuth-hash membership
    "doc_mix_langid" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 4
        |        ELSE doc_id % 16 END AS INT)
        |      WHEN 0 THEN 'ar' WHEN 1 THEN 'de' WHEN 2 THEN 'en'
        |      WHEN 3 THEN 'es' WHEN 4 THEN 'fr' WHEN 5 THEN 'hi'
        |      WHEN 6 THEN 'it' WHEN 7 THEN 'ja' WHEN 8 THEN 'ko'
        |      WHEN 9 THEN 'nl' WHEN 10 THEN 'pl' WHEN 11 THEN 'pt'
        |      WHEN 12 THEN 'ru' WHEN 13 THEN 'sv' WHEN 14 THEN 'tr'
        |      ELSE 'zh' END AS lang
        |  FROM documents),
        |st AS (SELECT lang, count(*) AS n FROM p GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,10)) AS sd
        |      FROM st),
        |tot AS (SELECT sum(sd) AS td FROM w),
        |thr AS (
        |  SELECT lang,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      (250 * (CAST(sd AS DOUBLE) / CAST(td AS DOUBLE)))
        |        / CAST(n AS DOUBLE)) * 4294967296) AS BIGINT) AS thr
        |  FROM w, tot)
        |SELECT p.doc_id, p.lang
        |FROM p JOIN thr ON p.lang = thr.lang
        |WHERE ((p.doc_id % 2147483648) * 2654435761) % 4294967296 < thr.thr
        |ORDER BY p.doc_id""".stripMargin,
    "doc_clean_pipeline" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('der','die','das','und','ist','von','mit','den','des',
        |                 'ein','eine','im','für','auf','nicht'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('the','and','of','to','in','is','that','it','for',
        |                 'with','as','was','on','are','this'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('el','la','de','que','y','en','un','una','los','las',
        |                 'por','con','para','es','del'))) AS s_es,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t IN ('le','la','les','de','des','et','est','un','une','du',
        |                 'dans','pour','que','qui','sur'))) AS s_fr
        |  FROM documents
        |), lang AS (
        |  SELECT doc_id, text,
        |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS pred_lang
        |  FROM s
        |), p AS (
        |  SELECT doc_id, text, pred_lang,
        |    length(text) AS nch,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS npunct,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                 'that','for','on','with','as','at','by'))) AS nstop,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS nsplit,
        |    length(regexp_replace(trim(text), '\s', '', 'g')) AS nws
        |  FROM lang
        |), r AS (
        |  SELECT doc_id, text, pred_lang,
        |    least((CASE WHEN nsplit = 0 THEN 0.0
        |        ELSE CAST(nstop AS DOUBLE) / nsplit END) * 4.0, 1.0) * 0.4
        |    + greatest(1.0 - (CASE WHEN nch = 0 THEN 0.0
        |        ELSE CAST(npunct AS DOUBLE) / nch END) * 4.0, 0.0) * 0.3
        |    + (CASE WHEN (CASE WHEN toks = 0 THEN 0.0
        |        ELSE CAST(nws AS DOUBLE) / toks END) BETWEEN 3.0 AND 10.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3 AS m_quality
        |  FROM p
        |)
        |SELECT doc_id, pred_lang, m_quality FROM r
        |WHERE pred_lang IN ('en', 'de') AND m_quality >= 0.5
        |QUALIFY row_number() OVER (
        |  PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    // media: payloads are real P6/WAV bytes whose CONTENT is the
    // deterministic fixture stream D(k) = (textByte[k mod L] + k) mod
    // 256 — recomputed here from (doc_id, text) directly (corpus is
    // ASCII, so byte == codepoint), which checks the Spark-side
    // encode→parse→feature chain end-to-end. Decoded element counts:
    // image/audio w*h*3, video n_frames*w*h*3.
    "media_features" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS mt,
        |    CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 8 ELSE 1 END AS nf
        |  FROM documents),
        |n AS (SELECT doc_id, text, l, mt, CAST(nf * w * h * 3 AS BIGINT) AS nb
        |      FROM m),
        |ks AS (SELECT doc_id, text, l, mt, nb,
        |         unnest(generate_series(0, nb - 1)) AS k FROM n),
        |d AS (SELECT doc_id, mt, nb,
        |        CASE WHEN l = 0 THEN k % 256
        |          ELSE (unicode(substr(text, CAST(k % l AS INT) + 1, 1)) + k) % 256
        |        END AS val
        |      FROM ks)
        |SELECT doc_id AS id, mt AS media_type, CAST(nb AS INT) AS byte_len,
        |  CAST(sum(val) AS DOUBLE) / nb AS mean_luma,
        |  CAST(sum(CASE WHEN val < 16 THEN 1 ELSE 0 END) AS DOUBLE) / nb AS h_first,
        |  CAST(sum(CASE WHEN val >= 240 THEN 1 ELSE 0 END) AS DOUBLE) / nb AS h_last
        |FROM d GROUP BY doc_id, mt, nb ORDER BY id""".stripMargin,
    "media_audio_stats" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST((16 + doc_id % 16) * (16 + doc_id % 8) * 3 AS BIGINT) AS nb
        |  FROM documents WHERE doc_id % 3 = 1),
        |ks AS (SELECT doc_id, text, l, nb,
        |         unnest(generate_series(0, nb - 1)) AS k FROM m),
        |d AS (SELECT doc_id, k,
        |        (CASE WHEN l = 0 THEN k % 256
        |          ELSE (unicode(substr(text, CAST(k % l AS INT) + 1, 1)) + k) % 256
        |        END) - 128 AS dev
        |      FROM ks),
        |base AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(dev * dev) AS BIGINT) AS sum_sq_dev,
        |    CAST(max(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM d GROUP BY doc_id),
        |nz AS (SELECT doc_id, k, CASE WHEN dev > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM d WHERE dev <> 0),
        |lagged AS (SELECT doc_id, sgn,
        |             lag(sgn) OVER (PARTITION BY doc_id ORDER BY k) AS prev
        |           FROM nz),
        |zc AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |       FROM lagged GROUP BY doc_id)
        |SELECT b.doc_id AS id, n_samples, sum_sq_dev, peak_dev,
        |  COALESCE(zc.zero_crossings, 0) AS zero_crossings
        |FROM base b LEFT JOIN zc ON zc.doc_id = b.doc_id
        |ORDER BY id""".stripMargin,
    // the resampler replayed: floor-blend values at rational
    // positions, endpoint length formula, then the same integer triage
    "media_audio_resample" ->
      """WITH d AS (
        |  SELECT doc_id, 40 + doc_id % 30 AS n,
        |    CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 4000 END AS orate
        |  FROM documents),
        |ik AS (SELECT doc_id, n,
        |         unnest(generate_series(0, n - 1)) AS k FROM d),
        |v AS (SELECT doc_id, k, (doc_id * 7 + k * 3) % 256 AS v FROM ik),
        |oi AS (SELECT doc_id, n, orate,
        |         unnest(generate_series(0, ((n - 1) * orate) // 8000))
        |           AS i
        |       FROM d),
        |ppos AS (SELECT doc_id, orate, i, (i * 8000) // orate AS k,
        |           (i * 8000) % orate AS r FROM oi),
        |vo AS (
        |  SELECT p.doc_id, p.orate, p.i,
        |    (CASE WHEN p.r = 0 THEN a.v
        |      ELSE (a.v * (p.orate - p.r) + b.v * p.r) // p.orate END)
        |      - 128 AS dev
        |  FROM ppos p
        |  JOIN v a ON a.doc_id = p.doc_id AND a.k = p.k
        |  LEFT JOIN v b ON b.doc_id = p.doc_id AND b.k = p.k + 1),
        |base AS (
        |  SELECT doc_id, CAST(max(orate) AS INT) AS sample_rate,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(dev * dev) AS BIGINT) AS sum_sq_dev,
        |    CAST(max(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM vo GROUP BY doc_id),
        |nz AS (SELECT doc_id, i,
        |         CASE WHEN dev > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM vo WHERE dev <> 0),
        |lagged AS (SELECT doc_id, sgn,
        |             lag(sgn) OVER (PARTITION BY doc_id ORDER BY i)
        |               AS prev
        |           FROM nz),
        |zc AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |       FROM lagged GROUP BY doc_id)
        |SELECT b.doc_id, b.sample_rate, b.n_samples, b.sum_sq_dev,
        |  b.peak_dev,
        |  CAST(COALESCE(zc.zero_crossings, 0) AS BIGINT)
        |    AS zero_crossings
        |FROM base b LEFT JOIN zc ON zc.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // trim + gain replayed: first/last nonzero dev bounds the kept
    // range, the sign-split floor gain rescales, the triage recomputes
    "media_audio_condition" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 5 AS lead, doc_id % 4 AS trail,
        |    30 + doc_id % 20 AS nb
        |  FROM documents),
        |ks AS (SELECT doc_id, lead, nb,
        |         unnest(generate_series(0, lead + nb + trail - 1)) AS k
        |       FROM d),
        |dv AS (SELECT doc_id, k,
        |         CASE WHEN k < lead OR k >= lead + nb THEN 0
        |           ELSE ((doc_id * 11 + (k - lead) * 7) % 255) - 127
        |         END AS dev
        |       FROM ks),
        |bnd AS (SELECT doc_id, min(k) AS f, max(k) AS l FROM dv
        |        WHERE dev <> 0 GROUP BY doc_id),
        |tr AS (SELECT dv.doc_id, dv.k, dv.dev FROM dv
        |       JOIN bnd ON bnd.doc_id = dv.doc_id
        |         AND dv.k BETWEEN bnd.f AND bnd.l),
        |pk AS (SELECT doc_id, max(abs(dev)) AS peak FROM tr
        |       GROUP BY doc_id),
        |nm AS (SELECT tr.doc_id, tr.k,
        |         CASE WHEN tr.dev < 0
        |           THEN -((-tr.dev * 127) // pk.peak)
        |           ELSE (tr.dev * 127) // pk.peak END AS dev
        |       FROM tr JOIN pk ON pk.doc_id = tr.doc_id),
        |base AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(dev * dev) AS BIGINT) AS sum_sq_dev,
        |    CAST(max(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM nm GROUP BY doc_id),
        |nz AS (SELECT doc_id, k,
        |         CASE WHEN dev > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM nm WHERE dev <> 0),
        |lagged AS (SELECT doc_id, sgn,
        |             lag(sgn) OVER (PARTITION BY doc_id ORDER BY k)
        |               AS prev
        |           FROM nz),
        |zc AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |       FROM lagged GROUP BY doc_id)
        |SELECT b.doc_id, b.n_samples, b.sum_sq_dev, b.peak_dev,
        |  CAST(COALESCE(zc.zero_crossings, 0) AS BIGINT)
        |    AS zero_crossings
        |FROM base b LEFT JOIN zc ON zc.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // GIF: gray-palette payloads decode index v to RGB (v,v,v), so every
    // fixture byte appears 3x in the decoded stream — mean/fraction
    // features equal the per-pixel values, byte_len = 3 * pixels. Even
    // ids: 1 frame; odd ids: 2 + id % 4 frames of w*h pixels each.
    "media_gif_features" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS mt,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 + doc_id % 4 END AS nf
        |  FROM documents),
        |n AS (SELECT doc_id, text, l, mt, nf,
        |        CAST(nf * w * h AS BIGINT) AS np FROM m),
        |ks AS (SELECT doc_id, text, l, mt, nf, np,
        |         unnest(generate_series(0, np - 1)) AS k FROM n),
        |d AS (SELECT doc_id, mt, nf, np,
        |        CASE WHEN l = 0 THEN k % 256
        |          ELSE (unicode(substr(text, CAST(k % l AS INT) + 1, 1)) + k) % 256
        |        END AS val
        |      FROM ks)
        |SELECT doc_id AS id, mt AS media_type, CAST(3 * np AS INT) AS byte_len,
        |  CAST(sum(val) AS DOUBLE) / np AS mean_luma,
        |  CAST(sum(CASE WHEN val < 16 THEN 1 ELSE 0 END) AS DOUBLE) / np AS h_first,
        |  CAST(sum(CASE WHEN val >= 240 THEN 1 ELSE 0 END) AS DOUBLE) / np AS h_last,
        |  CAST(nf AS BIGINT) AS n_frames
        |FROM d GROUP BY doc_id, mt, nf, np ORDER BY id""".stripMargin,
    // WebDataset: member counts + text md5 replay directly; the PNG
    // member's decoded pixels ARE the fixture stream (lossless), so its
    // mean luma is the exact integer-sum formula
    "webdataset_ingest" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, CAST(w * h * 3 AS BIGINT) AS nb
        |       FROM m WHERE doc_id % 3 = 0),
        |ks AS (SELECT doc_id, w, nb,
        |         unnest(generate_series(0, nb - 1)) AS k FROM px),
        |d AS (SELECT ks.doc_id, ks.w, ks.nb,
        |        CASE WHEN m.l = 0 THEN k % 256
        |          ELSE (unicode(substr(m.text, CAST(k % m.l AS INT) + 1, 1)) + k) % 256
        |        END AS val
        |      FROM ks JOIN m ON m.doc_id = ks.doc_id),
        |img AS (SELECT doc_id, CAST(max(w) AS INT) AS img_w,
        |          CAST(sum(val) AS DOUBLE) / max(nb) AS img_luma
        |        FROM d GROUP BY doc_id)
        |SELECT m.doc_id,
        |  CAST(2 + CASE WHEN m.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_parts,
        |  md5(m.text) AS txt_md5,
        |  COALESCE(img.img_w, -1) AS img_w,
        |  COALESCE(img.img_luma, -1.0) AS img_luma
        |FROM m LEFT JOIN img ON img.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // HTML extraction: expected text = title line + h1 line +
    // ws-collapsed body text (escape+decode cancel) + footer line
    "html_extract" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, norm,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    CASE WHEN norm = '' THEN '' ELSE norm || chr(10) END ||
        |    'footer © 2026' AS expected
        |  FROM n)
        |SELECT doc_id, md5(expected) AS text_md5,
        |  CAST(3 + CASE WHEN norm = '' THEN 0 ELSE 1 END AS BIGINT) AS n_lines,
        |  CAST(length(expected) AS BIGINT) AS n_chars
        |FROM e ORDER BY doc_id""".stripMargin,
    // the frontier CTEs + per-host row_number: round = rank by (n_refs
    // desc, url asc) within the CANONICAL host (the HostRe capture,
    // lowercased — userinfo skipped, port elided, so the :8443 arm
    // shares its apex host's politeness queue), rounds beyond 3 defer
    "crawl_schedule" -> crawlScheduleOracleSql(withDelays = false),
    // the same schedule with per-host crawl-delays joined on: delay_s
    // from the graftbot group's Crawl-delay (k + 0.5 for host hk),
    // not_before_s stacks (round-1)*delay_s; hosts without a robots
    // row pace at 0
    "crawl_schedule_delay" -> crawlScheduleOracleSql(withDelays = true),
    // the same schedule with Retry-After pacing joined on: hk's
    // retry_after_s = max over BOTH RFC 9110 forms — delta-seconds
    // (30 + id%11) and HTTP-date (id%90 s past the record's own
    // warc_date); past dates clamp to 0, junk and 200-status arms drop
    "crawl_schedule_retry" ->
      crawlScheduleOracleSql(withDelays = true, withRetry = true),
    // the schedule + the q_host_pagerank integer rounds over the
    // arm-rebuilt host edge set (src = the page's host h(id%7), dst =
    // each link arm's host — hc/sq/amp and the rotating h-hosts; the
    // port/shouty/self arms all collapse onto canonical hosts), then
    // the global priority replayed as row_number()-1 by (round,
    // rank desc, refs desc, url)
    "crawl_schedule_rank" -> crawlScheduleRankOracleSql,
    // the sitemap seed multiset rebuilt from the fixture arithmetic:
    // own-page locs fall to the crawled set, the relative loc to the
    // absolute filter; new + shared locs aggregate refs
    "crawl_sitemap_seed" ->
      """WITH crawled AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |locs AS (
        |  SELECT 'https://h' || CAST((doc_id * 11) % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id + 300000 AS VARCHAR) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://hs.example/s/' || CAST(doc_id % 13 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST((doc_id + 2) % 7 AS VARCHAR) ||
        |         '.example/SM/' || CAST(doc_id % 9 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://smq.example/q/' || CAST(doc_id % 5 AS VARCHAR) ||
        |         '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT url FROM crawled
        |  UNION ALL
        |  SELECT url FROM crawled),
        |fresh AS (
        |  SELECT l.url FROM locs l
        |  LEFT JOIN crawled c ON l.url = c.url
        |  WHERE c.url IS NULL)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM fresh GROUP BY url ORDER BY url""".stripMargin,
    // seeds + the site-declared change signal: a/{id%50} aggregates
    // refs and MAXES its listed days; b/{id} has no lastmod (null);
    // the stray leading lastmod and the crawled own-page entry never
    // contribute
    "crawl_sitemap_lastmod" ->
      """WITH a AS (
        |  SELECT 'https://sm.example/a/' || CAST(doc_id % 50 AS VARCHAR)
        |      AS url,
        |    '2026-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |      AS lastmod
        |  FROM documents),
        |b AS (
        |  SELECT 'https://sm.example/b/' || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(NULL AS VARCHAR) AS lastmod
        |  FROM documents),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
        |  max(lastmod) AS lastmod
        |FROM u GROUP BY url ORDER BY url""".stripMargin,
    // seeds + freshness dates rebuilt from the arithmetic: s/{id%40}
    // aggregates refs and maxes its day strings, u/{id} is dateless,
    // the escaped query decodes, prologue and crawled arms never seed
    // the recency winner replayed per shared url: each listing's key is
    // (day, hour) — RSS arms list at 10:00 GMT, Atom at 09:00Z, so the
    // max-epoch pick orders by day then dialect-hour (same (day, hour)
    // only within one dialect, where the strings are identical)
    "crawl_feed_seeds" ->
      """WITH a AS (
        |  SELECT 'https://nw.example/s/' || CAST(doc_id % 40 AS VARCHAR)
        |      || '?p=1&q=' || CAST(doc_id % 3 AS VARCHAR) AS url,
        |    1 + doc_id % 28 AS day,
        |    CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 9 END AS hh,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'Mon, ' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |        || ' Mar 2026 10:00:00 GMT'
        |      ELSE '2026-03-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |        || 'T09:00:00Z' END AS feed_date
        |  FROM documents),
        |w AS (
        |  SELECT url, feed_date,
        |    row_number() OVER (PARTITION BY url
        |      ORDER BY day DESC, hh DESC) AS rn,
        |    count(*) OVER (PARTITION BY url) AS n
        |  FROM a),
        |b AS (
        |  SELECT 'https://nw.example/u/' || CAST(doc_id AS VARCHAR)
        |      AS url,
        |    CAST(1 AS BIGINT) AS n_refs,
        |    CAST(NULL AS VARCHAR) AS feed_date
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT url, CAST(n AS BIGINT) AS n_refs, feed_date
        |  FROM w WHERE rn = 1
        |  UNION ALL
        |  SELECT * FROM b)
        |ORDER BY url""".stripMargin,
    // the enclosure harvest replayed: per-doc episodes (entity-decoded
    // query string, declared length, verbatim date), the garbage
    // length nulls out, and the shared trailer folds to corpus-count
    // refs with its recency winner = the max RFC 3339 string (the
    // early RFC 822 arm loses by EPOCH even though letters sort above
    // digits — COALESCE covers the degenerate all-822 corpus)
    "crawl_feed_enclosures" ->
      """WITH u AS (
        |  SELECT 'https://media.example/ep/' || CAST(doc_id AS VARCHAR)
        |      || '.mp3?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) AS url,
        |    'audio/mpeg' AS mime_type,
        |    CAST(1000 + doc_id AS BIGINT) AS length_bytes,
        |    'Mon, ' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |      || ' Jan 2024 10:00:00 GMT' AS feed_date
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'https://media.example/vid/' || CAST(doc_id AS VARCHAR)
        |      || '.mp4',
        |    'video/mp4', CAST(2000 + doc_id AS BIGINT),
        |    '2024-02-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |      || 'T09:00:00Z'
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 'https://media.example/x/' || CAST(doc_id AS VARCHAR)
        |      || '.bin',
        |    'application/octet-stream', CAST(NULL AS BIGINT),
        |    CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 97 = 0 AND doc_id % 2 = 0),
        |t AS (
        |  SELECT 'https://media.example/trailer.mp3' AS url,
        |    CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_refs,
        |    'audio/mpeg' AS mime_type, CAST(777 AS BIGINT) AS length_bytes,
        |    COALESCE(
        |      (SELECT max('2024-03-0' || CAST(1 + doc_id % 4 AS VARCHAR)
        |        || 'T00:00:00Z') FROM documents WHERE doc_id % 40 <> 2),
        |      'Wed, 01 Jan 2020 00:00:00 GMT') AS feed_date)
        |SELECT * FROM (
        |  SELECT url, CAST(1 AS BIGINT) AS n_refs, mime_type,
        |    length_bytes, feed_date
        |  FROM u
        |  UNION ALL
        |  SELECT * FROM t)
        |ORDER BY url""".stripMargin,
    // the audio loop replayed: per-url WAV samples from the id
    // arithmetic (dev = u8 - 128 exactly, since the 16-bit fixture is
    // the u8 projection shifted), exact integer energy/peak, lag-based
    // strict-alternation crossings with zeros transparent, and the
    // politeness round = per-host row_number (all refs tie at 1)
    "crawl_enclosure_fetch" ->
      """WITH e AS (
        |  SELECT doc_id, 64 + doc_id % 32 AS n FROM documents),
        |ks AS (SELECT doc_id, n,
        |         unnest(generate_series(0, n - 1)) AS i FROM e),
        |d AS (SELECT doc_id, i,
        |        ((doc_id * 31 + i * 7) % 256) - 128 AS dev FROM ks),
        |base AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(dev * dev) AS BIGINT) AS sum_sq_dev,
        |    CAST(max(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM d GROUP BY doc_id),
        |nz AS (SELECT doc_id, i,
        |         CASE WHEN dev > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM d WHERE dev <> 0),
        |lagged AS (SELECT doc_id, sgn,
        |             lag(sgn) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |           FROM nz),
        |zc AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |       FROM lagged GROUP BY doc_id),
        |urls AS (SELECT doc_id,
        |    'https://m' || CAST(doc_id % 5 AS VARCHAR) || '.example/ep/'
        |      || CAST(doc_id AS VARCHAR) || '.wav' AS url,
        |    'm' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host
        |  FROM documents),
        |r AS (SELECT url,
        |        CAST(row_number() OVER (PARTITION BY host ORDER BY url)
        |          AS BIGINT) AS round
        |      FROM urls)
        |SELECT u.url, CAST(1 AS BIGINT) AS n_refs, r.round,
        |  b.n_samples, b.sum_sq_dev, b.peak_dev,
        |  CAST(COALESCE(z.zero_crossings, 0) AS BIGINT) AS zero_crossings
        |FROM urls u
        |JOIN r ON r.url = u.url
        |JOIN base b ON b.doc_id = u.doc_id
        |LEFT JOIN zc z ON z.doc_id = u.doc_id
        |ORDER BY u.url""".stripMargin,
    // the pairs replayed: per-item captions rebuilt with the entity
    // replay (&amp; -> &) and the ws-collapse convention; the shared
    // trailer folds to corpus-count refs; the title-less arm keeps a
    // null caption
    "crawl_audio_pairs" ->
      """WITH u AS (
        |  SELECT 'https://media.example/ep/' || CAST(doc_id AS VARCHAR)
        |      || '.mp3' AS url,
        |    'Ep ' || CAST(doc_id AS VARCHAR) || ' & notes '
        |      || CAST(doc_id % 7 AS VARCHAR) AS caption,
        |    'audio/mpeg' AS mime_type, 1 AS n
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'https://media.example/vid/' || CAST(doc_id AS VARCHAR)
        |      || '.mp4',
        |    'Show ' || CAST(doc_id % 5 AS VARCHAR), 'video/mp4', 1
        |  FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 'https://media.example/n/' || CAST(doc_id AS VARCHAR)
        |      || '.mp3',
        |    CAST(NULL AS VARCHAR), 'audio/mpeg', 1
        |  FROM documents WHERE doc_id % 89 = 0 AND doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'https://media.example/trailer.mp3', 'Trailer',
        |    'audio/mpeg', (SELECT CAST(count(*) AS INT) FROM documents))
        |SELECT url, caption, mime_type, CAST(n AS BIGINT) AS n_refs
        |FROM u ORDER BY url""".stripMargin,
    // each feed's LATEST-batch pairs rebuilt from the fixture
    // arithmetic: id%4==0 refetches carry only the changed episode
    // (the bonus supersedes away with the rest of the old set),
    // id%4==1 vanishes via the sentinel, classes 2/3 keep batch 0
    "crawl_media_ledger" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |u AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    'https://media.example/ep2/' || CAST(doc_id AS VARCHAR)
        |      || '.mp3' AS media_url,
        |    'Ep2 ' || CAST(doc_id AS VARCHAR) AS caption,
        |    'audio/mpeg' AS mime_type
        |  FROM d WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://media.example/ep/' || CAST(doc_id AS VARCHAR)
        |      || '.mp3',
        |    'Ep ' || CAST(doc_id AS VARCHAR), 'audio/mpeg'
        |  FROM d WHERE doc_id % 4 IN (2, 3)
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://media.example/bonus/' || CAST(doc_id % 20 AS VARCHAR)
        |      || '.mp3',
        |    'Bonus ' || CAST(doc_id % 20 AS VARCHAR), 'audio/mpeg'
        |  FROM d WHERE doc_id % 4 = 2)
        |SELECT url, media_url, caption, mime_type FROM u
        |ORDER BY url, media_url""".stripMargin,
    // the fetch loop replayed: eligible = not-yet-fetched (%10) and
    // unblocked (%5==4 is a4.example); the shared episode carries
    // distinct-feed refs; rounds replay schedule's per-host
    // (n_refs desc, url) rank; stats replay the WAV fixture
    // arithmetic through the same integer triage as
    // crawl_enclosure_fetch
    "crawl_media_fetch" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |elig AS (
        |  SELECT doc_id, doc_id AS mid,
        |    'https://a' || CAST(doc_id % 5 AS VARCHAR) || '.example/au/'
        |      || CAST(doc_id AS VARCHAR) || '.wav' AS media_url,
        |    'a' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
        |    CAST(1 AS BIGINT) AS n_refs
        |  FROM d WHERE doc_id % 10 <> 0 AND doc_id % 5 <> 4),
        |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_refs FROM d
        |       WHERE doc_id % 11 = 0),
        |list AS (
        |  SELECT media_url, host, n_refs FROM elig
        |  UNION ALL
        |  SELECT 'https://a0.example/au/777777.wav', 'a0.example', n_refs
        |  FROM sh WHERE n_refs > 0),
        |r AS (SELECT media_url, n_refs,
        |        CAST(row_number() OVER (PARTITION BY host
        |          ORDER BY n_refs DESC, media_url) AS BIGINT) AS round
        |      FROM list),
        |mids AS (
        |  SELECT mid FROM elig
        |  UNION ALL
        |  SELECT CAST(777777 AS BIGINT) FROM sh WHERE n_refs > 0),
        |ks AS (SELECT mid, 48 + mid % 40 AS n FROM mids),
        |ki AS (SELECT mid,
        |         unnest(generate_series(0, CAST(n - 1 AS INT))) AS i
        |       FROM ks),
        |dev AS (SELECT mid, i,
        |          ((mid * 37 + i * 11) % 256) - 128 AS dev FROM ki),
        |base AS (SELECT mid, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(dev * dev) AS BIGINT) AS sum_sq_dev,
        |    CAST(max(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM dev GROUP BY mid),
        |nz AS (SELECT mid, i, CASE WHEN dev > 0 THEN 1 ELSE -1 END AS sgn
        |       FROM dev WHERE dev <> 0),
        |lagged AS (SELECT mid, sgn,
        |             lag(sgn) OVER (PARTITION BY mid ORDER BY i) AS prev
        |           FROM nz),
        |zc AS (SELECT mid,
        |         CAST(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |       FROM lagged GROUP BY mid),
        |pairs AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    media_url, 'Ep ' || CAST(doc_id % 9 AS VARCHAR) AS caption,
        |    mid
        |  FROM elig
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://a0.example/au/777777.wav', 'Shared',
        |    CAST(777777 AS BIGINT)
        |  FROM d WHERE doc_id % 11 = 0)
        |SELECT p.url, p.media_url, p.caption, r.n_refs, r.round,
        |  b.n_samples, b.sum_sq_dev, b.peak_dev,
        |  CAST(COALESCE(z.zero_crossings, 0) AS BIGINT)
        |    AS zero_crossings
        |FROM pairs p
        |JOIN r ON r.media_url = p.media_url
        |JOIN base b ON b.mid = p.mid
        |LEFT JOIN zc z ON z.mid = p.mid
        |ORDER BY p.url, p.media_url""".stripMargin,
    // the mirror-collapse replayed: 65-block integer energies from the
    // fixture samples, gradient bits packed through the HUGEINT
    // two's-complement bridge, hamming pairs over the url nodes, CC by
    // recursive reachability, min-url canonicals, re-key + exact fold
    "crawl_audio_dedup" ->
      """WITH RECURSIVE ms AS (
        |  SELECT DISTINCT doc_id % 8 AS m FROM documents),
        |par AS (SELECT m, CAST(130 + m * 7 AS BIGINT) AS n FROM ms),
        |ks AS (SELECT m, n,
        |         unnest(generate_series(0, n - 1)) AS k FROM par),
        |dv AS (SELECT m, n, k,
        |         ((m * 13 + k * 5) % 256) - 128 AS dev FROM ks),
        |en AS (SELECT m, (k * 65) // n AS b, sum(dev * dev) AS e
        |       FROM dv GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.m,
        |    sum(CASE WHEN a.e > b.e THEN 1::HUGEINT << CAST(a.b AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM en a JOIN en b ON b.m = a.m AND b.b = a.b + 1
        |  WHERE a.b < 64 GROUP BY a.m),
        |ah AS (
        |  SELECT m, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
        |    AS h64
        |  FROM bits),
        |urls AS (
        |  SELECT m, 'https://cdn-a.example/au/' || CAST(m AS VARCHAR)
        |    || '.wav' AS u FROM ms
        |  UNION ALL
        |  SELECT m, 'https://cdn-b.example/re/' || CAST(m AS VARCHAR)
        |    || '.wav' FROM ms),
        |nodes AS (SELECT urls.u, ah.h64 FROM urls
        |          JOIN ah ON ah.m = urls.m),
        |p2 AS (
        |  SELECT a.u AS ua, b.u AS ub FROM nodes a JOIN nodes b
        |  ON a.u < b.u WHERE bit_count(xor(a.h64, b.h64)) <= 3),
        |e AS (SELECT ua AS u, ub AS v FROM p2
        |      UNION SELECT ub, ua FROM p2),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) nn
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v),
        |lab AS (SELECT u AS id, min(r) AS rep FROM reach GROUP BY u),
        |mapn AS (SELECT id, rep FROM lab WHERE id <> rep),
        |basepairs AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    'https://cdn-a.example/au/' || CAST(doc_id % 8 AS VARCHAR)
        |      || '.wav' AS media_url,
        |    'c' || CAST(doc_id % 3 AS VARCHAR) AS caption
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://cdn-b.example/re/' || CAST(doc_id % 8 AS VARCHAR)
        |      || '.wav',
        |    'c' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://cdn-a.example/x/bad.bin', 'bad'
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://cdn-b.example/x/bad.bin', 'bad'
        |  FROM documents WHERE doc_id % 97 = 0),
        |rekeyed AS (
        |  SELECT b.url, COALESCE(mapn.rep, b.media_url) AS media_url,
        |    b.caption
        |  FROM basepairs b LEFT JOIN mapn ON mapn.id = b.media_url)
        |SELECT DISTINCT url, media_url, caption FROM rekeyed
        |ORDER BY url, media_url""".stripMargin,
    // the frame-set collapse replayed: per-(m, frame) aHashes from the
    // fixture pixels, the df guard, containment over distinct
    // frame-hash sets, CC by recursive reachability, min-url
    // canonicals, re-key + fold
    "crawl_video_dedup" ->
      """WITH RECURSIVE ms AS (
        |  SELECT DISTINCT doc_id % 6 AS m FROM documents),
        |fj AS (SELECT m, CAST(16 + m AS BIGINT) AS w,
        |         CAST(12 + m % 5 AS BIGINT) AS h,
        |         unnest(generate_series(0, 3)) AS j FROM ms),
        |sd AS (SELECT m, j, w, h,
        |         'v ' || CAST(m AS VARCHAR) || ' ' || CAST(j AS VARCHAR)
        |           AS t
        |       FROM fj),
        |pixk AS (SELECT m, j, w, h, t, octet_length(encode(t)) AS l,
        |           unnest(generate_series(0, w * h - 1)) AS p
        |         FROM sd),
        |g AS (
        |  SELECT m, j, w, h, p // w AS y, p % w AS x,
        |    (299 * ((unicode(substr(t, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256)
        |   + 587 * ((unicode(substr(t, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256)
        |   + 114 * ((unicode(substr(t, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT m, j, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3, 4),
        |gm AS (SELECT m, j, sum(bm) // 64 AS mn FROM blk GROUP BY 1, 2),
        |bits AS (
        |  SELECT blk.m, blk.j,
        |    sum(CASE WHEN bm > mn THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.m = gm.m AND blk.j = gm.j
        |  GROUP BY 1, 2),
        |fh AS (
        |  SELECT m, j, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
        |    AS h64
        |  FROM bits),
        |allh AS (
        |  SELECT DISTINCT 'https://cdn-a.example/vid/'
        |    || CAST(m AS VARCHAR) || '.ppm' AS u, h64 FROM fh
        |  UNION
        |  SELECT DISTINCT 'https://cdn-b.example/cl/'
        |    || CAST(m AS VARCHAR) || '.ppm', h64 FROM fh WHERE j < 3),
        |sizes AS (SELECT u, CAST(count(*) AS BIGINT) AS n FROM allh
        |          GROUP BY u),
        |guard AS (SELECT h64 FROM allh GROUP BY h64
        |          HAVING count(*) <= 1000),
        |gset AS (SELECT u, h64 FROM allh
        |         WHERE h64 IN (SELECT h64 FROM guard)),
        |co AS (
        |  SELECT a.u AS ua, b.u AS ub, CAST(count(*) AS BIGINT) AS shared
        |  FROM gset a JOIN gset b ON a.h64 = b.h64 AND a.u < b.u
        |  GROUP BY 1, 2),
        |p2 AS (
        |  SELECT ua, ub FROM co
        |  JOIN sizes na ON na.u = co.ua
        |  JOIN sizes nb ON nb.u = co.ub
        |  WHERE CAST(shared AS DOUBLE) / least(na.n, nb.n) >= 0.9),
        |e AS (SELECT ua AS u, ub AS v FROM p2
        |      UNION SELECT ub, ua FROM p2),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) nn
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v),
        |lab AS (SELECT u AS id, min(r) AS rep FROM reach GROUP BY u),
        |mapn AS (SELECT id, rep FROM lab WHERE id <> rep),
        |basepairs AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    'https://cdn-a.example/vid/' || CAST(doc_id % 6 AS VARCHAR)
        |      || '.ppm' AS media_url,
        |    'v' || CAST(doc_id % 3 AS VARCHAR) AS caption
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://cdn-b.example/cl/' || CAST(doc_id % 6 AS VARCHAR)
        |      || '.ppm',
        |    'v' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml',
        |    'https://cdn-a.example/x/bad.bin', 'bad'
        |  FROM documents WHERE doc_id % 97 = 0),
        |rekeyed AS (
        |  SELECT b.url, COALESCE(mapn.rep, b.media_url) AS media_url,
        |    b.caption
        |  FROM basepairs b LEFT JOIN mapn ON mapn.id = b.media_url)
        |SELECT DISTINCT url, media_url, caption FROM rekeyed
        |ORDER BY url, media_url""".stripMargin,
    // every audio screen replayed: integer duration
    // cross-multiplication, rate and silence cuts, null captions
    // kept, the feed-df boilerplate guard recomputes its own
    // threshold crossing
    "crawl_audio_quality" ->
      """WITH p AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    'https://a' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.example/ep/' || CAST(doc_id AS VARCHAR) || '.wav'
        |      AS media_url,
        |    CASE WHEN doc_id % 17 = 0 THEN NULL
        |      WHEN doc_id % 10 = 7 THEN 'Trailer'
        |      WHEN doc_id % 19 = 0 THEN 'x'
        |      ELSE 'Cap ' || CAST(doc_id % 50 AS VARCHAR) END AS caption,
        |    CASE WHEN doc_id % 31 = 0 THEN 4000
        |      ELSE 8000 + (doc_id % 3) * 4000 END AS rate,
        |    doc_id
        |  FROM documents),
        |p2 AS (
        |  SELECT url, media_url, caption,
        |    CASE WHEN doc_id % 53 = 0 THEN NULL
        |      ELSE CAST(rate * (doc_id % 12) AS BIGINT) END AS n_samples,
        |    CAST(rate AS BIGINT) AS sample_rate,
        |    CASE WHEN doc_id % 29 = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(1 + doc_id % 100 AS BIGINT) END AS sum_sq_dev
        |  FROM p),
        |bp AS (
        |  SELECT caption FROM (
        |    SELECT caption, count(DISTINCT url) AS c FROM p2
        |    WHERE caption IS NOT NULL GROUP BY caption)
        |  WHERE c > 10)
        |SELECT url, media_url, caption, n_samples, sample_rate,
        |  sum_sq_dev
        |FROM p2
        |WHERE n_samples IS NOT NULL AND sample_rate IS NOT NULL
        |  AND sample_rate >= 8000
        |  AND n_samples >= 1 * sample_rate
        |  AND n_samples <= 8 * sample_rate
        |  AND sum_sq_dev > 0
        |  AND (caption IS NULL OR
        |    (length(caption) >= 3 AND length(caption) <= 200))
        |  AND NOT EXISTS (SELECT 1 FROM bp WHERE bp.caption = p2.caption)
        |ORDER BY url""".stripMargin,
    // every video screen replayed: dims/frames from the m=id%12
    // arithmetic, corrupt pairs get null meta, the feed-df guard
    // recomputes its threshold
    "crawl_video_quality" ->
      """WITH p AS (
        |  SELECT 'https://f' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/feed/' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url,
        |    CASE WHEN doc_id % 37 = 0 THEN 'https://v.example/bad/x.bin'
        |      ELSE 'https://v.example/clip/' ||
        |        CAST(doc_id % 12 AS VARCHAR) || '.ppm' END AS media_url,
        |    CASE WHEN doc_id % 17 = 0 THEN NULL
        |      WHEN doc_id % 10 = 7 THEN 'Trailer'
        |      WHEN doc_id % 19 = 0 THEN 'x'
        |      ELSE 'Vid ' || CAST(doc_id % 40 AS VARCHAR) END AS caption,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |      ELSE CAST(24 + (doc_id % 12) * 8 AS INT) END AS width,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |      ELSE CAST(48 AS INT) END AS height,
        |    CASE WHEN doc_id % 37 = 0 THEN NULL
        |      ELSE CAST(1 + (doc_id % 12) % 5 AS INT) END AS n_frames
        |  FROM documents),
        |bp AS (
        |  SELECT caption FROM (
        |    SELECT caption, count(DISTINCT url) AS c FROM p
        |    WHERE caption IS NOT NULL GROUP BY caption)
        |  WHERE c > 10)
        |SELECT url, media_url, caption, width, height, n_frames FROM p
        |WHERE width IS NOT NULL AND height IS NOT NULL
        |  AND n_frames IS NOT NULL
        |  AND width >= 32 AND height >= 32
        |  AND CAST(greatest(width, height) AS DOUBLE)
        |    <= 2.0 * least(width, height)
        |  AND n_frames >= 2 AND n_frames <= 4
        |  AND (caption IS NULL OR
        |    (length(caption) >= 3 AND length(caption) <= 200))
        |  AND NOT EXISTS (SELECT 1 FROM bp WHERE bp.caption = p.caption)
        |ORDER BY url""".stripMargin,
    // the audio delivery replayed: every doc's sample has its caption
    // md5 and the m=id%40 clip's exact decoded sample count
    "crawl_audio_export" ->
      """SELECT doc_id,
        |  CAST(3 AS INT) AS n_parts,
        |  md5('cap ' || CAST(doc_id % 6 AS VARCHAR)) AS txt_md5,
        |  CAST(70 + doc_id % 40 AS BIGINT) AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the dashboard replayed from the split arithmetic: three codes
    // installments (build + two appends), two deletes installments
    // (each batch distinct within itself)
    "idx_stats" ->
      """WITH r AS (
        |  SELECT 'codes' AS "table", 0 AS installment,
        |    count(*) AS n FROM embeddings WHERE vec_id % 4 < 2
        |  UNION ALL
        |  SELECT 'codes', 1, count(*) FROM embeddings WHERE vec_id % 4 = 2
        |  UNION ALL
        |  SELECT 'codes', 2, count(*) FROM embeddings WHERE vec_id % 4 = 3
        |  UNION ALL
        |  SELECT 'deletes', 0, count(DISTINCT vec_id) FROM embeddings
        |  WHERE vec_id % 20 = 0
        |  UNION ALL
        |  SELECT 'deletes', 1, count(DISTINCT vec_id) FROM embeddings
        |  WHERE vec_id % 30 = 0)
        |SELECT "table", CAST(installment AS INT) AS installment,
        |  CAST(n AS BIGINT) AS n_rows
        |FROM r ORDER BY "table", installment""".stripMargin,
    // the delivery step replayed: every doc's sample has its caption
    // md5 and the m=id%40 image's exact dims
    "crawl_pair_export" ->
      """SELECT doc_id,
        |  CAST(3 AS INT) AS n_parts,
        |  md5('alt ' || CAST(doc_id % 6 AS VARCHAR)) AS txt_md5,
        |  CAST(9 + (doc_id % 40) % 12 AS INT) AS img_w,
        |  CAST(8 + (doc_id % 40) % 5 AS INT) AS img_h
        |FROM documents ORDER BY doc_id""".stripMargin,
    // both hierarchy levels rebuilt from the fixture arithmetic: index
    // locs (shared child maxing its listed days, solo child null, the
    // fetched child anti-joined) under kind=sitemap; urlset locs under
    // kind=page; neither side leaks into the other
    "crawl_sitemap_index" ->
      """WITH child AS (
        |  SELECT 'https://sm.example/maps/' || CAST(doc_id % 20 AS VARCHAR)
        |      || '.xml.gz' AS url,
        |    '2026-02-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |      AS lastmod
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'https://sm.example/solo/' || CAST(doc_id AS VARCHAR)
        |      || '.xml', CAST(NULL AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0),
        |page AS (
        |  SELECT 'https://sm.example/p/' || CAST(doc_id % 40 AS VARCHAR)
        |      AS url
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT 'https://sm.example/q/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT * FROM (
        |  SELECT 'sitemap' AS kind, url, CAST(count(*) AS BIGINT)
        |      AS n_refs, max(lastmod) AS lastmod
        |  FROM child GROUP BY url
        |  UNION ALL
        |  SELECT 'page', url, CAST(count(*) AS BIGINT),
        |    CAST(NULL AS VARCHAR)
        |  FROM page GROUP BY url)
        |ORDER BY kind, url""".stripMargin,
    // the validator pairs rebuilt from the fixture arithmetic: etag
    // arms keep their exact quoting (strong "e{k}", weak W/"w{k}"),
    // the HTTP-date strings ride verbatim, the neither-arm and the
    // ETag-carrying 404 never appear
    "crawl_revalidators" ->
      """SELECT
        |  'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/page/' || CAST(doc_id AS VARCHAR) AS url,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN '"e' || CAST(doc_id % 9 AS VARCHAR) || '"'
        |    WHEN 2 THEN 'W/"w' || CAST(doc_id % 5 AS VARCHAR) || '"'
        |    END AS etag,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 1 THEN 'Thu, 0' || CAST(1 + doc_id % 7 AS VARCHAR) ||
        |      ' Jan 2026 12:00:00 GMT'
        |    WHEN 2 THEN 'Sat, 15 Aug 2026 0' ||
        |      CAST(doc_id % 10 AS VARCHAR) || ':00:00 GMT'
        |    END AS last_modified
        |FROM documents WHERE doc_id % 4 <> 3 ORDER BY url""".stripMargin,
    // the health counts replayed per host from the id%10 class lattice
    "crawl_host_health" ->
      """SELECT 'hh' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
        |  CAST(sum(CASE WHEN doc_id % 10 <= 5 OR doc_id % 10 = 9
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(sum(CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_throttle,
        |  CAST(sum(CASE WHEN doc_id % 10 = 6 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_client_err,
        |  CAST(sum(CASE WHEN doc_id % 10 = 8 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_server_err
        |FROM documents GROUP BY 1 ORDER BY host""".stripMargin,
    // the revisit arms' churn math rebuilt per url: arm 0 (304 between
    // two differing fetches) observes 3 times and counts ONE change
    // across the null-hash revisit; arm 1 (two revisits) observes 3,
    // changes 0; arm 2 changed (2, 1); arm 3 unchanged (2, 0);
    // last_batch = 2 for the revisit arms, 1 otherwise
    "crawl_revisit_churn" ->
      """SELECT
        |  'https://rv.example/p/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(CASE WHEN doc_id % 4 < 2 THEN 2 ELSE 1 END AS BIGINT)
        |    AS last_batch,
        |  CAST(CASE WHEN doc_id % 4 < 2 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_obs,
        |  CAST(CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 2 THEN 1 ELSE 0
        |    END AS BIGINT) AS n_changes
        |FROM documents WHERE doc_id % 5 = 0 ORDER BY url""".stripMargin,
    // the takedown replayed: id%9==0 urls vanish from BOTH ledgers;
    // survivors' churn math is exactly as if the purged never existed
    "crawl_forget" ->
      """WITH fetched AS (
        |  SELECT 'https://fg.example/p/' || CAST(doc_id AS VARCHAR)
        |      AS url,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS last_batch,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |      AS n_obs,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_changes
        |  FROM documents WHERE doc_id % 9 <> 0),
        |nextrows AS (
        |  SELECT 'https://fg.example/p/' ||
        |      CAST(doc_id + 7000000 AS VARCHAR) AS url,
        |    CAST(0 AS BIGINT) AS last_batch, CAST(1 AS BIGINT) AS n_obs,
        |    CAST(-1 AS BIGINT) AS n_changes
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'https://fg.example/p/' || CAST(doc_id AS VARCHAR),
        |    CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(-1 AS BIGINT)
        |  FROM documents WHERE doc_id % 6 = 0 AND doc_id % 9 <> 0)
        |SELECT * FROM (
        |  SELECT 'fetched' AS kind, url, last_batch, n_obs, n_changes
        |  FROM fetched
        |  UNION ALL
        |  SELECT 'next', url, last_batch, n_obs, n_changes
        |  FROM nextrows)
        |ORDER BY kind, url""".stripMargin,
    // the mirror pairs rebuilt from the arithmetic: shared counts per
    // (m{a}, mm{b}) from the id%3/id%5/id%2 lattice; m-host totals
    // carry +1 for the boiler page (it counts as content, it just
    // can't PAIR); the boiler never contributes a pair row
    "crawl_mirror_hosts" ->
      """WITH shared AS (
        |  SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) || '.example'
        |      AS host_a,
        |    'mm' || CAST(doc_id % 2 AS VARCHAR) || '.example' AS host_b
        |  FROM documents WHERE doc_id % 3 = 0),
        |agg AS (
        |  SELECT host_a, host_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM shared GROUP BY host_a, host_b
        |  HAVING count(*) >= 2),
        |na AS (
        |  SELECT 'm' || CAST(doc_id % 5 AS VARCHAR) || '.example'
        |      AS host,
        |    CAST(count(*) + 1 AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |nb AS (
        |  SELECT 'mm' || CAST(doc_id % 2 AS VARCHAR) || '.example'
        |      AS host,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1)
        |SELECT a.host_a, a.host_b, a.n_shared, na.n AS n_a, nb.n AS n_b
        |FROM agg a
        |JOIN na ON a.host_a = na.host
        |JOIN nb ON a.host_b = nb.host
        |ORDER BY a.host_a, a.host_b""".stripMargin,
    // the latest-wins cache replayed: rb0 keeps BOTH classes (deleted
    // robots), rb1 and rb2 keep /page only
    "crawl_robots_ledger" ->
      """WITH kept AS (
        |  SELECT 'https://rb0.example/page/' || CAST(doc_id AS VARCHAR)
        |      AS url FROM documents
        |  UNION ALL
        |  SELECT 'https://rb0.example/private/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://rb1.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://rb2.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents)
        |SELECT url FROM kept ORDER BY url""".stripMargin,
    // the outcome decision replayed per host class: r200/r500ok keep
    // /page only, r301 keeps /page (loses /blocked via the followed
    // redirect's rules), r500 keeps nothing, r404 and the loop keep
    // both url classes
    "crawl_robots_outcomes" ->
      """WITH kept AS (
        |  SELECT 'https://r200.example/page/' || CAST(doc_id AS VARCHAR)
        |      AS url FROM documents
        |  UNION ALL
        |  SELECT 'https://r500ok.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://r301.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://r404.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://r404.example/private/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://rloop.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://rloop.example/private/' || CAST(doc_id AS VARCHAR)
        |  FROM documents)
        |SELECT url FROM kept ORDER BY url""".stripMargin,
    // sitemap discovery replayed from the fixture arithmetic: per-doc
    // relative shards resolve against their host's robots url, the
    // host-absolute index drops for the already-fetched s3, the CDN
    // index counts one ref per distinct host, the caps arm
    // canonicalizes scheme+host only, and the 404 contributes nothing
    "crawl_robots_sitemaps" ->
      """WITH hosts AS (
        |  SELECT DISTINCT doc_id % 7 AS k FROM documents
        |  WHERE doc_id % 11 = 0),
        |u AS (
        |  SELECT 'https://s' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/sm/part-' || CAST(doc_id AS VARCHAR) || '.xml'
        |      AS url, 1 AS n
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT 'https://s' || CAST(k AS VARCHAR) ||
        |    '.example/sitemap.xml', 1
        |  FROM hosts WHERE k <> 3
        |  UNION ALL
        |  SELECT 'https://cdn.example/shared.xml',
        |    (SELECT CAST(count(*) AS INT) FROM hosts)
        |  UNION ALL
        |  SELECT 'https://s5.example/CAPS/sm.xml', 1
        |  WHERE EXISTS (SELECT 1 FROM hosts WHERE k = 5))
        |SELECT url, CAST(sum(n) AS BIGINT) AS n_refs
        |FROM u GROUP BY url ORDER BY url""".stripMargin,
    // the accumulated graph replayed: twin edges (a -> 3a mod 7, one
    // per id), hub edges from both batches summed across the
    // mid-history compaction
    "crawl_edges_ledger" ->
      """WITH e AS (
        |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example'
        |      AS src_host,
        |    'h' || CAST((doc_id * 3) % 7 AS VARCHAR) || '.example'
        |      AS dst_host
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example',
        |    'hub.example'
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example',
        |    'hub.example'
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY src_host, dst_host
        |ORDER BY src_host, dst_host""".stripMargin,
    // each url's LATEST-batch pairs rebuilt from the fixture
    // arithmetic: the id%3=0 refetch supersedes with the cdn image
    // (no caption), the id%5=0 refetch DROPPED its images (or turned
    // noindex) so those urls vanish entirely (sentinel supersession),
    // everyone else keeps the batch-0 resolved relative src +
    // tag-stripped entity-decoded caption
    "crawl_images_ledger" ->
      """SELECT
        |  'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/pg/' || CAST(doc_id AS VARCHAR) AS url,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN 'https://cdn.example/n/' || CAST(doc_id % 6 AS VARCHAR)
        |      || '.png'
        |    ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/i0/' || CAST(doc_id % 5 AS VARCHAR) || '.jpg'
        |    END AS img_url,
        |  CASE WHEN doc_id % 3 = 0 THEN 'new'
        |    ELSE 'a' || CAST(doc_id % 3 AS VARCHAR) END AS alt,
        |  CAST(NULL AS VARCHAR) AS title,
        |  CASE WHEN doc_id % 3 <> 0
        |    THEN 'C ' || CAST(doc_id % 4 AS VARCHAR) END AS caption
        |FROM documents WHERE doc_id % 5 <> 0 ORDER BY url""".stripMargin,
    // the CLIP gate replayed: the same arithmetic joins + the τ
    // comparison on DuckDB's cosine over DOUBLE[] lists — on raw
    // FLOAT[] DuckDB computes in float32 and ~1e-7 noise flips 6dp
    // roundings (caught at sf0.01); the engine side accumulates in
    // double, so the oracle must too (margins >> double-ulp then; the
    // emitted score rounds through DECIMAL(18,6) to DOUBLE)
    "crawl_pair_clip" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR) AS url,
        |    'https://img.example/i/' ||
        |      CAST(doc_id % 500 AS VARCHAR) AS img_url,
        |    'alt ' || CAST(doc_id % 3 AS VARCHAR) AS alt,
        |    doc_id % 500 AS iv, (doc_id * 7 + 3) % 500 AS tv
        |  FROM documents),
        |scored AS (
        |  SELECT p.url, p.img_url, p.alt,
        |    list_cosine_similarity(ei.embedding::DOUBLE[],
        |      et.embedding::DOUBLE[]) AS c
        |  FROM p
        |  JOIN embeddings ei ON p.iv = ei.vec_id
        |  JOIN embeddings et ON p.tv = et.vec_id)
        |SELECT url, img_url, alt,
        |  CAST(CAST(c AS DECIMAL(18,6)) AS DOUBLE) AS clip_score
        |FROM scored WHERE c >= 0.05
        |ORDER BY url""".stripMargin,
    // the mirror-collapse replayed end-to-end: aHash per m-image from
    // the fixture-stream formula, hamming pairs over URL nodes (both
    // mirrors of one m share pixels, hence hash), recursive-CTE CC,
    // min-url canonicals, LEFT-JOIN re-key, DISTINCT fold; the corrupt
    // .bin urls never enter the node set so their pairs pass verbatim
    "crawl_image_dedup" ->
      """WITH RECURSIVE ms AS (
        |  SELECT DISTINCT doc_id % 10 AS m FROM documents),
        |seed AS (
        |  SELECT m, 'img ' || CAST(m AS VARCHAR) AS t,
        |    CAST(16 + m AS BIGINT) AS w, CAST(12 + m % 5 AS BIGINT) AS h
        |  FROM ms),
        |pixk AS (
        |  SELECT m, t, octet_length(encode(t)) AS l, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM seed),
        |g AS (
        |  SELECT m, w, h, p // w AS y, p % w AS x,
        |    (299 * ((unicode(substr(t, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256)
        |   + 587 * ((unicode(substr(t, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256)
        |   + 114 * ((unicode(substr(t, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT m, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3),
        |gm AS (SELECT m, sum(bm) // 64 AS mn FROM blk GROUP BY m),
        |bits AS (
        |  SELECT blk.m,
        |    sum(CASE WHEN bm > mn THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.m = gm.m GROUP BY blk.m),
        |ah AS (
        |  SELECT m, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |urls AS (
        |  SELECT m, 'https://cdn-a.example/img/' || CAST(m AS VARCHAR)
        |    || '.bmp' AS u FROM ms
        |  UNION ALL
        |  SELECT m, 'https://cdn-b.example/m/' || CAST(m AS VARCHAR)
        |    || '.bmp' FROM ms),
        |nodes AS (SELECT urls.u, ah.h64 FROM urls JOIN ah ON ah.m = urls.m),
        |p2 AS (
        |  SELECT a.u AS ua, b.u AS ub FROM nodes a JOIN nodes b
        |  ON a.u < b.u WHERE bit_count(xor(a.h64, b.h64)) <= 3),
        |e AS (SELECT ua AS u, ub AS v FROM p2
        |      UNION SELECT ub, ua FROM p2),
        |reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v),
        |lab AS (SELECT u AS id, min(r) AS rep FROM reach GROUP BY u),
        |mapn AS (SELECT id, rep FROM lab WHERE id <> rep),
        |basepairs AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR) AS url,
        |    'https://cdn-a.example/img/' || CAST(doc_id % 10 AS VARCHAR)
        |      || '.bmp' AS img_url,
        |    'a' || CAST(doc_id % 3 AS VARCHAR) AS alt
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR),
        |    'https://cdn-b.example/m/' || CAST(doc_id % 10 AS VARCHAR)
        |      || '.bmp',
        |    'a' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR),
        |    'https://cdn-a.example/x/bad.bin', 'bad'
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR),
        |    'https://cdn-b.example/x/bad.bin', 'bad'
        |  FROM documents WHERE doc_id % 97 = 0),
        |rekeyed AS (
        |  SELECT b.url, COALESCE(mapn.rep, b.img_url) AS img_url, b.alt
        |  FROM basepairs b LEFT JOIN mapn ON mapn.id = b.img_url)
        |SELECT DISTINCT url, img_url, alt FROM rekeyed
        |ORDER BY url, img_url""".stripMargin,
    // every screen replayed: the caption-df guard recomputes its own
    // threshold crossing (SF-consistent like crawl_soft404_templates),
    // geometry gates are integer/exact-double comparisons
    "crawl_pair_quality" ->
      """WITH p AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/pg/' || CAST(doc_id AS VARCHAR) AS url,
        |    'https://img.example/i/' || CAST(doc_id AS VARCHAR)
        |      || '.jpg' AS img_url,
        |    CASE WHEN doc_id % 10 = 7 THEN 'stock photo'
        |      WHEN doc_id % 31 = 0 THEN 'x'
        |      WHEN doc_id % 41 = 0 THEN repeat('y', 300)
        |      ELSE 'cap ' || CAST(doc_id AS VARCHAR) END AS alt,
        |    CASE WHEN doc_id % 53 = 0 THEN NULL
        |      ELSE CAST(16 + doc_id % 200 AS INT) END AS width,
        |    CASE WHEN doc_id % 53 = 0 THEN NULL
        |      ELSE CAST(16 + doc_id % 90 AS INT) END AS height
        |  FROM documents),
        |bp AS (
        |  SELECT alt FROM (
        |    SELECT alt, count(DISTINCT url) AS c FROM p GROUP BY alt)
        |  WHERE c > 10)
        |SELECT url, img_url, alt, width, height FROM p
        |WHERE width IS NOT NULL AND height IS NOT NULL
        |  AND width >= 32 AND height >= 24
        |  AND CAST(greatest(width, height) AS DOUBLE)
        |    <= 3.0 * least(width, height)
        |  AND length(alt) >= 3 AND length(alt) <= 200
        |  AND alt NOT IN (SELECT alt FROM bp)
        |ORDER BY url""".stripMargin,
    // the fetch loop replayed: refs per (host k, image j) over the
    // unblocked (j<4) not-yet-fetched (j>0) images, per-host rounds by
    // (n_refs desc, url asc), dims from the same (k, j) arithmetic the
    // fetcher's BMPs encoded
    "crawl_image_fetch" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 7 AS INT) AS k,
        |    CAST(doc_id % 5 AS INT) AS j
        |  FROM documents),
        |refs AS (
        |  SELECT k, j, CAST(count(*) AS BIGINT) AS n_refs
        |  FROM d WHERE j BETWEEN 1 AND 3 GROUP BY k, j),
        |sched AS (
        |  SELECT k, j, n_refs,
        |    CAST(row_number() OVER (PARTITION BY k
        |      ORDER BY n_refs DESC,
        |        'https://h' || CAST(k AS VARCHAR) || '.example/i/' ||
        |          CAST(j AS VARCHAR) || '.bmp' ASC) AS BIGINT) AS round
        |  FROM refs)
        |SELECT
        |  'https://h' || CAST(d.k AS VARCHAR) || '.example/pg/' ||
        |    CAST(d.doc_id AS VARCHAR) AS url,
        |  'https://h' || CAST(d.k AS VARCHAR) || '.example/i/' ||
        |    CAST(d.j AS VARCHAR) || '.bmp' AS img_url,
        |  'a' || CAST(d.doc_id % 3 AS VARCHAR) AS alt,
        |  s.n_refs, s.round,
        |  CAST(4 + d.j AS BIGINT) AS width,
        |  CAST(3 + d.k AS BIGINT) AS height
        |FROM d JOIN sched s ON d.k = s.k AND d.j = s.j
        |ORDER BY url""".stripMargin,
    // the template decision replayed: group urls per (host, template
    // class), HAVING >= 10 flags, kept = everything else + the
    // null-hash /r/ rows that pass the gate untouched
    "crawl_soft404_templates" ->
      """WITH rows AS (
        |  SELECT doc_id, CAST(doc_id % 7 AS INT) AS k,
        |    CASE WHEN doc_id % 5 = 0 THEN 'nf'
        |         WHEN doc_id % 100 < 3 THEN 'sm'
        |         ELSE 'u' || CAST(doc_id AS VARCHAR) END AS grp
        |  FROM documents),
        |counts AS (
        |  SELECT k, grp, CAST(count(*) AS BIGINT) AS n
        |  FROM rows GROUP BY k, grp),
        |flagged AS (SELECT k, grp, n FROM counts WHERE n >= 10),
        |kept AS (
        |  SELECT r.k, CAST(count(*) AS BIGINT) AS kept
        |  FROM rows r LEFT JOIN flagged f ON r.k = f.k AND r.grp = f.grp
        |  WHERE f.grp IS NULL GROUP BY r.k),
        |nullrows AS (
        |  SELECT CAST(doc_id % 7 AS INT) AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 97 = 0 GROUP BY 1)
        |SELECT 'h' || CAST(f.k AS VARCHAR) || '.example' AS host,
        |  CAST(count(*) AS BIGINT) AS n_templates,
        |  CAST(sum(f.n) AS BIGINT) AS flagged_urls,
        |  max(kept.kept) + coalesce(max(nullrows.n), 0) AS kept_urls
        |FROM flagged f
        |JOIN kept ON f.k = kept.k
        |LEFT JOIN nullrows ON f.k = nullrows.k
        |GROUP BY f.k ORDER BY host""".stripMargin,
    // the robots decision rebuilt with literal prefix matching: even
    // hosts drop /page/1* unless /page/12* (the allow override), odd
    // hosts never restrict graftbot
    "crawl_robots_filter" ->
      """WITH pages AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url,
        |    doc_id % 7 AS k,
        |    '/page/' || CAST(doc_id AS VARCHAR) AS path
        |  FROM documents)
        |SELECT url FROM pages
        |WHERE (k % 2 = 1)
        |   OR (NOT starts_with(path, '/page/1'))
        |   OR starts_with(path, '/page/12')
        |ORDER BY url""".stripMargin,
    // the frontier's surviving link multiset rebuilt from the same
    // doc_id arithmetic the fixture pages embed: two NEW targets, the
    // comment-wrapped link (regex semantics: extracted), self links
    // anti-joined away; relative/mailto/single-quoted never enter
    "crawl_frontier" -> crawlFrontierOracleSql,
    // base-element resolution rebuilt per arm: absolute base -> links
    // land on the BASE host (rel/ under its /dir/, /abs/ at its root);
    // relative base 'sub/' -> page-url merge first (/page/sub/); no
    // base -> page-url merge (/page/plain/); self links anti-join away
    "crawl_frontier_base" ->
      """WITH crawled AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |links AS (
        |  SELECT 'https://b' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/dir/rel/' || CAST(doc_id % 5 AS VARCHAR) AS url
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'https://b' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/abs/' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/sub/x' || CAST(doc_id % 5 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/plain/' || CAST(doc_id % 5 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 2),
        |fresh AS (
        |  SELECT l.url FROM links l
        |  LEFT JOIN crawled c ON l.url = c.url
        |  WHERE c.url IS NULL)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM fresh GROUP BY url ORDER BY url""".stripMargin,
    // only the surviving trap-filter arms: the clean link and the
    // 3-repeat boundary link, ref-counted per shared target
    "crawl_frontier_traps" ->
      """WITH links AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/ok/' || CAST(doc_id % 9 AS VARCHAR) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://edge.example/r/r/r/' || CAST(doc_id % 6 AS VARCHAR)
        |  FROM documents)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM links GROUP BY url ORDER BY url""".stripMargin,
    // header-politeness arms rebuilt per id%4: noindex on 1 and 2
    // (none = both), links emptied on 2 and 3 (nofollow incl. the
    // agent-scoped form), one anchor otherwise
    "crawl_xrobots_gate" ->
      """SELECT
        |  'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/xr/' || CAST(doc_id AS VARCHAR) AS url,
        |  (doc_id % 4) IN (1, 2) AS noindex,
        |  CAST(CASE WHEN (doc_id % 4) IN (2, 3) THEN 0 ELSE 1 END
        |    AS BIGINT) AS n_links
        |FROM documents ORDER BY url""".stripMargin,
    // the frontier minus blocklisted hosts: suffix semantics rebuilt
    // with exact-or-dot-suffix host matching on the HostRe capture
    "crawl_frontier_blocked" ->
      s"""WITH $crawlFixtureCte,
         |fr AS (
         |  SELECT url, CAST(count(*) AS BIGINT) AS n_refs
         |  FROM fresh GROUP BY url),
         |hosted AS (
         |  SELECT url, n_refs,
         |    lower(regexp_extract(url,
         |      '${graft.pipeline.UrlFilter.HostRe}', 1)) AS host
         |  FROM fr)
         |SELECT url, n_refs FROM hosted
         |WHERE NOT (host = 'sq.example' OR ends_with(host, '.sq.example')
         |        OR host = 'h1.example' OR ends_with(host, '.h1.example'))
         |ORDER BY url""".stripMargin,
    // canonical keys rebuilt per arm: ids with a declared canonical
    // (id%3 in 0,1 — the escaped tracking-param variant normalizes to
    // the SAME key) collapse per id%40 group; no-canonical pages key on
    // their own normalized url (unique)
    "crawl_canonical_dedup" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 IN (0, 1)
        |      THEN 'https://c.example/page/' || CAST(doc_id % 40 AS VARCHAR)
        |      ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |           '.example/self/' || CAST(doc_id AS VARCHAR) END
        |      AS canonical
        |  FROM documents)
        |SELECT canonical, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM k GROUP BY canonical ORDER BY canonical""".stripMargin,
    // refresh-due urls rebuilt per arm: last fetch = doc_id%10, +5 when
    // refetched (doc_id%3=0); due = last < 7
    "crawl_recrawl_due" ->
      """WITH f AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url,
        |    CASE WHEN doc_id % 3 = 0 THEN doc_id % 10 + 5
        |         ELSE doc_id % 10 END AS last_batch
        |  FROM documents)
        |SELECT url, CAST(last_batch AS BIGINT) AS last_batch
        |FROM f WHERE last_batch < 7 ORDER BY url""".stripMargin,
    // the due-list replay above joined with the validator arm lattice
    // (crawl_revalidators' CASEs keyed to the page urls); the id%4=3
    // arm carries NULL validators — present in the feed, unconditional
    "crawl_recrawl_validators" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url,
        |    CASE WHEN doc_id % 3 = 0 THEN doc_id % 10 + 5
        |         ELSE doc_id % 10 END AS last_batch
        |  FROM documents)
        |SELECT url, CAST(last_batch AS BIGINT) AS last_batch,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN '"e' || CAST(doc_id % 9 AS VARCHAR) || '"'
        |    WHEN 2 THEN 'W/"w' || CAST(doc_id % 5 AS VARCHAR) || '"'
        |    END AS etag,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 1 THEN 'Thu, 0' || CAST(1 + doc_id % 7 AS VARCHAR) ||
        |      ' Jan 2026 12:00:00 GMT'
        |    WHEN 2 THEN 'Sat, 15 Aug 2026 0' ||
        |      CAST(doc_id % 10 AS VARCHAR) || ':00:00 GMT'
        |    END AS last_modified
        |FROM f WHERE last_batch < 7 ORDER BY url""".stripMargin,
    // churn counts rebuilt per arm: same-content refetch observes but
    // never changes (id%3=0); the twice-refetched arm changes on the
    // first refetch only when id%4>=2 ('a'||id%4 vs 'a'||id%2) and
    // always on the second (id%3=1); the dead refetch advances the age
    // without observing (id%3=2). The mid-run compactFetched must be
    // invisible here — the fold preserves the accumulators.
    "crawl_recrawl_churn" ->
      """SELECT
        |  'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example/page/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN doc_id % 5 + 3
        |    WHEN 1 THEN doc_id % 5 + 6
        |    ELSE doc_id % 5 + 4 END AS BIGINT) AS last_batch,
        |  CAST(CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 1 END AS BIGINT) AS n_obs,
        |  CAST(CASE WHEN doc_id % 3 = 1
        |    THEN CASE WHEN doc_id % 4 >= 2 THEN 2 ELSE 1 END
        |    ELSE 0 END AS BIGINT) AS n_changes
        |FROM documents ORDER BY url""".stripMargin,
    // markup politeness arms rebuilt from the fixture arithmetic: the
    // kept anchor, the absolute (id%3=0), page-resolved relative
    // (id%3=1) and whitespace-separator (id%3=2, r15) refresh targets,
    // and the robots-nofollow meta page's refresh (rides THROUGH the
    // nofollow — declared by the SECOND robots meta, inside a
    // '>'-carrying quoted value); both nofollow'd anchors and the meta
    // page's anchor never enter; self links anti-join away
    "crawl_frontier_meta" ->
      """WITH crawled AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/meta/' || CAST(doc_id AS VARCHAR)
        |  FROM documents),
        |links AS (
        |  SELECT 'https://keep.example/k/' || CAST(doc_id % 5 AS VARCHAR)
        |         AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://r.example/abs/' || CAST(doc_id % 6 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/rel/' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 'https://ws.example/w/' || CAST(doc_id % 5 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT 'https://rr.example/rr/' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents),
        |fresh AS (
        |  SELECT l.url FROM links l
        |  LEFT JOIN crawled c ON l.url = c.url
        |  WHERE c.url IS NULL)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM fresh GROUP BY url ORDER BY url""".stripMargin,
    // the frameset/iframe/area arms rebuilt from the fixture
    // arithmetic: kept iframe/frame/area/anchor urls enter (the frame
    // resolves onto the page host, the escaped query decodes), the
    // nofollow'd area and the whole robots-nofollow meta page's
    // iframe/frame/area never do, self links anti-join away
    "crawl_frontier_frames" ->
      """WITH crawled AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/fset/' || CAST(doc_id AS VARCHAR)
        |  FROM documents),
        |links AS (
        |  SELECT 'https://if.example/f/' || CAST(doc_id % 5 AS VARCHAR)
        |         AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/fr/' || CAST(doc_id % 4 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://ar.example/k/' || CAST(doc_id % 6 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://if.example/q?x=1&y=' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://keep.example/k/' || CAST(doc_id % 5 AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents),
        |fresh AS (
        |  SELECT l.url FROM links l
        |  LEFT JOIN crawled c ON l.url = c.url
        |  WHERE c.url IS NULL)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM fresh GROUP BY url ORDER BY url""".stripMargin,
    // every arm's (img_url, alt, title, caption) rebuilt from the
    // fixture arithmetic: the resolved+normalized src per arm, the
    // EMPTY-alt arm distinct from the null-alt arms, the caption with
    // its nested tag stripped and entity decoded
    "crawl_image_pairs" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS arm,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/img/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |pairs AS (
        |  SELECT url, 'https://img.example/i/' ||
        |      CAST(doc_id % 9 AS VARCHAR) || '.jpg' AS img_url,
        |    'pic ' || CAST(doc_id % 7 AS VARCHAR) AS alt,
        |    CAST(NULL AS VARCHAR) AS title,
        |    'Cap ' || CAST(doc_id % 4 AS VARCHAR) || ' & more' AS caption
        |  FROM p WHERE arm = 0
        |  UNION ALL
        |  SELECT url, 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/im/' || CAST(doc_id % 6 AS VARCHAR) || '.png',
        |    NULL, 't' || CAST(doc_id % 3 AS VARCHAR), NULL
        |  FROM p WHERE arm = 1
        |  UNION ALL
        |  SELECT url, 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example/im/' || CAST(doc_id % 6 AS VARCHAR) || '@2x.png',
        |    NULL, 't' || CAST(doc_id % 3 AS VARCHAR), NULL
        |  FROM p WHERE arm = 1
        |  UNION ALL
        |  SELECT url, 'https://cdn' || CAST(doc_id % 2 AS VARCHAR) ||
        |      '.example/w/' || CAST(doc_id % 4 AS VARCHAR) || '.webp',
        |    NULL, 't' || CAST(doc_id % 3 AS VARCHAR), NULL
        |  FROM p WHERE arm = 1
        |  UNION ALL
        |  SELECT url, 'https://img.example/p?a=1&b=' ||
        |      CAST(doc_id % 3 AS VARCHAR), '', NULL, NULL
        |  FROM p WHERE arm = 2
        |  UNION ALL
        |  SELECT url, 'https://img.example/hi/' ||
        |      CAST(doc_id % 4 AS VARCHAR) || '.avif', '', NULL, NULL
        |  FROM p WHERE arm = 2
        |  UNION ALL
        |  SELECT url, 'https://img.example/hi/' ||
        |      CAST(doc_id % 4 AS VARCHAR) || '.jpg?x=1&y=' ||
        |      CAST(doc_id % 2 AS VARCHAR), '', NULL, NULL
        |  FROM p WHERE arm = 2
        |  UNION ALL
        |  SELECT url, 'https://b.example/dir/r' ||
        |      CAST(doc_id % 4 AS VARCHAR) || '.gif',
        |    'rel ' || CAST(doc_id % 5 AS VARCHAR), NULL, NULL
        |  FROM p WHERE arm = 3
        |  UNION ALL
        |  SELECT url, 'https://ok.example/o/' ||
        |      CAST(doc_id % 5 AS VARCHAR), NULL, NULL, NULL
        |  FROM p WHERE arm = 4
        |  UNION ALL
        |  SELECT url, 'https://ph.example/s/' ||
        |      CAST(doc_id % 3 AS VARCHAR) || '.webp', 'ph', NULL, NULL
        |  FROM p WHERE arm = 4
        |  UNION ALL
        |  SELECT url, 'https://ph.example/s/' ||
        |      CAST(doc_id % 3 AS VARCHAR) || 'b.webp', 'ph', NULL, NULL
        |  FROM p WHERE arm = 4)
        |SELECT url, img_url, alt, title, caption FROM pairs
        |ORDER BY url, img_url""".stripMargin,
    // the Bloom-routed frontier is output-identical by contract (no
    // false negatives; false positives rescued by the exact join), so
    // the oracle is crawl_frontier's SQL verbatim
    "crawl_frontier_bloom" -> crawlFrontierOracleSql,
    // redirect targets rebuilt from the fixture arithmetic: the
    // absolute-Location arm lands on /target/, the relative ../hub/k
    // arm dot-segment-merges onto the source host, and the
    // redirect-to-crawled arm (own page url) anti-joins away
    "crawl_redirects" ->
      """WITH crawled AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |links AS (
        |  SELECT 'https://h' || CAST((doc_id * 3) % 7 AS VARCHAR) ||
        |         '.example/target/' || CAST(doc_id + 600000 AS VARCHAR) AS url
        |  FROM documents WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/hub/' || CAST(doc_id % 13 AS VARCHAR)
        |  FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
        |         '.example/page/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 10 = 1),
        |fresh AS (
        |  SELECT l.url FROM links l
        |  LEFT JOIN crawled c ON l.url = c.url
        |  WHERE c.url IS NULL)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_refs
        |FROM fresh GROUP BY url ORDER BY url""".stripMargin,
    // the bounded chain unroll replayed: the edge set from the fixture
    // arithmetic (junk arms contribute none), then maxHops-1 = 3
    // chained LEFT JOINs advancing (final, hops), and the final
    // still-a-source probe deciding `resolved`
    "crawl_redirect_chains" ->
      """WITH edges AS (
        |  SELECT 'https://c.example/a/' || CAST(doc_id AS VARCHAR) AS url,
        |    'https://c.example/b/' || CAST(doc_id AS VARCHAR) AS target
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://c.example/b/' || CAST(doc_id AS VARCHAR),
        |    'https://d.example/c/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'https://d.example/c/' || CAST(doc_id AS VARCHAR),
        |    'https://e.example/final/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT 'https://cy.example/x/' || CAST(doc_id AS VARCHAR),
        |    'https://cy.example/y/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'https://cy.example/y/' || CAST(doc_id AS VARCHAR),
        |    'https://cy.example/x/' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 5 = 0),
        |r1 AS (SELECT url, target AS f, CAST(1 AS BIGINT) AS hops
        |  FROM edges),
        |r2 AS (SELECT r.url, coalesce(e.target, r.f) AS f,
        |    CAST(CASE WHEN e.target IS NOT NULL THEN r.hops + 1
        |      ELSE r.hops END AS BIGINT) AS hops
        |  FROM r1 r LEFT JOIN edges e ON r.f = e.url),
        |r3 AS (SELECT r.url, coalesce(e.target, r.f) AS f,
        |    CAST(CASE WHEN e.target IS NOT NULL THEN r.hops + 1
        |      ELSE r.hops END AS BIGINT) AS hops
        |  FROM r2 r LEFT JOIN edges e ON r.f = e.url),
        |r4 AS (SELECT r.url, coalesce(e.target, r.f) AS f,
        |    CAST(CASE WHEN e.target IS NOT NULL THEN r.hops + 1
        |      ELSE r.hops END AS BIGINT) AS hops
        |  FROM r3 r LEFT JOIN edges e ON r.f = e.url)
        |SELECT r.url, r.f AS final_url, r.hops,
        |  (e.url IS NULL) AS resolved
        |FROM r4 r LEFT JOIN edges e ON r.f = e.url
        |ORDER BY r.url""".stripMargin,
    // the crawl flagship's decision rebuilt in SQL: extraction (the
    // html_extract rebuild) composed with the exact shingle-Jaccard
    // near-dup test (the doc_incremental_dedup CTE) -- a mutated doc
    // survives iff no stored original's extracted text reaches 0.3
    "crawl_corpus" ->
      """WITH oe AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    CASE WHEN norm = '' THEN '' ELSE norm || chr(10) END ||
        |    'footer © 2026' AS etext
        |  FROM (SELECT doc_id,
        |      trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |    FROM documents)),
        |me AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    CASE WHEN norm = '' THEN '' ELSE norm || chr(10) END ||
        |    'footer © 2026' AS etext
        |  FROM (
        |    SELECT doc_id + 1000000 AS doc_id,
        |      trim(regexp_replace(
        |        substr(text, 1, CAST(floor(length(text)*0.7) AS INT)),
        |        '\s+', ' ', 'g')) AS norm
        |    FROM documents WHERE doc_id % 50 = 0
        |    UNION ALL
        |    SELECT doc_id + 2000000 AS doc_id,
        |      'fresh corpus item ' || md5(text) || ' ' || md5(md5(text)) AS norm
        |    FROM documents WHERE doc_id % 50 = 7)),
        |d AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(etext), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM oe) t),
        |m AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)-2),
        |      i -> array_to_string(w[i:i+3], ' ')) END) AS sh
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
        |    lower(etext), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS w
        |    FROM me) t),
        |mx AS (
        |  SELECT m.doc_id AS mid,
        |    max(CAST(len(list_intersect(d.sh, m.sh)) AS DOUBLE) /
        |      (len(d.sh) + len(m.sh) - len(list_intersect(d.sh, m.sh)))) AS j
        |  FROM d JOIN m ON true GROUP BY m.doc_id)
        |SELECT me.doc_id AS doc_id,
        |  'https://graft.test/doc/' || CAST(me.doc_id AS VARCHAR) AS url,
        |  COALESCE(mx.j, 0) < 0.3 AS survived
        |FROM me LEFT JOIN mx ON mx.mid = me.doc_id
        |ORDER BY doc_id""".stripMargin,
    // charset arms: expected text = per-arm unicode marker + ' ' +
    // ASCII-projected ws-collapsed doc text; markers built with chr() so
    // the SQL stays pure ASCII
    "html_extract_charsets" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '[^ -~]', '', 'g') AS ascii,
        |    CAST(doc_id % 4 AS INT) AS arm
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, arm,
        |    CASE arm
        |      WHEN 0 THEN chr(10003) || ' UTF'
        |      WHEN 1 THEN chr(8364) || 'uro r' || chr(233) || 'sum' || chr(233)
        |      WHEN 2 THEN chr(26085) || chr(26412) || chr(35486)
        |      ELSE chr(1073) || chr(1091) || chr(1082) || chr(1074) || chr(955)
        |    END AS marker,
        |    trim(regexp_replace(ascii, '\s+', ' ', 'g')) AS norm
        |  FROM a),
        |e AS (
        |  SELECT doc_id, arm,
        |    marker || CASE WHEN norm = '' THEN '' ELSE ' ' || norm END AS expected
        |  FROM m)
        |SELECT doc_id, md5(expected) AS text_md5,
        |  CAST(length(expected) AS BIGINT) AS n_chars,
        |  CASE arm WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 2 THEN 'Shift_JIS' ELSE 'UTF-16LE' END AS charset,
        |  FALSE AS charset_fallback
        |FROM e ORDER BY doc_id""".stripMargin,
    // WARC: the packed files are a pure re-serialization of documents,
    // so every response record replays from the table
    "warc_ingest" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END AS http_status,
        |  'text/plain; charset=utf-8' AS content_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DSv2 warc source: identical contract to warc_ingest (lossless)
    "warc_source_scan" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 7 THEN 404 ELSE 200 END AS http_status,
        |  'text/plain; charset=utf-8' AS content_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // WET conversion records: text bytes md5-exact, no HTTP layer
    "wet_export_scan" ->
      """SELECT doc_id,
        |  'conversion' AS warc_type,
        |  -1 AS http_status,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // WebDataset export round-trip: key length pins the GNU long-name
    // path, member counts + text md5 replay directly, the PNG decode
    // is the same lossless fixture-stream formula as webdataset_ingest
    "webdataset_export_scan" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, CAST(w * h * 3 AS BIGINT) AS nb
        |       FROM m WHERE doc_id % 3 = 0),
        |ks AS (SELECT doc_id, w, nb,
        |         unnest(generate_series(0, nb - 1)) AS k FROM px),
        |d AS (SELECT ks.doc_id, ks.w, ks.nb,
        |        CASE WHEN m.l = 0 THEN k % 256
        |          ELSE (unicode(substr(m.text, CAST(k % m.l AS INT) + 1, 1)) + k) % 256
        |        END AS val
        |      FROM ks JOIN m ON m.doc_id = ks.doc_id),
        |img AS (SELECT doc_id, CAST(max(w) AS INT) AS img_w,
        |          CAST(sum(val) AS DOUBLE) / max(nb) AS img_luma
        |        FROM d GROUP BY doc_id)
        |SELECT m.doc_id,
        |  CAST(length(CAST(m.doc_id AS VARCHAR)) +
        |    CASE WHEN m.doc_id % 7 = 0 THEN 111 ELSE 0 END AS BIGINT)
        |    AS key_len,
        |  CAST(2 + CASE WHEN m.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_parts,
        |  md5(m.text) AS txt_md5,
        |  COALESCE(img.img_w, -1) AS img_w,
        |  COALESCE(img.img_luma, -1.0) AS img_luma
        |FROM m LEFT JOIN img ON img.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // JPEG: every payload must fully entropy-decode to its fixture dims
    "media_jpeg_meta" ->
      """SELECT doc_id AS id, CAST(16 + doc_id % 16 AS INT) AS width,
        |  CAST(16 + doc_id % 8 AS INT) AS height, TRUE AS ok
        |FROM documents ORDER BY id""".stripMargin,
    "media_frames" ->
      """SELECT doc_id AS id,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN (8 + doc_id % 8 + 1) // 2
        |    ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY id""".stripMargin,
    "media_resized" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST((CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 8 ELSE 1 END)
        |      * (16 + doc_id % 16) * (16 + doc_id % 8) * 3 AS BIGINT) AS nb
        |  FROM documents),
        |s AS (SELECT doc_id, text, l, CAST(15 * nb // 16 AS BIGINT) AS src
        |      FROM m)
        |SELECT doc_id AS id,
        |  CASE WHEN l = 0 THEN 0.0
        |    ELSE (unicode(substr(text, 1, 1)) % 256) / 255.0 END AS r_first,
        |  CASE WHEN l = 0 THEN CAST(src % 256 AS DOUBLE) / 255.0
        |    ELSE ((unicode(substr(text, CAST(src % l AS INT) + 1, 1)) + src) % 256)
        |      / 255.0
        |  END AS r_last
        |FROM s ORDER BY id""".stripMargin,
    // perceptual hash dedup: the aHash recomputed from the fixture
    // definition — integer Rec.601 luma per pixel, 8×8 integer-floor box
    // means, bit = block > global mean, HUGEINT bit accumulation folded
    // to signed BIGINT (the doc_simhash_dups precedent) — twins share
    // the hash by construction (identical pixels), pairs brute-forced
    "media_phash_dups" ->
      """WITH imgs AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM imgs),
        |g AS (
        |  SELECT doc_id, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (3*p) % 256
        |       ELSE (unicode(substr(text, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3),
        |gm AS (SELECT doc_id, sum(bm) // 64 AS m FROM blk GROUP BY doc_id),
        |bits AS (
        |  SELECT blk.doc_id,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id GROUP BY blk.doc_id),
        |ah AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |allh AS (
        |  SELECT doc_id, h64 FROM ah
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, h64 FROM ah)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h64, b.h64)) AS BIGINT) AS hamming
        |FROM allh a JOIN allh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h64, b.h64)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // one-call prune: the phash pair set closed transitively with the
    // recursive-CTE CC, keep-min per component — survivors are every id
    // that is its own representative
    "media_phash_prune" ->
      """WITH RECURSIVE imgs AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM imgs),
        |g AS (
        |  SELECT doc_id, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (3*p) % 256
        |       ELSE (unicode(substr(text, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3),
        |gm AS (SELECT doc_id, sum(bm) // 64 AS m FROM blk GROUP BY doc_id),
        |bits AS (
        |  SELECT blk.doc_id,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id GROUP BY blk.doc_id),
        |ah AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |allh AS (
        |  SELECT doc_id, h64 FROM ah
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, h64 FROM ah),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM allh a JOIN allh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h64, b.h64)) <= 3),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |), drp AS (SELECT id FROM lab WHERE id <> rep)
        |SELECT a.doc_id AS id FROM allh a
        |LEFT JOIN drp d ON a.doc_id = d.id
        |WHERE d.id IS NULL
        |ORDER BY id""".stripMargin,
    // audio fingerprint dedup: the 65-block energy-gradient hash
    // recomputed from the fixture sample definition (audio sample k is
    // the fixture stream value; dev = v - 128; block = k*65 // n; energy
    // = exact integer sum of dev^2; bit i = e_i > e_{i+1}), HUGEINT bit
    // fold to signed BIGINT; sample-rate twins share the hash exactly
    "media_audio_dups" ->
      """WITH auds AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST((16 + doc_id % 16) * (16 + doc_id % 8) * 3 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |ks AS (
        |  SELECT doc_id, text, l, n, unnest(generate_series(0, n - 1)) AS k
        |  FROM auds),
        |dv AS (
        |  SELECT doc_id, n, (k * 65) // n AS b,
        |    (CASE WHEN l = 0 THEN k % 256
        |      ELSE (unicode(substr(text, CAST(k % l AS INT) + 1, 1)) + k) % 256
        |     END) - 128 AS dev
        |  FROM ks),
        |en AS (
        |  SELECT doc_id, b, CAST(sum(dev * dev) AS BIGINT) AS e
        |  FROM dv GROUP BY doc_id, b),
        |bits AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN a.e > c.e THEN 1::HUGEINT << CAST(a.b AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM en a JOIN en c ON c.doc_id = a.doc_id AND c.b = a.b + 1
        |  GROUP BY a.doc_id),
        |ah AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |allh AS (
        |  SELECT doc_id, h64 FROM ah
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, h64 FROM ah)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h64, b.h64)) AS BIGINT) AS hamming
        |FROM allh a JOIN allh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h64, b.h64)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // video containment: per-frame aHashes recomputed from the fixture
    // (frame f's pixels start at f*w*h*3), clipped twins = even frames,
    // then the inverted-index containment join replayed in SQL (sizes
    // from the unguarded distinct sets, the operator's exact shape)
    "media_video_dups" ->
      """WITH vids AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fp AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, nf - 1)) AS f
        |  FROM vids),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h, f, f * w * h * 3 AS base,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM fp),
        |g AS (
        |  SELECT doc_id, f, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (base + 3*p) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p) % l AS INT) + 1, 1)) + base + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (base + 3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 1) % l AS INT) + 1, 1)) + base + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (base + 3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 2) % l AS INT) + 1, 1)) + base + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, f, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3, 4),
        |gm AS (SELECT doc_id, f, sum(bm) // 64 AS m FROM blk GROUP BY 1, 2),
        |bits AS (
        |  SELECT blk.doc_id, blk.f,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id AND blk.f = gm.f
        |  GROUP BY 1, 2),
        |fh AS (
        |  SELECT doc_id, f, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |allh AS (
        |  SELECT DISTINCT doc_id AS id, h64 FROM fh
        |  UNION
        |  SELECT DISTINCT doc_id + 1000000 AS id, h64 FROM fh WHERE f % 2 = 0),
        |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM allh GROUP BY id),
        |guard AS (SELECT h64 FROM allh GROUP BY h64 HAVING count(*) <= 1000),
        |gset AS (SELECT id, h64 FROM allh
        |         WHERE h64 IN (SELECT h64 FROM guard)),
        |co AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM gset a JOIN gset b ON a.h64 = b.h64 AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared,
        |  CAST(shared AS DOUBLE) / least(na.n, nb.n) AS containment
        |FROM co
        |JOIN sizes na ON na.id = co.id_a
        |JOIN sizes nb ON nb.id = co.id_b
        |WHERE CAST(shared AS DOUBLE) / least(na.n, nb.n) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // persisted video-index probe: the media_video_dups frame-hash CTEs,
    // stored = live videos (doc_id % 7 <> 0 after the tombstone), batch =
    // clipped twins (even frames); df guard on STORED sets only (the
    // probe contract), containment over full distinct-set sizes
    "media_video_index_probe" ->
      """WITH vids AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fp AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, nf - 1)) AS f
        |  FROM vids),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h, f, f * w * h * 3 AS base,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM fp),
        |g AS (
        |  SELECT doc_id, f, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (base + 3*p) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p) % l AS INT) + 1, 1)) + base + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (base + 3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 1) % l AS INT) + 1, 1)) + base + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (base + 3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 2) % l AS INT) + 1, 1)) + base + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, f, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3, 4),
        |gm AS (SELECT doc_id, f, sum(bm) // 64 AS m FROM blk GROUP BY 1, 2),
        |bits AS (
        |  SELECT blk.doc_id, blk.f,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id AND blk.f = gm.f
        |  GROUP BY 1, 2),
        |fh AS (
        |  SELECT doc_id, f, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |stored AS (
        |  SELECT DISTINCT doc_id AS id, h64 FROM fh WHERE doc_id % 7 <> 0),
        |batch AS (
        |  SELECT DISTINCT doc_id + 1000000 AS id, h64 FROM fh WHERE f % 2 = 0),
        |ssz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM stored GROUP BY id),
        |bsz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM batch GROUP BY id),
        |guard AS (SELECT h64 FROM stored GROUP BY h64 HAVING count(*) <= 1000),
        |co AS (
        |  SELECT s.id AS corpus_id, b.id AS new_id,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM stored s
        |  JOIN batch b ON s.h64 = b.h64
        |  WHERE s.h64 IN (SELECT h64 FROM guard)
        |  GROUP BY 1, 2)
        |SELECT corpus_id, new_id, shared,
        |  CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
        |FROM co
        |JOIN ssz sa ON sa.id = co.corpus_id
        |JOIN bsz sb ON sb.id = co.new_id
        |WHERE CAST(shared AS DOUBLE) / least(sa.n, sb.n) >= 0.9
        |ORDER BY corpus_id, new_id""".stripMargin,
    // video-index delete+prune: frame hashes -> stored-minus-deleted x
    // batch containment pairs ∪ batch-internal containment pairs ->
    // recursive-CTE components -> anchored-or-non-min drop (the
    // media_phash_index_prune policy in containment space)
    "media_video_index_prune" ->
      """WITH RECURSIVE vids AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h,
        |    CAST(8 + doc_id % 8 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fp AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, nf - 1)) AS f
        |  FROM vids),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h, f, f * w * h * 3 AS base,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM fp),
        |g AS (
        |  SELECT doc_id, f, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (base + 3*p) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p) % l AS INT) + 1, 1)) + base + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (base + 3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 1) % l AS INT) + 1, 1)) + base + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (base + 3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((base + 3*p + 2) % l AS INT) + 1, 1)) + base + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, f, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3, 4),
        |gm AS (SELECT doc_id, f, sum(bm) // 64 AS m FROM blk GROUP BY 1, 2),
        |bits AS (
        |  SELECT blk.doc_id, blk.f,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id AND blk.f = gm.f
        |  GROUP BY 1, 2),
        |fh AS (
        |  SELECT doc_id, f, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |stored AS (
        |  SELECT DISTINCT doc_id AS id, h64 FROM fh WHERE doc_id % 7 <> 0),
        |batch AS (
        |  SELECT DISTINCT doc_id + 1000000 AS id, h64 FROM fh WHERE f % 2 = 0),
        |ssz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM stored GROUP BY id),
        |bsz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM batch GROUP BY id),
        |sguard AS (SELECT h64 FROM stored GROUP BY h64 HAVING count(*) <= 1000),
        |bguard AS (SELECT h64 FROM batch GROUP BY h64 HAVING count(*) <= 1000),
        |sp AS (
        |  SELECT s.id AS id_a, b.id AS id_b
        |  FROM stored s JOIN batch b ON s.h64 = b.h64
        |  JOIN ssz sa ON sa.id = s.id
        |  JOIN bsz sb ON sb.id = b.id
        |  WHERE s.h64 IN (SELECT h64 FROM sguard)
        |  GROUP BY s.id, b.id, sa.n, sb.n
        |  HAVING CAST(count(*) AS DOUBLE) / least(sa.n, sb.n) >= 0.9),
        |bp AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM batch a JOIN batch b ON a.h64 = b.h64 AND a.id < b.id
        |  JOIN bsz na ON na.id = a.id
        |  JOIN bsz nb ON nb.id = b.id
        |  WHERE a.h64 IN (SELECT h64 FROM bguard)
        |  GROUP BY a.id, b.id, na.n, nb.n
        |  HAVING CAST(count(*) AS DOUBLE) / least(na.n, nb.n) >= 0.9),
        |p AS (SELECT id_a, id_b FROM sp UNION SELECT id_a, id_b FROM bp),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |), sids AS (SELECT DISTINCT id_a AS id FROM sp),
        |anch AS (
        |  SELECT DISTINCT l.rep FROM lab l JOIN sids s ON l.id = s.id),
        |drp AS (
        |  SELECT l.id FROM lab l
        |  LEFT JOIN sids s ON l.id = s.id
        |  LEFT JOIN anch a ON l.rep = a.rep
        |  WHERE s.id IS NULL AND (a.rep IS NOT NULL OR l.id <> l.rep))
        |SELECT DISTINCT b.id FROM batch b
        |LEFT JOIN drp d ON b.id = d.id
        |WHERE d.id IS NULL
        |ORDER BY b.id""".stripMargin,
    // persisted hamming-index probe: the media_phash_dups hash CTEs,
    // stored (all image ids) x batch (twins, same hashes) brute pairs
    "media_phash_index_probe" ->
      """WITH imgs AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM imgs),
        |g AS (
        |  SELECT doc_id, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (3*p) % 256
        |       ELSE (unicode(substr(text, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3),
        |gm AS (SELECT doc_id, sum(bm) // 64 AS m FROM blk GROUP BY doc_id),
        |bits AS (
        |  SELECT blk.doc_id,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id GROUP BY blk.doc_id),
        |ah AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits)
        |SELECT a.doc_id AS corpus_id, b.doc_id + 1000000 AS new_id,
        |  CAST(bit_count(xor(a.h64, b.h64)) AS BIGINT) AS hamming
        |FROM ah a JOIN ah b ON a.doc_id <> b.doc_id + 1000000
        |WHERE bit_count(xor(a.h64, b.h64)) <= 3
        |ORDER BY corpus_id, new_id""".stripMargin,
    // hamming-index delete+prune: hashes -> (stored minus deleted) x batch
    // pairs ∪ batch-internal pairs -> recursive-CTE components ->
    // anchored-or-non-min drop (the emb_probe_prune policy in hamming space)
    "media_phash_index_prune" ->
      """WITH RECURSIVE imgs AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS l,
        |    CAST(16 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(16 + doc_id % 8 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |pixk AS (
        |  SELECT doc_id, text, l, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p
        |  FROM imgs),
        |g AS (
        |  SELECT doc_id, w, h, p // w AS y, p % w AS x,
        |    (299 * (CASE WHEN l = 0 THEN (3*p) % 256
        |       ELSE (unicode(substr(text, CAST((3*p) % l AS INT) + 1, 1)) + 3*p) % 256 END)
        |   + 587 * (CASE WHEN l = 0 THEN (3*p + 1) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 1) % l AS INT) + 1, 1)) + 3*p + 1) % 256 END)
        |   + 114 * (CASE WHEN l = 0 THEN (3*p + 2) % 256
        |       ELSE (unicode(substr(text, CAST((3*p + 2) % l AS INT) + 1, 1)) + 3*p + 2) % 256 END)
        |    ) // 1000 AS gr
        |  FROM pixk),
        |blk AS (
        |  SELECT doc_id, (y * 8) // h AS by, (x * 8) // w AS bx,
        |    sum(gr) // count(*) AS bm
        |  FROM g GROUP BY 1, 2, 3),
        |gm AS (SELECT doc_id, sum(bm) // 64 AS m FROM blk GROUP BY doc_id),
        |bits AS (
        |  SELECT blk.doc_id,
        |    sum(CASE WHEN bm > m THEN 1::HUGEINT << CAST(by * 8 + bx AS INT)
        |        ELSE 0::HUGEINT END) AS s
        |  FROM blk JOIN gm ON blk.doc_id = gm.doc_id GROUP BY blk.doc_id),
        |ah AS (
        |  SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |    THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS h64
        |  FROM bits),
        |stored AS (SELECT doc_id AS id, h64 FROM ah WHERE doc_id % 7 <> 0),
        |batch AS (SELECT doc_id + 1000000 AS id, h64 FROM ah),
        |sp AS (
        |  SELECT s.id AS id_a, b.id AS id_b
        |  FROM stored s JOIN batch b ON bit_count(xor(s.h64, b.h64)) <= 3),
        |bp AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM batch a JOIN batch b ON a.id < b.id
        |  WHERE bit_count(xor(a.h64, b.h64)) <= 3),
        |p AS (SELECT id_a, id_b FROM sp UNION SELECT id_a, id_b FROM bp),
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e) n
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON reach.u = e.v
        |), lab AS (
        |  SELECT u AS id, min(r) AS rep FROM reach GROUP BY u
        |), sids AS (SELECT DISTINCT id_a AS id FROM sp),
        |anch AS (
        |  SELECT DISTINCT l.rep FROM lab l JOIN sids s ON l.id = s.id),
        |drp AS (
        |  SELECT l.id FROM lab l
        |  LEFT JOIN sids s ON l.id = s.id
        |  LEFT JOIN anch a ON l.rep = a.rep
        |  WHERE s.id IS NULL AND (a.rep IS NOT NULL OR l.id <> l.rep))
        |SELECT b.id FROM batch b
        |LEFT JOIN drp d ON b.id = d.id
        |WHERE d.id IS NULL
        |ORDER BY b.id""".stripMargin,
    "emb_top1_brute" ->
      """SELECT query_id, vec_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rn
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |  WHERE c.vec_id <> q.vec_id) t
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // cluster-balanced sample: nearest-seed argmax (cosine desc, seed id
    // asc — the emb_top1_brute ranking precedent) + per-cluster
    // hash-coordinate quota rank
    "emb_cluster_sample" ->
      """WITH a AS (
        |  SELECT c.vec_id, s.vec_id AS seed_id,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, s.embedding) DESC,
        |               s.vec_id) AS arank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) s),
        |r AS (
        |  SELECT seed_id, vec_id,
        |    row_number() OVER (PARTITION BY seed_id
        |      ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296,
        |               vec_id) AS rank
        |  FROM a WHERE arank = 1)
        |SELECT seed_id, vec_id, rank FROM r WHERE rank <= 60
        |ORDER BY seed_id, rank""".stripMargin,
    // The approximate top-k contract (≙ GraphTests.cs:40-43): every
    // corpus-member query returns ITSELF at rank 1 — deterministic for LSH
    // (identical sign bits share every band bucket) and IVF (same nearest
    // centroid ⇒ its own list is probed) — and recovers ≥ recallFloor of
    // the exact top-5 (checked Spark-side against bruteForceTopK, itself
    // DuckDB-oracled via emb_top1_brute; the floor carries a wide margin
    // over the recall measured at sf 0.001/0.01/0.1).
    "emb_topk_lsh" ->
      """SELECT vec_id AS query_id, vec_id AS top1_id, true AS recall_pass
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    "emb_topk_ivf" ->
      """SELECT vec_id AS query_id, vec_id AS top1_id, true AS recall_pass
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // append path: self-recall is centroid-freeze-invariant (a member's
    // assigned list is its nearest centroid by definition), so the same
    // contract oracles the two-installment index
    "emb_ivf_append" ->
      """SELECT vec_id AS query_id, vec_id AS top1_id, true AS recall_pass
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // float-IVF tombstone: at nprobe = nlist every list is probed, so the
    // post-delete search IS the exact float top-5 over the live rows —
    // centroid-placement-independent, and equal to a fresh build over
    // corpus-minus-deleted by construction (ids-only, the
    // emb_topk_sq8_refined argmax-granularity contract)
    "emb_ivf_tombstone" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |  WHERE c.vec_id % 5 <> 0) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // drift dashboard replayed: planted one-hot centroids make the
    // Euclidean assignment argmax-of-first-four (first-wins ties) and
    // the per-list cosine v[i]/|v|; DECIMAL(18,6)-rounded cosines sum
    // order-free, mean derives double/count through the DOUBLE
    // protocol
    "emb_ivf_drift" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS ingest
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, ingest, v,
        |    CASE WHEN v[1] >= v[2] AND v[1] >= v[3] AND v[1] >= v[4]
        |        THEN 0
        |      WHEN v[2] >= v[3] AND v[2] >= v[4] THEN 1
        |      WHEN v[3] >= v[4] THEN 2
        |      ELSE 3 END AS list_id,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |c AS (
        |  SELECT list_id, ingest,
        |    CAST(v[list_id + 1] / nrm AS DECIMAL(18,6)) AS cd
        |  FROM a WHERE nrm > 0)
        |SELECT CAST(list_id AS INT) AS list_id,
        |  CAST(ingest AS INT) AS ingest,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(CAST(CAST(sum(cd) AS DOUBLE) / count(*) AS DECIMAL(18,6))
        |    AS DOUBLE) AS mean_cos
        |FROM c GROUP BY 1, 2
        |ORDER BY list_id, ingest""".stripMargin,
    // IVF-SQ8: identical deterministic self-recall contract — the
    // member's own int8 code dots to its exact squared norm, cosine 1
    "emb_topk_ivfsq8" ->
      """SELECT vec_id AS query_id, vec_id AS top1_id, true AS recall_pass
        |FROM embeddings WHERE vec_id < 8 ORDER BY query_id""".stripMargin,
    // refined IVF-SQ8: full-probe candidates + exact float re-rank ⇒
    // the answer IS the float brute-force top-5 (ids only — the
    // emb_top1_brute argmax-granularity contract, widened to k=5; self
    // is included, ranking first at cosine 1)
    "emb_topk_sq8_refined" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // PQ refined: ADC pool (candidateK 1024, two-installment stored-
    // codebook index) + exact float re-rank ⇒ the exact float top-5,
    // the sq8_refined contract verbatim
    "emb_topk_pq_refined" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // residual IVF-PQ: the q·w_list + ADC(residual) decomposition is
    // exact-invariant under the refined contract — same oracle
    "emb_topk_ivfpq_res" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // IVF-PQ refined at nprobe = nlist with a covering pool: every
    // list probed + exact float re-rank => the exact float top-5 (the
    // pq_refined contract through the routed two-level layout)
    "emb_topk_ivfpq" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // rotated PQ: rotation preserves inner products, so the refined
    // answer is STILL the exact float top-5 — same oracle
    "emb_topk_pq_rot" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // PQ tombstones: the exact float top-5 over the SURVIVORS — the
    // emb_ivf_tombstone contract on the tenth family
    "emb_pq_tombstone" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |  WHERE c.vec_id % 5 <> 0) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // flat-index refine: the same exact-float-top-5 contract as
    // sq8_refined — the int8 pool (candidateK 64) certainly contains
    // the float top-5, and the re-rank is exact
    "emb_topk_int8_refined" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // compacted int8 index: code bytes are untouched by the fold, so the
    // search must stay BIT-IDENTICAL to the multi-installment scan —
    // the emb_topk_int8 oracle verbatim (same even-half build scale)
    "emb_int8_compact" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings),
        |mx AS (SELECT max(abs(x)) / 127 AS scale FROM comp
        |       WHERE vec_id % 2 = 0),
        |codes AS (
        |  SELECT vec_id, ord, CAST(floor(x / scale + 0.5) AS BIGINT) AS c
        |  FROM comp, mx),
        |norms AS (SELECT vec_id, sum(c*c) AS n2 FROM codes GROUP BY vec_id),
        |q AS (SELECT vec_id AS query_id, ord, c FROM codes WHERE vec_id < 8),
        |dots AS (
        |  SELECT q.query_id, d.vec_id, sum(q.c * d.c) AS dot
        |  FROM q JOIN codes d ON q.ord = d.ord
        |  GROUP BY q.query_id, d.vec_id),
        |sc AS (
        |  SELECT dots.query_id, dots.vec_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE)))
        |      AS cosine_q
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = dots.query_id
        |  JOIN norms nd ON nd.vec_id = dots.vec_id
        |  WHERE nq.n2 > 0 AND nd.n2 > 0)
        |SELECT query_id, vec_id, cosine_q, rank FROM (
        |  SELECT query_id, vec_id, cosine_q,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine_q DESC, vec_id) AS rank
        |  FROM sc) r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
  )
}
