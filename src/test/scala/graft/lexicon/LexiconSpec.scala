package graft.lexicon

import graft.SparkTestBase

/** Mirrors reference StringAnalyzerTests end-to-end lexicon asserts
  * (CanBuildAndValidateLexiconWithSyntheticData, positive/negative cases). */
class LexiconSpec extends SparkTestBase {
  import spark.implicits._

  // The reference's own 18-haiku synthetic corpus shape: short docs with
  // embedded noise (NULs, CRLF, brackets, section signs, em-dashes).
  private val haiku = Seq(
    "\u0000\u0000 A world of dew,\r\n\r\nAnd within [every} §dewdrop.\r\n\r\nA world of struggle.",
    "I write, erase, rewrite\r\n\r\nErase \u0000\u0000again, and then\r\n\r\nA poppy blooms.",
    "a camera’s flash\r\n\r\nlong after the eyes close\r\n\r\nin old photographs",
    "Against his coat\r\n\r\nI brush my lips—\r\n\r\nthe \u0000\u0000silence of snowflakes",
    "An old silent pond...\r\nA frog jumps into the pond—\r\nSplash! Silence again.",
    "Autumn moonlight—\r\nA worm digs silently\r\nInto the chestnut.",
    "The first soft snow\r\nFalling\r\nInto the basket."
  )

  test("build + validate round-trips on the synthetic corpus") {
    val docs = haiku.toDF("text")
    val lex = Lexicon.build(docs, "text").toDF().cache()
    assert(lex.count() > 0)
    // set semantics: one row per angle
    assert(lex.select("angle").distinct().count() === lex.count())

    val report = Lexicon.validate(docs, lex, "text")
    assert(report.ok, s"positive validation must succeed: $report")
    assert(report.missing === 0L)
    assert(report.totalTokens > 0L)
    assert(report.minMutualAngle > 0.99, // every stored vector ≈ fresh vector
      s"stored vs fresh must be near-identical, got ${report.minMutualAngle}")
  }

  test("validation fails for an unknown corpus") {
    val docs = haiku.toDF("text")
    val lex = Lexicon.build(docs, "text").toDF()
    val unknown = Seq("quantum entanglement", "distributed ledger",
      "neural radiance fields", "gamma ray bursts", "hyperbolic embeddings")
      .toDF("text")
    val report = Lexicon.validate(unknown, lex, "text")
    assert(!report.ok, s"validation must fail for out-of-lexicon corpus: $report")
    assert(report.missing > 0L)
  }

  test("findMissingAngles probes are absent from the lexicon") {
    val docs = haiku.toDF("text")
    val lex = Lexicon.build(docs, "text").toDF()
    val missing = Lexicon.findMissingAngles(lex, count = 32)
    assert(missing.length > 0) // uniform random doubles won't collide
    assert(missing.forall(a => a >= -1.0 && a <= 1.0))
  }

  test("synthesis steers positional bigrams into the target dimensions") {
    import graft.analysis.TextAnalyzer
    val dims = TextAnalyzer.DefaultDims
    val rnd = new scala.util.Random(7L)
    // per-label measured hit: re-derive the label's positional-bigram dims
    // with the vectorizer's own hash and intersect with the targets
    val hits = (0 until 40).map { _ =>
      val targets = Array.fill(5)(rnd.nextInt(dims))
      val label = Lexicon.synthesizeLabelForDims(targets, rnd, dims)
      assert(label.length >= 2 && label.length <= 8)
      val bigramDims = (0 until label.length - 1).map(p =>
        TextAnalyzer.positionalBigramDim(label.charAt(p), label.charAt(p + 1), p, dims))
      bigramDims.toSet.intersect(targets.toSet).size
    }
    // the alphabet scan hits an unmet 5-of-512 target ~23% per position, so
    // most 8-char labels carry at least one targeted bigram; a regression to
    // untargeted random strings drops this to ~5% of labels (seeded: exact)
    assert(hits.count(_ > 0) >= 20,
      s"dim-targeting lost its aim: ${hits.count(_ > 0)}/40 labels hit")
  }

  test("synthesized labels are deterministic and fail validation") {
    import spark.implicits._
    val a = Lexicon.synthesizeLabels(8)
    val b = Lexicon.synthesizeLabels(8)
    assert(a === b)                       // seeded → reproducible
    assert(a.distinct.length === 8)
    // ≙ ValidateLexiconCommand negative pass: a lexicon built from the real
    // corpus must NOT validate a synthetic out-of-vocabulary corpus
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lex = Lexicon.build(docs, "text").toDF()
    val neg = Lexicon.validate(a.toDF("text"), lex, "text")
    assert(!neg.ok, s"synthetic labels unexpectedly validated: $neg")
  }

  test("flagship entry returns rows at sf0.001") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  // The exhaustive scorer inside these queries broadcasts the BOUNDED
  // query set against the streaming corpus — a BroadcastNestedLoopJoin is
  // that operator's intended plan (corpus side never shuffles), not a
  // degenerate join. Everything else must stay out of nested loops.
  // queries whose EXACT side is an intentional exhaustive scorer
  // (bruteForceTopK broadcast-cross-scores the tiny query set by design)
  private val exhaustiveScorers =
    Set("emb_top1_brute", "emb_topk_lsh", "emb_topk_ivf", "emb_ivf_append",
      "emb_topk_ivfsq8",
      // int8 brute-force cross-scores the bounded query set the same way
      // (the as-of/compact variants run the identical scorer over a
      // pruned/folded read)
      "emb_topk_int8", "emb_int8_asof", "emb_int8_compact",
      // the tombstone search runs the same scorer, skipping the
      // driver-read tombstoned ids inside its scan (no join at all)
      "emb_int8_tombstone",
      // hard-negative mining runs the same intentional brute scorer
      "emb_hard_negatives",
      // the incremental probe/prune pair scores every stored row against
      // the broadcast batch by design (the exactness-over-LSH contract);
      // the IVF-routed prune prunes the STORED side to probed lists but
      // its batch-internal pair pass is the same bounded self-scorer
      "emb_incremental_dedup", "emb_probe_prune", "emb_ivfsq8_probe_prune",
      // the refined flat search generates its candidate pool through the
      // same intentional brute scorer before the equi-join re-rank
      "emb_topk_int8_refined",
      // the PQ ADC scan is the same deliberate flat scorer (m table
      // lookups per stored row, queries+tables broadcast) feeding the
      // exact re-rank's equi-join; the rotated build shares it (the
      // IVF-PQ siblings join on list_id — equi — and stay linted)
      "emb_topk_pq_refined", "emb_pq_tombstone", "emb_topk_pq_rot",
      // cluster assignment broadcast-cross-scores the tiny SEED set
      // against the corpus by design (nearest-seed argmax; corpus side
      // never shuffles vectors)
      "emb_cluster_sample",
      // negativePairs broadcasts a ONE-ROW count aggregate (N) to every row
      "doc_negative_pairs",
      // l1Drift broadcasts a ONE-ROW totals aggregate over the bin table
      "q_drift_mix",
      // hashedTfidf broadcasts a ONE-ROW corpus-size aggregate (N)
      "doc_tfidf_vectors",
      // NgramLm broadcasts a ONE-ROW total-token aggregate (N)
      "doc_ngram_lm_score", "doc_lm_append", "doc_lm_asof",
      "doc_lm_tombstone",
      // importance weighting broadcasts TWO one-row totals (target + raw)
      "doc_dsir_sample")

  test("all declared queries run and return rows at sf0.001") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // plan lint while we're here: no query may degenerate into a
      // cartesian/nested-loop join — a regression here would pass the
      // small-SF oracle while dying at scale
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"query '$name' plans a CartesianProduct")
      if (!exhaustiveScorers(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"query '$name' plans a BroadcastNestedLoopJoin")
      val n = df.count()
      assert(n > 0, s"query '$name' returned no rows")
    }
  }

  test("oracleSql keys are a subset of queries") {
    val qs = graft.SparkEntry.queries.keySet
    assert(graft.SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}
