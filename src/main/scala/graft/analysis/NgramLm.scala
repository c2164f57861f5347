package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed n-gram language-model quality scoring — the CCNet-style
 * "perplexity filter" stage of a pretraining pipeline (Wenzek et al. 2020
 * filter Common Crawl by a Kneser–Ney LM; Brants et al. 2007's Stupid
 * Backoff is the web-scale simplification this follows), re-expressed with
 * INTEGER-EXACT arithmetic so the score is bit-identical on any engine.
 *
 * Model = bigram + unigram count tables over the [[TextMetrics.wsTokens]]
 * tokenization (the engine's one canonical ws-token rule). Per adjacent
 * token pair (w1, w2) the score is a Stupid-Backoff-shaped plausibility in
 * fixed-point millionths:
 *
 *   seen bigram:  s = ⌊Scale · c(w1 w2) / c(w1)⌋           (≤ Scale)
 *   backoff:      s = ⌊(2·Scale) · c(w2) / (5·N)⌋          (λ = 0.4 = 2/5)
 *
 * with N = total corpus tokens. Every operation is integer multiply /
 * integer divide carried in DECIMAL(38,0) (a BIGINT product Scale·c
 * overflows silently at 10¹³-token corpora — the Drift precedent), so the
 * per-document sum and average are exact BIGINTs: no float sum ordering,
 * no log, nothing correctly-rounded-dependent crosses the engine boundary.
 * A float log-perplexity would rank identically per pair (x ↦ log is
 * monotone) but could not be oracle-checked bit-for-bit.
 *
 * Scale shape: counting is two groupBy aggregations with map-side partial
 * combine; scoring joins the exploded pair stream against the count
 * tables. With `minCount` pruning (CCNet prunes its LM vocabulary the same
 * way) the model is vocabulary-sized and BROADCASTS — the corpus-sized
 * pair stream never shuffles for the lookup, and the only corpus-wide
 * exchange is the per-document re-aggregation keyed by doc id (uniform).
 * N rides a broadcast one-row aggregate (no driver action — the tfidf
 * precedent).
 */
object NgramLm {

  /** Fixed-point denominator: scores are in millionths. */
  val Scale = 1000000L

  private val Reserved = Seq("_lm_p", "_lm_w1", "_lm_w2", "_lm_bg", "_lm_cb",
    "_lm_w1k", "_lm_cu1", "_lm_w2k", "_lm_cu2", "_lm_s", "_lm_n_total",
    "_lm_np", "_lm_sum") ++
    // importance-weighting suffixed variants + its rank/score internals
    Seq("t", "r").flatMap(s => Seq(s"_lm_bg$s", s"_lm_cb$s", s"_lm_w1k$s",
      s"_lm_cu1$s", s"_lm_w2k$s", s"_lm_cu2$s", s"_lm_nt$s", s"_lm_s$s",
      s"_lm_sum$s")) ++ Seq("_lm_g", "_lm_w")

  private def guard(df: DataFrame): Unit = {
    val clash = df.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty, s"input carries reserved column(s): $clash")
  }

  /** Adjacent ws-token pairs in position order — one tight per-row kernel
    * (the round-1 rule: never per-element work in an array HOF). */
  private val pairsUdf = udf { (s: String) =>
    if (s == null) Array.empty[(String, String)]
    else {
      val t = TextMetrics.wsTokenArr(s)
      if (t.length < 2) Array.empty[(String, String)]
      else Array.tabulate(t.length - 1)(i => (t(i), t(i + 1)))
    }
  }

  /** Unigram count table (token, c), pruned to c ≥ minCount. */
  def unigramCounts(docs: DataFrame, textCol: String = "text",
                    minCount: Long = 1L): DataFrame =
    docs.select(explode(TextMetrics.wsTokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)

  /** Bigram count table (bigram, c) keyed by the space-joined pair, pruned
    * to c ≥ minCount. With the SAME minCount as [[unigramCounts]], a kept
    * bigram's prefix unigram is always kept too (c(w1 w2) ≤ c(w1)), so the
    * seen-branch division never meets a null denominator. */
  def bigramCounts(docs: DataFrame, textCol: String = "text",
                   minCount: Long = 1L): DataFrame =
    docs.select(explode(TextMetrics.wsBigramsUdf(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)

  /** Total corpus tokens as a ONE-ROW frame (n_total) — computed from the
    * raw corpus, so it is independent of count pruning. */
  def totalTokens(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.agg(coalesce(sum(TextMetrics.tokenCountWs(col(textCol))), lit(0L))
      .cast("long").as("_lm_n_total"))

  /**
   * Score every document in `docs` against the (uni, bi, total) model:
   * output one row per input row — (idCol, n_pairs, lm_score_sum, lm_avg),
   * all BIGINT. Documents with < 2 tokens score (0, 0, 0); lm_avg is the
   * truncating integer mean ⌊sum / n_pairs⌋ in millionths.
   */
  def scoreDocs(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                total: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    guard(docs)

    val pairs = docs
      .select(col(idCol), explode(pairsUdf(col(textCol))).as("_lm_p"))
      .select(col(idCol), col("_lm_p._1").as("_lm_w1"), col("_lm_p._2").as("_lm_w2"))

    val biK  = broadcast(bi.select(col("bigram").as("_lm_bg"), col("c").as("_lm_cb")))
    val uni1 = broadcast(uni.select(col("token").as("_lm_w1k"), col("c").as("_lm_cu1")))
    val uni2 = broadcast(uni.select(col("token").as("_lm_w2k"), col("c").as("_lm_cu2")))
    val n1   = broadcast(total.select(col(total.columns.head).as("_lm_n_total")))

    val joined = pairs
      .join(biK, concat_ws(" ", col("_lm_w1"), col("_lm_w2")) === col("_lm_bg"), "left")
      .join(uni1, col("_lm_w1") === col("_lm_w1k"), "left")
      .join(uni2, col("_lm_w2") === col("_lm_w2k"), "left")
      .crossJoin(n1)

    // DECIMAL(38,0) integral divide: Spark's `div` truncates toward zero =
    // DuckDB's `//` for the non-negative operands here; result is BIGINT.
    val s = when(col("_lm_cb").isNotNull && col("_lm_cu1").isNotNull,
        expr(s"cast($Scale as decimal(38,0)) * cast(_lm_cb as decimal(38,0))" +
          " div cast(_lm_cu1 as decimal(38,0))"))
      .otherwise(
        // N > 0 guard: an EMPTY model must score 0, not raise ANSI
        // DIVIDE_BY_ZERO (the CASE branch shields the division)
        when(col("_lm_n_total") > 0,
          expr(s"cast(${2 * Scale} as decimal(38,0))" +
            " * cast(coalesce(_lm_cu2, cast(0 as bigint)) as decimal(38,0))" +
            " div (cast(5 as decimal(38,0)) * cast(_lm_n_total as decimal(38,0)))"))
          .otherwise(lit(0L)))

    val perDoc = joined.select(col(idCol), s.as("_lm_s"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("_lm_np"), sum("_lm_s").as("_lm_sum"))

    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lm_np"), lit(0L)).cast("long").as("n_pairs"),
        coalesce(col("_lm_sum"), lit(0L)).cast("long").as("lm_score_sum"),
        when(coalesce(col("_lm_np"), lit(0L)) === 0, lit(0L))
          // coalesce: an EMPTY model zero-divides the backoff to null —
          // such docs score 0, they don't NPE or null out
          .otherwise(coalesce(expr("_lm_sum div _lm_np"), lit(0L)))
          .cast("long").as("lm_avg"))
  }

  // --------------------------------------------------- persisted LM index

  /**
   * Persist the count model as an append-only installment index — the
   * fourth appendable family next to minhash / BM25 / int8, honoring the
   * same three contracts (append-only `installment=N` partitions with
   * delta-summed reads, `asOfInstallment` snapshot scoring, and
   * replay-idempotent streaming ingest via [[lmIndexAppendAt]]):
   *  - `uni/installment=N/` — (token, c) unigram count DELTAS
   *  - `bi/installment=N/`  — (bigram, c) bigram count DELTAS
   *  - `tot/installment=N/` — one (n_total) token-count DELTA row
   * Counts are stored UNPRUNED: a minCount-pruned table would not
   * delta-sum across appends (a token below threshold in two batches can
   * be above it in their union), so pruning is applied at READ time over
   * the summed totals — which commutes with appends, making
   * score-after-append bit-identical to a one-shot build by construction.
   */
  def lmIndexBuild(docs: DataFrame, path: String,
                   textCol: String = "text"): Unit = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    Seq("uni", "bi", "tot").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).delete(p, true)
    }
    // a rebuild starts a new generation — the previous generation's
    // delete LEDGER (the lmIndexDeleteAt double-delete guard) must not
    // block deleting the same text from the new corpus
    graft.store.Tombstones.clear(docs.sparkSession, path)
    writeInstallment(docs, path, 0, textCol)
  }

  /** Fold a new batch in as the next `installment=` partition. Existing
    * installments are never read or rewritten — appending a 1 GB batch to
    * a 100 TB model costs exactly the batch's counting work. Contract:
    * batch docs must be new to the index (a re-appended doc double-counts
    * its tokens); appends are sequential. */
  def lmIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                    newDocs: DataFrame, textCol: String = "text"): Unit = {
    val next = graft.store.Installments.next(spark, s"$path/tot")
    writeInstallment(newDocs, path, next, textCol)
  }

  /** Append at an EXPLICIT installment — the idempotent form for
    * at-least-once writers (streaming foreachBatch replays overwrite
    * their own partition instead of minting a duplicate delta; see
    * [[graft.streaming.EventStreams]]). Callers own the numbering. */
  def lmIndexAppendAt(spark: org.apache.spark.sql.SparkSession, path: String,
                      newDocs: DataFrame, installment: Int,
                      textCol: String = "text"): Unit =
    writeInstallment(newDocs, path, installment, textCol)

  private def writeInstallment(docs: DataFrame, path: String,
                               installment: Int, textCol: String): Unit = {
    unigramCounts(docs, textCol)
      .write.mode("overwrite").parquet(s"$path/uni/installment=$installment")
    bigramCounts(docs, textCol)
      .write.mode("overwrite").parquet(s"$path/bi/installment=$installment")
    totalTokens(docs, textCol)
      .select(col("_lm_n_total").as("n_total"))
      .write.mode("overwrite").parquet(s"$path/tot/installment=$installment")
  }

  /**
   * Delete documents from the model — the delete half of the installment
   * lifecycle, in the index's OWN currency: the count tables store no
   * per-document rows, so a delete is content-addressed — it takes the
   * deleted DOCUMENTS and writes their counts NEGATED as the next
   * installment (the bm25IndexDelete negative-delta precedent, with no
   * tombstone list needed: reads are delta sums, so the netted counts ARE
   * the post-delete model). Because minCount pruning applies to the
   * SUMMED totals at read time, score-after-delete is bit-identical to a
   * fresh build over corpus-minus-deleted, pruning included.
   *
   * Contract: `deletedDocs` must be text previously folded in
   * (build/append/ingest) — deleting UNINDEXED text still
   * double-subtracts (content addressing cannot see what was never
   * counted), but re-deleting ALREADY-DELETED text is now self-enforced
   * to a no-op via the md5 ledger (see [[lmIndexDeleteAt]]).
   * Sequential with appends (shared `tot/` numbering);
   * [[lmIndexCompact]] folds the negative deltas physically. Returns the
   * installment written.
   */
  def lmIndexDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                    deletedDocs: DataFrame, textCol: String = "text"): Int =
    lmIndexDeleteAt(spark, path, deletedDocs,
      graft.store.Installments.next(spark, s"$path/tot"), textCol)

  /** [[lmIndexDelete]] at an EXPLICIT installment — the crash-safe retry
    * form: the delete writes three tables; a crash between them leaves a
    * transiently inconsistent model, and retrying at the SAME number
    * overwrites all three instead of double-subtracting.
    *
    * SELF-ENFORCED delete contract: the index is content-addressed, so
    * the delete keeps a content-hash ledger (md5 of the deleted text) in
    * the [[graft.store.Tombstones]] sidecar — NOT consulted by reads
    * (negative deltas already net the counts out), only by later deletes:
    * a document whose fingerprint appears in a ledger installment BEFORE
    * this one contributes nothing, so a re-delete nets zero instead of
    * double-subtracting, while a crash retry at the same number (its own
    * ledger partition excluded by the strict `<`) still recomputes its
    * full deltas. Caveat of content addressing: a corpus holding N
    * byte-identical copies must delete them in ONE batch (the batch's own
    * internal duplicates all count); a second delete CALL for the same
    * text is treated as the double-delete bug it almost always is.
    * [[lmIndexCompact]] clears the ledger with the physical fold. */
  def lmIndexDeleteAt(spark: org.apache.spark.sql.SparkSession, path: String,
                      deletedDocs: DataFrame, installment: Int,
                      textCol: String = "text"): Int = {
    require(!deletedDocs.columns.contains("_lm_fp"),
      "lmIndexDelete reserves the internal column name _lm_fp")
    val live = graft.store.Tombstones.liveOnly(spark, path,
        deletedDocs.withColumn("_lm_fp", md5(col(textCol))), "_lm_fp",
        installment)
    unigramCounts(live, textCol)
      .select(col("token"), (-col("c")).cast("long").as("c"))
      .write.mode("overwrite").parquet(s"$path/uni/installment=$installment")
    bigramCounts(live, textCol)
      .select(col("bigram"), (-col("c")).cast("long").as("c"))
      .write.mode("overwrite").parquet(s"$path/bi/installment=$installment")
    totalTokens(live, textCol)
      .select((-col("_lm_n_total")).cast("long").as("n_total"))
      .write.mode("overwrite").parquet(s"$path/tot/installment=$installment")
    graft.store.Tombstones.appendAt(spark, path, live, "_lm_fp", installment)
    installment
  }

  /** Maintenance (the bm25IndexCompact analog): fold every table's delta
    * history into ONE `installment=0` partition
    * ([[graft.store.Installments.fold]]) — the old and the new layout sum
    * to identical totals. Returns the compacted vocabulary size. */
  def lmIndexCompact(spark: org.apache.spark.sql.SparkSession,
                     path: String): Long = {
    def fold(table: String, compacted: DataFrame): Long =
      graft.store.Installments.fold(spark, s"$path/$table", compacted)
    val vocab = fold("uni", spark.read.parquet(s"$path/uni")
      .groupBy("token").agg(sum("c").as("c"))
      .filter(col("c") =!= 0)) // fully-deleted tokens fold away physically
    fold("bi", spark.read.parquet(s"$path/bi")
      .groupBy("bigram").agg(sum("c").as("c"))
      .filter(col("c") =!= 0))
    fold("tot", spark.read.parquet(s"$path/tot")
      .agg(sum("n_total").cast("long").as("n_total")))
    // the negative deltas are now folded physically — clear the delete
    // LEDGER last (the shared crash-safe ordering: a re-run of a crashed
    // compaction completes it, and until then the ledger still guards)
    graft.store.Tombstones.clear(spark, path)
    vocab
  }

  /**
   * Score documents against a persisted model: per-key counts resolve as
   * sums of installment deltas, minCount prunes the SUMMED totals, and
   * `asOfInstallment` pins scoring to the model as of that installment
   * (partition-pruned `<=` reads; valid between compactions — the shared
   * snapshot contract). The summed model then broadcasts exactly as in
   * [[scoreDocs]].
   */
  def lmScoreIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", minCount: Long = 1L,
                     asOfInstallment: Int = Int.MaxValue): DataFrame = {
    def snapshot(df: DataFrame): DataFrame =
      if (asOfInstallment == Int.MaxValue) df
      else df.filter(col("installment") <= asOfInstallment)
    val uni = snapshot(spark.read.parquet(s"$path/uni"))
      .groupBy("token").agg(sum("c").as("c")).filter(col("c") >= minCount)
    val bi = snapshot(spark.read.parquet(s"$path/bi"))
      .groupBy("bigram").agg(sum("c").as("c")).filter(col("c") >= minCount)
    // sum over an empty snapshot is SQL null — an empty model must score
    // everything through the zero backoff, not NPE
    val tot = snapshot(spark.read.parquet(s"$path/tot"))
      .agg(coalesce(sum("n_total"), lit(0L)).cast("long").as("n_total"))
    scoreDocs(docs, uni, bi, tot, textCol, idCol)
  }

  /** Self-trained convenience: score `docs` against its own statistics
    * (self-perplexity — the in-distribution baseline a filter threshold is
    * calibrated against; production use trains on a held-out high-quality
    * corpus and passes the tables explicitly). */
  def selfScore(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id", minCount: Long = 1L): DataFrame =
    scoreDocs(docs, unigramCounts(docs, textCol, minCount),
      bigramCounts(docs, textCol, minCount), totalTokens(docs, textCol),
      textCol, idCol)

  // ------------------------------------------------- importance weighting

  /** Branch score with per-model column suffixes — shared by the fused
    * two-model scorer; identical arithmetic to [[scoreDocs]]. */
  private def pairScore(sfx: String): Column =
    when(col(s"_lm_cb$sfx").isNotNull && col(s"_lm_cu1$sfx").isNotNull,
        expr(s"cast($Scale as decimal(38,0)) * cast(_lm_cb$sfx as decimal(38,0))" +
          s" div cast(_lm_cu1$sfx as decimal(38,0))"))
      .otherwise(
        when(col(s"_lm_nt$sfx") > 0,
          expr(s"cast(${2 * Scale} as decimal(38,0))" +
            s" * cast(coalesce(_lm_cu2$sfx, cast(0 as bigint)) as decimal(38,0))" +
            s" div (cast(5 as decimal(38,0)) * cast(_lm_nt$sfx as decimal(38,0)))"))
          .otherwise(lit(0L)))

  /**
   * DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): each document is scored
   * under a TARGET-domain model and a RAW-corpus model, and its importance
   * is the per-pair average score difference — the fixed-point stand-in
   * for DSIR's hashed-n-gram log-likelihood ratio (each per-pair ratio is
   * monotone in the probability exactly like its log; the Bm25 log-free
   * RSJ precedent). All-integer, so weights are bit-portable.
   *
   * Output: (idCol, n_pairs, lm_avg_target, lm_avg_raw, importance =
   * lm_avg_target − lm_avg_raw), all BIGINT; importance > 0 means the
   * document looks more like the target domain than the raw corpus.
   *
   * Fused single pass: the pair stream explodes ONCE and joins both
   * models' (broadcast) count tables — two scoreDocs calls would scan and
   * explode the corpus twice for the same answer.
   */
  def importanceWeights(docs: DataFrame,
                        targetUni: DataFrame, targetBi: DataFrame,
                        targetTot: DataFrame,
                        rawUni: DataFrame, rawBi: DataFrame,
                        rawTot: DataFrame,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    guard(docs)
    def model(uni: DataFrame, bi: DataFrame, tot: DataFrame, sfx: String) = (
      broadcast(bi.select(col("bigram").as(s"_lm_bg$sfx"), col("c").as(s"_lm_cb$sfx"))),
      broadcast(uni.select(col("token").as(s"_lm_w1k$sfx"), col("c").as(s"_lm_cu1$sfx"))),
      broadcast(uni.select(col("token").as(s"_lm_w2k$sfx"), col("c").as(s"_lm_cu2$sfx"))),
      broadcast(tot.select(col(tot.columns.head).as(s"_lm_nt$sfx"))))

    val pairs = docs
      .select(col(idCol), explode(pairsUdf(col(textCol))).as("_lm_p"))
      .select(col(idCol), col("_lm_p._1").as("_lm_w1"), col("_lm_p._2").as("_lm_w2"))
    val (biT, uni1T, uni2T, totT) = model(targetUni, targetBi, targetTot, "t")
    val (biR, uni1R, uni2R, totR) = model(rawUni, rawBi, rawTot, "r")

    val joined = pairs
      .join(biT, concat_ws(" ", col("_lm_w1"), col("_lm_w2")) === col("_lm_bgt"), "left")
      .join(biR, concat_ws(" ", col("_lm_w1"), col("_lm_w2")) === col("_lm_bgr"), "left")
      .join(uni1T, col("_lm_w1") === col("_lm_w1kt"), "left")
      .join(uni1R, col("_lm_w1") === col("_lm_w1kr"), "left")
      .join(uni2T, col("_lm_w2") === col("_lm_w2kt"), "left")
      .join(uni2R, col("_lm_w2") === col("_lm_w2kr"), "left")
      .crossJoin(totT).crossJoin(totR)

    val perDoc = joined
      .select(col(idCol), pairScore("t").as("_lm_st"), pairScore("r").as("_lm_sr"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("_lm_np"),
        sum("_lm_st").as("_lm_sumt"), sum("_lm_sr").as("_lm_sumr"))

    def avg(sumCol: String): Column =
      when(col("_lm_np") === 0, lit(0L))
        .otherwise(coalesce(expr(s"$sumCol div _lm_np"), lit(0L)))

    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_lm_np"), lit(0L)).cast("long").as("n_pairs"),
        coalesce(avg("_lm_sumt"), lit(0L)).cast("long").as("lm_avg_target"),
        coalesce(avg("_lm_sumr"), lit(0L)).cast("long").as("lm_avg_raw"))
      .withColumn("importance", col("lm_avg_target") - col("lm_avg_raw"))
  }

  /**
   * DSIR selection: train the target model on `targetDocs`, the raw model
   * on `docs` itself, weight every document, keep the top `n` by
   * (importance desc, id asc — the engine-portable tie-break). Output
   * (idCol, importance, rank), rank 1 = most target-like. The ranking
   * rides the bounded [[graft.functions.TopK]] aggregator, never a global
   * window. (DSIR proper resamples from exp(weight) with Gumbel noise;
   * deterministic top-n is the reproducible variant — every retry and
   * every engine selects the identical set.)
   */
  def dsirSelect(docs: DataFrame, targetDocs: DataFrame, n: Int,
                 textCol: String = "text", idCol: String = "doc_id",
                 minCount: Long = 1L): DataFrame = {
    val w = importanceWeights(docs,
      unigramCounts(targetDocs, textCol, minCount),
      bigramCounts(targetDocs, textCol, minCount),
      totalTokens(targetDocs, textCol),
      unigramCounts(docs, textCol, minCount),
      bigramCounts(docs, textCol, minCount),
      totalTokens(docs, textCol),
      textCol, idCol)
    // |importance| ≤ Scale = 1e6 ≪ 2^53: the double cast for TopK is exact
    graft.functions.TopK.topKPerGroup(
        w.select(lit(0).as("_lm_g"), col(idCol),
          col("importance").cast("double").as("_lm_w")),
        "_lm_g", idCol, "_lm_w", n)
      .select(col(idCol), col("_lm_w").cast("long").as("importance"),
        col("rank").cast("long").as("rank"))
  }
}
