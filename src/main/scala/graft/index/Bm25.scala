package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TopK

/**
 * BM25 lexical relevance scoring — the classic term-based ranking
 * companion to the vector paths in [[SimilarityIndex]] (the reference
 * ranks by vector cosine only; lexical top-k is the extension a search
 * user expects next to it).
 *
 * Scoring uses the log-free Robertson–Spärck-Jones idf variant
 *
 *   idf(t)  = (N - df_t + 0.5) / (df_t + 0.5)
 *   s(q, d) = Σ_{t ∈ q} idf(t) · (tf · (k1+1)) / (tf + k1·(1-b+b·dl/avgdl))
 *
 * deliberately: every operation is +, -, ×, ÷ on IEEE doubles — all
 * correctly rounded — and k1 = 1.25 / b = 0.75 are exact binary
 * fractions, so the same formula computes BIT-IDENTICAL scores on any
 * engine (a `log` differs by ±1 ulp across libm implementations, which
 * would silently break cross-engine reproducibility of a ranking; the
 * RSJ ratio is monotone in df exactly like its log, so rankings match
 * classic BM25 per term). Per-(query, doc) term scores are summed
 * through DECIMAL so summation order cannot matter.
 *
 * Scale shape: postings = one (doc, term) aggregation of the corpus
 * (one shuffle). Queries are an interactive probe set: their distinct
 * terms BROADCAST to the postings scan, per-query-term df broadcasts
 * back, so the corpus-sized posting list is never shuffled by a search;
 * the only post-scan exchanges move (query, doc) hit rows — bounded by
 * docs actually containing query terms — into the decimal sum and the
 * bounded [[TopK.topKPerGroup]] aggregation (never a window funnel).
 * Tokenization is [[Dedup.normalized]], the engine's one canonical
 * normalization, so dedup and search agree on what a term is.
 */
object Bm25 {

  /** k1 and b as EXACT binary fractions — part of the cross-engine
    * bit-parity contract, do not "tune" to inexact decimals. */
  val K1 = 1.25
  val B = 0.75

  /** Posting list (doc_id, term, tf, dl) over normalized tokens; docs
    * normalizing to nothing carry no postings (they can never match). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), Dedup.normalized(col(textCol)).as("_nt"))
      .filter(length(col("_nt")) > 0)
      .select(col("doc_id"), split(col("_nt"), " ").as("_w"))
    base
      .select(col("doc_id"), size(col("_w")).cast("long").as("dl"),
        explode(col("_w")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
  }

  /**
   * Persist a BM25 index (the lexical sibling of `ivfBuild`). Every table
   * is APPEND-ONLY, one `installment=N` partition per build/append — the
   * minhashIndexBuild layout (≙ append-oriented column writes,
   * ColumnWriter.cs:29-70):
   *  - `postings/installment=N/` — (term, doc_id, tf, dl)
   *  - `terms/installment=N/`    — (term, df_t) per-installment document-
   *    frequency DELTAS; a term's true df is sum(df_t) over its delta
   *    rows, resolved at search time for only the terms a query touches
   *  - `stats/installment=N/`    — one (n, sdl) DELTA row: doc count and
   *    total token count as EXACT integers (avgdl is derived by one
   *    double division at search time — identical in any engine)
   * Each table derives from the postings parquet just written — disk
   * materialization, no memory persist, any corpus size.
   */
  def bm25IndexBuild(docs: DataFrame, path: String,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val conf = docs.sparkSession.sparkContext.hadoopConfiguration
    Seq("postings", "terms", "stats").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).delete(p, true)
    }
    writeInstallment(docs, path, 0, idCol, textCol)
    // a rebuild starts a new index generation — drop the previous
    // generation's tombstones or they silently filter the new rows
    graft.store.Tombstones.clear(docs.sparkSession, path)
  }

  /**
   * Fold a new batch of documents into a [[bm25IndexBuild]] index: the
   * batch's postings, df deltas, and (n, sdl) delta are written as the
   * next `installment=` partition. Existing installments are never read
   * or rewritten — appending a 1 GB batch to a 100 TB index costs exactly
   * the batch's work; the global statistics (df, N, avgdl) stay exact
   * because they are SUMS of per-installment integer deltas.
   *
   * Contract: batch ids must be new to the index (a re-appended doc would
   * double-count its df and dl contributions). Appends are sequential —
   * two concurrent appends could claim the same installment number.
   */
  def bm25IndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                      newDocs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val next = graft.store.Installments.next(spark, s"$path/stats")
    writeInstallment(newDocs, path, next, idCol, textCol)
  }

  /**
   * Append at an EXPLICIT installment number — the idempotent form for
   * at-least-once writers (streaming foreachBatch replays): re-running
   * the same (batch, installment) overwrites the same three partition
   * dirs instead of minting a duplicate delta, so retries can never
   * double-count df/N/avgdl. Callers own the numbering discipline
   * (distinct writers must use disjoint ranges; see
   * [[graft.streaming.EventStreams.bm25IngestStream]]).
   *
   * A crash between the installment's three table writes leaves it
   * partially visible to concurrent searches until the retry overwrites
   * it — the same transient-window tolerance as the streaming changelog
   * sink; the final state is exact.
   */
  def bm25IndexAppendAt(spark: org.apache.spark.sql.SparkSession, path: String,
                        newDocs: DataFrame, installment: Int,
                        idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeInstallment(newDocs, path, installment, idCol, textCol)

  /**
   * Tombstone documents out of a [[bm25IndexBuild]] index — the delete
   * half of the installment lifecycle ([[graft.store.Tombstones]]): one
   * id-list append plus NEGATIVE df/stats deltas written as the next
   * installment of `terms/` and `stats/`, derived from the deleted docs'
   * OWN stored postings (a map-side filtered read — delete cost scales
   * with the deleted docs, not the corpus). Because df, N, and Σdl are
   * sums of integer deltas, a post-delete search computes EXACTLY the
   * scores of a fresh build over corpus-minus-deleted — which is what
   * the `doc_bm25_tombstone` oracle pins. Searches drop tombstoned
   * postings map-side ([[graft.store.Tombstones.filter]]); takedown
   * semantics (the set applies to asOf snapshots too, and a snapshot
   * pinned before the delete's delta installment sees post-delete
   * membership with pre-delete statistics — out of contract, the
   * compaction caveat).
   *
   * The LIVE-ids contract is SELF-ENFORCED (r11): ids already tombstoned
   * in an earlier installment are dropped
   * ([[graft.store.Tombstones.liveOnly]]) before the deltas are derived,
   * so a double-delete nets zero df/N/dl deltas instead of
   * double-subtracting. Sequential with appends (shared `stats/`
   * numbering). [[bm25IndexVacuum]] folds the deletion physically.
   * Returns the deletes installment written.
   */
  def bm25IndexDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, idCol: String = "doc_id"): Int =
    bm25IndexDeleteAt(spark, path, ids, idCol,
      graft.store.Installments.next(spark, s"$path/stats"),
      graft.store.Tombstones.nextInstallment(spark, path))

  /** [[bm25IndexDelete]] at EXPLICIT installment numbers — the crash-safe
    * retry form (the `*AppendAt` convention): a delete is THREE writes
    * (negative df deltas, negative stats delta, tombstone list); a crash
    * between them leaves the index transiently inconsistent, and a naive
    * re-run would double-subtract df/N/dl. Retrying at the SAME numbers
    * overwrites every partition instead — fully idempotent. Callers own
    * the numbering ([[bm25IndexDelete]] computes both). */
  def bm25IndexDeleteAt(spark: org.apache.spark.sql.SparkSession, path: String,
                        ids: DataFrame, idCol: String,
                        statsInstallment: Int,
                        deletesInstallment: Int): Int = {
    // SELF-ENFORCED live-ids contract: ids already tombstoned BEFORE this
    // delete's installment contribute nothing — a double-delete subtracts
    // zero instead of silently double-subtracting df/N/dl, while a crash
    // retry at the same numbers (its own partition excluded by the strict
    // `<`) still recomputes its full deltas
    val live = graft.store.Tombstones.liveOnly(spark, path,
      ids.select(col(idCol).as("doc_id")).distinct(), "doc_id",
      deletesInstallment)
    val del = broadcast(live)
    val delPost = spark.read.parquet(s"$path/postings").join(del, Seq("doc_id"))
    delPost.groupBy("term").agg((-count(lit(1))).as("df_t"))
      .write.mode("overwrite")
      .parquet(s"$path/terms/installment=$statsInstallment")
    delPost.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg((-count(lit(1))).as("n"), (-sum("dl")).as("sdl"))
      .write.mode("overwrite")
      .parquet(s"$path/stats/installment=$statsInstallment")
    // tombstone only the live ids — re-deleted ids are already in an
    // earlier installment and would only grow the driver-read set
    graft.store.Tombstones.appendAt(spark, path, live, "doc_id",
      deletesInstallment)
    deletesInstallment
  }

  /**
   * Physical fold of the tombstone set — [[bm25IndexDelete]]'s deferred
   * maintenance: rewrite `postings/` without the tombstoned docs (folded
   * to one `installment=0` partition through
   * [[graft.store.DirSwap.replace]]), fold `terms/`/`stats/` with
   * [[bm25IndexCompact]] (their sums already net out the delete's
   * negative deltas), clear `deletes/` last.
   * Crash-safe by ordering: until the final clear, searches still
   * skip the tombstoned ids, so a partially-folded index reads exactly
   * like an unfolded one and a re-run completes the job. Returns the
   * surviving document count.
   */
  def bm25IndexVacuum(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    val pPath = s"$path/postings"
    val docs = graft.store.DirSwap.replace(spark, pPath) { side =>
      graft.store.Tombstones.filter(spark, path,
          spark.read.parquet(pPath).drop("installment"), "doc_id")
        .write.parquet(s"$side/installment=0")
      spark.read.parquet(side).select("doc_id").distinct().count()
    }
    bm25IndexCompact(spark, path)
    graft.store.Tombstones.clear(spark, path)
    docs
  }

  /**
   * Index maintenance (the minhashIndexCompactSizes analog): fold the
   * per-installment `terms/` df deltas and `stats/` deltas into ONE
   * `installment=0` partition each ([[graft.store.Installments.fold]]),
   * so a searched term resolves from one delta row no matter how many
   * appends have landed; the old and the new table sum to identical
   * totals. `postings/` is left untouched: its rows are already minimal
   * and installment-invariant. Returns the number of distinct terms in
   * the compacted terms table.
   */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
                       path: String): Long = {
    val nTerms = graft.store.Installments.fold(spark, s"$path/terms",
      spark.read.parquet(s"$path/terms")
        .groupBy("term").agg(sum("df_t").as("df_t")))
    graft.store.Installments.fold(spark, s"$path/stats",
      spark.read.parquet(s"$path/stats")
        .agg(sum("n").as("n"), sum("sdl").as("sdl")))
    nTerms
  }

  /** One installment's three tables, each derived from the postings
    * partition just written (disk materialization, no memory persist). */
  private def writeInstallment(docs: DataFrame, path: String, installment: Int,
                               idCol: String, textCol: String): Unit = {
    val spark = docs.sparkSession
    postings(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/postings/installment=$installment")
    val post = spark.read.parquet(s"$path/postings/installment=$installment")
    post.groupBy("term").agg(count(lit(1)).as("df_t"))
      .write.mode("overwrite").parquet(s"$path/terms/installment=$installment")
    post.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
      .write.mode("overwrite").parquet(s"$path/stats/installment=$installment")
  }

  /**
   * Search a persisted [[bm25IndexBuild]] index: query terms broadcast
   * into the postings and terms scans (the corpus-sized tables are read
   * map-side, never shuffled by a search); the only exchanges move
   * (query, doc) hit rows into the decimal sum and the bounded top-k.
   */
  /** `asOfInstallment` pins the search to the index AS OF that
    * installment (partition-pruned `installment <= asOf` reads; zero
    * cost at the full-history default) — a reproducible ranking against
    * a fixed snapshot while appends keep landing. Valid between
    * compactions: [[bm25IndexCompact]] folds delta history into
    * installment 0, after which only the full read is meaningful. */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, k: Int,
                        queryId: String = "query_id",
                        queryText: String = "qtext",
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    def snapshot(df: DataFrame): DataFrame =
      if (asOfInstallment == Int.MaxValue) df
      else df.filter(col("installment") <= asOfInstallment)
    // global stats = sum of per-installment integer deltas (a handful of
    // rows — one per build/append, fewer after bm25IndexCompact).
    // sum over zero postings is SQL null — an empty index must search
    // to an empty result, not an NPE
    val stats = snapshot(spark.read.parquet(s"$path/stats"))
      .agg(sum("n").as("n"), sum("sdl").as("sdl")).head()
    val nDocs = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val sumDl = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val qTerms = queryTerms(queries, queryId, queryText)
    // a touched term's true df = sum of its installment deltas; only
    // (term, df_t) rows for query terms reach the aggregate exchange
    val dfq = snapshot(spark.read.parquet(s"$path/terms"))
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(sum("df_t").as("df_t"))
    // tombstoned docs can no longer score (takedown semantics — applies
    // to snapshots too); df/N/avgdl stay exact through the delete's
    // negative deltas summed above
    val post = graft.store.Tombstones.filter(spark, path,
        snapshot(spark.read.parquet(s"$path/postings")), "doc_id")
      .select("term", "doc_id", "tf", "dl")
    score(post, qTerms, dfq, nDocs, sumDl, k)
  }

  /**
   * Ad-hoc (index-free) top-k BM25: (query_id, doc_id, score, rank),
   * rank 1 = best, ties broken by doc_id ascending (engine-portable).
   * The posting aggregation is computed ONCE (localCheckpoint) and feeds
   * stats, df, and scoring; blocks release with the result
   * (ContextCleaner / [[Dedup.release]]). For corpora beyond block
   * storage — or any search-more-than-once use — build a persisted index
   * with [[bm25IndexBuild]] instead.
   */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               queryId: String = "query_id", queryText: String = "qtext"): DataFrame = {
    val post = postings(docs, idCol, textCol).localCheckpoint()
    val head = post.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("sdl")).head()
    val sumDl = if (head.isNullAt(1)) 0L else head.getLong(1)
    val qTerms = queryTerms(queries, queryId, queryText)
    val dfq = post
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df_t"))
    score(post, qTerms, dfq, head.getLong(0), sumDl, k)
  }

  /** Distinct normalized (query_id, term) pairs. */
  private def queryTerms(queries: DataFrame, queryId: String,
                         queryText: String): DataFrame =
    queries
      .select(col(queryId).as("query_id"),
        Dedup.normalized(col(queryText)).as("_nt"))
      .filter(length(col("_nt")) > 0)
      .select(col("query_id"), explode(split(col("_nt"), " ")).as("term"))
      .distinct()

  /** The shared scoring tail. Every arithmetic step mirrors the oracle
    * SQL token-for-token:
    *   avgdl = sdl / n                            (one double division)
    *   idf   = (N - df + 0.5) / (df + 0.5)
    *   norm  = 0.25 + 0.75 * dl / avgdl           (1 - b + b·dl/avgdl)
    *   ts    = idf * (tf * 2.25) / (tf + 1.25 * norm)
    */
  private def score(post: DataFrame, qTerms: DataFrame, dfq: DataFrame,
                    nDocs: Long, sumDl: Long, k: Int): DataFrame = {
    val avgdl = sumDl.toDouble / nDocs
    val idf = (lit(nDocs) - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5))
    val norm = lit(0.25) + lit(0.75) * col("dl").cast("double") / lit(avgdl)
    val ts = idf * (col("tf") * lit(2.25)) / (col("tf") + lit(1.25) * norm)
    val scored = post
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .withColumn("_ts", ts)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_ts").cast("decimal(28,10)")).as("_sd"))
      .select(col("query_id"), col("doc_id"), col("_sd").cast("double").as("score"))
    TopK.topKPerGroup(scored, "query_id", "doc_id", "score", k)
  }
}
