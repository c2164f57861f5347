package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analysis.TextMetrics

/**
 * Cross-document repeated-span removal — the ExactSubstr deduplication of
 * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
 * Better"), re-expressed in token space for a distributed engine. Their
 * suffix array finds character substrings duplicated across the corpus and
 * removes every occurrence but one; this operator does the same for
 * k-token windows: any k-token span appearing more than once in the corpus
 * (across documents OR repeated within one) survives only at its FIRST
 * occurrence in (doc_id, pos) order — every other occurrence's tokens are
 * removed, overlapping removals merging into maximal spans. This is the
 * stage [[CorpusClean.dedupUnits]] cannot do: that drops whole aligned
 * units by document frequency; this removes PARTIALLY-overlapping repeats
 * at arbitrary offsets (the boilerplate-with-a-prefix / template-with-
 * different-fill shape a unit dedup misses).
 *
 * Output is token-normalized: surviving tokens are rejoined with single
 * spaces ([[TextMetrics.wsTokens]] is the engine's canonical rule), so
 * clean_text is deterministic and byte-exact against a SQL oracle.
 *
 * Scale shape: the window stream carries only (doc_id, pos, md5) — the
 * k-token window STRINGS are hashed in the scan projection and never ride
 * an exchange (the dedupUnits precedent). One groupBy on the uniform md5
 * key finds duplicated windows and their first occurrences; that
 * duplicated set (bounded by the corpus's repeated content, typically ≪
 * corpus) broadcasts into the marking join, so the corpus-sized window
 * stream is never shuffled for the ownership decision — its only exchange
 * is the per-document re-aggregation of marked positions (keyed by doc
 * id, uniform; per-doc state bounded by document length).
 */
object SpanDedup {

  private val Reserved = Seq("_sd_pos", "_sd_w", "_sd_h", "_sd_cnt",
    "_sd_own", "_sd_marks", "_sd_out")

  private def guard(df: DataFrame): Unit = {
    val clash = df.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty, s"input carries reserved column(s): $clash")
  }

  /** k-token windows as space-joined strings in position order — one tight
    * per-row kernel (never per-element HOF work). */
  private def windowsUdf(k: Int) = udf { (s: String) =>
    if (s == null) Array.empty[String]
    else {
      val t = TextMetrics.wsTokenArr(s)
      if (t.length < k) Array.empty[String]
      else Array.tabulate(t.length - k + 1) { i =>
        val sb = new java.lang.StringBuilder(k * 8)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(t(i + j)); j += 1 }
        sb.toString
      }
    }
  }

  /** Removal kernel: drop every token covered by a marked window [p, p+k);
    * returns (clean_text, n_removed, n_spans) with overlapping marks merged
    * into maximal spans. Runs over ALL docs (empty marks ⇒ identity in
    * token-normalized form). */
  private def removeUdf(k: Int) = udf { (s: String, marks: Seq[Int]) =>
    removeSpansKernel(s, marks, k)
  }

  /** Pure removal kernel — exposed for property tests. */
  private[graft] def removeSpansKernel(s: String, marks: Seq[Int],
                                       k: Int): (String, Int, Int) = {
    val t = if (s == null) Array.empty[String] else TextMetrics.wsTokenArr(s)
    if (marks == null || marks.isEmpty) (t.mkString(" "), 0, 0)
    else {
      val ps = marks.toArray
      java.util.Arrays.sort(ps)
      // merged span count: equal-length intervals — a mark starts a new
      // span iff it clears the previous mark's cover (gap >= k)
      var spans = 1
      var i = 1
      while (i < ps.length) { if (ps(i) - ps(i - 1) >= k) spans += 1; i += 1 }
      val covered = new Array[Boolean](t.length)
      i = 0
      while (i < ps.length) {
        var j = ps(i); val end = math.min(ps(i) + k, t.length)
        while (j < end) { covered(j) = true; j += 1 }
        i += 1
      }
      val sb = new java.lang.StringBuilder(s.length)
      var kept = 0; var removed = 0
      i = 0
      while (i < t.length) {
        if (covered(i)) removed += 1
        else { if (kept > 0) sb.append(' '); sb.append(t(i)); kept += 1 }
        i += 1
      }
      (sb.toString, removed, spans)
    }
  }

  // ------------------------------------------------ persisted window index

  /**
   * Persist the corpus's k-token window-hash counts as an append-only
   * installment index, so INCOMING batches can be span-deduped against the
   * historical corpus without re-windowing or shuffling it — the
   * [[graft.dedup.Dedup.minhashIndexProbe]] shape for exact substrings,
   * honoring the three appendable-index contracts (delta installments,
   * as-of snapshot probes, replay-idempotent streaming ingest). Layout:
   *  - `wins/installment=N/` — (h, c) window-hash count DELTAS (existence
   *    is what probes need; counts delta-sum so compaction is a fold)
   *  - `meta/` — the window length k, read back by append and probe so
   *    installments can never disagree.
   */
  def spanIndexBuild(docs: DataFrame, path: String, textCol: String = "text",
                     idCol: String = "doc_id", k: Int = 8): Unit = {
    guard(docs)
    require(k >= 2, s"window length k must be >= 2, got $k")
    val spark = docs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("wins", "meta").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).delete(p, true)
    }
    // rebuild = new generation: the previous delete LEDGER must not block
    // deleting the same text from the new corpus
    graft.store.Tombstones.clear(spark, path)
    writeWinsInstallment(docs, path, 0, textCol, idCol, k)
    spark.createDataFrame(Seq(Tuple1(k))).toDF("k")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Fold a new batch's window counts in as the next installment (stored
    * installments never read or rewritten; the STORED k applies). Batch
    * docs must be new to the index; appends are sequential. */
  def spanIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                      newDocs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): Unit = {
    val k = spark.read.parquet(s"$path/meta").head().getInt(0)
    val next = graft.store.Installments.next(spark, s"$path/wins")
    writeWinsInstallment(newDocs, path, next, textCol, idCol, k)
  }

  /** Append at an EXPLICIT installment — the idempotent form for
    * at-least-once streaming writers (see
    * [[graft.streaming.EventStreams]]); callers own the numbering. */
  def spanIndexAppendAt(spark: org.apache.spark.sql.SparkSession, path: String,
                        newDocs: DataFrame, installment: Int,
                        textCol: String = "text",
                        idCol: String = "doc_id"): Unit = {
    val k = spark.read.parquet(s"$path/meta").head().getInt(0)
    writeWinsInstallment(newDocs, path, installment, textCol, idCol, k)
  }

  private def writeWinsInstallment(docs: DataFrame, path: String,
                                   installment: Int, textCol: String,
                                   idCol: String, k: Int): Unit =
    docs
      .select(posexplode(windowsUdf(k)(col(textCol))).as(Seq("_sd_pos", "_sd_w")))
      .select(md5(col("_sd_w")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$path/wins/installment=$installment")

  /**
   * Delete documents from the window index — content-addressed, like
   * [[graft.analysis.NgramLm.lmIndexDelete]]: the index stores only
   * (window-hash, count) deltas, so a delete takes the deleted DOCUMENTS
   * and writes their window counts NEGATED as the next installment. The
   * probe resolves existence as `sum(c) > 0` per touched hash, so a
   * window whose every occurrence was deleted stops owning spans exactly
   * as in a fresh index over corpus-minus-deleted; a window the corpus
   * still holds elsewhere keeps owning (its netted count stays > 0).
   *
   * Contract: `deletedDocs` must be text previously folded in — deleting
   * UNINDEXED text still double-subtracts (content addressing cannot see
   * what was never counted), but re-deleting already-deleted text is
   * self-enforced to a no-op via the md5 ledger ([[spanIndexDeleteAt]]).
   * Sequential with appends; [[spanIndexCompact]] folds the negatives
   * physically. Returns the installment written.
   */
  def spanIndexDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                      deletedDocs: DataFrame,
                      textCol: String = "text"): Int =
    spanIndexDeleteAt(spark, path, deletedDocs,
      graft.store.Installments.next(spark, s"$path/wins"), textCol)

  /** [[spanIndexDelete]] at an EXPLICIT installment — the crash-safe
    * retry form (one table, but retries must still overwrite rather than
    * mint a second negative delta).
    *
    * SELF-ENFORCED delete contract (the lmIndexDeleteAt ledger): deleted
    * text is fingerprinted (md5) into the [[graft.store.Tombstones]]
    * sidecar — consulted only by LATER deletes, never by probes (the
    * netted counts are the post-delete index): a re-deleted document
    * contributes nothing, a crash retry at the same number (its own
    * ledger partition excluded by the strict `<`) recomputes its full
    * deltas. Byte-identical copies must be deleted in ONE batch;
    * [[spanIndexCompact]] clears the ledger with the physical fold. */
  def spanIndexDeleteAt(spark: org.apache.spark.sql.SparkSession,
                        path: String, deletedDocs: DataFrame,
                        installment: Int, textCol: String = "text"): Int = {
    guard(deletedDocs)
    require(!deletedDocs.columns.contains("_sd_fp"),
      "spanIndexDelete reserves the internal column name _sd_fp")
    val k = spark.read.parquet(s"$path/meta").head().getInt(0)
    val live = graft.store.Tombstones.liveOnly(spark, path,
      deletedDocs.withColumn("_sd_fp", md5(col(textCol))), "_sd_fp",
      installment)
    live
      .select(posexplode(windowsUdf(k)(col(textCol))).as(Seq("_sd_pos", "_sd_w")))
      .select(md5(col("_sd_w")).as("h"))
      .groupBy("h").agg((-count(lit(1))).as("c"))
      .write.mode("overwrite").parquet(s"$path/wins/installment=$installment")
    graft.store.Tombstones.appendAt(spark, path, live, "_sd_fp", installment)
    installment
  }

  /** Maintenance: fold the per-installment count deltas into ONE
    * `installment=0` partition via a side-dir materialization +
    * delete+rename swap (a concurrent probe sees old or new, identical
    * hash sets). Returns the distinct-window count. */
  def spanIndexCompact(spark: org.apache.spark.sql.SparkSession,
                       path: String): Long = {
    import org.apache.hadoop.fs.Path
    val out = new Path(s"$path/wins")
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$path/wins._compacting")
    spark.read.parquet(s"$path/wins").groupBy("h").agg(sum("c").as("c"))
      .filter(col("c") =!= 0) // fully-deleted windows fold away physically
      .write.mode("overwrite").parquet(new Path(tmp, "installment=0").toString)
    val rows = spark.read.parquet(tmp.toString).count()
    if (!fs.delete(out, true) || !fs.rename(tmp, out))
      throw new java.io.IOException(s"compaction swap failed for $path/wins")
    spark.catalog.refreshByPath(out.toString)
    // deltas folded physically — clear the delete ledger LAST (the shared
    // crash-safe ordering)
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  /**
   * Span-dedup an incoming batch against the index: a batch span is
   * removed if its window exists in the STORED corpus (stored always
   * owns) or repeats an earlier batch-internal occurrence — with corpus
   * ids below batch ids this equals [[removeRepeatedSpans]] over
   * corpus ∪ batch restricted to the batch (the probe == one-shot
   * contract). Output schema matches [[removeRepeatedSpans]].
   *
   * Plan: the batch's distinct window hashes broadcast into the stored
   * scan, which is filtered MAP-SIDE — the corpus-sized index is never
   * shuffled by a probe, and the returned hit set is bounded by the
   * batch's window count before broadcasting back into the marking join.
   * `asOfInstallment` pins the probe to the index as of that installment
   * (partition-pruned; valid between compactions).
   */
  def spanIndexProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id",
                     asOfInstallment: Int = Int.MaxValue): DataFrame = {
    guard(batch)
    val k = spark.read.parquet(s"$path/meta").head().getInt(0)
    def snapshot(df: DataFrame): DataFrame =
      if (asOfInstallment == Int.MaxValue) df
      else df.filter(col("installment") <= asOfInstallment)

    val wins = batch
      .select(col(idCol), posexplode(windowsUdf(k)(col(textCol)))
        .as(Seq("_sd_pos", "_sd_w")))
      .select(col(idCol), col("_sd_pos"), md5(col("_sd_w")).as("_sd_h"))

    // stored hashes the batch touches — the stored scan is filtered
    // map-side against the broadcast batch-hash set, then each touched
    // hash's delta rows NET (sum over installments — a deleted window's
    // negatives cancel its original counts, so existence is sum > 0);
    // the aggregate exchange is bounded by the batch's window count
    val storedHits = snapshot(spark.read.parquet(s"$path/wins"))
      .select(col("h").as("_sd_h"), col("c"))
      .join(broadcast(wins.select(col("_sd_h")).distinct()), Seq("_sd_h"), "left_semi")
      .groupBy("_sd_h").agg(sum(col("c")).as("_sd_netc"))
      .filter(col("_sd_netc") > 0)
      .select(col("_sd_h"))

    val internal = wins.groupBy("_sd_h")
      .agg(count(lit(1)).as("_sd_cnt"),
        min(struct(col(idCol), col("_sd_pos"))).as("_sd_own"))
      .filter(col("_sd_cnt") >= 2)
      .select(col("_sd_h"), col("_sd_own"))

    val markedStored = wins.join(broadcast(storedHits), Seq("_sd_h"), "left_semi")
      .select(col(idCol), col("_sd_pos"))
    val markedInternal = wins.join(broadcast(internal), "_sd_h")
      .filter(!(col("_sd_own")(idCol) === col(idCol) &&
        col("_sd_own")("_sd_pos") === col("_sd_pos")))
      .select(col(idCol), col("_sd_pos"))
    val marked = markedStored.unionByName(markedInternal).distinct()
      .groupBy(idCol)
      .agg(collect_list(col("_sd_pos")).as("_sd_marks"))

    batch.select(col(idCol), col(textCol))
      .join(marked, Seq(idCol), "left")
      .select(col(idCol),
        removeUdf(k)(col(textCol), col("_sd_marks")).as("_sd_out"))
      .select(col(idCol),
        col("_sd_out._1").as("clean_text"),
        col("_sd_out._2").cast("long").as("n_removed"),
        col("_sd_out._3").cast("long").as("n_spans"))
  }

  /**
   * Remove all-but-first occurrences of every duplicated k-token window.
   * Output: one row per input row — (idCol, clean_text, n_removed,
   * n_spans); n_removed counts removed tokens, n_spans the maximal merged
   * spans. Documents with < k tokens are never marked; clean_text is
   * always the token-normalized (single-space-rejoined) form.
   */
  def removeRepeatedSpans(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id", k: Int = 8): DataFrame = {
    guard(docs)
    require(k >= 2, s"window length k must be >= 2, got $k")

    // (id, pos, h) — md5 projected BEFORE any exchange
    val wins = docs
      .select(col(idCol), posexplode(windowsUdf(k)(col(textCol)))
        .as(Seq("_sd_pos", "_sd_w")))
      .select(col(idCol), col("_sd_pos"), md5(col("_sd_w")).as("_sd_h"))

    // duplicated windows with their first (doc_id, pos) occurrence
    val dups = wins.groupBy("_sd_h")
      .agg(count(lit(1)).as("_sd_cnt"),
        min(struct(col(idCol), col("_sd_pos"))).as("_sd_own"))
      .filter(col("_sd_cnt") >= 2)
      .select(col("_sd_h"), col("_sd_own"))

    // non-owner occurrences of duplicated windows
    val marked = wins.join(broadcast(dups), "_sd_h")
      .filter(!(col("_sd_own")(idCol) === col(idCol) &&
        col("_sd_own")("_sd_pos") === col("_sd_pos")))
      .groupBy(idCol)
      .agg(collect_list(col("_sd_pos")).as("_sd_marks"))

    docs.select(col(idCol), col(textCol))
      .join(marked, Seq(idCol), "left")
      .select(col(idCol),
        removeUdf(k)(col(textCol), col("_sd_marks")).as("_sd_out"))
      .select(col(idCol),
        col("_sd_out._1").as("clean_text"),
        col("_sd_out._2").cast("long").as("n_removed"),
        col("_sd_out._3").cast("long").as("n_spans"))
  }
}
