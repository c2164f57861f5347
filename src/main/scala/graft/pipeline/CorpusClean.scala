package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analysis.TextMetrics
import graft.dedup.Dedup

/**
 * The canonical pretraining-corpus cleaning pipeline, composed from the
 * engine's text-analysis and dedup operators: language filter → quality
 * filter → normalized exact-dedup (first id wins). One declarative plan —
 * the filters fuse into the scan projection, and the only shuffle is the
 * dedup window on the normalized-content hash.
 *
 * At 100 TB this is the shape that matters: per-row scoring is codegen'd
 * scan-side work, the dedup partitions by content hash (uniform by
 * construction), and the output is a kept-id set that downstream stages
 * join against instead of materializing cleaned text copies.
 */
object CorpusClean {

  /** Clean `docs`: keep rows whose predicted language is in `keepLangs` and
    * whose composite quality ≥ `minQuality`, then keep the smallest id per
    * normalized-content group. Adds `pred_lang` and `m_quality` columns. */
  def clean(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
            minQuality: Double = 0.5,
            keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val langUdf = udf((s: String) => TextMetrics.languageId(s))
    val scored = docs
      .withColumn("pred_lang", langUdf(col(textCol)))
      .withColumn("m_quality", TextMetrics.qualityScore(col(textCol)))
      .filter(col("pred_lang").isin(keepLangs: _*) &&
        col("m_quality") >= minQuality)
    val w = Window.partitionBy(md5(Dedup.normalized(col(textCol))))
      .orderBy(col(idCol))
    scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Reassemble kernel: surviving (pos, unit) structs, already sorted by
    * pos, joined with `sep` — one tight pass, no per-element HOF. */
  private def reassembleUdf(sep: String) = udf { (units: Seq[org.apache.spark.sql.Row]) =>
    if (units == null) ""
    else {
      val sb = new java.lang.StringBuilder(units.length * 32)
      var i = 0
      while (i < units.length) {
        if (i > 0) sb.append(sep)
        sb.append(units(i).getString(1))
        i += 1
      }
      sb.toString
    }
  }

  /**
   * Corpus-level unit dedup with reassembly — the CCNet/Dolma boilerplate-
   * removal shape: a unit (line, paragraph, fixed chunk) appearing in more
   * than `maxDocFreq` DISTINCT documents is boilerplate (nav chrome,
   * license footers, cookie banners) and is dropped from EVERY document;
   * each document is then reassembled from its surviving units in
   * position order. Input is an exploded (id, pos, unit) frame — compose
   * with `split(text, '\n')` + posexplode for real line corpora, or
   * [[Chunking.chunkByTokens]] for fixed windows. Output: (id,
   * clean_text, n_kept, n_dropped); a fully-boilerplate document keeps
   * its row with empty text, so the caller decides its fate.
   *
   * Scale shape: unit doc-frequencies aggregate over md5 hashes (the
   * heavy unit strings never ride the count exchange); the hot set is
   * mathematically bounded by total_units / maxDocFreq and broadcasts
   * into the flagging join, so the corpus side never shuffles for the
   * drop decision; the reassembly groupBy is the one corpus-wide
   * exchange, keyed by document id (uniform).
   *
   * Position values must be unique per document (they order the
   * reassembly); unit strings must not contain `sep` if a later re-split
   * must round-trip.
   */
  def dedupUnits(units: DataFrame, idCol: String, posCol: String,
                 unitCol: String, maxDocFreq: Int, sep: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be at least 1")
    Seq("_uh", "_hot").foreach { r =>
      require(!units.columns.contains(r),
        s"dedupUnits reserves the internal column name $r")
    }
    val hashed = units.select(col(idCol), col(posCol), col(unitCol),
      md5(col(unitCol)).as("_uh"))
    val hot = hashed.groupBy("_uh")
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("_uh"), lit(1).as("_hot"))
    hashed.join(broadcast(hot), Seq("_uh"), "left")
      .groupBy(col(idCol))
      .agg(
        reassembleUdf(sep)(sort_array(collect_list(
          when(col("_hot").isNull,
            struct(col(posCol), col(unitCol)))))).as("clean_text"),
        count(when(col("_hot").isNull, lit(1))).as("n_kept"),
        count(col("_hot")).as("n_dropped"))
  }

  // ------------------------------------------------------ C4 line cleaning

  /** C4 line kernel (one tight pass per document — the per-line HOF
    * alternative evaluates interpreted): keep a line iff its space-trimmed
    * form ends in terminal punctuation (. ! ? "), carries ≥ 3 ws-words,
    * and does not mention "javascript" (ROOT-locale lowercase = SQL
    * `lower` for the Java∩SQL subset). Kept lines are re-joined trimmed.
    * Returns (clean_text, n_kept, n_dropped). */
  /** Pure line predicate — exposed for property tests. */
  private[graft] def c4KeepLine(line: String): Boolean = {
    val tr = graft.analysis.TextMetrics.trimSpaces(line)
    val endOk = tr.nonEmpty && {
      val c = tr.charAt(tr.length - 1)
      c == '.' || c == '!' || c == '?' || c == '"'
    }
    endOk &&
      graft.analysis.TextMetrics.wsTokenArr(tr).length >= 3 &&
      !tr.toLowerCase(java.util.Locale.ROOT).contains("javascript")
  }

  /** Pure document kernel — exposed for property tests. */
  private[graft] def c4CleanString(s: String): (String, Int, Int) = {
    if (s == null) ("", 0, 0)
    else {
      val lines = s.split("\n", -1)
      val sb = new java.lang.StringBuilder(s.length)
      var kept = 0
      var dropped = 0
      var i = 0
      while (i < lines.length) {
        if (c4KeepLine(lines(i))) {
          if (kept > 0) sb.append('\n')
          sb.append(graft.analysis.TextMetrics.trimSpaces(lines(i)))
          kept += 1
        } else dropped += 1
        i += 1
      }
      (sb.toString, kept, dropped)
    }
  }

  private val c4LinesUdf = udf(c4CleanString _)

  /**
   * C4-style cleaning (Raffel et al. 2020 §2.2) — the third published
   * web-filter next to [[graft.analysis.TextMetrics.gopherRules]] and the
   * CCNet-shaped [[clean]]:
   *  - LINE level: keep only lines ending in terminal punctuation with
   *    ≥ 3 words and no "javascript" mention (the famous C4 line rules);
   *  - PAGE level: `page_kept` is false when fewer than `minKeptLines`
   *    lines survive, or the page contains a curly brace (code) or the
   *    phrase "lorem ipsum" (template filler). C4 counts sentences for
   *    its ≥-5 rule; kept lines are the line-structured proxy here.
   * Output: (idCol, clean_text, n_kept, n_dropped, page_kept) — one row
   * per input row; callers filter on `page_kept`. Everything is one
   * codegen'd projection + one per-row kernel: zero shuffles, the 100 TB
   * cost is exactly one read.
   */
  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", minKeptLines: Int = 3): DataFrame = {
    require(!docs.columns.contains("_c4"),
      "c4Clean reserves the internal column name _c4")
    docs
      .select(col(idCol), col(textCol), c4LinesUdf(col(textCol)).as("_c4"))
      .select(col(idCol),
        col("_c4._1").as("clean_text"),
        col("_c4._2").cast("long").as("n_kept"),
        col("_c4._3").cast("long").as("n_dropped"),
        (col("_c4._2") >= minKeptLines &&
          !col(textCol).contains("{") &&
          instr(lower(col(textCol)), "lorem ipsum") === 0).as("page_kept"))
  }
}
