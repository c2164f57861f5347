package graft.analysis

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Persisted LM count model: append-only installments must score
  * bit-identically to a one-shot build, asOf must pin to a snapshot,
  * compaction must fold without changing results, and minCount must prune
  * SUMMED counts (read-time), never per-installment deltas. */
class NgramLmIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val even = docs.filter(col("doc_id") % 2 === 0)
  private lazy val odd = docs.filter(col("doc_id") % 2 === 1)

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("build+append scores bit-identically to the self-trained model") {
    val path = tmp("lm-append")
    NgramLm.lmIndexBuild(even, path)
    NgramLm.lmIndexAppend(spark, path, odd)
    val indexed = collected(NgramLm.lmScoreIndexed(spark, path, docs))
    val oneShot = collected(NgramLm.selfScore(docs))
    assert(indexed === oneShot)
  }

  test("delete: negative deltas score bit-identically to a fresh build over the remainder") {
    val path = tmp("lm-del")
    NgramLm.lmIndexBuild(docs, path)
    NgramLm.lmIndexDelete(spark, path, odd)
    val afterDelete = collected(NgramLm.lmScoreIndexed(spark, path, docs))
    val freshPath = tmp("lm-del-fresh")
    NgramLm.lmIndexBuild(even, freshPath)
    val fresh = collected(NgramLm.lmScoreIndexed(spark, freshPath, docs))
    assert(afterDelete === fresh)
    // minCount pruning applies to NETTED counts — exercise a threshold
    val prunedDel = collected(
      NgramLm.lmScoreIndexed(spark, path, docs, minCount = 3L))
    val prunedFresh = collected(
      NgramLm.lmScoreIndexed(spark, freshPath, docs, minCount = 3L))
    assert(prunedDel === prunedFresh)
    // compaction folds the negatives physically: fully-deleted tokens
    // leave the uni table, scores unchanged
    NgramLm.lmIndexCompact(spark, path)
    assert(spark.read.parquet(s"$path/uni").filter(col("c") <= 0).isEmpty)
    assert(collected(NgramLm.lmScoreIndexed(spark, path, docs)) === fresh)
  }

  test("double-delete is a self-enforced no-op via the content-hash ledger") {
    val path = tmp("lm-ddel")
    NgramLm.lmIndexBuild(docs, path)
    NgramLm.lmIndexDelete(spark, path, odd)
    val once = collected(NgramLm.lmScoreIndexed(spark, path, docs))
    // re-deleting the SAME documents must subtract nothing more — the md5
    // ledger drops them (the r10 review's contract gap)
    NgramLm.lmIndexDelete(spark, path, odd)
    assert(collected(NgramLm.lmScoreIndexed(spark, path, docs)) === once,
      "re-delete double-subtracted the count model")
    // the totals really didn't move: n_total equals the even-docs total
    val nTotal = spark.read.parquet(s"$path/tot")
      .agg(sum("n_total")).head().getLong(0)
    val evenTotal = NgramLm.totalTokens(even).head().getLong(0)
    assert(nTotal === evenTotal, s"n_total drifted: $nTotal vs $evenTotal")
    // compaction clears the ledger: the text becomes deletable again
    // after a fold re-indexes it (rebuild precedent)
    NgramLm.lmIndexCompact(spark, path)
    assert(!graft.store.Tombstones.any(spark, path),
      "compaction must clear the delete ledger")
  }

  test("asOfInstallment pins scoring to the snapshot model") {
    val path = tmp("lm-asof")
    NgramLm.lmIndexBuild(even, path)
    NgramLm.lmIndexAppend(spark, path, odd)
    val snap = collected(NgramLm.lmScoreIndexed(spark, path, docs,
      asOfInstallment = 0))
    val direct = collected(NgramLm.scoreDocs(docs,
      NgramLm.unigramCounts(even), NgramLm.bigramCounts(even),
      NgramLm.totalTokens(even)))
    assert(snap === direct)
    // and the snapshot really differs from the full model
    assert(snap !== collected(NgramLm.lmScoreIndexed(spark, path, docs)))
  }

  test("compaction folds installments and preserves scores exactly") {
    val path = tmp("lm-compact")
    NgramLm.lmIndexBuild(even, path)
    NgramLm.lmIndexAppend(spark, path, odd)
    val before = collected(NgramLm.lmScoreIndexed(spark, path, docs))
    val vocab = NgramLm.lmIndexCompact(spark, path)
    assert(vocab > 0)
    val after = collected(NgramLm.lmScoreIndexed(spark, path, docs))
    assert(after === before)
    Seq("uni", "bi", "tot").foreach { d =>
      val dirs = new java.io.File(s"$path/$d").listFiles()
        .filter(_.getName.startsWith("installment=")).map(_.getName).toSet
      assert(dirs === Set("installment=0"), s"$d not folded: $dirs")
    }
  }

  test("minCount prunes summed counts, not per-installment deltas") {
    val path = tmp("lm-mincount")
    NgramLm.lmIndexBuild(Seq((1L, "w z")).toDF("doc_id", "text"), path)
    NgramLm.lmIndexAppend(spark, path,
      Seq((2L, "w y")).toDF("doc_id", "text"))
    // c(w) = 1 + 1 = 2 survives minCount = 2 only if pruning is read-time
    // over the SUM; probe "w w": bigram unseen → backoff 2e6·c(w)/(5·N),
    // N = 4 → ⌊2e6·2/20⌋ = 200000
    val probe = Seq((10L, "w w")).toDF("doc_id", "text")
    val out = collected(NgramLm.lmScoreIndexed(spark, path, probe,
      minCount = 2L))
    assert(out === Seq((10L, 1L, 200000L, 200000L)))
  }

  test("append to a half-deleted model fails descriptively") {
    val path = tmp("lm-corrupt")
    NgramLm.lmIndexBuild(Seq((1L, "a b")).toDF("doc_id", "text"), path)
    // simulate half-deletion: tot/ exists but holds no installments
    val tot = new java.io.File(s"$path/tot")
    tot.listFiles().foreach { f =>
      if (f.isDirectory) { f.listFiles().foreach(_.delete()); f.delete() }
      else f.delete()
    }
    val e = intercept[IllegalStateException] {
      NgramLm.lmIndexAppend(spark, path, Seq((2L, "c d")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("no installment"))
  }

  test("empty-model scoring returns zero scores, not nulls or NPEs") {
    val path = tmp("lm-empty")
    NgramLm.lmIndexBuild(spark.emptyDataset[(Long, String)]
      .toDF("doc_id", "text"), path)
    val out = collected(NgramLm.lmScoreIndexed(spark, path,
      Seq((1L, "a b c")).toDF("doc_id", "text")))
    assert(out === Seq((1L, 2L, 0L, 0L)))
  }
}
