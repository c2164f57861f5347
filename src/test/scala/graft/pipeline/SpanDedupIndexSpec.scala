package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Persisted window index: probing a batch must equal the one-shot
  * remove over corpus ∪ batch (restricted to the batch, corpus ids
  * below batch ids), across appends, snapshots, and compaction. */
class SpanDedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  private lazy val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))
  // truncated copies of every 10th doc — guaranteed shared prefixes
  private lazy val batch = corpus.filter(col("doc_id") % 10 === 0)
    .select((col("doc_id") + 500000L).as("doc_id"),
      expr("substr(text, 1, cast(floor(length(text)*0.8) as int))").as("text"))

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  test("probe equals one-shot removal over corpus ∪ batch, and appends fold in") {
    val path = tmp("span-idx")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    SpanDedup.spanIndexBuild(even, path, k = 8)
    SpanDedup.spanIndexAppend(spark, path, odd)
    val probed = collected(SpanDedup.spanIndexProbe(spark, path, batch))
    val oneShot = collected(
      SpanDedup.removeRepeatedSpans(corpus.unionByName(batch), k = 8)
        .filter(col("doc_id") >= 500000L))
    assert(probed === oneShot)
    // the shared prefixes must actually be removed
    assert(probed.exists(_._3 > 0))
  }

  test("delete: netted window counts probe like a fresh index over the remainder") {
    val path = tmp("span-del")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    SpanDedup.spanIndexBuild(corpus, path, k = 8)
    SpanDedup.spanIndexDelete(spark, path, odd)
    val probed = collected(SpanDedup.spanIndexProbe(spark, path, batch))
    val freshPath = tmp("span-del-fresh")
    SpanDedup.spanIndexBuild(even, freshPath, k = 8)
    val fresh = collected(SpanDedup.spanIndexProbe(spark, freshPath, batch))
    assert(probed === fresh)
    // a window the corpus still holds elsewhere keeps owning: the batch's
    // even-sourced copies (doc_id % 10 == 0 is even) must still be marked
    assert(probed.exists(_._3 > 0))
    // compaction folds the negatives physically and preserves results
    SpanDedup.spanIndexCompact(spark, path)
    assert(spark.read.parquet(s"$path/wins").filter(col("c") <= 0).isEmpty)
    assert(collected(SpanDedup.spanIndexProbe(spark, path, batch)) === fresh)
  }

  test("double-delete is a self-enforced no-op via the content-hash ledger") {
    val path = tmp("span-ddel")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    SpanDedup.spanIndexBuild(corpus, path, k = 8)
    SpanDedup.spanIndexDelete(spark, path, odd)
    val once = collected(SpanDedup.spanIndexProbe(spark, path, batch))
    // re-deleting the same documents must net zero — without the ledger
    // the second negation would drive even-doc window counts negative and
    // stop them owning spans they still hold
    SpanDedup.spanIndexDelete(spark, path, odd)
    assert(collected(SpanDedup.spanIndexProbe(spark, path, batch)) === once,
      "re-delete double-subtracted the window counts")
    val netted = spark.read.parquet(s"$path/wins")
      .groupBy("h").agg(sum("c").as("c")).filter(col("c") < 0)
    assert(netted.isEmpty, "negative netted counts after a re-delete")
    SpanDedup.spanIndexCompact(spark, path)
    assert(!graft.store.Tombstones.any(spark, path),
      "compaction must clear the delete ledger")
  }

  test("asOfInstallment pins the probe to the snapshot hash set") {
    val path = tmp("span-asof")
    val even = corpus.filter(col("doc_id") % 2 === 0)
    SpanDedup.spanIndexBuild(even, path, k = 8)
    SpanDedup.spanIndexAppend(spark, path,
      corpus.filter(col("doc_id") % 2 === 1))
    // a batch derived from ODD docs: the appended installment is what
    // recognizes its prefixes, so the snapshot must differ from the full
    val oddBatch = corpus.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 500000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.8) as int))").as("text"))
    val snap = collected(SpanDedup.spanIndexProbe(spark, path, oddBatch,
      asOfInstallment = 0))
    val evenPath = tmp("span-even")
    SpanDedup.spanIndexBuild(even, evenPath, k = 8)
    assert(snap === collected(SpanDedup.spanIndexProbe(spark, evenPath, oddBatch)))
    assert(snap !== collected(SpanDedup.spanIndexProbe(spark, path, oddBatch)))
  }

  test("compaction folds installments and preserves probe results") {
    val path = tmp("span-compact")
    SpanDedup.spanIndexBuild(corpus.filter(col("doc_id") < 250), path, k = 8)
    SpanDedup.spanIndexAppend(spark, path, corpus.filter(col("doc_id") >= 250))
    val before = collected(SpanDedup.spanIndexProbe(spark, path, batch))
    val n = SpanDedup.spanIndexCompact(spark, path)
    assert(n > 0)
    assert(collected(SpanDedup.spanIndexProbe(spark, path, batch)) === before)
    val dirs = new java.io.File(s"$path/wins").listFiles()
      .filter(_.getName.startsWith("installment=")).map(_.getName).toSet
    assert(dirs === Set("installment=0"))
  }

  test("probe marks batch-internal repeats even when absent from the index") {
    val path = tmp("span-internal")
    SpanDedup.spanIndexBuild(Seq((1L, "nothing shared here at all ok fine yes"))
      .toDF("doc_id", "text"), path, k = 3)
    val b = Seq((10L, "p q r GAP p q r")).toDF("doc_id", "text")
    val out = collected(SpanDedup.spanIndexProbe(spark, path, b))
    // "p q r" @0 owns; @4 marked → covered [4,7)
    assert(out(0) === ((10L, "p q r GAP", 3L, 1L)))
  }

  test("append to a half-deleted index fails descriptively; stored k wins") {
    val path = tmp("span-corrupt")
    SpanDedup.spanIndexBuild(Seq((1L, "a b c d")).toDF("doc_id", "text"),
      path, k = 3)
    val wins = new java.io.File(s"$path/wins")
    wins.listFiles().foreach { f =>
      if (f.isDirectory) { f.listFiles().foreach(_.delete()); f.delete() }
      else f.delete()
    }
    val e = intercept[IllegalStateException] {
      SpanDedup.spanIndexAppend(spark, path,
        Seq((2L, "e f g h")).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("no installment"))
  }
}
