package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SpanDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def run(docs: org.apache.spark.sql.DataFrame, k: Int) =
    SpanDedup.removeRepeatedSpans(docs, k = k)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  test("cross-document repeated span survives only at its first occurrence") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "intro words the quick brown fox jumps far away"))
      .toDF("doc_id", "text")
    val out = run(docs, k = 4)
    // "the quick brown fox" owned by (1, 0); doc 2's windows
    // ("the quick brown fox" @2, "quick brown fox jumps" @3) both repeat →
    // covered tokens [2, 7) in doc 2, one merged span
    assert(out(0) === ((1L, "the quick brown fox jumps high", 0L, 0L)))
    assert(out(1) === ((2L, "intro words far away", 5L, 1L)))
  }

  test("intra-document self-repeat collapses to the first window") {
    val docs = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    // all four "a a" windows share one hash; owner (1,0); marks 1,2,3 →
    // covered [1,5) → kept token 0 only
    val out = run(docs, k = 2)
    assert(out(0) === ((1L, "a", 4L, 1L)))
  }

  test("no duplicated windows → token-normalized identity") {
    val docs = Seq((1L, "  all unique tokens here  "), (2L, "b c d e"))
      .toDF("doc_id", "text")
    val out = run(docs, k = 3)
    assert(out(0) === ((1L, "all unique tokens here", 0L, 0L)))
    assert(out(1) === ((2L, "b c d e", 0L, 0L)))
  }

  test("disjoint repeats count as separate merged spans") {
    val docs = Seq(
      (1L, "p q r x y z"),
      (2L, "p q r GAP1 GAP2 x y z"))
      .toDF("doc_id", "text")
    val out = run(docs, k = 3)
    // doc 2: "p q r" @0 and "x y z" @5 both owned by doc 1 → two spans
    assert(out(1) === ((2L, "GAP1 GAP2", 6L, 2L)))
  }

  test("document shorter than k is never windowed or marked") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, " ")).toDF("doc_id", "text")
    val out = run(docs, k = 3)
    assert(out.toSeq === Seq((1L, "a b", 0L, 0L), (2L, "a b", 0L, 0L),
      (3L, "", 0L, 0L)))
  }

  test("fully-duplicated document empties but keeps its row") {
    val docs = Seq((1L, "u v w x"), (2L, "u v w x")).toDF("doc_id", "text")
    val out = run(docs, k = 4)
    assert(out(0) === ((1L, "u v w x", 0L, 0L)))
    assert(out(1) === ((2L, "", 4L, 1L)))
  }

  test("duplicated real documents lose their repeated spans") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dup = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(dup)
    val a = SpanDedup.removeRepeatedSpans(corpus, k = 8)
    // the duplicated copies must actually lose their content
    val emptied = a.filter(col("doc_id") >= 500000L && col("n_removed") > 0)
    assert(emptied.count() > 0)
  }

  test("deterministic under repartitioning") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = run(docs, k = 8)
    val b = run(docs.repartition(7), k = 8)
    assert(a.toSeq === b.toSeq)
  }

  test("reserved internal names are guarded; k < 2 rejected") {
    val bad = Seq((1L, "a b", 0)).toDF("doc_id", "text", "_sd_pos")
    intercept[IllegalArgumentException] {
      SpanDedup.removeRepeatedSpans(bad, k = 4)
    }
    val ok = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      SpanDedup.removeRepeatedSpans(ok, k = 1)
    }
  }
}
