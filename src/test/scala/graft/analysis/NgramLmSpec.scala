package graft.analysis

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class NgramLmSpec extends SparkTestBase {
  import spark.implicits._

  private def byId(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("hand-computed self-score on a fixed corpus") {
    // uni: a:3 b:3 c:1 x:1 (N=8); bi: "a b":3 "b a":1 "b c":1
    val docs = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "x"), (4L, " "))
      .toDF("doc_id", "text")
    val out = byId(NgramLm.selfScore(docs))
    // (a,b)=⌊1e6·3/3⌋=1000000  (b,a)=(b,c)=⌊1e6·1/3⌋=333333
    assert(out(0) === ((1L, 4L, 2666666L, 666666L)))
    assert(out(1) === ((2L, 1L, 1000000L, 1000000L)))
    assert(out(2) === ((3L, 0L, 0L, 0L)))  // 1 token → no pairs
    assert(out(3) === ((4L, 0L, 0L, 0L)))  // blank → no pairs
  }

  test("backoff branch: unseen bigram scores 2·Scale·c(w2)/(5·N)") {
    val model = Seq((1L, "a b")).toDF("doc_id", "text") // uni a:1 b:1, N=2
    val uni = NgramLm.unigramCounts(model)
    val bi = NgramLm.bigramCounts(model)
    val tot = NgramLm.totalTokens(model)
    val probe = Seq((10L, "b a"), (11L, "a c")).toDF("doc_id", "text")
    val out = byId(NgramLm.scoreDocs(probe, uni, bi, tot))
    // (b,a): backoff ⌊2e6·1/(5·2)⌋ = 200000 ; (a,c): c unseen → 0
    assert(out(0) === ((10L, 1L, 200000L, 200000L)))
    assert(out(1) === ((11L, 1L, 0L, 0L)))
  }

  test("minCount pruning drops singleton bigrams to the backoff branch") {
    val corpus = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    // bi "a b":2 kept at minCount=2; "b a":1, "b c":1 pruned
    val uni = NgramLm.unigramCounts(corpus, minCount = 2L) // a:2 b:3 kept, c pruned
    val bi = NgramLm.bigramCounts(corpus, minCount = 2L)
    val tot = NgramLm.totalTokens(corpus) // N=6 (pruning-independent)
    val out = byId(NgramLm.scoreDocs(corpus, uni, bi, tot))
    // d1: (a,b)=⌊1e6·2/2⌋=1e6, (b,a) backoff ⌊2e6·2/30⌋=133333, (a,b)=1e6
    assert(out(0) === ((1L, 3L, 2133333L, 711111L)))
    // d2: (b,c) backoff, c pruned → coalesce 0 → 0
    assert(out(1) === ((2L, 1L, 0L, 0L)))
  }

  test("deterministic under repartitioning; avg bounded by Scale") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = byId(NgramLm.selfScore(docs))
    val b = byId(NgramLm.selfScore(docs.repartition(7)))
    assert(a.toSeq === b.toSeq)
    assert(a.length === docs.count())
    // seen-branch ≤ Scale; backoff < Scale — the fixed-point range contract
    assert(a.forall { case (_, _, _, avg) => avg >= 0 && avg <= NgramLm.Scale })
  }

  test("broadcast path plans hash joins, not sort-merge, for the lookups") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = NgramLm.selfScore(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "model lookups must not shuffle the pair stream in broadcast mode")
  }

  test("reserved internal names are guarded") {
    val docs = Seq((1L, "a b", 0L)).toDF("doc_id", "text", "_lm_s")
    intercept[IllegalArgumentException] {
      NgramLm.selfScore(docs)
    }
    // importance-weighting suffixed internals are reserved too
    intercept[IllegalArgumentException] {
      NgramLm.selfScore(Seq((1L, "a b", 0L)).toDF("doc_id", "text", "_lm_cbt"))
    }
  }

  // ------------------------------------------------- importance weighting

  private def m(df: org.apache.spark.sql.DataFrame) =
    (NgramLm.unigramCounts(df), NgramLm.bigramCounts(df), NgramLm.totalTokens(df))

  test("importance separates target-like from raw-like documents exactly") {
    val (ut, bt, tt) = m(Seq((1L, "a b a b")).toDF("doc_id", "text"))
    val (ur, br, tr) = m(Seq((2L, "a c a c")).toDF("doc_id", "text"))
    val probe = Seq((10L, "a b"), (11L, "a c")).toDF("doc_id", "text")
    val out = NgramLm.importanceWeights(probe, ut, bt, tt, ur, br, tr)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // "a b": target seen ⌊1e6·2/2⌋=1e6, raw backoff c_r(b)=0 → 0
    assert(out(0) === ((10L, 1L, 1000000L, 0L, 1000000L)))
    // "a c": symmetric
    assert(out(1) === ((11L, 1L, 0L, 1000000L, -1000000L)))
  }

  test("fused two-model pass equals two composed scoreDocs passes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val target = docs.filter(col("lang") === "en").select("doc_id", "text")
    val corpus = docs.select("doc_id", "text")
    val (ut, bt, tt) = m(target)
    val (ur, br, tr) = m(corpus)
    val fused = NgramLm.importanceWeights(corpus, ut, bt, tt, ur, br, tr)
      .select(col("doc_id"), col("lm_avg_target"), col("lm_avg_raw"))
    val composed = NgramLm.scoreDocs(corpus, ut, bt, tt)
      .select(col("doc_id"), col("lm_avg").as("lm_avg_target"))
      .join(NgramLm.scoreDocs(corpus, ur, br, tr)
        .select(col("doc_id"), col("lm_avg").as("lm_avg_raw")), "doc_id")
    assert(fused.exceptAll(composed).isEmpty && composed.exceptAll(fused).isEmpty)
  }

  test("dsirSelect keeps the top-n by (importance desc, id asc)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val target = docs.filter(col("lang") === "en").select("doc_id", "text")
    val corpus = docs.select("doc_id", "text")
    val sel = NgramLm.dsirSelect(corpus, target, n = 20)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sel.length === 20)
    assert(sel.map(_._3).toList === (1L to 20L).toList)
    // matches a full sort of the weights
    val (ut, bt, tt) = m(target)
    val (ur, br, tr) = m(corpus)
    val full = NgramLm.importanceWeights(corpus, ut, bt, tt, ur, br, tr)
      .orderBy(col("importance").desc, col("doc_id")).limit(20)
      .select("doc_id", "importance").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sel.map(s => (s._1, s._2)).toList === full.toList)
    // en docs must be target-favored on average vs every other language
    val w = NgramLm.importanceWeights(corpus, ut, bt, tt, ur, br, tr)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val avgByLang = w.groupBy("lang").agg(avg("importance").as("ai"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avgByLang("en") > avgByLang.filter(_._1 != "en").values.max)
  }
}
