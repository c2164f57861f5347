package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkTestBase {
  import spark.implicits._

  // training corpus: two docs share a 5-gram run with the benchmark, one is
  // vocabulary-disjoint, one normalizes to nothing
  private def trainDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "prefix words then the quick brown fox jumps again"),
    (3L, "completely unrelated vocabulary about parquet shuffles"),
    (4L, "!!! ??? ...")
  ).toDF("doc_id", "text")

  private def benchDocs = Seq(
    Tuple1("the quick brown fox jumps high"),
    Tuple1("###") // normalizes to empty — must not contaminate anything
  ).toDF("text")

  test("benchmarkNgrams is distinct and drops the empty gram") {
    val grams = Decontaminate.benchmarkNgrams(benchDocs, "text", 5)
      .as[String].collect()
    assert(grams.length === grams.distinct.length)
    assert(!grams.contains(""))
    assert(grams.contains("the quick brown fox jumps"))
    // the empty-normalizing benchmark doc contributes nothing
    assert(grams.length === 2, grams.mkString("|"))
  }

  test("contaminationHits finds exactly the overlapping docs with counts") {
    val hits = Decontaminate.contaminationHits(
      trainDocs, "doc_id", "text", benchDocs, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox jumps"; doc 2 shares it too
    assert(hits === Map(1L -> 1L, 2L -> 1L), hits.toString)
  }

  test("empty-normalizing docs never contaminate against empty-gram benchmarks") {
    val hits = Decontaminate.contaminationHits(
      trainDocs.filter(col("doc_id") === 4L), "doc_id", "text",
      benchDocs, n = 5)
    assert(hits.count() === 0)
  }

  test("decontaminate removes hits, keeps schema and everything else") {
    val clean = Decontaminate.decontaminate(
      trainDocs, "doc_id", "text", benchDocs, n = 5)
    assert(clean.schema === trainDocs.schema)
    assert(clean.select("doc_id").as[Long].collect().sorted === Array(3L, 4L))
  }

  test("bloom path returns exactly the exact-join survivors") {
    val exact = Decontaminate.decontaminate(
      trainDocs, "doc_id", "text", benchDocs, n = 5)
      .select("doc_id").as[Long].collect().sorted
    val bloomed = Decontaminate.decontaminateBloom(
      trainDocs, "doc_id", "text", benchDocs, n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(bloomed === exact)
    assert(bloomed === Array(3L, 4L))
  }

  test("bloom sketch has no false negatives over the benchmark grams") {
    val grams = Decontaminate.benchmarkNgrams(benchDocs, "text", 5)
      .as[String].collect()
    val sketch = Decontaminate.benchmarkNgrams(benchDocs, "text", 5)
      .stat.bloomFilter("gram", grams.length.max(1).toLong, 0.01)
    grams.foreach(g => assert(sketch.mightContainString(g), g))
  }

  test("bloom path at sf0.001 agrees with the exact path on real text") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 97 === 0).select("text")
    val exact = Decontaminate.decontaminate(docs, "doc_id", "text", bench, 5)
      .select("doc_id").as[Long].collect().sorted
    val bloomed = Decontaminate.decontaminateBloom(docs, "doc_id", "text", bench, 5)
      .select("doc_id").as[Long].collect().sorted
    assert(bloomed === exact)
  }

  test("declared query agrees with a brute-force recompute at sf0.001") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 97 === 0).select("text")
    val hits = Decontaminate.contaminationHits(docs, "doc_id", "text", bench, 5)
    // every benchmark doc with a non-empty gram set self-contaminates
    val benchIds = docs.filter(col("doc_id") % 97 === 0)
      .filter(length(trim(graft.dedup.Dedup.normalized(col("text")))) > 0)
      .select("doc_id").as[Long].collect().toSet
    val hitIds = hits.select("doc_id").as[Long].collect().toSet
    assert(benchIds.subsetOf(hitIds),
      s"missing self-contamination: ${benchIds.diff(hitIds)}")
  }
}
