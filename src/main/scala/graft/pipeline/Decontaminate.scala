package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/**
 * Benchmark decontamination: remove training documents that share word
 * n-grams with a held-out evaluation set — the classic "13-gram overlap"
 * rule of LLM corpus hygiene, generalized over n.
 *
 * Scale shape (the part that matters at 100 TB):
 *
 *  - The benchmark side is small by nature (eval suites are thousands of
 *    documents, not billions), so its distinct n-gram set is BROADCAST —
 *    the 100 TB training side streams through a broadcast semi-join with
 *    no shuffle at all; contamination checking is a map-side filter.
 *    Benchmark sets too large to broadcast go through
 *    [[decontaminateBloom]].
 *  - Shingling reuses [[Dedup.shinglesUdf]] (distinct word n-grams over the
 *    canonical normalization, one tight pass per row) so dedup and
 *    decontamination agree on what an n-gram is.
 *  - Documents that normalize to nothing (e.g. scripts outside the
 *    normalizer's alphabet) produce the empty gram, which would trivially
 *    "contaminate" every such document against any such benchmark doc —
 *    empty grams are dropped on both sides.
 *
 * Reference has no decontamination analog (it indexes, never filters);
 * this extends the training-pipeline family alongside [[Sampling]] and
 * the graft.dedup operators.
 */
object Decontaminate {

  /** Distinct non-empty word n-grams of the benchmark set — one `gram`
    * column, globally distinct, small enough to broadcast. */
  def benchmarkNgrams(benchmark: DataFrame, textCol: String, n: Int): DataFrame =
    benchmark
      .select(explode(Dedup.shinglesUdf(n)(col(textCol))).as("gram"))
      .filter(length(col("gram")) > 0)
      .distinct()

  /**
   * Contaminated document ids with their evidence strength: one row per
   * training document sharing at least one n-gram with the benchmark,
   * with `n_hits` = number of distinct shared n-grams.
   */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        benchmark: DataFrame, n: Int): DataFrame = {
    val grams = broadcast(benchmarkNgrams(benchmark, textCol, n))
    docs
      .select(col(idCol), explode(Dedup.shinglesUdf(n)(col(textCol))).as("gram"))
      .filter(length(col("gram")) > 0)
      .join(grams, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The training set minus contaminated documents — a left-anti join whose
    * build side is ids-only (the doc payload never carries through the
    * gram explode). Join strategy is left to AQE: the hit set is usually
    * tiny (runtime-broadcast), but nothing bounds it by construction. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, n: Int): DataFrame = {
    val hits = contaminationHits(docs, idCol, textCol, benchmark, n)
      .select(idCol)
    docs.join(hits, Seq(idCol), "left_anti")
  }

  /**
   * Bloom-prefiltered decontamination — EXACTLY the same surviving set as
   * [[decontaminate]] (so it shares its deterministic oracle), with the
   * scale shape for benchmark sets too large to broadcast as a hash
   * relation:
   *
   *  - A [[org.apache.spark.util.sketch.BloomFilter]] is built over the
   *    distinct benchmark grams (one aggregate job at call time; the sketch
   *    lands on the driver) and broadcast. At 10⁹ grams and 1% fpp the
   *    sketch is ~1.2 GB — broadcastable where the exact gram relation
   *    (tens of GB hashed) is not.
   *  - The 100 TB corpus gram stream is pruned MAP-SIDE by
   *    `mightContain` before any join: only true hits plus the ~fpp false
   *    positives ever reach an exchange.
   *  - The survivors then exact-confirm against the real gram set (a
   *    shuffled equi-join whose left side is the pruned trickle) — bloom
   *    false positives die here, so the result is exact, not approximate.
   *    No false negatives exist by the sketch's one-sided-error contract.
   *
   * This is Spark's runtime-bloom-filter pattern
   * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) made explicit and
   * composable for a semi-join the optimizer can't see through the gram
   * explode.
   */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, n: Int,
                         fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val grams = benchmarkNgrams(benchmark, textCol, n)
    // two actions over the SMALL benchmark side (count sizes the sketch for
    // the target fpp; the aggregate builds it) — the corpus side stays lazy
    val nGrams = math.max(grams.count(), 1L)
    val sketch = grams.stat.bloomFilter("gram", nGrams, fpp)
    val bc = spark.sparkContext.broadcast(sketch)
    val mightContain = udf { g: String => g != null && bc.value.mightContainString(g) }
    val hitIds = docs
      .select(col(idCol), explode(Dedup.shinglesUdf(n)(col(textCol))).as("gram"))
      .filter(length(col("gram")) > 0)
      .filter(mightContain(col("gram")))
      .join(grams, "gram")
      .select(idCol).distinct()
    docs.join(hitIds, Seq(idCol), "left_anti")
  }
}
