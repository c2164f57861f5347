package graft.streaming

import graft.{Ran, SparkTestBase}
import graft.index.{Quantize, SimilarityIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Continuous IVF / IVF-SQ8 ingest over the two-level `list_id/ingest`
  * layout: streamed batches must search identically to batch appends of
  * the same vectors, replays must overwrite their own ingest dirs (codes
  * AND the raw refine sidecar), and list pruning must survive the extra
  * partition level. */
class IvfIngestStreamSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  test("streamed IVF-SQ8 batches search identically to batch appends") {
    implicit val sqlCtx = spark.sqlContext
    val idxPath = java.nio.file.Files.createTempDirectory("ivfsq8-stream")
      .resolve("idx").toString
    val seed = embs.filter($"vec_id" < 50)
    Quantize.ivfSq8Build(seed, idxPath, nlist = 4)

    val b1 = embs.filter($"vec_id" >= 50 && $"vec_id" < 60)
      .as[(Long, Array[Float])].collect().toSeq
    val b2 = embs.filter($"vec_id" >= 60 && $"vec_id" < 70)
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.ivfSq8IngestStream(spark,
      input.toDF().toDF("vec_id", "embedding"), idxPath)().start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val queries = embs.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val streamed = Quantize.ivfSq8Search(spark, idxPath, queries, k = 5,
        nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet

    val batchPath = java.nio.file.Files.createTempDirectory("ivfsq8-batch")
      .resolve("idx").toString
    Quantize.ivfSq8Build(seed, batchPath, nlist = 4)
    // same centroid fit inputs → same centroids is NOT guaranteed across
    // fits; instead append through the same frozen index by copying? No:
    // assert equality through the SAME index path — batch appends onto a
    // THIRD index built identically would only match if k-means fits
    // agree. The robust equality: search results through the streamed
    // index equal a flat int8 scan restricted to the same corpus (every
    // list probed ⇒ IVF == flat at the same scale).
    Quantize.int8Build(seed, batchPath + "_flat")
    Quantize.int8Append(spark, batchPath + "_flat",
      embs.filter($"vec_id" >= 50 && $"vec_id" < 70))
    val flat = Quantize.int8SearchIndexed(spark, batchPath + "_flat",
        queries, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(streamed === flat,
      "full-probe streamed IVF-SQ8 must equal the flat scan over the same corpus")
    assert(streamed.nonEmpty)
  }

  test("IVF-SQ8 replay overwrites its own ingest dirs — codes and raw sidecar") {
    val idxPath = java.nio.file.Files.createTempDirectory("ivfsq8-replay")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" < 50), idxPath, nlist = 4,
      storeRaw = true)
    val batch = embs.filter($"vec_id" >= 50 && $"vec_id" < 60)
    val inst = EventStreams.StreamInstallmentBase
    Quantize.ivfSq8AppendAt(spark, idxPath, batch, inst)
    val codesOnce = spark.read.parquet(s"$idxPath/codes").count()
    val rawOnce = spark.read.parquet(s"$idxPath/raw").count()
    Quantize.ivfSq8AppendAt(spark, idxPath, batch, inst)
    assert(spark.read.parquet(s"$idxPath/codes").count() === codesOnce,
      "replay must not duplicate code rows")
    assert(spark.read.parquet(s"$idxPath/raw").count() === rawOnce,
      "replay must not duplicate raw sidecar rows")
    // lockstep: every appended id is present in both tables exactly once
    assert(rawOnce === codesOnce)
  }

  test("float IVF stream: self-recall after streamed ingest; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val idxPath = java.nio.file.Files.createTempDirectory("ivf-stream")
      .resolve("idx").toString
    SimilarityIndex.ivfBuild(embs.filter($"vec_id" < 50), idxPath,
      nlist = 4)
    val b1 = embs.filter($"vec_id" >= 50 && $"vec_id" < 60)
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.ivfIngestStream(spark,
      input.toDF().toDF("vec_id", "embedding"), idxPath)().start()
    input.addData(b1: _*)
    q.processAllAvailable()
    q.stop()
    // a streamed member probes its own list and finds itself at rank 1
    val queries = embs.filter($"vec_id" >= 50 && $"vec_id" < 54)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = SimilarityIndex.ivfSearchIndexed(spark, idxPath, queries,
        k = 1, nprobe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(top1.length === 4 && top1.forall(r => r._1 === r._2),
      s"streamed vectors must be self-findable: ${top1.toSeq}")
    // replay idempotence on the assignments table
    val inst = EventStreams.StreamInstallmentBase
    val batch = embs.filter($"vec_id" >= 60 && $"vec_id" < 70)
    SimilarityIndex.ivfAppendAt(spark, idxPath, batch, inst + 50)
    val once = spark.read.parquet(s"$idxPath/assignments").count()
    SimilarityIndex.ivfAppendAt(spark, idxPath, batch, inst + 50)
    assert(spark.read.parquet(s"$idxPath/assignments").count() === once)
    // sequential appends still auto-number past the stream's range
    SimilarityIndex.ivfAppend(spark, idxPath,
      embs.filter($"vec_id" >= 70 && $"vec_id" < 75))
    val all = spark.read.parquet(s"$idxPath/assignments")
    assert(all.filter($"vec_id" >= 70 && $"vec_id" < 75).count() === 5)
  }

  test("tombstone ingest: streamed deletes take effect immediately; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val idxPath = java.nio.file.Files.createTempDirectory("int8-del-stream")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" < 50), idxPath)
    val input = MemoryStream[Long]
    val q = EventStreams.tombstoneIngestStream(spark,
      input.toDF().toDF("vec_id"), idxPath)().start()
    input.addData(0L, 1L, 2L)
    q.processAllAvailable()
    input.addData(3L)
    q.processAllAvailable()
    q.stop()
    val queries = embs.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val hits = Quantize.int8SearchIndexed(spark, idxPath, queries, k = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.intersect(Set(0L, 1L, 2L, 3L)).isEmpty,
      s"streamed tombstones leaked into search: $hits")
    // replay idempotence: same batch id, same partition — no bloat
    val inst = EventStreams.StreamInstallmentBase
    Quantize.int8DeleteAt(spark, idxPath, Seq(10L).toDF("vec_id"), inst + 99)
    val once = spark.read.parquet(s"$idxPath/deletes").count()
    Quantize.int8DeleteAt(spark, idxPath, Seq(10L).toDF("vec_id"), inst + 99)
    assert(spark.read.parquet(s"$idxPath/deletes").count() === once)
    // compaction folds and clears; deleted rows stay gone
    Quantize.int8Compact(spark, idxPath)
    assert(!graft.store.Tombstones.any(spark, idxPath))
    val after = Quantize.int8SearchIndexed(spark, idxPath, queries, k = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(after.intersect(Set(0L, 1L, 2L, 3L, 10L)).isEmpty)
  }

  test("IVF-SQ8 dedup ingest: prunes per batch against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    val idxPath = java.nio.file.Files.createTempDirectory("ivfsq8-dedup-stream")
      .resolve("idx").toString
    val seed = embs.filter($"vec_id" < 50)
    Quantize.ivfSq8Build(seed, idxPath, nlist = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Array[Float])].collect().toSeq
    // b1: 5 fresh + 2 exact twins of seed rows (must drop — an exact twin
    // routes to its stored copy's own list, so even nprobe=1 finds it)
    val fresh = rows(embs.filter($"vec_id" >= 50 && $"vec_id" < 55))
    val twins = rows(embs.filter($"vec_id" < 2)
      .select(($"vec_id" + 800L).as("vec_id"), $"embedding"))
    // b2: a twin of a b1 SURVIVOR (must drop — the index grew)
    val b2twin = rows(embs.filter($"vec_id" === 50L)
      .select(lit(950L).as("vec_id"), $"embedding"))
    val b2fresh = rows(embs.filter($"vec_id" === 70L))

    val kept = scala.collection.mutable.Map.empty[Long, Long]
    val input = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.ivfSq8DedupIngestStream(spark,
      input.toDF().toDF("vec_id", "embedding"), idxPath, threshold = 0.98,
      nprobe = 4) { (batchId, n) => kept.synchronized { kept(batchId) = n } }
      .start()
    input.addData((fresh ++ twins): _*)
    q.processAllAvailable()
    input.addData((b2twin ++ b2fresh): _*)
    q.processAllAvailable()
    q.stop()

    assert(kept(0L) === 5L, s"b1: the 5 fresh rows expected, got $kept")
    assert(kept(1L) === 1L, s"b2: only the fresh row expected, got $kept")
    val inst0 = EventStreams.StreamInstallmentBase
    val ids0 = spark.read.parquet(s"$idxPath/codes")
      .filter($"ingest" === inst0).select("vec_id").as[Long].collect().toSet
    assert(ids0 === Set(50L, 51L, 52L, 53L, 54L))
    val ids1 = spark.read.parquet(s"$idxPath/codes")
      .filter($"ingest" === inst0 + 1).select("vec_id").as[Long].collect().toSet
    assert(ids1 === Set(70L))
  }

  test("IVF-SQ8 dedup ingest replay reproduces the same survivors (as-of probe)") {
    val idxPath = java.nio.file.Files.createTempDirectory("ivfsq8-dedup-replay")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" < 50), idxPath, nlist = 4)
    val inst = EventStreams.StreamInstallmentBase
    val batch = embs.filter($"vec_id" >= 50 && $"vec_id" < 55)
      .unionByName(embs.filter($"vec_id" < 2)
        .select(($"vec_id" + 800L).as("vec_id"), $"embedding"))
    // simulate the foreachBatch body twice with the same batchId: the
    // as-of probe must NOT see the first attempt's own ingest dirs
    def attempt(): Set[Long] = {
      val survivors = Quantize.ivfSq8ProbePrune(spark, idxPath, batch, 0.98,
        nprobe = 4, asOfIngest = inst - 1)
      Quantize.ivfSq8AppendAt(spark, idxPath, survivors, inst)
      graft.dedup.Dedup.release(survivors)
      spark.read.parquet(s"$idxPath/codes")
        .filter($"ingest" === inst).select("vec_id").as[Long].collect().toSet
    }
    val first = attempt()
    val replay = attempt()
    assert(first === Set(50L, 51L, 52L, 53L, 54L))
    assert(replay === first, "replay must reproduce, not self-match to empty")
  }

  test("list pruning survives the two-level layout") {
    val idxPath = java.nio.file.Files.createTempDirectory("ivfsq8-prune2")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" < 100), idxPath, nlist = 8)
    val queries = embs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val (_, search) = Ran(spark)(Quantize.ivfSq8Search(spark, idxPath, queries, k = 3,
        nprobe = 2))
    assert(search.prunesLists("codes"),
      s"expected list_id partition pruning through the ingest level: ${search.scans}")
  }
}
