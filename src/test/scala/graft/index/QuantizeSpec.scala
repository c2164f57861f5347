package graft.index

import graft.{Ran, SparkTestBase}
import org.apache.spark.sql.functions._

class QuantizeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  test("pack/unpack is the identity on int8 codes") {
    val scale = Quantize.maxAbs(embs, "embedding") / 127.0
    val codes = embs.limit(50)
      .select($"vec_id", Quantize.codesUdf(scale)($"embedding").as("c"))
    val roundTrip = codes.select($"vec_id",
      Quantize.unpackCodesUdf(Quantize.packCodesUdf($"c")).as("c2"), $"c")
    assert(roundTrip.filter($"c" =!= $"c2").isEmpty)
    // every code must actually fit a signed byte
    val bounds = codes.select(explode($"c").as("x"))
      .agg(min("x"), max("x")).head()
    assert(bounds.getInt(0) >= -127 && bounds.getInt(1) <= 127)
  }

  test("reconstruction error is bounded by scale/2 per component") {
    val scale = Quantize.maxAbs(embs, "embedding") / 127.0
    val err = udf { (v: Seq[Float], c: Seq[Int]) =>
      v.zip(c).map { case (x, q) => math.abs(x.toDouble - q * scale) }.max
    }
    val worst = embs
      .select(err($"embedding", Quantize.codesUdf(scale)($"embedding")).as("e"))
      .agg(max("e")).head().getDouble(0)
    assert(worst <= scale / 2 + 1e-12, s"worst reconstruction error $worst > ${scale / 2}")
  }

  test("a corpus-member query returns itself at rank 1") {
    val scale = Quantize.maxAbs(embs, "embedding") / 127.0
    val q = embs.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = Quantize.int8TopK(embs, q, k = 1, scale)
      .as[(Long, Long, Double, Int)].collect()
    assert(top1.length === 4)
    assert(top1.forall(r => r._1 === r._2), s"self not top-1: ${top1.toSeq}")
  }

  test("quantized top-5 recovers most of the float top-5 (recall contract)") {
    val scale = Quantize.maxAbs(embs, "embedding") / 127.0
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val quant = Quantize.int8TopK(embs, q, k = 5, scale)
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
    val report = SimilarityIndex.approxRecallReport(quant, exact, recallFloor = 3)
      .as[(Long, Long, Boolean)].collect()
    assert(report.length === 8)
    assert(report.forall(_._3), s"int8 recall collapsed: ${report.toSeq}")
  }

  test("search through a two-installment index equals the one-shot scan") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-idx")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" % 2 === 0), path)
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 2 === 1))
    val indexed = Quantize.int8SearchIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet

    val scale = spark.read.parquet(s"$path/meta").head().getDouble(0)
    val direct = Quantize.int8TopK(embs, q, k = 5, scale)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(indexed === direct)
    assert(indexed.nonEmpty)
  }

  test("asOfInstallment pins a search to the pre-append snapshot") {
    val q = embs.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-snap")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" % 2 === 0), path)
    val buildOnly = Quantize.int8SearchIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 2 === 1))
    val snap = Quantize.int8SearchIndexed(spark, path, q, k = 5,
      asOfInstallment = 0)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(snap === buildOnly)
    val full = Quantize.int8SearchIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full !== snap, "appended vectors must be visible to the full read")
  }

  test("IVF-SQ8: self-recall, append parity, and partition-pruned probes") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs, path, nlist = 8)
    val (hits, search) = Ran(spark)(Quantize.ivfSq8Search(spark, path, q, k = 5, nprobe = 4))
    val top1 = hits.filter($"rank" === 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(top1.length === 8)
    assert(top1.forall(r => r._1 === r._2), s"self not top-1: ${top1.toSeq}")

    // the code scan the search ran prunes to the probed list partitions
    assert(search.prunesLists("codes"), s"expected list_id partition pruning in ${search.scans}")

    // append against frozen centroids+scale == one-shot build
    val appPath = java.nio.file.Files.createTempDirectory("ivfsq8-app")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" % 2 === 0), appPath,
      nlist = 8)
    Quantize.ivfSq8Append(spark, appPath, embs.filter($"vec_id" % 2 === 1))
    val appended = Quantize.ivfSq8Search(spark, appPath, q, k = 1, nprobe = 8)
      .filter($"rank" === 1).as[(Long, Long, Double, Int)].collect()
    assert(appended.length === 8)
    assert(appended.forall(r => r._1 === r._2),
      s"appended member must still self-match: ${appended.toSeq}")
  }

  test("zero vectors are excluded, not NaN-ranked") {
    val withZero = embs.limit(20).unionByName(
      Seq((999999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val scale = Quantize.maxAbs(withZero, "embedding") / 127.0
    val q = Seq((999999L, Array.fill(64)(0.0f)), (0L, Array.fill(64)(0.1f)))
      .toDF("query_id", "query_vec")
    val got = Quantize.int8TopK(withZero, q, k = 3, scale)
      .as[(Long, Long, Double, Int)].collect()
    assert(!got.exists(_._1 === 999999L), "zero-norm query must drop out")
    assert(got.forall(r => !r._3.isNaN && r._2 != 999999L))
  }

  test("null embedding rows drop out of search like zero-norm rows") {
    val withNull = embs.limit(20).unionByName(
      Seq((888888L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val scale = Quantize.maxAbs(embs.limit(20), "embedding") / 127.0
    val q = embs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val got = Quantize.int8TopK(withNull, q, k = 25, scale)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    assert(!got.exists(_._2 === 888888L), "null-embedding row must drop out")
    assert(got.forall(r => !r._3.isNaN))
  }

  test("an all-zero (scale 0) corpus fails fast instead of minting garbage codes") {
    val e = intercept[IllegalArgumentException] {
      Quantize.codesUdf(0.0)
    }
    assert(e.getMessage.contains("scale"))
    val zeros = Seq((1L, Array.fill(8)(0.0f)), (2L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("int8-zero")
      .resolve("idx").toString
    val e2 = intercept[IllegalArgumentException] {
      Quantize.int8Build(zeros, path)
    }
    assert(e2.getMessage.contains("all-zero or empty"))
  }

  test("append into an empty codes listing fails with a corruption message") {
    val path = java.nio.file.Files.createTempDirectory("int8-empty")
      .resolve("idx").toString
    Quantize.int8Build(embs.limit(10), path)
    // simulate a half-deleted index: codes/ exists but has no installments
    val codesDir = new java.io.File(s"$path/codes")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete()
    }
    Option(codesDir.listFiles()).foreach(_.foreach(wipe))
    assert(codesDir.exists() && codesDir.listFiles().isEmpty)
    val e = intercept[IllegalStateException] {
      Quantize.int8Append(spark, path, embs.filter($"vec_id" < 5))
    }
    assert(e.getMessage.contains("no installment= partitions"))
  }

  test("ivfSq8Compact: identical search results, fewer files, scale/centroids intact") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-compact")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" % 2 === 0), path,
      nlist = 4)
    // several small appends -> many small files per list partition
    (1 to 3).foreach { r =>
      Quantize.ivfSq8Append(spark, path,
        embs.filter($"vec_id" % 6 === (2 * r - 1) % 6))
    }
    def parquetFiles(dir: String): Int = {
      val base = java.nio.file.Paths.get(dir)
      val it = java.nio.file.Files.walk(base)
      try it.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    val before = Quantize.ivfSq8Search(spark, path, q, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    val filesBefore = parquetFiles(s"$path/codes")
    val scaleBefore = spark.read.parquet(s"$path/meta").head().getDouble(0)
    val rows = Quantize.ivfSq8Compact(spark, path)
    assert(rows > 0)
    val after = Quantize.ivfSq8Search(spark, path, q, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(after === before, "compaction must not change search results")
    val filesAfter = parquetFiles(s"$path/codes")
    assert(filesAfter < filesBefore,
      s"expected fewer files after compaction: $filesBefore -> $filesAfter")
    assert(spark.read.parquet(s"$path/meta").head().getDouble(0) === scaleBefore)
  }

  test("refined search recovers the exact float top-k when probes cover the corpus") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-refined")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs, path, nlist = 8, storeRaw = true)
    // probe everything: the candidate pool then certainly contains the
    // float top-5 (int8 error cannot push a true neighbor below rank 32
    // of 500), so refinement must return EXACTLY the brute-force answer
    val refined = Quantize.ivfSq8SearchRefined(spark, path, q, k = 5,
      candidateK = 32, nprobe = 8)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(refined === exact,
      s"refined top-5 diverged from exact float top-5: ${refined.diff(exact)}")
  }

  test("refined search: raw sidecar follows appends and compaction, plan prunes lists") {
    val q = embs.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-refined-app")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.filter($"vec_id" % 2 === 0), path,
      nlist = 8, storeRaw = true)
    Quantize.ivfSq8Append(spark, path, embs.filter($"vec_id" % 2 === 1))
    val appended = Quantize.ivfSq8SearchRefined(spark, path, q, k = 5,
      candidateK = 32, nprobe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    // odd-id vectors entered through the append — they must be visible
    // to the refine pass (raw/ kept in lockstep with codes/)
    assert(appended.exists(r => r._2 % 2 === 1),
      s"appended vectors invisible to refined search: ${appended.toSeq}")
    Quantize.ivfSq8Compact(spark, path)
    val compacted = Quantize.ivfSq8SearchRefined(spark, path, q, k = 5,
      candidateK = 32, nprobe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(compacted === appended, "compaction must not change refined results")

    // a narrow probe still prunes both scans to probed list partitions
    val (narrow, search) = Ran(spark)(Quantize.ivfSq8SearchRefined(spark, path, q, k = 3,
      candidateK = 8, nprobe = 2))
    assert(search.prunesLists("codes") && search.prunesLists("raw"),
      s"expected list_id partition pruning on codes/ and raw/ in ${search.scans}")
    assert(!search.windows, s"refined ranking must not use a window: ${search.plans}")
    val top1 = narrow.filter($"rank" === 1).as[(Long, Long, Double, Int)].collect()
    assert(top1.length === 4 && top1.forall(r => r._1 === r._2),
      s"self not top-1 under narrow probes: ${top1.toSeq}")
  }

  test("flat-index refine equals the exact float top-k through a two-installment index") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-refine")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" % 2 === 0), path)
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 2 === 1))
    val refined = Quantize.int8SearchRefined(spark, path, q, embs, k = 5,
      candidateK = 64)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(refined === exact,
      s"flat refine diverged from exact float top-5: ${refined.diff(exact)}")
    // the float corpus is filtered to the pool ids, never ranked through a window
    val (_, refine) = Ran(spark)(Quantize.int8SearchRefined(spark, path, q, embs, k = 5,
      candidateK = 64))
    assert(!refine.windows, s"refine must not rank via window: ${refine.plans}")
  }

  test("flat refine respects asOfInstallment on the candidate read") {
    // queries are the odd ids that live ONLY in installment 1: pinned to
    // installment 0 their twin codes are pruned away, so the refined
    // top-1 cannot be the self-hit the full read returns
    val q = embs.filter($"vec_id".isin(1L, 3L, 5L))
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-refine-asof")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" % 2 === 0), path)
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 2 === 1))
    val full = Quantize.int8SearchRefined(spark, path, q, embs, k = 1,
      candidateK = 8)
      .filter($"rank" === 1).as[(Long, Long, Double, Int)].collect()
    assert(full.forall(r => r._1 === r._2), s"full read must self-match: ${full.toSeq}")
    val snap = Quantize.int8SearchRefined(spark, path, q,
      embs.filter($"vec_id" % 2 === 0), k = 1, candidateK = 8,
      asOfInstallment = 0)
      .filter($"rank" === 1).as[(Long, Long, Double, Int)].collect()
    assert(snap.length === 3)
    assert(snap.forall(r => r._2 % 2 === 0),
      s"snapshot candidates must come from installment 0 only: ${snap.toSeq}")
  }

  test("refined searches reject candidateK < k") {
    val q = embs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-refine-k")
      .resolve("idx").toString
    Quantize.int8Build(embs.limit(20), path)
    val e = intercept[IllegalArgumentException] {
      Quantize.int8SearchRefined(spark, path, q, embs, k = 5, candidateK = 3)
    }
    assert(e.getMessage.contains("candidateK"))
  }

  test("refined search without a raw sidecar fails fast") {
    val q = embs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-noraw")
      .resolve("idx").toString
    Quantize.ivfSq8Build(embs.limit(50), path, nlist = 4)
    val e = intercept[IllegalArgumentException] {
      Quantize.ivfSq8SearchRefined(spark, path, q, k = 3)
    }
    assert(e.getMessage.contains("storeRaw"))
  }

  test("int8Compact folds installments to one dir with bit-identical results") {
    val q = embs.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val path = java.nio.file.Files.createTempDirectory("int8-compact")
      .resolve("idx").toString
    Quantize.int8Build(embs.filter($"vec_id" % 3 === 0), path)
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 3 === 1))
    Quantize.int8Append(spark, path, embs.filter($"vec_id" % 3 === 2))
    val before = Quantize.int8SearchIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val rows = Quantize.int8Compact(spark, path)
    assert(rows === embs.count())
    val installments = new java.io.File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("installment=")).map(_.getName).toSet
    assert(installments === Set("installment=0"),
      s"expected one folded installment, got $installments")
    val after = Quantize.int8SearchIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(after === before, "compaction must not change int8 search results")
    // the next append numbers after the folded history, not on top of it
    Quantize.int8Append(spark, path,
      embs.filter($"vec_id" < 3).withColumn("vec_id", $"vec_id" + 1000000))
    val nextDirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("installment=")).map(_.getName).toSet
    assert(nextDirs === Set("installment=0", "installment=1"), s"got $nextDirs")
  }

  test("scoring plan has no window funnel and broadcasts the query side") {
    val scale = Quantize.maxAbs(embs, "embedding") / 127.0
    val q = embs.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val plan = Quantize.int8TopK(embs, q, k = 5, scale)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"int8 top-k must not rank via window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
  }

  test("hardNegatives drops self and closes the rank gap, incl. duplicates") {
    import org.apache.spark.sql.functions._
    // corpus with an EXACT duplicate pair (1, 2) so the self hit of query
    // 2 sits at rank 2 behind its twin — the gap-closing edge case
    val dup = embs.filter($"vec_id" === 1L)
      .select(lit(2L).as("vec_id"), $"embedding")
    val corpus = embs.filter($"vec_id" =!= 2L).unionByName(dup)
    val path = java.nio.file.Files.createTempDirectory("int8-hardneg")
      .resolve("idx").toString
    Quantize.int8Build(corpus, path)
    val q = corpus.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val negs = Quantize.hardNegatives(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    // never self; ranks are exactly 1..5 per query
    assert(negs.forall(r => r._1 !== r._2))
    negs.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to 5), s"ranks for $qid")
    }
    // the duplicate pair mines each other as the #1 hard negative with
    // quantized cosine 1.0
    val m = negs.filter(r => r._4 == 1).map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L)._1 === 2L && m(1L)._2 === 1.0)
    assert(m(2L)._1 === 1L && m(2L)._2 === 1.0)
    // equals a direct non-self re-rank of a k+1 search
    val direct = Quantize.int8SearchIndexed(spark, path, q, k = 6)
      .as[(Long, Long, Double, Int)].collect()
      .filter(r => r._1 != r._2)
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (r._1, r._2, r._3, i + 1) }.toSeq
      }.toSet
    assert(negs.toSet === direct)
  }

  // ------------------------------- incremental near-dup probe / prune

  // hand corpus in a 4-d space: axes 1/2/4 plus a diagonal, so every
  // pairwise cosine is 0, ±1, or ±0.707 — nothing near the 0.9 cut
  private def probeCorpus = Seq(
    (1L, Seq(1f, 0f, 0f, 0f)),
    (2L, Seq(0f, 1f, 0f, 0f)),
    (3L, Seq(0.5f, 0.5f, 0f, 0f)),
    (4L, Seq(0f, 0f, 1f, 0f))
  ).toDF("vec_id", "embedding")

  // 101 = copy of 1; 102 ⊥ everything stored; 103 = −v2; 104 = 2·v2;
  // 105 = 2·(102's vector) — the batch-only duplicate pair
  private def probeBatch = Seq(
    (101L, Seq(1f, 0f, 0f, 0f)),
    (102L, Seq(0f, 0f, 0f, 1f)),
    (103L, Seq(0f, -1f, 0f, 0f)),
    (104L, Seq(0f, 2f, 0f, 0f)),
    (105L, Seq(0f, 0f, 0f, 2f))
  ).toDF("vec_id", "embedding")

  test("int8NearDupProbe finds stored twins, not negations or orthogonals") {
    val path = java.nio.file.Files.createTempDirectory("int8-probe")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus, path)
    val pairs = Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 101L), (2L, 104L)))
  }

  test("int8NearDupProbe respects asOfInstallment on the stored side") {
    val path = java.nio.file.Files.createTempDirectory("int8-probe-asof")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus.filter($"vec_id" <= 2), path)
    Quantize.int8Append(spark, path, probeCorpus.filter($"vec_id" > 2))
    val full = Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(full === Set((1L, 101L), (2L, 104L)))
    // snapshot at installment 0 = {v1, v2} — identical here (v3/v4 pair
    // with nothing), so pin the snapshot via a batch twin of v4 instead
    val twinOf4 = Seq((201L, Seq(0f, 0f, 2f, 0f))).toDF("vec_id", "embedding")
    val hitFull = Quantize.int8NearDupProbe(spark, path, twinOf4, 0.9)
      .count()
    val hitSnap = Quantize.int8NearDupProbe(spark, path, twinOf4, 0.9,
      asOfInstallment = 0).count()
    assert(hitFull === 1L && hitSnap === 0L,
      s"asOf leak: full=$hitFull snapshot=$hitSnap")
  }

  test("int8ProbePrune drops anchored and non-min members, keeps the rest") {
    val path = java.nio.file.Files.createTempDirectory("int8-prune")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus, path)
    // 101/104 drop (component anchored by stored 1/2); 105 drops (non-min
    // of the batch-only {102, 105} component); 102 keeps as its rep; 103
    // pairs with nothing and survives untouched
    val survivors = Quantize.int8ProbePrune(spark, path, probeBatch, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === Set(102L, 103L))
    // schema passthrough + broadcast dual path
    val viaBroadcast = Quantize.int8ProbePrune(spark, path, probeBatch, 0.9,
      broadcastDrop = true)
    assert(viaBroadcast.columns.toSeq === probeBatch.columns.toSeq)
    assert(viaBroadcast.select("vec_id").as[Long].collect().toSet === survivors)
  }

  test("int8ProbePrune: zero-norm batch rows pair with nothing and survive") {
    val path = java.nio.file.Files.createTempDirectory("int8-prune-zero")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus, path)
    val withZero = probeBatch.unionByName(
      Seq((106L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val survivors = Quantize.int8ProbePrune(spark, path, withZero, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === Set(102L, 103L, 106L))
  }

  test("int8ProbePrune passes batch columns through, _ip_ names included") {
    val path = java.nio.file.Files.createTempDirectory("int8-prune-cols")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus, path)
    // the prune mints no column on the batch's frame, so no prefix is reserved
    val extra = probeBatch.withColumn("_ip_x", $"vec_id" * 10)
    val survivors = Quantize.int8ProbePrune(spark, path, extra, 0.9)
    assert(survivors.columns.toSeq === extra.columns.toSeq)
    assert(survivors.select("vec_id", "_ip_x").as[(Long, Long)].collect().toSet ===
      Set((102L, 1020L), (103L, 1030L)))
  }

  test("ivfSq8NearDupProbe at nprobe=nlist equals the flat probe exactly") {
    val base = java.nio.file.Files.createTempDirectory("ivfsq8-probe")
    val flat = base.resolve("flat").toString
    val ivf = base.resolve("ivf").toString
    Quantize.int8Build(probeCorpus, flat)
    Quantize.ivfSq8Build(probeCorpus, ivf, nlist = 2)
    val flatPairs = Quantize.int8NearDupProbe(spark, flat, probeBatch, 0.9)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    val ivfPairs = Quantize.ivfSq8NearDupProbe(spark, ivf, probeBatch, 0.9,
        nprobe = 2)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(ivfPairs === flatPairs)
    assert(ivfPairs === Set((1L, 101L), (2L, 104L)))
    // an exact twin routes to its stored copy's own list, so even the
    // narrowest probe finds it (identical vectors share an assignment)
    val one = Quantize.ivfSq8NearDupProbe(spark, ivf, probeBatch, 0.9,
        nprobe = 1)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(one.contains((1L, 101L)))
  }

  test("ivfSq8ProbePrune at nprobe=nlist equals the flat prune; schema passthrough") {
    val base = java.nio.file.Files.createTempDirectory("ivfsq8-prune")
    val flat = base.resolve("flat").toString
    val ivf = base.resolve("ivf").toString
    Quantize.int8Build(probeCorpus, flat)
    Quantize.ivfSq8Build(probeCorpus, ivf, nlist = 2)
    val flatSurv = Quantize.int8ProbePrune(spark, flat, probeBatch, 0.9)
      .select("vec_id").as[Long].collect().toSet
    val ivfSurv = Quantize.ivfSq8ProbePrune(spark, ivf, probeBatch, 0.9,
        nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(ivfSurv === flatSurv)
    assert(ivfSurv === Set(102L, 103L))
    // dual drop path + schema passthrough, _ip_ names included
    val extra = probeBatch.withColumn("_ip_x", lit(1))
    val viaBroadcast = Quantize.ivfSq8ProbePrune(spark, ivf, extra, 0.9,
      nprobe = 2, broadcastDrop = true)
    assert(viaBroadcast.columns.toSeq === extra.columns.toSeq)
    assert(viaBroadcast.select("vec_id").as[Long].collect().toSet === ivfSurv)
  }

  test("routed batch-internal pairs collapse exact twins at the narrowest probe") {
    // r11: the routed prune's batch-self pass routes through the SAME
    // probe lists as the stored pass (the exact n² self-join was the
    // residual floor at sf1). Exact twins route identically, so even
    // nprobe=1 must find the batch-only pair and keep-min it.
    val ivf = java.nio.file.Files.createTempDirectory("ivfsq8-bi-routed")
      .resolve("ivf").toString
    Quantize.ivfSq8Build(probeCorpus, ivf, nlist = 2)
    val twinBatch = Seq(
      (201L, Seq(0f, 0f, 0.7f, 0.7f)),
      (202L, Seq(0f, 0f, 0.7f, 0.7f)),  // exact twin of 201 — batch-only pair
      (203L, Seq(0f, 0f, -1f, 1f))      // near-orthogonal to both, survives
    ).toDF("vec_id", "embedding")
    val surv = Quantize.ivfSq8ProbePrune(spark, ivf, twinBatch, 0.99,
        nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(surv === Set(201L, 203L),
      s"keep-min must drop the twin 202 even at nprobe=1, got $surv")
  }

  test("ivf probe plan prunes to probed lists and never shuffles the stored scan") {
    val ivf = java.nio.file.Files.createTempDirectory("ivfsq8-probe-plan")
      .resolve("ivf").toString
    Quantize.ivfSq8Build(probeCorpus, ivf, nlist = 2)
    val (_, probe) = Ran(spark)(Quantize.ivfSq8NearDupProbe(spark, ivf, probeBatch, 0.9,
      nprobe = 1).collect())
    assert(probe.scansOf("codes").length === 1, "one scan of the stored codes")
    assert(probe.prunesLists("codes"), "the code scan carries a list_id partition filter")
    assert(probe.shuffleStages === 0, s"the probe ran ${probe.shuffleStages} shuffle stages")
  }

  test("int8 tombstones: deleted vectors vanish from search, probe, and snapshots; compact folds") {
    val path = java.nio.file.Files.createTempDirectory("int8-del")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus.filter($"vec_id" <= 2), path)
    Quantize.int8Append(spark, path, probeCorpus.filter($"vec_id" > 2))
    Quantize.int8Delete(spark, path, Seq(1L).toDF("vec_id"))
    // search: the deleted vector may never rank again
    val q = Seq((201L, Seq(1f, 0f, 0f, 0f))).toDF("query_id", "query_vec")
    val hits = Quantize.int8SearchIndexed(spark, path, q, k = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!hits.contains(1L), s"tombstoned vector still ranked: $hits")
    // probe: its batch twin no longer pairs; live twins still do
    val pairs = Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((2L, 104L)))
    // takedown semantics: the asOf snapshot is filtered too
    val snap = Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9,
        asOfInstallment = 0)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(!snap.exists(_._1 == 1L), s"snapshot leaked a tombstone: $snap")
    // compaction folds the delete physically and clears the list
    val rows = Quantize.int8Compact(spark, path)
    assert(rows === 3L)
    assert(!graft.store.Tombstones.any(spark, path), "deletes dir not cleared")
    val after = Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(after === pairs)
  }

  test("ivfSq8 tombstones: search, probe, and the raw refine sidecar all drop deleted rows") {
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-del")
      .resolve("idx").toString
    Quantize.ivfSq8Build(probeCorpus, path, nlist = 2,
      storeRaw = true)
    Quantize.ivfSq8Delete(spark, path, Seq(2L).toDF("vec_id"))
    val q = Seq((201L, Seq(0f, 1f, 0f, 0f))).toDF("query_id", "query_vec")
    val hits = Quantize.ivfSq8Search(spark, path, q, k = 4, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(!hits.contains(2L), s"tombstoned vector still ranked: $hits")
    // the refined path must not resurrect it through the raw sidecar
    val refined = Quantize.ivfSq8SearchRefined(spark, path, q, k = 4,
        candidateK = 4, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(!refined.contains(2L), s"refine resurrected a tombstone: $refined")
    val pairs = Quantize.ivfSq8NearDupProbe(spark, path, probeBatch, 0.9,
        nprobe = 2)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 101L)))
    // compact folds codes AND raw, then clears
    val rows = Quantize.ivfSq8Compact(spark, path)
    assert(rows === 3L)
    assert(!graft.store.Tombstones.any(spark, path), "deletes dir not cleared")
    assert(spark.read.parquet(s"$path/raw").filter($"vec_id" === 2L).isEmpty,
      "raw sidecar kept a tombstoned row past compaction")
    val refAfter = Quantize.ivfSq8SearchRefined(spark, path, q, k = 4,
        candidateK = 4, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(refAfter === refined)
  }

  test("flat probe runs one snapshot-pruned code scan and no shuffle stage") {
    val path = java.nio.file.Files.createTempDirectory("int8-probe-plan")
      .resolve("idx").toString
    Quantize.int8Build(probeCorpus.filter($"vec_id" <= 2), path)
    Quantize.int8Append(spark, path, probeCorpus.filter($"vec_id" > 2))
    val (pairs, probe) = Ran(spark)(Quantize.int8NearDupProbe(spark, path, probeBatch, 0.9,
      asOfInstallment = 0).collect())
    assert(pairs.length === 2)
    val scans = probe.scansOf("codes")
    assert(scans.length === 1, "one scan of the stored codes")
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "installment")),
      "the code scan prunes to the snapshot's installments")
    assert(probe.shuffleStages === 0, s"the probe ran ${probe.shuffleStages} shuffle stages")
  }

  // ------------------------- probes and prunes against an integer reference

  test("both probes and prunes equal an in-test integer reference through churn") {
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val built = (0 until 120).map(i => (i.toLong, vec()))
    // ids 150-159 repeat the vectors of ids 0-9: duplicate stored vectors
    val appended = (120 until 150).map(i => (i.toLong, vec())) ++
      (150 until 160).map(i => (i.toLong, built(i - 150)._2))
    val (delA, delB) = (Seq(3L, 17L, 125L), Seq(40L, 151L))
    val batchRows: Seq[(java.lang.Long, Array[Float])] =
      // twice stored 0-14 (3 is deleted and 153 repeats it), jittered 20-29
      (0 until 15).map(i => (Long.box(1000L + i), built(i)._2.map(_ * 2))) ++
      (20 until 30).map(i => (Long.box(1000L + i), built(i)._2.map(_ + 0.05f))) ++
      // batch-only twins, fresh rows, stored 33 under its own id
      (0 until 5).flatMap { i => val v = vec()
        Seq((Long.box(1040L + i), v), (Long.box(1045L + i), v.map(_ * 3))) } ++
      (0 until 10).map(i => (Long.box(1050L + i), vec())) ++
      Seq((Long.box(33L), built(33)._2),
        // a zero vector, a null vector, and a null id carrying stored 5's vector
        (Long.box(1060L), Array.fill(8)(0f)), (Long.box(1061L), null),
        (null, built(5)._2))
    val batch = batchRows.toDF("vec_id", "embedding")
    val threshold = 0.95
    val base = java.nio.file.Files.createTempDirectory("sq8-probe-ref")
    val (flat, ivf) = (base.resolve("flat").toString, base.resolve("ivf").toString)
    Quantize.int8Build(built.toDF("vec_id", "embedding"), flat)
    Quantize.int8Append(spark, flat, appended.toDF("vec_id", "embedding"))
    Quantize.ivfSq8Build(built.toDF("vec_id", "embedding"), ivf, nlist = 4)
    Quantize.ivfSq8Append(spark, ivf, appended.toDF("vec_id", "embedding"))
    Seq(delA, delB).foreach { ids =>
      Quantize.int8Delete(spark, flat, ids.toDF("vec_id"))
      Quantize.ivfSq8Delete(spark, ivf, ids.toDF("vec_id"))
    }
    val dead = (delA ++ delB).toSet
    // the integer-code cosine under the stored scale of `index`
    def cosine(index: String): (Array[Float], Array[Float]) => Option[Double] = {
      val scale = spark.read.parquet(s"$index/meta").head().getDouble(0)
      def codes(v: Array[Float]) = v.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      (a, b) => {
        val (ca, cb) = (codes(a), codes(b))
        val (na, nb) = (ca.map(x => x * x).sum, cb.map(x => x * x).sum)
        if (na == 0 || nb == 0) None
        else Some(ca.zip(cb).map { case (x, y) => x * y }.sum.toDouble /
          (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
      }
    }
    val live = batchRows.collect { case (id, v) if id != null && v != null => (id.longValue, v) }
    def refPairs(index: String, stored: Seq[(Long, Array[Float])]) = {
      val cos = cosine(index)
      for ((s, sv) <- stored if !dead(s); (b, bv) <- live if s != b;
           c <- cos(sv, bv) if c >= threshold) yield (s, b, c)
    }
    def refSurvivors(index: String, stored: Seq[(Long, Array[Float])]) = {
      val cos = cosine(index)
      val internal = for ((a, av) <- live; (b, bv) <- live if a < b;
                          c <- cos(av, bv) if c >= threshold) yield (a, b)
      val storedPairs = refPairs(index, stored).map(p => (p._1, p._2))
      val edges = storedPairs ++ internal
      val rep = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val r = rep.getOrElse(x, x); if (r == x) x else find(r) }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
        if (ra != rb) rep(math.max(ra, rb)) = math.min(ra, rb) }
      val storedIds = storedPairs.map(_._1).toSet
      val inEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val anchored = storedIds.map(find)
      batchRows.map(_._1).filter { id =>
        id == null || !inEdges(id) || storedIds(id) ||
          (!anchored(find(id)) && find(id) == id.longValue)
      }.map(Option(_).map(_.longValue))
    }
    val all = built ++ appended
    def pairs(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq === Seq("corpus_id", "new_id", "cosine_q"))
      df.as[(Long, Long, Double)].collect().toSeq.sorted
    }
    def survivors(df: org.apache.spark.sql.DataFrame) = {
      assert(df.columns.toSeq === batch.columns.toSeq)
      df.select("vec_id").as[Option[Long]].collect().toSeq.sorted
    }
    Seq(
      "flat" -> (Quantize.int8NearDupProbe(spark, flat, batch, threshold),
        refPairs(flat, all)),
      "flat as of installment 0" -> (Quantize.int8NearDupProbe(spark, flat, batch, threshold,
        asOfInstallment = 0), refPairs(flat, built)),
      "ivf" -> (Quantize.ivfSq8NearDupProbe(spark, ivf, batch, threshold, nprobe = 4),
        refPairs(ivf, all)),
      "ivf as of ingest 0" -> (Quantize.ivfSq8NearDupProbe(spark, ivf, batch, threshold,
        nprobe = 4, asOfIngest = 0), refPairs(ivf, built))
    ).foreach { case (arm, (got, want)) =>
      assert(pairs(got) === want.sorted, arm)
    }
    assert(refPairs(flat, all).exists(p => p._1 == 153L && p._2 == 1003L),
      "the fixture plants the live twin of a deleted vector")
    Seq(
      "flat" -> (Quantize.int8ProbePrune(spark, flat, batch, threshold), refSurvivors(flat, all)),
      "flat as of installment 0" -> (Quantize.int8ProbePrune(spark, flat, batch, threshold,
        asOfInstallment = 0), refSurvivors(flat, built)),
      "ivf" -> (Quantize.ivfSq8ProbePrune(spark, ivf, batch, threshold, nprobe = 4),
        refSurvivors(ivf, all)),
      "ivf as of ingest 0" -> (Quantize.ivfSq8ProbePrune(spark, ivf, batch, threshold,
        nprobe = 4, asOfIngest = 0), refSurvivors(ivf, built))
    ).foreach { case (arm, (got, want)) =>
      assert(survivors(got) === want.sorted, arm)
    }
    // below nlist the routed probe finds a subset: the IVF recall contract
    val narrow = pairs(Quantize.ivfSq8NearDupProbe(spark, ivf, batch, threshold, nprobe = 1))
    assert(narrow.toSet.subsetOf(refPairs(ivf, all).toSet))
  }

  // ----------------------------------------- probe and prune job budgets

  /** A near-dup batch against `stored`: twice its first 20 vectors and 30
    * fresh ones, materialized. */
  private def dupBatch(stored: org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(13)
    stored.filter($"vec_id" < 20)
      .select(($"vec_id" + 10000L).as("vec_id"), transform($"embedding", x => x * 2f).as("embedding"))
      .unionByName((0 until 30).map(i => (20000L + i, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding"))
      .localCheckpoint()
  }

  test("one flat near-dup probe runs at most 5 jobs and no shuffle stage") {
    val (path, corpus, _) = churnedFlat
    val batch = dupBatch(corpus)
    val (pairs, probe) = Ran(spark)(Quantize.int8NearDupProbe(spark, path, batch, 0.95).collect())
    assert(pairs.length === 17) // stored 1-3 are deleted
    // the batch collect and the scan: scale and tombstones are read on the
    // driver, codes/ with a declared schema (5 jobs before; a broadcast-join
    // probe ran 7 and a shuffled tombstone anti-join)
    assert(probe.jobs <= 2, s"one probe ran ${probe.jobs} jobs")
    assert(probe.shuffleStages === 0, s"one probe ran ${probe.shuffleStages} shuffle stages")
  }

  test("one IVF-SQ8 prune runs at most 20 jobs and 8 shuffle stages") {
    val (path, _) = churned
    val batch = dupBatch(spark.read.parquet(s"$path/raw"))
    val (survivors, prune) = Ran(spark)(Quantize.ivfSq8ProbePrune(spark, path, batch, 0.95,
      nprobe = 4).collect())
    // the 30 fresh rows and the twins of deleted stored 1-3
    assert(survivors.length === 33)
    // the probe pass (centroids, scale, batch, tombstones, codes schema, the
    // scan), then the pair components and the drop list; with the pairs as
    // broadcast joins and a checkpoint, the prune ran 30 jobs and 12
    // shuffle stages
    assert(prune.jobs <= 20, s"one prune ran ${prune.jobs} jobs")
    assert(prune.shuffleStages <= 8, s"one prune ran ${prune.shuffleStages} shuffle stages")
  }

  test("source guard: only int8TopK and the writers call column UDFs") {
    val p = java.nio.file.Paths.get("src/main/scala/graft/index/Quantize.scala")
    assert(java.nio.file.Files.isRegularFile(p), s"run from the repository root: $p")
    val quantize = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.toSeq
    // each code line, with the member it sits in
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val owners = quantize.scanLeft("")((owner, l) =>
      member.findFirstMatchIn(l).fold(owner)(_.group(1))).tail
    def comment(l: String) = Seq("*", "/**", "//").exists(l.trim.startsWith)
    val udfs = Seq("codesUdf", "unpackCodesUdf", "normSqUdf", "dotUdf", "packCodesUdf")
    val users = quantize.zip(owners).collect {
      case (l, owner) if !comment(l) && !udfs.contains(owner) &&
        udfs.exists(u => s"\\b$u\\b".r.findFirstIn(l).nonEmpty) => owner
    }.toSet
    assert(users === Set("int8TopK", "int8Build", "int8AppendAt", "ivfSq8Build", "ivfSq8AppendAt"),
      "the probes and searches score through routedTopK's SQ8 scorer, not the column UDFs")
  }

  /** A churned IVF-SQ8 index with the raw sidecar: a build, an appended
    * ingest and two tombstone installments; and 16 local queries. */
  private lazy val churned = {
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-jobs")
      .resolve("idx").toString
    Quantize.ivfSq8Build(vecs(0 until 2000), path, nlist = 8, storeRaw = true)
    Quantize.ivfSq8Append(spark, path, vecs(2000 until 2200))
    Quantize.ivfSq8Delete(spark, path, Seq(1L, 2L, 3L).toDF("vec_id"))
    Quantize.ivfSq8Delete(spark, path, Seq(2100L).toDF("vec_id"))
    val queries = (0 until 16).map(i => (-1L - i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("query_id", "query_vec")
    (path, queries)
  }

  private def plainSq8Run() = {
    val (path, queries) = churned
    Ran(spark)(Quantize.ivfSq8Search(spark, path, queries, k = 10, nprobe = 4).collect())
  }

  test("one IVF-SQ8 search runs at most 6 jobs and no shuffle stage") {
    val (hits, search) = plainSq8Run()
    assert(hits.length === 160)
    // the scan: centroids, scale and tombstones are read on the driver,
    // codes/ with a declared schema (5 jobs before)
    assert(search.jobs === 1, s"one search ran ${search.jobs} jobs")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
    assert(search.prunesLists("codes"))
  }

  test("one refined IVF-SQ8 search runs at most 2 jobs more than the plain one, no shuffle stage") {
    val (path, queries) = churned
    val (hits, search) = Ran(spark)(Quantize.ivfSq8SearchRefined(spark, path, queries,
      k = 10, candidateK = 40, nprobe = 4).collect())
    assert(hits.length === 160)
    // the plain search's scan, then the raw/ scan
    val plain = plainSq8Run()._2.jobs
    assert(search.jobs === plain + 1 && search.jobs === 2,
      s"one refined search ran ${search.jobs} jobs (plain: $plain)")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
    assert(search.prunesLists("codes") && search.prunesLists("raw"))
  }

  /** A churned flat int8 index: a build, an appended installment and two
    * tombstone installments; its float corpus; and 16 local queries. */
  private lazy val churnedFlat = {
    val rnd = new scala.util.Random(12)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("int8-jobs")
      .resolve("idx").toString
    val (built, appended) = (vecs(0 until 2000), vecs(2000 until 2200))
    Quantize.int8Build(built, path)
    Quantize.int8Append(spark, path, appended)
    Quantize.int8Delete(spark, path, Seq(1L, 2L, 3L).toDF("vec_id"))
    Quantize.int8Delete(spark, path, Seq(2100L).toDF("vec_id"))
    val queries = (0 until 16).map(i => (-1L - i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("query_id", "query_vec")
    (path, built.unionByName(appended), queries)
  }

  private def plainInt8Run() = {
    val (path, _, queries) = churnedFlat
    Ran(spark)(Quantize.int8SearchIndexed(spark, path, queries, k = 10).collect())
  }

  test("one flat int8 search runs at most 5 jobs and no shuffle stage") {
    val (hits, search) = plainInt8Run()
    assert(hits.length === 160)
    // the scan: scale and tombstones are read on the driver, codes/ with a
    // declared schema (4 jobs before)
    assert(search.jobs === 1, s"one search ran ${search.jobs} jobs")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
  }

  test("one refined flat int8 search runs at most 2 jobs more than the plain one, no shuffle stage") {
    val (path, corpus, queries) = churnedFlat
    val (hits, search) = Ran(spark)(Quantize.int8SearchRefined(spark, path, queries, corpus,
      k = 10, candidateK = 40).collect())
    assert(hits.length === 160)
    // the plain search's scan, then the corpus scan
    val plain = plainInt8Run()._2.jobs
    assert(search.jobs === plain + 1 && search.jobs === 2,
      s"one refined search ran ${search.jobs} jobs (plain: $plain)")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
  }

  test("ivfSq8Search at nprobe = nlist equals the integer-code top-k over the live rows") {
    val rnd = new scala.util.Random(5)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    // ids 200-209 repeat the vectors of ids 0-9: equal codes, exact ties
    // the lower id must win
    val dups = (0 until 10).map(i => (200L + i, base(i)._2))
    val appended = (210 until 260).map(i => (i.toLong, vec()))
    val deleted = (0L until 260L by 9L) :+ 203L
    // tombstones apply to every read: a row re-appended under a deleted id
    // stays hidden
    val reappended = deleted.take(4).map(i => (i, vec()))
    val path = java.nio.file.Files.createTempDirectory("ivfsq8-eq")
      .resolve("idx").toString
    Quantize.ivfSq8Build((base ++ dups).toDF("vec_id", "embedding"), path, nlist = 4)
    Quantize.ivfSq8Append(spark, path, appended.toDF("vec_id", "embedding"))
    val (delA, delB) = deleted.splitAt(deleted.length / 2)
    Quantize.ivfSq8Delete(spark, path, delA.toDF("vec_id"))
    Quantize.ivfSq8Delete(spark, path, delB.toDF("vec_id"))
    Quantize.ivfSq8Append(spark, path, reappended.toDF("vec_id", "embedding"))
    // the same churn on a flat index: installments 0, 1 and 2
    val flat = java.nio.file.Files.createTempDirectory("int8-eq")
      .resolve("idx").toString
    Quantize.int8Build((base ++ dups).toDF("vec_id", "embedding"), flat)
    Quantize.int8Append(spark, flat, appended.toDF("vec_id", "embedding"))
    Quantize.int8Delete(spark, flat, delA.toDF("vec_id"))
    Quantize.int8Delete(spark, flat, delB.toDF("vec_id"))
    Quantize.int8Append(spark, flat, reappended.toDF("vec_id", "embedding"))
    val live = (base ++ dups ++ appended).filterNot(r => deleted.contains(r._1))
    // what installment 0 holds, less the deletes (they apply to snapshots too)
    val live0 = (base ++ dups).filterNot(r => deleted.contains(r._1))
    // a duplicated vector, a deleted one with a live twin, fresh points and
    // an all-zero query (zero-norm codes: no rows)
    val qs = (Seq(base(1)._2, base(9)._2) ++ Seq.fill(3)(vec()) :+ Array.fill(8)(0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val k = 7
    // the integer-code top-k of `rows` under the stored scale of `index`
    def expected(index: String, rows: Seq[(Long, Array[Float])]) = {
      val scale = spark.read.parquet(s"$index/meta").head().getDouble(0)
      def codes(v: Array[Float]): Array[Long] = v.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      def normSq(c: Array[Long]): Long = c.map(x => x * x).sum
      qs.flatMap { case (qid, qv) =>
        val qc = codes(qv)
        val qn = normSq(qc)
        if (qn == 0) Nil
        else rows.flatMap { case (id, v) =>
          val c = codes(v)
          val cn = normSq(c)
          if (cn == 0) None
          else Some((id, c.zip(qc).map { case (a, b) => a * b }.sum.toDouble /
            (math.sqrt(cn.toDouble) * math.sqrt(qn.toDouble))))
        }.sortBy { case (id, score) => (-score, id) }.take(k).zipWithIndex
          .map { case ((id, score), r) => (qid, id, score, r + 1) }
      }
    }
    val queries = qs.toDF("query_id", "query_vec")
    Seq(
      "ivfSq8Search" -> (Quantize.ivfSq8Search(spark, path, queries, k = k, nprobe = 4),
        expected(path, live)),
      "int8SearchIndexed" -> (Quantize.int8SearchIndexed(spark, flat, queries, k = k),
        expected(flat, live)),
      "int8SearchIndexed as of installment 0" -> (Quantize.int8SearchIndexed(spark, flat,
        queries, k = k, asOfInstallment = 0), expected(flat, live0))
    ).foreach { case (arm, (result, want)) =>
      val got = result.as[(Long, Long, Double, Int)].collect()
      assert(got.toSet === want.toSet, arm)
      assert(got.length === want.length, arm)
      assert(got.exists(r => r._1 == 0L && r._2 == 1L && r._4 == 1) &&
        got.exists(r => r._1 == 0L && r._2 == 201L && r._4 == 2), s"the tie goes to the lower id ($arm)")
      assert(got.exists(r => r._1 == 1L && r._2 == 209L && r._4 == 1),
        s"the live twin of a deleted vector ranks first ($arm)")
    }
  }
}
