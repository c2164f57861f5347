package graft.index

import graft.{Ran, SparkTestBase}
import org.apache.spark.sql.functions._

/** Product-quantization index family: encode determinism, refined-search
  * exactness, the four installment contracts (stored codebooks, asOf
  * snapshots, replay-idempotent appends, tombstone lifecycle), and the
  * unrefined ADC recall floor. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  private def tmpIdx(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_pq_$tag")
    d.toFile.deleteOnExit()
    d.resolve("idx").toFile.getAbsolutePath
  }

  private def queries(n: Int = 8) = embs.filter($"vec_id" < n)
    .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))

  test("pqBuild: codes are m bytes per row; zero/null rows drop") {
    val path = tmpIdx("build")
    val corpus = embs.limit(60).unionByName(Seq(
      (900001L, Array.fill(64)(0f)),
      (900002L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    Pq.pqBuild(corpus, path, m = 8, ksub = 16)
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() === 60, "zero-norm and null rows must not encode")
    val lens = codes.select(length($"codes").as("l")).distinct()
      .as[Int].collect().toSeq
    assert(lens === Seq(8), s"codes must be m=8 bytes, got lengths $lens")
    val meta = spark.read.parquet(s"$path/meta").head()
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) === ((8, 16, 64)))
  }

  test("refined search equals the exact float top-k (pool covers it)") {
    val path = tmpIdx("refined")
    Pq.pqBuild(embs, path, m = 16, ksub = 64)
    val q = queries()
    val got = Pq.pqSearchRefined(spark, path, q, embs, k = 5,
        candidateK = 128)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
  }

  test("unrefined ADC search: self in the pool, recall floor holds") {
    val path = tmpIdx("recall")
    Pq.pqBuild(embs, path, m = 16, ksub = 64)
    val q = queries()
    val approx = Pq.pqSearch(spark, path, q, k = 5)
      .withColumnRenamed("score_pq", "cosine")
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
    // floor 1 (vs int8's 3): the synthetic embeddings are near-random —
    // PQ's worst case (no subspace cluster structure to exploit); the
    // declared queries carry the rigor through the REFINED exact-top-k
    // contract, this floor just pins that ADC ranking is sane
    val report = SimilarityIndex.approxRecallReport(approx, exact,
        recallFloor = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(report.length === 8)
    assert(report.forall(_._3), s"PQ recall collapsed: ${report.toSeq}")
  }

  test("append encodes with the STORED codebooks; equals one-shot build") {
    val pathA = tmpIdx("append")
    val pathB = tmpIdx("oneshot")
    val evens = embs.filter($"vec_id" % 2 === 0)
    val odds = embs.filter($"vec_id" % 2 === 1)
    // two-installment: build on evens, append odds with frozen books
    Pq.pqBuild(evens, pathA, m = 16, ksub = 64)
    Pq.pqAppend(spark, pathA, odds)
    // one-shot reference: SAME books (trained on evens), all rows at once
    Pq.pqBuild(evens, pathB, m = 16, ksub = 64)
    Pq.pqAppendAt(spark, pathB, embs, installment = 1)
    val a = spark.read.parquet(s"$pathA/codes")
      .select($"vec_id", $"codes").as[(Long, Array[Byte])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    val b = spark.read.parquet(s"$pathB/codes")
      .filter($"installment" === 1)
      .select($"vec_id", $"codes").as[(Long, Array[Byte])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    assert(embs.count() === b.size)
    // every appended odd row's codes equal the one-shot encode of the
    // same vector under the same stored codebooks
    odds.select($"vec_id").as[Long].collect().foreach { id =>
      assert(a(id) === b(id), s"vec $id codes differ between append paths")
    }
    // and the searched result through the two-installment index equals
    // the exact float top-k (append rows are first-class citizens)
    val q = queries()
    val got = Pq.pqSearchRefined(spark, pathA, q, embs, k = 5,
        candidateK = 128)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(got === exact)
  }

  test("asOfInstallment pins the search to the pre-append snapshot") {
    val path = tmpIdx("asof")
    val evens = embs.filter($"vec_id" % 2 === 0)
    Pq.pqBuild(evens, path, m = 16, ksub = 64)
    Pq.pqAppend(spark, path, embs.filter($"vec_id" % 2 === 1))
    val q = queries(4)
    val snap = Pq.pqSearch(spark, path, q, k = 5, asOfInstallment = 0)
      .select($"vec_id" % 2).distinct().as[Long].collect().toSeq
    assert(snap === Seq(0L), "the snapshot must only see even (build) rows")
  }

  test("pqAppendAt replays overwrite their own partition (idempotent)") {
    val path = tmpIdx("replay")
    Pq.pqBuild(embs.filter($"vec_id" < 100), path, m = 8, ksub = 16)
    val batch = embs.filter($"vec_id" >= 100 && $"vec_id" < 140)
    Pq.pqAppendAt(spark, path, batch, installment = 1)
    Pq.pqAppendAt(spark, path, batch, installment = 1) // the retry
    assert(spark.read.parquet(s"$path/codes")
      .filter($"installment" === 1).count() === 40)
  }

  test("tombstones drop rows from every read; compact folds physically") {
    val path = tmpIdx("delete")
    Pq.pqBuild(embs.filter($"vec_id" < 100), path, m = 16, ksub = 64)
    Pq.pqAppend(spark, path, embs.filter($"vec_id" >= 100 && $"vec_id" < 160))
    val doomed = embs.filter($"vec_id" % 5 === 0 && $"vec_id" < 160)
      .select("vec_id")
    Pq.pqDelete(spark, path, doomed)
    // double-delete is a no-op on the result (DeleteAt replay form)
    Pq.pqDeleteAt(spark, path, doomed, installment = 1)
    val q = queries()
    val searched = Pq.pqSearchRefined(spark, path, q,
        embs.filter($"vec_id" < 160), k = 5, candidateK = 128)
      .select("vec_id").distinct().as[Long].collect()
    assert(searched.forall(_ % 5 != 0), "tombstoned ids must not surface")
    // takedown semantics: the snapshot read drops them too
    val snap = Pq.pqSearch(spark, path, q, k = 5, asOfInstallment = 0)
      .select("vec_id").distinct().as[Long].collect()
    assert(snap.forall(_ % 5 != 0))
    // physical fold: one installment, deletes cleared, results unchanged
    val before = Pq.pqSearchRefined(spark, path, q,
        embs.filter($"vec_id" < 160), k = 5, candidateK = 128)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val rows = Pq.pqCompact(spark, path)
    assert(rows === 160 - searchedDeletedCount(160))
    val inst = spark.read.parquet(s"$path/codes")
      .select("installment").distinct().as[Int].collect().toSeq
    assert(inst === Seq(0))
    val after = Pq.pqSearchRefined(spark, path, q,
        embs.filter($"vec_id" < 160), k = 5, candidateK = 128)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(after === before)
  }

  private def searchedDeletedCount(n: Int): Long = (0 until n).count(_ % 5 == 0).toLong

  test("row-bounded codebook fit is deterministic; bound leaves the codes intact") {
    // the default fit sample is ROW-bounded (FAISS practice ~256*ksub
    // points), not corpus-fraction-based: same corpus -> same count ->
    // same seeded Bernoulli sample -> bit-identical codebooks
    val pathA = tmpIdx("boundA")
    val pathB = tmpIdx("boundB")
    // maxFitRows far below the corpus forces the sampled path both times
    Pq.pqBuild(embs, pathA, m = 8, ksub = 16, maxFitRows = 100L)
    Pq.pqBuild(embs, pathB, m = 8, ksub = 16, maxFitRows = 100L)
    def books(p: String) = spark.read.parquet(s"$p/codebooks")
      .select($"sub", $"code", $"centroid")
      .as[(Int, Int, Seq[Double])].collect().toSet
    assert(books(pathA) === books(pathB),
      "bounded fit must be deterministic across builds")
    // every corpus row still encodes (the bound affects TRAINING only)
    assert(spark.read.parquet(s"$pathA/codes").count() === embs.count())
  }

  test("wrong-dimension vectors exclude (null codes), never mis-encode") {
    val path = tmpIdx("dim")
    Pq.pqBuild(embs.limit(80), path, m = 8, ksub = 16)
    // an append batch with a 32-dim row (stored dim is 64): the row
    // must DROP like a zero-norm row — dsub comes from the stored dim,
    // so a shorter vector can no longer silently encode against the
    // wrong codebook slices
    val bad = Seq((900010L, Array.fill(32)(0.5f)),
      (900011L, Array.fill(64)(0.25f))).toDF("vec_id", "embedding")
    Pq.pqAppendAt(spark, path, bad, installment = 1)
    val appended = spark.read.parquet(s"$path/codes")
      .filter($"installment" === 1).select("vec_id").as[Long].collect().toSeq
    assert(appended === Seq(900011L),
      s"only the dim-64 row may encode, got $appended")
    // a wrong-dimension QUERY builds no ADC table -> zero result rows
    val badQ = Seq((1L, Array.fill(32)(0.5f)))
      .toDF("query_id", "query_vec")
    assert(Pq.pqSearch(spark, path, badQ, k = 3).count() === 0L)
  }

  test("rotation tier: refined exactness holds, appends use the STORED rotation, recall floor (r17)") {
    val pathA = tmpIdx("rot")
    val pathB = tmpIdx("rot_oneshot")
    val evens = embs.filter($"vec_id" % 2 === 0)
    val odds = embs.filter($"vec_id" % 2 === 1)
    Pq.pqBuild(evens, pathA, m = 16, ksub = 64, rotate = true)
    assert(new java.io.File(s"$pathA/rotation").exists(),
      "rotation must persist with the index")
    Pq.pqAppend(spark, pathA, odds)
    // appends encode with the stored rotation: == one-shot encode
    Pq.pqBuild(evens, pathB, m = 16, ksub = 64, rotate = true)
    Pq.pqAppendAt(spark, pathB, embs, installment = 1)
    val a = spark.read.parquet(s"$pathA/codes")
      .select($"vec_id", $"codes").as[(Long, Array[Byte])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    val b = spark.read.parquet(s"$pathB/codes").filter($"installment" === 1)
      .select($"vec_id", $"codes").as[(Long, Array[Byte])].collect()
      .map(r => r._1 -> r._2.toSeq).toMap
    odds.select($"vec_id").as[Long].collect().foreach { id =>
      assert(a(id) === b(id), s"vec $id codes differ under rotation")
    }
    // rotation preserves inner products, so the REFINED contract is
    // untouched: exact float top-k row for row
    val q = queries()
    val got = Pq.pqSearchRefined(spark, pathA, q, embs, k = 5,
        candidateK = 600)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
    // unrefined ADC under rotation keeps the sanity floor
    val approx = Pq.pqSearch(spark, pathA, q, k = 5)
      .withColumnRenamed("score_pq", "cosine")
    val report = SimilarityIndex.approxRecallReport(approx,
        SimilarityIndex.bruteForceTopK(embs, q, k = 5), recallFloor = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(report.forall(_._3), s"rotated ADC recall: ${report.toSeq}")
    // a rebuild WITHOUT rotation clears the stored matrix
    Pq.pqBuild(evens, pathA, m = 16, ksub = 64)
    assert(!new java.io.File(s"$pathA/rotation").exists(),
      "an unrotated rebuild must clear the old rotation")
    // the matrix is orthonormal: R·Rᵀ == I to double precision
    val r = Pq.rotationMatrix(16)
    for (i <- 0 until 16; j <- 0 until 16) {
      val d = (0 until 16).map(k => r(i)(k) * r(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-12,
        s"R·Rᵀ[$i][$j] = $d")
    }
  }

  test("IVF-PQ: full-probe refined equals exact; routed probes prune the scan (r17)") {
    val path = tmpIdx("ivfpq")
    Pq.ivfPqBuild(embs, path, nlist = 8, m = 16, ksub = 64, storeRaw = true)
    val q = queries()
    // full probe + covering pool: the refined answer IS the float brute
    // force (the declared emb_topk_ivfpq contract)
    val full = Pq.ivfPqSearchRefined(spark, path, q, k = 5,
        candidateK = 600, nprobe = 8)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full === exact)
    // routed: the ADC scan's physical plan prunes to the probed list
    // partitions — the at-scale point of the composition
    val (_, routed) = Ran(spark)(Pq.ivfPqSearch(spark, path, q, k = 5, nprobe = 2))
    assert(routed.prunesLists("codes"), s"expected list_id partition pruning in ${routed.scans}")
    assert(!routed.windows, s"ADC ranking must not use a window: ${routed.plans}")
    // routed refined self-recall: a corpus member probes its own list,
    // and a probed-lists-covering pool makes the exact re-rank rank
    // self first deterministically
    val top1 = Pq.ivfPqSearchRefined(spark, path, q, k = 1,
        candidateK = 600, nprobe = 2)
      .filter($"rank" === 1)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    assert(top1.length === 8)
    assert(top1.forall(r => r._1 === r._2), s"self not top-1: ${top1.toSeq}")
  }

  test("IVF-PQ: append with FROZEN centroids+codebooks == one-shot; replays idempotent; raw/ in lockstep") {
    val pathA = tmpIdx("ivfpq_app")
    val pathB = tmpIdx("ivfpq_oneshot")
    val evens = embs.filter($"vec_id" % 2 === 0)
    val odds = embs.filter($"vec_id" % 2 === 1)
    Pq.ivfPqBuild(evens, pathA, nlist = 8, m = 16, ksub = 64,
      storeRaw = true)
    Pq.ivfPqAppend(spark, pathA, odds)
    Pq.ivfPqBuild(evens, pathB, nlist = 8, m = 16, ksub = 64,
      storeRaw = true)
    Pq.ivfPqAppendAt(spark, pathB, embs, ingest = 1)
    def codesOf(p: String) = spark.read.parquet(s"$p/codes")
      .select($"vec_id", $"list_id", $"codes")
      .as[(Long, Int, Array[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    val a = codesOf(pathA)
    val b = spark.read.parquet(s"$pathB/codes")
      .filter($"ingest" === 1)
      .select($"vec_id", $"list_id", $"codes")
      .as[(Long, Int, Array[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    odds.select($"vec_id").as[Long].collect().foreach { id =>
      assert(a(id) === b(id),
        s"vec $id (list, codes) differ between append paths")
    }
    // a replay of the same ingest number replaces its own dirs
    Pq.ivfPqAppendAt(spark, pathA, odds,
      graft.store.Installments.nextIngest(spark, s"$pathA/codes") - 1)
    assert(spark.read.parquet(s"$pathA/codes").count() === embs.count())
    // the refine sidecar rode every append in lockstep
    assert(spark.read.parquet(s"$pathA/raw").count() === embs.count())
  }

  test("IVF-PQ residual mode: refined exactness, routed self-recall, append parity, flag guards (r17)") {
    val path = tmpIdx("ivfpq_res")
    Pq.ivfPqBuild(embs, path, nlist = 8, m = 16, ksub = 64,
      storeRaw = true, residual = true)
    // the flag persists in meta (4th column; older metas read false)
    assert(spark.read.parquet(s"$path/meta").columns.contains("residual"))
    val q = queries()
    // full probe + covering pool: refined == exact brute force — the
    // residual decomposition q·u = q·w_list + ADC(residual) must not
    // disturb the pool's coverage of the true top-k
    val full = Pq.ivfPqSearchRefined(spark, path, q, k = 5,
        candidateK = 600, nprobe = 8)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = SimilarityIndex.bruteForceTopK(embs, q, k = 5)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full === exact)
    // routed: self probes its own list, probed-lists-covering pool
    val top1 = Pq.ivfPqSearchRefined(spark, path, q, k = 1,
        candidateK = 600, nprobe = 2)
      .filter($"rank" === 1)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    assert(top1.length === 8)
    assert(top1.forall(r => r._1 === r._2), s"self not top-1: ${top1.toSeq}")
    // unrefined residual ADC: ranking stays sane (the recall floor)
    val approx = Pq.ivfPqSearch(spark, path, q, k = 5, nprobe = 8)
      .withColumnRenamed("score_pq", "cosine")
    val report = SimilarityIndex.approxRecallReport(approx,
        SimilarityIndex.bruteForceTopK(embs, q, k = 5), recallFloor = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(report.forall(_._3), s"residual ADC recall: ${report.toSeq}")
    // append encodes with the STORED residual anchors == one-shot
    val pathA = tmpIdx("ivfpq_res_app")
    val pathB = tmpIdx("ivfpq_res_one")
    val evens = embs.filter($"vec_id" % 2 === 0)
    Pq.ivfPqBuild(evens, pathA, nlist = 8, m = 16, ksub = 64,
      residual = true)
    Pq.ivfPqAppend(spark, pathA, embs.filter($"vec_id" % 2 === 1))
    Pq.ivfPqBuild(evens, pathB, nlist = 8, m = 16, ksub = 64,
      residual = true)
    Pq.ivfPqAppendAt(spark, pathB, embs, ingest = 1)
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"list_id", $"codes")
      .as[(Long, Int, Array[Byte])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSeq))).toMap
    val a = codesOf(spark.read.parquet(s"$pathA/codes"))
    val b = codesOf(spark.read.parquet(s"$pathB/codes")
      .filter($"ingest" === 1))
    embs.filter($"vec_id" % 2 === 1).select($"vec_id").as[Long].collect()
      .foreach { id =>
        assert(a(id) === b(id), s"vec $id residual codes differ")
      }
    // rotate+residual is an explicit non-composition
    intercept[IllegalArgumentException] {
      Pq.ivfPqBuild(embs.limit(50), tmpIdx("rotres"), nlist = 4, m = 8,
        ksub = 16, rotate = true, residual = true)
    }
  }

  test("IVF-PQ: tombstones drop from probe and re-rank; compact folds codes AND raw") {
    val path = tmpIdx("ivfpq_del")
    Pq.ivfPqBuild(embs, path, nlist = 8, m = 16, ksub = 64, storeRaw = true)
    Pq.ivfPqDelete(spark, path,
      embs.filter($"vec_id" % 5 === 0).select("vec_id"))
    val q = queries()
    val got = Pq.ivfPqSearchRefined(spark, path, q, k = 5,
        candidateK = 600, nprobe = 8)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect()
    assert(got.forall(_._2 % 5 != 0), "tombstoned ids must not surface")
    val before = got.toSet
    val rows = Pq.ivfPqCompact(spark, path)
    assert(rows === embs.count() - embs.filter($"vec_id" % 5 === 0).count())
    assert(spark.read.parquet(s"$path/codes")
      .select("ingest").distinct().as[Int].collect().toSeq === Seq(0))
    // raw folds in LOCKSTEP: same survivors, same layout
    assert(spark.read.parquet(s"$path/raw").count() === rows)
    assert(spark.read.parquet(s"$path/raw")
      .select("ingest").distinct().as[Int].collect().toSeq === Seq(0))
    val after = Pq.ivfPqSearchRefined(spark, path, q, k = 5,
        candidateK = 600, nprobe = 8)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(after === before)
  }

  test("guards: candidateK >= k, dim divisible by m, ksub bounds") {
    val path = tmpIdx("guards")
    Pq.pqBuild(embs.limit(50), path, m = 8, ksub = 16)
    intercept[IllegalArgumentException] {
      Pq.pqSearchRefined(spark, path, queries(2), embs, k = 8, candidateK = 4)
    }
    intercept[IllegalArgumentException] {
      Pq.pqBuild(embs.limit(50), tmpIdx("baddim"), m = 7, ksub = 16)
    }
    intercept[IllegalArgumentException] {
      Pq.pqBuild(embs.limit(50), tmpIdx("badksub"), m = 8, ksub = 300)
    }
  }

  /** A churned IVF-PQ index with the raw sidecar: a build, an appended
    * ingest and two tombstone installments; and 16 local queries. */
  private lazy val churned = {
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val path = tmpIdx("ivfpq_jobs")
    Pq.ivfPqBuild(vecs(0 until 2000), path, nlist = 8, m = 4, ksub = 16, storeRaw = true)
    Pq.ivfPqAppend(spark, path, vecs(2000 until 2200))
    Pq.ivfPqDelete(spark, path, Seq(1L, 2L, 3L).toDF("vec_id"))
    Pq.ivfPqDelete(spark, path, Seq(2100L).toDF("vec_id"))
    val queries = (0 until 16).map(i => (-1L - i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("query_id", "query_vec")
    (path, queries)
  }

  private def plainPqRun() = {
    val (path, queries) = churned
    Ran(spark)(Pq.ivfPqSearch(spark, path, queries, k = 10, nprobe = 4).collect())
  }

  test("one IVF-PQ search runs at most 8 jobs and no shuffle stage") {
    val (hits, search) = plainPqRun()
    assert(hits.length === 160)
    // the scan: meta, codebooks, centroids and tombstones are read on the
    // driver, codes/ with a declared schema (6 jobs before)
    assert(search.jobs === 1, s"one search ran ${search.jobs} jobs")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
    assert(search.prunesLists("codes"))
  }

  test("one refined IVF-PQ search runs at most 2 jobs more than the plain one, no shuffle stage") {
    val (path, queries) = churned
    val (hits, search) = Ran(spark)(Pq.ivfPqSearchRefined(spark, path, queries,
      k = 10, candidateK = 40, nprobe = 4).collect())
    assert(hits.length === 160)
    // the plain search's scan, then the raw/ scan
    val plain = plainPqRun()._2.jobs
    assert(search.jobs === plain + 1 && search.jobs === 2,
      s"one refined search ran ${search.jobs} jobs (plain: $plain)")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
    assert(search.prunesLists("codes") && search.prunesLists("raw"))
  }

  /** A churned flat PQ index with a stored rotation: a build, an appended
    * installment and two tombstone installments; its float corpus; and 16
    * local queries. */
  private lazy val churnedFlat = {
    val rnd = new scala.util.Random(12)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val path = tmpIdx("pq_jobs")
    val (built, appended) = (vecs(0 until 2000), vecs(2000 until 2200))
    Pq.pqBuild(built, path, m = 4, ksub = 16, rotate = true)
    Pq.pqAppend(spark, path, appended)
    Pq.pqDelete(spark, path, Seq(1L, 2L, 3L).toDF("vec_id"))
    Pq.pqDelete(spark, path, Seq(2100L).toDF("vec_id"))
    val queries = (0 until 16).map(i => (-1L - i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("query_id", "query_vec")
    (path, built.unionByName(appended), queries)
  }

  private def plainFlatPqRun() = {
    val (path, _, queries) = churnedFlat
    Ran(spark)(Pq.pqSearch(spark, path, queries, k = 10).collect())
  }

  test("one flat PQ search runs at most 6 jobs and no shuffle stage") {
    val (hits, search) = plainFlatPqRun()
    assert(hits.length === 160)
    // the scan: meta, codebooks, rotation and tombstones are read on the
    // driver, codes/ with a declared schema (5 jobs before)
    assert(search.jobs === 1, s"one search ran ${search.jobs} jobs")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
  }

  test("one refined flat PQ search runs at most 2 jobs more than the plain one, no shuffle stage") {
    val (path, corpus, queries) = churnedFlat
    val (hits, search) = Ran(spark)(Pq.pqSearchRefined(spark, path, queries, corpus,
      k = 10, candidateK = 64).collect())
    assert(hits.length === 160)
    // the plain search's scan, then the corpus scan
    val plain = plainFlatPqRun()._2.jobs
    assert(search.jobs === plain + 1 && search.jobs === 2,
      s"one refined search ran ${search.jobs} jobs (plain: $plain)")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
  }

  /** The ADC top-k over the live stored codes, computed here from the
    * stored meta, codebooks, centroids and codes: q·u ≈ Σ_j table(j, code_j)
    * (+ q·w_list, w the list's unit centroid, in residual mode). A flat
    * index has no centroids and is never residual. */
  private def adcReference(path: String, residual: Boolean, live: Long => Boolean,
                           qs: Seq[(Long, Array[Float])], k: Int): Seq[(Long, Long, Double, Int)] = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (m, ksub, dim) = (meta.getAs[Int]("m"), meta.getAs[Int]("ksub"), meta.getAs[Int]("dim"))
    val books = spark.read.parquet(s"$path/codebooks").as[(Int, Int, Array[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val units = if (!residual) Map.empty[Int, Array[Double]]
      else spark.read.parquet(s"$path/centroids").as[(Int, Array[Double])].collect()
        .map { case (l, c) =>
          val ss = c.map(x => x * x).sum
          l -> (if (ss == 0.0) c.map(_ => 0.0) else { val inv = 1.0 / math.sqrt(ss); c.map(_ * inv) })
        }.toMap
    val codes = spark.read.parquet(s"$path/codes")
    val stored = (if (residual) codes.select($"vec_id", $"list_id", $"codes")
        else codes.select($"vec_id", lit(0).as("list_id"), $"codes"))
      .as[(Long, Int, Array[Byte])].collect().filter(r => live(r._1))
    val dsub = dim / m
    def dotFrom(u: Array[Double], from: Int, c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) { s += u(from + i) * c(i); i += 1 }
      s
    }
    qs.flatMap { case (qid, v) =>
      val ss = v.map(x => x.toDouble * x).sum
      if (ss == 0.0) Nil
      else {
        val inv = 1.0 / math.sqrt(ss)
        val u = v.map(_.toDouble * inv)
        stored.map { case (id, list, codes) =>
          var adc = 0.0
          (0 until m).foreach { j =>
            adc += books.get((j, codes(j) & 0xFF)).map(dotFrom(u, j * dsub, _)).getOrElse(0.0)
          }
          (id, adc + (if (residual) dotFrom(u, 0, units(list)) else 0.0))
        }.sortBy { case (id, score) => (-score, id) }.take(k).zipWithIndex
          .map { case ((id, score), r) => (qid, id, score, r + 1) }.toSeq
      }
    }
  }

  test("ivfPqSearch at nprobe = nlist equals the ADC top-k over the live rows, flat and residual") {
    val rnd = new scala.util.Random(5)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    // ids 300-309 repeat the vectors of ids 0-9: equal codes, exact ties
    // the lower id must win
    val dups = (0 until 10).map(i => (300L + i, base(i)._2))
    val appended = (310 until 360).map(i => (i.toLong, vec()))
    val deleted = ((0L until 360L by 9L) :+ 303L).toSet
    // a row re-appended under a deleted id stays hidden
    val reappended = deleted.toSeq.sorted.take(4).map(i => (i, vec()))
    val qs = (Seq(base(1)._2, base(9)._2) ++ Seq.fill(3)(vec()) :+ Array.fill(8)(0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val queries = qs.toDF("query_id", "query_vec")
    val (delA, delB) = deleted.toSeq.sorted.splitAt(deleted.size / 2)
    val ivf = Seq(false, true).map { residual =>
      val path = tmpIdx(s"ivfpq_eq_$residual")
      Pq.ivfPqBuild((base ++ dups).toDF("vec_id", "embedding"), path, nlist = 4, m = 4,
        ksub = 16, residual = residual)
      Pq.ivfPqAppend(spark, path, appended.toDF("vec_id", "embedding"))
      Pq.ivfPqDelete(spark, path, delA.toDF("vec_id"))
      Pq.ivfPqDelete(spark, path, delB.toDF("vec_id"))
      Pq.ivfPqAppend(spark, path, reappended.toDF("vec_id", "embedding"))
      s"ivfPqSearch, residual = $residual" -> (Pq.ivfPqSearch(spark, path, queries, k = 7,
        nprobe = 4), adcReference(path, residual, id => !deleted.contains(id), qs, k = 7))
    }
    // the same churn on a flat index: installments 0, 1 and 2
    val flat = tmpIdx("pq_eq")
    Pq.pqBuild((base ++ dups).toDF("vec_id", "embedding"), flat, m = 4, ksub = 16)
    Pq.pqAppend(spark, flat, appended.toDF("vec_id", "embedding"))
    Pq.pqDelete(spark, flat, delA.toDF("vec_id"))
    Pq.pqDelete(spark, flat, delB.toDF("vec_id"))
    Pq.pqAppend(spark, flat, reappended.toDF("vec_id", "embedding"))
    (ivf ++ Seq(
      "pqSearch" -> (Pq.pqSearch(spark, flat, queries, k = 7),
        adcReference(flat, residual = false, id => !deleted.contains(id), qs, k = 7)),
      // installment 0 holds ids below 310, and the deletes apply to it too
      "pqSearch as of installment 0" -> (Pq.pqSearch(spark, flat, queries, k = 7,
        asOfInstallment = 0), adcReference(flat, residual = false,
        id => !deleted.contains(id) && id < 310L, qs, k = 7))
    )).foreach { case (arm, (result, expected)) =>
      val got = result.as[(Long, Long, Double, Int)].collect()
      assert(got.toSet === expected.toSet, arm)
      assert(got.length === 5 * 7, arm)
      assert(got.filter(_._1 == 0L).sortBy(_._4).map(_._2).toSeq.containsSlice(Seq(1L, 301L)),
        s"the tie goes to the lower id ($arm)")
    }
  }

  test("ivfPqDeleteAt: a replayed installment replaces its id set, a later one adds to it") {
    val path = tmpIdx("ivfpq_delat")
    val corpus = embs.filter($"vec_id" < 40)
    Pq.ivfPqBuild(corpus, path, nlist = 2, m = 8, ksub = 8)
    val all = corpus.select("vec_id").as[Long].collect().toSet
    def hits(): Set[Long] = Pq.ivfPqSearch(spark, path, queries(1), k = 40, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(hits() === all)
    Pq.ivfPqDeleteAt(spark, path, Seq(1L, 2L).toDF("vec_id"), installment = 0)
    assert(hits() === all -- Set(1L, 2L))
    // a replay of installment 0 with a different id set replaces the first
    Pq.ivfPqDeleteAt(spark, path, Seq(3L).toDF("vec_id"), installment = 0)
    assert(hits() === all - 3L)
    // a later installment adds to the set
    Pq.ivfPqDeleteAt(spark, path, Seq(4L, 5L).toDF("vec_id"), installment = 1)
    assert(hits() === all -- Set(3L, 4L, 5L))
  }

  test("ivfPqBuild runs 7 Spark actions and at most 9 jobs: no corpus count") {
    val path = tmpIdx("build_jobs")
    embs.schema
    val (_, build) = Ran(spark)(Pq.ivfPqBuild(embs, path, nlist = 4, m = 8, ksub = 16))
    // the shape probe, the coarse and codebook fit samples, and the four
    // writes. Actions are seen on every thread; the jobs of the fit and
    // write futures count only when their pool thread inherited this
    // test's job group, so the job count is an upper bound
    assert(build.plans.size === 7, s"one build ran ${build.plans.size} actions")
    assert(build.jobs <= 9, s"one build ran ${build.jobs} jobs: ${build.jobSites}")
  }
}
