package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopK

/**
 * Product quantization (r16) — the TENTH persisted index family, and the
 * memory-bound ANN tier below [[Quantize]]'s scalar int8: a 64-dim
 * float32 embedding (256 B) stores as `m` bytes (8 B at m=8 — 32× less
 * than float, 8× less than SQ8), so a 100 TB embedding corpus's codes
 * fit where even int8 codes don't, and search scans at 1/32 of the float
 * bandwidth. The classic construction (Jégou, Douze, Schmid, "Product
 * Quantization for Nearest Neighbor Search", TPAMI 2011; FAISS `PQ<m>`):
 *
 *   - TRAIN: split the (unit-normalized) vector into `m` subvectors of
 *     dim/m dims; per subspace, k-means `ksub` centroids (≤ 256 — one
 *     byte per subspace). Distributed MLlib fits, one per subspace —
 *     maintenance-cadence, never per batch.
 *   - ENCODE: per subspace, the nearest centroid's id → one byte; the
 *     vector becomes `m` bytes.
 *   - SEARCH (ADC, asymmetric distance computation): per query, an
 *     m×ksub table of subspace inner products query⋅centroid (the query
 *     stays FULL precision — only the corpus is quantized); a stored
 *     code scores as the sum of `m` table lookups ≈ cosine (corpus
 *     vectors are unit-normalized before encoding, queries normalize in
 *     the table build). No per-pair float dot — the scan cost is m
 *     lookups per stored row.
 *
 * Approximation contract: ADC scores are ranking-grade, not
 * score-parity-grade (the float-IVF family's granularity, NOT int8's
 * bit-exactness) — the declared queries therefore pin the REFINED form
 * ([[pqSearchRefined]]: ADC candidate pool → exact float re-rank, the
 * FAISS IndexRefineFlat composition == [[Quantize.int8SearchRefined]]'s
 * shape), whose answer equals the exact float top-k once the pool
 * certainly contains it.
 *
 * Installment-family contracts (all four, the shared design):
 * append-only `codes/installment=N` with STORED meta+codebooks (a batch
 * encoded later uses the build's exact codebooks — installments can
 * never disagree), `asOfInstallment` snapshot reads, replay-idempotent
 * [[pqAppendAt]], and the tombstone delete lifecycle
 * ([[graft.store.Tombstones]] — takedown semantics, physical fold at
 * [[pqCompact]]).
 *
 * Scale shape: probe-path invariant throughout — queries (with their ADC
 * tables, m·ksub doubles each) broadcast; the code scan streams map-side
 * and never shuffles; top-k is the bounded aggregator. Codebooks are
 * m·ksub·(dim/m) doubles (m=8, ksub=256, dim=64 → 16k doubles) — a
 * driver-side constant, the readCentroids pattern.
 *
 * Optional quality tier (r17): `rotate = true` at build applies a STORED
 * seeded random orthonormal rotation before the subspace split
 * ([[rotationMatrix]] — the OPQ-family lift at the same byte budget);
 * `rotation/` presence is the flag, so pre-r17 indexes read unchanged
 * and appends/searches can never disagree with the build.
 */
object Pq {

  /** Seeded random orthonormal dim×dim rotation (r17): the
    * subspace-balancing pre-transform of the OPQ family (Ge, He, Ke,
    * Sun, "Optimized Product Quantization", CVPR 2013 — the full OPQ
    * learns R iteratively; FAISS ships this RANDOM-rotation tier as
    * `RandomRotationMatrix`, the standard cheap recall lift when a
    * few dimensions carry most of the variance and a fixed subspace
    * split would starve the rest). Gaussian fill + modified
    * Gram-Schmidt; deterministic for a given dim. Rotation preserves
    * norms and inner products, so ADC scores still approximate the
    * cosine of the ORIGINAL vectors. */
  private[index] def rotationMatrix(dim: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(42L + dim)
    val r = Array.fill(dim, dim)(rnd.nextGaussian())
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        var d = 0.0
        var k = 0
        while (k < dim) { d += r(i)(k) * r(j)(k); k += 1 }
        k = 0
        while (k < dim) { r(i)(k) -= d * r(j)(k); k += 1 }
        j += 1
      }
      var ss = 0.0
      var k = 0
      while (k < dim) { ss += r(i)(k) * r(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(ss)
      k = 0
      while (k < dim) { r(i)(k) *= inv; k += 1 }
      i += 1
    }
    r
  }

  private def applyRotation(rot: Array[Array[Double]],
                            u: Array[Double]): Array[Double] = {
    if (rot == null) return u
    val n = u.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = rot(i)
      var s = 0.0
      var k = 0
      while (k < n) { s += row(k) * u(k); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Unit-normalize a float vector to doubles; null for null/zero-norm
    * input (zero-norm rows have no cosine and are excluded everywhere,
    * the family rule). */
  private def normalize(v: Seq[Float]): Array[Double] = {
    if (v == null) return null
    var ss = 0.0
    var i = 0
    while (i < v.length) { val d = v(i).toDouble; ss += d * d; i += 1 }
    if (ss == 0.0 || ss.isNaN) return null
    val inv = 1.0 / math.sqrt(ss)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i).toDouble * inv; i += 1 }
    out
  }

  /** Fit per-subspace codebooks over unit-normalized subvectors:
    * `[m][ksub][dim/m]`, each subspace its own seeded MLlib KMeans
    * (deterministic — the fitCentroids discipline). The m fits are
    * INDEPENDENT and run as concurrent Spark jobs (driver threads over
    * one checkpointed sample — m sequential small fits were pure
    * scheduler latency, ~0.9 s each on local[32]; results are
    * identical, each fit is its own seeded computation).
    *
    * The training sample is ROW-bounded, not fraction-based (r17): a
    * fraction scales linearly with the corpus, so at the 100 TB design
    * point a 0.5 sample is ~50 TB of training input per maintenance fit
    * for codebooks that need ~10⁵ points per subspace (FAISS practice:
    * ~256·ksub training points). The fraction derives from one cheap
    * count; the seeded Bernoulli sample keeps determinism (same corpus
    * → same count → same fraction → same sample). */
  private def fitCodebooks(corpus: DataFrame, vecCol: String, m: Int,
                           ksub: Int, maxFitRows: Long, dim: Int,
                           rot: Array[Array[Double]] = null,
                           residCenters: Array[Array[Double]] = null,
                           residAnchors: Array[Array[Double]] = null)
      : Array[Array[Array[Double]]] = {
    // ONE hash-ranked bounded collect (r17 optimization round — see
    // [[KMeansLocal]]): the sample is ≤ maxFitRows points by design, so
    // the m per-subspace fits are pure driver math over slices of it.
    // The replaced shape paid a count() pass (Bernoulli fraction), a
    // localCheckpoint, and m concurrent MLlib fits of ~15 scheduler
    // round-trips each — all for a driver-side-constant training set.
    val sample = KMeansLocal.boundedSample(
      corpus.select(col(vecCol).as("_pq_v")), "_pq_v", maxFitRows)
    val dsub = dim / m
    // normalize → (residual subtract) → rotate, once per sample row —
    // the exact transform chain of the encode path; zero-norm and
    // wrong-dim rows drop (the family rule)
    val prepped = new scala.collection.mutable.ArrayBuffer[Array[Double]](sample.length)
    sample.foreach { a =>
      if (a.length == dim) {
        var ss = 0.0
        var i = 0
        while (i < dim) { ss += a(i) * a(i); i += 1 }
        if (ss != 0.0 && !ss.isNaN) {
          val inv = 1.0 / math.sqrt(ss)
          val u0 = new Array[Double](dim)
          i = 0
          while (i < dim) { u0(i) = a(i) * inv; i += 1 }
          val u1 =
            if (residCenters == null) u0
            else {
              // residual training: subtract the training row's own
              // nearest list's anchor (assignment parity with the
              // encode path is immaterial for a training DISTRIBUTION)
              val anchor = residAnchors(nearestListD(a, residCenters))
              val r = new Array[Double](dim)
              var t = 0
              while (t < dim) { r(t) = u0(t) - anchor(t); t += 1 }
              r
            }
          prepped += applyRotation(rot, u1)
        }
      }
    }
    val pts = prepped.toArray
    (0 until m).map { j =>
      val sub = pts.map(u =>
        java.util.Arrays.copyOfRange(u, j * dsub, (j + 1) * dsub))
      KMeansLocal.fit(sub, ksub, seed = 42L + j, maxIter = 10)
    }.toArray
  }

  /** Encode one unit-normalized vector against codebooks → m bytes;
    * null for null/zero-norm input — AND for wrong-dimension input
    * (r17): dsub derives from the STORED dim, never the row's own
    * length, so a mis-dimensioned append row excludes (the zero-norm
    * family rule) instead of silently encoding against wrong codebook
    * slices. */
  private def encodeUdf(books: Array[Array[Array[Double]]], dim: Int,
                        rot: Array[Array[Double]] = null) =
    udf { (v: Seq[Float]) =>
      val u0 = normalize(v)
      if (u0 == null || u0.length != dim) null
      else {
        val u = applyRotation(rot, u0)
        val m = books.length
        val dsub = dim / m
        val out = new Array[Byte](m)
        var j = 0
        while (j < m) {
          val cb = books(j)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            val cent = cb(c)
            var s = 0.0
            var i = 0
            while (i < dsub) {
              val d = u(j * dsub + i) - cent(i)
              s += d * d
              i += 1
            }
            if (s < bestD) { bestD = s; best = c }
            c += 1
          }
          out(j) = best.toByte
          j += 1
        }
        out
      }
    }

  /** Per-query ADC lookup table: flat m·ksub doubles,
    * `table(j·ksub + c) = q_sub_j ⋅ centroid_{j,c}` over the normalized
    * query; null for zero-norm queries. */
  private def tableUdf(books: Array[Array[Array[Double]]], ksub: Int,
                       dim: Int, rot: Array[Array[Double]] = null) =
    udf { (v: Seq[Float]) =>
      val u0 = normalize(v)
      if (u0 == null || u0.length != dim) null
      else {
        val u = applyRotation(rot, u0)
        val m = books.length
        val dsub = dim / m
        val out = new Array[Double](m * ksub)
        var j = 0
        while (j < m) {
          val cb = books(j)
          var c = 0
          while (c < cb.length) {
            val cent = cb(c)
            var s = 0.0
            var i = 0
            while (i < dsub) { s += u(j * dsub + i) * cent(i); i += 1 }
            out(j * ksub + c) = s
            c += 1
          }
          j += 1
        }
        out
      }
    }

  /** ADC score: m table lookups, fixed summation order (deterministic). */
  private val adcScoreUdf =
    udf { (codes: Array[Byte], table: Seq[Double], ksub: Int) =>
      if (codes == null || table == null) None
      else {
        var s = 0.0
        var j = 0
        while (j < codes.length) {
          s += table(j * ksub + (codes(j) & 0xFF))
          j += 1
        }
        Some(s)
      }
    }

  /** (m, ksub, dim, residual) — `residual` reads by NAME with a false
    * default, so flat-PQ and pre-r17 IVF-PQ metas (3 columns) parse
    * unchanged. */
  private def readMeta(spark: SparkSession, path: String)
      : (Int, Int, Int, Boolean) = {
    val df = spark.read.parquet(s"$path/meta")
    val r = df.head()
    val res = df.columns.contains("residual") &&
      r.getAs[Int]("residual") == 1
    (r.getAs[Int]("m"), r.getAs[Int]("ksub"), r.getAs[Int]("dim"), res)
  }

  /** Unit-normalized coarse centroids — the u-space anchors residual
    * encoding subtracts. A zero-norm centroid (degenerate fit) anchors
    * at the origin: its list's residuals are the vectors themselves. */
  private def normCenters(centers: Array[Array[Double]])
      : Array[Array[Double]] = centers.map { c =>
    var ss = 0.0
    var i = 0
    while (i < c.length) { ss += c(i) * c(i); i += 1 }
    if (ss == 0.0) new Array[Double](c.length)
    else {
      val inv = 1.0 / math.sqrt(ss)
      c.map(_ * inv)
    }
  }

  /** Nearest coarse list by squared distance on the RAW float vector —
    * the training-side twin of SimilarityIndex.assignUdf (encode paths
    * take the assigned list as an ARGUMENT instead, so stored codes can
    * never disagree with their partition). */
  /** [[nearestList]] over an already-converted double vector (the
    * driver-local fit path) — identical arithmetic: the float variant
    * promotes each element to double before subtracting. */
  private def nearestListD(v: Array[Double],
                           centers: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < centers.length) {
      val c = centers(j)
      var s = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  private def nearestList(v: Seq[Float],
                          centers: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < centers.length) {
      val c = centers(j)
      var s = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  /** The nearest-centroid encode core over an (already normalized,
    * rotated, residualized) double vector. */
  private def encodeVec(books: Array[Array[Array[Double]]],
                        u: Array[Double]): Array[Byte] = {
    val m = books.length
    val dsub = u.length / m
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val cb = books(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val d = u(j * dsub + i) - cent(i)
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Residual encode: the row's assigned list rides in as an argument
    * (from the same assignUdf that partitions it — codes and
    * partitions can never disagree); the normalized vector minus the
    * list's unit-normalized centroid encodes against the residual
    * codebooks. */
  private def encodeResidualUdf(books: Array[Array[Array[Double]]],
                                dim: Int,
                                w: Array[Array[Double]]) =
    udf { (v: Seq[Float], list: Int) =>
      val u0 = normalize(v)
      if (u0 == null || u0.length != dim) null
      else {
        val anchor = w(list)
        val r = new Array[Double](dim)
        var i = 0
        while (i < dim) { r(i) = u0(i) - anchor(i); i += 1 }
        encodeVec(books, r)
      }
    }

  /** Per-(query, probed-list) residual base term: score = q·u =
    * q·w_list + q·(u − w_list), and the second term is the ADC sum —
    * this udf is the first. */
  private def qBaseUdf(w: Array[Array[Double]], dim: Int) =
    udf { (v: Seq[Float], list: Int) =>
      val u = normalize(v)
      if (u == null || u.length != dim) None
      else {
        val anchor = w(list)
        var s = 0.0
        var i = 0
        while (i < dim) { s += u(i) * anchor(i); i += 1 }
        Some(s)
      }
    }

  /** Codebooks may be RAGGED: k-means returns fewer than `ksub` centers
    * when the (sampled) training set is smaller — codes are dense
    * 0..len-1 per subspace either way, and the stored `ksub` stays the
    * ADC table STRIDE (an upper bound on every subspace's width). */
  private def readCodebooks(spark: SparkSession, path: String, m: Int,
                            ksub: Int): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebooks")
      .select("sub", "code", "centroid").collect()
    val bySub = rows.groupBy(_.getInt(0))
    (0 until m).toArray.map { j =>
      val subRows = bySub.getOrElse(j, Array.empty)
      val cb = new Array[Array[Double]](subRows.length)
      subRows.foreach(r => cb(r.getInt(1)) = r.getSeq[Double](2).toArray)
      cb
    }
  }

  /** The stored rotation, or null when the index was built without one
    * (`rotation/` absence IS the flag — pre-r17 indexes read
    * unchanged). */
  private def readRotation(spark: SparkSession, path: String,
                           dim: Int): Array[Array[Double]] = {
    if (!graft.store.dirExists(spark, s"$path/rotation")) return null
    val rows = spark.read.parquet(s"$path/rotation")
      .select("i", "row").collect()
    val r = new Array[Array[Double]](dim)
    rows.foreach(x => r(x.getInt(0)) = x.getSeq[Double](1).toArray)
    r
  }

  private def writeRotation(spark: SparkSession, path: String,
                            rot: Array[Array[Double]]): Unit = {
    import spark.implicits._
    rot.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "row")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  /**
   * Build a PQ index: fit codebooks, encode the corpus, persist
   * `meta/` (m, ksub, dim), `codebooks/` and `codes/installment=0`.
   * `ksub` ≤ 256 (one byte per subspace); the vector dim must divide
   * by `m`. A rebuild starts a new generation (tombstones clear).
   * `maxFitRows` bounds the codebook training sample by ROW COUNT
   * (≤ 0 = the FAISS-practice default `max(256·ksub, 10⁴)` — a
   * corpus-independent fit cost; pass `Long.MaxValue` to train on
   * everything).
   */
  def pqBuild(corpus: DataFrame, path: String, m: Int = 8, ksub: Int = 256,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              maxFitRows: Long = 0L, rotate: Boolean = false): Unit = {
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"need 1 <= ksub <= 256 (one byte per subspace), got m=$m ksub=$ksub")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(col(corpusVec)).filter(col(corpusVec).isNotNull)
      .limit(1).collect().headOption
      .map(_.getSeq[Float](0).length)
      .getOrElse(throw new IllegalArgumentException(
        s"pqBuild: no non-null $corpusVec rows to size the index from"))
    require(dim % m == 0, s"vector dim $dim must divide by m=$m")
    val fitRows =
      if (maxFitRows > 0L) maxFitRows else math.max(256L * ksub, 10000L)
    // `rotate` (r17): seeded random orthonormal pre-rotation before the
    // subspace split (the OPQ-family recall lift at the same byte
    // budget — see [[rotationMatrix]]); STORED like the codebooks, so
    // appends and searches can never disagree with the build
    val rot = if (rotate) rotationMatrix(dim) else null
    if (rotate) writeRotation(spark, path, rot)
    else {
      val rp = new org.apache.hadoop.fs.Path(s"$path/rotation")
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(rp, true) // a rebuild without rotation clears the old one
    }
    val books = fitCodebooks(corpus, corpusVec, m, ksub, fitRows, dim, rot)
    // the three writes are independent given (books, rot) — overlap
    // them (guide §2.6); all awaited before return
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val w = Seq(
      Future {
        books.zipWithIndex.flatMap { case (cb, j) =>
          cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
        }.toSeq.toDF("sub", "code", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$path/codebooks")
      },
      Future {
        spark.createDataFrame(Seq((m, ksub, dim))).toDF("m", "ksub", "dim")
          .write.mode("overwrite").parquet(s"$path/meta")
      },
      Future {
        corpus.select(col(corpusId),
            encodeUdf(books, dim, rot)(col(corpusVec)).as("codes"))
          .filter(col("codes").isNotNull)
          .write.mode("overwrite").parquet(s"$path/codes/installment=0")
      })
    Await.result(Future.sequence(w), Duration.Inf)
    graft.store.Tombstones.clear(spark, path)
  }

  /** Encode a new batch with the STORED codebooks and append it as the
    * next installment (new ids only — the shared append contract). */
  def pqAppend(spark: SparkSession, path: String, newDf: DataFrame,
               corpusId: String = "vec_id",
               corpusVec: String = "embedding"): Unit =
    pqAppendAt(spark, path, newDf,
      graft.store.Installments.next(spark, s"$path/codes"),
      corpusId, corpusVec)

  /** [[pqAppend]] at an EXPLICIT installment — the replay-idempotent
    * `*AppendAt` form: a retry overwrites exactly its own partition
    * dir, codes can never duplicate. Callers own the numbering. */
  def pqAppendAt(spark: SparkSession, path: String, newDf: DataFrame,
                 installment: Int, corpusId: String = "vec_id",
                 corpusVec: String = "embedding"): Unit = {
    val (m, ksub, dim, _) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    newDf.select(col(corpusId),
        encodeUdf(books, dim, rot)(col(corpusVec)).as("codes"))
      .filter(col("codes").isNotNull)
      .write.mode("overwrite").parquet(s"$path/codes/installment=$installment")
  }

  /**
   * ADC search: per-query lookup tables broadcast with the queries, one
   * map-side scan of the (tombstone-filtered, optionally snapshot-pinned)
   * stored codes, bounded top-k. Output (queryId, corpusId, score_pq,
   * rank) — `score_pq` approximates cosine at ranking granularity.
   */
  def pqSearch(spark: SparkSession, path: String, queries: DataFrame,
               k: Int, corpusId: String = "vec_id",
               queryId: String = "query_id", queryVec: String = "query_vec",
               asOfInstallment: Int = Int.MaxValue): DataFrame = {
    val (m, ksub, dim, _) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    val codes0 = spark.read.parquet(s"$path/codes")
    val codes1 = if (asOfInstallment == Int.MaxValue) codes0
      else codes0.filter(col("installment") <= asOfInstallment)
    val c = graft.store.Tombstones.filter(spark, path, codes1, corpusId)
      .select(col(corpusId), col("codes"))
    val q = queries
      .select(col(queryId),
        tableUdf(books, ksub, dim, rot)(col(queryVec)).as("_qt"))
      .filter(col("_qt").isNotNull)
    val scored = c.join(broadcast(q), lit(true))
      .withColumn("score_pq",
        adcScoreUdf(col("codes"), col("_qt"), lit(ksub)))
      .select(col(queryId), col(corpusId), col("score_pq"))
    TopK.topKPerGroup(scored, queryId, corpusId, "score_pq", k)
  }

  /**
   * PQ search with EXACT float re-ranking — the IndexRefineFlat
   * composition ([[Quantize.int8SearchRefined]]'s shape): the m-byte
   * codes generate a `candidateK` pool per query at 1/32 the float scan
   * bandwidth, then the pool re-scores against the caller's ORIGINAL
   * float corpus by exact cosine and cuts to top-k. PQ error only
   * shuffles ranks INSIDE the pool, so with candidateK ≫ k the answer
   * equals the exact float top-k — full-precision results at
   * memory-bound scan cost. Pool and query vectors broadcast into the
   * corpus read; the corpus never shuffles.
   */
  def pqSearchRefined(spark: SparkSession, path: String, queries: DataFrame,
                      corpus: DataFrame, k: Int, candidateK: Int = 64,
                      corpusId: String = "vec_id",
                      corpusVec: String = "embedding",
                      queryId: String = "query_id",
                      queryVec: String = "query_vec",
                      asOfInstallment: Int = Int.MaxValue): DataFrame = {
    require(candidateK >= k,
      s"candidateK ($candidateK) must be at least k ($k)")
    val pool = pqSearch(spark, path, queries, candidateK, corpusId,
      queryId, queryVec, asOfInstallment)
      .select(col(queryId), col(corpusId))
    val rescored = corpus.select(col(corpusId), col(corpusVec))
      .join(broadcast(pool), Seq(corpusId))
      .join(broadcast(queries.select(col(queryId), col(queryVec))),
        Seq(queryId))
      .withColumn("cosine",
        graft.functions.expressions.CosineSimilarity.cosineNative(
          col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cosine"))
    TopK.topKPerGroup(rescored, queryId, corpusId, "cosine", k)
  }

  /** Tombstone ids out of the index (takedown semantics — applies to
    * asOf snapshots too; [[pqCompact]] folds physically). */
  def pqDelete(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String = "vec_id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /** [[pqDelete]] at an EXPLICIT deletes installment — replays overwrite
    * their own partition (the `*DeleteAt` contract). */
  def pqDeleteAt(spark: SparkSession, path: String, ids: DataFrame,
                 installment: Int, idCol: String = "vec_id"): Unit =
    graft.store.Tombstones.appendAt(spark, path, ids, idCol, installment)

  /** Fold every `installment=` partition into ONE, dropping tombstoned
    * rows physically and clearing the deletes list (the int8Compact
    * sibling — [[graft.store.Tombstones.fold]]; code bytes untouched, so
    * search results are identical; asOf snapshots are only meaningful
    * between compactions). Returns the surviving row count. */
  def pqCompact(spark: SparkSession, path: String,
                corpusId: String = "vec_id"): Long = {
    val rows = graft.store.Tombstones.fold(spark, path, "codes", corpusId)
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  // --------------------------------------------------------------- IVF-PQ

  /**
   * IVF-PQ (r17) — the billion-scale default composition (FAISS
   * `IVF<nlist>,PQ<m>`, non-residual form): [[graft.index.SimilarityIndex]]'s
   * coarse k-means routing over THIS file's m-byte PQ codes, so an ADC
   * probe reads ~nprobe/nlist of the codes instead of scanning them
   * all — the flat [[pqSearch]] scan cost times the IVF pruning factor,
   * on top of PQ's 32× byte compression. The layout is the ivfSq8Build
   * two-level contract verbatim: `centroids/` (float routing table),
   * `codebooks/` + `meta/` (STORED — appends can never disagree),
   * `codes/list_id=X/ingest=N/` (list pruning at the top,
   * replay-overwritable ingest below, landed via DYNAMIC partition
   * overwrite), an optional `raw/` refine sidecar in LOCKSTEP, and the
   * tombstone delete lifecycle with a physical fold at [[ivfPqCompact]].
   *
   * Approximation contract: like flat PQ, ADC scores are ranking-grade;
   * the declared exactness path is [[ivfPqSearchRefined]] (pool → exact
   * float re-rank over the probed lists' raw vectors), which equals the
   * exact float top-k over the PROBED LISTS once the pool covers it —
   * and equals the global exact top-k at nprobe = nlist.
   */
  def ivfPqBuild(corpus: DataFrame, path: String, nlist: Int = 64,
                 m: Int = 8, ksub: Int = 256,
                 corpusId: String = "vec_id", corpusVec: String = "embedding",
                 maxFitRows: Long = 0L, storeRaw: Boolean = false,
                 rotate: Boolean = false,
                 residual: Boolean = false): Unit = {
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"need 1 <= ksub <= 256 (one byte per subspace), got m=$m ksub=$ksub")
    require(!(rotate && residual),
      "rotate and residual do not compose here: the rotation is defined " +
        "on the vector space, the residual codebooks on anchor offsets — " +
        "pick one tier (FAISS's OPQ+residual needs rotated coarse " +
        "centroids, a different layout)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(col(corpusVec)).filter(col(corpusVec).isNotNull)
      .limit(1).collect().headOption
      .map(_.getSeq[Float](0).length)
      .getOrElse(throw new IllegalArgumentException(
        s"ivfPqBuild: no non-null $corpusVec rows to size the index from"))
    require(dim % m == 0, s"vector dim $dim must divide by m=$m")
    val fitRows =
      if (maxFitRows > 0L) maxFitRows else math.max(256L * ksub, 10000L)
    // coarse routing fit shares the row-bounded discipline: fraction
    // derived from one count, seeded — corpus-independent fit cost.
    // The coarse fit and the m codebook fits are INDEPENDENT seeded
    // computations — run them as concurrent Spark jobs (the
    // fitCodebooks discipline; sequentially the coarse KMeans'
    // ~10 iterations are pure added wall-clock)
    val n = corpus.select(col(corpusVec)).count()
    val coarseFrac =
      if (n > fitRows) fitRows.toDouble / n else 1.0
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // rotation applies to the PQ encode only; the coarse routing stays
    // on the ORIGINAL float vectors (rotation preserves distances, so
    // either convention is valid — original keeps assignUdf shared and
    // every call site consistent by construction)
    val rot = if (rotate) rotationMatrix(dim) else null
    if (rotate) writeRotation(spark, path, rot)
    else {
      val rp = new org.apache.hadoop.fs.Path(s"$path/rotation")
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(rp, true)
    }
    val coarseF = Future {
      SimilarityIndex.fitCentroids(corpus, corpusVec, nlist, coarseFrac)
    }
    def fitBooks(rc: Array[Array[Double]],
                 ra: Array[Array[Double]]): Array[Array[Array[Double]]] =
      fitCodebooks(corpus, corpusVec, m, ksub, fitRows, dim, rot, rc, ra)
    // RESIDUAL mode (r17 — FAISS's `by_residual` default): the PQ
    // codebooks train on (normalized vector − the assigned list's
    // unit-normalized centroid), so codes spend their 256 cells on the
    // WITHIN-list offsets instead of the whole sphere — the recall
    // lift that makes small-nprobe IVF-PQ usable. Scoring: q·u =
    // q·w_list + q·residual; the first term is one scalar per
    // (query, probed list), the second the usual ADC sum. The codebook
    // fit must WAIT for the coarse centers in this mode (it trains on
    // their residuals); non-residual keeps the concurrent fits.
    val (centers, books) =
      if (!residual) {
        val booksF = Future { fitBooks(null, null) }
        val c = Await.result(coarseF, Duration.Inf)
        (c, Await.result(booksF, Duration.Inf))
      } else {
        val c = Await.result(coarseF, Duration.Inf)
        (c, fitBooks(c, normCenters(c)))
      }
    val assigned = corpus.select(col(corpusId),
      SimilarityIndex.assignUdf(centers)(col(corpusVec)).as("list_id"),
      col(corpusVec))
    val enc: org.apache.spark.sql.Column =
      if (residual)
        encodeResidualUdf(books, dim, normCenters(centers))(
          col(corpusVec), col("list_id"))
      else encodeUdf(books, dim, rot)(col(corpusVec))
    // the five writes are independent given (centers, books) — overlap
    // them (guide §2.6, the concurrent-fits precedent above); all
    // awaited before return, so the on-disk contract is unchanged
    val writes = Seq(
      Future {
        centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
          .toDF("list_id", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$path/centroids")
      },
      Future {
        books.zipWithIndex.flatMap { case (cb, j) =>
          cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
        }.toSeq.toDF("sub", "code", "centroid")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$path/codebooks")
      },
      Future {
        spark.createDataFrame(Seq((m, ksub, dim, if (residual) 1 else 0)))
          .toDF("m", "ksub", "dim", "residual")
          .write.mode("overwrite").parquet(s"$path/meta")
      },
      Future {
        assigned.select(col(corpusId), col("list_id"), enc.as("codes"))
          .filter(col("codes").isNotNull)
          .withColumn("ingest", lit(0))
          .write.mode("overwrite").partitionBy("list_id", "ingest")
          .parquet(s"$path/codes")
      }) ++
      // refine sidecar: ORIGINAL float vectors under the SAME list
      // assignment, so the exact re-rank reads only probed lists (the
      // ivfSq8 raw/ contract — lockstep through append and compact)
      (if (storeRaw) Seq(Future {
        assigned.filter(enc.isNotNull)
          .withColumn("ingest", lit(0))
          .write.mode("overwrite").partitionBy("list_id", "ingest")
          .parquet(s"$path/raw")
      })
      else Nil)
    Await.result(Future.sequence(writes), Duration.Inf)
    graft.store.Tombstones.clear(spark, path)
  }

  /** Fold a new batch in against the FROZEN centroids and codebooks
    * (map-side assignment + encode; re-fit with [[ivfPqBuild]] when the
    * distribution drifts). */
  def ivfPqAppend(spark: SparkSession, path: String, newDf: DataFrame,
                  corpusId: String = "vec_id",
                  corpusVec: String = "embedding"): Unit =
    ivfPqAppendAt(spark, path, newDf,
      graft.store.Installments.nextIngest(spark, s"$path/codes"),
      corpusId, corpusVec)

  /** [[ivfPqAppend]] at an EXPLICIT ingest number — the replay-idempotent
    * form: the batch lands as `list_id=X/ingest=N/` dirs via DYNAMIC
    * partition overwrite, so a retry replaces exactly its own dirs and
    * the raw/ sidecar rides the identical numbering (never drifts). */
  def ivfPqAppendAt(spark: SparkSession, path: String, newDf: DataFrame,
                    ingest: Int, corpusId: String = "vec_id",
                    corpusVec: String = "embedding"): Unit = {
    val (m, ksub, dim, residual) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    val centers = SimilarityIndex.readCentroids(spark, path)
    val assigned = newDf.select(col(corpusId),
      SimilarityIndex.assignUdf(centers)(col(corpusVec)).as("list_id"),
      col(corpusVec))
    val enc: org.apache.spark.sql.Column =
      if (residual)
        encodeResidualUdf(books, dim, normCenters(centers))(
          col(corpusVec), col("list_id"))
      else encodeUdf(books, dim, rot)(col(corpusVec))
    assigned.select(col(corpusId), col("list_id"),
        enc.as("codes"))
      .filter(col("codes").isNotNull)
      .withColumn("ingest", lit(ingest))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("list_id", "ingest")
      .parquet(s"$path/codes")
    if (graft.store.dirExists(spark, s"$path/raw"))
      assigned.filter(enc.isNotNull)
        .withColumn("ingest", lit(ingest))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("list_id", "ingest")
        .parquet(s"$path/raw")
  }

  /** Routed ADC search: driver-resolved probe lists → partition-pruned
    * code scan → per-query broadcast ADC tables → bounded top-k. The
    * probe cost is ∝ the probed lists' codes, never the corpus. */
  def ivfPqSearch(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int, nprobe: Int = 8, corpusId: String = "vec_id",
                  queryId: String = "query_id",
                  queryVec: String = "query_vec"): DataFrame = {
    import spark.implicits._
    val (m, ksub, dim, residual) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    val centers = SimilarityIndex.readCentroids(spark, path)
    val qProbed = queries.withColumn("list_id",
      explode(SimilarityIndex.probeUdf(centers, nprobe)(col(queryVec))))
    val probedLists = qProbed.select("list_id").distinct().as[Int].collect()
      .map(_.asInstanceOf[Any])
    // residual base: q·u = q·w_list + ADC(residual) — one scalar per
    // (query, probed list), riding the same broadcast row as the table
    val qb: org.apache.spark.sql.Column =
      if (residual)
        qBaseUdf(normCenters(centers), dim)(col(queryVec), col("list_id"))
      else lit(0.0)
    val q = qProbed
      .select(col(queryId), col("list_id"),
        tableUdf(books, ksub, dim, rot)(col(queryVec)).as("_qt"),
        qb.as("_qb"))
      .filter(col("_qt").isNotNull)
    val c = graft.store.Tombstones.filter(spark, path,
        spark.read.parquet(s"$path/codes")
          .filter(col("list_id").isin(probedLists: _*)),
        corpusId)
      .select(col(corpusId), col("list_id"), col("codes"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .withColumn("score_pq",
        adcScoreUdf(col("codes"), col("_qt"), lit(ksub)) + col("_qb"))
      .select(col(queryId), col(corpusId), col("score_pq"))
    TopK.topKPerGroup(scored, queryId, corpusId, "score_pq", k)
  }

  /**
   * IVF-PQ with EXACT float re-ranking — FAISS's `IVF,PQ` +
   * `IndexRefineFlat`: the routed ADC scan generates a `candidateK`
   * pool per query over the probed lists only, then the pool re-scores
   * by exact cosine against the `raw/` sidecar (ALSO pruned to the
   * probed lists) and cuts to top-k. PQ error only shuffles ranks
   * inside the pool, so with the pool covering the probed lists' true
   * top-k the answer equals the exact float top-k over the probed
   * lists — and the GLOBAL exact top-k at nprobe = nlist. Pool and
   * query vectors broadcast into the raw read; no corpus-sized side
   * ever shuffles. Requires `storeRaw = true` at build.
   */
  def ivfPqSearchRefined(spark: SparkSession, path: String,
                         queries: DataFrame, k: Int, candidateK: Int = 64,
                         nprobe: Int = 8, corpusId: String = "vec_id",
                         corpusVec: String = "embedding",
                         queryId: String = "query_id",
                         queryVec: String = "query_vec"): DataFrame = {
    require(candidateK >= k,
      s"candidateK ($candidateK) must be at least k ($k)")
    require(graft.store.dirExists(spark, s"$path/raw"),
      s"$path has no raw/ refine sidecar — build with storeRaw = true " +
        "to enable refined search")
    import spark.implicits._
    val (m, ksub, dim, residual) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    val centers = SimilarityIndex.readCentroids(spark, path)
    val qProbed = queries.withColumn("list_id",
      explode(SimilarityIndex.probeUdf(centers, nprobe)(col(queryVec))))
    val probedLists = qProbed.select("list_id").distinct().as[Int].collect()
      .map(_.asInstanceOf[Any])
    val qb: org.apache.spark.sql.Column =
      if (residual)
        qBaseUdf(normCenters(centers), dim)(col(queryVec), col("list_id"))
      else lit(0.0)
    val q = qProbed
      .select(col(queryId), col("list_id"),
        tableUdf(books, ksub, dim, rot)(col(queryVec)).as("_qt"),
        qb.as("_qb"))
      .filter(col("_qt").isNotNull)
    val c = graft.store.Tombstones.filter(spark, path,
        spark.read.parquet(s"$path/codes")
          .filter(col("list_id").isin(probedLists: _*)),
        corpusId)
      .select(col(corpusId), col("list_id"), col("codes"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .withColumn("_spq",
        adcScoreUdf(col("codes"), col("_qt"), lit(ksub)) + col("_qb"))
      .select(col(queryId), col(corpusId), col("_spq"))
    val pool = TopK.topKPerGroup(scored, queryId, corpusId, "_spq",
        candidateK)
      .select(col(queryId), col(corpusId))
    val raw = spark.read.parquet(s"$path/raw")
      .filter(col("list_id").isin(probedLists: _*))
      .select(col(corpusId), col(corpusVec))
    val rescored = raw
      .join(broadcast(pool), Seq(corpusId))
      .join(broadcast(queries.select(col(queryId), col(queryVec))),
        Seq(queryId))
      .withColumn("cosine",
        graft.functions.expressions.CosineSimilarity.cosineNative(
          col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cosine"))
    TopK.topKPerGroup(rescored, queryId, corpusId, "cosine", k)
  }

  /** Tombstone ids out of the IVF-PQ index (takedown semantics;
    * [[ivfPqCompact]] folds physically). */
  def ivfPqDelete(spark: SparkSession, path: String, ids: DataFrame,
                  idCol: String = "vec_id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /** [[ivfPqDelete]] at an EXPLICIT deletes installment (the `*DeleteAt`
    * replay contract). */
  def ivfPqDeleteAt(spark: SparkSession, path: String, ids: DataFrame,
                    installment: Int, idCol: String = "vec_id"): Unit =
    graft.store.Tombstones.appendAt(spark, path, ids, idCol, installment)

  /** Fold the ingest history hash-clustered by list — the same
    * two-level layout as IVF-SQ8, so the same fold:
    * [[Quantize.ivfSq8Compact]] (tombstones drop physically; the raw/
    * sidecar folds in lockstep or refined searches would resurrect
    * deleted rows / lose appended ones). Returns the surviving code row
    * count. */
  def ivfPqCompact(spark: SparkSession, path: String,
                   corpusId: String = "vec_id"): Long =
    Quantize.ivfSq8Compact(spark, path, corpusId)
}
