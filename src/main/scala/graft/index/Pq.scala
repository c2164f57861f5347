package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
 * FAISS IndexRefineFlat composition == [[SimilarityIndex.refine]]), whose
 * answer equals the exact float top-k once the pool certainly contains it.
 *
 * Installment-family contracts (all four, the shared design):
 * append-only `codes/installment=N` with STORED meta+codebooks (a batch
 * encoded later uses the build's exact codebooks — installments can
 * never disagree), `asOfInstallment` snapshot reads, replay-idempotent
 * [[pqAppendAt]], and the tombstone delete lifecycle
 * ([[graft.store.Tombstones]] — takedown semantics, physical fold at
 * [[pqCompact]]).
 *
 * Scale shape: probe-path invariant throughout — the code scan streams
 * map-side and never shuffles. Every search prepares each query's ADC
 * table (m·ksub doubles) once on the driver and runs the routed kernel
 * ([[SimilarityIndex.routedTopK]]), a flat index as one list. Codebooks are
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
  private def normalize(v: Seq[Float]): Array[Double] =
    if (v == null) null else normalize(v.iterator.map(_.toDouble).toArray)

  private def normalize(a: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < a.length) { ss += a(i) * a(i); i += 1 }
    if (ss == 0.0 || ss.isNaN) return null
    val inv = 1.0 / math.sqrt(ss)
    a.map(_ * inv)
  }

  /** u − w, componentwise: a normalized vector's residual to its list's
    * unit centroid. */
  private def minus(u: Array[Double], w: Array[Double]): Array[Double] =
    Array.tabulate(u.length)(i => u(i) - w(i))

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
    val pts = sample.filter(_.length == dim).flatMap { a =>
      Option(normalize(a)).map { u0 =>
        // residual training: subtract the training row's own nearest
        // list's anchor (assignment parity with the encode path is
        // immaterial for a training DISTRIBUTION)
        applyRotation(rot,
          if (residCenters == null) u0 else minus(u0, residAnchors(nearest(a, 0, a.length, residCenters))))
      }
    }
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
      else encodeVec(books, applyRotation(rot, u0))
    }

  /** Per-query ADC lookup table: flat m·ksub doubles,
    * `table(j·ksub + c) = q_sub_j ⋅ centroid_{j,c}` over the normalized
    * (and rotated) query; null for null, zero-norm and wrong-dimension
    * queries. */
  private def adcTable(books: Array[Array[Array[Double]]], ksub: Int, dim: Int,
                       rot: Array[Array[Double]], v: Seq[Float]): Array[Double] = {
    val u0 = normalize(v)
    if (u0 == null || u0.length != dim) return null
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

  /** ADC score: m table lookups, fixed summation order (deterministic). */
  private def adc(codes: Array[Byte], table: Array[Double], ksub: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < codes.length) {
      s += table(j * ksub + (codes(j) & 0xFF))
      j += 1
    }
    s
  }

  /** The residual base term of a normalized query `u` for one list: q·w,
    * `w` the list's unit-normalized centroid — a residual code scores
    * q·u = q·w + ADC(u − w). */
  private def residualBase(u: Array[Double], w: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < u.length) { s += u(i) * w(i); i += 1 }
    s
  }

  /** (m, ksub, dim, residual), read on the driver
    * ([[graft.store.readSmall]]) with the declared schema both writers'
    * columns fit ([[pqBuild]]: m, ksub, dim; [[ivfPqBuild]] adds
    * residual). Flat-PQ and pre-r17 IVF-PQ metas have no residual column;
    * it reads null, which means false. */
  private def readMeta(spark: SparkSession, path: String)
      : (Int, Int, Int, Boolean) = {
    val r = graft.store.readSmall(spark, s"$path/meta", "m INT, ksub INT, dim INT, residual INT").head
    (r.getInt(0), r.getInt(1), r.getInt(2), !r.isNullAt(3) && r.getInt(3) == 1)
  }

  /** Unit-normalized coarse centroids — the u-space anchors residual
    * encoding subtracts. A zero-norm centroid (degenerate fit) anchors
    * at the origin: its list's residuals are the vectors themselves. */
  private def normCenters(centers: Array[Array[Double]]): Array[Array[Double]] =
    centers.map(c => Option(normalize(c)).getOrElse(new Array[Double](c.length)))

  /** The candidate nearest to `u[from, from + len)` by squared distance
    * (the first on ties): a subvector's code ([[encodeVec]]), or a raw
    * training row's coarse list — the training-side twin of
    * SimilarityIndex.assignUdf (encode paths take the assigned list as an
    * ARGUMENT instead, so stored codes can never disagree with their
    * partition). */
  private def nearest(u: Array[Double], from: Int, len: Int,
                      cands: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cands.length) {
      val cent = cands(c)
      val n = math.min(len, cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = u(from + i) - cent(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** The nearest-centroid encode core over an (already normalized,
    * rotated, residualized) double vector. */
  private def encodeVec(books: Array[Array[Array[Double]]], u: Array[Double]): Array[Byte] = {
    val dsub = u.length / books.length
    Array.tabulate(books.length)(j => nearest(u, j * dsub, dsub, books(j)).toByte)
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
      if (u0 == null || u0.length != dim) null else encodeVec(books, minus(u0, w(list)))
    }

  /** Codebooks may be RAGGED: k-means returns fewer than `ksub` centers
    * when the (sampled) training set is smaller — codes are dense
    * 0..len-1 per subspace either way, and the stored `ksub` stays the
    * ADC table STRIDE (an upper bound on every subspace's width). */
  private def readCodebooks(spark: SparkSession, path: String, m: Int,
                            ksub: Int): Array[Array[Array[Double]]] = {
    val rows = graft.store.readSmall(spark, s"$path/codebooks", "sub INT, code INT, centroid ARRAY<DOUBLE>")
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
    val rows = graft.store.readSmall(spark, s"$path/rotation", "i INT, row ARRAY<DOUBLE>")
    val r = new Array[Array[Double]](dim)
    rows.foreach(x => r(x.getInt(0)) = x.getSeq[Double](1).toArray)
    r
  }

  /** A build's rotation: with `rotate`, the seeded matrix for `dim`,
    * stored; without, null, and a previous build's `rotation/` is
    * cleared (its presence is the flag). */
  private def storeRotation(spark: SparkSession, path: String, dim: Int,
                            rotate: Boolean): Array[Array[Double]] = {
    import spark.implicits._
    val rp = new org.apache.hadoop.fs.Path(s"$path/rotation")
    if (!rotate) {
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
      null
    } else {
      val rot = rotationMatrix(dim)
      rot.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq.toDF("i", "row")
        .repartition(1).write.mode("overwrite").parquet(rp.toString)
      rot
    }
  }

  private def writeCodebooks(spark: SparkSession, path: String,
                             books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** A build's shape: the vector dim (of the first non-null row; `m` must
    * divide it) and the codebook training-row bound. */
  private def buildShape(corpus: DataFrame, corpusVec: String, m: Int, ksub: Int,
                         maxFitRows: Long, caller: String): (Int, Long) = {
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"need 1 <= ksub <= 256 (one byte per subspace), got m=$m ksub=$ksub")
    val dim = corpus.select(col(corpusVec)).filter(col(corpusVec).isNotNull)
      .limit(1).collect().headOption
      .map(_.getSeq[Float](0).length)
      .getOrElse(throw new IllegalArgumentException(
        s"$caller: no non-null $corpusVec rows to size the index from"))
    require(dim % m == 0, s"vector dim $dim must divide by m=$m")
    (dim, if (maxFitRows > 0L) maxFitRows else math.max(256L * ksub, 10000L))
  }

  /** The codes of `corpusVec` rows carrying their assigned `list_id`. */
  private def encodeCol(books: Array[Array[Array[Double]]], dim: Int,
                        rot: Array[Array[Double]], centers: Array[Array[Double]],
                        residual: Boolean, corpusVec: String): Column =
    if (residual)
      encodeResidualUdf(books, dim, normCenters(centers))(col(corpusVec), col("list_id"))
    else encodeUdf(books, dim, rot)(col(corpusVec))

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
    val spark = corpus.sparkSession
    val (dim, fitRows) = buildShape(corpus, corpusVec, m, ksub, maxFitRows, "pqBuild")
    // `rotate` (r17): seeded random orthonormal pre-rotation before the
    // subspace split (the OPQ-family recall lift at the same byte
    // budget — see [[rotationMatrix]]); STORED like the codebooks, so
    // appends and searches can never disagree with the build
    val rot = storeRotation(spark, path, dim, rotate)
    val books = fitCodebooks(corpus, corpusVec, m, ksub, fitRows, dim, rot)
    // the three writes are independent given (books, rot) — overlap
    // them (guide §2.6); all awaited before return
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val w = Seq(
      Future { writeCodebooks(spark, path, books) },
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

  /** One query's ADC state: its table and, in residual mode, its base
    * term for every list (null otherwise). */
  private final case class AdcQuery(table: Array[Double], base: Array[Double])

  /** The ADC score for [[SimilarityIndex.routedTopK]] over stored `codes`:
    * adc + base, the base 0.0 when the index is not residual. Zero-norm
    * and wrong-dimension queries decline. */
  private def adcScorer(books: Array[Array[Array[Double]]], ksub: Int, dim: Int,
                        rot: Array[Array[Double]], anchors: Array[Array[Double]])
      : SimilarityIndex.RoutedScorer[AdcQuery, Array[Byte]] =
    new SimilarityIndex.RoutedScorer[AdcQuery, Array[Byte]] {
      def query(r: Row, v: Seq[Float]): AdcQuery = {
        val t = adcTable(books, ksub, dim, rot, v)
        if (t == null) null
        else if (anchors == null) AdcQuery(t, null)
        else { val u = normalize(v); AdcQuery(t, anchors.map(residualBase(u, _))) }
      }
      def row(r: InternalRow): Array[Byte] = r.getBinary(1)
      def score(c: Array[Byte], q: AdcQuery, list: Int): Double =
        adc(c, q.table, ksub) + (if (q.base == null) 0.0 else q.base(list))
    }

  /** The routed ADC pass of every PQ search, over the `codes` of `scan`
    * (`centers` anchor residual codes): its routing and its top-`k` buffers. */
  private def adcPass(spark: SparkSession, path: String, centers: Array[Array[Double]],
                      scan: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
                      corpusId: String, queryId: String,
                      queryVec: String): (SimilarityIndex.Routing, Array[TopK.Buf]) = {
    val (m, ksub, dim, residual) = readMeta(spark, path)
    val books = readCodebooks(spark, path, m, ksub)
    val rot = readRotation(spark, path, dim)
    val routing = SimilarityIndex.route(spark, path, centers, queries, nprobe, queryId, queryVec)
    val anchors = if (residual) normCenters(centers) else null
    (routing, SimilarityIndex.routedTopK(spark, scan, "codes", corpusId, routing, k,
      _ => adcScorer(books, ksub, dim, rot, anchors)))
  }

  /** [[adcPass]] over a flat [[pqBuild]] index, as of an installment. */
  private def pqPass(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                     corpusId: String, queryId: String, queryVec: String,
                     asOfInstallment: Int): (SimilarityIndex.Routing, Array[TopK.Buf]) =
    adcPass(spark, path, SimilarityIndex.OneList,
      SimilarityIndex.flatCodes(spark, path, asOfInstallment), queries, k, 1,
      corpusId, queryId, queryVec)

  /**
   * ADC search: [[ivfPqSearch]]'s routed kernel over the index as one list
   * (optionally snapshot-pinned). EAGER: returns a local frame (queryId,
   * corpusId long, score_pq double, rank int), score desc and lower id on
   * ties — `score_pq` approximates cosine at ranking granularity.
   */
  def pqSearch(spark: SparkSession, path: String, queries: DataFrame,
               k: Int, corpusId: String = "vec_id",
               queryId: String = "query_id", queryVec: String = "query_vec",
               asOfInstallment: Int = Int.MaxValue): DataFrame = {
    val (routing, top) = pqPass(spark, path, queries, k, corpusId, queryId, queryVec,
      asOfInstallment)
    SimilarityIndex.localTopK(spark, routing, corpusId, "score_pq", top)
  }

  /**
   * PQ search with EXACT float re-ranking — the IndexRefineFlat
   * composition ([[Quantize.int8SearchRefined]]'s shape): the m-byte
   * codes generate a `candidateK` pool per query at 1/32 the float scan
   * bandwidth, then the pool re-scores against the caller's ORIGINAL
   * float corpus by exact cosine and cuts to top-k. PQ error only
   * shuffles ranks INSIDE the pool, so with candidateK ≫ k the answer
   * equals the exact float top-k — full-precision results at
   * memory-bound scan cost ([[SimilarityIndex.refine]]; nothing
   * shuffles). EAGER: returns a local (queryId, corpusId, cosine, rank)
   * frame.
   */
  def pqSearchRefined(spark: SparkSession, path: String, queries: DataFrame,
                      corpus: DataFrame, k: Int, candidateK: Int = 64,
                      corpusId: String = "vec_id",
                      corpusVec: String = "embedding",
                      queryId: String = "query_id",
                      queryVec: String = "query_vec",
                      asOfInstallment: Int = Int.MaxValue): DataFrame = {
    SimilarityIndex.refine(spark, SimilarityIndex.oneList(corpus), k, candidateK,
        corpusId, corpusVec, queryVec)(
      pqPass(spark, path, queries, _, corpusId, queryId, queryVec, asOfInstallment))
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
    require(!(rotate && residual),
      "rotate and residual do not compose here: the rotation is defined " +
        "on the vector space, the residual codebooks on anchor offsets — " +
        "pick one tier (FAISS's OPQ+residual needs rotated coarse " +
        "centroids, a different layout)")
    val spark = corpus.sparkSession
    val (dim, fitRows) = buildShape(corpus, corpusVec, m, ksub, maxFitRows, "ivfPqBuild")
    // The coarse fit (row-bounded, seeded) and the m codebook fits are
    // INDEPENDENT computations — run them as concurrent Spark jobs (the
    // fitCodebooks discipline; sequentially the coarse KMeans'
    // ~10 iterations are pure added wall-clock)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // rotation applies to the PQ encode only; the coarse routing stays
    // on the ORIGINAL float vectors (rotation preserves distances, so
    // either convention is valid — original keeps assignUdf shared and
    // every call site consistent by construction)
    val rot = storeRotation(spark, path, dim, rotate)
    val coarseF = Future {
      SimilarityIndex.fitCentroids(corpus, corpusVec, nlist)
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
    val enc = encodeCol(books, dim, rot, centers, residual, corpusVec)
    // the five writes are independent given (centers, books) — overlap
    // them (guide §2.6, the concurrent-fits precedent above); all
    // awaited before return, so the on-disk contract is unchanged
    val writes = Seq(
      Future { SimilarityIndex.writeCentroids(spark, path, centers) },
      Future { writeCodebooks(spark, path, books) },
      Future {
        spark.createDataFrame(Seq((m, ksub, dim, if (residual) 1 else 0)))
          .toDF("m", "ksub", "dim", "residual")
          .write.mode("overwrite").parquet(s"$path/meta")
      },
      Future {
        SimilarityIndex.writeLists(assigned.select(col(corpusId), col("list_id"), enc.as("codes"))
          .filter(col("codes").isNotNull), s"$path/codes", 0, build = true)
      }) ++
      // refine sidecar: ORIGINAL float vectors under the SAME list
      // assignment, so the exact re-rank reads only probed lists (the
      // ivfSq8 raw/ contract — lockstep through append and compact)
      (if (storeRaw) Seq(Future {
        SimilarityIndex.writeLists(assigned.filter(enc.isNotNull), s"$path/raw", 0, build = true)
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
    val enc = encodeCol(books, dim, rot, centers, residual, corpusVec)
    SimilarityIndex.writeLists(assigned.select(col(corpusId), col("list_id"), enc.as("codes"))
      .filter(col("codes").isNotNull), s"$path/codes", ingest, build = false)
    if (graft.store.dirExists(spark, s"$path/raw"))
      SimilarityIndex.writeLists(assigned.filter(enc.isNotNull), s"$path/raw", ingest,
        build = false)
  }

  /** [[adcPass]] over an IVF-PQ index's stored centroids and `codes/`. */
  private def ivfPqPass(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                        nprobe: Int, corpusId: String, queryId: String,
                        queryVec: String): (SimilarityIndex.Routing, Array[TopK.Buf]) =
    adcPass(spark, path, SimilarityIndex.readCentroids(spark, path),
      SimilarityIndex.readLists(spark, s"$path/codes"), queries, k, nprobe, corpusId, queryId, queryVec)

  /** Routed ADC search: the routed IVF kernel
    * ([[SimilarityIndex.ivfSearchIndexed]]'s — driver-resolved probe
    * lists, one partition-pruned code scan, a bounded top-k per query per
    * task, a driver merge) scoring each stored code by its query's ADC
    * table (plus the residual base in residual mode). The probe cost is ∝
    * the probed lists' codes, never the corpus. EAGER: returns a local
    * frame (queryId, corpusId long, score_pq double, rank int), score desc
    * and lower id on ties; zero-norm and null queries score nothing. */
  def ivfPqSearch(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int, nprobe: Int = 8, corpusId: String = "vec_id",
                  queryId: String = "query_id",
                  queryVec: String = "query_vec"): DataFrame = {
    val (routing, top) = ivfPqPass(spark, path, queries, k, nprobe, corpusId, queryId, queryVec)
    SimilarityIndex.localTopK(spark, routing, corpusId, "score_pq", top)
  }

  /**
   * IVF-PQ with EXACT float re-ranking — FAISS's `IVF,PQ` +
   * `IndexRefineFlat`: the routed ADC scan ([[ivfPqSearch]]) generates a
   * `candidateK` pool per query over the probed lists only, then the pool
   * re-scores by exact cosine against the `raw/` sidecar (the same probed
   * lists, the same routing) and cuts to top-k. PQ error only shuffles
   * ranks inside the pool, so with the pool covering the probed lists'
   * true top-k the answer equals the exact float top-k over the probed
   * lists — and the GLOBAL exact top-k at nprobe = nlist. Both passes are
   * one scan each plus a driver merge; nothing shuffles. EAGER: returns a
   * local frame (queryId, corpusId long, cosine double, rank int).
   * Requires `storeRaw = true` at build.
   */
  def ivfPqSearchRefined(spark: SparkSession, path: String,
                         queries: DataFrame, k: Int, candidateK: Int = 64,
                         nprobe: Int = 8, corpusId: String = "vec_id",
                         corpusVec: String = "embedding",
                         queryId: String = "query_id",
                         queryVec: String = "query_vec"): DataFrame = {
    SimilarityIndex.refine(spark, SimilarityIndex.rawSidecar(spark, path), k, candidateK,
        corpusId, corpusVec, queryVec)(
      ivfPqPass(spark, path, queries, _, nprobe, corpusId, queryId, queryVec))
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
