package graft.functions

import org.apache.spark.sql.SparkSession

/**
 * Scalar vector-math kernels (pure Scala, no Spark deps) plus their SQL
 * UDF registrations.
 *
 * Capability map (see SURVEY.md §2.5, reference kreeben/resin):
 *  - cosine          ≙ VectorOperations.CosAngle (VectorOperations.cs:305-314)
 *  - dot / dotSparse ≙ VectorOperations.DotSimd  (VectorOperations.cs:50-132)
 *  - l2Norm          ≙ VectorOperations.L2NormSimd (VectorOperations.cs:11-47)
 *  - analyze         ≙ VectorOperations.Analyze 10-metric signature
 *                      (VectorOperations.cs:316-448)
 *  - approximates    ≙ GraphExtensions.Approximates (GraphExtensions.cs:97-100)
 *
 * All loops are sequential and deterministic: the lexicon angle key (a derived
 * double) must be reproducible across partitions/executors, so we never rely
 * on library reductions whose summation order may vary.
 */
object VectorOps {

  /** Dense dot product, sequential order. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def dotFloat(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Sparse x sparse dot via sorted-index merge (no hashing). */
  def dotSparse(ia: Array[Int], va: Array[Double],
                ib: Array[Int], vb: Array[Double]): Double = {
    var i = 0; var j = 0; var s = 0.0
    while (i < ia.length && j < ib.length) {
      val x = ia(i); val y = ib(j)
      if (x == y) { s += va(i) * vb(j); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    s
  }

  def l2Norm(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  def l2NormFloat(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Cosine similarity of two dense double vectors. NaN-free: 0 when a norm is 0. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val d = dot(a, b); val na = l2Norm(a); val nb = l2Norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  def cosineFloat(a: Array[Float], b: Array[Float]): Double = {
    val d = dotFloat(a, b); val na = l2NormFloat(a); val nb = l2NormFloat(b)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  def cosineSparse(ia: Array[Int], va: Array[Double],
                   ib: Array[Int], vb: Array[Double]): Double = {
    val d = dotSparse(ia, va, ib, vb)
    val na = l2Norm(va); val nb = l2Norm(vb)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  /** |a - b| < precision tolerance compare. */
  def approximates(a: Double, b: Double, precision: Double): Boolean =
    math.abs(a - b) < precision

  /**
   * 10-metric pairwise signature of a sparse vector `(ia, va)` against a dense
   * vector `b`, both of logical length `dims`:
   * [cos, angleRad, dot, normA, normB, euclidean, manhattan, projOnB,
   *  overlapCount, jaccard].
   * cos is 0 (not NaN) when either norm or the dot is 0, clamped to [-1,1]
   * before acos.
   */
  def analyzeSparseVsDense(ia: Array[Int], va: Array[Double],
                           b: Array[Double], dims: Int): Array[Double] = {
    var dotAB = 0.0
    var k = 0
    while (k < ia.length) { dotAB += va(k) * b(ia(k)); k += 1 }
    val normA = l2Norm(va)
    val normB = l2Norm(b)
    var cos = 0.0
    if (dotAB != 0.0 && normA != 0.0 && normB != 0.0) {
      cos = dotAB / (normA * normB)
      if (cos > 1.0) cos = 1.0 else if (cos < -1.0) cos = -1.0
    }
    val angleRad = math.acos(cos)
    // diff = a - b over all dims (a is sparse: absent dims contribute -b(i)).
    var sumSq = 0.0; var sumAbs = 0.0
    var i = 0; k = 0
    while (i < dims) {
      val av = if (k < ia.length && ia(k) == i) { val v = va(k); k += 1; v } else 0.0
      val d = av - b(i)
      sumSq += d * d
      sumAbs += math.abs(d)
      i += 1
    }
    val euclidean = math.sqrt(sumSq)
    val projOnB = if (normB > 0.0) dotAB / normB else 0.0
    // overlap of nonzero supports; dense side counts its nonzeros.
    var nnzB = 0
    i = 0
    while (i < dims) { if (b(i) != 0.0) nnzB += 1; i += 1 }
    var overlap = 0
    k = 0
    while (k < ia.length) { if (b(ia(k)) != 0.0) overlap += 1; k += 1 }
    val union = ia.length + nnzB - overlap
    val jaccard = if (union > 0) overlap.toDouble / union else 0.0
    Array(cos, angleRad, dotAB, normA, normB, euclidean, sumAbs, projOnB,
      overlap.toDouble, jaccard)
  }

  /**
   * The lexicon identity-key function (reference StringAnalyzer.cs:54-55):
   * `cos(Analyze(v, unit), unit)` where unit = ones/sqrt(dims). The signature
   * lives on indices 0..9 of a dims-length sparse vector, so the cosine
   * collapses to `sum(sig)/ (sqrt(dims) * ||sig||)`.
   */
  def angleOfIdentity(ia: Array[Int], va: Array[Double], dims: Int): Double = {
    val u = 1.0 / math.sqrt(dims.toDouble)
    val unit = new Array[Double](dims)
    java.util.Arrays.fill(unit, u)
    val sig = analyzeSparseVsDense(ia, va, unit, dims)
    var sum = 0.0; var normSq = 0.0
    var i = 0
    while (i < sig.length) { sum += sig(i); normSq += sig(i) * sig(i); i += 1 }
    val normSig = math.sqrt(normSq)
    if (normSig == 0.0) 0.0 else (sum * u) / normSig
  }

  // ---------------------------------------------------------------- Spark API

  // Column-level scoring goes through the codegen'd Catalyst expression
  // (graft.functions.expressions.CosineSimilarity.cosineNative), which
  // fuses the three reductions into one loop.

  /** Register the scalar kernels as SQL-callable UDFs. */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("cosine_f",
      (a: Array[Float], b: Array[Float]) => cosineFloat(a, b))
    spark.udf.register("cosine_d",
      (a: Array[Double], b: Array[Double]) => cosine(a, b))
    spark.udf.register("dot_d",
      (a: Array[Double], b: Array[Double]) => dot(a, b))
    spark.udf.register("l2norm_d", (a: Array[Double]) => l2Norm(a))
    spark.udf.register("angle_of_identity",
      (ia: Array[Int], va: Array[Double], dims: Int) =>
        angleOfIdentity(ia, va, dims))
  }
}
