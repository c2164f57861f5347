package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TopK

/**
 * Int8 scalar quantization for embedding columns — the storage/bandwidth
 * scale path for vector search: a 64-dim float32 embedding (256 B + array
 * overhead) becomes 64 bytes packed binary, so a 100 TB embedding corpus
 * scans, shuffles, and caches at a quarter of the I/O, and the integer
 * dot-product kernel is exactly reproducible on ANY engine (the float
 * kernels in [[SimilarityIndex]] agree across engines only at argmax
 * granularity; the quantized scores agree BIT-FOR-BIT).
 *
 * Scheme: symmetric, single GLOBAL scale = maxabs / 127 (one corpus
 * aggregate). code_i = floor(v_i / scale + 0.5) ∈ [-127, 127] — every
 * step (cast float→double, divide, add, floor) is one correctly-rounded
 * IEEE op, so codes are identical in Spark and DuckDB. Similarity on
 * codes is integer arithmetic:
 *
 *   dot   = Σ ca_i · cb_i                  (exact BIGINT)
 *   cos_q = dot / (sqrt(na) · sqrt(nb))    (na/nb integer self-dots;
 *                                           sqrt/mul/div correctly rounded)
 *
 * A per-dimension scale would quantize tighter but turns the dot product
 * back into an order-sensitive float sum; the global scale keeps the
 * oracle-checkable exactness contract (the repo-wide design rule) at the
 * cost of ~1 bit of precision on anisotropic data.
 */
object Quantize {

  /** Global max |component| of a float-vector column — the one corpus
    * aggregate quantization needs (driver-side single-row result by
    * design, the routing-constant pattern of ivfSearchIndexed). */
  def maxAbs(df: DataFrame, vecCol: String): Double = {
    val rowMax = udf { (v: Seq[Float]) =>
      var m = 0.0; var i = 0
      if (v != null) while (i < v.length) {
        val a = math.abs(v(i).toDouble); if (a > m) m = a; i += 1
      }
      m
    }
    val r = df.agg(max(rowMax(col(vecCol)))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Int8 codes (as array<int> — see [[packCodesUdf]] for the stored
    * binary form): floor(v/scale + 0.5), in [-127, 127] by construction
    * when scale = maxAbs/127. Fails fast on a non-positive scale — an
    * all-zero (or empty) corpus has maxAbs 0, and dividing by it would
    * silently turn every code into Int.MaxValue. */
  def codesUdf(scale: Double): UserDefinedFunction = {
    require(scale > 0 && !scale.isNaN,
      s"quantization scale must be positive, got $scale — " +
        "an all-zero or empty corpus cannot be int8-quantized")
    udf((v: Seq[Float]) => if (v == null) null else codes(scale, v))
  }

  /** The int8 codes of a vector under `scale`: floor(v/scale + 0.5). */
  private[index] def codes(scale: Double, v: Seq[Float]): Array[Int] = {
    val out = new Array[Int](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble / scale + 0.5).toInt
      i += 1
    }
    out
  }

  /** Exact integer dot product of two code arrays (BIGINT — 64 dims of
    * ±127 cannot overflow; associative, so no summation-order hazard). */
  private[index] def dot(a: Array[Int], b: Array[Int]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toLong * b(i); i += 1 }
    s
  }

  /** Integer self-dot (squared norm) of a code array. */
  private[index] def normSq(a: Array[Int]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i).toLong * a(i); i += 1 }
    s
  }

  /** [[dot]] as a column function. Null in → null out (a null embedding
    * row quantizes to null codes; the `> 0` norm filters then drop it like
    * any zero-norm row). */
  def dotUdf: UserDefinedFunction = udf { (a: Seq[Int], b: Seq[Int]) =>
    if (a == null || b == null) None else Some(dot(a.toArray, b.toArray))
  }

  /** [[normSq]] as a column function; null-safe like [[dotUdf]]. */
  def normSqUdf: UserDefinedFunction = udf { (a: Seq[Int]) =>
    if (a == null) None else Some(normSq(a.toArray))
  }

  /** Pack int8 codes into a binary column — the at-rest form (1 byte per
    * dimension; parquet byte-array encoding compresses runs further). */
  def packCodesUdf: UserDefinedFunction = udf { (a: Seq[Int]) =>
    if (a == null) null
    else {
      val out = new Array[Byte](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i).toByte; i += 1 }
      out
    }
  }

  /** Packed int8 codes back to ints. */
  private[index] def unpack(b: Array[Byte]): Array[Int] = {
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i).toInt; i += 1 }
    out
  }

  /** Unpack a binary code column back to array<int>. */
  def unpackCodesUdf: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null else unpack(b))

  /** The stored global scale: `meta/` as [[int8Build]] and [[ivfSq8Build]]
    * write it ([[writeScale]]), one `scale DOUBLE` row — read on the
    * driver ([[graft.store.readSmall]]). */
  private def readScale(spark: SparkSession, path: String): Double =
    graft.store.readSmall(spark, s"$path/meta", "scale DOUBLE").head.getDouble(0)

  private def writeScale(spark: SparkSession, path: String, scale: Double): Unit =
    spark.createDataFrame(Seq(Tuple1(scale))).toDF("scale")
      .write.mode("overwrite").parquet(s"$path/meta")

  /**
   * Brute-force top-k by QUANTIZED cosine: quantize corpus and queries
   * with one shared global scale, score every (query, corpus) pair on
   * integer dots, rank through the bounded [[TopK.topKPerGroup]]
   * aggregator. Zero-norm rows (all-zero code vectors) are excluded on
   * both sides — their cosine is 0/0.
   *
   * Scale shape: queries broadcast (an interactive probe set); the corpus
   * streams map-side through the scoring join — one pass, no corpus
   * shuffle before the bounded top-k aggregation. The float analog of
   * this shape is `SimilarityIndex.bruteForceTopK`; swap this in when
   * cross-engine score parity or 4× scan bandwidth matters more than the
   * last two cosine decimals, and compose with IVF/LSH candidate pruning
   * exactly as the float kernels do.
   */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int, scale: Double,
               corpusId: String = "vec_id", corpusVec: String = "embedding",
               queryId: String = "query_id", queryVec: String = "query_vec",
               excludeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(corpusId), codesUdf(scale)(col(corpusVec)).as("_cc"))
      .withColumn("_cn", normSqUdf(col("_cc")))
      .filter(col("_cn") > 0)
    val q = queries.select(col(queryId), codesUdf(scale)(col(queryVec)).as("_qc"))
      .withColumn("_qn", normSqUdf(col("_qc")))
      .filter(col("_qn") > 0)
    val scored = c.join(broadcast(q),
        if (excludeSelf) col(corpusId) =!= col(queryId) else lit(true))
      .withColumn("_dot", dotUdf(col("_cc"), col("_qc")))
      .withColumn("cosine_q", col("_dot").cast("double") /
        (sqrt(col("_cn").cast("double")) * sqrt(col("_qn").cast("double"))))
      .select(col(queryId), col(corpusId), col("cosine_q"))
    TopK.topKPerGroup(scored, queryId, corpusId, "cosine_q", k)
  }

  /**
   * Persist a quantized copy of an embedding table: packed int8 codes +
   * a one-row `meta` (scale, dims) so every later batch quantizes with
   * the SAME scale (append parity — the minhash/IVF/BM25 stored-meta
   * precedent). Codes from different scales are not comparable; readers
   * must join scores only within one index.
   */
  def int8Build(df: DataFrame, path: String,
                idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = df.sparkSession
    val scale = maxAbs(df, vecCol) / 127.0
    df.select(col(idCol), packCodesUdf(codesUdf(scale)(col(vecCol))).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes/installment=0")
    writeScale(spark, path, scale)
    // a rebuild starts a new index generation — drop the previous
    // generation's tombstones or they silently filter the new rows
    graft.store.Tombstones.clear(spark, path)
  }

  /** Quantize a new batch with the STORED scale and append it as the next
    * installment — new ids only, sequential appends (the shared
    * append-only index contract). */
  def int8Append(spark: SparkSession, path: String, newDf: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val next = graft.store.Installments.next(spark, s"$path/codes")
    int8AppendAt(spark, path, newDf, next, idCol, vecCol)
  }

  /** Append at an EXPLICIT installment — the idempotent form for
    * at-least-once writers (the bm25IndexAppendAt contract): replaying
    * the same (batch, installment) overwrites its own partition dir, so
    * retries can never duplicate codes. Callers own the numbering
    * discipline. */
  def int8AppendAt(spark: SparkSession, path: String, newDf: DataFrame,
                   installment: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val scale = readScale(spark, path)
    newDf.select(col(idCol), packCodesUdf(codesUdf(scale)(col(vecCol))).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes/installment=$installment")
  }

  /**
   * IVF-SQ8 — the standard billion-scale ANN configuration (FAISS's
   * `IVF<nlist>,SQ8`): coarse k-means routing from [[SimilarityIndex]]
   * composed with this file's int8 codes. The index stores, per
   * `list_id=` partition, the PACKED codes (1 B/dim — the probe scan
   * reads a quarter of the float bytes on top of reading only probed
   * lists), plus `centroids/` (float routing table) and `meta/` (the
   * global scale):
   *
   *   - build: fit centroids on a sample, assign map-side, quantize
   *     with one global scale, write codes partitioned by list.
   *   - search: resolve probe lists driver-side (float query × float
   *     centroids — routing stays full precision), partition-pruned
   *     scan of the probed lists only, integer-dot cosine against the
   *     scale-quantized query, bounded top-k.
   *
   * Scores are the [[int8TopK]] integer kernel — bit-identical on any
   * engine; recall follows the IVF probe contract (a corpus-member
   * query probes its own list and its own code matches exactly, so
   * top1 = self deterministically).
   */
  def ivfSq8Build(corpus: DataFrame, path: String, nlist: Int = 64,
                  corpusId: String = "vec_id", corpusVec: String = "embedding",
                  storeRaw: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // the fit, the scale pass, and the four writes below are
    // independent except through (centers, scale) — overlap them
    // (guide §2.6; the ivfPqBuild concurrent-fits precedent): fit ∥
    // maxAbs first, then centroids/meta/codes/raw writes concurrently.
    // All awaited before return — the on-disk contract is unchanged.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val scaleF = Future { maxAbs(corpus, corpusVec) / 127.0 }
    val centers = SimilarityIndex.fitCentroids(corpus, corpusVec, nlist)
    val centroidsF = Future { SimilarityIndex.writeCentroids(spark, path, centers) }
    val scale = Await.result(scaleF, Duration.Inf)
    val metaF = Future { writeScale(spark, path, scale) }
    val assigned = corpus.select(col(corpusId),
      SimilarityIndex.assignUdf(centers)(col(corpusVec)).as("list_id"),
      col(corpusVec))
    val codesF = Future {
      SimilarityIndex.writeLists(assigned.select(col(corpusId), col("list_id"),
        packCodesUdf(codesUdf(scale)(col(corpusVec))).as("codes")), s"$path/codes", 0, build = true)
    }
    // refine sidecar: the ORIGINAL float vectors, partitioned by the SAME
    // list assignment, so an exact re-rank reads only probed lists (see
    // ivfSq8SearchRefined). Costs the full-precision bytes back at rest —
    // opt in only when the refine path is wanted.
    val rawF =
      if (storeRaw) Some(Future {
        SimilarityIndex.writeLists(assigned, s"$path/raw", 0, build = true)
      })
      else None
    // settle EVERYTHING before returning (and before an error
    // propagates — Future.sequence fails fast but the residual writes
    // run to completion against a corpus frame the caller still owns)
    Await.result(Future.sequence(
      Seq(centroidsF, metaF, codesF) ++ rawF.toSeq), Duration.Inf)
    // rebuild = new generation: stale tombstones must not filter it
    graft.store.Tombstones.clear(spark, path)
  }

  /** Fold new vectors in against the FROZEN centroids and scale (the
    * ivfAppend contract: map-side assignment + quantization, appends
    * into matching `list_id=` partitions, nothing re-read or rewritten;
    * re-fit with [[ivfSq8Build]] when the distribution drifts). */
  def ivfSq8Append(spark: SparkSession, path: String, newVecs: DataFrame,
                   corpusId: String = "vec_id",
                   corpusVec: String = "embedding"): Unit =
    ivfSq8AppendAt(spark, path, newVecs,
      graft.store.Installments.nextIngest(spark, s"$path/codes"),
      corpusId, corpusVec)

  /** [[ivfSq8Append]] at an EXPLICIT ingest number — the replay-
    * idempotent form (the `*AppendAt` contract): the batch lands as
    * `list_id=X/ingest=N/` dirs via DYNAMIC partition overwrite, so a
    * retry replaces exactly its own dirs — codes can never duplicate,
    * and the raw/ sidecar rides the identical numbering so it can never
    * drift out of lockstep. Callers own the numbering discipline
    * ([[graft.streaming.EventStreams.ivfSq8IngestStream]]). */
  def ivfSq8AppendAt(spark: SparkSession, path: String, newVecs: DataFrame,
                     ingest: Int, corpusId: String = "vec_id",
                     corpusVec: String = "embedding"): Unit = {
    val centers = SimilarityIndex.readCentroids(spark, path)
    val scale = readScale(spark, path)
    val assigned = newVecs.select(col(corpusId),
      SimilarityIndex.assignUdf(centers)(col(corpusVec)).as("list_id"),
      col(corpusVec))
    SimilarityIndex.writeLists(assigned.select(col(corpusId), col("list_id"),
      packCodesUdf(codesUdf(scale)(col(corpusVec))).as("codes")), s"$path/codes", ingest,
      build = false)
    // the build decided whether this index carries the refine sidecar; an
    // append must keep raw/ in lockstep with codes/ or refined searches
    // would silently stop seeing appended vectors
    if (graft.store.dirExists(spark, s"$path/raw"))
      SimilarityIndex.writeLists(assigned, s"$path/raw", ingest, build = false)
  }

  /**
   * IVF-SQ8 index maintenance — the small-file compaction the
   * append-only contract promises (the ivfCompact/bm25IndexCompact/
   * minhashIndexCompactSizes sibling): every [[ivfSq8Append]] lands one
   * parquet file per touched `list_id=` partition, so a daily cadence
   * accumulates hundreds of small files per list and probe reads
   * degrade to file-open overhead. Rewrites the packed codes
   * hash-clustered by list (one file per list per writing task) with
   * [[SimilarityIndex.compactListDir]]; code bytes are untouched, so
   * search results are bit-identical. Centroids and the stored scale are
   * not touched. Returns the compacted code row count.
   */
  def ivfSq8Compact(spark: SparkSession, path: String,
                    corpusId: String = "vec_id"): Long = {
    val rows = SimilarityIndex.compactListDir(spark, path, s"$path/codes",
      corpusId)
    // keep the refine sidecar's file layout in step with the codes it
    // shadows (same small-file accumulation per append — and the SAME
    // tombstone fold, or refined re-ranks would resurrect deleted rows)
    if (graft.store.dirExists(spark, s"$path/raw"))
      SimilarityIndex.compactListDir(spark, path, s"$path/raw", corpusId)
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  /** Int8 codes with their integer self-dot — either side of a quantized
    * cosine; zero-norm codes (an all-zero vector) have none. A probe's
    * batch row carries its id as `self` ([[Sq8ProbeScorer]]). */
  private final case class Coded(codes: Array[Int], normSq: Long, self: Long = 0L)

  private def coded(c: Array[Int]): Coded = {
    val n = normSq(c)
    if (n > 0) Coded(c, n) else null
  }

  /** The quantized cosine for [[SimilarityIndex.routedTopK]] over packed
    * `codes`: the query quantizes under the stored `scale`; zero-norm rows
    * and queries decline. */
  private class Sq8Scorer(scale: Double) extends SimilarityIndex.RoutedScorer[Coded, Coded] {
    def query(r: Row, v: Seq[Float]): Coded = if (v == null) null else coded(codes(scale, v))
    def row(r: InternalRow): Coded = coded(unpack(r.getBinary(1)))
    def score(c: Coded, q: Coded, list: Int): Double =
      dot(c.codes, q.codes).toDouble / (math.sqrt(c.normSq.toDouble) * math.sqrt(q.normSq.toDouble))
  }

  /** [[Sq8Scorer]] for a near-dup probe's batch: a batch row with a null id
    * declines, and a stored row never scores against the batch row of its
    * own id. */
  private final class Sq8ProbeScorer(scale: Double) extends Sq8Scorer(scale) {
    override def query(r: Row, v: Seq[Float]): Coded = {
      val c = if (r.isNullAt(0)) null else super.query(r, v)
      if (c == null) null
      else c.copy(self = r.get(0) match {
        case id: java.lang.Number => id.longValue
        case id => throw new IllegalArgumentException(s"near-dup probe ids must be integral, got $id")
      })
    }
    override def admits(id: Long, q: Coded): Boolean = id != q.self
  }

  /** The routed quantized pass of every int8 search, over the packed
    * `codes` of `scan`: its routing and its top-`k` buffers. */
  private def sq8Pass(spark: SparkSession, path: String, centers: Array[Array[Double]],
                      scan: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
                      corpusId: String, queryId: String,
                      queryVec: String): (SimilarityIndex.Routing, Array[TopK.Buf]) = {
    val scale = readScale(spark, path)
    val routing = SimilarityIndex.route(spark, path, centers, queries, nprobe, queryId, queryVec)
    (routing, SimilarityIndex.routedTopK(spark, scan, "codes", corpusId, routing, k,
      _ => new Sq8Scorer(scale)))
  }

  /** [[sq8Pass]] over an IVF-SQ8 index's stored centroids and `codes/`. */
  private def ivfSq8Pass(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                         nprobe: Int, corpusId: String, queryId: String,
                         queryVec: String): (SimilarityIndex.Routing, Array[TopK.Buf]) =
    sq8Pass(spark, path, SimilarityIndex.readCentroids(spark, path),
      SimilarityIndex.readLists(spark, s"$path/codes"), queries, k, nprobe, corpusId, queryId, queryVec)

  /** [[sq8Pass]] over a flat [[int8Build]] index, as of an installment. */
  private def int8Pass(spark: SparkSession, path: String, queries: DataFrame, k: Int,
                       corpusId: String, queryId: String, queryVec: String,
                       asOfInstallment: Int): (SimilarityIndex.Routing, Array[TopK.Buf]) =
    sq8Pass(spark, path, SimilarityIndex.OneList,
      SimilarityIndex.flatCodes(spark, path, asOfInstallment), queries, k, 1,
      corpusId, queryId, queryVec)

  /** Search a persisted [[ivfSq8Build]] index: the routed IVF kernel
    * ([[SimilarityIndex.ivfSearchIndexed]]'s — driver-resolved probe
    * lists, one partition-pruned code scan, a bounded top-k per query per
    * task, a driver merge) scoring the integer-dot cosine of the
    * scale-quantized query. EAGER: returns a local frame (queryId,
    * corpusId long, cosine_q double, rank int), score desc and lower id on
    * ties; zero-norm and null queries score nothing. */
  def ivfSq8Search(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, nprobe: Int = 8,
                   corpusId: String = "vec_id",
                   queryId: String = "query_id",
                   queryVec: String = "query_vec"): DataFrame = {
    val (routing, top) = ivfSq8Pass(spark, path, queries, k, nprobe, corpusId, queryId, queryVec)
    SimilarityIndex.localTopK(spark, routing, corpusId, "cosine_q", top)
  }

  /**
   * IVF-SQ8 search with EXACT float re-ranking — FAISS's
   * `IndexRefineFlat` composition: the packed int8 codes generate a
   * candidate pool (`candidateK` per query, quantized integer scoring
   * over the probed lists only), then the pool is re-scored against the
   * ORIGINAL float vectors from the `raw/` sidecar and cut to the final
   * top-k by exact cosine. Quantization error can only shuffle ranks
   * INSIDE the pool, so with candidateK ≫ k the result converges to the
   * exact float top-k over the probed lists — full-precision answers at
   * quantized scan cost.
   *
   * Scale shape: two runs of the routed IVF kernel on one routing — the
   * [[ivfSq8Search]] pass at `candidateK`, then a scan of the same
   * probed `raw/` lists where each query scores only its pool; nothing
   * shuffles. The re-rank reads float bytes for probed lists only — the
   * 4× scan saving of SQ8 still applies to the candidate-generation
   * pass. EAGER: returns a local frame (queryId, corpusId long, cosine
   * double, rank int).
   *
   * Requires an index built with `storeRaw = true` ([[ivfSq8Build]]);
   * fails fast otherwise.
   */
  def ivfSq8SearchRefined(spark: SparkSession, path: String, queries: DataFrame,
                          k: Int, candidateK: Int = 32, nprobe: Int = 8,
                          corpusId: String = "vec_id",
                          corpusVec: String = "embedding",
                          queryId: String = "query_id",
                          queryVec: String = "query_vec"): DataFrame = {
    SimilarityIndex.refine(spark, SimilarityIndex.rawSidecar(spark, path), k, candidateK,
        corpusId, corpusVec, queryVec)(
      ivfSq8Pass(spark, path, queries, _, nprobe, corpusId, queryId, queryVec))
  }

  /**
   * Flat-index refine — [[ivfSq8SearchRefined]]'s sidecar-free sibling
   * for the installment int8 index: the packed codes generate a
   * `candidateK` pool per query (quantized scan at 1 B/dim), then the
   * pool re-ranks by exact float cosine against the CALLER's float
   * corpus (the source-of-truth table the index was built from — no
   * raw copy stored), filtered to the pool ids ([[SimilarityIndex.refine]]).
   * Nothing shuffles. EAGER: returns a local frame (queryId, corpusId
   * long, cosine double, rank int). `asOfInstallment` pins the CANDIDATE
   * read to a snapshot; pass the matching corpus slice for exact-as-of
   * semantics.
   */
  def int8SearchRefined(spark: SparkSession, path: String, queries: DataFrame,
                        corpus: DataFrame, k: Int, candidateK: Int = 32,
                        corpusId: String = "vec_id",
                        corpusVec: String = "embedding",
                        queryId: String = "query_id",
                        queryVec: String = "query_vec",
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    SimilarityIndex.refine(spark, SimilarityIndex.oneList(corpus), k, candidateK,
        corpusId, corpusVec, queryVec)(
      int8Pass(spark, path, queries, _, corpusId, queryId, queryVec, asOfInstallment))
  }

  /**
   * Incremental embedding near-dup detection against a persisted
   * [[int8Build]] index — the vector-modality sibling of
   * [[graft.dedup.Dedup.minhashIndexProbe]], and the read side of the
   * daily-ingest dedup loop: quantize the incoming batch with the STORED
   * scale, score it against the stored codes with the integer dot/norm
   * kernel, and emit every `(corpus_id, new_id, cosine_q)` pair whose
   * quantized cosine clears `threshold`.
   *
   * Exactness contract: unlike the LSH-candidate probes, there is no
   * recall caveat — every stored row is scored, and the scores are
   * [[int8TopK]]'s integer arithmetic (one double division at the end),
   * so the threshold decision reproduces bit-for-bit on any engine.
   *
   * Scale shape: [[int8SearchIndexed]]'s routed kernel over the index as
   * one list, with `threshold` as its score floor instead of a top-k cut:
   * the batch routes on the driver, the stored code scan streams map-side
   * at 1 B/dim, and each task's pairs merge on the driver — nothing
   * shuffles. The flat scan prices each probe at one read of the stored
   * codes; when that is too much, probe [[ivfSq8NearDupProbe]]'s
   * partition-pruned lists instead and accept the IVF recall contract.
   * EAGER: returns a local frame (corpus_id as stored, new_id as given,
   * cosine_q double). Batch ids must be NEW integral ids (the
   * [[int8Append]] contract); a stored row never pairs with the batch row
   * of its own id, zero-norm, null and null-id batch rows pair with
   * nothing, and tombstoned rows never pair. `asOfInstallment` pins the
   * stored side to a snapshot (partition-pruned, valid between compactions).
   */
  def int8NearDupProbe(spark: SparkSession, path: String, newVecs: DataFrame,
                       threshold: Double,
                       corpusId: String = "vec_id",
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       asOfInstallment: Int = Int.MaxValue): DataFrame =
    int8ProbePass(spark, path, newVecs, threshold, corpusId, idCol, vecCol, asOfInstallment).pairs

  /**
   * Prune an incoming batch against the persisted index — the one-call
   * last mile of incremental SEMANTIC dedup (the
   * [[graft.dedup.Dedup.semanticDedup]] policy applied at ingest time):
   * a batch row is dropped when its duplicate component (transitive
   * closure over stored×batch pairs from [[int8NearDupProbe]] PLUS
   * batch-internal pairs at the same threshold) contains any STORED row
   * — the corpus already has a representative — or when it is a
   * non-minimal member of a batch-only component (keep-min, the
   * semanticDedup rule). Survivors keep the caller's schema and are what
   * [[int8Append]] should fold in.
   *
   * Scale shape: the stored corpus is touched only by the probe's one
   * scan; the batch-internal pairs are scored on the driver by the same
   * scorer, every pair of the batch. Pairs are batch-bounded, so the
   * star-contraction CC runs on probe-sized data; the drop list
   * anti-joins back ids-only (`broadcastDrop = true` when the dup set is
   * known small). Call [[graft.dedup.Dedup.release]] on the result when
   * the CC checkpoint blocks should be freed eagerly.
   */
  def int8ProbePrune(spark: SparkSession, path: String, newVecs: DataFrame,
                     threshold: Double,
                     corpusId: String = "vec_id",
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     broadcastDrop: Boolean = false,
                     asOfInstallment: Int = Int.MaxValue): DataFrame = {
    val probe = int8ProbePass(spark, path, newVecs, threshold, corpusId, idCol, vecCol,
      asOfInstallment)
    graft.dedup.Dedup.ingestPrunePolicy(newVecs, probe.stored, probe.batchPairs(spark, threshold),
      idCol, broadcastDrop)
  }

  /**
   * IVF-ROUTED incremental near-dup probe — [[int8NearDupProbe]]'s scale
   * path, and the engine's answer to its one remaining scale-linear scan:
   * instead of scoring the batch against EVERY stored code, each batch
   * vector routes through the stored coarse centroids and scores only the
   * codes in its `nprobe` nearest lists (the [[ivfSq8Search]]
   * partition-pruned read — the reference's seekable-search principle,
   * ≙ SeekableGraphReader.cs:57–104: read the search path, not the
   * index). Per-batch cost is |probed lists|, not |corpus|.
   *
   * Recall contract: a near-duplicate pair is found iff the stored twin
   * lives in one of the batch vector's probed lists. True near-dups
   * (cosine ≈ 1) land in the same or adjacent lists, so recall at small
   * `nprobe` is high but NOT guaranteed — at `nprobe = nlist` every list
   * is probed and the result equals [[int8NearDupProbe]] exactly (the
   * configuration the oracle pins). Scores keep the integer-kernel
   * bit-exactness either way; only candidate coverage is approximate.
   *
   * Scale shape: [[int8NearDupProbe]]'s routed pass with the stored
   * centroids as the routing table — one partition-pruned scan of the
   * probed lists, nothing shuffled. Each stored row lives in exactly one
   * list and a batch vector's probe lists are distinct, so no pair can be
   * emitted twice. EAGER, with [[int8NearDupProbe]]'s frame and declines;
   * `asOfIngest` pins the stored side to a fixed ingest history (the
   * second-level partition prunes alongside list_id) — what lets a
   * replayed dedup-ingest batch probe exactly what its first attempt
   * probed (see EventStreams.ivfSq8DedupIngestStream); tombstones still
   * apply in full (takedown semantics).
   */
  def ivfSq8NearDupProbe(spark: SparkSession, path: String, newVecs: DataFrame,
                         threshold: Double, nprobe: Int = 8,
                         corpusId: String = "vec_id",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         asOfIngest: Int = Int.MaxValue): DataFrame =
    ivfSq8ProbePass(spark, path, newVecs, threshold, nprobe, corpusId, idCol, vecCol,
      asOfIngest).pairs

  /**
   * IVF-routed ingest-time pruning — [[int8ProbePrune]] with the
   * [[ivfSq8NearDupProbe]] candidate pass: the batch routes through the
   * stored centroids, stored×batch pairs come from the probed lists only,
   * and batch-internal pairs come from the same routing: two batch rows
   * are scored iff their probe lists intersect, so candidate volume is
   * per-list collisions, not |batch|² (the sf1 scale run showed the exact
   * n² pass becoming the routed prune's floor once the stored side was
   * pruned). The drop decision is the shared policy — anchored
   * components drop, batch-only components keep their min id. This is the
   * daily-ingest dedup loop priced at |probed lists| per batch instead of
   * |corpus|: survivors are what [[ivfSq8Append]] should fold in.
   *
   * Recall follows the probe contract above: at `nprobe = nlist` every
   * pair shares every list and the result equals the flat
   * [[int8ProbePrune]] over the same corpus and scale exactly; below that,
   * a stored twin outside the probed lists is missed and its batch copy
   * survives (tune `nprobe` to the dedup recall the pipeline needs).
   */
  def ivfSq8ProbePrune(spark: SparkSession, path: String, newVecs: DataFrame,
                       threshold: Double, nprobe: Int = 8,
                       corpusId: String = "vec_id",
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       broadcastDrop: Boolean = false,
                       asOfIngest: Int = Int.MaxValue): DataFrame = {
    val probe = ivfSq8ProbePass(spark, path, newVecs, threshold, nprobe, corpusId, idCol,
      vecCol, asOfIngest)
    graft.dedup.Dedup.ingestPrunePolicy(newVecs, probe.stored, probe.batchPairs(spark, threshold),
      idCol, broadcastDrop)
  }

  /** A near-dup probe's pass ([[probePass]]): the batch's routing, the
    * scorer, and the local (corpus_id, new_id, cosine_q) pairs. */
  private final case class Probe(routing: SimilarityIndex.Routing, scorer: Sq8Scorer,
                                 pairs: DataFrame) {
    /** The pairs as the ingest policy's stored×batch (id_a, id_b). */
    def stored: DataFrame = pairs.select(col("corpus_id").as("id_a"), col("new_id").as("id_b"))

    /** The batch's own pairs at `threshold`, scored on the driver: two
      * batch rows pair when they share a probed list (a flat index's one
      * list holds them all). One (id_a, id_b) row per pair, id_a < id_b in
      * Spark's order for the id type; equal and null ids pair with nothing. */
    def batchPairs(spark: SparkSession, threshold: Double): DataFrame = {
      val qs = routing.queries
      val states = qs.indices.map(q => scorer.query(qs(q), routing.floats(q)))
      val found = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
      routing.probing.indices.foreach { list =>
        val members = routing.probing(list)
        for (i <- members.indices; j <- i + 1 until members.length) {
          val (a, b) = (states(members(i)), states(members(j)))
          if (a != null && b != null && scorer.score(a, b, list) >= threshold)
            found += ((members(i), members(j)))
        }
      }
      val idType = routing.idField.dataType
      val catalyst = CatalystTypeConverters.createToCatalystConverter(idType)
      val order = TypeUtils.getInterpretedOrdering(idType)
      val rows = found.toSeq.flatMap { case (a, b) =>
        val (ia, ib) = (qs(a).get(0), qs(b).get(0))
        val c = order.compare(catalyst(ia), catalyst(ib))
        if (c < 0) Some(Row(ia, ib)) else if (c > 0) Some(Row(ib, ia)) else None
      }
      spark.createDataFrame(rows.asJava, StructType(Seq(routing.idField.copy(name = "id_a"),
        routing.idField.copy(name = "id_b"))))
    }
  }

  /** The near-dup pass of both SQ8 probes: the batch (`idCol`, `vecCol`)
    * routed through `centers`, then [[SimilarityIndex.routedTopK]] over the
    * packed codes of `scan` with `threshold` as its score floor and no
    * top-k cut, scored by [[Sq8ProbeScorer]]. */
  private def probePass(spark: SparkSession, path: String, centers: Array[Array[Double]],
                        scan: DataFrame, newVecs: DataFrame, threshold: Double, nprobe: Int,
                        corpusId: String, idCol: String, vecCol: String): Probe = {
    val scorer = new Sq8ProbeScorer(readScale(spark, path))
    val routing = SimilarityIndex.route(spark, path, centers, newVecs, nprobe, idCol, vecCol)
    val bufs = SimilarityIndex.routedTopK(spark, scan, "codes", corpusId, routing, Int.MaxValue,
      _ => scorer, floor = threshold)
    Probe(routing, scorer, SimilarityIndex.localTopK(spark,
        routing.copy(idField = routing.idField.copy(name = "new_id")), "corpus_id", "cosine_q", bufs)
      .select(col("corpus_id").cast(scan.schema(corpusId).dataType).as("corpus_id"),
        col("new_id"), col("cosine_q")))
  }

  /** [[probePass]] over a flat [[int8Build]] index, as of an installment. */
  private def int8ProbePass(spark: SparkSession, path: String, newVecs: DataFrame,
                            threshold: Double, corpusId: String, idCol: String, vecCol: String,
                            asOfInstallment: Int): Probe =
    probePass(spark, path, SimilarityIndex.OneList,
      SimilarityIndex.flatCodes(spark, path, asOfInstallment), newVecs, threshold, 1,
      corpusId, idCol, vecCol)

  /** [[probePass]] over an IVF-SQ8 index's stored centroids and `codes/`,
    * as of an ingest. */
  private def ivfSq8ProbePass(spark: SparkSession, path: String, newVecs: DataFrame,
                              threshold: Double, nprobe: Int, corpusId: String, idCol: String,
                              vecCol: String, asOfIngest: Int): Probe =
    probePass(spark, path, SimilarityIndex.readCentroids(spark, path),
      SimilarityIndex.readLists(spark, s"$path/codes").filter(col("ingest") <= asOfIngest), newVecs,
      threshold, nprobe, corpusId, idCol, vecCol)

  /**
   * Tombstone a set of vector ids out of an [[int8Build]] index — the
   * delete half of the installment lifecycle ([[graft.store.Tombstones]]):
   * one id-list append, no data table touched. Every search/probe drops
   * tombstoned rows (takedown semantics — the set applies to asOf
   * snapshots too); [[int8Compact]] folds the
   * deletion physically and clears the list. Returns the deletes
   * installment written ([[int8DeleteAt]] is the replay-idempotent
   * sibling for at-least-once writers).
   */
  def int8Delete(spark: SparkSession, path: String, ids: DataFrame,
                 idCol: String = "vec_id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /** [[int8Delete]] at an EXPLICIT deletes installment — replays
    * overwrite their own partition (the `*AppendAt` contract). */
  def int8DeleteAt(spark: SparkSession, path: String, ids: DataFrame,
                   installment: Int, idCol: String = "vec_id"): Unit =
    graft.store.Tombstones.appendAt(spark, path, ids, idCol, installment)

  /** [[int8Delete]] for an [[ivfSq8Build]] index — same sidecar, same
    * read/compact contract ([[ivfSq8Compact]] folds it). */
  def ivfSq8Delete(spark: SparkSession, path: String, ids: DataFrame,
                   idCol: String = "vec_id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /**
   * Installment-index maintenance for [[int8Build]]/[[int8Append]] — the
   * bm25IndexCompact sibling: fold every `installment=` partition of
   * packed codes into ONE `installment=0` dir
   * ([[graft.store.Tombstones.fold]]). Tombstoned rows are dropped during
   * the fold and the deletes list is cleared after the swap — compaction
   * is where logical deletes become physical. Surviving code bytes and
   * the stored scale are untouched, so search results are bit-identical;
   * `asOfInstallment` snapshots are only meaningful between compactions
   * (the append history folds away — the shared appendable-index
   * contract). Returns the compacted row count.
   */
  def int8Compact(spark: SparkSession, path: String,
                  corpusId: String = "vec_id"): Long = {
    val rows = graft.store.Tombstones.fold(spark, path, "codes", corpusId)
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  /** Search a persisted [[int8Build]] index: [[ivfSq8Search]]'s routed
    * kernel over the index as one list. `asOfInstallment` pins the search
    * to a fixed snapshot of the append history (partition-pruned
    * `installment <= asOf` read). EAGER: returns a local frame (queryId,
    * corpusId long, cosine_q double, rank int), score desc and lower id on
    * ties; zero-norm and null queries score nothing. */
  def int8SearchIndexed(spark: SparkSession, path: String, queries: DataFrame,
                        k: Int, corpusId: String = "vec_id",
                        queryId: String = "query_id",
                        queryVec: String = "query_vec",
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    val (routing, top) = int8Pass(spark, path, queries, k, corpusId, queryId, queryVec,
      asOfInstallment)
    SimilarityIndex.localTopK(spark, routing, corpusId, "cosine_q", top)
  }

  /**
   * Hard-negative mining over the persisted int8 index — the
   * similarity-mined complement to [[graft.pipeline.Sampling.negativePairs]]
   * (random negatives): for each query vector, the k MOST similar non-self
   * corpus vectors, the classic hard negatives of contrastive training
   * (in-batch-negative quality depends on exactly these; e.g. DPR,
   * Karpukhin et al. 2020 mine them with BM25/ANN). Searches k+1, drops
   * the self hit, and CLOSES THE RANK GAP (new rank = old − 1 behind the
   * self row), so the output ranking equals a direct (cosine desc, id)
   * top-k over non-self rows — including when an exact duplicate with a
   * smaller id outranks self, or self fell outside the k+1 pool entirely.
   * Bit-portable for the same reason [[int8SearchIndexed]] is: integer
   * dot/norm kernels, one double division per score.
   */
  def hardNegatives(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int, corpusId: String = "vec_id",
                    queryId: String = "query_id",
                    queryVec: String = "query_vec",
                    asOfInstallment: Int = Int.MaxValue): DataFrame = {
    require(!queries.columns.contains("_hn_selfrank"),
      "hardNegatives reserves the internal column name _hn_selfrank")
    val hits = int8SearchIndexed(spark, path, queries, k + 1, corpusId,
      queryId, queryVec, asOfInstallment)
    val selfRank = hits.filter(col(corpusId) === col(queryId))
      .select(col(queryId), col("rank").as("_hn_selfrank"))
    hits.filter(col(corpusId) =!= col(queryId))
      .join(broadcast(selfRank), Seq(queryId), "left")
      .withColumn("rank",
        when(col("_hn_selfrank").isNotNull && col("rank") > col("_hn_selfrank"),
          col("rank") - 1).otherwise(col("rank")))
      .filter(col("rank") <= k)
      .drop("_hn_selfrank")
  }
}
