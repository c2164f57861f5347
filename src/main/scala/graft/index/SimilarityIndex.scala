package graft.index

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{TopK, VectorOps}
import graft.functions.expressions.CosineSimilarity

/**
 * Batch similarity search over embedding columns — the Spark-native
 * delivery of the reference's vector-tree capabilities (SURVEY.md §2.4):
 *
 *  - bruteForceTopK ≙ GraphTraverser.Traverse + GraphSearcher.Search
 *    (GraphTraverser.cs:7-28, GraphSearcher.cs:12-16): exact scoring of
 *    every (query, item) pair, top-k per query.
 *  - lshTopK        ≙ GraphExtensions.ClosestMatch / SeekableGraphReader
 *    (GraphExtensions.cs:46-84, SeekableGraphReader.cs:57-104): approximate
 *    search that only touches a candidate subset (hyperplane buckets play
 *    the role of the tree path / seek offsets).
 *  - ivfBuild/ivfSearchIndexed ≙ GraphSerializer.Save + SeekableGraphReader
 *    (GraphSerializer.cs:29-61, SeekableGraphReader.cs:57-104): a persisted
 *    index where a search reads ONLY the lists on its probe path, via
 *    list_id-partitioned parquet + partition pruning.
 *  - buildVocabulary / bagOfWords ≙ LexiconBuilder.BuildLexicon +
 *    Tokenizer.Tokenize + sentence-vector sum (LexiconBuilder.cs:5-18,
 *    Tokenizer.cs:16-27, GraphBuilder.cs:26-30).
 *  - validateIndex  ≙ GraphIndexValidator.ValidateIndex
 *    (GraphIndexValidator.cs:24-55): every build-corpus query must return
 *    itself at ≈ identical score.
 *
 * Scale shape: brute force broadcasts the (small) query side so the big
 * corpus never shuffles; LSH bands ids only — vectors never ride the band
 * exchange — and scores within buckets only. All per-query ranking goes
 * through `TopK`'s bounded buffers — `topKPerGroup` (bounded partial
 * aggregation), or its insert/merge directly in the routed IVF kernel
 * (`routedTopK`: one scan plus a driver merge, shared by every persisted
 * vector search): no per-query window funnel anywhere in this file.
 */
object SimilarityIndex {

  private def cosine(a: Column, b: Column): Column =
    CosineSimilarity.cosineNative(a, b)

  /**
   * Exact top-k: score every corpus row against every query (queries
   * broadcast — the corpus side never moves), bounded top-k per query
   * (map-side partial combine keeps ≤ k rows per query per task).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     corpusId: String = "vec_id", corpusVec: String = "embedding",
                     queryId: String = "query_id", queryVec: String = "query_vec",
                     excludeSelf: Boolean = false): DataFrame = {
    val crossed = corpus.crossJoin(broadcast(queries))
    val candidates =
      if (excludeSelf) crossed.filter(col(corpusId) =!= col(queryId)) else crossed
    val scored = candidates
      .withColumn("cosine", cosine(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cosine"))
    TopK.topKPerGroup(scored, queryId, corpusId, "cosine", k)
  }

  /**
   * Approximate top-k via random-hyperplane LSH: items sharing at least one
   * band bucket with the query are scored; others are never touched (the
   * scale path — candidate count is ~bucket-sized, not corpus-sized).
   * Recall/cost tradeoff via (planes, bands).
   *
   * The band exchange carries (id, band, bucket) ONLY — vectors are joined
   * back for scoring after the candidate ids are deduped, mirroring
   * Dedup.embeddingNearDuplicates (the ids-only banding pattern). At 100 TB
   * that is the difference between shuffling `bands ×` every embedding and
   * shuffling three scalars per banded row.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int,
              planes: Int = 16, bands: Int = 8,
              corpusId: String = "vec_id", corpusVec: String = "embedding",
              queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val ppb = planes / bands
    // ids-only banding: the vector is consumed by the signature UDF inside
    // this projection and never survives into the exploded band rows
    def bandedIds(df: DataFrame, id: String, vec: String): DataFrame = {
      val bits = graft.dedup.Dedup.signBitsUdf(dims, planes)(col(vec))
      df.select(col(id), bits.as("_bits"))
        .select(col(id), posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("_bits"), b * ppb + lit(1), lit(ppb)))))
          .as(Seq("band", "bucket")))
    }
    val candidates = bandedIds(corpus, corpusId, corpusVec)
      .join(bandedIds(queries, queryId, queryVec), Seq("band", "bucket"))
      .select(col(queryId), col(corpusId))
      .distinct()
    val scored = candidates
      .join(corpus.select(col(corpusId), col(corpusVec)), Seq(corpusId))
      .join(broadcast(queries.select(col(queryId), col(queryVec))), Seq(queryId))
      .withColumn("cosine", cosine(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("cosine"))
    TopK.topKPerGroup(scored, queryId, corpusId, "cosine", k)
  }

  /**
   * Nearest-seed cluster assignment by cosine: each corpus vector maps to
   * the seed it is most similar to (ties → smaller seed id). Seeds are a
   * handful of rows and BROADCAST; the corpus side never shuffles vectors
   * — the only exchange ships one (vec_id, seed_id, cosine) triplet per
   * corpus row through the bounded top-1 partial aggregate (map-side
   * combine collapses the seeds-per-vector candidates inside each task).
   * Output: (corpusId, seed_id, cosine).
   */
  def clusterAssign(corpus: DataFrame, seeds: DataFrame,
                    corpusId: String = "vec_id", corpusVec: String = "embedding",
                    seedId: String = "seed_id", seedVec: String = "seed_vec"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(seeds))
      .withColumn("cosine", cosine(col(corpusVec), col(seedVec)))
      .select(col(corpusId), col(seedId), col("cosine"))
    TopK.topKPerGroup(scored, corpusId, seedId, "cosine", 1)
      .select(col(corpusId), col(seedId), col("cosine"))
  }

  /**
   * Cluster-balanced downsampling — the SemDeDup/cluster-sampling shape
   * (Abbas et al. 2023; DeepSeekMath's domain-balanced selection): when a
   * corpus must shrink to a fraction, uniform sampling keeps the head
   * distribution (near-duplicate-dense regions stay dense); sampling a
   * bounded QUOTA per embedding-space cluster keeps the tails — every
   * region of the space retains representation. Vectors are assigned to
   * their nearest seed ([[clusterAssign]]) and, per cluster, the `quota`
   * members with the smallest Knuth-hash coordinate survive (the
   * deterministic, engine-portable quota-sampling rule; clusters smaller
   * than the quota survive whole). Output: (seed_id, corpusId, rank).
   *
   * Scale shape: seeds broadcast, the corpus never shuffles vectors; both
   * ranking steps ride bounded TopK partial aggregates (≤ 1 resp. ≤ quota
   * rows per group per task) — no per-cluster window funnel, so one hot
   * cluster (dense regions are exactly where clusters run hot) spreads
   * across the cluster.
   */
  def clusterBalancedSample(corpus: DataFrame, seeds: DataFrame, quota: Int,
                            corpusId: String = "vec_id", corpusVec: String = "embedding",
                            seedId: String = "seed_id", seedVec: String = "seed_vec"): DataFrame = {
    require(quota >= 1, "quota must be at least 1")
    val assigned = clusterAssign(corpus, seeds, corpusId, corpusVec, seedId, seedVec)
      .select(col(seedId), col(corpusId),
        negate(graft.pipeline.Sampling.hashCoord(col(corpusId)).cast("double"))
          .as("_cbs_neg"))
    TopK.topKPerGroup(assigned, seedId, corpusId, "_cbs_neg", quota)
      .select(col(seedId), col(corpusId), col("rank"))
  }

  // ------------------------------------------------------------------ IVF

  /** Shared IVF kernels: centroid fit + nearest-list assignment/probing.
    *
    * The fit is [[KMeansLocal]] over a ROW-BOUNDED hash-ranked sample
    * (r17 optimization round — guide §1.2/§5): max(256·nlist, 10⁴)
    * training points regardless of corpus size (FAISS practice; the
    * fraction-based MLlib sample scaled linearly with the corpus, the
    * 100×-scale caveat of the r16 verdict), one narrow corpus pass to
    * extract them, zero distributed jobs to iterate. Centroids are a
    * pure function of corpus CONTENT — partitioning/core-count
    * independent, which the MLlib k-means|| path was not. */
  private[index] def fitCentroids(corpus: DataFrame, corpusVec: String,
                                  nlist: Int): Array[Array[Double]] = {
    val bound = math.max(256L * nlist, 10000L)
    val sample = KMeansLocal.boundedSample(corpus.select(col(corpusVec)),
      corpusVec, bound)
    KMeansLocal.fit(sample, nlist, seed = 42L, maxIter = 10)
  }

  /** Squared distances from `v` to every centroid, each over the first
    * min(|v|, |c|) components, the float components widened to double. */
  private def sqDists(centers: Array[Array[Double]], v: Array[Float]): Array[Double] = {
    val out = new Array[Double](centers.length)
    var j = 0
    while (j < centers.length) {
      val c = centers(j)
      val n = math.min(v.length, c.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = v(i) - c(i); s += d * d; i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** Nearest-centroid id, the first on ties (map-side: the centroid matrix
    * rides the closure). The vector arrives as a primitive array, read once
    * per row. */
  private[index] def assignUdf(centers: Array[Array[Double]]) = udf { (v: Array[Float]) =>
    val d = sqDists(centers, v)
    var best = 0; var bestD = Double.MaxValue; var j = 0
    while (j < d.length) { if (d(j) < bestD) { bestD = d(j); best = j }; j += 1 }
    best
  }

  /** The `nprobe` nearest centroid ids for a query vector, nearest first
    * (equal distances → lower list id); none for a null vector, so a null
    * query yields no rows instead of failing its search. */
  private[index] def probeLists(centers: Array[Array[Double]], v: Seq[Float],
                                nprobe: Int): Array[Int] =
    if (v == null) Array.emptyIntArray
    else sqDists(centers, v.toArray).zipWithIndex.sorted
      .take(math.min(nprobe, centers.length)).map(_._2)

  /**
   * Fit and persist an IVF index (≙ GraphSerializer.Save, GraphSerializer
   * .cs:29-61 — but as a queryable columnar layout instead of a node file):
   *
   *   - `<path>/centroids`   — (list_id, centroid array<double>), nlist rows
   *   - `<path>/assignments` — the corpus + its list_id, written
   *     `partitionBy("list_id")` so each inverted list is its own partition
   *     directory and a probe reads ONLY matching partitions.
   *
   * The k-means fit reads a row-bounded sample whatever the corpus size
   * ([[fitCentroids]]).
   */
  def ivfBuild(corpus: DataFrame, path: String, nlist: Int = 64,
               corpusId: String = "vec_id", corpusVec: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val centers = fitCentroids(corpus, corpusVec, nlist)
    writeCentroids(spark, path, centers)
    writeLists(corpus.withColumn("list_id", assignUdf(centers)(col(corpusVec))),
      s"$path/assignments", 0, build = true)
    // a rebuild starts a new index generation — drop the previous
    // generation's tombstones or they silently filter the new rows
    graft.store.Tombstones.clear(spark, path)
  }

  /** Write the routing table: (list_id, centroid array<double>), one file. */
  private[index] def writeCentroids(spark: SparkSession, path: String,
                                    centers: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("list_id", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Write `df` (with its `list_id`) as ingest `ingest` of the IVF
    * families' two-level layout at `dir`: list_id stays the TOP partition
    * (probe pruning), and the ingest level below it is what makes appends
    * replay-idempotent and foldable. A build replaces the whole dir; an
    * append replaces only its own `list_id=X/ingest=N` dirs (dynamic
    * overwrite), so a retry can never duplicate rows. */
  private[index] def writeLists(df: DataFrame, dir: String, ingest: Int,
                                build: Boolean): Unit = {
    val w = df.withColumn("ingest", lit(ingest)).write.mode("overwrite")
    (if (build) w else w.option("partitionOverwriteMode", "dynamic"))
      .partitionBy("list_id", "ingest").parquet(dir)
  }

  /** Fold one `list_id=X/ingest=N`-partitioned dir (the layout above) to
    * `ingest=0`, hash-clustered by list and without the tombstoned rows,
    * through [[graft.store.DirSwap.replace]]; returns the folded row
    * count. Shared by [[ivfCompact]] and the IVF-SQ8/IVF-PQ codes/ and
    * raw/ folds ([[Quantize.ivfSq8Compact]]). */
  private[index] def compactListDir(spark: SparkSession, indexPath: String,
                                    dir: String, corpusId: String): Long = {
    graft.store.DirSwap.replace(spark, dir) { side =>
      val rows = org.apache.spark.sql.Observation()
      // tombstoned rows are skipped map-side, like the search's scan
      graft.store.Tombstones.filter(spark, indexPath, readLists(spark, dir), corpusId)
        .withColumn("ingest", lit(0)) // the ingest history folds away
        .repartition(col("list_id"))
        // observed above the exchange: a fold of no rows still reports 0
        .observe(rows, count(lit(1)).as("n"))
        .write.partitionBy("list_id", "ingest")
        .parquet(side)
      rows.get("n").asInstanceOf[Long]
    }
  }

  /** A `list_id=X/ingest=N`-partitioned dir ([[writeLists]]) read with its
    * declared schema: no schema-inference job. */
  private[index] def readLists(spark: SparkSession, dir: String): DataFrame =
    graft.store.readDeclared(spark, dir, "list_id INT, ingest INT")

  /** The stored centroid matrix, list_id-ordered — nlist rows, read on the
    * driver (it is the index's tiny routing table). */
  private[index] def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    graft.store.readSmall(spark, s"$path/centroids", "list_id INT, centroid ARRAY<DOUBLE>")
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /**
   * Fold new vectors into a persisted [[ivfBuild]] index WITHOUT re-fitting:
   * assign each new vector against the STORED centroids (map-side — the
   * nlist·dim centroid matrix rides the task closure, the batch never
   * shuffles) and append into the matching `list_id=` partition
   * directories. Appending a batch costs exactly the batch's work; the
   * stored assignments are never read or rewritten (≙ append-oriented
   * writes, ColumnWriter.cs:29-70).
   *
   * Centroids are intentionally FROZEN: probe routing stays consistent
   * with every previously stored assignment, so search-after-append is
   * exactly search over the unioned corpus. If the data distribution
   * drifts far from the fitted centroids, lists skew and recall decays —
   * re-fit with a fresh [[ivfBuild]] at that point (the same rebuild
   * cadence any IVF system needs).
   */
  def ivfAppend(spark: SparkSession, path: String, newVecs: DataFrame,
                corpusVec: String = "embedding"): Unit =
    ivfAppendAt(spark, path, newVecs,
      graft.store.Installments.nextIngest(spark, s"$path/assignments"),
      corpusVec)

  /** [[ivfAppend]] at an EXPLICIT ingest number — the replay-idempotent
    * form for at-least-once writers (the `*AppendAt` contract): the
    * batch lands as `list_id=X/ingest=N/` dirs via DYNAMIC partition
    * overwrite, so a retry replaces exactly its own dirs and can never
    * duplicate assignments. Callers own the numbering discipline
    * ([[graft.streaming.EventStreams.ivfIngestStream]] uses
    * `StreamInstallmentBase + batchId`). */
  def ivfAppendAt(spark: SparkSession, path: String, newVecs: DataFrame,
                  ingest: Int, corpusVec: String = "embedding"): Unit = {
    val centers = readCentroids(spark, path)
    writeLists(newVecs.withColumn("list_id", assignUdf(centers)(col(corpusVec))),
      s"$path/assignments", ingest, build = false)
  }

  /** Assignment-quality drift stats for the float IVF index (r17) —
    * the RE-TRAIN signal the append contract's "re-fit when the
    * distribution drifts" doc line asks for, as a dashboard frame: per
    * (list_id, ingest), the row count and the MEAN COSINE of each
    * stored vector to its own list centroid. Build rows (ingest 0)
    * fit the centroids, so their mean is the baseline; appended
    * ingests assigned against FROZEN centroids read directly against
    * it — a falling mean_cos on later ingests is the drift, a
    * lopsided n_rows the imbalance ([[graft.store.Installments.ivfStats]]
    * gives counts alone without scanning vectors).
    *
    * Oracle-stable by construction: each cosine rounds to
    * DECIMAL(18,6) BEFORE the sum (decimal addition is
    * order-independent), and the mean derives double ÷ long →
    * DECIMAL(18,6) → DOUBLE (the q_scaler_stats protocol — never emit
    * DECIMAL). Null/zero-norm/dimension-mismatched vectors score no
    * cosine (excluded from `n_scored`/mean, counted in `n_rows`).
    * One scan of the assignments, centroids broadcast; nothing
    * corpus-sized shuffles beyond the (list, ingest) aggregate.
    * `table = "raw"` points the same dashboard at an IVF-SQ8 index's
    * refine sidecar (identical two-level layout + float vectors), so
    * the quantized family gets the re-train signal too — when built
    * with `storeRaw = true`. */
  def ivfDriftStats(spark: SparkSession, path: String,
                    vecCol: String = "embedding",
                    table: String = "assignments"): DataFrame = {
    val centers = readCentroids(spark, path)
    val bc = spark.sparkContext.broadcast(centers)
    val cosUdf = udf { (lid: Int, v: Seq[Float]) =>
      val cs = bc.value
      if (v == null || lid < 0 || lid >= cs.length ||
          v.length != cs(lid).length) null.asInstanceOf[java.lang.Double]
      else {
        val c = cs(lid)
        var dot = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
        while (i < c.length) {
          dot += v(i) * c(i)
          nv += v(i).toDouble * v(i)
          nc += c(i) * c(i)
          i += 1
        }
        if (nv == 0.0 || nc == 0.0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(
          dot / (math.sqrt(nv) * math.sqrt(nc)))
      }
    }
    readLists(spark, s"$path/$table")
      .select(col("list_id").cast("int").as("list_id"),
        col("ingest").cast("int").as("ingest"),
        cosUdf(col("list_id"), col(vecCol)).as("_c"))
      .withColumn("_cd", col("_c").cast("decimal(18,6)"))
      .groupBy("list_id", "ingest")
      .agg(count(lit(1)).as("n_rows"),
        count(col("_cd")).as("n_scored"),
        sum(col("_cd")).as("_s"))
      .withColumn("mean_cos",
        when(col("n_scored") > 0,
          (col("_s").cast("double") / col("n_scored"))
            .cast("decimal(18,6)").cast("double")))
      .drop("_s")
  }

  /**
   * IVF index maintenance — the small-file compaction the append-only
   * contract promises (the bm25IndexCompact/minhashIndexCompactSizes
   * sibling): every [[ivfAppend]] lands one parquet file per touched
   * `list_id=` partition, so a daily cadence accumulates hundreds of
   * small files per list and probe reads degrade to file-open overhead.
   * Rewrites the assignments hash-clustered by list (one file per list
   * per writing task) with [[compactListDir]]; row content is untouched,
   * so results are bit-identical. Centroids are not touched. Returns the
   * compacted assignment row count.
   */
  def ivfCompact(spark: SparkSession, path: String,
                 corpusId: String = "vec_id"): Long = {
    val rows = compactListDir(spark, path, s"$path/assignments", corpusId)
    // clear deletes LAST (the Bm25 vacuum ordering): until this point a
    // crashed compaction still reads correctly, every read skipping the
    // tombstoned ids, and re-running the compaction completes it
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  /**
   * Tombstone vector ids out of a persisted [[ivfBuild]] index — the
   * delete half of the installment lifecycle ([[graft.store.Tombstones]]),
   * closing the one family the index-wide tombstone sweep had missed: one
   * id-list append, no assignment partition touched. [[ivfSearchIndexed]]
   * drops tombstoned rows inside its scan (takedown semantics — the set
   * applies to every read); [[ivfCompact]] folds the deletion
   * physically and clears the list. The centroids are intentionally
   * untouched: probe routing must stay consistent with every stored
   * assignment (the frozen-centroid append contract), and a delete only
   * shrinks lists. Returns the deletes installment written.
   */
  def ivfDelete(spark: SparkSession, path: String, ids: DataFrame,
                idCol: String = "vec_id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /** [[ivfDelete]] at an EXPLICIT deletes installment — the replay-
    * idempotent form for at-least-once writers (the `*AppendAt`
    * contract): a retry overwrites its own partition dir. */
  def ivfDeleteAt(spark: SparkSession, path: String, ids: DataFrame,
                  installment: Int, idCol: String = "vec_id"): Unit =
    graft.store.Tombstones.appendAt(spark, path, ids, idCol, installment)

  /**
   * Search a persisted IVF index: probe lists are resolved driver-side from
   * the (tiny) centroid table, and the assignment scan carries a
   * `list_id IN (...)` partition filter — the file index prunes every
   * non-probed list before a single byte is read. This is the true analog
   * of SeekableGraphReader.ClosestMatch (SeekableGraphReader.cs:57-104):
   * read only the nodes on the search path.
   *
   * Query sets are small (an interactive probe set), so the search is one
   * scan plus a driver merge, never a top-k exchange — the routed kernel
   * ([[routedTopK]]) every persisted vector search shares, here scoring
   * float vectors by exact cosine ([[CosineSimilarity.cosine]]):
   *
   *   1. route on the driver ([[route]]): the queries (`queryId`,
   *      `queryVec`) and, when a delete has landed, the tombstone ids are
   *      collected; each query's `nprobe` lists come from [[probeLists]];
   *   2. score map-side: one pass over the pruned assignments, each row
   *      scored against only the queries probing its list, tombstoned rows
   *      skipped; every task keeps a bounded top-k buffer per query
   *      ([[TopK.insert]]), so at most tasks · |queries| · k partial rows
   *      reach the driver;
   *   3. merge on the driver ([[TopK.merge]]).
   *
   * EAGER: the work runs inside this call, and the result is a local frame
   * of ≤ |queries| · k rows — (queryId as given, corpusId long, cosine
   * double, rank int), the `TopK.topKPerGroup` columns and order (score
   * desc, lower id on ties). Queries sharing an id rank together; a query
   * with a null vector, and corpus rows with a null id or vector, score
   * nothing. `corpusVec` and `queryVec` are both array<float> or both
   * array<double>; routing reads a query at float precision. The scan runs
   * as one SQL execution, so query listeners see it with its file-scan
   * metrics.
   */
  def ivfSearchIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nprobe: Int = 8,
                       corpusId: String = "vec_id", corpusVec: String = "embedding",
                       queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val routing = route(spark, path, readCentroids(spark, path), queries, nprobe, queryId, queryVec)
    localTopK(spark, routing, corpusId, "cosine",
      routedTopK(spark, readLists(spark, s"$path/assignments"), corpusVec, corpusId, routing, k,
        cosineScorer("ivfSearchIndexed", corpusVec, queryVec, routing, null)))
  }

  // ------------------------------------------------- routed search kernel

  /** One search's driver-side routing ([[route]]): the collected
    * (queryId, queryVec) rows, each query's vector at float precision
    * (null for a null vector), the distinct query ids with each query's
    * index into them (queries sharing an id share one top-k — the
    * `topKPerGroup` group semantics), the queries probing each list, and
    * the sorted tombstone ids. */
  private[index] final case class Routing(queries: Array[Row], floats: Array[Seq[Float]],
                                          keys: Array[Any], group: Array[Int],
                                          probing: Array[Array[Int]], dead: Array[Long],
                                          idField: StructField, vecType: DataType)

  /** Route a query set through `centers` (an IVF index's [[readCentroids]],
    * or a flat index's [[OneList]]) and collect the tombstones of the index
    * at `path`: one query collect, one tombstone collect. */
  private[index] def route(spark: SparkSession, path: String, centers: Array[Array[Double]],
                           queries: DataFrame, nprobe: Int, queryId: String,
                           queryVec: String): Routing = {
    val qs = queries.select(col(queryId), col(queryVec)).collect()
    val vecType = queries.schema(queryVec).dataType
    val isDouble = vecType match { case ArrayType(DoubleType, _) => true; case _ => false }
    val floats = qs.map(r => if (r.isNullAt(1)) null
      else if (isDouble) r.getSeq[Double](1).map(_.toFloat) else r.getSeq[Float](1))
    val keys = qs.map(_.get(0)).distinct
    val groupOf = keys.zipWithIndex.toMap
    val byList = Array.fill(centers.length)(Array.newBuilder[Int])
    qs.indices.foreach(q => probeLists(centers, floats(q), nprobe).foreach(byList(_) += q))
    Routing(qs, floats, keys, qs.map(r => groupOf(r.get(0))), byList.map(_.result()),
      graft.store.Tombstones.collectLongIds(spark, path), queries.schema(queryId), vecType)
  }

  /** A codec's half of [[routedTopK]]: query state `Q` is prepared once per
    * query on the driver, row state `R` once per scanned row, and a row is
    * scored against each query probing its list. A null state, or a false
    * [[admits]], declines without scoring — never a NaN score, which
    * `TopK` ranks like any other. */
  private[index] trait RoutedScorer[Q, R] extends Serializable {
    /** The state of a collected (queryId, queryVec) row, given its vector
      * at float precision (null for a null vector); null: the query
      * scores nothing. */
    def query(r: Row, v: Seq[Float]): Q
    /** The state of a scanned row's non-null payload (ordinal 1 of `r`);
      * null: the row scores nothing. */
    def row(r: InternalRow): R
    /** False: the row `id` does not compete for this query. */
    def admits(id: Long, q: Q): Boolean = true
    def score(row: R, q: Q, list: Int): Double
  }

  /** The routing table of a flat index: one empty centroid, so
    * [[probeLists]] sends every non-null query to list 0. */
  private[index] val OneList: Array[Array[Double]] = Array(Array.emptyDoubleArray)

  /** `df` as the one list of a flat index: its rows in list 0. */
  private[index] def oneList(df: DataFrame): DataFrame = df.withColumn("list_id", lit(0))

  /** A flat installment index's `codes/` as [[oneList]], read with its
    * declared schema and partition-pruned to `installment <= asOfInstallment`. */
  private[index] def flatCodes(spark: SparkSession, path: String, asOfInstallment: Int): DataFrame =
    oneList(graft.store.readDeclared(spark, s"$path/codes", "installment INT")
      .filter(col("installment") <= asOfInstallment))

  /**
   * The routed-search kernel of every persisted vector search: one
   * `list_id`-pruned pass over `scan` (an IVF table, or a flat index as
   * [[oneList]]) reading (corpusId, `payload`, list_id), run as one SQL
   * execution. Rows with a null id or payload, and tombstoned rows, are
   * skipped; every other row is scored against the queries probing its
   * list, into one [[TopK.insert]] buffer per query id per task, and the
   * task buffers merge on the driver ([[TopK.merge]]). Returns one buffer
   * per `routing.keys` entry. `scorer` receives the payload column's type.
   * A score below `floor` never enters a buffer: with `k = Int.MaxValue`
   * the buffers hold every pair at or above it (the SQ8 near-dup probes).
   */
  private[index] def routedTopK[Q >: Null : ClassTag, R >: Null](
      spark: SparkSession, scan: DataFrame, payload: String, corpusId: String,
      routing: Routing, k: Int, scorer: DataType => RoutedScorer[Q, R],
      floor: Double = Double.NegativeInfinity): Array[TopK.Buf] = {
    require(k > 0, "k must be positive")
    val s = scorer(scan.schema(payload).dataType)
    val states = routing.queries.indices.map(q => s.query(routing.queries(q), routing.floats(q))).toArray
    val Routing(_, _, keys, group, probing, dead, _, _) = routing
    val pruned = scan
      .filter(col("list_id").isin(probing.indices.filter(probing(_).nonEmpty): _*))
      .select(col(corpusId).cast("long"), col(payload), col("list_id").cast("int"))
    val nGroups = keys.length
    val partials = graft.store.scanCollect(pruned) { rows =>
      val bufs = Array.fill(nGroups)(TopK.emptyBuf)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) &&
            java.util.Arrays.binarySearch(dead, r.getLong(0)) < 0) {
          val row = s.row(r)
          if (row != null) {
            val id = r.getLong(0)
            val list = r.getInt(2)
            val qsOfList = probing(list)
            var i = 0
            while (i < qsOfList.length) {
              val q = qsOfList(i)
              val st = states(q)
              if (st != null && s.admits(id, st)) {
                val g = group(q)
                bufs(g) = TopK.insert(bufs(g), s.score(row, st, list), id, k, floor)
              }
              i += 1
            }
          }
        }
      }
      Iterator.single(bufs)
    }
    val merged = Array.fill(nGroups)(TopK.emptyBuf)
    partials.foreach(p => p.indices.foreach(g => merged(g) = TopK.merge(merged(g), p(g), k)))
    merged
  }

  /** [[routedTopK]]'s buffers as a local frame: (queryId as given,
    * corpusId long, `score` double, rank int), best first per query id. */
  private[index] def localTopK(spark: SparkSession, routing: Routing, corpusId: String,
                               score: String, bufs: Array[TopK.Buf]): DataFrame = {
    val rows = bufs.indices.flatMap(g =>
      bufs(g).ids.indices.map(i => Row(routing.keys(g), bufs(g).ids(i), bufs(g).scores(i), i + 1)))
    spark.createDataFrame(rows.asJava, StructType(Seq(routing.idField,
      StructField(corpusId, LongType), StructField(score, DoubleType),
      StructField("rank", IntegerType, nullable = false))))
  }

  /** Exact cosine of stored against query vectors, both array<float> or
    * both array<double>; with `pools`, a query competes only the ids of its
    * query id's pool. */
  private def cosineScorer(caller: String, corpusVec: String, queryVec: String,
                           routing: Routing, pools: Map[Any, Array[Long]])(
      stored: DataType): RoutedScorer[(ArrayData, Array[Long]), ArrayData] = {
    val isFloat = (stored, routing.vecType) match {
      case (ArrayType(a @ (FloatType | DoubleType), _), ArrayType(b, _)) if a == b => a == FloatType
      case (a, b) => throw new IllegalArgumentException(s"$caller: $corpusVec " +
        s"(${a.sql}) and $queryVec (${b.sql}) must both be array<float> or array<double>")
    }
    new RoutedScorer[(ArrayData, Array[Long]), ArrayData] {
      def query(r: Row, v: Seq[Float]): (ArrayData, Array[Long]) =
        if (r.isNullAt(1)) null
        else (if (isFloat) UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray)
          else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray),
          if (pools == null) null else pools(r.get(0)))
      def row(r: InternalRow): ArrayData = r.getArray(1)
      override def admits(id: Long, q: (ArrayData, Array[Long])): Boolean =
        q._2 == null || java.util.Arrays.binarySearch(q._2, id) >= 0
      def score(row: ArrayData, q: (ArrayData, Array[Long]), list: Int): Double =
        CosineSimilarity.cosine(row, q._1, isFloat)
    }
  }

  /** An IVF index's `raw/` refine sidecar; fails fast when the build did
    * not store one. */
  private[index] def rawSidecar(spark: SparkSession, path: String): DataFrame = {
    require(graft.store.dirExists(spark, s"$path/raw"),
      s"$path has no raw/ refine sidecar — build with storeRaw = true to enable refined search")
    readLists(spark, s"$path/raw")
  }

  /**
   * The exact re-rank of every refined search: a first `pass` at
   * `candidateK` (its routing and candidate pools), then the kernel over
   * `scan` (an IVF index's [[rawSidecar]], or a flat index's float corpus
   * as [[oneList]]) filtered to the union of the pools, each query scoring
   * by exact cosine only its query id's pool. The first pass's routing is
   * reused, widened so a query probes every list a query sharing its id
   * probed — the lists its pool came from. Returns the local (queryId,
   * corpusId, cosine, rank) frame.
   */
  private[index] def refine(spark: SparkSession, scan: DataFrame, k: Int, candidateK: Int,
                            corpusId: String, corpusVec: String, queryVec: String)(
      pass: Int => (Routing, Array[TopK.Buf])): DataFrame = {
    require(candidateK >= k, s"candidateK ($candidateK) must be at least k ($k)")
    val (routing, pools) = pass(candidateK)
    val members = routing.group.indices.groupBy(routing.group(_))
    val widened = routing.copy(probing = routing.probing.map(qs =>
      qs.flatMap(q => members(routing.group(q))).distinct))
    val byKey = routing.keys.indices.map(g => routing.keys(g) -> pools(g).ids.sorted).toMap
    // a UDF, not `isin`: pushed into parquet, an IN list of 512–1,024 ids
    // pruned no row group of a 128-file raw/ and cost 0.2–0.3 s per search
    val poolIds = pools.flatMap(_.ids).distinct.sorted
    val pooled = scan.filter(udf((id: Long) => java.util.Arrays.binarySearch(poolIds, id) >= 0)
      .apply(col(corpusId)))
    localTopK(spark, routing, corpusId, "cosine",
      routedTopK(spark, pooled, corpusVec, corpusId, widened, k,
        cosineScorer("refined search", corpusVec, queryVec, routing, byKey)))
  }

  /**
   * Recall gate for approximate top-k — the distributed form of the
   * reference's own index-quality contract (GraphTests.cs:40-43 and
   * GraphIndexValidator.cs:24-55: build-corpus queries must return
   * themselves at ≈ IdenticalAngle). For corpus-member queries:
   *
   *   - `top1_id`     — the approximate rank-1 hit. A corpus-member query
   *     always collides with itself in every LSH band (identical sign
   *     bits) / probes its own IVF list (same nearest centroid), so this
   *     is deterministically the query itself at cosine 1 — directly
   *     oracle-checkable.
   *   - `recall_pass` — |approx ∩ exact| ≥ `recallFloor` of the exact
   *     top-k, the containment check against a brute-force ranking.
   *
   * `approx` and `exact` are both `topKPerGroup` outputs
   * (queryId, idCol, score, rank). Both are tiny (≤ |queries|·k rows), so
   * this report costs nothing next to the searches themselves.
   */
  def approxRecallReport(approx: DataFrame, exact: DataFrame, recallFloor: Int,
                         queryId: String = "query_id",
                         idCol: String = "vec_id"): DataFrame = {
    val hits = approx.select(col(queryId), col(idCol))
      .join(exact.select(col(queryId), col(idCol)), Seq(queryId, idCol))
      .groupBy(col(queryId))
      .agg(count(lit(1)).as("_hits"))
    approx.filter(col("rank") === 1)
      .select(col(queryId), col(idCol).as("top1_id"))
      .join(hits, Seq(queryId), "left")
      .select(col(queryId), col("top1_id"),
        (coalesce(col("_hits"), lit(0L)) >= recallFloor).as("recall_pass"))
  }

  // ------------------------------------------------- vocab / bag-of-words

  /**
   * Dense word→index vocabulary from a corpus of `;`-separated sentences
   * (≙ LexiconBuilder: first-seen order becomes a stable sorted order here —
   * alphabetical, since "first seen" is meaningless under parallel scan).
   */
  def buildVocabulary(sentences: DataFrame, textCol: String = "sentence",
                      sep: String = ";"): DataFrame = {
    val words = sentences
      .select(explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    // two-phase distributed rank — no single-partition global window
    graft.store.Ranks.withOrderedIndex(words, "word", "index")
      .withColumn("index", col("index").cast("int"))
  }

  /**
   * Bag-of-words sentence vectors against a vocabulary: unknown words are
   * skipped (≙ Tokenizer.cs:16-27), counts summed (≙ GraphBuilder.cs:26-30).
   * Output: (id, sentence, indices array<int>, counts array<double>) sparse form.
   */
  def bagOfWords(sentences: DataFrame, vocab: DataFrame,
                 idCol: String = "id", textCol: String = "sentence",
                 sep: String = ";"): DataFrame = {
    // token rows and both aggregations carry the numeric id only — the
    // sentence string joins back at the end instead of riding two shuffles
    val toks = sentences.select(col(idCol),
      explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("word"))
    val grouped = toks.join(vocab, Seq("word")) // inner join drops unknown words
      .groupBy(col(idCol), col("index"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy(col(idCol))
      .agg(
        transform(array_sort(collect_list(struct(col("index"), col("cnt")))),
          x => x.getField("index")).as("indices"),
        transform(array_sort(collect_list(struct(col("index"), col("cnt")))),
          x => x.getField("cnt")).as("counts"))
    // sentences whose every token is unknown still get a (zero) vector —
    // exhaustive closestMatch ranks them at score 0 instead of losing them.
    // (closestMatchInverted documents its own contract: zero-overlap
    // queries return no row, since only shared dims generate candidates.)
    sentences.select(col(idCol), col(textCol))
      .join(grouped, Seq(idCol), "left")
      .select(col(idCol), col(textCol),
        coalesce(col("indices"), array().cast("array<int>")).as("indices"),
        coalesce(col("counts"), array().cast("array<double>")).as("counts"))
  }

  /** Sparse cosine over (indices, counts) pairs — for BoW vectors. */
  private val sparseCos = udf(
    (ia: Seq[Int], va: Seq[Double], ib: Seq[Int], vb: Seq[Double]) =>
      VectorOps.cosineSparse(ia.toArray, va.toArray, ib.toArray, vb.toArray))

  /**
   * Closest match of each query sentence against the indexed corpus
   * (≙ GraphService.Search → ClosestMatch): exact top-1 by cosine, via the
   * bounded top-k aggregate (sentences join back after the top-1 cut — only
   * ids and scores ride the aggregation). The query side broadcasts, so
   * this is the right plan for SMALL interactive query sets (one linear
   * corpus scan per batch of queries); corpus-scale query sets belong on
   * `closestMatchInvertedIds`, whose guarded inverted join never
   * materializes |corpus|×|queries| pairs.
   */
  def closestMatch(indexed: DataFrame, queries: DataFrame): DataFrame = {
    val idx = indexed.select(col("id").as("corpus_id"),
      col("indices").as("c_idx"), col("counts").as("c_cnt"))
    val q = queries.select(col("id").as("query_id"),
      col("indices").as("q_idx"), col("counts").as("q_cnt"))
    val scored = idx.crossJoin(broadcast(q))
      .withColumn("score", sparseCos(col("c_idx"), col("c_cnt"), col("q_idx"), col("q_cnt")))
      .select(col("query_id"), col("corpus_id"), col("score"))
    withSentences(
      TopK.topKPerGroup(scored, "query_id", "corpus_id", "score", 1).drop("rank"),
      indexed, queries)
  }

  /** Join query/corpus sentence strings back onto an ids-only top-1 frame.
    * Kept OUT of the ids-only paths: Catalyst cannot prune an inner join
    * whose output the caller drops, so callers selecting ids+score only
    * should use the `*Ids` variants and skip both joins entirely. */
  private def withSentences(ids: DataFrame, corpus: DataFrame, queries: DataFrame,
                            idCol: String = "id", textCol: String = "sentence"): DataFrame =
    ids
      .join(queries.select(col(idCol).as("query_id"),
        col(textCol).as("query_sentence")), "query_id")
      .join(corpus.select(col(idCol).as("corpus_id"),
        col(textCol).as("corpus_sentence")), "corpus_id")
      .select(col("query_id"), col("query_sentence"),
        col("corpus_id"), col("corpus_sentence"), col("score"))

  /**
   * Scale path for closestMatch: sparse cosine via an inverted-index join
   * on shared vocabulary indices instead of a crossJoin — dot(q,c) =
   * Σ cnt_q·cnt_c over shared dims, norms precomputed per side. Candidates
   * are only (query, corpus) pairs sharing ≥1 word, so the shuffle is
   * proportional to real term overlap, not |corpus|×|queries|. Queries with
   * zero vocabulary overlap (score would be 0 everywhere) return no row.
   *
   * Carries the same hot-dimension guard as `closestMatchHashedIds` (see
   * there for the full contract): candidate pairs are generated through
   * dims with corpus df ≤ `maxDocFreq` plus identical-vector twins (the
   * BoW arrays are index-sorted, so twin detection is a plain xxhash64
   * equi-join on the array columns), then re-scored exactly over all
   * shared dims. `maxDocFreq = Int.MaxValue` restores the exhaustive join.
   * Output: (query_id, corpus_id, score) — use `closestMatchInverted` when
   * the sentence strings are wanted too.
   */
  def closestMatchInvertedIds(indexed: DataFrame, queries: DataFrame,
                              maxDocFreq: Int = 1000): DataFrame = {
    // token rows carry ids only — sentences would otherwise ride every
    // per-dim shuffle row; they join back after the top-1 cut
    def toks(df: DataFrame, idAs: String, cntAs: String): DataFrame =
      df.select(col("id").as(idAs),
        explode(arrays_zip(col("indices"), col("counts"))).as("z"))
        .select(col(idAs), col("z.indices").as("dim"), col("z.counts").as(cntAs))
    def norms(df: DataFrame, idAs: String, normAs: String): DataFrame =
      df.select(col("id").as(idAs),
        sqrt(aggregate(col("counts"), lit(0.0d), (acc, x) => acc + x * x)).as(normAs))
    val cToks = toks(indexed, "corpus_id", "cnt_c")
    val qToks = toks(queries, "query_id", "cnt_q")

    val dots =
      if (maxDocFreq == Int.MaxValue) {
        cToks.join(qToks, Seq("dim"))
          .groupBy(col("query_id"), col("corpus_id"))
          .agg(sum(col("cnt_c") * col("cnt_q")).as("dot"))
      } else {
        val rare = cToks.groupBy("dim").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("dim")
        val viaRare = cToks.select(col("corpus_id"), col("dim"))
          .join(rare, "dim")
          .join(qToks.select(col("query_id"), col("dim")), Seq("dim"))
          .select("query_id", "corpus_id")
        val viaTwin = indexed
          .select(col("id").as("corpus_id"),
            xxhash64(col("indices"), col("counts")).as("fp"))
          .join(queries.select(col("id").as("query_id"),
            xxhash64(col("indices"), col("counts")).as("fp")), "fp")
          .select("query_id", "corpus_id")
        viaRare.union(viaTwin).distinct()
          .join(cToks, "corpus_id")
          .join(qToks, Seq("query_id", "dim"))
          .groupBy(col("query_id"), col("corpus_id"))
          .agg(sum(col("cnt_c") * col("cnt_q")).as("dot"))
      }

    val scored = dots
      .join(norms(indexed, "corpus_id", "norm_c"), "corpus_id")
      .join(norms(queries, "query_id", "norm_q"), "query_id")
      .withColumn("score",
        when(col("norm_c") === 0.0 || col("norm_q") === 0.0, lit(0.0))
          .otherwise(col("dot") / (col("norm_c") * col("norm_q"))))
      .select(col("query_id"), col("corpus_id"), col("score"))
    TopK.topKPerGroup(scored, "query_id", "corpus_id", "score", 1)
      .drop("rank")
  }

  /** closestMatchInvertedIds + sentence strings joined back. */
  def closestMatchInverted(indexed: DataFrame, queries: DataFrame,
                           maxDocFreq: Int = 1000): DataFrame =
    withSentences(closestMatchInvertedIds(indexed, queries, maxDocFreq),
      indexed, queries)

  /**
   * Direct hashed-dimension closest match — the single-pass scale path that
   * skips the vocabulary fit entirely: token dims are `xxhash64(word)`
   * instead of dense ranked indices. Dims only need equality semantics for
   * the inverted dot product, and the scores are bit-identical to the
   * vocabulary path (integer counts sum exactly in double; a 64-bit hash
   * collision, p ≈ |vocab|²/2⁶⁵, is the only divergence source). Saves the
   * distinct+rank jobs and the two BoW array aggregations. Same contract as
   * closestMatchInverted: zero-overlap queries return no row.
   *
   * Hot-dimension guard (on by default): an unguarded inverted join
   * generates `df_corpus(d) × df_queries(d)` candidate rows per dim, so one
   * stopword dimension ("the") funnels df²-shaped work into the dot-product
   * aggregation — the one shape that cannot survive a 100 TB corpus.
   * Guarded, candidate PAIRS are generated only through dims with corpus
   * document frequency ≤ `maxDocFreq` (candidate volume ≤ maxDocFreq ×
   * |query token rows|, linear in the query side), plus — regardless of dim
   * hotness — pairs with IDENTICAL token multisets (equi-join on a
   * fingerprint of the sorted (dim, cnt) set; 1 row per doc per side).
   * The fingerprint path guarantees the reference's index contract
   * (GraphTests.cs:40-43: a build-corpus query finds itself at score 1)
   * even for documents made entirely of hot dims. Surviving pairs are then
   * re-scored EXACTLY over all their shared dims — the prune gates which
   * pairs compete, never what a pair scores. Contract under the guard: a
   * query returns no row iff it shares no rare dim AND no exact twin with
   * the corpus; `maxDocFreq = Int.MaxValue` restores the exhaustive join.
   *
   * ≙ reference GraphExtensions.ClosestMatch (GraphExtensions.cs:46-84),
   * whose greedy tree descent also touches only a candidate path, never
   * every sentence sharing a common word.
   *
   * `corpus`/`queries`: (id, sentence) frames; queries may be a filtered
   * subset of the corpus. The token aggregations are referenced by several
   * branches of the one returned plan; exchange reuse deduplicates the
   * branches whose pruned projections match (4 ReusedExchange nodes at
   * sf0.01), and the remaining branches re-tokenize from the scan — the
   * deliberate trade against persist(), whose blocks would outlive the
   * operator and could never cache a 100 TB corpus (production reuse of a
   * corpus index belongs in a materialized table, as in `ivfBuild`).
   * Output: (query_id, corpus_id, score) — `closestMatchHashed` adds the
   * sentence strings.
   */
  def closestMatchHashedIds(corpus: DataFrame, queries: DataFrame,
                            idCol: String = "id", textCol: String = "sentence",
                            sep: String = ";", maxDocFreq: Int = 1000): DataFrame = {
    def toks(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("id"), xxhash64(col("word")).as("dim"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val cToks = toks(corpus)
    val qToks = toks(queries)
    // per-doc stats in ONE aggregation per side: the L2 norm for scoring
    // plus the multiset fingerprint for the twin candidate path — both the
    // twin join and the final score join reference the same subplan, so
    // exchange reuse materializes it once
    def stats(t: DataFrame, idAs: String, normAs: String): DataFrame =
      t.groupBy(col("id").as(idAs))
        .agg(sqrt(sum(col("cnt") * col("cnt"))).as(normAs),
          xxhash64(array_sort(collect_list(struct(col("dim"), col("cnt"))))).as("fp"))
    val cStats = stats(cToks, "corpus_id", "norm_c")
    val qStats = stats(qToks, "query_id", "norm_q")

    val dots =
      if (maxDocFreq == Int.MaxValue) {
        // exhaustive: every shared dim generates its pair rows directly
        cToks.select(col("id").as("corpus_id"), col("dim"), col("cnt").as("cnt_c"))
          .join(qToks.select(col("id").as("query_id"), col("dim"), col("cnt").as("cnt_q")),
            Seq("dim"))
          .groupBy(col("query_id"), col("corpus_id"))
          .agg(sum(col("cnt_c") * col("cnt_q")).as("dot"))
      } else {
        // 1. candidate pairs through rare dims only (corpus df ≤ maxDocFreq)
        val rare = cToks.groupBy("dim").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("dim")
        val viaRare = cToks.select(col("id").as("corpus_id"), col("dim"))
          .join(rare, "dim")
          .join(qToks.select(col("id").as("query_id"), col("dim")), Seq("dim"))
          .select("query_id", "corpus_id")
        // 2. exact-twin pairs: identical (dim, cnt) multisets collide on the
        // 64-bit fingerprint — a hash false-positive only ADDS a candidate,
        // which the exact re-score below ranks correctly anyway
        val viaTwin = cStats.select(col("corpus_id"), col("fp"))
          .join(qStats.select(col("query_id"), col("fp")), "fp")
          .select("query_id", "corpus_id")
        val candidates = viaRare.union(viaTwin).distinct()
        // 3. exact re-score: all shared dims of each surviving pair — work
        // is |candidates| × doc length, not df²
        candidates
          .join(cToks.select(col("id").as("corpus_id"), col("dim"), col("cnt").as("cnt_c")),
            "corpus_id")
          .join(qToks.select(col("id").as("query_id"), col("dim"), col("cnt").as("cnt_q")),
            Seq("query_id", "dim"))
          .groupBy(col("query_id"), col("corpus_id"))
          .agg(sum(col("cnt_c") * col("cnt_q")).as("dot"))
      }

    val scored = dots
      .join(cStats.select(col("corpus_id"), col("norm_c")), "corpus_id")
      .join(qStats.select(col("query_id"), col("norm_q")), "query_id")
      .withColumn("score", col("dot") / (col("norm_c") * col("norm_q")))
      .select(col("query_id"), col("corpus_id"), col("score"))
    TopK.topKPerGroup(scored, "query_id", "corpus_id", "score", 1)
      .drop("rank")
  }

  /** closestMatchHashedIds + sentence strings joined back. */
  def closestMatchHashed(corpus: DataFrame, queries: DataFrame,
                         idCol: String = "id", textCol: String = "sentence",
                         sep: String = ";", maxDocFreq: Int = 1000): DataFrame =
    withSentences(closestMatchHashedIds(corpus, queries, idCol, textCol, sep, maxDocFreq),
      corpus, queries, idCol, textCol)

  /**
   * ≙ GraphIndexValidator: re-query the build corpus; every sentence must
   * find itself (or an identical-vector twin) at score ≈ identicalAngle.
   * Returns (query_id, corpus_id, score) rows that FAIL the check (empty
   * result = index is valid).
   *
   * Runs the guarded inverted scale path, not the exhaustive crossJoin —
   * corpus × corpus through `closestMatch` would broadcast the whole
   * corpus and do |corpus|² work, unusable at any real scale, while the
   * twin candidate path guarantees every self-pair is scored. Docs that
   * produce NO result row (zero vectors — no token rows to score) can
   * never reach identicalAngle and are emitted as failures at score 0.
   */
  def validateIndex(indexed: DataFrame, identicalAngle: Double = 0.99,
                    precision: Double = 0.01): DataFrame = {
    val hits = closestMatchInvertedIds(indexed, indexed)
    val failing = hits.filter(col("score") < identicalAngle - precision)
    val missing = indexed.select(col("id").as("query_id"))
      .join(hits.select("query_id"), Seq("query_id"), "left_anti")
      .select(col("query_id"), col("query_id").as("corpus_id"),
        lit(0.0).as("score"))
    failing.unionByName(missing)
  }
}
