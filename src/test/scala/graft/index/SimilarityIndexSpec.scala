package graft.index

import graft.{Ran, SparkTestBase}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mirrors reference GraphTests.cs: build-corpus queries return themselves
  * at ≈ identical score; closest-match picks the nearest sentence. */
class SimilarityIndexSpec extends SparkTestBase {
  import spark.implicits._

  // ≙ FIXTURES A5: ';'-joined sentence pairs over a 4-word vocab
  private val sentences = Seq(
    (0L, "sentence-A;sentence-B"),
    (1L, "sentence-B;sentence-C"),
    (2L, "sentence-C;sentence-D"),
    (3L, "sentence-A;sentence-D")
  ).toDF("id", "sentence")

  test("vocabulary assigns dense stable indices") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val m = vocab.as[(String, Int)].collect().toMap
    assert(m.keySet === Set("sentence-A", "sentence-B", "sentence-C", "sentence-D"))
    assert(m.values.toSet === Set(0, 1, 2, 3))
  }

  test("bag-of-words skips unknown words and counts known ones") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val bow = SimilarityIndex.bagOfWords(
      Seq((9L, "sentence-A;sentence-A;unknown-word")).toDF("id", "sentence"), vocab)
    val row = bow.select("indices", "counts").as[(Seq[Int], Seq[Double])].head()
    assert(row._1.length === 1)     // only sentence-A known
    assert(row._2 === Seq(2.0))     // counted twice
  }

  test("closest match returns the build sentence itself at score ≈ 1") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val indexed = SimilarityIndex.bagOfWords(sentences, vocab).cache()
    val hits = SimilarityIndex.closestMatch(indexed, indexed)
    val scores = hits.select("query_id", "corpus_id", "score")
      .as[(Long, Long, Double)].collect()
    assert(scores.length === 4)
    scores.foreach { case (q, c, s) =>
      assert(s > 0.99, s"query $q matched $c at $s — expected ≈1.0")
      assert(q === c, s"query $q should match itself, got $c")
    }
    // ≙ GraphIndexValidator: no failures
    assert(SimilarityIndex.validateIndex(indexed).count() === 0)
  }

  test("closest match prefers the overlapping sentence") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val indexed = SimilarityIndex.bagOfWords(sentences, vocab)
    val q = SimilarityIndex.bagOfWords(
      Seq((100L, "sentence-A;sentence-B;sentence-B")).toDF("id", "sentence"), vocab)
    val hit = SimilarityIndex.closestMatch(indexed, q)
      .select("corpus_id", "score").as[(Long, Double)].head()
    assert(hit._1 === 0L, s"expected corpus sentence 0, got $hit") // A;B
    assert(hit._2 > 0.9)
  }

  test("inverted-index closest match agrees with the crossJoin path") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val indexed = SimilarityIndex.bagOfWords(sentences, vocab).cache()
    val dense = SimilarityIndex.closestMatch(indexed, indexed)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    val sparse = SimilarityIndex.closestMatchInverted(indexed, indexed)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(sparse === dense)
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val top = SimilarityIndex.bruteForceTopK(corpus, queries, k = 2)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.map(_._2).toList === List(1L, 2L))
    assert(math.abs(top(0)._3 - 1.0) < 1e-6)
  }

  test("clusterAssign maps to the nearest seed, ties to the smaller seed id") {
    val seeds = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("seed_id", "seed_vec")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),  // → seed 0
      (11L, Array(0.1f, 0.8f, 0.0f)),  // → seed 1
      (12L, Array(1.0f, 1.0f, 0.0f)),  // exact tie → smaller seed id 0
      (13L, Array(1.0f, 0.0f, 0.0f))   // seed member → itself at cos 1
    ).toDF("vec_id", "embedding")
    val got = SimilarityIndex.clusterAssign(corpus, seeds)
      .select("vec_id", "seed_id", "cosine")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(10L)._1 === 0L)
    assert(got(11L)._1 === 1L)
    assert(got(12L)._1 === 0L, "exact cosine tie must break to seed 0")
    assert(got(13L)._1 === 0L)
    assert(math.abs(got(13L)._2 - 1.0) < 1e-6)
    assert(got.size === 4, "every corpus vector gets exactly one cluster")
  }

  test("clusterBalancedSample: quota bites hot clusters, spares small ones") {
    val seeds = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f))
    ).toDF("seed_id", "seed_vec")
    // cluster 0: ids 1..10; cluster 1: ids 21..22 (below the quota)
    val corpus = ((1L to 10L).map(i => (i, Array(1.0f, i * 0.01f))) ++
      (21L to 22L).map(i => (i, Array(i * 0.001f, 1.0f))))
      .toDF("vec_id", "embedding")
    val got = SimilarityIndex.clusterBalancedSample(corpus, seeds, quota = 3)
      .select("seed_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect()
    val byCluster = got.groupBy(_._1)
    assert(byCluster(0L).length === 3, "hot cluster truncates to the quota")
    assert(byCluster(1L).map(_._2).toSet === Set(21L, 22L),
      "small cluster survives whole")
    // survivors are exactly the quota smallest hash coordinates, in rank
    // order — the deterministic engine-portable rule, not arrival order
    def coord(k: Long): Long =
      (BigInt(k).mod(BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
    val expect0 = (1L to 10L).sortBy(k => (coord(k), k)).take(3)
    assert(byCluster(0L).sortBy(_._3).map(_._2).toSeq === expect0)
    // deterministic under repartitioning
    val again = SimilarityIndex.clusterBalancedSample(
      corpus.repartition(7), seeds, quota = 3)
      .select("seed_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(again === got.map(t => (t._1, t._2)).toSet)
  }

  test("cluster sampling plans bounded aggregation, never a window") {
    val seeds = Seq((0L, Array(1.0f, 0.0f))).toDF("seed_id", "seed_vec")
    val corpus = Seq((1L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val plan = SimilarityIndex.clusterBalancedSample(corpus, seeds, quota = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"must not window:\n$plan")
    assert(plan.contains("BoundedTopK") || plan.contains("ObjectHashAggregate") ||
      plan.contains("HashAggregate"), s"expected bounded aggregation:\n$plan")
  }

  test("LSH top-k finds the true nearest neighbor for clustered data") {
    // two tight clusters far apart — bucket boundaries can't split them
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1), (2L, c2)).toDF("query_id", "query_vec")
    val exact = SimilarityIndex.bruteForceTopK(corpusDf, queries, k = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    val approx = SimilarityIndex.lshTopK(corpusDf, queries, k = 1, dims = 4,
      planes = 8, bands = 8) // 8 bands of 1 plane → high recall
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(approx === exact, s"LSH $approx must match exact $exact here")
  }

  test("IVF top-k matches brute force when probing covers the true list") {
    // two tight clusters; nlist=2 k-means must separate them, and each
    // query probes both lists (nprobe=2) so recall is exact
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1), (2L, c2)).toDF("query_id", "query_vec")
    val exact = SimilarityIndex.bruteForceTopK(corpusDf, queries, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cover").toString
    SimilarityIndex.ivfBuild(corpusDf, dir, nlist = 2)
    val ivf = SimilarityIndex.ivfSearchIndexed(spark, dir, queries, k = 2, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf === exact, s"IVF $ivf must match exact $exact here")
  }

  test("hashed-dims closest match agrees with the inverted vocabulary path") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    val indexed = SimilarityIndex.bagOfWords(sentences, vocab).cache()
    val viaVocab = SimilarityIndex.closestMatchInverted(indexed, indexed)
      .select("query_id", "corpus_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    val direct = SimilarityIndex.closestMatchHashed(sentences, sentences)
      .select("query_id", "corpus_id", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(direct === viaVocab)
  }

  test("validateIndex flags zero-vector docs and scales without a crossJoin") {
    val vocab = SimilarityIndex.buildVocabulary(sentences, "sentence")
    // doc 9 is entirely out-of-vocabulary -> zero vector -> can never reach
    // identicalAngle; the validator must surface it, not silently pass it
    val withBad = sentences.unionByName(Seq((9L, "unknown-x;unknown-y")).toDF("id", "sentence"))
    val indexed = SimilarityIndex.bagOfWords(withBad, vocab)
    val failures = SimilarityIndex.validateIndex(indexed)
      .select("query_id", "score").as[(Long, Double)].collect()
    assert(failures.map(_._1).toSet === Set(9L))
    assert(failures.head._2 === 0.0)
    val plan = SimilarityIndex.validateIndex(indexed)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"validateIndex must not plan an all-pairs join:\n$plan")
  }

  test("hot-dim guard prunes candidate pairs but keeps exact twins") {
    // "the" is hot (df = 4 > maxDocFreq = 2); rare dims identify the match
    val corpus = Seq(
      (0L, "the;alpha"),
      (1L, "the;beta"),
      (2L, "the;gamma"),
      (3L, "the;alpha;alpha")
    ).toDF("id", "sentence")
    val q = Seq((100L, "the;alpha")).toDF("id", "sentence")
    val hits = SimilarityIndex.closestMatchHashedIds(corpus, q, maxDocFreq = 2)
      .as[(Long, Long, Double)].collect()
    // candidates via rare "alpha" = {0, 3}; 0 is the identical multiset and
    // must win at score 1 (exact re-score covers the hot dim too)
    assert(hits.length === 1)
    assert(hits.head._1 === 100L && hits.head._2 === 0L)
    assert(hits.head._3 > 0.999)
  }

  test("hot-dim guard: hot-only overlap yields no row unless an exact twin exists") {
    val corpus = Seq(
      (0L, "the;the"),
      (1L, "the;alpha")
    ).toDF("id", "sentence")
    // maxDocFreq = 1: "the" (df = 2) is hot, "alpha" (df = 1) is rare
    val noTwin = Seq((100L, "the")).toDF("id", "sentence")
    // {the:1} is parallel to doc 0's {the:2} (cosine 1) but NOT an identical
    // multiset — the documented prune contract drops it
    assert(SimilarityIndex.closestMatchHashedIds(corpus, noTwin, maxDocFreq = 1)
      .count() === 0)
    val twin = Seq((101L, "the;the")).toDF("id", "sentence")
    val hit = SimilarityIndex.closestMatchHashedIds(corpus, twin, maxDocFreq = 1)
      .as[(Long, Long, Double)].head()
    assert(hit._2 === 0L && hit._3 > 0.999)
  }

  test("hot-dim guard is exact when every dim is rare; MaxValue disables it") {
    val guarded = SimilarityIndex.closestMatchHashedIds(sentences, sentences)
      .as[(Long, Long, Double)].collect().toSet
    val exhaustive = SimilarityIndex.closestMatchHashedIds(sentences, sentences,
      maxDocFreq = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(guarded === exhaustive)
    assert(guarded.map(_._1) === Set(0L, 1L, 2L, 3L))
  }

  test("guard contract holds on a randomized mixed-hotness corpus") {
    // seeded random corpus: 3 hot words (df ≈ 20 of 40 docs > maxDocFreq)
    // mixed with 30 rare words (df ≈ 3 ≤ maxDocFreq)
    val rnd = new scala.util.Random(7)
    val hot = IndexedSeq("the", "of", "and")
    val rare = (1 to 30).map(i => s"w$i")
    val docs = (0 until 40).map { id =>
      val words = Seq.fill(3 + rnd.nextInt(5))(
        if (rnd.nextBoolean()) hot(rnd.nextInt(hot.length))
        else rare(rnd.nextInt(rare.length)))
      (id.toLong, words.mkString(";"))
    }.toDF("id", "sentence")
    val queries = docs.filter(col("id") < 10)
    val guarded = SimilarityIndex.closestMatchHashedIds(docs, queries, maxDocFreq = 10)
      .as[(Long, Long, Double)].collect()
    // every corpus-member query must return a row (self-twin is always a
    // candidate) at ≈ score 1, for any hotness mix
    assert(guarded.map(_._1).toSet === (0L until 10L).toSet)
    guarded.foreach { case (q, c, s) =>
      assert(s > 0.999, s"query $q top-1 $c scored $s — self-twin must win") }
    // the prune only gates which pairs compete, never inflates a score:
    // guarded top-1 ≤ exhaustive top-1 per query
    val exhaustive = SimilarityIndex.closestMatchHashedIds(docs, queries,
      maxDocFreq = Int.MaxValue)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    guarded.foreach { case (q, _, s) =>
      assert(s <= exhaustive(q) + 1e-12, s"guarded score for $q exceeds exhaustive") }
  }

  test("top-k paths plan bounded aggregation, never a per-query window") {
    val corpus = (1 to 50).map(i => (i.toLong,
      Array(i.toFloat, (51 - i).toFloat, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("query_id", "query_vec")
    val plans = Seq(
      "brute" -> SimilarityIndex.bruteForceTopK(corpus, queries, k = 3),
      "lsh" -> SimilarityIndex.lshTopK(corpus, queries, k = 3, dims = 4,
        planes = 8, bands = 4))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name top-k must not rank through a window funnel:\n$plan")
    }
  }

  test("LSH band exchange carries ids only — vectors never ride the explode") {
    val corpus = (1 to 50).map(i => (i.toLong,
      Array(i.toFloat, (51 - i).toFloat, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("query_id", "query_vec")
    val df = SimilarityIndex.lshTopK(corpus, queries, k = 3, dims = 4,
      planes = 8, bands = 4)
    // the Generate (posexplode) outputs must not include an embedding column
    val generates = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.nonEmpty)
    generates.foreach { g =>
      val carried = (g.requiredChildOutput ++ g.generatorOutput).map(_.name)
      assert(!carried.exists(n => n.contains("embedding") || n.contains("query_vec")),
        s"band explode must carry ids only, got: $carried")
    }
  }

  test("persisted IVF index probes with partition pruning") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    SimilarityIndex.ivfBuild(corpus.toDF("vec_id", "embedding"), dir,
      nlist = 2)
    val queries = Seq((1L, c1)).toDF("query_id", "query_vec")
    val (ids, search) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark, dir, queries,
      k = 20, nprobe = 1).select("vec_id").as[Long].collect().toSet)
    // only the c1 cluster's list is probed — no c2 ids can appear
    assert(ids.nonEmpty && ids.subsetOf((1L to 10L).toSet),
      s"got $ids — expected only ids 1-10")
    // and the pruning is physical: the scan must carry a list_id partition
    // filter (the non-probed list's files are never opened)
    assert(search.prunesLists("assignments"), s"expected list_id partition pruning in ${search.scans}")
  }

  test("ivfAppend: search over a two-installment index equals the one-shot build") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1), (15L, c2)).toDF("query_id", "query_vec")

    val oneShotDir = java.nio.file.Files.createTempDirectory("graft_ivf_one").toString
    SimilarityIndex.ivfBuild(corpusDf, oneShotDir, nlist = 2)
    val oneShot = SimilarityIndex.ivfSearchIndexed(spark, oneShotDir, queries,
      k = 20, nprobe = 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet

    // build on the odd ids only (both clusters represented so the fitted
    // centroids match), then fold the even ids in against the FROZEN
    // centroids — probe routing must stay consistent across installments
    val appDir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    SimilarityIndex.ivfBuild(corpusDf.filter($"vec_id" % 2 === 1), appDir,
      nlist = 2)
    SimilarityIndex.ivfAppend(spark, appDir, corpusDf.filter($"vec_id" % 2 === 0))
    val (appended, search) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark, appDir,
      queries, k = 20, nprobe = 1).select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet)

    // both centroid fits see the same two tight clusters, so the probed
    // lists hold the same members and scores are identical floats
    assert(appended === oneShot)
    // appended files land in the pruned partition layout
    assert(search.prunesLists("assignments"), s"expected list_id partition pruning in ${search.scans}")
  }

  test("ivfDriftStats: per-(list, ingest) mean cosine; null/mismatch excluded (r17)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    // planted one-hot centroids: assignment and cosines are hand-checkable
    Seq((0, Array(1.0, 0.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("list_id", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // ingest 0: two axis-aligned rows (cos 1) and one diagonal
    // (cos 1/sqrt(2) -> 0.707107 at DECIMAL(18,6))
    SimilarityIndex.ivfAppendAt(spark, dir, Seq(
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 3.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f))) // ties to list 0 (first-wins)
      .toDF("vec_id", "embedding"), 0)
    // ingest 1: an orthogonal row in list 0's direction space (cos 0
    // to list 1? no — assigns to list 0 with cos 1) plus a zero vector
    // (n_rows counts it, n_scored does not)
    SimilarityIndex.ivfAppendAt(spark, dir, Seq(
      (4L, Array(5.0f, 0.0f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"), 1)
    val got = SimilarityIndex.ivfDriftStats(spark, dir)
      .orderBy("list_id", "ingest")
      .as[(Int, Int, Long, Long, Option[Double])].collect().toSeq
    val c707 = BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean00 = BigDecimal((1.0 + c707) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (0, 0, 2L, 2L, Some(mean00)),
      (0, 1, 2L, 1L, Some(1.0)),
      (1, 0, 1L, 1L, Some(1.0))))
    // table="raw": the same dashboard over an IVF-SQ8-style refine
    // sidecar (identical two-level layout)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/assignments"),
      new org.apache.hadoop.fs.Path(s"$dir/raw"))
    val rawGot = SimilarityIndex.ivfDriftStats(spark, dir, table = "raw")
      .orderBy("list_id", "ingest")
      .as[(Int, Int, Long, Long, Option[Double])].collect().toSeq
    assert(rawGot === got)
  }

  test("ivfCompact: identical search results, fewer files per list") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val corpus = (1 to 12).map(i => (i.toLong, mk(c1, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1)).toDF("query_id", "query_vec")

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    SimilarityIndex.ivfBuild(corpusDf.filter($"vec_id" <= 4), dir,
      nlist = 2)
    // several append installments → several small files in the one list
    (5 to 12 by 2).foreach { lo =>
      SimilarityIndex.ivfAppend(spark, dir,
        corpusDf.filter($"vec_id" === lo.toLong || $"vec_id" === (lo + 1).toLong))
    }
    def parquetFiles(): Int = {
      val base = java.nio.file.Paths.get(dir, "assignments")
      val out = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      java.nio.file.Files.walk(base).forEach(p => out += p)
      out.count(_.toString.endsWith(".parquet"))
    }
    val before = SimilarityIndex.ivfSearchIndexed(spark, dir, queries,
      k = 12, nprobe = 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val filesBefore = parquetFiles()
    assert(filesBefore >= 5, s"expected one file per append, got $filesBefore")

    val rows = SimilarityIndex.ivfCompact(spark, dir)
    assert(rows === 12L)
    val after = SimilarityIndex.ivfSearchIndexed(spark, dir, queries,
      k = 12, nprobe = 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(after === before)
    assert(parquetFiles() < filesBefore,
      s"compaction must shrink the file count (was $filesBefore)")
  }

  test("ivfDelete: search equals a fresh build over corpus-minus-deleted; " +
       "compact folds physically; plan stays anti-join-free without deletes") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1), (15L, c2)).toDF("query_id", "query_vec")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    SimilarityIndex.ivfBuild(corpusDf, dir, nlist = 2)

    // a delete-free index never reads a tombstone list
    val (_, clean) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark, dir, queries,
      k = 20, nprobe = 2).collect())
    assert(clean.scansOf("deletes").isEmpty,
      s"delete-free search must not read deletes/: ${clean.scans}")

    val deleted = Set(2L, 3L, 15L)
    SimilarityIndex.ivfDelete(spark, dir,
      deleted.toSeq.toDF("vec_id"))
    val (afterDelete, withDeletes) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark,
      dir, queries, k = 20, nprobe = 2).select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet)
    // the tombstones are read on the driver: no Spark scan of deletes/, and
    // the search is still its one scan job
    assert(withDeletes.scansOf("deletes").isEmpty && withDeletes.jobs === 1)
    val hitIds = afterDelete.map(_._2)
    assert(hitIds.intersect(deleted).isEmpty,
      s"tombstoned vectors still ranked: $hitIds")
    // at nprobe = nlist this equals a fresh build over the live rows —
    // identical floats, centroid placement cannot matter
    val freshDir = java.nio.file.Files.createTempDirectory("graft_ivf_fr").toString
    SimilarityIndex.ivfBuild(
      corpusDf.filter(!$"vec_id".isin(deleted.toSeq: _*)), freshDir,
      nlist = 2)
    val fresh = SimilarityIndex.ivfSearchIndexed(spark, freshDir, queries,
      k = 20, nprobe = 2)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(afterDelete === fresh)

    // physical fold: compact drops the tombstoned rows, clears deletes/,
    // search results unchanged, and the search reads no deletes/ again
    val rows = SimilarityIndex.ivfCompact(spark, dir)
    assert(rows === 17L, s"compaction must fold the deletion, kept $rows")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "deletes")),
      "compaction must clear the deletes dir LAST")
    val (afterCompact, folded) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark, dir,
      queries, k = 20, nprobe = 2).select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet)
    assert(afterCompact === fresh)
    assert(folded.scansOf("deletes").isEmpty,
      s"post-compaction search must not read deletes/: ${folded.scans}")
    // the map-side probe shape survives the tombstone era end-to-end
    assert(folded.prunesLists("assignments"), s"expected list_id partition pruning in ${folded.scans}")
  }

  test("ivfBuild rebuild clears a previous generation's tombstones") {
    val corpus = (1 to 8).map(i => (i.toLong,
      Array(1.0f + i * 0.01f, i * 0.1f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_gen").toString
    SimilarityIndex.ivfBuild(corpus, dir, nlist = 2)
    SimilarityIndex.ivfDelete(spark, dir, Seq(1L).toDF("vec_id"))
    // rebuild = new generation; id 1 must be visible again
    SimilarityIndex.ivfBuild(corpus, dir, nlist = 2)
    val q = Seq((1L, Array(1.0f, 0.1f))).toDF("query_id", "query_vec")
    val ids = SimilarityIndex.ivfSearchIndexed(spark, dir, q, k = 8, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.contains(1L), "stale tombstones filtered the rebuilt index")
  }

  test("IVF with nprobe=1 only scores vectors in the probed list") {
    val mk = (base: Array[Float], eps: Float) => base.zipWithIndex.map {
      case (v, i) => if (i == 0) v + eps else v }
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpus = (1 to 10).map(i => (i.toLong, mk(c1, i * 0.01f))) ++
      (11 to 20).map(i => (i.toLong, mk(c2, i * 0.01f)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = Seq((1L, c1)).toDF("query_id", "query_vec")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_probe1").toString
    SimilarityIndex.ivfBuild(corpusDf, dir, nlist = 2)
    val hits = SimilarityIndex.ivfSearchIndexed(spark, dir, queries, k = 20, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    // only the c1 cluster's list is probed — no c2 ids can appear
    assert(hits.nonEmpty && hits.subsetOf((1L to 10L).toSet),
      s"got $hits — expected only ids 1-10")
  }

  test("one IVF search runs at most 4 jobs and no shuffle stage") {
    // a churned index: an appended ingest and two tombstone installments
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_jobs").toString
    SimilarityIndex.ivfBuild(vecs(0 until 2000), dir, nlist = 8)
    SimilarityIndex.ivfAppend(spark, dir, vecs(2000 until 2200))
    SimilarityIndex.ivfDelete(spark, dir, Seq(1L, 2L, 3L).toDF("vec_id"))
    SimilarityIndex.ivfDelete(spark, dir, Seq(2100L).toDF("vec_id"))
    val queries = (0 until 16).map(i =>
      (-1L - i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("query_id", "query_vec")
    val (hits, search) = Ran(spark)(SimilarityIndex.ivfSearchIndexed(spark, dir, queries,
      k = 10, nprobe = 4).collect())
    assert(hits.length === 160)
    // the scan: centroids and tombstones are read on the driver, and the
    // assignments with a declared schema (4 jobs before)
    assert(search.jobs === 1, s"one search ran ${search.jobs} jobs")
    assert(search.shuffleStages === 0, s"one search ran ${search.shuffleStages} shuffle stages")
    assert(search.prunesLists("assignments"))
  }

  test("ivfCompact runs at most 4 jobs and returns the live rows") {
    val rnd = new scala.util.Random(17)
    def vecs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_compact").toString
    SimilarityIndex.ivfBuild(vecs(0 until 2000), dir, nlist = 8)
    SimilarityIndex.ivfAppend(spark, dir, vecs(2000 until 2200))
    SimilarityIndex.ivfDelete(spark, dir, Seq(1L, 2L, 3L).toDF("vec_id"))
    SimilarityIndex.ivfDelete(spark, dir, Seq(2100L, 2L).toDF("vec_id"))
    val (rows, compact) = Ran(spark)(SimilarityIndex.ivfCompact(spark, dir))
    assert(rows === 2196L)
    // the shuffle map stage and the write; the fold ran 9 jobs when it
    // inferred both schemas, broadcast the tombstones and re-read the count
    assert(compact.jobs <= 4, s"one compaction ran ${compact.jobs} jobs")
    val after = spark.read.parquet(s"$dir/assignments")
    assert(after.count() === 2196L)
    assert(after.filter($"vec_id".isin(1L, 2L, 3L, 2100L)).count() === 0L)
    assert(after.select("ingest").distinct().as[Int].collect().toSeq === Seq(0))
    // a fold of every row leaves an empty layout and counts 0
    SimilarityIndex.ivfDelete(spark, dir, spark.read.parquet(s"$dir/assignments").select("vec_id"))
    assert(SimilarityIndex.ivfCompact(spark, dir) === 0L)
  }

  test("assignUdf and probeLists equal a boxed in-test reference on seeded vectors") {
    // the nearest-centroid rule: squared distance over min(|v|, |c|)
    // components, float components widened to double, first minimum by <
    def refDist(v: Seq[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(v.length, c.length)) { val d = v(i) - c(i); s += d * d; i += 1 }
      s
    }
    def refAssign(centers: Array[Array[Double]], v: Seq[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      centers.indices.foreach { j => val d = refDist(v, centers(j)); if (d < bestD) { bestD = d; best = j } }
      best
    }
    val rnd = new scala.util.Random(23)
    val base = Array.fill(6, 8)(rnd.nextGaussian())
    // duplicate centroids 2 and 5 tie on every vector: the first must win
    val centers = base.updated(5, base(2).clone())
    val vs: Seq[(Long, Seq[Float])] = (0 until 300).map(i => (i.toLong,
      if (i % 50 == 7) Seq.fill(5)(rnd.nextGaussian().toFloat) // a wrong-dimension vector
      else if (i % 30 == 0) centers(2).toSeq.map(_.toFloat) // a vector on the tied centroid
      else Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val got = vs.toDF("vec_id", "embedding")
      .select($"vec_id", SimilarityIndex.assignUdf(centers)($"embedding"))
      .as[(Long, Int)].collect().toMap
    vs.foreach { case (id, v) => assert(got(id) === refAssign(centers, v), s"vector $id") }
    assert(vs.exists(_._2.length == 5) && !got.values.exists(_ == 5))
    vs.foreach { case (id, v) =>
      val want = centers.indices.map(j => (refDist(v, centers(j)), j)).sorted.take(3).map(_._2)
      assert(SimilarityIndex.probeLists(centers, v, 3).toSeq === want, s"probe of vector $id")
    }
  }

  test("a null query vector yields no rows instead of failing the search") {
    val c1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c2 = Array(0.0f, 0.0f, 0.0f, -1.0f)
    val corpusDf = ((1 to 10).map(i => (i.toLong, Array(1.0f + i * 0.01f, 0.1f, 0.0f, 0.0f))) ++
      (11 to 20).map(i => (i.toLong, Array(i * 0.01f, 0.0f, 0.0f, -1.0f))))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, c1), (2L, null), (3L, c2)).toDF("query_id", "query_vec")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_nullq").toString
    SimilarityIndex.ivfBuild(corpusDf, dir, nlist = 2)
    def rows(df: DataFrame) = df.select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = rows(SimilarityIndex.bruteForceTopK(corpusDf, queries, k = 3))
    assert(exact.map(_._1) === Set(1L, 3L))
    assert(rows(SimilarityIndex.ivfSearchIndexed(spark, dir, queries, k = 3,
      nprobe = 2)) === exact)
  }

  test("IVF search equals brute force over the live rows at nprobe = nlist") {
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val base = (0 until 300).map(i => (i.toLong, vec()))
    // ids 300-319 repeat the vectors of ids 0-19: exact score ties, which
    // the lower id must win
    val dups = (0 until 20).map(i => (300L + i, base(i)._2))
    val appended = (320 until 400).map(i => (i.toLong, vec()))
    val deleted = (0L until 400L by 7L) :+ 305L
    // tombstones apply to every read: an appended row under a deleted id
    // stays hidden
    val reappended = deleted.take(5).map(i => (i, vec()))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_eq").toString
    SimilarityIndex.ivfBuild((base ++ dups).toDF("vec_id", "embedding"), dir, nlist = 6)
    SimilarityIndex.ivfAppend(spark, dir, appended.toDF("vec_id", "embedding"))
    // two tombstone installments, one of int ids (they widen on read)
    val (delLong, delInt) = deleted.splitAt(deleted.length / 2)
    SimilarityIndex.ivfDelete(spark, dir, delLong.toDF("vec_id"))
    SimilarityIndex.ivfDelete(spark, dir, delInt.map(_.toInt).toDF("vec_id"))
    SimilarityIndex.ivfAppend(spark, dir, reappended.toDF("vec_id", "embedding"))
    val live = (base ++ dups ++ appended).filterNot(r => deleted.contains(r._1))
    // string ids keep their type; queries sit on a duplicated vector, a
    // deleted one (its self-hit must not surface) and fresh points
    val queries = (Seq(base(1)._2, base(2)._2, base(7)._2) ++ Seq.fill(3)(vec()))
      .zipWithIndex.map { case (v, i) => (s"q$i", v) }.toDF("query_id", "query_vec")
    def same(got: DataFrame, exact: DataFrame): Unit = {
      assert(got.schema === exact.schema)
      assert(got.collect().toSet === exact.collect().toSet)
    }
    same(SimilarityIndex.ivfSearchIndexed(spark, dir, queries, k = 12, nprobe = 6),
      SimilarityIndex.bruteForceTopK(live.toDF("vec_id", "embedding"), queries, k = 12))

    // array<double> vectors, in an index written by hand (the IVF writers
    // fit float vectors only)
    val ddir = java.nio.file.Files.createTempDirectory("graft_ivf_eqd").toString
    Seq((0, Array.fill(8)(0.5)), (1, Array.fill(8)(-0.5))).toDF("list_id", "centroid")
      .write.parquet(s"$ddir/centroids")
    val dcorpus = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian()))) ++
      Seq((60L, Array.fill(8)(1.0)), (61L, Array.fill(8)(1.0)))
    dcorpus.toDF("vec_id", "embedding")
      .withColumn("list_id", (col("vec_id") % 2).cast("int")).withColumn("ingest", lit(0))
      .write.partitionBy("list_id", "ingest").parquet(s"$ddir/assignments")
    val dqueries = Seq((1L, Array.fill(8)(2.0)), (2L, dcorpus(5)._2))
      .toDF("query_id", "query_vec")
    same(SimilarityIndex.ivfSearchIndexed(spark, ddir, dqueries, k = 5, nprobe = 2),
      SimilarityIndex.bruteForceTopK(dcorpus.toDF("vec_id", "embedding"), dqueries, k = 5))
  }

  test("ivfDeleteAt: a replayed installment replaces its id set, a later one adds to it") {
    val corpus = (1 to 12).map(i => (i.toLong, Array(1.0f + i * 0.01f, i * 0.1f, 0.5f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_delat").toString
    SimilarityIndex.ivfBuild(corpus, dir, nlist = 2)
    val q = Seq((0L, Array(1.0f, 0.5f, 0.5f))).toDF("query_id", "query_vec")
    def hits(): Set[Long] = SimilarityIndex.ivfSearchIndexed(spark, dir, q, k = 12, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    val all = (1L to 12L).toSet
    SimilarityIndex.ivfDeleteAt(spark, dir, Seq(1L, 2L).toDF("vec_id"), installment = 0)
    assert(hits() === all -- Set(1L, 2L))
    // a replay of installment 0 with a different id set replaces the first
    SimilarityIndex.ivfDeleteAt(spark, dir, Seq(3L).toDF("vec_id"), installment = 0)
    assert(hits() === all - 3L)
    // a later installment adds to the set
    SimilarityIndex.ivfDeleteAt(spark, dir, Seq(4L, 5L).toDF("vec_id"), installment = 1)
    assert(hits() === all -- Set(3L, 4L, 5L))
  }

  test("source guard: the quantized searches rank through routedTopK, never topKPerGroup") {
    def source(file: String): Seq[String] = {
      val p = java.nio.file.Paths.get("src/main/scala/graft/index", file)
      assert(java.nio.file.Files.isRegularFile(p), s"run from the repository root: $p")
      java.nio.file.Files.readAllLines(p).asScala.toSeq
    }
    assert(!source("Pq.scala").exists(_.contains("topKPerGroup")),
      "every PQ search runs on SimilarityIndex.routedTopK")
    // each code line of Quantize.scala, with the member it sits in
    val quantize = source("Quantize.scala")
    val member = "^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r
    val owners = quantize.scanLeft("")((owner, l) =>
      member.findFirstMatchIn(l).fold(owner)(_.group(1))).tail
    def comment(l: String) = Seq("*", "/**", "//").exists(l.trim.startsWith)
    val users = quantize.zip(owners)
      .collect { case (l, owner) if l.contains("topKPerGroup") && !comment(l) => owner }.toSet
    assert(users === Set("int8TopK"),
      "only the in-memory reference int8TopK ranks through TopK.topKPerGroup")
  }
}
