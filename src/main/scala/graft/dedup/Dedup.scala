package graft.dedup

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication operators for training-data pipelines: exact, normalized,
 * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
 *
 * Scale design: every variant is built from codegen'd built-ins
 * (xxhash64 / array higher-order functions), shuffles exactly once on the
 * candidate key (hash or band bucket), and verifies candidates only within
 * buckets — never an all-pairs cross join. At 100 TB the band-bucket
 * explode is the only data amplification (bands × rows), and bucket joins
 * hash-partition cleanly; skewed buckets (boilerplate shingles) are handled
 * by AQE skew-split plus the `maxBucketSize` guard.
 */
object Dedup {

  /** Max distinct candidate ids a [[minhashIndexProbe]] pushes into the
    * stored-sets scan as a filter and, in the routed regime, verifies on
    * the driver over their collected shingle rows; above this the routed
    * verify keeps one candidate-bounded exchange and the shuffled one the
    * plain join. 16k string ids ≈ a few MB on the driver. */
  val ProbePushdownMaxCandidates: Int = 1 << 14

  // ------------------------------------------------------------- exact dedup

  /** Exact duplicate groups by content hash (md5 — portable to any engine). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep one representative row per exact-duplicate group (min id wins). */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Canonical text normalization for near-exact dedup: lowercase, strip
    * non-alphanumerics, collapse whitespace. Portable (Java regex ≡ RE2). */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  // ------------------------------------------------------------ shingling

  /** Word k-shingles of the normalized text as an array<string> column
    * (built-in HOF variant — kept for SQL-only callers). */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(normalized(text), " ")
    val n = size(toks)
    when(n < k, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), n - k),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")))
  }

  /** Pure-Scala normalization, char-for-char identical to `normalized`. */
  def normalizeString(s: String): String = normalizeTokens(s).mkString(" ")

  /**
   * Normalized tokens in ONE char pass — exactly
   * `normalizeString(s).split(" ", -1)`, without the two regex passes
   * and the intermediate strings (the regex pipeline maps every char
   * outside [a-z0-9] to a space and collapses runs, which is precisely
   * "the [a-z0-9]+ runs of the lowercased text"; `PropertyChecks` pins
   * the equivalence against the regex formulation on arbitrary input).
   * An input with no alphanumeric runs yields the single empty token,
   * matching `"".split(" ", -1)`. The shingle kernel under every minhash
   * / n-gram dedup path runs on this, so the regex cost multiplies by
   * corpus size — the loop form cut the shingle stage measurably at
   * sf0.1.
   */
  def normalizeTokens(s: String): Array[String] = {
    if (s == null) return Array("")
    val lower = s.toLowerCase
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    if (out.isEmpty) Array("") else out.toArray
  }

  /** Distinct word k-shingles, identical output to
    * `array_distinct(shingles(text, k))` but one tight pass per row instead
    * of interpreted per-element HOF evaluation (the HOF path dominated
    * round-1 bench profiles). */
  def shinglesUdf(k: Int): UserDefinedFunction =
    udf { (text: String) => shingleSet(text, k) }

  /** [[shinglesUdf]]'s kernel: the distinct word k-shingles of `text` in
    * first-seen order, never empty (a text under k words is one shingle). */
  def shingleSet(text: String, k: Int): Array[String] = {
    val toks = normalizeTokens(text)
    if (toks.length < k) Array(toks.mkString(" "))
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      val sb = new java.lang.StringBuilder(k * 12)
      while (i <= toks.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  // --------------------------------------------------------- MinHash + LSH

  /** Murmur3/SplitMix 64-bit finalizer — the cheap per-hash mixer used by
    * the minhash and hyperplane kernels. */
  @inline private[dedup] def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /**
   * MinHash signature kernel: one polynomial hash per shingle, then
   * `numHashes` derived hashes via golden-ratio offsets + mix64 (the
   * standard "one permutation family from one base hash" construction).
   * A tight while-loop UDF: the round-1 nested-HOF formulation
   * (`transform(sequence, i => array_min(transform(sh, xxhash64(i, s))))`)
   * evaluated interpreted per element and was ~100× slower at sf0.1.
   */
  def minhashSig(sh: Iterable[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (sh != null) sh.foreach { s =>
      var h = 1125899906842597L
      var i = 0
      while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
      val base = mix64(h)
      var j = 0
      while (j < numHashes) {
        val hj = mix64(base + j * 0x9e3779b97f4a7c15L)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
    }
    sig
  }

  def minhashSigUdf(numHashes: Int): UserDefinedFunction =
    udf { (sh: Seq[String]) => minhashSig(sh, numHashes) }

  /** Band hashes for LSH: split the signature into `bands` bands of
    * `rowsPerBand` and hash each band. */
  def bandHashes(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sigCol, b * rowsPerBand + lit(1), lit(rowsPerBand))))

  /** [[bandHashes]] of one signature, computed in Scala: `xxhash64` of an
    * array of longs folds XXH64 over its elements from Spark's seed 42. */
  def bandKeys(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] =
    Array.tabulate(bands) { b =>
      var h = 42L
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(i), h)
        i += 1
      }
      h
    }

  /**
   * MinHash-LSH candidate pairs with exact-Jaccard verification.
   * Pipeline: shingle → signature → band-explode → bucket self-join →
   * distinct candidate pairs → verify Jaccard on true shingle sets.
   *
   * @param maxBucketSize guard against degenerate buckets (e.g. empty/
   *        boilerplate docs all sharing a band) — buckets larger than this
   *        are dropped rather than exploded quadratically.
   */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            shingleK: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, threshold: Double = 0.8,
                            maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // shingles are consumed by three branches (banding + both verify
    // sides). No persist: caching the tokenized corpus cannot survive
    // 100 TB anyway (it would evict-churn the storage pool and the blocks
    // would outlive the operator), so the branches recompute the cheap
    // shingle projection from the scan; the expensive minhash signature
    // kernel sits only under the banding branch and runs ONCE.
    val shingled = df.select(col(idCol).as("id"),
      shinglesUdf(shingleK)(col(textCol)).as("sh"))

    val banded = shingled
      .withColumn("sig", minhashSigUdf(numHashes)(col("sh")))
      .select(col("id"), posexplode(bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

    // bucket self-join via groupBy (one shuffle), guard huge buckets
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)

    val pairs = buckets
      .select(explode(candidatePairsExpr(col("ids"))).as("pair"))
      .select(col("pair.a").as("a"), col("pair.b").as("b"))
      .distinct()

    // verify with exact Jaccard over the true shingle sets
    val left = shingled.select(col("id").as("a"), col("sh").as("sh_a"))
    val right = shingled.select(col("id").as("b"), col("sh").as("sh_b"))
    pairs.join(left, "a").join(right, "b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
      .distinct()
  }

  /** All unordered pairs {a,b} (a<b) from an id array, as struct<a,b>. */
  private def candidatePairsExpr(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)), y => struct(x.as("a"), y.as("b")))))
  }

  // ----------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token multiset (pure Scala kernel). */
  def simhash64(tokens: Seq[String]): Long = {
    if (tokens == null || tokens.isEmpty) return 0L
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      var h = -3750763034362895579L // FNV-1a over UTF-16
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 1099511628211L; i += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash column over normalized whitespace tokens (Scala UDF kernel —
    * the per-bit accumulation isn't expressible as a codegen'd built-in). */
  def simhashCol(text: Column): Column = {
    val f = udf((s: String) =>
      if (s == null) 0L else simhash64(s.split(" ").toSeq))
    f(normalized(text))
  }

  /**
   * SimHash near-duplicates: hamming(simhash_a, simhash_b) <= maxHamming.
   * Candidate generation by the 4×16-bit chunk trick: pairs within hamming
   * ≤3 share at least one exact 16-bit chunk, so bucket-join on chunks and
   * verify with bit_count(a^b) — one shuffle, no cross join.
   */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3): DataFrame =
    hammingNearDuplicates64(
      df.select(col(idCol).as("id"), simhashCol(col(textCol)).as("sh")),
      "id", "sh", maxHamming)

  /**
   * Hamming near-duplicate pairs over ANY 64-bit hash column — the
   * banded candidate core shared by text SimHash and image
   * perceptual-hash dedup ([[graft.multimodal.Multimodal
   * .perceptualHashes]]): pairs within hamming ≤ 3 share at least one
   * exact 16-bit chunk (pigeonhole over 4 chunks), so bucket-join on
   * chunks and verify with bit_count(a^b) — one shuffle, no cross join,
   * exact at the threshold (not probabilistic recall like minhash LSH).
   */
  def hammingNearDuplicates64(hashes: DataFrame, idCol: String,
                              hashCol: String,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "chunk trick is exact only for hamming <= 3 with 4 chunks")
    val base = hashes.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val chunks = array((0 until 4).map(i =>
      shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunked = base.select(col("id"), col("sh"),
      posexplode(chunks).as(Seq("chunk_idx", "chunk")))
    val a = chunked.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("chunk_idx"), col("chunk"))
    val b = chunked.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("chunk_idx"), col("chunk"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  // -------------------------------------------------- n-gram Jaccard (exact)

  /**
   * Exact n-gram Jaccard similarity join via shingle-inverted-index:
   * explode shingles → co-occurrence counts per pair → Jaccard from
   * |A∩B| and set sizes (|A∪B| = |A|+|B|-|A∩B|). One shuffle on shingle,
   * one on pair. Rare-shingle pruning keeps the index from exploding on
   * boilerplate (a shingle shared by >maxDocFreq docs cannot identify
   * near-dups anyway).
   */
  def ngramJaccardJoin(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 3, threshold: Double = 0.5,
                       maxDocFreq: Int = 1000): DataFrame =
    ngramCooccurrence(df, textCol, idCol, shingleK, maxDocFreq)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /**
   * Containment (overlap-coefficient) variant of [[ngramJaccardJoin]]:
   * score = |A ∩ B| / min(|A|, |B|). The subset-duplicate detector
   * symmetric Jaccard under-scores: a 70% truncation of a document has
   * Jaccard ≈ 0.7 against its original but containment ≈ 1.0 — so a
   * high-containment, lower-Jaccard pair is the truncation/quote/
   * boilerplate-inclusion signature (the CCNet/RefinedWeb-style sub-doc
   * dedup rule). Same inverted-index candidate pipeline, same `maxDocFreq`
   * guard, one shared co-occurrence core.
   */
  def ngramContainmentJoin(df: DataFrame, textCol: String, idCol: String,
                           shingleK: Int = 3, threshold: Double = 0.9,
                           maxDocFreq: Int = 1000): DataFrame =
    ngramCooccurrence(df, textCol, idCol, shingleK, maxDocFreq)
      .withColumn("containment", col("inter").cast("double") /
        least(col("size_a"), col("size_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Distinct-pair shingle co-occurrence counts with set sizes:
    * (id_a, id_b, size_a, size_b, inter), id_a < id_b. */
  private def ngramCooccurrence(df: DataFrame, textCol: String, idCol: String,
                                shingleK: Int, maxDocFreq: Int): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      shinglesUdf(shingleK)(col(textCol)).as("sh"))
      .withColumn("setsize", size(col("sh")))
    // no persist on the inverted index (the blocks would outlive the
    // operator and could not cache a 100 TB corpus)
    val inverted = sets
      .select(col("id"), col("setsize"), explode(col("sh")).as("shingle"))
    // guarded path: ONE groupBy shuffle builds per-shingle doc buckets with
    // the df prune applied on the aggregated size (shingles shared by more
    // than maxDocFreq docs cannot identify near-dups and would explode
    // quadratically) — the in-bucket pair explode is bounded by the cap,
    // ≤ maxDocFreq² pairs per shingle, so the round-1 objection to
    // collect_list (O(df²) structs on UNCAPPED hot shingles) does not
    // apply. The exhaustive path keeps the codegen'd self-join, whose
    // identical sides share one exchange via reuse.
    val coocc =
      if (maxDocFreq == Int.MaxValue) {
        val a = inverted.select(col("shingle"), col("id").as("id_a"), col("setsize").as("size_a"))
        val b = inverted.select(col("shingle"), col("id").as("id_b"), col("setsize").as("size_b"))
        a.join(b, Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b", "size_a", "size_b")
          .agg(count(lit(1)).as("inter"))
      } else {
        inverted.groupBy("shingle")
          .agg(collect_list(struct(col("id"), col("setsize"))).as("docs"))
          .filter(size(col("docs")).between(2, maxDocFreq))
          .select(explode(candidatePairsExpr(col("docs"))).as("pair"))
          .select(col("pair.a.id").as("id_a"), col("pair.a.setsize").as("size_a"),
            col("pair.b.id").as("id_b"), col("pair.b.setsize").as("size_b"))
          .groupBy("id_a", "id_b", "size_a", "size_b")
          .agg(count(lit(1)).as("inter"))
      }
    coocc
  }

  // ------------------------------------------- embedding cosine near-dup

  /**
   * Embedding near-duplicates above a cosine threshold, via random-
   * hyperplane LSH buckets + in-bucket verification. `planes` deterministic
   * pseudo-random hyperplanes are generated from xxhash64 — reproducible
   * across runs with no RNG state shipped to executors.
   */
  /**
   * Sizing note: `planes/bands` is the bits-per-band; with fewer than ~8
   * bits random vectors collapse into a handful of buckets and in-bucket
   * verification degenerates toward all-pairs (the round-1 default of 2
   * bits/band cost 40s on 2k vectors). 12-16 bits/band × 8 bands gives
   * >95% recall at cosine 0.98 with near-empty buckets.
   *
   * Candidate pairs travel as ids only; vectors are joined back for the
   * cosine check — at scale this keeps the band shuffle narrow (id+hash)
   * instead of duplicating every vector into each of its band buckets.
   */
  def embeddingNearDuplicates(df: DataFrame, vecCol: String, idCol: String,
                              dims: Int, threshold: Double = 0.95,
                              planes: Int = 96, bands: Int = 8,
                              maxBucketSize: Int = 2000): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val planesPerBand = planes / bands
    // the vector-fetch joins read (id, v) straight off the scan; the sign
    // bits exist only under the banding branch, so the hyperplane UDF runs
    // ONCE with no persist (whose blocks would outlive the operator and
    // could not cache a 100 TB corpus anyway)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs
      .withColumn("bits", signBitsUdf(dims, planes)(col("v")))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("bits"), b * planesPerBand + lit(1), lit(planesPerBand)))))
          .as(Seq("band", "bucket")))
    // bucket pairs via ONE groupBy shuffle (same shape as the minhash
    // banding): the banded frame is consumed exactly once, with the
    // degenerate-bucket guard (empty/constant vectors all share a
    // signature) applied on the aggregated bucket size
    val buckets = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    val pairs = buckets
      .select(explode(candidatePairsExpr(col("ids"))).as("pair"))
      .select(col("pair.a").as("id_a"), col("pair.b").as("id_b"))
      .distinct()
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", graft.functions.expressions.CosineSimilarity.cosineNative(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * Semantic deduplication — the SemDeDup pruning stage of an LLM data
   * pipeline (Abbas et al. 2023, arXiv:2303.09540, public method): keep
   * ONE representative per cluster of near-parallel embeddings and drop
   * the rest. Composes the pieces this file already scales:
   * [[embeddingNearDuplicates]] generates candidate pairs (banded
   * hyperplane LSH — never all-pairs), [[connectedComponents]] closes
   * them transitively (star contraction, per-round checkpoint), and the
   * keep-min representative rule prunes every non-representative member
   * via one anti-join on `idCol`.
   *
   * Scale shape: the corpus rides exactly two exchanges — the ids-only
   * band shuffle inside the pair pass and the final `idCol` anti-join
   * (the drop list is ids-only, duplicate-member-sized, not
   * corpus-sized). `broadcastDrop = true` turns the anti-join into a
   * broadcast (the corpus never shuffles at all) — the minhash-probe
   * `broadcastBatch` contract: use it when the caller knows the
   * duplicate fraction is small; leave the default hash shuffle for
   * boilerplate-heavy corpora where the drop list itself is huge.
   * Returns the surviving rows with their original schema. The CC
   * checkpoint backs the returned plan — call [[release]] on the
   * result when its blocks should be freed.
   */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String, dims: Int,
                    threshold: Double = 0.95, planes: Int = 96, bands: Int = 8,
                    maxBucketSize: Int = 2000,
                    broadcastDrop: Boolean = false): DataFrame = {
    val pairs = embeddingNearDuplicates(df, vecCol, idCol, dims, threshold,
      planes, bands, maxBucketSize)
    val labels = connectedComponents(pairs, "id_a", "id_b")
    val drop = labels.filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    df.join(if (broadcastDrop) broadcast(drop) else drop, Seq(idCol), "left_anti")
  }

  /**
   * Text near-dup PRUNING — the [[semanticDedup]] sibling over MinHash:
   * detect near-duplicate documents (banded MinHash-LSH + exact-Jaccard
   * verification), resolve transitive clusters via star-contraction CC,
   * keep the min-id representative of each, return the surviving rows
   * with their original schema. The user-facing last mile that turns the
   * PAIR operators into a pruned corpus in one call. Same scale shape as
   * its parts: banding is the only corpus-wide shuffle, CC runs on the
   * pair list (≪ corpus), and the ids-only drop list anti-joins back
   * (`broadcastDrop = true` when the dup set is known small). Call
   * [[release]] on the result when its checkpoint blocks should be freed.
   */
  def minhashPrune(df: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 4, numHashes: Int = 128, bands: Int = 64,
                   threshold: Double = 0.3,
                   broadcastDrop: Boolean = false): DataFrame = {
    val pairs = minhashNearDuplicates(df, textCol, idCol, shingleK,
      numHashes, bands, threshold)
    val labels = connectedComponents(pairs, "id_a", "id_b")
    val drop = labels.filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    df.join(if (broadcastDrop) broadcast(drop) else drop, Seq(idCol), "left_anti")
  }

  // --------------------------------------------- incremental MinHash index

  /**
   * Persist a MinHash-LSH band index for INCREMENTAL dedup: band the
   * corpus once, then probe each incoming batch against the stored index
   * and fold accepted batches in via [[minhashIndexAppend]] — the 100 TB
   * daily-ingest shape, where re-banding the corpus per batch (what
   * [[minhashNearDuplicates]] would do) is a non-starter.
   *
   * Layout under `path` — every data table is APPEND-ONLY, one
   * `installment=N` partition per build/append, so folding a batch in
   * never rewrites an existing file (mirrors the reference's
   * append-oriented column writes, ≙ ColumnWriter.cs:29-70):
   *  - `bands/installment=N/`: (id, band, bucket) — ids only, 3 longs/row.
   *  - `sizes/installment=N/`: (band, bucket, cnt) per-installment
   *    bucket-count DELTAS; a bucket's true size is sum(cnt) over its
   *    delta rows, resolved at probe time for only the buckets the batch
   *    touches. Computed with a groupBy (map-side partial aggregation,
   *    AQE-splittable) — NOT a window over (band, bucket), which would
   *    funnel a degenerate boilerplate bucket through one task at build.
   *  - `sets/installment=N/`: (id, sh) shingle rows for exact-Jaccard
   *    verification — EXPLODED, one row per (doc, shingle), NOT a
   *    per-doc array column. Row width is therefore bounded by one
   *    shingle (~tens of bytes) regardless of document length: a per-doc
   *    `array<string>` column makes every later scan allocate
   *    rows-per-batch × set-size contiguous buffers in the vectorized
   *    parquet reader, which OOMs at crawl-scale documents (measured: a
   *    1.2 GB batch of ~20 KB docs → ~60 KB sets → 32 threads × ~250 MB
   *    batch buffers blew the heap at the first read-back). A doc whose
   *    text yields no shingles keeps a single (id, null) presence row
   *    (`explode_outer`), so stored-membership reads see every doc.
   *  - `meta/`: the banding parameters — part of the index contract, read
   *    back by append and probe so installments can never disagree.
   *
   * Each installment stage materializes through its own parquet partition
   * (shingle → write sets, read back → write bands, read back → count):
   * no in-memory persist, so build and append scale to any batch size.
   */
  def minhashIndexBuild(df: DataFrame, textCol: String, idCol: String,
                        path: String, shingleK: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, installment: Int = 0): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("sets", "bands", "sizes").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).delete(p, true)
    }
    // `installment` defaults to 0; a STREAMING bootstrap passes its own
    // batch number so a replay of the bootstrap batch (meta exists by
    // then, so it runs as a probe+AppendAt) overwrites this very
    // partition instead of landing the same docs at a second number —
    // the replay-idempotence contract extended to the first batch
    writeInstallment(df, textCol, idCol, path, installment, shingleK,
      numHashes, bands)
    spark.createDataFrame(Seq((shingleK, numHashes, bands)))
      .toDF("shingle_k", "num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$path/meta")
    // a rebuild starts a new index generation — drop the previous
    // generation's tombstones or they silently filter the new rows
    graft.store.Tombstones.clear(spark, path)
  }

  /**
   * Fold a new batch into a [[minhashIndexBuild]] index: shingle and band
   * the batch with the STORED meta parameters and write it as the next
   * `installment=` partition of `sets/`/`bands/`/`sizes/`. Existing
   * installments are never read, re-banded, or rewritten — appending a
   * 1 GB batch to a 100 TB index costs exactly the 1 GB batch's work
   * (≙ append-oriented writes, ColumnWriter.cs:29-70; StreamFactory.cs:29-90).
   *
   * Contract: re-appending an EXISTING id (a revision) is permitted —
   * each version's shingles live in their own installment and the
   * probe's verify step regroups per (id, installment), scoring every
   * version separately and keeping the best match (pooling them into
   * one union would dilute the Jaccard below threshold). Appends are
   * sequential — two concurrent appends could claim the same
   * installment number.
   */
  def minhashIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                         newDf: DataFrame, textCol: String, idCol: String): Unit = {
    val (shingleK, numHashes, bands) = readMinhashMeta(spark, path)
    val next = nextMinhashInstallment(spark, path)
    writeInstallment(newDf, textCol, idCol, path, next, shingleK, numHashes, bands)
  }

  /** [[minhashIndexAppend]] at a CALLER-CHOSEN installment — the
    * replay-idempotent form every streaming loop uses (`installment =
    * StreamInstallmentBase + batchId`): all three partition dirs
    * (sets/bands/sizes) are mode(overwrite) at that number, so an
    * at-least-once retry reproduces them instead of duplicating (the
    * shared `*AppendAt` contract, finally extended to the minhash
    * family). Same stored-meta parameters as every append. */
  def minhashIndexAppendAt(spark: org.apache.spark.sql.SparkSession,
                           path: String, newDf: DataFrame, installment: Int,
                           textCol: String, idCol: String): Unit = {
    val (shingleK, numHashes, bands) = readMinhashMeta(spark, path)
    writeInstallment(newDf, textCol, idCol, path, installment, shingleK, numHashes, bands)
  }

  /** (shingleK, numHashes, bands): `meta/` as [[minhashIndexBuild]]
    * writes it, read on the driver ([[graft.store.readSmall]]). */
  private def readMinhashMeta(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val r = graft.store.readSmall(spark, s"$path/meta", "shingle_k INT, num_hashes INT, bands INT").head
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Next installment for the minhash index: one past the max across
    * BOTH `sizes/` (which every event writes — appends and deletes) and
    * `sets/` (which only appends write). The max matters because
    * [[minhashIndexCompactSizes]] folds sizes/ history to installment 0
    * while leaving sets/bands untouched: numbering off sizes alone would
    * then re-issue an existing sets/bands number and the next append's
    * mode(overwrite) would silently replace those documents — data loss.
    * Numbering off sets alone would let a delete (sizes-only) and the
    * next append collide on a sizes number. The max is collision-free
    * against both maintenance histories. */
  private def nextMinhashInstallment(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Int =
    math.max(graft.store.Installments.next(spark, s"$path/sizes"),
      graft.store.Installments.next(spark, s"$path/sets"))

  /**
   * Tombstone documents out of a [[minhashIndexBuild]] index — the delete
   * half of the installment lifecycle ([[graft.store.Tombstones]]): one
   * id-list append plus NEGATIVE per-bucket size deltas written as the
   * next `sizes/` installment, so probe-time bucket sums (and the
   * hot-bucket guard) stay exact without rewriting anything. Probes skip
   * tombstoned ids inside their stored scans — takedown semantics: the
   * set applies to asOf snapshot reads too, and a snapshot pinned BEFORE
   * the delete's sizes installment sees
   * post-delete membership with pre-delete sizes (out of contract, the
   * same caveat as snapshots across a compaction).
   *
   * The LIVE-ids contract is SELF-ENFORCED (r11): ids already tombstoned
   * in an earlier installment are dropped
   * ([[graft.store.Tombstones.liveOnly]]) before the deltas are derived,
   * so a double-delete nets zero size deltas instead of
   * double-subtracting. Deletes are sequential with appends (shared
   * installment numbering). [[minhashIndexVacuum]] folds the deletion
   * physically. Returns the deletes installment written.
   */
  def minhashIndexDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                         ids: DataFrame, idCol: String = "doc_id"): Int =
    minhashIndexDeleteAt(spark, path, ids, idCol,
      nextMinhashInstallment(spark, path),
      graft.store.Tombstones.nextInstallment(spark, path))

  /** [[minhashIndexDelete]] at EXPLICIT installment numbers — the
    * crash-safe retry form (the `*AppendAt` convention): a delete is TWO
    * writes (negative sizes deltas + the tombstone list), and a crash
    * between them leaves the index transiently inconsistent; retrying at
    * the SAME numbers overwrites both partitions instead of
    * double-subtracting the bucket sizes. Callers own the numbering
    * ([[minhashIndexDelete]] computes both). */
  def minhashIndexDeleteAt(spark: org.apache.spark.sql.SparkSession,
                           path: String, ids: DataFrame, idCol: String,
                           sizesInstallment: Int,
                           deletesInstallment: Int): Int = {
    // SELF-ENFORCED live-ids contract (the bm25IndexDeleteAt guard): ids
    // tombstoned BEFORE this installment contribute no size deltas — a
    // double-delete nets zero; a crash retry at the same numbers (its own
    // partition excluded by the strict `<`) recomputes its full deltas
    val live = graft.store.Tombstones.liveOnly(spark, path,
      ids.select(col(idCol).as("id")).distinct(), "id", deletesInstallment)
    val del = broadcast(live)
    spark.read.parquet(s"$path/bands")
      .join(del, Seq("id"))
      .groupBy("band", "bucket").agg((-count(lit(1))).as("cnt"))
      .write.mode("overwrite")
      .parquet(s"$path/sizes/installment=$sizesInstallment")
    graft.store.Tombstones.appendAt(spark, path, live, "id",
      deletesInstallment)
    deletesInstallment
  }

  /**
   * Physical fold of the tombstone set — the maintenance job
   * [[minhashIndexDelete]] defers to: rewrite `sets/` and `bands/`
   * without the tombstoned ids and recompute `sizes/` from the folded
   * bands, each table folded to ONE `installment=0` partition
   * ([[graft.store.Tombstones.fold]], [[graft.store.Installments.fold]]);
   * clear `deletes/` last. Crash-safe by ordering:
   * until the final clear, probes still skip the tombstoned ids, so a
   * partially-folded index reads exactly like an unfolded one, and
   * re-running the vacuum completes it. asOf snapshots are only
   * meaningful between vacuums (the installment history folds away — the
   * shared contract). Returns the surviving document count.
   */
  def minhashIndexVacuum(spark: org.apache.spark.sql.SparkSession,
                         path: String): Long = {
    graft.store.Tombstones.fold(spark, path, "sets", "id")
    // sets/ is exploded — the surviving DOC count is distinct ids
    val docs = spark.read.parquet(s"$path/sets")
      .select("id").distinct().count()
    graft.store.Tombstones.fold(spark, path, "bands", "id")
    graft.store.Installments.fold(spark, s"$path/sizes",
      spark.read.parquet(s"$path/bands")
        .groupBy("band", "bucket").agg(count(lit(1)).as("cnt")))
    graft.store.Tombstones.clear(spark, path)
    docs
  }

  /**
   * Index maintenance — the periodic job the append-only contract
   * promises (same shape as EventStreams.compactAndRewrite): fold every
   * per-installment size delta into ONE `installment=0` partition
   * ([[graft.store.Installments.fold]]), so a probed bucket resolves from
   * one delta row again no matter how many appends have landed; the old
   * and the new sizes table sum to identical totals.
   *
   * `bands/` and `sets/` are left untouched: their rows are already
   * minimal and installment-invariant — compacting them would be a full
   * rewrite for no read-path gain (parquet scans all installments at full
   * speed; if an aggressive append cadence produces tiny FILES, that is
   * ordinary small-file compaction, orthogonal to this job). Returns the
   * number of distinct buckets in the compacted table.
   */
  def minhashIndexCompactSizes(spark: org.apache.spark.sql.SparkSession,
                               path: String): Long =
    graft.store.Installments.fold(spark, s"$path/sizes",
      spark.read.parquet(s"$path/sizes")
        .groupBy("band", "bucket").agg(sum("cnt").as("cnt")))

  /** One installment's three tables. Each stage reads the previous stage's
    * just-written partition back from parquet — disk materialization, no
    * memory persist, any batch size. */
  private def writeInstallment(df: DataFrame, textCol: String, idCol: String,
                               path: String, installment: Int, shingleK: Int,
                               numHashes: Int, bands: Int): Unit = {
    val spark = df.sparkSession
    val rowsPerBand = numHashes / bands
    // exploded rows (see the layout doc): bounded row width at any doc
    // length; explode_outer keeps a (id, null) presence row for docs too
    // short to shingle, so membership reads see every ingested doc.
    // Sorted by id WITHIN partitions so every parquet ROW GROUP carries
    // a tight id min/max — the probe's candidate-id pushdown then skips
    // row groups outside the candidates' ids instead of scanning the
    // whole stored shingle table (the table ∝ corpus; candidates ∝
    // batch). sortWithinPartitions, NOT repartitionByRange: global range
    // clustering would only tighten per-FILE ranges (row-group stats are
    // what the reader prunes on) while costing a sampling pass that
    // re-evaluates the shingle UDF over the whole batch plus a full
    // extra shuffle.
    df.select(col(idCol).as("id"), shinglesUdf(shingleK)(col(textCol)).as("sh"))
      .select(col("id"), explode_outer(col("sh")).as("sh"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/sets/installment=$installment")
    // regroup for the signature: collect_list drops the null presence
    // rows, reproducing the original (possibly empty) shingle set; the
    // minhash signature is order-invariant, so exploded order is fine.
    // This is the batch's own shuffle — appending 1 GB still costs 1 GB.
    spark.read.parquet(s"$path/sets/installment=$installment")
      .groupBy("id").agg(collect_list(col("sh")).as("sh"))
      .withColumn("sig", minhashSigUdf(numHashes)(col("sh")))
      .select(col("id"), posexplode(bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
      .write.mode("overwrite").parquet(s"$path/bands/installment=$installment")
    spark.read.parquet(s"$path/bands/installment=$installment")
      .groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$path/sizes/installment=$installment")
  }

  /**
   * Probe an incoming batch against a [[minhashIndexBuild]] index:
   * near-duplicate (corpus_id, new_id, jaccard) pairs above `threshold`.
   * Degenerate buckets (boilerplate shingles shared by more than
   * `maxBucketSize` stored docs — they cannot identify near-dups and
   * would fan the probe out quadratically) are skipped by summing the
   * stored per-installment size deltas for ONLY the buckets the batch
   * touches. Tombstoned docs never pair (takedown semantics — applies to
   * snapshots too); the sizes sums already carry a delete's negative
   * deltas. Self pairs are dropped by comparing the ids as strings:
   * stored and batch id TYPES may differ (a long-keyed corpus probed by
   * URL-keyed batches).
   *
   * Two regimes; [[graft.pipeline.Crawl.ingestBatch]] picks one from the
   * batch's measured text bytes:
   *  - `broadcastBatch = true` (a driver-sized batch) is ROUTED and
   *    EAGER: the work runs inside this call, and the result is a local
   *    frame. One pass shingles and bands the batch and collects it
   *    ([[bandKeys]] — the keys [[bandHashes]] writes). Then three scans
   *    of the stored index, each filtered map-side against a set built
   *    on the driver, with no exchange: `sizes/` for the touched
   *    (band, bucket) keys (their summed deltas pick the hot buckets),
   *    `bands/` for the kept keys (the (id, installment) candidates), and
   *    `sets/`, partition-pruned to the candidates' installments and
   *    filtered by candidate id. The candidate versions' shingle rows
   *    come to the driver, which scores exact Jaccard per (id,
   *    installment, batch row) and keeps the best per (id, new_id).
   *    Jobs: the `meta/` read, the batch collect and the three scans, plus
   *    one tombstone collect when `deletes/` exists. Above
   *    [[ProbePushdownMaxCandidates]] candidate ids the verify keeps one
   *    candidate-bounded exchange (a collect_list regroup of the
   *    candidate versions' rows) instead of collecting rows.
   *  - `broadcastBatch = false` (a corpus-sized batch) returns a lazy plan
   *    of hash-partitioned joins on both sides — no driver OOM; the
   *    routed regime would collect the batch's shingle sets.
   *
   * Per-version verification: an id re-appended with DIFFERENT content
   * lives in several installments, and each version scores separately —
   * pooling the versions' shingles into one union would dilute the
   * Jaccard below threshold where each version alone would verify. The
   * routed regime scores the versions that share a band with the batch
   * doc (its LSH candidates); the shuffled one every version of a
   * candidate id.
   *
   * Recall contract: candidates are LSH-generated, so a true pair at
   * Jaccard j is found with probability 1-(1-j^r)^b (r rows/band, b
   * bands) — e.g. ~0.24% miss at j = 0.3 with r = 2, b = 64, vanishing
   * as j rises above the threshold. Exactness applies to the VERIFIED
   * Jaccard of emitted pairs, not to recall at the threshold boundary.
   *
   * `asOfInstallment` pins the probe to the index AS OF that installment
   * (only `installment <= asOf` partitions are read — partition-pruned,
   * zero cost for the default full-history read): a reproducible probe
   * against a fixed snapshot while appends keep landing. Valid between
   * compactions — [[minhashIndexCompactSizes]] folds size history into
   * installment 0, after which only the full-history read is meaningful.
   */
  def minhashIndexProbe(spark: SparkSession, path: String,
                        newDf: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.8,
                        maxBucketSize: Int = 1000,
                        broadcastBatch: Boolean = true,
                        asOfInstallment: Int = Int.MaxValue): DataFrame =
    if (!broadcastBatch)
      shuffledProbe(spark, path, newDf, textCol, idCol, threshold, maxBucketSize, asOfInstallment)
    else routedProbeFrame(spark, path, newDf, textCol, idCol, threshold, maxBucketSize,
      asOfInstallment, ProbePushdownMaxCandidates)

  /** [[minhashIndexProbe]]'s routed regime with the verify's candidate-id
    * cap as a parameter. */
  private[dedup] def routedProbeFrame(spark: SparkSession, path: String, newDf: DataFrame,
                                      textCol: String, idCol: String, threshold: Double,
                                      maxBucketSize: Int, asOfInstallment: Int,
                                      maxCandidates: Int): DataFrame = {
    val meta = readMinhashMeta(spark, path)
    val docs = batchDocs(newDf.select(col(idCol), bandedShingles(meta)(col(textCol))))
    val p = routedProbe(spark, path, docs, meta, threshold, maxBucketSize, asOfInstallment,
      maxCandidates)
    spark.createDataFrame(p.hits.map(h => Row(h._1, h._2, h._3)).asJava,
      StructType(Seq(StructField("corpus_id", p.corpusId),
        StructField("new_id", newDf.schema(idCol).dataType), StructField("jaccard", DoubleType))))
  }

  /**
   * Probe `batch` against the index as of `installment - 1` and fold its
   * survivors in at `installment` — the crawl and streaming ingest step
   * (same regimes and output as [[minhashIndexProbe]], then
   * [[minhashIndexAppendAt]]'s replay-idempotent write). `use` runs over
   * the survivors while they are materialized and must consume them
   * eagerly: their blocks are released before return. Returns what `use`
   * returned and the number of survivors appended.
   *
   * Routed (`broadcastBatch = true`): the batch is checkpointed once with
   * its shingle sets and band keys, and the probe runs on the collected
   * keys. The survivors are a filter of that checkpoint: `sets/` is
   * written from its shingle column, and `bands/` and `sizes/` from the
   * band keys the probe already holds — no read-back and no regroup
   * shuffle. A batch id that appears twice is banded once, from the
   * union of its rows' shingles, as [[minhashIndexAppendAt]]'s regroup
   * does. Nine jobs: the `meta/` read, the checkpoint, the batch
   * collect, the probe's three scans and the three writes (+1 tombstone
   * collect when `deletes/` exists).
   *
   * Shuffled (`broadcastBatch = false`): the lazy probe's duplicates
   * anti-join the batch, the survivors are checkpointed (the anti-join
   * would otherwise re-probe an index that already holds the batch), and
   * [[minhashIndexAppendAt]] writes them.
   */
  def minhashIndexIngest[A](spark: SparkSession, path: String, batch: DataFrame,
                            textCol: String, idCol: String, installment: Int,
                            threshold: Double = 0.8, maxBucketSize: Int = 1000,
                            broadcastBatch: Boolean = true)
                           (use: DataFrame => A): (A, Long) =
    if (!broadcastBatch) {
      val dupIds = shuffledProbe(spark, path, batch, textCol, idCol, threshold,
          maxBucketSize, installment - 1)
        .select(col("new_id").as(idCol)).distinct()
      val obs = org.apache.spark.sql.Observation()
      val fresh = batch.join(dupIds, Seq(idCol), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      try {
        minhashIndexAppendAt(spark, path, fresh, installment, textCol, idCol)
        val appended = obs.get("n").asInstanceOf[Long]
        (use(fresh), appended)
      } finally release(fresh)
    } else {
      val meta = readMinhashMeta(spark, path)
      val banded = batch.withColumn(BandedCol, bandedShingles(meta)(col(textCol)))
        .localCheckpoint()
      try {
        val docs = batchDocs(banded.select(col(idCol), col(BandedCol)))
        val dups = routedProbe(spark, path, docs, meta, threshold, maxBucketSize,
          installment - 1, ProbePushdownMaxCandidates).hits.map(_._2).toSet
        // a null batch id never matches the anti-join (today's left_anti)
        val kept = docs.filter(d => d.id == null || !dups(d.id))
        val fresh =
          if (dups.isEmpty) banded
          else banded.filter(col(idCol).isNull || !col(idCol).isin(dups.toSeq: _*))
        writeBandedInstallment(spark, path, fresh, kept, batch.schema(idCol).dataType,
          idCol, installment, meta)
        (use(fresh.drop(BandedCol)), kept.length.toLong)
      } finally release(banded)
    }

  /** The checkpoint column holding each batch row's [[bandedShingles]]. */
  private val BandedCol = "_minhash_banded"

  /** One batch row as the routed probe holds it on the driver: its id, its
    * distinct shingles ([[shingleSet]]) and its band keys ([[bandKeys]]). */
  private final case class BatchDoc(id: Any, sh: Array[String], keys: Array[Long])

  /** A routed probe's outcome: the stored id type, and its verified
    * (corpus id, new id, jaccard) triples. */
  private final case class Probed(corpusId: DataType, hits: Seq[(Any, Any, Double)])

  /** A text column's shingle set and band keys under the stored `meta`
    * ((shingleK, numHashes, bands)), computed in one UDF call per row:
    * struct<_1: array<string> shingles, _2: array<bigint> band keys>. */
  private def bandedShingles(meta: (Int, Int, Int)): UserDefinedFunction = {
    val (shingleK, numHashes, bands) = meta
    udf { (text: String) =>
      val sh = shingleSet(text, shingleK)
      (sh, bandKeys(minhashSig(sh, numHashes), bands, numHashes / bands))
    }.withName("bandedShingles")
  }

  /** Collect (id, [[bandedShingles]]) rows to the driver: one job. */
  private def batchDocs(df: DataFrame): Array[BatchDoc] =
    df.collect().map { r =>
      val b = r.getStruct(1)
      BatchDoc(r.get(0), b.getSeq[String](0).toArray, b.getSeq[Long](1).toArray)
    }

  /** `df` restricted to installments `<= asOf` (no filter for the full
    * history). */
  private def asOf(df: DataFrame, asOfInstallment: Int): DataFrame =
    if (asOfInstallment == Int.MaxValue) df
    else df.filter(col("installment") <= asOfInstallment)

  /** The routed probe of [[minhashIndexProbe]] over driver-held batch
    * docs. `maxCandidates` caps the candidate ids whose rows the verify
    * collects. */
  private def routedProbe(spark: SparkSession, path: String, docs: Array[BatchDoc],
                          meta: (Int, Int, Int), threshold: Double, maxBucketSize: Int,
                          asOfInstallment: Int, maxCandidates: Int): Probed = {
    val bands = meta._3
    // the stored id type, from a bands/ file footer (no inference job);
    // an index with no stored file has nothing to pair
    val idType = graft.store.parquetSchema(spark, s"$path/bands").map(_("id").dataType)
    if (idType.isEmpty || docs.isEmpty) return Probed(idType.getOrElse(StringType), Nil)
    val idT = idType.get
    def read(table: String, cols: String) =
      asOf(spark.read.schema(s"$cols, installment INT").parquet(s"$path/$table"), asOfInstallment)
    // (band, bucket) keys as one sorted array per band, binary-searched map-side
    def perBand(keys: Iterable[(Int, Long)]): Array[Array[Long]] = {
      val by = keys.groupBy(_._1)
      Array.tabulate(bands)(b => by.get(b).map(_.map(_._2).toArray.distinct.sorted)
        .getOrElse(Array.emptyLongArray))
    }
    val docsByKey = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    docs.indices.foreach(d => docs(d).keys.indices.foreach(b =>
      docsByKey.getOrElseUpdate((b, docs(d).keys(b)), mutable.ArrayBuffer.empty) += d))
    val touched = perBand(docsByKey.keys)

    // 1. hot buckets: each touched bucket's true size is the sum of its
    // installment deltas, summed per task and then on the driver
    val sizes = mutable.HashMap.empty[(Int, Long), Long].withDefaultValue(0L)
    graft.store.scanCollect(read("sizes", "band INT, bucket BIGINT, cnt BIGINT")
        .select("band", "bucket", "cnt")) { rows =>
      val part = mutable.HashMap.empty[(Int, Long), Long].withDefaultValue(0L)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && has(touched, r.getInt(0), r.getLong(1)))
          part((r.getInt(0), r.getLong(1))) += r.getLong(2)
      }
      part.iterator
    }.foreach { case (k, n) => sizes(k) += n }
    val kept = perBand(docsByKey.keys.filter(sizes(_) <= maxBucketSize))

    // 2. candidates: stored rows in a kept bucket, tombstoned ids dropped
    val dead = graft.store.Tombstones.collectIds(spark, path, idT)
    val stored = graft.store.scanCollect(read("bands", s"id ${idT.sql}, band INT, bucket BIGINT")
        .select("id", "band", "bucket", "installment")) { rows =>
      val toId = CatalystTypeConverters.createToScalaConverter(idT)
      rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2) ||
            !has(kept, r.getInt(1), r.getLong(2))) None
        else {
          val id = toId(r.get(0, idT))
          if (dead(id)) None else Some((id, r.getInt(3), r.getInt(1), r.getLong(2)))
        }
      }
    }
    // (stored id, installment, batch row): one version against one doc;
    // the string compare drops self pairs across id types
    val cands = stored.iterator.flatMap { case (id, inst, b, bucket) =>
      docsByKey((b, bucket)).iterator.collect {
        case d if docs(d).id != null && docs(d).id.toString != id.toString => (id, inst, d)
      }
    }.toSet.toSeq
    if (cands.isEmpty) return Probed(idT, Nil)

    // 3. verify: exact Jaccard per version, best per (id, new_id)
    val scored = verify(spark, read("sets", s"id ${idT.sql}, sh STRING"), idT, cands, docs,
      maxCandidates)
    val best = mutable.LinkedHashMap.empty[(Any, Any), Double]
    scored.foreach { case ((id, d), j) =>
      val k = (id, docs(d).id)
      best(k) = math.max(best.getOrElse(k, j), j)
    }
    Probed(idT, best.iterator.collect { case ((id, newId), j) if j >= threshold =>
      (id, newId, j) }.toSeq)
  }

  /** Exact Jaccard of each candidate (stored id, installment, batch row)
    * over `sets` (the `sets/` table read as `idT`), keyed (stored id, batch
    * row). The scan is partition-pruned to the candidates' installments
    * and filtered by candidate id; up to `maxCandidates` ids their rows
    * are collected and scored on the driver, above it one
    * candidate-bounded collect_list exchange scores them. */
  private def verify(spark: SparkSession, sets: DataFrame, idT: DataType,
                     cands: Seq[(Any, Int, Int)], docs: Array[BatchDoc],
                     maxCandidates: Int): Seq[((Any, Int), Double)] = {
    val versions = cands.map(c => (c._1, c._2)).toSet
    val ids = versions.map(_._1).toSeq
    val pruned = sets.filter(col("installment").isin(versions.map(_._2).toSeq.distinct: _*))
    if (ids.length <= maxCandidates) {
      val rows = graft.store.scanCollect(pruned.filter(col("id").isin(ids: _*))
          .select("id", "installment", "sh")) { rows =>
        val toId = CatalystTypeConverters.createToScalaConverter(idT)
        rows.flatMap { r =>
          val v = (toId(r.get(0, idT)), r.getInt(1))
          if (!versions(v)) None
          else Some((v, if (r.isNullAt(2)) null else r.getUTF8String(2).toString))
        }
      }
      // null sh rows are presence rows: the version exists, shingle-less
      val shingles = mutable.HashMap.empty[(Any, Int), mutable.HashSet[String]]
      rows.foreach { case (v, sh) =>
        val s = shingles.getOrElseUpdate(v, mutable.HashSet.empty)
        if (sh != null) s += sh
      }
      cands.flatMap { case (id, inst, d) =>
        shingles.get((id, inst)).map(s => ((id, d), jaccard(s, docs(d).sh)))
      }
    } else {
      val candDf = spark.createDataFrame(cands.map(c => Row(c._1, c._2, c._3)).asJava,
        StructType(Seq(StructField("id", idT), StructField("installment", IntegerType),
          StructField("_d", IntegerType))))
      val docSets = spark.createDataFrame(cands.map(_._3).distinct
          .map(d => Row(d, docs(d).sh.toSeq)).asJava,
        StructType(Seq(StructField("_d", IntegerType),
          StructField("new_sh", ArrayType(StringType)))))
      pruned.join(broadcast(candDf), Seq("id", "installment"))
        .groupBy("id", "installment", "_d").agg(collect_list(col("sh")).as("sh"))
        .join(broadcast(docSets), "_d")
        .select(col("id"), col("_d"),
          size(array_intersect(col("sh"), col("new_sh"))).cast("double") /
            size(array_union(col("sh"), col("new_sh"))))
        .collect().toSeq.map(r => ((r.get(0), r.getInt(1)), r.getDouble(2)))
    }
  }

  /** True when `key` is in band `band`'s sorted keys. */
  private def has(keys: Array[Array[Long]], band: Int, key: Long): Boolean =
    band >= 0 && band < keys.length && java.util.Arrays.binarySearch(keys(band), key) >= 0

  /** Set Jaccard of a stored version's shingles and a batch doc's distinct
    * shingles — `size(array_intersect) / size(array_union)`. */
  private def jaccard(stored: collection.Set[String], doc: Array[String]): Double = {
    val inter = doc.count(stored)
    inter.toDouble / (stored.size + doc.length - inter)
  }

  /** The routed ingest's installment, each table as one file (the file
    * the former read-back regroup's coalesced shuffle wrote): `sets/`
    * from the survivors' shingle column, exploded and id-sorted as
    * [[writeInstallment]] writes it, then `bands/` and `sizes/` from the
    * driver-held band keys. */
  private def writeBandedInstallment(spark: SparkSession, path: String, fresh: DataFrame,
                                     kept: Seq[BatchDoc], idType: DataType, idCol: String,
                                     installment: Int, meta: (Int, Int, Int)): Unit = {
    val (_, numHashes, bands) = meta
    fresh.coalesce(1)
      .select(col(idCol).as("id"), explode_outer(col(s"$BandedCol._1")).as("sh"))
      .sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/sets/installment=$installment")
    val byId = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuffer[BatchDoc]]
    kept.foreach(d => byId.getOrElseUpdate(d.id, mutable.ArrayBuffer.empty) += d)
    val keys = byId.toSeq.map { case (id, ds) =>
      id -> (if (ds.length == 1) ds.head.keys
        else bandKeys(minhashSig(ds.flatMap(_.sh).distinct, numHashes), bands, numHashes / bands))
    }
    val bandRows = keys.flatMap { case (id, ks) => ks.indices.map(b => Row(id, b, ks(b))) }
    spark.createDataFrame(bandRows.asJava, StructType(Seq(StructField("id", idType),
        StructField("band", IntegerType, nullable = false),
        StructField("bucket", LongType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bands/installment=$installment")
    val counts = mutable.HashMap.empty[(Int, Long), Long].withDefaultValue(0L)
    keys.foreach { case (_, ks) => ks.indices.foreach(b => counts((b, ks(b))) += 1) }
    spark.createDataFrame(counts.toSeq.sortBy(_._1).map { case ((b, k), n) => Row(b, k, n) }.asJava,
        StructType(Seq(StructField("band", IntegerType), StructField("bucket", LongType),
          StructField("cnt", LongType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/sizes/installment=$installment")
  }

  /** [[minhashIndexProbe]]'s shuffled regime: every probe join is a
    * hash-partitioned shuffle on both sides, for a batch too large to
    * collect or broadcast. */
  private def shuffledProbe(spark: SparkSession, path: String, newDf: DataFrame,
                            textCol: String, idCol: String, threshold: Double,
                            maxBucketSize: Int, asOfInstallment: Int): DataFrame = {
    val (shingleK, numHashes, bands) = readMinhashMeta(spark, path)
    val rowsPerBand = numHashes / bands
    def snapshot(df: DataFrame): DataFrame = asOf(df, asOfInstallment)

    // materialize the batch shingles once — they feed BOTH the banding
    // branch and the verification join, and the shingle kernel dominates
    // batch-side cost on long documents. Blocks are released by the
    // ContextCleaner when the result is dropped, or eagerly via
    // [[release]] (same lifetime contract as connectedComponents).
    val newShingled = newDf.select(col(idCol).as("new_id"),
      shinglesUdf(shingleK)(col(textCol)).as("new_sh"))
      .localCheckpoint()
    val newBanded = newShingled
      .withColumn("sig", minhashSigUdf(numHashes)(col("new_sh")))
      .select(col("new_id"), posexplode(bandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

    // true size of each touched bucket = sum of its installment deltas;
    // only (band, bucket, cnt) triples for touched buckets reach the
    // aggregate exchange. Hot buckets are removed from the BATCH side of
    // the main join: stored rows in a hot bucket simply never match.
    val touched = newBanded.select("band", "bucket").distinct()
    val hot = snapshot(spark.read.parquet(s"$path/sizes"))
      .join(touched, Seq("band", "bucket"))
      .groupBy("band", "bucket").agg(sum("cnt").as("n"))
      .filter(col("n") > maxBucketSize)
      .select("band", "bucket")
    val keptBanded = newBanded.join(hot, Seq("band", "bucket"), "left_anti")

    // sets/ needs no tombstone filter: pairs gate the sets join on id, so
    // a deleted doc's shingle row never matches
    val stored = graft.store.Tombstones.filter(spark, path,
      snapshot(spark.read.parquet(s"$path/bands")), "id")
    val pairs = stored
      .join(keptBanded, Seq("band", "bucket"))
      .filter(col("id").cast("string") =!= col("new_id").cast("string"))
      .select(col("id"), col("new_id"))
      .distinct()
      .localCheckpoint() // candidate-bounded; feeds the id collect + join

    // Candidate-id pushdown: when the candidate set is driver-sized, push
    // the ids into the sets/ scan as a filter — sets/ files are sorted by
    // id within partitions at write, so parquet row-group min/max skip
    // everything outside the candidates' id range. Above the cap, the
    // plain join — identical output.
    val candIds = pairs.select("id").distinct()
      .limit(ProbePushdownMaxCandidates + 1).collect().map(_.get(0))
    val storedSetsAll = snapshot(spark.read.parquet(s"$path/sets"))
    val storedSets =
      if (candIds.length <= ProbePushdownMaxCandidates)
        storedSetsAll.filter(col("id").isin(candIds.toIndexedSeq: _*))
      else storedSetsAll

    // collect_list regroups ONLY the candidate docs' exploded shingles,
    // per (id, installment): each version of a re-appended id scores alone
    storedSets
      .join(pairs, "id")
      .groupBy("id", "installment", "new_id")
      .agg(collect_list(col("sh")).as("sh"))
      .join(newShingled, "new_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("new_sh"))).cast("double") /
          size(array_union(col("sh"), col("new_sh"))))
      .groupBy("id", "new_id").agg(max(col("jaccard")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id").as("corpus_id"), col("new_id"), col("jaccard"))
  }

  // ------------------------------------------ persisted 64-bit hamming index

  /**
   * Persist 64-bit perceptual hashes as an append-only installment index —
   * the EIGHTH index family, and deliberately modality-agnostic: the same
   * index serves text SimHash ([[simhashCol]]), image aHash/dHash
   * ([[graft.multimodal.Multimodal.perceptualHashes]]), and audio
   * energy-gradient fingerprints ([[graft.multimodal.Multimodal
   * .audioHash64]]) — anything that near-dups by hamming distance. This is
   * the daily-ingest shape for image/audio corpora: hash the historical
   * corpus once, then probe each incoming batch against the STORED hashes
   * without re-hashing (or re-decoding!) the corpus.
   *
   * Layout under `path`, honoring all four appendable-index contracts
   * (append-only installments, asOf snapshots, replay-idempotent streaming
   * numbering, tombstone deletes):
   *  - `hashes/installment=N/` — (id, h) rows, 16 bytes each: a BILLION
   *    stored images index in ~16 GB of parquet before compression.
   *  - `deletes/installment=M/` — the [[graft.store.Tombstones]] sidecar.
   */
  def hammingIndexBuild(df: DataFrame, path: String,
                        idCol: String, hashCol: String): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$path/hashes")
    p.getFileSystem(conf).delete(p, true)
    // a REBUILD starts a new index generation: the previous generation's
    // tombstones must not silently filter the new rows
    graft.store.Tombstones.clear(df.sparkSession, path)
    writeHashInstallment(df, path, 0, idCol, hashCol)
  }

  /** Fold a new batch of (id, hash) rows in as the next installment —
    * batch ids must be new to the index (the shared append contract);
    * appends are sequential ([[hammingIndexAppendAt]] for streams). */
  def hammingIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                         newDf: DataFrame, idCol: String, hashCol: String): Unit =
    writeHashInstallment(newDf, path,
      graft.store.Installments.next(spark, s"$path/hashes"), idCol, hashCol)

  /** Append at an EXPLICIT installment — the replay-idempotent form for
    * at-least-once writers (the `*AppendAt` contract). */
  def hammingIndexAppendAt(spark: org.apache.spark.sql.SparkSession,
                           path: String, newDf: DataFrame, installment: Int,
                           idCol: String, hashCol: String): Unit =
    writeHashInstallment(newDf, path, installment, idCol, hashCol)

  /** A hash value that is null or does not cast to long is an upstream
    * bug (the fingerprint kernels emit longs; emit-less rows never reach
    * here) — fail LOUD instead of landing inert null rows that can never
    * match anything (the silent-null class the r9 ADVICE fixes closed). */
  private def guardedHash(hashCol: String): Column =
    when(col(hashCol).cast("long").isNotNull, col(hashCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"hamming index: column '$hashCol' is null or not castable " +
          "to a 64-bit hash: "), col(hashCol).cast("string"))))

  private def writeHashInstallment(df: DataFrame, path: String,
                                   installment: Int, idCol: String,
                                   hashCol: String): Unit =
    df.select(col(idCol).as("id"), guardedHash(hashCol).as("h"))
      .write.mode("overwrite").parquet(s"$path/hashes/installment=$installment")

  /** Tombstone ids out of the index ([[graft.store.Tombstones]] — takedown
    * semantics, probes drop them immediately, compaction folds). */
  def hammingIndexDelete(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String = "id"): Int =
    graft.store.Tombstones.append(spark, path, ids, idCol)

  /** Fold installments to one dir, drop tombstoned rows, clear deletes —
    * the shared compaction contract ([[graft.store.Tombstones.fold]];
    * clear LAST). Returns the surviving hash-row count. */
  def hammingIndexCompact(spark: org.apache.spark.sql.SparkSession,
                          path: String): Long = {
    val rows = graft.store.Tombstones.fold(spark, path, "hashes", "id")
    graft.store.Tombstones.clear(spark, path)
    rows
  }

  /**
   * Probe an incoming batch of (id, hash) rows against the stored index:
   * (corpus_id, new_id, hamming) pairs at hamming ≤ `maxHamming` — the
   * [[minhashIndexProbe]] shape for hamming space, EXACT at the threshold
   * (the 4×16-bit chunk candidates are pigeonhole-complete for ≤ 3).
   *
   * Scale shape: the stored side explodes into its 4 chunk rows MAP-SIDE
   * and joins the BROADCAST batch chunks on (chunk_idx, chunk) — the
   * corpus-sized table is never shuffled by a probe (the probe-path
   * invariant); the only exchange is the candidate-pair distinct,
   * bounded by real chunk collisions. Tombstoned rows never pair
   * (takedown semantics); `asOfInstallment` pins the stored side (valid
   * between compactions).
   */
  def hammingIndexProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                        batch: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 3,
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, "chunk trick is exact only for hamming <= 3 with 4 chunks")
    def chunks(h: Column): Column = array((0 until 4).map(i =>
      shiftrightunsigned(h, i * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val stored0 = spark.read.parquet(s"$path/hashes")
    val stored1 = if (asOfInstallment == Int.MaxValue) stored0
      else stored0.filter(col("installment") <= asOfInstallment)
    val stored = graft.store.Tombstones.filter(spark, path, stored1, "id")
      .select(col("id").as("corpus_id"), col("h").as("_hx_sh"),
        posexplode(chunks(col("h"))).as(Seq("chunk_idx", "chunk")))
    val bchunked = batch
      .select(col(idCol).as("new_id"), guardedHash(hashCol).as("_hx_bh"))
      .select(col("new_id"), col("_hx_bh"),
        posexplode(chunks(col("_hx_bh"))).as(Seq("chunk_idx", "chunk")))
    stored.join(broadcast(bchunked), Seq("chunk_idx", "chunk"))
      .filter(col("corpus_id") =!= col("new_id"))
      .withColumn("hamming", bit_count(col("_hx_sh").bitwiseXOR(col("_hx_bh"))))
      .filter(col("hamming") <= maxHamming)
      .select("corpus_id", "new_id", "hamming")
      .distinct()
  }

  /**
   * Prune an incoming batch against the index — the one-call ingest-dedup
   * last mile (the [[graft.index.Quantize.int8ProbePrune]] policy in
   * hamming space): a batch row drops when its duplicate component
   * (stored×batch probe pairs ∪ batch-internal pairs at the same
   * threshold) contains any stored row, or it is a non-minimal member of
   * a batch-only component (keep-min). Survivors keep the caller's schema
   * and are what [[hammingIndexAppend]] should fold in. Pairs are
   * batch-bounded; CC runs on the pair list; `asOfInstallment` pins the
   * probe (the dedup-ingest replay guard).
   */
  def hammingIndexPrune(spark: org.apache.spark.sql.SparkSession, path: String,
                        batch: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 3,
                        broadcastDrop: Boolean = false,
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    require(!batch.columns.exists(_.startsWith("_hx_")),
      "hammingIndexPrune reserves internal column names starting with _hx_")
    val stored = hammingIndexProbe(spark, path, batch, idCol, hashCol,
      maxHamming, asOfInstallment)
      .select(col("corpus_id").as("id_a"), col("new_id").as("id_b"))
      .localCheckpoint()
    val internal = hammingNearDuplicates64(
      batch.select(col(idCol).as("id"), guardedHash(hashCol).as("h")),
      "id", "h", maxHamming)
      .select(col("id_a"), col("id_b"))
    ingestPrunePolicy(batch, stored, internal, idCol, broadcastDrop)
  }

  /**
   * The shared ingest-prune policy over candidate pair lists (`stored`
   * carries (id_a = corpus, id_b = batch), `internal` batch-only pairs):
   * transitive closure over both, then a batch row drops when its
   * component is anchored by any stored row — the corpus already holds a
   * representative — or it is a non-minimal member of a batch-only
   * component (keep-min, the semanticDedup rule). ONE implementation
   * serves the int8, IVF-SQ8, and hamming dedup-ingest loops (the r10
   * review's divergence warning): pairs are batch-bounded, CC runs on
   * probe-sized data, the drop list anti-joins back ids-only.
   */
  private[graft] def ingestPrunePolicy(newRows: DataFrame, stored: DataFrame,
                                       internal: DataFrame, idCol: String,
                                       broadcastDrop: Boolean): DataFrame = {
    val pairs = stored.unionByName(internal)
    val labels = connectedComponents(pairs, "id_a", "id_b")
    // when the caller declares the dup set broadcastable, the pair-id
    // and anchored-rep sets are broadcastable a fortiori (both are
    // bounded by the pair set) — say so EXPLICITLY instead of leaving
    // the planner to sort-merge statless checkpoint-backed frames
    // (r17 optimization round: the routed prune's static plan carried
    // 24 SortMergeJoins of probe-bounded sides; guide §3.1 "use an
    // explicit broadcast hint when you know a side is small")
    def maybeB(df: DataFrame): DataFrame =
      if (broadcastDrop) broadcast(df) else df
    val storedIds = stored.select(col("id_a").as("id")).distinct()
    val anchoredReps = labels.join(maybeB(storedIds), Seq("id"))
      .select(col("rep")).distinct().withColumn("_pp_anchored", lit(true))
    val drop = labels.join(maybeB(storedIds), Seq("id"), "left_anti")
      .join(maybeB(anchoredReps), Seq("rep"), "left")
      .filter(col("_pp_anchored") || col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    newRows.join(maybeB(drop), Seq(idCol), "left_anti")
  }

  // -------------------------------------- persisted video frame-hash index

  /**
   * Persist per-frame perceptual hashes as an append-only installment
   * index — the NINTH index family, lifting the one-shot
   * [[graft.multimodal.Multimodal.videoContainmentDups]] kernel to the
   * daily-ingest shape: hash the historical video corpus ONCE
   * ([[graft.multimodal.Multimodal.videoFrameHashes]]), then probe each
   * incoming batch's frame SETS against the stored sets for containment
   * without re-decoding (or re-hashing) a single stored frame. Where the
   * hamming index stores one hash per id, this family stores a hash per
   * (id, frame_idx) — the frame-SET structure containment needs.
   *
   * Layout under `path`, honoring the four appendable-index contracts:
   *  - `frames/installment=N/` — (id, frame_idx, h) rows; 20 B/row means
   *    a billion stored frames index in ~20 GB before compression.
   *  - `sizes/installment=N/`  — (id, n) DISTINCT-hash count per video,
   *    precomputed at write time so a probe never aggregates the corpus
   *    (id-addressed: the tombstone skip covers it, no deltas).
   *  - `dfs/installment=N/`    — (h, c) distinct-video count DELTAS per
   *    hash — the [[graft.multimodal.Multimodal.videoContainmentDups]]
   *    df guard resolved from summed deltas for only the hashes a batch
   *    touches (content-addressed: deletes write NEGATIVE deltas, the
   *    minhash sizes precedent).
   *  - `deletes/installment=M/` — the [[graft.store.Tombstones]] sidecar.
   *
   * The per-installment sizes/dfs are exact because appends carry NEW ids
   * only (the shared append contract): a video's frames live in exactly
   * one installment, so per-installment distinct counts sum to the global
   * ones.
   */
  def videoIndexBuild(frames: DataFrame, path: String,
                      idCol: String = "id", frameIdxCol: String = "frame_idx",
                      hashCol: String = "ahash"): Unit = {
    val spark = frames.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("frames", "sizes", "dfs").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).delete(p, true)
    }
    // rebuild = new generation: stale tombstones must not filter new rows
    graft.store.Tombstones.clear(spark, path)
    writeVideoInstallment(frames, path, 0, idCol, frameIdxCol, hashCol)
  }

  /** Fold a new batch of per-frame hashes in as the next installment —
    * batch ids must be NEW to the index (the shared append contract);
    * appends are sequential ([[videoIndexAppendAt]] for streams). */
  def videoIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                       newFrames: DataFrame, idCol: String = "id",
                       frameIdxCol: String = "frame_idx",
                       hashCol: String = "ahash"): Unit =
    writeVideoInstallment(newFrames, path,
      graft.store.Installments.next(spark, s"$path/frames"),
      idCol, frameIdxCol, hashCol)

  /** Append at an EXPLICIT installment — the replay-idempotent form for
    * at-least-once writers (the `*AppendAt` contract): all three tables
    * land at the same number, so a retry overwrites its own partitions. */
  def videoIndexAppendAt(spark: org.apache.spark.sql.SparkSession,
                         path: String, newFrames: DataFrame, installment: Int,
                         idCol: String = "id",
                         frameIdxCol: String = "frame_idx",
                         hashCol: String = "ahash"): Unit =
    writeVideoInstallment(newFrames, path, installment, idCol, frameIdxCol,
      hashCol)

  /** One installment's three tables — frames verbatim, per-video distinct
    * sizes, per-hash distinct-video dfs. Each stage reads the just-written
    * frames partition back (disk materialization, the minhash
    * writeInstallment shape — no memory persist, any batch size). */
  private def writeVideoInstallment(frames: DataFrame, path: String,
                                    installment: Int, idCol: String,
                                    frameIdxCol: String,
                                    hashCol: String): Unit = {
    val spark = frames.sparkSession
    frames.select(col(idCol).as("id"),
        col(frameIdxCol).cast("int").as("frame_idx"),
        guardedHash(hashCol).as("h"))
      .write.mode("overwrite").parquet(s"$path/frames/installment=$installment")
    val distinctIdHash = spark.read
      .parquet(s"$path/frames/installment=$installment")
      .select("id", "h").distinct()
    distinctIdHash.groupBy("id").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/sizes/installment=$installment")
    distinctIdHash.groupBy("h").agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$path/dfs/installment=$installment")
  }

  /** Tombstone videos out of the index — the delete half of the lifecycle:
    * one id-list append plus NEGATIVE per-hash df deltas derived from the
    * deleted videos' OWN stored frames (a map-side filtered read — delete
    * cost scales with the deleted videos, not the corpus), so the probe's
    * df guard stays exact without rewriting anything. The LIVE-ids
    * contract is SELF-ENFORCED (the bm25IndexDeleteAt guard): already-
    * tombstoned ids contribute nothing. Takedown semantics — probes drop
    * the ids immediately, snapshots included; [[videoIndexCompact]] folds
    * physically. Returns the deletes installment written. */
  def videoIndexDelete(spark: org.apache.spark.sql.SparkSession, path: String,
                       ids: DataFrame, idCol: String = "id"): Int =
    videoIndexDeleteAt(spark, path, ids, idCol,
      graft.store.Installments.next(spark, s"$path/dfs"),
      graft.store.Tombstones.nextInstallment(spark, path))

  /** [[videoIndexDelete]] at EXPLICIT installment numbers — the crash-safe
    * retry form (the `*DeleteAt` convention): a delete is TWO writes
    * (negative df deltas + the tombstone list); retrying at the SAME
    * numbers overwrites both partitions instead of double-subtracting. */
  def videoIndexDeleteAt(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame, idCol: String,
                         dfsInstallment: Int, deletesInstallment: Int): Int = {
    val live = graft.store.Tombstones.liveOnly(spark, path,
      ids.select(col(idCol).as("id")).distinct(), "id", deletesInstallment)
    spark.read.parquet(s"$path/frames")
      .join(broadcast(live), Seq("id"))
      .select("id", "h").distinct()
      .groupBy("h").agg((-count(lit(1))).as("c"))
      .write.mode("overwrite")
      .parquet(s"$path/dfs/installment=$dfsInstallment")
    graft.store.Tombstones.appendAt(spark, path, live, "id",
      deletesInstallment)
    deletesInstallment
  }

  /** Physical fold — frames/sizes/dfs rewritten without the tombstoned
    * videos to one `installment=0` partition each
    * ([[graft.store.Tombstones.fold]], [[graft.store.Installments.fold]]);
    * `deletes/` cleared LAST (crash-safe ordering: until then probes
    * still skip the tombstoned ids, and a re-run completes the job).
    * Returns the surviving video count. */
  def videoIndexCompact(spark: org.apache.spark.sql.SparkSession,
                        path: String): Long = {
    graft.store.Tombstones.fold(spark, path, "frames", "id")
    val live = spark.read.parquet(s"$path/frames")
      .select("id", "h").distinct()
    val videos = graft.store.Installments.fold(spark, s"$path/sizes",
      live.groupBy("id").agg(count(lit(1)).as("n")))
    graft.store.Installments.fold(spark, s"$path/dfs",
      live.groupBy("h").agg(count(lit(1)).as("c")))
    graft.store.Tombstones.clear(spark, path)
    videos
  }

  /**
   * Probe an incoming batch of per-frame hashes against the stored index:
   * (corpus_id, new_id, shared, containment) for every stored×batch video
   * pair whose frame-set containment |A ∩ B| / min(|A|, |B|) clears
   * `threshold` — the [[graft.multimodal.Multimodal.videoContainmentDups]]
   * clipped-copy detector, incremental: probing a daily batch costs the
   * batch's joins, never a corpus re-scan.
   *
   * Scale shape (the minhashIndexProbe discipline): the BATCH side
   * broadcasts — its distinct hashes into the stored frame scan (filtered
   * MAP-SIDE; the corpus-sized frames table is never shuffled by a
   * probe), the touched-hash list into the dfs delta sum, and the matched
   * pair ids into the sizes lookup. Hot hashes (stored df above
   * `maxDocFreq`, resolved by summing the stored per-installment deltas
   * for ONLY the touched hashes — black frames, test cards) are removed
   * from the BATCH side before the main join, so they can never fan out;
   * the guard uses the STORED df (the one-shot operator guards on the
   * combined corpus df — at probe time the stored corpus is the
   * boilerplate population that matters). Tombstoned videos never pair
   * (takedown semantics); `asOfInstallment` pins the stored side
   * (partition-pruned, valid between compactions). Exact at the threshold
   * for surviving hashes.
   */
  def videoContainmentProbe(spark: org.apache.spark.sql.SparkSession,
                            path: String, batch: DataFrame,
                            idCol: String = "id", hashCol: String = "ahash",
                            threshold: Double = 0.9,
                            maxDocFreq: Int = 1000,
                            asOfInstallment: Int = Int.MaxValue): DataFrame = {
    def snapshot(df: DataFrame): DataFrame =
      if (asOfInstallment == Int.MaxValue) df
      else df.filter(col("installment") <= asOfInstallment)
    val bSet = batch
      .select(col(idCol).as("new_id"), guardedHash(hashCol).as("h"))
      .distinct()
    val bSizes = bSet.groupBy("new_id").agg(count(lit(1)).as("_vp_nb"))
    // stored df of each touched hash = sum of its installment deltas
    // (appends positive, deletes negative) — map-side against the tiny
    // touched list, the minhash hot-bucket shape
    val touched = bSet.select("h").distinct()
    val hot = snapshot(spark.read.parquet(s"$path/dfs"))
      .join(broadcast(touched), Seq("h"))
      .groupBy("h").agg(sum("c").as("_vp_df"))
      .filter(col("_vp_df") > maxDocFreq)
      .select("h")
    val keptB = bSet.join(broadcast(hot), Seq("h"), "left_anti")
    val stored = graft.store.Tombstones.filter(spark, path,
      snapshot(spark.read.parquet(s"$path/frames")), "id")
    // matched rows are batch-bounded; the distinct collapses repeated
    // frames (a hash can recur across frame_idx) to set semantics
    val shared = stored
      .join(broadcast(keptB), Seq("h"))
      .select(col("id").as("corpus_id"), col("new_id"), col("h"))
      .distinct()
      .groupBy("corpus_id", "new_id").agg(count(lit(1)).as("shared"))
    // the pair aggregate (batch-bounded) broadcasts INTO the stored sizes
    // scan — sizes streams map-side like frames, never shuffles
    val sizes = snapshot(spark.read.parquet(s"$path/sizes"))
    sizes.select(col("id").as("corpus_id"), col("n").as("_vp_na"))
      .join(broadcast(shared), Seq("corpus_id"))
      .join(broadcast(bSizes), Seq("new_id"))
      .withColumn("containment", col("shared").cast("double") /
        least(col("_vp_na"), col("_vp_nb")))
      .filter(col("containment") >= threshold)
      .select(col("corpus_id"), col("new_id"), col("shared"),
        col("containment"))
  }

  /**
   * Frame-set containment pairs over an in-memory (id, hash) set table —
   * the kernel [[graft.multimodal.Multimodal.videoContainmentDups]] and
   * the batch-internal half of [[videoIndexPrune]] share: distinct sets,
   * df guard (a hash in more than `maxDocFreq` ids prunes before it fans
   * out), inverted equi-join on the hash, containment = shared /
   * min(|A|, |B|) at or above `threshold`, id_a < id_b. Exact at the
   * threshold for surviving hashes.
   */
  private[graft] def containmentPairsFromSets(sets: DataFrame,
                                              threshold: Double,
                                              maxDocFreq: Int): DataFrame = {
    val fh = sets.select(col("id"), col("h")).distinct()
    val sizes = fh.groupBy("id").agg(count(lit(1)).as("_vc_n"))
    val guarded = fh.join(
      fh.groupBy("h").agg(count(lit(1)).as("_vc_df"))
        .filter(col("_vc_df") <= maxDocFreq)
        .select("h"),
      Seq("h"), "left_semi")
    val a = guarded.select(col("id").as("id_a"), col("h"))
    val b = guarded.select(col("id").as("id_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("id_a"), col("_vc_n").as("_vc_na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("_vc_n").as("_vc_nb")), Seq("id_b"))
      .withColumn("containment", col("shared").cast("double") /
        least(col("_vc_na"), col("_vc_nb")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("containment"))
  }

  /**
   * Prune an incoming batch of per-frame hashes against the video index —
   * the one-call ingest-dedup last mile ([[hammingIndexPrune]] in
   * containment space): a batch VIDEO drops when its duplicate component
   * (stored×batch containment pairs from [[videoContainmentProbe]] ∪
   * batch-internal containment pairs at the same threshold) contains any
   * stored video, or it is a non-minimal member of a batch-only component
   * (keep-min — the shared [[ingestPrunePolicy]]). Survivors are the
   * batch's FRAME rows for the surviving video ids, schema preserved —
   * exactly what [[videoIndexAppend]] should fold in. Pairs are
   * batch-bounded; CC runs on the pair list; `asOfInstallment` pins the
   * probe (the dedup-ingest replay guard).
   */
  def videoIndexPrune(spark: org.apache.spark.sql.SparkSession, path: String,
                      batch: DataFrame, idCol: String = "id",
                      hashCol: String = "ahash",
                      threshold: Double = 0.9, maxDocFreq: Int = 1000,
                      broadcastDrop: Boolean = false,
                      asOfInstallment: Int = Int.MaxValue): DataFrame = {
    require(!batch.columns.exists(_.startsWith("_vc_")),
      "videoIndexPrune reserves internal column names starting with _vc_")
    val stored = videoContainmentProbe(spark, path, batch, idCol, hashCol,
      threshold, maxDocFreq, asOfInstallment)
      .select(col("corpus_id").as("id_a"), col("new_id").as("id_b"))
      .localCheckpoint()
    val internal = containmentPairsFromSets(
      batch.select(col(idCol).as("id"), guardedHash(hashCol).as("h")),
      threshold, maxDocFreq)
      .select(col("id_a"), col("id_b"))
    ingestPrunePolicy(batch, stored, internal, idCol, broadcastDrop)
  }

  // ------------------------------------- duplicate-cluster resolution (CC)

  /**
   * Connected components over an undirected pair list — the cluster-
   * resolution step after any pairwise near-dup join: pairs (a, b) become
   * labels (id, rep) where `rep` is the smallest id in the component, so
   * "keep rep, drop the rest" is a deterministic, transitive dedup policy
   * (a≈b and b≈c collapse into ONE cluster even when a and c were never
   * emitted as a pair). Only ids present in `pairs` appear in the output;
   * singletons are their own representative by definition.
   *
   * Algorithm: alternating large-star / small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC '14), converging
   * in O(log² n) rounds — 2-3 in practice for near-clique dup clusters,
   * ~log n for pathological chains. Each star op is formulated join-first:
   * a groupBy(min) plus an equi-join on the SAME key, so the aggregate and
   * the join share one hash exchange, and no `collect_set` ever
   * materializes a hub node's neighborhood as a single array — a 10M-edge
   * boilerplate cluster costs rows (AQE-splittable), not one aggregation
   * buffer.
   *
   * Each round is materialized eagerly to truncate lineage (an iterative
   * self-referencing plan re-expands exponentially on recompute): reliable
   * `checkpoint()` when the caller configured
   * `spark.sparkContext.setCheckpointDir` (do so on a real cluster — local
   * checkpoints die with an executor), `localCheckpoint()` otherwise.
   * Superseded rounds are unpersisted as soon as the next round is
   * materialized; the FINAL round's blocks back the returned frame and are
   * released by the ContextCleaner when the caller drops it — or
   * deterministically via [[release]].
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIterations: Int = 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined

    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()

    def largeStar(edges: DataFrame): DataFrame = {
      val nbrs = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // (v, m) for every neighbor v > u: canonical big→small by
      // construction since v > u >= m
      nbrs.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
    }

    def smallStar(edges: DataFrame): DataFrame = {
      // input canonical u > v, so min(v) IS min(N≤(u) ∪ {u})
      val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
      edges.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var edges = materialize(
      pairs.select(greatest(col(aCol), col(bCol)).as("u"),
          least(col(aCol), col(bCol)).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())

    // Star-forest test: with canonical u > v edges, the graph is a star
    // forest iff (a) every child u has exactly ONE parent edge and (b) no
    // node is both a child (u side) and a parent (v side). Both conditions
    // are required: {(3,1),(3,2)} satisfies (b) alone yet is no star —
    // node 3 has two parents, and labeling it would split one component
    // into two overlapping clusters. Testing starness directly terminates
    // at the EARLIEST star round — set-equality would pay one extra full
    // round just to confirm the fixpoint. (Cliques — the common near-dup
    // shape — star in ONE round; only chains need the log² schedule.)
    // One union + one aggregation + isEmpty — per-node child/parent tallies
    // in a single shuffle, no join (the driver loop pays per-JOB scheduling
    // latency every round, so the check's stage count matters as much as
    // its data volume).
    def isStarForest(df: DataFrame): Boolean =
      df.select(col("u").as("node"), lit(1L).as("asChild"))
        .unionByName(df.select(col("v").as("node"), lit(0L).as("asChild")))
        .groupBy("node")
        .agg(sum(col("asChild")).as("cu"), count(lit(1)).as("ct"))
        .filter(col("cu") > 1 || (col("cu") >= 1 && col("ct") > col("cu")))
        .isEmpty

    var iter = 0
    while (!isStarForest(edges) && iter < maxIterations) {
      val next = materialize(smallStar(largeStar(edges)))
      release(edges)
      edges = next
      iter += 1
    }
    if (iter >= maxIterations && !isStarForest(edges))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds")

    // fixpoint is a star forest: every u points at its component min, roots
    // appear only on the v side
    edges.select(col("u").as("id"), col("v").as("rep"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("rep")).distinct())
  }

  /**
   * Fold a NEW batch of near-dup pairs into an existing (id, rep)
   * labeling without reclustering history — the maintenance step after
   * an incremental-index probe surfaces fresh pairs: a stored label is
   * itself an edge (id — rep), and a star forest preserves connectivity
   * exactly, so CC over (labels ∪ new pairs) equals CC over (historical
   * pairs ∪ new pairs). The input is already mostly starred, so the
   * star rounds converge in 1–2 iterations; maintenance cost tracks the
   * label/batch size, never the historical PAIR count (which the labels
   * compress away). Merging clusters relabel correctly: the new rep is
   * the min id across every merged component.
   */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
                                     aCol: String, bCol: String,
                                     maxIterations: Int = 20): DataFrame =
    connectedComponents(
      labels.select(col("id").as(aCol), col("rep").as(bCol))
        .unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIterations)

  /** Duplicate clusters from a pair list: one row per component with the
    * representative (min id), member count, and the sorted member list. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"),
        array_join(transform(array_sort(collect_list(col("id"))),
          x => x.cast("string")), ",").as("members"))

  /** Free the materialized blocks backing a frame returned by
    * [[connectedComponents]] (no-op for reliably-checkpointed or
    * non-checkpointed frames — those hold no executor blocks). */
  def release(df: DataFrame): Unit = df.queryExecution.logical.collectLeaves().foreach {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      if (lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Deterministic pseudo-random hyperplane matrix (planes × dims),
    * components in (-1, 1) derived from mix64 — reproducible across runs
    * and executors with no RNG state shipped. */
  def hyperplanes(dims: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dims) { d =>
        (mix64(p.toLong * 1000003L + d) % 1000000L).toDouble / 1000000.0
      }
    }

  /** Sign bits of a float-vector column against `planes` deterministic
    * hyperplanes. The plane matrix is built once driver-side and shipped in
    * the UDF closure — the round-1 HOF version re-derived every component
    * per row via interpreted xxhash64 and dominated emb_near_dups. */
  def signBitsUdf(dims: Int, planes: Int): UserDefinedFunction = {
    val hp = hyperplanes(dims, planes)
    udf { (v: Seq[Float]) =>
      val out = new Array[Int](planes)
      if (v != null) {
        val n = math.min(v.length, dims)
        var p = 0
        while (p < planes) {
          val row = hp(p)
          var s = 0.0
          var d = 0
          while (d < n) { s += v(d) * row(d); d += 1 }
          out(p) = if (s >= 0) 1 else 0
          p += 1
        }
      }
      out
    }
  }

}
