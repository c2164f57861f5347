package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

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

  /** Max distinct candidate ids a [[minhashIndexProbe]] collects to the
    * driver to push into the stored-sets scan as a filter (the
    * row-group-skipping fast path); above this the verify step falls
    * back to the plain join. 16k string ids ≈ a few MB on the driver. */
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
  def shinglesUdf(k: Int): UserDefinedFunction = udf { (text: String) =>
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
    val meta = spark.read.parquet(s"$path/meta").head()
    val (shingleK, numHashes, bands) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
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
    val meta = spark.read.parquet(s"$path/meta").head()
    writeInstallment(newDf, textCol, idCol, path, installment,
      meta.getInt(0), meta.getInt(1), meta.getInt(2))
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
  def nextMinhashInstallment(spark: org.apache.spark.sql.SparkSession,
                             path: String): Int =
    math.max(graft.store.Installments.next(spark, s"$path/sizes"),
      graft.store.Installments.next(spark, s"$path/sets"))

  /**
   * Tombstone documents out of a [[minhashIndexBuild]] index — the delete
   * half of the installment lifecycle ([[graft.store.Tombstones]]): one
   * id-list append plus NEGATIVE per-bucket size deltas written as the
   * next `sizes/` installment, so probe-time bucket sums (and the
   * hot-bucket guard) stay exact without rewriting anything. Probes drop
   * tombstoned rows via a broadcast anti-join on the stored bands —
   * takedown semantics: the set applies to asOf snapshot reads too, and
   * a snapshot pinned BEFORE the delete's sizes installment sees
   * post-delete membership with pre-delete sizes (out of contract, the
   * same caveat as snapshots across a compaction).
   *
   * The LIVE-ids contract is SELF-ENFORCED (r11): ids already tombstoned
   * in an earlier installment are anti-joined away before the deltas are
   * derived, so a double-delete nets zero size deltas instead of
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
   * bands, each table folded to ONE `installment=0` partition behind the
   * atomic side-dir swap; clear `deletes/` last. Crash-safe by ordering:
   * until the final clear, probes still anti-join the tombstones, so a
   * partially-folded index reads exactly like an unfolded one, and
   * re-running the vacuum completes it. asOf snapshots are only
   * meaningful between vacuums (the installment history folds away — the
   * shared contract). Returns the surviving document count.
   */
  def minhashIndexVacuum(spark: org.apache.spark.sql.SparkSession,
                         path: String): Long = {
    import org.apache.hadoop.fs.Path
    def swap(dir: String, folded: DataFrame): Long = {
      val out = new Path(s"$path/$dir")
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(s"$path/$dir._compacting")
      folded.write.mode("overwrite")
        .parquet(new Path(tmp, "installment=0").toString)
      val rows = spark.read.parquet(tmp.toString).count()
      if (!fs.delete(out, true) || !fs.rename(tmp, out))
        throw new java.io.IOException(s"vacuum swap failed for $path/$dir")
      spark.catalog.refreshByPath(out.toString)
      rows
    }
    swap("sets", graft.store.Tombstones.filter(spark, path,
      spark.read.parquet(s"$path/sets").drop("installment"), "id"))
    // sets/ is exploded — the surviving DOC count is distinct ids
    val docs = spark.read.parquet(s"$path/sets")
      .select("id").distinct().count()
    swap("bands", graft.store.Tombstones.filter(spark, path,
      spark.read.parquet(s"$path/bands").drop("installment"), "id"))
    swap("sizes", spark.read.parquet(s"$path/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("cnt")))
    graft.store.Tombstones.clear(spark, path)
    docs
  }

  /**
   * Index maintenance — the periodic job the append-only contract
   * promises (same shape as EventStreams.compactAndRewrite): fold every
   * per-installment size delta into ONE `installment=0` partition, so a
   * probed bucket resolves from one delta row again no matter how many
   * appends have landed. The rewrite materializes fully in a side dir
   * before a delete+rename swap — a concurrent probe sees either the old
   * or the new sizes table, and both sum to identical totals (HDFS/posix
   * renames are atomic; on an object store run this in a maintenance
   * window or layer on a table format with atomic commits).
   *
   * `bands/` and `sets/` are left untouched: their rows are already
   * minimal and installment-invariant — compacting them would be a full
   * rewrite for no read-path gain (parquet scans all installments at full
   * speed; if an aggressive append cadence produces tiny FILES, that is
   * ordinary small-file compaction, orthogonal to this job). Returns the
   * number of distinct buckets in the compacted table.
   */
  def minhashIndexCompactSizes(spark: org.apache.spark.sql.SparkSession,
                               path: String): Long = {
    import org.apache.hadoop.fs.Path
    val sizesPath = s"$path/sizes"
    val compacted = spark.read.parquet(sizesPath)
      .groupBy("band", "bucket").agg(sum("cnt").as("cnt"))
    val out = new Path(sizesPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(sizesPath + "._compacting")
    // overwrite: a crashed prior compaction leaves only this side dir
    compacted.write.mode("overwrite")
      .parquet(new Path(tmp, "installment=0").toString)
    val rows = spark.read.parquet(tmp.toString).count()
    if (!fs.delete(out, true) || !fs.rename(tmp, out))
      throw new java.io.IOException(s"sizes swap failed for $sizesPath")
    spark.catalog.refreshByPath(sizesPath)
    rows
  }

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
   *
   * Scale shape: the BATCH side broadcasts (bands, then candidate pairs,
   * then batch shingle sets) — the stored index is only ever read
   * map-side, never shuffled; the only exchanges are the candidate-pair
   * distinct and the candidate-bounded regroup of the (exploded) stored
   * shingle rows that survive the pair join. Degenerate buckets (boilerplate shingles shared by more
   * than `maxBucketSize` stored docs — they cannot identify near-dups
   * and would fan the probe out quadratically) are skipped by summing
   * the stored per-installment size deltas for ONLY the buckets the
   * batch touches, then removing those buckets from the BATCH side of
   * the main join: stored rows in a hot bucket simply never match, no
   * stored-side filter or shuffle needed.
   *
   * The broadcast contract assumes a batch small enough to ship to every
   * executor (the daily-increment shape). For a batch that is itself
   * corpus-sized, `broadcastBatch = false` degrades every probe join to
   * a hash-partitioned shuffle on both sides — identical output, no
   * driver OOM. [[graft.pipeline.Crawl.ingestBatch]] picks the regime
   * from the batch's measured text bytes.
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
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                        newDf: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.8,
                        maxBucketSize: Int = 1000,
                        broadcastBatch: Boolean = true,
                        asOfInstallment: Int = Int.MaxValue): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (shingleK, numHashes, bands) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val rowsPerBand = numHashes / bands
    def batchSide(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df
    def snapshot(df: DataFrame): DataFrame =
      if (asOfInstallment == Int.MaxValue) df
      else df.filter(col("installment") <= asOfInstallment)

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
    // the sizes table streams map-side through the touched-bucket join,
    // and only (band, bucket, cnt) triples for touched buckets reach the
    // aggregate exchange.
    val touched = newBanded.select("band", "bucket").distinct()
    val hot = snapshot(spark.read.parquet(s"$path/sizes"))
      .join(batchSide(touched), Seq("band", "bucket"))
      .groupBy("band", "bucket").agg(sum("cnt").as("n"))
      .filter(col("n") > maxBucketSize)
      .select("band", "bucket")
    val keptBanded = newBanded.join(batchSide(hot), Seq("band", "bucket"), "left_anti")

    // tombstoned docs can no longer pair (takedown semantics — applies to
    // snapshots too); sets/ needs no filter: pairs gate the sets join on
    // id, so a deleted doc's shingle row never matches. The sizes sums
    // already carry the delete's negative deltas.
    val stored = graft.store.Tombstones.filter(spark, path,
      snapshot(spark.read.parquet(s"$path/bands")), "id")
    val pairs = stored
      .join(batchSide(keptBanded), Seq("band", "bucket"))
      // string-compare: stored and batch id TYPES may differ (a
      // long-keyed corpus probed by URL-keyed batches); Spark's implicit
      // long<->string coercion would throw on non-numeric ids
      .filter(col("id").cast("string") =!= col("new_id").cast("string"))
      .select(col("id"), col("new_id"))
      .distinct()
      .localCheckpoint() // candidate-bounded; feeds the id collect + join

    // Candidate-id pushdown: the stored shingle table grows with the
    // CORPUS while candidates are bounded by the batch, so a full sets/
    // scan per probe is the one stored-side cost that scales the wrong
    // way (a billion-doc corpus is ~10^12 shingle rows; candidates are
    // ~batch-sized). When the candidate set is driver-sized, push the
    // ids into the scan as a filter — sets/ files are range-clustered by
    // id at write, so parquet row-group min/max skip everything outside
    // the candidates' id range (Spark pushes the In's [min,max] range
    // once it exceeds the parquet in-filter threshold). Above the cap,
    // fall back to the plain join — identical output.
    val candIds = pairs.select("id").distinct()
      .limit(ProbePushdownMaxCandidates + 1).collect().map(_.get(0))
    val storedSetsAll = snapshot(spark.read.parquet(s"$path/sets"))
    val storedSets =
      if (candIds.length <= ProbePushdownMaxCandidates)
        storedSetsAll.filter(col("id").isin(candIds.toIndexedSeq: _*))
      else storedSetsAll

    // sets/ is exploded (one row per stored shingle — see the layout
    // doc); the broadcast pair join keeps it map-side and candidate-only,
    // then collect_list regroups ONLY the candidate docs' shingles (a
    // candidate-bounded exchange, never the stored corpus). Regroup keys
    // include the installment: an id re-appended with DIFFERENT content
    // legitimately exists in several installments, and pooling the
    // versions' shingles into one union dilutes the Jaccard below
    // threshold where each version alone would verify — each version
    // scores separately and the best match decides.
    storedSets
      .join(batchSide(pairs), "id")
      .groupBy("id", "installment", "new_id")
      .agg(collect_list(col("sh")).as("sh"))
      .join(batchSide(newShingled), "new_id")
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
    * the shared compaction contract (atomic side-dir swap; clear LAST).
    * Returns the surviving hash-row count. */
  def hammingIndexCompact(spark: org.apache.spark.sql.SparkSession,
                          path: String): Long = {
    import org.apache.hadoop.fs.Path
    val hPath = s"$path/hashes"
    val out = new Path(hPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(hPath + "._compacting")
    graft.store.Tombstones.filter(spark, path,
        spark.read.parquet(hPath).drop("installment"), "id")
      .write.mode("overwrite")
      .parquet(new Path(tmp, "installment=0").toString)
    val rows = spark.read.parquet(tmp.toString).count()
    if (!fs.delete(out, true) || !fs.rename(tmp, out))
      throw new java.io.IOException(s"compaction swap failed for $hPath")
    spark.catalog.refreshByPath(hPath)
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
   *    (id-addressed: the tombstone anti-join covers it, no deltas).
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
    * videos to one `installment=0` partition each behind the atomic
    * side-dir swap; `deletes/` cleared LAST (crash-safe ordering: until
    * then probes still anti-join, and a re-run completes the job).
    * Returns the surviving video count. */
  def videoIndexCompact(spark: org.apache.spark.sql.SparkSession,
                        path: String): Long = {
    import org.apache.hadoop.fs.Path
    def swap(dir: String, folded: DataFrame): Long = {
      val out = new Path(s"$path/$dir")
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(s"$path/$dir._compacting")
      folded.write.mode("overwrite")
        .parquet(new Path(tmp, "installment=0").toString)
      val rows = spark.read.parquet(tmp.toString).count()
      if (!fs.delete(out, true) || !fs.rename(tmp, out))
        throw new java.io.IOException(s"compaction swap failed for $path/$dir")
      spark.catalog.refreshByPath(out.toString)
      rows
    }
    swap("frames", graft.store.Tombstones.filter(spark, path,
      spark.read.parquet(s"$path/frames").drop("installment"), "id"))
    val live = spark.read.parquet(s"$path/frames")
      .select("id", "h").distinct()
    val videos = swap("sizes", live.groupBy("id").agg(count(lit(1)).as("n")))
    swap("dfs", live.groupBy("h").agg(count(lit(1)).as("c")))
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
