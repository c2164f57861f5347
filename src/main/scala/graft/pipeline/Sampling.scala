package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling / corpus mixing for training-data pipelines.
 *
 * Everything here is RNG-free: membership is a pure function of the row key
 * via a Knuth multiplicative hash over the low 32 bits. That buys three
 * properties `df.sample`/`sampleBy` cannot give at 100 TB:
 *
 *  - reproducible across engines (the same arithmetic runs in DuckDB SQL,
 *    so sampled outputs are oracle-checkable row-for-row),
 *  - reproducible across retries/partitionings (no per-partition RNG state —
 *    a recomputed task samples identical rows, so downstream caches and
 *    shuffle retries stay consistent),
 *  - composable: train/val splits are complements by construction; mixing
 *    weights can be re-tuned without re-shuffling anything (pure map, the
 *    filter fuses into the scan).
 *
 * The hash: h(k) = (((k mod 2^31) * 2654435761) mod 2^32) / 2^32 ∈ [0,1),
 * Knuth's golden-ratio multiplier over the 31-bit-folded key — well-
 * distributed on sequential ids, and exact in BIGINT arithmetic for ANY
 * 64-bit key: the fold keeps the product < 2^63, so no engine ever
 * overflows (Spark would wrap silently, DuckDB would raise — either way
 * the cross-engine row-for-row guarantee would break exactly when ids
 * grow past 32 bits; folding INSIDE the hash makes that impossible).
 */
object Sampling {

  private val KnuthMult = 2654435761L
  private val Mod32 = 4294967296L  // 2^32
  private val Fold31 = 2147483648L // 2^31

  /** h(key) scaled to [0, 2^32): the sampling coordinate. The key is
    * pre-folded to 31 bits inside the hash (pmod, so negative keys fold
    * non-negative too): (2^31-1) * 2654435761 < 2^63, overflow-free for
    * any Long key in any BIGINT engine. SQL mirror:
    * `((key % 2147483648) * 2654435761) % 4294967296` (non-negative keys). */
  def hashCoord(key: Column): Column =
    pmod(pmod(key, lit(Fold31)) * lit(KnuthMult), lit(Mod32))

  /** Keep rows whose hash coordinate falls below `fraction` — a
    * deterministic Bernoulli sample. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(hashCoord(col(keyCol)) < lit((fraction * Mod32).toLong))

  /**
   * Weighted corpus mixing: per-stratum sampling fractions (e.g. language →
   * weight), one declarative filter — `when` chains on the stratum column,
   * so the whole mix is a single scan with the predicate pushed down; no
   * shuffle, no RNG, no driver loop. Strata absent from `weights` are
   * dropped (weight 0). Above [[WhenChainMaxStrata]] strata the chain
   * switches to a broadcast equi-join on the threshold table (same rows
   * kept — see [[mixThresholds]]).
   */
  def mixByWeights(df: DataFrame, stratumCol: String, keyCol: String,
                   weights: Map[String, Double]): DataFrame =
    mixThresholds(df, stratumCol, keyCol,
      weights.map { case (s, w) => s -> (w * Mod32).toLong })

  /**
   * Deterministic train/validation split: complement partitions of the same
   * hash coordinate, so union(train, val) == corpus and train ∩ val == ∅ by
   * construction — across any retry, partitioning, or engine.
   */
  def trainValSplit(df: DataFrame, keyCol: String,
                    valFraction: Double): (DataFrame, DataFrame) = {
    val cut = lit((valFraction * Mod32).toLong)
    (df.filter(hashCoord(col(keyCol)) >= cut),
      df.filter(hashCoord(col(keyCol)) < cut))
  }

  /**
   * Leakage-safe train/validation split: near-duplicate documents must
   * land in the SAME split — a near-copy of a training document inside the
   * validation set leaks the answer, the exact contamination effect Lee et
   * al. 2021 measure — so the split coordinate is the document's
   * dup-CLUSTER representative, not the document itself. `pairs` is any
   * near-dup pair list (minhash / simhash / embedding / index-probe
   * output); clusters resolve via the star-contraction
   * [[graft.dedup.Dedup.connectedComponents]], and documents absent from
   * `pairs` are their own representative (singletons split exactly like
   * [[trainValSplit]]).
   *
   * Output: the input rows plus (rep, split ∈ {train, val}). Same-cluster
   * → same-rep → same-coordinate: the invariant holds by construction,
   * deterministically on any engine or retry.
   *
   * Scale shape: CC runs on the PAIR list (≪ corpus); the labels frame is
   * cluster-membership-sized and broadcasts into the corpus join; the
   * split predicate itself is the scan-fused
   * hash-coordinate filter, zero additional exchange.
   */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                      aCol: String, bCol: String,
                      valFraction: Double): DataFrame = {
    Seq("rep", "split", "_ls_id", "_ls_rep").foreach { r =>
      require(!df.columns.contains(r),
        s"leakageSafeSplit reserves the column name $r")
    }
    val labels = graft.dedup.Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("_ls_id"), col("rep").as("_ls_rep"))
    val cut = lit((valFraction * Mod32).toLong)
    df.join(broadcast(labels), col(idCol) === col("_ls_id"), "left")
      .withColumn("rep", coalesce(col("_ls_rep"), col(idCol)))
      .withColumn("split",
        when(hashCoord(col("rep")) < cut, lit("val")).otherwise(lit("train")))
      .drop("_ls_id", "_ls_rep")
  }

  /**
   * Temperature-balanced corpus mix at α = 0.5 — the standard
   * multinomial-temperature reweighting of pretraining mixtures
   * (stratum sampling probability ∝ n_s^α flattens the head and
   * upsamples the tail), restricted to the one exponent whose power
   * function is CORRECTLY ROUNDED IEEE: sqrt. A general `pow(n, α)` is
   * library-dependent in its low bits, which would silently break the
   * engine's cross-engine row-for-row sampling contract; α = 0.5 keeps
   * every step reproducible on any engine.
   *
   * Per stratum s: p_s = sd_s / Σ sd_t with sd_s = sqrt(n_s) quantized
   * to DECIMAL(28,10) (the decimal sum is exact, so summation order
   * cannot matter), keep fraction f_s = min(1, target·p_s / n_s), and
   * membership is the usual hash-coordinate filter — deterministic,
   * RNG-free, oracle-checkable row-for-row.
   *
   * The stratum count table collects driver-side (≤ #strata rows — the
   * routing-table pattern); the sample itself is one scan-fused filter,
   * zero shuffle. The realized size concentrates tightly around
   * Σ floor-weighted expectations, it is not exactly `targetRows` (the
   * same Bernoulli contract as [[hashSample]]; use quota sampling for
   * exact per-stratum counts).
   */
  def temperatureMixSqrt(df: DataFrame, stratumCol: String, keyCol: String,
                         targetRows: Long): DataFrame = {
    require(targetRows >= 0, "targetRows must be non-negative")
    // strata are stringified (an int language id is as natural a stratum
    // as a code string); the comparison side casts identically, so the
    // match is exact for any atomic stratum type. NULL strata take no
    // share of the target and are dropped — the mixThresholds null
    // contract, decided here by excluding them from the count table.
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .collect().flatMap { r =>
        Option(r.get(0)).map(v => String.valueOf(v) -> r.getLong(1))
      }.sortBy(_._1)
    val sds = counts.map { case (s, n) =>
      (s, n, BigDecimal(math.sqrt(n.toDouble))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP))
    }
    val totD = sds.map(_._3).sum.toDouble
    val thresholds = sds.map { case (s, n, sd) =>
      val p = sd.toDouble / totD
      val f = math.min(1.0, targetRows * p / n.toDouble)
      s -> math.floor(f * Mod32.toDouble).toLong
    }.toMap
    mixThresholds(df, stratumCol, keyCol, thresholds)
  }

  /** Strata-count cutoff for the literal `when`-chain form of
    * [[mixThresholds]]: each stratum adds a CaseWhen branch, and past a
    * few hundred the expression tree blows codegen's method-size limits
    * (whole-stage falls back to interpreted CaseWhen — linear scan over
    * the branches PER ROW) and analyzer time grows quadratically. */
  private[pipeline] val WhenChainMaxStrata = 512

  /** The mixByWeights filter body over PRE-COMPUTED per-stratum
    * coordinate thresholds (strata absent from the map are dropped;
    * a null stratum matches nothing and is dropped on both paths).
    *
    * Two plans, one contract: up to [[WhenChainMaxStrata]] strata, a
    * literal `when` chain — pure scan-fused projection, zero exchange.
    * Above that, the thresholds ride a BROADCAST equi-join (the
    * routing-table pattern used by the IVF probe paths): the big side
    * still never shuffles, the filter runs on the joined threshold
    * column, and the inner join drops absent strata exactly like the
    * chain's otherwise(0). */
  private def mixThresholds(df: DataFrame, stratumCol: String, keyCol: String,
                            thresholds: Map[String, Long]): DataFrame = {
    // match on the STRINGIFIED stratum (cast is a no-op on string columns)
    // so int/date strata compare against their String.valueOf key exactly;
    // a null stratum casts to null, matches nothing, and drops on both
    // paths — the operator-level null contract
    val stratum = col(stratumCol).cast("string")
    if (thresholds.size <= WhenChainMaxStrata) {
      val threshold = thresholds.foldLeft(lit(0L)) { case (acc, (s, t)) =>
        when(stratum === s, lit(t)).otherwise(acc)
      }
      df.filter(hashCoord(col(keyCol)) < threshold)
    } else {
      Seq("_mix_threshold", "_mix_stratum").foreach { r =>
        require(!df.columns.contains(r),
          s"mixThresholds reserves the internal column name $r")
      }
      val spark = df.sparkSession
      import spark.implicits._
      val lookup = broadcast(
        thresholds.toSeq.toDF("_mix_stratum", "_mix_threshold"))
      df.join(lookup, stratum === col("_mix_stratum"))
        .filter(hashCoord(col(keyCol)) < col("_mix_threshold"))
        .select(df.columns.map(col).toSeq: _*)
    }
  }

  /** Salted coordinate for per-draw variation: the key pre-folds to 31
    * bits, then shifts by `salt * KnuthMult` BEFORE the hash — every
    * intermediate stays < 2^63 for any Long key and salt ≤ 2^31, so the
    * overflow-free cross-engine contract of [[hashCoord]] survives the
    * salt. SQL mirror (non-negative keys):
    * `((((key % 2147483648) + salt*2654435761) % 2147483648)
    *    * 2654435761) % 4294967296`. */
  def hashCoordSalted(key: Column, salt: Column): Column =
    hashCoord(pmod(key, lit(Fold31)) + salt * lit(KnuthMult))

  /**
   * Deterministic negative sampling for contrastive training data: for
   * every row, `k` pseudo-random partner rows drawn from the corpus,
   * excluding self by construction — partner(rank, j) = (rank + 1 +
   * h_j(key) mod (N-1)) mod N over the key-sorted 0-based rank, so the
   * offset is always in [1, N-1]. RNG-free: the same (id, j) yields the
   * same partner on any engine, retry, or partitioning.
   *
   * Scale shape: ranks come from the range-partitioned two-phase rank
   * (graft.store.Ranks — no global window); N rides a broadcast 1-row
   * aggregate (no driver action); the only exchange is the equi-join of
   * partner_rank against rank, hash-partitioned on the rank value.
   * Optionally `excludePairs` (e.g. known near-duplicates) are removed
   * AFTER generation by an anti-join on both orientations — rows may
   * then carry fewer than `k` negatives; draw with a larger `k` and cap
   * downstream when exact counts matter.
   *
   * Requires N ≥ 2 (a 1-row corpus has no valid negative; the modulus
   * N-1 would be zero).
   */
  def negativePairs(df: DataFrame, keyCol: String, k: Int,
                    excludePairs: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k must be at least 1")
    Seq("_np_rank", "_np_j", "_np_n").foreach { r =>
      require(!df.columns.contains(r),
        s"negativePairs reserves the internal column name $r")
    }
    require(keyCol != "draw" && keyCol != "neg_id",
      "negativePairs emits 'draw' and 'neg_id' — rename the key column")
    val keyed = df.select(col(keyCol))
    val ranked = graft.store.Ranks.withOrderedIndex(keyed, keyCol, "_np_rank")
    val n1 = broadcast(keyed.agg(count(lit(1)).as("_np_n")))
    // fail fast at N < 2 instead of letting pmod(x, 0) null out and
    // silently vanish every row (the modulus N−1 needs N ≥ 2); the guard
    // rides the same broadcast 1-row aggregate — no extra driver action
    val modulus = when(col("_np_n") >= 2, col("_np_n") - 1)
      .otherwise(raise_error(
        lit("negativePairs requires at least 2 rows (no valid negative exists)")))
    val drawn = ranked.crossJoin(n1)
      .select(col(keyCol), col("_np_rank"), col("_np_n"),
        explode(sequence(lit(1), lit(k))).as("_np_j"))
      .select(col(keyCol), col("_np_j"),
        pmod(col("_np_rank") + lit(1) +
          pmod(hashCoordSalted(col(keyCol), col("_np_j")), modulus),
          col("_np_n")).as("_np_prank"))
    val partners = ranked.select(col("_np_rank").as("_np_prank"),
      col(keyCol).as("neg_id"))
    val pairs = drawn.join(partners, "_np_prank")
      .select(col(keyCol), col("_np_j").as("draw"), col("neg_id"))
    excludePairs match {
      case None => pairs
      case Some(ex) =>
        val fwd = ex.select(col(ex.columns(0)).as(keyCol),
          col(ex.columns(1)).as("neg_id"))
        val rev = ex.select(col(ex.columns(1)).as(keyCol),
          col(ex.columns(0)).as("neg_id"))
        pairs.join(fwd.unionByName(rev).distinct(),
          Seq(keyCol, "neg_id"), "left_anti")
          .select(col(keyCol), col("draw"), col("neg_id"))
    }
  }

  /**
   * Exact probability-proportional-to-size sampling via systematic
   * (every-`stride`-units) selection over the cumulative weight line —
   * the classic PPS design (Madow 1949), made deterministic and
   * engine-portable by using INTEGER weights end-to-end. Rows ordered
   * by `keyCol` occupy disjoint intervals [S, S+w) of the weight line
   * (S = exclusive running sum); a row is selected iff its interval
   * contains a sample point `phase + k·stride`. Long documents are
   * proportionally more likely to be kept — and a row with w ≥ stride
   * is ALWAYS kept — while the realized sample size is fixed at
   * ⌈(totalW − phase) / stride⌉ points, not Bernoulli-variable.
   *
   * Everything is exact 64-bit integer arithmetic (no RNG, no doubles):
   * the same rows are selected on any engine, retry, or partitioning,
   * and the oracle replays the selection with a SQL window cumsum.
   * Overflow-free while total weight < 2^63 − stride (a 100 TB corpus'
   * token total is ~2^47). Negative weights clamp to 0 BEFORE the
   * running sum (so a bad row can never shift its successors'
   * intervals); zero-weight rows are never selected.
   *
   * Scale shape: range-partition by key + per-partition running sums
   * offset by partition totals ([[org.apache.spark.sql.graft.RowBridge
   * .zipWithGlobalCumSum]]) — the two jobs share one shuffle; never a
   * global single-task window. The selection filter is a pure integer
   * projection. Keys must be unique (the interval layout needs a total
   * order).
   */
  def systematicWeightedSample(df: DataFrame, keyCol: String,
                               weightCol: String, stride: Long,
                               phase: Long = 0L): DataFrame = {
    require(stride >= 1, "stride must be at least 1")
    require(phase >= 0 && phase < stride, "phase must be in [0, stride)")
    val reserved = df.columns.filter(_.startsWith("_sws_"))
    require(reserved.isEmpty,
      s"systematicWeightedSample reserves _sws_*, found: ${reserved.mkString(", ")}")
    val clamped = df.withColumn("_sws_w",
      greatest(col(weightCol).cast("long"), lit(0L)))
    val parted = clamped
      .repartitionByRange(col(keyCol))
      .sortWithinPartitions(keyCol)
    val cum = org.apache.spark.sql.graft.RowBridge
      .zipWithGlobalCumSum(parted, "_sws_w", "_sws_cum")
    // interval [S, S+w) contains a point phase + k·stride iff the
    // point count below its end exceeds the count below its start;
    // `+ stride` keeps both numerators non-negative (phase < stride),
    // so `div` (truncating) and floor division agree on both engines
    cum
      .withColumn("_sws_hi",
        col("_sws_cum") + col("_sws_w") - lit(1) - lit(phase) + lit(stride))
      .withColumn("_sws_lo",
        col("_sws_cum") - lit(1) - lit(phase) + lit(stride))
      .filter(expr(s"_sws_hi div ${stride}L > _sws_lo div ${stride}L"))
      .drop("_sws_w", "_sws_cum", "_sws_hi", "_sws_lo")
  }

  /**
   * Token-budget selection — the "take documents until N tokens" form of
   * corpus mixing. Real training mixes are specified in TOKENS per source
   * ("50 B tokens of web, 5 B of code"), not in document counts
   * ([[graft.functions.TopK quota sampling]]) or fractions
   * ([[mixByWeights]]); this is the primitive that realizes such a spec.
   * Within each stratum, documents are taken in hash-coordinate order
   * (deterministic uniform priority, tie-broken by key — pre-sort `df`'s
   * key by quality rank upstream for priority-ordered selection) and a
   * document is kept iff its stratum-local INCLUSIVE running token sum
   * stays ≤ the stratum's budget: the selection never overshoots, and a
   * document that would cross the line is skipped along with everything
   * after it (document granularity — [[Packing]] handles sub-document
   * splitting). Strata absent from `budgets` are dropped, mirroring
   * [[mixByWeights]]'s weight-0 convention. Negative token counts clamp
   * to 0 before summing, so a corrupt row can never un-select its
   * successors by dragging the running sum down.
   *
   * Scale shape: ONE range shuffle on (stratum, coord, key) feeding the
   * shared-shuffle global running sum ([[org.apache.spark.sql.graft
   * .RowBridge.zipWithGlobalCumSum]] — the totals job and the output job
   * observe the same physical partitioning); the stratum-LOCAL sum is
   * recovered by subtracting each stratum's first-row offset, a
   * strata-sized `min` aggregate broadcast back. Never a per-stratum
   * window: a hot stratum (one language is routinely 80 % of a web
   * corpus) spreads across the whole cluster instead of funneling
   * through one task. All arithmetic is exact 64-bit integer, so the
   * same rows are selected on any engine/retry/partitioning and a SQL
   * window cumsum replays the selection row-for-row.
   */
  def tokenBudgetSelect(df: DataFrame, stratumCol: String, keyCol: String,
                        tokensCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    budgets.foreach { case (s, b) =>
      require(b >= 0L, s"budget for stratum '$s' must be non-negative, got $b")
    }
    requireNoTbs(df)
    val spark = df.sparkSession
    import spark.implicits._
    val budgetDf = budgets.toSeq.sortBy(_._1).toDF(stratumCol, "_tbs_budget")
    val budgeted = df
      .join(broadcast(budgetDf), Seq(stratumCol)) // unbudgeted strata drop
    stratumLocalCumSum(budgeted, stratumCol, keyCol, tokensCol)
      .filter(col("_tbs_gcum") - col("_tbs_off") + col("_tbs_tok") <=
        col("_tbs_budget"))
      .drop("_tbs_budget", "_tbs_tok", "_tbs_coord", "_tbs_gcum", "_tbs_off")
  }

  /**
   * Uniform per-stratum token cap — [[tokenBudgetSelect]] with ONE budget
   * applied to every stratum, for cardinalities where a budget map cannot
   * exist: "at most N tokens per HOST" over millions of hosts (the
   * token-granular form of [[UrlFilter.capPerHost]]'s doc-count cap —
   * the guard against one boilerplate-heavy host dominating a mix
   * measured the way mixes are actually measured, in tokens). Same
   * selection rule: per stratum, docs in (hash-coord, key) order keep
   * while the inclusive running token sum stays ≤ `budget`; no stratum
   * is dropped.
   */
  def tokenBudgetCap(df: DataFrame, stratumCol: String, keyCol: String,
                     tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be non-negative, got $budget")
    requireNoTbs(df)
    stratumLocalCumSum(df, stratumCol, keyCol, tokensCol)
      .filter(col("_tbs_gcum") - col("_tbs_off") + col("_tbs_tok") <=
        lit(budget))
      .drop("_tbs_tok", "_tbs_coord", "_tbs_gcum", "_tbs_off")
  }

  /**
   * Score-percentile selection — "keep the best X % per stratum" (the
   * FineWeb-Edu / classifier-score curation shape: a quality score ranks
   * documents and only the top fraction of EACH language survives, so a
   * high-resource language cannot crowd out the rest the way one global
   * cutoff would). Per stratum, the `floor(n · fracBp / 10000)` rows with
   * the SMALLEST `scoreCol` survive (pass a negated score to keep the
   * largest; ties break by key asc). The fraction rides as integer basis
   * points so the quota arithmetic is exact on every engine — never a
   * double multiply that rounds differently across platforms. Rows with
   * a NULL score are dropped before counting (they take no quota and
   * cannot survive): engines disagree on null sort order — Spark ranks
   * nulls first, DuckDB last — so admitting them would silently break
   * the cross-engine row-for-row contract.
   *
   * Scale shape: a strata-sized count aggregate derives the quotas
   * (broadcast back), then the per-stratum rank is the shared-shuffle
   * cumsum of UNIT weights ordered by (stratum, score, key) — the same
   * core as [[tokenBudgetSelect]], so no per-stratum window and bounded
   * task state regardless of how hot a stratum runs. Contrast
   * [[graft.functions.TopK]]: its aggregation state is O(k) per group,
   * right for small fixed k but not for "30 % of a billion-row stratum";
   * here state per task is O(1) beyond the sort.
   */
  def topFractionPerStratum(df: DataFrame, stratumCol: String,
                            keyCol: String, scoreCol: String,
                            fracBp: Int): DataFrame = {
    require(fracBp >= 0 && fracBp <= 10000,
      s"fracBp must be basis points in [0, 10000], got $fracBp")
    requireNoTbs(df)
    // null-score rows are EXCLUDED before anything is counted (the
    // topKPerGroup isNotNull contract): Spark sorts nulls first and
    // DuckDB's ORDER BY defaults nulls last, so a null score in the rank
    // would silently diverge cross-engine — and an unscored document has
    // no claim on a quality-percentile quota anyway
    val scored = df.filter(col(scoreCol).isNotNull)
    val counts = scored.groupBy(stratumCol).agg(count(lit(1)).as("_tbs_n"))
    val quotas = counts
      .withColumn("_tbs_budget", expr(s"_tbs_n * $fracBp div 10000"))
      .drop("_tbs_n")
    stratumLocalCumSum(
        scored.join(broadcast(quotas), Seq(stratumCol))
          .withColumn("_tbs_one", lit(1L)),
        stratumCol, keyCol, "_tbs_one",
        orderBy = Some(col(scoreCol)))
      .filter(col("_tbs_gcum") - col("_tbs_off") + lit(1L) <=
        col("_tbs_budget"))
      .drop("_tbs_budget", "_tbs_tok", "_tbs_coord", "_tbs_gcum", "_tbs_off",
        "_tbs_one")
  }

  /** Shared budget-selection core: range-shuffle on (stratum, coord, key),
    * shared-shuffle global exclusive cumsum of the clamped token column,
    * stratum-localized by joining each stratum's first-row offset back
    * (its `min` — clamping keeps the global sum nondecreasing in row
    * order, so the stratum's first row IS its minimum). Appends the
    * `_tbs_tok`/`_tbs_coord`/`_tbs_gcum`/`_tbs_off` working columns;
    * callers filter and drop. */
  private def requireNoTbs(df: DataFrame): Unit = {
    val reserved = df.columns.filter(_.startsWith("_tbs_"))
    require(reserved.isEmpty,
      s"token-budget selection reserves _tbs_*, found: ${reserved.mkString(", ")}")
  }

  private def stratumLocalCumSum(df: DataFrame, stratumCol: String,
                                 keyCol: String, tokensCol: String,
                                 orderBy: Option[Column] = None): DataFrame = {
    val scored = df
      .withColumn("_tbs_tok", greatest(col(tokensCol).cast("long"), lit(0L)))
      .withColumn("_tbs_coord", orderBy.getOrElse(hashCoord(col(keyCol))))
    val parted = scored
      .repartitionByRange(col(stratumCol), col("_tbs_coord"), col(keyCol))
      .sortWithinPartitions(stratumCol, "_tbs_coord", keyCol)
    val cum = org.apache.spark.sql.graft.RowBridge
      .zipWithGlobalCumSum(parted, "_tbs_tok", "_tbs_gcum")
    val offsets = cum.groupBy(stratumCol).agg(min("_tbs_gcum").as("_tbs_off"))
    cum.join(broadcast(offsets), Seq(stratumCol))
  }

  /**
   * Curriculum training order: a deterministic global position where
   * documents are grouped by a caller-computed STAGE (ordered ascending —
   * stage 0 trains first) and shuffled uniformly WITHIN each stage by the
   * hash coordinate (a curriculum orders stages, not documents: inside a
   * stage the reader must still see a well-mixed stream, or the first
   * batches of every stage would be biased by storage order). The output
   * position is the training-reader sort key; compose with
   * [[graft.pipeline.Export.assignShards]] for the sharded layout.
   *
   * Scale shape: one range-partitioned two-phase rank on (stage, coord,
   * key) — [[graft.store.Ranks]], never a global window. Same exact
   * arithmetic as [[globalShuffleOrder]] (which this generalizes: one
   * constant stage IS the global shuffle), so the order replays
   * bit-for-bit on any engine/retry/partitioning.
   */
  def curriculumOrder(df: DataFrame, keyCol: String, stageCol: String,
                      posName: String = "pos"): DataFrame = {
    require(!df.columns.contains("_shuffle_coord"),
      "curriculumOrder reserves the internal column name _shuffle_coord")
    graft.store.Ranks.withOrderedIndexBy(
      df.withColumn("_shuffle_coord", hashCoord(col(keyCol))),
      Seq(stageCol, "_shuffle_coord", keyCol), posName)
      .drop("_shuffle_coord")
  }

  /**
   * Per-stratum epoch repetition — the "repeat the good sources" mix
   * primitive (LLaMA-style mixtures repeat Wikipedia/books for multiple
   * epochs while web data runs under one; data-constrained scaling,
   * Muennighoff et al. 2023, formalizes the repeat-count regime): each
   * row of stratum `s` is emitted `floor(epochs(s))` times (epoch ids
   * `0 .. floor-1`) plus ONE more (the final partial epoch) iff its hash
   * coordinate clears the fractional part — so `epochs = 2.25` repeats
   * every document twice and a deterministic quarter of them a third
   * time, and the realized token multiple converges to the spec. Strata
   * absent from `epochs` are dropped (epoch 0.0 == weight 0 in
   * [[mixByWeights]]).
   *
   * Scale shape: a strata-sized broadcast join + one generator (explode
   * of a small integer sequence) — pure map-side, no shuffle, no RNG;
   * the same row emits the same epoch ids on any engine or retry, so
   * downstream shard layouts are stable under recomputation.
   */
  def repeatByEpochs(df: DataFrame, stratumCol: String, keyCol: String,
                     epochs: Map[String, Double],
                     epochName: String = "epoch"): DataFrame = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    epochs.foreach { case (s, e) =>
      require(e >= 0.0 && e <= 1000.0,
        s"epochs for stratum '$s' must be in [0, 1000], got $e")
    }
    val reserved = df.columns.filter(_.startsWith("_rbe_"))
    require(reserved.isEmpty,
      s"repeatByEpochs reserves _rbe_*, found: ${reserved.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    val table = epochs.toSeq.sortBy(_._1).map { case (s, e) =>
      val full = math.floor(e).toLong
      // fractional threshold on the 2^32 coordinate line — exact for the
      // same reason hashSample is; 1000 epochs keeps full*2^32 < 2^63
      (s, full, ((e - full) * Mod32).toLong)
    }.toDF(stratumCol, "_rbe_full", "_rbe_thresh")
    df.join(broadcast(table), Seq(stratumCol))
      .withColumn("_rbe_n", col("_rbe_full") +
        when(hashCoord(col(keyCol)) < col("_rbe_thresh"), 1L).otherwise(0L))
      .filter(col("_rbe_n") > 0)
      .withColumn(epochName,
        explode(sequence(lit(0L), col("_rbe_n") - 1)))
      .drop("_rbe_full", "_rbe_thresh", "_rbe_n")
  }

  /**
   * Mix planning — the arithmetic between a mix SPEC and its realization:
   * given target token SHARES per stratum (basis points of a total token
   * budget) and the corpus's actual per-stratum token totals, derive the
   * per-stratum epoch factor (also in basis points, truncating integer
   * division) that [[repeatByEpochs]] must apply for the realized mix to
   * hit the spec: `epoch_bp = (budget·share÷10000)·10000 ÷ tokens`. An
   * epoch factor over 10000 bp means that source REPEATS (data-
   * constrained regime); under 10000 it downsamples. Everything is exact
   * 64-bit integer arithmetic, so plan → repeat → [[repeatByEpochs]] →
   * manifest closes bit-reproducibly on any engine. Output (one row per
   * budgeted stratum present in the corpus): (stratum, sum_tokens,
   * target_tokens, epoch_bp).
   *
   * Scale shape: ONE map-side-combined aggregation to the strata-sized
   * totals table, then a broadcast share join — the corpus is scanned
   * once and never shuffled beyond the tiny agg exchange. Overflow-free
   * while budget·share < 2^63 (a 100 T-token budget is ~2^47) and
   * target·10000 < 2^63.
   */
  def planEpochs(df: DataFrame, stratumCol: String, tokensCol: String,
                 sharesBp: Map[String, Int], budget: Long): DataFrame = {
    require(sharesBp.nonEmpty, "sharesBp must be non-empty")
    require(budget >= 0L, s"budget must be non-negative, got $budget")
    sharesBp.foreach { case (s, bp) =>
      require(bp >= 0 && bp <= 10000,
        s"share for stratum '$s' must be basis points in [0, 10000], got $bp")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val shares = sharesBp.toSeq.sortBy(_._1).toDF(stratumCol, "_mp_share")
    df.select(col(stratumCol),
        greatest(col(tokensCol).cast("long"), lit(0L)).as("_mp_tok"))
      .groupBy(stratumCol).agg(sum(col("_mp_tok")).as("sum_tokens"))
      .join(broadcast(shares), Seq(stratumCol))
      .withColumn("target_tokens",
        expr(s"${budget}L * _mp_share div 10000"))
      .withColumn("epoch_bp",
        when(col("sum_tokens") > 0,
          expr("target_tokens * 10000 div sum_tokens")).otherwise(lit(0L)))
      .select(col(stratumCol), col("sum_tokens"), col("target_tokens"),
        col("epoch_bp"))
  }

  /**
   * Deterministic global shuffle for training order: rank rows by their
   * hash coordinate (tie-broken by the key itself, so the order is total
   * even where the 32-bit coordinate collides) and assign the 0-based
   * position. A training run that reads shards in position order sees a
   * reproducible permutation of the corpus — same across engines, retries
   * and repartitionings, with no RNG state.
   *
   * Scale shape: range-partition on (coordinate, key) + per-partition sort
   * + cumulative-count offset (graft.store.Ranks) — never a global
   * single-task window funnel.
   */
  def globalShuffleOrder(df: DataFrame, keyCol: String,
                         posName: String = "pos"): DataFrame = {
    require(!df.columns.contains("_shuffle_coord"),
      "globalShuffleOrder reserves the internal column name _shuffle_coord")
    graft.store.Ranks.withOrderedIndexBy(
      df.withColumn("_shuffle_coord", hashCoord(col(keyCol))),
      Seq("_shuffle_coord", keyCol), posName)
      .drop("_shuffle_coord")
  }
}
