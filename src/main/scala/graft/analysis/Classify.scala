package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopK

/**
 * Nearest-centroid text classification (Rocchio, 1971 — the classic IR
 * formulation; Manning et al., IIR §14.2) — the shape of the pretraining
 * "quality classifier" stage (GPT-3 and LLaMA filter web pages with a
 * linear classifier over bag-of-words features scored against curated
 * positives): train = one groupBy producing per-class token-count
 * centroids, score = cosine of each document's token-count vector against
 * every centroid, predict the argmax.
 *
 * Arithmetic contract (the repo-wide exactness rule): dot products and
 * squared norms are EXACT integer sums carried in DECIMAL(38,0) — BIGINT
 * products c_t·d_t overflow silently at 10¹²-count centroids, the Drift
 * precedent — and the cosine is formed from those exact integers with one
 * correctly-rounded double division, so scores and argmax decisions
 * reproduce bit-for-bit on any engine (the int8 cosine pattern). Ties
 * break label-ascending (ASCII labels — the engine-portable tie-break).
 *
 * Scale shape: the model is vocabulary×classes (prune with `minCount`,
 * CCNet-style) and BROADCASTS to every executor, where each document is
 * scored in its own row ([[scoreRowTopK]]), so the corpus never shuffles
 * for scoring.
 */
object Classify {

  private val Reserved = Seq("_cx_tc", "_cx_pos", "_cx_s")

  private def guard(df: DataFrame): Unit = {
    val clash = df.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty, s"input carries reserved column(s): $clash")
  }

  /** Per-row exact token-count map + squared norm (r17 optimization
    * round): one pass over [[TextMetrics.wsTokenArr]] (char-identical to
    * the wsTokens Column tokenization) replaces the former
    * explode → groupBy(id, token) count → groupBy(id) norm chain — a
    * corpus-TOKEN-sized exchange plus a per-doc aggregation and its
    * re-join, all for values that are a pure per-row function (guide
    * §2.3 "aggregate before you shuffle", taken to its limit). The
    * squared norm Σd² fits a Long EXACTLY for any real document
    * (Σd ≤ string length ≤ 2³¹ ⇒ Σd² ≤ (Σd)² < 2⁶³) and casts to the
    * same DECIMAL(38,0)/double the aggregated form produced, so every
    * cosine is bit-identical. Null text → null (emit-less downstream,
    * matching wsTokens-on-null). */
  private[analysis] val tokCountsUdf =
    org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) null
      else {
        val t = TextMetrics.wsTokenArr(s)
        val hm = new java.util.HashMap[String, java.lang.Long]()
        var i = 0
        while (i < t.length) {
          hm.merge(t(i), 1L, (a, b) => a + b)
          i += 1
        }
        var dn = 0L
        val it = hm.values().iterator()
        while (it.hasNext) { val d = it.next().longValue(); dn += d * d }
        val b = Map.newBuilder[String, Long]
        val es = hm.entrySet().iterator()
        while (es.hasNext) {
          val e = es.next()
          b += ((e.getKey, e.getValue.longValue()))
        }
        (b.result(), dn)
      }
    }

  /** The model in driver-local form (r18): per-token postings into the
    * label space plus the per-label norm PRECONVERTED through the exact
    * same decimal→double path the oracle's aggregated SQL takes
    * (sum cnt² in exact integers, BigDecimal.doubleValue — what
    * Decimal(38,0).cast("double") runs — then Math.sqrt). Duplicate
    * (label, token) rows are kept as separate postings: a scoring
    * join would multiply them too. */
  private[analysis] final case class LocalModel(
      labels: Array[String],
      cnSqrt: Array[Double],
      postings: java.util.HashMap[String, (Array[Int], Array[Long])])
    extends Serializable

  private[analysis] def buildLocalModel(
      rows: Iterable[(String, String, Long)]): LocalModel = {
    val labelIdx = new java.util.LinkedHashMap[String, Integer]()
    rows.foreach { case (l, _, _) =>
      if (!labelIdx.containsKey(l)) labelIdx.put(l, labelIdx.size())
    }
    val nL = labelIdx.size()
    val labels = new Array[String](nL)
    labelIdx.forEach((l, i) => labels(i) = l)
    val cn = Array.fill(nL)(java.math.BigInteger.ZERO)
    val byTok =
      new java.util.HashMap[String, (scala.collection.mutable.ArrayBuffer[Int],
        scala.collection.mutable.ArrayBuffer[Long])]()
    rows.foreach { case (l, t, c) =>
      val li = labelIdx.get(l).intValue()
      val bc = java.math.BigInteger.valueOf(c)
      cn(li) = cn(li).add(bc.multiply(bc))
      val e = byTok.computeIfAbsent(t, _ =>
        (scala.collection.mutable.ArrayBuffer.empty[Int],
          scala.collection.mutable.ArrayBuffer.empty[Long]))
      e._1 += li
      e._2 += c
    }
    val postings = new java.util.HashMap[String, (Array[Int], Array[Long])](
      byTok.size() * 2)
    byTok.forEach((t, e) => postings.put(t, (e._1.toArray, e._2.toArray)))
    // the EXACT double an aggregated sqrt(cn.cast("double")) sees: Decimal(38,0) → double is BigDecimal.doubleValue
    val cnSqrt = cn.map(b =>
      Math.sqrt(new java.math.BigDecimal(b).doubleValue()))
    LocalModel(labels, cnSqrt, postings)
  }

  private[analysis] def collectLocalModel(model: DataFrame): LocalModel =
    buildLocalModel(
      model.select(col("label"), col("token"), col("cnt")).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[Number](2).longValue())))

  /** Score ONE document's exact token-count map against every centroid
    * of a [[LocalModel]] — the per-row kernel of the driver-local
    * scoring (r18). Bit-identical to the oracle's aggregated SQL: dots are
    * exact integer sums (Long with overflow promotion to BigInteger —
    * integer addition is order-free, so any accumulation order yields
    * the aggregated sum), converted to double through the same
    * BigDecimal path as Decimal(38,0).cast("double"), divided by the
    * same sqrt(dn)·sqrt(cn) product, and ranked with
    * [[graft.functions.TopK]]'s exact comparator (score desc via
    * Double.compare, label asc on ties). Labels sharing no token with
    * the document do not emit (the emit-less rule). */
  private[analysis] def scoreRowTopK(lm: LocalModel, counts: Map[String, Long],
                                     dn: Long, k: Int): Seq[(String, Double)] = {
    val nL = lm.labels.length
    val dotL = new Array[Long](nL)
    var dotB: Array[java.math.BigInteger] = null
    val touched = new Array[Boolean](nL)
    counts.foreach { case (tok, d) =>
      val hit = lm.postings.get(tok)
      if (hit != null) {
        val (lis, cs) = hit
        var i = 0
        while (i < lis.length) {
          val li = lis(i)
          touched(li) = true
          if (dotB != null && dotB(li) != null)
            dotB(li) = dotB(li).add(java.math.BigInteger.valueOf(d)
              .multiply(java.math.BigInteger.valueOf(cs(i))))
          else
            try dotL(li) = Math.addExact(dotL(li),
              Math.multiplyExact(d, cs(i)))
            catch { case _: ArithmeticException =>
              if (dotB == null) dotB = new Array[java.math.BigInteger](nL)
              dotB(li) = java.math.BigInteger.valueOf(dotL(li))
                .add(java.math.BigInteger.valueOf(d)
                  .multiply(java.math.BigInteger.valueOf(cs(i))))
            }
          i += 1
        }
      }
    }
    val sDn = Math.sqrt(java.math.BigDecimal.valueOf(dn).doubleValue())
    val cand = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var li = 0
    while (li < nL) {
      if (touched(li)) {
        val dotD =
          if (dotB != null && dotB(li) != null)
            new java.math.BigDecimal(dotB(li)).doubleValue()
          else java.math.BigDecimal.valueOf(dotL(li)).doubleValue()
        cand += ((lm.labels(li), dotD / (sDn * lm.cnSqrt(li))))
      }
      li += 1
    }
    cand.sortWith { case ((l1, s1), (l2, s2)) =>
      val c = java.lang.Double.compare(s1 + 0.0, s2 + 0.0)
      c > 0 || (c == 0 && l1.compareTo(l2) < 0)
    }.take(k).toSeq
  }

  /** Driver-local scoring (r18 optimization round): the model is
    * collected once and broadcast, and each document is scored IN ITS
    * ROW against all centroids, so the plan has no join and no
    * corpus-sized exchange (guide §2.4). Input is the per-row (idCol, (counts map,
    * squared norm)) struct; output is (idCol, label, cosine, rank) in
    * [[TopK.topLabelsPerGroup]]'s order (ClassifySpec pins it against
    * an independent in-memory reference). */
  private[analysis] def scoreTcTopKLocal(tc: DataFrame, model: DataFrame,
                                         idCol: String, k: Int): DataFrame = {
    val lm = collectLocalModel(model)
    val bc = tc.sparkSession.sparkContext.broadcast(lm)
    val score = udf { (m: Map[String, Long], dn: Long) =>
      scoreRowTopK(bc.value, m, dn, k)
    }
    tc.filter(col("_cx_tc").isNotNull)
      .select(col(idCol),
        posexplode(score(col("_cx_tc").getField("_1"),
          col("_cx_tc").getField("_2"))).as(Seq("_cx_pos", "_cx_s")))
      .select(col(idCol), col("_cx_s").getField("_1").as("label"),
        col("_cx_s").getField("_2").as("cosine"),
        (col("_cx_pos") + 1).cast("int").as("rank"))
  }

  /**
   * Train: per-class token-count centroids over the canonical
   * [[TextMetrics.wsTokens]] tokenization — `(label, token, cnt)`, pruned
   * to `cnt >= minCount` (vocabulary pruning keeps the model
   * broadcast-sized; rare tokens contribute negligible cosine mass).
   * One groupBy with map-side partial aggregation; null labels are
   * excluded (unlabeled rows train nothing).
   */
  def centroidTrain(labeled: DataFrame, textCol: String = "text",
                    labelCol: String = "label",
                    minCount: Long = 1L): DataFrame =
    labeled.filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("label"),
        explode(TextMetrics.wsTokens(col(textCol))).as("token"))
      .groupBy("label", "token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /**
   * Score: cosine of each document's token-count vector against every
   * class centroid; returns `(idCol, label, cosine)` — the best class per
   * document (cosine desc, label asc). Documents sharing no token with
   * any centroid (or empty after tokenization) produce no row — emit-less,
   * like the zero-norm rule of the vector kernels; left-join the result
   * back when an explicit "unclassified" marker is wanted.
   */
  def centroidScore(docs: DataFrame, model: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    centroidScoreTopK(docs, model, idCol, textCol, 1)
      .drop("rank")

  /** [[centroidScore]]'s top-k form (r17): the k best classes per
    * document with their cosines and ranks (cosine desc, label asc —
    * the engine-portable order). k = 2 is the CONFIDENCE shape: the
    * margin between the winner and the runner-up is the standard
    * nearest-centroid confidence signal ([[LangId.classifyWithConfidence]]).
    * Same emit-less rule: only classes sharing a token with the
    * document appear, so a document may yield fewer than k rows. */
  def centroidScoreTopK(docs: DataFrame, model: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 1): DataFrame = {
    guard(docs)
    // per-row exact counts (see [[tokCountsUdf]]) scored per row against
    // the executor-resident model ([[scoreTcTopKLocal]])
    val tc = docs.select(col(idCol), tokCountsUdf(col(textCol)).as("_cx_tc"))
    scoreTcTopKLocal(tc, model, idCol, k)
  }

  /**
   * Train-and-score in one call — the pipeline convenience: fit centroids
   * on the labeled slice, predict for every document. The labeled slice
   * is typically curated and small; the corpus is not — which is why the
   * model, not the corpus, broadcasts.
   */
  def centroidClassify(docs: DataFrame, labeled: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       labelCol: String = "label",
                       minCount: Long = 1L): DataFrame =
    centroidScore(docs,
      centroidTrain(labeled, textCol, labelCol, minCount),
      idCol, textCol)
}
