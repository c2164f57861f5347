package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * Bounded distributed top-k per group — the scale-safe replacement for
 * `row_number().over(Window.partitionBy(group).orderBy(score desc))`, which
 * funnels every candidate row of a group through ONE reducer task (for a
 * brute-force scorer that is the whole corpus per query).
 *
 * Shape: a typed `Aggregator` whose buffer is a bounded, sorted (score desc,
 * id asc) pair of primitive arrays. Spark plans it as an ObjectHashAggregate
 * with a PARTIAL stage before the exchange, so each map task ships at most
 * k rows per group and the final merge sees ≤ k · numPartitions rows per
 * group — no task ever ranks a full corpus. Ties break on the lower id,
 * matching the window ordering `orderBy(desc(score), id)` it replaces.
 *
 * ≙ reference GraphSearcher.Search (GraphSearcher.cs:12-16): exhaustive
 * Traverse + OrderByDescending(Score).First() — same contract, distributed
 * without its single-node sort.
 */
object TopK {

  /** One scored candidate: (score, id). */
  final case class Scored(score: Double, id: Long)

  /** Bounded buffer: parallel arrays sorted best-first, length ≤ k. */
  final case class Buf(scores: Array[Double], ids: Array[Long])

  /** True iff (s1,i1) ranks strictly before (s2,i2): higher score first,
    * lower id on ties — Spark SQL `orderBy(desc(score), id)` semantics
    * exactly: NaN sorts above every double (so NaN-scored rows rank FIRST
    * in desc, same as the window funnel this replaces) and -0.0 ties 0.0
    * (`+ 0.0` normalizes -0.0 to 0.0 and passes NaN through, where raw
    * `Double.compare` would put -0.0 below 0.0). */
  private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1 + 0.0, s2 + 0.0)
    c > 0 || (c == 0 && i1 < i2)
  }

  /** `b` with (score, id) inserted at its rank, cut to the best `k` — the
    * one bounded top-k insert: the aggregator below and the routed scan
    * of every persisted vector search
    * ([[graft.index.SimilarityIndex.routedTopK]]) both rank through it. `b` is never mutated; an insert that cannot make the cut
    * returns `b` itself. */
  def insert(b: Buf, score: Double, id: Long, k: Int): Buf =
    insert(b, score, id, k, Double.NegativeInfinity)

  /** [[insert]] where a score below `floor` does not make the cut either:
    * that test runs while `b` has room, and once `b` is full its last
    * entry, at or above the floor, is the bar. */
  private[graft] def insert(b: Buf, score: Double, id: Long, k: Int, floor: Double): Buf = {
    val n = b.ids.length
    if (if (n < k) score < floor else !beats(score, id, b.scores(n - 1), b.ids(n - 1))) b
    else {
      var pos = n
      while (pos > 0 && beats(score, id, b.scores(pos - 1), b.ids(pos - 1))) pos -= 1
      val m = math.min(n + 1, k)
      val ns = new Array[Double](m)
      val ni = new Array[Long](m)
      System.arraycopy(b.scores, 0, ns, 0, pos)
      System.arraycopy(b.ids, 0, ni, 0, pos)
      ns(pos) = score; ni(pos) = id
      val tail = m - pos - 1
      if (tail > 0) {
        System.arraycopy(b.scores, pos, ns, pos + 1, tail)
        System.arraycopy(b.ids, pos, ni, pos + 1, tail)
      }
      Buf(ns, ni)
    }
  }

  /** `b2`'s entries inserted into `b1`: the two buffers' best `k` together. */
  def merge(b1: Buf, b2: Buf, k: Int): Buf = {
    var acc = b1
    var i = 0
    while (i < b2.ids.length) { acc = insert(acc, b2.scores(i), b2.ids(i), k); i += 1 }
    acc
  }

  /** The empty buffer. */
  val emptyBuf: Buf = Buf(Array.emptyDoubleArray, Array.emptyLongArray)

  private final class TopKAggregator(k: Int)
      extends Aggregator[Scored, Buf, Buf] {

    override def zero: Buf = emptyBuf

    override def reduce(b: Buf, a: Scored): Buf = insert(b, a.score, a.id, k)

    override def merge(b1: Buf, b2: Buf): Buf = TopK.merge(b1, b2, k)

    override def finish(r: Buf): Buf = r
    override def bufferEncoder = Encoders.product[Buf]
    override def outputEncoder = Encoders.product[Buf]
  }

  /** One scored label: (score, label) — the string-keyed variant for
    * vocabulary/n-gram statistics where the ranked thing is a token, not a
    * numeric id. */
  final case class ScoredLabel(score: Double, label: String)

  /** Bounded buffer for labels, sorted best-first, length ≤ k. */
  final case class LabelBuf(scores: Array[Double], labels: Array[String])

  /** (s1,l1) before (s2,l2): higher score first, lexicographically smaller
    * label on ties — ASCII labels order identically under Java compareTo
    * and UTF-8 binary collation, so the tie-break is engine-portable. */
  private def beatsLabel(s1: Double, l1: String, s2: Double, l2: String): Boolean = {
    val c = java.lang.Double.compare(s1 + 0.0, s2 + 0.0)
    c > 0 || (c == 0 && l1.compareTo(l2) < 0)
  }

  private final class TopKLabelAggregator(k: Int)
      extends Aggregator[ScoredLabel, LabelBuf, LabelBuf] {

    override def zero: LabelBuf = LabelBuf(Array.emptyDoubleArray, Array.empty[String])

    private def insert(b: LabelBuf, score: Double, label: String): LabelBuf = {
      val n = b.labels.length
      if (n >= k && !beatsLabel(score, label, b.scores(n - 1), b.labels(n - 1))) b
      else {
        var pos = n
        while (pos > 0 && beatsLabel(score, label, b.scores(pos - 1), b.labels(pos - 1))) pos -= 1
        val m = math.min(n + 1, k)
        val ns = new Array[Double](m)
        val nl = new Array[String](m)
        System.arraycopy(b.scores, 0, ns, 0, pos)
        System.arraycopy(b.labels, 0, nl, 0, pos)
        ns(pos) = score; nl(pos) = label
        val tail = m - pos - 1
        if (tail > 0) {
          System.arraycopy(b.scores, pos, ns, pos + 1, tail)
          System.arraycopy(b.labels, pos, nl, pos + 1, tail)
        }
        LabelBuf(ns, nl)
      }
    }

    override def reduce(b: LabelBuf, a: ScoredLabel): LabelBuf = insert(b, a.score, a.label)

    override def merge(b1: LabelBuf, b2: LabelBuf): LabelBuf = {
      var acc = b1
      var i = 0
      while (i < b2.labels.length) { acc = insert(acc, b2.scores(i), b2.labels(i)); i += 1 }
      acc
    }

    override def finish(r: LabelBuf): LabelBuf = r
    override def bufferEncoder = Encoders.product[LabelBuf]
    override def outputEncoder = Encoders.product[LabelBuf]
  }

  /**
   * Per-group top-k by label: keep the k best (`scoreCol` desc, `labelCol`
   * asc) rows per group — same bounded partial-aggregate shape as
   * [[topKPerGroup]], for string-keyed rankings (top n-grams per language,
   * top domains per source, ...). Output: (groupCol, labelCol, scoreCol,
   * rank). Rows with a null label or score are excluded from the ranking
   * (they cannot order, and a null would poison the non-nullable
   * aggregation buffer).
   */
  def topLabelsPerGroup(scored: DataFrame, groupCol: String, labelCol: String,
                        scoreCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val agg = udaf(new TopKLabelAggregator(k), Encoders.product[ScoredLabel])
    scored
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol).cast("double"), col(labelCol).cast("string")).as("_top"))
      .select(col(groupCol), col("_top.scores").as("_s"), col("_top.labels").as("_l"))
      .select(col(groupCol),
        posexplode(arrays_zip(col("_s"), col("_l"))).as(Seq("_pos", "_z")))
      .select(col(groupCol),
        col("_z._l").as(labelCol),
        col("_z._s").as(scoreCol),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /**
   * Append per-group top-k rows: for each distinct `groupCol` value keep the
   * k best (`scoreCol` desc, `idCol` asc) rows, with a 1-based `rank`
   * column. Output columns: (groupCol, idCol, scoreCol, rank). `idCol` is
   * cast to long (all engine ids are integral). Rows with a null id or
   * score are excluded from the ranking (a null would poison the
   * non-nullable aggregation buffer).
   */
  def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val agg = udaf(new TopKAggregator(k), Encoders.product[Scored])
    scored
      .filter(col(idCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg(col(scoreCol).cast("double"), col(idCol).cast("long")).as("_top"))
      .select(col(groupCol), col("_top.scores").as("_s"), col("_top.ids").as("_i"))
      .select(col(groupCol),
        posexplode(arrays_zip(col("_s"), col("_i"))).as(Seq("_pos", "_z")))
      .select(col(groupCol),
        col("_z._i").as(idCol),
        col("_z._s").as(scoreCol),
        (col("_pos") + 1).cast("int").as("rank"))
  }
}
