package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.index.SimilarityIndex

/** index_churn: appends, deletes and searches on one persisted IVF index,
  * with a compaction every few cycles, so ingest directories and tombstones
  * pile up between compactions as they do in real use. */
final class IndexChurn(spark: SparkSession, o: Opts, tr: Tracer, cpu: CpuMeter,
                       rep: Report)
    extends Workload {
  import spark.implicits._

  val k = 10
  val nprobe = 8
  val dim = if (o.tiny) 16 else 64
  val n0 = if (o.tiny) 2000 else 10000
  val nlist = if (o.tiny) 8 else 32
  val appendN = if (o.tiny) 200 else 1000
  val deleteN = if (o.tiny) 20 else 100
  val batch = 16
  val compactEvery = 3 // cycles per compaction
  val recallFloor = if (o.tiny) 0.5 else 0.8
  val setupReps = if (o.tiny) 1 else 3
  val mix = new Gen.Mixture(o.seed, dim, if (o.tiny) 16 else 256, 0.35)

  /** Every vector the run has created, by id (ids are dense from 0). */
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  /** The ids the index should hold. */
  private val live = mutable.LinkedHashSet.empty[Int]

  /** Write vectors `ids` as a parquet input of `files` files (the program
    * reads generated files, as a user's embeddings table would be read). */
  def writeVectors(ids: Range, dir: File, files: Int): DataFrame = {
    ids.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")
      .repartition(files).write.mode("overwrite").parquet(dir.getPath)
    spark.read.parquet(dir.getPath)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k ids over the live ids, computed in the benchmark. */
  def exactTopK(q: Array[Float]): Seq[Long] =
    live.iterator.map(i => (cosine(q, vecs(i)), i.toLong)).toSeq
      .sortBy { case (c, i) => (-c, i) }.take(k).map(_._2)

  /** One search: query -> (vec_id, cosine) in rank order. */
  def search(path: String, queries: DataFrame): Map[Long, Seq[(Long, Double)]] =
    SimilarityIndex.ivfSearchIndexed(spark, path, queries, k, nprobe)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }

  /** Output checks on one search: k distinct live hits per query, in
    * non-increasing score order, each score equal to the exact cosine, and
    * mean recall@k against the exact top-k at or above the floor. */
  def checkSearch(found: Map[Long, Seq[(Long, Double)]],
                  qs: Seq[(Long, Array[Float])]): (Seq[(Boolean, String)], Double) = {
    // the self-test's corrupted result: the first query loses its top hit
    val res =
      if (o.corrupt != "drop_top1" || found.isEmpty) found
      else found.updated(found.keys.min, found(found.keys.min).drop(1))
    val out = mutable.ArrayBuffer.empty[(Boolean, String)]
    var recall = 0.0
    for ((q, qv) <- qs) {
      val hits = res.getOrElse(q, Nil)
      val ids = hits.map(_._1)
      out += ((hits.length == k, s"query $q returned ${hits.length} hits"))
      out += ((ids.distinct.length == ids.length, s"query $q repeats an id"))
      out += ((ids.forall(id => live.contains(id.toInt)), s"query $q returned a deleted id"))
      out += ((hits.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"query $q hits out of score order"))
      out += ((hits.forall { case (id, c) =>
          live.contains(id.toInt) && math.abs(c - cosine(qv, vecs(id.toInt))) < 1e-4 },
        s"query $q score differs from the exact cosine"))
      recall += ids.toSet.intersect(exactTopK(qv).toSet).size.toDouble / k
    }
    recall /= qs.length
    out += ((recall >= recallFloor, f"recall@$k $recall%.3f below floor $recallFloor"))
    (out.toSeq, recall)
  }

  def run(sessionS: Double): Unit = {
    val (corpus, genS) = Loop.timed {
      vecs ++= mix.draw(0, n0)
      writeVectors(0 until n0, new File(o.work, "corpus"), 4)
    }
    rep.info("gen_s") = (genS, "s")
    // two fixed query batches, searched alternately
    val qs = mix.draw(1, 2 * batch).zipWithIndex.map { case (v, i) => (-1L - i, v) }
      .toSeq.grouped(batch).toSeq
    val qDfs = qs.map(_.toDF("query_id", "query_vec"))
    val r = Gen.rng(o.seed, 7)

    // per-cycle inputs are made outside the timed ops
    var appended = 0
    def nextAppend(): (DataFrame, Range) = {
      val ids = vecs.length until vecs.length + appendN
      vecs ++= mix.draw(10 + appended, appendN)
      appended += 1
      (writeVectors(ids, new File(o.work, s"append-$appended"), 1), ids)
    }
    def nextDelete(): (DataFrame, Seq[Int]) = {
      val arr = live.toArray
      val ids = Seq.fill(deleteN)(arr(r.nextInt(arr.length))).distinct
      (ids.map(_.toLong).toDF("vec_id"), ids)
    }

    var path = ""
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(kind: String, v: Double): Unit =
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
    def p50(kind: String) = Driver.median(times.getOrElse(kind, Nil).toSeq)
    var opNo = 0

    /** One timed, checked op; `tally` names the series its time joins. */
    def op[T](kind: String, traced: Boolean, tally: Option[String], queries: Int = 0)
             (body: => T)(check: T => Seq[(Boolean, String)]): Double = {
      val cpu0 = cpu.now()
      tr.beginOp(opNo, traced); opNo += 1
      val t0 = System.currentTimeMillis()
      val (res, dt) =
        try Loop.timed(tr.span(s"index.$kind")(body))
        catch { case e: Throwable => tr.endOp(); rep.crashed(kind, e); return 0.0 }
      val c = tr.endOp()
      val cpuS = cpu.now() - cpu0
      if (c != null) {
        rep.counters(c, t0, dt, if (kind == "append") appendN.toLong * dim * 4 else 0L)
        rep.sample(s"index.${kind}_s", dt)
        if (queries > 0) recordSearch(c, path, queries)
      }
      tally.foreach { t => add(t, dt); add(t + "_cpu", cpuS) }
      rep.op(kind)(check(res))
      dt
    }

    /** One churn cycle: append, delete, search both query batches, and
      * every few cycles a compaction. Returns the cycle's op seconds. */
    def cycle(c: Int, traced: Boolean, timed: Boolean): Double = {
      def tally(kind: String) =
        if (!timed) None
        else if (kind == "search" && o.trace && !traced) Some("untraced")
        else Some(kind)
      val (df, ids) = nextAppend()
      var dt = op("append", traced, tally("append"))(
        SimilarityIndex.ivfAppend(spark, path, df)) { _ => live ++= ids; Nil }
      val (del, delIds) = nextDelete()
      dt += op("delete", traced, tally("delete"))(
        SimilarityIndex.ivfDelete(spark, path, del)) { _ => live --= delIds; Nil }
      for ((q, qDf) <- qs.zip(qDfs))
        dt += op("search", traced, tally("search"), q.length)(search(path, qDf)) { res =>
          val (checks, recall) = checkSearch(res, q)
          if (timed) add("recall", recall)
          checks
        }
      if (c % compactEvery == compactEvery - 1) {
        // stored bytes per live user byte, at the top of the pile-up
        if (timed) add("bytes", Driver.dirBytes(new File(path)).toDouble / (live.size.toLong * dim * 4))
        dt += op("compact", traced, tally("compact"))(SimilarityIndex.ivfCompact(spark, path)) { rows =>
          Seq((rows == live.size, s"compaction kept $rows rows, expected ${live.size}"))
        }
      }
      dt
    }

    // setup: build the start index into a fresh directory, repeated (the
    // median counts), then warm every op kind with one full cycle
    val reps = (0 until setupReps).map { s =>
      path = new File(o.work, s"ivf-$s").getPath
      val (_, b) = Loop.timed(SimilarityIndex.ivfBuild(corpus, path, nlist))
      rep.sample("index.fit_s", b)
      b
    }
    live ++= (0 until n0)

    // the benchmark's exact search is the recall truth; check it once
    // against the program's brute-force top-k on the start corpus
    val brute = SimilarityIndex.bruteForceTopK(corpus, qDfs.head, k)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    rep.op("brute-force truth") {
      qs.head.map { case (q, v) =>
        (brute.getOrElse(q, Nil) == exactTopK(v),
          s"bruteForceTopK disagrees with exact search for query $q")
      }
    }
    rep.setup(sessionS, reps, Loop.timed(cycle(compactEvery - 1, traced = false, timed = false))._2)

    // whole compaction periods only, so every run samples the same index
    // states (ingest levels and tombstones piling up, then folded away);
    // a traced run traces the even periods, so even a one-period run has one
    val periods = Loop.run(o.seconds, 120) { p =>
      (0 until compactEvery).map { j =>
        cycle(p * compactEvery + j, traced = p % 2 == 0, timed = true)
      }.sum
    }
    if (o.trace) {
      rep.sample("trace.op_p50_s", p50("search"))
      if (times.contains("untraced"))
        rep.sample("trace.overhead_pct", (p50("search") / p50("untraced") - 1) * 100)
      times.getOrElse("recall", Nil).foreach(rep.sample("index.recall_at_10", _))
    }
    // churn throughput at the fixed op mix of one compaction period, from
    // each op kind's median latency: independent of where the loop stopped
    // inside the period
    val period = Seq("append" -> compactEvery, "delete" -> compactEvery,
      "search" -> 2 * compactEvery, "compact" -> 1)
    def perS(suffix: String) =
      period.map(_._2).sum / period.map { case (kind, n) => n * p50(kind + suffix) }.sum
    val opsPerS = perS("")
    rep.e2e("op_cpu_s") = (p50("search_cpu"), "s")
    rep.e2e("items_per_cpu_s") = (perS("_cpu"), "1/s")
    rep.e2e("bytes_per_user_byte") = (p50("bytes"), "ratio")
    rep.info("search_p50_s") = (p50("search"), "s")
    rep.info("append_p50_s") = (p50("append"), "s")
    rep.info("delete_p50_s") = (p50("delete"), "s")
    rep.info("compact_s") = (p50("compact"), "s")
    rep.info("churn_ops_per_s") = (opsPerS, "ops/s")
    rep.info("search_cpu_p50_s") = (p50("search_cpu"), "s")
    rep.info("churn_ops_per_cpu_s") = (perS("_cpu"), "ops/s")
    rep.info("recall_at_10") = (Driver.median(times.getOrElse("recall", Nil).toSeq), "fraction")
    rep.info("cycles") = (periods * compactEvery, "count")
  }

  /** Record a traced search's scan of the assignments and the index's
    * file and tombstone state at that moment. */
  private def recordSearch(c: OpCounters, path: String, queries: Int): Unit = {
    val scans = c.scans.filter(_.root.contains("assignments"))
    // ratio metrics: (numerator, denominator) sample pairs
    rep.sample("index.rows_scored_per_query", scans.map(_.rows).sum)
    rep.sample("index.rows_scored_per_query", queries)
    rep.sample("index.lists_probed_per_query", scans.map(_.listIds).sum)
    rep.sample("index.lists_probed_per_query", queries)
    rep.sample("store.files_read_per_search", scans.map(_.files).sum)
    rep.sample("store.listing_s_per_search", scans.map(_.metadataS).sum)
    rep.sample("store.live_files", Driver.parquetFiles(new File(path, "assignments")))
    val del = new File(path, "deletes")
    rep.sample("store.tombstone_rows",
      if (del.exists) spark.read.parquet(del.getPath).count() else 0)
  }
}
