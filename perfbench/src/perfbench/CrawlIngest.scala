package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, lit, when}

import graft.analysis.LangId
import graft.dedup.Dedup
import graft.pipeline.{Crawl, HtmlText}
import graft.sources.Warc

/** crawl_ingest: seeded WARC batches through `Crawl.ingestBatch` into one
  * growing MinHash corpus index, with the fetched ledger written from
  * `onPageLinks` and language ID run on the survivors. */
final class CrawlIngest(spark: SparkSession, o: Opts, tr: Tracer, cpu: CpuMeter,
                        rep: Report)
    extends Workload {
  import spark.implicits._

  val pages = if (o.tiny) 120 else 300
  val files = 4 // one WARC file per core
  val setupReps = if (o.tiny) 1 else 3
  val gen = new Gen.Crawl(o.seed, pages, dupShare = 0.2, deadShare = 0.05, files)
  /** Generated batches, kept so every set-up repetition ingests the same
    * files; later batches are made just before their op. */
  private val made = mutable.Map.empty[Int, Gen.CrawlBatch]

  def batchAt(b: Int): Gen.CrawlBatch =
    made.getOrElseUpdate(b, gen.batch(b, new File(o.work, s"warc/batch=$b")))

  def records(b: Gen.CrawlBatch): DataFrame =
    Warc.warcRecords(spark.read.format("binaryFile")
      .load(b.files.map(_.getPath): _*).select(col("content").as("payload"))).toDF()

  /** Ingest one batch at `inst` into `index`, writing the fetched ledger
    * under `ledger`. Returns the stats and the survivors' (url, lang). */
  def ingest(b: Gen.CrawlBatch, index: String, ledger: String,
             inst: Int): (Seq[(String, String)], Crawl.BatchStats) = {
    val recs = records(b)
    tr.span("pipeline.ingest") {
      Crawl.ingestBatch(spark, recs, index, inst,
        onPageLinks = pages => tr.span("pipeline.ledger_write") {
          pages.select(col("url"), col("content_md5"),
              when(col("content_md5").isNotNull || col("revisit"), 1L)
                .otherwise(0L).as("n_obs"), lit(0L).as("n_changes"))
            .write.mode("overwrite").parquet(s"$ledger/batch=$inst")
        }) { fresh =>
        tr.span("analysis.langid") {
          LangId.classifyWithConfidence(fresh, "url", "text")
            .select("url", "lang").as[(String, String)].collect().toSeq
        }
      }
    }
  }

  /** Output checks: every planted near-duplicate pruned, every fresh page
    * kept and language-labelled, redirects counted, the ledger complete. */
  def check(b: Gen.CrawlBatch, out: Seq[(String, String)], st: Crawl.BatchStats,
            ledger: String, inst: Int): Seq[(Boolean, String)] = {
    val (kept, stats) =
      if (o.corrupt != "keep_dup" || b.dups.isEmpty) (out, st)
      else (out :+ ((b.dups.head, "xx")),
        st.copy(duplicates = st.duplicates - 1, appended = st.appended + 1))
    val urls = kept.map(_._1)
    val ledgerRows = spark.read.parquet(s"$ledger/batch=$inst").count()
    Seq(
      (stats.duplicates == b.dups.length,
        s"pruned ${stats.duplicates} of ${b.dups.length} planted near-duplicates"),
      (stats.appended == b.fresh.size, s"kept ${stats.appended} of ${b.fresh.size} fresh pages"),
      (urls.length == urls.distinct.length && urls.toSet == b.fresh,
        "survivors differ from the fresh pages"),
      (kept.forall(_._2 != null), "a survivor has no language"),
      (stats.responses == b.fresh.size + b.dups.length,
        s"${stats.responses} text responses, expected ${b.fresh.size + b.dups.length}"),
      (stats.redirects == b.redirects, s"${stats.redirects} redirects, expected ${b.redirects}"),
      (stats.emptyText == 0, s"${stats.emptyText} empty extractions"),
      (ledgerRows == b.records, s"ledger has $ledgerRows rows, expected ${b.records}"))
  }

  /** The layer replays of a traced op, each timed alone on the same batch:
    * the WARC parse, the text extraction, and the MinHash probe against the
    * index as of the previous installment. */
  def replay(b: Gen.CrawlBatch, index: String, inst: Int): Unit = {
    def noop(df: DataFrame): Double =
      Loop.timed(df.write.format("noop").mode("overwrite").save())._2
    rep.sample("sources.warc_parse_s", noop(records(b)))
    val resp = records(b).filter(col("warc_type") === "response" &&
      col("http_status") === 200).localCheckpoint()
    val ext = HtmlText.extractFromBodies(resp, "body", "text",
      "http_content_type", "cs", linksCol = "links", baseCol = "base",
      honorRobotsMeta = true, noindexCol = "noindex", canonicalCol = "canonical")
    rep.sample("pipeline.extract_s", noop(ext))
    val docs = ext.filter(length(col("text")) > 0)
      .select(col("target_uri").as("url"), col("text")).localCheckpoint()
    rep.sample("dedup.probe_s", noop(Dedup.minhashIndexProbe(spark, index, docs,
      "text", "url", asOfInstallment = inst - 1)))
    Dedup.release(docs); Dedup.release(resp)
  }

  def run(sessionS: Double): Unit = {
    val (_, genS) = Loop.timed { batchAt(0); batchAt(1) }
    rep.info("gen_s") = (genS, "s")
    var index = ""
    var ledger = ""

    /** One timed, checked ingest op: its wall and CPU seconds. */
    def op(b: Int, traced: Boolean): (Double, Double) = {
      val batch = batchAt(b)
      val cpu0 = cpu.now()
      tr.beginOp(b, traced)
      val t0 = System.currentTimeMillis()
      val ((out, stats), dt) =
        try Loop.timed(tr.span("op.ingest_batch")(ingest(batch, index, ledger, b)))
        catch { case e: Throwable => tr.endOp(); rep.crashed(s"batch $b", e); return (0.0, 0.0) }
      val c = tr.endOp()
      val cpuS = cpu.now() - cpu0
      if (c != null) {
        rep.counters(c, t0, dt, batch.freshTextBytes)
        rep.sample("dedup.pruned_per_planted",
          if (batch.dups.isEmpty) 1.0 else stats.duplicates.toDouble / batch.dups.length)
        val self = tr.selfSeconds
        for ((span, metric) <- Seq("pipeline.ingest" -> "pipeline.ingest_self_s",
            "pipeline.ledger_write" -> "pipeline.ledger_write_s",
            "analysis.langid" -> "analysis.langid_s"))
          self.get((b, span)).foreach(rep.sample(metric, _))
        replay(batch, index, b)
      }
      rep.op(s"batch $b")(check(batch, out, stats, ledger, b))
      (dt, cpuS)
    }

    // setup: bootstrap a fresh index with batch 0, repeated (the median
    // counts), then warm the last one with two probing batches
    val reps = (0 until setupReps).map { r =>
      index = new File(o.work, s"minhash-$r").getPath
      ledger = new File(o.work, s"fetched-$r").getPath
      op(0, traced = false)._1
    }
    rep.setup(sessionS, reps, op(1, traced = false)._1 + op(2, traced = false)._1)

    def stored = Driver.dirBytes(new File(index)) + Driver.dirBytes(new File(ledger))
    val times = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    var grown = 0L // index and ledger bytes the timed batches added
    var kept = 0L // text bytes of the pages they kept
    var recs = 0L
    var bytes = 0L
    Loop.run(o.seconds, 120) { i =>
      val b = 3 + i
      val batch = batchAt(b)
      made.remove(b - 1) // set-up is done; only the current batch is needed
      val traced = i % 2 == 1
      val before = stored
      val (dt, cpuS) = op(b, traced)
      grown += stored - before; kept += batch.freshTextBytes
      if (!o.trace || traced) { times += dt; cpus += cpuS } else untraced += dt
      recs += batch.records; bytes += batch.bytes
      dt
    }
    if (o.trace) {
      rep.sample("trace.op_p50_s", Driver.median(times.toSeq))
      if (untraced.nonEmpty)
        rep.sample("trace.overhead_pct",
          (Driver.median(times.toSeq) / Driver.median(untraced.toSeq) - 1) * 100)
    }
    val loopS = times.sum + untraced.sum
    rep.e2e("op_cpu_s") = (Driver.median(cpus.toSeq), "s")
    rep.e2e("items_per_cpu_s") = (recs / cpus.sum, "1/s")
    rep.e2e("bytes_per_user_byte") = (grown.toDouble / kept, "ratio")
    rep.info("ingest_docs_per_s") = (recs / loopS, "docs/s")
    rep.info("ingest_batch_p50_s") = (Driver.median(times.toSeq), "s")
    rep.info("ingest_mb_per_s") = (bytes / loopS / 1e6, "MB/s")
    rep.info("ingest_batch_cpu_p50_s") = (Driver.median(cpus.toSeq), "s")
    rep.info("batches") = (times.length + untraced.length, "count")
  }
}
