package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/**
 * Structured-Streaming extensions (SURVEY.md §2.8 "Streaming"): the
 * reference is batch-only, so these are the Spark-native additions a
 * continuous ingest of the same pipelines needs — watermarked windowed
 * aggregation, state-bounded streaming dedup (the streaming form of the
 * lexicon's TryPut set semantics), and stateful sessionization.
 *
 * All transforms take a generic DataFrame so the same code runs on a
 * `readStream` source in production and a `MemoryStream`/file source in
 * tests. At scale: state stores are keyed by the groupBy keys and bounded
 * by the watermark — no unbounded driver or executor state.
 */
object EventStreams extends Serializable {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-JVM cache of the crawl stream's maintenance bloom, keyed by
    * (path, file modification time): a 1 B-url filter at 1% fpp is
    * ~1.2 GB — re-reading AND re-broadcasting it every micro-batch
    * would swamp the very cost the bloom removes. The artifact only
    * changes when maintenance swaps it (atomic rename = new mtime), so
    * mtime is a sound cache key; the superseded broadcast is released
    * when a new one loads. A FETCHED-ONLY artifact (r15 — built for
    * [[graft.pipeline.Crawl.compactNext]], its meta records
    * `next=0`) is REFUSED (cached as such, broadcast-free): the
    * stream's pre-cutoff routing assumes the filter covers the emitted
    * `next/` ledger, and a filter that doesn't would false-negative
    * every pending url into a re-emission leak. Driver-side only. */
  @transient private lazy val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, Long, org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter])]()

  private def cachedFetchedBloom(spark: SparkSession, bloomPath: String)
      : Option[(org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter], Long)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(bloomPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val mtime = fs.getFileStatus(p).getModificationTime
    val hit = bloomCache.get(bloomPath)
    if (hit != null && hit._1 == mtime)
      return if (hit._3 == null) None else Some((hit._3, hit._2))
    graft.pipeline.Crawl.loadFetchedBloomArtifact(spark, bloomPath)
      .flatMap { a =>
        val bc = if (a.coversNext) spark.sparkContext.broadcast(a.bloom)
                 else null // refused: fetched-only filter (see doc)
        val old = bloomCache.put(bloomPath, (mtime, a.coversBelow, bc))
        if (old != null && old._3 != null) old._3.unpersist(blocking = false)
        if (bc == null) {
          log.warn(s"crawl bloom at $bloomPath is fetched-only " +
            "(next=0) — the stream needs a next-covering artifact; " +
            "falling back to the exact frontier path")
          None
        } else Some((bc, a.coversBelow))
      }
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionUpdate(user_id: Long, session_start: Timestamp,
                                 n_events: Long, total_value: Double)

  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Watermarked per-window, per-type counts and sums (append mode capable;
    * a batch frame passes through unchanged — EliminateEventTimeWatermark
    * drops the no-op watermark). The value sum goes through DECIMAL so the
    * result is summation-order independent (reproducible across retries,
    * partitionings, and engines). */
  def windowedTypeCounts(events: DataFrame, window_ : String = "5 minutes",
                         watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /**
   * Streaming dedup with bounded state: first event per key wins — key-only
   * semantics (a re-send of the same key at a different timestamp is still
   * a duplicate), with state bounded by the watermark via
   * `dropDuplicatesWithinWatermark` (≙ ColumnWriter.TryPut set semantics,
   * continuously).
   */
  def dedupByKey(events: DataFrame, keyCol: String = "event_id",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Timestamp → epoch microseconds (Spark's native timestamp precision;
    * ms-level getTime alone would truncate the µs the test events carry). */
  private def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsToTs(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Shared session fold: run this batch's events (event-time order,
    * microsecond precision) against the open session, returning the closed
    * sessions in emit order plus the still-open tail. */
  private def foldSessions(userId: Long, rows: Iterator[Event],
                           open: Option[SessionState], gapSeconds: Long)
      : (List[SessionUpdate], Option[SessionState]) = {
    val sorted = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
    var out = List.empty[SessionUpdate]
    var cur = open
    sorted.foreach { e =>
      val t = tsMicros(e.ts)
      cur match {
        case Some(st) if t - st.last > gapSeconds * 1000000L =>
          out = SessionUpdate(userId, microsToTs(st.start), st.n, st.total) :: out
          cur = Some(SessionState(t, t, 1L, e.value))
        case Some(st) =>
          cur = Some(st.copy(last = math.max(st.last, t), n = st.n + 1,
            total = st.total + e.value))
        case None =>
          cur = Some(SessionState(t, t, 1L, e.value))
      }
    }
    (out.reverse, cur)
  }

  /**
   * Stateful sessionization with flatMapGroupsWithState: a session closes
   * when a later event arrives more than `gapSeconds` after it (gap
   * detection in event time, microsecond precision); closed sessions are
   * emitted downstream. The trailing open session stays in state — use
   * `sessionizeWithTimeout` when it must flush; this NoTimeout variant
   * keeps micro-batches fully deterministic. The same code runs in batch
   * (state starts empty, only closed sessions emit) — SparkEntry's
   * q_events_closed_sessions oracles it against a DuckDB window rewrite.
   */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800)(
    implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[SessionUpdate] = {
      val (closed, cur) = foldSessions(userId, rows, state.getOption, gapSeconds)
      cur.foreach(state.update)
      closed.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(update)
  }

  /**
   * Durable sessionization: same gap semantics as `sessionize`, but the
   * trailing open session flushes once the event-time watermark passes
   * `last + gapSeconds` — the exact moment no in-order event can extend it
   * (EventTimeTimeout; state is removed on flush, so state size stays
   * bounded by the number of concurrently-open sessions). Requires an
   * event-time source; the watermark is applied here.
   */
  def sessionizeWithTimeout(events: Dataset[Event], gapSeconds: Long = 1800,
                            watermark: String = "10 minutes")(
    implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[SessionUpdate] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(SessionUpdate(userId, microsToTs(st.start), st.n, st.total))
      } else {
        val (closed, cur) = foldSessions(userId, rows, state.getOption, gapSeconds)
        cur.foreach { st =>
          state.update(st)
          // flush at last+gap; clamp above the current watermark (a late
          // event can leave last+gap already behind it, which Spark rejects)
          val flushAt = Math.floorDiv(st.last, 1000L) + gapSeconds * 1000L
          state.setTimeoutTimestamp(math.max(flushAt, state.getCurrentWatermarkMs() + 1L))
        }
        closed.iterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /**
   * End-to-end Structured Streaming run over a parquet events path:
   * readStream → watermarked hourly window aggregation → memory sink,
   * Trigger.AvailableNow (process everything, then stop). Returns the
   * materialized result table. This is the genuine streaming engine path —
   * state store, watermark tracking, micro-batch planner — executed batch-
   * deterministically, so the same DuckDB oracle as the batch rollup holds.
   */
  /** readStream source + watermarked hourly aggregation shared by the
    * memory-sink and durable-sink runners. */
  private def hourlyAggStream(spark: SparkSession, eventsPath: String,
                              maxFilesPerTrigger: Option[Int]): DataFrame = {
    // callers (runHourlyStream*) hold the scoped nanos conf for the whole
    // run: a streaming source may consult it again at micro-batch planning,
    // so the restore must come after awaitTermination, not after this call
    val schema = spark.read.parquet(eventsPath).schema
    // the file-stream source wants a directory to monitor: stream the path
    // itself when it already is one (standard multi-file parquet layout),
    // else its parent glob-filtered to the single file
    val p = new org.apache.hadoop.fs.Path(eventsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // getFileStatus throws on glob strings — treat non-statable paths like
    // single-file/glob leaves and stream the parent with a glob filter
    val isDir =
      try fs.getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    graft.sources.Sources.normalizeEventTs(
      if (isDir) reader.parquet(eventsPath)
      else reader.option("pathGlobFilter", p.getName).parquet(p.getParent.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
  }

  def runHourlyStream(spark: SparkSession, eventsPath: String,
                      queryName: String = "graft_stream_hourly"): DataFrame =
    graft.sources.Sources.withNanosAsLong(spark) {
      val stream = hourlyAggStream(spark, eventsPath, None)
      val q = stream.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(queryName)
    }

  /**
   * Durable-sink variant of the hourly stream: update output mode through
   * `foreachBatch` into an append-only parquet CHANGELOG — each micro-batch
   * appends only its changed aggregate rows stamped with the batch id, and
   * `compactHourlyLog` resolves last-writer-wins per (hour, event_type) on
   * read. This is the compacted-topic shape a 100 TB continuous ingest
   * needs: the state store ships only changed rows per batch, a batch
   * writes one small file set regardless of how many distinct keys exist
   * (partitioning the sink BY the aggregation key would mint one tiny file
   * per aggregate row — millions of files at scale), the checkpoint makes
   * the run resumable, and a replayed batch appends identical rows under
   * the same batch_id so the read-side resolution is replay-idempotent.
   * A periodic maintenance job can rewrite the log with its own compacted
   * output to bound read amplification.
   */
  def runHourlyStreamDurable(spark: SparkSession, eventsPath: String,
                             outPath: String, checkpointPath: String,
                             maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.sources.Sources.withNanosAsLong(spark) {
      val stream = hourlyAggStream(spark, eventsPath, maxFilesPerTrigger)
      val q = stream.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the changelog written above is plain µs timestamps — no nanos conf
    compactHourlyLog(spark.read.parquet(outPath))
  }

  /** Resolve the durable changelog to current state: the highest batch_id
    * wins per aggregation key (one hash aggregation — no window funnel). */
  def compactHourlyLog(log: DataFrame): DataFrame =
    log.groupBy("hour", "event_type")
      .agg(max_by(struct(col("n"), col("sum_value")), col("batch_id")).as("_v"))
      .select(col("hour"), col("event_type"),
        col("_v.n").as("n"), col("_v.sum_value").as("sum_value"))

  /**
   * Changelog maintenance — the periodic job the durable sink contract
   * promises: rewrite the log as its compacted state so read amplification
   * stays flat (one row per aggregation key) no matter how many
   * micro-batches have appended. The compacted rows carry the log's current
   * max batch_id: a resumed stream's next micro-batch id is strictly
   * greater, so later appends still win last-writer-wins against the
   * rewritten baseline, and re-running the job is idempotent. The rewrite
   * materializes fully in a side dir before a delete+rename swap — a reader
   * concurrent with the swap sees either the old or the new log, and both
   * compact to the same state. (On an object store where rename is
   * copy+delete, run the job in the stream's maintenance window or layer
   * the log on a table format with atomic commits; HDFS/posix renames are
   * atomic.) Returns the compacted row count.
   */
  def compactAndRewrite(spark: SparkSession, outPath: String): Long = {
    import org.apache.hadoop.fs.Path
    val log = spark.read.parquet(outPath)
    val maxBatch = log.agg(max(col("batch_id"))).head().getLong(0)
    val compacted = compactHourlyLog(log).withColumn("batch_id", lit(maxBatch))
    val out = new Path(outPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(outPath + "._compacting")
    // overwrite: a crashed prior compaction leaves only this side dir
    compacted.write.mode("overwrite").parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()
    if (!fs.delete(out, true) || !fs.rename(tmp, out))
      throw new java.io.IOException(s"changelog swap failed for $outPath")
    // recache any CACHED plans over the path; note that (standard Spark
    // overwrite semantics) lazy DataFrames created over the log BEFORE the
    // rewrite hold the old file listing and must be re-created — fresh
    // `spark.read.parquet(outPath)` calls list fresh and see the new log
    spark.catalog.refreshByPath(outPath)
    rows
  }

  /**
   * Streaming as-of enrichment: each left row of a STREAM picks up the
   * latest right row at-or-before its timestamp from a STATIC snapshot —
   * the quote-at-trade-time shape, continuously
   * (≙ graft.operators.AsofJoin.asofBackward, run per micro-batch).
   *
   * `foreachBatch` is the supported shape, not a workaround: the as-of
   * sweep is a batch plan (repartition + sortWithinPartitions +
   * mapPartitions) and Structured Streaming forbids partition sorts in a
   * continuous plan. Per-micro-batch application is semantics-TRANSPARENT
   * here because a left row's enrichment depends only on that row and the
   * right snapshot — never on other left rows — so any micro-batch
   * slicing of the stream yields exactly the batch operator's output
   * (spec-pinned equality across multi-batch runs in AsofEnrichStreamSpec).
   *
   * The right side is lazily re-evaluated every micro-batch: a
   * parquet-backed snapshot picks up data landed between batches (the
   * daily-refreshed quote table under a long-running stream).
   * `localCheckpoint()` or cache it first if the stream must see one
   * frozen snapshot for its whole life.
   *
   * Returns a configured `DataStreamWriter` — set `checkpointLocation` /
   * trigger and `.start()` it. The sink callback receives each enriched
   * micro-batch with its batch id (exactly-once under retries only if the
   * sink is idempotent per batch id, the standard foreachBatch contract).
   */
  def asofEnrichStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                       leftTsCol: String, rightTsCol: String,
                       payloadCols: Seq[String])
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    left.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.AsofJoin.asofBackward(batch.toDF(), right,
          keyCols, leftTsCol, rightTsCol, payloadCols), batchId)
        ()
    }

  /**
   * Streaming range enrichment — the [[asofEnrichStream]] sibling for
   * interval semantics: each micro-batch of point events joins the
   * static/snapshot interval table through the binned equi-join
   * (graft.operators.RangeJoin.binnedRangeJoin — bins + exact BETWEEN
   * filter, never a nested-loop theta join). Semantics-transparent
   * per-batch because one event's interval matches never depend on
   * other events; per-batch cost is the batch's bin shuffle + the
   * interval-side scan, so size micro-batches to amortize the snapshot
   * scan exactly as with the as-of form.
   */
  def rangeEnrichStream(events: DataFrame, intervals: DataFrame,
                        keyCols: Seq[String], startCol: String, endCol: String,
                        tsCol: String, binWidthUs: Long = 3600000000L)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.operators.RangeJoin.binnedRangeJoin(intervals, batch.toDF(),
          keyCols, startCol, endCol, tsCol, binWidthUs), batchId)
        ()
    }

  /**
   * Continuous ingest dedup — the daily-ingest loop the appendable
   * MinHash index exists for, run per micro-batch: probe the batch
   * against the PERSISTED index (graft.dedup.Dedup.minhashIndexProbe —
   * stored corpus read map-side, never re-banded), drop batch rows with
   * a stored near-duplicate, fold the survivors into the index
   * (minhashIndexAppend — one new installment, nothing rewritten), and
   * emit exactly the surviving rows to the sink. State is the index
   * itself: durable, shared, resumable — no Spark state store grows with
   * corpus size, which is what breaks `dropDuplicates` dedup at 100 TB.
   *
   * The survivors are materialized (localCheckpoint) BEFORE the append:
   * the anti-join is otherwise lazy, and evaluating it after the append
   * would re-probe against an index that now contains the batch itself —
   * every row would look like its own duplicate. Blocks are released as
   * soon as the sink callback returns.
   *
   * Near-dup semantics are batch-vs-STORED: rows inside one micro-batch
   * that duplicate each other both survive (then coexist in the index,
   * exactly as the append's new-ids contract allows). Compose an
   * intra-batch pass (Dedup.dropExactDuplicates / minhashNearDuplicates)
   * upstream when that matters.
   *
   * REPLAY-IDEMPOTENT since late r15 (the last auto-numbering ingest
   * loop closed): the installment is a pure function of batchId
   * (`StreamInstallmentBase + batchId` — the shared numbering contract)
   * and the probe pins `asOf` the PREVIOUS installment, so a replayed
   * batch never sees its own completed append: it recomputes the same
   * survivor set, re-emits it (deterministic re-emission, not
   * suppression-by-self-match), and `minhashIndexAppendAt` OVERWRITES
   * its own partitions instead of minting a duplicate installment —
   * the pre-r15 'duplicate installments of identical rows are
   * possible' tolerance is gone. Contract: ONE ingest stream per index
   * (the bm25IngestStream wording); pre-stream installments all sit
   * below `StreamInstallmentBase`, so the asOf includes them.
   *
   * The index at `indexPath` must exist ([[graft.dedup.Dedup
   * .minhashIndexBuild]] — an empty corpus build is valid and makes the
   * stream self-bootstrapping).
   */
  def dedupIngestStream(spark: SparkSession, docs: DataFrame, indexPath: String,
                        textCol: String, idCol: String,
                        threshold: Double = 0.8, maxBucketSize: Int = 1000)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val inst = StreamInstallmentBase + batchId.toInt
        val dupIds = graft.dedup.Dedup.minhashIndexProbe(spark, indexPath,
          batch.toDF(), textCol, idCol, threshold, maxBucketSize,
          asOfInstallment = inst - 1)
          .select(col("new_id").as(idCol)).distinct()
        val fresh = batch.toDF().join(dupIds, Seq(idCol), "left_anti")
          .localCheckpoint()
        try {
          graft.dedup.Dedup.minhashIndexAppendAt(spark, indexPath, fresh,
            inst, textCol, idCol)
          sink(fresh, batchId)
        } finally fresh.unpersist()
        ()
    }

  /** Streaming BM25 installments live at `StreamInstallmentBase +
    * batchId` — disjoint from any batch append a sane cadence produces
    * (auto-numbered appends count up from 0; a stream would need 2^20
    * of them to collide). */
  val StreamInstallmentBase: Int = 1 << 20

  /**
   * Continuous ingest into the appendable BM25 index: every micro-batch
   * lands as ONE index installment (postings + df/stats deltas —
   * [[graft.index.Bm25.bm25IndexAppendAt]], nothing rewritten), so a
   * search sees each batch's documents as soon as its installment is
   * down, with exact global statistics.
   *
   * Replay-idempotent BY NUMBERING: the installment is a pure function
   * of batchId (`StreamInstallmentBase + batchId`), so foreachBatch's
   * at-least-once replays overwrite their own partition dirs instead of
   * minting duplicate deltas — df/N/avgdl can never double-count, even
   * across stream restarts (batchIds continue from the checkpoint).
   * Contract: ONE ingest stream per index (concurrent writers would need
   * disjoint numbering ranges), batch ids below 2^20 of headroom vs
   * auto-numbered batch appends.
   *
   * The index must exist ([[graft.index.Bm25.bm25IndexBuild]] — an
   * empty-corpus build is valid and makes the stream self-bootstrapping).
   * Compose [[dedupIngestStream]] upstream to drop near-duplicates
   * before they enter the search index.
   */
  def bm25IngestStream(spark: SparkSession, docs: DataFrame, indexPath: String,
                       idCol: String = "doc_id", textCol: String = "text")
                      (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Bm25.bm25IndexAppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, textCol)
        sink(batchId)
        ()
    }

  /**
   * Streaming LM quality scoring — the [[asofEnrichStream]] sibling for
   * the persisted [[graft.analysis.NgramLm]] model: each micro-batch of
   * documents scores against the index snapshot via foreachBatch
   * (semantics-transparent per batch — one document's score never depends
   * on other stream documents; delta-summed counts resolve fresh per
   * batch, so appends landing between batches take effect immediately).
   * Compose with [[lmIngestStream]] on a separate corpus stream for a
   * continuously-learning quality gate.
   */
  def lmScoreStream(spark: SparkSession, docs: DataFrame, indexPath: String,
                    textCol: String = "text", idCol: String = "doc_id",
                    minCount: Long = 1L)
                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.analysis.NgramLm.lmScoreIndexed(spark, indexPath,
          batch.toDF(), textCol, idCol, minCount), batchId)
        ()
    }

  /**
   * Streaming classification — the [[lmScoreStream]] sibling for
   * [[graft.analysis.Classify]]: each micro-batch scores against the same
   * trained centroid model (a static table — train once on the curated
   * slice, classify the firehose), applied semantics-transparently per
   * batch through foreachBatch, so stream output equals the batch
   * operator on the same rows. The model broadcasts per batch exactly as
   * in batch scoring; batches with no model-overlapping tokens emit
   * nothing (the batch contract).
   */
  def classifyStream(spark: SparkSession, docs: DataFrame, model: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text")
                    (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.analysis.Classify.centroidScore(batch.toDF(), model,
          idCol, textCol), batchId)
        ()
    }

  /**
   * Streaming decontamination — drop incoming documents sharing n-grams
   * with a STATIC benchmark table before they ever land in the corpus
   * (filtering at ingest beats retroactive sweeps: the contaminated row
   * never exists downstream). Per-batch application of
   * [[graft.pipeline.Decontaminate.decontaminate]], so stream == batch on
   * the same rows; the benchmark gram set builds per batch — pre-compute
   * and cache the benchmark DataFrame when batches are frequent.
   */
  def decontaminateStream(spark: SparkSession, docs: DataFrame,
                          benchmark: DataFrame, n: Int,
                          idCol: String = "doc_id", textCol: String = "text")
                         (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.pipeline.Decontaminate.decontaminate(batch.toDF(), idCol,
          textCol, benchmark, n), batchId)
        ()
    }

  /**
   * Continuous ingest into the span-dedup window index — the
   * [[bm25IngestStream]] sibling for [[graft.pipeline.SpanDedup]]: every
   * micro-batch's window-hash count deltas land as one `installment =
   * StreamInstallmentBase + batchId` partition (replay-idempotent by the
   * same pure-function numbering; same single-writer contract), so
   * incoming batches can be span-deduped against an index that tracks the
   * corpus continuously. The index must exist
   * ([[graft.pipeline.SpanDedup.spanIndexBuild]]).
   */
  def spanIngestStream(spark: SparkSession, docs: DataFrame, indexPath: String,
                       idCol: String = "doc_id", textCol: String = "text")
                      (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.pipeline.SpanDedup.spanIndexAppendAt(spark, indexPath,
          batch.toDF(), StreamInstallmentBase + batchId.toInt, textCol, idCol)
        sink(batchId)
        ()
    }

  /**
   * Continuous ingest into the appendable n-gram LM count model — the
   * [[bm25IngestStream]] sibling for [[graft.analysis.NgramLm]]: every
   * micro-batch's unigram/bigram/total-token count deltas land as one
   * `installment = StreamInstallmentBase + batchId` partition
   * (replay-idempotent by the same pure-function numbering; same
   * single-writer contract), so LM quality scoring tracks the incoming
   * corpus with exact delta-summed counts. The model must exist
   * ([[graft.analysis.NgramLm.lmIndexBuild]] — an empty-corpus build is
   * valid and makes the stream self-bootstrapping).
   */
  def lmIngestStream(spark: SparkSession, docs: DataFrame, indexPath: String,
                     textCol: String = "text")
                    (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.analysis.NgramLm.lmIndexAppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, textCol)
        sink(batchId)
        ()
    }

  /**
   * Continuous ingest into the int8-quantized vector index — the
   * [[bm25IngestStream]] sibling: every micro-batch quantizes with the
   * STORED scale and lands as one `installment = StreamInstallmentBase +
   * batchId` partition (replay-idempotent by the same pure-function
   * numbering; same single-writer contract). Searches see each batch as
   * soon as its installment is down; `asOfInstallment` still pins
   * snapshots. The index must exist ([[graft.index.Quantize.int8Build]]).
   *
   * For the IVF family, see [[ivfIngestStream]]/[[ivfSq8IngestStream]] —
   * the two-level `list_id=X/ingest=N` layout keeps list pruning at the
   * top partition while the ingest level gives streaming batches their
   * own idempotently-overwritable dirs.
   */
  def int8IngestStream(spark: SparkSession, vecs: DataFrame, indexPath: String,
                       idCol: String = "vec_id", vecCol: String = "embedding")
                      (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Quantize.int8AppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, vecCol)
        sink(batchId)
        ()
    }

  /**
   * [[int8IngestStream]]'s product-quantization sibling (r16): every
   * micro-batch encodes with the STORED codebooks and lands as one
   * `installment = StreamInstallmentBase + batchId` partition
   * ([[graft.index.Pq.pqAppendAt]] — replay-idempotent by the shared
   * pure-function numbering; same single-writer contract). Searches
   * see each batch as soon as its installment is down;
   * `asOfInstallment` still pins snapshots. The index must exist
   * ([[graft.index.Pq.pqBuild]] — codebooks need a fitted corpus).
   */
  def pqIngestStream(spark: SparkSession, vecs: DataFrame, indexPath: String,
                     idCol: String = "vec_id", vecCol: String = "embedding")
                    (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Pq.pqAppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, vecCol)
        sink(batchId)
        ()
    }

  /**
   * [[pqIngestStream]]'s IVF-routed sibling (r17): each micro-batch
   * assigns against the STORED coarse centroids, encodes with the
   * STORED codebooks and lands as `list_id=X/ingest=N` dirs with
   * `N = StreamInstallmentBase + batchId`
   * ([[graft.index.Pq.ivfPqAppendAt]] — dynamic partition overwrite
   * makes a replay replace exactly its own dirs; the raw/ refine
   * sidecar rides the identical numbering). The index must exist
   * ([[graft.index.Pq.ivfPqBuild]]).
   */
  def ivfPqIngestStream(spark: SparkSession, vecs: DataFrame,
                        indexPath: String, idCol: String = "vec_id",
                        vecCol: String = "embedding")
                       (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Pq.ivfPqAppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, vecCol)
        sink(batchId)
        ()
    }

  /**
   * Continuous TAKEDOWN ingest — the delete mirror of the ingest loops:
   * each micro-batch of deleted ids lands as its own
   * `deletes/installment = StreamInstallmentBase + batchId` partition of
   * an int8/IVF-SQ8 index's tombstone sidecar
   * ([[graft.index.Quantize.int8DeleteAt]] — a replay overwrites its own
   * partition, so at-least-once delivery can never bloat the tombstone
   * set). Searches and probes reflect each batch as soon as its
   * partition is down (takedown semantics — snapshots included); the
   * next compaction folds the deletions physically and clears the
   * sidecar, after which replays of pre-compaction batches are out of
   * contract (the standing single-writer rule, shared with every ingest
   * loop). One delete stream OR one sequential deleter per index —
   * concurrent writers would need disjoint numbering ranges.
   */
  def tombstoneIngestStream(spark: SparkSession, ids: DataFrame,
                            indexPath: String, idCol: String = "vec_id")
                           (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Quantize.int8DeleteAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol)
        sink(batchId)
        ()
    }

  /**
   * Continuous perceptual-hash dedup ingest — the image/audio daily-
   * ingest loop over the persisted hamming index
   * ([[graft.dedup.Dedup.hammingIndexBuild]]), and the ninth ingest
   * loop: each micro-batch of (id, 64-bit hash) rows — image aHashes,
   * audio fingerprints, text simhashes, anything hamming-spaced — prunes
   * against the STORED hashes (anchored components drop, batch-only
   * components keep their min id) and the survivors fold in as that
   * batch's installment. The historical corpus is never re-hashed (or
   * re-decoded — at 100 TB of images THAT is the win: probing costs a
   * 16-byte-per-row hash scan, not a pixel decode).
   *
   * Replay idempotence is the int8 dedup loop's argument: the probe pins
   * `asOfInstallment = StreamInstallmentBase + batchId − 1`, excluding
   * this batch's own possibly-landed installment, so a replay probes
   * exactly what the first attempt probed and the overwrite reproduces
   * the same survivors. Single writer; compaction folds history (after
   * which pre-compaction replays are out of contract). The index must
   * exist ([[graft.dedup.Dedup.hammingIndexBuild]] — an empty build IS
   * valid here: hashes are caller-supplied rows, nothing is fitted).
   */
  def hammingDedupIngestStream(spark: SparkSession, rows: DataFrame,
                               indexPath: String, idCol: String = "id",
                               hashCol: String = "h", maxHamming: Int = 3)
                              (sink: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val inst = StreamInstallmentBase + batchId.toInt
        val survivors = graft.dedup.Dedup.hammingIndexPrune(spark, indexPath,
          batch.toDF(), idCol, hashCol, maxHamming,
          asOfInstallment = inst - 1)
        graft.dedup.Dedup.hammingIndexAppendAt(spark, indexPath, survivors,
          inst, idCol, hashCol)
        graft.dedup.Dedup.release(survivors)
        val kept = spark.read
          .parquet(s"$indexPath/hashes/installment=$inst").count()
        sink(batchId, kept)
        ()
    }

  /**
   * Continuous ingest into the persisted video frame-hash index
   * ([[graft.dedup.Dedup.videoIndexBuild]]) — each micro-batch of
   * (id, frame_idx, hash) rows lands as its own `installment =
   * StreamInstallmentBase + batchId` partition of frames/sizes/dfs via
   * [[graft.dedup.Dedup.videoIndexAppendAt]], which overwrites ALL THREE
   * partitions at that number — a replay reproduces them exactly, so
   * at-least-once delivery can never double-count a frame set (the
   * shared `*AppendAt` contract; single writer; compaction folds the
   * history). Containment probes reflect each batch as soon as its
   * partitions are down.
   */
  def videoIngestStream(spark: SparkSession, frames: DataFrame,
                        indexPath: String, idCol: String = "id",
                        frameIdxCol: String = "frame_idx",
                        hashCol: String = "ahash")
                       (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    frames.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.dedup.Dedup.videoIndexAppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, frameIdxCol, hashCol)
        sink(batchId)
        ()
    }

  /**
   * The video dedup-ingest loop — [[hammingDedupIngestStream]] in
   * containment space: each micro-batch of (id, frame_idx, hash) rows is
   * pruned against the stored frame sets
   * ([[graft.dedup.Dedup.videoIndexPrune]] — a batch video drops when a
   * stored video contains it at `threshold`, batch-only near-dup groups
   * keep their min id) and the SURVIVING videos' frames fold in as that
   * batch's installment. Replay idempotence is the shared argument: the
   * prune probes AS OF `StreamInstallmentBase + batchId − 1` (excluding
   * this batch's own possibly-landed partitions) and the append
   * overwrites all three partitions at the same number. Single writer;
   * compaction folds history.
   */
  def videoDedupIngestStream(spark: SparkSession, frames: DataFrame,
                             indexPath: String, threshold: Double = 0.9,
                             idCol: String = "id",
                             frameIdxCol: String = "frame_idx",
                             hashCol: String = "ahash")
                            (sink: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    frames.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val inst = StreamInstallmentBase + batchId.toInt
        val survivors = graft.dedup.Dedup.videoIndexPrune(spark, indexPath,
          batch.toDF(), idCol, hashCol, threshold,
          asOfInstallment = inst - 1)
        graft.dedup.Dedup.videoIndexAppendAt(spark, indexPath, survivors,
          inst, idCol, frameIdxCol, hashCol)
        graft.dedup.Dedup.release(survivors)
        val kept = spark.read
          .parquet(s"$indexPath/sizes/installment=$inst").count()
        sink(batchId, kept)
        ()
    }

  /**
   * The crawl-to-corpus loop — the engine's pieces composed end-to-end
   * on a STREAM of raw crawl files: each micro-batch of WARC file bytes
   * (the shape a crawl delivery drops into object storage) parses via
   * [[graft.sources.Warc.warcRecords]], keeps 200-status HTTP responses,
   * extracts visible text ([[graft.pipeline.HtmlText]]), prunes
   * near-duplicates against the PERSISTED minhash corpus index (probe AS
   * OF `inst - 1` — this batch's own possibly-landed installment is
   * excluded, the shared dedup-ingest replay guard), and folds the
   * surviving (url, text) documents in as the batch's installment via
   * the replay-idempotent [[graft.dedup.Dedup.minhashIndexAppendAt]].
   * `sink` receives the surviving documents per batch (the corpus
   * writer's hook — land them as parquet, feed BM25 ingest, etc.).
   *
   * Like [[dedupIngestStream]], batch-INTERNAL duplicates ride along
   * (both copies survive against the stored corpus and pair only in the
   * NEXT batch's probe); a corpus writer that needs intra-batch
   * uniqueness runs [[graft.dedup.Dedup.minhashNearDuplicates]] on the
   * survivors. URLs are the document ids — the minhash family is
   * id-type-agnostic end-to-end.
   *
   * `frontierDir`, when set, lands two tables per batch, both
   * `batch=$batchId` partitions written mode(overwrite) — pure
   * functions of batchId, so at-least-once replays reproduce their own
   * partitions (the shared replay-idempotence contract):
   *  - `$frontierDir/fetched/` — every url this batch FETCHED:
   *    200-status pages (near-dup-pruned and empty-text included), 3xx
   *    redirect sources, and permanent-4xx dead pages (400–499 except
   *    the transient 408/429, which stay retryable) — none of them may
   *    re-enter. This ledger is what gates frontier re-entry: the
   *    corpus index only remembers APPENDED docs, so without it a
   *    mirror page that prunes every time — or a 404 that a thousand
   *    pages link to — would be refetched every cycle.
   *  - `$frontierDir/next/` — the batch's next-fetch frontier
   *    ([[graft.pipeline.Crawl.frontier]]: outlinks AND redirect
   *    targets, RFC 3986-resolved and normalized, minus batch urls,
   *    the fetched ledger, the corpus urls, AND everything earlier
   *    `next/` partitions already emitted (r14) — a url discovered at
   *    batch N and again at batch N+k emits ONCE, so a fetcher
   *    consuming `next/` across batches never double-fetches a
   *    popular not-yet-crawled url. Fold the partitions with
   *    [[graft.pipeline.Crawl.compactNext]] at maintenance cadence
   *    (ref counts sum; since-fetched rows drop).
   * Links ride the same fused decode pass as the text — the frontier
   * costs no second body decode.
   *
   * `bloomPath`, when set, names a [[graft.pipeline.Crawl
   * .buildFetchedBloom]] maintenance artifact; while it exists, each
   * batch's frontier routes through [[graft.pipeline.Crawl
   * .frontierBloom]] — the crawled-or-emitted universe (fetched ledger
   * + corpus + `next/` emitted urls, all folded into the bloom) up to
   * the bloom's recorded cutoff is checked via the broadcast filter
   * (the corpus-sized `fetched/` union + distinct the exact path pays
   * per batch disappears), and only the [cutoff, batch) trickle of
   * BOTH ledgers plus the batch's own urls are checked exactly
   * (broadcast — bounded by maintenance cadence). The filter itself loads and broadcasts ONCE PER
   * MAINTENANCE CYCLE, not per batch (mtime-keyed driver cache — a
   * corpus-scale bloom is ~GB). Absent/in-progress artifacts fall back
   * to the exact path; output is IDENTICAL either way (no false
   * negatives, false positives rescued). Rebuild the bloom and
   * [[graft.pipeline.Crawl.compactFetched]] at maintenance cadence.
   *
   * `robotsRules`, when set ([[graft.pipeline.Robots.rulesDf]] shape),
   * gates every emitted frontier through `Robots.filterAllowed` for
   * `agentToken` — the stream then never schedules a url the site
   * forbids, matching the CLI `crawl-ingest` behavior.
   *
   * `robotsPath`, when set (r15), names a PARQUET DIR of raw
   * (host, body) robots.txt snapshots that is RE-READ every batch —
   * a long-running stream must pick up a site's changed robots.txt
   * without a restart, where the `robotsRules` DataFrame freezes the
   * rules at stream start. Maintenance lands new snapshots with a
   * normal parquet overwrite; the next batch parses them
   * ([[graft.pipeline.Robots.rulesDf]] — the table is hosts-sized, so
   * the per-batch re-parse is noise). An absent/in-progress dir falls
   * back to `robotsRules` (or no gate) — a maintenance artifact must
   * never wedge the stream, the bloomPath convention. When both are
   * set, `robotsPath` wins while it exists.
   *
   * `blockedDomains`, when set (a `domain` column — exact hosts or
   * suffixes), additionally drops every frontier url on a blocklisted
   * host ([[graft.pipeline.UrlFilter.dropBlockedUrls]], r14): the
   * operator-policy twin of the site-policy robots gate. `dropTraps`
   * (default ON) filters crawl-trap urls
   * ([[graft.pipeline.UrlFilter.isUrlTrap]] — loop paths, unbounded
   * nesting, faceted-query blowups, over-length links) so an infinite
   * URL space cannot eat the fetch budget.
   *
   * `landHostEdges` (late r15) additionally lands the batch's compact
   * host graph as `edges/batch=N` ([[graft.pipeline.Crawl
   * .hostEdgeCounts]] — (src_host, dst_host, n), replay-idempotent
   * overwrite like its sibling ledgers): pages exist only for their
   * batch, so without this artifact the authority loop
   * ([[graft.pipeline.Crawl.hostEdgesLedger]] →
   * [[graft.pipeline.Crawl.scheduleRanked]]) has no graph to rank.
   * Fold the partitions with [[graft.pipeline.Crawl.compactEdges]] at
   * maintenance cadence.
   *
   * `landRobots` (late r15) makes the crawl SELF-FEEDING on robots:
   * each batch's robots.txt fetch outcomes ([[graft.pipeline.Robots
   * .outcomesFromRecords]] — RFC 9309 semantics incl. 5xx disallow and
   * explicit allow sentinels so deleted robots.txt supersede stale
   * rules) land as `robots/batch=N`, and the frontier gates through
   * the accumulated cache ([[graft.pipeline.Robots.rulesFromLedger]] —
   * latest outcome per host wins). Precedence: `robotsPath` >
   * the ledger > `robotsRules`. Needs `frontierDir`.
   *
   * `landImages` (r16) lands each batch's resolved image–text pairs
   * ([[graft.pipeline.Crawl.ingestBatch]]'s `onImages` feed — srcs
   * resolved + normalized like hrefs, figure captions attached) as
   * `images/batch=N`: the LAION-shape multimodal harvesting ledger.
   * Read with [[graft.pipeline.Crawl.imagePairsLedger]] (latest batch
   * per url wins), fold with `compactImages`, purge with `purgeUrls`.
   * Needs `frontierDir`.
   *
   * `landMedia` (r17) lands each batch's audio/video–text pairs
   * harvested from FEED bodies among the 200s (the `onMedia` feed —
   * podcast-RSS/Atom enclosures captioned by item titles, plus
   * supersession sentinels for feeds that harvested nothing) as
   * `media/batch=N`. Read with
   * [[graft.pipeline.Crawl.mediaPairsLedger]], fold with
   * `compactMedia`, purge with `purgeUrls`. Needs `frontierDir`.
   */
  def crawlIngestStream(spark: SparkSession, warcFiles: DataFrame,
                        indexPath: String, threshold: Double = 0.8,
                        maxBucketSize: Int = 1000,
                        payloadCol: String = "payload",
                        frontierDir: String = null,
                        bloomPath: String = null,
                        robotsRules: DataFrame = null,
                        agentToken: String = "graftbot",
                        blockedDomains: DataFrame = null,
                        dropTraps: Boolean = true,
                        robotsPath: String = null,
                        landHostEdges: Boolean = false,
                        landRobots: Boolean = false,
                        landImages: Boolean = false,
                        landMedia: Boolean = false)
                       (sink: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    warcFiles.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val inst = StreamInstallmentBase + batchId.toInt
        // the shared batch body: charset-aware extract -> probe asOf
        // inst-1 -> replay-idempotent fold-in at inst; per-batch decode/
        // prune telemetry goes to the executor log so silent-drop rates
        // are observable on a live crawl
        val conf = spark.sparkContext.hadoopConfiguration
        val metaP = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
        val indexExists = metaP.getFileSystem(conf).exists(metaP)
        val onLinks: org.apache.spark.sql.DataFrame => Unit =
          if (frontierDir == null) null
          else pages => {
            import org.apache.spark.sql.functions.{broadcast, col, lit, when}
            val urls = pages.select(col("url"))
            // the fetched LEDGER first (before its read below, and
            // before the frontier write, so a crash between the two
            // re-runs with the ledger already covering this batch —
            // harmless, batch urls are excluded explicitly anyway).
            // Rows carry the change observation (content_md5, r15) plus
            // explicit churn accumulators so raw and compacted
            // partitions share ONE schema (no mergeSchema reads).
            // Revisit rows (WARC revisit records / 304s — unchanged
            // recaptures) are null-hash OBSERVATIONS: n_obs counts,
            // transitions never pair (the revisit column is always
            // present on ingestBatch pages; the guard keeps older
            // custom feeds working).
            val isObs = col("content_md5").isNotNull ||
              (if (pages.columns.contains("revisit")) col("revisit")
               else lit(false))
            pages.select(col("url"), col("content_md5"),
                when(isObs, 1L).otherwise(0L).as("n_obs"),
                lit(0L).as("n_changes"))
              .write.mode("overwrite")
              .parquet(s"$frontierDir/fetched/batch=$batchId")
            // the host-edge ledger (late r15, opt-in): the compact
            // (src_host, dst_host, n) graph this batch discovered —
            // pages exist only for their batch, so without this
            // artifact scheduleRanked has no graph to rank. Same
            // replay-idempotent batch=N overwrite as its siblings.
            if (landHostEdges)
              graft.pipeline.Crawl.hostEdgeCounts(pages)
                .write.mode("overwrite")
                .parquet(s"$frontierDir/edges/batch=$batchId")
            val fetchedPath =
              new org.apache.hadoop.fs.Path(s"$frontierDir/fetched")
            def fetchedIn(from: Long, until: Long) =
              spark.read.parquet(fetchedPath.toString)
                .filter(col("batch") >= from && col("batch") < until)
                .select(col("url"))
            // the EMITTED ledger gates too (r14): a url emitted at
            // batch N and linked again at batch N+k must not re-emit
            // while it waits to be fetched — a fetcher consuming
            // `next/` across batches would double-fetch everything
            // popular. Unlike fetched/ (written above), next/ does not
            // exist before the first frontier write — hence the probe,
            // which (r15) checks for COMMITTED data files, not the bare
            // dir: a crash between mkdir and the first parquet commit
            // leaves a dir whose read fails schema inference, wedging
            // every replay until manual cleanup.
            val haveNext = graft.pipeline.Crawl.hasCommittedData(spark,
              s"$frontierDir/next")
            def nextIn(from: Long, until: Long) =
              if (!haveNext) urls.limit(0)
              else spark.read.parquet(s"$frontierDir/next")
                .filter(col("batch") >= from && col("batch") < until)
                .select(col("url"))
            val maintained =
              if (bloomPath == null) None
              else cachedFetchedBloom(spark, bloomPath)
            val fr = maintained match {
              case Some((bloomBc, coversBelow)) =>
                // bloom path: the pre-cutoff universe (corpus + fetched
                // batches < coversBelow) never shuffles — it only
                // streams map-side through frontierBloom's rescue join.
                // Corpus urls appended AFTER the bloom build were
                // fetched at some batch >= coversBelow, so the exact
                // `recent` anti-join covers them (out-of-band index
                // writes require a bloom rebuild — the maintenance
                // contract). The trickle + this batch's urls stay
                // broadcast-sized, bounded by maintenance cadence.
                val covered = fetchedIn(Long.MinValue,
                    math.min(coversBelow, batchId))
                  .unionByName(nextIn(Long.MinValue,
                    math.min(coversBelow, batchId)))
                  .unionByName(
                    if (indexExists)
                      graft.pipeline.Crawl.crawledUrlsRaw(spark, indexPath)
                    else urls.limit(0))
                val recent = urls
                  .unionByName(fetchedIn(coversBelow, batchId))
                  .unionByName(nextIn(coversBelow, batchId))
                graft.pipeline.Crawl.frontierBloomBc(pages, covered, bloomBc)
                  .join(broadcast(recent.distinct()), Seq("url"), "left_anti")
              case None =>
                val crawled = urls
                  .unionByName(fetchedIn(Long.MinValue, batchId))
                  .unionByName(nextIn(Long.MinValue, batchId))
                  .unionByName(
                    if (indexExists)
                      graft.pipeline.Crawl.crawledUrls(spark, indexPath)
                    else urls.limit(0))
                graft.pipeline.Crawl.frontier(pages, crawled)
            }
            // live-reload rules (r15): the robots dir re-reads every
            // batch — hosts-sized, so the re-parse is noise next to
            // the batch itself — falling back to the SELF-FED cache
            // ledger (landRobots, late r15 — outcomes this crawl
            // derived from its own robots fetches, latest per host),
            // then the frozen `robotsRules`, then no gate
            val effRules =
              if (robotsPath != null &&
                graft.pipeline.Crawl.hasCommittedData(spark, robotsPath))
                graft.pipeline.Robots.rulesDf(
                  spark.read.parquet(robotsPath))
              else if (landRobots &&
                graft.pipeline.Crawl.hasCommittedData(
                  spark, s"$frontierDir/robots"))
                graft.pipeline.Robots.rulesFromLedger(spark,
                  s"$frontierDir/robots")
              else robotsRules
            val robotsGated =
              if (effRules == null) fr
              else graft.pipeline.Robots.filterAllowed(fr, effRules,
                agentToken)
            // the domain blocklist gates last (r14): a crawl must not
            // even SCHEDULE a blocklisted host — broadcast host-suffix
            // equi-join, the dropBlockedUrls shape
            val blockGated =
              if (blockedDomains == null) robotsGated
              else graft.pipeline.UrlFilter.dropBlockedUrls(robotsGated,
                "url", blockedDomains, "domain")
            // crawl-trap urls (loop paths, faceted blowups, over-length
            // — UrlFilter.isUrlTrap) never enter the fetch queue; ON by
            // default, a real crawler always wants it
            val gated =
              if (!dropTraps) blockGated
              else graft.pipeline.UrlFilter.dropUrlTraps(blockGated, "url")
            gated.write.mode("overwrite")
              .parquet(s"$frontierDir/next/batch=$batchId")
          }
        // the robots-cache ledger (late r15): outcomes derived from
        // the batch's OWN robots fetches land as robots/batch=N
        // (replay-idempotent overwrite) BEFORE the frontier gate reads
        // the accumulated cache — a robots.txt fetched in this batch
        // gates this batch's frontier. Batches without robots fetches
        // land nothing.
        val onRobotsCb: org.apache.spark.sql.DataFrame => Unit =
          if (!landRobots || frontierDir == null) null
          else recs => {
            val outcomes =
              graft.pipeline.Robots.outcomesFromRecords(recs)
                .localCheckpoint()
            try {
              if (outcomes.limit(1).count() > 0)
                outcomes.write.mode("overwrite")
                  .parquet(s"$frontierDir/robots/batch=$batchId")
            } finally graft.dedup.Dedup.release(outcomes)
          }
        // the image-pair ledger (r16, opt-in): the batch's resolved
        // (url, img_url, alt, title, caption) pairs — the LAION-shape
        // multimodal feeder — land as images/batch=N (replay-idempotent
        // overwrite, the sibling convention); read the accumulated
        // pairs with Crawl.imagePairsLedger (latest batch per url wins)
        val onImagesCb: org.apache.spark.sql.DataFrame => Unit =
          if (!landImages || frontierDir == null) null
          else pairs => pairs.write.mode("overwrite")
            .parquet(s"$frontierDir/images/batch=$batchId")
        // the media-pair ledger (r17, opt-in): the batch's enclosure
        // pairs from feed-typed 200s land as media/batch=N (same
        // replay-idempotent overwrite); read the accumulated pairs
        // with Crawl.mediaPairsLedger (latest batch per feed url wins)
        val onMediaCb: org.apache.spark.sql.DataFrame => Unit =
          if (!landMedia || frontierDir == null) null
          else pairs => pairs.write.mode("overwrite")
            .parquet(s"$frontierDir/media/batch=$batchId")
        val (_, stats) = graft.pipeline.Crawl.ingestBatch(spark,
          graft.sources.Warc.warcRecords(batch.toDF(), payloadCol).toDF(),
          indexPath, inst, threshold, maxBucketSize,
          onPageLinks = onLinks, onRobots = onRobotsCb,
          onImages = onImagesCb, onMedia = onMediaCb) { fresh =>
          sink(fresh, batchId)
        }
        log.info(s"crawlIngestStream batch $batchId: " +
          s"responses=${stats.responses} " +
          s"charset_fallbacks=${stats.charsetFallbacks} " +
          s"empty=${stats.emptyText} dups=${stats.duplicates} " +
          s"appended=${stats.appended} redirects=${stats.redirects} " +
          s"non_text=${stats.nonText} noindexed=${stats.noindexed} " +
          s"image_pairs=${stats.imagePairs} " +
          s"media_pairs=${stats.mediaPairs}")
        ()
    }

  /**
   * Continuous ingest into a float IVF index — the sixth ingest loop:
   * every micro-batch assigns against the FROZEN stored centroids
   * (map-side) and lands as `list_id=X/ingest=N` partition dirs with
   * `N = StreamInstallmentBase + batchId` — a pure function of batchId,
   * written via DYNAMIC partition overwrite, so foreachBatch's
   * at-least-once replays overwrite exactly their own dirs and can never
   * duplicate assignments (the same replay-idempotence contract as the
   * five installment streams; same single-writer rule). List pruning is
   * untouched: `list_id` stays the top-level partition. Run
   * `ivfCompact` on a maintenance cadence to fold the per-batch
   * small-file accumulation (it also folds the ingest history to 0,
   * after which replays of pre-compaction batches are out of contract).
   * The index must exist, built from a NON-empty corpus (`ivfBuild`
   * fits k-means centroids — unlike the minhash/BM25 installment
   * builds, an empty build is not valid; seed the index with the first
   * batch before starting the stream).
   */
  def ivfIngestStream(spark: SparkSession, vecs: DataFrame, indexPath: String,
                      vecCol: String = "embedding")
                     (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.SimilarityIndex.ivfAppendAt(spark, indexPath,
          batch.toDF(), StreamInstallmentBase + batchId.toInt, vecCol)
        sink(batchId)
        ()
    }

  /**
   * Continuous ingest into an IVF-SQ8 index — the seventh ingest loop,
   * [[ivfIngestStream]]'s quantized sibling: each batch quantizes with
   * the STORED scale, assigns against the FROZEN centroids, and lands as
   * its own `list_id=X/ingest=N` dirs (N = StreamInstallmentBase +
   * batchId, dynamic overwrite — replay-idempotent). The raw/ refine
   * sidecar, when the build stored one, rides the IDENTICAL numbering
   * inside `ivfSq8AppendAt`, so streaming can never drift it out of
   * lockstep with the codes. Same single-writer and compaction contract
   * as every ingest loop.
   */
  def ivfSq8IngestStream(spark: SparkSession, vecs: DataFrame,
                         indexPath: String, idCol: String = "vec_id",
                         vecCol: String = "embedding")
                        (sink: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.index.Quantize.ivfSq8AppendAt(spark, indexPath, batch.toDF(),
          StreamInstallmentBase + batchId.toInt, idCol, vecCol)
        sink(batchId)
        ()
    }

  /**
   * The IVF-routed incremental-embedding-dedup loop as one stream —
   * [[int8DedupIngestStream]] priced at |probed lists| per batch instead
   * of |corpus|: each micro-batch prunes against the index through the
   * partition-pruned [[graft.index.Quantize.ivfSq8ProbePrune]] (the IVF
   * recall contract on candidate coverage; scores stay bit-exact) and
   * the survivors fold in as that batch's `ingest` dirs.
   *
   * Replay idempotence is the int8 loop's argument transposed to the
   * ingest level: the probe reads the index AS OF `ingest =
   * StreamInstallmentBase + batchId − 1` — a pure function of batchId
   * that excludes this batch's own (possibly landed) dirs and any later
   * ones — so a replay probes exactly what the first attempt probed and
   * the dynamic-partition overwrite reproduces the same survivors.
   * Between-compactions caveat as everywhere (compaction folds ingest
   * history to 0). The index must exist, built from a NON-empty corpus
   * (`ivfSq8Build` fits centroids; seed with the first batch before
   * starting the stream).
   */
  def ivfSq8DedupIngestStream(spark: SparkSession, vecs: DataFrame,
                              indexPath: String, threshold: Double,
                              nprobe: Int = 8,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding")
                             (sink: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ingest = StreamInstallmentBase + batchId.toInt
        val survivors = graft.index.Quantize.ivfSq8ProbePrune(spark,
          indexPath, batch.toDF(), threshold, nprobe, idCol, idCol, vecCol,
          asOfIngest = ingest - 1)
        graft.index.Quantize.ivfSq8AppendAt(spark, indexPath, survivors,
          ingest, idCol, vecCol)
        graft.dedup.Dedup.release(survivors)
        val kept = spark.read.parquet(s"$indexPath/codes")
          .filter(col("ingest") === ingest).count()
        sink(batchId, kept)
        ()
    }

  /**
   * The COMPLETE incremental-embedding-dedup loop as one stream: each
   * micro-batch is pruned against the index
   * ([[graft.index.Quantize.int8ProbePrune]] — drop rows whose duplicate
   * component is already represented in the corpus, keep-min within
   * batch-only components) and the SURVIVORS fold in as that batch's
   * installment. What [[int8IngestStream]] is to raw ingest, this is to
   * deduplicated ingest — the daily-ingest shape with the corpus touched
   * only by the map-side probe scan.
   *
   * Replay idempotence needs more than the pure-function installment
   * numbering here: a retried batch must not see ITS OWN previously
   * landed installment while probing (it would self-match, prune to
   * empty, and overwrite the partition with nothing — data loss). The
   * probe therefore reads the index AS OF `StreamInstallmentBase +
   * batchId − 1` — a pure function of batchId, excluding this batch's
   * partition and any later one, so a replay probes exactly what the
   * first attempt probed and the overwrite reproduces the same
   * survivors. (Between-compactions caveat as everywhere: compaction
   * folds the history, after which replays of PRE-compaction batches are
   * meaningless — the standing single-writer contract.)
   */
  def int8DedupIngestStream(spark: SparkSession, vecs: DataFrame,
                            indexPath: String, threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding")
                           (sink: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val installment = StreamInstallmentBase + batchId.toInt
        val survivors = graft.index.Quantize.int8ProbePrune(spark, indexPath,
          batch.toDF(), threshold, idCol, idCol, vecCol,
          asOfInstallment = installment - 1)
        graft.index.Quantize.int8AppendAt(spark, indexPath, survivors,
          installment, idCol, vecCol)
        graft.dedup.Dedup.release(survivors)
        val kept = spark.read
          .parquet(s"$indexPath/codes/installment=$installment").count()
        sink(batchId, kept)
        ()
    }

  /**
   * Continuous lexicon ingest (streaming form of Lexicon.build): tokenize
   * incoming documents, key by identity angle, emit first-seen tokens only.
   * dropDuplicates state is keyed by the angle — bounded by watermark when
   * the source carries event time.
   */
  def lexiconStream(docs: DataFrame, textCol: String = "text",
                    dims: Int = graft.analysis.TextAnalyzer.DefaultDims): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol).cast("string").as("text"))
      .as[String]
      .mapPartitions { texts =>
        // same per-partition label memo as Lexicon.tokenize: the 512-d
        // vectorization runs once per distinct label per (micro-batch,
        // partition) instead of per occurrence
        val memo = new java.util.HashMap[String, (Double, String)]()
        texts.flatMap { text =>
          graft.analysis.TextAnalyzer.splitWords(text).map { w =>
            var t = memo.get(w)
            if (t == null) {
              if (memo.size >= (1 << 18)) memo.clear()
              val v = graft.analysis.TextAnalyzer.vectorizeToken(w, dims)
              t = (graft.analysis.TextAnalyzer.angleOfId(v, dims), v.label)
              memo.put(w, t)
            }
            t
          }
        }
      }
      .toDF("angle", "label")
      .dropDuplicates("angle")
  }
}
