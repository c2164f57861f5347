package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Shared numbering discipline for the append-only persisted indexes
 * (minhash `sets/`, BM25 `stats/`, int8 `codes/` — the `installment=N`
 * partition-dir contract). One place owns "what is the next installment",
 * so every index family fails the same way on the same broken layouts.
 */
object Installments {

  /** Next installment number for an append-only index directory: one past
    * the max existing `installment=N` child.
    *
    * An existing-but-EMPTY listing fails with a descriptive error rather
    * than silently restarting at 0: every build writes `installment=0`
    * before any append can run, so a present-but-empty directory means
    * the index was half-deleted or half-written, and renumbering from 0
    * would bury that corruption under fresh data. (The bare
    * `UnsupportedOperationException: empty.max` this replaces told the
    * operator nothing.) A MISSING directory still fails with the
    * filesystem's not-found error — also correct: appends target indexes
    * that a build already created. */
  def next(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("installment="))
      .map(_.stripPrefix("installment=").toInt)
      .reduceOption(_ max _)
      .map(_ + 1)
      .getOrElse(throw new IllegalStateException(
        s"$dir exists but contains no installment= partitions — the index " +
          "is corrupt or only partially written; rebuild it (or restore " +
          "installment=0 from backup) before appending"))
  }

  /** Replace `dir` with `folded` as its one `installment=0` partition
    * ([[DirSwap.replace]]) — the fold every installment-index compaction
    * ends in. Returns the folded row count, observed on the write. */
  def fold(spark: SparkSession, dir: String, folded: DataFrame): Long =
    DirSwap.replace(spark, dir) { side =>
      val rows = org.apache.spark.sql.Observation()
      folded.observe(rows, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.parquet(s"$side/installment=0")
      rows.get("n").asInstanceOf[Long]
    }

  /** Maintenance observability for installment indexes (r17): per
    * (table, installment) row counts — the compaction/health signal an
    * operator reads BEFORE folding. Many small installments mean
    * probe-side read amplification (every probe unions every
    * partition), so installment count and size skew ARE the compaction
    * trigger; the `deletes` tombstone sidecar is included automatically
    * when present, so the deleted-fraction (the vacuum trigger) reads
    * from the same frame. Absent tables skip silently (families differ:
    * minhash has sets+sizes, int8 has codes, BM25 postings+stats).
    * Counts aggregate per partition dir — column-pruned scans of the
    * narrowest column, no data shuffle beyond the tiny counts. */
  def stats(spark: SparkSession,
            dir: String,
            tables: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = (tables :+ "deletes").distinct.filter { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      fs.exists(p) && fs.listStatus(p)
        .exists(_.getPath.getName.startsWith("installment="))
    }
    val frames = present.map { t =>
      spark.read.parquet(s"$dir/$t")
        .groupBy(col("installment").cast("int").as("installment"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table"), col("installment"), col("n_rows"))
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("table",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("installment",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType, nullable = false))))
    else frames.reduce(_ unionByName _)
  }

  /** [[stats]] for the IVF families' TWO-LEVEL `list_id=X/ingest=N`
    * layout: per-(list, ingest) row counts — the LIST-BALANCE signal.
    * Skewed lists mean skewed probe cost (a probe reads nprobe whole
    * lists) and are the re-train trigger; the per-ingest split is the
    * same compaction signal as [[stats]]. Reads the partition columns
    * only. */
  def ivfStats(spark: SparkSession,
               dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(dir)
      .groupBy(col("list_id").cast("int").as("list_id"),
        col("ingest").cast("int").as("ingest"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Next `ingest=` number for the IVF family's TWO-LEVEL layout
    * (`list_id=X/ingest=N/` — list pruning stays the top-level partition,
    * the ingest level is what makes appends replay-idempotent): one past
    * the max ingest found under ANY list dir. Same corruption contract as
    * [[next]]: a listing with list dirs but no ingest level means a
    * half-written index, never a silent restart at 0. */
  def nextIngest(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listDirs = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("list_id="))
    val ingests = listDirs.flatMap(ld =>
      fs.listStatus(ld.getPath).map(_.getPath.getName)
        .filter(_.startsWith("ingest="))
        .map(_.stripPrefix("ingest=").toInt))
    ingests.reduceOption(_ max _)
      .map(_ + 1)
      .getOrElse(throw new IllegalStateException(
        s"$dir exists but contains no list_id=/ingest= partitions — the " +
          "index is corrupt or only partially written; rebuild it before " +
          "appending"))
  }
}
