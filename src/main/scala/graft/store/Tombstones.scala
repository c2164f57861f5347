package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Tombstone (logical-delete) sidecar for the append-only persisted
 * indexes — the missing half of the installment lifecycle: appends fold
 * new documents in without touching the corpus, and tombstones fold
 * documents OUT the same way. Removing a document (a takedown, an
 * opt-out, contamination discovered late) costs one id-list write, not
 * an index rebuild; the physical fold happens at the next compaction,
 * exactly like size/df deltas fold on the read path until then.
 *
 * Layout: `$path/deletes/installment=N/` holding a single `id` column —
 * the same APPEND-ONLY partition-dir contract as the data tables
 * (sequential appends; [[appendAt]] is the replay-idempotent form for
 * at-least-once writers, overwriting its own partition on retry).
 *
 * Read contract — TAKEDOWN SEMANTICS, not time travel: the tombstone
 * set applies to EVERY read, including `asOfInstallment` snapshot
 * reads. A pinned snapshot must not keep serving a taken-down document
 * (that is the whole point of a takedown); callers wanting a
 * pre-delete view must copy the index first. Deletes are maintenance
 * events like compactions: index families that maintain global
 * statistics (BM25 df/N/avgdl, minhash bucket sizes) write matching
 * NEGATIVE deltas at delete time, so full-history reads stay exact —
 * but a snapshot pinned BEFORE the delete's delta installment sees
 * post-delete membership with pre-delete statistics and is out of
 * contract (the same caveat as snapshots across a compaction).
 *
 * Scale shape: the tombstone list is id-only (8 bytes/row) and rides a
 * broadcast anti-join on the stored side of each read ([[filter]]), or
 * is read on the driver ([[collectIds]], no Spark job) and skipped inside
 * the stored scan (the routed vector searches, the MinHash probe, the
 * IVF folds) — the corpus-sized tables stream map-side, never shuffle.
 * Both assume the delete set stays small relative to the corpus (the
 * takedown shape); a mass deletion should be a rebuild, and compaction
 * resets the list to empty either way.
 */
object Tombstones {

  private def deletesDir(path: String) = s"$path/deletes"

  /** Append a batch of deleted ids as the next `installment=` partition
    * of `$path/deletes`. First delete creates the dir at installment 0.
    * Returns the installment written. Ids are stored distinct — a
    * re-deleted id is harmless (anti-join semantics) but bloats the
    * broadcast for nothing. */
  def append(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String): Int = {
    val n = nextInstallment(spark, path)
    appendAt(spark, path, ids, idCol, n)
    n
  }

  /** The next deletes installment (0 when no delete has ever landed) —
    * exposed so the crash-safe `*DeleteAt` forms can pre-compute their
    * numbers before any write happens. */
  def nextInstallment(spark: SparkSession, path: String): Int = {
    val dir = deletesDir(path)
    if (dirExists(spark, dir)) Installments.next(spark, dir) else 0
  }

  /** Append at an EXPLICIT installment — the idempotent form for
    * at-least-once writers (the `*AppendAt` contract): a replay
    * overwrites its own partition dir, never duplicating ids. */
  def appendAt(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String, installment: Int): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("overwrite")
      .parquet(s"${deletesDir(path)}/installment=$installment")

  /** The full tombstone set as a distinct one-column (`id`) frame of
    * `idType` — every index family keys by its own id column, and a
    * hardcoded LongType would silently type-mismatch a string-keyed
    * index's first delete-free read. `id` is read with that declared type,
    * so installments written with different integer widths read as one
    * and no schema-inference job runs; empty when no delete has ever
    * landed. Distinct across installments — the same id deleted twice
    * anti-joins once. */
  def read(spark: SparkSession, path: String,
           idType: DataType = LongType): DataFrame = {
    val dir = deletesDir(path)
    val schema = StructType(Seq(StructField("id", idType)))
    if (!dirExists(spark, dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dir).select("id").distinct()
  }

  /** The full tombstone set as distinct long ids, sorted ascending
    * (binary-searchable); empty when no delete has ever landed — for
    * readers that route on the driver and drop tombstoned rows inside
    * their own scan (the IVF search and compaction) instead of planning an
    * anti-join. `id` is read as BIGINT, so narrower integer ids widen. */
  def collectLongIds(spark: SparkSession, path: String): Array[Long] =
    collectIds(spark, path, LongType)
      .iterator.map(_.asInstanceOf[Long]).toArray.sorted

  /** The full tombstone set as distinct non-null ids read as `idType`,
    * read on the driver ([[graft.store.readSmall]]: no Spark job; the set
    * is takedown-sized by contract); empty when no delete has ever landed
    * — for scans that drop tombstoned rows themselves (the routed MinHash
    * probe). Every call reads the current installments, so a read sees
    * every delete landed before it. */
  def collectIds(spark: SparkSession, path: String, idType: DataType): Set[Any] =
    if (!any(spark, path)) Set.empty
    else readSmall(spark, deletesDir(path), s"id ${idType.sql}")
      .iterator.map(_.get(0)).filter(_ != null).toSet

  /** The tombstone set from installments STRICTLY BEFORE `installment` —
    * what the self-enforcing `*DeleteAt` forms anti-join their incoming
    * ids against: a replay at the SAME numbers excludes its own (possibly
    * already-landed) partition and recomputes identical deltas, while a
    * true double-delete at a LATER number sees the id already tombstoned
    * and contributes nothing — so negative df/size deltas can never
    * double-subtract. Partition-pruned read; empty frame (caller-hinted
    * id type) when nothing earlier exists. */
  def readBefore(spark: SparkSession, path: String, installment: Int,
                 idType: DataType = LongType): DataFrame = {
    val dir = deletesDir(path)
    if (!dirExists(spark, dir) || installment <= 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", idType))))
    else spark.read.parquet(dir)
      .filter(col("installment") < installment)
      .select("id").distinct()
  }

  /** Restrict a delete batch to ids NOT already tombstoned before
    * `deletesInstallment` — the shared guard making the "ids must be
    * LIVE" delete contract self-enforcing for the delta-writing index
    * families (BM25 df/N, minhash sizes, LM counts, span windows): the
    * returned frame is what the delta derivation AND the tombstone append
    * should consume, so a double-delete subtracts nothing and lands no
    * duplicate tombstone rows, while a crash-retry at the same numbers
    * (whose own partition is excluded by the strict `<`) still recomputes
    * its full deltas. Broadcast anti-join — delete batches are id-only
    * and takedown-sized by contract. */
  def liveOnly(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String, deletesInstallment: Int): DataFrame = {
    val idType = ids.schema(idCol).dataType
    ids.join(
      broadcast(readBefore(spark, path, deletesInstallment, idType)
        .select(col("id").as(idCol))),
      Seq(idCol), "left_anti")
  }

  /** True when at least one tombstone exists — readers use this to skip
    * the anti-join entirely on an index that has never seen a delete,
    * keeping their plans (and the plan-shape specs pinning them)
    * byte-identical to the pre-tombstone era. */
  def any(spark: SparkSession, path: String): Boolean =
    dirExists(spark, deletesDir(path))

  /** Drop the stored side's tombstoned rows: a broadcast anti-join on
    * `joinCol`, or a no-op (the identical plan) when the index has no
    * deletes dir. The stored scan stays map-side either way. `deletes/` is
    * read with the join column's type, an integer column's as BIGINT: its
    * installments may hold INT and BIGINT ids, and one read must take
    * both. */
  def filter(spark: SparkSession, path: String, stored: DataFrame,
             joinCol: String): DataFrame =
    if (!any(spark, path)) stored
    else {
      val idType = stored.schema(joinCol).dataType match {
        case ByteType | ShortType | IntegerType => LongType
        case t => t
      }
      stored.join(broadcast(read(spark, path, idType).select(col("id").as(joinCol))),
        Seq(joinCol), "left_anti")
    }

  /** Fold every installment of `$path/$table` into one `installment=0`
    * partition without the tombstoned rows ([[Installments.fold]]);
    * returns the folded row count. The table is read with its declared
    * schema ([[readDeclared]]). The deletes dir stays: callers clear it
    * LAST, after every table of the index is folded. */
  def fold(spark: SparkSession, path: String, table: String,
           idCol: String): Long =
    Installments.fold(spark, s"$path/$table", filter(spark, path,
      readDeclared(spark, s"$path/$table", "installment INT").drop("installment"), idCol))

  /** Remove the deletes dir — the compaction epilogue, after the
    * physical fold has dropped the tombstoned rows from the data
    * tables. */
  def clear(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(deletesDir(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
