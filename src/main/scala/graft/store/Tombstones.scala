package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.api.java.UDF1
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
 * Scale shape: the tombstone list is id-only (8 bytes/row) and is read
 * on the driver ([[collectIds]]: no Spark job). Every reader skips the
 * listed ids map-side inside its own stored scan — through [[filter]]
 * (and [[fold]], [[liveOnly]]) or, in the routed vector searches and the
 * MinHash probe, inside the kernel — so the corpus-sized tables stream
 * and never shuffle. The set is read when the reader is called: a frame
 * returned lazily (the BM25 search, the hamming and video probes) skips
 * the ids deleted before the call, not those deleted between the call
 * and its execution. This assumes the delete set stays small relative
 * to the corpus (the takedown shape); a mass deletion should be a
 * rebuild, and compaction resets the list to empty either way.
 */
object Tombstones {

  private def deletesDir(path: String) = s"$path/deletes"

  /** Append a batch of deleted ids as the next `installment=` partition
    * of `$path/deletes`. First delete creates the dir at installment 0.
    * Returns the installment written. Ids are stored distinct — a
    * re-deleted id is harmless (readers skip each id once) but would
    * grow the driver-read set for nothing. */
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

  /** The full tombstone set as distinct long ids, sorted ascending
    * (binary-searchable); empty when no delete has ever landed — for
    * readers that route on the driver and drop tombstoned rows inside
    * their own scan (the routed vector searches) instead of filtering a
    * frame. `id` is read as BIGINT, so narrower integer ids widen. */
  def collectLongIds(spark: SparkSession, path: String): Array[Long] =
    collectIds(spark, path, LongType)
      .iterator.map(_.asInstanceOf[Long]).toArray.sorted

  /** The full tombstone set as distinct non-null ids read as `idType`,
    * read on the driver ([[graft.store.readSmall]]: no Spark job; the set
    * is takedown-sized by contract); empty when no delete has ever landed.
    * Every call reads the current installments, so a read sees every
    * delete landed before it. */
  def collectIds(spark: SparkSession, path: String, idType: DataType): Set[Any] =
    idsBefore(spark, path, idType, Int.MaxValue)

  /** The ids of the installments STRICTLY BEFORE `installment` — the
    * one driver read behind [[collectIds]] (`Int.MaxValue`: every
    * installment) and [[liveOnly]]. Nulls never match an id, so they are
    * dropped here. */
  private def idsBefore(spark: SparkSession, path: String, idType: DataType,
                        installment: Int): Set[Any] = {
    val dir = new Path(deletesDir(path))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.map(_.getPath)
      .filter(p => p.getName.startsWith("installment=") &&
        p.getName.stripPrefix("installment=").toInt < installment)
      .flatMap(p => readSmall(spark, p.toString, s"id ${idType.sql}"))
      .map(_.get(0)).filter(_ != null).toSet
  }

  /** Keep the rows of `df` whose `idCol` is null or not in the set `dead`
    * reads — the one map-side tombstone skip every reader shares. `dead`
    * is asked for the ids as the column's type, an integer column's as
    * BIGINT: installments may hold INT and BIGINT ids, and one read must
    * take both. A null id is never tombstoned, and no id at all leaves
    * `df` as it is (the identical plan). The predicate is a UDF over the
    * driver-read set, so no id list reaches the scan's pushed filters. */
  private def dropDead(df: DataFrame, idCol: String)(dead: DataType => Set[Any]): DataFrame = {
    val idType = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType => LongType
      case t => t
    }
    val ids = dead(idType)
    if (ids.isEmpty) df
    else {
      val live = udf(new UDF1[Any, Boolean] {
        def call(id: Any): Boolean = id == null || !ids.contains(id)
      }, BooleanType)
      df.filter(live(col(idCol).cast(idType)))
    }
  }

  /** Restrict a delete batch to ids NOT already tombstoned before
    * `deletesInstallment` — the shared guard making the "ids must be
    * LIVE" delete contract self-enforcing for the delta-writing index
    * families (BM25 df/N, minhash sizes, LM counts, span windows): the
    * returned frame is what the delta derivation AND the tombstone append
    * should consume, so a double-delete subtracts nothing and lands no
    * duplicate tombstone rows, while a crash-retry at the same numbers
    * (whose own partition is excluded by the strict `<`) still recomputes
    * its full deltas. The earlier installments are read once, on the
    * driver, when this is called; every write that consumes the frame
    * skips against that set. */
  def liveOnly(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String, deletesInstallment: Int): DataFrame =
    dropDead(ids, idCol)(idsBefore(spark, path, _, deletesInstallment))

  /** True when the deletes dir exists: a delete has landed since the
    * last compaction cleared it. */
  def any(spark: SparkSession, path: String): Boolean =
    dirExists(spark, deletesDir(path))

  /** Drop the stored side's tombstoned rows ([[dropDead]] against
    * [[collectIds]]): a map-side filter, or a no-op (the identical plan)
    * when no id is tombstoned. */
  def filter(spark: SparkSession, path: String, stored: DataFrame,
             joinCol: String): DataFrame =
    dropDead(stored, joinCol)(collectIds(spark, path, _))

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
    val p = new Path(deletesDir(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
