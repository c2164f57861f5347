package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * The one way a directory is replaced here. Every appendable index and
 * ledger appends partitions and folds them in a maintenance job
 * (compaction, vacuum, changelog rewrite, crawl-ledger fold or purge);
 * each such job writes the folded table beside the directory and swaps
 * it in through [[replace]]. Never call `fs.rename` by hand for this.
 *
 * Protocol, for `dir`:
 *   1. clear a stale side dir (`dir._compacting`) and a stale aside dir
 *      (`dir._old`) left by an interrupted run;
 *   2. `fill(side)` — the caller writes the replacement there and counts
 *      it there if it needs a count;
 *   3. rename `dir` aside, then rename the side dir in: the old layout
 *      leaves in one rename, so a reader listing `dir` sees the old or
 *      the new layout, never a mix (a recursive delete would not do: the
 *      local filesystem deletes a directory file by file);
 *   4. delete the aside copy;
 *   5. `spark.catalog.refreshByPath(dir)` — cached plans over `dir` read
 *      the new layout. Lazy DataFrames created over `dir` before the swap
 *      still hold the old file listing and must be re-created (standard
 *      Spark overwrite semantics).
 *
 * Crash safety: until step 3 `dir` is untouched and a re-run completes
 * the job. A crash between the two renames leaves `dir` absent and the
 * old layout aside; the next [[replace]] on `dir` renames it back before
 * anything else. A `fill` that throws leaves `dir` as it was and removes
 * its side dir.
 *
 * HDFS and POSIX renames are atomic. On an object store, where rename is
 * copy+delete, run maintenance in a window with no concurrent readers,
 * or layer the table on a format with atomic commits.
 */
object DirSwap {

  /** Replace `dir` with what `fill` writes into the side directory whose
    * path it receives; returns `fill`'s result. Throws `IOException`
    * when either rename fails. */
  def replace[A](spark: SparkSession, dir: String)(fill: String => A): A = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val side = new Path(dir + "._compacting")
    val aside = new Path(dir + "._old")
    fs.delete(side, true)
    if (fs.exists(aside) && !fs.exists(target)) {
      if (!fs.rename(aside, target))
        throw new java.io.IOException(s"restore of interrupted swap failed: $dir")
    } else fs.delete(aside, true)
    val result =
      try fill(side.toString)
      catch { case e: Throwable => fs.delete(side, true); throw e }
    if (!fs.rename(target, aside))
      throw new java.io.IOException(s"swap-out failed: $dir")
    if (!fs.rename(side, target))
      throw new java.io.IOException(s"swap-in failed: $dir")
    fs.delete(aside, true)
    spark.catalog.refreshByPath(dir)
    result
  }
}
