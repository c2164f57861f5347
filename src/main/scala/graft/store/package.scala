package graft

import org.apache.spark.sql.SparkSession

package object store {

  /** True when `dir` exists on its Hadoop filesystem — how optional index
    * sidecars (`raw/`, `rotation/`, `deletes/`) are detected. */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
