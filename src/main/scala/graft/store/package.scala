package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, StructType}

package object store {

  /** True when `dir` exists on its Hadoop filesystem — how optional index
    * sidecars (`raw/`, `rotation/`, `deletes/`) are detected. */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The Spark schema of the parquet table under `dir`, read on the driver
    * from the footer of its first data file — no schema-inference job
    * (the one job `spark.read.parquet(dir)` runs to learn a schema).
    * Files under `_`/`.`-prefixed names (job scratch, checksums) are
    * skipped; None when `dir` is missing or holds no data file. A file
    * written without Spark's schema key falls back to inference. */
  def parquetSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val depth = fs.makeQualified(root).depth()
    def visible(f: org.apache.hadoop.fs.Path): Boolean =
      f.depth() <= depth || (!f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        visible(f.getParent))
    val files = fs.listFiles(root, true)
    var file: org.apache.hadoop.fs.Path = null
    while (file == null && files.hasNext) {
      val f = files.next().getPath
      if (f.getName.endsWith(".parquet") && visible(f)) file = f
    }
    Option(file).map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      if (json == null) spark.read.parquet(dir).schema
      else DataType.fromJson(json).asInstanceOf[StructType]
    }
  }

  /** Run `f` over every partition of `df`'s internal rows as ONE SQL
    * execution, so query listeners see its file scans, and collect what
    * it yields — the map-side pass of a routed read (the persisted vector
    * searches, the MinHash probe). Rows may be reused: `f` must copy what
    * it keeps. */
  def scanCollect[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => Iterator[T]): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))((qe.toRdd: RDD[InternalRow]).mapPartitions(f).collect())
  }
}
