package graft

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

package object store {

  /** True when `dir` exists on its Hadoop filesystem — how optional index
    * sidecars (`raw/`, `rotation/`, `deletes/`) are detected. */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The files a Spark read of `dir` reads, in path order: every file under
    * it whose path below `dir` has no entry named `.…`, or `_…` without a
    * `=` (job scratch, checksums, markers). None when `dir` is missing.
    * Listed with `listStatus`, which on the local filesystem loads no
    * permissions (`listFiles` forks a process per file to load them). */
  private def dataFiles(fs: FileSystem, dir: String): Option[Seq[FileStatus]] = {
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).sortBy(_.getPath.getName).toSeq
        .filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    val root = try fs.getFileStatus(new Path(dir))
      catch { case _: java.io.FileNotFoundException => return None }
    Some(if (root.isFile) Seq(root) else walk(root.getPath))
  }

  /** Parquet read options, one per driver thread: building them walks a
    * Hadoop `Configuration`, and their codec factory is released by every
    * reader that closes, so a thread must not share it. */
  private val readOptions = ThreadLocal.withInitial[ParquetReadOptions](
    () => ParquetReadOptions.builder().build())

  private def openFile(conf: Configuration, f: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), readOptions.get())

  /** The Spark schema of the parquet table under `dir`, read on the driver
    * from the footer of its first data file ([[dataFiles]]) — no
    * schema-inference job (the one job `spark.read.parquet(dir)` runs to
    * learn a schema). None when `dir` is missing or holds no data file. A
    * file written without Spark's schema key falls back to inference. */
  def parquetSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(new Path(dir).getFileSystem(conf), dir).flatMap(_.headOption).map { f =>
      val reader = openFile(conf, f)
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      if (json == null) spark.read.parquet(dir).schema
      else DataType.fromJson(json).asInstanceOf[StructType]
    }
  }

  /** `spark.read.parquet(dir)` without its schema-inference job: the table
    * read with a declared schema, its footer schema ([[parquetSchema]])
    * followed by the layout's `partitions` (DDL, e.g. `list_id INT, ingest
    * INT`). A `dir` with no data file is read as Spark infers it. */
  def readDeclared(spark: SparkSession, dir: String, partitions: String): DataFrame =
    parquetSchema(spark, dir) match {
      case None => spark.read.parquet(dir)
      case Some(footer) =>
        val parts = StructType.fromDDL(partitions)
        spark.read.schema(StructType(footer.filterNot(f => parts.fieldNames.contains(f.name)) ++ parts))
          .parquet(dir)
    }

  /**
   * The rows of a small parquet table — an index's centroids, tombstones,
   * one-row meta, codebooks or rotation — read on the driver with the
   * declared `schema` (DDL): no Spark job. Returns the rows
   * `spark.read.schema(schema).parquet(dir)` collects for those columns,
   * in no set order: integer ids widen from INT to BIGINT, a declared
   * column a file lacks reads null, and entries named `_…` or `.…` are
   * skipped ([[dataFiles]]). Every call reads the current files.
   *
   * Only the plain column types the index tables use are decoded here
   * (INT, BIGINT, FLOAT, DOUBLE, BOOLEAN, STRING, BINARY and arrays of
   * them); any other type pair, an empty file or a missing `dir` is read by
   * Spark instead, so the result (or the error) is always Spark's. The
   * declared columns are data columns: partition values are not read.
   * Every row is held on the driver: callers use it for tables they would
   * collect anyway.
   */
  def readSmall(spark: SparkSession, dir: String, schema: String): Array[Row] = {
    val declared = StructType.fromDDL(schema)
    val conf = spark.sparkContext.hadoopConfiguration
    def bySpark = spark.read.schema(declared).parquet(dir)
      .select(declared.fieldNames.toSeq.map(col): _*).collect()
    dataFiles(new Path(dir).getFileSystem(conf), dir)
      .filter(_.forall(_.getLen > 0))
      .flatMap { files =>
        val rows = Array.newBuilder[Row]
        val decoded = files.forall(f => decodeFile(conf, f, declared, rows))
        if (decoded) Some(rows.result()) else None
      }
      .getOrElse(bySpark)
  }

  /** Decode one file's declared columns into `out`; false (nothing added)
    * when a column's type pair is one [[decoder]] does not handle. */
  private def decodeFile(conf: Configuration, f: FileStatus, declared: StructType,
                         out: scala.collection.mutable.Builder[Row, Array[Row]]): Boolean = {
    val reader = openFile(conf, f)
    try {
      val file = reader.getFooter.getFileMetaData.getSchema
      val fields = file.getFields.asScala.toSeq
      // each declared column's file field (Spark resolves names case-insensitively)
      val found = declared.fields.map(d => fields.find(_.getName == d.name)
        .orElse(fields.filter(_.getName.equalsIgnoreCase(d.name)) match {
          case Seq(one) => Some(one)
          case _ => None
        }))
      val decoders = declared.fields.zip(found).map {
        case (d, Some(t)) => decoder(d.dataType, t)
        case (_, None) => Some((_: Group, _: Int) => null)
      }
      if (decoders.exists(_.isEmpty)) return false
      val read = fields.filter(t => found.exists(_.contains(t)))
      // the projected position of each declared column; -1: reads null
      val at = found.map(_.fold(-1)(read.indexOf(_)))
      val decode = decoders.map(_.get)
      def emit(g: Group): Unit = out += new GenericRowWithSchema(
        Array.tabulate[Any](declared.length)(i => if (at(i) < 0) null else decode(i)(g, at(i))), declared)
      if (read.isEmpty) (0L until reader.getRecordCount).foreach(_ => emit(null))
      else {
        val projection = new MessageType(file.getName, read.asJava)
        reader.setRequestedSchema(projection)
        val io = new ColumnIOFactory().getColumnIO(projection, file)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
          var n = 0L
          while (n < pages.getRowCount) { emit(records.read()); n += 1 }
          pages = reader.readNextRowGroup()
        }
      }
      true
    } finally reader.close()
  }

  /** Field `i` of a group as a Spark external value of type `t`, or null
    * when absent; None when (`t`, the field's parquet type `f`) is not a
    * pair this reader decodes. */
  private def decoder(t: DataType, f: Type): Option[(Group, Int) => Any] = {
    val value: Option[(Group, Int) => Any] =
      if (f.isRepetition(Type.Repetition.REPEATED)) None
      else if (f.isPrimitive) {
        val p: PrimitiveType = f.asPrimitiveType
        val ann = p.getLogicalTypeAnnotation
        def signedInt(bits: Int) = ann == null || (ann match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth == bits
          case _ => false
        })
        (t, p.getPrimitiveTypeName) match {
          case (IntegerType, PrimitiveTypeName.INT32) if signedInt(32) =>
            Some((g, i) => g.getInteger(i, 0))
          case (LongType, PrimitiveTypeName.INT32) if signedInt(32) =>
            Some((g, i) => g.getInteger(i, 0).toLong)
          case (LongType, PrimitiveTypeName.INT64) if signedInt(64) =>
            Some((g, i) => g.getLong(i, 0))
          case (FloatType, PrimitiveTypeName.FLOAT) if ann == null =>
            Some((g, i) => g.getFloat(i, 0))
          case (DoubleType, PrimitiveTypeName.DOUBLE) if ann == null =>
            Some((g, i) => g.getDouble(i, 0))
          case (BooleanType, PrimitiveTypeName.BOOLEAN) if ann == null =>
            Some((g, i) => g.getBoolean(i, 0))
          case (StringType, PrimitiveTypeName.BINARY)
              if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            Some((g, i) => g.getString(i, 0))
          case (BinaryType, PrimitiveTypeName.BINARY) if ann == null =>
            Some((g, i) => g.getBinary(i, 0).getBytes)
          case _ => None
        }
      } else (t, f.asGroupType) match {
        // the standard three-level list: <list> { repeated group { element } }
        case (ArrayType(et, _), g: GroupType)
            if g.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation] &&
              g.getFieldCount == 1 && g.getType(0).isRepetition(Type.Repetition.REPEATED) &&
              !g.getType(0).isPrimitive && g.getType(0).asGroupType.getFieldCount == 1 =>
          decoder(et, g.getType(0).asGroupType.getType(0)).map { element =>
            (grp: Group, i: Int) => {
              val list = grp.getGroup(i, 0)
              ArraySeq.tabulate[Any](list.getFieldRepetitionCount(0))(j => element(list.getGroup(0, j), 0))
            }
          }
        case _ => None
      }
    value.map(v => (g: Group, i: Int) => if (g.getFieldRepetitionCount(i) == 0) null else v(g, i))
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
