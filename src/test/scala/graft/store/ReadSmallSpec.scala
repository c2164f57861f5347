package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{Ran, SparkTestBase}
import graft.dedup.Dedup
import graft.index.{Pq, Quantize, SimilarityIndex}
import graft.pipeline.SpanDedup
import org.apache.spark.sql.{AnalysisException, Row}

/** The driver-side reader of an index's small tables: it returns what the
  * declared Spark read collects, on every table the writers produce, and
  * runs no job. */
class ReadSmallSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_small_$name").resolve("idx").toString

  /** A row's values, arrays as lists, for multiset comparison. */
  private def norm(r: Row): List[Any] = r.toSeq.toList.map {
    case s: scala.collection.Seq[_] => s.toList
    case b: Array[Byte] => b.toList
    case v => v
  }

  private def multiset(rows: Array[Row]): Map[List[Any], Int] =
    rows.groupBy(norm).view.mapValues(_.length).toMap

  /** readSmall equals the declared Spark read of `dir` and runs no job;
    * returns the rows. */
  private def same(dir: String, ddl: String): Array[Row] = {
    val cols = org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames.toSeq
    val (mine, ran) = Ran(spark)(readSmall(spark, dir, ddl))
    val theirs = spark.read.schema(ddl).parquet(dir).select(cols.head, cols.tail: _*).collect()
    assert(multiset(mine) === multiset(theirs), s"$dir as $ddl")
    assert(ran.jobs === 0, s"reading $dir ran ${ran.jobs} jobs")
    mine
  }

  private def vecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("readSmall equals the declared read on every table the index writers produce") {
    val ivf = tmp("ivf")
    SimilarityIndex.ivfBuild(vecs(200, 8, 1), ivf, nlist = 4)
    assert(same(s"$ivf/centroids", "list_id INT, centroid ARRAY<DOUBLE>").length === 4)

    // tombstone installments of INT, BIGINT and a null id
    SimilarityIndex.ivfDeleteAt(spark, ivf, Seq(1, 2).toDF("vec_id"), 0)
    SimilarityIndex.ivfDeleteAt(spark, ivf, Seq(3L, 2L).toDF("vec_id"), 1)
    SimilarityIndex.ivfDeleteAt(spark, ivf, Seq[java.lang.Long](null, 4L).toDF("vec_id"), 2)
    assert(same(s"$ivf/deletes", "id BIGINT").map(r => Option(r.get(0))).toSet ===
      Set(Some(1L), Some(2L), Some(3L), None, Some(4L)))
    assert(Tombstones.collectLongIds(spark, ivf).toSeq === Seq(1L, 2L, 3L, 4L))

    val sq8 = tmp("sq8")
    Quantize.ivfSq8Build(vecs(200, 8, 2), sq8, nlist = 4)
    assert(same(s"$sq8/meta", "scale DOUBLE").length === 1)

    // a flat PQ meta has 3 columns: the declared residual reads null; a
    // 12-row corpus fits fewer than ksub = 16 codes, so codebooks are ragged
    val pq = tmp("pq")
    Pq.pqBuild(vecs(12, 8, 3), pq, m = 2, ksub = 16, rotate = true)
    val meta = same(s"$pq/meta", "m INT, ksub INT, dim INT, residual INT")
    assert(meta.length === 1 && meta.head.isNullAt(3) && meta.head.getInt(0) === 2)
    val books = same(s"$pq/codebooks", "sub INT, code INT, centroid ARRAY<DOUBLE>")
    assert(books.count(_.getInt(0) == 0) < 16)
    assert(same(s"$pq/rotation", "i INT, row ARRAY<DOUBLE>").length === 8)
    val ivfPq = tmp("ivfpq")
    Pq.ivfPqBuild(vecs(200, 8, 4), ivfPq, nlist = 4, m = 2, ksub = 16, residual = true)
    assert(same(s"$ivfPq/meta", "m INT, ksub INT, dim INT, residual INT").head.getInt(3) === 1)

    val mh = tmp("minhash")
    Dedup.minhashIndexBuild(Seq((1L, "a b c d e f"), (2L, "b c d e f g")).toDF("id", "text"),
      "text", "id", mh)
    same(s"$mh/meta", "shingle_k INT, num_hashes INT, bands INT")
    val span = tmp("span")
    SpanDedup.spanIndexBuild(Seq((1L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text"), span)
    same(s"$span/meta", "k INT")

    // the graph-build CLI's one-row STRING meta
    val sep = tmp("sep")
    Seq(Tuple1(";")).toDF("sep").write.parquet(sep)
    assert(same(sep, "sep STRING").head.getString(0) === ";")
  }

  test("readSmall skips _ and . entries, and reads a column a file lacks as null") {
    val dir = tmp("hidden")
    Seq((1, 2.0)).toDF("a", "b").write.parquet(dir)
    // a job's scratch left behind, and the checksums the local filesystem writes
    Seq((9, 9.0)).toDF("a", "b").write.parquet(s"$dir/_temporary/0")
    Seq((8, 8.0)).toDF("a", "b").write.parquet(s"$dir/.staging")
    assert(Files.list(Paths.get(dir)).iterator.asScala.exists(_.getFileName.toString.endsWith(".crc")))
    assert(same(dir, "a BIGINT, b DOUBLE, c STRING").map(norm).toSeq === Seq(List(1L, 2.0, null)))
  }

  test("readSmall fails where the declared read fails, and reads other types through Spark") {
    val missing = tmp("missing")
    intercept[AnalysisException](readSmall(spark, missing, "id BIGINT"))
    val wide = tmp("wide")
    Seq(Long.MaxValue).toDF("id").write.parquet(wide)
    // a BIGINT file read as INT: not a widening, so Spark's read (and error)
    intercept[Exception](spark.read.schema("id INT").parquet(wide).collect())
    intercept[Exception](readSmall(spark, wide, "id INT"))
    val dated = tmp("dated")
    Seq((java.sql.Date.valueOf("2024-01-02"), BigDecimal("1.50"))).toDF("d", "x")
      .write.parquet(dated)
    assert(multiset(readSmall(spark, dated, "d DATE, x DECIMAL(38,18)")) ===
      multiset(spark.read.schema("d DATE, x DECIMAL(38,18)").parquet(dated).collect()))
  }

  private def comment(l: String) = Seq("*", "/**", "//").exists(l.trim.startsWith)

  /** Each statement that starts with `spark.read`: its line, then every
    * line while a paren is open or the next line continues the chain. */
  private def statements(lines: IndexedSeq[String]): Seq[(Int, String)] =
    lines.indices.filter(i => !comment(lines(i)) && lines(i).contains("spark.read")).map { i =>
      var j = i
      var depth = lines(i).count(_ == '(') - lines(i).count(_ == ')')
      while (j + 1 < lines.length && (depth > 0 || lines(j + 1).trim.startsWith("."))) {
        j += 1
        depth += lines(j).count(_ == '(') - lines(j).count(_ == ')')
      }
      (i + 1, lines.slice(i, j + 1).mkString("\n"))
    }

  /** Every main source file with its lines. */
  private def mainSources: Seq[(Path, IndexedSeq[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (f, Files.readAllLines(f).asScala.toIndexedSeq))
  }

  test("source guard: no spark.read of an index's small tables ends in collect() or head()") {
    val small = "/(centroids|meta|codebooks|rotation|deletes)\\b|deletesDir\\(".r
    val offenders = mainSources.flatMap { case (f, lines) =>
      statements(lines).collect {
        case (n, st) if small.findFirstIn(st).nonEmpty &&
          (st.contains(".collect()") || st.contains(".head()")) => s"$f:$n"
      }
    }
    assert(offenders.isEmpty, "read small index tables with graft.store.readSmall")
  }

  test("source guard: deletes/ is read on the driver and never anti-joined") {
    // Tombstones owns deletes/: any Spark read or anti-join there is one of
    // deletes/; elsewhere, a Spark read naming deletes/, or an anti-join
    // whose statement (the line and the 3 before it) names the tombstones
    val deletes = "/deletes\\b|deletesDir\\(".r
    val offenders = mainSources.flatMap { case (f, lines) =>
      val owner = f.getFileName.toString == "Tombstones.scala"
      val reads = statements(lines).collect {
        case (n, st) if owner || deletes.findFirstIn(st).nonEmpty => s"$f:$n spark.read"
      }
      val antiJoins = lines.indices.collect {
        case i if !comment(lines(i)) && lines(i).contains("\"left_anti\"") &&
          (owner || lines.slice(i - 3 max 0, i + 1).exists(l =>
            l.contains("Tombstones") || deletes.findFirstIn(l).nonEmpty)) => s"$f:${i + 1} left_anti"
      }
      reads ++ antiJoins
    }
    assert(offenders.isEmpty,
      "drop tombstones through graft.store.Tombstones' driver read and predicate")
  }
}
