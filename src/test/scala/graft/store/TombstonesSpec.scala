package graft.store

import graft.{Ran, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The tombstone sidecar's own contracts: the driver read of `deletes/`
  * (empty sets, strictly-before reads), the self-enforcing liveOnly guard
  * (double-delete nets zero, crash replay recomputes in full), the one
  * map-side skip behind `filter`, `fold` and `liveOnly` against a
  * broadcast anti-join reference, and the job budgets of the compactions
  * and deletes that use it. */
class TombstonesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tomb").toString

  /** The reference: `deletes/` read by Spark with the id column's type
    * (integer ids as BIGINT), only the installments before `before`,
    * distinct, broadcast and `left_anti`-joined on the id; `stored` as it
    * is when no deletes dir exists. */
  private def antiJoin(path: String, stored: DataFrame, idCol: String,
                       before: Int = Int.MaxValue): DataFrame =
    if (!dirExists(spark, s"$path/deletes")) stored
    else {
      val idType = stored.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType => LongType
        case t => t
      }
      val dead = spark.read.schema(StructType(Seq(StructField("id", idType),
          StructField("installment", IntegerType))))
        .parquet(s"$path/deletes")
        .filter(col("installment") < before)
        .select(col("id").as(idCol)).distinct()
      stored.join(broadcast(dead), Seq(idCol), "left_anti")
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** One delete installment written as given: duplicates and nulls kept
    * (`appendAt` stores distinct ids, an older or foreign writer may not). */
  private def landRaw(path: String, installment: Int, ids: DataFrame): Unit =
    ids.toDF("id").write.parquet(s"$path/deletes/installment=$installment")

  /** The id shapes the index families store, each with its stored rows
    * (null and repeated ids among them) and its delete installments. */
  private val shapes: Seq[(String, () => DataFrame, Seq[() => DataFrame])] = Seq(
    ("BIGINT", () => Seq(Some(1L), Some(2L), Some(2L), Some(3L), None, Some(7L))
        .toDF("k").withColumn("v", lit("x")),
      Seq(() => Seq(Some(2L), None, Some(2L), Some(9L)).toDF("id"),
        () => Seq(3L).toDF("id"))),
    ("INT then BIGINT", () => Seq(Some(1), Some(2), Some(3), None, Some(4), Some(4))
        .toDF("k").withColumn("v", lit("x")),
      Seq(() => Seq(Some(1), None).toDF("id"),
        () => Seq(4L, 1L).toDF("id"))),
    ("INT", () => Seq(Some(1), Some(2), None, Some(5)).toDF("k").withColumn("v", lit("x")),
      Seq(() => Seq(5, 5).toDF("id"))),
    ("STRING", () => Seq(Some("a"), Some("b"), None, Some("c"), Some("b"), Some(""))
        .toDF("k").withColumn("v", lit("x")),
      Seq(() => Seq(Some("b"), None, Some("b")).toDF("id"),
        () => Seq("", "z").toDF("id"))))

  /** Each shape under each deletes/ state: the listed installments, none
    * landed (absent), an empty installment, and a dir with no installment. */
  private def cases: Seq[(String, String, DataFrame)] = shapes.flatMap { case (name, stored, deletes) =>
    def at(label: String)(land: String => Unit) = {
      val path = tmp()
      land(path)
      (s"$name, $label", path, stored())
    }
    Seq(
      at("deletes landed")(p => deletes.zipWithIndex.foreach { case (d, i) => landRaw(p, i, d()) }),
      at("no deletes/")(_ => ()),
      at("an empty installment")(p => landRaw(p, 0, deletes.head().limit(0))),
      at("a deletes/ with no installment")(p => new java.io.File(s"$p/deletes").mkdirs()))
  }

  test("filter and liveOnly keep exactly the anti-join's rows for every id shape") {
    for ((name, path, stored) <- cases) {
      assert(rows(Tombstones.filter(spark, path, stored, "k")) ===
        rows(antiJoin(path, stored, "k")), s"filter: $name")
      for (before <- Seq(0, 1, 2, 5))
        assert(rows(Tombstones.liveOnly(spark, path, stored, "k", before)) ===
          rows(antiJoin(path, stored, "k", before)), s"liveOnly before $before: $name")
    }
  }

  test("fold keeps exactly the anti-join's rows, and filter agrees on asOf reads") {
    for ((name, path, stored) <- cases) {
      // the stored side as a two-installment table of the index
      stored.filter(col("k").isNull || col("k").cast("string") < "3")
        .write.parquet(s"$path/t/installment=0")
      stored.filter(col("k").isNotNull && col("k").cast("string") >= "3")
        .write.parquet(s"$path/t/installment=1")
      val table = spark.read.parquet(s"$path/t")
      val asOf = table.filter(col("installment") <= 0)
      assert(rows(Tombstones.filter(spark, path, asOf, "k")) ===
        rows(antiJoin(path, asOf, "k")), s"asOf filter: $name")
      val expected = rows(antiJoin(path, table.drop("installment"), "k"))
      assert(Tombstones.fold(spark, path, "t", "k") === expected.length, s"fold count: $name")
      assert(rows(spark.read.parquet(s"$path/t").drop("installment")) === expected, s"fold: $name")
    }
  }

  test("no delete landed: no ids, and filter and liveOnly return the frame") {
    val path = tmp()
    assert(Tombstones.collectIds(spark, path, StringType).isEmpty)
    assert(Tombstones.collectIds(spark, path, LongType).isEmpty)
    assert(Tombstones.collectLongIds(spark, path).isEmpty)
    // the frame comes back as it went in: its id type, its plan
    val stored = Seq("a", "b").toDF("k")
    assert(Tombstones.filter(spark, path, stored, "k") eq stored)
    assert(Tombstones.liveOnly(spark, path, stored, "k", 3) eq stored)
    assert(Tombstones.filter(spark, path, stored, "k").schema("k").dataType === StringType)
  }

  test("filter derives the empty-read type from the stored side") {
    val path = tmp()
    // string-keyed stored side, one delete landed: the ids must be read
    // and compared as strings (a hardcoded LongType would mismatch)
    Tombstones.append(spark, path, Seq("b").toDF("k"), "k")
    val stored = Seq("a", "b", "c").toDF("k")
    val kept = Tombstones.filter(spark, path, stored, "k")
      .as[String].collect().toSet
    assert(kept === Set("a", "c"))
    assert(Tombstones.collectIds(spark, path, StringType) === Set("b"))
  }

  test("liveOnly excludes the given installment and everything after") {
    val path = tmp()
    Tombstones.appendAt(spark, path, Seq(1L).toDF("id"), "id", 0)
    Tombstones.appendAt(spark, path, Seq(2L).toDF("id"), "id", 1)
    Tombstones.appendAt(spark, path, Seq(3L).toDF("id"), "id", 2)
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    assert(Tombstones.liveOnly(spark, path, ids, "id", 0)
      .as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    assert(Tombstones.liveOnly(spark, path, ids, "id", 2)
      .as[Long].collect().toSet === Set(3L, 4L))
    // the full set through collectIds
    assert(Tombstones.collectIds(spark, path, LongType) === Set(1L, 2L, 3L))
    assert(Tombstones.collectLongIds(spark, path).toSeq === Seq(1L, 2L, 3L))
  }

  test("liveOnly: double-delete contributes nothing, replay keeps its ids") {
    val path = tmp()
    Tombstones.appendAt(spark, path, Seq(1L, 2L).toDF("id"), "id", 0)
    val batch = Seq(2L, 3L).toDF("id")
    // a NEW delete at installment 1 sees 2 already tombstoned → only 3
    assert(Tombstones.liveOnly(spark, path, batch, "id", 1)
      .as[Long].collect().toSet === Set(3L))
    // a REPLAY of installment 0 excludes its own partition → full batch
    assert(Tombstones.liveOnly(spark, path, Seq(1L, 2L).toDF("id"), "id", 0)
      .as[Long].collect().toSet === Set(1L, 2L))
  }

  test("Installments.stats: per-table installment counts + deletes sidecar (r17)") {
    val path = tmp() + "/idx"
    Seq(1L, 2L, 3L).toDF("id")
      .write.parquet(s"$path/codes/installment=0")
    Seq(4L).toDF("id")
      .write.parquet(s"$path/codes/installment=1")
    Tombstones.append(spark, path, Seq(2L, 2L, 3L).toDF("id"), "id")
    val got = Installments.stats(spark, path, Seq("codes", "absent"))
      .as[(String, Int, Long)].collect().toSet
    // absent tables skip; deletes installment stores its batch distinct
    assert(got === Set(("codes", 0, 3L), ("codes", 1, 1L),
      ("deletes", 0, 2L)))
    // no index at all -> empty frame, correct schema
    val empty = Installments.stats(spark, tmp() + "/nothing", Seq("codes"))
    assert(empty.columns.toSeq === Seq("table", "installment", "n_rows"))
    assert(empty.count() === 0L)
  }

  test("Installments.ivfStats: list-balance counts over the two-level layout (r17)") {
    val path = tmp() + "/ivf"
    Seq(1L, 2L).toDF("id").write.parquet(s"$path/list_id=0/ingest=0")
    Seq(3L).toDF("id").write.parquet(s"$path/list_id=1/ingest=0")
    Seq(4L, 5L, 6L).toDF("id").write.parquet(s"$path/list_id=1/ingest=1")
    val got = Installments.ivfStats(spark, path)
      .as[(Int, Int, Long)].collect().toSet
    assert(got === Set((0, 0, 2L), (1, 0, 1L), (1, 1, 3L)))
  }

  test("deletes of INT then BIGINT ids fold out of ivfCompact and int8Compact") {
    val rnd = new scala.util.Random(5)
    val built = (0 until 300).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = tmp() + "/ivf"
    graft.index.SimilarityIndex.ivfBuild(built, ivf, nlist = 4)
    val flat = tmp() + "/int8"
    graft.index.Quantize.int8Build(built, flat)
    // the first installment holds INT ids, a later one BIGINT ids
    for (path <- Seq(ivf, flat)) {
      Tombstones.append(spark, path, Seq(1, 2, 3).toDF("vec_id"), "vec_id")
      Tombstones.append(spark, path, Seq(3L, 4L).toDF("vec_id"), "vec_id")
    }
    assert(graft.index.SimilarityIndex.ivfCompact(spark, ivf) === 296L)
    assert(graft.index.Quantize.int8Compact(spark, flat) === 296L)
    assert(spark.read.parquet(s"$ivf/assignments").count() === 296L)
    assert(spark.read.parquet(s"$flat/codes").filter($"vec_id" <= 4L).count() === 1L)
  }
  // Job budgets with a delete landed; "before" is the count under the
  // broadcast anti-join over a distinct Spark read of deletes/ that the
  // driver read replaced.
  private def vectors(n: Int, from: Long = 0L): DataFrame = {
    val rnd = new scala.util.Random(from + 11)
    (0 until n).map(i => (from + i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** No job started by a tombstone read: the only job whose first `graft.`
    * frame is in [[Tombstones]] is the write of a delete list (`appendAt`). */
  private def noTombstoneJob(r: Ran): Boolean = r.jobSites.forall { site =>
    val first = site.split("\n").find(_.trim.startsWith("graft.")).getOrElse("")
    !first.contains("graft.store.Tombstones$.") || first.contains("Tombstones$.appendAt")
  }

  /** No scan pushes an id list: the skip is a predicate the scan cannot see. */
  private def noPushedIds(r: Ran, dir: String): Boolean =
    r.scansOf(dir).nonEmpty &&
      r.scansOf(dir).forall(!_.metadata.getOrElse("PushedFilters", "").contains("In("))

  test("int8Compact with a delete landed: at most 2 jobs, no shuffle stage") {
    val path = tmp() + "/int8"
    graft.index.Quantize.int8Build(vectors(200), path)
    graft.index.Quantize.int8Append(spark, path, vectors(50, 200L))
    graft.index.Quantize.int8Delete(spark, path, Seq(3L, 4L, 210L).toDF("vec_id"))
    val (n, r) = Ran(spark)(graft.index.Quantize.int8Compact(spark, path))
    assert(n === 247L)
    assert(r.jobs <= 2, s"int8Compact ran ${r.jobs} jobs") // before: 3
    assert(r.shuffleStages === 0, s"int8Compact ran ${r.shuffleStages} shuffle stages") // before: 1
    assert(noTombstoneJob(r) && noPushedIds(r, "codes"))
  }

  test("pqCompact with a delete landed: at most 2 jobs, no shuffle stage") {
    val path = tmp() + "/pq"
    graft.index.Pq.pqBuild(vectors(200), path, m = 4, ksub = 16)
    graft.index.Pq.pqAppend(spark, path, vectors(50, 200L))
    graft.index.Pq.pqDelete(spark, path, Seq(3L, 4L, 210L).toDF("vec_id"))
    val (n, r) = Ran(spark)(graft.index.Pq.pqCompact(spark, path))
    assert(n === 247L)
    assert(r.jobs <= 2, s"pqCompact ran ${r.jobs} jobs") // before: 3
    assert(r.shuffleStages === 0, s"pqCompact ran ${r.shuffleStages} shuffle stages") // before: 1
    assert(noTombstoneJob(r) && noPushedIds(r, "codes"))
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different content about spark engines and parquet files"),
    (3L, "yet another unrelated document mentioning streams and state"),
    (4L, "a fourth document about tombstones and compaction of indexes")
  ).toDF("doc_id", "text")

  test("minhashIndexVacuum with a delete landed runs no tombstone job") {
    val path = tmp() + "/mh"
    graft.dedup.Dedup.minhashIndexBuild(docs, "text", "doc_id", path, bands = 16)
    graft.dedup.Dedup.minhashIndexDelete(spark, path, Seq(2L).toDF("doc_id"))
    val (n, r) = Ran(spark)(graft.dedup.Dedup.minhashIndexVacuum(spark, path))
    assert(n === 3L)
    assert(noTombstoneJob(r) && noPushedIds(r, "sets") && noPushedIds(r, "bands"))
    assert(r.jobs <= 9, s"minhashIndexVacuum ran ${r.jobs} jobs") // before: 13
    assert(r.shuffleStages <= 3, s"minhashIndexVacuum ran ${r.shuffleStages} shuffle stages") // before: 5
  }

  test("minhashIndexDeleteAt runs no job on deletes/: no inference, no scan") {
    val path = tmp() + "/mh"
    graft.dedup.Dedup.minhashIndexBuild(docs, "text", "doc_id", path, bands = 16)
    graft.dedup.Dedup.minhashIndexDeleteAt(spark, path, Seq(2L).toDF("doc_id"), "doc_id", 1, 0)
    val (n, r) = Ran(spark)(graft.dedup.Dedup.minhashIndexDeleteAt(
      spark, path, Seq(2L, 3L).toDF("doc_id"), "doc_id", 2, 1))
    assert(n === 1)
    assert(noTombstoneJob(r) && r.scansOf("deletes").isEmpty)
    assert(r.jobs <= 5, s"minhashIndexDeleteAt ran ${r.jobs} jobs") // before: 12
    assert(r.shuffleStages <= 1, s"minhashIndexDeleteAt ran ${r.shuffleStages} shuffle stages") // before: 5
    // the double-deleted id 2 lands no tombstone row again
    assert(Tombstones.collectIds(spark, path, LongType) === Set(2L, 3L))
    assert(spark.read.parquet(s"$path/deletes/installment=1").count() === 1L)
  }
}
