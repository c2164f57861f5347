package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** The tombstone sidecar's own contracts: schema-hinted empty reads,
  * strictly-before ledger reads, and the self-enforcing liveOnly guard
  * (double-delete nets zero, crash replay recomputes in full). */
class TombstonesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tomb").toString

  test("read honors the caller's id-type hint when no delete has landed") {
    val path = tmp()
    assert(Tombstones.read(spark, path).schema("id").dataType === LongType)
    assert(Tombstones.read(spark, path, StringType)
      .schema("id").dataType === StringType)
    assert(Tombstones.read(spark, path, StringType).count() === 0)
  }

  test("filter derives the empty-read type from the stored side") {
    val path = tmp()
    // string-keyed stored side, one delete landed: the anti-join must
    // type-match (a hardcoded LongType would mismatch or miscompare)
    Tombstones.append(spark, path, Seq("b").toDF("k"), "k")
    val stored = Seq("a", "b", "c").toDF("k")
    val kept = Tombstones.filter(spark, path, stored, "k")
      .as[String].collect().toSet
    assert(kept === Set("a", "c"))
  }

  test("readBefore excludes the given installment and everything after") {
    val path = tmp()
    Tombstones.appendAt(spark, path, Seq(1L).toDF("id"), "id", 0)
    Tombstones.appendAt(spark, path, Seq(2L).toDF("id"), "id", 1)
    Tombstones.appendAt(spark, path, Seq(3L).toDF("id"), "id", 2)
    assert(Tombstones.readBefore(spark, path, 0).count() === 0)
    assert(Tombstones.readBefore(spark, path, 2)
      .as[Long].collect().toSet === Set(1L, 2L))
    // full set through read()
    assert(Tombstones.read(spark, path)
      .as[Long].collect().toSet === Set(1L, 2L, 3L))
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
}
