package graft.store

import graft.SparkTestBase
import scala.jdk.CollectionConverters._

/** The one directory-replacement path: stale siblings from an interrupted
  * run never leak into the result, a failing fill leaves the old layout
  * in place, cached plans see the swap, and no other main source swaps a
  * directory by hand. */
class DirSwapSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_dirswap").toFile
    d.deleteOnExit()
    d
  }

  /** `base/t` holding `ids` as one `installment=0` partition. */
  private def table(base: java.io.File, ids: Long*): String = {
    val dir = new java.io.File(base, "t").toString
    ids.toDF("id").write.parquet(s"$dir/installment=0")
    dir
  }

  private def ids(dir: String): Set[Long] =
    spark.read.parquet(dir).select("id").as[Long].collect().toSet

  /** Everything next to `t` except `t` itself. */
  private def siblings(base: java.io.File): Set[String] =
    base.list().toSet.filter(n => n != "t" && n.startsWith("t"))

  test("stale side and aside dirs of an interrupted run never reach the result") {
    val base = tmpDir()
    val dir = table(base, 1L, 2L)
    Seq(98L).toDF("id").write.parquet(s"$dir._compacting/installment=5")
    Seq(99L).toDF("id").write.parquet(s"$dir._old/installment=0")
    val n = DirSwap.replace(spark, dir) { side =>
      Seq(3L, 4L).toDF("id").write.parquet(s"$side/installment=0")
      spark.read.parquet(side).count()
    }
    assert(n === 2L)
    assert(ids(dir) === Set(3L, 4L))
    assert(siblings(base).isEmpty)
  }

  test("a swap cut between its two renames is rolled back before the next fill") {
    val base = tmpDir()
    val dir = table(base, 1L, 2L)
    // the state a crash after swap-out leaves: old layout aside, the
    // complete replacement in the side dir, no `dir`
    new java.io.File(dir).renameTo(new java.io.File(s"$dir._old"))
    Seq(7L).toDF("id").write.parquet(s"$dir._compacting/installment=0")
    val seen = DirSwap.replace(spark, dir) { side =>
      val old = ids(dir)
      Seq(5L).toDF("id").write.parquet(s"$side/installment=0")
      old
    }
    assert(seen === Set(1L, 2L))
    assert(ids(dir) === Set(5L))
    assert(siblings(base).isEmpty)
  }

  test("a failing fill leaves the old rows readable and no sibling behind") {
    val base = tmpDir()
    val dir = table(base, 1L, 2L)
    val e = intercept[IllegalStateException] {
      DirSwap.replace(spark, dir) { side =>
        Seq(3L).toDF("id").write.parquet(s"$side/installment=0")
        throw new IllegalStateException("fill failed")
      }
    }
    assert(e.getMessage === "fill failed")
    assert(ids(dir) === Set(1L, 2L))
    assert(siblings(base).isEmpty)
  }

  test("after success the dir reads exactly the new rows, nothing else remains") {
    val base = tmpDir()
    val dir = table(base, 1L, 2L, 3L)
    DirSwap.replace(spark, dir) { side =>
      Seq(2L, 3L).toDF("id").write.parquet(s"$side/installment=0")
    }
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted
      .toSeq === Seq(2L, 3L))
    assert(siblings(base).isEmpty)
  }

  test("a frame cached over the dir before the swap reads the new rows after it") {
    val base = tmpDir()
    val dir = table(base, 1L, 2L)
    val cached = spark.read.parquet(dir).select("id")
    cached.cache()
    try {
      assert(cached.as[Long].collect().toSet === Set(1L, 2L))
      DirSwap.replace(spark, dir) { side =>
        Seq(8L, 9L).toDF("id").write.parquet(s"$side/installment=0")
      }
      assert(cached.as[Long].collect().toSet === Set(8L, 9L))
    } finally cached.unpersist(blocking = true)
  }

  test("source guard: directories are replaced only through DirSwap") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    val rootPath = root.toPath
    val sources = java.nio.file.Files.walk(rootPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val lines = sources.flatMap { p =>
      val rel = rootPath.relativize(p).toString
      java.nio.file.Files.readAllLines(p).asScala.map(l => (rel, l.trim))
    }
    val helper = "graft/store/DirSwap.scala"
    val renames = lines.filter(_._2.contains(".rename(")).filter(_._1 != helper)
    // the two single-FILE Bloom writes: Crawl.saveBloom and the `.meta`
    // sidecar of Crawl.buildFetchedBloom
    assert(renames.toSet === Set(
      ("graft/pipeline/Crawl.scala", "if (!fs.rename(tmp, p))"),
      ("graft/pipeline/Crawl.scala", "if (!fs.rename(tmp, metaP))")),
      "replace directories through graft.store.DirSwap.replace, never fs.rename")
    assert(renames.size === 2)
    val sideNames = "\\._(compacting|purging|old)".r
    val named = lines.filter(l => sideNames.findFirstIn(l._2).isDefined)
      .map(_._1).toSet
    assert(named === Set(helper),
      "side/aside directory names belong to graft.store.DirSwap alone")
  }
}
