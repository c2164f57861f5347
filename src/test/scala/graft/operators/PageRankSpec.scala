package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  // a→b, b→a, c→a: N = 3, all out-degrees 1, c has no in-edges
  private def triangle = Seq(
    ("a", "b"), ("b", "a"), ("c", "a")
  ).toDF("src", "dst")

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val m = df.as[(String, Long)].collect().toMap
    graft.dedup.Dedup.release(df)
    m
  }

  test("iters = 0 returns the uniform fixed-point prior") {
    val r = ranksOf(PageRank.pageRank(triangle, "src", "dst", iters = 0))
    assert(r === Map("a" -> 333333333333L, "b" -> 333333333333L,
      "c" -> 333333333333L))
  }

  test("one round matches the hand-computed integer arithmetic") {
    // base = 3·10¹² div 60 = 50000000000; shares all 333333333333
    // r1(a) = base + (17·666666666666) div 20 = 616666666666
    // r1(b) = base + (17·333333333333) div 20 = 333333333333
    // r1(c) = base (no in-edges)
    val r = ranksOf(PageRank.pageRank(triangle, "src", "dst", iters = 1))
    assert(r === Map("a" -> 616666666666L, "b" -> 333333333333L,
      "c" -> 50000000000L))
  }

  test("three rounds rank the hub above its feeder above the source") {
    val r = ranksOf(PageRank.pageRank(triangle, "src", "dst", iters = 3))
    assert(r("a") > r("b") && r("b") > r("c"), s"ordering broke: $r")
  }

  test("dangling nodes receive mass but do not redistribute it") {
    // a→d: N = 2, r0 = 5·10¹¹; base = 3·10¹² div 40 = 75000000000
    // r1(a) = base; r1(d) = base + (17·5·10¹¹) div 20 = 500000000000
    val r = ranksOf(PageRank.pageRank(Seq(("a", "d")).toDF("src", "dst"),
      "src", "dst", iters = 1))
    assert(r === Map("a" -> 75000000000L, "d" -> 500000000000L))
  }

  test("repartitioned input changes nothing") {
    val base = ranksOf(PageRank.pageRank(triangle, "src", "dst", iters = 2))
    val repart = ranksOf(PageRank.pageRank(triangle.repartition(7),
      "src", "dst", iters = 2))
    assert(repart === base)
  }

  test("random graphs match an independent in-memory reference") {
    // seeded pseudo-random graphs vs a direct Scala implementation of the
    // SAME integer recurrence — exercises dangling nodes, multi-parents,
    // self-loops, and disconnected pieces the hand fixtures don't cover
    def reference(edges: Set[(Int, Int)], iters: Int): Map[Int, Long] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      val n = nodes.size
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      var r = nodes.map(_ -> PageRank.Scale / n).toMap
      for (_ <- 0 until iters) {
        val sums = edges.toSeq
          .map { case (u, v) => v -> r(u) / deg(u) }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        r = nodes.map(v => v ->
          (3L * PageRank.Scale / (20L * n) +
            17L * sums.getOrElse(v, 0L) / 20L)).toMap
      }
      r
    }
    val rnd = new scala.util.Random(20260814L)
    (1 to 6).foreach { trial =>
      val n = 2 + rnd.nextInt(8)
      val edges = (1 to (2 + rnd.nextInt(3 * n)))
        .map(_ => (rnd.nextInt(n), rnd.nextInt(n))).toSet
      val iters = 1 + rnd.nextInt(3)
      val got = PageRank.pageRank(
        edges.toSeq.toDF("src", "dst"), "src", "dst", iters)
      val gotMap = got.as[(Int, Long)].collect().toMap
      graft.dedup.Dedup.release(got)
      assert(gotMap === reference(edges, iters),
        s"trial $trial: graph $edges at iters=$iters")
    }
  }

  test("duplicate and null edges are cleaned; parameters are validated") {
    val noisy = triangle
      .unionByName(Seq(("a", "b"), (null, "x"), ("x", null))
        .toDF("src", "dst"))
    val r = ranksOf(PageRank.pageRank(noisy, "src", "dst", iters = 1))
    assert(r === Map("a" -> 616666666666L, "b" -> 333333333333L,
      "c" -> 50000000000L))
    intercept[IllegalArgumentException] {
      PageRank.pageRank(triangle, "src", "dst", iters = -1)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(triangle, "src", "dst", alphaNum = 20L, alphaDen = 20L)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(triangle.withColumn("_pr_r", lit(1)), "src", "dst")
    }
  }
}
