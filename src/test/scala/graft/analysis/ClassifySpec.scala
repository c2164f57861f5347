package graft.analysis

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ClassifySpec extends SparkTestBase {
  import spark.implicits._

  // two classes whose centroids are hand-computable:
  //   sport = {ball: 2, goal: 1}  (||c||² = 5)
  //   food  = {cake: 2, bread: 1} (||c||² = 5)
  private def labeled = Seq(
    ("ball goal ball", "sport"),
    ("cake bread cake", "food")
  ).toDF("text", "label")

  private def docs = Seq(
    (1L, "ball ball goal"),   // = sport centroid direction → cosine 1.0
    (2L, "bread cake"),       // food
    (3L, "zzz qqq"),          // no overlap → no row
    (4L, "   "),              // empty after trim → no row
    (5L, "ball cake")         // exact tie (dot 2 vs 2, both norms 5) → label asc
  ).toDF("doc_id", "text")

  test("centroidTrain counts per-class tokens and prunes by minCount") {
    val m = Classify.centroidTrain(labeled).as[(String, String, Long)]
      .collect().toSet
    assert(m === Set(("sport", "ball", 2L), ("sport", "goal", 1L),
      ("food", "cake", 2L), ("food", "bread", 1L)))
    val pruned = Classify.centroidTrain(labeled, minCount = 2L)
      .as[(String, String, Long)].collect().toSet
    assert(pruned === Set(("sport", "ball", 2L), ("food", "cake", 2L)))
  }

  test("centroidScore predicts the hand-computed argmax with exact cosines") {
    val out = Classify.centroidClassify(docs, labeled)
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._2).toSeq ===
      Seq(1L -> "sport", 2L -> "food", 5L -> "food"))
    // doc 1 is the sport centroid direction: dot = 5, ||d||² = 5, ||c||² = 5
    val m = out.map(r => r._1 -> r._3).toMap
    assert(m(1L) === 5.0 / (math.sqrt(5.0) * math.sqrt(5.0)))
    // the tie on doc 5 is exact (dot 2 with both, norms 2 and 5): the
    // label-asc tie-break must pick "food"
    assert(m(5L) === 2.0 / (math.sqrt(2.0) * math.sqrt(5.0)))
  }

  test("no-overlap and empty documents produce no prediction row") {
    val ids = Classify.centroidClassify(docs, labeled)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(3L) && !ids.contains(4L))
  }

  test("null labels train nothing; reserved columns are guarded") {
    val withNull = labeled.unionByName(
      Seq(("noise noise", null.asInstanceOf[String])).toDF("text", "label"))
    val m = Classify.centroidTrain(withNull)
    assert(m.filter(col("token") === "noise").isEmpty)
    val e = intercept[IllegalArgumentException] {
      Classify.centroidScore(docs.withColumn("_cx_tc", lit(1)), m)
    }
    assert(e.getMessage.contains("_cx_tc"))
  }

  test("random corpora match an independent in-memory reference") {
    // seeded random docs/labels vs a direct Scala Rocchio over the same
    // integer arithmetic — exercises multi-class argmax, ties, k above
    // the class count, and no-overlap/empty docs beyond the hand fixture
    val words = Array("aa", "bb", "cc", "dd", "ee")
    val rnd = new scala.util.Random(99L)
    def doc(): String =
      (1 to (1 + rnd.nextInt(6))).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")
    val labeledRows = (1 to 12).map(_ => (doc(), s"c${rnd.nextInt(3)}"))
    val docRows = (1L to 20L).map(i => (i, doc())) :+ ((21L, ""))

    val centroids: Map[String, Map[String, Long]] = labeledRows
      .groupBy(_._2).map { case (lab, rows) =>
        lab -> rows.flatMap(_._1.split(" ")).groupBy(identity)
          .map { case (t, ts) => t -> ts.size.toLong }
      }
    // every class sharing a token with the doc, best first
    def ranked(text: String): Seq[(String, Double)] = {
      val d = text.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (t, ts) => t -> ts.size.toLong }
      val dn = d.values.map(v => v * v).sum
      val scored = centroids.toSeq.flatMap { case (lab, c) =>
        val dot = d.map { case (t, v) => v * c.getOrElse(t, 0L) }.sum
        if (dot == 0) None
        else {
          val cn = c.values.map(v => v * v).sum
          Some(lab -> dot.toDouble / (math.sqrt(dn.toDouble) * math.sqrt(cn.toDouble)))
        }
      }
      scored.sortBy { case (lab, cos) => (-cos, lab) }
    }

    val docsDf = docRows.toDF("doc_id", "text")
    val labeledDf = labeledRows.toDF("text", "label")
    val got = Classify.centroidClassify(docsDf, labeledDf)
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    docRows.foreach { case (id, text) =>
      val want = ranked(text).headOption
      assert(got.get(id).map(_._1) === want.map(_._1), s"doc $id '$text'")
      (got.get(id), want) match {
        case (Some((_, g)), Some((_, w))) => assert(math.abs(g - w) < 1e-12)
        case _ => ()
      }
    }
    // the top-k form: label, cosine and rank of every emitted row
    val model = Classify.centroidTrain(labeledDf)
    Seq(1, 2, 7).foreach { k =>
      val topk = Classify.centroidScoreTopK(docsDf, model, k = k)
        .as[(Long, String, Double, Int)].collect()
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq
        }
      docRows.foreach { case (id, text) =>
        val want = ranked(text).take(k).zipWithIndex
          .map { case ((lab, cos), i) => (lab, cos, i + 1) }
        val have = topk.getOrElse(id, Seq.empty)
        assert(have.map(r => (r._1, r._3)) === want.map(r => (r._1, r._3)),
          s"k=$k doc $id '$text'")
        have.zip(want).foreach { case (h, w) =>
          assert(math.abs(h._2 - w._2) < 1e-12, s"k=$k doc $id cosine")
        }
      }
    }
  }

  test("scoring plan never shuffles or joins the corpus") {
    // r18: the broadcast-model path scores per row against a
    // driver-collected model — the scoring plan must carry NO join and
    // NO exchange at all (the former shape was a broadcast equi-join
    // plus the per-(doc, label) dot aggregation and TopK regroup)
    val plan = Classify.centroidClassify(docs, labeled)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"per-row scoring must be map-only:\n$plan")
  }

  test("tokCountsUdf equals the explode/groupBy counting chain (r18 pin)") {
    // the per-row token-count kernel vs the chain it replaced (r17):
    // same counts, same squared norm, over edge-heavy fixtures —
    // nulls, empty, whitespace runs, tab/newline-leading, CJK, repeats
    val fixtures = Seq(
      (1L, "ball goal ball"),
      (2L, "\tleading tabodd"),
      (3L, "  "),
      (4L, null.asInstanceOf[String]),
      (5L, "天气 很 天气 冷\n多行"),
      (6L, "a a a a a b"),
      (7L, "x"),
      (8L, "ümlaut Ümlaut ümlaut"))
    val df = fixtures.toDF("doc_id", "text")
    val viaUdf = df.select(col("doc_id"),
        Classify.tokCountsUdf(col("text")).as("tc"))
      .as[(Long, Option[(Map[String, Long], Long)])].collect().toMap
    val viaChain = df
      .select(col("doc_id"),
        explode(TextMetrics.wsTokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1)
      .map { case (id, rows) =>
        id -> rows.map(r => r._2 -> r._3).toMap
      }
    fixtures.foreach { case (id, text) =>
      val udfSide = viaUdf(id)
      if (text == null) assert(udfSide.isEmpty, s"doc $id: null text")
      else {
        val (counts, dn) = udfSide.get
        assert(counts === viaChain.getOrElse(id, Map.empty[String, Long]),
          s"doc $id counts")
        assert(dn === counts.values.map(d => d * d).sum, s"doc $id norm")
      }
    }
  }
}
