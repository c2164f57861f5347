package graft.pipeline

import graft.SparkTestBase

class CorpusCleanSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox and the lazy dog ran over the hill"), // good en
    (2L, "THE QUICK BROWN FOX AND THE LAZY DOG RAN OVER THE HILL"), // dup of 1 (normalized)
    (3L, "el rapido zorro y el perro en la casa de la villa"),      // es
    (4L, "!!! ??? *** ### $$$ %%% @@@ &&& ^^^ ~~~ ||| +++"),        // junk
    (5L, "the and of to in is that it for with as at by on")        // stopword-heavy en
  ).toDF("doc_id", "text")

  test("cleaning keeps quality en docs, drops junk/other-language/dups") {
    val kept = CorpusClean.clean(docs, minQuality = 0.5, keepLangs = Seq("en"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L), "good English doc must survive")
    assert(!kept.contains(2L), "normalized duplicate must be dropped (min id wins)")
    assert(!kept.contains(3L), "Spanish doc must be dropped by the language filter")
    assert(!kept.contains(4L), "symbol junk must be dropped by the quality filter")
  }

  test("clean output carries pred_lang and m_quality columns") {
    val row = CorpusClean.clean(docs, minQuality = 0.0, keepLangs = Seq("en", "es"))
      .filter($"doc_id" === 3L)
      .select("pred_lang", "m_quality").as[(String, Double)].head()
    assert(row._1 === "es")
    assert(row._2 >= 0.0 && row._2 <= 1.0)
  }

  private val lineDocs = Seq(
    // "footer" appears in 3 docs; with maxDocFreq=2 it is boilerplate
    (1L, 0L, "unique alpha"), (1L, 1L, "footer"), (1L, 2L, "unique beta"),
    (2L, 0L, "footer"), (2L, 1L, "unique gamma"),
    (3L, 0L, "unique delta"), (3L, 5L, "footer"),
    (4L, 0L, "footer") // fully-boilerplate doc
  ).toDF("doc_id", "pos", "line")

  test("dedupUnits drops corpus-hot units and reassembles in pos order") {
    val got = CorpusClean.dedupUnits(lineDocs, "doc_id", "pos", "line",
      maxDocFreq = 2, sep = "\n")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, "unique alpha\nunique beta", 2L, 1L)))
    assert(got(2L) === ((2L, "unique gamma", 1L, 1L)))
    assert(got(3L) === ((3L, "unique delta", 1L, 1L)))
    // a fully-boilerplate doc keeps its row with empty text
    assert(got(4L) === ((4L, "", 0L, 1L)))
  }

  test("dedupUnits: units at the frequency boundary survive") {
    // footer df = 4 == maxDocFreq → NOT boilerplate (strictly-greater cut)
    val got = CorpusClean.dedupUnits(lineDocs, "doc_id", "pos", "line",
      maxDocFreq = 4, sep = "\n")
      .as[(Long, String, Long, Long)].collect()
    assert(got.forall(_._4 === 0L), s"nothing should drop at df==maxDocFreq: ${got.toSeq}")
  }

  test("dedupUnits guards reserved names") {
    intercept[IllegalArgumentException](CorpusClean.dedupUnits(
      lineDocs.withColumn("_uh", $"pos"), "doc_id", "pos", "line", 2))
  }

  test("c4Clean applies the C4 line rules and page rules byte-exactly") {
    val docs = Seq(
      (1L, "This is a good sentence. \n  Also kept here! \nno punct line" +
        "\nToo short.\nHas some JavaScript inside.\nKept again, truly?"),
      (2L, "Only one good sentence here.\nrest\nbad"),
      (3L, "A fine sentence one.\nA fine sentence two.\nA fine sentence three." +
        "\nvar f = { x: 1 }."),
      (4L, "Lorem Ipsum is filler text.\nSentence a is fine." +
        "\nSentence b is fine.\nSentence c is fine.")
    ).toDF("doc_id", "text")
    val out = CorpusClean.c4Clean(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // punct + ≥3 words + no-javascript (case-insensitive); lines trimmed
    assert(out(0) === ((1L,
      "This is a good sentence.\nAlso kept here!\nKept again, truly?",
      3L, 3L, true)))
    // fewer than 3 kept lines → page dropped, lines still reported
    assert(out(1) === ((2L, "Only one good sentence here.", 1L, 2L, false)))
    // the code line passes the LINE rules; the '{' PAGE rule drops the doc
    assert(out(2)._3 === 4L && out(2)._5 === false)
    // "lorem ipsum" page rule (case-insensitive) despite 4 kept lines
    assert(out(3)._3 === 4L && out(3)._5 === false)
  }

  test("c4Clean: blank and reserved-name edges") {
    val out = CorpusClean.c4Clean(Seq((1L, " ")).toDF("doc_id", "text"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out(0) === (("", 0L, 1L, false)))
    intercept[IllegalArgumentException](CorpusClean.c4Clean(
      Seq((1L, "x", "y")).toDF("doc_id", "text", "_c4")))
  }
}
