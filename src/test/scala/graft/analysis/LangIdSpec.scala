package graft.analysis

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Trained char-n-gram language ID: held-out generalization across all
  * 32 built-in languages, kernel edges, heuristic fallback, and the
  * r17 confidence margin against an in-test nearest-centroid reference. */
class LangIdSpec extends SparkTestBase {
  import spark.implicits._

  // held-out: sentences in neither the training samples nor the
  // doc_langid fixture — generalization, not memorization
  private val heldOut = Seq(
    "ar" -> "أغلق الرجل العجوز الباب وانتظر حتى يتوقف المطر قبل أن يعود إلى البيت.",
    "de" -> "Der alte Mann schloss die Tür und wartete, bis der Regen aufhörte, bevor er nach Hause ging.",
    "en" -> "The old man closed the door and waited for the rain to stop before walking home.",
    "es" -> "El viejo cerró la puerta y esperó a que dejara de llover antes de volver a casa.",
    "fr" -> "Le vieil homme a fermé la porte et a attendu que la pluie s'arrête avant de rentrer chez lui.",
    "hi" -> "बूढ़े आदमी ने दरवाज़ा बंद किया और घर जाने से पहले बारिश रुकने का इंतज़ार किया।",
    "it" -> "Il vecchio chiuse la porta e aspettò che la pioggia smettesse prima di tornare a casa.",
    "ja" -> "老人はドアを閉めて、家に帰る前に雨がやむのを待った。",
    "ko" -> "노인은 문을 닫고 비가 그칠 때까지 기다렸다가 집으로 걸어갔다.",
    "nl" -> "De oude man sloot de deur en wachtte tot de regen ophield voordat hij naar huis liep.",
    "pl" -> "Stary człowiek zamknął drzwi i czekał, aż deszcz przestanie padać, zanim wrócił do domu.",
    "pt" -> "O velho fechou a porta e esperou que a chuva parasse antes de voltar para casa.",
    "ru" -> "Старик закрыл дверь и ждал, пока дождь закончится, прежде чем идти домой.",
    "sv" -> "Den gamle mannen stängde dörren och väntade tills regnet slutade innan han gick hem.",
    "tr" -> "Yaşlı adam kapıyı kapattı ve eve yürümeden önce yağmurun durmasını bekledi.",
    "zh" -> "老人关上门，等雨停了才回家。",
    // r17 breadth languages — incl. every confusable pair's new side
    // (da vs sv/nl, uk vs ru, fa vs ar, cs vs pl)
    "cs" -> "Starý muž zavřel dveře a počkal, až déšť přestane, než se vrátil domů.",
    "da" -> "Den gamle mand lukkede døren og ventede, til regnen holdt op, før han gik hjem.",
    "el" -> "Ο γέρος έκλεισε την πόρτα και περίμενε να σταματήσει η βροχή πριν γυρίσει σπίτι.",
    "fa" -> "پیرمرد در را بست و منتظر ماند تا باران بند بیاید و سپس به خانه برگشت.",
    "fi" -> "Vanha mies sulki oven ja odotti sateen loppumista ennen kuin käveli kotiin.",
    "hu" -> "Az öregember becsukta az ajtót és megvárta, amíg eláll az eső, mielőtt hazament.",
    "uk" -> "Старий чоловік зачинив двері й почекав, поки дощ скінчиться, перш ніж іти додому.",
    "vi" -> "Ông già đóng cửa và đợi mưa tạnh rồi mới đi bộ về nhà.",
    // r17 third-session breadth — incl. the new confusable sides
    // (ro vs fr/it, bg vs ru/uk, id vs nl, sw alone)
    "th" -> "ชายชราปิดประตูและรอให้ฝนหยุดก่อนจะเดินกลับบ้าน",
    "he" -> "האיש הזקן סגר את הדלת וחיכה שהגשם ייפסק לפני שהלך הביתה.",
    "bn" -> "বৃদ্ধ লোকটি দরজা বন্ধ করে বৃষ্টি থামার অপেক্ষায় ছিল, তারপর বাড়ি ফিরে গেল।",
    "ta" -> "முதியவர் கதவை மூடி, மழை நிற்கும் வரை காத்திருந்து பிறகு வீட்டிற்கு நடந்து சென்றார்.",
    "id" -> "Orang tua itu menutup pintu dan menunggu hujan berhenti sebelum berjalan pulang.",
    "ro" -> "Bătrânul a închis ușa și a așteptat să se oprească ploaia înainte de a merge acasă.",
    "sw" -> "Mzee alifunga mlango na kusubiri mvua ikome kabla ya kutembea kwenda nyumbani.",
    "bg" -> "Старецът затвори вратата и изчака дъждът да спре, преди да тръгне към къщи.")

  test("charGramsText: padded 1-3 grams, letters only, total") {
    assert(LangId.charGramsText(null) === "")
    assert(LangId.charGramsText("  12 34 !? ") === "")
    // "ab" -> _ab_: unigrams a b; bigrams _a ab b_; trigrams _ab ab_
    assert(LangId.charGramsText("Ab").split(" ").toSeq.sorted ===
      Seq("_a", "_ab", "a", "ab", "ab_", "b", "b_"))
    // digits/punct drop inside words; ws splits
    assert(LangId.charGramsText("a1b c") ===
      LangId.charGramsText("ab c"))
    // CJK: the unspaced run is one padded word with char grams
    assert(LangId.charGramsText("天气").split(" ").contains("天气"))
  }

  test("held-out sentences classify to their language, all 32") {
    val docs = heldOut.zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, lang, text) }
      .toDF("doc_id", "expected", "text")
    val got = LangId.classify(docs)
      .join(docs.select("doc_id", "expected"), Seq("doc_id"))
      .select("doc_id", "lang", "expected")
      .as[(Long, String, String)].collect()
    val wrong = got.filter(r => r._2 != r._3)
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
  }

  test("fallback: gram-less docs take the heuristic label; empty is und") {
    val docs = Seq(
      (1L, "12345 67890 ..."), // no letters at all -> heuristic "und"
      (2L, ""),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = LangId.classify(docs).as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "und", 2L -> "und", 3L -> "und"))
  }

  test("confidence: positive margins on held-out, NULL on fallback, label parity (r17)") {
    val docs = heldOut.zipWithIndex
      .map { case ((_, text), i) => (i.toLong, text) }
      .toDF("doc_id", "text")
      .unionByName(Seq((999L, "12345 ...")).toDF("doc_id", "text"))
    val got = LangId.classifyWithConfidence(docs)
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // label parity with plain classify on every row
    val plain = LangId.classify(docs).as[(Long, String)].collect().toMap
    got.foreach { case (id, (lang, _)) =>
      assert(lang === plain(id), s"label drift vs classify for doc $id")
    }
    // centroid-scored rows: the margin is strictly positive (no exact
    // cross-language tie exists in this fixture)
    heldOut.indices.foreach { i =>
      val (_, conf) = got(i.toLong)
      assert(conf.exists(_ > 0.0), s"doc $i margin: $conf")
    }
    // heuristic fallback carries no margin
    assert(got(999L)._1 === "und" && got(999L)._2.isEmpty)
    // single-class margin: a doc sharing grams with exactly one
    // centroid reports cos1 - 0 (the degenerate-but-defined case) —
    // use a model with one label so only it can score
    val tiny = Classify.centroidTrain(
      Seq(("xx", LangId.charGramsText("qa qb")))
        .toDF("label", "g"), "g", "label")
    val one = LangId.classifyWithConfidence(
      Seq((1L, "qa qa qb")).toDF("doc_id", "text"), model = tiny)
      .as[(Long, String, Option[Double])].head()
    assert(one._2 === "xx")
    assert(one._3.exists(c => c > 0.9 && c <= 1.0))
  }

  test("gramCounts equals counting charGramsText's tokens (r18 pin)") {
    // the per-row gram-count kernel vs the build-string + split chain
    // it replaced (r17): same multiset counts and same squared norm,
    // char for char, over edge-heavy fixtures
    val fixtures = Seq(
      null.asInstanceOf[String], "", "  12 34 !? ", "Ab", "a1b c",
      "天气 很 天气", "tab\tsplit\nnewline", "ümlaut ÜMLAUT",
      "x", "aaaa", "word word word mixed-punct!! word")
    fixtures.foreach { s =>
      val gc = LangId.gramCounts(s)
      if (s == null) assert(gc == null, "null text must map to null")
      else {
        val toks = LangId.charGramsText(s).split(" ").filter(_.nonEmpty)
        val want = toks.groupBy(identity).map { case (t, g) =>
          t -> g.length.toLong
        }
        assert(gc._1 === want, s"counts drift for '$s'")
        assert(gc._2 === want.values.map(d => d * d).sum,
          s"norm drift for '$s'")
      }
    }
  }

  test("confidence matches an in-test nearest-centroid reference (r18 pin)") {
    // the per-row scorer vs a direct Scala nearest-centroid over the
    // same gram counts: labels AND margins must agree exactly (double
    // equality — one correctly-rounded cosine per class, one
    // subtraction); gram-less rows take the heuristic with no margin
    val centroids: Map[String, Map[String, Long]] = LangId.TrainSamples
      .groupBy(_._1).map { case (lang, rows) =>
        lang -> rows.flatMap(r => LangId.gramCounts(r._2)._1.toSeq)
          .groupBy(_._1).map { case (g, cs) => g -> cs.map(_._2).sum }
      }
    def reference(text: String): (String, Option[Double]) = {
      val gc = LangId.gramCounts(text)
      val ranked =
        if (gc == null) Seq.empty
        else centroids.toSeq.flatMap { case (lang, c) =>
          val dot = gc._1.map { case (g, d) => d * c.getOrElse(g, 0L) }.sum
          if (dot == 0L) None
          else {
            val cn = c.values.map(v => v * v).sum
            Some(lang -> dot.toDouble /
              (math.sqrt(gc._2.toDouble) * math.sqrt(cn.toDouble)))
          }
        }.sortBy { case (lang, cos) => (-cos, lang) }
      ranked match {
        case Seq() => (TextMetrics.languageId(text), None)
        case Seq((lang, c1)) => (lang, Some(c1 - 0.0))
        case (lang, c1) +: (_, c2) +: _ => (lang, Some(c1 - c2))
      }
    }
    val rows = heldOut.zipWithIndex.map { case ((_, text), i) =>
      (i.toLong, text)
    } ++ Seq((999L, "12345 ..."), (1000L, ""),
      (1001L, null.asInstanceOf[String]))
    val got = LangId.classifyWithConfidence(rows.toDF("doc_id", "text"))
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size === rows.size)
    rows.foreach { case (id, text) =>
      assert(got(id) === reference(text), s"doc $id")
    }
    assert(got(999L) === (("und", None)) && got(1000L) === (("und", None)) &&
      got(1001L) === (("und", None)))
  }

  test("classify plan is map-only on the broadcast path (r18)") {
    val docs = heldOut.take(3).zipWithIndex
      .map { case ((_, text), i) => (i.toLong, text) }
      .toDF("doc_id", "text")
    val plan = LangId.classify(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"per-row classification must be map-only:\n$plan")
  }
}
