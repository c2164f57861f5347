package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SamplingPackingSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("hashSample is deterministic and fraction-accurate") {
    val total = docs.count()
    val a = Sampling.hashSample(docs, "doc_id", 0.3)
    val b = Sampling.hashSample(docs, "doc_id", 0.3)
    assert(a.select("doc_id").collect().toSet === b.select("doc_id").collect().toSet)
    val frac = a.count().toDouble / total
    // multiplicative hash on sequential ids: within a few points of target
    assert(frac > 0.2 && frac < 0.4, s"sample fraction off: $frac")
    // monotone: a smaller fraction is a strict subset of a larger one
    val small = Sampling.hashSample(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet
    val big = a.select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big))
  }

  test("hashCoord is exact for 64-bit keys (the 31-bit fold)") {
    // keys straddling every overflow boundary the UNFOLDED multiply would
    // hit: 2^31 (product > 2^63 wraps), 2^32, Long.MaxValue, and negatives
    val keys = Seq(0L, 1L, 2147483647L, 2147483648L, 2147483653L,
      4294967296L, 1234567890123456789L, Long.MaxValue, -17L)
    val got = keys.toDF("k")
      .select(col("k"), Sampling.hashCoord(col("k")).as("h"))
      .as[(Long, Long)].collect().toMap
    // the BIGINT-exact semantics every oracle engine computes:
    // ((k pmod 2^31) * 2654435761) mod 2^32, no intermediate overflow
    keys.foreach { k =>
      val folded = ((BigInt(k) mod BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
      assert(got(k) === folded, s"hashCoord($k) diverged from exact arithmetic")
    }
    // and the fold is a no-op on 31-bit keys (oracle SQL stays compatible)
    assert(got(1L) === 2654435761L % 4294967296L)
  }

  test("globalShuffleOrder rejects a caller _shuffle_coord column") {
    val e = intercept[IllegalArgumentException] {
      Sampling.globalShuffleOrder(docs.withColumn("_shuffle_coord", lit(1L)), "doc_id")
    }
    assert(e.getMessage.contains("_shuffle_coord"))
  }

  test("trainValSplit partitions the corpus exactly") {
    val (train, valSet) = Sampling.trainValSplit(docs, "doc_id", 0.2)
    val n = docs.count()
    assert(train.count() + valSet.count() === n)
    assert(train.select("doc_id").intersect(valSet.select("doc_id")).count() === 0)
    // val is exactly the complement sample
    val sampled = Sampling.hashSample(docs, "doc_id", 0.2)
    assert(valSet.select("doc_id").except(sampled.select("doc_id")).count() === 0)
  }

  test("mixByWeights applies per-stratum fractions and drops absent strata") {
    val mixed = Sampling.mixByWeights(docs, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.5))
    val langs = mixed.select("lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de")), s"unexpected strata: $langs")
    val en = docs.filter(col("lang") === "en").count()
    assert(mixed.filter(col("lang") === "en").count() === en,
      "weight 1.0 must keep every row of the stratum")
    val de = docs.filter(col("lang") === "de").count()
    val deMixed = mixed.filter(col("lang") === "de").count()
    assert(deMixed > 0 && deMixed < de, s"0.5 weight kept $deMixed of $de")
  }

  test("mixByWeights above the when-chain cutoff: broadcast join, same rows") {
    // 600 strata with some absent from the weight map — past
    // WhenChainMaxStrata the implementation must switch to the broadcast
    // threshold join, and keep EXACTLY the rows the chain contract keeps
    val nStrata = Sampling.WhenChainMaxStrata + 88
    val rows = (0L until (nStrata * 4L)).map { id =>
      (id, f"s${id % nStrata}%04d")
    }
    val df = rows.toDF("doc_id", "stratum")
    // strata divisible by 7 are absent (dropped); the rest cycle 5 weights
    val weights = (0 until nStrata).filter(_ % 7 != 0).map { i =>
      f"s$i%04d" -> (i % 5) * 0.25
    }.toMap
    assert(weights.size > Sampling.WhenChainMaxStrata,
      "fixture must exceed the cutoff or the join path never runs")
    val mixed = Sampling.mixByWeights(df, "stratum", "doc_id", weights)
    // the exact per-row contract, replayed driver-side: keep iff the
    // stratum is weighted and hashCoord(key) < floor(w * 2^32)
    def coord(k: Long): Long =
      ((BigInt(k) mod BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
    val expected = rows.collect {
      case (id, s) if weights.get(s).exists(w =>
        coord(id) < (w * 4294967296.0).toLong) => id
    }.toSet
    assert(expected.nonEmpty && expected.size < rows.size)
    assert(mixed.select("doc_id").as[Long].collect().toSet === expected)
    assert(mixed.columns.toSeq === df.columns.toSeq,
      "join path must preserve the caller's column set and order")
    // plan: threshold table broadcasts; no 600-branch CaseWhen anywhere
    val plan = mixed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast threshold join, got:\n$plan")
    assert(!plan.contains("CASE WHEN"), "when-chain must not run past the cutoff")
    // and the two forms agree where both run: same fixture, small map
    val smallW = weights.take(10)
    val viaChain = Sampling.mixByWeights(df, "stratum", "doc_id", smallW)
      .select("doc_id").as[Long].collect().toSet
    val expectedSmall = rows.collect {
      case (id, s) if smallW.get(s).exists(w =>
        coord(id) < (w * 4294967296.0).toLong) => id
    }.toSet
    assert(viaChain === expectedSmall)
  }

  test("packByTokenBudget: bins are contiguous, ordered, near-budget") {
    val withTokens = docs.select(col("doc_id"), col("lang"),
      graft.analysis.TextMetrics.tokenCountWs(col("text")).as("n_tokens"))
    val packed = Packing.packByTokenBudget(withTokens, "doc_id", "n_tokens",
      "lang", tokenBudget = 512, nShards = 4)
    val rows = packed.select("lang", "shard", "bin", "doc_id", "n_tokens")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))

    rows.foreach { case ((lang, shard), stream) =>
      val inOrder = stream.sortBy(_._4)
      // bins are non-decreasing along the doc stream and start at 0
      assert(inOrder.head._3 === 0L, s"($lang,$shard) first bin not 0")
      inOrder.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._3,
          s"bin went backwards in ($lang,$shard): $a -> $b")
        case _ =>
      }
      // concat-then-chunk invariant: every bin except the last holds at
      // least the budget when its straddling doc is included, and the
      // tokens BEFORE each bin's first doc are exactly bin * budget rounded
      // down — i.e. floor(cumsum_before/budget) == bin for every doc
      var cum = 0L
      inOrder.foreach { case (_, _, bin, _, nTok) =>
        assert(cum / 512 === bin, s"bin formula violated at cum=$cum")
        cum += nTok
      }
    }
    // shard is key mod nShards — deterministic placement
    assert(packed.filter(pmod(col("doc_id"), lit(4L)) =!= col("shard")).count() === 0)
  }

  test("assemblePacked materializes bins in key order with exact separators") {
    // one stratum, one shard: budget 5, docs of 3/3/2/6 tokens → starts
    // 0/3/6/8 → bins floor(start/5) = 0, 0, 1, 1 (the last doc STARTS in
    // bin 1 and straddles past the budget — the documented convention)
    val fixture = Seq(
      (1L, "en", "one two three", 3L),
      (5L, "en", "four five six", 3L),
      (9L, "en", "seven eight", 2L),
      (13L, "en", "n1 n2 n3 n4 n5 n6", 6L)
    ).toDF("doc_id", "lang", "text", "n_tokens")
    val rows = Packing.assemblePacked(fixture, "doc_id", "text", "n_tokens",
      "lang", tokenBudget = 5, nShards = 1, sep = "\n\n")
      .orderBy("bin")
      .as[(String, Long, Long, Long, Long, String)].collect()
    assert(rows.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq((0L, 2L, 6L), (1L, 2L, 8L)),
      s"bin membership wrong: ${rows.toSeq}")
    assert(rows(0)._6 === "one two three\n\nfour five six",
      "concat must follow key order with the exact separator")
    assert(rows(1)._6 === "seven eight\n\nn1 n2 n3 n4 n5 n6")

    // reassembly is lossless: splitting every bin on the separator
    // yields the original documents exactly once
    val reassembled = rows.flatMap(_._6.split("\n\n")).toSet
    val original = fixture.select("text").as[String].collect().toSet
    assert(reassembled === original)

    // zero-token rows ride along without advancing the cumulative sum:
    // an empty doc between two others lands in the same bin as its
    // neighbors and contributes only a separator
    val withEmpty = Seq(
      (1L, "en", "a b", 2L),
      (2L, "en", "", 0L),
      (3L, "en", "c d", 2L)
    ).toDF("doc_id", "lang", "text", "n_tokens")
    val one = Packing.assemblePacked(withEmpty, "doc_id", "text", "n_tokens",
      "lang", tokenBudget = 10, nShards = 1, sep = "|")
      .as[(String, Long, Long, Long, Long, String)].collect()
    assert(one.length === 1 && one.head._4 === 3L && one.head._6 === "a b||c d",
      s"empty-doc handling drifted: ${one.toSeq}")
  }

  test("quota sampling via negated coordinate matches the window rank exactly") {
    // pins the doc_quota_sample trick: TopK ranks DESC by score, so the
    // k hash-SMALLEST rows per stratum ride in as negate(hashCoord) —
    // including the -0.0 normalization for coordinate 0 and the id-asc
    // tie-break matching the oracle's secondary sort
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "doc_id")
    val k = 7
    val got = graft.functions.TopK.topKPerGroup(
        docs.withColumn("neg_coord",
          negate(Sampling.hashCoord(col("doc_id")).cast("double"))),
        "lang", "doc_id", "neg_coord", k)
      .select($"lang", $"doc_id", $"rank")
      .as[(String, Long, Int)].collect().toSet

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang")
      .orderBy(Sampling.hashCoord(col("doc_id")), col("doc_id"))
    val want = docs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"lang", $"doc_id", $"rank".cast("int"))
      .as[(String, Long, Int)].collect().toSet
    assert(got.map(t => (t._1, t._2)) === want.map(t => (t._1, t._2)))
    assert(got.map(t => (t._1, t._3)).groupBy(_._1).forall(_._2.size == k))
  }

  test("globalShuffleOrder is a deterministic permutation matching the window rank") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    val got = Sampling.globalShuffleOrder(docs, "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

    // positions are exactly 0..n-1
    val n = got.size
    assert(got.map(_._2).sorted === (0L until n.toLong))

    // matches the single-threaded window definition
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(Sampling.hashCoord(col("doc_id")), col("doc_id"))
    val expected = docs
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === expected)

    // reruns and repartitionings reproduce the identical permutation
    val again = Sampling.globalShuffleOrder(docs.repartition(7), "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(again === got)
  }

  test("temperatureMixSqrt flattens the head and upsamples the tail") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang")
    val total = docs.count()
    val byLang = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val target = total / 2
    val mixed = Sampling.temperatureMixSqrt(docs, "lang", "doc_id", target)
      .as[(Long, String)].collect()
    val mixedBy = mixed.groupBy(_._2).view.mapValues(_.size.toDouble).toMap

    // realized size lands near the target (Bernoulli concentration)
    assert(math.abs(mixed.length - target) < total * 0.15,
      s"got ${mixed.length}, wanted ~$target")
    // the keep RATE of the rarest stratum must exceed the most common's
    val top = byLang.maxBy(_._2)._1
    val rare = byLang.minBy(_._2)._1
    val rateTop = mixedBy.getOrElse(top, 0.0) / byLang(top)
    val rateRare = mixedBy.getOrElse(rare, 0.0) / byLang(rare)
    assert(rateRare > rateTop,
      s"sqrt temperature must upsample '$rare' ($rateRare) over '$top' ($rateTop)")

    // deterministic: same rows on a rerun over a different partitioning
    val again = Sampling.temperatureMixSqrt(docs.repartition(7),
      "lang", "doc_id", target).as[(Long, String)].collect()
    assert(again.sortBy(_._1).toSeq === mixed.sortBy(_._1).toSeq)
  }

  test("temperatureMixSqrt: non-string strata mix, null strata drop") {
    // an INT language id is as natural a stratum as a code string — the
    // count collect must not ClassCastException on it (r9 VERDICT nit)
    val docs = (1L to 300L).map { k =>
      (k, if (k % 10 == 0) null else Integer.valueOf((k % 3).toInt))
    }.toDF("doc_id", "lang_id")
    val mixed = Sampling.temperatureMixSqrt(docs, "lang_id", "doc_id", 150L)
    val rows = mixed.select("doc_id", "lang_id")
      .as[(Long, Option[Int])].collect()
    assert(rows.nonEmpty)
    // null strata take no share of the target and are dropped
    assert(rows.forall(_._2.isDefined), "null-stratum row survived the mix")
    // determinism across partitionings holds for the int-stratum path too
    val again = Sampling.temperatureMixSqrt(docs.repartition(5),
      "lang_id", "doc_id", 150L).select("doc_id").as[Long].collect()
    assert(again.sorted.toSeq === rows.map(_._1).sorted.toSeq)
  }

  test("negativePairs: k non-self partners per row, deterministic") {
    val ids = (0L until 100L).toDF("id")
    val got = Sampling.negativePairs(ids, "id", k = 3)
      .as[(Long, Int, Long)].collect()
    assert(got.length === 300)
    assert(got.forall(r => r._1 != r._3), "self-pair emitted")
    assert(got.forall(r => r._3 >= 0L && r._3 < 100L))
    // per-row draws are exactly 1..k
    assert(got.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(Seq(1, 2, 3))))

    // a different input partitioning reproduces the identical pair set
    val again = Sampling.negativePairs(ids.repartition(7), "id", k = 3)
      .as[(Long, Int, Long)].collect()
    assert(again.sortBy(r => (r._1, r._2)).toSeq === got.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("negativePairs drops excluded pairs in both orientations") {
    val ids = (0L until 50L).toDF("id")
    val all = Sampling.negativePairs(ids, "id", k = 2)
      .as[(Long, Int, Long)].collect()
    // exclude the first generated pair, in REVERSED orientation
    val (a, _, b) = all.head
    val ex = Seq((b, a)).toDF("x", "y")
    val kept = Sampling.negativePairs(ids, "id", k = 2, excludePairs = Some(ex))
      .as[(Long, Int, Long)].collect()
    assert(!kept.exists(r => (r._1, r._3) == ((a, b)) || (r._1, r._3) == ((b, a))))
    assert(kept.length < all.length)
  }

  test("negativePairs guards reserved names and degenerate k") {
    val ids = (0L until 5L).toDF("id")
    intercept[IllegalArgumentException](
      Sampling.negativePairs(ids.withColumn("_np_rank", lit(1)), "id", 2))
    intercept[IllegalArgumentException](Sampling.negativePairs(ids, "id", 0))
  }

  test("negativePairs fails fast on a 1-row corpus instead of emitting nothing") {
    // N=1 has no valid negative; pmod(x, 0) would null the partner rank
    // and rows would silently vanish — the guard must raise instead
    val one = Seq(7L).toDF("id")
    val e = intercept[Exception] {
      Sampling.negativePairs(one, "id", k = 2).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("negativePairs requires at least 2 rows"),
      s"expected the N>=2 guard, got: $messages")
  }

  test("negativePairs plan: two-phase rank, no global window") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    val plan = Sampling.negativePairs(docs, "doc_id", k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"negativePairs must not use a window:\n$plan")
  }

  // -------------------------------------- systematic weighted sampling

  private def swsReference(rows: Seq[(Long, Long)], stride: Long,
                           phase: Long): Seq[Long] = {
    // single-threaded oracle: walk the weight line in key order
    var s = 0L
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    rows.sortBy(_._1).foreach { case (k, w0) =>
      val w = math.max(w0, 0L)
      val hi = (s + w - 1 - phase + stride) / stride
      val lo = (s - 1 - phase + stride) / stride
      if (hi > lo) out += k
      s += w
    }
    out.toSeq
  }

  test("systematicWeightedSample matches the sequential weight-line walk") {
    val rows = (1L to 500L).map(k => k -> ((k * 7919) % 97))
    val df = rows.toDF("id", "w").repartition(7)
    val got = Sampling.systematicWeightedSample(df, "id", "w", stride = 131L,
      phase = 13L).select("id").as[Long].collect().sorted
    assert(got.toSeq === swsReference(rows, 131L, 13L).sorted)
  }

  test("systematicWeightedSample: w >= stride rows always kept, w = 0 never") {
    val rows = Seq((1L, 0L), (2L, 500L), (3L, 1L), (4L, -50L), (5L, 500L))
    val df = rows.toDF("id", "w")
    val got = Sampling.systematicWeightedSample(df, "id", "w", stride = 100L)
      .select("id").as[Long].collect().toSet
    assert(got.contains(2L) && got.contains(5L), s"heavy rows must be kept: $got")
    assert(!got.contains(1L) && !got.contains(4L),
      s"zero/negative-weight rows must never be selected: $got")
    assert(got.toSeq.sorted === swsReference(rows, 100L, 0L).sorted)
  }

  test("systematicWeightedSample: sample size is the fixed point count") {
    val rows = (1L to 300L).map(k => k -> 10L) // equal weights, no w>stride
    val got = Sampling.systematicWeightedSample(rows.toDF("id", "w"),
      "id", "w", stride = 40L).count()
    // totalW = 3000, points at 0,40,...,2960 -> 75; each hits one row
    assert(got === 75L)
  }

  test("systematicWeightedSample is partitioning-invariant and 64-bit safe") {
    val rows = Seq((4294967296L * 3, 7L), (4294967296L * 2, 11L),
      (8L, 13L), (4294967296L * 5, 2L))
    val a = Sampling.systematicWeightedSample(rows.toDF("id", "w")
      .repartition(5), "id", "w", 16L).select("id").as[Long].collect().sorted
    val b = Sampling.systematicWeightedSample(rows.toDF("id", "w")
      .coalesce(1), "id", "w", 16L).select("id").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq)
    assert(a.toSeq === swsReference(rows, 16L, 0L).sorted)
  }

  test("systematicWeightedSample guards reserved names and bad strides") {
    intercept[IllegalArgumentException] {
      Sampling.systematicWeightedSample(
        Seq((1L, 1L)).toDF("id", "_sws_w"), "id", "_sws_w", 10L)
    }
    intercept[IllegalArgumentException] {
      Sampling.systematicWeightedSample(
        Seq((1L, 1L)).toDF("id", "w"), "id", "w", 0L)
    }
    intercept[IllegalArgumentException] {
      Sampling.systematicWeightedSample(
        Seq((1L, 1L)).toDF("id", "w"), "id", "w", 10L, phase = 10L)
    }
  }

  test("systematicWeightedSample plan has no global window") {
    val plan = Sampling.systematicWeightedSample(
      docs.select($"doc_id", $"n_chars"), "doc_id", "n_chars", 1000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"must not window:\n$plan")
  }

  /** Sequential reference for tokenBudgetSelect: per stratum, walk rows in
    * (coord, key) order accumulating clamped tokens; keep while the
    * inclusive sum stays within budget. */
  private def tbsReference(rows: Seq[(Long, String, Long)],
                           budgets: Map[String, Long]): Seq[Long] = {
    def coord(k: Long): Long =
      (BigInt(k).mod(BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
    rows.filter(r => budgets.contains(r._2)).groupBy(_._2).toSeq
      .flatMap { case (lang, rs) =>
        var cum = 0L
        rs.sortBy(r => (coord(r._1), r._1)).flatMap { case (id, _, tok) =>
          cum += math.max(tok, 0L)
          if (cum <= budgets(lang)) Some(id) else None
        }
      }
  }

  test("tokenBudgetSelect matches the per-stratum sequential walk") {
    val rows = (1L to 400L).map { k =>
      (k, Seq("en", "de", "zz")((k % 3).toInt), (k * 31) % 23)
    }
    val budgets = Map("en" -> 300L, "de" -> 100L) // zz unbudgeted -> dropped
    val got = Sampling.tokenBudgetSelect(
        rows.toDF("id", "lang", "tok").repartition(7),
        "lang", "id", "tok", budgets)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === tbsReference(rows, budgets).sorted)
    assert(got.nonEmpty)
  }

  test("tokenBudgetSelect never overshoots and clamps negative tokens") {
    val rows = Seq((1L, "en", 10L), (2L, "en", -100L), (3L, "en", 10L),
      (4L, "en", 10L), (5L, "de", 7L))
    val budgets = Map("en" -> 20L, "de" -> 0L)
    val out = Sampling.tokenBudgetSelect(rows.toDF("id", "lang", "tok"),
      "lang", "id", "tok", budgets)
    val sums = out.groupBy("lang")
      .agg(sum(greatest($"tok", lit(0L))).as("s"))
      .as[(String, Long)].collect().toMap
    sums.foreach { case (lang, s) =>
      assert(s <= budgets(lang), s"stratum $lang overshot: $s")
    }
    // the negative-token row rides free (clamped to 0) — it cannot push
    // the running sum nor un-select successors
    val ids = out.select("id").as[Long].collect().toSet
    assert(ids === tbsReference(rows, budgets).toSet)
    assert(ids.contains(2L) || !ids.contains(2L)) // reference decides
    assert(!ids.exists(Set(5L)), "zero-budget stratum must select nothing")
  }

  test("tokenBudgetSelect is partitioning-invariant") {
    val rows = (1L to 200L).map(k => (k * 4294967296L + k, "en", k % 13))
    val budgets = Map("en" -> 500L)
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.tokenBudgetSelect(df, "lang", "id", "tok", budgets)
        .select("id").as[Long].collect().sorted.toSeq
    val a = run(rows.toDF("id", "lang", "tok").repartition(9))
    val b = run(rows.toDF("id", "lang", "tok").coalesce(1))
    assert(a === b)
    assert(a === tbsReference(rows, budgets).sorted)
  }

  test("tokenBudgetCap equals tokenBudgetSelect with a uniform budget map") {
    val rows = (1L to 300L).map { k =>
      (k, Seq("a", "b", "c", "d")((k % 4).toInt), (k * 13) % 19)
    }
    val df = rows.toDF("id", "lang", "tok").repartition(5)
    val capped = Sampling.tokenBudgetCap(df, "lang", "id", "tok", 150L)
      .select("id").as[Long].collect().sorted.toSeq
    val selected = Sampling.tokenBudgetSelect(df, "lang", "id", "tok",
        Map("a" -> 150L, "b" -> 150L, "c" -> 150L, "d" -> 150L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(capped === selected)
    assert(capped === tbsReference(rows,
      Map("a" -> 150L, "b" -> 150L, "c" -> 150L, "d" -> 150L)).sorted)
    // no stratum dropped: all four survive with at least one row
    val langs = Sampling.tokenBudgetCap(df, "lang", "id", "tok", 150L)
      .select("lang").distinct().as[String].collect().toSet
    assert(langs === Set("a", "b", "c", "d"))
  }

  test("tokenBudgetCap over nine hosts matches the reference") {
    val rows = (1L to 200L).map(k => (k, s"h${k % 9}", (k * 7) % 29))
    val df = rows.toDF("id", "host", "tok")
    val a = Sampling.tokenBudgetCap(df, "host", "id", "tok", 100L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === tbsReference(rows.map(r => (r._1, r._2, r._3)),
      (0 until 9).map(i => s"h$i" -> 100L).toMap).sorted)
  }

  test("topFractionPerStratum keeps exactly floor(n*frac) best per stratum") {
    val rows = (1L to 200L).map { k =>
      (k, Seq("a", "b", "c")((k % 3).toInt), (k * 37) % 101)
    }
    val df = rows.toDF("id", "lang", "score").repartition(6)
    val got = Sampling.topFractionPerStratum(df, "lang", "id", "score", 2500)
      .select("id", "lang", "score").as[(Long, String, Long)].collect()
    val byLang = rows.groupBy(_._2)
    byLang.foreach { case (lang, rs) =>
      val quota = rs.length * 2500 / 10000
      val expect = rs.sortBy(r => (r._3, r._1)).take(quota).map(_._1).toSet
      val gotIds = got.filter(_._2 == lang).map(_._1).toSet
      assert(gotIds === expect, s"stratum $lang: got $gotIds")
    }
    // negated score flips the selection to the largest values
    val top = Sampling.topFractionPerStratum(
        df.withColumn("neg", negate($"score")), "lang", "id", "neg", 2500)
      .select("id", "lang").as[(Long, String)].collect()
    byLang.foreach { case (lang, rs) =>
      val quota = rs.length * 2500 / 10000
      val expect = rs.sortBy(r => (-r._3, r._1)).take(quota).map(_._1).toSet
      assert(top.filter(_._2 == lang).map(_._1).toSet === expect)
    }
  }

  test("topFractionPerStratum: edge fractions, ties, and guards") {
    val df = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "a", 5L), (4L, "b", 1L))
      .toDF("id", "lang", "score")
    // all-equal scores: ties break by id — quota 2 of 3 keeps ids 1, 2
    val tied = Sampling.topFractionPerStratum(df, "lang", "id", "score", 6700)
      .select("id").as[Long].collect().toSet
    assert(tied === Set(1L, 2L)) // a: floor(3*0.67)=2 -> ids 1,2; b: floor(0.67)=0
    // 0 bp keeps nothing; 10000 bp keeps everything
    assert(Sampling.topFractionPerStratum(df, "lang", "id", "score", 0).count() === 0)
    assert(Sampling.topFractionPerStratum(df, "lang", "id", "score", 10000)
      .count() === 4)
    intercept[IllegalArgumentException] {
      Sampling.topFractionPerStratum(df, "lang", "id", "score", 10001)
    }
    intercept[IllegalArgumentException] {
      Sampling.topFractionPerStratum(
        df.withColumn("_tbs_n", lit(1L)), "lang", "id", "score", 100)
    }
    // plan: no window funnel
    val plan = Sampling.topFractionPerStratum(df, "lang", "id", "score", 5000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"must not window:\n$plan")
  }

  test("topFractionPerStratum: null scores drop before counting") {
    // 4 scored + 2 null-scored in 'a': the quota must derive from the 4
    // SCORED rows (floor(4*0.5)=2), not 6 — and no null row may survive
    // (Spark sorts nulls first, DuckDB last; admitting them would be a
    // silent cross-engine divergence)
    val df = Seq(
      (1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "a", Some(30L)),
      (4L, "a", Some(40L)), (5L, "a", None), (6L, "a", None),
      (7L, "b", Some(1L)), (8L, "b", Some(2L))
    ).toDF("id", "lang", "score")
    val got = Sampling.topFractionPerStratum(df, "lang", "id", "score", 5000)
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 7L)) // a: best 2 of 4 scored; b: best 1 of 2
  }

  test("tokenBudgetSelect guards reserved names and bad budgets") {
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSelect(
        Seq((1L, "en", 1L)).toDF("id", "lang", "_tbs_tok"),
        "lang", "id", "_tbs_tok", Map("en" -> 1L))
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSelect(Seq((1L, "en", 1L)).toDF("id", "lang", "tok"),
        "lang", "id", "tok", Map("en" -> -1L))
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSelect(Seq((1L, "en", 1L)).toDF("id", "lang", "tok"),
        "lang", "id", "tok", Map.empty)
    }
  }

  test("tokenBudgetSelect plan has no window funnel") {
    val plan = Sampling.tokenBudgetSelect(
        docs.select($"doc_id", $"lang", $"n_chars"),
        "lang", "doc_id", "n_chars", Map("en" -> 1000L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"must not window:\n$plan")
  }

  test("curriculumOrder: stages are contiguous, shuffled within, total") {
    val rows = (1L to 100L).map(k => (k, if (k % 3 == 0) 0L else 1L))
    val df = rows.toDF("id", "stage").repartition(6)
    val got = Sampling.curriculumOrder(df, "id", "stage")
      .select("id", "stage", "pos").as[(Long, Long, Long)].collect()
    assert(got.map(_._3).sorted.toSeq === (0L until 100L), "pos is a total 0-based rank")
    val maxStage0 = got.filter(_._2 == 0L).map(_._3).max
    val minStage1 = got.filter(_._2 == 1L).map(_._3).min
    assert(maxStage0 < minStage1, "every stage-0 position precedes stage 1")
    // within a stage: exactly the (coord, id) order
    def coord(k: Long): Long =
      (BigInt(k).mod(BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
    val s0 = got.filter(_._2 == 0L).sortBy(_._3).map(_._1).toSeq
    assert(s0 === rows.filter(_._2 == 0L).map(_._1).sortBy(k => (coord(k), k)))
    // one constant stage degenerates to the global shuffle order
    val one = Sampling.curriculumOrder(
      rows.toDF("id", "stage").withColumn("stage", lit(0L)), "id", "stage")
      .select("id", "pos").as[(Long, Long)].collect().toMap
    val glob = Sampling.globalShuffleOrder(rows.toDF("id", "stage"), "id")
      .select("id", "pos").as[(Long, Long)].collect().toMap
    assert(one === glob)
  }

  test("repeatByEpochs: exact repeat counts, fractional epochs by coordinate") {
    val rows = (1L to 120L).map(k => (k, Seq("en", "de", "fr", "zz")((k % 4).toInt)))
    val eps = Map("en" -> 1.0, "de" -> 2.5, "fr" -> 0.5) // zz absent
    val got = Sampling.repeatByEpochs(rows.toDF("id", "lang"), "lang", "id", eps)
      .select("id", "lang", "epoch").as[(Long, String, Long)].collect()
    def coord(k: Long): Long =
      (BigInt(k).mod(BigInt(2147483648L)) * BigInt(2654435761L))
        .mod(BigInt(4294967296L)).toLong
    def reps(k: Long, lang: String): Long = eps.get(lang) match {
      case None => 0L
      case Some(e) =>
        val full = math.floor(e).toLong
        full + (if (coord(k) < ((e - full) * 4294967296.0).toLong) 1L else 0L)
    }
    val byId = got.groupBy(_._1)
    rows.foreach { case (k, lang) =>
      val n = reps(k, lang)
      val eids = byId.get(k).map(_.map(_._3).sorted.toSeq).getOrElse(Seq.empty)
      assert(eids === (0L until n), s"id $k ($lang): epochs $eids, want 0..${n - 1}")
    }
    // de doubles exactly; about half get the third epoch
    val deThird = got.count(r => r._2 == "de" && r._3 == 2L)
    val deTotal = rows.count(_._2 == "de")
    assert(deThird > 0 && deThird < deTotal)
    // deterministic under repartitioning
    val again = Sampling.repeatByEpochs(rows.toDF("id", "lang").repartition(7),
      "lang", "id", eps).select("id", "epoch").as[(Long, Long)].collect().toSet
    assert(again === got.map(r => (r._1, r._3)).toSet)
  }

  test("planEpochs: hand-computed repeat and downsample regimes") {
    // en: 100 tokens, de: 10, fr: 0-token stratum via all-clamped rows
    val rows = Seq((1L, "en", 60L), (2L, "en", 40L), (3L, "de", 10L),
      (4L, "fr", -5L), (5L, "zz", 99L)) // zz unbudgeted -> absent
    val got = Sampling.planEpochs(rows.toDF("id", "lang", "tok"),
        "lang", "tok", Map("en" -> 5000, "de" -> 4000, "fr" -> 1000),
        budget = 100L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // en: target 50 of 100 tokens -> 5000 bp (downsample)
    assert(got("en") === ((100L, 50L, 5000L)))
    // de: target 40 of 10 tokens -> 40000 bp (4 epochs, repeat regime)
    assert(got("de") === ((10L, 40L, 40000L)))
    // fr: clamped to 0 tokens -> epoch 0, no division by zero
    assert(got("fr") === ((0L, 10L, 0L)))
    assert(!got.contains("zz"))
  }

  test("planEpochs feeds repeatByEpochs: the loop closes on the spec") {
    val rows = (1L to 300L).map(k =>
      (k, if (k % 3 == 0) "de" else "en", 10L))
    val df = rows.toDF("id", "lang", "tok")
    val plan = Sampling.planEpochs(df, "lang", "tok",
        Map("en" -> 5000, "de" -> 5000), budget = 3000L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    val realized = Sampling.repeatByEpochs(df, "lang", "id",
        plan.map { case (l, bp) => l -> bp / 10000.0 })
      .groupBy("lang").agg(sum("tok").as("s"))
      .as[(String, Long)].collect().toMap
    // full epochs are exact; the fractional tail is a hash-selected
    // subset, so realized lands within one fractional epoch of target
    Seq("en", "de").foreach { lang =>
      val supply = rows.filter(_._2 == lang).map(_._3).sum
      val full = plan(lang) / 10000
      val target = 1500L
      assert(realized(lang) >= full * supply,
        s"$lang realized ${realized(lang)} below the exact full epochs")
      assert(realized(lang) <= (full + 1) * supply,
        s"$lang realized ${realized(lang)} above full+1 epochs")
      assert(math.abs(realized(lang) - target) <= supply / 2,
        s"$lang realized ${realized(lang)} far from target $target")
    }
  }

  test("repeatByEpochs guards reserved names and bad epoch counts") {
    intercept[IllegalArgumentException] {
      Sampling.repeatByEpochs(
        Seq((1L, "en", 0L)).toDF("id", "lang", "_rbe_full"),
        "lang", "id", Map("en" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Sampling.repeatByEpochs(Seq((1L, "en")).toDF("id", "lang"),
        "lang", "id", Map("en" -> -0.5))
    }
    intercept[IllegalArgumentException] {
      Sampling.repeatByEpochs(Seq((1L, "en")).toDF("id", "lang"),
        "lang", "id", Map.empty)
    }
  }

  test("leakageSafeSplit keeps every dup cluster in one split") {
    val corpus = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} (via chain), {10,11}; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(corpus, "doc_id", pairs,
      "id_a", "id_b", valFraction = 0.5)
      .select($"doc_id", $"rep", $"split").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1)._1 === 1L && out(2)._1 === 1L && out(3)._1 === 1L)
    assert(Set(out(1)._2, out(2)._2, out(3)._2).size === 1,
      "chain cluster must not straddle splits")
    assert(out(10)._1 === 10L && out(11)._1 === 10L &&
      out(10)._2 === out(11)._2)
    // singletons: rep = self, split identical to plain trainValSplit
    val (tr, va) = Sampling.trainValSplit(
      corpus.filter(!$"doc_id".isin(2L, 3L, 11L)), "doc_id", 0.5)
    val trIds = tr.select("doc_id").collect().map(_.getLong(0)).toSet
    val vaIds = va.select("doc_id").collect().map(_.getLong(0)).toSet
    trIds.foreach(id => assert(out(id)._2 === "train", s"doc $id"))
    vaIds.foreach(id => assert(out(id)._2 === "val", s"doc $id"))
    // both splits populated at this fraction, and output is total
    assert(out.size === 40)
    assert(out.values.map(_._2).toSet === Set("train", "val"))
  }

  test("leakageSafeSplit: repartition determinism, reserved names") {
    val corpus = (1L to 30L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((5L, 6L), (6L, 7L), (20L, 21L)).toDF("id_a", "id_b")
    val a = Sampling.leakageSafeSplit(corpus, "doc_id", pairs, "id_a", "id_b",
      0.3)
    val b = Sampling.leakageSafeSplit(corpus.repartition(7), "doc_id", pairs,
      "id_a", "id_b", 0.3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(corpus.withColumn("rep", lit(1L)), "doc_id",
        pairs, "id_a", "id_b", 0.3)
    }
  }
}
