package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Incremental MinHash index: build once, probe batches — results must
  * match the one-shot join restricted to cross (corpus × batch) pairs,
  * the stored side must stay un-shuffled, and hot buckets must be skipped
  * via the precomputed size. */
class MinhashIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpPath(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("idx").toString
  }

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different content about spark engines and parquet files"),
    (3L, "yet another unrelated document mentioning streams and state")
  ).toDF("doc_id", "text")

  test("probe finds near-dups of indexed docs; clean batches come back empty") {
    val path = tmpPath("mh-idx")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)

    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"), // ~dup of 1
      (102L, "nothing like anything stored in the index at all")
    ).toDF("doc_id", "text")
    val hits = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) === Seq((1L, 101L)))
    assert(hits.head._3 >= 0.5)

    val clean = Seq((201L, "entirely novel words everywhere"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashIndexProbe(spark, path, clean, "text", "doc_id",
      threshold = 0.5).isEmpty)
  }

  test("re-appended id with different content: each version verifies alone") {
    // id 1 exists in installment 0 AND (re-appended with UNRELATED
    // content) in installment 1. A probe near-dup of the ORIGINAL must
    // still verify: pooling both versions' shingles into one union would
    // dilute the Jaccard below threshold (the per-installment regroup).
    val path = tmpPath("mh-idx-reappend")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexAppend(spark, path, Seq(
      (1L, "totally new revision text sharing zero shingles with before"))
      .toDF("doc_id", "text"), "text", "doc_id")

    val batch = Seq(
      (301L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val hits = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5).as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) === Seq((1L, 301L)))
    assert(hits.head._3 >= 0.5) // the v0 score, not a pooled-union dilution
  }

  test("probe matches the one-shot join restricted to cross pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))

    val path = tmpPath("mh-idx-sf")
    Dedup.minhashIndexBuild(docs, "text", "doc_id", path,
      shingleK = 4, numHashes = 128, bands = 64)
    val incremental = Dedup.minhashIndexProbe(spark, path, batch,
      "text", "doc_id", threshold = 0.3)
      .select($"corpus_id", $"new_id").as[(Long, Long)].collect().toSet

    val oneShot = Dedup.minhashNearDuplicates(docs.unionByName(batch),
      "text", "doc_id", shingleK = 4, numHashes = 128, bands = 64,
      threshold = 0.3)
      .filter($"id_a" < 1000000L && $"id_b" >= 1000000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    assert(incremental === oneShot)
    assert(incremental.nonEmpty)
  }

  test("buckets above maxBucketSize are skipped via the stored size") {
    val boiler = (1L to 30L).map(i => (i, "same boilerplate text every time"))
      .toDF("doc_id", "text")
    val path = tmpPath("mh-idx-hot")
    Dedup.minhashIndexBuild(boiler, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    val batch = Seq((900L, "same boilerplate text every time")).toDF("doc_id", "text")
    // every stored bucket holds all 30 docs -> skipped at maxBucketSize 10
    assert(Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 10).isEmpty)
    // and admitted when the cap allows them
    assert(Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 100).count() === 30)
  }

  test("append: probe-after-append equals the one-shot build's probe") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))

    val oneShotPath = tmpPath("mh-idx-oneshot")
    Dedup.minhashIndexBuild(docs, "text", "doc_id", oneShotPath,
      shingleK = 4, numHashes = 128, bands = 64)
    val oneShot = Dedup.minhashIndexProbe(spark, oneShotPath, batch,
      "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet

    val appendPath = tmpPath("mh-idx-appended")
    Dedup.minhashIndexBuild(docs.filter($"doc_id" % 2 === 0),
      "text", "doc_id", appendPath, shingleK = 4, numHashes = 128, bands = 64)
    Dedup.minhashIndexAppend(spark, appendPath,
      docs.filter($"doc_id" % 2 === 1), "text", "doc_id")
    val appended = Dedup.minhashIndexProbe(spark, appendPath, batch,
      "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet

    assert(appended === oneShot)
    assert(appended.nonEmpty)
  }

  test("asOfInstallment pins the probe to the pre-append snapshot") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // % 25 keeps odd source ids (25, 75, …) in the batch so the appended
    // odd installment contributes pairs the snapshot must NOT see
    val batch = docs.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))

    val buildOnlyPath = tmpPath("mh-idx-snap-base")
    Dedup.minhashIndexBuild(docs.filter($"doc_id" % 2 === 0),
      "text", "doc_id", buildOnlyPath, shingleK = 4, numHashes = 128, bands = 64)
    val buildOnly = Dedup.minhashIndexProbe(spark, buildOnlyPath, batch,
      "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet

    val appendPath = tmpPath("mh-idx-snap-app")
    Dedup.minhashIndexBuild(docs.filter($"doc_id" % 2 === 0),
      "text", "doc_id", appendPath, shingleK = 4, numHashes = 128, bands = 64)
    Dedup.minhashIndexAppend(spark, appendPath,
      docs.filter($"doc_id" % 2 === 1), "text", "doc_id")
    // as-of 0 must reproduce the build-only probe exactly, even though
    // installment 1 is on disk
    val snap = Dedup.minhashIndexProbe(spark, appendPath, batch,
      "text", "doc_id", threshold = 0.3, asOfInstallment = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(snap === buildOnly)
    // and the full-history read still sees the append
    val full = Dedup.minhashIndexProbe(spark, appendPath, batch,
      "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(snap.subsetOf(full))
    assert(snap !== full, "the full read must also see appended pairs")
  }

  test("hot-bucket guard sums size deltas ACROSS installments") {
    val path = tmpPath("mh-idx-hot-app")
    val boiler = (1L to 30L).map(i => (i, "same boilerplate text every time"))
      .toDF("doc_id", "text")
    // 15 docs per installment: each delta is under a cap of 20, but the
    // summed bucket size (30) is over it — the guard must see the sum
    Dedup.minhashIndexBuild(boiler.filter($"doc_id" <= 15L), "text", "doc_id",
      path, shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexAppend(spark, path, boiler.filter($"doc_id" > 15L),
      "text", "doc_id")
    val batch = Seq((900L, "same boilerplate text every time")).toDF("doc_id", "text")
    assert(Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 20).isEmpty)
    assert(Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 100).count() === 30)
  }

  test("compacting sizes preserves probe results and folds to one installment") {
    val path = tmpPath("mh-idx-compact")
    val boiler = (1L to 30L).map(i => (i, "same boilerplate text every time"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(boiler.filter($"doc_id" <= 10L), "text", "doc_id",
      path, shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexAppend(spark, path, boiler.filter($"doc_id" > 10L && $"doc_id" <= 20L),
      "text", "doc_id")
    Dedup.minhashIndexAppend(spark, path, boiler.filter($"doc_id" > 20L),
      "text", "doc_id")
    val batch = Seq((900L, "same boilerplate text every time")).toDF("doc_id", "text")

    def probe(cap: Int) = Dedup.minhashIndexProbe(spark, path, batch,
      "text", "doc_id", threshold = 0.5, maxBucketSize = cap)
    val beforeSkip = probe(20).count()    // 30 > 20 across three deltas
    val beforeHit = probe(100).count()
    val buckets = Dedup.minhashIndexCompactSizes(spark, path)
    assert(buckets > 0)
    // identical guard decisions from the single compacted delta
    assert(probe(20).count() === beforeSkip)
    assert(probe(100).count() === beforeHit)
    assert(beforeSkip === 0L && beforeHit === 30L)
    // physically folded: one installment dir remains under sizes/
    val dirs = new java.io.File(s"$path/sizes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs === Seq("installment=0"), s"got $dirs")
  }

  test("broadcastBatch = false degrades to shuffled joins with identical output") {
    val path = tmpPath("mh-idx-shuffled")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"),
      (102L, "nothing like anything stored in the index at all")
    ).toDF("doc_id", "text")
    val viaBroadcast = Dedup.minhashIndexProbe(spark, path, batch,
      "text", "doc_id", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // broadcastBatch=false drops the FORCED hint; disable size-based
    // auto-broadcast so the plan pin shows the degraded (shuffled) shape
    // a corpus-sized batch would get
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = Dedup.minhashIndexProbe(spark, path, batch,
        "text", "doc_id", threshold = 0.5, broadcastBatch = false)
      assert(shuffled.as[(Long, Long, Double)].collect().toSet === viaBroadcast)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcastBatch=false must not plan driver broadcasts:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("append into an empty sizes listing fails with a corruption message") {
    // sizes/ is the numbering table (every installment event writes it —
    // appends and deletes both), so THAT is the listing whose emptiness
    // means corruption
    val path = tmpPath("mh-empty")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path)
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete()
    }
    val sizesDir = new java.io.File(s"$path/sizes")
    Option(sizesDir.listFiles()).foreach(_.foreach(wipe))
    assert(sizesDir.exists() && sizesDir.listFiles().isEmpty)
    val e = intercept[IllegalStateException] {
      Dedup.minhashIndexAppend(spark, path,
        Seq((9L, "another doc")).toDF("doc_id", "text"), "text", "doc_id")
    }
    assert(e.getMessage.contains("no installment= partitions"))
  }

  test("append after compactSizes never overwrites earlier installments (r10 review)") {
    // compactSizes folds sizes/ to installment 0 while sets/bands keep
    // their history; numbering off sizes alone would re-issue an existing
    // sets/bands number and mode(overwrite) would silently replace those
    // documents — the max(sizes, sets) rule must prevent that
    val path = tmpPath("mh-compact-append")
    Dedup.minhashIndexBuild(corpus.filter($"doc_id" === 1L), "text", "doc_id",
      path, shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexAppend(spark, path,
      corpus.filter($"doc_id" === 2L), "text", "doc_id") // installment 1
    Dedup.minhashIndexAppend(spark, path,
      corpus.filter($"doc_id" === 3L), "text", "doc_id") // installment 2
    Dedup.minhashIndexCompactSizes(spark, path) // sizes fold to 0
    // this append must claim installment 3, NOT 1
    Dedup.minhashIndexAppend(spark, path,
      Seq((9L, "a freshly appended document about engines and parquet"))
        .toDF("doc_id", "text"), "text", "doc_id")
    val storedIds = spark.read.parquet(s"$path/sets")
      .select("id").as[Long].collect().toSet
    assert(storedIds === Set(1L, 2L, 3L, 9L),
      s"an installment was overwritten: $storedIds")
    // and the doc appended in old installment 1 still probes
    val batch = Seq(
      (101L, "completely different content about spark engines and parquet data"))
      .toDF("doc_id", "text")
    val hits = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
        threshold = 0.5)
      .select("corpus_id").as[Long].collect().toSet
    assert(hits.contains(2L), s"pre-compaction append lost from probes: $hits")
  }

  test("tombstones: probe-after-delete equals a fresh index over the remainder") {
    val path = tmpPath("mh-del")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexDelete(spark, path, Seq(1L).toDF("doc_id"))
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"), // ~dup of 1
      (102L, "completely different content about spark engines and parquet data") // ~dup of 2
    ).toDF("doc_id", "text")
    val got = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
        threshold = 0.5)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 102L)), s"tombstoned doc still pairs: $got")
    // equality with a one-shot index over corpus-minus-deleted
    val fresh = tmpPath("mh-del-fresh")
    Dedup.minhashIndexBuild(corpus.filter($"doc_id" =!= 1L), "text", "doc_id",
      fresh, shingleK = 3, numHashes = 64, bands = 32)
    val want = Dedup.minhashIndexProbe(spark, fresh, batch, "text", "doc_id",
        threshold = 0.5)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(got === want)
    // the delete's negative size deltas keep bucket sums exact:
    // 3 docs × 32 bands = 96 pre-delete, 64 after
    val sizeSum = spark.read.parquet(s"$path/sizes")
      .agg(sum("cnt")).head().getLong(0)
    assert(sizeSum === 64L, s"size deltas off: $sizeSum")
  }

  test("double-delete is a self-enforced no-op: size deltas never double-subtract") {
    val path = tmpPath("mh-ddel")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexDelete(spark, path, Seq(1L).toDF("doc_id"))
    // re-deleting 1 (already dead) alongside the live 3: only 3's bands
    // subtract — 3 docs × 32 bands = 96, minus 32 (doc 1) minus 32 (doc 3)
    Dedup.minhashIndexDelete(spark, path, Seq(1L, 3L).toDF("doc_id"))
    val sizeSum = spark.read.parquet(s"$path/sizes")
      .agg(sum("cnt")).head().getLong(0)
    assert(sizeSum === 32L,
      s"double-delete corrupted the bucket sums: $sizeSum (want 32)")
    // a pure re-delete changes nothing
    Dedup.minhashIndexDelete(spark, path, Seq(1L, 3L).toDF("doc_id"))
    assert(spark.read.parquet(s"$path/sizes")
      .agg(sum("cnt")).head().getLong(0) === 32L)
  }

  test("vacuum folds tombstones physically; append keeps working after it") {
    val path = tmpPath("mh-vac")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path,
      shingleK = 3, numHashes = 64, bands = 32)
    Dedup.minhashIndexDelete(spark, path, Seq(1L).toDF("doc_id"))
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today")
    ).toDF("doc_id", "text")
    val before = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5).count()
    val survivors = Dedup.minhashIndexVacuum(spark, path)
    assert(survivors === 2L)
    assert(!graft.store.Tombstones.any(spark, path), "deletes dir not cleared")
    // physically gone from every table, results unchanged
    assert(spark.read.parquet(s"$path/sets").filter($"id" === 1L).isEmpty)
    assert(spark.read.parquet(s"$path/bands").filter($"id" === 1L).isEmpty)
    assert(spark.read.parquet(s"$path/sizes").agg(sum("cnt")).head()
      .getLong(0) === 64L)
    assert(Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
      threshold = 0.5).count() === before)
    // numbering survives the fold: the next append lands and probes
    Dedup.minhashIndexAppend(spark, path,
      Seq((9L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"), "text", "doc_id")
    val after = Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id",
        threshold = 0.5)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(after === Set((9L, 101L)))
  }

  test("the stored index is never shuffled by a probe — batch side broadcasts") {
    val path = tmpPath("mh-idx-plan")
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", path)
    // append must preserve the scan shape, so pin it on an appended index
    Dedup.minhashIndexAppend(spark, path,
      Seq((4L, "a fourth document appended later")).toDF("doc_id", "text"),
      "text", "doc_id")
    // the batch must generate candidates: with zero candidate ids the
    // verify scan does not run at all
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val (hits, ran) = graft.Ran(spark) {
      Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id", threshold = 0.5)
        .collect()
    }
    assert(hits.map(_.getLong(0)).toSeq === Seq(1L))
    // the probe scanned each stored table map-side: no shuffle-map stage
    // over bands/, sets/ or sizes/ (nor anywhere else)
    Seq("bands", "sets", "sizes").foreach(d =>
      assert(ran.scansOf(d).nonEmpty, s"no $d/ scan ran"))
    assert(ran.shuffleStages === 0, s"${ran.shuffleStages} shuffle-map stages ran")
    // the candidate filter reaches the stored-sets parquet scan: the
    // verify read is then ∝ candidates, not corpus — the candidate ids
    // as a data filter, their installments as a partition filter
    ran.scansOf("sets").foreach { scan =>
      assert(scan.dataFilters.exists(_.references.exists(_.name == "id")),
        s"candidate ids must filter the sets/ scan:\n$scan")
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "installment")),
        s"candidate installments must prune the sets/ scan:\n$scan")
    }
  }

  test("one probe runs at most 5 jobs (+1 with deletes) and no shuffle stage") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))
    val path = tmpPath("mh-idx-budget")
    Dedup.minhashIndexBuild(docs.filter($"doc_id" % 2 === 0), "text", "doc_id", path,
      shingleK = 4, numHashes = 128, bands = 64)
    Dedup.minhashIndexAppend(spark, path, docs.filter($"doc_id" % 2 === 1),
      "text", "doc_id")
    def probe() = graft.Ran(spark) {
      Dedup.minhashIndexProbe(spark, path, batch, "text", "doc_id", threshold = 0.3)
        .collect()
    }
    val (hits, ran) = probe()
    assert(hits.nonEmpty)
    // the batch collect and the sizes/, bands/ and sets/ scans: meta/ and
    // deletes/ are read on the driver (5 jobs, and 6 with deletes, before)
    assert(ran.jobs <= 4, s"${ran.jobs} jobs")
    assert(ran.shuffleStages === 0, s"${ran.shuffleStages} shuffle-map stages")
    Dedup.minhashIndexDelete(spark, path, docs.filter($"doc_id" % 7 === 0).select("doc_id"))
    val (afterDelete, ranDel) = probe()
    assert(afterDelete.nonEmpty && afterDelete.length < hits.length)
    assert(ranDel.jobs <= 4, s"${ranDel.jobs} jobs with deletes/")
    assert(ranDel.shuffleStages === 0, s"${ranDel.shuffleStages} shuffle-map stages")
  }

  test("probe plus AppendAt runs at most 9 jobs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))
    val path = tmpPath("mh-idx-ingest-budget")
    // odd source docs are not stored: their batch copies survive
    Dedup.minhashIndexBuild(docs.filter($"doc_id" % 2 === 0), "text", "doc_id", path,
      shingleK = 4, numHashes = 128, bands = 64)
    // a `use` that runs nothing: the budget is the probe's and the append's
    val ((_, appended), ran) = graft.Ran(spark) {
      Dedup.minhashIndexIngest(spark, path, batch, "text", "doc_id", 1,
        threshold = 0.3)(_ => ())
    }
    assert(appended > 0 && appended < batch.count())
    assert(spark.read.parquet(s"$path/sets").filter($"installment" === 1)
      .select("id").distinct().count() === appended)
    // the checkpoint, the batch collect, three scans and three writes: meta/
    // is read on the driver (9 jobs before)
    assert(ran.jobs <= 8, s"${ran.jobs} jobs")
    assert(ran.shuffleStages === 0, s"${ran.shuffleStages} shuffle-map stages")
  }

  test("driver-held band keys equal the bandHashes column on seeded text") {
    val rnd = new scala.util.Random(17)
    val words = Vector.tabulate(300)(i => s"w$i")
    val texts = (0 until 300).map(_ =>
      Seq.fill(rnd.nextInt(60))(words(rnd.nextInt(words.length))).mkString(" "))
    for ((numHashes, bands, k) <- Seq((64, 16, 3), (64, 32, 3), (128, 64, 4))) {
      val rows = texts.toDF("text")
        .select(col("text"), Dedup.bandHashes(Dedup.minhashSigUdf(numHashes)(
          Dedup.shinglesUdf(k)(col("text"))), bands, numHashes / bands).as("b"))
        .collect()
      rows.foreach { r =>
        val keys = Dedup.bandKeys(Dedup.minhashSig(Dedup.shingleSet(r.getString(0), k),
          numHashes), bands, numHashes / bands)
        assert(keys.toSeq === r.getSeq[Long](1), s"$numHashes/$bands: '${r.getString(0)}'")
      }
    }
  }

  test("ingest writes the installment AppendAt writes, and keeps what the probe does not flag") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val near = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))
    // an id twice in one batch is banded once, from its rows' union
    val twice = Seq((2000001L, "one half of a batch id that appears twice here"),
      (2000001L, "and the other half of that very same batch id")).toDF("doc_id", "text")
    val batch = near.unionByName(docs.filter($"doc_id" % 10 === 1)
      .select(($"doc_id" + 3000000L).as("doc_id"), $"text")).unionByName(twice)
    def built(name: String) = {
      val p = tmpPath(name)
      Dedup.minhashIndexBuild(docs.filter($"doc_id" % 10 =!= 1), "text", "doc_id", p,
        shingleK = 4, numHashes = 128, bands = 64)
      p
    }
    val routed = built("mh-ingest-routed")
    val flagged = Dedup.minhashIndexProbe(spark, routed, batch, "text", "doc_id",
      threshold = 0.3).select("new_id").as[Long].collect().toSet
    val (emitted, appended) = Dedup.minhashIndexIngest(spark, routed, batch, "text",
      "doc_id", 1, threshold = 0.3)(_.select("doc_id").as[Long].collect().toSeq)
    val want = batch.select("doc_id").as[Long].collect().toSeq.filterNot(flagged)
    assert(flagged.nonEmpty && emitted.sorted === want.sorted && appended === want.length)

    val viaAppendAt = built("mh-ingest-appendat")
    Dedup.minhashIndexAppendAt(spark, viaAppendAt,
      batch.filter(!$"doc_id".isin(flagged.toSeq: _*)), 1, "text", "doc_id")
    for (t <- Seq("sets", "bands", "sizes")) {
      def rows(p: String) = spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(rows(routed) === rows(viaAppendAt), s"$t/ differs")
    }
  }

  test("above the candidate cap the verify exchange returns the same pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val batch = docs.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        expr("substr(text, 1, cast(floor(length(text)*0.7) as int))").as("text"))
    val path = tmpPath("mh-idx-cap")
    Dedup.minhashIndexBuild(docs, "text", "doc_id", path,
      shingleK = 4, numHashes = 128, bands = 64)
    def probe(cap: Int) = graft.Ran(spark) {
      Dedup.routedProbeFrame(spark, path, batch, "text", "doc_id", 0.3, 1000,
        Int.MaxValue, cap).as[(Long, Long, Double)].collect().toSet
    }
    val (pushed, ranPushed) = probe(Dedup.ProbePushdownMaxCandidates)
    val (exchanged, ranExchanged) = probe(0)
    assert(pushed.nonEmpty && exchanged === pushed)
    assert(ranPushed.shuffleStages === 0 && ranExchanged.shuffleStages >= 1)
  }

  test("sets/ stores EXPLODED shingle rows — row width bounded at any doc size") {
    // regression: a per-doc array<string> column makes every sets/ scan
    // allocate rows-per-batch × set-size contiguous vectorized-reader
    // buffers; ~20 KB crawl docs (≈2500 shingles ≈ 60 KB arrays) OOMed a
    // 1.2 GB ingest at the build's own read-back. The exploded layout
    // keeps row width at one shingle regardless of doc length.
    val words = (0 until 2500).map(i => s"w${i % 907}x$i")
    val bigDoc = words.mkString(" ")
    val nearDup = words.mkString(" ") + " tail banner words appended"
    val path = tmpPath("mh-idx-exploded")
    Dedup.minhashIndexBuild(
      Seq((1L, bigDoc), (2L, "short unrelated filler document text here"))
        .toDF("doc_id", "text"),
      "text", "doc_id", path)

    val sets = spark.read.parquet(s"$path/sets")
    assert(sets.schema("sh").dataType ===
      org.apache.spark.sql.types.StringType,
      s"sets/ must be exploded rows, got ${sets.schema("sh").dataType}")
    // one row per (doc, shingle); the big doc contributes ~2500 rows
    assert(sets.filter($"id" === 1L).count() > 2000L)

    val hits = Dedup.minhashIndexProbe(spark, path,
      Seq((101L, nearDup)).toDF("doc_id", "text"), "text", "doc_id",
      threshold = 0.8)
      .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
    assert(hits === Set((1L, 101L)))
  }

  test("short docs keep their single whole-text shingle through the exploded layout") {
    // shinglesUdf gives a doc below k words ONE whole-text shingle; the
    // exploded sets/ layout must preserve that row (and the jaccard-1.0
    // self-match it implies), not drop the doc
    val path = tmpPath("mh-idx-short")
    Dedup.minhashIndexBuild(
      Seq((1L, "ab"), (2L, "a normal document with enough words to shingle"))
        .toDF("doc_id", "text"),
      "text", "doc_id", path, shingleK = 3)
    val stored = spark.read.parquet(s"$path/sets")
      .select("id").distinct().as[Long].collect().toSet
    assert(stored === Set(1L, 2L), "short doc must stay indexed")
    val hits = Dedup.minhashIndexProbe(spark, path,
      Seq((101L, "ab")).toDF("doc_id", "text"), "text", "doc_id",
      threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) === Seq((1L, 101L)))
    assert(hits.head._3 === 1.0)
  }
}
