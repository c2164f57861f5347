package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.index.SimilarityIndex
import graft.store.Ranks

/** Unpersist hygiene: no operator may leave MEMORY_AND_DISK blocks behind
  * after its terminal action — a long-lived session composing operators
  * must not accumulate storage memory until eviction churn. (The test
  * session is shared across suites, so assertions are on the DELTA of
  * persistent RDDs, not on emptiness.) */
class PersistHygieneSpec extends SparkTestBase {

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // Asserts on the SET of new RDD ids, not the count: the shared session's
  // ContextCleaner may release another suite's stale blocks concurrently,
  // which would make a count delta spuriously negative (or mask a leak).
  private def assertNoNewPersists(name: String)(run: => Unit): Unit = {
    val before = persistedIds
    run
    val leaked = persistedIds -- before
    assert(leaked.isEmpty, s"$name left persisted RDD(s) behind: $leaked")
  }

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("Ranks.withOrderedIndex holds no cache beyond the operator") {
    assertNoNewPersists("withOrderedIndex") {
      val keys = docs.select(col("doc_id").as("key")).distinct()
      Ranks.withOrderedIndex(keys, "key", "idx").count()
    }
  }

  test("minhash near-duplicates holds no cache beyond the operator") {
    assertNoNewPersists("minhashNearDuplicates") {
      Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5).count()
    }
  }

  test("n-gram Jaccard join holds no cache beyond the operator") {
    assertNoNewPersists("ngramJaccardJoin") {
      Dedup.ngramJaccardJoin(docs, "text", "doc_id",
        shingleK = 3, threshold = 0.5).count()
    }
  }

  test("embedding near-duplicates holds no cache beyond the operator") {
    assertNoNewPersists("embeddingNearDuplicates") {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Dedup.embeddingNearDuplicates(e, "embedding", "vec_id",
        dims = 64, threshold = 0.98, planes = 32, bands = 4).count()
    }
  }

  test("hashed closest match holds no cache beyond the operator") {
    assertNoNewPersists("closestMatchHashedIds") {
      val s = docs.select(col("doc_id").as("id"),
        Dedup.normalized(col("text")).as("sentence"))
      SimilarityIndex.closestMatchHashedIds(s, s.filter(col("id") < 4),
        "id", "sentence", " ").count()
    }
  }

  test("lexicon_validate query releases its token cache before returning") {
    assertNoNewPersists("lexicon_validate") {
      SparkEntry.queries("lexicon_validate")(spark, sfDir).count()
    }
  }

  test("late-r15 crawl operators hold no cache beyond the operator") {
    import graft.pipeline.Crawl
    val urls = docs.select(
      concat(lit("https://h"), col("doc_id") % 7,
        lit(".example/p/"), col("doc_id")).as("url"),
      md5(col("text").cast("binary")).as("content_md5"))
    assertNoNewPersists("mirrorHosts") {
      Crawl.mirrorHosts(urls, minShared = 1).count()
    }
    assertNoNewPersists("hostTemplates + dropTemplatePages") {
      Crawl.dropTemplatePages(urls, Crawl.hostTemplates(urls, 2)).count()
    }
    assertNoNewPersists("resolveRedirects") {
      val edges = docs.select(
        concat(lit("https://c/a/"), col("doc_id")).as("url"),
        concat(lit("https://c/b/"), col("doc_id")).as("target"))
      Crawl.resolveRedirects(edges, maxHops = 3).count()
    }
  }

  test("dedup ingest stream releases its survivors' checkpoint after a micro-batch") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = java.nio.file.Files.createTempDirectory("hygiene-ingest")
      .resolve("idx").toString
    Dedup.minhashIndexBuild(
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text"),
      "text", "doc_id", idxPath, shingleK = 3, numHashes = 64, bands = 32)
    assertNoNewPersists("dedupIngestStream") {
      val input = MemoryStream[(Long, String)]
      var emitted = -1L
      val q = EventStreams.dedupIngestStream(spark, input.toDF().toDF("doc_id", "text"),
        idxPath, "text", "doc_id", threshold = 0.5) { (fresh, _) => emitted = fresh.count() }
        .start()
      try {
        input.addData((101L, "the quick brown fox jumps over the lazy dog today"),
          (102L, "a totally new take on distributed columnar indexes"))
        q.processAllAvailable()
      } finally q.stop()
      assert(emitted === 1L)
    }
  }
}
