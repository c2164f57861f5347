package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analysis.TextAnalyzer
import graft.index.SimilarityIndex
import graft.lexicon.Lexicon

/**
 * Command-line surface (SURVEY.md §2.7) — the reference's plugin commands
 * (Program.cs:9-63, PluginReader.cs:14-50) become spark-submit subcommands:
 *
 *   lexicon          <docsParquet> <lexiconPath> [textCol] [dims]
 *   validatelexicon  <docsParquet> <lexiconPath> [textCol] [dims]
 *   truncate         <path>
 *   stringcompare    <str1> <str2>
 *   graph-build      <sentencesParquet> <indexPath> [idCol] [textCol]
 *   graph-search     <indexPath> <querySentence>
 *
 * Flag parsing mirrors ArgumentParser.cs:5-24 (positional, no flags — the
 * reference's dict-of-flags collapses to positional args here since every
 * command has a fixed arity).
 */
object Main {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.GraftExtensions
      .builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
      .appName("graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Parse a `k=v,k=v` CLI map argument, failing with a usage message that
    * NAMES the bad token (a bare `val Array(k, v) = ...` MatchError names
    * nothing) and rejecting duplicate strata instead of silently
    * last-winning through toMap. */
  private def parseKvMap[V](arg: String, what: String,
                            parse: String => V): Map[String, V] = {
    val entries = arg.split(",").filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          k -> (try parse(v) catch {
            case _: NumberFormatException =>
              sys.error(s"malformed $what entry '$kv': '$v' is not a number")
          })
        case _ =>
          sys.error(s"malformed $what entry '$kv': expected <stratum>=<$what>")
      }
    }
    val dups = entries.groupBy(_._1).filter(_._2.length > 1).keys
    if (dups.nonEmpty)
      sys.error(s"duplicate $what strata: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "lexicon" :: docs :: out :: rest =>
      val textCol = rest.headOption.getOrElse("text")
      val dims = rest.drop(1).headOption.map(_.toInt).getOrElse(TextAnalyzer.DefaultDims)
      val spark = session()
      val t0 = System.nanoTime()
      Lexicon.buildAndWrite(spark.read.parquet(docs), out, textCol, dims)
      val n = spark.read.parquet(out).count()
      println(f"lexicon: $n%d entries -> $out (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      spark.stop()

    case "validatelexicon" :: docs :: lex :: rest =>
      val textCol = rest.headOption.getOrElse("text")
      val dims = rest.drop(1).headOption.map(_.toInt).getOrElse(TextAnalyzer.DefaultDims)
      val spark = session()
      import spark.implicits._
      val lexDf = spark.read.parquet(lex)
      // positive pass (≙ ValidateLexiconCommand.cs:26-27)
      val report = Lexicon.validate(spark.read.parquet(docs), lexDf, textCol, dims)
      println(s"validatelexicon: $report")
      // negative pass (≙ ValidateLexiconCommand.cs:31-40): sample angles,
      // count the missing ones, synthesize out-of-lexicon labels, and
      // expect validation of that synthetic corpus to FAIL
      val missing = Lexicon.findMissingAngles(lexDf, count = 32)
      val synth = Lexicon.synthesizeLabels(math.max(8, missing.length))
      val negReport = Lexicon.validate(synth.toDF(textCol), lexDf, textCol, dims)
      println(s"validatelexicon (negative, ${synth.length} synthetic labels, " +
        s"${missing.length}/32 sampled angles missing): ok=${negReport.ok} (expected false)")
      spark.stop()
      if (!report.ok || negReport.ok) sys.exit(1)

    case "truncate" :: path :: Nil =>
      val spark = session()
      new graft.store.KeyValueColumn(spark, path).truncate()
      println(s"truncate: dropped $path")
      spark.stop()

    case "stringcompare" :: a :: b :: Nil =>
      // ≙ StringCompareCommand.cs:9-19 — pure kernel, no session needed
      println(f"compare($a%s, $b%s) = ${TextAnalyzer.compare(a, b)}%.6f")
      println(f"angle_of_identity($a%s) = ${TextAnalyzer.compareToUnitVector(a)}%.6f")
      println(f"angle_of_identity($b%s) = ${TextAnalyzer.compareToUnitVector(b)}%.6f")

    case "graph-build" :: sentences :: out :: rest =>
      val idCol = rest.headOption.getOrElse("id")
      val textCol = rest.drop(1).headOption.getOrElse("sentence")
      val sep = rest.drop(2).headOption.getOrElse(";")
      val spark = session()
      val df = spark.read.parquet(sentences)
        .select(col(idCol).as("id"), col(textCol).as("sentence"))
      val vocab = SimilarityIndex.buildVocabulary(df, "sentence", sep)
      vocab.write.mode("overwrite").parquet(s"$out/vocab")
      SimilarityIndex.bagOfWords(df, vocab, sep = sep)
        .write.mode("overwrite").parquet(s"$out/index")
      // the separator is part of the index contract — persist it for search
      spark.createDataFrame(Seq(Tuple1(sep))).toDF("sep")
        .write.mode("overwrite").parquet(s"$out/meta")
      println(s"graph-build: ${spark.read.parquet(s"$out/index").count()} sentences -> $out")
      spark.stop()

    case "graph-search" :: index :: query :: Nil =>
      val spark = session()
      import spark.implicits._
      val vocab = spark.read.parquet(s"$index/vocab")
      val idx = spark.read.parquet(s"$index/index")
      // the one-row meta graph-build writes, read on the driver
      val sep = graft.store.readSmall(spark, s"$index/meta", "sep STRING").head.getString(0)
      val q = SimilarityIndex.bagOfWords(
        Seq((0L, query)).toDF("id", "sentence"), vocab, sep = sep)
      SimilarityIndex.closestMatch(idx, q).show(false)
      spark.stop()

    // -------- training-data-pipeline extensions (no reference analog) ----

    case "scrub" :: docs :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.Scrub.scrub(spark.read.parquet(docs), idCol, textCol)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"scrub: $n docs redacted -> $out")
      spark.stop()

    case "chunk" :: docs :: out :: window :: stride :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.Chunking.chunkByTokens(spark.read.parquet(docs),
          idCol, textCol, window.toInt, stride.toInt)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"chunk: $n chunks (window=$window stride=$stride) -> $out")
      spark.stop()

    case "profile" :: table :: cols :: rest =>
      val exact = rest.headOption.forall(_ != "approx")
      val spark = session()
      graft.analysis.Profile.profile(spark.read.parquet(table),
        cols.split(",").toSeq, exact)
        .show(100, truncate = false)
      spark.stop()

    case "bm25-build" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.index.Bm25.bm25IndexBuild(spark.read.parquet(docs), idx, idCol, textCol)
      val stats = spark.read.parquet(s"$idx/stats")
        .agg(org.apache.spark.sql.functions.sum("n")).head()
      println(s"bm25-build: ${stats.getLong(0)} docs, " +
        s"${spark.read.parquet(s"$idx/terms").count()} terms -> $idx")
      spark.stop()

    case "bm25-append" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.index.Bm25.bm25IndexAppend(spark, idx,
        spark.read.parquet(docs), idCol, textCol)
      val stats = spark.read.parquet(s"$idx/stats")
        .agg(org.apache.spark.sql.functions.sum("n")).head()
      println(s"bm25-append: ${stats.getLong(0)} docs total -> $idx")
      spark.stop()

    case "bm25-compact" :: idx :: Nil =>
      val spark = session()
      val terms = graft.index.Bm25.bm25IndexCompact(spark, idx)
      println(s"bm25-compact: df/stats deltas folded to one installment " +
        s"($terms terms) in $idx")
      spark.stop()

    case "bm25-search" :: idx :: query :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = session()
      import spark.implicits._
      graft.index.Bm25.bm25SearchIndexed(spark, idx,
        Seq((0L, query)).toDF("query_id", "qtext"), k)
        .select("rank", "doc_id", "score")
        .show(k, truncate = false)
      spark.stop()

    case "index-build" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.dedup.Dedup.minhashIndexBuild(spark.read.parquet(docs),
        textCol, idCol, idx)
      println(s"index-build: ${spark.read.parquet(s"$idx/sets")
        .select("id").distinct().count()} docs -> $idx")
      spark.stop()

    case "index-append" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.dedup.Dedup.minhashIndexAppend(spark, idx,
        spark.read.parquet(docs), textCol, idCol)
      println(s"index-append: ${spark.read.parquet(s"$idx/sets")
        .select("id").distinct().count()} docs total -> $idx")
      spark.stop()

    case "index-probe" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val threshold = rest.drop(2).headOption.map(_.toDouble).getOrElse(0.8)
      val spark = session()
      graft.dedup.Dedup.minhashIndexProbe(spark, idx, spark.read.parquet(docs),
        textCol, idCol, threshold).show(50, truncate = false)
      spark.stop()

    case "index-compact" :: idx :: Nil =>
      val spark = session()
      val buckets = graft.dedup.Dedup.minhashIndexCompactSizes(spark, idx)
      println(s"index-compact: sizes folded to one installment ($buckets buckets) in $idx")
      spark.stop()

    case "ivf-compact" :: idx :: Nil =>
      val spark = session()
      val rows = graft.index.SimilarityIndex.ivfCompact(spark, idx)
      println(s"ivf-compact: $rows assignments rewritten one-file-per-list in $idx")
      spark.stop()

    case "ivfsq8-compact" :: idx :: Nil =>
      val spark = session()
      val rows = graft.index.Quantize.ivfSq8Compact(spark, idx)
      println(s"ivfsq8-compact: $rows packed codes rewritten one-file-per-list in $idx")
      spark.stop()

    case "export-shards" :: docs :: out :: rps :: rest =>
      val keyCol = rest.headOption.getOrElse("doc_id")
      val signals = rest.drop(1).headOption
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val spark = session()
      val n = graft.pipeline.Export.writeShards(
        spark.read.parquet(docs), keyCol, out, rps.toLong, signals)
      println(s"export-shards: $n shards of <= $rps rows -> $out")
      spark.stop()

    case "pagerank" :: edges :: out :: rest =>
      val srcCol = rest.headOption.getOrElse("src")
      val dstCol = rest.drop(1).headOption.getOrElse("dst")
      val iters = rest.drop(2).headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      val ranks = graft.operators.PageRank.pageRank(
        spark.read.parquet(edges), srcCol, dstCol, iters)
      ranks.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(ranks)
      val n = spark.read.parquet(out).count()
      println(s"pagerank: $n node ranks after $iters rounds -> $out")
      spark.stop()

    case "host-stats" :: docs :: out :: rest =>
      val urlCol = rest.headOption.getOrElse("url")
      val idCol = rest.drop(1).headOption.getOrElse("doc_id")
      val signals = rest.drop(2).headOption
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      val spark = session()
      graft.pipeline.UrlFilter.hostStats(
          spark.read.parquet(docs), urlCol, idCol, signals)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"host-stats: $n hosts -> $out")
      spark.stop()

    case "host-cap" :: docs :: out :: k :: rest =>
      val urlCol = rest.headOption.getOrElse("url")
      val idCol = rest.drop(1).headOption.getOrElse("doc_id")
      val spark = session()
      graft.pipeline.UrlFilter.capPerHost(
          spark.read.parquet(docs), urlCol, idCol, k.toInt)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"host-cap: $n surviving (host, doc) rows at k=$k -> $out")
      spark.stop()

    case "classify" :: docs :: labeledPq :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val labelCol = rest.drop(2).headOption.getOrElse("label")
      val minCount = rest.drop(3).headOption.map(_.toLong).getOrElse(1L)
      val spark = session()
      graft.analysis.Classify.centroidClassify(
          spark.read.parquet(docs), spark.read.parquet(labeledPq),
          idCol, textCol, labelCol, minCount)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"classify: $n predictions -> $out")
      spark.stop()

    case "langid" :: docs :: out :: rest =>
      // trained 32-language char-n-gram language ID (heuristic
      // fallback); pass "confidence" as the 3rd extra arg (after
      // idCol textCol) to add the winner-vs-runner-up cosine margin
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val withConf = rest.drop(2).headOption.contains("confidence")
      val spark = session()
      val labeled =
        if (withConf)
          graft.analysis.LangId.classifyWithConfidence(
            spark.read.parquet(docs), idCol, textCol)
        else graft.analysis.LangId.classify(spark.read.parquet(docs),
          idCol, textCol)
      labeled.write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"langid: $n docs labeled" +
        (if (withConf) " with confidence" else "") + s" -> $out")
      spark.stop()

    case "int8-build" :: vecs :: idx :: Nil =>
      val spark = session()
      graft.index.Quantize.int8Build(spark.read.parquet(vecs), idx)
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"int8-build: $n packed code rows -> $idx")
      spark.stop()

    case "int8-append" :: vecs :: idx :: Nil =>
      val spark = session()
      graft.index.Quantize.int8Append(spark, idx, spark.read.parquet(vecs))
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"int8-append: index now holds $n packed code rows in $idx")
      spark.stop()

    case "int8-compact" :: idx :: Nil =>
      val spark = session()
      val rows = graft.index.Quantize.int8Compact(spark, idx)
      println(s"int8-compact: $rows packed codes folded to one installment in $idx")
      spark.stop()

    case "pq-build" :: vecs :: idx :: rest =>
      val m = rest.headOption.map(_.toInt).getOrElse(8)
      val ksub = rest.drop(1).headOption.map(_.toInt).getOrElse(256)
      val rotate = rest.drop(2).headOption.contains("rotate")
      val spark = session()
      graft.index.Pq.pqBuild(spark.read.parquet(vecs), idx, m, ksub,
        rotate = rotate)
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"pq-build: $n $m-byte code rows (ksub=$ksub" +
        (if (rotate) ", rotated" else "") + s") -> $idx")
      spark.stop()

    case "pq-append" :: vecs :: idx :: Nil =>
      val spark = session()
      graft.index.Pq.pqAppend(spark, idx, spark.read.parquet(vecs))
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"pq-append: index now holds $n code rows in $idx")
      spark.stop()

    case "pq-search" :: idx :: queriesPath :: out :: rest =>
      // [k] [corpusParquetForExactRefine] [candidateK]
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val corpus = rest.drop(1).headOption
      val candidateK = rest.drop(2).headOption.map(_.toInt).getOrElse(64)
      val spark = session()
      val q = spark.read.parquet(queriesPath)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val res = corpus match {
        case Some(corpusPath) => // exact float re-rank over the ADC pool
          graft.index.Pq.pqSearchRefined(spark, idx, q,
            spark.read.parquet(corpusPath), k, candidateK)
        case None => graft.index.Pq.pqSearch(spark, idx, q, k)
      }
      res.write.mode("overwrite").parquet(out)
      println(s"pq-search: top-$k for ${q.count()} queries -> $out")
      spark.stop()

    case "pq-delete" :: idx :: idsPath :: Nil =>
      val spark = session()
      val inst = graft.index.Pq.pqDelete(spark, idx,
        spark.read.parquet(idsPath))
      println(s"pq-delete: tombstones installment $inst in $idx")
      spark.stop()

    case "pq-compact" :: idx :: Nil =>
      val spark = session()
      val rows = graft.index.Pq.pqCompact(spark, idx)
      println(s"pq-compact: $rows code rows folded to one installment in $idx")
      spark.stop()

    case "ivfpq-build" :: vecs :: idx :: rest =>
      val nlist = rest.headOption.map(_.toInt).getOrElse(64)
      val m = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val ksub = rest.drop(2).headOption.map(_.toInt).getOrElse(256)
      val storeRaw = rest.drop(3).headOption.exists(_.toBoolean)
      val rotate = rest.drop(4).headOption.contains("rotate")
      val residual = rest.drop(4).headOption.contains("residual") ||
        rest.drop(5).headOption.contains("residual")
      val spark = session()
      graft.index.Pq.ivfPqBuild(spark.read.parquet(vecs), idx, nlist,
        m, ksub, storeRaw = storeRaw, rotate = rotate,
        residual = residual)
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"ivfpq-build: $n $m-byte code rows over $nlist lists " +
        s"(ksub=$ksub, raw=$storeRaw) -> $idx")
      spark.stop()

    case "ivfpq-append" :: vecs :: idx :: Nil =>
      val spark = session()
      graft.index.Pq.ivfPqAppend(spark, idx, spark.read.parquet(vecs))
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"ivfpq-append: index now holds $n code rows in $idx")
      spark.stop()

    case "ivfpq-search" :: idx :: queriesPath :: out :: rest =>
      // [k] [nprobe] [candidateK -- refined via the raw/ sidecar when > 0]
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val nprobe = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val candidateK = rest.drop(2).headOption.map(_.toInt).getOrElse(0)
      val spark = session()
      val q = spark.read.parquet(queriesPath)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val res =
        if (candidateK > 0)
          graft.index.Pq.ivfPqSearchRefined(spark, idx, q, k, candidateK,
            nprobe)
        else graft.index.Pq.ivfPqSearch(spark, idx, q, k, nprobe)
      res.write.mode("overwrite").parquet(out)
      println(s"ivfpq-search: top-$k (nprobe=$nprobe) for " +
        s"${q.count()} queries -> $out")
      spark.stop()

    case "hard-negatives" :: idx :: vecs :: out :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val spark = session()
      graft.index.Quantize.hardNegatives(spark, idx,
          spark.read.parquet(vecs)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
          k)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"hard-negatives: $n mined pairs (k=$k) -> $out")
      spark.stop()

    case "int8-refine-search" :: idx :: vecs :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val candidateK = rest.drop(1).headOption.map(_.toInt).getOrElse(8 * k)
      val spark = session()
      val corpus = spark.read.parquet(vecs)
      graft.index.Quantize.int8SearchRefined(spark, idx,
        corpus.select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        corpus, k, candidateK)
        .orderBy("query_id", "rank").show(50, truncate = false)
      spark.stop()

    case "ivfsq8-refine-search" :: idx :: vecs :: rest =>
      val k = rest.headOption.map(_.toInt).getOrElse(5)
      val candidateK = rest.drop(1).headOption.map(_.toInt).getOrElse(8 * k)
      val nprobe = rest.drop(2).headOption.map(_.toInt).getOrElse(8)
      val spark = session()
      graft.index.Quantize.ivfSq8SearchRefined(spark, idx,
        spark.read.parquet(vecs)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        k, candidateK, nprobe)
        .orderBy("query_id", "rank").show(50, truncate = false)
      spark.stop()

    case "int8-probe" :: idx :: vecs :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.95)
      val spark = session()
      graft.index.Quantize.int8NearDupProbe(spark, idx,
          spark.read.parquet(vecs), threshold)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"int8-probe: $n near-dup pairs at >= $threshold -> $out")
      spark.stop()

    case "int8-prune" :: idx :: vecs :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.95)
      val spark = session()
      val survivors = graft.index.Quantize.int8ProbePrune(spark, idx,
        spark.read.parquet(vecs), threshold)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).count()
      println(s"int8-prune: $n survivors at >= $threshold -> $out")
      spark.stop()

    case "bpe-learn" :: docs :: out :: rest =>
      val numMerges = rest.headOption.map(_.toInt).getOrElse(64)
      val maxBatch = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
      val textCol = rest.drop(2).headOption.getOrElse("text")
      val spark = session()
      val t0 = System.nanoTime()
      graft.analysis.Bpe.learnMergesDf(spark,
          spark.read.parquet(docs), textCol, numMerges, maxBatch)
        .write.mode("overwrite").parquet(out)
      val secs = (System.nanoTime() - t0) / 1e9
      val n = spark.read.parquet(out).count()
      println(f"bpe-learn: $n merges (maxBatch=$maxBatch) in $secs%.2f s -> $out")
      spark.stop()

    case "segment-docs" :: docs :: out :: maxTokens :: rest =>
      val overlap = rest.headOption.map(_.toInt).getOrElse(0)
      val idCol = rest.drop(1).headOption.getOrElse("doc_id")
      val textCol = rest.drop(2).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.Chunking.segmentByTokens(
          spark.read.parquet(docs), idCol, textCol, maxTokens.toInt, overlap)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"segment-docs: $n segments at <= $maxTokens tokens -> $out")
      spark.stop()

    case "hamming-build" :: hashesParquet :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("id")
      val hashCol = rest.drop(1).headOption.getOrElse("h")
      val spark = session()
      graft.dedup.Dedup.hammingIndexBuild(
        spark.read.parquet(hashesParquet), idx, idCol, hashCol)
      val n = spark.read.parquet(s"$idx/hashes").count()
      println(s"hamming-build: $n hash rows -> $idx")
      spark.stop()

    case "hamming-append" :: hashesParquet :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("id")
      val hashCol = rest.drop(1).headOption.getOrElse("h")
      val spark = session()
      graft.dedup.Dedup.hammingIndexAppend(spark, idx,
        spark.read.parquet(hashesParquet), idCol, hashCol)
      val n = spark.read.parquet(s"$idx/hashes").count()
      println(s"hamming-append: index now holds $n hash rows in $idx")
      spark.stop()

    case "hamming-probe" :: idx :: hashesParquet :: out :: rest =>
      val maxHamming = rest.headOption.map(_.toInt).getOrElse(3)
      val idCol = rest.drop(1).headOption.getOrElse("id")
      val hashCol = rest.drop(2).headOption.getOrElse("h")
      val spark = session()
      graft.dedup.Dedup.hammingIndexProbe(spark, idx,
          spark.read.parquet(hashesParquet), idCol, hashCol, maxHamming)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"hamming-probe: $n near-dup pairs at hamming <= $maxHamming -> $out")
      spark.stop()

    case "hamming-prune" :: idx :: hashesParquet :: out :: rest =>
      val maxHamming = rest.headOption.map(_.toInt).getOrElse(3)
      val idCol = rest.drop(1).headOption.getOrElse("id")
      val hashCol = rest.drop(2).headOption.getOrElse("h")
      val spark = session()
      val survivors = graft.dedup.Dedup.hammingIndexPrune(spark, idx,
        spark.read.parquet(hashesParquet), idCol, hashCol, maxHamming)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).count()
      println(s"hamming-prune: $n survivors at hamming <= $maxHamming -> $out")
      spark.stop()

    case "video-build" :: framesParquet :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("id")
      val hashCol = rest.drop(1).headOption.getOrElse("ahash")
      val spark = session()
      graft.dedup.Dedup.videoIndexBuild(
        spark.read.parquet(framesParquet), idx, idCol, hashCol = hashCol)
      val n = spark.read.parquet(s"$idx/frames").count()
      println(s"video-build: $n frame-hash rows -> $idx")
      spark.stop()

    case "video-append" :: framesParquet :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("id")
      val hashCol = rest.drop(1).headOption.getOrElse("ahash")
      val spark = session()
      graft.dedup.Dedup.videoIndexAppend(spark, idx,
        spark.read.parquet(framesParquet), idCol, hashCol = hashCol)
      val n = spark.read.parquet(s"$idx/frames").count()
      println(s"video-append: index now holds $n frame-hash rows in $idx")
      spark.stop()

    case "video-probe" :: idx :: framesParquet :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.9)
      val idCol = rest.drop(1).headOption.getOrElse("id")
      val hashCol = rest.drop(2).headOption.getOrElse("ahash")
      val spark = session()
      graft.dedup.Dedup.videoContainmentProbe(spark, idx,
          spark.read.parquet(framesParquet), idCol, hashCol, threshold)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"video-probe: $n containment pairs at >= $threshold -> $out")
      spark.stop()

    case "video-prune" :: idx :: framesParquet :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.9)
      val idCol = rest.drop(1).headOption.getOrElse("id")
      val hashCol = rest.drop(2).headOption.getOrElse("ahash")
      val spark = session()
      val survivors = graft.dedup.Dedup.videoIndexPrune(spark, idx,
        spark.read.parquet(framesParquet), idCol, hashCol, threshold)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).select(idCol).distinct().count()
      println(s"video-prune: $n surviving videos at containment < $threshold -> $out")
      spark.stop()

    case "warc-scan" :: path :: rest =>
      // read WARC files through the splittable DSv2 source; reports
      // partition count + wall so split-vs-whole reads are comparable
      val spark = session()
      rest.headOption.foreach(b =>
        spark.conf.set("spark.sql.files.maxPartitionBytes", b))
      val df = spark.read.format("warc").load(path)
      val parts = df.rdd.getNumPartitions
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"warc-scan: $n records in $parts partitions, $dt%.2f s")
      spark.stop()

    case "crawl-ingest" :: warcPath :: idxPath :: corpusOut :: rest =>
      // the batch crawl-to-corpus pipeline in one command: WARC files
      // (splittable source) -> 200-status responses -> visible text ->
      // near-dup prune against the minhash corpus index -> append the
      // survivors + land them as parquet (the crawlIngestStream body,
      // batch form)
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.8)
      val frontierOut = rest.drop(1).headOption
      val robotsParquet = rest.drop(2).headOption
      val agent = rest.drop(3).headOption.getOrElse("graftbot")
      val spark = session()
      val recs = spark.read.format("warc").load(warcPath)
      // installment: the next free number for this index (bootstraps at 0
      // when the index does not exist yet); replays of the same CLI run
      // should pass through the stream form instead
      val conf = spark.sparkContext.hadoopConfiguration
      val metaP = new org.apache.hadoop.fs.Path(s"$idxPath/meta")
      val exists = metaP.getFileSystem(conf).exists(metaP)
      // the collision-free numbering rule lives in ONE place (it changed
      // once for a data-loss reason -- never re-derive it here)
      val inst =
        if (!exists) 0
        else graft.dedup.Dedup.nextMinhashInstallment(spark, idxPath)
      // when a frontier output is requested, links ride the same decode
      // pass and the next fetch round lands beside the corpus — robots
      // rules (optional (host, body) parquet) gate it for `agent`
      var frontierN = -1L
      val onLinks: org.apache.spark.sql.DataFrame => Unit =
        frontierOut match {
          case None => null
          case Some(fOut) => pages => {
            val crawled = pages.select(org.apache.spark.sql.functions
              .col("url"))
              .unionByName(
                if (exists) graft.pipeline.Crawl.crawledUrls(spark, idxPath)
                else spark.emptyDataFrame.select(
                  org.apache.spark.sql.functions.lit("").as("url")).limit(0))
            val fr = graft.pipeline.Crawl.frontier(pages, crawled)
            val gated = robotsParquet match {
              case Some(rp) => graft.pipeline.Robots.filterAllowed(fr,
                graft.pipeline.Robots.rulesDf(spark.read.parquet(rp)), agent)
              case None => fr
            }
            gated.write.mode("overwrite").parquet(fOut)
            frontierN = spark.read.parquet(fOut).count()
          }
        }
      val (_, stats) = graft.pipeline.Crawl.ingestBatch(spark, recs,
        idxPath, inst, threshold, onPageLinks = onLinks) { fresh =>
        fresh.write.mode("overwrite").parquet(corpusOut)
      }
      // the decode/prune telemetry line: silent-drop rates (mojibake
      // fallbacks, empty extractions) must be visible per ingest run
      println(s"crawl-ingest: responses=${stats.responses} " +
        s"charset_fallbacks=${stats.charsetFallbacks} " +
        s"empty_text=${stats.emptyText} near_dups=${stats.duplicates} " +
        s"appended=${stats.appended} redirects=${stats.redirects} " +
        s"non_text=${stats.nonText} noindexed=${stats.noindexed}" +
        s" -> $corpusOut; index installment $inst" +
        frontierOut.map(f => s"; frontier $frontierN urls -> $f")
          .getOrElse(""))
      spark.stop()

    case "crawl-schedule" :: frontierParquet :: out :: rest =>
      // politeness rounds over a landed frontier: round r fetches at
      // most one url per host; beyond maxRounds defers to the next cycle
      val maxRounds = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = session()
      val sched = graft.pipeline.Crawl.schedule(
        spark.read.parquet(frontierParquet), maxRounds)
      sched.write.mode("overwrite").parquet(out)
      println(s"crawl-schedule: ${spark.read.parquet(out).count()} urls " +
        s"in <=$maxRounds rounds -> $out")

    case "crawl-schedule-rank" :: frontierParquet :: pagesParquet :: out ::
        rest =>
      // authority-prioritized schedule (r15): host PageRank over the
      // crawl-discovered link graph (a landed (url, links[, base])
      // pages feed) orders hosts INSIDE each politeness round —
      // priority is the global fetch order a fetcher consumes
      val maxRounds = rest.headOption.map(_.toInt).getOrElse(10)
      val iters = rest.drop(1).headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      val edges = graft.pipeline.Crawl.hostEdges(
        spark.read.parquet(pagesParquet))
      graft.pipeline.Crawl.scheduleRanked(
          spark.read.parquet(frontierParquet), edges, maxRounds, iters)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-schedule-rank: ${spark.read.parquet(out).count()} " +
        s"urls in <=$maxRounds rounds, $iters PageRank rounds -> $out")

    case "crawl-recrawl-churn" :: frontierDir :: out :: Nil =>
      // change-aware refresh feed (r15): per-url last-fetch age + how
      // often the content actually changed — written churniest-first
      // (n_changes desc, last_batch asc, url asc)
      val spark = session()
      graft.pipeline.Crawl.recrawlChurn(spark, frontierDir)
        .orderBy(org.apache.spark.sql.functions.col("n_changes").desc,
          org.apache.spark.sql.functions.col("last_batch"),
          org.apache.spark.sql.functions.col("url"))
        .write.mode("overwrite").parquet(out)
      println(s"crawl-recrawl-churn: ${spark.read.parquet(out).count()} " +
        s"urls with change stats -> $out")
      spark.stop()

    case "crawl-bloom" :: idxPath :: bloomOut :: expected :: rest =>
      // maintenance job: Bloom over every url the index has folded in,
      // for frontierBloom's shuffle-free crawled-set checks
      val fpp = rest.headOption.map(_.toDouble).getOrElse(0.01)
      val spark = session()
      val bloom = graft.pipeline.Crawl.buildCrawledBloom(spark, idxPath,
        expected.toLong, fpp)
      graft.pipeline.Crawl.saveBloom(spark, bloom, bloomOut)
      println(s"crawl-bloom: ${bloom.bitSize()} bits at fpp<=$fpp -> $bloomOut")
      spark.stop()

    case "crawl-fetched-bloom" :: frontierDir :: idxPath :: bloomOut ::
        expected :: rest =>
      // the STREAMING frontier's maintenance artifact: Bloom over the
      // fetched ledger + corpus urls + emitted next/ urls with a
      // recorded coverage cutoff; crawlIngestStream(bloomPath=...)
      // picks it up next batch and stops paying the per-batch
      // corpus-sized exact join. Pass '-' for idxPath when the ledger
      // alone covers the corpus. A trailing `fetched-only` builds the
      // compact-next variant instead (next/ NOT folded in — the only
      // filter crawl-compact-next will route through; the stream
      // refuses it symmetrically).
      val fpp = rest.headOption.filter(_ != "fetched-only")
        .map(_.toDouble).getOrElse(0.01)
      val fetchedOnly = rest.contains("fetched-only")
      val spark = session()
      val covers = graft.pipeline.Crawl.buildFetchedBloom(spark,
        frontierDir, if (idxPath == "-") null else idxPath,
        expected.toLong, fpp, bloomOut, includeNext = !fetchedOnly)
      println(s"crawl-fetched-bloom: covers batches < $covers" +
        (if (fetchedOnly) " (fetched-only)" else "") + s" -> $bloomOut")
      spark.stop()

    case "crawl-compact-fetched" :: frontierDir :: Nil =>
      // fold the fetched/batch=N ledger to one row per url at its LAST
      // fetch batch (atomic swap; pre-compaction replays out of contract)
      val spark = session()
      val kept = graft.pipeline.Crawl.compactFetched(spark, frontierDir)
      println(s"crawl-compact-fetched: folded, max batch=$kept")
      spark.stop()

    case "crawl-compact-next" :: frontierDir :: rest =>
      // fold the next/batch=N frontier partitions: ref counts SUM per
      // url, since-fetched rows drop (optionally bloom-routed via a
      // FETCHED-ONLY crawl-fetched-bloom artifact so the fetched side
      // stays map-side; the stream's next-covering artifact makes every
      // folded url bloom-positive — against one the exact join is
      // strictly better, so it is skipped with a notice, r15)
      val spark = session()
      val art = rest.headOption.flatMap { bp =>
        val a = graft.pipeline.Crawl.loadFetchedBloomArtifact(spark, bp)
          .getOrElse(sys.error(s"no bloom artifact at $bp"))
        if (a.coversNext) {
          println(s"crawl-compact-next: artifact at $bp covers next/ -- " +
            "every folded url is positive by construction; using the " +
            "exact join (build one with `fetched-only` to bloom-route)")
          None
        } else Some(a)
      }
      // the artifact form carries its coverage cutoff, so a filter
      // built before the latest fetched batches stays CORRECT (the
      // post-cutoff trickle is checked exactly)
      val kept = art match {
        case Some(a) =>
          graft.pipeline.Crawl.compactNext(spark, frontierDir, a)
        case None => graft.pipeline.Crawl.compactNext(spark, frontierDir)
      }
      println(s"crawl-compact-next: folded into batch=$kept")
      spark.stop()

    case "crawl-recrawl" :: frontierDir :: beforeBatch :: out :: Nil =>
      // refresh feed: urls whose LAST fetch predates the cutoff batch —
      // a fetcher consumes this directly (the discovery gate stays
      // shut), written OLDEST-FIRST (last_batch asc, url asc — the
      // documented fetch priority; recrawlSeeds itself is unordered)
      val spark = session()
      graft.pipeline.Crawl.recrawlSeeds(spark, frontierDir,
          beforeBatch.toLong)
        .orderBy(org.apache.spark.sql.functions.col("last_batch"),
          org.apache.spark.sql.functions.col("url"))
        .write.mode("overwrite").parquet(out)
      println(s"crawl-recrawl: ${spark.read.parquet(out).count()} urls " +
        s"due (last fetch < batch $beforeBatch) -> $out")
      spark.stop()

    case "wet-export" :: docsParquet :: outDir :: rest =>
      // corpus text -> WET-style conversion shards (per-record gzip,
      // executor-written, re-readable by format("warc"))
      val per = rest.headOption.map(_.toInt).getOrElse(10000)
      val uriCol = rest.drop(1).headOption.getOrElse("url")
      val textCol = rest.drop(2).headOption.getOrElse("text")
      val spark = session()
      graft.sources.Warc.writeWetShards(
        spark.read.parquet(docsParquet), outDir, uriCol, textCol, per)
      println(s"wet-export: conversion shards -> $outDir")
      spark.stop()

    case "crawl-revalidators" :: warcPath :: out :: Nil =>
      // conditional-fetch table (r15): per 200-url, the ETag /
      // Last-Modified validators a refresh fetcher sends back as
      // If-None-Match / If-Modified-Since
      val spark = session()
      graft.pipeline.Crawl.revalidators(
          spark.read.format("warc").load(warcPath))
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-revalidators: ${spark.read.parquet(out).count()} " +
        s"urls with validators -> $out")
      spark.stop()

    case "crawl-redirect-chains" :: warcPath :: out :: rest =>
      // fold multi-hop redirect chains to their final destination —
      // the URL-level dedup key for every intermediate; cycles and
      // over-long chains surface as resolved=false
      val maxHops = rest.headOption.map(_.toInt).getOrElse(4)
      val spark = session()
      // the chain unroll scans edges maxHops+1 times — materialize the
      // (small) edge set once instead of re-parsing the WARCs per hop
      val edges = graft.pipeline.Crawl.redirectEdges(
        spark.read.format("warc").load(warcPath)).localCheckpoint()
      try {
        graft.pipeline.Crawl.resolveRedirects(edges, maxHops)
          .write.mode("overwrite").parquet(out)
      } finally graft.dedup.Dedup.release(edges)
      val done = spark.read.parquet(out)
      println(s"crawl-redirect-chains: ${done.count()} sources, " +
        s"${done.filter(!org.apache.spark.sql.functions.col("resolved"))
          .count()} unresolved at maxHops=$maxHops -> $out")
      spark.stop()

    case "crawl-mirror-hosts" :: frontierDir :: out :: rest =>
      // host pairs serving identical content (shared distinct hashes
      // from the hashed fetched ledger; boilerplate hashes df-guarded)
      val minShared = rest.headOption.map(_.toLong).getOrElse(2L)
      val maxHosts = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
      val spark = session()
      graft.pipeline.Crawl.mirrorHosts(
          spark.read.parquet(s"$frontierDir/fetched"), minShared, maxHosts)
        .orderBy(org.apache.spark.sql.functions.col("n_shared").desc,
          org.apache.spark.sql.functions.col("host_a"),
          org.apache.spark.sql.functions.col("host_b"))
        .write.mode("overwrite").parquet(out)
      println(s"crawl-mirror-hosts: ${spark.read.parquet(out).count()} " +
        s"pairs sharing >=$minShared hashes -> $out")
      spark.stop()

    case "crawl-forget" :: frontierDir :: urlsParquet :: rest =>
      // takedown: purge the given urls from the fetched + next +
      // images + media ledgers (pair with frontier-blocklist to
      // prevent re-acquisition)
      val urlCol = rest.headOption.getOrElse("url")
      val spark = session()
      val (pf, pn, pi, pm) = graft.pipeline.Crawl.purgeUrls(spark,
        frontierDir, spark.read.parquet(urlsParquet), urlCol)
      println(s"crawl-forget: purged $pf fetched + $pn next + $pi image " +
        s"+ $pm media rows")
      spark.stop()

    case "crawl-host-health" :: warcPath :: out :: Nil =>
      // per-host status-class counts — the dead-host/backoff signal a
      // fetcher joins into its scheduling policy
      val spark = session()
      graft.pipeline.Crawl.hostHealth(
          spark.read.format("warc").load(warcPath))
        .orderBy(org.apache.spark.sql.functions.col("n_server_err").desc,
          org.apache.spark.sql.functions.col("host"))
        .write.mode("overwrite").parquet(out)
      println(s"crawl-host-health: ${spark.read.parquet(out).count()} " +
        s"hosts -> $out")
      spark.stop()

    case "crawl-robots-cache" :: frontierDir :: out :: Nil =>
      // the self-fed robots cache: latest outcome per host from the
      // stream's robots/batch=N ledger, in the rulesDf shape
      val spark = session()
      graft.pipeline.Robots.rulesFromLedger(spark, s"$frontierDir/robots")
        .orderBy("host", "agent", "path")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-robots-cache: ${spark.read.parquet(out).count()} " +
        s"rule rows -> $out")
      spark.stop()

    case "crawl-host-edges" :: frontierDir :: out :: Nil =>
      // the accumulated host graph from the stream's edges/batch=N
      // ledger — the scheduleRanked input a fetcher feeds back
      val spark = session()
      graft.pipeline.Crawl.hostEdgesLedger(spark, frontierDir)
        .orderBy("src_host", "dst_host")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-host-edges: ${spark.read.parquet(out).count()} " +
        s"host pairs -> $out")
      spark.stop()

    case "crawl-compact-edges" :: frontierDir :: Nil =>
      // fold the edges/batch=N ledger (counts SUM; atomic swap)
      val spark = session()
      val kept = graft.pipeline.Crawl.compactEdges(spark, frontierDir)
      println(s"crawl-compact-edges: folded into batch=$kept")
      spark.stop()

    case "crawl-compact-images" :: frontierDir :: Nil =>
      // fold the images/batch=N ledger (latest pairs per url; atomic swap)
      val spark = session()
      val kept = graft.pipeline.Crawl.compactImages(spark, frontierDir)
      println(s"crawl-compact-images: folded into batch=$kept")
      spark.stop()

    case "crawl-images" :: frontierDir :: out :: Nil =>
      // the accumulated image-text pairs (latest batch per url wins) --
      // the LAION-shape multimodal feeder a crawl with landImages built
      val spark = session()
      graft.pipeline.Crawl.imagePairsLedger(spark, frontierDir)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"crawl-images: $n image-text pairs -> $out")
      spark.stop()

    case "crawl-media" :: frontierDir :: out :: Nil =>
      // the accumulated audio/video-text pairs (latest batch per feed
      // url wins) -- the feeds-channel ledger a crawl with landMedia
      // built
      val spark = session()
      graft.pipeline.Crawl.mediaPairsLedger(spark, frontierDir)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"crawl-media: $n media-text pairs -> $out")
      spark.stop()

    case "crawl-compact-media" :: frontierDir :: Nil =>
      // fold the media/batch=N ledger to one latest-wins partition
      val spark = session()
      val b = graft.pipeline.Crawl.compactMedia(spark, frontierDir)
      println(s"crawl-compact-media: folded to batch=$b")
      spark.stop()

    case "crawl-image-fetchlist" :: frontierDir :: out :: rest =>
      // the image FETCH frontier: distinct ledger img_urls + ref
      // counts, minus already-fetched, blocklist-gated when a domains
      // parquet is given — feed the output to crawl-schedule. A
      // buildFetchedBloom artifact path as the 2nd extra arg routes
      // the fetched gate through the filter (crawl-age-proof; absent
      // artifact falls back to the exact join with a notice)
      val spark = session()
      val blocked = rest.headOption.filter(_ != "-")
        .map(p => spark.read.parquet(p))
        .orNull
      val art = rest.drop(1).headOption.flatMap { bp =>
        val a = graft.pipeline.Crawl.loadFetchedBloomArtifact(spark, bp)
        if (a.isEmpty)
          println(s"crawl-image-fetchlist: no bloom artifact at $bp " +
            "- using the exact fetched join")
        a
      }.orNull
      graft.pipeline.Crawl.imageFetchList(spark, frontierDir, blocked,
          bloomArtifact = art)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"crawl-image-fetchlist: $n image urls to fetch -> $out")
      spark.stop()

    case "crawl-media-fetchlist" :: frontierDir :: out :: rest =>
      // the enclosure FETCH frontier: distinct media-ledger urls + ref
      // counts, minus already-fetched, blocklist-gated when a domains
      // parquet is given — feed the output to crawl-schedule. Same
      // optional bloom-artifact routing as crawl-image-fetchlist.
      val spark = session()
      val blocked = rest.headOption.filter(_ != "-")
        .map(p => spark.read.parquet(p))
        .orNull
      val art = rest.drop(1).headOption.flatMap { bp =>
        val a = graft.pipeline.Crawl.loadFetchedBloomArtifact(spark, bp)
        if (a.isEmpty)
          println(s"crawl-media-fetchlist: no bloom artifact at $bp " +
            "- using the exact fetched join")
        a
      }.orNull
      graft.pipeline.Crawl.mediaFetchList(spark, frontierDir, blocked,
          bloomArtifact = art)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"crawl-media-fetchlist: $n media urls to fetch -> $out")
      spark.stop()

    case "crawl-soft404" :: frontierDir :: out :: rest =>
      // within-host error templates from the hashed fetched ledger:
      // (host, content_md5, n_urls) per body served at minUrls+ urls
      // of one host — the artifact dropTemplatePages gates with
      val minUrls = rest.headOption.map(_.toLong).getOrElse(100L)
      val spark = session()
      graft.pipeline.Crawl.hostTemplates(
          spark.read.parquet(s"$frontierDir/fetched"), minUrls)
        .orderBy(org.apache.spark.sql.functions.col("n_urls").desc,
          org.apache.spark.sql.functions.col("host"),
          org.apache.spark.sql.functions.col("content_md5"))
        .write.mode("overwrite").parquet(out)
      println(s"crawl-soft404: ${spark.read.parquet(out).count()} " +
        s"templates at >=$minUrls urls -> $out")
      spark.stop()

    case "crawl-feed-seeds" :: feedsParquet :: crawledParquet ::
        out :: Nil =>
      // RSS/Atom entry links -> frontier seeds with the freshness date
      val spark = session()
      val crawled =
        if (crawledParquet == "-")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType))))
        else spark.read.parquet(crawledParquet)
      graft.pipeline.Feeds.seedsFromFeeds(
          spark.read.parquet(feedsParquet), crawled)
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-feed-seeds: ${spark.read.parquet(out).count()} " +
        s"seeds -> $out")
      spark.stop()

    case "crawl-feed-enclosures" :: feedsParquet :: fetchedParquet ::
        out :: Nil =>
      // RSS/Atom media enclosures -> the audio/video fetch list
      val spark = session()
      val fetched =
        if (fetchedParquet == "-")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType))))
        else spark.read.parquet(fetchedParquet)
      graft.pipeline.Feeds.enclosureSeeds(
          spark.read.parquet(feedsParquet), fetched)
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-feed-enclosures: ${spark.read.parquet(out).count()} " +
        s"media urls -> $out")
      spark.stop()

    case "crawl-sitemap-seeds" :: sitemapsParquet :: crawledParquet ::
        out :: rest =>
      // page seeds from fetched sitemap bodies (urlset locs decoded +
      // frontier-canonicalized, index bodies routed out; pass '-' for
      // crawledParquet on a first pass; 'lastmod' adds the
      // site-declared change signal column)
      val withLastmod = rest.contains("lastmod")
      val spark = session()
      val crawled =
        if (crawledParquet == "-")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType))))
        else spark.read.parquet(crawledParquet)
      val maps = spark.read.parquet(sitemapsParquet)
      val seeds =
        if (withLastmod) graft.pipeline.Sitemaps.seedsWithLastmod(maps, crawled)
        else graft.pipeline.Sitemaps.seedsFromBytes(maps, crawled)
      seeds.orderBy("url").write.mode("overwrite").parquet(out)
      println(s"crawl-sitemap-seeds: ${spark.read.parquet(out).count()} " +
        s"page seeds -> $out")
      spark.stop()

    case "crawl-sitemap-children" :: sitemapsParquet :: fetchedParquet ::
        out :: Nil =>
      // sitemapindex bodies -> the child-sitemap fetch list (url,
      // n_refs, lastmod); pass '-' for fetchedParquet on a first pass
      val spark = session()
      val fetched =
        if (fetchedParquet == "-")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType))))
        else spark.read.parquet(fetchedParquet)
      graft.pipeline.Sitemaps.childSitemaps(
          spark.read.parquet(sitemapsParquet), fetched)
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-sitemap-children: ${spark.read.parquet(out).count()} " +
        s"child sitemaps -> $out")
      spark.stop()

    case "crawl-robots-sitemaps" :: warcPath :: fetchedParquet ::
        out :: Nil =>
      // sitemap DISCOVERY: Sitemap: lines from the crawl's own
      // robots.txt fetch records -> the (url, n_refs) sitemap fetch
      // list; pass '-' for fetchedParquet on a first pass
      val spark = session()
      val fetched =
        if (fetchedParquet == "-")
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("url",
                org.apache.spark.sql.types.StringType))))
        else spark.read.parquet(fetchedParquet)
      graft.pipeline.Robots.sitemapsFromRecords(
          spark.read.format("warc").load(warcPath), fetched)
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-robots-sitemaps: ${spark.read.parquet(out).count()} " +
        s"sitemap urls -> $out")
      spark.stop()

    case "frontier-blocklist" :: frontierParquet :: blocklistParquet ::
        out :: rest =>
      // operator-policy gate: drop frontier urls on blocklisted hosts
      // (exact or dot-suffix; blocklistParquet carries a `domain` column)
      val urlCol = rest.headOption.getOrElse("url")
      val spark = session()
      val kept = graft.pipeline.UrlFilter.dropBlockedUrls(
        spark.read.parquet(frontierParquet), urlCol,
        spark.read.parquet(blocklistParquet), "domain")
      kept.write.mode("overwrite").parquet(out)
      println(s"frontier-blocklist: ${spark.read.parquet(out).count()} " +
        s"urls kept -> $out")
      spark.stop()

    case "robots-filter" :: urlsParquet :: robotsParquet :: agent :: out :: rest =>
      // RFC 9309 gate: robotsParquet carries (host, body) robots.txt
      // rows; urls keep only what `agent` may fetch (silent hosts allow)
      val urlCol = rest.headOption.getOrElse("url")
      val spark = session()
      val urls = spark.read.parquet(urlsParquet)
      val rules = graft.pipeline.Robots.rulesDf(
        spark.read.parquet(robotsParquet))
      val kept = graft.pipeline.Robots.filterAllowed(urls, rules, agent,
        urlCol)
      kept.write.mode("overwrite").parquet(out)
      println(s"robots-filter: ${spark.read.parquet(out).count()} of " +
        s"${urls.count()} urls allowed for $agent -> $out")
      spark.stop()

    case "warc-export" :: docsParquet :: outDir :: rest =>
      // corpus -> crawl-standard per-record-gzip WARC shards, written
      // from executors; immediately re-readable via format("warc")
      val rps = rest.headOption.map(_.toInt).getOrElse(10000)
      val uriCol = rest.drop(1).headOption.getOrElse("url")
      val bodyCol = rest.drop(2).headOption.getOrElse("body")
      val spark = session()
      graft.sources.Warc.writeShards(spark.read.parquet(docsParquet),
        outDir, uriCol, bodyCol, rps)
      val n = spark.read.format("warc").load(outDir)
        .filter(org.apache.spark.sql.functions.col("warc_type") === "response")
        .count()
      println(s"warc-export: $n records -> $outDir")
      spark.stop()

    case "crawl-image-dedup" :: pairsParquet :: imagesParquet :: out :: rest =>
      // LAION step 4: collapse pairs whose fetched images are
      // perceptual near-dups (mirror CDNs, container swaps); images
      // parquet carries (img_url, body)
      val maxHamming = rest.headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      graft.pipeline.Crawl.dedupePairsByImage(
          spark.read.parquet(pairsParquet),
          spark.read.parquet(imagesParquet), maxHamming)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-image-dedup: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "crawl-audio-pairs" :: feedsParquet :: out :: Nil =>
      // RSS/Atom enclosures paired with their item titles -> the
      // audio/video-text pair corpus (LAION-Audio shape)
      val spark = session()
      graft.pipeline.Feeds.enclosurePairs(spark.read.parquet(feedsParquet))
        .orderBy("url")
        .write.mode("overwrite").parquet(out)
      println(s"crawl-audio-pairs: ${spark.read.parquet(out).count()} " +
        s"pairs -> $out")
      spark.stop()

    case "image-dims" :: imagesParquet :: out :: Nil =>
      // decode step for the quality gate: (img_url, width, height)
      // for every decodable payload
      val spark = session()
      graft.multimodal.Multimodal.imageDimsByKey(
          spark.read.parquet(imagesParquet)).toDF()
        .write.mode("overwrite").parquet(out)
      println(s"image-dims: ${spark.read.parquet(out).count()} " +
        s"decoded -> $out")
      spark.stop()

    case "video-meta" :: mediaParquet :: out :: Nil =>
      // decode step for the video quality gate: (media_url, width,
      // height, n_frames) for every decodable payload
      val spark = session()
      graft.multimodal.Multimodal.videoMetaByKey(
          spark.read.parquet(mediaParquet)).toDF()
        .write.mode("overwrite").parquet(out)
      println(s"video-meta: ${spark.read.parquet(out).count()} " +
        s"decoded -> $out")
      spark.stop()

    case "crawl-video-quality" :: pairsParquet :: out :: rest =>
      // video enclosure screens over pairs joined to their videoMeta
      // columns: dims/aspect, frame-count window, caption gates +
      // feed-df guard
      val minW = rest.headOption.map(_.toInt).getOrElse(64)
      val minH = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
      val minF = rest.drop(2).headOption.map(_.toInt).getOrElse(2)
      val spark = session()
      graft.pipeline.Crawl.videoPairQualityFilter(
          spark.read.parquet(pairsParquet),
          minWidth = minW, minHeight = minH, minFrames = minF)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-video-quality: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "audio-resample" :: mediaParquet :: out :: rest =>
      // exact integer linear resample to the target rate (ASR 16 kHz
      // step); media parquet carries MediaRow-shaped (id, payload,
      // meta) rows — non-audio/corrupt rows pass through untouched
      val rate = rest.headOption.map(_.toInt).getOrElse(16000)
      val spark = session()
      val enc = org.apache.spark.sql.Encoders.product[
        graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.audioResample(
          spark.read.parquet(mediaParquet).as(enc), rate)
        .toDF()
        .write.mode("overwrite").parquet(out)
      println(s"audio-resample: ${spark.read.parquet(out).count()} " +
        s"rows at $rate Hz -> $out")
      spark.stop()

    case "audio-condition" :: mediaParquet :: out :: rest =>
      // edge-trim silence then peak-normalize (gain staging); media
      // parquet carries MediaRow-shaped rows
      val threshold = rest.headOption.map(_.toInt).getOrElse(0)
      val target = rest.drop(1).headOption.map(_.toInt).getOrElse(127)
      val spark = session()
      val enc = org.apache.spark.sql.Encoders.product[
        graft.multimodal.Multimodal.MediaRow]
      graft.multimodal.Multimodal.audioNormalizePeak(
          graft.multimodal.Multimodal.audioTrimSilence(
            spark.read.parquet(mediaParquet).as(enc), threshold), target)
        .toDF()
        .write.mode("overwrite").parquet(out)
      println(s"audio-condition: ${spark.read.parquet(out).count()} " +
        s"rows conditioned -> $out")
      spark.stop()

    case "crawl-audio-dedup" :: pairsParquet :: mediaParquet :: out :: rest =>
      // mirror-collapse for the enclosure channel: pairs whose fetched
      // clips fingerprint as near-dups re-key to one canonical url;
      // media parquet carries (media_url, body)
      val maxHamming = rest.headOption.map(_.toInt).getOrElse(3)
      val spark = session()
      graft.pipeline.Crawl.dedupePairsByAudio(
          spark.read.parquet(pairsParquet),
          spark.read.parquet(mediaParquet), maxHamming)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-audio-dedup: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "crawl-video-dedup" :: pairsParquet :: mediaParquet :: out :: rest =>
      // frame-set containment collapse: pairs whose fetched clips are
      // clipped/trimmed copies of one another re-key to one canonical
      // url; media parquet carries (media_url, body)
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.9)
      val spark = session()
      graft.pipeline.Crawl.dedupePairsByVideo(
          spark.read.parquet(pairsParquet),
          spark.read.parquet(mediaParquet), threshold)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-video-dedup: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "crawl-audio-quality" :: pairsParquet :: out :: rest =>
      // LAION-Audio screens over pairs joined to their decoded
      // audioStats columns: duration window (seconds), sample-rate
      // floor, silence cut, caption gates + feed-df guard
      val minDur = rest.headOption.map(_.toLong).getOrElse(1L)
      val maxDur = rest.drop(1).headOption.map(_.toLong).getOrElse(3600L)
      val minRate = rest.drop(2).headOption.map(_.toLong).getOrElse(8000L)
      val spark = session()
      graft.pipeline.Crawl.audioPairQualityFilter(
          spark.read.parquet(pairsParquet),
          minDurS = minDur, maxDurS = maxDur, minSampleRate = minRate)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-audio-quality: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "crawl-pair-quality" :: pairsParquet :: out :: rest =>
      // LAION-style pre-embedding screens over (url, img_url, alt,
      // width, height) pairs: dims, aspect, caption length,
      // boilerplate-caption df-guard
      val minW = rest.headOption.map(_.toInt).getOrElse(64)
      val minH = rest.drop(1).headOption.map(_.toInt).getOrElse(64)
      val maxA = rest.drop(2).headOption.map(_.toDouble).getOrElse(4.0)
      val spark = session()
      graft.pipeline.Crawl.pairQualityFilter(
          spark.read.parquet(pairsParquet),
          minWidth = minW, minHeight = minH, maxAspect = maxA)
        .write.mode("overwrite").parquet(out)
      println(s"crawl-pair-quality: ${spark.read.parquet(out).count()} " +
        s"pairs kept -> $out")
      spark.stop()

    case "wds-export" :: samplesParquet :: outDir :: rest =>
      // samples parquet (key + map<ext,binary> parts) -> WebDataset
      // tar shards, written from the executors; read back by
      // wds-extract / webdatasetSamples
      val sps = rest.headOption.map(_.toInt).getOrElse(1000)
      val gz = rest.drop(1).headOption.forall(_.toBoolean)
      val bps = rest.drop(2).headOption.map(_.toLong)
        .getOrElse(Long.MaxValue)
      val spark = session()
      graft.sources.WebDataset.writeWebdatasetShards(
        spark.read.parquet(samplesParquet), outDir,
        samplesPerShard = sps, gzip = gz, bytesPerShard = bps)
      val n = graft.sources.WebDataset.webdatasetSamples(
        spark.read.format("binaryFile").load(outDir),
        payloadCol = "content").count()
      println(s"wds-export: $n samples -> $outDir")
      spark.stop()

    case "wds-extract" :: pathGlob :: out :: Nil =>
      // WebDataset tar shards (via binaryFile) -> samples parquet
      val spark = session()
      val files = spark.read.format("binaryFile").load(pathGlob)
        .select(org.apache.spark.sql.functions.col("content").as("payload"))
      graft.sources.WebDataset.webdatasetSamples(files).toDF()
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"wds-extract: $n samples -> $out")
      spark.stop()

    case "warc-extract" :: filesParquet :: out :: rest =>
      // crawl ingestion: explode WARC file bytes into typed records
      // (map-side; parallelism = file count, the dump's native shape)
      val payloadCol = rest.headOption.getOrElse("payload")
      val spark = session()
      graft.sources.Warc.warcRecords(spark.read.parquet(filesParquet), payloadCol)
        .toDF().write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"warc-extract: $n records -> $out")
      spark.stop()

    case "ivf-drift" :: idx :: out :: rest =>
      // the float-IVF RE-TRAIN signal: per-(list, ingest) row counts +
      // mean cosine of every stored vector to its own centroid — a
      // falling mean on later ingests says the frozen centroids no
      // longer fit the distribution; re-fit with ivfBuild. Pass
      // "raw" as the table to read an IVF-SQ8 index's refine sidecar.
      val table = rest.headOption.getOrElse("assignments")
      val spark = session()
      graft.index.SimilarityIndex.ivfDriftStats(spark, idx,
          table = table)
        .orderBy("list_id", "ingest")
        .write.mode("overwrite").parquet(out)
      println(s"ivf-drift: ${spark.read.parquet(out).count()} " +
        s"(list, ingest) rows -> $out")
      spark.stop()

    case "index-stats" :: kind :: idx :: out :: Nil =>
      // maintenance dashboard: per-installment row counts (+ deletes
      // sidecar) for the flat families; per-(list, ingest) counts —
      // the list-balance / re-train signal — for the IVF families
      val spark = session()
      val df = kind match {
        case "ivf" | "ivfsq8" | "ivfpq" =>
          graft.store.Installments.ivfStats(spark, idx)
            .orderBy("list_id", "ingest")
        case other =>
          val tables = other match {
            case "minhash"     => Seq("sets", "sizes")
            case "bm25"        => Seq("postings", "stats", "terms")
            case "int8" | "pq" => Seq("codes")
            case "lm"          => Seq("uni", "bi", "tot")
            case "span"        => Seq("wins")
            case "hamming"     => Seq("hashes", "bands")
            case "video"       => Seq("frames", "sizes", "dfs")
            case o => sys.error(s"unknown index kind '$o' " +
              "(expected minhash | bm25 | int8 | pq | lm | span | " +
              "hamming | video | ivf | ivfsq8 | ivfpq)")
          }
          graft.store.Installments.stats(spark, idx, tables)
            .orderBy("table", "installment")
      }
      df.write.mode("overwrite").parquet(out)
      println(s"index-stats: ${spark.read.parquet(out).count()} " +
        s"partitions of $kind index $idx -> $out")
      spark.stop()

    case "index-delete" :: kind :: idx :: delParquet :: rest =>
      // takedown lifecycle: remove documents from a persisted index.
      // minhash | bm25 | int8 | ivfsq8 take an ID list (tombstone
      // sidecar); lm | span are content-addressed — they take the deleted
      // DOCS and write negative count deltas. Reads reflect the delete
      // immediately; the matching vacuum/compact folds it physically.
      val col1 = rest.headOption.getOrElse(kind match {
        case "int8" | "ivfsq8" | "ivf" | "pq" | "ivfpq" => "vec_id"
        case "lm" | "span"     => "text"
        case "hamming" | "video" => "id"
        case _                 => "doc_id"
      })
      val spark = session()
      val del = spark.read.parquet(delParquet)
      val n = del.count()
      kind match {
        case "minhash" => graft.dedup.Dedup.minhashIndexDelete(spark, idx, del, col1)
        case "bm25"    => graft.index.Bm25.bm25IndexDelete(spark, idx, del, col1)
        case "int8"    => graft.index.Quantize.int8Delete(spark, idx, del, col1)
        case "pq"      => graft.index.Pq.pqDelete(spark, idx, del, col1)
        case "ivfpq"   => graft.index.Pq.ivfPqDelete(spark, idx, del, col1)
        case "ivfsq8"  => graft.index.Quantize.ivfSq8Delete(spark, idx, del, col1)
        case "ivf"     => graft.index.SimilarityIndex.ivfDelete(spark, idx, del, col1)
        case "lm"      => graft.analysis.NgramLm.lmIndexDelete(spark, idx, del, col1)
        case "span"    => graft.pipeline.SpanDedup.spanIndexDelete(spark, idx, del, col1)
        case "hamming" => graft.dedup.Dedup.hammingIndexDelete(spark, idx, del, col1)
        case "video"   => graft.dedup.Dedup.videoIndexDelete(spark, idx, del, col1)
        case other => sys.error(s"unknown index kind '$other' " +
          "(expected minhash | bm25 | int8 | ivfsq8 | ivf | pq | ivfpq | lm | span | hamming | video)")
      }
      println(s"index-delete: $n rows deleted from $kind index $idx")
      spark.stop()

    case "index-vacuum" :: kind :: idx :: rest =>
      // int8/ivfsq8 tombstones match the index's id column — pass
      // it when the index was built with a non-default one
      val vecIdCol = rest.headOption.getOrElse("vec_id")
      val spark = session()
      val rows = kind match {
        case "minhash" => graft.dedup.Dedup.minhashIndexVacuum(spark, idx)
        case "bm25"    => graft.index.Bm25.bm25IndexVacuum(spark, idx)
        case "int8"    => graft.index.Quantize.int8Compact(spark, idx, vecIdCol)
        case "pq"      => graft.index.Pq.pqCompact(spark, idx, vecIdCol)
        case "ivfpq"   => graft.index.Pq.ivfPqCompact(spark, idx, vecIdCol)
        case "ivfsq8"  => graft.index.Quantize.ivfSq8Compact(spark, idx, vecIdCol)
        case "ivf"     => graft.index.SimilarityIndex.ivfCompact(spark, idx, vecIdCol)
        case "lm"      => graft.analysis.NgramLm.lmIndexCompact(spark, idx)
        case "span"    => graft.pipeline.SpanDedup.spanIndexCompact(spark, idx)
        case "hamming" => graft.dedup.Dedup.hammingIndexCompact(spark, idx)
        case "video"   => graft.dedup.Dedup.videoIndexCompact(spark, idx)
        case other => sys.error(s"unknown index kind '$other' " +
          "(expected minhash | bm25 | int8 | ivfsq8 | ivf | pq | ivfpq | lm | span | hamming | video)")
      }
      println(s"index-vacuum: $kind index folded to $rows surviving rows in $idx")
      spark.stop()

    case "ivfsq8-probe" :: idx :: vecs :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.95)
      val nprobe = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val spark = session()
      graft.index.Quantize.ivfSq8NearDupProbe(spark, idx,
          spark.read.parquet(vecs), threshold, nprobe)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"ivfsq8-probe: $n near-dup pairs at >= $threshold " +
        s"(nprobe=$nprobe) -> $out")
      spark.stop()

    case "ivfsq8-build" :: vecs :: idx :: rest =>
      val nlist = rest.headOption.map(_.toInt).getOrElse(64)
      val storeRaw = rest.drop(1).headOption.exists(_.toBoolean)
      val spark = session()
      graft.index.Quantize.ivfSq8Build(spark.read.parquet(vecs), idx,
        nlist, storeRaw = storeRaw)
      val n = spark.read.parquet(s"$idx/codes").count()
      println(s"ivfsq8-build: $n packed code rows in $nlist lists -> $idx")
      spark.stop()

    case "ivfsq8-prune" :: idx :: vecs :: out :: rest =>
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.95)
      val nprobe = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      val spark = session()
      val survivors = graft.index.Quantize.ivfSq8ProbePrune(spark, idx,
        spark.read.parquet(vecs), threshold, nprobe)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).count()
      println(s"ivfsq8-prune: $n survivors at >= $threshold (nprobe=$nprobe) -> $out")
      spark.stop()

    case "semantic-dedup" :: vecs :: out :: rest =>
      val idCol = rest.headOption.getOrElse("vec_id")
      val vecCol = rest.drop(1).headOption.getOrElse("embedding")
      val dims = rest.drop(2).headOption.map(_.toInt).getOrElse(64)
      val threshold = rest.drop(3).headOption.map(_.toDouble).getOrElse(0.95)
      val spark = session()
      val survivors = graft.dedup.Dedup.semanticDedup(
        spark.read.parquet(vecs), vecCol, idCol, dims, threshold)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).count()
      println(s"semantic-dedup: $n survivors -> $out")
      spark.stop()

    case "lm-build" :: docs :: idx :: rest =>
      val textCol = rest.headOption.getOrElse("text")
      val spark = session()
      graft.analysis.NgramLm.lmIndexBuild(spark.read.parquet(docs), idx, textCol)
      val n = spark.read.parquet(s"$idx/tot")
        .agg(org.apache.spark.sql.functions.sum("n_total")).head().getLong(0)
      println(s"lm-build: $n tokens counted -> $idx")
      spark.stop()

    case "lm-append" :: docs :: idx :: rest =>
      val textCol = rest.headOption.getOrElse("text")
      val spark = session()
      graft.analysis.NgramLm.lmIndexAppend(spark, idx,
        spark.read.parquet(docs), textCol)
      val n = spark.read.parquet(s"$idx/tot")
        .agg(org.apache.spark.sql.functions.sum("n_total")).head().getLong(0)
      println(s"lm-append: $n tokens total -> $idx")
      spark.stop()

    case "lm-compact" :: idx :: Nil =>
      val spark = session()
      val vocab = graft.analysis.NgramLm.lmIndexCompact(spark, idx)
      println(s"lm-compact: count deltas folded to one installment " +
        s"($vocab tokens) in $idx")
      spark.stop()

    case "lm-score" :: docs :: idx :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val minCount = rest.drop(2).headOption.map(_.toLong).getOrElse(1L)
      val spark = session()
      graft.analysis.NgramLm.lmScoreIndexed(spark, idx,
        spark.read.parquet(docs), textCol, idCol, minCount)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"lm-score: $n docs scored (minCount=$minCount) -> $out")
      spark.stop()

    case "dsir-select" :: docs :: target :: out :: rest =>
      val n = rest.headOption.map(_.toInt).getOrElse(1000)
      val idCol = rest.drop(1).headOption.getOrElse("doc_id")
      val textCol = rest.drop(2).headOption.getOrElse("text")
      val spark = session()
      graft.analysis.NgramLm.dsirSelect(spark.read.parquet(docs),
          spark.read.parquet(target), n, textCol, idCol)
        .write.mode("overwrite").parquet(out)
      val kept = spark.read.parquet(out).count()
      println(s"dsir-select: $kept most-target-like docs -> $out")
      spark.stop()

    case "span-dedup" :: docs :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val k = rest.drop(2).headOption.map(_.toInt).getOrElse(50)
      val spark = session()
      graft.pipeline.SpanDedup.removeRepeatedSpans(spark.read.parquet(docs),
          textCol, idCol, k)
        .write.mode("overwrite").parquet(out)
      val removed = spark.read.parquet(out)
        .agg(org.apache.spark.sql.functions.sum("n_removed")).head().getLong(0)
      println(s"span-dedup: $removed tokens removed (k=$k) -> $out")
      spark.stop()

    case "c4-clean" :: docs :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.CorpusClean.c4Clean(spark.read.parquet(docs), idCol, textCol)
        .write.mode("overwrite").parquet(out)
      val kept = spark.read.parquet(out)
        .filter(org.apache.spark.sql.functions.col("page_kept")).count()
      println(s"c4-clean: $kept pages kept -> $out")
      spark.stop()

    case "span-index-build" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val k = rest.drop(2).headOption.map(_.toInt).getOrElse(50)
      val spark = session()
      graft.pipeline.SpanDedup.spanIndexBuild(spark.read.parquet(docs),
        idx, textCol, idCol, k)
      println(s"span-index-build: " +
        s"${spark.read.parquet(s"$idx/wins").count()} windows (k=$k) -> $idx")
      spark.stop()

    case "span-index-append" :: docs :: idx :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.SpanDedup.spanIndexAppend(spark, idx,
        spark.read.parquet(docs), textCol, idCol)
      println(s"span-index-append: " +
        s"${spark.read.parquet(s"$idx/wins").count()} window rows total -> $idx")
      spark.stop()

    case "span-index-compact" :: idx :: Nil =>
      val spark = session()
      val n = graft.pipeline.SpanDedup.spanIndexCompact(spark, idx)
      println(s"span-index-compact: deltas folded to one installment " +
        s"($n windows) in $idx")
      spark.stop()

    case "span-index-probe" :: docs :: idx :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val spark = session()
      graft.pipeline.SpanDedup.spanIndexProbe(spark, idx,
          spark.read.parquet(docs), textCol, idCol)
        .write.mode("overwrite").parquet(out)
      val removed = spark.read.parquet(out)
        .agg(org.apache.spark.sql.functions.sum("n_removed")).head().getLong(0)
      println(s"span-index-probe: $removed tokens removed from batch -> $out")
      spark.stop()

    case "minhash-prune" :: docs :: out :: rest =>
      val idCol = rest.headOption.getOrElse("doc_id")
      val textCol = rest.drop(1).headOption.getOrElse("text")
      val threshold = rest.drop(2).headOption.map(_.toDouble).getOrElse(0.8)
      val spark = session()
      val survivors = graft.dedup.Dedup.minhashPrune(
        spark.read.parquet(docs), textCol, idCol, threshold = threshold)
      survivors.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(survivors)
      val n = spark.read.parquet(out).count()
      println(s"minhash-prune: $n survivors -> $out")
      spark.stop()

    case "dedup-cluster" :: pairs :: out :: rest =>
      val aCol = rest.headOption.getOrElse("id_a")
      val bCol = rest.drop(1).headOption.getOrElse("id_b")
      val spark = session()
      val clusters = graft.dedup.Dedup.duplicateClusters(
        spark.read.parquet(pairs), aCol, bCol)
      clusters.write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.release(clusters)
      val n = spark.read.parquet(out).count()
      println(s"dedup-cluster: $n clusters -> $out")
      spark.stop()

    case "token-budget-select" :: docs :: out :: budgets :: rest =>
      val stratumCol = rest.headOption.getOrElse("lang")
      val keyCol = rest.drop(1).headOption.getOrElse("doc_id")
      val tokensCol = rest.drop(2).headOption.getOrElse("n_tokens")
      val map = parseKvMap(budgets, "budget", _.toLong)
      val spark = session()
      graft.pipeline.Sampling.tokenBudgetSelect(
          spark.read.parquet(docs), stratumCol, keyCol, tokensCol, map)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"token-budget-select: $n rows within ${map.size} budgets -> $out")
      spark.stop()

    case "token-budget-cap" :: docs :: out :: budget :: rest =>
      val stratumCol = rest.headOption.getOrElse("host")
      val keyCol = rest.drop(1).headOption.getOrElse("doc_id")
      val tokensCol = rest.drop(2).headOption.getOrElse("n_tokens")
      val spark = session()
      graft.pipeline.Sampling.tokenBudgetCap(
          spark.read.parquet(docs), stratumCol, keyCol, tokensCol,
          budget.toLong)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"token-budget-cap: $n rows at <= $budget tokens/$stratumCol -> $out")
      spark.stop()

    case "cluster-sample" :: vecs :: seeds :: out :: quota :: Nil =>
      val spark = session()
      graft.index.SimilarityIndex.clusterBalancedSample(
          spark.read.parquet(vecs), spark.read.parquet(seeds), quota.toInt)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"cluster-sample: $n survivors at quota=$quota -> $out")
      spark.stop()

    case "curriculum-order" :: docs :: out :: rest =>
      val keyCol = rest.headOption.getOrElse("doc_id")
      val stageCol = rest.drop(1).headOption.getOrElse("stage")
      val spark = session()
      graft.pipeline.Sampling.curriculumOrder(
          spark.read.parquet(docs), keyCol, stageCol)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"curriculum-order: $n positioned rows -> $out")
      spark.stop()

    case "mix-plan" :: docs :: out :: shares :: budget :: rest =>
      val stratumCol = rest.headOption.getOrElse("lang")
      val tokensCol = rest.drop(1).headOption.getOrElse("n_tokens")
      val map = parseKvMap(shares, "share", _.toInt)
      val spark = session()
      graft.pipeline.Sampling.planEpochs(
          spark.read.parquet(docs), stratumCol, tokensCol, map,
          budget.toLong)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).orderBy(stratumCol).show(100, false)
      println(s"mix-plan: ${map.size} strata planned against $budget tokens -> $out")
      spark.stop()

    case "quality-select" :: docs :: out :: fracBp :: rest =>
      val stratumCol = rest.headOption.getOrElse("lang")
      val keyCol = rest.drop(1).headOption.getOrElse("doc_id")
      val scoreCol = rest.drop(2).headOption.getOrElse("score")
      val spark = session()
      graft.pipeline.Sampling.topFractionPerStratum(
          spark.read.parquet(docs), stratumCol, keyCol, scoreCol,
          fracBp.toInt)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"quality-select: $n rows (best $fracBp bp per $stratumCol) -> $out")
      spark.stop()

    case "epoch-repeat" :: docs :: out :: epochs :: rest =>
      val stratumCol = rest.headOption.getOrElse("lang")
      val keyCol = rest.drop(1).headOption.getOrElse("doc_id")
      val map = parseKvMap(epochs, "epoch", _.toDouble)
      val spark = session()
      graft.pipeline.Sampling.repeatByEpochs(
          spark.read.parquet(docs), stratumCol, keyCol, map)
        .write.mode("overwrite").parquet(out)
      val n = spark.read.parquet(out).count()
      println(s"epoch-repeat: $n (row, epoch) emissions -> $out")
      spark.stop()

    case _ =>
      System.err.println(
        """usage: graft.cli.Main <command> [args]
          |  lexicon          <docsParquet> <lexiconPath> [textCol] [dims]
          |  validatelexicon  <docsParquet> <lexiconPath> [textCol] [dims]
          |  truncate         <path>
          |  stringcompare    <str1> <str2>
          |  graph-build      <sentencesParquet> <indexPath> [idCol] [textCol] [sep]
          |  graph-search     <indexPath> <querySentence>
          |  scrub            <docsParquet> <outParquet> [idCol] [textCol]
          |  chunk            <docsParquet> <outParquet> <window> <stride> [idCol] [textCol]
          |  dedup-cluster    <pairsParquet> <outParquet> [aCol] [bCol]
          |  semantic-dedup   <vecsParquet> <outParquet> [idCol] [vecCol] [dims] [threshold]
          |  minhash-prune    <docsParquet> <outParquet> [idCol] [textCol] [threshold]
          |  profile          <tableParquet> <col,col,...> [approx]
          |  bm25-build       <docsParquet> <indexPath> [idCol] [textCol]
          |  bm25-append      <docsParquet> <indexPath> [idCol] [textCol]
          |  bm25-compact     <indexPath>
          |  bm25-search      <indexPath> <queryText> [k]
          |  index-build      <docsParquet> <indexPath> [idCol] [textCol]
          |  index-append     <docsParquet> <indexPath> [idCol] [textCol]
          |  index-probe      <docsParquet> <indexPath> [idCol] [textCol] [threshold]
          |  index-compact    <indexPath>
          |  classify         <docsParquet> <labeledParquet> <outParquet> [idCol] [textCol] [labelCol] [minCount]
          |  export-shards    <docsParquet> <outPath> <rowsPerShard> [keyCol] [signalCol,...]
          |  pagerank         <edgesParquet> <outParquet> [srcCol] [dstCol] [iters]
          |  host-stats       <docsParquet> <outParquet> [urlCol] [idCol] [signalCol,signalCol,...]
          |  host-cap         <docsParquet> <outParquet> <k> [urlCol] [idCol]
          |  langid           <docsParquet> <outParquet> [idCol] [textCol]
          |  int8-build       <vecsParquet> <indexPath>
          |  int8-append      <vecsParquet> <indexPath>
          |  int8-probe       <indexPath> <vecsParquet> <outParquet> [threshold]
          |  int8-prune       <indexPath> <vecsParquet> <outParquet> [threshold]
          |  ivfsq8-build     <vecsParquet> <indexPath> [nlist] [storeRaw]
          |  ivfsq8-probe     <indexPath> <vecsParquet> <outParquet> [threshold] [nprobe]
          |  ivfsq8-prune     <indexPath> <vecsParquet> <outParquet> [threshold] [nprobe]
          |  index-delete     <minhash|bm25|int8|ivfsq8|ivf|pq|ivfpq|lm|span|hamming|video> <indexPath> <idsOrDocsParquet> [idOrTextCol]
          |  index-stats      <minhash|bm25|int8|pq|lm|span|hamming|video|ivf|ivfsq8|ivfpq> <indexPath> <outParquet>
          |  ivf-drift        <indexPath> <outParquet> [assignments|raw]
          |  index-vacuum     <minhash|bm25|int8|ivfsq8|ivf|pq|ivfpq|lm|span|hamming|video> <indexPath> [vecIdCol]
          |  video-build      <framesParquet> <indexPath> [idCol] [hashCol]
          |  video-append     <framesParquet> <indexPath> [idCol] [hashCol]
          |  video-probe      <indexPath> <framesParquet> <outParquet> [threshold] [idCol] [hashCol]
          |  video-prune      <indexPath> <framesParquet> <outParquet> [threshold] [idCol] [hashCol]
          |  warc-scan        <pathOrGlob> [maxSplitBytes]
          |  warc-export      <docsParquet> <outDir> [recordsPerShard] [uriCol] [bodyCol]
          |  wet-export       <docsParquet> <outDir> [recordsPerShard] [uriCol] [textCol]
          |  crawl-ingest     <warcPathOrGlob> <minhashIndex> <corpusOutParquet> [threshold] [frontierOutParquet] [robotsParquet] [agentToken]
          |  robots-filter    <urlsParquet> <robotsParquet> <agentToken> <outParquet> [urlCol]
          |  crawl-bloom      <minhashIndex> <bloomOut> <expectedItems> [fpp]
          |  crawl-schedule   <frontierParquet> <outParquet> [maxRounds]
          |  crawl-fetched-bloom <frontierDir> <minhashIndex|-> <bloomOut> <expectedItems> [fpp] [fetched-only]
          |  crawl-compact-fetched <frontierDir>
          |  crawl-compact-next <frontierDir> [fetchedBloomPath]
          |  crawl-recrawl    <frontierDir> <beforeBatch> <outParquet>
          |  crawl-recrawl-churn <frontierDir> <outParquet>
          |  crawl-schedule-rank <frontierParquet> <pagesParquet> <outParquet> [maxRounds] [prIters]
          |  crawl-revalidators <warcPathOrGlob> <outParquet>
          |  crawl-redirect-chains <warcPathOrGlob> <outParquet> [maxHops]
          |  crawl-mirror-hosts <frontierDir> <outParquet> [minShared] [maxHostsPerHash]
          |  crawl-soft404    <frontierDir> <outParquet> [minUrls]
          |  crawl-robots-cache <frontierDir> <outParquet>
          |  crawl-host-health <warcPathOrGlob> <outParquet>
          |  crawl-forget     <frontierDir> <urlsParquet> [urlCol]
          |  crawl-host-edges <frontierDir> <outParquet>
          |  crawl-compact-edges <frontierDir>
          |  crawl-images     <frontierDir> <outParquet>
          |  crawl-image-fetchlist <frontierDir> <outParquet> [blockedDomainsParquet|-] [bloomPath]
          |  crawl-media-fetchlist <frontierDir> <outParquet> [blockedDomainsParquet|-] [bloomPath]
          |  crawl-compact-images <frontierDir>
          |  crawl-media      <frontierDir> <outParquet>
          |  crawl-compact-media <frontierDir>
          |  crawl-feed-seeds <feedsParquet> <crawledParquet|-> <outParquet>
          |  crawl-feed-enclosures <feedsParquet> <fetchedParquet|-> <outParquet>
          |  crawl-sitemap-seeds <sitemapsParquet> <crawledParquet|-> <outParquet> [lastmod]
          |  crawl-sitemap-children <sitemapsParquet> <fetchedParquet|-> <outParquet>
          |  crawl-robots-sitemaps <warcPathOrGlob> <fetchedParquet|-> <outParquet>
          |  frontier-blocklist <frontierParquet> <blocklistParquet> <outParquet> [urlCol]
          |  wds-extract      <pathOrGlob> <outParquet>
          |  wds-export       <samplesParquet> <outDir> [samplesPerShard] [gzip] [bytesPerShard]
          |  crawl-image-dedup <pairsParquet> <imagesParquet> <outParquet> [maxHamming]
          |  crawl-pair-quality <pairsParquet> <outParquet> [minW] [minH] [maxAspect]
          |  crawl-audio-dedup <pairsParquet> <mediaParquet> <outParquet> [maxHamming]
          |  crawl-video-dedup <pairsParquet> <mediaParquet> <outParquet> [threshold]
          |  audio-resample <mediaParquet> <outParquet> [rate]
          |  audio-condition <mediaParquet> <outParquet> [silenceThreshold] [targetPeak]
          |  video-meta <mediaParquet> <outParquet>
          |  crawl-video-quality <pairsParquet> <outParquet> [minW] [minH] [minFrames]
          |  crawl-audio-quality <pairsParquet> <outParquet> [minDurS] [maxDurS] [minRate]
          |  crawl-audio-pairs <feedsParquet> <outParquet>
          |  image-dims       <imagesParquet> <outParquet>
          |  warc-extract     <filesParquet> <outParquet> [payloadCol]
          |  hamming-build    <hashesParquet> <indexPath> [idCol] [hashCol]
          |  hamming-append   <hashesParquet> <indexPath> [idCol] [hashCol]
          |  hamming-probe    <indexPath> <hashesParquet> <outParquet> [maxHamming] [idCol] [hashCol]
          |  hamming-prune    <indexPath> <hashesParquet> <outParquet> [maxHamming] [idCol] [hashCol]
          |  segment-docs     <docsParquet> <outParquet> <maxTokens> [overlap] [idCol] [textCol]
          |  bpe-learn        <docsParquet> <outParquet> [numMerges] [maxBatch] [textCol]
          |  ivf-compact      <indexPath>
          |  ivfsq8-compact   <indexPath>
          |  int8-compact     <indexPath>
          |  pq-build         <vecsParquet> <indexPath> [m] [ksub] [rotate]
          |  pq-append        <vecsParquet> <indexPath>
          |  pq-search        <indexPath> <vecsParquet> <outParquet> [k] [corpusParquetForExactRefine] [candidateK]
          |  pq-delete        <indexPath> <idsParquet>
          |  pq-compact       <indexPath>
          |  ivfpq-build      <vecsParquet> <indexPath> [nlist] [m] [ksub] [storeRaw] [rotate|residual]
          |  ivfpq-append     <vecsParquet> <indexPath>
          |  ivfpq-search     <indexPath> <vecsParquet> <outParquet> [k] [nprobe] [candidateK>0=refined]
          |  ivfsq8-refine-search <indexPath> <vecsParquet> [k] [candidateK] [nprobe]
          |  int8-refine-search <indexPath> <vecsParquet> [k] [candidateK]
          |  hard-negatives   <indexPath> <vecsParquet> <outParquet> [k]
          |  lm-build         <docsParquet> <indexPath> [textCol]
          |  lm-append        <docsParquet> <indexPath> [textCol]
          |  lm-compact       <indexPath>
          |  lm-score         <docsParquet> <indexPath> <outParquet> [idCol] [textCol] [minCount]
          |  dsir-select      <docsParquet> <targetParquet> <outParquet> [n] [idCol] [textCol]
          |  c4-clean         <docsParquet> <outParquet> [idCol] [textCol]
          |  span-dedup       <docsParquet> <outParquet> [idCol] [textCol] [k]
          |  span-index-build <docsParquet> <indexPath> [idCol] [textCol] [k]
          |  span-index-append <docsParquet> <indexPath> [idCol] [textCol]
          |  span-index-compact <indexPath>
          |  span-index-probe <docsParquet> <indexPath> <outParquet> [idCol] [textCol]
          |  token-budget-select <docsParquet> <outParquet> <stratum=budget,...> [stratumCol] [keyCol] [tokensCol]
          |  token-budget-cap <docsParquet> <outParquet> <budget> [stratumCol] [keyCol] [tokensCol]
          |  cluster-sample   <vecsParquet> <seedsParquet> <outParquet> <quota>
          |  curriculum-order <docsParquet> <outParquet> [keyCol] [stageCol]
          |  epoch-repeat     <docsParquet> <outParquet> <stratum=epochs,...> [stratumCol] [keyCol]
          |  quality-select   <docsParquet> <outParquet> <fracBp> [stratumCol] [keyCol] [scoreCol]
          |  mix-plan         <docsParquet> <outParquet> <stratum=shareBp,...> <tokenBudget> [stratumCol] [tokensCol]""".stripMargin)
      sys.exit(2)
  }
}
