package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.analysis.TextAnalyzer
import graft.index.SimilarityIndex
import graft.lexicon.Lexicon

/**
 * Command-line surface (SURVEY.md §2.7) — the reference's plugin commands
 * (Program.cs:9-63, PluginReader.cs:14-50) become spark-submit subcommands,
 * listed with their arguments in [[usage]].
 *
 * Flag parsing mirrors ArgumentParser.cs:5-24 (positional, no flags — the
 * reference's dict-of-flags collapses to positional args here since every
 * command has a fixed arity). Every other operator is a library function
 * in its own package, with its own spec and oracle query; the library
 * objects are the API, not this runner.
 */
object Main {

  /** The commands [[run]] dispatches, one line each. */
  val usage: String =
    """usage: graft.cli.Main <command> [args]
      |  lexicon          <docsParquet> <lexiconPath> [textCol] [dims]
      |  validatelexicon  <docsParquet> <lexiconPath> [textCol] [dims]
      |  truncate         <path>
      |  stringcompare    <str1> <str2>
      |  graph-build      <sentencesParquet> <indexPath> [idCol] [textCol] [sep]
      |  graph-search     <indexPath> <querySentence>""".stripMargin

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.GraftExtensions
      .builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
      .appName("graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Build the session only if the command asks for it, stop it after,
    * and exit with the command's code when it is not 0. */
  def main(args: Array[String]): Unit = {
    var built: Option[SparkSession] = None
    lazy val spark = { val s = session(); built = Some(s); s }
    val code = try run(args.toSeq, spark) finally built.foreach(_.stop())
    if (code != 0) sys.exit(code)
  }

  /** Run one command and print its report. Returns the exit code: 0 done,
    * 1 the lexicon failed validation, 2 a usage error (the usage goes to
    * stderr). `spark` is evaluated only by the commands that need a
    * session, and is left running. */
  def run(args: Seq[String], spark: => SparkSession): Int = args.toList match {
    case "lexicon" :: docs :: out :: rest if rest.length <= 2 =>
      val textCol = rest.headOption.getOrElse("text")
      val dims = rest.drop(1).headOption.map(_.toInt).getOrElse(TextAnalyzer.DefaultDims)
      val s = spark
      val t0 = System.nanoTime()
      Lexicon.buildAndWrite(s.read.parquet(docs), out, textCol, dims)
      val n = s.read.parquet(out).count()
      println(f"lexicon: $n%d entries -> $out (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      0

    case "validatelexicon" :: docs :: lex :: rest if rest.length <= 2 =>
      val textCol = rest.headOption.getOrElse("text")
      val dims = rest.drop(1).headOption.map(_.toInt).getOrElse(TextAnalyzer.DefaultDims)
      val s = spark
      import s.implicits._
      val lexDf = s.read.parquet(lex)
      // positive pass (≙ ValidateLexiconCommand.cs:26-27)
      val report = Lexicon.validate(s.read.parquet(docs), lexDf, textCol, dims)
      println(s"validatelexicon: $report")
      // negative pass (≙ ValidateLexiconCommand.cs:31-40): sample angles,
      // count the missing ones, synthesize out-of-lexicon labels, and
      // expect validation of that synthetic corpus to FAIL
      val missing = Lexicon.findMissingAngles(lexDf, count = 32)
      val synth = Lexicon.synthesizeLabels(math.max(8, missing.length))
      val negReport = Lexicon.validate(synth.toDF(textCol), lexDf, textCol, dims)
      println(s"validatelexicon (negative, ${synth.length} synthetic labels, " +
        s"${missing.length}/32 sampled angles missing): ok=${negReport.ok} (expected false)")
      if (!report.ok || negReport.ok) 1 else 0

    case "truncate" :: path :: Nil =>
      new graft.store.KeyValueColumn(spark, path).truncate()
      println(s"truncate: dropped $path")
      0

    case "stringcompare" :: a :: b :: Nil =>
      // ≙ StringCompareCommand.cs:9-19 — pure kernel, no session needed
      println(f"compare($a%s, $b%s) = ${TextAnalyzer.compare(a, b)}%.6f")
      println(f"angle_of_identity($a%s) = ${TextAnalyzer.compareToUnitVector(a)}%.6f")
      println(f"angle_of_identity($b%s) = ${TextAnalyzer.compareToUnitVector(b)}%.6f")
      0

    case "graph-build" :: sentences :: out :: rest if rest.length <= 3 =>
      val idCol = rest.headOption.getOrElse("id")
      val textCol = rest.drop(1).headOption.getOrElse("sentence")
      val sep = rest.drop(2).headOption.getOrElse(";")
      val s = spark
      val df = s.read.parquet(sentences)
        .select(col(idCol).as("id"), col(textCol).as("sentence"))
      val vocab = SimilarityIndex.buildVocabulary(df, "sentence", sep)
      vocab.write.mode("overwrite").parquet(s"$out/vocab")
      SimilarityIndex.bagOfWords(df, vocab, sep = sep)
        .write.mode("overwrite").parquet(s"$out/index")
      // the separator is part of the index contract — persist it for search
      s.createDataFrame(Seq(Tuple1(sep))).toDF("sep")
        .write.mode("overwrite").parquet(s"$out/meta")
      println(s"graph-build: ${s.read.parquet(s"$out/index").count()} sentences -> $out")
      0

    case "graph-search" :: index :: query :: Nil =>
      val s = spark
      import s.implicits._
      val vocab = s.read.parquet(s"$index/vocab")
      val idx = s.read.parquet(s"$index/index")
      // the one-row meta graph-build writes, read on the driver
      val sep = graft.store.readSmall(s, s"$index/meta", "sep STRING").head.getString(0)
      val q = SimilarityIndex.bagOfWords(
        Seq((0L, query)).toDF("id", "sentence"), vocab, sep = sep)
      SimilarityIndex.closestMatch(idx, q).show(false)
      0

    case _ =>
      Console.err.println(usage)
      2
  }
}
