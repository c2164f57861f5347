package graft.cli

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.analysis.TextAnalyzer
import graft.store.KeyValueColumn
import org.apache.spark.sql.SparkSession

/** The six commands, each run in-process through [[Main.run]] on the shared
  * session: exit codes, reports, and the on-disk contracts they leave.
  * Every test here is named `<command>: …` (or `usage: …`), which the last
  * test uses to check that each dispatched command has one. */
class CliSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = s"$sfDir/documents.parquet"

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_cli_$tag")
    d.toFile.deleteOnExit()
    d.resolve("out").toFile.getAbsolutePath
  }

  /** Run one command with `session` as its lazily-built session: its exit
    * code, stdout and stderr. Afterwards the shared session must still be
    * running with its settings untouched. */
  private def cli(args: String*)(session: => SparkSession = spark): (Int, String, String) = {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out)(Console.withErr(err)(Main.run(args, session)))
    assert(!spark.sparkContext.isStopped, s"${args.mkString(" ")} stopped the session")
    assert(SparkSession.getDefaultSession.contains(spark))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partitions)
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  /** A session the command must never build. */
  private def noSession: SparkSession = fail("the command built a session")

  /** The rows of a `show(false)` table, keyed by column name. */
  private def shown(out: String): Seq[Map[String, String]] = {
    val rows = out.linesIterator.filter(_.startsWith("|"))
      .map(_.split('|').drop(1).map(_.trim).toSeq).toSeq
    rows.tail.map(r => rows.head.zip(r).toMap)
  }

  private lazy val lexicon: (String, String) = {
    val path = tmp("lexicon")
    val (code, out, _) = cli("lexicon", docs, path)()
    assert(code === 0)
    (path, out)
  }

  test("lexicon: writes one entry per line it reports, from sf0.001's documents") {
    val (path, out) = lexicon
    val n = """lexicon: (\d+) entries -> (\S+) """.r.findFirstMatchIn(out)
      .getOrElse(fail(s"no report line in: $out"))
    assert(n.group(2) === path)
    assert(n.group(1).toLong > 0L)
    assert(spark.read.parquet(path).count() === n.group(1).toLong)
  }

  test("validatelexicon: 0 against its own lexicon, the negative pass failing") {
    val (code, out, _) = cli("validatelexicon", docs, lexicon._1)()
    assert(code === 0, out)
    assert(out.contains("validatelexicon: ValidationReport(true,"), out)
    assert(out.contains("ok=false (expected false)"), out)
  }

  test("validatelexicon: 1 when the lexicon lacks corpus tokens") {
    val more = tmp("more_docs")
    spark.read.parquet(docs).select("text")
      .union(Seq("quantum entanglement").toDF("text")).write.parquet(more)
    val (code, out, _) = cli("validatelexicon", more, lexicon._1)()
    assert(code === 1, out)
    assert(out.contains("validatelexicon: ValidationReport(false,"), out)
  }

  test("truncate: drops a KeyValueColumn; a second truncate still returns 0") {
    val path = tmp("kv")
    val column = new KeyValueColumn(spark, path)
    column.putOrAppend(Seq((1.0, "a"), (2.0, "b")).toDF("key", "value"))
    assert(column.read().isDefined)
    val (code, out, _) = cli("truncate", path)()
    assert(code === 0)
    assert(out.trim === s"truncate: dropped $path")
    assert(!Files.exists(Paths.get(path)))
    assert(cli("truncate", path)()._1 === 0)
  }

  test("stringcompare: prints the compare and identity angles, building no session") {
    val (code, out, err) = cli("stringcompare", "hello world", "hello there")(noSession)
    assert(code === 0)
    assert(err.isEmpty)
    assert(out.linesIterator.toSeq === Seq(
      f"compare(hello world, hello there) = ${TextAnalyzer.compare("hello world", "hello there")}%.6f",
      f"angle_of_identity(hello world) = ${TextAnalyzer.compareToUnitVector("hello world")}%.6f",
      f"angle_of_identity(hello there) = ${TextAnalyzer.compareToUnitVector("hello there")}%.6f"))
  }

  private val sentences = Seq(
    (1L, "alpha/beta/gamma"),
    (2L, "delta/epsilon/zeta"),
    (3L, "alpha/eta/theta/iota"),
    (4L, "kappa/lambda"))

  /** A graph index built with `/` as the separator and non-default id and
    * text columns. */
  private lazy val graph: (String, String) = {
    val input = tmp("sentences")
    sentences.toDF("sid", "txt").write.parquet(input)
    val path = tmp("graph")
    val (code, out, _) = cli("graph-build", input, path, "sid", "txt", "/")()
    assert(code === 0)
    (path, out)
  }

  test("graph-build: indexes every sentence and stores its separator in meta/") {
    val (path, out) = graph
    assert(out.trim === s"graph-build: ${sentences.size} sentences -> $path")
    assert(spark.read.parquet(s"$path/meta").as[String].collect().toSeq === Seq("/"))
    assert(spark.read.parquet(s"$path/vocab").count() === 11L)
  }

  test("graph-search: splits on the stored separator; a sentence is its own top match") {
    val (path, _) = graph
    sentences.foreach { case (id, s) =>
      val (code, out, _) = cli("graph-search", path, s)()
      assert(code === 0)
      val top = shown(out)
      assert(top.size === 1, out)
      assert(top.head("corpus_id") === id.toString, out)
      assert(top.head("corpus_sentence") === s, out)
      assert(math.abs(top.head("score").toDouble - 1.0) < 1e-9, out)
    }
  }

  test("usage: an unknown command or a wrong arity returns 2, usage on stderr") {
    val bad = Seq(Nil, Seq("bogus"), Seq("truncate"), Seq("truncate", "a", "b"),
      Seq("stringcompare", "a"), Seq("stringcompare", "a", "b", "c"),
      Seq("lexicon", "d"), Seq("lexicon", "d", "l", "text", "512", "x"),
      Seq("validatelexicon", "d", "l", "text", "512", "x"),
      Seq("graph-build", "s", "i", "id", "sentence", ";", "x"),
      Seq("graph-search", "i"), Seq("graph-search", "i", "q", "x"))
    bad.foreach { args =>
      val (code, out, err) = cli(args: _*)(noSession)
      assert(code === 2, args)
      assert(out.isEmpty, args)
      assert(err === Main.usage + System.lineSeparator(), args)
    }
  }

  test("usage: names exactly the commands run dispatches, each tested here") {
    val listed = Main.usage.linesIterator.drop(1).map(_.trim.split("\\s+").head).toSeq
    val source = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/cli/Main.scala")), "UTF-8")
    val dispatched = """case "([^"]+)" ::""".r.findAllMatchIn(source).map(_.group(1)).toSeq
    assert(listed === dispatched)
    assert(listed.toSet === Set("lexicon", "validatelexicon", "truncate", "stringcompare",
      "graph-build", "graph-search"))
    listed.foreach(c => assert(testNames.exists(_.startsWith(s"$c:")), s"no test for $c"))
  }
}
