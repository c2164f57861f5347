package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class WarcSourceSpec extends SparkTestBase {
  import spark.implicits._

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def plainText(uri: String, status: Int, body: Array[Byte]) =
    Warc.ResponseFixture(uri, status,
      contentType = "text/plain; charset=utf-8", body = body)

  /** 60 records with incompressible ~3 KB bodies → a gzip file large
    * enough to split at the source's 64 KiB floor. */
  private def bigWarc(): (Array[Byte], Seq[(String, Array[Byte])]) = {
    val recs = (0 until 60).map { i =>
      val body = new Array[Byte](3000)
      new scala.util.Random(i).nextBytes(body)
      (s"https://big.test/$i", body)
    }
    (Warc.encodeWarcFixtures(recs.map { case (u, b) => plainText(u, 200, b) },
      gzipPerRecord = true), recs)
  }

  private def withMaxSplit[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prior)
  }

  test("splittable gzip read: every record exactly once across range seams") {
    val (warc, recs) = bigWarc()
    val dir = java.nio.file.Files.createTempDirectory("warc-src")
    val f = dir.resolve("big.warc.gz")
    java.nio.file.Files.write(f, warc)
    withMaxSplit(65536) {
      val df = spark.read.format("warc").load(f.toString)
      assert(df.rdd.getNumPartitions > 1,
        s"a ${warc.length}-byte file must split at 64 KiB")
      val got = df.filter($"warc_type" === "response")
        .select($"target_uri", md5($"body").as("m"))
        .as[(String, String)].collect().toSet
      val expected = recs.map { case (u, b) =>
        (u, java.security.MessageDigest.getInstance("MD5").digest(b)
          .map(x => f"$x%02x").mkString)
      }.toSet
      assert(got === expected,
        "split ownership must deliver every record exactly once")
      assert(df.count() === 61) // + warcinfo
      // the same bytes through the whole-file parser agree
      assert(Warc.parseWarc(warc).count(_.warc_type == "response") === 60)
    }
  }

  test("plain files read as one partition; garbage between members skips") {
    val dir = java.nio.file.Files.createTempDirectory("warc-src2")
    // plain (uncompressed): no safe split frame -> single partition
    val plain = Warc.encodeWarcFixtures(Seq(
      plainText("https://p/1", 200, "one".getBytes(utf8)),
      plainText("https://p/2", 404, "two".getBytes(utf8))))
    val fp = dir.resolve("plain.warc")
    java.nio.file.Files.write(fp, plain)
    withMaxSplit(65536) {
      val df = spark.read.format("warc").load(fp.toString)
      assert(df.rdd.getNumPartitions === 1)
      assert(df.filter($"warc_type" === "response").count() === 2)
      assert(df.filter($"http_status" === 404).count() === 1)
    }
    // gzip members with fake magic + junk wedged between them: the
    // member validation (inflate + CRC + ISIZE) rejects the imposter and
    // the scan resumes — both real records survive, nothing throws.
    // Bodies are big + incompressible so the file EXCEEDS the 64 KiB
    // split floor and takes the member-scanner path (the whole-file path
    // would be GZIPInputStream, which junk between members aborts).
    def noise(seed: Int): Array[Byte] = {
      val b = new Array[Byte](40000)
      new scala.util.Random(seed).nextBytes(b)
      b
    }
    val m1 = Warc.encodeWarcFixtures(
      Seq(plainText("https://g/1", 200, noise(1))), gzipPerRecord = true)
    val m2 = Warc.encodeWarcFixtures(
      Seq(plainText("https://g/2", 200, noise(2))), gzipPerRecord = true)
    val junk = Array[Byte](0x1F.toByte, 0x8B.toByte, 0x08, 0x00, 0x42, 0x42)
    val fz = dir.resolve("tricky.warc.gz")
    java.nio.file.Files.write(fz, m1 ++ junk ++ m2)
    withMaxSplit(65536) {
      val df = spark.read.format("warc").load(fz.toString)
      assert(df.rdd.getNumPartitions > 1, "the tricky file must split")
      val rows = df.filter($"warc_type" === "response")
        .select($"target_uri").as[String].collect().toSet
      assert(rows === Set("https://g/1", "https://g/2"))
    }
  }

  test("writeShards exports from executors and round-trips through the source") {
    val dir = java.nio.file.Files.createTempDirectory("warc-export").toString
    val docs = (0 until 95).map(i =>
      (s"https://e/$i", s"body number $i".getBytes(utf8)))
    Warc.writeShards(docs.toDF("url", "body").repartition(4), dir,
      recordsPerShard = 10)
    val back = spark.read.format("warc").load(dir)
      .filter($"warc_type" === "response")
      .select($"target_uri", $"body").as[(String, Array[Byte])].collect()
    assert(back.length === 95)
    assert(back.map { case (u, b) => (u, new String(b, utf8)) }.toSet ===
      docs.map { case (u, b) => (u, new String(b, utf8)) }.toSet,
      "every (url, body) must survive the export round-trip")
    // shards rolled at recordsPerShard across the 4 writing partitions
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(shards.length >= 10 && shards.forall(_.length > 0),
      s"expected rolled shards, got ${shards.length}")
  }

  test("directory and glob loads list files; schema is the record schema") {
    val dir = java.nio.file.Files.createTempDirectory("warc-src3")
    Seq("x", "y").zipWithIndex.foreach { case (s, i) =>
      java.nio.file.Files.write(dir.resolve(s"f$i.warc"),
        Warc.encodeWarcFixtures(
          Seq(plainText(s"https://d/$s", 200, s.getBytes(utf8)))))
    }
    val df = spark.read.format("warc").load(dir.toString)
    assert(df.schema.fieldNames.toSeq === Seq("warc_type", "target_uri",
      "warc_date", "record_id", "http_status", "http_content_type", "body",
      "http_location", "http_x_robots", "http_retry_after", "http_etag",
      "http_last_modified"))
    assert(df.filter($"warc_type" === "response").count() === 2)
    val glob = spark.read.format("warc").load(s"$dir/f*.warc")
    assert(glob.count() === 4)
  }

  test("column pruning reaches the scan; count(*) carries no body column") {
    val (warc, recs) = bigWarc()
    val dir = java.nio.file.Files.createTempDirectory("warc-src4")
    val f = dir.resolve("big.warc.gz")
    java.nio.file.Files.write(f, warc)
    withMaxSplit(65536) {
      val df = spark.read.format("warc").load(f.toString)
      val pruned = df.select($"target_uri").filter($"target_uri".isNotNull)
      // the BatchScan itself must output only the required column — body
      // bytes never enter the row batches for a metadata-only query
      val scan = pruned.queryExecution.executedPlan.collectLeaves().head
      assert(scan.output.map(_.name) === Seq("target_uri"),
        s"scan must be pruned to target_uri, got ${scan.output.map(_.name)}")
      assert(pruned.as[String].collect().toSet === recs.map(_._1).toSet,
        "pruned values intact (warcinfo's null uri filtered)")
      assert(df.count() === 61, "zero-column count(*) still exact")
      val countScan = df.groupBy().count()
        .queryExecution.executedPlan.collectLeaves().head
      assert(countScan.output.isEmpty || countScan.output.map(_.name)
        .forall(_ != "body"), "count(*) scan must not carry body")
    }
  }

  test("split reader is lazy: consumed bodies are collectable mid-scan") {
    // 40 members x 512 KiB incompressible bodies = ~20 MB decompressed in
    // one 64 KiB-split file; the old reader materialized every record's
    // body before emitting row 1 — the lazy reader must let body i be
    // GC'd while body i+k is still being produced
    val recs = (0 until 40).map { i =>
      val body = new Array[Byte](512 * 1024)
      new scala.util.Random(1000 + i).nextBytes(body)
      plainText(s"https://lazy.test/$i", 200, body)
    }
    val warc = Warc.encodeWarcFixtures(recs, gzipPerRecord = true)
    val dir = java.nio.file.Files.createTempDirectory("warc-src5")
    val f = dir.resolve("lazy.warc.gz")
    java.nio.file.Files.write(f, warc)
    val reader = new WarcPartitionReader(
      WarcPartition(f.toString, 0, warc.length, splittable = true),
      WarcDataSource.Schema.fieldNames)
    try {
      var early: java.lang.ref.WeakReference[Array[Byte]] = null
      var n = 0
      var collected = false
      while (reader.next()) {
        val row = reader.get()
        val body = row.getBinary(6)
        if (n == 1 && body != null) // first response record's body
          early = new java.lang.ref.WeakReference(body)
        if (n >= 10 && early != null && !collected) {
          var tries = 0
          while (early.get() != null && tries < 5) {
            System.gc(); Thread.sleep(20); tries += 1
          }
          collected = early.get() == null
        }
        n += 1
      }
      assert(n === 41, s"all records still delivered, got $n")
      assert(collected,
        "an early record's body must be GC-collectable while later " +
          "members are still being decoded (lazy per-member iteration)")
    } finally reader.close()
  }

  test("a gzip-bomb member costs itself; neighbors still decode") {
    // member 2 inflates to >1 GiB of zeros (compressed ~1 MB): the
    // per-member cap must skip it as corrupt and resume the magic scan,
    // delivering the surrounding legitimate records
    val out = new java.io.ByteArrayOutputStream()
    out.write(Warc.encodeWarcFixtures(
      Seq(plainText("https://ok.test/a", 200, "alpha".getBytes(utf8))),
      gzipPerRecord = true))
    val gz = new java.util.zip.GZIPOutputStream(out, 65536)
    val zeros = new Array[Byte](1 << 20)
    var written = 0L
    while (written <= (1L << 30)) { gz.write(zeros); written += zeros.length }
    gz.finish()
    out.write(Warc.encodeWarcFixtures(
      Seq(plainText("https://ok.test/b", 200, "beta".getBytes(utf8))),
      gzipPerRecord = true))
    val bytes = out.toByteArray
    val dir = java.nio.file.Files.createTempDirectory("warc-src6")
    val f = dir.resolve("bomb.warc.gz")
    java.nio.file.Files.write(f, bytes)
    val reader = new WarcPartitionReader(
      WarcPartition(f.toString, 0, bytes.length, splittable = true),
      Array("target_uri", "warc_type"))
    try {
      val uris = scala.collection.mutable.Buffer[String]()
      while (reader.next()) {
        val row = reader.get()
        if (row.getUTF8String(1).toString == "response")
          uris += row.getUTF8String(0).toString
      }
      assert(uris.toSet === Set("https://ok.test/a", "https://ok.test/b"),
        s"bomb member must cost itself only, got $uris")
    } finally reader.close()
  }
}
