package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as `run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: File, out: File,
                      tiny: Boolean, corrupt: String)

/** Everything a workload reports: op tallies, failed checks, end-to-end
  * metrics, per-layer samples and informational numbers. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run one op's checks; any failed check fails the op (once). */
  def op(what: String)(checks: => Seq[(Boolean, String)]): Unit = {
    attempted += 1
    val bad = try checks.filterNot(_._1).map(_._2)
      catch { case e: Throwable => Seq(s"check threw: $e") }
    if (bad.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += s"$what: ${bad.mkString("; ")}"
    }
  }

  /** An op that threw: attempted and failed. */
  def crashed(what: String, e: Throwable): Unit = {
    attempted += 1; failed += 1
    if (failures.length < 20) failures += s"$what: threw $e"
  }

  /** Record a traced op's Spark counters (op started at `t0ms` and took
    * `seconds`); `userBytes` is the user data the op wrote, if any. */
  def counters(c: OpCounters, t0ms: Long, seconds: Double, userBytes: Long): Unit = {
    sample("spark.jobs_per_op", c.jobs)
    sample("spark.stages_per_op", c.stages)
    sample("spark.tasks_per_op", c.tasks)
    sample("spark.shuffle_bytes_per_op", c.shuffleBytes)
    sample("spark.driver_gap_s_per_op",
      Tracer.uncovered(t0ms, t0ms + (seconds * 1000).toLong, c.jobSpans.toSeq))
    sample("store.files_written_per_op", c.writes.map(_.files).sum)
    if (userBytes > 0) {
      // a ratio metric: (numerator, denominator) sample pairs
      sample("store.bytes_written_per_user_byte", c.writes.map(_.bytes).sum)
      sample("store.bytes_written_per_user_byte", userBytes)
    }
  }

  /** Set-up time: the session start, the median of the repeated index
    * builds, and the warm-up ops. */
  def setup(sessionS: Double, reps: Seq[Double], warmupS: Double): Unit = {
    System.err.println(s"[perfbench] session $sessionS s, builds ${reps.mkString(" ")}, warm-up $warmupS s")
    e2e("setup_s") = (sessionS + Driver.median(reps) + warmupS, "s")
    info("session_s") = (sessionS, "s")
    info("build_s") = (Driver.median(reps), "s")
    info("warmup_s") = (warmupS, "s")
  }

  def sample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def samples(name: String): Seq[Double] =
    layer.get(name).map(_.toSeq).getOrElse(Nil)
}

object Driver {

  /** Per-layer metrics every traced run reports (0 where the workload does
    * not exercise the layer), with how their samples combine: `median`,
    * `mean`, or `ratio` of summed (numerator, denominator) pairs. */
  val perLayer: Seq[(String, String, String)] = Seq(
    ("spark.jobs_per_op", "count", "mean"),
    ("spark.stages_per_op", "count", "mean"),
    ("spark.tasks_per_op", "count", "mean"),
    ("spark.shuffle_bytes_per_op", "bytes", "mean"),
    ("spark.driver_gap_s_per_op", "s", "mean"),
    ("sources.warc_parse_s", "s", "median"),
    ("pipeline.extract_s", "s", "median"),
    ("pipeline.ingest_self_s", "s", "median"),
    ("pipeline.ledger_write_s", "s", "median"),
    ("dedup.probe_s", "s", "median"),
    ("dedup.pruned_per_planted", "ratio", "mean"),
    ("analysis.langid_s", "s", "median"),
    ("index.fit_s", "s", "median"),
    ("index.search_s", "s", "median"),
    ("index.append_s", "s", "median"),
    ("index.delete_s", "s", "median"),
    ("index.compact_s", "s", "median"),
    ("index.rows_scored_per_query", "rows", "ratio"),
    ("index.lists_probed_per_query", "lists", "ratio"),
    ("index.recall_at_10", "fraction", "mean"),
    ("store.files_read_per_search", "files", "median"),
    ("store.listing_s_per_search", "s", "median"),
    ("store.files_written_per_op", "files", "mean"),
    ("store.bytes_written_per_user_byte", "ratio", "ratio"),
    ("store.live_files", "files", "mean"),
    ("store.tombstone_rows", "rows", "mean"),
    ("driver.peak_rss_mb", "MB", "median"),
    ("trace.op_p50_s", "s", "median"),
    ("trace.overhead_pct", "%", "mean"))

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", new File(kv("work")),
      new File(kv("out")), kv.getOrElse("scale", "full") == "tiny",
      kv.getOrElse("corrupt", "none"))
    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, o.trace)
    val cpu = new CpuMeter(spark)
    val rep = new Report
    try {
      val w: Workload = o.workload match {
        case "crawl_ingest" => new CrawlIngest(spark, o, tracer, cpu, rep)
        case "index_churn" => new IndexChurn(spark, o, tracer, cpu, rep)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.run(sessionS)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.crashed(s"${o.workload} run", e)
    }
    rep.sample("driver.peak_rss_mb", peakRssMb())
    if (o.trace) tracer.dump(new File(o.work, "spans.jsonl"))
    write(o, rep)
    spark.stop()
    sys.exit(0)
  }

  private def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The driver JVM's resident high-water mark (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes of every regular file under `f`. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Count of parquet data files under `f`. */
  def parquetFiles(f: File): Int =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
    else Option(f.listFiles()).map(_.map(parquetFiles).sum).getOrElse(0)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** The result file `run.py` turns into the final stdout line. */
  private def write(o: Opts, rep: Report): Unit = {
    val metrics: Seq[(String, (Double, String))] =
      if (!o.trace) rep.e2e.toSeq
      else perLayer.map { case (name, unit, how) =>
        val xs = rep.samples(name)
        val v = how match {
          case "median" => median(xs)
          case "mean" => if (xs.isEmpty) 0.0 else xs.sum / xs.length
          case "ratio" =>
            // samples come in (numerator, denominator) pairs
            val (a, b) = xs.grouped(2).collect { case Seq(x, y) => (x, y) }
              .foldLeft((0.0, 0.0)) { case ((p, q), (x, y)) => (p + x, q + y) }
            if (b == 0) 0.0 else a / b
        }
        name -> (v, unit)
      }
    val json =
      s"""{"correct":${rep.failed == 0 && rep.attempted > 0},""" +
        s""""attempted":${rep.attempted},"failed":${rep.failed},""" +
        s""""metrics":${metricsJson(metrics)},""" +
        s""""info":${metricsJson(rep.info)},""" +
        s""""failures":[${rep.failures.map(f => "\"" + esc(f) + "\"").mkString(",")}]}"""
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** One workload: set up, run the closed loop for `seconds` of op time,
  * check every op, and fill the report. */
trait Workload {
  def run(sessionS: Double): Unit
}

/** The closed loop shared by every workload: one client, next op only after
  * the previous one returned, until the ops have used `seconds` (or a wall
  * cap keeps the run inside its time limit). */
object Loop {
  def run(seconds: Double, wallCapS: Double)(op: Int => Double): Int = {
    val start = System.nanoTime()
    var busy = 0.0
    var i = 0
    while (busy < seconds && (System.nanoTime() - start) / 1e9 < wallCapS) {
      val dt = op(i)
      System.err.println(f"[perfbench] loop op $i%d: $dt%.4f s")
      busy += dt
      i += 1
    }
    i
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
