package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * A SPLITTABLE DataSource V2 for WARC crawl archives:
 * `spark.read.format("warc").load(path)` yields one row per record with
 * the [[Warc.WarcRecord]] schema.
 *
 * The scale problem this solves: a Common Crawl segment is a ~1 GB
 * gzip file, and a naive reader (one file = one task) caps parallelism
 * at the file count and loses data locality for big files. The standard
 * WARC packaging — ONE GZIP MEMBER PER RECORD — exists precisely so
 * readers can enter a file at any byte offset: this source splits gzip
 * files into `spark.sql.files.maxPartitionBytes` ranges, and each task
 * scans its range for member boundaries (1f 8b 08 magic, then VALIDATED
 * by a full member inflate + CRC32/ISIZE trailer check, so compressed
 * bytes that happen to contain the magic cannot fake a record), parses
 * every member that STARTS in its range, and reads past its range end
 * to finish a straddling member — the classic splittable-format
 * ownership contract (each record consumed by exactly one task).
 * Member extents come from a manual gzip header walk + raw-deflate
 * Inflater (GZIPInputStream would silently concatenate members and lose
 * the boundary accounting).
 *
 * Plain (non-gzip) WARC files have no self-delimiting frame to seek —
 * anything inside a body can look like a record header — so they
 * deliberately read as ONE partition per file rather than risk
 * split-point corruption (the trade-off warcio et al. make too).
 *
 * Corrupt members/records cost themselves, never the task: a failed
 * validation just resumes the magic scan at the next byte.
 */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new WarcTable(properties.asScala.toMap)
}

object WarcDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("record_id", StringType),
    StructField("http_status", IntegerType, nullable = false),
    StructField("http_content_type", StringType),
    StructField("body", BinaryType),
    StructField("http_location", StringType),
    StructField("http_x_robots", StringType),
    StructField("http_retry_after", StringType),
    StructField("http_etag", StringType),
    StructField("http_last_modified", StringType)))

  /** Resolve the `path`/`paths` load options to concrete file statuses. */
  private[sources] def listFiles(props: Map[String, String])
      : Seq[(String, Long)] = {
    val raw: Seq[String] = props.get("paths") match {
      case Some(json) =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        m.readValue(json, classOf[Array[String]]).toSeq
      case None => props.get("path").toSeq
    }
    require(raw.nonEmpty, "warc source needs a load path")
    val conf = new org.apache.hadoop.conf.Configuration()
    raw.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile)
            .map(f => (f.getPath.toString, f.getLen))
        else Seq((st.getPath.toString, st.getLen))
      }
    }
  }

  /** First two bytes == gzip magic? */
  private[sources] def isGzip(path: String): Boolean = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val hp = new org.apache.hadoop.fs.Path(path)
    val in = hp.getFileSystem(conf).open(hp)
    try {
      val b = new Array[Byte](2)
      val n = in.read(b)
      n == 2 && (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B
    } finally in.close()
  }
}

private[sources] class WarcTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "warc"
  override def schema(): StructType = WarcDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // column pruning: a count(*) or metadata-only scan must not carry
      // record bodies through the row batches (bodies dominate a crawl
      // row's bytes ~1000:1) — the member walk still inflates each member
      // to find its extent, but pruned rows drop the payload immediately
      private var required: StructType = WarcDataSource.Schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new WarcScan(props, required)
    }
}

private[sources] case class WarcPartition(path: String, start: Long,
                                          end: Long, splittable: Boolean)
    extends InputPartition

private[sources] class WarcScan(props: Map[String, String],
                                required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = "warc"

  override def planInputPartitions(): Array[InputPartition] = {
    // floor 64 KiB (absurdly small splits help nobody); cap 512 MiB so a
    // range plus straddle read-ahead always fits a JVM byte array
    val maxSplit = math.min(1L << 29, math.max(1L * 1024 * 64,
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes))
    // len-first short-circuit: only files large enough to split pay the
    // driver-side magic sniff — a 64k-shard crawl listing must not open
    // 64k small files during planning
    WarcDataSource.listFiles(props).flatMap { case (path, len) =>
      if (len > maxSplit && WarcDataSource.isGzip(path))
        (0L until len by maxSplit).map(s =>
          WarcPartition(path, s, math.min(s + maxSplit, len), splittable = true))
      else Seq(WarcPartition(path, 0, len, splittable = false))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fields = required.fieldNames
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new WarcPartitionReader(p.asInstanceOf[WarcPartition], fields)
    }
  }
}

private[sources] class WarcPartitionReader(part: WarcPartition,
                                           fields: Array[String])
    extends PartitionReader[InternalRow] {

  import WarcPartitionReader.log

  // open stream for the lazy split walk; closed in close(), not eagerly —
  // the iterator pulls straddle bytes on demand as members are consumed
  private var stream: org.apache.hadoop.fs.FSDataInputStream = null

  private val records: Iterator[Warc.WarcRecord] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val hp = new org.apache.hadoop.fs.Path(part.path)
    val fs = hp.getFileSystem(conf)
    val fileLen = fs.getFileStatus(hp).getLen
    if (!part.splittable) {
      // whole-file reads (plain or small-gzip) must fit one array; a
      // >1.5 GiB unsplittable file costs its own records, not the task —
      // but a silent Iterator.empty reads as an empty file downstream, so
      // the drop must at least be observable in the executor log
      if (fileLen > (3L << 29)) {
        log.warn(s"warc: skipping unsplittable file over the 1.5 GiB " +
          s"whole-file cap (whole-file data loss): ${part.path} ($fileLen bytes)")
        Iterator.empty
      } else {
        val in = fs.open(hp)
        try {
          val all = new Array[Byte](fileLen.toInt)
          in.readFully(0, all)
          Warc.parseWarc(all).iterator
        } finally in.close()
      }
    } else {
      stream = fs.open(hp)
      readSplit(stream, fileLen)
    }
  }

  /** Parse every gzip member that STARTS in [part.start, part.end) —
    * LAZILY, one member at a time: per-task live memory is the raw range
    * buffer plus ONE decompressed member, never the whole split's
    * decompressed bodies (a 512 MiB range of 5:1 HTML would otherwise
    * hold ~2.5 GiB of bodies before the first row is emitted). */
  private def readSplit(in: org.apache.hadoop.fs.FSDataInputStream,
                        fileLen: Long): Iterator[Warc.WarcRecord] = {
    // the range itself, plus read-ahead past end for a straddling member
    val rangeLen = (part.end - part.start).toInt
    var buf = new Array[Byte](rangeLen)
    in.readFully(part.start, buf)
    var bufEnd = rangeLen // bytes of `buf` that are valid
    def ensure(upTo: Int): Boolean = { // grow buffer to `upTo` valid bytes
      if (upTo < 0) return false // int overflow upstream: treat as truncated
      if (upTo <= bufEnd) return true
      val avail = fileLen - part.start
      if (upTo > avail) return false
      // growth cap: range (≤512 MiB) + straddle can reach ~1.5 GiB; a
      // member still growing past that is pathological — skip it
      val need = math.min(3L << 29,
        math.min(avail, math.max(upTo.toLong, bufEnd.toLong * 2))).toInt
      if (need < upTo) return false
      if (need > buf.length) buf = java.util.Arrays.copyOf(buf, need)
      in.readFully(part.start + bufEnd, buf, bufEnd, need - bufEnd)
      bufEnd = need
      true
    }
    new Iterator[Warc.WarcRecord] {
      private var o = 0
      private var pending: Iterator[Warc.WarcRecord] = Iterator.empty
      private def advance(): Unit = {
        while (!pending.hasNext && o < rangeLen) {
          // a member may START at the last bytes of the range: read ahead
          // so the 3-byte magic check never misses a boundary at the seam
          if ((buf(o) & 0xFF) == 0x1F && ensure(o + 3) &&
            (buf(o + 1) & 0xFF) == 0x8B && (buf(o + 2) & 0xFF) == 0x08) {
            inflateMember(o, ensure, () => buf, () => bufEnd) match {
              case Some((payload, consumed)) =>
                pending = Warc.parseWarc(payload).iterator
                o += consumed // true member: resume after it
              case None => o += 1 // magic inside compressed data: false alarm
            }
          } else o += 1
        }
      }
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): Warc.WarcRecord = { advance(); pending.next() }
    }
  }

  /** Inflate ONE gzip member at `at`: manual header walk (FLG extras),
    * raw-deflate Inflater (so member extent is exact — GZIPInputStream
    * would run on into the next member), CRC32 + ISIZE trailer check.
    * Returns (inflated bytes, total member length) or None if this is
    * not really a member boundary. */
  private def inflateMember(at: Int, ensure: Int => Boolean,
                            bufF: () => Array[Byte],
                            bufEndF: () => Int): Option[(Array[Byte], Int)] = {
    try {
      if (!ensure(at + 10)) return None
      var buf = bufF()
      if ((buf(at + 2) & 0xFF) != 8) return None // CM must be DEFLATE
      val flg = buf(at + 3) & 0xFF
      if ((flg & 0xE0) != 0) return None // reserved FLG bits must be 0
      var p = at + 10
      if ((flg & 0x04) != 0) { // FEXTRA
        if (!ensure(p + 2)) return None
        buf = bufF()
        val xlen = (buf(p) & 0xFF) | ((buf(p + 1) & 0xFF) << 8)
        p += 2 + xlen
      }
      def skipZeroTerminated(): Boolean = {
        var ok = ensure(p + 1)
        buf = bufF()
        while (ok && buf(p) != 0) {
          p += 1
          ok = ensure(p + 1)
          buf = bufF()
        }
        if (ok) p += 1
        ok
      }
      if ((flg & 0x08) != 0 && !skipZeroTerminated()) return None // FNAME
      if ((flg & 0x10) != 0 && !skipZeroTerminated()) return None // FCOMMENT
      if ((flg & 0x02) != 0) { p += 2; if (!ensure(p)) return None } // FHCRC
      // raw DEFLATE from p; pull more bytes on demand
      val inflater = new java.util.zip.Inflater(true)
      val outBuf = new java.io.ByteArrayOutputStream(64 * 1024)
      val chunk = new Array[Byte](64 * 1024)
      var fed = p
      var done = false
      while (!done) {
        if (inflater.needsInput()) {
          if (!ensure(fed + 1)) { inflater.end(); return None } // truncated
          buf = bufF()
          val give = bufEndF() - fed
          inflater.setInput(buf, fed, give)
          fed += give
        }
        val n = inflater.inflate(chunk)
        if (n > 0) {
          // gzip-bomb guard: a member inflating past 1 GiB is treated as
          // corrupt (costs itself; the magic scan resumes) — no WARC
          // packaging puts a 1 GiB record in one member, and an unbounded
          // outBuf is an executor OOM an adversarial crawl can trigger.
          // Checked before the write, so outBuf never grows past the cap
          if (outBuf.size().toLong + n > WarcPartitionReader.MaxMemberInflated) {
            inflater.end()
            return None
          }
          outBuf.write(chunk, 0, n)
        }
        if (inflater.finished()) done = true
        else if (n == 0 && !inflater.needsInput()) { // stuck: corrupt
          inflater.end()
          return None
        }
      }
      val deflateEnd = fed - inflater.getRemaining
      inflater.end()
      if (!ensure(deflateEnd + 8)) return None
      buf = bufF()
      def le32(i: Int): Long =
        ((buf(i) & 0xFFL)) | ((buf(i + 1) & 0xFFL) << 8) |
          ((buf(i + 2) & 0xFFL) << 16) | ((buf(i + 3) & 0xFFL) << 24)
      val data = outBuf.toByteArray
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      if (le32(deflateEnd) != crc.getValue) return None       // CRC32
      if (le32(deflateEnd + 4) != (data.length & 0xFFFFFFFFL)) return None // ISIZE
      Some((data, deflateEnd + 8 - at))
    } catch {
      case _: java.util.zip.DataFormatException => None
    }
  }

  private var current: Warc.WarcRecord = _

  // pruned projection: ordinal of each required field in the full schema
  private val fieldIdx: Array[Int] =
    fields.map(WarcDataSource.Schema.fieldIndex)

  override def next(): Boolean =
    if (records.hasNext) { current = records.next(); true } else false

  override def get(): InternalRow = {
    val r = current
    def s(v: String): UTF8String =
      if (v == null) null else UTF8String.fromString(v)
    val vals = new Array[Any](fieldIdx.length)
    var i = 0
    while (i < vals.length) {
      vals(i) = fieldIdx(i) match {
        case 0 => s(r.warc_type)
        case 1 => s(r.target_uri)
        case 2 => s(r.warc_date)
        case 3 => s(r.record_id)
        case 4 => r.http_status
        case 5 => s(r.http_content_type)
        case 6 => r.body
        case 7 => s(r.http_location)
        case 8 => s(r.http_x_robots)
        case 9 => s(r.http_retry_after)
        case 10 => s(r.http_etag)
        case _ => s(r.http_last_modified)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = {
    if (stream != null) { stream.close(); stream = null }
  }
}

private[sources] object WarcPartitionReader {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WarcPartitionReader])
  // per-member decompressed cap — see the gzip-bomb guard in inflateMember
  val MaxMemberInflated: Int = 1 << 30
}
