package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{In, InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a layer call made from the benchmark's own code. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** What one file scan of a finished query read. */
final case class ScanStat(root: String, files: Long, metadataS: Double,
                          rows: Long, listIds: Int)

/** What one write of a finished query wrote. */
final case class WriteStat(files: Long, bytes: Long)

/** Per-op Spark counters, filled by the listeners while an op is traced. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var shuffleBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val scans = ArrayBuffer.empty[ScanStat]
  val writes = ArrayBuffer.empty[WriteStat]
}

/** The traced-mode recorder: in-memory spans (name, start, end, parent,
  * op id) plus a SparkListener and a QueryExecutionListener, both
  * registered only when tracing is on. Untraced runs pay nothing but a
  * boolean test per span. Within a traced run, `active` toggles per op so
  * the same run also measures untraced ops for the overhead figure. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1
  @volatile var active = false
  @volatile private var cur: OpCounters = null
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (cur != null) jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val c = cur
        val t0 = jobStart.remove(e.jobId)
        if (c != null && t0 != null) c.synchronized {
          c.jobs += 1; c.jobSpans += ((t0.longValue, e.time))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val c = cur
        if (c != null) c.synchronized { c.stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = cur
        if (c != null && e.taskMetrics != null) c.synchronized {
          c.tasks += 1
          c.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val c = cur
        if (c == null) return
        val plan = qe.executedPlan
        val scans = collectWithSubqueries(plan) {
          case s: FileSourceScanExec =>
            def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
            val lists = s.partitionFilters.flatMap(_.collect {
              case In(a, vs) if a.references.exists(_.name == "list_id") =>
                vs.count(_.isInstanceOf[Literal])
              case InSet(a, hs) if a.references.exists(_.name == "list_id") =>
                hs.size
            }).sum
            ScanStat(s.relation.location.rootPaths.mkString(","),
              m("numFiles"), m("metadataTime") / 1e3, m("numOutputRows"), lists)
        }
        val writes = collectWithSubqueries(plan) {
          case w: DataWritingCommandExec =>
            def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
            WriteStat(m("numFiles"), m("numOutputBytes"))
        }
        c.synchronized { c.scans ++= scans; c.writes ++= writes }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Start op `id`; traced when tracing is on and `traced` holds. */
  def beginOp(id: Int, traced: Boolean): Unit = {
    op = id
    active = enabled && traced
    cur = if (active) new OpCounters else null
  }

  /** Close the current op: wait for the listener bus to deliver the op's
    * events, then hand back its counters (null for an untraced op). */
  def endOp(): OpCounters = {
    if (!active) return null
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val c = cur
    cur = null; active = false
    c
  }

  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, System.nanoTime(), -1L, parent, op)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * its direct children cover, summed per (op, name). */
  def selfSeconds: Map[(Int, String), Double] = {
    val child = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = child.getOrElse(s.id, Nil).map(_.seconds).sum
      (s.op, s.name) -> (s.seconds - kids)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Write all spans as JSON lines. */
  def dump(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** CPU seconds of the program's work threads: the driver thread plus every
  * Spark task thread (the task metrics' run and deserialize CPU). Process
  * wall time grows when other tenants take the machine's CPUs; this does
  * not, and it leaves out JIT and GC threads. On in every run. */
final class CpuMeter(spark: SparkSession) {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        taskNs.addAndGet(e.taskMetrics.executorCpuTime +
          e.taskMetrics.executorDeserializeCpuTime)
  })

  /** CPU seconds so far, once every finished task has been reported. */
  def now(): Double = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    (threads.getCurrentThreadCpuTime + taskNs.get) / 1e9
  }
}

object Tracer {
  /** Seconds of [t0, t1] (ms) not covered by any job interval. */
  def uncovered(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = t0
    for ((a, b) <- jobs.sortBy(_._1)) {
      val s = math.max(a, reach); val e = math.min(b, t1)
      if (e > s) { covered += e - s; reach = e }
    }
    math.max(0L, t1 - t0 - covered) / 1e3
  }
}
