package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block ran: the executed plans and file scans of every SQL
  * execution it finished (as query listeners see them), its Spark jobs
  * with the call site (stack) each started from, and its shuffle-map
  * stages. */
final case class Ran(plans: Seq[SparkPlan], scans: Seq[FileSourceScanExec], jobs: Int,
                     shuffleStages: Int, jobSites: Seq[String]) {
  def scansOf(dir: String): Seq[FileSourceScanExec] =
    scans.filter(_.relation.location.rootPaths.exists(_.toString.endsWith(dir)))
  /** There is a scan of `dir`, and every one carries a `list_id` partition
    * filter. */
  def prunesLists(dir: String): Boolean = scansOf(dir).nonEmpty &&
    scansOf(dir).forall(_.partitionFilters.exists(_.references.exists(_.name == "list_id")))
  /** Some executed plan ranks through a window. */
  def windows: Boolean = plans.exists(p => Ran.collect(p) { case w: WindowExec => w }.nonEmpty)
}

object Ran extends AdaptiveSparkPlanHelper {
  /** Run `body` and record what it [[Ran]]. */
  def apply[T](spark: SparkSession)(body: => T): (T, Ran) = {
    val sc = spark.sparkContext
    val group = s"ran-${System.nanoTime()}"
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobs = new AtomicInteger
    val sites = new ConcurrentLinkedQueue[String]
    val shuffleStages = new AtomicInteger
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val stages = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) {
          jobs.incrementAndGet()
          sites.add(e.stageInfos.headOption.fold("")(_.details))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties) && ListenerBus.isShuffleMapStage(e.stageInfo))
          shuffleStages.incrementAndGet()
    }
    ListenerBus.drain(sc)
    spark.listenerManager.register(queries)
    sc.addSparkListener(stages)
    sc.setJobGroup(group, group)
    try {
      val out = body
      ListenerBus.drain(sc)
      val ps = plans.asScala.toSeq
      (out, Ran(ps, ps.flatMap(p => collectWithSubqueries(p) { case s: FileSourceScanExec => s }),
        jobs.get, shuffleStages.get, sites.asScala.toSeq))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(stages)
      spark.listenerManager.unregister(queries)
    }
  }
}
