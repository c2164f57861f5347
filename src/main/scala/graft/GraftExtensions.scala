package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.CosineSimilarity

/**
 * SparkSessionExtensions entry point: registers graft's native Catalyst
 * functions so plain SQL can call them. Activate with
 * `spark.sql.extensions=graft.GraftExtensions` or
 * `SparkSession.builder().withExtensions(new GraftExtensions)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "cosine_similarity(a, b) takes exactly two arguments")
        CosineSimilarity(children.head, children(1))
      }))
  }
}

object GraftExtensions {
  /** The session builder of every graft main: `master`, `cpus` shuffle
    * partitions, UTC session time, no UI, and these extensions. */
  def builder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
