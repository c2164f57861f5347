package graft

/** Plan auditor: prints `explain("formatted")` for the named SparkEntry
  * queries (or a default set of scale-critical ones) so scan pushdown,
  * broadcast choices, and codegen spans can be reviewed.
  *
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  private val DefaultAudit = Seq(
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_revenue_by_nation",
    "kv_point_lookup", "doc_exact_dedup", "doc_minhash_dups",
    "emb_top1_brute", "q_window_top_orders")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultAudit
    val spark = GraftExtensions.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          fn(spark, sfDir).explain("formatted")
          // match Bench/Verify cache hygiene: helpers persist at plan
          // construction; leftover entries would print InMemoryRelation
          // scans in later plans that production runs won't have
          spark.catalog.clearCache()
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
