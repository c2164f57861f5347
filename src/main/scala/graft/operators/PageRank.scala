package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * PageRank over an edge table (Page et al. 1999), in INTEGER-EXACT fixed
 * point — the host-graph authority signal web-corpus curation keys on
 * (Common Crawl publishes host-level link ranks; quality-filter pipelines
 * use them as a per-host prior alongside the content signals): ranks are
 * BIGINTs in trillionths ([[Scale]]), every step an integer multiply or
 * truncating `div`, so a run is bit-identical on any engine and
 * deterministic under any partitioning — no float mass sums whose order
 * could drift (the NgramLm fixed-point precedent).
 *
 * Per round, with damping α = alphaNum/alphaDen (default 17/20 = 0.85):
 *
 *   share(u) = r(u) div outdeg(u)
 *   r'(v)    = (alphaDen−alphaNum)·Scale div (alphaDen·N)
 *              + alphaNum · Σ_{u→v} share(u) div alphaDen
 *
 * Dangling nodes (no out-edges) keep receiving the base term but their
 * mass is not redistributed — the standard web-graph simplification
 * (total mass decays slightly; relative ordering, which is what a filter
 * consumes, is unaffected). Self-loops are kept as regular edges.
 *
 * Scale shape: the edge set is materialized ONCE (dedup + checkpoint) and
 * then only ever read map-side — each round joins the node-sized
 * (rank div degree) table into the edge scan (BROADCAST: hosts ≪ pages)
 * and aggregates shares by destination with map-side partial combine.
 * Rounds checkpoint and eagerly release their
 * predecessor (the connectedComponents lineage discipline); call
 * [[graft.dedup.Dedup.release]] on the result when its blocks should be
 * freed.
 */
object PageRank {

  /** Fixed-point denominator: ranks are in trillionths, so a base term
    * Scale div N stays nonzero up to 10¹² nodes and every product in the
    * round fits a BIGINT with six orders of margin. */
  val Scale = 1000000000000L

  private val Reserved =
    Seq("_pr_src", "_pr_dst", "_pr_n", "_pr_d", "_pr_r", "_pr_s")

  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3,
               alphaNum: Long = 17L, alphaDen: Long = 20L): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"damping must satisfy 0 < alphaNum < alphaDen, got $alphaNum/$alphaDen")
    val clash = edges0.columns.toSet.intersect(Reserved.toSet)
    require(clash.isEmpty, s"input carries reserved column(s): $clash")

    // dedup + materialize the edge list once: the iteration scans it every
    // round, and re-running the distinct() shuffle per round would cost
    // iters corpus-wide exchanges (disk-backed blocks; released with the
    // superseded rounds' lifetime via the caller's release)
    val edges = edges0
      .select(col(srcCol).as("_pr_src"), col(dstCol).as("_pr_dst"))
      .filter(col("_pr_src").isNotNull && col("_pr_dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = edges.select(col("_pr_src").as("id"))
      .union(edges.select(col("_pr_dst").as("id")))
      .distinct()
      .localCheckpoint()
    val nTbl = nodes.agg(count(lit(1)).as("_pr_n"))
    // out-degrees are node-sized and feed every round — materialize once
    // rather than re-aggregating the edge scan per round
    val deg = edges.groupBy(col("_pr_src").as("id"))
      .agg(count(lit(1)).as("_pr_d"))
      .localCheckpoint()

    val baseExpr = expr(
      s"(cast(${alphaDen - alphaNum} as bigint) * cast($Scale as bigint))" +
        s" div (cast($alphaDen as bigint) * _pr_n)")

    var ranks = nodes.crossJoin(broadcast(nTbl))
      .select(col("id"), expr(s"cast($Scale as bigint) div _pr_n").as("_pr_r"))
      .localCheckpoint()
    var round = 0
    while (round < iters) {
      val shares = ranks.join(deg, Seq("id"))
        .select(col("id").as("_pr_src"), expr("_pr_r div _pr_d").as("_pr_s"))
      val sums = edges.join(broadcast(shares), Seq("_pr_src"))
        .groupBy(col("_pr_dst").as("id"))
        .agg(sum("_pr_s").as("_pr_s"))
      val next = nodes.crossJoin(broadcast(nTbl))
        .join(broadcast(sums), Seq("id"), "left")
        .select(col("id"),
          (baseExpr + expr(s"(cast($alphaNum as bigint) *" +
            s" coalesce(_pr_s, cast(0 as bigint)))" +
            s" div cast($alphaDen as bigint)")).as("_pr_r"))
        .localCheckpoint()
      graft.dedup.Dedup.release(ranks)
      ranks = next
      round += 1
    }
    // every round was materialized eagerly, so the edge/node/degree
    // checkpoints have no remaining consumer — free them now; the caller
    // owns the result's blocks (release when done, the CC contract)
    graft.dedup.Dedup.release(edges)
    graft.dedup.Dedup.release(nodes)
    graft.dedup.Dedup.release(deg)
    ranks.select(col("id"), col("_pr_r").as("rank_fp"))
  }
}
