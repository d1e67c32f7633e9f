package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over EDGE LISTS — the only graph
  * representation that scales: every step is a join/agg on the slim
  * `(src, dst)` relation, no adjacency materialization, no driver-side
  * graph object. Companion to [[Dedup.connectedComponents]]'s
  * star-contraction: that one answers "which docs are transitively
  * duplicates", this one answers "which nodes matter" (link-authority
  * weighting for crawl frontiers and corpus quality priors — the
  * CommonCrawl/C4 lineage uses exactly this signal upstream of every
  * text pipeline).
  */
object Graph {

  /** Classic damped PageRank by power iteration.
    *
    * Scale shape per iteration: one broadcast-free equi-join of ranks to
    * edges on `src` (both sides hash-partitioned on `src` — the edge
    * relation is repartitioned ONCE and the partitioning is reused every
    * round), one `groupBy(dst)` sum with map-side partial aggregation,
    * and the dangling-node mass (nodes with no out-edges donate their
    * rank uniformly, the standard stochastic-matrix fix; without it
    * rank mass drains and the vector no longer sums to 1) computed IN
    * the plan: a one-row aggregate broadcast-joined on a constant key,
    * so a round costs exactly one action and no driver scalar. Lineage
    * is cut with `localCheckpoint` every `checkpointEvery` rounds, the
    * [[Dedup.connectedComponents]] discipline — an unbounded iteration
    * would otherwise compound the plan and recompute every prior round
    * at each action. The default is EVERY round. A round references
    * the previous ranks twice (the dangling aggregate and the
    * contributions), so each uncheckpointed round DOUBLES the plan:
    * `checkpointEvery = k > 1` plans and recomputes up to 2^k copies
    * of the window's first round — keep k small.
    *
    * `edges` rows are taken as given (pre-`distinct` them for the
    * unweighted classic; repeated edges act as weights). Nodes are
    * everything appearing on either side. Returns `(node, rank)` with
    * `sum(rank) == 1` up to float error.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 1, tol: Double = 0.0): DataFrame =
    pageRankImpl(edges, iters, damping, checkpointEvery, None, tol)._1

  /** [[pageRank]] with a CONVERGENCE STOP, returning `(ranks, rounds)`:
    * iteration ends early once the L1 rank delta `sum(|r_i - r_{i-1}|)`
    * drops below `tol` (after at most `maxIters` rounds). The delta
    * rides the per-round `localCheckpoint` the iteration already pays —
    * the prev rank joins in on the node key (same partitioning, no extra
    * shuffle) and the scalar reads the checkpointed partitions — so a
    * converged graph stops paying per-round joins the moment the vector
    * is stable instead of grinding out the full fixed budget. The
    * returned ranks are BIT-IDENTICAL to `pageRank(edges, rounds, ...)`:
    * the stop changes how many rounds run, never what a round computes.
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int,
      damping: Double = 0.85, tol: Double = 1e-6): (DataFrame, Int) =
    pageRankImpl(edges, maxIters, damping, 1, None, tol)

  /** PERSONALIZED PageRank: teleportation lands uniformly on `seeds`
    * (a one-column node frame) instead of on every node — rank mass
    * concentrates in the seeds' neighborhoods, the related-entity /
    * crawl-frontier expansion primitive. Dangling mass follows the same
    * teleport distribution (the personalized stochastic fix), so the
    * vector still sums to 1. Non-seed, in-flow-free nodes get exactly
    * zero. Same per-round scale shape as [[pageRank]] plus one
    * broadcast-joined teleport column.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 1, tol: Double = 0.0): DataFrame =
    pageRankImpl(edges, iters, damping, checkpointEvery, Some(seeds),
      tol)._1

  private def pageRankImpl(edges: DataFrame, iters: Int, damping: Double,
      checkpointEvery: Int, seeds: Option[DataFrame],
      tol: Double = 0.0): (DataFrame, Int) = {
    require(tol >= 0, s"[graft] pageRank tol must be >= 0, got $tol")
    require(iters >= 0 && iters <= 200,
      s"[graft] pageRank iters must be in [0, 200], got $iters")
    require(damping > 0 && damping < 1,
      s"[graft] pageRank damping must be in (0, 1), got $damping")
    // LAZY checkpoints (r22): the node-count action below materializes
    // the edge list and node set; the out-degree table materializes
    // inside round 1's single action — setup costs ONE driver-paced
    // action (plus the seed count when personalized), not five
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(false)
    val n = nodes.count()
    if (n == 0) return (nodes.withColumn("rank", lit(0.0)), 0)
    // out-degree shares edges' src partitioning: the per-round join to
    // ranks never reshuffles the edge side
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    // teleport support: seed flag joined per round (node-keyed, same
    // partitioning as ranks), seed count a driver scalar
    val tele: Option[(DataFrame, Long)] = seeds.map { s =>
      val sd = s.select(col(s.columns.head).cast("long").as("node"))
        .distinct()
        .join(nodes, Seq("node"), "left_semi")
        .withColumn("__seed", lit(1))
        .localCheckpoint(false)
      val ns = sd.count()
      require(ns > 0,
        "[graft] personalizedPageRank: no seed appears in the graph")
      (sd, ns)
    }
    var ranks = (tele match {
      case None => nodes.select(col("node"), lit(1.0 / n).as("rank"))
      case Some((sd, ns)) =>
        nodes.join(sd, Seq("node"), "left")
          .select(col("node"),
            when(col("__seed").isNotNull, lit(1.0 / ns))
              .otherwise(lit(0.0)).as("rank"))
    }).localCheckpoint(false)
    var rounds = 0
    var converged = false
    var i = 1
    while (i <= iters && !converged) {
      // dangling mass IN-PLAN (r22): the old shape ran one driver
      // scalar action per round just to embed the mass as a literal —
      // the 1-row aggregate now broadcast-joins on a constant key (a
      // BroadcastHashJoin, built inside the round's single action), so
      // a round costs exactly ONE action. The arithmetic applies the
      // same operations in the same order to the same double, so ranks
      // are bit-identical to the literal form.
      val danglingDf = broadcast(ranks
        .join(outDeg, ranks("node") === outDeg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dangling"))
        .withColumn("__k", lit(1)))
      val contribs = e
        .join(outDeg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("inflow"))
      val next = tele match {
        case None =>
          nodes.withColumn("__k", lit(1))
            .join(contribs, Seq("node"), "left")
            .join(danglingDf, Seq("__k"))
            .select(col("node"),
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("inflow"), lit(0.0)) +
                  col("__dangling") / lit(n.toDouble))).as("rank"))
        case Some((sd, ns)) =>
          // teleported restart AND dangling mass both land on the seed
          // distribution — the personalized stochastic fix; a non-seed
          // node with no in-flow stays exactly zero
          val base = (lit(1.0 - damping) +
            lit(damping) * col("__dangling")) / lit(ns.toDouble)
          nodes.withColumn("__k", lit(1))
            .join(contribs, Seq("node"), "left")
            .join(sd, Seq("node"), "left")
            .join(danglingDf, Seq("__k"))
            .select(col("node"),
              (when(col("__seed").isNotNull, base)
                .otherwise(lit(0.0)) +
                lit(damping) * coalesce(col("inflow"), lit(0.0)))
                .as("rank"))
      }
      rounds = i
      val prev = ranks
      ranks = if (i % checkpointEvery == 0 || i == iters || tol > 0)
        next.localCheckpoint() else next
      if (tol > 0) {
        // convergence check: one scalar agg joining the new and previous
        // CHECKPOINTED vectors on the node key (both node-partitioned —
        // no extra shuffle, no recompute); the ranks frame itself is the
        // same localCheckpoint the fixed-iteration path produces, so
        // stopping at round R is bit-identical to running iters = R
        val l1 = ranks
          .join(prev.withColumnRenamed("rank", "__prev"), Seq("node"))
          .agg(coalesce(sum(abs(col("rank") - col("__prev"))),
            lit(0.0)))
          .head.getDouble(0)
        if (l1 < tol) {
          println(s"METRIC graft.pagerank.converged_rounds=$rounds " +
            f"l1_delta=$l1%.3e tol=$tol%.3e")
          converged = true
        }
      }
      i += 1
    }
    (ranks, rounds)
  }
}
