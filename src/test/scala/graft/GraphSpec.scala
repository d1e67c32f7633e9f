package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** PageRank must match an in-memory reference power iteration (same
  * formula, same dangling redistribution) on hand graphs and on a
  * random graph, conserve probability mass, and respect known
  * symmetries.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Reference implementation: dense driver-side power iteration. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val inflow = edges.groupBy(_._2).map { case (t, es) =>
        t -> es.map { case (s, _) => rank(s) / out(s) }.sum
      }
      rank = nodes.map(v => v -> ((1.0 - d) / n +
        d * (inflow.getOrElse(v, 0.0) + dang / n))).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int) =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Double)].collect().toMap

  test("two-node cycle is uniform; a ring stays uniform at any length") {
    val cyc = run(Seq((1L, 2L), (2L, 1L)), 10)
    assert(cyc.keySet == Set(1L, 2L))
    cyc.values.foreach(r => assert(math.abs(r - 0.5) < 1e-12))
    val ring = (0L until 7L).map(i => (i, (i + 1) % 7))
    val rr = run(ring, 13)
    rr.values.foreach(r => assert(math.abs(r - 1.0 / 7) < 1e-12))
  }

  test("dangling sink: mass is conserved and redistributed — matches " +
      "the reference, sums to one") {
    // 1 -> 2 -> 3 (sink), 1 -> 3; node 3 has no out-edges
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val got = run(edges, 8)
    val want = refPageRank(edges, 8)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, v) }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("random 300-node graph matches the reference; authority " +
      "ordering: a node every hub links to outranks the hubs") {
    val rnd = new scala.util.Random(5)
    val base = (0 until 1500).map(_ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (s, t) => s != t }.distinct
    // plus a celebrity: first 50 nodes all link to node 299
    val edges = (base ++ (0L until 50L).map((_, 299L))).distinct
    val got = run(edges, 12)
    val want = refPageRank(edges, 12)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-9, v) }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val celeb = got(299L)
    assert((0L until 50L).filter(got.contains).forall(h => got(h) < celeb))
  }

  test("checkpointEvery = 2: the uncheckpointed round in each window " +
      "still matches the reference and the every-round cadence") {
    // node 5 is dangling; node 4 has no in-flow
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L), (4L, 3L),
      (4L, 5L))
    val e = edges.toDF("src", "dst")
    val every = run(edges, 7)
    val two = Graph.pageRank(e, 7, checkpointEvery = 2)
      .as[(Long, Double)].collect().toMap
    val want = refPageRank(edges, 7)
    assert(two.keySet == want.keySet)
    two.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-12, v)
      assert(math.abs(r - every(v)) < 1e-12, v)
    }
    assert(math.abs(two.values.sum - 1.0) < 1e-9)
  }

  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val inGraph = seeds.intersect(nodes.toSet)
    val ns = inGraph.size
    def t(v: Long): Double = if (inGraph(v)) 1.0 / ns else 0.0
    var rank = nodes.map(v => v -> t(v)).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val base = ((1.0 - d) + d * dang) / ns
      val inflow = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (s, _) => rank(s) / out(s) }.sum
      }
      rank = nodes.map(v => v ->
        ((if (inGraph(v)) base else 0.0) +
          d * inflow.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  test("personalized PageRank: teleport concentrates mass on the seed " +
      "community, matches the reference, conserves mass, and leaves " +
      "unreachable non-seeds at exactly zero") {
    // two communities bridged by one weak edge; community A = 0..9,
    // B = 10..19; an isolated pair 30 -> 31 unreachable from seeds
    val a = (0L until 10L).flatMap(i => Seq((i, (i + 1) % 10)))
    val b = (10L until 20L).flatMap(i =>
      Seq((i, 10L + (i + 1) % 10)))
    val edges = a ++ b ++ Seq((9L, 10L), (30L, 31L))
    val seeds = Seq(0L, 3L, 7L)
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"),
      seeds.toDF("node"), iters = 10)
      .as[(Long, Double)].collect().toMap
    val want = refPpr(edges, seeds.toSet, 10)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, v) }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    val massA = (0L until 10L).map(got).sum
    val massB = (10L until 20L).map(got).sum
    assert(massA > 2 * massB, s"seed community should dominate: " +
      s"$massA vs $massB")
    assert(got(30L) == 0.0 && got(31L) == 0.0)
    // a seed absent from the graph is ignored; all-absent seeds refuse
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq(999L).toDF("node"), 3)
    }
  }

  test("guards: iteration and damping bounds; empty edge set") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), 201)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), 5, damping = 1.0)
    }
    assert(Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"), 3)
      .count() == 0)
  }

  test("convergence stop: tol ends iteration early with ranks " +
      "bit-identical to the fixed-iters run at the same round count, " +
      "and a stable graph stops after one extra round") {
    import spark.implicits._
    // deterministic IRREGULAR 40-node graph (quadratic dst spread, so
    // in/out degrees are uneven and the uniform start is NOT stationary)
    // that still converges well before a 100-round budget
    val edges = (0L until 120L)
      .map(i => (i % 40L, (i * i * 7L + i + 1L) % 40L))
      .filter { case (a, b) => a != b }.distinct
    val e = edges.toDF("src", "dst")
    val (conv, rounds) = Graph.pageRankConverged(e, maxIters = 100,
      tol = 1e-6)
    assert(rounds < 100, s"did not converge early: $rounds rounds")
    val fixedAtSame = Graph.pageRank(e, iters = rounds)
    // BIT-identical: the stop changes how many rounds run, never what a
    // round computes
    val a = conv.orderBy("node").as[(Long, Double)].collect().toSeq
    val b = fixedAtSame.orderBy("node").as[(Long, Double)].collect().toSeq
    assert(a == b)
    // the vector still sums to 1
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-9)
    // genuinely converged: one more fixed round moves it by less than tol
    val more = Graph.pageRank(e, iters = rounds + 1)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    val l1 = a.zip(more).map { case ((_, x), (_, y)) =>
      math.abs(x - y) }.sum
    assert(l1 < 1e-6, s"claimed convergence but next round moved $l1")
    // a perfectly stable start (uniform ranks on a symmetric ring)
    // stops at the first check
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
    val (_, ringRounds) = Graph.pageRankConverged(ring, maxIters = 50,
      tol = 1e-12)
    assert(ringRounds <= 2, s"ring should stop immediately: $ringRounds")
  }
}
