package graft.graph

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long, Long)], iters: Int = 30) =
    PageRank.pagerank(edges.toDF("src", "dst", "weight"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two-node cycle converges to 0.5 / 0.5") {
    val r = ranksOf(Seq((1L, 2L, 1L), (2L, 1L, 1L)))
    assert(math.abs(r(1L) - 0.5) < 1e-9)
    assert(math.abs(r(2L) - 0.5) < 1e-9)
  }

  test("ranks sum to 1 and authority flows to the hub") {
    // star: 1,2,3 all point to 4; 4 points back to 1
    val r = ranksOf(Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 1L, 1L)))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(4L) > r(1L) && r(1L) > r(2L)) // hub first, its target second
    assert(math.abs(r(2L) - r(3L)) < 1e-12) // symmetric leaves tie
  }

  test("dangling node redistributes its mass instead of leaking it") {
    // 1 -> 2, and 2 has no out-edges (dangling)
    val r = ranksOf(Seq((1L, 2L, 1L)))
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass leaked: ${r.values.sum}")
    assert(r(2L) > r(1L)) // 2 receives 1's links plus nothing back
  }

  test("tol early-exit matches the fixed-iteration ranks within tolerance") {
    val edges = Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val fixed = PageRank.pagerank(edges, iters = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val early = PageRank.pagerank(edges, iters = 50, tol = 1e-7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((node, rank) <- fixed)
      assert(math.abs(early(node) - rank) < 1e-5,
        s"node $node: early ${early(node)} vs fixed $rank")
    assert(math.abs(early.values.sum - 1.0) < 1e-9)
    // the exit actually fires: a 4-node graph at tol 1e-7 must stop well
    // before 50 rounds, which shows up as a materially faster wall-clock.
    // (Timing asserts flake; instead assert semantics — a HUGE tol exits
    // after round 1, reproducing exactly the iters=1 ranks.)
    val oneRound = PageRank.pagerank(edges, iters = 50, tol = 1e9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val iters1 = PageRank.pagerank(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((node, rank) <- iters1)
      assert(oneRound(node) == rank, s"node $node: tol-exit did not stop at round 1")
  }

  test("edge weights bias the split") {
    // 1 splits 3:1 between 2 and 3; 2,3 return to 1
    val r = ranksOf(Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)))
    assert(r(2L) > r(3L))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("personalized with seeds = ALL nodes equals global pagerank") {
    val edges = Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 1L, 1L),
      (1L, 5L, 1L)) // 5 is dangling — exercises the seed-vector re-entry
      .toDF("src", "dst", "weight")
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val global = PageRank.pagerank(edges, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ppr = PageRank.personalized(edges, allNodes, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // uniform teleport over every node IS the global recurrence
    for ((node, rank) <- global)
      assert(math.abs(ppr(node) - rank) < 1e-12,
        s"node $node: ppr ${ppr(node)} vs global $rank")
  }

  test("personalized ranks concentrate near the seeds and sum to 1") {
    // two symmetric triangles bridged by one edge; seed only the left one
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (6L, 4L, 1L),
      (3L, 4L, 1L), (6L, 1L, 1L)).toDF("src", "dst", "weight")
    val seeds = Seq(1L, 2L).toDF("node")
    val r = PageRank.personalized(edges, seeds, iters = 40)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass leaked: ${r.values.sum}")
    assert(r(1L) > r(4L) && r(2L) > r(5L),
      s"seed side must outrank the far triangle: $r")
  }

  test("ranks agree across partitionings within 1e-9 and a planted hub ranks first") {
    // every third edge points at hub 0; the rest spread over 40 nodes.
    // Rank sums regroup with the partitioning, so agreement is a bound
    val edges = (0 until 240).map { i =>
      ((i * 13 + 7) % 41).toLong ->
        (if (i % 3 == 0) 0L else ((i * 29 + 3) % 40 + 1).toLong)
    }.filter(e => e._1 != e._2).toDF("src", "dst")
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    def ranks(parts: Int) =
      PageRank.pagerank(edges.repartition(parts), iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (a, b) = (ranks(1), ranks(7))
    assert(a.keySet == b.keySet && a.size == 41)
    val maxDiff = a.map { case (n, r) => math.abs(r - b(n)) }.max
    assert(maxDiff < 1e-9, s"ranks diverged across partitionings: max |Δ| = $maxDiff")
    for (r <- Seq(a, b)) assert(r.maxBy(_._2)._1 == 0L, s"hub is not top-ranked: $r")
  }
}
