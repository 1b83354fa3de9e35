package graft.graph

import graft.SparkTestBase

class SccSpec extends SparkTestBase {
  import spark.implicits._

  private def scc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The labeling, the FW-BW levels it took and the most rounds any one
    * label propagation took, read off the jobs' `scc: level L round R`
    * labels. */
  private def sccCounted(edges: Seq[(Long, Long)]): (Map[Long, Long], Int, Int) = {
    var m = Map.empty[Long, Long]
    val labels = launchedBy { m = scc(edges) }.descriptions
    val Label = """scc: level (\d+)(?: round (\d+))?""".r
    val counts = labels.collect { case Label(l, r) => (l.toInt, Option(r).fold(0)(_.toInt)) }
    val levels = counts.map(_._1).maxOption.getOrElse(0)
    val rounds = counts.map(_._2).maxOption.getOrElse(0)
    assert(levels > 0 && rounds > 0, s"no scc level/round label among the jobs: ${labels.distinct}")
    (m, levels, rounds)
  }

  test("two cycles joined by a one-way bridge stay separate components") {
    // cycle {1,2,3} -> bridge 3->4 -> cycle {4,5,6} -> tail 6->7
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L))
    val m = scc(edges)
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(4L) == 4L && m(5L) == 4L && m(6L) == 4L)
    assert(m(7L) == 7L)
  }

  test("a pure DAG chain yields all singletons (trim path)") {
    val edges = (1L to 5L).sliding(2).map(p => (p.head, p(1))).toSeq
    assert(scc(edges) == (1L to 5L).map(v => v -> v).toMap)
  }

  test("self-loops and bidirectional pairs") {
    // 10<->11 is a 2-SCC; 12 self-loop is its own SCC; 13->12 one-way
    val m = scc(Seq((10L, 11L), (11L, 10L), (12L, 12L), (13L, 12L)))
    assert(m(10L) == 10L && m(11L) == 10L)
    assert(m(12L) == 12L && m(13L) == 13L)
  }

  test("a bare 128-cycle converges in logarithmic propagation rounds") {
    // round-10's O(diameter) color step needed 128 rounds here and
    // refused at maxPropRounds=64; pointer jumping needs ~log2(128)
    val n = 128L
    val edges = (0L until n).map(i => (i, (i + 1) % n))
    val (m, _, rounds) = sccCounted(edges)
    assert(m.size == n && m.values.forall(_ == 0L))
    assert(rounds <= 16, s"cycle-128 took $rounds propagation rounds")
  }

  test("a deep 80-chain of singletons finishes in logarithmic levels") {
    // round-10's trim peeled one end per round (40 peels > maxPeels=32
    // would have refused); the random-pivot split halves the chain per
    // level instead
    val n = 80L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val (m, levels, _) = sccCounted(edges)
    assert(m == (0L until n).map(v => v -> v).toMap)
    assert(levels <= 16, s"chain-80 took $levels FW-BW levels")
  }

  test("condensation contracts the two-cycle fixture to a 3-node DAG") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("src", "dst")
    val r = Scc.condensation(edges).collect().head
    assert(r.getAs[Long]("n_sccs") == 3L)
    assert(r.getAs[Long]("max_scc_size") == 3L)
    assert(r.getAs[Long]("n_singletons") == 1L)
    assert(r.getAs[Long]("n_dag_edges") == 2L)
  }

  test("topoLayers assigns longest-path-from-source stage numbers") {
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val m = Scc.topoLayers(dag).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("topoLayers refuses a cyclic input loudly") {
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val err = intercept[IllegalArgumentException] {
      Scc.topoLayers(cyc).collect()
    }
    assert(err.getMessage.contains("cycle"))
  }

  test("deterministic across partitionings and equal to brute-force mutual reachability") {
    // pseudo-random directed graph on 40 nodes
    val edges = (0 until 160).map { i =>
      (((i * 37 + 11) % 40).toLong, ((i * 53 + 29) % 40).toLong)
    }.filter(e => e._1 != e._2).distinct
    val df = edges.toDF("src", "dst")
    val a = Scc.components(df.coalesce(1)).collect().toSeq
    val b = Scc.components(df.repartition(7)).collect().toSeq
    assert(a == b)
    // brute force: Floyd-Warshall reachability, scc = min mutual partner
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val reach = Array.fill(n, n)(false)
    nodes.indices.foreach(i => reach(i)(i) = true)
    edges.foreach { case (s, d) => reach(idx(s))(idx(d)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val expected = nodes.map { v =>
      val vi = idx(v)
      v -> nodes.filter(w => reach(vi)(idx(w)) && reach(idx(w))(vi)).min
    }.toMap
    assert(a.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }
}
