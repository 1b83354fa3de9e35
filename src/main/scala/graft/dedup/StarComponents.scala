package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). The
  * round count is O(log² n) for ANY graph shape — unlike
  * [[DupGroups.connectedComponents]]'s min-label propagation, whose
  * rounds equal the component DIAMETER (fine for near-clique dup
  * clusters, pathological for chains: SCALE.md's components probe
  * measured a 64-diameter chain costing 4× a 16-diameter one at the
  * same data size; star contraction collapses the same chain in a
  * handful of rounds).
  *
  * Per half-round the work is: one partial→final `min` aggregation on
  * the node key, one co-partitioned join back to the neighborhood
  * list, one `distinct` on the emitted pairs — all shuffles on node
  * ids, nothing corpus-sized beyond the edge list itself, no
  * driver-side row data. Convergence is detected from two scalars per
  * round (edge count + order-independent hash), and each round's edge
  * set is `localCheckpoint`ed so lineage stays flat.
  */
object StarComponents {

  /** One contraction half-round. `sym` must hold BOTH orientations of
    * every edge. Large-star links each node's strictly-larger
    * neighbors to its neighborhood minimum; small-star links the
    * smaller-or-equal neighbors (and the node itself). Both preserve
    * connectivity (Kiveris et al. Lemmas 1-2); alternating them drives
    * every component to a star rooted at its minimum id. */
  private def halfRound(sym: DataFrame, large: Boolean): DataFrame = {
    val m = sym.groupBy("a").agg(min(col("b")).as("_mb"))
      .select(col("a"), least(col("_mb"), col("a")).as("m"))
    val joined = sym.join(m, "a")
    val emitted =
      if (large)
        joined.filter(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b"))
      else
        joined.filter(col("b") <= col("a"))
          .select(col("b").as("a"), col("m").as("b"))
          .union(m.select(col("a"), col("m").as("b")))
    emitted.filter(col("a") =!= col("b")).distinct()
  }

  /** Generic connected components, same contract as
    * [[DupGroups.connectedComponents]]: `edges` two long columns
    * `(a, b)`, either orientation; `nodes` one `id` column; returns
    * `(id, comp)` with `comp` = min node id of the component. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    var cur = edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint(eager = false)
    var stable = false
    var i = 0
    var prevSig: (Long, Long) = null
    while (!stable && i < maxIter) {
      // each round = large-star then small-star; re-symmetrize between
      // half-rounds (the ops emit size-directed pairs). Checkpoints are
      // LAZY: the signature aggregate below is the materializing action,
      // so each round is one job instead of checkpoint + sig (r14)
      val afterLarge = halfRound(cur, large = true)
      val symLarge = afterLarge
        .union(afterLarge.select(col("b").as("a"), col("a").as("b")))
        .distinct()
      val afterSmall = halfRound(symLarge, large = false)
      val next = afterSmall
        .union(afterSmall.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .localCheckpoint(eager = false)
      // bit_xor: order-independent and overflow-free under ANSI mode
      // (a sum of 64-bit hashes throws ARITHMETIC_OVERFLOW); xor
      // cancellation needs duplicate rows, which distinct() rules out
      val sigRow = next.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      stable = sig == prevSig
      prevSig = sig
      cur = next
      i += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds; raise maxIter")
    // at the fixpoint every edge points larger→component-min; min(b)
    // per node is defensive against the last re-symmetrization
    val labels = cur.filter(col("a") > col("b"))
      .groupBy(col("a").as("id")).agg(min(col("b")).as("comp"))
    nodes.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
