package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-group formation: pairwise near-dup detection (MinHash, n-gram
  * Jaccard, …) emits EDGES; collapsing a corpus needs the transitive
  * closure — if A≈B and B≈C then {A,B,C} is one group even when A and C
  * are not directly similar. This is connected components over the
  * similarity graph.
  *
  * Algorithm: distributed min-label propagation. Every node starts
  * labeled with its own id; each round, a node takes the min label among
  * itself and its neighbors; converged when no label changes. Rounds =
  * graph diameter, which for dup clusters is tiny (near-clique groups).
  * Each round is one shuffle on node id; `localCheckpoint` truncates the
  * growing lineage so round N does not re-execute rounds 1..N-1.
  */
object DupGroups {

  /** Generic connected components. `edges`: two long columns (a, b),
    * undirected (either orientation). `nodes`: one `id` column. Returns
    * (id, component) where component = min node id in the component. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // checkpoint the edge list once (LAZY — round 1's probe action
    // materializes it): it is consumed by every propagation round, and
    // edge GENERATION (e.g. the Jaccard pair scan) can be far more
    // expensive than the rounds themselves
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(eager = false)
    var comp = nodes.select(col("id"), col("id").as("comp"))
      .localCheckpoint(eager = false)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(comp, sym("b") === comp("id"))
        .groupBy(sym("a").as("nid"))
        .agg(min("comp").as("nbr_comp"))
      // the changed flag rides along in the same projection, so the
      // convergence test below reads the checkpointed result instead of
      // re-joining this round's frames; the checkpoint is LAZY and the
      // changed-count aggregate is its materializing action — one job
      // per round instead of checkpoint job + isEmpty job (r14)
      val next = comp.join(nbrMin, comp("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("_changed"))
        .localCheckpoint(eager = false)
      converged = next.agg(
        count(when(col("_changed"), lit(1)))).head().getLong(0) == 0L
      comp = next.drop("_changed")
      i += 1
    }
    // partial labels are WRONG labels (one true component reported as
    // several) — refuse to return them
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter")
    comp
  }

  /** Similarity edges for dup-group formation: exact-dup star edges
    * (every copy → the min doc_id of its text group — linear, no
    * quadratic clique materialization) plus near-dup pairs with exact
    * n-gram Jaccard ≥ `minJaccard`. */
  def dupEdges(documents: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // null-safe join: groupBy already groups null texts together, but a
    // plain === join would drop them, leaving multiple null-text docs
    // ungrouped — diverging from exactDedup's groupBy semantics
    val reps = documents.groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
      .withColumnRenamed("text", "_rep_text")
    val exact = documents.join(reps, col("text") <=> col("_rep_text"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a"), col("rep").as("b"))
    val near = Dedup.ngramJaccardPairs(documents)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    exact.union(near)
  }

  /** Dup-group summary: one row per component with its size — the
    * collapse plan a dedup pass executes (keep component id, drop the
    * rest). */
  def dupComponentSizes(documents: DataFrame, minJaccard: Double = 0.5): DataFrame =
    connectedComponents(dupEdges(documents, minJaccard),
        documents.select(col("doc_id").as("id")))
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
}
