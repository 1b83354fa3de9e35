package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.dotProduct

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication over an embedding column. A KMeans coarse quantizer
  * (the [[Ivf]] index) partitions the corpus into cells; exact pairwise
  * cosine runs ONLY within each cell, and a vector is removed when a
  * lower-id cell-mate sits at or above the similarity threshold — the
  * deterministic stand-in for the paper's keep-one-per-duplicate-group
  * (reproducible under re-run and retry, unlike a random keeper).
  *
  * Scale shape: the all-pairs O(N²) cosine step becomes Σ_c O(m_c²)
  * with `nlist` sized so cells stay bounded (the paper runs ~100k cells
  * over 5B embeddings); the pair join shuffles on cluster id only and
  * each cell's pairs are generated locally. Near-dups that straddle a
  * cell boundary are the documented recall trade-off of the method —
  * [[Similarity.exactTopPairs]] is the exact quadratic twin for
  * validating a sample.
  */
object SemDedup {

  /** The removal list: one row per vector that has a lower-id cell-mate
    * with cosine ≥ `tau` — (removed_id, kept_id, sim) where `kept_id`
    * is the lowest-id qualifying neighbor and `sim` the strongest.
    * Eagerly materialized (the list is the small artifact downstream
    * anti-joins consume) so the KMeans assignments cache can be
    * released before returning. */
  def removals(embeddings: DataFrame, tau: Double,
               nlist: Int = 16): DataFrame = {
    val idx = Ivf.buildIndex(embeddings, nlist, 42L)
    val keep = idx.assignments.select(col("cluster"),
      col("vec_id").as("kept_id"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val drop = idx.assignments.select(col("cluster"),
      col("vec_id").as("removed_id"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    val out = keep.join(drop, "cluster")
      .filter(col("kept_id") < col("removed_id"))
      .withColumn("sim",
        when(col("norm_a") > 0 && col("norm_b") > 0,
          dotProduct(col("emb_a"), col("emb_b")) /
            (col("norm_a") * col("norm_b"))))
      .filter(col("sim") >= tau)
      .groupBy("removed_id")
      .agg(min("kept_id").as("kept_id"), max("sim").as("sim"))
      .localCheckpoint(true)
    idx.assignments.unpersist()
    out
  }

  /** The deduplicated corpus: `embeddings` minus [[removals]]. */
  def dedup(embeddings: DataFrame, tau: Double,
            nlist: Int = 16): DataFrame = {
    val removed = removals(embeddings, tau, nlist)
      .select(col("removed_id").as("vec_id"))
    embeddings.join(removed, Seq("vec_id"), "left_anti")
  }

  /** The cross-cell boundary mitigation of [[removals]]: each vector is
    * assigned to its `nprobe` nearest centroids (UNIONED with its
    * KMeans-argmin cell, so the probe set provably contains the
    * single-assignment cell), and the within-cell pair scan runs over
    * the multi-assignment — a near-dup pair straddling one cell
    * boundary is recovered whenever the two vectors share ANY probed
    * cell. Cost: each vector appears ≤ nprobe+1 times, so pair-scan
    * work scales by ~(nprobe)² per cell while recall strictly grows:
    * the removal set is a SUPERSET of the single-assignment set by
    * construction (every pair the single pass finds shares the argmin
    * cell both sides still carry), and every emitted pair is verified
    * ≥ tau by exact cosine — both invariants spec- and gate-pinned.
    * Pairs found through two shared cells collapse in the final
    * per-removed_id aggregation. */
  def removalsMultiProbe(embeddings: DataFrame, tau: Double,
                         nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val idx = Ivf.buildIndex(embeddings, nlist)
    // per-vector top-nprobe centroids by squared L2
    // (‖v‖² − 2v·c + ‖c‖², ties to the smaller cluster id), computed
    // ROW-LOCALLY over a broadcast one-row centroid array: sort nlist
    // struct entries inside a projection and keep nprobe. The obvious
    // alternative — join every vector against every centroid and rank
    // with a window — materializes N·nlist rows through a shuffle+sort;
    // this form adds ZERO exchanges. The KMeans-argmin cell is unioned
    // in afterwards so FP near-ties between this ranking and the
    // model's own argmin can't break the superset guarantee.
    val centArr = idx.centroids
      .agg(collect_list(struct(col("c_emb"), col("c_norm"),
        col("cluster"))).as("_cents"))
    val ranked = idx.assignments
      .crossJoin(broadcast(centArr))
      .withColumn("_top", slice(array_sort(transform(col("_cents"), c =>
        struct(
          (col("norm") * col("norm")
            - lit(2.0) * dotProduct(col("emb"), c.getField("c_emb"))
            + c.getField("c_norm") * c.getField("c_norm")).as("d2"),
          c.getField("cluster").as("cluster")))), lit(1), lit(nprobe)))
      .select(col("vec_id"), col("emb"), col("norm"),
        explode(col("_top")).as("_t"))
      .select(col("vec_id"), col("emb"), col("norm"),
        col("_t.cluster").as("cluster"))
    val probes = ranked
      .unionByName(idx.assignments.select("vec_id", "emb", "norm", "cluster"))
      .dropDuplicates("vec_id", "cluster")
    val keep = probes.select(col("cluster"), col("vec_id").as("kept_id"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val drop = probes.select(col("cluster"), col("vec_id").as("removed_id"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    val out = keep.join(drop, "cluster")
      .filter(col("kept_id") < col("removed_id"))
      .withColumn("sim",
        when(col("norm_a") > 0 && col("norm_b") > 0,
          dotProduct(col("emb_a"), col("emb_b")) /
            (col("norm_a") * col("norm_b"))))
      .filter(col("sim") >= tau)
      .groupBy("removed_id")
      .agg(min("kept_id").as("kept_id"), max("sim").as("sim"))
      .localCheckpoint(true)
    idx.assignments.unpersist()
    out
  }
}
