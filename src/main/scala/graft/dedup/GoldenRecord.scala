package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge/purge entity resolution with golden-record election — the
  * classic sorted-neighborhood pipeline (Hernández & Stolfo 1995) run
  * end to end: block, sort, score ADJACENT candidates with a string
  * similarity, chain matches into clusters, elect one canonical
  * survivor per cluster.
  *
  * Because candidates are scored only against their sort-order
  * NEIGHBOR, match chains are consecutive runs in the sorted block —
  * so cluster formation is gaps-and-islands (one running sum over the
  * per-block window), NOT general connected components: no iteration,
  * no recursion, no corpus-sized driver state. That is the merge/purge
  * trade: O(n log n) sort + O(n) scoring, clusters limited to what the
  * sort key co-locates (the multi-pass variant re-runs with a second
  * sort key and unions edges into [[DupGroups.connectedComponents]] —
  * the documented general-topology path).
  *
  * Scale shape: both windows PARTITION BY the block key; scoring is a
  * codegen'd native expression ([[graft.functions.StringSimilarity]]);
  * the canonical election is `min` / `min_by` inside one aggregation.
  */
object GoldenRecord {

  /** Cluster near-duplicate names inside each block and elect the
    * canonical row (smallest id) per cluster. Returns the per-block
    * census: cluster count, merged-row count (rows living in a
    * cluster of size ≥ 2), duplicate rows retired (members − clusters),
    * and the id-sum of elected canonicals for membership pinning.
    * The 0.95 Jaro-Winkler threshold is compared on the ROUNDED
    * similarity so a SQL oracle replays the threshold exactly. */
  def censusByBlock(df: DataFrame, blockCol: String, nameCol: String,
                    idCol: String): DataFrame = {
    val w = Window.partitionBy(blockCol).orderBy(nameCol, idCol)
    val scored = df.select(col(blockCol), col(nameCol), col(idCol))
      .withColumn("_prev", lag(col(nameCol), 1).over(w))
      .withColumn("_jw", round(graft.functions.StringSimilarity
        .jaroWinkler(col("_prev"), col(nameCol)), 6))
      // a row STARTS a new cluster unless it matches its predecessor
      .withColumn("_new",
        when(col("_jw").isNull || col("_jw") < 0.95, 1L).otherwise(0L))
      .withColumn("_cl",
        sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val clusters = scored.groupBy(col(blockCol), col("_cl"))
      .agg(count(lit(1)).as("_sz"), min(idCol).as("_canon"))
    clusters.groupBy(blockCol)
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("_sz") >= 2, col("_sz")).otherwise(0L)).as("n_merged_rows"),
        sum(col("_sz") - 1).as("n_retired"),
        sum(when(col("_sz") >= 2, col("_canon")).otherwise(0L))
          .as("canon_id_sum"))
      .orderBy(blockCol)
  }
}
