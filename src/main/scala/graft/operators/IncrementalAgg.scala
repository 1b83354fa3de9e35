package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for distributive aggregates (the
  * delta-rule of Gupta, Mumick & Subrahmanian, "Maintaining Views
  * Incrementally", SIGMOD 1993): given a maintained (key → count, sum)
  * aggregate and a CDC batch carrying BEFORE/AFTER images, the new
  * aggregate is old ⊎ Δ where Δ is computed from the batch ALONE —
  * insert contributes +after, delete −before, update −before +after.
  * At 100 TB this is the difference between touching gigabytes (the
  * day's changes) and rescanning the corpus: the combine step is a
  * key-partitioned outer join between two aggregate-sized tables, and
  * the delta aggregation is one partial→final pass over the batch.
  *
  * count/sum are self-maintainable; avg is derived (sum/count) at read
  * time; min/max are NOT maintainable under deletes without a rescan —
  * callers needing them keep [[SnapshotDiff]]'s full-rebuild path.
  */
object IncrementalAgg {

  /** Per-key (n, total) over `valCol`, the maintained-view shape. */
  def viewOf(rows: DataFrame, keyCol: String, valCol: String): DataFrame =
    rows.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("total"))

  /** Apply a CDC batch to a maintained view. `cdc` must carry `keyCol`,
    * an `op` column in {"insert", "update", "delete"}, and
    * before/after value columns (`before` null for inserts, `after`
    * null for deletes). Keys whose maintained count reaches zero are
    * dropped, so the result is exactly `viewOf(newBase)` for any batch
    * whose images are consistent with the base. */
  def applyCdc(view: DataFrame, cdc: DataFrame, keyCol: String): DataFrame = {
    val dn = when(col("op") === "insert", 1L)
      .when(col("op") === "delete", -1L).otherwise(0L)
    val dt = coalesce(when(col("op") =!= "delete", col("after")), lit(0.0)) -
      coalesce(when(col("op") =!= "insert", col("before")), lit(0.0))
    val delta = cdc.groupBy(col(keyCol))
      .agg(sum(dn).as("_dn"), sum(dt).as("_dt"))
    view.join(delta, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0.0))
          + coalesce(col("_dt"), lit(0.0))).as("total"))
      .filter(col("n") > 0)
  }
}
