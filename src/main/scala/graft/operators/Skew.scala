package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation primitives for hot keys.
  *
  * AQE's skew-join handling (enabled in [[graft.GraftSession]]) covers
  * sort-merge joins at runtime; these helpers cover the two cases AQE
  * does not: aggregation skew (one group getting a whole executor's
  * work) and broadcast-infeasible skewed joins.
  */
object Skew {

  /** Two-phase salted aggregation: groupBy (key, salt) partially, then
    * re-aggregate by key. Identical result to a direct
    * `groupBy(key).agg(count, sum)` — but a key holding 30% of a 100 TB
    * table fans out over 32 salts in phase one instead of
    * funneling into a single task. */
  def saltedCountSum(df: DataFrame, key: String,
                     valueCol: String): DataFrame =
    df.withColumn("_salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(32)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_cnt"), sum(valueCol).as("_sum"))
      .groupBy(col(key))
      .agg(sum("_cnt").as("cnt"), sum("_sum").as("total"))

  /** Salted join of a skewed fact against a dimension too large to
    * broadcast whole: the fact side gets a random salt in [0, 8), the
    * dim side is replicated 8 times, and the join key becomes
    * (key, salt) — hot keys spread over 8 tasks. */
  def saltedJoin(skewedFact: DataFrame, dim: DataFrame,
                 key: String): DataFrame = {
    val saltedFact = skewedFact.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(8)))
    val replicatedDim = dim.withColumn("_salt",
      explode(array((0 until 8).map(lit): _*)))
    saltedFact.join(replicatedDim, Seq(key, "_salt")).drop("_salt")
  }
}
