package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered sequential-pattern support (the length-2 core of Agrawal &
  * Srikant, "Mining Sequential Patterns", ICDE 1995): for every ordered
  * item pair (a → b), in how many user sequences does a's FIRST
  * occurrence precede b's? Where [[MarketBasket]] counts unordered
  * co-occurrence and [[Windows.transitionMatrix]] counts ADJACENT
  * steps, this is the any-gap ordering signal — "users who search
  * before they buy" — the funnel-discovery primitive.
  *
  * Scale shape: the corpus collapses to one row per (user, item) —
  * min(ts) via partial→final aggregation — and the quadratic step runs
  * on THAT tier, self-joined co-partitioned on the user key, bounded
  * by (distinct items per user)², never by events per user. Output is
  * one row per ordered item pair. Ties on first-occurrence timestamps
  * are excluded by the strict inequality (identically on any engine).
  */
object Sequences {

  /** One row per ordered pair (antecedent, consequent) with:
    * n_ordered (sequences where ant's first occurrence strictly
    * precedes cons's), n_both (sequences containing both),
    * ordered_share = n_ordered/n_both, and support = n_ordered/total
    * sequences. */
  def orderedPairSupport(events: DataFrame, userCol: String,
                         tsCol: String, itemCol: String): DataFrame = {
    val firsts = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull
        && col(itemCol).isNotNull)
      .groupBy(col(userCol).as("_u"), col(itemCol).as("_i"))
      .agg(min(col(tsCol)).as("_t"))
    // total sequences as a broadcast one-row aggregate (no driver action)
    val total = firsts.agg(
      countDistinct(col("_u")).cast("double").as("_n_seq"))
    val a = firsts.select(col("_u"), col("_i").as("ant"), col("_t").as("_ta"))
    val b = firsts.select(col("_u"), col("_i").as("cons"), col("_t").as("_tb"))
    a.join(b, Seq("_u")).filter(col("ant") =!= col("cons"))
      .groupBy(col("ant"), col("cons"))
      .agg(sum((col("_ta") < col("_tb")).cast("long")).as("n_ordered"),
        count(lit(1)).as("n_both"))
      .filter(col("n_ordered") > 0)
      .crossJoin(broadcast(total))
      .select(col("ant"), col("cons"), col("n_ordered"), col("n_both"),
        round(col("n_ordered") / col("n_both").cast("double"), 6)
          .as("ordered_share"),
        round(col("n_ordered") / col("_n_seq"), 6).as("support"))
      .orderBy("ant", "cons")
  }
}
