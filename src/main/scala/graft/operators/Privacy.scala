package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy-risk census over quasi-identifiers — the k-anonymity /
  * l-diversity numbers (Sweeney 2002; Machanavajjhala 2007) a dataset
  * steward checks before releasing or training on user-adjacent data:
  * how many rows sit in quasi-identifier groups small enough to
  * re-identify, and how little diversity the sensitive attribute has
  * inside a group.
  *
  * Scale shape: ONE hash aggregation keyed by the quasi-identifier
  * tuple (partial→final; state = one count + one distinct-count per
  * group — the distinct is over the sensitive column only, bounded by
  * its cardinality per group), then a scalar roll-up over the
  * group-cardinality table. Suppression/generalization decisions read
  * off the same table without rescanning the corpus.
  */
object Privacy {

  /** One-row census: total quasi-identifier groups, groups smaller
    * than `k`, rows living in those groups (the re-identifiable mass),
    * the smallest group, and the minimum per-group distinct count of
    * `sensitive` (l-diversity floor). */
  def kAnonymityCensus(df: DataFrame, quasiIds: Seq[String],
                       sensitive: Column, k: Int): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    val groups = df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("l"))
    groups.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("n_small_groups"),
      sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_at_risk"),
      min("n").as("min_group_size"),
      min("l").as("min_l_diversity"))
  }

  /** ε-differential-privacy-STYLE Laplace mechanism on per-group counts
    * (Dwork et al. 2006: count queries have sensitivity 1, so noise ~
    * Laplace(1/ε)), with the noise draw taken from a DETERMINISTIC
    * per-group uniform (a Lehmer LCG over a numeric group key) via the
    * inverse CDF. The seeded draw is what makes the mechanism an
    * oracle-testable engine primitive — production DP swaps the LCG
    * uniform for a CSPRNG draw; everything else (sensitivity, inverse
    * CDF, post-processed non-negativity) is the released shape.
    *
    * `keyExpr` must be a deterministic integer-valued Column derived
    * from the group (the per-group noise seed). One grouped count +
    * row-local arithmetic — nothing beyond the count shuffles. */
  def laplaceNoisedCounts(df: DataFrame, groupCol: String, keyExpr: Column,
                          eps: Double): DataFrame = {
    require(eps > 0, s"epsilon must be positive, got $eps")
    val m = 2147483647L // 2^31 - 1 (Lehmer modulus)
    // u in (0,1) strictly: x in [0, m-1] → (x+1)/(m+1) in (0,1)
    val u = ((pmod(keyExpr * lit(48271L) + lit(1L), lit(m)) + 1)
      .cast("double")) / lit(2147483648.0)
    val c = u - lit(0.5)
    val noise = lit(-1.0 / eps) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("true_count"))
      .withColumn("noised", round(col("true_count") + noise, 4))
      .withColumn("released",
        greatest(round(col("true_count") + noise), lit(0.0)).cast("long"))
      .orderBy(groupCol)
  }
}
