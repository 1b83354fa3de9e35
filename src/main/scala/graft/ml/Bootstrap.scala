package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson bootstrap confidence intervals (Chamandy, Muralidharan,
  * Najmi & Naidu, "Estimating Uncertainty for Massive Data Streams",
  * Google TR 2012 — the bootstrap that works in one pass over data too
  * large to resample by index): replicate b resamples each row with an
  * independent Poisson(1) multiplicity, so all B replicate sums build
  * in a SINGLE partial→final aggregation — no corpus-sized shuffles,
  * no per-replicate passes; the shuffle carries B × groups rows.
  *
  * Determinism: the multiplicity is the Poisson(1) inverse-CDF of a
  * uniform drawn from the FNV-1a hash of (row id, replicate id) on a
  * 1/10⁴ grid — the same construction the repo's seeded samplers use
  * ([[graft.functions.HashExpressions.fnv1a32]]), so an oracle engine
  * reproduces every weight exactly; the CDF thresholds are literals
  * strictly off the grid, so no comparison ever lands on a float
  * boundary. */
object Bootstrap {

  /** Poisson(1) CDF thresholds for counts 0..4 (≥ 5 collapses to 5 —
    * P ≈ 4e-4, negligible bias, bounded blowup). */
  private val cdf = Seq(0.36787944117144233, 0.7357588823428847,
    0.9196986029286058, 0.9810118431238462, 0.996340153172656)

  /** The Poisson multiplicity of a uniform column. */
  private def poissonOf(u: Column): Column =
    cdf.zipWithIndex.foldRight(lit(5): Column) { case ((t, k), rest) =>
      when(u < t, k.toLong).otherwise(rest)
    }

  /** Bootstrap CI of the per-group mean of `valCol`: B replicate means
    * per group, then the (0.025, 0.5, 0.975) percentiles across replicates.
    * Output per group: n_rows, mean, boot_lo, boot_mid, boot_hi. */
  def groupMeanCI(df: DataFrame, groupCol: String, idCol: String,
                  valCol: String, b: Int = 48): DataFrame = {
    require(b >= 8, s"need at least 8 replicates, got $b")
    val u = (graft.functions.HashExpressions.fnv1a32(
      concat_ws(":", col(idCol).cast("string"), col("_b").cast("string")))
      % 10000).cast("double") / 10000.0
    val reps = df
      .select(col(groupCol), col(idCol), col(valCol).cast("double").as("_y"))
      .withColumn("_b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("_w", poissonOf(u).cast("double"))
      .groupBy(col(groupCol), col("_b"))
      .agg((sum(col("_w") * col("_y")) / sum(col("_w"))).as("_m"))
    val base = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), avg(col(valCol)).as("_mean"))
    base.join(reps.groupBy(col(groupCol)).agg(
        round(percentile(col("_m"), lit(0.025)), 6).as("boot_lo"),
        round(percentile(col("_m"), lit(0.5)), 6).as("boot_mid"),
        round(percentile(col("_m"), lit(0.975)), 6).as("boot_hi")),
      Seq(groupCol))
      .select(col(groupCol), col("n_rows"),
        round(col("_mean"), 6).as("mean"),
        col("boot_lo"), col("boot_mid"), col("boot_hi"))
      .orderBy(groupCol)
  }
}
