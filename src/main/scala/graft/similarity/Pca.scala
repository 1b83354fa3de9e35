package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column, the way it is
  * actually run at corpus scale: ONE distributed pass builds the d×d
  * covariance ([[Covariance.momentsOf]] — O(d²) state per partition, no
  * shuffle), the d×d eigenproblem is solved on the driver (d is the
  * embedding width; 64³ flops is nanoseconds next to the scan), and the
  * resulting projection matrix is folded back into a row-local
  * expression — scoring shuffles nothing and composes with any
  * downstream operator. This driver-side-eigen split is the standard
  * pattern (Spark MLlib `RowMatrix.computePrincipalComponents` does
  * exactly this for d ≤ 65535), re-expressed without the mllib
  * dependency.
  *
  * Eigensolver: cyclic Jacobi rotations (Golub & Van Loan §8.5) — the
  * numerically safest choice for a symmetric PSD matrix; converges to
  * off-diagonal mass < 1e-12·‖A‖ in a handful of sweeps at d = 64.
  */
object Pca {

  /** Eigenvalues (descending) and matching unit eigenvectors (rows of
    * the returned matrix) of a symmetric matrix, via cyclic Jacobi. */
  def symmetricEig(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val norm = math.max(1e-300, a.map(_.map(math.abs).max).max)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-13 * norm && sweep < 60) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-300) {
            // rotation angle zeroing a(p,q): tan(2θ) = 2·apq/(app−aqq)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vpk = v(p)(k); val vqk = v(q)(k)
              v(p)(k) = c * vpk - s * vqk
              v(q)(k) = s * vpk + c * vqk
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray, order.map(i => v(i).clone()).toArray)
  }

  /** Fitted model: data mean, eigenvalues (variance per component,
    * descending), and unit principal axes (row per component). */
  final case class PcaModel(n: Long, mean: Array[Double],
                            eigenvalues: Array[Double],
                            components: Array[Array[Double]]) {
    /** max |VᵀV − I| over the component rows — orthonormality residual. */
    def orthonormalityError: Double = {
      val k = components.length
      var worst = 0.0
      for (i <- 0 until k; j <- i until k) {
        val dot = components(i).zip(components(j)).map { case (x, y) => x * y }.sum
        worst = math.max(worst, math.abs(dot - (if (i == j) 1.0 else 0.0)))
      }
      worst
    }
  }

  /** One pass + driver eigen. `k` keeps the top components (all when
    * k ≥ d); eigenvalues are always returned in full so explained-
    * variance ratios don't need a second fit. */
  def fit(emb: DataFrame, vecCol: String = "embedding", k: Int = 8): PcaModel = {
    val (n, mean, c) = Covariance.momentsOf(emb, vecCol)
    val (evals, evecs) = symmetricEig(c)
    PcaModel(n, mean, evals, evecs.take(math.min(k, evecs.length)))
  }

  /** Adds `score_0..score_{k-1}`: the centered projection onto each kept
    * component, as a row-local codegen'd fold (model folded in as array
    * literals — nothing broadcast, nothing shuffled). */
  def project(emb: DataFrame, model: PcaModel): DataFrame = {
    val meanArr = array(model.mean.map(lit): _*)
    val centered = zip_with(
      transform(col("embedding"), _.cast("double")), meanArr, (x, m) => x - m)
    model.components.zipWithIndex.foldLeft(emb.withColumn("_c", centered)) {
      case (df, (comp, i)) =>
        val compArr = array(comp.map(lit): _*)
        df.withColumn(s"score_$i",
          aggregate(zip_with(col("_c"), compArr, (x, w) => x * w),
            lit(0.0), (acc: Column, x: Column) => acc + x))
    }.drop("_c")
  }
}
