package graft.similarity

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact population covariance of an embedding column, as a d×d matrix.
  *
  * The relational route — explode each vector to (i, x_i), self-join per
  * row, groupBy (i,j) — shuffles rows·d² tuples (a 4096× fan-out at
  * d = 64): the classic scale-killer. This operator instead accumulates
  * the co-moment matrix PER PARTITION (count + mean vector + upper-
  * triangular Σx_i·x_j — constant O(d²) state regardless of partition
  * size), then merges the partition partials through a DETERMINISTIC
  * FIXED-FAN-IN TREE: each round reduces index-contiguous groups of
  * `fanIn` partials (sorted by partition index inside the group) into
  * one, until at most `fanIn` remain; only that bounded tail is collected
  * and folded on the driver. One pass over the data; driver state is
  * O(fanIn · d²) REGARDLESS of input partition count — at 100 TB /
  * ~10⁶ input partitions the old per-partition driver collect would
  * hold partitions·d²/2 doubles and merge single-threaded, while the
  * tree moves log_fanIn(partitions) rounds of tiny shuffles instead.
  * Same aggregation shape as Spark MLlib's
  * `RowMatrix.computeGramianMatrix` + `treeReduce`, re-expressed
  * without the mllib dependency and with DETERMINISTIC grouping: the
  * merge tree is a pure function of partition indices (group
  * `idx / fanIn`, ascending order inside the group, group id becomes
  * the next round's index), so the float sums are reproducible
  * run-to-run on a fixed layout — the property the old collect-and-
  * sort was bought for, kept without the funnel. The gate pins every
  * entry against the SQL oracle's `covar_pop` at 6 decimals
  * (summation-order drift is ~1e-15 abs, five orders of magnitude
  * under the rounding granularity — the partition-count-invariance
  * spec in PcaSpec asserts the rounded matrix is layout-independent).
  */
object Covariance {

  /** One partition's accumulated moments. */
  private final class Moments(val d: Int) extends Serializable {
    var n: Long = 0L
    val s: Array[Double] = new Array[Double](d)        // Σ x_i
    val g: Array[Double] = new Array[Double](d * (d + 1) / 2) // Σ x_i·x_j, i≤j
    def add(v: Array[Double]): Unit = {
      require(v.length == d, s"ragged embedding: ${v.length} != $d")
      n += 1
      var i = 0
      var k = 0
      while (i < d) {
        s(i) += v(i)
        var j = i
        while (j < d) { g(k) += v(i) * v(j); j += 1; k += 1 }
        i += 1
      }
    }
    def merge(o: Moments): Moments = {
      n += o.n
      var i = 0
      while (i < s.length) { s(i) += o.s(i); i += 1 }
      var k = 0
      while (k < g.length) { g(k) += o.g(k); k += 1 }
      this
    }
  }

  /** All d(d+1)/2 upper-triangle entries as rows `(i, j, cov)` with
    * 1-based indices (matching SQL `generate_subscripts`) and
    * population covariance `Σxy/n − μ_i·μ_j`, rounded to `digits`. */
  def covarianceMatrix(emb: DataFrame, digits: Int = 6,
                       fanIn: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    val (_, _, c) = momentsOf(emb, "embedding", fanIn)
    val scale = math.pow(10, digits)
    val rows = for { i <- c.indices; j <- i until c.length }
      yield Row((i + 1).toLong, (j + 1).toLong, math.rint(c(i)(j) * scale) / scale)
    // BIGINT indices, 1-based — the exact shape of SQL generate_subscripts
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("cov", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy("i", "j")
  }

  /** The merged raw moments, for callers (PCA) that need the full
    * matrix + mean on the driver rather than a DataFrame. Returns
    * (n, mean vector, dense symmetric population covariance).
    *
    * `fanIn` bounds both the per-round merge group size and the number
    * of partials ever collected to the driver; with ≤ fanIn input
    * partitions the tree degenerates to the plain ascending driver
    * fold, so small-layout results are bit-identical to the pre-tree
    * implementation. */
  private[similarity] def momentsOf(emb: DataFrame, vecCol: String,
                                    fanIn: Int = 64)
      : (Long, Array[Double], Array[Array[Double]]) = {
    require(fanIn >= 2, s"fanIn must be >= 2, got $fanIn")
    val vecs = emb
      .select(transform(col(vecCol), _.cast("double")).as("v"))
      .rdd.map(_.getSeq[Double](0).toArray)
    var partials: org.apache.spark.rdd.RDD[(Long, Moments)] = vecs
      .mapPartitionsWithIndex { (idx, it) =>
        val first = if (it.hasNext) it.next() else null
        if (first == null) Iterator.empty
        else {
          val m = new Moments(first.length)
          m.add(first)
          it.foreach(m.add)
          Iterator((idx.toLong, m))
        }
      }
    // Deterministic fixed-fan-in tree: group idx/fanIn, merge ascending
    // inside the group, group id becomes next round's index (keeps the
    // indices contiguous, so every round's grouping is a pure function
    // of the ORIGINAL partition layout). Width is tracked from the
    // partition count, not a count() job — empty partitions only make
    // groups smaller, never change the grouping.
    var width = vecs.getNumPartitions.toLong
    while (width > fanIn) {
      val nextWidth = (width + fanIn - 1) / fanIn
      val reduceParts = math.min(nextWidth, 2048L).toInt.max(1)
      partials = partials
        .map { case (i, m) => (i / fanIn, (i, m)) }
        .groupByKey(reduceParts)
        .map { case (g, ms) =>
          (g, ms.toArray.sortBy(_._1).map(_._2).reduceLeft(_.merge(_)))
        }
      width = nextWidth
    }
    val tail = partials.collect().sortBy(_._1).map(_._2)
    require(tail.nonEmpty, "momentsOf: empty input")
    val m = tail.reduceLeft(_.merge(_))
    val n = m.n.toDouble
    val mean = m.s.map(_ / n)
    val c = Array.ofDim[Double](m.d, m.d)
    var i = 0
    var k = 0
    while (i < m.d) {
      var j = i
      while (j < m.d) {
        val cov = m.g(k) / n - mean(i) * mean(j)
        c(i)(j) = cov; c(j)(i) = cov
        j += 1; k += 1
      }
      i += 1
    }
    (m.n, mean, c)
  }
}
