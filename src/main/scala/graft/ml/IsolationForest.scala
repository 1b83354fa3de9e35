package graft.ml

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Isolation Forest (Liu, Ting, Zhou — ICDM 2008), the anomaly detector
  * the reference runs via sklearn on driver-side samples
  * (`part2.ipynb` cell 23: 100 trees, contamination 0.02).
  *
  * Distributed shape: tree BUILDING needs only t·ψ sampled rows
  * (default 100·256 — KBs, collected to the driver exactly like
  * sklearn's fit on a sample); the built forest is a few hundred KB,
  * broadcast; SCORING — the part that touches all 100 TB — runs
  * partition-wise with no shuffle. */
object IsolationForest {

  /** ψ, the subsample size each tree is grown on, and the sampling seed. */
  private val SampleSize = 256
  private val Seed = 42L

  sealed trait Node
  final case class Leaf(size: Int) extends Node
  final case class Split(feature: Int, threshold: Double,
                         lo: Node, hi: Node) extends Node

  /** Average unsuccessful-search path length in a BST of n nodes.
    * n = 2 is exactly 1 (the asymptotic form would give 0.154 and bias
    * scores high for rows landing in 2-row leaves — matches the
    * reference implementations' special case). */
  def c(n: Double): Double =
    if (n <= 1.0) 0.0
    else if (n <= 2.0) 1.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649) - 2.0 * (n - 1.0) / n

  final case class Model(trees: Seq[Node], sampleSize: Int,
                         featureCols: Seq[String]) {

    def pathLength(x: Array[Double], node: Node, depth: Int): Double =
      node match {
        case Leaf(size) => depth + c(size.toDouble)
        case Split(f, t, lo, hi) =>
          pathLength(x, if (x(f) < t) lo else hi, depth + 1)
      }

    /** Anomaly score in (0,1); > 0.5 ⇒ shorter-than-average isolation. */
    def score(x: Array[Double]): Double = {
      val avg = trees.map(t => pathLength(x, t, 0)).sum / trees.size
      math.pow(2.0, -avg / c(sampleSize.toDouble))
    }

    /** Score every row (partition-wise; the model rides along as a
      * broadcast-sized closure). Rows with null / non-numeric / NaN
      * features get a NULL score — NaN would silently rank them as the
      * MOST anomalous (NaN compares greater than every number in Spark
      * SQL and sorts first under desc). */
    def transform(df: DataFrame, scoreCol: String = "anomaly_score"): DataFrame = {
      val spark = df.sparkSession
      val model = this
      val n = featureCols.size
      // SQL casts (null on non-numeric strings) instead of getAs[Number],
      // which would crash scoring on string-typed feature columns
      val withCasts = df.select(df.columns.map(col) ++
        featureCols.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"_f$i") }: _*)
      val outSchema = StructType(df.schema.fields :+
        StructField(scoreCol, DoubleType, nullable = true))
      val width = df.columns.length
      val rdd = withCasts.rdd.mapPartitions { it =>
        it.map { r =>
          val x = new Array[Double](n)
          var bad = false
          var i = 0
          while (i < n) {
            if (r.isNullAt(width + i)) bad = true
            else {
              x(i) = r.getDouble(width + i)
              if (x(i).isNaN) bad = true
            }
            i += 1
          }
          val score: Any = if (bad) null else model.score(x)
          Row.fromSeq(r.toSeq.take(width) :+ score)
        }
      }
      spark.createDataFrame(rdd, outSchema)
    }
  }

  private def buildTree(data: Array[Array[Double]], heightLimit: Int,
                        rnd: Random): Node = {
    def grow(rows: Array[Array[Double]], depth: Int): Node = {
      if (rows.length <= 1 || depth >= heightLimit) Leaf(rows.length)
      else {
        val nFeat = rows.head.length
        // pick among features that still vary within this node
        val varying = (0 until nFeat).filter { f =>
          var mn = rows.head(f); var mx = rows.head(f)
          rows.foreach { r => if (r(f) < mn) mn = r(f); if (r(f) > mx) mx = r(f) }
          mx > mn
        }
        if (varying.isEmpty) Leaf(rows.length)
        else {
          val f = varying(rnd.nextInt(varying.size))
          var mn = rows.head(f); var mx = rows.head(f)
          rows.foreach { r => if (r(f) < mn) mn = r(f); if (r(f) > mx) mx = r(f) }
          val t = mn + rnd.nextDouble() * (mx - mn)
          val (lo, hi) = rows.partition(_(f) < t)
          if (lo.isEmpty || hi.isEmpty) Leaf(rows.length)
          else Split(f, t, grow(lo, depth + 1), grow(hi, depth + 1))
        }
      }
    }
    grow(data, 0)
  }

  /** Fit on seeded subsamples (one `sample`+`collect` of t·ψ rows). */
  def fit(df: DataFrame, featureCols: Seq[String],
          numTrees: Int = 100): Model = {
    val total = numTrees.toLong * SampleSize
    val n = df.count()
    val fraction = math.min(1.0, (total * 1.2).toDouble / math.max(n, 1L))
    val sampled = df
      .select(featureCols.map(c => col(c).cast("double")): _*)
      .na.drop()
      .sample(withReplacement = n < total, fraction, Seed)
      .collect()
      .map(r => featureCols.indices.map(r.getDouble).toArray)
    require(sampled.nonEmpty, "no rows to fit on")
    val rnd = new Random(Seed)
    val heightLimit = math.ceil(math.log(SampleSize.toDouble) / math.log(2.0)).toInt
    val trees = (0 until numTrees).map { _ =>
      val sub = Array.fill(math.min(SampleSize, sampled.length))(
        sampled(rnd.nextInt(sampled.length)))
      buildTree(sub, heightLimit, rnd)
    }
    Model(trees, SampleSize, featureCols)
  }

  /** Reference-shaped convenience: fit + flag the `contamination`
    * fraction with the highest scores (`part2.ipynb` cell 23 semantics:
    * IsolationForest(contamination=0.02) labels). */
  def detect(df: DataFrame, featureCols: Seq[String],
             contamination: Double = 0.02, numTrees: Int = 100): DataFrame = {
    // persist: approxQuantile is an action over the scored frame, and the
    // caller's first action would otherwise re-run the 100-tree scoring.
    // MEMORY_AND_DISK evicts/spills under pressure; a caller scoring many
    // frames in one long session should unpersist the returned frame's
    // parent when done with it.
    val scored = fit(df, featureCols, numTrees).transform(df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val threshold = scored.stat
      .approxQuantile("anomaly_score", Array(1.0 - contamination), 0.001).head
    // null scores (null-feature rows) are NOT anomalies, not "greater
    // than threshold"
    scored.withColumn("is_anomaly",
      col("anomaly_score").isNotNull && col("anomaly_score") >= threshold)
  }
}
