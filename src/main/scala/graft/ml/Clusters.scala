package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMeans trip clustering (SURVEY A23, `part2.ipynb` cell 25:567-615):
  * log1p features → KMeans(k), then cluster profile summary. Uses
  * `spark.ml` directly — the distributed Lloyd's iterations replace the
  * reference's driver-side sklearn fit on a sample. */
object Clusters {

  /** Cluster count of every k-means fit here. */
  private val K = 4

  /** Machine-checkable clustering quality report (single row): pins the
    * feature engineering exactly (point count + feature means survive to
    * a SQL oracle) and asserts two quality invariants an oracle can
    * demand without re-running Lloyd's: the trained within-cluster SSE
    * explains at least 85% of total variance, and no cluster collapsed
    * empty. */
  /** Shared feature domain + construction for BOTH clustering entry
    * points. The explicit filter matches the ml1 oracle's WHERE clause:
    * value = -1 gives log1p(-1) = -Infinity, which VectorAssembler's
    * handleInvalid("skip") does NOT drop (skip removes only null/NaN),
    * so relying on assembler semantics would poison a fit — and desync
    * the gate — on such a row. */
  private def features(events: DataFrame, extra: Seq[org.apache.spark.sql.Column]): DataFrame =
    events
      .filter(col("value").isNotNull && col("value") > -1 && col("ts").isNotNull)
      .select(extra ++ Seq(
        log1p(col("value")).as("f_value"),
        hour(col("ts")).cast("double").as("f_hour")): _*)

  def qualityReport(events: DataFrame): DataFrame = {
    val feats = features(events, Seq.empty)
    val assembled = new VectorAssembler()
      .setInputCols(Array("f_value", "f_hour")).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(feats)
      .persist()
    try {
      val model = new KMeans().setK(K).setSeed(42L).setMaxIter(8)
        .setFeaturesCol("features").fit(assembled)
      val sse = model.summary.trainingCost
      val nonEmpty = model.summary.clusterSizes.count(_ > 0)
      // quality bar: within-cluster SSE must explain ≥85% of the total
      // (k=1) variance — an absolute bound a SQL engine can reason about
      // without re-running Lloyd's. (An hour-quartile partition was
      // measured ~91% here, i.e. near-optimal on this hour-dominated
      // feature pair; truncated Lloyd's lands between the two.)
      val g = assembled.agg(avg("f_value").as("mv"), avg("f_hour").as("mh"))
      val totalSse = assembled.crossJoin(broadcast(g))
        .select(sum(pow(col("f_value") - col("mv"), 2)
          + pow(col("f_hour") - col("mh"), 2)).as("s"))
        .head().getDouble(0)
      val naiveSse = totalSse * 0.15
      // rounding via Spark round() (HALF_UP) to match the oracle's
      // round() — math.rint would diverge on exact .5 ties
      assembled.agg(
        count(lit(1)).as("n_points"),
        round(avg("f_value"), 6).as("avg_f_value"),
        round(avg("f_hour"), 4).as("avg_f_hour"))
        .select(lit(K).as("k"), col("n_points"),
          col("avg_f_value"), col("avg_f_hour"),
          lit(sse <= naiveSse).as("sse_explains_85pct_variance"),
          lit(nonEmpty == K).as("clusters_nonempty"))
    } finally { assembled.unpersist(); () }
  }

  /** ml4 gate form: the per-cluster profile with labels CANONICALIZED by
    * centroid L2 norm (rank 0 = smallest), so KMeans' arbitrary label
    * permutation cannot flap the output, plus the per-cluster invariants
    * a SQL oracle can demand without re-running Lloyd's:
    *   - `n_total` — pinned exactly (the feature-domain row count);
    *   - `nonempty` — no cluster collapsed;
    *   - `centroid_in_hull` — each model centroid inside the per-feature
    *     data range;
    *   - `centroids_distinct` — positive pairwise centroid distance
    *     (k distinct modes, not a degenerate fit);
    *   - `no_worse_than_global` — per-cluster SSE to the cluster's own
    *     EMPIRICAL mean is at most those points' SSE to the GLOBAL mean.
    *     The mean minimizes within-cluster SSE, so this is a THEOREM for
    *     correct assignment bookkeeping (the model centroid would NOT
    *     be: with maxIter=8 the final reassignment can outrun the last
    *     centroid update and flake the gate). Convergence QUALITY is
    *     ml1's separate SSE-explains-85%-variance bound. */
  def clusterInvariantProfile(events: DataFrame, seed: Long = 42L): DataFrame = {
    val feats = features(events, Seq.empty)
    val assembled = new VectorAssembler()
      .setInputCols(Array("f_value", "f_hour")).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(feats)
      .persist()
    try {
      // fail fast, not NPE: an input whose rows ALL fall outside the
      // feature domain would otherwise surface as a confusing KMeans/
      // getDouble failure; the count also warms the cache the fit reads
      val nTotal = assembled.count()
      require(nTotal > 0,
        "clusterInvariantProfile: no rows in the clustering feature " +
          "domain (every value/ts is null or value <= -1)")
      val model = new KMeans().setK(K).setSeed(seed).setMaxIter(8)
        .setFeaturesCol("features").fit(assembled)
      val centers = model.clusterCenters.map(v => (v(0), v(1)))
      // canonical rank: ascending centroid norm, index as tie-break
      val rankOf = centers.zipWithIndex
        .sortBy { case ((x, y), i) => (math.sqrt(x * x + y * y), i) }
        .map(_._2).zipWithIndex.toMap
      val minPairDist = (for {
        i <- centers.indices; j <- (i + 1) until centers.length
      } yield {
        val dx = centers(i)._1 - centers(j)._1
        val dy = centers(i)._2 - centers(j)._2
        math.sqrt(dx * dx + dy * dy)
      }).min
      // nTotal > 0 (required above) ⇒ every aggregate below is non-null
      val g = assembled.agg(
        avg("f_value").as("mv"), avg("f_hour").as("mh"),
        min("f_value").as("mnv"), max("f_value").as("mxv"),
        min("f_hour").as("mnh"), max("f_hour").as("mxh")).head()
      val (gmv, gmh) = (g.getDouble(0), g.getDouble(1))
      val (mnv, mxv, mnh, mxh) = (g.getDouble(2), g.getDouble(3), g.getDouble(4), g.getDouble(5))
      val s = events.sparkSession
      import s.implicits._
      val centDf = centers.zipWithIndex.toSeq
        .map { case ((cx, cy), i) => (i, rankOf(i), cx, cy) }
        .toDF("prediction", "cluster_rank", "cx", "cy")
      // sse_own via the algebraic identity sum((x - mean)^2) =
      // sum(x^2) - sum(x)^2/n, so the empirical-mean SSE needs no
      // second pass (values are bounded — log1p and hours — so the
      // cancellation error is negligible against the invariant's slack)
      val byRank = model.transform(assembled)
        .join(broadcast(centDf), "prediction")
        .groupBy("cluster_rank")
        .agg(count(lit(1)).as("n"),
          sum("f_value").as("sv"), sum(pow(col("f_value"), 2)).as("svv"),
          sum("f_hour").as("sh"), sum(pow(col("f_hour"), 2)).as("shh"),
          sum(pow(col("f_value") - lit(gmv), 2)
            + pow(col("f_hour") - lit(gmh), 2)).as("sse_glob"))
        .withColumn("sse_own",
          col("svv") - pow(col("sv"), 2) / col("n")
            + col("shh") - pow(col("sh"), 2) / col("n"))
      // drive from the rank side so a collapsed cluster surfaces as
      // nonempty=false rather than a silently missing row
      centDf.select("cluster_rank", "cx", "cy")
        .join(byRank, Seq("cluster_rank"), "left")
        .select(col("cluster_rank"),
          lit(nTotal).as("n_total"),
          (coalesce(col("n"), lit(0L)) > 0).as("nonempty"),
          (col("cx") >= lit(mnv) && col("cx") <= lit(mxv) &&
            col("cy") >= lit(mnh) && col("cy") <= lit(mxh)).as("centroid_in_hull"),
          lit(minPairDist > 0.0).as("centroids_distinct"),
          (coalesce(col("sse_own"), lit(0.0))
            <= coalesce(col("sse_glob"), lit(0.0))).as("no_worse_than_global"))
        .orderBy("cluster_rank")
    } finally { assembled.unpersist(); () }
  }

  /** Cluster events on (log1p(value), hour) and report per-cluster sizes
    * and centroids — deterministic given the fixed seed. */
  def eventClusters(events: DataFrame, seed: Long = 42L): DataFrame = {
    val feats = features(events, Seq(col("event_id")))
    // skip, don't crash: one null/NaN row (null value, or value < -1
    // making log1p NaN) must not kill the clustering job
    val assembled = new VectorAssembler()
      .setInputCols(Array("f_value", "f_hour")).setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(feats)
    // maxIter 8: the 2-D log-feature space converges in a handful of
    // Lloyd's iterations; the default 20 mostly buys repeated no-op jobs.
    val model = new KMeans().setK(K).setSeed(seed).setMaxIter(8)
      .setFeaturesCol("features").fit(assembled)
    model.transform(assembled)
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n"),
        round(avg("f_value"), 4).as("avg_log_value"),
        round(avg("f_hour"), 4).as("avg_hour"))
      .orderBy("cluster")
  }
}
