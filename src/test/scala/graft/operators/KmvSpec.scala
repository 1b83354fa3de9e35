package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class KmvSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(n: Int, g: String = "s") =
    (0 until n).map(i => (g, s"unique document text number $i"))
      .toDF("source", "text")

  test("below k the sketch reports the exact distinct count") {
    val r = Relational.kmvDistinctEstimate(docs(100), "source", "text",
      k = 256).collect().head
    assert(r.getAs[Long]("n_kept") == 100L)
    assert(r.getAs[Double]("kmv_estimate") == 100.0)
  }

  test("above k the estimate lands within the sketch's error band") {
    val r = Relational.kmvDistinctEstimate(docs(10000), "source", "text",
      k = 256).collect().head
    assert(r.getAs[Long]("n_kept") == 256L)
    val est = r.getAs[Double]("kmv_estimate")
    // rse ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert(math.abs(est - 10000) / 10000 < 0.25, s"estimate $est")
  }

  test("merging two halves' bottom-k sets reproduces the whole-corpus sketch") {
    val all = docs(5000)
    val whole = Relational.kmvDistinctEstimate(all, "source", "text", k = 64)
      .collect().head.getAs[Double]("kmv_estimate")
    def bottomK(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(graft.functions.HashExpressions.fnv1a32(col("text")).as("h"))
        .distinct().orderBy("h").limit(64)
        .collect().map(_.getLong(0)).toSeq
    val a = bottomK(all.filter(length(col("text")) % 2 === 0))
    val b = bottomK(all.filter(length(col("text")) % 2 =!= 0))
    val merged = (a ++ b).distinct.sorted.take(64)
    val kth = merged.last
    val mergedEst = math.rint(63.0 / (kth / 4294967296.0) * 1e4) / 1e4
    assert(mergedEst == whole)
  }

  test("kmvSetOps: identical, disjoint, and half-overlapping sets") {
    def pair(aVals: Seq[Int], bVals: Seq[Int]) =
      (aVals.map(v => ("A", s"v$v")) ++ bVals.map(v => ("B", s"v$v")))
        .toDF("g", "v")
    val same = Relational.kmvSetOps(pair(1 to 100, 1 to 100),
      "g", "v", "A", "B", k = 256).collect().head
    assert(same.getAs[Double]("est_jaccard") == 1.0)
    assert(same.getAs[Double]("est_union") == 100.0)
    assert(same.getAs[Double]("est_intersection") == 100.0)
    val disj = Relational.kmvSetOps(pair(1 to 100, 201 to 300),
      "g", "v", "A", "B", k = 256).collect().head
    assert(disj.getAs[Double]("est_jaccard") == 0.0)
    assert(disj.getAs[Double]("est_union") == 200.0)
    // below-k sides are exact: |A∪B| = 150, |A∩B| = 50 -> J = 1/3
    val half = Relational.kmvSetOps(pair(1 to 100, 51 to 150),
      "g", "v", "A", "B", k = 256).collect().head
    assert(half.getAs[Double]("est_jaccard") == 0.333333)
    assert(half.getAs[Double]("est_intersection") == 50.0)
  }

  test("forced shortfall retries and still returns the exact bottom-k") {
    // initialFactor = 1 puts the pre-filter cut AT the expected kth
    // hash — roughly half the groups land short of k candidates and
    // must take the retry path; the result must be bit-identical to
    // the plain full-sort reference either way
    val df = (0 until 4000).map(i => (s"g${i % 4}", s"value $i"))
      .toDF("source", "text")
    val h = graft.functions.HashExpressions.fnv1a32(col("text"))
    val fast = Relational.kmvBottomK(df, "source", h, k = 256,
        initialFactor = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val ref = df.select(col("source"), h.as("h")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 256)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == ref)
  }

  test("a NULL group key sketches like any other group") {
    val df = (0 until 300).map(i =>
      (if (i % 3 == 0) null else "s", s"text $i")).toDF("source", "text")
    val m = Relational.kmvDistinctEstimate(df, "source", "text", k = 256)
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Long]("n_kept"))
      .toMap
    assert(m(None) == 100L && m(Some("s")) == 200L)
  }

  test("many-groups regime (shuffle-hash prefilter) is bit-identical to broadcast") {
    // 200 groups × 30 values; broadcastGroupLimit = 1 forces EVERY
    // prefilter round onto the shuffle-hash path — the 10^9-group
    // regime scaled down. Result must match both the broadcast-regime
    // run and the plain full-sort reference.
    val df = (0 until 6000).map(i => (s"g${i % 200}", s"value $i"))
      .toDF("source", "text")
    val h = graft.functions.HashExpressions.fnv1a32(col("text"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // each call's rows, and the plans of its prefilter rounds: the one
    // join on the bounds frame's key `bg`, run behind an eager checkpoint
    def sketch(d: => org.apache.spark.sql.DataFrame): (Set[(String, Long, Int)], Seq[String]) = {
      var out = Set.empty[(String, Long, Int)]
      val plans = launchedBy { out = rows(d) }.plansReading("bg")
      assert(plans.nonEmpty, "no prefilter round ran")
      (out, plans)
    }
    val (shuffled, shuffledPlans) = sketch(Relational.kmvBottomK(df, "source", h, k = 16,
      broadcastGroupLimit = 1))
    shuffledPlans.foreach(plan => assert(plan.contains("ShuffledHashJoin"),
      s"forced many-groups regime did not shuffle-hash:\n$plan"))
    val (broadcasted, broadcastPlans) = sketch(Relational.kmvBottomK(df, "source", h, k = 16))
    broadcastPlans.foreach(plan => assert(plan.contains("BroadcastHashJoin"),
      s"small-groups regime did not broadcast:\n$plan"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val ref = rows(df.select(col("source"), h.as("h")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 16))
    assert(shuffled == ref && broadcasted == ref)
  }

  test("NULL values contribute no hash — count(DISTINCT v) semantics") {
    val df = (0 until 100).map(i =>
      ("s", if (i % 4 == 0) null else s"text $i")).toDF("source", "text")
    val r = Relational.kmvDistinctEstimate(df, "source", "text", k = 256)
      .collect().head
    assert(r.getAs[Long]("n_kept") == 75L)
    assert(r.getAs[Double]("kmv_estimate") == 75.0)
  }

  test("deep retry escalation does not overflow the bound arithmetic") {
    // initialFactor chosen so k·factor exceeds 2^31 immediately — the
    // old integer bound (k·factor·2^32) overflowed and ANSI-threw here
    val df = (0 until 3000).map(i => ("s", s"value $i")).toDF("source", "text")
    val h = graft.functions.HashExpressions.fnv1a32(col("text"))
    val got = Relational.kmvBottomK(df, "source", h, k = 256,
        initialFactor = 1L << 40)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    val ref = df.select(col("source"), h.as("h")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 256)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(got == ref)
  }

  test("duplicate values collapse before sketching") {
    val dup = (0 until 50).flatMap(i =>
      Seq.fill(7)(("s", s"text $i"))).toDF("source", "text")
    val r = Relational.kmvDistinctEstimate(dup, "source", "text", k = 256)
      .collect().head
    assert(r.getAs[Long]("n_kept") == 50L)
    assert(r.getAs[Double]("kmv_estimate") == 50.0)
  }
}
