package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The native expressions must be reachable from plain SQL via the
  * injected function registry (SparkSessionExtensions), and the injected
  * AQE runtime rule [[TinySortInOnePartition]] must sort tiny results in
  * one partition and leave everything else as Spark plans it. */
class GraftExtensionsSpec extends SparkTestBase {

  /** 24 groups of a 1000-row frame, sorted: a few hundred bytes. */
  private def sortedSmallAggregate: DataFrame =
    spark.range(1000).groupBy((col("id") % 24).as("h"))
      .agg(count(lit(1)).as("n"), sum("id").as("s")).orderBy("h")

  /** Collects `df`; its rows, its job count and its final AQE plan. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    var rows = Seq.empty[Row]
    val jobs = launchedBy { rows = df.collect().toSeq }.jobs
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    (rows, jobs, plan)
  }

  test("a sorted tiny aggregate runs 2 jobs and plans no range shuffle") {
    val (rows, jobs, plan) = run(sortedSmallAggregate)
    assert(jobs == 2, plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("Coalesce 1"), plan)
    assert(rows.map(_.getLong(0)) == (0L until 24L))
    assert(rows.map(_.getLong(1)).sum == 1000L)
  }

  test("excluding the rule by name restores the range shuffle, same rows") {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val (withRule, _, _) = run(sortedSmallAggregate)
    spark.conf.set(key, TinySortInOnePartition.ruleName)
    try {
      val (rows, jobs, plan) = run(sortedSmallAggregate)
      assert(jobs == 4, plan)
      assert(plan.contains("rangepartitioning"), plan)
      assert(rows == withRule)
    } finally spark.conf.unset(key)
  }

  test("an unpartitioned window over a tiny aggregate plans no single-partition exchange") {
    val months = spark.range(1000).groupBy((col("id") % 12).as("m")).count()
    val df = months.withColumn("base", first("count").over(Window.orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))).orderBy("m")
    val (rows, jobs, plan) = run(df)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(jobs == 2, plan)
    assert(rows.map(_.getLong(0)) == (0L until 12L))
    assert(rows.forall(_.getLong(2) == 84L)) // month 0: ids 0, 12, ..., 996
  }

  test("an aggregate over the size bound keeps its parallel range sort") {
    val df = spark.range(400000).groupBy((col("id") * 7 % 400000).as("k")).count().orderBy("k")
    val (rows, _, plan) = run(df)
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows.length == 400000)
    assert(rows.head.getLong(0) == 0L && rows.last.getLong(0) == 399999L)
  }

  test("a sort under a partition-dependent expression is left alone") {
    val df = sortedSmallAggregate.withColumn("mid", monotonically_increasing_id())
    val (rows, _, plan) = run(df)
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    assert(rows.map(_.getLong(0)) == (0L until 24L))
  }

  test("custom functions are callable from spark.sql") {
    val r = spark.sql(
      """SELECT
           simhash_text('the quick brown fox') AS sh,
           size(shingle_hashes('a b c d e')) AS n_shingles,
           dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
           intersect_count_sorted(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS ic,
           fnv1a32('a') AS fp
      """).collect().head
    assert(r.getAs[Long]("sh") != 0L)
    assert(r.getAs[Int]("n_shingles") == 3) // 5 tokens -> 3 shingles of 3
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Int]("ic") == 2)
    assert(r.getAs[Long]("fp") == ((2166136261L ^ 'a'.toLong) * 16777619L & 0xFFFFFFFFL))
  }

  test("SQL simhash equals the Column-API simhash") {
    import spark.implicits._
    val df = Seq("spark engines process data").toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql("SELECT simhash_text(text) AS s FROM ext_docs")
      .collect().head.getLong(0)
    val viaCol = graft.dedup.Dedup.withSimhash(df)
      .select("simhash").collect().head.getLong(0)
    assert(viaSql == viaCol)
  }

  test("nfc_normalize composes decomposed accents (interp = codegen = SQL)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val dec = "cafe\u0301 nai\u0308ve plain" // decomposed
    val comp = "caf\u00e9 na\u00efve plain" // precomposed
    val interp = TextNormalize.NfcNormalize(Literal.create(dec, StringType))
      .eval(InternalRow.empty).toString
    assert(interp == comp)
    val gen = Seq(Tuple1(dec)).toDF("t").repartition(1)
      .select(TextNormalize.nfcNormalize(col("t")).as("n"))
      .as[String].collect().head
    assert(gen == comp)
    val viaSql = spark.sql(s"SELECT nfc_normalize('$dec') AS n")
      .as[String].collect().head
    assert(viaSql == comp)
    // already-NFC fast path: content unchanged, no recomposition drift
    assert(TextNormalize.nfc(
      org.apache.spark.unsafe.types.UTF8String.fromString(comp)).toString == comp)
  }

  test("interpreted eval equals generated code for every native expression") {
    // the hand-written doGenCode bodies must agree with nullSafeEval —
    // Spark switches between them (constant folding, codegen fallback on
    // compile failure), so any divergence is a silent correctness fork
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog the end"
    val tLit = Literal.create(text, StringType)
    def arr[T](s: Seq[T], t: DataType) = Literal.create(s, ArrayType(t))
    val va = Seq(1.5, -2.0, 3.25); val vb = Seq(4.0, 0.5, -6.0)
    val la = Seq(1L, 5L, 9L, 11L); val lb = Seq(1L, 9L, 10L, 11L)
    def norm(v: Any): Any = v match {
      case a: ArrayData => a.toLongArray().toSeq
      case s: Seq[_] => s.map(_.asInstanceOf[Long])
      case other => other
    }
    // interpreted path: catalyst Literal children, direct eval
    val interp = Map(
      "sh" -> norm(HashExpressions.SimHashText(tLit).eval(InternalRow.empty)),
      "mh" -> norm(HashExpressions.MinHashSignature(
        HashExpressions.ShingleHashes(tLit, 3), 8).eval(InternalRow.empty)),
      "dp" -> HashExpressions.DotProduct(
        arr(va, DoubleType), arr(vb, DoubleType)).eval(InternalRow.empty),
      "ic" -> HashExpressions.IntersectCountSorted(
        arr(la, LongType), arr(lb, LongType)).eval(InternalRow.empty),
      "fp" -> HashExpressions.Fnv1a32(tLit).eval(InternalRow.empty))
    // generated path: non-literal columns through a plan that ACTUALLY
    // codegens — without the repartition, ConvertToLocalRelation
    // collapses Project-over-LocalRelation via the INTERPRETED
    // projection and doGenCode never runs (verified: optimizedPlan
    // becomes a pre-evaluated LocalRelation)
    val row = Seq((text, va, vb, la, lb)).toDF("t", "va", "vb", "la", "lb")
      .repartition(1)
      .select(
        HashExpressions.simhashText(col("t")).as("sh"),
        HashExpressions.minhashSignature(
          HashExpressions.shingleHashes(col("t"), 3), 8).as("mh"),
        HashExpressions.dotProduct(col("va"), col("vb")).as("dp"),
        HashExpressions.intersectCountSorted(col("la"), col("lb")).as("ic"),
        HashExpressions.fnv1a32(col("t")).as("fp"))
      .collect().head
    assert(norm(row.getAs[Long]("sh")) == interp("sh"))
    assert(norm(row.getAs[Seq[Long]]("mh")) == interp("mh"))
    assert(row.getAs[Double]("dp") == interp("dp"))
    assert(row.getAs[Int]("ic") == interp("ic"))
    assert(row.getAs[Long]("fp") == interp("fp"))
    // non-BMP input: the code-point fold must not split surrogate pairs
    val emoji = "a😀b" // a 😀 b
    val eLit = Literal.create(emoji, StringType)
    val eInterp = HashExpressions.Fnv1a32(eLit).eval(InternalRow.empty)
    val eGen = Seq(Tuple1(emoji)).toDF("t").repartition(1)
      .select(HashExpressions.fnv1a32(col("t"))).collect().head.getLong(0)
    assert(eGen == eInterp)
    // and the values themselves are right
    assert(row.getAs[Double]("dp") == 1.5 * 4.0 + -2.0 * 0.5 + 3.25 * -6.0)
    assert(row.getAs[Int]("ic") == 3)
  }

  test("bloom_might_contain: interp = codegen, exact on members, null-safe") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(4096, 0.01)
    val members = (0L until 500L).map(_ * 7919L)
    members.foreach(bf.putLong)
    val bfB = spark.sparkContext.broadcast(bf)
    val probes = members.take(50) ++ (0L until 50L).map(_ * 7919L + 3L)
    // interpreted path
    val interp = probes.map(p => HashExpressions
      .BloomMightContain(Literal.create(p, LongType), bfB)
      .eval(InternalRow.empty).asInstanceOf[Boolean])
    // generated path (repartition forces real codegen, see above)
    val gen = probes.toDF("k").repartition(1)
      .select(HashExpressions.bloomMightContain(col("k"), bfB).as("m"))
      .as[Boolean].collect().toSeq
    assert(gen == interp)
    // no false negatives on members
    assert(interp.take(50).forall(identity))
    // null input evaluates to null → dropped by filter, kept rows exact
    val kept = (members.take(3).map(java.lang.Long.valueOf) :+ null)
      .toDF("k").repartition(1)
      .filter(HashExpressions.bloomMightContain(col("k"), bfB))
      .count()
    assert(kept == 3L)
    bfB.destroy()
  }

  test("jaro_winkler is usable from SQL text") {
    val v = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw")
      .collect().head.getDouble(0)
    assert(math.abs(v - 0.9611111111111111) < 1e-12)
  }

  test("minhash_signature is usable in SQL over shingle_hashes") {
    val sig = spark.sql(
      "SELECT minhash_signature(shingle_hashes('w x y z w x'), 16) AS sig")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 16)
    assert(sig.forall(_ >= 0))
  }
}
