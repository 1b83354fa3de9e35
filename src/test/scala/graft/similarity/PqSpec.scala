package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** PQ on a corpus whose sub-vector vocabulary is SMALLER than the
  * codebook: quantization is then lossless, so codes must reconstruct
  * exactly and ADC must equal true squared L2. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  // dim 4, m=2 blocks of 2; only 3 distinct sub-vectors per block
  private def vec(a: Double, b: Double): Seq[Float] =
    Seq(a.toFloat, (a + 1).toFloat, b.toFloat, (b * 2).toFloat)

  private val corpus = Seq(
    (0L, vec(0, 0)), (1L, vec(0, 5)), (2L, vec(10, 0)),
    (3L, vec(10, 5)), (4L, vec(20, 5)), (5L, vec(20, 0)))
    .toDF("vec_id", "embedding")

  test("lossless codebooks make ADC equal exact squared L2") {
    val model = Pq.train(corpus, m = 2, k = 3, seed = 7L)
    val codes = Pq.encode(corpus, model)
    assert(codes.count() == 6)
    // every code within range, m codes per vector
    val flat = codes.select(col("vec_id"), explode(col("codes")).as("c"))
    assert(flat.count() == 12)
    assert(flat.agg(max("c")).head().getInt(0) < 3)
    val top = Pq.adcTopK(codes, corpus, model, Seq(0L, 3L), kNN = 6)
    // self distance is zero at rank 1
    val self = top.filter(col("vec_id") === col("query_id"))
      .select("rank", "adc").collect()
    assert(self.forall(r => r.getInt(0) == 1 && math.abs(r.getDouble(1)) < 1e-9))
    // ADC for query 0 vs vec 1 = ||(0,0)-(5,10)||^2 = 125 exactly
    val d01 = top.filter(col("query_id") === 0 && col("vec_id") === 1)
      .select("adc").head().getDouble(0)
    assert(math.abs(d01 - 125.0) < 1e-6, d01)
  }

  test("codes do not depend on input partitioning under a fixed model") {
    val model = Pq.train(corpus, m = 2, k = 3, seed = 7L)
    // midpoints sit equidistant between two codewords: the tie-break
    // must not depend on which partition a vector lands in
    val probes = corpus.unionByName(
      Seq((6L, vec(5, 0)), (7L, vec(15, 2.5)), (8L, vec(5, 2.5)))
        .toDF("vec_id", "embedding"))
    def codes(d: org.apache.spark.sql.DataFrame) = Pq.encode(d, model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val one = codes(probes.coalesce(1))
    assert(one.size == 9)
    assert(one == codes(probes.repartition(4)), "codes depend on partitioning")
  }
}
