package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 quantization of embedding columns — the
  * standard 4× memory/IO shrink applied before an ANN index or a
  * similarity cache is built at corpus scale (100 TB of float32 vectors
  * → 25 TB of int8 + one float scale per vector).
  *
  * Everything here is row-local (no shuffle, no UDF — codegen'd
  * `transform`/`aggregate` builtins), so the operator composes with any
  * scan and pushes through partitioning untouched.
  *
  * Arithmetic contract (kept bit-reproducible across engines so a SQL
  * oracle can replay it): work in doubles; `scale = max_i |x_i| / 127`
  * (1.0 when the vector is all-zero); `q_i = floor(x_i/scale + 0.5)` —
  * explicit half-up rounding, NOT the platform `round`, because SQL
  * engines disagree on rounding mode at .5 (HALF_EVEN vs HALF_AWAY)
  * while `floor(y + 0.5)` is identical everywhere. |q_i| ≤ 127 by
  * construction and `|x_i − q_i·scale| ≤ scale/2`. */
object Quantize {

  private def dbl(vec: Column): Column = transform(vec, _.cast("double"))

  /** `scale` for a (double-cast) vector: max|x|/127, or 1 for the zero
    * vector (every q_i is then 0, dequantization is exact). */
  private def scaleOf(d: Column): Column = {
    val maxAbs = array_max(transform(d, x => abs(x)))
    when(maxAbs === 0d, lit(1d)).otherwise(maxAbs / 127d)
  }

  /** Adds `qvec` (array<bigint> in [-127,127]) and `scale` (double).
    * Ints are kept as BIGINT, not cast to TINYINT, because Spark arrays
    * of byte still occupy object slots in exchange buffers — the 4×
    * saving is realized at the SINK (parquet INT8 logical type /
    * byte-packed binary), not in the operator. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val d = dbl(col("embedding"))
    embeddings
      .withColumn("scale", scaleOf(d))
      .withColumn("qvec",
        transform(dbl(col("embedding")), x => floor(x / col("scale") + 0.5d)))
  }

  /** Quantization audit: per input row, the worst absolute
    * reconstruction error and whether it honors the `scale/2` contract
    * (plus a tiny float slack). Emits exact-integer evidence (`q_sum`,
    * `q_min`, `q_max`) so a gate can pin the quantized values
    * themselves, not just the bound. */
  def reconstructionAudit(embeddings: DataFrame): DataFrame = {
    val q = quantizeInt8(embeddings)
    val err = zip_with(dbl(col("embedding")), col("qvec"),
      (x, qi) => abs(x - qi * col("scale")))
    q.select(col("vec_id"),
      aggregate(col("qvec"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
      array_min(col("qvec")).cast("long").as("q_min"),
      array_max(col("qvec")).cast("long").as("q_max"),
      (array_max(err) <= col("scale") * 0.5d + 1e-12).as("within_half_scale"))
  }

  /** The deterministic projection matrix [[randomProject]] uses: row j =
    * [[Similarity.planeWeights]](dim, j) scaled by √(12/outDim). The
    * splitmix64-derived weights are uniform in [-0.5, 0.5) (variance
    * 1/12), so the scale makes E‖y‖² = ‖x‖² — the Johnson–Lindenstrauss
    * normalization. Exposed so an oracle can embed the SAME literal
    * matrix instead of replaying 64-bit mix arithmetic in SQL. */
  def projectionMatrix(dim: Int, outDim: Int): Seq[Seq[Double]] = {
    val s = math.sqrt(12.0 / outDim)
    (0 until outDim).map(j => Similarity.planeWeights(dim, j).map(_ * s))
  }

  /** Deterministic random projection of an embedding column to `outDim`
    * dimensions — the JL-lemma shrink applied before brute-force or IVF
    * search when even int8 at full width is too wide (64-d float → 8-d
    * ≈ 8× less distance-compute per candidate; pairwise distances
    * preserved within 1±ε in expectation). No stored model: every
    * executor re-derives the same splitmix64 planes, so the operator is
    * a pure row-local projection — `outDim` codegen'd dot products per
    * row, zero shuffle, reproducible under retry on any engine. */
  def randomProject(embeddings: DataFrame, dim: Int,
                    outDim: Int): DataFrame = {
    require(outDim > 0 && outDim <= dim,
      s"need 0 < outDim <= dim, got outDim=$outDim dim=$dim")
    val d = dbl(col("embedding"))
    val comps = projectionMatrix(dim, outDim).zipWithIndex.map { case (row, j) =>
      graft.functions.HashExpressions.dotProduct(d, typedLit(row)).as(s"p$j")
    }
    embeddings.select(col("vec_id") +: comps: _*)
  }
}
