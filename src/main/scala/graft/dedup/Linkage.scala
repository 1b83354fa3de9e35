package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter, "A
  * Theory for Record Linkage", JASA 1969) — the scoring model behind
  * Splink/dedupe-style entity resolution: each candidate pair gets an
  * agreement vector over compare fields, and the match weight is the
  * log-likelihood ratio Σ_f log2(P(γ_f | match) / P(γ_f | non-match)).
  *
  * Practical estimation shortcut (standard in production linkers): the
  * u-probabilities — P(field agrees | non-match) — are estimated from
  * the candidate-pair population itself, since at corpus scale the
  * overwhelming majority of blocked pairs are non-matches; the
  * m-probabilities are supplied (domain priors, or an EM fit upstream).
  *
  * Scale shape: blocking bounds the quadratic — pairs are generated
  * ONLY within a block (self-join on the blocking key), so pair volume
  * is Σ_b C(|b|, 2), not C(n, 2). The u-estimates are one aggregate
  * over the pair stream, broadcast back; the final output is one row
  * per agreement PATTERN (2^|fields| rows), never per pair. A skewed
  * block is the hazard at 100 TB: guard with a block-size cap upstream
  * ([[graft.dedup.Dedup]]'s sorted-neighborhood tier) or salt the
  * self-join ([[graft.operators.Skew]]).
  */
object Linkage {

  /** One compare field: `agree` must evaluate to a 0/1 int over the
    * pair frame (columns of the left record are `l_<col>`, right
    * `r_<col>`), `m` is P(agree | match). */
  final case class CompareField(name: String, agree: Column, m: Double)

  /** Fellegi–Sunter weights by agreement pattern. Input `records` must
    * carry a unique long `idCol` and the blocking key `blockCol`; pairs
    * are (id_l < id_r) within a block. Output: one row per observed
    * agreement pattern — the 0/1 agreement flag per field, `n_pairs`,
    * and the pattern's match `weight` in bits — ordered by weight
    * descending (ties impossible: distinct patterns have distinct
    * weights unless m/u collide, and then the flag columns break the
    * tie deterministically via the secondary sort).
    */
  def matchWeights(records: DataFrame, idCol: String, blockCol: String,
                   fields: Seq[CompareField]): DataFrame = {
    require(fields.nonEmpty, "linkage: need at least one compare field")
    val lhs = records.columns.foldLeft(records) { (df, c) =>
      df.withColumnRenamed(c, s"l_$c") }
    val rhs = records.columns.foldLeft(records) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c") }
    val pairs = lhs.join(rhs,
        col(s"l_$blockCol") === col(s"r_$blockCol")
          && col(s"l_$idCol") < col(s"r_$idCol"))
      .select(fields.map(f => f.agree.cast("int").as(s"g_${f.name}")): _*)
    // u_f = P(agree | candidate pair): one aggregate over the pair
    // stream; joins back as a broadcast one-row frame
    val u = pairs.agg(
      fields.map(f => avg(col(s"g_${f.name}")).as(s"u_${f.name}")).head,
      fields.tail.map(f => avg(col(s"g_${f.name}")).as(s"u_${f.name}")): _*)
    val byPattern = pairs
      .groupBy(fields.map(f => col(s"g_${f.name}")): _*)
      .agg(count(lit(1)).as("n_pairs"))
    val log2 = (c: Column) => log(c) / log(lit(2.0))
    val weight = fields.map { f =>
      when(col(s"g_${f.name}") === 1, log2(lit(f.m) / col(s"u_${f.name}")))
        .otherwise(log2(lit(1.0 - f.m) / (lit(1.0) - col(s"u_${f.name}"))))
    }.reduce(_ + _)
    byPattern.crossJoin(broadcast(u))
      .select((fields.map(f => col(s"g_${f.name}"))
        :+ col("n_pairs") :+ round(weight, 4).as("weight")): _*)
      .orderBy(desc("weight") +: fields.map(f => col(s"g_${f.name}")): _*)
  }

  /** The blocked agreement-pattern census — 2^|fields| rows of
    * (γ₁..γ_k, n_pairs) — the sufficient statistic both [[matchWeights]]
    * and [[emFit]] consume. One aggregation over the pair stream. */
  def patternCounts(records: DataFrame, idCol: String, blockCol: String,
                    fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "linkage: need at least one compare field")
    val lhs = records.columns.foldLeft(records) { (df, c) =>
      df.withColumnRenamed(c, s"l_$c") }
    val rhs = records.columns.foldLeft(records) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c") }
    lhs.join(rhs,
        col(s"l_$blockCol") === col(s"r_$blockCol")
          && col(s"l_$idCol") < col(s"r_$idCol"))
      .select(fields.map { case (n, agree) =>
        agree.cast("int").as(s"g_$n") }: _*)
      .groupBy(fields.map { case (n, _) => col(s"g_$n") }: _*)
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Blocking-quality census (Christen, "Data Matching", 2012 §7.5's
    * reduction ratio + pairs completeness): how much of the quadratic
    * does the blocking key kill, and what fraction of TRUE duplicate
    * pairs survive it — the two numbers that justify any blocked
    * linkage pipeline. `entityCol` labels ground-truth entities
    * (planted clones, or adjudicated matches).
    *
    * Zero pairs are materialized: every count is a closed form over
    * group sizes — candidates = Σ_b C(|b|,2) from the block census,
    * true pairs = Σ_e C(|e|,2) from the entity census, captured =
    * Σ_{e,b} C(c,2) from the (entity, block) census — three aggregation
    * passes, each output-bounded, at ANY corpus size. */
  def blockingQuality(records: DataFrame, blockCol: String,
                      entityCol: String): DataFrame = {
    def pairsOf(c: Column) = (c * (c - 1) / 2).cast("long")
    val n = records.agg(count(lit(1)).as("_n"))
      .select(col("_n"), pairsOf(col("_n")).as("_all"))
    val cand = records.groupBy(col(blockCol))
      .agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum(pairsOf(col("_c"))), lit(0L)).as("_cand"))
    val truth = records.groupBy(col(entityCol))
      .agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum(pairsOf(col("_c"))), lit(0L)).as("_true"))
    val captured = records.groupBy(col(entityCol), col(blockCol))
      .agg(count(lit(1)).as("_c"))
      .agg(coalesce(sum(pairsOf(col("_c"))), lit(0L)).as("_cap"))
    n.crossJoin(broadcast(cand)).crossJoin(broadcast(truth))
      .crossJoin(broadcast(captured))
      .select(col("_n").as("n_records"), col("_all").as("n_all_pairs"),
        col("_cand").as("n_candidates"), col("_true").as("n_true_pairs"),
        col("_cap").as("n_captured"),
        when(col("_all") > 0,
          round(lit(1.0) - col("_cand") / col("_all").cast("double"), 6))
          .as("reduction_ratio"),
        when(col("_true") > 0,
          round(col("_cap") / col("_true").cast("double"), 6))
          .as("pairs_completeness"))
  }

  /** Unsupervised EM fit of the Fellegi–Sunter mixture (the Splink /
    * Winkler 1988 estimator): treat the agreement patterns as a
    * two-component product-of-Bernoullis mixture and iterate
    *   E: w_γ = λ·Π m^γ(1−m)^(1−γ) / [λ·Π… + (1−λ)·Π u^γ(1−u)^(1−γ)]
    *   M: λ = Σ n_γ w_γ / N,  m_f = Σ n_γ w_γ γ_f / Σ n_γ w_γ,
    *      u_f = Σ n_γ (1−w_γ) γ_f / Σ n_γ (1−w_γ)
    * for `iters` rounds from fixed literal inits (λ=0.5, m=0.8, u=0.2).
    *
    * Scale shape: the corpus-sized work is [[patternCounts]] (one
    * aggregation); EM itself runs on the 2^|fields|-row census —
    * bounded by construction (≤ 6 fields ⇒ ≤ 64 rows), collected and
    * folded in sorted-pattern order so every float op has ONE fixed
    * evaluation order regardless of cluster partitioning. Returns the
    * census with each pattern's posterior match probability plus the
    * fitted parameters as `param`/`value` rows appended. */
  def emFit(records: DataFrame, idCol: String, blockCol: String,
            fields: Seq[(String, Column)], iters: Int = 3): DataFrame = {
    require(fields.lengthCompare(6) <= 0,
      s"emFit: at most 6 fields (2^k census), got ${fields.length}")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = records.sparkSession
    val k = fields.length
    val census = patternCounts(records, idCol, blockCol, fields)
      .collect()
      .map { r => (fields.indices.map(i => r.getInt(i).toLong),
        r.getLong(k)) }
      .sortBy(_._1.mkString) // fixed fold order: pattern-lexicographic
    val n = census.map(_._2).sum.toDouble
    var lambda = 0.5
    var m = Array.fill(k)(0.8)
    var u = Array.fill(k)(0.2)
    var w = Array.fill(census.length)(0.0)
    for (_ <- 1 to iters) {
      w = census.map { case (g, _) =>
        val pm = lambda * g.indices.map(f =>
          if (g(f) == 1L) m(f) else 1.0 - m(f)).product
        val pu = (1.0 - lambda) * g.indices.map(f =>
          if (g(f) == 1L) u(f) else 1.0 - u(f)).product
        pm / (pm + pu)
      }.toArray
      val sw = census.indices.map(i => census(i)._2 * w(i)).sum
      val su = n - sw
      lambda = sw / n
      m = Array.tabulate(k)(f => census.indices
        .map(i => census(i)._2 * w(i) * census(i)._1(f)).sum / sw)
      u = Array.tabulate(k)(f => census.indices
        .map(i => census(i)._2 * (1.0 - w(i)) * census(i)._1(f)).sum / su)
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val patternRows = census.indices.map { i =>
      val (g, c) = census(i)
      Row.fromSeq(Seq("pattern:" + g.mkString(""), c.toDouble, r6(w(i))))
    }
    val paramRows = (Seq(Row("lambda", n, r6(lambda)))
      ++ fields.indices.map(f =>
        Row(s"m_${fields(f)._1}", n, r6(m(f))))
      ++ fields.indices.map(f =>
        Row(s"u_${fields(f)._1}", n, r6(u(f)))))
    val schema = StructType(Seq(StructField("item", StringType),
      StructField("n", DoubleType), StructField("value", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize((patternRows ++ paramRows).toSeq, 1),
      schema).orderBy("item")
  }
}
