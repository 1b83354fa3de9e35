package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** End-to-end pretraining-data preparation: the composition a corpus
  * actually runs — exact dedup → quality filter → language ID → token
  * accounting — as one declarative plan, so Catalyst sees every stage at
  * once (filters fuse, the scan is read once, nothing materializes
  * between stages).
  *
  * Scale shape: the only corpus-sized shuffle is the dedup groupBy.
  * Quality scoring, language ID, and token counting are row-local
  * codegen'd expressions applied AFTER dedup (never score a byte you are
  * about to throw away), and the final aggregate is partial→final over a
  * handful of language keys. At 100 TB, swap the full-text dedup key for
  * [[graft.text.TextAnalysis.fingerprint]] (8 bytes/doc instead of the
  * payload — same plan shape, see [[graft.dedup.Dedup]]).
  */
object TrainingData {

  /** Surviving documents: one copy per distinct text (lowest doc_id),
    * quality ≥ `minQuality`, confident language guess.
    *
    * Stage order is score-then-elect, NOT dedup-then-score: every metric
    * here (tokens, quality, language) is a pure function of the text, so
    * exact copies carry identical metrics and filtering before or after
    * electing a representative is equivalent — but electing over a
    * 128-bit content hash means the shuffle moves ~40 bytes per doc
    * (hash + metrics) instead of the full payload. A groupBy(text) would
    * push the entire corpus through the exchange; this shape never
    * shuffles a document body at all. */
  def prepare(documents: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val scored = documents
      // one tokenization per document feeds every metric below
      .select(col("doc_id"), col("text"),
        md5(col("text").cast("binary")).as("_h"),
        TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("_h"), col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        TextAnalysis.qualityScoreOf(col("_toks"), col("text")).as("quality"),
        TextAnalysis.langGuessOf(col("_toks")).as("lang_guess"))
      .filter(col("quality") >= minQuality && col("lang_guess") =!= "und")
    // min(struct) elects the lowest doc_id per content hash and carries
    // that row's (copy-invariant) metrics with it
    scored
      .groupBy("_h")
      .agg(min(struct(col("doc_id"), col("lang_guess"), col("n_tokens"),
        col("quality"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("rep.lang_guess").as("lang_guess"),
        col("rep.n_tokens").as("n_tokens"), col("rep.quality").as("quality"))
  }

  /** Weighted mixture construction: sample each source at its own rate
    * (e.g. "keep 100% of books, 30% of web") in ONE pass via seeded
    * per-stratum Bernoulli sampling (`sampleBy`) — no per-source jobs,
    * no shuffle; the sample decision is row-local. The seed is fixed
    * (42), so mixtures are reproducible across re-runs. */
  def mixture(documents: DataFrame, weights: Map[String, Double]): DataFrame =
    documents.stat.sampleBy("source", weights, 42L)

  /** Deterministic EXACT-quota mixture: per source, keep the
    * `quotas(source)` documents with the smallest
    * `(fnv1a32(doc_id), doc_id)` — an unbiased pseudo-random subset with
    * exact sizes, where Bernoulli [[mixture]] only hits quotas in
    * expectation. The keep set is a pure function of the ids, so the
    * same mixture is selected on every re-run, by every engine with the
    * same hash (fully oracle-pinnable), and under speculative task
    * re-execution. Sources absent from `quotas` are dropped.
    *
    * Cost: one rank window per source (a per-source sort). At extreme
    * per-source cardinalities the scale variant is threshold selection —
    * keep `hash < t` with `t` chosen from a quantile sketch of the
    * hashes ([[graft.operators.Relational.hashSample]] is the fixed-rate
    * form) — trading exactness of the quota for a sort-free plan. */
  def mixtureByQuota(documents: DataFrame, quotas: Map[String, Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(graft.functions.HashExpressions.fnv1a32(col("doc_id").cast("string")),
        col("doc_id"))
    val quotaCol = quotas.foldLeft(lit(0)) { case (acc, (s, q)) =>
      when(col("source") === s, lit(q)).otherwise(acc)
    }
    documents
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= quotaCol)
      .drop("_rk")
  }

  /** Deterministic hash-banded train/val/test split: each document's
    * split is a pure row-local function of its id — `fnv1a32(id) mod
    * 100` banded by the requested percentages — so the split is
    * reproducible across re-runs, engines, and speculative task retries,
    * needs no shuffle or state, and a document can never migrate between
    * splits as the corpus grows (new ids land in bands, existing ids
    * keep theirs). Percentages: `[0,trainPct)` → train,
    * `[trainPct,trainPct+valPct)` → val, rest → test.
    *
    * NOT stratified: proportions hold only in expectation GLOBALLY — a
    * small stratum (rare source/language) can land entirely in one
    * split by hash chance. When per-stratum exactness matters, draw the
    * held-out sets with [[mixtureByQuota]] (exact per-source counts)
    * and keep the remainder as train. */
  def splitByHash(documents: DataFrame, trainPct: Int = 90,
                  valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val band = graft.functions.HashExpressions
      .fnv1a32(col("doc_id").cast("string")) % 100
    documents.withColumn("split",
      when(band < trainPct, "train")
        .when(band < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-safe variant of [[splitByHash]]: hash the document's
    * duplicate-GROUP representative instead of its own id, so every
    * member of a duplicate cluster lands in the same split — near-copies
    * of a training document can never contaminate val/test (the split
    * analogue of dedup-before-split). The cluster key is the
    * whitespace-normalized text (the [[graft.dedup.Dedup]] exact-dup
    * convention); the representative is the cluster's minimum
    * id, so group membership — not row order — decides the split.
    *
    * Scale shape: one groupBy on the (hashable) group key to elect
    * representatives plus one join back on the same key — identical
    * shuffle shape to exact dedup itself, then the band decision is
    * row-local. */
  def splitByGroup(documents: DataFrame, trainPct: Int = 90,
                   valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val keyed = documents.withColumn("_gk",
      regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " "))
    val reps = keyed.groupBy("_gk").agg(min(col("doc_id")).as("_grp"))
    val band = graft.functions.HashExpressions
      .fnv1a32(col("_grp").cast("string")) % 100
    keyed.join(reps, "_gk")
      .withColumn("split",
        when(band < trainPct, "train")
          .when(band < trainPct + valPct, "val")
          .otherwise("test"))
      .withColumn("group_id", col("_grp"))
      .drop("_gk", "_grp")
  }

  /** Per-domain sampling rates for temperature-scaled mixing (the
    * multilingual-pretraining α-sampling of XLM-R / mT5: sample domain
    * `i` with probability `q_i ∝ n_i^α`, `α < 1` flattening the natural
    * distribution so long-tail domains are up-weighted relative to their
    * raw share). Returns one row per domain: raw count, temperature
    * share `q_i` (rounded to 6 decimals — the cross-engine float
    * contract), and the keep band `b_i = round(min(1, q_i·T/n_i)·10⁴)`
    * where `T = targetFraction · N` is the target corpus size.
    *
    * Scale shape: the domain census is one partial→final aggregation
    * (domains ≪ corpus); the normalizing sum rides a one-row broadcast
    * crossJoin. Nothing here touches corpus-sized data twice. */
  def temperatureRates(documents: DataFrame, domainCol: String,
                       targetFraction: Double, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0, s"targetFraction must be positive")
    val counts = documents.groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"))
    val whole = counts.agg(
      sum(pow(col("n_docs").cast("double"), lit(alpha))).as("_wsum"),
      sum(col("n_docs")).as("_n"))
    counts.crossJoin(broadcast(whole))
      .withColumn("q_share",
        round(pow(col("n_docs").cast("double"), lit(alpha)) / col("_wsum"), 6))
      .withColumn("keep_band",
        least(round(col("q_share") * lit(targetFraction) * col("_n")
          / col("n_docs") * 10000, 0), lit(10000.0)).cast("int"))
      .select(col(domainCol), col("n_docs"), col("q_share"), col("keep_band"))
  }

  /** Temperature-scaled mixture: keep each document iff
    * `fnv1a32(id) mod 10⁴` falls under its domain's
    * [[temperatureRates]] band — a deterministic per-domain Bernoulli
    * thinning (the [[graft.operators.Relational.hashSample]] mechanism
    * at 0.01% granularity) whose expected output composition follows
    * the temperature distribution. Reproducible across re-runs,
    * engines, and speculative retries; a document's fate never changes
    * as the corpus grows unless its domain's rate does.
    *
    * Scale shape: rates are a domain-cardinality table broadcast into
    * the corpus scan; the keep decision is row-local. One pass. */
  def temperatureMixture(documents: DataFrame, domainCol: String,
                         targetFraction: Double,
                         alpha: Double = 0.5): DataFrame = {
    val rates = temperatureRates(documents, domainCol, targetFraction, alpha)
      .select(col(domainCol), col("keep_band"))
    documents.join(broadcast(rates), domainCol)
      .filter(pmod(graft.functions.HashExpressions
          .fnv1a32(col("doc_id").cast("string")), lit(10000L)) < col("keep_band"))
      .select(documents.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic shard assignment for training-data output layout:
    * `shard = fnv1a32(id) mod nShards`, a pure row-local function of the
    * id — shards are reproducible across re-runs and engines, stable
    * under speculative re-execution, and a document never migrates
    * between shards as the corpus grows. Downstream,
    * `repartition(col("shard")).write.partitionBy("shard")` gives one
    * writer task per shard with no small-file explosion. */
  def shardBy(documents: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    documents.withColumn("shard",
      pmod(graft.functions.HashExpressions.fnv1a32(col("doc_id").cast("string")),
        lit(nShards.toLong)).cast("int"))
  }

  /** Per-shard balance report (doc counts, id checksum, byte volume) —
    * the check that shard sizes are uniform enough that no single
    * training-reader stalls the epoch. One row-local hash + one
    * partial→final aggregate over `nShards` keys. */
  def shardProfile(documents: DataFrame, nShards: Int): DataFrame =
    shardBy(documents, nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text"))).as("n_chars"))
      .orderBy("shard")

  /** Deterministic token-budget subsample: visit documents in
    * pseudo-random order — ascending `(fnv1a32(id), id)` — and keep each
    * document whose token count still fits the remaining budget-prefix,
    * i.e. the longest prefix of the shuffled stream with cumulative
    * tokens ≤ `budgetTokens`. An unbiased "take N tokens of corpus"
    * draw that is exactly reproducible (pure function of ids + texts),
    * unlike a Bernoulli rate which only hits the budget in expectation.
    *
    * The cumulative sum runs through
    * [[graft.pipeline.Packing.withGlobalCumsumBefore]] — per-partition
    * offsets, no data-sized single-task window — so the plan holds at
    * corpus scale. The stream order is `(fnv1a32(id), id)`: the hash is
    * the shuffle, the id itself breaks hash collisions, so ids of any
    * magnitude stay deterministic. */
  def tokenBudgetSample(documents: DataFrame,
                        budgetTokens: Long): DataFrame = {
    val withN = documents
      .withColumn("_ord",
        graft.functions.HashExpressions.fnv1a32(col("doc_id").cast("string")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    Packing.withGlobalCumsumBefore(withN, col("n_tokens"), "_ord",
        tiebreakCol = Some("doc_id"))
      .filter(col("cum_before") + col("n_tokens") <= budgetTokens)
      .drop("_ord", "cum_before")
  }

  /** Per-source epoch schedule for hitting a token-budget mixture: for
    * each source with mixture weight `w`, the target token mass is
    * `budget · w / Σw`, and the schedule to reach it is "repeat the
    * source `n_epochs = floor(target / avail)` full times, then
    * Bernoulli-sample one more pass at `frac_p = (target − n_epochs ·
    * avail) / avail`" — the epochs table LLaMA-style data recipes
    * publish, telling you up front which sources will be over-sampled
    * (n_epochs ≥ 1, memorization risk) and which barely contribute.
    *
    * Scale shape: ONE corpus pass (per-source token sums — a
    * |sources|-row table), then pure column arithmetic on that table;
    * the weight map rides along as a broadcast map literal. Sources
    * absent from `weights` are excluded (no target → no schedule). */
  def epochSchedule(documents: DataFrame, weights: Map[String, Double],
                    budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and strictly positive")
    val wSum = weights.values.sum
    val target = element_at(typedLit(weights), col("source")) / wSum * budgetTokens
    documents
      .withColumn("_n", TextAnalysis.tokenCount(col("text")).cast("long"))
      .groupBy("source").agg(sum("_n").as("avail_tokens"))
      .withColumn("_target", target)
      .filter(col("_target").isNotNull)
      .select(col("source"), col("avail_tokens"),
        round(col("_target"), 2).as("target_tokens"),
        floor(col("_target") / col("avail_tokens")).as("n_epochs"),
        round((col("_target")
            - floor(col("_target") / col("avail_tokens")) * col("avail_tokens"))
          / col("avail_tokens"), 6).as("frac_p"))
      .orderBy("source")
  }

  /** Quality-weighted deterministic downsampling: keep each document
    * with probability `min(quality · rate, 1)`, decided by comparing
    * `fnv1a32(id) mod 10^6` against that probability — a pure row-local
    * function of (id, text), so the kept set is exactly reproducible
    * (across re-runs, engines, and task retries) while higher-quality
    * documents survive proportionally more often. The standard
    * quality-proportional corpus thinning (keep the good web, sample
    * the mediocre) without a mutable RNG anywhere. One codegen'd pass,
    * zero shuffle. */
  def qualityWeightedSample(documents: DataFrame,
                            rate: Double = 1.0): DataFrame = {
    require(rate >= 0, s"rate must be non-negative, got $rate")
    val p = least(TextAnalysis.qualityScore(col("text")) * rate, lit(1.0))
    documents.filter(
      pmod(graft.functions.HashExpressions.fnv1a32(col("doc_id").cast("string")),
        lit(1000000L)).cast("double") < p * 1000000.0)
  }

  /** EXACT-k weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES, 2006): each row draws the key `u^(1/w)` — `u` a uniform in
    * (0,1) derived deterministically from `fnv1a32(id ++ ":" ++ seed)`,
    * `w` its positive weight — and the k largest keys are the sample.
    * A-ES makes the inclusion law exactly the sequential
    * weighted-without-replacement draw, where Bernoulli thinning
    * ([[qualityWeightedSample]]) only controls E[size] and per-row
    * marginals. The draw is a pure function of (ids, weights, seed):
    * reproducible across re-runs, engines (oracle-pinnable), and task
    * retries; changing the seed redraws independently (the property the
    * statistical spec exercises).
    *
    * Scale shape: key computation is row-local codegen; selection is
    * `orderBy(key).limit(k)` — a TakeOrderedAndProject per-partition
    * heap carrying k rows per partition to the driver merge, never a
    * global sort. Rows with `w ≤ 0` have zero inclusion probability and
    * are filtered (A-ES is undefined there).
    *
    * CONTRACT: for cross-engine reproducibility the weight must itself
    * be a bit-reproducible function of the row (the r2 gate rounds the
    * quality score to 6 decimals on both sides before use). */
  def weightedSampleExact(df: DataFrame, k: Int, weight: Column,
                          idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    require(k > 0, s"weightedSampleExact: k must be positive, got $k")
    val u = (pmod(graft.functions.HashExpressions.fnv1a32(
        concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))),
      lit(1000000L)).cast("double") + 0.5) / 1000000.0
    df.filter(weight > 0)
      .withColumn("es_key", pow(u, lit(1.0) / weight))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  /** Stratified form of [[weightedSampleExact]]: an independent exact-k
    * A-ES draw WITHIN every `groupCol` stratum in one pass — "the best
    * k docs per source under the quality-weighted law", the per-stratum
    * quota draw a mixture builder runs after [[mixtureQuota]] decides
    * the quotas. Same deterministic `u^(1/w)` key (seed 42,
    * same reproducibility-under-retry contract); selection swaps the
    * global TakeOrderedAndProject for a `row_number` over a window
    * PARTITIONED by the stratum — state per task is one counter per
    * group, and k rows per group survive the shuffle's map side only.
    * Groups with fewer than k positive-weight rows keep them all. */
  def weightedSamplePerGroup(df: DataFrame, k: Int, weight: Column,
                             groupCol: String,
                             idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"weightedSamplePerGroup: k must be positive, got $k")
    val u = (pmod(graft.functions.HashExpressions.fnv1a32(
        concat(col(idCol).cast("string"), lit(":"), lit("42"))),
      lit(1000000L)).cast("double") + 0.5) / 1000000.0
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("es_key").desc, col(idCol))
    df.filter(weight > 0)
      .withColumn("es_key", pow(u, lit(1.0) / weight))
      .withColumn("_rn", row_number().over(win))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Trim the corpus to the central token-length band: keep documents
    * whose token count lies within the global `[lo, hi]` quantiles —
    * the standard "drop the pathological tails" pass (empty shells and
    * mega-documents both poison training batches). Exact interpolated
    * percentiles (one single-row aggregate, broadcast back as a
    * crossJoin of one row); at extreme scale swap `percentile` for
    * `percentile_approx` — same plan, sketch-bounded state (the
    * a27 gate pins that sketch's rank-error contract). */
  def trimToLengthBand(documents: DataFrame, lo: Double = 0.05,
                       hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"invalid band [$lo, $hi]")
    val withN = documents
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    val bounds = withN.agg(
      expr(s"percentile(n_tokens, $lo)").as("_lo"),
      expr(s"percentile(n_tokens, $hi)").as("_hi"))
    withN.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("_lo") && col("n_tokens") <= col("_hi"))
      .drop("_lo", "_hi")
  }

  /** Kish effective sample size of an importance-weighted mix —
    * ESS = (Σw)²/Σw², the diagnostic every weighted-sampling scheme
    * (DSIR, quality-weighted, temperature mixes) should publish: n docs
    * selected with wildly uneven weights behave statistically like ESS
    * ≪ n docs, and ess_ratio → 0 flags a mix dominated by a few rows.
    * One partial→final aggregation per group (two running sums);
    * nothing downstream of the group table. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          weight: Column): DataFrame = {
    val w = weight.cast("double")
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(w).as("_sw"), sum(w * w).as("_sw2"))
      .select(col(groupCol), col("n"),
        round(col("_sw") * col("_sw") / col("_sw2"), 6).as("ess"),
        round(col("_sw") * col("_sw") / col("_sw2") / col("n"), 6)
          .as("ess_ratio"))
      .orderBy(groupCol)
  }

  /** Per-language yield of the prepared corpus — the acceptance report a
    * data pipeline publishes per snapshot (docs kept, token budget,
    * mean quality). */
  def summary(documents: DataFrame): DataFrame =
    prepare(documents)
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        round(avg("quality"), 6).as("avg_quality"))
      .orderBy("lang_guess")

  /** Neyman optimal allocation (Neyman 1934): split a sampling budget
    * of `sampleN` across strata proportionally to N_h·σ_h — the design
    * step ahead of [[weightedSamplePerGroup]] when strata differ in
    * spread, not just size. One grouped moment aggregation + one scalar
    * broadcast; output is strata-sized. Shares are rounded BEFORE the
    * floor so the integer allocations can't flip on a 1-ulp moment
    * difference, and the flooring shortfall is redistributed by the
    * largest-remainder (Hamilton) rule — +1 to the strata with the
    * biggest fractional parts, ties to the smaller stratum key — so
    * `sum(alloc_n) = sampleN` exactly (unless the 6-decimal share
    * rounding pushes Σfloor past the budget, in which case nothing is
    * added). The remainder windows run on the strata-sized tier only. */
  def neymanAllocation(df: DataFrame, strataCol: String, valCol: String,
                       sampleN: Int): DataFrame = {
    require(sampleN > 0, s"sampleN must be positive, got $sampleN")
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(strataCol)
      .agg(count(lit(1)).as("n_rows"), stddev_pop(valCol).as("_sd"))
      .withColumn("_w", col("n_rows") * col("_sd"))
    val tot = g.agg(sum("_w").as("_tw"))
    g.crossJoin(broadcast(tot))
      .withColumn("share", round(col("_w") / col("_tw"), 6))
      .withColumn("_raw", lit(sampleN.toDouble) * col("share"))
      .withColumn("_fl", floor(col("_raw")).cast("long"))
      .withColumn("_short",
        lit(sampleN.toLong) - sum("_fl").over(Window.partitionBy()))
      .withColumn("_rn", row_number().over(Window.partitionBy()
        .orderBy((col("_raw") - col("_fl")).desc, col(strataCol).asc)))
      .select(col(strataCol), col("n_rows"), round(col("_sd"), 4).as("sigma"),
        col("share"),
        (col("_fl") + when(col("_rn") <= col("_short"), 1L).otherwise(0L))
          .as("alloc_n"))
      .orderBy(strataCol)
  }

  /** Leave-one-group-out influence on a corpus mean — the ablation
    * ledger ("which source is dragging mean quality down?") behind
    * source-level data-valuation sweeps. Closed form from the grouped
    * sums: mean_without_g = (T − T_g)/(N − n_g), influence = that minus
    * the overall mean — so the whole sweep is ONE grouped aggregation
    * plus a broadcast scalar, never |groups| recomputations. Exact
    * integer sums until the final divisions. */
  def looGroupInfluence(df: DataFrame, groupCol: String,
                        valCol: String): DataFrame = {
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"), sum(valCol).as("_s"))
    val tot = g.agg(sum("n_rows").as("_nt"), sum("_s").as("_st"))
    g.crossJoin(broadcast(tot))
      .withColumn("_mean_all", col("_st").cast("double") / col("_nt"))
      .withColumn("_mean_wo",
        (col("_st") - col("_s")).cast("double") / (col("_nt") - col("n_rows")))
      .select(col(groupCol), col("n_rows"),
        round(col("_mean_wo"), 4).as("mean_without"),
        round(col("_mean_wo") - col("_mean_all"), 4).as("influence"))
      .orderBy(groupCol)
  }
}
