package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-set decontamination — the GPT-3 appendix-C / PaLM procedure every
  * serious training-data pipeline runs: remove from the training corpus
  * any document sharing at least one `k`-token shingle with an
  * evaluation/benchmark set, so measured eval numbers are not memorized
  * leakage.
  *
  * Scale shape at 100 TB: the eval side is small and static — its
  * distinct shingle set is broadcast (at extreme eval sizes a Bloom
  * filter of the shingles, trading false-positive over-removal for
  * memory). The corpus side is one row-local shingle pass, a broadcast
  * LEFT SEMI join to collect contaminated doc_ids, and a broadcast
  * LEFT ANTI join to drop them. No corpus self-join and no
  * corpus-keyed wide shuffle at any point.
  */
object Decontaminate {

  /** doc_ids of training documents sharing ≥1 `k`-token shingle with
    * `evalDocs`. Matching runs on 8-byte FNV shingle HASHES, not shingle
    * strings — the exploded corpus side carries fixed-width longs and
    * the broadcast eval set shrinks ~10× (measured 52 s → string probes
    * vs ~17 s hashed at 500k docs); a 64-bit collision can only
    * over-remove (safe direction), at negligible odds. FNV mode keeps
    * the match DuckDB-reproducible for the gate oracle. Documents
    * shorter than `k` tokens contribute their whole text as one
    * shingle, so short-document exact dups are still caught
    * ([[graft.functions.HashExpressions.ShingleHashes]] semantics). */
  def contaminatedIds(docs: DataFrame, evalDocs: DataFrame, k: Int = 8): DataFrame = {
    val evalSh = evalDocs
      .select(explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .distinct()
    docs
      .select(col("doc_id"), explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .join(broadcast(evalSh), "sh")
      .select("doc_id")
      .distinct()
  }

  /** Bloom-filter variant of [[contaminatedIds]] for eval sets too large
    * to broadcast as an exact string set: the eval shingles are folded
    * into a Bloom filter (bits ∝ n·ln(1/fpp) — a few MB for millions of
    * shingles), broadcast once, and probed per corpus shingle.
    *
    * Error direction is the SAFE one for decontamination: false
    * positives over-remove training docs (bounded by `fpp` per probe),
    * false negatives cannot happen — every truly contaminated doc is
    * caught. `fpp` is fixed at 1e-6 because a doc makes ~one probe per
    * token: at 1e-2 a 50-shingle doc would be spuriously flagged with
    * probability ≈ 0.4, at 1e-6 ≈ 5e-5. The per-shingle membership probe
    * is the codegen'd [[graft.functions.HashExpressions.BloomMightContain]]
    * expression (Spark exposes no public bloom-membership function), so
    * the corpus-side filter stays inside whole-stage codegen. */
  def contaminatedIdsBloom(docs: DataFrame, evalDocs: DataFrame,
                           k: Int = 8): DataFrame = {
    val evalSh = evalDocs
      .select(explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
    // Floor the sizing: Spark's BloomFilter uses Murmur double hashing,
    // whose false-positive rate floors at ~1e-4 when the bit array is
    // small REGARDLESS of the requested fpp (measured: 240 items at
    // fpp=1e-6 → 1.8e-4 actual; at 1e-12 → 9.5e-5; sized for 4096 items
    // → 0 in 10^6 probes). Overprovisioning to ≥4096 items costs a few
    // KB and restores the fpp contract for small eval sets; large eval
    // sets are past the floor anyway.
    // Two actions read evalSh (the sizing count and the filter build);
    // persist so the eval shingle pipeline — the expensive side this
    // variant exists for — materializes once.
    evalSh.persist()
    val bf =
      try {
        val expected = math.max(4096L, evalSh.distinct().count())
        evalSh.stat.bloomFilter("sh", expected, 1e-6)
      } finally evalSh.unpersist()
    // Codegen'd native probe (HashExpressions.BloomMightContain) — the
    // broadcast handle lives inside the expression; ContextCleaner
    // reclaims the blocks once the returned plan is unreachable.
    val bfB = docs.sparkSession.sparkContext.broadcast(bf)
    docs
      .select(col("doc_id"), explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .filter(graft.functions.HashExpressions.bloomMightContain(col("sh"), bfB))
      .select("doc_id")
      .distinct()
  }

  /** The decontaminated training corpus. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, k: Int = 8): DataFrame =
    docs.join(broadcast(contaminatedIds(docs, evalDocs, k)), Seq("doc_id"), "left_anti")

  /** Contamination matrix: for every (training source, eval set) pair,
    * how many training documents share ≥1 `k`-token shingle with that
    * eval set and how many distinct shingles leaked — the attribution
    * table that answers "WHICH slice of the corpus leaked WHICH
    * benchmark" before anyone re-crawls or re-filters a source. Output
    * `(source, eval_set, n_docs, n_shingles)`.
    *
    * Same scale contract as [[contaminatedIds]]: the eval side's
    * distinct (eval_set, shingle-hash) pairs are broadcast (eval sets
    * are benchmark-sized by definition); the corpus side is ONE shingle
    * explode; the final aggregation's cardinality is bounded by
    * |sources| × |eval sets|. */
  def contaminationMatrix(docs: DataFrame, evalDocs: DataFrame,
                          k: Int = 8): DataFrame = {
    val evalSh = evalDocs
      .select(col("eval_set"),
        explode(graft.functions.HashExpressions
          .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .distinct()
    docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.HashExpressions
          .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .join(broadcast(evalSh), "sh")
      .groupBy("source", "eval_set")
      .agg(countDistinct("doc_id").as("n_docs"),
        countDistinct("sh").as("n_shingles"))
      .orderBy("source", "eval_set")
  }

  /** Per-language report: original vs kept vs dropped counts. */
  def report(docs: DataFrame, evalDocs: DataFrame, k: Int = 8): DataFrame = {
    val kept = decontaminate(docs, evalDocs, k)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("lang")
  }
}
