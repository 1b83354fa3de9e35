package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: random-
  * hyperplane LSH bucketing so candidate generation touches only
  * same-bucket pairs — at 100 TB the full cross-join is infeasible, the
  * bucketed join shuffles on a small integer key. Dot products use
  * `zip_with` + `aggregate` (codegen'd builtins, no UDF).
  *
  * Per-vector work (double cast, L2 norm) is computed ONCE before any
  * pairwise stage and carried through the join — the O(pairs) inner loop
  * is a single dot product over pre-cast doubles, divided by
  * pre-computed norms.
  */
object Similarity {

  // Codegen'd dot product (tight primitive loop) — the declarative
  // zip_with+aggregate form evaluates its lambda interpreted per element.
  private def dot(a: Column, b: Column): Column =
    graft.functions.HashExpressions.dotProduct(a, b)

  private def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns (self-contained form
    * for ad-hoc use; the pairwise operators below use the precomputed-
    * norm path instead). */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    val na = l2norm(ad)
    val nb = l2norm(bd)
    when(na > 0 && nb > 0, dot(ad, bd) / (na * nb))
  }

  /** vec_id, emb (double), norm — the once-per-vector projection every
    * pairwise stage starts from. Separate projection stages keep
    * CollapseProject from re-inlining the cast into each consumer. */
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb", transform(col("embedding"), _.cast("double")))
      .withColumn("norm", l2norm(col("emb")))
      .select("vec_id", "emb", "norm")

  private def pairSim(embA: Column, normA: Column, embB: Column, normB: Column): Column =
    when(normA > 0 && normB > 0, dot(embA, embB) / (normA * normB))

  /** Exact brute-force top-k cosine neighbors for the given query ids.
    * Queries are a tiny frame → broadcast; candidates stream through
    * one pass; ranking is row_number per query (top-k heap per
    * partition, merged — no global sort of candidates). */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long],
                     k: Int = 5): DataFrame = {
    val prep = prepared(embeddings)
    val queries = prep
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = prep
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        pairSim(col("q_emb"), col("q_norm"), col("emb"), col("norm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Exact k-NN JOIN: for EVERY row of `queries`, its `k` nearest
    * `corpus` vectors by cosine — the cross-corpus primitive behind
    * semantic dedup between two datasets and retrieval-set
    * construction. Both frames need `(vec_id, embedding)`; output is
    * `(query_id, rank, vec_id, sim)`, one row per (query, neighbor).
    *
    * Corpus rows whose `vec_id` equals the query's are excluded (same
    * contract as [[bruteForceTopK]] — with overlapping id spaces "the
    * same id" means "the same vector"). This exact form BROADCASTS the
    * query side: it is the validation tier for |queries| small enough
    * to ship (≲ broadcast threshold). For a corpus-sized query side use
    * [[Ivf.searchJoin]] — cell-partitioned, no broadcast of queries. */
  def knnJoin(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame = {
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = prepared(corpus)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        pairSim(col("q_emb"), col("q_norm"), col("emb"), col("norm")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** SEMANTIC decontamination: flag every training vector whose cosine
    * to ANY eval vector reaches `tau` — the embedding-space
    * complement of [[graft.dedup.Decontaminate]]'s n-gram overlap
    * (catches paraphrased test leakage that shares no shingle).
    * Returns `(vec_id, nearest_eval_id, max_sim)` for flagged vectors,
    * `nearest_eval_id` = smallest eval id achieving the max.
    *
    * Scale shape mirrors the n-gram pass: the EVAL side is small by
    * nature and broadcasts; training vectors stream through one pass
    * (|train|·|eval| similarity evaluations map-side, no shuffle of
    * vectors); the per-vector max AND its argmax ride one
    * partial→final `max(struct(sim, -eid))` aggregation — ties on the
    * raw similarity resolve to the smallest eval id, no second join.
    * The threshold compares 6-decimal-rounded sims so the boundary is
    * float-noise-free across engines. */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            tau: Double): DataFrame = {
    val e = prepared(eval)
      .select(col("vec_id").as("eid"), col("emb").as("e_emb"),
        col("norm").as("e_norm"))
    prepared(train)
      .crossJoin(broadcast(e))
      .select(col("vec_id"), col("eid"),
        pairSim(col("emb"), col("norm"), col("e_emb"), col("e_norm")).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), negate(col("eid")).as("neid"))).as("win"))
      .select(col("vec_id"), (-col("win.neid")).as("nearest_eval_id"),
        round(col("win.sim"), 6).as("max_sim"))
      .filter(col("max_sim") >= tau)
      .orderBy("vec_id")
  }

  /** Deterministic pseudo-random hyperplane weights in [-0.5, 0.5)
    * (splitmix64 of (bit, dim)) — no stored model needed, any executor
    * derives the same planes. */
  private[similarity] def planeWeights(dim: Int, bit: Int): Seq[Double] =
    (0 until dim).map { d =>
      var z = (bit.toLong * 7919 + d) * 0x9E3779B97F4A7C15L + 0x85EBCA6BL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)).toDouble / 9.223372036854776e18) / 2.0
    }

  /** Random-hyperplane signature (`nBits` sign bits packed into a long).
    * Each plane projection is one codegen'd dot product against a
    * literal weight array — nBits small expressions instead of one
    * nBits×dim-term expression tree (which costs seconds of Janino
    * compilation and defeats codegen). */
  def hyperplaneSignature(emb: Column, dim: Int, nBits: Int = 16): Column = {
    val embD = transform(emb, _.cast("double"))
    val bits = (0 until nBits).map { b =>
      val plane = typedLit(planeWeights(dim, b))
      when(dot(embD, plane) > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  private def bucketed(embeddings: DataFrame, dim: Int, nBits: Int): DataFrame =
    prepared(embeddings)
      .withColumn("bucket", hyperplaneSignature(col("emb"), dim, nBits))
      .select("vec_id", "emb", "norm", "bucket")

  /** ANN via LSH bucketing: same-signature pairs only. Recall is tunable
    * via nBits / multiple tables; this is the candidate-generation stage
    * of the standard banding scheme. */
  def lshNearNeighbors(embeddings: DataFrame, dim: Int, nBits: Int = 8,
                       minSim: Double = 0.8): DataFrame = {
    val sig = bucketed(embeddings, dim, nBits)
    val a = sig.select(col("bucket"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = sig.select(col("bucket"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        pairSim(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b")).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Per-group embedding centroid (mean pooling) via posexplode to
    * (group, dim, x) cells and a standard partial→final average: no
    * task ever holds a group's full vector set, reducer state is one
    * running mean per (group, dim) cell, and the shuffle key space is
    * groups × dims regardless of corpus size. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x")), 6).as("c"))
      .orderBy("label", "dim")

  /** Exact all-pairs top-n cosine — the verification twin of the
    * LSH-bucketed [[topCosinePairs]]. O(n²) pairs: correct at any n but
    * only efficient for corpus slices / validation samples; the scale
    * paths are [[lshNearNeighbors]] (near-dup) and [[Ivf]] (top-k
    * search). Ranking uses the unrounded similarity so ties in the
    * rounded output stay deterministic. */
  /** Mutual nearest neighbors: pairs (a, b) where b is a's single
    * closest vector AND a is b's — the reciprocal-best-match criterion
    * bitext mining and cross-dataset alignment use (Artetxe & Schwenk
    * 2019's margin criterion reduces to this at k = 1), far more
    * precise than one-directional top-1.
    *
    * This exact form scores all ordered pairs (the n4-style O(n²)
    * validation twin — the scale path feeds candidates from [[Ivf]] /
    * LSH buckets into the same reciprocal filter); the per-id argmax is
    * a rank-1 window which Spark 4's InferWindowGroupLimit caps
    * map-side, and the reciprocity check is a self-join of the
    * n-row NN table on (id, nn) — never pairs. Tie-break: higher sim,
    * then smaller neighbor id. */
  def mutualNearestNeighbors(embeddings: DataFrame): DataFrame = {
    val prep = prepared(embeddings)
    val a = prep.select(col("vec_id").as("id"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = prep.select(col("vec_id").as("other"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    val w = Window.partitionBy("id").orderBy(desc("sim"), col("other"))
    val nn = a.join(b, col("id") =!= col("other"))
      .select(col("id"), col("other"),
        pairSim(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b"))
          .as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("other").as("nn"), col("sim"))
    nn.alias("x")
      .join(nn.select(col("id").as("nn"), col("nn").as("back")).alias("y"),
        Seq("nn"))
      .filter(col("back") === col("id") && col("id") < col("nn"))
      .select(col("id").as("id_a"), col("nn").as("id_b"),
        round(col("sim"), 6).as("sim"))
      .orderBy("id_a")
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    * diversified top-k — each step picks
    * argmax λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s), the standard
    * redundancy-free retrieval/sampling rule (RAG context packing,
    * diverse few-shot selection, coreset-flavored subsampling).
    *
    * Scale shape: the corpus is touched ONCE by the relevance top-nCand
    * cut (rank window, map-side capped by InferWindowGroupLimit); the
    * greedy loop then runs entirely on the ≤nCand-row candidate frame
    * (k−1 steps of a tiny cross join + argmax — no corpus re-scan, no
    * driver-side data). Scores are rounded to 6 BEFORE each argmax and
    * ties break on vec_id, so the greedy trajectory is reproducible
    * cross-engine. */
  def mmrSelect(embeddings: DataFrame, queryId: Long, nCand: Int = 10,
                k: Int = 3, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && nCand >= k, s"need nCand >= k >= 1, got k=$k nCand=$nCand")
    val prep = prepared(embeddings)
    val q = prep.filter(col("vec_id") === queryId)
      .select(col("emb").as("q_emb"), col("norm").as("q_norm"))
    val wTop = Window.orderBy(desc("rel"), col("vec_id"))
    val cand = prep.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("emb"), col("norm"),
        pairSim(col("emb"), col("norm"), col("q_emb"), col("q_norm"))
          .as("rel"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= nCand).drop("rn")
      .localCheckpoint(eager = true) // ≤nCand rows; cut the corpus lineage
    var selected = cand
      .withColumn("score", round(lit(lambda) * col("rel"), 6))
      .orderBy(desc("score"), col("vec_id")).limit(1)
      .withColumn("pick", lit(1))
    var step = 2
    while (step <= k) {
      val sel = selected.select(col("vec_id").as("s_id"),
        col("emb").as("s_emb"), col("norm").as("s_norm"))
      val next = cand
        .join(selected.select(col("vec_id").as("s_done")),
          col("vec_id") === col("s_done"), "left_anti")
        .crossJoin(broadcast(sel))
        .groupBy("vec_id", "rel")
        .agg(first("emb").as("emb"), first("norm").as("norm"),
          max(pairSim(col("emb"), col("norm"), col("s_emb"), col("s_norm")))
            .as("ms"))
        .withColumn("score",
          round(lit(lambda) * col("rel") - lit(1 - lambda) * col("ms"), 6))
        .orderBy(desc("score"), col("vec_id")).limit(1)
        .withColumn("pick", lit(step))
      selected = selected.unionByName(
        next.select("vec_id", "emb", "norm", "rel", "score", "pick"))
      step += 1
    }
    selected.select(col("pick"), col("vec_id"),
        round(col("rel"), 6).as("rel"), col("score"))
      .orderBy("pick")
  }

  /** Leave-one-out kNN label accuracy — the standard embedding-quality
    * eval: for every vector, predict its label by majority vote of its
    * k nearest neighbors (self excluded) and compare to its own label.
    * Catches what [[labelCentroids]]-style coherence misses: locally
    * tangled class boundaries with well-separated centroids.
    *
    * Exact all-pairs twin (n4/n12 class — the scale path feeds IVF/LSH
    * candidates into the same vote); the top-k cut is a rank window
    * (map-side capped), the vote is two integer aggregations with a
    * deterministic (count desc, label asc) tie-break, so everything
    * after the sim ranking is exact arithmetic. Output: per true label
    * n, n_correct, accuracy. */
  def knnLooAccuracy(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val prep = prepared(embeddings)
      .join(embeddings.select(col("vec_id"), col("label")), "vec_id")
    val a = prep.select(col("vec_id").as("id"), col("label").as("true_label"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = prep.select(col("vec_id").as("other"),
      col("label").as("other_label"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    val wTop = Window.partitionBy("id").orderBy(desc("sim"), col("other"))
    // broadcast the candidate side: same BNLJ shape as the other exact
    // twins (n4/n12) — never a CartesianProduct, which would shuffle
    // BOTH sides into partition pairs
    val votes = a.join(broadcast(b), col("id") =!= col("other"))
      .select(col("id"), col("true_label"), col("other"), col("other_label"),
        pairSim(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b"))
          .as("sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .groupBy("id", "true_label", "other_label")
      .agg(count(lit(1)).as("v"))
    val wWin = Window.partitionBy("id")
      .orderBy(desc("v"), col("other_label"))
    votes
      .withColumn("w", row_number().over(wWin))
      .filter(col("w") === 1)
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("other_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n"), 6))
      .orderBy("label")
  }

  def exactTopPairs(embeddings: DataFrame, n: Int = 20): DataFrame = {
    val prep = prepared(embeddings)
    val a = prep.select(col("vec_id").as("id_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = prep.select(col("vec_id").as("id_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        pairSim(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b")).as("sim"))
      .orderBy(desc("sim"), asc("id_a"), asc("id_b"))
      .limit(n)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Embedding near-dup detection: cosine above threshold, LSH-bucketed;
    * reports the top pairs so the operator has output even on corpora
    * without near-dups. Signature width scales with corpus size so the
    * expected bucket occupancy stays ~64 — with FIXED bits,
    * candidate pairs grow quadratically with the corpus (measured 21×
    * time at 10× rows before this), with sized bits they grow linearly.
    * The count() is one cheap columnar scan, amortized against the
    * pairwise stage it bounds. */
  def topCosinePairs(embeddings: DataFrame, dim: Int,
                     n: Int = 20): DataFrame = {
    val cnt = math.max(1L, embeddings.count())
    val nBits = math.min(24, math.max(4,
      math.ceil(math.log(cnt.toDouble / 64) / math.log(2)).toInt))
    val sig = bucketed(embeddings, dim, nBits)
    val a = sig.select(col("bucket"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = sig.select(col("bucket"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(pairSim(col("emb_a"), col("norm_a"), col("emb_b"), col("norm_b")), 6).as("sim"))
      .orderBy(desc("sim"), asc("id_a"), asc("id_b"))
      .limit(n)
  }
}
