package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval scoring over a document table — the lexical
  * ranking tier of a RAG/retrieval pipeline (the dense tier is
  * [[graft.similarity.Similarity]]; production retrieval fuses both).
  * Formula: Robertson/Walker BM25 with the Lucene non-negative IDF,
  * `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`.
  *
  * Scale shape: the query is a literal handful of terms, so per-term
  * term-frequencies are computed ROW-LOCALLY by filtering each
  * document's token array (one corpus scan, no corpus-wide explode, no
  * UDF — `transform`/`filter`/`size` are codegen'd HOFs). Only documents
  * matching ≥1 query term reach the exchange, and what shuffles is
  * `(doc_id, term, tf, dl)` — bytes per CANDIDATE, never the text.
  * Document frequencies aggregate to ≤|query| rows and broadcast back;
  * the final top-k is a TakeOrderedAndProject (per-partition heap), not
  * a global sort.
  */
object Bm25 {

  /** The term-frequency saturation constant k1. */
  private val K1 = 1.2

  /** Top-k `(doc_id, bm25)` for one query, scored over `text` of
    * `documents`. Scores are rounded to 6 decimals and ties broken by
    * `doc_id` so the ranking is a pure function of the corpus. */
  def topK(documents: DataFrame, queryTerms: Seq[String], k: Int = 20,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "bm25: duplicate query terms")
    require(b >= 0 && b <= 1, s"bm25: invalid b=$b")
    val docs = documents.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("_dl"),
        // row-local per-term tf: (term, count of exact matches in doc)
        transform(lit(queryTerms.toArray),
          t => struct(t.as("term"),
            size(filter(col("_toks"), x => x === t)).as("tf"))).as("_tfs"))
    val stats = docs.agg(count(lit(1)).as("_n"), avg("_dl").as("_avgdl"))
    val candidates = docs
      .select(col("doc_id"), col("_dl"), explode(col("_tfs")).as("_t"))
      .select(col("doc_id"), col("_dl"), col("_t.term").as("term"),
        col("_t.tf").as("tf"))
      .filter(col("tf") > 0)
    val dfByTerm = candidates.groupBy("term").agg(count(lit(1)).as("_df"))
    candidates
      .join(broadcast(dfByTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_w", col("_idf") * col("tf") * (lit(K1) + 1.0) /
        (col("tf") + lit(K1) *
          (lit(1.0) - lit(b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("_w"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
