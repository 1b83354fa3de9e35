package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training corpora: concatenate the token
  * stream in a deterministic document order and cut it every `seqLen`
  * tokens ("concat-then-chunk"), so every training sequence is exactly
  * full and a document can straddle a sequence boundary.
  *
  * The primitive underneath is a GLOBAL running sum of token counts in
  * document order. The naive Spark form — `sum().over(Window.orderBy(id))`
  * — funnels the whole table through ONE task (Spark warns
  * `No Partition Defined`); at 100 TB that is the plan that never
  * finishes. [[withGlobalCumsumBefore]] instead computes the classic
  * two-pass distributed prefix sum:
  *
  *   1. bucket rows by literal quantile boundaries of the order key
  *      (bucket b holds a contiguous key range, b0 < b1 < ...),
  *   2. per-bucket totals (one row per bucket) get an exclusive
  *      running offset via a window over the BUCKET IDS — a
  *      single-task window over ~`shuffle.partitions` metadata rows,
  *      not over the data,
  *   3. broadcast the offsets back and add the within-bucket running
  *      sum (parallel across buckets).
  *
  * Reference analogue: the reference pipelines batch by row count per
  * file (`src/etl/transform.py` chunking); packing by token budget is
  * the training-data generalization.
  */
object Packing {

  /** Adds `outCol` = sum of `valueCol` over all rows STRICTLY before the
    * row in ascending `(orderCol, tiebreakCol)` order (exclusive prefix
    * sum), without a global single-partition window. `orderCol` must be
    * non-null NUMERIC and `(orderCol, tiebreakCol)` unique — ties would
    * make "before" ambiguous and the result nondeterministic. With no
    * tiebreak, `orderCol` itself must be unique. Bucketing compares only
    * `orderCol`, so equal order values always land in one bucket and the
    * tiebreak never crosses a bucket boundary.
    *
    * Bucketing uses quantile boundaries computed ONCE and inlined as
    * literals, so bucket membership is a pure function of the row. A
    * `spark_partition_id()`-after-`repartitionByRange` formulation would
    * be subtly wrong: the plan is consumed twice (offset aggregation +
    * probe side), and if exchange reuse is ever defeated the two
    * executions re-sample range boundaries independently — a
    * boundary-straddling row would get one bucket in the offsets job
    * and another at probe time, silently corrupting the sum. */
  def withGlobalCumsumBefore(df: DataFrame, valueCol: Column,
                             orderCol: String,
                             outCol: String = "cum_before",
                             tiebreakCol: Option[String] = None): DataFrame =
    withGlobalCumsumsBefore(df, Seq(valueCol -> outCol), orderCol, tiebreakCol)

  /** [[withGlobalCumsumBefore]] generalized to SEVERAL running sums in
    * one pass: the quantile sampling, bucketing, per-bucket offset
    * aggregation, and within-bucket window are all shared — adding a
    * value column costs one aggregate expression and one window
    * expression, never another shuffle. (A caller needing both a
    * running value sum and a running row count — i.e. a rank — pays one
    * bucketing instead of two.) */
  def withGlobalCumsumsBefore(df: DataFrame, valueCols: Seq[(Column, String)],
                              orderCol: String,
                              tiebreakCol: Option[String] = None): DataFrame = {
    require(valueCols.nonEmpty, "need at least one (valueCol, outCol)")
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val probs = (1 until nParts).map(_.toDouble / nParts).toArray
    // df has THREE consumers: the approxQuantile action below, the
    // per-bucket offsets aggregation, and the probe side of the final
    // join. The quantile is an EAGER action, so df is fully computed at
    // construction time regardless — checkpointing first makes that one
    // computation the copy the other two consumers read back, instead
    // of re-running df's subtree twice more at the caller's action.
    // (Unlike the eager-checkpoint conversions r14 measured slower,
    // nothing gets serialized here that the quantile wasn't already
    // serializing.)
    val dfC = df.localCheckpoint(true)
    val bounds: Array[Double] =
      if (probs.isEmpty) Array.empty
      else dfC.stat.approxQuantile(orderCol, probs, 0.001 / nParts)
    // bucket = count of boundaries strictly below the key — a when-chain
    // over ≤ nParts literal comparisons, codegen'd row-locally
    val bucketCol = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(orderCol).cast("double") > b, 1L).otherwise(0L)
    }
    val parts = dfC.withColumn("_graft_bkt", bucketCol)
    // one row per bucket — the only single-task window runs over this
    // metadata-sized frame, never over the data
    val offsetWin = Window.orderBy("_graft_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val psums = valueCols.zipWithIndex.map { case ((v, _), i) =>
      sum(v).as(s"_psum_$i")
    }
    val offsets = parts
      .groupBy("_graft_bkt").agg(psums.head, psums.tail: _*)
      .select(col("_graft_bkt") +: valueCols.indices.map(i =>
        coalesce(sum(s"_psum_$i").over(offsetWin), lit(0L)).as(s"_offset_$i")): _*)
    val orderCols = col(orderCol) +: tiebreakCol.map(col).toSeq
    val within = Window.partitionBy("_graft_bkt").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    valueCols.zipWithIndex.foldLeft(parts.join(broadcast(offsets), "_graft_bkt")) {
      case (acc, ((v, out), i)) =>
        acc.withColumn(out,
          coalesce(sum(v).over(within), lit(0L)) + col(s"_offset_$i"))
    }.drop("_graft_bkt" +: valueCols.indices.map(i => s"_offset_$i"): _*)
  }

  /** Doc-level packing map for chunked sequences of `seqLen` tokens over
    * the corpus token stream in ascending `doc_id` order: which
    * sequence each document starts in (`seq_first`), ends in
    * (`seq_last`), and how many sequences it spans. Zero-token documents
    * are pinned to the sequence at their stream position. */
  def packSequences(docs: DataFrame, seqLen: Int,
                    tokenCount: Column): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val withN = docs.withColumn("n_tokens", tokenCount.cast("long"))
    withGlobalCumsumBefore(withN, col("n_tokens"), "doc_id")
      .withColumn("seq_first", floor(col("cum_before") / seqLen))
      .withColumn("seq_last",
        floor((col("cum_before") + greatest(col("n_tokens"), lit(1L)) - 1) / seqLen))
      .withColumn("n_seqs_spanned", col("seq_last") - col("seq_first") + 1)
  }

  /** Overlapping fixed-width character chunks per document (the RAG /
    * context-window preprocessing step): chunk i covers
    * `[i·stride, i·stride + chunkChars)` with `stride = chunkChars −
    * overlap`, last chunk clipped at the text end. Entirely row-local
    * (`sequence` → `posexplode` → `substring` — codegen'd builtins, no
    * UDF, no shuffle): chunking 100 TB is a pure map stage that
    * parallelizes per input split. Empty/null texts yield no chunks. */
  def chunkDocuments(docs: DataFrame, chunkChars: Int,
                     overlap: Int = 0): DataFrame = {
    require(chunkChars > 0 && overlap >= 0 && overlap < chunkChars,
      s"need 0 <= overlap < chunkChars, got chunk=$chunkChars overlap=$overlap")
    val stride = chunkChars - overlap
    val nChunks = // ceil((len - overlap) / stride), min 1 for non-empty text
      greatest(ceil((length(col("text")) - overlap) / lit(stride.toDouble)), lit(1L))
        .cast("long")
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0L), nChunks - 1)).as(Seq("chunk_id", "_i")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        substring_index_safe(col("text"), col("_i") * stride, chunkChars)
          .as("chunk"))
  }

  // 1-based substring over a computed offset (functions.substring takes
  // only literal pos/len; the expr form accepts columns)
  private def substring_index_safe(text: Column, from0: Column, len: Int): Column =
    text.substr(from0.cast("int") + 1, lit(len))

  /** Chunk audit: per document, how many chunks and the exact character
    * mass they cover (with overlap double-counted) — the accounting a
    * chunking job publishes to prove nothing was dropped. */
  def chunkProfile(docs: DataFrame, chunkChars: Int, overlap: Int = 0): DataFrame =
    chunkDocuments(docs, chunkChars, overlap)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("chunk"))).as("chunk_chars"),
        min(length(col("chunk"))).as("min_chunk"),
        max(length(col("chunk"))).as("max_chunk"))
      .orderBy("doc_id")

  /** Per-sequence packing profile: for each output sequence (keyed by the
    * sequence a document STARTS in), how many documents start there and
    * their token mass — the audit a packing job publishes so truncation/
    * straddle rates are visible before training. */
  def sequenceProfile(docs: DataFrame, seqLen: Int,
                      tokenCount: Column): DataFrame =
    packSequences(docs, seqLen, tokenCount)
      .groupBy(col("seq_first").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("seq_tokens"),
        min("doc_id").as("id_min"),
        max("doc_id").as("id_max"),
        sum(when(col("n_seqs_spanned") > 1, 1L).otherwise(0L)).as("n_straddlers"))
      .orderBy("seq_id")
}
