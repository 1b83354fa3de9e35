package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge-table training (Sennrich, Haddow & Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword Units",
  * arXiv:1508.07909 §3.2), the distributed way: train on the WORD
  * FREQUENCY table, never the corpus. One corpus-sized aggregation
  * builds `(word, freq)`; every merge round is then (a) one
  * partial→final pair-count aggregation over the vocabulary-sized word
  * table, (b) a 1-row `TakeOrderedAndProject` collect of the argmax
  * pair, (c) a row-local merge of that pair in every word. Per-round
  * shuffle volume is the DISTINCT PAIR table (≤ symbols², practically
  * ~vocab·avg_word_len rows), independent of corpus size; driver state
  * is one (pair, count) row per round.
  *
  * Word-state representation: a word's symbol sequence is kept as a
  * single string with every symbol carrying its OWN boundary spaces —
  * symbols joined by TWO spaces, one sentinel space at each end
  * (`" l  o  w "`). Merging pair `(a, b)` is then the literal string
  * replace of `" a  b "` with `" ab "`: because adjacent symbols never
  * share a delimiter character, left-to-right non-overlapping replace
  * reproduces the classical BPE run semantics exactly (`" a  a  a  a "`
  * → `" aa  aa "`, the `(aa)(aa)` segmentation subword-nmt produces —
  * a SINGLE shared space would be consumed by the first match and the
  * run would stall at one merge). String replace is the same
  * non-overlapping scan in every SQL engine, so the oracle mirrors
  * every round with `replace()` instead of a stateful loop.
  *
  * Tie-break: highest count, then lexicographically smallest pair —
  * pinned so the merge table is deterministic cross-engine.
  */
object Bpe {

  /** One learned merge: the pair chosen at `step` (1-based), the merged
    * symbol it produces, and the weighted pair count that won. */
  final case class Merge(step: Int, pair: String, merged: String,
                         pair_count: Long)

  /** space-filtered symbol array of the delimited state string */
  private def symbolsOf(s: Column): Column =
    filter(split(s, " "), t => length(t) > 0)

  /** adjacent symbol pairs as "a b" strings — zip of shifted slices,
    * O(1) state-string evaluations per word */
  private def pairsOf(s: Column): Column = {
    val arr = symbolsOf(s)
    val n = size(arr)
    when(n >= 2,
      zip_with(slice(arr, lit(1), n - 1), slice(arr, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
  }

  /** The word-frequency table with the initial character-level symbol
    * state: `(word, freq, s)`. */
  private def wordTable(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", concat(lit(" "),
        array_join(filter(split(col("word"), ""), c => length(c) > 0), "  "),
        lit(" ")))

  /** Train `nMerges` rounds by DELTA counting; returns the merge table
    * and the word table in its FINAL symbol state (for
    * encoding/inspection, eagerly settled).
    *
    * Classical distributed BPE re-counts EVERY pair every round — right
    * at 10 merges, hopeless at a 32k-merge vocabulary (32k full corpus
    * passes). This implementation keeps the (pair, count) table as
    * ROUND STATE and updates it incrementally: only words CONTAINING
    * the merged pair (a row-local `contains` filter over the
    * vocabulary-sized word table) contribute a before/after pair-bag
    * difference, and that delta folds into the count table with one
    * full-outer join on the pair key. Per-round cost is therefore one
    * word-table scan + a pair-table-sized join — flat in the merge
    * index, never corpus-sized after round 0. The word table's replace
    * chain and the count table's join lineage are both cut with eager
    * localCheckpoints (counts every round — it IS the round state;
    * words every 16 rounds), so plan depth is bounded at any merge
    * count. Delta arithmetic is exact integer — the merge table is
    * bit-identical to the full-recount reference [[trainRecount]],
    * asserted by BpeSpec ("delta counting matches the full-recount
    * reference bit-for-bit").
    *
    * Tier choice: each round is one Spark job + a 1-row collect, so a
    * production merge count (30k) pays 30k sequential scheduling
    * floors — use [[trainLocal]] (bit-identical, measured 15.6× at 128
    * merges and growing linearly) unless the word table genuinely
    * exceeds driver memory. */
  def train(docs: DataFrame, nMerges: Int = 10): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var cur = wordTable(docs).localCheckpoint(true)
    var counts = cur
      .select(col("freq"), explode(pairsOf(col("s"))).as("pr"))
      .groupBy("pr").agg(sum("freq").as("cnt"))
      .localCheckpoint(true)
    var sinceCut = 0
    val merges = (1 to nMerges).map { r =>
      val top = counts.orderBy(desc("cnt"), asc("pr")).limit(1).collect()
      require(top.nonEmpty,
        s"bpe: no adjacent pairs left after ${r - 1} merges")
      val pair = top(0).getString(0)
      val cnt = top(0).getLong(1)
      val merged = pair.replace(" ", "")
      val pattern = " " + pair.replace(" ", "  ") + " "
      val affected = cur.filter(col("s").contains(pattern))
      val oldPairs = affected
        .select(col("freq"), explode(pairsOf(col("s"))).as("pr"))
        .groupBy("pr").agg((-sum("freq")).as("d"))
      val newPairs = affected
        .withColumn("s", replace(col("s"), lit(pattern), lit(s" $merged ")))
        .select(col("freq"), explode(pairsOf(col("s"))).as("pr"))
        .groupBy("pr").agg(sum("freq").as("d"))
      val delta = oldPairs.unionByName(newPairs)
        .groupBy("pr").agg(sum("d").as("d")).filter(col("d") =!= 0)
      counts = counts.join(delta, Seq("pr"), "full_outer")
        .select(col("pr"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L)))
            .as("cnt"))
        .filter(col("cnt") > 0)
        .localCheckpoint(true)
      cur = cur.withColumn("s",
        replace(col("s"), lit(pattern), lit(s" $merged ")))
      sinceCut += 1
      if (sinceCut >= 16) { cur = cur.localCheckpoint(true); sinceCut = 0 }
      Merge(r, pair, merged, cnt)
    }
    (merges, cur.localCheckpoint(true))
  }

  /** [[train]] run entirely on the driver — the tier for PRODUCTION
    * merge counts: [[train]]'s per-round cost is vocab-sized, but each
    * round is one Spark job + a 1-row collect, so a realistic 30k-merge
    * vocabulary pays 30k sequential job-scheduling floors (hours of
    * wall on scheduling alone). The word-frequency table is vocab-sized
    * by construction — ONE corpus-sized aggregation builds it — so
    * after a single collect (the [[graft.ml.IsolationForest]]
    * driver-fit pattern) the classic in-memory loop (Sennrich 2016's
    * reference algorithm with an inverted pair→word occurrence index,
    * so each round touches only the affected words) runs all rounds
    * in-process. The merge table is BIT-IDENTICAL to [[train]]'s —
    * BpeSpec pins 10- and 500-merge runs, gate bpe6 pins it to bpe1's
    * oracle — with argmax ties broken on the pair string's unsigned
    * UTF-8 bytes, the binary order Spark's `asc` and DuckDB's ORDER BY
    * both apply. Returns the same `(merges, word table)` pair, the
    * word table in the same (word, freq, s) final symbol state. */
  def trainLocal(docs: DataFrame, nMerges: Int = 10): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    // vocab-sized: one row per distinct word; symbols parsed from the
    // SAME delimited state string the distributed rounds rewrite, so
    // Spark's own character splitting is reused verbatim
    val collected = wordTable(docs).collect()
    val wordArr = collected.map(_.getString(0))
    val freqArr = collected.map(_.getLong(1))
    val symArr: Array[Array[String]] =
      collected.map(_.getString(2).split(" ").filter(_.nonEmpty))

    def pairsOf(syms: Array[String]): Iterator[String] =
      if (syms.length < 2) Iterator.empty
      else syms.iterator.zip(syms.iterator.drop(1))
        .map { case (a, b) => a + " " + b }
    // unsigned UTF-8 byte order — what Spark's UTF8String.compareTo and
    // DuckDB's string ORDER BY both implement (Ordering.String would
    // diverge on supplementary-plane characters)
    def byteLt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }

    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val occ = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashSet[Int]]
    symArr.indices.foreach { wi =>
      val f = freqArr(wi)
      pairsOf(symArr(wi)).foreach { pr =>
        counts(pr) = counts.getOrElse(pr, 0L) + f
        occ.getOrElseUpdate(pr,
          scala.collection.mutable.HashSet.empty[Int]) += wi
      }
    }

    val out = Seq.newBuilder[Merge]
    (1 to nMerges).foreach { r =>
      require(counts.nonEmpty,
        s"bpe: no adjacent pairs left after ${r - 1} merges")
      // full-scan argmax: O(|distinct pairs|) per round — seconds at a
      // 30k-merge vocabulary, dwarfed by what the per-round work saves
      var bestPair: String = null
      var bestCnt = Long.MinValue
      counts.foreach { case (pr, c) =>
        if (c > bestCnt || (c == bestCnt && byteLt(pr, bestPair))) {
          bestPair = pr; bestCnt = c
        }
      }
      val sp = bestPair.indexOf(' ')
      val a = bestPair.substring(0, sp)
      val b = bestPair.substring(sp + 1)
      val merged = a + b
      occ.getOrElse(bestPair, scala.collection.mutable.HashSet.empty[Int])
        .toArray.foreach { wi =>
          val syms = symArr(wi)
          val f = freqArr(wi)
          // left-to-right non-overlapping — the same run semantics as
          // train's two-space-delimited string replace
          val ns = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              ns += merged; j += 2
            } else { ns += syms(j); j += 1 }
          }
          val arr = ns.toArray
          // delta the count bag; diff the DISTINCT pair sets into the
          // occurrence index
          pairsOf(syms).foreach(pr => counts(pr) = counts(pr) - f)
          pairsOf(arr).foreach(pr => counts(pr) = counts.getOrElse(pr, 0L) + f)
          val oldSet = pairsOf(syms).toSet
          val newSet = pairsOf(arr).toSet
          (oldSet -- newSet).foreach(pr => occ.get(pr).foreach(_ -= wi))
          (newSet -- oldSet).foreach(pr =>
            occ.getOrElseUpdate(pr,
              scala.collection.mutable.HashSet.empty[Int]) += wi)
          symArr(wi) = arr
        }
      counts.filterInPlace((_, c) => c > 0)
      occ.remove(bestPair)
      out += Merge(r, bestPair, merged, bestCnt)
    }
    import spark.implicits._
    val finalWords = wordArr.indices.map(wi =>
      (wordArr(wi), freqArr(wi), symArr(wi).mkString(" ", "  ", " ")))
      .toDF("word", "freq", "s")
    (out.result(), finalWords)
  }

  /** The classical full-recount reference: every round re-counts ALL
    * pairs over the whole word table. O(nMerges) corpus-table passes —
    * kept ONLY as the equivalence oracle for [[train]]'s delta counting
    * (BpeSpec asserts bit-identical merge tables); never the production
    * path. */
  private[graft] def trainRecount(docs: DataFrame,
                                  nMerges: Int = 10): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val words = wordTable(docs).persist()
    try {
      var cur = words
      val merges = (1 to nMerges).map { r =>
        val top = cur
          .select(col("freq"), explode(pairsOf(col("s"))).as("pr"))
          .groupBy("pr").agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), asc("pr")).limit(1)
          .collect()
        require(top.nonEmpty,
          s"bpe: no adjacent pairs left after ${r - 1} merges")
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        val pattern = " " + pair.replace(" ", "  ") + " "
        cur = cur.withColumn("s",
          replace(col("s"), lit(pattern), lit(s" $merged ")))
        Merge(r, pair, merged, cnt)
      }
      val settled = cur.localCheckpoint(true)
      (merges, settled)
    } finally { words.unpersist(); () }
  }

  /** The merge table as a DataFrame (step, pair, merged, pair_count) —
    * the gate surface. */
  def mergeTable(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, nMerges)._1.toDF().orderBy("step")
  }

  /** [[mergeTable]] through [[trainLocal]] — the driver-local tier's
    * gate surface (bpe6), pinned to bpe1's oracle: both tiers must
    * learn the identical merge table. */
  def mergeTableLocal(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainLocal(docs, nMerges)._1.toDF().orderBy("step")
  }

  /** Persist a trained merge table — the artifact a training pipeline
    * ships to scoring clusters ([[graft.similarity.Ivf.save]] /
    * `Dedup.saveBandIndex` pattern): the merges as parquet plus a
    * one-row params sidecar recording the merge count. Merge REPLAY
    * ORDER is the whole model (each merge rewrites the symbol state the
    * next one matches against), so [[load]] refuses a table whose steps
    * are not exactly 1..n_merges — a partial or doubled write can't
    * silently ship a different tokenizer. Gate bpe5 pins the full
    * save → load → encode lifecycle to the fresh model's oracle. */
  def save(merges: Seq[Merge], path: String,
           spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    require(merges.nonEmpty, "bpe: refusing to save an empty merge table")
    merges.toDF().write.mode("overwrite").parquet(s"$path/merges")
    Seq(merges.size).toDF("n_merges")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a persisted merge table in training order; refuses when the
    * stored steps don't form exactly 1..n_merges (see [[save]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Merge] = {
    val n = spark.read.parquet(s"$path/params").head().getAs[Int]("n_merges")
    val merges = spark.read.parquet(s"$path/merges")
      .select("step", "pair", "merged", "pair_count")
      .collect() // model-sized: n_merges rows
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.step).toSeq
    require(merges.map(_.step) == (1 to n),
      s"bpe: persisted merge table at $path is corrupt — expected steps " +
        s"1..$n, got ${merges.map(_.step).mkString(",")}")
    merges
  }

  /** Apply an already-learned merge table to a NEW corpus — the
    * inference half of the tokenizer: build the target's word-frequency
    * table, replay the merges in training order (each one the same
    * row-local two-space-delimited replace used in training), and
    * return `(word, freq, symbols)` with the final subword segmentation.
    * The merge table is a driver-side `Seq` (N rows — the model), so
    * the replay is a pure projection chain: zero joins, zero extra
    * shuffles beyond the one word-count aggregation. */
  def encode(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val encoded = merges.sortBy(_.step).foldLeft(wordTable(docs)) {
      (df, m) =>
        val next = df.withColumn("s", replace(col("s"),
          lit(" " + m.pair.replace(" ", "  ") + " "), lit(s" ${m.merged} ")))
        // a 32k-merge model would otherwise stack a 32k-deep replace
        // chain into one projection — cut the plan every 64 merges
        if (m.step % 64 == 0) next.localCheckpoint(true) else next
    }
    encoded.select(col("word"), col("freq"), symbolsOf(col("s")).as("symbols"))
  }

  /** Corpus-weighted symbol frequencies AFTER the learned merges — the
    * encoded-output pin: top `topK` symbols by `(count desc, symbol)`.
    * Shows merged subwords overtaking raw characters. Trains through
    * [[trainLocal]] (bit-identical to [[train]] — BpeSpec pins both
    * tiers, gate bpe6 pins the tier pair to one oracle): the word
    * table is vocab-sized by construction, so the driver loop replaces
    * nMerges sequential Spark jobs with one collect (r13 optimization;
    * the distributed tier stays gate-covered via bpe1). */
  def encodedSymbolCounts(docs: DataFrame, nMerges: Int = 10,
                          topK: Int = 20): DataFrame =
    trainLocal(docs, nMerges)._2
      .select(col("freq"), explode(symbolsOf(col("s"))).as("symbol"))
      .groupBy("symbol").agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), asc("symbol")).limit(topK)
}
