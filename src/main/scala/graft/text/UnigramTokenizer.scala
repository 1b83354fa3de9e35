package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer trainer (Kudo 2018, "Subword
  * Regularization", arXiv:1804.10959 §3; the SentencePiece `unigram`
  * model), in its hard-EM / Viterbi form — the variant Kudo himself
  * names for decoding (§3.2's best-segmentation x*) — trained the
  * distributed way: on the WORD FREQUENCY table, never the corpus
  * (the [[Bpe]] discipline; one corpus pass builds `(word, freq)`,
  * every later step is vocabulary-sized).
  *
  * The loop:
  *   1. SEED: every substring of every word up to `maxPieceLen` chars,
  *      weighted by word frequency × occurrence count; the vocabulary
  *      starts as ALL single characters plus the top `seedMultis`
  *      multi-character substrings (count desc, piece asc — pinned
  *      tie-break).
  *   2. E-STEP (hard): per word, the Viterbi-best segmentation under
  *      the current piece scores — a row-local DP over ≤ `maxWordLen`
  *      positions implemented entirely with `aggregate`/`transform`
  *      higher-order functions (codegen'd; zero UDFs), tie-broken
  *      toward the LONGER last piece (max over (total, len) structs).
  *      Piece counts are then frequency-weighted sums over the best
  *      segmentations.
  *   3. M-STEP: scores from counts with add-one smoothing,
  *      `score = floor(2^20 · ln((cnt+1)/(T+|V|)))` — FIXED-POINT
  *      integers, so every DP comparison and the corpus likelihood are
  *      exact BIGINT arithmetic that an independent engine replays
  *      bit-for-bit (the one float op per piece is the ln, whose
  *      2^-20-quantized floor is stable across libm implementations
  *      for anything but a ~2^-32-measure boundary set).
  *   4. PRUNE (between rounds): keep all single characters — coverage
  *      can never be lost, every word stays segmentable — plus the top
  *      `keepNum/keepDen` fraction of multi-char pieces by Viterbi
  *      count (count desc, piece asc). Count-rank pruning is the
  *      standard cheap proxy for Kudo's per-piece likelihood-loss
  *      criterion under hard EM: a piece's loss is its count times its
  *      score advantage over re-segmentation, and zero-count pieces —
  *      the ones full Kudo also drops first — rank last by
  *      construction.
  *
  * Words longer than `maxWordLen` characters are excluded from
  * training AND evaluation (SentencePiece's own seed/length capping;
  * the cap is what keeps the DP — and its SQL oracle replay, which
  * unrolls one CTE per position — statically bounded).
  *
  * Scale shape: the corpus is touched ONCE (word counts); every EM
  * round is one broadcast-ish join + one 4·maxWordLen-rows-per-word
  * regroup + row-local DP over the vocabulary-sized word table, so
  * per-round cost is FLAT in both the round index and the corpus size
  * (measured in SCALE.md). No collect anywhere — the driver holds only
  * the round counter.
  */
object UnigramTokenizer {

  final case class Params(maxPieceLen: Int = 4, seedMultis: Int = 256,
                          emRounds: Int = 3, maxWordLen: Int = 16,
                          keepNum: Int = 3, keepDen: Int = 4)

  /** 2^20 — the fixed-point scale of the integer log-scores. */
  val ScoreScale: Long = 1048576L

  /** (word, freq, n) over [[TextAnalysis.tokens]], capped at
    * `maxWordLen` characters. */
  def wordTable(docs: DataFrame, p: Params = Params()): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("n", length(col("word")).cast("int"))
      .filter(col("n").between(1, p.maxWordLen))

  /** Seed vocabulary: (piece, cnt) — all single chars plus the top
    * `seedMultis` multi-char substrings by weighted occurrence count. */
  private def seedVocab(words: DataFrame, p: Params): DataFrame = {
    val occ = words
      .select(col("word"), col("freq"), col("n"),
        explode(sequence(lit(1), col("n"))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(p.maxPieceLen), col("n") - col("i") + 1))).as("l"))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val singles = occ.filter(length(col("piece")) === 1)
    val multis = occ.filter(length(col("piece")) > 1)
      .orderBy(desc("cnt"), asc("piece")).limit(p.seedMultis)
    singles.unionByName(multis)
  }

  /** Fixed-point smoothed log-scores for a (piece, cnt) vocabulary. */
  private def scoresOf(vocab: DataFrame): DataFrame = {
    val tv = vocab.agg(sum("cnt").cast("double").as("tot"),
      count(lit(1)).cast("double").as("vsz"))
    vocab.crossJoin(broadcast(tv))
      .select(col("piece"),
        floor(log((col("cnt") + 1) / (col("tot") + col("vsz")))
          * ScoreScale).cast("long").as("sc"))
  }

  /** Per-word Viterbi under `scores`: (word, freq, n, pieces, ll_fp)
    * where `pieces` is the best segmentation and `ll_fp` its exact
    * fixed-point log-likelihood. The score grid is padded to a constant
    * `maxWordLen · maxPieceLen` slots per word (index (i−1)·L + l for
    * END position i, length l) so the DP is pure index arithmetic —
    * the same layout the SQL oracle unrolls. `unk`, when given (the
    * INFERENCE path — [[segment]]), is a one-row (unk) frame scoring
    * out-of-vocabulary SINGLE characters as count-0 smoothed pieces, so
    * unseen characters segment as unknowns instead of making a word
    * unreachable; during training every character is in the vocabulary
    * and the coalesce is inert. */
  private def viterbi(words: DataFrame, scores: DataFrame,
                      p: Params, unk: Option[DataFrame] = None): DataFrame = {
    val L = p.maxPieceLen
    val W = p.maxWordLen
    val grid0 = words
      .withColumn("i", explode(sequence(lit(1), lit(W))))
      .withColumn("l", explode(sequence(lit(1), lit(L))))
      .withColumn("piece",
        when(col("l") <= col("i") && col("i") <= col("n"),
          col("word").substr(col("i") - col("l") + 1, col("l"))))
      .join(broadcast(scores), Seq("piece"), "left")
    val grid = unk match {
      case Some(u) => grid0.crossJoin(broadcast(u))
        .withColumn("sc",
          when(col("l") === 1 && col("piece").isNotNull,
            coalesce(col("sc"), col("unk"))).otherwise(col("sc")))
      case None => grid0
    }
    val garr = grid
      .groupBy("word")
      .agg(first("freq").as("freq"), first("n").as("n"),
        transform(sort_array(collect_list(struct(col("i"), col("l"),
          // sc must survive collect_list even when NULL: box it in a
          // one-field struct (collect_list drops nothing, but a NULL
          // sort key inside the struct would reorder; i,l lead and are
          // unique, so the sort is total either way)
          struct(col("sc").as("v")).as("s")))),
          x => x.getField("s").getField("v")).as("scs"))
    // positions past the word's end get a SENTINEL entry, not NULL: the
    // aggregate's declared element nullability comes from the zero
    // (non-null), so a null element would make downstream codegen elide
    // its null check and NPE (observed live); sentinel slots are never
    // read (the backtrack walks positions ≤ n only)
    val sentinel = struct(lit(Long.MinValue / 4).as("t"), lit(0).as("bl"))
    val dp = aggregate(
      sequence(lit(1), lit(W)),
      array(struct(lit(0L).as("t"), lit(0).as("bl"))),
      (acc: Column, i: Column) => {
        val cands = transform(sequence(lit(1), lit(L)), l =>
          when(l <= i && i <= col("n")
              && element_at(col("scs"), ((i - 1) * L + l).cast("int")).isNotNull,
            struct(
              (element_at(acc, (i - l + 1).cast("int")).getField("t")
                + element_at(col("scs"), ((i - 1) * L + l).cast("int"))).as("t"),
              l.cast("int").as("bl"))))
        array_append(acc,
          when(i <= col("n"),
            array_max(filter(cands, c => c.isNotNull)))
            .otherwise(sentinel))
      })
    val withDp = garr.withColumn("dp", dp)
    val pieces = aggregate(
      sequence(lit(1), lit(W)),
      struct(col("n").as("pos"),
        array().cast("array<string>").as("ps")),
      (st: Column, _: Column) => {
        val pos = st.getField("pos")
        val bl = element_at(col("dp"), (pos + 1).cast("int")).getField("bl")
        when(pos > 0,
          struct((pos - bl).as("pos"),
            array_append(st.getField("ps"),
              col("word").substr(pos - bl + 1, bl)).as("ps")))
          .otherwise(st)
      })
    // the backtrack walks END → START, so the accumulated ps array is
    // in reverse reading order — reverse it so `pieces` reads
    // left-to-right (the [[Bpe.encode]] contract; the SQL oracle
    // mirrors with list_reverse)
    withDp.select(col("word"), col("freq"), col("n"),
      reverse(pieces.getField("ps")).as("pieces"),
      element_at(col("dp"), (col("n") + 1).cast("int")).getField("t")
        .as("ll_fp"))
  }

  /** Keep all single chars + the top fraction of multi-char pieces. */
  private def prune(vocab: DataFrame, keep: Int): DataFrame =
    vocab.filter(length(col("piece")) === 1)
      .unionByName(vocab.filter(length(col("piece")) > 1)
        .orderBy(desc("cnt"), asc("piece")).limit(keep))

  /** Train: returns (final vocabulary with counts and scores, final
    * per-word segmentation (word, freq, n, pieces, ll_fp)). The final
    * E-step (round `emRounds`) is not followed by a prune, so the
    * returned vocabulary, counts, segmentations, and likelihood are
    * mutually consistent. */
  def train(docs: DataFrame, p: Params = Params()): (DataFrame, DataFrame) = {
    require(p.emRounds >= 1 && p.maxPieceLen >= 1 && p.maxWordLen >= 1,
      s"unigram: degenerate params $p")
    val words = wordTable(docs, p).localCheckpoint(eager = true)
    var vocab = seedVocab(words, p).localCheckpoint(eager = true)
    var keep = p.seedMultis
    var seg: DataFrame = null
    (1 to p.emRounds).foreach { r =>
      seg = viterbi(words, scoresOf(vocab), p).localCheckpoint(eager = true)
      val counts = seg
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      val refreshed = vocab.select("piece")
        .join(counts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      vocab =
        (if (r < p.emRounds) {
          keep = keep * p.keepNum / p.keepDen
          prune(refreshed, keep)
        } else refreshed).localCheckpoint(eager = true)
    }
    val scored = vocab.join(scoresOf(vocab), "piece")
      .select("piece", "cnt", "sc")
    (scored, seg)
  }

  /** Gate surface 1: the final vocabulary — (piece, cnt, score_fp),
    * count desc / piece asc. Every row is pinned (the whole model). */
  def vocabTable(docs: DataFrame): DataFrame =
    train(docs)._1
      .withColumnRenamed("sc", "score_fp")
      .orderBy(desc("cnt"), asc("piece"))

  /** A trained unigram model as a shippable artifact: the `(piece,
    * cnt)` vocabulary plus the [[Params]] it was trained under. Counts
    * are the model — scores are a deterministic function of them
    * ([[scoresOf]]), so persisting counts keeps the artifact minimal
    * and the reloaded scores bit-identical. */
  final case class Model(vocab: DataFrame, params: Params)

  /** Train and package as a [[Model]]. */
  def trainModel(docs: DataFrame, p: Params = Params()): Model =
    Model(train(docs, p)._1.select("piece", "cnt"), p)

  /** Persist a trained model ([[graft.similarity.Ivf.save]] /
    * `Dedup.saveBandIndex` pattern): vocabulary parquet plus a one-row
    * params sidecar. The params are load-bearing for INFERENCE —
    * `maxPieceLen`/`maxWordLen` shape the Viterbi grid, so segmenting
    * under different values silently produces a different tokenization;
    * [[load]] restores them so that cannot happen. Gate ug4 pins the
    * save → load → segment lifecycle to the fresh model's oracle. */
  def save(model: Model, path: String): Unit = {
    require(!model.vocab.isEmpty, "unigram: refusing to save an empty vocabulary")
    model.vocab.select("piece", "cnt")
      .write.mode("overwrite").parquet(s"$path/vocab")
    val spark = model.vocab.sparkSession
    import spark.implicits._
    val p = model.params
    Seq((p.maxPieceLen, p.seedMultis, p.emRounds, p.maxWordLen,
        p.keepNum, p.keepDen))
      .toDF("max_piece_len", "seed_multis", "em_rounds", "max_word_len",
        "keep_num", "keep_den")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a persisted model; the sidecar restores the training params
    * the inference grid must reproduce. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val r = spark.read.parquet(s"$path/params").head()
    Model(spark.read.parquet(s"$path/vocab").select("piece", "cnt"),
      Params(r.getAs[Int]("max_piece_len"), r.getAs[Int]("seed_multis"),
        r.getAs[Int]("em_rounds"), r.getAs[Int]("max_word_len"),
        r.getAs[Int]("keep_num"), r.getAs[Int]("keep_den")))
  }

  /** [[segment]] under a (typically reloaded) [[Model]] — inference
    * always runs with the params the model was trained under. */
  def segmentWith(model: Model, target: DataFrame): DataFrame =
    segment(target, model.vocab, model.params)

  /** INFERENCE: segment a NEW corpus's words under an already-trained
    * `(piece, cnt)` vocabulary — the unigram sibling of [[Bpe.encode]].
    * Out-of-vocabulary single characters score as count-0 smoothed
    * pieces (`floor(2^20·ln(1/(T+|V|)))` — the UNK floor), so genuinely
    * unseen alphabets segment character-by-character instead of
    * failing. Returns (word, freq, n, pieces, ll_fp) over the TARGET's
    * word table. */
  def segment(target: DataFrame, vocab: DataFrame,
              p: Params = Params()): DataFrame = {
    val unk = vocab.agg(sum("cnt").cast("double").as("tot"),
        count(lit(1)).cast("double").as("vsz"))
      .select(floor(log(lit(1.0) / (col("tot") + col("vsz")))
        * ScoreScale).cast("long").as("unk"))
    viterbi(wordTable(target, p), scoresOf(vocab), p, Some(unk))
  }

  /** Gate surface 3: cross-corpus application — train on `docs`,
    * segment `target`, and report the corpus-weighted top-20 piece
    * frequencies (the [[Bpe]] `bpe3_cross_encode` shape: subwords only
    * help where the trained pieces actually occur, so the profile is a
    * genuine out-of-domain pin, OOV handling included). */
  def crossSegmentCounts(docs: DataFrame, target: DataFrame): DataFrame = {
    val (vocab, _) = train(docs)
    segment(target, vocab.select("piece", "cnt"))
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .orderBy(desc("cnt"), asc("piece")).limit(20)
  }

  /** Gate surface 2: per-language segmentation census under the final
    * model — word mass, piece mass, EXACT fixed-point corpus
    * log-likelihood, and fertility. Per-language word frequencies join
    * the (global) segmentation broadcast-style, exactly like
    * [[Bpe]]-fertility (bpe4). */
  def langStats(docs: DataFrame): DataFrame = {
    val (_, seg) = train(docs)
    val segB = seg.select(col("word"), size(col("pieces")).as("n_pieces"),
      col("ll_fp"))
    docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, Params().maxWordLen))
      .groupBy("lang", "word").agg(count(lit(1)).as("wfreq"))
      .join(broadcast(segB), "word")
      .groupBy("lang")
      .agg(sum("wfreq").as("n_words"),
        sum(col("wfreq") * col("n_pieces")).as("n_pieces"),
        sum(col("wfreq") * col("ll_fp")).as("ll_fp"),
        round(sum(col("wfreq") * col("n_pieces")).cast("double")
          / sum("wfreq"), 6).as("fertility"))
      .orderBy("lang")
  }
}
