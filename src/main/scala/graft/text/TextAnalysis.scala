package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (beyond the
  * reference's scope; SURVEY §7.4 item 6): token counting, quality
  * scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (split/transform/filter/aggregate) — no UDFs — so the hot path stays
  * inside whole-stage codegen and scales linearly over a 100 TB corpus
  * with zero shuffle until the final (tiny) aggregate.
  */
object TextAnalysis {

  /** Whitespace tokens; consecutive separators yield empty tokens which we
    * drop — pinned semantics shared with the DuckDB oracle. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Non-overlapping `width`-token windows of a token array, joined back
    * to strings — the shared line/segment granularity used by segment
    * dedup ([[graft.dedup.Dedup]]) and the repetition filters. Guarded so
    * empty docs yield NO windows (Spark's `sequence(0,-1)` would count
    * DOWN, not return empty). */
  def tokenWindows(toks: Column, width: Int): Column = {
    val nseg = ceil(size(toks).cast("double") / width).cast("int")
    when(nseg > 0,
      transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(toks, i * width + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Adjacent-token bigram strings via one zip_with over two shifted
    * slices (no per-index element_at) — shared by [[topBigrams]] and the
    * repetition filters. */
  def bigramsOf(toks: Column): Column = {
    val n = size(toks)
    when(n >= 2,
      zip_with(
        slice(toks, lit(1), n - 1),
        slice(toks, lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
  }

  /** BPE-ish subword pre-tokenization: runs of letters, runs of digits,
    * runs of other non-space symbols — the coarse split a byte-pair
    * tokenizer applies before merges. `regexp_extract_all` is a
    * codegen'd builtin; the count is what token-budget accounting needs
    * at corpus scale. */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpeishPattern), lit(0))

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  private val stopwords = Seq("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  // ---- token-column variants -------------------------------------------
  // Every metric below is a function of the token array; computing the
  // array ONCE in its own projection and deriving all metrics from it
  // avoids re-running split+filter per metric (the text family's hot
  // path: quality + language ID alone would tokenize ~9× per row).
  // Spark's CollapseProject keeps the tokens projection separate because
  // the array is referenced by many non-cheap consumers.

  /** Stopword fraction over a precomputed token array (single native
    * set-membership pass, no interpreted per-token lambda). */
  def stopwordRatioOf(toks: Column): Column = {
    val n = size(toks)
    val cnt = element_at(
      graft.functions.HashExpressions.tokenSetCounts(toks, Seq(stopwords)), 1)
    when(n > 0, cnt.cast("double") / n).otherwise(0.0)
  }

  /** Mean token length over a precomputed token array. */
  def avgTokenLenOf(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(0.0)

  /** Quality heuristic over a precomputed token array (same formula and
    * rounding as [[qualityScore]] — pinned by the t6/tp1 oracles). */
  def qualityScoreOf(toks: Column, text: Column): Column = {
    val lenScore = least(size(toks).cast("double") / 50.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatioOf(toks) * 5.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 6)
  }
  // ----------------------------------------------------------------------

  /** Stopword fraction of tokens (0 when no tokens). */
  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  /** Non-alphanumeric-and-space character fraction. `translate` deletes
    * the allowed alphabet in one codegen'd pass — same count as the
    * regex `[^a-z0-9 ]` form but without per-row regex execution (the
    * prior hot spot of quality scoring at corpus scale). */
  private val allowedChars = "abcdefghijklmnopqrstuvwxyz0123456789 "
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(translate(text, allowedChars, "")).cast("double") / length(text))
      .otherwise(0.0)

  /** Composite quality heuristic in [0,1]: penalize very short docs, high
    * punctuation, and stopword-free (unnatural) text — the standard
    * length/punct/stopword trio of pretraining-data filters. */
  def qualityScore(text: Column): Column = qualityScoreOf(tokens(text), text)

  /** Per-document metrics projection (tokenizes once; see the
    * token-column variants above). */
  def docMetrics(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokens(col("text")).as("_toks"))
      .select(
        col("doc_id"), col("lang"), col("source"),
        size(col("_toks")).as("n_tokens"),
        length(col("text")).as("len_chars"),
        round(avgTokenLenOf(col("_toks")), 6).as("avg_token_len"),
        round(stopwordRatioOf(col("_toks")), 6).as("stopword_ratio"),
        qualityScoreOf(col("_toks"), col("text")).as("quality"))

  /** Aggregate quality profile by language. */
  def qualityByLang(documents: DataFrame): DataFrame =
    docMetrics(documents)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        round(avg("stopword_ratio"), 6).as("avg_stopword_ratio"),
        round(avg("quality"), 6).as("avg_quality"))
      .orderBy("lang")

  /** N-gram language-ID heuristic: score each candidate language by
    * marker-token hits and pick the argmax (deterministic tie-break by
    * language code). A real model would be a Naive Bayes over character
    * n-grams; the marker-scoring *plumbing* (per-language score columns +
    * greatest/argmax) is the scale-relevant part. */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "los", "que", "es"),
    "fr" -> Seq("le", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "he"))

  /** All language marker counts from ONE native pass over the tokens
    * (five interpreted filter-lambdas otherwise). */
  def langScoresOf(toks: Column): Seq[(String, Column)] = {
    val ordered = langMarkers.toSeq.sortBy(_._1)
    val cnts = graft.functions.HashExpressions.tokenSetCounts(toks, ordered.map(_._2))
    ordered.zipWithIndex.map { case ((l, _), i) => l -> element_at(cnts, i + 1) }
  }

  /** Language guess from a precomputed token array; no marker hits →
    * "und". array_max on (score, lang) structs: max score, then max lang
    * code — deterministic. */
  def langGuessOf(toks: Column): Column = {
    val best = langScoresOf(toks).map { case (l, s) =>
      struct(s.as("score"), lit(l).as("lang"))
    }
    val top = array_max(array(best: _*))
    when(top.getField("score") > 0, top.getField("lang")).otherwise("und")
  }

  /** Guess language per doc; docs with no marker hits get "und". */
  def withLangGuess(documents: DataFrame): DataFrame = {
    // tokenize once in a dedicated projection, then guess
    val cols = documents.columns
    documents
      .withColumn("_lg_toks", tokens(col("text")))
      .select(cols.map(col) :+ langGuessOf(col("_lg_toks")).as("lang_guess"): _*)
  }

  /** Language-ID confusion summary (guessed vs labeled). */
  def langIdConfusion(documents: DataFrame): DataFrame =
    withLangGuess(documents)
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "lang_guess")

  /** Cohen's kappa (1960) between the stored label and the n-gram
    * guess — chance-corrected agreement, the standard label-quality
    * summary over [[langIdConfusion]]'s tier. Everything after the
    * confusion aggregation is label-cardinality-sized: two marginal
    * roll-ups, one tiny join, three scalar broadcasts. All counts stay
    * exact integers; p_o, p_e, and kappa are computed with ONE shared
    * operand order so both engines round identical doubles. */
  def langIdKappa(documents: DataFrame): DataFrame = {
    val c = langIdConfusion(documents)
    val n = c.agg(sum("cnt").as("_n"))
    val agree = c.filter(col("lang") === col("lang_guess"))
      .agg(coalesce(sum("cnt"), lit(0L)).as("_agree"))
    val cross = c.groupBy(col("lang").as("k")).agg(sum("cnt").as("_r"))
      .join(c.groupBy(col("lang_guess").as("k")).agg(sum("cnt").as("_c")), "k")
      .agg(sum(col("_r") * col("_c")).as("_cross"))
    val nd = col("_n").cast("double")
    val po = col("_agree") / nd
    val pe = col("_cross") / (nd * nd)
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(cross))
      .select(col("_n").as("n_docs"),
        round(po, 6).as("p_observed"),
        round(pe, 6).as("p_expected"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Vocabulary stats per language: exact distinct-token counts via
    * explode + countDistinct. Exact distinct shuffles every (lang,
    * token) pair — fine per-language; the 100 TB whole-corpus variant
    * is [[vocabByLangApprox]]. */
  def vocabByLang(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("vocab_exact"))
      .orderBy("lang")

  /** HLL-sketch variant: `approx_count_distinct` keeps per-group state
    * at a few KB regardless of vocabulary size — the only viable form
    * when distinct counts are in the billions. rsd 1% is Spark's
    * near-max precision. */
  def vocabByLangApprox(documents: DataFrame, rsd: Double = 0.01): DataFrame =
    documents
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(approx_count_distinct(col("tok"), rsd).as("vocab_approx"))
      .orderBy("lang")

  /** Per-source corpus divergence: KL(source ‖ corpus) over a
    * fixed-width hashed-token histogram — the mixture-drift monitor a
    * training pipeline runs per ingest batch ("has src3's token
    * distribution moved away from the blend?"). Hashed buckets (FNV mod
    * `buckets`) bound the state at `sources × buckets` counters no
    * matter the vocabulary, the same fixed-feature trick DSIR uses for
    * its importance models ([[graft.text.Dsir]]).
    *
    * Scale shape: one explode + one partial→final count keyed by
    * (source, bucket); everything after operates on that tiny aggregate
    * (the global marginal is a second agg OF the aggregate, and the
    * one-row corpus total broadcasts). KL is exact over the bucketed
    * distributions: every source bucket is ⊆ its global bucket, so
    * p_g > 0 wherever p_s > 0 and no smoothing is needed. */
  def sourceDivergence(documents: DataFrame, buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val sb = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"),
        pmod(graft.functions.HashExpressions.fnv1a32(col("tok")),
          lit(buckets.toLong)).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("n"))
    val perSource = sb.groupBy("source").agg(sum("n").as("n_src"))
    val perBucket = sb.groupBy("b").agg(sum("n").as("n_b"))
    val global = perBucket.crossJoin(
      broadcast(perBucket.agg(sum("n_b").as("n_all"))))
      .select(col("b"), (col("n_b") / col("n_all")).as("p_g"))
    sb.join(perSource, "source").join(global, "b")
      .withColumn("p_s", col("n") / col("n_src"))
      .groupBy("source")
      .agg(max("n_src").as("n_tokens"),
        round(sum(col("p_s") * log(col("p_s") / col("p_g"))), 6)
          .as("kl_vs_corpus"))
      .orderBy("source")
  }

  /** Adjacent-token pair (bigram) frequencies — the counting step at the
    * heart of BPE vocabulary training: each merge round ranks pair
    * frequencies over the corpus. Row-local bigram construction, then a
    * partial→final count keyed by the pair string; top-k via
    * TakeOrderedAndProject. At 100 TB this is the map-side-combine shape
    * (pair cardinality ≪ corpus size), not an explode-then-sort. */
  def topBigrams(documents: DataFrame, k: Int = 50): DataFrame = {
    // tokenize in its own projection so CollapseProject cannot re-inline
    // the split into every consumer; pair via zip_with over the two
    // shifted slices (one pass over the array, no per-index element_at)
    val withToks = documents.select(tokens(col("text")).as("toks"))
    withToks
      .select(explode(bigramsOf(col("toks"))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(k)
  }

  /** Per-language Zipf rank-frequency slope: the OLS slope of
    * `ln(freq)` on `ln(rank)` over the head of each language's
    * vocabulary — natural text follows Zipf's law with slope ≈ −1
    * (Zipf 1949; Piantadosi 2014 review), so a corpus slice whose slope
    * is far off (≈ 0: synthetic/uniform; ≪ −2: template spam) fails the
    * "looks like language" smell test. A corpus-level quality signal
    * alongside the per-document [[qualityScore]].
    *
    * Scale shape: one explode + (lang, token) partial→final count; the
    * `minCount` filter prunes the tail BEFORE ranking, so the per-lang
    * rank window (parallel across languages) sorts only the surviving
    * head, and `topK` caps the regression frame. Slope via
    * covar_pop/var_pop aggregates — one pass, no matrix. */
  def zipfSlope(documents: DataFrame, minCount: Long = 5L,
                topK: Int = 500): DataFrame = {
    require(topK >= 2, s"zipfSlope: topK must be >= 2, got $topK")
    val vocab = documents
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("tok"))
    vocab
      .withColumn("rk", row_number().over(byLang))
      .filter(col("rk") <= topK)
      .select(col("lang"), log(col("rk")).as("x"), log(col("cnt")).as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_head"),
        round(covar_pop(col("x"), col("y")) / var_pop(col("x")), 4)
          .as("zipf_slope"))
      .filter(col("n_head") >= 2)
      .orderBy("lang")
  }

  /** Top-`k` adjacent-token pairs by pointwise mutual information —
    * collocation/phrase detection (Church & Hanks 1990; the word2vec
    * phrase pass of Mikolov et al. 2013 is the same score with a
    * discount): `pmi = ln(p(ab) / (p(a)·p(b)))` with `p(ab)` over the
    * bigram total and `p(·)` over the unigram total. High-PMI pairs are
    * phrases ("new york"); raw-frequency top bigrams ([[topBigrams]])
    * are mostly stopword pairs — PMI is the signal a tokenizer/phrase
    * vocabulary actually wants. `minCount` suppresses the low-support
    * noise that dominates raw PMI (a pair seen once with two hapax
    * words scores near-maximal).
    *
    * Shuffle shape at 100 TB: one explode into pair structs with
    * map-side combine (pair vocabulary ≪ corpus), one unigram
    * aggregate, two vocabulary-sized equi-joins to attach component
    * counts, then TakeOrderedAndProject for the top-k — never a global
    * sort, never a data-sized join. Ranking uses the unrounded score
    * with the pair as tiebreak; the reported score is rounded. */
  def pmiPhrases(documents: DataFrame, k: Int = 20,
                 minCount: Long = 5L): DataFrame = {
    val withToks = documents.select(tokens(col("text")).as("toks"))
    val uni = withToks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val nUni = uni.agg(sum("cw").as("n_uni"))
    val pairs = withToks
      .select(explode(when(size(col("toks")) >= 2,
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
    // probability denominator over ALL bigram occurrences — minCount
    // prunes candidates, it must not reshape the distribution
    val nBi = pairs.agg(sum("cab").as("n_bi"))
    pairs
      .filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(nBi))
      .crossJoin(broadcast(nUni))
      .withColumn("pmi",
        log((col("cab") / col("n_bi"))
          / ((col("c1") / col("n_uni")) * (col("c2") / col("n_uni")))))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("cab"), col("c1"), col("c2"), round(col("pmi"), 6).as("pmi"))
  }

  /** Top-`k` TF-IDF terms per document — the classic keyword/topic
    * extraction pass (`tf · ln((N+1)/(df+1))`, smoothed IDF).
    *
    * Shuffle shape at 100 TB: one explode to (doc, term) with map-side
    * combine into per-doc term counts, a vocabulary-sized document-
    * frequency aggregate, a shuffle join on the term key (vocabulary ≪
    * corpus; broadcast it when it fits), and a per-doc top-k window.
    * Ranking uses the UNROUNDED score with the term as tiebreak, so
    * rank order is reproducible; the reported score is rounded. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val score = col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(score.desc, col("term"))
    tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), round(score, 6).as("tfidf"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** Document fingerprint: FNV-1a 32-bit rolling hash over the text
    * characters, built from `aggregate` over the char array — pure
    * codegen'd expression, no UDF. 32-bit state in long arithmetic keeps
    * every intermediate < 2^56, so it is exact under ANSI mode (no
    * wraparound needed). Used for cheap exact-dup detection where a
    * full-text groupBy would shuffle terabytes of payload: fingerprint
    * first (8 bytes/doc), groupBy fingerprint, confirm collisions by
    * text equality. */
  def fingerprint(text: Column): Column =
    graft.functions.HashExpressions.fnv1a32(text)

  /** The declarative formulation [[fingerprint]] replaced (kept for the
    * equivalence spec): interpreted lambda per character. */
  def fingerprintDeclarative(text: Column): Column =
    aggregate(
      // split("", "") yields [""] — drop empties so "" hashes to the basis
      transform(filter(split(text, ""), ch => length(ch) > 0), ch => ascii(ch)),
      lit(2166136261L), // FNV-1a 32-bit offset basis
      (h, b) => (h.bitwiseXOR(b.cast("long")) * lit(16777619L))
        .bitwiseAND(lit(0xFFFFFFFFL)))

  def withFingerprint(documents: DataFrame): DataFrame =
    documents.withColumn("fp", fingerprint(col("text")))

  /** Within-document repetition signals — the Gopher repetition rules
    * (Rae et al. 2021, table A1): the fraction of duplicate
    * `width`-token windows in a document, and the fraction of the
    * document's bigram occurrences taken by its single most frequent
    * bigram. Adds `win_dup_frac` and `top_bigram_frac` per document.
    *
    * Entirely ROW-LOCAL — zero shuffle: the window-duplication fraction
    * is array_distinct over the window list, and the per-document bigram
    * mode is the native
    * [[graft.functions.HashExpressions.MaxShingleRunCount]] (hash every
    * bigram position, sort, longest run — one JVM pass). The earlier
    * explode → groupBy(doc, bigram) → max formulation shuffled
    * corpus×tokens rows: measured 39 s vs ~6 s at 500k docs. */
  def withRepetitionStats(documents: DataFrame, width: Int = 10): DataFrame =
    documents.withColumn("toks", tokens(col("text")))
      .withColumn("win_dup_frac", {
        val wins = tokenWindows(col("toks"), width)
        when(size(wins) > 0,
          lit(1.0) - size(array_distinct(wins)).cast("double") / size(wins))
          .otherwise(lit(0.0))
      })
      .withColumn("top_bigram_frac", {
        val nBigrams = size(col("toks")) - 1
        when(nBigrams > 0,
          graft.functions.HashExpressions.maxShingleRunCount(col("text"), 2)
            .cast("double") / nBigrams)
          .otherwise(lit(0.0))
      })
      .drop("toks")

  /** Corpus-level repetition profile with Gopher-style flag counts:
    * a document is flagged when over 30% of its windows are duplicates
    * or one bigram takes over 20% of bigram occurrences. */
  def repetitionByLang(documents: DataFrame, width: Int = 10): DataFrame =
    withRepetitionStats(documents, width)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("win_dup_frac"), 6).as("avg_win_dup_frac"),
        round(avg("top_bigram_frac"), 6).as("avg_top_bigram_frac"),
        count(when(col("win_dup_frac") > 0.3 || col("top_bigram_frac") > 0.2, 1))
          .as("n_flagged"))
      .orderBy("lang")

  /** C4-style line filtering (Raffel et al. 2020 §2.2, the "Colossal
    * Clean Crawled Corpus" heuristics, thresholds scaled to corpus):
    * a LINE survives when it ends in terminal punctuation (`. ! ? "`),
    * has at least `minWords` whitespace words, and doesn't mention
    * javascript; a DOCUMENT survives when at least `minLines` of its
    * lines survived and the raw text contains neither "lorem ipsum"
    * nor a curly brace. Adds `lines_in`, `lines_kept`, `clean_text`
    * (surviving lines re-joined), and `doc_kept`.
    *
    * Entirely row-local — split/filter/array_join higher-order
    * functions inside whole-stage codegen, zero shuffle — so the
    * filter streams over a 100 TB crawl at scan speed. */
  def c4LineFilter(documents: DataFrame, minWords: Int = 3,
                   minLines: Int = 2): DataFrame = {
    val keptLines = filter(split(col("text"), "\n"), l =>
      l.rlike("[.!?\"]$") &&
        size(tokens(l)) >= minWords &&
        !lower(l).contains("javascript"))
    documents
      .withColumn("lines_in", size(split(col("text"), "\n")))
      .withColumn("kept", keptLines)
      .withColumn("lines_kept", size(col("kept")))
      .withColumn("clean_text", array_join(col("kept"), "\n"))
      .withColumn("doc_kept",
        col("lines_kept") >= minLines &&
          !lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{"))
      .drop("kept")
  }

  /** Per-source readability profile (Flesch–Kincaid-style grade):
    * syllables approximated by vowel-run counts ("aeiouy" groups — the
    * standard cheap proxy), words by the shared tokenizer; the fixture
    * corpus carries no sentence punctuation, so each document is
    * treated as ONE sentence (words/sentences = words) and the grade
    * is the FK formula under that convention:
    * `0.39·words + 11.8·(syllables/words) − 15.59`. Row-local regexp +
    * one hash aggregation. */
  def readabilityBySource(documents: DataFrame): DataFrame = {
    val words = tokenCount(col("text")).cast("double")
    val sylls = size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
      .cast("double")
    documents
      .filter(words > 0)
      .select(col("source"),
        words.as("w"), sylls.as("s"),
        (lit(0.39) * words + lit(11.8) * (sylls / words) - lit(15.59))
          .as("grade"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("s") / col("w")), 4).as("avg_syll_per_word"),
        round(avg("w"), 4).as("avg_words"),
        round(avg("grade"), 4).as("avg_grade"))
      .orderBy("source")
  }

  /** Gopher document-quality rules (Rae et al. 2021, table A1) — the
    * heuristic battery real pretraining pipelines run ALONGSIDE the
    * repetition rules ([[withRepetitionStats]] covers those): word
    * count bounds, mean-word-length band [3,10], symbol-to-word ratio
    * (`#` and `...`) ≤ 0.1, ≤90% of lines bullet-started, ≤30% of
    * lines ellipsis-terminated, ≥80% of words containing a letter, and
    * ≥2 distinct required stopwords present. Adds one boolean per rule
    * plus the conjunction `gopher_pass`.
    *
    * Words here are `[ \t\n]+`-separated (rules inspect LINE structure,
    * so the splitter must cross newlines — unlike [[tokens]]' exact
    * single-space contract shared with the oracle's `string_split`).
    * Entirely row-local — higher-order functions and `replace`
    * arithmetic inside whole-stage codegen, zero shuffle: the battery
    * streams over a 100 TB crawl at scan speed, like [[c4LineFilter]]. */
  def gopherRules(documents: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000,
                  requiredWords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    require(requiredWords.nonEmpty, "requiredWords must not be empty")
    val toksC = filter(split(col("text"), "[ \\t\\n]+"), t => length(t) > 0)
    val linesC = split(col("text"), "\n")
    documents
      .withColumn("_w", toksC).withColumn("_l", linesC)
      .withColumn("_nw", size(col("_w")))
      .withColumn("r_wordcount",
        col("_nw") >= minWords && col("_nw") <= maxWords)
      .withColumn("r_meanlen", {
        val mean = aggregate(col("_w"), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / col("_nw")
        col("_nw") > 0 && mean >= 3.0 && mean <= 10.0
      })
      .withColumn("r_symbol", {
        val hashes = length(col("text")) - length(replace(col("text"), lit("#")))
        val ells = (length(col("text")) -
          length(replace(col("text"), lit("...")))).cast("double") / 3.0
        col("_nw") > 0 &&
          (hashes.cast("double") + ells) / col("_nw") <= 0.1
      })
      .withColumn("r_bullet",
        size(filter(col("_l"), l => l.rlike("^[-*•] "))).cast("double")
          / size(col("_l")) <= 0.9)
      .withColumn("r_ellipsis",
        size(filter(col("_l"), l => l.endsWith("..."))).cast("double")
          / size(col("_l")) <= 0.3)
      .withColumn("r_alpha",
        col("_nw") > 0 &&
          size(filter(col("_w"), t => t.rlike("[A-Za-z]"))).cast("double")
            / col("_nw") >= 0.8)
      .withColumn("r_stopword",
        size(filter(array(requiredWords.map(lit): _*),
          w => array_contains(col("_w"), w))) >= 2)
      .withColumn("gopher_pass",
        col("r_wordcount") && col("r_meanlen") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopword"))
      .drop("_w", "_l", "_nw")
  }

  /** Per-language census of a [[gopherRules]] pass: how many documents
    * survive the full battery and which rule each failure trips — the
    * table a pipeline reads before deciding which thresholds to tune.
    * One partial→final aggregation over language keys. */
  def gopherRuleCensus(documents: DataFrame, minWords: Int = 50,
                       maxWords: Int = 100000,
                       requiredWords: Seq[String] =
                         Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    def fails(c: String) = count(when(!col(c), 1)).as(s"f_${c.stripPrefix("r_")}")
    gopherRules(documents, minWords, maxWords, requiredWords)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("gopher_pass"), 1)).as("n_pass"),
        fails("r_wordcount"), fails("r_meanlen"), fails("r_symbol"),
        fails("r_bullet"), fails("r_ellipsis"), fails("r_alpha"),
        fails("r_stopword"))
      .orderBy("lang")
  }

  /** Per-source census of a [[c4LineFilter]] pass: document and line
    * keep counts plus character mass and an FNV sum over the cleaned
    * text of surviving documents (byte-level pin of `clean_text`). */
  def c4FilterStats(documents: DataFrame, minWords: Int = 3,
                    minLines: Int = 2): DataFrame =
    c4LineFilter(documents, minWords, minLines)
      .groupBy("source")
      .agg(count(lit(1)).as("docs_in"),
        count(when(col("doc_kept"), 1)).as("docs_kept"),
        sum("lines_in").as("lines_in"),
        sum("lines_kept").as("lines_kept"),
        sum(when(col("doc_kept"), length(col("clean_text"))).otherwise(lit(0L)))
          .as("chars_kept"),
        sum(when(col("doc_kept"),
          graft.functions.HashExpressions.fnv1a32(col("clean_text")))
          .otherwise(lit(0L))).as("clean_fnv_sum"))
      .orderBy("source")

  /** Per-document character-level Shannon entropy in bits/char — the
    * cheap compression proxy that separates natural prose (~4 bits) from
    * gibberish, key dumps, and single-char floods (near 0 or near
    * log₂|alphabet|); CCNet-adjacent pipelines threshold on it before
    * paying for LM scoring. Computed as
    * `H = (ln n − Σ k·ln k / n) / ln 2` over per-character counts `k` —
    * integer counts walked through the same ln calls on every engine,
    * the lm1 float convention.
    *
    * Scale shape: one explode to characters (linear in corpus bytes,
    * the same cost class as every tokenizing pass), a partial→final
    * count on (doc, char) — at most |alphabet| rows per doc survive the
    * partial agg, so the shuffle is ≤ alphabet × docs, far below the
    * exploded size — then a per-doc rollup. No window, no join. */
  def charEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        explode(filter(split(col("text"), ""), c => length(c) > 0)).as("ch"))
      .groupBy("doc_id", "lang", "ch")
      .agg(count(lit(1)).as("k"))
      .groupBy("doc_id", "lang")
      .agg(sum("k").as("n"),
        sum(col("k").cast("double") * log(col("k").cast("double"))).as("_s"))
      .select(col("doc_id"), col("lang"), col("n").as("n_chars"),
        round((log(col("n").cast("double")) - col("_s") / col("n")) /
          log(lit(2.0)), 4).as("entropy_bits"))

  /** Per-language [[charEntropy]] census (rounded distribution ends). */
  def charEntropyByLang(documents: DataFrame): DataFrame =
    charEntropy(documents)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("entropy_bits"), 4).as("avg_entropy"),
        round(min("entropy_bits"), 4).as("min_entropy"),
        round(max("entropy_bits"), 4).as("max_entropy"))
      .orderBy("lang")
}
