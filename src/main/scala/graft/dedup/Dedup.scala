package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession.labeled
import graft.sources.CuratedWriter.{hadoopFs, nextVersion, readPointer,
  versions, writePointer}

/** Deduplication operators for large-corpus training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard (SURVEY §7.4 item 6).
  *
  * Scale design: nothing here ever does an all-pairs comparison of the
  * corpus. Exact dedup is a hash groupBy; MinHash/LSH compares only
  * within LSH band-buckets (candidate generation is a self-join on the
  * band signature, so the shuffle key is the 8-byte signature, not the
  * document); SimHash compares only within band-buckets of the 64-bit
  * fingerprint. At 100 TB the only wide shuffles are on small fixed-width
  * keys.
  */
object Dedup {

  /** Word shingle width, MinHash signature length, LSH band count and the
    * bucket size past which a band bucket degrades to star pairs. */
  val ShingleK = 3
  val NumHashes = 64
  val Bands = 16
  val MaxBucket = 64

  /** Exact dedup via hash groupBy: canonical representative = min doc_id
    * per distinct text (deterministic, unlike `dropDuplicates`). */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Incremental (snapshot-vs-batch) dedup — the shape a CONTINUOUSLY
    * ingesting corpus actually runs: an incoming batch is deduplicated
    * (a) against the already-accepted snapshot and (b) within itself,
    * without ever re-shuffling the snapshot's payloads. Acceptance =
    * the incoming document's normalized-text digest appears nowhere in
    * `existing` (anti-join) AND it is the batch's first holder of that
    * digest (min incoming id per digest).
    *
    * Scale shape: both sides reduce to 16-byte md5 digests before any
    * exchange, so the anti-join and the within-batch election shuffle
    * fixed-width keys, never text; the snapshot side is
    * `select distinct digest` — at 100 TB that digest set is what a
    * pipeline would persist between runs (bucketed by digest, making
    * every nightly anti-join zero-shuffle on the snapshot side, the
    * [[graft.sources.Bucketing]] pattern). No stage is
    * batch×snapshot all-pairs. */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame): DataFrame = {
    def digest(df: DataFrame) = df.withColumn("_dg",
      unhex(md5(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
        .cast("binary"))))
    val seen = digest(existing).select("_dg").distinct()
    val fresh = digest(incoming).join(seen, Seq("_dg"), "left_anti")
    val firsts = fresh.groupBy("_dg").agg(min("doc_id").as("doc_id"))
    fresh.join(firsts, Seq("_dg", "doc_id"), "left_semi").drop("_dg")
  }

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct normalized texts the two slices share — the table that
    * exposes mirror sites, syndication, and double-scraped feeds before
    * anyone decides which slice to keep. Output
    * `(source_a, source_b, n_shared)` with `source_a < source_b`.
    *
    * Scale shape: texts reduce to 16-byte digests, the (digest, source)
    * projection is deduplicated (one shuffle on the digest), and the
    * pair join is digest-keyed — each digest's match group is bounded
    * by the SOURCE cardinality (a config-sized constant, not a corpus
    * property), so the join can never go quadratic in documents. */
  def crossSourceDups(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
    val ds = documents
      .select(unhex(md5(norm.cast("binary"))).as("_dg"), col("source"))
      .distinct()
    ds.select(col("_dg"), col("source").as("source_a"))
      .join(ds.select(col("_dg"), col("source").as("source_b")), "_dg")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source shingle novelty: for each source, its distinct `k`-token
    * shingle count and the fraction of those shingles that appear in NO
    * other source — the originality number that separates a slice
    * contributing genuinely new text from one that only re-serves what
    * the rest of the corpus already has (syndication feeds score near
    * zero, niche forums near one). Output
    * `(source, n_shingles, n_unique, novelty)`.
    *
    * Scale shape: one corpus shingle explode, deduplicated to distinct
    * (source, 8-byte hash) pairs; the per-shingle source count and the
    * join back are both keyed on the fixed-width hash, and the
    * source-count column is bounded by |sources| — no all-pairs, no
    * corpus-sized task state. The hash is xxhash64, NOT the 32-bit FNV
    * the decontamination oracles replay: this statistic counts
    * singleton hashes directly, so 32-bit birthday collisions (expected
    * ≥1 past ~10⁵ distinct shingles — observed at sf0.1) would bias
    * novelty down; 64 bits pushes collision odds below 1e-7 at 10⁶. */
  def sourceNovelty(documents: DataFrame, k: Int = 8): DataFrame = {
    val ss = documents
      .select(col("source"), explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k)).as("sh"))
      .distinct()
    val bySh = ss.groupBy("sh").agg(count(lit(1)).as("n_sources"))
    ss.join(bySh, "sh")
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy("source")
  }

  /** Language-label conflict census: how many distinct normalized texts
    * carry 1, 2, 3… different `lang` labels across their copies. In a
    * real corpus a text under multiple language labels is almost always
    * a language-ID error (lang-ID models disagree most on exactly the
    * boilerplate that duplicates most), so the `n_langs >= 2` mass is
    * the standing QA number a pipeline tracks before trusting any
    * per-language mixture weight. Output
    * `(n_langs, n_texts, n_docs)` ordered by `n_langs`.
    *
    * Scale shape: one shuffle on the 16-byte digest (partial→final
    * count-distinct over the per-text lang set), then a census
    * aggregation whose cardinality is bounded by the language count. */
  def langConflictCensus(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
    documents
      .select(unhex(md5(norm.cast("binary"))).as("_dg"), col("lang"))
      .groupBy("_dg")
      .agg(countDistinct("lang").as("n_langs"), count(lit(1)).as("n_docs"))
      .groupBy("n_langs")
      .agg(count(lit(1)).as("n_texts"), sum("n_docs").as("n_docs"))
      .orderBy("n_langs")
  }

  /** Normalization-insensitive exact dedup with a keep-longest election:
    * documents that agree after lowercasing and whitespace collapse are
    * one group (web corpora are full of re-serialized copies that differ
    * only in case/spacing), and the group's KEPT form is the longest
    * original text (ties → lowest doc_id) — the copy that preserves the
    * most formatting signal, where [[exactDedup]]'s min-id election is
    * byte-identity only.
    *
    * Scale shape: normalization is row-local codegen'd string work; the
    * election is one `max(struct(len, -id))` groupBy — partial→final,
    * no window sort. At 100 TB, set `hashKeys` to group on the 16-byte
    * `unhex(md5(norm))` digest instead of shipping normalized payloads
    * through the exchange — same election, constant-width shuffle keys.
    *
    * The whitespace class is spelled out (`[ \t\n\f\r]`) rather than
    * `\s` because regex dialects disagree on `\s`'s exact membership
    * (Java adds \x0B; RE2 does not) — an explicit class means every
    * engine, including the DuckDB oracle, forms identical groups. */
  def dedupNormalizedKeepLongest(documents: DataFrame,
                                 hashKeys: Boolean = false): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
    val keyed = documents.withColumn("_k",
      if (hashKeys) unhex(md5(norm.cast("binary"))) else norm)
    keyed
      .groupBy("_k")
      .agg(count(lit(1)).as("n_variants"),
        max(struct(length(col("text")).as("len"), (-col("doc_id")).as("nid")))
          .as("win"))
      .select((-col("win.nid")).as("doc_id"), col("win.len").as("text_len"),
        col("n_variants"))
  }

  /** Exact-dup profile by language: total vs distinct texts. */
  def dupStatsByLang(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6))
      .orderBy("lang")

  /** Non-overlapping `width`-token segments of a document — the
    * line/window granularity at which boilerplate repeats across
    * documents that are not whole-doc duplicates (C4/RefinedWeb-style
    * line-level dedup). Window construction shared with the repetition
    * filters ([[graft.text.TextAnalysis.tokenWindows]]). */
  private def segments(text: Column, width: Int): Column =
    graft.text.TextAnalysis.tokenWindows(
      graft.text.TextAnalysis.tokens(text), width)

  /** Cross-corpus segment-duplication profile per source: how much of
    * each slice of the corpus is repeated `width`-token windows.
    *
    * The distinct runs over `xxhash64(segment)` — an 8-byte key — so the
    * partial-distinct shuffle moves fixed-width longs instead of raw
    * ~width-token strings (corpus-proportional volume; measured 30% of
    * the whole bench before this). 64-bit collisions are negligible at
    * profiling scales but not guaranteed absent at 10^12 segments, so
    * the documented 100 TB path is [[segmentDupStatsApprox]] (HLL, no
    * distinct shuffle at all), mirroring
    * [[graft.text.TextAnalysis.vocabByLangApprox]]. */
  def segmentDupStats(documents: DataFrame, width: Int = 10): DataFrame =
    documents
      .select(col("source"),
        explode(segments(col("text"), width)).as("segment"))
      .select(col("source"), xxhash64(col("segment")).as("seg_hash"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_segments"),
        countDistinct(col("seg_hash")).as("n_unique"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_segments"), 6))
      .orderBy("source")

  /** 100 TB twin of [[segmentDupStats]]: `approx_count_distinct` (HLL++)
    * replaces the exact distinct, so the aggregation is a pure partial →
    * final combine on `source` — constant reducer state per group, no
    * per-segment shuffle rows at all. */
  def segmentDupStatsApprox(documents: DataFrame, width: Int = 10,
                            rsd: Double = 0.01): DataFrame =
    documents
      .select(col("source"),
        explode(segments(col("text"), width)).as("segment"))
      .select(col("source"), xxhash64(col("segment")).as("seg_hash"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_segments"),
        approx_count_distinct(col("seg_hash"), rsd).as("n_unique"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_segments"), 6))
      .orderBy("source")

  /** Remove every non-first occurrence of each segment corpus-wide
    * (first = lowest (doc_id, position)) and reassemble the surviving
    * segments in document order. One shuffle on the segment hash for
    * first-occurrence election, one on doc_id for reassembly; no
    * all-pairs stage. */
  def stripDuplicateSegments(documents: DataFrame, width: Int = 10): DataFrame = {
    val exploded = documents
      .select(col("doc_id"), posexplode(segments(col("text"), width)).as(Seq("seg_idx", "segment")))
    val firsts = exploded
      .groupBy("segment")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
    exploded
      .join(firsts, "segment")
      .filter(col("doc_id") === col("first.doc_id") && col("seg_idx") === col("first.seg_idx"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("seg_idx"), col("segment")))),
          s => s.getField("segment")), " ").as("text"))
      .orderBy("doc_id")
  }

  /** CCNet-style boilerplate-line removal: drop every line whose
    * normalized form (trimmed, lowercased) appears in at least
    * `minDocs` DISTINCT documents — navigation chrome, cookie
    * banners, license footers — and reassemble each document from its
    * surviving lines in order.
    *
    * Scale shape: within-doc line repeats collapse BEFORE the
    * frequency count (one distinct over `(doc_id, line_hash)` — 8-byte
    * hash keys, never raw lines, on the shuffle), the frequency count
    * is a partial→final aggregate on the hash, and the boilerplate
    * membership comes back as a LEFT SEMI join on the hash — the
    * boilerplate set is the ≥minDocs head of the line-frequency
    * distribution, so its size is bounded by total_lines/minDocs and
    * it shrinks as the threshold rises; no broadcast assumption is
    * needed, both joins key on the 8-byte hash. Reassembly is one
    * per-doc `array_sort(collect_list)` whose state is the document's
    * own lines — row-local mass, never corpus-sized. Empty lines are
    * never counted as boilerplate (they'd link unrelated docs).
    *
    * Returns `(doc_id, text, n_kept, n_dropped)` — docs whose every
    * line is boilerplate survive with empty text, so the output is a
    * total map of the input. 64-bit hash collisions at 10^12 lines are
    * the same documented trade as [[segmentDupStats]]. */
  def removeBoilerplateLines(documents: DataFrame,
                             minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"boilerplate threshold must be >= 2, got $minDocs")
    val lines = documents
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .withColumn("_norm", lower(trim(col("line"))))
      .withColumn("_h", xxhash64(col("_norm")))
    val boiler = lines
      .filter(length(col("_norm")) > 0)
      .select(col("doc_id"), col("_h")).distinct()
      .groupBy("_h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("_h")
    val kept = lines.join(boiler, Seq("_h"), "left_anti")
    val keptByDoc = kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), "\n").as("text"),
        count(lit(1)).as("n_kept"))
    documents
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("_n_lines"))
      .join(keptByDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("_n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Word k-shingles (k = [[ShingleK]]), distinct per doc. Built by
    * zipping k SHIFTED SLICES of the token array positionally — the
    * tokenize expression evaluates O(k) times per document. (The
    * `transform(sequence(...), i => slice(toks, i+1, k))` form
    * re-evaluated the split+filter at every shingle position —
    * Catalyst inlines the array expression into each slice call —
    * O(len²) string work per doc across every MinHash/decontamination/
    * Jaccard caller.) */
  def shingles(text: Column): Column = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    val n = size(toks)
    val first = slice(toks, lit(1), n - (ShingleK - 1))
    val joined = (1 until ShingleK).foldLeft(first) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), n - (ShingleK - 1)),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(
      when(n >= ShingleK, joined)
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Per-document duplicated-n-gram coverage: the fraction of a doc's
    * distinct word k-shingles that occur in at least `minDocs` documents
    * corpus-wide — the cheap distributed proxy for exact-substring
    * duplication (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" measures the same signal with a suffix
    * array; the shingle form loses substring maximality but keeps the
    * per-doc coverage number a filter thresholds on).
    *
    * Scale shape: shingles hash row-locally to 8-byte FNV keys in ONE
    * JVM pass per document ([[graft.functions.HashExpressions
    * .ShingleHashes]] — no shingle-string array ever materializes, the
    * same hot path the minhash tier uses; byte-wise FNV ≡ the oracle's
    * per-code-point form on ASCII corpora, the equivalence d3 already
    * pins); occurrence counting is one partial→final groupBy on the
    * hash; the count joins back on the same 8-byte key (AQE splits any
    * hot shingle) and the per-doc rollup is a second partial→final agg.
    * No all-pairs stage, no window over the corpus. Hash collisions can
    * only OVER-count duplication (two different shingles sharing a
    * bucket), the conservative direction for a drop-filter — same trade
    * the d9 xxhash minhash tier makes. */
  def dupNgramCoverage(documents: DataFrame, k: Int = 8,
                       minDocs: Int = 2): DataFrame = {
    require(k > 0 && minDocs >= 2, s"need k > 0, minDocs >= 2; got $k, $minDocs")
    val sh = documents
      .select(col("doc_id"),
        explode(graft.functions.HashExpressions.shingleHashes(
          col("text"), k, fnv = true)).as("h"))
    // shingles() is distinct-per-doc, so count(*) per hash = docs containing
    val counts = sh.groupBy("h").agg(count(lit(1)).as("n_docs_with"))
    sh.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs_with") >= minDocs, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_coverage",
        col("n_dup").cast("double") / col("n_shingles"))
  }

  /** doc_id → minhash signature array of length `numHashes` (MinHash per
    * Broder '97: k permutations approximated by `(a_i*h + b_i) mod p`,
    * min per doc — same construction as `spark.ml.feature.MinHashLSH`).
    *
    * Shuffle-free AND row-local: shingling, hashing, and all k minima
    * run in two codegen'd expressions
    * ([[graft.functions.HashExpressions.ShingleHashes]] →
    * [[graft.functions.HashExpressions.MinHashSignature]]) — one pass
    * over each document, no explode, no groupBy. An explode +
    * groupBy(doc_id) formulation would shuffle every (doc, shingle)
    * pair: a corpus-sized shuffle for a purely row-local computation. */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 64,
                        shingleK: Int = 3, reproducible: Boolean = false): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.HashExpressions.minhashSignature(
        graft.functions.HashExpressions.shingleHashes(col("text"), shingleK,
          fnv = reproducible),
        numHashes).as("sig"))

  /** LSH banding: split the signature into `bands` bands of rows, hash
    * each band, self-join on (band, bandHash) to get candidate pairs,
    * then estimate Jaccard as signature agreement fraction.
    *
    * Degenerate-cluster guard: a bucket of b near-identical docs emits
    * b²/2 pairs per band — a crawl dump where one page has 100k copies
    * would explode candidate generation (measured: a 100-copy-per-doc
    * corpus produced ~400M banded pairs and took down the probe JVM).
    * Buckets larger than `maxBucket` (default 64 — beyond any plausible organic near-dup cluster) therefore emit STAR pairs (every
    * member ↔ the bucket's min doc_id): linear in bucket size, and
    * component-preserving for downstream dup-grouping
    * ([[DupGroups.connectedComponents]] recovers the full cluster
    * through the hub). Direct pairwise estimates between non-hub members
    * of oversized buckets are intentionally not enumerated. */
  def minhashNearDups(documents: DataFrame, numHashes: Int = 64,
                      bands: Int = 16, maxBucket: Int = 64,
                      reproducible: Boolean = false): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly — " +
        "trailing signature positions would silently drop out of banding")
    // The signature frame feeds three consumers (banding + both sides of
    // the scoring join); persist so the per-document signature pass runs
    // once — signatures are 8·k bytes/doc, orders of magnitude smaller
    // than the corpus.
    val sigs = minhashSignatures(
      graft.operators.Partitioning.spread(documents), numHashes, ShingleK,
      reproducible).persist()
    val banded = bandedKeys(sigs, numHashes, bands, reproducible)
    val buckets = banded.groupBy("band", "band_hash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
    val withSize = banded.join(buckets, Seq("band", "band_hash"))
    val small = withSize.filter(col("bsz") <= maxBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
    val candSmall = small.as("a")
      .join(small.as("b"), Seq("band", "band_hash"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val candStar = withSize
      .filter(col("bsz") > maxBucket && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val candidates = candSmall.union(candStar).distinct()
    val scored = candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / numHashes).as("est_jaccard"))
    // Materialize the pair set NOW (it is orders of magnitude smaller
    // than the corpus) so the cached signature frame can be released —
    // a lazily-returned frame would pin it in the block manager for the
    // life of the session (d3/d9/d13 plus the d8 edge pass each call
    // here, stranding one cache per call otherwise).
    val out = scored.localCheckpoint(eager = true)
    sigs.unpersist()
    out
  }

  /** LSH band keys for a signature frame: one row per (doc, band) with
    * the band's key. Key = xxhash64 of the band slice (8 bytes — the
    * scale default) or, in reproducible mode, the raw slice array
    * itself (rows·8 bytes, collision-free, and replicable by any
    * engine that can compare arrays). Row-local (posexplode of literal
    * slices), so it runs unchanged on a STREAM — the property
    * [[crossCorpusNearDups]]'s streaming twin relies on. */
  private[graft] def bandKeyCols(numHashes: Int, bands: Int,
                                 reproducible: Boolean): Seq[Column] = {
    val rows = numHashes / bands
    if (reproducible) (0 until bands).map(b => slice(col("sig"), b * rows + 1, rows))
    else (0 until bands).map(b =>
      array(xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, rows)))))
  }

  private[graft] def bandedKeys(sigs: DataFrame, numHashes: Int, bands: Int,
                                reproducible: Boolean): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(array(bandKeyCols(numHashes, bands, reproducible): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_hash"))

  /** Cross-corpus near-dup screen — the INGEST-time variant of
    * [[minhashNearDups]]: which incoming documents near-duplicate
    * something already in the corpus? Both sides get the same
    * signature/banding; candidates come from an equi-join of incoming
    * band keys against CORPUS band keys (never a self-join of the
    * union — incoming×incoming and corpus×corpus pairs are not this
    * operator's question), then signature-agreement scoring.
    *
    * Hot-bucket guard mirrors [[minhashNearDups]] but sizes buckets on
    * the CORPUS side (the accumulated mass; the incoming batch is the
    * small side by construction): an oversized corpus bucket yields
    * (incoming, bucket-rep) pairs only — "matched a mega-cluster, via
    * its representative" — linear instead of |bucket| per probe.
    *
    * Scale shape: signatures once per side; the band join shuffles
    * (band, key) pairs; scoring joins touch signature-sized frames. At
    * a 100 TB corpus the banded-corpus frame is the thing to PERSIST
    * across ingest batches — see `Ivf.save`'s index-persistence
    * pattern; here both sides are computed fresh for gate
    * determinism. */
  def crossCorpusNearDups(incoming: DataFrame, corpus: DataFrame,
                          maxBucket: Int = 64,
                          reproducible: Boolean = false): DataFrame = {
    val sigsIn = minhashSignatures(incoming, NumHashes, ShingleK, reproducible)
      .persist()
    val sigsC = minhashSignatures(
      graft.operators.Partitioning.spread(corpus), NumHashes, ShingleK,
      reproducible).persist()
    val bIn = bandedKeys(sigsIn, NumHashes, Bands, reproducible)
    val bC = bandedKeys(sigsC, NumHashes, Bands, reproducible)
    val bucketsC = bC.groupBy("band", "band_hash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
    val smallC = bC.join(bucketsC, Seq("band", "band_hash"))
      .filter(col("bsz") <= maxBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
    val candSmall = bIn.join(smallC
        .withColumnRenamed("doc_id", "doc_corpus"),
        Seq("band", "band_hash"))
      .select(col("doc_id").as("doc_in"), col("doc_corpus"))
    val candStar = bIn.join(bucketsC.filter(col("bsz") > maxBucket),
        Seq("band", "band_hash"))
      .select(col("doc_id").as("doc_in"), col("rep").as("doc_corpus"))
    val candidates = candSmall.union(candStar).distinct()
    val scored = candidates
      .join(sigsIn.select(col("doc_id").as("doc_in"), col("sig").as("sig_i")),
        "doc_in")
      .join(sigsC.select(col("doc_id").as("doc_corpus"), col("sig").as("sig_c")),
        "doc_corpus")
      .select(col("doc_in"), col("doc_corpus"),
        (size(filter(zip_with(col("sig_i"), col("sig_c"), (x, y) => x === y),
          eq => eq)).cast("double") / NumHashes).as("est_jaccard"))
    val out = scored.localCheckpoint(eager = true)
    sigsIn.unpersist(); sigsC.unpersist()
    out
  }

  /** The corpus side of the ingest screen, materialized: signatures,
    * band keys, and the bucket census, plus the parameters they were
    * built under (probing with different banding would silently find
    * nothing — the load refuses instead). ~8·numHashes bytes/doc of
    * signature plus one row per (doc, band): the thing to PERSIST
    * across ingest batches at 100 TB instead of recomputing the
    * accumulated corpus per batch. */
  final case class BandIndex(signatures: DataFrame, bands: DataFrame,
                             buckets: DataFrame, numHashes: Int,
                             numBands: Int, shingleK: Int,
                             reproducible: Boolean)

  /** Build the corpus band index once per snapshot — the same
    * signature/banding/bucket computation [[crossCorpusNearDups]] runs
    * inline, factored out so it can be [[saveBandIndex]]d. */
  def buildBandIndex(corpus: DataFrame,
                     reproducible: Boolean = false): BandIndex = {
    // LAZY localCheckpoint: every consumer of a fresh index (a save's
    // three table writes, a screen's four corpus-side checkpoints)
    // otherwise re-runs the corpus-sized shingle+signature pass per
    // materialization — bands and buckets both derive from `sigs`, so
    // the first action signs ONCE and the rest read the cached
    // signature frame (measured: saveBandIndex(buildBandIndex(..)) paid
    // 3 signing passes; the r13 bench cut io16-io19/st14-st17 by
    // sharing it). Lazy, not eager: no extra job when the first
    // consumer materializes anyway.
    val sigs = minhashSignatures(
      graft.operators.Partitioning.spread(corpus), NumHashes, ShingleK,
      reproducible).localCheckpoint(eager = false)
    val banded = bandedKeys(sigs, NumHashes, Bands, reproducible)
    val buckets = banded.groupBy("band", "band_hash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
    BandIndex(sigs, banded, buckets, NumHashes, Bands, ShingleK, reproducible)
  }

  /** Fold a new batch of documents INTO an existing band index — the
    * compaction step the 100-TB ingest loop needs so the accumulated
    * corpus is never re-signed: sign and band ONLY the batch (under
    * the index's own parameters), append to the signature and band
    * tables, and MERGE the bucket census (`rep` is a min — the
    * component-representative election survives any merge order; `bsz`
    * a sum). The result is bit-identical to [[buildBandIndex]] over
    * corpus ∪ batch (DedupSpec asserts it; gate io17 pins the full
    * save → load → compact → save → load → screen lifecycle to the
    * same oracle a fresh build answers), so
    * [[graft.streaming.CorpusStreams.growingNearDupScreen]]'s "fold
    * the horizon into the persisted index" remedy is this operator,
    * not a docstring.
    *
    * Cost is batch-sized: one signature pass over `newDocs`, one
    * band-key census of the batch, and a census-sized merge join —
    * nothing touches the accumulated corpus side. Callers are
    * responsible for `newDocs` being disjoint from the indexed corpus
    * (re-ingesting a doc_id would double-count its census rows, same
    * as feeding it to buildBandIndex twice). */
  def compactBandIndex(index: BandIndex, newDocs: DataFrame): BandIndex = {
    // lazy checkpoint for the same reason as [[buildBandIndex]]'s: the
    // folded index's signature/band/bucket tables all contain this
    // batch subtree, so a following save would re-sign the batch once
    // per table write without the shared cache
    val sigsNew = minhashSignatures(
      graft.operators.Partitioning.spread(newDocs), index.numHashes,
      index.shingleK, index.reproducible).localCheckpoint(eager = false)
    val bandedNew = bandedKeys(sigsNew, index.numHashes, index.numBands,
      index.reproducible)
    val bucketsNew = bandedNew.groupBy("band", "band_hash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
    val mergedBuckets = index.buckets
      .withColumnRenamed("rep", "rep_old").withColumnRenamed("bsz", "bsz_old")
      .join(bucketsNew
          .withColumnRenamed("rep", "rep_new").withColumnRenamed("bsz", "bsz_new"),
        Seq("band", "band_hash"), "full_outer")
      .select(col("band"), col("band_hash"),
        least(col("rep_old"), col("rep_new")).as("rep"),
        (coalesce(col("bsz_old"), lit(0L)) + coalesce(col("bsz_new"), lit(0L)))
          .as("bsz"))
    val folded = BandIndex(index.signatures.unionByName(sigsNew),
      index.bands.unionByName(bandedNew), mergedBuckets,
      index.numHashes, index.numBands, index.shingleK, index.reproducible)
    // a long-lived ingest driver that folds many batches between saves
    // would otherwise chain one Union (and one census join) of lineage
    // per batch — unbounded plan depth, re-signing every batch on every
    // action. Cut the chain with eager localCheckpoints once the
    // signature plan outgrows the threshold: the materialization cost
    // is the accumulated-index size, paid once per ~threshold/Δ folds
    // (a save/load cycle is an equivalent cut — this guards the loop
    // that never saves). CrossCorpusSpec folds 20 batches and asserts
    // the depth stays bounded.
    if (planNodeCount(folded.signatures) > compactionChainCutoff)
      BandIndex(folded.signatures.localCheckpoint(eager = true),
        folded.bands.localCheckpoint(eager = true),
        folded.buckets.localCheckpoint(eager = true),
        folded.numHashes, folded.numBands, folded.shingleK,
        folded.reproducible)
    else folded
  }

  /** Logical-plan node count of `df` — the chain-depth measure the
    * compaction lineage cut keys on. */
  private[graft] def planNodeCount(df: DataFrame): Int =
    df.queryExecution.logical.collect { case n => n }.size

  /** Signature-plan node count past which [[compactBandIndex]] cuts the
    * accumulated lineage (each fold adds a Union + the batch's scan
    * subtree, ~5-10 nodes on typical inputs → a cut every few folds). */
  private[graft] val compactionChainCutoff = 48

  /** Persist a band index ([[graft.similarity.Ivf.save]] pattern, io14)
    * in the APPEND-ONLY, VERSIONED layout:
    *
    * {{{
    * <root>/_LATEST                 // committed version pointer
    * <root>/v=<k>/_BATCHES          // committed batch count, this version
    * <root>/v=<k>/params            // banding-contract sidecar
    * <root>/v=<k>/{signatures,bands,buckets}/batch=<n>/
    * }}}
    *
    * Every commit is a pointer flipped tmp-then-rename (the layout
    * `CuratedWriter.publishVersion` uses, through the same helpers):
    * `saveBandIndex` writes a FRESH version tree holding the whole
    * index as `batch=0` and flips `_LATEST`; [[appendBandIndex]] writes
    * ONLY the new batch's rows into the current version and flips that
    * version's `_BATCHES` (batch-sized IO — saving the folded index
    * per batch would rewrite the full accumulated corpus every time,
    * quadratic total write volume over an ingest);
    * [[snapshotBandIndex]] folds a long append chain back to one batch
    * in a NEW version (bounded read amplification), leaving prior
    * versions pinnable until [[vacuumBandIndex]]. A crash before a
    * pointer flip leaves an orphan directory no pointer names —
    * invisible to loads, skipped by the next save's version numbering,
    * reclaimed by vacuum.
    *
    * Long arrays and band keys round-trip parquet bit-exactly, so a
    * reloaded index screens IDENTICALLY to a fresh one (gate io16 pins
    * it to the same oracle as d29; io18 pins the append lifecycle and
    * io19 the snapshot-compaction lifecycle to the same oracle).
    * Returns the version written. */
  def saveBandIndex(index: BandIndex, path: String): Int = {
    val spark = index.signatures.sparkSession
    val fs = hadoopFs(spark, path)
    val next = nextVersion(fs, path)
    val vdir = s"$path/v=$next"
    // Signatures first, ALONE: for a fresh or compacted index every
    // other table derives from the (lazily checkpointed) signature
    // frame, so this job is the one that materializes the shared cache
    // — the remaining three writes then read it concurrently without
    // racing its materialization. The writes are independent (guide
    // §2.6: overlap independent jobs), so a small pool turns their
    // wall-clock from sum to max; job descriptions are thread-local,
    // so each write labels itself. `rebalance` on the map-only
    // signature/band frames sizes the output files (guide §6): the
    // signing pass runs wide for compute parallelism
    // (Partitioning.spread), but writing one file per map task leaves
    // KB-sized files locally and unsized files at scale — the AQE
    // rebalance coalesces to advisoryPartitionSizeInBytes either way.
    // The bucket census already crosses its aggregation shuffle, which
    // AQE sizes the same way.
    labeled(spark, s"bandindex: save v$next signatures")(
      index.signatures.hint("rebalance").write.mode("overwrite")
        .parquet(s"$vdir/signatures/batch=0"))
    import spark.implicits._
    inParallel(
      () => labeled(spark, s"bandindex: save v$next bands")(
        index.bands.hint("rebalance").write.mode("overwrite")
          .parquet(s"$vdir/bands/batch=0")),
      () => labeled(spark, s"bandindex: save v$next buckets")(
        index.buckets.write.mode("overwrite").parquet(s"$vdir/buckets/batch=0")),
      () => labeled(spark, s"bandindex: save v$next params")(
        Seq((index.numHashes, index.numBands, index.shingleK,
            index.reproducible))
          .toDF("num_hashes", "num_bands", "shingle_k", "reproducible")
          .write.mode("overwrite").parquet(s"$vdir/params")))
    writePointer(fs, vdir, "_BATCHES", 1)
    writePointer(fs, path, "_LATEST", next)
    next
  }

  /** Run independent Spark actions concurrently on a transient pool
    * (guide §2.6 — overlap independent jobs so the tail of one
    * back-fills the others); rethrows the first failure. */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
      fs.foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** Fold the CURRENT version's append chain into a single batch in a
    * NEW version — the maintenance twin of [[appendBandIndex]]: a long
    * ingest accumulates one `batch=<n>/` directory per append (listing
    * overhead and census merge width grow with batch count), so a
    * periodic snapshot rewrites the committed state as `batch=0` of
    * version latest+1 and flips `_LATEST`. One full-index write,
    * amortized over the appends since the last snapshot — the SAME
    * total write volume as a single rewrite-save, paid every k batches
    * instead of every batch. Prior versions stay readable (pin via
    * `loadBandIndex(..., version = Some(k))`) until [[vacuumBandIndex]].
    * Returns the new version. */
  def snapshotBandIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Int =
    saveBandIndex(loadBandIndex(spark, path), path)

  /** Delete committed version trees OLDER than `_LATEST` (plus any
    * orphaned uncommitted ones) and return how many were removed.
    * Callers own the coordination caveat every vacuum has: a reader
    * that pinned an old version mid-scan loses its files. */
  def vacuumBandIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int = {
    val fs = hadoopFs(spark, path)
    val latest = readPointer(fs, path, "_LATEST")
    val old = versions(fs, path).filter(_ != latest)
    old.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"v=$v"), true))
    old.length
  }

  /** Append one ingest batch to a persisted band index WITHOUT
    * rewriting it — the persistence twin of [[compactBandIndex]]: sign
    * and band ONLY `newDocs` under the stored params, write the new
    * rows to `batch=<n>/` partitions of each table, then commit by
    * flipping the `_BATCHES` pointer. Both compute AND write volume
    * are batch-sized; the accumulated index is never read or touched.
    * A crashed append leaves an uncommitted `batch=<n>` directory the
    * pointer never names — invisible to [[loadBandIndex]] (partition
    * pruning on `batch < n`) and overwritten by the retry.
    *
    * The bucket census is stored PER BATCH and merged on read (`rep`
    * is a min, `bsz` a sum — both merge-order-free); the census is
    * bands×buckets-sized, so the load-time re-aggregation is cheap.
    * Callers owe the same disjointness [[compactBandIndex]] asks for:
    * re-appending an already-indexed doc_id double-counts its census
    * rows. Returns the committed batch count.
    *
    * Availability note: the band/bucket writes derive from the batch's
    * eagerly localCheckpoint-ed signatures, which are never recomputed —
    * if an executor holding checkpoint blocks dies mid-append (cluster
    * scale), the append FAILS LOUDLY instead of silently re-signing;
    * the crash-safe `_BATCHES` pointer protocol makes the retry clean. */
  def appendBandIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, newDocs: DataFrame): Int = {
    val fs = hadoopFs(spark, path)
    val vdir = s"$path/v=${readPointer(fs, path, "_LATEST")}"
    val p = spark.read.parquet(s"$vdir/params").head()
    val numHashes = p.getAs[Int]("num_hashes")
    val numBands = p.getAs[Int]("num_bands")
    val shingleK = p.getAs[Int]("shingle_k")
    val reproducible = p.getAs[Boolean]("reproducible")
    val n = readPointer(fs, vdir, "_BATCHES")
    // ONE signing pass, shared in memory: the eager localCheckpoint
    // materializes the batch signatures once, and the band/bucket
    // chains derive from the cached frame — this replaces the former
    // write-then-read-back sequencing (3 dependent write+scan pairs)
    // with one materialization plus THREE CONCURRENT writes (guide
    // §2.6); the batch is ingest-sized, so the cache is small by
    // contract. `rebalance` sizes the map-only signature/band outputs
    // (guide §6); the bucket census crosses its own shuffle, which AQE
    // sizes.
    val sigsNew = labeled(spark, s"bandindex: append batch=$n sign")(
      minhashSignatures(graft.operators.Partitioning.spread(newDocs),
        numHashes, shingleK, reproducible).localCheckpoint(eager = true))
    val bandedNew = bandedKeys(sigsNew, numHashes, numBands, reproducible)
    inParallel(
      () => labeled(spark, s"bandindex: append batch=$n signatures")(
        sigsNew.hint("rebalance").write.mode("overwrite")
          .parquet(s"$vdir/signatures/batch=$n")),
      () => labeled(spark, s"bandindex: append batch=$n bands")(
        bandedNew.hint("rebalance").write.mode("overwrite")
          .parquet(s"$vdir/bands/batch=$n")),
      () => labeled(spark, s"bandindex: append batch=$n buckets")(
        bandedNew.groupBy("band", "band_hash")
          .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
          .write.mode("overwrite").parquet(s"$vdir/buckets/batch=$n")))
    writePointer(fs, vdir, "_BATCHES", n + 1)
    n + 1
  }

  /** Load a persisted band index at `_LATEST` (or a pinned older
    * `version` — time travel until vacuumed): the params sidecar
    * restores the banding contract the probe side must reproduce; only
    * batches the version's `_BATCHES` pointer has committed are
    * visible (partition pruning on the `batch` column — an in-flight
    * or crashed append never leaks). The per-batch bucket censuses
    * merge on read with the same min/sum arithmetic
    * [[compactBandIndex]] uses (the census is bands×buckets-sized, so
    * the re-aggregation is cheap). */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, version: Option[Int] = None): BandIndex = {
    val fs = hadoopFs(spark, path)
    val vdir = s"$path/v=${version.getOrElse(readPointer(fs, path, "_LATEST"))}"
    val p = spark.read.parquet(s"$vdir/params").head()
    val n = readPointer(fs, vdir, "_BATCHES")
    def committed(table: String) =
      spark.read.parquet(s"$vdir/$table").filter(col("batch") < n).drop("batch")
    val buckets = spark.read.parquet(s"$vdir/buckets")
      .filter(col("batch") < n)
      .groupBy("band", "band_hash")
      .agg(min("rep").as("rep"), sum("bsz").as("bsz"))
    BandIndex(
      committed("signatures"), committed("bands"), buckets,
      p.getAs[Int]("num_hashes"), p.getAs[Int]("num_bands"),
      p.getAs[Int]("shingle_k"), p.getAs[Boolean]("reproducible"))
  }

  /** Screen an incoming batch against a (possibly reloaded) corpus band
    * index — the incremental form of [[crossCorpusNearDups]]: incoming
    * docs are signed and banded with the INDEX's parameters, candidates
    * come from the band equi-join against the stored band table (with
    * the stored bucket census applying the same oversize star guard),
    * and signature agreement scores against the stored signatures.
    * Output schema and semantics are exactly [[crossCorpusNearDups]]'s
    * — one oracle pins both. */
  def screenAgainstIndex(incoming: DataFrame, index: BandIndex): DataFrame = {
    val sigsIn = minhashSignatures(incoming, index.numHashes, index.shingleK,
      index.reproducible).persist()
    val bIn = bandedKeys(sigsIn, index.numHashes, index.numBands,
      index.reproducible)
    val smallC = index.bands.join(index.buckets, Seq("band", "band_hash"))
      .filter(col("bsz") <= MaxBucket)
      .select(col("band"), col("band_hash"), col("doc_id"))
    val candSmall = bIn.join(smallC
        .withColumnRenamed("doc_id", "doc_corpus"),
        Seq("band", "band_hash"))
      .select(col("doc_id").as("doc_in"), col("doc_corpus"))
    val candStar = bIn.join(index.buckets.filter(col("bsz") > MaxBucket),
        Seq("band", "band_hash"))
      .select(col("doc_id").as("doc_in"), col("rep").as("doc_corpus"))
    val candidates = candSmall.union(candStar).distinct()
    val scored = candidates
      .join(sigsIn.select(col("doc_id").as("doc_in"), col("sig").as("sig_i")),
        "doc_in")
      .join(index.signatures
        .select(col("doc_id").as("doc_corpus"), col("sig").as("sig_c")),
        "doc_corpus")
      .select(col("doc_in"), col("doc_corpus"),
        (size(filter(zip_with(col("sig_i"), col("sig_c"), (x, y) => x === y),
          eq => eq)).cast("double") / index.numHashes).as("est_jaccard"))
    val out = scored.localCheckpoint(eager = true)
    sigsIn.unpersist()
    out
  }

  /** SimHash 64-bit fingerprint from distinct-token hashes: per bit
    * position, sign of Σ±1 over tokens (Charikar '02). Computed by the
    * codegen'd [[graft.functions.HashExpressions.SimHash64]] expression —
    * one tight primitive loop per document. */
  def withSimhash(documents: DataFrame, reproducible: Boolean = false): DataFrame =
    documents.withColumn("simhash",
      graft.functions.HashExpressions.simhashText(col("text"), fnv = reproducible))

  /** SimHash near-dup candidates: band the 64-bit fingerprint into 4
    * 16-bit chunks (Hamming ≤3 ⇒ some chunk equal), self-join per chunk,
    * verify with popcount of XOR. Oversized chunk-buckets degrade to
    * star pairs around the bucket's min doc, exactly as in
    * [[minhashNearDups]] — the same degenerate-cluster blowup applies
    * (b²/2 pairs per bucket per band). */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3,
                      reproducible: Boolean = false): DataFrame = {
    val sh = withSimhash(graft.operators.Partitioning.spread(documents), reproducible)
      .select("doc_id", "simhash")
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val buckets = banded.groupBy("band", "chunk")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
    val withSize = banded.join(buckets, Seq("band", "chunk"))
    val small = withSize.filter(col("bsz") <= MaxBucket)
    val a = small.select(col("band"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = small.select(col("band"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val candSmall = a.join(b, Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b")
    // star pairs need the hub's simhash re-attached for verification
    val hubs = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val candStar = withSize
      .filter(col("bsz") > MaxBucket && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        col("simhash").as("sh_b"))
      .join(hubs, "doc_a")
      .select("doc_a", "doc_b", "sh_a", "sh_b")
    candSmall.union(candStar).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram (token k-shingle) Jaccard for pairs within a blocking
    * key (here `source`): |A∩B| / |A∪B| via array builtins. Blocked
    * self-join — never all-pairs across the corpus. Shingles are hashed
    * to 64-bit ints before the join, so the O(pairs) intersect/union
    * work compares fixed-width longs instead of re-hashing strings
    * (collision odds at 64 bits are negligible for Jaccard). */
  def ngramJaccardPairs(documents: DataFrame): DataFrame = {
    val d = graft.operators.Partitioning.spread(documents)
      .select(col("doc_id"), col("source"),
      graft.functions.HashExpressions.shingleHashes(col("text"), ShingleK).as("sh"))
      .withColumn("n", size(col("sh")))
    val a = d.select(col("source"), col("doc_id").as("doc_a"),
      col("sh").as("sh_a"), col("n").as("n_a"))
    val b = d.select(col("source"), col("doc_id").as("doc_b"),
      col("sh").as("sh_b"), col("n").as("n_b"))
    // |A∪B| = |A|+|B|-|A∩B| with per-doc sizes precomputed. Arrays are
    // sorted once per doc, so the O(pairs) inner loop is a codegen'd
    // merge scan over primitive longs — no per-pair hash sets or boxing.
    val inter = graft.functions.HashExpressions
      .intersectCountSorted(col("sh_a"), col("sh_b"))
    a.join(b, Seq("source"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(inter.cast("double") / (col("n_a") + col("n_b") - inter), 6)
          .as("jaccard"))
  }

  /** Top-20 most similar same-source pairs by exact shingle Jaccard. */
  def topJaccardPairs(documents: DataFrame): DataFrame =
    ngramJaccardPairs(documents)
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
      .limit(20)

  /** Corpus-wide exact-Jaccard threshold join via PREFIX FILTERING
    * (Chaudhuri et al., "A primitive operator for similarity joins in
    * data cleaning", ICDE 2006; Xiao et al. PPJoin, WWW 2008) — the
    * fourth blocking family: no blocking key at all, yet never
    * all-pairs. Under ANY fixed global token order, two sets with
    * Jaccard ≥ τ must share a token inside each one's first
    * `n − ⌈τ·n⌉ + 1` tokens (if all of A's prefix missed B, the ≥⌈τ·n⌉
    * shared tokens would all sit in A's suffix — too short to hold
    * them). So only PREFIX tokens are exploded into the candidate
    * self-join; the suffix mass (a τ fraction of every doc) never
    * shuffles. We use the shingle-hash value
    * itself as the global order (the arrays arrive sorted from
    * [[graft.functions.HashExpressions.ShingleHashes]]); ordering by
    * ascending global frequency instead is the standard candidate-
    * minimizing refinement when a frequency sketch is already at hand.
    * Candidates are verified with the codegen'd sorted-merge
    * intersection, exactly like [[ngramJaccardPairs]]. With k=5 word
    * shingles, cross-doc shingle collisions are rare, so candidate
    * volume tracks the true near-dup pair count, not corpus². */
  def prefixFilterPairs(documents: DataFrame, tau: Double = 0.6,
                        shingleK: Int = 5): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    val d = graft.operators.Partitioning.spread(documents)
      .select(col("doc_id"),
        graft.functions.HashExpressions.shingleHashes(col("text"), shingleK)
          .as("sh"))
      .withColumn("n", size(col("sh")))
    // prefix length n − ⌈τ·n⌉ + 1, clamped to n (tiny docs)
    val plen = least(col("n") - ceil(lit(tau) * col("n")) + 1, col("n"))
      .cast("int")
    val posts = d.select(col("doc_id"),
      explode(slice(col("sh"), lit(1), plen)).as("g"))
    val cand = posts.as("a")
      .join(posts.as("b"), col("a.g") === col("b.g")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = graft.functions.HashExpressions
      .intersectCountSorted(col("sh_a"), col("sh_b"))
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") / (col("n_a") + col("n_b") - inter), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  private val NeighborhoodWindow = 3

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo, "The
    * merge/purge problem for large databases", SIGMOD 1995) — the third
    * classic blocking family next to LSH ([[minHashCandidates]]) and
    * length-banding: sort each block (`lang`) by a cheap proxy key
    * (`n_chars`, id tiebreak) and compare every record only with its
    * next `NeighborhoodWindow` (3) neighbors in that order. Candidate work
    * is rows·window — LINEAR in corpus size with a constant chosen up
    * front, where LSH's cost rides on band-collision rates; near-dups
    * with similar lengths land adjacent, which is exactly the
    * regime (truncation/suffix edits) the length proxy captures.
    *
    * One shuffle (the per-block sort); the neighbor expansion is
    * `lead(..., k)` over the sorted window — no self-join. Pairs are
    * scored with the same sorted-shingle-hash merge intersection as
    * [[ngramJaccardPairs]] and thresholded at 0.2 on the rounded value,
    * so a SQL oracle replays the arithmetic exactly. */
  def sortedNeighborhoodPairs(documents: DataFrame): DataFrame = {
    val d = graft.operators.Partitioning.spread(documents)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.HashExpressions.shingleHashes(col("text"), ShingleK)
          .as("sh"))
      .withColumn("n", size(col("sh")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n_chars", "doc_id")
    val withLeads = (1 to NeighborhoodWindow).foldLeft(d) { (df, k) =>
      df.withColumn(s"_id$k", lead("doc_id", k).over(w))
        .withColumn(s"_sh$k", lead("sh", k).over(w))
        .withColumn(s"_n$k", lead("n", k).over(w))
    }
    val pairs = (1 to NeighborhoodWindow).map { k =>
      withLeads.filter(col(s"_id$k").isNotNull).select(
        col("lang"),
        least(col("doc_id"), col(s"_id$k")).as("doc_a"),
        greatest(col("doc_id"), col(s"_id$k")).as("doc_b"),
        graft.functions.HashExpressions
          .intersectCountSorted(col("sh"), col(s"_sh$k")).as("inter"),
        col("n"), col(s"_n$k").as("nk"))
    }.reduce(_ unionAll _)
    pairs
      .select(col("lang"), col("doc_a"), col("doc_b"),
        round(col("inter").cast("double")
          / (col("n") + col("nk") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("lang", "doc_a", "doc_b")
  }
}
