package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Relational
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis

import Shared.{fnvSql, stop, toks, withTempDir}

/** Text gates: tokenization, language id, scrubbing and HTML extraction
  * (`t`), retrieval and ranking (`r`), BPE (`bpe`) and unigram (`ug`)
  * tokenizers, and language-model quality scores (`lm`). */
object TextGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    Gate("t4_dow_ordered", (s, d) => Relational.dowOrderedCounts(Tables.events(s, d)),
      """SELECT strftime(ts, '%a') AS dow, count(*) AS trip_count FROM events
         GROUP BY 1
         ORDER BY list_position(['Mon','Tue','Wed','Thu','Fri','Sat','Sun'], dow)"""),
    // readability profile (FK grade under the one-sentence convention)
    // — row-local vowel-run syllable proxy, one agg
    Gate("t23_readability", (s, d) =>
      TextAnalysis.readabilityBySource(Tables.documents(s, d)),
      s"""WITH m AS (SELECT source,
           len($toks)::DOUBLE AS w,
           len(regexp_extract_all(text, '[aeiouy]+'))::DOUBLE AS s
           FROM documents WHERE len($toks) > 0)
         SELECT source, count(*) AS n_docs,
           round(avg(s / w), 4) AS avg_syll_per_word,
           round(avg(w), 4) AS avg_words,
           round(avg(0.39 * w + 11.8 * (s / w) - 15.59), 4) AS avg_grade
         FROM m GROUP BY 1 ORDER BY source"""),
    // interpolated bigram LM quality scoring (the n-gram upgrade of
    // lm1): per-lang roll-up of per-doc mean log-probability
    Gate("lm2_bigram_quality", (s, d) =>
      graft.text.BigramLm.scoreByLang(Tables.documents(s, d)),
      s"""WITH w AS (SELECT doc_id, lang, $toks AS t FROM documents),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM w),
         uc AS (SELECT tok, count(*) AS ucnt FROM tok GROUP BY 1),
         um AS (SELECT * FROM uc ORDER BY ucnt DESC, tok LIMIT 1000),
         un AS (SELECT sum(ucnt)::DOUBLE AS n FROM uc),
         bgl AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
             i -> struct_pack(prev := t[i], cur := t[i+1],
               bg := t[i] || ' ' || t[i+1])) AS bl FROM w),
         bge AS (SELECT doc_id, lang, unnest(bl) AS b FROM bgl),
         bg AS (SELECT doc_id, lang, b.prev AS prev, b.cur AS cur,
           b.bg AS bg FROM bge),
         bc AS (SELECT bg, count(*) AS bcnt FROM bg GROUP BY 1),
         bm AS (SELECT * FROM bc ORDER BY bcnt DESC, bg LIMIT 2000),
         hc AS (SELECT prev, count(*) AS hcnt FROM bg GROUP BY 1),
         sc AS (SELECT doc_id, lang,
           ln(0.7 * COALESCE(bm.bcnt::DOUBLE / hc.hcnt, 0.0)
             + (1.0 - 0.7) * COALESCE(um.ucnt::DOUBLE, 0.5)
               / (SELECT n FROM un)) AS lp
           FROM bg LEFT JOIN bm USING (bg) LEFT JOIN hc USING (prev)
             LEFT JOIN um ON um.tok = bg.cur),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc
           GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs,
           round(avg(avg_logp), 4) AS mean_logp,
           round(min(avg_logp), 4) AS min_logp,
           round(max(avg_logp), 4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang"""),
    // --- text analysis (training-data ops) ---
    // unigram-LM quality scoring (the CCNet-style statistical filter):
    // per-language distribution of per-doc mean token log-prob under the
    // corpus' own top-1000 unigram model, fully pinned (both engines
    // walk identical exact count ratios through ln)
    Gate("lm1_unigram_quality", (s, d) =>
      graft.text.UnigramLm.scoreDocuments(Tables.documents(s, d), 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_logp"), 4).as("mean_logp"),
          round(min("avg_logp"), 4).as("min_logp"),
          round(max("avg_logp"), 4).as("max_logp"))
        .orderBy("lang"),
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS tok FROM documents),
         tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 1000),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(top.cnt::DOUBLE, 0.5) / (SELECT total FROM tot)) AS lp
           FROM tok LEFT JOIN top USING (tok)),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc GROUP BY 1,2)
         SELECT lang, count(*) AS n_docs, round(avg(avg_logp),4) AS mean_logp,
           round(min(avg_logp),4) AS min_logp, round(max(avg_logp),4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang"""),

    // interpolated Kneser–Ney (Chen & Goodman): the KenLM-class
    // smoother — continuation-probability backoff, absolute discount
    // 0.75, same one-explode scale shape as lm2; distribution pinned
    Gate("lm4_kneser_ney", (s, d) =>
      graft.text.BigramLm.scoreByLangKN(Tables.documents(s, d)),
      s"""WITH w AS (SELECT doc_id, lang, $toks AS t FROM documents),
         bgl AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
             i -> struct_pack(prev := t[i], cur := t[i+1],
               bg := t[i] || ' ' || t[i+1])) AS bl FROM w),
         bge AS (SELECT doc_id, lang, unnest(bl) AS b FROM bgl),
         bg AS (SELECT doc_id, lang, b.prev AS prev, b.cur AS cur,
           b.bg AS bg FROM bge),
         bc AS (SELECT bg, count(*) AS bcnt FROM bg GROUP BY 1),
         bk AS (SELECT bg, bcnt, string_split(bg, ' ')[1] AS prev,
           string_split(bg, ' ')[2] AS cur FROM bc),
         hc AS (SELECT prev, sum(bcnt) AS hcnt, count(*) AS nf
           FROM bk GROUP BY 1),
         ct AS (SELECT cur, count(*) AS np FROM bk GROUP BY 1),
         tt AS (SELECT count(*)::DOUBLE AS t FROM bc),
         bm AS (SELECT bg, greatest(bcnt::DOUBLE - 0.75, 0.0) / hcnt AS bp
           FROM (SELECT * FROM bk ORDER BY bcnt DESC, bg LIMIT 2000)
           JOIN hc USING (prev)),
         pm AS (SELECT prev, 0.75 * nf / hcnt AS w2 FROM
           (SELECT * FROM hc ORDER BY hcnt DESC, prev LIMIT 1000)),
         cm AS (SELECT cur, np FROM
           (SELECT * FROM ct ORDER BY np DESC, cur LIMIT 1000)),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(bp, 0.0) + COALESCE(w2, 0.75)
             * COALESCE(cm.np::DOUBLE, 0.5) / (SELECT t FROM tt)) AS lp
           FROM bg LEFT JOIN bm USING (bg) LEFT JOIN pm USING (prev)
             LEFT JOIN cm USING (cur)),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc
           GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs,
           round(avg(avg_logp), 4) AS mean_logp,
           round(min(avg_logp), 4) AS min_logp,
           round(max(avg_logp), 4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang"""),
    // CCNet's selection step over the lm1 scores: per-language
    // head/middle/tail tertile census — what a pipeline keeps or drops
    Gate("lm3_ccnet_buckets", (s, d) =>
      graft.text.UnigramLm.ccnetBuckets(Tables.documents(s, d), 1000),
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS tok FROM documents),
         tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 1000),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(top.cnt::DOUBLE, 0.5) / (SELECT total FROM tot)) AS lp
           FROM tok LEFT JOIN top USING (tok)),
         d AS (SELECT doc_id, lang, count(*) AS n_tokens,
           round(avg(lp), 6) AS score FROM sc GROUP BY 1, 2),
         th AS (SELECT lang,
           quantile_cont(score, (1::DOUBLE) / 3) AS t1,
           quantile_cont(score, (2::DOUBLE) / 3) AS t2
           FROM d GROUP BY 1),
         b AS (SELECT d.lang,
           CASE WHEN score <= t1 THEN 'tail'
                WHEN score <= t2 THEN 'middle' ELSE 'head' END AS bucket,
           score, n_tokens FROM d JOIN th USING (lang))
         SELECT lang, bucket, count(*) AS n_docs,
           round(avg(score), 4) AS mean_score,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""),

    Gate("t5_langid_confusion", (s, d) => TextAnalysis.langIdConfusion(Tables.documents(s, d)),
      s"""WITH m AS (SELECT lang,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM documents),
         g AS (SELECT lang,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM m)
         SELECT lang, lang_guess, count(*) AS cnt FROM g
         GROUP BY 1,2 ORDER BY lang, lang_guess"""),
    Gate("t6_quality_by_lang", (s, d) => TextAnalysis.qualityByLang(Tables.documents(s, d)),
      s"""WITH m AS (SELECT lang,
           len($toks) AS n_tokens,
           round(CASE WHEN len($toks) > 0 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks) ELSE 0 END, 6) AS stop_r,
           CASE WHEN len($toks) > 0 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks) ELSE 0 END AS stop_raw,
           CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text) ELSE 0 END AS punct_raw
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens),4) AS avg_tokens,
           round(avg(stop_r),6) AS avg_stopword_ratio,
           round(avg(round((least(n_tokens / 50.0, 1.0)
             + (1.0 - least(punct_raw * 5.0, 1.0))
             + least(stop_raw * 5.0, 1.0)) / 3.0, 6)),6) AS avg_quality
         FROM m GROUP BY 1 ORDER BY lang"""),
    Gate("t7_token_stats", (s, d) =>
      TextAnalysis.docMetrics(Tables.documents(s, d))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"))
        .orderBy("lang"),
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len($toks)) AS BIGINT) AS total_tokens,
         round(avg(len($toks)),4) AS avg_tokens
         FROM documents GROUP BY 1 ORDER BY lang"""),
    Gate("t9_bpeish_tokens", (s, d) =>
      graft.operators.Partitioning.spread(Tables.documents(s, d))
        // project both token counts once; the regex runs one time per doc
        .select(col("lang"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe").as("total_bpe_tokens"),
          round(avg("n_bpe"), 4).as("avg_bpe_tokens"),
          round(avg(col("n_bpe") - col("n_ws")), 4).as("avg_subword_surplus"))
        .orderBy("lang"),
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))) AS BIGINT)
           AS total_bpe_tokens,
         round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))),4)
           AS avg_bpe_tokens,
         round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))
           - len($toks)),4) AS avg_subword_surplus
         FROM documents GROUP BY 1 ORDER BY lang"""),
    Gate("t10_vocab_by_lang", (s, d) => TextAnalysis.vocabByLang(Tables.documents(s, d)),
      s"""SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab_exact
         FROM (SELECT lang, unnest($toks) AS tok FROM documents)
         GROUP BY 1 ORDER BY lang"""),
    // HLL vocabulary twin with the same 3·rsd error-bound contract as d10
    Gate("t12_vocab_approx", (s, d) => {
      val docs = Tables.documents(s, d)
      val exact = TextAnalysis.vocabByLang(docs)
        .select(col("lang"), col("n_tokens"), col("vocab_exact"))
      val approx = TextAnalysis.vocabByLangApprox(docs, rsd = 0.01)
      exact.join(approx, "lang")
        .select(col("lang"), col("n_tokens"), col("vocab_exact"),
          (abs(col("vocab_approx") - col("vocab_exact"))
            <= col("vocab_exact") * 0.03).as("approx_within_3rsd"))
        .orderBy("lang")
    },
      s"""SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab_exact,
           true AS approx_within_3rsd
         FROM (SELECT lang, unnest($toks) AS tok FROM documents)
         GROUP BY 1 ORDER BY lang"""),
    Gate("t11_top_bigrams", (s, d) => TextAnalysis.topBigrams(Tables.documents(s, d)),
      s"""SELECT bigram, count(*) AS cnt FROM (
           SELECT unnest(CASE WHEN len($toks) >= 2
             THEN list_transform(range(0, len($toks) - 1),
                    i -> array_to_string(($toks)[i+1:i+2], ' '))
             ELSE [] END) AS bigram
           FROM documents)
         GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 50"""),
    // BM25 lexical retrieval: top-25 docs for a fixed 4-term query,
    // Lucene idf, scores rounded to 6 with doc_id tiebreak — the oracle
    // recomputes the identical formula from the same tokenization
    Gate("r1_bm25_topk", (s, d) =>
      graft.text.Bm25.topK(Tables.documents(s, d),
        Seq("hash", "join", "window", "spark"), k = 25),
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dd AS (SELECT doc_id, len(tk) AS dl, tk FROM d),
         nd AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
         q AS (SELECT unnest(['hash', 'join', 'window', 'spark']) AS term),
         tf AS (SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
           FROM dd CROSS JOIN q),
         c AS (SELECT * FROM tf WHERE tf > 0),
         dfx AS (SELECT term, count(*) AS df FROM c GROUP BY 1),
         sc AS (SELECT doc_id,
             sum(ln(1 + (nd.n - dfx.df + 0.5) / (dfx.df + 0.5))
               * c.tf * (1.2 + 1.0)
               / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * c.dl / nd.avgdl))) AS score
           FROM c JOIN dfx USING (term) CROSS JOIN nd GROUP BY 1)
         SELECT doc_id, round(score, 6) AS bm25 FROM sc
         ORDER BY round(score, 6) DESC, doc_id LIMIT 25"""),
    Gate("t8_fingerprints", (s, d) =>
      TextAnalysis.withFingerprint(Tables.documents(s, d))
        .select("doc_id", "fp").orderBy("doc_id").limit(100),
      """SELECT doc_id, list_reduce(
           list_prepend(2166136261::BIGINT,
             list_transform(list_filter(string_split_regex(text, ''), c -> len(c) > 0),
               c -> ascii(c)::BIGINT)),
           (h, b) -> (xor(h, b) * 16777619) & 4294967295) AS fp
         FROM documents ORDER BY doc_id LIMIT 100"""),
    // Gopher repetition rules: duplicate-window fraction + top-bigram
    // dominance per doc, rolled up per language with flag counts
    Gate("t13_repetition", (s, d) =>
      TextAnalysis.repetitionByLang(Tables.documents(s, d)),
      s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         w AS (SELECT doc_id, lang,
           CASE WHEN len(tk) > 0
             THEN list_transform(range(0, CAST(ceil(len(tk) / 10.0) AS INT)),
                    i -> array_to_string(tk[i*10+1:i*10+10], ' '))
             ELSE [] END AS ws,
           CASE WHEN len(tk) >= 2
             THEN list_transform(range(0, len(tk) - 1),
                    i -> array_to_string(tk[i+1:i+2], ' '))
             ELSE [] END AS bgs
           FROM t),
         rl AS (SELECT doc_id, lang,
           CASE WHEN len(ws) > 0
             THEN 1.0 - len(list_distinct(ws))::DOUBLE / len(ws) ELSE 0.0 END AS wdf,
           len(bgs) AS nbg FROM w),
         tb AS (SELECT doc_id, max(c) AS topc FROM (
             SELECT doc_id, bg, count(*) AS c
             FROM (SELECT doc_id, unnest(bgs) AS bg FROM w) GROUP BY 1, 2)
           GROUP BY 1),
         j AS (SELECT rl.lang, rl.wdf,
           CASE WHEN rl.nbg > 0 THEN tb.topc::DOUBLE / rl.nbg ELSE 0.0 END AS tbf
           FROM rl LEFT JOIN tb ON rl.doc_id = tb.doc_id)
         SELECT lang, count(*) AS n_docs,
           round(avg(wdf), 6) AS avg_win_dup_frac,
           round(avg(tbf), 6) AS avg_top_bigram_frac,
           count(CASE WHEN wdf > 0.3 OR tbf > 0.2 THEN 1 END) AS n_flagged
         FROM j GROUP BY 1 ORDER BY lang"""),
    // C4-style PII scrub over deterministically injected emails/IPs: the
    // oracle re-runs the same injection + RE2-compatible redaction and
    // demands zero residual raw-PII matches after the pass
    // TF-IDF keyword extraction: ranks by the unrounded score (term
    // tiebreak), reports rounded — both engines compute the identical
    // double product tf·ln((N+1)/(df+1))
    Gate("t15_tfidf_top_terms", (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d))
        .filter(col("doc_id") < 50),
      s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term,
             tf.tf * ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) AS score,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) DESC,
                 tf.term) AS rk
           FROM tf JOIN dfx USING (term), nd)
         SELECT doc_id, term, round(score, 6) AS tfidf, rk
         FROM sc WHERE rk <= 3 AND doc_id < 50 ORDER BY doc_id, rk"""),
    Gate("t14_pii_scrub", (s, d) => {
      val docs = Tables.documents(s, d)
      val withPii = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit(""))))
      graft.text.Scrub.piiStats(graft.text.Scrub.scrubPii(withPii))
    },
      """WITH w AS (SELECT source, text ||
           CASE WHEN doc_id % 7 = 0
             THEN ' contact u' || doc_id || '@example.com' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0
             THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS text
           FROM documents),
         s AS (SELECT source, regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
             AS text FROM w)
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '<EMAIL>'))) AS BIGINT)
             AS n_email_redacted,
           CAST(sum(len(regexp_extract_all(text, '<IP>'))) AS BIGINT)
             AS n_ip_redacted,
           CAST(sum(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT)
             AS n_residual_pii
         FROM s GROUP BY 1 ORDER BY source"""),
    // phrase-blocklist audit: per-source exposure to a curated phrase
    // list (license/spam/NSFW-marker scrub shape) — one row-local
    // array-filter pass, no join
    Gate("t28_blocklist_audit", (s, d) =>
      graft.text.Scrub.blocklistAudit(Tables.documents(s, d),
        Seq("slow join", "table scan", "batch batch", "window window",
          "never matches anything")),
      // same substring semantics via contains() on both engines
      """WITH h AS (SELECT source,
           len(list_filter(['slow join', 'table scan', 'batch batch',
               'window window', 'never matches anything'],
             p -> contains(text, p))) AS hits
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           round(avg(CASE WHEN hits > 0 THEN 1.0 ELSE 0.0 END), 6)
             AS flag_rate
         FROM h GROUP BY source ORDER BY source"""),
    // HTML → text extraction over a deterministically synthesized
    // crawl page per document (script with raw < and &&, style,
    // comment, h1/p/li blocks, entities incl. a double-escape): block
    // count, char mass, the FULL extracted text via fnv, and the
    // first/last blocks are all oracle-pinned against a DuckDB replay
    // of the identical regex chain — downstream text operators consume
    // `text` unchanged (HtmlExtractSpec composes them)
    Gate("t29_html_extract", (s, d) => {
      val txt = array_join(col("blocks"), "\n")
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.text.HtmlExtract.htmlToBlocks(synthesizedCrawlPage).as("blocks"))
        .select(col("doc_id"),
          size(col("blocks")).cast("long").as("n_blocks"),
          length(txt).cast("long").as("n_chars"),
          graft.functions.HashExpressions.fnv1a32(txt).as("text_fnv"),
          element_at(col("blocks"), 1).as("first_block"),
          element_at(col("blocks"), -1).as("last_block"))
        .orderBy("doc_id").limit(1000)
    },
      // the HtmlExtract regex chain, FROZEN as literals (the frozenPerms
      // discipline: an engine pattern drift fails the gate loudly instead
      // of re-pinning the oracle invisibly); Java-regex ∩ RE2 subset
      s"""WITH $htmlExtractSqlChain
         SELECT doc_id, len(blocks)::BIGINT AS n_blocks,
           len(txt)::BIGINT AS n_chars,
           ${fnvSql("txt", 2166136261L)} AS text_fnv,
           blocks[1] AS first_block, blocks[-1] AS last_block
         FROM j ORDER BY doc_id LIMIT 1000"""),
    // the full crawl-ingest composition, end to end through REAL
    // operators: the same synthesized pages → HtmlExtract → CCNet
    // boilerplate-line removal (d27's operator over the BLOCK surface)
    // — corpus-repeated chrome (per-source title, lang line, entity
    // footer) drops, each doc keeps exactly its unique heading + body;
    // every rebuilt text is pinned
    Gate("t30_crawl_pipeline", (s, d) =>
      Dedup.removeBoilerplateLines(
          Tables.documents(s, d).select(col("doc_id"),
            graft.text.HtmlExtract.htmlToText(synthesizedCrawlPage).as("text")),
          minDocs = 3)
        .orderBy("doc_id"),
      // the full crawl-ingest composition: the SAME synthesized pages →
      // HtmlExtract blocks → CCNet boilerplate-line removal (d27's
      // operator) — corpus-repeated chrome (title, lang line, entity
      // footer) drops, each doc keeps exactly its unique heading + body;
      // every rebuilt text is pinned
      s"""WITH $htmlExtractSqlChain,
         lx AS MATERIALIZED (SELECT doc_id,
           string_split(txt, chr(10)) AS lines FROM j),
         ln AS MATERIALIZED (SELECT doc_id,
           generate_subscripts(lines, 1) AS line_no, unnest(lines) AS line
           FROM lx),
         nrm AS MATERIALIZED (SELECT doc_id, line_no, line,
           lower(trim(line)) AS norm FROM ln),
         boiler AS MATERIALIZED (SELECT norm FROM
           (SELECT norm, count(DISTINCT doc_id) AS nd FROM nrm
            WHERE len(norm) > 0 GROUP BY 1) WHERE nd >= 3),
         kept AS (SELECT n.doc_id, n.line_no, n.line
           FROM nrm n ANTI JOIN boiler b2 ON n.norm = b2.norm),
         agg AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY line_no) AS text
           FROM kept GROUP BY 1),
         base AS (SELECT doc_id, len(lines) AS n_lines FROM lx)
         SELECT b3.doc_id, coalesce(a.text, '') AS text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b3.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM base b3 LEFT JOIN agg a USING (doc_id) ORDER BY b3.doc_id"""),
    // C4 line filter over a deterministically line-structured corpus:
    // ' a ' → '.\n' gives every doc real line boundaries (the fixture
    // text has none), and two injected markers exercise the DOC-level
    // drop rules ("lorem ipsum", '{') independently of the line rules;
    // keep counts, character mass, and an fnv sum over the cleaned
    // text of survivors are all oracle-pinned
    Gate("t16_c4_line_filter", (s, d) => {
      val lined = Tables.documents(s, d).withColumn("text", concat(
        regexp_replace(col("text"), lit(" a "), lit(".\n")),
        when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor."))
          .otherwise(lit("")),
        when(col("doc_id") % 89 === 0, lit("\nvar x = { js }."))
          .otherwise(lit(""))))
      TextAnalysis.c4FilterStats(lined)
    },
      s"""WITH lined AS (SELECT source,
           replace(text, ' a ', '.' || chr(10))
           || CASE WHEN doc_id % 97 = 0
                THEN chr(10) || 'lorem ipsum dolor.' ELSE '' END
           || CASE WHEN doc_id % 89 = 0
                THEN chr(10) || 'var x = { js }.' ELSE '' END AS text
           FROM documents),
         f AS (SELECT source, text,
           len(string_split(text, chr(10))) AS lines_in,
           list_filter(string_split(text, chr(10)), l ->
             regexp_matches(l, '[.!?"]$$')
             AND len(list_filter(string_split(l, ' '), t -> len(t) > 0)) >= 3
             AND NOT contains(lower(l), 'javascript')) AS kept
           FROM lined),
         g AS (SELECT source, lines_in, len(kept) AS lines_kept,
           array_to_string(kept, chr(10)) AS clean_text,
           len(kept) >= 2 AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') AS doc_kept
           FROM f)
         SELECT source, count(*) AS docs_in,
           count(CASE WHEN doc_kept THEN 1 END) AS docs_kept,
           CAST(sum(lines_in) AS BIGINT) AS lines_in,
           CAST(sum(lines_kept) AS BIGINT) AS lines_kept,
           CAST(sum(CASE WHEN doc_kept THEN len(clean_text) ELSE 0 END)
             AS BIGINT) AS chars_kept,
           CAST(sum(CASE WHEN doc_kept
             THEN ${fnvSql("clean_text", 2166136261L)} ELSE 0 END)
             AS BIGINT) AS clean_fnv_sum
         FROM g GROUP BY 1 ORDER BY source"""),
    // Gopher quality-rule battery (Rae 2021 A1): the corpus is re-lined
    // like t16, every 13th doc becomes all-bullet lines, every 17th
    // all-ellipsis lines, every 19th gets a symbol flood — each rule's
    // per-language failure count and the overall pass census are pinned
    Gate("t26_gopher_rules", (s, d) => {
      val seasoned = Tables.documents(s, d).withColumn("text", concat(
        when(col("doc_id") % 13 === 0,
          concat(lit("- "), regexp_replace(col("text"), lit(" a "), lit("\n- "))))
          .when(col("doc_id") % 17 === 0,
            concat(regexp_replace(col("text"), lit(" a "), lit("...\n")), lit("...")))
          .otherwise(regexp_replace(col("text"), lit(" a "), lit(".\n"))),
        when(col("doc_id") % 19 === 0, lit(" # # # # # # # #"))
          .otherwise(lit(""))))
      TextAnalysis.gopherRuleCensus(seasoned, minWords = 20,
        requiredWords = Seq("the", "table", "row", "value"))
    },
      s"""WITH g AS (SELECT doc_id, lang,
           CASE WHEN doc_id % 13 = 0
                  THEN '- ' || replace(text, ' a ', chr(10) || '- ')
                WHEN doc_id % 17 = 0
                  THEN replace(text, ' a ', '...' || chr(10)) || '...'
                ELSE replace(text, ' a ', '.' || chr(10)) END
           || CASE WHEN doc_id % 19 = 0 THEN ' # # # # # # # #' ELSE '' END
             AS text
           FROM documents),
         m AS (SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '[ \\t\\n]+'), t -> len(t) > 0) AS w,
           string_split(text, chr(10)) AS l
           FROM g),
         r AS (SELECT doc_id, lang,
           len(w) >= 20 AND len(w) <= 100000 AS r_wordcount,
           len(w) > 0
             AND list_sum(list_transform(w, t -> len(t)))::DOUBLE / len(w) >= 3.0
             AND list_sum(list_transform(w, t -> len(t)))::DOUBLE / len(w) <= 10.0
             AS r_meanlen,
           len(w) > 0 AND
             ((len(text) - len(replace(text, '#', '')))::DOUBLE
              + (len(text) - len(replace(text, '...', '')))::DOUBLE / 3.0)
             / len(w) <= 0.1 AS r_symbol,
           len(list_filter(l, x -> regexp_matches(x, '^[-*•] ')))::DOUBLE
             / len(l) <= 0.9 AS r_bullet,
           len(list_filter(l, x -> ends_with(x, '...')))::DOUBLE
             / len(l) <= 0.3 AS r_ellipsis,
           len(w) > 0 AND
             len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
             / len(w) >= 0.8 AS r_alpha,
           len(list_filter(['the', 'table', 'row', 'value'],
             x -> list_contains(w, x))) >= 2 AS r_stopword
           FROM m)
         SELECT lang, count(*) AS n_docs,
           count(CASE WHEN r_wordcount AND r_meanlen AND r_symbol AND r_bullet
             AND r_ellipsis AND r_alpha AND r_stopword THEN 1 END) AS n_pass,
           count(CASE WHEN NOT r_wordcount THEN 1 END) AS f_wordcount,
           count(CASE WHEN NOT r_meanlen THEN 1 END) AS f_meanlen,
           count(CASE WHEN NOT r_symbol THEN 1 END) AS f_symbol,
           count(CASE WHEN NOT r_bullet THEN 1 END) AS f_bullet,
           count(CASE WHEN NOT r_ellipsis THEN 1 END) AS f_ellipsis,
           count(CASE WHEN NOT r_alpha THEN 1 END) AS f_alpha,
           count(CASE WHEN NOT r_stopword THEN 1 END) AS f_stopword
         FROM r GROUP BY 1 ORDER BY lang"""),
    // character-level Shannon entropy (gibberish / compression proxy):
    // per-language distribution ends pinned; every 11th doc gets a
    // low-entropy single-char flood appended so the min side separates
    Gate("t25_char_entropy", (s, d) =>
      TextAnalysis.charEntropyByLang(
        Tables.documents(s, d).withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" "), repeat(lit("z"), 200)))
            .otherwise(col("text")))),
      """WITH aug AS (SELECT doc_id, lang,
           CASE WHEN doc_id % 11 = 0 THEN text || ' ' || repeat('z', 200)
                ELSE text END AS text
           FROM documents),
         ch AS (SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(text, ''), c -> len(c) > 0)) AS c
           FROM aug),
         cc AS (SELECT doc_id, lang, c, count(*) AS k FROM ch GROUP BY 1, 2, 3),
         e AS (SELECT doc_id, lang,
           round((ln(sum(k)) - sum(k::DOUBLE * ln(k::DOUBLE)) / sum(k))
             / ln(2.0), 4) AS h
           FROM cc GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs, round(avg(h), 4) AS avg_entropy,
           round(min(h), 4) AS min_entropy, round(max(h), 4) AS max_entropy
         FROM e GROUP BY 1 ORDER BY lang"""),
    // NFC normalization (native expression): decomposed accents are
    // injected into every fifth doc (the corpus is pure ASCII), and the
    // composed output is pinned by length delta + fnv sum — both engines
    // implement Unicode NFC, so the pin is exact
    Gate("t17_nfc_normalize", (s, d) => {
      val seasoned = Tables.documents(s, d).withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 5 === 0, lit(" cafe\u0301 nai\u0308ve")) // decomposed: NFC must compose
          .otherwise(lit(""))))
      seasoned
        .select(col("source"),
          length(col("text")).as("raw_len"),
          graft.functions.TextNormalize.nfcNormalize(col("text")).as("norm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("raw_len").as("chars_raw"),
          sum(length(col("norm"))).as("chars_nfc"),
          sum(graft.functions.HashExpressions.fnv1a32(col("norm")))
            .as("norm_fnv_sum"))
        .orderBy("source")
    },
      s"""WITH w AS (SELECT source, text ||
           CASE WHEN doc_id % 5 = 0
             THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
             ELSE '' END AS text
           FROM documents),
         n AS (SELECT source, len(text) AS raw_len,
           nfc_normalize(text) AS norm FROM w)
         SELECT source, count(*) AS n_docs,
           CAST(sum(raw_len) AS BIGINT) AS chars_raw,
           CAST(sum(len(norm)) AS BIGINT) AS chars_nfc,
           CAST(sum(${fnvSql("norm", 2166136261L)}) AS BIGINT) AS norm_fnv_sum
         FROM n GROUP BY 1 ORDER BY source"""),
    // BPE merge-table training (Sennrich 2016): 10 rounds of
    // (pair-count aggregation → argmax → row-local merge) over the
    // vocabulary-sized word table; the merge table is the model
    Gate("bpe1_merge_table", (s, d) =>
      graft.text.Bpe.mergeTable(Tables.documents(s, d), nMerges = 10),
      bpeMergeTableSql),
    // encoded-output pin for the same training run: corpus-weighted
    // symbol frequencies after all 10 merges (merged subwords must
    // overtake raw characters exactly as the oracle's replay says)
    Gate("bpe2_encoded_symbols", (s, d) =>
      graft.text.Bpe.encodedSymbolCounts(Tables.documents(s, d),
        nMerges = 10, topK = 20),
      s"""WITH ${bpeRoundsSql(10)}
         SELECT symbol, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT symbol, sum(freq) AS cnt FROM (
             SELECT freq, unnest(list_filter(string_split(s, ' '),
               x -> len(x) > 0)) AS symbol FROM w10) GROUP BY 1)
         ORDER BY cnt DESC, symbol LIMIT 20"""),
    // tokenizer INFERENCE pinned cross-corpus: merges trained on
    // `documents`, replayed over the part-name vocabulary — subwords
    // only merge where the trained pairs actually occur, so the
    // encoded symbol profile is a genuine out-of-domain application
    // training runs through the driver-local tier (bit-identical to the
    // distributed one — bpe6 pins the pair to one oracle; bpe1 keeps the
    // distributed tier gate-covered): one collect of the vocab-sized
    // word table replaces 10 sequential per-merge Spark jobs
    Gate("bpe3_cross_encode", (s, d) => {
      val merges = graft.text.Bpe.trainLocal(Tables.documents(s, d), nMerges = 10)._1
      graft.text.Bpe.encode(
          Tables.part(s, d).select(col("p_name").as("text")), merges)
        .select(col("freq"), explode(col("symbols")).as("symbol"))
        .groupBy("symbol").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("symbol")).limit(20)
    },
      bpeCrossEncodeSql),
    // BPE model PERSISTENCE — train, save (parquet merges + params
    // sidecar), reload, encode the same out-of-domain corpus as bpe3;
    // pinned to the IDENTICAL oracle, so a merge row lost, reordered,
    // or re-typed in the round-trip fails the hash
    Gate("bpe5_bpe_model_roundtrip", (s, d) => withTempDir("graft_bpe5") { dir =>
      val merges = graft.text.Bpe.trainLocal(Tables.documents(s, d), nMerges = 10)._1
      graft.text.Bpe.save(merges, s"$dir/bpe", s)
      graft.text.Bpe.encode(
          Tables.part(s, d).select(col("p_name").as("text")),
          graft.text.Bpe.load(s, s"$dir/bpe"))
        .select(col("freq"), explode(col("symbols")).as("symbol"))
        .groupBy("symbol").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("symbol")).limit(20)
    },
      // save → load → encode must land on the fresh cross-encode answer
      bpeCrossEncodeSql),
    // the DRIVER-LOCAL training tier at the same 10 merges — one
    // collect of the vocab-sized word table, then the classic
    // in-memory loop (the production path for 30k-merge vocabularies,
    // where train's one-Spark-job-per-round scheduling floor is the
    // scale axis); pinned to bpe1's exact oracle, so both tiers must
    // learn the identical merge table
    Gate("bpe6_local_train", (s, d) =>
      graft.text.Bpe.mergeTableLocal(Tables.documents(s, d), nMerges = 10),
      // the driver-local training tier must learn the identical table
      bpeMergeTableSql),
    // tokenizer fertility (symbols per word) per language under the
    // trained merges — the acceptance metric tokenizer work is judged
    // by; segmentation table is vocab-sized and broadcasts
    Gate("bpe4_fertility", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.trainLocal(docs, nMerges = 10)._1
      val seg = graft.text.Bpe.encode(docs, merges)
        .select(col("word"), size(col("symbols")).as("n_sym"))
      docs.select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        .join(broadcast(seg), "word")
        .groupBy("lang")
        .agg(sum("freq").as("n_words"),
          sum(col("freq") * col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words"), 6))
        .orderBy("lang")
    },
      s"""WITH ${bpeRoundsSql(10)},
         seg AS (SELECT word,
           len(list_filter(string_split(s, ' '), x -> len(x) > 0)) AS n_sym
           FROM w10),
         lw AS (SELECT lang, tok AS word, count(*) AS freq FROM
           (SELECT lang, unnest($toks) AS tok FROM documents) GROUP BY 1, 2)
         SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
           CAST(sum(freq * n_sym) AS BIGINT) AS n_symbols,
           round(sum(freq * n_sym)::DOUBLE / sum(freq), 6) AS fertility
         FROM lw JOIN seg USING (word) GROUP BY 1 ORDER BY lang"""),
    // Unigram-LM tokenizer trainer (Kudo 2018, hard-EM/Viterbi form):
    // 3 EM rounds over the word table, count-rank pruning 256→192→144
    // multi-char pieces; the ENTIRE final vocabulary (pieces, Viterbi
    // counts, fixed-point scores) is pinned against a full SQL replay
    // of seed + all three rounds
    Gate("ug1_unigram_vocab", (s, d) =>
      graft.text.UnigramTokenizer.vocabTable(Tables.documents(s, d)),
      s"""WITH ${unigramRoundsSql()}
         SELECT piece, CAST(cnt AS BIGINT) AS cnt,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT)
             AS score_fp
         FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
           count(*)::DOUBLE AS vsz FROM uv3)
         ORDER BY cnt DESC, piece"""),
    // per-language segmentation census under the final model: word and
    // piece masses, EXACT fixed-point corpus log-likelihood (integer
    // arithmetic end-to-end), fertility — the unigram sibling of bpe4
    Gate("ug2_unigram_langstats", (s, d) =>
      graft.text.UnigramTokenizer.langStats(Tables.documents(s, d)),
      s"""WITH ${unigramRoundsSql()},
         useg AS (SELECT word, len(pieces) AS n_pieces,
           dps[n + 1] AS ll_fp FROM ub3_out),
         ulw AS (SELECT lang, word, count(*) AS wfreq FROM
           (SELECT lang, unnest($toks) AS word FROM documents)
           WHERE len(word) BETWEEN 1 AND 16 GROUP BY 1, 2)
         SELECT lang, CAST(sum(wfreq) AS BIGINT) AS n_words,
           CAST(sum(wfreq * n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(wfreq * ll_fp) AS BIGINT) AS ll_fp,
           round(sum(wfreq * n_pieces)::DOUBLE / sum(wfreq), 6) AS fertility
         FROM ulw JOIN useg USING (word) GROUP BY 1 ORDER BY 1"""),
    // tokenizer INFERENCE pinned cross-corpus (the bpe3 shape): model
    // trained on documents, replayed over the part-name vocabulary with
    // count-0-smoothed UNK scoring for characters the corpus never saw
    Gate("ug3_unigram_cross_segment", (s, d) =>
      graft.text.UnigramTokenizer.crossSegmentCounts(
        Tables.documents(s, d),
        Tables.part(s, d).select(col("p_name").as("text"))),
      s"""WITH ${unigramRoundsSql()},
         usf AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         uunk AS (SELECT
           CAST(floor(ln(1.0 / (tot + vsz)) * 1048576) AS BIGINT) AS unk
           FROM (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         pw AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(p_name, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND 16),
         pgrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM pw, range(1, 17) t1(i), range(1, 5) t2(l)),
         pg AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(CASE WHEN g.l = 1 AND g.piece IS NOT NULL
                  THEN coalesce(s.sc, (SELECT unk FROM uunk))
                  ELSE coalesce(s.sc, -1099511627776) END
               ORDER BY g.i, g.l) AS scs
           FROM pgrid g LEFT JOIN usf s ON s.piece = g.piece
           GROUP BY g.word),
         ${viterbiDpSql("pd", "pb", "pg", 16, 4)}
         SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT piece, sum(freq) AS cnt FROM
             (SELECT freq, unnest(pieces) AS piece FROM pb_out) GROUP BY 1)
         ORDER BY cnt DESC, piece LIMIT 20"""),
    // unigram model PERSISTENCE — train, save (vocab parquet + params
    // sidecar), reload, segment a THIRD corpus (part names + brands +
    // types: a mix of in-vocabulary words, words with OOV capitals/
    // digits/'#', and all-OOV words); the pinned `seg` string makes
    // piece READING ORDER part of the contract, so a round-trip that
    // drops a count, re-types a score, or reverses the backtrack
    // fails the hash
    Gate("ug4_unigram_model_roundtrip", (s, d) => withTempDir("graft_ug4") { dir =>
      graft.text.UnigramTokenizer.save(
        graft.text.UnigramTokenizer.trainModel(Tables.documents(s, d)),
        s"$dir/ug")
      graft.text.UnigramTokenizer.segmentWith(
          graft.text.UnigramTokenizer.load(s, s"$dir/ug"),
          Tables.part(s, d).select(concat_ws(" ",
            col("p_name"), col("p_brand"), col("p_type")).as("text")))
        .select(col("word"), size(col("pieces")).cast("long").as("n_pieces"),
          array_join(col("pieces"), " ").as("seg"), col("ll_fp"))
        .orderBy("word").limit(500)
    },
      // save → load → segment must land on the fresh model's exact
      // per-word segmentations, reading order included
      unigramRoundtripSql),
    // MMR diversified top-3 (λ=0.7 over top-10 relevance candidates):
    // greedy trajectory pinned step by step — rounded-score argmax with
    // vec_id tie-break makes the whole greedy path engine-independent
    Gate("r6_mmr_diversified", (s, d) =>
      Similarity.mmrSelect(Tables.embeddings(s, d), queryId = 0L,
        nCand = 10, k = 3, lambda = 0.7),
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         qq AS (SELECT emb FROM e WHERE vec_id = 0),
         c0 AS (SELECT vec_id, emb,
           list_cosine_similarity(emb, (SELECT emb FROM qq)) AS rel
           FROM e WHERE vec_id <> 0),
         cand AS (SELECT vec_id, emb, rel FROM (SELECT *,
             row_number() OVER (ORDER BY rel DESC, vec_id) AS rn FROM c0)
           WHERE rn <= 10),
         p1 AS (SELECT vec_id, emb, rel, 1 AS pick,
             round(0.7 * rel, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel, 6) DESC, vec_id) AS w FROM cand)
           WHERE w = 1),
         s1 AS (SELECT vec_id, emb FROM p1),
         r2 AS (SELECT c.vec_id, any_value(c.emb) AS emb, c.rel,
             max(list_cosine_similarity(c.emb, s.emb)) AS ms
           FROM cand c, s1 s WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
           GROUP BY c.vec_id, c.rel),
         p2 AS (SELECT vec_id, emb, rel, 2 AS pick,
             round(0.7 * rel - (1 - 0.7) * ms, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel - (1 - 0.7) * ms, 6) DESC, vec_id)
               AS w FROM r2)
           WHERE w = 1),
         s2 AS (SELECT vec_id, emb FROM p1
           UNION ALL SELECT vec_id, emb FROM p2),
         r3 AS (SELECT c.vec_id, any_value(c.emb) AS emb, c.rel,
             max(list_cosine_similarity(c.emb, s.emb)) AS ms
           FROM cand c, s2 s WHERE c.vec_id NOT IN (SELECT vec_id FROM s2)
           GROUP BY c.vec_id, c.rel),
         p3 AS (SELECT vec_id, emb, rel, 3 AS pick,
             round(0.7 * rel - (1 - 0.7) * ms, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel - (1 - 0.7) * ms, 6) DESC, vec_id)
               AS w FROM r3)
           WHERE w = 1)
         SELECT pick, vec_id, round(rel, 6) AS rel, score FROM (
           SELECT pick, vec_id, rel, score FROM p1
           UNION ALL SELECT pick, vec_id, rel, score FROM p2
           UNION ALL SELECT pick, vec_id, rel, score FROM p3)
         ORDER BY pick"""),
    // Efraimidis–Spirakis exact-k weighted draw: weight = quality
    // rounded to 6 (bit-reproducible on both sides), u from the seeded
    // id hash, sample = top-40 by u^(1/w) — full selected rows pinned
    // in rank order against the oracle's recomputation
    Gate("r2_weighted_sample", (s, d) => {
      val withW = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("weight",
          round(graft.text.TextAnalysis.qualityScore(col("text")), 6))
      graft.pipeline.TrainingData
        .weightedSampleExact(withW, 40, col("weight"))
        .select(col("doc_id"), col("weight"),
          round(col("es_key"), 6).as("es_key"))
    },
      s"""WITH m AS (SELECT doc_id,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS weight
           FROM documents),
         k AS (SELECT doc_id, weight,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM m WHERE weight > 0)
         SELECT doc_id, weight, round(es_key, 6) AS es_key
         FROM k ORDER BY k.es_key DESC, doc_id LIMIT 40"""),
    // stratified A-ES: the same deterministic u^(1/w) draw, but an
    // independent exact-5 sample per SOURCE via the partitioned
    // row_number — per-stratum quota sampling, full rows pinned
    Gate("r4_group_weighted_sample", (s, d) => {
      val withW = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("weight",
          round(graft.text.TextAnalysis.qualityScore(col("text")), 6))
      graft.pipeline.TrainingData
        .weightedSamplePerGroup(withW, 5, col("weight"), "source")
        .select(col("source"), col("doc_id"), col("weight"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy(col("source"), col("es_key").desc, col("doc_id"))
    },
      s"""WITH m AS (SELECT doc_id, source,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS weight
           FROM documents),
         k AS (SELECT doc_id, source, weight,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM m WHERE weight > 0),
         r AS (SELECT source, doc_id, weight, es_key,
             row_number() OVER (PARTITION BY source
               ORDER BY es_key DESC, doc_id) AS rn
           FROM k)
         SELECT source, doc_id, weight, round(es_key, 6) AS es_key
         FROM r WHERE rn <= 5 ORDER BY source, es_key DESC, doc_id"""),
    // DSIR importance resampling: hashed unigram+bigram bucket models
    // (target = English docs, raw = the rest), add-1-smoothed log
    // importance ratios summed per doc, Gumbel top-30 draw — selected
    // rows pinned in rank order against the oracle's full replay
    Gate("r3_dsir_select", (s, d) =>
      graft.text.Dsir.selectTopK(Tables.documents(s, d),
          col("lang") === "en", k = 30, buckets = 4096)
        .select(col("doc_id"), col("n_features"),
          round(col("log_w"), 6).as("log_w"),
          round(col("gumbel_key"), 6).as("gumbel_key")),
      s"""WITH f AS (SELECT doc_id, lang = 'en' AS t,
             unnest(list_concat($toks,
               CASE WHEN len($toks) >= 2
                 THEN list_transform(range(0, len($toks) - 1),
                        i -> array_to_string(($toks)[i+1:i+2], ' '))
                 ELSE [] END)) AS feat
           FROM documents),
         fb AS (SELECT doc_id, t, ${fnvSql("feat", 2166136261L)} % 4096 AS b
           FROM f),
         m AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cr
           FROM fb GROUP BY 1),
         tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM m),
         lr AS (SELECT b, ln((ct + 1.0) / (tt + 4096))
             - ln((cr + 1.0) / (tr + 4096)) AS lr FROM m, tot),
         sc AS (SELECT doc_id, count(*) AS n_features, sum(lr) AS log_w
           FROM fb JOIN lr USING (b) WHERE NOT t GROUP BY 1),
         g AS (SELECT doc_id, n_features, log_w,
             log_w - ln(-ln((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
               % 1000000 + 0.5) / 1000000.0)) AS gk
           FROM sc)
         SELECT doc_id, n_features, round(log_w, 6) AS log_w,
           round(gk, 6) AS gumbel_key
         FROM g ORDER BY g.gk DESC, doc_id LIMIT 30"""),
    // hybrid-retrieval RRF: BM25 top-50 (r1's query) fused with the
    // dense cosine top-50 around vec_id 0 at k=60 — ranks are integer
    // and both engines' reciprocal sums are bit-identical, so the fused
    // ordering is exact; top-20 with both source ranks pinned
    Gate("r5_rrf_fusion", (s, d) => {
      val lex = graft.text.Fusion.withRank(
        graft.text.Bm25.topK(Tables.documents(s, d),
          Seq("hash", "join", "window", "spark"), k = 50),
        "bm25", "doc_id")
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, d),
          Seq(0L), k = 50)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.text.Fusion.rrf(
        Seq("lex" -> lex, "dense" -> dense), "doc_id", k = 60, topN = 20)
    },
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dd AS (SELECT doc_id, len(tk) AS dl, tk FROM d),
         nd AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
         q AS (SELECT unnest(['hash', 'join', 'window', 'spark']) AS term),
         tf AS (SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
           FROM dd CROSS JOIN q),
         c AS (SELECT * FROM tf WHERE tf > 0),
         dfx AS (SELECT term, count(*) AS df FROM c GROUP BY 1),
         sc AS (SELECT doc_id,
             sum(ln(1 + (nd.n - dfx.df + 0.5) / (dfx.df + 0.5))
               * c.tf * (1.2 + 1.0)
               / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * c.dl / nd.avgdl))) AS score
           FROM c JOIN dfx USING (term) CROSS JOIN nd GROUP BY 1),
         lex AS (SELECT doc_id, rank_lex FROM
           (SELECT doc_id, row_number() OVER
              (ORDER BY round(score, 6) DESC, doc_id) AS rank_lex FROM sc)
           WHERE rank_lex <= 50),
         qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id = 0),
         ds AS (SELECT e.vec_id AS doc_id,
             list_cosine_similarity(qv.q_emb,
               CAST(e.embedding AS DOUBLE[])) AS sim
           FROM embeddings e CROSS JOIN qv WHERE e.vec_id != 0),
         dense AS (SELECT doc_id, rank_dense FROM
           (SELECT doc_id, row_number() OVER
              (ORDER BY sim DESC, doc_id) AS rank_dense FROM ds)
           WHERE rank_dense <= 50),
         fused AS (SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
             l.rank_lex, de.rank_dense,
             round(COALESCE(1.0 / (60 + l.rank_lex), 0)
               + COALESCE(1.0 / (60 + de.rank_dense), 0), 6) AS rrf_score
           FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
         SELECT doc_id, rank_lex, rank_dense, rrf_score FROM fused
         ORDER BY rrf_score DESC, doc_id LIMIT 20"""),
    // central length-band trim: exact global p5/p95 token-count bounds
    // (single-row agg broadcast back), membership pinned per language
    Gate("t18_length_band", (s, d) =>
      graft.pipeline.TrainingData.trimToLengthBand(Tables.documents(s, d), 0.05, 0.95)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang"),
      s"""WITH t AS (SELECT lang, doc_id,
           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
           quantile_cont(n_tokens, 0.95) AS hi FROM t)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM t, b WHERE n_tokens >= lo AND n_tokens <= hi
         GROUP BY 1 ORDER BY lang"""),
    // per-source KL divergence vs the corpus blend over a 64-bucket
    // hashed-token histogram — exact over the bucketed distributions,
    // double drift absorbed by round(6) (the g1 fixpoint precedent)
    Gate("t19_source_divergence", (s, d) =>
      graft.text.TextAnalysis.sourceDivergence(Tables.documents(s, d), 64),
      s"""WITH tk AS (SELECT source, unnest($toks) AS tok FROM documents),
         tb AS (SELECT source, ${fnvSql("tok", 2166136261L)} % 64 AS b FROM tk),
         sb AS (SELECT source, b, count(*) AS n FROM tb GROUP BY 1, 2),
         tot AS (SELECT source, sum(n) AS n_src FROM sb GROUP BY 1),
         gl AS (SELECT b, sum(n) AS n_b FROM sb GROUP BY 1),
         ga AS (SELECT sum(n_b) AS n_all FROM gl)
         SELECT sb.source AS source, CAST(max(tot.n_src) AS BIGINT) AS n_tokens,
           round(sum((sb.n / tot.n_src) * ln((sb.n / tot.n_src) /
             (gl.n_b / (SELECT n_all FROM ga)))), 6) AS kl_vs_corpus
         FROM sb JOIN tot USING (source) JOIN gl USING (b)
         GROUP BY 1 ORDER BY 1"""),
    // per-language Zipf slope over the vocabulary head (minCount
    // pruned BEFORE the per-lang rank window): natural text ≈ −1
    Gate("t22_zipf_slope", (s, d) =>
      graft.text.TextAnalysis.zipfSlope(Tables.documents(s, d),
        minCount = 5L, topK = 500),
      s"""WITH tk AS (SELECT lang, unnest($toks) AS tok FROM documents),
         vc AS (SELECT lang, tok, count(*) AS cnt FROM tk
           GROUP BY 1, 2 HAVING count(*) >= 5),
         rk AS (SELECT lang, cnt, row_number() OVER (PARTITION BY lang
             ORDER BY cnt DESC, tok) AS rk FROM vc),
         h AS (SELECT lang, ln(rk) AS x, ln(cnt) AS y FROM rk
           WHERE rk <= 500)
         SELECT lang, count(*) AS n_head,
           round(covar_pop(x, y) / var_pop(x), 4) AS zipf_slope
         FROM h GROUP BY 1 HAVING count(*) >= 2 ORDER BY lang"""),
    // PMI collocations: top-20 adjacent pairs by pointwise mutual
    // information (min support 5) — phrase detection; component counts
    // and the smoothest-free score pinned, rank by unrounded score
    Gate("t21_pmi_phrases", (s, d) =>
      graft.text.TextAnalysis.pmiPhrases(Tables.documents(s, d),
        k = 20, minCount = 5L),
      s"""WITH tk AS (SELECT $toks AS t FROM documents),
         uc AS (SELECT w, count(*) AS cw FROM
           (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         nu AS (SELECT CAST(sum(cw) AS BIGINT) AS n_uni FROM uc),
         bc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cab FROM
           (SELECT unnest(list_transform(range(0, len(t) - 1),
              i -> struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS p
            FROM tk WHERE len(t) >= 2) GROUP BY 1, 2),
         nb AS (SELECT CAST(sum(cab) AS BIGINT) AS n_bi FROM bc),
         sc AS (SELECT w1, w2, cab, u1.cw AS c1, u2.cw AS c2,
             ln((cab / (1.0 * n_bi))
               / ((u1.cw / (1.0 * n_uni)) * (u2.cw / (1.0 * n_uni))))
               AS pmi_raw
           FROM bc JOIN uc u1 ON bc.w1 = u1.w
           JOIN uc u2 ON bc.w2 = u2.w
           CROSS JOIN nb CROSS JOIN nu
           WHERE cab >= 5)
         SELECT w1 || ' ' || w2 AS bigram, CAST(cab AS BIGINT) AS cab,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           round(pmi_raw, 6) AS pmi
         FROM sc ORDER BY pmi_raw DESC, w1, w2 LIMIT 20"""),
    // duplicated-8-gram coverage rolled up per source: the exact-
    // substring-dedup proxy signal, fnv-hashed shingle occurrence counts
    // replayed identically by the oracle
    Gate("t20_dup_ngram_coverage", (s, d) => {
      val cov = graft.dedup.Dedup.dupNgramCoverage(Tables.documents(s, d), k = 8)
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(cov, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_dup").as("dup_shingles"),
          sum("n_shingles").as("total_shingles"),
          round(avg("dup_coverage"), 6).as("avg_coverage"))
        .orderBy("source")
    },
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         hs AS (SELECT doc_id, unnest(list_transform(s,
             g -> ${fnvSql("g", 2166136261L)})) AS h FROM sh),
         c AS (SELECT h, count(*) AS n_docs_with FROM hs GROUP BY 1),
         pd AS (SELECT doc_id, count(*) AS n_shingles,
             sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_dup
           FROM hs JOIN c USING (h) GROUP BY 1)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_dup) AS BIGINT) AS dup_shingles,
           CAST(sum(n_shingles) AS BIGINT) AS total_shingles,
           round(avg(n_dup / (1.0 * n_shingles)), 6) AS avg_coverage
         FROM documents JOIN pd USING (doc_id)
         GROUP BY 1 ORDER BY 1"""),
    // chance-corrected label agreement over the t5 confusion tier
    Gate("t27_langid_kappa", (s, d) =>
      TextAnalysis.langIdKappa(Tables.documents(s, d)),
      // Cohen's kappa over the SAME heuristic CTE chain as t5
      s"""WITH m AS (SELECT lang,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM documents),
         g AS (SELECT lang,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM m),
         c AS (SELECT lang, lang_guess, count(*) AS cnt FROM g GROUP BY 1, 2),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
         a AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS agree
           FROM c WHERE lang = lang_guess),
         x AS (SELECT CAST(sum(mr.rn * mc.cn) AS BIGINT) AS crossn FROM
           (SELECT lang AS k, sum(cnt) AS rn FROM c GROUP BY 1) mr
           JOIN (SELECT lang_guess AS k, sum(cnt) AS cn FROM c GROUP BY 1) mc
             USING (k))
         SELECT n.n AS n_docs,
           round(agree / CAST(n.n AS DOUBLE), 6) AS p_observed,
           round(crossn / (CAST(n.n AS DOUBLE) * n.n), 6) AS p_expected,
           round((agree / CAST(n.n AS DOUBLE)
               - crossn / (CAST(n.n AS DOUBLE) * n.n))
             / (1.0 - crossn / (CAST(n.n AS DOUBLE) * n.n)), 6) AS kappa
         FROM n, a, x""")
  )

  /** The bpe1/bpe2 oracle's shared CTE chain: `n` unrolled BPE rounds
    * over the word-frequency table, mirroring [[graft.text.Bpe]] exactly
    * — same double-space symbol-boundary word state (each symbol owns
    * its delimiters, so run merges reproduce classical BPE — see
    * [[graft.text.Bpe]] scaladoc), same `replace()` left-to-right
    * non-overlapping merge, same `(count desc, pair asc)` tie-break.
    * `MATERIALIZED` is load-bearing: each round is referenced by both
    * the next round's pair count and the next word state; inlined CTEs
    * would re-expand the chain exponentially (2^n parquet scans). */
  private def bpeRoundsSql(n: Int): String = {
    val base =
      s"""wc AS MATERIALIZED (SELECT tok AS word, count(*) AS freq FROM
           (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         w0 AS MATERIALIZED (SELECT word, freq,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
           FROM wc)"""
    val rounds = (1 to n).map { r =>
      s"""p$r AS (SELECT pr, sum(freq) AS cnt FROM (
             SELECT freq, unnest(CASE WHEN len(a) >= 2 THEN
               list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])
               ELSE [] END) AS pr
             FROM (SELECT freq, list_filter(string_split(s, ' '),
               x -> len(x) > 0) AS a FROM w${r - 1})) GROUP BY 1),
         b$r AS MATERIALIZED (SELECT pr, cnt FROM p$r
           ORDER BY cnt DESC, pr LIMIT 1),
         w$r AS MATERIALIZED (SELECT word, freq,
           replace(s, ' ' || replace((SELECT pr FROM b$r), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pr FROM b$r), ' ', '') || ' ') AS s
           FROM w${r - 1})"""
    }
    (base +: rounds).mkString(",\n         ")
  }

  /** The unrolled Viterbi DP + backtrack CTE block shared by the
    * training rounds and the cross-corpus encode pass: `dpP_0..W`
    * build the per-position (total, backlen) lists over a garr-shaped
    * CTE (word, freq, n, scs), `bkP_1..W` walk the backpointers into
    * the piece list (END → START), and `bkP_out` reverses it into
    * reading order — the engine's `reverse(ps)` mirror. */
  private def viterbiDpSql(dpP: String, bkP: String, garrCte: String,
                           W: Int, L: Int): String = {
    val dpLayers = (1 to W).map { i =>
      val cands = (1 to math.min(L, i)).map { l =>
        s"struct_pack(t := dps[${i - l + 1}] + scs[${(i - 1) * L + l}], bl := $l)"
      }.mkString(", ")
      s"""${dpP}_$i AS (SELECT word, freq, n, scs,
           list_append(dps, CASE WHEN $i <= n THEN b.t END) AS dps,
           list_append(bls, CASE WHEN $i <= n THEN b.bl ELSE 0 END) AS bls
         FROM (SELECT *, list_max([$cands]) AS b FROM ${dpP}_${i - 1}))"""
    }.mkString(",\n         ")
    val backLayers = (1 to W).map { k =>
      s"""${bkP}_$k AS (SELECT word, freq, n, dps, bls,
           CASE WHEN pos > 0 THEN pos - bls[pos + 1] ELSE pos END AS pos,
           CASE WHEN pos > 0 THEN list_append(pieces,
             substr(word, pos - bls[pos + 1] + 1, bls[pos + 1]))
             ELSE pieces END AS pieces
         FROM ${bkP}_${k - 1})"""
    }.mkString(",\n         ")
    s"""${dpP}_0 AS (SELECT word, freq, n, scs,
         [CAST(0 AS BIGINT)] AS dps, [0] AS bls FROM $garrCte),
       $dpLayers,
       ${bkP}_0 AS (SELECT word, freq, n, dps, bls, n AS pos,
         CAST([] AS VARCHAR[]) AS pieces FROM ${dpP}_$W),
       $backLayers,
       ${bkP}_out AS (SELECT word, freq, n, dps, bls,
         list_reverse(pieces) AS pieces FROM ${bkP}_$W)"""
  }

  /** Full SQL replay of [[graft.text.UnigramTokenizer.train]] under the
    * default `Params` — seed, `emRounds` hard-EM Viterbi rounds,
    * count-rank pruning — as one CTE chain. The Viterbi DP and its
    * backtrack are UNROLLED one CTE per word position (the `maxWordLen`
    * cap is what makes that static),
    * with the same padded `(end,len)` score-grid indexing, the same
    * `(total, len)`-struct argmax tie-break (`list_max`), and the same
    * fixed-point `floor(2^20·ln((cnt+1)/(T+|V|)))` scores, so every DP
    * comparison and the corpus likelihood are exact integer arithmetic
    * in both engines. Invalid grid slots carry a −2^40 sentinel score
    * (any candidate touching one loses to every real segmentation;
    * single-char coverage guarantees a real one exists), mirroring the
    * engine's null-filtered candidates. MATERIALIZED is load-bearing
    * exactly as in [[bpeRoundsSql]]. */
  private def unigramRoundsSql(): String = {
    val params = graft.text.UnigramTokenizer.Params()
    val L = params.maxPieceLen
    val W = params.maxWordLen
    val SENT = "-1099511627776" // -2^40
    val base =
      s"""uw AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND $W),
         useed AS MATERIALIZED (SELECT piece, sum(freq) AS cnt FROM
           (SELECT substr(word, i, l) AS piece, freq
            FROM uw, range(1, ${W + 1}) t1(i), range(1, ${L + 1}) t2(l)
            WHERE i <= n AND i + l - 1 <= n) GROUP BY 1),
         uv0 AS MATERIALIZED (
           SELECT piece, cnt FROM useed WHERE len(piece) = 1
           UNION ALL
           SELECT piece, cnt FROM (SELECT piece, cnt FROM useed
             WHERE len(piece) > 1 ORDER BY cnt DESC, piece
             LIMIT ${params.seedMultis})),
         ugrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM uw, range(1, ${W + 1}) t1(i), range(1, ${L + 1}) t2(l))"""
    var keep = params.seedMultis
    val roundCtes = (1 to params.emRounds).map { r =>
      val p = r - 1
      val dpLayers = viterbiDpSql(s"ud$r", s"ub$r", s"ug$r", W, L)
      val pruneSel =
        if (r < params.emRounds) {
          keep = keep * 3 / 4
          s"""SELECT piece, cnt FROM ur$r WHERE len(piece) = 1
             UNION ALL
             SELECT piece, cnt FROM (SELECT piece, cnt FROM ur$r
               WHERE len(piece) > 1 ORDER BY cnt DESC, piece LIMIT $keep)"""
        } else s"SELECT piece, cnt FROM ur$r"
      s"""us$r AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv$p, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv$p)),
         ug$r AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(coalesce(s.sc, $SENT) ORDER BY g.i, g.l) AS scs
           FROM ugrid g LEFT JOIN us$r s ON s.piece = g.piece
           GROUP BY g.word),
         $dpLayers,
         uc$r AS MATERIALIZED (SELECT piece, sum(freq) AS cnt FROM
           (SELECT freq, unnest(pieces) AS piece FROM ub${r}_out) GROUP BY 1),
         ur$r AS MATERIALIZED (SELECT v.piece, coalesce(c.cnt, 0) AS cnt
           FROM uv$p v LEFT JOIN uc$r c USING (piece)),
         uv$r AS MATERIALIZED ($pruneSel)"""
    }
    (base +: roundCtes).mkString(",\n         ")
  }

  /** The bpe1/bpe6 shared oracle: the 10-round merge table itself —
    * one row per round from the unrolled CTE chain. Shared because the
    * distributed (bpe1) and driver-local (bpe6) training tiers carry
    * the bit-identical-merge-table contract. */
  private lazy val bpeMergeTableSql: String =
    s"""WITH ${bpeRoundsSql(10)}
       SELECT * FROM (${(1 to 10).map(r =>
         s"SELECT $r AS step, pr AS pair, replace(pr, ' ', '') AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$r")
         .mkString(" UNION ALL ")}) ORDER BY step"""

  /** The bpe3/bpe5 shared oracle: 10 training rounds over `documents`
    * (bpeRoundsSql), then the learned merges replayed over the
    * part-name word table — bpe5 runs the identical computation through
    * a SAVED-then-RELOADED merge table, so persistence must be
    * bit-faithful to pass the same pin. */
  private lazy val bpeCrossEncodeSql: String =
    s"""WITH ${bpeRoundsSql(10)},
         pe0 AS (SELECT word, freq,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(p_name, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)),
         ${(1 to 10).map(r =>
           s"""pe$r AS (SELECT word, freq,
             replace(s, ' ' || replace((SELECT pr FROM b$r), ' ', '  ') || ' ',
                     ' ' || replace((SELECT pr FROM b$r), ' ', '') || ' ') AS s
             FROM pe${r - 1})""").mkString(",\n         ")}
         SELECT symbol, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT symbol, sum(freq) AS cnt FROM (
             SELECT freq, unnest(list_filter(string_split(s, ' '),
               x -> len(x) > 0)) AS symbol FROM pe10) GROUP BY 1)
         ORDER BY cnt DESC, symbol LIMIT 20"""

  /** The t29/t30 fixture: a synthesized crawl page per document row —
    * script with raw `<`/`&&`, style, comment, per-source title,
    * unique h1 + body, corpus-repeated lang/entity chrome. Mirrors the
    * `h` CTE of [[htmlExtractSqlChain]] exactly. */
  private def synthesizedCrawlPage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>"), col("source"),
    lit("</title><script type=\"text/javascript\">var x = 1 < 2 && y > 0;" +
      "</script><style>p { color: red; }</style></head>" +
      "<body><!-- hidden comment --><h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><p>"), col("text"),
    lit("</p><ul><li>lang: "), col("lang"),
    lit("</li><li>A &amp; B &lt;tag&gt; &amp;lt;raw&amp;gt;</li></ul>" +
      "</body></html>"))

  /** The t29/t30 shared CTE chain: per-document synthesized crawl page
    * (`h`) pushed through the FROZEN HtmlExtract regex chain to trimmed
    * non-empty blocks (`b`) and the newline-joined text (`j.txt`). */
  private lazy val htmlExtractSqlChain: String =
    s"""h AS (SELECT doc_id,
           '<html><head><title>' || source ||
           '</title><script type="text/javascript">var x = 1 < 2 && y > 0;' ||
           '</script><style>p { color: red; }</style></head>' ||
           '<body><!-- hidden comment --><h1>Doc ' || doc_id ||
           '</h1><p>' || text || '</p><ul><li>lang: ' || lang ||
           '</li><li>A &amp; B &lt;tag&gt; &amp;lt;raw&amp;gt;</li></ul>' ||
           '</body></html>' AS html
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(html,
             '(?is)<script\\b[^>]*>.*?</script\\s*>', '', 'g'),
             '(?is)<style\\b[^>]*>.*?</style\\s*>', '', 'g'),
             '(?s)<!--.*?-->', '', 'g'),
             '\\s+', ' ', 'g'),
             '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|thead|tbody|table|br|hr|blockquote|pre|section|article|header|footer|nav|aside|form|figure|figcaption|main|title)\\b[^>]*>',
             chr(10), 'g') AS t
           FROM h),
         s2 AS (SELECT doc_id,
           regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(
           replace(replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&')
           AS t FROM s2),
         b AS (SELECT doc_id,
           list_filter(list_transform(string_split(t, chr(10)),
             x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
             x -> len(x) > 0) AS blocks
           FROM s3),
         j AS (SELECT doc_id, blocks,
           array_to_string(blocks, chr(10)) AS txt FROM b)"""

  /** The ug4 oracle: full unigram training replay over `documents`
    * (unigramRoundsSql), then Viterbi INFERENCE over the orders-comment
    * word table under the final vocabulary with the UNK floor — the
    * engine side runs the identical computation through a
    * SAVED-then-RELOADED model, and the pinned `seg` string makes the
    * pieces' READING ORDER part of the contract. */
  private lazy val unigramRoundtripSql: String =
    s"""WITH ${unigramRoundsSql()},
         usf AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         uunk AS (SELECT
           CAST(floor(ln(1.0 / (tot + vsz)) * 1048576) AS BIGINT) AS unk
           FROM (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         ow AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(
                p_name || ' ' || p_brand || ' ' || p_type, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND 16),
         ogrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM ow, range(1, 17) t1(i), range(1, 5) t2(l)),
         og AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(CASE WHEN g.l = 1 AND g.piece IS NOT NULL
                  THEN coalesce(s.sc, (SELECT unk FROM uunk))
                  ELSE coalesce(s.sc, -1099511627776) END
               ORDER BY g.i, g.l) AS scs
           FROM ogrid g LEFT JOIN usf s ON s.piece = g.piece
           GROUP BY g.word),
         ${viterbiDpSql("od", "ob", "og", 16, 4)}
         SELECT word, CAST(len(pieces) AS BIGINT) AS n_pieces,
           array_to_string(pieces, ' ') AS seg, dps[n + 1] AS ll_fp
         FROM ob_out ORDER BY word LIMIT 500"""
}
