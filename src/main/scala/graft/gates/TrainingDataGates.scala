package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.dedup.DupGroups
import graft.text.TextAnalysis

import Shared.{fnvSql, stop, toks}

/** Training-data pipeline gates (`tp`): mixture, quality and influence
  * steps, plus sequence packing (`pk`), chunk profiles (`pc`), shard
  * profiles (`sh`) and splits (`sp`). */
object TrainingDataGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // dedup-aware mixing: duplicate clusters (d8 machinery) weight each
    // doc 1/cluster_size, then the deterministic exact-40 A-ES draw —
    // a cluster's expected pick mass is ~equal no matter how many
    // copies it holds; full sampled rows pinned
    Gate("tp5_dedup_weighted_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      val comps = graft.dedup.DupGroups.connectedComponents(
        graft.dedup.DupGroups.dupEdges(docs, 0.5),
        docs.select(col("doc_id").as("id")))
      val sizes = comps.groupBy("comp").agg(count(lit(1)).as("sz"))
      val withW = comps.select(col("id").as("doc_id"), col("comp"))
        .join(sizes, "comp")
        .withColumn("weight", lit(1.0) / col("sz"))
      graft.pipeline.TrainingData.weightedSampleExact(withW, 40, col("weight"))
        .select(col("doc_id"), col("sz").as("cluster_size"),
          round(col("es_key"), 6).as("es_key"))
    },
      s"""WITH RECURSIVE sh AS (SELECT doc_id, source,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         near AS (SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5),
         reps AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
         exact AS (SELECT d.doc_id AS a, r.rep AS b
           FROM documents d JOIN reps r ON d.text = r.text
           WHERE d.doc_id != r.rep),
         e AS (SELECT a, b FROM exact UNION ALL SELECT a, b FROM near
               UNION ALL SELECT b, a FROM exact UNION ALL SELECT b, a FROM near),
         reach(src, node) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.node),
         lab AS (SELECT node, min(src) AS comp FROM reach GROUP BY node),
         sz AS (SELECT comp, count(*) AS sz FROM lab GROUP BY 1),
         w AS (SELECT lab.node AS doc_id, sz.sz, 1.0 / sz.sz AS weight
           FROM lab JOIN sz USING (comp)),
         k AS (SELECT doc_id, sz,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM w WHERE weight > 0)
         SELECT doc_id, sz AS cluster_size, round(es_key, 6) AS es_key
         FROM k ORDER BY es_key DESC, doc_id LIMIT 40"""),
    // Kish effective sample size per source for an uneven weight
    // column — the diagnostic every importance-weighted mix publishes
    Gate("tp12_effective_sample_size", (s, d) =>
      graft.pipeline.TrainingData.effectiveSampleSize(
        Tables.documents(s, d), "source",
        pmod(col("n_chars"), lit(101L)) + lit(1L)),
      """WITH t AS (SELECT source,
           CAST(n_chars % 101 + 1 AS DOUBLE) AS w FROM documents),
         g AS (SELECT source, count(*) AS n, sum(w) AS sw,
           sum(w * w) AS sw2 FROM t GROUP BY 1)
         SELECT source, n, round(sw * sw / sw2, 6) AS ess,
           round(sw * sw / sw2 / n, 6) AS ess_ratio
         FROM g ORDER BY source"""),
    // --- composed training-data prep pipeline ---
    Gate("tp1_pipeline_summary", (s, d) =>
      graft.pipeline.TrainingData.summary(Tables.documents(s, d)),
      s"""WITH dd AS (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text),
         m AS (SELECT doc_id, text, len($toks) AS n_tokens,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS quality
           FROM dd),
         f AS (SELECT * FROM m WHERE quality >= 0.5),
         sc AS (SELECT doc_id, n_tokens, quality,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM f),
         lg AS (SELECT doc_id, n_tokens, quality,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM sc)
         SELECT lang_guess, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens),4) AS avg_tokens,
           round(avg(quality),6) AS avg_quality
         FROM lg WHERE lang_guess != 'und' GROUP BY 1 ORDER BY lang_guess"""),
    // deterministic exact-quota mixture: member identity pinned via
    // per-source id aggregates (sum/min/max of chosen doc_ids) — the
    // oracle reproduces the same (fnv1a32(id), id) ranking and must
    // select the identical documents; src3's over-quota exercises the
    // keep-all clamp
    Gate("tp2_mixture_quota", (s, d) =>
      graft.pipeline.TrainingData.mixtureByQuota(Tables.documents(s, d),
          Map("src0" -> 10, "src1" -> 5, "src2" -> 25, "src3" -> 40))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source"),
      s"""WITH ranked AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)}, doc_id) AS rk
           FROM documents),
         quota AS (SELECT * FROM (VALUES ('src0', 10), ('src1', 5),
           ('src2', 25), ('src3', 40)) q(source, n)),
         kept AS (SELECT ranked.source AS source, doc_id FROM ranked
           JOIN quota ON ranked.source = quota.source WHERE rk <= quota.n)
         SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM kept GROUP BY 1 ORDER BY source"""),
    // quality-proportional deterministic thinning: keep probability
    // min(quality·rate, 1) decided by the id hash — kept membership is a
    // pure function of (id, text); the oracle recomputes the same
    // quality formula (t6's, rounded to 6) and hash threshold
    Gate("tp4_quality_weighted", (s, d) =>
      graft.pipeline.TrainingData
        .qualityWeightedSample(Tables.documents(s, d), rate = 0.8)
        .select(col("lang"), col("doc_id"),
          graft.text.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("lang"),
      s"""WITH m AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS q
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM m
         WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 1000000
           < least(q * 0.8, 1.0) * 1000000
         GROUP BY 1 ORDER BY lang"""),
    // deterministic token-budget prefix draw over the fnv-shuffled
    // stream — the cumsum runs through the distributed prefix sum
    // (per-partition offsets), and the kept set is a pure function of
    // ids+texts, so the oracle replays it with a window cumsum
    Gate("tp3_token_budget", (s, d) =>
      graft.pipeline.TrainingData.tokenBudgetSample(Tables.documents(s, d), 15000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("source"),
      s"""WITH t AS (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
           ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} AS ord
           FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb FROM t)
         SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM c WHERE COALESCE(cb, 0) + n_tokens <= 15000
         GROUP BY 1 ORDER BY source"""),
    // cross-source quantile normalization: each doc's within-source
    // percentile mapped to the GLOBAL distribution's value at that
    // percentile — per-source window + prefix-sum global rank + one
    // integer-keyed join; every (raw, pct, normalized) triple pinned
    Gate("tp11_quantile_norm", (s, d) =>
      graft.pipeline.QuantileNorm.normalize(
          Tables.documents(s, d), "source", "n_chars", "doc_id")
        .orderBy("doc_id"),
      """WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS q
           FROM documents WHERE n_chars IS NOT NULL),
         pr AS (SELECT doc_id, source, q, percent_rank() OVER
           (PARTITION BY source ORDER BY q, doc_id) AS p FROM s),
         g AS (SELECT q, row_number() OVER (ORDER BY q, doc_id) AS rk
           FROM s),
         n AS (SELECT count(*) AS n FROM s)
         SELECT pr.doc_id, pr.source, round(pr.q, 6) AS raw_score,
           round(pr.p, 6) AS pct_rank, round(g.q, 6) AS norm_score
         FROM pr CROSS JOIN n JOIN g
           ON g.rk = CAST(floor(pr.p * (n.n - 1)) AS BIGINT) + 1
         ORDER BY pr.doc_id"""),
    // per-source epoch schedule (LLaMA-style epochs table): weights
    // rise linearly with the source number (w = srcNum+1, Σ=210), so a
    // 60k-token budget makes heavy sources repeat multiple epochs while
    // light ones sample fractionally; the whole table is pinned
    Gate("tp10_epoch_schedule", (s, d) => {
      val weights = (0 until 20).map(i => s"src$i" -> (i + 1).toDouble).toMap
      graft.pipeline.TrainingData.epochSchedule(
        Tables.documents(s, d), weights, budgetTokens = 60000L)
    },
      s"""WITH a AS (SELECT source,
           CAST(sum(len($toks)) AS BIGINT) AS avail_tokens,
           CAST(CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) + 1
             AS DOUBLE) AS w
           FROM documents GROUP BY source),
         t AS (SELECT source, avail_tokens,
           w / 210.0 * 60000 AS target FROM a)
         SELECT source, avail_tokens,
           round(target, 2) AS target_tokens,
           CAST(floor(target / avail_tokens) AS BIGINT) AS n_epochs,
           round((target - floor(target / avail_tokens) * avail_tokens)
             / avail_tokens, 6) AS frac_p
         FROM t ORDER BY source"""),
    // temperature-scaled mixture (XLM-R α-sampling): the 20 uniform
    // sources fold into 4 skewed domains (300/100/75/25 at sf0.01), the
    // α=0.5 rates flatten that distribution toward the tail, and the
    // kept membership is pinned per domain via id aggregates — the
    // oracle replays the whole rate computation and the fnv band draw
    Gate("tp6_temperature_mixture", (s, d) => {
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val docs = Tables.documents(s, d).withColumn("domain",
        when(srcNum <= 11, "web").when(srcNum <= 15, "books")
          .when(srcNum <= 18, "code").otherwise("wiki"))
      val rates = graft.pipeline.TrainingData
        .temperatureRates(docs, "domain", targetFraction = 0.5, alpha = 0.5)
      graft.pipeline.TrainingData
        .temperatureMixture(docs, "domain", targetFraction = 0.5, alpha = 0.5)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .join(rates, "domain")
        .select(col("domain"), col("n_docs"), col("q_share"),
          col("keep_band"), col("n_kept"), col("id_sum"))
        .orderBy("domain")
    },
      s"""WITH dom AS (SELECT doc_id,
           CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 11 THEN 'web'
                WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 15 THEN 'books'
                WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 18 THEN 'code'
                ELSE 'wiki' END AS domain
           FROM documents),
         c AS (SELECT domain, count(*) AS n FROM dom GROUP BY 1),
         w AS (SELECT sum(pow(n, 0.5)) AS wsum, sum(n) AS tot FROM c),
         r AS (SELECT domain, n, round(pow(n, 0.5) / wsum, 6) AS q_share,
           CAST(least(round(round(pow(n, 0.5) / wsum, 6) * 0.5 * tot / n * 10000, 0),
             10000.0) AS INT) AS keep_band
           FROM c, w),
         kept AS (SELECT dom.domain AS domain, doc_id, keep_band FROM dom
           JOIN r USING (domain)
           WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 10000 < keep_band),
         k AS (SELECT domain, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum FROM kept GROUP BY 1)
         SELECT r.domain AS domain, CAST(r.n AS BIGINT) AS n_docs, r.q_share,
           r.keep_band, k.n_kept, k.id_sum
         FROM r JOIN k USING (domain) ORDER BY domain"""),
    // leakage-safe split: every normalized-text dup group lands whole in
    // one split (split = fnv band of the group's min id); the census
    // pins membership per split AND the cross-split leakage count the
    // operator exists to force to zero
    Gate("tp7_group_split", (s, d) => {
      val sp = graft.pipeline.TrainingData
        .splitByGroup(Tables.documents(s, d), trainPct = 80, valPct = 10)
      val leak = sp.groupBy("group_id")
        .agg(countDistinct("split").as("_ns"))
        .agg(coalesce(sum(when(col("_ns") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_leaky_groups"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("group_id").as("n_groups"),
          sum("doc_id").as("id_sum"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    },
      s"""WITH g AS (SELECT doc_id,
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm
           FROM documents),
         reps AS (SELECT norm, min(doc_id) AS grp FROM g GROUP BY 1),
         sp AS (SELECT g.doc_id, reps.grp,
           CASE WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM g JOIN reps USING (norm)),
         leak AS (SELECT CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_leaky
           FROM (SELECT grp, count(DISTINCT split) AS ns FROM sp GROUP BY 1))
         SELECT split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           (SELECT n_leaky FROM leak) AS n_leaky_groups
         FROM sp GROUP BY 1 ORDER BY split"""),
    // the MOTIVATION for splitByGroup, machine-checked: with injected
    // near-copies (d15's variant convention), id-hash splitting strands
    // copies of the same text across train/val/test while group
    // splitting never does — both leakage counts pinned exactly
    Gate("tp9_leakage_compare", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val aug = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(regexp_replace(col("text"), " ", "  ")).as("text")))
      val norm = regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
      def leakOf(df: org.apache.spark.sql.DataFrame, method: String) =
        df.withColumn("_gk", norm).groupBy("_gk")
          .agg(countDistinct("split").as("_ns"))
          .agg(count(lit(1)).as("n_groups"),
            coalesce(sum(when(col("_ns") > 1, 1L).otherwise(0L)), lit(0L))
              .as("n_leaky_groups"))
          .select(lit(method).as("method"), col("n_groups"),
            col("n_leaky_groups"))
      leakOf(graft.pipeline.TrainingData.splitByHash(aug, 80, 10), "hash")
        .unionByName(
          leakOf(graft.pipeline.TrainingData.splitByGroup(aug, 80, 10), "group"))
        .orderBy("method")
    },
      s"""WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, upper(replace(text, ' ', '  '))
           FROM documents WHERE doc_id % 10 = 0),
         k AS (SELECT doc_id,
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm
           FROM aug),
         hs AS (SELECT norm,
           CASE WHEN ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM k),
         hg AS (SELECT count(*) AS n_groups,
           CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_leaky
           FROM (SELECT norm, count(DISTINCT split) AS ns FROM hs GROUP BY 1)),
         reps AS (SELECT norm, min(doc_id) AS grp FROM k GROUP BY 1),
         gs AS (SELECT k.norm AS norm,
           CASE WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM k JOIN reps USING (norm)),
         gg AS (SELECT count(*) AS n_groups,
           CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_leaky
           FROM (SELECT norm, count(DISTINCT split) AS ns FROM gs GROUP BY 1))
         SELECT 'group' AS method, n_groups, n_leaky AS n_leaky_groups FROM gg
         UNION ALL
         SELECT 'hash' AS method, n_groups, n_leaky AS n_leaky_groups FROM hg
         ORDER BY method"""),
    // FLAGSHIP composed pipeline: CCNet LM scoring → drop each
    // language's tail tertile → temperature-rebalance what survives
    // (α=0.5, 70% target) — three stages as ONE declarative plan, kept
    // membership pinned per language; the oracle replays every stage
    Gate("tp8_llm_pipeline", (s, d) => {
      val kept = graft.text.UnigramLm.ccnetAssign(Tables.documents(s, d), 1000)
        .filter(col("bucket") =!= "tail")
      graft.pipeline.TrainingData
        .temperatureMixture(kept, "lang", targetFraction = 0.7, alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("lang")
    },
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
           quantile_cont(score, (1::DOUBLE) / 3) AS t1 FROM d GROUP BY 1),
         kept AS (SELECT d.doc_id, d.lang, d.n_tokens FROM d
           JOIN th USING (lang) WHERE score > t1),
         c AS (SELECT lang, count(*) AS n FROM kept GROUP BY 1),
         w AS (SELECT sum(pow(n, 0.5)) AS wsum, sum(n) AS tot2 FROM c),
         r AS (SELECT lang,
           CAST(least(round(round(pow(n, 0.5) / wsum, 6) * 0.7 * tot2 / n
             * 10000, 0), 10000.0) AS INT) AS band
           FROM c, w),
         mx AS (SELECT kept.lang AS lang, doc_id, n_tokens FROM kept
           JOIN r USING (lang)
           WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 10000 < band)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM mx GROUP BY 1 ORDER BY lang"""),
    // deterministic fnv-mod shard assignment: per-shard membership and
    // byte mass pinned exactly (the balance report a sharded training
    // export publishes)
    Gate("sh1_shard_profile", (s, d) =>
      graft.pipeline.TrainingData.shardProfile(Tables.documents(s, d), 8),
      s"""SELECT CAST(${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 8 AS INT)
           AS shard,
         count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY 1 ORDER BY shard"""),
    // --- sequence packing / split / quantization (training-data ops) ---
    // concat-then-chunk packing profile at 512-token sequences: the
    // global token cumsum runs through the two-pass distributed prefix
    // sum (per-partition offsets, no data-sized single-task window); the
    // oracle replays the same chunking with a plain window cumsum
    Gate("pk1_sequence_packing", (s, d) =>
      graft.pipeline.Packing.sequenceProfile(Tables.documents(s, d), 512,
        graft.text.TextAnalysis.tokenCount(col("text"))).limit(50),
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
         c AS (SELECT doc_id, n,
           CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
           FROM t)
         SELECT CAST(cb // 512 AS BIGINT) AS seq_id, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS seq_tokens,
           min(doc_id) AS id_min, max(doc_id) AS id_max,
           CAST(sum(CASE WHEN (cb + greatest(n, 1) - 1) // 512 > cb // 512
             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         FROM c GROUP BY 1 ORDER BY seq_id LIMIT 50"""),
    // RAG-style overlapping chunking (128 chars, 40 overlap): per-doc
    // chunk accounting pinned — counts, covered character mass, and the
    // clipped-tail min/max, all replayed by the oracle's range+substring
    Gate("pc1_chunk_profile", (s, d) =>
      graft.pipeline.Packing.chunkProfile(Tables.documents(s, d), 128, 40)
        .limit(100),
      """WITH t AS (SELECT doc_id, text, len(text) AS L FROM documents
           WHERE text IS NOT NULL AND len(text) > 0),
         n AS (SELECT doc_id, text,
           GREATEST(CAST(ceil((L - 40) / 88.0) AS BIGINT), 1) AS nc FROM t),
         ch AS (SELECT doc_id,
             unnest(list_transform(range(0, nc),
               i -> substring(text, CAST(i * 88 AS BIGINT) + 1, 128))) AS chunk
           FROM n)
         SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(len(chunk)) AS BIGINT) AS chunk_chars,
           CAST(min(len(chunk)) AS BIGINT) AS min_chunk,
           CAST(max(len(chunk)) AS BIGINT) AS max_chunk
         FROM ch GROUP BY 1 ORDER BY doc_id LIMIT 100"""),
    // hash-banded train/val/test split: membership is a pure function of
    // doc_id, so the oracle re-derives the identical split and the gate
    // pins per-split membership via id aggregates
    Gate("sp1_hash_split", (s, d) =>
      graft.pipeline.TrainingData.splitByHash(Tables.documents(s, d))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("split"),
      s"""WITH b AS (SELECT doc_id,
           ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 AS band
           FROM documents),
         s AS (SELECT doc_id, CASE WHEN band < 90 THEN 'train'
           WHEN band < 95 THEN 'val' ELSE 'test' END AS split FROM b)
         SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM s GROUP BY 1 ORDER BY split"""),
    // Neyman budget split across sources by N_h·sigma_h over n_chars
    Gate("tp13_neyman_allocation", (s, d) =>
      graft.pipeline.TrainingData.neymanAllocation(
        Tables.documents(s, d), "source", "n_chars", sampleN = 1000),
      // budget ∝ N_h·sigma_h; share rounded BEFORE the floor; flooring
      // shortfall redistributed largest-remainder so Σalloc = budget
      """WITH g AS (SELECT source, count(*) AS n_rows,
             stddev_pop(n_chars) AS sd FROM documents GROUP BY 1),
         t AS (SELECT sum(n_rows * sd) AS tw FROM g),
         s AS (SELECT source, n_rows, sd,
             round(n_rows * sd / t.tw, 6) AS share FROM g, t),
         f AS (SELECT *, 1000.0 * share AS raw,
             CAST(floor(1000.0 * share) AS BIGINT) AS fl FROM s),
         r AS (SELECT *,
             row_number() OVER (ORDER BY raw - fl DESC, source) AS rn,
             1000 - sum(fl) OVER () AS short FROM f)
         SELECT source, n_rows, round(sd, 4) AS sigma, share,
           CAST(fl + CASE WHEN rn <= short THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_n
         FROM r ORDER BY source"""),
    // leave-one-source-out ablation of mean document length — the
    // whole sweep from ONE grouped aggregation, never |groups| passes
    Gate("tp14_loo_source_influence", (s, d) =>
      graft.pipeline.TrainingData.looGroupInfluence(
        Tables.documents(s, d), "source", "n_chars"),
      // closed-form leave-one-group-out means from one grouped aggregate
      """WITH g AS (SELECT source, count(*) AS n_rows, sum(n_chars) AS s
           FROM documents GROUP BY 1),
         t AS (SELECT sum(n_rows) AS nt, sum(s) AS st FROM g)
         SELECT source, n_rows,
           round(CAST(st - s AS DOUBLE) / (nt - n_rows), 4) AS mean_without,
           round(CAST(st - s AS DOUBLE) / (nt - n_rows)
             - CAST(st AS DOUBLE) / nt, 4) AS influence
         FROM g, t ORDER BY source""")
  )
}
