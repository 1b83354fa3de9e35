package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.dedup.{Dedup, DupGroups}

import Shared.{fnvSql, plantClones, toks}

/** Deduplication gates (`d`): exact, minhash, simhash, substring and
  * semantic dedup, duplicate groups and decontamination; plus entity
  * resolution (`er`). The minhash oracles here are also the reference
  * for the streaming and band-index screens in [[StreamingIoGates]]. */
object DedupGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // merge/purge entity resolution: sorted-neighborhood adjacency →
    // JW-chained clusters as gaps-and-islands (no recursion) → golden
    // record election; per-brand census pinned
    Gate("er1_golden_record", (s, d) =>
      graft.dedup.GoldenRecord.censusByBlock(Tables.part(s, d),
        "p_brand", "p_name", "p_partkey"),
      """WITH s AS (SELECT p_brand, p_name, p_partkey,
           lag(p_name) OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey) AS prev
           FROM part),
         f AS (SELECT p_brand, p_partkey,
           CASE WHEN prev IS NULL
             OR round(jaro_winkler_similarity(prev, p_name), 6) < 0.95
           THEN 1 ELSE 0 END AS newf,
           row_number() OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey) AS rn
           FROM s),
         i AS (SELECT p_brand, p_partkey,
           sum(newf) OVER (PARTITION BY p_brand ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
           FROM f),
         c AS (SELECT p_brand, cl, count(*) AS sz, min(p_partkey) AS canon
           FROM i GROUP BY 1, 2)
         SELECT p_brand, count(*) AS n_clusters,
           CAST(sum(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT)
             AS n_merged_rows,
           CAST(sum(sz - 1) AS BIGINT) AS n_retired,
           CAST(sum(CASE WHEN sz >= 2 THEN canon ELSE 0 END) AS BIGINT)
             AS canon_id_sum
         FROM c GROUP BY 1 ORDER BY p_brand"""),
    // --- dedup (training-data ops) ---
    Gate("d1_dup_stats", (s, d) => Dedup.dupStatsByLang(Tables.documents(s, d)),
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
         round(1.0 - count(DISTINCT text)::DOUBLE / count(*), 6) AS dup_ratio
         FROM documents GROUP BY 1 ORDER BY lang"""),
    Gate("d2_exact_dedup", (s, d) => Dedup.exactDedup(Tables.documents(s, d)),
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
         GROUP BY text ORDER BY doc_id"""),
    // normalization-insensitive dedup, keep-longest election: every 10th
    // doc gets an UPPERCASED double-spaced twin injected — the twin is
    // strictly longer, so the election must keep IT (and the grouped
    // id/length sums prove which copy won each group)
    Gate("d15_norm_dedup", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(regexp_replace(col("text"), " ", "  ")).as("text"))
      Dedup.dedupNormalizedKeepLongest(docs.unionByName(variants))
        .groupBy("n_variants")
        .agg(count(lit(1)).as("n_groups"), sum("doc_id").as("id_sum"),
          sum("text_len").as("len_sum"))
        .orderBy("n_variants")
    },
      """WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, upper(replace(text, ' ', '  '))
           FROM documents WHERE doc_id % 10 = 0),
         k AS (SELECT doc_id, text,
           regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm FROM aug),
         r AS (SELECT doc_id, len(text) AS text_len,
           row_number() OVER (PARTITION BY norm
             ORDER BY len(text) DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY norm) AS n_variants FROM k)
         SELECT n_variants, count(*) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(text_len) AS BIGINT) AS len_sum
         FROM r WHERE rk = 1 GROUP BY 1 ORDER BY n_variants"""),
    // reproducible mode: FNV-based signatures + raw band-slice keys, so
    // the oracle rebuilds the ENTIRE pipeline (shingle hash → permuted
    // minhash → banding → star guard → agreement score) bit-for-bit
    Gate("d3_minhash_pairs", (s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), reproducible = true)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(desc("est_jaccard"), asc("doc_a"), asc("doc_b")).limit(1000),
      // full independent reimplementation of the reproducible minhash-LSH
      // pipeline: FNV shingle hashes -> (a·h+b) mod p signatures (frozen
      // constants inlined) -> 16-band banding on raw slices -> oversize-
      // bucket star guard -> pair dedup -> agreement scoring
      s"""$minhashFnvPipeline
         SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 1000"""),
    // ingest-time cross-corpus screen: every-3rd doc plays the incoming
    // batch, the rest the accumulated corpus; corpus-side bucket guard
    Gate("d29_cross_corpus_neardups", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDups(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    },
      crossCorpusSql),
    // near-dup pairs cross-validated by a SECOND similarity family:
    // character-level edit distance over 120-char prefixes. BOTH
    // dimensions are bounded BEFORE the O(len²) DP runs: 120-char
    // prefixes cap the per-pair cost, and a deterministic id-ordered
    // top-1000 caps the pair count (TakeOrderedAndProject on 16-byte
    // rows) — at 10× corpus the near-dup pair set is 250k pairs and an
    // uncapped audit measured 38 s doing nothing but Levenshtein.
    // Pinned exactly — both engines implement unit-cost Levenshtein
    Gate("d13_neardup_editdist", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, reproducible = true)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b").limit(1000)
      val prefix = docs.select(col("doc_id"),
        substring(col("text"), 1, 120).as("pfx"))
      pairs
        .join(prefix.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), "doc_a")
        .join(prefix.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("lev"))
        .orderBy("doc_a", "doc_b")
    },
      s"""$minhashFnvPipeline,
         p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5
               ORDER BY doc_a, doc_b LIMIT 1000)
         SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
           CAST(levenshtein(substring(da.text, 1, 120),
                            substring(db.text, 1, 120)) AS BIGINT) AS lev
         FROM p
         JOIN documents da ON p.doc_a = da.doc_id
         JOIN documents db ON p.doc_b = db.doc_id
         ORDER BY doc_a, doc_b"""),
    // SemDeDup over the planted-clone corpus: the within-cluster pair
    // scan must remove EXACTLY the 25 planted clones (kept twin = the
    // original, cosine ≈ 1; organic max ≈ 0.51 stays), pinned to an
    // exact ALL-pairs oracle — so a clone split from its original by
    // the cluster assignment, a threshold slip, or a wrong keeper
    // election all fail loudly; margin_ok rejects drifted fixtures
    Gate("d14_semantic_dedup", (s, d) =>
      graft.similarity.SemDedup.removals(
          plantClones(Tables.embeddings(s, d), 25), tau = 0.95)
        .select(col("removed_id"), col("kept_id"),
          round(col("sim"), 6).as("sim"),
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("removed_id"),
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25),
         pairs AS (
           SELECT a.vec_id AS kept_id, b.vec_id AS removed_id,
             list_cosine_similarity(a.emb, b.emb) AS sim
           FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
         SELECT removed_id, min(kept_id) AS kept_id,
           round(max(sim), 6) AS sim, max(sim) >= 0.9999 AS margin_ok
         FROM pairs WHERE sim >= 0.95
         GROUP BY removed_id ORDER BY removed_id"""),
    // the 2-nearest-centroid boundary pass over the same planted-clone
    // corpus: pinned to the IDENTICAL exact all-pairs oracle as d14 —
    // multi-probe may only ADD recall, and on this fixture (every true
    // pair already recovered) must reproduce the exact result precisely
    Gate("d28_semdedup_multiprobe", (s, d) =>
      graft.similarity.SemDedup.removalsMultiProbe(
          plantClones(Tables.embeddings(s, d), 25), tau = 0.95, nprobe = 2)
        .select(col("removed_id"), col("kept_id"),
          round(col("sim"), 6).as("sim"),
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("removed_id"),
      // identical exact all-pairs oracle: the boundary pass can only add
      // recall, and every true pair is already in the single-probe result
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25),
         pairs AS (
           SELECT a.vec_id AS kept_id, b.vec_id AS removed_id,
             list_cosine_similarity(a.emb, b.emb) AS sim
           FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
         SELECT removed_id, min(kept_id) AS kept_id,
           round(max(sim), 6) AS sim, max(sim) >= 0.9999 AS margin_ok
         FROM pairs WHERE sim >= 0.95
         GROUP BY removed_id ORDER BY removed_id"""),
    Gate("d4_simhash_pairs", (s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), maxHamming = 8,
        reproducible = true).limit(1000),
      // independent reimplementation of the reproducible simhash pipeline:
      // packed dual-FNV 63-bit token hashes -> per-bit vote -> 16-bit
      // chunk banding -> star guard -> popcount verify
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($toks)) AS t FROM documents),
         th AS (SELECT DISTINCT doc_id,
             ${fnvSql("t", 2166136261L)} |
             ((${fnvSql("t", 3561277584L)} & 2147483647) << 32) AS h
           FROM tok),
         bits AS (SELECT doc_id, j,
             sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th, range(0, 63) r(j) GROUP BY 1, 2),
         shv AS (SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
               AS simhash
           FROM bits GROUP BY 1),
         banded AS (SELECT doc_id, simhash, b AS band,
             (simhash >> (b*16)) & 65535 AS chunk
           FROM shv, range(0, 4) r(b)),
         bsz AS (SELECT band, chunk, count(*) AS n, min(doc_id) AS rep
           FROM banded GROUP BY 1, 2),
         wsz AS (SELECT banded.doc_id, banded.simhash, banded.band, banded.chunk,
             bsz.n, bsz.rep
           FROM banded JOIN bsz USING (band, chunk)),
         cand_small AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
           FROM (SELECT * FROM wsz WHERE n <= 64) a
           JOIN (SELECT * FROM wsz WHERE n <= 64) b USING (band, chunk)
           WHERE a.doc_id < b.doc_id),
         cand_star AS (SELECT w.rep AS doc_a, w.doc_id AS doc_b,
             h.simhash AS sa, w.simhash AS sb
           FROM wsz w JOIN shv h ON h.doc_id = w.rep
           WHERE w.n > 64 AND w.doc_id != w.rep),
         cands AS (SELECT DISTINCT doc_a, doc_b, sa, sb FROM
           (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star))
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         FROM cands WHERE bit_count(xor(sa, sb)) <= 8
         ORDER BY doc_a, doc_b LIMIT 1000"""),
    // xxhash64-signature scale path, pinned via invariants: its pair set
    // must cover every pair the reproducible FNV pipeline finds (the
    // oracle re-derives that count independently), and every pair it
    // emits must be a TRUE near-dup by exact shingle Jaccard (≥0.5 —
    // measured 0.9 on the fixture; MinHash est≥0.5 over 64 hashes puts
    // a J<0.2 false positive at Chernoff-negligible odds, so the bound
    // holds with wide margin under any hash family)
    Gate("d9_minhash_xxh", (s, d) => {
      val docs = Tables.documents(s, d)
      // both pair frames feed two consumers (count/anti-join/verify) —
      // persist the tiny pair sets so each LSH pipeline runs ONCE, not
      // per consumer (measured 6.1 s → ~3.5 s at sf0.1 without this)
      val xxh = Dedup.minhashNearDups(docs).filter(col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b").persist()
      val fnv = Dedup.minhashNearDups(docs, reproducible = true)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b").persist()
      // consumed by BOTH sides of the trueJ join — persist so the scan +
      // shingle pass runs once, not twice
      val sh = docs.select(col("doc_id"),
        graft.functions.HashExpressions.shingleHashes(col("text"), 3).as("sh"))
        .withColumn("n", size(col("sh"))).persist()
      val inter = graft.functions.HashExpressions
        .intersectCountSorted(col("sh_a"), col("sh_b"))
      val trueJ = xxh
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("n").as("n_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("n").as("n_b")), "doc_b")
        .select((inter.cast("double") / (col("n_a") + col("n_b") - inter))
          .as("true_j"))
      // eager localCheckpoint materializes the single invariant row NOW,
      // so both cached pair frames can be released immediately instead of
      // occupying the block manager for the life of the session
      val out = fnv.agg(count(lit(1)).as("n_fnv_pairs"))
        .crossJoin(fnv.join(xxh, Seq("doc_a", "doc_b"), "left_anti")
          .agg((count(lit(1)) === 0).as("xxh_covers_all_fnv_pairs")))
        .crossJoin(trueJ.agg(
          coalesce(min("true_j") >= 0.5, lit(true))
            .as("xxh_pairs_are_true_neardups")))
        .localCheckpoint(eager = true)
      xxh.unpersist()
      fnv.unpersist()
      sh.unpersist()
      out
    },
      // invariant gate over the xxhash64 scale path: the FNV pair count is
      // re-derived by the full independent pipeline above; the booleans are
      // demanded true — engine-side they are computed from the actual
      // xxhash64 pair set (superset coverage + exact-Jaccard verification),
      // so a hash-family regression or banding bug fails the gate loudly
      s"""$minhashFnvPipeline
         SELECT count(*) AS n_fnv_pairs,
           true AS xxh_covers_all_fnv_pairs,
           true AS xxh_pairs_are_true_neardups
         FROM est WHERE est_jaccard >= 0.5"""),
    Gate("d5_ngram_jaccard_topk", (s, d) => Dedup.topJaccardPairs(Tables.documents(s, d)),
      s"""WITH sh AS (SELECT doc_id, source,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents)
         SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""),
    // sorted-neighborhood blocking (merge/purge): per-lang sort on the
    // n_chars proxy, compare each doc with its next 3 neighbors only —
    // rows·window candidate work; every surviving pair pinned
    Gate("d16_sorted_neighborhood", (s, d) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d)),
      s"""WITH sh AS (SELECT doc_id, lang, n_chars,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         r AS (SELECT doc_id, lang, s,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
           FROM sh),
         p AS (SELECT a.lang,
           least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
           FROM r a JOIN r b
             ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 3)
         SELECT lang, doc_a, doc_b, jaccard FROM p
         WHERE jaccard >= 0.2 ORDER BY lang, doc_a, doc_b"""),
    // native codegen'd Jaro-Winkler (same constants as the oracle's
    // builtin): sorted-neighborhood adjacent part names scored, near-
    // match counts + mean similarity pinned per brand
    Gate("d18_jaro_winkler", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_brand").orderBy("p_name", "p_partkey")
      Tables.part(s, d)
        .select(col("p_brand"), col("p_name"), col("p_partkey"))
        .withColumn("nxt", lead("p_name", 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("jw", graft.functions.StringSimilarity
          .jaroWinkler(col("p_name"), col("nxt")))
        .filter(col("jw") >= 0.95)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_near"), round(avg("jw"), 6).as("avg_jw"))
        .orderBy("p_brand")
    },
      """WITH r AS (SELECT p_brand, p_name, lead(p_name) OVER (
             PARTITION BY p_brand ORDER BY p_name, p_partkey) AS nxt
           FROM part),
         j AS (SELECT p_brand, jaro_winkler_similarity(p_name, nxt) AS jw
           FROM r WHERE nxt IS NOT NULL)
         SELECT p_brand, count(*) AS n_near, round(avg(jw), 6) AS avg_jw
         FROM j WHERE jw >= 0.95 GROUP BY 1 ORDER BY p_brand"""),
    // corpus-WIDE (no blocking key) exact-Jaccard ≥ τ join via prefix
    // filtering: only each doc's hash-order prefix enters the candidate
    // self-join; the oracle regenerates the complete candidate set from
    // a shingle-postings join, so every qualifying pair is pinned
    Gate("d17_prefix_filter_join", (s, d) =>
      Dedup.prefixFilterPairs(Tables.documents(s, d)),
      s"""WITH sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len($toks) >= 5
             THEN list_transform(range(0, len($toks) - 4),
                    i -> array_to_string(($toks)[i+1:i+5], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         post AS (SELECT doc_id, unnest(s) AS g FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM post a JOIN post b
             ON a.g = b.g AND a.doc_id < b.doc_id),
         scored AS (SELECT doc_a, doc_b,
           round(len(list_intersect(x.s, y.s))::DOUBLE /
             len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
           FROM cand JOIN sh x ON x.doc_id = doc_a
             JOIN sh y ON y.doc_id = doc_b)
         SELECT doc_a, doc_b, jaccard FROM scored
         WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b"""),
    // exact substring-level dedup (Lee et al. 2021 ExactSubstr at
    // shingle granularity): the maximal-span cut list of every token
    // region whose 8-shingles all repeat somewhere in the corpus
    Gate("d19_exact_substr", (s, d) =>
      graft.dedup.ExactSubstr.duplicatedSpans(Tables.documents(s, d), k = 8),
      s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
         p0 AS (SELECT doc_id, CASE WHEN len(t) >= 8 THEN
             list_transform(range(1, len(t) - 6),
               i -> struct_pack(pos := i, sh := array_to_string(t[i:i+7], ' ')))
           ELSE [] END AS ps FROM w),
         p1 AS (SELECT doc_id, unnest(ps) AS s FROM p0),
         p AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.sh AS sh FROM p1),
         d AS (SELECT sh FROM p GROUP BY sh HAVING count(*) >= 2),
         q AS (SELECT doc_id, pos FROM p WHERE sh IN (SELECT sh FROM d)),
         i AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk FROM q),
         j AS (SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS span_len
         FROM j GROUP BY doc_id, island ORDER BY doc_id, span_start"""),
    // the destructive half of the same pass: the cut list APPLIED —
    // surviving token counts and rebuilt text pinned per affected doc
    Gate("d20_strip_spans", (s, d) =>
      graft.dedup.ExactSubstr.stripSpans(Tables.documents(s, d), k = 8),
      s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
         p0 AS (SELECT doc_id, CASE WHEN len(t) >= 8 THEN
             list_transform(range(1, len(t) - 6),
               i -> struct_pack(pos := i, sh := array_to_string(t[i:i+7], ' ')))
           ELSE [] END AS ps FROM w),
         p1 AS (SELECT doc_id, unnest(ps) AS s FROM p0),
         p AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.sh AS sh FROM p1),
         d AS (SELECT sh FROM p GROUP BY sh HAVING count(*) >= 2),
         q AS (SELECT doc_id, pos FROM p WHERE sh IN (SELECT sh FROM d)),
         i AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk FROM q),
         j AS (SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM j GROUP BY doc_id, island),
         cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
         tk0 AS (SELECT doc_id, CASE WHEN len(t) >= 1 THEN
             list_transform(range(1, len(t) + 1),
               i -> struct_pack(pos := i, tok := t[i]))
           ELSE [] END AS ps FROM w),
         tk1 AS (SELECT doc_id, unnest(ps) AS s FROM tk0),
         tk AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.tok AS tok FROM tk1),
         kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
           ANTI JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos),
         ka AS (SELECT doc_id, count(*) AS n_after,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id),
         bf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_before FROM w)
         SELECT sd.doc_id, bf.n_before,
           CAST(coalesce(ka.n_after, 0) AS BIGINT) AS n_after,
           coalesce(ka.clean_text, '') AS clean_text
         FROM (SELECT DISTINCT doc_id FROM sp) sd
         JOIN bf USING (doc_id) LEFT JOIN ka USING (doc_id)
         ORDER BY doc_id"""),
    // CCNet-style boilerplate-line removal over the line-structured
    // fixture (t16's '.\n' device): every line repeating in ≥3 docs is
    // dropped corpus-wide and each doc's full reassembled text is
    // pinned — order preserved, all-boiler docs survive empty
    Gate("d27_boilerplate_lines", (s, d) => {
      val lined = Tables.documents(s, d).withColumn("text",
        regexp_replace(col("text"), lit(" a "), lit(".\n")))
      Dedup.removeBoilerplateLines(lined, minDocs = 3).orderBy("doc_id")
    },
      """WITH lined AS MATERIALIZED (SELECT doc_id,
           replace(text, ' a ', '.' || chr(10)) AS text FROM documents),
         lx AS MATERIALIZED (SELECT doc_id,
           string_split(text, chr(10)) AS lines FROM lined),
         ln AS MATERIALIZED (SELECT doc_id,
           generate_subscripts(lines, 1) AS line_no, unnest(lines) AS line
           FROM lx),
         nrm AS MATERIALIZED (SELECT doc_id, line_no, line,
           lower(trim(line)) AS norm FROM ln),
         boiler AS MATERIALIZED (SELECT norm FROM
           (SELECT norm, count(DISTINCT doc_id) AS nd FROM nrm
            WHERE len(norm) > 0 GROUP BY 1) WHERE nd >= 3),
         kept AS (SELECT n.doc_id, n.line_no, n.line
           FROM nrm n ANTI JOIN boiler b ON n.norm = b.norm),
         agg AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY line_no) AS text
           FROM kept GROUP BY 1),
         base AS (SELECT doc_id, len(lines) AS n_lines FROM lx)
         SELECT b.doc_id, coalesce(a.text, '') AS text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id"""),
    // the documented 100 TB path (HLL, no distinct shuffle) machine-checked
    // against the exact twin: per source, the sketch estimate must land
    // within 3·rsd of the oracle-computed exact distinct count
    Gate("d10_segment_dup_approx", (s, d) => {
      val docs = Tables.documents(s, d)
      val exact = Dedup.segmentDupStats(docs)
        .select(col("source"), col("n_segments"), col("n_unique"))
      val approx = Dedup.segmentDupStatsApprox(docs, rsd = 0.01)
        .select(col("source"), col("n_unique").as("n_unique_approx"))
      exact.join(approx, "source")
        .select(col("source"), col("n_segments"), col("n_unique"),
          (abs(col("n_unique_approx") - col("n_unique"))
            <= col("n_unique") * 0.03).as("approx_within_3rsd"))
        .orderBy("source")
    },
      // exact side re-derived independently; the sketch-error boolean is
      // demanded true (engine computes |approx-exact| <= 3·rsd·exact)
      s"""WITH segs AS (SELECT source,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents)
         SELECT source, count(*) AS n_segments, count(DISTINCT segment) AS n_unique,
           true AS approx_within_3rsd
         FROM segs GROUP BY 1 ORDER BY source"""),
    Gate("d6_strip_dup_segments", (s, d) => Dedup.stripDuplicateSegments(Tables.documents(s, d)),
      s"""WITH segs AS (SELECT doc_id,
           unnest(range(0, CAST(ceil(len($toks) / 10.0) AS INT))) AS seg_idx,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents),
         firsts AS (SELECT doc_id, seg_idx, segment FROM segs
           QUALIFY row_number() OVER (PARTITION BY segment ORDER BY doc_id, seg_idx) = 1)
         SELECT doc_id, string_agg(segment, ' ' ORDER BY seg_idx) AS text
         FROM firsts GROUP BY 1 ORDER BY doc_id"""),
    Gate("d7_segment_dup_stats", (s, d) => Dedup.segmentDupStats(Tables.documents(s, d)),
      s"""WITH segs AS (SELECT source,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents)
         SELECT source, count(*) AS n_segments, count(DISTINCT segment) AS n_unique,
           round(1.0 - count(DISTINCT segment)::DOUBLE / count(*), 6) AS dup_ratio
         FROM segs GROUP BY 1 ORDER BY source"""),
    Gate("d8_dup_components", (s, d) => DupGroups.dupComponentSizes(Tables.documents(s, d)),
      dupComponentsSql),
    // identical component structure via large-star/small-star
    // contraction (O(log² n) rounds regardless of diameter — the scale
    // path when clusters chain instead of cliquing); pinned against the
    // SAME recursive-CTE oracle as d8
    Gate("d21_components_star", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.StarComponents.connectedComponents(
          DupGroups.dupEdges(docs), docs.select(col("doc_id").as("id")))
        .groupBy(col("comp").as("component"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("component")
    },
      // the star-contraction twin must land on the IDENTICAL component
      // census — same oracle, different distributed algorithm
      dupComponentsSql),
    // cross-source duplication matrix: every 10th doc is mirrored into
    // the NEXT source (case-mangled so only normalization matches);
    // the (source_a, source_b, shared-text) census is pinned exactly
    Gate("d23_cross_source_dups", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val variants = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text"),
          concat(lit("src"), ((srcNum + 1) % 20).cast("string")).as("source"))
      Dedup.crossSourceDups(docs.unionByName(variants))
    },
      s"""WITH aug AS (SELECT text, source FROM documents
           UNION ALL
           SELECT upper(text), 'src' || CAST(
             (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) + 1) % 20
             AS VARCHAR)
           FROM documents WHERE doc_id % 10 = 0),
         ds AS (SELECT DISTINCT
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm,
           source FROM aug)
         SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
         FROM ds a JOIN ds b ON a.norm = b.norm AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // per-source shingle novelty: what fraction of each source's
    // distinct 8-gram shingles no other source has; full table pinned
    Gate("d26_source_novelty", (s, d) =>
      graft.dedup.Dedup.sourceNovelty(Tables.documents(s, d), k = 8),
      s"""WITH tk AS (SELECT source, $toks AS t FROM documents),
         sh AS (SELECT source, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ss AS (SELECT DISTINCT source, unnest(s) AS g FROM sh),
         c AS (SELECT g, count(*) AS n_sources FROM ss GROUP BY 1)
         SELECT source, count(*) AS n_shingles,
           CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           round(CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS novelty
         FROM ss JOIN c USING (g) GROUP BY 1 ORDER BY 1"""),
    // language-label conflict census: every 7th doc is re-labeled with
    // a reversed lang code (disjoint from the real label set), so the
    // fixture plants texts that appear under 2 languages; the
    // (n_langs, n_texts, n_docs) census is pinned exactly
    Gate("d24_lang_conflicts", (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
          reverse(col("lang")).as("lang"))
      Dedup.langConflictCensus(docs.unionByName(variants))
    },
      """WITH aug AS (SELECT text, lang FROM documents
           UNION ALL
           SELECT text, reverse(lang) FROM documents WHERE doc_id % 7 = 0),
         g AS (SELECT
             regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm,
             count(DISTINCT lang) AS n_langs, count(*) AS n_docs
           FROM aug GROUP BY 1)
         SELECT n_langs, count(*) AS n_texts,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
         FROM g GROUP BY 1 ORDER BY 1"""),
    // incremental snapshot-vs-batch dedup: incoming (every 3rd doc)
    // deduped against the rest of the corpus AND within itself on the
    // normalized-text digest; accepted membership pinned per language
    Gate("d22_incremental_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_accepted"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("lang")
    },
      """WITH n AS (SELECT doc_id, lang,
           regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm
           FROM documents),
         inc AS (SELECT * FROM n WHERE doc_id % 3 = 0),
         ex AS (SELECT DISTINCT norm FROM n WHERE doc_id % 3 != 0),
         fresh AS (SELECT inc.* FROM inc
           WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.norm = inc.norm)),
         firsts AS (SELECT norm, min(doc_id) AS doc_id FROM fresh GROUP BY 1),
         acc AS (SELECT fresh.* FROM fresh JOIN firsts USING (norm, doc_id))
         SELECT lang, count(*) AS n_accepted, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM acc GROUP BY 1 ORDER BY lang"""),
    // test-set decontamination: eval = every 97th doc; any training doc
    // sharing an 8-token shingle with it is dropped (broadcast semi/anti
    // joins — the eval shingle set is the only broadcast state)
    Gate("d11_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Decontaminate.report(docs,
        docs.filter(col("doc_id") % 97 === 0), k = 8)
    },
      decontReportSql),
    // contamination ATTRIBUTION: the same every-97th eval slice split
    // into two benchmarks (even/odd multiples of 97); which training
    // source leaked which benchmark, and how many shingles, is pinned
    Gate("d25_contamination_matrix", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("eval_set",
          when(col("doc_id") % 194 === 0, "benchA").otherwise("benchB"))
      graft.dedup.Decontaminate.contaminationMatrix(docs, evalDocs, k = 8)
    },
      s"""WITH tk AS (SELECT doc_id, source, $toks AS t FROM documents),
         sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ev AS (SELECT DISTINCT CASE WHEN doc_id % 194 = 0
             THEN 'benchA' ELSE 'benchB' END AS eval_set,
             unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         tr AS (SELECT doc_id, source, unnest(s) AS g FROM sh),
         m AS (SELECT source, eval_set, doc_id, g FROM tr JOIN ev USING (g))
         SELECT source, eval_set, count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT g) AS n_shingles
         FROM m GROUP BY 1, 2 ORDER BY 1, 2"""),
    // Bloom-filter scale variant machine-checked against the exact path:
    // the oracle re-derives the exact contaminated-id count; the engine
    // proves the bloom id set covers it (false negatives impossible) and
    // that fp over-removal stays under 1% of the corpus (fpp=1e-6 →
    // expected ≈0)
    Gate("d12_decontaminate_bloom", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val exact = graft.dedup.Decontaminate.contaminatedIds(docs, evalSet, 8).persist()
      val bloom = graft.dedup.Decontaminate.contaminatedIdsBloom(docs, evalSet, 8).persist()
      val nDocs = docs.count()
      val out = exact.agg(count(lit(1)).as("n_exact_contaminated"))
        .crossJoin(exact.join(bloom, Seq("doc_id"), "left_anti")
          .agg((count(lit(1)) === 0).as("bloom_covers_exact")))
        .crossJoin(bloom.join(exact, Seq("doc_id"), "left_anti")
          .agg((count(lit(1)) <= nDocs / 100).as("overremoval_le_1pct")))
        .localCheckpoint(eager = true)
      exact.unpersist()
      bloom.unpersist()
      out
    },
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         bad AS (SELECT DISTINCT doc_id FROM
           (SELECT doc_id, unnest(s) AS g FROM sh) d JOIN ev USING (g))
         SELECT count(*) AS n_exact_contaminated,
           true AS bloom_covers_exact, true AS overremoval_le_1pct
         FROM bad"""),
    // Fellegi–Sunter probabilistic linkage: nation-blocked customer
    // pairs, three agreement fields (segment / balance band / name
    // tail), u-rates estimated from the candidate-pair population in
    // one aggregate, log2 match weights reported per agreement pattern
    Gate("er2_fs_weights", (s, d) => {
      import graft.dedup.Linkage
      val recs = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"),
        substring(col("c_name"), -1, 1).as("name_tail"))
      Linkage.matchWeights(recs, "c_custkey", "c_nationkey", Seq(
        Linkage.CompareField("seg",
          col("l_c_mktsegment") === col("r_c_mktsegment"), 0.95),
        Linkage.CompareField("band",
          col("l_bal_band") === col("r_bal_band"), 0.80),
        Linkage.CompareField("tail",
          col("l_name_tail") === col("r_name_tail"), 0.90)))
    },
      """WITH r AS (SELECT c_custkey AS id, c_nationkey AS blk,
           c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
           right(c_name, 1) AS tail FROM customer),
         p AS (SELECT CAST(l.seg = r2.seg AS INT) AS g_seg,
             CAST(l.band = r2.band AS INT) AS g_band,
             CAST(l.tail = r2.tail AS INT) AS g_tail
           FROM r l JOIN r r2 ON l.blk = r2.blk AND l.id < r2.id),
         u AS (SELECT avg(g_seg) AS u_seg, avg(g_band) AS u_band,
             avg(g_tail) AS u_tail FROM p),
         pat AS (SELECT g_seg, g_band, g_tail, count(*) AS n_pairs
           FROM p GROUP BY 1, 2, 3)
         SELECT g_seg, g_band, g_tail, n_pairs,
           round((CASE WHEN g_seg = 1 THEN ln(0.95::DOUBLE / u_seg) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.95::DOUBLE) / (1 - u_seg)) / ln(2.0::DOUBLE) END)
             + (CASE WHEN g_band = 1 THEN ln(0.8::DOUBLE / u_band) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.8::DOUBLE) / (1 - u_band)) / ln(2.0::DOUBLE) END)
             + (CASE WHEN g_tail = 1 THEN ln(0.9::DOUBLE / u_tail) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.9::DOUBLE) / (1 - u_tail)) / ln(2.0::DOUBLE) END),
             4) AS weight
         FROM pat CROSS JOIN u
         ORDER BY weight DESC, g_seg, g_band, g_tail"""),
    // entity-resolution blocking quality (reduction ratio + pairs
    // completeness): every count is a closed form over group sizes —
    // zero pairs materialized at any corpus size
    Gate("er4_blocking_quality", (s, d) =>
      graft.dedup.Linkage.blockingQuality(
        Tables.customer(s, d)
          .withColumn("entity", pmod(col("c_custkey"), lit(60L))),
        "c_nationkey", "entity"),
      """WITH n AS (SELECT count(*) AS nr,
           count(*) * (count(*) - 1) // 2 AS ap FROM customer),
         cand AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS cd
           FROM (SELECT count(*) AS c FROM customer GROUP BY c_nationkey)),
         tr AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS tp
           FROM (SELECT count(*) AS c FROM customer
             GROUP BY c_custkey % 60)),
         cap AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS cp
           FROM (SELECT count(*) AS c FROM customer
             GROUP BY c_custkey % 60, c_nationkey))
         SELECT nr AS n_records, CAST(ap AS BIGINT) AS n_all_pairs,
           CAST(cd AS BIGINT) AS n_candidates,
           CAST(tp AS BIGINT) AS n_true_pairs,
           CAST(cp AS BIGINT) AS n_captured,
           CASE WHEN ap > 0
             THEN round(1.0 - cd / CAST(ap AS DOUBLE), 6) END
             AS reduction_ratio,
           CASE WHEN tp > 0
             THEN round(cp / CAST(tp AS DOUBLE), 6) END
             AS pairs_completeness
         FROM n CROSS JOIN cand CROSS JOIN tr CROSS JOIN cap"""),
    // unsupervised EM fit of the Fellegi-Sunter mixture over the same
    // blocked census as er2 (Winkler 1988): corpus work is ONE pattern
    // aggregation; the 8-row EM fold is driver-side by construction,
    // in fixed pattern-lexicographic order
    Gate("er3_fs_em", (s, d) => {
      val recs = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"),
        substring(col("c_name"), -1, 1).as("name_tail"))
      graft.dedup.Linkage.emFit(recs, "c_custkey", "c_nationkey", Seq(
        ("seg", col("l_c_mktsegment") === col("r_c_mktsegment")),
        ("band", col("l_bal_band") === col("r_bal_band")),
        ("tail", col("l_name_tail") === col("r_name_tail"))), iters = 3)
    },
      s"""WITH r AS (SELECT c_custkey AS id, c_nationkey AS blk,
           c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
           right(c_name, 1) AS tail FROM customer),
         p AS (SELECT CAST(l.seg = r2.seg AS INT) AS g_seg,
             CAST(l.band = r2.band AS INT) AS g_band,
             CAST(l.tail = r2.tail AS INT) AS g_tail
           FROM r l JOIN r r2 ON l.blk = r2.blk AND l.id < r2.id),
         c AS (SELECT g_seg, g_band, g_tail, count(*) AS n
           FROM p GROUP BY 1, 2, 3),
         tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c),
         ${fsEmSql(Seq("seg", "band", "tail"), iters = 3)}""")
  )

  /** Shared by `d8_dup_components` (min-label propagation) and
    * `d21_components_star` (large-star/small-star contraction): both
    * algorithms must land on the identical component census, so they
    * pin against the identical recursive-CTE oracle. */
  private lazy val dupComponentsSql =
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
         FROM documents d JOIN reps r ON d.text = r.text WHERE d.doc_id != r.rep),
       e AS (SELECT a, b FROM exact UNION ALL SELECT a, b FROM near
             UNION ALL SELECT b, a FROM exact UNION ALL SELECT b, a FROM near),
       reach(src, node) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.node),
       lab AS (SELECT node, min(src) AS component FROM reach GROUP BY node)
       SELECT component, count(*) AS n_docs FROM lab GROUP BY 1 ORDER BY component"""

  /** FROZEN minhash permutation constants `(j, a, b)` — the d3/d9 oracles
    * pin these literals rather than calling
    * `HashExpressions.perm(j)` at oracle-build time, so a bug in the
    * engine's `perm` derivation can no longer mirror itself into the
    * oracle invisibly. `HashExpressionsSpec` asserts `perm(j)` still
    * produces exactly this table; if the engine constants ever drift,
    * that spec (and the d3 gate) fail loudly instead of silently
    * re-pinning. */
  private[graft] val frozenPerms: Seq[(Int, Long, Long)] = Seq(
    (0, 163283986L, 599261665L), (1, 894950490L, 798416384L),
    (2, 1234311778L, 1286703461L), (3, 1204144324L, 835965923L),
    (4, 1591944210L, 934522291L), (5, 496203189L, 1079763666L),
    (6, 2013059713L, 763241338L), (7, 746696472L, 1670600315L),
    (8, 2037706278L, 1456254455L), (9, 516379148L, 1266701751L),
    (10, 1286444250L, 530699185L), (11, 219055890L, 2128274514L),
    (12, 1772079176L, 818901099L), (13, 80209275L, 1149784844L),
    (14, 1467146236L, 1735514601L), (15, 1203512295L, 1926977025L),
    (16, 388782684L, 534172481L), (17, 200570785L, 2078724062L),
    (18, 1304827311L, 2103803232L), (19, 332159529L, 201429023L),
    (20, 1473283524L, 2092569640L), (21, 45072279L, 2068864278L),
    (22, 31963117L, 1182366910L), (23, 659079707L, 1911013943L),
    (24, 522913559L, 1194348314L), (25, 934817184L, 86284078L),
    (26, 1493243116L, 868736356L), (27, 1645819368L, 435216821L),
    (28, 853803872L, 331112215L), (29, 1096496025L, 1272982335L),
    (30, 1274128037L, 2103828645L), (31, 1275158464L, 1296052558L),
    (32, 849526002L, 1546027064L), (33, 1915924980L, 1963378267L),
    (34, 232454059L, 419849167L), (35, 676603111L, 625827947L),
    (36, 928317676L, 90987604L), (37, 1624604410L, 1035515163L),
    (38, 1054936882L, 1560969530L), (39, 309330196L, 1634664623L),
    (40, 42903836L, 1358305000L), (41, 150569540L, 1224228600L),
    (42, 218095997L, 1801611204L), (43, 1338672062L, 671157322L),
    (44, 1692438929L, 963027102L), (45, 1517017084L, 116331389L),
    (46, 1412931510L, 2110630082L), (47, 2002925590L, 612410542L),
    (48, 1779782007L, 1989166832L), (49, 1882834961L, 1713136369L),
    (50, 1275721061L, 534497003L), (51, 848934912L, 587829961L),
    (52, 262816073L, 941441090L), (53, 583168701L, 1616806787L),
    (54, 1723249811L, 1684086747L), (55, 906268517L, 182186222L),
    (56, 1068860728L, 423243344L), (57, 1706090348L, 2126124163L),
    (58, 1166561870L, 954863350L), (59, 506852712L, 915470398L),
    (60, 1373239334L, 1643822982L), (61, 38466389L, 1943661824L),
    (62, 557655106L, 1957733589L), (63, 1855394319L, 1464982281L))

  private val permValues: String =
    frozenPerms.map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")

  /** Fellegi–Sunter EM as unrolled DuckDB CTEs — generated by the same
    * loop count as [[graft.dedup.Linkage.emFit]] so engine and oracle
    * can never drift on the iteration structure. Expects CTEs `c`
    * (pattern census: g_<name>.. , n) and `tot` (nn = Σn as DOUBLE) to
    * be defined upstream; emits `e1..eI, prm0..prmI` plus the final
    * SELECT. Inits are CAST to DOUBLE so `1 − m` is double arithmetic
    * (a bare `1 - 0.8` would be exact DECIMAL — a DIFFERENT float than
    * the JVM's `1.0 - 0.8`). */
  private def fsEmSql(names: Seq[String], iters: Int): String = {
    val pm = "(" + names.map(n =>
      s"(CASE WHEN g_$n = 1 THEN m_$n ELSE 1 - m_$n END)").mkString(" * ") + ")"
    val pu = "(" + names.map(n =>
      s"(CASE WHEN g_$n = 1 THEN u_$n ELSE 1 - u_$n END)").mkString(" * ") + ")"
    val prm0 = s"""prm0 AS (SELECT CAST(0.5 AS DOUBLE) AS l,
      ${names.map(n => s"CAST(0.8 AS DOUBLE) AS m_$n").mkString(", ")},
      ${names.map(n => s"CAST(0.2 AS DOUBLE) AS u_$n").mkString(", ")})"""
    val iterCtes = (1 to iters).map { i =>
      s"""e$i AS (SELECT c.*, (l * $pm) / (l * $pm + (1 - l) * $pu) AS w
            FROM c CROSS JOIN prm${i - 1}),
          prm$i AS (SELECT sum(n * w) / (SELECT nn FROM tot) AS l,
            ${names.map(n =>
              s"sum(n * w * g_$n) / sum(n * w) AS m_$n").mkString(", ")},
            ${names.map(n =>
              s"sum(n * (1 - w) * g_$n) / ((SELECT nn FROM tot) - sum(n * w)) AS u_$n")
              .mkString(", ")}
            FROM e$i)"""
    }
    val patItem = "'pattern:' || " +
      names.map(n => s"CAST(g_$n AS VARCHAR)").mkString(" || ")
    s"""$prm0,
        ${iterCtes.mkString(",\n        ")}
        SELECT item, n, value FROM (
          SELECT $patItem AS item, CAST(n AS DOUBLE) AS n,
            round(w, 6) AS value FROM e$iters
          UNION ALL SELECT 'lambda', (SELECT nn FROM tot),
            round(l, 6) FROM prm$iters
          ${names.map(n => s"UNION ALL SELECT 'm_$n', (SELECT nn FROM tot), round(m_$n, 6) FROM prm$iters").mkString("\n          ")}
          ${names.map(n => s"UNION ALL SELECT 'u_$n', (SELECT nn FROM tot), round(u_$n, 6) FROM prm$iters").mkString("\n          ")}
        ) ORDER BY item"""
  }

  /** The reproducible minhash-LSH pipeline as DuckDB CTEs (shared by the
    * d3 pair gate and the d9 invariant gate): FNV shingle hashes →
    * frozen-constant `(a·h+b) mod p` signatures → 16-band banding on raw
    * slices → oversize-bucket star guard → pair dedup → agreement
    * scoring. Ends with the `est(doc_a, doc_b, est_jaccard)` CTE. */
  private[gates] lazy val minhashFnvPipeline: String =
    s"""WITH sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         hs AS (SELECT doc_id, list_transform(s, g -> ${fnvSql("g", 2166136261L)}) AS hl
           FROM sh),
         perm AS (SELECT * FROM (VALUES $permValues) p(j, a, b)),
         sigv AS (SELECT doc_id, j,
             min((a * (h % 2147483647) + b) % 2147483647) AS v
           FROM (SELECT doc_id, unnest(hl) AS h FROM hs), perm
           GROUP BY doc_id, j),
         sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
         banded AS (SELECT doc_id, b AS band, sig[b*4+1 : b*4+4] AS key
           FROM sig, range(0, 16) r(b)),
         bsz AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
           FROM banded GROUP BY 1, 2),
         wsz AS (SELECT banded.doc_id, banded.band, banded.key, bsz.n, bsz.rep
           FROM banded JOIN bsz USING (band, key)),
         cand_small AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM (SELECT * FROM wsz WHERE n <= 64) a
           JOIN (SELECT * FROM wsz WHERE n <= 64) b USING (band, key)
           WHERE a.doc_id < b.doc_id),
         cand_star AS (SELECT rep AS doc_a, doc_id AS doc_b
           FROM wsz WHERE n > 64 AND doc_id != rep),
         cands AS (SELECT DISTINCT doc_a, doc_b FROM
           (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star)),
         est AS (SELECT doc_a, doc_b,
             len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE / 64
               AS est_jaccard
           FROM cands
           JOIN sig sa ON sa.doc_id = doc_a
           JOIN sig sb ON sb.doc_id = doc_b)"""

  /** Decontamination census oracle shared by the batch (d11) and
    * streaming (st13) gates. */
  private[gates] lazy val decontReportSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toks AS t FROM documents),
       sh AS (SELECT doc_id, lang, list_distinct(CASE WHEN len(t) >= 8
           THEN list_transform(range(0, len(t) - 7),
                  i -> array_to_string(t[i+1:i+8], ' '))
           ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
       ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
       bad AS (SELECT DISTINCT doc_id FROM
         (SELECT doc_id, unnest(s) AS g FROM sh) d JOIN ev USING (g)),
       kept AS (SELECT lang, count(*) AS n_kept FROM sh
         WHERE doc_id NOT IN (SELECT doc_id FROM bad) GROUP BY 1),
       base AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
       SELECT base.lang AS lang, n_docs, coalesce(n_kept, 0) AS n_kept,
         n_docs - coalesce(n_kept, 0) AS n_dropped
       FROM base LEFT JOIN kept ON base.lang = kept.lang
       ORDER BY 1"""

  /** Cross-corpus near-dup oracle shared by the batch (d29) and
    * streaming (st12) gates: the frozen-perms FNV pipeline's `banded`/
    * `sig` CTEs, split into incoming (doc_id % 3 = 0) and corpus sides,
    * with the bucket guard sized on the CORPUS side only — mirroring
    * `Dedup.crossCorpusNearDups` exactly. */
  private[gates] lazy val crossCorpusSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS doc_in, c.doc_id AS doc_corpus
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS doc_in, z.rep AS doc_corpus
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       cx AS (SELECT DISTINCT doc_in, doc_corpus FROM
         (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star)),
       estx AS (SELECT doc_in, doc_corpus,
           len(list_filter(range(1, 65), j -> si.sig[j] = sc.sig[j]))::DOUBLE / 64
             AS est_jaccard
         FROM cx
         JOIN sig si ON si.doc_id = doc_in
         JOIN sig sc ON sc.doc_id = doc_corpus)
       SELECT doc_in, doc_corpus, est_jaccard FROM estx
       WHERE est_jaccard >= 0.5
       ORDER BY doc_in, doc_corpus LIMIT 1000"""
}
