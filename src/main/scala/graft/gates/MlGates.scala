package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.similarity.Similarity
import graft.ml.{Clusters, Outliers}

import Shared.{fnvSql, toks}

/** Machine-learning gates (`ml`): clustering, classifiers and their
  * calibration, regression, survival, ALS and evaluation. */
object MlGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // multinomial Naive Bayes (train + self-classify): the declarative
    // curation-classifier shape; full confusion matrix pinned
    Gate("ml6_naive_bayes", (s, d) =>
      graft.ml.NaiveBayes.confusionMatrix(Tables.documents(s, d)),
      s"""WITH tok AS (SELECT doc_id, lang AS cls, unnest($toks) AS tok
           FROM documents),
         vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt
           FROM tok GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 2000)),
         iv AS (SELECT t.doc_id, t.cls, t.tok
           FROM tok t JOIN vocab v ON t.tok = v.tok),
         ct AS (SELECT cls, count(*) AS class_total FROM iv GROUP BY 1),
         pr AS (SELECT lang AS cls, count(*) AS n_docs
           FROM documents GROUP BY 1),
         model AS (SELECT tok, cls, ln(count(*) + 1.0) AS lift
           FROM iv GROUP BY tok, cls),
         dl AS (SELECT doc_id, count(*) AS n_tok FROM iv GROUP BY 1),
         base AS (SELECT dl.doc_id, c.cls, dl.n_tok, c.class_total,
             p.n_docs
           FROM dl CROSS JOIN ct c JOIN pr p ON p.cls = c.cls),
         lifts AS (SELECT iv.doc_id, m.cls, sum(m.lift) AS sum_lift
           FROM iv JOIN model m ON iv.tok = m.tok GROUP BY 1, 2),
         scored AS (SELECT b.doc_id, b.cls,
             ln(b.n_docs::DOUBLE) - b.n_tok * ln(b.class_total + 2000.0)
               + COALESCE(l.sum_lift, 0.0) AS score
           FROM base b LEFT JOIN lifts l
             ON l.doc_id = b.doc_id AND l.cls = b.cls),
         pred AS (SELECT doc_id, cls AS predicted FROM (
           SELECT doc_id, cls, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, cls DESC) AS rn FROM scored)
           WHERE rn = 1)
         SELECT d.lang AS actual, p.predicted, count(*) AS n_docs
         FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY actual, predicted"""),
    // full-batch GD logistic regression, 3 rounds from zero over
    // population-standardized features: the oracle replays each round
    // as an unrolled CTE (gradient aggregate → weight update), so the
    // whole optimization trajectory is value-pinned, not just the fit
    Gate("ml7_logreg_gd", (s, d) =>
      graft.ml.LogReg.fitGd(liLabeled(s, d), "is_big",
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        iters = 3, lr = 0.5),
      logregSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5)),
    // reliability diagram over the ml7 model's scores: the oracle
    // replays the full GD trajectory AND the row-level sigmoid scoring,
    // then the identical fixed-width binning — calibration quality is
    // pinned end-to-end, not just the weights
    Gate("ml8_calibration", (s, d) =>
      graft.ml.Calibration.reliabilityBins(
        graft.ml.LogReg.fitAndScore(liLabeled(s, d), "is_big",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          iters = 3, lr = 0.5),
        "p", "label", bins = 10),
      logregCalibSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5, bins = 10)),
    // exact ROC-AUC of the ml7 model by the Mann–Whitney midrank
    // identity — scores pre-rounded to 9 dp so float-noise near-ties
    // group identically in both engines; distinct-score aggregation +
    // prefix-sum ranks, never a row-level sort
    Gate("ml11_auc", (s, d) =>
      graft.ml.Calibration.aucExact(
        graft.ml.LogReg.fitAndScore(liLabeled(s, d), "is_big",
            Seq("l_quantity", "l_extendedprice", "l_discount"),
            iters = 3, lr = 0.5)
          .select(col("label"), round(col("p"), 9).as("p")),
        "p", "label"),
      logregAucSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5)),
    // 3-fold cross-validated held-out log-loss: deterministic
    // arithmetic fold assignment, each fold trains its OWN trajectory
    // on the other folds and held-out rows standardize with TRAIN
    // moments — the oracle replays all three trajectories in one WITH
    Gate("ml10_kfold_cv", (s, d) =>
      graft.ml.LogReg.kfoldLogLoss(liLabeled(s, d), "is_big",
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        foldCol = pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(3)),
        k = 3, iters = 2, lr = 0.5),
      logregCvSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      "(l_orderkey * 7 + l_linenumber) % 3", k = 3, iters = 2, lr = 0.5)),
    // weight-of-evidence / information value of a categorical feature
    // against the same label — the feature screen run before any model;
    // the quantity bucket is strongly associated, so the woe values
    // span both signs and the iv terms are far from the zero floor
    Gate("ml9_woe_iv", (s, d) =>
      graft.ml.Calibration.woeIv(
        liLabeled(s, d).withColumn("qty_bucket",
          when(col("l_quantity") <= 15, "low")
            .when(col("l_quantity") <= 35, "mid")
            .otherwise("high")),
        "qty_bucket", "is_big"),
      s"""WITH c AS (SELECT CASE WHEN l_quantity <= 15 THEN 'low'
             WHEN l_quantity <= 35 THEN 'mid' ELSE 'high' END AS value,
           sum($isBigSql) AS n_pos,
           sum(1.0 - $isBigSql) AS n_neg
           FROM lineitem GROUP BY 1),
         t AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM c),
         s AS (SELECT value, n_pos, n_neg,
             (n_pos + 0.5) / (tot_pos + 0.5) AS ps,
             (n_neg + 0.5) / (tot_neg + 0.5) AS ns
           FROM c CROSS JOIN t)
         SELECT value, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           round(ln(ps / ns), 6) AS woe,
           round((ps - ns) * ln(ps / ns), 6) AS iv_term
         FROM s ORDER BY value"""),
    // two-regressor OLS by normal equations in covariance form: ONE
    // partial→final aggregation pass, closed-form 2×2 inverse as
    // expressions, zero driver math (see MultiOls scaladoc)
    Gate("ml12_multi_ols", (s, d) =>
      graft.ml.MultiOls.ols2(Tables.lineitem(s, d),
        col("l_extendedprice") / 1000.0,
        col("l_quantity"), col("l_discount"), digits = 4),
      """WITH m AS (SELECT
           covar_pop(l_quantity, l_extendedprice / 1000.0) AS c1y,
           covar_pop(l_discount, l_extendedprice / 1000.0) AS c2y,
           covar_pop(l_quantity, l_discount) AS c12,
           var_pop(l_quantity) AS v1, var_pop(l_discount) AS v2,
           var_pop(l_extendedprice / 1000.0) AS vy,
           avg(l_extendedprice / 1000.0) AS my,
           avg(l_quantity) AS m1, avg(l_discount) AS m2
           FROM lineitem),
         b AS (SELECT *,
           (v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12) AS bb1,
           (v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12) AS bb2
           FROM m)
         SELECT round(my - bb1 * m1 - bb2 * m2, 4) AS b0,
           round(bb1, 4) AS b1, round(bb2, 4) AS b2,
           round((bb1 * c1y + bb2 * c2y) / vy, 4) AS r2
         FROM b"""),
    // histogram-mode decision-stump split finding (the LightGBM/XGBoost
    // "hist" primitive): one corpus scan builds per-(feature,bin) label
    // stats; every candidate split is then scored on that tiny table
    Gate("ml13_stump_split", (s, d) =>
      graft.ml.Stump.bestSplits(liLabeled(s, d), "is_big", Seq(
        graft.ml.Stump.Feature("l_quantity", col("l_quantity"), 0.0, 50.0, 25),
        graft.ml.Stump.Feature("l_discount", col("l_discount"), 0.0, 0.1, 10),
        graft.ml.Stump.Feature("l_extendedprice", col("l_extendedprice"),
          0.0, 100000.0, 20)), topK = 5),
      """WITH pts AS (
           SELECT 'l_quantity' AS feature,
             CAST(least(greatest(floor((l_quantity - 0.0) / 2.0), 0), 24) AS BIGINT) AS bin,
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END AS y
           FROM lineitem
           UNION ALL
           SELECT 'l_discount',
             CAST(least(greatest(floor((l_discount - 0.0) / 0.01), 0), 9) AS BIGINT),
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice',
             CAST(least(greatest(floor((l_extendedprice - 0.0) / 5000.0), 0), 19) AS BIGINT),
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END
           FROM lineitem),
         stats AS (SELECT feature, bin, count(*) AS n, sum(y) AS pos
           FROM pts GROUP BY 1, 2),
         cum AS (SELECT *,
           sum(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
           sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
           sum(n) OVER (PARTITION BY feature) AS ntot,
           sum(pos) OVER (PARTITION BY feature) AS postot
           FROM stats),
         g AS (SELECT feature,
           CASE feature WHEN 'l_quantity' THEN 0.0 + (bin + 1) * 2.0
                        WHEN 'l_discount' THEN 0.0 + (bin + 1) * 0.01
                        ELSE 0.0 + (bin + 1) * 5000.0 END AS threshold,
           nl AS n_left, ntot - nl AS n_right,
           (1.0 - (postot * 1.0 / ntot) * (postot * 1.0 / ntot)
              - (1.0 - postot * 1.0 / ntot) * (1.0 - postot * 1.0 / ntot))
           - ((nl * 1.0 / ntot) * (1.0 - (posl * 1.0 / nl) * (posl * 1.0 / nl)
                - (1.0 - posl * 1.0 / nl) * (1.0 - posl * 1.0 / nl))
              + ((ntot - nl) * 1.0 / ntot)
                * (1.0 - ((postot - posl) * 1.0 / (ntot - nl))
                     * ((postot - posl) * 1.0 / (ntot - nl))
                   - (1.0 - (postot - posl) * 1.0 / (ntot - nl))
                     * (1.0 - (postot - posl) * 1.0 / (ntot - nl)))) AS raw_gain
           FROM cum WHERE nl > 0 AND ntot - nl > 0)
         SELECT feature, round(threshold, 6) AS threshold,
           CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
           round(raw_gain, 6) AS gain
         FROM g ORDER BY gain DESC, feature, threshold LIMIT 5"""),
    // two-round discrete AdaBoost over stumps: misclassified rows
    // DOUBLE their integer weight, so the whole boosting trajectory is
    // exact arithmetic; per round one corpus scan + a 1-row broadcast
    Gate("ml16_boosted_stumps", (s, d) =>
      graft.ml.Stump.boostedSplits(liLabeled(s, d), "is_big", Seq(
        graft.ml.Stump.Feature("l_quantity", col("l_quantity"), 0.0, 50.0, 25),
        graft.ml.Stump.Feature("l_discount", col("l_discount"), 0.0, 0.1, 10),
        graft.ml.Stump.Feature("l_extendedprice", col("l_extendedprice"),
          0.0, 100000.0, 20)), rounds = 2),
      boostedStumpSql),
    // decile lift/gains table over a continuous score vs an independent
    // outcome: tiles on (score desc, unique key); exact-int aggregation
    Gate("ml17_decile_lift", (s, d) =>
      graft.ml.Thresholds.decileLift(Tables.lineitem(s, d),
        col("l_quantity") + col("l_discount") * 20.0,
        (col("l_extendedprice") > lit(30000.0)).cast("int"),
        expr("l_orderkey * 10 + l_linenumber")),
      """WITH t AS (SELECT l_quantity + l_discount * 20.0 AS s,
           CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END AS y,
           l_orderkey * 10 + l_linenumber AS id FROM lineitem),
         d AS (SELECT ntile(10) OVER (ORDER BY s DESC, id) AS decile, y
           FROM t),
         g AS (SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
           FROM d GROUP BY 1),
         c AS (SELECT *, sum(n) OVER (ORDER BY decile) AS cum_n,
           sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
           sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos FROM g)
         SELECT decile, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS response_rate,
           round((CAST(cum_pos AS DOUBLE) / cum_n)
             / (CAST(tot_pos AS DOUBLE) / tot_n), 6) AS cum_lift
         FROM c ORDER BY decile"""),
    // precision/recall/F1 threshold ladder in ONE aggregation pass
    // (2·|T|+1 conditional sums — no explode, no per-threshold scan);
    // score and label are distinct columns so the curve is non-trivial
    Gate("ml14_threshold_sweep", (s, d) =>
      graft.ml.Thresholds.sweep(Tables.lineitem(s, d),
        col("l_quantity"),
        (col("l_extendedprice") > lit(30000.0)).cast("int"),
        thresholds = Seq(5.0, 15.0, 25.0, 35.0, 45.0)),
      {
      val thr = Seq(5.0, 15.0, 25.0, 35.0, 45.0)
      val sums = thr.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN l_quantity > $t AND l_extendedprice > 30000.0
             THEN 1 ELSE 0 END) AS tp$i,
           count(CASE WHEN l_quantity > $t THEN 1 END) AS pp$i"""
      }.mkString(",\n           ")
      val rows = thr.zipWithIndex.map { case (t, i) =>
        s"""SELECT $t AS threshold, CAST(tp$i AS BIGINT) AS tp,
             CAST(pp$i - tp$i AS BIGINT) AS fp,
             CAST(pos - tp$i AS BIGINT) AS fn FROM a"""
      }.mkString("\n           UNION ALL ")
      s"""WITH a AS MATERIALIZED (SELECT
           sum(CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END) AS pos,
           $sums
           FROM lineitem),
         r AS ($rows)
         SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
           END AS f1
         FROM r ORDER BY threshold"""
    }),
    // exact rank-sum ROC AUC on a second fixture: does raw event value
    // separate purchases? — exercises Calibration.aucExact under heavy
    // cross-class score ties (ml11 covers the model-score path)
    Gate("ml22_auc", (s, d) =>
      graft.ml.Calibration.aucExact(
        Tables.events(s, d).filter(col("value").isNotNull)
          .withColumn("y",
            when(col("event_type") === "purchase", 1).otherwise(0)),
        "value", "y"),
      """WITH s AS (SELECT value,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT y, rank() OVER (ORDER BY value)
           + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar FROM s),
         t AS (SELECT CAST(sum(y) AS BIGINT) AS p,
           CAST(count(*) - sum(y) AS BIGINT) AS q,
           sum(CASE WHEN y = 1 THEN ar END) AS rp FROM r)
         SELECT p AS n_pos, q AS n_neg,
           round((rp - CAST(p AS DOUBLE) * (p + 1) / 2)
             / (CAST(p AS DOUBLE) * q), 6) AS auc
         FROM t"""),
    // reliability table over a deterministic synthetic probability
    // (multiplicative-hash of the user id) vs the value>50 label —
    // second fixture for Calibration.reliabilityBins (ml8 covers the
    // logreg-score path)
    Gate("ml23_calibration_bins", (s, d) =>
      graft.ml.Calibration.reliabilityBins(
        Tables.events(s, d).filter(col("value").isNotNull)
          .withColumn("p",
            pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0)
          .withColumn("y", when(col("value") > 50, 1).otherwise(0)),
        "p", "y", bins = 10),
      """WITH s AS (SELECT
           (user_id * 2654435761 % 1000) / 1000.0 AS p,
           CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL)
         SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
           count(*) AS n, round(avg(p), 6) AS mean_p,
           round(avg(y), 6) AS pos_rate,
           round(sum(pow(p - y, 2)), 6) AS brier_sum
         FROM s GROUP BY 1 ORDER BY 1"""),
    // Brier + expected calibration error scalars over the same fixture.
    // NULL values are filtered HERE like the sibling ml22/ml23/ml25
    // gates — the oracle's WHERE value IS NOT NULL must be mirrored, not
    // satisfied by brierEce's label coercion happening to see no NULLs
    Gate("ml24_brier_ece", (s, d) =>
      graft.ml.Eval.brierEce(
        Tables.events(s, d).filter(col("value").isNotNull).withColumn("p",
          pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0),
        "p", col("value") > 50, nBins = 10),
      """WITH s AS (SELECT
           (user_id * 2654435761 % 1000) / 1000.0 AS p,
           CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           count(*) AS n, sum(pow(p - y, 2)) AS se,
           avg(p) AS conf, avg(y) AS acc FROM s GROUP BY 1)
         SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           round(sum(se) / sum(n), 6) AS brier,
           round(sum(n * abs(conf - acc)) / sum(n), 6) AS ece
         FROM b"""),
    // NDCG@10 + MRR: users as queries, value-desc ranking with event_id
    // tie-break, purchases as the relevant set
    Gate("ml25_ndcg_mrr", (s, d) =>
      graft.ml.Eval.ndcgMrr(
        Tables.events(s, d).filter(col("value").isNotNull),
        "user_id", "value", col("event_type") === "purchase",
        "event_id", k = 10),
      """WITH r AS (SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS rnk
           FROM events WHERE value IS NOT NULL),
         q AS (SELECT user_id, CAST(sum(rel) AS BIGINT) AS n_rel,
           sum(CASE WHEN rnk <= 10 AND rel = 1
             THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg,
           min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
           FROM r GROUP BY 1),
         i AS (SELECT user_id, sum(1.0 / log2(ii + 1)) AS idcg FROM (
           SELECT user_id,
             unnest(range(1, CAST(least(n_rel, 10) AS BIGINT) + 1)) AS ii
           FROM q WHERE n_rel > 0) GROUP BY 1)
         SELECT count(*) AS n_queries,
           count(CASE WHEN n_rel > 0 THEN 1 END) AS n_with_rel,
           round(avg(CASE WHEN n_rel > 0 THEN dcg / idcg END), 6)
             AS mean_ndcg,
           round(avg(CASE WHEN n_rel > 0 THEN 1.0 / first_rel END), 6)
             AS mean_mrr
         FROM q LEFT JOIN i USING (user_id)"""),
    // rank-biased overlap between the value ranking and a hash-score
    // ranking of each user's events — the ranker-comparison companion
    // to the BM25/RRF retrieval operators
    Gate("ml28_rbo", (s, d) =>
      graft.ml.Eval.rboTopK(
        Tables.events(s, d).filter(col("value").isNotNull),
        "user_id", scoreA = col("value"),
        scoreB = pmod(col("event_id") * lit(2654435761L), lit(1000L)),
        "event_id", k = 10, p = 0.9),
      """WITH r AS (SELECT user_id,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS ra,
           row_number() OVER (PARTITION BY user_id
             ORDER BY (event_id * 2654435761 % 1000) DESC, event_id) AS rb
           FROM events WHERE value IS NOT NULL),
         mm AS (SELECT user_id, greatest(ra, rb) AS m FROM r),
         suf AS (SELECT ms.range + 1 AS m,
             sum(CASE WHEN ds.range >= ms.range
               THEN pow(0.9, ds.range) / (ds.range + 1) ELSE 0 END) AS s
           FROM range(0, 10) ms, range(0, 10) ds GROUP BY 1),
         q AS (SELECT user_id, sum(coalesce(suf.s, 0)) AS tot
           FROM mm LEFT JOIN suf ON suf.m = mm.m GROUP BY 1)
         SELECT count(*) AS n_queries,
           round(avg(tot * (1 - 0.9)), 6) AS mean_rbo
         FROM q"""),
    // leave-one-out target encoding of lang against n_chars, pinned by
    // per-lang distribution stats of the encoded feature
    Gate("ml26_loo_target_encode", (s, d) => {
      val enc = graft.ml.Eval.looTargetEncode(
        Tables.documents(s, d), "lang", "n_chars")
      enc.groupBy("lang").agg(
        count(col("loo_enc")).as("n_enc"),
        round(avg("loo_enc"), 6).as("mean_enc"),
        round(min("loo_enc"), 6).as("min_enc"),
        round(max("loo_enc"), 6).as("max_enc"),
        round(stddev_pop(col("loo_enc")), 6).as("sd_enc"))
        .orderBy("lang")
    },
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS sm,
           count(*) AS n FROM documents GROUP BY 1),
         e AS (SELECT d.lang, CASE WHEN s.n > 1
           THEN (s.sm - d.n_chars) / (s.n - 1) END AS loo
           FROM documents d JOIN s USING (lang))
         SELECT lang, count(loo) AS n_enc,
           round(avg(loo), 6) AS mean_enc,
           round(min(loo), 6) AS min_enc,
           round(max(loo), 6) AS max_enc,
           round(stddev_pop(loo), 6) AS sd_enc
         FROM e GROUP BY 1 ORDER BY 1"""),
    // Nelson-Aalen cumulative hazard + Breslow survival over the same
    // lifetime/censoring model as ml20's Kaplan-Meier curve
    Gate("ml27_nelson_aalen", (s, d) =>
      graft.ml.Survival.nelsonAalen(
        Tables.events(s, d).filter(col("value") > 150),
        "user_id", "ts", censorHorizonDays = 7),
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 150),
         u AS (SELECT user_id, min(day) AS f, max(day) AS l FROM a GROUP BY 1),
         m AS (SELECT max(l) AS mx FROM u),
         s AS (SELECT datediff('day', f, l) AS dur,
             CASE WHEN datediff('day', l, (SELECT mx FROM m)) >= 7
               THEN 1 ELSE 0 END AS ev FROM u),
         g AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c FROM s GROUP BY 1),
         r AS (SELECT dur, d,
             CAST((SELECT count(*) FROM s) - coalesce(sum(d + c) OVER
               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_risk FROM g),
         k AS (SELECT dur, d, n_risk,
             sum(CAST(d AS DOUBLE) / n_risk) OVER (ORDER BY dur) AS h
           FROM r WHERE d > 0)
         SELECT CAST(dur AS INT) AS duration_days, n_risk, d AS n_events,
           round(h, 6) AS cum_hazard,
           round(exp(-h), 6) AS surv_breslow
         FROM k ORDER BY 1"""),
    // --- ML-adjacent (SURVEY A22/A23) ---
    // clustering quality report: feature stats pinned exactly; the SSE
    // and non-collapse checks run in Spark, the oracle demands they held
    Gate("ml1_kmeans", (s, d) => Clusters.qualityReport(Tables.events(s, d)),
      """SELECT 4 AS k, count(*) AS n_points,
         round(avg(ln(1 + value)), 6) AS avg_f_value,
         round(avg(CAST(hour(ts) AS DOUBLE)), 4) AS avg_f_hour,
         true AS sse_explains_85pct_variance, true AS clusters_nonempty
         FROM events WHERE value IS NOT NULL AND value > -1 AND ts IS NOT NULL"""),
    // per-cluster profile with labels canonicalized by centroid norm:
    // n_total pinned exactly; nonempty / hull / distinct-centroids /
    // better-than-global-mean invariants oracle-demanded (the raw
    // label-permuted profile remains the library op, Clusters.eventClusters)
    Gate("ml4_kmeans_profile", (s, d) =>
      Clusters.clusterInvariantProfile(Tables.events(s, d)),
      """SELECT CAST(r.range AS INT) AS cluster_rank,
         (SELECT CAST(count(*) AS BIGINT) FROM events
           WHERE value IS NOT NULL AND value > -1 AND ts IS NOT NULL) AS n_total,
         true AS nonempty, true AS centroid_in_hull,
         true AS centroids_distinct, true AS no_worse_than_global
         FROM range(0, 4) r ORDER BY cluster_rank"""),
    Gate("ml2_iqr_anomalies", (s, d) => Outliers.iqrAnomalies(Tables.events(s, d)),
      """WITH bounds AS (SELECT event_type,
           quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY 1),
         b2 AS (SELECT event_type, q1 - (q3-q1)*1.5 AS lo, q3 + (q3-q1)*1.5 AS hi FROM bounds)
         SELECT e.event_type, count(*) AS cnt,
           count(CASE WHEN e.value < b2.lo OR e.value > b2.hi THEN 1 END) AS n_anomalies,
           round(any_value(b2.lo),4) AS lo, round(any_value(b2.hi),4) AS hi
         FROM events e JOIN b2 ON e.event_type = b2.event_type
         GROUP BY 1 ORDER BY e.event_type"""),
    // isolation-forest scoring invariants: the scored-row count is
    // pinned exactly; the oracle demands scores stay inside (0,1), the
    // contamination-thresholded anomaly rate lands within approxQuantile
    // tolerance of 2%, and flagged rows sit farther from the global
    // value mean than unflagged ones (the distributional signal ml5's
    // IQR-overlap twin checks from the other side)
    Gate("ml3_isolation_forest", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      val scored = graft.ml.IsolationForest
        .fit(ev, Seq("value", "hr"), numTrees = 50)
        .transform(ev)
        .filter(col("anomaly_score").isNotNull)
        .persist()
      try {
        val n = scored.count()
        val threshold = scored.stat
          .approxQuantile("anomaly_score", Array(0.98), 0.001).head
        val nFlag = scored.filter(col("anomaly_score") >= threshold).count()
        // approxQuantile's 0.001 relative error bounds the rate drift;
        // max(10, 1%) keeps the demand satisfiable at tiny SFs
        val tol = math.max(10.0, 0.01 * n)
        // null-guard every aggregate read: an empty scored set or a
        // degenerate all-equal score distribution (zero rows under the
        // threshold) must fail as a clean boolean mismatch, never as a
        // driver NPE (the ob1 lesson)
        val gmRow = scored.agg(avg("value")).head()
        val gm = if (gmRow.isNullAt(0)) 0.0 else gmRow.getDouble(0)
        val r = scored.agg(
          min("anomaly_score").as("mn"), max("anomaly_score").as("mx"),
          avg(when(col("anomaly_score") >= threshold,
            abs(col("value") - gm))).as("d_flag"),
          avg(when(col("anomaly_score") < threshold,
            abs(col("value") - gm))).as("d_rest")).head()
        def d(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        import s.implicits._
        Seq((n,
          d(0).exists(_ > 0.0) && d(1).exists(_ < 1.0),
          math.abs(nFlag - 0.02 * n) <= tol,
          (for (f <- d(2); rest <- d(3)) yield f > rest).getOrElse(false)))
          .toDF("n_scored", "scores_in_unit", "anomaly_rate_in_tol",
            "flagged_more_extreme")
      } finally { scored.unpersist(); () }
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_scored,
         true AS scores_in_unit, true AS anomaly_rate_in_tol,
         true AS flagged_more_extreme
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           AND ts IS NOT NULL"""),
    // isolation-forest invariant gate: the top-50 scored events must
    // substantially overlap the exact global IQR-outlier set (which the
    // oracle can compute), and every score must lie in (0, 1)
    Gate("ml5_iforest_invariants", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      val scored = graft.ml.IsolationForest.fit(ev, Seq("value", "hr"), numTrees = 50)
        .transform(ev)
      val top = scored.orderBy(desc("anomaly_score"), asc("event_id")).limit(50)
      val b = ev.agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
        .select((col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      // demanded overlap adapts to how many exact-IQR outliers exist:
      // 60% of min(50, n_outliers), capped at the historical 30 — same
      // strength at sf0.01+ (463 outliers → demand 30), and achievable
      // at tiny SFs where the whole outlier set is smaller than the
      // top-k (sf0.001 has only 31)
      val nOut = ev.crossJoin(broadcast(b))
        .filter(col("value") < col("lo") || col("value") > col("hi")).count()
      val need = math.min(30L, math.min(50L, nOut) * 6 / 10)
      top.crossJoin(broadcast(b))
        .agg(count(lit(1)).as("n_top"),
          (count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
            >= need).as("iqr_overlap_ge_30"),
          (min("anomaly_score") > 0.0 && max("anomaly_score") < 1.0)
            .as("scores_in_unit_interval"))
    },
      """SELECT CAST(50 AS BIGINT) AS n_top, true AS iqr_overlap_ge_30,
         true AS scores_in_unit_interval"""),
    // leave-one-out kNN label accuracy (embedding-quality eval): top-5
    // vote with deterministic (count desc, label asc) tie-break —
    // everything after the sim ranking is exact integer arithmetic
    Gate("ml15_knn_loo", (s, d) =>
      Similarity.knnLooAccuracy(Tables.embeddings(s, d), k = 5),
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p AS (SELECT a.vec_id AS id, a.label AS true_label,
           b.vec_id AS other, b.label AS other_label,
           list_cosine_similarity(a.emb, b.emb) AS sim
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY sim DESC, other) AS rn FROM p),
         v AS (SELECT id, true_label, other_label, count(*) AS v
           FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
         w AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY v DESC, other_label) AS w FROM v),
         pred AS (SELECT id, true_label, other_label AS pred
           FROM w WHERE w = 1)
         SELECT true_label AS label, count(*) AS n,
           CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS accuracy
         FROM pred GROUP BY 1 ORDER BY label"""),
    // split-conformal OLS intervals: fit on orderkey%10<6, calibrate
    // the |residual| quantile on %10∈{6,7}, report coverage on the
    // rest; coefficients snapped to the 6dp grid so every residual is
    // bit-identical across engines (see Conformal scaladoc)
    Gate("ml18_conformal", (s, d) => {
      val f = Tables.lineitem(s, d)
        .withColumn("_s", pmod(col("l_orderkey"), lit(10L)))
      graft.ml.Conformal.intervalReport(
        f.filter(col("_s") < 6), f.filter(col("_s").isin(6, 7)),
        f.filter(col("_s") >= 8),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"),
        level = 0.9)
    },
      """WITH f AS (SELECT l_extendedprice AS y, l_quantity AS x1,
           l_discount AS x2, l_orderkey % 10 AS sp FROM lineitem),
         m AS (SELECT covar_pop(x1, y) AS c1y, covar_pop(x2, y) AS c2y,
             covar_pop(x1, x2) AS c12, var_pop(x1) AS v1,
             var_pop(x2) AS v2, avg(y) AS my, avg(x1) AS m1,
             avg(x2) AS m2, count(*) AS n_train
           FROM f WHERE sp < 6),
         fit AS (SELECT n_train,
             round((v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12), 6) AS b1,
             round((v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12), 6) AS b2,
             my, m1, m2 FROM m),
         fit2 AS (SELECT n_train, b1, b2,
             round(my - b1 * m1 - b2 * m2, 6) AS b0 FROM fit),
         q AS (SELECT count(*) AS n_calib,
             round(quantile_cont(
               round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6), 0.9), 6) AS q_hat
           FROM f CROSS JOIN fit2 WHERE sp IN (6, 7))
         SELECT f2.n_train, q.n_calib, count(*) AS n_eval, q.q_hat,
           CAST(sum(CASE WHEN round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6)
               <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           round(sum(CASE WHEN round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6)
               <= q.q_hat THEN 1 ELSE 0 END) / count(*), 4) AS coverage,
           round(2.0 * q.q_hat, 6) AS avg_width
         FROM f CROSS JOIN fit2 f2 CROSS JOIN q
         WHERE sp >= 8
         GROUP BY 1, 2, 4"""),
    // one-pass Poisson bootstrap CI for per-type mean value: all 48
    // replicates build in a single partial->final aggregation;
    // multiplicities from the seeded FNV grid, reproduced by the oracle
    Gate("ml21_poisson_bootstrap", (s, d) =>
      graft.ml.Bootstrap.groupMeanCI(
        Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value"))),
        "event_type", "event_id", "value", b = 48),
      s"""WITH e AS (SELECT event_id, event_type, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT event_type, value, event_id,
             unnest(range(0, 48)) AS b FROM e),
         h AS (SELECT event_type, value, b,
             (${fnvSql("CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)",
               2166136261L)} % 10000) / 10000.0 AS u
           FROM r),
         w AS (SELECT event_type, b, value,
             CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.996340153172656 THEN 4
               ELSE 5 END AS w
           FROM h),
         m AS (SELECT event_type, b, sum(w * value) / sum(w) AS mm
           FROM w GROUP BY 1, 2),
         base AS (SELECT event_type, count(*) AS n_rows, avg(value) AS mean
           FROM e GROUP BY 1)
         SELECT base.event_type AS event_type, n_rows,
           round(mean, 6) AS mean,
           round(quantile_cont(mm, 0.025), 6) AS boot_lo,
           round(quantile_cont(mm, 0.5), 6) AS boot_mid,
           round(quantile_cont(mm, 0.975), 6) AS boot_hi
         FROM base JOIN m ON m.event_type = base.event_type
         GROUP BY 1, 2, 3 ORDER BY 1"""),
    // Kaplan-Meier churn curve on the sparse high-value stream (value >
    // 150 varies per-user lifetimes; the dense stream collapses every
    // duration to the full span) — risk sets, event counts, and the
    // product-limit survival all pinned
    Gate("ml20_kaplan_meier", (s, d) =>
      graft.ml.Survival.kaplanMeier(
        Tables.events(s, d).filter(col("value") > 150),
        "user_id", "ts", censorHorizonDays = 7),
      // Kaplan-Meier product-limit estimator: risk sets from a cumulative
      // window over the duration-level table; survival via exp∘sum∘ln
      // with the d == n_risk row pinned to exactly 0 (ln(0) guard)
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 150),
         u AS (SELECT user_id, min(day) AS f, max(day) AS l FROM a GROUP BY 1),
         m AS (SELECT max(l) AS mx FROM u),
         s AS (SELECT datediff('day', f, l) AS dur,
             CASE WHEN datediff('day', l, (SELECT mx FROM m)) >= 7
               THEN 1 ELSE 0 END AS ev FROM u),
         g AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c FROM s GROUP BY 1),
         r AS (SELECT dur, d, c,
             CAST((SELECT count(*) FROM s) - coalesce(sum(d + c) OVER
               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_risk FROM g),
         k AS (SELECT dur, d, n_risk,
             CASE WHEN d >= n_risk THEN 0.0
               ELSE exp(sum(ln(CASE WHEN d < n_risk
                 THEN 1.0 - CAST(d AS DOUBLE) / n_risk ELSE 1.0 END))
                 OVER (ORDER BY dur)) END AS surv
           FROM r WHERE d > 0)
         SELECT CAST(dur AS INT) AS duration_days, n_risk, d AS n_events,
           round(surv, 4) AS survival
         FROM k ORDER BY 1"""),
    // one full rank-1 ALS round over (customer × partkey-mod-50)
    // quantity ratings — deterministic integer init makes the user
    // half-step exact, so the oracle pins real alternating dataflow
    Gate("ml19_als_rank1", (s, d) =>
      graft.ml.Als.rank1Round(
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"),
            (col("l_partkey") % 50).as("i"), col("l_quantity").as("r")),
        "u", "i", "r", lambda = 1.0),
      // rank-1 ALS round: the integer-valued init factor keeps the user
      // half-step's sums exact, so both engines divide identical doubles
      """WITH r AS (SELECT o.o_custkey AS u, l.l_partkey % 50 AS i,
             l.l_quantity AS r
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         uf AS (SELECT u,
             sum(r * (1.0 + i % 7)) /
               (1.0 + sum((1.0 + i % 7) * (1.0 + i % 7))) AS f
           FROM r GROUP BY 1)
         SELECT CAST(r.i AS BIGINT) AS item, count(*) AS n_ratings,
           round(sum(r.r * uf.f) / (1.0 + sum(uf.f * uf.f)), 4) AS factor
         FROM r JOIN uf USING (u) GROUP BY 1 ORDER BY 1""")
  )

  /** Labeled lineitem for the classifier gates (ml7/ml8/ml9): the
    * fixture's columns are mutually independent, so a LEARNABLE binary
    * label must be derived from the features themselves —
    * `l_quantity + 20·l_discount > 28` mixes two features (quantity
    * dominant, discount a perturbation, price irrelevant), giving a
    * model with genuinely nonzero weights, a populated calibration
    * diagram, and WOE values spanning both signs. */
  private def liLabeled(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).withColumn("is_big",
      (col("l_quantity") + col("l_discount") * 20.0 > 28.0).cast("int"))

  /** The same label as DuckDB SQL (the ml oracle fixtures). */
  private val isBigSql =
    "CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1.0 ELSE 0.0 END"

  /** [[graft.ml.Stump.boostedSplits]] (2 rounds, the ml13 fixture) as
    * unrolled DuckDB CTEs: each round = one weighted histogram + rank-1
    * winner; between rounds the winner predicts (maj_l/maj_r by side)
    * and misses double their integer weight. All-integer statistics —
    * only the final gains are floats. */
  private def boostedStumpSql: String = {
    // (name, lo, width, bins) — widths are the IDENTICAL doubles the
    // Scala Feature computes ((hi-lo)/bins; 0.1/10 == 0.01 bitwise)
    val feats = Seq(
      ("l_quantity", "0.0", "2.0", 25),
      ("l_discount", "0.0", "0.01", 10),
      ("l_extendedprice", "0.0", "5000.0", 20))
    def hist(n: Int) = {
      val branches = feats.map { case (nm, lo, w, bins) =>
        s"""SELECT '$nm' AS feature,
             CAST(least(greatest(floor(($nm - $lo) / $w), 0), ${bins - 1})
               AS BIGINT) AS bin, y, w FROM rows$n"""
      }.mkString("\n           UNION ALL ")
      val thrCase = feats.map { case (nm, lo, w, _) =>
        s"WHEN '$nm' THEN $lo + (bin + 1) * $w"
      }.mkString(" ")
      s"""h$n AS (SELECT feature, bin, CAST(sum(w) AS BIGINT) AS n,
           CAST(sum(w * y) AS BIGINT) AS pos FROM (
           $branches) GROUP BY 1, 2),
         c$n AS (SELECT *,
           sum(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
           sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
           sum(n) OVER (PARTITION BY feature) AS ntot,
           sum(pos) OVER (PARTITION BY feature) AS postot
           FROM h$n),
         g$n AS (SELECT feature,
           round(CASE feature $thrCase END, 6) AS threshold,
           CAST(nl AS BIGINT) AS w_left, CAST(ntot - nl AS BIGINT) AS w_right,
           round((1.0 - (postot * 1.0 / ntot) * (postot * 1.0 / ntot)
              - (1.0 - postot * 1.0 / ntot) * (1.0 - postot * 1.0 / ntot))
           - ((nl * 1.0 / ntot) * (1.0 - (posl * 1.0 / nl) * (posl * 1.0 / nl)
                - (1.0 - posl * 1.0 / nl) * (1.0 - posl * 1.0 / nl))
              + ((ntot - nl) * 1.0 / ntot)
                * (1.0 - ((postot - posl) * 1.0 / (ntot - nl))
                     * ((postot - posl) * 1.0 / (ntot - nl))
                   - (1.0 - (postot - posl) * 1.0 / (ntot - nl))
                     * (1.0 - (postot - posl) * 1.0 / (ntot - nl)))), 6)
             AS gain,
           CASE WHEN posl * 2 > nl THEN 1 ELSE 0 END AS maj_l,
           CASE WHEN (postot - posl) * 2 > ntot - nl THEN 1 ELSE 0 END AS maj_r
           FROM c$n WHERE nl > 0 AND ntot - nl > 0),
         w$n AS (SELECT * FROM (SELECT *, row_number() OVER (
             ORDER BY gain DESC, feature, threshold) AS rk FROM g$n)
           WHERE rk = 1)"""
    }
    val featValCase = feats.map { case (nm, _, _, _) =>
      s"WHEN '$nm' THEN r.$nm" }.mkString(" ")
    s"""WITH rows1 AS (SELECT l_quantity, l_discount, l_extendedprice,
           CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END AS y,
           1 AS w FROM lineitem),
         ${hist(1)},
         rows2 AS (SELECT r.l_quantity, r.l_discount, r.l_extendedprice, r.y,
           CASE WHEN (CASE WHEN (CASE w1.feature $featValCase END) <= w1.threshold
               THEN w1.maj_l ELSE w1.maj_r END) <> r.y
             THEN 2 ELSE 1 END AS w
           FROM rows1 r CROSS JOIN w1),
         ${hist(2)}
         SELECT 1 AS round, feature, threshold, w_left, w_right, gain FROM w1
         UNION ALL
         SELECT 2 AS round, feature, threshold, w_left, w_right, gain FROM w2
         ORDER BY round"""
  }

  /** Shared CTE body for the logreg oracles — one standardization-
    * moments CTE, then per GD round a `(sigmoid margin → mean-gradient
    * aggregate → weight update)` CTE pair; weight columns `w0..w{d-1},
    * b`. Returns `(cteBody, finalWeightCte, marginOf)` — [[logregSql]]
    * pins the model, [[logregCalibSql]] reuses the identical
    * trajectory to score rows. */
  private def logregCtes(labelExpr: String, features: Seq[String],
                         iters: Int, lr: Double, prefix: String = "",
                         where: String = "", evalWhere: String = "")
      : (String, String, String => String) = {
    val idx = features.indices
    val p = prefix
    val momCols = features.zipWithIndex.map { case (f, i) =>
      s"avg($f) AS mu$i, stddev_pop($f) AS sd$i" }.mkString(", ")
    val xCols = features.zipWithIndex.map { case (f, i) =>
      s"($f - mu$i) / sd$i AS x$i" }.mkString(", ")
    val zeroW = idx.map(i => s"0.0 AS w$i").mkString(", ") + ", 0.0 AS b"
    def marginOf(w: String): String =
      s"$w.b + " + idx.map(i => s"$w.w$i * f.x$i").mkString(" + ")
    val iterCtes = (1 to iters).map { t =>
      val prev = s"${p}wt${t - 1}"
      val gradCols = idx.map(i => s"avg((p - y) * x$i) AS g$i")
        .mkString(", ") + ", avg(p - y) AS gb"
      val updCols = idx.map(i => s"w$i - $lr * g$i AS w$i")
        .mkString(", ") + s", b - $lr * gb AS b"
      s"""${p}g$t AS MATERIALIZED (SELECT $gradCols FROM
           (SELECT f.y, ${idx.map(i => s"f.x$i").mkString(", ")},
              1.0 / (1.0 + exp(-(${marginOf(prev)}))) AS p
            FROM ${p}f f CROSS JOIN $prev $prev)),
         ${p}wt$t AS MATERIALIZED (SELECT $updCols
           FROM ${p}wt${t - 1} CROSS JOIN ${p}g$t)"""
    }.mkString(",\n         ")
    // held-out rows standardized with the TRAIN (${p}st) moments — the
    // CV protocol the Spark side implements
    val evalCte = if (evalWhere.isEmpty) "" else
      s""",
         ${p}ev AS MATERIALIZED (SELECT $labelExpr AS y, $xCols
           FROM lineitem CROSS JOIN ${p}st $evalWhere)"""
    val body =
      s"""${p}st AS MATERIALIZED (SELECT $momCols FROM lineitem $where),
         ${p}f AS MATERIALIZED (SELECT $labelExpr AS y, $xCols
           FROM lineitem CROSS JOIN ${p}st $where),
         ${p}wt0 AS (SELECT $zeroW),
         $iterCtes$evalCte"""
    (body, s"${p}wt$iters", marginOf)
  }

  /** [[graft.ml.LogReg.kfoldLogLoss]]: one full [[logregCtes]]
    * trajectory per fold (train subset + train-moments eval CTE),
    * folded into a single WITH; per-fold counts and held-out log-loss
    * UNION'd. */
  private def logregCvSql(labelExpr: String, features: Seq[String],
                          foldExpr: String, k: Int, iters: Int,
                          lr: Double): String = {
    val parts = (0 until k).map { fo =>
      logregCtes(labelExpr, features, iters, lr, prefix = s"cv$fo",
        where = s"WHERE ($foldExpr) <> $fo",
        evalWhere = s"WHERE ($foldExpr) = $fo")
    }
    val body = parts.map(_._1).mkString(",\n         ")
    val rows = parts.zipWithIndex.map { case ((_, wF, marginOf), fo) =>
      s"""SELECT $fo AS fold,
           (SELECT count(*) FROM cv${fo}f) AS n_train,
           (SELECT count(*) FROM cv${fo}ev) AS n_eval,
           (SELECT round(avg(CASE WHEN f.y = 1.0
               THEN ln(1.0 + exp(-(${marginOf(wF)})))
               ELSE ln(1.0 + exp(${marginOf(wF)})) END), 6)
            FROM cv${fo}ev f CROSS JOIN $wF $wF) AS eval_log_loss"""
    }
    s"""WITH $body
         SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY fold"""
  }

  /** [[graft.ml.LogReg.fitGd]] as unrolled DuckDB CTE layers
    * ([[logregCtes]]); final log-loss from the last weights. */
  private def logregSql(labelExpr: String, features: Seq[String],
                        iters: Int, lr: Double): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    val termRows = features.zipWithIndex.map { case (f, i) =>
      s"SELECT 'w_$f' AS term, w$i AS v FROM $wFinal" } ++ Seq(
      s"SELECT 'intercept', b FROM $wFinal",
      s"""SELECT 'log_loss', (SELECT avg(CASE WHEN f.y = 1.0
            THEN ln(1.0 + exp(-(${marginOf(wFinal)})))
            ELSE ln(1.0 + exp(${marginOf(wFinal)})) END)
          FROM f CROSS JOIN $wFinal $wFinal)""")
    s"""WITH $body
         SELECT term, round(v, 6) AS value
         FROM (${termRows.mkString(" UNION ALL ")}) ORDER BY term"""
  }

  /** [[graft.ml.Calibration.reliabilityBins]] over the ml7 model:
    * identical GD trajectory CTEs, then row-level sigmoid scoring and
    * the fixed-width binning. */
  private def logregCalibSql(labelExpr: String, features: Seq[String],
                             iters: Int, lr: Double, bins: Int): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    s"""WITH $body,
         scored AS (SELECT f.y,
             1.0 / (1.0 + exp(-(${marginOf(wFinal)}))) AS p
           FROM f CROSS JOIN $wFinal $wFinal)
         SELECT CAST(least(floor(p * $bins), ${bins - 1}) AS INT) AS bin,
           count(*) AS n, round(avg(p), 6) AS mean_p,
           round(avg(y), 6) AS pos_rate,
           round(sum((p - y) * (p - y)), 6) AS brier_sum
         FROM scored GROUP BY 1 ORDER BY 1"""
  }

  /** [[graft.ml.Calibration.aucExact]] over the ml7 model's 9-dp
    * scores: identical trajectory CTEs, then the distinct-score
    * midrank rank-sum. */
  private def logregAucSql(labelExpr: String, features: Seq[String],
                           iters: Int, lr: Double): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    s"""WITH $body,
         scored AS (SELECT f.y,
             round(1.0 / (1.0 + exp(-(${marginOf(wFinal)}))), 9) AS p
           FROM f CROSS JOIN $wFinal $wFinal),
         g AS (SELECT p AS s, count(*) AS c, sum(y) AS pos
           FROM scored GROUP BY 1),
         r AS (SELECT s, c, pos, COALESCE(sum(c) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM g)
         SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(c) - sum(pos) AS BIGINT) AS n_neg,
           round((sum(pos * (cb + (c + 1) / 2.0))
               - sum(pos) * (sum(pos) + 1) / 2.0)
             / (sum(pos) * (sum(c) - sum(pos))), 6) AS auc
         FROM r"""
  }
}
