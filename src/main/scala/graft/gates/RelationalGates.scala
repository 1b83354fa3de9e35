package graft
package gates

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Joins, Relational}

import Shared.{fnvSql, toks}

/** Relational gates: scans, filters and projections (`q`, `s`, `p`),
  * key skew (`k`), SQL surface (`sql`), joins (`j`), unions, snapshots and
  * SCD2 history (`u`), incremental aggregates (`iv`), physical layouts —
  * bucketing (`b`), zone maps (`ix`), space-filling curves (`z`) — plus
  * skyline (`sk`), schema compare (`sc`) and observed metrics (`ob`). */
object RelationalGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    // --- scans / filters / projections (SURVEY §2.1, §2.2) ---
    Gate("q1_pricing_summary", (s, d) => Relational.pricingSummary(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),0) AS sum_qty,
         round(sum(l_extendedprice),0) AS sum_base, round(avg(l_discount),6) AS avg_disc,
         count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Gate("s1_scan_filter_project", (s, d) => Relational.scanFilterProject(Tables.lineitem(s, d)),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_quantity > 30 AND l_discount > 0.05 ORDER BY l_orderkey, l_linenumber"""),
    Gate("p4_year_filter", (s, d) => Relational.yearRangeCounts(Tables.orders(s, d)),
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS cnt,
         round(sum(o_totalprice),0) AS total FROM orders
         WHERE year(o_orderdate) BETWEEN 1996 AND 1998 GROUP BY 1 ORDER BY o_year"""),
    Gate("p5_set_membership", (s, d) => Relational.setMembership(Tables.events(s, d)),
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS cnt,
         round(avg(value),4) AS avg_value FROM events
         WHERE event_type IN ('click','view') AND hour(ts) IN (20,21,22,23,0,1,2,3,4)
         GROUP BY 1,2 ORDER BY event_type, hr"""),
    Gate("p7_safe_cast", (s, d) => Relational.safeCastSum(Tables.events(s, d)),
      """SELECT event_type, round(sum(k),0) AS sum_k, count(k) AS cnt_k FROM (
           SELECT event_type,
             CASE WHEN regexp_matches(regexp_extract(props, '"k": (-?\d+)', 1), '^-?\d+(\.\d+)?$')
                  THEN CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS DOUBLE) END AS k
           FROM events) GROUP BY 1 ORDER BY event_type"""),
    Gate("p10_guarded_ratio", (s, d) => Relational.guardedRatio(Tables.lineitem(s, d)),
      """SELECT l_returnflag, round(avg(CASE WHEN l_quantity > 0
         THEN l_extendedprice / l_quantity END),4) AS avg_unit_price, count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
    Gate("p12_clipped_ratio", (s, d) => Relational.clippedRatio(Tables.lineitem(s, d)),
      """SELECT l_linestatus, round(avg(least(l_extendedprice / l_quantity, 2000.0)),4)
         AS avg_clipped_unit_price FROM lineitem WHERE l_quantity > 0
         GROUP BY 1 ORDER BY l_linestatus"""),
    Gate("p13_dow_counts", (s, d) => Relational.countsByDow(Tables.events(s, d)),
      """SELECT strftime(ts, '%a') AS dow, count(*) AS trip_count FROM events
         GROUP BY 1 ORDER BY dow"""),
    Gate("p14_season_totals", (s, d) => Relational.seasonTotals(Tables.orders(s, d)),
      """SELECT CASE WHEN o_orderdate IS NULL THEN NULL
                     WHEN month(o_orderdate) IN (12,1,2) THEN 'Winter'
                     WHEN month(o_orderdate) IN (3,4,5) THEN 'Spring'
                     WHEN month(o_orderdate) IN (6,7,8) THEN 'Summer'
                     ELSE 'Fall' END AS season,
         count(*) AS cnt, round(sum(o_totalprice),0) AS total FROM orders
         GROUP BY 1 ORDER BY season NULLS FIRST"""),
    // seeded-sample invariant gate: per type, the 10% sample's size must
    // sit within ±5σ binomial bounds and its mean inside the value range
    // — checks the oracle can demand without reproducing Spark's RNG
    Gate("p6_sample_profile", (s, d) => {
      val ev = Tables.events(s, d)
      val samp = ev.sample(withReplacement = false, 0.1, seed = 42L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("s_cnt"), avg("value").as("s_avg"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("value").as("mn"), max("value").as("mx"))
      tot.join(samp, Seq("event_type"), "left")
        .select(col("event_type"),
          (coalesce(col("s_cnt"), lit(0L)) >= col("n") * 0.1 - sqrt(col("n") * 0.09) * 5 &&
            coalesce(col("s_cnt"), lit(0L)) <= col("n") * 0.1 + sqrt(col("n") * 0.09) * 5)
            .as("cnt_in_bounds"),
          (col("s_avg").isNull || (col("s_avg") >= col("mn") && col("s_avg") <= col("mx")))
            .as("avg_in_range"))
        .orderBy("event_type")
    },
      """SELECT event_type, true AS cnt_in_bounds, true AS avg_in_range
         FROM events GROUP BY 1 ORDER BY event_type"""),
    // raw seeded-sample invariant gate: the source row count is pinned
    // exactly; the oracle demands the sampled ids are a duplicate-free
    // subset of the source ids, the sample size sits inside ±5σ binomial
    // bounds, and the sampled value mean stays inside the source range —
    // everything checkable without reproducing Spark's RNG (p6 is the
    // per-type twin; this covers the raw-row form)
    Gate("p18_sample_raw", (s, d) => {
      val ev = Tables.events(s, d)
      val samp = ev.sample(withReplacement = false, 0.1, seed = 42L).persist()
      try {
        val src = ev.agg(count(lit(1)).as("n"),
          min("value").as("mn"), max("value").as("mx")).head()
        val nSrc = src.getLong(0)
        // empty/all-null source: min/max observe as null — guard like
        // the sample-side avg rather than NPE at getDouble
        val mn = if (src.isNullAt(1)) Double.NegativeInfinity else src.getDouble(1)
        val mx = if (src.isNullAt(2)) Double.PositiveInfinity else src.getDouble(2)
        val sa = samp.agg(count(lit(1)).as("n"), avg("value").as("av")).head()
        val nSamp = sa.getLong(0)
        val avOpt = if (sa.isNullAt(1)) None else Some(sa.getDouble(1))
        val nOutside = samp.select("event_id")
          .join(ev.select("event_id"), Seq("event_id"), "left_anti").count()
        val nDup = samp.groupBy("event_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count()
        val bound = 5.0 * math.sqrt(nSrc * 0.1 * 0.9)
        import s.implicits._
        Seq((nSrc,
          nOutside == 0L && nDup == 0L,
          math.abs(nSamp - 0.1 * nSrc) <= bound,
          avOpt.forall(a => a >= mn && a <= mx)))
          .toDF("n_source", "ids_unique_subset", "cnt_in_bounds", "avg_in_range")
      } finally { samp.unpersist(); () }
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_source,
         true AS ids_unique_subset, true AS cnt_in_bounds,
         true AS avg_in_range
         FROM events"""),
    // deterministic hash-based sampling: the keep set is a pure function
    // of the key (FNV-1a of the stringified user_id), so unlike the
    // RNG path this is FULLY pinned — the oracle recomputes the same
    // hash and must select the identical rows
    Gate("p19_hash_sample", (s, d) =>
      Relational.hashSample(Tables.events(s, d), "user_id", pct = 10)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type"),
      s"""SELECT event_type, count(*) AS cnt, round(avg(value),4) AS avg_value
         FROM events
         WHERE ${fnvSql("CAST(user_id AS VARCHAR)", 2166136261L)} % 100 < 10
         GROUP BY 1 ORDER BY event_type"""),
    Gate("k1_key_skew", (s, d) =>
      Relational.keySkewReport(Tables.events(s, d), "user_id"),
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS mx, avg(cnt) AS av FROM c)
         SELECT user_id, cnt, round(cnt / (1.0 * total), 6) AS share,
           n_keys, round(mx / av, 4) AS max_over_avg
         FROM c, t ORDER BY cnt DESC, user_id LIMIT 5"""),
    // coverage-gap detection (ANTI point-in-interval): events covered
    // by NO 1h window anchored at every 500th event — sparse enough
    // that gaps survive at every SF; membership pinned
    Gate("j12_coverage_gaps", (s, d) => {
      val ev = Tables.events(s, d)
      val iv = ev.filter(pmod(col("event_id"), lit(500L)) === 0)
        .select(col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.operators.RangeJoin.uncoveredPoints(ev, iv, "ts",
          "w_start", "w_end", "event_id", bucketSeconds = 3600L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_uncovered"), sum("event_id").as("id_sum"))
        .orderBy("event_type")
    },
      """WITH iv AS (SELECT ts AS s, ts + INTERVAL 1 HOUR AS e
           FROM events WHERE event_id % 500 = 0)
         SELECT event_type, count(*) AS n_uncovered,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events ev
         WHERE NOT EXISTS (SELECT 1 FROM iv
           WHERE ev.ts >= iv.s AND ev.ts <= iv.e)
         GROUP BY 1 ORDER BY event_type"""),
    Gate("p17_like_filter", (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").contains("red") || col("p_name").startsWith("blue"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(avg("p_retailprice"), 4).as("avg_price"))
        .orderBy("p_brand"),
      """SELECT p_brand, count(*) AS cnt, round(avg(p_retailprice), 4) AS avg_price
         FROM part WHERE p_name LIKE '%red%' OR p_name LIKE 'blue%'
         GROUP BY 1 ORDER BY p_brand"""),
    // gaps-and-islands interval union per key: merge overlapping event
    // intervals, report covered seconds / island counts — both windows
    // partition by the key, so no global sort exists in the plan
    Gate("u10_interval_union", (s, d) => {
      val iv = Tables.events(s, d).select(
          pmod(col("user_id"), lit(50L)).as("ukey"),
          expr("unix_millis(cast(ts as timestamp)) DIV 1000").as("s0"),
          col("value"))
        .withColumn("e0", col("s0") +
          floor(least(greatest(col("value"), lit(0.0)), lit(300.0)) * 12)
            .cast("long") + lit(60L))
        .drop("value")
      graft.operators.Intervals.unionCoverage(iv, "ukey", "s0", "e0")
    },
      """WITH iv AS (SELECT user_id % 50 AS ukey,
           epoch_ms(ts) // 1000 AS s0,
           epoch_ms(ts) // 1000
             + CAST(floor(least(greatest(value, 0), 300) * 12) AS BIGINT)
             + 60 AS e0
           FROM events),
         f AS (SELECT ukey, s0, e0,
           CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY ukey
               ORDER BY s0, e0
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS newf
           FROM iv),
         i AS (SELECT ukey, s0, e0, sum(newf) OVER (PARTITION BY ukey
             ORDER BY s0, e0
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM f),
         g AS (SELECT ukey, isl, min(s0) AS s, max(e0) AS e
           FROM i GROUP BY 1, 2)
         SELECT ukey, count(*) AS n_islands,
           CAST(sum(e - s) AS BIGINT) AS covered,
           max(e - s) AS max_island
         FROM g GROUP BY 1 ORDER BY ukey"""),
    // real JSON-path parsing of the events props column (from_json with
    // a schema, not regexp) — the oracle extracts the same field
    // textually
    Gate("sql5_json_extract", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), count(col("k")).as("n_k"),
          sum(col("k").cast("long")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
        .orderBy("event_type"),
      """WITH x AS (SELECT event_type,
           CASE WHEN regexp_matches(props, '"k": -?\d+')
             THEN CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)
             END AS k
           FROM events)
         SELECT event_type, count(*) AS n_rows, count(k) AS n_k,
           CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 6) AS avg_k
         FROM x GROUP BY 1 ORDER BY 1"""),
    // anti-join: per-segment customers with NO high-value order (the
    // raw "no orders at all" set is empty in these fixtures — every
    // custkey appears — so the filter makes the anti-set non-trivial)
    Gate("j11_anti_join", (s, d) =>
      Joins.customersWithoutOrders(Tables.customer(s, d),
        Tables.orders(s, d).filter(col("o_totalprice") > 450000)),
      """SELECT c_mktsegment, count(*) AS n_orphans,
           CAST(sum(c_custkey) AS BIGINT) AS id_sum
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
         GROUP BY 1 ORDER BY c_mktsegment"""),
    // null-safe join: NULL keys match as ONE aggregated bucket per side
    Gate("j10_nullsafe_join", (s, d) =>
      Joins.nullSafeKeyMatch(
        Tables.orders(s, d),
        when(pmod(col("o_custkey"), lit(10L)) === 0, lit(null))
          .otherwise(pmod(col("o_custkey"), lit(97L))),
        Tables.customer(s, d),
        when(pmod(col("c_custkey"), lit(10L)) === 0, lit(null))
          .otherwise(pmod(col("c_custkey"), lit(97L)))),
      """WITH l AS (SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL
             ELSE o_custkey % 97 END AS k, count(*) AS left_cnt
           FROM orders GROUP BY 1),
         r AS (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
             ELSE c_custkey % 97 END AS k, count(*) AS right_cnt
           FROM customer GROUP BY 1)
         SELECT COALESCE(l.k, -1) AS key, left_cnt, right_cnt
         FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
         ORDER BY key"""),
    // correlated SCALAR subquery through the SQL surface (Catalyst
    // decorrelates to an aggregate+join; TPC-H Q17's shape)
    Gate("sql4_scalar_subquery", (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      Tables.part(s, d).createOrReplaceTempView("v_part")
      s.sql("""SELECT p_brand, count(*) AS n_small,
                 round(sum(l_extendedprice), 2) AS small_revenue
               FROM v_lineitem l JOIN v_part p ON l.l_partkey = p.p_partkey
               WHERE l.l_quantity < (SELECT 0.5 * avg(l_quantity)
                 FROM v_lineitem l2 WHERE l2.l_partkey = p.p_partkey)
               GROUP BY 1 ORDER BY 1""")
    },
      """SELECT p_brand, count(*) AS n_small,
           round(sum(l_extendedprice), 2) AS small_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_quantity < (SELECT 0.5 * avg(l_quantity)
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
         GROUP BY 1 ORDER BY 1"""),
    // --- set ops / joins (SURVEY §2.3, §2.7) ---
    // full SQL-string path: temp views + spark.sql, same Catalyst plans
    // as the DataFrame API (the engine's second query surface)
    Gate("sql1_segment_priority", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
                 round(sum(o_totalprice), 0) AS total
               FROM v_orders JOIN v_customer ON o_custkey = c_custkey
               GROUP BY 1, 2 ORDER BY 1, 2""")
    },
      """SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // correlated EXISTS / NOT EXISTS through the SQL surface (Catalyst
    // rewrites to semi/anti joins — same text runs on the oracle)
    Gate("sql3_exists_subquery", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_mktsegment,
                 count(*) AS n_customers,
                 count(CASE WHEN EXISTS (SELECT 1 FROM v_orders
                   WHERE o_custkey = c_custkey AND o_totalprice > 300000)
                   THEN 1 END) AS n_big_spenders,
                 count(CASE WHEN NOT EXISTS (SELECT 1 FROM v_orders
                   WHERE o_custkey = c_custkey) THEN 1 END) AS n_dormant
               FROM v_customer GROUP BY 1 ORDER BY 1""")
    },
      """SELECT c_mktsegment, count(*) AS n_customers,
           count(CASE WHEN EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             THEN 1 END) AS n_big_spenders,
           count(CASE WHEN NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey) THEN 1 END) AS n_dormant
         FROM customer GROUP BY 1 ORDER BY 1"""),
    // the observe() metrics surface: input-side counters collected ON
    // the same pass as the query (the monitoring hook a production
    // pipeline exports per run — no second scan); both the observed
    // metrics and the pipeline output are pinned
    Gate("ob1_observed_metrics", (s, d) => {
      val obs = org.apache.spark.sql.Observation()
      // sum(value) observes as null on an empty input — coalesce so the
      // metric read below can't NPE at other scale factors
      val filtered = Tables.events(s, d)
        .observe(obs, count(lit(1)).as("n_in"),
          coalesce(round(sum("value"), 0), lit(0.0)).as("v_in"))
        .filter(col("value") > 100)
      val nOut = filtered.count() // the action that populates the observation
      val m = obs.get
      import s.implicits._
      Seq((m("n_in").asInstanceOf[Long], m("v_in").asInstanceOf[Double], nOut))
        .toDF("n_in", "v_in", "n_out")
    },
      """SELECT count(*) AS n_in, coalesce(round(sum(value), 0), 0.0) AS v_in,
         count(CASE WHEN value > 100 THEN 1 END) AS n_out
         FROM events"""),
    // pre-flight join-size estimation under contract: the exact row /
    // distinct / overlap / join-size figures are pinned, and the oracle
    // DEMANDS the HLL sketches land within 3·rsd and the size estimate
    // within 15% (a27/t12/pr2 pattern)
    Gate("j8_join_cardinality", (s, d) => {
      val orders = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val est = graft.operators.Joins
        .joinCardinalityEstimate(orders, "o_custkey", cust, "c_custkey")
        .select(col("d_left").as("e_dl"), col("d_right").as("e_dr"),
          col("d_overlap").as("e_ov"), col("est_join_rows").as("e_jr"))
      val exact = orders
        .agg(count(lit(1)).as("n_left"),
          countDistinct(col("o_custkey")).as("d_left"))
        .crossJoin(cust.agg(count(lit(1)).as("n_right"),
          countDistinct(col("c_custkey")).as("d_right")))
        .crossJoin(orders.select(col("o_custkey").as("k")).distinct()
          .join(cust.select(col("c_custkey").as("k")).distinct(), "k")
          .agg(count(lit(1)).as("d_overlap")))
        .crossJoin(orders.join(cust, orders("o_custkey") === cust("c_custkey"))
          .agg(count(lit(1)).as("join_rows")))
      exact.crossJoin(est)
        .select(col("n_left"), col("n_right"), col("d_left"), col("d_right"),
          col("d_overlap"), col("join_rows"),
          (abs(col("e_dl") - col("d_left")) <= col("d_left") * 0.06 &&
            abs(col("e_dr") - col("d_right")) <= col("d_right") * 0.06 &&
            abs(col("e_ov") - col("d_overlap")) <= col("d_overlap") * 0.12)
            .as("sketch_within_bounds"),
          (abs(col("e_jr") - col("join_rows")) <= col("join_rows") * 0.15)
            .as("estimate_within_15pct"))
    },
      """SELECT (SELECT count(*) FROM orders) AS n_left,
         (SELECT count(*) FROM customer) AS n_right,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS d_left,
         (SELECT count(DISTINCT c_custkey) FROM customer) AS d_right,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) o
            JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON o.o_custkey = c.c_custkey) AS d_overlap,
         (SELECT count(*) FROM orders JOIN customer
            ON o_custkey = c_custkey) AS join_rows,
         true AS sketch_within_bounds, true AS estimate_within_15pct"""),
    // 3-D Morton key (the general N-dim form real layouts use) pinned
    // the same way as z1
    Gate("z2_zorder3_bucket", (s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.ZOrder.zorderKeyN(Seq(
          pmod(col("l_partkey"), lit(16L)), pmod(col("l_suppkey"), lit(16L)),
          pmod(col("l_linenumber"), lit(16L))), bits = 4).as("zkey"),
          col("l_orderkey"))
        .groupBy(floor(col("zkey") / 64).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("zkey").as("z_min"),
          max("zkey").as("z_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("z_bucket"),
      s"""WITH z AS (SELECT
           ${zorderSql(Seq("l_partkey % 16", "l_suppkey % 16", "l_linenumber % 16"), 4)}
             AS zkey,
           l_orderkey FROM lineitem)
         SELECT CAST(floor(zkey / 64) AS BIGINT) AS z_bucket,
           count(*) AS n_rows, min(zkey) AS z_min, max(zkey) AS z_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM z GROUP BY 1 ORDER BY z_bucket"""),
    // data-level set ops: distinct-key EXCEPT / INTERSECT between two
    // overlapping filtered views, membership pinned via id aggregates
    Gate("u3_except_intersect", (s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"))
      val b = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"))
      val inter = a.intersect(b)
        .agg(lit("intersect").as("op"), count(lit(1)).as("n_keys"),
          sum("o_custkey").as("key_sum"))
      val exc = a.except(b)
        .agg(lit("a_except_b").as("op"), count(lit(1)).as("n_keys"),
          sum("o_custkey").as("key_sum"))
      inter.unionByName(exc).orderBy("op")
    },
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000)
         SELECT 'a_except_b' AS op, count(*) AS n_keys,
           CAST(sum(o_custkey) AS BIGINT) AS key_sum
         FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
         UNION ALL
         SELECT 'intersect', count(*), CAST(sum(o_custkey) AS BIGINT)
         FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
         ORDER BY op"""),
    // the SparkSessionExtensions surface end to end: SQL text resolved
    // through the injected native functions (fnv1a32, shingle_hashes),
    // pinned against the oracle's independent reimplementation. The
    // shingle COUNT is hash-family-agnostic (ShingleHashes dedups by
    // hash; the oracle dedups the shingle strings), so the xxhash64
    // default is gateable even though the oracle cannot compute xxh64.
    Gate("sql2_native_funcs", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("v_documents")
      s.sql("""SELECT lang, count(*) AS n_docs,
                 CAST(sum(fnv1a32(CAST(doc_id AS STRING)) % 97) AS BIGINT)
                   AS id_hash_sum,
                 CAST(sum(size(shingle_hashes(text, 3))) AS BIGINT)
                   AS n_shingles
               FROM v_documents GROUP BY lang ORDER BY lang""")
    },
      s"""WITH sh AS (SELECT doc_id, lang,
           len(list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END)) AS ns
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 97) AS BIGINT)
             AS id_hash_sum,
           CAST(sum(ns) AS BIGINT) AS n_shingles
         FROM sh GROUP BY lang ORDER BY lang"""),
    Gate("u2_snapshot_diff", (s, d) => {
      val orders = Tables.orders(s, d)
      // deterministic synthetic snapshots: old = keys not divisible by 7,
      // new = keys not divisible by 5, with every 3rd key's price bumped
      val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, round(col("o_totalprice") * 1.1, 2))
            .otherwise(col("o_totalprice")))
      graft.operators.SnapshotDiff.diffCounts(oldSnap, newSnap,
        "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
    },
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 7 != 0),
         n AS (SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice * 1.1, 2)
                ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 5 != 0),
         d AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
           END AS status
           FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT status, count(*) AS cnt FROM d WHERE status IS NOT NULL
         GROUP BY 1 ORDER BY status"""),
    // SCD type-2 dimension history from the orders log: per customer,
    // priority observations ordered by (date, orderkey) collapse into
    // validity-interval versions — full history rows pinned
    Gate("u5_scd2_history", (s, d) =>
      graft.operators.Scd2.build(
          Tables.orders(s, d).filter(col("o_custkey") < 100),
          "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
        .orderBy("o_custkey", "version"),
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version,
           valid_from, valid_to, valid_to IS NULL AS is_current
         FROM v ORDER BY o_custkey, version"""),
    // retention pruning: versions ended before the cutoff dropped, the
    // covering version clamped — as-of answers at/after the cutoff are
    // unchanged by construction; pruned history fully pinned
    Gate("u9_scd2_prune", (s, d) => {
      val hist = graft.operators.Scd2.build(
        Tables.orders(s, d).filter(col("o_custkey") < 100),
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.pruneBefore(hist,
          java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "o_custkey")
        .orderBy("o_custkey", "version")
    },
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s),
         kept AS (SELECT k, attr,
             greatest(valid_from, TIMESTAMP '1997-01-01 00:00:00')
               AS valid_from,
             valid_to, valid_to IS NULL AS is_current
           FROM v WHERE valid_to IS NULL
             OR valid_to > TIMESTAMP '1997-01-01 00:00:00')
         SELECT k AS o_custkey, attr AS o_orderpriority,
           row_number() OVER (PARTITION BY k ORDER BY valid_from)
             AS version,
           valid_from, valid_to, is_current
         FROM kept ORDER BY o_custkey, version"""),
    // late-arriving repair: history built WITHOUT the late slice, then
    // mergeLate rebuilds only the touched keys — the oracle does the
    // FULL rebuild over base ∪ late, so the incremental path is pinned
    // exactly equivalent to it
    Gate("u8_scd2_late_merge", (s, d) => {
      val base = Tables.orders(s, d)
        .filter(col("o_custkey") < 100 && pmod(col("o_orderkey"), lit(13L)) =!= 0)
      val late = Tables.orders(s, d)
        .filter(col("o_custkey") < 100 && pmod(col("o_custkey"), lit(5L)) === 0
          && pmod(col("o_orderkey"), lit(13L)) === 0)
      val hist = graft.operators.Scd2.build(
        base, "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.mergeLate(hist, base, late,
          "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
        .orderBy("o_custkey", "version")
    },
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100
             AND (o_orderkey % 13 <> 0 OR o_custkey % 5 = 0)),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version,
           valid_from, valid_to, valid_to IS NULL AS is_current
         FROM v ORDER BY o_custkey, version"""),
    // point-in-time (as-of) lookup against the same SCD2 history: the
    // "dimension value as of date X" query — at most one version per
    // key by the half-open interval construction, full row list pinned
    Gate("u7_scd2_asof", (s, d) => {
      val hist = graft.operators.Scd2.build(
        Tables.orders(s, d).filter(col("o_custkey") < 100),
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.asOf(hist,
          java.sql.Timestamp.valueOf("1995-06-15 00:00:00"))
        .select(col("o_custkey"), col("o_orderpriority"), col("version"),
          col("valid_from"))
        .orderBy("o_custkey")
    },
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version, valid_from
         FROM v
         WHERE valid_from <= TIMESTAMP '1995-06-15 00:00:00'
           AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-15 00:00:00')
         ORDER BY o_custkey"""),
    // interval-overlap join on the 10-minute grid: synthetic per-event
    // validity windows on two disjoint user bands; every overlapping
    // pair emitted exactly once (first-shared-bucket dedup) and the
    // full pair list pinned
    Gate("j9_interval_overlap", (s, d) => {
      val base = Tables.events(s, d).select(col("event_id"), col("user_id"),
        // house rule (Windows.scala): unix_millis rejects the fixtures'
        // TIMESTAMP_NTZ — cast first (exact under the pinned UTC session)
        expr("unix_millis(cast(ts as timestamp))").as("_ms"))
      val left = base.filter(col("user_id") < 5)
        .select(col("event_id").as("l_id"), col("_ms").as("ls"),
          (col("_ms") + (col("event_id") % 7 + 1) * 60000L).as("le"))
      val right = base.filter(col("user_id").between(5, 9))
        .select(col("event_id").as("r_id"), col("_ms").as("rs"),
          (col("_ms") + (col("event_id") % 11 + 1) * 60000L).as("re"))
      graft.operators.RangeJoin
        .intervalOverlap(left, right, "ls", "le", "rs", "re", 600000L)
        .orderBy("l_id", "r_id")
    },
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events),
         l AS (SELECT event_id AS l_id, ms AS ls,
             ms + (event_id % 7 + 1) * 60000 AS le FROM e WHERE user_id < 5),
         r AS (SELECT event_id AS r_id, ms AS rs,
             ms + (event_id % 11 + 1) * 60000 AS re
           FROM e WHERE user_id BETWEEN 5 AND 9)
         SELECT l_id, ls, le, r_id, rs, re
         FROM l JOIN r ON ls <= re AND rs <= le
         ORDER BY l_id, r_id"""),
    // temporal (point-in-time) dimension join: every order matched to
    // the priority version in effect at its own order date — the half-
    // open validity intervals make the match one-to-exactly-one here
    Gate("u6_scd2_temporal_join", (s, d) => {
      val pool = Tables.orders(s, d).filter(col("o_custkey") < 50)
      val hist = graft.operators.Scd2.build(pool,
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      val facts = pool.select("o_orderkey", "o_custkey", "o_orderdate")
      graft.operators.Scd2.joinAsOf(facts, hist, "o_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("version"))
        .orderBy("o_orderkey")
    },
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 50),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT o.o_orderkey, o.o_custkey, v.attr AS o_orderpriority, v.version
         FROM orders o JOIN v ON o.o_custkey = v.k
           AND o.o_orderdate >= v.valid_from
           AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
         WHERE o.o_custkey < 50
         ORDER BY o_orderkey"""),
    // MERGE/upsert applied to a snapshot: deterministic synthetic
    // changeset (deletes, in-place updates, brand-new keys), result
    // membership pinned per status via count / key-sum / price mass
    // zone-map build: per-layout-zone min/max/count of the query column
    // — the data-skipping metadata AS DATA; 32 fixed zones pinned
    Gate("ix1_zone_map", (s, d) =>
      graft.sources.ZoneMap.build(Tables.lineitem(s, d),
          "l_orderkey", "l_extendedprice", 32)
        .select(col("zone"), col("n_rows"),
          round(col("stat_min"), 4).as("stat_min"),
          round(col("stat_max"), 4).as("stat_max")),
      """WITH v AS (SELECT CAST(l_orderkey AS DOUBLE) AS l,
           CAST(l_extendedprice AS DOUBLE) AS c FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL),
         mm AS (SELECT min(l) AS mn, max(l) AS mx FROM v),
         z AS (SELECT CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((l - mn) / ((mx - mn) / 32)) AS BIGINT), 31)
             END AS zone, c FROM v, mm)
         SELECT zone, count(*) AS n_rows, round(min(c), 4) AS stat_min,
           round(max(c), 4) AS stat_max
         FROM z GROUP BY 1 ORDER BY zone"""),
    // zone-map skip report for a ~5%-selectivity price range: price is
    // uncorrelated with the orderkey layout, so the report must say
    // "scan everything" — the measurable re-cluster diagnosis
    Gate("ix2_zone_skip", (s, d) =>
      graft.sources.ZoneMap.skipReport(
        graft.sources.ZoneMap.build(Tables.lineitem(s, d),
          "l_orderkey", "l_extendedprice", 32),
        1000.0, 6000.0),
      """WITH v AS (SELECT CAST(l_orderkey AS DOUBLE) AS l,
           CAST(l_extendedprice AS DOUBLE) AS c FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL),
         mm AS (SELECT min(l) AS mn, max(l) AS mx FROM v),
         z AS (SELECT CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((l - mn) / ((mx - mn) / 32)) AS BIGINT), 31)
             END AS zone, c FROM v, mm),
         zm AS (SELECT zone, count(*) AS n_rows, min(c) AS smin,
           max(c) AS smax FROM z GROUP BY 1),
         kept AS (SELECT count(*) AS zones_scanned,
           CAST(COALESCE(sum(n_rows), 0) AS BIGINT) AS rows_scanned
           FROM zm WHERE smax >= 1000.0 AND smin <= 6000.0),
         tot AS (SELECT count(*) AS zones_total,
           CAST(sum(n_rows) AS BIGINT) AS rows_total FROM zm)
         SELECT zones_total, zones_scanned, rows_total, rows_scanned,
           round(rows_scanned / (1.0 * rows_total), 6) AS scan_fraction
         FROM tot, kept"""),
    // incremental view maintenance: the count/sum view rolled forward
    // from the changeset ALONE (one changeset-keyed join against the
    // base — never a rescan); pinned against the oracle's full
    // recompute of the merged snapshot
    Gate("iv1_incremental_agg", (s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("delete").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val updates = base
        .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("upsert").as("op"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 1.2, 2).as("o_totalprice"))
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("upsert").as("op"), lit("N").as("o_orderstatus"),
          lit(100.0).as("o_totalprice"))
      val changes = deletes.unionByName(updates).unionByName(inserts)
      val oldView = graft.operators.SnapshotDiff.aggView(
        base, "o_orderstatus", "o_totalprice")
      graft.operators.SnapshotDiff.incrementalAggUpdate(oldView, base,
          changes, "o_orderkey", "o_orderstatus", "o_totalprice")
        .select(col("o_orderstatus"), col("cnt"),
          round(col("val_sum"), 0).as("val_sum"))
        .orderBy("o_orderstatus")
    },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         ch AS (
           SELECT o_orderkey, 'delete' AS op, NULL AS o_orderstatus,
             NULL::DOUBLE AS o_totalprice FROM base WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT o_orderkey, 'upsert', o_orderstatus, round(o_totalprice * 1.2, 2)
           FROM base WHERE o_orderkey % 5 != 0 AND o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, 'upsert', 'N', 100.0
           FROM base WHERE o_orderkey % 11 = 0),
         merged AS (
           SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM ch WHERE op = 'upsert')
         SELECT o_orderstatus, count(*) AS cnt,
           round(sum(o_totalprice), 0) AS val_sum
         FROM merged GROUP BY 1 ORDER BY o_orderstatus"""),
    Gate("u4_merge_apply", (s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("delete").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val updates = base
        .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("upsert").as("op"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 1.2, 2).as("o_totalprice"))
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("upsert").as("op"), lit("N").as("o_orderstatus"),
          lit(100.0).as("o_totalprice"))
      val merged = graft.operators.SnapshotDiff.applyChangeset(
        base, deletes.unionByName(updates).unionByName(inserts), "o_orderkey")
      merged.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"),
          round(sum("o_totalprice"), 0).as("total"))
        .orderBy("o_orderstatus")
    },
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         ch AS (
           SELECT o_orderkey, 'delete' AS op, NULL AS o_orderstatus,
             NULL::DOUBLE AS o_totalprice FROM base WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT o_orderkey, 'upsert', o_orderstatus, round(o_totalprice * 1.2, 2)
           FROM base WHERE o_orderkey % 5 != 0 AND o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, 'upsert', 'N', 100.0
           FROM base WHERE o_orderkey % 11 = 0),
         merged AS (
           SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM ch WHERE op = 'upsert')
         SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice), 0) AS total
         FROM merged GROUP BY 1 ORDER BY o_orderstatus"""),
    // persistent bucketed layout end to end: both join sides written
    // bucketBy(8) on the key, then the co-located join (SortMergeJoin
    // with ZERO Exchange — asserted in BucketingSpec) must reproduce the
    // plain shuffled join's result exactly. At 100 TB this is the layout
    // that amortizes a repeated fact-fact join's shuffle across jobs.
    Gate("b1_bucketed_join", (s, d) => {
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, d).select("o_custkey", "o_totalprice"),
        "graft_b1_orders", "o_custkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "graft_b1_customer", "o_custkey", buckets = 8)
      graft.sources.Bucketing
        .coLocatedJoin(s, "graft_b1_orders", "graft_b1_customer", "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
        .orderBy("c_mktsegment")
    },
      // the bucketed layout must change the PLAN (no Exchange), never the
      // ANSWER — pinned to the identical plain-join aggregate
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment"""),
    Gate("u1_union_by_name", (s, d) =>
      Relational.unionByNameEntities(Tables.customer(s, d), Tables.supplier(s, d)),
      """SELECT 'customer' AS kind, c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
         c_mktsegment AS segment FROM customer
         UNION ALL
         SELECT 'supplier' AS kind, s_suppkey AS id, s_name AS name, s_acctbal AS acctbal,
         NULL AS segment FROM supplier
         ORDER BY kind, id"""),
    Gate("j1_join_segment", (s, d) =>
      Joins.ordersBySegment(Tables.orders(s, d), Tables.customer(s, d)),
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment"""),
    Gate("j2_snowflake_dims", (s, d) =>
      Joins.customersByRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      """SELECT r_name, count(*) AS cnt, round(avg(c_acctbal),4) AS avg_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY r_name"""),
    Gate("j3_semi_topk", (s, d) => Joins.topCustomerOrders(Tables.orders(s, d)),
      """WITH topk AS (SELECT o_custkey FROM orders GROUP BY 1
           ORDER BY count(*) DESC, o_custkey LIMIT 5)
         SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders WHERE o_custkey IN (SELECT o_custkey FROM topk)
         GROUP BY 1 ORDER BY o_custkey"""),
    Gate("j5_salted_join", (s, d) =>
      graft.operators.Skew.saltedJoin(
          Tables.orders(s, d).withColumnRenamed("o_custkey", "c_custkey"),
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment"""),
    // full-outer join with unmatched rows engineered on BOTH sides
    // (filtered key subsets), membership pinned via side-tagged id sums
    Gate("j6_full_outer", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNotNull && col("o_orderkey").isNotNull, "matched")
            .when(col("o_orderkey").isNull, "customer_only")
            .otherwise("order_only").as("side"),
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("o_orderkey"))
        .groupBy("side")
        .agg(count(lit(1)).as("cnt"), sum("k").as("key_sum"),
          sum(coalesce(col("o_orderkey"), lit(0L))).as("order_sum"))
        .orderBy("side")
    },
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0),
         o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         f AS (SELECT CASE
             WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL THEN 'matched'
             WHEN o_orderkey IS NULL THEN 'customer_only'
             ELSE 'order_only' END AS side,
           COALESCE(c_custkey, o_custkey) AS k, o_orderkey
           FROM c FULL OUTER JOIN o ON c_custkey = o_custkey)
         SELECT side, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS key_sum,
           CAST(sum(COALESCE(o_orderkey, 0)) AS BIGINT) AS order_sum
         FROM f GROUP BY 1 ORDER BY side"""),
    Gate("j4_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "ts")
      graft.operators.RangeJoin
        .pointInInterval(clicks, intervals, "ts", "start_ts", "end_ts")
        .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("err_id")
    },
      """WITH err AS (SELECT event_id AS err_id, ts AS start_ts,
           ts + INTERVAL 1 HOUR AS end_ts FROM events WHERE event_type = 'error'),
         clk AS (SELECT ts FROM events WHERE event_type = 'click')
         SELECT err_id, count(*) AS n_clicks
         FROM err JOIN clk ON clk.ts >= err.start_ts AND clk.ts <= err.end_ts
         GROUP BY 1 ORDER BY err_id"""),
    // skyline query: distinct (price, discount) points nobody Pareto-
    // dominates, via the descending sweep + bucketed running max — the
    // oracle replays the same sweep-line identity in SQL window form
    Gate("sk1_pareto_frontier", (s, d) =>
      graft.operators.Skyline.paretoFrontier2D(Tables.lineitem(s, d),
        "l_extendedprice", "l_discount"),
      """WITH pts AS (SELECT DISTINCT CAST(l_extendedprice AS DOUBLE) AS x,
           CAST(l_discount AS DOUBLE) AS y FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
         m AS (SELECT x, y, max(y) OVER (ORDER BY x DESC, y DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM pts)
         SELECT x AS l_extendedprice, y AS l_discount FROM m
         WHERE pmax IS NULL OR y > pmax ORDER BY x DESC"""),
    // Morton/z-order layout key: literal bit interleaving, pinned per
    // z-range bucket (the file-level min/max a 2-D predicate prunes on)
    Gate("z1_zorder_bucket", (s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.ZOrder.zorderKey2(
          pmod(col("l_partkey"), lit(256L)), pmod(col("l_suppkey"), lit(256L)),
          bits = 8).as("zkey"),
          col("l_orderkey"))
        .groupBy(floor(col("zkey") / 256).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("zkey").as("z_min"),
          max("zkey").as("z_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("z_bucket"),
      s"""WITH z AS (SELECT
           ${zorderSql(Seq("l_partkey % 256", "l_suppkey % 256"), 8)} AS zkey,
           l_orderkey FROM lineitem)
         SELECT CAST(floor(zkey / 256) AS BIGINT) AS z_bucket,
           count(*) AS n_rows, min(zkey) AS z_min, max(zkey) AS z_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM z GROUP BY 1 ORDER BY z_bucket"""),
    // per-stratum keep rates resolved row-locally; kept membership is a
    // pure function of (doc_id, source) so fully pinned — src2 at 100%
    // and the 5% default exercise both clamp ends
    Gate("p20_stratified_sample", (s, d) =>
      graft.operators.Relational.stratifiedHashSample(Tables.documents(s, d),
          "doc_id", "source",
          Map("src0" -> 50, "src1" -> 10, "src2" -> 100, "src3" -> 25),
          defaultPct = 5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source"),
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM documents
         WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 <
           CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 10
             WHEN 'src2' THEN 100 WHEN 'src3' THEN 25 ELSE 5 END
         GROUP BY 1 ORDER BY source"""),
    // Bloom pre-filtered fact⋈dim join: false positives are re-verified
    // by the join itself, so the result is EXACTLY the plain join the
    // oracle runs — what the gate pins is that the shuffle-reduction
    // path loses nothing
    Gate("j7_bloom_prefilter", (s, d) => {
      val dim = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      graft.operators.BloomJoin.bloomPrefilteredJoin(
          Tables.orders(s, d), dim, "o_custkey", "c_custkey", 1L << 16)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"),
          sum("o_orderkey").as("key_sum"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1 ORDER BY o_orderpriority"""),
    // A24/U2 schema set-compare as data: per-table unique columns plus
    // the all-tables-common set, pinned against the oracle's
    // information_schema view of the same parquet files
    Gate("sc1_schema_compare", (s, d) => {
      import s.implicits._
      val rep = graft.operators.SchemaCompare.compare(Map(
        "orders" -> Tables.orders(s, d),
        "customer" -> Tables.customer(s, d),
        "lineitem" -> Tables.lineitem(s, d)))
      val rows =
        rep.onlyIn.toSeq.flatMap { case (t, cols) =>
          cols.toSeq.map(c => (t, c, "only")) } ++
        rep.common.toSeq.map(c => ("*", c, "common"))
      rows.toDF("table_name", "column_name", "status")
        .orderBy("table_name", "column_name")
    },
      """WITH c AS (SELECT table_name, column_name
           FROM information_schema.columns
           WHERE table_name IN ('orders', 'customer', 'lineitem')),
         n AS (SELECT column_name, count(DISTINCT table_name) AS k
           FROM c GROUP BY 1)
         SELECT table_name, column_name, 'only' AS status
           FROM c JOIN n USING (column_name) WHERE k = 1
         UNION ALL
         SELECT '*' AS table_name, column_name, 'common' AS status
           FROM n WHERE k = 3
         ORDER BY table_name, column_name"""),
    // CDC log compaction: each key's op sequence collapses to its net
    // endpoint effect in ONE min_by/max_by aggregation (no per-key
    // sort); ~75 ops per key net to one row
    Gate("u12_cdc_compaction", (s, d) => {
      val log = Tables.orders(s, d).select(
        pmod(col("o_orderkey"), lit(200L)).as("k"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, "insert")
          .when(col("o_orderkey") % 7 < 4, "update")
          .otherwise("delete").as("op"),
        when(col("o_orderkey") % 7 =!= 0, col("o_totalprice")).as("before"),
        when(col("o_orderkey") % 7 < 4, col("o_totalprice") + 1).as("after"))
      graft.operators.CdcCompact.compact(log, "k", "seq").orderBy("k")
    },
      """WITH log AS (SELECT o_orderkey % 200 AS k, o_orderkey AS seq,
           CASE WHEN o_orderkey % 7 = 0 THEN 'insert'
             WHEN o_orderkey % 7 < 4 THEN 'update'
             ELSE 'delete' END AS op,
           CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS before,
           CASE WHEN o_orderkey % 7 < 4 THEN o_totalprice + 1 END AS after
           FROM orders),
         ends AS (SELECT k, min(seq) AS fs, max(seq) AS ls
           FROM log GROUP BY 1),
         j AS (SELECT e.k, f.op AS fop, l.op AS lop,
             f.before AS fb, l.after AS la
           FROM ends e
           JOIN log f ON f.k = e.k AND f.seq = e.fs
           JOIN log l ON l.k = e.k AND l.seq = e.ls),
         net AS (SELECT k,
             CASE WHEN fop <> 'insert' AND lop <> 'delete' THEN 'update'
               WHEN fop <> 'insert' THEN 'delete'
               WHEN lop <> 'delete' THEN 'insert' END AS op,
             CASE WHEN fop <> 'insert' THEN fb END AS before,
             CASE WHEN lop <> 'delete' THEN la END AS after
           FROM j)
         SELECT k, op, before, after FROM net
         WHERE op IS NOT NULL
           AND NOT (op = 'update' AND before IS NOT DISTINCT FROM after)
         ORDER BY k"""),
    // incremental view maintenance: the maintained (key -> n, sum)
    // view after a CDC batch (delete %11, update %13, insert %17) must
    // EQUAL the oracle's full recompute over the merged base — the
    // delta rule touches only the batch, never the corpus
    Gate("u11_incremental_agg", (s, d) => {
      import graft.operators.IncrementalAgg
      val base = Tables.orders(s, d)
      val view = IncrementalAgg.viewOf(base, "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderstatus"), lit("delete").as("op"),
          col("o_totalprice").as("before"),
          lit(null).cast("double").as("after"))
      val updates = base
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderstatus"), lit("update").as("op"),
          col("o_totalprice").as("before"),
          (col("o_totalprice") * 1.1).as("after"))
      val inserts = base.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderstatus"), lit("insert").as("op"),
          lit(null).cast("double").as("before"),
          (col("o_totalprice") + 5).as("after"))
      IncrementalAgg.applyCdc(view,
          deletes.unionByName(updates).unionByName(inserts), "o_orderstatus")
        .select(col("o_orderstatus"), col("n"),
          round(col("total"), 0).as("total"),
          round(col("total") / col("n"), 4).as("avg_value"))
        .orderBy("o_orderstatus")
    },
      """WITH survivors AS (SELECT o_orderstatus AS k,
           CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS v
           FROM orders WHERE o_orderkey % 11 <> 0),
         ins AS (SELECT o_orderstatus AS k, o_totalprice + 5 AS v
           FROM orders WHERE o_orderkey % 17 = 0),
         m AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
         SELECT k AS o_orderstatus, count(*) AS n,
           round(sum(v), 0) AS total,
           round(sum(v) / count(*), 4) AS avg_value
         FROM m GROUP BY 1 ORDER BY 1"""),
    // Hilbert-curve layout key (better range locality than z1/z2's
    // Morton key): bucket census over the order-4 curve position,
    // pinned against an oracle UNROLLED from the same quadrant fold
    Gate("z3_hilbert_bucket", (s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.Hilbert.hilbertKey2(
          pmod(col("l_partkey"), lit(16L)), pmod(col("l_suppkey"), lit(16L)),
          bits = 4).as("hkey"),
          col("l_orderkey"))
        .groupBy(floor(col("hkey") / 16).as("h_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("hkey").as("h_min"),
          max("hkey").as("h_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("h_bucket"),
      s"""WITH ${graft.operators.Hilbert.hilbertSql2(
             "l_partkey % 16", "l_suppkey % 16", 4,
             "FROM lineitem", "l_orderkey")}
         SELECT CAST(floor(d / 16) AS BIGINT) AS h_bucket,
           count(*) AS n_rows, CAST(min(d) AS BIGINT) AS h_min,
           CAST(max(d) AS BIGINT) AS h_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM h4 GROUP BY 1 ORDER BY h_bucket""")
  )

  /** Morton bit-interleave of N integer expressions as plain DuckDB
    * shift/mask arithmetic — the SQL mirror of
    * [[graft.operators.ZOrder.zorderKeyN]] (bit i of expr j at
    * position i·N + j). */
  private def zorderSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.length
    (for { i <- 0 until bits; (e, j) <- exprs.zipWithIndex }
      yield s"((($e) >> $i) & 1) * ${1L << (i * n + j)}").mkString(" + ")
  }
}
