package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join shapes from SURVEY §2.3, sized for a 1000-executor cluster:
  * dimension joins are explicitly `broadcast` (no shuffle of the fact
  * side), the fact-fact join shuffles on the join key once, and the
  * top-k semi-join broadcasts the tiny key set instead of collecting it
  * to the driver (the reference's `isin(top_ids)` pattern,
  * `part2.ipynb` cell 13:335, collects — ours stays distributed). */
object Joins {

  /** Relative standard deviation of the HLL sketches in
    * [[joinCardinalityEstimate]]. */
  private val Rsd = 0.02

  /** J1: fact ⋈ dimension equi-join + aggregate (`part2.ipynb` cell 29's
    * daily-weather join shape). Customer is small → broadcast. */
  def ordersBySegment(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
      .orderBy("c_mktsegment")

  /** J2: snowflake dimension chain (zone-lookup analog,
    * `generate_notebooks_auto.py:383-430`) — both dims broadcast; the
    * fact table never shuffles. */
  def customersByRegion(customer: DataFrame, nation: DataFrame,
                        region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("cnt"), round(avg("c_acctbal"), 4).as("avg_acctbal"))
      .orderBy("r_name")

  /** J3: restrict to top-k keys via left-semi join (`part2.ipynb` cells
    * 13/15/21 `isin(top_ids)`). The top-k frame is tiny → broadcast
    * semi-join; no driver collect. */
  def topCustomerOrders(orders: DataFrame): DataFrame = {
    val topK = orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("o_custkey"))
      .limit(5)
      .select("o_custkey")
    orders
      .join(broadcast(topK), Seq("o_custkey"), "left_semi")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
      .orderBy("o_custkey")
  }

  /** Pre-flight equi-join size estimate — the check you run BEFORE
    * committing a 100 TB join: row counts, HLL distinct-key counts on
    * both sides, key overlap via inclusion–exclusion on a sketch of the
    * union, and the estimated output size
    * `overlap · (n_left/d_left) · (n_right/d_right)` (uniform-multiplicity
    * model — exact when each key's multiplicities are uncorrelated
    * across sides). One lightweight pass per side plus one over the
    * key union; sketch state is constant per task regardless of input
    * size, so this costs a scan, never a shuffle of the data.
    *
    * Output (one row): n_left, n_right, d_left, d_right, d_overlap,
    * est_join_rows — all from sketches; compare against the exact
    * figures before trusting a plan to them (the j8 gate does exactly
    * that mechanically). */
  def joinCardinalityEstimate(left: DataFrame, leftKey: String,
                              right: DataFrame, rightKey: String): DataFrame = {
    val a = left.select(col(leftKey).as("k")).filter(col("k").isNotNull)
    val b = right.select(col(rightKey).as("k")).filter(col("k").isNotNull)
    val sa = a.agg(count(lit(1)).as("n_left"),
      approx_count_distinct(col("k"), Rsd).as("d_left"))
    val sb = b.agg(count(lit(1)).as("n_right"),
      approx_count_distinct(col("k"), Rsd).as("d_right"))
    val su = a.union(b).agg(approx_count_distinct(col("k"), Rsd).as("d_union"))
    sa.crossJoin(sb).crossJoin(su)
      .withColumn("d_overlap",
        greatest(col("d_left") + col("d_right") - col("d_union"), lit(0L)))
      .withColumn("est_join_rows",
        (col("d_overlap") *
          (col("n_left").cast("double") / col("d_left")) *
          (col("n_right").cast("double") / col("d_right"))).cast("long"))
  }

  /** Anti-join: left keys with NO right match — the referential-
    * integrity / orphan probe (unmatched dims, missed backfills).
    * LeftAnti is the join type, not a NOT IN subquery: it short-
    * circuits per probe row, broadcasts when the right side is small,
    * and — unlike NOT IN — has sane null semantics. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orphans"),
        sum("c_custkey").as("id_sum"))
      .orderBy("c_mktsegment")

  /** TPC-H Q5-shaped star query — the one gate that joins BOTH fact
    * tables: lineitem ⋈ orders shuffles once on the orderkey (at 100 TB
    * these are the two tables that cannot broadcast; AQE co-partitions
    * the exchange), customer rides the same pattern keyed by custkey,
    * and the snowflake tail (nation → region) is explicitly broadcast
    * so the billion-row side never moves for the tiny dims. The date
    * predicate sits on the orders SCAN (pushed filter) so the expensive
    * join only sees the selected years. Revenue is
    * Σ extendedprice·(1−discount), the reference's fare-revenue shape
    * (`part2.ipynb` cell 29 analog) generalized to the star schema. */
  def revenueByNation(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, nation: DataFrame,
                      region: DataFrame): DataFrame =
    lineitem
      .join(orders.filter(year(col("o_orderdate")).between(1996, 1997)),
        lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("r_name", "n_name")

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics a late-
    * arriving-dimension or sentinel-key merge needs. Both sides are
    * aggregated to per-key counts FIRST, so the null bucket joins as
    * ONE row per side (the raw null×null cross product would be the
    * classic blow-up: 10% nulls on both sides of a fact join = 1% of
    * the full cross product). */
  def nullSafeKeyMatch(left: DataFrame, leftKey: org.apache.spark.sql.Column,
                       right: DataFrame, rightKey: org.apache.spark.sql.Column)
      : DataFrame = {
    val l = left.select(leftKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("left_cnt"))
    val r = right.select(rightKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("right_cnt"))
    l.join(r, l("k") <=> r("k"), "inner")
      .select(coalesce(l("k"), lit(-1L)).as("key"),
        col("left_cnt"), col("right_cnt"))
      .orderBy("key")
  }
}
