package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining: pairwise association rules
  * (support / confidence / lift) over items grouped into baskets — the
  * classic retail-analytics operator (Agrawal & Srikant, "Fast
  * Algorithms for Mining Association Rules", VLDB 1994, restricted to
  * 2-itemsets) and, in a training-data pipeline, the same shape that
  * surfaces correlated source/label co-occurrence inside documents.
  *
  * Scale shape: the quadratic step is the per-basket self-join, co-
  * partitioned on the basket key — one shuffle, and the fan-out is
  * bounded by (items-per-basket choose 2), never by corpus size. Item
  * marginals are a separate one-pass aggregate whose result is
  * item-cardinality-sized (tiny) and broadcast into the final lift
  * computation, so no per-pair shuffle of the marginals either. All
  * counts stay exact integers until the final three divisions, making
  * the result bit-reproducible across engines.
  */
object MarketBasket {

  /** Association stats for every unordered pair of distinct item values
    * co-occurring in a basket: `n_both`, `support` = n_both/n_baskets,
    * `confidence` = P(b|a) (a = lexicographically smaller item), and
    * `lift` = support / (P(a)·P(b)). Baskets with one item contribute
    * to marginals only — exactly the textbook definitions. */
  def pairRules(df: DataFrame, basketCol: String, itemCol: String): DataFrame = {
    val baskets = df.select(col(basketCol).as("bk"), col(itemCol).as("item")).distinct()
    val nBaskets = baskets.agg(countDistinct("bk").as("n_baskets"))
    val marg = baskets.groupBy("item").agg(count(lit(1)).as("n_item"))
    val a = baskets.select(col("bk"), col("item").as("item_a"))
    val b = baskets.select(col("bk"), col("item").as("item_b"))
    val pairs = a.join(b, Seq("bk")).filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("item").as("item_a"), col("n_item").as("n_a"))), "item_a")
      .join(broadcast(marg.select(col("item").as("item_b"), col("n_item").as("n_b"))), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both") / col("n_baskets"), 6).as("support"),
        round(col("n_both") / col("n_a"), 6).as("confidence"),
        round(col("n_both") * col("n_baskets") / (col("n_a") * col("n_b")), 4).as("lift"))
      .orderBy("item_a", "item_b")
  }

  /** Item-item collaborative filtering (Linden, Smith & York,
    * "Amazon.com Recommendations: Item-to-Item Collaborative
    * Filtering", IEEE Internet Computing 2003): per item, the top-k
    * co-occurring items by cosine similarity n_xy / √(n_x·n_y) over
    * basket membership. [[pairRules]]'s global association twin,
    * re-ranked per item — the "customers who bought X also bought"
    * operator.
    *
    * Scale shape: identical pair generation (per-basket-bounded
    * quadratic, co-partitioned on the basket key); marginals broadcast;
    * the per-item top-k is a rank window partitioned by item, which
    * Spark caps map-side via WindowGroupLimit. Cosines are ROUNDED
    * before ranking and ties break on the neighbor id, so the cut is
    * engine-independent. All integers until the one division. */
  def itemItemTopK(df: DataFrame, basketCol: String, itemCol: String,
                   k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val baskets = df.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
    val marg = baskets.groupBy("item").agg(count(lit(1)).as("n_item"))
    val a = baskets.select(col("bk"), col("item"))
    val b = baskets.select(col("bk"), col("item").as("other"))
    val pairs = a.join(b, Seq("bk")).filter(col("item") =!= col("other"))
      .groupBy("item", "other").agg(count(lit(1)).as("n_both"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("item")
      .orderBy(col("cosine").desc, col("other"))
    pairs
      .join(broadcast(marg.select(col("item"), col("n_item").as("n_x"))), "item")
      .join(broadcast(marg.select(col("item").as("other"),
        col("n_item").as("n_y"))), "other")
      .withColumn("cosine",
        round(col("n_both") / sqrt(col("n_x") * col("n_y")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("item", "rank", "other", "n_both", "cosine")
      .orderBy("item", "rank")
  }
}
