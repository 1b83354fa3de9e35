package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph summary statistics that read off joins + one aggregate —
  * no iteration. First resident: degree assortativity (Newman 2002),
  * the "do hubs link to hubs" coefficient — Pearson correlation of
  * endpoint degrees over the undirected edge list, a one-number health
  * check for link-graph-derived quality signals (web graphs are
  * disassortative; a positive value on crawl data usually means link
  * farms).
  *
  * Scale shape: canonicalize + distinct (one shuffle), a degree count
  * (one partial→final agg), two degree joins back to edges (node-keyed;
  * the degree table is |V| rows of 16 bytes — broadcastable for most
  * graphs), then ONE corr aggregate over both edge orientations. No
  * window, no loop, nothing driver-side.
  */
object GraphStats {

  /** Discrete power-law exponent of the degree distribution by the
    * Clauset–Shalizi–Newman continuous-approximation MLE:
    * α = 1 + n / Σ ln(d / (kmin − ½)) over degrees ≥ kmin — the
    * "is this graph scale-free" summary (web/link graphs: α ≈ 2–3;
    * α far outside that on crawl data flags synthetic link spam).
    * Companion to the text-side Zipf slope (t22).
    *
    * One degree aggregation, one filtered scalar aggregate; the only
    * floats are the final logs. Output: (kmin, n_tail, max_degree,
    * alpha). */
  def powerLawAlpha(edges: DataFrame, kmin: Int = 2): DataFrame = {
    require(kmin >= 1, s"kmin must be >= 1, got $kmin")
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // endpoint rows via explode, not unionAll of two projections: ONE
    // pass over the edge list instead of two, and no duplicated edge
    // subtree in the plan (r14 A/B: the union shape measured ~2.5x the
    // explode shape on the cached fixture edge list)
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= kmin)
      .agg(count(lit(1)).as("n_tail"), max("deg").as("max_degree"),
        sum(log(col("deg").cast("double") / lit(kmin - 0.5))).as("_s"))
      .select(lit(kmin).as("kmin"), col("n_tail"), col("max_degree"),
        round(lit(1.0) + col("n_tail").cast("double") / col("_s"), 6)
          .as("alpha"))
  }

  /** Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the communities
    * [[LabelProp]] finds — the standard "are these communities real"
    * score (Q ≈ 0: no better than random; Q ≳ 0.3: strong structure),
    * closing the loop on g9: not just WHICH communities, but whether
    * the partition means anything.
    *
    * Scale shape: label propagation's own rounds dominate; the
    * modularity read-out is one degree aggregate, two node-keyed label
    * joins over the edge list, and a community-cardinality roll-up.
    * All counts integer; only the final Q arithmetic is float. */
  def modularity(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct().persist()
    try {
      // labelsOf returns a lazily checkpointed frame with three
      // consumers here (dc once, ec twice); forcing it eager was tried
      // and measured NO better (r14 A/B median flat, worst run 2x) —
      // the racing duplicate stages overlap on idle cores while an
      // eager checkpoint serializes propagation before the readout
      val labels = LabelProp.labelsOf(edges, rounds)
      val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val m1 = und.agg(count(lit(1)).cast("double").as("m"))
      val dc = labels.join(deg, "v")
        .groupBy("label").agg(sum("deg").as("d_c"))
      val ec = und
        .join(labels.select(col("v").as("a"), col("label").as("la")), "a")
        .join(labels.select(col("v").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_c"))
      val term = col("e_c") / col("m") -
        (col("d_c") / (lit(2) * col("m"))) * (col("d_c") / (lit(2) * col("m")))
      dc.join(ec, Seq("label"), "left")
        .na.fill(0L, Seq("e_c"))
        .crossJoin(broadcast(m1))
        .agg(count(lit(1)).as("n_communities"),
          max(col("m")).cast("long").as("n_edges"),
          round(sum(term), 6).as("modularity"))
        .localCheckpoint(true)
    } finally und.unpersist()
  }

  /** Degree assortativity of the undirected simple graph induced by
    * `edges` (self-loops dropped, parallel edges collapsed). Returns
    * one row: (n_nodes, n_edges, assortativity rounded to `digits`) —
    * corr computed over BOTH orientations of every edge, the standard
    * undirected formulation. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist()
    try {
      // explode, not unionAll: one pass over the cached edge list for
      // the degree count (r14 A/B: union shape ~2.5x slower)
      val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // materialize the per-edge degree pairs EAGERLY before the
      // both-orientations union: the union's two branches otherwise each
      // carry the full join subtree (degree agg x2 per branch = 4 copies
      // in the plan) and race at execution (r14 A/B on the g12 fixture:
      // 2.85s -> 1.29s min-of-3, value identical)
      val pairs = e
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(col("da"), col("db"))
        .localCheckpoint(true)
      val both = pairs.select(col("da").as("dx"), col("db").as("dy"))
        .unionAll(pairs.select(col("db").as("dx"), col("da").as("dy")))
      // explicit Pearson (cov/σσ in population form — the n/(n−1)
      // factors cancel, so ≡ SQL corr): Spark's corr AGGREGATE divides
      // unconditionally and under ANSI throws DIVIDE_BY_ZERO on a
      // degree-regular graph; a CaseWhen-guarded division evaluates
      // lazily, yielding SQL's NULL instead
      val dx = col("dx").cast("double")
      val dy = col("dy").cast("double")
      val (cov, vx, vy) = (covar_pop(dx, dy), var_pop(dx), var_pop(dy))
      both.agg(
          count(lit(1)).as("n_endpoints"),
          when(vx > 0 && vy > 0, round(cov / sqrt(vx * vy), 6))
            .as("assortativity"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
        .select(col("n_edges"), col("n_endpoints"), col("assortativity"))
        .localCheckpoint(true)
    } finally e.unpersist()
  }
}
