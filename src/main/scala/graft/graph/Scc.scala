package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession.labeled

/** Strongly connected components of a DIRECTED graph — the directed
  * sibling of [[graft.dedup.StarComponents]] (whose min-label result is
  * only correct for undirected reachability).
  *
  * Algorithm: FW–BW divide-and-conquer (Fleischer, Hendrickson &
  * Pinar 2000) generalized to double-label partition refinement (the
  * multi-class peel in the spirit of Orzan's coloring / Hong et al.
  * PPoPP 2013 multi-pivot practice), run BREADTH-FIRST: every live
  * subproblem ("part") advances simultaneously inside one DataFrame,
  * so recursion depth costs levels, never task count. Per level, on
  * each part:
  *
  *   1. TRIM: nodes with no in-edges or no out-edges inside their part
  *      are singleton SCCs — removed in bulk (one degree aggregate).
  *   2. LABEL: forward and backward min-(priority, node) labels over
  *      the part-internal edges, where priority = xxhash64(node, level)
  *      (deterministic pseudo-randomness — partition-invariant and
  *      oracle-replayable). Propagation uses POINTER JUMPING: each
  *      round a node takes the min of its own label, its in-neighbors'
  *      labels, and its label node's label (applied twice) — covered
  *      distance grows geometrically, so fixpoint lands in
  *      O(log diameter) rounds instead of O(diameter) (a bare N-cycle
  *      converges in ~1.5·log₂N rounds, simulated and spec-asserted;
  *      the jump preserves the invariant "label reaches v", and at
  *      fixpoint the label IS the true minimum, because labels are
  *      non-increasing along edges and a smaller-priority fixpoint
  *      label would itself be a reacher).
  *   3. PEEL: at fixpoint both labels are CONSTANT on each SCC (labels
  *      are non-increasing along edges, and an SCC's internal cycles
  *      force equality), so `fwdLabel == bwdLabel` marks COMPLETE SCCs
  *      — every SCC whose label-node both reaches and is reached by
  *      all members peels at once; each part's priority-minimum node is
  *      always its own double label, so every part peels ≥1 node per
  *      level (guaranteed progress). Output labels are min node id per
  *      peeled group — partition- and priority-invariant.
  *   4. SPLIT: survivors refine by their full (fwdLabel, bwdLabel)
  *      PAIR — the finest SCC-closed refinement the labels yield (no
  *      SCC spans two classes; classic FW-BW's 3-way pivot split is a
  *      coarsening). Cross-class edges drop. A deep singleton CHAIN —
  *      the pathology that peeled one end per round in the round-10
  *      form — now shatters at every prefix/suffix priority record
  *      (~2·ln n classes per level): O(log n) levels, asserted by
  *      SccSpec's chain/cycle cases.
  *
  * Scale shape: every step is joins + aggregates on (node)/(src,dst)
  * keys with `localCheckpoint` cutting lineage per round (the
  * [[PageRank]]/[[Bfs]] discipline); driver state is one scalar probe
  * per round (changed-count / emptiness — the house-approved
  * convergence pattern). Work per level is proportional to the live
  * subgraph; parts are data parallelism, not scheduling units.
  * `maxLevels`/`maxPropRounds` still refuse LOUDLY rather than return
  * a partial labeling (the [[graft.dedup.StarComponents]] contract),
  * but both bounds are now logarithmic-regime backstops, not
  * diameter-shaped cliffs.
  */
object Scc {

  /** Eager lineage cut WITH a statistics reset. A plain localCheckpoint
    * carries the origin plan's sizeInBytes ESTIMATE forward, and the
    * pointer-jump self-joins square that estimate every round — after r
    * rounds the BigInt carries ~2^r bits and Catalyst's stats visitor
    * stalls in BigInteger.multiply (observed live: minutes per plan on
    * a 200-node probe). Rebuilding from the materialized RDD resets the
    * estimate to the conf default; the label/edge joins are node-keyed
    * shuffle joins either way, so no broadcast opportunity is lost. */
  private def cp(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.localCheckpointFreshStats(df)

  /** (node, scc) for every node of the directed graph `edges`
    * (`src`, `dst` columns); `scc` is the minimum node id in the
    * component (deterministic, partition-invariant). */
  def components(edges: DataFrame): DataFrame =
    componentsAndCleanEdges(edges)._1
      .orderBy("node")

  /** [[components]] minus the public ordering contract, PLUS the
    * checkpointed cleaned edge list (cast, null-filtered, distinct) the
    * run already paid for — [[condensation]] / [[condensationLayers]]
    * reuse it instead of re-shuffling the raw edges a second time, and
    * join the UNSORTED labeling instead of paying components()'s output
    * sort (r14; identical labels either way). */
  private[graft] def componentsAndCleanEdges(
      edges: DataFrame): (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().transform(cp)
    var nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct().select(col("node"), lit(0L).as("part"))
      .transform(cp)
    var rem = e0.withColumn("part", lit(0L))
    // Per-level peel outputs accumulate as a driver-side LIST of frames
    // and union once at the end: every accumulated frame derives from a
    // level's already-checkpointed trimmed/cat RDD, so the deferred
    // union re-evaluates only a cheap projection/join per level — the
    // former running `result.unionByName(..).cp` paid two EAGER
    // materialization jobs per level for a frame nothing reads until
    // the loop ends (r13 profiling: the SCC gates are job-count-bound).
    // maxLevels bounds the union width at 2·64 children.
    val resultParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = 0
    while (!nodes.isEmpty) {
      require(level < 64,
        s"SCC did not converge in 64 FW-BW levels — refusing to " +
          "return a partial labeling (expected O(log n) with random " +
          "pivots; raise maxLevels if the graph genuinely needs more)")
      // every job of the level carries its 1-based number, and each
      // propagation round its own (SccSpec reads both off the labels)
      val levelLabel = s"scc: level ${level + 1}"
      labeled(spark, levelLabel) {
        // 1. trim: no in-edges or no out-edges within the node's part —
        // an SCC-mate would supply both, so these are singleton SCCs
        val hasIn = rem.select(col("dst").as("node")).distinct()
        val hasOut = rem.select(col("src").as("node")).distinct()
        val trimmed = nodes.select("node")
          .join(hasIn, Seq("node"), "left_anti")
          .union(nodes.select("node").join(hasOut, Seq("node"), "left_anti"))
          .distinct()
          .transform(cp)
        resultParts += trimmed.select(col("node"), col("node").as("scc"))
        nodes = nodes.join(trimmed, Seq("node"), "left_anti")
          .transform(cp)
        rem = rem
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst", "part").transform(cp)
        if (!nodes.isEmpty) {
          // 2. deterministic pseudo-random priority, new salt per level;
          // both directions propagate in ONE loop — `dir` is just another
          // key column, so the round count is max(fwd, bwd), not the sum
          val withPrio = nodes.withColumn("prio",
            xxhash64(col("node"), lit(level)))
          val dirEdges = rem.select(col("src"), col("dst"), lit(0).as("dir"))
            .union(rem.select(col("dst").as("src"), col("src").as("dst"),
              lit(1).as("dir")))
          val lab = minLabel(withPrio, dirEdges, 128, levelLabel)
          val cat = withPrio.select("node", "part")
            .join(lab.filter(col("dir") === 0)
              .select(col("node"), col("ln").as("f_ln")), "node")
            .join(lab.filter(col("dir") === 1)
              .select(col("node"), col("ln").as("b_ln")), "node")
            .transform(cp)
          // 3. peel every COMPLETE scc: fwd label == bwd label (labels are
          // constant per scc at fixpoint, so the group is the whole scc)
          val sccNodes = cat.filter(col("f_ln") === col("b_ln"))
          val labels = sccNodes.groupBy("part", "f_ln")
            .agg(min("node").as("scc"))
          resultParts += sccNodes.join(labels, Seq("part", "f_ln"))
            .select("node", "scc")
          // 4. split survivors by the full LABEL PAIR — the finest
          // SCC-closed refinement both propagations yield (every SCC has
          // constant labels, so no SCC spans two classes; this refines
          // classic FW-BW's 3-way pivot split, e.g. a singleton chain
          // shatters at every prefix/suffix priority record instead of
          // only at the pivot). Edges between classes can never be
          // intra-scc, so they drop with the refinement (a part-id hash
          // collision would only co-schedule two unrelated subproblems,
          // never merge their edge sets — correctness is unaffected)
          nodes = cat.filter(col("f_ln") =!= col("b_ln"))
            .select(col("node"),
              xxhash64(col("part"), col("f_ln"), col("b_ln")).as("part"))
            .transform(cp)
          rem = rem.select("src", "dst")
            .join(nodes.select(col("node").as("src"), col("part").as("ps")), "src")
            .join(nodes.select(col("node").as("dst"), col("part").as("pd")), "dst")
            .filter(col("ps") === col("pd"))
            .select(col("src"), col("dst"), col("ps").as("part"))
            .transform(cp)
        }
      }
      level += 1
    }
    val labeling = resultParts.reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(Long, Long)].toDF("node", "scc"))
    (labeling, e0)
  }

  /** Min-(priority, node) label propagation over directed edges to
    * fixpoint, with pointer jumping: per round each (node, dir) takes
    * the min of (its label, its in-neighbors' labels, its label node's
    * label). The jump preserves "label reaches me" (label(u) reaches u
    * reaches v, within the same direction), labels only decrease, and
    * at fixpoint the label is the true minimum over all reachers — in
    * O(log diameter) rounds, since covered distance at least doubles
    * per round. Convergence is probed EXACTLY with one scalar aggregate
    * per round (no comparison join): labels are lexicographically
    * monotone non-increasing, so if any `lp` changed, Σlp strictly
    * decreased (no increase can offset it), and if only `ln`s changed
    * (equal-lp tie-breaks), Σln strictly decreased — equal (Σlp, Σln)
    * therefore PROVES the fixpoint, it does not probabilistically
    * suggest it. Sums are decimal(38,0): 2^63-magnitude terms times any
    * feasible row count stay far below 10^38, so no overflow wrap.
    * Input `nodes`: (node, part, prio); `edges`: intra-part
    * (src, dst, dir) carrying both orientations; each round's jobs are
    * labeled `<label> round R`. Returns (node, dir, lp, ln). */
  private def minLabel(nodes: DataFrame, edges: DataFrame,
                       maxRounds: Int, label: String): DataFrame = {
    var labels = nodes
      .select(col("node"), col("prio").as("lp"), col("node").as("ln"))
      .crossJoin(broadcast(nodes.sparkSession.range(2)
        .select(col("id").cast("int").as("dir"))))
      .transform(cp)
    def sig(df: DataFrame): (BigDecimal, BigDecimal) = {
      val r = df.agg(sum(col("lp").cast("decimal(38,0)")),
        sum(col("ln").cast("decimal(38,0)"))).head()
      def d(i: Int): BigDecimal =
        if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i))
      (d(0), d(1))
    }
    var prevSig = sig(labels)
    var round = 0
    var converged = false
    while (!converged) {
      require(round < maxRounds,
        s"SCC label propagation did not converge in $maxRounds rounds " +
          "(doubling regime — this bound means ~2^rounds reachability)")
      // every union branch is re-aliased column-by-column: a bare col()
      // keeps its exprId, and union children sharing attribute ids with
      // each other trip Union.rewriteConstraints ("key not found") when
      // the branches come from self-joins of the same frame
      def fresh(df: DataFrame): DataFrame =
        df.select(df.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
      def jump(ls: DataFrame): DataFrame = ls.as("a")
        .join(ls.as("b"),
          col("a.ln") === col("b.node") && col("a.dir") === col("b.dir"))
        .select(col("a.node").as("node"), col("a.dir").as("dir"),
          col("b.lp").as("lp"), col("b.ln").as("ln"))
      def minOf(ls: DataFrame): DataFrame = ls
        .groupBy("node", "dir").agg(min(struct(col("lp"), col("ln"))).as("m"))
        .select(col("node"), col("dir"),
          col("m.lp").as("lp"), col("m.ln").as("ln"))
      val viaEdge = labels
        .join(edges, col("node") === col("src") && labels("dir") === edges("dir"))
        .select(col("dst").as("node"), edges("dir").as("dir"),
          col("lp").as("lp"), col("ln").as("ln"))
      // two chained jumps per round: measured ~1.9 vs ~1.55 distance
      // growth factor, nearly halving round count (and with it the
      // checkpoint + probe actions) for one extra self-join whose
      // first-stage exchange AQE reuses
      val once = minOf(fresh(labels).unionByName(viaEdge)
        .unionByName(jump(labels)))
      val (next, nextSig) =
        labeled(nodes.sparkSession, s"$label round ${round + 1}") {
          val n = minOf(fresh(once).unionByName(jump(once))).transform(cp)
          (n, sig(n))
        }
      converged = nextSig == prevSig
      prevSig = nextSig
      labels = next
      round += 1
    }
    labels
  }

  /** Condensation census: contract every SCC to one node and summarize
    * the resulting DAG — component count, size distribution extremes,
    * and the cross-component edge count (self-edges inside an SCC drop
    * by construction). One [[components]] pass + two broadcast-sized
    * joins of the edge list against the labeling. */
  def condensation(edges: DataFrame): DataFrame = {
    // reuse the UNSORTED labeling and the cleaned edge list the
    // components run already checkpointed — the public components()
    // surface would re-sort the labels and re-distinct the raw edges
    // for nothing (both are join inputs here; r14 shuffle cut)
    val (labeling, e0) = componentsAndCleanEdges(edges)
    val labels = labeling.localCheckpoint(eager = true)
    val dagEdges = condensationEdgesOfClean(e0, labels)
    val sizes = labels.groupBy("scc").agg(count(lit(1)).as("sz"))
    val sstats = sizes.agg(count(lit(1)).as("n_sccs"),
      max("sz").as("max_scc_size"),
      sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
    val estats = dagEdges.agg(count(lit(1)).as("n_dag_edges"))
    sstats.crossJoin(broadcast(estats))
  }

  /** The contracted DAG's edge list: each original edge mapped to its
    * endpoints' SCC labels, intra-component edges dropped. Output
    * columns (src, dst) over SCC ids — a valid DAG input for
    * [[topoLayers]]. */
  def condensationEdges(edges: DataFrame, labels: DataFrame): DataFrame =
    condensationEdgesOfClean(
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src").isNotNull && col("dst").isNotNull).distinct(),
      labels)

  /** [[condensationEdges]] over an ALREADY cleaned (cast, null-free,
    * distinct) edge list — the internal reuse path. */
  private def condensationEdgesOfClean(e0: DataFrame,
                                       labels: DataFrame): DataFrame =
    e0
      .join(labels.select(col("node").as("src"), col("scc").as("cs")), "src")
      .join(labels.select(col("node").as("dst"), col("scc").as("cd")), "dst")
      .filter(col("cs") =!= col("cd"))
      .select(col("cs").as("src"), col("cd").as("dst")).distinct()

  /** [[components]] → [[condensationEdges]] → [[topoLayers]] in one
    * call, sharing the cleaned edge list and the unsorted labeling
    * between the stages (the separate-call composition re-distincts
    * the raw edges and re-sorts the labels for joins that need
    * neither). Identical result to the composition. */
  def condensationLayers(edges: DataFrame): DataFrame = {
    val (labeling, e0) = componentsAndCleanEdges(edges)
    val labels = labeling.localCheckpoint(eager = true)
    topoLayers(condensationEdgesOfClean(e0, labels))
  }

  /** Kahn topological layers of a DAG: layer(v) = length of the longest
    * path ENDING at v (sources are layer 0) — the stage number a
    * dependency scheduler assigns. Iterative peeling: per round, nodes
    * whose remaining in-edges are exhausted join the layer, their
    * out-edges leave the graph; rounds = DAG depth, each one join + one
    * anti-join with a lineage cut. The O(depth) round count is the
    * OUTPUT's shape, not an algorithmic shortcut — layer numbers are
    * longest-path depths, and max-plus path doubling would shuffle
    * quadratic pair state to save rounds. REFUSES loudly on a cycle
    * (nodes remain but no source exists) and past `maxLayers` — run
    * [[condensation]] first for general graphs. */
  def topoLayers(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var rem = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint(eager = true)
    var remaining = rem.select(col("src").as("node"))
      .union(rem.select(col("dst").as("node")))
      .distinct().localCheckpoint(eager = true)
    // per-layer outputs accumulate as a frame list and union once at
    // the end — each part is a projection of that layer's checkpointed
    // sources frame, so nothing re-executes (same r13 job-count cut as
    // [[components]]'s resultParts); maxLayers bounds the union width
    val resultParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var layer = 0L
    while (!remaining.isEmpty) {
      require(layer < 64,
        s"topoLayers did not finish in 64 layers")
      val sources = remaining
        .join(rem.select(col("dst").as("node")).distinct(),
          Seq("node"), "left_anti")
        .localCheckpoint(eager = true)
      require(!sources.isEmpty,
        "topoLayers: no in-degree-0 node remains — the graph has a " +
          "cycle; condense SCCs first")
      resultParts += sources.select(col("node"), lit(layer).as("layer"))
      remaining = remaining.join(sources, Seq("node"), "left_anti")
        .localCheckpoint(eager = true)
      rem = rem.join(sources.select(col("node").as("src")),
          Seq("src"), "left_anti")
        .select("src", "dst").localCheckpoint(eager = true)
      layer += 1
    }
    resultParts.reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(Long, Long)].toDF("node", "layer"))
      .orderBy("node")
  }
}
