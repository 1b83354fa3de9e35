package graft

import org.apache.spark.sql.DataFrame

/** CI lock for the plan audit: every `SparkEntry.queries` gate is built at
  * sf0.001, and every physical plan it runs on the way, plus the plan of
  * the frame it returns, must (a) analyze/plan without error and (b)
  * contain zero `CartesianProduct` nodes. The plans run on the way are
  * where the iterative and streaming families do their work, behind
  * eager checkpoints; they are read from the bus as they ran, AQE's
  * final plan included ([[SparkTestBase.launchedBy]]).
  * BroadcastNestedLoopJoin is allowed — every audited occurrence is a
  * broadcast one-row scalar (COVID-baseline ratios, census cross-joins);
  * an unbroadcastable cartesian is the scale-killer this spec exists to
  * stop from shipping.
  *
  * Building a gate's DataFrame executes any driver-side fitting the
  * gate does (KMeans, BPE argmax collects) at sf0.001 — that cost is
  * the price of auditing the REAL plans each gate ships. */
class PlanAuditSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private val available = java.nio.file.Files.exists(java.nio.file.Paths.get(dir))

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan audit: $name") {
      assume(available, s"fixture dir $dir missing")
      var df: DataFrame = null
      val plans = launchedBy { df = fn(spark, dir) }.plans :+
        df.queryExecution.executedPlan.toString
      plans.foreach { plan =>
        assert(!plan.contains("CartesianProduct"),
          s"CartesianProduct in a physical plan of $name:\n$plan")
      }
      info(s"${plans.size} plans audited")
    }
  }

  /** The plans `gate` runs when collected that read `column`; fails
    * when there is none, so a renamed column cannot empty a pin. */
  private def plansReading(gate: String, column: String): Seq[String] = {
    val plans = launchedBy(SparkEntry.queries(gate)(spark, dir).collect())
      .plansReading(column)
    assert(plans.nonEmpty, s"$gate ran no plan reading $column")
    plans
  }

  // Strategy pins for joins whose plans run BEHIND an eager checkpoint
  // while the gate frame is built: a silent Catalyst regression to the
  // measured SMJ-sort pathology must fail CI, not a future probe run.

  test("strategy pin: a52/a53 kmv prefilter broadcasts in the few-groups regime") {
    assume(available, s"fixture dir $dir missing")
    // the prefilter is the one join on the bounds frame's key `bg`
    for (gate <- Seq("a52_kmv_distinct", "a53_kmv_setops"); plan <- plansReading(gate, "bg"))
      assert(plan.contains("BroadcastHashJoin"), s"$gate prefilter lost its broadcast:\n$plan")
    // the many-groups regime (shuffle-hash, never sort-merge) is pinned
    // with a forced broadcastGroupLimit in KmvSpec
  }

  test("strategy pin: io17 census merge is an equi-join full-outer, SMJ or hash") {
    assume(available, s"fixture dir $dir missing")
    // the merge is the join of the old census (`rep_old`) with the
    // batch's; it runs inside the save of the compacted index.
    // intended strategy: SortMergeJoin is FINE here (both sides are
    // (band, band_hash)-sortable census tables; BHJ cannot do full
    // outer) — what must never ship is a nested-loop/cartesian
    // degradation of the one ingest-loop join whose both sides grow
    // with corpus buckets
    plansReading("io17_band_index_compact", "rep_old").foreach { plan =>
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"census merge lost its equi-join strategy:\n$plan")
      assert(plan.contains("FullOuter"),
        s"census merge is no longer full-outer:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
        s"census merge degraded to a nested loop:\n$plan")
    }
  }

  test("strategy pin: io16/io17 band-index screen joins by hash, never sort-merge") {
    assume(available, s"fixture dir $dir missing")
    // the screen is the plan that scores against the corpus signatures `sig_c`
    for (gate <- Seq("io16_band_index_screen", "io17_band_index_compact");
         plan <- plansReading(gate, "sig_c")) {
      assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"),
        s"$gate band-index screen's equi-join degraded (SMJ sorts the corpus side):\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"SortMergeJoin in the $gate band-index screen:\n$plan")
    }
  }
}
