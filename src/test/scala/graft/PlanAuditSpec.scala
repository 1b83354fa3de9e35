package graft

/** CI lock for the plan audit: every `SparkEntry.queries` plan is built at
  * sf0.001 and must (a) analyze/plan without error and (b) contain zero
  * `CartesianProduct` nodes. BroadcastNestedLoopJoin is allowed — every
  * audited occurrence is a broadcast one-row scalar (COVID-baseline
  * ratios, census cross-joins); an unbroadcastable cartesian is the
  * scale-killer this spec exists to stop from shipping.
  *
  * Building a gate's DataFrame executes any driver-side fitting the
  * gate does (KMeans, BPE argmax collects) at sf0.001 — that cost is
  * the price of auditing the REAL plan each gate ships. */
class PlanAuditSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private val available = java.nio.file.Files.exists(java.nio.file.Paths.get(dir))

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan audit: $name") {
      assume(available, s"fixture dir $dir missing")
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"CartesianProduct in $name's physical plan:\n$plan")
    }
  }

  // Strategy pins for joins whose plans live BEHIND an eager
  // checkpoint (the loop/screen executes while the gate frame is
  // built, so the generic audit above never sees them): a silent
  // Catalyst regression to the measured SMJ-sort pathology must fail
  // CI, not a future probe run.

  test("strategy pin: a52/a53 kmv prefilter broadcasts in the few-groups regime") {
    assume(available, s"fixture dir $dir missing")
    SparkEntry.queries("a52_kmv_distinct")(spark, dir).collect()
    assert(graft.operators.Relational.lastPrefilterPlan.contains("BroadcastHashJoin"),
      s"a52 prefilter lost its broadcast:\n${graft.operators.Relational.lastPrefilterPlan}")
    SparkEntry.queries("a53_kmv_setops")(spark, dir).collect()
    assert(graft.operators.Relational.lastPrefilterPlan.contains("BroadcastHashJoin"),
      s"a53 prefilter lost its broadcast:\n${graft.operators.Relational.lastPrefilterPlan}")
    // the many-groups regime (shuffle-hash, never sort-merge) is pinned
    // with a forced broadcastGroupLimit in KmvSpec — same JVM lock-step
  }

  test("strategy pin: io17 census merge is an equi-join full-outer, SMJ or hash") {
    assume(available, s"fixture dir $dir missing")
    // lastCensusMergePlan is a last-writer-wins JVM global — valid only
    // because this suite runs the gate and reads it single-threaded
    SparkEntry.queries("io17_band_index_compact")(spark, dir).collect()
    val plan = graft.dedup.Dedup.lastCensusMergePlan
    assert(plan.nonEmpty, "io17 never exercised compactBandIndex's census merge")
    // intended strategy: SortMergeJoin is FINE here (both sides are
    // (band, band_hash)-sortable census tables; BHJ cannot do full
    // outer) — what must never ship is a nested-loop/cartesian
    // degradation of the one ingest-loop join whose both sides grow
    // with corpus buckets
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"census merge lost its equi-join strategy:\n$plan")
    assert(plan.contains("FullOuter"),
      s"census merge is no longer full-outer:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"),
      s"census merge degraded to a nested loop:\n$plan")
  }

  test("strategy pin: io16/io17 band-index screen joins by hash, never sort-merge") {
    assume(available, s"fixture dir $dir missing")
    SparkEntry.queries("io16_band_index_screen")(spark, dir).collect()
    val plan = graft.dedup.Dedup.lastScreenPlan
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"),
      s"band-index screen's equi-join degraded (SMJ sorts the corpus side):\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"SortMergeJoin in the band-index screen:\n$plan")
  }
}
