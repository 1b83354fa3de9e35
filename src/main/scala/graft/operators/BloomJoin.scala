package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-filter join pre-filter — the shuffle-reduction pattern for
  * fact⋈dim joins where the dim side is selective but too large (or the
  * join too complex) for a plain broadcast-hash join to cover: build a
  * Bloom filter over the dim keys, broadcast the few MB of bits, and
  * drop non-matching fact rows BEFORE the join shuffle. At 100 TB the
  * filter removes the dominant cost — shuffling fact rows that can
  * never match — while the join itself re-verifies every survivor, so
  * Bloom false positives cannot reach the output: the result is exactly
  * the plain join (which is what the gate pins).
  *
  * Spark's own runtime row-level Bloom injection
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on by default in
  * 4.x) covers shuffle-join cases Catalyst can prove; this operator is
  * the explicit form for when the planner can't — a pre-aggregated or
  * multi-stage fact input, or a dim defined by an arbitrary sub-plan.
  */
object BloomJoin {

  /** Target false-positive rate of the dimension-key Bloom filter. */
  private val Fpp = 0.01

  /** Inner-join `fact` to `dim` on `factKey = dimKey`, pre-filtering the
    * fact side through a Bloom filter of the dim keys. Keys of ANY type
    * are first folded through `xxhash64` (a null cast would silently
    * empty the filter for non-numeric keys) — an extra hash collision
    * only adds a false positive, which the join removes like every other
    * FP. `expectedKeys` sizes the filter (overprovisioned to ≥4096 —
    * Spark's Bloom implementation floors its false-positive rate when
    * the bit array is tiny, see dedup.Decontaminate). */
  def bloomPrefilteredJoin(fact: DataFrame, dim: DataFrame,
                           factKey: String, dimKey: String,
                           expectedKeys: Long): DataFrame =
    // The broadcast handle rides inside the codegen'd probe expression:
    // bits ship once per executor, and once the returned plan becomes
    // unreachable Spark's ContextCleaner reclaims the broadcast blocks —
    // no per-call accumulation in a long-lived session. Callers needing
    // deterministic release use [[bloomPrefilteredJoinEager]].
    buildAndJoin(fact, dim, factKey, dimKey, expectedKeys, Fpp)._1

  /** The one filter-build-and-join body both entry points share — the
    * sizing floor, null handling, and probe construction must never
    * diverge between the lazy and eager forms. */
  private def buildAndJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, expectedKeys: Long, fpp: Double):
      (DataFrame, org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]) = {
    val bf = dim.filter(col(dimKey).isNotNull)
      .select(xxhash64(col(dimKey)).as("k"))
      .stat.bloomFilter("k", math.max(4096L, expectedKeys), fpp)
    val bfB = fact.sparkSession.sparkContext.broadcast(bf)
    val might = graft.functions.HashExpressions
      .bloomMightContain(xxhash64(col(factKey)), bfB)
    (fact.filter(col(factKey).isNotNull && might)
      .join(dim, fact(factKey) === dim(dimKey)), bfB)
  }

  /** [[bloomPrefilteredJoin]] with DETERMINISTIC broadcast release — the
    * checkpoint-then-release discipline `dedup.Dedup`/`similarity.Ivf`
    * use — for long-lived sessions (notebooks, streaming drivers,
    * services) that can't wait on ContextCleaner: eagerly materializes
    * the join via `localCheckpoint` and then `destroy()`s the broadcast
    * before returning, so the filter bits are reclaimed on every
    * executor at a known point.
    *
    * The trade-offs are the eager form's usual ones (and why the LAZY
    * [[bloomPrefilteredJoin]] stays the default): jobs run at call time,
    * and the checkpointed result is not fault-tolerant — losing an
    * executor's storage makes downstream actions fail rather than
    * recompute. Prefer this only when deterministic resource release
    * matters more than lineage. */
  def bloomPrefilteredJoinEager(fact: DataFrame, dim: DataFrame,
                                factKey: String, dimKey: String,
                                expectedKeys: Long): DataFrame =
    eagerWithHandle(fact, dim, factKey, dimKey, expectedKeys, Fpp)._1

  /** Implementation of [[bloomPrefilteredJoinEager]] that also returns
    * the (already-destroyed) broadcast handle, so the spec can assert
    * the release really happened rather than trust the scaladoc. */
  private[operators] def eagerWithHandle(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, expectedKeys: Long, fpp: Double):
      (DataFrame, org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]) = {
    val (joined, bfB) =
      buildAndJoin(fact, dim, factKey, dimKey, expectedKeys, fpp)
    try (joined.localCheckpoint(eager = true), bfB)
    finally {
      // blocking destroy: the bits are gone on every executor when the
      // call returns, not whenever the cleaner's weak refs flush
      bfB.destroy()
    }
  }
}
