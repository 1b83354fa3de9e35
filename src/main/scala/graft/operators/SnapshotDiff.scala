package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-based diff of two table snapshots — the change-data-capture
  * primitive batch pipelines need when a source republishes full
  * snapshots (the reference's TLC monthly files are exactly that: a
  * month can be re-downloaded with corrections).
  *
  * One full-outer join on the key classifies every row as added,
  * removed, changed, or unchanged — a single shuffle per side; with both
  * snapshots bucketed by the key the exchanges vanish entirely
  * ([[graft.sources.Bucketing]]). Payload comparison is null-safe
  * (`<=>`), so a column flipping to/from NULL counts as a change.
  */
object SnapshotDiff {

  /** (key, status) per non-identical row, status ∈ added | removed |
    * changed. `compareCols` are the payload columns that define
    * "changed"; unchanged rows are dropped (at snapshot scale they are
    * the overwhelming majority — never materialize them).
    *
    * CONTRACT: `key` must be unique within each snapshot (it is the
    * snapshot's primary key). Duplicate keys would turn the full-outer
    * join many-to-many — N×M rows per key with misleading statuses.
    * Sources that can republish a key (e.g. corrected re-uploads) should
    * collapse to one row per key first ([[dedupKeys]]). */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
           compareCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(key).as("_k"),
      struct(compareCols.map(col): _*).as("_old"))
    val n = newSnap.select(col(key).as("_k2"),
      struct(compareCols.map(col): _*).as("_new"))
    // null-safe key equality AND presence flags: with a plain === a
    // null-key row never matches and `_k IS NULL` misreads side
    // membership, so a REMOVED null-key row would be reported as added
    o.withColumn("_in_old", lit(true))
      .join(n.withColumn("_in_new", lit(true)), col("_k") <=> col("_k2"), "full_outer")
      .select(coalesce(col("_k"), col("_k2")).as(key),
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(!(col("_old") <=> col("_new")), "changed")
          .as("status"))
      .filter(col("status").isNotNull)
  }

  /** Collapse a snapshot to one row per key (last-writer-wins by
    * `orderCol` descending) — the normalization step that makes a
    * re-published source satisfy [[diff]]'s unique-key contract. One
    * shuffle on the key, same partitioning the diff join reuses.
    *
    * Ties on `orderCol` (the same key re-stamped twice with one date)
    * are broken by a payload hash, not by arrival order — a bare
    * `max_by(_, orderCol)` keeps whichever tied row the aggregation
    * merge sees first, which varies with partitioning and would flip
    * [[diff]] rows between runs. Two DISTINCT payloads colliding on
    * xxhash64 is the one (astronomically unlikely) case left to
    * arrival order. */
  def dedupKeys(snap: DataFrame, key: String, orderCol: String): DataFrame = {
    val payload = snap.columns.filter(_ != key).toSeq
    snap.groupBy(col(key))
      .agg(max_by(struct(payload.map(col): _*),
        struct(col(orderCol), xxhash64(payload.map(col): _*))).as("_p"))
      .select(col(key) +: payload.map(c => col(s"_p.$c").as(c)): _*)
  }

  /** Aggregate diff report: row counts per status. */
  def diffCounts(oldSnap: DataFrame, newSnap: DataFrame, key: String,
                 compareCols: Seq[String]): DataFrame =
    diff(oldSnap, newSnap, key, compareCols)
      .groupBy("status").agg(count(lit(1)).as("cnt"))
      .orderBy("status")

  /** Materialized changeset between two snapshots — [[diff]] carrying
    * the payload needed to REPLAY it: `(key, op, compareCols…)` where
    * `op = "upsert"` (added or changed rows, payload from the NEW
    * snapshot) or `"delete"` (removed rows, null payload). Feeding this
    * to [[applyChangeset]] on the old snapshot reproduces the new one —
    * the round-trip [[SnapshotDiffSpec]] pins — so a full republished
    * snapshot can be shipped downstream as a (usually tiny) delta
    * instead of a full rewrite.
    *
    * Same single full-outer join and unique-key CONTRACT as [[diff]]. */
  def changeset(oldSnap: DataFrame, newSnap: DataFrame, key: String,
                compareCols: Seq[String]): DataFrame = {
    val o = oldSnap.select(col(key).as("_k"),
      struct(compareCols.map(col): _*).as("_old"))
    val n = newSnap.select(col(key).as("_k2"),
      struct(compareCols.map(col): _*).as("_new"))
    o.withColumn("_in_old", lit(true))
      .join(n.withColumn("_in_new", lit(true)), col("_k") <=> col("_k2"), "full_outer")
      .withColumn("op",
        when(col("_in_old").isNull, "upsert")          // added
          .when(col("_in_new").isNull, "delete")       // removed
          .when(!(col("_old") <=> col("_new")), "upsert")) // changed
      .filter(col("op").isNotNull)
      .select(coalesce(col("_k"), col("_k2")).as(key) +: col("op") +:
        compareCols.map(c => col(s"_new.$c").as(c)): _*)
  }

  /** MERGE: apply a changeset to a base snapshot. Keys carrying
    * `op = "upsert"` take the changeset payload (update-or-insert), keys
    * carrying `"delete"` vanish, every other base row passes through —
    * the upsert primitive that turns the monthly "corrected re-upload"
    * (the reference's TLC republish case, Report.pdf §7.3) into an
    * incremental apply instead of a full-table rewrite.
    *
    * Plan shape: ONE left-anti join of the base against the changeset
    * keys plus a union of the upsert rows — the base is never shuffled
    * wider than its key, and when the changeset is small (the normal
    * case: deltas are tiny next to the snapshot) Spark broadcasts the
    * anti-join side, leaving the 100 TB base un-shuffled entirely.
    * Null-safe on the key like [[diff]]. Any op value other than
    * upsert/delete fails the job at execution time (row-local
    * `raise_error` — no separate validation pass over the changeset).
    *
    * CONTRACT: `changes` must be unique per key (one op per key per
    * batch — collapse a multi-op log with [[dedupKeys]] first);
    * changeset payload columns must match the base schema minus `opCol`
    * (enforced by the union-by-name). */
  /** The count/sum grouped view [[incrementalAggUpdate]] maintains —
    * built once over the initial snapshot, then kept current from
    * changesets without ever rescanning the base. */
  def aggView(snap: DataFrame, dimCol: String, valueCol: String): DataFrame =
    snap.groupBy(dimCol)
      .agg(count(lit(1)).as("cnt"), sum(valueCol).as("val_sum"))

  /** Incremental view maintenance: roll a [[aggView]] forward under a
    * [[changeset]] WITHOUT rescanning the base table — the classic IVM
    * delta algebra for distributive aggregates (count/sum; avg derives
    * as the quotient). Every touched key retracts its OLD contribution
    * (−1, −value, read from the old snapshot by a changeset-sized
    * semi-ish join) and every upsert adds its new one (+1, +value);
    * summing view + retractions + additions per group is the new view.
    * Groups whose count reaches zero vanish, exactly as a recompute
    * would drop them.
    *
    * Scale shape: the base is touched only by one changeset-keyed join
    * (broadcast when the changeset is small — the nightly-trickle
    * case); everything else is aggregate-sized. A full recompute
    * shuffles the whole fact table; this shuffles
    * O(|view| + |changeset|). Floating-point caveat: the maintained sum
    * accumulates in a different order than a recompute — equal to a
    * few ulps, not bit-equal; the gate pins the rounded value (and
    * counts exactly). */
  def incrementalAggUpdate(oldAgg: DataFrame, oldSnap: DataFrame,
                           changes: DataFrame, key: String, dimCol: String,
                           valueCol: String): DataFrame = {
    val touched = changes.select(col(key)).distinct()
    val retract = oldSnap.join(touched, Seq(key), "left_semi")
      .select(col(dimCol), lit(-1L).as("cnt"), (-col(valueCol)).as("val_sum"))
    val add = changes.filter(col("op") === "upsert")
      .select(col(dimCol), lit(1L).as("cnt"), col(valueCol).as("val_sum"))
    oldAgg.select(col(dimCol), col("cnt"), col("val_sum"))
      .unionByName(retract).unionByName(add)
      .groupBy(dimCol)
      .agg(sum("cnt").as("cnt"), sum("val_sum").as("val_sum"))
      .filter(col("cnt") > 0)
  }

  def applyChangeset(base: DataFrame, changes: DataFrame,
                     key: String): DataFrame = {
    val checked = changes.withColumn("op",
      when(col("op").isin("upsert", "delete"), col("op"))
        .otherwise(raise_error(concat(
          lit("applyChangeset: unknown op in 'op': "), col("op")))))
    val untouched = base.join(
      checked.select(col(key).as("_ck")), col(key) <=> col("_ck"), "left_anti")
    untouched.unionByName(
      checked.filter(col("op") === "upsert").drop("op")
        .select(base.columns.map(col): _*))
  }
}
