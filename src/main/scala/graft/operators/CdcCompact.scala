package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC log compaction (what Kafka's compacted topics and Debezium
  * consumers do before applying a day's log): collapse each key's
  * ordered op sequence (insert/update/delete with before/after images)
  * to its NET effect, so a key touched 10,000 times lands one write.
  * The net op is decided purely by the endpoints — did the key exist
  * before the log (first op is update/delete) and does it exist after
  * (last op is not a delete):
  *
  *   existed ∧ exists  → update (first before → last after); dropped
  *                       entirely when the value round-trips unchanged
  *   existed ∧ ¬exists → delete (first before)
  *   ¬existed ∧ exists → insert (last after)
  *   ¬existed ∧ ¬exists → nothing (insert later deleted)
  *
  * ONE partial→final aggregation over the log — min_by/max_by of the
  * endpoint images under the (seq, op-rank, images) total order, so a
  * hot key's 10,000 ops combine map-side and no per-key sort ever
  * happens. No join against the (much larger) base table, which is the
  * point: compaction cost scales with the LOG, and applying the
  * compacted log to the view gives identical results to applying the
  * full log ([[IncrementalAgg.applyCdc]] composes; the spec proves it).
  */
object CdcCompact {

  /** Compact `log` (keyCol, seqCol, op, before, after) to net ops.
    * Ties on `seqCol` within a key are broken by op rank
    * (insert < update < delete) then image values, keeping the result
    * total-ordered for any input. */
  def compact(log: DataFrame, keyCol: String, seqCol: String,
              beforeCol: String = "before"): DataFrame = {
    val opRank = when(col("op") === "insert", 0)
      .when(col("op") === "update", 1).otherwise(2)
    val order = struct(col(seqCol), opRank.as("_r"),
      col(beforeCol).as("_ob"), col("after").as("_oa"))
    val endpoints = log.groupBy(col(keyCol))
      .agg(
        min_by(struct(col("op"), col(beforeCol).as("b")), order)
          .as("_f"),
        max_by(struct(col("op"), col("after").as("a")), order)
          .as("_l"))
      .select(col(keyCol), col("_f.op").as("_fop"), col("_l.op").as("_lop"),
        col("_f.b").as("_fb"), col("_l.a").as("_la"))
    val existed = col("_fop") =!= "insert"
    val exists = col("_lop") =!= "delete"
    endpoints
      .select(col(keyCol),
        when(existed && exists, lit("update"))
          .when(existed && !exists, lit("delete"))
          .when(!existed && exists, lit("insert"))
          .as("op"),
        when(existed, col("_fb")).as("before"),
        when(exists, col("_la")).as("after"))
      .filter(col("op").isNotNull)
      // a value that round-trips unchanged is a no-op, not an update
      .filter(!(col("op") === "update" && col("before") <=> col("after")))
  }
}
