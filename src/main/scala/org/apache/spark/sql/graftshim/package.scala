package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the standard technique for extension libraries that define native
  * Catalyst expressions without forking Spark. */
package object graftshim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Eager local checkpoint that DISCARDS the origin plan's statistics.
    * `Dataset.localCheckpoint` carries the pre-checkpoint sizeInBytes
    * ESTIMATE through its LogicalRDD, so an iterative algorithm whose
    * round state feeds a SELF-JOIN (pointer jumping) squares the
    * estimate every round — after r rounds the BigInt holds ~2^r bits
    * and the optimizer's stats visitor (size products in
    * InjectRuntimeFilter / join selection) stalls in
    * BigInteger.multiply for minutes, observed live in the SCC probe.
    * Rebuilding the frame from the ALREADY-MATERIALIZED checkpoint RDD
    * resets stats to the conf default (no recompute — same RDD). */
  def localCheckpointFreshStats(df: Dataset[Row]): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    cp.sparkSession.internalCreateDataFrame(
      cp.queryExecution.toRdd, cp.schema)
  }

  /** Block until every listener event posted so far has been delivered;
    * the bus is Spark-internal. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
