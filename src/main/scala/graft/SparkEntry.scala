package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.Gates
import graft.sources.Tables
import graft.operators.Relational

/** Driver contract: `queries` and `oracleSql` map every gate name to its
  * Spark build and its DuckDB oracle SQL. Both maps are derived from
  * [[graft.gates.Gates.all]], where each gate is one record holding both
  * halves, kept in one catalog per family; a duplicate name fails here.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** `SPARK_GRAFT_ONLY` parsing behind [[GateRunner.selected]], which
    * [[Verify]] and [[Bench]] run (one definition so the two tools can
    * never probe different gate sets): comma-separated tokens; a token
    * matches a query when it equals the name, is an underscore-delimited
    * prefix ("d7" → d7_segment_dup_stats), or equals the family's
    * leading letters ("t" → t5…/t11…, but NOT tp1…, whose family is
    * "tp"). A blank or
    * empty value means NO filter — an exported-but-empty variable must
    * not silently select zero queries. */
  private[graft] def onlyFilter(raw: Option[String]): String => Boolean = {
    val toks = raw.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    n => toks.forall(_.exists(p =>
      n == p || n.startsWith(p + "_") || n.takeWhile(_.isLetter) == p))
  }

  private val byName = Gates.byName(Gates.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.build }

  val oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracleSql }
}
