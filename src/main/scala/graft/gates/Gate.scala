package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-pinned query: `build` runs it on Spark over the fixture
  * tables in a directory, and `oracleSql` is the DuckDB SQL that must give
  * the same rows over the same tables. Aliases, ordering and rounding are
  * pinned identically on both sides (see the `Relational` scaladoc for the
  * float policy). */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

/** One file's gates. A gate family (the name's leading letters, the unit
  * `SPARK_GRAFT_ONLY` selects) lives in exactly one catalog. */
trait Catalog {
  def gates: Seq[Gate]
}

object Gates {
  val catalogs: Seq[Catalog] = Seq(
    TaxiGates, RelationalGates, WindowGates, AnalyticsGates, MlGates, GraphGates,
    DedupGates, SimilarityGates, MultimodalGates, TextGates, TrainingDataGates,
    StreamingIoGates)

  val all: Seq[Gate] = catalogs.flatMap(_.gates)

  /** Gates by name. A name given twice throws: in a map literal the later
    * entry would silently replace the earlier gate. */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
