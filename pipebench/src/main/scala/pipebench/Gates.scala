package pipebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** `gates`: a fixed list of oracle-pinned `SparkEntry` gates over the
  * generated sf0.01-sized fixture tables, weighted towards the iterative,
  * multi-job families the taxi workloads never reach. Each pass runs the
  * whole list in a seeded order; results must match goldens that were
  * confirmed once against the DuckDB oracle (see `confirm_goldens.py`). */
final class Gates(dir: Path, seed: Long, goldenFile: Path) extends Workload {
  private val dataDir = dir.resolve("gates")
  private val queries = SparkEntry.queries
  private var goldens = Map.empty[String, Checks.Table]
  private var rng = new scala.util.Random(seed)

  def setup(spark: SparkSession): Unit = {
    Stats.logged("gate tables")(DataGen.gateTables(spark, dataDir, Gates.List.flatMap(_._2).toSet))
    goldens = Gates.readGoldens(goldenFile)
    val missing = Gates.List.map(_._1).filterNot(goldens.contains)
    require(missing.isEmpty, s"no golden for ${missing.mkString(", ")}")
    rng = new scala.util.Random(seed)
  }

  def inputs: JObject = JObject(
    "gates" -> JArray(Gates.List.map(g => JString(g._1)).toList),
    "table_rows" -> JObject(DataGen.GateTableRows.toList.sorted.map { case (t, n) => t -> JInt(n) }),
    "reason" -> JString("sf0.01 fixture row counts: at these sizes the iterative gates " +
      "are dominated by their per-job floor, as at sf0.1, and one pass of the list " +
      "fits a timed window twice"))

  def run(spark: SparkSession, gate: String): Checks.Table = {
    val df = queries(gate)(spark, dataDir.toString)
    Checks.table(df.columns.toSeq, df.collect().toSeq)
  }

  def nextCycle(spark: SparkSession): Seq[Op] = rng.shuffle(Gates.List).map { case (gate, tables) =>
    Op(gate, tables.map(DataGen.GateTableRows).sum,
      () => layer(s"gate:$gate")(run(spark, gate)),
      got => Checks.compare(got.asInstanceOf[Checks.Table], goldens(gate)))
  }

  def layers(spark: SparkSession, tracer: Tracer, traces: Seq[OpTrace], m: Layers): Unit = {
    val passes = traces.size.toDouble / Gates.List.size
    Layers.GateFamilies.foreach { f =>
      m(s"gates.$f.s") = traces.filter(t => Gates.family(t.label) == f).map(_.wallMs).sum / 1000 / passes
    }
    m("gates.jobs_per_op") = Stats.mean(traces.map(_.jobs.toDouble))
  }
}

object Gates {
  /** The recorded gate list with the fixture tables each one reads. No
    * streaming gate: trigger timers, not the program, set their time. */
  val List: Seq[(String, Seq[String])] = Seq(
    "g15_modularity" -> Seq("orders"),
    "io18_band_index_append" -> Seq("documents"),
    "ml1_kmeans" -> Seq("events"),
    "n1_ann_topk" -> Seq("embeddings"),
    "r1_bm25_topk" -> Seq("documents"),
    "a42_percentile_ladder" -> Seq("lineitem"),
    "x1_taxi_hourly_fare" -> Seq("events"),
    "a7_grouped_stats" -> Seq("lineitem"),
    "a10_baseline_ratio" -> Seq("orders"),
    "j5_salted_join" -> Seq("orders", "customer"),
    "w15_ewma" -> Seq("events"))

  def family(gate: String): String = gate.takeWhile(_.isLetter) match {
    case "g" => "graph"
    case "d" | "io" => "dedup"
    case "ml" => "ml"
    case "n" => "similarity"
    case "t" | "r" => "text"
    case _ => "operators"
  }

  def readGoldens(file: Path): Map[String, Checks.Table] = {
    val JObject(fields) = JsonMethods.parse(Files.readString(file)) \ "gates": @unchecked
    fields.map { case (k, v) => k -> Checks.tableFromJson(v) }.toMap
  }

  /** Run every listed gate twice over freshly generated tables, require
    * the two runs to agree, and write the results as goldens. Also dumps
    * each result and its oracle SQL in the layout `tools/check_oracle.py`
    * reads, so the goldens can be confirmed against DuckDB. */
  def writeGoldens(spark: SparkSession, out: Path, goldenFile: Path): Unit = {
    val g = new Gates(out, 0L, goldenFile)
    DataGen.gateTables(spark, g.dataDir)
    val verify = out.resolve("verify")
    val tables = List.map { case (gate, _) =>
      val a = g.run(spark, gate)
      val b = g.run(spark, gate)
      Checks.compare(a, b).foreach(d => sys.error(s"$gate is not repeatable: $d"))
      SparkEntry.queries(gate)(spark, g.dataDir.toString).coalesce(1)
        .write.mode("overwrite").parquet(verify.resolve(gate).toString)
      gate -> a
    }
    val oracle = JObject(List.map { case (gate, _) => gate -> JString(SparkEntry.oracleSql(gate)) }.toList)
    Files.writeString(verify.resolve("oracle_sql.json"), JsonMethods.compact(oracle))
    Files.createDirectories(goldenFile.getParent)
    Files.writeString(goldenFile, JsonMethods.pretty(JObject(
      "tables" -> JObject(DataGen.GateTableRows.toList.sorted.map { case (t, n) => t -> JInt(n) }),
      "gates" -> JObject(tables.map { case (gate, t) => gate -> Checks.tableJson(t) }.toList))) + "\n")
  }
}
