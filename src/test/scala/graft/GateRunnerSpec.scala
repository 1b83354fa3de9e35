package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one gate loop behind Verify, Bench, PlanDump and QueryProfile, run
  * in-process over a gate that builds and one that throws. */
class GateRunnerSpec extends SparkTestBase {

  private val good: GateRunner.Build = (s, _) => s.range(3).toDF("id")
  private val bad: GateRunner.Build =
    (_, _) => throw new IllegalStateException("planted failure")
  private val gates = Seq("a_good" -> good, "b_bad" -> bad)

  private def files(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("Verify writes the good gate's parquet and records the other's message") {
    val out = tempDir("verify-out")
    Verify.run(spark, "sf-unused", out, gates)
    assert(spark.read.parquet(s"$out/a_good").count() == 3)
    assert(files(Paths.get(out)) == Set("a_good", "oracle_sql.json", "verify_run.json"))
    val census = GateRunner.json.readTree(Files.readString(Paths.get(out, "verify_run.json")))
    assert(census.fieldNames.asScala.toSeq ==
      Seq("sf", "commit", "n_queries", "n_ran", "ran", "failed"))
    assert(census.get("sf").asText == "sf-unused")
    assert(census.get("n_queries").asInt == 2 && census.get("n_ran").asInt == 1)
    assert(census.get("ran").elements.asScala.map(_.asText).toSeq == Seq("a_good"))
    assert(census.get("failed").properties.asScala.map(e => e.getKey -> e.getValue.asText)
      .toSeq == Seq("b_bad" -> "planted failure"))
  }

  test("Bench lists a gate that fails every attempt under failed, timed -1") {
    val r = Bench.measure(spark, "sf-unused", gates)
    assert(r.keys.toSeq == Seq("metric", "value", "unit", "queries", "failed", "load_start",
      "load_end", "calib_start_sec", "calib_mid_sec", "calib_end_sec", "requeued", "sf"))
    assert(r("failed") == Seq("b_bad"))
    val times = r("queries").asInstanceOf[Map[String, Double]]
    assert(times.keys.toSeq == Seq("a_good", "b_bad"))
    assert(times("b_bad") == -1.0 && times("a_good") >= 0.0)
    assert(r("value") == times("a_good"))
  }

  test("the explain sink writes one file per built gate and counts the failures") {
    val out = Paths.get(tempDir("plans"))
    val dumped = new GateRunner(spark, "sf-unused", "plandump", GateRunner.explain(out, "t"))
    val results = dumped.all(gates)
    assert(files(out) == Set("a_good_t.txt"))
    assert(Files.readString(out.resolve("a_good_t.txt")).contains("Range"))
    assert(results.count(_._2.isLeft) == 1)
    // PlanDump's unknown name runs as a failing gate, so it also exits 1
    assert(dumped.all(GateRunner.named(Seq("no_such_gate"))) ==
      Seq("no_such_gate" -> Left("no such query: no_such_gate")))
    assert(files(out) == Set("a_good_t.txt"))
  }

  test("a selection matching no gate runs nothing and still writes oracle_sql.json") {
    val none = GateRunner.selected(Some("__none__"))
    assert(none.isEmpty)
    assert(GateRunner.selected(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    val out = tempDir("verify-none")
    Verify.run(spark, "sf-unused", out, none)
    assert(files(Paths.get(out)) == Set("oracle_sql.json", "verify_run.json"))
    // the byte layout of every earlier dump, sorted keys, so that two
    // commits' dumps compare with `cmp`
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val expected = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    assert(Files.readString(Paths.get(out, "oracle_sql.json")) == expected)
  }

  test("every mode builds its gates on the same SQL confs, shuffle width = parallelism") {
    val seen = ArrayBuffer.empty[(String, Map[String, String])]
    def probe(mode: String): Seq[(String, GateRunner.Build)] = Seq("a_probe" -> {
      (s: SparkSession, _: String) =>
        seen += mode -> s.conf.getAll.filter(_._1.startsWith("spark.sql."))
        s.range(1).toDF("id")
    })
    Verify.run(spark, "sf-unused", tempDir("verify-confs"), probe("verify"))
    Bench.measure(spark, "sf-unused", probe("bench"))
    new GateRunner(spark, "sf-unused", "plandump",
      GateRunner.explain(Paths.get(tempDir("plans-confs")), "t")).all(probe("plandump"))
    new GateRunner(spark, "sf-unused", "profile", GateRunner.noop).all(probe("profile"))
    assert(seen.map(_._1).distinct == Seq("verify", "bench", "plandump", "profile"))
    val confs = seen.map(_._2).distinct
    assert(confs.size == 1, s"SQL confs differ between modes: $confs")
    val c = confs.head
    assert(spark.sparkContext.master == s"local[${GraftSession.cpus}]")
    assert(c("spark.sql.shuffle.partitions") == spark.sparkContext.defaultParallelism.toString)
    assert(c("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
    assert(c("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
