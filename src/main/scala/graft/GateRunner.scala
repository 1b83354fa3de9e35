package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The one gate loop behind [[Bench]], [[Verify]], [[PlanDump]] and
  * [[graft.cli.QueryProfile]]: build each gate against `sfDir`, hand its
  * frame to `sink`, time it, and record a throw instead of stopping the
  * run. A failure is logged to stderr as `[<log>] <gate> failed: <msg>`. */
private[graft] final class GateRunner(spark: SparkSession, sfDir: String, log: String,
                                      sink: GateRunner.Sink) {

  /** One gate through the sink: its seconds, or the failure's message. */
  def once(name: String, build: GateRunner.Build): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      sink(name, build(spark, sfDir))
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      System.err.println(s"[$log] $name failed: $msg")
      Left(msg)
    }
  }

  /** Every gate once, in the given order. */
  def all(gates: Seq[(String, GateRunner.Build)]): Seq[(String, Either[String, Double])] =
    gates.map { case (n, b) => n -> once(n, b) }
}

private[graft] object GateRunner {
  type Build = (SparkSession, String) => DataFrame

  /** What a run does with a gate's frame. */
  type Sink = (String, DataFrame) => Unit

  /** Executes every operator, unlike `count()`, which lets Spark prune
    * aggregates away. */
  val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()

  /** One parquet file per gate under `outDir/<gate>`. */
  def parquet(outDir: String): Sink =
    (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")

  /** `explain("formatted")` text to `outDir/<gate>_<tag>.txt`. */
  def explain(outDir: Path, tag: String): Sink = { (name, df) =>
    val file = s"${name}_$tag.txt"
    Files.writeString(outDir.resolve(file),
      df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    println(s"[plandump] wrote $file")
  }

  /** The gates a `SPARK_GRAFT_ONLY` value picks ([[SparkEntry.onlyFilter]]),
    * in name order. */
  def selected(only: Option[String]): Seq[(String, Build)] = {
    val keep = SparkEntry.onlyFilter(only)
    SparkEntry.queries.toSeq.filter(g => keep(g._1)).sortBy(_._1)
  }

  /** Exactly these gates; an unknown name runs as a gate that fails. */
  def named(names: Seq[String]): Seq[(String, Build)] = names.map { n =>
    n -> SparkEntry.queries.getOrElse(n,
      (_: SparkSession, _: String) => throw new NoSuchElementException(s"no such query: $n"))
  }

  /** The mains' JSON writer (Scala maps and sequences as JSON). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
