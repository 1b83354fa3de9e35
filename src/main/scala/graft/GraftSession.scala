package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults.
  *
  * The reference hand-tunes `spark.sql.shuffle.partitions` (2 locally,
  * 200 on EMR — `spark_jobs/etl_yellow_s3.py:16`,
  * `spark_jobs/etl_yellow_s3_v2.py:28`) and never enables AQE. We instead
  * turn on adaptive execution so shuffle partitioning, skew joins and
  * broadcast decisions re-plan at runtime — the setting that actually
  * survives a 1000-executor / 100 TB deployment where no static number is
  * right for every stage.
  */
object GraftSession {

  /** Apply engine defaults to an arbitrary builder (local or cluster). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.ts is parquet TIMESTAMP(NANOS), which the Spark
      // reader rejects; read as long ns and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // streaming state off-heap: the default HDFS-backed store keeps
      // every key in executor heap — dedup/session state over a large
      // key space OOMs long before 100 TB; RocksDB spills to local disk
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Core count for local sessions: `SPARK_GRAFT_CPUS` when set, else
    * every core this JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one session factory: every main and the test suites run on it.
    *
    * Master: an externally set `spark.master` wins (`spark-submit` and the
    * cluster managers inject it as a system property), so one `main` runs
    * the same under `sbt runMain` and `spark-submit`; otherwise the
    * session is `local[cpus]` with the UI off.
    *
    * Shuffle width, the one rule: `spark.sql.shuffle.partitions` is the
    * context's `defaultParallelism`. On `local[cpus]` that is `cpus`
    * (the width [[tune]] is given); under a cluster manager it is
    * `spark.default.parallelism` when set, else the executor cores
    * registered when the session starts. A standalone master (`spark://`,
    * `local-cluster`) starts it before any executor registers, so it gets
    * Spark's floor of 2 unless `spark.default.parallelism` is set. AQE
    * coalesces below the width per stage.
    *
    * Warehouse: a temp dir deleted at JVM exit. Bucketed-table gates
    * `saveAsTable` full copies there, and a run that throws must not
    * leave them behind. */
  def session(appName: String): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.warehouse.dir", Fs.tempDirDeletedAtExit("graft-warehouse").toString)
    val s = tune(
      if (sys.props.contains("spark.master")) b
      else b.master(s"local[$cpus]").config("spark.ui.enabled", "false"),
      shufflePartitions = cpus).getOrCreate()
    s.conf.set("spark.sql.shuffle.partitions", s.sparkContext.defaultParallelism.toLong)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with its jobs labeled `desc` in the Spark UI and listener
    * timelines. The label is thread-local, so concurrent callers each keep
    * their own; the caller's label (Bench, QueryProfile, an outer scope)
    * is restored afterwards, not cleared. */
  private[graft] def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
