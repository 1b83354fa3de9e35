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
  def tune(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
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

  /** Session for `spark-submit` deployments: the same engine tuning, with
    * master/resources/deploy-mode left to the submit command (cluster
    * managers inject `spark.master` into system properties). Falls back
    * to [[local]] when no external master is configured, so the same
    * `main` runs identically under `sbt runMain` and `spark-submit`. */
  def submitted(appName: String = "graft"): SparkSession =
    if (sys.props.contains("spark.master")) {
      val s = tune(SparkSession.builder().appName(appName)).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    } else local(appName = appName)

  /** Core count for the CLI mains' local sessions: `SPARK_GRAFT_CPUS`
    * when set, else every core this JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session for tests / CLI runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val warehouse = Fs.tempDirDeletedAtExit("graft-warehouse")
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse.toString),
      shufflePartitions = math.max(cores, 8)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
