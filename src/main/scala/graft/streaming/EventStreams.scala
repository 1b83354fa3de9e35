package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface. The reference is batch-only (streaming is
  * explicit future work, Report.pdf §15; SURVEY §2.9) — this module is the
  * superset capability: the same event analytics as
  * [[graft.operators.Windows]] expressed over `readStream`, with
  * event-time watermarks, plus stateful sessionization via
  * `flatMapGroupsWithState`.
  *
  * Batch/stream parity is by construction: [[windowedCounts]] accepts any
  * DataFrame — feed it a batch read and it computes the identical result
  * the gate checks via [[graft.SparkEntry.queries]] ("st1_windowed_counts").
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(count: Long, lastTs: Long)
  final case class SessionOut(user_id: Long, session_end_ts: Timestamp, n_events: Long)

  /** Tumbling-window counts by event type with a watermark for state
    * eviction (1-hour windows) — at scale, state size is bounded by
    * (windows in flight × types), independent of throughput. */
  def windowedCounts(events: DataFrame,
                     watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))
  }

  /** Built-in session-window aggregation: per-user sessions that merge
    * while consecutive events arrive within a 30-minute `gap` and close
    * at last-event + gap — the declarative twin of [[sessionizeStream]]'s
    * explicit mapGroupsWithState (use THIS unless the session logic
    * needs custom state; Catalyst plans the merge, and the state store
    * handles out-of-order arrival by merging overlapping windows).
    * Session identity is a pure function of the event-time multiset, so
    * the converged result is arrival-order-independent and oracle-
    * pinnable: a new session starts exactly when the gap to the
    * previous event is STRICTLY greater than `gap` (the session end
    * `last + gap` is an inclusive merge bound — spec-asserted).
    * Works on batch frames too — same plan minus the state store. */
  def sessionWindowCounts(events: DataFrame): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", "35 days") else events
    src.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("value_sum"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("value_sum"))
  }

  /** Gap-based sessionization (30-minute gap, 2-hour watermark) with
    * explicit state + EVENT-TIME timeout:
    * when the watermark passes an idle user's last event + gap, the open
    * session is emitted and its state removed — without the timeout a
    * user who never returns would hold state forever (unbounded growth)
    * and their final session would never be output. Batch input takes a
    * plain flatMapGroups that flushes the trailing session, matching
    * [[graft.operators.Windows.sessionize]] session counts. */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30 * 60 * 1000L
    if (!events.isStreaming) {
      events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var st = SessionState(0L, Long.MinValue)
        it.toSeq.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          if (st.count > 0 && t - st.lastTs > gapMs) {
            out += SessionOut(userId, new Timestamp(st.lastTs), st.count)
            st = SessionState(0L, Long.MinValue)
          }
          st = SessionState(st.count + 1, t)
        }
        if (st.count > 0) out += SessionOut(userId, new Timestamp(st.lastTs), st.count)
        out.iterator
      }
    } else events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(st.lastTs), st.count))
          } else {
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              if (st.count > 0 && t - st.lastTs > gapMs) {
                out += SessionOut(userId, new Timestamp(st.lastTs), st.count)
                st = SessionState(0L, Long.MinValue)
              }
              // never let a late-but-within-watermark event REWIND
              // lastTs: a rewound frontier would fake a gap against the
              // next in-order event and split the session spuriously
              st = SessionState(st.count + 1, math.max(st.lastTs, t))
            }
            state.update(st)
            // fire once the watermark passes the gap after the last
            // event (timeout ts must stay ahead of the watermark)
            state.setTimeoutTimestamp(
              math.max(st.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  final case class UserStats(user_id: Long, n_events: Long,
                             max_value: Double, value_sum: Double)

  /** Per-user running aggregate via `mapGroupsWithState` — the
    * one-output-row-per-group-per-batch stateful API (the sibling of
    * [[sessionizeStream]]'s flatMap form): each micro-batch folds its
    * events into the user's state and emits the updated cumulative
    * stats. Run in Update mode; the LAST emission per user is the
    * complete aggregate, and because `n_events` strictly increases
    * across a user's emissions, `max(struct(n_events, …))` recovers the
    * final row from an Update-mode sink without any ordering
    * assumption. NoTimeout: the state is the product here (a live
    * per-user profile), not a session to expire; a deployment that
    * needs eviction adds an event-time timeout exactly as
    * [[sessionizeStream]] does. State is O(users), independent of
    * throughput. Batch input computes the same aggregate via a plain
    * mapGroups (the oracle's twin). */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    def fold(st: UserStats, e: Event): UserStats =
      UserStats(st.user_id, st.n_events + 1,
        math.max(st.max_value, e.value), st.value_sum + e.value)
    def zero(uid: Long) = UserStats(uid, 0L, Double.NegativeInfinity, 0.0)
    if (!events.isStreaming)
      events.groupByKey(_.user_id).mapGroups { (uid, it) =>
        it.foldLeft(zero(uid))(fold)
      }
    else events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[UserStats]) =>
          val st = it.foldLeft(state.getOption.getOrElse(zero(uid)))(fold)
          state.update(st)
          st
      }
  }

  /** Streaming exact dedup on arbitrary key columns (e.g. a document
    * fingerprint) with watermark-bounded state:
    * `dropDuplicatesWithinWatermark` keeps one state entry per key seen
    * inside the watermark horizon and evicts older state, so memory is
    * bounded by arrival rate × horizon rather than total corpus size —
    * the streaming twin of [[graft.dedup.Dedup.exactDedup]]. On a batch
    * frame it degrades to plain `dropDuplicates` (global exact dedup). */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
                  watermark: String = "2 hours"): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)

  /** Watermarked stream-stream inner join: each error event is paired
    * with the same user's click events from the preceding hour. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so each side's buffered state is evicted once no future
    * row can match it — the state-bounded form of the as-of/enrichment
    * join ([[graft.operators.AsOfJoin]] is the batch twin). */
  def clicksBeforeErrors(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    def side(t: String, prefix: String) = {
      val f = events.filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"), col("value").as(s"${prefix}_value"))
      if (f.isStreaming) f.withWatermark(s"${prefix}_ts", watermark) else f
    }
    side("error", "err").join(side("click", "clk"),
      col("err_user") === col("clk_user") &&
        col("clk_ts") >= col("err_ts") - expr("INTERVAL 1 HOUR") &&
        col("clk_ts") <= col("err_ts"))
  }

  /** Stream-static enrichment join + profile: each micro-batch joins
    * the static dimension snapshot — STATELESS on the stream side (no
    * watermark, no join state store; the static side is broadcast to
    * every micro-batch), which is why this is the production shape for
    * enriching an event stream against a slowly-changing dimension —
    * then a Complete-mode aggregate profiles the stream by the
    * dimension attribute. Works identically on a batch frame (the
    * batch twin the oracle replays). */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum("event_id").as("event_id_sum"),
        round(sum("value"), 4).as("value_sum"))

  /** Stagger a just-written parquet directory's part-file mtimes in
    * part-name order: FileStreamSource processes new files in mtime
    * order, and a single write stamps every part with the SAME mtime,
    * leaving the tie-break (= micro-batch arrival order) to listing
    * order. Every part is rebased off one COMMON base (the max mtime
    * observed in the directory) — adding to each file's own mtime
    * would preserve any pre-existing spread (a straggler task can
    * stamp a part seconds later than its siblings) and lose the
    * name-order contract. One second apart is enough — mtime
    * granularity is ms. A filesystem that rejects setLastModified
    * refuses loudly: silently keeping write-order mtimes would turn
    * every downstream event-time contract nondeterministic. */
  private def staggerPartMtimes(dir: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    if (parts.nonEmpty) {
      val base = parts.map(_.lastModified()).max
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + (i + 1) * 1000L),
          s"staggerPartMtimes: setLastModified failed on $f — this " +
            "filesystem cannot provide deterministic micro-batch arrival")
      }
    }
  }

  /** Drive ANY stream transform through the REAL streaming runtime end
    * to end: spill `batch` to a parquet directory, re-read it as a
    * file-source stream in bounded micro-batches (`maxFilesPerTrigger=1`
    * → `inputFiles` triggers), apply `transform`, and drain a memory
    * sink in `mode`. Returns the sink contents as a batch DataFrame once
    * the stream is fully processed, detached (eager localCheckpoint)
    * from the temp input/checkpoint dirs, which are removed.
    *
    * Micro-batch arrival ORDER is made deterministic: the part files'
    * modification times are staggered in part-name order after the
    * write (FileStreamSource processes new files in mtime order, and a
    * single parquet write stamps every part with the SAME mtime — the
    * tie-break is listing order, i.e. nondeterministic). Rows keep
    * their upstream partition order within `coalesce`, so callers that
    * feed event-time data in partition order get in-order arrival up
    * to one file's span — the disorder bound watermarked transforms
    * size their delay against. */
  def throughStream(spark: SparkSession, batch: DataFrame,
                    mode: OutputMode, inputFiles: Int = 4,
                    statePartitions: Option[Int] = None,
                    orderCol: Option[String] = None)
                   (transform: DataFrame => DataFrame): DataFrame = {
    val dirPath = java.nio.file.Files.createTempDirectory("graft_stream_run")
    val dir = dirPath.toString
    val sink = s"graft_st_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // A streaming query's state-store count is frozen from
    // spark.sql.shuffle.partitions at FIRST start — for stateful ops
    // every micro-batch pays a per-store commit (×2 sides for a join),
    // so stores must be sized to arrival rate, not to the session's
    // batch-shuffle width (32 stores × tiny batches = pure overhead;
    // a high-throughput deployment raises it back). The set-and-restore
    // mutates SESSION-global conf, so the whole run is serialized on a
    // lock: two interleaved calls would otherwise capture each other's
    // temporary value as "previous" and corrupt the session default.
    confLock.synchronized {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // Plain coalesce groups upstream partitions by LOCALITY, not
      // index — a checkpointed input can land partition 0 and partition
      // 30 in the same file, so "later file = later data" does NOT hold
      // and event-time disorder spans the whole input (measured: a
      // watermarked screen late-dropped 3/4 of its rows). Transforms
      // with an event-time contract pass `orderCol`: range-partitioning
      // on it makes file k hold the k-th time range, so arrival order
      // (mtime-staggered below) IS event-time order up to one file.
      val arranged = orderCol match {
        case Some(c) => batch.repartitionByRange(inputFiles, col(c))
        case None => batch.coalesce(inputFiles)
      }
      arranged.write.mode("overwrite").parquet(s"$dir/in")
      staggerPartMtimes(s"$dir/in") // deterministic arrival order
      val schema = spark.read.parquet(s"$dir/in").schema
      val raw = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      // Watermarks reject TIMESTAMP_NTZ event-time columns
      // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and parquet written by
      // other engines (e.g. an oracle/probe corpus from DuckDB) reads
      // back as NTZ. Normalize to TIMESTAMP — the session is pinned to
      // UTC, so the wall-clock reinterpretation is identity.
      val stream = schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
        .foldLeft(raw) { (df, f) =>
          df.withColumn(f.name, col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
        }
      statePartitions.foreach(n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString))
      val q = transform(stream)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      // Eager localCheckpoint detaches the result from both the memory
      // sink's temp view and the on-disk input/checkpoint, so neither
      // leaks past this call (repeated gate/bench runs used to accrete
      // /tmp dirs + catalog views for the life of the session).
      spark.table(sink).localCheckpoint(eager = true)
    } finally {
      // restored only after the query is fully stopped — the streaming
      // runtime captures shuffle.partitions into checkpoint metadata
      // when the first micro-batch is planned (async wrt start())
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try spark.catalog.dropTempView(sink) catch { case _: Throwable => () }
      // guarded: a cleanup failure (e.g. a file briefly pinned by the
      // just-stopped stream) must not mask the original query exception
      try graft.Fs.deleteRecursively(dirPath) catch { case _: Throwable => () }
    }
    }
  }

  private val confLock = new Object

  /** [[dedupStream]] through the real runtime via [[throughStream]].
    * Which duplicate survives depends on micro-batch arrival order
    * (genuinely racy across files) — callers must aggregate
    * survivor-agnostically (counts per key class, never payloads). */
  def dedupThroughStream(spark: SparkSession, batch: DataFrame,
                         keyCols: Seq[String], tsCol: String = "ts",
                         watermark: String = "2 hours",
                         inputFiles: Int = 4,
                         statePartitions: Option[Int] = None): DataFrame =
    throughStream(spark, batch, OutputMode.Append(), inputFiles, statePartitions)(
      dedupStream(_, keyCols, tsCol, watermark))

  /** Streaming top-k per key via [[graft.operators.TopK.TopKAgg]] — the
    * leaderboard shape window functions CANNOT express on a stream
    * (Structured Streaming rejects window functions outright; the
    * bounded-state Aggregator runs as an ordinary streaming
    * aggregation, ≤k rows of state per key). Complete-mode memory sink:
    * after `processAllAvailable` the state equals the batch answer
    * EXACTLY regardless of micro-batch arrival order, because the
    * aggregator's merge is order-insensitive under its strict
    * (value desc, id asc) contract (merge ≡ reduce, TopKSpec). */
  def topKThroughStream(spark: SparkSession, batch: DataFrame,
                        keyCol: String, valCol: String, idCol: String,
                        k: Int, inputFiles: Int = 3,
                        statePartitions: Option[Int] = None): DataFrame =
    throughStream(spark, batch, OutputMode.Complete(), inputFiles,
      statePartitions) { st =>
      val topk = udaf(new graft.operators.TopK.TopKAgg(k))
      st.groupBy(keyCol)
        .agg(topk(col(valCol).cast("double"), col(idCol).cast("long"))
          .as("_top"))
        .select(col(keyCol), posexplode(col("_top")))
        .select(col(keyCol), (col("pos") + 1).cast("long").as("rank"),
          col("col._2").as(idCol), col("col._1").as(valCol))
    }

  /** One micro-batch of [[writeCuratedStream]]: land `batch` into the
    * curated tree under partition `_batch_id=batchId` (plus the user's
    * partition columns) via the drift-guarded dynamic-overwrite writer.
    * Overwrite-by-batch-id is what turns foreachBatch's at-least-once
    * into exactly-once for a file sink: a replayed batch REPLACES
    * exactly its own partitions instead of appending duplicates.
    * Exposed so the spec can replay a batch id and assert idempotence
    * directly, without staging a runtime failure. */
  def landCuratedBatch(batch: DataFrame, batchId: Long, path: String,
                       partitionCols: Seq[String]): Unit =
    graft.sources.CuratedWriter.writePartitionedIncrementalChecked(
      batch.withColumn("_batch_id", lit(batchId)),
      path, "_batch_id" +: partitionCols, false)

  /** Production file sink for a stream: every micro-batch lands in a
    * partitioned curated parquet tree through the SAME write-boundary
    * guarantees as batch ingestion — the schema-drift guard refuses a
    * silently drifted upstream (failing the query rather than
    * corrupting the tree), and
    * overwrite-by-batch-id makes retries idempotent (exactly-once
    * contents under foreachBatch's at-least-once replay). Readers
    * `spark.read.parquet(path)` and drop `_batch_id`, or prune on it
    * for incremental downstream consumption. */
  def writeCuratedStream(stream: DataFrame, path: String,
                         partitionCols: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landCuratedBatch(batch, batchId, path, partitionCols)
      }
      .start()

  /** Merge one change batch into a keyed parquet table, latest version
    * per key wins. The table is partitioned by `_kb` (a hash bucket of
    * the key), so a micro-batch touches ONLY its buckets: the read is
    * partition-pruned to the touched buckets, and the write is a
    * dynamic-partition overwrite of exactly those buckets — state-table
    * maintenance cost scales with the batch's key spread, not the
    * table size (the whole-table read-modify-rewrite this replaces is
    * the naive sink that stops scaling first). The merged winners are
    * eagerly materialized BEFORE the overwrite, because the write
    * replaces the very partitions the merge read.
    *
    * `versionCols` must totally order each key's versions (include a
    * unique tiebreak): the winner is then a per-key MAX — idempotent
    * under foreachBatch's at-least-once replay and commutative across
    * micro-batch arrival orders, so the drained table equals the batch
    * "latest per key" over the full input regardless of scheduling. */
  def mergeBatchIntoKeyedTable(batch: DataFrame, tableDir: String,
                               keyCols: Seq[String], versionCols: Seq[String],
                               buckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val incoming = batch.withColumn("_kb",
      pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast("int"))
    val touched = incoming.select("_kb").distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ buckets values — driver-safe
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val hasTable = fs.exists(new org.apache.hadoop.fs.Path(tableDir))
    val current =
      if (hasTable)
        spark.read.parquet(tableDir)
          .filter(col("_kb").isin(touched: _*))
          .select(incoming.columns.map(col): _*) // align column order
      else incoming.limit(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(versionCols.map(c => col(c).desc): _*)
    val merged = current.unionByName(incoming)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kb").parquet(tableDir)
  }

  /** Streaming upsert sink: every micro-batch merges into the keyed
    * table via [[mergeBatchIntoKeyedTable]] — the streaming half of the
    * CDC surface (batch MERGE is `SnapshotDiff.applyChanges`, gate u4;
    * this is the same semantics arriving continuously). */
  def upsertStream(stream: DataFrame, tableDir: String, checkpoint: String,
                   keyCols: Seq[String], versionCols: Seq[String],
                   buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatchIntoKeyedTable(batch, tableDir, keyCols, versionCols, buckets)
      }
      .start()

  /** [[upsertStream]] through the real runtime: spill `batch` to a
    * parquet dir, re-read as a bounded file stream (one file per
    * micro-batch), drain the upsert sink, and return the final table
    * (bucket column dropped), detached from the temp dirs. Arrival
    * order across files is racy, but the merge's per-key max makes the
    * drained table order-independent — fully gate-pinnable. */
  def upsertThroughStream(spark: SparkSession, batch: DataFrame,
                          keyCols: Seq[String], versionCols: Seq[String],
                          inputFiles: Int = 4, buckets: Int = 16): DataFrame = {
    val dirPath = java.nio.file.Files.createTempDirectory("graft_upsert_run")
    val dir = dirPath.toString
    try {
      batch.coalesce(inputFiles).write.mode("overwrite").parquet(s"$dir/in")
      staggerPartMtimes(s"$dir/in") // deterministic arrival order
      val schema = spark.read.parquet(s"$dir/in").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val q = upsertStream(stream, s"$dir/table", s"$dir/ckpt",
        keyCols, versionCols, buckets)
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$dir/table").drop("_kb")
        .localCheckpoint(eager = true)
    } finally {
      try graft.Fs.deleteRecursively(dirPath) catch { case _: Throwable => () }
    }
  }
}
