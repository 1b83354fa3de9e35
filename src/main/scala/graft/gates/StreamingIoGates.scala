package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Windows
import graft.dedup.Dedup

import DedupGates.{crossCorpusSql, decontReportSql, minhashFnvPipeline}
import Shared.{fnvSql, stop, withTempDir}

/** Streaming gates (`st`): windowed event streams and the corpus
  * screens; and IO gates (`io`): sink round trips, compaction, sorted
  * layouts, manifests and the persisted band index. */
object StreamingIoGates extends Catalog {
  def gates: Seq[Gate] = Seq(
    Gate("st2_sessionize", (s, d) => Windows.sessionize(Tables.events(s, d)),
      """WITH flagged AS (SELECT user_id, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         sess AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
           ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged),
         counts AS (SELECT user_id, session_id, count(*) AS n FROM sess GROUP BY 1,2)
         SELECT user_id, count(*) AS n_sessions, round(avg(n),4) AS avg_session_events,
           max(n) AS max_session_events
         FROM counts GROUP BY 1 ORDER BY user_id"""),
    // --- streaming semantics, batch twin (SURVEY §2.9) ---
    Gate("st1_windowed_counts", (s, d) =>
      graft.streaming.EventStreams.windowedCounts(Tables.events(s, d))
        .orderBy("window_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS cnt FROM events GROUP BY 1,2 ORDER BY window_start, event_type"""),
    // the real streaming runtime: file-source micro-batches → watermarked
    // dropDuplicatesWithinWatermark → memory sink. The watermark horizon
    // (1000h) exceeds the data span, so the result set equals global
    // exact dedup; the aggregation is survivor-agnostic (n_rows proves
    // the runtime actually deduped — without it every event would land)
    Gate("st3_stream_dedup", (s, d) =>
      graft.streaming.EventStreams.dedupThroughStream(s, Tables.events(s, d),
          Seq("user_id", "event_type"), "ts", "1000 hours",
          inputFiles = 2, statePartitions = Some(4))
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_rows"))
        .orderBy("event_type"),
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(DISTINCT user_id) AS n_rows
         FROM events GROUP BY 1 ORDER BY event_type"""),
    // the real runtime again, for AGGREGATION: file micro-batches →
    // windowed counts → Complete-mode memory sink. The final complete
    // output equals the batch aggregate regardless of file arrival
    // order, so the gate is fully pinned to the same oracle as st1
    Gate("st4_stream_windowed", (s, d) =>
      graft.streaming.EventStreams.throughStream(s, Tables.events(s, d),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.windowedCounts(df))
        .orderBy("window_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS cnt FROM events GROUP BY 1,2 ORDER BY window_start, event_type"""),
    // and for STREAM-STREAM JOIN: clicks-before-errors inner join with a
    // watermark wider than the 30-day data span, so no row is ever
    // evicted as late and the emitted pair set is exactly the batch
    // join's — pinned via exact id-sum aggregates over all pairs
    Gate("st5_stream_join", (s, d) =>
      graft.streaming.EventStreams.throughStream(s,
          // pre-filter to the two joined types before the stream source —
          // the source-side predicate pushdown a production topic/stream
          // would apply; 60% less micro-batch volume and join state
          Tables.events(s, d).filter(col("event_type").isin("error", "click")),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.clicksBeforeErrors(df,
            watermark = "87600 hours"))
        .agg(count(lit(1)).as("n_pairs"), sum("err_id").as("err_id_sum"),
          sum("clk_id").as("clk_id_sum"),
          countDistinct("err_user").as("n_users")),
      """WITH e AS (SELECT event_id AS eid, user_id AS u, ts AS et
           FROM events WHERE event_type = 'error'),
         c AS (SELECT event_id AS cid, user_id AS u, ts AS ct
           FROM events WHERE event_type = 'click')
         SELECT count(*) AS n_pairs, CAST(sum(eid) AS BIGINT) AS err_id_sum,
           CAST(sum(cid) AS BIGINT) AS clk_id_sum,
           count(DISTINCT u) AS n_users
         FROM e JOIN c USING (u)
         WHERE ct >= et - INTERVAL 1 HOUR AND ct <= et"""),
    // and for STREAM-STATIC enrichment: each micro-batch broadcast-joins
    // the static customer snapshot (stateless — no watermark or join
    // state), Complete-mode profile by segment; the final output equals
    // the batch join+agg regardless of arrival order, so fully pinned
    Gate("st6_stream_static_join", (s, d) =>
      graft.streaming.EventStreams.throughStream(s, Tables.events(s, d),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.enrichedSegmentCounts(
            df, Tables.customer(s, d)))
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS event_id_sum,
           round(sum(value), 4) AS value_sum
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY c_mktsegment"""),
    // mapGroupsWithState through the real runtime (Update mode): the
    // final per-user cumulative stats are recovered from the Update-mode
    // sink via max(struct(n_events,…)) — n_events strictly increases per
    // user, so the result equals the batch aggregate regardless of how
    // the input batched; fully pinned
    Gate("st8_stream_running_stats", (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.streaming.EventStreams.throughStream(s, ev,
          org.apache.spark.sql.streaming.OutputMode.Update(),
          inputFiles = 3, statePartitions = Some(4)) { df =>
          graft.streaming.EventStreams.runningUserStats(
            df.as[graft.streaming.EventStreams.Event]).toDF
        }
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("max_value"),
          col("value_sum"))).as("_f"))
        .select(col("user_id"), col("_f.n_events").as("n_events"),
          round(col("_f.max_value"), 4).as("max_value"),
          round(col("_f.value_sum"), 4).as("value_sum"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 4) AS max_value,
         round(sum(value), 4) AS value_sum
         FROM events GROUP BY 1 ORDER BY user_id"""),
    // built-in session_window through the real runtime (Complete mode):
    // session extents are a pure function of the event-time multiset,
    // so the converged sessions equal the batch lag/gap sessionization
    // the oracle computes — starts, counts, and value sums all pinned
    Gate("st9_stream_session_window", (s, d) =>
      graft.streaming.EventStreams.throughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 3, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.sessionWindowCounts(df))
        .orderBy("user_id", "session_start"),
      """WITH flagged AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS ns
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (SELECT user_id, ts, value, sum(ns) OVER (PARTITION BY user_id
           ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged)
         SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events, round(sum(value), 4) AS value_sum
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),
    // streaming UPSERT into a keyed, hash-bucketed parquet table: each
    // micro-batch merges latest-version-per-key into ONLY its touched
    // bucket partitions (pruned read + dynamic overwrite). Per-key max
    // is commutative across racy micro-batch orders and idempotent
    // under replay, so the drained table pins exactly to the oracle's
    // batch latest-per-key over the full event set
    Gate("st10_stream_upsert", (s, d) =>
      graft.streaming.EventStreams.upsertThroughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          round(col("value"), 4).as("last_value"))
        .orderBy("user_id"),
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_id AS last_event_id,
           event_type AS last_type, round(value, 4) AS last_value
         FROM r WHERE rn = 1 ORDER BY user_id"""),
    // skip-friendly layout PROVEN from parquet footers: write events
    // partitioned by type + sorted within files, then pin the footer
    // row counts and min/max statistics (zero data pages read) against
    // the oracle's full-scan aggregates — the write side of zone maps
    Gate("io11_sorted_layout_stats", (s, d) => withTempDir("graft_io11") { dir =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("unix_millis(cast(ts as timestamp)) DIV 1000").as("ts_sec"))
      graft.sources.SortedLayout.writeSorted(ev, dir, "event_type", "ts_sec")
      graft.sources.SortedLayout.footerStats(s, dir, "event_type", "ts_sec")
    },
      """SELECT event_type, 1 AS n_files, count(*) AS n_rows,
           min(epoch_ms(ts) // 1000) AS min_ts_sec,
           max(epoch_ms(ts) // 1000) AS max_ts_sec
         FROM events GROUP BY 1 ORDER BY event_type"""),
    // streaming leaderboard through the REAL runtime: the bounded-state
    // TopK Aggregator as a streaming aggregation (window functions are
    // rejected on streams — this is the shape that works); final state
    // ≡ the batch row_number oracle regardless of micro-batch splits
    Gate("st11_stream_topk", (s, d) =>
      graft.streaming.EventStreams.topKThroughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          keyCol = "event_type", valCol = "value", idCol = "event_id",
          k = 3, inputFiles = 3, statePartitions = Some(4))
        .orderBy("event_type", "rank"),
      """WITH r AS (SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
             ORDER BY value DESC, event_id) AS rank
           FROM events)
         SELECT event_type, rank, event_id, value
         FROM r WHERE rank <= 3 ORDER BY event_type, rank"""),
    // the real runtime into a FILE sink: micro-batches land in a curated
    // partitioned tree via foreachBatch + the drift-guarded writer,
    // overwrite-by-batch-id (replay-idempotent). The tree's CONTENTS are
    // the full event set regardless of how files batched, so the
    // read-back aggregate is fully pinned to the raw table
    Gate("st7_stream_curated_sink", (s, d) => withTempDir("graft_st7") { dir =>
      val ev = Tables.events(s, d)
      ev.coalesce(2).write.parquet(s"$dir/in")
      val schema = s.read.parquet(s"$dir/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val q2 = graft.streaming.EventStreams.writeCuratedStream(
        stream, s"$dir/curated", Seq("event_type"), s"$dir/ckpt")
      try q2.processAllAvailable() finally q2.stop()
      s.read.parquet(s"$dir/curated")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("event_id").as("id_sum"),
          count(when(col("value").isNull, 1)).as("n_null_value"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // validate-and-route: good rows to the curated path, violators to a
    // quarantine path WITH failure labels — membership of both sinks
    // pinned per status (a row can fail null-ness or range, never both)
    Gate("io9_quarantine_route", (s, d) => withTempDir("graft_io9") { dir =>
      import graft.operators.Quality
      Quality.quarantine(Tables.events(s, d),
        Seq(Quality.NotNull("value"), Quality.InRange("value", 0.0, 140.0)),
        s"$dir/good", s"$dir/bad")
      val good = s.read.parquet(s"$dir/good")
        .select(col("event_id"), lit("good").as("status"))
      val bad = s.read.parquet(s"$dir/bad")
        .select(col("event_id"), col("_failed_rules").as("status"))
      good.unionByName(bad).groupBy("status")
        .agg(count(lit(1)).as("n_rows"), sum("event_id").as("id_sum"))
        .orderBy("status")
    },
      """WITH t AS (SELECT event_id,
           CASE WHEN value IS NULL THEN 'not_null(value)' END AS r1,
           CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 140.0)
             THEN 'in_range(value,0.0,140.0)' END AS r2
           FROM events),
         s AS (SELECT event_id,
           CASE WHEN r1 IS NULL AND r2 IS NULL THEN 'good'
             ELSE concat_ws(',', r1, r2) END AS status FROM t)
         SELECT status, count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM s GROUP BY 1 ORDER BY status"""),
    // streaming decontamination: incoming shingles probe the broadcast
    // eval set through the real runtime; pinned to d11's exact oracle
    Gate("st13_stream_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.decontaminateThroughStream(s,
        docs, docs.filter(col("doc_id") % 97 === 0), k = 8)
    },
      // identical oracle: the streaming screen must reproduce the batch
      // decontamination census regardless of micro-batch arrival
      decontReportSql),
    // the SAME screen through the real streaming runtime: stateless
    // stream-static band join, append mode — pinned to the identical
    // oracle as d29, so arrival-order independence is demanded, not
    // assumed
    Gate("st12_stream_neardup_screen", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.nearDupScreenThroughStream(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true, tau = 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    },
      crossCorpusSql),
    // the GROWING-corpus streaming screen: static index catches
    // incoming×corpus, per-bucket flatMapGroupsWithState catches
    // incoming×incoming (across and within micro-batches) — pinned to
    // one batch oracle over the union, so the emitted pair SET must be
    // arrival-order independent
    Gate("st14_stream_growing_screen", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.growingNearDupScreen(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true, tau = 0.5)
        .orderBy("doc_a", "doc_b").limit(1000)
    },
      // growing-corpus screen: incoming×corpus (corpus-side guard, as in
      // d29) UNION incoming×incoming (unguarded band self-join — the
      // stateful side refuses loudly instead of degrading), canonically
      // (min,max)-oriented
      growingScreenSql),
    // the SAME growing screen driven from a PERSISTED index — the full
    // production ingest loop in one gate: build the index on a third
    // of the corpus, save, reload, COMPACT the next third in, save,
    // reload, then run the STREAMING screen against the reloaded
    // artifact (corpus side never re-signed); pinned to st14's exact
    // oracle, so index persistence + compaction + the stream screen
    // must compose bit-faithfully
    Gate("st16_stream_screen_from_index", (s, d) =>
      withTempDir("graft_st16") { dir =>
        val docs = Tables.documents(s, d)
        val idx0 = Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1), reproducible = true)
        Dedup.saveBandIndex(idx0, s"$dir/idx0")
        Dedup.saveBandIndex(Dedup.compactBandIndex(
          Dedup.loadBandIndex(s, s"$dir/idx0"),
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2)), s"$dir/idx1")
        graft.streaming.CorpusStreams.growingNearDupScreenWithIndex(s,
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
            Dedup.loadBandIndex(s, s"$dir/idx1"), tau = 0.5)
          .orderBy("doc_a", "doc_b").limit(1000)
      },
      // the screen from a SAVED-then-RELOADED (and compacted) index must
      // land on the inline screen's exact answer
      growingScreenSql),
    // the TIME-BOUNDED growing screen: incoming docs carry event time
    // (ts = epoch + doc_id seconds, so Δts ≡ Δdoc_id), an
    // incoming×incoming pair emits only within the 120 s horizon, and
    // bucket state expires past the watermark — pinned to a batch
    // oracle restricted to the same horizon, so both the pairs the
    // horizon KEEPS and the ones it EXPIRES are part of the contract
    Gate("st15_stream_windowed_screen", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.growingNearDupScreenWatermarked(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
            .withColumn("ts",
              timestamp_seconds(lit(1704067200L) + col("doc_id"))),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          horizonSeconds = 120, watermarkDelay = "5 minutes",
          reproducible = true, tau = 0.5)
        .orderBy("doc_a", "doc_b").limit(1000)
    },
      // time-bounded growing screen: identical to st14's oracle except
      // the incoming×incoming side carries the 120 s horizon (ts = epoch
      // + doc_id seconds, so the predicate is a doc_id difference); the
      // corpus side is a snapshot — horizon-free on both engines
      windowedScreenSql),
    // the time-bounded screen driven from a PERSISTED, APPENDED index
    // — both production remedies composed: bounded state (st15's
    // horizon + watermark eviction) AND a never-re-signed corpus side
    // (st16's reloaded artifact, here grown via appendBandIndex).
    // Pinned to st15's exact horizon-restricted oracle
    Gate("st17_stream_windowed_screen_from_index", (s, d) =>
      withTempDir("graft_st17") { dir =>
        val docs = Tables.documents(s, d)
        Dedup.saveBandIndex(Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
          reproducible = true), s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2))
        graft.streaming.CorpusStreams.growingNearDupScreenWatermarkedWithIndex(
            s,
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
              .withColumn("ts",
                timestamp_seconds(lit(1704067200L) + col("doc_id"))),
            Dedup.loadBandIndex(s, s"$dir/idx"),
            horizonSeconds = 120, watermarkDelay = "5 minutes", tau = 0.5)
          .orderBy("doc_a", "doc_b").limit(1000)
      },
      // the same horizon-restricted screen from a saved-then-appended
      // index must land on the inline form's exact answer
      windowedScreenSql),
    // --- sink round-trips (S9/S11/S12 get CORRECTNESS rows) ---
    // shared scaffold: withTempDir materializes the result (eager
    // localCheckpoint) BEFORE the directory is removed, and fnvSummary
    // pins membership + payload bytes per group in one agg
    // partitioned parquet sink end to end: write documents partitioned
    // by source, read ONE partition back (directory pruning), and pin
    // byte fidelity of the payload via an fnv sum over the text
    Gate("io1_partitioned_roundtrip", (s, d) => withTempDir("graft_io1") { dir =>
      val docs = Tables.documents(s, d)
      graft.sources.CuratedWriter.writePartitioned(docs, s"$dir/docs", Seq("source"))
      fnvSummary(s.read.parquet(s"$dir/docs")
        .filter(col("source") === "src1"), "lang")
    },
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE source = 'src1' GROUP BY 1 ORDER BY lang"""),
    // dynamic partition overwrite end to end: re-process ONE source
    // (uppercased text) into the tree; that partition must change and
    // every other partition must remain byte-identical to the original —
    // the oracle replays the per-source expectation over the raw table
    Gate("io3_incremental_overwrite", (s, d) => withTempDir("graft_io3") { dir =>
      val docs = Tables.documents(s, d)
      val path = s"$dir/docs"
      graft.sources.CuratedWriter.writePartitioned(docs, path, Seq("source"))
      graft.sources.CuratedWriter.writePartitionedIncremental(
        docs.filter(col("source") === "src2")
          .withColumn("text", upper(col("text"))),
        path, Seq("source"))
      fnvSummary(s.read.parquet(path), "source")
    },
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("CASE WHEN source = 'src2' THEN upper(text) ELSE text END",
           2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source"""),
    // CSV sink + fidelity scan round trip: trimming off on both sides
    // and multiLine on read, so the text bytes are ACTUALLY preserved
    // (not preserved-by-corpus-luck) — same fnv-sum pin
    Gate("io2_csv_roundtrip", (s, d) => withTempDir("graft_io2") { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .filter(length(col("text")) > 0) // CSV cannot distinguish ""/null
      graft.sources.CuratedWriter.writeCsv(docs, s"$dir/csv")
      fnvSummary(graft.sources.CuratedWriter.readCsv(s, s"$dir/csv",
        "doc_id BIGINT, source STRING, text STRING"), "source")
    },
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE len(text) > 0 GROUP BY 1 ORDER BY source"""),
    // S10 aggregate-table sink end to end: a grouped summary written via
    // writeSummary and read back must reproduce the aggregation exactly
    // (the sink the reference's analytics job persists its rollups to)
    // atomic versioned publish: v=1 (en slice) then v=2 (full corpus);
    // the _LATEST pointer must resolve to v2 while v1 stays readable
    // for time travel — membership + byte mass pinned for BOTH
    Gate("io10_versioned_publish", (s, d) => withTempDir("graft_io10") { root =>
      val docs = Tables.documents(s, d)
      graft.sources.CuratedWriter.publishVersion(
        docs.filter(col("lang") === "en"), root)
      graft.sources.CuratedWriter.publishVersion(docs, root)
      val pinned = fnvSummary(
        graft.sources.CuratedWriter.readLatest(s, root, Some(1)), "lang")
        .withColumn("version", lit(1))
      val latest = fnvSummary(
        graft.sources.CuratedWriter.readLatest(s, root), "lang")
        .withColumn("version", lit(2))
      pinned.unionByName(latest).orderBy("version", "lang")
    },
      s"""SELECT 1 AS version, lang, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(len(text)) AS BIGINT) AS chars,
           CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE lang = 'en' GROUP BY 2
         UNION ALL
         SELECT 2, lang, count(*),
           CAST(sum(doc_id) AS BIGINT),
           CAST(sum(len(text)) AS BIGINT),
           CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT)
         FROM documents GROUP BY 2
         ORDER BY version, lang"""),
    Gate("io7_summary_sink", (s, d) => withTempDir("graft_io7") { dir =>
      val summary = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      graft.sources.CuratedWriter.writeSummary(summary, s"$dir/summary")
      s.read.parquet(s"$dir/summary").orderBy("source", "lang")
    },
      """SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY source, lang
         ORDER BY source, lang NULLS FIRST"""),
    // ORC sink/scan round trip: parallel write, vectorized read-back —
    // byte fidelity pinned the same way as the parquet/CSV/JSONL sinks
    Gate("io8_orc_roundtrip", (s, d) => withTempDir("graft_io8") { dir =>
      graft.sources.CuratedWriter.writeOrc(Tables.documents(s, d), s"$dir/docs")
      fnvSummary(graft.sources.CuratedWriter.readOrc(s, s"$dir/docs"), "source")
    },
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source"""),
    // JSONL sink round trip: the corpus-interchange format — lossless
    // for every payload (escaped control chars, null ≠ ""), so the
    // whole table round-trips with no filter and the same fnv pin
    Gate("io4_jsonl_roundtrip", (s, d) => withTempDir("graft_io4") { dir =>
      graft.sources.CuratedWriter.writeJsonl(Tables.documents(s, d), s"$dir/docs")
      fnvSummary(graft.sources.CuratedWriter.readJsonl(s, s"$dir/docs",
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
        "source")
    },
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source"""),
    // schema evolution on read (the drift case the reference monitors
    // procedurally, Report §7.3): an old drop lacking a column merges
    // with a newer one via mergeSchema; missing values surface as nulls,
    // nothing is dropped or misaligned — membership + byte mass pinned
    Gate("io5_schema_evolution", (s, d) => withTempDir("graft_io5") { dir =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.parquet(s"$dir/old")
      docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text", "lang")
        .write.parquet(s"$dir/new")
      s.read.option("mergeSchema", "true").parquet(s"$dir/old", s"$dir/new")
        .groupBy(col("lang").isNull.as("lang_missing"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum(length(col("text"))).as("chars"))
        .orderBy("lang_missing")
    },
      """SELECT (doc_id % 2 = 0 OR lang IS NULL) AS lang_missing, count(*) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY lang_missing"""),
    // writer-side drift guard end to end: a drifted month (lang dropped
    // upstream, n_chars appeared) must be REFUSED by default — the gate
    // machine-checks the refusal — and accepted only under widen = true,
    // which lands missing columns as typed nulls; merged-read pinned
    Gate("io6_drift_guarded_write", (s, d) => withTempDir("graft_io6") { dir =>
      val docs = Tables.documents(s, d)
      val path = s"$dir/docs"
      graft.sources.CuratedWriter.writePartitioned(
        docs.filter(col("source") =!= "src3")
          .select("doc_id", "text", "lang", "source"),
        path, Seq("source"))
      val drifted = docs.filter(col("source") === "src3")
        .select("doc_id", "text", "source", "n_chars")
      val refused =
        try {
          graft.sources.CuratedWriter.writePartitionedIncrementalChecked(
            drifted, path, Seq("source"))
          false
        } catch { case _: IllegalStateException => true }
      require(refused, "drift guard failed to refuse a drifted write")
      graft.sources.CuratedWriter.writePartitionedIncrementalChecked(
        drifted, path, Seq("source"), widen = true)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          count(when(col("lang").isNull, 1)).as("n_null_lang"),
          sum("n_chars").as("chars_sum"))
        .orderBy("source")
    },
      """SELECT source, count(*) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         count(CASE WHEN source = 'src3' OR lang IS NULL THEN 1 END)
           AS n_null_lang,
         CAST(sum(CASE WHEN source = 'src3' THEN n_chars END) AS BIGINT)
           AS chars_sum
         FROM documents GROUP BY source ORDER BY source"""),
    // compaction planning over a deterministic pseudo-listing (one
    // "file" per (source, lang) slice, size = character mass) — the
    // bin assignment itself is the operator under test
    Gate("io12_compaction_plan", (s, d) =>
      graft.sources.Compaction.plan(
        Tables.documents(s, d)
          // concat, not concat_ws: NULL-propagating like the oracle's
          // `||`, so a NULL source/lang can't silently fork the path key
          .groupBy(concat(col("source"), lit("/"), col("lang")).as("path"))
          .agg(sum("n_chars").as("bytes")),
        "path", "bytes", nBins = 6),
      // compaction bins by cumulative size over the (bytes, path) order
      """WITH f AS (SELECT source || '/' || lang AS path,
             CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(ceil(sum(bytes) / 6.0) AS BIGINT) AS target FROM f),
         cb AS (SELECT path, bytes,
             CAST(coalesce(sum(bytes) OVER (ORDER BY bytes, path
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before FROM f)
         SELECT CAST(floor(CAST(cum_before AS DOUBLE) / t.target) AS INT)
             AS bin,
           count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
           round(CAST(sum(bytes) AS DOUBLE) / t.target, 4) AS fill_ratio
         FROM cb, t GROUP BY 1, t.target ORDER BY 1"""),
    // IVF index persistence round trip: fit + assign ONCE, save, load,
    // and the reloaded index must reproduce the fresh index's search
    // results exactly (doubles round-trip through parquet bit-exactly;
    // scoring and tie-breaks are deterministic)
    Gate("io14_ivf_persist", (s, d) => withTempDir("graft_io14") { dir =>
      val idx = graft.similarity.Ivf.buildIndex(Tables.embeddings(s, d))
      graft.similarity.Ivf.save(idx, s"$dir/ivf")
      val loaded = graft.similarity.Ivf.load(s, s"$dir/ivf")
      val fresh = graft.similarity.Ivf.search(idx, 0L until 10L)
        .localCheckpoint(true)
      val replayed = graft.similarity.Ivf.search(loaded, 0L until 10L)
        .localCheckpoint(true)
      idx.assignments.unpersist()
      loaded.assignments.unpersist()
      val r = replayed.select(col("query_id"), col("rank"),
        col("vec_id").as("r_vec"), col("sim").as("r_sim"))
      fresh.join(r, Seq("query_id", "rank"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("query_id").as("n_queries"),
          (count(when(col("vec_id") === col("r_vec")
            && col("sim") === col("r_sim"), 1)) === count(lit(1)))
            .as("match_exact"))
    },
      // reloaded-index search ≡ fresh-index search, bit-exact
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(10 AS BIGINT) AS n_queries,
         true AS match_exact"""),
    // S13 manifest write/read/error-count, gate-pinned (was unit-only):
    // S3 schema-only read, gate-pinned (was unit-only): the full
    // (table, column, type) census of every fixture table from
    // FOOTER-ONLY reads, in DuckDB's type spelling so the oracle's
    // independent DESCRIBE replay pins name+type for every column; the
    // one session contract (TIMESTAMP(NANOS) read as raw int64 ns) is
    // an explicit CASE on both sides
    Gate("io15_schema_census", (s, d) => Tables.schemaCensus(s, d),
      // independent DESCRIBE replay of the footer-only schema census —
      // name + type for every column of every fixture table
      {
      val perTable = graft.sources.Tables.names.map(t =>
        s"SELECT '$t' AS tbl, column_name AS col, lower(column_type) AS dtype" +
          s" FROM (DESCRIBE SELECT * FROM $t)").mkString(" UNION ALL ")
      s"SELECT tbl, col, dtype FROM ($perTable) ORDER BY tbl, col"
    }),
    // persisted band-index screen: the corpus side of the d29 ingest
    // screen is built ONCE, written to parquet, reloaded, and probed —
    // the production lifecycle at 100 TB (recomputing the accumulated
    // corpus per ingest batch is the thing this kills). Pinned to the
    // IDENTICAL oracle as d29/st12, so save/load must be bit-faithful
    Gate("io16_band_index_screen", (s, d) => withTempDir("graft_io16") { dir =>
      val docs = Tables.documents(s, d)
      val idx = Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0), reproducible = true)
      Dedup.saveBandIndex(idx, s"$dir/bandidx")
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/bandidx"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    },
      // save → load → screen must land on the fresh screen's exact answer
      crossCorpusSql),
    // band-index COMPACTION — the full ingest-loop lifecycle: build on
    // a third of the corpus, save, reload, FOLD the next third in with
    // compactBandIndex (batch-sized work — the indexed side is never
    // re-signed), save the compacted index, reload, screen. Pinned to
    // the IDENTICAL oracle as d29/io16 (whose corpus side is
    // doc_id % 3 <> 0 = exactly initial ∪ batch), so compaction must
    // be bit-equivalent to a fresh full build
    // band-index APPEND — the same ingest lifecycle as io17 driven
    // through the append-only persistence path: build on a third of
    // the corpus, save (batch 0), APPEND the next third in TWO
    // batches (each append writes ONLY its own batch's rows under
    // batch=<n>/ partitions and commits via the _BATCHES pointer
    // flip — never rewriting the accumulated index), reload (bucket
    // census merged on read), screen. Pinned to the IDENTICAL oracle
    // as d29/io16/io17, so the append lifecycle must be
    // bit-equivalent to a fresh full build
    Gate("io18_band_index_append", (s, d) => withTempDir("graft_io18") { dir =>
      val docs = Tables.documents(s, d)
      Dedup.saveBandIndex(Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
        reproducible = true), s"$dir/idx")
      Dedup.appendBandIndex(s, s"$dir/idx",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2
          && pmod(col("doc_id"), lit(2L)) === 0))
      Dedup.appendBandIndex(s, s"$dir/idx",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2
          && pmod(col("doc_id"), lit(2L)) === 1))
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/idx"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    },
      // build(⅓) → save → append(⅙) → append(⅙) → load → screen(⅓)
      // through the append-only persistence path must land on the same
      // fresh-full-build answer
      crossCorpusSql),
    // band-index SNAPSHOT COMPACTION — the maintenance op a long
    // append chain needs (one batch=<n>/ dir per append → listing
    // overhead and census width grow with batch count): build ⅓ →
    // save (v=1) → append ⅙ → SNAPSHOT (folds the chain into batch 0
    // of v=2, _LATEST flipped) → append ⅙ (lands in v=2) → load →
    // screen. Pinned to the IDENTICAL oracle as d29/io16/io17/io18,
    // so versioning + snapshot + post-snapshot appends must compose
    // bit-faithfully with a fresh full build
    Gate("io19_band_index_snapshot", (s, d) =>
      withTempDir("graft_io19") { dir =>
        val docs = Tables.documents(s, d)
        Dedup.saveBandIndex(Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
          reproducible = true), s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2
            && pmod(col("doc_id"), lit(2L)) === 0))
        Dedup.snapshotBandIndex(s, s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2
            && pmod(col("doc_id"), lit(2L)) === 1))
        Dedup.screenAgainstIndex(
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
            Dedup.loadBandIndex(s, s"$dir/idx"))
          .filter(col("est_jaccard") >= 0.5)
          .orderBy("doc_in", "doc_corpus").limit(1000)
      },
      // save → append → SNAPSHOT (new version) → append → load → screen
      // must land on the same fresh-full-build answer
      crossCorpusSql),
    Gate("io17_band_index_compact", (s, d) => withTempDir("graft_io17") { dir =>
      val docs = Tables.documents(s, d)
      val idx0 = Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1), reproducible = true)
      Dedup.saveBandIndex(idx0, s"$dir/idx0")
      val compacted = Dedup.compactBandIndex(
        Dedup.loadBandIndex(s, s"$dir/idx0"),
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2))
      Dedup.saveBandIndex(compacted, s"$dir/idx1")
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/idx1"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    },
      // build(⅓) → save → load → compact(⅓) → save → load → screen(⅓)
      // must land on the fresh full build's exact answer
      crossCorpusSql),
    // one manifest entry per (source, lang) slice — per-FILE metadata,
    // bounded by construction — appended through Manifest.append (JSON
    // escaping), read back through Manifest.read, and rolled up; the
    // oracle recomputes every number straight from `documents`, so a
    // parse/escape/error-count defect in the manifest codec fails the
    // hash
    Gate("io13_manifest_check", (s, d) => withTempDir("graft_io13") { dir =>
      val slices = Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
        .orderBy("source", "lang")
        .collect() // |sources|×|langs| rows — manifest-sized metadata
      val path = s"$dir/manifest.jsonl"
      slices.foreach { r =>
        graft.sources.Manifest.append(path, graft.sources.Manifest.Entry(
          url = s"""https://example.test/${r.getString(0)}/${r.getString(1)}.parquet""",
          yearMonth = f"2024-${r.getLong(2) % 12 + 1}%02d",
          cabType = r.getString(0),
          downloaded = r.getLong(2) % 2 == 0,
          sizeBytes = r.getLong(3),
          error = if (r.getLong(2) % 3 == 0)
            Some("HTTP 500 \"server\\error\" after 3 retries") else None,
          rows = Some(r.getLong(2))))
      }
      val entries = graft.sources.Manifest.read(path)
      val errorCount = graft.sources.Manifest.errorCount(path)
      import s.implicits._
      entries.map(e => (e.cabType, e.downloaded, e.sizeBytes,
          e.rows.getOrElse(-1L), e.error.isDefined))
        .toDF("source", "downloaded", "size_bytes", "n_docs", "has_error")
        .groupBy("source")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("downloaded"), 1L).otherwise(0L)).as("n_downloaded"),
          sum("size_bytes").as("total_bytes"),
          sum("n_docs").as("total_docs"),
          sum(when(col("has_error"), 1L).otherwise(0L)).as("n_errors"))
        .withColumn("manifest_error_count", lit(errorCount.toLong))
        .orderBy("source")
    },
      // every manifest number recomputed straight from documents — a
      // Manifest.append/read escaping or error-count defect fails the hash
      """WITH s AS (SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1, 2),
         t AS (SELECT CAST(sum(CASE WHEN n_docs % 3 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS mec FROM s)
         SELECT source, count(*) AS n_files,
           CAST(sum(CASE WHEN n_docs % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_downloaded,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_docs) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN n_docs % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_errors,
           t.mec AS manifest_error_count
         FROM s, t GROUP BY source, t.mec ORDER BY source""")
  )

  /** Membership + payload-byte pin per group: row count, id sum,
    * character mass, and an fnv sum over the text. */
  private def fnvSummary(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum(length(col("text"))).as("chars"),
        sum(graft.functions.HashExpressions.fnv1a32(col("text")))
          .as("text_fnv_sum"))
      .orderBy(groupCol)

  /** Growing-screen oracle shared by st14 (inline corpus side) and
    * st16 (persisted → compacted → reloaded index): incoming×corpus
    * with the corpus-side star guard (as in d29) UNION the unguarded
    * incoming band self-join, canonically (min,max)-oriented. */
  private lazy val growingScreenSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS u, c.doc_id AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS u, z.rep AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       ii AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
         FROM bi a JOIN bi b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       cand AS (SELECT DISTINCT least(u, v) AS doc_a,
           greatest(u, v) AS doc_b
         FROM (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star
               UNION ALL SELECT * FROM ii)),
       stx AS (SELECT doc_a, doc_b,
           len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE
             / 64 AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = doc_a
         JOIN sig sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, est_jaccard FROM stx WHERE est_jaccard >= 0.5
       ORDER BY doc_a, doc_b LIMIT 1000"""

  /** Time-bounded growing-screen oracle shared by st15 (inline corpus
    * side) and st17 (persisted → appended → reloaded index): identical
    * to [[growingScreenSql]] except the incoming×incoming side carries
    * the 120 s horizon (ts = epoch + doc_id seconds, so the predicate
    * is a doc_id difference); the corpus side is a snapshot —
    * horizon-free on both engines. */
  private lazy val windowedScreenSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS u, c.doc_id AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS u, z.rep AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       ii AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
         FROM bi a JOIN bi b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         WHERE b.doc_id - a.doc_id <= 120),
       cand AS (SELECT DISTINCT least(u, v) AS doc_a,
           greatest(u, v) AS doc_b
         FROM (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star
               UNION ALL SELECT * FROM ii)),
       stx AS (SELECT doc_a, doc_b,
           len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE
             / 64 AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = doc_a
         JOIN sig sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, est_jaccard FROM stx WHERE est_jaccard >= 0.5
       ORDER BY doc_a, doc_b LIMIT 1000"""
}
