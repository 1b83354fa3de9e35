package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.GraftSession.labeled
import graft.dedup.Dedup

/** Document-corpus operators through the REAL streaming runtime — the
  * ingest-time shapes a training-data pipeline runs as new crawl
  * batches land, verified against their batch twins.
  *
  * Reference analogue: none (the reference is batch-only; its own
  * TODO list names streaming as future work) — beyond-reference scope
  * continuing the [[EventStreams]] suite, corpus-side.
  */
object CorpusStreams {

  /** Docs one band bucket may hold in the stateful screens' state
    * before the screen refuses (see [[growingNearDupScreen]]). */
  private val MaxStateDocs = 4096

  /** Streaming near-dup screen against a static corpus — the streaming
    * twin of [[Dedup.crossCorpusNearDups]]: incoming documents arrive
    * as file micro-batches; each batch is minhash-signed and LSH-banded
    * ROW-LOCALLY (the codegen'd expressions are stateless, so they run
    * unchanged on a stream), stream-static joined against the
    * precomputed corpus band index, scored by signature agreement, and
    * emitted in Append mode.
    *
    * Every stage is STATELESS (projections + stream-static inner
    * joins): no watermark, no state store, and the emitted set is
    * independent of how the input splits into micro-batches — a pair
    * colliding in several bands emits once per band, deduplicated in
    * the batch epilogue, so the returned frame is EXACTLY the batch
    * twin's answer regardless of arrival order (the gate pins both to
    * one oracle).
    *
    * At deployment scale the static side is the persisted band index of
    * the accumulated corpus (signatures + band keys are 8·k bytes/doc —
    * the thing to save across ingest batches); here it is computed
    * fresh and frozen with an eager localCheckpoint so every
    * micro-batch probes the identical index. */
  def nearDupScreenThroughStream(spark: SparkSession, incoming: DataFrame,
                                 corpus: DataFrame,
                                 reproducible: Boolean = false,
                                 tau: Double = 0.5,
                                 inputFiles: Int = 3): DataFrame = {
    val sigsC = Dedup.minhashSignatures(corpus, reproducible = reproducible)
      .localCheckpoint(eager = true)
    val bC = Dedup.bandedKeys(sigsC, Dedup.NumHashes, Dedup.Bands, reproducible)
    val bucketsC = bC.groupBy("band", "band_hash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("bsz"))
      .localCheckpoint(eager = true)
    val smallC = bC.join(bucketsC, Seq("band", "band_hash"))
      .filter(col("bsz") <= Dedup.MaxBucket)
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_corpus"))
      .localCheckpoint(eager = true)
    val starC = bucketsC.filter(col("bsz") > Dedup.MaxBucket)
      .select(col("band"), col("band_hash"), col("rep").as("doc_corpus"))
      .localCheckpoint(eager = true)
    val sigC = sigsC.select(col("doc_id").as("doc_corpus"),
      col("sig").as("sig_c"))

    val raw = EventStreams.throughStream(spark,
      incoming.select("doc_id", "text"), OutputMode.Append(), inputFiles) {
      stream =>
        val sigS = stream.select(col("doc_id").as("doc_in"),
          graft.functions.HashExpressions.minhashSignature(
            graft.functions.HashExpressions.shingleHashes(col("text"),
              Dedup.ShingleK, fnv = reproducible), Dedup.NumHashes).as("sig"))
        val bS = sigS.select(col("doc_in"), col("sig").as("sig_i"),
            posexplode(array(
              Dedup.bandKeyCols(Dedup.NumHashes, Dedup.Bands,
                reproducible): _*)))
          .select(col("doc_in"), col("sig_i"),
            col("pos").as("band"), col("col").as("band_hash"))
        val cands = bS.join(smallC, Seq("band", "band_hash"))
          .select(col("doc_in"), col("sig_i"), col("doc_corpus"))
          .union(bS.join(starC, Seq("band", "band_hash"))
            .select(col("doc_in"), col("sig_i"), col("doc_corpus")))
        cands.join(sigC, "doc_corpus")
          .select(col("doc_in"), col("doc_corpus"),
            (size(filter(zip_with(col("sig_i"), col("sig_c"),
              (x, y) => x === y), eq => eq)).cast("double") /
              Dedup.NumHashes)
              .as("est_jaccard"))
          .filter(col("est_jaccard") >= tau)
    }
    // per-band duplicate emissions collapse here (distinct on a stream
    // would need a state store; the stateless emit + batch epilogue is
    // exactly equivalent and arrival-order-proof)
    raw.distinct()
  }

  /** One (doc, band) row entering a bucket's state. */
  final case class BandedDoc(band: Int, band_hash: Seq[Long], doc_id: Long,
                             sig: Seq[Long])

  /** Per-bucket state: every incoming doc seen in this bucket so far. */
  final case class BucketState(docs: List[BandedDoc])

  /** A screened near-dup pair, canonically oriented (doc_a < doc_b). */
  final case class NearPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** GROWING-corpus streaming near-dup screen — the stateful successor
    * of [[nearDupScreenThroughStream]] (round-10 VERDICT item 4): the
    * static corpus index still catches incoming×corpus duplicates with
    * the stream-static band join, and a `flatMapGroupsWithState` keyed
    * by (band, band_hash) accumulates the incoming docs THEMSELVES, so
    * incoming×incoming duplicates — across micro-batches or inside one
    * — are caught too. A pair emits exactly when its LATER-ARRIVING
    * member processes (the earlier one is already in bucket state, or
    * ahead of it in the same invocation's doc_id-sorted scan), so the
    * emitted SET is independent of how arrivals split into
    * micro-batches; pairs are canonically (min, max)-oriented and the
    * per-band duplicate emissions collapse in the batch epilogue —
    * the gate pins the whole thing to one batch oracle over the union.
    *
    * State contract: one entry per (incoming doc, band) —
    * `bands · (8·numHashes + 16)` bytes per accepted doc, linear in the
    * batch horizon, NOT in the static corpus (that side lives in the
    * persisted band index, `Dedup.saveBandIndex`). A bucket that
    * outgrows `MaxStateDocs` REFUSES loudly (the
    * [[graft.dedup.StarComponents]] contract) instead of silently
    * degrading — the production remedies: fold the horizon into the
    * persisted index with [[graft.dedup.Dedup.compactBandIndex]] (a
    * batch-sized operation — the corpus is never re-signed) and
    * restart the screen with empty state, or raise the bound
    * knowingly; a deployment that wants time-bounded state instead
    * uses [[growingNearDupScreenWatermarked]], trading "screens
    * against everything since the last compaction" for "within the
    * horizon" — SCALE.md's Streaming section tabulates the state-size
    * arithmetic. */
  def growingNearDupScreen(spark: SparkSession, incoming: DataFrame,
                           corpus: DataFrame,
                           reproducible: Boolean = false,
                           tau: Double = 0.5, inputFiles: Int = 3): DataFrame =
    growingNearDupScreenWithIndex(spark, incoming,
      Dedup.buildBandIndex(corpus, reproducible = reproducible),
      tau, inputFiles)

  /** The corpus side of a screen against `index`, checkpointed so every
    * micro-batch probes an identical, lineage-free index (a freshly built
    * index otherwise re-evaluates per batch): the small buckets' members,
    * the oversize buckets' representatives, and the signatures. Each
    * freeze is labeled so the phase is attributable in job timelines
    * (guide §1.5). */
  private def frozenCorpus(spark: SparkSession, index: Dedup.BandIndex)
      : (DataFrame, DataFrame, DataFrame) = {
    def frozen(desc: String)(df: DataFrame): DataFrame =
      labeled(spark, s"screen: freeze $desc")(df.localCheckpoint(eager = true))
    val bucketsC = frozen("buckets")(index.buckets)
    val smallC = frozen("small-buckets")(
      index.bands.join(bucketsC, Seq("band", "band_hash"))
        .filter(col("bsz") <= Dedup.MaxBucket)
        .select(col("band"), col("band_hash"), col("doc_id").as("doc_corpus")))
    val starC = frozen("star-buckets")(
      bucketsC.filter(col("bsz") > Dedup.MaxBucket)
        .select(col("band"), col("band_hash"), col("rep").as("doc_corpus")))
    val sigCorpus = frozen("signatures")(
      index.signatures.select(col("doc_id").as("doc_corpus"),
        col("sig").as("sig_c")))
    (smallC, starC, sigCorpus)
  }

  /** [[growingNearDupScreen]] against a (typically RELOADED) persisted
    * band index — the actual production loop at 100 TB: the corpus
    * side comes from `Dedup.loadBandIndex` (built once per snapshot,
    * grown per batch with `Dedup.compactBandIndex`), so the screen
    * never re-signs the accumulated corpus; the incoming batch is
    * signed and banded with the INDEX's parameters. Semantics and
    * output are exactly [[growingNearDupScreen]]'s — one oracle pins
    * both (st14/st16). */
  def growingNearDupScreenWithIndex(spark: SparkSession, incoming: DataFrame,
                                    index: Dedup.BandIndex,
                                    tau: Double = 0.5,
                                    inputFiles: Int = 3): DataFrame = {
    val numHashes = index.numHashes
    val bands = index.numBands
    val shingleK = index.shingleK
    val reproducible = index.reproducible
    val (smallC, starC, sigCorpus) = frozenCorpus(spark, index)

    import spark.implicits._
    def agreement(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }
        .toDouble / numHashes

    val raw = EventStreams.throughStream(spark,
      incoming.select("doc_id", "text"), OutputMode.Append(), inputFiles,
      statePartitions = Some(8)) { stream =>
      val sigS = stream.select(col("doc_id"),
        graft.functions.HashExpressions.minhashSignature(
          graft.functions.HashExpressions.shingleHashes(col("text"),
            shingleK, fnv = reproducible), numHashes).as("sig"))
      val bS = sigS.select(col("doc_id"), col("sig"),
          posexplode(array(
            Dedup.bandKeyCols(numHashes, bands, reproducible): _*)))
        .select(col("pos").cast("int").as("band"), col("col").as("band_hash"),
          col("doc_id"), col("sig"))
      // incoming × static corpus: stateless, guarded on the corpus side
      val vsCorpus = bS
        .join(smallC.unionByName(starC), Seq("band", "band_hash"))
        .join(sigCorpus, "doc_corpus")
        .select(
          least(col("doc_id"), col("doc_corpus")).as("doc_a"),
          greatest(col("doc_id"), col("doc_corpus")).as("doc_b"),
          (size(filter(zip_with(col("sig"), col("sig_c"), (x, y) => x === y),
            eq => eq)).cast("double") / numHashes).as("est_jaccard"))
        .filter(col("est_jaccard") >= tau)
      // incoming × incoming: the bucket state holds every prior arrival
      val vsPrior = bS.as[BandedDoc]
        .groupByKey(b => (b.band, b.band_hash))
        .flatMapGroupsWithState[BucketState, NearPair](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, it, state: GroupState[BucketState]) =>
            var held = state.getOption.map(_.docs).getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearPair]
            // doc_id order inside one invocation keeps the "later member
            // emits" rule batch-split-invariant
            it.toSeq.sortBy(_.doc_id).foreach { d =>
              if (!held.exists(_.doc_id == d.doc_id)) {
                require(held.size < MaxStateDocs,
                  s"band bucket outgrew maxStateDocs=$MaxStateDocs — " +
                    "refusing to screen against a truncated horizon; " +
                    "compact the horizon into the persisted band index " +
                    "(Dedup.compactBandIndex) or raise the bound")
                held.foreach { p =>
                  val s = agreement(p.sig, d.sig)
                  if (s >= tau)
                    out += NearPair(math.min(p.doc_id, d.doc_id),
                      math.max(p.doc_id, d.doc_id), s)
                }
                held = d :: held
              }
            }
            state.update(BucketState(held))
            out.iterator
        }
      vsCorpus.unionByName(vsPrior.toDF())
    }
    raw.distinct()
  }

  /** One (doc, band) row entering a TIME-BOUNDED bucket's state. */
  final case class TimedBandedDoc(band: Int, band_hash: Seq[Long],
                                  doc_id: Long, sig: Seq[Long],
                                  ts: java.sql.Timestamp)

  /** A held doc in a time-bounded bucket: id, signature, event time. */
  final case class TimedDoc(doc_id: Long, sig: Seq[Long], ts_ms: Long)

  /** Per-bucket state for the watermarked screen. */
  final case class TimedBucketState(docs: List[TimedDoc])

  /** The TIME-BOUNDED growing screen — [[growingNearDupScreen]] with
    * the event-time-timeout deployment its docstring names: incoming
    * docs carry an event-time `ts` column, an incoming×incoming pair
    * emits ONLY when the two members are within `horizonSeconds` of
    * each other, and bucket state EXPIRES once the watermark passes a
    * doc's pairing eligibility (`ts + horizon`) — state is bounded by
    * arrival-rate × (horizon + watermark delay) instead of the full
    * batch horizon, trading "screens against everything since the last
    * compaction" for "within the horizon".
    *
    * Determinism contract: the horizon predicate is enforced IN CODE
    * on the held docs' event times (never inferred from watermark
    * position, which is a per-micro-batch artifact), so the emitted
    * SET equals the batch oracle — all same-bucket pairs with
    * signature agreement ≥ tau and |Δts| ≤ horizon — for ANY
    * micro-batch split, PROVIDED event-time disorder across arrivals
    * stays under `watermarkDelay` (the standard watermark contract: a
    * doc arriving more than `watermarkDelay` after its own event time
    * may find its within-horizon partner already evicted). Eviction
    * only drops docs no in-contract future arrival could pair with:
    * an arriving doc has ts > watermark − delay, so partners with
    * ts ≥ watermark − delay − horizon are still held.
    *
    * The static-corpus side is the same stateless stream-static join
    * as [[growingNearDupScreen]] — the horizon applies only to the
    * stateful incoming×incoming screen (the corpus is a SNAPSHOT, not
    * an event stream; time-bounding it is [[
    * graft.dedup.Dedup.compactBandIndex]]'s job at ingest cadence). */
  def growingNearDupScreenWatermarked(spark: SparkSession,
                                      incoming: DataFrame,
                                      corpus: DataFrame,
                                      horizonSeconds: Long,
                                      watermarkDelay: String = "5 minutes",
                                      reproducible: Boolean = false,
                                      tau: Double = 0.5,
                                      inputFiles: Int = 3): DataFrame =
    growingNearDupScreenWatermarkedWithIndex(spark, incoming,
      Dedup.buildBandIndex(corpus, reproducible = reproducible),
      horizonSeconds, watermarkDelay, tau, inputFiles)

  /** [[growingNearDupScreenWatermarked]] against a (typically RELOADED)
    * persisted band index — time-bounded state AND a never-re-signed
    * corpus side, the production deployment both remedies compose
    * into: the corpus comes from `Dedup.loadBandIndex` (grown per
    * ingest batch with `Dedup.appendBandIndex`), the horizon bounds
    * the stateful incoming×incoming screen. Semantics and output are
    * exactly the inline form's — one oracle pins both (st15/st17) —
    * and the inline form delegates here, as [[growingNearDupScreen]]'s
    * does to [[growingNearDupScreenWithIndex]]. */
  def growingNearDupScreenWatermarkedWithIndex(spark: SparkSession,
                                               incoming: DataFrame,
                                               index: Dedup.BandIndex,
                                               horizonSeconds: Long,
                                               watermarkDelay: String = "5 minutes",
                                               tau: Double = 0.5,
                                               inputFiles: Int = 3): DataFrame = {
    require(horizonSeconds > 0, s"horizonSeconds must be > 0, got $horizonSeconds")
    val numHashes = index.numHashes
    val bands = index.numBands
    val shingleK = index.shingleK
    val reproducible = index.reproducible
    val (smallC, starC, sigCorpus) = frozenCorpus(spark, index)

    import spark.implicits._
    val hMs = horizonSeconds * 1000L
    def agreement(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }
        .toDouble / numHashes

    val raw = EventStreams.throughStream(spark,
      incoming.select("doc_id", "text", "ts"), OutputMode.Append(), inputFiles,
      statePartitions = Some(8), orderCol = Some("ts")) { stream =>
      val sigS = stream.select(col("doc_id"), col("ts"),
        graft.functions.HashExpressions.minhashSignature(
          graft.functions.HashExpressions.shingleHashes(col("text"),
            shingleK, fnv = reproducible), numHashes).as("sig"))
      val bS = sigS.select(col("doc_id"), col("ts"), col("sig"),
          posexplode(array(
            Dedup.bandKeyCols(numHashes, bands, reproducible): _*)))
        .select(col("pos").cast("int").as("band"), col("col").as("band_hash"),
          col("doc_id"), col("sig"), col("ts"))
      // incoming × static corpus: stateless, horizon-free (snapshot side)
      val vsCorpus = bS
        .join(smallC.unionByName(starC), Seq("band", "band_hash"))
        .join(sigCorpus, "doc_corpus")
        .select(
          least(col("doc_id"), col("doc_corpus")).as("doc_a"),
          greatest(col("doc_id"), col("doc_corpus")).as("doc_b"),
          (size(filter(zip_with(col("sig"), col("sig_c"), (x, y) => x === y),
            eq => eq)).cast("double") / numHashes).as("est_jaccard"))
        .filter(col("est_jaccard") >= tau)
      // incoming × incoming: horizon-bounded bucket state
      val vsPrior = bS
        .withWatermark("ts", watermarkDelay)
        .as[TimedBandedDoc]
        .groupByKey(b => (b.band, b.band_hash))
        .flatMapGroupsWithState[TimedBucketState, NearPair](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          case (_, it, state: GroupState[TimedBucketState]) =>
            val wm = state.getCurrentWatermarkMs()
            def alive(docs: List[TimedDoc]) = docs.filter(_.ts_ms + hMs >= wm)
            if (state.hasTimedOut) {
              val kept = alive(state.getOption.map(_.docs).getOrElse(Nil))
              if (kept.isEmpty) state.remove()
              else {
                state.update(TimedBucketState(kept))
                state.setTimeoutTimestamp(
                  math.max(kept.map(_.ts_ms).max + hMs + 1, wm + 1))
              }
              Iterator.empty
            } else {
              var held = alive(state.getOption.map(_.docs).getOrElse(Nil))
              val out = scala.collection.mutable.ArrayBuffer.empty[NearPair]
              // (ts, doc_id) order keeps the "later member emits" rule
              // batch-split-invariant inside one invocation
              it.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
                if (!held.exists(_.doc_id == d.doc_id)) {
                  require(held.size < MaxStateDocs,
                    s"band bucket outgrew maxStateDocs=$MaxStateDocs within " +
                      "the horizon — raise the bound or shorten the horizon")
                  val t = d.ts.getTime
                  held.foreach { p =>
                    if (math.abs(t - p.ts_ms) <= hMs) {
                      val s = agreement(p.sig, d.sig)
                      if (s >= tau)
                        out += NearPair(math.min(p.doc_id, d.doc_id),
                          math.max(p.doc_id, d.doc_id), s)
                    }
                  }
                  held = TimedDoc(d.doc_id, d.sig, t) :: held
                }
              }
              state.update(TimedBucketState(held))
              // expire once the watermark passes the NEWEST held doc's
              // pairing eligibility (older docs are pruned on the way in)
              state.setTimeoutTimestamp(
                math.max(held.map(_.ts_ms).max + hMs + 1, wm + 1))
              out.iterator
            }
        }
      vsCorpus.unionByName(vsPrior.toDF())
    }
    raw.distinct()
  }

  /** Streaming decontamination screen — the ingest twin of
    * [[graft.dedup.Decontaminate.report]]: incoming documents arrive as
    * file micro-batches, each batch's shingle hashes probe the
    * broadcast eval-set shingles (stateless stream-static inner join),
    * and contaminated doc ids emit in Append mode. The kept/dropped
    * census per language is a batch epilogue over the hit set, so the
    * result is independent of micro-batch arrival. Output schema is
    * exactly `Decontaminate.report`'s — one oracle pins both. */
  def decontaminateThroughStream(spark: SparkSession, incoming: DataFrame,
                                 evalDocs: DataFrame, k: Int = 8,
                                 inputFiles: Int = 3): DataFrame = {
    val evalSh = evalDocs
      .select(explode(graft.functions.HashExpressions
        .shingleHashes(col("text"), k, fnv = true)).as("sh"))
      .distinct().localCheckpoint(eager = true)
    val hits = EventStreams.throughStream(spark,
      incoming.select("doc_id", "text"), OutputMode.Append(), inputFiles) {
      stream =>
        stream.select(col("doc_id"),
            explode(graft.functions.HashExpressions
              .shingleHashes(col("text"), k, fnv = true)).as("sh"))
          .join(broadcast(evalSh), "sh")
          .select("doc_id")
    }.distinct()
    val kept = incoming.join(hits, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    incoming.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("lang")
  }
}
