package graft.dedup

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkTestBase

class CrossCorpusSpec extends SparkTestBase {
  import spark.implicits._

  // clone families with perturbations + singletons; ids 0,3,6,... play
  // the incoming batch, the rest the corpus
  private def fixture = (0 until 36).map { i =>
    val fam = i / 4
    val text = s"family $fam shares a long common sentence about engines " +
      s"and pipelines token${i % 4} plus trailing words ${i % 2}"
    (i.toLong, text)
  }.toDF("doc_id", "text")

  private def isIn(id: Long) = id % 3 == 0

  test("crossCorpusNearDups equals the cross restriction of the self-join operator") {
    val docs = fixture
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
    val cross = Dedup.crossCorpusNearDups(incoming, corpus, reproducible = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // all buckets here are far below maxBucket, so the union self-join
    // restricted to (incoming, corpus) pairs is the exact same set
    val selfPairs = Dedup.minhashNearDups(docs, reproducible = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .collect {
        case ((a, b), e) if isIn(a) && !isIn(b) => (a, b) -> e
        case ((a, b), e) if !isIn(a) && isIn(b) => (b, a) -> e
      }.toMap
    assert(cross == selfPairs)
    assert(cross.nonEmpty) // fixture must actually exercise the join
  }

  test("oversized corpus buckets emit only the representative (star guard)") {
    val clones = (0 until 80).map(i =>
      (i.toLong * 3 + 1, "identical text repeated across the whole corpus " +
        "with enough tokens for shingles")) // all corpus-side ids
    val corpus = clones.toDF("doc_id", "text")
    val incoming = Seq((0L, "identical text repeated across the whole " +
      "corpus with enough tokens for shingles")).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDups(incoming, corpus, reproducible = true)
      .collect()
    // every band bucket holds 80 corpus clones > 64: only the hub pair
    assert(out.length == 1)
    assert(out.head.getLong(0) == 0L)
    assert(out.head.getLong(1) == 1L) // min corpus doc_id
    assert(out.head.getDouble(2) == 1.0)
  }

  test("streaming decontamination equals the batch report at 1 and 4 micro-batches") {
    val docs = fixture.withColumn("lang",
      concat(lit("l"), pmod(col("doc_id"), lit(3L))))
    val evalDocs = docs.filter(col("doc_id") % 7 === 0)
    val expect = graft.dedup.Decontaminate.report(docs, evalDocs, k = 8)
      .collect().map(_.toSeq).toSeq
    Seq(1, 4).foreach { files =>
      val got = graft.streaming.CorpusStreams
        .decontaminateThroughStream(spark, docs, evalDocs, k = 8,
          inputFiles = files)
        .collect().map(_.toSeq).toSeq
      assert(got == expect, s"mismatch at inputFiles=$files")
    }
  }

  test("growing screen = corpus hits ∪ incoming self-pairs, at 1 and 5 micro-batches") {
    val docs = fixture
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("est_jaccard"))
    val vsCorpus = Dedup.crossCorpusNearDups(incoming, corpus,
        reproducible = true)
      .withColumnRenamed("doc_in", "doc_a")
      .withColumnRenamed("doc_corpus", "doc_b")
    // fixture buckets sit far below the star-guard bound, so the guarded
    // self-join operator IS the unguarded incoming×incoming pair set
    val vsSelf = Dedup.minhashNearDups(incoming, reproducible = true)
    val expect = canon(vsCorpus).unionByName(canon(vsSelf))
      .filter(col("est_jaccard") >= 0.5).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(1, 5).foreach { files =>
      val streamed = graft.streaming.CorpusStreams
        .growingNearDupScreen(spark, incoming, corpus,
          reproducible = true, tau = 0.5, inputFiles = files)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == expect, s"mismatch at inputFiles=$files")
      assert(streamed.exists { case (a, b, _) => a % 3 == 0 && b % 3 == 0 },
        "fixture must exercise the stateful incoming×incoming path")
    }
  }

  test("compactBandIndex(build(A), B) is bit-equivalent to buildBandIndex(A ∪ B)") {
    val docs = fixture
    val a = docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
    val b = docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val compacted = Dedup.compactBandIndex(
      Dedup.buildBandIndex(a, reproducible = true), b)
    val fresh = Dedup.buildBandIndex(a.unionByName(b), reproducible = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).toSet
    assert(rows(compacted.signatures) == rows(fresh.signatures))
    assert(rows(compacted.bands) == rows(fresh.bands))
    assert(rows(compacted.buckets) == rows(fresh.buckets))
    val viaCompact = rows(Dedup.screenAgainstIndex(incoming, compacted))
    assert(viaCompact == rows(Dedup.screenAgainstIndex(incoming, fresh)))
    assert(viaCompact.nonEmpty)
  }

  test("compaction merges an oversized bucket census across the batch boundary") {
    // 40 clones in the index + 40 in the batch: each band bucket is
    // 40 ≤ maxBucket per side but 80 > 64 merged — the star guard must
    // see the MERGED census (and the min-rep from the index side)
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, "identical text repeated across the whole corpus with enough " +
        "tokens for shingles")).toDF("doc_id", "text")
    val idx = Dedup.compactBandIndex(
      Dedup.buildBandIndex(mk((0 until 40).map(_ * 3L + 1)), reproducible = true),
      mk((40 until 80).map(_ * 3L + 1)))
    val out = Dedup.screenAgainstIndex(mk(Seq(0L)), idx).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 1L) // min doc_id lives in the INDEX side
    assert(out.head.getDouble(2) == 1.0)
  }

  test("appendBandIndex lifecycle loads bit-equivalent to a fresh full build") {
    val docs = fixture
    val a = docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2
      && pmod(col("doc_id"), lit(2L)) === 0)
    val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2
      && pmod(col("doc_id"), lit(2L)) === 1)
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val dir = tempDir("graft_append_spec")
    Dedup.saveBandIndex(Dedup.buildBandIndex(a, reproducible = true), s"$dir/idx")
    assert(Dedup.appendBandIndex(spark, s"$dir/idx", b1) == 2)
    assert(Dedup.appendBandIndex(spark, s"$dir/idx", b2) == 3)
    val loaded = Dedup.loadBandIndex(spark, s"$dir/idx")
    val fresh = Dedup.buildBandIndex(a.unionByName(b1).unionByName(b2),
      reproducible = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).toSet
    assert(rows(loaded.signatures) == rows(fresh.signatures))
    assert(rows(loaded.bands) == rows(fresh.bands))
    assert(rows(loaded.buckets) == rows(fresh.buckets))
    val viaAppend = rows(Dedup.screenAgainstIndex(incoming, loaded))
    assert(viaAppend == rows(Dedup.screenAgainstIndex(incoming, fresh)))
    assert(viaAppend.nonEmpty)
  }

  test("an uncommitted batch directory is invisible to loadBandIndex") {
    val docs = fixture
    val a = docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
    val b = docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
    val dir = tempDir("graft_append_atomic")
    Dedup.saveBandIndex(Dedup.buildBandIndex(a, reproducible = true), s"$dir/idx")
    val committed = Dedup.loadBandIndex(spark, s"$dir/idx")
      .signatures.count()
    // simulate a crashed append: batch data lands but the pointer was
    // never flipped (write the delta tables by hand at batch=1)
    val idxB = Dedup.buildBandIndex(b, reproducible = true)
    idxB.signatures.write.parquet(s"$dir/idx/v=1/signatures/batch=1")
    idxB.bands.write.parquet(s"$dir/idx/v=1/bands/batch=1")
    idxB.buckets.write.parquet(s"$dir/idx/v=1/buckets/batch=1")
    val after = Dedup.loadBandIndex(spark, s"$dir/idx")
    assert(after.signatures.count() == committed,
      "uncommitted batch rows leaked past the _BATCHES pointer")
    // the retry path: a real append overwrites the orphan and commits
    Dedup.appendBandIndex(spark, s"$dir/idx", b)
    assert(Dedup.loadBandIndex(spark, s"$dir/idx").signatures.count()
      == committed + idxB.signatures.count())
  }

  test("snapshotBandIndex folds the append chain into a new pinned version") {
    val docs = fixture
    val a = docs.filter(pmod(col("doc_id"), lit(3L)) === 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2
      && pmod(col("doc_id"), lit(2L)) === 0)
    val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2
      && pmod(col("doc_id"), lit(2L)) === 1)
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val dir = tempDir("graft_snapshot_spec")
    assert(Dedup.saveBandIndex(Dedup.buildBandIndex(a, reproducible = true),
      s"$dir/idx") == 1)
    Dedup.appendBandIndex(spark, s"$dir/idx", b1)
    // snapshot: the two-batch chain of v=1 becomes batch=0 of v=2
    assert(Dedup.snapshotBandIndex(spark, s"$dir/idx") == 2)
    // the append after the snapshot lands in v=2 as batch=1
    assert(Dedup.appendBandIndex(spark, s"$dir/idx", b2) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).toSet
    val fresh = Dedup.buildBandIndex(a.unionByName(b1).unionByName(b2),
      reproducible = true)
    val loaded = Dedup.loadBandIndex(spark, s"$dir/idx")
    assert(rows(loaded.signatures) == rows(fresh.signatures))
    assert(rows(loaded.buckets) == rows(fresh.buckets))
    val screened = rows(Dedup.screenAgainstIndex(incoming, loaded))
    assert(screened == rows(Dedup.screenAgainstIndex(incoming, fresh)))
    assert(screened.nonEmpty)
    // v=1 stays pinnable (pre-snapshot, pre-b2 state) until vacuumed
    val pinned = Dedup.loadBandIndex(spark, s"$dir/idx", version = Some(1))
    assert(rows(pinned.signatures)
      == rows(Dedup.buildBandIndex(a.unionByName(b1),
        reproducible = true).signatures))
    assert(Dedup.vacuumBandIndex(spark, s"$dir/idx") == 1)
    assert(!new java.io.File(s"$dir/idx/v=1").exists())
    // the latest version is untouched by vacuum
    assert(rows(Dedup.loadBandIndex(spark, s"$dir/idx").signatures)
      == rows(fresh.signatures))
  }

  test("compaction chain lineage is cut: 20 folds keep plan depth bounded") {
    def batch(k: Int) = (0 until 3).map { j =>
      val i = k * 3 + j
      (1000L + i, s"fold batch $k doc $j shares a long common sentence " +
        s"about engines and pipelines token$j plus trailing words ${i % 2}")
    }.toDF("doc_id", "text")
    var idx = Dedup.buildBandIndex(batch(0), reproducible = true)
    var maxDepth = 0
    (1 until 20).foreach { k =>
      idx = Dedup.compactBandIndex(idx, batch(k))
      maxDepth = math.max(maxDepth, Dedup.planNodeCount(idx.signatures))
    }
    // without the cut the union chain grows without bound (~6+ nodes
    // per fold x 20 folds); with it the depth must stay under the
    // cutoff plus one fold's increment
    assert(maxDepth <= Dedup.compactionChainCutoff + 16,
      s"compaction lineage not cut: signature plan reached $maxDepth nodes")
    // and the folded index still answers exactly like a fresh build
    val all = (0 until 20).map(batch).reduce(_ unionByName _)
    val fresh = Dedup.buildBandIndex(all, reproducible = true)
    val probe = Seq((1L, batch(7).collect()(1).getString(1)))
      .toDF("doc_id", "text")
    def pairs(ix: Dedup.BandIndex) =
      Dedup.screenAgainstIndex(probe, ix)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(idx) == pairs(fresh))
    assert(pairs(idx).nonEmpty)
  }

  test("watermarked screen from a reloaded appended index equals the inline form") {
    val cloneText = "identical incoming text with enough tokens for " +
      "shingling to collide across all bands"
    val incoming = Seq(0L, 3L, 30L).map(i => (i, cloneText)) :+
      ((6L, "an unrelated incoming document about something else entirely " +
        "with plenty of distinct tokens"))
    val corpusA = Seq((1L, cloneText))
    val corpusB = Seq((2L, "corpus filler text sharing nothing with the " +
      "clones at all even slightly thanks to distinct vocabulary"))
    val in = incoming.toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val inline = graft.streaming.CorpusStreams
      .growingNearDupScreenWatermarked(spark, in,
        corpusA.toDF("doc_id", "text")
          .unionByName(corpusB.toDF("doc_id", "text")),
        horizonSeconds = 10, watermarkDelay = "5 seconds",
        reproducible = true, tau = 0.5, inputFiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = tempDir("graft_st17_spec")
    Dedup.saveBandIndex(Dedup.buildBandIndex(
      corpusA.toDF("doc_id", "text"), reproducible = true), s"$dir/idx")
    Dedup.appendBandIndex(spark, s"$dir/idx", corpusB.toDF("doc_id", "text"))
    val fromIndex = graft.streaming.CorpusStreams
      .growingNearDupScreenWatermarkedWithIndex(spark, in,
        Dedup.loadBandIndex(spark, s"$dir/idx"),
        horizonSeconds = 10, watermarkDelay = "5 seconds",
        tau = 0.5, inputFiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("streaming screen from a reloaded index equals the inline screen") {
    val docs = fixture
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
    val inline = graft.streaming.CorpusStreams
      .growingNearDupScreen(spark, incoming, corpus, reproducible = true,
        tau = 0.5, inputFiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = tempDir("graft_st16_spec")
    Dedup.saveBandIndex(
      Dedup.buildBandIndex(corpus, reproducible = true), s"$dir/idx")
    val fromIndex = graft.streaming.CorpusStreams
      .growingNearDupScreenWithIndex(spark, incoming,
        Dedup.loadBandIndex(spark, s"$dir/idx"), tau = 0.5, inputFiles = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex == inline)
    assert(fromIndex.nonEmpty)
  }

  test("watermarked screen keeps within-horizon pairs and expires the rest") {
    // identical incoming texts at ts gaps 3 s (0,3) and 27-30 s (x,30):
    // horizon 10 s keeps exactly (0,3); the corpus side is a snapshot
    // and stays horizon-free
    val cloneText = "identical incoming text with enough tokens for " +
      "shingling to collide across all bands"
    val incoming = Seq(0L, 3L, 30L).map(i => (i, cloneText)) :+
      ((6L, "an unrelated incoming document about something else entirely " +
        "with plenty of distinct tokens"))
    val corpus = Seq((1L, cloneText),
      (2L, "corpus filler text sharing nothing with the clones at all " +
        "even slightly thanks to distinct vocabulary"))
    val in = incoming.toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val cp = corpus.toDF("doc_id", "text")
    Seq(1, 4).foreach { files =>
      val got = graft.streaming.CorpusStreams
        .growingNearDupScreenWatermarked(spark, in, cp,
          horizonSeconds = 10, watermarkDelay = "5 seconds",
          reproducible = true, tau = 0.5, inputFiles = files)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // vs corpus: every clone (0, 3, 30) pairs with corpus doc 1,
      // horizon-free; vs prior: only (0, 3) is within the horizon
      assert(got == Set((0L, 1L), (1L, 3L), (1L, 30L), (0L, 3L)),
        s"mismatch at inputFiles=$files: $got")
    }
  }

  test("streaming screen equals the batch twin regardless of micro-batching") {
    val docs = fixture
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
    val batch = Dedup.crossCorpusNearDups(incoming, corpus, reproducible = true)
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(1, 4).foreach { files =>
      val streamed = graft.streaming.CorpusStreams
        .nearDupScreenThroughStream(spark, incoming, corpus,
          reproducible = true, tau = 0.5, inputFiles = files)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"mismatch at inputFiles=$files")
    }
  }

  test("corpus bucket guard keeps the unguarded screen decision set") {
    // the fixture plus a planted corpus cluster of 40 near-copies far
    // over maxBucket = 4; three incoming docs clone the cluster
    val body = (1 to 40).map(i => s"tok${i * 7 % 53}").mkString(" ")
    val clones = (ids: Seq[Long]) => ids.map(i => (i, s"$body u$i")).toDF("doc_id", "text")
    val docs = fixture
    val incoming = docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
      .unionByName(clones(Seq(900L, 903L, 906L)))
    val corpus = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
      .unionByName(clones((0 until 40).map(i => 1001L + 3 * i)))
    def decisions(maxBucket: Int) =
      Dedup.crossCorpusNearDups(incoming, corpus, maxBucket = maxBucket)
        .filter(col("est_jaccard") >= 0.5)
        .select("doc_in").collect().map(_.getLong(0)).toSet
    val guarded = decisions(4)
    assert(guarded == decisions(Int.MaxValue),
      "corpus bucket guard changed the screen decision")
    assert(Set(900L, 903L, 906L).subsetOf(guarded))
    // all-clone incoming batch: every probe lands in the same oversized
    // buckets, so the guard bounds it to incoming × bands (one hub per
    // band at most), never incoming × |cluster|
    val skewed = clones((0 until 6).map(i => 2000L + 3 * i))
    val pairs = Dedup.crossCorpusNearDups(skewed, corpus, maxBucket = 4).count()
    assert(pairs > 0 && pairs <= 6 * 16,
      s"$pairs skewed-incoming pairs exceed incoming × bands")
  }

  test("appendBandIndex writes only its batch; a full rewrite grows with the index") {
    // four ingest batches of 100 docs, consecutive ids sharing a text
    def batch(k: Int) = spark.range(k * 100L, (k + 1) * 100L, 1, 2).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j => concat(lit("w"),
        pmod(hash(floor(col("id") / 2).cast("long") * 31 + j), lit(100000L)))): _*)
        .as("text"))
    def du(f: java.io.File): Long =
      if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(du).sum
    val dir = tempDir("graft_append_bytes")
    val (app, rw) = (new java.io.File(s"$dir/app"), new java.io.File(s"$dir/rw"))
    def written(f: java.io.File)(write: => Unit): Long = {
      val before = du(f); write; du(f) - before
    }
    Dedup.saveBandIndex(Dedup.buildBandIndex(batch(0), reproducible = true), app.getPath)
    val appBytes = (1 to 3).map(k =>
      written(app)(Dedup.appendBandIndex(spark, app.getPath, batch(k))))
    var idx = Dedup.buildBandIndex(batch(0), reproducible = true)
    Dedup.saveBandIndex(idx, rw.getPath)
    val rwBytes = (1 to 3).map { k =>
      idx = Dedup.compactBandIndex(idx, batch(k))
      written(rw)(Dedup.saveBandIndex(idx, rw.getPath))
    }
    assert(appBytes.last < 2 * appBytes.head, s"append bytes not flat: $appBytes")
    assert(rwBytes.last > 2 * appBytes.last,
      s"rewrite did not dominate append: rewrite $rwBytes, append $appBytes")
  }

  test("watermarked screen keeps every pair and holds less state than the unbounded screen") {
    // 20 pairs of consecutive ids share a text, one second apart; each
    // pair's tokens are its own, so every pair is its own cluster
    val incoming = (0L until 40L).map { i =>
      (i, (0 until 12).map(j => s"p${i / 2}w$j").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val corpus = Seq((1000L, "static corpus filler sharing nothing with any " +
      "incoming pair at all")).toDF("doc_id", "text")
    // the most state rows any micro-batch of `screen` held, over EVERY
    // progress event: `recentProgress` keeps only the last 100
    def maxStateRows(screen: => Long): (Long, Long) = {
      val peak = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
          peak.getAndUpdate(math.max(_, rows)); ()
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      try {
        val n = screen
        graftshim.drainListenerBus(spark.sparkContext)
        (n, peak.get())
      } finally spark.streams.removeListener(listener)
    }
    val (unbounded, unboundedState) = maxStateRows(
      graft.streaming.CorpusStreams.growingNearDupScreen(spark,
        incoming.drop("ts"), corpus, reproducible = true, tau = 0.5,
        inputFiles = 3).count())
    val (watermarked, watermarkedState) = maxStateRows(
      graft.streaming.CorpusStreams.growingNearDupScreenWatermarked(spark,
        incoming, corpus, horizonSeconds = 4, watermarkDelay = "1 second",
        reproducible = true, tau = 0.5, inputFiles = 3).count())
    assert(unbounded == 20L && watermarked == 20L,
      s"screens diverged: unbounded $unbounded, watermarked $watermarked")
    assert(watermarkedState < unboundedState,
      s"watermarked state $watermarkedState did not undercut unbounded $unboundedState")
  }
}
