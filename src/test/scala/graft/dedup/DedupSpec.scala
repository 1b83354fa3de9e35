package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s0"), // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog", "en", "s0"), // near dup of 0
    (3L, "completely different text about spark engines here", "en", "s0"),
    (4L, "unrelated words that share nothing with others at all", "de", "s1"))
    .toDF("doc_id", "text", "lang", "source")

  test("exact dedup keeps min doc_id per distinct text") {
    val out = Dedup.exactDedup(docs).collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) == 2L) // doc 0 has 2 copies
    assert(!byId.contains(1L))
  }

  test("shingles: 3-token shingles, short docs fall back to whole text") {
    val sh = docs.filter($"doc_id" === 0)
      .select(Dedup.shingles(col("text")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(sh.contains("the quick brown"))
    assert(sh.contains("over the lazy"))
    assert(sh.length == 7) // 9 tokens -> 7 shingles
    val short = Seq("one two").toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(short == Seq("one two"))
  }

  test("minhash: identical docs agree on the full signature") {
    val sigs = Dedup.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(3L))
    assert(sigs(0L).length == 64)
  }

  test("minhash LSH surfaces the exact-dup pair with est_jaccard 1.0") {
    val pairs = Dedup.minhashNearDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val p01 = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(p01.exists(_._3 == 1.0))
  }

  test("minhash oversized buckets degrade to star pairs around the min doc") {
    // 5 identical docs with maxBucket=3: every band bucket holds all 5,
    // so the star mode kicks in — each non-min doc pairs with doc 0 only
    val many = (0L until 5L).map(i => (i, "same text in every copy here", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    import org.apache.spark.sql.functions.col
    val starPairs = Dedup.minhashNearDups(many, maxBucket = 3)
    val pairs = starPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    // the full clique is still recovered transitively by dup grouping
    val comp = DupGroups.connectedComponents(
        starPairs.select(col("doc_a").as("a"), col("doc_b").as("b")),
        many.select(col("doc_id").as("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(0L))
  }

  test("simhash: identical token sets collide, near-dups are close") {
    val sh = Dedup.withSimhash(docs)
      .select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(4L)))
  }

  test("segment dedup: stats count window dups; strip keeps first occurrence") {
    // width=4 windows; doc 11 repeats doc 10's first window verbatim at
    // position 0, then has its own tail window
    val segDocs = Seq(
      (10L, "alpha beta gamma delta one two three four", "en", "s0"),
      (11L, "alpha beta gamma delta five six seven eight", "en", "s0"),
      (12L, "", "en", "s0")) // empty doc -> no segments, must not crash
      .toDF("doc_id", "text", "lang", "source")

    val stats = Dedup.segmentDupStats(segDocs, width = 4).collect()
    assert(stats.length == 1)
    val r = stats.head
    assert(r.getAs[Long]("n_segments") == 4)
    assert(r.getAs[Long]("n_unique") == 3)

    // the HLL twin agrees exactly at small cardinality (sparse-mode HLL)
    val approx = Dedup.segmentDupStatsApprox(segDocs, width = 4).collect().head
    assert(approx.getAs[Long]("n_segments") == 4)
    assert(approx.getAs[Long]("n_unique") == 3)

    val stripped = Dedup.stripDuplicateSegments(segDocs, width = 4)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(stripped(10L) == "alpha beta gamma delta one two three four")
    assert(stripped(11L) == "five six seven eight") // dup window removed
    assert(!stripped.contains(12L)) // nothing survives of an empty doc
  }

  test("ngram jaccard: dup pair scores 1.0, near-dup in (0,1)") {
    val j = Dedup.ngramJaccardPairs(docs)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.0 && j((0L, 2L)) < 1.0)
    // doc 4 is in another source -> blocked out of comparisons
    assert(!j.keys.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("normalized dedup elects the longest variant, ties to lowest id") {
    import org.apache.spark.sql.functions.col
    val variants = Seq(
      (1L, "Hello   World"),  // same group after lower+collapse
      (2L, "hello world"),
      (3L, "HELLO  WORLD extra"), // longer text, own group
      (4L, "hello world"),    // tie with 2 on length → lowest id wins
      (5L, "unrelated")).toDF("doc_id", "text")
    val out = Dedup.dedupNormalizedKeepLongest(variants)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // group {1,2,4}: "Hello   World" is 13 chars, the longest → id 1 kept
    assert(out.keySet == Set(1L, 3L, 5L))
    assert(out(1L) == ((13, 3L)))
    // hashed-key variant elects identically
    val hashed = Dedup.dedupNormalizedKeepLongest(variants, hashKeys = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hashed == out.keySet)
    // deterministic under repartition
    val again = Dedup.dedupNormalizedKeepLongest(variants.repartition(7))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.keySet)
  }

  test("dupNgramCoverage: shared shingles counted, unique docs at zero") {
    // k=3 shingles; docs 1 and 2 share the run "a b c d" (2 shared
    // 3-shingles: "a b c", "b c d"); doc 3 is disjoint vocabulary.
    val docs = Seq(
      (1L, "a b c d x y z"),   // 5 shingles, 2 duplicated
      (2L, "p q a b c d"),     // 4 shingles, 2 duplicated
      (3L, "u v w u v w u v")) // repeats INSIDE one doc only: not dups
      .toDF("doc_id", "text")
    val out = Dedup.dupNgramCoverage(docs, k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((5L, 2L)))
    assert(out(2L) == ((4L, 2L)))
    // doc 3: 6 positions but distinct shingles collapse; none cross-doc
    assert(out(3L)._2 == 0L)
    // coverage ratio matches n_dup / n_shingles
    val cov = Dedup.dupNgramCoverage(docs, k = 3)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select("dup_coverage").head().getDouble(0)
    assert(math.abs(cov - 0.4) < 1e-12)
    // contract: minDocs < 2 (would mark everything dup) fails fast
    intercept[IllegalArgumentException](
      Dedup.dupNgramCoverage(docs, k = 3, minDocs = 1))
  }

  test("crossSourceDups counts normalized shared texts per source pair") {
    val docs = Seq(
      (1L, "shared text one", "a"),
      (2L, "SHARED  TEXT one", "b"), // norm-equal to doc 1
      (3L, "shared text one", "c"),
      (4L, "unique to a", "a"),
      (5L, "another shared", "b"),
      (6L, "another  SHARED", "c")).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceDups(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 1L, ("a", "c") -> 1L, ("b", "c") -> 2L))
    // duplication WITHIN one source never appears as a pair
    val solo = Seq((1L, "same", "a"), (2L, "same", "a"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.crossSourceDups(solo).isEmpty)
  }

  test("sourceNovelty scores unique vs shared shingle mass") {
    // k=3; doc texts of exactly 3 tokens → one shingle each.
    // a: two distinct shingles, one shared with b → novelty 0.5
    // b: one shingle, shared → novelty 0.0
    val docs = Seq(
      (1L, "w1 w2 w3", "a"),
      (2L, "w4 w5 w6", "a"),
      (3L, "w1 w2 w3", "b"),
      (4L, "w1 w2 w3", "b")).toDF("doc_id", "text", "source")
    val out = Dedup.sourceNovelty(docs, k = 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map("a" -> (2L, 1L, 0.5), "b" -> (1L, 0L, 0.0)))
  }

  test("langConflictCensus buckets texts by distinct-label count") {
    val docs = Seq(
      (1L, "same text", "en"),
      (2L, "SAME  text", "de"), // norm-equal, second label
      (3L, "same text", "en"),  // third copy, no new label
      (4L, "tri text", "en"),
      (5L, "tri text", "de"),
      (6L, "tri text", "fr"),
      (7L, "lonely", "en")).toDF("doc_id", "text", "lang")
    val out = Dedup.langConflictCensus(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 1 label: "lonely" (1 doc); 2 labels: "same text" (3 docs);
    // 3 labels: "tri text" (3 docs)
    assert(out == Map(1L -> (1L, 1L), 2L -> (1L, 3L), 3L -> (1L, 3L)))
  }

  test("incrementalDedup drops snapshot matches and within-batch copies") {
    val existing = Seq(
      (1L, "already in the corpus"),
      (2L, "another old document")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "ALREADY  IN THE corpus"),   // normalizes to snapshot doc 1
      (11L, "a genuinely new document"),
      (12L, "a GENUINELY new document"), // within-batch copy of 11
      (13L, "a second new document")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, existing)
    // schema passes through unchanged; digest column never leaks
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(11L, 13L))
    // idempotent: feeding accepted docs back as snapshot yields nothing
    val rerun = Dedup.incrementalDedup(incoming,
      existing.unionByName(out))
    assert(rerun.isEmpty)
  }

  test("minhash star guard keeps the connected components of unguarded banding") {
    // a planted cluster of 12 near-copies (shared 40-token body, unique
    // tail) far over maxBucket = 4, mixed with the fixture's docs
    val body = (1 to 40).map(i => s"tok${i * 7 % 53}").mkString(" ")
    val mixed = docs.select("doc_id", "text").unionByName(
      (0 until 12).map(i => (100L + i, s"$body u$i")).toDF("doc_id", "text"))
    val nodes = mixed.select(col("doc_id").as("id"))
    def components(pairs: org.apache.spark.sql.DataFrame) =
      DupGroups.connectedComponents(pairs.filter(col("est_jaccard") >= 0.5)
          .select(col("doc_a").as("a"), col("doc_b").as("b")), nodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val guarded = Dedup.minhashNearDups(mixed, maxBucket = 4)
    val unguarded = Dedup.minhashNearDups(mixed, maxBucket = Int.MaxValue)
    assert(guarded.count() < unguarded.count(), "the guard never fired")
    val comp = components(guarded)
    assert(comp == components(unguarded),
      "star guard changed the component structure")
    assert((100L until 112L).forall(comp(_) == 100L), s"cluster split: $comp")
  }
}
