package graft.dedup

import graft.SparkTestBase

class ExactSubstrSpec extends SparkTestBase {
  import spark.implicits._

  // k=3 for hand-checkable fixtures
  private val K = 3

  test("a repeated 3-gram across docs becomes one span in each doc") {
    val docs = Seq(
      (1L, "a b c x y z"),
      (2L, "q a b c r s")).toDF("doc_id", "text")
    val spans = ExactSubstr.duplicatedSpans(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // "a b c" occurs in both docs: doc1 tokens 1-3, doc2 tokens 2-4
    assert(spans.toSeq == Seq((1L, 1L, 3L, 3L), (2L, 2L, 4L, 3L)))
  }

  test("overlapping duplicated shingles merge into one maximal span") {
    // "a b c d" shared: shingle positions 1 and 2 both duplicated ->
    // single span covering tokens 1..4
    val docs = Seq(
      (1L, "a b c d p q"),
      (2L, "z a b c d w")).toDF("doc_id", "text")
    val spans = ExactSubstr.duplicatedSpans(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq((1L, 1L, 4L, 4L), (2L, 2L, 5L, 4L)))
  }

  test("within-doc self-repetition counts as duplication") {
    // "a b c" twice inside ONE doc -> both occurrences are spans;
    // gap between pos 1 and pos 5 is 4 > k, so two islands
    val docs = Seq((1L, "a b c x a b c")).toDF("doc_id", "text")
    val spans = ExactSubstr.duplicatedSpans(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 1L, 3L), (1L, 5L, 7L)))
  }

  test("nearby spans within k tokens fuse; farther apart stay separate") {
    // doc1 "a b c a b c z": duplicated shingle "a b c" at positions 1
    // and 4 — gap 3 <= k, so the spans FUSE into tokens 1..6
    val fuse = Seq(
      (1L, "a b c a b c z"),
      (2L, "x a b c y")).toDF("doc_id", "text")
    val fused = ExactSubstr.duplicatedSpans(fuse, K)
      .filter($"doc_id" === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(fused.toSeq == Seq((1L, 6L)))
    // doc1 "a b c g h a b c": positions 1 and 5 — gap 4 > k, two spans
    val apart = Seq(
      (1L, "a b c g h a b c"),
      (2L, "x a b c y")).toDF("doc_id", "text")
    assert(ExactSubstr.duplicatedSpans(apart, K)
      .filter($"doc_id" === 1L).count() == 2)
  }

  test("docs shorter than k tokens yield nothing; unique docs yield nothing") {
    val docs = Seq(
      (1L, "a b"), (2L, "entirely unique words here"),
      (3L, "more totally distinct content")).toDF("doc_id", "text")
    assert(ExactSubstr.duplicatedSpans(docs, K).count() == 0)
  }

  test("cutProfile aggregates span token mass per doc") {
    val docs = Seq(
      (1L, "a b c x a b c"),
      (2L, "a b c y z w q")).toDF("doc_id", "text")
    val prof = ExactSubstr.cutProfile(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: two 3-token spans; doc2: one
    assert(prof.toSeq == Seq((1L, 2L, 6L, 3L), (2L, 1L, 3L, 3L)))
  }

  test("stripSpans removes covered tokens and rebuilds the survivors") {
    val docs = Seq(
      (1L, "a b c x y z"),
      (2L, "q a b c r s")).toDF("doc_id", "text")
    val out = ExactSubstr.stripSpans(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // "a b c" cut from both docs; the rest survives in order
    assert(out.toSeq == Seq(
      (1L, 6L, 3L, "x y z"),
      (2L, 6L, 3L, "q r s")))
  }

  test("stripSpans reports a fully-duplicated doc as empty") {
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c")).toDF("doc_id", "text")
    val out = ExactSubstr.stripSpans(docs, K).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 0L, ""), (2L, 0L, "")))
  }

  test("stripSpans leaves unaffected docs out of the result") {
    val docs = Seq(
      (1L, "a b c x"),
      (2L, "a b c y"),
      (3L, "totally unique content here")).toDF("doc_id", "text")
    val out = ExactSubstr.stripSpans(docs, K)
    assert(out.filter($"doc_id" === 3L).count() == 0)
    assert(out.count() == 2)
  }

  test("k < 2 is rejected") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      ExactSubstr.duplicatedSpans(docs, 1)
    }
  }

  test("span cut list and stripped corpus do not depend on partitioning") {
    // every third doc carries one shared body between unique affixes;
    // the rest are unique tokens and must yield no span at all
    val body = "s1 s2 s3 s4 s5 s6"
    val docs = (0 until 24).map { i =>
      val u = (j: Int) => s"u${i}x$j"
      (i.toLong,
        if (i % 3 == 0) s"${u(0)} ${u(1)} $body ${u(2)}"
        else (0 until 7).map(u).mkString(" "))
    }.toDF("doc_id", "text")
    def spans(d: org.apache.spark.sql.DataFrame) =
      ExactSubstr.duplicatedSpans(d, K).collect().map(_.toSeq).toSet
    def strip(d: org.apache.spark.sql.DataFrame) =
      ExactSubstr.stripSpans(d, K).collect().map(_.toSeq).toSet
    // one partition against about one doc per partition
    val s1 = spans(docs.coalesce(1))
    assert(s1 == spans(docs.repartition(24)), "span cut list depends on partitioning")
    assert(strip(docs.coalesce(1)) == strip(docs.repartition(24)),
      "stripped corpus depends on partitioning")
    assert(s1.map(_.head) == (0L until 24L by 3L).toSet,
      s"span coverage wrong: $s1")
  }
}
