package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class UnigramTokenizerSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (0L, "aaa bb aaa abab", "l0"),
    (1L, "bb aaa cc abab abab", "l0"),
    (2L, "dd aaa bb cc", "l1")
  ).toDF("doc_id", "text", "lang")

  test("vocab covers every char, counts are Viterbi-consistent, scores integer") {
    val v = UnigramTokenizer.vocabTable(docs).collect()
    val pieces = v.map(_.getString(0)).toSet
    assert(Set("a", "b", "c", "d").subsetOf(pieces))
    // total piece mass equals total segmented word mass
    val (_, seg) = UnigramTokenizer.train(docs)
    val segRows = seg.collect()
    val wordMass = segRows.map(r => r.getLong(1) * r.getSeq[String](3).size).sum
    assert(v.map(r => r.getLong(1)).sum == wordMass)
    // ll_fp is the sum of the chosen pieces' scores under the PRE-final
    // scores — just sanity: strictly negative and integer-typed
    assert(segRows.forall(_.getLong(4) < 0))
  }

  test("frequent multi-char pieces win whole-piece segmentations") {
    val (_, seg) = UnigramTokenizer.train(docs)
    val m = seg.collect().map(r => r.getString(0) -> r.getSeq[String](3)).toMap
    // "aaa" occurs 4x, "abab" 3x — both should survive seeding and be
    // segmented into few pieces, never 3-4 singles
    assert(m("aaa").size <= 2, s"aaa -> ${m("aaa")}")
    assert(m("abab").size <= 2, s"abab -> ${m("abab")}")
  }

  test("words longer than maxWordLen are excluded everywhere") {
    val longWord = "x" * 40
    val d2 = docs.union(Seq((9L, s"$longWord yy", "l9")).toDF)
    val (_, seg) = UnigramTokenizer.train(d2)
    assert(!seg.collect().exists(_.getString(0) == longWord))
    val ls = UnigramTokenizer.langStats(d2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ls("l9") == 1L) // only "yy" counted
  }

  test("segment() handles out-of-vocabulary characters via the UNK floor") {
    val (vocab, _) = UnigramTokenizer.train(docs)
    // "zz" contains a char the training corpus never saw; "aaa" is known
    val target = Seq((0L, "zz aaa")).toDF("doc_id", "text")
    val m = UnigramTokenizer.segment(target, vocab.select("piece", "cnt"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](3)).toMap
    assert(m("zz") == Seq("z", "z")) // char-by-char under the UNK score
    assert(m("aaa").nonEmpty && m("aaa").mkString == "aaa")
  }

  test("pieces are in READING order, not backtrack order") {
    // maxPieceLen = 2 forces "abc" to split; "ab" dominates the corpus
    // so the split is [ab, c] — a reversed backtrack would return
    // [c, ab] (the old bug; palindromic fixtures like "aaa" could
    // never catch it)
    val p = UnigramTokenizer.Params(maxPieceLen = 2)
    val d = Seq((0L, ("ab " * 30) + "c abc", "l0")).toDF("doc_id", "text", "lang")
    val (vocab, seg) = UnigramTokenizer.train(d, p)
    val m = seg.collect().map(r => r.getString(0) -> r.getSeq[String](3)).toMap
    assert(m("abc") == Seq("ab", "c"), s"abc -> ${m("abc")}")
    // inference path shares the backtrack: OOV char on either end must
    // keep its position in the output
    val t = Seq((0L, "abz zab")).toDF("doc_id", "text")
    val tm = UnigramTokenizer.segment(t, vocab.select("piece", "cnt"), p)
      .collect().map(r => r.getString(0) -> r.getSeq[String](3)).toMap
    assert(tm("abz") == Seq("ab", "z"), s"abz -> ${tm("abz")}")
    assert(tm("zab") == Seq("z", "ab"), s"zab -> ${tm("zab")}")
  }

  test("model save/load round-trips vocab, params, and segmentation") {
    val p = UnigramTokenizer.Params(maxPieceLen = 2, emRounds = 2)
    val model = UnigramTokenizer.trainModel(docs, p)
    val dir = tempDir("graft_ug_rt")
    UnigramTokenizer.save(model, dir)
    val back = UnigramTokenizer.load(spark, dir)
    assert(back.params == p)
    assert(back.vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == model.vocab.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    val target = Seq((0L, "aaa zz abab")).toDF("doc_id", "text")
    def segOf(m: UnigramTokenizer.Model) =
      UnigramTokenizer.segmentWith(m, target).collect()
        .map(r => (r.getString(0), r.getSeq[String](3), r.getLong(4))).toSet
    assert(segOf(back) == segOf(model))
  }

  test("partition invariance: same vocab from 1 and 7 partitions") {
    val a = UnigramTokenizer.vocabTable(docs.coalesce(1)).collect().toSeq
    val b = UnigramTokenizer.vocabTable(docs.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("vocabulary is the same on a corpus and on its x10 replication") {
    // seedMultis = 6 makes the seed cut and every EM prune bite
    val p = UnigramTokenizer.Params(seedMultis = 6)
    val x10 = (0 until 10).map(k => docs.withColumn("doc_id", col("doc_id") + k * 100L))
      .reduce(_ unionByName _)
    def pieces(d: org.apache.spark.sql.DataFrame) = UnigramTokenizer.train(d, p)._1
      .select("piece").collect().map(_.getString(0)).toSet
    val v1 = pieces(docs)
    assert(v1.exists(_.length > 1), s"no multi-char piece survived: $v1")
    assert(v1 == pieces(x10), "vocabulary changed with corpus size")
  }
}
