package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenCount drops empty tokens from repeated separators") {
    val n = Seq("a b  c", "", " ", "one").toDF("text")
      .select(TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(n == Seq(3, 0, 0, 1))
  }

  test("stopword ratio and punct ratio") {
    val r = Seq("the cat and the hat!").toDF("text")
      .select(TextAnalysis.stopwordRatioOf(TextAnalysis.tokens(col("text"))).as("s"),
        TextAnalysis.punctRatio(col("text")).as("p"))
      .collect().head
    assert(math.abs(r.getDouble(0) - 3.0 / 5.0) < 1e-9) // the, and, the
    assert(math.abs(r.getDouble(1) - 1.0 / 20.0) < 1e-9) // '!' of 20 chars
  }

  test("fingerprint matches a reference FNV-1a/32 implementation") {
    def fnv(s: String): Long = {
      var h = 2166136261L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = ((h ^ cp.toLong) * 16777619L) & 0xFFFFFFFFL
        i += Character.charCount(cp)
      }
      h
    }
    // includes a non-BMP char: native must fold CODE POINTS like the
    // declarative split+ascii form, not UTF-16 units
    val texts = Seq("hello world", "hello worle", "", "a", "hi 😀 end")
    val got = texts.toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == texts.map(fnv))
    // native expression == the declarative aggregate form it replaced
    val decl = texts.toDF("text")
      .select(TextAnalysis.fingerprintDeclarative(col("text")).as("fp"))
      .collect().map(_.getLong(0)).toSeq
    assert(decl == got)
  }

  test("langid picks the language with most marker hits") {
    val out = Seq(
      ("d1", "the cat is of the hat"),   // en markers
      ("d2", "der hund und die katze"),  // de markers
      ("d3", "xyzzy qwerty"))            // none -> und
      .toDF("doc_id", "text")
    val got = TextAnalysis.withLangGuess(out)
      .select("doc_id", "lang_guess").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("d1") == "en")
    assert(got("d2") == "de")
    assert(got("d3") == "und")
  }

  test("approx vocabulary count tracks exact within rsd tolerance") {
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 500}").mkString(" "),
        if (i % 2 == 0) "en" else "de", "s0")
    }.toDF("doc_id", "text", "lang", "source")
    val exact = TextAnalysis.vocabByLang(docs)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = TextAnalysis.vocabByLangApprox(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, v) =>
      assert(math.abs(approx(lang) - v).toDouble / v < 0.05,
        s"$lang: approx ${approx(lang)} vs exact $v")
    }
  }

  test("quality score is bounded in [0,1]") {
    val q = Seq("the quick brown fox and a dog in the yard is it",
      "!!!???", "x").toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("repetition stats: duplicate windows and dominant bigram") {
    // doc 1: two identical 2-token windows ("a b" ×2) → dup frac 0.5;
    // bigrams of "a b a b": (a b)(b a)(a b) → top "a b" = 2/3
    // doc 2: 4 distinct tokens → dup frac 0; 3 distinct bigrams → 1/3
    // doc 3: single token → no windows dup (1 window, distinct), no bigrams → 0
    val d = Seq(
      (1L, "en", "a b a b"),
      (2L, "en", "p q r s"),
      (3L, "en", "solo"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.withRepetitionStats(d, width = 2)
      .orderBy("doc_id")
      .select("win_dup_frac", "top_bigram_frac")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(math.abs(out(0)._1 - 0.5) < 1e-9)
    assert(math.abs(out(0)._2 - 2.0 / 3.0) < 1e-9)
    assert(out(1) == ((0.0, 1.0 / 3.0)))
    assert(out(2) == ((0.0, 0.0)))
  }

  test("repetitionByLang flags dup-heavy docs") {
    val d = Seq(
      (1L, "en", Seq.fill(10)("spam spam spam").mkString(" ")), // heavy repetition
      (2L, "en", ('a' to 'z').map(_.toString).mkString(" ")))   // no repetition
      .toDF("doc_id", "lang", "text")
    val r = TextAnalysis.repetitionByLang(d, width = 3).collect().head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("n_flagged") == 1L)
  }

  test("tfidf ranks a document's distinctive term above ubiquitous ones") {
    import spark.implicits._
    // "common" appears in every doc (low idf); each doc has one unique
    // term repeated twice (high tf, minimal df)
    val d = Seq(
      (0L, "common alpha alpha common"),
      (1L, "common beta beta"),
      (2L, "common gamma gamma")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(d, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top == Map(0L -> "alpha", 1L -> "beta", 2L -> "gamma"))
    // smoothed idf of the everywhere-term: ln(4/4) = 0
    val all = TextAnalysis.tfidfTopTerms(d, k = 2)
      .filter($"term" === "common").select("tfidf").as[Double].collect()
    assert(all.forall(_ == 0.0))
  }

  test("c4LineFilter applies each line rule independently") {
    val doc =
      "good line stays here.\n" +    // kept
        "no terminal punctuation\n" + // dropped: no . ! ? "
        "too short.\n" +              // dropped: < 3 words
        "we like javascript a lot.\n" + // dropped: javascript
        "ends with a question?"       // kept
    val row = Seq((1L, doc, "src")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.c4LineFilter(row).collect().head
    assert(got.getAs[Int]("lines_in") == 5)
    assert(got.getAs[Int]("lines_kept") == 2)
    assert(got.getAs[String]("clean_text")
      == "good line stays here.\nends with a question?")
    assert(got.getAs[Boolean]("doc_kept"))
  }

  test("c4LineFilter doc rules: lorem ipsum, braces, min kept lines") {
    val docs = Seq(
      (1L, "first good line here.\nsecond good line here.", "s"),
      (2L, "first good line here.\nhas Lorem Ipsum in it.", "s"),
      (3L, "first good line here.\ncurly { brace } line here.", "s"),
      (4L, "only one good line here.", "s"))
      .toDF("doc_id", "text", "source")
    val kept = TextAnalysis.c4LineFilter(docs)
      .filter(col("doc_kept")).select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L))
  }

  test("sourceDivergence: zero for a blend-identical source, positive for drift") {
    // srcA and srcB have the same token distribution; srcC is disjoint
    val docs = Seq(
      (1L, "x y x y", "srcA"), (2L, "x y x y", "srcB"),
      (3L, "zzz www zzz www", "srcC"))
      .toDF("doc_id", "text", "source")
    val kl = TextAnalysis.sourceDivergence(docs, buckets = 32)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // KL is non-negative and zero only when the source matches the blend;
    // no source here matches the blend exactly, but A and B (identical
    // distributions) must get the SAME divergence, and C (disjoint
    // vocabulary) must diverge more
    assert(kl.values.forall(_ >= 0.0))
    assert(math.abs(kl("srcA") - kl("srcB")) < 1e-9)
    assert(kl("srcC") > kl("srcA"))
    // a corpus with ONE source has blend == source: KL exactly 0
    val solo = TextAnalysis.sourceDivergence(
      docs.filter(col("source") === "srcA"), buckets = 32)
      .collect().head.getDouble(2)
    assert(solo == 0.0)
    intercept[IllegalArgumentException](
      TextAnalysis.sourceDivergence(docs, buckets = 0))
  }

  test("zipfSlope: exact -1 on a geometric head; tail pruned by minCount") {
    // en: counts 8 and 4 -> slope (ln4-ln8)/(ln2-ln1) = -1 exactly;
    // the count-1 token is pruned by minCount=2 before ranking
    val en = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq("once")).mkString(" ")
    // de: uniform counts -> slope 0
    val de = (Seq.fill(3)("xx") ++ Seq.fill(3)("yy") ++ Seq.fill(3)("zz")).mkString(" ")
    val docs = Seq((1L, en, "en"), (2L, de, "de")).toDF("doc_id", "text", "lang")
    val byLang = TextAnalysis.zipfSlope(docs, minCount = 2L, topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byLang("en") == ((2L, -1.0)))
    assert(byLang("de") == ((3L, 0.0)))
    // a language whose head has fewer than 2 surviving tokens is dropped
    val tiny = Seq((3L, "solo solo", "fr")).toDF("doc_id", "text", "lang")
    assert(TextAnalysis.zipfSlope(tiny, minCount = 2L, topK = 10)
      .collect().isEmpty)
    intercept[IllegalArgumentException](
      TextAnalysis.zipfSlope(docs, topK = 1))
  }

  test("pmiPhrases ranks a true collocation above a frequent-but-independent pair") {
    // "new york" always co-occur (6 times); "the cat"/"the dog"/"cat the"...
    // mix freely so "the"-pairs have low PMI despite higher frequency
    val phrase = Seq.fill(6)("new york").mkString(" ")
    val noise = Seq.fill(8)("the cat the dog the fox").mkString(" ")
    val docs = Seq((1L, phrase), (2L, noise)).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPhrases(docs, k = 5, minCount = 5L).collect()
    assert(got.head.getAs[String]("bigram") == "new york")
    // hand-check the score: c(new york)=6 of 11+47=58 bigrams;
    // c(new)=c(york)=6 of 12+48=60 unigrams
    val expect = math.log((6.0 / 58.0) / ((6.0 / 60.0) * (6.0 / 60.0)))
    assert(math.abs(got.head.getAs[Double]("pmi")
      - math.rint(expect * 1e6) / 1e6) < 1e-9)
    // min-support prunes: nothing below 5 occurrences appears
    assert(got.forall(_.getAs[Long]("cab") >= 5L))
  }

  test("gopherRules: each rule trips on its designed offender only") {
    import org.apache.spark.sql.functions.col
    val prose = ("the quick brown fox jumps over the lazy dog and " +
      "that should have been fine with every rule here okay").trim
    val docs = Seq(
      (1L, "en", prose),                                   // passes all
      (2L, "en", "too short"),                             // word count
      (3L, "en", Seq.fill(20)("a b c").mkString(" ")),     // mean len < 3
      (4L, "en", prose + " " + Seq.fill(6)("#").mkString(" ")), // symbols
      (5L, "en", (1 to 10).map(i => s"- bullet item $i").mkString("\n")), // bullets
      (6L, "en", (1 to 10).map(i => s"line $i trails off...").mkString("\n")), // ellipsis
      (7L, "en", prose + " " + (1 to 60).map(_.toString).mkString(" ")), // alpha < 80%
      (8L, "en", Seq.fill(25)("word salad lacks required stops").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.gopherRules(docs, minWords = 10)
      .select("doc_id", "r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stopword", "gopher_pass")
      .collect().map(r => r.getLong(0) ->
        (1 to 8).map(r.getBoolean)).toMap
    assert(out(1L).forall(identity)) // clean prose passes everything
    assert(!out(2L)(0)) // r_wordcount
    assert(!out(3L)(1)) // r_meanlen
    assert(!out(4L)(2)) // r_symbol
    assert(!out(5L)(3)) // r_bullet
    assert(!out(6L)(4)) // r_ellipsis
    assert(!out(7L)(5)) // r_alpha
    assert(!out(8L)(6)) // r_stopword
    assert(out.filterKeys(_ != 1L).values.forall(v => !v(7))) // pass = conj
    val census = TextAnalysis.gopherRuleCensus(docs, minWords = 10)
      .collect().head
    assert(census.getLong(1) == 8L && census.getLong(2) == 1L)
  }

  test("charEntropy: uniform two-symbol text is exactly 1 bit/char") {
    val docs = Seq(
      (1L, "en", "aabb"),        // H = 1.0
      (2L, "en", "aaaaaaaa"),    // H = 0.0
      (3L, "en", "abcd"))        // H = 2.0
      .toDF("doc_id", "lang", "text")
    val h = TextAnalysis.charEntropy(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(h == Map(1L -> 1.0, 2L -> 0.0, 3L -> 2.0))
    val byLang = TextAnalysis.charEntropyByLang(docs).collect().head
    assert(byLang.getLong(1) == 3L && byLang.getDouble(2) == 1.0)
  }

  test("langIdKappa computes chance-corrected agreement") {
    // confusion: en→en 2, en→de 1, de→de 2 ⇒ po = 4/5,
    // pe = (3·2 + 2·3)/25 = 0.48, kappa = 0.32/0.52 = 0.615385
    val docs = Seq(
      (1L, "en", "the and of is"), (2L, "en", "the and of is"),
      (3L, "en", "der und die ist"),
      (4L, "de", "der und die ist"), (5L, "de", "der und die ist"))
      .toDF("doc_id", "lang", "text")
    val r = TextAnalysis.langIdKappa(docs).collect().head
    assert(r.getLong(0) == 5L)
    assert(r.getDouble(1) == 0.8)
    assert(r.getDouble(2) == 0.48)
    assert(r.getDouble(3) == math.rint(0.32 / 0.52 * 1e6) / 1e6)
  }
}
