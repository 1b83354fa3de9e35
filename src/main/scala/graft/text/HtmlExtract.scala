package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → text extraction for web-crawl ingest — the stage a C4/CCNet
  * pipeline runs BEFORE every corpus operator in this library (the
  * text tier starts at clean `text`; real LLM ingest starts at crawl
  * HTML).
  *
  * Reference analogue: none (the reference consumes parquet trip
  * records) — beyond-reference scope mandated by the training-data
  * brief, same tier as [[TextAnalysis]].
  *
  * The extraction is the classical tag-automaton, expressed as a chain
  * of codegen'd string expressions (zero UDFs — the
  * [[graft.functions.HashExpressions]] house rule):
  *
  *   1. drop `<script>`/`<style>` ELEMENTS wholesale (non-greedy,
  *      case-insensitive, dot-matches-newline — script bodies
  *      legitimately contain `<` and `&&`), then HTML comments;
  *   2. rewrite BLOCK-level tags (p, div, h1-6, li, tr, br, table,
  *      blockquote, …, opening or closing) to newline — the block
  *      SEGMENTATION marks;
  *   3. strip every remaining (inline) tag to the empty string, so
  *      `a<b>b</b>c` reads `abc`;
  *   4. decode the basic entity set (`&lt; &gt; &quot; &#39; &apos;
  *      &nbsp;`, and `&amp;` LAST so double-escaped text like
  *      `&amp;lt;` decodes to the literal `&lt;` exactly once);
  *   5. split on the block marks, collapse whitespace runs, trim, and
  *      drop empty blocks.
  *
  * Every regex stays in the Java-regex ∩ RE2 common subset (no
  * backreferences, no lookaround), so the DuckDB oracle replays the
  * identical patterns. Known and deliberate parser limits, shared by
  * both engines: attribute values containing a raw `>` end the tag
  * early (real-world extractors accept this; quoting `>` in
  * attributes is vanishingly rare crawl-side), and only the basic
  * entity set is decoded (numeric entities beyond `&#39;` pass
  * through as text).
  *
  * Scale shape: strictly row-local projection — no shuffle, no state,
  * parallelizes embarrassingly; downstream text operators (langid,
  * quality, dedup) run unchanged on the output (HtmlExtractSpec
  * composes them).
  */
object HtmlExtract {

  /** `<script ...> ... </script>` elements, body included. */
  private[graft] val ScriptPat = """(?is)<script\b[^>]*>.*?</script\s*>"""

  /** `<style ...> ... </style>` elements, body included. */
  private[graft] val StylePat = """(?is)<style\b[^>]*>.*?</style\s*>"""

  /** HTML comments. */
  private[graft] val CommentPat = """(?s)<!--.*?-->"""

  /** Block-level tags (opening or closing) — the segmentation marks. */
  private[graft] val BlockTagPat =
    """(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|thead|tbody|table|br|hr|blockquote|pre|section|article|header|footer|nav|aside|form|figure|figcaption|main|title)\b[^>]*>"""

  /** Any remaining (inline) tag. */
  private[graft] val AnyTagPat = """(?s)<[^>]*>"""

  /** Decode order is load-bearing: named entities first, `&amp;` LAST,
    * so `&amp;lt;` becomes the literal text `&lt;` (one decode pass,
    * never two). */
  private[graft] val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  private def decodeEntities(s: Column): Column =
    Entities.foldLeft(s) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }

  /** The extracted text as an ARRAY of trimmed, non-empty blocks in
    * document order — the block-segmentation surface (RAG chunkers and
    * the line-level boilerplate pass consume blocks, not flat text). */
  def htmlToBlocks(html: Column): Column = {
    val noScript = regexp_replace(html, ScriptPat, "")
    val noStyle = regexp_replace(noScript, StylePat, "")
    val noComment = regexp_replace(noStyle, CommentPat, "")
    // source whitespace (incl. newlines — crawl formatting, not
    // semantics) normalizes to single spaces BEFORE block marks go in,
    // so newline means exactly one thing downstream: block boundary
    val flat = regexp_replace(noComment, """\s+""", " ")
    val marked = regexp_replace(flat, BlockTagPat, "\n")
    val stripped = regexp_replace(marked, AnyTagPat, "")
    val decoded = decodeEntities(stripped)
    filter(
      transform(split(decoded, "\n"),
        b => trim(regexp_replace(b, """\s+""", " "))),
      b => length(b) > 0)
  }

  /** The extracted text flattened, blocks joined by newline — the
    * `text` column every downstream corpus operator expects. */
  def htmlToText(html: Column): Column = array_join(htmlToBlocks(html), "\n")

  /** Convenience projection: replaces `html` with extracted `text`
    * and `blocks`, keeping every other column. */
  def extract(df: DataFrame): DataFrame =
    df.withColumn("blocks", htmlToBlocks(col("html")))
      .withColumn("text", array_join(col("blocks"), "\n"))
      .drop("html")
}
