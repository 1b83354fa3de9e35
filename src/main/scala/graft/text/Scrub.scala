package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PII redaction for training corpora — the C4-style scrub pass every
  * large-scale text pipeline runs before training: replace email
  * addresses and IPv4 literals with typed placeholder tokens so
  * downstream dedup/tokenization see stable text.
  *
  * Row-local `regexp_replace` passes (codegen'd) — no shuffle, scales
  * linearly with the corpus. The patterns are deliberately RE2-compatible
  * (no backreferences or lookaround), so any engine — including the
  * DuckDB gate oracle — reproduces them byte for byte.
  */
object Scrub {

  /** RE2-safe email pattern (`\d`/`\b`-free char classes both engines
    * agree on). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 with word boundaries. */
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  val EmailToken = "<EMAIL>"
  val IpToken = "<IP>"

  /** Redact emails then IPs in `text` (order matters only in that an
    * email's host part must not be half-eaten by the IP pass — emails
    * are replaced first, and the placeholder contains no digits). */
  def scrubPii(df: DataFrame): DataFrame =
    df.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"), EmailRe, EmailToken),
        Ipv4Re, IpToken))

  /** Per-source redaction report over an already-scrubbed frame:
    * placeholder occurrence totals plus a residual count of raw
    * PII patterns still present (must be zero — the gate oracle
    * demands it). */
  def piiStats(scrubbed: DataFrame): DataFrame =
    scrubbed
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        // the placeholder strings contain no regex metacharacters
        sum(regexp_count(col("text"), lit(EmailToken))).as("n_email_redacted"),
        sum(regexp_count(col("text"), lit(IpToken))).as("n_ip_redacted"),
        sum(regexp_count(col("text"), lit(EmailRe))
          + regexp_count(col("text"), lit(Ipv4Re))).as("n_residual_pii"))
      .orderBy("source")

  /** Multi-phrase blocklist audit — the other standard pre-training
    * scrub: flag documents containing ANY of a curated phrase list
    * (license boilerplate, NSFW markers, known spam templates) and
    * report per-source exposure. The phrase list is pipeline METADATA
    * (hundreds to low thousands of entries): it ships as an array
    * literal inside the projection, so the scan is one row-local
    * codegen'd pass — no join, no shuffle beyond the per-source
    * aggregate. (A list too big for a literal escalates to the
    * Aho-Corasick-in-a-broadcast pattern; at that size the phrases are
    * a TABLE and the semi-join form in [[graft.dedup.Decontaminate]]
    * applies.) Substring semantics, case-sensitive — normalize
    * upstream if needed. */
  def blocklistAudit(documents: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklist must contain at least one phrase")
    val arr = array(phrases.map(lit): _*)
    documents
      .withColumn("_hits",
        size(filter(arr, p => contains(col("text"), p))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum("_hits").cast("long").as("total_hits"),
        round(avg(when(col("_hits") > 0, 1.0).otherwise(0.0)), 6)
          .as("flag_rate"))
      .orderBy("source")
  }
}
