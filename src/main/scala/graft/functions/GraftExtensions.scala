package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.HashExpressions._

/** Registers the engine's native expressions as SQL functions, so
  * `spark.sql("SELECT simhash_text(text) ...")` works anywhere the
  * Column API does, and installs the AQE runtime rule
  * [[TinySortInOnePartition]]. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (done by [[graft.GraftSession]]) or `withExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[HashExpressions.type].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectRuntimeOptimizerRule(_ => TinySortInOnePartition)
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "_FUNC_(text[, k]) - sorted distinct xxhash64 of word k-shingles (default k=3)"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => ShingleHashes(text, 3)
        case Seq(text, k) => ShingleHashes(text, k.eval().toString.toInt)
        case _ => throw new IllegalArgumentException("shingle_hashes(text[, k])")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "_FUNC_(hashes[, numHashes]) - minhash signature over raw shingle hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(h) => MinHashSignature(h, 64)
        case Seq(h, n) => MinHashSignature(h, n.eval().toString.toInt)
        case _ => throw new IllegalArgumentException("minhash_signature(hashes[, n])")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_text"),
      info("simhash_text", "_FUNC_(text) - 64-bit SimHash over distinct whitespace tokens"),
      (args: Seq[Expression]) => SimHashText(args.head)))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "_FUNC_(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("intersect_count_sorted"),
      info("intersect_count_sorted", "_FUNC_(a, b) - common-element count of two sorted long arrays"),
      (args: Seq[Expression]) => IntersectCountSorted(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("fnv1a32"),
      info("fnv1a32", "_FUNC_(text) - FNV-1a/32 fingerprint over code points, as a long"),
      (args: Seq[Expression]) => Fnv1a32(args.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "_FUNC_(text) - Unicode NFC canonical composition"),
      (args: Seq[Expression]) => TextNormalize.NfcNormalize(args.head)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "_FUNC_(a, b) - Jaro-Winkler similarity (standard constants)"),
      (args: Seq[Expression]) => StringSimilarity.JaroWinkler(args(0), args(1))))
    // token_set_counts is not SQL-registered: its set-list parameter has
    // no literal SQL syntax; use the Column API.
  }
}
