package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Helpers that gates in more than one catalog call. */
private[gates] object Shared {
  /** Run `f` against a fresh temp dir and eagerly materialize its result
    * (localCheckpoint) BEFORE the dir is removed — the safety invariant
    * every sink round-trip gate needs, kept in one place. */
  def withTempDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString).localCheckpoint(true)
    finally Fs.deleteRecursively(dir)
  }

  /** Deterministic near-duplicate planting for the similarity gates: for
    * each `vec_id < n`, add a clone at `vec_id + 10000` with every
    * component scaled by `1 + 1e-4·((vec_id+i) mod 3 − 1)` — pure
    * arithmetic, so a SQL oracle regenerates the identical floats. The
    * fixture embeddings have no organic near-dups (max cosine ≈ 0.51),
    * so planted pairs are exactly the pairs above any high threshold. */
  def plantClones(embeddings: DataFrame, n: Int): DataFrame = {
    val base = embeddings.select("vec_id", "embedding")
    val clones = embeddings.filter(col("vec_id") < n).select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.0001) * ((col("vec_id") + i) % 3 - 1))).cast("float"))
        .as("embedding"))
    base.unionByName(clones)
  }

  val stop = "('the','a','an','of','and','or','to','in','is','it')"
  val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** FNV-1a/32 fold over a string's characters (DuckDB lambda) — the
    * SQL mirror of the engine's reproducible-mode shingle/token hash
    * (byte-wise UTF-8, which equals this per-character fold on the
    * all-ASCII gate corpus). */
  def fnvSql(expr: String, basis: Long): String =
    s"""list_reduce(list_prepend($basis::BIGINT,
       list_transform(list_filter(string_split_regex($expr, ''), c -> len(c) > 0),
         c -> ascii(c)::BIGINT)),
       (h, b) -> (xor(h, b) * 16777619) & 4294967295)"""
}
