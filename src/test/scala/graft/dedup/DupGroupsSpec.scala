package graft.dedup

import graft.SparkTestBase

class DupGroupsSpec extends SparkTestBase {
  import spark.implicits._

  test("connected components: chain collapses, isolates keep own label") {
    // 1-2, 2-3 chain (diameter 2, needs >1 propagation round); 4-5 pair;
    // 6 isolated
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 5L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val comp = DupGroups.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("dup groups: exact copies and near-dups merge transitively") {
    val t0 = "the quick brown fox jumps over the lazy dog again today"
    val t1 = "the quick brown fox leaps over the lazy dog again today" // near-dup of t0
    val docs = Seq(
      (0L, t0, "en", "s0"),
      (1L, t0, "en", "s0"),   // exact copy of 0
      (2L, t1, "en", "s0"),   // near-dup of 0 -> same component transitively
      (3L, "completely unrelated content about query engines and shuffles", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val sizes = DupGroups.dupComponentSizes(docs, minJaccard = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0L -> 3L, 3L -> 1L))
  }

  test("null-text docs form one exact-dup group") {
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s0"),
      (1L, null.asInstanceOf[String], "en", "s0"),
      (2L, null.asInstanceOf[String], "en", "s0"),
      (3L, "some real content here about engines", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    val nodes = docs.select(org.apache.spark.sql.functions.col("doc_id").as("id"))
    val comp = DupGroups.connectedComponents(DupGroups.dupEdges(docs), nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L),
      "null-text docs must group together, matching exactDedup's groupBy")
  }
}
