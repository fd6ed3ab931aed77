package graft

import org.apache.spark.sql.functions._

import graft.operators.ext.Dedup

/** Cluster labeling (connected components) and the native sorted_overlap
  * expression: chain propagation needs multiple rounds, singletons keep
  * their own id, and the merge-count must equal array_intersect exactly.
  */
class DedupClusterSpec extends SparkSpec {

  test("dedupClusters: chains converge to the component min; singletons self-label") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    // a 3-chain (1-2-3), a 2-clique (5-6), and singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L)))
  }

  test("dedupClusters: label propagates across a long path (diameter > 1 round)") {
    import spark.implicits._
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(docs, "doc_id", pairs)
      .agg(countDistinct(col("cluster")), min("cluster")).head
    assert(out.getLong(0) == 1L && out.getLong(1) == 1L)
  }

  test("dedupClusters: empty pair list → every document is its own singleton") {
    import spark.implicits._
    val docs = (1L to 5L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == (1L to 5L).map(i => (i, i)))
  }

  test("dedupClusters: exhausting maxIters without a fixpoint throws, not silence") {
    import spark.implicits._
    val docs = (1L to 12L).toDF("doc_id")
    // an 11-edge path needs more than one propagation hop end-to-end;
    // finishRows = 0 disables the single-task finish and quotientDepth = 0
    // disables the quotient recursion, so the distributed propagation
    // fallback (the path maxIters guards) is the one exercised
    val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dedupClusters(docs, "doc_id", pairs, maxIters = 1, finishRows = 0L,
        quotientDepth = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedupClusters: propagation fallback reaches the same fixpoint as the finish path") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    val rnd = new scala.util.Random(11)
    // random sparse graph: chains, cliques, and singletons mixed
    val pairs = (Seq.fill(25)((rnd.nextInt(40) + 1L, rnd.nextInt(40) + 1L))
        .filter { case (a, b) => a != b } ++ (30L to 34L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val fast = Dedup.dedupClusters(docs, "doc_id", pairs)
      .orderBy("doc_id").collect().toSeq
    val propagated = Dedup.dedupClusters(docs, "doc_id", pairs, finishRows = 0L,
        maxIters = 30, quotientDepth = 0)
      .orderBy("doc_id").collect().toSeq
    assert(fast == propagated)
    // and the quotient-recursion path (finish disabled, depth available)
    // reaches the same fixpoint as both
    val quotiented = Dedup.dedupClusters(docs, "doc_id", pairs, finishRows = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(fast == quotiented)
  }

  test("sorted_overlap equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(40)).sorted.toArray,
      rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(40)).sorted.toArray))
    val df = rows.toDF("a", "b")
    val bad = df.select(
        expr("sorted_overlap(a, b)").as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L)
  }
}
