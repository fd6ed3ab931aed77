package graft

/** Golden physical-plan FINGERPRINTS for the heaviest registry queries: the
  * count of every scale-relevant operator (joins, exchanges, aggregates,
  * windows, generators) in the executed plan, pinned to a committed golden
  * so a silent plan regression — a broadcast flipping to cartesian under
  * AQE, a shuffle-hash degrading to nested-loop, a lost partial aggregate,
  * an extra exchange — fails THIS test by diff instead of surfacing as
  * bench archaeology a round later (VERDICT r6 #7).
  *
  * Cosmetic nodes (Project/Filter/Scan/Sort) are deliberately excluded so
  * the goldens only churn when the plan's SHAPE changes. On an intentional
  * change, the failure message prints the full replacement block to paste.
  */
class GoldenPlanSpec extends SparkSpec {
  import TestSpark.sf

  // node-name tokens, matched at line starts (after tree decoration and the
  // WholeStageCodegen "*(n) " prefix) so expression-level mentions — e.g.
  // the window() function — never count
  private val tokens = Seq(
    "CartesianProduct", "BroadcastNestedLoopJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "SortMergeJoin", "BroadcastExchange",
    "Exchange hashpartitioning", "Exchange rangepartitioning",
    "Exchange SinglePartition", "Exchange RoundRobinPartitioning",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "WindowGroupLimit", "Window", "TakeOrderedAndProject", "Generate")

  private def fingerprint(name: String): String = {
    val p = Queries.queries(name)(spark, sf).queryExecution.executedPlan.toString()
    tokens.flatMap { t =>
      val rx = ("(?m)^[\\s:+\\-]*(?:\\*\\(\\d+\\) )?" +
        java.util.regex.Pattern.quote(t) + "\\b").r
      val n = rx.findAllIn(p).length
      if (n > 0) Some(s"$t=$n") else None
    }.mkString(", ")
  }

  // the heaviest batch queries by bench time (streaming rows excluded:
  // their plans are per-micro-batch and not comparable as one string)
  //
  // r19 note: queries whose iterative/multi-consumer subtree is now
  // localCheckpointed (g1/g2/g3, x9_semisupervised, x2_jaccard_dedup's token
  // frame) fingerprint only the post-checkpoint stages — the materialized
  // subtree executes as its own job and no longer appears in the final
  // executed plan. Their per-iteration shape is covered by the operator
  // suites; this spec still pins the surviving join/exchange skeleton.
  // RoundRobinPartitioning entries are operators.Par.widen (single-row-group
  // input fan-out), intentional as of r19.
  private val golden = Map(
    "x1_incremental_neardup" -> "SortMergeJoin=1, Exchange hashpartitioning=3, Exchange rangepartitioning=1, HashAggregate=4, Generate=1",
    "medallion_e2e" -> "Exchange SinglePartition=2, Window=2",
    "w6_rank_family" -> "Exchange hashpartitioning=1, Exchange rangepartitioning=1, Window=2",
    // minhashLshPairs' band rows come from its token-set checkpoint, so the
    // band-key explode sits on both sides of the salted self-join; the
    // candidate distinct runs on the first verify join's id_a exchange
    "x1_decontaminate_neardup" -> "BroadcastHashJoin=1, ShuffledHashJoin=3, BroadcastExchange=1, Exchange hashpartitioning=7, Exchange rangepartitioning=1, HashAggregate=4, Generate=4",
    "x1_dedup_clusters" -> "SortMergeJoin=1, Exchange hashpartitioning=2, Exchange rangepartitioning=1",
    "x2_ann_ivf" -> "BroadcastNestedLoopJoin=2, SortMergeJoin=1, BroadcastExchange=2, Exchange hashpartitioning=6, Exchange rangepartitioning=1, HashAggregate=2, WindowGroupLimit=6, Window=3",
    "x2_embedding_cosine" -> "BroadcastNestedLoopJoin=1, BroadcastExchange=1, Exchange rangepartitioning=1",
    "x2_jaccard_dedup" -> "BroadcastHashJoin=3, BroadcastExchange=3, Exchange hashpartitioning=3, Exchange rangepartitioning=1, HashAggregate=6",
    "x2_minhash_lsh" -> "ShuffledHashJoin=3, Exchange hashpartitioning=6, Exchange rangepartitioning=1, HashAggregate=2, Generate=3",
    "x2_simhash_pairs" -> "BroadcastHashJoin=1, BroadcastExchange=1, Exchange hashpartitioning=1, Exchange rangepartitioning=1, HashAggregate=2, Generate=2",
    // exact dedup is a checkpoint read, the cluster finish pass is an RDD
    // read, and ngramContamination's semi join needs no distinct on either
    // side
    "x9_curation_e2e" -> "BroadcastHashJoin=2, SortMergeJoin=4, BroadcastExchange=2, Exchange hashpartitioning=7, Exchange rangepartitioning=1, Exchange RoundRobinPartitioning=1, HashAggregate=2, Window=1, Generate=2",
    "x2_containment_join" -> "ShuffledHashJoin=3, Exchange hashpartitioning=7, Exchange rangepartitioning=1, HashAggregate=2",
    "x6_cluster_split" -> "SortMergeJoin=1, Exchange hashpartitioning=2, Exchange rangepartitioning=1",
    "x2_ann_pq_recall" -> "BroadcastNestedLoopJoin=1, BroadcastHashJoin=7, ShuffledHashJoin=1, SortMergeJoin=2, BroadcastExchange=8, Exchange hashpartitioning=13, Exchange SinglePartition=2, HashAggregate=12, WindowGroupLimit=8, Window=6, TakeOrderedAndProject=2",
    "x2_ann_binary_rerank" -> "BroadcastNestedLoopJoin=1, ShuffledHashJoin=2, BroadcastExchange=1, Exchange hashpartitioning=5, Exchange rangepartitioning=1, WindowGroupLimit=4, Window=2",
    "x2_ann_pq_incremental" -> "BroadcastHashJoin=5, BroadcastExchange=5, Exchange hashpartitioning=4, Exchange rangepartitioning=1, HashAggregate=8, WindowGroupLimit=2, Window=2, TakeOrderedAndProject=1, Generate=4",
    "x3_lm_score" -> "BroadcastNestedLoopJoin=1, BroadcastHashJoin=1, ShuffledHashJoin=2, BroadcastExchange=2, Exchange hashpartitioning=6, Exchange rangepartitioning=1, Exchange SinglePartition=1, Exchange RoundRobinPartitioning=1, HashAggregate=10, Generate=4",
    "x3_bm25" -> "BroadcastNestedLoopJoin=1, BroadcastHashJoin=2, ShuffledHashJoin=1, BroadcastExchange=3, Exchange hashpartitioning=7, Exchange rangepartitioning=1, Exchange SinglePartition=1, Exchange RoundRobinPartitioning=1, HashAggregate=10, WindowGroupLimit=2, Window=2, Generate=3",
    "x2_hybrid_rrf" -> "BroadcastNestedLoopJoin=2, BroadcastHashJoin=4, ShuffledHashJoin=1, BroadcastExchange=6, Exchange hashpartitioning=11, Exchange rangepartitioning=1, Exchange SinglePartition=1, Exchange RoundRobinPartitioning=1, HashAggregate=16, ObjectHashAggregate=4, WindowGroupLimit=4, Window=4, Generate=7",
    "x3_bm25_index" -> "BroadcastNestedLoopJoin=1, BroadcastHashJoin=1, ShuffledHashJoin=1, BroadcastExchange=2, Exchange hashpartitioning=3, Exchange rangepartitioning=1, Exchange SinglePartition=1, HashAggregate=6, WindowGroupLimit=2, Window=2, Generate=1",
    "x9_retrieval_e2e" -> "BroadcastNestedLoopJoin=1, BroadcastHashJoin=6, ShuffledHashJoin=1, BroadcastExchange=7, Exchange hashpartitioning=7, Exchange rangepartitioning=1, Exchange SinglePartition=1, HashAggregate=16, WindowGroupLimit=5, Window=5, TakeOrderedAndProject=1, Generate=5",
    "g1_pagerank" -> "BroadcastNestedLoopJoin=4, ShuffledHashJoin=9, BroadcastExchange=4, Exchange hashpartitioning=17, Exchange SinglePartition=4, HashAggregate=36, TakeOrderedAndProject=1",
    "w11_interval_merge" -> "Exchange hashpartitioning=1, Exchange rangepartitioning=1, HashAggregate=2, Window=2",
    "w12_sliding_distinct" -> "BroadcastNestedLoopJoin=2, SortMergeJoin=1, BroadcastExchange=2, Exchange hashpartitioning=7, Exchange rangepartitioning=1, HashAggregate=14",
    "a15_equidepth" -> "Exchange hashpartitioning=1, Exchange rangepartitioning=1, HashAggregate=2",
    "x6_dsir" -> "BroadcastNestedLoopJoin=2, BroadcastHashJoin=2, SortMergeJoin=1, BroadcastExchange=4, Exchange hashpartitioning=6, Exchange SinglePartition=2, HashAggregate=14, TakeOrderedAndProject=1, Generate=5",
    "x1_dedup_matrix" -> "ShuffledHashJoin=2, Exchange hashpartitioning=5, Exchange rangepartitioning=1, HashAggregate=2",
    "x1_survivorship" -> "ShuffledHashJoin=3, SortMergeJoin=2, Exchange hashpartitioning=8, Exchange rangepartitioning=1, HashAggregate=2, WindowGroupLimit=2, Window=1",
    "x9_semisupervised" -> "Exchange rangepartitioning=1",
    // r11 additions: the graph/join rows now in the bench top-10 (their
    // BNL/SHJ shapes are exactly what a silent planner flip would break)
    "g3_label_prop" -> "Exchange rangepartitioning=1",
    "j9_skew_salted_join" -> "BroadcastHashJoin=1, BroadcastExchange=1, Exchange hashpartitioning=1, Exchange rangepartitioning=1, Exchange RoundRobinPartitioning=2, HashAggregate=2, Generate=1",
    "g2_trustrank" -> "BroadcastNestedLoopJoin=4, BroadcastHashJoin=4, ShuffledHashJoin=9, BroadcastExchange=8, Exchange hashpartitioning=21, Exchange SinglePartition=4, HashAggregate=44, TakeOrderedAndProject=1",
    "a13_heavy_hitters" -> "BroadcastNestedLoopJoin=2, BroadcastHashJoin=2, BroadcastExchange=4, Exchange hashpartitioning=3, Exchange RoundRobinPartitioning=3, HashAggregate=8, TakeOrderedAndProject=2, Generate=3",
    // r13 continuation: the storage-partitioned join's WHOLE point is the
    // absence of hash/single exchanges around the join and the aggregate —
    // a silent planner flip re-introducing one fails here by diff
    // one SMJ + partial/final aggregate and ZERO hash exchanges — the
    // single rangepartitioning exchange is the query's final orderBy
    "versioned_copart_join" -> "SortMergeJoin=1, Exchange rangepartitioning=1, HashAggregate=2",
    // the keyed scan over merge-on-read debt: the key-form delete set skips
    // inside the scan, so no anti-join, no broadcast and no hash exchange
    // sits under the aggregate
    "versioned_copart_mor" -> "Exchange rangepartitioning=1, HashAggregate=2",
    // r14 additions: the catalog SPJ through Spark's OWN planner (zero hash
    // exchanges), the statistics-driven DPP join (exactly one broadcast,
    // never a shuffle join), and the positional-DV read — whose WHOLE point
    // is ZERO join nodes of any kind (a key-MOR regression would add a
    // BroadcastHashJoin per covering set)
    "versioned_catalog_spj" -> "SortMergeJoin=1, Exchange rangepartitioning=1, HashAggregate=2",
    "versioned_catalog_dpp" -> "BroadcastHashJoin=1, BroadcastExchange=1, Exchange rangepartitioning=1, HashAggregate=2",
    "versioned_delete_dv" -> "Exchange hashpartitioning=1, Exchange rangepartitioning=1, HashAggregate=2",
    // r15: the DELTA-DML read side — after two plain-SQL catalog UPDATEs
    // the table reads through positional-vector skips inside the scan's
    // own span: ZERO join nodes (a key-MOR or anti-join regression in the
    // vector application would add join operators here by diff). The
    // keyed scan applies the vectors itself, so the aggregate on the
    // partition key also needs no hash exchange
    "versioned_catalog_update_dv" -> "Exchange rangepartitioning=1, HashAggregate=2",
    // r15 late additions: the aggregate-pushdown plan's WHOLE point is the
    // ABSENCE of Aggregate and hash-exchange nodes — a grouped count/min/max
    // answered by GraftAggScan with only the query's own orderBy exchange
    // (a pushdown regression would add HashAggregate=2 + an exchange by
    // diff); the top-N pushdown keeps Spark's TakeOrderedAndProject as the
    // ONLY ordering operator, with no sort exchange below it
    "versioned_agg_pushdown" -> "Exchange rangepartitioning=1",
    "versioned_limit_topn" -> "TakeOrderedAndProject=1")

  test("plan fingerprints of the heaviest batch queries match the committed goldens") {
    val actual = golden.keys.toSeq.sorted.map(n => n -> fingerprint(n))
    val drifted = actual.filter { case (n, fp) => !golden.get(n).contains(fp) }
    assert(drifted.isEmpty,
      s"plan fingerprint drift in ${drifted.map(_._1).mkString(", ")} — if the " +
        "change is intentional, update `golden` to:\n" +
        actual.map { case (n, f) => s"""    "$n" -> "$f",""" }.mkString("\n"))
  }
}
