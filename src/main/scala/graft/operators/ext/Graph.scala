package graft.operators.ext

import graft.operators.Par
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation beyond the X1 connected-components labeling:
  * rank propagation over an edge list — the web-graph quality signal
  * (page importance) a corpus-curation pipeline joins against its documents
  * the way Common Crawl derivatives weight pages before sampling.
  */
object Graph {

  /** Rank scale: ranks are integers in units of 10^-12 of total mass. */
  val Scale: Long = 1000000000000L

  /** G1: integer-exact PageRank, fixed iteration count, damping 0.85.
    *
    *   r_0(v)    = SCALE div N
    *   r_t+1(v)  = (150·(SCALE div N)) div 1000
    *             + (850·Σ_{(u,v)∈E} (r_t(u) div outdeg(u))) div 1000
    *
    * Every division is an integer FLOOR division, so the deterministic mass
    * leak (dangling nodes keep their mass out of circulation; floors shave
    * sub-unit remainders) is identical in any engine — the whole fixed-point
    * prefix replays bit-for-bit in DuckDB, which float PageRank cannot
    * (summation order changes the ranking). Multi-edges contribute once per
    * edge row, matching outdeg = count of edge rows.
    *
    * 100 TB shape: each iteration is one shuffle-hash join of the rank
    * frame against the edge list on src (edges dominate; ranks are two
    * narrow longs) followed by one partial-aggregated sum by dst — the
    * standard distributed PageRank step, linear in |E| per iteration, no
    * broadcast of anything graph-sized (only the 1-row node count). `iters`
    * is a fixed small constant (quality signals converge in a handful of
    * damped steps); the loop unrolls into one declarative plan.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame = {
    val e = normalize(edges, srcCol, dstCol)
    val nodes = nodesOf(e)
    val n = broadcast(nodes.agg(count(lit(1)).as("n")))
    val r0 = nodes.crossJoin(n).select(col("node"), expr(s"$Scale div n").as("rank"))
    val base = nodes.crossJoin(n)
      .select(col("node"), expr(s"(150 * ($Scale div n)) div 1000").as("base"))
    rankLoop(e, nodes, r0, base, iters)
  }

  /** G2: TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB'04) — the SEEDED
    * variant of [[pageRank]] and the curation signal it exists for: start
    * ALL mass on a small trusted seed set (hand-vetted domains) and let the
    * damped walk spread trust along links; pages reachable only from spam
    * farms stay near zero however densely they interlink. Same integer
    * discipline as pageRank (SCALE div |seeds| units, floor divisions
    * everywhere), so the fixed-point prefix replays bit-for-bit — the
    * restart mass simply lands on seeds instead of everywhere:
    *
    *   r_0(v)   = [v ∈ seeds] · (SCALE div S)
    *   r_t+1(v) = [v ∈ seeds] · (150·(SCALE div S)) div 1000
    *            + (850·Σ inmass(v)) div 1000
    *
    * The seed frame is tiny by definition (hand-vetted) and broadcasts;
    * everything else is the shared [[rankLoop]] shape.
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String, iters: Int): DataFrame = {
    val e = normalize(edges, srcCol, dstCol)
    val nodes = nodesOf(e)
    val sd = broadcast(seeds.select(col(seedCol).cast("long").as("node")).distinct())
    val s = broadcast(sd.agg(count(lit(1)).as("s")))
    val withSeed = nodes.join(sd.withColumn("__seed", lit(1L)), Seq("node"), "left")
      .crossJoin(s)
    val r0 = withSeed.select(col("node"),
      expr(s"case when __seed = 1 then $Scale div s else 0 end").as("rank"))
    val base = withSeed.select(col("node"),
      expr(s"case when __seed = 1 then (150 * ($Scale div s)) div 1000 else 0 end").as("base"))
    rankLoop(e, nodes, r0, base, iters)
  }

  /** G3: deterministic label propagation — the semi-supervised spread of a
    * small labeled set (quality/spam verdicts on hand-reviewed documents)
    * across a link or near-dup graph, the label-side counterpart of
    * [[trustRank]]'s mass walk. Each iteration every node adopts the
    * MAJORITY label among its in-neighbors' current labels, ties broken by
    * the SMALLEST label, keeping its current label (or none) when no
    * labeled in-neighbor exists; seed labels are CLAMPED (a hand-reviewed
    * verdict never flips — the standard semi-supervised discipline). The
    * (count DESC, label ASC) argmax is a total order, so the fixed-point
    * prefix is deterministic and replays exactly in any engine — no
    * randomized tie-breaks, no float weights.
    *
    * Returns (node, label) with label null where propagation never reached.
    * 100 TB shape: per iteration one shuffle-hash labels⋈edges join, one
    * (dst, label) count aggregate, one per-dst argmax window — linear in
    * |E|; only the seed frame (hand-reviewed, tiny) broadcasts.
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String, labelCol: String,
                     iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters must be in [1, 10] (plan unrolls)")
    val e = normalize(edges, srcCol, dstCol)
    val nodes = nodesOf(e)
    val sd = broadcast(seeds.select(col(seedCol).cast("long").as("node"),
      col(labelCol).cast("long").as("__seed_label")).distinct())
    // Each iteration references the previous labels frame TWICE (votes +
    // the outer combine), so the declarative unroll DOUBLES the labels
    // subtree per iteration — at 3 iterations the g3 plan carried 150
    // parquet scans and 180 exchanges, re-executing the caller's edge
    // pipeline dozens of times. Materializing the node-sized labels frame
    // per iteration (one bounded localCheckpoint job each) makes plan and
    // runtime linear in `iters`; the fixpoint arithmetic is untouched.
    var labels = Par.materialize(nodes.join(sd, Seq("node"), "left")
      .select(col("node"), col("__seed_label").as("label"))).head
    for (_ <- 1 to iters) {
      val votes = e
        .join(labels.filter(col("label").isNotNull)
          .withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label")).agg(count(lit(1)).as("n"))
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
            .orderBy(col("n").desc, col("label"))))
        .filter(col("__rk") === 1)
        .select(col("node"), col("label").as("__maj"))
      labels = Par.materialize(labels.join(votes.hint("shuffle_hash"), Seq("node"), "left")
        .join(sd, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__seed_label"), col("__maj"), col("label")).as("label"))).head
    }
    labels
  }

  /** G4: exact TRIANGLE counting — the local-density statistic behind
    * community detection and spam-farm detection (a spam cluster's
    * co-citation graph is triangle-dense; organic link neighborhoods are
    * sparse). Edges are undirected: each canonicalizes to (a = min, b =
    * max), self-loops and duplicates drop, and the join chain enumerates
    * ordered wedges x < y < z closed by a third edge — every triangle
    * counted EXACTLY once with no post-dedup, the standard orientation
    * trick. Returns one row: (n_edges, n_wedges, n_triangles) — the global
    * clustering coefficient is 3·triangles/wedges at the caller's
    * precision.
    *
    * 100 TB shape: two shuffle-hash self-joins on single node keys; wedge
    * volume is Σ deg(v)² — the orientation bounds the enumeration by
    * ordered pairs only, and a production run over a power-law graph
    * additionally orients by degree (cheap extra aggregate) to cut the
    * hub term; the id orientation here keeps the oracle trivially exact.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = normalize(edges, srcCol, dstCol)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val wedges = e.as("e1")
      .join(e.as("e2").hint("shuffle_hash"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val closed = wedges
      .join(e.hint("shuffle_hash"),
        wedges("x") === e("a") && wedges("z") === e("b"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
  }

  /** DEGREE-ORIENTED exact triangle counting — the production refinement
    * [[triangleCount]]'s own doc promises: orient every undirected edge
    * from its lower-(degree, id) endpoint to its higher one, then
    * enumerate wedges as ordered pairs of OUT-neighbors. The orientation
    * is a total order, so if the closing edge {v, w} exists it is stored
    * exactly as v→w when (deg(v), v) < (deg(w), w) — each triangle closes
    * through precisely one wedge, exactly once, no post-dedup.
    *
    * Why it matters at 100 TB: id-orientation leaves a high-degree hub
    * with its full Σdeg(v)² wedge mass whenever its id sorts low;
    * degree-orientation caps every node's out-degree at O(√|E|) (the
    * arboricity bound behind Chiba–Nishizeki / Schank–Wagner), so the
    * wedge volume — the quadratic term that dominates power-law graphs —
    * shrinks by the hub factor for ONE extra degree aggregate and two
    * narrow joins. Both orientations were measured on a 2 M-edge
    * hub-skewed graph (ARCHITECTURE.md §Round-11 changes, "Degree-oriented
    * triangles"); triangle counts are bit-identical, wedge mass is the
    * difference.
    *
    * Emits (n_edges, n_wedges, n_triangles) like [[triangleCount]];
    * n_wedges is the ORIENTED wedge count (the work actually enumerated),
    * which is the point of the comparison.
    */
  def triangleCountDegree(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = normalize(edges, srcCol, dstCol)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order; carry the head's order key so
    // the wedge join can order out-neighbor pairs without a re-join
    val keyed = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")).hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")).hint("shuffle_hash"), Seq("b"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val e = keyed.select(
      when(ka < kb, col("a")).otherwise(col("b")).as("src"),
      when(ka < kb, col("b")).otherwise(col("a")).as("dst"),
      when(ka < kb, kb).otherwise(ka).as("kd"))
    val wedges = e.as("e1")
      .join(e.as("e2").hint("shuffle_hash"),
        col("e1.src") === col("e2.src") && col("e1.kd") < col("e2.kd"))
      .select(col("e1.dst").as("x"), col("e2.dst").as("z"))
    val closed = wedges
      .join(e.select(col("src"), col("dst")).hint("shuffle_hash"),
        wedges("x") === col("src") && wedges("z") === col("dst"), "left_semi")
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
  }

  private def normalize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))

  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()

  /** The shared damped-propagation loop: per iteration one shuffle-hash
    * rank⋈edges join on src and one partial-aggregated inmass sum by dst,
    * then rank = base + (850·inmass) div 1000. `base` carries each node's
    * restart mass ALREADY floored, which is the only difference between the
    * uniform (pageRank) and seeded (trustRank) walks.
    *
    * Deliberately NO localCheckpoint: a lineage-truncating variant
    * (checkpointing edges and/or the per-iteration rank frames) measured
    * SLOWER at 10-50 M edges — Spark already collapses the identical
    * per-iteration outdeg/nodes subtrees via exchange reuse, and
    * materializing frames costs more than the reuse saves. At iters <= 10
    * the declarative unroll is the fastest form measured; revisit only if
    * iters grows past that.
    */
  private def rankLoop(e: DataFrame, nodes: DataFrame, r0: DataFrame,
                       base: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, "iters must be in [1, 10] (plan unrolls)")
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    var ranks = r0
    for (_ <- 1 to iters) {
      val inmass = e
        .join(ranks.join(outdeg.hint("shuffle_hash"), Seq("node"))
          .withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("inmass"))
      ranks = base.join(inmass.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          expr("base + (850 * coalesce(inmass, 0)) div 1000").as("rank"))
    }
    ranks
  }
}
