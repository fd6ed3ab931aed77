package graft.operators.ext

import graft.operators.Par
import graft.functions.ArrayOps.{minhashBandKeys, sortedOverlap, wordNgrams}
import graft.functions.TokenHashSet
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.graftshim.{GraftColumnBridge, GraftRowsBridge}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * keyed dedup, n-gram Jaccard similarity join, MinHash+LSH near-dup, and
  * SimHash fingerprints.
  *
  * Everything is engine-portable-deterministic: token hashes derive from
  * md5 (identical across engines) rather than xxhash64/murmur (Spark-only),
  * so every operator here has an exact DuckDB oracle.
  *
  * 100 TB design: the Jaccard join is the small-scale/verification path (its
  * common-token self-join is quadratic in token document-frequency); the scale
  * path is MinHash+LSH — signatures are a linear scan, candidate generation is
  * an equi-join on band keys (shuffle on band hash, no all-pairs), and only
  * candidates are verified exactly.
  */
object Dedup {

  /** X1: exact keyed dedup, deterministic survivor — keep the row with the
    * lowest tie-break value per key. dropDuplicates keeps an arbitrary row
    * (partition-order dependent); this form is stable and oracle-checkable.
    *
    * Eagerly materialized: the deduped corpus is the input of every later
    * curation step (near-dup pairs, clusters, survivors, decontamination,
    * mix), and Spark has no common-subexpression materialization, so a
    * lazy result re-ran the scan, the filters and the dedup shuffle once
    * per consumer (four times in one pass of a curation chain). The dedup
    * itself is one shuffle on the keys and a sort on (keys, tie-break); the
    * first row of each key run survives, picked in the checkpoint's own
    * pass over the sorted partitions, which compiles no class: a row_number
    * window would add a partial limit, a window and a filter stage, each
    * with generated classes of its own.
    */
  def exactByKey(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val sorted = df.repartition(keys.map(col): _*)
      .sortWithinPartitions((keys :+ tieBreak).map(col): _*)
    val schema = sorted.schema
    val keyAt = keys.map(schema.fieldIndex)
    val keyTypes = keyAt.map(schema(_).dataType)
    val sameKey = InterpretedOrdering.forSchema(keyTypes)
    def key(r: InternalRow): InternalRow =
      InternalRow.fromSeq(keyAt.zip(keyTypes).map { case (i, t) => r.get(i, t) })
    val firsts = Par.rows(sorted).mapPartitions { it =>
      var last: InternalRow = null
      it.flatMap { r =>
        if (last != null && sameKey.compare(key(last), key(r)) == 0) None
        else { last = r.copy(); Some(last) }
      }
    }
    Par.materializeRdd(firsts)
    GraftRowsBridge.frame(df.sparkSession, firsts, schema)
  }

  /** Distinct whitespace tokens per document. */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Par.widen(docs)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()

  /** Portable 32-bit token hash: integer value of the first 8 hex digits of
    * md5(tok). Identical in Spark and DuckDB, unlike xxhash64/murmur3.
    */
  val tokenHash = expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)")

  /** struct(toks = ascending distinct token hashes, sz = distinct tokens)
    * of a text column, over the tokens [[shingles]] emits for `n`.
    */
  private def tokenHashSet(text: Column, n: Int): Column =
    GraftColumnBridge.column(TokenHashSet(GraftColumnBridge.expression(text), n))

  /** Word-shingle sets of size n (n-gram tokens) per document, for n-gram
    * Jaccard. n=1 degenerates to [[tokens]].
    *
    * Shingling runs through the native word_ngrams Generator
    * (functions/WordNgrams.scala): the composed HOF form evaluated three
    * nested interpreted lambdas per element and materialized the full window
    * array per document before exploding — the hot path of every n-gram
    * query. Output semantics are identical (space-split, empties dropped,
    * size-n+1 windows, distinct per document).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    if (n <= 1) return tokens(docs, idCol, textCol)
    graft.operators.Par.widen(docs)
      .select(col(idCol).as("doc_id"), wordNgrams(col(textCol), n))
      .select(col("doc_id"), col("ngram").as("tok")).distinct()
  }

  /** Exact n-gram Jaccard similarity join: pairs with
    * jaccard >= threshNum/threshDen, computed entirely in integers
    * (den*overlap >= num*union) so both engines agree bit-for-bit.
    * Returns (id_a, id_b, overlap, size_a, size_b).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
                   threshNum: Int, threshDen: Int): DataFrame = {
    // Materialized once, partitioned on the self-join key: the shingle
    // pipeline feeds THREE consumers (both self-join sides + sizes), and
    // when AQE broadcasts the tiny sizes aggregate its build future
    // re-executed the whole pipeline serially (measured as a 3.4 s
    // single-task BroadcastExchange stage — same pathology the
    // minhashLshPairs doc records). tok-partitioning makes the common-token
    // self-join exchange-free on both sides.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val Seq(toks) = Par.materialize(shingles(docs, idCol, textCol, n)
      .repartition(par, col("tok")))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("overlap"))
    pairs
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("overlap"),
        col("sa.sz").as("size_a"), col("sb.sz").as("size_b"))
      .filter(lit(threshDen) * col("overlap") >=
        lit(threshNum) * (col("size_a") + col("size_b") - col("overlap")))
  }

  /** Exact CONTAINMENT join with prefix filtering (the PPJoin-family scale
    * path): emit every ordered pair where the smaller document's token set
    * is >= threshNum/threshDen contained in the larger's —
    * overlap >= t·min(|A|,|B|). Containment is the asymmetric complement of
    * Jaccard: a short document quoted inside a long one has low Jaccard
    * (the union is large) but high containment, so Jaccard/MinHash dedup
    * misses exactly the embedded-duplicate case this catches.
    *
    * Prefix filter (lossless): rank each document's hashed tokens by global
    * rarity (document frequency asc, hash asc — deterministic); if the
    * smaller side A satisfies overlap >= ceil(t·|A|), at least one matching
    * token lies among A's first |A| − ceil(t·|A|) + 1 rarest tokens (the
    * suffix holds only ceil(t·|A|) − 1). So candidate generation probes the
    * full inverted index with PREFIX tokens only — ~(1−t)·|A| rows per doc,
    * and by construction the rarest ones (low df), which bounds the
    * Σ df(prefix tok) join fan-out.
    *
    * POSITIONAL filter (PPJoin-style, also lossless): because every
    * document ranks its tokens in the SAME global (df, h) order, the
    * common tokens of any pair appear in strictly increasing rank in BOTH
    * documents. So for a common token at ranks (i, j): common tokens
    * before it number <= i−1 (each has smaller A-rank), common tokens
    * after it number <= min(|A|−i, |B|−j) — hence
    * overlap <= min(i + |B|−j, j + |A|−i, |A|). Every common-token row of
    * a qualifying pair satisfies this bound with value >= overlap >=
    * ceil(t·|A|), so rows failing it are never evidence for a qualifying
    * pair and are cut at candidate time.
    *
    * MULTI-PREFIX count filter (mpjoin-style, also lossless): extend the
    * probe prefix by `prefixDepth`−1 extra tokens — prefix_q(A) = A's
    * first |A| − ceil(t·|A|) + q rarest tokens. A qualifying pair must
    * share >= min(q, ceil(t·|A|)) tokens within prefix_q(A): tokens of A
    * outside it occupy only ceil(t·|A|) − q ranks, so fewer shared prefix
    * tokens caps overlap below threshold (when the extended prefix covers
    * all of A, the requirement relaxes to ceil(t·|A|), which overlap meets
    * by definition). Since candidate rows are exactly the (pair, shared
    * prefix token) matches, the requirement is a groupBy(pair) count — the
    * SAME shuffle the candidate distinct already paid, now doing real
    * filtering work: single-rare-token coincidences, the bulk of the
    * candidate mass on a closed-vocabulary corpus, die before the verify
    * join. (r8's prefix filter alone cut candidates 4×; the r9 composition
    * is measured in ARCHITECTURE.md §Round-9.)
    *
    * The verify step is the same sorted_overlap two-pointer count as
    * [[minhashLshPairs]], shuffle-hash on doc id — no corpus broadcast
    * anywhere. Unlike LSH this is EXACT: the oracle checks it against the
    * unfiltered all-pairs join, proving ALL THREE filters lossless.
    *
    * Returns (id_a, id_b, overlap, size_a, size_b) with id_a the contained
    * (smaller, tie -> lower id) side, sizes/overlap over hashed distinct
    * token sets.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshNum: Int, threshDen: Int,
                       prefixDepth: Int = 3): DataFrame = {
    require(threshNum > 0 && threshNum <= threshDen, "need 0 < thresh <= 1")
    require(prefixDepth >= 1, "prefixDepth must be >= 1")
    val q = prefixDepth
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val Seq(hashed) = Par.materialize(shingles(docs, idCol, textCol, n)
      .withColumn("h", tokenHash).select("doc_id", "h").distinct()
      .repartition(par, col("doc_id")))
    val dfreq = hashed.groupBy("h").agg(count(lit(1)).as("df"))
    // rarity rank + set size in ONE (doc_id)-partitioned window pass;
    // prefix length |A| - ceil(t*|A|) + 1 in integer arithmetic. The frame
    // is checkpointed ONCE with the prefix membership as a flag: both join
    // sides below read the materialization instead of re-running the df
    // join + windows per side (which would double every upstream shuffle).
    // The token-set table is independent of it given `hashed`.
    val Seq(ranked, tokSets) = Par.materialize(
      hashed.join(dfreq.hint("shuffle_hash"), Seq("h"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("in_prefix", col("rnk") <=
          expr(s"sz - ((sz * $threshNum + ${threshDen - 1}) div $threshDen) + $q"))
        .select("doc_id", "h", "sz", "rnk", "in_prefix"),
      hashed.groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("toks"), count(lit(1)).as("sz")))
    // probe the full index with extended-prefix tokens; orient smaller ->
    // larger at candidate time so each pair is generated once
    val probe = ranked.filter(col("in_prefix"))
      .select(col("doc_id").as("id_a"), col("sz").as("sz_a"),
        col("rnk").as("rnk_a"), col("h"))
      .repartition(par, col("h"))
    val index = ranked.select(col("doc_id").as("id_b"), col("sz").as("sz_b"),
      col("rnk").as("rnk_b"), col("h"))
    // ceil(t·|A|) as integer arithmetic, shared by both lossless filters
    def ceilA(sza: String) =
      expr(s"($sza * $threshNum + ${threshDen - 1}) div $threshDen")
    val cands = probe.join(index.hint("shuffle_hash"), Seq("h"))
      .filter(col("sz_a") < col("sz_b") ||
        (col("sz_a") === col("sz_b") && col("id_a") < col("id_b")))
      // positional bound, valid for EVERY common-token row of a qualifying
      // pair: overlap <= min(rnk_a + |B|-rnk_b, rnk_b + |A|-rnk_a)
      .filter(least(col("rnk_a") + col("sz_b") - col("rnk_b"),
        col("rnk_b") + col("sz_a") - col("rnk_a")) >= ceilA("sz_a"))
      // multi-prefix count: a qualifying pair shares >= min(q, ceil(t·|A|))
      // tokens inside prefix_q(A) — counted on the shuffle the pair-distinct
      // already required
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__cnt"), max("sz_a").as("__sza"))
      .filter(col("__cnt") >= least(lit(q).cast("long"), ceilA("__sza")))
      .select("id_a", "id_b")
    cands
      .join(tokSets.as("sa").hint("shuffle_hash"), col("id_a") === col("sa.doc_id"))
      .join(tokSets.as("sb").hint("shuffle_hash"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        sortedOverlap(col("sa.toks"), col("sb.toks")).as("overlap"),
        col("sa.sz").as("size_a"), col("sb.sz").as("size_b"))
      .filter(lit(threshDen) * col("overlap") >= lit(threshNum) * col("size_a"))
  }

  /** MinHash seeds: fixed (a, b) pairs for h_i(x) = (a*x + b) mod P. a < 2^29
    * and x < 2^32 keep a*x+b < 2^62 (no overflow). Shared with the
    * minhash_band_keys kernel and the oracle SQL.
    */
  val minhashP: Long = 2147483647L
  val minhashSeeds: Seq[(Long, Long)] = Seq(
    (387143L, 98741L), (204929L, 55333L), (451261L, 7919L), (99371L, 150151L),
    (287117L, 31337L), (173081L, 62791L), (331999L, 24281L), (411853L, 86243L),
    (128591L, 41143L), (223823L, 13007L), (364979L, 71993L), (157579L, 92221L),
    (301237L, 17389L), (437191L, 50021L), (189517L, 66947L), (274877L, 29989L))

  /** X2 (scale path): MinHash+LSH near-dup join. Token hashes → band keys
    * → equi-join on the band key for candidates → exact Jaccard
    * verification of candidates only. With shingleN > 1 the token universe
    * is word n-grams (order-sensitive), which makes this the unbounded scale
    * path for n-gram Jaccard too.
    *
    * One materialization: the token-set table (doc_id, toks = sorted
    * distinct token hashes, sz = distinct tokens), one projection per
    * input row (so one row per document: ids must be unique), checkpointed
    * once. Its two consumers — the
    * band rows and both verify joins — read the checkpoint, so the input
    * plan runs once. Spark has no common-subexpression materialization:
    * without the cut each consumer re-executes the upstream pipeline, and
    * when AQE broadcasts a small side its build future re-runs that
    * shuffle-bearing pipeline serially (observed 30-170 s of variance for
    * ~3 s of real work). At 100 TB the checkpoint is a distributed
    * executor-storage write, same order of IO as the shuffle it replaces.
    *
    * The (doc_id, key) band rows come from `toks` through the native
    * minhash_band_keys kernel (functions/MinhashBandKeys.scala): one flat
    * loop folds all 16 seed minima per document and formats the keys —
    * no seed cross join, no per-(doc, seed) or per-(doc, band) aggregation,
    * no band table to checkpoint. Keys are the ones [[withBandKeys]] emits
    * from text (a min over a multiset equals the min over its set), and
    * their "b:" prefix keeps bands apart, so the self-join keys on the key
    * alone. The kernel is cheap, so each self-join side recomputes it from
    * the checkpoint instead of materializing the rows.
    *
    * Everything that moves through the skew-prone band self-join is NARROW —
    * (doc_id, key) only. The wide per-document token arrays join in AFTER
    * candidate pairs are known, keyed by doc_id; a size-ratio prefilter
    * (J <= min/max) drops hopeless pairs before either array is touched,
    * and the intersection for the rest is the native sorted_overlap
    * two-pointer merge (functions/ArrayOps.scala) — zero allocation,
    * O(|candidates|) rows. (A previous shape rode the token arrays through a
    * 16× salted shuffle; replicating wide rows cost ~180 s at sf0.1 for the
    * same answer.)
    *
    * Skew: hot band buckets (a near-dup cluster shares one key) produce
    * quadratic candidate rows. The salted self-join splits each bucket's pair
    * space across `salts` build-side copies — probe keeps one salt per row,
    * build replicates per salt, every pair appears exactly once — so a single
    * hot bucket spreads over many tasks instead of serializing one. Salting
    * narrow rows is cheap; that is what keeps the treatment affordable.
    *
    * Wider bands (default bandSize=8 → 2 bands over 16 hashes) keep bucket
    * collision probability j^8 per band: near-1 for true near-dups at the
    * 0.95 threshold, far lower for the merely-similar mass. `bandSize` must
    * divide the seed count.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      bandSize: Int, threshNum: Int, threshDen: Int,
                      shingleN: Int = 1, salts: Int = 16): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(minhashSeeds.size % bandSize == 0, "bandSize must divide the seed count")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // Each document's token set is one projection
    // (functions/TokenHashSet.scala) in the input's own stage. Explicit
    // repartition BEFORE the checkpoint: the input may reach here on one
    // partition (AQE coalesces a tiny-by-bytes shuffle down to 1), which
    // would serialize the band-key kernel, the hot-bucket pair generation,
    // and the checkpoint write itself. Quadratic-output operators must size
    // partitions by downstream work, not input bytes.
    val Seq(tokSets) = Par.materialize(docs
      .select(col(idCol).as("doc_id"), tokenHashSet(col(textCol), math.max(shingleN, 1)).as("ts"))
      .select(col("doc_id"), col("ts.toks").as("toks"), col("ts.sz").as("sz"))
      .repartition(par, col("doc_id")))
    val bands = tokSets.select(col("doc_id"),
      explode(minhashBandKeys(col("toks"), bandSize)).as("key"))
    // Salted self-join over narrow (doc_id, key) rows. A hot bucket (a
    // near-dup cluster sharing one band key) emits quadratic pairs; hashing
    // the probe side by (key, salt) spreads each hot bucket over `salts`
    // tasks instead of one. The build side replicates per salt so every
    // pair appears exactly once.
    //
    // SIZING RULE for `salts` (caller-tunable; default 16): a hot bucket of
    // n docs emits ~n²/2 candidate rows split over `salts` tasks, so pick
    // salts >= n_max² / (2 × target rows per task) — e.g. a 100k-doc
    // boilerplate cluster at a 10M-row task budget wants salts ≈ 500. Cost
    // is linear in salts only on the REPLICATED build side's narrow rows,
    // so oversizing is cheap; the default covers any bucket up to ~18k
    // docs at that budget. Callers at 100× scale should derive n_max from
    // the band table's top bucket count (one scalar agg over groupBy(key))
    // when corpus skew is unknown.
    //
    // The build side is a SHUFFLE-HASH join, never a broadcast: the band
    // table is CORPUS-SIZED (one row per doc per band, × salts), so a
    // broadcast would collect the whole corpus to the driver and ship it to
    // every executor — fine at bench scale, an OOM cliff at 100×. The
    // shuffle-hash form ships each partition only its own (key, salt)
    // slice of the replicated build, so per-task build memory is
    // |bands| × salts / #partitions — bounded by adding partitions. The
    // probe side is pre-partitioned on exactly the join keys, so it moves
    // through its existing exchange. (Plan-asserted in PlanSpec: this join
    // and the verify joins below must stay ShuffledHashJoin.)
    // (coalesce: a non-null salt, typed like the build side's, so both
    // sides of the exchange share one compiled partitioning projection)
    val x = bands.withColumn("salt", coalesce(pmod(col("doc_id"), lit(salts)).cast("int"), lit(0)))
      .repartition(par, col("key"), col("salt"))
    val y = bands.withColumn("salt", explode(lit((0 until salts).toArray)))
    val cands = x.as("x").join(y.as("y").hint("shuffle_hash"),
        col("x.key") === col("y.key") && col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      // a pair matching in >1 band appears once per band: drop the copies
      // on the shuffle the first verify join needs anyway (id_a
      // partitioning clusters every (id_a, id_b) pair), not on one of its own
      .repartition(par, col("id_a"))
      .distinct()
    // Sorted distinct token arrays (the checkpoint above): the
    // native sorted_overlap merge-count (functions/ArrayOps.scala) needs
    // ascending order, and in exchange the per-pair verification is a
    // zero-allocation two-pointer loop instead of array_intersect's hash
    // set + result array per candidate.
    val overlap = sortedOverlap(col("sa.toks"), col("sb.toks"))
    // Verify joins: SHUFFLE-HASH on doc_id, with the token-set side as the
    // hinted build so the planner can never pick the (possibly million-row)
    // candidate side. The token-set table holds every document's FULL token
    // array — corpus-sized, the exact thing that must never broadcast: a
    // shuffle-hash join ships each partition only its id-range slice, so
    // per-task build memory is |corpus token data| / #partitions. The
    // narrow (id_a, id_b) candidate rows shuffle cheaply on each key.
    //
    // The size-ratio filter runs BEFORE the overlap projection: J(A,B) <=
    // min(|A|,|B|)/max(|A|,|B|), so a pair failing the ratio can never pass
    // the threshold — those candidates are dropped without touching either
    // token array.
    cands
      .join(tokSets.as("sa").hint("shuffle_hash"), col("id_a") === col("sa.doc_id"))
      .join(tokSets.as("sb").hint("shuffle_hash"), col("id_b") === col("sb.doc_id"))
      .filter(lit(threshDen) * least(col("sa.sz"), col("sb.sz")) >=
        lit(threshNum) * greatest(col("sa.sz"), col("sb.sz")))
      .select(col("id_a"), col("id_b"), overlap.as("overlap"),
        col("sa.sz").as("size_a"), col("sb.sz").as("size_b"))
      .filter(lit(threshDen) * col("overlap") >=
        lit(threshNum) * (col("size_a") + col("size_b") - col("overlap")))
  }

  /** Expression-level MinHash band keys of a text column: the banding of
    * [[minhashLshPairs]] computed as ONE projection, with no explode, no
    * aggregation, and no shuffle. That makes it usable inside a streaming
    * micro-batch with no state store (Streaming.decontamNearDup) and as a
    * map-side probe against a prebuilt band index. The kernel is the one
    * [[minhashLshPairs]] runs over token-hash arrays, so keys are identical
    * to the batch join's (min over a multiset equals min over its distinct
    * set; elements concatenate in fixed seed order) and carry a `band:`
    * prefix so keys from different bands can never compare equal. An
    * empty/tokenless document gets an EMPTY key array, so it never collides.
    *
    * Adds `outCol` (array<string>, one element per band) next to the
    * existing columns.
    */
  def withBandKeys(df: DataFrame, textCol: String, bandSize: Int, outCol: String): DataFrame = {
    require(minhashSeeds.size % bandSize == 0, "bandSize must divide the seed count")
    // the native one-pass expression (functions/MinhashBandKeys.scala):
    // tokenize, hash each distinct token once, fold all seed minima in one
    // flat loop, emit the key strings — replaces 1 + seeds interpreted HOF
    // lambdas per document (measured ~1 ms/doc at sf0.1, the dominant cost
    // of every consumer of this path). Key strings are bit-identical.
    df.withColumn(outCol, minhashBandKeys(col(textCol), bandSize))
  }

  /** X1: near-dup CROSS-SOURCE matrix — the curation report that says WHERE
    * duplication mass lives: verified near-dup pairs bucketed by the
    * (unordered) source pair of their two documents. High within-source
    * cells mean boilerplate inside one crawl; high cross-source cells mean
    * mirrored content — the two cases a mixing policy treats differently
    * (dedup within, down-weight across), so the matrix is the input to
    * that decision.
    *
    * Shape: two shuffle-hash joins of the pair list against the narrow
    * (id, source) projection — the metadata side is corpus-sized, never
    * broadcast — then one aggregate over a cell space bounded by
    * |sources|². least/greatest canonicalize the unordered pair so (a,b)
    * and (b,a) land in one cell.
    */
  def pairSourceMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
                       srcCol: String): DataFrame = {
    val meta = docs.select(col(idCol).cast("long").as("__id"), col(srcCol).as("__src"))
    pairs
      .join(meta.select(col("__id").as("id_a"), col("__src").as("src_a")).hint("shuffle_hash"),
        Seq("id_a"))
      .join(meta.select(col("__id").as("id_b"), col("__src").as("src_b")).hint("shuffle_hash"),
        Seq("id_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** X1: dedup SURVIVORSHIP — elect one canonical document per near-dup
    * cluster under an explicit, deterministic rule (longest text wins,
    * smallest id breaks ties) and report cluster size beside it. Dropping
    * near-dups keeps "the first" by default ([[exactByKey]]'s tie-break);
    * survivorship is the production refinement — keep the BEST member, not
    * an arbitrary one — and the explicit rule is what makes the choice
    * replayable instead of partition-dependent.
    *
    * Shape: one shuffle-hash join of the (id, length) projection against
    * the cluster labels, then a size aggregate and a rank-1 window BOTH
    * keyed on the cluster — co-partitioned, one exchange feeds all three.
    */
  def survivorship(docs: DataFrame, idCol: String, textCol: String,
                   clusters: DataFrame): DataFrame = {
    val sized = docs
      .select(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).cast("long").as("len"))
      .join(clusters.hint("shuffle_hash"), Seq("doc_id"))
    val counts = sized.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    val win = Window.partitionBy(col("cluster")).orderBy(col("len").desc, col("doc_id"))
    sized.withColumn("__rk", row_number().over(win)).filter(col("__rk") === 1)
      .select(col("cluster"), col("doc_id").as("survivor_id"), col("len").as("survivor_len"))
      .join(counts.hint("shuffle_hash"), Seq("cluster"))
  }

  /** Index MAINTENANCE for the incremental near-dup path: append a new
    * batch's band keys into an existing BUCKETED band index table,
    * completing the corpus-growth loop (x1_incremental_neardup probes the
    * static index; this is how the index absorbs the batch afterwards).
    *
    * The append preserves the table's bucketBy layout: Spark writes the new
    * rows as additional per-bucket files under the same hash spec, so probe
    * joins KEEP reading the index with no index-side exchange after any
    * number of appends (plan-asserted in IoSpec). Idempotent under re-run:
    * the batch anti-joins the index's existing doc_ids first, so replaying
    * a failed/duplicated append inserts nothing — the restart discipline a
    * production ingest loop needs. The doc_id scan of the index is one
    * narrow column read, linear; the batch side is map-side band-key
    * projection ([[withBandKeys]], no aggregation).
    *
    * `buckets` must match the table's bucket spec (Spark rejects a
    * mismatch loudly). Idempotence rides on the shared
    * [[graft.io.BucketedIndex.appendIdempotent]] contract.
    */
  def appendBandIndex(table: String, batch: DataFrame, idCol: String,
                      textCol: String, bandSize: Int, buckets: Int): Unit =
    graft.io.BucketedIndex.appendIdempotent(table,
        batch.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "doc_id", buckets, "key") { fresh =>
      withBandKeys(fresh, "__text", bandSize, "__bands")
        .select(col("doc_id"), explode(col("__bands")).as("key"))
    }

  /** Compaction for [[appendBandIndex]]'s one structural cost (one file per
    * bucket per append): the shuffle-free rewrite + atomic catalog swap of
    * [[graft.io.BucketedIndex.compact]] applied to the band table's `key`
    * bucket spec. Row set untouched — appendBandIndex's anti-join already
    * guarantees no duplicate doc_ids, so compaction is a pure re-layout;
    * returns the old location for caller cleanup.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       buckets: Int, newPath: String): String =
    graft.io.BucketedIndex.compact(spark, table, buckets, "key", newPath)

  /** X1: corpus-wide PARAGRAPH deduplication (the MassiveText-style pass —
    * remove repeated passages across documents, not whole documents):
    * segment each document into fixed-size token blocks (a deterministic
    * stand-in for paragraph boundaries — this corpus has no structural
    * separators; a real corpus would split on blank lines), fingerprint
    * each block, keep only the FIRST corpus-wide occurrence (order =
    * (doc_id, block_no)) of every distinct block, and reassemble documents
    * from their surviving blocks in original order. Returns
    * (doc_id, text, n_blocks, n_kept) — a document whose every block was
    * seen earlier collapses to empty text, not a dropped row.
    *
    * 100 TB shape: segmentation is map-side; first-occurrence selection is
    * one row_number window partitioned BY FINGERPRINT (hash-partitioned on
    * a high-cardinality key — no global ordering); reassembly is one
    * groupBy(doc_id) collecting (block_no, block) structs. Two narrow
    * shuffles total, each linear in block count.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      blockTokens: Int): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val ws = s"filter(split($textCol, ' '), x -> x != '')"
    // the empty-doc guard matters: int((0 - 1) / n) truncates to 0, so an
    // unguarded sequence would emit one spurious empty block
    val segmented = graft.operators.Par.widen(docs).select(col(idCol).as("doc_id"), expr(
      s"case when size($ws) = 0 then array() else " +
        s"transform(sequence(0, int((size($ws) - 1) / $blockTokens)), " +
        s"i -> array_join(slice($ws, i * $blockTokens + 1, $blockTokens), ' ')) end").as("blks"))
    val kept = segmented
      .select(col("doc_id"), posexplode(col("blks")).as(Seq("block_no", "blk")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("blk"))).orderBy(col("doc_id"), col("block_no"))))
      .filter(col("__rn") === 1)
    val rebuilt = kept.groupBy("doc_id").agg(
      concat_ws(" ",
        expr("transform(sort_array(collect_list(struct(block_no, blk))), x -> x.blk)")).as("text"),
      count(lit(1)).as("n_kept"))
    segmented.select(col("doc_id"), size(col("blks")).as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("n_blocks"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** X1: substring-level span REMOVAL — the rewrite form of
    * [[repeatedSubstringStats]] (which only reports): CUT every
    * `window`-char span whose verbatim content occurred earlier in the
    * corpus, and reassemble each document from its surviving spans — the
    * "cut the boilerplate" operator a curation pipeline actually runs
    * (license blocks, navigation chrome, quoted chunks keep their FIRST
    * occurrence and vanish everywhere else). The grid here is
    * NON-overlapping (stride = window, plus a trailing partial chunk):
    * removal needs every character to belong to exactly one span — an
    * overlapping grid (the detection form) leaves span ownership ambiguous.
    * First occurrence = corpus-wide (doc_id, chunk_no) order per
    * fingerprint, the same deterministic rule as [[dedupParagraphs]] at
    * character rather than token-block granularity. Returns
    * (doc_id, text, n_chunks, n_cut); a document that was entirely
    * earlier-seen content collapses to empty text, not a dropped row.
    *
    * 100 TB shape: segmentation is map-side (text leaves the scan once,
    * split into ~len/window chunks); first-occurrence selection is one
    * row_number window partitioned BY FINGERPRINT (hash-partitioned,
    * high-cardinality, no global ordering); reassembly is one
    * groupBy(doc_id). Two narrow shuffles, linear in corpus chars — no
    * all-pairs term, same as the paragraph pass.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val segmented = graft.operators.Par.widen(docs).select(col(idCol).as("doc_id"), expr(
      s"case when length($textCol) = 0 then array() else " +
        s"transform(sequence(1, length($textCol), $window), " +
        s"p -> substring($textCol, p, $window)) end").as("chunks"))
    val kept = segmented
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_no", "chunk")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("chunk_no"))))
      .filter(col("__rn") === 1)
    val rebuilt = kept.groupBy("doc_id").agg(
      concat_ws("",
        expr("transform(sort_array(collect_list(struct(chunk_no, chunk))), x -> x.chunk)")).as("text"),
      count(lit(1)).as("n_kept"))
    segmented.select(col("doc_id"), size(col("chunks")).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).cast("bigint").as("n_cut"))
  }

  /** The sliding window-fingerprint grid shared by [[repeatedSubstringStats]]
    * and [[substringContamination]]: one (doc_id, md5-of-window) row per
    * `stride`-spaced position; documents shorter than `window` emit nothing.
    */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String,
                           window: Int, stride: Int): DataFrame =
    graft.operators.Par.widen(docs)
      .filter(length(col(textCol)) >= window)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        explode(sequence(lit(1), length(col(textCol)) - lit(window - 1),
          lit(stride))).as("pos"))
      .select(col("doc_id"), md5(expr(s"substring(__t, pos, $window)")).as("hsh"))

  /** X1: exact repeated-SUBSTRING detection — the character-level complement
    * of token-set near-dup (MinHash estimates whole-document set similarity;
    * this finds exact long spans shared verbatim across documents:
    * boilerplate, license blocks, quoted chunks — the spans substring-level
    * dedup pipelines cut). A `window`-char fingerprint slides with `stride`
    * over every document; a window is "shared" when its md5 occurs in >= 2
    * distinct documents. Returns (doc_id, n_windows, n_shared) — callers
    * threshold n_shared / n_windows to flag boilerplate-heavy documents.
    * Documents shorter than `window` chars have no fingerprintable span and
    * no row.
    *
    * 100 TB shape: text leaves the scan only as fixed-width hashes —
    * ~len/stride narrow (doc_id, hsh) rows per document. The shared set is
    * one partial-aggregated groupBy(hsh); membership returns via a
    * shuffle-hash equi-join on hsh (build side is the shared subset only —
    * hinted, never a corpus broadcast); the per-doc rollup is one final key
    * shuffle. No all-pairs term anywhere: linear in corpus chars / stride.
    */
  def repeatedSubstringStats(docs: DataFrame, idCol: String, textCol: String,
                             window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val wins = windowHashes(docs, idCol, textCol, window, stride)
    val shared = wins.groupBy("hsh")
      .agg(count_distinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("hsh"), lit(1).as("__hit"))
    wins.join(shared.hint("shuffle_hash"), Seq("hsh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), count(col("__hit")).as("n_shared"))
  }

  /** X1/X7: substring-level decontamination — flag every corpus document
    * sharing any VERBATIM `window`-char span with a held-out benchmark set:
    * the character-level member of the decontamination family (exact md5 /
    * word n-gram / MinHash near-dup / this). Catches literal quotes that
    * word-n-gram collision can miss when tokenization differs (punctuation
    * glued to words, casing inside tokens), at the price of missing
    * paraphrases (the near-dup variant's job).
    *
    * Asymmetric grids: the CORPUS side strides (`stride` positions apart —
    * linear in corpus chars / stride), while the tiny BENCHMARK side
    * enumerates EVERY position (stride 1), so a corpus window matching
    * anywhere inside a benchmark item collides regardless of alignment.
    * Returns (doc_id, n_hits) for flagged documents only — n_hits =
    * distinct colliding window fingerprints.
    *
    * 100 TB shape: identical to [[ngramContamination]] — benchmark window
    * hashes broadcast, corpus windows are map-side fixed-width hashes, only
    * colliding rows reach the one key shuffle.
    */
  def substringContamination(docs: DataFrame, idCol: String, textCol: String,
                             bench: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val corpus = windowHashes(docs, idCol, textCol, window, stride)
      .distinct()
    val benchWins = windowHashes(bench, idCol, textCol, window, 1)
      .select("hsh").distinct()
    corpus.join(broadcast(benchWins), Seq("hsh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** X1/X6: leakage-safe train/val/test split — assign every document to a
    * split by hashing its CLUSTER label, never its own id, so near-duplicate
    * documents (same [[dedupClusters]] component) can never straddle the
    * train/eval boundary — the split-leakage failure mode cluster-level
    * dedup exists to prevent. `clusters` is [[dedupClusters]] output
    * (doc_id, cluster); `trainPct`/`valPct` are percentages, test takes the
    * remainder.
    *
    * Determinism: the same portable md5 bucket as Relational.hashBucket,
    * keyed on the cluster label — reproducible across engines, runs, and
    * cluster sizes. Shape: a pure codegen'd projection over the clusters
    * frame — no shuffle beyond what clustering already paid.
    */
  def clusterSplit(clusters: DataFrame, trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    val bucketed = graft.operators.Relational.hashBucket(clusters, "cluster")
    bucketed
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("bucket")
  }

  /** X1/X7: n-gram-level decontamination — flag every training document that
    * shares ANY word n-gram with a held-out benchmark set. This is the form
    * LLM training corpora need: exact-fingerprint decontamination only
    * catches verbatim duplicates, while an n-gram collision also catches
    * benchmark items quoted or embedded inside a larger document.
    *
    * Returns (doc_id, n_hits) for flagged documents only — n_hits = number
    * of distinct colliding n-grams; callers anti-join on doc_id to drop.
    *
    * 100 TB shape: the benchmark side is tiny (a test set), so its n-grams
    * broadcast as they come — a semi join needs no distinct build side; the
    * corpus side shingles map-side and only colliding (doc, gram) rows
    * reach the count's one key shuffle — a linear scan of the corpus
    * regardless of benchmark count.
    */
  def ngramContamination(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, n: Int): DataFrame = {
    val corpusGrams = shingles(docs, idCol, textCol, n)
    // word_ngrams with n = 1 emits the tokens [[tokens]] does
    val benchGrams = Par.widen(bench).select(wordNgrams(col(textCol), math.max(n, 1)))
      .select(col("ngram").as("tok"))
    corpusGrams.join(broadcast(benchGrams), Seq("tok"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** X1/X7: benchmark-leakage REPORT — the reporting direction of
    * [[ngramContamination]]: instead of flagging corpus documents to drop,
    * quantify per BENCHMARK item how badly it leaked into the corpus —
    * how many corpus documents collide with it (`n_docs_hit`) and how much
    * of the item is covered (`n_grams_hit` of `n_grams` distinct word
    * n-grams). This is the eval-integrity view a curation pipeline
    * publishes next to the drop list: an item with high coverage is
    * compromised even after decontamination removes the colliders.
    * Items with fewer than n tokens have no n-grams and no row.
    *
    * 100 TB shape: identical to [[ngramContamination]] — benchmark grams
    * broadcast, corpus shingles map-side, only colliding rows reach the
    * aggregation, whose cardinality is bounded by benchmark size.
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, n: Int): DataFrame = {
    val corpusGrams = shingles(docs, idCol, textCol, n)
    val benchGrams = shingles(bench, idCol, textCol, n)
      .withColumnRenamed("doc_id", "bench_id")
    val agg = corpusGrams.join(broadcast(benchGrams), Seq("tok"))
      .groupBy("bench_id").agg(
        countDistinct("doc_id").as("n_docs_hit"),
        countDistinct("tok").as("n_grams_hit"))
    benchGrams.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
      .join(agg, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_grams_hit"), lit(0L)).as("n_grams_hit"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"))
  }

  /** Dedup-cluster assignment: connected-component labeling over a near-dup
    * pair list. Every document gets the minimum doc_id reachable through
    * pair edges — its cluster id — so downstream keeps one survivor per
    * cluster (the full near-dup dedup pipeline is pairs → clusters → keep
    * min-id per cluster).
    *
    * Three-stage shape, chosen because near-dup pair lists are locally DENSE
    * (a k-document duplicate cluster emits ~k²/2 pairs, so the edge mass is
    * quadratic in cluster size while the node count stays linear — measured
    * sf0.1: 356k edges over 2.3k nodes):
    *
    *  1. CONTRACT — one mapPartitions pass runs union-find within each
    *     partition of the raw pair list and emits one (node, local-min-root)
    *     star edge per node per partition. Replacing a partition's edges by
    *     a spanning forest preserves connectivity exactly, so the union of
    *     the per-partition stars has the same components as the input while
    *     shrinking the edge mass from quadratic to ≤ nodes × partitions —
    *     the one pass that reads the quadratic pair list needs no shuffle,
    *     no symmetrize, no distinct.
    *  2. FINISH (contracted graph ≤ `finishRows`): a single bounded task
    *     union-finds the star edges exactly — components resolve in one job
    *     with zero iteration. 4M star rows ≈ 64 MB in one task's hash maps:
    *     far past any corpus this engine has met, yet still a deliberate
    *     cliff, hence stage 3.
    *  2b. QUOTIENT RECURSION (contracted graph > `finishRows`): the star
    *     frame can never shrink below one row per node, so instead of
    *     iterating on the NODE graph, recurse on the LABEL graph — the
    *     quotient whose vertices are the local-min labels, with two labels
    *     linked iff some node carries both (one groupBy(node) pass emits a
    *     star over each multi-label node's label set). The quotient is
    *     smaller by the local clustering factor (labels ≈ local components,
    *     not nodes); resolving it labels every label with its component
    *     min, and one join maps nodes through their labels' roots. Up to
    *     `quotientDepth` levels; an EMPTY quotient (no node carries two
    *     labels) means the stars are already component-flat and the join
    *     alone finishes — no iteration at all.
    *  3. PROPAGATE (`quotientDepth` exhausted and still > `finishRows`):
    *     fall back to hop-batched min-label propagation over the star
    *     edges — narrow (id, label) shuffles, changed-count convergence
    *     probe piggybacked on each round's final hop, and a LOUD
    *     IllegalStateException when `maxIters` rounds pass without a
    *     fixpoint (a silent partial propagation at scale is a wrong answer
    *     with no alarm).
    *
    * The fixpoint (min id per component) is path-independent — identical
    * under any partitioning, any contraction schedule, and in the oracle's
    * recursive-CTE formulation. (Why the quotient preserves it: a
    * component's global min id m is emitted as its own label (m, m) by the
    * partition that saw it, any two labels of one bipartite node-label
    * component are transitively linked through shared nodes, and the
    * quotient's own recursion returns min-per-label-component — which is m,
    * since labels are ids and m is one of them.)
    *
    * ID CONTRACT: pair ids must be integral (long-castable losslessly —
    * the labeling unions ids across partitions in primitive longs). A
    * non-castable id (e.g. a non-numeric string) fails LOUDLY at runtime
    * via raise_error, not as a silent null; callers with string keys should
    * dedup on a surrogate (e.g. Medallion.withScalableSurrogateId) first.
    *
    * Measured (synthetic cliques-plus-chain graphs, local[32], pair
    * generation excluded): 1M nodes / 24.5M edges resolve exactly via
    * the finish path in 1.8 s; 5M nodes / 123M edges in
    * 12.4 s and 20M nodes / 490M edges in 88.9 s, both exactly through
    * ONE quotient level (labels ≈ local components → single-task
    * finish) — the propagation fallback (~70 s of hop rounds at the 5M
    * size) is no longer on the path. Timings in ARCHITECTURE.md §Round-7
    * changes, "Quotient-recursion headroom".
    */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "id_a", bCol: String = "id_b",
                    maxIters: Int = 20, finishRows: Long = 4000000L,
                    quotientDepth: Int = 2): DataFrame = {
    // id contract enforced up front: a lossy/failed long cast raises with
    // the offending value instead of surfacing later as an opaque
    // non-nullable-field error (or, worse, a silently renumbered cluster)
    def longId(c: String) =
      when(col(c).isNotNull && col(c).cast("long").isNull,
          raise_error(concat(lit(s"dedupClusters: id column '$c' must be long-castable, got: "),
            col(c).cast("string"))))
        .otherwise(col(c).cast("long"))
    val edges = Par.rows(pairs.select(longId(aCol), longId(bCol))).map { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException(s"dedupClusters: null id in pair columns '$aCol', '$bCol'")
      (r.getLong(0), r.getLong(1))
    }
    val labels = clusterEdges(pairs.sparkSession, edges, finishRows, maxIters, quotientDepth)
    docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Core labeling: (doc_id, cluster-min) for every id appearing in `edges`,
    * via the contract → finish | quotient-recurse | propagate cascade
    * documented on [[dedupClusters]]. The contraction, its checkpoint and
    * count, and the finish run on the plain RDD of id pairs: none of them
    * compiles a class, where the same passes as typed Dataset operators
    * added a deserializer, a serializer and a scan stage each.
    */
  private def clusterEdges(spark: org.apache.spark.sql.SparkSession, edges: RDD[(Long, Long)],
                           finishRows: Long, maxIters: Int, quotientDepth: Int): DataFrame = {
    val stars = contractEdges(edges)
    val n = Par.materializeRdd(stars)
    if (n <= finishRows)
      return idPairs(spark, contractEdges(stars.coalesce(1)), "doc_id", "cluster")
    val starFrame = idPairs(spark, stars, "src", "dst")
    if (quotientDepth <= 0) {
      System.err.println(s"[dedupClusters] $n star rows > finish threshold " +
        s"$finishRows, quotient depth exhausted: propagation fallback")
      return propagateMinLabel(starFrame, maxIters)
    }
    // label quotient graph: each node carrying >1 label links them (a star
    // through the node's min label); one groupBy(node) pass, output size =
    // multi-label incidence, not nodes
    val labEdges = Par.rows(starFrame.groupBy(col("src")).agg(collect_set(col("dst")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a"), array_min(col("ds")).as("b"))
      .filter(col("a") =!= col("b")))
      .map(r => (r.getLong(0), r.getLong(1)))
    System.err.println(s"[dedupClusters] $n star rows > finish threshold " +
      s"$finishRows: recursing on the label quotient (depth $quotientDepth)")
    val labRoots = clusterEdges(spark, labEdges, finishRows, maxIters, quotientDepth - 1)
      .select(col("doc_id").as("lab"), col("cluster").as("root"))
    // map each node through its labels' component roots; labels outside the
    // quotient (their component has a single label) root to themselves
    starFrame.join(labRoots, col("dst") === col("lab"), "left")
      .groupBy(col("src").as("doc_id"))
      .agg(min(coalesce(col("root"), col("dst"))).as("cluster"))
  }

  /** A DataFrame of non-null bigint columns `a`, `b` over an RDD of id pairs. */
  private def idPairs(spark: org.apache.spark.sql.SparkSession, rdd: RDD[(Long, Long)],
                      a: String, b: String): DataFrame =
    GraftRowsBridge.frame(spark, rdd.map { case (x, y) => InternalRow(x, y) },
      StructType(Seq(StructField(a, LongType, nullable = false), StructField(b, LongType, nullable = false))))

  /** Partition-local union-find: one (node, min-id-of-local-component) star
    * edge per node of each partition. Union by rank + path halving; the set
    * minimum rides separately so the emitted root is always the smallest id
    * the LOCAL component has seen (global min is resolved by the caller's
    * finish/propagate stage). Memory per task is O(distinct nodes in the
    * partition) — the same order as a grouping aggregate over the edges.
    */
  private def contractEdges(edges: RDD[(Long, Long)]): RDD[(Long, Long)] =
    edges.mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      val rank = new java.util.HashMap[Long, Int]()
      val minOf = new java.util.HashMap[Long, Long]()
      def add(x: Long): Unit =
        if (!parent.containsKey(x)) { parent.put(x, x); rank.put(x, 0); minOf.put(x, x) }
      def find(x0: Long): Long = {
        var x = x0
        while (parent.get(x) != x) {
          parent.put(x, parent.get(parent.get(x))) // path halving
          x = parent.get(x)
        }
        x
      }
      it.foreach { case (a, b) =>
        add(a); add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          val (hi, lo) = if (rank.get(ra) < rank.get(rb)) (rb, ra) else (ra, rb)
          parent.put(lo, hi)
          if (rank.get(hi) == rank.get(lo)) rank.put(hi, rank.get(hi) + 1)
          minOf.put(hi, math.min(minOf.get(ra), minOf.get(rb)))
        }
      }
      import scala.jdk.CollectionConverters._
      parent.keySet().iterator().asScala.map(v => (v, minOf.get(find(v))))
    }

  /** Distributed fallback for components too large for the single-task
    * finish: hop-batched min-label propagation to fixpoint over (already
    * contracted) star edges. Each hop every node takes the min of its own
    * and its neighbours' labels — narrow (id, label) shuffles only. Hops per
    * materialized round double 2 → 4 and cap at 4: per-round cost has a
    * fixed floor (one localCheckpoint job + one scalar-count job), so
    * batching amortizes it, while the cap keeps the final confirmation
    * round (which always observes zero changes) from burning a long
    * speculative chain past the fixpoint. Convergence is a changed-label
    * count piggybacked on the round's final hop (labels only decrease, so
    * `cluster < self` marks exactly the changed rows); only that scalar
    * reaches the driver.
    */
  private def propagateMinLabel(starEdges: DataFrame, maxIters: Int): DataFrame = {
    // Symmetrize via explode, not union-of-two-selects: a union would read
    // (and for a lazy input, re-execute) its input twice; the explode emits
    // both directions in one pass.
    val Seq(edges) = Par.materialize(starEdges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    var labels = Par.materialize(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))).head
    def hop(l: DataFrame): DataFrame =
      l.join(edges, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id"), col("cluster"))
        .unionByName(l.select("doc_id", "cluster"))
        .groupBy("doc_id").agg(min("cluster").as("cluster"))
    def hopTagged(l: DataFrame): DataFrame =
      l.join(edges, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id"), col("cluster"),
          lit(null).cast(l.schema("cluster").dataType).as("self"))
        .unionByName(l.select(col("doc_id"), col("cluster"), col("cluster").as("self")))
        .groupBy("doc_id").agg(min("cluster").as("cluster"), min("self").as("self"))
    var converged = labels.isEmpty
    var it = 0
    var hops = 2
    val t0 = System.nanoTime()
    while (!converged && it < maxIters) {
      val stepped = (1 until hops).foldLeft(labels)((l, _) => hop(l))
      val Seq(prop) = Par.materialize(hopTagged(stepped))
      val changed = prop.agg(count(when(col("cluster") < col("self"), 1)))
        .head.getLong(0)
      converged = changed == 0L
      System.err.println(f"[dedupClusters] propagation round ${it + 1}: $hops hops, " +
        f"$changed changed (t+${(System.nanoTime() - t0) / 1e9}%.1f s)")
      labels = prop.select("doc_id", "cluster")
      hops = math.min(hops * 2, 4)
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxIters rounds; " +
          "raise maxIters (component diameter exceeds total hop budget)")
    labels
  }

  /** X2 variant: 32-bit SimHash per document. Bit j of the signature is the
    * sign of sum over tokens of (+1 if bit j of token-hash set, else -1).
    * One explode + one aggregation — linear, no joins.
    */
  /** SimHash near-dup pairs: band the 32-bit signature into four 8-bit keys;
    * by pigeonhole, any pair within Hamming distance 3 shares at least one
    * identical band, so the banded equi-join finds ALL such pairs (exact
    * recall at maxHamming <= 3, not approximate) and only candidates pay the
    * popcount verify. Same narrow-candidates architecture as MinHash LSH —
    * the join moves (doc_id, band, key) plus one long; no token data.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // Explicit repartition BEFORE the checkpoint (same rule as
    // minhashLshPairs): AQE coalesces the tiny-by-bytes signature aggregate
    // to ONE partition, and every downstream stage — the banded self-join,
    // the quadratic hot-bucket pair generation, the popcount verify —
    // inherits that serialization (measured as one 2.3 s single-task stage
    // per pass, the bulk of the row's cost).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val Seq(sigs) = Par.materialize(simhash(docs, idCol, textCol)
      .repartition(par, col("doc_id")))
    val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr("(simhash >> (band * 8)) & 255"))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
      .distinct() // a pair may collide in more than one band
    cands.withColumn("hamming", expr("cast(bit_count(sig_a ^ sig_b) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(docs, idCol, textCol).withColumn("h", tokenHash)
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val agged = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.select(col("doc_id"), sig.as("simhash"))
  }
}
