package graft.operators.ext

import graft.operators.Par
import graft.functions.ArrayOps.wordNgrams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators over the documents table: token statistics,
  * quality scoring, token counting (whitespace + BPE-ish regex), language ID,
  * and document fingerprinting. All built-ins (codegen'd) — no UDFs in the
  * hot path.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private def toks(textCol: String) = s"array_remove(split($textCol, ' '), '')"

  /** Curation quality-keep predicate — the [[qualityScore]] thresholds the
    * curation pipelines filter on (≥ `minChars` chars, at least one
    * stopword), as ONE engine-side definition shared by the batch
    * (x9_curation_e2e) and streaming (Streaming.curateDocs) paths so the
    * two cannot drift; the DuckDB twin is Queries.duckQualityPred. The
    * stopword test is a set overlap, which whole-stage codegen compiles
    * into the scan's stage.
    */
  def qualityKeepPred(textCol: String, minChars: Int = 120): org.apache.spark.sql.Column =
    length(col(textCol)) >= minChars &&
      arrays_overlap(split(col(textCol), " "), array(stopwords.map(lit): _*))

  /** Corpus token frequencies: explode → count. Partial aggregation makes the
    * shuffle carry one row per (partition, token) — safe at any corpus size.
    */
  def tokenStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(toks(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))

  /** Per-document quality features: token counts (whitespace and a BPE-ish
    * `[a-z]+|[0-9]+` segmentation), character length, stopword count and
    * ratio. Ratio is DECIMAL(10,4) so both engines round identically.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars"),
      expr(s"size(${toks(textCol)})").as("n_tokens"),
      expr(s"size(regexp_extract_all($textCol, '[a-z]+|[0-9]+', 0))").as("n_bpe_tokens"),
      expr(s"size(filter(${toks(textCol)}, x -> array_contains(array(${stopwords.map("'" + _ + "'").mkString(",")}), x)))")
        .as("n_stop"))
    .withColumn("stop_ratio",
      // explicit zero guard: an empty/whitespace-only doc gets NULL on every
      // engine by construction (non-ANSI divide-by-zero semantics differ)
      when(col("n_tokens") === 0, lit(null))
        .otherwise((col("n_stop").cast("double") / col("n_tokens")).cast(DecimalType(10, 4))))

  /** Simple marker-based language ID (the oracle-checkable form): presence of
    * an English stopword bigram. The richer char-n-gram profile scorer is
    * [[langIdNgram]] (tested in ScalaTest; profiles aren't SQL-portable).
    */
  def langIdSimple(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      when(col(textCol).contains("the "), lit("en")).otherwise(lit("und")).as("pred_lang"))

  /** Char-n-gram language scorer: score(lang) = Σ weight of profile trigrams
    * present in the text; argmax wins. Profiles are tiny literal maps — the
    * scoring is a codegen'd expression chain, no UDF, no shuffle.
    */
  def langIdNgram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "he ", "ing", " th", "and"),
      "de" -> Seq("der", "ein", "sch", "ich", "und"),
      "es" -> Seq("de ", "la ", "os ", "ión", "que"),
      "fr" -> Seq("le ", "les", "des", "ent", "que"),
      "zh" -> Seq("zh_", "shi", "de_", "wo ", "ni "))
    val scores = profiles.map { case (lang, grams) =>
      lang -> grams.map(g => when(col(textCol).contains(g), 1).otherwise(0)).reduce(_ + _)
    }
    val best = scores.toSeq.sortBy(_._1).map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    docs.select(col(idCol).as("doc_id"),
      greatest(best: _*).getField("l").as("pred_lang"))
  }

  /** Word-bigram frequency top-k per language — the corpus-analytics shape
    * (n-gram explode → partial-aggregated count → top-k per group). Bigrams
    * are built 1-indexed via element_at so the construction mirrors SQL list
    * indexing exactly; docs with fewer than 2 tokens contribute nothing.
    * One shuffle on (lang, bigram) with map-side combine, one on lang for
    * the rank — nothing here grows faster than the distinct-bigram count.
    */
  def topBigramsPerLang(docs: DataFrame, langCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bigram multiset via the native word_ngrams Generator (lazy rows, no
    // interpreted HOF lambdas, no per-document window array) — counts keep
    // duplicate occurrences, so no distinct here
    docs.select(col(langCol).as("lang"), wordNgrams(col(textCol), 2))
      .select(col("lang"), col("ngram").as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram"))))
      .filter(col("rk") <= k)
  }

  /** X3: vocabulary-coverage scoring — the OOV-rate quality signal (a
    * document whose tokens rarely appear in the corpus vocabulary is
    * gibberish, OCR noise, or the wrong language). The vocabulary is the
    * top-`vocabSize` corpus tokens by (frequency desc, token) — derived
    * deterministically from the corpus itself, no external file — and
    * broadcasts to the scoring scan; emitted counts are exact integers so
    * any engine agrees bit-for-bit.
    *
    * 100 TB shape: vocabulary construction is the token-frequency aggregate
    * (map-side combined, shuffle bounded by distinct tokens) + a top-k rank;
    * scoring is one map-side broadcast join over the exploded tokens and a
    * partial-aggregated per-doc count — the corpus never shuffles for the
    * vocabulary.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    // top-k via orderBy+limit = TakeOrderedAndProject (per-partition heaps,
    // no single-partition global window) — the total order (cnt desc, token)
    // makes the selected vocabulary deterministic
    val vocab = docs.select(explode(expr(toks(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .select("token")
    docs.select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("token"))
      .join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
  }

  /** X3: n-gram language-model quality scoring — the CCNet/KenLM idea (score
    * documents by how surprising their text is under a model built from a
    * trusted reference corpus; fluent text scores low, gibberish and OCR
    * noise score high), made engine-portable by replacing float log-probs
    * with an INTEGER surprise: for each document bigram (w1 w2),
    *
    *   ratio    = (c_ref(w1) + V) div (c_ref(w1 w2) + 1)   — add-one smoothing
    *   surprise = floor(log2(ratio)) = bitlength(ratio) - 1
    *
    * i.e. the integer bit-length of the inverse smoothed conditional
    * P(w2 | w1). Per document we emit the bigram count and the surprise sum
    * (sum/count = mean bits-per-bigram ≈ log2-perplexity). Everything is
    * exact integer arithmetic, so any engine agrees bit-for-bit.
    *
    * 100 TB shape: the model is two aggregates over the REFERENCE corpus
    * (bigram counts, unigram counts — map-side combined, shuffle bounded by
    * distinct n-grams); scoring joins the exploded document bigrams to the
    * model shuffle-hash on the n-gram key — the model can be corpus-sized,
    * so it is NEVER broadcast; only the single-row vocabulary count crosses
    * as a broadcast scalar. Docs with < 2 tokens surface with zero counts
    * rather than vanishing.
    */
  def lmSurprise(docs: DataFrame, ref: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cb = ref.select(wordNgrams(col(textCol), 2))
      .groupBy(col("ngram").as("bigram")).agg(count(lit(1)).as("cb"))
    val cu = ref.select(explode(expr(toks(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val vsize = cu.agg(count(lit(1)).as("vsize")) // one row: |V| of the reference
    val db = graft.operators.Par.widen(docs).select(col(idCol).as("doc_id"), wordNgrams(col(textCol), 2))
      .select(col("doc_id"), col("ngram").as("bigram"),
        expr("split(ngram, ' ')[0]").as("w1"))
    val scored = db
      .join(cb.hint("shuffle_hash"), Seq("bigram"), "left")
      .join(cu.hint("shuffle_hash"), Seq("w1"), "left")
      .crossJoin(broadcast(vsize))
      .withColumn("ratio",
        expr("(coalesce(cu, 0L) + vsize) div (coalesce(cb, 0L) + 1)"))
      .withColumn("surprise", (length(bin(col("ratio"))) - 1).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"), sum(col("surprise")).as("surprise_sum"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("surprise_sum"), lit(0L)).as("surprise_sum"))
  }

  /** Exact document fingerprint: md5 (portable across engines). */
  def fingerprintMd5(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("fp"))

  /** Rolling polynomial fingerprint over tokens (Rabin-Karp-shaped): an
    * ordered fold hash = hash*31 + tokenHash (mod 2^61-1). Order-sensitive —
    * distinguishes permuted documents, unlike set-based Jaccard.
    */
  def rollingFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      // mod after the multiply keeps acc*31 + h < 2^35 — no long overflow
      expr(s"aggregate(${toks(textCol)}, cast(7 as bigint), " +
        "(acc, t) -> ((acc * 31) % 1000000007 + cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)) % 1000000007)")
        .as("fp"))

  /** TF-IDF with an INTEGER-quantized idf: idf(term) = floor(log2(N/df)),
    * computed as length(bin(N div df)) - 1 — no floating-point log anywhere,
    * so the score (tf × idf) is bit-identical in any engine (cross-libm
    * log() is not, which is why the classic formula can't be oracle-checked
    * exactly). Terms present in every document quantize to idf 0 — the
    * stopword-suppression behaviour tf-idf exists for.
    *
    * Shape: tf = one (doc, term) aggregate; df = one term aggregate over the
    * tf frame (already deduplicated per doc — no second corpus scan); N is a
    * 1-row broadcast. Partial aggregation bounds every shuffle by distinct
    * (doc, term) / term counts — safe at corpus scale; top-k per doc is one
    * key-partitioned window.
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("idf", expr("length(bin(n div df)) - 1").cast("long"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rk"))
  }

  /** X3: BM25 retrieval — rank the corpus against a (small) query set with
    * the Okapi BM25 weighting, the lexical leg every modern retrieval stack
    * still runs next to its dense index. Per (query, doc):
    *
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * made integer-exact so the ranking hash-checks in any engine (classic
    * float BM25 cannot): idf quantizes to floor(log2(N/df)) via
    * `length(bin(N div df)) − 1` (the [[tfIdfTopK]] trick — no libm), and
    * with k1 = 1.2, b = 0.75 and avgdl = T/N the tf-saturation term clears
    * to the exact rational 22·tf·T / (10·tf·T + 3·T + 9·dl·N), so each
    * per-term contribution is the integer floor division
    *
    *   score_milli = (22000 · idf · tf · T) div (10·tf·T + 3·T + 9·dl·N)
    *
    * (milli-scaled before the floor so saturation granularity survives).
    * Numerator products run in DECIMAL(38,0) — with T up to 10^14 corpus
    * tokens the headroom holds; the quotient is a small BIGINT.
    *
    * `excludeSelf` drops doc_id = query_id pairs (for query sets derived
    * from corpus documents, where self-retrieval is a tautology — the
    * hybrid-fusion path needs the lexical leg to match the dense leg's
    * self-exclusion).
    *
    * 100 TB shape: the query term set is broadcast and filters the exploded
    * corpus BEFORE the (doc, term) aggregation, so the only corpus-scale
    * shuffles carry query-term postings (tiny fraction of the corpus) and
    * the per-doc length frame (two narrow longs, shuffle-hash join). df for
    * the surviving terms is computed from the filtered postings — term
    * filtering cannot change a term's own document frequency — and N, T are
    * a 1-row broadcast. No full-vocabulary aggregate exists anywhere.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qIdCol: String, qTextCol: String, k: Int,
               excludeSelf: Boolean = false): DataFrame = {
    val qt = queryTerms(queries, qIdCol, qTextCol)
    val tf = lexicalPostings(docs, idCol, textCol)
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
    bm25Rank(tf, docLengths(docs, idCol, textCol), qt, k, excludeSelf)
  }

  /** Distinct (query_id, term) pairs of a query set — the broadcast-sized
    * frame both BM25 paths filter the corpus with.
    */
  private def queryTerms(queries: DataFrame, qIdCol: String, qTextCol: String): DataFrame =
    queries
      .select(col(qIdCol).as("query_id"), explode(expr(toks(qTextCol))).as("term"))
      .distinct()

  /** The shared BM25 tail: `tf` = query-term postings (term, doc_id, tf)
    * however obtained (corpus scan or persisted index); df, scoring, and
    * per-query ranking are identical on both paths BY CONSTRUCTION — one
    * definition, so index-path and batch-path rankings cannot drift.
    *
    * df is a WINDOW over tf, not a groupBy + self-join: tf is already one
    * (doc, term) row per posting, so counting rows per term over it IS the
    * document frequency, and the window formulation materializes tf once —
    * a separate df aggregate would either broadcast (recomputing the whole
    * tf subtree to build the broadcast: a second corpus scan) or
    * shuffle-join (a branch column pruning keeps from ever unifying with
    * tf's own exchange). One term-keyed shuffle, no second corpus pass.
    */
  private def bm25Rank(tf: DataFrame, dl: DataFrame, qt: DataFrame, k: Int,
                       excludeSelf: Boolean): DataFrame = {
    val totals = dl.agg(count(lit(1)).as("n"), sum("dl").as("t"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(broadcast(qt), Seq("term"))
      .join(dl.hint("shuffle_hash"), Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("s", expr(
        "cast(cast(22000 as decimal(38,0)) * (length(bin(n div df)) - 1) * tf * t" +
          " div (cast(10 as decimal(38,0)) * tf * t + cast(3 as decimal(38,0)) * t" +
          " + cast(9 as decimal(38,0)) * dl * n) as bigint)"))
    val pairs = if (excludeSelf) scored.filter(col("query_id") =!= col("doc_id")) else scored
    pairs.groupBy("query_id", "doc_id").agg(sum("s").as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= k)
  }

  /** (term, doc_id, tf) postings — the rows a persisted inverted index
    * stores; one explode + one (doc, term) aggregate, partial-agg safe.
    */
  def lexicalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Par.widen(docs)
      .select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, dl) token lengths for EVERY document, including empty ones —
    * the doc registry of the lexical index: N and T come from here, and
    * excluding zero-length docs would silently shift every BM25 denominator
    * vs the batch path.
    */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      expr(s"size(${toks(textCol)})").cast("long").as("dl"))

  /** Build the PERSISTED lexical index: postings bucketed by term (probe
    * filters prune whole buckets on the query-term set) and lengths bucketed
    * by doc_id, two sibling tables under `root`. The [[appendPqIndex]]
    * pattern applied to the lexical side — at 100 TB BM25 cannot re-scan the
    * corpus per query batch; this is the standing structure it probes.
    */
  def buildLexicalIndex(postingsTable: String, lengthsTable: String,
                        docs: DataFrame, idCol: String, textCol: String,
                        buckets: Int, root: String): Unit = {
    lexicalPostings(docs, idCol, textCol)
      .write.format("parquet").bucketBy(buckets, "term").sortBy("term")
      .option("path", s"$root/postings").saveAsTable(postingsTable)
    docLengths(docs, idCol, textCol)
      .write.format("parquet").bucketBy(buckets, "doc_id").sortBy("doc_id")
      .option("path", s"$root/lengths").saveAsTable(lengthsTable)
  }

  /** Index MAINTENANCE for the lexical side: merge a batch into both index
    * tables under their standing bucket specs. Each table anti-joins ITS OWN
    * indexed doc_ids, so the two appends are INDEPENDENTLY idempotent — a
    * replay after a crash between the writes completes exactly the missing
    * half instead of duplicating the finished one. Statistics (df, N, T)
    * need no maintenance: both are derived at probe time from the tables
    * themselves, so an append automatically shifts every future score.
    */
  def appendLexicalIndex(postingsTable: String, lengthsTable: String,
                         batch: DataFrame, idCol: String, textCol: String,
                         buckets: Int): Unit = {
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    // two independent appendIdempotent contracts — each table anti-joins
    // ITS OWN ids, so a crash between the writes replays into exactly the
    // missing half (torn-state test in TextMultimodalSpec)
    graft.io.BucketedIndex.appendIdempotent(postingsTable, b, "doc_id",
      buckets, "term")(fresh => lexicalPostings(fresh, "doc_id", "__text"))
    graft.io.BucketedIndex.appendIdempotent(lengthsTable, b, "doc_id",
      buckets, "doc_id")(fresh => docLengths(fresh, "doc_id", "__text"))
  }

  /** BM25 against the PERSISTED index ([[buildLexicalIndex]] layout): the
    * query vocabulary is collected (a driver action BOUNDED by the query
    * batch's distinct terms — the index contract assumes query sets are
    * small; corpora are not) and pushed into the postings scan as an IN
    * literal, which is what makes the table an INDEX rather than a copy of
    * the corpus: the literal prunes whole buckets (SelectedBucketsCount,
    * plan-asserted in the spec) and, through the per-bucket term sort,
    * parquet row groups — the scan reads ~query-term posting mass, never
    * corpus mass. (A broadcast-join filter CANNOT do this: join pruning is
    * row-level, after every bucket is already read — measured 2–5× slower
    * than a fresh scan at sf0.1, i.e. no index at all.) Lengths join by
    * doc_id; the [[bm25Rank]] tail is shared verbatim with the batch path,
    * so probing after any number of appends ranks exactly as a fresh corpus
    * scan would (oracle-proven by the registry row).
    */
  def bm25IndexTopK(spark: org.apache.spark.sql.SparkSession,
                    postingsTable: String, lengthsTable: String,
                    queries: DataFrame, qIdCol: String, qTextCol: String,
                    k: Int, excludeSelf: Boolean = false): DataFrame = {
    val qt = queryTerms(queries, qIdCol, qTextCol)
    val termLits = qt.select("term").distinct().collect().map(_.getString(0)).toSeq
    val tf = spark.table(postingsTable).filter(col("term").isin(termLits: _*))
    bm25Rank(tf, spark.table(lengthsTable), qt, k, excludeSelf)
  }

  /** X3: PPMI collocation extraction — rank adjacent word pairs by positive
    * pointwise mutual information, PPMI(a,b) = max(0, log2(N·c(a,b) /
    * (c(a)·c(b)))) — the classic collocation statistic (Church & Hanks):
    * high-count pairs of individually-rare words ("new york") surface,
    * pairs that co-occur only as often as chance predicts score 0. The log2
    * quantizes to bit-length of the integer ratio (the [[tfIdfTopK]] trick)
    * with the < 1 ratio floored to 0 (the "positive" in PPMI), so the whole
    * ranking is integer-exact cross-engine — float PMI is not. `minCount`
    * is the standard support floor (PMI is unstable on singletons).
    *
    * 100 TB shape: unigram and bigram counts partial-aggregate (bounded by
    * vocabulary and bigram-vocabulary); the two count joins are
    * shuffle-hash on single word keys (the unigram table is corpus-derived
    * — never broadcast); N is a 1-row broadcast; top-k is one
    * TakeOrderedAndProject.
    */
  def ppmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
                       k: Int): DataFrame = {
    val ws = toks(textCol)
    // same cut for the unigram model: referenced by BOTH join sides below,
    // so uncut it would re-explode the corpus once per side
    val Seq(uni) = Par.materialize(docs.select(explode(expr(ws)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    // bigram multiset via the native word_ngrams Generator (lazy rows, no
    // per-token interpreted named_struct lambda, no intermediate window
    // array); the two halves split back out with codegen'd substring_index
    // (tokens are space-split, so the single interior space is unambiguous).
    // Checkpointed once: the bigram-count aggregate (bounded by DISTINCT
    // bigrams, not corpus mass) feeds both the grand total and the scored
    // pair table — without the cut, the corpus-wide bigram pass runs TWICE,
    // once under each consumer.
    val Seq(bg) = Par.materialize(docs.select(wordNgrams(col(textCol), 2))
      .select(substring_index(col("ngram"), " ", 1).as("a"),
        substring_index(col("ngram"), " ", -1).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab")))
    val n = bg.agg(sum("cab").as("n"))
    bg.filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c").as("ca")).hint("shuffle_hash"), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("cb")).hint("shuffle_hash"), Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("ppmi", expr(
        "case when (n * cab) div (ca * cb) >= 1 " +
          "then length(bin((n * cab) div (ca * cb))) - 1 else 0 end").cast("long"))
      // top-k via the TakeOrderedAndProject heap (no global sort, no
      // single-partition window over the full pair set); rk is then a
      // window over only the k survivors
      .orderBy(col("ppmi").desc, col("cab").desc, col("a"), col("b")).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(
        col("ppmi").desc, col("cab").desc, col("a"), col("b"))))
      .select("a", "b", "cab", "ppmi", "rk")
  }

  /** X6: DSIR-style importance SELECTION — the hashed-n-gram importance
    * weighting of "Data Selection for Language Models via Importance
    * Resampling" (Xie et al. 2023), in its deterministic top-k form: score
    * every document by how much more likely its tokens are under a TARGET
    * (trusted) corpus model than under the background corpus model, then
    * keep the k highest-weight documents. Both models are bag-of-hashed-
    * unigram counts over a FIXED bucket space, so model size is bounded by
    * `buckets` — independent of corpus size, which is the trick that makes
    * the method run at 100 TB.
    *
    * Integer-exact log-weight per bucket (the lmSurprise discipline —
    * bit-lengths of inverse add-one-smoothed probabilities, no float log):
    *
    *   surprise_side(b) = bitlen((total_side + buckets) div (c_side(b) + 1))
    *   lw(b)            = surprise_background(b) - surprise_target(b)
    *
    * i.e. lw ≈ log2(p_target(b) / p_background(b)), positive for buckets
    * over-represented in the target. A document's weight is the sum of lw
    * over its token OCCURRENCES (the paper's log importance weight of the
    * bag-of-ngrams likelihood ratio). Deterministic selection (weight desc,
    * id asc) replaces the paper's Gumbel resampling so the output replays
    * bit-for-bit; token-less documents score 0 rather than vanishing.
    *
    * 100 TB shape: both models are `buckets`-row aggregates (partial-agg
    * bounded by the bucket space) and BROADCAST — legitimately, because
    * their size is a constant of the operator, not of the data; scoring is
    * one map-side explode + broadcast join + one doc-key aggregate; the
    * selection is a TakeOrderedAndProject heap, never a global sort.
    */
  def dsirSelect(docs: DataFrame, target: DataFrame, idCol: String, textCol: String,
                 k: Int, buckets: Int = 1024): DataFrame = {
    def hashed(df: DataFrame): DataFrame =
      df.select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("tok"))
        .withColumn("bucket",
          expr(s"cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % $buckets"))
        .select("doc_id", "bucket")
    val tToks = hashed(target)
    val bToks = hashed(docs)
    val tModel = tToks.groupBy("bucket").agg(count(lit(1)).as("ct"))
    val bModel = bToks.groupBy("bucket").agg(count(lit(1)).as("cb"))
    val tTot = tModel.agg(sum("ct").as("t_tot"))
    val bTot = bModel.agg(sum("cb").as("b_tot"))
    // background model covers every bucket a corpus token hashes to, so it
    // is the bucket domain; target-absent buckets smooth to ct = 0
    val lw = bModel
      .join(tModel, Seq("bucket"), "left")
      .crossJoin(tTot).crossJoin(bTot)
      .withColumn("lw",
        ((length(bin(expr(s"(b_tot + $buckets) div (cb + 1)"))) - 1) -
          (length(bin(expr(s"(t_tot + $buckets) div (coalesce(ct, 0L) + 1)"))) - 1)).cast("long"))
      .select("bucket", "lw")
    val weights = bToks
      .join(broadcast(lw), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("lw")).as("weight"))
    docs.select(col(idCol).as("doc_id"))
      .join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("weight"), lit(0L)).as("weight"))
      .orderBy(col("weight").desc, col("doc_id")).limit(k)
  }

  /** X6: trained QUALITY-CLASSIFIER inference — the fastText-style linear
    * classifier over hashed n-gram features (Joulin et al. 2016) that every
    * production curation pipeline (CCNet, RefinedWeb, FineWeb) runs as its
    * MODEL-BASED quality filter, beside the heuristic ([[qualityScore]])
    * and LM-perplexity ([[lmSurpriseScore]]) filters. Training and
    * inference are both deterministic and integer-exact, so the whole
    * model replays bit-for-bit in any engine:
    *
    *  - FEATURES: word unigrams + word bigrams (fastText's wordNgrams=2
    *    signature), hashed into a FIXED `buckets` space (md5-head mod B —
    *    the engine's portable hash; fastText's hashing trick). Occurrence-
    *    weighted, not distinct: repeated phrases are repeated evidence.
    *  - TRAINING (Naive-Bayes log-odds — the closed-form deterministic
    *    stand-in for fastText's SGD, same decision family): per bucket,
    *    w(b) = surprise_neg(b) − surprise_pos(b) where surprise_side(b) =
    *    bitlen((T_side + B) div (c_side(b) + 1)) — the add-one-smoothed
    *    integer log2 discipline shared with [[dsirSelect]]/[[lmSurpriseScore]].
    *    Positive weight ⇔ the bucket is over-represented in the TRUSTED
    *    corpus.
    *  - INFERENCE: score(doc) = Σ over feature occurrences of w(bucket);
    *    keep ⇔ score > 0 (the sign rule). Feature-less documents score 0
    *    and are dropped, loudly visible as n_feat = 0.
    *
    * 100 TB shape: the model is a ≤`buckets`-row aggregate of each labeled
    * corpus (partial-agg bounded by the bucket space) and BROADCASTS
    * legitimately — its size is a constant of the operator, not the data;
    * inference is one map-side feature explode + broadcast join + per-doc
    * aggregate. Nothing shuffles wider than (doc, bucket).
    */
  def qualityClassifier(docs: DataFrame, positives: DataFrame, negatives: DataFrame,
                        idCol: String, textCol: String, buckets: Int = 2048): DataFrame = {
    def feats(df0: DataFrame): DataFrame = {
      // NOT widened: feats is instantiated three times (docs/positives/
      // negatives) and each widened leg is a distinct filter->RoundRobin
      // subtree — six extra exchange stages whose cold planning/codegen
      // cost exceeded the map-side parallelism it bought (bench cold pass
      // 2.8 s unwidened vs 5.2 s widened; the warm pass differs < 1 s)
      val df = df0
      val uni = df.select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("f"))
      val big = df.select(col(idCol).as("doc_id"), wordNgrams(col(textCol), 2))
        .select(col("doc_id"), col("ngram").as("f"))
      uni.unionByName(big)
        .withColumn("bucket",
          expr(s"cast(conv(substring(md5(f), 1, 8), 16, 10) as bigint) % $buckets"))
        .select("doc_id", "bucket")
    }
    def bitlen(c: org.apache.spark.sql.Column) = length(bin(c)) - lit(1)
    val pc = feats(positives).groupBy("bucket").agg(count(lit(1)).as("cp"))
    val nc = feats(negatives).groupBy("bucket").agg(count(lit(1)).as("cn"))
    val pt = pc.agg(sum("cp").as("pt"))
    val nt = nc.agg(sum("cn").as("nt"))
    val w = pc.join(nc, Seq("bucket"), "full")
      .crossJoin(broadcast(pt)).crossJoin(broadcast(nt))
      .withColumn("w",
        (bitlen(expr(s"(nt + $buckets) div (coalesce(cn, 0L) + 1)")) -
          bitlen(expr(s"(pt + $buckets) div (coalesce(cp, 0L) + 1)"))).cast("long"))
      .select("bucket", "w")
    val scored = feats(docs)
      .join(broadcast(w), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feat"), sum(coalesce(col("w"), lit(0L))).as("score"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** X3: BPE MERGE LEARNING — the byte-pair-encoding training loop
    * (Sennrich et al. 2016) run as corpus aggregates: per round, count
    * adjacent symbol pairs across the corpus (weighted by word frequency),
    * merge the most frequent pair everywhere, repeat. Emits one row per
    * learned merge — (round, lhs, rhs, pair_count, corpus_tokens_after) —
    * the merge TABLE a tokenizer ships; corpus_tokens_after recounts after
    * each application, so the compression trajectory is exact (pair_count
    * can exceed applied merges under self-overlap like "a a a").
    *
    * Determinism: the argmax is total ((count desc, lhs, rhs)); merges
    * apply via LITERAL string replace on sentinel-delimited symbol
    * sequences with a DOUBLE sentinel (U+001F U+001F — disjoint from the
    * corpus alphabet) at every symbol boundary, including both word ends.
    * The replace pattern `␟a␟␟b␟` consumes only the INNER half of each
    * flanking boundary, so a match leaves one sentinel behind for its
    * neighbor and two adjacent occurrences ("x y x y" with merge (x,y),
    * or "a a a a" with merge (a,a)) BOTH match in one leftmost-non-
    * overlapping scan — which makes a single replace() exactly canonical
    * single-pass greedy BPE application (a single-sentinel encoding would
    * consume the shared boundary and silently skip every other adjacent
    * site). Symbols never contain the sentinel and boundaries are exactly
    * two sentinels, so the half-consumed pattern can never match inside a
    * longer symbol. No regex, so learned symbols can never be misread as
    * patterns; patterns are built with lit() (never interpolated into SQL
    * text), so quotes/backslashes in corpus tokens are inert data.
    *
    * 100 TB shape: the state is the word-frequency table (bounded by
    * VOCABULARY, not corpus — the standard BPE-training reduction), built
    * by one corpus aggregate; each round is one vocab-bounded pair
    * aggregate + a 1-row argmax (bounded driver probe, `rounds` of them —
    * the probes ARE the model) + one map-side replace over the vocab.
    * Rounds are localCheckpoint-cut so round k's plan does not replay
    * rounds 1..k-1.
    */
  def bpeLearn(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1, 16] (oracle unrolls)")
    val spark = docs.sparkSession
    val sep = "\u001f"
    val sep2 = sep + sep
    var vocab = Par.materialize(Par.widen(docs).select(explode(expr(toks(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("seq", expr(
        s"concat('$sep2', array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '$sep2'), '$sep2')"))).head
    val merges = (1 to rounds).map { r =>
      val top = vocab
        .select(col("freq"), expr(s"filter(split(seq, '$sep'), x -> x != '')").as("ts"))
        .select(col("freq"), explode(expr(
          "case when size(ts) < 2 then array() else transform(sequence(1, size(ts) - 1), " +
            "i -> named_struct('a', element_at(ts, i), 'b', element_at(ts, i + 1))) end")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).head()
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      vocab = Par.materialize(vocab.withColumn("seq",
          replace(col("seq"), lit(s"$sep$a$sep2$b$sep"), lit(s"$sep$a$b$sep")))).head
      val total = vocab
        .select((col("freq") * expr(s"size(filter(split(seq, '$sep'), x -> x != ''))")).as("t"))
        .agg(sum("t")).head().getLong(0)
      (r, a, b, n, total)
    }
    import spark.implicits._
    merges.toDF("merge_round", "lhs", "rhs", "pair_count", "corpus_tokens_after")
      .select(col("merge_round"), col("lhs"), col("rhs"),
        col("pair_count").cast("long"), col("corpus_tokens_after").cast("long"))
  }

  /** X3: BPE tokenizer APPLICATION — the serving side of [[bpeLearn]]:
    * apply a learned merge table to every document word (same sentinel-
    * delimited literal replaces, in merge order — BPE application is
    * order-sensitive by definition) and report per-document whitespace vs
    * BPE token counts, the statistic a token-budgeted pipeline bills by.
    * The merge chain folds into ONE map-side expression per word — no
    * join against the merge table, because the merges are the MODEL
    * (bounded by rounds, compiled into the plan), not data. Token-less
    * documents surface with zero counts.
    */
  def bpeApplyCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val sep = "\u001f"
    val sep2 = sep + sep
    val seq0 = expr(
      s"concat('$sep2', array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '$sep2'), '$sep2')")
    // fold the merge chain with lit() patterns — corpus symbols are data,
    // never SQL text, so quotes/backslashes in tokens cannot break the plan
    val applied = merges.foldLeft(seq0) { case (acc, (a, b)) =>
      replace(acc, lit(s"$sep$a$sep2$b$sep"), lit(s"$sep$a$b$sep"))
    }
    val counts = graft.operators.Par.widen(docs)
      .select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("w"))
      .select(col("doc_id"),
        size(filter(split(applied, sep), x => x.notEqual(""))).as("n"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_bpe"))
    docs.select(col(idCol).as("doc_id")).join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
  }

  /** Document chunking for training/RAG pipelines: split each document into
    * token windows of `size` with `stride` (overlapping when stride < size).
    * Chunk starts are 1-indexed positions 1, 1+stride, 1+2·stride, ... and a
    * window is emitted while it still contains at least one token (the final
    * partial window is kept — truncation policy documented, not silent).
    * Built entirely from sequence/transform/explode — no UDF, map-side only:
    * chunking never shuffles; it widens a scan by the overlap factor.
    */
  def chunkSplit(docs: DataFrame, idCol: String, textCol: String,
                 size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size > 0, "size and stride must be positive")
    docs
      .select(col(idCol).as("doc_id"), expr(toks(textCol)).as("ws"))
      .filter(expr("size(ws) > 0"))
      .select(col("doc_id"), expr("size(ws)").as("n_tok"),
        posexplode(expr(
          s"transform(sequence(1, size(ws), $stride), st -> concat_ws(' ', slice(ws, st, $size)))")))
      .select(col("doc_id"), (col("pos") * stride + 1).cast("long").as("start_tok"),
        col("col").as("chunk"),
        least(lit(size), col("n_tok") - (col("pos") * stride + 1) + 1).cast("long").as("chunk_tokens"))
  }

  /** Intra-document repetition signals (the Gopher-style quality rules
    * "fraction of distinct words" and "fraction of the most common word"),
    * emitted as exact integers so any engine agrees bit-for-bit: total
    * tokens, distinct tokens, and the count of the single most frequent
    * token. A low distinct fraction or a high top-token fraction marks
    * degenerate/repetitious text. Two aggregations, both partial-agg safe;
    * the shuffle carries one row per (doc, distinct token).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(expr(toks(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_token_cnt"))

  /** PII patterns shared with the oracle SQL: RE2-safe (no backrefs, no
    * lookaround) so Java regex (Spark) and RE2 (DuckDB) agree exactly.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** PII scrubbing (training-data hygiene): replace email addresses and
    * phone numbers with typed placeholders. Pure codegen'd regexp_replace
    * projection — no shuffle, pushes down with the scan; the patterns are
    * deliberately in the RE2 ∩ java.util.regex dialect so the same literal
    * pattern string is the oracle.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      regexp_replace(regexp_replace(col(textCol), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        .as("scrubbed"))

  /** Sequence packing (LLM batch assembly): assign documents to fixed-size
    * token bins per shard. Documents are ordered deterministically within
    * each shard by (md5 of id, id), the running token count is a window
    * cumsum, and a document's bin is floor(start_offset / binTokens) — the
    * greedy packing every training pipeline runs before batching.
    *
    * Packing is inherently sequential *within a bin stream*; the scale story
    * is the `shardCol` partition: one window per shard, shards packed
    * independently in parallel (the global-order variant would funnel the
    * corpus through one task). One shuffle on the shard key.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shardCol: String, binTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol).as("doc_id"), col(shardCol).as("shard"),
        expr(s"size(${toks(textCol)})").as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("bin", ((col("cum_tok") - col("n_tok")) / binTokens).cast("bigint"))
  }

  /** X3/ST: drift vs a STATIC reference profile — the [[sliceDrift]]
    * arithmetic with the comparison side fixed to a reference corpus
    * instead of the slices' own union:
    *
    *   l1_scaled(s) = Σ_{t∈s} | c_st·T − r_t·S_s |  +  (T − Σ_{t∈s∩ref} r_t)·S_s
    *
    * (r_t = reference count, T = reference token total; the second term is
    * the reference mass the slice never touches). Same exactness contract:
    * integer counts, DECIMAL(38,0) products, no float anywhere —
    * TVD(s ‖ ref) = l1_scaled / (2·S_s·T). This is the batch kernel of the
    * streaming drift monitor (Streaming.driftMonitor): each micro-batch is
    * scored against the same fixed profile, so alarms are comparable
    * across batches.
    *
    * Shape: reference counts aggregate once (reusable across batches); the
    * batch ⋈ reference token join is merge-hinted (reference vocabulary is
    * corpus-scale); only per-slice and 1-row totals broadcast.
    */
  def refDrift(batch: DataFrame, ref: DataFrame, sliceCol: String,
               textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val st = batch
      .select(col(sliceCol).as("slice"), explode(expr(toks(textCol))).as("token"))
      .groupBy("slice", "token").agg(count(lit(1)).as("c_st"))
    val rt = ref.select(explode(expr(toks(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("r_t"))
    val sTot = st.groupBy("slice").agg(sum("c_st").as("s_tot"))
    val rTot = rt.agg(coalesce(sum("r_t"), lit(0L)).as("t_ref"))
    st.join(rt.hint("merge"), Seq("token"), "left")
      .join(broadcast(sTot), Seq("slice"))
      .crossJoin(broadcast(rTot))
      .groupBy("slice")
      .agg(
        max("s_tot").as("s_toks"),
        (sum(abs(col("c_st").cast(dec) * col("t_ref").cast(dec)
            - coalesce(col("r_t"), lit(0L)).cast(dec) * col("s_tot").cast(dec)))
          + max(col("s_tot").cast(dec) * col("t_ref").cast(dec))
          - sum(coalesce(col("r_t"), lit(0L)).cast(dec) * col("s_tot").cast(dec)))
          .cast(dec).as("l1_scaled"))
  }

  /** X3: corpus drift report — per-slice token-distribution divergence from
    * the whole corpus, as the INTEGER-scaled total-variation distance:
    *
    *   l1_scaled(s) = Σ_t | cnt_s(t)·T − cnt(t)·S_s |,   TVD(s) = l1_scaled / (2·S_s·T)
    *
    * with S_s = slice token total, T = corpus token total. Tokens absent
    * from the slice contribute cnt(t)·S_s, folded in closed form as
    * S_s·(T − Σ_{t∈s} cnt(t)) — the cross product of slices × vocabulary is
    * never materialized. Products run in DECIMAL(38,0) (BIGINT·BIGINT
    * overflows at ~1e13-token corpora), so the report is exact and
    * bit-identical in any engine — no floating-point log/division anywhere,
    * for the same cross-libm reason [[tfIdfTopK]] quantizes its idf.
    * Callers divide by 2·S_s·T at presentation time.
    *
    * This is the drift view a pipeline publishes per ingest source / time
    * slice: a slice whose TVD jumps against the rolling corpus marks a
    * distribution shift — new boilerplate, a scraper regression, a language
    * mix change — before it reaches training.
    *
    * 100 TB shape: one partial-aggregated groupBy(slice, token); corpus
    * counts re-aggregate THAT frame (no second corpus scan); the
    * slice-token ⋈ token join is merge-hinted (the vocabulary is
    * corpus-scale — never broadcast); per-slice totals and the 1-row corpus
    * total are genuinely tiny and broadcast. Linear in corpus tokens.
    */
  def sliceDrift(docs: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val st = docs
      .select(col(sliceCol).as("slice"), explode(expr(toks(textCol))).as("token"))
      .groupBy("slice", "token").agg(count(lit(1)).as("c_st"))
    val t = st.groupBy("token").agg(sum("c_st").as("c_t"))
    val sTot = st.groupBy("slice").agg(sum("c_st").as("s_tot"))
    val tTot = t.agg(sum("c_t").as("t_tot"))
    st.join(t.hint("merge"), Seq("token"))
      .join(broadcast(sTot), Seq("slice"))
      .crossJoin(broadcast(tTot))
      .groupBy("slice")
      .agg(
        max("s_tot").as("s_toks"),
        count(lit(1)).as("n_tokens"),
        (sum(abs(col("c_st").cast(dec) * col("t_tot").cast(dec)
            - col("c_t").cast(dec) * col("s_tot").cast(dec)))
          + max(col("s_tot").cast(dec) * col("t_tot").cast(dec))
          - sum(col("c_t").cast(dec) * col("s_tot").cast(dec)))
          .cast(dec).as("l1_scaled"))
  }
}
