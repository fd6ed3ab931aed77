package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.functions.ArrayOps.{charNgrams, nfcNormalize, stripAccents}
import graft.operators.{Medallion, Relational}
import graft.operators.ext.{Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import graft.sources.{Ingest, StubTickerFetcher}

/** The declared query registry: one entry per SURVEY.md §2 operator row, each
  * with DuckDB-equivalent oracle SQL where SQL-expressible.
  *
  * Determinism rules (SURVEY.md §7.4) hold for every query: explicit as-of
  * date (never current_date), row_number over total orders (never
  * monotonically_increasing_id), a trailing total-order orderBy, decimals
  * fixed-point on both sides, token hashes md5-derived (portable), cosines
  * rounded to DECIMAL(10,6) before any comparison.
  */

import QuerySupport._

/** Registry family: text analysis (X3) - quality, tokens, BPE, BM25, LM scoring, PPMI, PII, fingerprints. See [[Queries]] for the assembled registry
  * and [[QuerySupport]] for the shared helpers/oracle fragments.
  */
private[graft] object QueriesText {
  val defs: Seq[Q] = Seq(

    // X3 — word-bigram top-5 per language (n-gram explode → count → ranked
    // top-k per group; both engines build bigrams 1-indexed).
    Q("x3_ngram_freq",
      (s, dir) => TextAnalysis.topBigramsPerLang(rd(s, dir, "documents"), "lang", "text", 5)
        .orderBy("lang", "rk"),
      Some("WITH ws AS (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents), " +
        "bg AS (SELECT lang, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram " +
        "FROM ws WHERE len(t) >= 2), " +
        "c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2) " +
        "SELECT lang, bigram, cnt, rk FROM (SELECT lang, bigram, cnt, " +
        "CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS INTEGER) AS rk FROM c) " +
        "WHERE rk <= 5 ORDER BY lang, rk")),


    // X3 — PPMI collocation extraction (Church & Hanks): adjacent word
    // pairs ranked by positive pointwise mutual information with the log2
    // quantized to bit-length of the integer ratio and sub-chance pairs
    // floored to 0 — integer-exact, so the full collocation ranking
    // hash-checks (float PMI cannot). Support floor cab >= 5.
    Q("x3_ppmi",
      (s, dir) => TextAnalysis.ppmiCollocations(rd(s, dir, "documents"), "text", 5L, 50)
        .orderBy("rk"),
      Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
        |uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
        |bg AS (SELECT ws[i] AS a, ws[i + 1] AS b FROM
        |  (SELECT ws, unnest(range(1, len(ws))) AS i FROM t WHERE len(ws) >= 2)),
        |bc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM bc),
        |sc AS (SELECT a, b, cab,
        |  CASE WHEN (n * cab) // (ca.c * cb.c) >= 1
        |    THEN length(printf('%b', (n * cab) // (ca.c * cb.c))) - 1 ELSE 0 END AS ppmi
        |  FROM bc JOIN uc ca ON bc.a = ca.w JOIN uc cb ON bc.b = cb.w
        |  CROSS JOIN nn WHERE cab >= 5)
        |SELECT a, b, cab, ppmi, rk FROM (SELECT *,
        |  CAST(row_number() OVER (ORDER BY ppmi DESC, cab DESC, a, b) AS INTEGER) AS rk FROM sc)
        |WHERE rk <= 50 ORDER BY rk""".stripMargin)),


    // X3 — character-trigram top-25 via the native char_ngrams Generator
    // (§2.10 UDTF surface): rows stream lazily out of the UTF8String buffer
    // into the aggregate — no intermediate shingle arrays, no per-element
    // lambda dispatch (vs explode(transform(sequence(...)))). Top-25 under a
    // total order (count desc, then ngram) so the limit boundary is
    // deterministic on both engines.
    Q("x3_char_ngrams",
      (s, dir) => {
        // widen: the char-trigram Generate otherwise runs inside the
        // single-task scan stage of the one-row-group input file
        graft.operators.Par.widen(rd(s, dir, "documents"))
          .select(charNgrams(col("text"), 3))
          .groupBy("ngram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("ngram")).limit(25)
      },
      Some("WITH g AS (SELECT substr(text, CAST(i AS INTEGER), 3) AS ngram " +
        "FROM (SELECT text, unnest(generate_series(1, length(text) - 2)) AS i FROM documents)) " +
        "SELECT ngram, count(*) AS n FROM g GROUP BY 1 ORDER BY n DESC, ngram LIMIT 25")),


    // X3 — TF-IDF with integer-quantized idf = floor(log2(N/df)), computed
    // as length(bin(N div df)) - 1: no floating-point log anywhere, so the
    // score is bit-identical cross-engine (classic float tf-idf cannot be
    // hash-checked across libms). Corpus-wide df/tf aggregates with partial
    // aggregation; output bounded to doc_id < 100 AFTER full scoring.
    Q("x3_tfidf",
      (s, dir) => TextAnalysis.tfIdfTopK(rd(s, dir, "documents"), "doc_id", "text", 5)
        .filter(col("doc_id") < 100)
        .orderBy("doc_id", "rk"),
      Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (SELECT t.doc_id, t.term, t.tf,
        |  t.tf * (length(printf('%b', n.n // d.df)) - 1) AS score
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN nn n),
        |r AS (SELECT doc_id, term, tf, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rk FROM scored)
        |SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 5 AND doc_id < 100
        |ORDER BY doc_id, rk""".stripMargin)),


    // X3 — BM25 retrieval (the lexical leg of a modern retrieval stack):
    // rank the corpus against 5 queries (first 8 tokens of docs 0-4) with
    // integer-exact Okapi BM25 — idf = floor(log2(N/df)) via length(bin()),
    // and with k1=1.2, b=0.75 the saturation term clears to the exact
    // rational 22·tf·T/(10·tf·T + 3·T + 9·dl·N), milli-scaled before ONE
    // floor division. No float anywhere, so the full ranking (not just the
    // id set) hash-checks vs DuckDB.
    Q("x3_bm25",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            expr("array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 8), ' ')").as("qtext"))
        TextAnalysis.bm25TopK(docs, queries, "doc_id", "text", "query_id", "qtext", 10)
          .orderBy("query_id", "rk")
      },
      Some("""WITH dl AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl FROM documents),
        |tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
        |qd AS (SELECT doc_id AS query_id, array_to_string((list_filter(string_split(text, ' '), x -> x <> ''))[1:8], ' ') AS qtext
        |  FROM documents WHERE doc_id < 5),
        |qt AS (SELECT DISTINCT query_id, unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS term FROM qd),
        |post AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, f.doc_id,
        |  CAST(CAST(22000 AS HUGEINT) * (length(printf('%b', n // df)) - 1) * f.tf * t
        |    // (CAST(10 AS HUGEINT) * f.tf * t + CAST(3 AS HUGEINT) * t + CAST(9 AS HUGEINT) * dl.dl * n) AS BIGINT) AS s
        |  FROM tf f JOIN dfreq USING (term) JOIN qt q USING (term)
        |  JOIN dl ON f.doc_id = dl.doc_id CROSS JOIN tot),
        |agg AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score FROM sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rk FROM agg)
        |SELECT query_id, doc_id, score, rk FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)),


    // X3 — BM25 against the PERSISTED inverted index: build on doc_id < 400,
    // append the rest, REPLAY the append (must insert nothing — idempotent
    // maintenance), then probe. The oracle is the x3_bm25 full-corpus batch
    // formulation verbatim, so the gate proves index-path ranking ==
    // fresh-scan ranking across build + append + idempotent replay: the
    // standing structure a 100 TB corpus probes instead of re-scanning.
    Q("x3_bm25_index",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // standing fixture: base index + corpus-completing append, built
        // once per session+sf; LIVE work each pass = one idempotent replay
        // append (the anti-join no-op proof — the production re-run cost)
        // and the BM25 probe, this row's serving claim
        val (post, len) = Fixtures.once(s, dir, "lex_index") {
          val t = dirTag(dir)
          val (p, l) = (s"graft_lex_post_$t", s"graft_lex_len_$t")
          val root = freshDir(s, s"graft_lexidx_$t")
          s.sql(s"DROP TABLE IF EXISTS $p")
          s.sql(s"DROP TABLE IF EXISTS $l")
          TextAnalysis.buildLexicalIndex(p, l,
            docs.filter(col("doc_id") < 400), "doc_id", "text", 8, root)
          TextAnalysis.appendLexicalIndex(p, l,
            docs.filter(col("doc_id") >= 400), "doc_id", "text", 8)
          (p, l)
        }
        TextAnalysis.appendLexicalIndex(post, len,
          docs.filter(col("doc_id") >= 400), "doc_id", "text", 8) // replay: anti-joins make this a no-op
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            expr("array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 8), ' ')").as("qtext"))
        TextAnalysis.bm25IndexTopK(s, post, len,
            queries, "query_id", "qtext", 10)
          .orderBy("query_id", "rk")
      },
      Some("""WITH dl AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl FROM documents),
        |tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
        |qd AS (SELECT doc_id AS query_id, array_to_string((list_filter(string_split(text, ' '), x -> x <> ''))[1:8], ' ') AS qtext
        |  FROM documents WHERE doc_id < 5),
        |qt AS (SELECT DISTINCT query_id, unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS term FROM qd),
        |post AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, f.doc_id,
        |  CAST(CAST(22000 AS HUGEINT) * (length(printf('%b', n // df)) - 1) * f.tf * t
        |    // (CAST(10 AS HUGEINT) * f.tf * t + CAST(3 AS HUGEINT) * t + CAST(9 AS HUGEINT) * dl.dl * n) AS BIGINT) AS s
        |  FROM tf f JOIN dfreq USING (term) JOIN qt q USING (term)
        |  JOIN dl ON f.doc_id = dl.doc_id CROSS JOIN tot),
        |agg AS (SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS score FROM sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rk FROM agg)
        |SELECT query_id, doc_id, score, rk FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)),


    // X3 — document chunking (training/RAG window split): token windows of
    // 32 with stride 24 (8-token overlap), 1-indexed starts, final partial
    // window kept. Map-side only — chunking never shuffles. Output bounded
    // to doc_id < 100 (chunk construction is per-row, the bound loses no
    // generality).
    Q("x3_chunk_split",
      (s, dir) => TextAnalysis.chunkSplit(
          rd(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text", 32, 24)
        .orderBy("doc_id", "start_tok"),
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 100),
        |nz AS (SELECT doc_id, ws, len(ws) AS n_tok FROM d WHERE len(ws) > 0),
        |st AS (SELECT doc_id, ws, n_tok, unnest(generate_series(1, n_tok, 24)) AS start_tok FROM nz)
        |SELECT doc_id, start_tok, array_to_string(ws[start_tok : start_tok + 31], ' ') AS chunk,
        |  least(32, n_tok - start_tok + 1) AS chunk_tokens
        |FROM st ORDER BY doc_id, start_tok""".stripMargin)),


    // X3 — intra-document repetition signals (Gopher-style quality rules) as
    // exact integers: token count, distinct-token count, top-token count.
    Q("x3_repetition",
      (s, dir) => TextAnalysis.repetitionStats(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(cnt) AS top_token_cnt
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // X3 — corpus drift report: per-source token-distribution divergence
    // from the whole corpus as the integer-scaled total-variation distance
    // (exact BIGINT/DECIMAL arithmetic — no float log/div, so the oracle is
    // bit-exact; see TextAnalysis.sliceDrift for the absent-token closed
    // form).
    Q("x3_slice_drift",
      (s, dir) => TextAnalysis.sliceDrift(rd(s, dir, "documents"), "source", "text")
        // decimal -> varchar on both sides: computed decimals are the class
        // the driver's hasher renders differently per engine (repo policy,
        // scripts/oracle_check.py)
        .withColumn("l1_scaled", col("l1_scaled").cast("string"))
        .orderBy("slice"),
      Some("""WITH tok AS (SELECT source AS slice, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
        |st AS (SELECT slice, token, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |t AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY 1),
        |stot AS (SELECT slice, sum(c_st) AS s_tot FROM st GROUP BY 1),
        |ttot AS (SELECT sum(c_t) AS t_tot FROM t)
        |SELECT slice, CAST(s_tot AS BIGINT) AS s_toks, count(*) AS n_tokens,
        |  CAST(CAST(sum(abs(c_st * t_tot - c_t * s_tot)) + CAST(s_tot AS HUGEINT) * t_tot - sum(c_t * s_tot) AS DECIMAL(38,0)) AS VARCHAR) AS l1_scaled
        |FROM st JOIN t USING (token) JOIN stot USING (slice) CROSS JOIN ttot
        |GROUP BY slice, s_tot, t_tot
        |ORDER BY slice""".stripMargin)),


    // X3 — PII scrubbing (training-data hygiene): synthetic email+phone are
    // appended per row (the corpus has none), then scrubbed with patterns in
    // the RE2 ∩ java.regex dialect — the same literal pattern string runs on
    // both engines, so the redacted text must match byte-for-byte.
    Q("x3_pii_scrub",
      (s, dir) => TextAnalysis.piiScrub(
          rd(s, dir, "documents").withColumn("text",
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or +1-555-0100"))),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("SELECT doc_id, regexp_replace(regexp_replace(" +
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-0100', " +
        s"'${TextAnalysis.emailRe}', '<EMAIL>', 'g'), " +
        s"'${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS scrubbed " +
        "FROM documents ORDER BY doc_id")),


    // X3 — sequence packing (LLM batch assembly): per-shard deterministic
    // order (md5 of id), running token cumsum, bin = start_offset / 512.
    // One window per shard — shards pack independently in parallel; the
    // oracle runs the identical window in DuckDB.
    Q("x3_seq_packing",
      (s, dir) => TextAnalysis.packSequences(
          rd(s, dir, "documents"), "doc_id", "text", "lang", binTokens = 512)
        .orderBy("doc_id"),
      Some("SELECT doc_id, lang AS shard, n_tok, " +
        "CAST(sum(n_tok) OVER w AS BIGINT) AS cum_tok, " +
        "CAST(floor((sum(n_tok) OVER w - n_tok) / 512) AS BIGINT) AS bin " +
        "FROM (SELECT doc_id, lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok " +
        "FROM documents) " +
        "WINDOW w AS (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY doc_id")),


    // X3 — vocabulary-coverage / OOV-rate scoring: the top-200 corpus tokens
    // (by frequency desc, token — deterministic) form the vocabulary, which
    // broadcasts to a map-side scoring join; each document's exact token and
    // out-of-vocabulary counts are the gibberish/wrong-language quality
    // signal. The corpus never shuffles for the vocabulary.
    Q("x3_oov_rate",
      (s, dir) => TextAnalysis.oovRate(rd(s, dir, "documents"), "doc_id", "text", 200)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents),
        |v AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM t GROUP BY token
        |  ORDER BY cnt DESC, token LIMIT 200)),
        |j AS (SELECT t.doc_id, t.token, v.token IS NOT NULL AS iv
        |  FROM t LEFT JOIN v ON v.token = t.token)
        |SELECT doc_id, count(*) AS n_tok, count(CASE WHEN NOT iv THEN 1 END) AS n_oov
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),


    // X3 — corpus token frequencies.
    Q("x3_token_stats",
      (s, dir) => TextAnalysis.tokenStats(rd(s, dir, "documents"), "text"),
      Some("SELECT token, count(*) AS cnt FROM " +
        "(SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token FROM documents) " +
        "GROUP BY token ORDER BY cnt DESC, token")),


    // X3 — per-document quality features.
    Q("x3_quality_score",
      (s, dir) => TextAnalysis.qualityScore(rd(s, dir, "documents"), "doc_id", "text")
        .withColumn("stop_ratio", coalesce(col("stop_ratio").cast("string"), lit("NA")))
        .orderBy("doc_id"),
      Some {
        val toks = "list_filter(string_split(text, ' '), x -> x <> '')"
        val stops = TextAnalysis.stopwords.map("'" + _ + "'").mkString(", ")
        val nstop = s"len(list_filter($toks, x -> list_contains([$stops], x)))"
        s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
          | CAST(len($toks) AS INTEGER) AS n_tokens,
          | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_bpe_tokens,
          | CAST($nstop AS INTEGER) AS n_stop,
          | COALESCE(CAST(CAST(CAST($nstop AS DOUBLE) / nullif(len($toks), 0) AS DECIMAL(10,4)) AS VARCHAR), 'NA') AS stop_ratio
          |FROM documents ORDER BY doc_id""".stripMargin
      }),


    // X3 — Unicode normalization (functions/TextNorm.scala, native codegen'd
    // expressions): web corpora mix composed and decomposed forms of the same
    // visible text, silently breaking exact dedup and fingerprints. NFC
    // composition (nfc_normalize ↔ DuckDB nfc_normalize) and accent stripping
    // (strip_accents ↔ DuckDB strip_accents) over a fixture that PREPENDS
    // decomposed e-acute/u-umlaut/n-tilde to each doc — char lengths shrink
    // under NFC (2 chars → 1 per mark) and the md5 of the composed bytes must
    // agree across engines, proving byte-identical normalization.
    Q("x3_normalize",
      (s, dir) => {
        rd(s, dir, "documents")
          .select(col("doc_id"),
            concat(lit("e\u0301 u\u0308 n\u0303 "), substring(col("text"), 1, 16)).as("raw"))
          .select(col("doc_id"),
            length(col("raw")).as("raw_len"),
            length(nfcNormalize(col("raw"))).as("nfc_len"),
            md5(nfcNormalize(col("raw"))).as("nfc_md5"),
            stripAccents(col("raw")).as("plain"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (SELECT doc_id,
        |  'e' || chr(769) || ' u' || chr(776) || ' n' || chr(771) || ' ' || substr(text, 1, 16) AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INTEGER) AS raw_len,
        |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS nfc_len,
        |  md5(nfc_normalize(raw)) AS nfc_md5, strip_accents(raw) AS plain
        |FROM r ORDER BY doc_id""".stripMargin)),


    // X3 — n-gram LM quality scoring (TextAnalysis.lmSurprise): the
    // CCNet/KenLM perplexity-filter idea with an integer-exact surprise
    // (bit-length of the inverse add-one-smoothed bigram probability) so the
    // score replays bit-for-bit in any engine. Reference model = doc_id < 150;
    // every doc scored, <2-token docs surface as zeros. surprise_sum/n_big is
    // the mean bits-per-bigram ≈ log2-perplexity a curation filter thresholds.
    Q("x3_lm_score",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        TextAnalysis.lmSurprise(docs, docs.filter(col("doc_id") < 150), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH rt AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 150),
        |cb AS (SELECT bigram, count(*) AS cb FROM (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram FROM rt)
        |  GROUP BY 1),
        |cu AS (SELECT w1, count(*) AS cu FROM (SELECT unnest(t) AS w1 FROM rt) GROUP BY 1),
        |vs AS (SELECT count(*) AS vsize FROM cu),
        |dt AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |db AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram FROM dt),
        |j AS (SELECT d.doc_id,
        |  (COALESCE(cu.cu, 0) + vs.vsize) // (COALESCE(cb.cb, 0) + 1) AS ratio
        |  FROM db d
        |  LEFT JOIN cb ON cb.bigram = d.bigram
        |  LEFT JOIN cu ON cu.w1 = string_split(d.bigram, ' ')[1]
        |  CROSS JOIN vs),
        |sc AS (SELECT doc_id, count(*) AS n_big,
        |  sum(length(printf('%b', ratio)) - 1) AS surprise_sum FROM j GROUP BY 1)
        |SELECT doc_id, CAST(COALESCE(sc.n_big, 0) AS BIGINT) AS n_big,
        |  CAST(COALESCE(sc.surprise_sum, 0) AS BIGINT) AS surprise_sum
        |FROM documents LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin)),


    // X3 — BPE merge learning (TextAnalysis.bpeLearn): 5 rounds of the
    // byte-pair-encoding training loop as corpus aggregates — per round,
    // the most frequent adjacent symbol pair (freq-weighted, argmax total-
    // ordered) merges everywhere via literal replace over DOUBLE-sentinel
    // symbol boundaries — the pattern consumes only the inner half of each
    // flanking boundary, so adjacent merge sites all match in one leftmost-
    // non-overlapping scan (canonical single-pass greedy BPE, identical in
    // both engines). Emits the merge table + the exact compression
    // trajectory; the oracle unrolls all five rounds.
    Q("x3_bpe_learn",
      (s, dir) => TextAnalysis.bpeLearn(rd(s, dir, "documents"), "text", 5)
        .orderBy("merge_round"),
      Some {
        val sp = "chr(31)"
        def round(i: Int): String =
          s"""p$i AS (SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS n FROM (
            |  SELECT freq, unnest(list_transform(range(1, len(ts)), j -> struct_pack(a := ts[j], b := ts[j+1]))) AS p
            |  FROM (SELECT freq, list_filter(string_split(seq, $sp), x -> x <> '') AS ts FROM s${i - 1})) GROUP BY 1, 2),
            |m$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
            |s$i AS (SELECT w, freq, replace(seq, $sp || m$i.a || $sp || $sp || m$i.b || $sp, $sp || m$i.a || m$i.b || $sp) AS seq
            |  FROM s${i - 1} CROSS JOIN m$i),
            |t$i AS (SELECT CAST(sum(freq * len(list_filter(string_split(seq, $sp), x -> x <> ''))) AS BIGINT) AS total FROM s$i)""".stripMargin
        s"""WITH w0 AS (SELECT tok AS w, count(*) AS freq FROM (
          |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents) GROUP BY 1),
          |s0 AS (SELECT w, freq,
          |  $sp || $sp || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), $sp || $sp) || $sp || $sp AS seq FROM w0),
          |${(1 to 5).map(round).mkString(",\n")}
          |${(1 to 5).map(i => s"SELECT $i AS merge_round, m$i.a AS lhs, m$i.b AS rhs, m$i.n AS pair_count, t$i.total AS corpus_tokens_after FROM m$i CROSS JOIN t$i")
            .mkString("\nUNION ALL ")}
          |ORDER BY merge_round""".stripMargin
      }),


    // X3 — BPE tokenizer application (TextAnalysis.bpeApplyCounts): the
    // serving side of x3_bpe_learn — learn 5 merges, collect them (bounded
    // driver probe: the merges ARE the model), fold them into one map-side
    // replace chain per word, report whitespace vs BPE token counts per
    // document. The oracle replays learning AND application end-to-end.
    Q("x3_bpe_tokenize",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val merges = TextAnalysis.bpeLearn(docs, "text", 5).collect()
          .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
        TextAnalysis.bpeApplyCounts(docs, "doc_id", "text", merges).orderBy("doc_id")
      },
      Some {
        val sp = "chr(31)"
        def round(i: Int): String =
          s"""p$i AS (SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS n FROM (
            |  SELECT freq, unnest(list_transform(range(1, len(ts)), j -> struct_pack(a := ts[j], b := ts[j+1]))) AS p
            |  FROM (SELECT freq, list_filter(string_split(seq, $sp), x -> x <> '') AS ts FROM s${i - 1})) GROUP BY 1, 2),
            |m$i AS (SELECT a, b FROM p$i ORDER BY n DESC, a, b LIMIT 1),
            |s$i AS (SELECT w, freq, replace(seq, $sp || m$i.a || $sp || $sp || m$i.b || $sp, $sp || m$i.a || m$i.b || $sp) AS seq
            |  FROM s${i - 1} CROSS JOIN m$i)""".stripMargin
        def apply(i: Int): String =
          s"""a$i AS (SELECT doc_id, replace(seq, $sp || m$i.a || $sp || $sp || m$i.b || $sp, $sp || m$i.a || m$i.b || $sp) AS seq
            |  FROM a${i - 1} CROSS JOIN m$i)""".stripMargin
        s"""WITH w0 AS (SELECT tok AS w, count(*) AS freq FROM (
          |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents) GROUP BY 1),
          |s0 AS (SELECT w, freq,
          |  $sp || $sp || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), $sp || $sp) || $sp || $sp AS seq FROM w0),
          |${(1 to 5).map(round).mkString(",\n")},
          |d AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents),
          |a0 AS (SELECT doc_id,
          |  $sp || $sp || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), $sp || $sp) || $sp || $sp AS seq FROM d),
          |${(1 to 5).map(apply).mkString(",\n")},
          |cnt AS (SELECT doc_id, count(*) AS n_words,
          |  CAST(sum(len(list_filter(string_split(seq, $sp), x -> x <> ''))) AS BIGINT) AS n_bpe
          |  FROM a5 GROUP BY 1)
          |SELECT dd.doc_id, CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
          |  CAST(COALESCE(n_bpe, 0) AS BIGINT) AS n_bpe
          |FROM documents dd LEFT JOIN cnt USING (doc_id) ORDER BY dd.doc_id""".stripMargin
      }),


    // X3 — marker-based language ID (oracle-checkable form; the char-n-gram
    // scorer is langIdNgram, covered by ScalaTest).
    Q("x3_lang_id",
      (s, dir) => TextAnalysis.langIdSimple(rd(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some("SELECT doc_id, CASE WHEN contains(text, 'the ') THEN 'en' ELSE 'und' END AS pred_lang " +
        "FROM documents ORDER BY doc_id")),


    // X3 — exact document fingerprint (md5, engine-portable).
    Q("x3_fingerprint",
      (s, dir) => TextAnalysis.fingerprintMd5(rd(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some("SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id")),


    // X6 — trained quality-classifier inference (TextAnalysis
    // .qualityClassifier): the fastText-style linear model over hashed
    // unigram+bigram features — the model-based quality filter every
    // production curation pipeline runs beside the heuristic and perplexity
    // ones, in its CCNet shape: the TRUSTED side is the target-language
    // corpus (lang = 'en' — the stand-in for "looks like Wikipedia"),
    // negatives are the rest; integer Naive-Bayes log-odds weights over a
    // 2048-bucket space, occurrence-weighted scoring, keep = score > 0
    // (measured at sf0.01: 25% of en kept vs <=7% of every other lang —
    // the precision-oriented separation a positive-evidence threshold
    // buys). The oracle replays training AND inference end-to-end.
    Q("x3_quality_classifier",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        TextAnalysis.qualityClassifier(docs,
            docs.filter(col("lang") === "en"),
            docs.filter(col("lang") =!= "en"),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some {
        val B = 2048
        s"""WITH ws AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
          |feats AS (
          |  SELECT doc_id, lang, unnest(ws) AS f FROM ws
          |  UNION ALL
          |  SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS f FROM ws),
          |fb AS (SELECT doc_id, lang, ${duckHex("md5(f)")} % $B AS bucket FROM feats),
          |pc AS (SELECT bucket, count(*) AS cp FROM fb WHERE lang = 'en' GROUP BY 1),
          |nc AS (SELECT bucket, count(*) AS cn FROM fb WHERE lang <> 'en' GROUP BY 1),
          |pt AS (SELECT CAST(sum(cp) AS BIGINT) AS pt FROM pc),
          |nt AS (SELECT CAST(sum(cn) AS BIGINT) AS nt FROM nc),
          |w AS (SELECT COALESCE(pc.bucket, nc.bucket) AS bucket,
          |  (length(printf('%b', (nt + $B) // (COALESCE(cn, 0) + 1))) - 1)
          |  - (length(printf('%b', (pt + $B) // (COALESCE(cp, 0) + 1))) - 1) AS w
          |  FROM pc FULL OUTER JOIN nc ON pc.bucket = nc.bucket CROSS JOIN pt CROSS JOIN nt),
          |sc AS (SELECT fb.doc_id, count(*) AS n_feat, CAST(sum(COALESCE(w.w, 0)) AS BIGINT) AS score
          |  FROM fb LEFT JOIN w USING (bucket) GROUP BY 1)
          |SELECT d.doc_id, CAST(COALESCE(n_feat, 0) AS BIGINT) AS n_feat,
          |  CAST(COALESCE(score, 0) AS BIGINT) AS score, COALESCE(score, 0) > 0 AS keep
          |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin
      }),


    // X3 — rolling polynomial fingerprint (order-sensitive Rabin-Karp-shaped
    // fold; oracle mirrors the fold via list_reduce with a prepended init).
    Q("x3_rolling_fingerprint",
      (s, dir) => TextAnalysis.rollingFingerprint(rd(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some {
        s"""WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
          |SELECT doc_id, list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(toks, t -> ${duckHex("md5(t)")})),
          |  (acc, h) -> ((acc * 31) % 1000000007 + h) % 1000000007) AS fp
          |FROM ws ORDER BY doc_id""".stripMargin
      }),
  )
}
