package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.functions.ArrayOps.wordNgrams
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

/** Registry family: corpus curation and selection (X5-X8) - sampling, mixing, splits, DSIR, layout. See [[Queries]] for the assembled registry
  * and [[QuerySupport]] for the shared helpers/oracle fragments.
  */
private[graft] object QueriesCuration {
  val defs: Seq[Q] = Seq(

    // X6 — deterministic epoch-shuffle order (Relational.epochShuffle):
    // the per-epoch reproducible global permutation + sharding a training
    // data loader consumes — md5(epoch:id) permutes (stable across engines
    // and cluster sizes, decorrelated across epochs), shard = hash bucket,
    // position = rank within shard off one co-partitioned window.
    Q("x6_epoch_order",
      (s, dir) => Relational.epochShuffle(rd(s, dir, "documents"), "doc_id",
          epoch = 3, shards = 8)
        .orderBy("shard", "pos"),
      Some(s"""WITH h AS (SELECT doc_id,
        |  ${duckHex("md5('3:' || CAST(doc_id AS VARCHAR))")} AS hv FROM documents)
        |SELECT doc_id, hv % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INTEGER) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin)),


    Q("x8_zorder",
      (s, dir) => {
        val o = rd(s, dir, "orders")
          .withColumn("x", col("o_custkey").cast("long"))
          .withColumn("y", least(floor(col("o_totalprice") / 8), lit(65535)).cast("long"))
        o.withColumn("zval", Relational.zValue(col("x"), col("y"), 16))
          .select("o_orderkey", "x", "y", "zval")
          .orderBy("zval", "o_orderkey").limit(1000)
      },
      Some(s"""WITH o AS (SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS x,
        |  CAST(least(floor(o_totalprice / 8), 65535) AS BIGINT) AS y FROM orders)
        |SELECT o_orderkey, x, y, ${duckZ("x", "y", 16)} AS zval FROM o
        |ORDER BY zval, o_orderkey LIMIT 1000""".stripMargin)),


    // X6 — deterministic hash sampling: a stable 5% sample via the portable
    // md5 bucket (Relational.hashBucket). The same primitive with
    // "bucket < 90" is the reproducible train/test split — identical output
    // across runs, engines, and cluster sizes, which rand()/TABLESAMPLE
    // cannot give.
    Q("x6_hash_sample",
      (s, dir) => Relational.hashBucket(rd(s, dir, "orders"), "o_orderkey")
        .filter(col("bucket") < 5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some(s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        s"WHERE ${duckHex("md5(CAST(o_orderkey AS VARCHAR))")} % 100 < 5 " +
        "ORDER BY o_orderkey")),


    // X6 — stratified sample: exactly k rows per stratum, deterministically —
    // rank within each group by the portable md5 hash of the key (a stable
    // "random" order) and keep the first k. One shuffle on the stratum key.
    Q("x6_stratified_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang"))
          .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))
        rd(s, dir, "documents").select("doc_id", "lang")
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .orderBy("lang", "rk")
      },
      Some("SELECT doc_id, lang, rk FROM (SELECT doc_id, lang, " +
        "CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk " +
        "FROM documents) WHERE rk <= 3 ORDER BY lang, rk")),


    // X6 — weighted mixture sampling (training-data mixtures): 50% of en,
    // 25% of de, 10% of everything else, chosen by the portable md5 bucket —
    // one deterministic filter, reproducible across engines and cluster
    // sizes, no rand().
    Q("x6_weighted_mix",
      (s, dir) => Relational.weightedMix(
          rd(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", Map("en" -> 50, "de" -> 25), defaultPct = 10)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, lang, ${duckHex("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket " +
        "FROM documents " +
        s"WHERE ${duckHex("md5(CAST(doc_id AS VARCHAR))")} % 100 < " +
        s"$duckMixCase " +
        "ORDER BY doc_id")),


    // X6 — TEMPERATURE-weighted mixture (alpha = 0.5): per-language budgets
    // proportional to sqrt(count) — the standard multilingual training mix
    // (up-weights low-resource strata vs proportional sampling). Selection
    // is the division-free exact form r * sum(w) <= budget * w_lang over
    // DECIMAL(20,10) operands; sqrt is IEEE-correctly-rounded in every
    // engine (unlike general pow, which is why alpha is pinned at 0.5), so
    // the whole row hash-checks cross-engine.
    Q("x6_temperature_mix",
      (s, dir) => Relational.temperatureMix(
          rd(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", budget = 300)
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(20,10)) AS w FROM c),
        |t AS (SELECT CAST(sum(w) AS DECIMAL(20,10)) AS tw FROM w),
        |r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r JOIN w USING (lang) CROSS JOIN t
        |WHERE CAST(rk AS DECIMAL(20,10)) * tw <= CAST(300 AS DECIMAL(20,10)) * w
        |ORDER BY doc_id""".stripMargin)),


    // X6 — token-budget corpus selection: per language, keep documents in
    // deterministic priority order (n_chars desc, doc_id) until the running
    // total reaches the budget — the budget-constrained selection step of
    // training-mix assembly. One key-partitioned window; the total order
    // makes Spark's default RANGE frame equal ROWS on both engines.
    Q("x6_budget_select",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
        rd(s, dir, "documents").select("doc_id", "lang", "n_chars")
          .withColumn("cum", sum("n_chars").over(w))
          .filter(col("cum") <= 20000)
          .select("doc_id", "lang", "n_chars").orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, n_chars FROM (SELECT doc_id, lang, n_chars, " +
        "sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS cum " +
        "FROM documents) WHERE cum <= 20000 ORDER BY doc_id")),


    // X1/X6 — leakage-safe train/val/test split: the split hash is keyed on
    // the near-dup CLUSTER label, so near-duplicates can never straddle the
    // train/eval boundary. The oracle replays the cluster fixpoint, then the
    // same md5 bucket on the label.
    Q("x6_cluster_split",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        Dedup.clusterSplit(Dedup.dedupClusters(docs, "doc_id", lshPairsFx(s, dir)),
            trainPct = 80, valPct = 10)
          .orderBy("doc_id")
      },
      Some(s"WITH RECURSIVE ${duckMinhashCtes(duckToks, 8, 19, 20)},\n" +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM verified " +
        "UNION SELECT id_b, id_a FROM verified), " +
        "r(doc_id, lab) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT e.dst, r.lab FROM r JOIN edges e ON r.doc_id = e.src), " +
        "c AS (SELECT doc_id, min(lab) AS cluster FROM r GROUP BY doc_id) " +
        "SELECT doc_id, cluster, CASE WHEN pct < 80 THEN 'train' " +
        "WHEN pct < 90 THEN 'val' ELSE 'test' END AS split FROM " +
        s"(SELECT doc_id, cluster, ${duckHex("md5(CAST(cluster AS VARCHAR))")} % 100 AS pct FROM c) " +
        "ORDER BY doc_id")),


    // X6/X7 — SPLIT-INTEGRITY AUDIT: the verification a leakage-safe split
    // still needs — cluster-keyed hashing guarantees NEAR-duplicates can't
    // straddle train/test, but verbatim word-5-grams shared by documents in
    // DIFFERENT clusters (boilerplate below the near-dup threshold) still
    // can, and that residual leak should be a published number, not an
    // assumption. Emits the audit row: split sizes, distinct cross-boundary
    // shared 5-grams, and how many test docs carry at least one. Shape: the
    // split is a projection over the standing cluster labels; the gram
    // overlap is one distinct-shingle equi-join (word_ngrams generator,
    // hash-partitioned on the gram) — the x1_contamination machinery turned
    // on the pipeline's own split boundary.
    Q("x6_split_audit",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val split = Dedup.clusterSplit(
          Dedup.dedupClusters(docs, "doc_id", lshPairsFx(s, dir)),
          trainPct = 80, valPct = 10)
        val withText = docs.select("doc_id", "text")
          .join(split.select("doc_id", "split"), Seq("doc_id"))
        def grams(part: String) = withText.filter(col("split") === part)
          .select(col("doc_id"), wordNgrams(col("text"), 5))
          .select(col("doc_id"), col("ngram")).distinct()
        val leaks = grams("test").join(
            grams("train").select(col("ngram")).distinct().hint("shuffle_hash"),
            Seq("ngram"))
        split.groupBy().agg(
            sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
            sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
          .crossJoin(broadcast(leaks.agg(
            countDistinct(col("ngram")).as("n_shared_grams"),
            countDistinct(col("doc_id")).as("n_test_docs_affected"))))
      },
      Some {
        val grams5 =
          "list_filter(list_transform(range(0, len(ws) + 1), " +
            "i -> CASE WHEN i + 5 <= len(ws) THEN array_to_string(ws[i+1:i+5], ' ') END), " +
            "x -> x IS NOT NULL)"
        s"WITH RECURSIVE ${duckMinhashCtes(duckToks, 8, 19, 20)},\n" +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM verified " +
          "UNION SELECT id_b, id_a FROM verified), " +
          "r(doc_id, lab) AS (SELECT doc_id, doc_id FROM documents " +
          "UNION SELECT e.dst, r.lab FROM r JOIN edges e ON r.doc_id = e.src), " +
          "c AS (SELECT doc_id, min(lab) AS cluster FROM r GROUP BY doc_id), " +
          "sp AS (SELECT doc_id, CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val' ELSE 'test' END AS split FROM " +
          s"(SELECT doc_id, ${duckHex("md5(CAST(cluster AS VARCHAR))")} % 100 AS pct FROM c)), " +
          "ws AS (SELECT d.doc_id, sp.split, list_filter(string_split(d.text, ' '), x -> x <> '') AS ws " +
          "FROM documents d JOIN sp USING (doc_id)), " +
          s"g AS (SELECT DISTINCT doc_id, split, unnest($grams5) AS ngram FROM ws), " +
          "tr AS (SELECT DISTINCT ngram FROM g WHERE split = 'train'), " +
          "te AS (SELECT doc_id, ngram FROM g WHERE split = 'test'), " +
          "lk AS (SELECT te.doc_id, te.ngram FROM te JOIN tr USING (ngram)) " +
          "SELECT (SELECT count(*) FROM sp WHERE split = 'train') AS n_train, " +
          "(SELECT count(*) FROM sp WHERE split = 'test') AS n_test, " +
          "(SELECT count(DISTINCT ngram) FROM lk) AS n_shared_grams, " +
          "(SELECT count(DISTINCT doc_id) FROM lk) AS n_test_docs_affected"
      }),

    // X5 — top-k per group.
    Q("x5_topk_per_group",
      (s, dir) => Relational.topKPerGroup(
        rd(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .orderBy("o_custkey", "rk"),
      Some("SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk " +
        "FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk")),


    // X6 — k-center CORESET selection (Gonzalez greedy farthest-point) in
    // the exact quantized space: seed = min vec_id, then 3 iterations of
    // "add the point farthest from its nearest chosen center" (ties ->
    // smallest id). The chosen id SEQUENCE pins every argmax over exact
    // integer distances; the oracle unrolls the four stages.
    Q("x6_coreset",
      (s, dir) => Similarity.coresetSelect(rd(s, dir, "embeddings"), 4)
        .orderBy("rk"),
      Some(s"""WITH $duckQuantCtes,
        |v AS (SELECT vec_id, list(CAST(qq AS DOUBLE) ORDER BY pos) AS qv FROM q GROUP BY vec_id),
        |c1 AS (SELECT min(vec_id) AS id FROM v),
        |cv1 AS (SELECT v.qv AS c FROM v JOIN c1 ON v.vec_id = c1.id),
        |c2 AS (SELECT a.vec_id AS id FROM v a CROSS JOIN cv1
        |  WHERE a.vec_id NOT IN (SELECT id FROM c1)
        |  ORDER BY CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv1.c, cv1.c) - 2 * list_dot_product(a.qv, cv1.c) AS BIGINT) DESC, a.vec_id LIMIT 1),
        |cv2 AS (SELECT v.qv AS c FROM v JOIN c2 ON v.vec_id = c2.id),
        |c3 AS (SELECT a.vec_id AS id FROM v a CROSS JOIN cv1 CROSS JOIN cv2
        |  WHERE a.vec_id NOT IN (SELECT id FROM c1 UNION ALL SELECT id FROM c2)
        |  ORDER BY least(
        |    CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv1.c, cv1.c) - 2 * list_dot_product(a.qv, cv1.c) AS BIGINT),
        |    CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv2.c, cv2.c) - 2 * list_dot_product(a.qv, cv2.c) AS BIGINT)) DESC, a.vec_id LIMIT 1),
        |cv3 AS (SELECT v.qv AS c FROM v JOIN c3 ON v.vec_id = c3.id),
        |c4 AS (SELECT a.vec_id AS id FROM v a CROSS JOIN cv1 CROSS JOIN cv2 CROSS JOIN cv3
        |  WHERE a.vec_id NOT IN (SELECT id FROM c1 UNION ALL SELECT id FROM c2 UNION ALL SELECT id FROM c3)
        |  ORDER BY least(
        |    CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv1.c, cv1.c) - 2 * list_dot_product(a.qv, cv1.c) AS BIGINT),
        |    CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv2.c, cv2.c) - 2 * list_dot_product(a.qv, cv2.c) AS BIGINT),
        |    CAST(list_dot_product(a.qv, a.qv) + list_dot_product(cv3.c, cv3.c) - 2 * list_dot_product(a.qv, cv3.c) AS BIGINT)) DESC, a.vec_id LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS rk, id AS vec_id FROM c1
        |UNION ALL SELECT 2, id FROM c2
        |UNION ALL SELECT 3, id FROM c3
        |UNION ALL SELECT 4, id FROM c4 ORDER BY rk""".stripMargin)),


    // X6 — DSIR-style importance selection (TextAnalysis.dsirSelect):
    // hashed-unigram target/background models over a FIXED 1024-bucket
    // space (model size independent of corpus size — the method's 100 TB
    // trick), integer bit-length log-weights, deterministic top-k. Target
    // model = doc_id < 300 (the trusted slice, mirroring x3_lm_score's
    // reference-corpus convention).
    Q("x6_dsir",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        TextAnalysis.dsirSelect(docs, docs.filter(col("doc_id") < 300),
            "doc_id", "text", k = 400)
          .orderBy(col("weight").desc, col("doc_id"))
      },
      Some(s"""WITH tt AS (SELECT ${duckHex("md5(tok)")} % 1024 AS bucket FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id < 300)),
        |bt AS (SELECT doc_id, ${duckHex("md5(tok)")} % 1024 AS bucket FROM (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents)),
        |tm AS (SELECT bucket, count(*) AS ct FROM tt GROUP BY 1),
        |bm AS (SELECT bucket, count(*) AS cb FROM bt GROUP BY 1),
        |ttot AS (SELECT count(*) AS t_tot FROM tt),
        |btot AS (SELECT count(*) AS b_tot FROM bt),
        |lw AS (SELECT bm.bucket,
        |  (length(printf('%b', (b_tot + 1024) // (cb + 1))) - 1)
        |  - (length(printf('%b', (t_tot + 1024) // (COALESCE(ct, 0) + 1))) - 1) AS lw
        |  FROM bm LEFT JOIN tm USING (bucket) CROSS JOIN ttot CROSS JOIN btot),
        |dw AS (SELECT doc_id, count(*) AS n_tok, CAST(sum(lw) AS BIGINT) AS weight
        |  FROM bt JOIN lw USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(n_tok, 0) AS BIGINT) AS n_tok,
        |  CAST(COALESCE(weight, 0) AS BIGINT) AS weight
        |FROM documents d LEFT JOIN dw USING (doc_id)
        |ORDER BY weight DESC, doc_id LIMIT 400""".stripMargin)),
  )
}
