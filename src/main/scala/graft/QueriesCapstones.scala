package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.operators.{Medallion, Par, Relational}
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

/** Registry family: the X9 end-to-end capstones composing the families above. See [[Queries]] for the assembled registry
  * and [[QuerySupport]] for the shared helpers/oracle fragments.
  */
private[graft] object QueriesCapstones {
  val defs: Seq[Q] = Seq(

    // X9 — INCREMENTAL INGEST capstone: the production corpus-growth loop
    // composed end-to-end from declared machinery — batches LAND as
    // versioned commits (OCC manifest log), the index consumer reads
    // EXACTLY the delta via changesBetween (the (from, to] CDC contract —
    // no rescan of the standing corpus), appends it into the bucketed band
    // index idempotently (the replayed append must insert nothing), and
    // the next candidate batch probes the converged index with no
    // index-side exchange. The oracle is the batch formulation over the
    // raw table — the whole loop must be invisible in the result.
    Q("x9_ingest_e2e",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // fixture = the STANDING state the loop starts from (v1 landed +
        // base index built); LIVE each pass = the loop's consumer cycle:
        // the v2 commit (idempotent retry after the first pass — the exact
        // production re-drive), the (v1, v2] CDC read, the idempotent index
        // append and its replay, and the converged-index probe
        val (root, idx, v1) = Fixtures.once(s, dir, "ingest_e2e") {
          val r = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_e2e_${dirTag(dir)}"
          rmrf(r)
          val idxRoot = freshDir(s, s"graft_ingest_idx_${dirTag(dir)}")
          val name = s"graft_ingest_band_${dirTag(dir)}"
          s.sql(s"DROP TABLE IF EXISTS $name")
          val v = graft.io.VersionedTable.commit(
            docs.filter(col("doc_id") < 250), s"$r/tbl", "append", "ing-v1")
          Dedup.withBandKeys(graft.io.VersionedTable.read(s, s"$r/tbl"), "text", 8, "bands")
            .select(col("doc_id"), explode(col("bands")).as("key"))
            .write.bucketBy(8, "key").sortBy("key")
            .option("path", s"$idxRoot/idx").saveAsTable(name)
          (r, name, v)
        }
        val v2 = graft.io.VersionedTable.commit(
          docs.filter(col("doc_id") >= 250 && col("doc_id") < 400), s"$root/tbl", "append", "ing-v2")
        val delta = graft.io.VersionedTable.changesBetween(s, s"$root/tbl", v1, v2)
        Dedup.appendBandIndex(idx, delta, "doc_id", "text", 8, 8)
        Dedup.appendBandIndex(idx, delta, "doc_id", "text", 8, 8) // replay: no-op
        val probes = Dedup.withBandKeys(docs.filter(col("doc_id") >= 400 && col("doc_id") < 500),
            "text", 8, "bands")
          .select(col("doc_id").as("new_id"), explode(col("bands")).as("key"))
        probes.join(s.table(idx).hint("merge"), Seq("key"))
          .groupBy("new_id").agg(countDistinct("doc_id").as("n_matches"))
          .orderBy("new_id")
      },
      Some(s"""WITH ${duckBandsCtes(duckToks, 8)},
        |idx AS (SELECT doc_id, band || ':' || key AS k FROM bands WHERE doc_id < 400),
        |pr AS (SELECT doc_id AS new_id, band || ':' || key AS k FROM bands
        |  WHERE doc_id >= 400 AND doc_id < 500)
        |SELECT new_id, count(DISTINCT i.doc_id) AS n_matches
        |FROM pr JOIN idx i USING (k)
        |GROUP BY new_id ORDER BY new_id""".stripMargin)),


    // X9 — semi-supervised labeling capstone: kNN GRAPH in the exact
    // quantized space (top-3 per node over a 300-vector universe, the
    // x2_ann_quantized machinery) symmetrized into undirected edges, then
    // G3's majority-vote label propagation spreads the 20 seed labels
    // (embeddings.label, the hand-labeled slice) across it for 2
    // iterations — the standard label-densification pipeline for training
    // data (label a sliver by hand, propagate over the similarity graph).
    // Every stage integer-exact, so the composed assignment — including
    // which nodes stay unlabeled — replays through one unrolled oracle.
    Q("x9_semisupervised",
      (s, dir) => {
        val emb = rd(s, dir, "embeddings").filter(col("vec_id") < 300)
        val knn = Similarity.quantizedTopK(emb, 3, 300).select("id_a", "id_b")
        // Materialized once: labelPropagate references the edge frame per
        // iteration, and each reference would otherwise re-execute the
        // whole kNN pipeline (the before-plan carried 126 parquet scans —
        // plans/r19/x9_semisupervised_before.txt). Tiny (300-node) frame.
        val Seq(edges) = Par.materialize(knn.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(knn.select(col("id_b").as("src"), col("id_a").as("dst")))
          .distinct())
        val seeds = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("node"), col("label").cast("long").as("lab"))
        graft.operators.ext.Graph
          .labelPropagate(edges, "src", "dst", seeds, "node", "lab", 2)
          .orderBy("node")
      },
      Some {
        def iter(i: Int): String =
          s"""v$i AS (SELECT e.dst AS node, l${i - 1}.label, count(*) AS n
            |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node WHERE l${i - 1}.label IS NOT NULL GROUP BY 1, 2),
            |m$i AS (SELECT node, label AS maj FROM
            |  (SELECT *, row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk FROM v$i) WHERE rk = 1),
            |l$i AS (SELECT l${i - 1}.node, coalesce(sd.lab, m$i.maj, l${i - 1}.label) AS label
            |  FROM l${i - 1} LEFT JOIN m$i ON l${i - 1}.node = m$i.node LEFT JOIN sd ON l${i - 1}.node = sd.node)""".stripMargin
        s"""WITH ${duckQuantCtesWhere(" WHERE vec_id < 300")},
          |v AS (SELECT vec_id, list(CAST(qq AS DOUBLE) ORDER BY pos) AS qv FROM q GROUP BY vec_id),
          |scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot
          |  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
          |knn AS (SELECT id_a, id_b FROM (SELECT id_a, id_b,
          |  row_number() OVER (PARTITION BY id_a ORDER BY dot DESC, id_b) AS rk FROM scored) WHERE rk <= 3),
          |e AS (SELECT id_a AS src, id_b AS dst FROM knn UNION SELECT id_b, id_a FROM knn),
          |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |sd AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS lab FROM embeddings WHERE vec_id < 20),
          |l0 AS (SELECT nodes.node, sd.lab AS label FROM nodes LEFT JOIN sd ON nodes.node = sd.node),
          |${iter(1)},
          |${iter(2)}
          |SELECT node, label FROM l2 ORDER BY node""".stripMargin
      }),


    // X9 — END-TO-END CURATION PIPELINE (composition proof): the six curation
    // stages a real LLM-corpus pipeline chains, as ONE declared query —
    // quality filter (x3_quality_score thresholds) → exact dedup (min-id per
    // identical text) → near-dup survivor keep (MinHash-LSH pairs → connected
    // components → keep the min-id per cluster) → word-5-gram decontamination
    // against the held-out benchmark stand-in (first 100 doc ids of the RAW
    // corpus — a held-out set is external, so it does not shrink with the
    // pipeline) → weighted language mixture (50% en / 25% de / 10% rest) →
    // 512-token sequence packing per language shard. Every stage is green in
    // isolation; this row proves the column/contract composition. The oracle
    // replays all six stages in one DuckDB statement.
    // X9 — END-TO-END RETRIEVAL SERVING: the production serving stack over
    // PERSISTED indexes, composed from individually-proven stages — build
    // both standing indexes (frozen-quantizer PQ codes bucketed by vec_id;
    // lexical postings + lengths bucketed by term/doc_id), grow both with an
    // idempotent append, probe both (ADC top-20 from broadcast distance
    // tables; BM25 top-20 via pushed-literal bucket pruning), and fuse with
    // integer RRF. Every stage is integer-exact, so the FUSED serving
    // ranking replays bit-identically in DuckDB — the oracle recomputes the
    // full frozen-PQ chain AND the BM25 chain from the raw tables and fuses
    // them the same way. The curation pipeline's serving-side twin.
    Q("x9_retrieval_e2e",
      (s, dir) => {
        val emb = rd(s, dir, "embeddings").filter(col("vec_id") < 500)
        val base = emb.filter(col("vec_id") < 400)
        val docs = rd(s, dir, "documents").filter(col("doc_id") < 500)
        // fixture = BOTH converged serving indexes (PQ codes + lexical
        // postings/lengths, each seed + append); LIVE each pass = the
        // retrieval itself — dense ADC probe, BM25 probe, RRF fusion — the
        // hybrid-serving claim of this capstone
        val (pq, post, len) = Fixtures.once(s, dir, "serve_indexes") {
          val t = dirTag(dir)
          val rootP = freshDir(s, s"graft_serve_pqidx_$t")
          val pqN = s"graft_serve_pq_$t"
          s.sql(s"DROP TABLE IF EXISTS $pqN")
          Similarity.pqCodesFrozen(base, base, dim = 64, m = 8, ncodes = 16)
            .write.bucketBy(8, "vec_id").sortBy("vec_id")
            .option("path", s"$rootP/idx").saveAsTable(pqN)
          Similarity.appendPqIndex(pqN,
            emb.filter(col("vec_id") >= 400), base, 64, 8, 16, 8)
          val rootL = freshDir(s, s"graft_serve_lexidx_$t")
          val (postN, lenN) = (s"graft_serve_post_$t", s"graft_serve_len_$t")
          s.sql(s"DROP TABLE IF EXISTS $postN")
          s.sql(s"DROP TABLE IF EXISTS $lenN")
          TextAnalysis.buildLexicalIndex(postN, lenN,
            docs.filter(col("doc_id") < 400), "doc_id", "text", 8, rootL)
          TextAnalysis.appendLexicalIndex(postN, lenN,
            docs.filter(col("doc_id") >= 400), "doc_id", "text", 8)
          (pqN, postN, lenN)
        }
        val dense = Similarity.pqIndexTopK(s, pq,
            emb.filter(col("vec_id") < 5), base, 64, 8, 16, k = 20)
          .select(col("id_a").as("query_id"), col("id_b").as("cand_id"), col("rk"))
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            expr("array_join(slice(filter(split(text, ' '), x -> x != ''), 1, 8), ' ')").as("qtext"))
        val lex = TextAnalysis.bm25IndexTopK(s, post, len,
            queries, "query_id", "qtext", 20, excludeSelf = true)
          .select(col("query_id"), col("doc_id").as("cand_id"), col("rk"))
        Similarity.rrfFuse(Seq(dense, lex), "query_id", "cand_id", "rk", 10)
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH ${duckFrozenPqCtes(400, 500, 5)},
        |dense AS (SELECT query_id, cand_id, rk FROM (SELECT qid AS query_id, vec_id AS cand_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk FROM fad) WHERE rk <= 20),
        |dl AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents WHERE doc_id < 500),
        |tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
        |qd AS (SELECT doc_id AS query_id, array_to_string((list_filter(string_split(text, ' '), x -> x <> ''))[1:8], ' ') AS qtext
        |  FROM documents WHERE doc_id < 5),
        |qt AS (SELECT DISTINCT query_id, unnest(list_filter(string_split(qtext, ' '), x -> x <> '')) AS term FROM qd),
        |post AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents WHERE doc_id < 500),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM post
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, f.doc_id,
        |  CAST(CAST(22000 AS HUGEINT) * (length(printf('%b', n // df)) - 1) * f.tf * t
        |    // (CAST(10 AS HUGEINT) * f.tf * t + CAST(3 AS HUGEINT) * t + CAST(9 AS HUGEINT) * dl.dl * n) AS BIGINT) AS s
        |  FROM tf f JOIN dfreq USING (term) JOIN qt q USING (term)
        |  JOIN dl ON f.doc_id = dl.doc_id CROSS JOIN tot
        |  WHERE f.doc_id <> q.query_id),
        |lagg AS (SELECT query_id, doc_id AS cand_id, CAST(sum(s) AS BIGINT) AS score FROM sc GROUP BY 1, 2),
        |lex AS (SELECT query_id, cand_id, rk FROM (SELECT query_id, cand_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rk FROM lagg) WHERE rk <= 20),
        |u AS (SELECT query_id, cand_id, 1000000 // (60 + rk) AS c FROM dense
        |  UNION ALL SELECT query_id, cand_id, 1000000 // (60 + rk) FROM lex),
        |fused AS (SELECT query_id, cand_id, CAST(sum(c) AS BIGINT) AS rrf_score, count(*) AS n_legs
        |  FROM u GROUP BY 1, 2),
        |r AS (SELECT query_id, cand_id, rrf_score, n_legs,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, cand_id) AS INTEGER) AS rk FROM fused)
        |SELECT query_id, cand_id, rrf_score, n_legs, rk FROM r WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin)),


    Q("x9_curation_e2e",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        // quality filter via the SHARED predicate (TextAnalysis
        // .qualityKeepPred — same definition the streaming path uses);
        // a direct filter, no join against the score frame needed
        val hq = docs.filter(TextAnalysis.qualityKeepPred("text"))
          .select("doc_id", "lang", "text")
        // MODEL-BASED quality gate beside the heuristic one (the CCNet
        // two-filter shape): the lang-trained fastText-style classifier
        // (x3_quality_classifier's exact model — which measures training +
        // inference live) keeps only positive-evidence documents. A trained
        // classifier is a STANDING artifact — production curation scores
        // with a model trained once, it does not re-train per run — so the
        // keep set is a fixture; the gate itself (one semi join) is live.
        val clf = Fixtures.once(s, dir, "quality_clf_keep") {
          Par.materialize(TextAnalysis.qualityClassifier(docs,
              docs.filter(col("lang") === "en"),
              docs.filter(col("lang") =!= "en"), "doc_id", "text")
            .filter(col("keep")).select("doc_id")).head
        }
        val q = hq.join(clf, Seq("doc_id"), "semi")
        // materialized by exactByKey: consumed by the pair filter, the
        // cluster labeling, and the survivor join — three readers, one execution
        val ex = Dedup.exactByKey(q, Seq("text"), "doc_id")
        // standing pair-list fixture + the pointwise subset property: the
        // near-dup pairs of the quality-filtered, exact-deduped corpus are
        // the full-corpus pairs with both endpoints surviving into `ex` —
        // a production curation run consumes the dedup service's maintained
        // pair list the same way, it does not re-run LSH over the corpus
        val exIds = ex.select("doc_id")
        val pairs = lshPairsFx(s, dir)
          .join(exIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "semi")
          .join(exIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "semi")
        val surv = ex.join(
          Dedup.dedupClusters(ex, "doc_id", pairs)
            .filter(col("doc_id") === col("cluster")).select("doc_id"),
          Seq("doc_id"))
        val flagged = Dedup.ngramContamination(surv, "doc_id", "text",
          docs.filter(col("doc_id") < 100), 5)
        // broadcast contract: `flagged` is bounded by the benchmark's
        // n-gram reach (held-out eval sets are small by nature) — see the
        // same note on x1_decontaminate_neardup
        val dec = surv.filter(col("doc_id") >= 100)
          .join(broadcast(flagged.select("doc_id")), Seq("doc_id"), "left_anti")
        val mix = Relational.weightedMix(dec, "doc_id", "lang",
          Map("en" -> 50, "de" -> 25), defaultPct = 10)
        TextAnalysis.packSequences(mix, "doc_id", "text", "lang", binTokens = 512)
          .select("doc_id", "shard", "n_tok", "cum_tok", "bin")
          .orderBy("doc_id")
      },
      Some {
        val grams5 = (ws: String) =>
          s"list_filter(list_transform(range(0, len($ws) + 1), " +
            s"i -> CASE WHEN i + 5 <= len($ws) THEN array_to_string($ws[i+1:i+5], ' ') END), " +
            "x -> x IS NOT NULL)"
        s"""WITH RECURSIVE
          |hq AS (SELECT doc_id, lang, text FROM documents
          |  WHERE $duckQualityPred),
          |cws AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
          |cfeats AS (
          |  SELECT doc_id, lang, unnest(ws) AS f FROM cws
          |  UNION ALL
          |  SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS f FROM cws),
          |cfb AS (SELECT doc_id, lang, ${duckHex("md5(f)")} % 2048 AS bucket FROM cfeats),
          |cpc AS (SELECT bucket, count(*) AS cp FROM cfb WHERE lang = 'en' GROUP BY 1),
          |cnc AS (SELECT bucket, count(*) AS cn FROM cfb WHERE lang <> 'en' GROUP BY 1),
          |cpt AS (SELECT CAST(sum(cp) AS BIGINT) AS pt FROM cpc),
          |cnt AS (SELECT CAST(sum(cn) AS BIGINT) AS nt FROM cnc),
          |cw AS (SELECT COALESCE(cpc.bucket, cnc.bucket) AS bucket,
          |  (length(printf('%b', (nt + 2048) // (COALESCE(cn, 0) + 1))) - 1)
          |  - (length(printf('%b', (pt + 2048) // (COALESCE(cp, 0) + 1))) - 1) AS w
          |  FROM cpc FULL OUTER JOIN cnc ON cpc.bucket = cnc.bucket CROSS JOIN cpt CROSS JOIN cnt),
          |csc AS (SELECT cfb.doc_id, CAST(sum(COALESCE(cw.w, 0)) AS BIGINT) AS score
          |  FROM cfb LEFT JOIN cw USING (bucket) GROUP BY 1),
          |q AS (SELECT hq.* FROM hq JOIN csc USING (doc_id) WHERE score > 0),
          |ex AS (SELECT doc_id, lang, text FROM (
          |  SELECT doc_id, lang, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q)
          |  WHERE rn = 1),
          |${duckMinhashCtes("SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM ex", 8, 19, 20)},
          |edges AS (SELECT id_a AS src, id_b AS dst FROM verified UNION SELECT id_b, id_a FROM verified),
          |r(doc_id, lab) AS (SELECT doc_id, doc_id FROM ex
          |  UNION SELECT e.dst, r.lab FROM r JOIN edges e ON r.doc_id = e.src),
          |cl AS (SELECT doc_id, min(lab) AS cluster FROM r GROUP BY doc_id),
          |surv AS (SELECT e.doc_id, e.lang, e.text FROM ex e
          |  JOIN cl ON cl.doc_id = e.doc_id WHERE cl.cluster = e.doc_id),
          |bws AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
          |  FROM documents WHERE doc_id < 100),
          |bg AS (SELECT DISTINCT unnest(${grams5("ws")}) AS tok FROM bws),
          |sws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM surv),
          |sg AS (SELECT DISTINCT doc_id, unnest(${grams5("ws")}) AS tok FROM sws),
          |flagged AS (SELECT DISTINCT doc_id FROM sg JOIN bg USING (tok)),
          |dec AS (SELECT doc_id, lang, text FROM surv
          |  WHERE doc_id >= 100 AND doc_id NOT IN (SELECT doc_id FROM flagged)),
          |mix AS (SELECT doc_id, lang, text FROM dec
          |  WHERE ${duckHex("md5(CAST(doc_id AS VARCHAR))")} % 100 <
          |    $duckMixCase)
          |SELECT doc_id, lang AS shard, n_tok,
          |  CAST(sum(n_tok) OVER w AS BIGINT) AS cum_tok,
          |  CAST(floor((sum(n_tok) OVER w - n_tok) / 512) AS BIGINT) AS bin
          |FROM (SELECT doc_id, lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok FROM mix)
          |WINDOW w AS (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY doc_id""".stripMargin
      }),
  )
}
