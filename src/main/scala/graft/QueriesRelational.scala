package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.functions.ArrayOps.portableHll
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

/** Registry family: projections, filters, joins, aggregates, windows, set ops, function families (P/O/U/F/A/J/W). See [[Queries]] for the assembled registry
  * and [[QuerySupport]] for the shared helpers/oracle fragments.
  */
private[graft] object QueriesRelational {
  val defs: Seq[Q] = Seq(

    // J13 — POINT-IN-TIME (temporal) join (Relational.temporalJoin): each
    // order joins the customer-dimension VERSION in effect at its order
    // date — the standard consumer of an SCD2 dimension. Keys ≡ 0 mod 7
    // change segment at 1998-01-01 (two versions partitioning time), the
    // rest carry one open version; the equi-join + validity residual fans
    // out only by the bounded versions-per-key, never a range explosion.
    // ISO-string dates keep the comparison engine-identical. The oracle is
    // the CASE formulation of "which version was in effect".
    Q("j13_temporal_join",
      (s, dir) => {
        val c = rd(s, dir, "customer")
        val v1 = c.select(col("c_custkey"), col("c_mktsegment"),
          lit("1900-01-01").as("valid_from"),
          when(col("c_custkey") % 7 === 0, lit("1998-01-01"))
            .otherwise(lit(null).cast("string")).as("valid_to"),
          (col("c_custkey") % 7 =!= 0).as("is_current"))
        val v2 = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("SEG-CHANGED").as("c_mktsegment"),
            lit("1998-01-01").as("valid_from"), lit(null).cast("string").as("valid_to"),
            lit(true).as("is_current"))
        val facts = rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("t"))
        Relational.temporalJoin(facts, v1.unionByName(v2), "o_custkey", "c_custkey", "t")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT CASE WHEN o_custkey % 7 = 0 AND strftime(o_orderdate, '%Y-%m-%d') >= '1998-01-01'
        |  THEN 'SEG-CHANGED' ELSE c_mktsegment END AS c_mktsegment,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P10 — join-key skew diagnostic (Relational.skewReport): the report a
    // 100 TB join runs FIRST — top-k heaviest keys with exact counts and
    // integer ppm share, the n_max input to the salts sizing rule and the
    // number that says whether a key will serialize its join task.
    // l_returnflag is deliberately pathological (3 keys, percent-scale
    // shares): the report must surface exactly that. One partial-agg
    // groupBy + top-k heap + a broadcast 1-row total.
    Q("p10_skew_report",
      (s, dir) => Relational.skewReport(rd(s, dir, "lineitem"), "l_returnflag", 3),
      Some("""WITH c AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys FROM c)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, l_returnflag) AS INTEGER) AS rk,
        |  l_returnflag, cnt, CAST(cnt * 1000000 // n_rows AS BIGINT) AS share_ppm, n_rows, n_keys
        |FROM c CROSS JOIN t ORDER BY cnt DESC, l_returnflag LIMIT 3""".stripMargin)),

    // P11 — partition checksum audit (Relational.partitionChecksum): per
    // partition, row count + an ORDER-INDEPENDENT integer checksum (sum of
    // per-row md5-head integers over the snapshotDiff-style column
    // fingerprint) — the cross-replica consistency check a replicated
    // table runs instead of comparing rows; addition commutes, so the
    // aggregate partial-combines map-side and no sort ever happens.
    Q("p11_partition_checksum",
      (s, dir) => Relational.partitionChecksum(rd(s, dir, "orders"),
          "o_orderpriority", Seq("o_orderkey", "o_orderstatus"))
        .orderBy("o_orderpriority"),
      Some {
        val fp = "md5(COALESCE(md5(CAST(o_orderkey AS VARCHAR)), 'null') || '|' || " +
          "COALESCE(md5(CAST(o_orderstatus AS VARCHAR)), 'null'))"
        s"""SELECT o_orderpriority, count(*) AS n_rows,
          |  CAST(sum(${duckHex(fp)}) AS BIGINT) AS checksum
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // A17 — exact weighted median per group (Relational.weightedMedian):
    // the 50% point of the WEIGHT mass — smallest value whose cumulative
    // weight doubles past the total. Integer-exact (no interpolation), one
    // (group, value) aggregate + one partitioned cumulative window.
    Q("a17_weighted_median",
      (s, dir) => Relational.weightedMedian(rd(s, dir, "lineitem"),
          "l_returnflag", "l_quantity", "l_linenumber")
        .orderBy("l_returnflag"),
      Some("""WITH byv AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |  CAST(sum(l_linenumber) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, w,
        |  sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |  sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM byv)
        |SELECT l_returnflag, CAST(min(v) AS BIGINT) AS weighted_median,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A18 — GROUPED KMV quantile sketch (Sketches.kmvQuantileGrouped):
    // the a14 bottom-k-by-hash sketch per group, with every window
    // PARTITIONED BY the group key — per-group state is k rows and
    // nothing orders globally. Estimate and exact emitted side by side
    // per (group, quantile), so sketch error is driver-visible.
    Q("a18_kmv_grouped",
      (s, dir) => Sketches.kmvQuantileGrouped(rd(s, dir, "orders"),
          "o_orderpriority", "o_orderkey", 64, Seq((1, 2), (9, 10)))
        .orderBy("o_orderpriority", "q_num"),
      Some("""WITH dom AS (SELECT DISTINCT o_orderpriority AS g, o_orderkey AS v FROM orders),
        |samp AS (SELECT g, v FROM (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY md5(CAST(v AS VARCHAR)), v) AS hrk FROM dom)
        |  WHERE hrk <= 64),
        |rkd AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS sn FROM samp),
        |ext AS (SELECT g, v, CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS erk,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS en FROM dom),
        |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS t(q_num, q_den)),
        |e1 AS (SELECT g, q_num, q_den, v AS est FROM qs JOIN rkd
        |  ON rk = (sn * q_num + q_den - 1) // q_den),
        |e2 AS (SELECT g, q_num, q_den, v AS "exact" FROM qs JOIN ext
        |  ON erk = (en * q_num + q_den - 1) // q_den)
        |SELECT e1.g AS o_orderpriority, e1.q_num, e1.q_den, est, "exact"
        |FROM e1 JOIN e2 ON e1.g = e2.g AND e1.q_num = e2.q_num AND e1.q_den = e2.q_den
        |ORDER BY 1, 2""".stripMargin)),

    // P9 — column profile report (Relational.profile): the Deequ-style
    // per-column summary (rows, nulls, distincts, stringified min/max in
    // long format) an ingest publishes before anyone writes constraints —
    // one single-pass multi-aggregate + a constant literal unpivot.
    Q("p9_profile",
      (s, dir) => Relational.profile(rd(s, dir, "orders"),
          Seq("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus"))
        .orderBy("column"),
      Some("""SELECT "column", n_rows, n_null, n_distinct, min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
        |    count(*) FILTER (o_orderkey IS NULL) AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s, CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL SELECT 'o_orderpriority', count(*),
        |    count(*) FILTER (o_orderpriority IS NULL), count(DISTINCT o_orderpriority),
        |    min(o_orderpriority), max(o_orderpriority) FROM orders
        |  UNION ALL SELECT 'o_totalprice', count(*),
        |    count(*) FILTER (o_totalprice IS NULL), count(DISTINCT o_totalprice),
        |    CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', count(*),
        |    count(*) FILTER (o_orderstatus IS NULL), count(DISTINCT o_orderstatus),
        |    min(o_orderstatus), max(o_orderstatus) FROM orders)
        |ORDER BY "column"""".stripMargin)),


    // P1 — IN-list filter (etl-vini-azure.py:78).
    Q("p1_filter_in",
      (s, dir) => Relational.inFilter(rd(s, dir, "orders"), "o_orderpriority",
        Seq("1-URGENT", "2-HIGH")).orderBy("o_orderkey"),
      Some("SELECT * FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') ORDER BY o_orderkey")),


    // P6 — explicit column selection (query_synapse.png SELECT list).
    Q("p6_projection",
      (s, dir) => rd(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey")),


    // O1 — global sort (codes/bronzeToSilver.scala:9).
    Q("o1_sort",
      (s, dir) => Relational.sort(rd(s, dir, "part"), col("p_retailprice").desc, col("p_partkey")),
      Some("SELECT * FROM part ORDER BY p_retailprice DESC, p_partkey")),


    // O2 — top-k (query_synapse.png TOP 100) → TakeOrderedAndProject.
    Q("o2_topk",
      (s, dir) => Relational.topK(rd(s, dir, "orders"), 100, col("o_totalprice").desc, col("o_orderkey")),
      Some("SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),


    // O3 — full scan (query_cosmosdb.png SELECT *).
    Q("o3_full_scan",
      (s, dir) => rd(s, dir, "supplier").orderBy("s_suppkey"),
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),


    // U1 — union-all of micro-batches (etl-vini-azure.py:67-77).
    Q("u1_union_all",
      (s, dir) => {
        val o = rd(s, dir, "orders")
        Relational.unionAll(Seq(
          o.filter(col("o_orderstatus") === "O"),
          o.filter(col("o_orderstatus") =!= "O"))).orderBy("o_orderkey")
      },
      Some("SELECT * FROM (SELECT * FROM orders WHERE o_orderstatus = 'O' " +
        "UNION ALL SELECT * FROM orders WHERE o_orderstatus <> 'O') ORDER BY o_orderkey")),


    // F1 — regexp_extract (etl-vini-azure.py:175-180's Spark analog).
    Q("f1_regexp",
      (s, dir) => Relational.regexpExtractCol(
        rd(s, dir, "part").select("p_partkey", "p_name"), "p_name", "^([a-z]+)", 1, "first_word")
        .orderBy("p_partkey"),
      Some("SELECT p_partkey, p_name, regexp_extract(p_name, '^([a-z]+)', 1) AS first_word " +
        "FROM part ORDER BY p_partkey")),


    // F2 — JSON extraction from a raw string column (events.props carries
    // JSON payloads). get_json_object is codegen'd path extraction — the
    // semi-structured surface every event pipeline needs; aggregated so the
    // extraction feeds a numeric pipeline, not just a projection.
    Q("f2_json_extract",
      (s, dir) => rd(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"), max(col("k")).as("k_max"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum, " +
        "max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max " +
        "FROM events GROUP BY 1 ORDER BY 1")),


    // F3 — date/time function family over the orders dates: truncation,
    // offset arithmetic, day difference, field extraction. Rendered as
    // formatted strings / integers so both engines share the surface.
    Q("f3_datetime_funcs",
      (s, dir) => rd(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          datediff(to_date(lit("2022-12-31")), to_date(col("o_orderdate"))).as("days_to_eoy"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, " +
        "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, " +
        "strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2022-12-31') AS INTEGER) AS days_to_eoy, " +
        "CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow, " +
        "CAST(quarter(o_orderdate) AS INTEGER) AS qtr " +
        "FROM orders ORDER BY o_orderkey")),


    // F4 — string function family over customer names: case, padding,
    // slicing, concatenation, edit distance (the fuzzy-match primitive).
    Q("f4_string_funcs",
      (s, dir) => rd(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
          substring(col("c_name"), 1, 8).as("prefix8"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
          levenshtein(col("c_name"), reverse(col("c_name"))).as("lev_rev"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, upper(c_name) AS uname, " +
        "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key, " +
        "substring(c_name, 1, 8) AS prefix8, " +
        "concat_ws('|', c_mktsegment, c_name) AS seg_name, " +
        "CAST(levenshtein(c_name, reverse(c_name)) AS INTEGER) AS lev_rev " +
        "FROM customer ORDER BY c_custkey")),


    // A3 — rollup (grouping-sets family; Catalyst built-in, SURVEY §2.3 notes
    // these come for free — demonstrated here with subtotal + grand-total
    // rows). Rollup NULL keys are COALESCEd to a sentinel on both sides —
    // NULL rendering and NULL sort order both leave the hash — and the
    // computed decimal is rendered as string (see strCols above). The data
    // columns carry no real NULLs or 'ALL' values, so the sentinel is
    // unambiguous.
    Q("a3_rollup",
      (s, dir) => rd(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("qty").cast("string").as("qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, " +
        "coalesce(l_linestatus, 'ALL') AS l_linestatus, n, CAST(qty AS VARCHAR) AS qty FROM (" +
        "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)) " +
        "ORDER BY l_returnflag, l_linestatus")),


    // A4 — approximate distinct via an engine-portable HyperLogLog sketch
    // (md5-derived hashes, integer bucket/rank math, power-of-two harmonic
    // sum — exact in IEEE double at any aggregation order), emitted as an
    // integer alongside the exact count so the whole sketch is hash-checkable
    // against DuckDB computing the identical formula.
    Q("a4_approx_distinct",
      (s, dir) => Sketches.hllDistinct(rd(s, dir, "orders"), "o_custkey", 6),
      Some {
        val alphaM2 = Sketches.alphaTimesM2(6)
        s"""WITH h AS (SELECT ${duckHex("md5(CAST(o_custkey AS VARCHAR))")} AS h FROM orders),
          |b AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM h),
          |r AS (SELECT bucket, CASE WHEN rest = 0 THEN 27 ELSE 27 - length(printf('%b', rest)) END AS rank FROM b),
          |mx AS (SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket),
          |agg AS (SELECT count(*) AS nb, sum(power(2.0, -max_rank)) AS s_obs FROM mx)
          |SELECT (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_distinct,
          | CAST(floor($alphaM2 / (s_obs + (64 - nb)) * 10000) AS BIGINT) AS hll_estimate_e4
          |FROM agg""".stripMargin
      }),


    // U2 — INTERSECT (SURVEY §2.6: the reference has no set ops beyond
    // union-all; these round out the free Catalyst surface with oracle rows).
    Q("u2_intersect",
      (s, dir) => Relational.intersectDistinct(
        rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        rd(s, dir, "orders").filter(col("o_orderpriority") === "2-HIGH").select("o_custkey"))
        .orderBy("o_custkey"),
      Some("SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH' ORDER BY o_custkey")),


    // U3 — EXCEPT.
    // U4 — symmetric difference with side attribution: which distinct keys
    // are exclusive to each side and WHICH side — the reconciliation
    // report two supposedly-equal extracts are diffed with (S16's
    // snapshotDiff is the row-level form; this is the key-set form).
    // Full-outer join on distinct key sets, null-side classification.
    Q("u4_symmetric_diff",
      (s, dir) => {
        val a = rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey").distinct().withColumn("__a", lit(1))
        val b = rd(s, dir, "orders").filter(col("o_orderpriority") === "2-HIGH")
          .select("o_custkey").distinct().withColumn("__b", lit(1))
        a.join(b, Seq("o_custkey"), "full_outer")
          .filter(col("__a").isNull || col("__b").isNull)
          .select(col("o_custkey"),
            when(col("__b").isNull, "left_only").otherwise("right_only").as("side"))
          .orderBy("o_custkey")
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |  CASE WHEN b.o_custkey IS NULL THEN 'left_only' ELSE 'right_only' END AS side
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL
        |ORDER BY o_custkey""".stripMargin)),


    Q("u3_except",
      (s, dir) => Relational.exceptDistinct(
        rd(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        rd(s, dir, "orders").filter(col("o_orderpriority") === "2-HIGH").select("o_custkey"))
        .orderBy("o_custkey"),
      Some("SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH' ORDER BY o_custkey")),


    // J1 — broadcast equi-join + aggregation (capability, SURVEY §2.4/§7.3).
    // revenue is summed exactly in decimal, then rendered as string (strCols).
    Q("j1_join_agg",
      (s, dir) => strCols(
        Relational.joinAgg(rd(s, dir, "orders"), rd(s, dir, "customer"),
          "o_custkey", "c_custkey", "c_mktsegment",
          Seq(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).as("revenue")))
          .orderBy("c_mktsegment"),
        Seq("revenue")),
      Some("SELECT c_mktsegment, n_orders, CAST(revenue AS VARCHAR) AS revenue FROM (" +
        "SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment) ORDER BY c_mktsegment")),


    // J2 — left-semi join (capability, SURVEY §2.4/§7.3).
    Q("j2_semi_join",
      (s, dir) => Relational.semiJoin(rd(s, dir, "part"),
        rd(s, dir, "lineitem").filter(col("l_quantity") > 45).select("l_partkey"),
        "p_partkey", "l_partkey").orderBy("p_partkey"),
      Some("SELECT * FROM part WHERE p_partkey IN " +
        "(SELECT l_partkey FROM lineitem WHERE l_quantity > 45) ORDER BY p_partkey")),


    // J3 — left outer join: every customer row survives; the order side is
    // NULL for customers with no qualifying order. NULLs are COALESCEd to
    // typed sentinels on both sides so NULL representation stays out of the
    // hash (asof_join precedent). o_totalprice is a raw double (no computed
    // arithmetic), so the -1.0 sentinel keeps the column double end-to-end.
    Q("j3_left_join",
      (s, dir) => rd(s, dir, "customer").select("c_custkey")
        .join(rd(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select("o_custkey", "o_orderkey", "o_totalprice"),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
          coalesce(col("o_totalprice"), lit(-1.0)).as("o_totalprice"))
        .orderBy("c_custkey", "o_orderkey"),
      Some("SELECT c_custkey, coalesce(o_orderkey, -1) AS o_orderkey, " +
        "coalesce(o_totalprice, -1.0) AS o_totalprice FROM customer " +
        "LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o ON c_custkey = o_custkey " +
        "ORDER BY c_custkey, o_orderkey")),


    // J4 — left-anti join: customers with no orders at all (the existence-
    // negation dual of j2's semi join; carries nothing from the right side).
    Q("j4_anti_join",
      (s, dir) => rd(s, dir, "customer")
        .join(rd(s, dir, "orders").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c.c_custkey) ORDER BY c_custkey")),


    // W1 — row_number per group (deterministic replacement for P4).
    Q("w1_row_number",
      (s, dir) => Relational.rowNumberPerGroup(
        rd(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey"))).orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, " +
        "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn " +
        "FROM orders ORDER BY o_orderkey")),


    // W2 — rolling min/max frame window (windowed generalization of A1).
    Q("w2_rolling_minmax",
      (s, dir) => Relational.rollingMinMax(
        rd(s, dir, "events").select("event_id", "user_id", "value"),
        "value", Seq("user_id"), Seq(col("event_id")), 2).orderBy("event_id"),
      Some("SELECT event_id, user_id, value, " +
        "min(value) OVER w AS roll_min, max(value) OVER w AS roll_max FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id")),


    // W3 — lag/lead offset window functions (prior order's price and next
    // order's key per customer). Edge NULLs COALESCEd to typed sentinels.
    Q("w3_lag_lead",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        rd(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
          .withColumn("prev_price", coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0)))
          .withColumn("next_key", coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, " +
        "coalesce(lag(o_totalprice, 1) OVER w, -1.0) AS prev_price, " +
        "coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_key FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_orderkey")),


    // A5 — cube (all grouping-set combinations; completes the rollup family).
    Q("a5_cube",
      (s, dir) => rd(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, " +
        "coalesce(l_linestatus, 'ALL') AS l_linestatus, n FROM (" +
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
        "GROUP BY CUBE(l_returnflag, l_linestatus)) " +
        "ORDER BY l_returnflag, l_linestatus")),


    // A6 — exact percentiles (quartiles) per group, computed by the
    // sort-based Relational.exactPercentiles (NOT Spark's percentile()
    // aggregate, whose per-group value→count map is unbounded memory when
    // values are near-unique — this form is a spill-friendly key-partitioned
    // sort). The interpolation replicates percentile()/quantile_cont's
    // (n-1)*p definition bit-for-bit; with p ∈ {.25,.5,.75} the fraction is
    // an exact binary value, so the double result is bit-identical before
    // the fixed-point cast.
    Q("a6_percentile",
      (s, dir) => {
        val pct = Relational.exactPercentiles(rd(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        pct.select(col("l_returnflag"),
            col("p25").cast(DecimalType(18, 4)).cast("string").as("p25"),
            col("p50").cast(DecimalType(18, 4)).cast("string").as("p50"),
            col("p75").cast(DecimalType(18, 4)).cast("string").as("p75"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "CAST(CAST(quantile_cont(l_extendedprice, 0.25) AS DECIMAL(18,4)) AS VARCHAR) AS p25, " +
        "CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,4)) AS VARCHAR) AS p50, " +
        "CAST(CAST(quantile_cont(l_extendedprice, 0.75) AS DECIMAL(18,4)) AS VARCHAR) AS p75 " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),


    // A7 — pivot (wide aggregation): one row per return flag, one column per
    // line status. Spark's pivot with explicit values is a single partial-agg
    // pass — no per-column scans. Absent (flag, status) cells are COALESCEd
    // to a sentinel on both sides so NULL rendering never reaches the hash.
    Q("a7_pivot",
      (s, dir) => rd(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)))
        .select(col("l_returnflag"),
          coalesce(col("F").cast("string"), lit("-")).as("qty_f"),
          coalesce(col("O").cast("string"), lit("-")).as("qty_o"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "coalesce(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DECIMAL(18,2)) AS VARCHAR), '-') AS qty_f, " +
        "coalesce(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O') AS DECIMAL(18,2)) AS VARCHAR), '-') AS qty_o " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),


    // A8 — explicit GROUPING SETS (the general form rollup/cube specialize).
    // Expressed through spark.sql: the declarative SQL surface is part of the
    // engine's API, and Catalyst plans it as a single Expand + aggregate.
    Q("a8_grouping_sets",
      (s, dir) => {
        rd(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, " +
          "coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS n " +
          "FROM lineitem_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())")
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, " +
        "coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS n " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY 1, 2")),


    // A11 — unpivot (melt), the inverse of A7: gold's min/max/diff columns
    // become (metric, value) rows. Catalyst plans Expand — one pass, row
    // count × 3, no shuffle before the final sort.
    Q("a11_unpivot",
      (s, dir) => Medallion.silverToGold(rd(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", asOf)
        .select(col("l_returnflag"),
          col("min_value").cast("string").as("min_value"),
          col("max_value").cast("string").as("max_value"),
          col("diff").cast("string").as("diff"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("min_value"), col("max_value"), col("diff")),
          "metric", "value")
        .orderBy("l_returnflag", "metric"),
      Some(s"WITH gold AS ($goldCte) " +
        "SELECT l_returnflag, metric, value FROM (" +
        "SELECT l_returnflag, 'min_value' AS metric, CAST(min_value AS VARCHAR) AS value FROM gold " +
        "UNION ALL SELECT l_returnflag, 'max_value', CAST(max_value AS VARCHAR) FROM gold " +
        "UNION ALL SELECT l_returnflag, 'diff', CAST(diff AS VARCHAR) FROM gold) " +
        "ORDER BY l_returnflag, metric")),


    // J6 — correlated EXISTS subquery through the spark.sql surface;
    // Catalyst rewrites it to the same left-semi join j2 builds with the
    // DataFrame API (the SQL front door to the join surface).
    Q("j6_exists_subquery",
      (s, dir) => {
        rd(s, dir, "orders").createOrReplaceTempView("orders_j6")
        rd(s, dir, "lineitem").createOrReplaceTempView("lineitem_j6")
        s.sql("SELECT o_orderkey, o_totalprice FROM orders_j6 o WHERE EXISTS (" +
          "SELECT 1 FROM lineitem_j6 l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders o WHERE EXISTS (" +
        "SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) " +
        "ORDER BY o_orderkey")),


    // J7 — multiway join + aggregation: the optimizer-ordering showcase
    // (customer ⋈ orders ⋈ lineitem, then segment/flag revenue). Declared
    // through spark.sql so Catalyst owns join order, build-side choice, and
    // AQE re-planning — nothing is hand-scheduled.
    Q("j7_multiway_join",
      (s, dir) => {
        rd(s, dir, "customer").createOrReplaceTempView("customer_j7")
        rd(s, dir, "orders").createOrReplaceTempView("orders_j7")
        rd(s, dir, "lineitem").createOrReplaceTempView("lineitem_j7")
        s.sql("SELECT c_mktsegment, l_returnflag, count(*) AS n, " +
          "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (100 - CAST(l_discount * 100 AS DECIMAL(12,0)))) " +
          "AS DECIMAL(24,2)) AS STRING) AS revenue_e2 " +
          "FROM customer_j7 JOIN orders_j7 ON c_custkey = o_custkey " +
          "JOIN lineitem_j7 ON l_orderkey = o_orderkey " +
          "GROUP BY c_mktsegment, l_returnflag")
          .orderBy("c_mktsegment", "l_returnflag")
      },
      Some("SELECT c_mktsegment, l_returnflag, count(*) AS n, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (100 - CAST(l_discount * 100 AS DECIMAL(12,0)))) " +
        "AS DECIMAL(24,2)) AS VARCHAR) AS revenue_e2 " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY c_mktsegment, l_returnflag ORDER BY 1, 2")),


    // J8 — bucketed co-located join: both sides written bucketBy(8) on the
    // join key, so the sort-merge join (hinted; the small side would
    // otherwise broadcast at test scale) reads pre-partitioned buckets and
    // the whole join+agg pipeline plans with ZERO exchanges before the final
    // output sort — asserted in PlanSpec. At 100 TB this is the technique
    // for repeated joins on one key: pay the shuffle once at write time,
    // never again.
    Q("j8_bucketed_join",
      (s, dir) => {
        val root = freshDir(s, "graft_bucketed")
        s.sql("DROP TABLE IF EXISTS graft_li_bucketed")
        s.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
        // repartition on the bucket key BEFORE the bucketed write: the
        // single-row-group source scan is one task, so the write otherwise
        // sorts and writes all 8 buckets serially. HashPartitioning uses
        // the same murmur3 hash as the bucket spec, so each task holds
        // exactly one bucket — same one-file-per-bucket layout, 8-way
        // parallel write (and the read-side zero-exchange plan is intact).
        rd(s, dir, "lineitem").select("l_orderkey", "l_quantity")
          .repartition(8, col("l_orderkey"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$root/li").saveAsTable("graft_li_bucketed")
        rd(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .repartition(8, col("o_orderkey"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$root/ord").saveAsTable("graft_ord_bucketed")
        s.table("graft_li_bucketed").hint("merge")
          .join(s.table("graft_ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
              .cast("string").as("qty"))
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, count(*) AS n, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1")),


    // A9 — the native single-pass HLL (a real Catalyst
    // TypedImperativeAggregate — the §2.10 custom-UDAF surface). Identical
    // estimate and oracle math to a4, but the aggregation state is a 64-byte
    // mergeable rank array partial-aggregated map-side: one pass, no
    // per-bucket rows on the shuffle at all.
    Q("a9_hll_native",
      (s, dir) => {
        rd(s, dir, "orders")
          .select(portableHll(col("o_custkey").cast("string")).as("hll_estimate_e4"))
      },
      Some {
        val alphaM2 = Sketches.alphaTimesM2(6)
        s"""WITH h AS (SELECT ${duckHex("md5(CAST(o_custkey AS VARCHAR))")} AS h FROM orders),
          |b AS (SELECT h % 64 AS bucket, h // 64 AS rest FROM h),
          |r AS (SELECT bucket, CASE WHEN rest = 0 THEN 27 ELSE 27 - length(printf('%b', rest)) END AS rank FROM b),
          |mx AS (SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket),
          |agg AS (SELECT count(*) AS nb, sum(power(2.0, -max_rank)) AS s_obs FROM mx)
          |SELECT CAST(floor($alphaM2 / (s_obs + (64 - nb)) * 10000) AS BIGINT) AS hll_estimate_e4 FROM agg""".stripMargin
      }),


    // A16 — the native HLL UDAF in its GROUPED form: per-priority distinct
    // customers via portable_hll as a per-group TypedImperativeAggregate —
    // exercising the sketch's partial-merge path per group key (the shape a
    // 100 TB rollup actually runs: map-side sketch partials, one 64-byte
    // state per (partition, group) on the wire). Exact countDistinct
    // emitted beside it, same discipline as a4/w12.
    Q("a16_hll_grouped",
      (s, dir) => {
        rd(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(expr("count(distinct o_custkey)").as("exact_distinct"),
            portableHll(col("o_custkey").cast("string")).as("hll_estimate_e4"))
          .orderBy("o_orderpriority")
      },
      Some {
        val alphaM2 = Sketches.alphaTimesM2(6)
        s"""WITH h AS (SELECT o_orderpriority AS p, o_custkey,
          |  ${duckHex("md5(CAST(o_custkey AS VARCHAR))")} AS h FROM orders),
          |b AS (SELECT p, h % 64 AS bucket, h // 64 AS rest FROM h),
          |r AS (SELECT p, bucket, CASE WHEN rest = 0 THEN 27 ELSE 27 - length(printf('%b', rest)) END AS rank FROM b),
          |mx AS (SELECT p, bucket, max(rank) AS max_rank FROM r GROUP BY 1, 2),
          |agg AS (SELECT p, count(*) AS nb, sum(power(2.0, -max_rank)) AS s_obs FROM mx GROUP BY 1),
          |ex AS (SELECT o_orderpriority AS p, count(DISTINCT o_custkey) AS exact_distinct FROM orders GROUP BY 1)
          |SELECT p AS o_orderpriority, exact_distinct,
          |  CAST(floor($alphaM2 / (s_obs + (64 - nb)) * 10000) AS BIGINT) AS hll_estimate_e4
          |FROM agg JOIN ex USING (p) ORDER BY 1""".stripMargin
      }),


    // A10 — skew-safe two-phase aggregate: salt the grouping key, partial-agg
    // on (key, salt), final-agg on key. Decimal partial sums are exact, so
    // the rewrite is semantics-preserving — the oracle is the DIRECT
    // aggregate, proving salting changes the plan, not the answer. This is
    // the mitigation applied when one group key dominates at scale.
    Q("a10_salted_agg",
      (s, dir) => rd(s, dir, "lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("ps"), count(lit(1)).as("pn"))
        .groupBy("l_returnflag")
        .agg(sum(col("ps")).cast(DecimalType(18, 2)).cast("string").as("qty"),
          sum(col("pn")).as("n"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty, " +
        "count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")),


    // J9 — skew-safe salted join: the join-side counterpart of a10. Fact rows
    // scatter across 16 sub-keys by a row-level hash, the dim replicates ×16,
    // and the hot key becomes 16 independent tasks. The oracle is the DIRECT
    // join — proving the salt rewrite changes the plan, not the answer.
    Q("j9_skew_salted_join",
      (s, dir) => Relational.saltedJoin(
          rd(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
          rd(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          "l_orderkey", "o_orderkey", "l_linenumber", salts = 16)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 2))
            .cast("string").as("qty"))
        .orderBy("o_orderpriority"),
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1")),


    // F6 — map functions: per-priority status→count maps built with
    // map_from_entries over sorted entries, probed with element_at, then
    // exploded back to rows. The roundtrip proves the map type plumbing
    // (build → lookup → explode) without leaving codegen'd built-ins; the
    // oracle is the flat aggregate the roundtrip must reproduce, plus the
    // probed lookup re-derived per group.
    Q("f6_map_funcs",
      (s, dir) => rd(s, dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .groupBy("o_orderpriority")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("o_orderstatus"), col("n"))))).as("m"))
        .withColumn("n_f", coalesce(element_at(col("m"), "F"), lit(-1L)))
        .select(col("o_orderpriority"), col("n_f"),
          explode(col("m")).as(Seq("o_orderstatus", "n")))
        .orderBy("o_orderpriority", "o_orderstatus"),
      Some("WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n " +
        "FROM orders GROUP BY 1, 2), " +
        "f AS (SELECT o_orderpriority, coalesce(max(CASE WHEN o_orderstatus = 'F' THEN n END), -1) AS n_f " +
        "FROM c GROUP BY 1) " +
        "SELECT c.o_orderpriority, f.n_f, c.o_orderstatus, c.n " +
        "FROM c JOIN f ON c.o_orderpriority = f.o_orderpriority " +
        "ORDER BY 1, 3")),


    // W4 — gap-based sessionization over the raw event stream (30-minute
    // gap). Gap arithmetic runs on integer µs-since-epoch on both sides
    // (tsUsSql normalizes whichever physical type the fixture carries; µs
    // is the finest precision both engines share).
    Q("w4_sessionize",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        Relational.sessionize(
          ev.withColumn("ts_us", expr(tsUsSql(ev.schema))),
          "user_id", "ts_us", "event_id", gapUs = 1800L * 1000 * 1000)
        .orderBy("user_id", "session_idx")
      },
      Some("WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events), " +
        "y AS (SELECT user_id, event_id, tus, CASE WHEN lag(tus) OVER w IS NULL " +
        "OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw FROM x " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), " +
        "z AS (SELECT user_id, tus, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY tus, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM y) " +
        "SELECT user_id, session_idx, min(tus) AS session_start, max(tus) AS session_end, " +
        "count(*) AS n_events FROM z GROUP BY 1, 2 ORDER BY 1, 2")),


    // W8 — ordered event FUNNEL (view → click → purchase): stage k completes
    // at the first event of its type STRICTLY AFTER stage k-1, so same-µs
    // ties never advance the funnel and the per-user completion times are
    // unambiguous integers. One conditional min-aggregate per stage chained
    // by co-partitioned shuffle-hash joins on user_id — no windows, no
    // per-user sort. The oracle replays the stage chain and pins stage
    // counts AND the summed end-to-end latency (actual timestamps, not just
    // cardinalities).
    Q("w8_funnel",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        Relational.funnel(ev.withColumn("ts_us", expr(tsUsSql(ev.schema))),
            "user_id", "event_type", "ts_us", Seq("view", "click", "purchase"))
          .agg(count(lit(1)).as("n_view"),
            count(col("t1")).as("n_view_click"),
            count(col("t2")).as("n_view_click_purchase"),
            sum(col("t2") - col("t0")).as("total_latency_us"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |s0 AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e JOIN s0 ON e.user_id = s0.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s0) AS n_view,
        |  (SELECT count(*) FROM s1) AS n_view_click,
        |  (SELECT count(*) FROM s2) AS n_view_click_purchase,
        |  (SELECT CAST(sum(t2 - t0) AS BIGINT) FROM s2 JOIN s0 USING (user_id)) AS total_latency_us""".stripMargin)),


    // W9 — cohort retention (weekly): entities cohort into the week of
    // their first event; each (cohort, weeks-since) cell counts entities
    // active that week. Pure integer week arithmetic (epoch-µs div week),
    // so the full matrix replays exactly; the (entity, week) distinct means
    // the cell count needs no countDistinct.
    Q("w9_retention",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        Relational.retention(ev.withColumn("ts_us", expr(tsUsSql(ev.schema))),
            "user_id", "ts_us", periodUs = 604800000000L)
          .orderBy("cohort", "periods_since")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS period FROM events),
        |co AS (SELECT user_id, min(period) AS cohort FROM ev GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, period FROM ev)
        |SELECT cohort, period - cohort AS periods_since, count(*) AS n_active
        |FROM act JOIN co USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // W10 — event transition matrix: per-user consecutive event-type
    // bigrams under the (ts, event_id) total order, counted corpus-wide —
    // the Markov session-flow statistic. One lag window off a single user
    // exchange; cells bounded by |event-type|².
    Q("w10_transitions",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        Relational.transitions(ev.withColumn("ts_us", expr(tsUsSql(ev.schema))),
            "user_id", "event_type", "ts_us", "event_id")
          .orderBy("from_type", "to_type")
      },
      Some("""WITH x AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events),
        |y AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS from_type FROM x)
        |SELECT from_type, to_type, count(*) AS n FROM y WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),


    // W11 — interval coalescing: per-user [ts, ts + dur] busy intervals
    // (dur a deterministic 1–7 min from event_id) merged into maximal
    // disjoint spans by the sweep-line prefix-max window. One entity
    // exchange + one sort feeds both windows; all-integer boundaries.
    Q("w11_interval_merge",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        val iv = ev.withColumn("ts_us", expr(tsUsSql(ev.schema)))
          .select(col("user_id"), col("event_id"), col("ts_us").as("iv_start"),
            (col("ts_us") + (pmod(col("event_id"), lit(7)) + 1) * 60000000L).as("iv_end"))
        Relational.coalesceIntervals(iv, "user_id", "iv_start", "iv_end", "event_id")
          .orderBy("user_id", "span_idx")
      },
      Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |  epoch_us(ts) + ((event_id % 7) + 1) * 60000000 AS e FROM events),
        |m AS (SELECT user_id, event_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM iv),
        |g AS (SELECT user_id, s, e,
        |  CAST(sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END) OVER
        |    (PARTITION BY user_id ORDER BY s, e, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_idx FROM m)
        |SELECT user_id, span_idx, min(s) AS span_start, max(e) AS span_end,
        |  count(*) AS n_intervals
        |FROM g GROUP BY 1, 2 ORDER BY user_id, span_idx""".stripMargin)),


    // J11 — big-big interval overlap join (Relational.intervalOverlapJoin):
    // even-id vs odd-id event intervals ([ts, ts+5min]) matched through
    // 5-min grid-cell equi-joins — the rewrite that replaces the quadratic
    // cartesian when BOTH interval sets are large. The max-start-cell
    // responsibility filter emits each overlapping pair exactly once with
    // no dedup; the oracle is the naive all-pairs overlap join.
    Q("j11_interval_overlap",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        val iv = ev.withColumn("ts_us", expr(tsUsSql(ev.schema)))
          .select(col("event_id"), col("ts_us").as("iv_s"),
            (col("ts_us") + 300000000L).as("iv_e"))
        Relational.intervalOverlapJoin(
            iv.filter(col("event_id") % 2 === 0), "event_id", "iv_s", "iv_e",
            iv.filter(col("event_id") % 2 === 1), "event_id", "iv_s", "iv_e",
            gridUs = 300000000L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH iv AS (SELECT event_id AS id, epoch_us(ts) AS s,
        |  epoch_us(ts) + 300000000 AS e FROM events),
        |a AS (SELECT * FROM iv WHERE id % 2 = 0), b AS (SELECT * FROM iv WHERE id % 2 = 1)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  greatest(a.s, b.s) AS overlap_start, least(a.e, b.e) AS overlap_end
        |FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin)),


    // J12 — nearest-in-time join (Relational.nearestJoin): each even-id
    // event pairs with the closest odd-id event of the same user in EITHER
    // direction, rule (|Δt|, earlier t, smaller id) — asof's bidirectional
    // refinement, one key exchange + two windows, no range explosion. The
    // oracle is a per-row LATERAL argmin over the naive candidate set.
    Q("j12_nearest",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        val e = ev.withColumn("ts_us", expr(tsUsSql(ev.schema)))
          .select("event_id", "user_id", "ts_us")
        Relational.nearestJoin(
            e.filter(col("event_id") % 2 === 0),
            e.filter(col("event_id") % 2 === 1),
            "user_id", "ts_us", "event_id", "event_id")
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT * FROM e WHERE event_id % 2 = 1)
        |SELECT l.event_id, l.user_id, l.ts_us, n.nearest_id, n.nearest_t
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r.event_id AS nearest_id, r.ts_us AS nearest_t FROM r
        |  WHERE r.user_id = l.user_id
        |  ORDER BY abs(r.ts_us - l.ts_us), r.ts_us, r.event_id LIMIT 1) n ON true
        |ORDER BY l.event_id""".stripMargin)),


    // W13 — time-weighted average (TimeSeries.timeWeighted): per-user TWA
    // over event values as the exact rational (Σ milli-value × Δt-µs,
    // observed span) — holding-time weighting with the last observation
    // contributing none; single-observation users surface as (0, 0, 1).
    Q("w13_time_weighted",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        graft.operators.TimeSeries.timeWeighted(
            ev.withColumn("ts_us", expr(tsUsSql(ev.schema))),
            "user_id", "ts_us", "value", "event_id")
          .orderBy("user_id")
      },
      Some("""WITH x AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |  CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT) AS vm FROM events),
        |y AS (SELECT *, lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt FROM x)
        |SELECT user_id,
        |  CAST(COALESCE(sum(vm * (nt - t)) FILTER (nt IS NOT NULL), 0) AS BIGINT) AS twa_num,
        |  max(t) - min(t) AS twa_den, count(*) AS n_obs
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin)),


    // W12 — sliding-window approximate distinct (Sketches.slidingHllDistinct):
    // trailing-7-day distinct users per day from per-day HLL sketches merged
    // by bucket max — the incremental rollup countDistinct cannot express
    // (daily sketch table bounded by days × m, window derived without
    // rescanning raw events). Exact countDistinct emitted beside the
    // estimate as the verification channel, same discipline as a4.
    Q("w12_sliding_distinct",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        Sketches.slidingHllDistinct(
            ev.withColumn("day", expr(s"(${tsUsSql(ev.schema)}) div 86400000000")),
            "user_id", "day", p = 6, frameDays = 7)
          .orderBy("day")
      },
      Some {
        val alphaM2 = Sketches.alphaTimesM2(6)
        s"""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
          |h AS (SELECT day, ${duckHex("md5(CAST(user_id AS VARCHAR))")} AS h FROM ev),
          |b AS (SELECT day, h % 64 AS bucket, h // 64 AS rest FROM h),
          |r AS (SELECT day, bucket,
          |  CASE WHEN rest = 0 THEN 27 ELSE 27 - length(printf('%b', rest)) END AS rank FROM b),
          |daily AS (SELECT day, bucket, max(rank) AS max_rank FROM r GROUP BY 1, 2),
          |days AS (SELECT DISTINCT day FROM ev),
          |frame AS (SELECT d.day AS day, s.bucket, max(s.max_rank) AS mr
          |  FROM days d JOIN daily s ON s.day BETWEEN d.day - 6 AND d.day GROUP BY 1, 2),
          |agg AS (SELECT day, count(*) AS nb, sum(power(2.0, -mr)) AS s_obs FROM frame GROUP BY 1),
          |ex AS (SELECT d.day AS day, count(DISTINCT e.user_id) AS exact_distinct
          |  FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day GROUP BY 1)
          |SELECT day, exact_distinct,
          |  CAST(floor($alphaM2 / (s_obs + (64 - nb)) * 10000) AS BIGINT) AS hll_estimate_e4
          |FROM agg JOIN ex USING (day) ORDER BY day""".stripMargin
      }),


    // W5 — RANGE frame window (value-based, vs W2's ROWS frame): per-customer
    // rolling 30-day order total. The frame is defined on integer day offsets
    // so both engines share exact frame boundaries; tied days fall in one
    // frame together, making the sum deterministic without a tie-break.
    Q("w5_range_frame",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-30, Window.currentRow)
        rd(s, dir, "orders")
          .withColumn("day", datediff(to_date(col("o_orderdate")), to_date(lit("2020-01-01"))))
          .withColumn("sum30",
            sum(col("o_totalprice").cast(DecimalType(12, 2))).over(w)
              .cast(DecimalType(18, 2)).cast("string"))
          .select("o_orderkey", "o_custkey", "day", "sum30")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, day, " +
        "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER " +
        "(PARTITION BY o_custkey ORDER BY day RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) " +
        "AS DECIMAL(18,2)) AS VARCHAR) AS sum30 " +
        "FROM (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "CAST(date_diff('day', DATE '2020-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day FROM orders) " +
        "ORDER BY o_orderkey")),


    // W6 — ranking family: rank / dense_rank / percent_rank are
    // tie-insensitive (same output for tied rows under any tie order);
    // ntile IS tie-sensitive, so it runs over an explicit total order.
    Q("w6_rank_family",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        val wt = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("pr", percent_rank().over(w).cast(DecimalType(10, 6)).cast("string"))
          .withColumn("nt", ntile(10).over(wt))
          // (l_orderkey, l_linenumber) is not unique in the synthetic data;
          // sort on every output column for a total order (duplicate source
          // rows are identical in all tie-insensitive columns, and nt breaks
          // the rest)
          .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "nt")
      },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, " +
        "CAST(rank() OVER w AS INTEGER) AS rnk, " +
        "CAST(dense_rank() OVER w AS INTEGER) AS drnk, " +
        "CAST(CAST(percent_rank() OVER w AS DECIMAL(10,6)) AS VARCHAR) AS pr, " +
        "CAST(ntile(10) OVER wt AS INTEGER) AS nt " +
        "FROM lineitem " +
        "WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity), " +
        "wt AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) " +
        "ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity, nt")),


    // J5 — range (band) join: quantity deciles derived from the region table
    // (5 rows, broadcast). The only scalable plan for a non-equi join against
    // a small dim — fact side streams once, never shuffles.
    Q("j5_range_join",
      (s, dir) => {
        val bands = rd(s, dir, "region").select(col("r_regionkey").as("band"),
          (col("r_regionkey") * 10).cast("double").as("lo"),
          ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))
        Relational.rangeJoin(rd(s, dir, "lineitem"), bands, "l_quantity", "lo", "hi")
          .groupBy("band")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).as("qty"))
          .select(col("band"), col("n"), col("qty").cast("string").as("qty"))
          .orderBy("band")
      },
      Some("SELECT r_regionkey AS band, count(*) AS n, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty " +
        "FROM lineitem JOIN region ON l_quantity >= r_regionkey * 10 AND l_quantity < (r_regionkey + 1) * 10 " +
        "GROUP BY 1 ORDER BY 1")),


    // Event-time tumbling window aggregate (batch form of the streaming path).
    // tsStampSql normalizes `ts` (ns-long or µs-NTZ, per fixture generation)
    // to a µs TIMESTAMP; bucket with window().
    Q("event_window_agg",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        ev
        .withColumn("ts_us", expr(tsStampSql(ev.schema)))
        .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).as("total"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total").cast("string").as("total"))
        .orderBy("window_start", "event_type")
      },
      Some("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, " +
        "event_type, count(*) AS n, " +
        "CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS total " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),


    // As-of join (operator Spark lacks natively; union+window idiom): each
    // click joined to the user's latest purchase value at-or-before it.
    // DuckDB's native ASOF JOIN is the oracle.
    Q("asof_join",
      (s, dir) => {
        val ev0 = rd(s, dir, "events")
        val ev = ev0.withColumn("ts_us", expr(tsUsSql(ev0.schema)))
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_us")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts_us")
          .agg(max(col("value").cast(DecimalType(12, 2))).as("p_value"))
        Relational.asOfJoin(clicks, purchases, "user_id", "ts_us", "event_id", "p_value")
          .withColumn("asof_p_value", coalesce(col("asof_p_value").cast("string"), lit("NA")))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, epoch_us(ts) AS ts_us, CAST(max(CAST(value AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS p_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts_us, COALESCE(CAST(p.p_value AS VARCHAR), 'NA') AS asof_p_value
        |FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
        |ORDER BY c.event_id""".stripMargin)),


    // W7 — calendar gap-fill + forward fill (time-series resampling): each
    // user's purchase panel densified to one row per day over the global
    // range, gaps carrying the last observed value forward. The fill uses
    // the portable running-count-of-observations idiom (no IGNORE NULLS).
    // Output bounded to user_id < 50 AFTER the full panel is computed.
    Q("w7_gap_fill",
      (s, dir) => {
        val ev = rd(s, dir, "events")
        graft.operators.TimeSeries.gapFillDaily(
          ev.filter(col("event_type") === "purchase"),
          "user_id",
          to_date(expr(tsStampSql(ev.schema))),
          col("value").cast(DecimalType(12, 2)))
        .filter(col("key") < 50)
        .select(col("key").as("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("v").cast("string"), lit("NA")).as("v"),
          coalesce(col("v_filled").cast("string"), lit("NA")).as("v_filled"))
        .orderBy("user_id", "day")
      },
      Some("""WITH p AS (SELECT user_id, date_trunc('day', ts) AS day,
        |  CAST(value AS DECIMAL(12,2)) AS v0 FROM events WHERE event_type = 'purchase'),
        |daily AS (SELECT user_id, day, max(v0) AS v FROM p GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |  FROM (SELECT DISTINCT user_id FROM daily), bounds),
        |j AS (SELECT s.user_id, s.day, d.v FROM spine s
        |  LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        |g AS (SELECT user_id, day, v, count(v) OVER (PARTITION BY user_id ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM j),
        |f AS (SELECT user_id, day, v, max(v) OVER (PARTITION BY user_id, grp) AS v_filled FROM g)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  coalesce(CAST(v AS VARCHAR), 'NA') AS v,
        |  coalesce(CAST(v_filled AS VARCHAR), 'NA') AS v_filled
        |FROM f WHERE user_id < 50 ORDER BY user_id, day""".stripMargin)),


    // A13 — count-min heavy hitters over the corpus token stream: the top-15
    // exact tokens alongside their count-min estimate (d=4 rows × w=256
    // buckets, md5-derived hashes — the whole sketch is integer arithmetic,
    // so the oracle recomputes it bit-for-bit). cm_est >= exact_cnt by
    // construction; the sketch itself is the constant-size mergeable
    // aggregate that replaces exact counting at stream scale.
    Q("a13_heavy_hitters",
      (s, dir) => Sketches.heavyHitters(
          // widen BEFORE the explode: the round-robin exchange ships ~3k doc
          // rows instead of the full token stream, and heavyHitters' internal
          // widen passes through (the frame is no longer a narrow scan chain)
          graft.operators.Par.widen(rd(s, dir, "documents"))
            .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("token")),
          "token", 4, 256, 15)
        .orderBy(col("exact_cnt").desc, col("value")),
      Some(s"""WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS v FROM documents),
        |seeds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) s(r)),
        |h AS (SELECT r, v, ${duckHex("md5(CAST(r AS VARCHAR) || ':' || v)")} % 256 AS bucket FROM toks CROSS JOIN seeds),
        |sk AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY 1, 2),
        |exact AS (SELECT v, count(*) AS exact_cnt FROM toks GROUP BY 1 ORDER BY exact_cnt DESC, v LIMIT 15),
        |pos AS (SELECT e.v, s.r, ${duckHex("md5(CAST(s.r AS VARCHAR) || ':' || e.v)")} % 256 AS bucket
        |  FROM exact e CROSS JOIN seeds s),
        |est AS (SELECT p.v, min(sk.cnt) AS cm_est FROM pos p
        |  JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket GROUP BY 1)
        |SELECT e.v AS value, e.exact_cnt, est.cm_est FROM exact e JOIN est ON e.v = est.v
        |ORDER BY exact_cnt DESC, value""".stripMargin)),


    // A14 — KMV quantile sketch (Sketches.kmvQuantile): bottom-k-by-md5
    // uniform sample of the distinct value domain answers quantiles without
    // a global sort (distinct agg + TakeOrderedAndProject heaps vs a6's full
    // sorted window). The hash order makes the sample partition-independent,
    // so estimate AND exact replay bit-for-bit; integer ceil ranks keep
    // floats out of the comparison surface entirely.
    // A15 — exact equi-depth histogram (Relational.equiDepthHistogram):
    // global ranks via the scalable surrogate-id pass (range exchange +
    // driver prefix sum, no single-task window), bucket = ((rank-1)*k) div N,
    // k-bounded aggregate. The data-derived band table j5-style range joins
    // would consume; the oracle recomputes the identical integer split.
    Q("a15_equidepth",
      (s, dir) => Relational.equiDepthHistogram(
          rd(s, dir, "orders").select("o_totalprice", "o_orderkey"),
          "o_totalprice", Seq("o_orderkey"), 8)
        .orderBy("bucket"),
      Some("""WITH r AS (SELECT o_totalprice AS v,
        |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |  count(*) OVER () AS n FROM orders)
        |SELECT ((rn - 1) * 8) // n AS bucket, min(v) AS lo, max(v) AS hi,
        |  count(*) AS n_rows
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),


    Q("a14_kmv_quantile",
      (s, dir) => Sketches.kmvQuantile(
          rd(s, dir, "orders").select(floor(col("o_totalprice")).as("price")),
          "price", 500, Seq((1, 4), (2, 4), (3, 4), (9, 10)))
        .orderBy("q_num", "q_den"),
      Some("""WITH domain AS (SELECT DISTINCT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
        |q AS (SELECT * FROM (VALUES (1, 4), (2, 4), (3, 4), (9, 10)) t(q_num, q_den)),
        |s AS (SELECT v FROM domain ORDER BY md5(CAST(v AS VARCHAR)), v LIMIT 500),
        |sr AS (SELECT v, row_number() OVER (ORDER BY v) AS rk,
        |  (SELECT count(*) FROM s) AS sn FROM s),
        |er AS (SELECT v, row_number() OVER (ORDER BY v) AS erk,
        |  (SELECT count(*) FROM domain) AS en FROM domain)
        |SELECT q.q_num, q.q_den, sr.v AS est, er.v AS exact
        |FROM q
        |JOIN sr ON sr.rk = (sr.sn * q.q_num + q.q_den - 1) // q.q_den
        |JOIN er ON er.erk = (er.en * q.q_num + q.q_den - 1) // q.q_den
        |ORDER BY q_num, q_den""".stripMargin)),


    // J10 — bloom-filter join pruning: a 4096-bit / 3-hash bloom built from
    // the BUILDING customer keys filters the orders probe side WITHOUT
    // shuffling it (each lookup is a broadcast join against the 128-word
    // table) — the semi-join-pushdown shape. Output is the confusion matrix
    // (bloom_pass × actual match), making the false-positive count itself
    // the oracle-checked value; false negatives are structurally impossible
    // and the (0,1) cell must be absent.
    Q("j10_bloom_prune",
      (s, dir) => {
        val cust = rd(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val words = Sketches.bloomWords(cust, "c_custkey", 4096, 3)
        val probed = Sketches.bloomProbe(
          rd(s, dir, "orders").select("o_orderkey", "o_custkey"),
          "o_custkey", words, 4096, 3)
        probed
          .join(broadcast(cust.withColumn("__m", lit(1)))
            .withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"), "left")
          .withColumn("is_match", coalesce(col("__m"), lit(0)))
          .groupBy("bloom_pass", "is_match").agg(count(lit(1)).as("n"))
          .orderBy("bloom_pass", "is_match")
      },
      Some(s"""WITH ck AS (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |seeds AS (SELECT * FROM (VALUES (0), (1), (2)) s(r)),
        |bpos AS (SELECT ${duckHex("md5(CAST(r AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR))")} % 4096 AS pos
        |  FROM ck CROSS JOIN seeds),
        |words AS (SELECT pos // 32 AS word_idx, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
        |  FROM bpos GROUP BY 1),
        |ppos AS (SELECT o_orderkey, o_custkey,
        |  ${duckHex("md5(CAST(r AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR))")} % 4096 AS pos
        |  FROM orders CROSS JOIN seeds),
        |pb AS (SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
        |  min(coalesce((w.word >> CAST(pos % 32 AS INTEGER)) & 1, 0)) AS bloom_pass
        |  FROM ppos LEFT JOIN words w ON w.word_idx = pos // 32 GROUP BY o_orderkey),
        |lab AS (SELECT CAST(pb.bloom_pass AS INTEGER) AS bloom_pass,
        |  CASE WHEN ck.c_custkey IS NULL THEN 0 ELSE 1 END AS is_match
        |  FROM pb LEFT JOIN ck ON pb.o_custkey = ck.c_custkey)
        |SELECT bloom_pass, is_match, count(*) AS n FROM lab GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),


    // P7 — data-quality constraint report (engine form of the reference
    // DDL's NOT NULL/type-width constraints, etl-vini-azure.py:87-90): one
    // streamed pass, one violation counter per rule, a row violating when
    // its predicate is false OR null. The discount rule fires on real rows,
    // proving the counter counts; the rest hold on the fixture data.
    Q("p7_constraint_check",
      (s, dir) => Relational.constraintReport(rd(s, dir, "lineitem"), Seq(
        "l_quantity_positive" -> (col("l_quantity") > 0),
        "l_extendedprice_nonneg" -> (col("l_extendedprice") >= 0),
        "l_shipdate_not_null" -> col("l_shipdate").isNotNull,
        "l_discount_le_5pct" -> (col("l_discount") <= 0.05),
        "l_returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"))),
      Some("""WITH a AS (SELECT
        |  count(*) FILTER (WHERE NOT coalesce(l_quantity > 0, FALSE)) AS c1,
        |  count(*) FILTER (WHERE NOT coalesce(l_extendedprice >= 0, FALSE)) AS c2,
        |  count(*) FILTER (WHERE NOT coalesce(l_shipdate IS NOT NULL, FALSE)) AS c3,
        |  count(*) FILTER (WHERE NOT coalesce(l_discount <= 0.05, FALSE)) AS c4,
        |  count(*) FILTER (WHERE NOT coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE)) AS c5
        |  FROM lineitem)
        |SELECT rule, n_violations FROM (
        |  SELECT 'l_quantity_positive' AS rule, c1 AS n_violations FROM a
        |  UNION ALL SELECT 'l_extendedprice_nonneg', c2 FROM a
        |  UNION ALL SELECT 'l_shipdate_not_null', c3 FROM a
        |  UNION ALL SELECT 'l_discount_le_5pct', c4 FROM a
        |  UNION ALL SELECT 'l_returnflag_domain', c5 FROM a)
        |ORDER BY rule""".stripMargin)),


    // P8 — constraint QUARANTINE (P7's row-level routing form): every
    // lineitem row carries the comma-joined names of the constraints it
    // violates (false-OR-NULL = violation, P7's discipline); the dump is
    // the dead-letter side only, bounded by orderkey. Pure map-side
    // projection — the clean/quarantine split costs one scan, no second
    // validation pass.
    Q("p8_quarantine",
      (s, dir) => Relational.quarantine(
          rd(s, dir, "lineitem").filter(col("l_orderkey") < 5000), Seq(
            "l_quantity_le_30" -> (col("l_quantity") <= 30),
            "l_discount_le_5pct" -> (col("l_discount") <= 0.05),
            "l_tax_le_4pct" -> (col("l_tax") <= 0.04)))
        .filter(size(col("violations")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(col("violations"), ",").as("viols"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""WITH q AS (SELECT l_orderkey, l_linenumber,
        |  array_to_string(list_filter([
        |    CASE WHEN NOT coalesce(l_quantity <= 30, FALSE) THEN 'l_quantity_le_30' END,
        |    CASE WHEN NOT coalesce(l_discount <= 0.05, FALSE) THEN 'l_discount_le_5pct' END,
        |    CASE WHEN NOT coalesce(l_tax <= 0.04, FALSE) THEN 'l_tax_le_4pct' END
        |  ], x -> x IS NOT NULL), ',') AS viols
        |  FROM lineitem WHERE l_orderkey < 5000)
        |SELECT l_orderkey, l_linenumber, viols FROM q WHERE viols <> ''
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),


    // A12 — incremental aggregate merge (the re-aggregation property behind
    // incremental view maintenance): yesterday's partition and today's are
    // pre-aggregated SEPARATELY, then merged by combining partials
    // (sum-of-sums, min-of-mins, max-of-maxes). The oracle is the direct
    // aggregate over everything — proving the merge is exact, which is what
    // lets a daily pipeline fold one day of new data into a 100 TB running
    // aggregate without ever rescanning history.
    Q("a12_incremental_agg",
      (s, dir) => {
        val li = rd(s, dir, "lineitem")
        def partial(part: DataFrame) = part.groupBy("l_returnflag")
          .agg(sum(col("l_quantity").cast(DecimalType(12, 2))).as("ps"),
            count(lit(1)).as("pn"),
            min(col("l_quantity").cast(DecimalType(12, 2))).as("pmin"),
            max(col("l_quantity").cast(DecimalType(12, 2))).as("pmax"))
        partial(li.filter(col("l_orderkey") % 7 =!= 0))
          .unionByName(partial(li.filter(col("l_orderkey") % 7 === 0)))
          .groupBy("l_returnflag")
          .agg(sum(col("ps")).cast(DecimalType(18, 2)).cast("string").as("qty"),
            sum(col("pn")).as("n"),
            min(col("pmin")).cast("string").as("min_qty"),
            max(col("pmax")).cast("string").as("max_qty"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty, " +
        "count(*) AS n, " +
        "CAST(min(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS min_qty, " +
        "CAST(max(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS max_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),


    // F5 — array function family: distinct → sort → slice → positional
    // explode (compared row-wise so no engine-specific array rendering
    // enters the hash).
    Q("f5_array_funcs",
      (s, dir) => rd(s, dir, "documents")
        .select(col("doc_id"),
          expr("slice(sort_array(array_distinct(filter(split(text, ' '), x -> x != ''))), 1, 5)").as("t5"))
        .select(col("doc_id"), posexplode(col("t5")).as(Seq("pos", "tok")))
        .orderBy("doc_id", "pos"),
      Some("WITH t AS (SELECT doc_id, " +
        "(list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))))[1:5] AS t5 FROM documents) " +
        "SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, tok FROM " +
        "(SELECT doc_id, unnest(range(1, len(t5) + 1)) AS i, unnest(t5) AS tok FROM t) " +
        "ORDER BY doc_id, pos")),
  )
}
