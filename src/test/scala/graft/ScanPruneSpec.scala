package graft

/** DSv2 LIMIT / TOP-N pushdown on the flat catalog scan
  * (SupportsPushDownLimit / SupportsPushDownTopN on GraftScanBuilder,
  * PARTIAL semantics): the scan prunes its planned FILE SET — LIMIT to
  * the shortest row-covering prefix by `_filestats` counts, TOP-N to the
  * files whose footer envelopes can intersect the top-n under the
  * declared direction and null ordering. Spark keeps its own
  * Limit/TakeOrderedAndProject, so every prune is a superset guarantee;
  * these tests pin that the prune HAPPENS on clustered layouts, that
  * results stay exact (vs full-scan truth), and that undecidable shapes
  * decline rather than narrow.
  */
class ScanPruneSpec extends SparkSpec {
  import TestSpark._

  private lazy val warehouse: String = {
    val w = tmpDir("gprune_wh")
    spark.conf.set("spark.sql.catalog.gpr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpr.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpr.db")
    // three commits with DISJOINT id hundreds → clustered layout; v is
    // NULL everywhere in the LAST commit (id >= 200) and nowhere else
    spark.sql("CREATE TABLE gpr.db.t (id BIGINT, v INT) " +
      "TBLPROPERTIES ('graft.stats.columns' = 'id')")
    Seq(0, 100, 200).foreach { lo =>
      spark.sql("INSERT INTO gpr.db.t SELECT id, " +
        s"CASE WHEN id >= 200 THEN NULL ELSE CAST(id AS INT) END " +
        s"FROM range($lo, ${lo + 100})")
    }
    w
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    "files=(\\d+)".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).getOrElse(-1)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val fullFiles: Int = {
    warehouse
    plannedFiles(spark.sql("SELECT id FROM gpr.db.t"))
  }

  test("limit pushdown: LIMIT plans a row-covering file prefix; result size exact") {
    warehouse
    val q = spark.sql("SELECT id FROM gpr.db.t LIMIT 7")
    assert(planOf(q).contains("PushedLimit: [7]"), planOf(q).take(600))
    assert(plannedFiles(q) < fullFiles, s"${plannedFiles(q)} vs full=$fullFiles")
    assert(q.collect().length == 7)
    // limit larger than the table: every file stays, still 300 rows
    assert(spark.sql("SELECT id FROM gpr.db.t LIMIT 10000").collect().length == 300)
  }

  test("topN pushdown: ASC and DESC prune to the envelope-candidate files; rows exact") {
    warehouse
    val asc = spark.sql(
      "SELECT id FROM gpr.db.t WHERE TRUE ORDER BY id LIMIT 5")
    // (WHERE TRUE folds away — plain sort+limit shape)
    val ascQ = spark.sql("SELECT id FROM gpr.db.t ORDER BY id LIMIT 5")
    assert(planOf(ascQ).contains("PushedTopN"), planOf(ascQ).take(600))
    assert(plannedFiles(ascQ) < fullFiles)
    assert(ascQ.collect().map(_.getLong(0)).toSeq == (0L to 4L).toSeq)
    val descQ = spark.sql("SELECT id FROM gpr.db.t ORDER BY id DESC LIMIT 5")
    assert(planOf(descQ).contains("PushedTopN"), planOf(descQ).take(600))
    assert(plannedFiles(descQ) < fullFiles)
    assert(descQ.collect().map(_.getLong(0)).toSeq == (299L to 295L by -1).toSeq)
    assert(asc.collect().length == 5)
  }

  test("topN pushdown: null ordering — NULLS FIRST keeps null-bearing files, NULLS LAST the value files") {
    warehouse
    // v is NULL exactly for id in [200, 300) — the third commit's files.
    // ASC NULLS FIRST (Spark default) with n <= #nulls: top rows all NULL
    val nf = spark.sql("SELECT id, v FROM gpr.db.t ORDER BY v LIMIT 5")
    assert(planOf(nf).contains("PushedTopN"), planOf(nf).take(600))
    assert(plannedFiles(nf) < fullFiles)
    assert(nf.collect().forall(_.isNullAt(1)))
    // ASC NULLS LAST: smallest non-null values win
    val nl = spark.sql("SELECT id, v FROM gpr.db.t ORDER BY v NULLS LAST LIMIT 5")
    assert(planOf(nl).contains("PushedTopN"), planOf(nl).take(600))
    assert(nl.collect().map(_.getInt(1)).toSeq == (0 to 4).toSeq)
  }

  test("topN pushdown on the PARTITION key prunes whole key groups (keyed scan)") {
    warehouse
    spark.sql("CREATE TABLE gpr.db.pk (id BIGINT, day STRING) " +
      "PARTITIONED BY (day) TBLPROPERTIES ('graft.stats.columns' = 'id')")
    spark.sql("INSERT INTO gpr.db.pk SELECT id, " +
      "CASE WHEN id >= 30 THEN NULL ELSE concat('d', 1 + CAST(id / 10 AS INT)) END " +
      "FROM range(0, 32)") // d1,d2,d3 x10 rows + 2 NULL-day rows
    def groupsOf(df: org.apache.spark.sql.DataFrame): Int =
      "groups=(\\d+)".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    // DESC (default NULLS LAST): only the top day's group plans
    val d = spark.sql("SELECT id, day FROM gpr.db.pk ORDER BY day DESC LIMIT 5")
    assert(planOf(d).contains("GraftKeyedScan") && planOf(d).contains("PushedTopN"),
      planOf(d).take(700))
    assert(groupsOf(d) == 1, planOf(d).take(700))
    assert(d.collect().forall(_.getString(1) == "d3"))
    // ASC NULLS LAST: the bottom day
    val a = spark.sql("SELECT id, day FROM gpr.db.pk ORDER BY day NULLS LAST LIMIT 5")
    assert(groupsOf(a) == 1 && a.collect().forall(_.getString(1) == "d1"),
      planOf(a).take(700))
    // ASC (default NULLS FIRST) with n <= null rows: only the NULL group
    val nf = spark.sql("SELECT id, day FROM gpr.db.pk ORDER BY day LIMIT 2")
    assert(groupsOf(nf) == 1 && nf.collect().forall(_.isNullAt(1)),
      planOf(nf).take(700))
  }

  test("partition-key topN over merge-on-read debt counts live rows, not footer rows") {
    warehouse
    import spark.implicits._
    def topDays(t: String, pruned: Boolean): Seq[String] = {
      val q = spark.sql(s"SELECT id, day FROM gpr.db.$t ORDER BY day DESC LIMIT 5")
      assert(planOf(q).contains("GraftKeyedScan") &&
        planOf(q).contains("PushedTopN") == pruned, planOf(q).take(700))
      q.collect().map(_.getString(1)).toSeq
    }
    Seq("pkpos", "pkkey").foreach { t =>
      spark.sql(s"CREATE TABLE gpr.db.$t (id BIGINT, day STRING) PARTITIONED BY (day) " +
        "TBLPROPERTIES ('graft.stats.columns' = 'id')") // records footer row counts
      spark.sql(s"INSERT INTO gpr.db.$t SELECT id, " +
        "concat('d', 1 + CAST(id / 10 AS INT)) FROM range(0, 30)") // d1,d2,d3 x10
    }
    // positional vector: the catalog UPDATE (merge-on-read by default) moves
    // every d3 row to d1 — d3's footer count stays 10, its live rows are 0
    spark.sql("UPDATE gpr.db.pkpos SET day = 'd1' WHERE day = 'd3'")
    assert(topDays("pkpos", pruned = true) == Seq.fill(5)("d2"))
    // key-form set holding d3's ids: it covers the whole insert dir, so no
    // file of any day has a provable count and every group stays
    graft.io.VersionedTable.deleteWhereMor(spark, s"$warehouse/db/pkkey",
      (20L until 30L).toDF("id"), "id", "pk-del")
    assert(topDays("pkkey", pruned = false) == Seq.fill(5)("d2"))
  }

  test("topN pushdown: INDEXED sort column resolves from side data — zero footer opens at plan time") {
    warehouse
    import graft.io.VersionedTable
    // id is a graft.stats.columns column and no commit has id-nulls, so
    // tier A (contract-stamped `_filestats` envelopes + side row counts +
    // the manifest's zero-null accounting) decides the whole prune — a
    // new snapshot version must not pay O(#files) driver footer IO
    val before = VersionedTable.footerReadsProbe.get()
    val q = spark.sql("SELECT id FROM gpr.db.t ORDER BY id DESC LIMIT 5")
    assert(planOf(q).contains("PushedTopN"), planOf(q).take(600))
    assert(plannedFiles(q) < fullFiles)
    assert(VersionedTable.footerReadsProbe.get() == before,
      s"indexed top-N prune opened ${VersionedTable.footerReadsProbe.get() - before} footers")
    assert(q.collect().map(_.getLong(0)).toSeq == (299L to 295L by -1).toSeq)
    // the footer-read cap: above it the prune DECLINES (superset kept)
    spark.conf.set("spark.graft.topNPrune.maxFooterFiles", "0")
    try {
      // v is NOT an indexed column → every file would need a footer; the
      // cap of 0 refuses that IO and the prune declines, still correct
      val vq = spark.sql("SELECT v FROM gpr.db.t ORDER BY v NULLS LAST LIMIT 3")
      assert(!planOf(vq).contains("PushedTopN"), planOf(vq).take(600))
      assert(vq.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    } finally spark.conf.unset("spark.graft.topNPrune.maxFooterFiles")
  }

  test("DATE columns in the skipping index: range/equality predicates prune commits; SQL retention delete by date") {
    warehouse
    import graft.io.{VersionedRelation, VersionedTable}
    spark.sql("CREATE TABLE gpr.db.dt (id BIGINT, d DATE, v BIGINT) " +
      "TBLPROPERTIES ('graft.stats.columns' = 'id,d')")
    // three commits with disjoint months → disjoint epoch-day envelopes
    Seq("2024-01", "2024-02", "2024-03").zipWithIndex.foreach { case (m, i) =>
      spark.sql(s"INSERT INTO gpr.db.dt SELECT id + ${i * 100}, " +
        s"date_add(DATE '$m-01', CAST(id % 5 AS INT)), id FROM range(0, 20)")
    }
    // a date RANGE reaches the manifest envelopes (epoch days) — two of
    // three commits never scan
    val q = spark.sql("SELECT id FROM gpr.db.dt WHERE d >= DATE '2024-03-01'")
    assert(q.collect().length == 20)
    val scan = VersionedRelation.lastScan
    assert(scan.dirsKept == 1 && scan.dirsTotal == 3, scan.toString)
    // equality prunes the same way (range [e, e])
    assert(spark.sql("SELECT id FROM gpr.db.dt WHERE d = DATE '2024-02-03'")
      .collect().nonEmpty)
    assert(VersionedRelation.lastScan.dirsKept == 1, VersionedRelation.lastScan.toString)
    // the SQL retention purge: an envelope-covered month drops
    // METADATA-ONLY through the range-delete verb — no dir rewritten
    val root = s"$warehouse/db/dt"
    val dirsBefore = VersionedTable.history(root).last.dirs
    spark.sql("DELETE FROM gpr.db.dt WHERE d < DATE '2024-02-01'")
    val after = VersionedTable.history(root).last
    assert(after.mode == "delete", after.mode)
    assert(after.dirs.size == 2 && after.dirs.forall(dirsBefore.contains),
      s"retention purge must drop metadata-only: ${after.dirs} vs $dirsBefore")
    assert(spark.table("gpr.db.dt").count() == 40L)
    // programmatic twin: epoch-day bounds on readRange
    val feb = java.time.LocalDate.parse("2024-02-01").toEpochDay
    val mar = java.time.LocalDate.parse("2024-02-29").toEpochDay
    assert(VersionedTable.readRange(spark, root, "d", feb, mar).count() == 20L)
    // OPEN-ENDED range through a REWRITTEN dir (regression: the
    // Long.MaxValue sentinel must clamp, not int-truncate, in the
    // survivor keep-predicate — truncation made this delete a no-op):
    // un-indexed date column → every dir is a rewrite candidate
    spark.sql("CREATE TABLE gpr.db.dt2 (id BIGINT, d DATE) " +
      "TBLPROPERTIES ('graft.stats.columns' = 'id')")
    spark.sql("INSERT INTO gpr.db.dt2 SELECT id, " +
      "date_add(DATE '2024-01-25', CAST(id AS INT)) FROM range(0, 14)")
    spark.sql("DELETE FROM gpr.db.dt2 WHERE d >= DATE '2024-02-01'")
    val kept = spark.table("gpr.db.dt2").collect().map(_.getDate(1).toString).sorted
    assert(kept.length == 7 && kept.last == "2024-01-31",
      s"open-ended date delete must remove the straddled rows: ${kept.mkString(",")}")
    spark.sql("DELETE FROM gpr.db.dt2 WHERE d < DATE '2024-01-27'")
    assert(spark.table("gpr.db.dt2").count() == 5L)
  }

  test("topN pushdown declines on inexact shapes — string sort key, multi-key — and stays correct") {
    warehouse
    spark.sql("CREATE TABLE gpr.db.ts (id BIGINT, s STRING)")
    spark.sql("INSERT INTO gpr.db.ts SELECT id, concat('k', id) FROM range(0, 50)")
    val sq = spark.sql("SELECT s FROM gpr.db.ts ORDER BY s LIMIT 3")
    assert(!planOf(sq).contains("PushedTopN"), planOf(sq).take(600))
    assert(sq.collect().map(_.getString(0)).toSeq == Seq("k0", "k1", "k10"))
    val mq = spark.sql("SELECT id, s FROM gpr.db.ts ORDER BY id, s LIMIT 3")
    assert(!planOf(mq).contains("PushedTopN"), planOf(mq).take(600))
    assert(mq.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }
}
