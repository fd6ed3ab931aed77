package graft

import org.apache.spark.sql.functions._

import graft.io._

class IoSpec extends SparkSpec {
  import TestSpark._

  // a catalog over a fresh warehouse: a table the Scala API writes at
  // `<warehouse>/db/<t>` reads as `iocat.db.<t>` (the catalog keeps no
  // state of its own)
  private lazy val catWarehouse: String = {
    val w = tmpDir("iocat_wh")
    spark.conf.set("spark.sql.catalog.iocat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.iocat.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS iocat.db")
    w
  }
  private def catRoot(t: String): String = s"$catWarehouse/db/$t"

  // AQE renders Final + Initial plans once executed — keep the final one
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  test("ParquetTableFormat: partitioned write + partition recovery on read") {
    import spark.implicits._
    val df = Seq(("a", 1, 2022), ("b", 2, 2022), ("c", 3, 2023)).toDF("k", "v", "year")
    val path = tmpDir("fmt")
    ParquetTableFormat.write(df, path, partitionCols = Seq("year"))
    val back = ParquetTableFormat.read(spark, path)
    assert(back.columns.toSet == Set("k", "v", "year"))
    // partition column recovered and usable for pruning
    assert(back.filter(col("year") === 2023).count() == 1)
    assert(back.count() == 3)
  }

  test("ParquetTableFormat: dynamic partition overwrite replaces only written partitions") {
    import spark.implicits._
    val path = tmpDir("dyn")
    ParquetTableFormat.write(Seq(("a", 2022), ("b", 2023)).toDF("k", "year"), path, Seq("year"))
    // second write touches only year=2023; year=2022 must survive
    ParquetTableFormat.write(Seq(("c", 2023)).toDF("k", "year"), path, Seq("year"))
    val back = ParquetTableFormat.read(spark, path).collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(back == Set(("a", 2022), ("c", 2023)))
  }

  test("ParquetTableFormat: a dynamic overwrite leaves the session's overwrite mode alone") {
    import spark.implicits._
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val path = tmpDir("dynconf")
    ParquetTableFormat.write(Seq(("a", 2022), ("b", 2023)).toDF("k", "year"), path, Seq("year"))
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(spark.conf.get(key))
        IoSpec.jobStarted.countDown()
      }
    }
    // every write task waits for the listener, so the session value is
    // read while the write is still running
    val gate = udf { (k: String) => IoSpec.jobStarted.await(60, java.util.concurrent.TimeUnit.SECONDS); k }
    val prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    spark.sparkContext.addSparkListener(listener)
    try ParquetTableFormat.write(
      Seq(("c", 2023)).toDF("k", "year").withColumn("k", gate(col("k"))), path, Seq("year"))
    finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, prev)
    }
    assert(seen.asScala.nonEmpty && seen.asScala.forall(_ == "static"), seen)
    val back = ParquetTableFormat.read(spark, path).collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(back == Set(("a", 2022), ("c", 2023)))
  }

  test("ParquetTableFormat: maxRecordsPerFile bounds output file sizes (small-file/huge-file control)") {
    val path = tmpDir("mrpf")
    val df = spark.range(0, 100).coalesce(1).toDF("id")
    ParquetTableFormat.write(df, path, maxRecordsPerFile = 30L)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    // 100 rows in one task / 30-row cap -> 4 rolled files, not 1 giant file
    assert(files.length == 4, s"expected 4 rolled files, got ${files.length}")
    assert(ParquetTableFormat.read(spark, path).count() == 100)
  }

  test("schema evolution: mergeSchema reads old and new files under one widened schema") {
    import spark.implicits._
    val path = tmpDir("evolve")
    // v1 writer: (k, v); later the pipeline adds a quality column
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.parquet(s"$path/d1")
    Seq(("c", 3, 0.9)).toDF("k", "v", "q").write.parquet(s"$path/d2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$path/d1", s"$path/d2")
    assert(merged.columns.toSet == Set("k", "v", "q"))
    // old files surface NULL for the new column instead of failing the scan
    assert(merged.filter(col("q").isNull).count() == 2)
    assert(merged.filter(col("q").isNotNull).count() == 1)
  }

  test("parquet codec control: zstd and gzip roundtrip identically; codec lands in the footer") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, s"row_$i" * 8)).toDF("id", "payload")
    val roots = Seq("zstd", "gzip", "snappy").map { codec =>
      val root = tmpDir(s"codec_$codec")
      df.write.mode("overwrite").option("compression", codec).parquet(root)
      val back = spark.read.parquet(root)
      assert(back.count() == 5000 &&
        back.agg(sum("id")).head().getLong(0) == 5000L * 5001 / 2,
        s"$codec roundtrip must be lossless")
      val part = new java.io.File(root).listFiles().filter(_.getName.endsWith(".parquet")).head
      // gzip's suffix is the historical ".gz"; the others use the codec name
      val tag = if (codec == "gzip") ".gz." else s".$codec."
      assert(part.getName.contains(tag), s"codec must land in the file name: ${part.getName}")
      codec -> part.length()
    }
    // compression actually engaged: every codec beats the raw string mass
    roots.foreach { case (c, len) => assert(len < 5000L * 48, s"$c produced $len bytes") }
  }

  test("StagedWarehouseSink: two appends accumulate; staging dir cleaned") {
    import spark.implicits._
    val staging = tmpDir("stage"); val wh = tmpDir("wh")
    val sink = new StagedWarehouseSink(staging, wh)
    sink.append(Seq(1, 2, 3).toDF("v"), "t")
    sink.append(Seq(4, 5).toDF("v"), "t")
    assert(sink.read(spark, "t").count() == 5)
    assert(new java.io.File(staging).listFiles().forall(_.getName.startsWith(".")))
  }

  test("JsonDocumentSink: one JSON document per row") {
    import spark.implicits._
    val path = tmpDir("docs") + "/out"
    JsonDocumentSink.write(Seq(("a", "1"), ("b", "2")).toDF("k", "v"), path)
    val docs = spark.read.text(path).collect().map(_.getString(0)).sorted
    assert(docs.length == 2 && docs.forall(d => d.startsWith("{") && d.endsWith("}")))
    assert(docs.head.contains("\"k\":\"a\""))
  }

  test("appendBandIndex: bucketed append stays probe-exchange-free and replays idempotently") {
    import spark.implicits._
    import graft.operators.ext.Dedup
    val root = tmpDir("bandidx_append")
    spark.sql("DROP TABLE IF EXISTS graft_band_index_t")
    val base = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g z"),
      (3L, "m n o p q r s t")).toDF("doc_id", "text")
    Dedup.withBandKeys(base, "text", 8, "bands")
      .select(col("doc_id"), explode(col("bands")).as("key"))
      .write.bucketBy(8, "key").sortBy("key")
      .option("path", s"$root/idx").saveAsTable("graft_band_index_t")
    // absorb a batch: doc 10 duplicates doc 1's text, doc 11 is new content
    val batch = Seq((10L, "a b c d e f g h"), (11L, "u v w x y z q j"))
      .toDF("doc_id", "text")
    Dedup.appendBandIndex("graft_band_index_t", batch, "doc_id", "text", 8, 8)
    val afterAppend = spark.table("graft_band_index_t").count()
    assert(afterAppend > 3 * 2 - 1, "append visibly grew the index")
    // RESTART: replaying the same batch (failed-driver re-run) inserts nothing
    Dedup.appendBandIndex("graft_band_index_t", batch, "doc_id", "text", 8, 8)
    assert(spark.table("graft_band_index_t").count() == afterAppend,
      "append must be idempotent under re-run")
    // probe the grown index: the appended duplicate must be visible, and the
    // index side must still read pre-bucketed — no key exchange beyond the
    // probe side's own (the pay-shuffle-at-write design survives appends)
    val probes = Dedup.withBandKeys(
        Seq((100L, "a b c d e f g h")).toDF("doc_id", "text"), "text", 8, "bands")
      .select(col("doc_id").as("new_id"), explode(col("bands")).as("key"))
    val joined = probes.join(spark.table("graft_band_index_t").hint("merge"), Seq("key"))
      .groupBy("new_id").agg(countDistinct("doc_id").as("n_matches"))
    // plan audit BEFORE executing (pre-AQE plan, like PlanSpec): the index
    // side must read pre-bucketed, so the only key exchange is the probe's
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected the hinted merge probe join:\n${p.take(2000)}")
    val keyExchanges = "Exchange hashpartitioning\\(key".r.findAllIn(p).length
    assert(keyExchanges <= 1, s"index side reshuffled after append ($keyExchanges key exchanges):\n${p.take(3000)}")
    val hits = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits(100L) == 2L, s"probe must see base doc 1 AND appended doc 10: $hits")
  }

  test("compactBandIndex: N appends -> compact -> file count back to ~buckets, probe identical") {
    import spark.implicits._
    import graft.operators.ext.Dedup
    def parquetFiles(path: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).count(_.getName.endsWith(".parquet"))
    }
    val root = tmpDir("bandidx_compact")
    spark.sql("DROP TABLE IF EXISTS graft_band_compact_t")
    val base = Seq((1L, "a b c d e f g h"), (2L, "m n o p q r s t")).toDF("doc_id", "text")
    Dedup.withBandKeys(base, "text", 8, "bands")
      .select(col("doc_id"), explode(col("bands")).as("key"))
      .write.bucketBy(4, "key").sortBy("key")
      .option("path", s"$root/idx0").saveAsTable("graft_band_compact_t")
    // a production ingest loop: several appends, each adding per-bucket files
    (0 until 3).foreach { i =>
      val batch = Seq((10L + i, s"w$i x$i y$i z$i u$i v$i s$i t$i")).toDF("doc_id", "text")
      Dedup.appendBandIndex("graft_band_compact_t", batch, "doc_id", "text", 8, 4)
    }
    val rowsBefore = spark.table("graft_band_compact_t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = parquetFiles(s"$root/idx0")
    assert(filesBefore > 4, s"appends must have accumulated files (got $filesBefore)")
    // compact: same bucket spec, new location, atomic catalog swap
    val oldLoc = Dedup.compactBandIndex(spark, "graft_band_compact_t", 4, s"$root/idx1")
    assert(oldLoc.contains("idx0"), s"returned old location for cleanup: $oldLoc")
    val filesAfter = parquetFiles(s"$root/idx1")
    assert(filesAfter <= 4, s"compaction must return to <= buckets files, got $filesAfter")
    // content identical, and the probe plan is still index-side-exchange-free
    val rowsAfter = spark.table("graft_band_compact_t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter == rowsBefore, "compaction must not change the row set")
    val probes = Dedup.withBandKeys(
        Seq((100L, "a b c d e f g h")).toDF("doc_id", "text"), "text", 8, "bands")
      .select(col("doc_id").as("new_id"), explode(col("bands")).as("key"))
    val joined = probes.join(spark.table("graft_band_compact_t").hint("merge"), Seq("key"))
      .groupBy("new_id").agg(countDistinct("doc_id").as("n_matches"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected the hinted merge probe join:\n${p.take(2000)}")
    val keyExchanges = "Exchange hashpartitioning\\(key".r.findAllIn(p).length
    assert(keyExchanges <= 1, s"index side reshuffled after compact ($keyExchanges key exchanges):\n${p.take(3000)}")
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toMap.apply(100L) == 1L)
    // idempotent: compacting the compacted index is a pure no-op re-layout
    Dedup.compactBandIndex(spark, "graft_band_compact_t", 4, s"$root/idx2")
    val rowsTwice = spark.table("graft_band_compact_t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsTwice == rowsBefore)
    assert(parquetFiles(s"$root/idx2") <= 4)
  }

  test("BucketedIndex.compact on the PQ code index: appends -> compact -> files <= buckets, rows identical") {
    import spark.implicits._
    import graft.operators.ext.Similarity
    def parquetFiles(path: String): Int =
      new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    def vec(id: Long): (Long, Array[Float]) =
      (id, Array.tabulate(64)(d => ((id * 31 + d * 7) % 97).toFloat))
    val root = tmpDir("pqidx_compact")
    spark.sql("DROP TABLE IF EXISTS graft_pq_compact_t")
    val base = (0L until 20L).map(vec).toDF("vec_id", "embedding")
    Similarity.pqCodesFrozen(base, base, 64, 8, 16)
      .write.bucketBy(4, "vec_id").sortBy("vec_id")
      .option("path", s"$root/idx0").saveAsTable("graft_pq_compact_t")
    (0 until 3).foreach { i =>
      val batch = Seq(vec(100L + i)).toDF("vec_id", "embedding")
      Similarity.appendPqIndex("graft_pq_compact_t", batch, base, 64, 8, 16, 4)
    }
    // replay a batch: the anti-join must insert nothing
    val before = spark.table("graft_pq_compact_t").count()
    Similarity.appendPqIndex("graft_pq_compact_t",
      Seq(vec(100L)).toDF("vec_id", "embedding"), base, 64, 8, 16, 4)
    assert(spark.table("graft_pq_compact_t").count() == before,
      "replayed append must be idempotent")
    val rowsBefore = spark.table("graft_pq_compact_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(parquetFiles(s"$root/idx0") > 4, "appends accumulated per-bucket files")
    val oldLoc = graft.io.BucketedIndex.compact(spark, "graft_pq_compact_t", 4, "vec_id", s"$root/idx1")
    assert(oldLoc.contains("idx0"))
    assert(parquetFiles(s"$root/idx1") <= 4,
      s"compaction must return to <= buckets files, got ${parquetFiles(s"$root/idx1")}")
    val rowsAfter = spark.table("graft_pq_compact_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rowsAfter == rowsBefore, "compaction must not change the code set")
  }

  test("BucketedIndex.compact on the lexical index: both tables compact, probe ranking identical") {
    import spark.implicits._
    import graft.operators.ext.TextAnalysis
    def parquetFiles(path: String): Int =
      new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    val root = tmpDir("lexidx_compact")
    spark.sql("DROP TABLE IF EXISTS graft_lexc_post")
    spark.sql("DROP TABLE IF EXISTS graft_lexc_len")
    val docs = Seq((0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
      (2L, "beta beta beta"), (3L, "gamma delta")).toDF("doc_id", "text")
    TextAnalysis.buildLexicalIndex("graft_lexc_post", "graft_lexc_len",
      docs.filter($"doc_id" < 2), "doc_id", "text", 4, root)
    (2L to 3L).foreach { i =>
      TextAnalysis.appendLexicalIndex("graft_lexc_post", "graft_lexc_len",
        docs.filter($"doc_id" === i), "doc_id", "text", 4)
    }
    val queries = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    def probe() = TextAnalysis.bm25IndexTopK(spark, "graft_lexc_post", "graft_lexc_len",
        queries, "query_id", "qtext", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val before = probe()
    assert(before.nonEmpty && parquetFiles(s"$root/postings") > 4,
      "appends accumulated per-bucket files on the postings side")
    // same generic compactor as the band/PQ indexes — one call per table,
    // each preserving its own bucket spec (term vs doc_id)
    graft.io.BucketedIndex.compact(spark, "graft_lexc_post", 4, "term", s"$root/postings1")
    graft.io.BucketedIndex.compact(spark, "graft_lexc_len", 4, "doc_id", s"$root/lengths1")
    assert(parquetFiles(s"$root/postings1") <= 4 && parquetFiles(s"$root/lengths1") <= 4,
      "both tables back to <= buckets files")
    assert(probe() == before, "probe ranking identical across the compaction swap")
  }

  test("VersionedTable: commit/append/overwrite with time travel, snapshot isolation") {
    import spark.implicits._
    val root = tmpDir("vt")
    val v1 = VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root, "overwrite", "c1")
    assert(v1 == 1L)
    // pin a v1 snapshot BEFORE later commits; it must be stable across them
    val snap1 = VersionedTable.read(spark, root)
    val v2 = VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root, "append", "c2")
    val v3 = VersionedTable.commit(Seq((9L, "z")).toDF("id", "s"), root, "overwrite", "c3")
    assert((v2, v3) == (2L, 3L))
    assert(snap1.count() == 2, "reader snapshot must be isolated from later commits")
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 2)
    assert(VersionedTable.read(spark, root, Some(2L)).count() == 3)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(9L))
    intercept[RuntimeException](VersionedTable.read(spark, root, Some(7L)))
  }

  test("VersionedTable: idempotent retry, orphan data invisible, OCC loser retries to next slot") {
    import spark.implicits._
    val root = tmpDir("vt_occ")
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root, "overwrite", "c1")
    // retry with the same commitId: no-op, same version, log unchanged
    val again = VersionedTable.commit(Seq((999L, "x")).toDF("id", "s"), root, "overwrite", "c1")
    assert(again == 1L && VersionedTable.history(root).size == 1)
    // crashed commit = data dir with no manifest -> readers never see it
    Seq((42L, "orphan")).toDF("id", "s").write.parquet(s"$root/data/0000000099-crashed")
    assert(VersionedTable.read(spark, root).count() == 1)
    // OCC: steal the v2 manifest slot; a committer targeting v2 must land on v3
    val stolen = java.nio.file.Paths.get(root, "_commits", "v0000000002.json")
    java.nio.file.Files.copy(java.nio.file.Paths.get(root, "_commits", "v0000000001.json"), stolen)
    val v = VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), root, "append", "c2")
    assert(v == 3L, s"loser must retry into the next free slot, got $v")
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("VersionedTable: rollback restores old content; vacuum reclaims only unreferenced dirs") {
    import spark.implicits._
    val root = tmpDir("vt_vac")
    VersionedTable.commit(Seq((1L, "good"), (2L, "good")).toDF("id", "s"), root, "overwrite", "c1")
    VersionedTable.commit(Seq((3L, "bad")).toDF("id", "s"), root, "overwrite", "c2")
    val v3 = VersionedTable.rollback(root, 1L, "restore")
    assert(v3 == 3L)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // orphan from a simulated crash, plus v2's now-dead dir; v1's dir
    // survives because the retained v3 manifest references it. Under the
    // DEFAULT orphan grace the freshly-written orphan is presumed to be an
    // in-flight writer's dir and survives; only v2's superseded dir (which
    // a manifest once referenced) is reclaimed
    Seq((7L, "orphan")).toDF("id", "s").write.parquet(s"$root/data/0000000050-crashed")
    val gated = VersionedTable.vacuum(root, retainLast = 1)
    assert(gated.size == 1 && !gated.head.contains("crashed"),
      s"young orphan must survive the default grace window, got $gated")
    // a maintenance-window sweep (grace 0) reclaims the crashed orphan too
    val deleted = VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(deleted.size == 1 && deleted.head.contains("crashed"),
      s"expected the orphan under grace 0, got $deleted")
    assert(VersionedTable.read(spark, root).count() == 2, "latest must survive vacuum")
    assert(VersionedTable.history(root).map(_.version) == Seq(3L), "old manifests dropped")
    // time travel to a vacuumed version now fails loudly, not partially
    intercept[RuntimeException](VersionedTable.read(spark, root, Some(2L)))
  }

  test("VersionedTable.changesBetween: append-only deltas; overwrite-crossing range fails loudly") {
    import spark.implicits._
    val root = tmpDir("vt_cdc")
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root, "overwrite", "c1")
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), root, "append", "c2")
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root, "append", "c3")
    // (1, 3] = exactly the two appended rows; (0, 3] = everything
    assert(VersionedTable.changesBetween(spark, root, 1L, 3L)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(VersionedTable.changesBetween(spark, root, 0L, 3L).count() == 3)
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 3L, 3L))
    // an overwrite removes dirs -> a range crossing it is not a valid delta
    VersionedTable.commit(Seq((9L, "z")).toDF("id", "s"), root, "overwrite", "c4")
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 2L, 4L))
  }

  test("VersionedTable.compact: files collapse, rows identical, history intact, CDC refuses crossing") {
    import spark.implicits._
    val root = tmpDir("vt_opt")
    // 6 appends, each multi-file: the small-file accumulation compaction exists for
    (1 to 6).foreach { i =>
      VersionedTable.commit(
        Seq.tabulate(4)(j => (i * 10L + j, s"w$i-$j")).toDF("id", "s").repartition(3),
        root, if (i == 1) "overwrite" else "append", s"c$i", statsCols = Seq("id"))
    }
    def dataFiles(): Int = {
      val dirs = VersionedTable.history(root).last.dirs
      dirs.map(d => new java.io.File(s"$root/$d").listFiles()
        .count(f => f.getName.endsWith(".parquet"))).sum
    }
    val before = VersionedTable.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = dataFiles()
    assert(filesBefore >= 18, s"fixture must actually fragment, got $filesBefore files")
    val v = VersionedTable.compact(spark, root, "opt-1", targetFiles = 2, statsCols = Seq("id"))
    assert(v == 7L)
    // layout collapsed, content untouched
    assert(dataFiles() <= 2, s"compaction must hit targetFiles, got ${dataFiles()}")
    val after = VersionedTable.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction must not change the row set")
    // idempotent retry: same commitId returns the same version, log unchanged
    assert(VersionedTable.compact(spark, root, "opt-1", targetFiles = 2) == 7L)
    assert(VersionedTable.history(root).size == 7)
    // history preserved: time travel to a pre-compact version still works
    assert(VersionedTable.read(spark, root, Some(3L)).count() == 12)
    // the skipping index survives the rewrite
    assert(VersionedTable.readRange(spark, root, "id", 60L, 63L).count() == 4)
    // CDC refuses to cross the compaction, exactly like an overwrite...
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 6L, 7L))
    // ...but composes fine over appends made after it
    VersionedTable.commit(Seq((99L, "post")).toDF("id", "s"), root, "append", "c8")
    assert(VersionedTable.changesBetween(spark, root, 7L, 8L)
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
    // compacting an empty table fails loudly
    intercept[RuntimeException](VersionedTable.compact(spark, tmpDir("vt_opt_empty"), "x", 1))
  }

  test("VersionedTable.compact: hive-partitioned snapshot keeps layout and partition pruning") {
    import spark.implicits._
    val root = tmpDir("vt_opt_part")
    VersionedTable.commit(
      Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("id", "grp"), root, "overwrite", "c1",
      partitionCols = Seq("grp"))
    VersionedTable.commit(
      Seq((4L, "B"), (5L, "A")).toDF("id", "grp"), root, "append", "c2",
      partitionCols = Seq("grp"))
    VersionedTable.compact(spark, root, "opt-p", targetFiles = 4)
    assert(VersionedTable.history(root).last.partitionCols == Seq("grp"))
    val rd = VersionedTable.read(spark, root).filter(col("grp") === "A")
    assert(rd.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    val plan = rd.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(grp"),
      s"compacted snapshot must still prune on the partition column:\n${plan.take(1200)}")
    // one dir, one file per live partition value
    val dir = new java.io.File(s"$root/${VersionedTable.history(root).last.dirs.head}")
    val perPart = dir.listFiles().filter(_.isDirectory).map(d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(perPart.keySet == Set("grp=A", "grp=B") && perPart.values.forall(_ == 1),
      s"expected one file per partition value, got $perPart")
  }

  test("VersionedTable.readRange: manifest min/max skips non-overlapping dirs, keeps stat-less ones") {
    import spark.implicits._
    val root = tmpDir("vt_stats")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "c1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "c2",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "e")).toDF("id", "s"), root, "append", "c3") // no stats
    // [4, 6] overlaps c1 only among stat-carrying dirs; c3 kept conservatively
    val kept = VersionedTable.planRange(root, "id", 4L, 6L)
    assert(kept.size == 2 && kept.exists(_.contains("c1")) && kept.exists(_.contains("c3")),
      s"expected c1 (overlap) + c3 (no stats), got $kept")
    assert(VersionedTable.readRange(spark, root, "id", 4L, 6L)
      .collect().map(_.getLong(0)).toSeq == Seq(5L), "residual filter still applies")
    // a range hitting nothing plans only the stat-less dir and returns empty
    assert(VersionedTable.planRange(root, "id", 100L, 200L).size == 1)
    assert(VersionedTable.readRange(spark, root, "id", 100L, 200L).count() == 0)
    // rollback carries the skipping index with it
    VersionedTable.rollback(root, 2L, "restore")
    assert(VersionedTable.planRange(root, "id", 11L, 14L).size == 1)
    // string stats are supported (they land in strStats, not stats); a
    // float-typed stats column still fails loudly at commit time (float
    // ordering/rounding is not engine-portable)
    VersionedTable.commit(Seq((30L, "f")).toDF("id", "s"), root, "append", "c4",
      statsCols = Seq("s"))
    assert(VersionedTable.history(root).last.strStats.values.flatMap(_.keys).toSet == Set("s"))
    intercept[RuntimeException](VersionedTable.commit(
      Seq((31L, 1.5)).toDF("id", "d"), root, "overwrite", "c5", statsCols = Seq("d")))
  }

  test("VersionedTable.mergeInto: rewrites only range-hit dirs, untouched dirs pass by reference, inserts land, idempotent") {
    import spark.implicits._
    val root = tmpDir("vt_merge")
    // three disjoint key bands, stats on id
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "m1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "m2",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "e"), (25L, "f")).toDF("id", "s"), root, "append", "m3",
      statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // batch: update key 10, insert key 12 — both inside band 2's range only
    val (v, hit, total) = VersionedTable.mergeInto(spark,
      root, Seq((10L, "C2"), (12L, "NEW")).toDF("id", "s"), "id", "m-apply")
    assert(v == 4L && hit == 1 && total == 3, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    // bands 1 and 3 pass through BY REFERENCE (same dir names), with stats
    assert(after.dirs.count(before.contains) == 2)
    assert(before.filter(after.dirs.contains).forall(d => after.stats.contains(d)))
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (5L, "b"), (10L, "C2"), (12L, "NEW"),
      (15L, "d"), (20L, "e"), (25L, "f")), rows.toString)
    // retry of the same commitId is a no-op (sentinel counts, log length 4)
    assert(VersionedTable.mergeInto(spark, root,
      Seq((10L, "X")).toDF("id", "s"), "id", "m-apply") == ((4L, -1, -1)))
    assert(VersionedTable.history(root).size == 4)
    // CDC refuses to cross the merge (dirs were removed), like overwrites
    intercept[IllegalArgumentException](
      VersionedTable.changesBetween(spark, root, 2L, 4L))
    // duplicate batch keys refused LOUDLY (they would multiply through the
    // anti-join + union into duplicate rows)
    val dup = intercept[Exception](VersionedTable.mergeInto(spark, root,
      Seq((30L, "A"), (30L, "B")).toDF("id", "s"), "id", "m-dup"))
    assert(dup.getMessage != null &&
      (dup.getMessage.contains("duplicate batch key") ||
        Option(dup.getCause).exists(_.getMessage.contains("duplicate batch key"))),
      s"got: ${dup.getMessage}")
    // schema-mismatched batch refused before publication (merge is not
    // schema evolution; the no-overlap fast path writes verbatim)
    val bad = intercept[IllegalArgumentException](VersionedTable.mergeInto(spark, root,
      Seq(1000L).toDF("id"), "id", "m-narrow"))
    assert(bad.getMessage.contains("must equal the snapshot schema"), bad.getMessage)
    // a batch whose key TYPE disagrees with the snapshot is refused by the
    // schema gate before anything writes (string keys are supported, but
    // only against a string-keyed snapshot)
    val sk = intercept[RuntimeException](VersionedTable.mergeInto(spark, root,
      Seq(("k", "v")).toDF("id", "s"), "id", "m-str"))
    assert(sk.getMessage.contains("must equal the snapshot schema"), sk.getMessage)
    assert(VersionedTable.history(root).size == 4, "refused merges must not advance the log")
  }

  test("VersionedTable.mergeIntoConditional: range-bounded NOT MATCHED BY SOURCE deletes inside the bound only; unbounded refuses") {
    import spark.implicits._
    val root = tmpDir("vt_nmbs")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "n1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (12L, "d"), (15L, "e")).toDF("id", "s"),
      root, "append", "n2", statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "f"), (25L, "g")).toDF("id", "s"), root, "append", "n3",
      statsCols = Seq("id"))
    // the unbounded Delta spelling refuses LOUDLY, log untouched
    val e = intercept[IllegalArgumentException](VersionedTable.mergeIntoConditional(
      spark, root, Seq((10L, "C2")).toDF("id", "s"), "id", "n-bad",
      notMatchedBySourceDeleteCond = Some("true")))
    assert(e.getMessage.contains("bounding range"), e.getMessage)
    assert(VersionedTable.history(root).size == 3)
    // bounded sync of band 2 ([10, 15]): source keeps 10 (updated) and 15,
    // so 12 — unmatched inside the bound — deletes; bands 1/3 pass by
    // reference even though they also hold source-free keys
    val before = VersionedTable.history(root).last.dirs
    val (v, hit, total) = VersionedTable.mergeIntoConditional(spark, root,
      Seq((10L, "C2"), (15L, "E2")).toDF("id", "s"), "id", "n-apply",
      notMatchedBySourceDeleteCond = Some("tgt.id IS NOT NULL"),
      notMatchedBySourceBound = Some(("id", 10L, 15L)),
      statsCols = Seq("id"))
    assert(v == 4L && hit == 1 && total == 3, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.dirs.count(before.contains) == 2, "out-of-bound dirs pass by reference")
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (5L, "b"), (10L, "C2"), (15L, "E2"),
      (20L, "f"), (25L, "g")), rows.toString)
    // retry idempotent
    assert(VersionedTable.mergeIntoConditional(spark, root,
      Seq((10L, "X")).toDF("id", "s"), "id", "n-apply",
      notMatchedBySourceBound = Some(("id", 10L, 15L))) == ((4L, -1, -1)))
    assert(VersionedTable.history(root).size == 4)
    // the SQL spelling: bounded slice sync through MERGE GRAFT — source
    // drops 15, so it deletes; 10 re-updates; out-of-bound rows untouched
    spark.sql(s"MERGE GRAFT '$root' ON id FROM " +
      "(SELECT CAST(10 AS BIGINT) AS id, 'C3' AS s) " +
      "WHEN MATCHED THEN UPDATE " +
      "WHEN NOT MATCHED BY SOURCE AND id BETWEEN 10 AND 15 THEN DELETE").collect()
    val rows2 = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows2 == Seq((1L, "a"), (5L, "b"), (10L, "C3"),
      (20L, "f"), (25L, "g")), rows2.toString)
    // the unbounded Delta spelling refuses at parse with guidance
    val eSql = intercept[Exception](spark.sql(s"MERGE GRAFT '$root' ON id FROM " +
      "(SELECT CAST(10 AS BIGINT) AS id, 'X' AS s) " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE"))
    assert(eSql.getMessage.contains("bounding range"), eSql.getMessage)
  }

  test("VersionedTable.mergeInto: string-keyed snapshot prunes via the strStats envelope") {
    import spark.implicits._
    val root = tmpDir("vt_merge_str")
    // three lexicographically-disjoint key bands, string stats on k
    VersionedTable.commit(Seq(("apple", 1L), ("avocado", 2L)).toDF("k", "n"),
      root, "append", "s1", statsCols = Seq("k"))
    VersionedTable.commit(Seq(("mango", 3L), ("melon", 4L)).toDF("k", "n"),
      root, "append", "s2", statsCols = Seq("k"))
    VersionedTable.commit(Seq(("yam", 5L), ("zucchini", 6L)).toDF("k", "n"),
      root, "append", "s3", statsCols = Seq("k"))
    val before = VersionedTable.history(root).last
    assert(before.strStats.values.flatMap(_.keys).toSet == Set("k"),
      s"string stats must land in strStats: ${before.strStats}")
    // batch confined to band 2's lexicographic range: update mango, insert mint
    val (v, hit, total) = VersionedTable.mergeInto(spark, root,
      Seq(("mango", 30L), ("mint", 99L)).toDF("k", "n"), "k", "s-apply")
    assert(v == 4L && hit == 1 && total == 3, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.dirs.count(before.dirs.contains) == 2, "bands 1+3 pass by reference")
    assert(before.dirs.filter(after.dirs.contains).forall(d => after.strStats.contains(d)))
    val rows = VersionedTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("apple", 1L), ("avocado", 2L), ("mango", 30L), ("melon", 4L),
      ("mint", 99L), ("yam", 5L), ("zucchini", 6L)), rows.toString)
  }

  test("VersionedTable.mergeInto: hive-partitioned snapshot keeps layout, rewrite stays dir-confined") {
    import spark.implicits._
    val root = tmpDir("vt_merge_part")
    VersionedTable.commit(Seq((1L, 2022, "a"), (2L, 2022, "b")).toDF("id", "year", "s"),
      root, "append", "p1", partitionCols = Seq("year"), statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, 2023, "c"), (11L, 2023, "d")).toDF("id", "year", "s"),
      root, "append", "p2", partitionCols = Seq("year"), statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // batch inside dir 2's id range only; carries the partition column
    val (v, hit, total) = VersionedTable.mergeInto(spark, root,
      Seq((10L, 2023, "C2"), (12L, 2024, "NEW")).toDF("id", "year", "s"), "id", "p-apply")
    assert(v == 3L && hit == 1 && total == 2, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.partitionCols == Seq("year"), "merge must preserve the hive layout")
    assert(after.dirs.count(before.contains) == 1, "dir 1 passes by reference")
    // the rewritten dir is hive-laid-out (year= subdirs exist)
    val newDir = after.dirs.filterNot(before.contains).head
    val subdirs = new java.io.File(s"$root/$newDir").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs.exists(_.startsWith("year=")), s"expected hive subdirs, got $subdirs")
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 2022, "a"), (2L, 2022, "b"), (10L, 2023, "C2"),
      (11L, 2023, "d"), (12L, 2024, "NEW")), rows.toString)
    // partition pruning still works on the merged snapshot
    val pruned = VersionedTable.read(spark, root).filter(col("year") === 2022)
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("VersionedTable.readRange: per-file stats prune files WITHIN a kept dir") {
    import spark.implicits._
    val root = tmpDir("vt_filestats")
    // ONE commit, multiple files, disjoint id ranges per file — dir-level
    // stats span 1..40 so dir pruning can never help; only per-file stats can
    val df = Seq((1L, "a"), (10L, "b"), (21L, "c"), (30L, "d"), (40L, "e"))
      .toDF("id", "s")
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(df, root, "append", "f1", statsCols = Seq("id"))
    val dir = VersionedTable.history(root).last.dirs.head
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$root/$dir", "_filestats")), "side file written")
    val (scanned, total) = VersionedTable.planRangeFiles(root, "id", 21L, 30L)
    assert(total >= 3, s"fixture needs multiple files, got $total")
    assert(scanned < total, s"per-file pruning must drop files: $scanned of $total")
    val rows = VersionedTable.readRange(spark, root, "id", 21L, 30L)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(21L, 30L), rows.toString)
    // the full range scans everything and loses nothing
    assert(VersionedTable.readRange(spark, root, "id", 0L, 100L).count() == 5)
    // a range matching NO file still returns empty correctly
    assert(VersionedTable.readRange(spark, root, "id", 50L, 60L).count() == 0)
  }

  test("VersionedTable.deleteWhere: dir-confined copy-on-write, idempotent, CDC refusal, empty-table terminal") {
    import spark.implicits._
    val root = tmpDir("vt_delete")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "d1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "d2",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "e"), (25L, "f")).toDF("id", "s"), root, "append", "d3",
      statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // purge keys inside band 2 only → exactly one dir rewritten
    // (statsCols keeps the rewritten dir in the skipping index, so later
    // deletes can prune against it too)
    val (v, hit, total) = VersionedTable.deleteWhere(spark, root,
      Seq(10L).toDF("id"), "id", "purge-10", statsCols = Seq("id"))
    assert(v == 4L && hit == 1 && total == 3, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.mode == "delete" && after.dirs.count(before.contains) == 2)
    assert(before.filter(after.dirs.contains).forall(d => after.stats.contains(d)),
      "pass-through dirs keep their stats by reference")
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (5L, "b"), (15L, "d"), (20L, "e"), (25L, "f")), rows.toString)
    // idempotent retry: sentinel counts, log does not advance
    assert(VersionedTable.deleteWhere(spark, root,
      Seq(10L).toDF("id"), "id", "purge-10") == ((4L, -1, -1)))
    assert(VersionedTable.history(root).size == 4)
    // CDC refuses to cross the delete (dirs removed), like overwrite/compact
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 2L, 4L))
    // time travel to the pre-delete snapshot still shows the purged row
    assert(VersionedTable.read(spark, root, asOf = Some(3L)).count() == 6)
    // an envelope that misses every dir is a pure-metadata no-op commit:
    // dirs unchanged, and CDC may cross it (nothing was removed)
    val (v2, hit2, _) = VersionedTable.deleteWhere(spark, root,
      Seq(1000L).toDF("id"), "id", "purge-nothing")
    assert(v2 == 5L && hit2 == 0)
    assert(VersionedTable.history(root).last.dirs.toSet == after.dirs.toSet)
    assert(VersionedTable.changesBetween(spark, root, 4L, 5L).count() == 0)
    // NULL delete keys are refused loudly, not silently unmatched
    val e = intercept[Exception](VersionedTable.deleteWhere(spark, root,
      Seq(Option.empty[Long]).toDF("id"), "id", "purge-null"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("NULL delete key"), msgs)
    // deleting every remaining row yields a valid EMPTY snapshot readable
    // under the recorded schema (no file-less dir is ever published)
    val (v3, _, _) = VersionedTable.deleteWhere(spark, root,
      Seq(1L, 5L, 15L, 20L, 25L).toDF("id"), "id", "purge-all")
    assert(v3 == 6L)
    val empty = VersionedTable.read(spark, root)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "s"))
    assert(VersionedTable.history(root).last.dirs.isEmpty)
    // and vacuum down to the empty snapshot reclaims every data dir
    VersionedTable.vacuum(root, retainLast = 1)
    assert(VersionedTable.read(spark, root).count() == 0)
  }

  test("VersionedTable.deleteRange: contained dirs drop metadata-only, overlaps rewrite, NULLs survive") {
    import spark.implicits._
    val root = tmpDir("vt_delrange")
    // band 1 fully inside the purge range, band 2 partial, band 3 disjoint
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "r1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "r2",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "e"), (25L, "f")).toDF("id", "s"), root, "append", "r3",
      statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    val (v, nDrop, nRewrite, nTotal) = VersionedTable.deleteRange(spark, root,
      "id", 0L, 12L, "purge-range", statsCols = Seq("id"))
    assert(v == 4L && nDrop == 1 && nRewrite == 1 && nTotal == 3,
      s"($v, $nDrop, $nRewrite, $nTotal)")
    val after = VersionedTable.history(root).last
    // band 3 passes by reference; band 1's dir is GONE without a rewrite
    assert(after.dirs.count(before.contains) == 1)
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((15L, "d"), (20L, "e"), (25L, "f")), rows.toString)
    // idempotent retry; time travel to pre-purge still sees everything
    assert(VersionedTable.deleteRange(spark, root, "id", 0L, 12L, "purge-range")
      == ((4L, -1, -1, -1)))
    assert(VersionedTable.read(spark, root, asOf = Some(3L)).count() == 6)
    // NULL keys SURVIVE a range delete — a contained dir carrying NULLs
    // must demote to a rewrite, never drop wholesale
    val root2 = tmpDir("vt_delrange_null")
    VersionedTable.commit(Seq((Some(1L), "a"), (Some(5L), "b"), (None, "nullrow"))
      .toDF("id", "s"), root2, "append", "n1", statsCols = Seq("id"))
    val (_, d2, rw2, _) = VersionedTable.deleteRange(spark, root2, "id", 0L, 10L, "n-purge")
    assert(d2 == 0 && rw2 == 1, s"NULL-carrying dir must rewrite, got drop=$d2 rewrite=$rw2")
    val left = VersionedTable.read(spark, root2).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSeq
    assert(left == Seq((-1L, "nullrow")), left.toString)
    // string-envelope form: contained band drops metadata-only too
    val root3 = tmpDir("vt_delrange_str")
    VersionedTable.commit(Seq(("apple", 1L), ("avocado", 2L)).toDF("k", "n"),
      root3, "append", "s1", statsCols = Seq("k"))
    VersionedTable.commit(Seq(("mango", 3L)).toDF("k", "n"), root3, "append", "s2",
      statsCols = Seq("k"))
    val (_, d3, rw3, _) = VersionedTable.deleteRange(spark, root3, "k", "a", "b", "s-purge")
    assert(d3 == 1 && rw3 == 0, s"($d3, $rw3)")
    assert(VersionedTable.read(spark, root3).collect().map(_.getString(0)).toSeq == Seq("mango"))
  }

  test("VersionedTable.updateWhere: dir-confined copy-on-write SET, old-row RHS, guards, idempotent") {
    import spark.implicits._
    val root = tmpDir("vt_update")
    VersionedTable.commit(Seq((1L, 10L, "a"), (5L, 50L, "b")).toDF("id", "n", "s"),
      root, "append", "u1", statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, 100L, "c"), (15L, 150L, "d")).toDF("id", "n", "s"),
      root, "append", "u2", statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, 200L, "e")).toDF("id", "n", "s"),
      root, "append", "u3", statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // keys inside band 2 only → exactly one dir rewritten; RHS references
    // other columns of the OLD row
    val (v, hit, total) = VersionedTable.updateWhere(spark, root,
      Seq(10L).toDF("id"), "id",
      Map("n" -> "n * 2", "s" -> "concat(s, '!')"), "fix-10", statsCols = Seq("id"))
    assert(v == 4L && hit == 1 && total == 3, s"($v, $hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.mode == "update" && after.dirs.count(before.contains) == 2)
    assert(before.filter(after.dirs.contains).forall(d => after.stats.contains(d)),
      "pass-through dirs keep their stats by reference")
    val rows = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 10L, "a"), (5L, 50L, "b"), (10L, 200L, "c!"),
      (15L, 150L, "d"), (20L, 200L, "e")), rows.toString)
    // SET a = b, b = a SWAPS (every RHS sees the OLD row, SQL semantics)
    VersionedTable.updateWhere(spark, root, Seq(1L).toDF("id"), "id",
      Map("id" -> "n", "n" -> "id"), "swap-1", statsCols = Seq("id"))
    val swapped = VersionedTable.read(spark, root).filter($"s" === "a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(swapped == Seq((10L, 1L)), swapped.toString)
    // idempotent retry: sentinel counts, log does not advance
    assert(VersionedTable.updateWhere(spark, root, Seq(10L).toDF("id"), "id",
      Map("n" -> "n * 2"), "fix-10") == ((4L, -1, -1)))
    assert(VersionedTable.history(root).size == 5)
    // envelope miss on every dir → pure-metadata no-op commit
    val (v2, hit2, _) = VersionedTable.updateWhere(spark, root,
      Seq(1000L).toDF("id"), "id", Map("n" -> "0L"), "fix-nothing")
    assert(hit2 == 0 && VersionedTable.history(root).last.dirs.toSet
      == VersionedTable.commitAt(root, v2 - 1).get.dirs.toSet)
    // time travel to the pre-update snapshot shows the old values
    assert(VersionedTable.read(spark, root, asOf = Some(3L))
      .filter($"id" === 10L).head().getLong(1) == 100L)
    // guards: NULL key, unknown SET target, type change — all loud
    val e1 = intercept[Exception](VersionedTable.updateWhere(spark, root,
      Seq(Option.empty[Long]).toDF("id"), "id", Map("n" -> "0L"), "fix-null"))
    val m1 = Iterator.iterate(e1: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(m1.contains("NULL update key"), m1)
    val e2 = intercept[IllegalArgumentException](VersionedTable.updateWhere(spark, root,
      Seq(10L).toDF("id"), "id", Map("bogus" -> "1"), "fix-bogus"))
    assert(e2.getMessage.contains("unknown column 'bogus'"))
    val e3 = intercept[IllegalArgumentException](VersionedTable.updateWhere(spark, root,
      Seq(10L).toDF("id"), "id", Map("n" -> "'oops'"), "fix-type"))
    assert(e3.getMessage.contains("not schema evolution"), e3.getMessage)
    // CHECK constraints re-validate the updated rows
    VersionedTable.addConstraint(spark, root, "n_nonneg", "n >= 0", "c1")
    val e4 = intercept[IllegalArgumentException](VersionedTable.updateWhere(spark, root,
      Seq(15L).toDF("id"), "id", Map("n" -> "-1L"), "fix-neg"))
    assert(e4.getMessage.contains("n_nonneg"), e4.getMessage)
    // CHANGE FEED across the update commits — a bounded row-delta like
    // merge/delete, not a refusal. v3 (fix-10: values changed, key kept)
    // yields exactly one preimage/postimage pair:
    val feed3 = VersionedTable.readChangeFeed(spark, root, 3L, 4L, "id")
      .collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[Long]("n"))).toSeq.sorted
    assert(feed3 == Seq(("update_postimage", 10L, 200L), ("update_preimage", 10L, 100L)),
      feed3.toString)
    // v5 (swap-1 SET id = n: the KEY ITSELF changed) correctly reads as
    // the old key deleted and the new key inserted:
    val feed4 = VersionedTable.readChangeFeed(spark, root, 4L, 5L, "id")
      .collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSeq.sorted
    assert(feed4 == Seq(("delete", 1L), ("insert", 10L)), feed4.toString)
  }

  test("VersionedTable.updateRange: envelope-pruned bulk SET, NULLs pass, generated recompute, renamed cols") {
    import spark.implicits._
    val root = tmpDir("vt_uprange")
    VersionedTable.commit(Seq((Some(1L), 10L), (Some(5L), 50L), (None, 999L))
      .toDF("id", "n"), root, "append", "r1", statsCols = Seq("id"))
    VersionedTable.commit(Seq((Some(20L), 200L), (Some(25L), 250L)).toDF("id", "n"),
      root, "append", "r2", statsCols = Seq("id"))
    // range hits band 1 only; the NULL row never matches a SQL range
    val (v, hit, total) = VersionedTable.updateRange(spark, root, "id", 0L, 10L,
      Map("n" -> "n + 1"), "bump", statsCols = Seq("id"))
    assert(v == 3L && hit == 1 && total == 2, s"($v, $hit, $total)")
    val got = VersionedTable.read(spark, root).orderBy($"id".asc_nulls_last)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 11L), (5L, 51L), (20L, 200L), (25L, 250L), (-1L, 999L)),
      got.toString)
    // rename, then SET through the LOGICAL name on a renamed column
    VersionedTable.renameColumn(root, "n", "amount", "ren")
    VersionedTable.updateRange(spark, root, "id", 20L, 20L,
      Map("amount" -> "amount * 10"), "bump2", statsCols = Seq("id"))
    assert(VersionedTable.read(spark, root).filter($"id" === 20L)
      .head().getLong(1) == 2000L)
    // GENERATED column: refused as a SET target, recomputed from new values
    val root2 = tmpDir("vt_uprange_gen")
    VersionedTable.addGeneratedColumn(spark, root2, "dbl", "base * 2", "g0")
    VersionedTable.commit(Seq((1L, 3L, 6L), (2L, 4L, 8L)).toDF("id", "base", "dbl"),
      root2, "append", "g1", statsCols = Seq("id"))
    val eg = intercept[IllegalArgumentException](VersionedTable.updateRange(spark, root2,
      "id", 1L, 1L, Map("dbl" -> "0L"), "g-direct"))
    assert(eg.getMessage.contains("GENERATED ALWAYS AS"), eg.getMessage)
    VersionedTable.updateRange(spark, root2, "id", 1L, 1L, Map("base" -> "base + 7"), "g2")
    val gen = VersionedTable.read(spark, root2).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gen == Seq((1L, 10L, 20L), (2L, 4L, 8L)), gen.toString)
    // string-envelope form prunes via strStats
    val root3 = tmpDir("vt_uprange_str")
    VersionedTable.commit(Seq(("apple", 1L), ("avocado", 2L)).toDF("k", "n"),
      root3, "append", "s1", statsCols = Seq("k"))
    VersionedTable.commit(Seq(("mango", 3L)).toDF("k", "n"), root3, "append", "s2",
      statsCols = Seq("k"))
    val (_, h3, t3) = VersionedTable.updateRange(spark, root3, "k", "a", "b",
      Map("n" -> "n + 100"), "s-bump")
    assert(h3 == 1 && t3 == 2, s"($h3, $t3)")
    val s3 = VersionedTable.read(spark, root3).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(s3 == Seq(("apple", 101L), ("avocado", 102L), ("mango", 3L)), s3.toString)
    // hive-partitioned table: updating the PARTITION column moves the row
    // to its new subdir under the rewritten dir
    val root4 = tmpDir("vt_uprange_part")
    VersionedTable.commit(Seq((1L, 2023, "a"), (2L, 2024, "b")).toDF("id", "year", "s"),
      root4, "append", "p1", partitionCols = Seq("year"), statsCols = Seq("id"))
    VersionedTable.updateWhere(spark, root4, Seq(1L).toDF("id"), "id",
      Map("year" -> "2025"), "move-part")
    val p4 = VersionedTable.read(spark, root4).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(p4 == Seq((1L, 2025), (2L, 2024)), p4.toString)
  }

  test("VersionedTable null-count index: IS [NOT] NULL pruning, rewrite carry, evolution-backfill safety") {
    import spark.implicits._
    val root = tmpDir("vt_nulls")
    // dir 1: no nulls in v; dir 2: some nulls; dir 3: ALL nulls
    VersionedTable.commit(Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v"),
      root, "append", "n1", statsCols = Seq("id", "v"))
    VersionedTable.commit(Seq((3L, Some("c")), (4L, Option.empty[String])).toDF("id", "v"),
      root, "append", "n2", statsCols = Seq("id", "v"))
    VersionedTable.commit(Seq((5L, Option.empty[String]), (6L, Option.empty[String]))
      .toDF("id", "v"), root, "append", "n3", statsCols = Seq("id", "v"))
    val dirs = VersionedTable.latestCommit(root).get.dirs
    // IS NULL skips the zero-null dir; IS NOT NULL skips the all-null dir
    assert(VersionedTable.planNull(root, "v", wantNull = true).size == 2)
    assert(VersionedTable.planNull(root, "v", wantNull = false).size == 2)
    assert(VersionedTable.planNull(root, "id", wantNull = true).isEmpty)
    val isNull = VersionedTable.readWhereNull(spark, root, "v", wantNull = true)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(isNull == Seq(4L, 5L, 6L), isNull.toString)
    val notNull = VersionedTable.readWhereNull(spark, root, "v", wantNull = false)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(notNull == Seq(1L, 2L, 3L), notNull.toString)
    // a merge rewrite REBUILDS the touched dir's counts and carries the rest
    VersionedTable.mergeInto(spark, root,
      Seq((4L, Some("now-set"))).toDF("id", "v"), "id", "n-merge",
      statsCols = Seq("id", "v"))
    assert(VersionedTable.readWhereNull(spark, root, "v", wantNull = true)
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(5L, 6L))
    val c2 = VersionedTable.latestCommit(root).get
    assert(c2.nullCounts.size == 3 && dirs.count(c2.nullCounts.contains) == 2,
      "pass dirs keep entries by reference; the rewritten dir gets fresh counts")
    // evolution safety: a dir written BEFORE a column existed carries no
    // count for it — IS NULL on the new column must still scan it (its
    // rows read as backfilled NULLs)
    val root2 = tmpDir("vt_nulls_evo")
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "s"), root2, "append", "e1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((2L, "y", Some(7L))).toDF("id", "s", "extra"),
      root2, "append", "e2", statsCols = Seq("id", "extra"))
    val keptEvo = VersionedTable.planNull(root2, "extra", wantNull = true)
    assert(keptEvo.size == 1 && keptEvo.head.contains("-e1-"),
      s"pre-evolution dir (no entry) must stay in the IS NULL scan; the " +
        s"zero-null e2 dir may skip — got $keptEvo")
    assert(VersionedTable.readWhereNull(spark, root2, "extra", wantNull = true)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // hive-partitioned: the sentinel subdir is the null carrier
    val root3 = tmpDir("vt_nulls_part")
    VersionedTable.commit(Seq((1L, Some(2023)), (2L, Option.empty[Int])).toDF("id", "year"),
      root3, "append", "p1", partitionCols = Seq("year"), statsCols = Seq("year"))
    VersionedTable.commit(Seq((3L, Some(2024))).toDF("id", "year"),
      root3, "append", "p2", partitionCols = Seq("year"), statsCols = Seq("year"))
    assert(VersionedTable.planNull(root3, "year", wantNull = true).size == 1)
    assert(VersionedTable.readWhereNull(spark, root3, "year", wantNull = true)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // rename: the index lives under PHYSICAL names, probed via logical
    VersionedTable.renameColumn(root, "v", "val", "n-ren")
    assert(VersionedTable.readWhereNull(spark, root, "val", wantNull = true)
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(5L, 6L))
    // the format relation pushes IS NULL into the same index: 1 of 2 dirs
    val rel = spark.read.format("graft-versioned").load(root3)
      .filter($"year".isNull).select("id")
    assert(rel.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val si = graft.io.VersionedRelation.lastScan
    assert(si.dirsKept == 1 && si.dirsTotal == 2, si.toString)
  }

  test("VersionedTable.widenColumnType: metadata-only int->bigint / float->double, era-correct travel, guards") {
    import spark.implicits._
    val root = tmpDir("vt_widen")
    VersionedTable.commit(Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("n", "f", "s"),
      root, "append", "w1", statsCols = Seq("n"))
    // widen int -> bigint and float -> double: two metadata-only commits
    val v2 = VersionedTable.widenColumnType(root, "n", "bigint", "w-n")
    val v3 = VersionedTable.widenColumnType(root, "f", "double", "w-f")
    assert(v2 == 2L && v3 == 3L)
    assert(VersionedTable.history(root).last.mode == "widen")
    // no data moved: the ORIGINAL dir still serves, read under the wider types
    val wide = VersionedTable.read(spark, root)
    assert(wide.schema("n").dataType.sql == "BIGINT" && wide.schema("f").dataType.sql == "DOUBLE")
    assert(wide.orderBy("n").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 1.5), (2L, 2.5)))
    // time travel to v1 reads the era-correct NARROW types
    val narrow = VersionedTable.read(spark, root, asOf = Some(1L))
    assert(narrow.schema("n").dataType.sql == "INT" && narrow.schema("f").dataType.sql == "FLOAT")
    // widen is METADATA-ONLY to CDC: the batch change feed crosses it
    // with zero rows (not a refusal)
    assert(VersionedTable.readChangeFeed(spark, root, 1L, 3L, "n").count() == 0L)
    // post-widen appends must SUPPLY the widened type; a narrow batch is refused
    val eN = intercept[IllegalArgumentException](VersionedTable.commit(
      Seq((3, 3.5, "c")).toDF("n", "f", "s"), root, "append", "w-narrow"))
    assert(eN.getMessage.contains("type change"), eN.getMessage)
    VersionedTable.commit(Seq((1000000000000L, 3.5, "c")).toDF("n", "f", "s"),
      root, "append", "w2", statsCols = Seq("n"))
    // the skipping index spans narrow-era and wide-era dirs: a range read
    // over the long domain prunes to the wide dir only
    val kept = VersionedTable.planRange(root, "n", 1000000L, Long.MaxValue)
    assert(kept.size == 1 && VersionedTable.latestCommit(root).get.dirs.size == 2,
      kept.toString)
    assert(VersionedTable.read(spark, root).count() == 3)
    // mergeInto under the widened schema rewrites the narrow-era dir fine
    VersionedTable.mergeInto(spark, root,
      Seq((2L, 9.9, "B")).toDF("n", "f", "s"), "n", "w-merge", statsCols = Seq("n"))
    val m = VersionedTable.read(spark, root).filter($"n" === 2L).head()
    assert(m.getDouble(1) == 9.9 && m.getString(2) == "B")
    // idempotent retry returns the committed version
    assert(VersionedTable.widenColumnType(root, "n", "bigint", "w-n") == 2L)
    // guards: narrowing / same-type / cross-family refused
    intercept[IllegalArgumentException](VersionedTable.widenColumnType(root, "n", "int", "g1"))
    intercept[IllegalArgumentException](VersionedTable.widenColumnType(root, "n", "bigint", "g2"))
    intercept[IllegalArgumentException](VersionedTable.widenColumnType(root, "s", "bigint", "g3"))
    // partition column refused
    val rootP = tmpDir("vt_widen_part")
    VersionedTable.commit(Seq((1L, 2023), (2L, 2024)).toDF("id", "year"),
      rootP, "append", "p1", partitionCols = Seq("year"))
    val eP = intercept[IllegalArgumentException](
      VersionedTable.widenColumnType(rootP, "year", "bigint", "gp"))
    assert(eP.getMessage.contains("partition"), eP.getMessage)
    // generated-source refused (the expression's result type would drift)
    val rootG = tmpDir("vt_widen_gen")
    VersionedTable.addGeneratedColumn(spark, rootG, "dbl", "base * 2", "gg0")
    VersionedTable.commit(Seq((1, 2), (2, 4)).toDF("base", "dbl"), rootG, "append", "gg1")
    val eG = intercept[IllegalArgumentException](
      VersionedTable.widenColumnType(rootG, "base", "bigint", "gg2"))
    assert(eG.getMessage.contains("generated"), eG.getMessage)
    // MOR delete-set key refused until compact absorbs
    val rootM = tmpDir("vt_widen_mor")
    VersionedTable.commit(Seq((1, "a"), (2, "b")).toDF("id", "s"), rootM, "append", "m1",
      statsCols = Seq("id"))
    VersionedTable.deleteWhereMor(spark, rootM, Seq(1).toDF("id"), "id", "m-del")
    val eM = intercept[IllegalArgumentException](
      VersionedTable.widenColumnType(rootM, "id", "bigint", "m-widen"))
    assert(eM.getMessage.contains("delete set"), eM.getMessage)
    VersionedTable.compact(spark, rootM, "m-compact", 1, statsCols = Seq("id"))
    assert(VersionedTable.widenColumnType(rootM, "id", "bigint", "m-widen2") > 0L)
    assert(VersionedTable.read(spark, rootM).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("VersionedTable.deleteWhereMor: merge-on-read lifecycle — mark, hide, re-insert, absorb, refuse CDC") {
    import spark.implicits._
    val root = tmpDir("vt_mor")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "m1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "m2",
      statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // the purge writes ONE small key set and marks only the envelope-hit
    // dir — zero data dirs rewritten, dir list unchanged
    val (v, marked, total) = VersionedTable.deleteWhereMor(spark, root,
      Seq(10L).toDF("id"), "id", "mor-purge")
    assert(v == 3L && marked == 1 && total == 2, s"($v, $marked, $total)")
    val after = VersionedTable.history(root).last
    assert(after.mode == "delete-mor" && after.dirs == before, "no dir may be rewritten")
    assert(after.deletes.values.flatten.toSeq.forall(_.startsWith("deletes/0000000000-mor-purge")),
      after.deletes.toString)
    def ids = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L, 15L))
    // point/range reads hide the key too
    assert(VersionedTable.readPoint(spark, root, "id", 10L).count() == 0)
    assert(VersionedTable.readRange(spark, root, "id", 0L, 100L).count() == 3)
    // idempotent retry
    assert(VersionedTable.deleteWhereMor(spark, root,
      Seq(10L).toDF("id"), "id", "mor-purge") == ((3L, -1, -1)))
    // time travel BEFORE the delete still shows the row
    assert(VersionedTable.read(spark, root, asOf = Some(2L)).count() == 4)
    // a LATER append RE-INSERTS the purged key (its dir is never covered)
    VersionedTable.commit(Seq((10L, "c-again")).toDF("id", "s"), root, "append", "m3",
      statsCols = Seq("id"))
    assert(ids == Set(1L, 5L, 10L, 15L))
    // CDC refuses to cross the coverage change on a shared dir...
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 2L, 3L))
    // ...but a pure append range AFTER it is fine, and a dir appended then
    // covered INSIDE the range delivers its surviving rows
    assert(VersionedTable.changesBetween(spark, root, 3L, 4L)
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
    VersionedTable.deleteWhereMor(spark, root, Seq(15L).toDF("id"), "id", "mor-p2")
    // the accumulation METER sees both pending sets stacked on the ONE
    // covered dir (keys 10 and 15 both live in m2's envelope) — the absorb
    // policy's driver-visible input: compact when setsPending grows
    assert(VersionedTable.morStatus(spark, root) == ((1, 2, 2L)),
      s"expected 1 covered dir / 2 sets / 2 keys, got ${VersionedTable.morStatus(spark, root)}")
    // copy-on-write rewrite of a covered dir must NOT resurrect hidden rows
    val (_, hitCw, _) = VersionedTable.deleteWhere(spark, root,
      Seq(5L).toDF("id"), "id", "cw-after-mor", statsCols = Seq("id"))
    assert(hitCw >= 1)
    assert(ids == Set(1L, 10L), s"resurrected or lost rows: $ids")
    // compaction absorbs ALL remaining coverage — the meter returns to zero
    VersionedTable.compact(spark, root, "mor-opt", targetFiles = 1)
    assert(VersionedTable.history(root).last.deletes.isEmpty, "compaction absorbs coverage")
    assert(VersionedTable.morStatus(spark, root) == ((0, 0, 0L)),
      "absorption must zero the meter")
    assert(ids == Set(1L, 10L))
    val reclaimed = VersionedTable.vacuum(root, retainLast = 1)
    assert(reclaimed.exists(_.contains("deletes/")), s"delete sets must be swept: $reclaimed")
    assert(ids == Set(1L, 10L))
    // NULL keys refused loudly, same contract as copy-on-write
    val e = intercept[Exception](VersionedTable.deleteWhereMor(spark, root,
      Seq(Option.empty[Long]).toDF("id"), "id", "mor-null"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("NULL delete key"), msgs)
  }

  test("VersionedTable.deleteWherePos: positional deletion vectors — join-free read, lifecycle, absorb") {
    import spark.implicits._
    val root = tmpDir("vt_dv")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b")).toDF("id", "s"), root, "append", "d1",
      statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "c"), (15L, "d")).toDF("id", "s"), root, "append", "d2",
      statsCols = Seq("id"))
    val before = VersionedTable.history(root).last.dirs
    // the purge resolves PHYSICAL (file, row_index) coordinates into one
    // posdel vector and marks only the envelope-hit dir — no dir rewritten
    val (v, marked, nPos) = VersionedTable.deleteWherePos(spark, root,
      Seq(10L).toDF("id"), "id", "dv-purge")
    assert(v == 3L && marked == 1 && nPos == 1L, s"($v, $marked, $nPos)")
    val after = VersionedTable.history(root).last
    assert(after.mode == "delete-pos" && after.dirs == before, "no dir may be rewritten")
    assert(after.deletes.values.flatten.toSeq.forall(_.startsWith("posdel/0000000003-dv-purge")),
      after.deletes.toString)
    def ids = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L, 15L))
    // THE point of the positional form: the covered read is JOIN-FREE —
    // the vector applies as a codegen'd scalar predicate inside the scan,
    // not as the key twin's broadcast anti-join
    val plan = VersionedTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), s"positional read must not anti-join:\n$plan")
    assert(plan.contains("pos_deleted"), s"expected the positional predicate:\n$plan")
    // point/range reads hide the row too
    assert(VersionedTable.readPoint(spark, root, "id", 10L).count() == 0)
    assert(VersionedTable.readRange(spark, root, "id", 0L, 100L).count() == 3)
    // idempotent retry; time travel BEFORE the delete still shows the row
    assert(VersionedTable.deleteWherePos(spark, root,
      Seq(10L).toDF("id"), "id", "dv-purge") == ((3L, -1, -1L)))
    assert(VersionedTable.read(spark, root, asOf = Some(2L)).count() == 4)
    // a LATER append RE-INSERTS the purged key (its dir is never covered)
    VersionedTable.commit(Seq((10L, "c-again")).toDF("id", "s"), root, "append", "d3",
      statsCols = Seq("id"))
    assert(ids == Set(1L, 5L, 10L, 15L))
    // CDC refuses to cross the coverage change on a shared dir (kind-agnostic)
    intercept[IllegalArgumentException](VersionedTable.changesBetween(spark, root, 2L, 3L))
    // ...but the CHANGE FEED expresses it: the positional delete emits
    // exactly the hidden row as a 'delete' change (same contract as the
    // key-MOR feed — the coverage-diff machinery is kind-agnostic)
    val feed = VersionedTable.readChangeFeed(spark, root, 2L, 3L, "id")
      .select("id", "_change_type").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(feed.toSeq == Seq((10L, "delete")), feed.mkString(", "))
    // the split meter: zero key sets, one positional vector, one position
    VersionedTable.deleteWherePos(spark, root, Seq(15L).toDF("id"), "id", "dv-p2")
    assert(VersionedTable.morDetail(spark, root) == ((1, 0, 0L, 2, 2L)),
      s"got ${VersionedTable.morDetail(spark, root)}")
    assert(VersionedTable.morStatus(spark, root) == ((1, 2, 2L)))
    // the manifest declares the reader feature exactly while a vector lives
    assert(VersionedTable.describeDetail(spark, root)
      .select("features").head().getSeq[String](0).contains("pos-deletes"))
    // copy-on-write rewrite of a covered dir must NOT resurrect hidden rows
    val (_, hitCw, _) = VersionedTable.deleteWhere(spark, root,
      Seq(5L).toDF("id"), "id", "cw-after-dv", statsCols = Seq("id"))
    assert(hitCw >= 1)
    assert(ids == Set(1L, 10L), s"resurrected or lost rows: $ids")
    // compaction absorbs ALL remaining coverage; vacuum sweeps the vectors
    VersionedTable.compact(spark, root, "dv-opt", targetFiles = 1)
    assert(VersionedTable.history(root).last.deletes.isEmpty, "compaction absorbs coverage")
    assert(VersionedTable.morDetail(spark, root) == ((0, 0, 0L, 0, 0L)))
    assert(ids == Set(1L, 10L))
    val reclaimed = VersionedTable.vacuum(root, retainLast = 1)
    assert(reclaimed.exists(_.contains("posdel/")), s"vectors must be swept: $reclaimed")
    assert(ids == Set(1L, 10L))
    // NULL keys refused loudly, same contract as the key twin
    val e = intercept[Exception](VersionedTable.deleteWherePos(spark, root,
      Seq(Option.empty[Long]).toDF("id"), "id", "dv-null"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("NULL delete key"), msgs)
  }

  test("_filestats contract stamp: pre-contract side files read as ABSENT — never skip, never answer") {
    import spark.implicits._
    val root = tmpDir("vt_fscontract")
    VersionedTable.commit(Seq((1L, "a"), (100L, "b")).toDF("id", "s"), root,
      "append", "fsc-1", statsCols = Seq("id"))
    val dir = VersionedTable.history(root).last.dirs.head
    val dp = java.nio.file.Paths.get(s"$root/$dir")
    val fsPath = dp.resolve("_filestats")
    // current writer stamps the every-block-accounted contract
    assert(java.nio.file.Files.readString(fsPath).contains("\"__contract\":2"))
    // sanity: with the honest envelope, a disjoint range skips cleanly
    assert(VersionedTable.readRange(spark, root, "id", 50L, 200L)
      .collect().map(_.getLong(0)).toSet == Set(100L))
    // forge a LEGACY (unstamped) side file whose envelope is TOO NARROW —
    // exactly what a pre-contract writer that silently skipped a
    // stats-less block could have left behind
    import scala.jdk.CollectionConverters._
    val rels = java.nio.file.Files.walk(dp).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => dp.relativize(p).toString).toSeq.sorted
    val legacy = rels.map(r =>
      "\"" + r + "\":{\"__rows\":[\"r\",2],\"id\":[\"i\",1,5]}")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(fsPath, legacy)
    // trusting that envelope would skip the file and LOSE id=100; the
    // stamp gate must treat it as absent instead
    assert(VersionedTable.readRange(spark, root, "id", 50L, 200L)
      .collect().map(_.getLong(0)).toSet == Set(100L),
      "a pre-contract envelope must never be skip authority")
    // row counts stay trustworthy (they always summed every block)
    assert(VersionedTable.read(spark, root).count() == 2L)
    // ANALYZE rewrites the side file under the current contract
    VersionedTable.analyze(spark, root, Seq("id"), "fsc-an")
    assert(java.nio.file.Files.readString(fsPath).contains("\"__contract\":2"))
    assert(VersionedTable.readRange(spark, root, "id", 50L, 200L)
      .collect().map(_.getLong(0)).toSet == Set(100L))
  }

  test("PosDeleted: value equality across plan builds — canonicalized scans equal, exchange reuse fires, explain bounded") {
    import spark.implicits._
    import graft.functions.PosDeleted
    // unit level: two instances over the same delete set but DISTINCT
    // Array objects (exactly what two separate plan builds deserialize)
    // must compare equal with consistent hashCodes — Array equality is
    // identity-based, so the derived case-class equals would say false
    val l = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = false)
    val r = org.apache.spark.sql.catalyst.expressions.BoundReference(
      1, org.apache.spark.sql.types.LongType, nullable = false)
    val p1 = PosDeleted(l, r, "data", Map("data/f1" -> Array(3L, 7L)))
    val p2 = PosDeleted(l, r, "data", Map("data/f1" -> Array(3L, 7L)))
    val p3 = PosDeleted(l, r, "data", Map("data/f1" -> Array(3L, 8L)))
    assert(p1 == p2 && p1.hashCode == p2.hashCode && p1 != p3)
    assert(p1.canonicalized == p2.canonicalized)
    // explain output elides the vector: file/position COUNTS, not values
    assert(p1.toString.contains("1 files/2 positions") &&
      !p1.toString.contains("[J"), p1.toString)
    // plan level: two INDEPENDENT builds over the same DV snapshot feed a
    // self-join — their aggregates shuffle on equal canonicalized children,
    // so Spark's exchange reuse must fire instead of scanning twice
    val root = tmpDir("vt_dv_eq")
    VersionedTable.commit(Seq((1L, "a"), (5L, "b"), (10L, "b")).toDF("id", "s"),
      root, "append", "eq-c1", statsCols = Seq("id"))
    VersionedTable.deleteWherePos(spark, root, Seq(10L).toDF("id"), "id", "eq-dv")
    val a = VersionedTable.read(spark, root).groupBy("s")
      .agg(org.apache.spark.sql.functions.sum("id").as("x"))
    val b = VersionedTable.read(spark, root).groupBy("s")
      .agg(org.apache.spark.sql.functions.sum("id").as("y"))
    val j = a.join(b, "s")
    assert(j.collect().map(r0 => (r0.getString(0), r0.getLong(1))).toSet
      == Set(("a", 1L), ("b", 5L)))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("reuse"),
      s"expected exchange reuse over the covered scan:\n$plan")
  }

  test("VersionedTable.deletePosWhere: arbitrary-predicate delete as a positional vector") {
    import spark.implicits._
    val root = tmpDir("vt_dv_pred")
    VersionedTable.commit(Seq((1L, "keep me", 10L), (2L, "drop ssn here", 20L),
      (3L, "also keep", 5L), (4L, "ssn too", 40L)).toDF("id", "text", "v"),
      root, "append", "dp-c1", statsCols = Seq("id"))
    VersionedTable.commit(Seq((5L, "fine", 50L), (6L, "ssn again", 3L))
      .toDF("id", "text", "v"), root, "append", "dp-c2", statsCols = Seq("id"))
    // a LIKE + range conjunction no keyed/range verb can express
    val (v, marked, nPos) = VersionedTable.deletePosWhere(spark, root,
      "text LIKE '%ssn%' AND v >= 10", "dp-del")
    assert(v == 3L && marked == 1 && nPos == 2L, s"($v, $marked, $nPos)")
    def ids = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L, 6L), ids.toString) // id 6 survives (v = 3 < 10)
    // join-free read, idempotent retry, no dir rewritten
    val plan = VersionedTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti") && plan.contains("pos_deleted"))
    assert(VersionedTable.deletePosWhere(spark, root,
      "text LIKE '%ssn%' AND v >= 10", "dp-del") == ((3L, -1, -1L)))
    // predicate over LOGICAL names: after a rename the old physical name
    // is gone and the new one matches; a schema-evolved column backfills
    // its DEFAULT so the predicate sees the declared value
    VersionedTable.renameColumn(root, "text", "body", "dp-ren")
    VersionedTable.addColumnWithDefault(spark, root, "tier", "string",
      "'bronze'", "dp-def")
    val (_, _, nTier) = VersionedTable.deletePosWhere(spark, root,
      "tier = 'bronze' AND body LIKE '%again%'", "dp-del2")
    assert(nTier == 1L)
    assert(ids == Set(1L, 3L, 5L))
    // the RETIRED physical name refuses loudly: Spark's missing-input
    // resolution would silently reach through the rename otherwise
    val eOld = intercept[IllegalArgumentException](VersionedTable.deletePosWhere(
      spark, root, "text LIKE '%ssn%'", "dp-bad"))
    assert(eOld.getMessage.contains("unknown column 'text'"), eOld.getMessage)
    // NULL predicate rows survive (SQL WHERE semantics)
    VersionedTable.commit(Seq((7L, null.asInstanceOf[String], "bronze", 70L))
      .toDF("id", "body", "tier", "v").select(col("id"), col("body"),
        col("tier"), col("v")), root, "append", "dp-c3", statsCols = Seq("id"))
    VersionedTable.deletePosWhere(spark, root, "body LIKE '%keep%'", "dp-del3")
    assert(ids == Set(5L, 7L), ids.toString)
    // SQL statement form + compact absorbs everything
    spark.sql(s"DELETE GRAFT '$root' POSITIONAL WHERE (v > 60)").collect()
    assert(ids == Set(5L))
    VersionedTable.compact(spark, root, "dp-opt", 1)
    assert(VersionedTable.morDetail(spark, root) == ((0, 0, 0L, 0, 0L)))
    assert(ids == Set(5L))
  }

  test("VersionedTable.deleteWherePos: hive layout, duplicate rows, mixed coverage, shallow clone") {
    import spark.implicits._
    // HIVE-partitioned dir: positions key files under their partition
    // subdirs, and the partition column itself works as the delete key
    val rootH = tmpDir("vt_dv_hive")
    VersionedTable.commit(Seq((1L, 2020, "a"), (2L, 2020, "a2"), (3L, 2021, "b"))
      .toDF("id", "year", "s"), rootH, "append", "h1",
      partitionCols = Seq("year"), statsCols = Seq("id"))
    val (_, _, nH) = VersionedTable.deleteWherePos(spark, rootH,
      Seq(2020).toDF("year"), "year", "h-del")
    assert(nH == 2L, s"expected both 2020 rows recorded, got $nH")
    assert(VersionedTable.read(spark, rootH).collect().map(_.getLong(0)).toSet == Set(3L))
    // DUPLICATE rows of the key all hide (positions of every match recorded)
    val rootD = tmpDir("vt_dv_dup")
    VersionedTable.commit(Seq((7L, "x"), (7L, "y"), (8L, "z")).toDF("id", "s"),
      rootD, "append", "dd1", statsCols = Seq("id"))
    val (_, _, nD) = VersionedTable.deleteWherePos(spark, rootD,
      Seq(7L).toDF("id"), "id", "dd-del")
    assert(nD == 2L)
    assert(VersionedTable.read(spark, rootD).collect().map(_.getString(1)).toSeq == Seq("z"))
    // MIXED coverage on one dir: a key set AND a positional vector both apply
    val rootM = tmpDir("vt_dv_mixed")
    VersionedTable.commit((1L to 6L).map(i => (i, s"r$i")).toDF("id", "s"),
      rootM, "append", "mx1", statsCols = Seq("id"))
    VersionedTable.deleteWhereMor(spark, rootM, Seq(2L).toDF("id"), "id", "mx-key")
    VersionedTable.deleteWherePos(spark, rootM, Seq(4L).toDF("id"), "id", "mx-pos")
    assert(VersionedTable.read(spark, rootM).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 6L))
    assert(VersionedTable.morDetail(spark, rootM) == ((1, 1, 1L, 1, 1L)))
    // SHALLOW CLONE of a pos-covered table: the external-ref rewrite of dir
    // names must leave recorded vectors valid (file keys are spelled by the
    // dir's LAST path component, which the rewrite preserves)
    val rootC = tmpDir("vt_dv_clone")
    VersionedTable.cloneTo(rootM, rootC, "mx-clone")
    assert(VersionedTable.read(spark, rootC).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 6L), "clone must not resurrect positionally-deleted rows")
    // and the clone's own compaction absorbs the inherited coverage locally
    VersionedTable.compact(spark, rootC, "mx-clone-opt", targetFiles = 1)
    assert(VersionedTable.morDetail(spark, rootC) == ((0, 0, 0L, 0, 0L)))
    assert(VersionedTable.read(spark, rootC).collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 6L))
  }

  test("VersionedTable.compact zorderBy: re-clustered files prune on EITHER dimension") {
    import spark.implicits._
    val root = tmpDir("vt_opt_zorder")
    // two appends clustered by NEITHER dimension (interleaved x, random-ish y)
    val rows = (0L until 4096L).map(i => (i % 64, (i * 2654435761L) % 64, s"r$i"))
    VersionedTable.commit(rows.take(2048).toDF("x", "y", "s"), root, "append", "z1",
      statsCols = Seq("x", "y"))
    VersionedTable.commit(rows.drop(2048).toDF("x", "y", "s"), root, "append", "z2",
      statsCols = Seq("x", "y"))
    // neither dim prunes anything pre-compaction (every file spans both)
    val (preX, preTotX) = VersionedTable.planRangeFiles(root, "x", 0L, 7L)
    assert(preX == preTotX, s"fixture must start unclustered: $preX of $preTotX")
    VersionedTable.compact(spark, root, "optimize-z", targetFiles = 16,
      statsCols = Seq("x", "y"), zorderBy = Seq("x", "y"))
    val (sx, tx) = VersionedTable.planRangeFiles(root, "x", 0L, 7L)
    val (sy, ty) = VersionedTable.planRangeFiles(root, "y", 0L, 7L)
    assert(tx >= 8 && sx < tx, s"x-range must prune files after zorder: $sx of $tx")
    assert(sy < ty, s"y-range must prune files after zorder: $sy of $ty")
    // content untouched by the re-cluster; residual still exact
    assert(VersionedTable.read(spark, root).count() == 4096)
    assert(VersionedTable.readRange(spark, root, "x", 0L, 7L).count() == 4096 / 8)
    // contract failures are loud: one column, partitioned snapshot
    intercept[IllegalArgumentException](VersionedTable.compact(spark, root, "bad-z",
      targetFiles = 4, zorderBy = Seq("x")))
  }

  test("VersionedTable.compact CLUSTER BY (Hilbert): prunes either axis, beats-or-ties Morton, SQL form") {
    import spark.implicits._
    val root = tmpDir("vt_opt_hilbert")
    val rows = (0L until 4096L).map(i => (i % 64, (i * 2654435761L) % 64, s"r$i"))
    VersionedTable.commit(rows.take(2048).toDF("x", "y", "s"), root, "append", "h1",
      statsCols = Seq("x", "y"))
    VersionedTable.commit(rows.drop(2048).toDF("x", "y", "s"), root, "append", "h2",
      statsCols = Seq("x", "y"))
    // OPTIMIZE ... CLUSTER BY through the SQL front door = hilbert curve
    spark.sql(s"OPTIMIZE GRAFT '$root' TARGET 16 CLUSTER BY (x, y)").collect()
    val (sx, tx) = VersionedTable.planRangeFiles(root, "x", 0L, 7L)
    val (sy, ty) = VersionedTable.planRangeFiles(root, "y", 0L, 7L)
    assert(tx >= 8 && sx < tx, s"x-range must prune files after CLUSTER BY: $sx of $tx")
    assert(sy < ty, s"y-range must prune files after CLUSTER BY: $sy of $ty")
    assert(VersionedTable.read(spark, root).count() == 4096)
    assert(VersionedTable.readRange(spark, root, "x", 0L, 7L).count() == 4096 / 8)
    // locality head-to-head on the same data: a Morton-clustered twin must
    // scan at least as many files for the same pair of axis probes
    val rootM = tmpDir("vt_opt_morton_twin")
    VersionedTable.commit(rows.take(2048).toDF("x", "y", "s"), rootM, "append", "m1",
      statsCols = Seq("x", "y"))
    VersionedTable.commit(rows.drop(2048).toDF("x", "y", "s"), rootM, "append", "m2",
      statsCols = Seq("x", "y"))
    spark.sql(s"OPTIMIZE GRAFT '$rootM' TARGET 16 ZORDER BY (x, y)").collect()
    val (mx, _) = VersionedTable.planRangeFiles(rootM, "x", 0L, 7L)
    val (my, _) = VersionedTable.planRangeFiles(rootM, "y", 0L, 7L)
    assert(sx + sy <= mx + my,
      s"hilbert must not scan more files than morton on the axis probes: " +
        s"hilbert=($sx,$sy) morton=($mx,$my)")
  }

  test("VersionedTable.replaceRange: atomic backfill — contained drop, residual rewrite, stray/NULL guards, idempotent") {
    import spark.implicits._
    val root = tmpDir("vt_replace")
    def band(lo: Int, hi: Int, tag: String) =
      (lo to hi).map(i => (i.toLong, s"$tag$i")).toDF("k", "v")
    VersionedTable.commit(band(0, 9, "old"), root, "append", "rr1", statsCols = Seq("k"))
    VersionedTable.commit(band(10, 19, "old"), root, "append", "rr2", statsCols = Seq("k"))
    VersionedTable.commit(band(20, 29, "old"), root, "append", "rr3", statsCols = Seq("k"))
    // backfill [0, 14] with a recomputed batch holding FEWER rows (evens
    // only): in-range odds must disappear (a merge would keep them)
    val batch = (0 to 14 by 2).map(i => (i.toLong, s"new$i")).toDF("k", "v")
    val (v, nDrop, nRew, nTot) =
      VersionedTable.replaceRange(spark, root, "k", 0L, 14L, batch, "rr-bf",
        statsCols = Seq("k"))
    assert((v, nDrop, nRew, nTot) == (4L, 1, 1, 3), s"($v, $nDrop, $nRew, $nTot)")
    val want1 = ((0 to 14 by 2).map(i => i.toLong -> s"new$i") ++
      (15 to 29).map(i => i.toLong -> s"old$i")).toMap
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toMap == want1)
    // commitId retry is a no-op returning the committed version
    assert(VersionedTable.replaceRange(spark, root, "k", 0L, 14L, batch, "rr-bf")
      == ((4L, -1, -1, -1)))
    // a batch row OUTSIDE the range is refused loudly before any write
    val e1 = intercept[Exception](VersionedTable.replaceRange(spark, root, "k",
      0L, 4L, Seq((9L, "zz")).toDF("k", "v"), "rr-bad1"))
    assert(e1.getMessage.contains("outside"), e1.getMessage)
    // so is a NULL in the range column (no range contains NULL)
    val e2 = intercept[Exception](VersionedTable.replaceRange(spark, root, "k",
      0L, 4L, Seq[(java.lang.Long, String)]((null, "z")).toDF("k", "v"), "rr-bad2"))
    assert(e2.getMessage.contains("outside"), e2.getMessage)
    // schema drift is refused: backfill is not schema evolution
    val e3 = intercept[Exception](VersionedTable.replaceRange(spark, root, "k",
      0L, 4L, Seq((1L, "z", 1)).toDF("k", "v", "extra"), "rr-bad3"))
    assert(e3.getMessage.contains("schema"), e3.getMessage)
    // empty batch = pure range delete; the [20,29] band is contained and
    // drops metadata-only
    val (v5, d5, r5, _) = VersionedTable.replaceRange(spark, root, "k", 20L, 29L,
      spark.emptyDataset[(Long, String)].toDF("k", "v"), "rr-empty", statsCols = Seq("k"))
    assert(v5 == 5L && d5 == 1 && r5 == 0, s"($v5, $d5, $r5)")
    val want2 = want1.filter(_._1 < 20L)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toMap == want2)
    // NULL rows in the range column SURVIVE a later backfill of any range
    VersionedTable.commit(Seq[(java.lang.Long, String)]((null, "nul")).toDF("k", "v"),
      root, "append", "rr-null", statsCols = Seq("k"))
    VersionedTable.replaceRange(spark, root, "k", 0L, 9L,
      (0 to 9).map(i => (i.toLong, s"n2$i")).toDF("k", "v"), "rr-bf2",
      statsCols = Seq("k"))
    val got3 = VersionedTable.read(spark, root).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    val want3 = (0 to 9).map(i => i.toLong -> s"n2$i").toMap ++
      want2.filter(_._1 >= 10L) + (-1L -> "nul")
    assert(got3 == want3, got3.toSeq.sortBy(_._1).mkString(", "))
  }

  test("VersionedTable.mergeIntoConditional: delete/update/insert clauses with struct-scoped conditions; defaults = upsert") {
    import spark.implicits._
    val root = tmpDir("vt_cmerge")
    VersionedTable.commit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "b", 40.0))
        .toDF("k", "grp", "price"),
      root, "append", "cm1", statsCols = Seq("k"))
    val src = Seq((1L, "a", 99.0), (2L, "b", 25.0), (3L, "a", 1.0),
      (9L, "c", 9.0), (10L, "c", 10.0)).toDF("k", "grp", "price")
    val (v, rw, tot) = VersionedTable.mergeIntoConditional(spark, root, src, "k", "cm2",
      matchedDeleteCond = Some("tgt.grp = 'a' AND src.price > tgt.price"),
      matchedUpdateCond = Some("src.price > tgt.price"),
      notMatchedInsertCond = Some("src.k % 2 = 0"),
      statsCols = Seq("k"))
    assert((v, rw, tot) == ((2L, 1, 1)), s"($v, $rw, $tot)")
    // k=1 deleted (both delete conjuncts hold); k=2 updated (25 > 20);
    // k=3 kept (no clause fires); k=4 untouched (not in source); k=9
    // skipped by the insert condition; k=10 inserted
    val got = VersionedTable.read(spark, root).as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(2L -> (("b", 25.0)), 3L -> (("a", 30.0)),
      4L -> (("b", 40.0)), 10L -> (("c", 10.0))), got.toSeq.sortBy(_._1).mkString(", "))
    // commitId retry is a no-op
    assert(VersionedTable.mergeIntoConditional(spark, root, src, "k", "cm2")
      == ((2L, -1, -1)))
    // all-default clauses behave exactly like mergeInto's upsert
    val twinA = tmpDir("vt_cmerge_twa"); val twinB = tmpDir("vt_cmerge_twb")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "grp", "price")
    val batch = Seq((2L, "b", 99.0), (5L, "c", 50.0)).toDF("k", "grp", "price")
    VersionedTable.commit(base, twinA, "append", "tw1", statsCols = Seq("k"))
    VersionedTable.commit(base, twinB, "append", "tw1", statsCols = Seq("k"))
    VersionedTable.mergeIntoConditional(spark, twinA, batch, "k", "tw2")
    VersionedTable.mergeInto(spark, twinB, batch, "k", "tw2")
    assert(VersionedTable.read(spark, twinA).as[(Long, String, Double)].collect().toSet
      == VersionedTable.read(spark, twinB).as[(Long, String, Double)].collect().toSet)
    // NULL source keys refused loudly, like every merge path
    val eNull = intercept[Exception](VersionedTable.mergeIntoConditional(spark, root,
      Seq[(java.lang.Long, String, Double)]((null, "z", 0.0)).toDF("k", "grp", "price"),
      "k", "cm-null").toString)
    assert(eNull.getMessage.toLowerCase.contains("null"), eNull.getMessage)
  }

  test("mergeIntoConditional evolveSchema: new source columns widen the snapshot, old rows NULL-backfill, era-correct travel") {
    import spark.implicits._
    val root = tmpDir("vt_merge_evolve")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      root, "append", "me1", statsCols = Seq("k"))
    val src = Seq((2L, "B", 7), (9L, "i", 9)).toDF("k", "v", "score")
    // strict mode refuses the extra column
    val eStrict = intercept[Exception](
      VersionedTable.mergeIntoConditional(spark, root, src, "k", "me-strict"))
    assert(eStrict.getMessage.contains("evolveSchema"), eStrict.getMessage)
    // evolving merge: k=2 updated (gains score), k=9 inserted, k=1/3
    // NULL-backfill the new column
    VersionedTable.mergeIntoConditional(spark, root, src, "k", "me2",
      evolveSchema = true, statsCols = Seq("k"))
    val got = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2)))).toMap
    assert(got == Map(1L -> (("a", -1)), 2L -> (("B", 7)), 3L -> (("c", -1)),
      9L -> (("i", 9))), got.toSeq.sortBy(_._1).mkString(", "))
    // time travel to v1 shows the pre-evolution shape
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq == Seq("k", "v"))
    // a type change is still refused — evolution is add-only
    val eType = intercept[Exception](VersionedTable.mergeIntoConditional(spark, root,
      Seq((2L, 5L, 7)).toDF("k", "v", "score"), "k", "me-type", evolveSchema = true))
    assert(eType.getMessage.contains("type change"), eType.getMessage)
    // post-evolution merges use the widened schema strictly
    VersionedTable.mergeIntoConditional(spark, root,
      Seq((3L, "C", 3)).toDF("k", "v", "score"), "k", "me3", statsCols = Seq("k"))
    assert(VersionedTable.read(spark, root).filter(col("k") === 3L)
      .head().getInt(2) == 3)
  }

  test("VersionedTable.copyInto: file-granular idempotent ingestion — new files load, seen files skip, stale markers ignored") {
    import spark.implicits._
    val root = tmpDir("vt_copyinto")
    val stage = tmpDir("vt_copyinto_stage")
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f1")
    Seq((2L, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f2")
    val glob = s"$stage/f*/part-*.parquet"
    val (v1, l1, s1) = VersionedTable.copyInto(spark, root, glob, "ci-1",
      statsCols = Seq("k"))
    assert((v1, l1, s1) == ((1L, 2, 0)), s"($v1, $l1, $s1)")
    assert(VersionedTable.read(spark, root).count() == 2)
    // rerun with a fresh commitId: everything skips, NOTHING publishes
    assert(VersionedTable.copyInto(spark, root, glob, "ci-2") == ((1L, 0, 2)))
    assert(VersionedTable.history(root).size == 1)
    // a third file arrives — only it loads
    Seq((3L, "c")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f3")
    val (v3, l3, s3) = VersionedTable.copyInto(spark, root, glob, "ci-3",
      statsCols = Seq("k"))
    assert((v3, l3, s3) == ((2L, 1, 2)), s"($v3, $l3, $s3)")
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // same-commitId retry: version short-circuits, file now counts loaded
    assert(VersionedTable.copyInto(spark, root, glob, "ci-3") == ((2L, 0, 3)))
    // a marker whose commitId never committed is a crashed attempt — the
    // file is NOT loaded and must load now
    Seq((4L, "d")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f4")
    val f4part = new java.io.File(s"$stage/f4").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(f4part.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "ingest", md5 + ".json"),
      s"""{"path":"$f4part","commitId":"ghost-never-committed"}""")
    val (v5, l5, s5) = VersionedTable.copyInto(spark, root, glob, "ci-5",
      statsCols = Seq("k"))
    assert((v5, l5, s5) == ((3L, 1, 3)), s"($v5, $l5, $s5)")
    assert(VersionedTable.read(spark, root).count() == 4)
    // crash simulation: ci-7's attempt manifest recorded f5 and its commit
    // landed, but the "crash" hit before the markers; f6 arrived later.
    // The NEXT run — under a completely DIFFERENT commitId — self-heals:
    // its sweep marks f5 from the committed attempt manifest (never
    // re-loading it), then loads only the genuinely-new f6
    Seq((5L, "e")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f5")
    val f5part = new java.io.File(s"$stage/f5").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    VersionedTable.commit(spark.read.parquet(f5part), root, "append", "ci-7",
      statsCols = Seq("k"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "ingest", "attempt-ci-7.json"),
      s"""{"files":["$f5part"]}""")
    Seq((6L, "f")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f6")
    val (_, l7, s7) = VersionedTable.copyInto(spark, root, glob, "ci-9-other",
      statsCols = Seq("k"))
    assert((l7, s7) == ((1, 5)), s"($l7, $s7)")
    assert(VersionedTable.read(spark, root).count() == 6)
    // no duplicates: the crashed commit's file was healed, not re-loaded
    assert(VersionedTable.read(spark, root).filter(col("k") === 5L).count() == 1)
    // the healed attempt manifest is retired
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "ingest", "attempt-ci-7.json")))
    // the SQL statement drains the same landing zone, idempotently under
    // re-execution (UUID commitIds are safe because of the self-heal pass)
    Seq((7L, "g")).toDF("k", "v").coalesce(1).write.parquet(s"$stage/f7")
    val sqlRow = spark.sql(s"COPY INTO GRAFT '$root' FROM '$glob'").head()
    assert(sqlRow.getInt(1) == 1 && sqlRow.getInt(2) == 6, sqlRow.toString)
    assert(spark.sql(s"COPY INTO GRAFT '$root' FROM '$glob'").head().getInt(1) == 0)
    assert(VersionedTable.read(spark, root).count() == 7)
  }

  test("OPTIMIZE GRAFT WHERE + CLUSTER BY: partition-scoped z-order clusters within the selected partitions only") {
    import spark.implicits._
    val root = tmpDir("vt_opt_where_z")
    val rowsA = (0 until 2048).map(i =>
      ("a", (i % 64).toLong, (i * 2654435761L) % 64, s"a$i"))
    val rowsB = (0 until 2048).map(i =>
      ("b", (i % 64).toLong, (i * 1099087573L) % 64, s"b$i"))
    VersionedTable.commit(rowsA.toDF("p", "x", "y", "s"), root, "append", "owz1",
      statsCols = Seq("x", "y"), partitionCols = Seq("p"))
    VersionedTable.commit(rowsB.toDF("p", "x", "y", "s"), root, "append", "owz2",
      statsCols = Seq("x", "y"), partitionCols = Seq("p"))
    val res = spark.sql(
      s"OPTIMIZE GRAFT '$root' TARGET 16 WHERE p IN ('a') CLUSTER BY (x, y)").head()
    assert((res.getInt(1), res.getInt(2)) == ((1, 2)), res.toString) // only p=a's dir touched
    // the rewritten partition's files prune on BOTH clustered axes
    val (sx, tx) = VersionedTable.planRangeFiles(root, "x", 0L, 7L)
    val (sy, ty) = VersionedTable.planRangeFiles(root, "y", 0L, 7L)
    assert(sx < tx, s"x-range must prune after scoped CLUSTER BY: $sx of $tx")
    assert(sy < ty, s"y-range must prune after scoped CLUSTER BY: $sy of $ty")
    // nothing lost, hive pruning still composes with the file index
    assert(VersionedTable.read(spark, root).count() == 4096)
    assert(VersionedTable.read(spark, root)
      .filter(col("p") === "a" && col("x") <= 7L).count() == 256)
    // z-ordering a partition column itself is refused
    val e = intercept[Exception](spark.sql(
      s"OPTIMIZE GRAFT '$root' TARGET 4 WHERE p IN ('b') ZORDER BY (p, x)").collect())
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("ALTER GRAFT DDL family: rename, widen, generated column, constraints, drop column — all through SQL") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val root = catRoot("vt_alter_sql")
    VersionedTable.commit(
      Seq((1L, "a", 1, 2L), (2L, "b", 2, 4L)).toDF("k", "v", "n", "k2"),
      root, "append", "al1", statsCols = Seq("k"))
    spark.sql("ALTER TABLE iocat.db.vt_alter_sql RENAME COLUMN v TO label")
    assert(VersionedTable.read(spark, root).columns.contains("label"))
    spark.sql("ALTER TABLE iocat.db.vt_alter_sql ALTER COLUMN n TYPE bigint")
    assert(VersionedTable.read(spark, root).schema("n").dataType == LongType)
    // declare k2 generated (existing values validate; no ALTER TABLE form
    // exists for it), then a CHECK
    spark.sql(s"ALTER GRAFT '$root' ADD COLUMN k2 GENERATED ALWAYS AS (k * 2)").collect()
    spark.sql("ALTER TABLE iocat.db.vt_alter_sql ADD CONSTRAINT pos CHECK (k > 0)")
    // the constraint now rejects a violating append through ANY write path
    val e = intercept[Exception](VersionedTable.commit(
      Seq((-5L, "c", 3L, -10L)).toDF("k", "label", "n", "k2"), root, "append", "al-bad"))
    assert(e.getMessage.contains("pos"), e.getMessage)
    // and a contradicted generated column refuses too
    val e2 = intercept[Exception](VersionedTable.commit(
      Seq((5L, "c", 3L, 99L)).toDF("k", "label", "n", "k2"), root, "append", "al-gen"))
    assert(e2.getMessage.contains("k2"), e2.getMessage)
    // dropping the constraint re-admits the row (generated value correct)
    spark.sql("ALTER TABLE iocat.db.vt_alter_sql DROP CONSTRAINT pos")
    VersionedTable.commit(
      Seq((-5L, "c", 3L, -10L)).toDF("k", "label", "n", "k2"), root, "append", "al-ok")
    spark.sql("ALTER TABLE iocat.db.vt_alter_sql DROP COLUMN label")
    val r = VersionedTable.read(spark, root)
    assert(!r.columns.contains("label") && r.count() == 3)
  }

  test("GENERATED ALWAYS AS IDENTITY: contiguous allocation across commits, explicit/merge/SET/rename/drop refused, survives compact") {
    import spark.implicits._
    val root = tmpDir("vt_identity")
    VersionedTable.addIdentityColumn(root, "row_id", startWith = 1000L, stepBy = 2L,
      commitId = "id-decl")
    VersionedTable.commit(Seq("a", "b", "c").toDF("v"), root, "append", "id-1",
      statsCols = Seq("row_id"))
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("v", "row_id"))
    assert(VersionedTable.read(spark, root).select("row_id").as[Long]
      .collect().sorted.toSeq == Seq(1000L, 1002L, 1004L))
    // the second append CONTINUES the sequence — no overlap, no gap
    VersionedTable.commit(Seq("d", "e").toDF("v"), root, "append", "id-2")
    assert(VersionedTable.read(spark, root).select("row_id").as[Long]
      .collect().sorted.toSeq == Seq(1000L, 1002L, 1004L, 1006L, 1008L))
    // GENERATED ALWAYS: explicit values refused
    val e1 = intercept[Exception](VersionedTable.commit(
      Seq(("x", 9L)).toDF("v", "row_id"), root, "append", "id-bad"))
    assert(e1.getMessage.contains("IDENTITY"), e1.getMessage)
    // merge-shaped verbs refuse outright (Delta's rule)
    val e2 = intercept[Exception](VersionedTable.mergeInto(spark, root,
      Seq(("y", 1000L)).toDF("v", "row_id"), "row_id", "id-m"))
    assert(e2.getMessage.contains("IDENTITY"), e2.getMessage)
    // SET on the column refused; deletes work unchanged
    val e3 = intercept[Exception](VersionedTable.updateRange(spark, root, "row_id",
      1000L, 1004L, Map("row_id" -> "0"), "id-u"))
    assert(e3.getMessage.contains("IDENTITY"), e3.getMessage)
    VersionedTable.deleteWhere(spark, root, Seq(1002L).toDF("row_id"), "row_id",
      "id-del", statsCols = Seq("row_id"))
    assert(VersionedTable.read(spark, root).count() == 4)
    // rename/drop of the allocator column refused
    assert(intercept[Exception](VersionedTable.renameColumn(root, "row_id", "rid",
      "id-r")).getMessage.contains("IDENTITY"))
    assert(intercept[Exception](VersionedTable.dropColumn(root, "row_id",
      "id-d")).getMessage.contains("IDENTITY"))
    // the spec + high-water survive a compaction rewrite: the next append
    // continues where the allocator left off
    VersionedTable.compact(spark, root, "id-opt", targetFiles = 2,
      statsCols = Seq("row_id"))
    VersionedTable.commit(Seq("f").toDF("v"), root, "append", "id-3")
    assert(VersionedTable.read(spark, root).select("row_id").as[Long]
      .collect().sorted.toSeq == Seq(1000L, 1004L, 1006L, 1008L, 1010L))
    // declaration on a table that already holds data refuses
    val e4 = intercept[Exception](VersionedTable.addIdentityColumn(root, "other",
      commitId = "id-decl2"))
    assert(e4.getMessage.contains("already holds data"), e4.getMessage)
    // the SQL declaration form bootstraps a fresh table
    val root2 = tmpDir("vt_identity_sql")
    spark.sql(s"ALTER GRAFT '$root2' ADD COLUMN rid GENERATED ALWAYS AS IDENTITY " +
      "(START WITH 5 STEP 3)").collect()
    VersionedTable.commit(Seq("p", "q").toDF("v"), root2, "append", "ids-1")
    assert(VersionedTable.read(spark, root2).select("rid").as[Long]
      .collect().sorted.toSeq == Seq(5L, 8L))
  }

  test("TBLPROPERTIES: SQL set/unset/show, carried by rewrites and clones, restored by rollback, time-travelable") {
    import spark.implicits._
    val root = tmpDir("vt_props")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "append",
      "tp1", statsCols = Seq("k"))
    spark.sql(s"ALTER GRAFT '$root' SET TBLPROPERTIES " +
      "('retention.days' = '30', 'owner' = 'pipeline')").collect()
    val shown = spark.sql(s"SHOW TBLPROPERTIES GRAFT '$root'").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(shown == Seq("owner" -> "pipeline", "retention.days" -> "30"), shown.toString)
    // a copy-on-write rewrite carries the registry
    VersionedTable.mergeInto(spark, root, Seq((1L, "A")).toDF("k", "v"), "k", "tp-m",
      statsCols = Seq("k"))
    assert(VersionedTable.tableProperties(root).size == 2)
    // so do compaction and clone
    VersionedTable.compact(spark, root, "tp-opt", targetFiles = 2, statsCols = Seq("k"))
    assert(VersionedTable.tableProperties(root)("owner") == "pipeline")
    val cloneRoot = tmpDir("vt_props_clone")
    VersionedTable.cloneTo(root, cloneRoot, "tp-clone")
    assert(VersionedTable.tableProperties(cloneRoot)("retention.days") == "30")
    // unknown keys refuse; a real unset narrows the registry
    val e = intercept[Exception](
      spark.sql(s"ALTER GRAFT '$root' UNSET TBLPROPERTIES ('nope')").collect())
    assert(e.getMessage.contains("nope"), e.getMessage)
    spark.sql(s"ALTER GRAFT '$root' UNSET TBLPROPERTIES ('retention.days')").collect()
    assert(VersionedTable.tableProperties(root) == Map("owner" -> "pipeline"))
    // rollback restores the TARGET's registry (v1 predates every property)
    VersionedTable.rollback(root, 1L, "tp-rb")
    assert(VersionedTable.tableProperties(root).isEmpty)
    // and the full registry is still there under time travel
    assert(VersionedTable.tableProperties(root, asOf = Some(2L))
      == Map("owner" -> "pipeline", "retention.days" -> "30"))
  }

  test("vacuum consolidates a checkpoint before dropping manifests: a retry of a pre-checkpoint vacuumed commit still no-ops") {
    import spark.implicits._
    val root = tmpDir("vt_vac_ckpt")
    // seven commits — BELOW the checkpoint interval, so no ckpt file exists
    (1 to 7).foreach(i => VersionedTable.commit(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), root, "append", s"vc$i"): Unit)
    val before = VersionedTable.latestVersion(root).get
    VersionedTable.vacuum(root, retainLast = 1)
    // manifests v1..v6 are gone, but the vacuum-written checkpoint still
    // resolves the old commitId — the retry must NO-OP, not double-apply
    val r = VersionedTable.commit(Seq((99L, "dup")).toDF("k", "v"),
      root, "append", "vc3")
    assert(r == 3L, s"retry of a vacuumed commit must resolve via the checkpoint, got $r")
    assert(VersionedTable.latestVersion(root).contains(before))
    assert(VersionedTable.read(spark, root).count() == 7)
  }

  test("VACUUM DRY RUN + RESTORE TO TIMESTAMP: report-only sweep, instant-resolved restore, both through SQL") {
    import spark.implicits._
    val root = tmpDir("vt_vac_dry")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "append", "vd1")
    Thread.sleep(5)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    VersionedTable.commit(Seq((9L, "z")).toDF("k", "v"), root, "overwrite", "vd2")
    // DRY RUN reports the overwritten v1 dir but touches NOTHING — the
    // dir stays on disk, time travel still reads it, manifests survive
    val dry = spark.sql(s"VACUUM GRAFT '$root' RETAIN 1 DRY RUN")
      .collect().map(_.getString(0))
    assert(dry.length == 1, dry.mkString(", "))
    assert(new java.io.File(dry.head).isDirectory, dry.head)
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 2)
    assert(VersionedTable.history(root).size == 2)
    // RESTORE TO TIMESTAMP: the instant between the commits resolves to
    // v1; restore is a new history-preserving commit
    val ts = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(betweenMs), java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    val res = spark.sql(s"RESTORE GRAFT '$root' TO TIMESTAMP '$ts'").head()
    assert((res.getLong(0), res.getLong(1)) == ((3L, 1L)), res.toString)
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    // the real sweep reclaims exactly what the dry run reported... except
    // what the restore just re-referenced — re-run dry first to re-check
    val dry2 = spark.sql(s"VACUUM GRAFT '$root' RETAIN 1 DRY RUN")
      .collect().map(_.getString(0))
    val removed = spark.sql(s"VACUUM GRAFT '$root' RETAIN 1")
      .collect().map(_.getString(0))
    assert(removed.toSeq == dry2.toSeq, s"dry=$dry2 real=$removed")
    removed.foreach(p => assert(!new java.io.File(p).exists(), p))
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("SQL MERGE GRAFT: conditional clauses, paren-bearing source query, no-clause upsert, WITH SCHEMA EVOLUTION") {
    import spark.implicits._
    val root = tmpDir("vt_sql_merge")
    VersionedTable.commit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "b", 40.0))
        .toDF("k", "grp", "price"),
      root, "append", "sm1", statsCols = Seq("k"))
    Seq((1L, "a", 99.0), (2L, "b", 25.0), (3L, "a", 1.0), (9L, "c", 9.0),
      (10L, "c", 10.0)).toDF("k", "grp", "price")
      .createOrReplaceTempView("sm_src")
    // full clause set; the source query carries parentheses and the
    // conditions carry AND — both must survive parsing
    val res = spark.sql(
      s"""MERGE GRAFT '$root' ON k FROM (SELECT k, grp, round(price, (1)) AS price FROM sm_src)
         |WHEN MATCHED AND tgt.grp = 'a' AND src.price > tgt.price THEN DELETE
         |WHEN MATCHED AND src.price > tgt.price THEN UPDATE
         |WHEN NOT MATCHED AND src.k % 2 = 0 THEN INSERT""".stripMargin).head()
    assert((res.getLong(0), res.getInt(1), res.getInt(2)) == ((2L, 1, 1)), res.toString)
    val got = VersionedTable.read(spark, root).as[(Long, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(2L -> (("b", 25.0)), 3L -> (("a", 30.0)),
      4L -> (("b", 40.0)), 10L -> (("c", 10.0))), got.toSeq.sortBy(_._1).mkString(", "))
    // an UPDATE-only statement leaves non-matching matched rows UNCHANGED
    // (no implicit upsert when any clause is spelled)
    spark.sql(s"MERGE GRAFT '$root' ON k FROM (SELECT * FROM sm_src WHERE k = 3) " +
      "WHEN MATCHED AND src.price > tgt.price THEN UPDATE").collect()
    assert(VersionedTable.read(spark, root).filter(col("k") === 3L)
      .head().getDouble(2) == 30.0) // 1.0 > 30.0 is false; no insert clause either
    // no clauses at all = the plain upsert
    spark.sql(s"MERGE GRAFT '$root' ON k FROM (SELECT * FROM sm_src WHERE k IN (3, 9))")
      .collect()
    val up = VersionedTable.read(spark, root).as[(Long, String, Double)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(up(3L) == 1.0 && up(9L) == 9.0, up.toSeq.sortBy(_._1).mkString(", "))
    // WITH SCHEMA EVOLUTION widens through SQL
    Seq((2L, "b", 25.0, 7)).toDF("k", "grp", "price", "score")
      .createOrReplaceTempView("sm_src_ev")
    spark.sql(s"MERGE GRAFT '$root' ON k FROM (SELECT * FROM sm_src_ev) " +
      "WITH SCHEMA EVOLUTION").collect()
    val r2 = VersionedTable.read(spark, root)
    assert(r2.columns.contains("score"))
    assert(r2.filter(col("k") === 2L).head().getInt(3) == 7)
    assert(r2.filter(col("k") === 4L).head().isNullAt(3))
  }

  test("SQL REPLACE GRAFT: backfill statement whose source query reads the table's own snapshot") {
    import spark.implicits._
    val root = tmpDir("vt_sql_replace")
    VersionedTable.commit((0 to 9).map(i => (i.toLong, s"old$i")).toDF("k", "v"),
      root, "append", "sr1", statsCols = Seq("k"))
    VersionedTable.commit((10 to 19).map(i => (i.toLong, s"old$i")).toDF("k", "v"),
      root, "append", "sr2", statsCols = Seq("k"))
    // self-backfill: recompute [0, 9] from the current snapshot via the TVF
    val res = spark.sql(s"REPLACE GRAFT '$root' WHERE k BETWEEN 0 AND 9 FROM " +
      s"(SELECT k, concat('r', v) AS v FROM graft_table('$root') WHERE k <= 9 AND k % 3 <> 1)")
      .head()
    assert((res.getInt(1), res.getInt(2), res.getInt(3)) == ((1, 0, 2)), res.toString)
    val got = VersionedTable.read(spark, root).as[(Long, String)].collect().toMap
    val want = ((0 to 9).filter(_ % 3 != 1).map(i => i.toLong -> s"rold$i") ++
      (10 to 19).map(i => i.toLong -> s"old$i")).toMap
    assert(got == want, got.toSeq.sortBy(_._1).mkString(", "))
    // the SQL-issued rewrite inherited the snapshot's stats index: the new
    // dir still prunes on k
    val (scan, total) = VersionedTable.planRangeFiles(root, "k", 15L, 19L)
    assert(scan < total, s"$scan of $total")
  }

  test("SQL TVF front door: graft_table latest/version/timestamp, graft_changes, pushdown, literal guard") {
    import spark.implicits._
    val root = tmpDir("vt_tvf")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "append", "tvf1",
      statsCols = Seq("k"))
    Thread.sleep(5)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), root, "append", "tvf2",
      statsCols = Seq("k"))
    // latest snapshot + VERSION AS OF, straight from SQL
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$root')").head().getLong(0) == 3)
    assert(spark.sql(s"SELECT sum(k) FROM graft_table('$root', 1)").head().getLong(0) == 3)
    // TIMESTAMP AS OF: an instant between the two commits pins v1 (session
    // timezone is UTC, so format the literal in UTC too)
    val ts = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(betweenMs), java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    assert(spark.sql(s"SELECT count(*) FROM graft_table('$root', TIMESTAMP '$ts')")
      .head().getLong(0) == 2)
    // change feed of commit 2 through SQL: one insert row, tagged with its
    // commit version
    val chg = spark.sql(
      s"SELECT _change_type, _commit_version, k FROM graft_changes('$root', 1, 2, 'k')")
      .collect()
    assert(chg.length == 1 && chg(0).getString(0) == "insert" &&
      chg(0).getLong(1) == 2L && chg(0).getLong(2) == 3L, chg.mkString)
    // the TVF resolves to the real parquet relation: a filter through SQL
    // still reaches the scan as a pushed filter
    val planned = spark.sql(s"SELECT v FROM graft_table('$root') WHERE k = 3")
      .queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"), planned)
    // non-literal arguments are refused: a snapshot pin is a planning-time
    // decision
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_table(concat('$root', ''))").collect())
    assert(e.getMessage.contains("STRING literal"), e.getMessage)
    // TVF results join with ordinary relations inside one Catalyst plan
    val joined = spark.sql(
      s"""SELECT t.k, u.tag FROM graft_table('$root') t
         |JOIN VALUES (1, 'one'), (3, 'three') AS u(k, tag) ON t.k = u.k
         |ORDER BY t.k""".stripMargin).collect()
    assert(joined.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "one"), (3L, "three")), joined.mkString)
    // graft_history joins commit metadata against the change feed: each
    // change row correlates with its committing operation
    val hist = spark.sql(
      s"""SELECT c._commit_version, h.operation, c.k
         |FROM graft_changes('$root', 1, 2, 'k') c
         |JOIN graft_history('$root') h ON h.version = c._commit_version""".stripMargin)
      .collect()
    assert(hist.length == 1 && hist(0).getString(1) == "append" &&
      hist(0).getLong(2) == 3L, hist.mkString)
  }

  test("VersionedTable: TIMESTAMP AS OF resolves the latest commit at-or-before the instant") {
    import spark.implicits._
    val root = tmpDir("vt_ts_travel")
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root, "append", "tt1")
    Thread.sleep(15)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), root, "append", "tt2")
    val log = VersionedTable.history(root)
    assert(log.forall(_.committedAtMs > 0), "every manifest stamps its publish time")
    val t1 = log.head.committedAtMs
    assert(VersionedTable.versionAsOfTimestamp(root, t1) == 1L)
    assert(VersionedTable.readAsOfTimestamp(spark, root, t1).count() == 1)
    assert(VersionedTable.versionAsOfTimestamp(root, System.currentTimeMillis + 1000) == 2L)
    // before the first commit: loud failure, not an arbitrary snapshot
    intercept[RuntimeException](VersionedTable.versionAsOfTimestamp(root, t1 - 1))
  }

  test("VersionedTable: TIMESTAMP stats index micros; time-retention deleteRange drops contained dirs") {
    import spark.implicits._
    val root = tmpDir("vt_ts_retention")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.commit(Seq((1L, ts("2022-01-01 00:00:00")), (2L, ts("2022-01-31 00:00:00")))
      .toDF("id", "t"), root, "append", "t1", statsCols = Seq("t"))
    VersionedTable.commit(Seq((3L, ts("2022-02-01 00:00:00")), (4L, ts("2022-02-28 00:00:00")))
      .toDF("id", "t"), root, "append", "t2", statsCols = Seq("t"))
    VersionedTable.commit(Seq((5L, ts("2022-03-01 00:00:00")), (6L, ts("2022-03-31 00:00:00")))
      .toDF("id", "t"), root, "append", "t3", statsCols = Seq("t"))
    // the timestamp envelope is micros in the manifest's integer index
    val stats = VersionedTable.history(root).last.stats
    assert(stats.values.flatMap(_.keys).toSet == Set("t"), stats.toString)
    // time-range read with micro bounds: January only (dir pruning +
    // pushdown-friendly typed residual)
    def micros(s: String) = ts(s).getTime * 1000L
    val jan = VersionedTable.readRange(spark, root, "t",
      micros("2022-01-01 00:00:00"), micros("2022-01-31 23:59:59"))
    assert(jan.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(VersionedTable.planRange(root, "t",
      micros("2022-01-01 00:00:00"), micros("2022-01-31 23:59:59")).size == 1)
    // retention purge: everything before Feb 15 — January's dir drops
    // METADATA-ONLY, February's rewrites, March passes by reference
    val (v, nDrop, nRewrite, nTotal) = VersionedTable.deleteRange(spark, root, "t",
      0L, micros("2022-02-15 00:00:00"), "retention", statsCols = Seq("t"))
    assert(v == 4L && nDrop == 1 && nRewrite == 1 && nTotal == 3,
      s"($v, $nDrop, $nRewrite, $nTotal)")
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
      == Set(4L, 5L, 6L))
  }

  test("VersionedTable: bloom refinement confines merge/delete when envelopes fully overlap") {
    import spark.implicits._
    val root = tmpDir("vt_merge_bloom")
    // four slices by id % 4: every [min, max] spans the domain, so the
    // envelope gate alone would rewrite ALL dirs; blooms must confine it
    (0 to 3).foreach { i =>
      VersionedTable.commit((0L until 64L).filter(_ % 4 == i).map(k => (k, s"v$k"))
        .toDF("id", "s"), root, "append", s"b$i",
        statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    // batch keys all ≡ 2 (mod 4): only slice 2's dir should rewrite
    // (bloom fp on 3 other dirs at these fixed keys: deterministic, and
    // the assertion tolerates none — re-seed the test data if it ever
    // collides after a bloom-geometry change)
    val (v, hit, total) = VersionedTable.mergeInto(spark, root,
      Seq((2L, "X2"), (6L, "X6"), (10L, "X10")).toDF("id", "s"), "id", "bm-apply",
      statsCols = Seq("id"), bloomCols = Seq("id"))
    assert(v == 5L && hit == 1 && total == 4, s"bloom refinement failed: ($v, $hit, $total)")
    val rows = VersionedTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows(2L) == "X2" && rows(6L) == "X6" && rows(10L) == "X10" && rows(3L) == "v3")
    assert(rows.size == 64)
    // deleteWhere through the same gate: purge two keys ≡ 1 (mod 4)
    val (_, hitD, totalD) = VersionedTable.deleteWhere(spark, root,
      Seq(1L, 5L).toDF("id"), "id", "bd-purge", bloomCols = Seq("id"))
    assert(hitD == 1 && totalD == 4, s"($hitD, $totalD)")
    assert(VersionedTable.read(spark, root).count() == 62)
    // a dir WITHOUT a bloom is never refined away (conservative)
    val root2 = tmpDir("vt_merge_nobloom")
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root2, "append", "nb1",
      statsCols = Seq("id"))
    val (_, h2, t2) = VersionedTable.mergeInto(spark, root2,
      Seq((1L, "A")).toDF("id", "s"), "id", "nb-apply")
    assert(h2 == 1 && t2 == 1)
  }

  test("VersionedTable.deleteWhere: string keys prune via strStats; partitioned layout preserved") {
    import spark.implicits._
    val root = tmpDir("vt_delete_str")
    // lexicographically DISJOINT bands — that's what the envelope prunes on
    VersionedTable.commit(Seq(("apple", 2022, 1L), ("avocado", 2023, 2L))
      .toDF("k", "year", "n"), root, "append", "sd1",
      partitionCols = Seq("year"), statsCols = Seq("k"))
    VersionedTable.commit(Seq(("mango", 2023, 4L), ("melon", 2022, 5L)).toDF("k", "year", "n"),
      root, "append", "sd2", partitionCols = Seq("year"), statsCols = Seq("k"))
    val (_, hit, total) = VersionedTable.deleteWhere(spark, root,
      Seq("mango").toDF("k"), "k", "sd-purge")
    assert(hit == 1 && total == 2, s"strStats envelope must confine the rewrite: ($hit, $total)")
    val after = VersionedTable.history(root).last
    assert(after.partitionCols == Seq("year"))
    val rows = VersionedTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(rows == Seq(("apple", 1L), ("avocado", 2L), ("melon", 5L)), rows.toString)
  }

  test("VersionedTable.deleteWhere: concurrent appends either serialize or fail loudly; nothing is lost") {
    import spark.implicits._
    val root = tmpDir("vt_delete_race")
    VersionedTable.commit((0L until 20L).map(i => (i, s"r$i")).toDF("id", "s"),
      root, "append", "base", statsCols = Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (0 until 6).foreach { i =>
        VersionedTable.commit(Seq((100L + i, s"new$i")).toDF("id", "s"),
          root, "append", s"race-a$i", statsCols = Seq("id"))
      } catch { case t: Throwable => errs.add(t) }
    })
    val deleter = new Thread(() => {
      try (0 until 3).foreach { i =>
        // pinned-parent contract: a delete that loses the publish race
        // fails LOUDLY with "log advanced" and the caller re-runs — retry
        // until it lands; every failure must be the advertised one
        var done = false
        while (!done) {
          try { VersionedTable.deleteWhere(spark, root,
            Seq(i * 5L).toDF("id"), "id", s"race-d$i"); done = true }
          catch {
            case e: RuntimeException if Option(e.getMessage).exists(_.contains("log advanced")) =>
            case t: Throwable => errs.add(t); done = true
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    appender.start(); deleter.start(); appender.join(); deleter.join()
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    val ids = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    val want = (0L until 20L).toSet -- Set(0L, 5L, 10L) ++ (0 until 6).map(100L + _).toSet
    assert(ids == want, s"lost or resurrected rows:\n got ${ids.toSeq.sorted}\n want ${want.toSeq.sorted}")
    // single-winner slots: contiguous version range, all commitIds distinct
    val log = VersionedTable.history(root)
    assert(log.map(_.version) == (1L to log.size))
    assert(log.map(_.commitId).distinct.size == log.size)
  }

  test("VersionedTable: add-column evolution backfills NULLs, time travel keeps old shape, type change and drop refused") {
    import spark.implicits._
    val root = tmpDir("vt_schema")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root, "overwrite", "e1")
    // widened append: new column `extra`
    VersionedTable.commit(Seq((3L, "c", 30L)).toDF("id", "s", "extra"), root, "append", "e2")
    val latest = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(latest.toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))),
      s"backfill mismatch: ${latest.toSeq}")
    // time travel to v1 returns the ORIGINAL narrow schema
    assert(VersionedTable.read(spark, root, asOf = Some(1L)).columns.toSeq == Seq("id", "s"))
    // type change refused loudly, log not advanced
    val e1 = intercept[IllegalArgumentException](VersionedTable.commit(
      Seq((4L, 9L)).toDF("id", "s"), root, "append", "e3"))
    assert(e1.getMessage.contains("type change"), e1.getMessage)
    // dropping a parent column refused loudly
    val e2 = intercept[RuntimeException](VersionedTable.commit(
      Seq(5L).toDF("id"), root, "append", "e4"))
    assert(e2.getMessage.contains("drops column"), e2.getMessage)
    assert(VersionedTable.history(root).size == 2, "failed commits must not advance the log")
    // a further widened append composes; compact preserves the evolved schema
    VersionedTable.commit(Seq((6L, "d", 60L)).toDF("id", "s", "extra"), root, "append", "e5")
    VersionedTable.compact(spark, root, "e-opt", targetFiles = 1)
    val after = VersionedTable.read(spark, root)
    assert(after.columns.toSeq == Seq("id", "s", "extra"))
    assert(after.count() == 4)
  }

  test("VersionedTable.readPoint: bloom skips absent-key dirs, keeps bloom-less ones, compact rebuilds") {
    import spark.implicits._
    val root = tmpDir("vt_bloom")
    // two bloomed commits with fully OVERLAPPING [min, max] (1..100 vs 2..99)
    // — range stats could never separate them; the bloom must
    VersionedTable.commit(Seq((1L, "a"), (100L, "b")).toDF("id", "s"), root, "append", "b1",
      bloomCols = Seq("id"))
    VersionedTable.commit(Seq((2L, "c"), (99L, "d")).toDF("id", "s"), root, "append", "b2",
      bloomCols = Seq("id"))
    VersionedTable.commit(Seq((3L, "e")).toDF("id", "s"), root, "append", "b3") // no bloom
    val kept = VersionedTable.planPoint(root, "id", 100L)
    assert(kept.size == 2 && kept.exists(_.contains("b1")) && kept.exists(_.contains("b3")),
      s"expected b1 (holds 100) + b3 (no bloom), got $kept")
    assert(VersionedTable.readPoint(spark, root, "id", 100L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((100L, "b")))
    // a key no bloom admits plans only the bloom-less dir; residual filter
    // keeps the result empty either way
    assert(VersionedTable.planPoint(root, "id", 55L).size == 1)
    assert(VersionedTable.readPoint(spark, root, "id", 55L).count() == 0)
    // rollback carries the blooms; compact rebuilds them for the new dir
    VersionedTable.rollback(root, 2L, "bloom-restore")
    assert(VersionedTable.planPoint(root, "id", 3L).isEmpty, "v2 snapshot has no dir admitting 3")
    VersionedTable.compact(spark, root, "bloom-opt", targetFiles = 1, bloomCols = Seq("id"))
    val keptOpt = VersionedTable.planPoint(root, "id", 100L)
    assert(keptOpt.size == 1 && VersionedTable.readPoint(spark, root, "id", 100L).count() == 1)
    assert(VersionedTable.planPoint(root, "id", 777L).isEmpty, "rebuilt bloom still excludes")
    // non-integer bloom column fails loudly at commit time
    intercept[RuntimeException](VersionedTable.commit(
      Seq((30L, "f")).toDF("id", "s"), root, "append", "b4", bloomCols = Seq("s")))
  }

  test("VersionedTable: pre-side-file bloom manifests (inline-hex form) are dropped, not re-serialized") {
    import spark.implicits._
    val root = tmpDir("vt_bloom_migrate")
    VersionedTable.commit(Seq((1L, "a"), (7L, "b")).toDF("id", "s"), root, "append", "old1",
      bloomCols = Seq("id"))
    // rewrite v1's manifest into the ≤ r10 inline form: blooms = {dir: {col: hex}}
    val mPath = java.nio.file.Paths.get(root, "_commits", "v0000000001.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(java.nio.file.Files.readString(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val dirName = tree.get("dirs").get(0).asText()
    val oldBlooms = mapper.createObjectNode()
    oldBlooms.set[com.fasterxml.jackson.databind.JsonNode](dirName,
      mapper.createObjectNode().put("id", "deadbeef" * 32))
    tree.set[com.fasterxml.jackson.databind.JsonNode]("blooms", oldBlooms)
    java.nio.file.Files.writeString(mPath, mapper.writeValueAsString(tree))
    // the object-form entry is DROPPED: skipping disabled for the dir (it
    // always scans — safe), and no hex blob masquerades as a column name
    assert(VersionedTable.history(root).last.blooms.isEmpty, "old-form entry must be dropped")
    assert(VersionedTable.planPoint(root, "id", 999L).size == 1, "bloom-less dir always scans")
    assert(VersionedTable.readPoint(spark, root, "id", 7L)
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    // an append on top must NOT re-serialize bogus inherited entries
    VersionedTable.commit(Seq((9L, "c")).toDF("id", "s"), root, "append", "new2",
      bloomCols = Seq("id"))
    val b2 = VersionedTable.history(root).last.blooms
    assert(b2.keySet.forall(!_.contains("old1")), s"bogus inherited bloom entry: $b2")
    assert(b2.values.flatten.forall(_ == "id"), s"bloom entries must be column names: $b2")
    assert(VersionedTable.readPoint(spark, root, "id", 1L).count() == 1)
  }

  test("VersionedTable: racing committers all land, every version slot distinct, no append lost") {
    import spark.implicits._
    val root = tmpDir("vt_race")
    val perWriter = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          (0 until perWriter).foreach { i =>
            VersionedTable.commit(Seq((w * 100L + i, s"w$w")).toDF("id", "s"),
              root, "append", s"w$w-c$i")
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"committer threw: ${errs.peek()}")
    val log = VersionedTable.history(root)
    // hard-link put-if-absent: every commit won exactly one slot, versions
    // are the contiguous range, and no append's rows were dropped by a race
    assert(log.map(_.version) == (1L to 2L * perWriter), s"slots: ${log.map(_.version)}")
    assert(log.map(_.commitId).distinct.size == 2 * perWriter)
    assert(log.last.dirs.size == 2 * perWriter, "final snapshot must reference every append")
    assert(VersionedTable.read(spark, root).count() == 2L * perWriter)
  }

  test("VersionedTable: partitioned commits recover partition columns and prune on them") {
    import spark.implicits._
    val root = tmpDir("vt_part")
    VersionedTable.commit(Seq((1L, 2022, "a"), (2L, 2023, "b")).toDF("id", "year", "s"),
      root, "overwrite", "c1", partitionCols = Seq("year"))
    VersionedTable.commit(Seq((3L, 2023, "c")).toDF("id", "year", "s"),
      root, "append", "c2", partitionCols = Seq("year"))
    val snap = VersionedTable.read(spark, root)
    assert(snap.columns.toSet == Set("id", "year", "s"), "partition column recovered")
    val pruned = snap.filter(col("year") === 2023)
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"year predicate must prune hive partitions, not filter rows:\n${plan.take(1500)}")
    // a layout change mid-snapshot would silently widen schemas: refuse it
    intercept[IllegalArgumentException](VersionedTable.commit(
      Seq((4L, 2024, "d")).toDF("id", "year", "s"), root, "append", "c3"))
  }

  test("LocalParquetStore: recreate + appendBatch + extractToParquet") {
    import spark.implicits._
    val store = new LocalParquetStore(tmpDir("store"))
    store.recreate(spark, "crypto")
    store.appendBatch(Seq(("BTCUSDT", 1.0), ("ETHUSDT", 2.0)).toDF("symbol", "price"), "crypto")
    val bronze = tmpDir("bronze") + "/crypto"
    store.extractToParquet(spark, "crypto", bronze)
    assert(spark.read.parquet(bronze).count() == 2)
  }

  test("VersionedTable: reads, commits, and retry probes parse O(1) manifests on a checkpointed log") {
    import spark.implicits._
    val root = tmpDir("vt_ckpt")
    (1 to 35).foreach(i => VersionedTable.commit(
      Seq((i.toLong, s"r$i")).toDF("id", "s"), root, "append", s"c$i"))
    def parsesOf(f: => Unit): Long = {
      val before = VersionedTable.manifestParses.get; f
      VersionedTable.manifestParses.get - before
    }
    // a snapshot read resolves EXACTLY ONE manifest: manifests are
    // snapshot-complete, so the other 34 never parse
    assert(parsesOf(VersionedTable.read(spark, root)) == 1L)
    // time travel is a direct slot lookup — one parse, no log scan
    assert(parsesOf(VersionedTable.read(spark, root, Some(2L))) == 1L)
    // an idempotent retry of an EARLY commit resolves from the commitId
    // checkpoint (written every 10 commits) with ZERO manifest parses
    assert(parsesOf(assert(VersionedTable.commit(
      Seq((3L, "r3")).toDF("id", "s"), root, "append", "c3") == 3L)) == 0L)
    // a FRESH commit parses the post-checkpoint TAIL (≤ interval) for its
    // probe plus the parent manifest — bounded by the interval, NEVER by
    // the log length
    val freshParses = parsesOf(VersionedTable.commit(
      Seq((99L, "x")).toDF("id", "s"), root, "append", "c-fresh"))
    assert(freshParses <= 2 * 10 + 4, s"fresh commit parsed $freshParses manifests")
    // CDC parses exactly its two endpoint manifests
    assert(parsesOf(VersionedTable.changesBetween(spark, root, 30L, 35L)) == 2L)
    // GROW the log past another checkpoint boundary: the same operations
    // cost the same — the proof that the driver-side cost is O(1), not
    // O(#commits)
    (37 to 55).foreach(i => VersionedTable.commit(
      Seq((i.toLong, s"r$i")).toDF("id", "s"), root, "append", s"c$i"))
    assert(parsesOf(VersionedTable.read(spark, root)) == 1L)
    assert(parsesOf(assert(VersionedTable.commit(
      Seq((3L, "r3")).toDF("id", "s"), root, "append", "c3") == 3L)) == 0L)
    // the retry probe OUTLIVES vacuum: manifests v1..v54 drop, but the
    // checkpoint still resolves c3 → a very late replay cannot double-apply
    VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(VersionedTable.commit(
      Seq((3L, "again")).toDF("id", "s"), root, "append", "c3") == 3L,
      "a late retry of a vacuumed commit must still no-op via the checkpoint index")
    assert(VersionedTable.latestVersion(root).contains(55L))
  }

  test("VersionedTable: disjoint concurrent copy-on-write commits BOTH land via OCC rebase; conflicts refuse loudly") {
    import spark.implicits._
    val root = tmpDir("vt_rebase")
    VersionedTable.commit((1L to 10L).map(i => (i, s"a$i")).toDF("id", "s"),
      root, "append", "b1", statsCols = Seq("id"))
    VersionedTable.commit((101L to 110L).map(i => (i, s"b$i")).toDF("id", "s"),
      root, "append", "b2", statsCols = Seq("id"))
    // interleave deterministically: while the delete of key 5 (hits only
    // band 1) sits between its data write and its publish, a merge
    // re-prices key 105 (rewrites only band 2) — DISJOINT dirs and keys,
    // so the delete must REBASE and both commits land
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.mergeInto(spark, root,
        Seq((105L, "UPDATED")).toDF("id", "s"), "id", "race-merge",
        statsCols = Seq("id")): Unit
    val (v, hit, _) = VersionedTable.deleteWhere(spark, root,
      Seq(5L).toDF("id"), "id", "race-del", statsCols = Seq("id"))
    assert(v == 4L && hit == 1, s"delete must rebase onto the merge's v3, got v=$v hit=$hit")
    val rows = VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!rows.contains(5L), "the rebased delete must hold")
    assert(rows(105L) == "UPDATED", "the concurrent merge must hold")
    assert(rows.size == 19, s"no row lost or duplicated: ${rows.size}")
    // OVERLAPPING advance: an append carrying the to-be-deleted key must
    // refuse the rebase — a delete serialized after that append would
    // claim rows it never removed
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.commit(Seq((6L, "late")).toDF("id", "s"), root, "append",
        "race-app", statsCols = Seq("id")): Unit
    val e = intercept[RuntimeException](VersionedTable.deleteWhere(spark, root,
      Seq(6L).toDF("id"), "id", "race-del2", statsCols = Seq("id")))
    assert(e.getMessage.contains("CONFLICTING"), e.getMessage)
    // nothing lost: the append landed, the refused delete changed nothing
    val sixes = VersionedTable.read(spark, root).filter(col("id") === 6L).count()
    assert(sixes == 2L, s"original + late row must both survive, got $sixes")
    // a concurrent MOR delete COVERING a dir we rewrote must refuse too:
    // the survivors were computed with stale deletion vectors
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.deleteWhereMor(spark, root, Seq(2L).toDF("id"), "id", "race-mor"): Unit
    val e2 = intercept[RuntimeException](VersionedTable.deleteWhere(spark, root,
      Seq(3L).toDF("id"), "id", "race-del3", statsCols = Seq("id")))
    assert(e2.getMessage.contains("CONFLICTING"), e2.getMessage)
    assert(VersionedTable.read(spark, root).filter(col("id") === 2L).count() == 0,
      "the MOR delete must hold")
    assert(VersionedTable.read(spark, root).filter(col("id") === 3L).count() == 1,
      "the refused delete must NOT apply")
  }

  test("VersionedTable.replaceRange OCC: a disjoint concurrent commit rebases, an in-range advance refuses loudly") {
    import spark.implicits._
    val root = tmpDir("vt_replace_race")
    VersionedTable.commit((1L to 10L).map(i => (i, s"a$i")).toDF("id", "s"),
      root, "append", "rb1", statsCols = Seq("id"))
    VersionedTable.commit((101L to 110L).map(i => (i, s"b$i")).toDF("id", "s"),
      root, "append", "rb2", statsCols = Seq("id"))
    // while the backfill of [1, 10] sits between write and publish, a merge
    // re-prices key 105 (band 2 only) — disjoint, so the backfill REBASES
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.mergeInto(spark, root,
        Seq((105L, "UPDATED")).toDF("id", "s"), "id", "rrace-m",
        statsCols = Seq("id")): Unit
    val (v, drop, hit, _) = VersionedTable.replaceRange(spark, root, "id", 1L, 10L,
      (2L to 10L by 2).map(i => (i, s"n$i")).toDF("id", "s"), "rrace-r",
      statsCols = Seq("id"))
    assert(v == 4L && drop == 1 && hit == 0,
      s"backfill must rebase onto the merge's v3, got v=$v drop=$drop hit=$hit")
    val rows = VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 15 && rows(2L) == "n2" && !rows.contains(1L) &&
      rows(105L) == "UPDATED", rows.toSeq.sortBy(_._1).mkString(", "))
    // an append INTO the range during the backfill must refuse: a replace
    // serialized after it would have deleted that row but did not
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.commit(Seq((7L, "late")).toDF("id", "s"), root, "append",
        "rrace-app", statsCols = Seq("id")): Unit
    val e = intercept[RuntimeException](VersionedTable.replaceRange(spark, root,
      "id", 1L, 10L, Seq((4L, "x")).toDF("id", "s"), "rrace-r2",
      statsCols = Seq("id")))
    assert(e.getMessage.contains("CONFLICTING"), e.getMessage)
    assert(VersionedTable.read(spark, root).filter(col("id") === 7L).count() == 1,
      "the concurrent append must hold; the refused backfill must not apply")
  }

  test("VersionedTable.renameColumn: metadata-only rename — appends, scans, merges, time travel all read through the mapping") {
    import spark.implicits._
    val root = tmpDir("vt_rename")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"),
      root, "append", "r1", statsCols = Seq("id"))
    val v2 = VersionedTable.renameColumn(root, "payload", "body", "ren1")
    assert(v2 == 2L)
    // the rename moved ZERO data: same dirs, same physical files
    assert(VersionedTable.history(root).last.dirs ==
      VersionedTable.history(root).head.dirs)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id", "body"))
    // an append AFTER the rename uses the NEW logical name; files land
    // under the original physical name, invisible to the reader
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "body"), root, "append", "r2",
      statsCols = Seq("id"))
    val all = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(all == Seq((1L, "a"), (2L, "b"), (3L, "c")), all.toString)
    // TIME TRAVEL to the pre-rename version shows the pre-rename name
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq == Seq("id", "payload"))
    // a string-keyed verb on the renamed column routes through the mapping
    val (_, hit, _) = VersionedTable.mergeInto(spark, root,
      Seq((2L, "B2")).toDF("id", "body"), "id", "ren-merge", statsCols = Seq("id"))
    assert(hit >= 1)
    assert(VersionedTable.read(spark, root).filter(col("id") === 2L)
      .select("body").head().getString(0) == "B2")
    // range reads + plans translate the logical name into the stats index
    assert(VersionedTable.readRange(spark, root, "id", 3L, 3L)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // guards: unknown source, taken target, type changes still refused
    intercept[IllegalArgumentException](VersionedTable.renameColumn(root, "nope", "x", "ren-bad1"))
    intercept[IllegalArgumentException](VersionedTable.renameColumn(root, "body", "id", "ren-bad2"))
    intercept[Exception](VersionedTable.commit(
      Seq((9L, 9L)).toDF("id", "body"), root, "append", "ren-bad3"))
    // a NEW column named like a renamed column's PHYSICAL slot is refused —
    // two logical columns must never share one physical name
    val e = intercept[RuntimeException](VersionedTable.commit(
      Seq((9L, "x", 1.0)).toDF("id", "body", "payload"), root, "append", "ren-bad4"))
    assert(e.getMessage.contains("physical storage name"), e.getMessage)
    // renaming BACK to the original name drops the mapping entry entirely
    VersionedTable.renameColumn(root, "body", "payload", "ren-back")
    assert(VersionedTable.history(root).last.nameMap.isEmpty)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id", "payload"))
    // partition columns refuse — their physical name is baked into paths
    val root2 = tmpDir("vt_rename_part")
    VersionedTable.commit(Seq((1L, 2024, "a")).toDF("id", "year", "s"), root2,
      "append", "p1", partitionCols = Seq("year"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(root2, "year", "yr", "ren-part"))
  }

  test("GraftSqlParser: OPTIMIZE / VACUUM ... GRAFT as real SQL, history through the catalog; everything else delegates") {
    import spark.implicits._
    val root = catRoot("vt_sql_maint")
    VersionedTable.commit((1L to 40L).map(i => (i, s"a$i")).toDF("id", "s")
      .repartition(8), root, "append", "sq1", statsCols = Seq("id"))
    VersionedTable.commit((41L to 60L).map(i => (i, s"b$i")).toDF("id", "s"),
      root, "append", "sq2", statsCols = Seq("id"))
    // the history metadata table — same derived metrics as the programmatic verb
    val h = spark.sql("SELECT * FROM iocat.db.vt_sql_maint.history").orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq == Seq("append", "append"))
    assert(h(0).getLong(6) == 40L && h(1).getLong(6) == 20L)
    // OPTIMIZE as SQL: full-table compaction to TARGET files
    val o = spark.sql(s"OPTIMIZE GRAFT '$root' TARGET 2").collect()
    assert(o.head.getLong(0) == 3L && o.head.getInt(2) == 2, o.mkString)
    assert(VersionedTable.history(root).last.mode == "compact")
    assert(VersionedTable.read(spark, root).count() == 60L)
    // OPTIMIZE ... ZORDER BY parses through to the k-column compactor
    VersionedTable.commit((61L to 70L).map(i => (i, i * 3)).toDF("x", "y"),
      tmpDir("vt_sql_z"), "append", "z1")
    // (flat 2-col table in a fresh root)
    val zroot = tmpDir("vt_sql_z2")
    VersionedTable.commit((0L until 256L).map(i => (i % 16, i / 16)).toDF("x", "y"),
      zroot, "overwrite", "z2")
    spark.sql(s"OPTIMIZE GRAFT '$zroot' TARGET 4 ZORDER BY (x, y)").collect()
    assert(VersionedTable.history(zroot).last.mode == "compact")
    // scoped OPTIMIZE WHERE routes to compactWhere
    val proot = tmpDir("vt_sql_part")
    VersionedTable.commit(Seq((1L, 2023, "a"), (2L, 2024, "b")).toDF("id", "year", "s"),
      proot, "append", "p1", partitionCols = Seq("year"))
    VersionedTable.commit(Seq((3L, 2025, "c")).toDF("id", "year", "s"),
      proot, "append", "p2", partitionCols = Seq("year"))
    val ow = spark.sql(s"OPTIMIZE GRAFT '$proot' TARGET 1 WHERE year IN ('2023', '2024')")
      .collect()
    assert(ow.head.getInt(1) == 1 && ow.head.getInt(2) == 2, ow.mkString)
    // VACUUM as SQL: drops the pre-compaction dirs of the first table
    val removed = spark.sql(s"VACUUM GRAFT '$root' RETAIN 1").collect()
    assert(removed.length == 2, removed.mkString)
    assert(VersionedTable.read(spark, root).count() == 60L)
    // ordinary SQL still parses and runs through the delegate
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }

  test("GraftSqlParser DML: UPDATE / DELETE / RESTORE ... GRAFT route to the prunable verbs") {
    import spark.implicits._
    val root = catRoot("vt_sql_dml")
    VersionedTable.commit((1L to 20L).map(i => (i, i * 10, s"r$i")).toDF("id", "n", "s"),
      root, "append", "dml1", statsCols = Seq("id"))
    VersionedTable.commit((21L to 40L).map(i => (i, i * 10, s"r$i")).toDF("id", "n", "s"),
      root, "append", "dml2", statsCols = Seq("id"))
    // UPDATE ... WHERE BETWEEN routes to updateRange (band 1 only)
    val u2 = spark.sql(
      s"UPDATE GRAFT '$root' SET n = 0L WHERE id BETWEEN 5 AND 6").collect()
    assert(u2.head.getLong(0) == 3L && u2.head.getInt(1) == 1 && u2.head.getInt(2) == 2,
      u2.mkString)
    assert(VersionedTable.read(spark, root).filter($"id".isin(5L, 6L))
      .collect().forall(_.getLong(1) == 0L))
    // UPDATE ... WHERE IN — SET list with a top-level comma AND a comma
    // inside a function call. Exactly ONE dir rewrites: the band-1 dir u2
    // just rewrote kept its id envelope because the SQL front door passes
    // the snapshot's indexed columns through (indexedCols), so [1,20]
    // excludes 25 — the pruning-preservation property under test.
    val u = spark.sql(
      s"UPDATE GRAFT '$root' SET n = n * 2, s = concat(s, '!') WHERE id IN (25)").collect()
    assert(u.head.getLong(0) == 4L && u.head.getInt(1) == 1 && u.head.getInt(2) == 2,
      u.mkString)
    val got = VersionedTable.read(spark, root).filter($"id".isin(5L, 25L))
      .orderBy("id").collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((0L, "r5"), (500L, "r25!")), got.toString)
    // the catalog's DELETE FROM ... WHERE IN (keyed: band-1 dir only) and
    // WHERE BETWEEN (range: the band-2 dir is fully contained →
    // metadata-only drop, again only possible because the SQL rewrites
    // preserved the index)
    def lastDirs = VersionedTable.history(root).takeRight(2).map(_.dirs.toSet)
    spark.sql("DELETE FROM iocat.db.vt_sql_dml WHERE id IN (10)")
    val Seq(beforeD1, afterD1) = lastDirs
    assert((beforeD1 -- afterD1).size == 1 && (afterD1 -- beforeD1).size == 1,
      s"keyed delete should rewrite one dir: $beforeD1 -> $afterD1")
    spark.sql("DELETE FROM iocat.db.vt_sql_dml WHERE id BETWEEN 21 AND 40")
    val Seq(beforeD2, afterD2) = lastDirs
    assert((beforeD2 -- afterD2).size == 1 && afterD2.subsetOf(beforeD2),
      s"contained dir should drop metadata-only: $beforeD2 -> $afterD2")
    assert(VersionedTable.read(spark, root).count() == 19L)
    // RESTORE to the pre-DML snapshot; everything reappears
    val r = spark.sql(s"RESTORE GRAFT '$root' TO VERSION 2").collect()
    assert(r.head.getLong(0) > 2L)
    assert(VersionedTable.read(spark, root).count() == 40L)
    assert(VersionedTable.read(spark, root).filter($"id" === 5L).head().getLong(1) == 50L)
    // the detail metadata table: one deterministic summary row over the restored
    // snapshot (2 dirs back in service, footer row count = 40, no
    // features declared, clean MOR debt)
    val det = spark.sql("SELECT * FROM iocat.db.vt_sql_dml.detail").head()
    assert(det.getString(0) == "graft-versioned" && det.getInt(2) == 2 &&
      det.getLong(4) == 40L && det.getSeq[String](6) == Seq("id", "n", "s") &&
      det.getSeq[String](7).isEmpty && det.getLong(12) == 0L, det.toString)
    // string IN-list; mixed-type list refused
    VersionedTable.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      tmpDir("vt_sql_dml2"), "append", "s1")
    val root2 = catRoot("vt_sql_dml3")
    VersionedTable.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      root2, "append", "s1", statsCols = Seq("k"))
    spark.sql("DELETE FROM iocat.db.vt_sql_dml3 WHERE k IN ('a')")
    assert(VersionedTable.read(spark, root2).collect().map(_.getString(0)).toSeq == Seq("b"))
    val em = intercept[Exception](
      spark.sql(s"UPDATE GRAFT '$root2' SET v = 0 WHERE k IN ('a', 1)").collect())
    assert(em.getMessage.contains("mixes"), em.getMessage)
    // typed DATE/TIMESTAMP literals in WHERE clauses (r17): the literal
    // translates to the statsCols contract's integral form — epoch days /
    // session-zone micros — so the retention purge reads like SQL instead
    // of hand-computed epoch numbers
    val root3 = catRoot("vt_sql_dml_date")
    VersionedTable.commit(
      spark.sql("SELECT id, date_add(DATE '2024-01-01', CAST(id AS INT)) AS d, " +
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts " +
        "FROM range(0, 10)"),
      root3, "append", "dl1", statsCols = Seq("d", "ts"))
    spark.sql("DELETE FROM iocat.db.vt_sql_dml_date WHERE d BETWEEN DATE '2024-01-01' " +
      "AND DATE '2024-01-03'")
    assert(VersionedTable.read(spark, root3).count() == 7L)
    assert(VersionedTable.read(spark, root3).agg(min($"id")).head().getLong(0) == 3L)
    spark.sql("DELETE FROM iocat.db.vt_sql_dml_date WHERE ts BETWEEN " +
      "TIMESTAMP '2024-01-01 08:00:00' AND TIMESTAMP '2024-01-01 09:00:00'")
    assert(VersionedTable.read(spark, root3).count() == 5L)
    assert(VersionedTable.read(spark, root3).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L, 5L, 6L, 7L))
    // UPDATE's BETWEEN shape takes the same literals
    spark.sql(s"UPDATE GRAFT '$root3' SET id = id + 100 " +
      "WHERE d BETWEEN DATE '2024-01-04' AND DATE '2024-01-05'").collect()
    assert(VersionedTable.read(spark, root3).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(5L, 6L, 7L, 103L, 104L))
  }

  test("VersionedTable.convertFrom: in-place adoption by reference, normal life after, compact absorbs the external ref") {
    import spark.implicits._
    val src = tmpDir("vt_convert_src")
    val root = tmpDir("vt_convert_tbl")
    (0L until 20L).map(i => (i, s"g${i % 2}", i * 10)).toDF("id", "grp", "v")
      .write.mode("overwrite").partitionBy("grp").parquet(src)
    // CONVERT: v1 references the source dir BY REFERENCE — zero bytes move
    val v = spark.sql(s"CONVERT GRAFT '$root' FROM '$src' PARTITIONED BY (grp)")
      .head().getLong(0)
    assert(v == 1L)
    val c1 = VersionedTable.latestCommit(root).get
    assert(c1.mode == "convert" && c1.dirs == Seq(src) && c1.dirs.head.startsWith("/"))
    assert(VersionedTable.read(spark, root).count() == 20L)
    assert(VersionedTable.read(spark, root).filter($"grp" === "g1")
      .agg(sum($"id")).head().getLong(0) == (1L until 20L by 2).sum)
    // SQL re-execution is idempotent (commitId derives from the source path)
    assert(spark.sql(s"CONVERT GRAFT '$root' FROM '$src' PARTITIONED BY (grp)")
      .head().getLong(0) == 1L)
    assert(VersionedTable.history(root).size == 1)
    // normal life: append + DML land under the ROOT, the reference persists
    VersionedTable.commit(Seq((100L, "g0", 1L)).toDF("id", "grp", "v")
      .select("id", "v", "grp"), root, "append", "cv-a",
      partitionCols = Seq("grp"))
    assert(VersionedTable.read(spark, root).count() == 21L)
    // compact absorbs the external reference — the table becomes
    // self-contained and the source dir is no longer read
    spark.sql(s"OPTIMIZE GRAFT '$root' TARGET 1").collect()
    val cc = VersionedTable.latestCommit(root).get
    assert(cc.dirs.forall(!_.startsWith("/")),
      s"compact must retire external refs, got ${cc.dirs}")
    assert(VersionedTable.read(spark, root).count() == 21L)
    // refusals: existing commits, source inside the root, unknown
    // partition column — all loud, nothing published
    val e1 = intercept[Exception](VersionedTable.convertFrom(spark, root, src,
      Seq("grp"), "cv-again"))
    assert(e1.getMessage.contains("already has commits"), e1.getMessage)
    val root2 = tmpDir("vt_convert_tbl2")
    val e2 = intercept[Exception](VersionedTable.convertFrom(spark, root2,
      s"$root2/data", Nil, "cv-in"))
    assert(e2.getMessage.contains("inside the table root"), e2.getMessage)
    val e3 = intercept[Exception](VersionedTable.convertFrom(spark, root2, src,
      Seq("absent"), "cv-col"))
    assert(e3.getMessage.contains("did not surface"), e3.getMessage)
    assert(VersionedTable.latestVersion(root2).isEmpty)
  }

  test("VersionedTable.addGeneratedColumn: declared at create, materialized on every write, equality-enforced, partition-usable, no backfill") {
    import spark.implicits._
    // CREATE TABLE form: declaration first, data later
    val root = tmpDir("vt_generated")
    val v1 = VersionedTable.addGeneratedColumn(spark, root, "yr",
      "year(ev_ts)", "g-create")
    assert(v1 == 1L && VersionedTable.history(root).last.mode == "create")
    def batch(ids: Seq[Long], y: Int) = ids.map(i =>
      (i, java.sql.Timestamp.valueOf(s"$y-03-0${(i % 8 + 1)} 10:00:00")))
      .toDF("id", "ev_ts")
    // first data commit materializes the column AND uses it as the hive
    // partition key — the canonical year(ts) layout
    VersionedTable.commit(batch(1L to 4L, 2023), root, "append", "g1",
      statsCols = Seq("id"), partitionCols = Seq("yr"))
    VersionedTable.commit(batch(5L to 8L, 2024), root, "append", "g2",
      statsCols = Seq("id"), partitionCols = Seq("yr"))
    val got = VersionedTable.read(spark, root).select("id", "yr")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == ((1L to 4L).map((_, 2023)) ++ (5L to 8L).map((_, 2024))).toSet, got.toString)
    // a batch CARRYING the column must agree with the expression
    val e = intercept[IllegalArgumentException](VersionedTable.commit(
      Seq((9L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1999))
        .toDF("id", "ev_ts", "yr"), root, "append", "g-bad",
      partitionCols = Seq("yr")))
    assert(e.getMessage.contains("generated column"), e.getMessage)
    // an agreeing batch passes
    VersionedTable.commit(
      Seq((9L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 2024))
        .toDF("id", "ev_ts", "yr"), root, "append", "g3", partitionCols = Seq("yr"))
    assert(VersionedTable.read(spark, root).count() == 9L)
    // copy-on-write merge carries the declaration; the merged batch is
    // materialized too (all row-adding verbs share the map) — and a
    // disagreeing supplied value refuses there as well
    assert(VersionedTable.history(root).last.generated == Map("yr" -> "year(ev_ts)"))
    VersionedTable.mergeInto(spark, root,
      Seq((5L, java.sql.Timestamp.valueOf("2025-06-01 10:00:00"))).toDF("id", "ev_ts"),
      "id", "g-merge", statsCols = Seq("id"))
    assert(VersionedTable.read(spark, root).filter(col("id") === 5L)
      .select("yr").head().getInt(0) == 2025)
    val em = intercept[IllegalArgumentException](VersionedTable.mergeInto(spark, root,
      Seq((6L, java.sql.Timestamp.valueOf("2025-06-01 10:00:00"), 1999))
        .toDF("id", "ev_ts", "yr"), "id", "g-merge-bad", statsCols = Seq("id")))
    assert(em.getMessage.contains("generated column"), em.getMessage)
    // declaration guards: self-reference, double declare, rename/drop of
    // the source column, rename of the generated column
    intercept[IllegalArgumentException](
      VersionedTable.addGeneratedColumn(spark, root, "z", "z + 1", "g-self"))
    intercept[IllegalArgumentException](
      VersionedTable.addGeneratedColumn(spark, root, "yr", "year(ev_ts)", "g-dup"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(root, "ev_ts", "t2", "g-ren-src"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(root, "yr", "y2", "g-ren-gen"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(root, "ev_ts", "g-drop-src"))
    // declare-over-existing: valid pre-materialized column accepts, a
    // contradicting one refuses (the addConstraint pattern)
    val root2 = tmpDir("vt_generated2")
    VersionedTable.commit(Seq((1L, 10L, 20L)).toDF("a", "b", "twice_a"),
      root2, "append", "h1")
    val e2 = intercept[IllegalArgumentException](VersionedTable
      .addGeneratedColumn(spark, root2, "twice_a", "a * 2", "h-bad"))
    assert(e2.getMessage.contains("violates"), e2.getMessage)
    VersionedTable.commit(Seq((1L, 10L, 2L)).toDF("a", "b", "twice_a"),
      root2, "overwrite", "h2")
    VersionedTable.addGeneratedColumn(spark, root2, "twice_a", "a * 2", "h-ok")
    // from now on writes materialize it
    VersionedTable.commit(Seq((3L, 30L)).toDF("a", "b"), root2, "append", "h3")
    assert(VersionedTable.read(spark, root2).filter(col("a") === 3L)
      .select("twice_a").head().getLong(0) == 6L)
    // absent column on a non-empty table refuses (no NULL backfill)
    intercept[IllegalArgumentException](VersionedTable
      .addGeneratedColumn(spark, root2, "b_sq", "b * b", "h-absent"))
  }

  test("graft-versioned batch relation: format read with column pruning, manifest+bloom pushdown, MOR deletes, time travel, SQL USING") {
    import spark.implicits._
    import graft.io.VersionedRelation
    val root = tmpDir("vt_relation")
    VersionedTable.commit((1L to 100L).map(i => (i, s"a$i")).toDF("id", "s"),
      root, "append", "r1", statsCols = Seq("id"), bloomCols = Seq("id"))
    VersionedTable.commit((1001L to 1100L).map(i => (i, s"b$i")).toDF("id", "s"),
      root, "append", "r2", statsCols = Seq("id"), bloomCols = Seq("id"))
    val df = spark.read.format("graft-versioned").load(root)
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.count() == 200L)
    // a range predicate prunes to ONE dir at the manifest level
    assert(df.filter(col("id") >= 1050L && col("id") <= 1060L).count() == 11L)
    val info = VersionedRelation.lastScan
    assert(info.dirsKept == 1 && info.dirsTotal == 2 && info.nRanges >= 1, info.toString)
    // equality additionally probes the blooms, and the filter's own column
    // rides along with the projection
    assert(df.filter(col("id") === 42L).select("s")
      .collect().map(_.getString(0)).toSeq == Seq("a42"))
    assert(VersionedRelation.lastScan.nPoints == 1)
    assert(VersionedRelation.lastScan.columns.contains("s"))
    // pure projection: only the requested column reaches the scan
    assert(df.select("s").limit(5).collect().length == 5)
    assert(VersionedRelation.lastScan.columns == Seq("s"))
    // merge-on-read deletes apply through the relation
    VersionedTable.deleteWhereMor(spark, root, Seq(42L).toDF("id"), "id", "r-del")
    assert(spark.read.format("graft-versioned").load(root)
      .filter(col("id") === 42L).count() == 0L)
    // reader-option time travel
    assert(spark.read.format("graft-versioned").option("versionAsOf", "1")
      .load(root).count() == 100L)
    // the SQL front door over the same provider
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW vt_rel USING `graft-versioned` " +
      s"OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM vt_rel WHERE id >= 1001").head().getLong(0) == 100L)
    assert(spark.sql("SELECT sum(id) FROM vt_rel WHERE id <= 100 AND id > 90").head()
      .getLong(0) == (91L to 100L).sum)
    // the WRITE half of the same format: writer-API commits with the full
    // commit contract (idempotent commitId, stats options, SaveMode map)
    val wroot = tmpDir("vt_relation_write")
    (1L to 10L).map(i => (i, s"w$i")).toDF("id", "s")
      .write.format("graft-versioned").mode("append")
      .option("commitId", "w1").option("statsCols", "id").save(wroot)
    (11L to 20L).map(i => (i, s"w$i")).toDF("id", "s")
      .write.format("graft-versioned").mode("append")
      .option("commitId", "w2").option("statsCols", "id").save(wroot)
    assert(spark.read.format("graft-versioned").load(wroot).count() == 20L)
    // same commitId again: the idempotence contract holds through the API
    (1L to 10L).map(i => (i, s"w$i")).toDF("id", "s")
      .write.format("graft-versioned").mode("append")
      .option("commitId", "w1").option("statsCols", "id").save(wroot)
    assert(spark.read.format("graft-versioned").load(wroot).count() == 20L)
    assert(VersionedTable.latestVersion(wroot).contains(2L))
    // the stats options reached the manifest: the range scan prunes
    assert(VersionedTable.planRange(wroot, "id", 1L, 5L).size == 1)
    // overwrite resets; ErrorIfExists refuses on the non-empty table;
    // Ignore is create-if-absent; a missing commitId refuses loudly
    (21L to 25L).map(i => (i, s"o$i")).toDF("id", "s")
      .write.format("graft-versioned").mode("overwrite")
      .option("commitId", "w3").save(wroot)
    assert(spark.read.format("graft-versioned").load(wroot).count() == 5L)
    intercept[IllegalStateException](
      Seq((99L, "x")).toDF("id", "s").write.format("graft-versioned")
        .mode("error").option("commitId", "w4").save(wroot))
    Seq((99L, "x")).toDF("id", "s").write.format("graft-versioned")
      .mode("ignore").option("commitId", "w5").save(wroot)
    assert(spark.read.format("graft-versioned").load(wroot).count() == 5L)
    intercept[IllegalArgumentException](
      Seq((99L, "x")).toDF("id", "s").write.format("graft-versioned")
        .mode("append").save(wroot))
  }

  test("VersionedTable OCC under real thread contention: N concurrent appenders all land, duplicate commitIds land once, disjoint merges both commit") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // 8 genuinely concurrent appenders × 4 commits each: the hard-link
    // put-if-absent must serialize them into 32 contiguous versions with
    // every row landing exactly once (no deterministic seam here — this is
    // the wall-clock race the protocol claims to survive)
    val root = tmpDir("vt_occ_threads")
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val futs = (0 until 8).map { t =>
      pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = {
          start.await()
          (0 until 4).map { i =>
            VersionedTable.commit(Seq((t * 100L + i, s"w$t-$i")).toDF("id", "s"),
              root, "append", s"occ-$t-$i", statsCols = Seq("id"))
          }
        }
      })
    }
    start.countDown()
    val versions = futs.flatMap(_.get(120, TimeUnit.SECONDS))
    assert(versions.toSet.size == 32, s"collided version slots: $versions")
    assert(versions.toSet == (1L to 32L).toSet, versions.sorted.toString)
    assert(VersionedTable.read(spark, root).count() == 32L)
    assert(VersionedTable.read(spark, root).select("id").distinct().count() == 32L)
    // two threads racing the SAME commitId: exactly one write lands, both
    // callers resolve to the same version (idempotence under retry storms)
    val twinStart = new CountDownLatch(1)
    val twins = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          twinStart.await()
          VersionedTable.commit(Seq((999L, "twin")).toDF("id", "s"),
            root, "append", "occ-twin", statsCols = Seq("id"))
        }
      })
    }
    twinStart.countDown()
    val twinVs = twins.map(_.get(120, TimeUnit.SECONDS))
    assert(twinVs.distinct.size == 1, twinVs.toString)
    assert(VersionedTable.read(spark, root).filter(col("id") === 999L).count() == 1L)
    // concurrent MERGEs over DISJOINT key ranges: whichever loses the slot
    // rebases (conflict-aware OCC) — BOTH upserts must land
    val mroot = tmpDir("vt_occ_merge")
    VersionedTable.commit((1L to 20L).map(i => (i, "old")).toDF("id", "s"),
      mroot, "append", "m-low", statsCols = Seq("id"))
    VersionedTable.commit((1000L to 1020L).map(i => (i, "old")).toDF("id", "s"),
      mroot, "append", "m-high", statsCols = Seq("id"))
    val mStart = new CountDownLatch(1)
    val merges = Seq((5L, "lo"), (1005L, "hi")).map { case (k, tag) =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          mStart.await()
          VersionedTable.mergeInto(spark, mroot, Seq((k, s"new-$tag")).toDF("id", "s"),
            "id", s"m-up-$tag", statsCols = Seq("id"))._1
        }
      })
    }
    mStart.countDown()
    merges.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val got = VersionedTable.read(spark, mroot)
      .filter(col("id").isin(5L, 1005L)).orderBy("id")
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("new-lo", "new-hi"), got.toString)
    assert(VersionedTable.read(spark, mroot).count() == 41L)
  }

  test("VersionedTable.compactWhere: partition-scoped OPTIMIZE — rewrites only dirs containing the value, absorbs their vectors, rebases over appends") {
    import spark.implicits._
    val root = tmpDir("vt_compact_where")
    // dir A holds years 2023+2024 (many small files), dir B holds 2025 only
    VersionedTable.commit(
      (1L to 40L).map(i => (i, 2023 + (i % 2).toInt, s"r$i")).toDF("id", "year", "s")
        .repartition(8), root, "append", "cwA", statsCols = Seq("id"),
      partitionCols = Seq("year"))
    VersionedTable.commit(
      (41L to 60L).map(i => (i, 2025, s"r$i")).toDF("id", "year", "s"),
      root, "append", "cwB", statsCols = Seq("id"), partitionCols = Seq("year"))
    // a MOR vector over dir A keys — the scoped rewrite must absorb it
    VersionedTable.deleteWhereMor(spark, root, Seq(2L, 4L).toDF("id"), "id", "cw-mor")
    val before = VersionedTable.history(root).last
    val dirB = before.dirs(1)
    val (v, rewritten, total) = VersionedTable.compactWhere(spark, root, "cw-opt",
      targetFiles = 2, "year", Seq("2023", "2024"), statsCols = Seq("id"))
    assert(rewritten == 1 && total == 2, s"($rewritten, $total)")
    val after = VersionedTable.history(root).last
    assert(after.version == v)
    // dir B passed BY REFERENCE; dir A's vector was absorbed into the rewrite
    assert(after.dirs.contains(dirB))
    assert(VersionedTable.read(spark, root).count() == 58L)
    assert(VersionedTable.read(spark, root).filter(col("id").isin(2L, 4L)).count() == 0L)
    val (_, setsPending, _) = VersionedTable.morStatus(spark, root)
    assert(setsPending == 0, "the only vector covered dir A and must be absorbed")
    // scoped: year=2025 slice kept its original file layout (1 commit write),
    // the 2023/2024 slices compacted from 8-file scatter to targetFiles
    val optDir = after.dirs.filterNot(_ == dirB).head
    val files23 = new java.io.File(s"$root/$optDir/year=2023").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files23 <= 2, s"year=2023 must be compacted, found $files23 files")
    // idempotent retry
    assert(VersionedTable.compactWhere(spark, root, "cw-opt", 2, "year",
      Seq("2023"))._1 == v)
    // value matching NO dir: pure no-op, no commit
    val (nv, n0, _) = VersionedTable.compactWhere(spark, root, "cw-none", 2,
      "year", Seq("1999"))
    assert(n0 == 0 && nv == v && VersionedTable.latestVersion(root).contains(v))
    // non-partition column refuses
    intercept[IllegalArgumentException](
      VersionedTable.compactWhere(spark, root, "cw-bad", 2, "id", Seq("1")))
    // a concurrent APPEND between scan and publish REBASES: both commits land
    VersionedTable.onBeforeRewritePublish = () =>
      VersionedTable.commit(Seq((99L, 2023, "late")).toDF("id", "year", "s"),
        root, "append", "cw-race", statsCols = Seq("id"),
        partitionCols = Seq("year")): Unit
    val (v2, r2, _) = VersionedTable.compactWhere(spark, root, "cw-opt2",
      targetFiles = 1, "year", Seq("2025"))
    assert(r2 == 1)
    assert(VersionedTable.read(spark, root).count() == 59L,
      "the racing append and the scoped rewrite must both land")
    assert(VersionedTable.read(spark, root).filter(col("id") === 99L).count() == 1L)
    assert(VersionedTable.latestVersion(root).contains(v2))
  }

  test("VersionedTable.describeHistory: derived operation metrics — dirs/rows added+removed, deletion-vector rows, NULL after a dir vanishes") {
    import spark.implicits._
    val root = tmpDir("vt_history")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      root, "append", "h1", statsCols = Seq("id"))
    VersionedTable.commit(Seq((4L, "d")).toDF("id", "s"), root, "append", "h2",
      statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, root, Seq(2L).toDF("id"), "id", "h-del",
      statsCols = Seq("id"))
    VersionedTable.deleteWhereMor(spark, root, Seq(3L, 4L).toDF("id"), "id", "h-mor")
    VersionedTable.renameColumn(root, "s", "txt", "h-ren")
    val h = VersionedTable.describeHistory(spark, root).orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq ==
      Seq("append", "append", "delete", "delete-mor", "rename"))
    // v1: one dir in, 3 rows, nothing out
    assert(h(0).getInt(4) == 1 && h(0).getInt(5) == 0)
    assert(h(0).getLong(6) == 3L && h(0).getLong(7) == 0L && h(0).getLong(8) == 0L)
    // v3 copy-on-write delete of key 2: dir1 [1,3] rewritten (envelope hit),
    // dir2 [4,4] passes by reference — 1 out, 1 survivor dir in
    assert(h(2).getInt(4) == 1 && h(2).getInt(5) == 1)
    assert(h(2).getLong(6) == 2L && h(2).getLong(7) == 3L)
    // v4 merge-on-read: zero dir movement, two deletion-vector rows
    assert(h(3).getInt(4) == 0 && h(3).getInt(5) == 0 && h(3).getLong(8) == 2L)
    // v5 rename: metadata-only, all-zero metrics
    assert(h(4).getInt(4) == 0 && h(4).getLong(6) == 0L && h(4).getLong(8) == 0L)
    // a vanished dir (vacuum) degrades THAT commit's row metrics to NULL —
    // the listing itself and the manifest-derived dir counts survive
    val gone = VersionedTable.history(root).head.dirs.head
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$root/$gone"))
    val h2 = VersionedTable.describeHistory(spark, root).orderBy("version").collect()
    assert(h2(0).isNullAt(6) && h2(0).getInt(4) == 1, h2(0).toString)
    assert(h2(2).isNullAt(7) && h2(2).getLong(6) == 2L, h2(2).toString)
  }

  test("DESCRIBE HISTORY serves from the checkpoint: incremental entries == full derivation across checkpoint boundaries") {
    import spark.implicits._
    val root = tmpDir("vt_histckpt")
    // 24 commits: appends crossing two checkpoint multiples (interval 10),
    // with an overwrite, a CoW delete, and a MOR delete in the mix so the
    // consolidated diffs carry removals and delete sets, not just adds
    (1 to 12).foreach { i =>
      VersionedTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"),
        root, "append", s"hc$i", statsCols = Seq("id"))
    }
    VersionedTable.commit((1L to 12L).map(i => (i, s"w$i")).toDF("id", "s"),
      root, "overwrite", "hc-ow", statsCols = Seq("id"))
    (13 to 18).foreach { i =>
      VersionedTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"),
        root, "append", s"hc$i", statsCols = Seq("id"))
    }
    VersionedTable.deleteWhere(spark, root, Seq(5L).toDF("id"), "id", "hc-del",
      statsCols = Seq("id"))
    VersionedTable.deleteWhereMor(spark, root, Seq(13L, 14L).toDF("id"), "id", "hc-mor")
    (19 to 21).foreach { i =>
      VersionedTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"),
        root, "append", s"hc$i", statsCols = Seq("id"))
    }
    // a checkpoint with the consolidated history section exists
    val ckpts = new java.io.File(s"$root/_commits").listFiles()
      .filter(_.getName.startsWith("ckpt-v")).sortBy(_.getName)
    assert(ckpts.nonEmpty)
    assert(java.nio.file.Files.readString(ckpts.last.toPath).contains("\"history\""))
    // the incremental path must agree with the classic full derivation,
    // row for row, metrics included
    val viaCkpt = VersionedTable.describeHistory(spark, root)
      .orderBy("version").collect().toSeq
    val full = {
      val cs = VersionedTable.history(root)
      cs.zip(None +: cs.map(Option(_))).map { case (c, p) =>
        (c.version, c.mode, c.commitId,
          c.dirs.filterNot(p.map(_.dirs).getOrElse(Nil).toSet.contains).size,
          p.map(_.dirs).getOrElse(Nil).filterNot(c.dirs.toSet.contains).size)
      }
    }
    assert(viaCkpt.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getInt(4), r.getInt(5))) == full)
    // depth check: the incremental derivation parses the checkpoint + tail
    // only — its manifest-parse cost is bounded by the interval, which the
    // entry count being complete (23 rows) plus the ckpt presence implies
    assert(viaCkpt.size == 24)
    assert(viaCkpt.count(_.getString(1) == "overwrite") == 1)
    assert(viaCkpt.count(_.getString(1) == "delete-mor") == 1)
  }

  test("VersionedTable.dropColumn: metadata-only drop — scans prune it, time travel keeps it, re-add refused until compact purges") {
    import spark.implicits._
    val root = tmpDir("vt_dropcol")
    VersionedTable.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "score"),
      root, "append", "d1", statsCols = Seq("id", "score"))
    // drop a RENAMED column: the retired slot is the PHYSICAL name
    VersionedTable.renameColumn(root, "score", "quality", "d-ren")
    val v3 = VersionedTable.dropColumn(root, "quality", "dc1")
    assert(v3 == 3L)
    val last = VersionedTable.history(root).last
    // zero data moved; schema, stats, and the name mapping all dropped the column
    assert(last.dirs == VersionedTable.history(root).head.dirs)
    assert(last.dropped == Seq("score"))
    assert(last.nameMap.isEmpty)
    assert(!last.stats.values.exists(_.contains("score")), last.stats.toString)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("id", "s"))
    // the scan never reads the retired slot: parquet column pruning for free
    val plan = VersionedTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!plan.contains("score"), plan)
    // time travel to a pre-drop version still shows the column (as its
    // logical name AT that version)
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq == Seq("id", "s", "score"))
    assert(VersionedTable.read(spark, root, Some(2L)).columns.toSeq == Seq("id", "s", "quality"))
    // idempotent retry
    assert(VersionedTable.dropColumn(root, "quality", "dc1") == 3L)
    // an append AFTER the drop carries the narrowed schema
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root, "append", "d2",
      statsCols = Seq("id"))
    assert(VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a copy-on-write MERGE composes (rewrite manifests carry `dropped`)
    VersionedTable.mergeInto(spark, root, Seq((2L, "B2")).toDF("id", "s"), "id",
      "d-merge", statsCols = Seq("id"))
    assert(VersionedTable.history(root).last.dropped == Seq("score"))
    // re-ADDING the retired name is refused: pre-drop files still hold the
    // old values, which would resurface as the "new" column
    val e = intercept[RuntimeException](VersionedTable.commit(
      Seq((9L, "x", 99L)).toDF("id", "s", "score"), root, "append", "d-bad1"))
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // the change feed across the drop: metadata-only commits emit nothing
    val feed = VersionedTable.readChangeFeed(spark, root, 0L, v3, "id")
    assert(feed.filter(col("_change_type") === "insert").count() == 2L)
    // compact = REORG PURGE: rewrites every live file under the post-drop
    // schema, clears the retired set, and frees the name
    VersionedTable.compact(spark, root, "d-opt", targetFiles = 1)
    assert(VersionedTable.history(root).last.dropped.isEmpty)
    val dataDir = VersionedTable.history(root).last.dirs.head
    assert(!spark.read.parquet(s"$root/$dataDir").columns.contains("score"))
    VersionedTable.commit(Seq((4L, "d", 40L)).toDF("id", "s", "score"), root,
      "append", "d3")
    assert(VersionedTable.read(spark, root).filter(col("id") === 4L)
      .select("score").head().getLong(0) == 40L)
    // guards: unknown column, last column, partition column, constraint ref,
    // pending MOR delete-set key
    intercept[IllegalArgumentException](VersionedTable.dropColumn(root, "nope", "dc-b1"))
    val root2 = tmpDir("vt_dropcol_one")
    VersionedTable.commit(Seq(Tuple1(1L)).toDF("id"), root2, "append", "o1")
    intercept[IllegalArgumentException](VersionedTable.dropColumn(root2, "id", "dc-b2"))
    val root3 = tmpDir("vt_dropcol_part")
    VersionedTable.commit(Seq((1L, 2024, "a")).toDF("id", "year", "s"), root3,
      "append", "p1", partitionCols = Seq("year"))
    intercept[IllegalArgumentException](VersionedTable.dropColumn(root3, "year", "dc-b3"))
    val root4 = tmpDir("vt_dropcol_ck")
    VersionedTable.commit(Seq((1L, 5.0)).toDF("id", "score"), root4, "append", "c1")
    VersionedTable.addConstraint(spark, root4, "pos", "score > 0", "c-ck")
    val e2 = intercept[IllegalArgumentException](
      VersionedTable.dropColumn(root4, "score", "dc-b4"))
    assert(e2.getMessage.contains("CHECK constraint"), e2.getMessage)
    val root5 = tmpDir("vt_dropcol_mor")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root5,
      "append", "m1", statsCols = Seq("id"))
    VersionedTable.deleteWhereMor(spark, root5, Seq(1L).toDF("id"), "id", "m-del")
    val e3 = intercept[IllegalArgumentException](
      VersionedTable.dropColumn(root5, "id", "dc-b5"))
    assert(e3.getMessage.contains("merge-on-read"), e3.getMessage)
    // compact absorbs the vector; the drop then proceeds
    VersionedTable.compact(spark, root5, "m-opt", targetFiles = 1)
    VersionedTable.dropColumn(root5, "id", "dc-ok")
    assert(VersionedTable.read(spark, root5).columns.toSeq == Seq("s"))
  }

  test("VersionedTable.compact: k-column OPTIMIZE ZORDER BY with a string dimension prunes files on any single axis") {
    import spark.implicits._
    val root = tmpDir("vt_zorder3")
    // 3 dimensions: two longs + a string; values crafted so the three
    // axes are mutually independent
    val rows = (0L until 4096L).map { i =>
      (i % 64, (i / 64) % 64, f"k${i % 97}%03d", i)
    }
    VersionedTable.commit(rows.toDF("x", "y", "name", "v"), root, "overwrite", "z1")
    VersionedTable.compact(spark, root, "z-opt", targetFiles = 16,
      statsCols = Seq("x", "y", "name"), zorderBy = Seq("x", "y", "name"))
    // a range predicate on EACH single dimension must prune most files
    val (sx, tot) = VersionedTable.planRangeFiles(root, "x", 0L, 7L)
    assert(tot == 16 && sx < tot, s"x-axis pruning: $sx/$tot")
    val (sy, _) = VersionedTable.planRangeFiles(root, "y", 0L, 7L)
    assert(sy < tot, s"y-axis pruning: $sy/$tot")
    // the string axis prunes through its per-file STRING envelopes (the
    // UTF-8-prefix monotone keeps them tight); correctness first
    val got = VersionedTable.read(spark, root)
      .filter(col("name") === "k005").count()
    assert(got == rows.count(_._3 == "k005"))
    // and rows are untouched by the re-cluster
    assert(VersionedTable.read(spark, root).agg(sum("v")).head().getLong(0)
      == rows.map(_._4).sum)
  }

  test("VersionedTable: string envelopes order by UTF-8 bytes, not UTF-16 code units") {
    import spark.implicits._
    // "" (UTF-8: EE 80 80) vs "😀" U+1F600 (UTF-8: F0 9F 98 80):
    // UTF-16 code units order the emoji FIRST (surrogate 0xD83D < 0xE000),
    // UTF-8 bytes order it LAST (F0 > EE) — the order parquet footers and
    // Spark's min/max use. A dir whose envelope is ["", "😀"] probed
    // with the batch key "😀" is exactly the divergence: Java ordering
    // computes mn <= hi as 0xE000 <= 0xD83D = false and classifies the dir
    // 'pass', so the delete would SILENTLY SKIP a row the dir holds.
    val root = tmpDir("vt_utf8")
    VersionedTable.commit(Seq(("", 1L), ("😀", 2L)).toDF("k", "n"),
      root, "append", "u1", statsCols = Seq("k"))
    val (_, hit, _) = VersionedTable.deleteWhere(spark, root,
      Seq("😀").toDF("k"), "k", "u-del", statsCols = Seq("k"))
    assert(hit == 1, s"emoji key must HIT the [\\uE000, emoji] envelope, got hit=$hit")
    assert(VersionedTable.read(spark, root).collect().map(_.getString(0)).toSeq
      == Seq(""), "the emoji row must actually be deleted")
    // deleteRange's metadata-only Drop takes the same ordering: a range of
    // ["", "😀"] CONTAINS the dir only under UTF-8 order (Java order
    // would call the envelope non-contained and needlessly rewrite — or,
    // mirrored, drop a non-contained dir)
    val root2 = tmpDir("vt_utf8_range")
    VersionedTable.commit(Seq(("", 1L), ("😀", 2L)).toDF("k", "n"),
      root2, "append", "u1", statsCols = Seq("k"))
    val (_, nDrop, nRewrite, _) = VersionedTable.deleteRange(spark, root2,
      "k", "", "😀", "u-range")
    assert(nDrop == 1 && nRewrite == 0,
      s"UTF-8-contained dir must drop metadata-only, got drop=$nDrop rewrite=$nRewrite")
    assert(VersionedTable.read(spark, root2).count() == 0)
  }

  test("VersionedTable: timestamp statsCols refuse TIMESTAMP_MILLIS, not just INT96") {
    import spark.implicits._
    // MILLIS footers compared against MICROS bounds would silently skip
    // matching dirs on read and DROP live dirs in deleteRange — the guard
    // must demand MICROS exactly, not merely refuse INT96
    val root = tmpDir("vt_millis")
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts")
    val saved = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      val e = intercept[IllegalArgumentException](
        VersionedTable.commit(df, root, "append", "t1", statsCols = Seq("ts")))
      assert(e.getMessage.contains("TIMESTAMP_MICROS"), e.getMessage)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", saved)
  }

  test("VersionedTable: hive-escaped partition values unescape into string envelopes") {
    import spark.implicits._
    // 'a:b' is stored on disk as k=a%3Ab — the envelope must record the
    // REAL value or a string-keyed delete on it classifies the dir by the
    // escaped form and can silently miss the row
    val root = tmpDir("vt_unesc")
    VersionedTable.commit(Seq(("a:b", 1L), ("a:b", 2L)).toDF("k", "n"),
      root, "append", "p1", partitionCols = Seq("k"), statsCols = Seq("k"))
    val env = VersionedTable.history(root).last.strStats.values.head("k")
    assert(env == (("a:b", "a:b")), s"envelope must hold the unescaped value, got $env")
    val (_, hit, _) = VersionedTable.deleteWhere(spark, root,
      Seq("a:b").toDF("k"), "k", "p-del")
    assert(hit == 1 && VersionedTable.read(spark, root).count() == 0)
  }

  test("VersionedTable.cloneTo: zero-copy shallow clone — reads equal, divergence is local, compact materializes") {
    import spark.implicits._
    val src = tmpDir("vt_clone_src")
    val dst = tmpDir("vt_clone_dst")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src,
      "append", "c0", statsCols = Seq("id"))
    VersionedTable.commit(Seq((3L, "c"), (4L, "d")).toDF("id", "s"), src,
      "append", "c1", statsCols = Seq("id"))
    // a MOR delete so the clone must carry coverage + external delete sets
    VersionedTable.deleteWhereMor(spark, src, Seq(4L).toDF("id"), "id", "m0")
    assert(VersionedTable.cloneTo(src, dst, "clone-0") == 1L)
    assert(VersionedTable.cloneTo(src, dst, "clone-0") == 1L, "idempotent retry")
    def rows(root: String) = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(dst) == Seq((1L, "a"), (2L, "b"), (3L, "c")), "clone reads the source snapshot")
    // ZERO data under the clone root — the manifest is the whole clone
    assert(!new java.io.File(s"$dst/data").exists(), "shallow clone copies no data")
    // the manifest declares the features a reader must implement
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dst, "_commits", "v0000000001.json"))
    assert(manifest.contains("external-refs") && manifest.contains("mor-deletes"), manifest)
    // divergence is LOCAL: append + copy-on-write merge land under dst only
    VersionedTable.commit(Seq((5L, "e")).toDF("id", "s"), dst, "append", "c2",
      statsCols = Seq("id"))
    val (_, hit, _) = VersionedTable.mergeInto(spark, dst,
      Seq((2L, "B2")).toDF("id", "s"), "id", "m1", statsCols = Seq("id"))
    assert(hit == 1, "merge rewrites exactly the external dir holding key 2")
    assert(rows(dst) == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (5L, "e")))
    assert(rows(src) == Seq((1L, "a"), (2L, "b"), (3L, "c")), "source never touched")
    // time travel on the clone starts at ITS v1 (the clone commit)
    assert(VersionedTable.read(spark, dst, asOf = Some(1L)).count() == 3)
    // compact MATERIALIZES: every reference becomes local, reads unchanged
    VersionedTable.compact(spark, dst, "opt-0", 2, statsCols = Seq("id"))
    val latest = VersionedTable.history(dst).last
    assert(latest.dirs.forall(!_.startsWith("/")), s"compact must localize refs: ${latest.dirs}")
    assert(rows(dst) == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (5L, "e")))
    // clone into a non-empty destination refuses
    intercept[IllegalArgumentException](VersionedTable.cloneTo(src, dst, "clone-1"))
  }

  test("VersionedTable.readChangeFeed: batch CDF equals the change history; rewrite diffs scan ONLY touched dirs") {
    import spark.implicits._
    val root = tmpDir("vt_cdf_batch")
    // three range-disjoint commits, then a merge whose keys hit ONLY c1's
    // envelope — the diff must never open c0's or c2's files
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root,
      "append", "c0", statsCols = Seq("id"))
    VersionedTable.commit(Seq((10L, "x"), (11L, "y")).toDF("id", "s"), root,
      "append", "c1", statsCols = Seq("id"))
    VersionedTable.commit(Seq((20L, "p")).toDF("id", "s"), root,
      "append", "c2", statsCols = Seq("id"))
    VersionedTable.mergeInto(spark, root, Seq((10L, "X2")).toDF("id", "s"),
      "id", "m0", statsCols = Seq("id"))
    val feed = VersionedTable.readChangeFeed(spark, root, 0L, 4L, "id")
    val events = feed.select("_commit_version", "_change_type", "id", "s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(events == Set(
      (1L, "insert", 1L, "a"), (1L, "insert", 2L, "b"),
      (2L, "insert", 10L, "x"), (2L, "insert", 11L, "y"),
      (3L, "insert", 20L, "p"),
      (4L, "update_preimage", 10L, "x"), (4L, "update_postimage", 10L, "X2")), events.toString)
    // plan boundedness: the merge commit's diff reads c1's dir (removed)
    // and the rewrite dir (added) — never c0's or c2's untouched dirs. The
    // diff is one lazy plan, so the returned frame's input files are
    // exactly the files it scans.
    val scanned = VersionedTable.changeFeedOfCommit(spark, root,
      Some(VersionedTable.commitAt(root, 3L).get),
      VersionedTable.commitAt(root, 4L).get, "id")
      .getOrElse(fail("expected a row-level form")).inputFiles.toSeq
    // (data dirs are named <version>-<commitId>-<nonce>)
    assert(scanned.exists(_.contains("-c1-")) && scanned.exists(_.contains("-m0-")) &&
      scanned.forall(p => !p.contains("-c0-") && !p.contains("-c2-")),
      s"diff must scan only the touched region, scanned: $scanned")
    // a range crossing an overwrite refuses with the split hint
    VersionedTable.commit(Seq((99L, "z")).toDF("id", "s"), root, "overwrite", "ow")
    val e = intercept[RuntimeException](
      VersionedTable.readChangeFeed(spark, root, 0L, 5L, "id").collect())
    assert(e.getMessage.contains("split the range"), e.getMessage)
  }

  test("VersionedTable CHECK constraints: pre-validated on add, enforced on every row-adding write, lifecycle-durable") {
    import spark.implicits._
    val root = tmpDir("vt_check")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root,
      "append", "c0", statsCols = Seq("id"))
    assert(VersionedTable.addConstraint(spark, root, "pos_id", "id > 0", "k0") == 2L)
    assert(VersionedTable.addConstraint(spark, root, "pos_id", "id > 0", "k0") == 2L,
      "idempotent retry")
    // a constraint the EXISTING snapshot violates refuses before publishing
    val e0 = intercept[IllegalArgumentException](
      VersionedTable.addConstraint(spark, root, "big_id", "id > 1", "k1"))
    assert(e0.getMessage.contains("big_id") && VersionedTable.latestVersion(root).contains(2L))
    // violating append refuses BEFORE any data lands; log does not advance
    intercept[IllegalArgumentException](
      VersionedTable.commit(Seq((-1L, "x")).toDF("id", "s"), root, "append", "bad0"))
    assert(VersionedTable.latestVersion(root).contains(2L))
    // violating merge refuses too (updates ADD rows)
    intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, root, Seq((-5L, "y")).toDF("id", "s"), "id", "bad1"))
    // valid writes pass; SQL CHECK semantics: a NULL predicate result PASSES
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root, "append", "c1",
      statsCols = Seq("id"))
    VersionedTable.commit(
      Seq((Some(4L), "d"), (Option.empty[Long], "n")).toDF("id", "s"),
      root, "append", "c2")
    assert(VersionedTable.read(spark, root).count() == 5)
    // renaming a constrained column would break enforcement — refuse
    val e1 = intercept[IllegalArgumentException](
      VersionedTable.renameColumn(root, "id", "row_id", "ren0"))
    assert(e1.getMessage.contains("pos_id"))
    // constraints survive compaction (they are table properties)
    VersionedTable.compact(spark, root, "opt0", 1, statsCols = Seq("id"))
    intercept[IllegalArgumentException](
      VersionedTable.commit(Seq((-2L, "z")).toDF("id", "s"), root, "append", "bad2"))
    // dropped → no longer enforced, rename now allowed
    VersionedTable.dropConstraint(root, "pos_id", "k2")
    VersionedTable.commit(Seq((-9L, "ok")).toDF("id", "s"), root, "append", "c3")
    VersionedTable.renameColumn(root, "id", "row_id", "ren1")
    assert(VersionedTable.read(spark, root).columns.head == "row_id")
  }

  test("VersionedTable: a manifest declaring an unknown reader feature refuses loudly") {
    val root = tmpDir("vt_feat")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_commits"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_commits", "v0000000001.json"),
      """{"version":1,"commitId":"x","mode":"append","dirs":[],""" +
        """"features":["time-crystals"],"schema":"id BIGINT"}""")
    val e = intercept[IllegalArgumentException](VersionedTable.read(spark, root))
    assert(e.getMessage.contains("time-crystals"), e.getMessage)
  }
  // ---- branches & tags (Iceberg refs; the WAP pattern) -------------------

  test("VersionedTable branches: zero-copy fork, isolated writes, fast-forward publish, idempotent retry") {
    import spark.implicits._
    val root = tmpDir("branch")
    val base = (1L to 100L).map(i => (i, i * 10)).toDF("id", "v")
    VersionedTable.commit(base.filter(col("id") <= 50), root, "append", "b-c0",
      statsCols = Seq("id"))
    VersionedTable.commit(base.filter(col("id") > 50), root, "append", "b-c1",
      statsCols = Seq("id"))
    VersionedTable.createBranch(root, "wap", "b-branch")
    val bq = VersionedTable.branchRoot(root, "wap")
    // zero-copy: no data dir under the branch root at creation
    assert(!new java.io.File(s"$bq/data").exists())
    assert(VersionedTable.listBranches(root) == Seq("wap"))
    // branch reads the fork-point snapshot through the external refs
    assert(VersionedTable.read(spark, bq).count() == 100)
    // writes land on the branch; main is untouched
    VersionedTable.mergeInto(spark, bq,
      Seq((25L, 999L), (101L, 1010L)).toDF("id", "v"), "id", "b-m0",
      statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, bq, Seq(50L).toDF("id"), "id", "b-d0")
    assert(VersionedTable.read(spark, root).count() == 100)
    assert(VersionedTable.latestVersion(root).contains(2L))
    // audit the branch, then publish
    val audited = VersionedTable.read(spark, bq)
    assert(audited.count() == 100) // +1 insert, -1 delete
    assert(audited.filter(col("id") === 25L).head().getLong(1) == 999L)
    val v = VersionedTable.fastForward(root, "wap", "b-publish")
    assert(v == 3L)
    // the branch is retired; main holds the branch snapshot exactly
    assert(VersionedTable.listBranches(root).isEmpty)
    val main = VersionedTable.read(spark, root)
    assert(main.count() == 100)
    assert(main.filter(col("id") === 25L).head().getLong(1) == 999L)
    assert(main.filter(col("id") === 50L).count() == 0)
    assert(main.filter(col("id") === 101L).count() == 1)
    // idempotent retry of the publish returns the committed version
    assert(VersionedTable.fastForward(root, "wap", "b-publish") == 3L)
    // the published snapshot's skipping index survived the move: a point
    // read prunes to the dirs whose envelope admits the key, and reading
    // through the index returns exactly the matching row
    assert(VersionedTable.readRange(spark, root, "id", 101L, 101L).count() == 1)
  }

  test("VersionedTable branches: fast-forward refuses when main advanced (not a fast-forward)") {
    import spark.implicits._
    val root = tmpDir("branchstale")
    VersionedTable.commit((1L to 10L).map(i => (i, i)).toDF("id", "v"), root,
      "append", "bs-c0", statsCols = Seq("id"))
    VersionedTable.createBranch(root, "exp", "bs-branch")
    val bq = VersionedTable.branchRoot(root, "exp")
    VersionedTable.commit(Seq((11L, 11L)).toDF("id", "v"), bq, "append", "bs-b1",
      statsCols = Seq("id"))
    // main advances past the fork point
    VersionedTable.commit(Seq((12L, 12L)).toDF("id", "v"), root, "append", "bs-c1",
      statsCols = Seq("id"))
    val e = intercept[IllegalArgumentException](
      VersionedTable.fastForward(root, "exp", "bs-publish"))
    assert(e.getMessage.contains("not a fast-forward"), e.getMessage)
    // the branch is still alive and readable; dropping it orphans nothing in main
    assert(VersionedTable.read(spark, bq).count() == 11)
    VersionedTable.dropBranch(root, "exp")
    assert(VersionedTable.listBranches(root).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 11)
  }

  test("VersionedTable branches: an unwritten branch fast-forwards as a no-op retirement") {
    import spark.implicits._
    val root = tmpDir("branchnoop")
    VersionedTable.commit(Seq((1L, 1L)).toDF("id", "v"), root, "append", "bn-c0")
    VersionedTable.createBranch(root, "idle", "bn-branch")
    assert(VersionedTable.fastForward(root, "idle", "bn-publish") == 1L)
    assert(VersionedTable.latestVersion(root).contains(1L))
    assert(VersionedTable.listBranches(root).isEmpty)
  }

  test("VersionedTable vacuum is BRANCH-AWARE: main dirs a live branch references survive the sweep") {
    import spark.implicits._
    val root = tmpDir("branchvac")
    val base = (1L to 40L).map(i => (i, i)).toDF("id", "v")
    VersionedTable.commit(base.filter(col("id") <= 20), root, "append", "bv-c0",
      statsCols = Seq("id"))
    VersionedTable.commit(base.filter(col("id") > 20), root, "append", "bv-c1",
      statsCols = Seq("id"))
    VersionedTable.createBranch(root, "keeper", "bv-branch")
    val bq = VersionedTable.branchRoot(root, "keeper")
    // main rewrites everything (compact), then vacuums aggressively: the
    // pre-compact dirs are unreferenced by any retained MAIN manifest but
    // still referenced by the live branch
    VersionedTable.compact(spark, root, "bv-opt", targetFiles = 1,
      statsCols = Seq("id"))
    VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    // the branch still reads its fork-point snapshot bit-exactly
    assert(VersionedTable.read(spark, bq).count() == 40)
    assert(VersionedTable.read(spark, bq).agg(sum("v")).head().getLong(0) == (1L to 40L).sum)
    // dropping the branch releases the refs; the next vacuum reclaims them
    VersionedTable.dropBranch(root, "keeper")
    val swept = VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(swept.nonEmpty)
    assert(VersionedTable.read(spark, root).count() == 40)
  }

  test("VersionedTable tags: immortal named refs — vacuum keeps tagged versions, retag refuses") {
    import spark.implicits._
    val root = tmpDir("tags")
    val base = (1L to 30L).map(i => (i, i)).toDF("id", "v")
    VersionedTable.commit(base.filter(col("id") <= 10), root, "append", "t-c0",
      statsCols = Seq("id"))
    VersionedTable.commit(base.filter(col("id") > 10 && col("id") <= 20), root,
      "append", "t-c1", statsCols = Seq("id"))
    VersionedTable.createTag(root, "release-1", 2L)
    assert(VersionedTable.listTags(root) == Map("release-1" -> 2L))
    // same-version re-create is a no-op; a different version refuses
    assert(VersionedTable.createTag(root, "release-1", 2L) == 2L)
    val e = intercept[IllegalArgumentException](
      VersionedTable.createTag(root, "release-1", 1L))
    assert(e.getMessage.contains("immutable"), e.getMessage)
    // advance + rewrite + aggressive vacuum: v1 ages out, tagged v2 survives
    VersionedTable.commit(base.filter(col("id") > 20), root, "append", "t-c2",
      statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, root,
      (1L to 30L by 2).toDF("id"), "id", "t-d0")
    VersionedTable.vacuum(root, retainLast = 1, orphanGraceMs = 0L)
    assert(VersionedTable.commitAt(root, 1L).isEmpty)
    assert(VersionedTable.commitAt(root, 2L).isDefined)
    val tagged = VersionedTable.readTag(spark, root, "release-1")
    assert(tagged.count() == 20)
    assert(tagged.agg(sum("v")).head().getLong(0) == (1L to 20L).sum)
    // head unaffected
    assert(VersionedTable.read(spark, root).count() == 15)
    // unknown tags refuse loudly; drop releases the pin
    intercept[IllegalArgumentException](VersionedTable.tagVersion(root, "nope"))
    VersionedTable.dropTag(root, "release-1")
    assert(VersionedTable.listTags(root).isEmpty)
  }

  test("GraftSqlParser refs: CREATE/DROP/FAST FORWARD BRANCH, CREATE/DROP TAG, SHOW BRANCHES/TAGS") {
    import spark.implicits._
    val root = catRoot("sqlrefs")
    VersionedTable.commit((1L to 10L).map(i => (i, i)).toDF("id", "v"), root,
      "append", "sr-c0", statsCols = Seq("id"))
    spark.sql(s"ALTER GRAFT '$root' CREATE BRANCH exp").collect()
    // the refs are listed by the catalog's branches / tags metadata tables
    assert(spark.sql("SELECT * FROM iocat.db.sqlrefs.branches").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("exp", 1L)))
    // write on the branch through ordinary SQL DML against the branch root
    val bq = VersionedTable.branchRoot(root, "exp")
    spark.sql(s"UPDATE GRAFT '$bq' SET v = v + 100 WHERE id IN (1, 2)").collect()
    val ff = spark.sql(s"ALTER GRAFT '$root' FAST FORWARD BRANCH exp").head()
    assert(ff.getLong(1) == 2L)
    assert(spark.sql("SELECT * FROM iocat.db.sqlrefs.branches").count() == 0)
    assert(VersionedTable.read(spark, root).filter(col("id") <= 2)
      .agg(sum("v")).head().getLong(0) == 203L)
    // tags: default version = latest; the tags table lists; DROP removes
    spark.sql(s"ALTER GRAFT '$root' CREATE TAG golden").collect()
    assert(spark.sql("SELECT * FROM iocat.db.sqlrefs.tags").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("golden", 2L)))
    spark.sql(s"ALTER GRAFT '$root' CREATE TAG old AS OF VERSION 1").collect()
    assert(VersionedTable.tagVersion(root, "old") == 1L)
    spark.sql(s"ALTER GRAFT '$root' DROP TAG old").collect()
    assert(VersionedTable.listTags(root) == Map("golden" -> 2L))
    spark.sql(s"ALTER GRAFT '$root' DROP BRANCH ghost").collect() // absent: no-op
  }

  // ---- incremental materialized views ------------------------------------

  test("MatView: incremental refresh equals full recompute; zero-count groups tombstone; replay no-ops") {
    import spark.implicits._
    val srcR = tmpDir("mvsrc"); val mvR = tmpDir("mv")
    val rows = (1L to 60L).map(i => (i, s"g${i % 4}", i * 3))
      .toDF("id", "grp", "v")
    VersionedTable.commit(rows.filter(col("id") <= 30), srcR, "append", "m-c0",
      statsCols = Seq("id"))
    MatView.create(spark, mvR, srcR, "grp", Seq("v"), "m-create")
    // the view matches the source aggregate at creation
    def direct() = VersionedTable.read(spark, srcR).groupBy("grp")
      .agg(count(lit(1)).as("mv_rows"), sum("v").as("v_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def view() = VersionedTable.read(spark, mvR)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(view() == direct())
    // append + group-moving merge + delete on the source, then refresh
    VersionedTable.commit(rows.filter(col("id") > 30), srcR, "append", "m-c1",
      statsCols = Seq("id"))
    VersionedTable.mergeInto(spark, srcR,
      rows.filter(col("id") % 5 === 0)
        .select(col("id"), lit("gX").as("grp"), col("v")),
      "id", "m-m0", statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, srcR,
      rows.filter(col("id") % 7 === 0).select("id"), "id", "m-d0")
    assert(MatView.refresh(spark, mvR) == 4L)
    assert(view() == direct())
    // deleting EVERY row of one group tombstones its view row entirely
    VersionedTable.deleteWhere(spark, srcR,
      VersionedTable.read(spark, srcR).filter(col("grp") === "gX").select("id"),
      "id", "m-d1")
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    assert(VersionedTable.read(spark, mvR).filter(col("grp") === "gX").count() == 0)
    // replay: same synced version, view log unmoved
    val ver = VersionedTable.latestVersion(mvR)
    assert(MatView.refresh(spark, mvR) == 5L)
    assert(VersionedTable.latestVersion(mvR) == ver)
  }

  test("MatView min/max: inserts tighten free, extreme-removing deletes recompute affected groups only") {
    import spark.implicits._
    val srcR = tmpDir("mvsrc3"); val mvR = tmpDir("mv3")
    val rows = (1L to 60L).map(i => (i, s"g${i % 3}", i * 3, f"w${i % 7}%02d"))
      .toDF("id", "grp", "v", "w")
    VersionedTable.commit(rows.filter(col("id") <= 30), srcR, "append", "m3-c0",
      statsCols = Seq("id"))
    MatView.create(spark, mvR, srcR, "grp", Seq("v"), "m3-create",
      minMaxCols = Seq("v", "w"))
    def direct() = VersionedTable.read(spark, srcR).groupBy("grp")
      .agg(count(lit(1)).as("mv_rows"), sum("v").as("v_sum"),
        min("v").as("v_min"), max("v").as("v_max"),
        min("w").as("w_min"), max("w").as("w_max"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toSet
    def view() = VersionedTable.read(spark, mvR)
      .select("grp", "mv_rows", "v_sum", "v_min", "v_max", "w_min", "w_max")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))).toSet
    assert(view() == direct())
    // INSERT-only: extremes tighten monotonically (both directions)
    VersionedTable.commit(rows.filter(col("id") > 30), srcR, "append", "m3-c1",
      statsCols = Seq("id"))
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    // delete a NON-extreme row — as a POSITIONAL vector: the provisional
    // min/max path stays exact AND the incremental refresh rides the
    // delete-pos change feed (the IVM composes with DV deletes)
    VersionedTable.deleteWherePos(spark, srcR, Seq(31L).toDF("id"), "id", "m3-d0")
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    // delete each group's MIN row (the affected-group recompute path) and
    // one group's MAX row in the same commit
    val minIds = VersionedTable.read(spark, srcR).groupBy("grp")
      .agg(min("id").as("id")).select("id").collect().map(_.getLong(0)).toSeq
    val maxG0 = VersionedTable.read(spark, srcR).filter(col("grp") === "g0")
      .agg(max("id")).head().getLong(0)
    VersionedTable.deleteWhere(spark, srcR, (minIds :+ maxG0).toDF("id"), "id", "m3-d1")
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    // an UPDATE that moves a group's extreme row to another group: the
    // losing group recomputes, the gaining group tightens
    val minG1 = VersionedTable.read(spark, srcR).filter(col("grp") === "g1")
      .agg(min("id"), min("v")).head()
    VersionedTable.mergeInto(spark, srcR,
      Seq((minG1.getLong(0), "g2", minG1.getLong(1), "w99")).toDF("id", "grp", "v", "w"),
      "id", "m3-m0", statsCols = Seq("id"))
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    // deleting EVERY row of a group tombstones it (no recompute of a dead group)
    VersionedTable.deleteWhere(spark, srcR,
      VersionedTable.read(spark, srcR).filter(col("grp") === "g0").select("id"),
      "id", "m3-d2")
    MatView.refresh(spark, mvR)
    assert(view() == direct())
    assert(VersionedTable.read(spark, mvR).filter(col("grp") === "g0").count() == 0)
    // rebuild carries the min/max declaration
    MatView.rebuild(spark, mvR)
    assert(view() == direct())
    // non-orderable-exact type refused at declaration
    val rootBad = tmpDir("mvsrc3b"); val mvBad = tmpDir("mv3b")
    VersionedTable.commit(Seq((1L, "g", 1.5)).toDF("id", "grp", "d"), rootBad,
      "append", "m3b-c0")
    val e = intercept[IllegalArgumentException](MatView.create(spark, mvBad, rootBad,
      "grp", Seq("id"), "m3b-create", minMaxCols = Seq("d")))
    assert(e.getMessage.contains("integral or string"), e.getMessage)
  }

  test("MatView: non-integral sum columns refused; rebuild() recovers from a source rollback") {
    import spark.implicits._
    val srcR = tmpDir("mvsrc2"); val mvR = tmpDir("mv2")
    val rows = (1L to 20L).map(i => (i, s"g${i % 2}", i.toDouble)).toDF("id", "grp", "d")
    VersionedTable.commit(rows, srcR, "append", "m2-c0", statsCols = Seq("id"))
    val e = intercept[IllegalArgumentException](
      MatView.create(spark, mvR, srcR, "grp", Seq("d"), "m2-bad"))
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integral view over id; then the source history gains a rollback —
    // the change feed refuses, rebuild() re-materializes from the snapshot
    MatView.create(spark, mvR, srcR, "grp", Seq("id"), "m2-create")
    VersionedTable.commit(rows.filter(col("id") <= 5)
      .select(col("id") + 100, col("grp"), col("d"))
      .toDF("id", "grp", "d"), srcR, "append", "m2-c1", statsCols = Seq("id"))
    VersionedTable.rollback(srcR, 1L, "m2-rb")
    intercept[RuntimeException](MatView.refresh(spark, mvR))
    assert(MatView.rebuild(spark, mvR) == 3L)
    val got = VersionedTable.read(spark, mvR)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = VersionedTable.read(spark, srcR).groupBy("grp")
      .agg(count(lit(1)), sum("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // incremental refresh resumes cleanly from the rebuilt sync point
    VersionedTable.commit(rows.filter(col("id") > 15), srcR, "append", "m2-c2",
      statsCols = Seq("id"))
    MatView.refresh(spark, mvR)
    val got2 = VersionedTable.read(spark, mvR)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want2 = VersionedTable.read(spark, srcR).groupBy("grp")
      .agg(count(lit(1)), sum("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == want2)
  }

  test("GraftSqlParser: CREATE/REFRESH MATERIALIZED VIEW GRAFT as SQL") {
    import spark.implicits._
    val srcR = tmpDir("mvsql_src"); val mvR = tmpDir("mvsql")
    VersionedTable.commit((1L to 40L).map(i => (i, s"k${i % 3}", i * 2))
      .toDF("id", "k", "v"), srcR, "append", "ms-c0", statsCols = Seq("id"))
    spark.sql(s"CREATE MATERIALIZED VIEW GRAFT '$mvR' FROM '$srcR' GROUP BY k SUM (v)")
      .collect()
    VersionedTable.commit((41L to 50L).map(i => (i, s"k${i % 3}", i * 2))
      .toDF("id", "k", "v"), srcR, "append", "ms-c1", statsCols = Seq("id"))
    val synced = spark.sql(s"REFRESH MATERIALIZED VIEW GRAFT '$mvR'").head().getLong(0)
    assert(synced == 2L)
    val got = VersionedTable.read(spark, mvR)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = VersionedTable.read(spark, srcR).groupBy("k")
      .agg(count(lit(1)), sum("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // MINMAX clause: extremes maintained through the SQL-declared view,
    // including the affected-group recompute after a min-removing delete
    val mvR2 = tmpDir("mvsql_mm")
    spark.sql(s"CREATE MATERIALIZED VIEW GRAFT '$mvR2' FROM '$srcR' " +
      "GROUP BY k SUM (v) MINMAX (v)").collect()
    VersionedTable.deleteWhere(spark, srcR,
      VersionedTable.read(spark, srcR).groupBy("k").agg(min(col("id")).as("id"))
        .select("id"), "id", "ms-d0")
    spark.sql(s"REFRESH MATERIALIZED VIEW GRAFT '$mvR2'").collect()
    val gotMm = VersionedTable.read(spark, mvR2)
      .select("k", "mv_rows", "v_sum", "v_min", "v_max")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val wantMm = VersionedTable.read(spark, srcR).groupBy("k")
      .agg(count(lit(1)), sum("v"), min("v"), max("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotMm == wantMm)
  }

  // ---- partition evolution (setPartitionLayout) ---------------------------

  test("partition evolution: flat -> partitioned, eras union, time travel era-correct") {
    import spark.implicits._
    val root = tmpDir("pevo1")
    val era1 = (1L to 40L).map(i => (i, s"g${i % 3}", i * 10)).toDF("id", "grp", "v")
    VersionedTable.commit(era1, root, "append", "pe-c1", statsCols = Seq("id"))
    val v2 = VersionedTable.setPartitionLayout(root, Seq("grp"), "pe-evolve")
    assert(v2 == 2L)
    // metadata-only: the era-1 dir is recorded under its (flat) layout
    val c2 = VersionedTable.latestCommit(root).get
    assert(c2.partitionCols == Seq("grp") && c2.dirLayouts.values.toSeq == Seq(Nil))
    // the manifest declares the reader feature while an old-era dir lives
    val mf = new java.io.File(s"$root/_commits").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    assert(java.nio.file.Files.readString(mf.toPath).contains("partition-evolution"))
    val era2 = (41L to 60L).map(i => (i, s"g${i % 3}", i * 10)).toDF("id", "grp", "v")
    VersionedTable.commit(era2, root, "append", "pe-c2",
      partitionCols = Seq("grp"), statsCols = Seq("id"))
    // the era-2 dir physically landed hive-partitioned
    val c3 = VersionedTable.latestCommit(root).get
    val newDir = c3.dirs.filterNot(c2.dirs.contains).head
    assert(new java.io.File(s"$root/$newDir").listFiles().exists(_.getName.startsWith("grp=")))
    // full scan unions both eras under one schema, grp identical either way
    val got = VersionedTable.read(spark, root)
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = era1.unionByName(era2)
      .groupBy("grp").agg(count(lit(1)), sum("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // time travel to the pre-evolution snapshot reads under ITS layout
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 40L)
    // the skipping index spans both eras: a range probe over era-2 ids
    // prunes the era-1 dir, and the pruned read crosses the era boundary
    assert(VersionedTable.planRange(root, "id", 41L, 60L).size == 1)
    assert(VersionedTable.readRange(spark, root, "id", 30L, 50L).count() == 21L)
    // appends in the RETIRED layout refuse loudly
    val e = intercept[Exception] {
      VersionedTable.commit(era2, root, "append", "pe-bad", statsCols = Seq("id"))
    }
    assert(e.getMessage.contains("layout"))
  }

  test("partition evolution: partitioned -> flat and re-key; rewrites retire eras") {
    import spark.implicits._
    val root = tmpDir("pevo2")
    val rows = (1L to 30L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v")
    VersionedTable.commit(rows, root, "append", "p2-c1",
      partitionCols = Seq("grp"), statsCols = Seq("id"))
    VersionedTable.setPartitionLayout(root, Nil, "p2-flat")
    val flat = (31L to 40L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v")
    VersionedTable.commit(flat, root, "append", "p2-c2", statsCols = Seq("id"))
    // grp is path-materialized in era 1, file-materialized in era 2 —
    // one filterable column either way
    assert(VersionedTable.read(spark, root).filter(col("grp") === "g1").count() == 20L)
    // a copy-on-write rewrite of the OLD-era dir emits survivors in the
    // CURRENT (flat) layout and retires its era entry
    assert(VersionedTable.latestCommit(root).get.dirLayouts.size == 1)
    VersionedTable.deleteWhere(spark, root, Seq(1L, 2L).toDF("id"), "id", "p2-del",
      statsCols = Seq("id"))
    val afterDel = VersionedTable.latestCommit(root).get
    assert(afterDel.dirLayouts.isEmpty,
      s"rewrite should retire the era entry, still has ${afterDel.dirLayouts}")
    assert(VersionedTable.read(spark, root).count() == 38L)
    // grp survived the rewrite as an ordinary column
    assert(VersionedTable.read(spark, root).filter(col("grp") === "g1").count() == 19L)
  }

  test("partition evolution: compact normalizes all eras; set-layout is feed-invisible") {
    import spark.implicits._
    val root = tmpDir("pevo3")
    VersionedTable.commit((1L to 20L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v"),
      root, "append", "p3-c1", statsCols = Seq("id"))
    VersionedTable.setPartitionLayout(root, Seq("grp"), "p3-evolve")
    VersionedTable.commit((21L to 30L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v"),
      root, "append", "p3-c2", partitionCols = Seq("grp"), statsCols = Seq("id"))
    // the set-layout commit is metadata-only: the change feed over the
    // whole range emits rows only for the two data commits
    val feed = VersionedTable.readChangeFeed(spark, root, 0L, 3L, "id")
    assert(feed.count() == 30L)
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0L)
    // full OPTIMIZE rewrites every era into the current layout
    VersionedTable.compact(spark, root, "p3-opt", targetFiles = 2, statsCols = Seq("id"))
    val c = VersionedTable.latestCommit(root).get
    assert(c.dirLayouts.isEmpty && c.partitionCols == Seq("grp"))
    assert(VersionedTable.read(spark, root).count() == 30L)
    // post-compact the feature is no longer declared
    val mf = new java.io.File(s"$root/_commits").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    assert(!java.nio.file.Files.readString(mf.toPath).contains("partition-evolution"))
  }

  test("partition evolution: guards — era hive columns refuse rename/widen/drop; bad layouts refuse") {
    import spark.implicits._
    val root = tmpDir("pevo4")
    VersionedTable.commit((1L to 10L).map(i => (i, s"g${i % 2}", i.toInt)).toDF("id", "grp", "v"),
      root, "append", "p4-c1", partitionCols = Seq("grp"), statsCols = Seq("id"))
    VersionedTable.setPartitionLayout(root, Nil, "p4-flat")
    // grp is still path-baked in the era-1 dir: structural verbs refuse
    assert(intercept[Exception](VersionedTable.renameColumn(root, "grp", "g2", "p4-rn"))
      .getMessage.contains("pre-evolution era"))
    assert(intercept[Exception](VersionedTable.dropColumn(root, "grp", "p4-dc"))
      .getMessage.contains("pre-evolution era"))
    // unknown column and no-op layouts refuse loudly
    assert(intercept[Exception](VersionedTable.setPartitionLayout(root, Seq("nope"), "p4-x"))
      .getMessage.contains("unknown column"))
    assert(intercept[Exception](VersionedTable.setPartitionLayout(root, Nil, "p4-same"))
      .getMessage.contains("already the layout"))
    // idempotent retry returns the committed version without a new commit
    val v = VersionedTable.setPartitionLayout(root, Seq("grp"), "p4-back")
    assert(VersionedTable.setPartitionLayout(root, Seq("grp"), "p4-back") == v)
  }

  test("size-based compaction: TARGET BYTES derives file count from on-disk bytes, both modes band file sizes") {
    import spark.implicits._
    val root = tmpDir("szc")
    val rows = (1L to 40000L).map(i =>
      (i, s"row-$i-${(i * 2654435761L).toHexString}-${(i * 40503L).toHexString}"))
      .toDF("id", "s")
    (0 until 4).foreach(k =>
      VersionedTable.commit(rows.filter(col("id") % 4 === k), root, "append",
        s"szc-c$k", statsCols = Seq("id")))
    def dirFiles(): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      val c = VersionedTable.latestCommit(root).get
      c.dirs.flatMap { d =>
        val p = java.nio.file.Paths.get(s"$root/$d")
        val w = java.nio.file.Files.walk(p)
        try w.iterator().asScala.toSeq
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size(_))
        finally w.close()
      }
    }
    val preTotal = dirFiles().sum
    val tgt = math.max(1L, preTotal / 5)
    // BYTES mode: the derived count is ceil(preBytes / target) and every
    // output file lands within a compression-tolerant band of the target
    VersionedTable.compact(spark, root, "szc-opt", 0, statsCols = Seq("id"),
      targetFileBytes = tgt)
    val out = dirFiles()
    val wantN = ((preTotal + tgt - 1) / tgt).toInt
    assert(out.size == wantN, s"expected $wantN files, got ${out.size}: $out")
    assert(out.forall(sz => sz <= (tgt * 5) / 2),
      s"file exceeds the size band (target $tgt): $out")
    assert(VersionedTable.read(spark, root).count() == 40000L)
    // COUNT mode still pins the file count exactly
    VersionedTable.commit(rows.filter(col("id") <= 10).select(col("id") + 100000L,
      col("s")).toDF("id", "s"), root, "append", "szc-c5", statsCols = Seq("id"))
    VersionedTable.compact(spark, root, "szc-opt2", 3, statsCols = Seq("id"))
    assert(dirFiles().size == 3)
    // SQL form: OPTIMIZE ... TARGET <n> BYTES
    spark.sql(s"OPTIMIZE GRAFT '$root' TARGET $tgt BYTES").collect()
    val out2 = dirFiles()
    assert(out2.size >= 2 && out2.forall(_ <= (tgt * 5) / 2), s"$out2")
    // neither mode given refuses; WHERE + BYTES refuses
    assert(intercept[Exception](VersionedTable.compact(spark, root, "szc-bad", 0))
      .getMessage.contains("targetFiles >= 1 or targetFileBytes"))
    // auto-compact byte target: declared as a property, validated at SET,
    // takes precedence over the count form, keeps the loop size-banded
    assert(intercept[Exception](VersionedTable.setTableProperties(root,
      Map("graft.autoCompact.targetBytes" -> "big"), "szc-bad2"))
      .getMessage.contains("byte count"))
    VersionedTable.setTableProperties(root,
      Map("graft.autoCompact.minDirs" -> "3",
        "graft.autoCompact.target" -> "1",
        "graft.autoCompact.targetBytes" -> tgt.toString), "szc-props")
    (1 to 3).foreach(i => VersionedTable.commit(
      rows.filter(col("id") % 4 === 0).select(col("id") + i * 1000000L, col("s"))
        .toDF("id", "s"), root, "append", s"szc-a$i", statsCols = Seq("id")))
    val hist = VersionedTable.history(root)
    assert(hist.exists(c => c.mode == "compact" && c.commitId.startsWith("auto-compact")))
    // byte target won over target=1: more than one output file, all banded
    val out3 = dirFiles()
    assert(VersionedTable.latestCommit(root).get.dirs.size <= 3)
    assert(out3.count(_ > 0) >= 2 && out3.forall(_ <= (tgt * 5) / 2),
      s"auto-compact byte target not honored: $out3")
  }

  test("auto-compact TBLPROPERTY: an unattended append loop stays bounded in dirs") {
    import spark.implicits._
    val root = tmpDir("autoc")
    VersionedTable.commit((1L to 5L).map(i => (i, i * 2)).toDF("id", "v"),
      root, "append", "ac-c0", statsCols = Seq("id"))
    // a typo'd value refuses at SET time, not silently at append time
    assert(intercept[Exception](VersionedTable.setTableProperties(root,
      Map("graft.autoCompact.minDirs" -> "soon"), "ac-bad"))
      .getMessage.contains("integer >= 2"))
    VersionedTable.setTableProperties(root,
      Map("graft.autoCompact.minDirs" -> "4", "graft.autoCompact.target" -> "2"), "ac-props")
    (1 to 9).foreach { i =>
      VersionedTable.commit(Seq((100L + i, i * 3L)).toDF("id", "v"),
        root, "append", s"ac-c$i", statsCols = Seq("id"))
      // the invariant an operator alerts on: dir count never exceeds the
      // declared bound (the trigger compacts the moment it is reached)
      assert(VersionedTable.latestCommit(root).get.dirs.size < 4,
        s"append $i left ${VersionedTable.latestCommit(root).get.dirs.size} dirs")
    }
    // compaction commits interleave the appends; data and index intact
    val hist = VersionedTable.history(root)
    assert(hist.count(_.mode == "compact") >= 2)
    assert(VersionedTable.read(spark, root).count() == 14L)
    assert(VersionedTable.latestCommit(root).get.stats.nonEmpty,
      "auto-compact must rebuild the skipping index (indexedCols)")
    // replaying an append replays its compaction too — both no-op
    val v = VersionedTable.latestVersion(root).get
    VersionedTable.commit(Seq((109L, 27L)).toDF("id", "v"), root, "append", "ac-c9",
      statsCols = Seq("id"))
    assert(VersionedTable.latestVersion(root).get == v)
  }

  test("catalog storage-partitioned join: zero Exchange on either side, exact rows") {
    import spark.implicits._
    val ra = catRoot("spja"); val rb = catRoot("spjb")
    // both tables hive-partitioned by grp; A has two commits (multi-dir
    // key groups) and a NULL-partition row (the sentinel subtree is its
    // own key group)
    val a1 = (1L to 30L).map(i => (i, s"g${i % 5}", i * 2)) :+ ((99L, null: String, 0L))
    val a2 = (31L to 45L).map(i => (i, s"g${i % 5}", i * 2))
    VersionedTable.commit(a1.toDF("id", "grp", "v"), ra, "append", "spj-a1",
      partitionCols = Seq("grp"), statsCols = Seq("id"))
    VersionedTable.commit(a2.toDF("id", "grp", "v"), ra, "append", "spj-a2",
      partitionCols = Seq("grp"), statsCols = Seq("id"))
    val b = (0 until 5).map(i => (s"g$i", i * 100L))
    VersionedTable.commit(b.toDF("grp", "w"), rb, "append", "spj-b1",
      partitionCols = Seq("grp"))
    // MERGE hint: at spec scale both sides sit under the broadcast
    // threshold; the property under test is the sort-merge SPJ
    val df = spark.sql(
      "SELECT /*+ MERGE(a) */ a.grp AS grp, count(*) AS n, sum(a.v + b.w) AS s " +
        "FROM iocat.db.spja a JOIN iocat.db.spjb b ON a.grp = b.grp GROUP BY a.grp")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = (a1 ++ a2).toDF("id", "grp", "v").join(b.toDF("grp", "w"), "grp")
      .groupBy("grp").agg(count(lit(1)), sum(col("v") + col("w")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // the whole plan — join AND the aggregation above it — runs on the
    // scans' KeyGroupedPartitioning: zero Exchange anywhere
    val plan = finalPlan(df)
    assert(!plan.contains("Exchange"), s"expected an exchange-free plan:\n${plan.take(2000)}")
    assert("GraftKeyedScan".r.findAllIn(plan).size == 2, plan.take(2000))
    assert(spark.sql("SELECT id FROM iocat.db.spja WHERE grp IS NULL")
      .collect().map(_.getLong(0)).toSeq == Seq(99L))
  }

  test("keyed scan applies key-form and positional MOR delete sets: zero Exchange, exact rows") {
    import spark.implicits._
    val root = catRoot("spjmor")
    VersionedTable.commit(
      (1L to 24L).map(i => (i, s"g${i % 3}", i * 2)).toDF("id", "grp", "v"),
      root, "append", "sm-c1", partitionCols = Seq("grp"), statsCols = Seq("id"))
    // MOR delete: ids 3,6,9 tombstone as a key-form delete set — no rewrite
    VersionedTable.deleteWhereMor(spark, root, Seq(3L, 6L, 9L).toDF("id"),
      "id", "sm-del")
    assert(VersionedTable.latestCommit(root).get.deletes.nonEmpty)
    def agg(): org.apache.spark.sql.DataFrame =
      spark.sql("SELECT grp, count(*) AS n, sum(id) AS ids FROM iocat.db.spjmor GROUP BY grp")
    def want(ids: Seq[Long]): Set[(String, Long, Long)] =
      ids.map(i => (i, s"g${i % 3}")).groupBy(_._2)
        .map { case (g, xs) => (g, xs.size.toLong, xs.map(_._1).sum) }.toSet
    def check(df: org.apache.spark.sql.DataFrame, ids: Seq[Long]): Unit = {
      val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want(ids), s"got $got")
      // removal cannot move a surviving row to another key group: the
      // keyed scan keeps its partitioning and the aggregation plans with
      // ZERO Exchange (no anti-join, no broadcast)
      val plan = finalPlan(df)
      assert(plan.contains("GraftKeyedScan") && !plan.contains("Exchange"), plan.take(2000))
    }
    check(agg(), (1L to 24L).filterNot(Set(3L, 6L, 9L)))
    // a later append re-inserts a purged key (the new dir is uncovered)
    VersionedTable.commit(Seq((3L, "g0", 99L)).toDF("id", "grp", "v"),
      root, "append", "sm-c2", partitionCols = Seq("grp"), statsCols = Seq("id"))
    assert(spark.sql("SELECT count(*) AS n FROM iocat.db.spjmor WHERE id = 3")
      .head().getLong(0) == 1L)
    // POSITIONAL vectors apply in the same scan: ids 6,9 stay key-deleted,
    // 3 was re-inserted (exactly one row), 12,15 are positionally deleted
    VersionedTable.deleteWherePos(spark, root, Seq(12L, 15L).toDF("id"),
      "id", "sm-dvdel")
    val live = (1L to 24L).filterNot(Set(6L, 9L, 12L, 15L))
    check(agg(), live)
    // the key-set column is read for the skip even when the projection
    // drops it, and stays out of the read schema
    val proj = spark.sql("SELECT grp, v FROM iocat.db.spjmor")
    assert(proj.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      (live.filter(_ != 3L).map(i => (s"g${i % 3}", i * 2)) :+ (("g0", 99L))).toSet)
    val scan = proj.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.head
    assert(scan.readSchema().fieldNames.toSet == Set("grp", "v"))
    // and a join against another keyed table stays exchange-free
    VersionedTable.commit((0 until 3).map(i => (s"g$i", i * 100L)).toDF("grp", "w"),
      catRoot("spjmorw"), "append", "sm-w1", partitionCols = Seq("grp"))
    check(spark.sql("SELECT /*+ MERGE(a) */ a.grp AS grp, count(*) AS n, sum(a.id) AS ids " +
      "FROM iocat.db.spjmor a JOIN iocat.db.spjmorw b ON a.grp = b.grp GROUP BY a.grp"),
      live)
  }

  test("composite-key MERGE: tuple upsert with intersected dir pruning") {
    import spark.implicits._
    val root = tmpDir("mkeys")
    // four dirs tiled over (day, region): pruning must intersect BOTH
    // envelopes — a batch touching (day 1-10, region g0-g1) hits only
    // the one dir covering both ranges
    Seq((1L, 10L, "g0"), (2L, 10L, "g5"), (3L, 60L, "g0"), (4L, 60L, "g5"))
      .zipWithIndex.foreach { case ((seed, dayBase, rg), i) =>
        val rows = (0L until 10L).map(j =>
          (dayBase + j % 10, s"${rg.dropRight(1)}${rg.last.asDigit + (j % 2)}",
            seed * 1000 + j))
        VersionedTable.commit(rows.toDF("day", "region", "v"), root, "append",
          s"mk-c$i", statsCols = Seq("day", "region"))
      }
    val batch = Seq((11L, "g0", 777L), (12L, "g1", 888L)).toDF("day", "region", "v")
    val (v, rewritten, total) = VersionedTable.mergeIntoKeys(spark, root, batch,
      Seq("day", "region"), "mk-m1", statsCols = Seq("day", "region"))
    assert(total == 4 && rewritten == 1,
      s"intersected gates must isolate one dir, rewrote $rewritten/$total")
    // tuple semantics: (11,g0) existed (updated), (12,g1) existed (updated)
    val got = VersionedTable.read(spark, root)
      .filter(col("day").isin(11L, 12L) && col("region").isin("g0", "g1"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.contains((11L, "g0", 777L)) && got.contains((12L, "g1", 888L)))
    assert(VersionedTable.read(spark, root).groupBy("day", "region").count()
      .filter(col("count") > 1).count() == 0, "one row per key tuple")
    // NULL key component and duplicate tuples refuse loudly
    assert(intercept[Exception](VersionedTable.mergeIntoKeys(spark, root,
      Seq((null.asInstanceOf[java.lang.Long], "g0", 1L)).toDF("day", "region", "v")
        .select(col("day").cast("bigint"), col("region"), col("v")),
      Seq("day", "region"), "mk-bad1")).getMessage.contains("NULL batch key"))
    assert(intercept[Exception](VersionedTable.mergeIntoKeys(spark, root,
      Seq((11L, "g0", 1L), (11L, "g0", 2L)).toDF("day", "region", "v"),
      Seq("day", "region"), "mk-bad2")).getMessage.contains("duplicate batch key"))
    // same tuple under DIFFERENT second component is NOT a duplicate
    VersionedTable.mergeIntoKeys(spark, root,
      Seq((11L, "g0", 1L), (11L, "g1", 2L)).toDF("day", "region", "v"),
      Seq("day", "region"), "mk-m2", statsCols = Seq("day", "region"))
    // SQL form: composite ON list routes to the multi-key upsert
    VersionedTable.read(spark, root).filter(col("day") === 60L)
      .createOrReplaceTempView("mk_src")
    val res = spark.sql(s"MERGE GRAFT '$root' ON day, region FROM " +
      "(SELECT day, region, v + 1 AS v FROM mk_src)").head()
    assert(res.getInt(1) >= 1)
    // clauses with a composite key refuse with the single-key hint
    assert(intercept[Exception](spark.sql(s"MERGE GRAFT '$root' ON day, region FROM " +
      "(SELECT * FROM mk_src) WHEN MATCHED THEN DELETE"))
      .getMessage.contains("single-key"))
  }

  test("composite-key DELETE: tuple purge with intersected dir pruning") {
    import spark.implicits._
    val root = tmpDir("dkeys")
    Seq((10L, "g0"), (10L, "g5"), (60L, "g0"), (60L, "g5")).zipWithIndex.foreach {
      case ((dayBase, rg), i) =>
        val rows = (0L until 10L).map(j =>
          (dayBase + j % 10, s"${rg.dropRight(1)}${rg.last.asDigit + (j % 2)}", j))
        VersionedTable.commit(rows.toDF("day", "region", "v"), root, "append",
          s"dk-c$i", statsCols = Seq("day", "region"))
    }
    val before = VersionedTable.read(spark, root).count()
    // purge two tuples from the (day 10-19, g0-g1) tile: intersected
    // envelopes isolate ONE of four dirs
    val (_, rewritten, total) = VersionedTable.deleteWhereKeys(spark, root,
      Seq((11L, "g1"), (13L, "g1")).toDF("day", "region"),
      Seq("day", "region"), "dk-d1", statsCols = Seq("day", "region"))
    assert(total == 4 && rewritten == 1,
      s"intersected gates must isolate one dir, rewrote $rewritten/$total")
    val after = VersionedTable.read(spark, root)
    assert(after.count() == before - 2)
    assert(after.filter(col("day") === 11L && col("region") === "g1").count() == 0)
    // the same day under ANOTHER region survives — tuple, not per-column
    assert(after.filter(col("day") === 11L && col("region") === "g6").count() == 1)
    // NULL key component refuses loudly
    assert(intercept[Exception](VersionedTable.deleteWhereKeys(spark, root,
      Seq((null.asInstanceOf[java.lang.Long], "g0")).toDF("day", "region")
        .select(col("day").cast("bigint"), col("region")),
      Seq("day", "region"), "dk-bad")).getMessage.contains("NULL delete key"))
    // replay is a no-op
    assert(VersionedTable.deleteWhereKeys(spark, root,
      Seq((99L, "zz")).toDF("day", "region"), Seq("day", "region"), "dk-d1")._2 == -1)
  }

  test("ANALYZE retrofits the skipping index without rewriting a byte") {
    import spark.implicits._
    val root = tmpDir("analyze")
    // ingested WITHOUT any index — the common "didn't know the workload
    // yet" shape
    VersionedTable.commit((1L to 100L).map(i => (i, s"s${1000 + i}", i * 7))
      .toDF("id", "s", "v"), root, "append", "an-c1")
    VersionedTable.commit((101L to 200L).map(i => (i, s"s${1000 + i}", i * 7))
      .toDF("id", "s", "v"), root, "append", "an-c2")
    assert(VersionedTable.planRange(root, "id", 150L, 160L).size == 2,
      "unindexed table cannot prune")
    val dataBytes = new java.io.File(root).listFiles().filter(_.getName.startsWith("data"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val res = spark.sql(s"ANALYZE GRAFT '$root' STATS BY (id, s) BLOOM BY (id)").head()
    assert(res.getInt(1) == 2)
    // the index now prunes range, string-envelope, NULL, and point probes
    assert(VersionedTable.planRange(root, "id", 150L, 160L).size == 1)
    assert(VersionedTable.planPoint(root, "id", 150L).size == 1)
    assert(VersionedTable.planNull(root, "s", wantNull = true).isEmpty)
    assert(VersionedTable.readRange(spark, root, "id", 150L, 160L).count() == 11L)
    // not one data byte moved
    val after = new java.io.File(root).listFiles().filter(_.getName.startsWith("data"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == dataBytes, "ANALYZE must not rewrite data files")
    // extending the index keeps existing entries (v was never indexed;
    // now add it — id/s envelopes survive)
    VersionedTable.analyze(spark, root, Seq("v"), "an-2")
    assert(VersionedTable.planRange(root, "v", 7L, 70L).size == 1)
    assert(VersionedTable.planRange(root, "id", 150L, 160L).size == 1,
      "extending the index must not clobber prior columns")
    // replay is a no-op; unknown columns refuse
    assert(VersionedTable.analyze(spark, root, Seq("v"), "an-2")._2 == -1)
    assert(intercept[Exception](VersionedTable.analyze(spark, root, Seq("nope"), "an-3"))
      .getMessage.contains("unknown column"))
  }

  test("VACUUM GRAFT without RETAIN reads the table's declared retention policy") {
    import spark.implicits._
    val root = tmpDir("vacprop")
    (1 to 3).foreach(i => VersionedTable.commit(Seq((i.toLong, s"r$i")).toDF("id", "s"),
      root, "append", s"vp-c$i"))
    // the overwrite strands versions 1-3's dirs — reclaimable history
    VersionedTable.commit(Seq((9L, "ow")).toDF("id", "s"), root, "overwrite", "vp-c4")
    // no policy declared: the RETAIN-less form refuses with the hint
    assert(intercept[Exception](spark.sql(s"VACUUM GRAFT '$root'").collect())
      .getMessage.contains("graft.vacuum.retainLast"))
    VersionedTable.setTableProperties(root,
      Map("graft.vacuum.retainLast" -> "2"), "vp-props")
    // dry run previews under the policy, touches nothing
    assert(spark.sql(s"VACUUM GRAFT '$root' DRY RUN").collect().nonEmpty)
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 1L)
    // the real sweep retains exactly the declared window (property commit
    // is version 5, so versions 4..5 survive)
    spark.sql(s"VACUUM GRAFT '$root'").collect()
    assert(VersionedTable.read(spark, root).count() == 1L)
    assert(intercept[Exception](VersionedTable.read(spark, root, Some(1L)))
      .getMessage.nonEmpty)
    // malformed policy refuses at SET time
    assert(intercept[Exception](VersionedTable.setTableProperties(root,
      Map("graft.vacuum.retainLast" -> "0"), "vp-bad"))
      .getMessage.contains("integer >= 1"))
  }

  test("column DEFAULT values: pre-default dirs backfill the default, not NULL; writes materialize it") {
    import spark.implicits._
    val root = catRoot("defv")
    VersionedTable.commit((1L to 6L).map(i => (i, s"r$i")).toDF("id", "s"),
      root, "append", "dv-c1", statsCols = Seq("id"))
    spark.sql("ALTER TABLE iocat.db.defv ADD COLUMN tier string DEFAULT 'bronze'")
    // metadata-only: the era-1 dir physically lacks the column, yet reads
    // the DEFAULT — not NULL — under the widened schema
    assert(VersionedTable.read(spark, root).filter(col("tier") === "bronze").count() == 6L)
    // a batch CARRYING the column keeps its values, including an explicit
    // NULL (DEFAULT, not ALWAYS — and per-dir backfill means the stored
    // NULL is never confused with a missing slot)
    VersionedTable.commit(Seq((7L, "r7", "gold"), (8L, "r8", null))
      .toDF("id", "s", "tier"), root, "append", "dv-c2", statsCols = Seq("id"))
    // a batch LACKING it materializes the default at write
    VersionedTable.commit(Seq((9L, "r9")).toDF("id", "s"),
      root, "append", "dv-c3", statsCols = Seq("id"))
    val got = VersionedTable.read(spark, root).select("id", "tier")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got == (1L to 6L).map(_ -> "bronze").toMap
      ++ Map(7L -> "gold", 8L -> null, 9L -> "bronze"))
    // time travel to the pre-default era reads the narrow schema
    assert(!VersionedTable.read(spark, root, Some(1L)).columns.contains("tier"))
    // a rewrite crossing both eras materializes the backfill physically
    VersionedTable.deleteWhere(spark, root, Seq(2L).toDF("id"), "id", "dv-del",
      statsCols = Seq("id"))
    assert(VersionedTable.read(spark, root).filter(col("tier") === "bronze").count() == 6L)
    // guards: non-foldable and column-referencing defaults refuse at
    // declaration; dropped names cannot resurrect; rename refuses
    assert(intercept[Exception](VersionedTable.addColumnWithDefault(spark, root,
      "bad1", "double", "rand()", "dv-b1")).getMessage.contains("deterministic"))
    assert(intercept[Exception](VersionedTable.addColumnWithDefault(spark, root,
      "bad2", "bigint", "id + 1", "dv-b2")).getMessage.contains("reference columns"))
    assert(intercept[Exception](VersionedTable.renameColumn(root, "tier", "t2", "dv-rn"))
      .getMessage.contains("DEFAULT"))
    VersionedTable.dropColumn(root, "tier", "dv-drop")
    assert(intercept[Exception](VersionedTable.addColumnWithDefault(spark, root,
      "tier", "string", "'silver'", "dv-res")).getMessage.contains("DROPPED"))
    // the manifest declares the reader feature while the default lives
    val mf = new java.io.File(s"$root/_commits").listFiles()
      .filter(_.getName.startsWith("v")).sortBy(_.getName).reverse
    assert(!java.nio.file.Files.readString(mf.head.toPath).contains("column-defaults"))
    assert(java.nio.file.Files.readString(mf(1).toPath).contains("column-defaults"))
  }

  test("DEFAULT hardening: frozen at declaration; rides catalog scans; survives overwrite; auto-compact never fails an append") {
    import spark.implicits._
    val root = catRoot("defh")
    VersionedTable.commit((1L to 8L).map(i => (i, s"g${i % 2}", i * 2))
      .toDF("id", "grp", "v"), root, "append", "dh-c1",
      partitionCols = Seq("grp"), statsCols = Seq("id"))
    // (1) a time-dependent default FREEZES to the literal evaluated at
    // declaration (Delta stores the evaluated existingDefault): the stored
    // SQL is a DATE literal, so pre-default rows' backfill never drifts
    // with the reading session's clock
    VersionedTable.addColumnWithDefault(spark, root, "d", "date",
      "current_date()", "dh-d1")
    val stored = VersionedTable.latestCommit(root).get.defaults("d")
    assert(stored.startsWith("DATE '"), stored)
    assert(!stored.toLowerCase.contains("current_date"), stored)
    // (2) a catalog scan backfills the default for pre-default dirs
    // exactly like the normal read path (a defaulted snapshot takes the V1
    // fallback) — a join over a defaulted table must not see NULLs
    val viaCatalog = spark.sql("SELECT id, d FROM iocat.db.defh")
      .collect().map(r => r.getLong(0) -> r.getDate(1)).toMap
    val viaRead = VersionedTable.read(spark, root).select("id", "d")
      .collect().map(r => r.getLong(0) -> r.getDate(1)).toMap
    assert(viaCatalog == viaRead)
    assert(viaRead.values.forall(_ != null))
    // (3) the declaration SURVIVES an overwrite whose schema keeps the
    // column (Delta: currentDefault survives INSERT OVERWRITE, like
    // constraints and props) — a later narrow append still materializes it
    VersionedTable.commit(
      Seq((50L, "g0", 1L, java.sql.Date.valueOf("2020-01-01")))
        .toDF("id", "grp", "v", "d"),
      root, "overwrite", "dh-ow", partitionCols = Seq("grp"), statsCols = Seq("id"))
    assert(VersionedTable.latestCommit(root).get.defaults.contains("d"))
    VersionedTable.commit(Seq((51L, "g1", 2L)).toDF("id", "grp", "v"),
      root, "append", "dh-ap", partitionCols = Seq("grp"), statsCols = Seq("id"))
    val after = VersionedTable.read(spark, root).select("id", "d")
      .collect().map(r => r.getLong(0) -> r.getDate(1)).toMap
    assert(after(50L) == java.sql.Date.valueOf("2020-01-01"))
    assert(after(51L) == viaRead(1L), "append after overwrite must backfill the frozen default")
    // ...but a declaration whose column VANISHED retires with the overwrite
    VersionedTable.commit(Seq((60L, "g0", 3L)).toDF("id", "grp", "v"),
      root, "overwrite", "dh-ow2", partitionCols = Seq("grp"))
    assert(VersionedTable.latestCommit(root).get.defaults.isEmpty)
    // (4) a FAILING best-effort auto-compaction (stale zorder column) is
    // swallowed: the user's append already published, so it must not
    // surface as a commit failure
    val r2 = tmpDir("defh_ac")
    VersionedTable.commit((1L to 4L).map(i => (i, i * 2)).toDF("id", "v"),
      r2, "append", "dh-ac0", statsCols = Seq("id"))
    VersionedTable.setTableProperties(r2, Map(
      "graft.autoCompact.minDirs" -> "2",
      "graft.autoCompact.zorder" -> "no_such_col,also_missing"), "dh-acp")
    VersionedTable.commit(Seq((10L, 1L)).toDF("id", "v"), r2, "append", "dh-ac1",
      statsCols = Seq("id"))
    assert(VersionedTable.read(spark, r2).count() == 5L)
  }

  test("catalog partitions table + RESTORE TO TAG as SQL") {
    import spark.implicits._
    val root = catRoot("showp")
    VersionedTable.commit(
      ((1L to 12L).map(i => (i, s"g${i % 3}")) :+ ((13L, null: String)))
        .toDF("id", "grp"),
      root, "append", "sp-c1", partitionCols = Seq("grp"))
    // typed partition values; the NULL sentinel surfaces as SQL NULL
    val parts = spark.sql("SELECT * FROM iocat.db.showp.partitions")
      .collect().map(r => (Option(r.getString(0)), r.getInt(1) > 0)).toMap
    assert(parts.keySet == Set(Some("g0"), Some("g1"), Some("g2"), None))
    assert(parts.values.forall(identity))
    // unpartitioned and mixed-era snapshots refuse
    val flat = tmpDir("showp_flat")
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "s"), flat, "append", "sp-f1")
    assert(intercept[Exception](VersionedTable.showPartitions(spark, flat))
      .getMessage.contains("not partitioned"))
    VersionedTable.setPartitionLayout(root, Seq("id"), "sp-evolve")
    assert(intercept[Exception](VersionedTable.showPartitions(spark, root))
      .getMessage.contains("mixed partition-layout"))
    VersionedTable.setPartitionLayout(root, Seq("grp"), "sp-back")
    // tag v1, advance, restore by NAME — no version numbers at the console
    VersionedTable.createTag(root, "release-1", 1L)
    VersionedTable.commit(Seq((99L, "g9")).toDF("id", "grp"), root, "append", "sp-c2",
      partitionCols = Seq("grp"))
    assert(VersionedTable.read(spark, root).count() == 14L)
    spark.sql(s"RESTORE GRAFT '$root' TO TAG release-1").collect()
    assert(VersionedTable.read(spark, root).count() == 13L)
  }

  test("catalog reads pin the latest snapshot at analysis; auto-compact z-order property clusters") {
    import spark.implicits._
    val root = catRoot("spjpin")
    VersionedTable.commit((1L to 20L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"),
      root, "append", "pin-c1", partitionCols = Seq("grp"))
    val rows = spark.sql("SELECT id, grp FROM iocat.db.spjpin")
    val n = spark.sql("SELECT count(*) AS n FROM iocat.db.spjpin")
    // the version current at analysis survives a concurrent commit — the
    // execution cannot silently read a table state its schema did not
    // come from
    VersionedTable.commit((21L to 30L).map(i => (i, s"g${i % 3}")).toDF("id", "grp"),
      root, "append", "pin-c2", partitionCols = Seq("grp"))
    assert(rows.collect().map(_.getLong(0)).toSet == (1L to 20L).toSet)
    assert(n.head().getLong(0) == 20L)
    assert(spark.sql("SELECT count(*) AS n FROM iocat.db.spjpin").head().getLong(0) == 30L)

    // declared clustering rides the TRIGGERED compactions: after the
    // auto-compact fires, per-file envelopes prune range probes on BOTH
    // z-ordered dimensions
    val rz = tmpDir("autoz")
    def band(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 256L).map(i => (i % 16, (i / 16) % 16, i)).toDF("x", "y", "id")
    VersionedTable.commit(band(0), rz, "append", "az-c0", statsCols = Seq("x", "y"))
    VersionedTable.setTableProperties(rz, Map(
      "graft.autoCompact.minDirs" -> "3", "graft.autoCompact.target" -> "4",
      "graft.autoCompact.zorder" -> "x,y", "graft.autoCompact.curve" -> "hilbert"),
      "az-props")
    VersionedTable.commit(band(256), rz, "append", "az-c1", statsCols = Seq("x", "y"))
    VersionedTable.commit(band(512), rz, "append", "az-c2", statsCols = Seq("x", "y"))
    assert(VersionedTable.latestCommit(rz).get.mode == "compact")
    val (sx, tx) = VersionedTable.planRangeFiles(rz, "x", 0L, 3L)
    val (sy, ty) = VersionedTable.planRangeFiles(rz, "y", 0L, 3L)
    assert(tx == 4 && ty == 4, s"expected 4 clustered files, got $tx/$ty")
    assert(sx < tx && sy < ty,
      s"hilbert clustering must prune BOTH dimensions (x: $sx/$tx, y: $sy/$ty)")
    // a malformed clustering declaration refuses at SET time
    assert(intercept[Exception](VersionedTable.setTableProperties(rz,
      Map("graft.autoCompact.curve" -> "zigzag"), "az-bad"))
      .getMessage.contains("morton"))
  }

  test("keyed scan column pruning: a projected query narrows the read schema") {
    import spark.implicits._
    val root = catRoot("spjprune")
    VersionedTable.commit((1L to 20L).map(i => (i, s"g${i % 4}", i * 2, s"pad$i" * 8))
      .toDF("id", "grp", "v", "w"), root, "append", "pr-c1", partitionCols = Seq("grp"))
    def readSchema(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head.readSchema().fieldNames.toSet
    val df = spark.sql("SELECT grp, v FROM iocat.db.spjprune")
    assert(df.queryExecution.executedPlan.toString.contains("GraftKeyedScan"))
    assert(readSchema(df) == Set("grp", "v"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == (1L to 20L).map(i => (s"g${i % 4}", i * 2)).toSet)
    // a projection without the key reads the one data column
    val noKey = spark.sql("SELECT v FROM iocat.db.spjprune")
    assert(readSchema(noKey) == Set("v"))
    assert(noKey.collect().map(_.getLong(0)).toSet == (1L to 20L).map(_ * 2).toSet)
    // pruning composes with the zero-exchange join
    val j = spark.sql("SELECT /*+ MERGE(a) */ a.grp, a.v, b.v AS v2 " +
      "FROM iocat.db.spjprune a JOIN iocat.db.spjprune b ON a.grp = b.grp")
    assert(!finalPlan(j).contains("Exchange"), finalPlan(j).take(2000))
    assert(j.count() == (0 until 4).map(g => (1L to 20L).count(_ % 4 == g))
      .map(n => n.toLong * n).sum)
  }

  test("catalog CTAS + INSERT INTO — SQL lifecycle bootstrap") {
    import spark.implicits._
    val root = catRoot("ctas1")
    (1L to 20L).map(i => (i, s"g${i % 2}", i * 3)).toDF("id", "grp", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE iocat.db.ctas1 PARTITIONED BY (grp) TBLPROPERTIES (" +
      "'graft.stats.columns' = 'id', 'graft.bloom.columns' = 'id') " +
      "AS SELECT * FROM ctas_src WHERE id <= 10")
    val c1 = VersionedTable.latestCommit(root).get
    assert(c1.partitionCols == Seq("grp") && c1.stats.nonEmpty && c1.blooms.nonEmpty)
    // CREATE refuses an existing table
    assert(intercept[Exception](
      spark.sql("CREATE TABLE iocat.db.ctas1 AS SELECT * FROM ctas_src"))
      .getMessage.contains("already exists"))
    // INSERT inherits the layout AND the index from the snapshot
    spark.sql("INSERT INTO iocat.db.ctas1 SELECT * FROM ctas_src WHERE id > 10")
    val c2 = VersionedTable.latestCommit(root).get
    assert(c2.partitionCols == Seq("grp"))
    assert(c2.stats.size == 2, "insert must inherit the stats index")
    assert(VersionedTable.read(spark, root).count() == 20L)
    assert(VersionedTable.planRange(root, "id", 15L, 20L).size == 1)
    // INSERT into a missing table refuses
    assert(intercept[Exception](
      spark.sql("INSERT INTO iocat.db.ctas_none SELECT 1 AS x"))
      .getMessage.contains("ctas_none"))
    // INSERT OVERWRITE replaces the row set wholesale, keeping the layout
    spark.sql("INSERT OVERWRITE iocat.db.ctas1 SELECT * FROM ctas_src WHERE id <= 5")
    assert(VersionedTable.read(spark, root).count() == 5L)
    assert(VersionedTable.latestCommit(root).get.partitionCols == Seq("grp"))
    // history preserved: the pre-overwrite snapshot still reads
    assert(VersionedTable.read(spark, root, Some(2L)).count() == 20L)
  }

  test("GraftSqlParser: ALTER GRAFT SET PARTITIONED BY as SQL, both directions") {
    import spark.implicits._
    val root = tmpDir("pevo5")
    VersionedTable.commit((1L to 12L).map(i => (i, s"g${i % 2}")).toDF("id", "grp"),
      root, "append", "p5-c1", statsCols = Seq("id"))
    spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY (grp)").collect()
    assert(VersionedTable.latestCommit(root).get.partitionCols == Seq("grp"))
    spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY ()").collect()
    assert(VersionedTable.latestCommit(root).get.partitionCols.isEmpty)
    assert(VersionedTable.read(spark, root).count() == 12L)
  }

  test("catalog CTAS with a transform layout — one commit, hidden keys, auto-index") {
    import spark.implicits._
    val root = catRoot("ctashid")
    (0 until 20).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-0${1 + i % 3}%d-07 03:00:00")))
      .toDF("id", "ts").createOrReplaceTempView("ctashid_src")
    spark.sql("CREATE TABLE iocat.db.ctashid PARTITIONED BY (months(ts), bucket(2, id)) " +
      "AS SELECT * FROM ctashid_src")
    val c = VersionedTable.latestCommit(root).get
    assert(c.version == 1L && c.dirs.nonEmpty, "declaration + data must be ONE commit")
    assert(c.partitionCols == Seq("ts_month", "id_bucket"), c.partitionCols)
    assert(c.generated.keySet == Set("ts_month", "id_bucket"), c.generated)
    assert(c.props.get("graft.stats.columns").exists(s =>
      s.contains("ts") && s.contains("id")), c.props)
    val byMonth = VersionedTable.read(spark, root).groupBy("ts_month").count()
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(byMonth == Map("2024-01-01" -> 7L, "2024-02-01" -> 7L, "2024-03-01" -> 6L),
      byMonth)
    // the index follows: a SQL append inherits layout + stats
    spark.sql("INSERT INTO iocat.db.ctashid (id, ts) SELECT CAST(100 AS BIGINT) AS id, " +
      "TIMESTAMP '2024-04-07 03:00:00' AS ts")
    assert(VersionedTable.read(spark, root).count() == 21L)
    assert(VersionedTable.latestCommit(root).get.stats.size == 2,
      "append must inherit the auto-declared stats index")
  }

  test("VersionedTable: TIMESTAMP partition keys survive a DST fall-back hour (offset-suffixed paths)") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val root = tmpDir("dstts")
      // 05:30Z and 06:30Z both render as LOCAL "2024-11-03 01:30:00" in
      // New York (EDT -04:00 vs EST -05:00 across the fall-back) — the
      // exact collision Spark's plain session-zone path rendering cannot
      // distinguish; the offset-suffixed spelling keeps them apart
      val df = spark.sql(
        "SELECT * FROM VALUES (CAST(1 AS BIGINT), TIMESTAMP '2024-11-03 05:30:00+00:00'), " +
          "(CAST(2 AS BIGINT), TIMESTAMP '2024-11-03 06:30:00+00:00') AS t(id, ts)")
      VersionedTable.commit(df, root, "append", "dst-c1", partitionCols = Seq("ts"))
      // TWO distinct hive dirs (value authority is the path)
      val attemptDir = new java.io.File(s"$root/data").listFiles()
        .filter(_.isDirectory).head
      val subdirs = attemptDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
      assert(subdirs.length == 2, subdirs.mkString(", "))
      assert(subdirs.forall(s => s.contains("-04") || s.contains("-05")),
        s"paths must carry offsets: ${subdirs.mkString(", ")}")
      // read-back resurrects BOTH instants exactly from the paths
      val back = VersionedTable.read(spark, root).collect()
        .map(r => (r.getLong(0),
          r.getTimestamp(1).toInstant.toString)).toMap
      assert(back == Map(1L -> "2024-11-03T05:30:00Z", 2L -> "2024-11-03T06:30:00Z"),
        back.toString)
      // the residual-free claim still enforces exactly on the parsed values
      val one = VersionedTable.read(spark, root)
        .where("ts = TIMESTAMP '2024-11-03 06:30:00+00:00'")
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(one == Seq(2L), one.toString)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("GraftSqlParser: partition evolution to a TRANSFORM layout — flat → daily → hourly, zero rewrite") {
    import spark.implicits._
    val root = catRoot("pevo6")
    // 48 rows over two days, one per hour, written FLAT
    val df = (0 until 48).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-03-${1 + i / 24}%02d ${i % 24}%02d:30:00"))).toDF("id", "ts")
    VersionedTable.commit(df, root, "append", "p6-c1")
    val vFlat = VersionedTable.latestCommit(root).get.version
    // evolve to the HIDDEN daily layout: one metadata commit, the
    // synthesized ts_day declared + generated + auto-indexed
    spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY (days(ts))").collect()
    val cDay = VersionedTable.latestCommit(root).get
    assert(cDay.version == vFlat + 1 && cDay.mode == "set-layout")
    assert(cDay.partitionCols == Seq("ts_day") && cDay.generated.contains("ts_day"))
    assert(cDay.props.get("graft.stats.columns").exists(_.contains("ts")))
    // pre-evolution dirs never stored ts_day — reads COMPUTE it
    val byDay = VersionedTable.read(spark, root).groupBy("ts_day").count()
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(byDay == Map("2024-03-01" -> 24L, "2024-03-02" -> 24L), byDay)
    // a SQL append inherits the evolved layout and materializes the key
    spark.sql("INSERT INTO iocat.db.pevo6 (id, ts) SELECT CAST(100 AS BIGINT) AS id, " +
      "TIMESTAMP '2024-03-03 07:30:00' AS ts")
    assert(VersionedTable.read(spark, root).where("ts_day = DATE '2024-03-03'")
      .count() == 1L)
    // daily → hourly (the Iceberg headline): ts_day REMAINS a generated
    // data column; ts_hour becomes the key; old dirs keep their eras
    spark.sql(s"ALTER GRAFT '$root' SET PARTITIONED BY (hours(ts))").collect()
    val cHour = VersionedTable.latestCommit(root).get
    assert(cHour.partitionCols == Seq("ts_hour") &&
      cHour.generated.contains("ts_hour") && cHour.generated.contains("ts_day"))
    assert(cHour.dirLayouts.nonEmpty, "old dirs must keep their era")
    spark.sql("INSERT INTO iocat.db.pevo6 (id, ts) SELECT CAST(101 AS BIGINT) AS id, " +
      "TIMESTAMP '2024-03-03 07:45:00' AS ts")
    val hr = VersionedTable.read(spark, root)
      .where("ts_hour = TIMESTAMP '2024-03-03 07:00:00'")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hr == Set(100L, 101L), hr)
    assert(VersionedTable.read(spark, root).count() == 50L)
    // time travel: the flat era keeps its shape (no synthesized columns)
    assert(VersionedTable.read(spark, root, asOf = Some(vFlat))
      .columns.toSeq == Seq("id", "ts"))
    // a mid-statement typo refuses without publishing
    val vNow = VersionedTable.latestCommit(root).get.version
    assert(intercept[Exception](spark.sql(
      s"ALTER GRAFT '$root' SET PARTITIONED BY (days(nope))").collect())
      .getMessage.contains("undeclared column"))
    assert(VersionedTable.latestCommit(root).get.version == vNow)
  }

  test("WRITE ORDERED BY: batches range-sort, per-file envelopes disjoint, point reads prune to O(1) files") {
    val root = tmpDir("wrord")
    VersionedTable.commit(
      spark.sql("SELECT CAST(500 AS BIGINT) AS id, 'seed' AS s"),
      root, "append", "w1", statsCols = Seq("id"))
    // a typo'd column refuses at DDL (schema exists), publishing nothing
    assert(intercept[Exception](spark.sql(
      s"ALTER GRAFT '$root' WRITE ORDERED BY (nope)").collect())
      .getMessage.contains("unknown column"))
    spark.sql(s"ALTER GRAFT '$root' WRITE ORDERED BY (id)").collect()
    assert(VersionedTable.tableProperties(root)
      .get("graft.write.orderedBy").contains("id"))
    // a JUMBLED batch: descending ids scattered across 8 input partitions —
    // without the order policy every task's file would span ~the full range.
    // AQE would rightly coalesce this tiny shuffle to ONE file (file count
    // adapts to volume — the at-scale behavior); pin it off so the test
    // sees the multi-file shape a real batch produces.
    val jumbled = spark.range(0, 1000)
      .select((lit(999L) - col("id")).as("id"),
        concat(lit("v"), col("id")).as("s"))
      .repartition(8)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try VersionedTable.commit(jumbled, root, "append", "w2", statsCols = Seq("id"))
    finally spark.conf.set(coalesceKey, prevCoalesce)
    val c = VersionedTable.history(root).last
    val newDir = c.dirs.filterNot(VersionedTable.history(root).head.dirs.contains)
    assert(newDir.size == 1)
    // per-file envelopes of the ordered dir are pairwise DISJOINT
    val envRe = """id:\[(-?\d+),(-?\d+)\]""".r
    val envs = VersionedTable.describeFiles(spark, root)
      .filter(col("dir") === newDir.head).collect()
      .map(r => envRe.findFirstMatchIn(r.getString(4)).getOrElse(
        fail(s"file ${r.getString(1)} has no id envelope: ${r.getString(4)}")))
      .map(m => (m.group(1).toLong, m.group(2).toLong)).sortBy(_._1)
    // the range exchange spreads the batch over shuffle-partition files
    // (4 in the test session)
    assert(envs.length >= 3, s"range exchange should spread files, got ${envs.length}")
    envs.sliding(2).foreach { case Array((_, aHi), (bLo, _)) =>
      assert(aHi < bLo, s"envelopes overlap: ${envs.mkString(", ")}")
    case _ => () }
    // a point read prunes to O(1) files
    val (scanned, total) = VersionedTable.planRangeFiles(root, "id", 250L, 250L)
    assert(total >= envs.length + 1, s"fixture needs many files, got $total")
    assert(scanned <= 1, s"ordered files must prune a point read: $scanned of $total")
    // nothing lost, nothing duplicated
    assert(VersionedTable.read(spark, root).count() == 1001L)
    assert(VersionedTable.readRange(spark, root, "id", 250L, 250L)
      .collect().map(_.getLong(0)).toSeq == Seq(250L))
    // DESC direction (Iceberg's `c DESC` spelling): envelopes stay
    // disjoint, the layout just runs the other way — and the per-file
    // index prunes identically (envelopes are direction-agnostic)
    spark.sql(s"ALTER GRAFT '$root' WRITE ORDERED BY (id DESC)").collect()
    assert(VersionedTable.tableProperties(root)
      .get("graft.write.orderedBy").contains("id DESC"))
    spark.conf.set(coalesceKey, "false")
    try VersionedTable.commit(
      spark.range(2000, 3000).selectExpr("id", "'d' AS s").repartition(8),
      root, "append", "w3", statsCols = Seq("id"))
    finally spark.conf.set(coalesceKey, prevCoalesce)
    val c3 = VersionedTable.history(root).last
    val descDir = c3.dirs.filterNot(c.dirs.contains)
    assert(descDir.size == 1)
    val dEnvs = VersionedTable.describeFiles(spark, root)
      .filter(col("dir") === descDir.head).collect()
      .flatMap(r => envRe.findFirstMatchIn(r.getString(4))
        .map(m => (m.group(1).toLong, m.group(2).toLong))).sortBy(_._1)
    assert(dEnvs.length >= 3, dEnvs.length.toString)
    dEnvs.sliding(2).foreach { case Array((_, aHi), (bLo, _)) =>
      assert(aHi < bLo, s"DESC envelopes overlap: ${dEnvs.mkString(", ")}")
    case _ => () }
    assert(VersionedTable.planRangeFiles(root, "id", 2500L, 2500L)._1 == 1)
    // a malformed direction refuses at DDL
    assert(intercept[Exception](spark.sql(
      s"ALTER GRAFT '$root' WRITE ORDERED BY (id sideways)").collect())
      .getMessage.contains("malformed entry"))
    // WRITE UNORDERED retires the policy; appends keep working
    spark.sql(s"ALTER GRAFT '$root' WRITE UNORDERED").collect()
    assert(!VersionedTable.tableProperties(root).contains("graft.write.orderedBy"))
    VersionedTable.commit(
      spark.sql("SELECT CAST(2000 AS BIGINT) AS id, 'post' AS s"),
      root, "append", "w4")
    assert(VersionedTable.read(spark, root).count() == 2002L)
  }

  test("VACUUM OLDER THAN TIMESTAMP: time-based expiry with a RETAIN floor, tags immortal, manifests in lockstep") {
    val root = tmpDir("vacts")
    def one(id: Long, mode: String, cid: String): Unit =
      VersionedTable.commit(
        spark.sql(s"SELECT CAST($id AS BIGINT) AS id"), root, mode, cid)
    one(1L, "append", "v1")
    one(2L, "overwrite", "v2")
    VersionedTable.createTag(root, "keep2", 2L)
    one(3L, "overwrite", "v3")
    // a cutoff in the PAST retains everything — dry-run reports nothing
    assert(spark.sql(s"VACUUM GRAFT '$root' OLDER THAN TIMESTAMP " +
      "'1970-01-02 00:00:00' DRY RUN").collect().isEmpty)
    assert(VersionedTable.history(root).map(_.version) == Seq(1L, 2L, 3L))
    // a future cutoff expires everything the floor + tags don't hold:
    // v3 (RETAIN 1) and v2 (tagged) survive; v1's manifest AND dir go
    spark.sql(s"VACUUM GRAFT '$root' OLDER THAN TIMESTAMP " +
      "'2099-01-01 00:00:00'").collect()
    assert(VersionedTable.history(root).map(_.version) == Seq(2L, 3L))
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    // the tagged snapshot stays fully readable (manifest + storage)
    assert(VersionedTable.read(spark, root, asOf = Some(2L))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // v1 is gone for real
    assert(intercept[Exception](
      VersionedTable.read(spark, root, asOf = Some(1L)).collect())
      .getMessage.contains("not in log"))
    // POLICY form: graft.vacuum.olderThanDays makes the bare VACUUM a
    // complete time policy (count floor defaults to 1). A century-wide
    // window retains everything...
    spark.sql(s"ALTER GRAFT '$root' SET TBLPROPERTIES " +
      "('graft.vacuum.olderThanDays' = '36500')").collect()
    assert(spark.sql(s"VACUUM GRAFT '$root' DRY RUN").collect().isEmpty)
    // ...a near-zero window expires all that the floor + tags don't hold:
    // two more overwrites advance the log, then everything but the
    // tagged v2 and the latest version ages out
    one(4L, "overwrite", "ve-4")
    one(5L, "overwrite", "ve-5")
    spark.sql(s"ALTER GRAFT '$root' SET TBLPROPERTIES " +
      "('graft.vacuum.olderThanDays' = '0.0000001')").collect()
    Thread.sleep(50) // let every commit age past the ~9 ms window
    spark.sql(s"VACUUM GRAFT '$root'").collect()
    val vs = VersionedTable.history(root).map(_.version)
    val latest = VersionedTable.latestVersion(root).get
    assert(vs == Seq(2L, latest), vs.toString)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq
      == Seq(5L))
  }

  test("compact honors graft.write.orderedBy: sort compaction restores per-file disjointness across commits") {
    val root = tmpDir("sortcomp")
    VersionedTable.commit(spark.range(0, 100).selectExpr("id", "'a' AS s"),
      root, "append", "s1", statsCols = Seq("id"))
    spark.sql(s"ALTER GRAFT '$root' WRITE ORDERED BY (id)").collect()
    // a second commit OVERLAPPING the first: per-commit files are each
    // sorted, but envelopes straddle commits — only compaction can
    // restore global disjointness
    VersionedTable.commit(spark.range(50, 150).selectExpr("id", "'b' AS s"),
      root, "append", "s2", statsCols = Seq("id"))
    VersionedTable.compact(spark, root, "sc1", targetFiles = 3,
      statsCols = Seq("id"))
    val c = VersionedTable.latestCommit(root).get
    assert(c.mode == "compact" && c.dirs.size == 1)
    val envRe = """id:\[(-?\d+),(-?\d+)\]""".r
    val envs = VersionedTable.describeFiles(spark, root).collect()
      .flatMap(r => envRe.findFirstMatchIn(r.getString(4))
        .map(m => (m.group(1).toLong, m.group(2).toLong))).sortBy(_._1)
    assert(envs.length == 3, s"targetFiles=3 → 3 files, got ${envs.length}")
    envs.sliding(2).foreach { case Array((_, aHi), (bLo, _)) =>
      assert(aHi < bLo, s"compacted envelopes overlap: ${envs.mkString(", ")}")
    case _ => () }
    // a point read now opens exactly one file; rows exact (50..99 doubled)
    assert(VersionedTable.planRangeFiles(root, "id", 75L, 75L)._1 == 1)
    assert(VersionedTable.read(spark, root).count() == 200L)
    assert(VersionedTable.readRange(spark, root, "id", 75L, 75L).count() == 2L)
  }

  test("cherryPick: append-only branch publishes onto an ADVANCED main; divergence and identity refuse") {
    val root = tmpDir("cherry")
    def df(ids: Long*) = {
      import spark.implicits._
      ids.map(i => (i, s"r$i")).toDF("id", "s")
    }
    VersionedTable.commit(df(1L, 2L), root, "append", "c1")
    VersionedTable.createBranch(root, "wap", "b1")
    // the branch appends (audit writes land here)
    VersionedTable.commit(df(10L, 11L), VersionedTable.branchRoot(root, "wap"),
      "append", "bw1", statsCols = Seq("id"))
    // MAIN advances past the fork — the exact case fastForward refuses
    VersionedTable.commit(df(100L), root, "append", "c2")
    assert(intercept[Exception](
      VersionedTable.fastForward(root, "wap", "ff1"))
      .getMessage.contains("not a fast-forward"))
    // cherry-pick publishes the branch's delta as one commit
    val v = spark.sql(s"ALTER GRAFT '$root' CHERRY PICK BRANCH wap").collect()
      .head.getLong(1)
    val c = VersionedTable.latestCommit(root).get
    assert(c.version == v && c.mode == "cherrypick")
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 10L, 11L, 100L))
    // the branch retired; its stats index rode along with the new dir
    assert(!VersionedTable.listBranches(root).contains("wap"))
    assert(c.stats.values.exists(_.contains("id")),
      "branch append's stats must carry into the published manifest")
    // main history is intact — the pre-pick snapshot still reads
    assert(VersionedTable.read(spark, root, asOf = Some(v - 1))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 100L))
    // the publish is append-SHAPED: CDC across it yields exactly the
    // branch's rows as inserts (downstream incremental readers see a
    // cherry-pick as the append it semantically is)
    assert(VersionedTable.changesBetween(spark, root, v - 1, v)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    // main-side MOR deletes that landed AFTER the fork survive the
    // publish untouched: the pick copies the CURRENT parent's coverage
    // and only appends dirs, so main's row set composes exactly
    VersionedTable.createBranch(root, "wap2", "b2a")
    VersionedTable.commit(df(20L), VersionedTable.branchRoot(root, "wap2"),
      "append", "bw2a")
    VersionedTable.deleteWhereMor(spark, root, {
      import spark.implicits._; Seq(100L).toDF("id")
    }, "id", "md1")
    val v2 = VersionedTable.cherryPick(root, "wap2", "cp2a")
    assert(VersionedTable.latestCommit(root).get.version == v2)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 10L, 11L, 20L), "main's post-fork MOR delete of 100 " +
        "must hold and the branch row must land")
    // a DIVERGED branch (overwrite dropped the pre-fork dirs) refuses
    VersionedTable.createBranch(root, "div", "b2")
    VersionedTable.commit(df(500L), VersionedTable.branchRoot(root, "div"),
      "overwrite", "bw2")
    assert(intercept[Exception](
      VersionedTable.cherryPick(root, "div", "cp2"))
      .getMessage.contains("not append-only"))
    // a branch that added DELETION VECTORS refuses too
    VersionedTable.createBranch(root, "del", "b3")
    VersionedTable.deleteWhereMor(spark, VersionedTable.branchRoot(root, "del"), {
      import spark.implicits._; Seq(1L).toDF("id")
    }, "id", "bd1")
    assert(intercept[Exception](
      VersionedTable.cherryPick(root, "del", "cp3"))
      .getMessage.contains("deletion vectors"))
  }

  test("describeFiles: per-file inventory — bytes, rows, envelopes; sums match the table") {
    val root = catRoot("dfiles")
    VersionedTable.commit(
      spark.range(0, 100).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
        .repartition(4),
      root, "append", "f1", statsCols = Seq("id"))
    VersionedTable.commit(
      spark.range(100, 150).selectExpr("id", "'x' AS s"),
      root, "append", "f2")
    val files = VersionedTable.describeFiles(spark, root).collect()
    assert(files.length >= 5, s"4+1 input partitions → 5+ files, got ${files.length}")
    assert(files.forall(_.getLong(2) > 0L), "every file has bytes")
    // the indexed commit's files carry row counts + id envelopes; the
    // stats-less commit's read NULL/empty — unknown, never zero
    val (withStats, without) = files.partition(_.getString(4).startsWith("id:["))
    assert(withStats.length >= 4 && without.nonEmpty)
    assert(withStats.map(_.getLong(3)).sum == 100L,
      "side-file row counts sum to the indexed commit's rows")
    assert(without.forall(r => r.isNullAt(3) && r.getString(4).isEmpty))
    assert(files.map(_.getString(0)).distinct.length == 2)
    // the catalog's files metadata table returns the same census
    assert(spark.sql("SELECT * FROM iocat.db.dfiles.files").count() == files.length.toLong)
    // CREATE-time property validation: a typo'd write-order column
    // refuses before v1 publishes
    assert(intercept[Exception](VersionedTable.createTable(tmpDir("ordbad"),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"), Nil,
      Map("graft.write.orderedBy" -> "nope"), "cb1"))
      .getMessage.contains("unknown column"))
  }
}

object IoSpec {
  /** Released by the first job start the overwrite-mode listener sees. */
  val jobStarted = new java.util.concurrent.CountDownLatch(1)
}
