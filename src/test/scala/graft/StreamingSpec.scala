package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streaming
import graft.streaming.Streaming.Tick

class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)
  private def dec(s: String) = new java.math.BigDecimal(s)

  test("parseTickStream + windowedMinMax: per-symbol envelope per window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, Timestamp)]
    val raw = mem.toDF().toDF("payload", "ingest_ts")
    val agg = Streaming.windowedMinMax(Streaming.parseTickStream(raw), "1 minute", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("wmm").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        ("""[{"symbol":"BTCUSDT","price":10.00},{"symbol":"BTCUSDT","price":12.00}]""", ts(60)),
        ("""[{"symbol":"ETHUSDT","price":5.00},{"symbol":"XXX","price":1.00}]""", ts(61)))
      q.processAllAvailable()
      val rows = spark.table("wmm").select("symbol", "min_price", "max_price").collect()
        .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2))).toSet
      assert(rows == Set(
        ("BTCUSDT", dec("10.00"), dec("12.00")),
        ("ETHUSDT", dec("5.00"), dec("5.00")))) // XXX filtered by symbol list
    } finally q.stop()
  }

  test("curateDocs: stream-static anti-join is stateless and batch-equivalent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "lang", "text")
    val good = "the " + ("tok " * 40) // passes length + stopword thresholds
    val benchFps = Seq(good + "LEAK").toDF("t").select(md5(col("t")).as("fp"))
    val q = Streaming.curateDocs(docs, benchFps, Map("en" -> 100), defaultPct = 100)
      .select("doc_id", "lang")
      .writeStream.format("memory").queryName("cur").outputMode("append").start()
    try {
      mem.addData((1L, "en", good), (2L, "en", good + "LEAK"), (3L, "en", "short"))
      q.processAllAvailable()
      // 2 dropped by the stream-static anti-join, 3 by the quality filter
      val rows = spark.table("cur").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(rows == Set(1L))
      // stateless: no state store operator may appear in the executed plan
      val p = q.lastProgress.toString
      assert(!p.contains("stateOperators\" : [ {"), s"unexpected state operator:\n$p")
    } finally q.stop()
  }

  test("driftMonitor: per-batch foreachBatch report equals the batch refDrift, batch ids advance") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("source", "text")
    val ref = Seq(Tuple1("a a b")).toDF("text")
    val got = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q = Streaming.driftMonitor(stream, ref, "source", "text") { (report, id) =>
      got ++= report.collect().map(r => (id, r.getString(0), r.getDecimal(2).longValueExact()))
    }
    try {
      mem.addData(("X", "a b")); q.processAllAvailable()
      mem.addData(("Y", "c"));   q.processAllAvailable()
    } finally q.stop()
    // same hand-checked values as the batch refDrift test, one batch each,
    // scored against the SAME static profile (alarms comparable across
    // batches); empty trailing batches may fire with zero rows — ignore
    assert(got.toSet == Set((0L, "X", 2L), (1L, "Y", 6L)))
  }

  test("streamDedup drops duplicate (symbol, price) within the watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, java.math.BigDecimal, Timestamp)]
    val ticks = mem.toDF().toDF("symbol", "price", "ingest_ts")
    val q = Streaming.streamDedup(ticks, "1 minute")
      .writeStream.format("memory").queryName("sd").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        ("BTCUSDT", dec("10.00"), ts(1)),
        ("BTCUSDT", dec("10.00"), ts(2)),
        ("BTCUSDT", dec("11.00"), ts(3)))
      q.processAllAvailable()
      assert(spark.table("sd").count() == 2)
    } finally q.stop()
  }

  test("windowedIdSum late-data contract: drop at window_end <= PREVIOUS-batch watermark, emit at current") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("event_id", "ingest_ts")
    val q = Streaming.windowedIdSum(events, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("lds").outputMode(OutputMode.Append()).start()
    try {
      // batch 0 anchors the watermark at 05:00; batch 1 advances the LATE
      // filter horizon to it (the late filter lags eviction by one batch)
      mem.addData((0L, t("2024-01-01 06:00:00"))); q.processAllAvailable()
      mem.addData((2L, t("2024-01-01 06:10:00"))); q.processAllAvailable()
      // batch 2 vs lateWm 05:00 — 04:59 (window end == wm: BOUNDARY, drops),
      // 03:00 (closed, drops), 05:01 (open window, survives). The ledger
      // counts dropped state rows = window groups, so 2, not 2 raw rows by
      // coincidence: add a second row in the 03:00 window to pin that
      mem.addData((1L, t("2024-01-01 04:59:00")), (3L, t("2024-01-01 05:01:00")),
        (5L, t("2024-01-01 03:00:00")), (7L, t("2024-01-01 03:30:00")))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 2, s"3 late raw rows collapse to 2 dropped window groups, got $dropped")
      assert(spark.table("lds").isEmpty, "no window closed yet in append mode")
      // advance the watermark past 06:00 (two batches: eviction lags too)
      mem.addData((4L, t("2024-01-01 08:00:00"))); q.processAllAvailable()
      mem.addData((6L, t("2024-01-01 08:30:00"))); q.processAllAvailable()
      val out = spark.table("lds")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"), col("id_sum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // surviving late row 3 emits with its window; the dropped ones never do
      assert(out == Set(("05:00", 1L, 3L), ("06:00", 2L, 2L)), s"got $out")
    } finally q.stop()
  }

  test("streamDedup plan: DeduplicateWithinWatermark behind a watermark (state evicts at the horizon)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(String, java.math.BigDecimal, Timestamp)]
    val ticks = mem.toDF().toDF("symbol", "price", "ingest_ts")
    val analyzed = Streaming.streamDedup(ticks, "1 minute").queryExecution.analyzed.toString()
    // the *WithinWatermark* variant is what bounds dedup state: a plain
    // Deduplicate over a stream would keep every key seen forever
    assert(analyzed.contains("DeduplicateWithinWatermark"),
      s"expected watermark-bounded dedup state:\n$analyzed")
    assert(analyzed.contains("EventTimeWatermark"),
      s"expected an event-time watermark feeding the dedup:\n$analyzed")
  }

  test("intervalJoin plan: watermarks on BOTH sides + two-sided time bound (join state evictable)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lm = MemoryStream[(Long, Timestamp)]
    val rm = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.intervalJoin(
      lm.toDF().toDF("l_key", "l_ts"), rm.toDF().toDF("r_key", "r_ts"),
      "l_key", "r_key", "l_ts", "r_ts", "30 seconds", "1 minute")
    val analyzed = joined.queryExecution.analyzed.toString()
    // one watermark per input: with either missing, Spark must buffer that
    // side's join state forever (state ∝ stream history, not rate × horizon)
    assert("EventTimeWatermark".r.findAllIn(analyzed).length == 2,
      s"expected a watermark on each join input:\n$analyzed")
    // the condition must bound the right timestamp on BOTH ends — the upper
    // bound (INTERVAL horizon) is what lets the left side's state evict.
    // (Watermarked attributes print with a -T<delay>ms tag, hence the regex.)
    assert("r_ts#\\d+-T\\d+ms >= l_ts".r.findFirstIn(analyzed).isDefined &&
      "r_ts#\\d+-T\\d+ms <= ".r.findFirstIn(analyzed).isDefined &&
      analyzed.contains("INTERVAL"),
      s"expected a two-sided time-bound join condition:\n$analyzed")
  }

  test("intervalJoinLeftOuter: matched rows emit inner-style; unmatched emit null-padded AFTER watermark expiry") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val lm = MemoryStream[(Long, String, Timestamp)]
    val rm = MemoryStream[(Long, String, Timestamp)]
    val joined = Streaming.intervalJoinLeftOuter(
      lm.toDF().toDF("l_key", "l_id", "l_ts"), rm.toDF().toDF("r_key", "r_id", "r_ts"),
      "l_key", "r_key", "l_ts", "r_ts", "1 minute", "30 minutes")
    val q = joined.writeStream.format("memory").queryName("sslj").outputMode("append").start()
    try {
      // batch 1: u1's click matches its purchase; u2's click has no match —
      // it must NOT emit yet (its 30-min window isn't behind the watermark)
      lm.addData((1L, "c1", ts("2024-01-01 10:00:00")), (2L, "c2", ts("2024-01-01 10:00:00")))
      rm.addData((1L, "p1", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      val afterB1 = spark.table("sslj").select("l_id", "r_id")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(afterB1 == Set(("c1", Some("p1"))),
        s"unmatched row must wait for watermark expiry, got $afterB1")
      // batch 2: far-future events on BOTH sides (the global watermark is
      // the MIN of the per-side watermarks — advancing one side alone
      // holds the join back) push the watermark past 10:30 + horizon —
      // c2's window is now provably unmatched → it emits null-padded (the
      // late-data eviction path); the unmatched RIGHT row px never emits
      lm.addData((3L, "c3", ts("2024-01-01 12:00:00")))
      rm.addData((99L, "px", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("sslj").select("l_id", "r_id")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(afterB2 == Set(("c1", Some("p1")), ("c2", None)),
        s"expected c2 null-padded after expiry, c3 still in state: $afterB2")
    } finally q.stop()
  }

  test("intervalJoinSemi: each matched left emits once with no right columns; unmatched never emit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val lm = MemoryStream[(Long, String, Timestamp)]
    val rm = MemoryStream[(Long, String, Timestamp)]
    val joined = Streaming.intervalJoinSemi(
      lm.toDF().toDF("l_key", "l_id", "l_ts"), rm.toDF().toDF("r_key", "r_id", "r_ts"),
      "l_key", "r_key", "l_ts", "r_ts", "1 minute", "30 minutes")
    assert(joined.columns.toSeq == Seq("l_key", "l_id", "l_ts"),
      "semi join must project left columns only")
    val q = joined.writeStream.format("memory").queryName("sssj").outputMode("append").start()
    try {
      // u1's click matches TWO purchases — must emit ONCE; u2's never
      lm.addData((1L, "c1", ts("2024-01-01 10:00:00")), (2L, "c2", ts("2024-01-01 10:00:00")))
      rm.addData((1L, "p1", ts("2024-01-01 10:10:00")), (1L, "p2", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // push the watermark far past both windows: a semi join still never
      // emits the unmatched click — eviction DROPS it (no outer path)
      lm.addData((3L, "c3", ts("2024-01-01 12:00:00")))
      rm.addData((99L, "px", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val ids = spark.table("sssj").select("l_id").collect().map(_.getString(0)).toSeq
      assert(ids == Seq("c1"), s"exactly one emission for the matched click, got $ids")
    } finally q.stop()
  }

  test("intervalJoinFullOuter: unmatched rows from BOTH sides emit null-padded at their per-side eviction bounds") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val lm = MemoryStream[(Long, String, Timestamp)]
    val rm = MemoryStream[(Long, String, Timestamp)]
    val joined = Streaming.intervalJoinFullOuter(
      lm.toDF().toDF("l_key", "l_id", "l_ts"), rm.toDF().toDF("r_key", "r_id", "r_ts"),
      "l_key", "r_key", "l_ts", "r_ts", "1 minute", "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssfj").outputMode("append").start()
    try {
      // batch 1: u1 matches; u2's click (left) and u99's purchase (right)
      // are unmatched — neither may emit before its eviction bound passes
      lm.addData((1L, "c1", ts("2024-01-01 10:00:00")), (2L, "c2", ts("2024-01-01 10:00:00")))
      rm.addData((1L, "p1", ts("2024-01-01 10:10:00")), (99L, "p99", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      def rowsNow = spark.table("ssfj").select("l_id", "r_id")
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSet
      assert(rowsNow == Set((Some("c1"), Some("p1"))),
        s"unmatched rows must wait for eviction, got $rowsNow")
      // batch 2: advance BOTH side watermarks far past every bound —
      // c2 emits (left bound: window behind watermark) AND p99 emits
      // (right bound: its own timestamp behind the watermark). The
      // attribution-complete property the left-outer form lacks.
      lm.addData((3L, "c3", ts("2024-01-01 12:00:00")))
      rm.addData((98L, "p98", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      assert(rowsNow == Set(
        (Some("c1"), Some("p1")), (Some("c2"), None), (None, Some("p99"))),
        s"expected BOTH sides' unmatched rows after expiry: $rowsNow")
    } finally q.stop()
  }

  test("checkpoint restart: resumes from committed offsets with dedup state intact (exactly-once)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StructType
    val src = TestSpark.tmpDir("ck-src")
    val out = TestSpark.tmpDir("ck-out")
    val ckpt = TestSpark.tmpDir("ck-ckpt")
    val schema = StructType.fromDDL("symbol string, price decimal(10,2), ingest_ts timestamp")
    def runOnce(): Unit = {
      val ticks = spark.readStream.schema(schema).parquet(src)
      val q = Streaming.streamDedup(ticks, "1 hour")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq(("BTCUSDT", dec("10.00"), ts(1)), ("BTCUSDT", dec("10.00"), ts(2)),
        ("ETHUSDT", dec("5.00"), ts(3)))
      .toDF("symbol", "price", "ingest_ts")
      .select(col("symbol"), col("price").cast("decimal(10,2)").as("price"), col("ingest_ts"))
      .write.mode("append").parquet(src)
    runOnce()
    // second batch arrives after the first run COMMITTED: a cross-run
    // duplicate (drops only if dedup state survived the restart) + a new key
    Seq(("BTCUSDT", dec("10.00"), ts(10)), ("ADAUSDT", dec("2.00"), ts(11)))
      .toDF("symbol", "price", "ingest_ts")
      .select(col("symbol"), col("price").cast("decimal(10,2)").as("price"), col("ingest_ts"))
      .write.mode("append").parquet(src)
    runOnce()
    val rows = spark.read.parquet(out).select("symbol", "price").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
    // exactly-once end to end: batch-1 rows not re-emitted on restart (file
    // sink offsets), cross-run duplicate suppressed (recovered state)
    assert(rows.sorted == Seq(("ADAUSDT", "2.00"), ("BTCUSDT", "10.00"), ("ETHUSDT", "5.00")))
  }

  test("versionedSink restart: checkpointed batchIds keep the commit log exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val src = TestSpark.tmpDir("vs-src")
    val root = TestSpark.tmpDir("vs-root")
    val ckpt = TestSpark.tmpDir("vs-ckpt")
    val schema = StructType.fromDDL("id bigint, s string")
    def runOnce(): Unit = {
      val rows = spark.readStream.schema(schema).parquet(src)
      val q = Streaming.versionedSink(rows, root, "feed", Some(ckpt), availableNow = true)
      q.awaitTermination()
    }
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("append").parquet(src)
    runOnce()
    assert(graft.io.VersionedTable.latestVersion(root).contains(1L))
    // restart with NO new data: the committed offsets say batch 0 is done,
    // so the log must not advance (no spurious empty or duplicate commit)
    runOnce()
    assert(graft.io.VersionedTable.latestVersion(root).contains(1L),
      "restart without new data must not advance the log")
    Seq((3L, "c")).toDF("id", "s").write.mode("append").parquet(src)
    runOnce()
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L))
    // a crash-replay of batch 1 (same checkpoint-assigned id) is a no-op
    graft.io.VersionedTable.commit(Seq((99L, "dup")).toDF("id", "s"), root, "append", "feed-b1")
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L))
    assert(graft.io.VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L), "each source row lands exactly once")
  }

  test("versionedSink + auto-compact property: an unattended stream stays bounded in dirs") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val src = TestSpark.tmpDir("vsac-src")
    val root = TestSpark.tmpDir("vsac-root")
    val ckpt = TestSpark.tmpDir("vsac-ckpt")
    val schema = StructType.fromDDL("id bigint, s string")
    Seq((0L, "seed")).toDF("id", "s").write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val rows = spark.readStream.schema(schema).parquet(src)
      Streaming.versionedSink(rows, root, "acfeed", Some(ckpt), availableNow = true)
        .awaitTermination()
    }
    runOnce()
    graft.io.VersionedTable.setTableProperties(root,
      Map("graft.autoCompact.minDirs" -> "3", "graft.autoCompact.target" -> "1"), "vsac-props")
    // each micro-batch rides the standard commit path, so the declared
    // maintenance policy applies to STREAMING ingest with no extra code:
    // the unattended table never exceeds its dir bound
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "s").write.mode("append").parquet(src)
      runOnce()
      assert(graft.io.VersionedTable.latestCommit(root).get.dirs.size < 3,
        s"batch $i left ${graft.io.VersionedTable.latestCommit(root).get.dirs.size} dirs")
    }
    assert(graft.io.VersionedTable.history(root).count(_.mode == "compact") >= 2)
    assert(graft.io.VersionedTable.read(spark, root).count() == 7L)
  }

  test("versionedSource: initial snapshot + live append deltas, checkpoint restart exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tmpDir("vsrc-root")
    val out = TestSpark.tmpDir("vsrc-out")
    val ckpt = TestSpark.tmpDir("vsrc-ckpt")
    graft.io.VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root,
      "append", "c0", statsCols = Seq("id"))
    graft.io.VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root,
      "append", "c1", statsCols = Seq("id"))
    def runOnce(): Unit = {
      val q = Streaming.versionedSource(spark, root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def ids = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted
    runOnce() // fresh stream: ONE initial-snapshot batch at v2
    assert(ids == Seq(1L, 2L, 3L))
    // restart with no new commit: offsets say v2 is done — nothing re-emits
    runOnce()
    assert(ids == Seq(1L, 2L, 3L), "restart without new commits must not re-deliver")
    graft.io.VersionedTable.commit(Seq((4L, "d")).toDF("id", "s"), root,
      "append", "c2", statsCols = Seq("id"))
    runOnce() // only v3's delta arrives — never the snapshot again
    assert(ids == Seq(1L, 2L, 3L, 4L), "append delta exactly once across restarts")
  }

  test("versionedSource: non-append commit refuses loudly; skipChangeCommits skips it; startingVersion = changes only") {
    import spark.implicits._
    val root = TestSpark.tmpDir("vsrc-merge-root")
    graft.io.VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      root, "append", "c0", statsCols = Seq("id"))
    val q = Streaming.versionedSource(spark, root)
      .writeStream.format("memory").queryName("vsrc_fail").outputMode("append").start()
    val failed = try {
      q.processAllAvailable()
      assert(spark.table("vsrc_fail").count() == 3)
      graft.io.VersionedTable.mergeInto(spark, root,
        Seq((2L, "B2")).toDF("id", "s"), "id", "m0")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(failed).contains("not append-shaped"), chain(failed))
    // skipChangeCommits + startingVersion: walk (1, 3] — the merge (v2)
    // emits nothing (including its inserts), the later append (v3) flows
    graft.io.VersionedTable.commit(Seq((9L, "z")).toDF("id", "s"), root,
      "append", "c1", statsCols = Seq("id"))
    val q2 = Streaming.versionedSource(spark, root, skipChangeCommits = true,
        startingVersion = Some(1L))
      .writeStream.format("memory").queryName("vsrc_skip").outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("vsrc_skip").collect().map(_.getLong(0)).toSeq.sorted == Seq(9L),
      "changes-only walk: skipped merge, delivered append")
  }

  test("versionedSource: maxVersionsPerTrigger bounds each micro-batch's version advance") {
    import spark.implicits._
    val root = TestSpark.tmpDir("vsrc-rate-root")
    (1 to 4).foreach { i =>
      graft.io.VersionedTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "s"), root,
        "append", s"c$i", statsCols = Seq("id"))
    }
    // changes-only from v0 with a 1-version budget: the backlog of 4
    // commits must arrive as 4 separate micro-batches, not one
    val q = Streaming.versionedSource(spark, root, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(1L))
      .writeStream.format("memory").queryName("vsrc_rate").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("vsrc_rate").collect().map(_.getLong(0)).toSeq.sorted
        == Seq(1L, 2L, 3L, 4L), "whole backlog delivered")
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 4, s"expected 4 rate-limited batches, saw $dataBatches")
    } finally q.stop()
  }

  test("versionedChangeFeed: merges, deletes, MOR coverage and compaction flow as typed row changes") {
    import spark.implicits._
    val root = TestSpark.tmpDir("vcdf-root")
    graft.io.VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      root, "append", "c0", statsCols = Seq("id"))                    // v1
    graft.io.VersionedTable.mergeInto(spark, root,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "s"), "id", "m0")         // v2: update 2, insert 4
    graft.io.VersionedTable.deleteWhere(spark, root, Seq(3L).toDF("id"), "id", "d0") // v3
    graft.io.VersionedTable.deleteWhereMor(spark, root, Seq(1L).toDF("id"), "id", "d1") // v4 (coverage only)
    graft.io.VersionedTable.compact(spark, root, "opt0", 1, statsCols = Seq("id"))   // v5: no row change
    val q = Streaming.versionedChangeFeed(spark, root, "id", startingVersion = Some(0L))
      .writeStream.format("memory").queryName("vcdf").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val events = spark.table("vcdf").select("_change_type", "id", "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(events == Set(
      ("insert", 1L, "a"), ("insert", 2L, "b"), ("insert", 3L, "c"), // v1 appends
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B2"),  // v2 merge
      ("insert", 4L, "d"),                                           // v2 merge insert
      ("delete", 3L, "c"),                                           // v3 copy-on-write delete
      ("delete", 1L, "a")                                            // v4 MOR coverage delete
    ), s"compaction must emit nothing, got $events")
    // applying the feed keyed by id reconstructs the final snapshot
    import org.apache.spark.sql.expressions.Window
    val ordered = spark.table("vcdf")
      .withColumn("__seq", monotonically_increasing_id())
      .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
    val lastPerKey = ordered
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("__seq").desc)))
      .filter(col("__rk") === 1 && col("_change_type") =!= "delete")
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val snap = graft.io.VersionedTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(lastPerKey == snap, s"feed-materialized $lastPerKey != snapshot $snap")
  }

  test("versionedChangeFeed: rewrite commits keep the table's column order when the key is not first") {
    import spark.implicits._
    val root = TestSpark.tmpDir("vcdf-order-root")
    graft.io.VersionedTable.commit(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("s", "id"),
      root, "append", "c0", statsCols = Seq("id"))                             // v1
    graft.io.VersionedTable.mergeInto(spark, root,
      Seq(("B2", 2L), ("d", 4L)).toDF("s", "id"), "id", "m0")                 // v2
    graft.io.VersionedTable.deleteWhere(spark, root, Seq(3L).toDF("id"), "id", "d0") // v3
    graft.io.VersionedTable.deleteWhereMor(spark, root, Seq(1L).toDF("id"), "id", "d1") // v4
    graft.io.VersionedTable.commit(Seq(("e", 5L)).toDF("s", "id"), root, "append", "c1") // v5
    val q = Streaming.versionedChangeFeed(spark, root, "id", startingVersion = Some(0L))
      .writeStream.format("memory").queryName("vcdf_order").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("vcdf_order")
    assert(out.columns.toSeq == Seq("s", "id", "_change_type"), out.columns.toSeq)
    val events = out.collect().map(r => (r.getString(2), r.getLong(1), r.getString(0))).toSet
    assert(events == Set(
      ("insert", 1L, "a"), ("insert", 2L, "b"), ("insert", 3L, "c"),
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B2"), ("insert", 4L, "d"),
      ("delete", 3L, "c"), ("delete", 1L, "a"), ("insert", 5L, "e")), events.toString)
  }

  test("versionedSource: schema change mid-stream refuses even under skipChangeCommits") {
    import spark.implicits._
    val root = TestSpark.tmpDir("vsrc-ren-root")
    graft.io.VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), root,
      "append", "c0", statsCols = Seq("id"))
    val q = Streaming.versionedSource(spark, root, skipChangeCommits = true)
      .writeStream.format("memory").queryName("vsrc_ren").outputMode("append").start()
    val failed = try {
      q.processAllAvailable()
      graft.io.VersionedTable.renameColumn(root, "s", "s2", "ren-0")
      graft.io.VersionedTable.commit(Seq((2L, "b")).toDF("id", "s2"), root,
        "append", "c1", statsCols = Seq("id"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(failed).contains("schema changed"), chain(failed))
  }

  test("timerSessions (transformWithState): sessions finalize only at the watermark via event-time timers; a late row bridges two pending sessions") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val ck = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(ck)
    spark.conf.set(ck,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val ev = mem.toDF().toDF("user_id", "event_id", "ingest_ts")
    val q = Streaming.timerSessions(ev, 30, "1 hour")
      .writeStream.format("memory").queryName("tsess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 0: user 1 has two pending sessions ([00:00,00:10] and [01:00]),
      // user 2 one; NOTHING may emit before the watermark proves closure
      mem.addData((1L, 1L, t("2024-01-01 00:00:00")), (1L, 2L, t("2024-01-01 00:10:00")),
        (1L, 3L, t("2024-01-01 01:00:00")), (2L, 4L, t("2024-01-01 00:05:00")))
      q.processAllAvailable()
      assert(spark.table("tsess").isEmpty, "no session may emit before its watermark closure")
      // batch 1: a LATE row at 00:35 — its window [00:35, 01:05) overlaps
      // BOTH pending user-1 sessions ([00:00, 00:40) and [01:00, 01:30)),
      // so they must merge back into ONE (the session_window bridge case
      // premature emission would have made impossible)
      mem.addData((1L, 5L, t("2024-01-01 00:35:00")))
      q.processAllAvailable()
      // two advancer batches on an untouched key push the watermark to
      // 02:00 and drive the timer pass for users 1 and 2
      mem.addData((9L, 8L, t("2024-01-01 03:00:00")))
      q.processAllAvailable()
      mem.addData((9L, 9L, t("2024-01-01 03:01:00")))
      q.processAllAvailable()
      val out = spark.table("tsess")
        .select(col("user_id"),
          date_format(expr("timestamp_micros(session_start)"), "HH:mm").as("s"),
          date_format(expr("timestamp_micros(session_end)"), "HH:mm").as("e"),
          col("n"), col("id_sum"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      // user 1: the BRIDGED session 00:00..(01:00+gap); user 2: its single
      // session; user 9's sessions stay open (watermark never passed them)
      assert(out == Set((1L, "00:00", "01:30", 4L, 11L),
        (2L, "00:05", "00:35", 1L, 4L)), s"got $out")
    } finally {
      q.stop()
      prior.fold(spark.conf.unset(ck))(v => spark.conf.set(ck, v))
    }
  }

  test("sessionize maintains per-symbol running count and price envelope") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Tick]
    val q = Streaming.sessionize(mem.toDS(), idleTimeoutMs = 0)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Update()).start()
    try {
      mem.addData(Tick("BTCUSDT", dec("10.00"), ts(1)), Tick("BTCUSDT", dec("8.00"), ts(2)))
      q.processAllAvailable()
      mem.addData(Tick("BTCUSDT", dec("15.00"), ts(3)))
      q.processAllAvailable()
      val last = spark.table("sess").orderBy(col("n").desc).collect().head
      assert(last.getLong(1) == 3L)
      // encoder widens java BigDecimal to decimal(38,18); compare values not scales
      assert(last.getDecimal(2).compareTo(dec("8.00")) == 0 && last.getDecimal(3).compareTo(dec("15.00")) == 0)
    } finally q.stop()
  }

  test("versionedMergeSink: bootstrap, per-batch merge, exactly-once replay") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val root = TestSpark.tmpDir("stream_vmerge")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.versionedMergeSink(mem.toDF().toDF("id", "s"), root, "id",
      appId = "vm", statsCols = Seq("id"))
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()  // batch 0 bootstraps
      mem.addData((2L, "B2"), (3L, "c")); q.processAllAvailable() // batch 1 merges
    } finally q.stop()
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L), "one commit per batch")
    def content = graft.io.VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(content == Seq((1L, "a"), (2L, "B2"), (3L, "c")), content.toString)
    // a replayed batch commitId must not advance the log or touch rows
    assert(graft.io.VersionedTable.mergeInto(spark, root,
      Seq((9L, "X")).toDF("id", "s"), "id", "vm-b1") == ((2L, -1, -1)))
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L))
    assert(content == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // a SECOND stream identity on the same root merges instead of no-oping
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.versionedMergeSink(mem2.toDF().toDF("id", "s"), root, "id",
      appId = "vm2", statsCols = Seq("id"))
    try { mem2.addData((3L, "C3")); q2.processAllAvailable() } finally q2.stop()
    assert(content == Seq((1L, "a"), (2L, "B2"), (3L, "C3")))
  }

  test("cdcApplySink: mixed upsert+delete batch lands as ONE commit, exactly-once replay, both-op keys refused") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val root = TestSpark.tmpDir("stream_cdc")
    val mem = MemoryStream[(Long, String, String)]
    val q = Streaming.cdcApplySink(mem.toDF().toDF("id", "s", "op"), root, "id", "op",
      appId = "cdc", statsCols = Seq("id"))
    try {
      // bootstrap: upserts commit; the delete of a never-existing key is
      // already a no-op by construction
      mem.addData((1L, "a", "u"), (2L, "b", "u"), (9L, "", "d")); q.processAllAvailable()
      // a MIXED batch — update key 2, insert key 4, tombstone key 1 —
      // must land as ONE commit, never a torn merge/delete pair
      mem.addData((2L, "B2", "u"), (4L, "d4", "u"), (1L, "", "d")); q.processAllAvailable()
    } finally q.stop()
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L),
      "one commit per batch — upserts and tombstones must not split")
    def content = graft.io.VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(content == Seq((2L, "B2"), (4L, "d4")), content.toString)
    // a crash-replay of batch 1 (same appId+batchId commitId) is a no-op
    assert(graft.io.VersionedTable.applyCdcBatch(spark, root,
      Seq((9L, "X")).toDF("id", "s"), Seq(4L).toDF("id"), "id", "cdc-b1") == ((2L, -1, -1)))
    assert(content == Seq((2L, "B2"), (4L, "d4")))
    // a key carrying BOTH ops in one batch is an upstream bug: refuse loudly
    val mem2 = MemoryStream[(Long, String, String)]
    val q2 = Streaming.cdcApplySink(mem2.toDF().toDF("id", "s", "op"), root, "id", "op",
      appId = "cdc2")
    try {
      mem2.addData((4L, "x", "u"), (4L, "", "d"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q2.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("BOTH updates and deletes"), msgs)
    } finally q2.stop()
    assert(content == Seq((2L, "B2"), (4L, "d4")), "a refused batch must change nothing")
  }

  test("versionedMergeSink: BOOTSTRAP batch takes the dup/NULL-key guard — no silent bad first commit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // batch 0 commits verbatim (no parent to merge against); without the
    // guard a duplicate-keyed first batch would persist silently and every
    // later merge would update ambiguously — the sink's one-row-per-key
    // contract demands the SAME loud failure mergeInto gives
    val root = TestSpark.tmpDir("stream_vmerge_guard")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.versionedMergeSink(mem.toDF().toDF("id", "s"), root, "id", appId = "vg")
    try {
      mem.addData((1L, "a"), (1L, "dup"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("duplicate batch key"), msgs)
    } finally q.stop()
    assert(graft.io.VersionedTable.history(root).isEmpty,
      "a refused bootstrap batch must not publish any version")
  }

  test("maintainCountMin: multi-batch read-merge-commit chain equals the one-shot sketch; replay is a no-op") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val root = TestSpark.tmpDir("stream_cm")
    val mem = MemoryStream[String]
    val q = Streaming.maintainCountMin(mem.toDF().toDF("event_type"), root, "event_type", 2, 8,
      appId = "cm")
    try {
      mem.addData("a", "b", "a"); q.processAllAvailable()  // batch 0
      mem.addData("b", "c");      q.processAllAvailable()  // batch 1 merges onto batch 0's state
    } finally q.stop()
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L), "one commit per batch")
    val got = graft.io.VersionedTable.read(spark, root)
      .orderBy("r", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = graft.operators.ext.Sketches.countMinSketch(
        Seq("a", "b", "a", "b", "c").toDF("event_type"), "event_type", 2, 8)
      .orderBy("r", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == oneShot, s"chained sketch != one-shot:\n $got\n $oneShot")
    // a replayed batch commitId must not advance the log or change counters
    graft.io.VersionedTable.commit(
      Seq((0, 0L, 999L)).toDF("r", "bucket", "cnt"), root, "overwrite", "cm-b1")
    assert(graft.io.VersionedTable.latestVersion(root).contains(2L))
    // a DIFFERENT appId restarting at batch 0 (wiped/recreated checkpoint,
    // or a second query on the same root) must NOT be absorbed by the old
    // query's committed ids — its batches advance the log and merge
    val mem2 = MemoryStream[String]
    val q2 = Streaming.maintainCountMin(mem2.toDF().toDF("event_type"), root, "event_type", 2, 8,
      appId = "cm2")
    try { mem2.addData("c"); q2.processAllAvailable() } finally q2.stop()
    assert(graft.io.VersionedTable.latestVersion(root).contains(3L),
      "fresh appId's batch 0 must commit, not no-op against cm-b0")
    val merged2 = graft.operators.ext.Sketches.countMinSketch(
        Seq("a", "b", "a", "b", "c", "c").toDF("event_type"), "event_type", 2, 8)
      .orderBy("r", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val got2 = graft.io.VersionedTable.read(spark, root)
      .orderBy("r", "bucket").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == merged2, s"cross-appId merge wrong:\n $got2\n $merged2")
  }

  test("matViewSink: two-batch streaming view maintenance, crash-lagged view healed by the next batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.io.{MatView, VersionedTable}
    val srcR = TestSpark.tmpDir("smv_src"); val mvR = TestSpark.tmpDir("smv_mv")
    VersionedTable.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v"),
      srcR, "append", "sm-seed", statsCols = Seq("id"))
    MatView.create(spark, mvR, srcR, "grp", Seq("v"), "sm-create")
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streaming.matViewSink(mem.toDF().toDF("id", "grp", "v"), srcR, mvR,
      "id", appId = "sm", statsCols = Seq("id"))
    def view() = VersionedTable.read(spark, mvR)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      mem.addData((3L, "a", 30L), (4L, "c", 40L)) // insert batch
      q.processAllAvailable()
      assert(view() == Set(("a", 2L, 40L), ("b", 1L, 20L), ("c", 1L, 40L)))
      mem.addData((1L, "b", 11L)) // group-moving upsert: a -> b
      q.processAllAvailable()
      assert(view() == Set(("a", 1L, 30L), ("b", 2L, 31L), ("c", 1L, 40L)))
    } finally q.stop()
    // crash window: the source advances WITHOUT its paired refresh (a sink
    // that died between the merge and the refresh); the next refresh —
    // standalone here, the next batch's in production — heals exactly
    VersionedTable.mergeInto(spark, srcR, Seq((9L, "c", 9L)).toDF("id", "grp", "v"),
      "id", "sm-lag", statsCols = Seq("id"))
    assert(view() == Set(("a", 1L, 30L), ("b", 2L, 31L), ("c", 1L, 40L))) // still lagged
    MatView.refresh(spark, mvR)
    assert(view() == Set(("a", 1L, 30L), ("b", 2L, 31L), ("c", 2L, 49L)))
  }
}
