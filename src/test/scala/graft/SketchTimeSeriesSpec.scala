package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import graft.operators.ext.Sketches

/** Unit coverage for the sketch and time-series operators: count-min
  * overestimate invariant, bloom no-false-negative guarantee and probe-side
  * join shape, calendar gap-fill semantics (leading nulls, forward fill,
  * global range).
  */
class SketchTimeSeriesSpec extends SparkSpec {

  test("countMin/heavyHitters: estimate >= exact for every value, exact when uncrowded") {
    import spark.implicits._
    val vals = Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++
      Seq.fill(10)("gamma") ++ (1 to 30).map(i => s"tail$i")
    val df = vals.toDF("v")
    val hh = Sketches.heavyHitters(df, "v", 4, 256, 3).collect()
    assert(hh.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
    hh.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"cm_est < exact for ${r.getString(0)}")
    }
    // 33 distinct values in 4x256 buckets: the top hitter is collision-free
    // with overwhelming probability under the fixed md5 seeds (deterministic
    // here — this asserts the actual bucketing, not a probability)
    assert(hh.head.getLong(2) == hh.head.getLong(1))
  }

  test("kmvQuantile: the exact side ranks the domain without a single-partition exchange") {
    import spark.implicits._
    val out = graft.operators.ext.Sketches.kmvQuantile((1L to 50L).toDF("x").repartition(3),
      "x", 10, Seq((1, 4), (3, 4), (0, 4)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    // ceil-rank order statistics of 1..50; q = 0 has no rank and no row
    assert(out.orderBy("q_num").collect().map(r => (r.getInt(0), r.getLong(3))).toSeq ==
      Seq((1, 13L), (3, 38L)))
  }

  test("kmvQuantile: exact column is the true quantile; estimate is partition-independent") {
    import spark.implicits._
    val vals = (1L to 100L)
    val df1 = vals.toDF("x").repartition(1)
    val df7 = vals.toDF("x").repartition(7)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.ext.Sketches.kmvQuantile(df, "x", 20, Seq((1, 2), (9, 10)))
        .orderBy("q_num", "q_den")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val a = run(df1)
    // bottom-k-of-hash merge is commutative: layout must not change the result
    assert(a == run(df7), "sketch must be partition-independent")
    // exact side: ceil-rank order statistics of 1..100
    assert(a.map(t => (t._1, t._2, t._4)) == Seq((1, 2, 50L), (9, 10, 90L)))
    // estimate is a real member of the domain, and the sample median of a
    // uniform 20-sample of 1..100 lands in the middle half
    val est50 = a.head._3
    assert(vals.contains(est50) && est50 >= 25 && est50 <= 75, s"p50 estimate $est50")
  }

  test("equiDepthHistogram: integer split bounds, bucket sizes differ by at most one") {
    import spark.implicits._
    // 10 rows, 4 buckets: ((r-1)*4) div 10 -> sizes 3,2,3,2 with exact bounds
    val df = Seq(10, 3, 7, 1, 9, 4, 6, 2, 8, 5).map(v => (v.toDouble, v.toLong)).toDF("v", "id")
    val got = graft.operators.Relational.equiDepthHistogram(df, "v", Seq("id"), 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 1.0, 3.0, 3L), (1L, 4.0, 5.0, 2L),
      (2L, 6.0, 8.0, 3L), (3L, 9.0, 10.0, 2L)))
  }

  test("slidingHllDistinct: frame merge equals the sketch of the frame's union") {
    import spark.implicits._
    val df = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("day", "user_id")
    val got = Sketches.slidingHllDistinct(df, "user_id", "day", p = 6, frameDays = 2)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(x => (x._1, x._2)).toSeq == Seq((0L, 3L), (1L, 5L)),
      "exact trailing-frame distincts")
    // merge property: day-1's merged sketch must equal the sketch built
    // directly from the frame's union of values
    def direct(vals: Seq[Long]) = Sketches.hllDistinct(vals.toDF("user_id"), "user_id", 6)
      .head().getLong(1)
    assert(got(0)._3 == direct(Seq(1L, 2L, 3L)))
    assert(got(1)._3 == direct(Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("timeWeighted: holding-time weighting, last observation weightless, singleton keys kept") {
    import spark.implicits._
    // key 1: v=2.0 held 10us, v=4.0 held 30us, v=6.0 closes the span
    //   num = 2000*10 + 4000*30 = 140000; den = 40; n = 3
    // key 2: one observation -> (0, 0, 1)
    val df = Seq(
      (1L, 0L, 2.0, 1L), (1L, 10L, 4.0, 2L), (1L, 40L, 6.0, 3L),
      (2L, 5L, 9.0, 4L)
    ).toDF("k", "t", "v", "tie")
    val got = TimeSeries.timeWeighted(df, "k", "t", "v", "tie")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 140000L, 40L, 3L), (2L, 0L, 0L, 1L)))
  }

  test("epochShuffle: reproducible within an epoch, decorrelated across epochs, positions dense") {
    import spark.implicits._
    val df = (1L to 200L).toDF("doc_id")
    def order(epoch: Int) = graft.operators.Relational.epochShuffle(df, "doc_id", epoch, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val e1 = order(1)
    assert(order(1) == e1, "same epoch must reproduce bit-for-bit")
    assert(order(2) != e1, "different epochs must permute differently")
    // positions are dense 1..n within each shard
    val byShard = e1.groupBy(_._2)
    byShard.values.foreach { rows =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq)
    }
    assert(byShard.keySet.subsetOf((0L to 3L).toSet))
  }

  test("bloom: every member passes (no false negatives), non-members mostly rejected") {
    import spark.implicits._
    val members = (1 to 200).map(i => s"k$i").toDF("k")
    val words = Sketches.bloomWords(members, "k", 4096, 3)
    val inProbe = Sketches.bloomProbe(members, "k", words, 4096, 3)
    assert(inProbe.filter(col("bloom_pass") === 0).count() == 0)
    val outProbe = Sketches.bloomProbe(
      (1001 to 2000).map(i => s"x$i").toDF("k"), "k", words, 4096, 3)
    val fp = outProbe.filter(col("bloom_pass") === 1).count()
    // 200 keys x 3 hashes in 4096 bits -> ~14% fill; fp rate ~(0.14)^3 < 1%
    assert(fp < 50, s"false-positive count $fp out of 1000 is implausibly high")
  }

  test("bloomProbe never shuffles the probe side: one broadcast join per hash") {
    import spark.implicits._
    val members = (1 to 50).map(i => s"k$i").toDF("k")
    val words = Sketches.bloomWords(members, "k", 4096, 3)
    val plan = Sketches.bloomProbe(members, "k", words, 4096, 3)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3, plan)
  }

  test("zValue: exact Morton interleave on known bit patterns") {
    import spark.implicits._
    import graft.operators.Relational
    // x=0b1010, y=0b0101 -> z alternates: bit2j=x_j, bit2j+1=y_j
    // x bits (1,0,1,0 from LSB: 0,1,0,1): x=10 -> 1010b; y=5 -> 0101b
    // z = sum x_j<<2j + y_j<<2j+1 = (x:0<<0,1<<2,0<<4,1<<6)+(y:1<<1,0<<3,1<<5,0<<7)
    //   = 4+64 + 2+32 = 102
    val out = Seq((10L, 5L)).toDF("x", "y")
      .select(Relational.zValue(col("x"), col("y"), 4).as("z")).head.getLong(0)
    assert(out == 102L)
    // interleave is a bijection: distinct inputs -> distinct z
    val n = Seq.tabulate(16, 16)((a, b) => (a.toLong, b.toLong)).flatten.toDF("x", "y")
      .select(Relational.zValue(col("x"), col("y"), 4).as("z"))
      .distinct().count()
    assert(n == 256)
  }

  test("tfIdfTopK: ubiquitous terms quantize to idf 0; rarer terms outrank them") {
    import spark.implicits._
    import graft.operators.ext.TextAnalysis
    // 'the' in all 4 docs -> idf floor(log2(4/4))=0 -> score 0
    // 'rare' in 1 doc -> idf floor(log2(4/1))=2
    // 'half' in 2 docs -> idf floor(log2(4/2))=1
    val docs = Seq(
      (1L, "the rare rare half"), (2L, "the half"), (3L, "the"), (4L, "the")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(out.take(2).toSeq == Seq((1L, "rare", 4L), (1L, "half", 1L)))
    assert(out.filter(_._2 == "the").forall(_._3 == 0L))
  }

  test("chunkSplit: stride windows with overlap, final partial window kept, empty docs dropped") {
    import spark.implicits._
    import graft.operators.ext.TextAnalysis
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, " ")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkSplit(docs, "doc_id", "text", 4, 3)
      .orderBy("doc_id", "start_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, "a b c d", 4L),   // full window
      (1L, 4L, "d e f g", 4L),   // overlap of 1 (stride 3 < size 4)
      (1L, 7L, "g", 1L),         // final partial window
      (2L, 1L, "x", 1L)))        // doc 3 (whitespace-only) dropped
  }

  test("repetitionStats: exact token/distinct/top counts per document") {
    import spark.implicits._
    import graft.operators.ext.TextAnalysis
    val docs = Seq((1L, "a a a b"), (2L, "u v w")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 4L, 2L, 3L), (2L, 3L, 3L, 1L)))
  }

  test("constraintReport: null predicate counts as violation, true rows pass") {
    import spark.implicits._
    import graft.operators.Relational
    val df = Seq[(java.lang.Long, String)]((5L, "ok"), (null, "ok"), (-1L, null))
      .toDF("v", "s")
    val out = Relational.constraintReport(df, Seq(
        "v_positive" -> (col("v") > 0),      // -1 false, null null -> 2 violations
        "s_not_null" -> col("s").isNotNull)) // one null row -> 1
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("v_positive" -> 2L, "s_not_null" -> 1L))
  }

  test("gapFillDaily: dense global spine, forward fill across gaps, leading nulls kept") {
    import spark.implicits._
    val ev = Seq(
      ("a", "2024-01-01", "10.00"), ("a", "2024-01-01", "12.00"), // same-day dup -> max
      ("a", "2024-01-04", "7.00"),
      ("b", "2024-01-03", "5.00")                                 // b: no obs on day 1-2
    ).toDF("k", "d", "v")
    val out = TimeSeries.gapFillDaily(ev, "k", to_date(col("d")),
        col("v").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
      .select(col("key"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v").cast("string"), col("v_filled").cast("string"))
      .orderBy("key", "day").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01", "12.00", "12.00"),
      ("a", "2024-01-02", null, "12.00"),
      ("a", "2024-01-03", null, "12.00"),
      ("a", "2024-01-04", "7.00", "7.00"),
      ("b", "2024-01-01", null, null),
      ("b", "2024-01-02", null, null),
      ("b", "2024-01-03", "5.00", "5.00"),
      ("b", "2024-01-04", null, "5.00")))
  }
}
