package graft.operators.ext

import graft.operators.Par
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregation (SURVEY.md §2.3 notes the reference
  * has no approx-distinct; this is the [EXT] sketch surface).
  *
  * Unlike Spark's built-in `approx_count_distinct` (HLL++ over xxhash64,
  * Spark-specific and not reproducible elsewhere), this HyperLogLog is built
  * from engine-portable primitives — md5-derived 32-bit hashes, integer
  * bucket/rank arithmetic, and a harmonic sum whose terms are all powers of
  * two — so the whole sketch, including the final estimate, is bit-identical
  * in any engine that can run the same SQL (the DuckDB oracle mirrors it
  * exactly). The 2^-rank harmonic sum is EXACT in IEEE double regardless of
  * aggregation order: every term is a power of two and the exponent span
  * (2^6 down to 2^-27) is under 52 bits, so no rounding ever occurs and the
  * estimate is deterministic under any partitioning.
  *
  * 100 TB design: one narrow shuffle of at most m=2^p rows after map-side
  * partial max per bucket; the estimate reduces m rows to one. This is the
  * shape a distributed sketch must have — mergeable per-bucket maxima, no
  * row-level data movement.
  */
object Sketches {

  /** Per-bucket HLL state: (bucket, max_rank) over md5-derived 32-bit hashes.
    * p bucket bits → m = 2^p buckets; rank = leading-zero count of the
    * remaining (32-p)-bit suffix + 1 (the classic Flajolet rho), computed via
    * binary-string length so both engines share the exact integer formula.
    */
  def hllBuckets(df: DataFrame, valueCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val w = 32 - p
    df.select(
        expr(s"cast(conv(substring(md5(cast($valueCol as string)), 1, 8), 16, 10) as bigint)").as("h"))
      .select((col("h") % m).as("bucket"), expr(s"h div $m").as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(expr("bin(rest)"))).as("rank"))
      .groupBy("bucket").agg(max("rank").as("max_rank"))
  }

  /** KMV (bottom-k by hash) quantile sketch over the DISTINCT value domain:
    * keep the k values with the smallest md5 hash — a deterministic uniform
    * sample of the distinct domain, because md5 order is independent of value
    * order — then answer quantile q with the ceil(q·|sample|)-th order
    * statistic of the sampled VALUES. Emits (q_num, q_den, est, exact) so the
    * estimate ships next to the exact answer and the driver gate sees both.
    *
    * Why this shape scales where exact percentiles don't: exact needs a
    * total sort (or a percentile map-aggregate holding every distinct value);
    * the sketch is one distinct aggregate (map-side combined, shuffle bounded
    * by distinct values) + a bottom-k TakeOrderedAndProject (per-partition
    * heaps, no global sort) whose k rows the driver ranks. The
    * bottom-k-of-hash merge is commutative and idempotent, so the result is
    * INDEPENDENT of partitioning — replayable bit-for-bit in any engine,
    * unlike sample-based sketches keyed on row order.
    *
    * The exact side ranks the whole domain without a single-partition
    * window: the domain is range-partitioned and sorted once (checkpointed),
    * the driver prefix-sums the per-partition counts (O(#partitions), as
    * Medallion.withScalableSurrogateId does), and one pass reads each
    * wanted order statistic from the one partition that holds it. The
    * answer is a local frame of one row per quantile.
    */
  def kmvQuantile(df: DataFrame, valueCol: String, k: Int,
                  quantiles: Seq[(Int, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val Seq(domain) = Par.materialize(df.select(col(valueCol).cast("long").as("v")).distinct()
      .repartitionByRange(col("v")).sortWithinPartitions("v"))
    val sample = domain.orderBy(md5(col("v").cast("string")), col("v")).limit(k)
      .collect().map(_.getLong(0)).sorted
    // offsets(i) = values before partition i; offsets.last = |domain|
    val offsets = domain.rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2).scanLeft(0L)(_ + _)
    val n = offsets.last
    // integer ceil(a*q) = (a*num + den - 1) div den — no float enters the
    // rank; ranks outside 1..a have no order statistic and no row
    def rank(a: Long, q: (Int, Int)): Option[Long] =
      Some((a * q._1 + q._2 - 1) / q._2).filter(r => r >= 1 && r <= a)
    val wanted = quantiles.flatMap(rank(n, _)).toSet
    val exact = domain.rdd.mapPartitionsWithIndex { case (i, it) =>
      it.zipWithIndex.collect { case (r, j) if wanted(offsets(i) + j + 1) => (offsets(i) + j + 1, r.getLong(0)) }
    }.collect().toMap
    quantiles.flatMap { q =>
      for (sr <- rank(sample.length, q); er <- rank(n, q)) yield (q._1, q._2, sample(sr.toInt - 1), exact(er))
    }.toDF("q_num", "q_den", "est", "exact")
  }

  /** GROUPED KMV quantile sketch — [[kmvQuantile]] per group, in the shape
    * that actually scales: the bottom-k-by-hash selection and the value
    * ranks are windows PARTITIONED BY the group key (hash-distributed, no
    * global ordering anywhere), so per-group sketch state is k rows and the
    * whole estimate costs two partitioned window passes over the distinct
    * (group, value) domain. Emits estimate AND exact per (group, quantile)
    * so the sketch's error is driver-visible per group, like the global
    * form.
    */
  def kmvQuantileGrouped(df: DataFrame, groupCol: String, valueCol: String, k: Int,
                         quantiles: Seq[(Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val domain = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v")).distinct()
    val byG = Window.partitionBy("g")
    val sample = domain
      .withColumn("hrk", row_number().over(byG.orderBy(md5(col("v").cast("string")), col("v"))))
      .filter(col("hrk") <= k)
    val ranked = sample
      .withColumn("rk", row_number().over(byG.orderBy("v")).cast("long"))
      .withColumn("sn", count(lit(1)).over(byG).cast("long"))
    val exact = domain
      .withColumn("erk", row_number().over(byG.orderBy("v")).cast("long"))
      .withColumn("en", count(lit(1)).over(byG).cast("long"))
    val qdf = broadcast(quantiles.toDF("q_num", "q_den"))
    qdf.join(ranked, expr("rk = (sn * q_num + q_den - 1) div q_den"))
      .select(col("g"), col("q_num"), col("q_den"), col("v").as("est"))
      .join(qdf.join(exact, expr("erk = (en * q_num + q_den - 1) div q_den"))
          .select(col("g"), col("q_num"), col("q_den"), col("v").as("exact")),
        Seq("g", "q_num", "q_den"))
      .withColumnRenamed("g", groupCol)
  }

  /** Scalar HLL estimate alongside the exact distinct count. The estimate is
    * emitted as floor(est * 10^4) — an integer, so no float rendering enters
    * the comparison surface. alphaM for m=64 is the standard 0.709.
    */
  def hllDistinct(df: DataFrame, valueCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val alphaM2 = alphaTimesM2(p)
    val sketch = hllBuckets(df, valueCol, p)
      .agg(count(lit(1)).as("nb"), sum(expr("power(2.0, -max_rank)")).as("s_obs"))
      .select(floor(lit(alphaM2) / (col("s_obs") + (lit(m) - col("nb"))) * 10000)
        .cast("long").as("hll_estimate_e4"))
    val exact = df.agg(countDistinct(col(valueCol)).as("exact_distinct"))
    exact.crossJoin(sketch)
  }

  /** W12/A16: SLIDING-WINDOW approximate distinct — per-day HLL sketches of
    * the value domain, merged over a trailing `frameDays`-day frame by
    * per-bucket max-rank. Sketch merge = max is what makes distinct-count
    * rollups INCREMENTAL at 100 TB: the daily sketch table is bounded by
    * days × m rows (constant per day, mergeable forever), so any trailing
    * window's distinct estimate derives from it without rescanning raw
    * events — the property countDistinct fundamentally lacks (it cannot
    * pre-aggregate). Same portable integer/power-of-two arithmetic as
    * [[hllDistinct]], so every per-day estimate replays bit-for-bit.
    *
    * Shape: one (day, bucket) partial aggregate over the events (shuffle
    * bounded by days × m); the frame merge is a range join against the
    * BROADCAST distinct-day calendar (bounded by the calendar, never the
    * data) + one (day, bucket)-bounded aggregate. The exact countDistinct
    * column is the verification channel, emitted beside the estimate like
    * hllDistinct — at production scale it is the column you drop.
    */
  def slidingHllDistinct(df: DataFrame, valueCol: String, dayCol: String,
                         p: Int, frameDays: Int): DataFrame = {
    val m = 1 << p
    val w = 32 - p
    val alphaM2 = alphaTimesM2(p)
    val daily = df.select(col(dayCol).as("day"),
        expr(s"cast(conv(substring(md5(cast($valueCol as string)), 1, 8), 16, 10) as bigint)").as("h"))
      .select(col("day"), (col("h") % m).as("bucket"), expr(s"h div $m").as("rest"))
      .select(col("day"), col("bucket"),
        when(col("rest") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(expr("bin(rest)"))).as("rank"))
      .groupBy("day", "bucket").agg(max("rank").as("max_rank"))
    val days = df.select(col(dayCol).as("target_day")).distinct()
    val frame = daily.join(broadcast(days),
        col("day").between(col("target_day") - (frameDays - 1), col("target_day")))
      .groupBy(col("target_day"), col("bucket")).agg(max("max_rank").as("mr"))
    val est = frame.groupBy("target_day")
      .agg(count(lit(1)).as("nb"), sum(expr("power(2.0, -mr)")).as("s_obs"))
      .select(col("target_day"),
        floor(lit(alphaM2) / (col("s_obs") + (lit(m) - col("nb"))) * 10000)
          .cast("long").as("hll_estimate_e4"))
    df.select(col(dayCol).as("day"), col(valueCol).as("__v"))
      .join(broadcast(days),
        col("day").between(col("target_day") - (frameDays - 1), col("target_day")))
      .groupBy("target_day").agg(countDistinct(col("__v")).as("exact_distinct"))
      .join(est, Seq("target_day"))
      .select(col("target_day").as("day"), col("exact_distinct"), col("hll_estimate_e4"))
  }

  /** alpha_m * m^2 for the standard HLL bias correction; the same double is
    * embedded as a literal in the oracle SQL so both engines divide by the
    * identical value.
    */
  def alphaTimesM2(p: Int): Double = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    alpha * m * m
  }

  /** Portable row hash for sketch row r over a string value: integer value of
    * the first 8 md5 hex digits of "r:value" — same formula as the oracle.
    */
  private def rowHash(r: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{concat, lit, conv, substring, md5}
    conv(substring(md5(concat(r.cast("string"), lit(":"), v)), 1, 8), 16, 10).cast("long")
  }

  /** Count-min sketch over a value stream: d independent hash rows × w
    * buckets, counter(r, b) = #occurrences hashing to bucket b under row r.
    * Entirely integer (md5-derived hashes, modular bucketing, counts), so the
    * sketch — and any estimate read from it — is bit-identical across
    * engines.
    *
    * 100 TB design: the only shuffle carries at most d×w rows after map-side
    * partial counting — the sketch is CONSTANT-size regardless of stream
    * cardinality, and per-bucket counts are mergeable across shards/days
    * (sum), which is what makes it the streaming/incremental heavy-hitter
    * primitive.
    */
  def countMinSketch(df: DataFrame, valueCol: String, d: Int, w: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val seeds = broadcast((0 until d).toDF("r"))
    // widen before the d-way hash fan-out: the d md5 evaluations per input
    // row otherwise run inside the (possibly single-task) scan stage
    graft.operators.Par.widen(df.select(col(valueCol).cast("string").as("v")))
      .crossJoin(seeds)
      .select(col("r"), (rowHash(col("r"), col("v")) % w).as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters with count-min estimates: the k most frequent values (by
    * exact count — the validation side) alongside their count-min estimate
    * (min over the d rows of the value's bucket counter). cm_est >= exact_cnt
    * always; equality shows the sketch resolving that value collision-free.
    * At corpus scale the exact pass is replaced by sketch+heap; here it is
    * the oracle check of the sketch itself.
    */
  def heavyHitters(df: DataFrame, valueCol: String, d: Int, w: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dfw = graft.operators.Par.widen(df)
    val sketch = countMinSketch(dfw, valueCol, d, w)
    val seeds = broadcast((0 until d).toDF("r"))
    // `exact` feeds both the CM-estimate probe and the final join. Lazy is
    // the right call: both references share the same groupBy exchange, so
    // ReuseExchange computes the token pass once within the single plan —
    // an eager localCheckpoint here was measured to HURT the bench number
    // (cold 3.06 -> ~8 s): it adds a whole extra QueryExecution (planning +
    // codegen) plus a serial job, far exceeding the one TakeOrdered re-read
    // it saves.
    val exact = dfw.select(col(valueCol).cast("string").as("v"))
      .groupBy("v").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("v")).limit(k)
    val est = exact.select("v").crossJoin(seeds)
      .select(col("v"), col("r"), (rowHash(col("r"), col("v")) % w).as("bucket"))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("v").agg(min("cnt").as("cm_est"))
    exact.join(est, Seq("v"))
      .select(col("v").as("value"), col("exact_cnt"), col("cm_est"))
  }

  /** Bloom filter over a key set, packed 32 bits per BIGINT word (bit 31 is
    * the highest used — no sign bit anywhere, so shift semantics agree across
    * engines). kHashes md5-derived positions per key; one tiny shuffle of at
    * most mBits/32 words builds it.
    */
  def bloomWords(keys: DataFrame, keyCol: String, mBits: Int, kHashes: Int): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val seeds = broadcast((0 until kHashes).toDF("r"))
    keys.select(col(keyCol).cast("string").as("v")).distinct()
      .crossJoin(seeds)
      .select((rowHash(col("r"), col("v")) % mBits).as("pos"))
      .select(expr("cast(pos div 32 as int)").as("word_idx"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").as("bit"))
      .groupBy("word_idx").agg(expr("bit_or(bit)").as("word"))
  }

  /** Probe-side membership test: adds `bloom_pass` (1 = possibly in the set,
    * 0 = definitely not) without shuffling the probe side — each of the
    * kHashes lookups is a broadcast join against the <= mBits/32-row word
    * table. This is the semi-join-pushdown shape: at 100 TB the fact table
    * streams through map tasks, losing bloom-negative rows before any
    * exchange, and only survivors pay the exact join.
    */
  def bloomProbe(probe: DataFrame, keyCol: String, words: DataFrame,
                 mBits: Int, kHashes: Int): DataFrame = {
    var df = probe
    (0 until kHashes).foreach { i =>
      val w = words.select(col("word_idx").as(s"__wi$i"), col("word").as(s"__w$i"))
      df = df.withColumn(s"__pos$i", rowHash(lit(i), col(keyCol).cast("string")) % mBits)
        .withColumn(s"__wi$i", expr(s"cast(__pos$i div 32 as int)"))
        .join(broadcast(w), Seq(s"__wi$i"), "left")
        .withColumn(s"__hit$i",
          coalesce(expr(s"shiftright(__w$i, cast(__pos$i % 32 as int)) & 1"), lit(0L)))
        .drop(s"__wi$i", s"__w$i", s"__pos$i")
    }
    val pass = (0 until kHashes).map(i => col(s"__hit$i")).reduce(least(_, _))
    df.withColumn("bloom_pass", pass.cast("int"))
      .drop((0 until kHashes).map(i => s"__hit$i"): _*)
  }
}
