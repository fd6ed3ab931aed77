package graft

import org.apache.spark.sql.functions._

import graft.functions.ArrayOps
import graft.operators.ext.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exactByKey keeps lowest tie-break per key and is idempotent") {
    val df = docs((3L, "a b"), (1L, "a b"), (2L, "c d"))
    val once = Dedup.exactByKey(df, Seq("text"), "doc_id")
    assert(once.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Dedup.exactByKey(once, Seq("text"), "doc_id").count() == once.count())
  }

  test("shingles produces n-1 fewer bigrams than tokens") {
    val s = Dedup.shingles(docs((1L, "a b c d")), "doc_id", "text", 2)
    assert(s.collect().map(_.getString(1)).toSet == Set("a b", "b c", "c d"))
  }

  test("dedupParagraphs keeps the first corpus-wide occurrence of a block, reassembles in order") {
    // blockTokens = 2: doc1 = [x y][z w], doc2 = [x y][q r], doc3 = [z w];
    // "x y" and "z w" first occur in doc1, so doc2 keeps only "q r" and
    // doc3 collapses to empty text (row kept, not dropped)
    val df = docs((1L, "x y z w"), (2L, "x y q r"), (3L, "z w"))
    val out = Dedup.dedupParagraphs(df, "doc_id", "text", 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, "x y z w", 2, 2L), (2L, "q r", 2, 1L), (3L, "", 1, 0L)))
  }

  test("band keys of text and of hash arrays equal the MinHash model") {
    import spark.implicits._
    val rows = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").limit(100)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(rows.size == 100)
    val corpus = rows.toDF("doc_id", "text")
    def model(n: Int) = rows.map { case (id, t) =>
      id -> MinhashModel.bandKeys(MinhashModel.tokens(t, n).map(MinhashModel.tokenHash), 8)
    }.toMap
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "bands").as[(Long, Seq[String])].collect().toMap
    // the kernel over each document's distinct token hashes (n-gram tokens
    // for n > 1), as minhashLshPairs feeds it
    def hashArrayKeys(n: Int) = keys(Dedup.shingles(corpus, "doc_id", "text", n)
      .withColumn("h", Dedup.tokenHash)
      .groupBy("doc_id").agg(sort_array(collect_set(col("h"))).as("toks"))
      .select(col("doc_id"), ArrayOps.minhashBandKeys(col("toks"), 8).as("bands")))

    assert(keys(Dedup.withBandKeys(corpus, "text", 8, "bands")) == model(1))
    // documents without a token have no row in the hash-array form
    assert(hashArrayKeys(1) == model(1).filter(_._2.nonEmpty))
    assert(hashArrayKeys(2) == model(2).filter(_._2.nonEmpty))
    assert(model(2).values.exists(_.nonEmpty))
  }

  test("pairSourceMatrix canonicalizes the unordered source pair into one cell") {
    import spark.implicits._
    val meta = Seq((1L, "A"), (2L, "B"), (3L, "B"), (4L, "A"), (5L, "A"), (6L, "A"))
      .toDF("doc_id", "source")
    // (1,2) is A-B and (3,4) is B-A: both must land in the (A, B) cell
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.pairSourceMatrix(pairs, meta, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("A", "B", 2L), ("A", "A", 1L)))
  }

  test("survivorship: longest member wins, smallest id breaks length ties, sizes exact") {
    import spark.implicits._
    val d = Seq((1L, "aaaa"), (2L, "aaaaaa"), (3L, "aaaaaa"), (4L, "bb"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)).toDF("doc_id", "cluster")
    val got = Dedup.survivorship(d, "doc_id", "text", clusters)
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // docs 2 and 3 tie at length 6: the smaller id must win
    assert(got == Seq((1L, 2L, 6L, 3L), (4L, 4L, 2L, 1L)))
  }

  test("jaccardPairs: identical docs meet any threshold; disjoint docs never") {
    val df = docs((1L, "x y z"), (2L, "x y z"), (3L, "p q r"))
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 1, 19, 20).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("minhashLshPairs finds exact duplicates (same signature, all bands collide)") {
    val df = docs((1L, "the quick brown fox"), (2L, "the quick brown fox"), (3L, "entirely different words here"))
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 4, 19, 20).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("simhash: equal token sets get equal signatures; different sets differ") {
    val sig = Dedup.simhash(docs((1L, "a b c"), (2L, "c b a"), (3L, "totally other tokens")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L)) // set semantics: order-insensitive
    assert(sig(1L) != sig(3L))
  }

  test("ngramContamination flags docs embedding a benchmark n-gram, counts distinct hits") {
    val corpus = docs(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "intro words then the quick brown fox jumps here"), // embeds bench 5-gram
      (12L, "completely unrelated text with no overlap at all"))
    val bench = docs((0L, "the quick brown fox jumps"))
    val res = Dedup.ngramContamination(corpus, "doc_id", "text", bench, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.contains(10L) && res.contains(11L), "both docs embed the benchmark 5-gram")
    assert(!res.contains(12L), "clean doc must not be flagged")
    assert(res(11L) == 1L, "exactly one distinct colliding 5-gram")
  }

  private def embeddings(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosinePairs: parallel vectors ~1.0, orthogonal filtered out") {
    val df = embeddings(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(2f, 0f, 0f, 0f)), (3L, Seq(0f, 1f, 0f, 0f)))
    val pairs = Similarity.cosinePairs(df, new java.math.BigDecimal("0.900000")).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(math.abs(pairs.head.getDecimal(2).doubleValue() - 1.0) < 1e-6)
  }

  test("annTopK ranks the closest neighbour first") {
    val df = embeddings(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f)))
    val top = Similarity.annTopK(df, 2, 1).filter(col("id_a") === 0L)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("ivfTopK finds exact duplicates through the probed cells") {
    val df = embeddings(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),          // act as centroids
      (2L, Seq(0.9f, 0.1f, 0f)), (3L, Seq(0.9f, 0.1f, 0f)),  // dup pair near cell 0
      (4L, Seq(0f, 0.9f, 0.2f)))
    val res = Similarity.ivfTopK(df, 1, nlist = 2, nprobe = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res(2L) == 3L && res(3L) == 2L) // nearest neighbour within the cell
  }

  test("quantizeInt8: min maps to 0, max to 255, constant dims to 0, all in range") {
    val df = embeddings(
      (0L, Seq(0f, 5f, 7f)), (1L, Seq(10f, 5f, 3f)), (2L, Seq(2f, 5f, 5f)))
    val q = Similarity.quantizeInt8(df).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(q((0L, 0)) == 0 && q((1L, 0)) == 255) // dim-0 min and max
    assert(q((2L, 0)) == 51)                     // 255 * 2/10 = 51 exactly
    assert(Seq(0L, 1L, 2L).forall(i => q((i, 1)) == 0)) // constant dim
    assert(q.values.forall(v => v >= 0 && v <= 255))
  }

  test("semanticDedup keeps the min id of each within-cell near-dup group") {
    val df = embeddings(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),          // act as centroids
      (2L, Seq(0.9f, 0.1f, 0f)), (3L, Seq(0.9f, 0.1f, 0f)),  // dup pair → 3 dropped
      (4L, Seq(0f, 0.9f, 0.2f)))                              // alone near cell 1
    val res = Similarity.semanticDedup(df, nlist = 2, new java.math.BigDecimal("0.999000"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(res(2L) && !res(3L), "higher id of the dup pair must be dropped")
    assert(res(4L), "a vector with no near-dup cell-mate survives")
    assert(res.count(!_._2) == 1)
  }

  test("semanticDedupGreedy keeps chain endpoints the single-pass rule drops") {
    // one cell (nlist=1), a similarity CHAIN 0~1, 1~2, 0≁2 (unit vectors at
    // 0°, 50°, 100°; threshold cos60° = 0.5): sequential greedy keeps 0,
    // drops 1 (kept neighbour 0), keeps 2 (its only lower near-dup, 1, was
    // NOT kept) — while the single-pass min-id rule drops 2 as well
    def deg(d: Double) = Seq(math.cos(math.toRadians(d)).toFloat, math.sin(math.toRadians(d)).toFloat)
    val df = embeddings((0L, deg(0)), (1L, deg(50)), (2L, deg(100)))
    val t = new java.math.BigDecimal("0.500000")
    val greedy = Similarity.semanticDedupGreedy(df, nlist = 1, t)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(greedy(0L) && !greedy(1L) && greedy(2L),
      s"greedy must keep chain endpoints {0, 2}, got $greedy")
    val singlePass = Similarity.semanticDedup(df, nlist = 1, t)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(singlePass(0L) && !singlePass(1L) && !singlePass(2L),
      s"single-pass min-id must drop both chain followers, got $singlePass")
  }

  test("ivfTopK recall vs brute force on real embeddings (nprobe=4 of 16 cells)") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val exact = Similarity.annTopK(emb, 1, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 1, nlist = 16, nprobe = 4)
      .filter(col("id_a") < 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF top-1 recall $recall too low")
  }

  test("asOfJoin attaches the latest right value at-or-before each left time") {
    import spark.implicits._
    import graft.operators.Relational
    val clicks = Seq((1L, 10L, 100L), (1L, 11L, 250L), (2L, 12L, 100L))
      .toDF("user_id", "event_id", "ts_us")
    val purchases = Seq((1L, 100L, BigDecimal("5.00")), (1L, 200L, BigDecimal("7.00")))
      .toDF("user_id", "ts_us", "p_value")
    val out = Relational.asOfJoin(clicks, purchases, "user_id", "ts_us", "event_id", "p_value")
      .collect().map(r => r.getLong(0) -> Option(r.getDecimal(3)).map(_.toPlainString)).toMap
    assert(out(10L).get.startsWith("5"))  // ts 100: purchase at 100 matches (<=)
    assert(out(11L).get.startsWith("7"))  // ts 250: latest purchase at 200
    assert(out(12L).isEmpty)              // user 2 never purchased
  }

  test("lshTopK: identical vectors share a bucket and rank each other first") {
    val df = embeddings(
      (0L, Seq.fill(64)(0.5f)), (1L, Seq.fill(64)(0.5f)), (2L, Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)))
    val res = Similarity.lshTopK(df, 1, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res.contains((0L, 1L)) && res.contains((1L, 0L)))
  }

  test("lshTopK recall vs brute force on planted near-duplicates (8 planes)") {
    // The fixture embeddings are pure random vectors (no pair reaches cos 0.5),
    // which is outside LSH's contract — sign-LSH retrieves NEAR-duplicates.
    // Plant them: ids 0..29 are tiny perturbations of ids 1000..1029
    // (cos ≈ 0.9999); brute force is ground truth on the same corpus.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Seq.tabulate(128)(i => (1000L + i, vec()))
    val planted = base.take(30).zipWithIndex.map { case ((_, v), i) =>
      (i.toLong, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    import spark.implicits._
    val emb = (base ++ planted).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val exact = Similarity.annTopK(emb, 1, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, 1, 8)
      .filter(col("id_a") < 30).filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.7, s"LSH top-1 recall $recall too low")
  }

  test("bucketedTopK never pairs across buckets and ranks within-bucket by cosine") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq.fill(4)(1.0f), 0),
      (1L, Seq.fill(4)(0.9f), 0),          // same bucket as 0, cos 1.0
      (2L, Seq(1f, -1f, 1f, -1f), 0),      // same bucket, orthogonal
      (3L, Seq.fill(4)(1.0f), 1))          // identical to 0 but other bucket
      .toDF("vec_id", "embedding", "bkt")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"), col("bkt"))
    val rows = Similarity.bucketedTopK(df, "bkt", 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(0L) == 1L && rows(1L) == 0L) // parallel vectors rank first
    assert(rows(2L) != 3L)                   // never paired across buckets
    assert(!rows.contains(3L))               // singleton bucket emits nothing
  }

  test("multi-probe lshTopK dominates single-probe recall on the planted fixture") {
    val rnd = new scala.util.Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Seq.tabulate(128)(i => (1000L + i, vec()))
    val planted = base.take(30).zipWithIndex.map { case ((_, v), i) =>
      (i.toLong, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    import spark.implicits._
    val emb = (base ++ planted).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val exact = Similarity.annTopK(emb, 1, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(multiProbe: Boolean): Double = {
      val hits = Similarity.lshTopK(emb, 1, 8, dim = 64, probeHamming1 = multiProbe)
        .filter(col("id_a") < 30).filter(col("rk") === 1).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(hits.contains).toDouble / exact.size
    }
    val single = recallOf(multiProbe = false)
    val multi = recallOf(multiProbe = true)
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi >= 0.8, s"multi-probe recall $multi too low")
  }

  test("semanticDedup with trained KMeans quantizer drops a planted near-duplicate deterministically") {
    // plant one exact duplicate pair inside real embeddings; the trained-path
    // pipeline (KMeans cells instead of the stand-in) must drop the higher id
    // of the pair (same cell — identical vectors always assign together) and
    // be run-to-run deterministic (seeded init)
    val base = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 200)
    val dup = base.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val emb = base.unionByName(dup)
    def run() = Similarity.semanticDedup(emb, nlist = 8,
        new java.math.BigDecimal("0.999000"), trainIters = 5)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    val a = run()
    val m = a.toMap
    assert(m(7L), "lower id of the planted duplicate pair survives")
    assert(!m(10007L), "higher id of the planted duplicate pair is dropped")
    assert(a == run(), "trained path must be deterministic across runs")
  }

  test("ivfTopK recall with seeded-KMeans centroids (nprobe=4 of 16 cells)") {
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val exact = Similarity.annTopK(emb, 1, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 1, nlist = 16, nprobe = 4, trainIters = 5)
      .filter(col("id_a") < 30).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"trained-IVF top-1 recall $recall too low")
  }

  test("repeatedSubstringStats finds cross-doc windows, ignores within-doc repeats") {
    // window 10, stride 5: doc1 has 3 windows, its first ("ABCDEFGHIJ")
    // recurs verbatim in doc2 at an aligned offset -> shared in both; doc3
    // is shorter than the window (no row); doc4's two windows are the SAME
    // hash but only 1 distinct doc -> not shared
    val df = docs(
      (1L, "ABCDEFGHIJKLMNOPQRST"),
      (2L, "ZZZZZABCDEFGHIJ"),
      (3L, "short"),
      (4L, "QQQQQQQQQQQQQQQ"))
    val out = Dedup.repeatedSubstringStats(df, "doc_id", "text", window = 10, stride = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 3L, 1L), (2L, 2L, 1L), (4L, 2L, 0L)))
  }

  test("removeRepeatedSpans cuts later occurrences and reassembles in order") {
    // window 4: doc1 = AAAA|BBBB|CC (3 chunks incl. trailing partial).
    // doc2 repeats AAAA (cut, first seen in doc1) around its own ZZZZ;
    // doc2's own trailing AAAA repeat is also cut. doc3 is ENTIRELY
    // earlier-seen content -> collapses to empty text, row retained.
    // doc4 is empty (0 chunks). Within-doc repeat: doc1 keeps its first CC.
    val df = docs(
      (1L, "AAAABBBBCC"),
      (2L, "ZZZZAAAAAAAA"),
      (3L, "BBBBAAAA"),
      (4L, ""))
    val out = Dedup.removeRepeatedSpans(df, "doc_id", "text", window = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "AAAABBBBCC", 3, 0L),
      (2L, "ZZZZ", 3, 2L),
      (3L, "", 2, 2L),
      (4L, "", 0, 0L)))
  }

  test("pqTopK: with the codebook covering every vector, ADC distance is the exact quantized L2") {
    // ncodes >= N means every vector assigns to itself at distance 0, so
    // the asymmetric-distance sum collapses to the true quantized L2 —
    // checked against a locally recomputed brute force over quantizeInt8
    val df = embeddings(
      (0L, Seq(0f, 1f, 2f, 3f)), (1L, Seq(0f, 1f, 2f, 3f)),
      (2L, Seq(3f, 2f, 1f, 0f)), (3L, Seq(1f, 1f, 1f, 1f)))
    val qv = Similarity.quantizeInt8(df).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getInt(2))).toMap
    def l2(a: Long, b: Long): Long =
      qv(a).zip(qv(b)).map { case (x, y) => ((x - y).toLong * (x - y)) }.sum
    val out = Similarity.pqTopK(df, dim = 4, m = 2, ncodes = 4, k = 3, queryLimit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, d) => assert(d == l2(a, b), s"adist($a,$b)") }
    // duplicate vectors 0 and 1 must be each other's rank-1 at distance 0
    val top1 = Similarity.pqTopK(df, 4, 2, 4, 1, 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(top1(0L) == (1L, 0L) && top1(1L) == (0L, 0L))
  }

  test("ivfPqTopK with nprobe = nlist admits everything and equals the ungated pqTopK") {
    val df = embeddings(
      (0L, Seq(0f, 1f, 2f, 3f)), (1L, Seq(0f, 1f, 2f, 3f)),
      (2L, Seq(3f, 2f, 1f, 0f)), (3L, Seq(1f, 1f, 1f, 1f)),
      (4L, Seq(9f, 0f, 9f, 0f)), (5L, Seq(0f, 9f, 0f, 9f)))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val full = rows(Similarity.pqTopK(df, dim = 4, m = 2, ncodes = 4, k = 2, queryLimit = 10))
    val gated = rows(Similarity.ivfPqTopK(df, dim = 4, m = 2, ncodes = 4,
      nlist = 3, nprobe = 3, k = 2, queryLimit = 10))
    assert(gated == full)
    // a selective gate changes WHICH pairs surface, never their distance:
    // where a (query, vec) pair appears in both, the ADC distance agrees
    val tight = rows(Similarity.ivfPqTopK(df, 4, 2, 4, nlist = 3, nprobe = 1, k = 2, 10))
    assert(tight.nonEmpty)
    val fullD = full.map { case (a, b, d, _) => (a, b) -> d }.toMap
    tight.foreach { case (a, b, d, _) =>
      fullD.get((a, b)).foreach(fd => assert(fd == d, s"adist($a,$b)")) }
  }

  test("embeddingDrift: identical slices drift equally; all-identical corpus drifts zero") {
    import spark.implicits._
    def emb(rows: (Long, Seq[Float], Int)*) = rows.toDF("vec_id", "embedding", "label")
    // slices 1 and 2 hold the same vector multiset, slice 3 a shifted one:
    // 1 and 2 must report the SAME scaled drift (and nonzero, since 3 pulls
    // the corpus centroid away)
    val three = Similarity.embeddingDrift(emb(
        (0L, Seq(0f, 0f), 1), (1L, Seq(2f, 2f), 1),
        (2L, Seq(0f, 0f), 2), (3L, Seq(2f, 2f), 2),
        (4L, Seq(10f, 10f), 3), (5L, Seq(12f, 12f), 3)), "label")
      .collect().map(r => r.getInt(0) -> r.getDecimal(2).longValueExact()).toMap
    assert(three(1) == three(2) && three(1) > 0L)
    // drop slice 3: every slice's distribution equals the corpus' -> zero
    val two = Similarity.embeddingDrift(emb(
        (0L, Seq(0f, 0f), 1), (1L, Seq(2f, 2f), 1),
        (2L, Seq(0f, 0f), 2), (3L, Seq(2f, 2f), 2)), "label")
      .collect().map(r => r.getDecimal(2).longValueExact())
    assert(two.forall(_ == 0L))
  }

  test("containmentPairs catches an embedded doc that Jaccard misses") {
    // doc1's word sequence appears verbatim inside doc2: bigram containment
    // = 3/3 = 1.0, but Jaccard = 3/8 — the asymmetric case the operator
    // exists for. doc3 shares nothing.
    val df = docs((1L, "p q r s"), (2L, "x p q r s y z w v"), (3L, "m n o"))
    val out = Dedup.containmentPairs(df, "doc_id", "text", 2, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq((1L, 2L, 3L, 3L, 8L)))
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 2, 9, 10).collect().isEmpty)
  }

  test("containmentPairs count filter relaxes for docs smaller than prefixDepth") {
    // the contained doc has ONE bigram, so ceil(t·|A|) = 1 < prefixDepth:
    // the multi-prefix count requirement must relax to min(q, ceil(t·|A|))
    // or this qualifying pair (overlap exactly at threshold) would be lost
    val df = docs((1L, "p q"), (2L, "a p q b"), (3L, "m n o"))
    val out = Dedup.containmentPairs(df, "doc_id", "text", 2, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq((1L, 2L, 1L, 1L, 3L)))
  }

  test("substringContamination matches unaligned verbatim spans via the stride-1 benchmark grid") {
    // corpus doc 1 quotes the benchmark text at offset 3 — its stride-5
    // windows ("E QUICK BR" at pos 6, "CK BROWN F" at pos 11) start at
    // NON-stride positions of the benchmark, so only the benchmark's
    // stride-1 grid can catch them
    val bench = docs((100L, "THE QUICK BROWN FOX JUMPS"))
    val corpus = docs((1L, "abcTHE QUICK BROWN FOX"), (2L, "nothing shared here at all"))
    val out = Dedup.substringContamination(corpus, "doc_id", "text", bench,
        window = 10, stride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("clusterSplit: same cluster always lands in the same split, no shuffle") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster")
    val out = Dedup.clusterSplit(clusters, trainPct = 80, valPct = 10)
    val bySplit = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val splitOf = bySplit.map(t => t._1 -> t._3).toMap
    assert(splitOf(1L) == splitOf(2L) && splitOf(3L) == splitOf(4L))
    assert(bySplit.forall(t => Set("train", "val", "test")(t._3)))
    // leakage-safety is a pure projection: no shuffle beyond clustering's
    val p = out.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"clusterSplit added a shuffle:\n$p")
  }

  test("fuzzyLookup: PassJoin blocking finds every dist<=1 match, wherever the edit lands") {
    import spark.implicits._
    val catalog = Seq((1L, "golden spring"), (2L, "golden sprint"), (3L, "silver spring"))
      .toDF("id", "name")
    val probes = Seq(
      (10L, "golden sprng"),  // deletion in the SECOND half
      (11L, "ilver spring"),  // deletion of the FIRST char (kills any prefix block)
      (12L, "golden sprin"),  // dist 1 to BOTH golden entries: tie
      (13L, "golden spring"), // exact
      (14L, "quartz lamp")    // nothing within dist 1
    ).toDF("id", "s")
    val out = graft.operators.ext.Similarity.fuzzyLookup(
      probes, catalog, "id", "s", "id", "name", maxDist = 1)
    val got = out.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(4))).toMap
    assert(got(10L) == (1L, 1))
    assert(got(11L) == (3L, 1), "pigeonhole blocking must survive a first-char edit")
    assert(got(12L) == (1L, 1), "tie at dist 1 resolves by (name, id) deterministically")
    assert(got(13L) == (1L, 0))
    assert(!got.contains(14L))
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("ShuffledHashJoin"),
      s"segment-key join must be shuffle-hash:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match must never go all-pairs:\n${plan.take(1200)}")
  }

  test("float_dot raises on ragged arrays instead of silently truncating") {
    val df = embeddings((0L, Seq(1f, 2f)), (1L, Seq(1f, 2f, 3f)))
    val ragged = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(org.apache.spark.sql.functions.expr("float_dot(a.embedding, b.embedding)"))
    val e = intercept[Exception](ragged.collect())
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("float_dot: array length mismatch"))))
  }

  test("bm25TopK: term-matching doc outranks non-matching; rarity beats commonality; self excludable") {
    import spark.implicits._
    val docs = Seq(
      (0L, "rare gem rare gem shines"),
      (1L, "common word common word common word common word"),
      (2L, "rare gem"),
      (3L, "common word here"),
      (4L, "nothing relevant at all"),
      (5L, "rare gem padding padding padding padding")
    ).toDF("doc_id", "text")
    // 'rare'/'gem' hit docs {0,2,5}; 'common'/'word' hit {1,3}
    val queries = Seq((0L, "rare gem"), (1L, "common word")).toDF("query_id", "qtext")
    val out = graft.operators.ext.TextAnalysis
      .bm25TopK(docs, queries, "doc_id", "text", "query_id", "qtext", 3)
    val byQ = out.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(r => r.getLong(1) -> r.getLong(2))).toMap
    // query 0: exactly the matching docs, nothing irrelevant, scores positive
    assert(byQ(0L).map(_._1).toSet == Set(0L, 2L, 5L))
    assert(byQ(0L).forall(_._2 > 0))
    // tf saturation: doc 0 (tf=2 per term) outranks both tf=1 docs — k1=1.2
    // rewards the repeat, but sublinearly
    assert(byQ(0L).head._1 == 0L, s"tf=2 doc must rank first: ${byQ(0L).toSeq}")
    // length normalization: docs 2 and 5 tie on tf; the shorter must win
    assert(byQ(0L).map(_._1).indexOf(2L) < byQ(0L).map(_._1).indexOf(5L),
      s"equal-tf shorter doc must outrank longer: ${byQ(0L).toSeq}")
    assert(byQ(1L).map(_._1).toSet == Set(1L, 3L))
    // idf floor(log2(5/2)) = 1 for all four terms here; still no cross-talk
    val self = graft.operators.ext.TextAnalysis
      .bm25TopK(docs, queries, "doc_id", "text", "query_id", "qtext", 3, excludeSelf = true)
      .collect()
    assert(!self.exists(r => r.getLong(0) == r.getLong(1)),
      "excludeSelf must drop query_id = doc_id pairs")
    // scale shape: query-term filtering must reach the corpus via broadcast
    // (never a shuffle of the full posting list against the query set)
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term filter must broadcast:\n${plan.take(1500)}")
    // the only nested-loop join allowed is the 1-row totals scalar cross
    assert(!plan.contains("CartesianProduct"))
  }

  test("rrfFuse: consensus candidate beats a single-leg top hit; integer contributions exact") {
    import spark.implicits._
    // leg A top: x (rank 1); leg B top: y (rank 1); z is rank 2 in BOTH.
    // RRF(z) = 2*floor(1e6/62) = 32258 > RRF(x) = RRF(y) =
    // floor(1e6/61) = 16393 — consensus wins, the defining RRF property.
    val legA = Seq((0L, "x", 1), (0L, "z", 2), (0L, "w", 3)).toDF("query_id", "cand_id", "rk")
    val legB = Seq((0L, "y", 1), (0L, "z", 2)).toDF("query_id", "cand_id", "rk")
    val out = graft.operators.ext.Similarity
      .rrfFuse(Seq(legA, legB), "query_id", "cand_id", "rk", 10)
      .collect().sortBy(_.getInt(4))
    assert(out.head.getString(1) == "z" && out.head.getLong(2) == 2L * (1000000L / 62),
      s"consensus candidate must fuse to rank 1: ${out.toSeq}")
    assert(out.head.getLong(3) == 2L, "n_legs must count contributing legs")
    val xRow = out.find(_.getString(1) == "x").get
    assert(xRow.getLong(2) == 1000000L / 61 && xRow.getLong(3) == 1L)
    // deterministic tie-break between the two single-leg rank-1 hits
    assert(out.map(_.getString(1)).take(3).toSeq == Seq("z", "x", "y"))
  }

  test("pageRank: hub outranks leaves, mass bounded by SCALE, no cartesian in the unrolled plan") {
    import spark.implicits._
    // star + chain: every leaf points at the hub (0); hub points at 1
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val pr = graft.operators.ext.Graph.pageRank(edges, "src", "dst", 3)
    val ranks = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == 5)
    // the hub receives four leaves' mass every step; node 1 receives the
    // hub's; leaves receive nothing beyond the base
    assert(ranks(0L) > ranks(1L) && ranks(1L) > ranks(2L),
      s"in-link mass must order hub > hub-target > leaf: $ranks")
    assert(ranks(2L) == ranks(3L) && ranks(3L) == ranks(4L),
      "symmetric leaves must tie exactly (integer determinism)")
    // floors only shave mass — total can never exceed SCALE
    assert(ranks.values.sum <= graft.operators.ext.Graph.Scale)
    // determinism: a second evaluation is bit-identical
    assert(pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == ranks)
    val plan = pr.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      s"only the 1-row node-count broadcast may nest-loop:\n${plan.take(1200)}")
  }

  test("trustRank: mass starts and restarts on seeds; unreachable nodes stay exactly zero") {
    import spark.implicits._
    // two components: seeds can reach {0,1,2}; {8,9} interlink densely but
    // are unreachable from the seed — TrustRank's whole point
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val tr = graft.operators.ext.Graph.trustRank(edges, "src", "dst", seeds, "node", 3)
    val ranks = tr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(8L) == 0L && ranks(9L) == 0L,
      s"nodes unreachable from seeds must hold exactly zero trust: $ranks")
    assert(ranks(0L) > 0L && ranks(1L) > 0L && ranks(2L) > 0L)
    // the seed keeps its restart mass advantage over downstream nodes
    assert(ranks(0L) > ranks(2L), s"seed must outrank its 2-hop descendant: $ranks")
    assert(ranks.values.sum <= graft.operators.ext.Graph.Scale)
  }

  test("labelPropagate: seeds clamp, majority wins with min-label ties, unreachable stay null") {
    import spark.implicits._
    // node 3 hears label 1 from {0,1} and label 2 from {2} -> majority 1;
    // node 4 hears one vote each from {0(1), 2(2)} -> tie -> smallest (1);
    // node 5 is isolated; seed 2 also hears 1-votes but must stay clamped
    val edges = Seq((0L, 3L), (1L, 3L), (2L, 3L), (0L, 4L), (2L, 4L), (0L, 2L))
      .toDF("src", "dst")
    val seeds = Seq((0L, 1L), (1L, 1L), (2L, 2L)).toDF("node", "lab")
    val out = graft.operators.ext.Graph
      .labelPropagate(edges.unionByName(Seq((5L, 6L)).toDF("src", "dst")),
        "src", "dst", seeds, "node", "lab", 3)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(3L).contains(1L), s"majority label must win: $out")
    assert(out(4L).contains(1L), s"tie must break to the smallest label: $out")
    assert(out(2L).contains(2L), "a seed's hand-reviewed label must never flip")
    assert(out(5L).isEmpty, "a node no labeled path reaches must stay null")
    assert(out(6L).isEmpty, "a node fed only by unlabeled nodes must stay null")
  }

  test("coresetSelect: greedy farthest-point covers separated clusters before densifying one") {
    import spark.implicits._
    // three tight clusters far apart + the seed's twin: the greedy walk
    // must visit all three clusters before picking anyone's near-duplicate
    val emb = Seq(
      0L -> Seq(0f, 0f), 1L -> Seq(0.1f, 0f),        // cluster A (0 = seed)
      10L -> Seq(100f, 0f), 11L -> Seq(100.1f, 0f),  // cluster B
      20L -> Seq(0f, 100f), 21L -> Seq(0f, 100.1f)   // cluster C
    ).map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val picks = graft.operators.ext.Similarity.coresetSelect(emb, 4)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    assert(picks.head == 0L, "seed must be the minimum vec_id")
    assert(picks.take(3).map(_ / 10).toSet == Set(0L, 1L, 2L),
      s"first three picks must cover all three clusters: $picks")
    assert(picks.size == 4 && picks.distinct.size == 4)
  }

  test("triangleCount: exactly-once per triangle, direction/duplicates/self-loops ignored") {
    import spark.implicits._
    // K4 on {1,2,3,4} = 4 triangles; edges arrive directed, duplicated, and
    // with a self-loop; node 5 hangs off one vertex adding a wedge but no
    // triangle
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 4L), (4L, 5L)
    ).toDF("src", "dst")
    val r = graft.operators.ext.Graph.triangleCount(edges, "src", "dst").collect().head
    assert(r.getLong(0) == 7L, s"K4 + pendant = 7 canonical edges, got ${r.getLong(0)}")
    assert(r.getLong(2) == 4L, s"K4 has exactly 4 triangles, got ${r.getLong(2)}")
    // wedges x<y<z in K4: (1,2,3),(1,2,4),(1,3,4),(2,3,4) plus pendant wedges
    // through 4: (1,4,5),(2,4,5),(3,4,5) = 7
    assert(r.getLong(1) == 7L, s"ordered wedge count, got ${r.getLong(1)}")
  }

  test("triangleCountDegree: same triangles as id orientation, hub wedge mass cut") {
    import spark.implicits._
    // MIDDLE-id hub 100 wired to spokes 1..99 and 101..200: the id (x<y<z)
    // orientation enumerates (#smaller)×(#larger) = 99×100 wedges THROUGH
    // the hub; chords (1,101),(2,102) close 2 triangles
    val hub = ((1L to 99L) ++ (101L to 200L)).map(i => (100L, i))
    val edges = (hub ++ Seq((1L, 101L), (2L, 102L))).toDF("src", "dst")
    val id = graft.operators.ext.Graph.triangleCount(edges, "src", "dst").head()
    val dg = graft.operators.ext.Graph.triangleCountDegree(edges, "src", "dst").head()
    assert(id.getLong(0) == 201L && dg.getLong(0) == 201L)
    assert(id.getLong(2) == 2L, s"id orientation triangles: ${id.getLong(2)}")
    assert(dg.getLong(2) == 2L, "orientation must never change the triangle count")
    // degree orientation points every spoke (deg 1-2) AT the hub (deg 199),
    // so the hub's out-degree collapses and its wedge mass vanishes; only
    // the chord-bearing spokes' O(1) wedges survive
    assert(id.getLong(1) >= 9900L, s"id orientation hub mass, got ${id.getLong(1)}")
    assert(dg.getLong(1) < 20L, s"degree orientation must cut the hub term, got ${dg.getLong(1)}")
    // K4 sanity: both orientations agree with the closed form
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(graft.operators.ext.Graph.triangleCountDegree(k4, "src", "dst").head().getLong(2) == 4L)
  }
}
