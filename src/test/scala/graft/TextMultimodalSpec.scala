package graft

import org.apache.spark.sql.functions._

import graft.operators.ext.{Multimodal, TextAnalysis}

class TextMultimodalSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tokenStats counts corpus frequencies, most frequent first") {
    val stats = TextAnalysis.tokenStats(docs((1L, "a b a"), (2L, "a c")), "text").collect()
    assert(stats.head.getString(0) == "a" && stats.head.getLong(1) == 3L)
    assert(stats.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }

  test("qualityScore: token counts, stopword ratio") {
    val r = TextAnalysis.qualityScore(docs((1L, "the cat sat on42 the mat")), "doc_id", "text").collect().head
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_stop") == 2)      // "the" twice
    assert(r.getAs[Int]("n_bpe_tokens") == 7) // on42 -> on + 42
    assert(r.getDecimal(5).toString == "0.3333")
  }

  test("langIdNgram picks the profile with most matching n-grams") {
    val df = docs((1L, "the thing and the king"), (2L, "der einer schoene und ich"))
    val out = TextAnalysis.langIdNgram(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de")
  }

  test("rollingFingerprint is order-sensitive, unlike set-based dedup") {
    val fp = TextAnalysis.rollingFingerprint(docs((1L, "a b c"), (2L, "c b a"), (3L, "a b c")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
  }

  test("sliceDrift: integer-exact scaled TVD, including absent-token mass") {
    import spark.implicits._
    // corpus: a=2 b=2 c=1, T=5; slice A (a a b, S=3): |2*5-2*3| + |1*5-2*3|
    // + absent c: 1*3 -> 4+1+3 = 8; slice B (b c, S=2): |1*5-2*2| +
    // |1*5-1*2| + absent a: 2*2 -> 1+3+4 = 8. (With exactly two slices the
    // scaled L1 is symmetric: |c_A*S_B - c_B*S_A| per token on both sides.)
    val df = Seq(("A", "a a b"), ("B", "b c")).toDF("source", "text")
    val out = TextAnalysis.sliceDrift(df, "source", "text").orderBy("slice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact())).toSeq
    assert(out == Seq(("A", 3L, 2L, 8L), ("B", 2L, 2L, 8L)))
  }

  test("refDrift: hand-checked TVD vs a fixed reference, including a ref-disjoint slice") {
    import spark.implicits._
    // ref = {a:2, b:1}, T=3. slice X ("a b", S=2): |1*3-2*2| + |1*3-1*2| +
    // untouched ref mass 0 -> 2 = TVD(1/6) * 2*S*T. slice Y ("c", S=1):
    // |1*3-0| + untouched 3*1 -> 6 = TVD(1) * 2*1*3.
    val batch = Seq(("X", "a b"), ("Y", "c")).toDF("source", "text")
    val ref = Seq(Tuple1("a a b")).toDF("text")
    val out = TextAnalysis.refDrift(batch, ref, "source", "text").orderBy("slice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValueExact())).toSeq
    assert(out == Seq(("X", 2L, 2L), ("Y", 1L, 6L)))
    // a batch distributed exactly like the reference drifts zero
    val same = TextAnalysis.refDrift(Seq(("Z", "a a b")).toDF("source", "text"),
      ref, "source", "text").collect().head
    assert(same.getDecimal(2).longValueExact() == 0L)
  }

  test("resizePayload strides bytes binary-safely, including bytes >= 0x80") {
    import spark.implicits._
    val raw = Array[Byte](0x00, 0x7f, 0x80.toByte, 0xff.toByte, 0x41, 0xc3.toByte, 0xa9.toByte)
    val media = Seq((1L, "application/octet-stream", raw)).toDF("doc_id", "mime", "payload")
    val out = Multimodal.resizePayload(media, stride = 2).collect().head
      .getAs[Array[Byte]]("resized")
    // every 2nd byte, verbatim — a string round-trip would have rewritten
    // 0x80/0xff (invalid UTF-8) into multi-byte U+FFFD replacements
    assert(out.toSeq == Seq[Byte](0x00, 0x80.toByte, 0x41, 0xa9.toByte))
  }

  test("attachPayload + decodeFeatures: deterministic stub decode over real binary plumbing") {
    val media = Multimodal.attachPayload(docs((1L, "hello"), (2L, "worlds!")), "doc_id", "text")
    val rows = media.collect()
    assert(rows.forall(_.getAs[Array[Byte]]("payload").nonEmpty))
    val feats = Multimodal.decodeFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes == 5 && feats(2L).n_bytes == 7)
    assert(feats(1L).features.length == 8)
    assert(math.abs(feats(1L).features.sum - 1.0f) < 1e-5)
    // deterministic: same payload, same features
    val again = Multimodal.decodeFeatures(media).collect().map(f => f.doc_id -> f.features.toSeq).toMap
    assert(again(1L) == feats(1L).features.toSeq)
  }

  test("ImageIoDecoder: real PNG decode recovers exact dimensions and pixel histogram") {
    // hand-built 2x1 image: one black pixel (luma 0 -> bin 0), one white
    // (luma 255 -> bin 7); PNG-encode with ImageIO, decode with the codec
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.ImageIoDecoder.decode(7L, "image/png", bos.toByteArray)
    assert(f.width == 2 && f.height == 1 && f.n_bytes == bos.size())
    assert(f.features.toSeq == Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
    // undecodable bytes fail loudly, not as null features
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoDecoder.decode(8L, "image/png", Array[Byte](1, 2, 3))
    }
  }

  test("renderPngs + decodeVerify: executor-rendered PNGs roundtrip through the real codec") {
    import spark.implicits._
    val out = Multimodal.decodeVerify(
      Multimodal.renderPngs(Seq(0L, 1L, 17L, 123L).toDF("doc_id"), "doc_id"),
      Multimodal.ImageIoDecoder).collect()
    assert(out.length == 4 && out.forall(_.getAs[Boolean]("ok")))
    val byId = out.map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(byId(17L) == (8 + 17 % 9, 8 + 17 % 7))
  }

  test("sampleFrames explodes every k-th chunk with frame numbers") {
    val media = Multimodal.attachPayload(docs((1L, "abcdefghijklmnopqrstuvwxyz")), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, chunkBytes = 4, everyK = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length <= 4))
  }

  test("char_ngrams generator: sliding trigrams, short and null inputs emit nothing") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "ab"), (3L, null: String), (4L, "xyz"))
      .toDF("doc_id", "t")
    val out = df.select(col("doc_id"), expr("char_ngrams(t, 3)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out == Set((1L, 1, "abc"), (1L, 2, "bcd"), (4L, 1, "xyz")))
  }

  test("char_ngrams matches the composed explode(transform(sequence)) form") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "ab", "aaaa").toDF("t")
    val native = df.select(expr("char_ngrams(t, 3)")).select("pos", "ngram")
    val composed = df
      .select(explode(expr(
        // sequence(1, 0) is DESCENDING [1, 0] in Spark, so guard short strings
        "CASE WHEN length(t) >= 3 THEN transform(sequence(1, length(t) - 2), i -> struct(i AS pos, substring(t, i, 3) AS ngram)) " +
          "ELSE array() END")).as("g"))
      .select("g.pos", "g.ngram")
    assert(native.collect().toSet == composed.collect().toSet)
  }

  test("word_ngrams matches the composed filter/transform/slice shingle form") {
    import spark.implicits._
    // double spaces, leading/trailing space, short and null rows
    val df = Seq("the quick  brown fox jumps", " a b ", "one", null)
      .toDF("t")
    val native = df.select(expr("word_ngrams(t, 2)")).select("pos", "ngram")
    val composed = df
      .select(expr("filter(split(t, ' '), x -> x != '')").as("ws"))
      .select(explode(expr(
        "filter(transform(sequence(0, size(ws)), " +
          "i -> case when i + 2 <= size(ws) then struct(i + 1 AS pos, concat_ws(' ', slice(ws, i + 1, 2)) AS ngram) end), " +
          "x -> x is not null)")).as("g"))
      .select("g.pos", "g.ngram")
    assert(native.collect().toSet == composed.collect().toSet)
    assert(native.count() == 4 + 1 + 0) // 5-token, 2-token, 1-token, null
  }

  test("bandHashPairs: exact dups match on every window; disjoint payloads never pair") {
    import spark.implicits._
    import graft.operators.ext.Multimodal
    val a = "x" * 200 // 3 full 64-byte windows, 8-byte tail dropped
    val docs = Seq((1L, a), (2L, a), (3L, "y" * 200), (4L, a.take(64) + "z" * 100))
      .toDF("doc_id", "text")
    val pairs = Multimodal.bandHashPairs(
        Multimodal.attachPayload(docs, "doc_id", "text"), 64, 1)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // 1-2 share all 3 windows; 4 shares only the first aligned window with
    // 1 and 2; 3 shares nothing
    assert(pairs == Seq((1L, 2L, 3L), (1L, 4L, 1L), (2L, 4L, 1L)))
  }

  test("renderWavs + decodeVerifyWav: synthesized PCM roundtrips through the real WAV parser") {
    import spark.implicits._
    val out = Multimodal.decodeVerifyWav(
      Multimodal.renderWavs(Seq(0L, 1L, 127L, 200L).toDF("doc_id"), "doc_id"),
      Multimodal.WavDecoder).collect()
    assert(out.length == 4 && out.forall(_.getAs[Boolean]("ok")))
    val byId = out.map(r => r.getLong(0) -> r.getInt(1)).toMap
    // length is an integer function of the id; PCM lossless so decode is exact
    assert(byId(127L) == 256 + 127 && byId(200L) == 256 + 200 % 128)
  }

  test("lmSurprise: hand-checked integer surprise; fluent text scores below unseen text") {
    import spark.implicits._
    // reference: "a b" x3 and "a c" x1 -> c(a)=4, c(b)=3, c(c)=1, V=3
    // bigram counts: c("a b")=3, c("a c")=1
    val ref = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b"),  // seen often: ratio=(4+3) div (3+1)=1 -> surprise 0
      (11L, "a c"),  // seen once:  ratio=(4+3) div (1+1)=3 -> surprise 1
      (12L, "a z"),  // unseen w2:  ratio=(4+3) div (0+1)=7 -> surprise 2
      (13L, "z q"),  // unseen w1:  ratio=(0+3) div (0+1)=3 -> surprise 1
      (14L, "solo")  // <2 tokens -> zeros, not dropped
    ).toDF("doc_id", "text")
    val got = graft.operators.ext.TextAnalysis.lmSurprise(docs, ref, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 1L, 0L), (11L, 1L, 1L), (12L, 1L, 2L), (13L, 1L, 1L), (14L, 0L, 0L)))
  }

  test("dsirSelect: hand-checked integer log-weights; target-like docs outrank, empty docs score 0") {
    import spark.implicits._
    // target: "good" x8 -> t_tot=8, ct(good)=8
    //   surprise_t(good) = bitlen((8+1024)//9)  = bitlen(114)  = 6
    //   surprise_t(junk) = bitlen((8+1024)//1)  = bitlen(1032) = 10
    // background: good x4 + junk x4 -> b_tot=8
    //   surprise_b(either) = bitlen((8+1024)//5) = bitlen(206) = 7
    // lw(good) = 7-6 = +1, lw(junk) = 7-10 = -3  (buckets 450 / 871, no collision)
    val target = Seq((1L, "good good good good good good good good")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "good good good good"), // weight 4*+1 = 4
      (11L, "junk junk junk junk"), // weight 4*-3 = -12
      (12L, "")                     // token-less: weight 0, kept
    ).toDF("doc_id", "text")
    val got = graft.operators.ext.TextAnalysis.dsirSelect(docs, target, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 4L, 4L), (12L, 0L, 0L), (11L, 4L, -12L)))
    // the k cut keeps the highest-weight docs
    val top = graft.operators.ext.TextAnalysis.dsirSelect(docs, target, "doc_id", "text", k = 1)
      .collect().map(_.getLong(0))
    assert(top.toSeq == Seq(10L))
  }

  test("bpeLearn: freq-weighted argmax, self-overlap merges once per site, exact trajectory") {
    import spark.implicits._
    // corpus: "aaa" x2, "ab" x1 -> round 1 counts pair (a,a) 4 times (two per
    // word occurrence) but leftmost-non-overlapping application merges each
    // word once: 8 tokens -> 6, not 4. Rounds 2/3 pin the chain.
    val docs = Seq((1L, "aaa aaa ab")).toDF("doc_id", "text")
    val got = graft.operators.ext.TextAnalysis.bpeLearn(docs, "text", 3)
      .orderBy("merge_round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1, "a", "a", 4L, 6L),
      (2, "aa", "a", 2L, 4L),
      (3, "a", "b", 1L, 3L)))
  }

  test("bpeLearn/bpeApplyCounts: adjacent merge sites ALL merge in one pass (canonical BPE)") {
    import spark.implicits._
    // "abab": merging (a,b) must yield [ab, ab] — 2 tokens, not 3. A single-
    // sentinel replace consumes the shared boundary and merges only the first
    // site; the double-sentinel encoding merges both.
    val docs1 = Seq((1L, "abab")).toDF("doc_id", "text")
    val r1 = graft.operators.ext.TextAnalysis.bpeLearn(docs1, "text", 1).head()
    assert((r1.getString(1), r1.getString(2), r1.getLong(3), r1.getLong(4)) == ("a", "b", 2L, 2L))
    // "aaaa": canonical greedy merges (1,2) and (3,4) -> [aa, aa] (2 tokens);
    // "aaaaa" -> [aa, aa, a] (3 tokens) — greedy skip, not every-other miss
    val docs2 = Seq((1L, "aaaa aaaaa")).toDF("doc_id", "text")
    val r2 = graft.operators.ext.TextAnalysis.bpeLearn(docs2, "text", 1).head()
    assert((r2.getString(1), r2.getString(2), r2.getLong(4)) == ("a", "a", 5L))
    // application side agrees with learning side on the same encoding
    val counts = graft.operators.ext.TextAnalysis
      .bpeApplyCounts(docs2, "doc_id", "text", Seq(("a", "a"))).head()
    assert((counts.getLong(1), counts.getLong(2)) == (2L, 5L))
  }

  test("bpeLearn: quotes and backslashes in corpus tokens are inert data, not SQL text") {
    import spark.implicits._
    // tokens contain ' and \ — the merge patterns are lit()-built, so the
    // learned symbols can never be parsed as SQL string syntax
    val docs = Seq((1L, "n't n't c\\d c\\d")).toDF("doc_id", "text")
    val got = graft.operators.ext.TextAnalysis.bpeLearn(docs, "text", 2)
      .orderBy("merge_round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // round 1 pairs each n=2: (',t) ('\',d) (c,'\') (n,') — argmax order
    // (count desc, lhs asc, rhs asc): "'" (0x27) sorts first -> ("'", "t")
    assert(got.head == ((1, "'", "t", 2L)))
    assert(got.size == 2)
    val counts = graft.operators.ext.TextAnalysis
      .bpeApplyCounts(docs, "doc_id", "text", got.map(t => (t._2, t._3))).head()
    assert(counts.getLong(1) == 4L) // 4 words survive the round-trip
  }

  test("nfc_normalize/strip_accents: composition shrinks decomposed marks, codegen == interpreted") {
    import spark.implicits._
    // inputs DECOMPOSED (e + U+0301, u + U+0308); expectations COMPOSED
    val df = Seq("e\u0301clair", "u\u0308ber", "plain").toDF("s")
      .select(col("s"), expr("nfc_normalize(s)").as("n"), expr("strip_accents(s)").as("p"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows(0)._2 == "\u00e9clair" && rows(0)._3 == "eclair")
    assert(rows(1)._2 == "\u00fcber" && rows(1)._3 == "uber")
    assert(rows(2)._2 == "plain" && rows(2)._3 == "plain")
    // interpreted path (nullSafeEval) must agree with the codegen'd column
    assert(graft.functions.StripAccents.strip("e\u0301clair") == "eclair")
    // NFC is idempotent, and normalizing the composed form is the identity
    assert(df.filter(expr("nfc_normalize(n) != n")).count() == 0)
  }

  test("word_ngrams rejects non-positive n at analysis time") {
    import spark.implicits._
    val df = Seq("a b c").toDF("t")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("word_ngrams(t, 0)")).collect()
    }
    assert(e.getMessage.contains("positive"), e.getMessage)
  }

  test("lexical index: idempotent appends, torn-state replay completes the missing half, probe == batch") {
    val root = TestSpark.tmpDir("lexidx")
    spark.sql("DROP TABLE IF EXISTS graft_lex_post_t")
    spark.sql("DROP TABLE IF EXISTS graft_lex_len_t")
    val base = docs((0L, "alpha beta gamma"), (1L, "beta beta delta"), (2L, ""))
    val batch = docs((3L, "alpha delta"), (4L, "gamma gamma gamma"))
    TextAnalysis.buildLexicalIndex("graft_lex_post_t", "graft_lex_len_t",
      base, "doc_id", "text", 4, root)
    // empty doc: registered in lengths (dl=0), absent from postings
    assert(spark.table("graft_lex_len_t").count() == 3)
    assert(spark.table("graft_lex_post_t").filter(col("doc_id") === 2L).count() == 0)
    TextAnalysis.appendLexicalIndex("graft_lex_post_t", "graft_lex_len_t",
      batch, "doc_id", "text", 4)
    val (p1, l1) = (spark.table("graft_lex_post_t").count(), spark.table("graft_lex_len_t").count())
    // replay of the whole append: both anti-joins make it a no-op
    TextAnalysis.appendLexicalIndex("graft_lex_post_t", "graft_lex_len_t",
      batch, "doc_id", "text", 4)
    assert(spark.table("graft_lex_post_t").count() == p1, "replayed append must not duplicate postings")
    assert(spark.table("graft_lex_len_t").count() == l1, "replayed append must not duplicate lengths")
    // torn state: a crash landed postings for doc 5 but not its length row;
    // the replay must complete ONLY the lengths half
    val torn = docs((5L, "epsilon beta"))
    TextAnalysis.lexicalPostings(torn, "doc_id", "text")
      .write.mode("append").format("parquet")
      .bucketBy(4, "term").sortBy("term").saveAsTable("graft_lex_post_t")
    TextAnalysis.appendLexicalIndex("graft_lex_post_t", "graft_lex_len_t",
      torn, "doc_id", "text", 4)
    assert(spark.table("graft_lex_post_t").filter(col("doc_id") === 5L).count() == 2,
      "torn postings must not duplicate on replay")
    assert(spark.table("graft_lex_len_t").filter(col("doc_id") === 5L).count() == 1,
      "replay must complete the missing lengths half")
    // index-path ranking == batch-path ranking over the identical corpus
    val corpus = base.unionByName(batch).unionByName(torn)
    val queries = docs((0L, "alpha beta"), (1L, "gamma")).toDF("query_id", "qtext")
    val viaIndex = TextAnalysis.bm25IndexTopK(spark, "graft_lex_post_t", "graft_lex_len_t",
      queries, "query_id", "qtext", 5).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val viaBatch = TextAnalysis.bm25TopK(corpus, queries, "doc_id", "text",
      "query_id", "qtext", 5).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(viaIndex == viaBatch, s"index probe must rank exactly as a fresh scan:\n$viaIndex\nvs\n$viaBatch")
    assert(viaIndex.nonEmpty)
    // the probe must be an INDEX read: the pushed query-term literals prune
    // whole buckets at plan time (a broadcast-join filter cannot — it reads
    // every bucket and filters rows afterwards)
    val probePlan = TextAnalysis.bm25IndexTopK(spark, "graft_lex_post_t", "graft_lex_len_t",
      queries, "query_id", "qtext", 5).queryExecution.executedPlan.toString()
    assert(probePlan.contains("SelectedBucketsCount"),
      s"postings scan must bucket-prune on the query terms:\n${probePlan.take(1500)}")
  }

  test("ppmiCollocations: bound pairs outrank chance pairs; sub-chance floors to zero") {
    // 'alpha beta' always co-occur (bound collocation); 'the x' pairs are
    // chance-level against high-count 'the'
    val corpus = docs(
      (0L, "alpha beta the one the two the three"),
      (1L, "alpha beta the two the one the four"),
      (2L, "alpha beta the five the one the two"),
      (3L, "alpha beta the six the two the one"),
      (4L, "alpha beta the one the four the five"))
    val out = TextAnalysis.ppmiCollocations(corpus, "text", 5L, 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getInt(4))).toMap
    val (abPpmi, abRk) = out(("alpha", "beta"))
    assert(abRk == 1 && abPpmi > 0,
      s"the fully-bound pair must rank first with positive PPMI: $out")
    // 'the one': c(the)=15, c(one)=5, cab=5, N=35 -> ratio 35*5/75 = 2 -> ppmi 1;
    // still below the bound pair (ratio 35*5/25 = 7 -> ppmi 2)
    assert(out(("the", "one"))._1 < abPpmi,
      s"chance-level pair must score below the bound pair: $out")
  }

  test("dHash64/imageDHashPairs: perturbation-invariant, re-encode-invariant, cross-group far") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, "")).toDF("doc_id", "text")
    val media = Multimodal.renderNearDupPngs(docs, "doc_id")
    val payloads = media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .collect().toMap
    // planted near-dups hash within the Hamming-3 gate; the PNG bytes differ
    (0L until 40L by 2).foreach { k =>
      val hd = java.lang.Long.bitCount(
        Multimodal.dHash64(payloads(k)) ^ Multimodal.dHash64(payloads(k + 1)))
      assert(hd <= 3, s"planted pair ($k, ${k + 1}) at Hamming $hd")
      assert(!payloads(k).sameElements(payloads(k + 1)), "bytes must differ")
    }
    // cross-group pairs are FAR (the pseudo-random textures decorrelate)
    val h0 = Multimodal.dHash64(payloads(0))
    (2L until 40L by 2).foreach { k =>
      val hd = java.lang.Long.bitCount(h0 ^ Multimodal.dHash64(payloads(k)))
      assert(hd > 10, s"group 0 vs $k unexpectedly close: $hd")
    }
    // re-encoding invariance: PNG -> decode -> re-encode -> identical dHash
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payloads(0)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.dHash64(bos.toByteArray) == h0)
    // the pair operator recovers exactly the planted list
    val pairs = Multimodal.imageDHashPairs(media, 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairs.toSeq == (0L until 40L by 2).map(k => (k, k + 1)))
  }

  test("audioFingerprint64/audioFingerprintPairs: LSB-noise-invariant, cross-group far, planted truth exact") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, "")).toDF("doc_id", "text")
    val media = Multimodal.renderNearDupWavs(docs, "doc_id")
    val payloads = media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .collect().toMap
    // planted near-dups fingerprint within the Hamming-3 gate; bytes differ
    (0L until 40L by 2).foreach { k =>
      val hd = java.lang.Long.bitCount(
        Multimodal.audioFingerprint64(payloads(k)) ^
          Multimodal.audioFingerprint64(payloads(k + 1)))
      assert(hd <= 3, s"planted pair ($k, ${k + 1}) at Hamming $hd")
      assert(!payloads(k).sameElements(payloads(k + 1)), "bytes must differ")
    }
    // cross-group fingerprints are FAR (pseudo-random PCM decorrelates)
    val h0 = Multimodal.audioFingerprint64(payloads(0))
    (2L until 40L by 2).foreach { k =>
      val hd = java.lang.Long.bitCount(h0 ^ Multimodal.audioFingerprint64(payloads(k)))
      assert(hd > 10, s"group 0 vs $k unexpectedly close: $hd")
    }
    // WAV re-encode invariance: decode -> re-encode -> identical fingerprint
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payloads(0)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(Multimodal.audioFingerprint64(bos.toByteArray) == h0)
    // the pair operator recovers exactly the planted list
    val pairs = Multimodal.audioFingerprintPairs(media, 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairs.toSeq == (0L until 40L by 2).map(k => (k, k + 1)))
  }

  test("GIF frame codec: real multi-frame roundtrip, per-frame histograms exact, payload never shuffles") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 3L, 7L, 42L).toDF("doc_id")
    val media = Multimodal.renderGifs(ids, "doc_id")
    val out = Multimodal.decodeVerifyFrames(media, Multimodal.GifFrameDecoder)
    val rows = out.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // frame counts: 2 + id % 4
    assert(rows(0L) == (2, true) && rows(1L) == (3, true) && rows(3L) == (5, true))
    assert(rows(7L) == (5, true) && rows(42L) == (4, true))
    // a corrupted payload fails loudly, not silently
    val bad = media.limit(1).withColumn("payload", lit(Array[Byte](1, 2, 3)))
    intercept[Exception](Multimodal.decodeVerifyFrames(bad, Multimodal.GifFrameDecoder).collect())
    // payload bytes stay map-side: no exchange between the scan and the verify
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"frame verify must be one map-side pass:\n${plan.take(1200)}")
  }
}
