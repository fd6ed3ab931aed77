package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftListenerBridge

import graft.operators.ext.Dedup

/** Plain-Scala MinHash + LSH: the reference the engine's band keys and
  * near-dup pairs are checked against.
  */
object MinhashModel {
  /** Distinct space-separated tokens (n = 1) or word n-grams of one text. */
  def tokens(text: String, n: Int): Set[String] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (n <= 1) ws.toSet
    else if (ws.length < n) Set.empty
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Dedup.tokenHash: the first 4 bytes of md5, unsigned. */
  def tokenHash(tok: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(tok.getBytes(UTF_8))
    (0 until 4).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xffL))
  }

  /** "b:" + band b's seed minima joined with '-'; none for an empty set. */
  def bandKeys(hashes: Set[Long], bandSize: Int): Seq[String] =
    if (hashes.isEmpty) Nil
    else Dedup.minhashSeeds
      .map { case (a, b) => hashes.map(h => (a * h + b) % Dedup.minhashP).min }
      .grouped(bandSize).zipWithIndex
      .map { case (mins, band) => s"$band:${mins.mkString("-")}" }.toSeq

  /** (id_a, id_b, overlap, size_a, size_b) of every pair that shares a band
    * key and meets Jaccard >= threshNum/threshDen over token-hash sets.
    */
  def lshPairs(docs: Seq[(Long, String)], bandSize: Int, threshNum: Int, threshDen: Int,
               n: Int = 1): Set[(Long, Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, t) => id -> tokens(t, n).map(tokenHash) }.toMap
    val buckets = sets.toSeq
      .flatMap { case (id, hs) => bandKeys(hs, bandSize).map(_ -> id) }
      .groupMap(_._1)(_._2).values
    val cands = buckets.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    cands.flatMap { case (a, b) =>
      val (sa, sb) = (sets(a), sets(b))
      val overlap = (sa & sb).size
      if (threshDen * overlap >= threshNum * (sa.size + sb.size - overlap))
        Some((a, b, overlap.toLong, sa.size.toLong, sb.size.toLong))
      else None
    }
  }
}

/** The shape of one Dedup.minhashLshPairs call: how many Spark jobs it
  * submits before it returns, and the pairs it answers.
  */
class MinhashLshSpec extends SparkSpec {

  private val fixture = Seq(
    1L -> "a b c d e f g h i j",
    2L -> "a b c d e f g h i j",
    3L -> "a b c d e f g h i k",
    4L -> "j i h g f e d c b a a",
    5L -> "p q r s t u v w x y",
    6L -> "p q r s t u v w x z",
    7L -> "p q r s t u v w",
    8L -> "entirely different words here",
    9L -> "")

  test("minhashLshPairs checkpoints once: two jobs per call, pairs equal the model") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = fixture.toDF("doc_id", "text")
    val group = "minhash-lsh-shape"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    val pairs = try {
      sc.setJobGroup(group, group)
      val out = Dedup.minhashLshPairs(docs, "doc_id", "text", 4, 4, 5)
      GraftListenerBridge.drain(sc)
      out
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // one checkpoint, the token-set table: the map stage of the doc_id
    // repartition (each document's token set is one projection before it),
    // then the checkpoint job. The shingle-explode form added the map stage
    // of its distinct (three); the seed cross-join pipeline submitted nine:
    // two more checkpoints (band rows, token sets), each behind the map
    // stages of its aggregations.
    assert(jobs.get() == 2, s"one minhashLshPairs call submitted ${jobs.get()} jobs")

    val got = pairs.as[(Long, Long, Long, Long, Long)].collect().toSet
    val want = MinhashModel.lshPairs(fixture, 4, 4, 5)
    assert(want.map(p => (p._1, p._2)).contains((1L, 2L)), s"model found no exact duplicate: $want")
    assert(got == want)
  }

  test("minhashLshPairs on bigram shingles equals the model") {
    import spark.implicits._
    val got = Dedup.minhashLshPairs(fixture.toDF("doc_id", "text"), "doc_id", "text", 4, 3, 5,
      shingleN = 2).as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == MinhashModel.lshPairs(fixture, 4, 3, 5, n = 2))
  }
}
