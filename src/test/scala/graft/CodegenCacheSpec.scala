package graft

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

import graft.io.VersionedTable
import graft.operators.Relational
import graft.operators.ext.{Dedup, TextAnalysis}

/** The curation chain's and the versioned DML script's generated classes
  * fit Spark's default codegen cache (100 entries, in 4 LRU segments of 25;
  * a whole-stage class takes one entry on the driver and one on the
  * executor). A chain that overflows one segment compiles that segment's
  * classes again on every pass, however often it runs.
  */
class CodegenCacheSpec extends SparkSpec {

  /** A seeded corpus with what curation acts on: short and stopword-free
    * documents, exact copies, near copies, four languages, and spans copied
    * from a held-out set. Returns (corpus, held-out) as JSON in four files
    * and one, read with a fixed schema.
    */
  private def corpus(docs: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(7)
    val syl = for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val vocab = Seq.fill(2000)(Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString)
    def text(n: Int, stop: Boolean) = Seq.fill(n) {
      if (stop && rnd.nextDouble() < 0.2) TextAnalysis.stopwords(rnd.nextInt(6))
      else vocab(rnd.nextInt(vocab.size))
    }.mkString(" ")
    val held = Seq.fill(50)(text(80, stop = true))
    val langs = Seq("en", "en", "de", "fr", "es")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    for (i <- 0 until docs) rows += (rnd.nextInt(20) match {
      case 0 if rows.nonEmpty => rows(rnd.nextInt(rows.size)).copy(_1 = i.toLong) // exact copy
      case 1 if rows.nonEmpty => // near copy: one word changed
        val src = rows(rnd.nextInt(rows.size))
        val ws = src._3.split(" ")
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
        (i.toLong, src._2, ws.mkString(" "))
      case 2 => // a held-out span inside
        val h = held(rnd.nextInt(held.size)).split(" ")
        val at = rnd.nextInt(h.length - 12)
        (i.toLong, "en", Seq(text(30, stop = true), h.slice(at, at + 12).mkString(" "),
          text(30, stop = true)).mkString(" "))
      case 3 => (i.toLong, langs(rnd.nextInt(langs.size)), text(8, stop = true)) // short
      case 4 => (i.toLong, "en", text(60, stop = false)) // no stopword
      case _ => (i.toLong, langs(rnd.nextInt(langs.size)), text(40 + rnd.nextInt(120), stop = true))
    })
    import spark.implicits._
    val dir = TestSpark.tmpDir("codegen-cache-corpus")
    rows.toSeq.toDF("doc_id", "lang", "text").repartition(4).write.json(s"$dir/corpus")
    held.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }.toDF("doc_id", "lang", "text")
      .coalesce(1).write.json(s"$dir/held")
    def read(p: String) = spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(p)
    (read(s"$dir/corpus"), read(s"$dir/held"))
  }

  test("curation chain: the third pass in one JVM compiles at most 5 classes at the default codegen cache") {
    val (docs, held) = corpus(400)
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ex = Dedup.exactByKey(docs.filter(TextAnalysis.qualityKeepPred("text"))
        .select("doc_id", "lang", "text"), Seq("text"), "doc_id")
      val clusters = Dedup.dedupClusters(ex, "doc_id",
        Dedup.minhashLshPairs(ex, "doc_id", "text", 8, 4, 5))
      val surv = ex.join(clusters.filter(col("doc_id") === col("cluster")).select("doc_id"),
        Seq("doc_id"))
      val flagged = Dedup.ngramContamination(surv, "doc_id", "text", held, 5)
      val dec = surv.join(broadcast(flagged.select("doc_id")), Seq("doc_id"), "left_anti")
      val mix = Relational.weightedMix(dec, "doc_id", "lang", Map("en" -> 50, "de" -> 25),
        defaultPct = 10)
      TextAnalysis.packSequences(mix, "doc_id", "text", "lang", binTokens = 512)
        .write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val compiles = Seq.fill(3)(pass())
    assert(compiles.head > 0, "the first pass compiled nothing: the probe is not counting")
    assert(compiles(2) <= 5, s"compiles per pass: ${compiles.mkString(", ")}")
  }

  test("versioned DML script: the third pass in one JVM compiles at most 5 classes at the default codegen cache") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("codegen-cache-dml")
    val rnd = new Random(11)
    // batches as JSON lines read with a fixed schema, as a writer hands them over
    def batch(name: String, ids: Seq[Long]): Unit =
      ids.map(i => (i, s"c${rnd.nextInt(8)}", rnd.nextInt(1000000).toLong,
          rnd.alphanumeric.take(40).mkString))
        .toDF("id", "cat", "amount", "note").coalesce(1).write.json(s"$dir/$name")
    batch("base", 0L until 300L)
    batch("merge", (0L until 300L by 7) ++ (300L until 320L))
    batch("update", 1L until 300L by 11)
    batch("delete", 2L until 300L by 13)
    def read(name: String) =
      spark.read.schema("id BIGINT, cat STRING, amount BIGINT, note STRING").json(s"$dir/$name")
    def changes(root: String, v: Long): Map[String, Int] =
      VersionedTable.readChangeFeed(spark, root, v - 1, v, "id")
        .select("_change_type").as[String].collect().groupBy(identity).map { case (k, v) => k -> v.length }
    def pass(i: Int): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val root = s"$dir/table-$i"
      VersionedTable.commit(read("base"), root, "append", "base", statsCols = Seq("id"))
      val (vm, _, _) = VersionedTable.mergeInto(spark, root, read("merge"), "id", "merge",
        statsCols = Seq("id"))
      assert(changes(root, vm) == Map("insert" -> 20, "update_preimage" -> 43, "update_postimage" -> 43))
      val (vu, _, _) = VersionedTable.updateWhere(spark, root, read("update"), "id",
        Map("amount" -> "amount + 7"), "update", statsCols = Seq("id"))
      assert(changes(root, vu) == Map("update_preimage" -> 28, "update_postimage" -> 28))
      val (vd, _, _) = VersionedTable.deleteWhere(spark, root, read("delete"), "id", "delete",
        statsCols = Seq("id"))
      assert(changes(root, vd) == Map("delete" -> 23))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val compiles = (0 until 3).map(pass)
    assert(compiles.head > 0, "the first pass compiled nothing: the probe is not counting")
    assert(compiles(2) <= 5, s"compiles per pass: ${compiles.mkString(", ")}")
  }
}
