package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.operators.Relational
import graft.operators.ext.{Dedup, TextAnalysis}

final case class Doc(id: Long, lang: String, text: String)

/** A seeded document corpus with the properties curation acts on: short
  * and stopword-free documents (quality), exact copies, near copies with a
  * few words changed, a language mix, and spans copied from a held-out set.
  */
object Corpus {
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.55, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1)
  private val ownStopwords = Map(
    "en" -> TextAnalysis.stopwords,
    "de" -> Seq("der", "die", "und", "in", "zu", "den"),
    "fr" -> Seq("le", "la", "de", "et", "a", "les"),
    "es" -> Seq("el", "la", "de", "y", "a", "en"))

  final case class Rates(docs: Int, heldOut: Int, short: Double, noStopword: Double,
                         exact: Double, near: Double, contaminated: Double)

  /** Returns (corpus, held-out set). */
  def generate(rnd: Random, r: Rates): (IndexedSeq[Doc], IndexedSeq[Doc]) = {
    val vocab = Langs.map { case (l, _) => l -> words(rnd, 3000) }.toMap
    def zipf(n: Int) = math.min(n - 1, math.floor(math.exp(rnd.nextDouble() * math.log(n + 1.0)) - 1).toInt)
    def text(lang: String, n: Int, stop: Boolean): String = Seq.fill(n) {
      if (stop && rnd.nextDouble() < 0.2) ownStopwords(lang)(rnd.nextInt(6))
      else vocab(lang)(zipf(vocab(lang).size))
    }.mkString(" ")
    val held = (0 until r.heldOut).map(i => Doc(i, "en", text("en", 60 + rnd.nextInt(60), stop = true)))
    // Planted kinds in exact numbers, shuffled, after a lead of ordinary
    // documents that near copies can be made from: the share of each kind,
    // and so the size of the output, varies little with the seed.
    val lead = 20
    val kinds = rnd.shuffle(Seq(r.exact -> 'x', r.near -> 'n', r.contaminated -> 'c', r.short -> 's',
      r.noStopword -> 'w').flatMap { case (rate, k) => Seq.fill(math.round(rate * r.docs).toInt)(k) }
      .padTo(r.docs - lead, 'o'))
    // the documents that draw a language get the shares exactly too
    val picks = lead + kinds.count(k => k == 'o' || k == 's')
    val langs = rnd.shuffle(Langs.flatMap { case (l, p) => Seq.fill(math.round(p * picks).toInt)(l) }).iterator
    def pickLang(): String = if (langs.hasNext) langs.next() else "en"
    val docs = mutable.ArrayBuffer.empty[Doc]
    val long = mutable.ArrayBuffer.empty[Doc] // near copies come from these
    for (i <- 0 until r.docs) {
      val d = (if (i < lead) 'o' else kinds(i - lead)) match {
        case 'x' => docs(rnd.nextInt(docs.size)).copy(id = i)
        case 'n' =>
          val src = long(rnd.nextInt(long.size))
          val ws = Util.tokens(src.text).toArray
          (0 until 1 + rnd.nextInt(2)).foreach(_ => ws(rnd.nextInt(ws.length)) = vocab(src.lang)(rnd.nextInt(3000)))
          Doc(i, src.lang, ws.mkString(" "))
        case 'c' =>
          val h = Util.tokens(held(rnd.nextInt(held.size)).text)
          val at = rnd.nextInt(h.size - 12)
          Doc(i, "en", Seq(text("en", 30, stop = true), h.slice(at, at + 12).mkString(" "),
            text("en", 30, stop = true)).mkString(" "))
        case 's' =>
          val l = pickLang()
          Doc(i, l, text(l, 5 + rnd.nextInt(10), stop = true))
        case 'w' => Doc(i, "en", text("en", 40 + rnd.nextInt(100), stop = false))
        case _ =>
          val l = pickLang()
          Doc(i, l, text(l, 40 + rnd.nextInt(140), stop = true))
      }
      docs += d
      if (Util.tokens(d.text).size >= 60) long += d
    }
    (docs.toIndexedSeq, held)
  }

  /** `n` distinct made-up words of 2 to 4 syllables. */
  private def words(rnd: Random, n: Int): IndexedSeq[String] = {
    val syl = for (c <- "bcdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString
    out.toIndexedSeq
  }

  def toJsonl(d: Doc): String = s"""{"doc_id":${d.id},"lang":"${d.lang}","text":"${d.text}"}"""
}

/** `curation`: the LLM-data curation chain, run live on every round with
  * no precomputed intermediates: quality filter, exact dedup, MinHash-LSH
  * near-dup pairs, clusters, 5-gram decontamination against a held-out set,
  * a weighted language mix, and sequence packing. The packed assignment is
  * written as the run's output.
  */
final class Curation(spark: SparkSession, tracer: Tracer, seed: Long, runDir: File) extends Workload {
  import Curation._

  private var docs: IndexedSeq[Doc] = _
  private var heldGrams: Set[Seq[String]] = _
  private var corpusPath, heldPath: String = _
  private var bytes = 0L

  override def setup(dir: File): Unit = {
    val (c, h) = Corpus.generate(new Random(seed), Mix)
    // The corpus in four files, so that the chain starts on four partitions.
    corpusPath = s"$dir/corpus"
    heldPath = s"$dir/held_out"
    c.grouped((c.size + 3) / 4).zipWithIndex.foreach { case (part, k) =>
      Util.writeLines(new File(corpusPath, s"part-$k.jsonl"), part.iterator.map(Corpus.toJsonl))
    }
    Util.writeLines(new File(heldPath, "part-0.jsonl"), h.iterator.map(Corpus.toJsonl))
    docs = c
    heldGrams = h.flatMap(d => Util.tokens(d.text).sliding(5).filter(_.size == 5)).toSet
    bytes = Util.du(new File(corpusPath)) + Util.du(new File(heldPath))
  }

  private def read(path: String): DataFrame = spark.read.schema(Schema).json(path)

  override def inputBytes: Long = bytes
  override def rowsPerIteration: Long = docs.size.toLong

  /** One chain step. The traced run materializes each step's output so
    * that the step's time is its own; the untimed run leaves it lazy.
    */
  private def step(name: String)(df: => DataFrame): DataFrame =
    tracer.span(name) { val d = df; if (tracer.enabled) d.localCheckpoint(true) else d }

  private def exactDeduped(corpus: DataFrame): DataFrame = {
    val hq = step("operators.ext.quality")(
      corpus.filter(TextAnalysis.qualityKeepPred("text")).select("doc_id", "lang", "text"))
    step("operators.ext.exact_dedup")(Dedup.exactByKey(hq, Seq("text"), "doc_id"))
  }

  private def pairs(ex: DataFrame): DataFrame =
    Dedup.minhashLshPairs(ex, "doc_id", "text", BandSize, ThreshNum, ThreshDen)

  override def round(i: Int): Round = {
    Util.quiesce()
    val out = new File(runDir, s"curated-$i")
    val (secs, _) = Util.timed(tracer.iteration(i) {
      val ex = exactDeduped(read(corpusPath))
      val ps = step("operators.ext.minhash_pairs")(pairs(ex))
      val clusters = step("operators.ext.clusters")(Dedup.dedupClusters(ex, "doc_id", ps))
      val surv = ex.join(clusters.filter(col("doc_id") === col("cluster")).select("doc_id"), Seq("doc_id"))
      val flagged = step("operators.ext.contamination")(
        Dedup.ngramContamination(surv, "doc_id", "text", read(heldPath), 5))
      val dec = surv.join(broadcast(flagged.select("doc_id")), Seq("doc_id"), "left_anti")
      val mix = step("operators.mix")(
        Relational.weightedMix(dec, "doc_id", "lang", Map("en" -> 50, "de" -> 25), defaultPct = 10))
      val packed = step("operators.ext.pack")(
        TextAnalysis.packSequences(mix, "doc_id", "text", "lang", binTokens = BinTokens))
      tracer.span("io.output_write")(packed.write.parquet(out.getPath))
    })
    val ok = check(out)
    val stored = Util.du(out)
    Util.deleteTree(out)
    Round(Seq(secs), 1, 0, ok, stored)
  }

  /** The written output against the generated corpus, in plain Scala. */
  private def check(out: File): Boolean = {
    val rows = spark.read.parquet(out.getPath).select("doc_id", "shard", "n_tok", "cum_tok", "bin")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong, r.getLong(3), r.getLong(4)))
    val byId = docs.map(d => d.id -> d).toMap
    val subset = rows.nonEmpty && rows.forall(r => byId.contains(r._1)) && rows.map(_._1).distinct.length == rows.length
    if (!subset) return false
    val outDocs = rows.map(r => byId(r._1))
    val quality = outDocs.forall(d => d.text.length >= 120 &&
      Util.tokens(d.text).exists(TextAnalysis.stopwords.contains))
    val uniqueText = outDocs.map(_.text).distinct.length == outDocs.length
    val clean = outDocs.forall(d => !Util.tokens(d.text).sliding(5).exists(heldGrams.contains))
    // n_tok, and cum_tok / bin within each shard in (md5(id), id) order
    val packing = rows.groupBy(_._2).forall { case (shard, rs) =>
      var cum = 0L
      rs.sortBy(r => (Util.md5Hex(r._1.toString), r._1)).forall { case (id, _, nTok, cumTok, bin) =>
        val n = Util.tokens(byId(id).text).size.toLong
        cum += n
        byId(id).lang == shard && nTok == n && cumTok == cum && bin == (cum - n) / BinTokens
      }
    }
    subset && quality && uniqueText && clean && packing
  }

  /** Every pair the LSH step emits has a true Jaccard similarity at or above
    * the threshold, over each document's distinct words.
    */
  override def finalCheck(): Boolean = {
    val got = pairs(exactDeduped(read(corpusPath))).select("id_a", "id_b").collect()
    val byId = docs.map(d => d.id -> Util.tokens(d.text).toSet).toMap
    got.nonEmpty && got.forall { r =>
      val (a, b) = (byId(r.getLong(0)), byId(r.getLong(1)))
      ThreshDen * (a & b).size >= ThreshNum * (a | b).size
    }
  }

  override def layerMetrics(warm: Seq[Int]): Map[String, Double] =
    Seq("operators.ext.quality", "operators.ext.exact_dedup", "operators.ext.minhash_pairs",
      "operators.ext.clusters", "operators.ext.contamination", "operators.mix", "operators.ext.pack")
      .map(s => s"${s}_s" -> Util.median(warm.map(tracer.spanSeconds(s)))).toMap
}

object Curation {
  val Mix: Corpus.Rates = Corpus.Rates(docs = 400, heldOut = 100, short = 0.05, noStopword = 0.04,
    exact = 0.06, near = 0.06, contaminated = 0.03)
  val BandSize = 8
  val ThreshNum = 4
  val ThreshDen = 5
  val BinTokens = 512

  val Schema = "doc_id BIGINT, lang STRING, text STRING"
}
