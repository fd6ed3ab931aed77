package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Par
import graft.operators.ext.Dedup

/** Skew stress for the LSH salted self-join (SCALE.md §skew): every scaling
  * corpus so far held bucket skew FIXED by construction (replica-tagged
  * vocabularies), so the `salts` sizing rule on [[Dedup.minhashLshPairs]] —
  * salts >= n_max² / (2 × task-row budget) — was argued from the plan shape,
  * never measured against a genuinely hot bucket. This builds one: the base
  * corpus plus `hotN` documents with IDENTICAL boilerplate text, which all
  * share the same key in EVERY band — a single bucket emitting ~hotN²/2
  * candidate pairs per band.
  *
  * For each requested `salts` value the full pair pipeline runs twice (pass2
  * warm); the PAIR SET must be identical across salts (the salting is a
  * partitioning choice, not a semantics choice), which is asserted via the
  * verified-pair count each run. Expected shape: with salts=1 the hot
  * bucket's pair space lands in ONE task (serialized); with the rule-derived
  * value the same rows spread over `salts` tasks and wall time recovers to
  * ~bucket-work / salts + the corpus-linear floor.
  *
  * Usage: runMain graft.ProfileSkew <sfDir> [hotN] [salts ...]
  */
object ProfileSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hotN = args.drop(1).headOption.map(_.toInt).getOrElse(10000)
    val saltsList = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(1, 4, 16)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // one hot cluster: hotN identical 40-token boilerplate docs, ids far
    // above the base corpus so no collision with its near-dup structure
    val boiler = (0 until 40).map(i => s"boiler_$i").mkString(" ")
    val hot = spark.range(hotN).select(
      (col("id") + 10000000L).as("doc_id"), lit(boiler).as("text"))
    val Seq(corpus) = Par.materialize(spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").unionByName(hot)
      .repartition(32))
    println(s"[skew] corpus ${corpus.count()} docs, hot bucket $hotN " +
      s"(~${hotN.toLong * (hotN - 1) / 2} pairs per band)")
    for (s <- saltsList; pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = Dedup.minhashLshPairs(corpus, "doc_id", "text", 8, 19, 20, salts = s).count()
      println(f"[skew] salts=$s%-4d pass$pass ${(System.nanoTime() - t0) / 1e9}%8.2f s   verified pairs $n")
      System.gc()
    }
    spark.stop()
  }
}
