package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale harness (the empirical side of every "100 TB shape" claim): build a
  * k×-replicated document corpus with IDENTICAL local duplication
  * statistics — every replica's tokens carry a replica tag, so vocabularies
  * are disjoint across replicas, near-dup cluster sizes stay constant, and
  * per-token document frequencies match the 1× corpus — then time the heavy
  * dedup/similarity family at 1× and k× on the same session. Linear growth
  * in corpus mass should produce ~linear growth in runtime; anything
  * super-linear is a scale bug the plan asserts missed.
  *
  * Usage: runMain graft.ScaleBench <sfDir> <k> [query ...]
  * Scaled corpus is cached under /tmp/graft_scale_<k>x (other tables
  * symlinked from sfDir). Timings print as [scale] lines; commit the table
  * to SCALE.md.
  */
object ScaleBench {

  /** Build (or reuse) the k×-replicated corpus under /tmp/graft_scale_<k>x:
    * replica-tagged document tokens (disjoint vocabularies — local density
    * fixed, mass × k), embeddings replicated under offset ids (per-dimension
    * min/max exactly preserved, so frozen-quantizer stats and query bounds
    * stay fixed), every other table symlinked. Shared by the scale harnesses
    * (ScaleBench and the lexical-index runs of SCALE.md §Lexical index) so
    * all scale claims run one corpus recipe.
    */
  def ensureScaledCorpus(spark: SparkSession, sfDir: String, k: Int): String = {
    val scaled = s"/tmp/graft_scale_${k}x"
    if (!new java.io.File(s"$scaled/documents.parquet").exists()) {
      new java.io.File(scaled).mkdirs()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
      docs.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("doc_id") + col("__r") * maxId).as("doc_id"),
          when(col("__r") === 0, col("text")).otherwise(expr(
            "concat_ws(' ', transform(filter(split(text, ' '), t -> t != ''), " +
              "t -> concat(t, '_', cast(__r as string))))")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val maxV = emb.agg(max("vec_id")).head.getLong(0) + 1
      emb.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("vec_id") + col("__r") * maxV).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
      for (f <- new java.io.File(sfDir).listFiles()
           if f.getName != "documents.parquet" && f.getName != "embeddings.parquet"
             && f.getName != "events.parquet") {
        val link = java.nio.file.Paths.get(s"$scaled/${f.getName}")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link, f.toPath)
      }
    }
    // events: replicas offset by 32 DAYS each (and by id), so the time-series
    // family scales honestly — temporal density per hour/user is fixed,
    // windows/sessions/overlaps stay within-replica, and mass grows exactly
    // k× (naive replication would stack k copies into the same 30 days and
    // measure k²-denser overlap fixtures, not the engine). Upgraded in place
    // if an older corpus symlinked events.
    val evPath = java.nio.file.Paths.get(s"$scaled/events.parquet")
    if (java.nio.file.Files.isSymbolicLink(evPath)) java.nio.file.Files.delete(evPath)
    if (!java.nio.file.Files.exists(evPath)) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val maxE = ev.agg(max("event_id")).head.getLong(0) + 1
      val shifted = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // ns since epoch
          expr("ts + __r * cast(2764800000000000 as bigint)")
        case _ => expr("ts + make_dt_interval(__r * 32, 0, 0, 0)")
      }
      ev.crossJoin(spark.range(k).select(col("id").as("__r")))
        .select((col("event_id") + col("__r") * maxE).as("event_id"),
          shifted.as("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaled/events.parquet")
      println(s"[scale] built $scaled: ${spark.read.parquet(s"$scaled/documents.parquet").count()} docs, " +
        s"${spark.read.parquet(s"$scaled/embeddings.parquet").count()} vecs")
    }
    scaled
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val k = args(1).toInt
    val queries = if (args.length > 2) args.drop(2).toSeq else Seq(
      "x2_minhash_lsh", "x2_containment_join", "x1_incremental_neardup",
      "x1_dedup_clusters", "x9_curation_e2e")
    val spark = LocalSession.build(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    val scaled = ensureScaledCorpus(spark, sfDir, k)
    for (q <- queries; (label, dir) <- Seq("1x" -> sfDir, s"${k}x" -> scaled)) {
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        Queries.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"[scale] $q%-24s $label%-4s pass$pass ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    spark.stop()
  }
}
