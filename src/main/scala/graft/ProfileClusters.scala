package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Par
import graft.operators.ext.Dedup

/** Dev harness: phase timing of the x1_dedup_clusters pipeline — how much is
  * pair generation vs. contraction + finish (or propagation rounds).
  * Usage: runMain graft.ProfileClusters [sfDir]
  *    or: runMain graft.ProfileClusters --synthetic <nNodes>
  * The synthetic mode stress-tests the contraction at far past bench scale:
  * nNodes/50 cliques of 50 (the dense local structure near-dup pair lists
  * have) linked into one chain (the high-diameter structure propagation
  * fears), ~nNodes×24.5 edges total; asserts the whole graph resolves to
  * ONE component labeled 0.
  */
object ProfileClusters {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    if (args.headOption.contains("--synthetic")) {
      import org.apache.spark.sql.functions._
      val n = args(1).toLong
      val clique = 50L
      // two independently-built sides with disjoint column names: the
      // aliased-self-join form silently resolves `a.id < b.id` to one side
      // (always false → zero pairs) on this lineage
      def side(p: String) = spark.range(n).select(col("id").as(s"${p}_id"),
        (col("id") / clique).cast("long").as(s"${p}_c"))
      // within-clique all-pairs (the dense local mass) + a chain linking
      // consecutive clique heads (the high-diameter cross-partition case)
      val pairs = side("a").join(side("b"),
          col("a_c") === col("b_c") && col("a_id") < col("b_id"))
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
        .unionByName(spark.range(n / clique - 1).select(
          (col("id") * clique).as("id_a"), ((col("id") + 1) * clique).as("id_b")))
      val docs = spark.range(n).select(col("id").as("doc_id"))
      // materialize the pair list first so edge GENERATION cost (the clique
      // self-join) is reported separately from the clustering itself
      val mat = t(f"synthetic pair materialization n=$n edges~${n * (clique - 1) / 2 + n / clique}") {
        val Seq(m) = Par.materialize(pairs); m.count(); m
      }
      val clustered = t(s"dedupClusters n=$n") {
        graft.operators.ext.Dedup.dedupClusters(docs, "doc_id", mat)
      }
      val distinctClusters = clustered.select("cluster").distinct().count()
      val wrong = clustered.filter(col("cluster") =!= 0L).count()
      println(s"[prof] distinct clusters = $distinctClusters, mislabeled = $wrong")
      assert(distinctClusters == 1L && wrong == 0L, "synthetic graph must resolve to one component labeled 0")
      spark.stop()
      return
    }
    (1 to 2).foreach { pass =>
      println(s"--- pass $pass")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val pairsLazy = t("pairs (build+checkpoints)") {
        Dedup.minhashLshPairs(docs, "doc_id", "text", 8, 19, 20)
      }
      // minhashLshPairs checkpoints its linear intermediates eagerly but the
      // candidate-join + verify TAIL stays lazy — materialize it separately
      // so tail cost doesn't masquerade as clustering cost downstream
      val pairs = t("pair tail (cand join + verify) materialization") {
        Par.materialize(pairsLazy).head
      }
      // dedupClusters is eager only through the star contraction (the
      // localCheckpoint + count inside clusterEdges); the single-task finish
      // and the docs join stay lazy. Split them out so the scale table can
      // attribute growth per stage: contraction vs finish+join vs output sort.
      val clustered = t("contractEdges + star count (eager part)") {
        Dedup.dedupClusters(docs, "doc_id", pairs)
      }
      val labels = t("single-task finish + docs join") {
        Par.materialize(clustered).head
      }
      t("output sort + noop write") {
        labels.orderBy("doc_id").write.format("noop").mode("overwrite").save()
      }
      System.gc()
    }
    spark.stop()
  }
}
