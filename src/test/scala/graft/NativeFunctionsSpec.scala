package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.ArrayOps
import graft.operators.ext.{Dedup, Similarity}

/** graft builds its native functions as typed Columns: operators and query
  * bodies run the same on a session whose function registry has none of
  * them, and leave that registry as they found it.
  */
class NativeFunctionsSpec extends SparkSpec {
  import TestSpark.sf

  private val names = ArrayOps.functions.map(_._1)

  private def registered(s: SparkSession): Seq[String] =
    names.filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private def outputs(s: SparkSession): Seq[Seq[Row]] = {
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val emb = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(2f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    Seq(
      Dedup.minhashLshPairs(docs, "doc_id", "text", 4, 19, 20),
      Dedup.shingles(docs, "doc_id", "text", 2),
      Similarity.cosinePairs(emb, new java.math.BigDecimal("0.900000")),
      Queries.queries("x3_normalize")(s, sf),
      Queries.queries("a9_hll_native")(s, sf)
    ).map(_.collect().toSeq.sortBy(_.toString))
  }

  test("the extension injects all nine functions") {
    assert(registered(spark) == names)
  }

  test("operators and query bodies need no registered function and register none") {
    val bare = spark.newSession()
    names.foreach(n => bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(registered(bare).isEmpty)
    val expected = outputs(spark)
    assert(expected.forall(_.nonEmpty), expected)
    assert(outputs(bare) == expected)
    assert(registered(bare).isEmpty, "a library call registered functions in the caller's session")
  }
}
