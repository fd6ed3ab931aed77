package graft

import graft.operators.ext.Sketches

/** The native TypedImperativeAggregate HLL (§2.10): same estimate as the
  * composed Sketches form, invariant under partitioning (the merge path), and
  * resolvable through the SparkSessionExtensions injection the test session
  * is built with.
  */
class HllAggSpec extends SparkSpec {
  import TestSpark.sf

  private def orders = spark.read.parquet(s"$sf/orders.parquet")

  test("portable_hll equals the composed Sketches estimate (same hash/bucket/rank math)") {
    val composed = Sketches.hllDistinct(orders, "o_custkey", 6)
      .select("hll_estimate_e4").head.getLong(0)
    val native = orders.selectExpr("portable_hll(cast(o_custkey as string)) AS e").head.getLong(0)
    assert(native == composed)
  }

  test("estimate is invariant under partitioning (partial states merge exactly)") {
    val one = orders.repartition(1)
      .selectExpr("portable_hll(cast(o_custkey as string)) AS e").head.getLong(0)
    val many = orders.repartition(13)
      .selectExpr("portable_hll(cast(o_custkey as string)) AS e").head.getLong(0)
    assert(one == many)
  }

  test("portable_hll resolves via the GraftExtensions-built session and plans partial aggregation") {
    // TestSpark builds the session with spark.sql.extensions=GraftExtensions,
    // so the function resolves on a session no suite has to register.
    val df = spark.range(0, 10000).selectExpr("portable_hll(cast(id as string)) AS e")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_portable_hll"),
      s"expected partial ObjectHashAggregate, got:\n$plan")
    val est = df.head.getLong(0)
    // HLL with m=64 on n=10000: within ~3x relative error even in the worst case
    assert(est > 3000L * 10000 && est < 30000L * 10000)
  }
}
