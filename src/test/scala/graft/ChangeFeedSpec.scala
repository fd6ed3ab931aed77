package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.io.VersionedTable

/** The change feed of a rewrite commit against a model: row-multiset
  * `EXCEPT ALL` both ways, then key semi/anti joins against each side's
  * distinct keys (a NULL key never matches). Inputs carry duplicate
  * identical rows, NULL keys, survivors rewritten unchanged, and keys
  * deleted and re-inserted with other values.
  */
class ChangeFeedSpec extends SparkSpec {

  private val cols = Seq("s", "id", "v")

  private def model(old: DataFrame, neu: DataFrame, k: String): DataFrame = {
    val (changedNew, changedOld) = (neu.exceptAll(old), old.exceptAll(neu))
    val (oldKeys, newKeys) = (old.select(k).distinct(), neu.select(k).distinct())
    changedNew.join(oldKeys, Seq(k), "left_anti").withColumn("_change_type", lit("insert"))
      .unionByName(changedNew.join(oldKeys, Seq(k), "left_semi")
        .withColumn("_change_type", lit("update_postimage")))
      .unionByName(changedOld.join(newKeys, Seq(k), "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
      .unionByName(changedOld.join(newKeys, Seq(k), "left_anti")
        .withColumn("_change_type", lit("delete")))
  }

  /** Rows as sorted strings: a multiset, compared in the given column order. */
  private def bag(df: DataFrame, order: Seq[String]): Seq[String] =
    df.select(order.head, order.tail: _*).collect().map(_.toString).toSeq.sorted

  private def rowsDf(rows: Seq[(String, Option[Long], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF(cols: _*)
  }

  test("rowChanges equals the EXCEPT ALL and key-join model on seeded multisets") {
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      def key(): Option[Long] = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(12).toLong)
      def value() = (s"s${rnd.nextInt(3)}", rnd.nextInt(3))
      val old = Seq.fill(40) { val (s, v) = value(); (s, key(), v) } ++
        Seq(("dup", Some(50L), 1), ("dup", Some(50L), 1), ("nul", None, 2), ("nul", None, 2),
          ("gone", Some(51L), 0), ("same", Some(52L), 3))
      // per old row: keep (a survivor rewritten unchanged), drop, change the
      // value (same key), or keep it twice; then fresh rows on old and new keys
      val neu = old.flatMap { r =>
        rnd.nextInt(4) match {
          case 0 => Seq(r)
          case 1 => Nil
          case 2 => Seq(r.copy(_3 = r._3 + 10))
          case _ => Seq(r, r)
        }
      }.filterNot(_._2.contains(51L)) ++
        Seq.fill(10) { val (s, v) = value(); (s, key(), v) } ++
        Seq(("back", Some(51L), 9), ("same", Some(52L), 3), ("new", Some(53L), 4))
      val (o, n) = (rowsDf(old), rowsDf(neu))
      val got = VersionedTable.rowChanges(o, n, "id")
      assert(got.columns.toSeq == cols :+ "_change_type", got.columns.toSeq)
      val order = cols :+ "_change_type"
      assert(bag(got, order) == bag(model(o, n, "id"), order), s"seed $seed")
    }
  }

  test("changeFeedOfCommit equals the model through merge, update, delete and deleteWhereMor") {
    import spark.implicits._
    val root = TestSpark.tmpDir("cdf_model")
    val stats = Seq("id")
    // every non-NULL key lives in one data dir, so the model may diff the
    // whole snapshots: rows of untouched dirs cancel on both sides
    VersionedTable.commit(rowsDf(Seq(("a", Some(0L), 1), ("b", Some(1L), 1), ("c", Some(3L), 2),
      ("c", Some(3L), 2), ("n", None, 5), ("n", None, 5), ("e", Some(5L), 3),
      ("f", Some(7L), 4))), root, "append", "c0", statsCols = stats)            // v1
    VersionedTable.commit(rowsDf(Seq(("p", Some(101L), 1), ("q", Some(102L), 2),
      ("r", Some(103L), 3), ("n", None, 6))), root, "append", "c1", statsCols = stats) // v2
    // a duplicated target key, a survivor rewritten unchanged, a new key
    VersionedTable.mergeInto(spark, root, rowsDf(Seq(("C", Some(3L), 7), ("e", Some(5L), 3),
      ("z", Some(200L), 8))), "id", "m0", statsCols = stats)                  // v3
    VersionedTable.updateWhere(spark, root, Seq(101L, 102L).toDF("id"), "id",
      Map("v" -> "v + 1"), "u0", statsCols = stats)                           // v4
    VersionedTable.deleteWhere(spark, root, Seq(0L, 3L).toDF("id"), "id", "d0",
      statsCols = stats)                                                       // v5
    VersionedTable.mergeInto(spark, root, rowsDf(Seq(("A", Some(0L), 9))), "id", "m1",
      statsCols = stats)                                                       // v6: 0 is back
    VersionedTable.deleteWhereMor(spark, root, Seq(101L, 200L).toDF("id"), "id", "d1") // v7
    VersionedTable.mergeInto(spark, root, rowsDf(Seq(("P", Some(101L), 2))), "id", "m2",
      statsCols = stats)                                                       // v8: 101 is back
    val history = VersionedTable.history(root)
    assert(history.map(_.mode).drop(2) ==
      Seq("merge", "update", "delete", "merge", "delete-mor", "merge"), history.map(_.mode))
    val order = cols :+ "_change_type"
    var changed = 0L
    for (v <- 3L to 8L) {
      val got = VersionedTable.changeFeedOfCommit(spark, root, VersionedTable.commitAt(root, v - 1),
        VersionedTable.commitAt(root, v).get, "id").getOrElse(fail(s"v$v has no row-level form"))
      assert(got.columns.toSeq == order, s"v$v: ${got.columns.toSeq}")
      val want = model(VersionedTable.read(spark, root, Some(v - 1)),
        VersionedTable.read(spark, root, Some(v)), "id")
      val (g, w) = (bag(got, order), bag(want, order))
      assert(g == w, s"v$v")
      changed += g.size
    }
    assert(changed == 14L, "the script changes 14 rows over v3..v8")
  }
}
