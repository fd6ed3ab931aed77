package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** Where `GraftSqlParser`'s grammar ends. A statement Spark SQL can say
  * through the catalog (metadata reads, schema DDL, INSERT / CTAS, keyed
  * or range DELETE) is not GRAFT SQL: the parser leaves it to Spark's
  * parser. Every kept grammar line parses to its command. Parsing runs no
  * statement, so no session is needed.
  */
class ParserBoundarySpec extends AnyFunSuite {

  private val deleted = Seq(
    "DESCRIBE HISTORY GRAFT '/t'",
    "DESCRIBE DETAIL GRAFT '/t'",
    "SHOW PARTITIONS GRAFT '/t'",
    "SHOW FILES GRAFT '/t'",
    "SHOW BRANCHES GRAFT '/t'",
    "SHOW TAGS GRAFT '/t'",
    "ALTER GRAFT '/t' RENAME COLUMN a TO b",
    "ALTER GRAFT '/t' DROP COLUMN a",
    "ALTER GRAFT '/t' ALTER COLUMN a TYPE bigint",
    "ALTER GRAFT '/t' ALTER COLUMN a DROP NOT NULL",
    "ALTER GRAFT '/t' ADD COLUMN a string DEFAULT ('x')",
    "ALTER GRAFT '/t' ADD COLUMN a bigint",
    "ALTER GRAFT '/t' ADD CONSTRAINT pos CHECK (a > 0)",
    "ALTER GRAFT '/t' DROP CONSTRAINT pos",
    "INSERT INTO GRAFT '/t' FROM (SELECT 1 AS a)",
    "INSERT OVERWRITE GRAFT '/t' FROM (SELECT 1 AS a)",
    "CREATE GRAFT '/t' PARTITIONED BY (a) STATS BY (b) AS (SELECT 1 AS a, 2 AS b)",
    "DELETE GRAFT '/t' WHERE a IN (1, 2)",
    "DELETE GRAFT '/t' WHERE a BETWEEN 1 AND 9")

  private def utcMs(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  private val kept = Seq(
    "OPTIMIZE GRAFT '/t' TARGET 4" -> GraftOptimizeCommand("/t", 4, None, Nil),
    "VACUUM GRAFT '/t' RETAIN 2 DRY RUN" -> GraftVacuumCommand("/t", Some(2), dryRun = true),
    "VACUUM GRAFT '/t' OLDER THAN TIMESTAMP '2024-01-01 00:00:00'" ->
      GraftVacuumCommand("/t", Some(1), olderThanMs = Some(utcMs("2024-01-01T00:00:00Z"))),
    "VACUUM GRAFT '/t'" -> GraftVacuumCommand("/t", None),
    "RESTORE GRAFT '/t' TO VERSION 3" -> GraftRestoreCommand("/t", 3L),
    "RESTORE GRAFT '/t' TO TIMESTAMP '2024-01-01 00:00:00'" ->
      GraftRestoreTimestampCommand("/t", utcMs("2024-01-01T00:00:00Z")),
    "RESTORE GRAFT '/t' TO TAG release-1" -> GraftRestoreTagCommand("/t", "release-1"),
    "ANALYZE GRAFT '/t' STATS BY (id) BLOOM BY (id)" ->
      GraftAnalyzeCommand("/t", Seq("id"), Seq("id")),
    "ANALYZE GRAFT '/t' NDV BY (id, s)" -> GraftAnalyzeNdvCommand("/t", Seq("id", "s")),
    "DELETE GRAFT '/t' POSITIONAL WHERE (v > 60)" -> GraftDeletePosCommand("/t", "v > 60"),
    "UPDATE GRAFT '/t' SET v = v + 1 WHERE id IN (1, 2)" ->
      GraftUpdateCommand("/t", "id", Left(Seq(1L, 2L)), Map("v" -> "v + 1")),
    "UPDATE GRAFT '/t' SET v = 0 WHERE id BETWEEN 1 AND 9" ->
      GraftUpdateCommand("/t", "id", Right((1L, 9L)), Map("v" -> "0")),
    "MERGE GRAFT '/t' ON id FROM (SELECT 1 AS id)" ->
      GraftMergeCommand("/t", "id", "SELECT 1 AS id", None, None, None, evolveSchema = false),
    "MERGE GRAFT '/t' ON a, b FROM (SELECT 1 AS a, 2 AS b)" ->
      GraftMergeKeysCommand("/t", Seq("a", "b"), "SELECT 1 AS a, 2 AS b"),
    "REPLACE GRAFT '/t' WHERE id BETWEEN 0 AND 9 FROM (SELECT 1 AS id)" ->
      GraftReplaceCommand("/t", "id", 0L, 9L, "SELECT 1 AS id"),
    "ALTER GRAFT '/t' SET TBLPROPERTIES ('k' = 'v')" ->
      GraftPropertiesCommand("/t", Map("k" -> "v"), Nil),
    "ALTER GRAFT '/t' UNSET TBLPROPERTIES ('k')" ->
      GraftPropertiesCommand("/t", Map.empty, Seq("k")),
    "SHOW TBLPROPERTIES GRAFT '/t'" -> GraftShowPropertiesCommand("/t"),
    "ALTER GRAFT '/t' ALTER COLUMN a SET NOT NULL" ->
      GraftAlterCommand("/t", "setnotnull", "a", None),
    "ALTER GRAFT '/t' ADD COLUMN g GENERATED ALWAYS AS (k * 2)" ->
      GraftAlterCommand("/t", "addgen", "g", Some("k * 2")),
    "ALTER GRAFT '/t' ADD COLUMN rid GENERATED ALWAYS AS IDENTITY (START WITH 5 STEP 3)" ->
      GraftAlterCommand("/t", "addidentity", "rid", Some("5,3")),
    "ALTER GRAFT '/t' SET PARTITIONED BY (days(ts))" ->
      GraftAlterCommand("/t", "setlayout", "days(ts)", None),
    "ALTER GRAFT '/t' WRITE ORDERED BY (id)" ->
      GraftPropertiesCommand("/t", Map("graft.write.orderedBy" -> "id"), Nil),
    "ALTER GRAFT '/t' WRITE UNORDERED" ->
      GraftPropertiesCommand("/t", Map.empty, Seq("graft.write.orderedBy")),
    "ALTER GRAFT '/t' CREATE BRANCH exp" -> GraftRefCommand("/t", "createbranch", "exp", None),
    "ALTER GRAFT '/t' DROP BRANCH exp" -> GraftRefCommand("/t", "dropbranch", "exp", None),
    "ALTER GRAFT '/t' FAST FORWARD BRANCH exp" ->
      GraftRefCommand("/t", "fastforward", "exp", None),
    "ALTER GRAFT '/t' CHERRY PICK BRANCH exp" ->
      GraftRefCommand("/t", "cherrypick", "exp", None),
    "ALTER GRAFT '/t' CREATE TAG golden AS OF VERSION 3" ->
      GraftRefCommand("/t", "createtag", "golden", Some(3L)),
    "ALTER GRAFT '/t' DROP TAG golden" -> GraftRefCommand("/t", "droptag", "golden", None),
    "CONVERT GRAFT '/t' FROM '/src' PARTITIONED BY (grp)" ->
      GraftConvertCommand("/t", "/src", Seq("grp")),
    "COPY INTO GRAFT '/t' FROM '/in/*.parquet'" ->
      GraftCopyIntoCommand("/t", "/in/*.parquet", "parquet"),
    "CREATE MATERIALIZED VIEW GRAFT '/mv' FROM '/t' GROUP BY k SUM (v)" ->
      GraftCreateMatViewCommand("/mv", "/t", "k", Seq("v")),
    "REFRESH MATERIALIZED VIEW GRAFT '/mv'" -> GraftRefreshMatViewCommand("/mv"))

  for (sql <- deleted) test(s"GRAFT SQL boundary: $sql is left to Spark's parser") {
    assert(GraftSqlParser.parseMaintenance(sql).isEmpty)
  }

  for ((sql, command) <- kept) test(s"GRAFT SQL boundary: $sql parses to its command") {
    assert(GraftSqlParser.parseMaintenance(sql).contains(command))
  }
}
