package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.io.VersionedTable

/** SQL front door for the versioned-table verbs Spark SQL cannot say,
  * injected through `SparkSessionExtensions.injectParser` (the public
  * Catalyst extension point — the same mechanism Delta uses for its
  * OPTIMIZE / VACUUM statements). Everything Spark SQL can say goes
  * through [[graft.catalog.GraftCatalog]] instead: metadata reads
  * (`SELECT … FROM cat.db.t.history | detail | partitions | files |
  * branches | tags`), schema DDL (`ALTER TABLE … RENAME / DROP / ALTER /
  * ADD COLUMN`, `ADD / DROP CONSTRAINT`), `INSERT INTO`, `INSERT
  * OVERWRITE`, `CREATE TABLE … AS SELECT` and keyed or range
  * `DELETE FROM`. The grammar kept here, each form with why it stays:
  *
  * {{{
  *   OPTIMIZE GRAFT '<root>' [TARGET <n> | TARGET <n> BYTES]
  *       [WHERE <partCol> IN ('v' [, 'v']*)]
  *       [ZORDER BY (c1, c2 [, ...]) | CLUSTER BY (c1, c2 [, ...])]
  *       — compaction has no Spark SQL statement
  *   VACUUM GRAFT '<root>' [RETAIN <n>] [DRY RUN]
  *   VACUUM GRAFT '<root>' OLDER THAN TIMESTAMP '<instant>' [RETAIN <n>] [DRY RUN]
  *       — file expiry has no Spark SQL statement; RETAIN omitted reads
  *         the graft.vacuum.retainLast / olderThanDays TBLPROPERTIES
  *   RESTORE GRAFT '<root>' TO VERSION <n> | TO TIMESTAMP '<instant>' | TO TAG <name>
  *       — rollback has no Spark SQL statement
  *   ANALYZE GRAFT '<root>' STATS BY (c1 [, ...]) [BLOOM BY (c1 [, ...])]
  *   ANALYZE GRAFT '<root>' NDV BY (c1 [, ...])
  *       — Spark's ANALYZE TABLE reaches no v2 catalog table
  *   DELETE GRAFT '<root>' POSITIONAL WHERE (<predicate>)
  *       — DELETE FROM cannot choose the merge-on-read positional form
  *   UPDATE GRAFT '<root>' SET <c> = <expr> [, ...]
  *       WHERE <col> IN (...) | <col> BETWEEN <lit> AND <lit>
  *   MERGE GRAFT '<root>' ON <keyCol>[, <keyCol>]* FROM (<query>)
  *       [WHEN NOT MATCHED BY SOURCE AND <col> BETWEEN <lo> AND <hi>
  *        [AND <cond>] THEN DELETE]
  *       [WHEN MATCHED [AND <cond>] THEN DELETE | UPDATE]
  *       [WHEN NOT MATCHED [AND <cond>] THEN INSERT]
  *       [WITH SCHEMA EVOLUTION]
  *       — the catalog's row-level UPDATE / MERGE refuses snapshots with
  *         merge-on-read debt, DEFAULTs, mixed layout eras, or generated,
  *         identity or constraint declarations (GraftRowLevel)
  *   REPLACE GRAFT '<root>' WHERE <col> BETWEEN <lit> AND <lit> FROM (<query>)
  *       — the catalog table takes no overwrite-by-filter write
  *   ALTER GRAFT '<root>' SET TBLPROPERTIES ('k' = 'v' [, ...])
  *   ALTER GRAFT '<root>' UNSET TBLPROPERTIES ('k' [, ...])
  *   SHOW TBLPROPERTIES GRAFT '<root>'
  *       — Spark's ALTER TABLE SET TBLPROPERTIES refuses the reserved
  *         `owner` key, which the property registry stores
  *   ALTER GRAFT '<root>' ALTER COLUMN <a> SET NOT NULL
  *       — Spark's analyzer refuses nullable → non-nullable on a v2
  *         table; the verb validates the snapshot before it publishes
  *   ALTER GRAFT '<root>' ADD COLUMN <a> GENERATED ALWAYS AS (<expr>)
  *   ALTER GRAFT '<root>' ADD COLUMN <a> GENERATED ALWAYS AS IDENTITY
  *       [(START WITH <n> STEP <n>)]
  *       — no TableChange adds a generated or identity column
  *   ALTER GRAFT '<root>' SET PARTITIONED BY (c1 | days(ts) | bucket(n, c) [, ...])
  *       — no TableChange changes the partition spec; () = flat, and a
  *         transform entry evolves to a hidden layout in one metadata
  *         commit, old dirs read under their era
  *   ALTER GRAFT '<root>' WRITE ORDERED BY (c1 [ASC|DESC] [, ...])
  *   ALTER GRAFT '<root>' WRITE UNORDERED
  *       — Spark SQL has no write-order DDL
  *   ALTER GRAFT '<root>' CREATE BRANCH <name> | DROP BRANCH <name>
  *       | FAST FORWARD BRANCH <name> | CHERRY PICK BRANCH <name>
  *       | CREATE TAG <name> [AS OF VERSION <n>] | DROP TAG <name>
  *       — Spark SQL has no ref statements
  *   CONVERT GRAFT '<root>' FROM '<dir>' [PARTITIONED BY (c1, ...)]
  *   COPY INTO GRAFT '<root>' FROM '<glob>' [FORMAT <fmt>]
  *   CREATE MATERIALIZED VIEW GRAFT '<mv>' FROM '<src>'
  *       GROUP BY <key> SUM (c1 [, ...]) [MINMAX (c1 [, ...])]
  *   REFRESH MATERIALIZED VIEW GRAFT '<mv>'
  *       — adopt-in-place, idempotent landing-zone loads and incremental
  *         views have no Spark SQL statement
  * }}}
  *
  * The `GRAFT` keyword after the verb keeps the grammar disjoint from
  * anything Spark itself may parse now or later; every other statement
  * delegates untouched, so the parser is a pure superset. Wherever the
  * grammar shows `'<root>'`, a dotted catalog NAME is also accepted
  * (`OPTIMIZE GRAFT cat.db.t`) — it resolves through the session's
  * registered [[graft.catalog.GraftCatalog]]s to the same root, with a
  * loud refusal on an unregistered catalog or a name with no committed
  * table (so CREATE MATERIALIZED VIEW, which creates new storage, keeps
  * the path spelling). Statements resolve to `LeafRunnableCommand`s —
  * lazily executed like any Spark command, driver-side by design (these
  * are metadata verbs; the heavy lifting inside compact/compactWhere is
  * ordinary distributed Spark). OPTIMIZE takes a fresh commitId per
  * statement (SQL re-execution means re-optimize, exactly Delta's
  * semantics — idempotent retry is the programmatic API's contract, not
  * SQL's).
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseMaintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier = delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
}

object GraftSqlParser {
  private val vacuumRe =
    """(?is)\s*VACUUM\s+GRAFT\s+'([^']+)'\s+RETAIN\s+(\d+)(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val vacuumOlderRe =
    """(?is)\s*VACUUM\s+GRAFT\s+'([^']+)'\s+OLDER\s+THAN\s+TIMESTAMP\s+'([^']+)'(?:\s+RETAIN\s+(\d+))?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val vacuumPropRe =
    """(?is)\s*VACUUM\s+GRAFT\s+'([^']+)'(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val optimizeRe =
    """(?is)\s*OPTIMIZE\s+GRAFT\s+'([^']+)'(.*?);?\s*""".r
  private val targetBytesRe = """(?is).*\bTARGET\s+(\d+)\s+BYTES\b.*""".r
  private val targetRe = """(?is).*\bTARGET\s+(\d+).*""".r
  private val whereRe = """(?is).*\bWHERE\s+(\w+)\s+IN\s*\(([^)]*)\).*""".r
  private val zorderRe = """(?is).*\bZORDER\s+BY\s*\(([^)]*)\).*""".r
  private val clusterRe = """(?is).*\bCLUSTER\s+BY\s*\(([^)]*)\).*""".r
  private val restoreRe =
    """(?is)\s*RESTORE\s+GRAFT\s+'([^']+)'\s+TO\s+VERSION\s+(\d+)\s*;?\s*""".r
  private val restoreTsRe =
    """(?is)\s*RESTORE\s+GRAFT\s+'([^']+)'\s+TO\s+TIMESTAMP\s+'([^']+)'\s*;?\s*""".r
  private val restoreTagRe =
    """(?is)\s*RESTORE\s+GRAFT\s+'([^']+)'\s+TO\s+TAG\s+([\w.-]+)\s*;?\s*""".r
  private val analyzeRe =
    """(?is)\s*ANALYZE\s+GRAFT\s+'([^']+)'\s+STATS\s+BY\s*\(([^)]*)\)(?:\s+BLOOM\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  private val analyzeNdvRe =
    """(?is)\s*ANALYZE\s+GRAFT\s+'([^']+)'\s+NDV\s+BY\s*\(([^)]*)\)\s*;?\s*""".r
  private val deletePosRe =
    """(?is)\s*DELETE\s+GRAFT\s+'([^']+)'\s+POSITIONAL\s+WHERE\s+\((.*)\)\s*;?\s*""".r
  // one WHERE-clause literal token: a DATE/TIMESTAMP-typed literal (the
  // quoted body may carry spaces), a plain quoted string, or a bare token
  private val litTok = """((?:DATE|TIMESTAMP)\s*'[^']*'|\S+|'[^']*')"""

  private val updateRe =
    """(?is)\s*UPDATE\s+GRAFT\s+'([^']+)'\s+SET\s+(.*?)\s+WHERE\s+(.*?)\s*;?\s*""".r
  private val replaceRe =
    ("""(?is)\s*REPLACE\s+GRAFT\s+'([^']+)'\s+WHERE\s+(\w+)\s+BETWEEN\s+""" +
      raw"""$litTok\s+AND\s+$litTok\s+FROM\s+\((.*)\)\s*;?\s*""").r
  private val mergeRe =
    """(?is)\s*MERGE\s+GRAFT\s+'([^']+)'\s+ON\s+(\w+(?:\s*,\s*\w+)*)\s+FROM\s+\((.*)""".r
  private val whenDeleteRe =
    """(?is).*\bWHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+DELETE\b.*""".r
  private val whenUpdateRe =
    """(?is).*\bWHEN\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+UPDATE\b.*""".r
  private val whenInsertRe =
    """(?is).*\bWHEN\s+NOT\s+MATCHED\s+(?:AND\s+(.*?)\s+)?THEN\s+INSERT\b.*""".r
  private val evolutionRe = """(?is).*\bWITH\s+SCHEMA\s+EVOLUTION\b.*""".r
  // WHEN NOT MATCHED BY SOURCE — the range-BOUNDED form only (mandatory
  // `<col> BETWEEN <lo> AND <hi>`, integral bounds per the statsCols
  // contract: raw value, epoch days for DATE, micros for TIMESTAMP); the
  // unbounded Delta spelling parses and refuses with the bounded form as
  // guidance (it would rewrite O(table))
  private val whenNmbsRe =
    """(?is).*\bWHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+AND\s+(\w+)\s+BETWEEN\s+(-?\d+)\s+AND\s+(-?\d+)\s*(?:AND\s+(.*?)\s+)?THEN\s+DELETE\b.*""".r
  private val whenNmbsAnyRe =
    """(?is).*\bWHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\b.*?\bTHEN\s+DELETE\b.*""".r
  private val alterSetNotNullRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL\s*;?\s*""".r
  private val alterAddIdentityRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+)\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+STEP\s+(-?\d+)\s*\))?\s*;?\s*""".r
  private val alterAddGenRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+ADD\s+COLUMN\s+(\w+)\s+GENERATED\s+ALWAYS\s+AS\s+\((.*)\)\s*;?\s*""".r
  private val alterSetLayoutRe =
    // greedy body up to the LAST ')': transform entries nest parens —
    // SET PARTITIONED BY (days(ts), bucket(4, id))
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+SET\s+PARTITIONED\s+BY\s*\((.*)\)\s*;?\s*""".r
  private val alterSetPropsRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""".r
  private val alterUnsetPropsRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""".r
  private val alterWriteOrderedRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+WRITE\s+ORDERED\s+BY\s*\(([^)]*)\)\s*;?\s*""".r
  private val alterWriteUnorderedRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+WRITE\s+UNORDERED\s*;?\s*""".r
  private val showPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+GRAFT\s+'([^']+)'\s*;?\s*""".r
  private val alterCreateBranchRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+CREATE\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  private val alterDropBranchRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+DROP\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  private val alterFastForwardRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+FAST\s+FORWARD\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  private val alterCherryPickRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+CHERRY\s+PICK\s+BRANCH\s+([\w.-]+)\s*;?\s*""".r
  private val alterCreateTagRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+CREATE\s+TAG\s+([\w.-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val alterDropTagRe =
    """(?is)\s*ALTER\s+GRAFT\s+'([^']+)'\s+DROP\s+TAG\s+([\w.-]+)\s*;?\s*""".r
  private val createMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+GRAFT\s+'([^']+)'\s+FROM\s+'([^']+)'\s+GROUP\s+BY\s+(\w+)\s+SUM\s*\(([^)]*)\)(?:\s+MINMAX\s*\(([^)]*)\))?\s*;?\s*""".r
  private val refreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+GRAFT\s+'([^']+)'\s*;?\s*""".r
  private val copyIntoRe =
    """(?is)\s*COPY\s+INTO\s+GRAFT\s+'([^']+)'\s+FROM\s+'([^']+)'(?:\s+FORMAT\s+(\w+))?\s*;?\s*""".r
  private val convertRe =
    """(?is)\s*CONVERT\s+GRAFT\s+'([^']+)'\s+FROM\s+'([^']+)'(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  private val propPairRe = """\s*'([^']*)'\s*=\s*'([^']*)'\s*""".r
  private val propKeyRe = """\s*'([^']*)'\s*""".r

  /** Split "query) trailing" at the PAREN BALANCING the already-consumed
    * `FROM (` opener — the inner query may itself contain parentheses and
    * quoted strings, so this is a scan, not a regex.
    */
  private def splitBalanced(s: String): Option[(String, String)] = {
    var depth = 1; var inStr = false; var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (inStr) { if (ch == '\'') inStr = false }
      else ch match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return Some((s.substring(0, i), s.substring(i + 1)))
        case _ => ()
      }
      i += 1
    }
    None
  }
  private val whereInRe = """(?is)\s*(\w+)\s+IN\s*\(([^)]*)\)\s*""".r
  private val whereBetweenRe =
    ("""(?is)\s*(\w+)\s+BETWEEN\s+""" +
      raw"""$litTok\s+AND\s+$litTok\s*""").r

  /** One SQL literal → Scala value: `'...'` is a string, anything else must
    * be an integral (range bounds and IN-lists are key/bound literals, not
    * expressions — the verbs validate the type against the snapshot schema).
    */
  private val dateLitRe = """(?is)DATE\s*'([^']*)'""".r
  private val tsLitRe = """(?is)TIMESTAMP\s*'([^']*)'""".r

  /** One SQL literal → Scala value. Typed DATE/TIMESTAMP literals
    * translate to the statsCols contract's integral forms — epoch DAYS
    * for DATE, session-zone epoch MICROS for TIMESTAMP (the same reading
    * the catalog SQL route gives them) — so `UPDATE GRAFT ... WHERE d
    * BETWEEN DATE '2024-01-01' AND DATE '2024-03-31'` needs no
    * hand-computed epoch numbers.
    */
  private def litValue(raw: String): Any = {
    val t = raw.trim
    t match {
      case dateLitRe(d) => java.sql.Date.valueOf(d).toLocalDate.toEpochDay
      case tsLitRe(ts) =>
        val zone = java.time.ZoneId.of(scala.util.Try(
          org.apache.spark.sql.SparkSession.active.sessionState.conf
            .sessionLocalTimeZone).getOrElse("UTC"))
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
          .getOrElse(sys.error(s"GRAFT SQL: unparseable TIMESTAMP literal '$ts'"))
      case _ if t.startsWith("'") && t.endsWith("'") && t.length >= 2 =>
        t.substring(1, t.length - 1)
      case _ => t.toLong
    }
  }

  private def litList(raw: String): Seq[Any] =
    raw.split(",").map(_.trim).filter(_.nonEmpty).map(litValue).toSeq

  /** Split a SET list on TOP-LEVEL commas only — SET expressions may carry
    * commas inside parens (`concat(a, b)`) or string literals.
    */
  private[plans] def splitSetList(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case q @ ('\'' | '"') =>
          // consume the whole literal verbatim, honoring both escape
          // conventions (doubled quote and backslash) — a comma inside
          // `note = 'a\'s x, y'` must not split the assignment
          cur += q; i += 1
          var open = true
          while (i < s.length && open) {
            val c2 = s.charAt(i)
            if (c2 == '\\' && i + 1 < s.length) {
              cur += c2; cur += s.charAt(i + 1); i += 2
            } else if (c2 == q && i + 1 < s.length && s.charAt(i + 1) == q) {
              cur += c2; cur += q; i += 2
            } else { cur += c2; if (c2 == q) open = false; i += 1 }
          }
        case '(' => depth += 1; cur += '('; i += 1
        case ')' => depth -= 1; cur += ')'; i += 1
        case ',' if depth == 0 => parts += cur.toString; cur.clear(); i += 1
        case c => cur += c; i += 1
      }
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"GRAFT SQL: malformed SET assignment '$a'")
      (a.substring(0, i).trim, a.substring(i + 1).trim)
    }
  }

  // ---- name-based spelling ----------------------------------------------
  // Every statement accepts `GRAFT cat.db.t` wherever it accepts
  // `GRAFT '<root>'` (the Delta path-or-name contract): a dotted,
  // unquoted identifier after the GRAFT keyword resolves through the
  // session's registered catalogs (GraftCatalog.rootOf — loud refusal on
  // an unregistered name) and the statement re-parses in the quoted-root
  // spelling. Gated on the statement HEAD matching a GRAFT verb, so a
  // delegate statement that merely contains the word GRAFT is never
  // rewritten; resolution runs at parse time, like Spark's own analysis
  // of a table name.
  private val graftNameRe =
    """(?is)(\bGRAFT\s+)([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)""".r
  private val graftVerbHeadRe =
    ("""(?is)\s*(?:VACUUM|OPTIMIZE|RESTORE|SHOW\s+TBLPROPERTIES|ANALYZE|DELETE|""" +
      """UPDATE|REPLACE|MERGE|ALTER|COPY\s+INTO|CREATE|REFRESH)\s+.*""").r

  /** Character spans of string literals and comments — positions the name
    * rewrite must never touch: `UPDATE GRAFT db.t SET note = 'see GRAFT
    * x.y'` rewrites only the statement's own name, never the literal's
    * text. Covers every literal/comment shape Spark SQL accepts: single-
    * AND double-quoted strings (double quotes are string literals in
    * Spark's default dialect), with both escape conventions inside either
    * (doubled quote `''`/`""` and backslash `\'`/`\"` — `'a\'s GRAFT x.y'`
    * is ONE literal to the end), `--` line comments, and bracketed
    * `&#47;* *&#47;` block comments. An unterminated literal or block
    * comment protects through end-of-string — the statement will fail to
    * parse anyway, and a rewrite inside it could only make the error
    * stranger.
    */
  private def protectedSpans(sql: String): Seq[(Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case q @ ('\'' | '"') =>
          val start = i; i += 1
          var open = true
          while (i < sql.length && open) {
            val ch = sql.charAt(i)
            if (ch == '\\' && i + 1 < sql.length) i += 2 // backslash escape
            else if (ch == q && i + 1 < sql.length && sql.charAt(i + 1) == q)
              i += 2 // doubled-quote escape
            else if (ch == q) { open = false; i += 1 }
            else i += 1
          }
          spans += ((start, i))
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          val start = i
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
          spans += ((start, i))
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          val start = i; i += 2
          while (i + 1 < sql.length &&
                 !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i = math.min(i + 2, sql.length)
          spans += ((start, i))
        case _ => i += 1
      }
    }
    spans.result()
  }

  private def rewriteNames(sqlText: String, root: String => String): String = {
    val spans = protectedSpans(sqlText)
    def protectedAt(pos: Int) = spans.exists(s => pos >= s._1 && pos < s._2)
    graftNameRe.replaceAllIn(sqlText, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (protectedAt(m.start)) m.matched
        else s"${m.group(1)}'${root(m.group(2))}'"))
  }

  private def resolveNamedRoots(sqlText: String): Option[String] = {
    if (!graftVerbHeadRe.pattern.matcher(sqlText).matches() ||
        graftNameRe.findFirstIn(sqlText).isEmpty) return None
    // TRIAL first: substitute a placeholder root and check the statement
    // actually PARSES as a GRAFT statement before resolving any name — a
    // delegated Spark statement that merely contains "GRAFT x.y" inside a
    // string literal or trailing comment must never pay (or die on) name
    // resolution. Only a statement whose SHAPE is graft-maintenance gets
    // the loud unregistered-name refusal. Matches inside literals and
    // comments are never rewritten on either pass.
    val trial = rewriteNames(sqlText, _ => "/__graft_name_trial__")
    if (trial == sqlText) return None // every match sat inside a literal
    scala.util.Try(parseMaintenance0(trial)) match {
      case scala.util.Success(None) => return None // not a graft statement
      case _ => () // matched — or matched and REFUSED (unsupported WHERE
                   // shape etc.): resolve names and re-parse for real, so
                   // the user sees the graft refusal, not a Spark parse
                   // error on the unrecognized statement
    }
    Some(rewriteNames(sqlText, name =>
      graft.catalog.GraftCatalog.rootOf(
        org.apache.spark.sql.SparkSession.active, name.split("\\.").toSeq)))
  }

  def parseMaintenance(sqlText: String): Option[LogicalPlan] =
    parseMaintenance0(sqlText).orElse(
      resolveNamedRoots(sqlText).flatMap(parseMaintenance0))

  private def parseMaintenance0(sqlText: String): Option[LogicalPlan] = sqlText match {
    case vacuumRe(root, n, dry) => Some(GraftVacuumCommand(root, Some(n.toInt), dry != null))
    // time-based expiry (Iceberg's expire_snapshots older_than): commits
    // published at-or-after the instant survive; RETAIN (default 1) is a
    // count-based floor UNIONED in, so the latest version always survives
    case vacuumOlderRe(root, ts, n, dry) =>
      val ms = java.time.LocalDateTime.parse(ts.trim.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      Some(GraftVacuumCommand(root, Some(Option(n).map(_.toInt).getOrElse(1)),
        dry != null, olderThanMs = Some(ms)))
    // RETAIN omitted: the retention POLICY lives with the table
    // (graft.vacuum.retainLast TBLPROPERTY), resolved at run time
    case vacuumPropRe(root, dry) => Some(GraftVacuumCommand(root, None, dry != null))
    case restoreRe(root, v) => Some(GraftRestoreCommand(root, v.toLong))
    case restoreTsRe(root, ts) =>
      // the instant parses as UTC (every harness session runs UTC); it
      // resolves to the latest version committed at-or-before it
      val ms = java.time.LocalDateTime.parse(ts.trim.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      Some(GraftRestoreTimestampCommand(root, ms))
    case restoreTagRe(root, tag) => Some(GraftRestoreTagCommand(root, tag))
    case analyzeRe(root, stats, blooms) =>
      def cs(x: String) = Option(x).fold(Seq.empty[String])(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      Some(GraftAnalyzeCommand(root, cs(stats), cs(blooms)))
    case analyzeNdvRe(root, cols) =>
      Some(GraftAnalyzeNdvCommand(root,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    case deletePosRe(root, pred) => Some(GraftDeletePosCommand(root, pred))
    case replaceRe(root, col, lo, hi, src) =>
      Some(GraftReplaceCommand(root, col, litValue(lo), litValue(hi), src))
    case alterSetNotNullRe(root, c) => Some(GraftAlterCommand(root, "setnotnull", c, None))
    case alterAddIdentityRe(root, c, st, sp) =>
      // IDENTITY must match before the generic GENERATED ALWAYS AS (expr)
      // form — "IDENTITY" is not an expression
      Some(GraftAlterCommand(root, "addidentity", c,
        Some(s"${Option(st).getOrElse("1")},${Option(sp).getOrElse("1")}")))
    case alterAddGenRe(root, c, e) =>
      Some(GraftAlterCommand(root, "addgen", c, Some(e.trim)))
    case alterSetLayoutRe(root, cols) =>
      // must match before SET TBLPROPERTIES cannot collide (distinct
      // keywords), but before any generic ALTER fallthrough; () = flat.
      // The body passes RAW — transform entries (days(ts), bucket(4, id))
      // carry nested commas the command splits paren-aware.
      Some(GraftAlterCommand(root, "setlayout", cols.trim, None))
    case alterSetPropsRe(root, pairs) =>
      val kvs = pairs.split(",").map {
        case propPairRe(k, v) => k -> v
        case other => sys.error(s"SET TBLPROPERTIES: malformed pair '$other' " +
          "(expected 'key' = 'value')")
      }.toMap
      Some(GraftPropertiesCommand(root, set = kvs, unset = Nil))
    case alterUnsetPropsRe(root, keys) =>
      val ks = keys.split(",").map {
        case propKeyRe(k) => k
        case other => sys.error(s"UNSET TBLPROPERTIES: malformed key '$other'")
      }.toSeq
      Some(GraftPropertiesCommand(root, set = Map.empty, unset = ks))
    // Iceberg's write-order DDL, desugared onto the property registry —
    // the commit path reads 'graft.write.orderedBy' and range-sorts every
    // batch; the property transform validates the columns against the
    // declared schema before publishing
    case alterWriteOrderedRe(root, cols) =>
      val cs = cols.split(",").map(_.trim).filter(_.nonEmpty)
      if (cs.isEmpty) sys.error("WRITE ORDERED BY: empty column list")
      Some(GraftPropertiesCommand(root,
        set = Map("graft.write.orderedBy" -> cs.mkString(",")), unset = Nil))
    case alterWriteUnorderedRe(root) =>
      Some(GraftPropertiesCommand(root, set = Map.empty,
        unset = Seq("graft.write.orderedBy")))
    case showPropsRe(root) => Some(GraftShowPropertiesCommand(root))
    case alterCreateBranchRe(root, name) => Some(GraftRefCommand(root, "createbranch", name, None))
    case alterDropBranchRe(root, name) => Some(GraftRefCommand(root, "dropbranch", name, None))
    case alterFastForwardRe(root, name) => Some(GraftRefCommand(root, "fastforward", name, None))
    case alterCherryPickRe(root, name) => Some(GraftRefCommand(root, "cherrypick", name, None))
    case alterCreateTagRe(root, name, v) =>
      Some(GraftRefCommand(root, "createtag", name, Option(v).map(_.toLong)))
    case alterDropTagRe(root, name) => Some(GraftRefCommand(root, "droptag", name, None))
    case createMvRe(mv, src, key, sums, minmax) =>
      Some(GraftCreateMatViewCommand(mv, src, key,
        sums.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        Option(minmax).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)))
    case refreshMvRe(mv) => Some(GraftRefreshMatViewCommand(mv))
    case convertRe(root, src, pcols) =>
      Some(GraftConvertCommand(root, src,
        Option(pcols).fold(Seq.empty[String])(
          _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)))
    case copyIntoRe(root, glob, fmt) =>
      Some(GraftCopyIntoCommand(root, glob, Option(fmt).getOrElse("parquet")))
    case mergeRe(root, key, tail) =>
      val (src, clauses) = splitBalanced(tail).getOrElse(
        sys.error("MERGE GRAFT: unbalanced parentheses around the FROM (<query>)"))
      val keys = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // clause presence → mergeIntoConditional conditions. With NO WHEN
      // clause at all the statement is the plain upsert (update always,
      // insert always); with ANY clause present, an ABSENT clause means
      // that action never fires — Delta's semantics, where unlisted
      // actions don't happen
      def clause(m: Option[Option[String]], whenAbsent: Option[String],
                 whenBare: Option[String]): Option[String] = m match {
        case None => whenAbsent
        case Some(None) => whenBare
        case Some(Some(c)) => Some(c.trim)
      }
      val del = clauses match { case whenDeleteRe(c) => Some(Option(c)); case _ => None }
      val upd = clauses match { case whenUpdateRe(c) => Some(Option(c)); case _ => None }
      val ins = clauses match { case whenInsertRe(c) => Some(Option(c)); case _ => None }
      val nmbs: Option[(String, Long, Long, Option[String])] = clauses match {
        case whenNmbsRe(c, lo, hi, cond) =>
          Some((c, lo.toLong, hi.toLong, Option(cond).map(_.trim)))
        case whenNmbsAnyRe() => sys.error(
          "MERGE GRAFT: WHEN NOT MATCHED BY SOURCE THEN DELETE requires a " +
            "bounding range — spell it WHEN NOT MATCHED BY SOURCE AND <col> " +
            "BETWEEN <lo> AND <hi> [AND <cond>] THEN DELETE (integral bounds: " +
            "raw value, epoch days for DATE, micros for TIMESTAMP); the " +
            "unbounded form would rewrite O(table)")
        case _ => None
      }
      val evolve = evolutionRe.matches(clauses)
      val noClauses = del.isEmpty && upd.isEmpty && ins.isEmpty && nmbs.isEmpty
      // a composite ON list takes the plain-upsert multi-key path; the
      // clause forms stay single-key (their tgt/src conditions are
      // orthogonal to the key arity and land there when needed)
      if (keys.size > 1) {
        require(noClauses && !evolve, "MERGE GRAFT ON k1, k2 ...: WHEN clauses and " +
          "WITH SCHEMA EVOLUTION are single-key forms; a composite key is the plain upsert")
        return Some(GraftMergeKeysCommand(root, keys, src))
      }
      Some(
        if (noClauses) GraftMergeCommand(root, key, src, None, None, None, evolve)
        else GraftMergeCommand(root, key, src,
          clause(del, whenAbsent = None, whenBare = Some("true")),
          clause(upd, whenAbsent = Some("false"), whenBare = None),
          clause(ins, whenAbsent = Some("false"), whenBare = None),
          evolve,
          nmbsCond = nmbs.map(_._4.getOrElse("true")),
          nmbsBound = nmbs.map(n => (n._1, n._2, n._3))))
    case updateRe(root, setList, where) =>
      val set = splitSetList(setList).toMap
      where match {
        case whereInRe(col, vals) =>
          Some(GraftUpdateCommand(root, col, Left(litList(vals)), set))
        case whereBetweenRe(col, lo, hi) =>
          Some(GraftUpdateCommand(root, col, Right((litValue(lo), litValue(hi))), set))
        case other => sys.error(
          s"UPDATE GRAFT supports WHERE <col> IN (...) and WHERE <col> BETWEEN " +
            s"<lo> AND <hi> (the two manifest-prunable shapes); got: $other")
      }
    case optimizeRe(root, rest) =>
      // TARGET <n> BYTES (size-based — production OPTIMIZE aims at bytes)
      // before the count form, whose pattern is a prefix of it
      val (target, targetBytes) = rest match {
        case targetBytesRe(n) => (0, n.toLong)
        case targetRe(n)      => (n.toInt, 0L)
        case _                => (32, 0L)
      }
      // ZORDER BY = Morton interleave; CLUSTER BY = Hilbert distance (the
      // liquid-clustering curve) — same bucketization, different curve
      val (zorder, curve) = rest match {
        case zorderRe(cs) =>
          (cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq, "morton")
        case clusterRe(cs) =>
          (cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq, "hilbert")
        case _ => (Nil, "morton")
      }
      val where = rest match {
        case whereRe(col, vs) =>
          Some((col, vs.split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
            .filter(_.nonEmpty).toSeq))
        case _ => None
      }
      Some(GraftOptimizeCommand(root, target, where, zorder, curve, targetBytes))
    case _ => None
  }
}

case class GraftVacuumCommand(root: String, retainLast: Option[Int],
                              dryRun: Boolean = false,
                              olderThanMs: Option[Long] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("removed", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // RETAIN-less form: the table's own declared retention policy —
    // count-based (graft.vacuum.retainLast), time-based
    // (graft.vacuum.olderThanDays, resolved against NOW at each run),
    // or both; either alone is a complete policy (the count floor
    // defaults to 1 under a pure time policy, so the latest version
    // always survives)
    val props =
      if (retainLast.isDefined && olderThanMs.isDefined) Map.empty[String, String]
      // a never-committed root has no property registry (and nothing to
      // reclaim) — the explicit-RETAIN form must stay a no-op there
      else if (VersionedTable.latestCommit(root).isEmpty) Map.empty[String, String]
      else VersionedTable.tableProperties(root)
    val policyOlder = olderThanMs.orElse(
      props.get("graft.vacuum.olderThanDays").flatMap(_.toDoubleOption)
        .map(d => System.currentTimeMillis - (d * 86400000L).toLong))
    val retain = retainLast.orElse(
      props.get("graft.vacuum.retainLast").flatMap(_.toIntOption))
      .getOrElse(if (policyOlder.isDefined) 1 else sys.error(
        s"VACUUM GRAFT without RETAIN requires the graft.vacuum.retainLast " +
          s"or graft.vacuum.olderThanDays table property on $root " +
          "(ALTER GRAFT ... SET TBLPROPERTIES)"))
    VersionedTable.vacuum(root, retain, dryRun = dryRun,
      olderThanMs = policyOlder).map(Row(_))
  }
}

/** `RESTORE GRAFT '<root>' TO TIMESTAMP '<instant>'` — time-travel
  * restore: resolves the instant to the latest version committed
  * at-or-before it ([[VersionedTable.versionAsOfTimestamp]] — by version
  * order, so clock skew cannot resolve to a non-latest snapshot), then
  * rolls back to that version as a new history-preserving commit.
  */
case class GraftRestoreTimestampCommand(root: String,
                                        tsMs: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("restored_to", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-restore-ts-${java.util.UUID.randomUUID().toString.take(12)}"
    val target = VersionedTable.versionAsOfTimestamp(root, tsMs)
    Seq(Row(VersionedTable.rollback(root, target, commitId), target))
  }
}

case class GraftRestoreCommand(root: String, toVersion: Long) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-restore-${java.util.UUID.randomUUID().toString.take(12)}"
    Seq(Row(VersionedTable.rollback(root, toVersion, commitId)))
  }
}

/** Literal-keys frame for `UPDATE GRAFT ... WHERE col IN (...)`: an
  * IN-list of all longs or all quoted strings becomes a one-column
  * DataFrame for the keyed verb (which validates the type against the
  * snapshot schema).
  */
private[plans] object GraftDmlKeys {
  def frame(spark: SparkSession, col: String, vals: Seq[Any]):
      org.apache.spark.sql.DataFrame = {
    require(vals.nonEmpty, "GRAFT SQL: empty IN () list")
    val schema = vals.head match {
      case _: Long => StructType(Seq(
        org.apache.spark.sql.types.StructField(col, LongType, nullable = false)))
      case _: String => StructType(Seq(
        org.apache.spark.sql.types.StructField(col, StringType, nullable = false)))
      case other => sys.error(s"GRAFT SQL: unsupported IN literal $other")
    }
    require(vals.forall(_.getClass == vals.head.getClass),
      "GRAFT SQL: IN () list mixes string and numeric literals")
    spark.createDataFrame(
      java.util.Arrays.asList(vals.map(v => Row(v)): _*), schema)
  }
}

/** `DELETE GRAFT '<root>' POSITIONAL WHERE (<any SQL predicate>)` →
  * [[VersionedTable.deletePosWhere]]: the arbitrary-predicate delete as a
  * merge-on-read positional vector — one predicate-pushed scan, zero
  * rewrite, join-free reads. The shape the keyed/range statements cannot
  * express (multi-column conditions, LIKE matches, non-indexed columns).
  */
case class GraftDeletePosCommand(root: String, predicateSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_marked", IntegerType, nullable = false)(),
    AttributeReference("positions", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-delete-pos-${java.util.UUID.randomUUID().toString.take(12)}"
    val (v, marked, positions) =
      VersionedTable.deletePosWhere(spark, root, predicateSql, commitId)
    Seq(Row(v, marked, positions))
  }
}

/** `UPDATE GRAFT '<root>' SET c = expr, ... WHERE col IN (...) | col BETWEEN
  * lo AND hi` → [[VersionedTable.updateWhere]] / [[VersionedTable.updateRange]]
  * — the two manifest-prunable WHERE shapes; SET right-hand sides are
  * arbitrary SQL expressions with old-row semantics (the verbs' contract).
  */
case class GraftUpdateCommand(root: String, col: String,
                              pred: Either[Seq[Any], (Any, Any)],
                              set: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_rewritten", IntegerType, nullable = false)(),
    AttributeReference("dirs_total", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-update-${java.util.UUID.randomUUID().toString.take(12)}"
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    val (v, rw, tot) = pred match {
      case Left(vals) =>
        VersionedTable.updateWhere(spark, root,
          GraftDmlKeys.frame(spark, col, vals), col, set, commitId,
          statsCols = statsCols, bloomCols = bloomCols)
      case Right((lo, hi)) =>
        VersionedTable.updateRange(spark, root, col, lo, hi, set, commitId,
          statsCols = statsCols, bloomCols = bloomCols)
    }
    Seq(Row(v, rw, tot))
  }
}

/** `REPLACE GRAFT '<root>' WHERE col BETWEEN lo AND hi FROM (<query>)` →
  * [[VersionedTable.replaceRange]] — the SQL backfill statement (Delta's
  * `INSERT OVERWRITE ... replaceWhere`): the inner query parses through
  * the session's FULL SQL surface — including `graft_table(...)`, so a
  * table can backfill a range from a transformation of its own snapshot —
  * and its result atomically replaces every row in the range. Inherits
  * the snapshot's skipping index like every SQL-issued rewrite.
  */
case class GraftReplaceCommand(root: String, col: String, lo: Any, hi: Any,
                               sourceSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_dropped", IntegerType, nullable = false)(),
    AttributeReference("dirs_rewritten", IntegerType, nullable = false)(),
    AttributeReference("dirs_total", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-replace-${java.util.UUID.randomUUID().toString.take(12)}"
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    val (v, drop, rw, tot) = VersionedTable.replaceRange(spark, root, col,
      lo, hi, spark.sql(sourceSql), commitId,
      statsCols = statsCols, bloomCols = bloomCols)
    Seq(Row(v, drop, rw, tot))
  }
}

/** The `ALTER GRAFT` column and layout changes Spark's `ALTER TABLE`
  * cannot express, each a fresh-commitId statement: ALTER COLUMN ... SET
  * NOT NULL → [[VersionedTable.setColumnNullability]] (validates the
  * snapshot first), ADD COLUMN ... GENERATED ALWAYS AS (<expr>) →
  * [[VersionedTable.addGeneratedColumn]], ADD COLUMN ... GENERATED ALWAYS
  * AS IDENTITY → [[VersionedTable.addIdentityColumn]], and SET
  * PARTITIONED BY → the layout verbs. Every refusal the verbs enforce
  * surfaces through the statement unchanged.
  */
case class GraftAlterCommand(root: String, verb: String, name: String,
                             arg: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-alter-$verb-${java.util.UUID.randomUUID().toString.take(12)}"
    val v = verb match {
      case "setnotnull" =>
        VersionedTable.setColumnNullability(spark, root, name, nullable = false, commitId)
      case "addgen" => VersionedTable.addGeneratedColumn(spark, root, name, arg.get, commitId)
      case "addidentity" =>
        val Array(st, sp) = arg.get.split(",")
        VersionedTable.addIdentityColumn(root, name, st.toLong, sp.toLong, commitId)
      case "setlayout" =>
        // transform spellings (days(ts), bucket(n, c), ...) route through
        // PARTITION EVOLUTION (generated-column desugar + era-preserving
        // re-layout); plain column lists are the identity re-layout
        val entries = graft.catalog.GraftTransforms.splitEntries(name)
        if (entries.exists(_.contains("(")))
          VersionedTable.evolvePartitionLayout(spark, root, entries, commitId)
        else VersionedTable.setPartitionLayout(root, entries, commitId)
    }
    Seq(Row(v))
  }
}

/** `CONVERT GRAFT '<root>' FROM '<dir>' [PARTITIONED BY (c1, ...)]` →
  * [[VersionedTable.convertFrom]] — adopt an existing plain-parquet
  * directory tree as version 1 BY REFERENCE (Delta's CONVERT TO DELTA,
  * zero bytes moved); the declared hive layout recovers from the
  * source's `k=v/` subpaths. Re-execution is idempotent (the commitId
  * derives from the source path — one conversion per source).
  */
case class GraftConvertCommand(root: String, sourceDir: String,
                               partitionCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-convert-${java.security.MessageDigest.getInstance("MD5")
      .digest(sourceDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)}"
    Seq(Row(VersionedTable.convertFrom(spark, root, sourceDir, partitionCols, commitId)))
  }
}

/** `COPY INTO GRAFT '<root>' FROM '<glob>' [FORMAT <fmt>]` →
  * [[VersionedTable.copyInto]] — the idempotent landing-zone drain as a
  * statement. SQL re-execution is SAFE here, unlike the DML statements'
  * fresh-commitId semantics: the per-FILE markers make a re-run load only
  * files that arrived since, which is the whole point of the verb — so
  * the commitId derives from the marker state (first unseen file), not a
  * UUID.
  */
case class GraftCopyIntoCommand(root: String, glob: String,
                                format: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_loaded", IntegerType, nullable = false)(),
    AttributeReference("files_skipped", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-copy-${java.util.UUID.randomUUID().toString.take(12)}"
    val (v, loaded, skipped) =
      VersionedTable.copyInto(spark, root, glob, commitId, format = format,
        statsCols = VersionedTable.indexedCols(root)._1,
        bloomCols = VersionedTable.indexedCols(root)._2)
    Seq(Row(v, loaded, skipped))
  }
}

/** `RESTORE GRAFT '<root>' TO TAG <name>` — resolve the immortal ref and
  * roll back to its pinned version as a history-preserving commit: the
  * write-audit-publish escape hatch ("put production back to the release
  * we tagged") without looking up version numbers.
  */
case class GraftRestoreTagCommand(root: String, tag: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-restore-tag-${java.util.UUID.randomUUID().toString.take(12)}"
    Seq(Row(VersionedTable.rollback(root, VersionedTable.tagVersion(root, tag), commitId)))
  }
}

/** `ANALYZE GRAFT '<root>' STATS BY (c1, ...) [BLOOM BY (c1, ...)]` —
  * retrofit the skipping index onto an existing table with ZERO data
  * rewrite ([[VersionedTable.analyze]]): envelopes from the footers
  * already on disk, blooms from one distinct-scan per column, published
  * as a metadata-only commit.
  */
case class GraftAnalyzeCommand(root: String, statsCols: Seq[String],
                               bloomCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_indexed", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-analyze-${java.util.UUID.randomUUID().toString.take(12)}"
    val (v, n) = VersionedTable.analyze(spark, root, statsCols, commitId, bloomCols)
    Seq(Row(v, n))
  }
}

/** `ANALYZE GRAFT '<root>' NDV BY (c1, ...)` — measure exact per-column
  * distinct counts in one aggregation job and publish them as table
  * properties ([[VersionedTable.analyzeNdv]]); the catalog scans then
  * serve them as `distinctCount` column statistics — the join-reorder
  * input Spark's cost model wants and parquet footers cannot provide.
  */
case class GraftAnalyzeNdvCommand(root: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col", StringType, nullable = false)(),
    AttributeReference("ndv", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-ndv-${java.util.UUID.randomUUID().toString.take(12)}"
    val (v, m) = VersionedTable.analyzeNdv(spark, root, cols, commitId)
    cols.map(c => Row(c, m.getOrElse(c, -1L), v))
  }
}

/** `ALTER GRAFT ... SET | UNSET TBLPROPERTIES` →
  * [[VersionedTable.setTableProperties]] /
  * [[VersionedTable.unsetTableProperties]] — the versioned free-form
  * key→value registry as a metadata-only commit.
  */
case class GraftPropertiesCommand(root: String, set: Map[String, String],
                                  unset: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-props-${java.util.UUID.randomUUID().toString.take(12)}"
    val v =
      if (set.nonEmpty) VersionedTable.setTableProperties(root, set, commitId)
      else VersionedTable.unsetTableProperties(root, unset, commitId)
    Seq(Row(v))
  }
}

/** `SHOW TBLPROPERTIES GRAFT '<root>'` — one (key, value) row per property
  * of the latest snapshot, key-sorted. */
case class GraftShowPropertiesCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.tableProperties(root).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** `MERGE GRAFT '<root>' ON <key> FROM (<query>) [WHEN ...]*` →
  * [[VersionedTable.mergeIntoConditional]] — the SQL form of the full
  * conditional merge, closing the last verb without a SQL statement.
  * Clause conditions are the verb's tgt/src struct-scoped SQL; the
  * source query parses through the session's full surface (incl.
  * graft_table). `WITH SCHEMA EVOLUTION` maps to evolveSchema.
  */
/** `MERGE GRAFT '<root>' ON k1, k2[, ...] FROM (<query>)` — the
  * composite-key plain upsert ([[VersionedTable.mergeIntoKeys]]): one row
  * per key TUPLE, per-column envelope/bloom gates intersected for dir
  * pruning.
  */
case class GraftMergeKeysCommand(root: String, keyCols: Seq[String],
                                 sourceSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_rewritten", IntegerType, nullable = false)(),
    AttributeReference("dirs_total", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-mergek-${java.util.UUID.randomUUID().toString.take(12)}"
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    val (v, rw, tot) = VersionedTable.mergeIntoKeys(spark, root,
      spark.sql(sourceSql), keyCols, commitId,
      statsCols = statsCols, bloomCols = bloomCols)
    Seq(Row(v, rw, tot))
  }
}

case class GraftMergeCommand(root: String, keyCol: String, sourceSql: String,
                             deleteCond: Option[String], updateCond: Option[String],
                             insertCond: Option[String],
                             evolveSchema: Boolean,
                             nmbsCond: Option[String] = None,
                             nmbsBound: Option[(String, Long, Long)] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_rewritten", IntegerType, nullable = false)(),
    AttributeReference("dirs_total", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-merge-${java.util.UUID.randomUUID().toString.take(12)}"
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    val (v, rw, tot) = VersionedTable.mergeIntoConditional(spark, root,
      spark.sql(sourceSql), keyCol, commitId,
      matchedDeleteCond = deleteCond, matchedUpdateCond = updateCond,
      notMatchedInsertCond = insertCond,
      statsCols = statsCols, bloomCols = bloomCols, evolveSchema = evolveSchema,
      notMatchedBySourceDeleteCond = nmbsCond, notMatchedBySourceBound = nmbsBound)
    Seq(Row(v, rw, tot))
  }
}

case class GraftOptimizeCommand(root: String, targetFiles: Int,
                                where: Option[(String, Seq[String])],
                                zorderBy: Seq[String],
                                curve: String = "morton",
                                targetFileBytes: Long = 0L) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("dirs_rewritten", IntegerType, nullable = false)(),
    AttributeReference("dirs_total", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val commitId = s"sql-optimize-${java.util.UUID.randomUUID().toString.take(12)}"
    // the rewrite rebuilds the snapshot's skipping index from fresh footers
    // (plus the ZORDER dimensions, whose per-file envelopes are the point)
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    where match {
      case Some((partCol, values)) =>
        require(targetFileBytes == 0L,
          "OPTIMIZE GRAFT: TARGET <n> BYTES applies to full-table OPTIMIZE " +
            "(the byte budget is the whole snapshot's)")
        // WHERE + ZORDER/CLUSTER BY = Delta's partition-scoped z-order:
        // only the selected partitions rewrite, clustered WITHIN each
        val (v, rw, tot) = VersionedTable.compactWhere(spark, root, commitId,
          targetFiles, partCol, values,
          statsCols = (statsCols ++ zorderBy).distinct, bloomCols = bloomCols,
          zorderBy = zorderBy, curve = curve)
        Seq(Row(v, rw, tot))
      case None =>
        val before = VersionedTable.latestCommit(root)
          .map(_.dirs.size).getOrElse(0)
        val v = VersionedTable.compact(spark, root, commitId, targetFiles,
          statsCols = (statsCols ++ zorderBy).distinct,
          bloomCols = bloomCols, zorderBy = zorderBy, curve = curve,
          targetFileBytes = targetFileBytes)
        Seq(Row(v, before, before))
    }
  }
}

/** The named-ref statements (Iceberg's branch/tag model, the WAP pattern):
  * `ALTER GRAFT ... CREATE|DROP BRANCH`, `FAST FORWARD BRANCH` (the WAP
  * publish), `CREATE|DROP TAG [AS OF VERSION n]` — routed to the
  * [[VersionedTable]] ref verbs. CREATE TAG with no version pins the
  * latest. Fresh commitId per statement like the other SQL-issued writes.
  */
case class GraftRefCommand(root: String, verb: String, name: String,
                           version: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("ref", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = verb match {
    case "createbranch" =>
      val cid = s"sql-branch-${java.util.UUID.randomUUID().toString.take(12)}"
      Seq(Row(name, VersionedTable.createBranch(root, name, cid)))
    case "dropbranch" =>
      VersionedTable.dropBranch(root, name); Seq(Row(name, -1L))
    case "fastforward" =>
      val cid = s"sql-ff-${java.util.UUID.randomUUID().toString.take(12)}"
      Seq(Row(name, VersionedTable.fastForward(root, name, cid)))
    case "cherrypick" =>
      val cid = s"sql-cp-${java.util.UUID.randomUUID().toString.take(12)}"
      Seq(Row(name, VersionedTable.cherryPick(root, name, cid)))
    case "createtag" =>
      val v = version.getOrElse(VersionedTable.latestVersion(root).getOrElse(
        sys.error(s"CREATE TAG: no commits at $root")))
      Seq(Row(name, VersionedTable.createTag(root, name, v)))
    case "droptag" =>
      VersionedTable.dropTag(root, name); Seq(Row(name, -1L))
  }
}

/** `CREATE MATERIALIZED VIEW GRAFT '<mv>' FROM '<src>' GROUP BY <key>
  * SUM (c1 [, ...]) [MINMAX (c1 [, ...])]` → [[graft.io.MatView.create]]:
  * materialize the decrementable aggregate once (MINMAX columns maintain
  * by insert-tighten + affected-group recompute);
  * `REFRESH MATERIALIZED VIEW GRAFT '<mv>'` folds source commits in as
  * signed change-feed deltas.
  */
case class GraftCreateMatViewCommand(mvRoot: String, srcRoot: String, keyCol: String,
                                     sumCols: Seq[String],
                                     minMaxCols: Seq[String] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cid = s"sql-mv-create-${java.util.UUID.randomUUID().toString.take(12)}"
    Seq(Row(graft.io.MatView.create(spark, mvRoot, srcRoot, keyCol, sumCols, cid,
      minMaxCols)))
  }
}

case class GraftRefreshMatViewCommand(mvRoot: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("synced_to", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.io.MatView.refresh(spark, mvRoot)))
}
