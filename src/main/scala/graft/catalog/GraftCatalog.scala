package graft.catalog

import java.io.File
import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, IdentityTransform, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{VersionedRelation, VersionedTable}

/** The versioned table as a NATIVE Spark catalog — the public DataSource
  * V2 `TableCatalog` integration (the same front door Iceberg and Delta
  * register through), configured as
  *
  *   spark.sql.catalog.<name>           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.<name>.warehouse = /path/to/warehouse
  *
  * after which plain SQL works end to end, planned by Spark's OWN
  * analyzer/planner rather than the custom parser + TVF stack:
  *
  *   CREATE TABLE <name>.db.t (id BIGINT, grp STRING) PARTITIONED BY (grp)
  *   CREATE TABLE <name>.db.t2 AS SELECT ...              -- CTAS
  *   INSERT INTO <name>.db.t SELECT ...                   -- append commit
  *   INSERT OVERWRITE <name>.db.t SELECT ...              -- overwrite commit
  *   SELECT * FROM <name>.db.t WHERE id > 5               -- skipping index
  *   SELECT * FROM <name>.db.t VERSION AS OF 3            -- time travel
  *   SELECT * FROM <name>.db.t TIMESTAMP AS OF '...'      -- ledger resolve
  *   ALTER TABLE <name>.db.t SET TBLPROPERTIES (...)      -- metadata commit
  *   ALTER TABLE <name>.db.t RENAME COLUMN a TO b         -- name mapping
  *   ALTER TABLE <name>.db.t DROP COLUMN a                -- mapping drop
  *
  * An identifier `ns1.….t` maps to the directory
  * `<warehouse>/ns1/…/t`, whose `_commits` ledger IS the table — the
  * catalog holds no state of its own, exactly like a path-based Delta
  * log, so concurrent writers from different sessions coordinate through
  * the same OCC manifest protocol as every other entry point.
  *
  * READ path: the scan builder receives Spark's pushed predicates and
  * required columns (`SupportsPushDownFilters` /
  * `SupportsPushDownRequiredColumns`), feeds the pushable subset into
  * the manifest skipping index (dir envelopes + per-file footer stats +
  * bloom point probes + null counts — `scanForRelation`, the same core
  * as the DSv1 relation), and surfaces as a `V1Scan` — the stable
  * fallback bridge Spark plans as a `RowDataSourceScan` with the
  * `PushedFilters: [...]` it actually delivered. Every filter is ALSO
  * re-applied by Spark above the scan (the scan declares them all
  * residual), so index skipping stays an optimization, never a
  * correctness input. When the snapshot is copartition-eligible the
  * builder instead returns the keyed DSv2 batch
  * ([[GraftKeyedScan]]) reporting `KeyGroupedPartitioning`, which lets
  * Spark's OWN planner run storage-partitioned joins with zero Exchange.
  *
  * WRITE path: `V1Write`/`InsertableRelation` over [[VersionedTable.commit]]
  * — appends and truncate-overwrites are ordinary OCC commits, with the
  * commitId derived from Spark's queryId so a retried task graph cannot
  * double-append. The skipping index rides automatically: statsCols =
  * the snapshot's already-indexed columns plus any declared by the
  * `graft.stats.columns` / `graft.bloom.columns` table properties, so a
  * table can DECLARE its index in `CREATE TABLE ... TBLPROPERTIES` and
  * every subsequent SQL insert maintains it.
  *
  * Scale note (100 TB): nothing here adds a byte of shuffle — the
  * catalog is a resolution layer; scans stay the same pruned parquet
  * scans, writes the same partitioned commits. What it BUYS at scale is
  * Spark-native planning over those scans: runtime filtering, AQE, and
  * (through the keyed batch) SPJ without any custom strategy.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  // ---- staged CTAS / RTAS (AtomicCreate/ReplaceTableAsSelectExec) ------
  // Without StagingTableCatalog, Spark runs CREATE OR REPLACE ... AS
  // SELECT as DROP + non-atomic CTAS — which for a versioned table
  // DESTROYS the commit log (dropTable deletes the root recursively) and
  // leaves a half-created table on failure. Staged, a REPLACE lands as
  // ONE history-preserving overwrite commit on the EXISTING log: the
  // swap is atomic (the OCC publish), time travel still reaches every
  // pre-replace version, and a failed statement leaves the table exactly
  // as it was (nothing persists before the publish). CTAS lands its data
  // in the same single commit. Declared TBLPROPERTIES apply as one
  // follow-up metadata commit (and `graft.stats.columns` /
  // `graft.bloom.columns` already shape the data commit's index).
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace()).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    new GraftStagedTable(this, ident, root, info, replace = false, catalogName)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new GraftStagedTable(this, ident, root, info, replace = true, catalogName)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tableRoot(ident)
    if (!nsDir(ident.namespace()).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    new GraftStagedTable(this, ident, root, info, replace = isTable(root),
      catalogName)
  }

  private[catalog] def stagedCreateWithSpecs(root: String, schema: StructType,
      partitionCols: Seq[String], props: Map[String, String],
      generated: Map[String, String], commitId: String): Unit = {
    VersionedTable.createTableWithSpecs(Some(SparkSession.active), root,
      schema, partitionCols, props, Map.empty, generated, Map.empty,
      Map.empty, commitId)
    ()
  }

  // ---- functions (the V2 FunctionCatalog surface, see GraftFunctions) --

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (GraftFunctions.namespaces.contains(namespace.toSeq))
      GraftFunctions.names.map(n => Identifier.of(namespace, n)).toArray
    else if (nsDir(namespace).isDirectory) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.error(s"GraftCatalog '$name' requires spark.sql.catalog.$name.warehouse"))
    Files.createDirectories(Paths.get(warehouse))
  }

  override def name(): String = catalogName

  private def tableRoot(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).foldLeft(warehouse)((p, seg) => s"$p/$seg")

  /** The versioned-table ROOT of an existing table, for the name-based
    * GRAFT maintenance statements (`OPTIMIZE GRAFT cat.db.t`) — the
    * resolution Delta's path-or-name statements perform. Loud refusal on
    * a name that is not a committed graft table.
    */
  private[graft] def rootOfExisting(ident: Identifier): String = {
    val root = tableRoot(ident)
    if (!isTable(root))
      sys.error(s"GRAFT: $catalogName.${(ident.namespace() :+ ident.name()).mkString(".")} " +
        "is not an existing graft table (create it first: CREATE TABLE " +
        s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")} ...)")
    root
  }

  private def nsDir(namespace: Array[String]): File =
    new File(namespace.foldLeft(warehouse)((p, seg) => s"$p/$seg"))

  private def isTable(root: String): Boolean =
    VersionedTable.latestVersion(root).isDefined

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && isTable(f.getPath))
      .map(f => Identifier.of(namespace, f.getName)).sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table = {
    val root = tableRoot(ident)
    if (isTable(root)) return new GraftTable(root, ident, None, catalogName)
    // Iceberg-style METADATA TABLES: `SELECT * FROM cat.db.t.history` (and
    // .detail/.partitions/.branches/.tags/.mor/.files) — the identifier's
    // name is the metadata kind and its namespace tail resolves to the
    // base table.
    // A REAL table always wins the name (checked above), so shadowing is
    // impossible.
    if (ident.namespace().nonEmpty &&
        GraftMetaTable.kinds.contains(ident.name().toLowerCase(java.util.Locale.ROOT))) {
      val parentRoot = ident.namespace().foldLeft(warehouse)((p, seg) => s"$p/$seg")
      if (isTable(parentRoot))
        return new GraftMetaTable(parentRoot, ident,
          ident.name().toLowerCase(java.util.Locale.ROOT))
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>` — native DSv2 time travel onto the commit log.
    * A non-numeric version resolves as a TAG name (the Iceberg
    * `VERSION AS OF 'tag'` spelling): tags pin versions in the ledger,
    * so the read is the same snapshot pin either way.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(
      VersionedTable.listTags(root).getOrElse(version,
        sys.error(s"VERSION AS OF '$version': neither a numeric graft version " +
          s"nor a tag (tags: ${VersionedTable.listTags(root).keys.toSeq.sorted
            .mkString(", ")})")))
    new GraftTable(root, ident, Some(v), catalogName)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros; the ledger resolves ms. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new GraftTable(root, ident,
      Some(VersionedTable.versionAsOfTimestamp(root, timestampMicros / 1000L)),
      catalogName)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tableRoot(ident))

  private def transformCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      require(t.name() == "identity" && t.references().length == 1,
        s"GraftCatalog: only PARTITIONED BY (col, ...) identity transforms are " +
          s"supported, got $t — derive the key as a column first")
      t.references()(0).fieldNames().mkString(".")
    }

  /** HIDDEN PARTITIONING (Iceberg's transform partitioning), desugared
    * onto the engine's proven generated-column machinery: `PARTITIONED BY
    * (days(ts))` synthesizes a GENERATED column `ts_day = CAST(
    * date_trunc('DAY', ts) AS DATE)` and hive-partitions on it — the
    * column materializes on EVERY write (a batch never supplies it, a
    * disagreeing value refuses), partition claims/SPJ/DML see a plain
    * typed key, and the user's raw-column predicates prune through the
    * skipping index (source columns are AUTO-indexed at CREATE — see
    * [[GraftTransforms.autoIndexProps]]) and through transform-aware
    * derived pruning (`GraftTransformFilters`). Returns
    * (partitionColName, generationSql, type) for a transform the desugar
    * supports; identity transforms return None (they pass through). The
    * desugar itself — including source-column type validation — is the
    * shared [[GraftTransforms.desugar]], so the SQL parser's
    * partition-evolution spelling derives identically.
    */
  private[catalog] def hiddenPartition(t: Transform,
      colType: String => Option[org.apache.spark.sql.types.DataType])
      : Option[(String, String, org.apache.spark.sql.types.DataType)] =
    hiddenPartitionSpec(t, colType).map(s => (s.name, s.sql, s.dataType))

  private[catalog] def hiddenPartitionSpec(t: Transform,
      colType: String => Option[org.apache.spark.sql.types.DataType])
      : Option[GraftTransforms.Spec] = {
    def col0: String = {
      require(t.references().length == 1,
        s"GraftCatalog: transform $t must reference exactly one column")
      t.references()(0).fieldNames().mkString(".")
    }
    val fn = t.name().toLowerCase(java.util.Locale.ROOT)
    if (fn == "identity") return None
    val arg = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value().isInstanceOf[Number] =>
        l.value().asInstanceOf[Number].intValue()
    }
    GraftTransforms.desugar(fn, col0, arg, colType)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    val ns = nsDir(ident.namespace())
    if (!ns.isDirectory) throw new NoSuchNamespaceException(ident.namespace())
    // reserved analyzer-populated keys (provider/location/owner) stay out
    // of the versioned property registry — they are catalog plumbing, not
    // table metadata the manifest should carry
    val props = GraftCatalog.tableProps(properties)
    VersionedTable.createTable(root, schema, transformCols(partitions), props,
      s"catalog-create-${java.util.UUID.randomUUID().toString.take(12)}")
    new GraftTable(root, ident, None, catalogName)
  }

  /** Declared at the CATALOG level so Spark's analyzer routes the ANSI
    * column/constraint surface here instead of refusing it up front:
    * `CREATE TABLE (c BIGINT DEFAULT 5, g INT GENERATED ALWAYS AS (...),
    * id BIGINT GENERATED ALWAYS AS IDENTITY, CONSTRAINT n CHECK (...))`
    * and `ALTER TABLE ADD COLUMN ... DEFAULT / ADD CONSTRAINT ... CHECK`
    * all land on the versioned table's native declarations.
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val cols = info.columns()
    // hidden partitioning desugars FIRST: each transform synthesizes a
    // generated column, which then rides the ordinary spec'd create
    def colTypeOf(n: String): Option[org.apache.spark.sql.types.DataType] =
      cols.find(_.name() == n).map(_.dataType())
    val hiddenSpecs: Seq[GraftTransforms.Spec] =
      info.partitions().toSeq.flatMap(hiddenPartitionSpec(_, colTypeOf))
    val hidden: Seq[(String, String, org.apache.spark.sql.types.DataType)] =
      hiddenSpecs.map(s => (s.name, s.sql, s.dataType))
    hidden.foreach { case (n, _, _) =>
      require(!cols.exists(_.name() == n),
        s"GraftCatalog: hidden-partition column '$n' collides with a declared " +
          "column — rename one or partition on the column directly") }
    val specd = cols.exists(c => c.defaultValue() != null ||
      c.generationExpression() != null || c.identityColumnSpec() != null)
    if (!specd && info.constraints().isEmpty && hidden.isEmpty)
      return createTable(ident,
        StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable()))),
        info.partitions(), info.properties())
    // the ANSI column surface: defaults freeze, generation expressions and
    // CHECK predicates store as SQL, identity allocators declare
    // (start, step) — ONE atomic v1 commit carries the whole shape
    val root = tableRoot(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace()).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    val schema = StructType(cols.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable()))
      ++ hidden.map { case (n, _, dt) =>
        org.apache.spark.sql.types.StructField(n, dt) })
    val defaults = cols.flatMap(c => Option(c.defaultValue()).map(d =>
      c.name() -> GraftCatalog.defaultSqlOf(d))).toMap
    val generated0 = hidden.map { case (n, sql, _) => n -> sql }.toMap
    val generated = generated0 ++ cols.flatMap(c =>
      Option(c.generationExpression()).map(c.name() -> _)).toMap
    val identity = cols.flatMap(c => Option(c.identityColumnSpec()).map { s =>
      require(!s.isAllowExplicitInsert,
        s"GraftCatalog: identity column '${c.name()}' must be GENERATED ALWAYS " +
          "(BY DEFAULT would accept explicit values the allocator did not issue)")
      c.name() -> ((s.getStart, s.getStep))
    }).toMap
    val constraints = info.constraints().map {
      case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
        ck.name() -> ck.predicateSql()
      case other => sys.error(
        s"GraftCatalog: only CHECK constraints are enforceable here, got " +
          s"${other.toDDL} — PRIMARY KEY/UNIQUE/FOREIGN KEY are not verified " +
          "by this engine and will not be recorded as if they were")
    }.toMap
    // hidden-partitioned tables AUTO-index the transform SOURCE columns:
    // raw `WHERE ts >= X` predicates must prune without the user knowing
    // the layout (the Iceberg contract) — graft.stats.auto='false' opts out
    val props = GraftTransforms.autoIndexProps(
      GraftCatalog.tableProps(info.properties()), hiddenSpecs, colTypeOf)
    val partCols = info.partitions().toSeq.map(t => hiddenPartition(t, colTypeOf)
      .map(_._1).getOrElse(t.references()(0).fieldNames().mkString(".")))
    VersionedTable.createTableWithSpecs(Some(SparkSession.active), root, schema,
      partCols, props, defaults, generated, identity,
      constraints,
      s"catalog-create-${java.util.UUID.randomUUID().toString.take(12)}")
    new GraftTable(root, ident, None, catalogName)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    // ATOMIC: every TableChange maps to a validated snapshot transform
    // (shape refusals — nested columns, ADD COLUMN NOT NULL — fire right
    // here, before any transform runs), and the whole statement folds
    // through VersionedTable.alterAtomic into ONE OCC attempt + ONE
    // published commit. Snapshot-dependent refusals (unknown column,
    // non-widening type, guarded references) throw inside the attempt
    // BEFORE the publish, so a statement mixing a valid property change
    // with an invalid structural change leaves the log untouched — no
    // partially-applied ALTER, and no multi-version statement.
    // ADD CONSTRAINT validates the EXISTING rows against the attempt's
    // parent snapshot; a structural change folded into the SAME statement
    // (rename/drop/widen/add-column) would make that validation run
    // against the pre-change shape — a constraint over a renamed column
    // would validate old data then break every subsequent write, and a
    // constraint over a column the statement itself adds would refuse a
    // legitimate declaration. Refuse the mix up front, before any
    // transform runs; two statements express the intent unambiguously.
    locally {
      val addsConstraint = changes.exists(_.isInstanceOf[TableChange.AddConstraint])
      val structural = changes.exists {
        case _: TableChange.RenameColumn | _: TableChange.DeleteColumn |
             _: TableChange.UpdateColumnType | _: TableChange.AddColumn => true
        case _ => false
      }
      require(!(addsConstraint && structural),
        "GraftCatalog: ADD CONSTRAINT cannot share an ALTER statement with " +
          "structural column changes (RENAME/DROP/ALTER TYPE/ADD COLUMN) — " +
          "the constraint validates existing rows against the pre-change " +
          "snapshot; run the structural change first, then ADD CONSTRAINT")
    }
    val ops: Seq[VersionedTable.Commit => VersionedTable.Commit] = changes.map {
      case s: TableChange.SetProperty =>
        VersionedTable.setPropertiesOp(Map(s.property() -> s.value()))
      case r: TableChange.RemoveProperty =>
        VersionedTable.unsetPropertiesOp(Seq(r.property()))
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1, "GraftCatalog: nested columns unsupported")
        VersionedTable.renameColumnOp(rc.fieldNames()(0), rc.newName())
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length == 1, "GraftCatalog: nested columns unsupported")
        VersionedTable.dropColumnOp(dc.fieldNames()(0))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1, "GraftCatalog: nested columns unsupported")
        VersionedTable.widenColumnTypeOp(ut.fieldNames()(0), ut.newDataType().sql)
      case ac: TableChange.AddColumn if ac.defaultValue() != null =>
        require(ac.fieldNames().length == 1, "GraftCatalog: nested columns unsupported")
        // the ANSI ADD COLUMN ... DEFAULT shape — metadata-only, the
        // default freezes at declaration (addColumnWithDefault semantics).
        // With NOT NULL, the declaration records truthfully: every
        // pre-declaration row READS the (validated non-NULL) default and
        // every write enforces the invariant — a NULL default refuses.
        require(ac.position() == null,
          s"GraftCatalog: ADD COLUMN ... FIRST/AFTER is unsupported — added " +
            "columns append at the end of the schema")
        if (ac.isNullable)
          VersionedTable.addColumnWithDefaultOp(spark, ac.fieldNames()(0),
            ac.dataType().sql, GraftCatalog.defaultSqlOf(ac.defaultValue()))
        else
          VersionedTable.addColumnWithDefaultNotNullOp(spark, ac.fieldNames()(0),
            ac.dataType().sql, GraftCatalog.defaultSqlOf(ac.defaultValue()))
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames().length == 1, "GraftCatalog: nested columns unsupported")
        // the bare ANSI form — a pure-metadata schema widening with
        // read-time NULL backfill (the exact state a schema-evolving
        // write produces, published without data). NOT NULL stays refused:
        // existing rows READ NULL for the new column, so recording the
        // declaration would be a lie the first SELECT disproves.
        require(ac.isNullable,
          s"GraftCatalog: ADD COLUMN '${ac.fieldNames()(0)}' NOT NULL is not " +
            "recorded — existing rows read NULL for an added column " +
            "(declare a CHECK (col IS NOT NULL) constraint instead)")
        require(ac.position() == null,
          s"GraftCatalog: ADD COLUMN ... FIRST/AFTER is unsupported — added " +
            "columns append at the end of the schema")
        VersionedTable.addColumnOp(ac.fieldNames()(0), ac.dataType().sql)
      case addc: TableChange.AddConstraint =>
        addc.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            VersionedTable.addConstraintOp(spark, root, ck.name(), ck.predicateSql())
          case other => sys.error(
            s"GraftCatalog: only CHECK constraints are enforceable here, got " +
              s"${other.toDDL}")
        }
      case un: TableChange.UpdateColumnNullability =>
        // ALTER COLUMN c DROP NOT NULL retires a CREATE-time/CTAS
        // invariant metadata-only; SET NOT NULL validates existing rows
        // first (the ADD CONSTRAINT discipline)
        require(un.fieldNames().length == 1,
          s"GraftCatalog: nested column nullability is unsupported " +
            s"(${un.fieldNames().mkString(".")})")
        VersionedTable.setColumnNullabilityOp(spark, root,
          un.fieldNames()(0), un.nullable())
      case dc: TableChange.DropConstraint =>
        if (dc.ifExists) { parent: VersionedTable.Commit =>
          if (parent.constraints.contains(dc.name()))
            VersionedTable.dropConstraintOp(dc.name())(parent)
          else parent // IF EXISTS on an absent name: a TRUE no-op —
                      // alterAtomic publishes nothing for an unchanged fold
        }
        else VersionedTable.dropConstraintOp(dc.name())
      case other => sys.error(s"GraftCatalog: unsupported table change $other")
    }
    if (ops.nonEmpty)
      VersionedTable.alterAtomic(root, ops,
        s"catalog-alter-${java.util.UUID.randomUUID().toString.take(12)}")
    new GraftTable(root, ident, None, catalogName)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (!isTable(root)) return false
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new File(root))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableRoot(oldIdent); val to = tableRoot(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!nsDir(newIdent.namespace()).isDirectory)
      throw new NoSuchNamespaceException(newIdent.namespace())
    Files.move(Paths.get(from), Paths.get(to)); ()
  }

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    Option(new File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isTable(f.getPath))
      .map(f => Array(f.getName)).sortBy(_.mkString)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isTable(f.getPath))
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!nsDir(namespace).isDirectory) throw new NoSuchNamespaceException(namespace)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(nsDir(namespace).toPath); ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    sys.error("GraftCatalog: namespace metadata is not persisted")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    val contents = Option(d.listFiles()).getOrElse(Array.empty)
    require(cascade || contents.isEmpty,
      s"namespace ${namespace.mkString(".")} is not empty (CASCADE to force)")
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(d)
    true
  }
}

/** One versioned table surfaced through the catalog. `asOf` pins a time
  * travel (`VERSION/TIMESTAMP AS OF`); `None` reads the snapshot current
  * when the table is resolved at analysis. Schema and scans both read that
  * version, so a DataFrame analyzed before a concurrent commit reads the
  * rows its schema describes, and a plan never straddles commits.
  */
class GraftTable(root: String, ident: Identifier, asOf: Option[Long],
                 catalogName: String = "")
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.graftshim.GraftV1FallbackBridge {
  private def spark = SparkSession.active

  // ---- SupportsPartitionManagement: native SHOW PARTITIONS / ALTER
  // TABLE DROP PARTITION / TRUNCATE TABLE ... PARTITION over the hive
  // layout. Listing is a typed driver directory walk
  // (VersionedTable.partitionTuples — exact values, zero Spark jobs);
  // DROP/TRUNCATE of a partition route onto the keyed delete verbs, so
  // an envelope-covered partition drops METADATA-ONLY and anything else
  // takes the same pruned copy-on-write as DELETE WHERE key = v.
  // Partitions materialize on write in this engine, so ADD PARTITION
  // and partition metadata mutation refuse loudly.

  override def partitionSchema(): org.apache.spark.sql.types.StructType = {
    val c = snapshot.getOrElse(sys.error(s"$name: no commits"))
    val inv = c.nameMap.map(_.swap)
    org.apache.spark.sql.types.StructType(c.partitionCols.map { p =>
      val logical = inv.getOrElse(p, p)
      schema.fields.find(_.name == logical).getOrElse(
        sys.error(s"$name: partition column $logical missing from schema"))
        .copy(nullable = true)
    })
  }

  private def externalIdent(ident: org.apache.spark.sql.catalyst.InternalRow)
      : Seq[Any] = {
    val fields = partitionSchema().fields
    fields.zipWithIndex.map { case (f, i) =>
      if (ident.isNullAt(i)) null
      else org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(f.dataType)(ident.get(i, f.dataType))
    }.toSeq
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val (fields, tuples) = VersionedTable.partitionTuples(root, asOf)
    require(names.length == ident.numFields,
      s"listPartitionIdentifiers: ${names.length} names vs ${ident.numFields} values")
    val idx = names.map { n =>
      val i = fields.indexWhere(_.name == n)
      require(i >= 0, s"$name: '$n' is not a partition column")
      i
    }
    val want: Seq[(Int, Any)] = idx.zipWithIndex.map { case (fi, vi) =>
      fi -> (if (ident.isNullAt(vi)) null
        else org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(fields(fi).dataType)(ident.get(vi, fields(fi).dataType)))
    }.toSeq
    val conv = fields.map(f => org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(f.dataType))
    tuples.filter(t => want.forall { case (fi, v) => t(fi) == v })
      .map(t => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        t.zip(conv).map { case (v, c) => if (v == null) null else c(v) }.toArray)
        : org.apache.spark.sql.catalyst.InternalRow)
      .toArray
  }

  /** Shared DROP/TRUNCATE body: delete the partition's rows through the
    * keyed verbs (metadata-only when the envelope covers). Returns false
    * when the partition doesn't exist. The NULL partition refuses — the
    * keyed delete's NULL-key contract — with the DELETE spelling as the
    * documented alternative.
    */
  private def deletePartitionRows(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(asOf.isEmpty, s"partition DDL on a time-travel read of $name")
    val fields = partitionSchema().fields
    val ext = externalIdent(ident)
    if (ext.contains(null)) throw new UnsupportedOperationException(
      s"$name: dropping the NULL partition is not supported — use " +
        "DELETE FROM ... WHERE <key> IS NULL")
    val (_, tuples) = VersionedTable.partitionTuples(root, asOf)
    if (!tuples.contains(ext)) return false
    val keys = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(ext)),
      org.apache.spark.sql.types.StructType(fields.map(_.copy(nullable = false))))
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    VersionedTable.deleteWhereKeys(spark, root, keys,
      fields.map(_.name).toSeq,
      s"catalog-droppart-${java.util.UUID.randomUUID().toString.take(12)}",
      statsCols = statsCols, bloomCols = bloomCols)
    true
  }

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    deletePartitionRows(ident)

  override def truncatePartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    if (!deletePartitionRows(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        name(), ident, partitionSchema())
    true
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$name: hive partitions materialize on write — INSERT rows with the " +
        "partition value instead of ADD PARTITION")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$name: partition metadata is derived from the layout, not stored")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] = new util.HashMap[String, String]()

  /** Native `TRUNCATE TABLE cat.db.t`: one OVERWRITE commit with an
    * empty row set — schema, properties, constraints and layout persist,
    * every pre-truncate version stays time-travelable until vacuum
    * (exactly the INSERT OVERWRITE-of-nothing semantics, as a DDL verb).
    */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty, s"TRUNCATE of a time-travel read of $name")
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    VersionedTable.commit(empty, root, "overwrite",
      s"catalog-truncate-${java.util.UUID.randomUUID().toString.take(12)}",
      partitionCols = snapshot.map(_.partitionCols).getOrElse(Nil))
    true
  }

  /** NATIVE STREAMING READ AND WRITE by table name — the public
    * `V2TableWithV1Fallback` route (the same one Delta's DeltaTableV2
    * takes): `spark.readStream.table("cat.db.t")` resolves the streaming
    * relation to this CatalogTable, whose provider is the registered
    * `graft-versioned` source — offsets are commit versions, a fresh
    * stream delivers the initial snapshot then per-commit append deltas,
    * checkpoints make restarts exactly-once — and
    * `df.writeStream.format("graft-versioned").toTable("cat.db.t")`
    * lands every micro-batch as one exactly-once append commit
    * ([[graft.streaming.VersionedTableSource]] carries both contracts).
    * Reader OPTIONS (startingVersion, maxVersionsPerTrigger,
    * readChangeFeed, skipChangeCommits) do not flow through the
    * table-name spelling — Spark builds the fallback with the table's
    * own options only — so an options-bearing stream keeps the
    * `format("graft-versioned").option(...).load(root)` form.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(asOf.isEmpty, s"streaming read of a time-travel pin of $name")
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        ident.name(), ident.namespace().lastOption,
        Some(catalogName).filter(_.nonEmpty)),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      // the location rides as a SCHEME-LESS Path URI: the read fallback
      // renders it back via Path.toString (plain path, which the
      // path-based source verbs speak), and the write fallback
      // (`writeStream.toTable`) requires table.location to be defined
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
        .copy(locationUri = Some(new org.apache.hadoop.fs.Path(root).toUri),
          properties = Map("path" -> root)),
      schema = schema,
      provider = Some("graft-versioned"))
  }
  // the snapshot this table instance describes: the VERSION/TIMESTAMP AS
  // OF pin, else latest as of first use (analysis). Table METADATA
  // (partitioning, properties, graft.version), the schema and every scan
  // resolve at it, so DESCRIBE on a time-travel read never reports the
  // current snapshot's shape and a read never outruns its schema
  private lazy val snapshot = asOf.fold(VersionedTable.latestCommit(root))(
    v => VersionedTable.commitAt(root, v))
  private def readVersion: Option[Long] = asOf.orElse(snapshot.map(_.version))

  /** Row-level DML (`UPDATE` / `MERGE INTO` / predicate `DELETE`), routed
    * per table by `graft.dml.mode` (the public Iceberg
    * `write.update.mode` idea):
    *
    *  - 'merge-on-read' (DEFAULT): delta-based [[GraftDeltaOperation]]
    *    (`SupportsDelta`) — the commit writes one positional deletion
    *    vector + (UPDATE/MERGE) one small new-rows dir, O(matched rows),
    *    never rewriting a matched dir;
    *  - 'copy-on-write': group-based [[GraftRowLevelOperation]] — matched
    *    dirs rewrite whole (runtime group filtering bounds which), reads
    *    stay vector-free.
    *
    * Metadata-only DELETE shapes still short-circuit through
    * [[canDeleteWhere]] (Spark's OptimizeMetadataOnlyDeleteFromTable), so
    * neither mode ever degrades the cheap paths.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"row-level ${info.command()} on a time-travel read of $name")
    () => snapshot.flatMap(_.props.get("graft.dml.mode"))
        .getOrElse("merge-on-read") match {
      case "merge-on-read" => new GraftDeltaOperation(spark, root, info.command())
      case "copy-on-write" => new GraftRowLevelOperation(spark, root, info.command())
      case other => sys.error(s"$name: unknown graft.dml.mode '$other' " +
        "(expected 'merge-on-read' or 'copy-on-write')")
    }
  }

  /** The row-coordinate metadata columns: `_graft_dir` (the rewrite
    * group, runtime-filtered by copy-on-write's group-filter subquery),
    * `_graft_file` and `_graft_pos` (the positional-vector coordinates —
    * the delta operation's rowId). All three are also directly selectable
    * (`SELECT _graft_file, _graft_pos FROM cat.db.t`) for row-level
    * introspection.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def mc(n: String, dt: org.apache.spark.sql.types.DataType, c: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = false
        override def comment(): String = c
      }
    Array(
      mc(GraftCowScan.DIR_COL, org.apache.spark.sql.types.StringType,
        "commit dir of the row (the rewrite group)"),
      mc(GraftDeltaScan.FILE_COL, org.apache.spark.sql.types.StringType,
        "position-vector file key of the row"),
      mc(GraftDeltaScan.POS_COL, org.apache.spark.sql.types.LongType,
        "parquet row index of the row within its file"))
  }

  override def name(): String = ident.toString

  override lazy val schema: StructType =
    VersionedTable.read(spark, root, readVersion).schema

  override def partitioning(): Array[Transform] =
    snapshot.map(_.partitionCols).getOrElse(Nil)
      .map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    snapshot.foreach(_.props.foreach { case (k, v) => m.put(k, v) })
    snapshot.foreach(c => m.put("graft.version", c.version.toString))
    m
  }

  /** The declared CHECK constraints of the pinned snapshot through
    * Spark's V2 constraint API — DESCRIBE surfaces them; enforcement
    * stays engine-side on every write path regardless of who reads this.
    */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snapshot.map(_.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray).getOrElse(Array.empty)

  /** Column-level declarations (DEFAULT / GENERATED ALWAYS AS / IDENTITY)
    * on the V2 Column view — what lets Spark's analyzer fill an omitted
    * DEFAULT column on INSERT and lets DESCRIBE report the declarations.
    * The data-path `schema` stays plain: scans carry no column metadata.
    */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column}
    val c = snapshot
    schema.fields.map { f0 =>
      // REAL nullability: a declared NOT NULL column reports non-nullable
      // (DESCRIBE truthfulness) — the scan schema stays read-derived, and
      // enforcement is engine-side on every row-adding verb regardless
      val f = if (c.exists(_.notNull.contains(f0.name))) f0.copy(nullable = false)
              else f0
      c.flatMap(_.defaults.get(f.name)) match {
        case Some(sql) =>
          // the stored default is frozen-literal SQL, but Literal.sql does
          // not always render a BARE literal (FLOAT → CAST('1.5' AS
          // FLOAT), NULL → CAST(NULL AS T), complex → ARRAY(...)) — parse
          // and FOLD: a Cast of a literal is resolved+foldable and evals
          // driver-side; anything unresolvable degrades to a plain column
          // (the ENGINE still fills the default on write regardless —
          // only the analyzer-side omitted-column fill is lost)
          import org.apache.spark.sql.catalyst.expressions.Literal
          val folded: Option[Literal] = scala.util.Try(
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(sql)).toOption.flatMap {
            case l: Literal => Some(l)
            case e if e.resolved && e.foldable =>
              scala.util.Try(Literal.create(e.eval(null), e.dataType)).toOption
            case _ => None
          }
          folded match {
            case Some(lit) =>
              V2Column.create(f.name, f.dataType, f.nullable, null,
                new org.apache.spark.sql.connector.catalog.ColumnDefaultValue(sql,
                  org.apache.spark.sql.graftshim.GraftLiteralBridge.literal(
                    lit.value, lit.dataType)), null)
            case None => V2Column.create(f.name, f.dataType, f.nullable)
          }
        case None => c.flatMap(_.generated.get(f.name)) match {
          case Some(genSql) =>
            V2Column.create(f.name, f.dataType, f.nullable, null, genSql, null)
          case None => c.flatMap(_.identity.get(f.name)) match {
            case Some((start, step, _)) =>
              V2Column.create(f.name, f.dataType, f.nullable, null,
                new org.apache.spark.sql.connector.catalog.IdentityColumnSpec(
                  start, step, false), null)
            case None => V2Column.create(f.name, f.dataType, f.nullable)
          }
        }
      }
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, root, readVersion, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, info)

  // ---- native SQL DELETE (`DELETE FROM graft.db.t WHERE …`) --------------
  //
  // The DSv2 metadata-delete surface: Spark hands the translated
  // predicates and this table routes them onto the manifest-pruned delete
  // verbs — IN/= lists onto the keyed copy-on-write delete
  // (envelope+bloom-gated rewrites of only the hit dirs), range conjuncts
  // on an integral column onto the range delete (fully-contained dirs drop
  // metadata-only — the 100 TB retention-purge shape, now a plain SQL
  // statement). Anything not expressible this way answers
  // canDeleteWhere = false, so Spark fails the statement loudly instead of
  // this table deleting approximately.

  /** The delete runner for `filters`, when their shape maps exactly onto a
    * manifest-pruned verb; None → refuse. All conjuncts must reference ONE
    * keyable (integral or string) column of a non-time-travel table.
    */
  private def deletePlanOf(filters: Array[sources.Filter])
      : Option[String => Unit] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    if (asOf.nonEmpty || filters.isEmpty) return None
    val cols = filters.flatMap(_.references).distinct
    if (cols.length != 1) return None
    val colName = cols.head
    val dt = schema.fields.find(_.name == colName).map(_.dataType).getOrElse(return None)
    val integral = dt == LongType || dt == IntegerType
    val dateCol = dt == DateType
    val tsCol = dt == TimestampType
    if (!integral && !dateCol && !tsCol && dt != StringType) return None
    val (statsCols, bloomCols) = VersionedTable.indexedCols(root)
    // DATE/TIMESTAMP predicates route onto the range verb with
    // epoch-day / epoch-micros bounds (the statsCols contract):
    // `DELETE WHERE d < DATE '...'` / `WHERE ts < TIMESTAMP '...'` is
    // the retention purge — envelope-covered dirs drop METADATA-ONLY
    def epochDay(v: Any): Option[Long] =
      if (tsCol) VersionedRelation.tsMicros(v) else VersionedRelation.epochDay(v)
    if (dateCol || tsCol) {
      def rangeDelete(lo: Long, hi: Long): String => Unit = cid => {
        VersionedTable.deleteRange(spark, root, colName, lo, hi, cid,
          statsCols = statsCols, bloomCols = bloomCols)
        ()
      }
      return filters match {
        case Array(sources.EqualTo(_, v)) if v != null =>
          epochDay(v).map(e => rangeDelete(e, e))
        case _ =>
          var lo = Long.MinValue; var hi = Long.MaxValue; var ok = true
          filters.foreach {
            case sources.GreaterThanOrEqual(_, v) if epochDay(v).isDefined =>
              lo = math.max(lo, epochDay(v).get)
            case sources.GreaterThan(_, v) if epochDay(v).isDefined =>
              lo = math.max(lo, epochDay(v).get + 1)
            case sources.LessThanOrEqual(_, v) if epochDay(v).isDefined =>
              hi = math.min(hi, epochDay(v).get)
            case sources.LessThan(_, v) if epochDay(v).isDefined =>
              hi = math.min(hi, epochDay(v).get - 1)
            case _ => ok = false
          }
          if (!ok || (lo == Long.MinValue && hi == Long.MaxValue)) None
          else Some(rangeDelete(lo, hi))
      }
    }
    def keysDelete(values: Seq[Any]): String => Unit = { cid =>
      // SQL semantics: a NULL in the IN list matches nothing — drop it
      val vs = values.filter(_ != null)
      if (vs.nonEmpty) {
        val keys =
          if (integral) vs.map(_.asInstanceOf[Number].longValue): Seq[Any]
          else vs.map(_.toString): Seq[Any]
        VersionedTable.deleteWhere(spark, root,
          GraftTable.keysFrame(spark, colName, keys), colName, cid,
          statsCols = statsCols, bloomCols = bloomCols)
        ()
      }
    }
    filters match {
      case Array(sources.In(_, values)) => Some(keysDelete(values.toSeq))
      case Array(sources.EqualTo(_, v)) if v != null => Some(keysDelete(Seq(v)))
      case _ if integral =>
        // range conjuncts (Spark splits ANDs into array elements): fold
        // into one inclusive [lo, hi]; NULL rows survive, matching both
        // SQL range semantics and deleteRange's contract
        var lo = Long.MinValue; var hi = Long.MaxValue; var ok = true
        filters.foreach {
          case sources.GreaterThanOrEqual(_, v: Number) =>
            lo = math.max(lo, v.longValue)
          case sources.GreaterThan(_, v: Number) if v.longValue < Long.MaxValue =>
            lo = math.max(lo, v.longValue + 1)
          case sources.LessThanOrEqual(_, v: Number) =>
            hi = math.min(hi, v.longValue)
          case sources.LessThan(_, v: Number) if v.longValue > Long.MinValue =>
            hi = math.min(hi, v.longValue - 1)
          case _ => ok = false
        }
        if (!ok || (lo == Long.MinValue && hi == Long.MaxValue)) None
        else Some(cid => { VersionedTable.deleteRange(spark, root, colName,
          lo, hi, cid, statsCols = statsCols, bloomCols = bloomCols); () })
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    deletePlanOf(filters).isDefined

  override def deleteWhere(filters: Array[sources.Filter]): Unit =
    deletePlanOf(filters).getOrElse(sys.error(
      s"DELETE on $name: unsupported predicate shape ${filters.mkString(", ")} " +
        "(supported: IN/= on one integral or string column, or range conjuncts " +
        "on one integral or date column)"))(
      s"catalog-delete-${java.util.UUID.randomUUID().toString.take(12)}")
}

object GraftCatalog {
  /** Reserved analyzer-populated keys (provider/location/owner/...) stay
    * out of the versioned property registry — they are catalog plumbing,
    * not table metadata the manifest should carry. One filter for every
    * CREATE shape.
    */
  private[catalog] def tableProps(
      properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.view.filterKeys(k =>
      !Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
        TableCatalog.PROP_COMMENT, TableCatalog.PROP_TABLE_TYPE).contains(k)).toMap


  /** The SQL text of a DSv2 column default: the parser-carried SQL when
    * present, else the bound literal rendered back to SQL.
    */
  private[catalog] def defaultSqlOf(
      d: org.apache.spark.sql.connector.catalog.ColumnDefaultValue): String =
    Option(d.getSql).getOrElse {
      val v = d.getValue
      org.apache.spark.sql.catalyst.expressions.Literal(v.value(), v.dataType()).sql
    }

  /** Resolve a dotted TABLE NAME (`cat.ns….table`) to its versioned-table
    * root through the session's registered catalogs — what lets every
    * GRAFT maintenance/DML statement accept a name wherever it accepts a
    * quoted path (the Delta path-or-name contract). Refusals are loud and
    * specific: unregistered catalog, a catalog that is not a GraftCatalog,
    * or a name with no committed table behind it.
    */
  def rootOf(spark: org.apache.spark.sql.SparkSession, parts: Seq[String]): String = {
    require(parts.length >= 2,
      s"GRAFT: table name '${parts.mkString(".")}' must be catalog-qualified (cat.db.t)")
    val catName = parts.head
    val cat = try spark.sessionState.catalogManager.catalog(catName) catch {
      case scala.util.control.NonFatal(_) => sys.error(
        s"GRAFT: '$catName' is not a registered catalog — set " +
          s"spark.sql.catalog.$catName (= graft.catalog.GraftCatalog) first, " +
          "or spell the table as a quoted path")
    }
    cat match {
      case g: GraftCatalog =>
        g.rootOfExisting(Identifier.of(parts.tail.init.toArray, parts.last))
      case other => sys.error(
        s"GRAFT: catalog '$catName' is ${other.getClass.getName}, not a " +
          "graft.catalog.GraftCatalog — name-based GRAFT statements resolve " +
          "through graft catalogs only")
    }
  }
}

object GraftTable {
  /** One-column keys frame in the exact JVM types the keyed verbs expect. */
  private[catalog] def keysFrame(spark: SparkSession, col: String,
                                 vals: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dt = vals.head match {
      case _: java.lang.Long => LongType
      case _: String => StringType
      case other => sys.error(s"catalog delete: unsupported key literal $other")
    }
    spark.createDataFrame(
      java.util.Arrays.asList(vals.map(v => org.apache.spark.sql.Row(v)): _*),
      StructType(Seq(StructField(col, dt, nullable = false))))
  }
}

/** A read-only METADATA TABLE of one versioned table (the public Iceberg
  * metadata-tables idea: `t.history`, `t.snapshots`, `t.partitions` as
  * first-class relations): plain SQL introspection of the ledger with no
  * graft parser or TVF in the path —
  *
  *   SELECT * FROM cat.db.t.history     -- the ledger (ckpt-indexed)
  *   SELECT * FROM cat.db.t.detail      -- one-row table summary
  *   SELECT * FROM cat.db.t.partitions  -- partition values (dir walk)
  *   SELECT * FROM cat.db.t.files       -- per-file bytes/rows/envelope
  *   SELECT * FROM cat.db.t.branches / t.tags / t.mor
  *
  * These are the only SQL spellings of those reads.
  *
  * Cost model matches the underlying verbs: history serves from the
  * checkpoint index + manifest tail, partitions is a directory walk with
  * zero Spark jobs, mor is O(pending sets). The frames are driver-small by
  * construction (ledger entries, partition values, refs), so a V1 bridge
  * relation is exactly the right weight.
  */
class GraftMetaTable(root: String, ident: Identifier, kind: String)
    extends Table with SupportsRead {
  private def spark = SparkSession.active

  override def name(): String = ident.toString

  // one frame per resolved table: the schema and the scan read the same
  // ledger state, and the verb behind it runs once per query
  private lazy val frame: DataFrame = GraftMetaTable.frame(spark, root, kind)

  override lazy val schema: StructType = frame.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = GraftMetaTable.this.schema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = frame.rdd
          }.asInstanceOf[T]
        override def description(): String = s"GraftMetaTable $root#$kind"
      }
    }
}

object GraftMetaTable {
  import org.apache.spark.sql.types.{LongType, StringType, StructField}

  val kinds: Set[String] =
    Set("history", "detail", "partitions", "branches", "tags", "mor", "files")

  def frame(s: SparkSession, root: String, kind: String): DataFrame = kind match {
    case "history"    => VersionedTable.describeHistory(s, root)
    case "detail"     => VersionedTable.describeDetail(s, root)
    case "partitions" => VersionedTable.showPartitions(s, root)
    case "files"      => VersionedTable.describeFiles(s, root)
    case "branches" =>
      s.createDataFrame(
        java.util.Arrays.asList(VersionedTable.listBranches(root).sorted.map(b =>
          Row(b, VersionedTable.latestVersion(VersionedTable.branchRoot(root, b))
            .getOrElse(0L))): _*),
        StructType(Seq(StructField("branch", StringType, nullable = false),
          StructField("version", LongType, nullable = false))))
    case "tags" =>
      s.createDataFrame(
        java.util.Arrays.asList(VersionedTable.listTags(root).toSeq.sortBy(_._1)
          .map { case (n, v) => Row(n, v) }: _*),
        StructType(Seq(StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false))))
    case "mor" =>
      val (covered, keySets, keysPending, posSets, posPending) =
        VersionedTable.morDetail(s, root)
      s.createDataFrame(
        java.util.Arrays.asList(Row(covered.toLong, keySets.toLong, keysPending,
          posSets.toLong, posPending)),
        StructType(Seq(
          StructField("dirs_covered", LongType, nullable = false),
          StructField("key_sets", LongType, nullable = false),
          StructField("keys_pending", LongType, nullable = false),
          StructField("pos_sets", LongType, nullable = false),
          StructField("positions_pending", LongType, nullable = false))))
    case other => sys.error(s"unknown metadata table kind '$other'")
  }
}

/** Scan construction: collects Spark's pushed filters + required columns,
  * then picks the physical shape —
  *  - [[GraftKeyedScan]] (a true DSv2 `Batch` reporting
  *    `KeyGroupedPartitioning`) when the snapshot is copartition-eligible
  *    and `spark.sql.sources.v2.bucketing.enabled` is on: joins and
  *    aggregations on the partition key then plan with ZERO Exchange
  *    through Spark's own storage-partitioned-join machinery;
  *  - the `V1Scan` fallback otherwise — same skipping index, same
  *    correctness, planned as a RowDataSourceScan.
  */
class GraftScanBuilder(spark: SparkSession, root: String, asOf: Option[Long],
                       tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  // exact partition predicates CLAIMED residual-free (GraftPartitionFilters
  // — Spark drops its Filter node; every scan shape below enforces them)
  private var claimed: Array[Filter] = Array.empty
  // what pushFilters handed back to Spark (defensive guard for the
  // aggregate pushdown, which must never run under residual predicates)
  private var residual: Array[Filter] = Array.empty

  // ONE snapshot for the whole negotiate-then-build exchange: the claim
  // decision (pushFilters), the metadata aggregation, and build() must
  // all see the SAME commit — resolving latest separately at each step
  // would let a concurrent partition-layout commit land between them and
  // turn a valid claim into a loud enforcement refusal (or worse, an
  // inconsistent plan). An explicitly pinned asOf that is not in the log
  // fails HERE, loudly, instead of silently falling back to latest.
  private lazy val pinnedSnap: Option[VersionedTable.Commit] = asOf match {
    case Some(v) => Some(VersionedTable.commitAt(root, v).getOrElse(
      sys.error(s"$root: VERSION AS OF $v is not in the commit log")))
    case None => VersionedTable.latestCommit(root)
  }
  private lazy val pinnedVersion: Option[Long] = pinnedSnap.map(_.version)

  // ---- limit / top-N pushdown (PARTIAL: Spark keeps its own operator,
  // the scan just prunes the planned FILE SET — a superset is always
  // sound, so acceptance here is optimistic and the flat-scan planner
  // may still decline the prune when stats can't prove coverage) -------
  private var limitN: Option[Int] = None
  private var topN: Option[(String, Boolean, Boolean, Int)] = None

  // NOTE on projection state: Spark's V2ScanRelationPushDown runs
  // pruneColumns AFTER limit/top-N pushdown, so wantsDirCol/wantsRowCoords
  // are not knowable here — the hints are accepted optimistically and the
  // delta/cow routes in build() intentionally IGNORE limitN/topN (their
  // file sets are the DML target; pruning them would be wrong anyway).
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || limit <= 0) return false
    limitN = Some(limit)
    true
  }

  // one answer serves both SupportsPushDownLimit and SupportsPushDownTopN
  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    if (pushed.nonEmpty || limit <= 0) return false
    if (orders.length != 1) return false
    val so = orders(0)
    val col = so.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    // integral/date/timestamp sort keys: exact footer stats (flat rule);
    // strings are accepted too — they prune ONLY via the keyed scan's
    // partition-key group rule (path values are exact; footers aren't),
    // and an unprunable acceptance is just an unpruned superset
    val exact = tableSchema.fields.find(_.name == col).map(_.dataType).exists {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | StringType => true
      case _ => false
    }
    if (!exact) return false
    topN = Some((col, so.direction() == SortDirection.DESCENDING,
      so.nullOrdering() == NullOrdering.NULLS_FIRST, limit))
    true
  }

  // ---- aggregate pushdown (metadata-only COUNT/MIN/MAX) ----------------
  // Spark consults supportCompletePushDown BEFORE pushAggregation; both
  // resolve through ONE cached plan so the decision is consistent. The
  // plan is committed (used by build()) only when pushAggregation accepts.
  private var aggCacheKey: Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] = None
  private var aggCached: Option[GraftAggScan] = None
  private var aggPushed: Option[GraftAggScan] = None

  private def planAggScan(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[GraftAggScan] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.io.VersionedTable.MetaAgg
    if (aggCacheKey.exists(_ eq agg)) return aggCached
    aggCacheKey = Some(agg)
    aggCached = None
    // residual predicates block metadata aggregation (Spark never offers
    // it under a Filter node — this guard is defensive); CLAIMED partition
    // predicates compose: metadataAggregate enforces them per file
    if (residual.nonEmpty || wantsDirCol || wantsRowCoords) return None
    if (spark.conf.get("spark.graft.aggPushdown", "true") != "true") return None
    def refCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    val groupCols = agg.groupByExpressions().toSeq.map(refCol)
    if (groupCols.exists(_.isEmpty)) return None
    val metas = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(MetaAgg.Rows)
      case ct: Count if !ct.isDistinct => refCol(ct.column()).map(MetaAgg.NonNull)
      case mn: Min => refCol(mn.column()).map(MetaAgg.Lo)
      case mx: Max => refCol(mx.column()).map(MetaAgg.Hi)
      case _ => None
    }
    if (metas.exists(_.isEmpty)) return None
    val g = groupCols.map(_.get)
    val a = metas.map(_.get)
    // the builder-wide pinned snapshot — same commit the claim decision saw
    val version = pinnedVersion
    if (version.isEmpty) return None
    val rows = graft.io.VersionedTable.metadataAggregate(
      spark, root, version, tableSchema, g, a, claimed.toSeq).getOrElse(return None)
    def fieldOf(n: String) = tableSchema.fields.find(_.name == n).get
    val outFields = g.map(n => fieldOf(n).copy(nullable = true)) ++ a.map {
      case MetaAgg.Rows       => StructField("count(*)", LongType, nullable = false)
      case MetaAgg.NonNull(x) => StructField(s"count($x)", LongType, nullable = false)
      case MetaAgg.Lo(x)      => fieldOf(x).copy(name = s"min($x)", nullable = true)
      case MetaAgg.Hi(x)      => fieldOf(x).copy(name = s"max($x)", nullable = true)
    }
    val desc = (a.map {
      case MetaAgg.Rows       => "COUNT(*)"
      case MetaAgg.NonNull(x) => s"COUNT($x)"
      case MetaAgg.Lo(x)      => s"MIN($x)"
      case MetaAgg.Hi(x)      => s"MAX($x)"
    } ++ (if (g.nonEmpty) Seq(s"GROUP BY ${g.mkString(", ")}") else Nil) ++
      // claimed partition predicates are part of the scan's IDENTITY —
      // without them here, exchange reuse could substitute a scan
      // filtered on a different partition value
      (if (claimed.nonEmpty) Seq(s"WHERE ${claimed.mkString(" AND ")}") else Nil))
      .mkString(", ")
    aggCached = Some(new GraftAggScan(root, version.get,
      StructType(outFields), rows, desc))
    aggCached
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    planAggScan(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggPushed = planAggScan(agg)
    aggPushed.isDefined
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = VersionedRelation.pushable(filters)
    // exact partition-column predicates are CLAIMED (residual-free) when
    // the snapshot's layout supports exact enforcement: single layout era,
    // path-round-trippable key types. Everything else stays residual —
    // the envelope/bloom index remains advisory-only.
    claimed = Array.empty
    var derived: Array[Filter] = Array.empty
    if (spark.conf.get("spark.graft.partitionFilterPushdown", "true") == "true") {
      pinnedSnap.filter(c => c.partitionCols.nonEmpty && c.dirLayouts.isEmpty)
        .foreach { c =>
          // claimable columns: LOGICAL name whose physical name is a
          // declared partition key of a path-round-trippable type
          val keyTypes: Map[String, org.apache.spark.sql.types.DataType] =
            tableSchema.fields.iterator
              .filter(f => c.partitionCols.contains(c.nameMap.getOrElse(f.name, f.name)))
              .map(f => f.name -> f.dataType).toMap
          claimed = filters.filter(GraftPartitionFilters.claimable(_, keyTypes))
          // HIDDEN-PARTITIONING derived pruning: raw-source predicates
          // (ts >= X over a days(ts) layout) derive partition-key bounds
          // that prune key groups/files exactly — the raw filter itself
          // stays residual (Spark keeps its Filter), so derivation is
          // always sound. Rename-free snapshots only: the generation SQL
          // names columns by their creation spelling.
          if (c.nameMap.isEmpty && c.generated.nonEmpty)
            derived = GraftTransformFilters.derive(
              filters.filterNot(claimed.contains).toSeq, c.partitionCols,
              c.generated, tableSchema,
              java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
              .toArray
        }
    }
    residual = filters.filterNot(claimed.contains)
    claimed = claimed ++ derived
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  private var wantsDirCol = false
  private var wantsRowCoords = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // top-level pruning only (the manifest schema is flat); empty
    // projection (COUNT(*)) keeps one narrowest column. METADATA columns
    // (`_graft_dir` from row-level group-filter subqueries; `_graft_file`/
    // `_graft_pos` row-coordinate introspection) are tracked separately —
    // only the dir-tagged / delta scans can serve them.
    wantsDirCol = requiredSchema.fieldNames.contains(GraftCowScan.DIR_COL)
    wantsRowCoords =
      requiredSchema.fieldNames.contains(GraftDeltaScan.FILE_COL) ||
        requiredSchema.fieldNames.contains(GraftDeltaScan.POS_COL)
    val dataF = tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name))
    required =
      if (dataF.isEmpty && !wantsDirCol && !wantsRowCoords)
        StructType(tableSchema.fields.take(1))
      else StructType(dataF ++ GraftDeltaScan.metaFields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))
  }

  /** The shared claim-enforcement filter of the row-coordinate routes:
    * keep only files whose typed hive key values pass every CLAIMED
    * partition predicate (logical names via the snapshot's nameMap).
    */
  private def claimedKeep[A](keyFields: Seq[org.apache.spark.sql.types.StructField],
      nameMap: Map[String, String], files: Seq[A])(kv: A => Seq[Any]): Seq[A] =
    if (claimed.isEmpty) files
    else {
      val inv = nameMap.map(_.swap)
      val names = keyFields.map(f => inv.getOrElse(f.name, f.name))
      files.filter(f => GraftPartitionFilters.passes(claimed.toSeq,
        names.zip(kv(f)).toMap))
    }

  override def build(): Scan = {
    // a completely pushed aggregation replaces the data scan wholesale
    aggPushed.foreach(s => return s)
    // the builder-wide pinned snapshot: claim decision, metadata
    // aggregation, and this build all plan against ONE commit, so a
    // concurrent layout change can never land between pushdown and build
    val version = pinnedVersion
    if (wantsRowCoords) {
      // row coordinates requested: the delta scan carries them (and also
      // serves `_graft_dir` if the projection mixes all three); limitN/
      // topN hints are intentionally ignored on this route — the file set
      // is a DML target, pruning it would drop matched rows
      val (ranges, points, nullProbes) = VersionedRelation.translate(pushed)
      val plan = VersionedTable.deltaScanPlan(spark, root, version,
          ranges, points, nullProbes) match {
        case Right(p) => p
        case Left(reason) => throw new UnsupportedOperationException(
          s"scan of $root with ${GraftDeltaScan.FILE_COL}/" +
            s"${GraftDeltaScan.POS_COL}: $reason")
      }
      // CLAIMED partition predicates enforce per FILE on the typed key
      // values the plan parsed from the hive paths (exact, era-safe) —
      // ONE shared code path for the delta and cow routes
      return new GraftDeltaScan(spark, root,
        plan.copy(files = claimedKeep(plan.keyFields, plan.nameMap,
          plan.files)(_.keyVals)),
        required, pushed, claimed.toSeq)
    }
    if (wantsDirCol) {
      // `_graft_dir` requested (a row-level group-filter subquery): only
      // the dir-tagged copy-on-write scan carries the group column
      val plan = VersionedTable.cowScanPlan(root, version) match {
        case Right(p) => p
        case Left(reason) => throw new UnsupportedOperationException(
          s"scan of $root with ${GraftCowScan.DIR_COL}: $reason")
      }
      val planC = plan.copy(files = claimedKeep(plan.keyFields, plan.nameMap,
        plan.files)(_.keyVals))
      return new GraftCowScan(spark, root,
        version.getOrElse(sys.error(s"$root: empty table")), planC,
        StructType(required.fields.filterNot(_.name == GraftCowScan.DIR_COL) :+
          org.apache.spark.sql.types.StructField(GraftCowScan.DIR_COL,
            org.apache.spark.sql.types.StringType, nullable = false)))
    }
    // claimed predicates route: keyed batch enforces on its key GROUPS;
    // everything else takes the V1 fallback, whose relation applies them
    // as a DataFrame filter (era-safe logical columns). The flat batch is
    // skipped entirely — a flat snapshot means the partition layout
    // changed since claiming, where only the V1 filter is trustworthy.
    if (claimed.nonEmpty)
      GraftKeyedScan.ifEligible(spark, root, version, required, pushed,
          claimed.toSeq, topN)
        .getOrElse(new GraftV1FallbackScan(root, version, required, pushed,
          claimed.toSeq))
    else
      GraftKeyedScan.ifEligible(spark, root, version, required, pushed,
          topN = topN)
        .orElse(GraftFlatScan.ifEligible(spark, root, version, required, pushed,
          limitN, topN))
        .getOrElse(new GraftV1FallbackScan(root, version, required, pushed))
  }
}

/** The stable-bridge scan: Spark wraps this in a `RowDataSourceScan`
  * whose `PushedFilters` metadata is exactly [[pushedFilters]] — the
  * predicates that reached the manifest index.
  */
class GraftV1FallbackScan(root: String, version: Option[Long],
                          required: StructType, pushed: Array[Filter],
                          claimed: Seq[Filter] = Nil)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required

  /** Real on-disk bytes of the pinned snapshot (O(#files) listing, once
    * per scan build) — same rationale as GraftKeyedScan.estimateStatistics.
    */
  private lazy val snapBytes: Long =
    math.max(1L, VersionedTable.snapshotBytes(root, version))

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // manifest-envelope column stats — VersionedTable.v2ColumnStats.
      // Not served when claimed predicates or pushed hints narrow the
      // scan: table-wide extremes/null counts would misdescribe the
      // filtered subset (nullCount could exceed the scan's own rows).
      private val cols =
        if (claimed.nonEmpty || pushed.nonEmpty)
          new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        else VersionedTable.v2ColumnStats(root, version, required)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(snapBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1ScanRelation(context, root, version, required, pushed, claimed)
      .asInstanceOf[T]

  override def description(): String =
    s"GraftV1FallbackScan $root v${version.getOrElse(-1L)}" +
      (if (claimed.nonEmpty) s" PartitionFilters: [${claimed.mkString(", ")}]" else "")
}

final class GraftV1ScanRelation(override val sqlContext: SQLContext,
                                private val root: String,
                                private val version: Option[Long],
                                private val required: StructType,
                                private val pushed: Array[Filter],
                                private val claimed: Seq[Filter] = Nil)
    extends BaseRelation with TableScan {
  override def schema: StructType = required

  // value equality on the logical scan identity — required for Spark's
  // exchange reuse (and through it DPP) to recognize two builds of the
  // same table scan; see GraftKeyedScan.equals for the full story.
  // claimed is part of the identity: two scans differing only in their
  // enforced partition predicate must never be substituted for another.
  override def equals(other: Any): Boolean = other match {
    case o: GraftV1ScanRelation =>
      root == o.root && version == o.version &&
        required == o.required && pushed.toSeq == o.pushed.toSeq &&
        claimed == o.claimed
    case _ => false
  }

  override def hashCode(): Int =
    (root, version, required, pushed.toSeq, claimed).hashCode()

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val (ranges, points, nullProbes) = VersionedRelation.translate(pushed)
    val (df, keptDirs, totalDirs) = VersionedTable.scanForRelation(
      sqlContext.sparkSession, root, version, ranges, points, nullProbes)
    VersionedRelation.lastScan = VersionedRelation.ScanInfo(
      required.fieldNames.toSeq, ranges.size, points.size, keptDirs, totalDirs)
    // CLAIMED partition predicates are a correctness input here — Spark
    // dropped its Filter node, so this relation must apply them itself
    // (era-safe: the scan materializes partition values per layout era)
    val dfC = if (claimed.isEmpty) df
      else df.filter(GraftPartitionFilters.toColumn(claimed))
    dfC.select(required.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*).rdd
  }
}

/** Writes: `INSERT INTO` = append commit, `INSERT OVERWRITE` (truncate) =
  * overwrite commit — through the same OCC path as every programmatic
  * write, so constraints, generated/identity columns, defaults, and
  * auto-compact all apply. The commitId derives from Spark's queryId:
  * a re-submitted write graph retries idempotently instead of
  * double-appending.
  */
class GraftWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ignored: Boolean): Unit = {
        val parent = VersionedTable.latestCommit(root)
        val props = parent.map(_.props).getOrElse(Map.empty)
        def declared(key: String): Seq[String] = props.get(key)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        val (st, bl) = VersionedTable.indexedCols(root)
        // the index follows the table: already-indexed columns keep their
        // stats; `graft.stats.columns` / `graft.bloom.columns` let CREATE
        // TABLE ... TBLPROPERTIES declare the index up front
        val stats = (st ++ declared("graft.stats.columns")).distinct
          .filter(data.columns.contains)
        val blooms = (bl ++ declared("graft.bloom.columns")).distinct
          .filter(data.columns.contains)
        // IDENTITY and GENERATED columns: Spark's output resolver pads an
        // OMITTED declared column with a NULL literal before this writer
        // runs (DSv2 generation/allocation is the catalog's job) — detect
        // the padding at PLAN level (no data evaluated) and drop it, so
        // the engine allocates identity values and recomputes generation
        // expressions. A column carrying REAL values is kept: the commit
        // refuses explicit identity values and equality-validates
        // generated ones, exactly the engine contract. Known limitation
        // (inherent to the padding shape): an EXPLICIT literal NULL for a
        // declared column is indistinguishable from the omitted-column
        // padding, so it reads as "omitted" and the engine computes the
        // real value instead of refusing — never a violating store,
        // just a stricter-than-SQL interpretation of NULL.
        def nullPadded(c: String): Boolean = {
          import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, Literal}
          def isNullLit(e: Expression): Boolean = e match {
            case Literal(null, _) => true
            case a: Alias => isNullLit(a.child)
            case cst: Cast => isNullLit(cst.child)
            case _ => false
          }
          // the padding Project may sit under enforcement nodes (Spark's
          // own checkinvariant Filter) — resolve the OUTPUT attribute and
          // find the alias that defines it anywhere in the tree
          val analyzed = data.queryExecution.analyzed
          analyzed.output.find(_.name == c).exists { attr =>
            analyzed.collectFirst {
              case p: org.apache.spark.sql.catalyst.plans.logical.Project
                  if p.projectList.exists {
                    case a: Alias => a.exprId == attr.exprId && isNullLit(a.child)
                    case _ => false
                  } => true
            }.getOrElse(false)
          }
        }
        val padded = parent.map(c => c.identity.keySet ++ c.generated.keySet)
          .getOrElse(Set.empty).filter(nullPadded)
        val dataW = padded.foldLeft(data)((d, c) =>
          if (d.columns.contains(c)) d.drop(c) else d)
        VersionedTable.commit(dataW, root,
          if (overwrite) "overwrite" else "append",
          s"catalog-write-${info.queryId()}",
          statsCols = stats,
          partitionCols = parent.map(_.partitionCols).getOrElse(Nil),
          bloomCols = blooms)
        ()
      }
    }
  }
}

/** The staged table behind atomic CTAS / RTAS
  * ([[GraftCatalog.stageCreate]]/`stageReplace`/`stageCreateOrReplace`):
  * the write DEFERS — `insert` stashes the incoming frame and runs no
  * job — so nothing persists before `commitStagedChanges` publishes ONE
  * overwrite commit through the standard OCC path. A REPLACE therefore
  * lands on the EXISTING commit log: atomic swap, history preserved,
  * time travel reaches every pre-replace version, abort is a true no-op.
  * Parent-table CHECK constraints survive a REPLACE like every overwrite
  * and enforce on the staged batch — a violating REPLACE refuses with the
  * log untouched; drop them first to redefine away. NOT NULL invariants
  * REDECLARE from the replacing query's schema (Delta's RTAS: new shape,
  * new nullability), and a fresh CTAS inherits the query schema's
  * nullability the same way. Hidden (transform) partition layouts ride
  * both shapes: generated-column declaration + data publish as the SAME
  * commit, so a failed query can never leave a phantom declared-empty
  * table behind. Declared TBLPROPERTIES ride the SAME commit (merged
  * over the table's existing properties; the index-shaping keys
  * `graft.stats.columns` / `graft.bloom.columns` also shape the data
  * commit itself).
  */
private[catalog] final class GraftStagedTable(catalog: GraftCatalog,
    ident: Identifier, root: String,
    info: org.apache.spark.sql.connector.catalog.TableInfo,
    replace: Boolean, catalogName: String)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private val cols = info.columns()
  // staged statements carry the QUERY's shape — column specs and
  // constraints have no CTAS/RTAS spelling in Spark SQL; refuse
  // defensively if an engine hands them over rather than dropping them
  require(cols.forall(c => c.defaultValue() == null &&
      c.generationExpression() == null && c.identityColumnSpec() == null),
    "GraftCatalog: staged CREATE/REPLACE ... AS SELECT cannot declare " +
      "column specs — CREATE the table first, then INSERT")
  require(info.constraints() == null || info.constraints().isEmpty,
    "GraftCatalog: staged CREATE/REPLACE ... AS SELECT cannot declare " +
      "constraints — CREATE the table first, then ALTER/INSERT")

  @volatile private var pending: Option[DataFrame] = None

  override def name(): String = ident.toString
  override def schema(): StructType = StructType(cols.map(c =>
    org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
  override def partitioning(): Array[Transform] = info.partitions()
  override def properties(): util.Map[String, String] = info.properties()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit =
              // DEFER the job to commitStagedChanges: nothing may persist
              // before the publish, so abort stays a true no-op and a
              // failed statement leaves the table exactly as it was
              pending = Some(data)
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    def colTypeOf(n: String): Option[org.apache.spark.sql.types.DataType] =
      cols.find(_.name() == n).map(_.dataType())
    // hidden partitioning in the staged statement desugars exactly like
    // the plain CREATE path: transforms synthesize generated columns
    val hiddenSpecs: Seq[GraftTransforms.Spec] =
      info.partitions().toSeq.flatMap(catalog.hiddenPartitionSpec(_, colTypeOf))
    val partitionCols = info.partitions().toSeq.map(t =>
      catalog.hiddenPartition(t, colTypeOf).map(_._1)
        .getOrElse(t.references()(0).fieldNames().mkString(".")))
    // hidden layouts auto-index their SOURCE columns (the Iceberg "users
    // never think about the layout" contract; graft.stats.auto opts out)
    val props = GraftTransforms.autoIndexProps(
      GraftCatalog.tableProps(info.properties()), hiddenSpecs, colTypeOf)
    def declared(key: String): Seq[String] = props.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val commitId = s"catalog-staged-${java.util.UUID.randomUUID().toString.take(12)}"
    val generated = hiddenSpecs.map(s => s.name -> s.sql).toMap
    pending match {
      case Some(data) =>
        // ONE commit carries declaration AND data — for a fresh CTAS the
        // transform layout, generated specs, and the query schema's
        // nullability (Delta's CTAS NOT NULL inheritance) publish with the
        // rows; for a staged REPLACE the SAME overwrite commit redeclares
        // the generated set over the existing log (transform layouts
        // included), history preserved. A failed query therefore leaves
        // NOTHING behind: the manifest publishes only after the data lands.
        VersionedTable.commit(data, root, "overwrite", commitId,
          statsCols = declared("graft.stats.columns")
            .filter(c => data.columns.contains(c) ||
              generated.keySet.contains(c)),
          partitionCols = partitionCols,
          bloomCols = declared("graft.bloom.columns").filter(data.columns.contains),
          declareGenerated = generated,
          declareNotNull = Some(schema().fields.filterNot(_.nullable)
            .map(_.name).toSeq),
          declareProps = props)
      case None =>
        // REPLACE TABLE without AS SELECT: redefine to EMPTY under the
        // new shape — one overwrite commit, history preserved. A fresh
        // CREATE without data is the plain declared-empty create (specs
        // included when the layout is hidden).
        if (replace)
          VersionedTable.commit(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], schema()),
            root, "overwrite", commitId, partitionCols = partitionCols,
            declareGenerated = generated, declareProps = props)
        else if (generated.nonEmpty)
          catalog.stagedCreateWithSpecs(root,
            StructType(schema().fields ++ hiddenSpecs.map(s =>
              org.apache.spark.sql.types.StructField(s.name, s.dataType))),
            partitionCols, props, generated, commitId)
        else
          VersionedTable.createTable(root, schema(), partitionCols, props, commitId)
    }
  }

  override def abortStagedChanges(): Unit = () // nothing persisted pre-publish
}
