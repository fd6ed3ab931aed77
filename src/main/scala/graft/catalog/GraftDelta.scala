package graft.catalog

import java.util.UUID

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.io.{VersionedRelation, VersionedTable}

/** DELTA-based row-level DML — the public DataSource-V2 `SupportsDelta`
  * integration (the surface Iceberg's merge-on-read mode registers): a
  * catalog `UPDATE` / `DELETE` / `MERGE INTO` plans as Spark's own
  * `WriteDelta`, whose query yields only the CHANGED rows, and the write
  * encodes them as
  *
  *  - one POSITIONAL DELETION VECTOR (`posdel/` — the exact layout
  *    [[VersionedTable.deleteWherePos]] writes and the codegen'd
  *    [[graft.functions.PosDeleted]] read-side skip consumes, ZERO join
  *    nodes on every subsequent read), and
  *  - for UPDATE/MERGE, one small new-rows dir holding the post-images,
  *
  * published together as ONE pinned-parent OCC commit. Against the
  * group-based copy-on-write twin ([[GraftRowLevelOperation]]) the cost
  * model flips exactly as Delta/Iceberg document it: a one-row UPDATE in
  * a wide dir costs O(matched rows) bytes instead of O(dir) — at 100 TB
  * the difference between touching a kilobyte and rewriting a terabyte —
  * while reads pay the (metered, compaction-absorbed) vector skip.
  * Tables choose per-table via `graft.dml.mode` = 'merge-on-read'
  * (default) | 'copy-on-write', mirroring Iceberg's `write.update.mode`.
  *
  * How Spark drives it: the analyzer resolves this operation's
  * [[rowId]] columns (`_graft_file`, `_graft_pos` — declared as table
  * METADATA COLUMNS) and [[requiredMetadataAttributes]] (`_graft_dir`)
  * against the scan, rewrites the DML into a `WriteDelta` whose query is
  * `Filter(cond, scan)` projected to (operation, row?, rowId, metadata),
  * and the physical `WriteDeltaExec` dispatches each row to
  * [[GraftDeltaWriter]]'s insert/update/delete. The statement's WHERE
  * clause reaches the scan as ORDINARY pushed predicates (no runtime
  * group filter needed — the matched set, not whole groups, is what a
  * delta write consumes), so the manifest skipping index bounds the scan
  * to the hit dirs exactly as the programmatic delete verbs do.
  */
final class GraftDeltaOperation(spark: SparkSession, root: String,
    cmd: Command) extends RowLevelOperation with SupportsDelta {

  @volatile private[catalog] var configuredScan: GraftDeltaScan = _

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftDeltaScan.FILE_COL),
    Expressions.column(GraftDeltaScan.POS_COL))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftCowScan.DIR_COL))

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private val version = VersionedTable.latestVersion(root)
      private val logicalFull: StructType = {
        val c = VersionedTable.latestCommit(root).getOrElse(
          sys.error(s"$cmd on $root: empty table"))
        val phys = StructType.fromDDL(c.schemaDdl.getOrElse(
          throw new UnsupportedOperationException(
            s"$cmd on $root: snapshot has no recorded schema")))
        val inv = c.nameMap.map(_.swap)
        StructType(
          phys.fields.map(f => f.copy(name = inv.getOrElse(f.name, f.name))) ++
            GraftDeltaScan.metaFields)
      }
      private var required: StructType = logicalFull
      private var pushed: Array[Filter] = Array.empty

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = VersionedRelation.pushable(filters)
        filters // all residual: Spark re-applies every predicate above
      }

      override def pushedFilters(): Array[Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(logicalFull.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)))

      override def build(): Scan = {
        val (ranges, points, nullProbes) = VersionedRelation.translate(pushed)
        val plan = VersionedTable.deltaScanPlan(spark, root, version,
            ranges, points, nullProbes,
            allowIdentity = cmd == Command.DELETE) match {
          case Right(p) => p
          case Left(reason) => throw new UnsupportedOperationException(
            s"$cmd on $root cannot take the delta merge-on-read path: $reason " +
              "(or set TBLPROPERTIES ('graft.dml.mode'='copy-on-write'))")
        }
        val scan = new GraftDeltaScan(spark, root, plan, required, pushed)
        configuredScan = scan
        scan
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(spark, root,
        GraftDeltaOperation.this, info,
        cmd.toString.toLowerCase(java.util.Locale.ROOT))
    }

  override def description(): String = s"GraftDeltaOperation $cmd $root"
}

/** The delta scan: one `InputPartition` per live (index-surviving) file,
  * read through Spark's own parquet path with the hive keys, dir tag,
  * position-vector FILE KEY, and era-missing DEFAULT constants riding
  * `partitionValues` (zero IO), and `_graft_pos` produced by Spark's OWN
  * parquet row-index generator (the `_tmp_metadata_row_index` mechanism
  * behind `_metadata.row_index`) — exact file-physical coordinates EVEN
  * UNDER ROW-GROUP SKIPPING, which is what lets the statement's pushed
  * predicates prune row groups: a point DELETE decodes the hit groups of
  * the hit files, never whole files. Rows already covered by PENDING
  * vectors are skipped in-reader (advancing sorted-array pointer,
  * amortized O(1)/row), so a deleted row can never re-match and
  * positions never shift.
  */
final class GraftDeltaScan(spark: SparkSession, private val root: String,
    private[catalog] val plan: VersionedTable.DeltaPlan,
    private val required: StructType,
    private val pushed: Array[Filter] = Array.empty,
    private val claimed: Seq[Filter] = Nil)
    extends Scan with Batch with SupportsReportStatistics {

  private[catalog] def version: Long = plan.version

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = math.max(1L, plan.files.map(_.len).sum)
    // exact LIVE rows: footer counts minus each file's pending-vector
    // positions — all-or-nothing over the planned set, like every scan
    // (see GraftKeyedScan.estimateStatistics for the rationale)
    private val rows: java.util.OptionalLong =
      if (plan.files.nonEmpty && plan.files.forall(_.rows.isDefined))
        java.util.OptionalLong.of(
          plan.files.map(f => f.rows.get - f.dv.length).sum)
      else java.util.OptionalLong.empty()
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = rows
  }

  private def physOf(logical: String): String =
    plan.nameMap.getOrElse(logical, logical)
  private val keyNames = plan.keyFields.map(_.name)
  private val metaNames = GraftDeltaScan.metaFields.map(_.name)
  private val reqData = required.fields.filter(f =>
    !keyNames.contains(f.name) && !metaNames.contains(f.name))
  // CONSTANT columns, pruned to the projection: hive keys, then the dir
  // tag / vector file key metadata columns — each rides partitionValues
  private val reqKeys = plan.keyFields.filter(f =>
    required.fieldNames.contains(f.name))
  private val reqBase = Seq(
    StructField(GraftCowScan.DIR_COL, StringType, nullable = false),
    StructField(GraftDeltaScan.FILE_COL, StringType, nullable = false))
    .filter(f => required.fieldNames.contains(f.name))
  private val wantPos = required.fieldNames.contains(GraftDeltaScan.POS_COL)
  private val allDvEmpty = plan.files.forall(_.dv.isEmpty)
  // positions are materialized when requested OR when a pending vector
  // must be skipped in-reader (the skip keys on the row's position)
  private val needPos = wantPos || !allDvEmpty

  // PER SCHEMA ERA (files lacking a defaulted column read it as the
  // declared constant through partitionValues — see DeltaEra): which of
  // the required data fields are file-backed vs constant-backed, the
  // reader's input layout, and the reorder into the declared read schema.
  // The row POSITION is produced by Spark's OWN parquet row-index
  // generator (the `_tmp_metadata_row_index` mechanism behind
  // `_metadata.row_index`) — exact even when row groups are SKIPPED,
  // which is what lets this scan push the statement's predicates down
  // for row-group pruning: a point DELETE decodes the hit groups, not
  // the file.
  private final case class EraShape(
      present: Array[StructField], missReq: Array[StructField],
      missVals: Array[Any], inputFields: Seq[StructField], reorder: Array[Int],
      posInputIdx: Int)
  private val posField =
    StructField(GraftDeltaScan.POS_COL, LongType, nullable = false)
  private val eraShapes: Seq[EraShape] = plan.eras.map { era =>
    val missingPhys = era.missing.map(_._1).toSet
    val present = reqData.filterNot(f => missingPhys.contains(physOf(f.name)))
    val missReq = reqData.filter(f => missingPhys.contains(physOf(f.name)))
    val missVals = missReq.map(f =>
      era.missing.find(_._1 == physOf(f.name)).get._3)
    // the reader emits present-data (++ row-index when needed) ++ the
    // pruned partition constants; the row-index slot is LABELED as the
    // position metadata column
    val inputFields = ((present ++ (if (needPos) Seq(posField) else Nil)) ++
      reqKeys ++ reqBase ++ missReq).toSeq
    EraShape(present, missReq, missVals.toArray[Any], inputFields,
      readerOrder.fields.map(f => inputFields.indexWhere(_.name == f.name)),
      if (needPos) present.length else -1)
  }

  /** READER-NATURAL declared schema (era-0 layout: file-backed data, then
    * position if requested, then constants) — like the keyed scan, batch
    * mode can then hand the vectorized reader's ColumnarBatches through
    * whole, and Spark reconciles column order by name above the scan.
    */
  private lazy val readerOrder: StructType = {
    val missing0 = plan.eras.headOption.map(_.missing.map(_._1).toSet)
      .getOrElse(Set.empty)
    val present0 = reqData.filterNot(f => missing0.contains(physOf(f.name)))
    val miss0 = reqData.filter(f => missing0.contains(physOf(f.name)))
    StructType(((present0 ++ (if (wantPos) Seq(posField) else Nil)) ++
      reqKeys ++ reqBase ++ miss0).toArray)
  }

  override def readSchema(): StructType = readerOrder

  override def planInputPartitions(): Array[InputPartition] = {
    val conv = reqKeys.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val keyIdx = reqKeys.map(f => keyNames.indexOf(f.name))
    plan.files.map { f =>
      val shape = eraShapes(f.era)
      val vals = keyIdx.zip(conv).map { case (i, c) =>
        if (f.keyVals(i) == null) null else c(f.keyVals(i)) } ++
        reqBase.map(b =>
          if (b.name == GraftCowScan.DIR_COL)
            org.apache.spark.unsafe.types.UTF8String.fromString(f.dir)
          else org.apache.spark.unsafe.types.UTF8String.fromString(f.fileKey)) ++
        shape.missVals
      GraftDeltaInputPartition(f.path, f.len,
        new GenericInternalRow(vals.toArray[Any]), f.dv, f.era): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val physDataSchema = StructType(plan.physSchema.fields.filterNot(f =>
      keyNames.contains(f.name)))
    // COLUMNAR when nothing needs per-row work in this factory: single
    // schema era, no pending vector to skip, and the vectorized reader
    // supports the full projection (the row-index generator fills its
    // column inside the batch, so a requested _graft_pos still works)
    val columnar = plan.eras.size == 1 && allDvEmpty &&
      new ParquetFileFormat().supportBatch(spark, StructType(
        eraShapes.head.present.map(f => f.copy(name = physOf(f.name))) ++
          (if (wantPos) Seq(posField) else Nil) ++ reqKeys ++ reqBase))
    val eras = eraShapes.map { shape =>
      // Spark's row-index temp column: requesting it makes the parquet
      // readers emit each row's EXACT file position, row-group skipping
      // included — so the statement's predicates can push down for
      // row-group pruning without positions ever shifting
      val physRequired = StructType(shape.present.map(f =>
        f.copy(name = physOf(f.name))) ++
        // the generator recognizes the TEMP name; NULLABLE so the parquet
        // column checker treats it as an (overwritten) missing column
        // instead of refusing a required column absent from the file
        (if (needPos)
          Seq(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
            LongType, nullable = true))
        else Nil))
      val partSchema = StructType((reqKeys ++ reqBase ++ shape.missReq).toArray)
      // push only predicates whose references are file-backed in THIS era
      // (no renames in play, column physically present) — conservative:
      // a dropped row is a row the statement's WHERE provably rejects
      val presentPhys = shape.present.map(f => physOf(f.name)).toSet
      val fileFilters: Seq[Filter] =
        if (plan.nameMap.nonEmpty) Nil
        else pushed.filter(_.references.forall(presentPhys.contains)).toSeq
      val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, physDataSchema, partSchema, physRequired, fileFilters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> columnar.toString),
        spark.sessionState.newHadoopConfWithOptions(Map.empty))
      (readFunc, StructType(shape.inputFields), shape.reorder, shape.posInputIdx)
    }
    new GraftDeltaReaderFactory(eras.toArray, columnar)
  }

  override def description(): String =
    s"GraftDeltaScan $root v${plan.version} files=${plan.files.size}" +
      (if (claimed.nonEmpty) s" PartitionFilters: [${claimed.mkString(", ")}]" else "")

  // value equality for canonicalized-plan/subquery reuse, like every scan.
  // claimed is part of the identity: build() filters plan.files by the
  // claimed partition predicates, so two scans differing only in their
  // claim hold DIFFERENT file sets at the same (root, version, pushed) —
  // reuse substituting one for the other would answer with the wrong
  // partition's rows (string partition predicates never appear in
  // `pushed`, which admits integral hints only).
  override def equals(other: Any): Boolean = other match {
    case o: GraftDeltaScan =>
      root == o.root && plan.version == o.plan.version &&
        required == o.required && pushed.toSeq == o.pushed.toSeq &&
        claimed == o.claimed
    case _ => false
  }
  override def hashCode(): Int =
    (root, plan.version, required, pushed.toSeq, claimed).hashCode()
}

object GraftDeltaScan {
  /** Metadata column: the row's position-vector FILE KEY — what a
    * `posdel/` vector's `file` column records.
    */
  val FILE_COL = "_graft_file"

  /** Metadata column: the row's parquet row index within its file. */
  val POS_COL = "_graft_pos"

  private[catalog] val metaFields: Seq[StructField] = Seq(
    StructField(GraftCowScan.DIR_COL, StringType, nullable = false),
    StructField(FILE_COL, StringType, nullable = false),
    StructField(POS_COL, LongType, nullable = false))
}

/** One file of the delta scan, with its constant partition row (hive
  * keys + dir + file key + era-missing defaults), the file's
  * already-deleted positions, and its schema-era index.
  */
final case class GraftDeltaInputPartition(path: String, len: Long,
    partVals: GenericInternalRow, dv: Array[Long], era: Int)
    extends InputPartition

/** Executor-side: Spark's own parquet read per file (constants appended
  * by the reader), then the position counter and pending-vector skip,
  * then one codegen'd reorder projection — all selected per schema ERA.
  */
final class GraftDeltaReaderFactory(
    eras: Array[(org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow], StructType, Array[Int], Int)],
    columnar: Boolean = false)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val dp = p.asInstanceOf[GraftDeltaInputPartition]
    val (readFunc, _, _, _) = eras(dp.era)
    new PartitionReader[ColumnarBatch] {
      private var open: List[java.io.Closeable] = Nil
      private val batches: Iterator[ColumnarBatch] = {
        val it = readFunc(org.apache.spark.sql.execution.datasources.PartitionedFile(
          dp.partVals,
          org.apache.spark.paths.SparkPath.fromPathString(dp.path),
          0L, dp.len, Array.empty, 0L, dp.len, Map.empty))
        it match {
          case c: java.io.Closeable => open ::= c
          case _ => ()
        }
        // iterator-level cast, never per-element — see GraftKeyedReaderFactory
        it.asInstanceOf[Iterator[ColumnarBatch]]
      }
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) { cur = batches.next(); true } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = { open.foreach(_.close()); open = Nil }
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dp = p.asInstanceOf[GraftDeltaInputPartition]
    val (readFunc, inputSchema, reorder, posIdx) = eras(dp.era)
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(reorder.map(i =>
        BoundReference(i, inputSchema.fields(i).dataType, nullable = true)).toSeq)
      private var open: List[java.io.Closeable] = Nil
      private val raw: Iterator[InternalRow] = {
        val it = readFunc(org.apache.spark.sql.execution.datasources.PartitionedFile(
          dp.partVals,
          org.apache.spark.paths.SparkPath.fromPathString(dp.path),
          0L, dp.len, Array.empty, 0L, dp.len, Map.empty))
        it match {
          case c: java.io.Closeable => open ::= c
          case _ => ()
        }
        it.flatMap {
          case b: ColumnarBatch => {
            import scala.jdk.CollectionConverters._
            b.rowIterator().asScala
          }
          case r: InternalRow => Iterator.single(r)
        }
      }
      private val live = GraftDeltaReaderFactory.liveRows(raw, posIdx, dp.dv)
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (live.hasNext) { cur = proj(live.next()); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = { open.foreach(_.close()); open = Nil }
    }
  }
}

object GraftDeltaReaderFactory {
  /** The rows of `raw` whose position (input column `posIdx`) is not in the
    * sorted vector `dv`. Positions come from Spark's row-index generator —
    * exact under row-group skipping — so the vector pointer ADVANCES past
    * entries whose rows were never materialized (a skipped group can hold
    * covered positions): amortized O(1) per row. `posIdx < 0` or an empty
    * vector passes every row through.
    */
  def liveRows(raw: Iterator[InternalRow], posIdx: Int,
               dv: Array[Long]): Iterator[InternalRow] =
    if (posIdx < 0 || dv.isEmpty) raw
    else {
      var i = 0
      raw.filter { r =>
        val pos = r.getLong(posIdx)
        while (i < dv.length && dv(i) < pos) i += 1
        i >= dv.length || dv(i) != pos
      }
    }
}

/** The delta WRITE half: tasks stream `WriteDeltaExec`'s per-row verbs
  * into two attempt-unique staging areas — deletes as (dir, file, pos)
  * rows of ONE positional vector, inserts/update-post-images through the
  * same dynamic hive-partition writers as the copy-on-write path — and
  * commit() prunes failed-attempt debris then publishes ONE pinned-parent
  * OCC commit ([[VersionedTable.publishDeltaDml]]).
  */
final class GraftDeltaWrite(spark: SparkSession, root: String,
    op: GraftDeltaOperation, info: LogicalWriteInfo, verb: String)
    extends DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def description(): String = s"GraftDeltaWrite $verb $root"

  /** WRITE DISTRIBUTION (Iceberg's `write.distribution-mode=hash`
    * default): UPDATE/MERGE post-images on a hive-partitioned table
    * CLUSTER by the partition keys before the write, so each key's rows
    * land in one task and the per-task dynamic writers open one file per
    * key instead of one per (key, task) — at 100 TB a wide MERGE across
    * K partitions writes O(K) post-image files, not O(K × tasks). The
    * shuffle is O(matched rows) — proportional to the change, never the
    * table. DELETEs need no placement (positions only) and ADVISORY
    * strictness lets Spark skip the shuffle when it can.
    */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val partCols = VersionedTable.latestCommit(root)
      .map(_.partitionCols).getOrElse(Nil)
    if (verb == "delete" || partCols.isEmpty || info.schema().isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      partCols.map(c => Expressions.column(c):
        org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def distributionStrictlyRequired(): Boolean = false

  /** WRITE ORDER: a declared `graft.write.orderedBy` carries into the
    * delta writer's post-image/insert files — Spark adds a per-task sort
    * by (partition keys, order columns), so DML-written files keep the
    * tight per-file envelopes the ordered ingest established (global
    * disjointness is compaction's job; a local sort costs no exchange).
    * DELETEs write positions only — nothing to order.
    */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (verb == "delete" || info.schema().isEmpty) return Array.empty
    val c = VersionedTable.latestCommit(root)
    val order = c.map(x => VersionedTable.writeOrderOf(x.props)).getOrElse(Nil)
    if (order.isEmpty) Array.empty
    else {
      val partCols = c.map(_.partitionCols).getOrElse(Nil)
      val fields = info.schema().fieldNames.toSet
      import org.apache.spark.sql.connector.expressions.SortDirection
      (partCols.map((_, true)) ++ order.filterNot(o => partCols.contains(o._1)))
        .filter(o => fields.contains(o._1))
        .map { case (cn, asc) => Expressions.sort(Expressions.column(cn),
          if (asc) SortDirection.ASCENDING else SortDirection.DESCENDING) }
        .toArray
    }
  }

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val scan = {
      val s = op.configuredScan
      require(s != null, s"delta $verb on $root: write built before its scan")
      s
    }
    private val mode = s"delta-$verb"
    private val commitId = s"catalog-$mode-${info.queryId()}"
    private val stagedData = VersionedTable.newAttemptDataDir(root, scan.version + 1, commitId)
    private val posSet = VersionedTable.newPosSetName(scan.version + 1, commitId)
    // layout derives from the SAME pinned snapshot the scan read — see
    // GraftCowWrite for why (OCC refuses the race loudly either way)
    private val snapshot = VersionedTable.commitAt(root, scan.version)
    private val partitionCols = snapshot.map(_.partitionCols).getOrElse(Nil)
    private val nameMap = snapshot.map(_.nameMap).getOrElse(Map.empty)
    private val rowSchema = info.schema()
    private val hasRows = rowSchema.fields.nonEmpty
    private val keyIdx: Array[Int] =
      if (hasRows) partitionCols.map(k => rowSchema.fieldIndex(k)).toArray
      else Array.empty
    private val fileSchema = StructType(rowSchema.fields.zipWithIndex
      .filterNot { case (_, i) => keyIdx.contains(i) }
      .map { case (f, _) => f.copy(name = nameMap.getOrElse(f.name, f.name)) })

    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
      new java.io.File(s"$root/$posSet").mkdirs()
      val conf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
      val posJob = Job.getInstance(conf)
      val posFactory = new ParquetFileFormat().prepareWrite(
        spark, posJob, Map.empty, GraftDeltaWrite.posSchema)
      val dataFactory = if (hasRows) {
        new java.io.File(s"$root/$stagedData").mkdirs()
        val dataJob = Job.getInstance(conf)
        val ow = new ParquetFileFormat().prepareWrite(
          spark, dataJob, Map.empty, fileSchema)
        Some(new GraftCowWriterFactory(
          new java.io.File(s"$root/$stagedData").getAbsolutePath,
          rowSchema, fileSchema, partitionCols.toArray, keyIdx, ow,
          new GraftSerializableConf(dataJob.getConfiguration),
          snapshot.map(VersionedTable.compileRowGuards(spark, _, rowSchema))
            .getOrElse(VersionedTable.RowWriteGuards(Nil, None))))
      } else None
      val metaSchema = info.metadataSchema().orElseThrow(() =>
        new IllegalStateException(s"delta $verb on $root: no metadata schema"))
      val idSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException(s"delta $verb on $root: no row-id schema"))
      new GraftDeltaWriterFactory(
        new java.io.File(s"$root/$posSet").getAbsolutePath,
        metaSchema.fieldIndex(GraftCowScan.DIR_COL),
        idSchema.fieldIndex(GraftDeltaScan.FILE_COL),
        idSchema.fieldIndex(GraftDeltaScan.POS_COL),
        posFactory, new GraftSerializableConf(posJob.getConfiguration),
        dataFactory)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
      // prune failed-attempt debris in both staging areas — every file in
      // a published dir/vector is table data, so the registry prune is
      // load-bearing (same contract as the copy-on-write write)
      def prune(rel: String, kept: Set[String]): Boolean = {
        val dir = new java.io.File(s"$root/$rel")
        def walk(f: java.io.File, r: String): Unit =
          Option(f.listFiles()).getOrElse(Array.empty).foreach { c =>
            val cr = if (r.isEmpty) c.getName else s"$r/${c.getName}"
            if (c.isDirectory) { walk(c, cr); if (Option(c.list()).forall(_.isEmpty)) c.delete() }
            else if (!kept.contains(cr)) c.delete()
          }
        walk(dir, "")
        if (kept.isEmpty) { dir.delete(); false } else true
      }
      val dataKept = prune(stagedData, msgs.flatMap(_.dataFiles).toSet)
      val posKept = prune(posSet, msgs.flatMap(_.posFiles).toSet)
      val markedDirs = msgs.flatMap(_.markedDirs).distinct.sorted.toSeq
      VersionedTable.publishDeltaDml(spark, root, scan.version, markedDirs,
        Some(posSet).filter(_ => posKept && markedDirs.nonEmpty),
        Some(stagedData).filter(_ => dataKept), mode, commitId)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      Seq(stagedData, posSet).foreach { rel =>
        val dir = new java.io.File(s"$root/$rel")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }
  }
}

object GraftDeltaWrite {
  /** The positional-vector row layout — byte-compatible with what
    * [[VersionedTable.deleteWherePos]] writes and `loadPosDv` reads.
    */
  private[catalog] val posSchema = StructType(Seq(
    StructField("dir", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
}

final case class GraftDeltaCommitMessage(dataFiles: Seq[String],
    posFiles: Seq[String], markedDirs: Seq[String], nPos: Long)
    extends WriterCommitMessage

/** Per-task delta writer: deletes stream straight into one attempt-named
  * parquet position file (no task-memory buffering — a wide DELETE's
  * matches never accumulate on the heap); inserts delegate to the shared
  * dynamic hive-partition writer; updates are delete + insert of the
  * post-image. Files are attempt-named, so speculative retries can never
  * collide; the driver's commit-time prune keeps only committed attempts.
  */
final class GraftDeltaWriterFactory(posDirAbs: String, dirIdx: Int,
    fileIdx: Int, posIdx: Int,
    posFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    posConf: GraftSerializableConf,
    dataFactory: Option[GraftCowWriterFactory]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val attempt =
        Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(taskId)
      private var dataWriter: org.apache.spark.sql.connector.write.DataWriter[InternalRow] = _
      private var dataUsed = false
      private var posWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var posRel: String = _
      private val posProj = UnsafeProjection.create(GraftDeltaWrite.posSchema)
      private val rec = new GenericInternalRow(3)
      private val markedDirs = scala.collection.mutable.Set[String]()
      private var nPos = 0L

      override def insert(row: InternalRow): Unit = {
        if (!dataUsed) {
          dataWriter = dataFactory.getOrElse(sys.error(
            "delta write: insert arrived on a row-less (DELETE) operation")).
            createWriter(partitionId, taskId)
          dataUsed = true
        }
        dataWriter.write(row)
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        if (posWriter == null) {
          posRel = f"part-$partitionId%05d-$attempt-${UUID.randomUUID.toString.take(8)}.parquet"
          val ctx = new TaskAttemptContextImpl(posConf.value,
            new TaskAttemptID("graft", 0, TaskType.MAP, partitionId,
              (attempt % Int.MaxValue).toInt))
          posWriter = posFactory.newInstance(s"$posDirAbs/$posRel",
            GraftDeltaWrite.posSchema, ctx)
        }
        val dir = meta.getUTF8String(dirIdx)
        rec.update(0, dir)
        rec.update(1, id.getUTF8String(fileIdx))
        rec.setLong(2, id.getLong(posIdx))
        posWriter.write(posProj(rec))
        markedDirs += dir.toString
        nPos += 1
      }

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delete(meta, id)
        insert(row)
      }

      override def commit(): WriterCommitMessage = {
        val dataFiles = if (dataUsed)
          dataWriter.commit() match {
            case GraftCowCommitMessage(files) => files
            case other => sys.error(s"unexpected data commit message $other")
          }
        else Nil
        if (posWriter != null) posWriter.close()
        GraftDeltaCommitMessage(dataFiles,
          if (posWriter != null) Seq(posRel) else Nil,
          markedDirs.toSeq.sorted, nPos)
      }

      override def abort(): Unit = {
        if (dataUsed) dataWriter.abort()
        if (posWriter != null) {
          posWriter.close()
          new java.io.File(s"$posDirAbs/$posRel").delete()
          ()
        }
      }

      override def close(): Unit = ()
    }
}
