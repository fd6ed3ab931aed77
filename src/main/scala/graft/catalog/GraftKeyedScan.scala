package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.io.VersionedTable

/** A TRUE DataSource-V2 batch over the versioned table that reports
  * `KeyGroupedPartitioning` — the public Iceberg storage-partitioned-join
  * surface, driven by Spark's OWN planner:
  *
  *  - one `InputPartition` per distinct hive key TUPLE, each implementing
  *    `HasPartitionKey` with the tuple as an `InternalRow`, so
  *    EnsureRequirements (with `spark.sql.sources.v2.bucketing.enabled`,
  *    default on in Spark 4) plans joins between two keyed scans — and
  *    aggregations above one — with ZERO Exchange: at 100 TB neither
  *    side of a key-aligned join shuffles a byte, because the hive
  *    layout already IS the clustering;
  *  - the partition-key columns are PATH-materialized: their values ride
  *    the `PartitionedFile.partitionValues` row into Spark's own parquet
  *    reader (`ParquetFileFormat.buildReaderWithPartitionValues` — the
  *    exact executor-side read path `FileSourceScanExec` uses, vectorized
  *    batches included), so the scan pays no IO for them;
  *  - dir envelopes/blooms/null-counts AND per-file footer envelopes have
  *    already pruned the file set on the driver
  *    ([[VersionedTable.keyedBatchPlan]]), and the pushable predicates
  *    are handed to the parquet reader for row-group skipping on top.
  *
  * Eligibility is decided by `keyedBatchPlan` (None → the V1 fallback
  * scan): snapshots with column DEFAULTs, mixed layout eras, or
  * non-path-round-trippable key types take the fallback, which handles
  * them all — correct-by-fallback, never correct-by-refusal. Pending
  * merge-on-read delete sets stay on the keyed scan: each file skips its
  * positional vector's rows (Spark's row-index column, as in
  * [[GraftDeltaScan]]) and the rows whose key a covering key-form set
  * holds. Such a scan reads row-wise.
  */
final class GraftKeyedScan(spark: SparkSession, private val root: String,
    private val plan: VersionedTable.KeyedPlan, private val required: StructType,
    private val pushed: Array[Filter], private val claimed: Seq[Filter] = Nil,
    private val topNTag: String = "")
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  /** REAL statistics: the planned file set's on-disk bytes (already pruned
    * by the skipping index, already in the plan — zero extra IO). Honest
    * sizes are what let Spark pick broadcast joins and judge DPP benefit
    * by itself at 100 TB instead of treating every graft scan as
    * infinitely large; see the SPJ rows for where a hint pins the join
    * shape independently of size.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fs = groups.flatMap(_.files)
    private val bytes = math.max(1L, fs.map(_._2).sum)
    // footer row counts recorded in the `_filestats` side files, summed
    // over the PLANNED (index-pruned, runtime-filtered) file set, minus
    // each file's pending vector positions — exact, not an estimate,
    // because dirs are immutable. Reported only when EVERY planned file
    // has a recorded count and no key-form set covers one: a partial sum
    // would under-report and bias join-size estimates the wrong way.
    private val rows: java.util.OptionalLong =
      if (fs.nonEmpty && fs.forall(f => plan.fileRows.contains(f._1) &&
          plan.fileDeletes.get(f._1).forall(_.keySets.isEmpty)))
        java.util.OptionalLong.of(fs.map(f => plan.fileRows(f._1) -
          plan.fileDeletes.get(f._1).fold(0)(_.positions.length)).sum)
      else java.util.OptionalLong.empty()
    // manifest-envelope column stats for the CBO — VersionedTable
    // .v2ColumnStats; withheld whenever the planned set is a SUBSET of
    // the snapshot (claimed partition predicates OR advisory pushed-hint
    // pruning): table-wide extremes/null counts over a pruned scan could
    // exceed its own numRows and feed FilterEstimation nonsense
    private val cols =
      if (claimed.nonEmpty || pushed.nonEmpty)
        new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      else VersionedTable.v2ColumnStats(root, Some(plan.version), required)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = rows
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
  }

  private val keyNames: Seq[String] = plan.keySchema.fieldNames.toSeq

  // RUNTIME FILTERING (dynamic partition pruning, the DSv2 way): the scan
  // declares its key columns filterable, and when a join's other side is
  // available at runtime (a reused broadcast, a completed subquery) Spark
  // hands back In/EqualTo filters on them — whole KEY GROUPS drop before a
  // single file opens. At 100 TB this is the difference between scanning
  // one joined-to partition and scanning the table: the classic DPP win,
  // served by Spark's own planner because the scan is a true DSv2 batch.
  // Purely an optimization — Spark re-applies every join predicate above.
  @volatile private var groups: Seq[VersionedTable.KeyedGroup] = plan.groups

  override def filterAttributes(): Array[NamedReference] =
    // only keys surviving column pruning: Spark resolves these against the
    // scan OUTPUT, and a pruned-away key cannot carry a join anyway
    keyNames.filter(n => required.fieldNames.contains(n))
      .map(n => Expressions.column(n)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    // hive-path values vs runtime literals: normalize integral widths and
    // unwrap UTF8String so equality is by VALUE, not JVM class
    def norm(v: Any): Any = v match {
      case n: java.lang.Number => n.longValue
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other =>
        graft.io.VersionedRelation.epochDay(other)
          .orElse(graft.io.VersionedRelation.tsMicros(other))
          .orElse(graft.io.VersionedRelation.ntzMicros(other)).getOrElse(other)
    }
    filters.foreach {
      case org.apache.spark.sql.sources.In(attr, values)
          if keyNames.contains(attr) =>
        val i = keyNames.indexOf(attr)
        val vs = values.iterator.filter(_ != null).map(norm).toSet
        groups = groups.filter(g => g.key(i) != null && vs.contains(norm(g.key(i))))
      case org.apache.spark.sql.sources.EqualTo(attr, v)
          if keyNames.contains(attr) && v != null =>
        val i = keyNames.indexOf(attr)
        groups = groups.filter(g => g.key(i) != null && norm(g.key(i)) == norm(v))
      case _ => () // unknown shapes skip: filtering is never a correctness input
    }
    GraftKeyedScan.lastRuntimeFilter = Some((plan.groups.size, groups.size))
  }

  // logical -> physical for data columns (keys are never renamed: the
  // hive guard refuses renaming a path-materialized column)
  private def physOf(logical: String): String =
    plan.nameMap.getOrElse(logical, logical)

  private val reqDataFields = required.fields.filterNot(f => keyNames.contains(f.name))
  private val reqKeyFields = required.fields.filter(f => keyNames.contains(f.name))

  /** READER-NATURAL order (data ++ keys) — exactly what Spark's parquet
    * read path emits (required data columns, then partition constants).
    * Declaring it AS the read schema lets batch mode hand Spark's own
    * `ColumnarBatch`es through whole — key columns arrive as the
    * reader's constant column vectors, zero copies — and Spark
    * reconciles column order by NAME above the scan, as with any DSv2
    * source whose readSchema order differs from the projection.
    */
  private val readerOrder = StructType((reqDataFields ++ reqKeyFields).toArray)

  override def readSchema(): StructType = readerOrder

  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      keyNames.map(n => Expressions.identity(n)).toArray, groups.size)

  override def planInputPartitions(): Array[InputPartition] = {
    // the same driver-visible seam the V1 paths feed: which columns and
    // how far the index pruned
    graft.io.VersionedRelation.lastScan = graft.io.VersionedRelation.ScanInfo(
      required.fieldNames.toSeq, 0, 0, plan.keptDirs, plan.totalDirs)
    val fullKeyConv = plan.keySchema.fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val reqKeyIdx = reqKeyFields.map(f => keyNames.indexOf(f.name))
    // SKEW STORY: a key group's files split into size-bounded PACKS (the
    // session split target), each its own InputPartition carrying the SAME
    // partition key — the public Iceberg SPJ shape. Spark's own grouping
    // (DataSourceV2ScanExecBase, v2 bucketing) coalesces same-key packs
    // back into one task wherever clustering is REQUIRED (aggregates,
    // plain SPJ — plans and fingerprints unchanged), and with
    // `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    // .enabled` a join keeps a HOT value's packs as separate tasks and
    // replicates the other side — at 100 TB the difference between one
    // straggler reading a terabyte-scale partition value and N parallel
    // tasks reading a pack each.
    val target = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    groups.flatMap { g =>
      val fullKey = new GenericInternalRow(
        g.key.zip(fullKeyConv).map { case (v, conv) =>
          if (v == null) null else conv(v) }.toArray[Any])
      val reqKey = new GenericInternalRow(
        reqKeyIdx.map(i => fullKey.values(i)).toArray[Any])
      val packs = Seq.newBuilder[Seq[(String, Long)]]
      var cur = List.empty[(String, Long)]
      var curBytes = 0L
      g.files.foreach { f =>
        if (cur.nonEmpty && curBytes + f._2 > target) {
          packs += cur.reverse; cur = Nil; curBytes = 0L
        }
        cur ::= f; curBytes += f._2
      }
      if (cur.nonEmpty) packs += cur.reverse
      packs.result().map(fs => GraftKeyedInputPartition(fs, fullKey, reqKey,
        fs.flatMap(f => plan.fileDeletes.get(f._1).map(f._1 -> _)).toMap): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val physRequired = StructType(reqDataFields.map(f =>
      f.copy(name = physOf(f.name))))
    // parquet row-group pushdown for filters whose names match the file
    // columns verbatim (no rename in play, references are data columns) —
    // purely additive: Spark re-applies every predicate above the scan
    val fileFilters: Seq[Filter] =
      if (plan.nameMap.nonEmpty) Nil
      else pushed.filter(_.references.forall(r =>
        plan.physDataSchema.fieldNames.contains(r))).toSeq
    // merge-on-read debt: the reader also emits each covering key set's
    // column (when the projection dropped it) and, under a positional
    // vector, Spark's row-index temp column (see GraftDeltaScan) — both
    // after the required data columns, so the reorder below drops them
    val debt = plan.fileDeletes.values
    val extra = plan.keySets.values.map(_.column).toSeq.distinct
      .filterNot(physRequired.fieldNames.contains)
      .map(n => plan.physDataSchema(n))
    val rowIndex =
      if (debt.exists(_.positions.nonEmpty))
        Seq(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          LongType, nullable = true))
      else Nil
    val readData = StructType(physRequired.fields ++ extra ++ rowIndex)
    // COLUMNAR whenever no file carries delete debt and the vectorized
    // reader supports data + key columns (see GraftFlatScan): key constants
    // ride the reader's own constant column vectors inside each batch —
    // measured 1.67x over the row unwrap on scan-aggregates, and at 100 TB
    // the SPJ fact scans are exactly where decode throughput pays
    val columnar = debt.isEmpty && new ParquetFileFormat().supportBatch(spark,
      StructType(physRequired.fields ++ reqKeyFields))
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, plan.physDataSchema,
      StructType(reqKeyFields), readData, fileFilters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    // reader emits (data ++ extra ++ row index ++ keys); readerOrder is
    // (data ++ keys)
    val input = StructType(readData.fields ++ reqKeyFields)
    val reorder = readerOrder.fields.indices.map(i =>
      if (i < physRequired.size) i else i + extra.size + rowIndex.size).toArray
    val keySets = plan.keySets.map { case (n, ks) =>
      val i = readData.fieldIndex(ks.column)
      n -> ((i, readData(i).dataType, ks.keys))
    }
    new GraftKeyedReaderFactory(readFunc, input, reorder, columnar,
      if (rowIndex.isEmpty) -1 else readData.size - 1, keySets)
  }

  override def description(): String =
    s"GraftKeyedScan $root v${plan.version} keys=${keyNames.mkString(",")} " +
      s"groups=${plan.groups.size}" +
      (if (claimed.nonEmpty) s" PartitionFilters: [${claimed.mkString(", ")}]" else "") +
      (if (topNTag.nonEmpty) s" PushedTopN: [$topNTag]" else "")

  // VALUE equality on the scan's logical identity (root, pinned version,
  // projection, pushed filters) — what lets Spark's canonicalized plan
  // comparison recognize two builds of the same scan as THE SAME, which is
  // the precondition for exchange/subquery REUSE and hence for DPP: the
  // dynamic-pruning subquery duplicates the build side, and without reuse
  // AQE degenerates the runtime filter to `true`. (Iceberg's SparkScan
  // implements equals/hashCode for exactly this.) Runtime-filter state is
  // deliberately excluded: a filtered instance is the same logical scan.
  override def equals(other: Any): Boolean = other match {
    case o: GraftKeyedScan =>
      root == o.root && plan.version == o.plan.version &&
        required == o.required && pushed.toSeq == o.pushed.toSeq &&
        claimed == o.claimed && // enforced predicates ARE the scan's identity
        topNTag == o.topNTag    // as is a group-pruning top-N hint
    case _ => false
  }

  override def hashCode(): Int =
    (root, plan.version, required, pushed.toSeq, claimed, topNTag).hashCode()
}

object GraftKeyedScan {
  /** Test seam: (groups before, groups after) of the most recent runtime
    * filter application — the driver-visible proof DPP actually pruned.
    */
  @volatile var lastRuntimeFilter: Option[(Int, Int)] = None

  /** The builder's entry: translate the pushed filters, plan the keyed
    * shape, refuse (None) anything the raw reader can't honor.
    */
  def ifEligible(spark: SparkSession, root: String, version: Option[Long],
                 required: StructType, pushed: Array[Filter],
                 claimed: Seq[Filter] = Nil,
                 topN: Option[(String, Boolean, Boolean, Int)] = None): Option[Scan] = {
    val (ranges, points, nullProbes) = graft.io.VersionedRelation.translate(pushed)
    VersionedTable.keyedBatchPlan(spark, root, version, ranges, points, nullProbes)
      .flatMap { p0 =>
        // CLAIMED partition predicates enforce on the key GROUPS — exact:
        // each group's tuple is the parsed path value in declared types.
        // Zero surviving groups falls back (None → the V1 relation, which
        // filters to the same empty result) rather than planning an empty
        // KeyGroupedPartitioning.
        val inv = p0.nameMap.map(_.swap)
        val names = p0.keySchema.fieldNames.toSeq.map(n => inv.getOrElse(n, n))
        val p1 = if (claimed.isEmpty) p0 else
          p0.copy(groups = p0.groups.filter(g => GraftPartitionFilters.passes(
            claimed, names.zip(g.key).toMap)))
        // TOP-N over THE PARTITION KEY prunes whole groups (PARTIAL
        // semantics — Spark keeps its TakeOrderedAndProject): order the
        // groups by their key value (hive path values are exact for every
        // key type, strings by UTF-8 bytes = Spark's own string order),
        // keep the shortest prefix whose `_filestats` row counts PROVABLY
        // cover n; groups with unknown counts cover nothing (kept, never
        // trusted). Merge-on-read debt only lowers a count: a file drops its
        // vector's positions, and a file under a key-form set covers
        // nothing. ORDER BY date_key DESC LIMIT 100 on a key-partitioned
        // table then plans one group. Data-column sort keys keep every
        // group — only the flat scan's footer rule handles those.
        val p = topN match {
          case Some((col, desc, nullsFirst, n)) if p1.groups.size > 1 &&
              names.size == 1 && names.head == col =>
            def fileLive(f: String): Long = p1.fileDeletes.get(f) match {
              case Some(fd) if fd.keySets.nonEmpty => 0L
              case fd => math.max(0L, p1.fileRows.getOrElse(f, 0L) -
                fd.fold(0)(_.positions.length))
            }
            def groupRows(g: VersionedTable.KeyedGroup): Long =
              g.files.map(f => fileLive(f._1)).sum
            val (nullG, valG) = p1.groups.partition(_.key.head == null)
            def vOrd(a: Any, b: Any): Boolean = (a, b) match {
              case (x: String, y: String) =>
                val c = VersionedTable.utf8Compare(x, y)
                if (desc) c > 0 else c < 0
              case (x, y) =>
                def l(v: Any): Long = v match {
                  case i: Int => i.toLong; case lg: Long => lg
                  case other => graft.io.VersionedRelation.epochDay(other)
                    .orElse(graft.io.VersionedRelation.tsMicros(other))
                    .orElse(graft.io.VersionedRelation.ntzMicros(other))
                    .getOrElse(sys.error(s"unexpected key value $other"))
                }
                if (desc) l(x) > l(y) else l(x) < l(y)
            }
            val sorted = valG.sortWith((a, b) => vOrd(a.key.head, b.key.head))
            def prefixCovering(gs: Seq[VersionedTable.KeyedGroup], budget: Long)
                : Seq[VersionedTable.KeyedGroup] = {
              var cum = 0L
              val keep = Seq.newBuilder[VersionedTable.KeyedGroup]
              var done = false
              gs.foreach { g =>
                if (!done) { keep += g; cum += groupRows(g); if (cum >= budget) done = true }
              }
              keep.result()
            }
            val kept =
              if (nullsFirst) {
                val nullRows = nullG.map(groupRows).sum
                if (nullRows >= n && nullG.nonEmpty) nullG
                else nullG ++ prefixCovering(sorted, n - nullRows)
              } else {
                val valRows = valG.map(groupRows).sum
                if (valRows >= n) prefixCovering(sorted, n)
                else sorted ++ nullG
              }
            if (kept.nonEmpty && kept.size < p1.groups.size)
              p1.copy(groups = kept)
            else p1
          case _ => p1
        }
        if (claimed.nonEmpty && p.groups.isEmpty) None
        else Some(new GraftKeyedScan(spark, root, p, required, pushed, claimed,
          topNTag =
            if (p.groups.size < p1.groups.size) {
              val (col, desc, nf, n) = topN.get
              s"${if (desc) "DESC" else "ASC"} $col" +
                s"${if (nf) " NULLS FIRST" else " NULLS LAST"}, limit=$n"
            } else ""))
      }
  }
}

/** One key group = one task: all files of one hive key tuple, with the
  * pending delete debt of those files that carry any.
  */
final case class GraftKeyedInputPartition(files: Seq[(String, Long)],
    fullKey: GenericInternalRow, requiredKey: GenericInternalRow,
    deletes: Map[String, VersionedTable.FileDeletes] = Map.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = fullKey
}

/** Executor-side: run Spark's own parquet read function per file (its
  * iterator yields vectorized `ColumnarBatch`es when the session config
  * allows — unwrap to rows), then reorder (data ++ keys) into the
  * declared read schema with one codegen'd `UnsafeProjection`.
  *
  * When `columnar` is set (flat scans whose projection the vectorized
  * reader fully supports), the factory instead declares columnar reads
  * and hands batches through whole — Spark plans its own
  * `ColumnarToRow` inside the codegen span, and no per-row projection
  * runs here at all.
  *
  * A file with delete debt drops the rows at its vector's positions
  * (input column `posIdx`) and the rows whose key a covering set holds:
  * `keySets` maps a set name to (input column, type, keys); NULL keys
  * never match, as in the anti-join the V1 read path plans.
  */
final class GraftKeyedReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    inputSchema: StructType, reorder: Array[Int],
    columnar: Boolean = false, posIdx: Int = -1,
    keySets: Map[String, (Int, DataType, Set[Any])] = Map.empty)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftKeyedInputPartition]
    new PartitionReader[ColumnarBatch] {
      private var open: List[java.io.Closeable] = Nil
      private val batches: Iterator[ColumnarBatch] =
        gp.files.iterator.flatMap { case (path, len) =>
          val it = readFunc(PartitionedFile(gp.requiredKey,
            org.apache.spark.paths.SparkPath.fromPathString(path),
            0L, len, Array.empty, 0L, len, Map.empty))
          it match {
            case c: java.io.Closeable => open ::= c
            case _ => ()
          }
          // cast the ITERATOR, not elements: batch mode's reader is typed
          // Iterator[InternalRow] by API signature but yields batches (the
          // exact unchecked-cast idiom FileSourceScanExec relies on); a
          // per-element map would checkcast each batch to InternalRow
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
    val gp = p.asInstanceOf[GraftKeyedInputPartition]
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(reorder.map(i =>
        BoundReference(i, inputSchema.fields(i).dataType, nullable = true)).toSeq)
      private var open: List[java.io.Closeable] = Nil
      private val rows: Iterator[InternalRow] =
        gp.files.iterator.flatMap { case (path, len) =>
          val it = readFunc(PartitionedFile(gp.requiredKey,
            org.apache.spark.paths.SparkPath.fromPathString(path),
            0L, len, Array.empty, 0L, len, Map.empty))
          it match {
            case c: java.io.Closeable => open ::= c
            case _ => ()
          }
          val rows = it.flatMap {
            case b: ColumnarBatch => b.rowIterator().asScala
            case r: InternalRow   => Iterator.single(r)
          }
          gp.deletes.get(path).fold(rows) { fd =>
            val sets = fd.keySets.map(keySets)
            GraftDeltaReaderFactory.liveRows(rows, posIdx, fd.positions).filter { r =>
              sets.forall { case (i, dt, keys) =>
                r.isNullAt(i) || !keys.contains(r.get(i, dt)) }
            }
          }
        }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = proj(rows.next()); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = { open.foreach(_.close()); open = Nil }
    }
  }
}

/** A TRUE DSv2 batch over a FLAT (unpartitioned) simple snapshot — the
  * unkeyed sibling of [[GraftKeyedScan]], replacing the V1 bridge exactly
  * where a raw-file batch is safe (recorded schema, no defaults, no MOR
  * debt, single layout era; everything else keeps the full-featured V1
  * fallback — correct-by-fallback, never correct-by-refusal). What the
  * true batch buys over the bridge:
  *
  *  - REAL statistics (`SupportsReportStatistics`: the pruned file set's
  *    on-disk bytes) — Spark's V1ScanWrapper reports the assume-huge
  *    default, so a V1-bridged dim can never auto-broadcast and a
  *    reuseBroadcastOnly DPP filter against it degenerates to `true`;
  *  - value equality for exchange/subquery reuse, like the keyed scan;
  *  - Spark's own vectorized parquet read path per file, files packed
  *    into tasks by `spark.sql.files.maxPartitionBytes`.
  *
  * Pushed filters ride to the parquet reader for row-group skipping (the
  * driver already pruned dirs + files through the manifest index before
  * this scan was built), and — as everywhere — Spark re-applies every
  * predicate above the scan, so skipping is never a correctness input.
  */
final class GraftFlatScan(spark: SparkSession, private val root: String,
    private val plan: VersionedTable.FlatPlan, private val required: StructType,
    private val pushed: Array[Filter], private val pruneDesc: String = "")
    extends Scan with Batch with SupportsReportStatistics {

  private def physOf(logical: String): String =
    plan.nameMap.getOrElse(logical, logical)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = math.max(1L, plan.files.map(_._2).sum)
    // see GraftKeyedScan.estimateStatistics: exact footer row counts from
    // the side files, all-or-nothing over the planned file set
    private val rows: java.util.OptionalLong =
      if (plan.files.nonEmpty && plan.files.forall(f => plan.fileRows.contains(f._1)))
        java.util.OptionalLong.of(plan.files.map(f => plan.fileRows(f._1)).sum)
      else java.util.OptionalLong.empty()
    // manifest-envelope column stats (min/max/nullCount) for the CBO —
    // see VersionedTable.v2ColumnStats; withheld when pushed hints pruned
    // the file set (table-wide stats would misdescribe the subset)
    private val cols =
      if (pushed.nonEmpty)
        new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      else VersionedTable.v2ColumnStats(root, Some(plan.version), required)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = rows
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
  }

  override def planInputPartitions(): Array[InputPartition] = {
    graft.io.VersionedRelation.lastScan = graft.io.VersionedRelation.ScanInfo(
      required.fieldNames.toSeq, 0, 0, plan.keptDirs, plan.totalDirs)
    // pack files into tasks by the session's split target — one task per
    // file maximizes parallelism at test scale but would make a 100 TB
    // table's task count O(#files) regardless of file size
    val target = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val packs = Seq.newBuilder[Seq[(String, Long)]]
    var cur = List.empty[(String, Long)]
    var curBytes = 0L
    plan.files.foreach { f =>
      if (cur.nonEmpty && curBytes + f._2 > target) {
        packs += cur.reverse; cur = Nil; curBytes = 0L
      }
      cur ::= f; curBytes += f._2
    }
    if (cur.nonEmpty) packs += cur.reverse
    // reuse the keyed partition/reader machinery with an EMPTY key row
    // (buildReaderWithPartitionValues below declares an empty partition
    // schema, so the empty row is exactly what each PartitionedFile wants)
    packs.result().map(fs => GraftKeyedInputPartition(fs,
      GraftFlatScan.emptyKey, GraftFlatScan.emptyKey): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val physRequired = StructType(required.fields.map(f =>
      f.copy(name = physOf(f.name))))
    val fileFilters: Seq[Filter] =
      if (plan.nameMap.nonEmpty) Nil
      else pushed.filter(_.references.forall(r =>
        plan.physSchema.fieldNames.contains(r))).toSeq
    // COLUMNAR when the vectorized reader supports the projection (all
    // atomic types): the scan then hands Spark whole
    // ColumnarBatches — the same batches FileSourceScanExec serves — and
    // the plan gets a ColumnarToRow inside the codegen span instead of a
    // per-row unwrap + copy through this factory. On a 100 TB full scan
    // the per-row path is pure decode overhead; batch mode is why the
    // vectorized reader exists. Falls back to row mode whenever
    // supportBatch says no (nested types) — same correctness.
    val columnar = new ParquetFileFormat().supportBatch(spark, physRequired)
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, plan.physSchema,
      new StructType(), physRequired, fileFilters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    // reader emits physRequired in required's order — identity reorder
    new GraftKeyedReaderFactory(readFunc, required,
      required.fields.indices.toArray, columnar)
  }

  override def description(): String =
    s"GraftFlatScan $root v${plan.version} files=${plan.files.size} " +
      (if (pruneDesc.nonEmpty) s"$pruneDesc " else "") +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  // value equality for exchange/subquery reuse — see GraftKeyedScan.equals.
  // pruneDesc is part of the identity: a LIMIT/TopN prune changes the
  // planned file set at the same (root, version), and reuse must never
  // substitute a pruned scan for a full one.
  override def equals(other: Any): Boolean = other match {
    case o: GraftFlatScan =>
      root == o.root && plan.version == o.plan.version &&
        required == o.required && pushed.toSeq == o.pushed.toSeq &&
        pruneDesc == o.pruneDesc
    case _ => false
  }

  override def hashCode(): Int =
    (root, plan.version, required, pushed.toSeq, pruneDesc).hashCode()
}

object GraftFlatScan {
  private[catalog] val emptyKey = new GenericInternalRow(Array.empty[Any])

  def ifEligible(spark: SparkSession, root: String, version: Option[Long],
                 required: StructType, pushed: Array[Filter],
                 limitN: Option[Int] = None,
                 topN: Option[(String, Boolean, Boolean, Int)] = None): Option[Scan] = {
    val (ranges, points, nullProbes) = graft.io.VersionedRelation.translate(pushed)
    VersionedTable.flatBatchPlan(root, version, ranges, points, nullProbes)
      .map { p0 =>
        // hints are PARTIAL: Spark keeps its Limit/TopN above the scan, so
        // declining a prune (None) is always sound — never narrow on doubt
        val (p, tag) = topN match {
          case Some((col, desc, nullsFirst, n)) =>
            VersionedTable.topNPrune(spark, root, p0, col, desc, nullsFirst, n) match {
              case Some(pp) => (pp, s"PushedTopN: [${if (desc) "DESC" else "ASC"}" +
                s" $col${if (nullsFirst) " NULLS FIRST" else " NULLS LAST"}, limit=$n]")
              case None => (p0, "")
            }
          case None => limitN match {
            case Some(n) =>
              val pp = VersionedTable.limitPrune(p0, n)
              if (pp.files.size < p0.files.size) (pp, s"PushedLimit: [$n]")
              else (p0, "")
            case None => (p0, "")
          }
        }
        new GraftFlatScan(spark, root, p, required, pushed, tag)
      }
  }
}

