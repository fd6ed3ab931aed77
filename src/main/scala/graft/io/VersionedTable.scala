package graft.io

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Snapshot-versioned table on plain Parquet — the observable core of a
  * Delta/Iceberg-style table format, Spark-native and dependency-free.
  *
  * The reference's gold layer is Delta (codes/silverToGold.scala:26), but it
  * only exercises overwrite + re-read; `TableFormat` covers that. This layer
  * adds what a PRODUCTION lakehouse table additionally guarantees, using only
  * public, published design (the Delta/Iceberg commit-log idea): atomic
  * commits, snapshot-isolated reads, time travel, history-preserving
  * rollback, idempotent retry, and vacuum — with every guarantee carried by
  * METADATA operations, never by data rewrites.
  *
  * Layout:
  * {{{
  *   <root>/_commits/v<10-digit-version>.json   // one manifest per commit
  *   <root>/data/<version>-<commitId>/part-*.parquet
  * }}}
  *
  * A manifest lists the data DIRECTORIES composing its snapshot. Directories
  * are immutable once their manifest commits: an append manifest is
  * {parent dirs + the new dir}, an overwrite manifest is {the new dir} —
  * so append is O(new data) and overwrite never deletes inline (old dirs
  * stay until `vacuum`).
  *
  * Commit protocol (crash-safe in this order):
  *   1. write the data directory (invisible — no manifest references it yet);
  *   2. write the manifest to `_commits/.tmp-<uuid>`;
  *   3. atomically rename it to `v<N>.json` (POSIX rename; ATOMIC_MOVE).
  * A crash before (3) leaves an orphan data dir that readers can never see
  * and `vacuum` reclaims. Publication uses hard-link creation, not rename:
  * POSIX `rename(2)` silently REPLACES an existing target, but `link(2)`
  * fails atomically when the target exists — that failure IS the
  * optimistic-concurrency check: a concurrent committer that lost the race
  * re-reads the log and retries at N+1 — single-winner commits without any
  * lock service. (On object stores this step maps to the documented
  * put-if-absent primitive; on HDFS, to create-no-overwrite.)
  *
  * Idempotence: a commit carries a caller-supplied `commitId`; if any
  * manifest in the log already bears it, the commit is a no-op returning the
  * existing version — a driver retry after a timeout cannot double-append.
  *
  * 100 TB notes: readers resolve ONE manifest (a few KB) and scan exactly
  * the listed directories — no recursive listing of the table root, no
  * visibility race with concurrent writers, and a reader holds a consistent
  * snapshot for the lifetime of its DataFrame regardless of later commits.
  * Time travel and rollback are manifest pointer moves; vacuum is the only
  * operation that touches old data, and it only deletes dirs unreferenced
  * by every RETAINED manifest.
  */
object VersionedTable extends VersionedTableRefs with VersionedTableIndex {

  /** `stats`: per-dir min/max of integer columns, gathered at commit time —
    * the manifest-level data-skipping index (Iceberg-style). Keyed
    * dir → column → (min, max). Dirs without an entry are never skipped.
    * `strStats`: the same index for STRING columns (lexicographic UTF-8
    * min/max — the envelope a string-keyed MERGE/DELETE prunes on).
    * `partitionCols`: hive partition layout of every data dir in this
    * snapshot (uniform across a snapshot by construction — appends must
    * match their parent's layout).
    */
  /** `nameMap`: logical → PHYSICAL column names (Delta's column-mapping
    * idea) — data files, manifest schema, stats/bloom keys, and delete-set
    * key columns all live under PHYSICAL names (a column's name at first
    * commit); a RENAME is a metadata-only change to this map. Only
    * non-identity entries are stored; an empty map means logical =
    * physical (every pre-rename table).
    */
  /** `constraints`: named CHECK constraints (Delta's table-constraint
    * shape) — SQL boolean expressions over LOGICAL column names, enforced
    * on every batch that ADDS rows (append, overwrite, merge, CDC apply)
    * with SQL CHECK semantics (only FALSE violates; NULL passes). Carried
    * forward by every publish path; rollback restores the target's set.
    */
  /** `dirLayouts`: PARTITION EVOLUTION (Iceberg's partition-spec
    * evolution, at this log's dir granularity) — the hive layout of every
    * data dir whose layout DIFFERS from the snapshot's current
    * `partitionCols`. [[setPartitionLayout]] changes the declared layout
    * metadata-only: existing dirs keep their bytes and are recorded here
    * under their ORIGINAL layout; new appends land in the new layout;
    * copy-on-write rewrites and compaction emit survivors in the CURRENT
    * layout (Iceberg's rewrite rule), so entries retire dir by dir and a
    * full OPTIMIZE normalizes the table. Scans group dirs by layout era
    * and union the per-era scans under the declared schema.
    */
  /** `defaults`: COLUMN DEFAULT VALUES (the public Delta/Spark
    * default-value table feature) — column → foldable SQL expression,
    * declared by [[addColumnWithDefault]] as a metadata-only commit. Read
    * side: a dir whose files PREDATE the column (it is physically absent
    * there) backfills the DEFAULT instead of NULL — per-dir, so a
    * post-declaration writer's explicit NULL is never confused with a
    * missing slot. Write side: a batch LACKING the column materializes
    * the default (DEFAULT, not ALWAYS — a batch carrying values keeps
    * them). Time travel to a pre-default version reads NULL backfill,
    * era-correct.
    */
  /** `dropped`: PHYSICAL names of dropped columns (Delta's column-mapping
    * DROP COLUMN) — the manifest schema no longer declares them (scans
    * never read them: column pruning for free) but their slots persist
    * inside pre-drop data files, so an append re-ADDING one of these names
    * must be refused (old files' retired values would resurface as the new
    * column). Cleared by overwrite (replaces every file) and by compact
    * (rewrites every file under the post-drop schema — REORG PURGE).
    */
  final case class Commit(version: Long, commitId: String, mode: String, dirs: Seq[String],
                          stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
                          strStats: Map[String, Map[String, (String, String)]] = Map.empty,
                          partitionCols: Seq[String] = Nil,
                          blooms: Map[String, Seq[String]] = Map.empty,
                          schemaDdl: Option[String] = None,
                          committedAtMs: Long = 0L,
                          deletes: Map[String, Seq[String]] = Map.empty,
                          deleteKeys: Map[String, String] = Map.empty,
                          nameMap: Map[String, String] = Map.empty,
                          constraints: Map[String, String] = Map.empty,
                          dropped: Seq[String] = Nil,
                          generated: Map[String, String] = Map.empty,
                          nullCounts: Map[String, Map[String, (Long, Long)]] = Map.empty,
                          props: Map[String, String] = Map.empty,
                          identity: Map[String, (Long, Long, Long)] = Map.empty,
                          dirLayouts: Map[String, Seq[String]] = Map.empty,
                          defaults: Map[String, String] = Map.empty,
                          notNull: Seq[String] = Nil)

  private[io] val mapper = new ObjectMapper()

  /** Resolve a manifest data-dir / delete-set reference against the table
    * root. A reference starting with "/" is EXTERNAL — a SHALLOW CLONE's
    * by-reference pointer into its source table's storage ([[cloneTo]]);
    * everything else is the ordinary root-relative layout. Every read-path
    * site resolves through here; write paths never produce external names,
    * so a clone's own commits (appends, copy-on-write rewrites, compaction)
    * land under ITS root and the external references retire dir by dir as
    * the clone diverges.
    */
  private def dirPath(root: String, d: String): String =
    if (d.startsWith("/")) d else s"$root/$d"

  /** A data-dir name for ONE write attempt: version hint + commitId for
    * human tracing, plus a random suffix so the name is unique PER ATTEMPT
    * — two LIVE writers racing the same commitId (a speculative retry, a
    * split-brain driver) must never share a staging path, or their
    * commit-protocol temp files collide mid-write. Only the winner's dir
    * is ever referenced by a manifest; the loser's is an unreferenced
    * orphan that vacuum's age-gated sweep reclaims. Same scheme for MOR
    * delete sets.
    */
  private def attemptDirName(prefix: String, vHint: Long, commitId: String): String =
    f"$prefix/$vHint%010d-$commitId-${java.util.UUID.randomUUID.toString.take(8)}"

  private def commitsDir(root: String) = Paths.get(root, "_commits")

  private[io] def manifestPath(root: String, version: Long) =
    commitsDir(root).resolve(f"v$version%010d.json")

  private def writeJson(c: Commit): String = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("version", java.lang.Long.valueOf(c.version))
    m.put("commitId", c.commitId)
    m.put("mode", c.mode)
    m.put("dirs", c.dirs.asJava)
    if (c.stats.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      c.stats.toSeq.sortBy(_._1).foreach { case (dir, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (cName, (mn, mx)) =>
          cm.put(cName, Seq(java.lang.Long.valueOf(mn), java.lang.Long.valueOf(mx)).asJava)
        }
        sm.put(dir, cm)
      }
      m.put("stats", sm)
    }
    if (c.strStats.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      c.strStats.toSeq.sortBy(_._1).foreach { case (dir, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (cName, (mn, mx)) =>
          cm.put(cName, Seq(mn, mx).asJava)
        }
        sm.put(dir, cm)
      }
      m.put("strStats", sm)
    }
    if (c.nullCounts.nonEmpty) {
      // per-dir (nulls, rows) per indexed column — the IS [NOT] NULL
      // skipping index (Delta's nullCount stats)
      val sm = new java.util.LinkedHashMap[String, Object]()
      c.nullCounts.toSeq.sortBy(_._1).foreach { case (dir, cols) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cols.toSeq.sortBy(_._1).foreach { case (cName, (nulls, rows)) =>
          cm.put(cName, Seq(java.lang.Long.valueOf(nulls), java.lang.Long.valueOf(rows)).asJava)
        }
        sm.put(dir, cm)
      }
      m.put("nullCounts", sm)
    }
    if (c.partitionCols.nonEmpty) m.put("partitionCols", c.partitionCols.asJava)
    if (c.blooms.nonEmpty) {
      // column NAMES only — the bitmaps live in `_bloom_<col>` side files
      // inside each data dir, so manifest size stays O(dirs × cols) bytes no
      // matter how large the filters grow, and append commits inherit names,
      // never megabytes of hex
      val bm = new java.util.LinkedHashMap[String, Object]()
      c.blooms.toSeq.sortBy(_._1).foreach { case (dir, cols) =>
        bm.put(dir, cols.sorted.asJava)
      }
      m.put("blooms", bm)
    }
    val feats = featuresOf(c)
    if (feats.nonEmpty) m.put("features", feats.asJava)
    c.schemaDdl.foreach(d => m.put("schema", d))
    if (c.committedAtMs > 0) m.put("committedAt", java.lang.Long.valueOf(c.committedAtMs))
    if (c.deletes.nonEmpty) {
      val dm = new java.util.LinkedHashMap[String, Object]()
      c.deletes.toSeq.sortBy(_._1).foreach { case (dir, sets) => dm.put(dir, sets.asJava) }
      m.put("deletes", dm)
    }
    if (c.deleteKeys.nonEmpty) {
      val km = new java.util.LinkedHashMap[String, Object]()
      c.deleteKeys.toSeq.sortBy(_._1).foreach { case (set, k) => km.put(set, k) }
      m.put("deleteKeys", km)
    }
    if (c.nameMap.nonEmpty) {
      val nm = new java.util.LinkedHashMap[String, Object]()
      c.nameMap.toSeq.sortBy(_._1).foreach { case (log, phys) => nm.put(log, phys) }
      m.put("renames", nm)
    }
    if (c.constraints.nonEmpty) {
      val cm = new java.util.LinkedHashMap[String, Object]()
      c.constraints.toSeq.sortBy(_._1).foreach { case (name, sql) => cm.put(name, sql) }
      m.put("constraints", cm)
    }
    if (c.dropped.nonEmpty) m.put("dropped", c.dropped.sorted.asJava)
    if (c.generated.nonEmpty) {
      val gm = new java.util.LinkedHashMap[String, Object]()
      c.generated.toSeq.sortBy(_._1).foreach { case (n, e) => gm.put(n, e) }
      m.put("generated", gm)
    }
    if (c.props.nonEmpty) {
      val pm = new java.util.LinkedHashMap[String, Object]()
      c.props.toSeq.sortBy(_._1).foreach { case (k, v) => pm.put(k, v) }
      m.put("props", pm)
    }
    if (c.identity.nonEmpty) {
      val im = new java.util.LinkedHashMap[String, Object]()
      c.identity.toSeq.sortBy(_._1).foreach { case (col, (st, sp, nx)) =>
        im.put(col, java.util.Arrays.asList(java.lang.Long.valueOf(st),
          java.lang.Long.valueOf(sp), java.lang.Long.valueOf(nx)))
      }
      m.put("identity", im)
    }
    if (c.dirLayouts.nonEmpty) {
      val lm = new java.util.LinkedHashMap[String, Object]()
      c.dirLayouts.toSeq.sortBy(_._1).foreach { case (dir, lay) => lm.put(dir, lay.asJava) }
      m.put("dirLayouts", lm)
    }
    if (c.defaults.nonEmpty) {
      val dm = new java.util.LinkedHashMap[String, Object]()
      c.defaults.toSeq.sortBy(_._1).foreach { case (n, e) => dm.put(n, e) }
      m.put("defaults", dm)
    }
    if (c.notNull.nonEmpty) m.put("notNull", c.notNull.sorted.asJava)
    mapper.writeValueAsString(m)
  }

  /** The version comes from the FILENAME, not the JSON body: the slot a
    * manifest occupies is what the put-if-absent protocol made unique, so the
    * filename is authoritative — a body whose recorded version disagrees
    * (hand-edit, partial restore) cannot stall the next-slot computation.
    */
  /** Manifest JSON parses since JVM start — the observability hook that
    * lets a test PROVE snapshot reads and retry probes stay O(1) parses
    * no matter how long the log grows.
    */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Reader-feature gate (the public Delta protocol-versioning idea, in its
    * table-features form): each manifest RECORDS the feature set a correct
    * read of it depends on, and a reader refuses a manifest naming a
    * feature it does not implement — failing loudly instead of silently
    * misreading a table written by a newer engine (e.g. a pre-MOR reader
    * scanning covered dirs as if nothing were deleted, or a pre-clone
    * reader resolving an absolute reference under its own root). Features
    * are derived from manifest CONTENT at write time, so writers cannot
    * forget to declare one.
    */
  private[graft] val supportedReaderFeatures =
    Set("mor-deletes", "pos-deletes", "column-mapping", "external-refs",
        "dropped-columns", "generated-columns", "identity-columns",
        "partition-evolution", "column-defaults")

  private def featuresOf(c: Commit): Seq[String] = Seq(
    (c.deletes.nonEmpty || c.deleteKeys.nonEmpty) -> "mor-deletes",
    // positional vectors gate SEPARATELY from key sets: a key-MOR-only
    // reader would look a posdel set up in deleteKeys and fail usefully,
    // but the feature makes the refusal a declared contract, not an
    // accident of the error path
    c.deletes.valuesIterator.flatten.exists(isPosSet) -> "pos-deletes",
    c.nameMap.nonEmpty -> "column-mapping",
    (c.dirs.exists(_.startsWith("/")) ||
      c.deletes.valuesIterator.flatten.exists(_.startsWith("/"))) -> "external-refs",
    // a pre-dropcol WRITER would let an append resurrect a retired slot;
    // gate readers too (a reader is usually also a writer here), matching
    // Delta's stance that column-mapping tables gate both directions
    c.dropped.nonEmpty -> "dropped-columns",
    // a pre-generated-columns WRITER would append without materializing
    // the column; the gate fires on the log read every write starts with
    c.generated.nonEmpty -> "generated-columns",
    // a pre-identity WRITER would append without allocating (or with
    // colliding explicit values); gate like generated-columns
    c.identity.nonEmpty -> "identity-columns",
    // a pre-evolution reader would scan every dir under the CURRENT
    // layout, misreading old-era dirs' hive columns; a pre-evolution
    // WRITER would drop the registry from its next manifest
    c.dirLayouts.nonEmpty -> "partition-evolution",
    // a pre-defaults reader would NULL-backfill rows the table promises
    // carry the default; a pre-defaults WRITER would append without
    // materializing it
    c.defaults.nonEmpty -> "column-defaults"
  ).collect { case (true, f) => f }

  private def readManifest(p: java.nio.file.Path): Commit = {
    manifestParses.incrementAndGet()
    val n = mapper.readTree(Files.readString(p))
    val declared = Option(n.get("features"))
      .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
    val unknown = declared -- supportedReaderFeatures
    require(unknown.isEmpty,
      s"manifest $p requires reader feature(s) ${unknown.mkString(", ")} this engine " +
        "does not implement (written by a newer engine?); refusing to read rather " +
        "than misinterpret the table")
    val v = p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong
    val stats = Option(n.get("stats")).map { sn =>
      sn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { ce =>
          ce.getKey -> (ce.getValue.get(0).asLong(), ce.getValue.get(1).asLong())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, (Long, Long)]])
    val strStats = Option(n.get("strStats")).map { sn =>
      sn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { ce =>
          ce.getKey -> (ce.getValue.get(0).asText(), ce.getValue.get(1).asText())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, (String, String)]])
    val nullCounts = Option(n.get("nullCounts")).map { sn =>
      sn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { ce =>
          ce.getKey -> (ce.getValue.get(0).asLong(), ce.getValue.get(1).asLong())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, (Long, Long)]])
    val pcols = Option(n.get("partitionCols"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val blooms = Option(n.get("blooms")).map { bn =>
      bn.properties().asScala.flatMap { e =>
        // pre-side-file manifests (≤ r10) stored {dir: {col: hexBitmap}};
        // the current form is {dir: [colNames]}. An old OBJECT entry must be
        // DROPPED here, not parsed: reading its hex blobs as "column names"
        // would only disable skipping for this read, but a subsequent append
        // would re-serialize those hex strings into the new manifest as
        // bogus column-name arrays and poison every later snapshot. Dropping
        // the entry disables bloom skipping for that dir (safe — skipping is
        // an optimization, never a filter) and keeps the migration explicit.
        if (e.getValue.isObject) None
        else Some(e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq)
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    val deletes = Option(n.get("deletes")).map { dn =>
      dn.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    val deleteKeys = Option(n.get("deleteKeys")).map { kn =>
      kn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val nameMap = Option(n.get("renames")).map { nm =>
      nm.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val constraints = Option(n.get("constraints")).map { cn =>
      cn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val dropped = Option(n.get("dropped"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val generated = Option(n.get("generated")).map { gn =>
      gn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val props = Option(n.get("props")).map { pn =>
      pn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val identity = Option(n.get("identity")).map { in =>
      in.properties().asScala.map { e =>
        val a = e.getValue
        e.getKey -> ((a.get(0).asLong, a.get(1).asLong, a.get(2).asLong))
      }.toMap
    }.getOrElse(Map.empty[String, (Long, Long, Long)])
    val dirLayouts = Option(n.get("dirLayouts")).map { ln =>
      ln.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    val defaults = Option(n.get("defaults")).map { dn =>
      dn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val notNull = Option(n.get("notNull"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    Commit(v, n.get("commitId").asText(), n.get("mode").asText(),
      n.get("dirs").elements().asScala.map(_.asText()).toSeq, stats, strStats, pcols, blooms,
      Option(n.get("schema")).map(_.asText()),
      Option(n.get("committedAt")).map(_.asLong()).getOrElse(0L),
      deletes, deleteKeys, nameMap, constraints, dropped, generated, nullCounts,
      props, identity, dirLayouts, defaults, notNull)
  }

  /** Atomically publish manifest `c` into version slot `v`: write the full
    * content to a temp name, then hard-link it to the slot. `link(2)` fails
    * with EEXIST when the slot is taken (unlike `rename(2)`, which silently
    * replaces), so exactly one concurrent committer wins a slot. Returns
    * whether we won.
    */
  private[io] def publishIfAbsent(root: String, v: Long, c: Commit): Boolean = {
    val tmp = commitsDir(root).resolve(s".tmp-${java.util.UUID.randomUUID}")
    // the commit wall-time is stamped at PUBLISH (what TIMESTAMP AS OF
    // resolves against) — informational metadata, never part of any hash
    Files.write(tmp, writeJson(c.copy(committedAtMs = System.currentTimeMillis))
      .getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(manifestPath(root, v), tmp)
      maybeCheckpoint(root, v)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false // lost the race
    } finally Files.deleteIfExists(tmp)
  }

  private def versionOf(p: java.nio.file.Path): Long =
    p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toLong

  /** Committed manifest FILES, ascending by version — a directory listing
    * with ZERO JSON parses. Manifests are snapshot-complete, so almost
    * every operation needs the CONTENT of at most one or two of these;
    * listing is the only O(#commits) step the hot paths keep.
    */
  private def manifestFiles(root: String): Seq[java.nio.file.Path] = {
    val d = commitsDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.matches("v\\d{10}\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** All committed manifests, ascending by version — O(#commits) parses,
    * for the operations that genuinely need the whole log (history
    * inspection, vacuum). Snapshot reads and commit probes do NOT go
    * through here: they resolve via [[latestCommit]]/[[commitAt]] (one
    * parse) and [[findCommitVersion]] (checkpoint + tail).
    */
  def history(root: String): Seq[Commit] = manifestFiles(root).map(readManifest)

  /** DESCRIBE HISTORY (the public Delta observability verb, in derived
    * form): one row per commit — version, operation, commitId,
    * committedAt — plus OPERATION METRICS computed from each manifest's
    * DIFF against its parent: dirs added/removed, rows added/removed
    * (parquet footer counts of ONLY the touched dirs — O(touched files)
    * footer reads, zero Spark jobs, never O(table); an append's metric
    * cost is its own files, a metadata-only commit's is zero), and
    * merge-on-read deletion-vector rows added. A touched dir already
    * VACUUMED yields NULL row metrics for that commit instead of failing
    * the listing — dir/set counts still report, since they come from the
    * manifests alone. Served INCREMENTALLY from the checkpoint's
    * consolidated history section plus the post-checkpoint manifest tail
    * ([[historyEntries]]): one checkpoint parse + O(interval) tail
    * parses, instead of the full-log O(n²)-JSON walk it used to cost at
    * depth-n tables.
    */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.newHadoopConf()
    val entries = historyEntries(root)
    def cnt(dirs: Seq[String]): Option[Long] =
      if (dirs.exists(d => !new File(dirPath(root, d)).isDirectory)) None
      else Some(dirs.map(d => dirRowCount(conf, dirPath(root, d))).sum)
    val rows: Seq[org.apache.spark.sql.Row] =
      entries.map { e =>
        org.apache.spark.sql.Row(
          e.version, e.mode, e.commitId,
          if (e.atMs > 0) java.lang.Long.valueOf(e.atMs) else null,
          e.added.size, e.removed.size,
          cnt(e.added).map(java.lang.Long.valueOf).orNull,
          cnt(e.removed).map(java.lang.Long.valueOf).orNull,
          cnt(e.newSets).map(java.lang.Long.valueOf).orNull)
      }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("commit_id", StringType, nullable = false),
      StructField("committed_at", LongType, nullable = true),
      StructField("dirs_added", IntegerType, nullable = false),
      StructField("dirs_removed", IntegerType, nullable = false),
      StructField("rows_added", LongType, nullable = true),
      StructField("rows_removed", LongType, nullable = true),
      StructField("dv_rows_added", LongType, nullable = true))))
  }

  /** DESCRIBE DETAIL (Delta's one-row table-summary verb): deterministic
    * snapshot facts — format, version, dir/file/row counts (parquet FOOTER
    * counts, O(#files) driver reads, zero Spark jobs), logical partition
    * columns, logical column list, declared reader features, constraint /
    * generated-column counts, and the pending merge-on-read debt
    * ([[morStatus]]'s sets/keys, from set-dir footers). Byte sizes are
    * deliberately ABSENT: they vary with codec and encoder details, which
    * would make the verb non-replayable cross-engine; counts are the
    * stable capacity facts an operator alerts on. `num_rows` is the
    * footer total BEFORE deletion vectors — pair it with
    * `mor_keys_pending` for the net view, exactly the split [[morStatus]]
    * documents. Honors time travel via `asOf`.
    */
  def describeDetail(spark: SparkSession, root: String,
                     asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    val conf = spark.sessionState.newHadoopConf()
    val inv = c.nameMap.map(_.swap)
    val nFiles = c.dirs.map(d => parquetFiles(dirPath(root, d)).size).sum
    val nRows = c.dirs.map(d => dirRowCount(conf, dirPath(root, d))).sum
    val sets = c.deletes.values.flatten.toSet.toSeq.sorted
    val morKeys = sets.map(sn => dirRowCount(conf, dirPath(root, sn))).sum
    val row = org.apache.spark.sql.Row(
      "graft-versioned", c.version, c.dirs.size, nFiles, nRows,
      c.partitionCols.map(p => inv.getOrElse(p, p)),
      logicalCols(c),
      featuresOf(c),
      c.constraints.size, c.generated.size,
      c.deletes.count(_._2.nonEmpty), sets.size, morKeys)
    spark.createDataFrame(java.util.Arrays.asList(row), StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("num_dirs", IntegerType, nullable = false),
      StructField("num_files", IntegerType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("partition_columns", ArrayType(StringType), nullable = false),
      StructField("columns", ArrayType(StringType), nullable = false),
      StructField("features", ArrayType(StringType), nullable = false),
      StructField("num_constraints", IntegerType, nullable = false),
      StructField("num_generated", IntegerType, nullable = false),
      StructField("mor_dirs_covered", IntegerType, nullable = false),
      StructField("mor_sets_pending", IntegerType, nullable = false),
      StructField("mor_keys_pending", LongType, nullable = false))))
  }

  /** Per-file inventory of a snapshot (Iceberg's `files` metadata table):
    * one row per live data file with its byte size, its footer row count
    * (from the dir's `_filestats` side file — NULL for pre-filestats or
    * stats-less commits: unknown, never zero), and its skipping-index
    * envelope rendered as a sorted `col:[min,max]` list (empty when the
    * dir carries no index). Driver-side O(#files) directory listing +
    * O(#dirs) side-file reads, zero parquet footer opens, zero Spark
    * jobs — the debugging surface for skew, small files, and "why didn't
    * this predicate skip" questions at any scale.
    */
  def describeFiles(spark: SparkSession, root: String,
                    asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    val rows = c.dirs.flatMap { d =>
      val dp = dirPath(root, d)
      val fs = readFileStats(dp).getOrElse(Map.empty)
      val fr = readFileRows(dp)
      parquetFiles(dp).map { rel =>
        val env = fs.getOrElse(rel, Map.empty[String, MinMax]).toSeq.sortBy(_._1)
          .map {
            case (col, IntMM(mn, mx)) => s"$col:[$mn,$mx]"
            case (col, StrMM(mn, mx)) => s"$col:[$mn,$mx]"
          }.mkString(";")
        org.apache.spark.sql.Row(d, rel, Files.size(Paths.get(dp, rel)),
          fr.get(rel).map(java.lang.Long.valueOf).orNull, env)
      }
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("dir", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("envelope", StringType, nullable = false))))
  }

  /** The latest committed manifest with exactly ONE parse: list the log
    * dir, pick the last slot, parse it. Manifests are snapshot-complete
    * (each lists its full dir set and carries its stats/blooms/deletes),
    * so this is ALL a snapshot read needs — at a years-old table with
    * 10^5 commits the difference vs parsing the whole log is the
    * difference between a bounded driver cost and one that grows without
    * bound.
    */
  def latestCommit(root: String): Option[Commit] =
    manifestFiles(root).lastOption.map(readManifest)

  /** The manifest occupying version slot `v`, with exactly one parse —
    * the slot IS the filename, so time travel never scans the log.
    */
  def commitAt(root: String, v: Long): Option[Commit] = {
    val p = manifestPath(root, v)
    if (Files.isRegularFile(p)) Some(readManifest(p)) else None
  }

  /** The snapshot a read resolves: latest (one parse) or an explicit
    * version (one parse, direct slot lookup). Fails loudly on an empty
    * log or a never-committed/vacuumed version.
    */
  private[io] def resolveSnapshot(root: String, asOf: Option[Long]): Commit = asOf match {
    case None => latestCommit(root).getOrElse(sys.error(s"no commits at $root"))
    case Some(v) => commitAt(root, v)
      .getOrElse(sys.error(s"version $v not in log at $root"))
  }

  def latestVersion(root: String): Option[Long] =
    manifestFiles(root).lastOption.map(versionOf)

  // ---- commitId checkpoint index (the Delta `_last_checkpoint` idea) ---

  /** Every `ckptInterval` commits, a `ckpt-v<N>.json` file consolidates
    * the commitId → version index of ALL commits ≤ N. An idempotent-retry
    * probe then costs one checkpoint parse plus at most `ckptInterval`
    * tail-manifest parses — O(1) amortized — instead of JSON-parsing the
    * entire log, which was the last driver-side cost that grew without
    * bound. Checkpoints are written best-effort AFTER a successful publish
    * (a missed one only means the next multiple writes it); publication is
    * the same temp + hard-link put-if-absent as manifests, so concurrent
    * committers cannot tear one. The index also OUTLIVES vacuumed
    * manifests, so a very late retry of a long-superseded commit still
    * no-ops instead of double-applying — and vacuum FORCES a consolidating
    * checkpoint before it drops any manifest, so commits that predate the
    * first interval multiple are covered too.
    */
  private val ckptInterval = 10L

  private[io] def ckptFiles(root: String): Seq[java.nio.file.Path] = {
    val d = commitsDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.matches("ckpt-v\\d{10}\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  private def ckptVersionOf(p: java.nio.file.Path): Long =
    p.getFileName.toString.stripPrefix("ckpt-v").stripSuffix(".json").toLong

  /** Latest checkpoint as (covered-through version, commitId → version). */
  private def latestCheckpoint(root: String): Option[(Long, Map[String, Long])] =
    ckptFiles(root).lastOption.map { p =>
      val n = mapper.readTree(Files.readString(p))
      val ids = n.get("commitIds").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
      (ckptVersionOf(p), ids)
    }

  /** The version bearing `commitId`, if one committed — the idempotence
    * probe every verb opens with. Checkpoint lookup first (zero manifest
    * parses on a hit), then parse only the POST-checkpoint tail: O(1)
    * amortized, never O(#commits).
    */
  def findCommitVersion(root: String, commitId: String): Option[Long] = {
    val ck = latestCheckpoint(root)
    ck.flatMap(_._2.get(commitId)).orElse {
      val from = ck.map(_._1).getOrElse(0L)
      manifestFiles(root).iterator.filter(versionOf(_) > from)
        .map(readManifest).find(_.commitId == commitId).map(_.version)
    }
  }

  private[io] def writeCheckpointAt(root: String, v: Long): Unit =
    try {
      val target = commitsDir(root).resolve(f"ckpt-v$v%010d.json")
      if (!Files.exists(target)) {
        val ck = latestCheckpoint(root)
        val from = ck.map(_._1).getOrElse(0L)
        val base = ck.map(_._2).getOrElse(Map.empty[String, Long])
        // only the gap since the previous checkpoint parses — ≤ interval
        // on the commit path, ≤ #retained on the vacuum path
        val gap = manifestFiles(root)
          .filter(p => versionOf(p) > from && versionOf(p) <= v).map(readManifest)
        val ids = base ++ gap.map(c => c.commitId -> c.version)
        val m = new java.util.LinkedHashMap[String, Object]()
        val im = new java.util.LinkedHashMap[String, Object]()
        ids.toSeq.sortBy(t => (t._2, t._1)).foreach { case (cid, ver) =>
          im.put(cid, java.lang.Long.valueOf(ver))
        }
        m.put("commitIds", im)
        // consolidated DESCRIBE HISTORY facts: previous section + the gap's
        // diffs (each O(diff), so the section grows O(#dirs-ever), never
        // the O(n²) of n snapshot-complete manifests); a pre-history
        // checkpoint upgrades with one full derivation here
        val hist: Seq[HistEntry] = ckptHistory(root) match {
          case Some((pv, h)) => h ++ diffEntries(commitAt(root, pv), gap)
          case None => diffEntries(None,
            manifestFiles(root).filter(versionOf(_) <= v).map(readManifest))
        }
        val ha = new java.util.ArrayList[Object]()
        hist.sortBy(_.version).foreach { e =>
          val em = new java.util.LinkedHashMap[String, Object]()
          em.put("v", java.lang.Long.valueOf(e.version))
          em.put("mode", e.mode)
          em.put("cid", e.commitId)
          em.put("at", java.lang.Long.valueOf(e.atMs))
          def put(f: String, xs: Seq[String]): Unit = {
            val a = new java.util.ArrayList[Object](); xs.foreach(a.add); em.put(f, a)
          }
          put("add", e.added); put("rem", e.removed); put("dv", e.newSets)
          ha.add(em)
        }
        m.put("history", ha)
        val tmp = commitsDir(root).resolve(s".tmp-ckpt-${java.util.UUID.randomUUID}")
        Files.write(tmp, mapper.writeValueAsString(m).getBytes(StandardCharsets.UTF_8))
        try Files.createLink(target, tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally Files.deleteIfExists(tmp)
      }
    } catch {
      // best-effort: a failed checkpoint must never fail the commit that
      // triggered it — the next interval multiple simply rebuilds it
      case _: java.io.IOException => ()
    }

  private def maybeCheckpoint(root: String, v: Long): Unit =
    if (v % ckptInterval == 0) writeCheckpointAt(root, v)

  // ---- checkpointed history (incremental DESCRIBE HISTORY) -------------

  /** One DESCRIBE HISTORY row's manifest-derived facts: the per-commit
    * DIFF (dir names added/removed, new delete sets) — O(diff) per
    * commit, not the O(snapshot) a full manifest carries. Row counts are
    * NOT stored: they come from parquet footers at query time, so a
    * vacuum between checkpoint and query still yields honest NULLs.
    */
  final case class HistEntry(version: Long, mode: String, commitId: String,
                             atMs: Long, added: Seq[String],
                             removed: Seq[String], newSets: Seq[String])

  private def diffEntries(parent0: Option[Commit], cs: Seq[Commit]): Seq[HistEntry] =
    cs.zip(parent0 +: cs.map(Option(_))).map { case (c, parent) =>
      val parentDirs = parent.map(_.dirs).getOrElse(Nil)
      val added = c.dirs.filterNot(parentDirs.toSet.contains)
      val removed = parentDirs.filterNot(c.dirs.toSet.contains)
      val parentSets = parent.map(_.deletes.valuesIterator.flatten.toSet)
        .getOrElse(Set.empty[String])
      val newSets = (c.deletes.valuesIterator.flatten.toSet -- parentSets).toSeq.sorted
      HistEntry(c.version, c.mode, c.commitId, c.committedAtMs, added, removed, newSets)
    }

  /** The checkpoint's consolidated history section, if the latest
    * checkpoint carries one (checkpoints written before this feature
    * lack it — readers fall back to the full derivation, and the next
    * interval multiple upgrades the file).
    */
  private def ckptHistory(root: String): Option[(Long, Seq[HistEntry])] =
    ckptFiles(root).lastOption.flatMap { p =>
      val n = mapper.readTree(Files.readString(p))
      Option(n.get("history")).map { hn =>
        val entries = hn.elements().asScala.map { e =>
          def names(f: String): Seq[String] =
            Option(e.get(f)).map(_.elements().asScala.map(_.asText()).toSeq)
              .getOrElse(Nil)
          HistEntry(e.get("v").asLong(), e.get("mode").asText(),
            e.get("cid").asText(), e.get("at").asLong(),
            names("add"), names("rem"), names("dv"))
        }.toSeq
        (ckptVersionOf(p), entries)
      }
    }

  /** Every commit's history facts, CHEAPLY: checkpointed prefix + the
    * post-checkpoint manifest tail (diffed against the one boundary
    * manifest) — one checkpoint parse plus O(interval) manifest parses
    * at any log depth. Without a history-bearing checkpoint this is the
    * classic full derivation. Entries for versions whose manifests a
    * vacuum already dropped are filtered, so the listing matches what
    * the log itself can still show.
    */
  private[graft] def historyEntries(root: String): Seq[HistEntry] = {
    val all = ckptHistory(root) match {
      case Some((cv, hist)) =>
        val tail = manifestFiles(root).filter(versionOf(_) > cv).map(readManifest)
        hist ++ diffEntries(commitAt(root, cv), tail)
      case None => diffEntries(None, history(root))
    }
    val minV = manifestFiles(root).headOption.map(versionOf).getOrElse(Long.MaxValue)
    all.filter(_.version >= minV)
  }

  // ---- column rename (logical → physical name mapping) -----------------

  /** The physical storage name of a (logical) column in snapshot `c`. */
  private def physName(c: Commit, colName: String): String =
    c.nameMap.getOrElse(colName, colName)

  /** Rename an input frame's columns logical → physical before anything is
    * written or joined. A NEW column whose logical name equals the physical
    * storage name of a DIFFERENT (renamed) column is refused loudly: our
    * physical names are first-commit names, so such an add would make two
    * logical columns share one physical slot.
    */
  private def toPhysicalDf(c: Commit, df: DataFrame): DataFrame = {
    if (c.nameMap.isEmpty) return df
    val owner = c.nameMap.map(_.swap) // physical → logical
    df.columns.foreach { n =>
      if (!c.nameMap.contains(n))
        owner.get(n).filter(_ != n).foreach(o => sys.error(
          s"column name '$n' collides with the physical storage name of renamed " +
            s"column '$o'; pick a different name"))
    }
    df.select(df.columns.map(n =>
      org.apache.spark.sql.functions.col(n).as(c.nameMap.getOrElse(n, n))).toSeq: _*)
  }

  /** Rename a scanned frame's columns physical → logical — the LAST step
    * of every public read path. Identity when the snapshot has no renames.
    */
  private def toLogicalDf(c: Commit, df: DataFrame): DataFrame = {
    if (c.nameMap.isEmpty) return df
    val inv = c.nameMap.map(_.swap)
    df.select(df.columns.map(n =>
      org.apache.spark.sql.functions.col(n).as(inv.getOrElse(n, n))).toSeq: _*)
  }

  /** The snapshot's LOGICAL column names (physical schema read through the
    * name mapping).
    */
  private def logicalCols(c: Commit): Seq[String] = {
    val inv = c.nameMap.map(_.swap)
    c.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
      .map(_.fieldNames.toSeq.map(n => inv.getOrElse(n, n))).getOrElse(Nil)
  }

  /** COLUMN RENAME as a METADATA-ONLY commit (the public Delta
    * column-mapping design; Iceberg reaches the same end with field ids):
    * data files keep their PHYSICAL names forever, the manifest's
    * logical→physical map changes, and every dir — old and new — reads
    * through the mapping. Zero data rewrites at any table size; time
    * travel to a pre-rename version shows pre-rename names because each
    * manifest carries its own map. Refused loudly: unknown source column,
    * already-taken target name, and hive PARTITION columns (their physical
    * name is baked into every directory path). Type changes remain the
    * job schema evolution refuses — a rename can never alias one.
    * Idempotent under `commitId`; manifest-only OCC retry like rollback.
    */
  /** Enforce CHECK constraints on a LOGICAL batch with SQL CHECK semantics:
    * a row violates only when the expression evaluates FALSE (NULL passes,
    * like every SQL engine's CHECK). One bounded action per constraint —
    * `filter(violation).limit(1)` — so the cost is O(batch) scans that
    * short-circuit at the first offender, and the refusal names the
    * constraint and prints the row.
    */
  /** Materialize GENERATED columns on a write batch: absent columns are
    * computed from their declared expressions; present columns are
    * equality-enforced (one bounded short-circuiting action each, the
    * enforceConstraints pattern), so stored data can never contradict a
    * declaration whichever write verb carried it.
    */
  private def materializeGenerated(gens: Map[String, String], batch: DataFrame,
                                   op: String): DataFrame =
    if (gens.isEmpty) batch
    else gens.toSeq.sortBy(_._1).foldLeft(batch) { case (d, (name, sql)) =>
      import org.apache.spark.sql.functions.{expr, not}
      if (!d.columns.contains(name)) d.withColumn(name, expr(sql))
      else {
        val bad = d.filter(not(d(name) <=> expr(sql))).limit(1).collect()
        require(bad.isEmpty, s"$op: generated column '$name' ($sql) " +
          s"disagrees with supplied value on row ${bad.headOption.orNull}")
        d
      }
    }

  private def enforceConstraints(cs: Map[String, String], batch: DataFrame,
                                 op: String): Unit =
    cs.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      import org.apache.spark.sql.functions.expr
      // a constraint referencing a column ABSENT from the batch (an
      // overwrite dropping a constrained column, a NOT NULL column the
      // batch omits) must refuse with the constraint's name, not a raw
      // analyzer resolution error
      val bad = try batch.filter(expr(sql) === false).limit(1).collect()
        catch { case e: org.apache.spark.sql.AnalysisException =>
          // a NOT NULL invariant surfaces as a SYNTHESIZED '<col>_not_null'
          // check — DROP CONSTRAINT cannot find it; point at the verb that
          // actually retires it
          val fix = if (name.endsWith("_not_null"))
            s"ALTER COLUMN ${name.stripSuffix("_not_null")} DROP NOT NULL first"
          else "drop the constraint first"
          sys.error(
            s"$op: CHECK constraint '$name' ($sql) references columns the batch " +
              s"does not carry — $fix, or supply the column " +
              s"(${e.getMessage.linesIterator.nextOption().getOrElse("")})") }
      require(bad.isEmpty,
        s"$op: CHECK constraint '$name' ($sql) violated by row ${bad.headOption.orNull}")
    }

  /** Declared NOT NULL columns as implicit CHECK predicates — merged into
    * every row-adding verb's constraint enforcement, so real nullability
    * rides the exact machinery CHECK invariants already proved (validated
    * pre-publish, surviving overwrite, time-travelable). IDENTITY columns
    * are excluded: the check runs before the allocator fills them, and an
    * allocated value is never NULL by construction.
    */
  private def notNullChecks(c: Commit): Map[String, String] =
    c.notNull.filterNot(c.identity.contains)
      .map(n => s"${n}_not_null" -> s"$n IS NOT NULL").toMap

  /** The full enforcement set of a snapshot: named CHECK constraints plus
    * the NOT NULL invariants. Every row-adding verb enforces THIS.
    */
  private def effectiveChecks(c: Commit): Map[String, String] =
    c.constraints ++ notNullChecks(c)

  /** Add a named CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT):
    * validates the EXISTING snapshot first — one scan, short-circuiting at
    * the first violating row, exactly Delta's semantics (you cannot
    * constrain a table that already violates it) — then publishes a
    * metadata-only commit carrying the widened constraint set. Every
    * subsequent row-adding write (append, overwrite, merge, CDC apply,
    * streaming sinks through them) enforces it on the incoming batch
    * before any data lands. Idempotent under commitId retry.
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    sqlExpr: String, commitId: String): Long =
    metadataCommit(root, commitId, addConstraintOp(spark, root, name, sqlExpr))

  /** The ADD CONSTRAINT snapshot transform ([[alterAtomic]]-composable):
    * the snapshot must already satisfy the constraint — validated against
    * the attempt's parent; an OCC retry re-validates the new snapshot.
    */
  def addConstraintOp(spark: SparkSession, root: String, name: String,
                      sqlExpr: String): Commit => Commit = { parent =>
    require(!parent.constraints.contains(name),
      s"addConstraint: constraint '$name' already exists " +
        s"(${parent.constraints(name)})")
    enforceConstraints(Map(name -> sqlExpr),
      read(spark, root, asOf = Some(parent.version)), "addConstraint")
    parent.copy(mode = "constraint",
      constraints = parent.constraints + (name -> sqlExpr))
  }

  /** The ALTER COLUMN ... SET/DROP NOT NULL snapshot transform
    * ([[alterAtomic]]-composable) — the verb that makes a CREATE-time (or
    * CTAS-inherited) NOT NULL invariant REMOVABLE: DROP NOT NULL is a
    * metadata-only removal (no-op fold if the column never carried the
    * invariant — nothing publishes); SET NOT NULL validates the parent
    * snapshot first, exactly like ADD CONSTRAINT, so an existing NULL
    * refuses before anything publishes.
    */
  def setColumnNullability(spark: SparkSession, root: String, name: String,
                           nullable: Boolean, commitId: String): Long =
    metadataCommit(root, commitId, setColumnNullabilityOp(spark, root, name, nullable))

  def setColumnNullabilityOp(spark: SparkSession, root: String, name: String,
                             nullable: Boolean): Commit => Commit = { parent =>
    require(parent.schemaDdl.isEmpty || logicalCols(parent).contains(name),
      s"setColumnNullability: unknown column '$name' " +
        s"(snapshot columns: ${logicalCols(parent).mkString(", ")})")
    if (nullable)
      parent.copy(mode = "constraint",
        notNull = parent.notNull.filterNot(_ == name))
    else {
      if (parent.dirs.nonEmpty)
        enforceConstraints(Map(s"${name}_not_null" -> s"$name IS NOT NULL"),
          read(spark, root, asOf = Some(parent.version)), "setColumnNullability")
      parent.copy(mode = "constraint",
        notNull = (parent.notNull :+ name).distinct.sorted)
    }
  }

  /** Drop a named CHECK constraint — metadata-only, idempotent under
    * commitId retry; unknown names refuse loudly.
    */
  def dropConstraint(root: String, name: String, commitId: String): Long =
    metadataCommit(root, commitId, dropConstraintOp(name))

  /** The DROP CONSTRAINT snapshot transform ([[alterAtomic]]-composable). */
  def dropConstraintOp(name: String): Commit => Commit = { parent =>
    require(parent.constraints.contains(name),
      s"dropConstraint: unknown constraint '$name' " +
        s"(defined: ${parent.constraints.keys.toSeq.sorted.mkString(", ")})")
    parent.copy(mode = "constraint", constraints = parent.constraints - name)
  }

  // ---- metadata-commit plumbing ----------------------------------------

  /** ONE manifest-only commit under the standard OCC loop: re-read the
    * latest parent each attempt, apply `f` (validations + snapshot
    * transform — every refusal throws HERE, before anything publishes),
    * stamp version/commitId, publish-if-absent. All metadata verbs
    * (rename/drop/widen/properties) and the atomic multi-change ALTER
    * ([[alterAtomic]]) commit through this helper, so "validate fully,
    * then publish exactly once" holds uniformly. Idempotent under
    * commitId retry like every other verb — with ONE documented
    * weakening: a transform that is a semantic NO-OP (DROP CONSTRAINT IF
    * EXISTS on an absent name) publishes nothing, so its commitId is
    * never recorded, and a crash-retry AFTER an intervening commit
    * re-executes the transform against the NEW parent (the no-op could
    * now be a real drop). That is the correct reading of IF EXISTS — the
    * retry observes the current state, exactly as re-issuing the
    * statement would — and the alternative (a zero-delta marker version
    * per no-op) would let idempotence probes flood history with
    * meaningless versions. Verbs that must never re-execute publish a
    * real delta and get the strong contract automatically.
    */
  private def metadataCommit(root: String, commitId: String,
                             f: Commit => Commit): Long =
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        var out = -1L
        while (out < 0) {
          val parent = latestCommit(root)
            .getOrElse(sys.error(s"metadata commit: no commits at $root"))
          val next0 = f(parent)
          // a transform returning the parent UNCHANGED is a semantic
          // no-op (DROP CONSTRAINT IF EXISTS on an absent name): publish
          // nothing — history must not gain a meaningless version
          if (next0 == parent) out = parent.version
          else {
            val v = parent.version + 1
            if (publishIfAbsent(root, v, next0.copy(version = v, commitId = commitId)))
              out = v
          }
        }
        out
    }

  /** Atomic multi-change ALTER (the DSv2 `alterTable(ident, changes*)`
    * contract done right): fold EVERY change's validated transform over
    * one parent snapshot inside one OCC attempt and publish ONE commit.
    * Any change refusing — unknown column, non-widening type, guarded
    * reference — throws before the publish, so a statement mixing a valid
    * property set with an invalid structural change leaves the log
    * UNTOUCHED (a partially-applied ALTER is worse than a refused one).
    * COMPOSITION CONTRACT: [[addConstraintOp]] validates existing rows
    * against the attempt's PARENT snapshot, not the folded intermediate —
    * composers must not fold it after a structural change (rename, drop,
    * widen, add-column) in the same statement; the DSv2 catalog refuses
    * that mix up front ([[graft.catalog.GraftCatalog.alterTable]]), and a
    * constraint referencing a column the fold itself introduced refuses
    * inside enforcement (the column is absent from the parent's rows).
    * A HOMOGENEOUS statement keeps its changes' specific mode string
    * (`rename`/`dropcol`/`widen`/`properties` — Spark emits one
    * SetProperty change per key, so a plain multi-key SET TBLPROPERTIES
    * still reads as `properties` in history); only a genuinely mixed
    * statement lands as mode `alter`.
    */
  def alterAtomic(root: String, ops: Seq[Commit => Commit], commitId: String): Long = {
    require(ops.nonEmpty, "alterAtomic: empty change list")
    metadataCommit(root, commitId, parent => {
      val modes = Seq.newBuilder[String]
      val folded = ops.foldLeft(parent) { (c, op) =>
        val next = op(c); modes += next.mode; next
      }
      val ms = modes.result()
      if (ms.distinct.size == 1) folded
      else folded.copy(mode = "alter")
    })
  }

  // ---- table properties (Delta's TBLPROPERTIES) -------------------------

  /** SET TBLPROPERTIES — a metadata-only commit updating the table's
    * free-form key → value registry (Delta's ALTER TABLE SET
    * TBLPROPERTIES): retention policy, ownership, pipeline configuration —
    * anything an operator wants VERSIONED with the table. Existing keys
    * overwrite; the registry is carried by every publish path (rewrites,
    * compaction, clone; rollback restores the TARGET's properties with the
    * rest of its snapshot state) and is time-travelable like any manifest
    * field. Idempotent under commitId retry.
    */
  def setTableProperties(root: String, kvs: Map[String, String],
                         commitId: String): Long =
    metadataCommit(root, commitId, setPropertiesOp(kvs))

  /** The SET TBLPROPERTIES snapshot transform — composable into an atomic
    * multi-change ALTER ([[alterAtomic]]). Engine-interpreted keys
    * validate here (inside the OCC attempt, before any publish) — a
    * typo'd value would otherwise silently disable the behavior it
    * promises.
    */
  /** Parse a `graft.write.orderedBy` value into (column, ascending)
    * entries — the Iceberg sort-order spelling: `c1, c2 DESC, c3 ASC`
    * (direction optional, ASC default, case-insensitive). The ONE parser
    * every consumer (ingest, compaction, the DSv2 row-level writers, DDL
    * validation) goes through, so a malformed entry refuses identically
    * everywhere.
    */
  private[graft] def parseWriteOrder(v: String): Seq[(String, Boolean)] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { e =>
      val parts = e.split("\\s+")
      require(parts.length <= 2 && (parts.length == 1 ||
          parts(1).equalsIgnoreCase("asc") || parts(1).equalsIgnoreCase("desc")),
        s"graft.write.orderedBy: malformed entry '$e' (expected '<col> [ASC|DESC]')")
      (parts(0), parts.length < 2 || !parts(1).equalsIgnoreCase("desc"))
    }

  /** The declared write order of a snapshot, parsed; Nil when none. */
  private[graft] def writeOrderOf(props: Map[String, String]): Seq[(String, Boolean)] =
    props.get("graft.write.orderedBy").map(parseWriteOrder).getOrElse(Nil)

  def setPropertiesOp(kvs: Map[String, String]): Commit => Commit = { parent =>
    require(kvs.nonEmpty, "setTableProperties: empty property map")
    kvs.get("graft.autoCompact.minDirs").foreach(v =>
      require(v.toIntOption.exists(_ >= 2),
        s"graft.autoCompact.minDirs must be an integer >= 2, got '$v'"))
    kvs.get("graft.autoCompact.target").foreach(v =>
      require(v.toIntOption.exists(_ >= 1),
        s"graft.autoCompact.target must be an integer >= 1, got '$v'"))
    kvs.get("graft.autoCompact.targetBytes").foreach(v =>
      require(v.toLongOption.exists(_ >= 1L),
        s"graft.autoCompact.targetBytes must be a byte count >= 1, got '$v'"))
    kvs.get("graft.autoCompact.zorder").foreach(v =>
      require(v.split(",").map(_.trim).count(_.nonEmpty) >= 2,
        s"graft.autoCompact.zorder must name >= 2 comma-separated columns, got '$v'"))
    kvs.get("graft.autoCompact.curve").foreach(v =>
      require(v == "morton" || v == "hilbert",
        s"graft.autoCompact.curve must be 'morton' or 'hilbert', got '$v'"))
    kvs.get("graft.vacuum.retainLast").foreach(v =>
      require(v.toIntOption.exists(_ >= 1),
        s"graft.vacuum.retainLast must be an integer >= 1, got '$v'"))
    kvs.get("graft.vacuum.olderThanDays").foreach(v =>
      require(v.toDoubleOption.exists(_ > 0),
        s"graft.vacuum.olderThanDays must be a positive number of days, got '$v'"))
    kvs.get("graft.write.clusterByKeys").foreach(v =>
      require(v == "true" || v == "false",
        s"graft.write.clusterByKeys must be 'true' or 'false', got '$v'"))
    kvs.get("graft.write.orderedBy").foreach { v =>
      val cols = parseWriteOrder(v).map(_._1)
      require(cols.nonEmpty,
        s"graft.write.orderedBy must name >= 1 comma-separated columns, got '$v'")
      // validate against the declared schema when one exists — a typo'd
      // column must refuse at DDL, not at the first write
      parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
        .foreach { sch =>
          val missing = cols.filterNot(c => sch.fieldNames.contains(physName(parent, c)))
          require(missing.isEmpty,
            s"graft.write.orderedBy names unknown column(s) ${missing.mkString(", ")} " +
              s"(schema: ${sch.fieldNames.mkString(", ")})")
        }
    }
    parent.copy(mode = "properties", props = parent.props ++ kvs)
  }

  /** UNSET TBLPROPERTIES — metadata-only removal; unknown keys refuse
    * loudly (a typo must not silently "succeed"). */
  def unsetTableProperties(root: String, keys: Seq[String], commitId: String): Long =
    metadataCommit(root, commitId, unsetPropertiesOp(keys))

  /** The UNSET TBLPROPERTIES snapshot transform ([[alterAtomic]]-composable). */
  def unsetPropertiesOp(keys: Seq[String]): Commit => Commit = { parent =>
    require(keys.nonEmpty, "unsetTableProperties: empty key list")
    val missing = keys.filterNot(parent.props.contains)
    require(missing.isEmpty,
      s"unsetTableProperties: unknown propert${if (missing.size == 1) "y" else "ies"} " +
        s"${missing.mkString(", ")} (set: ${parent.props.keys.toSeq.sorted.mkString(", ")})")
    parent.copy(mode = "properties", props = parent.props -- keys)
  }

  /** The property registry of the latest (or pinned) snapshot. */
  def tableProperties(root: String, asOf: Option[Long] = None): Map[String, String] =
    resolveSnapshot(root, asOf).props

  // ---- partition evolution (Iceberg's partition-spec evolution) ----------

  /** SET PARTITIONED BY — change the table's hive layout METADATA-ONLY
    * (the Iceberg partition-evolution idea: the partition spec is table
    * metadata, not a property of the bytes). Not one data byte moves:
    * every existing dir is recorded in `dirLayouts` under the layout it
    * was WRITTEN with, the manifest's `partitionCols` becomes `newCols`,
    * and from this commit on
    *
    *  - appends must supply (and land in) the NEW layout,
    *  - scans union the layout eras under the declared schema — a column
    *    hive-materialized in one era and file-materialized in another
    *    reads identically ([[scanCommitDirs]]),
    *  - copy-on-write rewrites and compaction emit survivors in the
    *    CURRENT layout, so era entries retire dir by dir and a full
    *    OPTIMIZE normalizes the table,
    *  - time travel to a pre-evolution version reads under THAT
    *    manifest's layout.
    *
    * The manifest declares the `partition-evolution` reader feature while
    * any old-era dir remains, so a pre-evolution engine refuses loudly
    * instead of misreading hive columns. `newCols` are LOGICAL names;
    * empty means "unpartitioned from here on". Idempotent under commitId.
    */
  def setPartitionLayout(root: String, newCols: Seq[String], commitId: String): Long = {
    require(newCols.distinct.size == newCols.size,
      s"setPartitionLayout: duplicate columns in ${newCols.mkString(", ")}")
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        var out = -1L
        while (out < 0) {
          val parent = latestCommit(root)
            .getOrElse(sys.error(s"setPartitionLayout: no commits at $root"))
          require(parent.schemaDdl.nonEmpty,
            "setPartitionLayout: snapshot has no recorded schema")
          val logical = logicalCols(parent)
          newCols.foreach(c => require(logical.contains(c),
            s"setPartitionLayout: unknown column '$c' " +
              s"(snapshot columns: ${logical.mkString(", ")})"))
          val newPhys = newCols.map(physName(parent, _))
          require(newPhys != parent.partitionCols,
            s"setPartitionLayout: (${newCols.mkString(", ")}) is already the layout")
          // every current dir pins the layout it was written with; a dir
          // already recorded under an older era keeps that record, and a
          // dir whose era MATCHES the new layout needs no entry
          val eras = parent.dirs.map(d => d -> layoutOf(parent, d)).toMap
            .filter { case (_, lay) => lay != newPhys }
          val v = parent.version + 1
          if (publishIfAbsent(root, v, parent.copy(version = v, commitId = commitId,
              mode = "set-layout", partitionCols = newPhys, dirLayouts = eras)))
            out = v
        }
        out
    }
  }

  /** PARTITION EVOLUTION to a TRANSFORM layout (Iceberg's headline spec
    * evolution — daily → hourly): `ALTER GRAFT ... SET PARTITIONED BY
    * (hours(ts))` lands as ONE metadata commit that (a) synthesizes the
    * transform's generated column (the same desugar every CREATE-time
    * hidden layout uses — [[graft.catalog.GraftTransforms]]), (b) appends
    * it to the snapshot schema, (c) flips `partitionCols`, (d) records
    * every existing dir under its old era (`dirLayouts`), and (e)
    * auto-indexes the transform source column. Zero bytes move: reads of
    * pre-evolution dirs COMPUTE the synthesized key from its expression
    * ([[alignTo]] — the value is fully determined by the row), new
    * appends materialize it and land hive-partitioned on it, and time
    * travel to pre-evolution versions keeps the old shape. Entries may
    * mix transforms and plain columns; a plain re-layout (no transforms)
    * is exactly [[setPartitionLayout]].
    *
    * Refusals: renamed tables (generation SQL binds creation-era names;
    * compact/overwrite to normalize first), a synthesized name that
    * collides with an existing column (unless it is ALREADY the same
    * generated expression — re-evolving back is legal), and DROPPED-name
    * resurrection (pre-drop files still hold the retired slot).
    */
  def evolvePartitionLayout(spark: SparkSession, root: String,
                            entries: Seq[String], commitId: String): Long = {
    import graft.catalog.GraftTransforms
    val parsed = entries.map(GraftTransforms.parseEntry)
    if (parsed.forall(_.isLeft))
      return setPartitionLayout(root, parsed.collect { case Left(c) => c }, commitId)
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        var out = -1L
        while (out < 0) {
          val parent = latestCommit(root)
            .getOrElse(sys.error(s"evolvePartitionLayout: no commits at $root"))
          require(parent.schemaDdl.nonEmpty,
            "evolvePartitionLayout: snapshot has no recorded schema")
          require(parent.nameMap.isEmpty,
            "evolvePartitionLayout: transform layouts need creation-era column " +
              "names (this table has renames) — compact or overwrite first")
          val schema = org.apache.spark.sql.types.StructType.fromDDL(parent.schemaDdl.get)
          def colType(n: String) = schema.fields.find(_.name == n).map(_.dataType)
          // desugar each entry: plain columns pass through, transforms
          // synthesize (validated here — undeclared/ill-typed sources
          // refuse before anything publishes)
          val cols: Seq[(String, Option[GraftTransforms.Spec])] = parsed.map {
            case Left(c) =>
              require(schema.fieldNames.contains(c),
                s"evolvePartitionLayout: unknown column '$c' " +
                  s"(snapshot columns: ${schema.fieldNames.mkString(", ")})")
              (c, None)
            case Right((fn, src, arg)) =>
              val spec = GraftTransforms.desugar(fn, src, arg, colType)
                .getOrElse(sys.error(
                  s"evolvePartitionLayout: '$fn' is the identity — spell the column plainly"))
              (spec.name, Some(spec))
          }
          val newCols = cols.map(_._1)
          require(newCols.distinct.size == newCols.size,
            s"evolvePartitionLayout: duplicate key in ${newCols.mkString(", ")}")
          require(newCols != parent.partitionCols,
            s"evolvePartitionLayout: (${entries.mkString(", ")}) is already the layout")
          val fresh = cols.collect { case (n, Some(s)) if !schema.fieldNames.contains(n) => (n, s) }
          // a name that already exists must BE this generated expression
          // (re-evolving to a previously-declared transform); anything
          // else is a collision
          cols.foreach {
            case (n, Some(s)) if schema.fieldNames.contains(n) =>
              require(parent.generated.get(n).contains(s.sql),
                s"evolvePartitionLayout: synthesized key '$n' collides with an " +
                  "existing column that is not the same generated expression")
            case _ => ()
          }
          fresh.foreach { case (n, _) =>
            require(!parent.dropped.contains(n),
              s"evolvePartitionLayout: '$n' was DROPPED — pre-drop files still " +
                "hold the retired slot; compact/overwrite first") }
          fresh.foreach(f => spark.sessionState.sqlParser.parseExpression(f._2.sql))
          val newSchema = org.apache.spark.sql.types.StructType(
            schema.fields ++ fresh.map { case (n, s) =>
              org.apache.spark.sql.types.StructField(n, s.dataType) })
          val eras = parent.dirs.map(d => d -> layoutOf(parent, d)).toMap
            .filter { case (_, lay) => lay != newCols }
          val props = GraftTransforms.autoIndexProps(
            parent.props, cols.flatMap(_._2), colType)
          val v = parent.version + 1
          if (publishIfAbsent(root, v, parent.copy(version = v, commitId = commitId,
              mode = "set-layout", partitionCols = newCols, dirLayouts = eras,
              schemaDdl = Some(newSchema.toDDL),
              generated = parent.generated ++ fresh.map { case (n, s) => n -> s.sql },
              props = props)))
            out = v
        }
        out
    }
  }

  def renameColumn(root: String, from: String, to: String, commitId: String): Long =
    metadataCommit(root, commitId, renameColumnOp(from, to))

  /** The RENAME COLUMN snapshot transform ([[alterAtomic]]-composable). */
  def renameColumnOp(from: String, to: String): Commit => Commit = { parent =>
    require(parent.schemaDdl.nonEmpty,
      "renameColumn: snapshot has no recorded schema (pre-schema commits cannot rename)")
    val logical = logicalCols(parent)
    require(logical.contains(from), s"renameColumn: unknown column '$from' " +
      s"(snapshot columns: ${logical.mkString(", ")})")
    require(!logical.contains(to), s"renameColumn: column '$to' already exists")
    val phys = physName(parent, from)
    require(!hiveColsAnyEra(parent).contains(phys),
      s"renameColumn: '$from' is a hive partition column (current layout or a " +
        "pre-evolution era) — its physical name is baked into directory paths; " +
        "compact to normalize the layout first, or rewrite to repartition")
    require(!parent.identity.contains(from),
      s"renameColumn: '$from' is a GENERATED ALWAYS AS IDENTITY column — the " +
        "allocator is keyed by its declared name")
    // CHECK constraints are stored as SQL over LOGICAL names; renaming
    // a referenced column would silently break their enforcement
    // (word-boundary match — conservative: a literal mention inside a
    // string constant also refuses, loudly rather than wrongly)
    val referencing = parent.constraints.collect {
      case (n, sql) if ("\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
        .findFirstIn(sql).isDefined => n
    }
    require(referencing.isEmpty,
      s"renameColumn: column '$from' is referenced by CHECK constraint(s) " +
        s"${referencing.toSeq.sorted.mkString(", ")}; drop them first")
    // generation expressions are SQL over logical names too: renaming
    // a source column (or the generated column itself, whose map key
    // is its logical name) would silently break materialization
    require(!parent.generated.contains(from),
      s"renameColumn: '$from' is a GENERATED column; drop and re-declare instead")
    require(!parent.defaults.contains(from),
      s"renameColumn: '$from' carries a DEFAULT value keyed by its name; " +
        "drop and re-declare instead")
    val genRef = parent.generated.collect {
      case (n, sql) if ("\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
        .findFirstIn(sql).isDefined => n
    }
    require(genRef.isEmpty,
      s"renameColumn: column '$from' is referenced by generated column(s) " +
        s"${genRef.toSeq.sorted.mkString(", ")}; drop them first")
    val newMap = ((parent.nameMap - from) + (to -> phys))
      .filter { case (l, p) => l != p } // renaming back to the original drops the entry
    parent.copy(mode = "rename", nameMap = newMap,
      notNull = parent.notNull.map(n => if (n == from) to else n).sorted)
  }

  /** TYPE WIDENING as a METADATA-ONLY commit (the public Delta 3.2+
    * `ALTER TABLE ... ALTER COLUMN ... TYPE` type-widening feature): the
    * manifest's snapshot schema records the WIDER type while every
    * existing data file keeps its narrower physical encoding — Spark's
    * parquet reader (vectorized and row-based, probed on this exact
    * engine) up-converts INT32→BIGINT / FLOAT→DOUBLE etc. at scan time
    * under the declared schema, so no byte moves at any table size.
    * Allowed widenings are the strictly-information-preserving integral
    * chain TINYINT→SMALLINT→INT→BIGINT and FLOAT→DOUBLE. Time travel to a
    * pre-widen version reads under the narrow era-correct type.
    *
    * Post-widen writes must SUPPLY the widened type — schema evolution
    * still refuses a narrow batch loudly (an implicit upcast on write
    * would hide producer schema drift; the caller casts explicitly).
    * Integral manifest envelopes stay valid (they are Long-normalized);
    * float/double columns never carry envelopes.
    *
    * Refused loudly: unknown column, non-widening changes (same type,
    * narrowing, or cross-family), hive PARTITION columns (their values
    * live as path strings parsed under the declared type — keep the
    * declaration honest with the layout), GENERATED columns and columns
    * referenced by a generation expression (the expression's result type
    * is pinned by the declaration; a widened source would drift it), and
    * columns keying a pending merge-on-read delete set (the stored set
    * keeps the narrow type; absorb via compact first). Idempotent under
    * `commitId`; manifest-only OCC retry.
    */
  def widenColumnType(root: String, colName: String, newType: String,
                      commitId: String): Long =
    metadataCommit(root, commitId, widenColumnTypeOp(colName, newType))

  /** The type-widening snapshot transform ([[alterAtomic]]-composable). */
  def widenColumnTypeOp(colName: String, newType: String): Commit => Commit = {
    import org.apache.spark.sql.types._
    val target =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(newType)
    parent =>
      require(parent.schemaDdl.nonEmpty,
        "widenColumnType: snapshot has no recorded schema (pre-schema commits cannot widen)")
      val logical = logicalCols(parent)
      require(logical.contains(colName), s"widenColumnType: unknown column '$colName' " +
        s"(snapshot columns: ${logical.mkString(", ")})")
      val phys = physName(parent, colName)
      require(!hiveColsAnyEra(parent).contains(phys),
        s"widenColumnType: '$colName' is a hive partition column (current layout or " +
          "a pre-evolution era); its values parse from directory paths under the " +
          "declared type — rewrite to retype")
      require(!parent.generated.contains(colName),
        s"widenColumnType: '$colName' is a GENERATED column; its type is pinned by " +
          "the generation expression")
      val genRef = parent.generated.collect {
        case (n, sql) if ("\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
          .findFirstIn(sql).isDefined => n
      }
      require(genRef.isEmpty,
        s"widenColumnType: column '$colName' is referenced by generated column(s) " +
          s"${genRef.toSeq.sorted.mkString(", ")}; their result type would drift")
      require(!parent.deleteKeys.values.toSet.contains(phys),
        s"widenColumnType: '$colName' keys a pending merge-on-read delete set " +
          "(stored under the narrow type); compact to absorb the set first")
      val ps = StructType.fromDDL(parent.schemaDdl.get)
      val cur = ps.fields.find(_.name == phys).get.dataType
      val widens = (cur, target) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(widens,
        s"widenColumnType: ${cur.sql} -> ${target.sql} is not a supported widening " +
          "(TINYINT->SMALLINT->INT->BIGINT chain, FLOAT->DOUBLE)")
      val widened = StructType(ps.fields.map(f =>
        if (f.name == phys) f.copy(dataType = target) else f))
      parent.copy(mode = "widen", schemaDdl = Some(widened.toDDL))
  }

  /** DROP COLUMN as a METADATA-ONLY commit (the public Delta column-mapping
    * design): no data file is touched at any table size — the column simply
    * leaves the manifest schema, so every scan stops reading it (parquet
    * column pruning makes the drop also a read-time win), and its
    * stats/bloom entries leave the skipping index. Time travel to a
    * pre-drop version still shows the column because each manifest carries
    * its own schema. The retired PHYSICAL slot is recorded in `dropped`:
    * an append re-ADDING that name is refused (old files' retired values
    * would silently resurface as the new column's data); OVERWRITE and
    * [[compact]] rewrite every live file under the post-drop schema, so
    * both clear the set and free the name (compact = Delta's
    * REORG TABLE ... APPLY (PURGE)).
    *
    * Refused loudly: unknown column, the last remaining column, hive
    * PARTITION columns (their physical name is baked into every directory
    * path), columns referenced by a CHECK constraint (drop the constraint
    * first), and columns keying a pending merge-on-read delete set (the
    * read path could no longer apply the vector — compact first to absorb
    * it). Idempotent under `commitId`; manifest-only OCC retry.
    */
  def dropColumn(root: String, name: String, commitId: String): Long =
    metadataCommit(root, commitId, dropColumnOp(name))

  /** The DROP COLUMN snapshot transform ([[alterAtomic]]-composable). */
  def dropColumnOp(name: String): Commit => Commit = { parent =>
    require(parent.schemaDdl.nonEmpty,
      "dropColumn: snapshot has no recorded schema (pre-schema commits cannot drop)")
    val logical = logicalCols(parent)
    require(logical.contains(name), s"dropColumn: unknown column '$name' " +
      s"(snapshot columns: ${logical.mkString(", ")})")
    require(logical.size > 1, "dropColumn: cannot drop the last remaining column")
    val phys = physName(parent, name)
    require(!hiveColsAnyEra(parent).contains(phys),
      s"dropColumn: '$name' is a hive partition column (current layout or a " +
        "pre-evolution era) — its physical name is baked into directory paths; " +
        "compact to normalize the layout first, or rewrite to repartition")
    require(!parent.identity.contains(name),
      s"dropColumn: '$name' is a GENERATED ALWAYS AS IDENTITY column — the " +
        "allocator depends on it")
    val referencing = parent.constraints.collect {
      case (n, sql) if ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
        .findFirstIn(sql).isDefined => n
    }
    require(referencing.isEmpty,
      s"dropColumn: column '$name' is referenced by CHECK constraint(s) " +
        s"${referencing.toSeq.sorted.mkString(", ")}; drop them first")
    val keyedSets = parent.deletes.valuesIterator.flatten.toSeq.distinct
      .filter(sn => parent.deleteKeys.get(sn).contains(phys))
    require(keyedSets.isEmpty,
      s"dropColumn: column '$name' keys pending merge-on-read delete set(s) " +
        s"${keyedSets.sorted.mkString(", ")}; compact first to absorb them")
    val genRef = parent.generated.collect {
      case (n, sql) if n != name &&
        ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
          .findFirstIn(sql).isDefined => n
    }
    require(genRef.isEmpty,
      s"dropColumn: column '$name' is referenced by generated column(s) " +
        s"${genRef.toSeq.sorted.mkString(", ")}; drop them first")
    val ps = org.apache.spark.sql.types.StructType.fromDDL(parent.schemaDdl.get)
    val newSchema = org.apache.spark.sql.types.StructType(
      ps.fields.filterNot(_.name == phys))
    def stripCol[V](m: Map[String, Map[String, V]]) =
      m.map { case (d, cols) => d -> (cols - phys) }.filter(_._2.nonEmpty)
    parent.copy(mode = "dropcol", schemaDdl = Some(newSchema.toDDL),
        stats = stripCol(parent.stats), strStats = stripCol(parent.strStats),
        nullCounts = stripCol(parent.nullCounts),
        blooms = parent.blooms.map { case (d, cols) =>
          d -> cols.filterNot(_ == phys) }.filter(_._2.nonEmpty),
        nameMap = parent.nameMap - name,
        dropped = (parent.dropped :+ phys).distinct.sorted,
        generated = parent.generated - name,
        defaults = parent.defaults - name,
        notNull = parent.notNull.filterNot(_ == name))
  }

  /** GENERATED ALWAYS AS (the public Delta generated-columns shape): a
    * column whose value is a SQL expression over the row's other columns,
    * MATERIALIZED at write time — a batch lacking it gets it computed, a
    * batch carrying it is refused unless every value agrees with the
    * expression (so the stored data never contradicts the declaration),
    * and once stored it behaves as any physical column: statsCols,
    * bloomCols, hive `partitionCols` (the canonical use — `year(ts)` as
    * the partition key derived from an event timestamp).
    *
    * Declaration discipline mirrors Delta's no-backfill stance — a
    * declaration NEVER invents values for existing rows:
    *
    *  - on an EMPTY table root this creates version 1 as a pure-metadata
    *    "create" commit (no rows, no schema yet — the first data commit
    *    chooses the layout and materializes from its first row), the
    *    CREATE TABLE form;
    *  - on a table with data the column must ALREADY exist, and the
    *    existing snapshot is pre-validated against the expression
    *    (short-circuiting scan, the addConstraint pattern) — the
    *    "backfill, then declare" migration;
    *  - declaring a column that is absent from a non-empty table refuses
    *    loudly (it would need NULL backfill, which the expression would
    *    then contradict).
    *
    * Referenced source columns are rename/drop-guarded like constraint
    * references; `generated` is a declared feature, so a pre-generated
    * engine refuses the table instead of appending unmaterialized rows.
    * Idempotent under `commitId`; manifest-only OCC retry.
    */
  def addGeneratedColumn(spark: SparkSession, root: String, name: String,
                         sqlExpr: String, commitId: String): Long = {
    import org.apache.spark.sql.functions.{expr, not}
    // parse check up front — a syntax error must fail the declaration,
    // not every later write
    spark.sessionState.sqlParser.parseExpression(sqlExpr)
    require(!("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
        .findFirstIn(sqlExpr).isDefined,
      s"addGeneratedColumn: expression references the generated column '$name' itself")
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        var out = -1L
        while (out < 0) {
          latestCommit(root) match {
            case None =>
              Files.createDirectories(commitsDir(root))
              if (publishIfAbsent(root, 1L, Commit(1L, commitId, "create", Nil,
                  generated = Map(name -> sqlExpr))))
                out = 1L
              // lost the slot: loop re-reads — either our twin won
              // (findCommitVersion below) or the table now exists
              else if (findCommitVersion(root, commitId).isDefined)
                out = findCommitVersion(root, commitId).get
            case Some(parent) =>
              require(!parent.generated.contains(name),
                s"addGeneratedColumn: '$name' is already generated " +
                  s"(${parent.generated(name)})")
              val pureCreate = parent.dirs.isEmpty && parent.schemaDdl.isEmpty
              if (!pureCreate) {
                val logical = logicalCols(parent)
                require(logical.contains(name),
                  s"addGeneratedColumn: '$name' is absent from a non-empty table — " +
                    "declaring it would require NULL backfill, which the expression " +
                    "would then contradict; backfill the column first, or declare at " +
                    "table creation")
                val cur = read(spark, root)
                val bad = cur.filter(not(cur(name) <=> expr(sqlExpr))).limit(1).collect()
                require(bad.isEmpty,
                  s"addGeneratedColumn: existing snapshot violates '$name' = $sqlExpr " +
                    s"on row ${bad.headOption.orNull}")
              }
              val v = parent.version + 1
              if (publishIfAbsent(root, v, parent.copy(version = v, commitId = commitId,
                  mode = "generated", generated = parent.generated + (name -> sqlExpr))))
                out = v
          }
        }
        out
    }
  }

  /** COLUMN DEFAULT VALUES (the public Delta/Spark `ALTER TABLE ADD
    * COLUMN ... DEFAULT` table feature): add `name` to an EXISTING table
    * as a METADATA-ONLY commit — zero bytes move at any size — with a
    * foldable SQL default that serves both roles Delta splits into
    * existingDefault/currentDefault: rows in dirs PREDATING the column
    * read the default instead of NULL (per-dir backfill in [[alignTo]],
    * so a later writer's explicit NULL is never confused with a missing
    * slot), and a future batch LACKING the column materializes it at
    * write. DEFAULT, not ALWAYS: a batch carrying values keeps them.
    * Time travel to a pre-default version reads era-correct shapes.
    *
    * Guards: the expression must be column-reference-free, deterministic,
    * and castable to the declared type (probed once HERE, not at every
    * later read); re-using a DROPPED name refuses (pre-drop files still
    * hold the retired slot, and the per-dir scan would resurface its
    * values as "stored defaults"); declared as the `column-defaults`
    * reader feature so a pre-defaults engine refuses instead of
    * NULL-backfilling rows the table promises carry the default.
    */
  def addColumnWithDefault(spark: SparkSession, root: String, name: String,
                           sqlType: String, defaultSql: String,
                           commitId: String): Long =
    metadataCommit(root, commitId,
      addColumnWithDefaultOp(spark, name, sqlType, defaultSql))

  /** The ADD COLUMN ... DEFAULT snapshot transform
    * ([[alterAtomic]]-composable). The default is probed and FROZEN once
    * at op construction — column-reference-free, deterministic, castable
    * (a bad declaration fails before anything publishes), and stored as
    * the evaluated LITERAL (Delta's existingDefault discipline):
    * current_date() etc. are "deterministic" in Catalyst but
    * time-dependent across sessions, and alignTo re-evaluates the stored
    * SQL at every read — the frozen literal pins pre-default rows'
    * backfill forever instead of letting it drift with the reading
    * session.
    */
  /** Probe, validate, and FREEZE one default expression to literal SQL —
    * THE shared declaration step of every DEFAULT-bearing path (CREATE
    * and ALTER): column-reference-free, deterministic, castable, and
    * stored as the evaluated literal so backfill can never drift with
    * the reading session.
    */
  private def freezeDefault(spark: SparkSession, name: String,
                            dt: org.apache.spark.sql.types.DataType,
                            defaultSql: String, op: String): String = {
    import org.apache.spark.sql.functions.expr
    val probe = spark.range(1)
      .select(expr(s"CAST(($defaultSql) AS ${dt.sql})").as(name))
    val pe = probe.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.head
    require(pe.references.isEmpty,
      s"$op: default for '$name' must not reference columns, got '$defaultSql'")
    require(pe.deterministic,
      s"$op: default for '$name' must be deterministic, got '$defaultSql'")
    org.apache.spark.sql.catalyst.expressions.Literal
      .create(probe.collect()(0).get(0), dt).sql
  }

  /** Bare `ALTER TABLE ... ADD COLUMN c <type>` — the ANSI/Delta
    * metadata-only schema widening with READ-TIME NULL BACKFILL: one
    * manifest commit widens the declared schema, no data moves, and
    * pre-widening files read the new column as NULL through the exact
    * path schema-evolving writes already exercise (the declared-schema
    * scan backfills columns missing from older files — standard parquet
    * evolution, no reader feature required, unlike the frozen-literal
    * `column-defaults` form). Re-using a DROPPED name refuses (pre-drop
    * files still hold the retired slot and would resurface stored
    * values); time travel to a pre-widening version reads the narrower
    * schema. Idempotent under `commitId`.
    */
  def addColumn(root: String, name: String, sqlType: String,
                commitId: String): Long =
    metadataCommit(root, commitId, addColumnOp(name, sqlType))

  /** The bare ADD COLUMN snapshot transform ([[alterAtomic]]-composable). */
  def addColumnOp(name: String, sqlType: String): Commit => Commit = {
    val dt = org.apache.spark.sql.SparkSession.active
      .sessionState.sqlParser.parseDataType(sqlType)
    parent => {
      require(parent.schemaDdl.nonEmpty,
        "addColumn: snapshot has no recorded schema (pre-schema commits cannot " +
          "widen; commit once with an explicit schema first)")
      val logical = logicalCols(parent)
      require(!logical.contains(name),
        s"addColumn: column '$name' already exists")
      require(!parent.dropped.contains(name),
        s"addColumn: '$name' was DROPPED — pre-drop files still hold the " +
          "retired slot and the per-dir scan would resurface its values; " +
          "compact or overwrite first to purge it")
      val ps = org.apache.spark.sql.types.StructType.fromDDL(parent.schemaDdl.get)
      val newSchema = org.apache.spark.sql.types.StructType(ps.fields :+
        org.apache.spark.sql.types.StructField(name, dt))
      parent.copy(mode = "addcol", schemaDdl = Some(newSchema.toDDL))
    }
  }

  /** ADD COLUMN ... DEFAULT v NOT NULL — recordable truthfully because
    * every row observes the declaration: pre-declaration rows READ the
    * frozen (non-NULL, validated here) default, and every subsequent
    * write enforces the invariant through the CHECK gate. A NULL default
    * refuses up front — the backfill itself would violate the
    * declaration. The bare NOT NULL form (no default) stays refused:
    * existing rows would read NULL and disprove it.
    */
  def addColumnWithDefaultNotNullOp(spark: SparkSession, name: String,
                                    sqlType: String, defaultSql: String)
      : Commit => Commit = {
    import org.apache.spark.sql.functions.expr
    val dt = spark.sessionState.sqlParser.parseDataType(sqlType)
    require(!spark.range(1)
        .select(expr(s"CAST(($defaultSql) AS ${dt.sql})")).head().isNullAt(0),
      s"addColumn: '$name' declares NOT NULL with a DEFAULT that evaluates to " +
        s"NULL ('$defaultSql') — the backfill would violate the declaration")
    val base = addColumnWithDefaultOp(spark, name, sqlType, defaultSql)
    parent => {
      val c = base(parent)
      c.copy(notNull = (c.notNull :+ name).distinct.sorted)
    }
  }

  def addColumnWithDefaultOp(spark: SparkSession, name: String,
                             sqlType: String, defaultSql: String): Commit => Commit = {
    val dt = spark.sessionState.sqlParser.parseDataType(sqlType)
    spark.sessionState.sqlParser.parseExpression(defaultSql)
    val frozenSql = freezeDefault(spark, name, dt, defaultSql, "addColumnWithDefault")
    parent => {
      require(parent.schemaDdl.nonEmpty,
        "addColumnWithDefault: snapshot has no recorded schema")
      val logical = logicalCols(parent)
      require(!logical.contains(name),
        s"addColumnWithDefault: column '$name' already exists")
      require(!parent.dropped.contains(name),
        s"addColumnWithDefault: '$name' was DROPPED — pre-drop files still hold " +
          "the retired slot and would resurface as stored values; compact or " +
          "overwrite first to purge it")
      val ps = org.apache.spark.sql.types.StructType.fromDDL(parent.schemaDdl.get)
      val newSchema = org.apache.spark.sql.types.StructType(ps.fields :+
        org.apache.spark.sql.types.StructField(name, dt))
      parent.copy(mode = "default", schemaDdl = Some(newSchema.toDDL),
        defaults = parent.defaults + (name -> frozenSql))
    }
  }

  /** Commit `df` as the next version. `mode` is "overwrite" or "append".
    * Returns the committed version (or the existing one if `commitId` was
    * already committed — idempotent retry). Safe under concurrent committers
    * via the hard-link put-if-absent; the loser re-reads the log and retries.
    *
    * `statsCols` names integer (long/int) columns whose per-dir min/max go
    * into the manifest as a data-skipping index for [[readRange]]. Stats are
    * gathered AFTER the write by re-aggregating the written dir with parquet
    * aggregate pushdown enabled — min/max come from file footers, O(#files)
    * not O(rows), and the upstream plan is never computed twice.
    */
  /** Merge-shaped verbs refuse identity tables — Delta's own rule: a merge
    * insert cannot allocate an identity value, and accepting explicit ones
    * would let a source collide with the table's own future allocations.
    */
  private def requireNoIdentity(parent: Commit, op: String): Unit =
    require(parent.identity.isEmpty,
      s"$op: table declares GENERATED ALWAYS AS IDENTITY column(s) " +
        s"${parent.identity.keys.toSeq.sorted.mkString(", ")} — a merge-shaped " +
        "insert cannot allocate (Delta's rule); use commit(append) for new rows " +
        "and updateWhere/deleteWhere for changes")

  /** Declare a GENERATED ALWAYS AS IDENTITY column (the public Delta
    * identity-columns feature): every subsequent row-adding commit
    * ALLOCATES `name` — a contiguous long range per batch, `startWith` +
    * k·`stepBy` — and a batch carrying the column explicitly is refused
    * (ALWAYS, not BY DEFAULT). Declaration is CREATE-time only, like
    * Delta's: on a table that already holds data the existing rows would
    * need backfill values the allocator did not issue. Allocation is
    * transactional — the manifest records (start, step, next), and a
    * commit whose base raced a concurrent allocation refuses loudly
    * before publishing duplicate ids. The merge family
    * (mergeInto/mergeIntoConditional/applyCdcBatch/replaceRange) refuses
    * identity tables outright — Delta's own rule: a merge insert cannot
    * allocate — while updateWhere/updateRange refuse SET on the column
    * and delete verbs work unchanged. Rename/drop of the column are
    * refused; the spec and high-water survive every publish path
    * including clone and rollback.
    */
  def addIdentityColumn(root: String, name: String, startWith: Long = 1L,
                        stepBy: Long = 1L, commitId: String): Long = {
    require(stepBy != 0L, "addIdentityColumn: step must be non-zero")
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        var out = -1L
        while (out < 0) {
          latestCommit(root) match {
            case None =>
              Files.createDirectories(commitsDir(root))
              if (publishIfAbsent(root, 1L, Commit(1L, commitId, "create", Nil,
                  identity = Map(name -> ((startWith, stepBy, startWith))))))
                out = 1L
              else if (findCommitVersion(root, commitId).isDefined)
                out = findCommitVersion(root, commitId).get
            case Some(parent) =>
              require(parent.dirs.isEmpty,
                s"addIdentityColumn: table already holds data — identity is a " +
                  "CREATE-time declaration (existing rows would need values the " +
                  "allocator did not issue)")
              require(!parent.identity.contains(name),
                s"addIdentityColumn: '$name' is already an identity column")
              require(!parent.generated.contains(name),
                s"addIdentityColumn: '$name' is GENERATED ALWAYS AS (an expression)")
              val v = parent.version + 1
              if (publishIfAbsent(root, v, parent.copy(version = v, commitId = commitId,
                  mode = "create",
                  identity = parent.identity + (name -> ((startWith, stepBy, startWith))))))
                out = v
          }
        }
        out
    }
  }

  /** Allocate contiguous identity values [next, next + step·count) onto
    * `df` as non-null LONG column `colName` — the zipWithIndex two-pass
    * scheme (the same shape as the scalable surrogate-id operator):
    * per-partition counts, an O(#partitions) driver prefix sum, then
    * per-partition offset assignment. Fully parallel — no global sort, no
    * window — and the frame is localCheckpoint'ed so the count pass and
    * the assignment pass read the SAME materialized partitions. Returns
    * (frame with the column, next unallocated value). Contiguity is a
    * deliberate improvement over gap-allocating engines: ranges stay
    * dense, so max(id) tracks row count and per-file envelopes stay
    * tight.
    */
  private def assignIdentityColumn(df: DataFrame, colName: String, next: Long,
                                   step: Long): (DataFrame, Long) = {
    val Seq(cut) = graft.operators.Par.materialize(df)
    val counts = cut.rdd
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val schema = org.apache.spark.sql.types.StructType(cut.schema.fields :+
      org.apache.spark.sql.types.StructField(colName,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rows = cut.rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = next + offsets(i) * step
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n); n += step; out
      }
    }
    (df.sparkSession.createDataFrame(rows, schema), next + counts.sum * step)
  }

  /** CREATE TABLE as a pure-metadata version-1 commit: the declared
    * schema, hive layout, and table properties publish with ZERO data
    * dirs — reads return an empty frame under the recorded schema, and
    * the first data commit must match the declared layout (the commit()
    * layout guard) and may only add columns over the declared schema
    * (evolvedSchema). This is the DSv2 `TableCatalog.createTable` entry
    * ([[graft.catalog.GraftCatalog]]); the CTAS/INSERT SQL commands keep
    * their one-shot create-with-data path. Idempotent under `commitId`;
    * refuses a root that already has commits (CREATE creates once).
    */
  def createTable(root: String, schema: org.apache.spark.sql.types.StructType,
                  partitionCols: Seq[String], props: Map[String, String],
                  commitId: String): Long =
    createTableWithSpecs(None, root, schema, partitionCols, props,
      Map.empty, Map.empty, Map.empty, Map.empty, commitId)

  /** CREATE with the full ANSI column/constraint surface in ONE v1
    * commit: column DEFAULTs (frozen literals, the addColumnWithDefault
    * discipline — `spark` is required exactly when defaults are
    * declared), GENERATED ALWAYS AS expressions, IDENTITY allocators
    * (`name -> (start, step)`), and named CHECK constraints — the shapes
    * Spark's DSv2 `TableCatalogCapability` create-time surface carries.
    * Declaring everything at creation is atomic by construction: either
    * version 1 publishes with the whole declared shape or nothing exists.
    */
  def createTableWithSpecs(spark: Option[SparkSession], root: String,
                           schema: org.apache.spark.sql.types.StructType,
                           partitionCols: Seq[String], props: Map[String, String],
                           defaults: Map[String, String],
                           generated: Map[String, String],
                           identity: Map[String, (Long, Long)],
                           constraints: Map[String, String],
                           commitId: String): Long = {
    partitionCols.foreach(p => require(schema.fieldNames.contains(p),
      s"createTable: partition column '$p' is not in the declared schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    // engine-interpreted properties validate at CREATE like at ALTER — a
    // typo'd write-order column must refuse here, not at the first write
    props.get("graft.write.orderedBy").foreach { v =>
      val cs = parseWriteOrder(v).map(_._1)
      require(cs.nonEmpty,
        s"graft.write.orderedBy must name >= 1 comma-separated columns, got '$v'")
      val missing = cs.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"createTable: graft.write.orderedBy names unknown column(s) " +
          s"${missing.mkString(", ")} (schema: ${schema.fieldNames.mkString(", ")})")
    }
    (defaults.keySet ++ generated.keySet ++ identity.keySet).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"createTable: declared column spec for '$c', which is not in the schema"))
    require((defaults.keySet & generated.keySet).isEmpty &&
      (defaults.keySet & identity.keySet).isEmpty &&
      (generated.keySet & identity.keySet).isEmpty,
      "createTable: a column may be DEFAULT, GENERATED, or IDENTITY — not several")
    identity.foreach { case (c, (_, step)) =>
      require(step != 0L, s"createTable: identity column '$c' needs a non-zero step")
      require(schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"createTable: identity column '$c' must be BIGINT (the allocator issues longs)")
    }
    // parse checks up front — a bad declaration must fail the CREATE;
    // the session resolves only when a spec actually needs one, so the
    // spec-free legacy path keeps working without any active session
    def session: SparkSession = spark.getOrElse(SparkSession.active)
    if (generated.nonEmpty || constraints.nonEmpty) {
      val parser = session.sessionState.sqlParser
      generated.values.foreach(parser.parseExpression)
      constraints.values.foreach(parser.parseExpression)
    }
    // freeze defaults exactly as addColumnWithDefault does (shared probe)
    val frozen: Map[String, String] = defaults.map { case (c, e) =>
      c -> freezeDefault(session, c, schema(c).dataType, e, "createTable")
    }
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        Files.createDirectories(commitsDir(root))
        require(latestCommit(root).isEmpty,
          s"createTable: $root already has commits — CREATE creates once")
        if (publishIfAbsent(root, 1L, Commit(1L, commitId, "create", Nil,
            partitionCols = partitionCols, schemaDdl = Some(schema.toDDL),
            props = props, defaults = frozen, generated = generated,
            identity = identity.map { case (c, (st, sp)) => c -> ((st, sp, st)) },
            constraints = constraints,
            // REAL nullability (Delta's NOT NULL invariants): columns the
            // CREATE declared non-nullable — CTAS inherits the query
            // schema's nullability, exactly Delta's behavior — recorded in
            // the manifest and enforced by every row-adding verb through
            // the same hook CHECK constraints use ([[notNullChecks]])
            notNull = schema.fields.filterNot(_.nullable).map(_.name).toSeq.sorted)))
          1L
        else findCommitVersion(root, commitId).getOrElse(
          sys.error(s"createTable: lost the v1 slot at $root to a concurrent creator"))
    }
  }

  /** DST-SAFE hive path rendering for TIMESTAMP partition keys: Spark's
    * own writer renders a TIMESTAMP partition value as the SESSION-ZONE
    * LOCAL string, so in a DST fall-back hour two DISTINCT instants
    * format identically — they collapse into one path, and the
    * path-derived read resurrects only one of them (silent value
    * corruption). Every hive write in this engine therefore substitutes
    * an OFFSET-SUFFIXED rendering (`2024-11-03 01:30:00.000000-05:00`)
    * for TIMESTAMP keys before `partitionBy`: each instant carries its
    * real offset, so the rendered local time is never ambiguous, and
    * every consumer — [[hivePartValue]], Spark's own partition-value
    * inference, the `alignTo` declared-type cast — parses offset-bearing
    * strings exactly (zone-free NTZ and DATE keys never had the problem).
    * The substitution changes ONLY the path spelling; the recorded
    * schema, stats, and all value-space comparisons are untouched.
    */
  private def dstSafePartitions(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, date_format}
    partitionCols.foldLeft(df) { (d, p) =>
      if (d.columns.contains(p) &&
          d.schema(p).dataType == org.apache.spark.sql.types.TimestampType)
        d.withColumn(p, date_format(col(p), "yyyy-MM-dd HH:mm:ss.SSSSSSxxx"))
      else d
    }
  }

  def commit(df: DataFrame, root: String, mode: String, commitId: String,
             statsCols: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             declareGenerated: Map[String, String] = Map.empty,
             declareNotNull: Option[Seq[String]] = None,
             declareProps: Map[String, String] = Map.empty): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    // DECLARE-WITH-DATA (the atomic staged CTAS/RTAS shape): an overwrite
    // commit may REDECLARE the generated-column set alongside its data —
    // exactly how REPLACE redeclares the schema — so a hidden-partitioned
    // CREATE/REPLACE ... AS SELECT publishes declaration + data as ONE
    // commit (no phantom declared-empty table if the query fails), and
    // `declareNotNull` seeds NOT NULL invariants for a FRESH table (CTAS
    // inherits the query schema's nullability, Delta's behavior); on an
    // existing table the parent's invariants survive like every overwrite.
    require(declareGenerated.isEmpty || mode == "overwrite",
      "commit: declareGenerated is an overwrite-redeclaration (CTAS/RTAS); " +
        "appends inherit the snapshot's generated columns")
    if (declareGenerated.nonEmpty)
      declareGenerated.values.foreach(
        df.sparkSession.sessionState.sqlParser.parseExpression)
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior // retry of a committed write: no-op
      case None =>
        Files.createDirectories(commitsDir(root))
        // appends write under PHYSICAL names (identity unless the table
        // has renames); an overwrite replaces the schema wholesale, so its
        // names become the new physical names and the mapping resets
        val preParent0 = latestCommit(root)
        // GENERATED columns materialize first (both modes — they are table
        // properties like constraints): a batch LACKING the column gets it
        // computed; a batch CARRYING it is enforced for equality, so a
        // writer can never store a value the expression disagrees with.
        // A declare-with-data overwrite materializes its OWN declaration
        // (the redeclared set replaces the parent's wholesale, like schema).
        val effGenerated =
          if (declareGenerated.nonEmpty) declareGenerated
          else preParent0.map(_.generated).getOrElse(Map.empty)
        val dfGen0 =
          if (effGenerated.isEmpty) df
          else materializeGenerated(effGenerated, df, "commit")
        // column DEFAULTS materialize next (append mode — an overwrite
        // batch defines its own values; the declaration itself survives
        // the overwrite when its column does, see the publish below): a batch
        // LACKING a default-bearing column gets the default computed, a
        // batch CARRYING it keeps its values (DEFAULT, not ALWAYS)
        val dfGen = preParent0.filter(_ => mode == "append")
          .map(_.defaults).filter(_.nonEmpty).fold(dfGen0) { ds =>
            val declared = preParent0.flatMap(_.schemaDdl)
              .map(org.apache.spark.sql.types.StructType.fromDDL)
            ds.toSeq.sortBy(_._1).foldLeft(dfGen0) { case (d, (cName, e)) =>
              if (d.columns.contains(cName)) d
              else d.withColumn(cName,
                org.apache.spark.sql.functions.expr(e).cast(
                  declared.flatMap(_.fields.find(_.name == cName)).map(_.dataType)
                    .getOrElse(sys.error(s"commit: default column '$cName' not in schema"))))
            }
          }
        // CHECK constraints hold in BOTH modes (they are table properties,
        // surviving overwrite like Delta's) and are enforced on the
        // incoming LOGICAL batch before any data is written. A REPLACE
        // that REDECLARES nullability (declareNotNull, the staged RTAS
        // path) enforces ITS declaration instead of the parent's — the
        // old schema's NOT NULL set may name columns the new shape
        // dropped, exactly like the schema it rides in on.
        preParent0.foreach { p =>
          val checks = declareNotNull match {
            case Some(nn) if mode == "overwrite" =>
              effectiveChecks(p.copy(notNull = nn.sorted))
            case _ => effectiveChecks(p)
          }
          enforceConstraints(checks, dfGen, "commit")
        }
        // IDENTITY columns allocate here (both modes — the spec is a table
        // property): explicit values are refused (GENERATED ALWAYS), the
        // batch gets a contiguous [next, next + step·count) range, and the
        // publish loop below re-validates that no concurrent commit
        // allocated from the same base
        val identSpec = preParent0.map(_.identity).getOrElse(Map.empty)
        val (dfIdent, allocatedNext) =
          if (identSpec.isEmpty) (dfGen, Map.empty[String, Long])
          else {
            identSpec.keys.toSeq.sorted.foreach(c => require(!dfGen.columns.contains(c),
              s"commit: '$c' is GENERATED ALWAYS AS IDENTITY — explicit values are " +
                "refused (the table allocates); drop the column from the batch"))
            var cur = dfGen
            val nexts = scala.collection.mutable.Map[String, Long]()
            identSpec.toSeq.sortBy(_._1).foreach { case (c, (_, sp, nx)) =>
              val (assigned, newNext) = assignIdentityColumn(cur, c, nx, sp)
              cur = assigned; nexts(c) = newNext
            }
            (cur, nexts.toMap)
          }
        val preParent = preParent0.filter(_ => mode == "append")
        val dfPhys = preParent.fold(dfIdent)(p => toPhysicalDf(p, dfIdent))
        val physStats = statsCols.map(c => preParent.fold(c)(p => physName(p, c)))
        val physBlooms = bloomCols.map(c => preParent.fold(c)(p => physName(p, c)))
        // data first — invisible until a manifest references it; the dir name
        // is unique per write ATTEMPT (attemptDirName), the version prefix
        // is a hint
        val nextV = latestVersion(root).map(_ + 1).getOrElse(1L)
        val dirName = attemptDirName("data", nextV, commitId)
        // write clustering — DEFAULT ON for partitioned commits (Iceberg's
        // default write.distribution-mode=hash for partitioned tables):
        // shuffle the batch by its partition keys before the hive write, so
        // the dir lands O(keys) files instead of O(tasks × keys), and —
        // just as important — the per-key file creation spreads over the
        // shuffle's tasks instead of serializing inside whichever tasks
        // hold the keys (a single-task source writing a days(ts) layout
        // opened 2 405 parquet writers sequentially: ~40 s of one-core
        // wall-clock for a 50 k-row batch, OPTIMIZATION_r19.md §11; the
        // delta-DML writer already declares the same clustering via
        // RequiresDistributionAndOrdering). Costs one narrow exchange per
        // commit, which at scale buys back whole compaction runs; a
        // pipeline whose batches arrive pre-clustered opts out once with
        // 'graft.write.clusterByKeys' = 'false'.
        val clusterKeys = partitionCols.nonEmpty &&
          !preParent0.exists(_.props.get("graft.write.clusterByKeys").contains("false"))
        // opt-in write ORDERING ('graft.write.orderedBy' — Iceberg's WRITE
        // ORDERED BY): range-partition + sort the batch by (partition keys,
        // order columns) before the hive write, so each data file covers a
        // DISJOINT range of the order columns and its footer/_filestats
        // envelope is as tight as the data allows — the per-file skipping
        // index then prunes a point/range predicate to O(matching files)
        // instead of every file of every surviving dir. Costs ONE range
        // exchange per commit (same class as clusterByKeys, which it
        // subsumes: range partitioning also co-locates hive keys, so the
        // small-file explosion is bounded at O(keys + tasks)). Declared as
        // a table property: an ingest pipeline opts in once, every append
        // inherits. Order columns resolve through the rename map like
        // statsCols; a dropped/unknown column refuses loudly here.
        val orderedBy = writeOrderOf(
          preParent0.map(_.props).getOrElse(Map.empty) ++ declareProps)
        val physOrder = orderedBy.map { case (c, asc) =>
          (preParent.fold(c)(p => physName(p, c)), asc) }
        physOrder.foreach { case (c, _) => require(dfPhys.columns.contains(c),
          s"commit: graft.write.orderedBy column '$c' is not in the batch " +
            s"(columns: ${dfPhys.columns.mkString(", ")}); fix the property or the batch") }
        val dfOut =
          if (physOrder.nonEmpty) {
            // hive keys prefix the range key ascending; each order entry
            // carries its declared direction (Iceberg's `c DESC` spelling)
            val rangeCols = partitionCols.map(dfPhys.col) ++
              physOrder.filterNot(o => partitionCols.contains(o._1))
                .map { case (c, asc) => if (asc) dfPhys.col(c) else dfPhys.col(c).desc }
            dfPhys.repartitionByRange(rangeCols: _*).sortWithinPartitions(rangeCols: _*)
          }
          else if (clusterKeys) dfPhys.repartition(partitionCols.map(dfPhys.col): _*)
          else dfPhys
        var w = dstSafePartitions(dfOut, partitionCols).write.mode("overwrite")
        if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
        w.parquet(s"$root/$dirName")
        val dirStats = gatherStats(df.sparkSession, s"$root/$dirName", physStats, dfPhys.schema)
        val dirBlooms = gatherBlooms(df.sparkSession, s"$root/$dirName", physBlooms)
        // manifest second, with OCC retry on the version slot; each retry
        // parses only the TAIL (latest manifest + checkpoint probe), so a
        // contended commit stays O(1) parses per attempt
        // the identity manifest entry this commit publishes: same spec,
        // next advanced past the allocated range
        def committedIdentity(parent: Option[Commit]): Map[String, (Long, Long, Long)] = {
          val base = parent.map(_.identity).getOrElse(Map.empty)
          base.map { case (c, (st, sp, nx)) =>
            c -> ((st, sp, allocatedNext.getOrElse(c, nx)))
          }
        }
        var committed = -1L
        while (committed < 0) {
          val parent = latestCommit(root)
          val twin = findCommitVersion(root, commitId)
          if (twin.isDefined) {
            committed = twin.get // another retry of us won
          } else {
            // identity is transactional: a concurrent commit that allocated
            // from the same base, or a declaration racing the write, makes
            // this batch's values unsafe — refuse, never publish duplicates
            parent.foreach { p =>
              require(p.identity.keySet == identSpec.keySet,
                s"commit: identity declarations advanced during the write " +
                  s"(now ${p.identity.keySet.toSeq.sorted.mkString(", ")}); re-run")
              identSpec.foreach { case (c, (_, _, nxAssumed)) =>
                require(p.identity(c)._3 == nxAssumed,
                  s"commit: identity allocation for '$c' raced a concurrent commit " +
                    s"(base $nxAssumed, now ${p.identity(c)._3}); re-run")
              }
            }
            // a snapshot's dirs must share one hive layout — readers union
            // per-dir scans, and a layout mix would silently widen schemas
            parent.filter(_ => mode == "append").foreach { p =>
              // a pure CREATE parent (dirs empty, no schema yet) pins no
              // layout — the first data commit chooses it
              require(p.dirs.isEmpty && p.schemaDdl.isEmpty ||
                  p.partitionCols == partitionCols,
                s"append layout $partitionCols != parent's ${p.partitionCols}")
              // the data was written under preParent's name mapping — a
              // rename racing between write and publish would make this
              // dir's physical names stale, so refuse loudly
              require(p.nameMap == preParent.map(_.nameMap).getOrElse(Map.empty),
                s"append: column renames advanced during the write (now ${p.nameMap}); re-run")
              // a DROP racing between write and publish would make this
              // batch's copy of the column look like a brand-new column
              // under evolvedSchema — resurrection, so refuse loudly
              require(p.dropped == preParent.map(_.dropped).getOrElse(Nil),
                s"append: column drops advanced during the write (now ${p.dropped}); re-run")
              // re-adding a dropped name would resurface the retired slot's
              // values from every pre-drop file; the name frees after
              // OVERWRITE or compact (both rewrite every live file)
              val parentFields = p.schemaDdl
                .map(org.apache.spark.sql.types.StructType.fromDDL(_).fieldNames.toSet)
                .getOrElse(Set.empty[String])
              val resurrected = dfPhys.schema.fieldNames
                .filterNot(parentFields.contains).filter(p.dropped.contains)
              require(resurrected.isEmpty,
                s"append: column(s) ${resurrected.mkString(", ")} were DROPPED — their " +
                  "physical slots persist in pre-drop files and would resurface; pick a " +
                  "different name, or compact/overwrite first to purge the slot")
            }
            val snapSchema = evolvedSchema(
              parent.filter(_ => mode == "append").flatMap(_.schemaDdl), dfPhys.schema)
            val v = parent.map(_.version + 1).getOrElse(1L)
            val (dirs, inherited, inheritedStr, inheritedBlooms) = mode match {
              case "overwrite" => (Seq(dirName),
                Map.empty[String, Map[String, (Long, Long)]],
                Map.empty[String, Map[String, (String, String)]],
                Map.empty[String, Seq[String]])
              case "append" =>
                (parent.map(_.dirs).getOrElse(Nil) :+ dirName,
                  parent.map(_.stats).getOrElse(Map.empty),
                  parent.map(_.strStats).getOrElse(Map.empty),
                  parent.map(_.blooms).getOrElse(Map.empty))
            }
            // MOR delete coverage carries through appends untouched (the
            // new dir has no entry — a later append may re-insert a purged
            // key); an overwrite replaces the row set wholesale, so no
            // delete set survives it
            val (inhDeletes, inhDeleteKeys) = mode match {
              case "append" => (parent.map(_.deletes).getOrElse(Map.empty),
                parent.map(_.deleteKeys).getOrElse(Map.empty))
              case _ => (Map.empty[String, Seq[String]], Map.empty[String, String])
            }
            val stats = if (dirStats.ints.isEmpty) inherited
                        else inherited + (dirName -> dirStats.ints)
            val strStats = if (dirStats.strs.isEmpty) inheritedStr
                           else inheritedStr + (dirName -> dirStats.strs)
            val inheritedNulls =
              if (mode == "append") parent.map(_.nullCounts).getOrElse(Map.empty)
              else Map.empty[String, Map[String, (Long, Long)]]
            val nullCounts = if (dirStats.nulls.isEmpty) inheritedNulls
                             else inheritedNulls + (dirName -> dirStats.nulls)
            val blooms = if (dirBlooms.isEmpty) inheritedBlooms
                         else inheritedBlooms + (dirName -> dirBlooms)
            // the batch was validated against preParent0's constraint set —
            // a constraint added mid-write would be silently unenforced on
            // this batch, so refuse and re-run (the rename guard's pattern)
            require(parent.map(_.constraints).getOrElse(Map.empty) ==
                preParent0.map(_.constraints).getOrElse(Map.empty),
              "commit: table constraints advanced during the write; re-run")
            require(parent.map(_.generated).getOrElse(Map.empty) ==
                preParent0.map(_.generated).getOrElse(Map.empty),
              "commit: generated columns advanced during the write; re-run")
            // a DEFAULT declared mid-write would be unmaterialized in this
            // batch — refuse like a constraint advance
            require(parent.map(_.defaults).getOrElse(Map.empty) ==
                preParent0.map(_.defaults).getOrElse(Map.empty),
              "commit: column defaults advanced during the write; re-run")
            if (publishIfAbsent(root, v,
                Commit(v, commitId, mode, dirs, stats, strStats, partitionCols, blooms,
                  Some(snapSchema.toDDL), deletes = inhDeletes,
                  deleteKeys = inhDeleteKeys,
                  nameMap = if (mode == "append")
                    parent.map(_.nameMap).getOrElse(Map.empty) else Map.empty,
                  constraints = parent.map(_.constraints).getOrElse(Map.empty),
                  // a FRESH table seeds NOT NULL from the CTAS declaration;
                  // a REPLACE redeclares it (new schema, new nullability —
                  // Delta's RTAS); an overwrite WITHOUT a declaration
                  // (INSERT OVERWRITE) keeps the table's invariants
                  notNull = declareNotNull.map(_.sorted)
                    .orElse(parent.map(_.notNull)).getOrElse(Nil),
                  // overwrite rewrites the whole row set — retired slots
                  // are gone from every live file, so the names free up
                  dropped = if (mode == "append")
                    parent.map(_.dropped).getOrElse(Nil) else Nil,
                  generated = if (declareGenerated.nonEmpty) declareGenerated
                    else parent.map(_.generated).getOrElse(Map.empty),
                  nullCounts = nullCounts,
                  // declared TBLPROPERTIES (the staged CTAS/RTAS shape)
                  // ride the SAME commit — merged over the table's own
                  props = parent.map(_.props).getOrElse(Map.empty) ++ declareProps,
                  identity = committedIdentity(parent),
                  // the new dir is in the CURRENT layout (no entry); an
                  // overwrite replaces every dir, clearing the era registry
                  dirLayouts = if (mode == "append")
                    parent.map(_.dirLayouts).getOrElse(Map.empty) else Map.empty,
                  // DEFAULTs survive an overwrite when their column is still
                  // present in the incoming schema (Delta: currentDefault
                  // survives INSERT OVERWRITE, like constraints and props);
                  // only a declaration whose column VANISHED retires. In
                  // overwrite mode nameMap resets, so the incoming names ARE
                  // the new physical names the defaults key against.
                  defaults = {
                    val pd = parent.map(_.defaults).getOrElse(Map.empty)
                    if (mode == "append") pd
                    else pd.filter { case (n, _) =>
                      dfPhys.schema.fieldNames.contains(n) }
                  })))
              committed = v
          }
        }
        // AUTO-COMPACT (Delta's autoOptimize.autoCompact, as a declared
        // TBLPROPERTY): appends re-check the small-file debt they create
        if (mode == "append") maybeAutoCompact(df.sparkSession, root, commitId)
        committed
    }
  }

  /** Post-append auto-compaction hook: when the table declares
    * `graft.autoCompact.minDirs` and the fresh snapshot's dir count
    * reached it, run a full [[compact]] (target from
    * `graft.autoCompact.target`, default 32) under a commitId DERIVED
    * from the triggering append — replaying the append replays (and
    * no-ops) the compaction with it. A LOST compaction race is swallowed:
    * auto-compact is best-effort maintenance, the next append re-triggers
    * it, and failing the user's committed append over it would invert the
    * contract (the append already published). Every other failure
    * propagates. This bounds an unattended ingest loop's dir count at
    * ~minDirs without a scheduler — the standing answer to the
    * append-grown small-file problem, now a table property instead of an
    * operations runbook.
    */
  private def maybeAutoCompact(spark: SparkSession, root: String,
                               triggerCommitId: String): Unit = {
    val c = latestCommit(root).getOrElse(return)
    c.props.get("graft.autoCompact.minDirs").flatMap(_.toIntOption)
      .filter(k => k >= 2 && c.dirs.size >= k).foreach { _ =>
        // size target takes precedence over the count target when both are
        // declared (bytes is what production OPTIMIZE aims at; the count
        // form predates it)
        val targetBytes = c.props.get("graft.autoCompact.targetBytes")
          .flatMap(_.toLongOption).getOrElse(0L)
        val target =
          if (targetBytes > 0) 0
          else c.props.get("graft.autoCompact.target")
            .flatMap(_.toIntOption).getOrElse(32)
        // declared clustering rides every triggered compaction — the
        // liquid-clustering idea: the CURVE is table metadata too
        val zorder = c.props.get("graft.autoCompact.zorder")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        val curve = c.props.getOrElse("graft.autoCompact.curve", "morton")
        val (st, bl) = indexedCols(root)
        // ANY compaction failure is swallowed (logged), not just a lost
        // race: the user's append already PUBLISHED, and propagating a
        // maintenance error — a stale zorder column after a drop, a
        // layout conflict — out of commit() would make a successful
        // append look failed. The next append re-triggers the compaction.
        try compact(spark, root, s"auto-compact-$triggerCommitId", target, st, bl,
          zorderBy = zorder, curve = curve, targetFileBytes = targetBytes)
        catch {
          case e: Exception =>
            System.err.println(
              s"graft: best-effort auto-compact of $root skipped: ${e.getMessage}")
        }
      }
  }

  /** ADD-COLUMN schema evolution (the one Delta lifecycle behavior the
    * commit log supports beyond fixed schemas): an append may WIDEN its
    * parent's schema with new columns — older dirs backfill them as NULL at
    * read time via the snapshot schema recorded in each manifest — but may
    * neither DROP a parent column nor CHANGE a column's type; both fail
    * loudly here, before any manifest publishes (a type change would make
    * every older dir's data silently unreadable-as-declared, which is a
    * corruption, not an evolution). Comparison is by type DDL, so parquet
    * nullability round-trips don't false-positive.
    */
  private def evolvedSchema(parentDdl: Option[String],
                            newSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = parentDdl match {
    case None => newSchema
    case Some(pd) =>
      val ps = org.apache.spark.sql.types.StructType.fromDDL(pd)
      ps.fields.foreach { f =>
        newSchema.fields.find(_.name == f.name) match {
          case Some(nf) => require(nf.dataType.sql == f.dataType.sql,
            s"schema evolution: column '${f.name}' type change ${f.dataType.sql} -> " +
              s"${nf.dataType.sql} is not allowed (add-column evolution only)")
          case None => sys.error(
            s"schema evolution: append drops column '${f.name}' " +
              "(add-column evolution only; missing columns are not implicit nulls on write)")
        }
      }
      org.apache.spark.sql.types.StructType(
        ps.fields ++ newSchema.fields.filterNot(nf => ps.fieldNames.contains(nf.name)))
  }


  /** All data files of a commit dir, as paths relative to it (hive
    * subdirs included), sorted for determinism.
    */
  /** On-disk parquet bytes of a snapshot — what the catalog scans report
    * as `sizeInBytes` so Spark's own cost decisions (broadcast selection,
    * DPP benefit, AQE) run on REAL numbers instead of the
    * assume-it's-huge default. O(#files) directory listing, zero footers.
    */
  def snapshotBytes(root: String, asOf: Option[Long] = None): Long =
    liveDirBytes(root, resolveSnapshot(root, asOf).dirs)

  /** On-disk parquet bytes of `dirs` — an O(#files) directory listing,
    * zero footer reads: the byte budget a size-targeted compaction
    * divides into `targetFileBytes`-sized output files.
    */
  private def liveDirBytes(root: String, dirs: Seq[String]): Long =
    dirs.map { d =>
      val dp = Paths.get(dirPath(root, d))
      if (!Files.isDirectory(dp)) 0L
      else {
        val w = Files.walk(dp)
        try w.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }.map(Files.size(_)).sum
        finally w.close()
      }
    }.sum

  private[io] def parquetFiles(dirPath: String): Seq[String] = {
    val rootP = Paths.get(dirPath)
    if (!Files.isDirectory(rootP)) return Nil
    val w = Files.walk(rootP)
    try w.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.map(p => rootP.relativize(p).toString).toSeq.sorted
    finally w.close()
  }

  /** Undo Spark's hive partition-path escaping (the
    * ExternalCatalogUtils.unescapePathName semantics: special chars like
    * ':' are stored as `%3A`): every `%` followed by two hex digits decodes
    * to that char; anything else passes through verbatim. Without this the
    * string envelope of a partition column would record ESCAPED values, and
    * a string-keyed merge/delete on a value containing `:`/`%`/etc. could
    * classify its dir as 'pass' and silently miss the row.
    */
  private[io] def unescapePathName(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16) catch {
          case _: NumberFormatException => -1
        }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse one hive path segment's RAW value (the text after `col=`)
    * into the declared type — THE one partition-value decode every
    * planner shares: NULL sentinel → Some(null), path-unescape,
    * Int/Long/String. None = unparseable; callers refuse or fall back,
    * never guess (a silently mis-decoded partition value would make
    * claim enforcement, grouping, and DDL all target the wrong rows).
    */
  private[graft] def hivePartValue(dt: org.apache.spark.sql.types.DataType,
                                   raw: String): Option[Any] = {
    import org.apache.spark.sql.types._
    if (raw == "__HIVE_DEFAULT_PARTITION__") return Some(null)
    val v = unescapePathName(raw)
    dt match {
      case IntegerType => v.toIntOption
      case LongType    => v.toLongOption
      case StringType  => Some(v)
      // hive writes DATE partition values as yyyy-MM-dd — exact round trip
      case DateType    => try Some(java.sql.Date.valueOf(v)) catch {
        case _: IllegalArgumentException => None
      }
      // hive writes TIMESTAMP partition values as the SESSION-timezone
      // string (Spark renders them via Cast-to-string when building the
      // path) — parse with Spark's own reader and the same session zone,
      // the exact inverse, yielding absolute micros regardless of zone
      case TimestampType =>
        val zone = java.time.ZoneId.of(
          scala.util.Try(SparkSession.active.sessionState.conf.sessionLocalTimeZone)
            .getOrElse("UTC"))
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(v), zone)
          .map(us => org.apache.spark.sql.catalyst.util.DateTimeUtils
            .toJavaTimestamp(us))
      // NTZ path values are the zone-free local datetime string — parse
      // with Spark's own NTZ reader (no zone involved on either side)
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestampWithoutTimeZone(
            org.apache.spark.unsafe.types.UTF8String.fromString(v))
          .map(us => org.apache.spark.sql.catalyst.util.DateTimeUtils
            .microsToLocalDateTime(us))
      case _           => None
    }
  }


  /** The dirs [[readPoint]] would scan: snapshot dirs whose bloom for
    * `colName` might contain `value`, plus all dirs lacking one (skipping
    * is an optimization, never a filter). The bitmap is loaded lazily from
    * the dir's `_bloom_<col>` side file — one small read per candidate dir,
    * never via the manifest; a missing side file (e.g. hand-deleted) just
    * disables skipping for that dir.
    */
  def planPoint(root: String, colName: String, value: Long,
                asOf: Option[Long] = None,
                resolved: Option[Commit] = None): Seq[String] = {
    val c = resolved.getOrElse(resolveSnapshot(root, asOf))
    val phys = physName(c, colName)
    c.dirs.filter { d =>
      val f = bloomFile(dirPath(root, d), phys)
      if (c.blooms.get(d).exists(_.contains(phys)) && Files.isRegularFile(f))
        bloomMightContain(Files.readString(f).trim, value)
      else true
    }
  }

  /** Bloom data-skipping POINT read: rows of the snapshot with
    * `colName = value`, scanning only the dirs whose bloom admits the value.
    * On an append-grown table keyed by a hash-distributed id — where every
    * commit's [min, max] spans the whole key domain and [[readRange]] can
    * never skip — this keeps point lookups O(dirs actually holding the key)
    * plus the bounded false-positive tail. The residual predicate is always
    * applied, so a false positive costs one extra dir scan, never a wrong
    * row.
    */
  def readPoint(spark: SparkSession, root: String, colName: String, value: Long,
                asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    // resolve the snapshot ONCE — one manifest parse for the whole lookup
    val c = resolveSnapshot(root, asOf)
    val kept = planPoint(root, colName, value, asOf, resolved = Some(c))
    val pred = col(physName(c, colName)) === value
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    toLogicalDf(c,
      if (kept.isEmpty)
        scanCommitDirs(spark, root, c, c.dirs)
          .limit(0).filter(pred)
      else scanWithDeletes(spark, root, c, kept).filter(pred))
  }

  /** The column's declared type in a snapshot, when the manifest recorded a
    * schema.
    */
  private def colTypeOf(schemaDdl: Option[String], colName: String)
      : Option[org.apache.spark.sql.types.DataType] =
    schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
      .flatMap(_.fields.find(_.name == colName)).map(_.dataType)

  /** A range bound as a typed Column literal: integral/string bounds pass
    * through; MICROS bounds against a timestamp column become foldable
    * timestamp literals (`timestamp_micros(v)`, NTZ-cast when the column is
    * TIMESTAMP_NTZ — identity under the UTC session), so the comparison
    * stays a plain literal predicate and parquet pushdown survives.
    */
  private def boundLit(dt: Option[org.apache.spark.sql.types.DataType], v: Any)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{expr, lit}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    dt match {
      case Some(TimestampType) =>
        expr(s"timestamp_micros(${v.asInstanceOf[Number].longValue}L)")
      case Some(TimestampNTZType) =>
        expr(s"cast(timestamp_micros(${v.asInstanceOf[Number].longValue}L) as timestamp_ntz)")
      case Some(org.apache.spark.sql.types.DateType) =>
        // DATE bounds travel as epoch days (the statsCols contract).
        // CLAMP before narrowing to int: open-ended ranges arrive as
        // Long.MinValue/MaxValue sentinels, and Number.intValue would
        // TRUNCATE them (Long.MaxValue.intValue == -1 → the residual
        // keep-predicate of a rewritten dir would silently delete
        // nothing). The clamp is ±400M epoch days (~year ±1.1M): wide
        // enough to bound every date Spark can round-trip — including
        // beyond-9999 dates, which DateType does represent — while
        // staying clear of the Int territory where Spark's own
        // Gregorian→Julian rebase (toJavaDate) overflows.
        val days = math.max(-400000000L,
          math.min(400000000L, v.asInstanceOf[Number].longValue)).toInt
        expr(s"date_from_unix_date($days)")
      case _ => lit(v)
    }
  }

  /** Data-skipping range read: rows of the snapshot with `lo <= colName <= hi`,
    * scanning ONLY the dirs whose manifest min/max overlaps the range (dirs
    * without stats are scanned — skipping is an optimization, never a filter).
    * On a time/id-ordered append-grown table this is the access path that
    * stays O(matching commits) instead of O(table): the manifest prunes at
    * the COMMIT granularity before Spark's own footer pruning sees a file.
    * The residual predicate is still applied, so correctness never depends
    * on the stats.
    */
  /** The dirs an `IS NULL` / `IS NOT NULL` predicate on `colName` must
    * scan, from the manifest NULL-COUNT index ([[gatherStats]]'s
    * `nullCounts`: per-dir (nulls, rows) of every statsCols column):
    * `wantNull = true` skips dirs whose count says ZERO nulls;
    * `wantNull = false` skips dirs that are ALL nulls (the
    * evolution-backfill shape: every dir written before a column was
    * added). Dirs without an entry scan — skipping is an optimization,
    * never a filter. One manifest parse; Delta's nullCount skipping.
    */
  def planNull(root: String, colName: String, wantNull: Boolean,
               asOf: Option[Long] = None,
               resolved: Option[Commit] = None): Seq[String] = {
    val c = resolved.getOrElse(resolveSnapshot(root, asOf))
    val phys = physName(c, colName)
    c.dirs.filter { d =>
      c.nullCounts.get(d).flatMap(_.get(phys)) match {
        case Some((nulls, rows)) => if (wantNull) nulls > 0 else nulls < rows
        case None => true
      }
    }
  }

  /** Data-skipping `IS [NOT] NULL` read: rows of the snapshot where
    * `colName` is (or is not) NULL, scanning ONLY the dirs [[planNull]]
    * keeps. The residual predicate is still applied, so correctness never
    * depends on the index. The `IS NULL` side serves the quality-audit
    * shape ("which rows never got the backfill?"); the `IS NOT NULL` side
    * skips whole pre-evolution dirs whose footer says the column is
    * all-NULL — but note pre-evolution dirs lack the column ENTIRELY
    * (NULL-backfilled at read), so they carry no count and still scan;
    * the skip applies to dirs that physically stored all-NULL values.
    */
  def readWhereNull(spark: SparkSession, root: String, colName: String,
                    wantNull: Boolean, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val c = resolveSnapshot(root, asOf)
    val phys = physName(c, colName)
    val kept = planNull(root, colName, wantNull, asOf, resolved = Some(c))
    val pred = if (wantNull) col(phys).isNull else col(phys).isNotNull
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    toLogicalDf(c,
      if (kept.isEmpty)
        scanCommitDirs(spark, root, c, c.dirs)
          .limit(0).filter(pred)
      else scanWithDeletes(spark, root, c, kept).filter(pred))
  }

  def readRange(spark: SparkSession, root: String, colName: String, lo: Long, hi: Long,
                asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    // resolve the snapshot ONCE, like readPoint — one manifest parse
    val c = resolveSnapshot(root, asOf)
    val phys = physName(c, colName)
    val kept = planRange(root, colName, lo, hi, asOf, resolved = Some(c))
    // timestamp columns take MICROS bounds (matching their footer
    // envelopes); the typed literal keeps the residual pushdown-friendly
    val dt = colTypeOf(c.schemaDdl, phys)
    val pred = col(phys) >= boundLit(dt, lo) && col(phys) <= boundLit(dt, hi)
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    toLogicalDf(c,
      if (kept.isEmpty)
        scanCommitDirs(spark, root, c, c.dirs)
          .limit(0).filter(pred)
      else scanWithDeletes(spark, root, c, kept,
        ds => scanDirsPruned(spark, root, c, ds, phys, lo, hi)).filter(pred))
  }

  /** The dirs [[readRange]] would scan: snapshot dirs whose [min, max] for
    * `colName` overlaps [lo, hi], plus all dirs lacking stats for it.
    */
  def planRange(root: String, colName: String, lo: Long, hi: Long,
                asOf: Option[Long] = None,
                resolved: Option[Commit] = None): Seq[String] = {
    val c = resolved.getOrElse(resolveSnapshot(root, asOf))
    val phys = physName(c, colName)
    c.dirs.filter { d =>
      c.stats.get(d).flatMap(_.get(phys)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None           => true // no stats: conservatively scan
      }
    }
  }

  /** The scan behind [[VersionedRelation]] (the `spark.read
    * .format("graft-versioned")` batch path): one snapshot resolution,
    * then EVERY pushed-down predicate prunes dirs — range bounds against
    * the manifest min/max envelopes, equality points additionally against
    * the per-dir blooms — with the surviving dir set the INTERSECTION
    * across predicates, and per-FILE skipping intersecting EVERY range
    * bound. Pruning here is an optimization, never a filter: the relation
    * declares every filter unhandled, so Spark re-applies them all above
    * this plan (and pushes them into the parquet row-group scan as usual).
    * Returns (frame, dirsKept, dirsTotal) — the counts are the
    * driver-visible proof the pushdown reached the manifest index.
    */
  private[graft] def scanForRelation(spark: SparkSession, root: String,
      asOf: Option[Long], ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Long)],
      nullProbes: Seq[(String, Boolean)] = Nil): (DataFrame, Int, Int) = {
    val c = resolveSnapshot(root, asOf)
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    var kept = c.dirs
    ranges.foreach { case (colName, lo, hi) =>
      val k = planRange(root, colName, lo, hi, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    points.foreach { case (colName, v) =>
      val k = planPoint(root, colName, v, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    nullProbes.foreach { case (colName, wantNull) =>
      val k = planNull(root, colName, wantNull, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    val df =
      if (kept.isEmpty)
        scanCommitDirs(spark, root, c, c.dirs)
          .limit(0)
      else if (ranges.nonEmpty)
        scanWithDeletes(spark, root, c, kept,
          ds => scanDirsPrunedMulti(spark, root, c, ds,
            ranges.map { case (n, lo, hi) => (physName(c, n), lo, hi) }))
      else scanWithDeletes(spark, root, c, kept)
    (toLogicalDf(c, df), kept.size, c.dirs.size)
  }

  /** TIMESTAMP AS OF resolution (the Delta/Iceberg form of time travel a
    * consumer uses when it knows WHEN, not which version): the LATEST
    * version whose manifest published at or before `tsMs`. Selection is by
    * version order, so modest publisher clock skew cannot resolve to a
    * non-latest snapshot; pre-timestamp manifests (no `committedAt` field)
    * never match, and a time before the first stamped commit fails loudly
    * rather than returning an arbitrary snapshot. Scans the log BACKWARD
    * from the tail and stops at the first (= highest-version) match, so
    * resolving a recent timestamp parses O(commits newer than it), not
    * the whole log.
    */
  def versionAsOfTimestamp(root: String, tsMs: Long): Long =
    manifestFiles(root).reverseIterator.map(readManifest)
      .find(c => c.committedAtMs > 0 && c.committedAtMs <= tsMs)
      .map(_.version)
      .getOrElse(sys.error(s"no commit published at or before epoch-ms $tsMs at $root"))

  def readAsOfTimestamp(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    read(spark, root, Some(versionAsOfTimestamp(root, tsMs)))

  /** Snapshot read. `asOf = None` reads the latest committed version; a
    * version that was never committed, or whose data a later `vacuum`
    * reclaimed, fails loudly rather than returning partial data.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val c = resolveSnapshot(root, asOf)
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    toLogicalDf(c, scanWithDeletes(spark, root, c, c.dirs))
  }

  /** Scan `dirs` of snapshot `c` with each dir's MERGE-ON-READ deletion
    * vectors applied: dirs are grouped by their covering delete-set list
    * (almost always one group), each group anti-joins its sets' key frames
    * (small by the MOR contract — broadcast), and the groups union. A dir
    * with no entry scans untouched, which is exactly what makes a
    * post-delete APPEND able to re-insert a purged key: the new dir is
    * never covered by an older delete.
    */
  private def scanWithDeletes(spark: SparkSession, root: String, c: Commit,
                              dirs: Seq[String],
                              scanGroup: Seq[String] => DataFrame = null): DataFrame = {
    val scan: Seq[String] => DataFrame =
      if (scanGroup != null) scanGroup
      else ds => scanCommitDirs(spark, root, c, ds)
    if (dirs.isEmpty || c.deletes.isEmpty || dirs.forall(d => !c.deletes.contains(d)))
      return scan(dirs)
    val groups = dirs.groupBy(d => c.deletes.getOrElse(d, Nil)).toSeq
      .sortBy(_._1.mkString(","))
    groups.map { case (sets, ds) =>
      val (posSets, keySets) = sets.partition(isPosSet)
      val base =
        if (posSets.isEmpty) scan(ds)
        else {
          // POSITIONAL vectors need the leaf parquet relation's hidden
          // `_metadata` columns, which do not survive the aligned group
          // scan — so covered dirs scan per dir, filter with the codegen'd
          // row-index predicate (NO join), then align exactly as the group
          // path would. Pos-covered dirs are few by the MOR contract, so
          // the per-dir scan split costs nothing at scale.
          val target = c.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
          val dv = loadPosDv(spark, root, posSets)
          withDriverListing(spark, ds.map(d => dirPath(root, d))) {
            ds.map { d =>
              alignTo(target, c.defaults, c.generated)(
                spark.read.parquet(dirPath(root, d))
                  .filter(org.apache.spark.sql.functions.not(posDeletedCol(d, dv))))
            }.reduce(_.unionByName(_))
          }
        }
      keySets.foldLeft(base) { (df, setName) =>
        val keyCol = c.deleteKeys.getOrElse(setName,
          sys.error(s"manifest references delete set $setName with no recorded key column"))
        val gone = org.apache.spark.sql.functions.broadcast(
          spark.read.parquet(dirPath(root, setName)).select(keyCol).distinct())
        // a USING join would move the key column first; keep the table's order
        df.join(gone, df(keyCol) === gone(keyCol), "left_anti")
      }
    }.reduce(_.unionByName(_))
  }

  /** Whether a delete-set reference names a POSITIONAL vector ([[
    * deleteWherePos]]'s `posdel/` layout) vs a key set (`deletes/`). The
    * kind is carried by the name so the coverage map, rewrite-absorb,
    * CDC-refusal, clone and vacuum machinery stay kind-agnostic; external
    * (shallow-clone) references keep their source layout, hence the
    * mid-path form.
    */
  private def isPosSet(n: String): Boolean =
    n.startsWith("posdel/") || n.contains("/posdel/")

  /** The file key of rows scanned from dir `d` — what a positional vector
    * records and what the read-side predicate matches:
    * `<dir's last path component>/<path under the dir>` (hive subdirs
    * included). Derived from `_metadata.file_path` by splitting at the
    * dir's last path component, which is unique in the path: attempt names
    * embed a version + commitId + random suffix, and hive segments below
    * always carry a `col=` prefix, so the LAST occurrence is the dir
    * itself. Keyed by the last component alone — NOT the manifest's `d`
    * spelling — so a shallow clone's external-ref rewrite
    * (`data/x` → `/src/data/x`) leaves recorded vectors valid.
    */
  private def fileKeyCol(d: String): Column = {
    import org.apache.spark.sql.functions.{col, concat, lit, substring_index}
    val last = d.substring(d.lastIndexOf('/') + 1)
    concat(lit(last + "/"),
      substring_index(col("_metadata.file_path"), "/" + last + "/", -1))
  }

  /** The read-side positional predicate of dir `d` under merged vectors
    * `dv`: true exactly for deleted (file, row_index) pairs. The RAW
    * `_metadata.file_path` feeds the expression; key normalization happens
    * inside its per-file memo, so the per-row cost is one UTF8String
    * equality + binary search with zero per-row allocation.
    */
  private def posDeletedCol(d: String, dv: Map[String, Array[Long]]): Column = {
    import org.apache.spark.sql.graftshim.GraftColumnBridge
    import org.apache.spark.sql.functions.col
    GraftColumnBridge.column(graft.functions.PosDeleted(
      GraftColumnBridge.expression(col("_metadata.file_path")),
      GraftColumnBridge.expression(col("_metadata.row_index")),
      d.substring(d.lastIndexOf('/') + 1), dv))
  }

  /** Per-set driver cache of loaded positional vectors: a set is IMMUTABLE
    * once written (attempt-named, never appended), so one load per JVM is
    * exact — without it every plan BUILD over a covered snapshot pays one
    * collect job per set (measured: ~0.1 s each, dominating repeat reads).
    * Bounded by the MOR contract (sets are few and small, metered, and
    * absorbed by compaction); a vacuumed set's entry is just dead memory.
    */
  private val posDvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Array[Long]]]()

  /** Per-set driver cache of key-form delete sets resolved for the keyed
    * scan, by (set path, key type): immutable for the same reason as
    * [[posDvCache]], so a set costs one collect job per JVM, not one per
    * plan build.
    */
  private val keySetCache =
    new java.util.concurrent.ConcurrentHashMap[(String, org.apache.spark.sql.types.DataType), Set[Any]]()

  /** The distinct non-null keys of the key-form delete set at `path`, column
    * `kc` cast to `dt`, as catalyst values of `dt`.
    */
  private def loadKeySet(spark: SparkSession, path: String, kc: String,
                         dt: org.apache.spark.sql.types.DataType): Set[Any] =
    keySetCache.computeIfAbsent((path, dt), _ => {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(dt)
      spark.read.parquet(path)
        .select(org.apache.spark.sql.functions.col(kc).cast(dt)).distinct().collect()
        .map(r => conv(r.get(0))).filter(_ != null).toSet
    })

  /** Driver-resolve `sets` into one merged (file → sorted positions) map.
    * O(pending positions) — small by the MOR contract and metered by
    * [[morStatus]]/[[morDetail]]; compaction absorbs it back to zero.
    */
  private def loadPosDv(spark: SparkSession, root: String,
                        sets: Seq[String]): Map[String, Array[Long]] = {
    val loaded = sets.map { sn =>
      posDvCache.computeIfAbsent(dirPath(root, sn), p =>
        spark.read.parquet(p).select("file", "pos").collect()
          .map(r => (r.getString(0), r.getLong(1)))
          .groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).sorted.toArray })
    }
    if (loaded.size == 1) loaded.head
    else loaded.flatMap(_.toSeq).groupBy(_._1).map { case (f, as) =>
      f -> as.flatMap(_._2).distinct.sorted.toArray
    }
  }

  /** Every pending positional vector of snapshot `c`, merged into one
    * (file key → sorted positions) map — what the DSv2 scans skip per file.
    */
  private def snapshotPosDv(spark: SparkSession, root: String,
                            c: Commit): Map[String, Array[Long]] = {
    val posSets = c.deletes.values.flatten.toSeq.distinct.filter(isPosSet)
    if (posSets.isEmpty) Map.empty else loadPosDv(spark, root, posSets)
  }

  /** The positional-vector file key of data file `full` in dir `d`. The key
    * must match the READ side byte-for-byte, and the read side derives it
    * from `_metadata.file_path` — a Hadoop Path URI, which percent-encodes
    * characters the raw filesystem name carries literally (a hive value
    * with a space reads back as %20). Encoding through the same Path.toUri
    * makes a vector recorded under this key found by PosDeleted on every
    * scan.
    */
  private def posFileKey(d: String, full: String): String = {
    val last = d.substring(d.lastIndexOf('/') + 1)
    val enc = new org.apache.hadoop.fs.Path(full).toUri.toString
    val marker = "/" + last + "/"
    val mi = enc.lastIndexOf(marker)
    if (mi < 0) last + "/" + full.substring(full.lastIndexOf(marker) + marker.length)
    else last + "/" + enc.substring(mi + marker.length)
  }

  /** Scan commit dirs under the snapshot's layout: flat dirs go through one
    * multi-path scan; hive-partitioned dirs are each their own layout root,
    * so per-dir scans recover the partition columns (and prune on them) and
    * the union keeps one schema.
    *
    * When the manifest recorded a snapshot schema, the scan DECLARES it:
    * parquet's standard evolution read path then backfills columns missing
    * from pre-evolution dirs as NULL (flat case — one multi-path scan, zero
    * per-dir work); partitioned dirs align per dir before the union. Time
    * travel to a pre-evolution version reads under THAT manifest's narrower
    * schema, so old snapshots keep their old shape.
    */
  private def alignTo(target: Option[org.apache.spark.sql.types.StructType],
                      defaults: Map[String, String] = Map.empty,
                      generated: Map[String, String] = Map.empty)
                     (df: DataFrame): DataFrame = target match {
    case None => df
    case Some(t) =>
      import org.apache.spark.sql.functions.{col => c, expr, lit}
      df.select(t.fields.map { f =>
        if (!df.columns.contains(f.name))
          // a file predating the column backfills its declared DEFAULT
          // (the column-defaults feature); a GENERATED column COMPUTES
          // from its expression (partition evolution to a transform
          // layout — pre-evolution dirs never stored the synthesized
          // key, but its value is fully determined by the row); NULL
          // otherwise — per input frame, so a post-declaration writer's
          // explicit NULL is never confused with a missing slot
          defaults.get(f.name).map(d => expr(d).cast(f.dataType).as(f.name))
            .orElse(generated.get(f.name)
              .map(g => expr(g).cast(f.dataType).as(f.name)))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        // hive partition-value inference may read `k=3` narrower than the
        // declared type (int vs the schema's bigint) — cast to the declared
        // type so era unions and pre/post-evolution dirs keep ONE schema
        else if (df.schema(f.name).dataType != f.dataType)
          c(f.name).cast(f.dataType).as(f.name)
        else c(f.name)
      }.toSeq: _*)
  }

  /** The hive layout of one data dir: its `dirLayouts` entry when partition
    * evolution recorded one, the snapshot's current `partitionCols`
    * otherwise.
    */
  private def layoutOf(c: Commit, d: String): Seq[String] =
    c.dirLayouts.getOrElse(d, c.partitionCols)

  /** Every column hive-materialized in ANY layout era of the snapshot —
    * the guard set for verbs that would break a path-baked column (rename,
    * drop, retype): the current layout plus every pre-evolution era still
    * referenced by a live dir.
    */
  private def hiveColsAnyEra(c: Commit): Set[String] =
    c.partitionCols.toSet ++ c.dirLayouts.valuesIterator.flatten

  /** [[scanDirs]] under PER-DIR layouts (partition evolution): dirs group by
    * their own hive layout era, each era scans exactly as a uniform
    * snapshot would, and the eras union under the declared schema (which
    * [[alignTo]] enforces per era — a column that is hive-materialized in
    * one era and file-materialized in another reads identically). The
    * overwhelmingly common single-era case short-circuits to the plain
    * scan, so evolution costs nothing until it is used.
    */
  private def scanCommitDirs(spark: SparkSession, root: String, c: Commit,
                             dirs: Seq[String]): DataFrame = {
    val groups = dirs.groupBy(d => layoutOf(c, d))
    // a dir-group whose era differs from the CURRENT layout may predate a
    // transform-evolution's synthesized column — those scans compute it
    // (alignTo); current-era dirs always carry every generated column
    def gensFor(lay: Seq[String]): Map[String, String] =
      if (lay != c.partitionCols) c.generated else Map.empty
    if (groups.size <= 1) {
      val lay = groups.keys.headOption.getOrElse(c.partitionCols)
      scanDirs(spark, dirs.map(d => dirPath(root, d)),
        lay, c.schemaDdl, c.defaults, gensFor(lay))
    } else {
      require(c.schemaDdl.nonEmpty,
        "mixed partition layouts require a recorded snapshot schema")
      groups.toSeq.sortBy(_._1.mkString(","))
        .map { case (lay, ds) =>
          scanDirs(spark, ds.map(d => dirPath(root, d)), lay, c.schemaDdl,
            c.defaults, gensFor(lay))
        }
        .reduce(_.unionByName(_))
    }
  }

  /** Run `body` (which eagerly constructs file-source relations — listing
    * happens inside `DataFrameReader.parquet`) with Spark's distributed
    * file-listing job DISABLED when every path lives on the LOCAL
    * filesystem. Above `parallelPartitionDiscovery.threshold` (default 32)
    * root paths/subdirectories, Spark launches one listing job whose task
    * count equals the path count — on a hive tree with thousands of tiny
    * partition dirs that is thousands of ~2 ms task launches to do ~50 µs
    * of POSIX readdir each (measured: 5-6 s vs 0.4 s for a 2 405-dir era,
    * OPTIMIZATION_r19.md §11). On a REMOTE store (hdfs/s3/abfs) the
    * distributed job is the right call — each list is a network RTT — so
    * non-local paths keep Spark's default behaviour untouched.
    *
    * This is the one place in graft that writes the config of a session it
    * did not make. Spark's `InMemoryFileIndex.bulkListLeafFiles` reads the
    * threshold only from the session's `SQLConf`, and `DataFrameReader` has
    * no option for it, so there is no per-read form; and the relations the
    * body builds must belong to the caller's session, so a private session
    * cannot stand in. The cost is a race: the key is saved, set and
    * restored around the body, so another thread reading or listing on the
    * same session meanwhile sees `Int.MaxValue`, and two overlapping calls
    * can interleave their save and restore, leaving one of them listing
    * with Spark's default or the session holding `Int.MaxValue` after both
    * return.
    */
  private def withDriverListing[T](spark: SparkSession, paths: Seq[String])(body: => T): T = {
    val local = paths.forall { p =>
      val scheme = try new java.net.URI(p).getScheme catch { case _: Exception => null }
      scheme == null || scheme == "file"
    }
    if (!local) return body
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def scanDirs(spark: SparkSession, dirs: Seq[String],
                       partitionCols: Seq[String],
                       schemaDdl: Option[String] = None,
                       defaults: Map[String, String] = Map.empty,
                       generated: Map[String, String] = Map.empty): DataFrame = {
    val target = schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
    if (dirs.isEmpty)
      // a fully-deleted snapshot: empty relation under the recorded schema
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        target.getOrElse(sys.error("empty snapshot with no recorded schema")))
    else if (partitionCols.isEmpty && defaults.isEmpty && generated.isEmpty)
      withDriverListing(spark, dirs) {
        target.map(t => spark.read.schema(t)).getOrElse(spark.read).parquet(dirs: _*)
      }
    else
      // per-dir union: hive recovery for partitioned dirs, and — when the
      // table declares column DEFAULTS (or evolution synthesized a
      // generated key) — per-dir backfill/compute (the flat schema-read
      // path would fill NULL for pre-declaration dirs)
      withDriverListing(spark, dirs) {
        dirs.map(d => alignTo(target, defaults, generated)(spark.read.parquet(d)))
          .reduce(_.unionByName(_))
      }
  }

  /** [[scanDirs]] with FILE-level pruning inside each kept dir: the
    * `_filestats` side file narrows each dir to the files whose envelope
    * overlaps EVERY bound in `bounds` — the intersection semantics of a
    * conjunctive predicate — with files lacking an entry always scanned.
    * At 100 TB the unit of skipping must be the file — one wide-range file
    * in a dir must not force the whole dir through Spark's scan — and this
    * prunes the explicit file list BEFORE a single footer is opened.
    * Partitioned dirs keep hive recovery via `basePath`.
    */
  private def scanDirsPruned(spark: SparkSession, root: String, c: Commit,
                             kept: Seq[String], colName: String,
                             lo: Long, hi: Long): DataFrame =
    scanDirsPrunedMulti(spark, root, c, kept, Seq((colName, lo, hi)))

  private def scanDirsPrunedMulti(spark: SparkSession, root: String, c: Commit,
                                  kept: Seq[String],
                                  bounds: Seq[(String, Long, Long)]): DataFrame = {
    val target = c.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
    // per dir: Some(relpaths) when a side file admits pruning; None = whole dir
    val parts: Seq[(String, String, Option[Seq[String]])] = kept.map { d =>
      val dp = dirPath(root, d)
      val pruned = readFileStats(dp).map { fs =>
        parquetFiles(dp).filter { rel =>
          bounds.forall { case (colName, lo, hi) =>
            fs.get(rel).flatMap(_.get(colName)).forall(_.overlapsLong(lo, hi))
          }
        }
      }
      (d, dp, pruned)
    }
    def emptyScan = scanCommitDirs(spark, root, c, kept)
      .limit(0)
    if (kept.forall(d => layoutOf(c, d).isEmpty) && c.defaults.isEmpty) {
      val paths = parts.flatMap {
        case (_, dp, None)     => Seq(dp)
        case (_, dp, Some(fs)) => fs.map(f => s"$dp/$f")
      }
      if (paths.isEmpty) emptyScan
      else withDriverListing(spark, paths) {
        target.map(t => spark.read.schema(t)).getOrElse(spark.read).parquet(paths: _*)
      }
    } else {
      // at least one dir is hive-partitioned (its own era's layout): each
      // dir scans under ITS base path so partition values recover, flat
      // dirs (a pre/post-evolution era) scan plainly, and alignTo pins one
      // declared schema across eras
      val dfs = withDriverListing(spark, parts.map(_._2)) {
        parts.flatMap {
          case (_, dp, None)      => Some(spark.read.parquet(dp))
          case (_, _, Some(Nil))  => None
          case (d, dp, Some(fs)) if layoutOf(c, d).isEmpty =>
            Some(spark.read.parquet(fs.map(f => s"$dp/$f"): _*))
          case (_, dp, Some(fs))  =>
            Some(spark.read.option("basePath", dp).parquet(fs.map(f => s"$dp/$f"): _*))
        }.map(alignTo(target, c.defaults, c.generated))
      }
      if (dfs.isEmpty) emptyScan else dfs.reduce(_.unionByName(_))
    }
  }

  /** File-granular plan of [[readRange]]: (files scanned, files total) over
    * the snapshot — the driver-visible proof that per-file skipping
    * composes on top of dir-level pruning.
    */
  def planRangeFiles(root: String, colName: String, lo: Long, hi: Long,
                     asOf: Option[Long] = None): (Int, Int) = {
    val c = resolveSnapshot(root, asOf)
    val phys = physName(c, colName)
    val total = c.dirs.map(d => parquetFiles(dirPath(root, d)).size).sum
    val keptDirs = planRange(root, colName, lo, hi, asOf, resolved = Some(c))
    val scanned = keptDirs.map { d =>
      val dp = dirPath(root, d)
      readFileStats(dp) match {
        case None     => parquetFiles(dp).size
        case Some(fs) => parquetFiles(dp).count(rel =>
          fs.get(rel).flatMap(_.get(phys)).forall(_.overlapsLong(lo, hi)))
      }
    }.sum
    (scanned, total)
  }

  /** Incremental (CDC-style) read: exactly the rows ADDED after `fromVersion`
    * up to and including `toVersion` — the data dirs in `toVersion`'s
    * snapshot that `fromVersion`'s lacks. This is what lets a downstream
    * pipeline consume an append-grown 100 TB table without ever rescanning
    * it: each incremental run reads O(new data), and the (from, to] contract
    * composes into exactly-once consumption when the consumer records `to`
    * as its cursor. Fails loudly if the range crosses an overwrite/rollback
    * (dirs REMOVED between the versions): row-level deltas of a replaced
    * snapshot are not expressible as a dir difference, and silently
    * returning only additions would corrupt the consumer.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(toVersion > fromVersion, s"empty or inverted range ($fromVersion, $toVersion]")
    // exactly TWO manifest parses — the endpoints; the log between them is
    // irrelevant to a dir-difference delta
    def commitOf(v: Long): Option[Commit] =
      if (v == 0L) None // version 0 = the empty table: the initial cursor
      else Some(commitAt(root, v).getOrElse(sys.error(s"version $v not in log at $root")))
    commitDelta(spark, root, commitOf(fromVersion), commitOf(toVersion).get) match {
      case Right(df) => df
      case Left(reason) => throw new IllegalArgumentException(
        s"($fromVersion, $toVersion] crosses $reason; " +
          "incremental reads are only defined over append-only ranges")
    }
  }

  /** The dir-difference delta of one commit pair — the shared core of
    * [[changesBetween]] and the streaming source's per-commit walk:
    * Right(delta DF) when (from → to] is APPEND-shaped (no dir removed, no
    * merge-on-read coverage change on a shared dir), Left(reason) when it
    * is not. `fromC = None` means the empty table (version-0 cursor).
    */
  private[graft] def commitDelta(spark: SparkSession, root: String,
                                 fromC: Option[Commit],
                                 toC: Commit): Either[String, DataFrame] = {
    val from = fromC.map(_.dirs.toSet).getOrElse(Set.empty[String])
    val to = toC.dirs
    val removed = from -- to.toSet
    if (removed.nonEmpty)
      return Left(s"an overwrite/rollback (removed: $removed)")
    // a MERGE-ON-READ delete changes the ROW SET of existing dirs without
    // touching the dir list — a dir-difference CDC cannot express rows
    // REMOVED from a shared dir, so any coverage change on one refuses
    val covFrom = fromC.map(_.deletes).getOrElse(Map.empty[String, Seq[String]])
    val covChanged = from.filter(d =>
      covFrom.getOrElse(d, Nil) != toC.deletes.getOrElse(d, Nil))
    if (covChanged.nonEmpty)
      return Left(s"a merge-on-read delete touching $covChanged")
    val added = to.filterNot(from.contains).map(d => dirPath(root, d))
    if (to.isEmpty && toC.schemaDdl.isEmpty)
      return Left("a pre-schema create commit (no rows, no shape yet)")
    added.foreach(d => require(new File(d).isDirectory,
      s"incremental range references vacuumed dir $d"))
    Right(toLogicalDf(toC,
      if (added.isEmpty)
        if (to.isEmpty) scanDirs(spark, Nil, toC.partitionCols, toC.schemaDdl)
        else scanCommitDirs(spark, root, toC, Seq(to.head)).limit(0)
      else {
        // added dirs apply `to`'s coverage: a dir appended THEN MOR-covered
        // inside the range delivers exactly its surviving rows
        val addedRel = to.filterNot(from.contains)
        scanWithDeletes(spark, root, toC, addedRel)
      }))
  }

  /** Commit modes whose row set is IDENTICAL to their parent's — compaction
    * (same rows, new layout) and the pure-metadata verbs. Their change feed
    * is empty by contract (diffing a compact would cost O(table), which is
    * exactly what knowing the mode avoids); note a rename/dropcol still
    * changes the SCHEMA, which a streaming reader surfaces as its
    * pinned-schema restart, and [[readChangeFeed]] skips outright.
    */
  private[graft] val metadataOnlyModes =
    Set("compact", "rename", "constraint", "dropcol", "create", "generated", "widen",
      "properties", "set-layout", "default", "analyze", "alter")

  /** Row-level CHANGE FEED of one commit (the public Delta CDF shape,
    * computed read-side): Right(rows in the table's column order +
    * `_change_type` ∈ {insert, update_preimage, update_postimage, delete}),
    * Left(reason) when the commit is not expressible as row changes.
    * Appends are pure inserts ([[commitDelta]]); [[metadataOnlyModes]] emit
    * nothing; overwrite/rollback/clone refuse (whole-snapshot replacement
    * has no bounded row-delta form). A rewrite commit is diffed
    * ([[rowChanges]]) over ONLY its touched region — the dirs it removed,
    * added, or newly covered with merge-on-read deletes — so the feed costs
    * O(rewritten data), the same class as the rewrite itself, never O(table).
    */
  private[graft] def changeFeedOfCommit(spark: SparkSession, root: String,
                                        fromC: Option[Commit], toC: Commit,
                                        keyCol: String): Either[String, DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val ct = "_change_type"
    commitDelta(spark, root, fromC, toC) match {
      case Right(df) => return Right(df.withColumn(ct, lit("insert")))
      case Left(_) => ()
    }
    // non-append-shaped with no parent cannot happen (v1 is always a plain
    // commit), but guard anyway
    val f = fromC.getOrElse(return Left("a non-append first commit"))
    toC.mode match {
      case m if metadataOnlyModes.contains(m) =>
        Right(toLogicalDf(toC, scanDirs(spark, Nil, toC.partitionCols, toC.schemaDdl))
          .withColumn(ct, lit("")).limit(0))
      case "merge" | "delete" | "delete-mor" | "delete-pos" | "update"
         | "delta-update" | "delta-delete" | "delta-merge" =>
        // delta-DML commits (one positional vector + optionally one new-rows
        // dir) diff like every other row-level mode: covChanged dirs re-scan
        // under both coverages, where their survivor copies cancel
        val fromDirs = f.dirs.toSet
        val removed = f.dirs.filterNot(toC.dirs.contains)
        val added = toC.dirs.filterNot(fromDirs.contains)
        val covChanged = toC.dirs.filter(d => fromDirs.contains(d) &&
          f.deletes.getOrElse(d, Nil) != toC.deletes.getOrElse(d, Nil))
        (removed ++ covChanged).foreach(d =>
          require(new File(dirPath(root, d)).isDirectory,
            s"change feed across v${toC.version} references vacuumed dir ${dirPath(root, d)}"))
        val old = toLogicalDf(f, scanWithDeletes(spark, root, f, removed ++ covChanged))
        val neu = toLogicalDf(toC, scanWithDeletes(spark, root, toC, added ++ covChanged))
        if (old.columns.toSeq != neu.columns.toSeq)
          return Left("a schema change inside a rewrite commit")
        Right(rowChanges(old, neu, keyCol))
      case other =>
        Left(s"a '$other' commit (whole-snapshot replacement has no row-level change form)")
    }
  }

  /** The row changes from multiset `old` to multiset `neu` (same columns,
    * emitted in `old`'s order plus `_change_type`) as one lazy plan with one
    * shuffle: old rows tagged −1 and new rows +1 hash-partition once on
    * `keyCol`; per full row `net` = new − old copies, so survivor copies
    * cancel (`EXCEPT ALL` both ways, in Spark's own aggregate form); a window
    * on the same partitioning says whether the key has old rows and new
    * rows (a NULL key has neither). Each row with `net ≠ 0` is emitted |net|
    * times: a surplus new row is update_postimage if its key had old rows,
    * else insert; a surplus old row update_preimage if the key has new rows,
    * else delete.
    */
  private[graft] def rowChanges(old: DataFrame, neu: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{abs, array_repeat, col, explode, lit, max, min, sum, when}
    val (side, net) = ("__cdf_side", col("__cdf_net"))
    val byKey = Window.partitionBy(col(keyCol))
    val keyed = col(keyCol).isNotNull
    val row = old.columns.toSeq.map(col)
    old.withColumn(side, lit(-1)).unionByName(neu.withColumn(side, lit(1)))
      .repartition(col(keyCol))
      .groupBy(row: _*)
      .agg(sum(side).as("__cdf_net"), min(side).as("__cdf_lo"), max(side).as("__cdf_hi"))
      .withColumn("__cdf_had", keyed && min("__cdf_lo").over(byKey) < 0)
      .withColumn("__cdf_has", keyed && max("__cdf_hi").over(byKey) > 0)
      .filter(net =!= 0)
      .withColumn("__cdf_copy", explode(array_repeat(lit(0), abs(net).cast("int"))))
      .select(row :+ when(net > 0,
        when(col("__cdf_had"), "update_postimage").otherwise("insert"))
        .otherwise(when(col("__cdf_has"), "update_preimage").otherwise("delete"))
        .as("_change_type"): _*)
  }

  /** Batch CHANGE FEED over a version range (Delta's `table_changes(...)`
    * form): the union of [[changeFeedOfCommit]] for every version in
    * (fromVersion, toVersion], each commit tagged with `_commit_version` —
    * the bounded-cost generalization of [[changesBetween]] that a
    * downstream materializer reads when the range contains MERGEs and
    * DELETEs (which changesBetween must refuse). One manifest parse per
    * version; each rewrite commit is diffed over only its touched dirs.
    * Fails loudly on a commit with no row-level form (overwrite/rollback)
    * — the caller splits the range at it, exactly as with Delta.
    */
  def readChangeFeed(spark: SparkSession, root: String, fromVersion: Long,
                     toVersion: Long, keyCol: String): DataFrame = {
    require(toVersion > fromVersion, s"empty or inverted range ($fromVersion, $toVersion]")
    import org.apache.spark.sql.functions.lit
    var prev: Option[Commit] =
      if (fromVersion == 0L) None
      else Some(commitAt(root, fromVersion).getOrElse(
        sys.error(s"version $fromVersion not in log at $root")))
    val parts = Seq.newBuilder[DataFrame]
    var last: Commit = null
    (fromVersion + 1) to toVersion foreach { v =>
      val c = commitAt(root, v).getOrElse(sys.error(s"version $v not in log at $root"))
      // metadata-only commits contribute no rows and are SKIPPED rather
      // than unioned as empty frames — an empty frame still carries its
      // commit's schema, and a rename/dropcol inside the range would make
      // the union fail on shape even though no row of the feed changed
      if (!metadataOnlyModes.contains(c.mode))
        changeFeedOfCommit(spark, root, prev, c, keyCol) match {
          case Right(df) => parts += df.withColumn("_commit_version", lit(v))
          case Left(reason) => sys.error(
            s"change feed over ($fromVersion, $toVersion]: version $v is $reason; " +
              "split the range at it")
        }
      prev = Some(c)
      last = c
    }
    val dfs = parts.result()
    if (dfs.nonEmpty) dfs.reduce(_.unionByName(_))
    else
      // a range of pure metadata commits: empty feed under the END schema
      toLogicalDf(last, scanDirs(spark, Nil, last.partitionCols, last.schemaDdl))
        .withColumn("_change_type", lit("")).withColumn("_commit_version", lit(0L))
        .limit(0)
  }

  /** MERGE INTO with DIR-LEVEL COPY-ON-WRITE (the Delta MERGE shape at this
    * log's commit-dir granularity): apply an upsert batch — rows of
    * `updates` replace same-key rows, unmatched update rows insert — while
    * REWRITING ONLY the data dirs whose manifest [min, max] for `keyCol`
    * overlaps the batch's key range. Untouched dirs carry into the new
    * manifest BY REFERENCE, with their stats and blooms; the rewritten
    * span plus all inserts land as one fresh dir.
    *
    * This is the operation that makes point-updates affordable on an
    * append-grown 100 TB table: with time/id-correlated commits and a
    * recent-keyed batch (the overwhelmingly common CDC shape), the
    * key-range gate prunes old history to pass-through references and the
    * rewrite cost is O(matched commits + batch), not O(table). Dirs
    * without stats rewrite conservatively — pruning is an optimization,
    * never a correctness input, because the range gate can only ADD dirs
    * to the rewrite set. Pinned-parent publication like [[compact]]: if
    * any writer advances the log mid-rewrite we fail loudly; idempotent
    * under commitId retry. Returns (version, dirsRewritten, dirsTotal).
    */
  /** The dirs of `parent` whose envelope for `keyCol` overlaps the key
    * range of `probe` — the shared copy-on-write gate of [[mergeInto]] and
    * [[deleteWhere]]. Integral keys compare against the manifest `stats`
    * index, string keys against `strStats` (lexicographic UTF-8 — the
    * ordering parquet footers record); dirs without an entry are
    * conservatively IN (pruning is an optimization, never a correctness
    * input). The probe is one bounded 2-scalar aggregate. Returns
    * (hitDirs, passDirs); fails loudly on an empty probe or a non-gateable
    * key type.
    */
  /** Key-count ceiling for the bloom refinement below: up to this many
    * distinct batch keys are collected to the driver (64 k longs = 512 KB)
    * and probed against per-dir blooms. Above it the envelope gate stands
    * alone — correctness never depends on the refinement.
    */
  private val maxBloomProbeKeys = 65536

  /** The one-row-per-key batch guard shared by [[mergeInto]], CDC apply,
    * and the streaming merge sink's BOOTSTRAP path (a first batch commits
    * verbatim, so an unguarded bootstrap would persist duplicate/NULL keys
    * silently and every later merge would update/anti-join ambiguously).
    * Duplicate batch keys would multiply through the anti-join + union
    * into duplicate rows ('replace same-key rows' silently broken); NULL
    * batch keys are refused alongside duplicates because an anti-join can
    * never match NULL, so such a row would silently re-INSERT on every
    * merge (unbounded NULL-key duplication across batches). Both refuse
    * loudly, executor-side, before anything is written. The guard lives
    * in a FILTER predicate, not a dropped column — a projected-then-
    * dropped raise_error would be pruned unevaluated.
    */
  private[graft] def guardMergeBatch(updates: DataFrame, keyCol: String,
                                     op: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, count, lit, raise_error, when}
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    updates
      .withColumn("__n", count(lit(1)).over(w))
      .filter(when(col(keyCol).isNull,
          raise_error(lit(s"$op: NULL batch key (an anti-join never matches " +
            "NULL, so the row would re-insert on every merge)")).cast("boolean"))
        .when(col("__n") > 1,
          raise_error(concat(lit(s"$op: duplicate batch key "),
            col(keyCol).cast("string"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__n")
  }

  private def rangeHitDirs(root: String, parent: Commit, probe: DataFrame, keyCol: String,
                           op: String): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    probe.schema(keyCol).dataType match {
      case LongType | IntegerType =>
        val r = probe.agg(min(col(keyCol).cast("long")), max(col(keyCol).cast("long"))).head()
        require(!r.isNullAt(0), s"$op: empty batch")
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        val (hit, pass) = parent.dirs.partition { d =>
          parent.stats.get(d).flatMap(_.get(keyCol)) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None           => true
          }
        }
        // BLOOM refinement: on a hash-distributed key every commit's
        // [min, max] spans the whole domain and the envelope gate rewrites
        // EVERYTHING — exactly the readPoint problem the per-dir blooms
        // solve. For a bounded batch, collect the distinct keys once and
        // keep only the envelope-hit dirs whose bloom admits at least one
        // key; a false positive costs one extra dir rewrite, never a wrong
        // row, and a dir without a bloom always stays hit. Positions are
        // cached per (key, filter-size) so the probe is one md5 set per
        // key, not per key×dir.
        val bloomable = hit.filter(d => parent.blooms.get(d).exists(_.contains(keyCol)) &&
          Files.isRegularFile(bloomFile(dirPath(root, d), keyCol))).toSet
        if (bloomable.isEmpty) (hit, pass)
        else {
          val keys = probe.select(col(keyCol).cast("long").as("k")).distinct()
            .limit(maxBloomProbeKeys + 1).collect().map(_.getLong(0))
          if (keys.length > maxBloomProbeKeys) (hit, pass)
          else {
            val posCache = scala.collection.mutable.Map[Int, Array[Seq[Int]]]()
            def admitsAny(d: String): Boolean = {
              val hex = Files.readString(bloomFile(dirPath(root, d), keyCol)).trim
              val bits = hex.length * 4
              val pos = posCache.getOrElseUpdate(bits, keys.map(k => bloomPositions(k, bits)))
              pos.exists(_.forall { p =>
                val b = Integer.parseInt(hex.substring(2 * (p / 8), 2 * (p / 8) + 2), 16)
                (b & (1 << (p % 8))) != 0
              })
            }
            val admit = bloomable.iterator.map(d => d -> admitsAny(d)).toMap
            (hit.filter(d => !bloomable.contains(d) || admit(d)),
              pass ++ hit.filter(d => bloomable.contains(d) && !admit(d)))
          }
        }
      case StringType =>
        val r = probe.agg(min(col(keyCol)), max(col(keyCol))).head()
        require(!r.isNullAt(0), s"$op: empty batch")
        // Spark's string min/max order by unsigned UTF-8 bytes, matching
        // the parquet-footer envelopes ONLY under utf8Compare — Java
        // String ordering here could 'pass' a dir that holds a batch key
        val (lo, hi) = (r.getString(0), r.getString(1))
        parent.dirs.partition { d =>
          parent.strStats.get(d).flatMap(_.get(keyCol)) match {
            case Some((mn, mx)) => utf8Compare(mx, lo) >= 0 && utf8Compare(mn, hi) <= 0
            case None           => true
          }
        }
      case other => sys.error(s"$op requires an integral or string key column, got $keyCol: $other")
    }
  }

  /** The MOR delete coverage surviving a copy-on-write rewrite: entries of
    * dirs that pass by reference, with `deleteKeys` pruned to still-
    * referenced sets (the rewritten dirs' coverage is ABSORBED — their
    * replacement was scanned deletes-applied).
    */
  private def carriedDeletes(parent: Commit, keptDirs: Seq[String])
      : (Map[String, Seq[String]], Map[String, String]) = {
    val del = parent.deletes.filter { case (d, _) => keptDirs.contains(d) }
    val refd = del.values.flatten.toSet
    (del, parent.deleteKeys.filter { case (k, _) => refd.contains(k) })
  }

  /** Test seam: invoked exactly once, immediately before a copy-on-write
    * rewrite's FIRST publish attempt — lets a spec interleave a concurrent
    * commit deterministically between data write and publication. Cleared
    * on use; a no-op in production.
    */
  @volatile private[graft] var onBeforeRewritePublish: () => Unit = () => ()

  /** Publish a copy-on-write rewrite with CONFLICT-AWARE OCC (the Delta
    * WriteSerializable idea at this log's dir granularity). The rewrite
    * read `rewritten` dirs (under `pinned`'s MOR coverage), classified
    * `droppedDirs` as metadata-only removals, and replaced both with
    * `survivorsDir`. If another writer advanced the log before our publish,
    * the rewrite REBASES onto the new latest instead of discarding itself —
    * valid iff the advanced commits are provably DISJOINT from what was
    * read and written:
    *
    *  - every REWRITTEN dir is still present in the latest snapshot with
    *    MOR coverage IDENTICAL to what was scanned (changed coverage means
    *    the survivors were computed with stale deletion vectors; a missing
    *    dir means someone else rewrote the same data — a rebase would
    *    duplicate its rows). Dropped dirs may vanish: removing them is the
    *    goal, and a concurrent replacement surfaces through the new-dir
    *    conflict test below;
    *  - schema and hive layout are unchanged;
    *  - no dir the advanced commits ADDED conflicts with the rewrite's key
    *    predicate (`conflictDirs` — an envelope/bloom/range test supplied
    *    by the verb): a concurrent append of a matching key would make a
    *    rebased DELETE un-serializable (committed after the append, it
    *    claims those rows are gone) and a rebased MERGE key-duplicating.
    *
    * Disjoint advance: the manifest is rebuilt FROM THE LATEST snapshot —
    * untouched dirs carry latest's stats/blooms/coverage — and republished
    * at the next slot; both writers' commits land, no rewrite re-runs.
    * Conflicting advance: fail loudly exactly as before (the caller
    * re-runs against the new snapshot; the orphan dir is
    * vacuum-reclaimable). Idempotent: a racing retry twin resolving to our
    * `commitId` short-circuits to its version.
    */
  private def publishRewriteRebasing(root: String, pinned: Commit,
      rewritten: Seq[String], droppedDirs: Seq[String],
      survivorsDir: Option[String], dirStats: DirStats, dirBlooms: Seq[String],
      mode: String, commitId: String, op: String, schemaDdl: Option[String],
      conflictDirs: (Commit, Seq[String]) => Seq[String]): Long = {
    val hook = onBeforeRewritePublish
    onBeforeRewritePublish = () => ()
    hook()
    val removed = (rewritten ++ droppedDirs).toSet
    var parent = pinned
    var out = -1L
    while (out < 0) {
      val pass = parent.dirs.filterNot(removed.contains)
      val v = parent.version + 1
      val keptStats = parent.stats.filter { case (d, _) => pass.contains(d) }
      val keptStrStats = parent.strStats.filter { case (d, _) => pass.contains(d) }
      val keptBlooms = parent.blooms.filter { case (d, _) => pass.contains(d) }
      val keptNulls = parent.nullCounts.filter { case (d, _) => pass.contains(d) }
      val (cd, cdk) = carriedDeletes(parent, pass)
      val c = Commit(v, commitId, mode, pass ++ survivorsDir,
        survivorsDir.filter(_ => dirStats.ints.nonEmpty)
          .fold(keptStats)(d => keptStats + (d -> dirStats.ints)),
        survivorsDir.filter(_ => dirStats.strs.nonEmpty)
          .fold(keptStrStats)(d => keptStrStats + (d -> dirStats.strs)),
        parent.partitionCols,
        survivorsDir.filter(_ => dirBlooms.nonEmpty)
          .fold(keptBlooms)(d => keptBlooms + (d -> dirBlooms)),
        schemaDdl, deletes = cd, deleteKeys = cdk, nameMap = parent.nameMap,
        constraints = parent.constraints, notNull = parent.notNull,
        dropped = parent.dropped,
        generated = parent.generated,
        nullCounts = survivorsDir.filter(_ => dirStats.nulls.nonEmpty)
          .fold(keptNulls)(d => keptNulls + (d -> dirStats.nulls)),
        props = parent.props, identity = parent.identity,
        // survivors are written in the CURRENT layout (Iceberg's rewrite
        // rule — the DSv2 row-level write's dynamic partition writers
        // emit the same hive subpaths), so only passed-through dirs keep
        // their era entries
        dirLayouts = parent.dirLayouts.filter { case (d, _) => pass.contains(d) },
        defaults = parent.defaults)
      if (publishIfAbsent(root, v, c)) out = v
      else findCommitVersion(root, commitId) match {
        case Some(pv) => out = pv // a retry twin of us won the slot
        case None =>
          val latest = latestCommit(root).get
          val missing = rewritten.filterNot(latest.dirs.contains)
          val covChanged = rewritten.filter(d =>
            latest.deletes.getOrElse(d, Nil) != pinned.deletes.getOrElse(d, Nil))
          val newDirs = latest.dirs.filterNot(parent.dirs.contains)
          val conflicts = if (newDirs.isEmpty) Nil else conflictDirs(latest, newDirs)
          val schemaMoved = latest.schemaDdl != pinned.schemaDdl ||
            latest.partitionCols != pinned.partitionCols ||
            latest.nameMap != pinned.nameMap ||
            latest.dropped != pinned.dropped
          if (missing.nonEmpty || covChanged.nonEmpty || schemaMoved || conflicts.nonEmpty)
            sys.error(s"$op: log advanced past v${pinned.version} with a CONFLICTING " +
              s"commit (rewrittenMissing=$missing, coverageChanged=$covChanged, " +
              s"schemaOrLayoutMoved=$schemaMoved, keyOverlappingNewDirs=$conflicts); " +
              "re-run against the new snapshot (orphaned dir is vacuum-reclaimable)")
          parent = latest // disjoint advance: rebase and republish
      }
    }
    out
  }

  def mergeInto(spark: SparkSession, root: String, updates: DataFrame,
                keyCol: String, commitId: String,
                statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int) =
    mergeIntoCore(spark, root, updates, Seq(keyCol), commitId, statsCols, bloomCols)

  /** COMPOSITE-KEY MERGE — [[mergeInto]]'s plain upsert generalized to a
    * conjunctive multi-column key (`ON a AND b`, the natural-key shape):
    * one row per (a, b) tuple, matched rows replaced, unmatched inserted.
    * Dir pruning INTERSECTS the per-column envelope/bloom gates — a dir
    * can hold a matching tuple only if EVERY key column's envelope
    * overlaps that column's batch range — so composite keys prune at
    * least as hard as their tightest column (conservative and exact:
    * skipping is an optimization, never a filter). NULL in ANY key column
    * and duplicate TUPLES refuse loudly; the rebase conflict test applies
    * the same intersected gate to concurrently-added dirs.
    */
  def mergeIntoKeys(spark: SparkSession, root: String, updates: DataFrame,
                    keyCols: Seq[String], commitId: String,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    require(keyCols.nonEmpty && keyCols.distinct.size == keyCols.size,
      s"mergeIntoKeys: keys must be non-empty and distinct, got ${keyCols.mkString(", ")}")
    mergeIntoCore(spark, root, updates, keyCols, commitId, statsCols, bloomCols)
  }

  private def mergeIntoCore(spark: SparkSession, root: String, updates: DataFrame,
                            keyCols: Seq[String], commitId: String,
                            statsCols: Seq[String], bloomCols: Seq[String]): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed merge
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"mergeInto: no commits at $root"))
        requireNoIdentity(parent, "mergeInto")
        // GENERATED columns materialize/enforce first, so a batch lacking
        // one still passes the exact-schema gate below and a batch carrying
        // a disagreeing value refuses before any dir is classified
        val updatesG = materializeGenerated(parent.generated, updates, "mergeInto")
        // batch columns arrive LOGICAL; everything below operates PHYSICAL
        val updPhys = toPhysicalDf(parent, updatesG)
        val physKeys = keyCols.map(physName(parent, _))
        // the batch schema must match the snapshot's EXACTLY (name → type):
        // merge is not schema evolution, and the no-overlap fast path below
        // writes the batch verbatim under the parent's declared schema — an
        // unvalidated column drop would silently NULL-backfill on read and
        // a type change would corrupt the scan, both after publication
        parent.schemaDdl.foreach { pd =>
          val ps = org.apache.spark.sql.types.StructType.fromDDL(pd)
          val want = ps.fields.map(f => f.name -> f.dataType.sql).toMap
          val got = updPhys.schema.fields.map(f => f.name -> f.dataType.sql).toMap
          require(want == got,
            s"mergeInto: batch schema ${got.toSeq.sorted} must equal the snapshot schema " +
              s"${want.toSeq.sorted} (use commit(mode=append) for add-column evolution)")
        }
        // CHECK constraints are over LOGICAL names — validate the incoming
        // batch before any data is written or any dir classified
        enforceConstraints(effectiveChecks(parent), updatesG, "mergeInto")
        val guarded = guardMergeBatchKeys(updPhys, physKeys, "mergeInto")
        // bounded scalar probe per key column; a dir must overlap EVERY
        // column's batch envelope to hold a matching tuple — intersect
        val (hit, pass) = rangeHitDirsKeys(root, parent, guarded, physKeys, "mergeInto")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val merged =
          if (hit.isEmpty) guarded
          else {
            // hit dirs scan with their MOR deletes APPLIED — the rewrite
            // must not resurrect rows an earlier merge-on-read delete hid
            val base = scanWithDeletes(spark, root, parent, hit)
            base.join(
                org.apache.spark.sql.functions.broadcast(
                  guarded.select(physKeys.map(col): _*)),
                physKeys, "left_anti")
              .unionByName(guarded)
          }
        var w = dstSafePartitions(merged, parent.partitionCols).write.mode("overwrite")
        if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
        w.parquet(s"$root/$dirName")
        val dirStats = gatherStats(spark, s"$root/$dirName",
          statsCols.map(physName(parent, _)), merged.schema)
        val dirBlooms = gatherBlooms(spark, s"$root/$dirName",
          bloomCols.map(physName(parent, _)))
        // conflict test for rebase: a dir added by a concurrent commit
        // conflicts iff its envelope/bloom admits any batch key (a rebased
        // merge over it would leave duplicate keys)
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = Some(dirName), dirStats, dirBlooms,
          "merge", commitId, "mergeInto",
          parent.schemaDdl.orElse(Some(updPhys.schema.toDDL)),
          (latest, newDirs) =>
            rangeHitDirsKeys(root, latest.copy(dirs = newDirs), guarded,
              physKeys, "mergeInto")._1)
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** [[guardMergeBatch]] over a composite key: NULL in ANY key column and
    * duplicate TUPLES refuse loudly, same filter-predicate raise_error
    * shape so codegen cannot prune the check.
    */
  private[graft] def guardMergeBatchKeys(updates: DataFrame, keyCols: Seq[String],
                                         op: String): DataFrame = {
    if (keyCols.size == 1) return guardMergeBatch(updates, keyCols.head, op)
    import org.apache.spark.sql.functions.{col, concat, concat_ws, count, lit, raise_error, when}
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    updates
      .withColumn("__n", count(lit(1)).over(w))
      .filter(when(keyCols.map(col(_).isNull).reduce(_ || _),
          raise_error(lit(s"$op: NULL batch key component (an anti-join never matches " +
            "NULL, so the row would re-insert on every merge)")).cast("boolean"))
        .when(col("__n") > 1,
          raise_error(concat(lit(s"$op: duplicate batch key "),
            concat_ws(",", keyCols.map(col(_).cast("string")): _*))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__n")
  }

  /** [[rangeHitDirs]] over a composite key: the hit set is the
    * INTERSECTION of every key column's envelope/bloom hit set — a dir
    * can hold a matching tuple only if it overlaps the batch on EVERY
    * component. (Per-column gates are each conservative, so their
    * intersection is too.)
    */
  private def rangeHitDirsKeys(root: String, parent: Commit, probe: DataFrame,
                               keyCols: Seq[String],
                               op: String): (Seq[String], Seq[String]) = {
    if (keyCols.size == 1) return rangeHitDirs(root, parent, probe, keyCols.head, op)
    val hits = keyCols.map(k => rangeHitDirs(root, parent, probe, k, op)._1.toSet)
    val hit = parent.dirs.filter(d => hits.forall(_.contains(d)))
    (hit, parent.dirs.filterNot(hit.toSet))
  }

  /** COPY INTO — idempotent FILE-GRANULAR ingestion (the public Delta /
    * Databricks `COPY INTO` semantics): load every file matching `glob`
    * that has not already been loaded, as ONE append commit; files seen
    * before are SKIPPED, so re-running after new files arrive loads
    * exactly the delta — the cron-driven landing-zone drain pattern.
    * Idempotence is per FILE, tracked by content-addressed marker side
    * files under `ingest/` (md5 of the source path → {path, commitId}):
    * O(1) driver check per candidate, nothing added to the manifest, so
    * the commit log stays KB-sized however many files ever load. A marker
    * counts only when its commitId actually COMMITTED — a crashed attempt
    * leaves markers pointing at no committed version and its files reload
    * under the retried commitId. The crash window between commit and
    * marker writes SELF-HEALS: an `attempt-<commitId>.json` manifest
    * written BEFORE the commit records exactly which files that commit
    * loads, and every copyInto run first sweeps attempt manifests whose
    * commitId committed, writing the missing markers and retiring the
    * manifest — so the next run (same commitId, a DIFFERENT commitId, or
    * the SQL statement's UUID ids) can never double-load them, while a
    * file that arrived AFTER the crashed attempt is not in its manifest
    * and can never be falsely marked by it. The batch takes the standard append path through
    * [[commit]], so schema-evolution rules, CHECK constraints, generated
    * columns, and stats/bloom gathering all apply unchanged; `ingest/` is
    * outside vacuum's sweep roots (`data/`, `deletes/`) by construction.
    *
    * Returns (version, filesLoaded, filesSkipped); a run with no new
    * files publishes NOTHING and returns the current version.
    */
  def copyInto(spark: SparkSession, root: String, glob: String, commitId: String,
               format: String = "parquet", statsCols: Seq[String] = Nil,
               bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val gp = new org.apache.hadoop.fs.Path(glob)
    val files = Option(gp.getFileSystem(conf).globStatus(gp))
      .getOrElse(Array.empty).filter(_.isFile)
      .map(_.getPath.toUri.getPath).sorted.toSeq
    require(files.nonEmpty, s"copyInto: no files match $glob")
    val ingestDir = Paths.get(root, "ingest")
    Files.createDirectories(ingestDir)
    def markerOf(path: String) = ingestDir.resolve(
      java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString + ".json")
    def writeMarker(path: String, cid: String): Unit = {
      val n = mapper.createObjectNode()
      n.put("path", path); n.put("commitId", cid)
      val tmp = Files.createTempFile(ingestDir, "m", ".tmp")
      Files.write(tmp, mapper.writeValueAsString(n).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, markerOf(path), java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // SELF-HEAL pass: an attempt manifest whose commitId COMMITTED but
    // whose files lack markers is a crashed post-commit window from any
    // earlier run — mark its files now (and retire the manifest), so they
    // can never re-load even if the caller retries under a DIFFERENT
    // commitId (the SQL statement's UUID ids rely on this). An attempt
    // whose commitId never committed stays: its run may be in flight.
    val attemptListing = Files.list(ingestDir)
    val attempts =
      try attemptListing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("attempt-")).toSeq
      finally attemptListing.close()
    attempts.foreach { af =>
      val cid = af.getFileName.toString.stripPrefix("attempt-").stripSuffix(".json")
      if (findCommitVersion(root, cid).isDefined) {
        mapper.readTree(Files.readString(af)).get("files").elements().asScala
          .map(_.asText).foreach(p => if (!Files.isRegularFile(markerOf(p)))
            writeMarker(p, cid))
        Files.deleteIfExists(af): Unit
      }
    }
    def alreadyLoaded(path: String): Boolean = {
      val m = markerOf(path)
      Files.isRegularFile(m) && {
        val n = mapper.readTree(Files.readString(m))
        Option(n.get("commitId")).map(_.asText)
          .exists(cid => findCommitVersion(root, cid).isDefined)
      }
    }
    val (skipped, fresh0) = files.partition(alreadyLoaded)
    if (fresh0.isEmpty)
      return (latestVersion(root).getOrElse(
        sys.error(s"copyInto: every file of $glob is marked loaded but $root has no " +
          "commits — the ingest markers belong to a different table at this path")),
        0, skipped.size)
    // the attempt manifest records WHICH files this commitId is loading,
    // written BEFORE the commit: a same-commitId retry after a crash heals
    // markers for exactly the recorded set — a file that arrived AFTER the
    // crashed attempt is NOT in it, so it can never be falsely marked
    // loaded by a commit that predates it (it stays unmarked and loads
    // under the next fresh commitId)
    val attemptFile = ingestDir.resolve(s"attempt-$commitId.json")
    val (v, fresh) = findCommitVersion(root, commitId) match {
      case Some(prior) =>
        val recorded: Set[String] =
          if (!Files.isRegularFile(attemptFile)) Set.empty
          else mapper.readTree(Files.readString(attemptFile)).get("files")
            .elements().asScala.map(_.asText).toSet
        (prior, fresh0.filter(recorded.contains))
      case None =>
        val n = mapper.createObjectNode()
        val arr = n.putArray("files")
        fresh0.foreach(arr.add)
        val tmp = Files.createTempFile(ingestDir, "a", ".tmp")
        Files.write(tmp, mapper.writeValueAsString(n).getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, attemptFile, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        (commit(spark.read.format(format).load(fresh0: _*), root, "append", commitId,
          statsCols = statsCols, bloomCols = bloomCols), fresh0)
    }
    // markers land AFTER the commit is durable: a crash in between leaves
    // loaded-but-unmarked files, healed by the same-commitId retry above
    // or by ANY later run's self-heal pass; the attempt manifest retires
    // once its markers are all down
    fresh.foreach(writeMarker(_, commitId))
    Files.deleteIfExists(attemptFile): Unit
    (v, fresh.size, skipped.size)
  }

  /** CONDITIONAL multi-clause MERGE — the full Delta merge shape:
    *
    * {{{
    *   MERGE INTO target t USING source s ON t.key = s.key
    *   WHEN MATCHED [AND <matchedDeleteCond>] THEN DELETE
    *   WHEN MATCHED [AND <matchedUpdateCond>] THEN UPDATE SET *
    *   WHEN NOT MATCHED [AND <notMatchedInsertCond>] THEN INSERT *
    * }}}
    *
    * Clause conditions are SQL boolean expressions over TWO struct-scoped
    * sides — `tgt.<col>` (the stored row) and `src.<col>` (the source
    * row) — e.g. `"src.price > tgt.price"`. Clause order is Delta's:
    * for each matched pair DELETE evaluates first, then UPDATE, else the
    * stored row is kept unchanged; unmatched source rows insert when
    * their condition holds (conditions default to delete-never /
    * update-always / insert-always, so all-default equals [[mergeInto]]).
    * Unmatched TARGET rows always survive — `WHEN NOT MATCHED BY SOURCE
    * THEN DELETE` is deliberately absent: it reads every dir (any dir may
    * hold keys absent from the source), which breaks the O(hit dirs)
    * contract; the bounded form of that operation is [[replaceRange]].
    *
    * Same machinery as [[mergeInto]] end to end: NULL/duplicate source
    * keys refused, generated columns materialized/enforced, CHECK
    * constraints validated, batch schema must equal the snapshot's
    * (unless `evolveSchema` — Delta's merge autoMerge: NEW source columns
    * widen the snapshot under append evolution's add-only rules, rewritten
    * dirs NULL-backfill, untouched dirs backfill at read time), only
    * envelope+bloom-hit dirs rewrite (source side broadcast — the merge
    * batch is small by contract), conflict-aware rebasing OCC, idempotent
    * under `commitId`. Returns (version, dirsRewritten, dirsTotal).
    */
  def mergeIntoConditional(spark: SparkSession, root: String, source: DataFrame,
                           keyCol: String, commitId: String,
                           matchedDeleteCond: Option[String] = None,
                           matchedUpdateCond: Option[String] = None,
                           notMatchedInsertCond: Option[String] = None,
                           statsCols: Seq[String] = Nil,
                           bloomCols: Seq[String] = Nil,
                           evolveSchema: Boolean = false,
                           notMatchedBySourceDeleteCond: Option[String] = None,
                           notMatchedBySourceBound: Option[(String, Long, Long)] = None)
      : (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit, struct, when}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed merge
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"mergeIntoConditional: no commits at $root"))
        requireNoIdentity(parent, "mergeIntoConditional")
        val sourceG = materializeGenerated(parent.generated, source, "mergeIntoConditional")
        val srcPhys = toPhysicalDf(parent, sourceG)
        val physKey = physName(parent, keyCol)
        // evolveSchema = Delta's merge autoMerge: NEW source columns widen
        // the snapshot under the same add-only rules as append evolution
        // (type changes and missing columns still refuse; a dropped name
        // cannot resurrect — its physical slots persist in pre-drop
        // files); rewritten dirs NULL-backfill the new columns and
        // untouched dirs backfill at read time through the declared
        // schema, so evolution costs nothing beyond the merge itself
        val evolved: Option[org.apache.spark.sql.types.StructType] =
          if (!evolveSchema) {
            parent.schemaDdl.foreach { pd =>
              val ps = org.apache.spark.sql.types.StructType.fromDDL(pd)
              val want = ps.fields.map(f => f.name -> f.dataType.sql).toMap
              val got = srcPhys.schema.fields.map(f => f.name -> f.dataType.sql).toMap
              require(want == got,
                s"mergeIntoConditional: source schema ${got.toSeq.sorted} must equal the " +
                  s"snapshot schema ${want.toSeq.sorted} (evolveSchema=true for " +
                  "add-column merge evolution)")
            }
            None
          } else {
            val parentFields = parent.schemaDdl
              .map(org.apache.spark.sql.types.StructType.fromDDL(_).fieldNames.toSet)
              .getOrElse(Set.empty[String])
            val resurrected = srcPhys.schema.fieldNames
              .filterNot(parentFields.contains).filter(parent.dropped.contains)
            require(resurrected.isEmpty,
              s"mergeIntoConditional: column(s) ${resurrected.mkString(", ")} were " +
                "DROPPED — their physical slots persist in pre-drop files and would " +
                "resurface; pick a different name, or compact/overwrite first")
            Some(evolvedSchema(parent.schemaDdl, srcPhys.schema))
          }
        enforceConstraints(effectiveChecks(parent), sourceG, "mergeIntoConditional")
        val guarded = guardMergeBatch(srcPhys, physKey, "mergeIntoConditional")
        // WHEN NOT MATCHED BY SOURCE (Delta's third clause family), in its
        // RANGE-BOUNDED form only: target rows inside the mandatory bound
        // with no source match (optionally AND <cond>) are deleted; rows
        // outside the bound pass through by reference. The unbounded Delta
        // form would make the rewrite O(table) — the one cost class every
        // verb here refuses — so it refuses loudly with the bounded
        // spelling (or replaceRange) as the guidance.
        require(notMatchedBySourceDeleteCond.isEmpty || notMatchedBySourceBound.nonEmpty,
          "mergeIntoConditional: WHEN NOT MATCHED BY SOURCE THEN DELETE requires " +
            "a bounding range (notMatchedBySourceBound = (col, lo, hi)) — the " +
            "unbounded form rewrites O(table), breaking the O(hit dirs) contract; " +
            "bound it to the slice the source snapshot covers, or use replaceRange")
        notMatchedBySourceBound.foreach { case (bc, lo, hi) =>
          requireRangeBoundTypes(parent, physName(parent, bc), lo, hi,
            "mergeIntoConditional (NOT MATCHED BY SOURCE bound)") }
        def nmbsHitOf(c: Commit): Seq[String] = notMatchedBySourceBound
          .map { case (bc, lo, hi) => planRange(root, bc, lo, hi, resolved = Some(c)) }
          .getOrElse(Nil)
        val (srcHit, _) = rangeHitDirs(root, parent, guarded, physKey, "mergeIntoConditional")
        val hit = (srcHit ++ nmbsHitOf(parent)).distinct
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        // one fixed column order for BOTH structs, so when(...) can pick
        // either side as the row value
        val cols = evolved.map(_.fieldNames.toSeq).getOrElse(srcPhys.schema.fieldNames.toSeq)
        val deleteC = matchedDeleteCond.map(expr).getOrElse(lit(false))
        val updateC = matchedUpdateCond.map(expr).getOrElse(lit(true))
        val insertC = notMatchedInsertCond.map(expr).getOrElse(lit(true))
        val srcSide = broadcast(guarded
          .select(col(physKey).as("__graft_mk"),
            struct(cols.map(col): _*).as("src")))
        val matchedOrKept =
          if (hit.isEmpty) None
          else {
            // under evolution the stored rows lack the new columns —
            // NULL-backfill to the widened shape before struct building
            val base = alignTo(evolved)(scanWithDeletes(spark, root, parent, hit))
              .select(struct(cols.map(col): _*).as("tgt"))
            val joined = base.join(srcSide,
              base("tgt")(physKey) <=> srcSide("__graft_mk"), "left_outer")
            val matched = col("__graft_mk").isNotNull
            // NOT MATCHED BY SOURCE delete: inside the bound, no source
            // match, optional condition — NULL bound values never delete
            // (coalesce false, SQL's conservative reading)
            val nmbsDelete: org.apache.spark.sql.Column =
              notMatchedBySourceBound match {
                case None => lit(false)
                case Some((bc, lo, hi)) =>
                  val physB = physName(parent, bc)
                  val dt = evolved.orElse(parent.schemaDdl
                      .map(org.apache.spark.sql.types.StructType.fromDDL))
                    .flatMap(_.fields.find(_.name == physB)).map(_.dataType)
                  val cnd = notMatchedBySourceDeleteCond.map(expr).getOrElse(lit(true))
                  org.apache.spark.sql.functions.coalesce(
                    col("tgt")(physB) >= boundLit(dt, lo) &&
                      col("tgt")(physB) <= boundLit(dt, hi) && cnd,
                    lit(false))
              }
            Some(joined
              .filter(!(matched && deleteC))
              .filter(matched || !nmbsDelete)
              .select(when(matched && updateC, col("src")).otherwise(col("tgt")).as("r"))
              .select(cols.map(c => col(s"r.$c").as(c)): _*))
          }
        // unmatched source rows: keys in NO dir — the hit dirs suffice (a
        // pass dir's envelope/bloom admits no source key, so it cannot
        // hold a match). The scan side streams through a broadcast
        // semi-join (its ≤|batch| result then broadcasts into the anti) —
        // the big side is never hash-built.
        val inserts = {
          val probe =
            if (hit.isEmpty) guarded
            else {
              val matchedKeys = scanWithDeletes(spark, root, parent, hit)
                .select(col(physKey))
                .join(broadcast(guarded.select(col(physKey))), Seq(physKey), "left_semi")
              guarded.join(broadcast(matchedKeys), Seq(physKey), "left_anti")
            }
          probe.select(struct(cols.map(col): _*).as("src"))
            .filter(insertC)
            .select(cols.map(c => col(s"src.$c").as(c)): _*)
        }
        val survivors = matchedOrKept.fold(inserts)(_.unionByName(inserts))
        var w = dstSafePartitions(survivors, parent.partitionCols).write.mode("overwrite")
        if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
        w.parquet(s"$root/$dirName")
        val survivorsDir: Option[String] =
          if (dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName") == 0L) None
          else Some(dirName)
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            evolved.orElse(parent.schemaDdl
                .map(org.apache.spark.sql.types.StructType.fromDDL))
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "merge", commitId, "mergeIntoConditional",
          evolved.map(_.toDDL).orElse(parent.schemaDdl)
            .orElse(Some(srcPhys.schema.toDDL)),
          (latest, newDirs) => {
            val rebased = latest.copy(dirs = newDirs)
            (rangeHitDirs(root, rebased, guarded, physKey,
              "mergeIntoConditional")._1 ++ nmbsHitOf(rebased)).distinct
          })
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** Both CDC op frames must name disjoint key sets: a compacted CDC feed
    * emits ONE final op per key, so a key in both `updates` and `deletes`
    * is an upstream bug — guessing an apply order would hide it. The check
    * is one bounded semi-join over the (batch-small) frames.
    */
  private[graft] def requireDisjointOps(updates: DataFrame, deleteKeys: DataFrame,
                                        keyCol: String, op: String): Unit = {
    import org.apache.spark.sql.functions.col
    val overlap = updates.select(col(keyCol))
      .join(deleteKeys.select(col(keyCol)), Seq(keyCol), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(overlap.isEmpty,
      s"$op: key(s) ${overlap.mkString(", ")} appear in BOTH updates and deletes — " +
        "a compacted CDC batch carries one final op per key; collapse upstream")
  }

  /** CDC BATCH APPLY — upserts AND deletes in ONE commit (the
    * Debezium-feed shape: a change batch carries both op kinds, and
    * applying them as two commits would publish a torn intermediate
    * snapshot and burn two idempotence ids for one logical batch).
    * Semantics compose the two verbs it generalizes: rows of `updates`
    * replace same-key rows and unmatched rows insert ([[mergeInto]]);
    * keys of `deleteKeys` are removed ([[deleteWhere]]); a key in BOTH
    * frames is refused loudly ([[requireDisjointOps]]). Same guards (NULL
    * keys both sides, duplicate update keys), ONE combined envelope+bloom
    * gate over the union of both key sets (conservative: the union's
    * envelope can only widen the rewrite set, never miss a dir), the same
    * conflict-aware rebasing OCC publication, and idempotence under
    * `commitId` retry. Rewrite cost O(hit dirs + batch), never O(table) —
    * the property that lets a CDC stream maintain a 100 TB keyed table
    * continuously. Returns (version, dirsRewritten, dirsTotal).
    */
  def applyCdcBatch(spark: SparkSession, root: String, updates: DataFrame,
                    deleteKeys: DataFrame, keyCol: String, commitId: String,
                    statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed batch
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"applyCdcBatch: no commits at $root"))
        requireNoIdentity(parent, "applyCdcBatch")
        // generated columns: compute if absent, refuse if contradicted —
        // before the exact-schema gate, like mergeInto
        val updatesG = materializeGenerated(parent.generated, updates, "applyCdcBatch")
        val updPhys = toPhysicalDf(parent, updatesG)
        val physKey = physName(parent, keyCol)
        // updates must match the snapshot schema exactly — same contract
        // (and same reason) as mergeInto's no-overlap fast path
        parent.schemaDdl.foreach { pd =>
          val ps = org.apache.spark.sql.types.StructType.fromDDL(pd)
          val want = ps.fields.map(f => f.name -> f.dataType.sql).toMap
          val got = updPhys.schema.fields.map(f => f.name -> f.dataType.sql).toMap
          require(want == got,
            s"applyCdcBatch: batch schema ${got.toSeq.sorted} must equal the snapshot " +
              s"schema ${want.toSeq.sorted} (use commit(mode=append) for evolution)")
        }
        // upserts take the CHECK gate (they ADD rows); tombstones only
        // remove, so they pass untested
        enforceConstraints(effectiveChecks(parent), updatesG, "applyCdcBatch")
        val gUpd = guardMergeBatch(updPhys, physKey, "applyCdcBatch")
        val gDel = deleteKeys.select(col(keyCol).as(physKey))
          .filter(when(col(physKey).isNull,
              raise_error(lit("applyCdcBatch: NULL delete key (an anti-join never " +
                "matches NULL, so the row would silently survive)")).cast("boolean"))
            .otherwise(lit(true)))
          .distinct()
        requireDisjointOps(gUpd, gDel, physKey, "applyCdcBatch")
        val allKeys = gUpd.select(col(physKey)).unionByName(gDel).distinct()
        val (hit, _) = rangeHitDirs(root, parent, allKeys, physKey, "applyCdcBatch")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val merged =
          if (hit.isEmpty) gUpd
          else scanWithDeletes(spark, root, parent, hit)
            .join(org.apache.spark.sql.functions.broadcast(allKeys), Seq(physKey), "left_anti")
            .unionByName(gUpd)
        var w = dstSafePartitions(merged, parent.partitionCols).write.mode("overwrite")
        if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
        w.parquet(s"$root/$dirName")
        // a delete-only batch purging every hit row leaves zero survivors:
        // omit the file-less dir exactly as deleteWhere does
        val rows = dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName")
        val survivorsDir = if (rows == 0L) None else Some(dirName)
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)), merged.schema))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "merge", commitId, "applyCdcBatch",
          parent.schemaDdl.orElse(Some(updPhys.schema.toDDL)),
          (latest, newDirs) =>
            rangeHitDirs(root, latest.copy(dirs = newDirs), allKeys, physKey,
              "applyCdcBatch")._1)
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** Row-level DELETE with DIR-LEVEL COPY-ON-WRITE — the Delta
    * `DELETE FROM t WHERE key IN (...)` lifecycle verb (the GDPR-purge
    * shape): remove every row whose `keyCol` appears in `keys`, rewriting
    * ONLY the data dirs whose manifest envelope for `keyCol` overlaps the
    * key set's range — untouched dirs carry into the new manifest by
    * reference with their stats and blooms, so a purge of recent keys on
    * an append-grown 100 TB table costs O(matched commits), not O(table).
    *
    * Same contract family as [[mergeInto]]: integral or string keys (via
    * the shared [[rangeHitDirs]] gate), pinned-parent OCC publication
    * (fails loudly if any writer advances the log mid-rewrite; the
    * orphaned dir is vacuum-reclaimable), idempotent under `commitId`
    * retry. NULL delete keys are refused loudly — an anti-join would
    * silently never match them, which reads as "deleted" to the caller.
    * A rewrite whose survivors are EMPTY drops the dir from the manifest
    * (never publishes a file-less dir); deleting every row of every dir
    * yields a valid empty snapshot readable under the recorded schema.
    *
    * [[changesBetween]] refuses to cross a delete exactly as it refuses
    * compaction: the rewrite removes dirs, which its append-only
    * dir-difference contract detects. Returns
    * (version, dirsRewritten, dirsTotal).
    */
  def deleteWhere(spark: SparkSession, root: String, keys: DataFrame,
                  keyCol: String, commitId: String,
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int) =
    deleteWhereCore(spark, root, keys, Seq(keyCol), commitId, statsCols, bloomCols)

  /** COMPOSITE-KEY DELETE — [[deleteWhere]] generalized to a conjunctive
    * multi-column key: every row matching a (k1, k2, ...) TUPLE in `keys`
    * is purged, with dir pruning the INTERSECTION of the per-column
    * envelope/bloom gates (the [[mergeIntoKeys]] geometry — a batch
    * bounded on ANY component prunes) and NULL in any component refused
    * loudly. The GDPR purge on a natural key.
    */
  def deleteWhereKeys(spark: SparkSession, root: String, keys: DataFrame,
                      keyCols: Seq[String], commitId: String,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    require(keyCols.nonEmpty && keyCols.distinct.size == keyCols.size,
      s"deleteWhereKeys: keys must be non-empty and distinct, got ${keyCols.mkString(", ")}")
    deleteWhereCore(spark, root, keys, keyCols, commitId, statsCols, bloomCols)
  }

  private def deleteWhereCore(spark: SparkSession, root: String, keys: DataFrame,
                              keyCols: Seq[String], commitId: String,
                              statsCols: Seq[String], bloomCols: Seq[String]): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed delete
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"deleteWhere: no commits at $root"))
        val physKeys = keyCols.map(physName(parent, _))
        val guarded = keys.select(keyCols.zip(physKeys).map {
            case (l, p) => col(l).as(p) }: _*)
          .filter(when(physKeys.map(col(_).isNull).reduce(_ || _),
              raise_error(lit("deleteWhere: NULL delete key (an anti-join never matches " +
                "NULL, so the row would silently survive)")).cast("boolean"))
            .otherwise(lit(true)))
          .distinct()
        val (hit, pass) = rangeHitDirsKeys(root, parent, guarded, physKeys, "deleteWhere")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val survivorsDir: Option[String] =
          if (hit.isEmpty) None // no dir can hold a key: pure-metadata no-op commit
          else {
            val base = scanWithDeletes(spark, root, parent, hit)
            val survivors = base.join(
              org.apache.spark.sql.functions.broadcast(guarded), physKeys, "left_anti")
            var w = dstSafePartitions(survivors, parent.partitionCols).write.mode("overwrite")
            if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
            w.parquet(s"$root/$dirName")
            // all hit rows deleted → only zero-row part files → omit the
            // dir from the manifest (footer row counts, no Spark job; the
            // orphan dir is reclaimed by vacuum's crashed-commit sweep)
            val rows = dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName")
            if (rows == 0L) None else Some(dirName)
          }
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        // conflict test for rebase: a concurrently-added dir conflicts iff
        // it might hold a deleted key (a rebased delete committing AFTER
        // such an append would claim rows it never removed)
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "delete", commitId, "deleteWhere", parent.schemaDdl,
          (latest, newDirs) =>
            rangeHitDirsKeys(root, latest.copy(dirs = newDirs), guarded,
              physKeys, "deleteWhere")._1)
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** MERGE-ON-READ row-level DELETE (the Delta deletion-vector /
    * Iceberg v2 merge-on-read shape — [[deleteWhere]]'s write-cheap twin):
    * instead of rewriting envelope-hit dirs, ONE small key set is written
    * under `deletes/` and the manifest marks each hit dir as covered by
    * it; readers anti-join a dir's covering sets at scan time
    * ([[scanWithDeletes]]). The trade both forms exist for: scattered keys
    * across many commits cost copy-on-write a rewrite per hit dir but cost
    * MOR exactly O(batch) writes — readers then pay a broadcast anti-join
    * until [[compact]] (or any copy-on-write rewrite of the dir) ABSORBS
    * the coverage, scanning deletes-applied and carrying none forward.
    *
    * Semantics match deleteWhere at the instant of the delete: covered
    * dirs hide the keys; a LATER append may re-insert a key (its new dir
    * is never covered — exactly Delta's behavior). Same gate
    * ([[rangeHitDirs]]: envelope + bloom refinement), same NULL-key
    * refusal, idempotent commitId retry; manifest-only publication retries
    * against a moved parent like [[commit]] (nothing is rewritten, so no
    * pinned parent is needed). [[changesBetween]] refuses to cross a
    * coverage change on any shared dir — a dir-difference CDC cannot
    * express rows REMOVED from an existing dir. Returns
    * (version, dirsMarked, dirsTotal).
    */
  def deleteWhereMor(spark: SparkSession, root: String, keys: DataFrame,
                     keyCol: String, commitId: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1)
      case None =>
        val preParent = latestCommit(root)
          .getOrElse(sys.error(s"deleteWhereMor: no commits at $root"))
        val physKey = physName(preParent, keyCol)
        val guarded = keys.select(col(keyCol).as(physKey))
          .filter(when(col(physKey).isNull,
              raise_error(lit("deleteWhereMor: NULL delete key (an anti-join never matches " +
                "NULL, so the row would silently survive)")).cast("boolean"))
            .otherwise(lit(true)))
          .distinct()
        // the key set is immutable once written; its name is unique per
        // write ATTEMPT (attemptDirName) — the in-call OCC retry loop
        // reuses it, a crashed writer's fresh attempt writes a new one and
        // the orphan is age-gate swept
        val setName = attemptDirName("deletes", 0L, commitId)
        guarded.coalesce(1).write.mode("overwrite").parquet(s"$root/$setName")
        var result: (Long, Int, Int) = null
        while (result == null) {
          val parentOpt = latestCommit(root)
          require(parentOpt.nonEmpty, s"deleteWhereMor: no commits at $root")
          findCommitVersion(root, commitId) match {
            case Some(prior) => result = (prior, -1, -1) // another retry of us won
            case None =>
              val parent = parentOpt.get
              // the set file is already written under preParent's PHYSICAL
              // key name — a rename racing in would leave the set's column
              // stale, so refuse loudly instead of publishing a broken ref
              require(physName(parent, keyCol) == physKey,
                s"deleteWhereMor: column renames advanced during the write; re-run")
              require(!parent.dropped.contains(physKey),
                s"deleteWhereMor: key column '$keyCol' was dropped mid-flight; re-run")
              val (hit, _) = rangeHitDirs(root, parent, guarded, physKey, "deleteWhereMor")
              val v = parent.version + 1
              val newDeletes = hit.foldLeft(parent.deletes) { (m, d) =>
                m + (d -> (m.getOrElse(d, Nil) :+ setName))
              }
              // an envelope/bloom miss on every dir is a pure no-op commit:
              // the set is referenced by nothing, so deleteKeys must not
              // name it (vacuum will sweep the orphan set dir)
              val newDeleteKeys =
                if (hit.isEmpty) parent.deleteKeys
                else parent.deleteKeys + (setName -> physKey)
              val c = Commit(v, commitId, "delete-mor", parent.dirs,
                parent.stats, parent.strStats, parent.partitionCols, parent.blooms,
                parent.schemaDdl,
                deletes = newDeletes, deleteKeys = newDeleteKeys,
                nameMap = parent.nameMap, constraints = parent.constraints,
                notNull = parent.notNull,
                dropped = parent.dropped, generated = parent.generated,
                nullCounts = parent.nullCounts, props = parent.props,
                identity = parent.identity, dirLayouts = parent.dirLayouts,
                defaults = parent.defaults)
              if (publishIfAbsent(root, v, c)) result = (v, hit.size, parent.dirs.size)
              // lost the race: manifest-only — recompute against the new
              // parent and retry (the key set is already in place)
          }
        }
        result
    }
  }

  /** MERGE-ON-READ accumulation meter: the per-snapshot read-side debt
    * [[deleteWhereMor]] builds and [[compact]] / any copy-on-write rewrite
    * absorbs, as `(dirsCovered, setsPending, keysPending)` —
    *
    *  - `dirsCovered`: data dirs whose scans currently apply ≥1 deletion
    *    vector (each costs the reader one broadcast anti-join per set);
    *  - `setsPending`: distinct delete sets still referenced;
    *  - `keysPending`: total keys across those sets (read from the sets
    *    themselves — O(sets) small files, never O(data)).
    *
    * ABSORB POLICY (documented contract, enforced by the operator, made
    * VISIBLE by this meter): sets are small and few by the MOR trade —
    * schedule [[compact]] when `setsPending` exceeds a small constant
    * (single digits) or `keysPending` approaches broadcast-scale row
    * counts; after absorption this returns (0, 0, 0). Without the meter
    * the accumulation is invisible until scan latency regresses — at
    * 100 TB this is the number an operator alerts on, exactly like Delta's
    * deletion-vector metrics.
    */
  def morStatus(spark: SparkSession, root: String,
                asOf: Option[Long] = None): (Int, Int, Long) = {
    val c = resolveSnapshot(root, asOf)
    val covered = c.deletes.count(_._2.nonEmpty)
    val sets = c.deletes.values.flatten.toSet.toSeq.sorted
    val keys = sets.map(sn => spark.read.parquet(dirPath(root, sn)).count()).sum
    (covered, sets.size, keys)
  }

  /** [[morStatus]] split by VECTOR KIND — the bitmap-aware meter:
    * `(dirsCovered, keySets, keysPending, posSets, positionsPending)`.
    * Key sets cost readers one broadcast anti-join each; positional sets
    * cost a codegen'd row-index predicate whose weight is the pending
    * POSITION count (the map ships in the task binary), so the two debts
    * alert on different thresholds — exactly why Delta meters deletion
    * vectors separately from rewrites.
    */
  def morDetail(spark: SparkSession, root: String,
                asOf: Option[Long] = None): (Int, Int, Long, Int, Long) = {
    val c = resolveSnapshot(root, asOf)
    val covered = c.deletes.count(_._2.nonEmpty)
    val sets = c.deletes.values.flatten.toSet.toSeq.sorted
    val (pos, key) = sets.partition(isPosSet)
    val keysPending = key.map(sn => spark.read.parquet(dirPath(root, sn)).count()).sum
    val posPending = pos.map(sn => spark.read.parquet(dirPath(root, sn)).count()).sum
    (covered, key.size, keysPending, pos.size, posPending)
  }

  /** POSITIONAL merge-on-read DELETE (the Delta deletion-vector v2 /
    * Iceberg positional-delete shape — [[deleteWhereMor]]'s read-optimized
    * twin): instead of recording the KEYS and making every reader re-find
    * them with a broadcast anti-join, the write RESOLVES the matching rows'
    * physical coordinates once — (table-relative file, parquet row index)
    * — into one small `posdel/` vector, and readers skip those positions
    * with a codegen'd scalar predicate inside the scan's own whole-stage
    * span ([[graft.functions.PosDeleted]]): ZERO join work, read cost
    * independent of key width and delete count. The trade against the key
    * twin: this write pays an envelope+bloom-gated SCAN of the hit dirs
    * (O(hit dirs), like copy-on-write's read half) but writes O(matches);
    * key-MOR writes O(batch) with no scan but taxes every read until
    * compaction. Positions are file-physical, so a concurrently advancing
    * log invalidates nothing except a REWRITE of a hit dir — the OCC loop
    * recomputes from scratch on any lost race, which is trivially
    * serializable because manifest versions are dense.
    *
    * Shared contract with [[deleteWhereMor]]: covered dirs hide the rows, a
    * LATER append re-inserts freely (its dir is never covered), NULL keys
    * refuse loudly, idempotent commitId retry, compaction/rewrites ABSORB
    * the vector ([[scanWithDeletes]] applies it wherever key sets apply —
    * including copy-on-write read halves; the catalog's keyed and delta
    * scans skip its positions per file), vacuum
    * sweeps orphaned vectors by the same age gate, and the manifest
    * declares the `pos-deletes` reader feature while any vector is live.
    * Rows already hidden by older coverage may be re-recorded (their
    * positions match); the filter is idempotent, so this only inflates the
    * meter, never the result. Returns (version, dirsMarked,
    * positionsRecorded).
    */
  def deleteWherePos(spark: SparkSession, root: String, keys: DataFrame,
                     keyCol: String, commitId: String): (Long, Int, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit, raise_error, when}
    deletePosCommit(spark, root, commitId) { parent =>
      val physKey = physName(parent, keyCol)
      require(!parent.dropped.contains(physKey),
        s"deleteWherePos: key column '$keyCol' is dropped")
      val guarded = keys.select(col(keyCol).as(physKey))
        .filter(when(col(physKey).isNull,
            raise_error(lit("deleteWherePos: NULL delete key (equality never " +
              "matches NULL, so the row would silently survive)")).cast("boolean"))
          .otherwise(lit(true)))
        .distinct()
      val (hit, _) = rangeHitDirs(root, parent, guarded, physKey, "deleteWherePos")
      (hit, d => {
        // resolve physical positions per hit dir: raw per-dir scan (hive
        // recovery under the dir's own path) + broadcast semi-join against
        // the key batch; metadata columns are captured BEFORE any
        // projection, positions are parquet row indexes — stable for
        // immutable dirs by construction
        val raw = spark.read.parquet(dirPath(root, d))
        val withMeta = raw.select(col("*"),
          fileKeyCol(d).as("__graft_file"),
          col("_metadata.row_index").as("__graft_pos"))
        // a dir predating a schema-evolved key column holds the declared
        // DEFAULT logically — without this backfill a delete of the
        // default value would silently miss it
        val keyed =
          if (withMeta.columns.contains(physKey)) withMeta
          else withMeta.withColumn(physKey,
            parent.defaults.get(physKey).map(expr)
              .getOrElse(lit(null)))
        keyed.join(broadcast(guarded), Seq(physKey), "left_semi")
      })
    }
  }

  /** PREDICATE-form positional DELETE — `DELETE FROM t WHERE <any SQL
    * predicate>` as a merge-on-read vector, the shape NO other delete verb
    * can express: the keyed forms need a key column, the range form a
    * single bounded column, but a GDPR text-match purge
    * (`text LIKE '%ssn%'`), a multi-column condition, or a delete on a
    * non-indexed column has neither. The write resolves positions by ONE
    * predicate-pushed scan of the snapshot (parquet row-group skipping
    * applies via the pushed predicate; no manifest dir gate exists for an
    * arbitrary expression — that is the verb's documented cost: O(scan)
    * write, O(matches) bytes, ZERO rewrite), and the read side is the same
    * join-free positional skip as [[deleteWherePos]].
    *
    * The predicate is over LOGICAL column names (renames honored, dropped
    * slots invisible, schema-evolved columns backfilled with their
    * declared DEFAULT), and rows where it evaluates NULL survive — plain
    * SQL WHERE semantics with no NULL-key hazard, because positions are
    * exact. Same OCC/idempotence/absorb/vacuum contract as every
    * positional vector. Returns (version, dirsMarked, positionsRecorded).
    */
  def deletePosWhere(spark: SparkSession, root: String, predicateSql: String,
                     commitId: String): (Long, Int, Long) = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    deletePosCommit(spark, root, commitId) { parent =>
      val target = parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
      val inv = parent.nameMap.map(_.swap)
      // the predicate's column references must name LOGICAL columns —
      // checked explicitly because Spark's missing-input resolution
      // (ResolveMissingReferences) would otherwise let a filter reach
      // THROUGH the rename projection to a retired physical name and
      // silently match the wrong column
      val logicalSet = logicalCols(parent)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      spark.sessionState.sqlParser.parseExpression(predicateSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.foreach(r => require(logicalSet.contains(r.toLowerCase(java.util.Locale.ROOT)),
        s"deletePosWhere: unknown column '$r' in predicate " +
          s"(columns: ${logicalCols(parent).mkString(", ")})"))
      (parent.dirs, d => {
        val raw = spark.read.parquet(dirPath(root, d))
        val withMeta = raw.select(col("*"),
          fileKeyCol(d).as("__graft_file"),
          col("_metadata.row_index").as("__graft_pos"))
        // logical view of the dir: backfill schema-evolved columns (their
        // declared DEFAULT, else NULL), retire dropped slots, apply renames
        val backfilled = target.fold(withMeta)(t =>
          t.fields.filterNot(f => withMeta.columns.contains(f.name))
            .foldLeft(withMeta)((df, f) =>
              df.withColumn(f.name,
                parent.defaults.get(f.name).map(e => expr(e).cast(f.dataType))
                  .getOrElse(lit(null).cast(f.dataType)))))
        val retired = parent.dropped.foldLeft(backfilled)((df, c) => df.drop(c))
        val logical = inv.foldLeft(retired) { case (df, (p, l)) =>
          if (df.columns.contains(p)) df.withColumnRenamed(p, l) else df
        }
        logical.filter(expr(predicateSql))
      })
    }
  }

  /** The shared positional-delete commit loop: `resolve(parent)` names the
    * candidate dirs and, per dir, the frame of MATCHED rows carrying
    * `__graft_file`/`__graft_pos` (metadata captured at the raw scan). One
    * vector is written per attempt; only dirs that actually matched are
    * marked; a lost OCC race recomputes everything against the new latest
    * (positions are file-physical, so a concurrent rewrite of a candidate
    * dir invalidates the attempt — the stale vector is an age-gate-swept
    * orphan).
    */
  private def deletePosCommit(spark: SparkSession, root: String, commitId: String)
      (resolve: Commit => (Seq[String], String => DataFrame)): (Long, Int, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1L)
      case None =>
        var result: (Long, Int, Long) = null
        while (result == null) {
          val parentOpt = latestCommit(root)
          require(parentOpt.nonEmpty, s"positional delete: no commits at $root")
          findCommitVersion(root, commitId) match {
            case Some(prior) => result = (prior, -1, -1L)
            case None =>
              val parent = parentOpt.get
              val (hit, matched) = resolve(parent)
              val v = parent.version + 1
              val setName = attemptDirName("posdel", v, commitId)
              val (markedDirs, nPos): (Seq[String], Long) =
                if (hit.isEmpty) (Nil, 0L)
                else {
                  hit.map(d => matched(d)
                      .select(lit(d).as("dir"), col("__graft_file").as("file"),
                        col("__graft_pos").as("pos")))
                    .reduce(_.unionByName(_))
                    .coalesce(1).write.mode("overwrite").parquet(s"$root/$setName")
                  val counts = spark.read.parquet(s"$root/$setName")
                    .groupBy("dir").count().collect()
                    .map(r => r.getString(0) -> r.getLong(1)).toMap
                  (hit.filter(d => counts.getOrElse(d, 0L) > 0L),
                    counts.valuesIterator.sum)
                }
              val newDeletes = markedDirs.foldLeft(parent.deletes) { (m, d) =>
                m + (d -> (m.getOrElse(d, Nil) :+ setName))
              }
              val c = Commit(v, commitId, "delete-pos", parent.dirs,
                parent.stats, parent.strStats, parent.partitionCols, parent.blooms,
                parent.schemaDdl,
                deletes = newDeletes, deleteKeys = parent.deleteKeys,
                nameMap = parent.nameMap, constraints = parent.constraints,
                notNull = parent.notNull,
                dropped = parent.dropped, generated = parent.generated,
                nullCounts = parent.nullCounts, props = parent.props,
                identity = parent.identity, dirLayouts = parent.dirLayouts,
                defaults = parent.defaults)
              if (publishIfAbsent(root, v, c)) result = (v, markedDirs.size, nPos)
          }
        }
        result
    }
  }

  /** Range-predicate DELETE (`DELETE FROM t WHERE lo <= col <= hi` — the
    * RETENTION-PURGE shape: "drop everything before the cutoff"): three
    * dir classes, decided from the manifest envelope —
    *
    *  - FULLY-CONTAINED dirs ([min, max] ⊆ [lo, hi]) are DROPPED from the
    *    manifest with no read and no write — a metadata-only delete, which
    *    is what makes a 100 TB time-retention purge O(#commits) instead of
    *    O(table). Exactness holds because manifest min/max come from the
    *    actual footers; the one hazard is NULLs (footer min/max ignore
    *    them, and SQL range predicates never delete NULL rows), so a
    *    contained dir is dropped only after its footers report ZERO nulls
    *    for the column — still O(#files) footer reads, no Spark job; any
    *    nulls demote the dir to a rewrite. String envelopes may be
    *    TRUNCATED by parquet stats; truncation widens the envelope, which
    *    can only demote a drop to a rewrite — never the reverse.
    *  - PARTIALLY-overlapping dirs (and stat-less dirs) rewrite through
    *    the NULL-preserving residual `col IS NULL OR NOT between`.
    *  - Disjoint dirs pass by reference with their stats/blooms.
    *
    * Same OCC/idempotence/CDC contract as [[deleteWhere]]. Returns
    * (version, dirsDropped, dirsRewritten, dirsTotal).
    */
  /** Range class of one dir envelope: 2 = contained in [lo, hi]
    * (Drop-eligible), 1 = overlapping (Rewrite), 0 = disjoint (Pass).
    * `None` (no envelope) is conservatively 1. Integral envelopes compare
    * numerically; string envelopes by unsigned UTF-8 byte order — the Drop
    * class bypasses the residual predicate, so the comparison MUST match
    * Spark's string ordering or contained-dir drops could delete kept rows.
    */
  private def rangeClassOf(env: Option[(Any, Any)], lo: Any, hi: Any,
                           op: String): Int = env match {
    case Some((mn: Long, mx: Long)) => (lo, hi) match {
      case (l: Number, h: Number) =>
        if (mn >= l.longValue && mx <= h.longValue) 2
        else if (mx >= l.longValue && mn <= h.longValue) 1
        else 0
      case _ => sys.error(s"$op: integral envelope but non-numeric bounds")
      // unreachable when validateRangeBounds ran
    }
    case Some((mn: String, mx: String)) => (lo, hi) match {
      case (l: String, h: String) =>
        if (utf8Compare(mn, l) >= 0 && utf8Compare(mx, h) <= 0) 2
        else if (utf8Compare(mx, l) >= 0 && utf8Compare(mn, h) <= 0) 1
        else 0
      case _ => sys.error(s"$op: string envelope but non-string bounds")
    }
    case _ => 1
  }

  /** Manifest envelope of `phys` in dir `d` (integral stats first, then
    * string). */
  private def dirRangeEnv(c: Commit, d: String, phys: String): Option[(Any, Any)] =
    c.stats.get(d).flatMap(_.get(phys)).map(t => (t._1: Any, t._2: Any))
      .orElse(c.strStats.get(d).flatMap(_.get(phys)).map(t => (t._1: Any, t._2: Any)))

  /** Whether dir `d` may hold NULLs in `phys` — the contained-Drop
    * demotion check: NULL rows survive a range predicate, so a contained
    * dir with (possible) NULLs must rewrite instead of dropping. Manifest
    * null-count fast path first (O(1) — the entry was built from these
    * very footers at write time), then the O(#files) footer walk; for a
    * PARTITION column the footers carry nothing — the NULL carrier is the
    * hive sentinel subdir, so that is what's checked.
    */
  private def dirMayHoldNulls(spark: SparkSession, root: String, parent: Commit,
                              phys: String, d: String): Boolean = {
    // per-DIR layout: after partition evolution a column may be
    // hive-materialized in one era and file-materialized in another — the
    // NULL carrier (sentinel subdir vs footer numNulls) follows the dir's
    // OWN layout, not the snapshot's current one
    if (layoutOf(parent, d).contains(phys))
      return parquetFiles(dirPath(root, d))
        .exists(_.contains(s"$phys=__HIVE_DEFAULT_PARTITION__"))
    parent.nullCounts.get(d).flatMap(_.get(phys)) match {
      case Some((nulls, _)) => nulls > 0
      case None =>
        val conf = spark.sessionState.newHadoopConf()
        parquetFiles(dirPath(root, d)).exists { rel =>
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(s"${dirPath(root, d)}/$rel"), conf))
          try rdr.getFooter.getBlocks.asScala.exists(_.getColumns.asScala.exists { cc =>
            cc.getPath.toDotString == phys && {
              val st = cc.getStatistics
              st == null || !st.isNumNullsSet || st.getNumNulls > 0
            }
          })
          finally rdr.close()
        }
    }
  }

  /** Per-dir (dropped, rewrite, pass) partition of the snapshot's dirs
    * against [lo, hi] — the shared planning step of the range verbs, with
    * the NULL demotion applied to the Drop class.
    */
  private def classifyRangeDirs(spark: SparkSession, root: String, parent: Commit,
                                phys: String, lo: Any, hi: Any,
                                op: String): (Seq[String], Seq[String], Seq[String]) = {
    val classed = parent.dirs.map { d =>
      val c0 = rangeClassOf(dirRangeEnv(parent, d, phys), lo, hi, op)
      d -> (if (c0 == 2 && dirMayHoldNulls(spark, root, parent, phys, d)) 1 else c0)
    }
    (classed.collect { case (d, 2) => d },
      classed.collect { case (d, 1) => d },
      classed.collect { case (d, 0) => d })
  }

  def deleteRange(spark: SparkSession, root: String, colName: String,
                  lo: Any, hi: Any, commitId: String,
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.col
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1, -1)
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"deleteRange: no commits at $root"))
        val phys = physName(parent, colName)
        requireRangeBoundTypes(parent, phys, lo, hi, "deleteRange")
        val (dropped, hit, _) =
          classifyRangeDirs(spark, root, parent, phys, lo, hi, "deleteRange")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val bdt = colTypeOf(parent.schemaDdl, phys)
        val keep = col(phys).isNull ||
          !(col(phys) >= boundLit(bdt, lo) && col(phys) <= boundLit(bdt, hi))
        val survivorsDir: Option[String] =
          if (hit.isEmpty) None
          else {
            val base = scanWithDeletes(spark, root, parent, hit)
            var w = dstSafePartitions(base.filter(keep), parent.partitionCols).write.mode("overwrite")
            if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
            w.parquet(s"$root/$dirName")
            val rows = dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName")
            if (rows == 0L) None else Some(dirName)
          }
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        // conflict test for rebase: a concurrently-added dir conflicts iff
        // its envelope might intersect [lo, hi] (a stats-less new dir is
        // conservatively a conflict — rangeClassOf calls it Rewrite)
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = dropped, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "delete", commitId, "deleteRange", parent.schemaDdl,
          (latest, newDirs) => newDirs.filter(d =>
            rangeClassOf(dirRangeEnv(latest, d, phys), lo, hi, "deleteRange") != 0))
        (committed, dropped.size, hit.size, parent.dirs.size)
    }
  }

  /** RANGE-SCOPED REPLACE — Delta's `INSERT OVERWRITE ... replaceWhere`
    * / `option("replaceWhere", ...)` shape, the canonical BACKFILL verb:
    * atomically delete every row with `lo <= colName <= hi` and insert
    * `batch` in its place, in ONE commit (two verbs would publish a torn
    * intermediate snapshot and burn two idempotence ids for one logical
    * reload). The operation a production pipeline runs daily — "recompute
    * yesterday's partition and swap it in".
    *
    * Guards, in order: the batch schema must equal the snapshot's exactly
    * (a backfill is not schema evolution); GENERATED columns materialize /
    * enforce first; CHECK constraints validate the batch; and every batch
    * row must actually FALL IN [lo, hi] on `colName` (Delta's replaceWhere
    * constraint) — a row outside the range (or NULL, which no range
    * contains) would silently survive the NEXT backfill of its true range
    * as a duplicate, so it refuses loudly before anything is written.
    *
    * Cost is [[deleteRange]]'s, plus the batch: contained dirs (range
    * fully covers the envelope, provably NULL-free) drop METADATA-ONLY;
    * overlapping dirs rewrite through the NULL-preserving residual;
    * disjoint dirs pass by reference with their stats/blooms/deletes
    * carried — never O(table). The batch and the residual survivors land
    * in one fresh dir whose stats/bloom index rebuilds from its footers.
    * Publication is the same conflict-aware rebasing OCC: a concurrent
    * commit conflicts iff it touched a rewritten dir or added a dir whose
    * envelope intersects [lo, hi]. Idempotent under `commitId` retry.
    * A 'replace' commit that removed or rewrote rows has no row-level
    * change form (the feed can't pair old and new rows without a key), so
    * [[readChangeFeed]] refuses across it, exactly as across an overwrite;
    * the degenerate case (nothing in range — pure insertion) diffs as
    * inserts like any append.
    *
    * Returns (version, dirsDropped, dirsRewritten, dirsTotal).
    */
  def replaceRange(spark: SparkSession, root: String, colName: String,
                   lo: Any, hi: Any, batch: DataFrame, commitId: String,
                   statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int, Int) = {
    import org.apache.spark.sql.functions.col
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1, -1)
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"replaceRange: no commits at $root"))
        requireNoIdentity(parent, "replaceRange")
        val phys = physName(parent, colName)
        requireRangeBoundTypes(parent, phys, lo, hi, "replaceRange")
        val batchG = materializeGenerated(parent.generated, batch, "replaceRange")
        val batchPhys = toPhysicalDf(parent, batchG)
        parent.schemaDdl.foreach { pd =>
          val ps = org.apache.spark.sql.types.StructType.fromDDL(pd)
          val want = ps.fields.map(f => f.name -> f.dataType.sql).toMap
          val got = batchPhys.schema.fields.map(f => f.name -> f.dataType.sql).toMap
          require(want == got,
            s"replaceRange: batch schema ${got.toSeq.sorted} must equal the snapshot " +
              s"schema ${want.toSeq.sorted} (use commit(mode=append) for add-column evolution)")
        }
        enforceConstraints(effectiveChecks(parent), batchG, "replaceRange")
        val bdt = colTypeOf(parent.schemaDdl, phys)
        val inRange = col(phys) >= boundLit(bdt, lo) && col(phys) <= boundLit(bdt, hi)
        val stray = batchPhys.filter(col(phys).isNull || !inRange)
          .select(col(phys)).limit(5).collect().map(_.get(0))
        require(stray.isEmpty,
          s"replaceRange: batch row(s) with $colName = ${stray.map(String.valueOf).mkString(", ")} " +
            s"fall outside [$lo, $hi] (NULL is outside every range) — a stray row would " +
            "silently duplicate under the NEXT backfill of its true range; scope the batch " +
            "or widen the bounds")
        val (dropped, hit, _) =
          classifyRangeDirs(spark, root, parent, phys, lo, hi, "replaceRange")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val keep = col(phys).isNull || !inRange
        val survivors =
          if (hit.isEmpty) batchPhys
          else scanWithDeletes(spark, root, parent, hit).filter(keep)
            .unionByName(batchPhys)
        var w = dstSafePartitions(survivors, parent.partitionCols).write.mode("overwrite")
        if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
        w.parquet(s"$root/$dirName")
        val survivorsDir: Option[String] =
          if (dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName") == 0L) None
          else Some(dirName)
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = dropped, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "replace", commitId, "replaceRange",
          parent.schemaDdl.orElse(Some(batchPhys.schema.toDDL)),
          (latest, newDirs) => newDirs.filter(d =>
            rangeClassOf(dirRangeEnv(latest, d, phys), lo, hi, "replaceRange") != 0))
        (committed, dropped.size, hit.size, parent.dirs.size)
    }
  }

  /** Shared SET-application body for the UPDATE verbs: `base` is the
    * LOGICAL-name scan of the hit dirs carrying a boolean `hitCol` marking
    * the matched rows. SQL UPDATE semantics throughout:
    *
    *  - every SET right-hand side evaluates against the OLD row (ONE
    *    simultaneous projection via `withColumns`, so `SET a = b, b = a`
    *    swaps instead of chaining);
    *  - GENERATED columns are refused as direct SET targets (Delta's rule)
    *    and instead RECOMPUTE over the updated rows' NEW values, in the
    *    same sorted sequential order [[materializeGenerated]] applies at
    *    write time — the stored data can never contradict a declaration
    *    whichever verb carried it;
    *  - CHECK constraints re-validate the MATCHED rows only (unmatched
    *    rows hold by the write-time invariant), one bounded
    *    short-circuiting action per constraint;
    *  - the updated frame must keep the snapshot schema exactly — a SET
    *    expression that would change a column's TYPE is refused before
    *    anything publishes (UPDATE is not schema evolution).
    */
  private def applyUpdateSet(parent: Commit, base: DataFrame, hitCol: String,
                             set: Map[String, String], op: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, when}
    require(set.nonEmpty, s"$op: empty SET clause")
    val logical = logicalCols(parent)
    set.keySet.toSeq.sorted.foreach { n =>
      require(logical.contains(n),
        s"$op: SET names unknown column '$n' (snapshot columns: ${logical.mkString(", ")})")
      require(!parent.generated.contains(n),
        s"$op: '$n' is GENERATED ALWAYS AS (${parent.generated(n)}) — it recomputes " +
          "from its declaration; SET its source columns instead")
      require(!parent.identity.contains(n),
        s"$op: '$n' is GENERATED ALWAYS AS IDENTITY — its values are allocated, " +
          "never SET")
    }
    // the RAW expression type must equal the column's — checked BEFORE the
    // when() wrap, whose branch coercion would otherwise hide the mismatch
    // behind a runtime cast error (or worse, silently coerce)
    set.toSeq.sortBy(_._1).foreach { case (n, sql) =>
      val want = base.schema(n).dataType
      val got = base.select(expr(sql).as("__graft_t")).schema("__graft_t").dataType
      require(got == want,
        s"$op: SET changes '$n' from ${want.sql} to ${got.sql}; " +
          "UPDATE is not schema evolution — cast the expression explicitly")
    }
    val afterSet = base.withColumns(set.map { case (n, sql) =>
      n -> when(col(hitCol), expr(sql)).otherwise(col(n))
    })
    val afterGen = parent.generated.toSeq.sortBy(_._1).foldLeft(afterSet) {
      case (d, (n, sql)) =>
        d.withColumn(n, when(col(hitCol), expr(sql)).otherwise(col(n)))
    }
    base.schema.fields.filterNot(_.name == hitCol).foreach { f =>
      val got = afterGen.schema(f.name).dataType
      require(got == f.dataType,
        s"$op: SET changes '${f.name}' from ${f.dataType.sql} to ${got.sql}; " +
          "UPDATE is not schema evolution — cast the expression explicitly")
    }
    enforceConstraints(effectiveChecks(parent), afterGen.filter(col(hitCol)), op)
    afterGen.drop(hitCol)
  }

  /** Row-level keyed UPDATE with DIR-LEVEL COPY-ON-WRITE — the Delta
    * `UPDATE t SET c = expr, ... WHERE key IN (...)` lifecycle verb (the
    * targeted-correction shape: fix these accounts, redact these ids):
    * rewrite ONLY the data dirs whose manifest envelope + bloom for
    * `keyCol` admits a batch key ([[rangeHitDirs]], the [[deleteWhere]]
    * gate) — untouched dirs carry into the new manifest by reference with
    * their stats and blooms, so updating recent keys on an append-grown
    * 100 TB table costs O(matched commits), not O(table). Complements
    * [[mergeInto]]: merge replaces WHOLE rows from a full-schema batch;
    * UPDATE transforms named COLUMNS of matched rows in place, leaving the
    * rest of the row (and the table's unmatched rows) bit-identical.
    *
    * `set` maps logical column name → SQL expression over the row's
    * logical columns, with the semantics of [[applyUpdateSet]] (old-row
    * RHS, generated-column recompute, constraint re-check, type
    * preservation). Rewritten dirs scan with their merge-on-read deletes
    * APPLIED (a rewrite absorbs coverage and must not resurrect hidden
    * rows). NULL update keys are refused loudly — a join never matches
    * NULL, so the row would silently stay un-updated. Same pinned-parent
    * rebasing OCC publication as the other rewrite verbs (a concurrent
    * append conflicts iff its new dir might hold a batch key), idempotent
    * under `commitId` retry; [[changesBetween]] refuses to cross it
    * exactly as it refuses deletes. An updated PARTITION column moves rows
    * between hive subdirs of the rewritten dir — the layout is re-derived
    * by partitionBy on write, never edited in place. Returns
    * (version, dirsRewritten, dirsTotal).
    */
  def updateWhere(spark: SparkSession, root: String, keys: DataFrame,
                  keyCol: String, set: Map[String, String], commitId: String,
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, raise_error, when}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed update
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"updateWhere: no commits at $root"))
        val physKey = physName(parent, keyCol)
        val guarded = keys.select(col(keyCol).as(physKey))
          .filter(when(col(physKey).isNull,
              raise_error(lit("updateWhere: NULL update key (a join never matches " +
                "NULL, so the row would silently stay un-updated)")).cast("boolean"))
            .otherwise(lit(true)))
          .distinct()
        val (hit, _) = rangeHitDirs(root, parent, guarded, physKey, "updateWhere")
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val survivorsDir: Option[String] =
          if (hit.isEmpty) None // no dir can hold a key: pure-metadata no-op commit
          else {
            val baseLog = toLogicalDf(parent, scanWithDeletes(spark, root, parent, hit))
            val marked = baseLog
              .join(broadcast(guarded.select(col(physKey).as(keyCol))
                  .withColumn("__graft_upd", lit(true))),
                Seq(keyCol), "left")
              .withColumn("__graft_upd", coalesce(col("__graft_upd"), lit(false)))
            val updated = applyUpdateSet(parent, marked, "__graft_upd", set, "updateWhere")
            var w = dstSafePartitions(toPhysicalDf(parent, updated), parent.partitionCols).write.mode("overwrite")
            if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
            w.parquet(s"$root/$dirName")
            // every hit row was MOR-hidden → zero-row rewrite → omit the dir
            val rows = dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName")
            if (rows == 0L) None else Some(dirName)
          }
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        // conflict test for rebase: a concurrently-added dir conflicts iff
        // it might hold a batch key (a rebased update committing AFTER such
        // an append would claim rows it never transformed)
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "update", commitId, "updateWhere", parent.schemaDdl,
          (latest, newDirs) =>
            rangeHitDirs(root, latest.copy(dirs = newDirs), guarded, physKey, "updateWhere")._1)
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** Range-predicate UPDATE (`UPDATE t SET ... WHERE lo <= col <= hi` —
    * the bulk-correction shape: reprice a date range, re-tag an id block):
    * dirs whose manifest envelope for `colName` is DISJOINT from [lo, hi]
    * pass by reference with their stats and blooms; overlapping dirs (and
    * stat-less dirs, conservatively) rewrite through [[applyUpdateSet]]
    * with the in-range rows matched. Unlike [[deleteRange]] there is no
    * metadata-only class — an update always materializes new bytes for
    * contained dirs too. NULL rows never match a SQL range predicate and
    * pass through untouched. Bound types are validated against the
    * snapshot schema exactly as deleteRange validates them (timestamp
    * bounds are MICROS); same OCC/idempotence/CDC contract as
    * [[updateWhere]]. Returns (version, dirsRewritten, dirsTotal).
    */
  def updateRange(spark: SparkSession, root: String, colName: String,
                  lo: Any, hi: Any, set: Map[String, String], commitId: String,
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1)
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"updateRange: no commits at $root"))
        val phys = physName(parent, colName)
        requireRangeBoundTypes(parent, phys, lo, hi, "updateRange")
        val (hit, _) = parent.dirs.partition(d =>
          rangeClassOf(dirRangeEnv(parent, d, phys), lo, hi, "updateRange") != 0)
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        val bdt = colTypeOf(parent.schemaDdl, phys)
        val survivorsDir: Option[String] =
          if (hit.isEmpty) None
          else {
            val baseLog = toLogicalDf(parent, scanWithDeletes(spark, root, parent, hit))
            val marked = baseLog.withColumn("__graft_upd",
              coalesce(col(colName) >= boundLit(bdt, lo) &&
                col(colName) <= boundLit(bdt, hi), lit(false)))
            val updated = applyUpdateSet(parent, marked, "__graft_upd", set, "updateRange")
            var w = dstSafePartitions(toPhysicalDf(parent, updated), parent.partitionCols).write.mode("overwrite")
            if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
            w.parquet(s"$root/$dirName")
            val rows = dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName")
            if (rows == 0L) None else Some(dirName)
          }
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)),
            parent.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
              .getOrElse(spark.read.parquet(s"$root/$d").schema)))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        val committed = publishRewriteRebasing(root, parent, rewritten = hit,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "update", commitId, "updateRange", parent.schemaDdl,
          (latest, newDirs) => newDirs.filter(d =>
            rangeClassOf(dirRangeEnv(latest, d, phys), lo, hi, "updateRange") != 0))
        (committed, hit.size, parent.dirs.size)
    }
  }

  /** Bound-type validation shared by the range verbs: unlike every skip
    * path, range classification can bypass the residual predicate (the
    * deleteRange Drop class) or decide which rows transform, so a
    * type-confused bound is refused against the snapshot schema loudly.
    */
  private def requireRangeBoundTypes(parent: Commit, phys: String,
                                     lo: Any, hi: Any, op: String): Unit =
    colTypeOf(parent.schemaDdl, phys).foreach {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.DateType =>
        require(lo.isInstanceOf[Number] && hi.isInstanceOf[Number],
          s"$op: $phys takes numeric bounds (micros for timestamps, epoch " +
            s"days for dates), got " +
            s"(${lo.getClass.getSimpleName}, ${hi.getClass.getSimpleName})")
      case org.apache.spark.sql.types.StringType =>
        require(lo.isInstanceOf[String] && hi.isInstanceOf[String],
          s"$op: $phys is a string column; bounds must be strings, got " +
            s"(${lo.getClass.getSimpleName}, ${hi.getClass.getSimpleName})")
      case other => sys.error(
        s"$op supports integral/string/timestamp/date columns; $phys is $other")
    }

  /** The LOGICAL column names the latest snapshot's skipping index covers:
    * (stats columns, bloom columns) — the union over dirs, physical names
    * mapped back through the rename mapping. This is what a rewrite issued
    * WITHOUT explicit statsCols/bloomCols (the SQL front door's DML and
    * OPTIMIZE statements) should pass through, so a SQL-issued rewrite
    * never silently degrades pruning for every later reader.
    */
  def indexedCols(root: String): (Seq[String], Seq[String]) =
    latestCommit(root) match {
      case None => (Nil, Nil)
      case Some(c) =>
        val inv = c.nameMap.map(_.swap)
        val stats = (c.stats.values.flatMap(_.keys) ++ c.strStats.values.flatMap(_.keys))
          .toSeq.distinct.sorted.map(n => inv.getOrElse(n, n))
        val blooms = c.blooms.values.flatten.toSeq.distinct.sorted
          .map(n => inv.getOrElse(n, n))
        (stats, blooms)
    }

  /** ANALYZE — RETROFIT the skipping index onto an existing table WITHOUT
    * rewriting a byte of data: per-dir (and per-file) min/max/null-count
    * envelopes for `statsCols` come from the parquet FOOTERS of the files
    * already on disk — O(#files) footer reads, zero Spark jobs — and
    * optional `bloomCols` bitmaps from one distinct-scan per column; the
    * result publishes as a METADATA-ONLY commit whose stats/blooms merge
    * into the manifest. This is the missing half of the index story: a
    * table ingested WITHOUT statsCols (or a clone whose workload changed)
    * gains range/point/NULL pruning retroactively at footer-read cost,
    * where the only alternative today is a full OPTIMIZE rewrite. Side
    * files land via atomic rename, so concurrent readers of live dirs
    * never parse a half-written index; per-dir stats are computed over
    * the UNION of already-indexed and requested columns, so an existing
    * index is extended, never clobbered. Idempotent under commitId; a
    * concurrent rewrite rebases naturally: entries are kept only
    * for dirs still present at publish, and new dirs simply stay
    * unindexed (skipping is an optimization, never a filter).
    */
  def analyze(spark: SparkSession, root: String, statsCols: Seq[String],
              commitId: String, bloomCols: Seq[String] = Nil): (Long, Int) = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "analyze: nothing to compute (empty statsCols and bloomCols)")
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1)
      case None =>
        val pinned = latestCommit(root)
          .getOrElse(sys.error(s"analyze: no commits at $root"))
        require(pinned.schemaDdl.nonEmpty, "analyze: snapshot has no recorded schema")
        val logical = logicalCols(pinned)
        (statsCols ++ bloomCols).foreach(c => require(logical.contains(c),
          s"analyze: unknown column '$c' (snapshot columns: ${logical.mkString(", ")})"))
        val physSchema =
          org.apache.spark.sql.types.StructType.fromDDL(pinned.schemaDdl.get)
        val physStats = statsCols.map(physName(pinned, _))
        val physBlooms = bloomCols.map(physName(pinned, _))
        val perDir = pinned.dirs.map { d =>
          val dp = dirPath(root, d)
          require(new File(dp).isDirectory,
            s"snapshot v${pinned.version} references vacuumed dir $dp")
          // extend, never clobber: recompute over already-indexed ∪ requested
          val existing = pinned.stats.getOrElse(d, Map.empty).keySet ++
            pinned.strStats.getOrElse(d, Map.empty).keySet
          val want = (existing ++ physStats).toSeq.sorted
            .filter(c => physSchema.fieldNames.contains(c))
          val st = if (want.isEmpty) DirStats(Map.empty, Map.empty)
                   else gatherStats(spark, dp, want, physSchema)
          val bl = gatherBlooms(spark, dp, physBlooms)
          (d, st, bl)
        }
        var out = (-1L, -1)
        while (out._1 < 0) {
          val parent = latestCommit(root).get
          val live = parent.dirs.toSet
          val kept = perDir.filter(t => live.contains(t._1))
          def merged[V](base: Map[String, Map[String, V]],
                        add: Seq[(String, Map[String, V])]) =
            add.foldLeft(base) { case (m, (d, cols)) =>
              if (cols.isEmpty) m else m + (d -> (m.getOrElse(d, Map.empty) ++ cols))
            }
          val c = parent.copy(version = parent.version + 1, commitId = commitId,
            mode = "analyze",
            stats = merged(parent.stats, kept.map(t => t._1 -> t._2.ints)),
            strStats = merged(parent.strStats, kept.map(t => t._1 -> t._2.strs)),
            nullCounts = merged(parent.nullCounts, kept.map(t => t._1 -> t._2.nulls)),
            blooms = kept.foldLeft(parent.blooms) { case (m, (d, _, bl)) =>
              if (bl.isEmpty) m
              else m + (d -> (m.getOrElse(d, Nil) ++ bl).distinct.sorted)
            })
          if (publishIfAbsent(root, parent.version + 1, c))
            out = (parent.version + 1, kept.size)
          else findCommitVersion(root, commitId).foreach(v => out = (v, -1))
        }
        out
    }
  }

  /** SHOW PARTITIONS — the distinct hive partition-value combinations of
    * the latest (or pinned) snapshot under its CURRENT layout, with the
    * file count per combination: a directory-level walk, O(partition
    * values), never a file-content read (file counts come from directory
    * listings of the leaf subtrees, still O(values + files-listed), zero
    * Spark jobs). Values path-unescape; the NULL sentinel surfaces as a
    * SQL NULL. Unpartitioned snapshots refuse (Delta's behavior), and so
    * do mixed-era snapshots (partition evolution in flight): a value list
    * spanning two layouts has no single-table shape — OPTIMIZE first.
    */
  def showPartitions(spark: SparkSession, root: String,
                     asOf: Option[Long] = None): DataFrame = {
    val c = resolveSnapshot(root, asOf)
    require(c.partitionCols.nonEmpty, s"SHOW PARTITIONS: $root is not partitioned")
    require(c.dirLayouts.isEmpty,
      "SHOW PARTITIONS: snapshot has mixed partition-layout eras (partition " +
        "evolution in flight) — OPTIMIZE to normalize first")
    val inv = c.nameMap.map(_.swap)
    def walk(f: File, levels: Seq[String]): Seq[(Seq[String], Int)] = levels match {
      case Nil =>
        Seq((Nil, Option(f.listFiles()).getOrElse(Array.empty)
          .count(x => x.isFile && x.getName.endsWith(".parquet"))))
      case colName +: rest =>
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filter(x => x.isDirectory && x.getName.startsWith(colName + "="))
          .flatMap { sub =>
            val raw = sub.getName.substring(colName.length + 1)
            val v = if (raw == "__HIVE_DEFAULT_PARTITION__") null
                    else unescapePathName(raw)
            walk(sub, rest).map { case (vs, n) => (v +: vs, n) }
          }
    }
    val rows = c.dirs.flatMap { d =>
      require(new File(dirPath(root, d)).isDirectory,
        s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}")
      walk(new File(dirPath(root, d)), c.partitionCols)
    }.groupBy(_._1).toSeq
      .map { case (vs, xs) => org.apache.spark.sql.Row.fromSeq(vs :+ xs.map(_._2).sum) }
      .sortBy(_.toSeq.map(v => if (v == null) "" else v.toString).mkString("\u0000"))
    val schema = org.apache.spark.sql.types.StructType(
      c.partitionCols.map(p => org.apache.spark.sql.types.StructField(
        inv.getOrElse(p, p), org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("num_files",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    spark.createDataFrame(new java.util.ArrayList(rows.asJava), schema)
  }

  // ---- DSv2 keyed-batch planning (catalog storage-partitioned scans) ----

  /** One key-group of a keyed batch scan: the distinct hive key TUPLE and
    * every live parquet file holding its rows (pre-pruned by the skipping
    * index). `key` values are raw JVM values (null = the hive NULL
    * sentinel subtree).
    */
  final case class KeyedGroup(key: Seq[Any], files: Seq[(String, Long)])

  /** The driver-side plan behind [[graft.catalog.GraftKeyedScan]]:
    * physical data schema (file columns — keys are path-materialized, so
    * they are NOT here), the key schema in declared types, the
    * logical→physical name mapping, and the per-key-tuple file groups.
    */
  final case class KeyedPlan(version: Long,
                             physDataSchema: org.apache.spark.sql.types.StructType,
                             keySchema: org.apache.spark.sql.types.StructType,
                             nameMap: Map[String, String],
                             groups: Seq[KeyedGroup],
                             keptDirs: Int, totalDirs: Int,
                             fileRows: Map[String, Long] = Map.empty,
                             fileDeletes: Map[String, FileDeletes] = Map.empty,
                             keySets: Map[String, KeySet] = Map.empty)

  /** Pending merge-on-read debt of one data file: the sorted row positions
    * its dir's positional vectors delete, and the names of the key-form
    * delete sets covering its dir.
    */
  final case class FileDeletes(positions: Array[Long], keySets: Seq[String])

  /** A key-form delete set resolved on the driver: its physical key column
    * and its non-null keys as catalyst values of that column's type.
    */
  final case class KeySet(column: String, keys: Set[Any])

  /** The driver-side plan of a FLAT (unpartitioned) DSv2 batch scan:
    * physical file schema, name mapping, and the index-pruned file list
    * with byte lengths — the unkeyed sibling of [[keyedBatchPlan]], for
    * the simple-snapshot shapes where a raw-file batch is exactly right.
    */
  final case class FlatPlan(version: Long,
                            physSchema: org.apache.spark.sql.types.StructType,
                            nameMap: Map[String, String],
                            files: Seq[(String, Long)],
                            keptDirs: Int, totalDirs: Int,
                            fileRows: Map[String, Long] = Map.empty)

  /** Plan a flat DSv2 batch when the snapshot is simple enough for the
    * raw parquet reader (flat layout, recorded schema, no defaults, no
    * MOR debt, single layout era); None → the V1 fallback, which handles
    * everything. Dir pruning runs the same planRange/planPoint/planNull
    * gates as every other read path; per-file `_filestats` envelopes
    * prune inside kept dirs.
    */
  private[graft] def flatBatchPlan(root: String, asOf: Option[Long],
      ranges: Seq[(String, Long, Long)], points: Seq[(String, Long)],
      nullProbes: Seq[(String, Boolean)]): Option[FlatPlan] = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    if (c.partitionCols.nonEmpty || c.schemaDdl.isEmpty || c.defaults.nonEmpty ||
        c.deletes.nonEmpty || c.dirLayouts.nonEmpty) return None
    val phys = StructType.fromDDL(c.schemaDdl.get)
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    var kept = c.dirs
    ranges.foreach { case (n, lo, hi) =>
      val k = planRange(root, n, lo, hi, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    points.foreach { case (n, v) =>
      val k = planPoint(root, n, v, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    nullProbes.foreach { case (n, w) =>
      val k = planNull(root, n, w, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    val physBounds = ranges.map { case (n, lo, hi) => (physName(c, n), lo, hi) }
    val rowsB = Map.newBuilder[String, Long]
    val files = kept.flatMap { d =>
      val dp = dirPath(root, d)
      val fstats = readFileStats(dp)
      val frows = readFileRows(dp)
      parquetFiles(dp).flatMap { rel =>
        val keep = physBounds.isEmpty || fstats.forall(fs =>
          physBounds.forall { case (n, lo, hi) =>
            fs.get(rel).flatMap(_.get(n)).forall(_.overlapsLong(lo, hi)) })
        if (!keep) None
        else {
          val full = s"$dp/$rel"
          frows.get(rel).foreach(n => rowsB += full -> n)
          Some((full, new File(full).length()))
        }
      }
    }
    if (files.isEmpty) return None // empty scans take the (trivial) V1 path
    Some(FlatPlan(c.version, phys, c.nameMap, files.sortBy(_._1),
      kept.size, c.dirs.size, rowsB.result()))
  }

  // ---- metadata-only aggregation (DSv2 aggregate pushdown) -------------

  /** One aggregate the metadata planner can serve without reading data. */
  private[graft] sealed trait MetaAgg
  private[graft] object MetaAgg {
    /** COUNT(*) */
    case object Rows extends MetaAgg
    /** COUNT(col) — non-null count */
    final case class NonNull(col: String) extends MetaAgg
    /** MIN(col) */
    final case class Lo(col: String) extends MetaAgg
    /** MAX(col) */
    final case class Hi(col: String) extends MetaAgg
  }

  /** Serve a whole aggregation from METADATA — commit manifests, the
    * `_filestats` side files, and parquet footers — without reading one
    * data byte. Returns one row per group (group values ++ aggregate
    * values, in argument order), or None when exactness cannot be
    * PROVEN, in which case the caller falls back to the ordinary scan:
    * the pushdown is an optimization, never a correctness input.
    *
    * Exactness rules (each `None` below is a deliberate refusal):
    *  - pending MOR deletion vectors would make footer counts overcount;
    *  - a DEFAULT-evolved column reads a non-null default out of files
    *    that physically lack it — footers can't see that;
    *  - group-by columns must be hive partition columns (the group of a
    *    row is then its file's `col=value/` path segment — exact);
    *  - MIN/MAX is served only for types whose footer statistics are
    *    value-exact: byte/short/int/long/date/timestamp(micros). Strings
    *    are refused (parquet writers may TRUNCATE binary min/max — fine
    *    for skipping, wrong as an answer) except when partition-path-
    *    sourced (paths are exact); float/double are refused (NaN
    *    ordering); decimals (physical-scale ambiguity);
    *  - COUNT(col) needs numNulls on every block of every file;
    *  - a wanted column ABSENT from a file's physical schema is exact:
    *    those rows read as NULL (add-column evolution without DEFAULT).
    *
    * Cost: COUNT(*)-only aggregations are O(#side-files) reads with zero
    * footer opens; MIN/MAX/COUNT(col) pay one footer open per file —
    * the ANALYZE cost class. At 100 TB this turns a full-table COUNT or
    * a per-partition row-count report from a cluster-wide scan into a
    * driver-side metadata walk.
    */
  private[graft] def metadataAggregate(spark: SparkSession, root: String,
      asOf: Option[Long], tableSchema: org.apache.spark.sql.types.StructType,
      groupBy: Seq[String], aggs: Seq[MetaAgg],
      partFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.types._
    if (latestVersion(root).isEmpty) return None
    val c = resolveSnapshot(root, asOf)
    if (c.schemaDdl.isEmpty || c.deletes.nonEmpty) return None
    def colsOf(a: MetaAgg): Seq[String] = a match {
      case MetaAgg.Rows       => Nil
      case MetaAgg.NonNull(x) => Seq(x)
      case MetaAgg.Lo(x)      => Seq(x)
      case MetaAgg.Hi(x)      => Seq(x)
    }
    // CLAIMED partition predicates (GraftPartitionFilters — Spark dropped
    // its Filter node, so enforcing them here is a CORRECTNESS input):
    // each one references a partition column; its value comes from the
    // same path extraction the grouping uses, so enforcement is per-file
    // exact. Any unexpected shape refuses the whole pushdown — the
    // fallback scans enforce the claim themselves.
    val filterCols = partFilters.flatMap(_.references).distinct
    def isPart(n: String): Boolean = c.partitionCols.contains(physName(c, n))
    if (filterCols.exists(!isPart(_))) return None
    val refCols = (groupBy ++ aggs.flatMap(colsOf)).distinct
    if (refCols.exists(c.defaults.contains)) return None
    if (groupBy.exists(g => !isPart(g))) return None
    val partSourced = refCols.filter(isPart).toSet
    // path extraction needs the single declared layout on every live file
    if ((groupBy.nonEmpty || partSourced.nonEmpty || filterCols.nonEmpty) &&
        c.dirLayouts.nonEmpty)
      return None
    val types: Map[String, DataType] = (refCols ++ filterCols).distinct.flatMap(n =>
      tableSchema.fields.find(_.name == n).map(f => n -> f.dataType)).toMap
    if (types.size != (refCols ++ filterCols).distinct.size) return None
    def pathParseable(dt: DataType) =
      dt == IntegerType || dt == LongType || dt == StringType ||
        dt == DateType || dt == TimestampType || dt == TimestampNTZType
    def footerExact(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    def atomicType(dt: DataType) = dt match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }
    val shapesOk = groupBy.forall(g => pathParseable(types(g))) &&
      filterCols.forall(fc => pathParseable(types(fc))) &&
      aggs.forall {
        case MetaAgg.Rows => true
        case MetaAgg.NonNull(x) =>
          if (partSourced(x)) pathParseable(types(x)) else atomicType(types(x))
        case MetaAgg.Lo(x) =>
          if (partSourced(x)) pathParseable(types(x)) else footerExact(types(x))
        case MetaAgg.Hi(x) =>
          if (partSourced(x)) pathParseable(types(x)) else footerExact(types(x))
      }
    if (!shapesOk) return None

    // footer needs, keyed by PHYSICAL column name (stable across renames)
    val mmCols: Seq[String] = aggs.collect {
      case MetaAgg.Lo(x) if !partSourced(x) => x
      case MetaAgg.Hi(x) if !partSourced(x) => x
    }.distinct
    val nullCols: Seq[String] = aggs.collect {
      case MetaAgg.NonNull(x) if !partSourced(x) => x
    }.distinct
    val needMM: Map[String, DataType] =
      mmCols.map(x => physName(c, x) -> types(x)).toMap
    val needNulls: Set[String] = nullCols.map(x => physName(c, x)).toSet
    val phys2log: Map[String, String] =
      (mmCols ++ nullCols).map(x => physName(c, x) -> x).toMap
    val needRows = true // group accounting, COUNT(*), absent-column nulls

    // per-group accumulators
    final class Acc {
      var rows = 0L
      val nulls = scala.collection.mutable.Map[String, Long]()   // logical col
      val mm = scala.collection.mutable.Map[String, (Any, Any)]() // logical col
    }
    def asLong(v: Any): Long = v match {
      case i: Int => i.toLong; case l: Long => l
      case s: Short => s.toLong; case b: Byte => b.toLong
      // path-sourced DATE/TIMESTAMP values (footer-sourced ones are
      // already internal epoch-day Ints / epoch-micros Longs) — ordered
      // by epoch day / epoch micros
      case other => VersionedRelation.epochDay(other)
        .orElse(VersionedRelation.tsMicros(other))
        .orElse(VersionedRelation.ntzMicros(other))
        .getOrElse(sys.error(s"non-integral envelope value $other"))
    }
    def foldMM(a: Acc, col: String, lo: Any, hi: Any): Unit = {
      val merged = a.mm.get(col) match {
        case None => (lo, hi)
        case Some((plo, phi)) => (lo, hi) match {
          case (l: String, h: String) =>
            (utf8Min(plo.asInstanceOf[String], l), utf8Max(phi.asInstanceOf[String], h))
          case _ =>
            (if (asLong(lo) < asLong(plo)) lo else plo,
             if (asLong(hi) > asLong(phi)) hi else phi)
        }
      }
      a.mm.update(col, merged)
    }
    val conf = spark.sessionState.newHadoopConf()
    val acc = scala.collection.mutable.LinkedHashMap[Seq[Any], Acc]()
    val pathCols: Seq[String] =
      (groupBy ++ refCols.filter(partSourced) ++ filterCols).distinct

    // TIERED resolution — the plan-time cost model:
    //  tier 1 (zero IO): dir-level manifest nullCounts serve COUNT(col)
    //    for global aggregations (nulls are additive across dirs; the
    //    entry's presence proves every file accounted numNulls);
    //  tier 2 (side files only): `_filestats` per-file envelopes + row
    //    counts serve MIN/MAX and COUNT(*) per file — an entry's
    //    presence proves the footer HAD stats at write time, so values
    //    are exact; INDEXED aggregation columns never open a footer;
    //  tier 3 (parallel footers): only files with something still
    //    missing — un-indexed columns, all-null disambiguation,
    //    pre-rowcount commits — resolve by one footer read each, fanned
    //    across a bounded driver pool instead of sequentially.
    final case class PendingFile(dp: String, rel: String, group: Seq[Any],
        pathVals: Map[String, Any], sideRows: Option[Long],
        sideMM: Map[String, (Any, Any)],
        missMM: Map[String, DataType], missNulls: Set[String])
    val pending = Seq.newBuilder[PendingFile]
    val dirNulls = scala.collection.mutable.Map[String, Long]() // phys → Σ nulls

    c.dirs.foreach { d =>
      val dp = dirPath(root, d)
      if (!new File(dp).isDirectory) return None // vacuumed ref: let the scan path report it
      val frows = readFileRows(dp)
      val fstats = readFileStats(dp).getOrElse(Map.empty)
      // tier 1: dir-level null counts (global UNFILTERED aggregations
      // only — a dir spans many partition values, so grouped or
      // partition-filtered shapes need per-file accounting)
      val dirNullServed: Set[String] =
        if (groupBy.nonEmpty || partFilters.nonEmpty) Set.empty
        else needNulls.filter(p => c.nullCounts.get(d).exists(_.contains(p)))
      dirNullServed.foreach { p =>
        dirNulls.update(p, dirNulls.getOrElse(p, 0L) + c.nullCounts(d)(p)._1)
      }
      parquetFiles(dp).foreach { rel =>
        // partition-path values of every path-sourced column (None =
        // abort); path segments carry PHYSICAL names, pathVals keys stay
        // logical — renames compose
        val pathVals: Map[String, Any] = pathCols.map { col =>
          val phys = physName(c, col)
          val seg = rel.split('/').dropRight(1)
            .collectFirst { case s if s.startsWith(phys + "=") =>
              s.substring(phys.length + 1) }
          seg.flatMap(hivePartValue(types(col), _)) match {
            case Some(v) => col -> v
            case None => return None // outside the layout / unparseable
          }
        }.toMap
        // tier 2: per-file side-file envelopes (entry present = EVERY
        // block of the file accounted for the column at write time —
        // fileFooterStats drops a column whose blocks can't prove it —
        // so the envelope is value-exact; Long-normalized, so only types
        // whose internal form round-trips losslessly. Pre-contract side
        // files from older tables can be refreshed with ANALYZE.)
        val sideMM: Map[String, (Any, Any)] = needMM.flatMap { case (p, dt) =>
          fstats.get(rel).flatMap(_.get(p)).collect {
            // DATE envelopes are epoch-day ints — same internal form the
            // footer tier would produce, so side data answers MIN/MAX on
            // an indexed day column with zero footer opens
            case IntMM(mn, mx) if dt == IntegerType || dt == DateType =>
              p -> ((mn.toInt: Any, mx.toInt: Any))
            case IntMM(mn, mx) if dt == LongType || dt == TimestampType ||
                dt == TimestampNTZType =>
              p -> ((mn: Any, mx: Any))
          }
        }
        // claimed partition predicates: a failing file contributes NOTHING
        // (the enforcement that replaces Spark's dropped Filter node)
        if (partFilters.isEmpty ||
            graft.catalog.GraftPartitionFilters.passes(partFilters, pathVals)) {
          pending += PendingFile(dp, rel, groupBy.map(pathVals), pathVals,
            frows.get(rel), sideMM,
            needMM.filterNot(kv => sideMM.contains(kv._1)),
            needNulls -- dirNullServed)
        }
      }
    }

    // tier 3: footer reads for whatever is still missing, in parallel
    val files = pending.result()
    val needFooter = files.filter(f =>
      f.missMM.nonEmpty || f.missNulls.nonEmpty || f.sideRows.isEmpty)
    val footered = needFooter.map(f => (f.dp, f.rel))
      .zip(parallelFooters(needFooter) { f =>
        fileAggStats(conf, Paths.get(f.dp, f.rel), f.missMM, f.missNulls)
      }).toMap

    files.foreach { f =>
      val (rows, footMM, footNullsM) = footered.get((f.dp, f.rel)) match {
        case Some(None) => return None // ambiguous footer: fall back to the scan
        case Some(Some((r, m, n))) => (r, m, n)
        case None => (f.sideRows.get, Map.empty[String, (Any, Any)], Map.empty[String, Long])
      }
      val a = acc.getOrElseUpdate(f.group, new Acc)
      a.rows += rows
      (f.sideMM ++ footMM).foreach { case (phys, (lo, hi)) =>
        foldMM(a, phys2log(phys), lo, hi)
      }
      footNullsM.foreach { case (phys, n) =>
        val log = phys2log(phys)
        a.nulls.update(log, a.nulls.getOrElse(log, 0L) + n)
      }
      // partition-sourced aggregate columns: value (or NULL) from the path
      refCols.filter(partSourced).foreach { col =>
        f.pathVals(col) match {
          case null => a.nulls.update(col, a.nulls.getOrElse(col, 0L) + rows)
          case v if rows > 0 => foldMM(a, col, v, v)
          case _ => ()
        }
      }
    }
    // tier-1 dir-level nulls land once, on the single global group
    if (dirNulls.nonEmpty) {
      val a = acc.getOrElseUpdate(Nil, new Acc)
      dirNulls.foreach { case (phys, n) =>
        val log = phys2log(phys)
        a.nulls.update(log, a.nulls.getOrElse(log, 0L) + n)
      }
    }
    if (groupBy.isEmpty && acc.isEmpty) acc.update(Nil, new Acc)

    // deterministic group order: null-first, then numeric / utf8
    def cmpVal(x: Any, y: Any): Int = (x, y) match {
      case (null, null) => 0
      case (null, _)    => -1
      case (_, null)    => 1
      case (a: String, b: String) => utf8Compare(a, b)
      case (a, b) => java.lang.Long.compare(asLong(a), asLong(b))
    }
    val ordered = acc.toSeq.sortWith { case ((k1, _), (k2, _)) =>
      k1.zip(k2).map { case (a, b) => cmpVal(a, b) }.find(_ != 0).exists(_ < 0)
    }
    Some(ordered.map { case (gk, a) =>
      gk ++ aggs.map {
        case MetaAgg.Rows       => a.rows
        case MetaAgg.NonNull(x) => a.rows - a.nulls.getOrElse(x, 0L)
        case MetaAgg.Lo(x)      => a.mm.get(x).map(_._1).orNull
        case MetaAgg.Hi(x)      => a.mm.get(x).map(_._2).orNull
      }
    })
  }

  /** ANALYZE ... NDV BY — MEASURED per-column distinct counts for the
    * cost-based optimizer, published as table properties
    * (`graft.ndv.<col>` = "<ndv>:<measuredVersion>") in one
    * metadata-only commit. Costs ONE aggregation job over the pinned
    * snapshot (`count(DISTINCT col)` per column — exact, the honest
    * price of a join-reorder-grade statistic; the footers carry no NDV),
    * zero rewrites. [[v2ColumnStats]] serves the value as
    * `distinctCount`; like every engine's ANALYZE it goes stale as the
    * table moves, and re-running refreshes it — which is exactly the
    * contract Spark's own cost model assumes of catalog statistics.
    */
  def analyzeNdv(spark: SparkSession, root: String, cols: Seq[String],
                 commitId: String): (Long, Map[String, Long]) = {
    require(cols.nonEmpty && cols.distinct.size == cols.size,
      s"analyzeNdv: columns must be non-empty and distinct, got ${cols.mkString(", ")}")
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, Map.empty)
      case None =>
        import org.apache.spark.sql.functions.{col, countDistinct}
        val pinned = latestCommit(root)
          .getOrElse(sys.error(s"analyzeNdv: no commits at $root"))
        val df = read(spark, root, Some(pinned.version))
        cols.foreach(c => require(df.columns.contains(c),
          s"analyzeNdv: unknown column '$c' (columns: ${df.columns.mkString(", ")})"))
        val row = df.agg(
          countDistinct(col(cols.head)).as("c0"),
          cols.tail.zipWithIndex.map { case (c, i) =>
            countDistinct(col(c)).as(s"c${i + 1}") }: _*).head()
        val ndvs = cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
        val v = setTableProperties(root,
          ndvs.map { case (c, n) => s"graft.ndv.$c" -> s"$n:${pinned.version}" },
          commitId)
        (v, ndvs)
    }
  }

  /** Distinct partition-value tuples of a snapshot, TYPED by the declared
    * key fields (LOGICAL names; null = the NULL partition) — the driver
    * walk behind `SupportsPartitionManagement.listPartitionIdentifiers`.
    * O(#dirs × #values) directory listing, zero Spark jobs, values parsed
    * exactly (path-unescaped, sentinel → null, declared types).
    */
  private[graft] def partitionTuples(root: String, asOf: Option[Long] = None)
      : (Seq[org.apache.spark.sql.types.StructField], Seq[Seq[Any]]) = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    require(c.partitionCols.nonEmpty, s"$root is not partitioned")
    require(c.dirLayouts.isEmpty,
      "partition listing: snapshot has mixed partition-layout eras " +
        "(partition evolution in flight) — OPTIMIZE to normalize first")
    val phys = StructType.fromDDL(
      c.schemaDdl.getOrElse(sys.error(s"$root: no recorded schema")))
    val inv = c.nameMap.map(_.swap)
    val keyFields = c.partitionCols.map { p =>
      val f = phys.fields.find(_.name == p)
        .getOrElse(sys.error(s"partition column $p missing from schema"))
      StructField(inv.getOrElse(p, p), f.dataType, nullable = true)
    }
    def walk(f: File, cols: Seq[String],
             dts: Seq[DataType]): Seq[Seq[Any]] = cols match {
      case Nil => Seq(Nil)
      case colName +: rest =>
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filter(x => x.isDirectory && x.getName.startsWith(colName + "="))
          .flatMap { sub =>
            val raw = sub.getName.substring(colName.length + 1)
            val v = hivePartValue(dts.head, raw).getOrElse(sys.error(
              s"unparseable partition value '$raw' for $colName"))
            walk(sub, rest, dts.tail).map(v +: _)
          }
    }
    val physTypes = c.partitionCols.map(p => phys.fields.find(_.name == p).get.dataType)
    val tuples = c.dirs.flatMap { d =>
      require(new File(dirPath(root, d)).isDirectory,
        s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}")
      walk(new File(dirPath(root, d)), c.partitionCols, physTypes)
    }.distinct
    (keyFields, tuples)
  }

  /** COLUMN-LEVEL statistics for Spark's cost-based optimizer, served
    * from the manifest alone (`Statistics.columnStats()` on the catalog
    * scans — zero IO beyond the snapshot resolution the scan already
    * paid): per projected column with a full per-dir envelope in the
    * skipping index, min/max (integral types — the values Catalyst's
    * FilterEstimation can range-compare) and, where every dir's
    * null-count entry is present, the exact null count. The skipping
    * index thus doubles as the CBO stat source: ANALYZE GRAFT STATS BY
    * retrofits both at once. Columns with partial coverage, string
    * envelopes (truncatable), or pending MOR debt serve nothing —
    * estimates feed plans, so honesty beats coverage. distinctCount is
    * deliberately absent: the index carries no NDV, and a fabricated one
    * would steer join reordering worse than none.
    */
  private[graft] def v2ColumnStats(root: String, asOf: Option[Long],
      schema: org.apache.spark.sql.types.StructType)
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
                      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.types._
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (latestVersion(root).isEmpty) return out
    val c = resolveSnapshot(root, asOf)
    if (c.deletes.nonEmpty || c.dirs.isEmpty) return out
    schema.fields.foreach { f =>
      val phys = physName(c, f.name)
      if (c.defaults.contains(f.name)) ()
      else {
        def internal(v: Long): Any = f.dataType match {
          case IntegerType | DateType => v.toInt
          case ShortType => v.toShort
          case ByteType  => v.toByte
          case _         => v
        }
        val integral = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType => true
          case _ => false
        }
        val mm: Option[(Any, Any)] =
          if (integral && c.dirs.forall(d => c.stats.get(d).exists(_.contains(phys))))
            Some {
              val es = c.dirs.map(d => c.stats(d)(phys))
              (internal(es.map(_._1).min), internal(es.map(_._2).max))
            }
          else None
        val nulls: Option[Long] =
          if (c.dirs.forall(d => c.nullCounts.get(d).exists(_.contains(phys))))
            Some(c.dirs.map(d => c.nullCounts(d)(phys)._1).sum)
          else None
        // MEASURED distinct count (analyzeNdv — "<ndv>:<version>" prop);
        // parsed defensively: a hand-set malformed property serves nothing
        val ndv: Option[Long] = c.props.get(s"graft.ndv.${f.name}")
          .flatMap(_.split(':').headOption).flatMap(_.toLongOption)
          .filter(_ >= 0L)
        if (mm.isDefined || nulls.isDefined || ndv.isDefined) {
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                mm.map(v => java.util.Optional.of(v._1.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mm.map(v => java.util.Optional.of(v._2.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def nullCount(): java.util.OptionalLong =
                nulls.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def distinctCount(): java.util.OptionalLong =
                ndv.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
            })
        }
      }
    }
    out
  }

  /** LIMIT file-prefix prune of a flat batch plan (DSv2
    * `SupportsPushDownLimit`, PARTIAL semantics — Spark keeps its own
    * Limit on top, so a superset is always sound): keep files in manifest
    * order until their `_filestats` row counts PROVABLY cover `n` rows.
    * Files with unknown row counts contribute zero to coverage (kept,
    * never trusted). `SELECT * FROM t LIMIT 10` on a 100 TB table then
    * opens one file instead of planning every file into tasks.
    */
  private[graft] def limitPrune(p: FlatPlan, n: Int): FlatPlan = {
    var covered = 0L
    val kept = Seq.newBuilder[(String, Long)]
    var done = false
    p.files.foreach { f =>
      if (!done) {
        kept += f
        covered += p.fileRows.getOrElse(f._1, 0L)
        if (covered >= n) done = true
      }
    }
    p.copy(files = kept.result())
  }

  /** TOP-N file prune of a flat batch plan (DSv2 `SupportsPushDownTopN`,
    * PARTIAL semantics — Spark keeps the full TakeOrderedAndProject, so
    * the scan only needs to keep every file that COULD hold a top-N row):
    *
    *  1. per file, exact (rows, nulls, min, max) of the sort column from
    *     one footer read ([[fileAggStats]] — any inexactness declines the
    *     whole prune, never narrows it);
    *  2. ascending: sort files by MAX; take the shortest prefix whose
    *     non-null rows cover the post-null budget k — its last max T
    *     bounds the k-th smallest value (the prefix holds ≥ k values
    *     ≤ T), so every candidate file has min ≤ T. Descending mirrors
    *     with MIN / ≥. NULL rows cover the budget first or last per the
    *     declared null ordering.
    *
    * On a table clustered on the sort column (OPTIMIZE ZORDER or a
    * sorted write) the kept set is O(N / rows-per-file) files — an
    * `ORDER BY ts DESC LIMIT 100` over years of history reads one file.
    */
  private[graft] def topNPrune(spark: SparkSession, root: String, p: FlatPlan,
      col: String, desc: Boolean, nullsFirst: Boolean, n: Int): Option[FlatPlan] = {
    import org.apache.spark.sql.types._
    val phys = p.nameMap.getOrElse(col, col)
    val dt = p.physSchema.fields.find(_.name == phys).map(_.dataType)
      .getOrElse(return None)
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => ()
      case _ => return None // value-exact footer stats only
    }
    def asL(v: Any): Long = v match {
      case i: Int => i.toLong; case l: Long => l
      case s: Short => s.toLong; case b: Byte => b.toLong
      case other => sys.error(s"non-integral stat value $other")
    }
    final case class FS(file: String, rows: Long, nulls: Long,
                        mm: Option[(Long, Long)])
    // TIER A — side data only, ZERO footer IO: contract-stamped
    // `_filestats` envelopes (value-exact by the every-block-accounted
    // contract) + side row counts give (rows, min, max); the manifest's
    // dir-level null accounting proves nulls == 0 for every file of a
    // zero-null dir (its presence means every file accounted numNulls).
    // On an indexed sort column — the ORDER BY ts LIMIT n shape this
    // prune exists for — the whole decision resolves here, and a new
    // snapshot version costs side-file reads, not O(#files) footer opens.
    val c = commitAt(root, p.version).getOrElse(return None)
    val tierA = Seq.newBuilder[FS]
    val pendB = Seq.newBuilder[String]
    val seen = scala.collection.mutable.Set[String]()
    c.dirs.foreach { d =>
      val prefix = dirPath(root, d) + "/"
      val mine = p.files.map(_._1).filter(_.startsWith(prefix))
      if (mine.nonEmpty) {
        val fstats = readFileStats(prefix.dropRight(1)).getOrElse(Map.empty)
        val frows = readFileRows(prefix.dropRight(1))
        val zeroNulls = c.nullCounts.get(d).flatMap(_.get(phys)).exists(_._1 == 0L)
        mine.foreach { full =>
          seen += full
          val rel = full.substring(prefix.length)
          val side = for {
            rows <- frows.get(rel)
            mm <- fstats.get(rel).flatMap(_.get(phys))
              .collect { case IntMM(a, b) => (a, b) }
            if zeroNulls
          } yield FS(full, rows, 0L, Some(mm))
          side match {
            case Some(fs) => tierA += fs
            case None     => pendB += full
          }
        }
      }
    }
    p.files.map(_._1).filterNot(seen).foreach(pendB += _) // outside any dir: footer
    // TIER B — footers, but ONLY for files side data could not resolve,
    // and CAPPED: a cold `ORDER BY col LIMIT n` on an un-indexed column
    // of a large flat table must not pay O(#files) driver IO at plan
    // time for a prune that may then decline anyway — above the cap the
    // prune itself declines (sound: Spark keeps TakeOrderedAndProject).
    val pending = pendB.result()
    val maxFooter = spark.conf
      .get("spark.graft.topNPrune.maxFooterFiles", "1024").toInt
    if (pending.size > maxFooter) return None
    val conf = spark.sessionState.newHadoopConf()
    // repeats hit the per-JVM footer memo
    val tierB: Seq[FS] = pending.zip(
      parallelFooters(pending) { f =>
        fileAggStats(conf, Paths.get(f), Map(phys -> dt), Set(phys))
      }).map {
        case (_, None) => return None
        case (path, Some((rows, mm, nulls))) => FS(path, rows,
          nulls.getOrElse(phys, return None),
          mm.get(phys).map { case (a, b) => (asL(a), asL(b)) })
      }
    val stats: Seq[FS] = tierA.result() ++ tierB
    val totalNull = stats.map(_.nulls).sum
    val totalNonNull = stats.map(s => s.rows - s.nulls).sum
    def valueFiles(k: Long): Set[String] = {
      if (k <= 0) return Set.empty
      val withVals = stats.filter(_.mm.isDefined)
      if (totalNonNull <= k) return withVals.map(_.file).toSet
      val sorted =
        if (!desc) withVals.sortBy(_.mm.get._2)
        else withVals.sortBy(_.mm.get._1)(Ordering[Long].reverse)
      var cum = 0L; var t = 0L; var i = 0
      while (i < sorted.length && cum < k) {
        cum += sorted(i).rows - sorted(i).nulls
        t = if (!desc) sorted(i).mm.get._2 else sorted(i).mm.get._1
        i += 1
      }
      withVals.filter(s =>
        if (!desc) s.mm.get._1 <= t else s.mm.get._2 >= t).map(_.file).toSet
    }
    val nullFiles = stats.filter(_.nulls > 0).map(_.file).toSet
    val keep: Set[String] =
      if (nullsFirst) {
        if (totalNull >= n) nullFiles else nullFiles ++ valueFiles(n - totalNull)
      } else {
        if (totalNonNull >= n) valueFiles(n) else valueFiles(n) ++ nullFiles
      }
    val files = p.files.filter(f => keep.contains(f._1))
    if (files.isEmpty) return None // zero-candidate edge: decline, scan as-is
    Some(p.copy(files = files,
      fileRows = p.fileRows.filter(kv => keep.contains(kv._1))))
  }

  /** Per-JVM memo of [[fileAggStatsUncached]]: a data file is IMMUTABLE
    * once its dir publishes (attempt-unique names, rewrites land in new
    * dirs), so one footer read per (file, wanted-column-set) is exact
    * forever — repeat aggregations and top-N prunes over the same
    * snapshot then cost zero IO. Size-bounded LRU (access-order): a
    * long-lived driver querying many tables/snapshots — or one table
    * under evolving projections — must not grow the memo without bound,
    * and entries for vacuumed files age out with everything else instead
    * of living forever as dead memory. 64 k entries × a few hundred
    * bytes ≈ tens of MB ceiling; an eviction costs one footer re-read.
    * Driver-side at plan time only, so a synchronized map suffices.
    */
  private val fileAggCacheMax = 65536
  private val fileAggCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        String, Option[(Long, Map[String, (Any, Any)], Map[String, Long])]](
        1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            Option[(Long, Map[String, (Any, Any)], Map[String, Long])]]): Boolean =
        size() > fileAggCacheMax
    })

  /** Exact aggregate statistics of ONE parquet file from its footer: row
    * count, per-column (min, max) as Spark-internal values, per-column
    * null counts — or None when any required statistic is missing, a
    * block's stats are ambiguous, or the physical type + logical
    * annotation doesn't round-trip values exactly. A wanted column ABSENT
    * from the file's schema reads as all-NULL (add-column evolution).
    */
  private def fileAggStats(conf: org.apache.hadoop.conf.Configuration,
      file: java.nio.file.Path, needMM: Map[String, org.apache.spark.sql.types.DataType],
      needNulls: Set[String])
      : Option[(Long, Map[String, (Any, Any)], Map[String, Long])] = {
    // the requested TYPE is part of the key: after a type-widening
    // evolution the same column name resolves to a different logical
    // type, and a pre-widen file answers one but not the other
    val key = file.toString + "|" +
      needMM.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",") +
      "|" + needNulls.toSeq.sorted.mkString(",")
    val cached = fileAggCache.get(key)
    if (cached != null) return cached
    // an IO failure (concurrent vacuum, transient FS error) DECLINES the
    // metadata answer — the pushdown is an optimization, never a
    // correctness input, and the ordinary scan path reports real errors —
    // and is NOT cached: a retry after the transient must re-read
    val r = try fileAggStatsUncached(conf, file, needMM, needNulls) catch {
      case scala.util.control.NonFatal(_) => return None
    }
    fileAggCache.put(key, r)
    r
  }

  /** Test seam: footer opens performed by the metadata tiers (plan-time
    * driver IO) — lets specs pin that side-data tiers resolved without
    * opening a single footer.
    */
  private[graft] val footerReadsProbe = new java.util.concurrent.atomic.AtomicLong

  private def fileAggStatsUncached(conf: org.apache.hadoop.conf.Configuration,
      file: java.nio.file.Path, needMM: Map[String, org.apache.spark.sql.types.DataType],
      needNulls: Set[String])
      : Option[(Long, Map[String, (Any, Any)], Map[String, Long])] = {
    footerReadsProbe.incrementAndGet()
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try {
      val msg = rdr.getFooter.getFileMetaData.getSchema
      def primOf(n: String): Option[PrimitiveType] =
        if (!msg.containsField(n)) None
        else {
          val t = msg.getType(Seq(n): _*)
          if (t.isPrimitive &&
              t.getRepetition != org.apache.parquet.schema.Type.Repetition.REPEATED)
            Some(t.asPrimitiveType) else None
        }
      def typeOk(pt: PrimitiveType, dt: DataType): Boolean = {
        val ann = pt.getLogicalTypeAnnotation
        dt match {
          case IntegerType => pt.getPrimitiveTypeName == INT32 &&
            (ann == null || ann == LogicalTypeAnnotation.intType(32, true))
          case ShortType => pt.getPrimitiveTypeName == INT32 &&
            ann == LogicalTypeAnnotation.intType(16, true)
          case ByteType => pt.getPrimitiveTypeName == INT32 &&
            ann == LogicalTypeAnnotation.intType(8, true)
          case DateType => pt.getPrimitiveTypeName == INT32 &&
            ann == LogicalTypeAnnotation.dateType()
          case LongType => pt.getPrimitiveTypeName == INT64 &&
            (ann == null || ann == LogicalTypeAnnotation.intType(64, true))
          case TimestampType => pt.getPrimitiveTypeName == INT64 &&
            ann == LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS)
          case TimestampNTZType => pt.getPrimitiveTypeName == INT64 &&
            ann == LogicalTypeAnnotation.timestampType(false,
              LogicalTypeAnnotation.TimeUnit.MICROS)
          case _ => false
        }
      }
      def conv(v: AnyRef, dt: DataType): Any = dt match {
        case IntegerType | DateType => v.asInstanceOf[java.lang.Integer].intValue
        case ShortType => v.asInstanceOf[java.lang.Integer].shortValue
        case ByteType  => v.asInstanceOf[java.lang.Integer].byteValue
        case _         => v.asInstanceOf[java.lang.Long].longValue
      }
      // columns present in this file whose physical type serves exactly;
      // a present-but-wrong-typed column aborts (never guess)
      val mmPresent = needMM.filter { case (n, _) => msg.containsField(n) }
      mmPresent.foreach { case (n, dt) =>
        primOf(n) match {
          case Some(pt) if typeOk(pt, dt) => ()
          case _ => return None
        }
      }
      needNulls.foreach { n =>
        if (msg.containsField(n) && primOf(n).isEmpty) return None
      }
      val nullsPresent = needNulls.filter(msg.containsField)
      var rows = 0L
      val mmAcc = scala.collection.mutable.Map[String, (AnyRef, AnyRef)]()
      val nullAcc = scala.collection.mutable.Map[String, Long]()
      rdr.getFooter.getBlocks.asScala.foreach { b =>
        val blockRows = b.getRowCount
        rows += blockRows
        val byName = b.getColumns.asScala.map(cc => cc.getPath.toDotString -> cc).toMap
        mmPresent.keys.foreach { n =>
          val st = byName.get(n).map(_.getStatistics).orNull
          if (st == null || st.isEmpty) return None
          if (st.hasNonNullValue) {
            // typeOk admitted integral physical types only — fold as longs
            def toL(v: AnyRef): Long = v match {
              case i: java.lang.Integer => i.longValue
              case l: java.lang.Long    => l.longValue
              case other => sys.error(s"unexpected footer stat value $other")
            }
            val (mn, mx) = (st.genericGetMin.asInstanceOf[AnyRef],
              st.genericGetMax.asInstanceOf[AnyRef])
            mmAcc.get(n) match {
              case None => mmAcc.update(n, (mn, mx))
              case Some((pmn, pmx)) =>
                mmAcc.update(n, (if (toL(mn) < toL(pmn)) mn else pmn,
                                 if (toL(mx) > toL(pmx)) mx else pmx))
            }
          } else if (!st.isNumNullsSet || st.getNumNulls != blockRows) {
            return None // not provably all-null
          }
        }
        nullsPresent.foreach { n =>
          val st = byName.get(n).map(_.getStatistics).orNull
          if (st == null || !st.isNumNullsSet) return None
          nullAcc.update(n, nullAcc.getOrElse(n, 0L) + st.getNumNulls)
        }
      }
      val mm = mmPresent.flatMap { case (n, dt) =>
        mmAcc.get(n).map { case (mn, mx) => n -> (conv(mn, dt), conv(mx, dt)) }
      }
      // absent columns read as all-NULL: no min/max, nulls = rows
      val nulls = nullAcc.toMap ++
        needNulls.filterNot(msg.containsField).map(_ -> rows).toMap
      Some((rows, mm, nulls))
    } finally rdr.close()
  }

  /** One file of a row-level (copy-on-write) scan: its dir (the rewrite
    * GROUP), path, length, and path-materialized hive key values.
    */
  final case class CowFile(dir: String, path: String, len: Long, keyVals: Seq[Any])

  /** Driver plan of a DSv2 ROW-LEVEL operation's scan (UPDATE/MERGE/DELETE
    * through the catalog): physical file schema, hive key fields (declared
    * types), name mapping, and EVERY live file tagged with its dir — the
    * group granularity Spark's runtime group filter prunes at.
    */
  final case class CowPlan(version: Long,
                           physSchema: org.apache.spark.sql.types.StructType,
                           keyFields: Seq[org.apache.spark.sql.types.StructField],
                           nameMap: Map[String, String],
                           files: Seq[CowFile])

  /** Plan a row-level scan, or explain (Left) why the snapshot can't take
    * the copy-on-write rewrite path yet. Refusals are OPERATIONAL, each
    * with the verb that clears it — never a silent wrong answer.
    */
  private[graft] def cowScanPlan(root: String, asOf: Option[Long])
      : Either[String, CowPlan] = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    if (c.schemaDdl.isEmpty)
      return Left("snapshot has no recorded schema")
    if (c.deletes.nonEmpty)
      return Left("pending merge-on-read deletion vectors — run OPTIMIZE to absorb them first")
    if (c.defaults.nonEmpty)
      return Left("declared column DEFAULTs — not yet supported by the row-level write path")
    if (c.dirLayouts.nonEmpty)
      return Left("mixed partition-layout eras — run OPTIMIZE to normalize first")
    // CHECK constraints and GENERATED columns are accepted: the write
    // re-validates / recomputes them per row (compileRowGuards). Identity
    // stays a refusal — its values are allocated, which a row-level write
    // cannot do.
    if (c.identity.nonEmpty)
      return Left("identity columns — use the UPDATE/MERGE GRAFT statements")
    val phys = StructType.fromDDL(c.schemaDdl.get)
    val keyFields = c.partitionCols.flatMap(k => phys.fields.find(_.name == k))
    if (keyFields.size != c.partitionCols.size)
      return Left("partition columns missing from the recorded schema")
    if (!keyFields.forall(f => f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == StringType || f.dataType == DateType ||
        f.dataType == TimestampType || f.dataType == TimestampNTZType))
      return Left("non-path-round-trippable partition key type")
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    def parse(f: StructField, raw: String): Any =
      hivePartValue(f.dataType, raw).getOrElse(sys.error(
        s"unparseable partition value '$raw' for ${f.name}"))
    val files = Seq.newBuilder[CowFile]
    c.dirs.foreach { d =>
      val dp = dirPath(root, d)
      parquetFiles(dp).foreach { rel =>
        val segs = rel.split('/').dropRight(1)
        val vals = keyFields.map { f =>
          segs.collectFirst {
            case seg if seg.startsWith(f.name + "=") =>
              parse(f, seg.substring(f.name.length + 1))
          }
        }
        if (vals.exists(_.isEmpty))
          return Left(s"file $rel of dir $d is outside the declared key layout")
        val full = s"$dp/$rel"
        files += CowFile(d, full, new File(full).length(), vals.map(_.get))
      }
    }
    Right(CowPlan(c.version, phys, keyFields, c.nameMap, files.result()))
  }

  /** A fresh staging dir name for a DSv2 row-level write's survivors —
    * same attempt-unique scheme as every other write path, reclaimed by
    * vacuum's age-gated sweep if the write never publishes.
    */
  private[graft] def newAttemptDataDir(root: String, vHint: Long,
                                       commitId: String): String =
    attemptDirName("data", vHint, commitId)

  /** Publish a DSv2 row-level (copy-on-write) rewrite: `rewrittenDirs`
    * (the groups the scan actually read after runtime group filtering)
    * are replaced by `stagedDir` (None when every row of them was
    * deleted), pinned against the version the scan planned at. The
    * skipping index rebuilds from the staged files over the table's
    * already-indexed columns; concurrently-added dirs conflict
    * CONSERVATIVELY (the write cannot prove disjointness for an arbitrary
    * UPDATE/MERGE condition). Hive-layout tables get their survivors in
    * the SAME hive layout (the write's dynamic partition writers emit
    * `k=v/...` subpaths), so no layout era is recorded.
    */
  private[graft] def publishCowRewrite(spark: SparkSession, root: String,
      pinnedVersion: Long, rewrittenDirs: Seq[String], stagedDir: Option[String],
      mode: String, commitId: String): Long = {
    val pinned = commitAt(root, pinnedVersion).getOrElse(
      sys.error(s"row-level write: pinned version $pinnedVersion vanished from the log"))
    val phys = org.apache.spark.sql.types.StructType.fromDDL(pinned.schemaDdl.get)
    val (st, bl) = indexedCols(root)
    val dirStats = stagedDir.fold(DirStats(Map.empty, Map.empty, Map.empty))(d =>
      gatherStats(spark, s"$root/$d", st.map(physName(pinned, _)), phys))
    val dirBlooms = stagedDir.fold(Seq.empty[String])(d =>
      gatherBlooms(spark, s"$root/$d", bl.map(physName(pinned, _))))
    publishRewriteRebasing(root, pinned, rewritten = rewrittenDirs,
      droppedDirs = Nil, survivorsDir = stagedDir, dirStats, dirBlooms,
      mode, commitId, s"catalog-$mode", pinned.schemaDdl,
      (_, newDirs) => newDirs)
  }

  /** One file of a DELTA (merge-on-read) row-level scan: its dir, the
    * file's POSITION-VECTOR KEY (`<dir's last component>/<subpath>` —
    * byte-identical to what [[deleteWherePos]] records and the read-side
    * [[graft.functions.PosDeleted]] predicate matches), absolute path,
    * length, hive key values, and the ALREADY-DELETED positions of the
    * file under the snapshot's pending vectors (sorted; the scan skips
    * them so a row deleted by an earlier vector can never be re-matched —
    * which is what makes UPDATE-after-UPDATE safe without a compaction in
    * between).
    */
  final case class DeltaFile(dir: String, fileKey: String, path: String,
                             len: Long, keyVals: Seq[Any], dv: Array[Long],
                             rows: Option[Long], era: Int)

  /** One SCHEMA ERA of a delta scan: the defaulted columns this era's
    * files physically LACK, each with its declared DEFAULT evaluated to a
    * Catalyst-internal constant on the driver. Era files read without the
    * column and the constant rides `partitionValues` — zero IO, exactly
    * like the hive keys — so a default-evolved table is row-level-DML-able
    * with the default's VALUE (not NULL) in every pre-evolution row, which
    * is what the read-side `alignTo` semantics promise. Columns missing
    * WITHOUT a declared default need no era: the parquet reader's standard
    * declared-schema evolution backfills them as NULL natively.
    */
  final case class DeltaEra(missing: Seq[(String, org.apache.spark.sql.types.StructField, Any)])

  /** Driver plan of a DSv2 DELTA row-level scan (`SupportsDelta` —
    * UPDATE/MERGE/DELETE through the catalog writing positional deletion
    * vectors instead of rewriting dirs). Files are already pruned by the
    * manifest skipping index against the statement's pushed predicates;
    * pruning here is a CORRECTNESS input (an unscanned row is an
    * unmatched row), so only the exact-conservative gates the programmatic
    * delete verbs already rely on are used (dir envelopes / blooms / null
    * counts, per-file footer envelopes, exact hive key values).
    */
  final case class DeltaPlan(version: Long,
                             physSchema: org.apache.spark.sql.types.StructType,
                             keyFields: Seq[org.apache.spark.sql.types.StructField],
                             nameMap: Map[String, String],
                             files: Seq[DeltaFile],
                             keptDirs: Int, totalDirs: Int,
                             eras: Seq[DeltaEra])

  /** Plan a delta row-level scan, or explain (Left) why the snapshot
    * can't take the merge-on-read DML path. Differs from [[cowScanPlan]]
    * in ONE acceptance: pending POSITIONAL vectors are fine (their
    * positions are loaded and skipped per file), so consecutive catalog
    * UPDATE/DELETE statements compose without an OPTIMIZE between them;
    * key-form MOR debt still refuses (applying it would need a per-file
    * anti-join inside the scan — OPTIMIZE absorbs it).
    */
  private[graft] def deltaScanPlan(spark: SparkSession, root: String,
      asOf: Option[Long], ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Long)], nullProbes: Seq[(String, Boolean)],
      allowIdentity: Boolean = true)
      : Either[String, DeltaPlan] = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    if (c.schemaDdl.isEmpty)
      return Left("snapshot has no recorded schema")
    val keySets = c.deletes.values.flatten.toSeq.distinct.filterNot(isPosSet)
    if (keySets.nonEmpty)
      return Left("pending KEY-form merge-on-read delete sets — run OPTIMIZE to absorb them first")
    if (c.dirLayouts.nonEmpty)
      return Left("mixed partition-layout eras — run OPTIMIZE to normalize first")
    // constraints/generated re-validate in the write (compileRowGuards).
    // Identity columns are IRRELEVANT to a pure DELETE (no row is written,
    // positions only — allowIdentity), but refuse for UPDATE/MERGE: an
    // insert would need ALLOCATION and an explicit SET on the identity
    // column is invisible to the write (GENERATED ALWAYS AS IDENTITY is
    // never SET — the programmatic verbs enforce that at the assignment).
    if (!allowIdentity && c.identity.nonEmpty)
      return Left("identity columns — use the UPDATE/MERGE GRAFT statements, " +
        "which refuse identity assignment and allocate for inserts")
    val phys = StructType.fromDDL(c.schemaDdl.get)
    val keyFields = c.partitionCols.flatMap(k => phys.fields.find(_.name == k))
    if (keyFields.size != c.partitionCols.size)
      return Left("partition columns missing from the recorded schema")
    if (!keyFields.forall(f => f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == StringType || f.dataType == DateType ||
        f.dataType == TimestampType || f.dataType == TimestampNTZType))
      return Left("non-path-round-trippable partition key type")
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    // dir-level skipping: the SAME envelope/bloom/null gates every
    // programmatic delete verb trusts for its hit set — conservative by
    // construction (a dir is dropped only when it provably holds no match)
    var kept = c.dirs
    ranges.foreach { case (n, lo, hi) =>
      val k = planRange(root, n, lo, hi, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    points.foreach { case (n, v) =>
      val k = planPoint(root, n, v, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    nullProbes.foreach { case (n, w) =>
      val k = planNull(root, n, w, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    val dvAll = snapshotPosDv(spark, root, c)
    val physBounds = ranges.map { case (n, lo, hi) => (physName(c, n), lo, hi) }
    val intKeyBounds = ranges.flatMap { case (n, lo, hi) =>
      keyFields.find(f => f.name == n &&
        (f.dataType == IntegerType || f.dataType == LongType)).map(_ => (n, lo, hi))
    }
    val keyNullProbes = nullProbes.filter { case (n, _) => keyFields.exists(_.name == n) }
    def parse(f: StructField, raw: String): Any =
      hivePartValue(f.dataType, raw).getOrElse(sys.error(
        s"unparseable partition value '$raw' for ${f.name}"))
    // DEFAULTED columns missing from a dir's files read as their declared
    // constant (not NULL): evaluate each default ONCE on the driver, then
    // assign every dir an ERA by which defaulted columns its files lack
    // (one footer-schema probe per dir, only when defaults exist at all —
    // dirs are single-commit, hence schema-uniform). The scan delivers the
    // constants through partitionValues, zero IO.
    val defaultConsts: Map[String, (org.apache.spark.sql.types.StructField, Any)] =
      if (c.defaults.isEmpty) Map.empty
      else c.defaults.flatMap { case (n, sql) =>
        phys.fields.find(_.name == n).map { f =>
          import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
          import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
          val parsed = spark.sessionState.sqlParser.parseExpression(sql)
          val analyzed = spark.sessionState.analyzer.executeAndCheck(
            Project(Seq(Alias(Cast(parsed, f.dataType,
              Some(spark.sessionState.conf.sessionLocalTimeZone)), "__graft_dflt")()),
              OneRowRelation()),
            new org.apache.spark.sql.catalyst.QueryPlanningTracker())
          val resolved = analyzed
            .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
          require(resolved.foldable,
            s"delta scan: DEFAULT for '$n' ($sql) must be a constant expression")
          n -> ((f, resolved.eval(null)))
        }
      }
    val eraIdx = scala.collection.mutable.LinkedHashMap[Seq[String], Int](Nil -> 0)
    def eraOf(dp: String): Int =
      if (defaultConsts.isEmpty) 0
      else {
        val first = parquetFiles(dp).headOption.getOrElse(return 0)
        val present: Set[String] = {
          import org.apache.parquet.hadoop.ParquetFileReader
          import org.apache.parquet.hadoop.util.HadoopInputFile
          val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$dp/$first"),
            spark.sessionState.newHadoopConf()))
          try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSet
          finally rdr.close()
        }
        val missing = defaultConsts.keys.toSeq.filterNot(present).sorted
        eraIdx.getOrElseUpdate(missing, eraIdx.size)
      }
    val files = Seq.newBuilder[DeltaFile]
    kept.foreach { d =>
      val dp = dirPath(root, d)
      val fstats = readFileStats(dp)
      val frows = readFileRows(dp)
      val era = eraOf(dp)
      parquetFiles(dp).foreach { rel =>
        val segs = rel.split('/').dropRight(1)
        val vals = keyFields.map { f =>
          segs.collectFirst {
            case seg if seg.startsWith(f.name + "=") =>
              parse(f, seg.substring(f.name.length + 1))
          }
        }
        if (vals.exists(_.isEmpty))
          return Left(s"file $rel of dir $d is outside the declared key layout")
        val keyVals = vals.map(_.get)
        // file-level skipping: footer envelopes (kept when stats are
        // absent) + EXACT path-materialized key values (a range predicate
        // never matches NULL, so a null-keyed file drops under one)
        val footerKeep = physBounds.isEmpty || fstats.forall(fs =>
          physBounds.forall { case (n, lo, hi) =>
            fs.get(rel).flatMap(_.get(n)).forall(_.overlapsLong(lo, hi)) })
        val keyKeep = intKeyBounds.forall { case (n, lo, hi) =>
          keyVals(keyFields.indexWhere(_.name == n)) match {
            case null => false
            case v: java.lang.Number => v.longValue >= lo && v.longValue <= hi
            case _ => true
          }
        } && keyNullProbes.forall { case (n, wantNull) =>
          (keyVals(keyFields.indexWhere(_.name == n)) == null) == wantNull
        }
        if (footerKeep && keyKeep) {
          val full = s"$dp/$rel"
          val fileKey = posFileKey(d, full)
          files += DeltaFile(d, fileKey, full, new File(full).length(),
            keyVals, dvAll.getOrElse(fileKey, Array.empty[Long]),
            frows.get(rel), era)
        }
      }
    }
    val eras = eraIdx.toSeq.sortBy(_._2).map { case (missing, _) =>
      DeltaEra(missing.map(n => (n, defaultConsts(n)._1, defaultConsts(n)._2)))
    }
    Right(DeltaPlan(c.version, phys, keyFields, c.nameMap, files.result(),
      kept.size, c.dirs.size, eras))
  }

  /** A fresh attempt-unique positional-vector dir name for a DSv2 delta
    * write — same scheme (and same vacuum reclaim) as [[deleteWherePos]]'s
    * vectors.
    */
  private[graft] def newPosSetName(vHint: Long, commitId: String): String =
    attemptDirName("posdel", vHint, commitId)

  /** Per-row WRITE GUARDS of one snapshot, compiled for a DSv2 row-level
    * write: named CHECK constraints as bound catalyst predicates
    * (violation → the task throws BEFORE any publish, naming the
    * constraint — the same refusal [[enforceConstraints]] gives batch
    * writes) and GENERATED columns as a full-width rewrite projection
    * that RECOMPUTES each declared column from its expression on every
    * written row. Recompute (not equality-enforce) is deliberate: Spark's
    * UPDATE/MERGE rewrites carry the OLD generated value when only source
    * columns change — the common case — and the declaration is the single
    * source of truth either way; a SET that names the generated column
    * directly is therefore OVERRIDDEN by its declaration, never stored.
    *
    * Resolution runs on the DRIVER through Spark's own analyzer over the
    * write's (logical-name) row schema, then binds to row ordinals; the
    * resulting expressions are serializable and codegen-compile inside
    * each task. Identity columns cannot be guarded this way (their values
    * are ALLOCATED, not derived) — the scan plans keep refusing them.
    */
  final case class RowWriteGuards(
      constraints: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)],
      rewrite: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])
      extends Serializable

  private[graft] def compileRowGuards(spark: SparkSession, parent: Commit,
      rowSchema: org.apache.spark.sql.types.StructType): RowWriteGuards = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    if (parent.constraints.isEmpty && parent.generated.isEmpty)
      return RowWriteGuards(Nil, None)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(rowSchema)
    def bind(sql: String, what: String): Expression = {
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer.executeAndCheck(
        Project(Seq(Alias(parsed, "__graft_guard")()), LocalRelation(attrs)),
        new org.apache.spark.sql.catalyst.QueryPlanningTracker())
      val resolved = analyzed.asInstanceOf[Project].projectList.head
        .asInstanceOf[Alias].child
      require(resolved.deterministic,
        s"row-level write: $what ($sql) must be deterministic")
      BindReferences.bindReference(resolved, attrs)
    }
    val cs = parent.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      (n, sql, bind(sql, s"CHECK constraint '$n'")) }
    val rewrite =
      if (parent.generated.isEmpty) None
      else Some(rowSchema.fields.zipWithIndex.map { case (f, i) =>
        parent.generated.get(f.name) match {
          case Some(sql) =>
            val e = bind(sql, s"generated column '${f.name}'")
            require(e.dataType == f.dataType,
              s"generated column '${f.name}' ($sql) evaluates to " +
                s"${e.dataType.sql}, declared ${f.dataType.sql}")
            e
          case None => BoundReference(i, f.dataType, f.nullable): Expression
        }
      }.toSeq)
    RowWriteGuards(cs, rewrite)
  }

  /** Publish a DSv2 DELTA row-level write: `markedDirs` gain `posSet` as
    * one more positional vector (rows physically untouched — the
    * merge-on-read half) and `insertedDir` (UPDATE/MERGE new-row images)
    * appends, all in ONE commit, pinned against the version the scan
    * planned at. The skipping index covers the inserted dir exactly as an
    * append would. Conflict policy mirrors [[publishRewriteRebasing]]:
    * a disjoint advance (pure metadata commits) rebases; anything touching
    * the row set the statement read — marked dirs rewritten away, coverage
    * moved, schema/layout moved, ANY new data dir (an arbitrary DML
    * condition cannot prove disjointness from concurrently appended rows)
    * — refuses loudly and the orphaned vector/dir is vacuum's to reclaim.
    */
  private[graft] def publishDeltaDml(spark: SparkSession, root: String,
      pinnedVersion: Long, markedDirs: Seq[String], posSet: Option[String],
      insertedDir: Option[String], mode: String, commitId: String): Long = {
    val pinned = commitAt(root, pinnedVersion).getOrElse(
      sys.error(s"delta write: pinned version $pinnedVersion vanished from the log"))
    val phys = org.apache.spark.sql.types.StructType.fromDDL(pinned.schemaDdl.get)
    val (st, bl) = indexedCols(root)
    val dirStats = insertedDir.fold(DirStats(Map.empty, Map.empty, Map.empty))(d =>
      gatherStats(spark, s"$root/$d", st.map(physName(pinned, _)), phys))
    val dirBlooms = insertedDir.fold(Seq.empty[String])(d =>
      gatherBlooms(spark, s"$root/$d", bl.map(physName(pinned, _))))
    var parent = pinned
    var out = -1L
    while (out < 0) {
      val v = parent.version + 1
      val newDeletes = posSet.fold(parent.deletes)(s =>
        markedDirs.foldLeft(parent.deletes)((m, d) =>
          m + (d -> (m.getOrElse(d, Nil) :+ s))))
      val c = Commit(v, commitId, mode, parent.dirs ++ insertedDir,
        insertedDir.filter(_ => dirStats.ints.nonEmpty)
          .fold(parent.stats)(d => parent.stats + (d -> dirStats.ints)),
        insertedDir.filter(_ => dirStats.strs.nonEmpty)
          .fold(parent.strStats)(d => parent.strStats + (d -> dirStats.strs)),
        parent.partitionCols,
        insertedDir.filter(_ => dirBlooms.nonEmpty)
          .fold(parent.blooms)(d => parent.blooms + (d -> dirBlooms)),
        pinned.schemaDdl, deletes = newDeletes, deleteKeys = parent.deleteKeys,
        nameMap = parent.nameMap, constraints = parent.constraints,
        notNull = parent.notNull,
        dropped = parent.dropped, generated = parent.generated,
        nullCounts = insertedDir.filter(_ => dirStats.nulls.nonEmpty)
          .fold(parent.nullCounts)(d => parent.nullCounts + (d -> dirStats.nulls)),
        props = parent.props, identity = parent.identity,
        dirLayouts = parent.dirLayouts, defaults = parent.defaults)
      if (publishIfAbsent(root, v, c)) out = v
      else findCommitVersion(root, commitId) match {
        case Some(pv) => out = pv // a retry twin of us won the slot
        case None =>
          val latest = latestCommit(root).get
          val missing = markedDirs.filterNot(latest.dirs.contains)
          val covMoved = latest.dirs.filter(d => pinned.dirs.contains(d) &&
            latest.deletes.getOrElse(d, Nil) != pinned.deletes.getOrElse(d, Nil))
          val newDirs = latest.dirs.filterNot(parent.dirs.contains)
          val schemaMoved = latest.schemaDdl != pinned.schemaDdl ||
            latest.partitionCols != pinned.partitionCols ||
            latest.nameMap != pinned.nameMap ||
            latest.dropped != pinned.dropped ||
            latest.dirLayouts != pinned.dirLayouts
          if (missing.nonEmpty || covMoved.nonEmpty || newDirs.nonEmpty || schemaMoved)
            sys.error(s"catalog-$mode: log advanced past v${pinned.version} with a " +
              s"CONFLICTING commit (markedMissing=$missing, coverageMoved=$covMoved, " +
              s"newDataDirs=$newDirs, schemaOrLayoutMoved=$schemaMoved); re-run " +
              "against the new snapshot (orphaned vector/dir is vacuum-reclaimable)")
          parent = latest // disjoint advance (metadata-only): rebase
      }
    }
    out
  }

  /** Plan a KEY-GROUPED batch scan of the snapshot — the file layout
    * Spark's DSv2 `KeyGroupedPartitioning` machinery needs to run
    * storage-partitioned joins and key-local aggregations with ZERO
    * Exchange (the public Iceberg SPJ design, through Spark's OWN
    * planner). Returns None when the snapshot cannot TRUTHFULLY report
    * key-grouped partitioning — unpartitioned, mixed layout eras, column
    * DEFAULTs (the raw parquet reader cannot backfill them), a key-form
    * delete set keyed on a partition column, or a key type the hive path
    * does not round-trip — and the catalog scan falls back to the V1
    * relation path, which handles all of those. Dir-level skipping
    * (envelopes/blooms/null counts) and per-file footer envelopes prune
    * exactly as in [[scanForRelation]], so a pushed predicate narrows the
    * keyed scan the same way it narrows the fallback.
    *
    * Pending MERGE-ON-READ debt applies per covering dir, as the V1 read
    * path applies it: each file carries its positional vector and the
    * key-form sets covering its dir ([[FileDeletes]]), and every such set's
    * keys are collected here on the driver ([[KeySet]]) — small by the MOR
    * contract, metered by [[morStatus]], absorbed by compaction. Removing
    * rows cannot move a surviving row to another key group, so the
    * reported partitioning stays truthful.
    */
  private[graft] def keyedBatchPlan(spark: SparkSession, root: String, asOf: Option[Long],
      ranges: Seq[(String, Long, Long)], points: Seq[(String, Long)],
      nullProbes: Seq[(String, Boolean)]): Option[KeyedPlan] = {
    import org.apache.spark.sql.types._
    val c = resolveSnapshot(root, asOf)
    if (c.partitionCols.isEmpty || c.schemaDdl.isEmpty || c.defaults.nonEmpty) return None
    if (c.dirs.exists(d => layoutOf(c, d) != c.partitionCols)) return None
    val phys = StructType.fromDDL(c.schemaDdl.get)
    val keyFields: Seq[StructField] = c.partitionCols.flatMap(k =>
      phys.fields.find(_.name == k))
    if (keyFields.size != c.partitionCols.size) return None
    if (!keyFields.forall(f => f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == StringType || f.dataType == DateType ||
        f.dataType == TimestampType || f.dataType == TimestampNTZType)) return None
    c.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
      s"snapshot v${c.version} references vacuumed dir ${dirPath(root, d)}"))
    var kept = c.dirs
    ranges.foreach { case (n, lo, hi) =>
      val k = planRange(root, n, lo, hi, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    points.foreach { case (n, v) =>
      val k = planPoint(root, n, v, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    nullProbes.foreach { case (n, w) =>
      val k = planNull(root, n, w, resolved = Some(c)).toSet
      kept = kept.filter(k.contains)
    }
    val physBounds = ranges.map { case (n, lo, hi) => (physName(c, n), lo, hi) }
    def parse(f: StructField, raw: String): Any =
      hivePartValue(f.dataType, raw).getOrElse(sys.error(
        s"unparseable partition value '$raw' for ${f.name}"))
    val keySetNames = kept.flatMap(d => c.deletes.getOrElse(d, Nil)).distinct
      .filterNot(isPosSet)
    val keySets: Map[String, KeySet] = keySetNames.map { sn =>
      val kc = c.deleteKeys.getOrElse(sn, sys.error(
        s"manifest references delete set $sn with no recorded key column"))
      // a key on a path-materialized column would need the key constants
      // in the skip; the V1 fallback applies such sets
      if (c.partitionCols.contains(kc)) return None
      val dt = phys.fields.find(_.name == kc).map(_.dataType).getOrElse(return None)
      sn -> KeySet(kc, loadKeySet(spark, dirPath(root, sn), kc, dt))
    }.toMap
    val dv = snapshotPosDv(spark, root, c)
    val perFile = Seq.newBuilder[(Seq[Any], String, Long)]
    val rowsB = Map.newBuilder[String, Long]
    val debtB = Map.newBuilder[String, FileDeletes]
    kept.foreach { d =>
      val dp = dirPath(root, d)
      val fstats = readFileStats(dp)
      val frows = readFileRows(dp)
      val dirKeySets = c.deletes.getOrElse(d, Nil).filterNot(isPosSet)
      parquetFiles(dp).foreach { rel =>
        val keep = physBounds.isEmpty || fstats.forall(fs =>
          physBounds.forall { case (n, lo, hi) =>
            fs.get(rel).flatMap(_.get(n)).forall(_.overlapsLong(lo, hi)) })
        if (keep) {
          val segs = rel.split('/').dropRight(1)
          val vals = keyFields.map { f =>
            segs.collectFirst {
              case seg if seg.startsWith(f.name + "=") =>
                parse(f, seg.substring(f.name.length + 1))
            }
          }
          // a file outside the declared key layout means the snapshot is
          // not what it claims — refuse the keyed shape, never mis-slot
          if (vals.exists(_.isEmpty)) return None
          val full = s"$dp/$rel"
          frows.get(rel).foreach(n => rowsB += full -> n)
          val positions = dv.getOrElse(posFileKey(d, full), Array.empty[Long])
          if (positions.nonEmpty || dirKeySets.nonEmpty)
            debtB += full -> FileDeletes(positions, dirKeySets)
          perFile += ((vals.map(_.get), full, new File(full).length()))
        }
      }
    }
    val groups = perFile.result().groupBy(_._1).toSeq
      .sortBy(_._2.head._2) // deterministic order by first file path
      .map { case (k, fs) => KeyedGroup(k, fs.map(t => (t._2, t._3)).sortBy(_._1)) }
    if (groups.isEmpty) return None // empty scans take the (trivial) V1 path
    val dataFields = phys.fields.filterNot(f => c.partitionCols.contains(f.name))
    Some(KeyedPlan(c.version, StructType(dataFields),
      StructType(keyFields.toArray), c.nameMap, groups, kept.size, c.dirs.size,
      rowsB.result(), debtB.result(), keySets))
  }

  /** History-preserving rollback (Delta RESTORE semantics): commits a NEW
    * version whose dir list equals `toVersion`'s — no data moves, the bad
    * versions stay inspectable in the log, and time travel to them still
    * works until vacuum.
    */
  def rollback(root: String, toVersion: Long, commitId: String): Long = {
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        val target = commitAt(root, toVersion)
          .getOrElse(sys.error(s"cannot roll back to unknown version $toVersion"))
        var committed = -1L
        while (committed < 0) {
          val parent = latestCommit(root).get
          val v = parent.version + 1
          if (publishIfAbsent(root, v, Commit(v, commitId, "rollback", target.dirs,
              target.stats, target.strStats, target.partitionCols, target.blooms,
              target.schemaDdl, deletes = target.deletes, deleteKeys = target.deleteKeys,
              nameMap = target.nameMap, constraints = target.constraints,
              notNull = target.notNull,
              dropped = target.dropped, generated = target.generated,
              nullCounts = target.nullCounts, props = target.props,
              identity = target.identity, dirLayouts = target.dirLayouts,
              defaults = target.defaults)))
            committed = v
        }
        committed
    }
  }

  /** OPTIMIZE-style small-file compaction as a new COMMIT: rewrite the
    * latest snapshot's row set into one new dir of ~`targetFiles` files and
    * publish it as a "compact" commit whose dir list is just that dir. The
    * row set is untouched; only layout changes. History is preserved — time
    * travel to every pre-compact version keeps working until `vacuum`
    * reclaims the old dirs — and [[changesBetween]] refuses to cross the
    * compaction (its dir-difference contract cannot express a rewrite),
    * exactly as it refuses overwrites.
    *
    * An append-grown table accumulates one dir per commit and any number of
    * files per dir; a long ingest loop therefore degrades every full scan
    * with per-file open cost. Compaction is the standing answer, and making
    * it a COMMIT (not an in-place rewrite) keeps every reader race-free:
    * readers resolve one manifest and never see a half-compacted table.
    *
    * Unlike [[commit]], the parent is PINNED: the rewrite is only valid as
    * a child of exactly the snapshot it read, so if any writer advances the
    * log between our snapshot read and the publish, we fail loudly instead
    * of clobbering their commit (the caller re-runs; the orphaned data dir
    * is reclaimed by `vacuum`'s crashed-commit sweep). Idempotent under
    * `commitId` retry like every other commit.
    *
    * Partitioned snapshots keep their hive layout: rows are repartitioned
    * BY the partition columns (capped at `targetFiles` tasks), so each
    * partition value lands in exactly one task → one file per live
    * partition dir. Flat snapshots repartition to exactly `targetFiles`
    * files. At 100 TB this is the one full-table shuffle compaction
    * inherently costs; `statsCols` rebuilds the data-skipping index from
    * the fresh footers so `readRange` pruning survives the rewrite.
    */
  /** `zorderBy` (Delta's OPTIMIZE ZORDER BY): when set (flat snapshots,
    * 2..6 integral/timestamp/STRING columns), the rewrite range-partitions
    * by the k-way Morton interleave — every dimension rank-scaled to 10
    * bits first so no magnitude dominates; strings enter through their
    * order-preserving UTF-8 byte prefix, so a string dimension's per-file
    * envelopes stay tight — and `statsCols` should name all of them so the
    * rebuilt per-file index prunes range predicates on ANY single
    * dimension. This is the maintenance verb that re-clusters an
    * append-grown table in place (as a commit), where
    * `versioned_zorder_scan`'s shape is a fresh bulk load.
    */
  /** Append `__graft_dims` (the 10-bit rank-scaled bucket array) and
    * `__graft_z` (the `curve` distance over it) to `cur` — the shared
    * clustering step of [[compact]] and [[compactWhere]]. Per-dimension
    * MONOTONE long mapping: micros for timestamps, the raw value for
    * integrals, and the first 60 bits of the UTF-8 byte sequence for
    * strings (hex-prefix, right-padded so shorter strings stay
    * left-aligned) — order-preserving in exactly the envelope order
    * utf8Compare/parquet use, so the rebuilt per-file STRING envelopes
    * stay tight and range predicates on a string dimension prune files
    * like any integral dimension. One bounded 2k-scalar probe sizes the
    * per-dimension envelopes; rank-scaling to 10 bits keeps any one
    * magnitude from dominating the interleave. `curve = "morton"` is the
    * k-way round-robin bit interleave (bit j of dimension i at position
    * j*k + i, ≤ 60 bits for k ≤ 6); `curve = "hilbert"` is the native
    * codegen'd Hilbert distance (liquid clustering's curve): consecutive
    * distances are grid neighbors, so each output file's bounding box is
    * at least as tight as Morton's on every dimension.
    */
  private def withZValue(cur: DataFrame, parent: Commit,
                         zorderBy: Seq[String], curve: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, floor, lit, max, min, shiftleft, shiftright}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
    val k = zorderBy.size
    require(k >= 2 && k <= 6, s"zorderBy takes 2..6 columns, got $zorderBy")
    zorderBy.foreach(c => require(!parent.partitionCols.contains(physName(parent, c)),
      s"zorderBy: '$c' is a hive partition column — constant within every file it " +
        "could cluster; pick data columns"))
    val physZorder = zorderBy.map(physName(parent, _))
    def monoCol(physC: String, logC: String) = cur.schema(physC).dataType match {
      case TimestampType | TimestampNTZType =>
        expr(s"unix_micros(cast(`$physC` as timestamp))")
      case LongType | IntegerType => col(physC).cast("long")
      case StringType => expr(
        s"cast(conv(substring(rpad(hex(encode(`$physC`, 'UTF-8')), 15, '0'), 1, 15), 16, 10) as bigint)")
      case other => sys.error(
        s"zorderBy supports integral/timestamp/string columns; $logC is $other")
    }
    val dims = physZorder.zip(zorderBy).map { case (p, l) => monoCol(p, l) }
    val aggs = dims.flatMap(d => Seq(min(d), max(d)))
    val r = cur.agg(aggs.head, aggs.tail: _*).head()
    val buckets = dims.zipWithIndex.map { case (d, i) =>
      require(!r.isNullAt(2 * i),
        s"zorderBy: clustering column ${zorderBy(i)} is entirely NULL")
      val (lo0, hi0) = (r.getLong(2 * i), r.getLong(2 * i + 1))
      floor((d - lo0) * 1024.0 / math.max(1L, hi0 - lo0 + 1)).cast("long")
    }
    val z =
      if (curve == "hilbert") graft.functions.ArrayOps.hilbertIndex(col("__graft_dims"))
      else
        (for { j <- 0 until 10; i <- buckets.indices } yield
          shiftleft(shiftright(buckets(i), j).bitwiseAND(lit(1L)), j * k + i)
        ).reduce(_ + _)
    cur.withColumn("__graft_dims",
        org.apache.spark.sql.functions.array(buckets: _*))
      .withColumn("__graft_z", z)
  }

  def compact(spark: SparkSession, root: String, commitId: String,
              targetFiles: Int, statsCols: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
              curve: String = "morton", targetFileBytes: Long = 0L): Long = {
    require(targetFiles >= 1 || targetFileBytes > 0,
      "compact: pass targetFiles >= 1 or targetFileBytes > 0")
    require(curve == "morton" || curve == "hilbert",
      s"compact: curve must be 'morton' (ZORDER BY) or 'hilbert' (CLUSTER BY), got '$curve'")
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior // retry of a committed compaction
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"compact: no commits at $root"))
        // compact rewrites the PHYSICAL row set — the public read() path
        // renames to logical names, which must never leak into data files
        parent.dirs.foreach(d => require(new File(dirPath(root, d)).isDirectory,
          s"snapshot v${parent.version} references vacuumed dir ${dirPath(root, d)}"))
        // SIZE-based target (production OPTIMIZE aims at bytes, not a file
        // count): derive the file count from the snapshot's on-disk parquet
        // bytes — an O(#files) directory listing, zero footer reads. The
        // on-disk compressed size is the right unit (it is what downstream
        // scans pay per open); MOR-hidden rows make it a slight
        // overestimate, which only errs toward MORE files each UNDER the
        // target — never an oversized file.
        val nFiles =
          if (targetFileBytes > 0)
            math.max(1L, (liveDirBytes(root, parent.dirs) + targetFileBytes - 1)
              / targetFileBytes).toInt
          else targetFiles
        val cur = scanWithDeletes(spark, root, parent, parent.dirs)
        // SORT-AWARE compaction (Iceberg's sort strategy): a declared
        // write order (graft.write.orderedBy) carries into OPTIMIZE, so
        // compaction restores the per-file disjointness that interleaved
        // appends eroded — an explicit zorderBy still wins over the policy
        val orderCols = writeOrderOf(parent.props)
          .map { case (c, asc) => (physName(parent, c), asc) }
        orderCols.foreach { case (c, _) => require(cur.columns.contains(c),
          s"compact: graft.write.orderedBy column '$c' is not in the snapshot " +
            s"(columns: ${cur.columns.mkString(", ")}); fix the property first") }
        val df =
          if (zorderBy.nonEmpty) {
            import org.apache.spark.sql.functions.col
            require(parent.partitionCols.isEmpty,
              "zorderBy applies to flat snapshots (hive partitions already cluster; " +
                "use compactWhere to z-order WITHIN selected partitions)")
            withZValue(cur, parent, zorderBy, curve)
              .repartitionByRange(nFiles, col("__graft_z"))
              .drop("__graft_z", "__graft_dims")
          }
          else if (orderCols.nonEmpty) {
            import org.apache.spark.sql.functions.col
            val rc = parent.partitionCols.map(col) ++
              orderCols.filterNot(o => parent.partitionCols.contains(o._1))
                .map { case (c, asc) => if (asc) col(c) else col(c).desc }
            cur.repartitionByRange(nFiles, rc: _*).sortWithinPartitions(rc: _*)
          }
          else if (parent.partitionCols.nonEmpty)
            cur.repartition(nFiles,
              parent.partitionCols.map(org.apache.spark.sql.functions.col): _*)
          else cur.repartition(nFiles)
        val v = parent.version + 1
        val dirName = attemptDirName("data", v, commitId)
        var w = dstSafePartitions(df, parent.partitionCols).write.mode("overwrite")
        if (parent.partitionCols.nonEmpty) w = w.partitionBy(parent.partitionCols: _*)
        w.parquet(s"$root/$dirName")
        val dirStats = gatherStats(spark, s"$root/$dirName",
          statsCols.map(physName(parent, _)), cur.schema)
        val dirBlooms = gatherBlooms(spark, s"$root/$dirName",
          bloomCols.map(physName(parent, _)))
        val c = Commit(v, commitId, "compact", Seq(dirName),
          if (dirStats.ints.isEmpty) Map.empty else Map(dirName -> dirStats.ints),
          if (dirStats.strs.isEmpty) Map.empty
          else Map(dirName -> dirStats.strs): Map[String, Map[String, (String, String)]],
          parent.partitionCols,
          if (dirBlooms.isEmpty) Map.empty
          else Map(dirName -> dirBlooms): Map[String, Seq[String]],
          parent.schemaDdl.orElse(Some(cur.schema.toDDL)),
          nameMap = parent.nameMap, constraints = parent.constraints,
          notNull = parent.notNull,
          // the rewrite scanned under the post-drop manifest schema, so the
          // new files carry no retired slot — REORG PURGE: clear the set
          // and free the names for re-use
          dropped = Nil, generated = parent.generated,
          nullCounts = if (dirStats.nulls.isEmpty) Map.empty
                       else Map(dirName -> dirStats.nulls),
          // the rewrite materialized every default physically, but the
          // declaration stays the table's write-side default (Delta's
          // currentDefault survives OPTIMIZE)
          props = parent.props, identity = parent.identity,
          defaults = parent.defaults)
        if (!publishIfAbsent(root, v, c))
          sys.error(s"compact: log advanced past v${parent.version} during the rewrite; " +
            "re-run against the new snapshot (orphaned dir is vacuum-reclaimable)")
        v
    }
  }

  /** PARTITION-SCOPED OPTIMIZE (the public Delta `OPTIMIZE t WHERE
    * part = v` shape): compact only the commit dirs that actually CONTAIN
    * one of the selected values for hive partition column `partCol` —
    * at a 100 TB time-partitioned table, "optimize yesterday's partition"
    * must cost O(dirs containing yesterday), never O(table), and this
    * is the verb that makes ongoing maintenance affordable where the
    * full-table [[compact]] cannot be.
    *
    * Touched-dir discovery is a driver-side DIRECTORY walk (hive partition
    * values are directory names at the column's nesting level, read
    * through hive unescaping — O(partition values) per commit dir; not a
    * single data FILE is listed) — zero footers opened, zero Spark jobs.
    * The touched dirs' entire row
    * content (merge-on-read vectors covering them applied and thereby
    * absorbed) rewrites into ONE fresh hive-partitioned dir of
    * ~`targetFiles` files; untouched dirs pass by reference with their
    * stats and blooms. Publication is the conflict-aware rebasing commit:
    * because the row set is UNCHANGED, a concurrent APPEND is always
    * disjoint (its new dir simply stays uncompacted) — only a writer
    * touching the dirs being rewritten refuses. No matching dir is a
    * no-op: current version returns, nothing commits. Unlike the
    * full-table compact, retired dropped-column slots are NOT purged
    * (untouched dirs still hold them), so `dropped` carries through.
    * Returns (version, dirsRewritten, dirsTotal).
    */
  def compactWhere(spark: SparkSession, root: String, commitId: String,
                   targetFiles: Int, partCol: String,
                   values: Seq[String], statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
                   curve: String = "morton"): (Long, Int, Int) = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(values.nonEmpty, "compactWhere: empty partition-value selection")
    require(curve == "morton" || curve == "hilbert",
      s"compactWhere: curve must be 'morton' (ZORDER BY) or 'hilbert' (CLUSTER BY), got '$curve'")
    findCommitVersion(root, commitId) match {
      case Some(prior) => (prior, -1, -1) // retry of a committed compaction
      case None =>
        val parent = latestCommit(root)
          .getOrElse(sys.error(s"compactWhere: no commits at $root"))
        require(parent.partitionCols.contains(partCol),
          s"compactWhere: '$partCol' is not a partition column of this table " +
            s"(layout: ${parent.partitionCols.mkString(", ")})")
        val sel = values.toSet
        // a commit dir's values for a hive partition column are DIRECTORY
        // names at that column's nesting level — walk directories only,
        // never list a single data file (at 100 TB the dir tree is
        // O(partition values), the file list is O(table)). The level comes
        // from each dir's OWN layout era; a pre-evolution dir whose era
        // lacks the column cannot prove absence from its paths, so it is
        // conservatively touched — row-preserving (compaction keeps every
        // row) and it normalizes the stray era to the current layout
        def valuesAt(f: File, l: Int): Iterator[String] = {
          val subs = Option(f.listFiles()).getOrElse(Array.empty).iterator
            .filter(_.isDirectory)
          if (l == 0)
            subs.map(_.getName).filter(_.startsWith(s"$partCol="))
              .map(n => unescapePathName(n.substring(partCol.length + 1)))
          else subs.flatMap(valuesAt(_, l - 1))
        }
        val touched = parent.dirs.filter { d =>
          val dp = dirPath(root, d)
          require(new File(dp).isDirectory,
            s"snapshot v${parent.version} references vacuumed dir $dp")
          val level = layoutOf(parent, d).indexOf(partCol)
          level < 0 || valuesAt(new File(dp), level).exists(sel.contains)
        }
        if (touched.isEmpty) return (parent.version, 0, parent.dirs.size)
        val cur = scanWithDeletes(spark, root, parent, touched)
        val df =
          if (zorderBy.nonEmpty)
            // Delta's OPTIMIZE WHERE ... ZORDER BY: cluster WITHIN each
            // selected partition — the hive columns PREFIX the range key,
            // so same-partition rows co-locate and order by the curve
            // distance inside, and each partition's files get tight
            // per-file envelopes on every clustered dimension
            withZValue(cur, parent, zorderBy, curve)
              .repartitionByRange(targetFiles,
                (parent.partitionCols.map(org.apache.spark.sql.functions.col) :+
                  org.apache.spark.sql.functions.col("__graft_z")): _*)
              .drop("__graft_z", "__graft_dims")
          else {
            // sort-aware like the full-table compact: a declared write
            // order range-sorts the rewritten slice (the hive columns
            // prefix the range key so same-partition rows co-locate)
            val orderCols = writeOrderOf(parent.props)
              .map { case (c, asc) => (physName(parent, c), asc) }
              .filter(o => cur.columns.contains(o._1))
            if (orderCols.nonEmpty) {
              import org.apache.spark.sql.functions.col
              val rc = parent.partitionCols.map(col) ++
                orderCols.filterNot(o => parent.partitionCols.contains(o._1))
                  .map { case (c, asc) => if (asc) col(c) else col(c).desc }
              cur.repartitionByRange(targetFiles, rc: _*).sortWithinPartitions(rc: _*)
            }
            else cur.repartition(targetFiles,
              parent.partitionCols.map(org.apache.spark.sql.functions.col): _*)
          }
        val dirName = attemptDirName("data", parent.version + 1, commitId)
        dstSafePartitions(df, parent.partitionCols).write.mode("overwrite")
          .partitionBy(parent.partitionCols: _*)
          .parquet(s"$root/$dirName")
        // every touched row already vector-deleted → zero-row output: omit
        // the file-less dir exactly as deleteWhere does
        val survivorsDir =
          if (dirRowCount(spark.sessionState.newHadoopConf(), s"$root/$dirName") == 0L) None
          else Some(dirName)
        val dirStats = survivorsDir.fold(DirStats(Map.empty, Map.empty))(d =>
          gatherStats(spark, s"$root/$d", statsCols.map(physName(parent, _)), cur.schema))
        val dirBlooms = survivorsDir.fold(Seq.empty[String])(d =>
          gatherBlooms(spark, s"$root/$d", bloomCols.map(physName(parent, _))))
        val v = publishRewriteRebasing(root, parent, rewritten = touched,
          droppedDirs = Nil, survivorsDir = survivorsDir, dirStats, dirBlooms,
          "compact", commitId, "compactWhere",
          parent.schemaDdl.orElse(Some(cur.schema.toDDL)),
          // same row set in, same row set out: any concurrently-appended
          // dir is semantically disjoint from a layout-only rewrite
          (_, _) => Nil)
        (v, touched.size, parent.dirs.size)
    }
  }

  /** Delete data dirs referenced by NO manifest among the latest
    * `retainLast` (and drop the older manifests), plus any orphan dirs a
    * crashed commit left. Returns the deleted dir paths. Never touches a
    * dir any retained snapshot can still read.
    *
    * ORPHAN dirs and delete sets — those referenced by NO manifest in the
    * whole log — are AGE-GATED by `orphanGraceMs`: an unreferenced
    * `deletes/` set (or data dir) younger than the grace window may belong
    * to an IN-FLIGHT writer that has written its files but not yet
    * published its manifest (commit and deleteWhereMor both write data
    * before entering their OCC publish loop); sweeping it would make the
    * subsequent publish reference deleted files and break every read of
    * the covered dirs. Dirs referenced by a DROPPED (pre-retention)
    * manifest reclaim unconditionally — their writer published long ago
    * and a newer snapshot superseded them. Pass `orphanGraceMs = 0` only
    * when no writer can be concurrent (e.g. a scheduled maintenance
    * window).
    */
  /** SHALLOW CLONE (the public Delta `CREATE TABLE ... SHALLOW CLONE`
    * shape): create at `dstRoot` a table whose v1 manifest references the
    * SOURCE snapshot's data dirs and delete sets BY ABSOLUTE PATH — zero
    * data copied or moved at any table size, O(1) manifest write. The
    * clone then lives its own life: appends, merges, deletes, compaction,
    * renames all land under `dstRoot` (write paths never produce external
    * names), so external references retire dir by dir as the clone
    * diverges, and a full `compact` materializes it completely. The
    * SOURCE is never touched, and the clone's history starts at its own
    * v1 (Delta parity — clone history does not inherit source history).
    * The manifest declares the `external-refs` reader feature, so an
    * engine without [[dirPath]] resolution refuses it loudly.
    *
    * CAVEAT (Delta's own): vacuum/retention on the SOURCE can reclaim
    * dirs a clone still references — the clone's reads then fail loudly
    * on the vacuumed-dir check. Pin source retention above clone age, or
    * compact the clone to cut the dependency.
    *
    * Idempotent under `commitId` retry like every other verb. Refuses a
    * destination that already has commits (clone CREATES tables).
    */
  def cloneTo(srcRoot: String, dstRoot: String, commitId: String,
              asOf: Option[Long] = None): Long =
    cloneSnapshot(srcRoot, dstRoot, commitId, asOf, "clone", Map.empty)

  /** CONVERT an existing plain-parquet directory tree into a versioned
    * table IN PLACE (the public Delta `CONVERT TO DELTA` semantics,
    * without the rewrite): version 1 references the source directory BY
    * REFERENCE through the shallow-clone external-dir mechanics (reader
    * feature `external-refs`), so conversion moves ZERO bytes at any
    * size; a declared hive layout (`partitionCols`) recovers from the
    * source's `k=v/` subpaths exactly as any snapshot scan would.
    * Subsequent commits land under the table root and the external
    * reference retires as the table diverges (compaction absorbs it);
    * ANALYZE retrofits the skipping index from the source's own footers.
    * The source directory becomes TABLE DATA on conversion — mutating it
    * afterwards corrupts the table, exactly Delta's contract. Partition
    * column types follow Spark's path-value inference (`k=3` reads INT)
    * — declare and CAST downstream if a wider type is wanted. Idempotent
    * under `commitId`; refuses a root that already has commits.
    */
  def convertFrom(spark: SparkSession, root: String, sourceDir: String,
                  partitionCols: Seq[String] = Nil,
                  commitId: String = "convert"): Long =
    findCommitVersion(root, commitId) match {
      case Some(prior) => prior
      case None =>
        require(latestVersion(root).isEmpty,
          s"convertFrom: $root already has commits — CONVERT creates once")
        val abs = Paths.get(sourceDir).toAbsolutePath.normalize.toString
        require(!abs.startsWith(Paths.get(root).toAbsolutePath.normalize.toString),
          s"convertFrom: source $abs lies inside the table root — vacuum " +
            "would treat it as orphaned staging debris; convert from a " +
            "sibling path")
        require(new File(abs).isDirectory, s"convertFrom: $abs is not a directory")
        require(parquetFiles(abs).nonEmpty,
          s"convertFrom: $abs holds no parquet files")
        val schema = spark.read.parquet(abs).schema
        partitionCols.foreach(p => require(schema.fieldNames.contains(p),
          s"convertFrom: partition column '$p' did not surface from the " +
            s"source layout (columns: ${schema.fieldNames.mkString(", ")})"))
        Files.createDirectories(commitsDir(root))
        if (publishIfAbsent(root, 1L, Commit(1L, commitId, "convert",
            dirs = Seq(abs), partitionCols = partitionCols,
            schemaDdl = Some(schema.toDDL))))
          1L
        else findCommitVersion(root, commitId).getOrElse(
          sys.error(s"convertFrom: lost the v1 slot at $root to a concurrent creator"))
    }

  private[io] def cloneSnapshot(srcRoot: String, dstRoot: String, commitId: String,
                            asOf: Option[Long], mode: String,
                            extraProps: Map[String, String]): Long =
    findCommitVersion(dstRoot, commitId) match {
      case Some(prior) => prior
      case None =>
        require(latestVersion(dstRoot).isEmpty,
          s"cloneTo: destination $dstRoot already has commits — shallow clone only creates tables")
        val c = resolveSnapshot(srcRoot, asOf)
        val absSrc = Paths.get(srcRoot).toAbsolutePath.normalize.toString
        def abs(d: String) = if (d.startsWith("/")) d else s"$absSrc/$d"
        val dirMap = c.dirs.map(d => d -> abs(d)).toMap
        val setMap = c.deletes.valuesIterator.flatten.toSeq.distinct
          .map(sn => sn -> abs(sn)).toMap
        Files.createDirectories(commitsDir(dstRoot))
        val cloned = Commit(1L, commitId, mode,
          dirs = c.dirs.map(dirMap),
          stats = c.stats.collect { case (d, v) if dirMap.contains(d) => dirMap(d) -> v },
          strStats = c.strStats.collect { case (d, v) if dirMap.contains(d) => dirMap(d) -> v },
          partitionCols = c.partitionCols,
          blooms = c.blooms.collect { case (d, v) if dirMap.contains(d) => dirMap(d) -> v },
          schemaDdl = c.schemaDdl,
          deletes = c.deletes.map { case (d, sets) => dirMap(d) -> sets.map(setMap) },
          deleteKeys = c.deleteKeys.collect {
            case (sn, k) if setMap.contains(sn) => setMap(sn) -> k
          },
          nameMap = c.nameMap, constraints = c.constraints,
          notNull = c.notNull, dropped = c.dropped,
          generated = c.generated,
          nullCounts = c.nullCounts.collect {
            case (d, v) if dirMap.contains(d) => dirMap(d) -> v
          }, props = c.props ++ extraProps, identity = c.identity,
          dirLayouts = c.dirLayouts.collect {
            case (d, v) if dirMap.contains(d) => dirMap(d) -> v
          }, defaults = c.defaults)
        if (publishIfAbsent(dstRoot, 1L, cloned)) 1L
        else findCommitVersion(dstRoot, commitId).getOrElse(
          sys.error(s"cloneTo: destination $dstRoot gained a commit concurrently; " +
            "shallow clone requires an empty destination"))
    }

}

