package graft.catalog

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.versioned.{GraftRepo, PartitionField, Snapshot, TableOps}

object GraftTable {
  /** Partition spec -> connector Transform expressions — the table's
    * reported partitioning, and the clustering/ordering the native
    * partitioned write requests. Every non-identity transform here has
    * a loadable implementation in [[GraftFunctions.transforms]].
    */
  def specTransforms(spec: Seq[PartitionField])
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    spec.map { pf =>
      import org.apache.spark.sql.connector.expressions.Expressions
      pf.transform match {
        case "bucket" => Expressions.bucket(pf.numBuckets, pf.source)
        case "years" => Expressions.years(pf.source)
        case "months" => Expressions.months(pf.source)
        case "days" => Expressions.days(pf.source)
        case "hours" => Expressions.hours(pf.source)
        case "truncate" => Expressions.apply("truncate",
          Expressions.literal(pf.numBuckets), Expressions.column(pf.source))
        case _ => Expressions.identity(pf.source)
      }
    }.toArray
}

/** A graft versioned table surfaced through DataSource V2.
  *
  * Reads are fully columnar DSv2: the scan builder prunes snapshot files
  * by min/max stats, then returns Spark's own vectorized `ParquetScan`
  * over the surviving file list (WholeStageCodegen + parquet row-group
  * pruning apply end-to-end; no V1 row bridge). Writes are
  * immutable-file appends + an optimistic snapshot commit; DELETE is
  * stats-pruned copy-on-write (TableOps).
  *
  * `branch = None` marks a time-travel read (VERSION AS OF) — reads work,
  * mutations are rejected, mirroring reading a detached ref.
  */
final class GraftTable(
    repo: GraftRepo,
    branch: Option[String],
    key: String, // "db/table"
    snap: Snapshot,
    ident: Identifier) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {

  private val tableSchema =
    org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    GraftTable.specTransforms(snap.partitionFields)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def properties(): JMap[String, String] =
    (snap.properties ++ Map("provider" -> "graft", "snapshot" -> snap.id)).asJava

  private def requireBranch: String = branch.getOrElse(
    throw new UnsupportedOperationException(
      s"$key: cannot write to a time-travel (VERSION AS OF) reference"))

  // ---- read ------------------------------------------------------------

  /** Incremental (CDC) reads: `spark.read.option("graft.fromRef", ref)
    * .table(...)` scans only the files ADDED since `ref` (commit id,
    * branch, or tag) — resolved against snapshot metadata, zero listing.
    * The upper bound is whatever this table resolved to, so `VERSION AS
    * OF c2` + `fromRef = c1` reads exactly the (c1, c2] delta — the
    * checkpointed-consumer batch pattern (Iceberg's incremental scan).
    * Everything downstream — stats, metadata aggregates, MoR tombstones,
    * pruning — sees the delta as a consistent small table.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val effSnap = Option(options.get("graft.fromRef")) match {
      case None => snap
      case Some(ref) =>
        val before: Set[String] = repo.resolve(ref).tables.get(key)
          .map(id => repo.snapshot(id).files.map(_.path).toSet)
          .getOrElse(Set.empty)
        snap.copy(files = snap.files.filterNot(f => before(f.path)))
    }
    new GraftScanBuilder(repo, effSnap, tableSchema, branch, key, options)
  }

  // ---- write (INSERT INTO / INSERT OVERWRITE / CTAS / df.writeTo) ------

  /** Every INSERT/df.writeTo path is ONE native DSv2 write —
    * [[GraftLayoutWrite]], the DSv2 face of graft's one data-file writer
    * ([[graft.versioned.LayoutWriter]], which `TableOps.writeFiles`,
    * CTAS, CoW rewrites and the streaming sink share): partitioned
    * tables DECLARE clustering + ordering on their transforms via
    * `RequiresDistributionAndOrdering` (the AQE rebalance + sort are
    * visible in the INSERT plan), executor tasks route rows into the
    * hive-style layout and collect file statistics AS THEY WRITE
    * (parquet footers + inline HLL NDV — no second read of the data;
    * bloom-sidecar tables keep the one stats scan their sidecar build
    * needs). Commit converges on [[TableOps.commitAppend]]'s
    * optimistic-retry snapshot publish.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        val b = requireBranch
        val blooms = graft.versioned.Blooms.physCols(snap,
          TableOps.toPhysical(tableSchema, snap.nameMapping))
        new GraftLayoutWrite(repo, key, tableSchema, snap.nameMapping,
          snap.partitionFields, blooms, graft.versioned.Blooms.items(snap),
          s"graft-insert $key",
          entries => TableOps.commitAppend(repo, b, key, entries, overwrite,
            snap.partitionFields, snap.nameMapping, tableSchema.json),
          // Complete-mode streaming sets overwrite via truncate(): each
          // epoch then REPLACES the table (overwrite-per-epoch) instead
          // of silently appending duplicate aggregate snapshots
          onEpochCommit = Some(TableOps.streamingCommitAppend(repo, b, key,
            snap.partitionFields, snap.nameMapping, tableSchema.json,
            overwrite)))
      }
    }

  // ---- SQL UPDATE / MERGE INTO (group-based copy-on-write) -------------

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val b = requireBranch
    () => new GraftRowLevelOperation(repo, b, key, snap, info.command())
  }

  // ---- DELETE FROM ... WHERE -------------------------------------------

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    branch.isDefined && filters.forall(f => TableOps.filterToColumn(f).isDefined)

  /** With `graft.delete.mode = merge-on-read` and an exactly
    * serializable predicate, DELETE is an O(1) tombstone commit
    * ([[graft.versioned.Tombstones]]); otherwise (default mode,
    * TRUNCATE's AlwaysTrue, or non-serializable shapes) the stats-pruned
    * copy-on-write rewrite runs.
    */
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val b = requireBranch
    val mor = graft.versioned.Tombstones.morEnabled(snap) &&
      filters.nonEmpty &&
      filters.forall(f => graft.versioned.FilterJson.toJson(f).isDefined)
    if (mor) TableOps.deleteWhereMoR(repo, b, key, filters.toIndexedSeq)
    else TableOps.deleteWhere(SparkSession.active, repo, b, key,
      filters.toIndexedSeq)
  }
}

/** Filter + column pushdown for graft scans. Pushed filters drive
  * file-level stats pruning AND are applied inside the delegated parquet
  * read (where parquet row-group pruning applies again); Spark still
  * re-applies them above the scan (returned as residual) — double
  * evaluation of cheap predicates in exchange for guaranteed correctness
  * on edge semantics.
  *
  * Whole aggregates are also pushed when they are answerable from
  * snapshot METADATA alone (`COUNT(*)`, `MIN`/`MAX` of stats-covered
  * columns, no filters, no grouping): the scan collapses to a driver-
  * local row — at 100 TB, `SELECT count(*)` touches zero data files
  * (the same trick Iceberg plays from its manifests).
  */
final class GraftScanBuilder(repo: GraftRepo, snap: Snapshot, fullSchema: StructType,
    branch: Option[String] = None, key: String = "",
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = fullSchema
  private var metaAgg: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None
  // memoized per Aggregation instance: supportCompletePushDown and
  // pushAggregation both ask, and each answer walks every file's stats
  private var lastAgg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation = _

  // merge-on-read tombstones invalidate metadata counts/extremes
  // (a deleted row may hold the min; counts include deleted rows)
  private lazy val morDirty = graft.versioned.Tombstones.dirty(snap,
    TableOps.toPhysical(fullSchema, snap.nameMapping), Some(repo.dataIO))

  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    if (!(agg eq lastAgg)) {
      lastAgg = agg
      metaAgg =
        if (morDirty) None
        else MetadataAggregates.answer(snap, fullSchema, agg)
    }
    metaAgg
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(f => TableOps.filterToColumn(f).isDefined)
    filters // all residual: Spark re-applies above the scan
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushed.isEmpty && answer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Spark only attempts aggregate pushdown when every filter was fully
    // pushed; we always report filters as residual, so this is reached
    // only for unfiltered scans — exactly the metadata-answerable case
    if (pushed.nonEmpty) { metaAgg = None; return false }
    answer(agg).isDefined
  }

  /** Native columnar scan: snapshot files that survive partition + stats
    * pruning are handed to Spark's own DSv2 `ParquetScan` (vectorized
    * decode + row-group pruning + WholeStageCodegen) — no row-by-row
    * V1 bridge anywhere on the read path. After RENAME COLUMN the
    * parquet side reads PHYSICAL names (with filters translated) and the
    * wrapper re-labels the scan with the logical schema — rows are
    * positional, so no conversion happens.
    */
  override def build(): Scan = metaAgg match {
    case Some((aggSchema, rws)) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          rws.toArray
        override def readSchema(): StructType = aggSchema
        override def description(): String =
          s"GraftMetadataAggregate ${snap.table} ${aggSchema.fieldNames.mkString(", ")}"
      }
    case None =>
      new GraftScan(repo, snap, fullSchema, required, pushed, branch, key, options)
  }
}

/** The graft DSv2 scan: delegates decode to Spark's vectorized
  * `ParquetScan` over the pruned file list, and carries the planner
  * integration a 100 TB table needs:
  *
  *  - planning reads only snapshot metadata: the surviving entries'
  *    paths and recorded lengths seed the file index
  *    ([[TableOps.statusesOf]]), so no read lists or stats storage.
  *  - [[SupportsReportStatistics]]: EXACT row counts + on-disk bytes
  *    from snapshot metadata (post file-pruning), so Catalyst/AQE make
  *    the right broadcast/shuffle choices for versioned-table joins.
  *  - [[SupportsRuntimeFiltering]]: dynamic file pruning — runtime `In`
  *    filters on partition source columns (from a joined dimension's
  *    build side) re-prune the file list before execution, the DSv2
  *    analog of dynamic partition pruning.
  */
final class GraftScan(
    repo: GraftRepo,
    snap: Snapshot,
    schema: StructType,
    required: StructType,
    pushed: Array[sources.Filter],
    branch: Option[String] = None,
    key: String = "",
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private var runtime: Array[sources.Filter] = Array.empty
  private var cached: Scan = null // rebuilt when runtime filters arrive

  // tombstone state memoized per scan — planning asks for it from up to
  // four angles (meta-agg, SPJ eligibility, columnar mode, toBatch) and
  // the snapshot is immutable
  private lazy val physDataSchema = TableOps.toPhysical(schema, snap.nameMapping)
  private lazy val morTombs = graft.versioned.Tombstones.of(snap)
  private lazy val morDirty = morTombs.nonEmpty && snap.files.exists(f =>
    graft.versioned.Tombstones.applicable(morTombs, f, physDataSchema,
      Some(repo.dataIO)).nonEmpty)

  // static pruning memoized: the plan label (description(), rendered by
  // Spark for EVERY SQL execution) and the no-runtime-filter scan build
  // share one pass instead of each re-pruning a million-file snapshot
  private lazy val staticPruned: Seq[graft.versioned.FileEntry] =
    TableOps.pruneFiles(snap, schema, pushed.toIndexedSeq)

  private[graft] def liveFiles: Seq[graft.versioned.FileEntry] = {
    val fs = (pushed ++ runtime).toIndexedSeq
    // bloom sidecars load only for files equality filters couldn't be
    // disproven on by partition values or min/max — point lookups on
    // unclustered columns prune here (including runtime DPP In-filters)
    graft.versioned.Blooms.prune(repo.dataIO, snap, schema, fs,
      if (runtime.isEmpty) staticPruned
      else TableOps.pruneFiles(snap, schema, fs))
  }

  private def inner: Scan = {
    if (cached == null) {
      val m = snap.nameMapping
      cached = graftbridge.ParquetReadBridge.scan(
        SparkSession.active, TableOps.statusesOf(repo, liveFiles),
        TableOps.toPhysical(schema, m),
        TableOps.toPhysical(required, m),
        (pushed ++ runtime).map(TableOps.renameFilter(_, m)))
    }
    cached
  }

  // ---- storage-partitioned joins (SPJ) ---------------------------------
  // When the session opts in (spark.sql.sources.v2.bucketing.enabled) and
  // every partition field is identity/bucket with a provable per-file key,
  // the scan reports KeyGroupedPartitioning and plans ONE input partition
  // per distinct key: a join of two graft tables partitioned the same way
  // runs with zero Exchange. Groups are frozen at build time (static,
  // pushed-filter pruning only); runtime filters prune files WITHIN
  // groups so the partitioning Spark planned against never shifts.

  /** Partition key of one file, in spec order — None if any field's key
    * can't be proven from recorded metadata (unknown transform, missing
    * or unparsable value, or a string-identity null marker, which holds
    * both nulls and empty strings).
    */
  private def fileKey(f: graft.versioned.FileEntry): Option[Seq[Any]] = {
    val vals = snap.partitionFields.map { pf =>
      val srcType = schema.fields.find(_.name == pf.source).map(_.dataType)
        .getOrElse(return None)
      f.partValues.get(pf.name) match {
        case None => return None
        case Some(graft.versioned.Partitioning.NullMarker) =>
          pf.transform match {
            // non-string identity: marker is a genuine null key
            case "identity" if srcType != org.apache.spark.sql.types.StringType => null
            case _ => return None
          }
        case Some(v) => pf.transform match {
          case "identity" => MetadataAggregates.parse(v, srcType).getOrElse(return None)
          case "bucket" => v.toIntOption.getOrElse(return None)
          case _ => return None
        }
      }
    }
    Some(vals)
  }

  /** Distinct-key file groups, or None when SPJ doesn't apply. Lazy —
    * outputPartitioning() and toBatch must agree on one answer.
    */
  private lazy val spjGroups: Option[Seq[(Seq[Any], Seq[graft.versioned.FileEntry])]] =
    computeSpjGroups()

  private def computeSpjGroups(): Option[Seq[(Seq[Any], Seq[graft.versioned.FileEntry])]] = {
    val enabled = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    if (!enabled || snap.partitionFields.isEmpty) None
    // merge-on-read tombstones force the filtered read path — no SPJ
    else if (morDirty) None
    else if (!snap.partitionFields.forall(pf =>
      pf.transform == "identity" || pf.transform == "bucket")) None
    else if (!snap.partitionFields.forall { pf =>
      // float/double keys are SPJ-ineligible: 0.0 vs -0.0 land in
      // different partition dirs (and buckets) but compare equal in SQL,
      // so zero-shuffle alignment would silently drop their matches
      schema.fields.find(_.name == pf.source).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.FloatType
                  | org.apache.spark.sql.types.DoubleType) => false
        case Some(_) => true
        case None => false
      }
    }) None
    else if (!snap.partitionFields.forall(pf =>
      required.fieldNames.contains(pf.source))) {
      // Spark drops a KeyGroupedPartitioning whose key columns aren't in
      // the scan output — grouping files one-task-per-key there would
      // cost read parallelism for zero SPJ benefit
      None
    }
    else {
      val files = staticPruned // shared memoized static pass
      if (files.isEmpty) None
      else {
        val keyed = files.map(f => fileKey(f) match {
          case Some(k) => (k, f)
          case None => return None // one unprovable file sinks the whole scan
        })
        Some(keyed.groupBy(_._1).toSeq
          .map { case (k, fs) => (k, fs.map(_._2)) }
          .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000")))
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    spjGroups match {
      case Some(groups) =>
        val keys: Array[org.apache.spark.sql.connector.expressions.Expression] =
          snap.partitionFields.map { pf =>
            if (pf.transform == "bucket") Expressions.bucket(pf.numBuckets, pf.source)
            else Expressions.identity(pf.source)
          }.toArray
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          keys, groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  override def readSchema(): StructType = required

  override def toBatch: org.apache.spark.sql.connector.read.Batch = spjGroups match {
    case Some(groups) =>
      val m = snap.nameMapping
      val live = liveFiles.map(_.path).toSet // runtime filters prune within groups
      val keyed = groups.map { case (key, fs) =>
        (org.apache.spark.sql.catalyst.InternalRow.fromSeq(key),
          TableOps.statusesOf(repo, fs.filter(f => live(f.path))))
      }
      graftbridge.KeyedReadBridge.keyedBatch(
        SparkSession.active, keyed,
        TableOps.toPhysical(schema, m),
        TableOps.toPhysical(required, m),
        (pushed ++ runtime).map(TableOps.renameFilter(_, m)))
    case None =>
      val m = snap.nameMapping
      val (clean, dirty) =
        graft.versioned.Tombstones.split(morTombs, physDataSchema, liveFiles,
          Some(repo.dataIO))
      if (dirty.isEmpty) inner.toBatch
      else {
        graftbridge.TombstoneReadBridge.scan(
          SparkSession.active, TableOps.statusesOf(repo, clean),
          dirty.map { case (fs, tombs) =>
            (TableOps.statusesOf(repo, fs),
              graft.versioned.Tombstones.filterJsons(tombs))
          },
          physDataSchema,
          TableOps.toPhysical(required, m),
          (pushed ++ runtime).map(TableOps.renameFilter(_, m))).toBatch
      }
  }
  /** Structured-Streaming read of the table's commit log — see
    * [[GraftMicroBatchStream]]. Requires a live branch (streaming a
    * frozen time-travel ref would never see data, by definition).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val b = branch.getOrElse(throw new UnsupportedOperationException(
      s"$key: cannot stream a time-travel (VERSION AS OF) reference"))
    new GraftMicroBatchStream(repo, b, key, snap, schema, required, pushed,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      startFromLatest = options.getOrDefault("startFrom", "earliest") == "latest")
  }

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    // statically dirty -> per-partition decision (clean splits stay
    // columnar, tombstoned splits read row-based)
    if (morDirty) Scan.ColumnarSupportMode.PARTITION_DEFINED
    else inner.columnarSupportMode()
  // pruned count for the plan label (static pushed filters only — no
  // bloom IO, no runtime filters; shares the memoized staticPruned pass
  // with the scan build, so rendering never re-prunes). The label
  // previously printed the UNpruned total, which made plan audits read
  // "scanned everything" on scans that pruned fine.
  override def description(): String =
    s"GraftScan ${snap.table} (${staticPruned.size}/${snap.files.size} " +
      s"files, pushed=[${pushed.mkString(", ")}])"

  /** Exact statistics from snapshot metadata, after static file pruning.
    * Row counts are exact (CoW keeps them so); bytes are recorded
    * per-file at commit (estimated for pre-`bytes` snapshots).
    *
    * COLUMN statistics (null counts + distinct counts) feed Spark's
    * cost-based optimizer — join reordering and build-side choice on a
    * 100 TB table come from these numbers, with no ANALYZE TABLE pass:
    * they were recorded per file in the write's single stats scan.
    * Per-file NDVs can't be merged exactly, so the reported distinct
    * count is the standard upper-bound merge min(Σ file NDVs, rows) —
    * an estimate, which is all the CBO needs. A column is reported only
    * when EVERY live file carries its stats (mixed-vintage snapshots
    * stay silent rather than guessing).
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val files = liveFiles
    val rows = files.map(_.rows).sum
    // planner sizeInBytes wants an in-memory-ish width: scale on-disk
    // parquet bytes by the projected fraction of columns
    val widthFrac =
      if (schema.isEmpty) 1.0
      else math.max(required.size.toDouble / schema.size.toDouble, 0.1)
    val bytes = files.map(_.sizeBytes(bytesPerRow = 64L)).sum
    val scaled = math.max((bytes * widthFrac).toLong, rows * 8L)
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    required.fields.foreach { f =>
      val phys = snap.physicalName(f.name)
      // null counts must cover every file; NDV may be PARTIAL (CoW
      // rewrites and un-hinted helper writes record none) — extrapolate
      // the upper-bound merge from the covered row share
      val withNdv = files.filter(_.ndvCounts.contains(phys))
      if (files.nonEmpty && withNdv.nonEmpty &&
          files.forall(_.nullCounts.contains(phys))) {
        val nulls = files.map(_.nullCounts(phys)).sum
        val ndvRows = math.max(1L, withNdv.map(_.rows).sum)
        val distinct = math.min(
          math.round(withNdv.map(_.ndvCounts(phys)).sum.toDouble
            * rows / ndvRows),
          rows)
        colStats.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(distinct)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nulls)
          })
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** Runtime (join-driven) filters apply to partition source columns —
    * the columns whose values prune whole files via partition values
    * and min/max stats. Only columns IN THE SCAN OUTPUT are reported:
    * Spark's PartitionPruning rule resolves these refs against the
    * column-pruned output and THROWS on a miss (a projection of a
    * partitioned table that drops the partition column would fail to
    * plan any join), and a runtime filter keyed on an unprojected
    * column can never be derived from the join anyway.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    snap.partitionFields
      .filter(pf => required.fieldNames.contains(pf.source))
      .map(pf =>
        org.apache.spark.sql.connector.expressions.Expressions.column(pf.source))
      .toArray

  override def filter(filters: Array[sources.Filter]): Unit = {
    // best-effort pruning: runtime filters come from the join build side,
    // so rows in unpruned files are still filtered by the join itself
    runtime = filters.filter(f => TableOps.filterToColumn(f).isDefined)
    cached = null
  }
}

/** Answers whole `Aggregation`s from snapshot metadata: COUNT(*) from
  * per-file row counts; MIN/MAX from per-file min/max stats when every
  * live file carries the stat for that column. GROUP BY is supported
  * when every group column is an IDENTITY partition source — each file
  * belongs to exactly one group, so per-group counts/min/max are just
  * the per-file metadata bucketed by recorded partition value
  * (`SELECT day, count(*) ... GROUP BY day` on a 100 TB table reads
  * zero data files). Returns None (-> normal scan) for anything else.
  */
private[catalog] object MetadataAggregates {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  def answer(snap: Snapshot, schema: StructType,
      agg: Aggregation): Option[(StructType, Seq[InternalRow])] = {
    val m = snap.nameMapping
    // resolve group columns -> identity partition fields
    val groupCols: Seq[(StructField, graft.versioned.PartitionField)] =
      agg.groupByExpressions.toIndexedSeq.map {
        case f: NamedReference if f.fieldNames().length == 1 =>
          val name = f.fieldNames()(0)
          val field = schema.fields.find(_.name == name).getOrElse(return None)
          val pf = snap.partitionFields.find(p =>
            p.source == name && p.transform == "identity").getOrElse(return None)
          // NullMarker dirs are ambiguous (null vs empty string) and
          // unparsable group keys are unanswerable — checked per file below
          (field, pf)
        case _ => return None
      }
    // bucket files by group key; any file lacking a clean key -> fallback
    val grouped: Seq[(Seq[Any], Seq[graft.versioned.FileEntry])] =
      if (groupCols.isEmpty) Seq((Nil, snap.files))
      else {
        val keyed = snap.files.map { file =>
          val key = groupCols.map { case (field, pf) =>
            file.partValues.get(pf.name) match {
              case Some(v) if v != graft.versioned.Partitioning.NullMarker =>
                parse(v, field.dataType).getOrElse(return None)
              case _ => return None
            }
          }
          (key, file)
        }
        keyed.groupBy(_._1).toSeq
          .map { case (k, fs) => (k, fs.map(_._2)) }
          .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000"))
      }
    def aggCols(files: Seq[graft.versioned.FileEntry]) =
      agg.aggregateExpressions.toIndexedSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            files.map(_.rows).sum: Any))
        case mn: Min => minMax(files, schema, m, mn.column, isMin = true)
        case mx: Max => minMax(files, schema, m, mx.column, isMin = false)
        case _ => None
      }
    val perGroup = grouped.map { case (key, files) =>
      val cols = aggCols(files)
      if (cols.exists(_.isEmpty)) return None
      (key, cols.map(_.get))
    }
    if (perGroup.isEmpty) {
      // empty table, grouped: zero groups, zero rows — but we need the
      // schema; derive from an empty-file aggregation
      val cols = aggCols(Nil)
      if (cols.exists(_.isEmpty)) return None
      val s = StructType(groupCols.map(_._1) ++ cols.map(_.get._1))
      return Some((s, Nil))
    }
    val outSchema = StructType(
      groupCols.map(_._1) ++ perGroup.head._2.map(_._1))
    Some((outSchema, perGroup.map { case (key, cols) =>
      InternalRow.fromSeq(key ++ cols.map(_._2))
    }))
  }

  private def minMax(files: Seq[graft.versioned.FileEntry],
      schema: StructType, m: Map[String, String],
      colExpr: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean): Option[(StructField, Any)] = {
    val name = colExpr match {
      case f: NamedReference if f.fieldNames().length == 1 => f.fieldNames()(0)
      case _ => return None
    }
    val field = schema.fields.find(_.name == name).getOrElse(return None)
    val phys = m.getOrElse(name, name)
    val side = if (isMin) (f: graft.versioned.FileEntry) => f.min
      else (f: graft.versioned.FileEntry) => f.max
    // every live file must carry the stat (a file with an all-null or
    // unstatable column would make the metadata answer wrong)
    val vals = files.map(f => side(f).get(phys))
    if (files.nonEmpty && vals.exists(_.isEmpty)) return None
    val parsed = vals.flatten.flatMap(s => parse(s, field.dataType))
    if (parsed.size != vals.size) return None
    val out: Any =
      if (parsed.isEmpty) null
      else {
        val ord = ordering(field.dataType).getOrElse(return None)
        if (isMin) parsed.min(ord) else parsed.max(ord)
      }
    Some((StructField(s"${if (isMin) "min" else "max"}($name)",
      field.dataType, nullable = true), out))
  }

  /** String stat -> Catalyst internal value of `dt`. Total: a malformed
    * value (corrupted metadata, hand-edited layout) is None — callers
    * fall back to a real scan — never an exception at plan time.
    */
  private[catalog] def parse(s: String, dt: DataType): Option[Any] =
    scala.util.Try[Option[Any]](dt match {
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType => Some(s.toInt)
      case LongType => Some(s.toLong)
      case FloatType => Some(s.toFloat)
      case DoubleType => Some(s.toDouble)
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case DateType => Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case _ => None // decimals/booleans/timestamps: fall back to a real scan
    }).toOption.flatten

  private def ordering(dt: DataType): Option[Ordering[Any]] = {
    val o: Option[Ordering[_]] = dt match {
      case ByteType => Some(Ordering.Byte)
      case ShortType => Some(Ordering.Short)
      case IntegerType => Some(Ordering.Int)
      case LongType => Some(Ordering.Long)
      case FloatType => Some(Ordering.Float.TotalOrdering)
      case DoubleType => Some(Ordering.Double.TotalOrdering)
      case StringType => Some(Ordering.comparatorToOrdering(
        new java.util.Comparator[org.apache.spark.unsafe.types.UTF8String] {
          def compare(a: org.apache.spark.unsafe.types.UTF8String,
              b: org.apache.spark.unsafe.types.UTF8String): Int = a.compareTo(b)
        }))
      case DateType => Some(Ordering.Int)
      case _ => None
    }
    o.map(_.asInstanceOf[Ordering[Any]])
  }
}
