package graft.catalog


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.versioned.{FileEntry, GraftRepo, Snapshot, TableOps}

/** Group-based (copy-on-write) row-level operations: the DSv2 surface
  * behind SQL `UPDATE` and `MERGE INTO` (and `DELETE` with predicates
  * the metadata path can't handle). Mirrors the contract the reference's
  * users get from Iceberg's copy-on-write row-level plans.
  *
  * Protocol (Spark's group-based rewrite):
  *  1. [[GraftCoWScanBuilder]] receives the command's condition as
  *     pushed filters and uses them ONLY to select affected files
  *     (partition + stats pruning) — every row of a surviving file is
  *     returned, because unchanged rows must be copied into the
  *     replacement. Nothing is reported as pushed.
  *  2. Spark computes the full replacement content of those files
  *     (updated + copied rows) and writes it through graft's one
  *     data-file writer ([[GraftLayoutWrite]] over
  *     [[graft.versioned.LayoutWriter]]) — hive partition routing,
  *     per-file partition tuples, bloom sidecars, inline footer stats +
  *     HLL NDV — so none of the table's pruning machinery decays under
  *     row-level churn.
  *  3. [[GraftCoWWrite.publish]] swaps exactly the scanned files for
  *     the staged ones in a new snapshot (optimistic retry; concurrent
  *     appends to OTHER files survive untouched).
  *
  * At 100 TB this is the same few-files-rewritten shape as the
  * metadata DELETE path: the scan's group pruning bounds the rewrite to
  * files that can contain matches.
  */
final class GraftRowLevelOperation(
    repo: GraftRepo,
    branch: String,
    key: String,
    snap: Snapshot,
    override val command: RowLevelOperation.Command) extends RowLevelOperation {

  private val tableSchema =
    DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]

  /** The snapshot this operation scanned (tombstone conflict checks). */
  private[catalog] def snapshot: Snapshot = snap

  /** Files covered by the row-level scan — exactly the set the write
    * replaces. Set during scan planning (driver-side, before execution).
    */
  @volatile private[catalog] var replaced: Seq[FileEntry] = snap.files

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCoWScanBuilder(this, repo, snap, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // replacement files route through graft's one data-file writer
    // (GraftLayoutWrite over LayoutWriter): hive-style partition directories
    // (per-file partition tuples survive row-level churn — pruning must
    // not decay), bloom sidecars when the table opted in, inline
    // footer-stats + HLL NDV, and the clustered-distribution request
    // that keeps a partitioned rewrite from interleaving values across
    // staged files
    val physSchema = TableOps.toPhysical(tableSchema, snap.nameMapping)
    new WriteBuilder {
      override def build(): Write = new GraftLayoutWrite(
        repo, key, tableSchema, snap.nameMapping, snap.partitionFields,
        graft.versioned.Blooms.physCols(snap, physSchema),
        graft.versioned.Blooms.items(snap),
        s"graft-cow-$command $key",
        onCommit = entries => GraftCoWWrite.publish(
          GraftRowLevelOperation.this, repo, branch, key, entries),
        wrapBatchFactory = f => new GraftCoWWriterFactory(f, physSchema))
    }
  }
}

/** Selects the files a row-level command may touch. Pushed filters are
  * consumed for file-level pruning only; `pushedFilters()` stays empty
  * so no layer above or below drops the non-matching rows that must be
  * copied through the rewrite.
  */
final class GraftCoWScanBuilder(
    op: GraftRowLevelOperation,
    repo: GraftRepo,
    snap: Snapshot,
    fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var groupFilters: Array[sources.Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    groupFilters = filters
    filters // everything residual: Spark re-evaluates the condition itself
  }
  override def pushedFilters(): Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val live = TableOps.pruneFiles(snap, fullSchema, groupFilters.toIndexedSeq)
    op.replaced = live
    val m = snap.nameMapping
    val physData = TableOps.toPhysical(fullSchema, m)
    val physRequired = TableOps.toPhysical(required, m)
    // merge-on-read tombstones are applied here too: the replacement
    // content a row-level rewrite publishes must never carry
    // MoR-deleted rows back to life. NO query filters go into the
    // parquet reader (whole-file row fidelity) — only tombstones.
    val (clean, dirty) = graft.versioned.Tombstones.split(
      graft.versioned.Tombstones.of(snap), physData, live, Some(repo.dataIO))
    val inner =
      if (dirty.isEmpty)
        graftbridge.ParquetReadBridge.scan(SparkSession.active,
          TableOps.statusesOf(repo, live), physData, physRequired, Array.empty)
      else graftbridge.TombstoneReadBridge.scan(
        SparkSession.active, TableOps.statusesOf(repo, clean),
        dirty.map { case (fs, tombs) =>
          (TableOps.statusesOf(repo, fs),
            graft.versioned.Tombstones.filterJsons(tombs))
        },
        physData, physRequired, Array.empty)
    if (m.isEmpty) inner
    else {
      val logicalRequired = required
      new Scan {
        override def readSchema(): StructType = logicalRequired
        override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
        override def description(): String = inner.description()
        override def columnarSupportMode(): Scan.ColumnarSupportMode =
          inner.columnarSupportMode()
      }
    }
  }
}

object GraftCoWWrite {

  /** Publish the replacement: swap exactly the scanned files for the
    * staged entries (stats/blooms/partition tuples already collected by
    * [[GraftLayoutWrite]]'s commit pass — inline HLL gives staged files
    * EXACT per-file NDV, superseding the carried-estimate transfer the
    * old parquet-bridge path needed) in one optimistic commit.
    */
  def publish(op: GraftRowLevelOperation, repo: GraftRepo, branch: String,
      key: String, entries: Seq[FileEntry]): Unit = {
    val replacedPaths = op.replaced.map(_.path).toSet
    val scannedTombs = graft.versioned.Tombstones.signature(op.snapshot)
    repo.commitRetry(branch, s"${op.command.toString.toLowerCase} $key") { base =>
      val cur = repo.snapshot(base.tables.getOrElse(key,
        throw new NoSuchElementException(s"no such table: $key")))
      // Serializable-rewrite validation (Iceberg's CoW conflict rule):
      // the replacement content was computed from the files this
      // operation scanned, so every one of them must still be live in
      // the snapshot we rebase onto. If a concurrent DELETE/UPDATE
      // already rewrote one, silently swapping would resurrect its
      // deleted rows / double-apply updates — fail instead and let the
      // caller re-run the whole row-level operation on the new head.
      validateReplaced(replacedPaths, cur, key)
      // same rule for a concurrent MERGE-ON-READ delete: it commits no
      // file change, but our replacement rows were filtered against the
      // tombstones of the SCANNED snapshot — publishing them with a
      // fresh seq would erase the newer tombstone's effect
      validateTombstones(scannedTombs, cur, key)
      val next = graft.versioned.Tombstones.lastSeq(cur.properties) + 1
      val props = cur.properties +
        (graft.versioned.Tombstones.SeqProp -> next.toString)
      val untouched = cur.files.filterNot(f => replacedPaths.contains(f.path))
      val newSnap = repo.writeSnapshot(key, cur.schemaJson,
        untouched ++ entries.map(_.copy(seq = Some(next))),
        cur.partitionBy, cur.physicalNames,
        Some(props), cur.retired)
      (base.tables + (key -> newSnap.id), base.namespaces)
    }
  }
  /** Fails when any file this row-level operation scanned (and whose
    * replacement it is about to publish) is no longer live in `cur` —
    * i.e. a concurrent rewrite/delete won the race. Separated out so the
    * conflict rule is unit-testable without driving a full DSv2 write.
    */
  def validateReplaced(replacedPaths: Set[String], cur: Snapshot,
      key: String): Unit = {
    val live = cur.files.map(_.path).toSet
    val gone = replacedPaths.diff(live)
    if (gone.nonEmpty)
      throw new graft.versioned.MergeConflictException(
        s"row-level operation on $key conflicts with a concurrent rewrite: " +
          s"${gone.size} scanned file(s) were replaced by another commit " +
          s"(e.g. ${gone.head}); re-run the operation")
  }

  /** Fails when the rebase target's merge-on-read tombstone set differs
    * from the one the operation's scan applied — a concurrent MoR delete
    * (or revert/re-delete reusing a seq, hence the predicate in the
    * signature) landed since, and the replacement content does not
    * reflect it. Unit-testable like [[validateReplaced]].
    */
  def validateTombstones(scanned: Set[(Long, String)], cur: Snapshot,
      key: String): Unit =
    if (graft.versioned.Tombstones.signature(cur) != scanned)
      throw new graft.versioned.MergeConflictException(
        s"row-level operation on $key conflicts with a concurrent " +
          "merge-on-read delete; re-run the operation")
}

/** Spark's group-based rewrite prepends a `__row_operation` routing
  * column to the replacement rows and only strips it when the operation
  * declares metadata attributes (ReplaceDataExec.writingTask picks the
  * plain DataWritingSparkTask otherwise). This factory restores the
  * declared table arity on the executor: rows arriving one field wide
  * of the schema are projected past the leading operation column.
  */
final class GraftCoWWriterFactory(
    inner: DataWriterFactory,
    schema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, 1 to schema.length)
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.length + 1) { proj.project(row); d.write(proj) }
        else d.write(row)
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}
