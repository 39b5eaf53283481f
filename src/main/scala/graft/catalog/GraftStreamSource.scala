package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

import graft.versioned.{FileEntry, GraftRepo, Json, Snapshot, TableOps}

/** Stream offset: a (snapshot id, file index) pair. `idx` counts files
  * consumed from the snapshot's deterministic stream order
  * ([[GraftMicroBatchStream.ordered]]); `snap == ""` means "nothing
  * consumed yet". Offsets are replayable as long as the referenced
  * snapshot metadata exists — `CALL expire_snapshots` with an age guard
  * shorter than consumer lag breaks resumability (same retention
  * contract as Delta/Iceberg streaming reads).
  */
final case class GraftStreamOffset(snap: String, idx: Int) extends Offset {
  override def json(): String = Json.write(Map("snap" -> snap, "idx" -> idx))
}

/** Native DSv2 micro-batch source over a graft table's commit log.
  *
  * Each trigger resolves the BRANCH HEAD snapshot from repo metadata and
  * emits the files not yet consumed — a directory is never listed
  * (the file-glob alternative, [[TableOps.readStreamAppends]], re-lists
  * the whole table path every trigger: O(total files) per batch at
  * 100 TB, vs O(|snapshot metadata|) here, which the consumer already
  * pays once per commit). Admission control (`maxFilesPerTrigger`)
  * bounds each batch for backlogged consumers; offsets are exactly-once
  * across restarts because they name an immutable (snapshot, index)
  * position, not a wall-clock or listing state.
  *
  * Semantics: APPEND stream of raw committed files, the contract of
  * Iceberg/Delta table streaming without CDF —
  *  - merge-on-read DELETE commits no files, so nothing is re-emitted
  *    (and nothing is retracted);
  *  - CoW rewrites (UPDATE/DELETE/compaction) add files whose rows
  *    RE-emit; restrict to append-only tables when exactly-once ROW
  *    semantics matter.
  *
  * Mid-stream schema changes keep the stream-start schema (physical
  * names never change, so older and newer files both decode); restart
  * the query to pick up evolved columns.
  */
final class GraftMicroBatchStream(
    repo: GraftRepo,
    branch: String,
    key: String,
    startSnap: Snapshot,
    schema: StructType,
    required: StructType,
    pushed: Array[sources.Filter],
    protected val maxFilesPerTrigger: Option[Int],
    protected val startFromLatest: Boolean)
    extends PrefixFileStream[FileEntry]
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  // logical->physical resolution is pinned at stream start: physical
  // as-written names NEVER change (rename is metadata-only), so this
  // mapping stays valid for every file the stream will ever see
  private val mapping = startSnap.nameMapping
  private val physSchema = TableOps.toPhysical(schema, mapping)
  private val physRequired = TableOps.toPhysical(required, mapping)
  private val physFilters = pushed.map(TableOps.renameFilter(_, mapping))

  private def headSnap: Snapshot = {
    val c = repo.headCommit(branch)
    val id = c.tables.getOrElse(key, throw new NoSuchElementException(
      s"streaming source: table $key no longer exists on branch '$branch'"))
    snapOf(id)
  }

  // one-slot snapshot memo: currentToken loads the head snapshot and
  // orderedAt immediately re-resolves the same id (base-class flow)
  @volatile private var snapCache: Snapshot = startSnap
  private def snapOf(id: String): Snapshot =
    if (id == startSnap.id) startSnap
    else {
      val c = snapCache
      if (c.id == id) c
      else { val s = repo.snapshot(id); snapCache = s; s }
    }

  /** Deterministic stream order: (commit sequence, path). Append-only
    * growth extends the order at the tail, so a consumed prefix stays a
    * prefix; rewrites shift positions, which the path-set difference in
    * [[PrefixFileStream.batchFiles]] absorbs (consumption is tracked by
    * PATH, the index is just a compact cursor into an immutable
    * snapshot).
    */
  override protected def orderedAt(token: String): IndexedSeq[FileEntry] =
    snapOf(token).files.sortBy(f => (f.seqNo, f.path)).toIndexedSeq

  override protected def pathOf(f: FileEntry): String = f.path
  override protected def currentToken: String = headSnap.id
  override protected def initialToken: String = startSnap.id
  override protected def mkOffset(token: String, idx: Int): Offset =
    GraftStreamOffset(token, idx)
  override protected def tokenIdx(o: Offset): (String, Int) = o match {
    case g: GraftStreamOffset => (g.snap, g.idx)
    case other => val g = parse(other.json()); (g.snap, g.idx)
  }

  private def parse(json: String): GraftStreamOffset = {
    val m = Json.readAny(json).asInstanceOf[Map[String, Any]]
    GraftStreamOffset(m("snap").asInstanceOf[String],
      m("idx").asInstanceOf[Number].intValue())
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val batch = batchFiles(start, end)
    // static pushed-filter stats pruning: a pruned file is still CONSUMED
    // (offsets advance by position), it just isn't read
    val live = batch.filter(f => physFilters.forall(pf =>
      TableOps.statsMayMatch(f, physSchema, pf)))
    if (live.isEmpty) return Array.empty
    scanFor(live).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scanFor(Nil).toBatch.createReaderFactory()

  private def scanFor(files: Seq[FileEntry]) =
    graftbridge.ParquetReadBridge.scan(
      SparkSession.active,
      TableOps.statusesOf(repo, files),
      physSchema, physRequired, physFilters)

  /** Backlog visibility in StreamingQueryProgress.sources[i].metrics:
    * files/bytes committed to the table but not yet consumed — how far
    * behind the head a rate-limited consumer is (all from snapshot
    * metadata, no listing).
    */
  override def metrics(latestConsumed: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val consumed =
      if (latestConsumed.isPresent) consumedPaths(latestConsumed.get)
      else Set.empty[String]
    val behind = orderedAt(currentToken).filterNot(f => consumed(f.path))
    java.util.Map.of(
      "filesBehindHead", behind.size.toString,
      "bytesBehindHead", behind.map(_.sizeBytes(bytesPerRow = 64L)).sum.toString)
  }

  override def deserializeOffset(json: String): Offset = parse(json)
  override def toString: String = s"GraftMicroBatchStream($key@$branch)"
}
