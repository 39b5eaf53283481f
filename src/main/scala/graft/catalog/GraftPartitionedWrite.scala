package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

import graft.versioned.{FileEntry, GraftRepo, LayoutWriter, PartitionField}

/** The DSv2 face of graft's one data-file writer ([[LayoutWriter]]):
  * SQL INSERT/INSERT OVERWRITE ([[GraftTable.newWriteBuilder]]), atomic
  * CTAS/RTAS ([[GraftStagedTable]]), the CoW row-level rewrite behind
  * UPDATE/MERGE/DELETE ([[GraftRowLevelOperation]]) and the streaming
  * sink all write through it; what happens to the collected
  * [[FileEntry]]s is the caller's `onCommit` (an optimistic append
  * commit for INSERT; accumulation until `commitStagedChanges` for CTAS;
  * the file swap for CoW).
  *
  * The Write DECLARES its layout via [[RequiresDistributionAndOrdering]]:
  * clustering on the partition transforms (advisory, so AQE plans a
  * skew-splitting rebalance — one hot day cannot funnel through one
  * task) plus a within-task sort on the same transforms. Every transform
  * resolves against [[GraftFunctions.transforms]] in this catalog's
  * FunctionCatalog — the same functions storage-partitioned joins use —
  * so the request survives analysis for bucket/temporal/truncate specs,
  * not just identity. The writer's LRU of open files keeps memory
  * bounded even if the ordering is not delivered.
  */
final class GraftLayoutWrite(
    repo: GraftRepo,
    key: String,
    tableSchema: StructType, // logical
    mapping: Map[String, String],
    spec: Seq[PartitionField],
    blooms: Seq[String], // physical bloom column names
    bloomItems: Long,
    label: String,
    onCommit: Seq[FileEntry] => Unit,
    // epoch-aware commit for the STREAMING sink (exactly-once append);
    // None = this write surface is batch-only (CTAS staging)
    onEpochCommit: Option[(Long, Seq[FileEntry]) => Unit] = None,
    // batch-only executor-side adapter around the writer factory — the
    // row-level (CoW) surface wraps it to strip Spark's __row_operation
    // routing column (see GraftCoWWriterFactory)
    wrapBatchFactory: DataWriterFactory => DataWriterFactory = identity)
    extends Write with RequiresDistributionAndOrdering {

  // one LayoutWriter (= one staging dir) per toBatch/toStreaming
  private def layoutWriter(): LayoutWriter =
    new LayoutWriter(SparkSession.active, repo, key, tableSchema, mapping,
      spec, blooms, bloomItems)

  override def description(): String = label

  private def transformExprs
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    GraftTable.specTransforms(spec)
      .map(t => t: org.apache.spark.sql.connector.expressions.Expression)

  override def requiredDistribution: Distribution =
    Distributions.clustered(transformExprs)

  // advisory: AQE plans a size-targeted, skew-splitting rebalance
  // rather than a hard hash repartition (the small-files/skew tradeoff
  // documented at TableOps.writeFiles)
  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering: Array[SortOrder] =
    GraftTable.specTransforms(spec)
      .map(t => Expressions.sort(t, SortDirection.ASCENDING))

  override def toBatch: BatchWrite = {
    val w = layoutWriter()
    new BatchWrite {
      override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
        wrapBatchFactory(w.factory)
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        onCommit(w.entriesOf(messages.toIndexedSeq))
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        w.abortStaging(messages.toIndexedSeq)
    }
  }

  /** Native streaming sink (`df.writeStream.toTable(...)`): each epoch
    * lands as one exactly-once append commit through the SAME layout
    * writer — partition routing, footer stats, bloom sidecars included.
    * A replayed epoch is a no-op (durable batch-id in the snapshot
    * properties); an aborted epoch's files are deleted, never
    * referenced.
    */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    val commitEpoch = onEpochCommit.getOrElse(
      throw new UnsupportedOperationException(
        s"$label does not support streaming writes"))
    val w = layoutWriter()
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      override def createStreamingWriterFactory(p: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
        w.factory
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        commitEpoch(epochId, w.entriesOf(messages.toIndexedSeq))
      // files only: committed epochs are published inside the one
      // staging dir every epoch shares
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        w.abortFiles(messages.toIndexedSeq)
    }
  }
}
