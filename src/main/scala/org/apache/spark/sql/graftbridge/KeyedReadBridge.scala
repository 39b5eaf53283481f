package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Key-grouped batch over explicit parquet file groups — the read half
  * of storage-partitioned joins (SPJ).
  *
  * Each distinct partition key becomes exactly ONE [[InputPartition]]
  * (implementing [[HasPartitionKey]]), so a join between two graft
  * tables partitioned the same way needs NO shuffle at all: Spark's
  * `KeyGroupedShuffleSpec` lines the partitions up by key and zips them.
  * At 100 TB that deletes the two largest exchanges of a fact-fact join.
  *
  * Decode still delegates to Spark's vectorized `ParquetScan` machinery:
  * the per-group files (statuses from the snapshot's entries — nothing
  * is listed) are split/packed by the normal parquet batch planner, then
  * merged into one `FilePartition` per key (SPJ requires the
  * key->partition mapping to be 1:1; in exchange a group is read by a
  * single task, the same trade Iceberg's preserve-data-grouping makes).
  */
object KeyedReadBridge {

  def keyedBatch(
      spark: SparkSession,
      groups: Seq[(InternalRow, Seq[FileStatus])],
      dataSchema: StructType,
      readSchema: StructType,
      pushed: Array[Filter]): Batch = {
    // ONE parquet scan over the union of files (one seeded file index,
    // one reader-factory config), then the planned splits are
    // re-bucketed into their key groups by file path
    val union = ParquetReadBridge.scan(
      spark, groups.flatMap(_._2), dataSchema, readSchema, pushed).toBatch
    val byPath = union.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files)
      .groupBy(_.filePath.toPath.toString)
    val parts: Array[InputPartition] = groups.zipWithIndex.map {
      case ((key, statuses), i) =>
        val files = statuses.toArray.flatMap(f =>
          byPath.getOrElse(f.getPath.toString, Array.empty[
            org.apache.spark.sql.execution.datasources.PartitionedFile]))
        GraftKeyedPartition(key, FilePartition(i, files)): InputPartition
    }.toArray
    new Batch {
      override def planInputPartitions(): Array[InputPartition] = parts
      override def createReaderFactory(): PartitionReaderFactory =
        new KeyedReaderFactory(union.createReaderFactory())
    }
  }
}

/** One partition-key group: all splits of all files recorded under the
  * same partition value tuple. `key` field order matches the
  * `KeyGroupedPartitioning.keys()` the scan reports.
  */
final case class GraftKeyedPartition(key: InternalRow, inner: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Unwraps [[GraftKeyedPartition]] and delegates to the parquet reader
  * factory (columnar support and all).
  */
final class KeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[GraftKeyedPartition].inner
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
