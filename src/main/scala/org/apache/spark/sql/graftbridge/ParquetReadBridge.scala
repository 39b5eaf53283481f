package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge to Spark's native parquet read (`private[sql]` surface).
  *
  * The graft catalog resolves WHICH immutable files a snapshot read
  * covers (branch/tag/time-travel resolution + min/max stats pruning)
  * and already knows each file's exact length from the snapshot's
  * `FileEntry`s. The file index here is seeded with exactly those
  * statuses, so planning never lists or stats storage — no per-file
  * HEAD, and no "Listing leaf files" Spark job once a read passes
  * `parallelPartitionDiscovery.threshold` paths. Everything below that —
  * vectorized columnar decode, parquet row-group/page pruning from the
  * pushed filters, WholeStageCodegen — is Spark's own parquet runtime.
  * A file deleted underneath a read fails in the reader, naming the file.
  */
object ParquetReadBridge {

  /** A columnar, codegen-friendly DSv2 Scan over an explicit parquet
    * file list. `dataSchema` is the table (snapshot) schema; `readSchema`
    * the pruned projection; `pushed` v1 filters forwarded into the
    * parquet reader for row-group pruning (Spark re-applies them above
    * the scan).
    */
  def scan(
      spark: SparkSession,
      files: Seq[FileStatus],
      dataSchema: StructType,
      readSchema: StructType,
      pushed: Array[Filter]): Scan = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf =
      classic.sessionState.newHadoopConfWithOptions(Map.empty[String, String])
    ParquetScan(
      classic,
      hadoopConf,
      index(classic, files, dataSchema),
      dataSchema,
      readSchema,
      StructType(Nil), // no directory-derived partition columns
      pushed,
      CaseInsensitiveStringMap.empty(),
      None, // no pushed aggregate
      Seq.empty,
      Seq.empty,
      Array.empty)
  }

  /** The same seeded read as a V1 DataFrame (`HadoopFsRelation`) — for
    * DataFrame-side callers (CoW rewrites, compaction, stats scans,
    * foreign Iceberg files) that would otherwise go through
    * `spark.read.parquet(paths)` and its per-path glob/exists checks and
    * listing. `format` is parquet for graft's own files; foreign ORC
    * files pass Spark's ORC format. Columns are nullable, as with a
    * user-specified schema on `spark.read`.
    */
  def frame(spark: SparkSession, files: Seq[FileStatus],
      dataSchema: StructType,
      format: FileFormat = new ParquetFileFormat): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(HadoopFsRelation(
      index(classic, files, dataSchema), StructType(Nil), dataSchema.asNullable,
      None, format, Map.empty)(classic))
  }

  // empty partition spec pinned: graft encodes partition values in
  // `__p_<field>=<v>` directories purely for ITS OWN pruning metadata —
  // the data columns live inside the files, so directory inference must
  // never resurface them as extra columns
  private def index(spark: org.apache.spark.sql.classic.SparkSession,
      files: Seq[FileStatus], dataSchema: StructType): InMemoryFileIndex =
    new InMemoryFileIndex(spark, files.map(_.getPath),
      Map.empty[String, String], Some(dataSchema), new SeededStatuses(files),
      Some(PartitionSpec.emptySpec))
}

/** A `FileStatusCache` that already holds every root's status: the index
  * finds each path here, so it never reaches `bulkListLeafFiles`. Nothing
  * is ever added or dropped — the statuses are immutable files' metadata.
  */
private final class SeededStatuses(files: Seq[FileStatus]) extends FileStatusCache {
  private val byPath: Map[Path, Array[FileStatus]] =
    files.iterator.map(f => f.getPath -> Array(f)).toMap
  override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
  override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
  override def invalidateAll(): Unit = ()
}
