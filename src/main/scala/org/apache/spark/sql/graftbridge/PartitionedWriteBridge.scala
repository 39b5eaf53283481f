package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** `private[sql]` surface graft's one data-file writer needs
  * (see `graft.versioned.LayoutWriter`):
  *
  *  - Spark's own parquet [[OutputWriterFactory]] (codegen'd encoder,
  *    compression, timestamp handling all from the session conf) so
  *    executor tasks can open one physical writer PER PARTITION
  *    DIRECTORY — the piece `ParquetTable`'s unpartitioned write path
  *    cannot do;
  *  - the analyzer, to resolve the write-side partition-value
  *    expressions ([[graft.versioned.Partitioning.partitionColumn]])
  *    against the physical write schema ONCE on the driver — executors
  *    evaluate the same bound projection, so directory routing is
  *    bit-identical to the V1 layout path by construction;
  *  - hive-style path escaping, so directory names match what Spark's
  *    `partitionBy` layout (and [[graft.versioned.Partitioning
  *    .valuesFromPath]]) produce.
  */
object PartitionedWriteBridge {

  /** Spark's parquet writer factory for `schema`, plus the job
    * configuration it needs on executors (serializable). Driver-side.
    */
  def parquetWriterFactory(
      spark: SparkSession,
      schema: StructType,
      extraConf: Map[String, String] = Map.empty)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = classic.sessionState.newHadoopConfWithOptions(Map.empty)
    val job = Job.getInstance(hadoopConf)
    val factory = new ParquetFileFormat()
      .prepareWrite(classic, job, Map.empty, schema)
    // AFTER prepareWrite: it stamps session values (e.g. the INT96
    // default for spark.sql.parquet.outputTimestampType) over anything
    // set earlier — the caller's overrides must win
    extraConf.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    (factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** Resolve `cols` (unresolved Column expressions over `schema`'s
    * column names) into BOUND catalyst expressions (ordinal references
    * into a row of `schema`), ready for [[projection]] on executors.
    * Runs the full analyzer so session-conf-dependent resolution
    * (time zone, ANSI casts) matches what a DataFrame write would do.
    */
  def boundProjection(
      spark: SparkSession,
      schema: StructType,
      cols: Seq[Column]): Seq[Expression] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    val plan = Project(cols.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.catalyst.expressions.Alias(
        classic.expression(c), s"__dir_$i")()
    }, LocalRelation(attrs))
    val analyzed = classic.sessionState.executePlan(plan).analyzed
    val projectList = analyzed.asInstanceOf[Project].projectList
    projectList.map(a => BindReferences.bindReference(
      a.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child,
      attrs))
  }

  /** Executor-side: compile the bound expressions (codegen, interpreted
    * fallback) into a row projection.
    */
  def projection(exprs: Seq[Expression]): UnsafeProjection =
    UnsafeProjection.create(exprs)

  def escapePathName(s: String): String =
    ExternalCatalogUtils.escapePathName(s)

  /** A hadoop task context for one write task attempt — what
    * [[OutputWriterFactory.newInstance]] wants. Mirrors Spark's own
    * `FileWriterFactory` identifiers.
    */
  def taskAttemptContext(
      conf: Configuration,
      jobTrackerId: String,
      partitionId: Int,
      attemptNumber: Int): TaskAttemptContext = {
    val jobId = new org.apache.hadoop.mapreduce.JobID(jobTrackerId, 0)
    val taskId = new TaskID(jobId, TaskType.MAP, partitionId)
    val attemptId = new TaskAttemptID(taskId, attemptNumber)
    val c = new Configuration(conf)
    c.set("mapreduce.job.id", jobId.toString)
    c.set("mapreduce.task.id", taskId.toString)
    c.set("mapreduce.task.attempt.id", attemptId.toString)
    c.setBoolean("mapreduce.task.ismap", true)
    c.setInt("mapreduce.task.partition", 0)
    new TaskAttemptContextImpl(c, attemptId)
  }
}
