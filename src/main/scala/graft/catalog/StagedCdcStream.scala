package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.StructType

/** Shared machinery for graft's CDC micro-batch streams
  * ([[GraftCdcMicroBatchStream]] over a graft table's commit log,
  * [[IcebergCdcMicroBatchStream]] over an external Iceberg table).
  *
  * Both share one design: the unit of consumption is a whole
  * VERSION-RANGE DIFF `(from, to]` — net row changes as
  * `table schema + _change_type` — and the diff is an exceptAll
  * computation, not a bare file scan, so it cannot be expressed as
  * DSv2 input partitions directly. Each batch therefore materializes
  * ONCE into a staged parquet directory under the source checkpoint
  * (a distributed write of O(changed rows)) and the micro-batch reads
  * those staged files; a replay of a committed-but-unfinished batch
  * rereads the staged bytes instead of recomputing, and committed
  * batches prune their staging at `commit`.
  *
  * Scale note: steady-state batches stage O(changed rows), but the
  * INITIAL batch of a `startFrom=earliest` stream is the full live
  * table as inserts — an O(table) staged copy. For very large tables,
  * bootstrap with a batch read of the current state and start the CDC
  * stream with `startFrom=latest` (the standard CDF bootstrap
  * pattern).
  */
private[catalog] trait StagedCdcStream extends MicroBatchStream
    with SupportsAdmissionControl {

  /** table schema + `_change_type` — the staged parquet's exact shape. */
  protected def cdcSchema: StructType
  /** Max consumption STEPS (metadata versions / commits) a single
    * micro-batch may span — the CDC rate cap. A consumer resuming far
    * behind the head otherwise computes ONE giant backlog diff; capped,
    * it walks the backlog in bounded, checkpointed strides. None = the
    * whole backlog per trigger.
    */
  protected def maxStepsPerTrigger: Option[Int]
  /** Current head token. */
  protected def headToken: String
  /** The newest token at most `steps` steps past `from` ("" ⇒ from the
    * beginning), never past the head. */
  protected def boundedHead(from: String, steps: Int): String
  /** Offset for a token (the subclass's offset case class). */
  protected def mkOffset(token: String): Offset

  final override def getDefaultReadLimit: ReadLimit =
    maxStepsPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  final override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      s"$toString uses latestOffset(Offset, ReadLimit)")

  final override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    mkOffset(limit match {
      case f: ReadMaxFiles => boundedHead(tokenOf(start), f.maxFiles())
      case _ => headToken
    })
  /** Source checkpoint dir (None only in ad-hoc tests — falls back to a
    * process tmpdir). */
  protected def checkpointLoc: Option[String]
  /** Subdirectory name under the checkpoint for this source's staging. */
  protected def stageName: String
  /** Filesystem-safe tag naming a token in staged dir names ("" must
    * map to a stable tag too). */
  protected def tagOf(token: String): String
  /** The net row changes of `(from, to]`; `from` None ⇒ everything live
    * at `to` is an insert (the initial CDC batch). */
  protected def computeDiff(from: Option[String], to: String): DataFrame
  /** Token of an offset, normalizing checkpoint-deserialized shapes
    * (and refusing foreign ones loudly). */
  protected def tokenOf(o: Offset): String

  private lazy val stageRoot = new org.apache.hadoop.fs.Path(
    checkpointLoc.getOrElse(sys.props("java.io.tmpdir") +
      s"/graft-cdc-${java.util.UUID.randomUUID()}"),
    stageName)
  private def hadoopConf =
    SparkSession.active.sessionState.newHadoopConf()

  final override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val a = tokenOf(start)
    val b = tokenOf(end)
    if (a == b || b.isEmpty) return Array.empty
    val dir = new org.apache.hadoop.fs.Path(stageRoot,
      s"b-${tagOf(a)}-${tagOf(b)}")
    val fs = dir.getFileSystem(hadoopConf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
      computeDiff(Option(a).filter(_.nonEmpty), b)
        .write.mode("overwrite").parquet(dir.toString)
    val parts = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty) return Array.empty
    graftbridge.ParquetReadBridge.scan(SparkSession.active, parts,
      cdcSchema, cdcSchema, Array.empty).toBatch.planInputPartitions()
  }

  final override def createReaderFactory(): PartitionReaderFactory =
    graftbridge.ParquetReadBridge.scan(SparkSession.active, Nil,
      cdcSchema, cdcSchema, Array.empty).toBatch.createReaderFactory()

  /** A committed batch can never replay, so its staging (and any older
    * batch's) is prunable — EXCEPT the dir of the batch that may
    * already be executing: with async progress tracking
    * (`asyncProgressTrackingEnabled`) `commit(end_N)` can fire while
    * batch N+1 is mid-read, and batch N+1 always stages as
    * `b-<tag(end_N)>-...` (batches execute one at a time; only the
    * offset/commit log writes are asynchronous). Keep that prefix,
    * prune the rest. Pruning is hygiene, never load-bearing: a missed
    * prune costs disk, a recompute costs one diff.
    */
  final override def commit(end: Offset): Unit = try {
    val keep = s"b-${tagOf(tokenOf(end))}-"
    val fs = stageRoot.getFileSystem(hadoopConf)
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot)
        .filterNot(_.getPath.getName.startsWith(keep))
        .foreach(st => fs.delete(st.getPath, true))
  } catch { case _: Exception => () }

  override def stop(): Unit = ()
}
