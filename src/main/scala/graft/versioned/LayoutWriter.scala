package graft.versioned

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, XxHash64}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.graftbridge.PartitionedWriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one writer of graft data files. Every staged file — SQL INSERT,
  * CTAS, the CoW row-level rewrite and the streaming sink (through
  * [[graft.catalog.GraftLayoutWrite]]) as well as
  * [[TableOps.writeFiles]] (DELETE/UPDATE/MERGE rewrites, compaction,
  * the operators, MVs, REST) — is written by [[LayoutDataWriter]]:
  *
  *  - rows route into hive-style `__p_<field>=<value>` directories under
  *    one staging dir `data/<key>/<uuid>/`, by the write-side
  *    partition-value projection ([[Partitioning.partitionColumn]],
  *    resolved ONCE on the driver against the physical write schema with
  *    the caller's session);
  *  - each file's statistics are collected as it is written: parquet
  *    footer min/max/nulls/rows plus an inline per-file HLL NDV fed by a
  *    codegen'd xxhash64 projection — the driver never re-reads the data,
  *    except for the bloom-sidecar scan ([[TableOps.statsForFiles]]) a
  *    bloom-opted table needs;
  *  - `spark.sql.files.maxRecordsPerFile` (when > 0) rolls a partition
  *    into a new file every N records, as Spark's own file writers do.
  *
  * Files are written under PHYSICAL names ([[TableOps.toPhysical]] of
  * `schema` through `mapping`) — the invariant that keeps renames
  * metadata-only. Timestamps are pinned to MICROS in the writer's job
  * conf (INT96 chunks carry no usable parquet statistics, and the footer
  * is the stats source). Readers never see staged files: nothing
  * references them until a snapshot commit publishes the entries.
  */
final class LayoutWriter(
    spark: SparkSession,
    repo: GraftRepo,
    key: String,
    schema: StructType, // logical, positional with the rows written
    mapping: Map[String, String],
    spec: Seq[PartitionField],
    bloomCols: Seq[String], // physical bloom column names
    bloomItems: Long) {

  private val physSchema = TableOps.toPhysical(schema, mapping)
  private val blooms = bloomCols.filter(physSchema.fieldNames.contains)
  private val stagingRel =
    s"data/$key/${UUID.randomUUID().toString.replace("-", "")}"

  private[graft] val factory: LayoutWriterFactory = {
    // parquet-native (footer) bloom filters ride the job conf: the sidecar
    // prunes whole FILES at plan time, the parquet bloom prunes ROW GROUPS
    // inside files the sidecar admits
    val writerConf = blooms.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> bloomItems.toString)).toMap +
      ("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val (owf, conf) = PartitionedWriteBridge.parquetWriterFactory(
      spark, physSchema, writerConf)
    // resolved by the analyzer (session time zone included), bound to
    // physical-name ordinals, cast to the directory string
    val dirCols = spec.map { pf =>
      val srcType = schema.fields.find(_.name == pf.source)
        .map(_.dataType).getOrElse(throw new IllegalArgumentException(
          s"partition source column not in write schema: ${pf.source}"))
      Partitioning.partitionColumn(pf, srcType, mapping).cast("string")
    }
    val dirExprs = PartitionedWriteBridge.boundProjection(spark, physSchema, dirCols)
    val statFields = physSchema.fields.zipWithIndex.toIndexedSeq
      .filter { case (f, _) => TableOps.statable(f.dataType) }
    val hashExprs: Seq[Expression] = statFields.map { case (f, i) =>
      new XxHash64(Seq(BoundReference(i, f.dataType, nullable = true)))
    }
    val jobTrackerId = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss"))
    new LayoutWriterFactory(owf, conf, physSchema,
      spec.map(Partitioning.dirColName), dirExprs,
      statFields.map { case (f, i) => (f.name, i) }, hashExprs,
      repo.dataLocation(stagingRel), jobTrackerId,
      spark.conf.get("spark.sql.files.maxRecordsPerFile").toLong)
  }

  /** Write already-local rows on the driver through one writer instance
    * — no Spark job. Rows are grouped by partition value first (stable),
    * so each partition value lands in one file (per record cap).
    */
  def writeLocal(rows: Seq[InternalRow]): Seq[FileEntry] = {
    val w = factory.newWriter(0, 0L)
    val ordered = if (spec.isEmpty) rows else rows.sortBy(w.fragment)
    entriesOf(Seq(LayoutWriter.drive(w, ordered.iterator)))
  }

  /** The FileEntries of EXACTLY the files named in task commit messages
    * (stray files from failed attempts are never picked up).
    */
  def entriesOf(messages: Seq[WriterCommitMessage]): Seq[FileEntry] = {
    val files = messages.flatMap {
      case m: GraftWrittenFiles => m.files
      case _ => Nil
    }
    if (blooms.nonEmpty)
      // sidecar builds genuinely need the data: keep the scan pass
      TableOps.statsForFiles(spark, repo,
        files.map(wf => TableOps.statusOf(repo, repo.dataRelOf(wf.path), wf.bytes)),
        physSchema, spec, blooms, bloomItems)
    else files.map(wf =>
      LayoutWriter.entryOf(repo.dataRelOf(wf.path), wf, physSchema, spec))
  }

  /** Delete the files the completed tasks reported — always safe: nothing
    * references them until a snapshot commit publishes the entries.
    */
  def abortFiles(messages: Seq[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftWrittenFiles =>
        m.files.foreach(f =>
          try repo.dataIO.relOf(f.path).foreach(repo.dataIO.delete)
          catch { case _: Exception => () })
      case _ => ()
    }

  /** [[abortFiles]] plus a recursive wipe of the staging dir. ONLY safe
    * for batch: one staging dir serves every epoch of a streaming query,
    * and committed epochs' files are published IN PLACE inside it.
    */
  def abortStaging(messages: Seq[WriterCommitMessage]): Unit = {
    abortFiles(messages)
    try {
      repo.dataIO.walkFiles(stagingRel).foreach(repo.dataIO.delete)
      (repo.dataIO.walkDirs(stagingRel) :+ stagingRel)
        .sorted(Ordering[String].reverse).foreach(repo.dataIO.delete)
    } catch { case _: Exception => () }
  }
}

object LayoutWriter {

  /** One task's write: every row, then commit; abort on failure. */
  private[versioned] def drive(w: DataWriter[InternalRow],
      rows: Iterator[InternalRow]): WriterCommitMessage =
    try {
      rows.foreach(w.write)
      w.commit()
    } catch {
      case t: Throwable =>
        w.abort()
        throw t
    } finally w.close()

  /** A written file's collected stats rendered as the [[FileEntry]] of
    * repo-relative `rel`: partition values parse from the hive-style path
    * segments (`spec` non-empty); NDV rides along when the writer
    * collected it.
    */
  private[versioned] def entryOf(rel: String, wf: FooterStats.WrittenFile,
      physSchema: StructType, spec: Seq[PartitionField]): FileEntry = {
    def render(m: Map[String, Any]): Map[String, String] =
      m.map { case (c, v) =>
        c -> FooterStats.render(v, TableOps.leafType(physSchema, c))
      }
    FileEntry(rel, wf.rows, render(wf.mins), render(wf.maxs),
      if (spec.isEmpty) None else Some(Partitioning.valuesFromPath(rel)),
      Some(wf.bytes),
      nulls = Some(wf.nulls),
      ndv = Some(wf.ndv).filter(_.nonEmpty))
  }
}

/** Task commit message: the parquet files this task attempt wrote, with
  * their executor-collected statistics (footer min/max/nulls/rows +
  * inline HLL NDV).
  */
final case class GraftWrittenFiles(files: Seq[FooterStats.WrittenFile])
    extends WriterCommitMessage

private[graft] final class LayoutWriterFactory(
    owf: OutputWriterFactory,
    conf: SerializableConfiguration,
    physSchema: StructType,
    dirNames: Seq[String],
    dirExprs: Seq[Expression],
    statCols: Seq[(String, Int)], // (physical name, row ordinal)
    hashExprs: Seq[Expression],
    stagingDir: String,
    jobTrackerId: String,
    maxRecordsPerFile: Long) extends DataWriterFactory
    with StreamingDataWriterFactory {

  private[versioned] def newWriter(partitionId: Int, taskId: Long): LayoutDataWriter =
    new LayoutDataWriter(owf, conf, physSchema, dirNames, dirExprs,
      statCols, hashExprs, stagingDir, jobTrackerId, maxRecordsPerFile,
      partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    newWriter(partitionId, taskId)

  // streaming epochs reuse the same writer — file names are uniquified
  // by a per-writer UUID, so replayed epochs can never collide
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    newWriter(partitionId, taskId)
}

private[versioned] final class LayoutDataWriter(
    owf: OutputWriterFactory,
    conf: SerializableConfiguration,
    physSchema: StructType,
    dirNames: Seq[String],
    dirExprs: Seq[Expression],
    statCols: Seq[(String, Int)],
    hashExprs: Seq[Expression],
    stagingDir: String,
    jobTrackerId: String,
    maxRecordsPerFile: Long,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  /** Open-writer cap: with the requested sort delivered this never
    * exceeds 1; without it (strict-off rebalance edge, manual writes)
    * eviction rolls a partition into an extra file instead of holding
    * an unbounded writer (and parquet memory) per distinct value.
    */
  private val MaxOpen = 16

  private final class Sink(val path: String, val writer: OutputWriter) {
    val hlls: Array[FooterStats.Hll] =
      Array.fill(statCols.size)(new FooterStats.Hll)
    var records = 0L
  }

  private val ctx = PartitionedWriteBridge.taskAttemptContext(
    conf.value, jobTrackerId, partitionId, 0)
  private val ext = owf.getFileExtension(ctx)
  private val proj = PartitionedWriteBridge.projection(dirExprs)
  private val hashProj = PartitionedWriteBridge.projection(hashExprs)
  private val open = mutable.LinkedHashMap.empty[String, Sink]
  // path -> per-column NDV, recorded when a sink closes
  private val closedNdv = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
  // every path this attempt created (open or closed) — the abort list
  private val written = mutable.ArrayBuffer.empty[String]
  private val uid = UUID.randomUUID().toString.replace("-", "")
  private var fileSeq = 0

  private def newSink(frag: String): Sink = {
    val dir = if (frag.isEmpty) stagingDir else s"$stagingDir/$frag"
    val file = f"part-$partitionId%05d-$taskId-$uid-$fileSeq$ext"
    fileSeq += 1
    val path = s"$dir/$file"
    written += path
    new Sink(path, owf.newInstance(path, physSchema, ctx))
  }

  private def closeSink(s: Sink): Unit = {
    s.writer.close()
    closedNdv += ((s.path, statCols.indices.map(i =>
      statCols(i)._1 -> s.hlls(i).estimate).toMap))
  }

  /** The partition directory fragment `row` routes to ("" unpartitioned). */
  def fragment(row: InternalRow): String = {
    val vals = proj(row)
    dirNames.indices.map { i =>
      val v =
        if (vals.isNullAt(i)) Partitioning.NullMarker
        else PartitionedWriteBridge.escapePathName(vals.getUTF8String(i).toString)
      s"${dirNames(i)}=$v"
    }.mkString("/")
  }

  override def write(row: InternalRow): Unit = {
    val frag = fragment(row)
    val s = open.remove(frag) match {
      case Some(s0) => s0 // re-insert below: LinkedHashMap head = LRU victim
      case None =>
        if (open.size >= MaxOpen) {
          val (k, victim) = open.head
          open.remove(k)
          closeSink(victim)
        }
        newSink(frag)
    }
    val hashes = hashProj(row)
    var i = 0
    while (i < statCols.size) {
      if (!row.isNullAt(statCols(i)._2)) s.hlls(i).add(hashes.getLong(i))
      i += 1
    }
    s.writer.write(row)
    s.records += 1
    if (maxRecordsPerFile > 0 && s.records >= maxRecordsPerFile) closeSink(s)
    else open.put(frag, s)
  }

  override def commit(): WriterCommitMessage = {
    open.valuesIterator.foreach(closeSink)
    open.clear()
    // footers of files THIS task just wrote: local, page-hot, a few KB —
    // the stats collection is fully distributed, the driver only renders
    GraftWrittenFiles(closedNdv.toSeq.map { case (path, ndv) =>
      FooterStats.read(new Path(path), conf.value, physSchema, ndv)
    })
  }

  override def abort(): Unit = {
    open.valuesIterator.foreach(s =>
      try s.writer.close() catch { case _: Exception => () })
    open.clear()
    val fs = new Path(stagingDir).getFileSystem(conf.value)
    written.foreach(p =>
      try fs.delete(new Path(p), false) catch { case _: Exception => () })
  }

  override def close(): Unit = {
    open.valuesIterator.foreach(s =>
      try s.writer.close() catch { case _: Exception => () })
    open.clear()
  }
}
