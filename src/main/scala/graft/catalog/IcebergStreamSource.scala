package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.versioned.{IcebergImport, IcebergMeta, Json}

/** Structured-Streaming source over an EXTERNAL Apache Iceberg table —
  * the continuous leg of the consumer-side interop (batch =
  * `CALL iceberg_import`, incremental = `CALL iceberg_import_changes`,
  * streaming = this):
  *
  * {{{
  * spark.readStream.format("iceberg-changes").load("/path/to/dest")
  * }}}
  *
  * `load` takes the table directory (resolved through
  * `metadata/version-hint.text` EVERY trigger, so a sync-mode dest that
  * keeps appending metadata versions streams live) or a pinned
  * `vN.metadata.json` (static — emits once and waits). Offsets name an
  * immutable (metadata location, file index) position in that
  * snapshot's deterministic MONOTONE file order (first-appearance
  * version, then sequence, then path — see `ordered`; new files always
  * sort last, so a consumed set is a prefix of every later version's
  * order even under rate caps) — the same exactly-once design as
  * graft's own table stream ([[GraftMicroBatchStream]]): consumption
  * is tracked by PATH via the offset snapshot's metadata, never a
  * directory listing or wall clock. The first-appearance assignment is
  * journaled per version into the source's checkpoint
  * (`graft-order-log/v<k>.json`), so a restart replays only versions
  * PAST the checkpoint and the committed order survives
  * `CALL iceberg_export_expire` dropping old metadata versions; the
  * OFFSET version itself must still be retained (a retention shorter
  * than consumer lag breaks resumability — the standard streaming-read
  * retention contract).
  *
  * APPEND-ONLY contract, loud on violation: a snapshot carrying DELETE
  * files (MoR tombstones, CDC deletes) REFUSES by default — emitting
  * raw file rows would resurrect deleted rows for a downstream that
  * cannot retract. `skipDeletes=true` opts into raw-append semantics
  * (rows of added data files, deletes ignored — the contract of
  * graft's own stream over MoR tables). Independently of skipDeletes,
  * a snapshot PAST the stream's resume point that rewrites live data
  * files — a compaction (`replace`) or a copy-on-write
  * `overwrite`/`delete` — also refuses loudly: consumption is tracked
  * by path, so the rewritten rows would re-emit as if new (the batch
  * analog `changesPlan` skips `replace` via added_snapshot_id
  * attribution and refuses `overwrite`). Data files must be parquet
  * (the format every [[graft.versioned.IcebergExport]] dest has);
  * ORC/AVRO data files refuse rather than mis-read.
  *
  * Reference surface: lakefs-iceberg-catalog dests are plain Iceberg
  * tables external engines poll (`LakeFSTableOperations.java:115-147`);
  * this source is the Spark-native continuous poll.
  */
final class IcebergChangesProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "iceberg-changes"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base =
      IcebergImport.plan(IcebergChangesProvider.location(options), None).schema
    if (IcebergChangesProvider.isCdc(options))
      StructType(base.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
    else base
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new IcebergChangesTable(
      IcebergChangesProvider.location(new CaseInsensitiveStringMap(properties)),
      schema)
}

private object IcebergChangesProvider {
  def location(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "iceberg-changes needs a path: .load(<table dir or metadata json>)"))
  def isCdc(options: CaseInsensitiveStringMap): Boolean =
    options.getOrDefault("cdc", "false").toBoolean

  private val VersionRe = """v(\d+)\.metadata\.json$""".r
  /** N of a `vN.metadata.json` location; 0 for any other name. */
  def versionOf(metaLoc: String): Int =
    VersionRe.findFirstMatchIn(metaLoc).map(_.group(1).toInt).getOrElse(0)
  /** The location of version `k` beside `metaLoc`. */
  def versionLoc(metaLoc: String, k: Int): String =
    VersionRe.replaceFirstIn(metaLoc, s"v$k.metadata.json")
}

final class IcebergChangesTable(loc: String, schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"iceberg-changes($loc)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        if (IcebergChangesProvider.isCdc(options)) {
          // options that only mean something for the file-prefix append
          // stream must not be silently dropped: the CDC unit of
          // consumption is a version-range diff (rate-capped in
          // VERSIONS via maxVersionsPerTrigger, never files) and
          // deletes are the POINT of CDC mode
          Seq("maxFilesPerTrigger", "skipDeletes").foreach(o =>
            require(options.get(o) == null,
              s"option $o is not supported with cdc=true (CDC consumes " +
                "whole version-range diffs and always applies deletes; " +
                "rate-cap with maxVersionsPerTrigger instead)"))
          new IcebergCdcMicroBatchStream(loc, schema0,
            startFromLatest =
              options.getOrDefault("startFrom", "earliest") == "latest",
            checkpointLoc = Option(checkpointLocation).filter(_.nonEmpty),
            maxStepsPerTrigger =
              Option(options.get("maxVersionsPerTrigger")).map(_.toInt))
        }
        else new IcebergChangesMicroBatchStream(loc, schema0,
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          startFromLatest =
            options.getOrDefault("startFrom", "earliest") == "latest",
          skipDeletes =
            options.getOrDefault("skipDeletes", "false").toBoolean,
          checkpointLoc = Option(checkpointLocation).filter(_.nonEmpty))
    }
}

/** Offset: the metadata location whose snapshot's first `idx` files (in
  * (sequence, path) order) are consumed. `meta == ""` ⇒ nothing yet.
  */
final case class IcebergChangesOffset(meta: String, idx: Int) extends Offset {
  override def json(): String = Json.write(Map("meta" -> meta, "idx" -> idx))
}

object IcebergChangesMicroBatchStream {
  /** Test hook: metadata versions parsed during first-appearance replay
    * (the order log makes restarts O(versions past the checkpoint)). */
  private[graft] val replayedVersions =
    new java.util.concurrent.atomic.AtomicInteger(0)
}

final class IcebergChangesMicroBatchStream(loc: String, schema: StructType,
    protected val maxFilesPerTrigger: Option[Int],
    protected val startFromLatest: Boolean,
    skipDeletes: Boolean,
    checkpointLoc: Option[String] = None)
    extends PrefixFileStream[IcebergImport.DataFile] {

  // ---- deterministic MONOTONE file order --------------------------------
  // (meta, idx) offsets are sound only if a consumed set is always a
  // PREFIX of every later version's order — otherwise a rate-capped
  // offset silently drops consumed files that sort past the cap point
  // and re-emits them. Entry sequence numbers don't give that (v1
  // metadata has none), so files order by the metadata VERSION in which
  // their path first appeared (replayed incrementally over the dest's
  // retained `v<K>.metadata.json` files in ascending K — a pure
  // function of the dest, identical across stream restarts), then by
  // (sequence, path) within a version. New files always sort last ⇒
  // prefix invariant holds. If `iceberg_export_expire` drops versions,
  // later replays start at the oldest retained one — deterministic for
  // a given retained set; expiring versions a checkpointed offset still
  // depends on breaks resumability (the documented retention contract).

  import IcebergChangesProvider.{versionLoc, versionOf}

  /** path → version that first listed it; grown monotonically. Size is
    * O(live files) — the same order as any Iceberg planner's file list
    * (plan() materializes it per trigger anyway), so this is not the
    * stream's memory ceiling.
    */
  private val firstSeen = scala.collection.mutable.Map.empty[String, Int]
  private var builtThrough = 0

  // ---- first-appearance ORDER LOG ---------------------------------------
  // One tiny JSON per processed version under the source's checkpoint
  // dir (`graft-order-log/v<k>.json`: the paths first seen at k). On
  // restart the assignment loads from the log instead of re-planning
  // every retained metadata version — O(versions past the checkpoint)
  // metadata parses instead of O(retained versions × files) — and the
  // committed order survives even if `iceberg_export_expire` later
  // drops metadata versions the assignment was derived from (the log,
  // not the dest, is the durable record the WAL offsets depend on).
  private val logDir = checkpointLoc.map(c =>
    new org.apache.hadoop.fs.Path(c, "graft-order-log"))
  private def logFs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  private var logLoaded = false

  /** Apply logged assignments for versions ≤ `v` (the stream's resume
    * point): entries PAST the resume point are recomputed from metadata
    * instead, so the rewrite guard still sees those versions. Only the
    * CONTIGUOUS prefix starting at version 1 is honored — expired
    * versions get explicit empty entries, so a GAP means a log write
    * failed and the gapped version's assignment must replay from
    * metadata (honoring max instead would silently skip it and permute
    * the order the checkpointed (meta, idx) offsets were computed
    * against).
    */
  private def loadOrderLog(v: Int): Unit = logDir.foreach { dir =>
    try {
      val fs = logFs(dir)
      if (!fs.exists(dir)) return
      val LogRe = """v(\d+)\.json""".r
      val entries = fs.listStatus(dir).toSeq
        .flatMap(st => st.getPath.getName match {
          case LogRe(k) if k.toInt <= v => Some(k.toInt -> st.getPath)
          case _ => None
        }).sortBy(_._1)
      val it = entries.iterator
      var contiguous = true
      while (contiguous && it.hasNext) {
        val (k, p) = it.next()
        if (k != builtThrough + 1) contiguous = false
        else {
          // read + apply fully BEFORE advancing builtThrough: a failed
          // read must leave the version to metadata replay, not skip it
          val bytes = scala.util.Using.resource(fs.open(p))(in =>
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in))
          Json.readAny(
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
            .asInstanceOf[Map[String, Any]]("files")
            .asInstanceOf[Seq[Any]]
            .foreach(f => firstSeen.getOrElseUpdate(f.asInstanceOf[String], k))
          builtThrough = k
        }
      }
    } catch { case _: Exception => () } // log unreadable → replay from metadata
  }

  /** Durably record version `k`'s fresh assignments (overwrite: this
    * instance's computation is the one its WAL offsets reference).
    */
  private def writeOrderLog(k: Int, fresh: Seq[String]): Unit =
    logDir.foreach { dir =>
      try {
        val fs = logFs(dir)
        fs.mkdirs(dir)
        val dst = new org.apache.hadoop.fs.Path(dir, s"v$k.json")
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s".tmp-v$k-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(Json.write(Map("files" -> fresh))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (fs.exists(dst)) fs.delete(dst, false)
        if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
      } catch { case _: Exception => () } // best-effort: replay still works
    }
  /** snapshot ids already classified by the rewrite guard. */
  private val seenSnaps = scala.collection.mutable.Set.empty[Long]
  /** Version of the stream's resume point — the first token whose order
    * this instance materialized (the checkpointed offset on restart, the
    * head on a fresh start; [[PrefixFileStream.latestOffset]] orders the
    * calls so). Snapshots first appearing in LATER versions are guarded:
    * consumption is tracked by PATH, so a snapshot that rewrites
    * already-consumed files to new paths (compaction `replace`, CoW
    * `overwrite`) would silently re-emit their rows as if new — the
    * guard refuses loudly instead (the batch analog: changesPlan skips
    * `replace` via added_snapshot_id attribution and refuses
    * `overwrite`). Snapshots at or before the resume point need no
    * guard: their net effect IS the resume version's live set, emitted
    * (or checkpoint-consumed) as the initial prefix.
    */
  private var guardFrom = Int.MaxValue
  /** Live data paths of the last version the replay processed — the
    * version-to-version backstop of the rewrite guard. Snapshot
    * summaries alone cannot catch a cross-emission rewrite: a sync-mode
    * emission carries only the current snapshot, which (having no
    * in-emission parent) classifies as `append` even when it is a
    * compaction of the previous emission's files. A live path that
    * DISAPPEARS between consecutive retained versions is the
    * ground-truth signal that rows were rewritten or deleted.
    */
  private var prevLive: Set[String] = null

  /** Refuse when version `k` (past the resume point) removed live data
    * paths relative to the previously processed version; then advance
    * the tracked live set.
    */
  private def guardLiveSet(paths: Iterable[String], k: Int): Unit = {
    val cur = paths.toSet
    if (prevLive != null && k > guardFrom) {
      val removed = prevLive.diff(cur)
      if (removed.nonEmpty) throw new UnsupportedOperationException(
        s"v$k.metadata.json removed ${removed.size} live data file(s) " +
          s"(e.g. ${removed.head}) — rows were rewritten (compaction, " +
          "copy-on-write update) or deleted, which an append-only " +
          "stream tracking consumption by path cannot represent " +
          "(rewritten rows would re-emit as new). Restart the stream " +
          "with a fresh checkpoint (re-reads the current live set), or " +
          "consume via CALL iceberg_import / iceberg_import_changes")
    }
    prevLive = cur
  }

  /** Classify the snapshots of version `k`'s metadata that no earlier
    * processed version listed; refuse the ones an append-only,
    * path-tracked stream cannot represent. MoR snapshots that only ADD
    * delete files pass here — delete-file presence is [[planOf]]'s
    * contract (refuse unless skipDeletes).
    */
  private def guardSnapshots(meta: IcebergMeta.Table, k: Int): Unit =
    meta.snapshots.foreach { s =>
      if (!seenSnaps.contains(s.id)) {
        // classify BEFORE marking seen: a refused snapshot must refuse
        // again on the engine's retry, not slip through as already-seen
        if (k > guardFrom) {
          val op = IcebergImport.operationOf(s)
          lazy val remedy = "an append-only stream tracking consumption " +
            "by path would re-emit the rewritten rows as new. Restart " +
            "the stream with a fresh checkpoint (re-reads the current " +
            "live set), or consume via CALL iceberg_import / " +
            "iceberg_import_changes"
          op match {
            case "append" => ()
            case "replace" => throw new UnsupportedOperationException(
              s"snapshot ${s.id} (v$k.metadata.json) is a '$op' — a " +
                s"compaction rewrote already-streamed rows to new " +
                s"files; $remedy")
            case other =>
              if (IcebergImport.removedDataFiles(s.manifestList))
                throw new UnsupportedOperationException(
                  s"snapshot ${s.id} (v$k.metadata.json) is a '$other' " +
                    s"that removed live data files; $remedy")
          }
        }
        seenSnaps += s.id
      }
    }
  private val orderCache =
    new java.util.LinkedHashMap[String, IndexedSeq[IcebergImport.DataFile]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, IndexedSeq[IcebergImport.DataFile]]): Boolean =
        size() > 4
    }

  /** parquet data paths already proven free of field-id/name drift
    * (schema is pinned at stream start, so one probe per file suffices
    * for the stream's lifetime).
    */
  private val bindChecked = scala.collection.mutable.Set.empty[String]

  /** Plan of the version being EMITTED, with every contract enforced:
    * delete refusal (unless skipDeletes), parquet-only data, and
    * name-bindability — this stream reads through ONE shared DSv2
    * reader factory bound by column NAME, so a file whose footer ids
    * bind a schema column elsewhere (renamed, or a retired id) must
    * refuse rather than silently read it wrong (the batch import
    * field-id-binds instead; point users there).
    */
  private def planOf(metaLoc: String,
      meta: IcebergMeta.Table): IcebergImport.Plan = {
    val p = IcebergImport.plan(meta, None)
    if (p.deleteFiles.nonEmpty && !skipDeletes)
      throw new UnsupportedOperationException(
        s"$metaLoc has ${p.deleteFiles.size} delete file(s); an " +
          "append-only stream would resurrect deleted rows. Read it " +
          "via CALL iceberg_import, or set skipDeletes=true for " +
          "raw-append semantics (added files, deletes ignored)")
    p.dataFiles.foreach(f => require(f.format == "PARQUET",
      s"iceberg-changes streams parquet data files only; " +
        s"${f.format} at ${f.path} — read via CALL iceberg_import"))
    val fresh = p.dataFiles.filterNot(f => bindChecked(f.path))
    IcebergImport.assertNameBindable(SparkSession.active, p, fresh)
    bindChecked ++= fresh.map(_.path)
    p
  }

  override protected def orderedAt(metaLoc: String)
      : IndexedSeq[IcebergImport.DataFile] =
    orderCache.synchronized {
      val v = versionOf(metaLoc)
      guardFrom = math.min(guardFrom, v)
      val hit = orderCache.get(metaLoc)
      if (hit != null) return hit
      if (!logLoaded) { loadOrderLog(v); logLoaded = true }
      // replay intermediate retained versions so first-appearance
      // assignment is version-ordered (each version planned once per
      // stream lifetime; metadata files are immutable once written).
      // LENIENT plan: replay only needs file paths for ordering — the
      // emitted-version contracts (delete refusal, parquet-only,
      // bindability) are [[planOf]]'s and apply to the version actually
      // read, so a historical version that once carried deletes must
      // not kill a stream whose head is clean. The rewrite guard runs
      // per version though: a replace/overwrite ANYWHERE past the
      // resume point breaks path-tracked consumption, whether or not
      // the head still shows its delete files.
      ((builtThrough + 1) until v).foreach { k =>
        val loc = versionLoc(metaLoc, k)
        try {
          IcebergChangesMicroBatchStream.replayedVersions.incrementAndGet()
          val meta = IcebergImport.metadataAt(loc)
          guardSnapshots(meta, k)
          val files = IcebergImport.plan(meta, None).dataFiles
          guardLiveSet(files.map(_.path), k)
          val fresh = files.map(_.path).filterNot(firstSeen.contains)
          fresh.foreach(firstSeen.update(_, k))
          writeOrderLog(k, fresh)
        } catch { case _: java.io.FileNotFoundException |
          _: java.nio.file.NoSuchFileException =>
          // expired version contributed nothing — log an explicit
          // EMPTY entry so the order log stays gap-free (a gap means a
          // failed write, which forces metadata replay on restart)
          writeOrderLog(k, Nil)
        }
        // per-version advance: a guard refusal at version k+1 must not
        // leave a retry re-diffing older versions against k's live set
        builtThrough = math.max(builtThrough, k)
      }
      val meta = IcebergImport.metadataAt(metaLoc)
      guardSnapshots(meta, v)
      val p = planOf(metaLoc, meta)
      guardLiveSet(p.dataFiles.map(_.path), v)
      if (v > builtThrough) {
        val fresh = p.dataFiles.map(_.path).filterNot(firstSeen.contains)
        fresh.foreach(firstSeen.update(_, v))
        writeOrderLog(v, fresh)
      } else p.dataFiles.foreach(f => firstSeen.getOrElseUpdate(f.path, v))
      builtThrough = math.max(builtThrough, v)
      val out = p.dataFiles
        .sortBy(f => (firstSeen(f.path), f.seq, f.path)).toIndexedSeq
      orderCache.put(metaLoc, out)
      out
    }

  override protected def pathOf(f: IcebergImport.DataFile): String = f.path
  override protected def currentToken: String =
    IcebergImport.resolveMetadataLoc(loc)
  override protected def mkOffset(token: String, idx: Int): Offset =
    IcebergChangesOffset(token, idx)
  override protected def tokenIdx(o: Offset): (String, Int) = o match {
    case i: IcebergChangesOffset => (i.meta, i.idx)
    case other =>
      val i = deserializeOffset(other.json())
        .asInstanceOf[IcebergChangesOffset]
      (i.meta, i.idx)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val batch = batchFiles(start, end)
    if (batch.isEmpty) return Array.empty
    scanFor(batch).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scanFor(Nil).toBatch.createReaderFactory()

  // foreign files: planned from their manifest lengths, so the scan
  // never lists or stats storage
  private def scanFor(files: Seq[IcebergImport.DataFile]) = {
    val spark = SparkSession.active
    graftbridge.ParquetReadBridge.scan(spark,
      IcebergImport.statusesOf(files), schema, schema, Array.empty)
  }

  override def deserializeOffset(json: String): Offset = {
    val m = Json.readAny(json).asInstanceOf[Map[String, Any]]
    IcebergChangesOffset(m("meta").asInstanceOf[String],
      m("idx").asInstanceOf[Number].intValue())
  }
  override def toString: String = s"IcebergChangesMicroBatchStream($loc)"
}

/** Offset of the CDC stream: the metadata version consumed THROUGH
  * (`meta == ""` ⇒ nothing yet — the next batch is the initial
  * full-snapshot insert load).
  */
final case class IcebergCdcOffset(meta: String) extends Offset {
  override def json(): String = Json.write(Map("meta" -> meta))
}

/** DELETE-AWARE (CDC) streaming read of an external Iceberg table —
  * `cdc=true` on the `iceberg-changes` source:
  *
  * {{{
  * spark.readStream.format("iceberg-changes")
  *   .option("cdc", "true").load("/path/to/dest")
  * }}}
  *
  * Where the append-only stream REFUSES delete-bearing or rewriting
  * snapshots, this mode emits the NET row changes of each metadata
  * version step as `table schema + _change_type` ('insert'|'delete') —
  * the streaming analog of graft's own `changesBetween` CDC read, via
  * [[IcebergImport.changesBetweenVersions]]: MoR deletes stream as
  * retractions, CoW updates as delete+insert of the modified rows
  * only, and compactions net to zero rows. TOTAL over snapshot shapes:
  * nothing refuses, so a MoR-writing producer can be followed
  * continuously. Batch staging/replay mechanics live in
  * [[StagedCdcStream]] (shared with graft's own table CDC stream).
  */
final class IcebergCdcMicroBatchStream(loc: String,
    protected val cdcSchema: StructType,
    startFromLatest: Boolean,
    protected val checkpointLoc: Option[String],
    protected val maxStepsPerTrigger: Option[Int] = None)
    extends StagedCdcStream {

  import IcebergChangesProvider.{versionLoc, versionOf}
  override protected def stageName: String = "graft-cdc-staged"
  override protected def tagOf(token: String): String =
    versionOf(token).toString
  override protected def computeDiff(from: Option[String],
      to: String): DataFrame =
    IcebergImport.changesBetweenVersions(SparkSession.active, from, to)

  override protected def headToken: String =
    IcebergImport.resolveMetadataLoc(loc)

  /** `maxVersionsPerTrigger` stride: the target metadata version is
    * `fromV + steps`, advanced past expired versions (their changes
    * fold into the next retained version's diff — the net contract
    * makes that exact, not an approximation).
    */
  override protected def boundedHead(from: String, steps: Int): String = {
    val head = headToken
    val headV = versionOf(head)
    val fromV = if (from.isEmpty) 0 else versionOf(from)
    var target = math.min(fromV.toLong + steps, headV.toLong).toInt
    while (target < headV &&
        !IcebergImport.existsAt(versionLoc(head, target)))
      target += 1
    if (target >= headV) head else versionLoc(head, target)
  }

  override protected def mkOffset(token: String): Offset =
    IcebergCdcOffset(token)

  /** Reject an append-mode offset shape loudly: it carries an `idx`
    * into the version's FILE order, meaning the version is only
    * partially consumed — treating it as consumed-through would
    * silently drop the unconsumed remainder when a user flips
    * `cdc=true` on an existing checkpoint.
    */
  private def parseOffset(json: String): String = {
    val m = Json.readAny(json).asInstanceOf[Map[String, Any]]
    require(!m.contains("idx"),
      s"offset $json is an append-mode iceberg-changes offset (partial " +
        "file consumption), not a CDC offset — cdc=true cannot resume an " +
        "append-mode checkpoint; start the CDC stream with a fresh " +
        "checkpointLocation")
    m("meta").asInstanceOf[String]
  }

  override protected def tokenOf(o: Offset): String = o match {
    case c: IcebergCdcOffset => c.meta
    case other => parseOffset(other.json())
  }

  override def initialOffset(): Offset =
    IcebergCdcOffset(if (startFromLatest) headToken else "")

  override def deserializeOffset(json: String): Offset =
    IcebergCdcOffset(parseOffset(json))

  override def toString: String = s"IcebergCdcMicroBatchStream($loc)"
}
