package graft.versioned

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col, count, lit,
  monotonically_increasing_id, regexp_replace, row_number, sum}
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.types._

/** Read an APACHE ICEBERG table (spec v1, v2 or v3) from its metadata
  * JSON — an independent, spec-driven reader: metadata JSON → manifest
  * list → manifests (Avro) → data files minus deletes.
  *
  * Exists for two reasons:
  *  1. external interop — `CALL graft.system.iceberg_import` reads any
  *     engine's Iceberg table into a Spark DataFrame with zero extra
  *     dependencies (no iceberg-runtime on the classpath);
  *  2. round-trip verification — it shares no code with
  *     [[IcebergExport]]'s writer beyond the spec constants, so
  *     export → import equality is a real two-sided check of both the
  *     written layouts and this reader (the closest thing to an
  *     external Iceberg reader available without iceberg-core).
  *
  * Scale shape: planning is O(manifest entries) driver work on Avro —
  * the same planning cost Iceberg's own readers pay before distributing
  * scans. The read itself is ONE parquet scan over all live data files
  * (Catalyst pushes filters/pruning into it as usual); positional
  * deletes apply as a LEFT ANTI join on `(file_path, row position)`
  * against `_metadata.file_path` / `_metadata.row_index` — delete files
  * are tiny relative to data, so AQE broadcasts the delete side and the
  * join costs one scan-side hash probe, no shuffle of the data. This is
  * the declarative Spark expression of Iceberg's per-task
  * positional-delete merge.
  *
  * Reader subset (documented, loud on violation): the current snapshot
  * by default, or any snapshot id present in the metadata (history
  * exports time travel via the `snapshotId` overloads); PARQUET, ORC
  * and AVRO data files (ORC positional deletes via a derived per-file
  * row position — see [[boundOrcScan]]; AVRO through the explicit
  * per-file reader — see [[avroScan]]); positional AND equality
  * delete files in ANY of the three formats (`write.delete.format` —
  * graft's own exporter writes only parquet positional ones, but
  * external CDC writers — Flink upserts — emit equality deletes); v3
  * DELETION VECTORS (Puffin-backed roaring bitmaps, one per data file
  * — see [[dvDeleteRows]]/[[parseDvBlob]]); and
  * NESTED schemas (struct/list/map columns parse recursively; equality
  * deletes may only reference top-level fields). Every file of every
  * format binds its columns by ONE rule, [[bind]] (the spec's column
  * projection): by field id where the file stamps ids, by name only for
  * a column the file stamps no id on — so a column an engine renamed,
  * at the top level or inside a struct, binds by id, and a column
  * stamped with a retired id reads null. Id-less files (every
  * [[IcebergExport]] output, any writer using physical names) bind by
  * name, ignoring case as Spark's resolver does.
  */
object IcebergImport {

  /** A file a manifest names: its location, data sequence number,
    * `file_format`, and the `file_size_in_bytes` every read of it plans
    * from ([[statusesOf]]).
    */
  sealed trait IceFile {
    def path: String
    def seq: Long
    def format: String
    def bytes: Long
  }

  /** One live data file: path + its data sequence number (v1 → 0).
    * `partition` is the manifest's avro-decoded partition record keyed
    * by spec field name (Utf8 pre-lowered to String; logical types stay
    * their physical Integer/Long) — empty under an unpartitioned spec.
    */
  final case class DataFile(path: String, seq: Long, bytes: Long,
      format: String = "PARQUET",
      partition: Map[String, Any] = Map.empty) extends IceFile

  /** One live delete file. `equalityIds` is empty for positional
    * deletes (content=1) and the referenced schema field ids for
    * equality deletes (content=2).
    */
  final case class DeleteFile(path: String, content: Int, seq: Long,
      equalityIds: Seq[Int], bytes: Long, format: String = "PARQUET",
      dv: Option[DvRef] = None) extends IceFile

  /** A v3 DELETION VECTOR's location: a blob inside a Puffin file,
    * scoped to exactly one data file. */
  final case class DvRef(referencedFile: String, offset: Long, length: Long)

  /** A planned read. `fields` is `schema`'s field-id tree ([[Field]]). */
  final case class Plan(
      formatVersion: Int,
      schema: StructType,
      fields: Seq[Field],
      dataFiles: Seq[DataFile],
      deleteFiles: Seq[DeleteFile]) {
    def fieldIdToName: Map[Int, String] =
      fields.flatMap(f => f.id.map(_ -> f.name)).toMap
    def dataPaths: Seq[String] = dataFiles.map(_.path)
    def positionDeletes: Seq[DeleteFile] = deleteFiles.filter(_.content == 1)
    def equalityDeletes: Seq[DeleteFile] = deleteFiles.filter(_.content == 2)
  }

  // ---- location access: plain local paths via java.nio, URIs with a
  // scheme (s3a://, hdfs://, file://) via the Hadoop FileSystem for
  // that scheme — so an import can read a table living in the object
  // store an external engine wrote it to.

  import DestIO.hasScheme
  import IcebergMeta.toLocal

  private def hadoopFs(s: String): org.apache.hadoop.fs.FileSystem = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(s), conf)
  }
  private def readBytesAt(s: String): Array[Byte] =
    if (!hasScheme(s)) Files.readAllBytes(Paths.get(s))
    else scala.util.Using.resource(
      hadoopFs(s).open(new org.apache.hadoop.fs.Path(s)))(in =>
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in))
  private def readStringAt(s: String): String =
    new String(readBytesAt(s), java.nio.charset.StandardCharsets.UTF_8)
  private def isDirAt(s: String): Boolean =
    if (!hasScheme(s)) Files.isDirectory(Paths.get(s))
    else try hadoopFs(s).getFileStatus(
      new org.apache.hadoop.fs.Path(s)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  private[graft] def existsAt(s: String): Boolean =
    if (!hasScheme(s)) Files.exists(Paths.get(s))
    else try { hadoopFs(s).getFileStatus(
      new org.apache.hadoop.fs.Path(s)); true }
    catch { case _: java.io.FileNotFoundException => false }
  private def joinLoc(base: String, child: String): String =
    if (!hasScheme(base)) Paths.get(base).resolve(child).toString
    else base.stripSuffix("/") + "/" + child
  private def nameOf(s: String): String =
    s.stripSuffix("/").substring(s.stripSuffix("/").lastIndexOf('/') + 1)

  /** HadoopCatalog-style discovery: a DIRECTORY (table root or its
    * `metadata/`) resolves through `version-hint.text` to the newest
    * `v<N>.metadata.json`, so re-reading the same dir after a sync-mode
    * re-export sees the new table state; a file path is used as-is.
    */
  def resolveMetadataLoc(p: String): String =
    if (!isDirAt(p)) p
    else {
      val metaDir = if (nameOf(p) == "metadata") p else joinLoc(p, "metadata")
      val hint = joinLoc(metaDir, "version-hint.text")
      if (!existsAt(hint))
        throw new IllegalArgumentException(
          s"$p is a directory but has no metadata/version-hint.text")
      joinLoc(metaDir, s"v${readStringAt(hint).trim}.metadata.json")
    }

  /** Parse metadata JSON + manifests into the current snapshot's plan. */
  def plan(metadataPath: Path): Plan = plan(metadataPath.toString, None)

  def plan(metadataPath: Path, snapshotId: Option[Long]): Plan =
    plan(metadataPath.toString, snapshotId)

  /** Plan a specific snapshot (`snapshotId`), or the current one when
    * None — time travel over a history export's `snapshots` list.
    * `metadataLoc` may be a local path or a URI with a Hadoop scheme.
    */
  def plan(metadataLoc: String, snapshotId: Option[Long]): Plan =
    plan(metadataAt(metadataLoc), snapshotId)

  /** The table-metadata document at `metadataLoc` (a file, or a table
    * directory resolved through its version hint). */
  private[graft] def metadataAt(metadataLoc: String): IcebergMeta.Table =
    IcebergMeta.parse(readStringAt(resolveMetadataLoc(metadataLoc)))

  /** [[plan]] over an already-parsed metadata document. */
  private[graft] def plan(meta: IcebergMeta.Table,
      snapshotId: Option[Long]): Plan =
    snapshotId.orElse(meta.currentSnapshotId) match {
      case None => emptyPlan(meta)
      case Some(id) =>
        val (data, deletes) =
          filesOfManifestList(meta.snapshot(id).manifestList, meta.formatVersion)
        emptyPlan(meta).copy(dataFiles = data, deleteFiles = deletes)
    }

  /** A file-less plan under the table's current schema. */
  private def emptyPlan(meta: IcebergMeta.Table): Plan = {
    val s = meta.currentSchema
    Plan(meta.formatVersion, structOf(s.node), fieldsOf(s.node), Nil, Nil)
  }

  /** The manifests a manifest list names, with their bytes. */
  private def manifestsOf(listLoc: String)
      : Seq[(IcebergMeta.ManifestFile, () => Array[Byte])] =
    IcebergMeta.manifestFiles(readBytesAt(toLocal(listLoc)))
      .map(m => m -> (() => readBytesAt(toLocal(m.path))))

  /** Live file sets reachable from one manifest list (the per-snapshot
    * entry point plan() walks; also the unit a REST commit posts via its
    * add-snapshot update). `v` gates format-version-specific shapes
    * (PUFFIN deletion vectors are v3-only).
    */
  private[graft] def filesOfManifestList(listLoc: String,
      v: Int): (Seq[DataFile], Seq[DeleteFile]) = {
    val data = Seq.newBuilder[DataFile]
    val deletes = Seq.newBuilder[DeleteFile]
    manifestsOf(listLoc).foreach { case (m, bytes) =>
      IcebergMeta.entries(bytes(), m).filterNot(_.deleted).foreach {
        _.file(v) match {
          case d: DataFile =>
            require(m.content == 0, s"data file ${d.path} in a delete manifest")
            data += d
          case d: DeleteFile => deletes += d
        }
      }
    }
    (data.result(), deletes.result())
  }

  /** Inverse of the exporter's manifest partition-value encoding
    * ([[IcebergMeta.partitionCodec]]): one avro-decoded manifest
    * partition value → the directory string [[Partitioning]] records in
    * `FileEntry.partitionValues`. This is what lets an EXTERNAL
    * engine's commit land on a partitioned graft table with working
    * partition pruning: the engine declares each file's partition tuple
    * in its manifest (the Iceberg trust model — same as any Iceberg
    * catalog), and graft re-renders it in its own canonical directory
    * form. Loud on value shapes graft itself never writes
    * (identity on float/double stays refused both ways). Exactness is
    * spec-proven by round-trip: export a partitioned graft table, parse
    * its manifests back through [[filesOfManifestList]], and this
    * function must reproduce `FileEntry.partitionValues` bit-for-bit
    * (IcebergImportSpec).
    */
  private[graft] def rawPartitionValue(pf: PartitionField,
      srcType: DataType, v: Any): String =
    if (v == null) Partitioning.NullMarker
    else IcebergMeta.partitionCodec(pf, srcType).getOrElse(
      throw new UnsupportedOperationException(
        s"${pf.transform} partition value on ${srcType.simpleString}"))
      .fromManifest(v)

  /** Incremental APPEND scan plan — the data files ADDED by each
    * snapshot in `(fromId, toId]` along the parent-snapshot chain (the
    * consumer-side analog of Iceberg's own IncrementalAppendScan, e.g.
    * Spark's `start-snapshot-id`/`end-snapshot-id` read options).
    * `fromId` None ⇒ from the beginning of history; `toId` None ⇒ the
    * current snapshot.
    *
    * Contract, loud on violation: snapshots whose summary operation is
    * `replace` (compaction — rewrites, no new rows) are skipped;
    * `overwrite`/`delete` snapshots REFUSE — an append-only consumer
    * crossing one would silently miss row deletions. Ancestor deletes
    * never apply to the added files (their data sequence numbers exceed
    * any older delete's), so the plan carries no delete files. Added
    * attribution follows the spec: manifests whose `added_snapshot_id`
    * is the snapshot, entries with ADDED status whose (explicit or
    * list-row-inherited) snapshot id matches — reused content-addressed
    * manifests in later snapshots therefore do NOT re-surface their
    * files.
    */
  def changesPlan(metadataLoc: String, fromId: Option[Long],
      toId: Option[Long]): Plan = {
    val meta = metadataAt(metadataLoc)
    val headId = toId.orElse(meta.currentSnapshotId)
    if (headId.isEmpty) return emptyPlan(meta)
    def nodeOpt(id: Long) = meta.snapshots.find(_.id == id)

    // parent walk newest → oldest, stopping AT fromId (exclusive). A
    // parent id that is no longer in `snapshots` marks the expiration
    // boundary (expireSnapshots never rewrites the oldest retained
    // snapshot's parent pointer) — crossing it means the range's appends
    // are not reconstructible, which REFUSES with the retention story
    // spelled out rather than a bare "not in snapshots" crash.
    val range = scala.collection.mutable.ListBuffer.empty[IcebergMeta.Snapshot]
    var cur: Option[IcebergMeta.Snapshot] = Some(meta.snapshot(headId.get))
    var expiredParent: Option[Long] = None
    while (cur.isDefined && !fromId.contains(cur.get.id)) {
      range += cur.get
      val pid = cur.get.parentId
      cur = pid.flatMap(nodeOpt)
      if (pid.isDefined && cur.isEmpty) expiredParent = pid
    }
    if (cur.isEmpty && expiredParent.isDefined) {
      val oldest = range.last.id
      throw new IllegalArgumentException(fromId match {
        case Some(f) =>
          s"snapshot $f is not a RETAINED ancestor of ${headId.get} — " +
            s"history before snapshot $oldest was expired (parent " +
            s"${expiredParent.get} is gone); the appends since $f cannot " +
            "be reconstructed. Read the full snapshot (iceberg_import) " +
            s"instead, or scan the retained range with from_snapshot=$oldest"
        case None =>
          s"history before snapshot $oldest was expired (parent " +
            s"${expiredParent.get} is gone), so an appends-since-beginning " +
            "scan cannot be reconstructed. Read the full snapshot " +
            "(iceberg_import) instead, or pass " +
            s"from_snapshot=$oldest for the retained range"
      })
    }
    if (fromId.isDefined && cur.isEmpty)
      throw new IllegalArgumentException(
        s"snapshot ${fromId.get} is not an ancestor of ${headId.get}")

    val data = Seq.newBuilder[DataFile]
    range.toSeq.reverse.foreach { s => // oldest → newest
      val sid = s.id
      operationOf(s) match {
        case "replace" => () // compaction: rewritten rows, nothing new
        case "append" =>
          manifestsOf(s.manifestList).foreach { case (m, bytes) =>
            // added_snapshot_id is REQUIRED by the spec (v1 and v2): a
            // manifest-list row without it cannot be attributed, and
            // defaulting it would silently drop that manifest's appends
            // from the incremental plan (a CDC consumer reading zero
            // rows for the batch, no error) — refuse loudly instead,
            // like every other unprovable shape here
            val addedBy = m.addedSnapshotId.getOrElse(
              throw new UnsupportedOperationException(
                s"manifest-list row of snapshot $sid carries no " +
                  "added_snapshot_id — appends cannot be attributed " +
                  "to snapshots; read via CALL iceberg_import instead"))
            if (m.content == 0 && addedBy == sid)
              IcebergMeta.entries(bytes(), m)
                .filter(e => e.added && e.snapshotId.contains(sid))
                .foreach {
                  _.file(meta.formatVersion) match {
                    case d: DataFile => data += d
                    case d: DeleteFile => throw new IllegalArgumentException(
                      s"delete file ${d.path} in a data manifest")
                  }
                }
          }
        case other => throw new UnsupportedOperationException(
          s"incremental append scan crossed a '$other' snapshot ($sid) — " +
            "rows were deleted or overwritten in the range; read full " +
            "snapshots and diff instead")
      }
    }
    emptyPlan(meta).copy(dataFiles = data.result())
  }

  /** A snapshot's summary operation. `summary` (and its operation) is
    * OPTIONAL in v1 metadata — a summary-less snapshot might have deleted
    * rows, so defaulting it to "append" would silently miss deletions.
    * Append-only is proven from the manifest list instead (no delete
    * manifests, no DELETED-status data entries); a failed proof reads as
    * an operation no append-only consumer accepts.
    */
  private[graft] def operationOf(s: IcebergMeta.Snapshot): String =
    s.operation.getOrElse(
      if (provablyAppendOnly(s.manifestList)) "append"
      else "summary-less (and not provably append-only)")

  /** True when the snapshot behind this manifest list removed live DATA
    * files (DELETED-status entries in a data manifest) — i.e. rows were
    * rewritten or deleted copy-on-write. Adding delete files does NOT
    * count (that is the MoR shape, governed separately by delete-file
    * presence). Checked from the list's `deleted_(data_)files_count`
    * when present, by an entry-status scan otherwise.
    */
  private[graft] def removedDataFiles(manifestListLoc: String): Boolean =
    manifestsOf(manifestListLoc).exists(m => manifestRemovesData(m).contains(true))

  /** Append-only proof for a summary-less snapshot: its manifest list
    * has no delete manifests (content != 0) and no manifest that removed
    * data files. Sound: an append never produces DELETED entries or
    * delete files; any rewrite/delete does.
    */
  private def provablyAppendOnly(manifestListLoc: String): Boolean =
    manifestsOf(manifestListLoc).forall(m => manifestRemovesData(m).contains(false))

  /** Does this manifest-list row's DATA manifest remove live files?
    * None for a delete manifest (content != 0 — the MoR shape, governed
    * separately). Checked from the spec's optional
    * `deleted_(data_)files_count` when present, by an explicit
    * entry-status scan of the manifest otherwise — the ONE probe behind
    * both [[removedDataFiles]] (∃ true) and [[provablyAppendOnly]]
    * (∀ false: no removals AND no delete manifests), so the two
    * classifiers can never drift on count-field handling.
    */
  private def manifestRemovesData(
      mb: (IcebergMeta.ManifestFile, () => Array[Byte])): Option[Boolean] = {
    val (m, bytes) = mb
    if (m.content != 0) None
    else Some(m.deletedFiles match {
      case Some(c) => c > 0
      case None => IcebergMeta.entries(bytes(), m).exists(_.deleted)
    })
  }

  /** The rows APPENDED between two snapshots as a DataFrame (see
    * [[changesPlan]] for the contract). One distributed scan over the
    * added files only — O(changed data), never a re-read of the table.
    */
  def readChanges(spark: SparkSession, metadataLoc: String,
      fromId: Option[Long], toId: Option[Long]): DataFrame =
    readPlan(spark, changesPlan(metadataLoc, fromId, toId))

  /** Row-level CHANGES between two metadata VERSIONS of an external
    * Iceberg table, as `table schema + _change_type` ('insert' |
    * 'delete') — the consumer-side analog of graft's own
    * `TableOps.changesBetween`, with the same net-change contract:
    * only files whose VISIBILITY differs between the versions are read
    * (added/removed data files, or files whose applicable delete set
    * changed), each side's visible rows apply that side's deletes, and
    * the sides cancel through exceptAll. So a compaction (or any
    * rewrite preserving logical rows) nets to ZERO changes, a MoR
    * delete nets to exactly the deleted rows as retractions, and a CoW
    * update nets to the modified rows only. This is TOTAL over snapshot
    * shapes — unlike the append-only [[changesPlan]], nothing refuses —
    * at the cost of reading both sides of every changed file.
    *
    * Delete applicability is judged conservatively from manifests alone
    * (DV: referenced file; positional: data seq at-or-older; equality:
    * strictly older) — an over-match only reads a file on both sides
    * and cancels, never changes the result. Cost: O(changed files +
    * their applicable deletes), never a full re-read of the table.
    *
    * `fromMetaLoc` None ⇒ every live row at `toMetaLoc` is an insert
    * (the initial CDC batch).
    */
  def changesBetweenVersions(spark: SparkSession,
      fromMetaLoc: Option[String], toMetaLoc: String): DataFrame = {
    val planB = plan(toMetaLoc, None)
    val planA = fromMetaLoc.map(plan(_, None))
    planA.foreach { a =>
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      if (shape(a.schema) != shape(planB.schema))
        throw new UnsupportedOperationException(
          s"CDC between versions with different schemas " +
            s"(${fromMetaLoc.get} vs $toMetaLoc); diff in two steps at " +
            "the evolution boundary")
    }
    def sig(p: Plan): Map[String, Seq[String]] =
      p.dataFiles.map(f => f.path -> p.deleteFiles.filter(d => d.dv match {
        case Some(r) => r.referencedFile == f.path
        case None => if (d.content == 1) d.seq >= f.seq else d.seq > f.seq
      }).map(_.path).sorted).toMap
    val sigA = planA.map(sig).getOrElse(Map.empty[String, Seq[String]])
    val sigB = sig(planB)
    val changedA = planA.map(_.dataFiles.filter(f =>
      !sigB.get(f.path).contains(sigA(f.path)))).getOrElse(Nil)
    val changedB = planB.dataFiles.filter(f =>
      !sigA.get(f.path).contains(sigB(f.path)))
    val visA = planA match {
      case Some(a) => readPlan(spark, a.copy(dataFiles = changedA))
      case None => readPlan(spark, planB.copy(dataFiles = Nil))
    }
    val visB = readPlan(spark, planB.copy(dataFiles = changedB))
    // net changes in ONE aggregation pass (TableOps.netDiff) — the
    // exceptAll pair read both changed-file sets twice, shuffled twice
    TableOps.netDiff(visB, visA, "_change_type", "insert", "delete")
  }

  /** The table's current snapshot as a DataFrame (schema order/types per
    * the Iceberg schema, positional AND equality deletes applied with
    * the spec's sequence-number semantics: a positional delete masks
    * rows of the file it names; an equality delete masks matching rows
    * in data files with a STRICTLY LOWER data sequence number).
    */
  def read(spark: SparkSession, metadataPath: Path): DataFrame =
    read(spark, metadataPath.toString, None)

  def read(spark: SparkSession, metadataPath: Path,
      snapshotId: Option[Long]): DataFrame =
    read(spark, metadataPath.toString, snapshotId)

  /** Read a specific snapshot of a history export (None = current).
    * `metadataLoc` may be a local path or a Hadoop-scheme URI.
    */
  def read(spark: SparkSession, metadataLoc: String,
      snapshotId: Option[Long]): DataFrame =
    readPlan(spark, plan(metadataLoc, snapshotId))

  /** The distributed read of an already-planned file set (shared by
    * [[read]] and [[readChanges]]; `private[graft]` so callers that
    * already hold a Plan — e.g. the CALL procedures, which report plan
    * file counts — don't re-walk the metadata/manifest tree to read it).
    */
  private[graft] def readPlan(spark: SparkSession, p: Plan): DataFrame = {
    val outCols = p.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    if (p.dataFiles.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), p.schema)
    var data = boundScan(spark, p, p.positionDeletes.nonEmpty)
    // (canonical path → data sequence number) of `files`, to broadcast
    def seqs(files: Seq[IceFile], pathCol: String, seqCol: String) =
      broadcast(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](files.map(f =>
          org.apache.spark.sql.Row(normStr(f.path), f.seq)).asJava),
        StructType(Seq(StructField(pathCol, StringType),
          StructField(seqCol, LongType)))))

    val anyDeletes = p.positionDeletes.nonEmpty || p.equalityDeletes.nonEmpty
    if (anyDeletes) {
      // data sequence number via a broadcast (path → seq) lookup — both
      // delete kinds compare against it: positional at `<=`, equality
      // strictly `<` (the spec's applicability rules), so rows from
      // files newer than the delete survive even when they match
      data = data.join(seqs(p.dataFiles, "__ice_seq_path", "__ice_seq"),
        col("__ice_fp") === col("__ice_seq_path"), "left")
        .drop("__ice_seq_path")
    }

    if (p.positionDeletes.nonEmpty) {
      val (dvs, fileDeletes) = p.positionDeletes.partition(_.dv.isDefined)
      // delete files come in any of the three data formats
      // (`write.delete.format`; the spec fixes their schema and ids).
      // Each row is stamped with ITS OWN file's sequence number (delete
      // manifests carry the seq, the rows don't): an external v2 table
      // that drops a data file and later re-adds the same path must not
      // see stale position deletes re-applied to the new file
      val fileDelRows =
        if (fileDeletes.isEmpty) None
        else Some(fileRows(spark, fileDeletes, PosDeleteSchema, PosDeleteIds)
          .join(seqs(fileDeletes, "__ice_del_src", "__ice_del_seq"),
            col("__ice_fp") === col("__ice_del_src"))
          .select(normPath(col("file_path")).as("__ice_del_path"),
            col("pos").as("__ice_del_pos"), col("__ice_del_seq")))
      // v3 deletion vectors: each DV's roaring bitmap expands into
      // (referenced file, position) rows IN EXECUTORS — one task per
      // DV, no driver-side materialization of potentially-millions of
      // positions; the seq rides the task payload (no lookup join)
      val dvRows =
        if (dvs.isEmpty) None
        else Some(dvDeleteRows(spark, dvs))
      val del = (fileDelRows ++ dvRows).reduce(_ unionByName _)
      data = data
        .withColumn("__ice_pos", col("__ice_ri"))
        .join(del, col("__ice_fp") === col("__ice_del_path") &&
          col("__ice_pos") === col("__ice_del_pos") &&
          col("__ice_seq") <= col("__ice_del_seq"), "left_anti")
        .drop("__ice_pos")
    }

    if (p.equalityDeletes.nonEmpty) {
      // one anti-join per (column set, sequence) group; external writers
      // produce few groups (typically one flink/CDC writer per schema)
      p.equalityDeletes.groupBy(d => (d.equalityIds, d.seq)).toSeq
        .sortBy { case ((ids, seq), _) => (ids.mkString(","), seq) }
        .foreach { case ((ids, seq), files) =>
          val cols = ids.map(id => p.fieldIdToName.getOrElse(id,
            throw new IllegalArgumentException(
              s"equality_ids references unknown field id $id")))
          val eqSchema = StructType(cols.map(c =>
            p.schema.fields.find(_.name == c).getOrElse(
              throw new IllegalArgumentException(
                s"equality column $c missing from the table schema"))))
          val del = fileRows(spark, files, eqSchema, cols.zip(ids).toMap)
            .select(cols.map(c => col(c).as(s"__ice_eq_$c")): _*)
            .distinct()
          // null-safe equality per the spec (a null in the delete row
          // matches a null in the data row)
          val cond = cols.map(c => col(c) <=> col(s"__ice_eq_$c"))
            .reduce(_ && _) && col("__ice_seq") < lit(seq)
          data = data.join(del, cond, "left_anti")
        }
      data = data.drop("__ice_seq")
    }
    data.select(outCols.toSeq: _*)
  }

  /** Data scan with the spec's column-binding rules, emitting the
    * Iceberg-named data columns plus `__ice_fp` / `__ice_ri` (canonical
    * [[normStr]] file path / row position, for delete application;
    * `__ice_ri` is null
    * for ORC rows when no positional deletes need it — see
    * [[boundOrcScan]] for the ORC position derivation).
    *
    * Every file binds its columns through [[bind]] against its own
    * footer (parquet field ids, ORC `iceberg.id` attributes, avro
    * `field-id` props — external Iceberg engines stamp them): a column
    * an engine renamed binds by ID instead of null-filling under its
    * old name, and one stamped with a retired id reads null. Footer
    * probing is driver-side O(files) for every table, id-less ones
    * included (every graft export): each parquet/ORC file's footer is
    * opened once at its manifest length, in parallel — the cost
    * Iceberg's own per-task footer opens pay at execution instead (see
    * [[formatScan]] for why no file is skipped).
    *
    * EXPLICIT schema, never footer inference — after additive schema
    * evolution a snapshot legitimately mixes files with and without
    * the newer columns, and inference would bind to one arbitrary
    * file's footer. Absent column → null.
    */
  private def boundScan(spark: SparkSession, p: Plan,
      needPositions: Boolean): DataFrame =
    p.dataFiles.groupBy(_.format).toSeq.sortBy(_._1).map {
      case ("ORC", fs) => boundOrcScan(spark, p, fs, needPositions)
      case ("AVRO", fs) => avroScan(spark, fs, p.schema, p.fields)
      case (_, fs) => formatScan(spark, fs, p.schema, p.fields,
        Seq(filePath, col("_metadata.row_index").as("__ice_ri")),
        deleteFile = false)
    }.reduce(_ unionByName _)

  /** The `__ice_fp` column of a native (parquet/ORC) read: Spark renders
    * local paths `file:/…`, manifests `file:///…` — one [[normStr]] form
    * for every comparison. */
  private def filePath: Column =
    normPath(col("_metadata.file_path")).as("__ice_fp")

  /** The spec's positional delete rows: fixed schema, reserved ids. */
  private[graft] val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))
  private[graft] val PosDeleteIds =
    Map("file_path" -> 2147483546, "pos" -> 2147483545)

  /** Rows of foreign delete files in any mix of the three formats — the
    * one PARQUET/ORC/AVRO dispatch of the delete-file reads: `schema`
    * columns (top-level, with the field ids `nameToId` gives them),
    * bound through [[bind]] like the data scan, plus `__ice_fp`, the
    * row's file in the canonical [[normStr]] form. A delete file that
    * carries a `schema` column neither by id nor by name refuses: read
    * as nulls, its rows would delete the wrong data rows. Callers keep
    * only their own `select`.
    */
  private[graft] def fileRows(spark: SparkSession, files: Seq[IceFile],
      schema: StructType, nameToId: Map[String, Int]): DataFrame = {
    val fields = schema.fieldNames.toSeq.map(n => Field(n, nameToId.get(n)))
    files.groupBy(_.format).toSeq.sortBy(_._1).map {
      case ("AVRO", fs) =>
        avroScan(spark, fs, schema, fields, deleteFile = true)
          .drop("__ice_ri")
      case (_, fs) =>
        formatScan(spark, fs, schema, fields, Seq(filePath), deleteFile = true)
    }.reduce(_ unionByName _)
  }

  /** Spark's native read of PARQUET or ORC files (one format per call)
    * under `schema`, through the index seeded from [[statusesOf]].
    */
  private def frameOf(spark: SparkSession, files: Seq[IceFile],
      schema: StructType): DataFrame =
    ParquetReadBridge.frame(spark, statusesOf(files), schema,
      if (files.head.format == "ORC") new OrcFileFormat
      else new ParquetFileFormat)

  /** The Hadoop statuses every parquet/ORC foreign read plans from:
    * each file at its manifest `file_size_in_bytes` (the length
    * Iceberg's own readers open it at), so no read lists, globs or
    * stats storage.
    */
  private[graft] def statusesOf(files: Seq[IceFile]): Seq[FileStatus] =
    files.map(f => new FileStatus(f.bytes, false, 0, 0L, 0L, hadoopPath(f.path)))

  /** A plan location as a Hadoop path: URIs as-is, local paths as
    * `file:` URIs (built without touching the file, unlike `File.toURI`). */
  private def hadoopPath(s: String): org.apache.hadoop.fs.Path =
    if (hasScheme(s)) new org.apache.hadoop.fs.Path(s)
    else new org.apache.hadoop.fs.Path("file", null,
      new java.io.File(s).getAbsolutePath)

  /** [[hadoopPath]] as the URI string a task rebuilds it from
    * (`new Path(URI)`, which decodes nothing twice). */
  private def uriOf(s: String): String = hadoopPath(s).toUri.toString

  /** AVRO data or delete files (iceberg-core's third data format;
    * Flink/CDC writers emit them). This Spark build ships no Avro file
    * source, so the scan is an explicit per-file distributed read: one
    * task opens its file through the Hadoop FS (conf rebuilt from a
    * broadcast key-value snapshot of the session's), binds the writer
    * schema ([[avroFields]]) through [[bind]], streams GenericRecords
    * through avro's DataFileReader and converts each value by its
    * physical type ([[physical]], [[avroValue]]) into the table
    * schema's row positions. Emits `schema` columns + `__ice_fp`
    * (canonical file path) + `__ice_ri` (exact row position in file
    * order — the task counts records, so positional deletes need no
    * derivation, cf. the ORC path). A `deleteFile` lacking a `schema`
    * column refuses (see [[fileRows]]). Files are deliberately not
    * split: an avro split cannot know its global row offset without
    * reading every prior block header, so it is one task per file —
    * the same per-file task shape Iceberg's own avro readers use.
    */
  private def avroScan(spark: SparkSession, files: Seq[IceFile],
      schema: StructType, fields: Seq[Field],
      deleteFile: Boolean = false): DataFrame = {
    val bc = broadcastHadoopConf(spark)
    // each row keyed like the joins key it (normStr of the plan path),
    // the file opened from its URI: apart, so neither form is re-encoded
    val located = files.map(f => (normStr(f.path), uriOf(f.path)))
    val rdd = spark.sparkContext
      .parallelize(located, located.size)
      .flatMap { case (path, uri) =>
        val rd = new DataFileReader[GenericRecord](
          new org.apache.avro.mapred.FsInput(
            new org.apache.hadoop.fs.Path(java.net.URI.create(uri)),
            rebuildHadoopConf(bc.value)),
          new GenericDatumReader[GenericRecord]())
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ =>
            try rd.close() catch { case _: Exception => () }))
        val bound = bind(fields, avroFields(rd.getSchema), path)
        if (deleteFile) requireAll(path, schema, bound)
        val phys = physical(schema, bound)
        var i = -1L
        rd.iterator().asScala.map { rec =>
          i += 1
          org.apache.spark.sql.Row.fromSeq(
            phys.fields.toSeq.map(f => avroValue(rec, f)) :+ path :+ i)
        }
      }
    spark.createDataFrame(rdd, StructType(schema.fields.toSeq :+
      StructField("__ice_fp", StringType) :+
      StructField("__ice_ri", LongType)))
  }

  /** v3 deletion vectors → delete rows `(__ice_del_path, __ice_del_pos,
    * __ice_del_seq)`. One task per DV reads its blob slice from the
    * Puffin file through the Hadoop FS and expands the 64-bit roaring
    * bitmap ([[parseDvBlob]]); the referenced path is canonicalized
    * while planning, before any task runs (the same [[normStr]] form the
    * data scan's `__ice_fp` carries), so the anti-join keys match
    * without re-normalization.
    */
  private def dvDeleteRows(spark: SparkSession,
      dvs: Seq[DeleteFile]): DataFrame = {
    val bc = broadcastHadoopConf(spark)
    val payload = dvs.map { d =>
      val r = d.dv.get
      (normStr(r.referencedFile), uriOf(d.path), r.offset, r.length, d.seq)
    }
    val rdd = spark.sparkContext.parallelize(payload, payload.size)
      .flatMap { case (ref, puffin, off, len, seq) =>
        val conf = rebuildHadoopConf(bc.value)
        val hp = new org.apache.hadoop.fs.Path(java.net.URI.create(puffin))
        val fs = hp.getFileSystem(conf)
        val bytes = new Array[Byte](len.toInt)
        scala.util.Using.resource(fs.open(hp)) { in =>
          in.seek(off); in.readFully(bytes)
        }
        parseDvBlob(bytes, puffin).map(pos =>
          org.apache.spark.sql.Row(ref, pos, seq))
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("__ice_del_path", StringType),
      StructField("__ice_del_pos", LongType),
      StructField("__ice_del_seq", LongType))))
  }

  /** Decode one v3 deletion-vector blob into sorted row positions.
    * Layout per the Iceberg v3 spec: 4-byte BIG-endian length of
    * (magic + vector), the magic bytes D1 D3 39 64, the vector — the
    * 64-bit roaring bitmap "portable" serialization: 8-byte LE bitmap
    * count, then per bitmap a 4-byte LE high-32 key + a standard
    * 32-bit roaring serialization — and a 4-byte BIG-endian CRC-32 of
    * (magic + vector). Malformed blobs refuse loudly (a truncated or
    * mis-offset read must never silently delete the wrong rows).
    */
  private[graft] def parseDvBlob(bytes: Array[Byte],
      src: String): Seq[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bytes.length >= 12, s"deletion vector blob too short ($src)")
    val innerLen = bb.getInt // big-endian
    require(innerLen >= 4 && innerLen <= bytes.length - 8,
      s"deletion vector length $innerLen inconsistent with blob " +
        s"${bytes.length} ($src)")
    val magic = Array(bb.get(), bb.get(), bb.get(), bb.get())
    require(magic.map(_ & 0xff).toSeq == Seq(0xd1, 0xd3, 0x39, 0x64),
      s"bad deletion vector magic ($src)")
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, 4, innerLen)
    val stored = java.nio.ByteBuffer.wrap(bytes, 4 + innerLen, 4).getInt
    require(stored == crc.getValue.toInt,
      s"deletion vector CRC mismatch ($src)")
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes, 8, innerLen - 4))
    def leInt(): Int = java.lang.Integer.reverseBytes(in.readInt())
    def leLong(): Long = java.lang.Long.reverseBytes(in.readLong())
    val nBitmaps = leLong()
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue,
      s"deletion vector bitmap count $nBitmaps ($src)")
    val out = Seq.newBuilder[Long]
    (0L until nBitmaps).foreach { _ =>
      val key = leInt().toLong & 0xffffffffL
      val rb = new org.roaringbitmap.RoaringBitmap()
      rb.deserialize(in)
      val it = rb.getIntIterator
      while (it.hasNext) out += (key << 32) | (it.next().toLong & 0xffffffffL)
    }
    out.result()
  }

  /** An avro record's fields as [[bind]] sees them (iceberg-avro stamps
    * `field-id` as a NUMERIC json prop — read via getObjectProp, getProp
    * is textual-only). */
  private[versioned] def avroFields(s: org.apache.avro.Schema): Seq[Field] = {
    import org.apache.avro.Schema.Type._
    s.getType match {
      case RECORD => s.getFields.asScala.toSeq.map(f =>
        Field(f.name(), Option(f.getObjectProp("field-id")).flatMap {
          case n: Number => Some(n.intValue())
          case s: String => scala.util.Try(s.trim.toInt).toOption
          case _ => None
        }, avroFields(f.schema())))
      case UNION =>
        s.getTypes.asScala.find(_.getType != NULL).toSeq.flatMap(avroFields)
      case _ => Nil
    }
  }

  /** `rec`'s value of the field `f` names, null when the record has no
    * such field. */
  private def avroValue(rec: GenericRecord, f: StructField): Any =
    Option(rec.getSchema.getField(f.name))
      .map(_ => avroValue(rec.get(f.name), f.dataType)).orNull

  /** One avro datum → the Spark-external value for `dt` (recursive).
    * Covers the Iceberg avro encodings: micros timestamps, epoch-day
    * dates, unscaled-big-endian decimals (bytes or fixed), string maps
    * AND the k/v-record-list encoding for non-string keys.
    */
  private[versioned] def avroValue(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case IntegerType => v.asInstanceOf[Number].intValue()
      case LongType => v.asInstanceOf[Number].longValue()
      case FloatType => v.asInstanceOf[Number].floatValue()
      case DoubleType => v.asInstanceOf[Number].doubleValue()
      case BooleanType => v
      case StringType => v.toString
      case BinaryType => avroBytes(v)
      case d: DecimalType => new java.math.BigDecimal(
        new java.math.BigInteger(avroBytes(v)), d.scale)
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue())
      case TimestampType =>
        val us = v.asInstanceOf[Number].longValue()
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      case TimestampNTZType =>
        val us = v.asInstanceOf[Number].longValue()
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case st: StructType =>
        val rec = v.asInstanceOf[GenericRecord]
        org.apache.spark.sql.Row.fromSeq(st.fields.toSeq.map(avroValue(rec, _)))
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.Collection[_]].asScala
          .map(avroValue(_, et)).toSeq
      case MapType(kt, vt, _) => v match {
        case m: java.util.Map[_, _] => m.asScala.map { case (k, mv) =>
          avroValue(k, kt) -> avroValue(mv, vt) }.toMap
        case c: java.util.Collection[_] => c.asScala.map {
          case r: GenericRecord =>
            avroValue(r.get("key"), kt) -> avroValue(r.get("value"), vt)
        }.toMap
        case other => throw new UnsupportedOperationException(
          s"unsupported avro map encoding: ${other.getClass}")
      }
      case other => throw new UnsupportedOperationException(
        s"unsupported Spark type for avro import: $other")
    }

  private def avroBytes(v: Any): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case f: org.apache.avro.generic.GenericFixed => f.bytes().clone()
    case a: Array[Byte] => a
    case other => throw new UnsupportedOperationException(
      s"unsupported avro binary encoding: ${other.getClass}")
  }

  /** ORC data files (Hive-lineage shops; iceberg-core writes ORC too),
    * bound like parquet ([[formatScan]]; iceberg-orc stamps field ids as
    * the ORC type attribute `iceberg.id`, see [[orcFooter]]).
    *
    * Spark's ORC `_metadata` struct has NO `row_index` (parquet-only in
    * this build), so when positional deletes are in the snapshot the
    * per-file row position is DERIVED: `file_block_start` identifies
    * each file split, a count-only second scan (column-pruned to the
    * meta struct — stripe-metadata cheap) sizes every split, a running
    * sum over splits of one file yields each split's starting row
    * offset (O(splits) rows, broadcast back), and
    * `row_number() OVER (PARTITION BY file, split ORDER BY
    * monotonically_increasing_id)` indexes rows WITHIN a split — valid
    * because one split is read by exactly one task in file order, so
    * monotonic ids ascend with row position there. Costs one extra
    * count pass + one window shuffle over the ORC rows ONLY when the
    * snapshot actually carries positional deletes; clean/equality-only
    * snapshots stay a single scan.
    */
  private def boundOrcScan(spark: SparkSession, p: Plan,
      files: Seq[DataFile], needPositions: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val metaCols =
      if (needPositions)
        Seq(filePath, col("_metadata.file_block_start").as("__ice_bs"),
          monotonically_increasing_id().as("__ice_mono"))
      else Seq(filePath, lit(null).cast(LongType).as("__ice_ri"))
    val base = formatScan(spark, files, p.schema, p.fields, metaCols,
      deleteFile = false)
    if (!needPositions) base
    else {
      // counts come from BASE ITSELF, never a separate scan: split
      // boundaries depend on the scanned file SET (bytes-per-core term
      // of maxSplitBytes), so a second all-files scan could split
      // differently from the per-id-group scans inside base and the
      // (file, block_start) join keys would not line up — dropping rows
      // or mis-offsetting positions. Recomputing base's subtree re-plans
      // the same per-group scans over the same file sets: identical keys
      // by construction (projection does not affect split sizing).
      val counts = base.groupBy("__ice_fp", "__ice_bs")
        .agg(count(lit(1)).as("__ice_n"))
      val offsets = counts.withColumn("__ice_off",
        sum("__ice_n").over(
          Window.partitionBy("__ice_fp").orderBy("__ice_bs"))
          - col("__ice_n")).drop("__ice_n")
      base.join(broadcast(offsets), Seq("__ice_fp", "__ice_bs"))
        .withColumn("__ice_ri", col("__ice_off")
          + row_number().over(Window.partitionBy("__ice_fp", "__ice_bs")
            .orderBy("__ice_mono")) - 1)
        .drop("__ice_bs", "__ice_mono", "__ice_off")
    }
  }

  /** One format's (parquet or ORC) files, emitting `schema` columns +
    * `metaCols`: each file's footer ([[parquetFooter]], [[orcFooter]])
    * binds through [[bind]]; files are grouped by the resulting
    * [[physical]] schema, each group is scanned under it and cast back
    * to the schema's names. A `deleteFile` lacking a column refuses (see
    * [[fileRows]]). See [[boundScan]]'s Scaladoc for why a file is never
    * read by footer inference.
    */
  private def formatScan(spark: SparkSession, files: Seq[IceFile],
      schema: StructType, fields: Seq[Field], metaCols: Seq[Column],
      deleteFile: Boolean): DataFrame = {
    val footer: IceFile => Seq[Field] =
      if (files.head.format == "ORC") orcFooter(spark, _)
      else parquetFooter(spark, _)
    // probe EVERY file (parallel footer reads), never just the head: a
    // migrated table mixes id-less files (name-mapping writers) with
    // id-stamped ones (Iceberg engines), and if the head happened to be
    // id-less, binding ALL files by name would silently null-fill any
    // column an engine renamed in the id-stamped files — an outcome
    // that flipped with manifest ordering
    Manifests.fanOut(files, 2) { f =>
      val bound = bind(fields, footer(f), f.path)
      if (deleteFile) requireAll(f.path, schema, bound)
      (physical(schema, bound), f)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .sortBy(_._2.head.path)
      .map { case (phys, fs) =>
        frameOf(spark, fs, phys).select(phys.fields.toSeq.zip(schema.fields)
          .map { case (pf, f) => col(pf.name).cast(f.dataType).as(f.name) }
          ++ metaCols: _*)
      }.reduce(_ unionByName _)
  }

  /** One column of a table schema or of a file's footer: its name, the
    * field id stamped on it (a table schema stamps every one; a footer
    * may stamp all, some or none) and, for a struct, its fields. */
  final case class Field(name: String, id: Option[Int],
      fields: Seq[Field] = Nil)

  /** Where one schema column reads from in one file: the physical
    * column's name and, for a struct, where each field reads from
    * (None: absent, reads null). */
  private[versioned] final case class Bound(name: String,
      fields: Seq[Option[Bound]])

  /** THE column binding of foreign Iceberg files, every format — the
    * spec's column projection: a `schema` column reads the `file`
    * column stamped with its field id; a file column stamped with ANY
    * id never binds by name (so a column dropped and re-added under a
    * fresh id reads null in files holding the retired id); only a file
    * column with no id binds by name (name mapping), ignoring case as
    * Spark's default resolver does ([[byName]]). Struct fields bind
    * by the same rule, recursively; structs inside lists and maps bind
    * by name. Two columns bound to physical names Spark's readers
    * cannot tell apart (equal ignoring case) refuse rather than
    * mis-bind.
    */
  private[versioned] def bind(schema: Seq[Field], file: Seq[Field],
      path: String): Seq[Option[Bound]] = {
    val bound = schema.map { s =>
      s.id.flatMap(id => file.find(_.id.contains(id)))
        .orElse(byName(file.filter(_.id.isEmpty), s.name))
        .map(f => Bound(f.name, bind(s.fields, f.fields, path)))
    }
    val names = bound.flatten.map(_.name)
    if (names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size != names.size)
      throw new UnsupportedOperationException(
        s"field-id binding of $path maps two schema columns to one " +
          s"physical name (${names.mkString(", ")}) — refusing rather " +
          "than mis-binding")
    bound
  }

  /** The column named `name`: the exact name first, else the one equal
    * ignoring case (a Hive-migrated file's `ID` for the schema's `id`). */
  private def byName(file: Seq[Field], name: String): Option[Field] =
    file.find(_.name == name).orElse(file.find(_.name.equalsIgnoreCase(name)))

  /** `st` renamed to where each column reads from in one file
    * ([[bind]]): an absent one takes a name no file column carries, so
    * a read under the result null-fills it. */
  private def physical(st: StructType, bound: Seq[Option[Bound]]): StructType =
    StructType(st.fields.zip(bound).zipWithIndex.map {
      case ((f, Some(b)), _) => f.copy(name = b.name, dataType = f.dataType match {
        case s: StructType => physical(s, b.fields)
        case t => t
      })
      case ((f, None), i) => f.copy(name = s"__ice_absent_$i")
    })

  /** The field-id tree of an Iceberg schema (or struct type) node: what
    * [[bind]] binds files against. */
  private[versioned] def fieldsOf(node: com.fasterxml.jackson.databind.JsonNode)
      : Seq[Field] =
    node.get("fields").elements().asScala.toSeq.map { f =>
      val t = f.get("type")
      Field(f.get("name").asText(), Option(f.get("id")).map(_.asInt()),
        if (t.path("type").asText() == "struct") fieldsOf(t) else Nil)
    }

  /** A delete file's refusal to bind a column (it would read as nulls). */
  private def requireAll(path: String, schema: StructType,
      bound: Seq[Option[Bound]]): Unit =
    schema.fieldNames.zip(bound).collectFirst { case (n, None) => n }
      .foreach(n => throw new IllegalArgumentException(
        s"delete file $path carries no column $n (by field id or by " +
          "name) — refusing rather than deleting by nulls"))

  /** One ORC file's footer columns (iceberg-orc stamps field ids as the
    * type attribute `iceberg.id`; name-mapping writers and plain Spark
    * ORC stamp none). */
  private def orcFooter(spark: SparkSession, f: IceFile): Seq[Field] =
    atFooter(spark, f) { (st, conf) =>
      val rd = org.apache.orc.OrcFile.createReader(st.getPath,
        org.apache.orc.OrcFile.readerOptions(conf).maxLength(st.getLen))
      try orcFields(rd.getSchema) finally rd.close()
    }

  /** An ORC struct type's fields as [[bind]] sees them. */
  private[versioned] def orcFields(t: org.apache.orc.TypeDescription)
      : Seq[Field] =
    if (t.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) Nil
    else t.getFieldNames.asScala.toSeq.zip(t.getChildren.asScala).map {
      case (n, c) => Field(n, Option(c.getAttributeValue("iceberg.id"))
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption), orcFields(c))
    }

  /** One parquet file's footer columns (parquet field ids; name-mapping
    * writers stamp none). */
  private def parquetFooter(spark: SparkSession, f: IceFile): Seq[Field] =
    atFooter(spark, f) { (st, conf) =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try parquetFields(rd.getFooter.getFileMetaData.getSchema)
      finally rd.close()
    }

  /** A parquet group's columns as [[bind]] sees them: a struct is a group
    * without a LIST/MAP annotation. */
  private[versioned] def parquetFields(g: org.apache.parquet.schema.GroupType)
      : Seq[Field] =
    g.getFields.asScala.toSeq.map(c => Field(c.getName,
      Option(c.getId).map(_.intValue()),
      if (c.isPrimitive || c.getLogicalTypeAnnotation != null) Nil
      else parquetFields(c.asGroupType())))

  /** One file's footer as `read` decodes it, opened at the file's
    * manifest length. A file shorter than its manifest says fails naming
    * the file, not with a bare EOF.
    */
  private def atFooter(spark: SparkSession, f: IceFile)(
      read: (FileStatus, org.apache.hadoop.conf.Configuration) => Seq[Field])
      : Seq[Field] = {
    val st = statusesOf(Seq(f)).head
    try read(st, spark.sessionState.newHadoopConf())
    catch { case e: java.io.EOFException => throw new java.io.IOException(
      s"${f.path} is shorter than its manifest length ${st.getLen}", e) }
  }

  /** Serializable snapshot of the session Hadoop conf for executor-side
    * FS access (Configuration itself does not serialize); rebuild on the
    * executor with [[rebuildHadoopConf]].
    */
  private def broadcastHadoopConf(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[Map[String, String]] = {
    val c = spark.sessionState.newHadoopConf()
    spark.sparkContext.broadcast(
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
  }

  private[versioned] def rebuildHadoopConf(
      m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Guard for callers that read plan parquet files by NAME (the
    * streaming source reads through one shared DSv2 reader factory,
    * which cannot switch physical schemas per file): refuse unless
    * [[bind]] binds every file as it would with the footer's ids
    * ignored — else a renamed column would read null, one whose id was
    * retired the dead column's values. Id-less files (every graft
    * export) pass.
    */
  private[graft] def assertNameBindable(spark: SparkSession, p: Plan,
      files: Seq[DataFile]): Unit = {
    def noIds(fs: Seq[Field]): Seq[Field] =
      fs.map(f => Field(f.name, None, noIds(f.fields)))
    files.foreach { f =>
      val cols = parquetFooter(spark, f)
      if (bind(p.fields, cols, f.path) != bind(p.fields, noIds(cols), f.path))
        throw new UnsupportedOperationException(
          s"${f.path} stores a column under a name its field id does " +
            "not bind (renamed, or dropped and re-added) — a name-bound " +
            "stream would read it wrong. Read via CALL iceberg_import " +
            "(field-id binding) instead")
    }
  }

  /** Driver-side twin of [[normPath]] for plan paths ([[toLocal]] output:
    * absolute local paths or non-file URIs) — renders the same canonical
    * form `normPath(_metadata.file_path)` produces on executors: a
    * local path percent-encoded as Spark renders it (a hive-escaped
    * directory's space and `%`).
    */
  private[graft] def normStr(s: String): String =
    if (s.startsWith("/")) "file://" + new java.net.URI(null, null, s, null).getRawPath
    else if (s.startsWith("file:"))
      "file:///" + s.stripPrefix("file:").dropWhile(_ == '/')
    else s

  /** file:/x, file://x, file:///x → file:///x (other schemes untouched). */
  private def normPath(c: Column): Column =
    regexp_replace(c, "^file:/+", "file:///")

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** A schema/struct type node → Spark StructType (recursive). */
  private[versioned] def structOf(node: com.fasterxml.jackson.databind.JsonNode)
      : StructType = {
    // absent/misshapen members are the CLIENT's error (a 400 at the
    // REST layer), never a server NPE
    val fields = Option(node.get("fields")).getOrElse(
      throw new IllegalArgumentException("schema carries no 'fields'"))
    StructType(fields.elements().asScala.map { f =>
      val name = Option(f.get("name")).getOrElse(
        throw new IllegalArgumentException("schema field missing 'name'"))
      val typ = Option(f.get("type")).getOrElse(
        throw new IllegalArgumentException(
          s"schema field '${name.asText()}' missing 'type'"))
      StructField(name.asText(), sparkTypeNode(typ),
        nullable = !f.get("required").asBoolean(false))
    }.toSeq)
  }

  /** An Iceberg type node — textual primitive, or object struct/list/map
    * — to its Spark type. */
  private[versioned] def sparkTypeNode(n: com.fasterxml.jackson.databind.JsonNode)
      : DataType =
    if (n.isTextual) sparkType(n.asText())
    else n.get("type").asText() match {
      case "struct" => structOf(n)
      case "list" =>
        ArrayType(sparkTypeNode(n.get("element")),
          containsNull = !n.get("element-required").asBoolean(false))
      case "map" =>
        MapType(sparkTypeNode(n.get("key")), sparkTypeNode(n.get("value")),
          valueContainsNull = !n.get("value-required").asBoolean(false))
      case other => throw new UnsupportedOperationException(
        s"unsupported Iceberg type for import: $other")
    }

  private def sparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case "uuid" => StringType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other => throw new UnsupportedOperationException(
      s"unsupported Iceberg type for import: $other")
  }
}
