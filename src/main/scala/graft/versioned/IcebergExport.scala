package graft.versioned

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.UUID

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.types._

import IcebergMeta.{PartitionCodec, partitionCodec}

/** Export a graft snapshot as APACHE ICEBERG table metadata so external
  * engines — Trino, DuckDB's iceberg extension, any iceberg-core
  * reader — can read a published graft table. This closes the one
  * capability class the reference has structurally (its tables ARE
  * Iceberg, pom.xml iceberg-core) that graft's own format lacks.
  *
  * The export is METADATA-ONLY for data: it writes `v1.metadata.json`,
  * a manifest list and manifests (Iceberg's Avro layouts, field-id
  * annotations included) that point at the snapshot's EXISTING parquet
  * data files in place — zero data copies, O(files) driver work, so a
  * 100 TB table exports in seconds. Because graft parquet carries no
  * Iceberg field-id metadata, the table property
  * `schema.name-mapping.default` supplies the spec's name-mapping
  * fallback and the exported schema uses PHYSICAL column names — the
  * names actually inside the files (renames are metadata-only in both
  * systems; re-export after a rename to surface new logical names).
  *
  * Format version is chosen by content:
  *  - no live merge-on-read tombstones → spec v1 (widest reader
  *    compatibility; nothing v2 adds is needed);
  *  - tombstoned snapshot + a SparkSession → spec v2 with POSITIONAL
  *    DELETE FILES: each tombstone predicate is re-evaluated over the
  *    files it applies to ([[Tombstones.split]] — the same stats/bloom
  *    pruning the engine's own reads use) with `_metadata.row_index`,
  *    and matching positions land in spec-shaped delete parquet
  *    (field ids 2147483546/2147483545, sorted by file_path, pos)
  *    under `dest/data/`. Data and delete files share one sequence
  *    number: positional deletes apply at data_seq <= delete_seq, and
  *    file_path scoping makes application exact regardless. Rows a
  *    tombstone must NOT touch (files committed after it) are never
  *    scanned, so the exemption is structural, not re-filtered.
  *  - tombstoned snapshot, NO SparkSession → refuse loudly (an Iceberg
  *    reader fed v1 metadata would resurrect deleted rows).
  *
  * A partitioned graft table exports its REAL partition spec
  * (identity/bucket/truncate/year/month/day/hour — graft's transform
  * set IS Iceberg's) with typed per-file partition values in the
  * manifest, so external engines partition-prune the export; delete
  * files are then written per data file and stamped with that file's
  * partition values, so deletes prune alongside the data they mask.
  * The spec falls back to UNPARTITIONED — correct reads, no
  * Iceberg-side pruning, reason recorded in
  * `graft.export.partition-fallback` — when any live file predates the
  * current spec (partition evolution: exporting null values for such
  * files would let an Iceberg reader prune rows that exist) or a
  * field's value type has no manifest mapping. Data files always
  * contain every data column (identity sources included), so reads
  * stay correct either way.
  */
object IcebergExport {

  /** The exported Iceberg snapshot id of a graft table snapshot: the
    * stable 64-bit name-UUID of the graft snapshot sha. ONE definition —
    * the export stamps it, and the REST server's rollback/tag-create
    * paths invert it; a drifted copy would make every inversion miss.
    */
  def icebergSnapshotId(graftSnapId: String): Long = math.max(1L,
    java.util.UUID.nameUUIDFromBytes(graftSnapId.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
      .getMostSignificantBits & Long.MaxValue)

  /** Cap on the value-row cross product an In-conjunction tombstone may
    * expand to as an equality delete before falling back to positional.
    */
  private[versioned] val MaxEqualityRows = 1024

  /** The format version an export writes: `formatVersion` when set,
    * else (0, auto) v1 unless the table `needsV2` — v1 is the widest
    * reader compatibility (all live tombstones pruned away by
    * stats/blooms also land there). */
  private[versioned] def versionOf(formatVersion: Int, needsV2: Boolean): Int =
    if (formatVersion != 0) formatVersion else if (needsV2) 2 else 1

  /** One written delete parquet (v2 export only).
    *
    * @param partValues partition values of the single data file a
    *                   positional delete references (empty when the
    *                   export spec is unpartitioned — one positional
    *                   file may then cover a whole tombstone group;
    *                   always empty for equality deletes, which are
    *                   always unpartitioned — under a partitioned table
    *                   spec they are GLOBAL deletes in auxiliary
    *                   spec-id 1)
    * @param content    1 = position deletes, 2 = equality deletes
    * @param seq        Iceberg data sequence number (= graft commit
    *                   seq + 1, making graft's strict `t.seq > f.seq`
    *                   applicability exactly Iceberg's strict
    *                   `dataSeq < deleteSeq` equality-delete rule)
    * @param equalityIds schema field ids named by an equality delete
    * @param format      manifest file_format — PARQUET for delete
    *                    parquets, PUFFIN for v3 deletion vectors
    * @param dv          v3 only: the blob's coordinates inside the
    *                    puffin file + the exact URI of the one data
    *                    file it scopes to
    */
  private final case class DeleteFile(rel: String, size: Long, rows: Long,
      partValues: Map[String, String], content: Int, seq: Long,
      equalityIds: Seq[Int], format: String = "PARQUET",
      dv: Option[DvCoord] = None)

  /** A v3 deletion vector's manifest coordinates: the referenced data
    * file's exact manifest URI plus (content_offset,
    * content_size_in_bytes) of the blob inside the puffin file.
    */
  private final case class DvCoord(referencedUri: String, offset: Long,
      length: Long)

  /** Per-file column statistics exported into the manifest, keyed by
    * schema field id — the rows Iceberg-side min/max FILE PRUNING runs
    * on (on top of partition pruning): a selective external query
    * skips files exactly like graft's own stats-pruned scans do.
    */
  private final case class MStats(
      valueCounts: Map[Int, Long],
      nullCounts: Map[Int, Long],
      lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]])

  /** One manifest row — a data file or a delete file. `content` is the
    * spec's data_file.content: 0 = data, 1 = position deletes, 2 =
    * equality deletes.
    */
  /** `addedBy` — the exported snapshot id that FIRST contains this
    * file within the export window (-1 ⇒ attribute to the manifest's
    * own snapshot). Inline history manifests write it explicitly per
    * entry (carried files become EXISTING), making exported history an
    * honest incremental-append source; chunk manifests omit entry ids
    * entirely and attribute whole chunks via the list row instead.
    */
  private final case class MEntry(uri: String, rows: Long, size: Long,
      partValues: Map[String, String], content: Int, seq: Long,
      equalityIds: Seq[Int], stats: Option[MStats] = None,
      format: String = "PARQUET", dv: Option[DvCoord] = None,
      addedBy: Long = -1L)

  /** Reused-file ledger for ONE export emission: every content-addressed
    * file the emission REUSES (accepted via an isFile check instead of a
    * fresh write) is recorded, with a restorer where the bytes can be
    * cheaply rebuilt driver-side. Just before the metadata JSON
    * publishes, the export re-verifies every recorded file still exists:
    * a concurrent `iceberg_export_expire` sweep could delete an old
    * unreferenced file inside the reuse-to-publish window — the mtime
    * touch-on-reuse shield closes that on backends whose setTimes works,
    * but on silent-no-op backends (s3a) this re-verify is the guard.
    * Restorable files republish (content addressing makes it
    * idempotent); anything else fails the emission LOUDLY before corrupt
    * metadata can publish — the re-run recomputes the memo.
    */
  private final class ReuseLedger {
    val items =
      scala.collection.mutable.Map.empty[String, Option[() => Unit]]
    def note(rel: String, restore: Option[() => Unit] = None): Unit =
      synchronized { if (!items.contains(rel)) items.update(rel, restore) }
    def verify(dest: DestIO): Unit = {
      val gone = Manifests.fanOut(items.keys.toSeq.sorted, 4)(rel =>
        if (dest.isFile(rel)) None else Some(rel)).flatten
      gone.foreach { rel =>
        items(rel) match {
          case Some(restore) => restore()
          case None => throw new IllegalStateException(
            s"reused file $rel vanished mid-emission — a concurrent " +
              "iceberg_export_expire sweep deleted it before this " +
              "emission's metadata published. Nothing corrupt was " +
              "written; re-run the export (the memo recomputes)")
        }
      }
    }
  }

  /** Write Iceberg metadata for `ref:key` under `dest`. Returns the path
    * of the written metadata JSON.
    *
    * History: `maxSnapshots` > 1 additionally exports up to that many of
    * the branch's PRIOR table versions (first-parent commit walk) as real
    * Iceberg snapshots with `snapshot-log` and parent-snapshot-id links,
    * so external engines time travel over graft history. History covers
    * the longest eligible suffix of the chain: it stops at a schema or
    * partition-spec change (the export carries ONE schema), at a version
    * whose files were vacuumed away, or at the table's creation.
    * Added/existing attribution is real: inline manifests stamp per-entry
    * ADDED-vs-EXISTING with the adding snapshot's id (files carried from
    * an older exported version never re-read as new), and chunk manifests
    * attribute whole reused chunks via the list row — so incremental
    * append consumers ([[IcebergImport.readChanges]] included) see
    * exactly the appended rows. An append-fast-path TAIL chunk rewrite
    * (carried entries next to new ones in one freshly-written chunk)
    * splits into an added and a carried (EXISTING, explicit ids)
    * sub-manifest — the split is window-dependent, so split parts
    * content-address off the carried set while uniform chunks keep the
    * window-independent name that cross-emission reuse relies on.
    *
    * @param spark         enables the v2 positional-delete path for
    *                      merge-on-read snapshots (CALL
    *                      graft.system.iceberg_export passes the active
    *                      session); without one, non-equality
    *                      merge-on-read tombstones refuse
    * @param maxSnapshots  table versions to export (see History above)
    * @param version       numbers the written metadata file
    *                      (`v<N>.metadata.json`, version-hint updated to
    *                      N) — the HadoopCatalog discovery convention.
    *                      Re-exports into the SAME dest (sync mode) bump
    *                      it so external readers follow the hint to the
    *                      newest table state while older metadata
    *                      versions stay readable in place
    * @param formatVersion forces the exported Iceberg format version: 0 =
    *                      auto (v1 for clean snapshots, v2 once delete
    *                      files or chunk manifests exist), 2 = force v2,
    *                      3 = v3 — merge-on-read positional tombstones
    *                      export as PUFFIN DELETION VECTORS (one blob per
    *                      dirty data file, see [[writeDeletionVectors]])
    *                      instead of positional delete parquets, and the
    *                      metadata carries v3 row lineage (`next-row-id`,
    *                      per-snapshot `first-row-id`, per-data-manifest
    *                      `first_row_id` with null entry ids → readers
    *                      assign by the spec's inheritance rule). Row ids
    *                      are synthetic per export — graft tracks no row
    *                      identity, so lineage is NOT preserved across
    *                      rewrites; each exported snapshot is
    *                      self-consistent
    * @param extraProps    land in the exported metadata's `properties` map
    *                      — the REST catalog stamps `write.data.path` here
    *                      so compliant external writers stage data files
    *                      directly in the repo's data plane (zero-copy
    *                      commit registration)
    */
  def export(repo: GraftRepo, ref: String, key: String, dest: Path,
      spark: Option[SparkSession] = None, maxSnapshots: Int = 1,
      version: Int = 1, formatVersion: Int = 0,
      extraProps: Map[String, String] = Map.empty): Path =
    java.nio.file.Paths.get(export(repo, ref, key,
      new NioDestIO(dest): DestIO, spark, maxSnapshots, version,
      formatVersion, extraProps))

  /** One exported table version (internal, pass 1 → pass 2).
    * `chunkRefs` — the graft snapshot's manifest segmentation
    * (Manifests.scala), empty for inline snapshots; `dataEntries` is in
    * ref order, so positional prefix sums recover the per-chunk groups.
    */
  private final case class SnapArtifacts(snap: Snapshot, commitTs: Long,
      snapshotId: Long, dataEntries: Seq[MEntry], deleteEntries: Seq[MEntry],
      chunkRefs: Seq[ManifestRef], operation: String)

  /** One manifest-list row (internal): per-row snapshot attribution and
    * added-vs-existing counts so REUSED chunk manifests stay attributed
    * to the snapshot that first wrote them (the real Iceberg manifest-
    * reuse semantic external incremental consumers rely on).
    */
  private final case class MRow(rel: String, len: Long, content: Int,
      addedFiles: Int, existingFiles: Int, addedRows: Long,
      existingRows: Long, seq: Long, minSeq: Long, specId: Int,
      addedSnapshotId: Long, firstRowId: Option[Long] = None)

  /** String-dest form: a dest with a URI scheme (`s3a://bucket/tbl`,
    * `hdfs://…`, `file:///…`) routes every dest byte through the Hadoop
    * FileSystem for that scheme ([[HadoopDestIO]], resolved via the
    * active session's Hadoop conf — credentials and endpoints included);
    * a plain path keeps the local java.nio fast path. Returns the
    * written metadata file's path or URI.
    */
  def exportTo(repo: GraftRepo, ref: String, key: String, dest: String,
      spark: Option[SparkSession], maxSnapshots: Int, version: Int,
      formatVersion: Int = 0): String =
    export(repo, ref, key, DestIO.of(dest), spark, maxSnapshots, version,
      formatVersion, Map.empty)

  private[versioned] def export(repo: GraftRepo, ref: String, key: String,
      dest: DestIO, spark: Option[SparkSession], maxSnapshots: Int,
      version: Int, formatVersion: Int,
      extraProps: Map[String, String]): String = {
    require(formatVersion == 0 || formatVersion == 2 || formatVersion == 3,
      s"format_version must be 0 (auto), 2 or 3 — got $formatVersion")
    val headCommit = repo.resolve(ref)
    if (!headCommit.tables.contains(key))
      throw new NoSuchElementException(s"no such table: $key @ $ref")
    val reuse = new ReuseLedger
    // newest-first distinct table versions along the first-parent chain,
    // each paired with the commit that CREATED the version (the oldest
    // commit carrying its snapshot id), so exported timestamp-ms and the
    // operation classification below reflect the commit that actually
    // changed the table, not a later commit that touched other tables
    val versions = {
      val b = scala.collection.mutable.ListBuffer.empty[(Commit, String)]
      val seen = scala.collection.mutable.Set.empty[String]
      var cur: Option[Commit] = Some(headCommit)
      var done = false
      while (!done && cur.exists(_.tables.contains(key))) {
        val c = cur.get
        val sid = c.tables(key)
        if (b.lastOption.exists(_._2 == sid)) b(b.size - 1) = (c, sid)
        // a NON-consecutive re-occurrence means a revert re-aliased an
        // older table version (CALL revert restores the old snapshot id
        // in a new commit): a linear Iceberg snapshot chain cannot
        // carry the same snapshot-id twice, so history truncates at the
        // re-occurrence — the same shape a maxSnapshots cut serves —
        // instead of exporting duplicate ids (iceberg-core rejects the
        // metadata; incremental consumers would double-count the rows)
        else if (seen.contains(sid)) done = true
        else if (b.size < maxSnapshots) { b += ((c, sid)); seen += sid }
        else done = true
        if (!done) cur = c.parents.headOption.map(repo.commit)
      }
      b.toSeq
    }
    val snap = repo.snapshot(versions.head._2)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val phys = TableOps.toPhysical(schema, snap.nameMapping)

    // Partitioned export is all-or-nothing per the doc comment: every
    // current spec field must have a manifest-typed mapping AND a
    // recorded value in EVERY live file (a file predating an evolved
    // spec has no value — exporting it as null would tell readers
    // "this file's rows transform to null" and mis-prune live rows).
    val pfAll = snap.partitionFields
    val srcTypeOf: PartitionField => DataType = pf =>
      schema.fields.find(_.name == pf.source).map(_.dataType).getOrElse(NullType)
    val unmappable = pfAll.filter(pf => partitionCodec(pf, srcTypeOf(pf)).isEmpty)
    val incomplete = pfAll.nonEmpty &&
      snap.files.exists(f => pfAll.exists(pf => !f.partValues.contains(pf.name)))
    val (specFields, fallbackReason) =
      if (pfAll.isEmpty) (Nil, None)
      else if (unmappable.nonEmpty)
        (Nil, Some("no manifest value mapping for partition field(s): " +
          unmappable.map(pf => s"${pf.name} (${pf.transform} on " +
            s"${srcTypeOf(pf).simpleString})").mkString(", ")))
      else if (incomplete)
        (Nil, Some("live files predate the current partition spec " +
          "(partition evolution); compact to rewrite them, then re-export"))
      else (pfAll, None)

    // ---- history eligibility --------------------------------------------
    // The export carries ONE schema/spec/name-mapping (the head's), so
    // history extends back only while those are unchanged, every file
    // still exists (vacuum breaks older reads), and partition values
    // are complete under the exported spec.
    // per-path existence memo: consecutive history versions share most
    // of their files, so the vacuum probe costs O(distinct files), not
    // O(versions · files) IO calls
    val fileExists = scala.collection.mutable.Map.empty[String, Boolean]
    def eligibleVersion(h: Snapshot): Boolean =
      h.schemaJson == snap.schemaJson &&
        h.partitionFields == snap.partitionFields &&
        h.nameMapping == snap.nameMapping &&
        h.files.forall(f =>
          fileExists.getOrElseUpdate(f.path, repo.dataIO.isFile(f.path))) &&
        (specFields.isEmpty || h.files.forall(f =>
          specFields.forall(pf => f.partValues.contains(pf.name))))
    val history: Seq[(Commit, Snapshot)] = {
      val b = Seq.newBuilder[(Commit, Snapshot)]
      var ok = true
      versions.foreach { case (c, sid) =>
        if (ok) {
          val h = if (sid == snap.id) snap else repo.snapshot(sid)
          if (sid == snap.id || eligibleVersion(h)) b += ((c, h)) else ok = false
        }
      }
      b.result()
    }

    dest.mkdirs("metadata")
    val nowMs = System.currentTimeMillis()

    // the one schema and partition spec the metadata JSON and every
    // manifest's key-values carry
    val iceSchema = icebergSchema(phys)
    val spec0 = partitionSpec(specFields, schema)
    // each spec field with its manifest value codec, for every manifest
    val codecs =
      specFields.map(pf => pf -> partitionCodec(pf, srcTypeOf(pf)).get)
    val specFieldsJson = IcebergMeta.specFieldsJson(spec0.fields)

    // ---- pass 1: per-version delete files + manifest entries -----------
    // Equality-expressible tombstones (EqualTo/In conjunctions) export
    // as O(1) EQUALITY DELETE FILES — the predicate's value rows, no
    // data scanned, no SparkSession needed: at 100 TB a
    // `DELETE WHERE user_id = x` exports in constant time. Under a
    // PARTITIONED spec they land in a second, UNPARTITIONED spec
    // (spec-id 1) as Iceberg GLOBAL deletes — a table-wide predicate
    // applies across partitions by construction. Everything else
    // (range/string predicates) takes the positional path, which
    // re-evaluates predicates per file and needs a session.
    // oldest exported version that contains each file path — inline
    // manifests stamp it per entry so carried-over files read as
    // EXISTING, not re-ADDED, for incremental append consumers
    val firstSeen = scala.collection.mutable.Map.empty[String, Long]
    // summary-operation classifier state: the previous exported version's
    // live paths + tombstone signature (see `operation` below)
    var prevPaths: Option[Set[String]] = None
    var prevTombSig: Option[Set[(Long, String)]] = None
    val artifacts: Seq[SnapArtifacts] = history.reverse.map { case (c, h) =>
      // 64-bit name-UUID of the graft snapshot sha — stable across
      // exports of the same snapshot (needed BEFORE the delete writers:
      // v3 puffin footers stamp it per blob)
      val sid = icebergSnapshotId(h.id)
      val tombs = Tombstones.of(h)
      val (eqTombs, posTombs) =
        tombs.partition(t => equalityRows(t.filter, phys).isDefined)
      val eqDeletes =
        eqTombs.map(t => writeEqualityDelete(t, phys, dest, reuse))
      val posDeletes: Seq[DeleteFile] =
        if (posTombs.isEmpty) Nil
        else spark match {
          case Some(s) if formatVersion == 3 =>
            writeDeletionVectors(s, repo, h, sid, phys, posTombs, dest, reuse)
          case Some(s) =>
            writePositionDeletes(s, repo, h, phys, specFields, posTombs,
              dest, reuse)
          case None => throw new UnsupportedOperationException(
            s"$key has merge-on-read tombstones that are not " +
              "equality-expressible; export through CALL " +
              "graft.system.iceberg_export (writes Iceberg v2 positional " +
              "delete files) or run CALL graft.system.compact first — a " +
              "v1 reader would resurrect deleted rows")
        }
      val dataEntries = h.files.map { f =>
        // true on-disk length (readers plan range reads from it — a
        // rows-based guess is not good enough here): the write-time
        // recorded exact size when present, one stat per file only for
        // pre-`bytes` snapshots — a history export over N versions
        // must not pay O(N·files) size RPCs for files shared unchanged
        // across versions
        MEntry(repo.dataIO.uriOf(f.path), f.rows,
          f.exactBytes.getOrElse(repo.dataIO.size(f.path)),
          f.partValues, 0,
          f.seqNo + 1, Nil, Some(fileStats(f, phys)),
          addedBy = firstSeen.getOrElseUpdate(f.path, sid))
      }
      val deleteEntries = (eqDeletes ++ posDeletes).map(d =>
        MEntry(dest.uriOf(d.rel), d.rows, d.size, d.partValues,
          d.content, d.seq, d.equalityIds, format = d.format, dv = d.dv))
      // Iceberg summary.operation — the contract incremental append
      // consumers (changesPlan, Spark's incremental scan) key on:
      //  - "append": every prior live file retained, no new tombstones —
      //    the ADDED files are genuinely new rows;
      //  - "replace": a compaction rewrite (files replaced / tombstones
      //    materialized, LOGICAL rows unchanged) — consumers skip it, so
      //    rewritten rows are never double-counted. Claimed ONLY for
      //    commits carrying the STRUCTURAL compaction marker (stamped by
      //    TableOps.compact itself; a user-typed free-text message
      //    cannot forge it) — a wrong "replace" would silently DROP
      //    changed rows, so everything unprovable falls through to
      //  - "overwrite": rows were deleted or rewritten (CoW
      //    update/delete, truncate, MoR tombstone added) — consumers
      //    crossing it refuse loudly.
      val curPaths = h.files.map(_.path).toSet
      val tombSig = Tombstones.signature(h)
      val operation = prevPaths match {
        case None =>
          if (deleteEntries.nonEmpty) "overwrite" else "append"
        case Some(prev) =>
          val filesRemoved = !prev.forall(curPaths.contains)
          val tombsChanged = !prevTombSig.contains(tombSig)
          // compat note: compaction commits written by builds that
          // predate the marker field classify as "overwrite" here —
          // the SAFE direction (consumers refuse loudly and re-import
          // instead of silently skipping); re-compacting refreshes the
          // classification
          if ((filesRemoved || tombsChanged) &&
              c.markerOpt.contains(Commit.CompactMarker))
            "replace"
          else if (filesRemoved || tombsChanged) "overwrite"
          else "append"
      }
      prevPaths = Some(curPaths)
      prevTombSig = Some(tombSig)
      SnapArtifacts(h, c.ts, sid, dataEntries, deleteEntries,
        h.manifestRefs, operation)
    }
    // segmented snapshots force v2 too: chunk manifests omit each
    // entry's snapshot_id and rely on inheritance from the manifest-list
    // row — a v2 rule (the field is required in v1), so a strict v1
    // reader could reject them
    val v = versionOf(formatVersion, artifacts.exists(a =>
      a.deleteEntries.nonEmpty || a.chunkRefs.nonEmpty))

    // ---- pass 2: manifests + manifest lists, oldest → newest -----------
    // Entries keep their own explicit sequences (graft commit seq + 1)
    // so strictly-older equality semantics survive; each snapshot's
    // sequence is the max its entries carry, forced strictly increasing
    // along the chain as the spec requires.
    var prevSeq = 0L
    var parentId: Option[Long] = None
    var lastSnapSeq = 1L
    // v3 row lineage: every snapshot's data manifests get explicit
    // first_row_id values in the FRESH manifest list (prefix sums of
    // record counts), while entries inside (possibly reused,
    // content-addressed) chunk manifests stay null and inherit per the
    // spec — chunk avro bytes stay identical across emissions. Row ids
    // are therefore synthetic per snapshot (graft tracks no row
    // identity): each exported snapshot claims a fresh non-overlapping
    // id range and `next-row-id` advances past all of them.
    var rowCursor = 0L
    // chunk-manifest reuse ledger across the history walk (oldest →
    // newest): graft chunk → the exported avro + the snapshot/sequence
    // that FIRST wrote it. Combined with the content-addressed file
    // name, a chunk shared by many exported versions (and, in sync
    // mode, by successive exports to the same dest) is written ONCE and
    // referenced everywhere else — export cost per emission becomes
    // O(changed chunks), not O(table files).
    // One published piece of a chunk manifest (a uniform chunk has one;
    // a mixed rewritten-tail chunk has an added + a carried part) and
    // the publication record the walk's reuse keys on.
    final case class ChunkPart(rel: String, len: Long, count: Int,
        rows: Long, minSeq: Long, carried: Boolean)
    final case class ChunkPub(parts: Seq[ChunkPart], firstSnap: Long,
        firstSeq: Long)
    val chunkLedger =
      scala.collection.mutable.Map.empty[String, ChunkPub]
    // the avro bytes depend on (entries, schema, spec, version) AND the
    // repo root (entries embed absolute file URIs — a relocated repo
    // must not reuse manifests pointing at the old mount); entry
    // snapshot_id is omitted for chunk manifests (readers inherit it
    // from the list row, the spec's v1/v2 inheritance rule)
    val cfgSha = shaHex(
      s"${repo.root.toUri}|${iceSchema.json}|$specFieldsJson|$v")
    val snapshots = artifacts.map { a =>
      val snapSeq = math.max(prevSeq + 1,
        (a.dataEntries ++ a.deleteEntries).map(_.seq).maxOption.getOrElse(1L))
      prevSeq = snapSeq; lastSnapSeq = snapSeq
      val dataRows: Seq[MRow] =
        if (a.chunkRefs.isEmpty) {
          val rel = s"metadata/${UUID.randomUUID()}-m0.avro"
          val bytes = manifestBytes(a.dataEntries, Some(a.snapshotId),
            iceSchema, codecs, specFieldsJson, v,
            manifestContent = "data", specId = 0)
          dest.writeAtomic(rel, bytes)
          val (added, carried) =
            a.dataEntries.partition(_.addedBy == a.snapshotId)
          Seq(MRow(rel, bytes.length.toLong, 0, added.size, carried.size,
            added.map(_.rows).sum, carried.map(_.rows).sum, snapSeq,
            a.dataEntries.map(_.seq).minOption.getOrElse(1L), 0, a.snapshotId))
        } else {
          // one Iceberg manifest per graft chunk, content-addressed off
          // the chunk's own sha + export config; dataEntries is in ref
          // order, so prefix sums slice the per-chunk groups. A chunk
          // whose entries MIX window-attributions — the append fast
          // path's rewritten TAIL chunk carries the old tail's entries
          // next to the new ones — splits into an added sub-manifest
          // (inherited attribution) and a carried sub-manifest
          // (EXISTING, explicit older snapshot ids), so incremental
          // append consumers never re-read the carried rows as new.
          // The split partition depends on the export window, so split
          // parts content-address off the carried set too (a uniform
          // chunk keeps the window-independent cm-<sha>-m0 name that
          // cross-emission reuse relies on).
          var off = 0
          a.chunkRefs.flatMap { ref =>
            val entries = a.dataEntries.slice(off, off + ref.count)
            off += ref.count
            val sha = shaHex(s"${ref.path}|$cfgSha")
            val pub = chunkLedger.getOrElseUpdate(sha, {
              // serialized once, published whole (writeAtomic): presence
              // of the final name certifies a COMPLETE avro (a crash
              // mid-write must never leave a truncated manifest every
              // later emission reuses)
              def publish(rel: String, es: Seq[MEntry],
                  explicitIds: Boolean): ChunkPart = {
                def bytesOf() = manifestBytes(es,
                  entrySnapshotId =
                    if (explicitIds) Some(a.snapshotId) else None,
                  iceSchema, codecs, specFieldsJson, v,
                  manifestContent = "data", specId = 0)
                // reuse bumps mtime FIRST: the expire sweep's age guard
                // then protects the file through this emission's
                // reuse-to-publish window even if no kept version
                // references it yet (see DestIO.touch; the ReuseLedger
                // re-verify before metadata publish is the backstop on
                // backends whose setTimes is a no-op — chunk bytes are
                // rebuildable, so a swept file just republishes)
                val len =
                  if (dest.isFile(rel)) {
                    dest.touch(rel)
                    reuse.note(rel,
                      Some(() => dest.writeAtomic(rel, bytesOf())))
                    dest.size(rel)
                  } else {
                    val bytes = bytesOf()
                    dest.writeAtomic(rel, bytes)
                    bytes.length.toLong
                  }
                ChunkPart(rel, len, es.size, es.map(_.rows).sum,
                  es.map(_.seq).minOption.getOrElse(1L),
                  carried = explicitIds)
              }
              val (carried, added) =
                entries.partition(_.addedBy != a.snapshotId)
              if (carried.isEmpty)
                ChunkPub(Seq(
                  publish(s"metadata/cm-$sha-m0.avro", entries,
                    explicitIds = false)), a.snapshotId, snapSeq)
              else {
                val partSha = shaHex(sha + "|" +
                  carried.map(e => s"${e.uri}@${e.addedBy}").mkString(","))
                val addPart =
                  if (added.isEmpty) Nil
                  else Seq(publish(s"metadata/cm-$partSha-m0a.avro", added,
                    explicitIds = false))
                ChunkPub(addPart :+
                  publish(s"metadata/cm-$partSha-m0e.avro", carried,
                    explicitIds = true), a.snapshotId, snapSeq)
              }
            })
            val reused = pub.firstSnap != a.snapshotId
            pub.parts.map { part =>
              val asExisting = reused || part.carried
              MRow(part.rel, part.len, 0,
                if (asExisting) 0 else part.count,
                if (asExisting) part.count else 0,
                if (asExisting) 0L else part.rows,
                if (asExisting) part.rows else 0L,
                pub.firstSeq, part.minSeq, 0, pub.firstSnap)
            }
          }
        }
      // positional deletes are partition-scoped (spec 0); equality
      // deletes are GLOBAL — under a partitioned table they get the
      // auxiliary unpartitioned spec 1 so their table-wide scope is
      // spec-correct
      // v3 row lineage: assign this snapshot's manifest-level first
      // row ids (entries inherit; delete manifests consume no ids)
      val snapFirstRowId = rowCursor
      val dataRowsL: Seq[MRow] =
        if (v < 3) dataRows
        else dataRows.map { r =>
          val fr = rowCursor
          rowCursor += r.addedRows + r.existingRows
          r.copy(firstRowId = Some(fr))
        }
      val posEntries = a.deleteEntries.filter(_.content == 1)
      val eqEntries = a.deleteEntries.filter(_.content == 2)
      val eqSpecId = if (specFields.isEmpty) 0 else 1
      def deleteManifest(entries: Seq[MEntry], specId: Int)
          : Option[(String, Long, Seq[MEntry], Int)] =
        if (entries.isEmpty) None else {
          val rel = s"metadata/${UUID.randomUUID()}-m1.avro"
          val (sf, sfJson) =
            if (specId == 0) (codecs, specFieldsJson) else (Nil, "[]")
          val bytes = manifestBytes(entries, Some(a.snapshotId),
            iceSchema, sf, sfJson, v,
            manifestContent = "deletes", specId)
          dest.writeAtomic(rel, bytes)
          Some((rel, bytes.length.toLong, entries, specId))
        }
      val deleteManifests =
        deleteManifest(posEntries, 0) ++ deleteManifest(eqEntries, eqSpecId)
      val listRel =
        s"metadata/snap-${a.snapshotId}-1-${UUID.randomUUID()}.avro"
      dest.writeAtomic(listRel, manifestListBytes(dest, a.snapshotId, v,
        dataRowsL ++
          deleteManifests.map { case (rel, len, entries, specId) =>
            MRow(rel, len, 1, entries.size, 0, entries.map(_.rows).sum, 0L,
              snapSeq, entries.map(_.seq).minOption.getOrElse(1L), specId,
              a.snapshotId) }))
      // classified in pass 1 (append / replace / overwrite) — incremental
      // append consumers filter on it, so a rewrite must never read as an
      // append (double-counted rows) and a compaction reads as "replace"
      // (skipped, per the spec). added-* reflect THIS snapshot's
      // additions (chunk reuse makes the distinction real); total-* carry
      // the full live state
      val summary = ListMap(
        "operation" -> a.operation,
        "added-data-files" -> dataRows.map(_.addedFiles).sum.toString,
        "added-records" -> dataRows.map(_.addedRows).sum.toString,
        "total-data-files" -> a.dataEntries.size.toString,
        "total-records" -> a.dataEntries.map(_.rows).sum.toString) ++
        (if (a.deleteEntries.isEmpty) Nil else Seq(
          "added-delete-files" -> a.deleteEntries.size.toString,
          "added-position-deletes" -> a.deleteEntries
            .filter(_.content == 1).map(_.rows).sum.toString,
          "added-equality-deletes" -> a.deleteEntries
            .filter(_.content == 2).map(_.rows).sum.toString))
      val iceSnap = IcebergMeta.Snapshot(a.snapshotId, parentId,
        if (v >= 2) Some(snapSeq) else None,
        if (v >= 3) Some(snapFirstRowId) else None, a.commitTs, Some(summary),
        Some(dest.uriOf(listRel)), Some(iceSchema.id))
      parentId = Some(a.snapshotId)
      iceSnap
    }
    val snapshotId = artifacts.last.snapshotId // head = current snapshot
    // ---- table metadata JSON -------------------------------------------
    // global (equality) deletes under a partitioned table live in an
    // auxiliary unpartitioned spec
    val usesGlobalDeleteSpec = specFields.nonEmpty &&
      artifacts.exists(_.deleteEntries.exists(_.content == 2))
    val props = new java.util.LinkedHashMap[String, String]
    // USER table properties round-trip to external readers (an engine
    // that sets `owner` or a write.* knob over REST must see it echoed
    // on the next load); graft.* keys are engine state (tombstones,
    // commit sequence) and stay internal. Reserved/computed keys below
    // override any same-named user value.
    snap.properties.filterNot(_._1.startsWith("graft."))
      .foreach { case (k, vv) => props.put(k, vv) }
    props.put("schema.name-mapping.default", nameMappingJson(phys))
    props.put("graft.source-snapshot", snap.id)
    props.put("graft.source-ref", ref)
    // the graft COMMIT this export observed: a multi-table commit emits
    // each registered table's export independently (no cross-table
    // atomicity at the dest — see IcebergSync's contract), but every
    // emission of the same commit carries the same id here, so external
    // audits can join fact/dim exports on it
    props.put("graft.source-commit", headCommit.id)
    // the tag set this export baked into `refs` below: the REST serve
    // memo compares it, so a tag created or dropped AFTER an export
    // re-exports on the next load instead of serving stale (or undead)
    // tag refs until the table's data happens to change. ONE snapshot
    // of the tag set feeds both the signature and the refs map — a
    // create/drop between two separate reads would serve refs
    // inconsistent with the stamped signature
    val (tagEntries, tagSig) = repo.tagsWithSignature
    props.put("graft.source-tags", tagSig)
    fallbackReason.foreach(r => props.put("graft.export.partition-fallback", r))
    extraProps.foreach { case (k, vv) => props.put(k, vv) }
    // the spec's branch-ref map: clients (and REST commit flows, which
    // build assert-ref-snapshot-id requirements from it) address the
    // current state as branch `main`.
    // graft TAGS serve as READ-ONLY Iceberg tag refs: a tag whose
    // commit holds this table at one of the EXPORTED versions maps to
    // that snapshot, so engines can `VERSION AS OF '<tag>'` by name
    // without the namespace-level branch hop. A graft tag is
    // repo-level; per-table it denotes "the table's state at the
    // tagged commit", which is exactly an Iceberg tag's meaning.
    // Resolution is O(1) commit loads per tag (control-plane few);
    // tags outside the served history window — or predating the
    // table — are simply not stamped. Resolved from the SAME tag
    // snapshot the signature was derived from (tagEntries), not a
    // re-list — see the consistency note at the graft.source-tags stamp
    val sidToIce = artifacts.map(a => a.snap.id -> a.snapshotId).toMap
    val tagRefs = tagEntries.filter(_._1 != "main").flatMap { case (t, cid) =>
      scala.util.Try(repo.commit(cid)).toOption
        .flatMap(c => c.tables.get(key))
        .flatMap(sidToIce.get)
        .map(sid => t -> IcebergMeta.Ref(sid, "tag"))
    }
    val meta = IcebergMeta.Table(
      formatVersion = v,
      // STABLE across commits (real Iceberg table identity): derived from
      // the graft table's coordinates, not the exported snapshot —
      // clients that cache the uuid (iceberg-core's assert-table-uuid
      // requirement, REST commit flows) must see the same table after a
      // refresh
      uuid = UUID.nameUUIDFromBytes(
        s"graft:${repo.root}:$ref:$key".getBytes(StandardCharsets.UTF_8))
        .toString,
      location = dest.uriOf("").stripSuffix("/"),
      lastSequenceNumber = if (v >= 2) Some(lastSnapSeq) else None,
      nextRowId = if (v >= 3) Some(rowCursor) else None,
      lastUpdatedMs = nowMs,
      lastColumnId = lastColumnId(phys),
      schemas = Seq(iceSchema), currentSchemaId = iceSchema.id,
      specs = spec0 +: (if (usesGlobalDeleteSpec)
        Seq(IcebergMeta.PartitionSpec(1, Nil)) else Nil),
      defaultSpecId = 0, lastPartitionId = 999 + specFields.length,
      sortOrders = Seq(IcebergMeta.Unsorted), defaultSortOrderId = 0,
      properties = ListMap.from(props.asScala),
      currentSnapshotId = Some(snapshotId),
      refs = ListMap("main" ->
        IcebergMeta.Ref(snapshotId, "branch")) ++ tagRefs,
      snapshots = snapshots,
      // oldest → newest state-change log; external engines time travel
      // with FOR TIMESTAMP/VERSION AS OF against it
      snapshotLog = artifacts.map(a => (a.commitTs, a.snapshotId)),
      metadataLog = Nil)

    val metaRel = s"metadata/v$version.metadata.json"
    // pre-publish re-verify of every reused content-addressed file: a
    // concurrent expire sweep on a setTimes-less backend could have
    // deleted one inside the reuse-to-publish window (see ReuseLedger)
    reuse.verify(dest)
    dest.writeAtomic(metaRel,
      IcebergMeta.render(meta).getBytes(StandardCharsets.UTF_8))
    // HadoopCatalog-style discovery: readers resolve v<hint>.metadata.json.
    // replaceString, not writeString: external readers and the
    // iceberg-changes stream poll the hint WHILE sync emissions rewrite
    // it — a truncate-in-place write lets them read an empty hint and
    // chase "v.metadata.json"
    dest.replaceString("metadata/version-hint.text", version.toString)
    dest.displayPath(metaRel)
  }

  // ---- per-file column statistics --------------------------------------

  /** Iceberg single-value binary serialization of one stored stat
    * string under its column type (little-endian fixed-width numerics,
    * raw UTF-8 strings, date as epoch days, timestamps as epoch
    * micros). None = type has no mapping here (decimals/binary) or the
    * string doesn't parse — the column is simply omitted from bounds,
    * which is spec-legal (readers fall back to scanning that column).
    */
  private def boundBytes(dt: DataType, stat: String): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(put: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      put(b); b.array()
    }
    scala.util.Try[Array[Byte]] {
      dt match {
        case ByteType | ShortType | IntegerType => le(4)(_.putInt(stat.toLong.toInt))
        case LongType => le(8)(_.putLong(stat.toLong))
        case FloatType => le(4)(_.putFloat(stat.toFloat))
        case DoubleType => le(8)(_.putDouble(stat.toDouble))
        case BooleanType => Array[Byte](if (stat.toBoolean) 1 else 0)
        case StringType => stat.getBytes(StandardCharsets.UTF_8)
        case DateType =>
          le(4)(_.putInt(java.time.LocalDate.parse(stat).toEpochDay.toInt))
        case TimestampType | TimestampNTZType =>
          val ldt = java.time.LocalDateTime.parse(stat.replace(' ', 'T'))
          le(8)(_.putLong(ldt.toInstant(java.time.ZoneOffset.UTC)
            .getEpochSecond * 1000000L + ldt.getNano / 1000L))
        case other => throw new UnsupportedOperationException(other.simpleString)
      }
    }.toOption
  }

  /** Manifest statistics of one data file from graft's stored per-file
    * stats (full untruncated values — FooterStats stores exact bounds,
    * so exported lower/upper are exact, not prefixes).
    */
  private def fileStats(f: FileEntry, phys: StructType): MStats = {
    val nulls = f.nullCounts
    // stat-bearing columns with their Iceberg field ids: top-level
    // columns (ids 1..n) plus struct-nested leaves under their NESTED
    // field ids — external engines prune nested predicates too
    val ids = statPathIds(phys)
    // a column is physically IN the file iff some stat was recorded for
    // it (FooterStats writes a null count for every present column,
    // all-null included); columns added to the schema after the file
    // was written must not claim value_counts = rows
    def present(name: String): Boolean =
      nulls.contains(name) || f.min.contains(name) || f.max.contains(name)
    MStats(
      // value_counts = total values incl. nulls = the file's row count
      // for every non-repeated column the file actually holds
      valueCounts = ids.collect {
        case (p, id, _) if present(p) => id -> f.rows }.toMap,
      nullCounts = ids.flatMap { case (p, id, _) =>
        nulls.get(p).map(id -> _) }.toMap,
      lower = ids.flatMap { case (p, id, dt) =>
        f.min.get(p).flatMap(boundBytes(dt, _)).map(id -> _) }.toMap,
      upper = ids.flatMap { case (p, id, dt) =>
        f.max.get(p).flatMap(boundBytes(dt, _)).map(id -> _) }.toMap)
  }

  /** (dotted stat path, Iceberg field id, engine type) for every column
    * the stats maps may key: top-level fields under ids 1..n plus
    * struct-nested leaves under the ids [[schemaNodes]] allocated
    * (walked from the generated schema tree so the two can never
    * disagree). List/map interiors carry no row-level stats.
    */
  private def statPathIds(phys: StructType)
      : Seq[(String, Int, DataType)] = {
    val out = Seq.newBuilder[(String, Int, DataType)]
    def walk(prefix: Seq[String], fields: Seq[JsonNode]): Unit =
      fields.foreach { f =>
        val name = f.get("name").asText()
        val path = (prefix :+ name).mkString(".")
        val t = f.get("type")
        if (t.isTextual) TableOps.leafField(phys, path)
          .foreach(dt => out += ((path, f.get("id").asInt(), dt)))
        else if (t.get("type").asText() == "struct")
          walk(prefix :+ name, t.get("fields").elements().asScala.toSeq)
        // list/map: repeated leaves carry no row-level stats
      }
    walk(Nil, schemaNodes(phys)._1)
    out.result()
  }


  // ---- equality delete files (v2) --------------------------------------

  /** The (columns, value rows) an equality delete file would carry for
    * `f`, or None when the predicate is not equality-shaped: supported
    * are EqualTo / In and And-conjunctions over DISJOINT column sets
    * (cross product capped at [[MaxEqualityRows]]), on types a delete
    * parquet can carry. Values arrive in [[FilterJson]]'s canonical
    * decoded forms (Long / Double / String / Boolean / java.sql.Date /
    * java.sql.Timestamp).
    */
  private def equalityRows(f: org.apache.spark.sql.sources.Filter,
      phys: StructType): Option[(Seq[String], Seq[Map[String, Any]])] = {
    import org.apache.spark.sql.sources
    def writable(c: String): Boolean =
      phys.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | BooleanType | StringType | DateType |
             TimestampType | TimestampNTZType => true
        case _ => false
      }
    f match {
      case sources.EqualTo(c, v) if v != null && writable(c) =>
        Some((Seq(c), Seq(Map(c -> v))))
      case sources.In(c, vs) if vs.nonEmpty && !vs.contains(null) && writable(c) =>
        Some((Seq(c), vs.toSeq.map(v => Map(c -> v))))
      case sources.And(l, r) =>
        for {
          (lc, lr) <- equalityRows(l, phys)
          (rc, rr) <- equalityRows(r, phys)
          if lc.intersect(rc).isEmpty &&
            lr.size.toLong * rr.size <= MaxEqualityRows
        } yield (lc ++ rc, for (a <- lr; b <- rr) yield a ++ b)
      case _ => None
    }
  }

  /** Write one tombstone as an Iceberg equality delete parquet: the
    * predicate's VALUE rows under the referenced columns (schema field
    * ids stamped in the footer), via parquet-hadoop's standalone writer
    * — no Spark job, no data scanned, O(predicate) work.
    */
  private def writeEqualityDelete(t: Tombstone, phys: StructType,
      dest: DestIO, reuse: ReuseLedger): DeleteFile = {
    dest.mkdirs("data")
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val (cols, rows) = equalityRows(t.filter, phys).getOrElse(
      throw new IllegalStateException(s"not equality-shaped: ${t.filter}"))
    val ids = cols.map(c => phys.fieldIndex(c) + 1)
    val fields = cols.map { c =>
      val fieldType = phys.fields(phys.fieldIndex(c)).dataType
      val b = fieldType match {
        case ByteType | ShortType | IntegerType => Types.optional(INT32)
        case LongType => Types.optional(INT64)
        case FloatType => Types.optional(FLOAT)
        case DoubleType => Types.optional(DOUBLE)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case DateType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64).as(LogicalTypeAnnotation
          .timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(INT64).as(LogicalTypeAnnotation
          .timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw new IllegalStateException(
          s"equalityRows admitted unwritable type $other") // unreachable
      }
      b.id(phys.fieldIndex(c) + 1).named(c)
    }
    val msg = new org.apache.parquet.schema.MessageType("eq_delete",
      fields.toArray[org.apache.parquet.schema.Type]: _*)
    // deterministic content-addressed name: a sync re-emission (or a
    // history export covering the same tombstone) reuses the file
    // instead of writing a new UUID copy every time. Written to a temp
    // name and ATOMICALLY moved into place — presence of the final name
    // certifies a complete file, so a crash mid-write can never leave a
    // truncated parquet that every future export would reuse.
    val fp = shaHex(s"${t.seq}|${t.filter}|${ids.mkString(",")}|$msg")
    val outRel = s"data/eq-$fp-deletes.parquet"
    // staged LOCALLY (parquet-hadoop needs a seekable sink), then
    // published whole via the dest seam — works for remote dests too;
    // also the ReuseLedger restorer for a reused file a concurrent
    // sweep deletes mid-emission (driver-side value rows — cheap)
    def publishFile(): Long = {
      val tmpOut = Files.createTempFile("graft-ice-eq", ".parquet")
      Files.deleteIfExists(tmpOut) // writer refuses existing files
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(tmpOut.toUri),
          new org.apache.hadoop.conf.Configuration()))
        .withType(msg).build()
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      try rows.foreach { r =>
        val g = factory.newGroup()
        cols.foreach { c =>
          val v = r(c)
          phys.fields(phys.fieldIndex(c)).dataType match {
            case ByteType | ShortType | IntegerType =>
              g.add(c, v.asInstanceOf[Number].intValue())
            case LongType => g.add(c, v.asInstanceOf[Number].longValue())
            case FloatType => g.add(c, v.asInstanceOf[Number].floatValue())
            case DoubleType => g.add(c, v.asInstanceOf[Number].doubleValue())
            case BooleanType => g.add(c, v.asInstanceOf[Boolean])
            case StringType => g.add(c,
              org.apache.parquet.io.api.Binary.fromString(v.toString))
            case DateType => g.add(c,
              v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
            case TimestampType | TimestampNTZType =>
              val i = v.asInstanceOf[java.sql.Timestamp].toInstant
              g.add(c, i.getEpochSecond * 1000000L + i.getNano / 1000L)
            case other =>
              throw new IllegalStateException(s"unreachable: $other")
          }
        }
        writer.write(g)
      } finally writer.close()
      val size = Files.size(tmpOut)
      dest.uploadAtomic(tmpOut, outRel)
      size
    }
    if (dest.isFile(outRel)) {
      dest.touch(outRel) // shield the reuse window from the expire sweep
      reuse.note(outRel, Some(() => { publishFile(); () }))
      return DeleteFile(outRel, dest.size(outRel), rows.size.toLong,
        Map.empty, content = 2, seq = t.seq + 1, equalityIds = ids)
    }
    val size = publishFile()
    DeleteFile(outRel, size, rows.size.toLong, Map.empty, content = 2,
      seq = t.seq + 1, equalityIds = ids)
  }

  // ---- positional delete files (v2) ------------------------------------

  /** Re-evaluate each tombstone group's predicate over exactly the files
    * it applies to and write matching `(file_path, pos)` rows as
    * spec-shaped delete parquet under `dest/data/`. Partitioned spec →
    * one delete file per (tombstone group × partition tuple), stamped
    * with the tuple's partition values so Iceberg prunes deletes
    * alongside data; unpartitioned → one delete file per tombstone
    * group (multi-file, sorted — spec-legal). Files a predicate turns
    * out not to touch (stats/bloom false positives) produce no delete
    * file at all.
    *
    * Runs as ONE Spark action regardless of how many partitions the
    * tombstones touch: every group's (pre-pruned) file set is scanned
    * in one unioned plan, matching positions are tagged with their
    * output slot via a broadcast path→slot map, shuffled ONCE by slot
    * id (each slot lands wholly in one task → exactly one sorted file
    * per slot via partitionBy), and slot directories are then renamed
    * into place with partition values stamped from the driver's slot
    * table. At 100 TB a tombstone touching 10⁴ partitions costs one
    * job, not 10⁴ sequential driver-launched jobs.
    */
  private def writePositionDeletes(s: SparkSession, repo: GraftRepo,
      snap: Snapshot, phys: StructType, specFields: Seq[PartitionField],
      tombs: Seq[Tombstone], dest: DestIO,
      reuse: ReuseLedger): Seq[DeleteFile] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, regexp_replace}
    // per-snapshot memo: positions are a pure function of the graft
    // snapshot (files + tombstones + schema all live in it), so a sync
    // re-emission or a history export covering the same snapshot skips
    // the whole Spark job and reuses the files from the previous
    // emission. index.json is written LAST — a crashed emission simply
    // recomputes.
    val memoRel = s"data/pos-${snap.id}"
    val indexRel = s"$memoRel/index.json"
    if (dest.isFile(indexRel)) {
      val idx = Json.read[PosIndex](dest.readString(indexRel))
      // the memo is reusable only if (a) it was written under a spec
      // compatible with THIS export — a memo from an unpartitioned-
      // fallback emission has no partition values to stamp into a
      // partitioned manifest (and would poison every retry with
      // NoSuchElementException) — and (b) every delete parquet still
      // exists — an expire sweep can remove unreferenced parquets while
      // index.json survives (sweeping refreshes the dir mtime past the
      // same run's dir-cleanup cutoff), and "re-run the export"
      // would otherwise keep failing forever because recompute only
      // triggers when index.json is absent. Incompatible/partial memo →
      // fall through and RECOMPUTE (index.json is rewritten LAST).
      val specOk = idx.entries.forall(e =>
        specFields.forall(pf => e.partValues.contains(pf.name)))
      val present = specOk && Manifests.fanOut(
        idx.entries.map(e => s"$memoRel/${e.name}"), 4)(dest.isFile)
        .forall(identity)
      if (specOk && present) {
        // shield the whole memo (index + every delete parquet) through
        // this emission's reuse-to-publish window (see DestIO.touch) —
        // batched over the shared IO pool, not one serial RPC per file.
        // No cheap restorer (rebuilding means the full Spark job), so
        // the pre-publish re-verify fails LOUDLY if a sweep won the
        // race AFTER this point.
        Manifests.fanOut(
          indexRel +: idx.entries.map(e => s"$memoRel/${e.name}"), 4)(
          dest.touch)
        idx.entries.foreach(e => reuse.note(s"$memoRel/${e.name}"))
        return idx.entries.map(e =>
          DeleteFile(s"$memoRel/${e.name}",
            if (e.bytes >= 0) e.bytes else dest.size(s"$memoRel/${e.name}"),
            e.rows, e.partValues, content = 1, e.seq, Nil))
      }
    }
    val (_, groups) = Tombstones.split(tombs, phys, snap.files, Some(repo.dataIO))
    if (groups.isEmpty) {
      dest.mkdirs(memoRel)
      dest.writeString(indexRel, Json.write(PosIndex(Nil)))
      return Nil
    }
    dest.mkdirs(memoRel)

    // one output slot per (tombstone group × partition tuple); slot
    // order is deterministic (group order, then tuple sort) so exported
    // manifests keep a stable layout across runs
    final case class Slot(gid: Int, pv: Map[String, String], seq: Long)
    val slots = Seq.newBuilder[Slot]
    // normalized scan path → (slot id, exact manifest URI): external
    // readers match delete rows to data files byte-for-byte, so
    // file_path must be the manifest's URI string, not Spark's
    // rendering of _metadata.file_path
    val fileTag = Seq.newBuilder[(String, Int, String)]
    var nextGid = 0
    val norm = (u: String) => u.replaceFirst("^file:/+", "file:///")
    val groupFrames = groups.map { case (files, gTombs) =>
      // positions are path-scoped, so any delete sequence at or above
      // the referenced files' works; the newest contributing
      // tombstone's is the honest one
      val seq = gTombs.map(_.seq).max + 1
      // deleted = ANY applicable tombstone predicate true (null-safe:
      // null = not matched = kept, SQL DELETE semantics)
      val delCond = gTombs.map(t =>
        coalesce(TableOps.filterToColumn(t.filter).getOrElse(
          throw new IllegalStateException(s"unevaluable tombstone: ${t.filter}")),
          lit(false))).reduce(_ || _)
      val tuples =
        if (specFields.nonEmpty)
          files.groupBy(_.partValues).toSeq.sortBy(_._1.toString)
        else Seq((Map.empty[String, String], files))
      tuples.foreach { case (pv, fs) =>
        val gid = nextGid; nextGid += 1
        slots += Slot(gid, pv, seq)
        fs.foreach { f =>
          val uri = repo.dataIO.uriOf(f.path)
          fileTag += ((norm(uri), gid, uri))
        }
      }
      // EXPLICIT physical schema, matching TableOps.readFiles: after an
      // ADD COLUMN a predicate on the new column must null-fill over
      // older files that lack it, exactly like the engine's own MoR read
      ParquetReadBridge.frame(s, TableOps.statusesOf(repo, files), phys)
        .where(delCond)
        .select(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "file:///")
            .as("__src"),
          col("_metadata.row_index").as("pos"))
    }

    import s.implicits._
    def idMeta(id: Long) =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    val tagDf = fileTag.result().toDF("__src", "__gid", "file_path")
    val tmp = Files.createTempDirectory("graft-ice-del")
    // repartition by slot id = each slot wholly in one task; partitionBy
    // then emits exactly one (file_path, pos)-sorted parquet per slot
    // directory, carrying the spec's reserved field ids (readers bind
    // the delete schema by id)
    // LEFT join + loud failure on an untagged source: an inner join
    // would silently DROP any scanned position whose normalized
    // _metadata.file_path disagrees with the uriOf rendering (scheme
    // authority / percent-encoding differences on a Hadoop-backed
    // repo) — missing delete rows mean external readers RESURRECT
    // MoR-deleted data. The DV path throws on the same mismatch
    // ("untagged delete source"); this is its distributed analog.
    groupFrames.reduce(_ union _)
      .join(broadcast(tagDf), Seq("__src"), "left")
      .select(
        org.apache.spark.sql.functions.when(col("__gid").isNull,
          org.apache.spark.sql.functions.raise_error(
            org.apache.spark.sql.functions.concat(
              lit("untagged delete source (path rendering mismatch): "),
              col("__src")))).otherwise(col("__gid")).as("__gid"),
        col("file_path").as("file_path",
          idMeta(IcebergImport.PosDeleteIds("file_path"))),
        col("pos").as("pos", idMeta(IcebergImport.PosDeleteIds("pos"))))
      .repartition(col("__gid"))
      .sortWithinPartitions("__gid", "file_path", "pos")
      .write.mode("overwrite").partitionBy("__gid").parquet(tmp.toString)

    val out = slots.result().flatMap { sl =>
      val dir = tmp.resolve(s"__gid=${sl.gid}")
      if (!Files.isDirectory(dir)) None // predicate matched nothing here
      else {
        val part = scala.util.Using.resource(Files.list(dir))(
          _.iterator().asScala
            .find(p => p.getFileName.toString.startsWith("part-") &&
              p.getFileName.toString.endsWith(".parquet")))
          .getOrElse(throw new IllegalStateException(s"no parquet in $dir"))
        val rows = parquetRowCount(s, part)
        if (rows == 0L) None
        else {
          val rel = s"$memoRel/${UUID.randomUUID()}-deletes.parquet"
          val size = Files.size(part)
          dest.uploadAtomic(part, rel)
          Some(DeleteFile(rel, size, rows, sl.pv, content = 1, sl.seq, Nil))
        }
      }
    }
    deleteRecursively(tmp)
    // publish the memo (index last: its presence certifies the files)
    dest.writeString(indexRel, Json.write(PosIndex(out.map(d =>
      PosEntry(d.rel.substring(d.rel.lastIndexOf('/') + 1), d.rows,
        if (d.partValues.isEmpty) None else Some(d.partValues), d.seq,
        d.size)))))
    out
  }

  /** Per-snapshot positional-delete memo record (see
    * [[writePositionDeletes]]): file name relative to the memo dir +
    * the manifest metadata needed to re-reference it without a scan.
    */
  // `bytes` is a primitive with a -1 "unknown" sentinel, NOT
  // Option[Long]: jackson-scala materializes Option[Long] as a boxed
  // Integer for small values and the unbox throws at use
  private final case class PosEntry(name: String, rows: Long,
      partitionValues: Option[Map[String, String]], seq: Long,
      bytes: Long = -1L) {
    def partValues: Map[String, String] =
      Option(partitionValues).flatten.getOrElse(Map.empty)
  }
  private final case class PosIndex(entries: Seq[PosEntry])

  // ---- deletion vectors (v3) -------------------------------------------

  /** Per-snapshot deletion-vector memo record (see
    * [[writeDeletionVectors]]): blob coordinates + manifest metadata,
    * so a sync re-emission or history export re-references the puffin
    * without a scan. Same primitive-sentinel conventions as
    * [[PosEntry]].
    */
  private final case class DvEntry(referencedUri: String, offset: Long,
      length: Long, rows: Long, seq: Long,
      partitionValues: Option[Map[String, String]]) {
    def partValues: Map[String, String] =
      Option(partitionValues).flatten.getOrElse(Map.empty)
  }
  private final case class DvIndex(puffin: String, bytes: Long,
      entries: Seq[DvEntry])

  /** v3 replacement for [[writePositionDeletes]]: matching positions
    * group per REFERENCED DATA FILE — the v3 rule is at most one DV
    * per data file, superseding all its position deletes — and land as
    * roaring-bitmap blobs in ONE puffin file per snapshot
    * (`data/dv-<id>/deletes.puffin`).
    *
    * Scale shape: the same single unioned Spark job as the v2 path
    * evaluates every tombstone group's predicate over its (stats/bloom
    * pre-pruned) file set; positions then shuffle ONCE keyed by data
    * file, and each file's bitmap is built and serialized
    * EXECUTOR-side ([[Puffin.Dv64]] — union/dedup across overlapping
    * tombstone groups falls out of bitmap idempotence). The driver
    * only streams the compressed blobs (`toLocalIterator`, one
    * partition in memory at a time) into the puffin in deterministic
    * file order and records their offsets — O(dirty files) blob bytes,
    * never the positions themselves. Memoized per graft snapshot like
    * the v2 memo: index.json published last, re-emissions touch +
    * reuse with zero Spark jobs.
    */
  private def writeDeletionVectors(s: SparkSession, repo: GraftRepo,
      snap: Snapshot, snapshotId: Long, phys: StructType,
      tombs: Seq[Tombstone], dest: DestIO,
      reuse: ReuseLedger): Seq[DeleteFile] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, regexp_replace}
    val memoRel = s"data/dv-${snap.id}"
    val indexRel = s"$memoRel/index.json"
    val puffinRel = s"$memoRel/deletes.puffin"
    def fromIndex(idx: DvIndex): Seq[DeleteFile] =
      idx.entries.map(e => DeleteFile(puffinRel, idx.bytes, e.rows,
        e.partValues, content = 1, e.seq, Nil, format = "PUFFIN",
        dv = Some(DvCoord(e.referencedUri, e.offset, e.length))))
    if (dest.isFile(indexRel)) {
      val idx = Json.read[DvIndex](dest.readString(indexRel))
      // reuse only a COMPLETE memo: an expire sweep can remove an
      // unreferenced puffin while index.json survives — recomputing
      // (index.json rewritten LAST) beats failing every retry until
      // the next sweep finally drops the index too. (No spec-mode
      // guard needed here: DV entries record each referenced file's
      // FULL partition values, not the emission's slot tuples.)
      if (idx.entries.isEmpty || dest.isFile(puffinRel)) {
        // shield the memo through this emission's reuse-to-publish
        // window (no cheap restorer — pre-publish re-verify fails
        // loudly if a sweep wins the race AFTER this point)
        Manifests.fanOut(
          indexRel +: (if (idx.entries.isEmpty) Nil else Seq(puffinRel)), 4)(
          dest.touch)
        if (idx.entries.nonEmpty) reuse.note(puffinRel)
        return fromIndex(idx)
      }
    }
    val (_, groups) = Tombstones.split(tombs, phys, snap.files, Some(repo.dataIO))
    dest.mkdirs(memoRel)
    if (groups.isEmpty) {
      dest.writeString(indexRel, Json.write(DvIndex("deletes.puffin", 0L, Nil)))
      return Nil
    }

    // per-referenced-file metadata: exact manifest URI, DV sequence
    // (max contributing tombstone's + 1 — a DV supersedes ALL position
    // deletes of its file, so the newest applicable ordering is the
    // honest one), and the file's partition tuple (DV entries carry
    // their referenced file's partition so readers prune them together)
    val norm = (u: String) => u.replaceFirst("^file:/+", "file:///")
    val fileInfo =
      scala.collection.mutable.Map.empty[String, (String, Long, Map[String, String])]
    val groupFrames = groups.map { case (files, gTombs) =>
      val seq = gTombs.map(_.seq).max + 1
      files.foreach { f =>
        val uri = repo.dataIO.uriOf(f.path)
        val k = norm(uri)
        fileInfo.get(k) match {
          case Some((u, s0, pv)) =>
            if (seq > s0) fileInfo(k) = (u, seq, pv)
          case None => fileInfo(k) = (uri, seq, f.partValues)
        }
      }
      val delCond = gTombs.map(t =>
        coalesce(TableOps.filterToColumn(t.filter).getOrElse(
          throw new IllegalStateException(s"unevaluable tombstone: ${t.filter}")),
          lit(false))).reduce(_ || _)
      ParquetReadBridge.frame(s, TableOps.statusesOf(repo, files), phys)
        .where(delCond)
        .select(
          regexp_replace(col("_metadata.file_path"), "^file:/+", "file:///")
            .as("__src"),
          col("_metadata.row_index").as("pos"))
    }
    import s.implicits._
    val blobs = groupFrames.reduce(_ union _)
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val dv = new Puffin.Dv64()
        it.foreach(t => dv.add(t._2))
        (src, dv.blob(), dv.cardinality)
      }
      .orderBy("_1") // deterministic puffin layout across runs

    val local = Files.createTempFile("graft-dv-", ".puffin")
    val entries = Seq.newBuilder[DvEntry]
    val metas = Seq.newBuilder[Puffin.BlobMeta]
    scala.util.Using.resource(new java.io.BufferedOutputStream(
      Files.newOutputStream(local))) { out =>
      out.write(Puffin.FileMagic)
      var off = Puffin.FileMagic.length.toLong
      blobs.toLocalIterator().asScala.foreach { case (srcKey, blob, card) =>
        val (uri, seq, pv) = fileInfo.getOrElse(srcKey,
          throw new IllegalStateException(s"untagged delete source $srcKey"))
        out.write(blob)
        entries += DvEntry(uri, off, blob.length.toLong, card, seq,
          if (pv.isEmpty) None else Some(pv))
        metas += Puffin.BlobMeta(snapshotId, seq, off, blob.length.toLong,
          uri, card)
        off += blob.length
      }
      out.write(Puffin.footer(metas.result()))
    }
    val es = entries.result()
    val idx =
      if (es.isEmpty) { // stats/bloom false positives: nothing matched
        Files.deleteIfExists(local)
        DvIndex("deletes.puffin", 0L, Nil)
      } else {
        val size = Files.size(local)
        dest.uploadAtomic(local, puffinRel)
        DvIndex("deletes.puffin", size, es)
      }
    // publish the memo (index last: its presence certifies the puffin)
    dest.writeString(indexRel, Json.write(idx))
    fromIndex(idx)
  }

  /** Exact row count from the parquet footer (no data scan). */
  private def parquetRowCount(s: SparkSession, p: Path): Long = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri),
        s.sessionState.newHadoopConf()))
    try rd.getRecordCount finally rd.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      scala.util.Using.resource(Files.list(p))(
        _.iterator().asScala.toList).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  // ---- Iceberg schema JSON (field ids 1..n, physical names) ------------

  private def icebergType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new UnsupportedOperationException(
      s"no Iceberg export mapping for ${other.simpleString}")
  }

  /** Iceberg type node (JSON string for primitives, object for
    * struct/list/map) plus the name-mapping child entries nested fields
    * need (empty for primitives), allocating nested field ids from
    * `next`. Mapping names follow the spec's canonical child names —
    * struct children by field name, `element` for list, `key`/`value`
    * for map — which bind Spark's parquet 3-level list / key_value
    * layout in every Iceberg reader's name-mapping resolver.
    */
  private def typeNode(dt: DataType, next: () => Int)
      : (JsonNode, Seq[JsonNode]) = dt match {
    case s: StructType =>
      // ids for all direct children first, then recurse — Iceberg's own
      // assignFreshIds order, keeps sibling ids contiguous
      val (fields, mapping) = structNodes(s, s.fields.map(_ => next()), next)
      (IcebergMeta.obj("type" -> "struct", "fields" -> fields), mapping)
    case a: ArrayType =>
      val eid = next()
      val (t, childMap) = typeNode(a.elementType, next)
      (IcebergMeta.obj("type" -> "list", "element-id" -> eid, "element" -> t,
        "element-required" -> !a.containsNull),
        Seq(mappingEntry(eid, "element", childMap)))
    case mt: MapType =>
      val kid = next()
      val (kt, kMap) = typeNode(mt.keyType, next)
      val vid = next()
      val (vt, vMap) = typeNode(mt.valueType, next)
      (IcebergMeta.obj("type" -> "map", "key-id" -> kid, "key" -> kt,
        "value-id" -> vid, "value" -> vt,
        "value-required" -> !mt.valueContainsNull),
        Seq(mappingEntry(kid, "key", kMap), mappingEntry(vid, "value", vMap)))
    case other => (IcebergMeta.tree(icebergType(other)), Nil)
  }

  /** The field nodes (graft columns are all optional) and name-mapping
    * entries of struct `s` whose fields take `ids`. */
  private def structNodes(s: StructType, ids: Seq[Int], next: () => Int)
      : (Seq[JsonNode], Seq[JsonNode]) =
    s.fields.toSeq.zip(ids).map { case (f, id) =>
      val (t, childMap) = typeNode(f.dataType, next)
      (IcebergMeta.obj("id" -> id, "name" -> f.name, "required" -> false,
        "type" -> t), mappingEntry(id, f.name, childMap))
    }.unzip

  private def mappingEntry(id: Int, name: String,
      children: Seq[JsonNode]): JsonNode =
    IcebergMeta.obj("field-id" -> id, "names" -> Seq(name),
      "fields" -> Option(children).filter(_.nonEmpty))

  /** Schema fields + name-mapping list + last allocated field id, built
    * in ONE deterministic traversal so every caller (metadata JSON, each
    * manifest's embedded schema, `schema.name-mapping.default`,
    * `last-column-id`) sees identical ids: top-level columns keep ids
    * 1..n (the ids equality-delete `equality_ids` and manifest stats
    * maps are keyed by), nested fields allocate n+1 onward.
    */
  private def schemaNodes(phys: StructType)
      : (Seq[JsonNode], Seq[JsonNode], Int) = {
    var lastId = phys.fields.length
    val (fields, mapping) = structNodes(phys, 1 to lastId,
      () => { lastId += 1; lastId })
    (fields, mapping, lastId)
  }

  /** The Iceberg schema graft serves for `phys`. Every table version is
    * served as schema id 0: the exported metadata carries one schema. */
  private[versioned] def icebergSchema(phys: StructType): IcebergMeta.Schema =
    IcebergMeta.Schema(0, IcebergMeta.tree(schemaNodes(phys)._1))

  private[versioned] def lastColumnId(phys: StructType): Int =
    schemaNodes(phys)._3

  /** Spec name-mapping (`schema.name-mapping.default`): parquet columns
    * carry no Iceberg field ids, so readers bind file columns to schema
    * ids BY NAME through this mapping (nested fields included).
    */
  private def nameMappingJson(phys: StructType): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(IcebergMeta.tree(schemaNodes(phys)._2))

  // ---- partition spec export -------------------------------------------

  /** Spec 0 of a table partitioned by `fields` over the LOGICAL `schema`
    * (a partition field's source is the logical column name, renamed with
    * its column): source ids are the top-level column ids, partition
    * field ids 1000 onward. */
  private[versioned] def partitionSpec(fields: Seq[PartitionField],
      schema: StructType): IcebergMeta.PartitionSpec =
    IcebergMeta.PartitionSpec(0, fields.zipWithIndex.map { case (pf, i) =>
      IcebergMeta.SpecField(pf.name, icebergTransform(pf),
        Some(schema.fieldIndex(pf.source) + 1), 1000 + i)
    })

  /** Iceberg transform name (spec's canonical singular forms; graft's
    * field model uses Iceberg's Java-API plural temporal names). */
  private def icebergTransform(pf: PartitionField): String = pf.transform match {
    case "identity" => "identity"
    case "bucket" => s"bucket[${pf.numBuckets}]"
    case "truncate" => s"truncate[${pf.numBuckets}]"
    case "years" => "year"
    case "months" => "month"
    case "days" => "day"
    case "hours" => "hour"
    case other => throw new UnsupportedOperationException(
      s"unknown transform: $other")
  }

  // ---- Avro layouts ----------------------------------------------------

  private def field(name: String, fieldId: Int, schema: Schema,
      optional: Boolean): Schema.Field = {
    val (s, dflt) =
      if (optional)
        (Schema.createUnion(Schema.create(Schema.Type.NULL), schema),
          Schema.Field.NULL_DEFAULT_VALUE)
      else (schema, null)
    val f = new Schema.Field(name, s, null, dflt)
    f.addProp("field-id", fieldId: Integer)
    f
  }
  private def s(t: Schema.Type): Schema = Schema.create(t)

  /** manifest_entry / r2 / r102 — the manifest record layout with the
    * required core columns (optional per-column stats omitted: absence
    * is spec-legal and readers fall back to scanning). The r102
    * partition record carries one OPTIONAL field per spec field, typed
    * by the transform result and id'd 1000+i to match the spec JSON —
    * the rows Iceberg-side partition pruning runs on. v2 adds the
    * entry's sequence-number pair, data_file.content, and drops v1's
    * block_size_in_bytes.
    */
  private def manifestEntrySchema(
      specFields: Seq[(PartitionField, PartitionCodec)], v: Int): Schema = {
    val partition = Schema.createRecord("r102", null, null, false)
    partition.setFields(java.util.List.of(
      specFields.zipWithIndex.map { case ((pf, codec), i) =>
        field(pf.name, 1000 + i, codec.avro, optional = true)
      }: _*))
    val dataFile = Schema.createRecord("r2", null, null, false)
    val dfFields = Seq.newBuilder[Schema.Field]
    if (v >= 2) dfFields += field("content", 134, s(Schema.Type.INT), optional = false)
    dfFields += field("file_path", 100, s(Schema.Type.STRING), optional = false)
    dfFields += field("file_format", 101, s(Schema.Type.STRING), optional = false)
    dfFields += field("partition", 102, partition, optional = false)
    dfFields += field("record_count", 103, s(Schema.Type.LONG), optional = false)
    dfFields += field("file_size_in_bytes", 104, s(Schema.Type.LONG), optional = false)
    if (v == 1)
      dfFields += field("block_size_in_bytes", 105, s(Schema.Type.LONG), optional = false)
    // per-column statistics maps (optional; Iceberg's avro encodes an
    // int-keyed map as an array of key/value records, logicalType map)
    def mapOf(recName: String, keyId: Int, valueId: Int,
        valueType: Schema.Type): Schema = {
      val rec = Schema.createRecord(recName, null, null, false)
      rec.setFields(java.util.List.of(
        field("key", keyId, s(Schema.Type.INT), optional = false),
        field("value", valueId, s(valueType), optional = false)))
      val arr = Schema.createArray(rec)
      arr.addProp("logicalType", "map")
      arr
    }
    dfFields += field("value_counts", 109,
      mapOf("k119_v120", 119, 120, Schema.Type.LONG), optional = true)
    dfFields += field("null_value_counts", 110,
      mapOf("k121_v122", 121, 122, Schema.Type.LONG), optional = true)
    dfFields += field("lower_bounds", 125,
      mapOf("k126_v127", 126, 127, Schema.Type.BYTES), optional = true)
    dfFields += field("upper_bounds", 128,
      mapOf("k129_v130", 129, 130, Schema.Type.BYTES), optional = true)
    if (v >= 2) {
      // spec field 135: schema field ids an equality delete references
      val arr = Schema.createArray(s(Schema.Type.INT))
      arr.addProp("element-id", 136: Integer)
      dfFields += field("equality_ids", 135, arr, optional = true)
    }
    if (v >= 3) {
      // v3 row lineage: entries stay null and inherit from the
      // manifest-list row's first_row_id (position-accumulated)
      dfFields += field("first_row_id", 142, s(Schema.Type.LONG), optional = true)
      // v3 deletion vectors: blob coordinates inside the puffin file +
      // the one data file the DV scopes to
      dfFields += field("referenced_data_file", 143,
        s(Schema.Type.STRING), optional = true)
      dfFields += field("content_offset", 144, s(Schema.Type.LONG), optional = true)
      dfFields += field("content_size_in_bytes", 145,
        s(Schema.Type.LONG), optional = true)
    }
    dataFile.setFields(java.util.List.of(dfFields.result(): _*))
    val entry = Schema.createRecord("manifest_entry", null, null, false)
    val eFields = Seq.newBuilder[Schema.Field]
    eFields += field("status", 0, s(Schema.Type.INT), optional = false)
    eFields += field("snapshot_id", 1, s(Schema.Type.LONG), optional = true)
    if (v >= 2) {
      eFields += field("sequence_number", 3, s(Schema.Type.LONG), optional = true)
      eFields += field("file_sequence_number", 4, s(Schema.Type.LONG), optional = true)
    }
    eFields += field("data_file", 2, dataFile, optional = false)
    entry.setFields(java.util.List.of(eFields.result(): _*))
    entry
  }

  private def shaHex(s: String): String = ChunkStore.shaHex(s)

  /** `entrySnapshotId` None ⇒ the entry's optional snapshot_id is
    * omitted and readers inherit it from the manifest-list row's
    * added_snapshot_id (the spec's inheritance rule) — REQUIRED for
    * chunk manifests, whose bytes must not depend on which snapshot
    * references them.
    */
  private def manifestBytes(entries: Seq[MEntry],
      entrySnapshotId: Option[Long], schema: IcebergMeta.Schema,
      specFields: Seq[(PartitionField, PartitionCodec)],
      specFieldsJson: String, v: Int, manifestContent: String,
      specId: Int): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val entrySchema = manifestEntrySchema(specFields, v)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    writer.setMeta("schema", schema.json)
    writer.setMeta("schema-id", schema.id.toString)
    writer.setMeta("partition-spec", specFieldsJson)
    writer.setMeta("partition-spec-id", specId.toString)
    writer.setMeta("format-version", v.toString)
    writer.setMeta("content", manifestContent)
    writer.create(entrySchema, bo)
    try {
      val dfSchema = entrySchema.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      entries.foreach { me =>
        val df = new GenericData.Record(dfSchema)
        if (v >= 2) df.put("content", me.content)
        df.put("file_path", me.uri)
        df.put("file_format", me.format)
        if (v >= 3) me.dv.foreach { c =>
          df.put("referenced_data_file", c.referencedUri)
          df.put("content_offset", c.offset)
          df.put("content_size_in_bytes", c.length)
        }
        val part = new GenericData.Record(partSchema)
        specFields.foreach { case (pf, codec) =>
          // export() guarantees every live data file records every
          // field; a delete file inherits its referenced data file's
          // values (absent only in the unpartitioned-spec case, where
          // the record has no fields)
          val raw = me.partValues(pf.name)
          part.put(pf.name,
            if (raw == Partitioning.NullMarker) null else codec.toManifest(raw))
        }
        df.put("partition", part)
        df.put("record_count", me.rows)
        df.put("file_size_in_bytes", me.size)
        if (v == 1) df.put("block_size_in_bytes", 64L << 20)
        me.stats.foreach { st =>
          def kv[T](name: String, m: Map[Int, T])(conv: T => Any): Unit =
            if (m.nonEmpty) {
              val recSchema = dfSchema.getField(name).schema()
                .getTypes.asScala.find(_.getType == Schema.Type.ARRAY)
                .get.getElementType
              df.put(name, java.util.List.of(m.toSeq.sortBy(_._1).map {
                case (k, x) =>
                  val r = new GenericData.Record(recSchema)
                  r.put("key", k); r.put("value", conv(x)); r
              }: _*))
            }
          kv("value_counts", st.valueCounts)(identity)
          kv("null_value_counts", st.nullCounts)(identity)
          kv("lower_bounds", st.lower)(java.nio.ByteBuffer.wrap(_))
          kv("upper_bounds", st.upper)(java.nio.ByteBuffer.wrap(_))
        }
        if (v >= 2 && me.equalityIds.nonEmpty)
          df.put("equality_ids",
            java.util.List.of(me.equalityIds.map(Int.box): _*))
        val e = new GenericData.Record(entrySchema)
        entrySnapshotId match {
          case None =>
            // chunk manifests omit entry ids: readers inherit ADDED-by
            // from the list row (the spec's inheritance rule)
            e.put("status", 1)
          case Some(sid) =>
            // explicit attribution: files first seen by an OLDER
            // exported version are EXISTING here, so incremental
            // append consumers never re-read carried-over files
            val adder = if (me.addedBy == -1L) sid else me.addedBy
            e.put("status", if (adder == sid) 1 else 0)
            e.put("snapshot_id", Long.box(adder))
        }
        if (v >= 2) {
          // explicit per-entry sequences (graft commit seq + 1): the
          // strictly-older equality rule and the at-or-older positional
          // rule both need real data sequence ordering inside the one
          // exported snapshot
          e.put("sequence_number", me.seq)
          e.put("file_sequence_number", me.seq)
        }
        e.put("data_file", df)
        writer.append(e)
      }
    } finally writer.close()
    bo.toByteArray
  }

  /** manifest_file — the manifest-list record layout. v2 adds content /
    * sequence_number / min_sequence_number and makes the counts
    * required (spec names: *_files_count; v1 keeps the legacy
    * *_data_files_count names).
    */
  private def manifestFileSchema(v: Int): Schema = {
    val rec = Schema.createRecord("manifest_file", null, null, false)
    val fs = Seq.newBuilder[Schema.Field]
    fs += field("manifest_path", 500, s(Schema.Type.STRING), optional = false)
    fs += field("manifest_length", 501, s(Schema.Type.LONG), optional = false)
    fs += field("partition_spec_id", 502, s(Schema.Type.INT), optional = false)
    if (v >= 2) {
      fs += field("content", 517, s(Schema.Type.INT), optional = false)
      fs += field("sequence_number", 515, s(Schema.Type.LONG), optional = false)
      fs += field("min_sequence_number", 516, s(Schema.Type.LONG), optional = false)
    }
    val opt = v == 1 // counts optional in v1, required in v2
    val n = if (v == 1) "_data_files_count" else "_files_count"
    fs += field("added_snapshot_id", 503, s(Schema.Type.LONG), optional = true)
    fs += field(s"added$n", 504, s(Schema.Type.INT), optional = opt)
    fs += field(s"existing$n", 505, s(Schema.Type.INT), optional = opt)
    fs += field(s"deleted$n", 506, s(Schema.Type.INT), optional = opt)
    fs += field("added_rows_count", 512, s(Schema.Type.LONG), optional = opt)
    fs += field("existing_rows_count", 513, s(Schema.Type.LONG), optional = opt)
    fs += field("deleted_rows_count", 514, s(Schema.Type.LONG), optional = opt)
    // v3 row lineage: the first row id assigned to this (data)
    // manifest; null for delete manifests, which consume no ids
    if (v >= 3)
      fs += field("first_row_id", 520, s(Schema.Type.LONG), optional = true)
    rec.setFields(java.util.List.of(fs.result(): _*))
    rec
  }

  private def manifestListBytes(dest: DestIO, snapshotId: Long, v: Int,
      manifests: Seq[MRow]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val schema = manifestFileSchema(v)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    writer.setMeta("snapshot-id", snapshotId.toString)
    writer.setMeta("format-version", v.toString)
    writer.create(schema, bo)
    val n = if (v == 1) "_data_files_count" else "_files_count"
    try manifests.foreach { m =>
      val r = new GenericData.Record(schema)
      r.put("manifest_path", dest.uriOf(m.rel))
      r.put("manifest_length", m.len)
      r.put("partition_spec_id", m.specId)
      if (v >= 2) {
        r.put("content", m.content)
        r.put("sequence_number", m.seq)
        r.put("min_sequence_number", m.minSeq)
      }
      // the snapshot that FIRST wrote the manifest — reused chunk
      // manifests keep their original attribution, and their entries
      // (snapshot_id omitted) inherit it
      r.put("added_snapshot_id", m.addedSnapshotId)
      r.put(s"added$n", m.addedFiles)
      r.put(s"existing$n", m.existingFiles)
      r.put(s"deleted$n", 0)
      r.put("added_rows_count", m.addedRows)
      r.put("existing_rows_count", m.existingRows)
      r.put("deleted_rows_count", 0L)
      if (v >= 3) m.firstRowId.foreach(fr => r.put("first_row_id", Long.box(fr)))
      writer.append(r)
    } finally writer.close()
    bo.toByteArray
  }

  // ---- export-dir retention (CALL iceberg_export_expire) ---------------

  /** Expire old metadata versions of an export/sync destination, keeping
    * the newest `keepVersions`. Sync mode appends a metadata version per
    * commit, and chunk/delete files are shared across versions — this is
    * the follower-side analog of Iceberg's `expire_snapshots` +
    * `remove_orphan_files`: drop the old `v<N>.metadata.json`s, then
    * delete every manifest-list/manifest avro and delete-parquet under
    * the dest that no KEPT version references (shared chunk manifests
    * referenced by a kept version survive; graft's own data files live
    * in the repo, outside the dest, and are never touched). Returns
    * (metadata files deleted, delete files deleted).
    *
    * Files reachable ONLY from the expired (dead) versions are
    * known-published superseded history and are deleted at any age.
    * `olderThanMs` (default 10 min, mirroring
    * [[GraftRepo.expireSnapshots]]'s guard) spares UNREFERENCED files
    * younger than the cutoff: a CONCURRENT export/sync emission writes
    * chunk manifests and delete parquets BEFORE the metadata version
    * that references them appears, and an unguarded sweep would delete
    * them mid-publish. In-flight `.tmp-*` names are always excluded.
    * Pass 0 only when no export to this dest can be in flight; even
    * with the guard, do not let a single emission straddle the window,
    * and note a concurrent emission REUSING a dead-only chunk manifest
    * still races the sweep (same straddle caveat). A version file, list
    * or manifest that is missing is skipped as vanished; any other read
    * failure throws before the sweep deletes anything.
    */
  def expireDest(dest: Path, keepVersions: Int,
      olderThanMs: Long = 600000L): (Int, Int) =
    expireDest(new NioDestIO(dest): DestIO, keepVersions, olderThanMs)

  /** String-dest form (URI scheme → Hadoop FileSystem, like
    * [[exportTo]]). */
  def expireDestAt(dest: String, keepVersions: Int,
      olderThanMs: Long): (Int, Int) =
    expireDest(DestIO.of(dest), keepVersions, olderThanMs)

  private[graft] def expireDest(dest: DestIO, keepVersions: Int,
      olderThanMs: Long): (Int, Int) = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val cutoff = System.currentTimeMillis() - olderThanMs
    def sweepable(rel: String): Boolean =
      !rel.substring(rel.lastIndexOf('/') + 1).startsWith(".tmp-") &&
        (try dest.mtimeMs(rel) <= cutoff // <= : olderThanMs=0 means "now"
        catch { case _: Exception => false })
    if (!dest.isDirectory("metadata")) return (0, 0)
    val versions = IcebergSync.versionsOf(dest).sorted
    val kept = versions.takeRight(keepVersions)
    val dead = versions.dropRight(keepVersions)

    // everything a version set can reach: manifest lists → manifests →
    // (delete manifests only) delete files under dest — all as
    // dest-relative paths (URIs outside the dest are never swept anyway).
    // A file missing here vanished under a concurrent sweep and is
    // skipped; any other read failure aborts the sweep before it deletes
    // anything — a kept version whose files could not be read would
    // leave them unreferenced, and the sweep would delete live files.
    def present(rel: String): Option[Array[Byte]] =
      try Some(dest.readBytes(rel))
      catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.io.FileNotFoundException => None
      }
    // decoded entry paths are local paths for `file:` locations
    def relOfFile(loc: String): Option[String] = dest.relOf(
      if (DestIO.hasScheme(loc)) loc
      else java.nio.file.Paths.get(loc).toUri.toString)
    def reach(vs: Seq[Int]): scala.collection.mutable.Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      vs.foreach { v =>
        present(s"metadata/v$v.metadata.json").foreach { b =>
          val meta = IcebergMeta.parse(new String(b, StandardCharsets.UTF_8))
          meta.snapshots.foreach { snap =>
            dest.relOf(snap.manifestList).foreach { list =>
              out += list
              present(list).toSeq.flatMap(IcebergMeta.manifestFiles)
                .foreach { m =>
                  dest.relOf(m.path).foreach { rel =>
                    out += rel
                    if (m.content == 1) present(rel).toSeq
                      .flatMap(IcebergMeta.entries(_, m))
                      .foreach(e => relOfFile(e.file(meta.formatVersion).path)
                        .foreach(out += _))
                  }
                }
            }
          }
        }
      }
      out
    }
    val referenced = reach(kept)
    // Files reachable only from DEAD versions are superseded history,
    // but they get the same age guard as true orphans: a concurrent
    // emission's chunk-manifest REUSE check may have just accepted such
    // a file whose new referencing metadata version hasn't published
    // yet — an any-age sweep would delete it in that window. So the
    // sweeps below need only (not referenced) && sweepable; the guard
    // bounds reclamation delay, never safety.

    val avroCandidates = dest.listNames("metadata")
      .filter(_.endsWith(".avro")).map(n => s"metadata/$n")
      .filterNot(referenced.contains)
      .filter(sweepable)
    val dataCandidates =
      if (!dest.isDirectory("data")) Nil
      else dest.walkFiles("data")
        .filter(r => r.endsWith("-deletes.parquet") || r.endsWith(".puffin"))
        .filterNot(referenced.contains)
        .filter(sweepable)
    // pre-delete reference RE-CHECK: a sync emission may have published
    // a new metadata version between the reachability walk above and
    // this point, referencing "unreferenced" candidates it reused. The
    // mtime touch-on-reuse shield covers that window on backends whose
    // setTimes works; backends where it is a silent no-op (s3a) skip
    // the touch and rely on this re-check instead. The residual race is
    // reuse-accepted-but-metadata-not-yet-published at re-check time —
    // the same straddle caveat the age guard documents.
    val lateRefs: scala.collection.Set[String] =
      if (avroCandidates.isEmpty && dataCandidates.isEmpty) Set.empty
      else {
        val late = IcebergSync.versionsOf(dest).filterNot(versions.contains)
        if (late.isEmpty) Set.empty else reach(late.sorted)
      }
    var metaDeleted = 0
    // superseded version files are safe at any age (they are OLD by
    // construction); the orphan sweeps below are what need the guard
    dead.foreach { v =>
      if (dest.delete(s"metadata/v$v.metadata.json")) metaDeleted += 1
    }
    avroCandidates.filterNot(lateRefs.contains)
      .foreach { rel => if (dest.delete(rel)) metaDeleted += 1 }

    var delDeleted = 0
    if (dest.isDirectory("data")) {
      dataCandidates.filterNot(lateRefs.contains)
        .foreach { rel => if (dest.delete(rel)) delDeleted += 1 }
      // memo dirs whose files are all gone: drop the index + dir (a
      // future export of that snapshot recomputes). Young dirs are an
      // in-flight emission's staging — leave them alone (object-store
      // backends without real dir mtimes treat them as always ripe;
      // their file-level guards above still hold).
      dest.listNames("data")
        .filter(n => n.startsWith("pos-") || n.startsWith("dv-"))
        .map(n => s"data/$n")
        .filter(d => dest.isDirectory(d) &&
          (try dest.mtimeMs(d) <= cutoff catch { case _: Exception => true }))
        .foreach { d =>
          val live = dest.listNames(d)
            .exists(n => n.endsWith("-deletes.parquet") || n.endsWith(".puffin"))
          if (!live) {
            dest.delete(s"$d/index.json")
            if (dest.listNames(d).isEmpty) dest.delete(d)
          }
        }
    }
    (metaDeleted, delDeleted)
  }
}
