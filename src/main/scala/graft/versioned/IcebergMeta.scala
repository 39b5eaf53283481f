package graft.versioned

import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.types.DataType

import IcebergImport.{DataFile, DeleteFile, DvRef, IceFile}

/** The Iceberg metadata format in one place: the spec's table-metadata
  * document (https://iceberg.apache.org/spec/#table-metadata) and the
  * read side of its manifests (https://iceberg.apache.org/spec/#manifests).
  *
  * [[Table]] models one table-metadata file with one [[parse]] and one
  * [[render]]: the exporter and the REST server write through `render`;
  * import, the REST server, sync and export expiry read through
  * `parse`. A manifest-list row ([[manifestFiles]]) and a manifest entry
  * ([[entries]]) decode here once each, with the spec's inheritance of
  * sequence number and snapshot id applied in one place; a manifest's
  * partition values have one codec ([[partitionCodec]]). Callers keep
  * their own I/O and hand over bytes. The files on disk stay the served
  * truth; only the code that writes and reads them is shared.
  */
object IcebergMeta {

  private val mapper = new ObjectMapper()

  /** One schema: its id and its `fields` array. Field types stay JSON
    * (the spec's type nodes), read by [[IcebergImport.structOf]]. */
  final case class Schema(id: Int, fields: JsonNode) {
    /** The schema's struct node as metadata carries it. */
    def node: ObjectNode =
      obj("type" -> "struct", "schema-id" -> id, "fields" -> fields)
    /** Compact JSON of [[node]] (a manifest's `schema` key-value). */
    def json: String = mapper.writeValueAsString(node)
  }

  /** One partition field; `sourceId` is None when the field names its
    * source otherwise (a v3 multi-argument `source-ids`). */
  final case class SpecField(name: String, transform: String,
      sourceId: Option[Int], fieldId: Int)
  final case class PartitionSpec(id: Int, fields: Seq[SpecField])
  /** A sort order; its fields stay JSON (graft serves orders as advisory). */
  final case class SortOrder(id: Int, fields: JsonNode)
  /** The unsorted order, id 0 — the only one graft serves. */
  val Unsorted: SortOrder = SortOrder(0, mapper.createArrayNode())

  /** One snapshot. `summary` is None when the file has none (optional in
    * v1); `sequenceNumber` is None in v1 metadata, `firstRowId` below v3;
    * `manifestListAt` is None for a v1 snapshot that lists its manifests
    * inline (`manifests`), which graft does not read. */
  final case class Snapshot(id: Long, parentId: Option[Long],
      sequenceNumber: Option[Long], firstRowId: Option[Long],
      timestampMs: Long, summary: Option[ListMap[String, String]],
      manifestListAt: Option[String], schemaId: Option[Int]) {
    def operation: Option[String] = summary.flatMap(_.get("operation"))
    /** The manifest list's location; a snapshot without one refuses here,
      * when a reader needs it. */
    def manifestList: String = manifestListAt.getOrElse(
      throw new IllegalArgumentException(s"snapshot $id carries no manifest-list"))
  }

  /** A named ref: `kind` is `branch` or `tag`. */
  final case class Ref(snapshotId: Long, kind: String)

  /** One table-metadata document. `lastSequenceNumber` is None in v1
    * metadata and `nextRowId` below v3; `snapshotLog` holds
    * (timestamp-ms, snapshot-id) and `metadataLog` (timestamp-ms,
    * metadata-file) pairs. */
  final case class Table(formatVersion: Int, uuid: String, location: String,
      lastSequenceNumber: Option[Long], nextRowId: Option[Long],
      lastUpdatedMs: Long, lastColumnId: Int,
      schemas: Seq[Schema], currentSchemaId: Int,
      specs: Seq[PartitionSpec], defaultSpecId: Int, lastPartitionId: Int,
      sortOrders: Seq[SortOrder], defaultSortOrderId: Int,
      properties: ListMap[String, String], currentSnapshotId: Option[Long],
      refs: ListMap[String, Ref], snapshots: Seq[Snapshot],
      snapshotLog: Seq[(Long, Long)], metadataLog: Seq[(Long, String)]) {
    def currentSchema: Schema = schemas.find(_.id == currentSchemaId)
      .getOrElse(throw new IllegalArgumentException("metadata has no schema"))
    /** The snapshot with `id`; an unknown id refuses. */
    def snapshot(id: Long): Snapshot = snapshots.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot-id $id not in snapshots"))
  }

  // ---- parse -----------------------------------------------------------

  private def opt(n: JsonNode, f: String): Option[JsonNode] =
    Option(n.get(f)).filterNot(_.isNull)
  private def elems(n: JsonNode, f: String): Seq[JsonNode] =
    opt(n, f).toSeq.flatMap(_.elements().asScala)
  private def req(n: JsonNode, f: String, what: String): JsonNode =
    opt(n, f).getOrElse(throw new IllegalArgumentException(
      s"$what carries no $f"))

  /** Parse a table-metadata document. Tolerates foreign v1/v2/v3 files:
    * the v1 legacy `schema` and `partition-spec`, a missing summary, a
    * missing or -1 `current-snapshot-id`, and incomplete parts that no
    * reader uses (a snapshot without `manifest-list`, a partition field
    * without `source-id`; refs and log entries missing a field drop).
    * Refuses an unsupported format version and a document without its
    * current schema. */
  def parse(json: String): Table = {
    val m = mapper.readTree(json)
    val v = opt(m, "format-version").map(_.asInt()).getOrElse(0)
    require(v == 1 || v == 2 || v == 3,
      s"unsupported Iceberg format-version: $v")
    val current = opt(m, "current-schema-id").map(_.asInt()).getOrElse(0)
    def schemaOf(n: JsonNode) = Schema(
      opt(n, "schema-id").map(_.asInt()).getOrElse(current),
      opt(n, "fields").getOrElse(
        throw new IllegalArgumentException("schema carries no 'fields'")))
    val listed = elems(m, "schemas").map(schemaOf)
    val schemas =
      if (listed.exists(_.id == current)) listed
      else listed ++ opt(m, "schema").map(n => schemaOf(n).copy(id = current))
    val specs = opt(m, "partition-specs") match {
      case Some(a) => a.elements().asScala.toSeq.map(s => PartitionSpec(
        opt(s, "spec-id").map(_.asInt()).getOrElse(0),
        specFields(elems(s, "fields"))))
      case None => Seq(PartitionSpec(0, specFields(elems(m, "partition-spec"))))
    }
    val t = Table(v,
      opt(m, "table-uuid").map(_.asText()).getOrElse(""),
      opt(m, "location").map(_.asText()).getOrElse(""),
      opt(m, "last-sequence-number").map(_.asLong()),
      opt(m, "next-row-id").map(_.asLong()),
      opt(m, "last-updated-ms").map(_.asLong()).getOrElse(0L),
      opt(m, "last-column-id").map(_.asInt()).getOrElse(0),
      schemas, current, specs,
      opt(m, "default-spec-id").map(_.asInt()).getOrElse(0),
      opt(m, "last-partition-id").map(_.asInt()).getOrElse(999),
      elems(m, "sort-orders").map(o => SortOrder(
        opt(o, "order-id").map(_.asInt()).getOrElse(0),
        opt(o, "fields").getOrElse(mapper.createArrayNode()))),
      opt(m, "default-sort-order-id").map(_.asInt()).getOrElse(0),
      textMap(opt(m, "properties")),
      opt(m, "current-snapshot-id").map(_.asLong()).filter(_ != -1L),
      ListMap.from(opt(m, "refs").toSeq.flatMap(_.fields().asScala).flatMap(e =>
        opt(e.getValue, "snapshot-id").map(id => e.getKey -> Ref(id.asLong(),
          opt(e.getValue, "type").map(_.asText()).getOrElse("branch"))))),
      elems(m, "snapshots").map(parseSnapshot),
      elems(m, "snapshot-log").flatMap(e => for {
        ts <- opt(e, "timestamp-ms"); id <- opt(e, "snapshot-id")
      } yield ts.asLong() -> id.asLong()),
      elems(m, "metadata-log").flatMap(e => for {
        ts <- opt(e, "timestamp-ms"); f <- opt(e, "metadata-file")
      } yield ts.asLong() -> f.asText()))
    t.currentSchema // refuses a document without its current schema
    t
  }

  /** The fields of one partition spec; a field without a name or a
    * transform gets "", one without a field id the spec's 1000-onward
    * default. */
  def specFields(fs: Seq[JsonNode]): Seq[SpecField] =
    fs.zipWithIndex.map { case (f, i) =>
      SpecField(opt(f, "name").map(_.asText()).getOrElse(""),
        opt(f, "transform").map(_.asText()).getOrElse(""),
        opt(f, "source-id").map(_.asInt()),
        opt(f, "field-id").map(_.asInt()).getOrElse(1000 + i))
    }

  /** A JSON object of scalars as an ordered string map (null values drop). */
  private def textMap(n: Option[JsonNode]): ListMap[String, String] =
    ListMap.from(n.toSeq.flatMap(_.fields().asScala)
      .filterNot(_.getValue.isNull).map(e => e.getKey -> e.getValue.asText()))

  /** One snapshot object — of a metadata file's `snapshots`, or the one a
    * REST commit's `add-snapshot` posts. */
  def parseSnapshot(s: JsonNode): Snapshot = Snapshot(
    req(s, "snapshot-id", "snapshot").asLong(),
    opt(s, "parent-snapshot-id").map(_.asLong()),
    opt(s, "sequence-number").map(_.asLong()),
    opt(s, "first-row-id").map(_.asLong()),
    opt(s, "timestamp-ms").map(_.asLong()).getOrElse(0L),
    opt(s, "summary").map(n => textMap(Some(n))),
    opt(s, "manifest-list").map(_.asText()),
    opt(s, "schema-id").map(_.asInt()))

  // ---- render ----------------------------------------------------------

  /** An object node of `kvs` in order; None values are left out. */
  private[versioned] def obj(kvs: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.foreach {
      case (_, None) => ()
      case (k, Some(x)) => o.set[JsonNode](k, tree(x))
      case (k, x) => o.set[JsonNode](k, tree(x))
    }
    o
  }

  /** JSON of a node, ordered map, sequence or scalar. */
  private[versioned] def tree(x: Any): JsonNode = x match {
    case n: JsonNode => n
    case m: collection.Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, y) => o.set[JsonNode](k.toString, tree(y)) }
      o
    case s: Seq[_] =>
      val a = mapper.createArrayNode()
      s.foreach(y => a.add(tree(y)))
      a
    case other => mapper.valueToTree[JsonNode](other)
  }

  private def specFieldsNode(fs: Seq[SpecField]): JsonNode =
    tree(fs.map(f => obj("name" -> f.name, "transform" -> f.transform,
      "source-id" -> f.sourceId, "field-id" -> f.fieldId)))

  /** Compact JSON of a spec's fields (a manifest's `partition-spec`). */
  def specFieldsJson(fs: Seq[SpecField]): String =
    mapper.writeValueAsString(specFieldsNode(fs))

  /** The document [[render]] writes, as a tree. v1 documents also carry
    * the legacy single `schema` and `partition-spec`. */
  def node(t: Table): ObjectNode = {
    val v1 = t.formatVersion == 1
    obj("format-version" -> t.formatVersion, "table-uuid" -> t.uuid,
      "location" -> t.location,
      "last-sequence-number" -> t.lastSequenceNumber,
      "next-row-id" -> t.nextRowId, "last-updated-ms" -> t.lastUpdatedMs,
      "last-column-id" -> t.lastColumnId,
      "schema" -> Option.when(v1)(t.currentSchema.node),
      "schemas" -> t.schemas.map(_.node),
      "current-schema-id" -> t.currentSchemaId,
      "partition-spec" -> Option.when(v1)(specFieldsNode(
        t.specs.find(_.id == t.defaultSpecId).toSeq.flatMap(_.fields))),
      "partition-specs" -> t.specs.map(s =>
        obj("spec-id" -> s.id, "fields" -> specFieldsNode(s.fields))),
      "default-spec-id" -> t.defaultSpecId,
      "last-partition-id" -> t.lastPartitionId,
      "sort-orders" -> t.sortOrders.map(o =>
        obj("order-id" -> o.id, "fields" -> o.fields)),
      "default-sort-order-id" -> t.defaultSortOrderId,
      "properties" -> t.properties,
      "current-snapshot-id" -> t.currentSnapshotId.getOrElse(-1L),
      "refs" -> t.refs.map { case (n, r) =>
        n -> obj("snapshot-id" -> r.snapshotId, "type" -> r.kind) },
      "snapshots" -> t.snapshots.map(s => obj("snapshot-id" -> s.id,
        "parent-snapshot-id" -> s.parentId,
        "sequence-number" -> s.sequenceNumber,
        "first-row-id" -> s.firstRowId, "timestamp-ms" -> s.timestampMs,
        "summary" -> s.summary, "manifest-list" -> s.manifestListAt,
        "schema-id" -> s.schemaId)),
      "snapshot-log" -> t.snapshotLog.map { case (ts, id) =>
        obj("timestamp-ms" -> ts, "snapshot-id" -> id) },
      "metadata-log" -> t.metadataLog.map { case (ts, f) =>
        obj("timestamp-ms" -> ts, "metadata-file" -> f) })
  }

  /** The table-metadata file's text (pretty-printed, spec key order). */
  def render(t: Table): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node(t))

  /** One served view-metadata document (view spec format 1) with a single
    * version (id 1) holding the `spark`-dialect SQL. */
  final case class View(uuid: String, location: String, timestampMs: Long,
      schema: Schema, sql: String, defaultCatalog: Option[String],
      defaultNamespace: Seq[String], properties: Map[String, String])

  def renderView(vw: View): Array[Byte] = mapper.writeValueAsBytes(obj(
    "view-uuid" -> vw.uuid, "format-version" -> 1, "location" -> vw.location,
    "current-version-id" -> 1,
    "versions" -> Seq(obj("version-id" -> 1, "timestamp-ms" -> vw.timestampMs,
      "schema-id" -> vw.schema.id, "summary" -> Map("engine-name" -> "graft"),
      "representations" ->
        Seq(obj("type" -> "sql", "sql" -> vw.sql, "dialect" -> "spark")),
      "default-catalog" -> vw.defaultCatalog,
      "default-namespace" -> vw.defaultNamespace)),
    "version-log" ->
      Seq(obj("timestamp-ms" -> vw.timestampMs, "version-id" -> 1)),
    "schemas" -> Seq(vw.schema.node), "properties" -> vw.properties))

  // ---- manifests -------------------------------------------------------

  /** The records of one avro container file, from its bytes — the one
    * container reader behind manifest lists and manifests. */
  private def avroRecords(bytes: Array[Byte]): Seq[GenericRecord] = {
    val rd = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try rd.iterator().asScala.toList finally rd.close()
  }

  /** A record's field, None when the schema lacks it or it is null. */
  private def field(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
  private def long(x: AnyRef): Long = x.asInstanceOf[Number].longValue()
  private def int(x: AnyRef): Int = x.asInstanceOf[Number].intValue()

  /** One manifest-list row. `path` is the manifest's location as written;
    * `content` 0 = data, 1 = deletes (v1 lists have only data);
    * `sequenceNumber` is 0 in v1 lists; `deletedFiles` is the optional
    * deleted-files count (v1 `deleted_data_files_count`). */
  final case class ManifestFile(path: String, content: Int,
      sequenceNumber: Long, addedSnapshotId: Option[Long],
      deletedFiles: Option[Int])

  def manifestFiles(listBytes: Array[Byte]): Seq[ManifestFile] =
    avroRecords(listBytes).map { r =>
      ManifestFile(r.get("manifest_path").toString,
        field(r, "content").map(int).getOrElse(0),
        field(r, "sequence_number").map(long).getOrElse(0L),
        field(r, "added_snapshot_id").map(long),
        field(r, "deleted_files_count")
          .orElse(field(r, "deleted_data_files_count")).map(int))
    }

  /** One manifest entry with the spec's inheritance applied: a null
    * `snapshot_id` inherits the list row's `added_snapshot_id`, a null
    * `sequence_number` the list row's sequence number. `status`: 0 =
    * EXISTING, 1 = ADDED, 2 = DELETED. */
  final class Entry private[IcebergMeta] (val status: Int,
      val snapshotId: Option[Long], val sequenceNumber: Long,
      dataFile: GenericRecord) {
    def added: Boolean = status == 1
    def deleted: Boolean = status == 2
    /** The entry's `data_file`, decoded in a format-version `v` table. */
    def file(v: Int): IceFile = decodeFile(dataFile, sequenceNumber, v)
  }

  /** The entries of the manifest `m` names, from its bytes. */
  def entries(manifestBytes: Array[Byte], m: ManifestFile): Seq[Entry] =
    avroRecords(manifestBytes).map { e =>
      new Entry(int(e.get("status")),
        field(e, "snapshot_id").map(long).orElse(m.addedSnapshotId),
        field(e, "sequence_number").map(long).getOrElse(m.sequenceNumber),
        e.get("data_file").asInstanceOf[GenericRecord])
    }

  /** The one decoder of a manifest entry's `data_file` record, at data
    * sequence number `seq` in a format-version `v` table. Every read of
    * the file plans from its `file_size_in_bytes`, so a missing or
    * negative size refuses. PARQUET, ORC and AVRO files (and PUFFIN
    * deletion vectors in v3) decode; any other format is a loud
    * refusal, never a silent mis-read.
    */
  private def decodeFile(df: GenericRecord, seq: Long, v: Int): IceFile = {
    val path = toLocal(df.get("file_path").toString)
    val fmt = df.get("file_format").toString.toUpperCase
    val content = field(df, "content").map(int).getOrElse(0)
    val bytes = field(df, "file_size_in_bytes").map(long).filter(_ >= 0L)
      .getOrElse(throw new IllegalArgumentException(
        s"manifest entry without a valid file_size_in_bytes: $path"))
    require(fmt == "PARQUET" || fmt == "ORC" || fmt == "AVRO" ||
      (content == 1 && fmt == "PUFFIN"),
      s"unsupported ${if (content == 0) "data" else "delete"} file " +
        s"format: $fmt ($path)")
    content match {
      case 0 =>
        val part = field(df, "partition").map { p =>
          val r = p.asInstanceOf[GenericRecord]
          r.getSchema.getFields.asScala.map { f =>
            f.name() -> (r.get(f.name()) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case other => other
            })
          }.toMap
        }.getOrElse(Map.empty[String, Any])
        DataFile(path, seq, bytes, fmt, part)
      case 1 if fmt == "PUFFIN" =>
        // v3 DELETION VECTOR: a blob inside a Puffin file scoped to
        // exactly one data file (replaces that file's position deletes);
        // the manifest carries the blob coordinates
        require(v >= 3,
          s"PUFFIN deletion vector in a format-version $v table ($path)")
        def dvField(n: String): AnyRef = field(df, n).getOrElse(
          throw new IllegalArgumentException(s"deletion vector without $n: $path"))
        DeleteFile(path, 1, seq, Nil, bytes, fmt, Some(DvRef(
          toLocal(dvField("referenced_data_file").toString),
          long(dvField("content_offset")), long(dvField("content_size_in_bytes")))))
      case 1 => DeleteFile(path, 1, seq, Nil, bytes, fmt)
      case 2 =>
        val ids = field(df, "equality_ids").map {
          case l: java.util.List[_] =>
            l.asScala.map(_.asInstanceOf[Number].intValue()).toSeq
          case other => throw new IllegalArgumentException(
            s"bad equality_ids $other for $path")
        }.getOrElse(throw new UnsupportedOperationException(
          s"equality delete without equality_ids: $path"))
        DeleteFile(path, 2, seq, ids, bytes, fmt)
      case other => throw new IllegalArgumentException(
        s"unknown data_file.content $other for $path")
    }
  }

  // ---- manifest partition values -----------------------------------------

  /** How one partition field's values sit in a manifest's `partition`
    * record: the avro type of the transform RESULT (pre-null-union, per
    * the spec's transform result-type table), and both directions
    * between that value and the directory string graft records
    * ([[Partitioning.valuesFromPath]] output, unescaped; temporal
    * transforms use lexically-ordered UTC patterns, integral truncate
    * records the floor, bucket the int, identity the plain rendering;
    * temporal results count from the 1970 epoch). None = no manifest
    * mapping (identity/truncate on an exotic source): the export falls
    * back to unpartitioned. Reading identity values on float/double —
    * a shape graft never registers from a manifest — refuses.
    */
  final case class PartitionCodec(avro: AvroSchema,
      toManifest: String => Any, fromManifest: Any => String)

  def partitionCodec(pf: PartitionField,
      srcType: DataType): Option[PartitionCodec] = {
    import java.time.{LocalDate, LocalDateTime, ZoneOffset}
    import java.time.format.DateTimeFormatter
    import org.apache.spark.sql.types._
    import AvroSchema.Type.{BOOLEAN, DOUBLE, FLOAT, INT, LONG, STRING}
    def a(t: AvroSchema.Type): AvroSchema = AvroSchema.create(t)
    def logical(t: AvroSchema.Type, logicalType: String,
        adjustToUtc: Option[Boolean] = None): AvroSchema = {
      val sc = a(t)
      sc.addProp("logicalType", logicalType)
      adjustToUtc.foreach(b => sc.addProp("adjust-to-utc", b: java.lang.Boolean))
      sc
    }
    def n(v: Any): Long = v.asInstanceOf[Number].longValue()
    def c(avro: AvroSchema)(to: String => Any, from: Any => String) =
      Some(PartitionCodec(avro, to, from))
    def refused(t: AvroSchema.Type)(to: String => Any) = c(a(t))(to, _ =>
      throw new UnsupportedOperationException(
        s"identity partition value on ${srcType.simpleString}"))
    def micros(raw: String): java.lang.Long = {
      val ldt = LocalDateTime.parse(raw.replace(' ', 'T'))
      ldt.toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L +
        ldt.getNano / 1000L
    }
    def microsRaw(us: Long): String = {
      val base = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val frac = Math.floorMod(us, 1000000L)
      if (frac == 0L) base
      else base + "." + f"$frac%06d".reverse.dropWhile(_ == '0').reverse
    }
    def timestamps(utc: Boolean) = c(logical(LONG,
      "timestamp-micros", Some(utc)))(micros, v => microsRaw(n(v)))
    (pf.transform, srcType) match {
      case ("identity" | "truncate", ByteType | ShortType | IntegerType) =>
        c(a(INT))(_.toLong.toInt: Integer, n(_).toString)
      case ("identity" | "truncate", LongType) =>
        c(a(LONG))(_.toLong: java.lang.Long, n(_).toString)
      case ("identity" | "truncate", StringType) =>
        c(a(STRING))(identity, _.toString)
      case ("identity", BooleanType) =>
        c(a(BOOLEAN))(_.toBoolean: java.lang.Boolean, _.toString)
      case ("identity", FloatType) =>
        refused(FLOAT)(_.toFloat: java.lang.Float)
      case ("identity", DoubleType) =>
        refused(DOUBLE)(_.toDouble: java.lang.Double)
      case ("identity", DateType) | ("days", _) =>
        c(logical(INT, "date"))(
          LocalDate.parse(_).toEpochDay.toInt: Integer,
          v => LocalDate.ofEpochDay(n(v)).toString)
      case ("identity", TimestampType) => timestamps(utc = true)
      case ("identity", TimestampNTZType) => timestamps(utc = false)
      case ("bucket", _) =>
        c(a(INT))(_.toInt: Integer, n(_).toInt.toString)
      case ("years", _) => c(a(INT))(_.toInt - 1970: Integer,
        v => f"${1970 + n(v).toInt}%04d")
      case ("months", _) => c(a(INT))({ raw =>
        val Array(y, m) = raw.split('-')
        (y.toInt - 1970) * 12 + (m.toInt - 1): Integer
      }, { v =>
        val i = n(v).toInt
        f"${1970 + Math.floorDiv(i, 12)}%04d-${Math.floorMod(i, 12) + 1}%02d"
      })
      case ("hours", _) => c(a(INT))({ raw =>
        val p = raw.split('-')
        (LocalDateTime.of(p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt, 0)
          .toEpochSecond(ZoneOffset.UTC) / 3600).toInt: Integer
      }, v => LocalDateTime.ofEpochSecond(n(v) * 3600L, 0, ZoneOffset.UTC)
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")))
      case _ => None
    }
  }

  /** A `file:` URI as a local path; other locations as written. */
  private[versioned] def toLocal(s: String): String =
    if (s.startsWith("file:")) Paths.get(java.net.URI.create(s)).toString
    else s
}
