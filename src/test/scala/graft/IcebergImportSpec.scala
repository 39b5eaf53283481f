package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.IcebergImport

/** IcebergImport against a HAND-BUILT external-style Iceberg v2 table —
  * layouts written directly from the spec text (not by IcebergExport),
  * so this exercises the reader against the shapes OTHER engines
  * produce: explicit per-entry sequence numbers, equality delete files
  * (Flink-CDC-style), sequence-number inheritance, and the mixed
  * positional+equality application order.
  */
class IcebergImportSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  import IcebergImportSpec._

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the import CALLs live under a graft catalog's system namespace
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root",
      Files.createTempDirectory("graft-icei").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Write `df` as exactly one parquet file at `out`. */
  private def writeOneParquet(df: org.apache.spark.sql.DataFrame,
      out: Path): Unit = {
    val tmp = Files.createTempDirectory("ice-fixture")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, out)
  }

  test("external-style v2 table: equality deletes apply to strictly " +
    "older data files, positional deletes to the named file, inherited " +
    "sequence numbers resolve from the manifest list") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-ext")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))

    // data file A @ seq 1: ids 0..9; data file B @ seq 2: ids 100..104
    val fileA = dataDir.resolve("a.parquet")
    val fileB = dataDir.resolve("b.parquet")
    writeOneParquet((0 until 10).map(i => (i, s"a$i")).toDF("id", "v"), fileA)
    writeOneParquet((100 until 105).map(i => (i, s"b$i")).toDF("id", "v"), fileB)
    // positional delete @ seq 2: (A, pos 0) → id 0 dies
    val posDel = dataDir.resolve("pos-del.parquet")
    writeOneParquet(Seq((fileA.toUri.toString, 0L)).toDF("file_path", "pos"),
      posDel)
    // equality delete @ seq 2 on field id 1 (= column `id`): ids 1, 3,
    // 100 — kills A's 1 and 3; B's 100 SURVIVES (B.seq == delete.seq,
    // strict `<` exempts it — the Flink upsert-own-batch rule)
    val eqDel = dataDir.resolve("eq-del.parquet")
    writeOneParquet(Seq(1, 3, 100).toDF("id"), eqDel)

    // data manifest: A has an explicit seq, B a NULL seq (inherits the
    // manifest list's sequence_number = 2)
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq(
      (fileA, 0, Some(1L), Nil), (fileB, 0, None, Nil)))
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq(
      (posDel, 1, Some(2L), Nil), (eqDel, 2, Some(2L), Seq(1))))

    val listPath = metaDir.resolve("snap-77.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try Seq((mData, 0, 2L, 1L), (mDel, 1, 2L, 2L)).foreach {
      case (p, content, seq, minSeq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toUri.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", 77L)
        r.put("added_files_count", 2)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 2L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
    } finally lw.close()

    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000077",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    // ---- plan ----------------------------------------------------------
    val plan = IcebergImport.plan(metaPath)
    plan.formatVersion shouldBe 2
    plan.dataFiles.map(_.seq).sorted shouldBe Seq(1L, 2L) // B inherited 2
    plan.positionDeletes.map(_.seq) shouldBe Seq(2L)
    plan.equalityDeletes.map(d => (d.seq, d.equalityIds)) shouldBe
      Seq((2L, Seq(1)))

    // ---- read ----------------------------------------------------------
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe (
      (2 until 10).filter(_ != 3).map(i => (i, s"a$i")) ++ // 0 pos-deleted, 1+3 eq-deleted
        (100 until 105).map(i => (i, s"b$i"))) // 100 survives: seq not strictly older
  }

  test("ORC data files import through Spark's native ORC reader — mixed " +
    "ORC+parquet snapshot, parquet positional deletes applied to ORC rows; " +
    "unknown data file formats refuse loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-orc")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))

    def writeOneOrc(df: org.apache.spark.sql.DataFrame, out: Path): Unit = {
      val tmp = Files.createTempDirectory("ice-orc-fx")
      df.coalesce(1).write.mode("overwrite").orc(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".orc")).get
      Files.move(part, out)
    }
    val fileA = dataDir.resolve("a.orc")     // ids 0..9
    val fileB = dataDir.resolve("b.orc")     // ids 100..104
    val fileC = dataDir.resolve("c.parquet") // ids 200..202 (mixed snapshot)
    writeOneOrc((0 until 10).map(i => (i, s"a$i")).toDF("id", "v"), fileA)
    writeOneOrc((100 until 105).map(i => (i, s"b$i")).toDF("id", "v"), fileB)
    writeOneParquet((200 until 203).map(i => (i, s"c$i")).toDF("id", "v"), fileC)
    // positional deletes (PARQUET, as iceberg requires for deletes):
    // (A, 0) kills ORC row id=0; (C, 1) kills parquet row id=201
    val posDel = dataDir.resolve("pos-del.parquet")
    writeOneParquet(Seq((fileA.toUri.toString, 0L),
      (fileC.toUri.toString, 1L)).toDF("file_path", "pos"), posDel)

    val fmt: Path => String = p =>
      if (p.getFileName.toString.endsWith(".orc")) "ORC" else "PARQUET"
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil),
      (fileB, 0, Some(1L), Nil), (fileC, 0, Some(1L), Nil)), fmt)
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((posDel, 1, Some(2L), Nil)), fmt)

    val listPath = metaDir.resolve("snap-88.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)).foreach {
      case (p, content, seq, minSeq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toUri.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", 88L)
        r.put("added_files_count", 3)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 3L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
    } finally lw.close()

    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000088",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":88,
         |"snapshots":[{"snapshot-id":88,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    val plan = IcebergImport.plan(metaPath)
    plan.dataFiles.map(_.format).sorted shouldBe Seq("ORC", "ORC", "PARQUET")
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe (
      (1 until 10).map(i => (i, s"a$i")) ++        // a0 pos-deleted
        (100 until 105).map(i => (i, s"b$i")) ++
        Seq((200, "c200"), (202, "c202")))         // c201 pos-deleted

    // unknown data file format: loud refusal at plan time, never a
    // silent mis-read (AVRO itself imports via boundAvroScan now)
    val mAvro = metaDir.resolve("m-avro.avro")
    writeManifest(mAvro, Seq((fileA, 0, Some(1L), Nil)), _ => "TEXT")
    val listPath2 = metaDir.resolve("snap-89.avro")
    val lw2 = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw2.setMeta("format-version", "2")
    lw2.create(listSchema, listPath2.toFile)
    try {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", mAvro.toUri.toString)
      r.put("manifest_length", Files.size(mAvro))
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 89L)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 1L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw2.append(r)
    } finally lw2.close()
    val metaPath2 = metaDir.resolve("v2.metadata.json")
    Files.writeString(metaPath2, Files.readString(metaPath)
      .replace(listPath.toUri.toString, listPath2.toUri.toString))
    val e = intercept[IllegalArgumentException](IcebergImport.plan(metaPath2))
    e.getMessage should include("unsupported data file format: TEXT")
  }

  test("field-id-first binding: a column renamed by an external engine " +
    "(footer ids stable, names drifted) binds by ID; name binding would " +
    "silently null-fill") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    import spark.implicits._
    val root = Files.createTempDirectory("ice-fid")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    def idMeta(id: Int) =
      new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
    // file A written BEFORE the rename: physical names (id, old_v),
    // footer field ids (1, 2)
    val fileA = dataDir.resolve("a.parquet")
    writeOneParquet((0 until 5).map(i => (i, s"a$i")).toDF("id", "old_v")
      .select(col("id").as("id", idMeta(1)), col("old_v").as("old_v", idMeta(2))),
      fileA)
    // file B written AFTER the rename: physical names (id, v), same ids
    val fileB = dataDir.resolve("b.parquet")
    writeOneParquet((10 until 15).map(i => (i, s"b$i")).toDF("id", "v")
      .select(col("id").as("id", idMeta(1)), col("v").as("v", idMeta(2))),
      fileB)
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil), (fileB, 0, Some(2L), Nil)))
    val listPath = metaDir.resolve("snap-78.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", mData.toUri.toString)
      r.put("manifest_length", Files.size(mData))
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 78L)
      r.put("added_files_count", 2)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 10L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw.append(r)
    } finally lw.close()
    // table schema carries the CURRENT (post-rename) name `v` for id 2
    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000078",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":78,
         |"snapshots":[{"snapshot-id":78,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    // id binding recovers file A's values under the NEW name `v`; name
    // binding would have returned null for A's rows
    got shouldBe ((0 until 5).map(i => (i, s"a$i")) ++
      (10 until 15).map(i => (i, s"b$i")))
  }

  test("equality deletes bind field-id-first: a parquet delete file " +
    "written under a column's pre-rename name deletes by id; an id-less " +
    "one lacking the column refuses instead of deleting by nulls") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    import spark.implicits._
    val root = Files.createTempDirectory("ice-eq-fid")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    def idMeta(id: Int) =
      new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
    // data file @ seq 1 under the current names; row 5's `v` is null
    val data = dataDir.resolve("a.parquet")
    writeOneParquet((0 until 6).map(i => (i, if (i == 5) null else s"a$i"))
      .toDF("id", "v")
      .select(col("id").as("id", idMeta(1)), col("v").as("v", idMeta(2))),
      data)
    // equality deletes @ seq 2 on field id 2, written BEFORE `old_v` was
    // renamed to `v`: one stamped with the id, one id-less
    val stamped = dataDir.resolve("eq-ids.parquet")
    writeOneParquet(Seq("a1", "a3").toDF("old_v")
      .select(col("old_v").as("old_v", idMeta(2))), stamped)
    val idless = dataDir.resolve("eq-noids.parquet")
    writeOneParquet(Seq("a2").toDF("old_v"), idless)
    val fields =
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", "")
    def tableWith(del: Path, snapId: Long): Path = {
      val dir = Files.createDirectories(metaDir.resolve(s"s$snapId"))
      val mData = dir.resolve("m-data.avro")
      writeManifest(mData, Seq((data, 0, Some(1L), Nil)))
      val mDel = dir.resolve("m-del.avro")
      writeManifest(mDel, Seq((del, 2, Some(2L), Seq(2))))
      val listPath = dir.resolve(s"snap-$snapId.avro")
      writeList(listPath, snapId, Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)))
      v2Metadata(dir, root, listPath, snapId, fields, 2)
    }
    // id binding deletes a1 and a3; name binding would read the delete
    // rows as nulls, delete row 5 and keep a1/a3
    IcebergImport.read(spark, tableWith(stamped, 96L)).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((0, "a0"), (2, "a2"), (4, "a4"), (5, null))
    val err = intercept[IllegalArgumentException](
      IcebergImport.read(spark, tableWith(idless, 97L)).collect())
    err.getMessage should (include(idless.toString) and include("column v"))
  }

  test("v1 LEGACY foreign layout: deflate-compressed avro (iceberg-core's " +
    "default codec), required entry snapshot_id, *_data_files_count " +
    "names, EXISTING kept and DELETED skipped") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-v1-legacy")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    val fileA = dataDir.resolve("a.parquet") // ADDED
    val fileB = dataDir.resolve("b.parquet") // EXISTING (earlier snapshot)
    val fileC = dataDir.resolve("c.parquet") // DELETED (no longer live)
    writeOneParquet((0 until 3).map(i => (i, s"a$i")).toDF("id", "v"), fileA)
    writeOneParquet((10 until 13).map(i => (i, s"b$i")).toDF("id", "v"), fileB)
    writeOneParquet((20 until 23).map(i => (i, s"c$i")).toDF("id", "v"), fileC)

    // v1 manifest_entry: NO content/sequence fields, snapshot_id REQUIRED
    val v1Entry = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replaceAll("\n", ""))
    val mPath = metaDir.resolve("m-legacy.avro")
    val mw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](v1Entry))
    mw.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    mw.setMeta("format-version", "1")
    mw.create(v1Entry, mPath.toFile)
    try Seq((fileA, 1), (fileB, 0), (fileC, 2)).foreach { case (p, status) =>
      val dfS = v1Entry.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("file_path", p.toUri.toString)
      df.put("file_format", "PARQUET")
      df.put("partition",
        new GenericData.Record(dfS.getField("partition").schema()))
      df.put("record_count", 3L)
      df.put("file_size_in_bytes", Files.size(p))
      val e = new GenericData.Record(v1Entry)
      e.put("status", status)
      e.put("snapshot_id", 42L)
      e.put("data_file", df)
      mw.append(e)
    } finally mw.close()

    // v1 manifest_file: legacy *_data_files_count names, no content/seq
    val v1List = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null},
        |{"name":"added_data_files_count","type":["null","int"],"default":null},
        |{"name":"existing_data_files_count","type":["null","int"],"default":null},
        |{"name":"deleted_data_files_count","type":["null","int"],"default":null}]}"""
        .stripMargin.replaceAll("\n", ""))
    val listPath = metaDir.resolve("snap-42.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](v1List))
    lw.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    lw.setMeta("format-version", "1")
    lw.create(v1List, listPath.toFile)
    try {
      val r = new GenericData.Record(v1List)
      r.put("manifest_path", mPath.toUri.toString)
      r.put("manifest_length", Files.size(mPath))
      r.put("partition_spec_id", 0)
      r.put("added_snapshot_id", 42L)
      r.put("added_data_files_count", 1)
      r.put("existing_data_files_count", 1)
      r.put("deleted_data_files_count", 1)
      lw.append(r)
    } finally lw.close()

    // v1 metadata: legacy single `schema` + flat `partition-spec`
    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":1,"table-uuid":"00000000-0000-0000-0000-000000000042",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-updated-ms":0,"last-column-id":2,
         |"schema":{"type":"struct","fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]},
         |"partition-spec":[],
         |"properties":{},"current-snapshot-id":42,
         |"snapshots":[{"snapshot-id":42,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}"}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    val plan = IcebergImport.plan(metaPath)
    plan.formatVersion shouldBe 1
    plan.dataFiles should have size 2 // ADDED + EXISTING; DELETED skipped
    plan.deleteFiles shouldBe empty
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe ((0 until 3).map(i => (i, s"a$i")) ++
      (10 until 13).map(i => (i, s"b$i")))
  }

  /** Write one ORC file via orc-core directly, stamping each column's
    * `iceberg.id` type attribute the way iceberg-orc writers do.
    */
  private def writeOrcWithIds(out: Path, rows: Seq[(Int, String)],
      names: (String, String), ids: (Int, Int)): Unit = {
    import org.apache.orc.{OrcFile, TypeDescription}
    import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector}
    val c1 = TypeDescription.createInt()
    c1.setAttribute("iceberg.id", ids._1.toString)
    val c2 = TypeDescription.createString()
    c2.setAttribute("iceberg.id", ids._2.toString)
    val schema = TypeDescription.createStruct()
      .addField(names._1, c1).addField(names._2, c2)
    val w = OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(out.toUri.toString),
      OrcFile.writerOptions(new org.apache.hadoop.conf.Configuration())
        .setSchema(schema))
    val batch = schema.createRowBatch()
    val col1 = batch.cols(0).asInstanceOf[LongColumnVector]
    val col2 = batch.cols(1).asInstanceOf[BytesColumnVector]
    rows.foreach { case (i, s) =>
      val r = batch.size; batch.size += 1
      col1.vector(r) = i.toLong
      col2.setVal(r, s.getBytes("UTF-8"))
    }
    w.addRowBatch(batch)
    w.close()
  }

  test("ORC field-id-first binding: a column renamed by an external " +
    "engine (iceberg.id attributes stable, physical names drifted) " +
    "binds by ID; name binding would silently null-fill") {
    val root = Files.createTempDirectory("ice-orc-fid")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    // file A written BEFORE the rename: physical names (id, old_v),
    // iceberg.id attributes (1, 2)
    val fileA = dataDir.resolve("a.orc")
    writeOrcWithIds(fileA, (0 until 5).map(i => (i, s"a$i")),
      ("id", "old_v"), (1, 2))
    // file B written AFTER the rename: physical names (id, v), same ids
    val fileB = dataDir.resolve("b.orc")
    writeOrcWithIds(fileB, (10 until 15).map(i => (i, s"b$i")),
      ("id", "v"), (1, 2))

    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil),
      (fileB, 0, Some(1L), Nil)), _ => "ORC")
    val listPath = metaDir.resolve("snap-90.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", mData.toUri.toString)
      r.put("manifest_length", Files.size(mData))
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 90L)
      r.put("added_files_count", 2)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 10L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw.append(r)
    } finally lw.close()

    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000090",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":1,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":90,
         |"snapshots":[{"snapshot-id":90,"sequence-number":1,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    // name binding would return null for old_v-era rows' v; id binding
    // surfaces the drifted column's values under the schema name
    got shouldBe ((0 until 5).map(i => (i, s"a$i")) ++
      (10 until 15).map(i => (i, s"b$i")))
  }

  test("ORC grouped id-binding + positional deletes TOGETHER: the split " +
    "counts must come from the same per-group scans as the rows, and " +
    "deletes land on the right files across groups") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-orc-fidpd")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    // two ORC files with field ids but DIFFERENT id->name maps → two
    // scan groups in formatScan; positional deletes force the
    // position-derivation join over their union
    val fileA = dataDir.resolve("a.orc") // pre-rename physical names
    writeOrcWithIds(fileA, (0 until 6).map(i => (i, s"a$i")),
      ("id", "old_v"), (1, 2))
    val fileB = dataDir.resolve("b.orc") // post-rename physical names
    writeOrcWithIds(fileB, (10 until 16).map(i => (i, s"b$i")),
      ("id", "v"), (1, 2))
    val posDel = dataDir.resolve("pos-del.parquet")
    // kill a0 (pos 0 of A) and b12 (pos 2 of B)
    writeOneParquet(Seq((fileA.toUri.toString, 0L),
      (fileB.toUri.toString, 2L)).toDF("file_path", "pos"), posDel)

    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil),
      (fileB, 0, Some(1L), Nil)), _ => "ORC")
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((posDel, 1, Some(2L), Nil)))
    val listPath = metaDir.resolve("snap-92.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)).foreach {
      case (p, content, seq, minSeq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toUri.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", 92L)
        r.put("added_files_count", 2)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 12L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
    } finally lw.close()

    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000092",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":92,
         |"snapshots":[{"snapshot-id":92,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe ((1 until 6).map(i => (i, s"a$i")) ++       // a0 deleted
      Seq(10, 11, 13, 14, 15).map(i => (i, s"b$i")))         // b12 deleted
  }

  test("ORC positional deletes across MULTIPLE splits of one file: the " +
    "derived row position is the file-order ordinal, not a per-split " +
    "index — first/middle/last rows deleted by exact position") {
    import org.apache.orc.{OrcFile, TypeDescription}
    import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector}
    import spark.implicits._
    val root = Files.createTempDirectory("ice-orc-split")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))

    // one ORC file, many tiny stripes, written in id order 0..n-1
    val n = 200000
    val fileA = dataDir.resolve("a.orc")
    val schema = TypeDescription.fromString("struct<id:int,v:string>")
    val w = OrcFile.createWriter(
      new org.apache.hadoop.fs.Path(fileA.toUri.toString),
      OrcFile.writerOptions(new org.apache.hadoop.conf.Configuration())
        .setSchema(schema).stripeSize(65536).blockPadding(false))
    val batch = schema.createRowBatch()
    val col1 = batch.cols(0).asInstanceOf[LongColumnVector]
    val col2 = batch.cols(1).asInstanceOf[BytesColumnVector]
    (0 until n).foreach { i =>
      if (batch.size == batch.getMaxSize) { w.addRowBatch(batch); batch.reset() }
      val r = batch.size; batch.size += 1
      col1.vector(r) = i.toLong
      col2.setVal(r, s"row-$i-${"x" * 24}".getBytes("UTF-8"))
    }
    if (batch.size > 0) w.addRowBatch(batch)
    w.close()

    val posDel = dataDir.resolve("pos-del.parquet")
    val killed = Seq(0L, 99999L, (n - 1).toLong)
    writeOneParquet(killed.map(p => (fileA.toUri.toString, p))
      .toDF("file_path", "pos"), posDel)

    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil)), _ => "ORC")
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((posDel, 1, Some(2L), Nil)))
    val listPath = metaDir.resolve("snap-91.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)).foreach {
      case (p, content, seq, minSeq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toUri.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", 91L)
        r.put("added_files_count", 1)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", n.toLong)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
    } finally lw.close()

    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000091",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":91,
         |"snapshots":[{"snapshot-id":91,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    // force the file into many splits so per-split indexing alone would
    // delete the wrong rows (each split's row 0 instead of file pos 0)
    val conf = spark.conf
    val oldMax = conf.get("spark.sql.files.maxPartitionBytes")
    val oldOpen = conf.get("spark.sql.files.openCostInBytes")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "65536")
      conf.set("spark.sql.files.openCostInBytes", "0")
      val df = IcebergImport.read(spark, metaPath)
      // sanity: the scan really is multi-split at this conf
      val splits = spark.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))))
        .orc(fileA.toUri.toString)
        .select(org.apache.spark.sql.functions
          .col("_metadata.file_block_start"))
        .distinct().count()
      splits should be > 1L
      df.count() shouldBe (n - killed.size).toLong
      val ids = df.select("id").as[Int].collect().toSet
      killed.foreach(p => ids should not contain p.toInt)
      ids should contain allOf (1, 99998, 100000, n - 2)
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      conf.set("spark.sql.files.openCostInBytes", oldOpen)
    }
  }

  /** Write one iceberg-style avro DATA file (schema json carries the
    * numeric `field-id` props iceberg-avro stamps).
    */
  private def writeAvroData(out: Path, schemaJson: String,
      rows: Seq[Map[String, Any]]): Schema = {
    val sch = new Schema.Parser().parse(schemaJson)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, out.toFile)
    try rows.foreach { m =>
      val r = new GenericData.Record(sch)
      m.foreach { case (k, v) => r.put(k, v) }
      w.append(r)
    } finally w.close()
    sch
  }

  private def v2Metadata(metaDir: Path, root: Path, listPath: Path,
      snapId: Long, fieldsJson: String, lastColId: Int): Path = {
    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-0000000000$snapId",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":$lastColId,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[$fieldsJson]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":$snapId,
         |"snapshots":[{"snapshot-id":$snapId,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))
    metaPath
  }

  private def writeList(listPath: Path, snapId: Long,
      manifests: Seq[(Path, Int, Long, Long)]): Unit = {
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    lw.setMeta("format-version", "2")
    lw.create(listSchema, listPath.toFile)
    try manifests.foreach { case (p, content, seq, minSeq) =>
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", p.toUri.toString)
      r.put("manifest_length", Files.size(p))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", minSeq)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", 1L)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      lw.append(r)
    } finally lw.close()
  }

  test("AVRO data files import via the explicit per-file reader: numeric " +
    "field-id props bind drifted columns by id, positional deletes hit " +
    "exact avro row positions, mixed with a parquet file") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-avro")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    def dataSchema(vName: String) =
      s"""{"type":"record","name":"r","fields":[
         |{"name":"id","type":["null","int"],"default":null,"field-id":1},
         |{"name":"$vName","type":["null","string"],"default":null,"field-id":2}]}"""
        .stripMargin.replaceAll("\n", "")
    // file A written BEFORE a rename: physical name old_v, same ids
    val fileA = dataDir.resolve("a-data.avro")
    writeAvroData(fileA, dataSchema("old_v"),
      (0 until 6).map(i => Map[String, Any]("id" -> i, "old_v" -> s"a$i")))
    val fileB = dataDir.resolve("b-data.avro")
    writeAvroData(fileB, dataSchema("v"),
      (10 until 16).map(i => Map[String, Any]("id" -> i, "v" -> s"b$i")))
    val fileC = dataDir.resolve("c.parquet")
    writeOneParquet((200 until 203).map(i => (i, s"c$i")).toDF("id", "v"), fileC)
    // positional deletes: a0 (avro pos 0) and c201 (parquet pos 1)
    val posDel = dataDir.resolve("pos-del.parquet")
    writeOneParquet(Seq((fileA.toUri.toString, 0L),
      (fileC.toUri.toString, 1L)).toDF("file_path", "pos"), posDel)

    val fmt: Path => String = p =>
      if (p.getFileName.toString.endsWith(".avro")) "AVRO" else "PARQUET"
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil),
      (fileB, 0, Some(1L), Nil), (fileC, 0, Some(1L), Nil)), fmt)
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((posDel, 1, Some(2L), Nil)))
    val listPath = metaDir.resolve("snap-93.avro")
    writeList(listPath, 93L, Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)))
    val metaPath = v2Metadata(metaDir, root, listPath, 93L,
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", ""), 2)

    val plan = IcebergImport.plan(metaPath)
    plan.dataFiles.map(_.format).sorted shouldBe Seq("AVRO", "AVRO", "PARQUET")
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe ((1 until 6).map(i => (i, s"a$i")) ++   // a0 pos-deleted
      (10 until 16).map(i => (i, s"b$i")) ++             // id-bound old_v
      Seq((200, "c200"), (202, "c202")))                 // c201 pos-deleted
  }

  test("delete files in ANY data format: an ORC positional delete, an " +
    "AVRO positional delete (reserved field-ids), and an AVRO equality " +
    "delete all apply in one snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-del-fmt")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    val fileP = dataDir.resolve("p.parquet") // ids 0..9
    writeOneParquet((0 until 10).map(i => (i, s"p$i")).toDF("id", "v"), fileP)
    val fileA = dataDir.resolve("a-data.avro") // ids 100..104
    writeAvroData(fileA,
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":["null","int"],"default":null,"field-id":1},
        |{"name":"v","type":["null","string"],"default":null,"field-id":2}]}"""
        .stripMargin.replaceAll("\n", ""),
      (100 until 105).map(i => Map[String, Any]("id" -> i, "v" -> s"a$i")))

    // ORC positional delete: (fileP, pos 1) kills id=1
    val delOrc = dataDir.resolve("del.orc")
    locally {
      import org.apache.orc.{OrcFile, TypeDescription}
      import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, LongColumnVector}
      val sch = TypeDescription.fromString("struct<file_path:string,pos:bigint>")
      val w = OrcFile.createWriter(
        new org.apache.hadoop.fs.Path(delOrc.toUri.toString),
        OrcFile.writerOptions(new org.apache.hadoop.conf.Configuration())
          .setSchema(sch))
      val batch = sch.createRowBatch()
      val c0 = batch.cols(0).asInstanceOf[BytesColumnVector]
      val c1 = batch.cols(1).asInstanceOf[LongColumnVector]
      batch.size = 1
      c0.setVal(0, fileP.toUri.toString.getBytes("UTF-8"))
      c1.vector(0) = 1L
      w.addRowBatch(batch); w.close()
    }
    // AVRO positional delete with the spec's reserved field ids:
    // (fileA, pos 0) kills id=100
    val delAvroPos = dataDir.resolve("del-pos.avro")
    writeAvroData(delAvroPos,
      """{"type":"record","name":"pd","fields":[
        |{"name":"file_path","type":"string","field-id":2147483546},
        |{"name":"pos","type":"long","field-id":2147483545}]}"""
        .stripMargin.replaceAll("\n", ""),
      Seq(Map[String, Any]("file_path" -> fileA.toUri.toString, "pos" -> 0L)))
    // AVRO equality delete on id=3 (equality_ids [1])
    val delAvroEq = dataDir.resolve("del-eq.avro")
    writeAvroData(delAvroEq,
      """{"type":"record","name":"ed","fields":[
        |{"name":"id","type":["null","int"],"default":null,"field-id":1}]}"""
        .stripMargin.replaceAll("\n", ""),
      Seq(Map[String, Any]("id" -> 3)))

    val fmt: Path => String = p => p.getFileName.toString match {
      case n if n.endsWith(".orc") => "ORC"
      case n if n.endsWith(".avro") => "AVRO"
      case _ => "PARQUET"
    }
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileP, 0, Some(1L), Nil),
      (fileA, 0, Some(1L), Nil)), fmt)
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((delOrc, 1, Some(2L), Nil),
      (delAvroPos, 1, Some(2L), Nil), (delAvroEq, 2, Some(2L), Seq(1))), fmt)
    val listPath = metaDir.resolve("snap-95.avro")
    writeList(listPath, 95L, Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)))
    val metaPath = v2Metadata(metaDir, root, listPath, 95L,
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", ""), 2)

    val plan = IcebergImport.plan(metaPath)
    plan.positionDeletes.map(_.format).sorted shouldBe Seq("AVRO", "ORC")
    plan.equalityDeletes.map(_.format) shouldBe Seq("AVRO")
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe (Seq(0, 2, 4, 5, 6, 7, 8, 9).map(i => (i, s"p$i")) ++
      (101 until 105).map(i => (i, s"a$i")))
  }

  /** Serialize a v3 deletion vector blob per the Iceberg spec: 4-byte
    * BE length of magic+vector, magic D1 D3 39 64, the 64-bit roaring
    * "portable" vector (8-byte LE bitmap count; per bitmap 4-byte LE
    * high key + standard 32-bit roaring serialization), 4-byte BE
    * CRC-32 of magic+vector.
    */
  private def dvBlob(positions: Seq[Long]): Array[Byte] = {
    val groups = positions.groupBy(p => (p >>> 32).toInt).toSeq.sortBy(_._1)
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeLong(java.lang.Long.reverseBytes(groups.size.toLong))
    groups.foreach { case (k, ps) =>
      dos.writeInt(java.lang.Integer.reverseBytes(k))
      val rb = new org.roaringbitmap.RoaringBitmap()
      ps.foreach(p => rb.add((p & 0xffffffffL).toInt))
      rb.runOptimize()
      rb.serialize(dos)
    }
    dos.flush()
    val vector = bos.toByteArray
    val magic = Array(0xd1, 0xd3, 0x39, 0x64).map(_.toByte)
    val crc = new java.util.zip.CRC32()
    crc.update(magic); crc.update(vector)
    val out = java.nio.ByteBuffer.allocate(12 + vector.length)
    out.putInt(4 + vector.length) // big-endian
    out.put(magic).put(vector)
    out.putInt(crc.getValue.toInt) // big-endian
    out.array()
  }

  /** Write a minimal VALID Puffin file (PFA1 header, blobs, footer with
    * an uncompressed json payload) holding the given blobs; returns
    * each blob's (offset, length).
    */
  private def writePuffin(out: Path, blobs: Seq[Array[Byte]]): Seq[(Long, Long)] = {
    val magic = "PFA1".getBytes("UTF-8")
    var off = magic.length.toLong
    val coords = blobs.map { b => val c = (off, b.length.toLong); off += b.length; c }
    val payload = ("""{"blobs":[""" + coords.map { case (o, l) =>
      s"""{"type":"deletion-vector-v1","fields":[],"snapshot-id":1,""" +
        s""""sequence-number":1,"offset":$o,"length":$l}"""
    }.mkString(",") + """],"properties":{}}""").getBytes("UTF-8")
    val bb = java.nio.ByteBuffer
      .allocate(magic.length * 3 + blobs.map(_.length).sum +
        payload.length + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(magic)
    blobs.foreach(bb.put)
    bb.put(magic).put(payload).putInt(payload.length).putInt(0).put(magic)
    Files.write(out, bb.array())
    coords
  }

  test("v3 DELETION VECTORS: two DVs in one Puffin file, each scoped to " +
    "its referenced data file, expand to exact positions and apply " +
    "with sequence semantics") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-dv")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    val fileP = dataDir.resolve("p.parquet") // ids 0..9
    writeOneParquet((0 until 10).map(i => (i, s"p$i")).toDF("id", "v"), fileP)
    val fileQ = dataDir.resolve("q.parquet") // ids 100..105
    writeOneParquet((100 until 106).map(i => (i, s"q$i")).toDF("id", "v"), fileQ)

    val puffin = dataDir.resolve("deletes.puffin")
    val coords = writePuffin(puffin,
      Seq(dvBlob(Seq(0L, 3L, 7L)), dvBlob(Seq(1L))))

    // v3 manifest entries carry the DV's blob coordinates
    val v3EntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"file_sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"referenced_data_file","type":["null","string"],"default":null},
        |{"name":"content_offset","type":["null","long"],"default":null},
        |{"name":"content_size_in_bytes","type":["null","long"],"default":null}
        |]}}]}""".stripMargin.replaceAll("\n", ""))
    def writeV3Manifest(out: Path,
        entries: Seq[(Path, Int, String, Long,
          Option[(String, Long, Long)])]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](v3EntrySchema))
      w.setMeta("format-version", "3")
      w.create(v3EntrySchema, out.toFile)
      try entries.foreach { case (p, content, fmt, seq, dv) =>
        val dfS = v3EntrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", content)
        df.put("file_path", p.toUri.toString)
        df.put("file_format", fmt)
        df.put("partition",
          new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", 1L)
        df.put("file_size_in_bytes", Files.size(p))
        dv.foreach { case (ref, off, len) =>
          df.put("referenced_data_file", ref)
          df.put("content_offset", off)
          df.put("content_size_in_bytes", len)
        }
        val e = new GenericData.Record(v3EntrySchema)
        e.put("status", 1)
        e.put("snapshot_id", 96L)
        e.put("sequence_number", seq)
        e.put("data_file", df)
        w.append(e)
      } finally w.close()
    }
    val mData = metaDir.resolve("m-data.avro")
    writeV3Manifest(mData, Seq((fileP, 0, "PARQUET", 1L, None),
      (fileQ, 0, "PARQUET", 1L, None)))
    val mDel = metaDir.resolve("m-del.avro")
    writeV3Manifest(mDel, Seq(
      (puffin, 1, "PUFFIN", 2L,
        Some((fileP.toUri.toString, coords(0)._1, coords(0)._2))),
      (puffin, 1, "PUFFIN", 2L,
        Some((fileQ.toUri.toString, coords(1)._1, coords(1)._2)))))
    val listPath = metaDir.resolve("snap-96.avro")
    writeList(listPath, 96L, Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)))
    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":3,"table-uuid":"00000000-0000-0000-0000-000000000096",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":2,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":96,
         |"snapshots":[{"snapshot-id":96,"sequence-number":2,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${listPath.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    val plan = IcebergImport.plan(metaPath)
    plan.formatVersion shouldBe 3
    plan.positionDeletes.map(_.format) shouldBe Seq("PUFFIN", "PUFFIN")
    plan.positionDeletes.flatMap(_.dv).map(_.length) shouldBe
      coords.map(_._2)
    val got = IcebergImport.read(spark, metaPath)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe (Seq(1, 2, 4, 5, 6, 8, 9).map(i => (i, s"p$i")) ++
      Seq(100, 102, 103, 104, 105).map(i => (i, s"q$i")))

    // large DV: 200k positions over two high-32 buckets round-trip the
    // portable encoding through parseDvBlob exactly
    val many = (0L until 100000L) ++ (0L until 100000L).map(_ + (1L << 32))
    val blob = dvBlob(many)
    graft.versioned.IcebergImport.parseDvBlob(blob, "test") shouldBe many
  }

  test("AVRO logical types round-trip: date, timestamptz, timestamp, " +
    "decimal, binary, list, string-map, k/v-record map, struct") {
    val root = Files.createTempDirectory("ice-avro-types")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    val schemaJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":"int","field-id":1},
        |{"name":"d","type":["null",{"type":"int","logicalType":"date"}],"default":null,"field-id":2},
        |{"name":"tz","type":["null",{"type":"long","logicalType":"timestamp-micros"}],"default":null,"field-id":3},
        |{"name":"tn","type":["null",{"type":"long","logicalType":"timestamp-micros"}],"default":null,"field-id":4},
        |{"name":"dec","type":["null",{"type":"bytes","logicalType":"decimal","precision":9,"scale":2}],"default":null,"field-id":5},
        |{"name":"bin","type":["null","bytes"],"default":null,"field-id":6},
        |{"name":"arr","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":7},
        |{"name":"m","type":["null",{"type":"map","values":"int"}],"default":null,"field-id":8},
        |{"name":"kv","type":["null",{"type":"array","logicalType":"map","items":
        |{"type":"record","name":"kvr","fields":[
        |{"name":"key","type":"int","field-id":30},
        |{"name":"value","type":"string","field-id":31}]}}],"default":null,"field-id":9},
        |{"name":"s","type":["null",{"type":"record","name":"sub","fields":[
        |{"name":"a","type":["null","int"],"default":null,"field-id":21}]}],"default":null,"field-id":10}]}"""
        .stripMargin.replaceAll("\n", "")
    val sch = new Schema.Parser().parse(schemaJson)
    def nn(f: String) = { // the non-null branch of the union
      val t = sch.getField(f).schema()
      if (t.getType == Schema.Type.UNION)
        t.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      else t
    }
    val micros = 1600000000000000L // 2020-09-13T12:26:40Z
    val sub = new GenericData.Record(nn("s"))
    sub.put("a", 7)
    val kv1 = new GenericData.Record(nn("kv").getElementType)
    kv1.put("key", 5); kv1.put("value", "five")
    val fileA = dataDir.resolve("t-data.avro")
    writeAvroData(fileA, schemaJson, Seq(Map[String, Any](
      "id" -> 1,
      "d" -> 19000,
      "tz" -> micros, "tn" -> micros,
      "dec" -> java.nio.ByteBuffer.wrap(
        java.math.BigInteger.valueOf(12345).toByteArray),
      "bin" -> java.nio.ByteBuffer.wrap(Array[Byte](1, 2)),
      "arr" -> java.util.List.of(1, 2, 3),
      "m" -> java.util.Map.of("x", 9),
      "kv" -> java.util.List.of(kv1),
      "s" -> sub)))

    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil)), _ => "AVRO")
    val listPath = metaDir.resolve("snap-94.avro")
    writeList(listPath, 94L, Seq((mData, 0, 1L, 1L)))
    val metaPath = v2Metadata(metaDir, root, listPath, 94L,
      """{"id":1,"name":"id","required":true,"type":"int"},
        |{"id":2,"name":"d","required":false,"type":"date"},
        |{"id":3,"name":"tz","required":false,"type":"timestamptz"},
        |{"id":4,"name":"tn","required":false,"type":"timestamp"},
        |{"id":5,"name":"dec","required":false,"type":"decimal(9,2)"},
        |{"id":6,"name":"bin","required":false,"type":"binary"},
        |{"id":7,"name":"arr","required":false,"type":{"type":"list","element-id":17,"element":"int","element-required":false}},
        |{"id":8,"name":"m","required":false,"type":{"type":"map","key-id":18,"value-id":19,"key":"string","value":"int","value-required":false}},
        |{"id":9,"name":"kv","required":false,"type":{"type":"map","key-id":30,"value-id":31,"key":"int","value":"string","value-required":false}},
        |{"id":10,"name":"s","required":false,"type":{"type":"struct","fields":[{"id":21,"name":"a","required":false,"type":"int"}]}}"""
        .stripMargin.replaceAll("\n", ""), 31)

    val df = IcebergImport.read(spark, metaPath)
    val row = df.selectExpr("id", "cast(d AS STRING)", "cast(tz AS STRING)",
      "cast(tn AS STRING)", "cast(dec AS STRING)", "bin", "arr",
      "m['x']", "kv[5]", "s.a").collect().head
    row.getInt(0) shouldBe 1
    row.getString(1) shouldBe java.time.LocalDate.ofEpochDay(19000).toString
    row.getString(2) shouldBe "2020-09-13 12:26:40"
    row.getString(3) shouldBe "2020-09-13 12:26:40"
    row.getString(4) shouldBe "123.45"
    row.getAs[Array[Byte]](5).toSeq shouldBe Seq[Byte](1, 2)
    row.getAs[Seq[Int]](6) shouldBe Seq(1, 2, 3)
    row.getInt(7) shouldBe 9
    row.getString(8) shouldBe "five"
    row.getInt(9) shouldBe 7
  }

  test("incremental append scan: rows ADDED in (from, to] only — " +
    "inherited attribution, compaction snapshots skipped, overwrite " +
    "snapshots refuse, non-ancestor from refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("ice-incr")
    val dataDir = Files.createDirectories(root.resolve("data"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    def mkFile(name: String, ids: Range): Path = {
      val p = dataDir.resolve(name)
      writeOneParquet(ids.map(i => (i, s"r$i")).toDF("id", "v"), p)
      p
    }
    val fA = mkFile("a.parquet", 0 until 10)   // appended by 101
    val fB = mkFile("b.parquet", 10 until 20)  // appended by 102
    val fD = mkFile("d.parquet", 0 until 20)   // 103 = compaction of A+B
    val fC = mkFile("c.parquet", 20 until 30)  // appended by 104

    // one-file manifests whose entries INHERIT snapshot attribution
    // from the list row (added_snapshot_id), like reused manifests do
    def mkManifest(name: String, f: Path): Path = {
      val out = metaDir.resolve(name)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](entrySchema))
      w.setMeta("format-version", "2")
      w.create(entrySchema, out.toFile)
      try {
        val dfS = entrySchema.getField("data_file").schema()
        val df = new GenericData.Record(dfS)
        df.put("content", 0)
        df.put("file_path", f.toUri.toString)
        df.put("file_format", "PARQUET")
        df.put("partition",
          new GenericData.Record(dfS.getField("partition").schema()))
        df.put("record_count", 10L)
        df.put("file_size_in_bytes", Files.size(f))
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("data_file", df)
        w.append(e)
      } finally w.close()
      out
    }
    val mA = mkManifest("mA.avro", fA)
    val mB = mkManifest("mB.avro", fB)
    val mD = mkManifest("mD.avro", fD)
    val mC = mkManifest("mC.avro", fC)

    // per-row added_snapshot_id — the attribution the scan follows
    def mkList(name: String, rows: Seq[(Path, Long)]): Path = {
      val out = metaDir.resolve(name)
      val lw = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](listSchema))
      lw.setMeta("format-version", "2")
      lw.create(listSchema, out.toFile)
      try rows.foreach { case (p, addedBy) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p.toUri.toString)
        r.put("manifest_length", Files.size(p))
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("sequence_number", 1L)
        r.put("min_sequence_number", 1L)
        r.put("added_snapshot_id", addedBy)
        r.put("added_files_count", 1)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 10L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        lw.append(r)
      } finally lw.close()
      out
    }
    val l101 = mkList("l101.avro", Seq((mA, 101L)))
    val l102 = mkList("l102.avro", Seq((mA, 101L), (mB, 102L)))
    val l103 = mkList("l103.avro", Seq((mD, 103L)))
    val l104 = mkList("l104.avro", Seq((mD, 103L), (mC, 104L)))
    val l105 = mkList("l105.avro", Seq((mD, 103L), (mC, 104L)))

    def snapJson(id: Long, parent: Option[Long], op: String,
        list: Path): String =
      s"""{"snapshot-id":$id,""" +
        parent.map(p => s""""parent-snapshot-id":$p,""").getOrElse("") +
        s""""sequence-number":1,"timestamp-ms":$id,""" +
        s""""summary":{"operation":"$op"},""" +
        s""""manifest-list":"${list.toUri.toString}","schema-id":0}"""
    val metaPath = metaDir.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000055",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":1,"last-updated-ms":0,"last-column-id":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"int"},
         |{"id":2,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":105,
         |"snapshots":[
         |${snapJson(101, None, "append", l101)},
         |${snapJson(102, Some(101), "append", l102)},
         |${snapJson(103, Some(102), "replace", l103)},
         |${snapJson(104, Some(103), "append", l104)},
         |${snapJson(105, Some(104), "overwrite", l105)}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))

    def ids(from: Option[Long], to: Option[Long]): Seq[Int] =
      IcebergImport.readChanges(spark, metaPath.toString, from, to)
        .orderBy("id").collect().map(_.getInt(0)).toSeq

    // (101, 104]: B appended by 102, C by 104; the 103 compaction is
    // SKIPPED — D's rows are A+B rewritten, not new
    ids(Some(101L), Some(104L)) shouldBe (10 until 30)
    // beginning → 102: A + B
    ids(None, Some(102L)) shouldBe (0 until 20)
    // (102, 104]: C only
    ids(Some(102L), Some(104L)) shouldBe (20 until 30)
    // crossing the overwrite snapshot refuses loudly
    val e1 = intercept[UnsupportedOperationException] {
      IcebergImport.changesPlan(metaPath.toString, Some(101L), Some(105L))
    }
    e1.getMessage should include("overwrite")
    // from not an ancestor of to refuses
    intercept[IllegalArgumentException] {
      IcebergImport.changesPlan(metaPath.toString, Some(104L), Some(102L))
    }

    // the CALL registers a temp view over the incremental read
    val out = spark.sql(s"CALL g.system.iceberg_import_changes(" +
      s"'$metaPath', 'ice_chg_v', from_snapshot => 101, " +
      "to_snapshot => 104)").collect().head
    out.getString(0) shouldBe "ice_chg_v"
    out.getInt(1) shouldBe 2 // fB + fC
    spark.sql("SELECT count(*) FROM ice_chg_v").collect()
      .head.getLong(0) shouldBe 20L
  }

  test("manifest partition records round-trip: every transform exports, " +
    "parses back, and rawPartitionValue reproduces graft's own " +
    "FileEntry.partitionValues bit-for-bit (the REST partitioned-commit " +
    "inverse is exact)") {
    spark.sql("CREATE NAMESPACE g.rtp")
    spark.sql("CREATE NAMESPACE g.rtp.main.db")
    spark.sql("CREATE TABLE g.rtp.main.db.t (id INT, big BIGINT, cat STRING, " +
      "ts TIMESTAMP, ts2 TIMESTAMP, tsi TIMESTAMP, d DATE, d2 DATE, " +
      "di DATE) PARTITIONED BY (cat, bucket(4, id), truncate(10, big), " +
      "days(ts), hours(ts2), tsi, months(d), years(d2), di)")
    spark.sql("INSERT INTO g.rtp.main.db.t VALUES " +
      "(1, 17, 'a', timestamp'2024-06-01 10:00:00', " +
      " timestamp'2024-06-01 05:30:00', timestamp'2024-06-01 12:34:56.123', " +
      " date'2024-06-15', date'2024-01-01', date'2024-02-29'), " +
      "(2, -3, 'b', timestamp'1969-12-31 23:00:00', " +
      " timestamp'2024-06-02 23:59:59', timestamp'2024-06-01 00:00:00', " +
      " date'1969-11-30', date'1968-07-04', date'1969-12-31'), " +
      "(3, 104, NULL, timestamp'2024-06-03 00:00:00', " +
      " timestamp'2024-06-03 01:00:00', timestamp'2024-06-01 07:08:09.000120', " +
      " date'2024-12-31', date'2024-06-01', date'2024-06-02')")
    val dest = Files.createTempDirectory("ice-rtp")
    val metaPath = spark.sql("CALL g.system.iceberg_export('rtp', 'main', " +
      s"'db.t', '$dest')").collect().head.getString(0)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readString(
      java.nio.file.Paths.get(metaPath)))
    val listLoc = meta.get("snapshots").get(0).get("manifest-list").asText()
    val (data, _) = graft.versioned.IcebergImport
      .filesOfManifestList(listLoc, 2)
    data should not be empty

    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtp")
    val repo = graft.versioned.GraftRepo.open(root)
    val snap = repo.snapshot(repo.resolve("main").tables("db/t"))
    val spec = snap.partitionFields
    spec.size shouldBe 9
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def srcTypeOf(pf: graft.versioned.PartitionField) =
      schema.fields.find(_.name == pf.source).get.dataType

    data.size shouldBe snap.files.size
    data.foreach { df =>
      val fname = java.nio.file.Paths.get(df.path).getFileName.toString
      val fe = snap.files.find(f => repo.dataLocation(f.path)
        .endsWith(fname)).getOrElse(fail(s"no graft entry for ${df.path}"))
      df.partition.keySet shouldBe spec.map(_.name).toSet
      val derived = spec.map(pf => pf.name ->
        graft.versioned.IcebergImport.rawPartitionValue(
          pf, srcTypeOf(pf), df.partition(pf.name))).toMap
      derived shouldBe fe.partValues
    }
  }

  /** A snapshot of `data` (seq 1) plus `deletes` (seq 2, equality on
    * `eqIds`), every file in `format`, under the schema `fieldsJson`. */
  private def tableOf(name: String, format: String, data: Seq[Path],
      deletes: Seq[Path], eqIds: Seq[Int], fieldsJson: String,
      lastColId: Int): Path = {
    val metaDir = Files.createDirectories(
      Files.createTempDirectory(name).resolve("metadata"))
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, data.map(d => (d, 0, Some(1L), Nil)), _ => format)
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, deletes.map(d => (d, 2, Some(2L), eqIds)), _ => format)
    val listPath = metaDir.resolve("snap-61.avro")
    writeList(listPath, 61L, (mData, 0, 1L, 1L) +:
      (if (deletes.isEmpty) Nil else Seq((mDel, 1, 2L, 2L))))
    v2Metadata(metaDir, metaDir.getParent, listPath, 61L, fieldsJson, lastColId)
  }

  test("a column dropped and re-added under a fresh id reads null in " +
    "parquet and ORC files holding the retired id; an equality-delete " +
    "file holding only the retired id refuses instead of deleting by " +
    "the dead column's values") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    import spark.implicits._
    val dataDir = Files.createTempDirectory("ice-retired")
    def idMeta(id: Int) =
      new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
    // `x` was id 2, dropped, and re-added as id 7: old files hold the
    // dead values under the same name
    def parquet(name: String, rows: Seq[(Int, String)], xId: Int): Path = {
      val f = dataDir.resolve(name)
      writeOneParquet(rows.toDF("id", "x").select(col("id").as("id", idMeta(1)),
        col("x").as("x", idMeta(xId))), f)
      f
    }
    def orc(name: String, rows: Seq[(Int, String)], xId: Int): Path = {
      val f = dataDir.resolve(name)
      writeOrcWithIds(f, rows, ("id", "x"), (1, xId))
      f
    }
    val fields =
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":7,"name":"x","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", "")
    Seq(("PARQUET", parquet _, "parquet"), ("ORC", orc _, "orc")).foreach {
      case (format, write, ext) =>
        val old = write(s"old.$ext", Seq((0, "dead0"), (1, "dead1")), 2)
        val cur = write(s"new.$ext", Seq((10, "x10"), (11, "x11")), 7)
        withClue(format) {
          val meta = tableOf(s"ice-ret-$ext", format, Seq(old, cur), Nil,
            Nil, fields, 7)
          IcebergImport.read(spark, meta, None).orderBy("id").collect()
            .map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
            Seq((0, null), (1, null), (10, "x10"), (11, "x11"))
          // a by-name stream would read the dead values: it refuses
          if (format == "PARQUET") {
            val plan = IcebergImport.plan(meta)
            intercept[UnsupportedOperationException](IcebergImport
              .assertNameBindable(spark, plan, plan.dataFiles))
          }
          // the delete's `x` carries the retired id 2, not the x (id 7)
          // its equality_ids name: by name it would delete row 1
          val del = write(s"eq-del.$ext", Seq((1, "dead1")), 2)
          val err = intercept[IllegalArgumentException](
            IcebergImport.read(spark, tableOf(s"ice-ret-del-$ext", format,
              Seq(old, cur), Seq(del), Seq(7), fields, 7), None).collect())
          err.getMessage should (include(del.toString) and include("column x"))
        }
    }
  }

  test("a field renamed inside a struct binds by id; a struct field the " +
    "file lacks reads null") {
    import org.apache.spark.sql.functions.{col, struct}
    import org.apache.spark.sql.types.MetadataBuilder
    import spark.implicits._
    val dataDir = Files.createTempDirectory("ice-nested")
    def idMeta(id: Int) =
      new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
    // written while s.a was still named s.old_a (id 3)
    val f = dataDir.resolve("n.parquet")
    writeOneParquet(Seq((1, 10, "b1"), (2, 20, "b2")).toDF("id", "a", "b")
      .select(col("id").as("id", idMeta(1)),
        struct(col("a").as("old_a", idMeta(3)), col("b").as("b", idMeta(4)))
          .as("s", idMeta(2))), f)
    val fields =
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"s","required":false,"type":{"type":"struct",
        |"fields":[{"id":3,"name":"a","required":false,"type":"int"},
        |{"id":4,"name":"b","required":false,"type":"string"},
        |{"id":5,"name":"c","required":false,"type":"long"}]}}"""
        .stripMargin.replaceAll("\n", "")
    IcebergImport.read(spark, tableOf("ice-nested-t", "PARQUET", Seq(f), Nil,
      Nil, fields, 5), None).orderBy("id")
      .selectExpr("id", "s.a", "s.b", "s.c").collect().map(_.toSeq).toSeq shouldBe
      Seq(Seq(1, 10, "b1", null), Seq(2, 20, "b2", null))
  }

  test("AVRO data and delete files under an identity-partition directory " +
    "whose name a URI quotes (`%3A`, a space): equality and positional " +
    "deletes still apply") {
    val root = Files.createTempDirectory("ice-avro-esc")
    val dataDir = Files.createDirectories(
      root.resolve("data").resolve("ts=2024-06-01T07%3A08 x"))
    val metaDir = Files.createDirectories(root.resolve("metadata"))
    val fileA = dataDir.resolve("a-data.avro") // ids 0..4
    writeAvroData(fileA,
      """{"type":"record","name":"r","fields":[
        |{"name":"id","type":["null","int"],"default":null,"field-id":1},
        |{"name":"v","type":["null","string"],"default":null,"field-id":2}]}"""
        .stripMargin.replaceAll("\n", ""),
      (0 until 5).map(i => Map[String, Any]("id" -> i, "v" -> s"a$i")))
    // (fileA, pos 0) kills id=0; equality on id kills id=3
    val delPos = dataDir.resolve("del-pos.avro")
    writeAvroData(delPos,
      """{"type":"record","name":"pd","fields":[
        |{"name":"file_path","type":"string","field-id":2147483546},
        |{"name":"pos","type":"long","field-id":2147483545}]}"""
        .stripMargin.replaceAll("\n", ""),
      Seq(Map[String, Any]("file_path" -> fileA.toUri.toString, "pos" -> 0L)))
    val delEq = dataDir.resolve("del-eq.avro")
    writeAvroData(delEq,
      """{"type":"record","name":"ed","fields":[
        |{"name":"id","type":["null","int"],"default":null,"field-id":1}]}"""
        .stripMargin.replaceAll("\n", ""),
      Seq(Map[String, Any]("id" -> 3)))
    val mData = metaDir.resolve("m-data.avro")
    writeManifest(mData, Seq((fileA, 0, Some(1L), Nil)), _ => "AVRO")
    val mDel = metaDir.resolve("m-del.avro")
    writeManifest(mDel, Seq((delPos, 1, Some(2L), Nil),
      (delEq, 2, Some(2L), Seq(1))), _ => "AVRO")
    val listPath = metaDir.resolve("snap-97.avro")
    writeList(listPath, 97L, Seq((mData, 0, 1L, 1L), (mDel, 1, 2L, 2L)))
    val metaPath = v2Metadata(metaDir, root, listPath, 97L,
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", ""), 2)
    IcebergImport.read(spark, metaPath).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((1, "a1"), (2, "a2"), (4, "a4"))
  }

  test("id-less parquet columns bind by name ignoring case, as Spark's " +
    "resolver does: a data file's `ID` reads as the schema's `id`, and " +
    "an equality delete keyed `ID` applies") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("ice-case")
    val data = dataDir.resolve("d.parquet")
    writeOneParquet(Seq((1, "a"), (2, "b"), (3, "c")).toDF("ID", "V"), data)
    val del = dataDir.resolve("eq-del.parquet")
    writeOneParquet(Seq(2).toDF("ID"), del)
    val fields =
      """{"id":1,"name":"id","required":false,"type":"int"},
        |{"id":2,"name":"v","required":false,"type":"string"}"""
        .stripMargin.replaceAll("\n", "")
    IcebergImport.read(spark, tableOf("ice-case-t", "PARQUET", Seq(data),
      Seq(del), Seq(1), fields, 2), None).orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((1, "a"), (3, "c"))
  }
}

/** Hand-written spec-text manifest layouts, shared with the other
  * specs that need an external-style Iceberg table. */
object IcebergImportSpec {
  val entrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"file_sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |"default":null}]}}]}""".stripMargin.replaceAll("\n", ""))

  val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"added_files_count","type":"int"},
      |{"name":"existing_files_count","type":"int"},
      |{"name":"deleted_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"},
      |{"name":"existing_rows_count","type":"long"},
      |{"name":"deleted_rows_count","type":"long"}]}""".stripMargin
      .replaceAll("\n", ""))

  /** (path, content, seq or null → inherit, equalityIds) */
  def writeManifest(out: Path,
      files: Seq[(Path, Int, Option[Long], Seq[Int])],
      formatOf: Path => String = _ => "PARQUET"): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](entrySchema))
    w.setMeta("format-version", "2")
    w.create(entrySchema, out.toFile)
    try files.foreach { case (p, content, seq, eqIds) =>
      val dfS = entrySchema.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("content", content)
      df.put("file_path", p.toUri.toString)
      df.put("file_format", formatOf(p))
      df.put("partition",
        new GenericData.Record(dfS.getField("partition").schema()))
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", Files.size(p))
      if (eqIds.nonEmpty)
        df.put("equality_ids", eqIds.map(Int.box).asJava)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", 77L)
      seq.foreach(sq => e.put("sequence_number", sq))
      e.put("data_file", df)
      w.append(e)
    } finally w.close()
  }
}
