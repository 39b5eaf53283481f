package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{FileEntry, GraftRepo, IcebergImport, TableOps}

/** Reads plan from the snapshot's file entries: every read of graft data
  * files builds its file index from the entries' paths and recorded
  * lengths, so no read lists or stats storage — in particular none
  * starts Spark's "Listing leaf files" job, which a plain path-based
  * index runs once a read passes 32 paths
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). Because
  * reads trust the recorded `bytes`, every writer route is pinned to
  * record the exact on-disk length. Foreign Iceberg files plan the same
  * way from their manifests' `file_size_in_bytes`.
  */
class ScanPlanningSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private val catRoot = Files.createTempDirectory("graft-scanplan")

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root", catRoot.toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)
  private def repoOf(r: String): GraftRepo = GraftRepo.open(catRoot.resolve(r))
  private def entries(r: String): Seq[FileEntry] = {
    val repo = repoOf(r)
    repo.snapshot(repo.headCommit("main").tables("db/t")).files
  }

  // the description of every job started while a body runs
  private val started = new ConcurrentLinkedQueue[String]
  private lazy val listener = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Runs `body`, failing if it started a file-listing job. */
  private def noListing[T](body: => T): T = {
    listener
    org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
    started.clear()
    val out = body
    org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
    started.asScala.filter(_.startsWith("Listing leaf files")) shouldBe empty
    out
  }

  private var n = 0
  /** A fresh repo whose `db/t` holds rows `(id, k = id % 5, v)` for
    * id 0..199 in exactly 40 files (5 rows each: every file spans k 0..4).
    */
  private def fortyFiles(tblProps: String = "", partitionedBy: String = "",
      table: String = "t", repo: Option[String] = None): String = {
    val r = repo.getOrElse { n += 1; val r = s"sp$n"
      sql(s"CREATE NAMESPACE g.$r")
      sql(s"CREATE NAMESPACE g.$r.main.db")
      r
    }
    sql(s"CREATE TABLE g.$r.main.db.$table (id BIGINT, k INT, v STRING)" +
      s"$partitionedBy$tblProps")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try sql(s"INSERT INTO g.$r.main.db.$table VALUES " +
      (0 until 200).map(i => s"($i, ${i % 5}, 'v$i')").mkString(", "))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    r
  }

  private def rowsOf(q: String): Seq[(Long, Int, String)] = tuples(sql(q))
  private def tuples(df: DataFrame): Seq[(Long, Int, String)] =
    df.collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1)
  private def expected(keep: Long => Boolean = _ => true) =
    (0L until 200L).filter(keep).map(i => (i, (i % 5).toInt, s"v$i"))

  test("a SQL full scan of 40 files plans from the snapshot: no listing job") {
    val r = fortyFiles()
    entries(r) should have size 40
    noListing(rowsOf(s"SELECT * FROM g.$r.main.db.t")) shouldBe expected()
  }

  test("an SPJ keyed read of 40-file tables starts no listing job") {
    val r = fortyFiles(partitionedBy = " PARTITIONED BY (bucket(4, id))")
    fortyFiles(partitionedBy = " PARTITIONED BY (bucket(4, id))",
      table = "u", repo = Some(r))
    entries(r).size should be > 32 // buckets split unevenly into files
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = sql(s"SELECT t.id, t.k, u.v FROM g.$r.main.db.t t " +
        s"JOIN g.$r.main.db.u u ON t.id = u.id")
      noListing(df.collect())
      // keyed (shuffle-free) join: the SPJ route was the one measured
      df.queryExecution.executedPlan.toString should not include
        "Exchange hashpartitioning"
      rowsOf(s"SELECT t.id, t.k, u.v FROM g.$r.main.db.t t " +
        s"JOIN g.$r.main.db.u u ON t.id = u.id") shouldBe expected()
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("a merge-on-read read of a tombstoned 40-file table starts no " +
    "listing job") {
    val r = fortyFiles(
      tblProps = " TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql(s"DELETE FROM g.$r.main.db.t WHERE k = 2")
    entries(r) should have size 40 // tombstoned, not rewritten
    noListing(rowsOf(s"SELECT * FROM g.$r.main.db.t")) shouldBe
      expected(_ % 5 != 2)
  }

  test("a CoW DELETE and a compaction over all 40 files start no listing job") {
    // every file holds a k = 2 row: the rewrite reads all 40
    val d = fortyFiles()
    noListing(sql(s"DELETE FROM g.$d.main.db.t WHERE k = 2"))
    rowsOf(s"SELECT * FROM g.$d.main.db.t") shouldBe expected(_ % 5 != 2)
    val c = fortyFiles()
    val (before, after) = noListing(
      TableOps.compact(spark, repoOf(c), "main", "db/t"))
    before shouldBe 40
    after should be < 40
    rowsOf(s"SELECT * FROM g.$c.main.db.t") shouldBe expected()
  }

  /** Every entry records its file's exact on-disk length. */
  private def exact(repo: GraftRepo, es: Seq[FileEntry]): Unit = {
    es should not be empty
    es.foreach(e => e.exactBytes shouldBe
      Some(Files.size(repo.root.resolve(e.path))))
  }

  test("every writer route records each file's exact bytes") {
    import spark.implicits._
    val r = fortyFiles(partitionedBy = " PARTITIONED BY (k)")
    val repo = repoOf(r)
    // SQL INSERT (the job route through the DSv2 write)
    exact(repo, entries(r))
    // local route: a driver-local frame, written inline
    exact(repo, TableOps.writeFiles(spark, repo,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), key = "db/local"))
    // job route: a non-local frame
    exact(repo, TableOps.writeFiles(spark, repo,
      spark.range(0, 20000).selectExpr("id", "CAST(id AS STRING) AS v"),
      key = "db/job"))
    // bloom route: the sidecar scan takes the writer's lengths
    exact(repo, TableOps.writeFiles(spark, repo,
      spark.range(0, 2000).selectExpr("id", "CAST(id AS STRING) AS v"),
      key = "db/bloom", bloomCols = Seq("id")))
    // REST append: entries from footers of externally written files
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val ext = catRoot.resolve(s"$r/data/db/ext")
    spark.range(0, 300, 1, 3).selectExpr("id", "CAST(id AS STRING) AS v")
      .write.parquet(ext.toString)
    val rels = Files.list(ext).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
      .map(f => s"data/db/ext/$f")
    exact(repo, TableOps.entriesFromFootersLocal(repo, rels, schema,
      spark.sessionState.newHadoopConf()))
    // compaction
    TableOps.compact(spark, repo, "main", "db/t")
    exact(repo, entries(r))
  }

  test("a legacy snapshot without bytes reads the same rows through the " +
    "stat fallback") {
    val r = fortyFiles()
    val repo = repoOf(r)
    repo.commitRetry("main", "strip bytes") { base =>
      val s = repo.snapshot(base.tables("db/t"))
      val legacy = repo.writeSnapshot("db/t", s.schemaJson,
        s.files.map(_.copy(bytes = None)), s.partitionBy, s.physicalNames,
        s.props, s.retired)
      (base.tables + ("db/t" -> legacy.id), base.namespaces)
    }
    entries(r).map(_.exactBytes).distinct shouldBe Seq(None)
    noListing(rowsOf(s"SELECT * FROM g.$r.main.db.t")) shouldBe expected()
    rowsOf(s"SELECT * FROM g.$r.main.db.t WHERE id >= 100") shouldBe
      expected(_ >= 100)
  }

  test("a read whose data file was deleted underneath it fails naming " +
    "the file") {
    val r = fortyFiles()
    val gone = entries(r).head.path
    Files.delete(catRoot.resolve(r).resolve(gone))
    val e = intercept[Exception](sql(s"SELECT * FROM g.$r.main.db.t").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    messages.exists(_.contains(gone.split('/').last)) shouldBe true
  }

  // ---- foreign Iceberg files -------------------------------------------

  /** `db/t` of repo `r` exported as Iceberg: (dest dir, metadata path). */
  private def exported(r: String): (Path, String) = {
    val dest = Files.createTempDirectory("scanplan-ice")
    (dest, sql(s"CALL g.system.iceberg_export('$r', 'main', 'db.t', '$dest')")
      .collect().head.getString(0))
  }

  /** A 40-file merge-on-read table with an equality delete (k = 2) and
    * positional deletes in every file (k >= 4), exported: (repo, dest,
    * metadata path).
    */
  private def morExport(): (String, Path, String) = {
    val r = fortyFiles(
      tblProps = " TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql(s"DELETE FROM g.$r.main.db.t WHERE k = 2")
    sql(s"DELETE FROM g.$r.main.db.t WHERE k >= 4")
    val (dest, meta) = exported(r)
    (r, dest, meta)
  }
  private val morKept = expected(i => i % 5 == 0 || i % 5 == 1 || i % 5 == 3)

  test("an import of a 40-file merge-on-read export with positional and " +
    "equality deletes starts no listing job") {
    val (r, _, meta) = morExport()
    val plan = IcebergImport.plan(meta, None)
    plan.dataFiles should have size 40
    plan.positionDeletes should not be empty
    plan.equalityDeletes should not be empty
    rowsOf(s"SELECT * FROM g.$r.main.db.t") shouldBe morKept
    noListing(tuples(IcebergImport.read(spark, meta, None))) shouldBe morKept
  }

  test("iceberg-changes triggers over a 40-file merge-on-read export start " +
    "no listing job") {
    val (_, dest, _) = morExport()
    def trigger(name: String, option: String): DataFrame = {
      noListing {
        val q = spark.readStream.format("iceberg-changes")
          .option(option, "true").load(dest.toString)
          .writeStream.format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.table(name)
    }
    // CDC: the first version's live rows, deletes applied, as inserts
    val cdc = trigger("sp_cdc", "cdc")
    cdc.filter("_change_type <> 'insert'").count() shouldBe 0
    tuples(cdc.drop("_change_type")) shouldBe morKept
    // append stream: the data files' raw rows (deletes skipped)
    tuples(trigger("sp_raw", "skipDeletes")) shouldBe expected()
  }

  /** A one-snapshot Iceberg table `(id long, k int, v string)` over
    * `files` of `format`, written from the spec text; its metadata path.
    */
  private def icebergTable(root: Path, files: Seq[Path],
      format: String): String = {
    import IcebergImportSpec.{listSchema, writeManifest}
    val meta = Files.createDirectories(root.resolve("metadata"))
    val manifest = meta.resolve("m0.avro")
    writeManifest(manifest, files.map(f => (f, 0, Some(1L), Nil)), _ => format)
    val list = meta.resolve("snap-1.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](listSchema))
    w.setMeta("format-version", "2")
    w.create(listSchema, list.toFile)
    try {
      val rec = new GenericData.Record(listSchema)
      Seq[(String, Any)]("manifest_path" -> manifest.toUri.toString,
        "manifest_length" -> Files.size(manifest), "partition_spec_id" -> 0,
        "content" -> 0, "sequence_number" -> 1L, "min_sequence_number" -> 1L,
        "added_snapshot_id" -> 1L, "added_files_count" -> files.size,
        "existing_files_count" -> 0, "deleted_files_count" -> 0,
        "added_rows_count" -> 200L, "existing_rows_count" -> 0L,
        "deleted_rows_count" -> 0L)
        .foreach { case (k, v) => rec.put(k, v.asInstanceOf[AnyRef]) }
      w.append(rec)
    } finally w.close()
    val metaPath = meta.resolve("v1.metadata.json")
    Files.writeString(metaPath,
      s"""{"format-version":2,"table-uuid":"00000000-0000-0000-0000-000000000001",
         |"location":"${root.toUri.toString.stripSuffix("/")}",
         |"last-sequence-number":1,"last-updated-ms":0,"last-column-id":3,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"long"},
         |{"id":2,"name":"k","required":false,"type":"int"},
         |{"id":3,"name":"v","required":false,"type":"string"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"last-partition-id":999,
         |"sort-orders":[{"order-id":0,"fields":[]}],"default-sort-order-id":0,
         |"properties":{},"current-snapshot-id":1,
         |"snapshots":[{"snapshot-id":1,"sequence-number":1,"timestamp-ms":0,
         |"summary":{"operation":"append"},
         |"manifest-list":"${list.toUri.toString}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin
        .replaceAll("\n", ""))
    metaPath.toString
  }

  test("an import of a 40-file ORC table starts no listing job") {
    import spark.implicits._
    val root = Files.createTempDirectory("scanplan-orc")
    val data = Files.createDirectories(root.resolve("data"))
    val files = (0 until 40).map { f =>
      val tmp = Files.createTempDirectory("scanplan-orc-part")
      (f * 5 until f * 5 + 5).map(i => (i.toLong, i % 5, s"v$i"))
        .toDF("id", "k", "v").coalesce(1).write.mode("overwrite")
        .orc(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".orc")).get
      Files.move(part, data.resolve(s"f$f.orc"))
    }
    val meta = icebergTable(root, files, "ORC")
    noListing(tuples(IcebergImport.read(spark, meta, None))) shouldBe expected()
  }

  test("an import whose manifest size disagrees with the file fails naming " +
    "the file") {
    val (_, meta) = exported(fortyFiles())
    val victim = IcebergImport.plan(meta, None).dataFiles.head
    // a valid parquet file, shorter than the manifest records, in its
    // place: a read that re-stats the file would return its (zero) rows
    val tmp = Files.createTempDirectory("scanplan-swap")
    spark.range(0).selectExpr("id", "CAST(id AS INT) AS k",
      "CAST(id AS STRING) AS v").coalesce(1).write.mode("overwrite")
      .parquet(tmp.toString)
    val at = Paths.get(victim.path)
    Files.move(Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get, at,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the old file's checksum sidecar would fail the read on its own
    Files.deleteIfExists(at.resolveSibling(s".${at.getFileName}.crc"))
    Files.size(at) should be < victim.bytes
    val e = intercept[Exception](IcebergImport.read(spark, meta, None).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains(at.getFileName.toString)) shouldBe true
  }
}
