package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{GraftRepo, Partitioning}

/** The NATIVE partitioned DSv2 batch write (GraftPartitionedInsertWrite):
  * layout parity with the old V1 bridge, declared distribution/ordering
  * in the INSERT plan, bloom sidecars, null/rename/concurrency edges.
  */
class PartitionedWriteSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root", Files.createTempDirectory("graft-pw").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)
  private def repo(name: String): GraftRepo =
    GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), name))

  private def fileEntries(r: GraftRepo, key: String) = {
    val head = r.headCommit("main")
    r.snapshot(head.tables(key)).files
  }

  test("identity-partitioned INSERT: hive layout, per-file partition values, pruning") {
    sql("CREATE NAMESPACE g.pw1")
    sql("CREATE NAMESPACE g.pw1.main.db")
    sql("CREATE TABLE g.pw1.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    sql("INSERT INTO g.pw1.main.db.t VALUES " +
      (1 to 20).map(i => s"($i, 'r${i % 3}')").mkString(", "))
    // every data file sits under a __p_region=<value> directory and
    // records exactly that value in snapshot metadata
    val files = fileEntries(repo("pw1"), "db/t")
    files should not be empty
    files.foreach { f =>
      f.path should include("__p_region=")
      f.partValues.get("region") shouldBe
        Some(Partitioning.valuesFromPath(f.path)("region"))
    }
    files.flatMap(_.partValues.get("region")).toSet shouldBe Set("r0", "r1", "r2")
    // read-back equality + partition-pruned count
    sql("SELECT count(*) FROM g.pw1.main.db.t").collect().head.getLong(0) shouldBe 20
    sql("SELECT count(*) FROM g.pw1.main.db.t WHERE region = 'r1'")
      .collect().head.getLong(0) shouldBe 7
  }

  test("row-level rewrites keep the partition layout: UPDATE and MERGE " +
    "replacement files land in hive dirs with per-file partition " +
    "tuples (pruning must not decay under churn), and a partition-" +
    "moving UPDATE re-routes the row") {
    sql("CREATE NAMESPACE g.pwrl")
    sql("CREATE NAMESPACE g.pwrl.main.db")
    sql("CREATE TABLE g.pwrl.main.db.t (id INT, region STRING) " +
      "PARTITIONED BY (region)")
    sql("INSERT INTO g.pwrl.main.db.t VALUES " +
      (1 to 12).map(i => s"($i, 'r${i % 3}')").mkString(", "))
    sql("UPDATE g.pwrl.main.db.t SET id = id + 100 WHERE id = 5")
    val files = fileEntries(repo("pwrl"), "db/t")
    files.foreach { f =>
      f.path should include("__p_region=")
      f.partValues.get("region") shouldBe
        Some(Partitioning.valuesFromPath(f.path)("region"))
    }
    // a partition-moving update: the row physically re-routes to the
    // new value's directory
    sql("UPDATE g.pwrl.main.db.t SET region = 'r9' WHERE id = 105")
    val after = fileEntries(repo("pwrl"), "db/t")
    after.flatMap(_.partValues.get("region")).toSet should contain ("r9")
    after.foreach { f =>
      f.partValues.get("region") shouldBe
        Some(Partitioning.valuesFromPath(f.path)("region"))
    }
    sql("SELECT region FROM g.pwrl.main.db.t WHERE id = 105")
      .collect().head.getString(0) shouldBe "r9"
    sql("SELECT count(*) FROM g.pwrl.main.db.t").collect()
      .head.getLong(0) shouldBe 12
  }

  test("INSERT plan DECLARES the write distribution (rebalance/exchange + sort)") {
    sql("CREATE NAMESPACE g.pw2")
    sql("CREATE NAMESPACE g.pw2.main.db")
    sql("CREATE TABLE g.pw2.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    // a multi-row input: a 1-row child lets EliminateSorts drop the
    // requested ordering (sortedness is trivially satisfied)
    val plan = sql(
      "EXPLAIN EXTENDED INSERT INTO g.pw2.main.db.t " +
        "SELECT CAST(id AS INT), concat('r', id % 3) FROM range(0, 100)")
      .collect().head.getString(0)
    // the RequiresDistributionAndOrdering request survives analysis:
    // optimized plan carries the rebalance (advisory distribution) and
    // the partition-value sort
    (plan.toLowerCase should include).regex("rebalancepartitions|repartitionbyexpression")
    plan.toLowerCase should include("sort")
  }

  test("bucket + days + truncate transforms route through the native writer") {
    sql("CREATE NAMESPACE g.pw3")
    sql("CREATE NAMESPACE g.pw3.main.db")
    sql("""CREATE TABLE g.pw3.main.db.ev (id BIGINT, ts TIMESTAMP, name STRING)
          PARTITIONED BY (bucket(4, id), days(ts))""")
    sql("INSERT INTO g.pw3.main.db.ev SELECT id, " +
      "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id%72 AS INT),0,0), " +
      "concat('n', id) FROM range(0, 500)")
    val files = fileEntries(repo("pw3"), "db/ev")
    files should not be empty
    // dir values recorded for BOTH fields; days dirs are the 3 distinct days
    val days = files.flatMap(_.partValues.values.find(_.startsWith("2024-"))).toSet
    days shouldBe Set("2024-03-01", "2024-03-02", "2024-03-03")
    // bucket dir value matches the literal-side bucket of a known id:
    // find the file(s) holding id=7 via a filtered read
    sql("SELECT count(*) FROM g.pw3.main.db.ev").collect().head.getLong(0) shouldBe 500
    val b7 = Partitioning.bucketOfLiteral(7L, org.apache.spark.sql.types.LongType, 4)
    sql(s"SELECT id FROM g.pw3.main.db.ev WHERE id = 7")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(7L)
    files.filter(_.partValues.values.exists(_ == b7.toString)) should not be empty
    // temporal pruning still engages on the new layout
    sql("SELECT count(*) FROM g.pw3.main.db.ev WHERE ts >= timestamp'2024-03-03 00:00:00'")
      .collect().head.getLong(0) shouldBe
      sql("SELECT count(*) FROM g.pw3.main.db.ev").collect().head.getLong(0) -
      sql("SELECT count(*) FROM g.pw3.main.db.ev WHERE ts < timestamp'2024-03-03 00:00:00'")
        .collect().head.getLong(0)
  }

  test("string-truncate partitions + NULL partition value lands in the hive null dir") {
    sql("CREATE NAMESPACE g.pw4")
    sql("CREATE NAMESPACE g.pw4.main.db")
    sql("""CREATE TABLE g.pw4.main.db.t (id INT, code STRING)
          PARTITIONED BY (truncate(2, code))""")
    sql("INSERT INTO g.pw4.main.db.t VALUES (1,'alpha'), (2,'alto'), (3,'beta'), (4, NULL)")
    val files = fileEntries(repo("pw4"), "db/t")
    val dirVals = files.flatMap(_.partValues.values).toSet
    dirVals should contain allOf ("al", "be", Partitioning.NullMarker)
    sql("SELECT id FROM g.pw4.main.db.t WHERE code IS NULL")
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(4)
    sql("SELECT count(*) FROM g.pw4.main.db.t").collect().head.getLong(0) shouldBe 4
  }

  test("rename column then INSERT: files carry the physical name, reads the logical") {
    sql("CREATE NAMESPACE g.pw5")
    sql("CREATE NAMESPACE g.pw5.main.db")
    sql("CREATE TABLE g.pw5.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    sql("INSERT INTO g.pw5.main.db.t VALUES (1, 'a')")
    sql("ALTER TABLE g.pw5.main.db.t RENAME COLUMN region TO zone")
    sql("INSERT INTO g.pw5.main.db.t VALUES (2, 'b')")
    sql("SELECT id, zone FROM g.pw5.main.db.t ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((1, "a"), (2, "b"))
    // partition pruning works across the rename (logical filter name)
    sql("SELECT id FROM g.pw5.main.db.t WHERE zone = 'b'")
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(2)
  }

  test("partitioned table WITH bloom sidecars: native write builds them") {
    sql("CREATE NAMESPACE g.pw6")
    sql("CREATE NAMESPACE g.pw6.main.db")
    sql("""CREATE TABLE g.pw6.main.db.t (id BIGINT, region STRING)
          PARTITIONED BY (region)
          TBLPROPERTIES ('graft.bloom.columns'='id')""")
    sql("INSERT INTO g.pw6.main.db.t SELECT id, concat('r', id % 2) FROM range(0, 1000)")
    val files = fileEntries(repo("pw6"), "db/t")
    files should not be empty
    files.foreach { f =>
      f.bloomCols shouldBe Some(Seq("id"))
      f.partValues.keySet should contain("region")
    }
    sql("SELECT region FROM g.pw6.main.db.t WHERE id = 123")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("r1")
  }

  test("concurrent partitioned INSERTs: optimistic retry keeps both commits") {
    sql("CREATE NAMESPACE g.pw7")
    sql("CREATE NAMESPACE g.pw7.main.db")
    sql("CREATE TABLE g.pw7.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        sql(s"INSERT INTO g.pw7.main.db.t VALUES ($t, 'r$t')"))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    sql("SELECT count(*) FROM g.pw7.main.db.t").collect().head.getLong(0) shouldBe 4
    fileEntries(repo("pw7"), "db/t")
      .flatMap(_.partValues.get("region")).toSet shouldBe
      Set("r0", "r1", "r2", "r3")
  }

  test("partitioned CTAS with bloom TBLPROPERTIES: native layout write, " +
    "sidecars built at create time") {
    sql("CREATE NAMESPACE g.pw9")
    sql("CREATE NAMESPACE g.pw9.main.db")
    sql("""CREATE TABLE g.pw9.main.db.t
          PARTITIONED BY (region)
          TBLPROPERTIES ('graft.bloom.columns'='id')
          AS SELECT CAST(id AS BIGINT) AS id, concat('r', id % 3) AS region
             FROM range(0, 300)""")
    val files = fileEntries(repo("pw9"), "db/t")
    files should not be empty
    files.foreach { f =>
      f.path should include("__p_region=")
      f.partValues.keySet should contain("region")
      f.bloomCols shouldBe Some(Seq("id"))
    }
    sql("SELECT count(*) FROM g.pw9.main.db.t").collect().head.getLong(0) shouldBe 300
    sql("SELECT region FROM g.pw9.main.db.t WHERE id = 42")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("r0")
    // RTAS through the same native path
    sql("""CREATE OR REPLACE TABLE g.pw9.main.db.t
          PARTITIONED BY (region)
          AS SELECT CAST(id AS BIGINT) AS id, concat('r', id % 2) AS region
             FROM range(0, 10)""")
    sql("SELECT count(*) FROM g.pw9.main.db.t").collect().head.getLong(0) shouldBe 10
  }

  test("single-pass footer stats are IDENTICAL to a scan-computed stats " +
    "pass (min/max/nulls/rows; NDV within sketch band)") {
    sql("CREATE NAMESPACE g.pw10")
    sql("CREATE NAMESPACE g.pw10.main.db")
    sql("""CREATE TABLE g.pw10.main.db.t
          (id BIGINT, name STRING, price DOUBLE, ts TIMESTAMP, d DATE,
           maybe INT) PARTITIONED BY (bucket(3, id))""")
    sql("""INSERT INTO g.pw10.main.db.t
          SELECT id, concat('n', id % 97),
                 CAST(id AS DOUBLE) / 7.0,
                 timestamp'2024-05-01 00:00:00' + make_interval(0,0,0,0,0,0,CAST(id*13 AS INT)),
                 date'2024-01-01' + CAST(id % 200 AS INT),
                 CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id % 40 AS INT) END
          FROM range(0, 2000)""")
    val r = repo("pw10")
    val entries = fileEntries(r, "db/t")
    entries should not be empty
    // recompute what the old scan pass would have produced on the SAME
    // files, and compare stat for stat
    val spark2 = spark
    val snap = r.snapshot(r.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val scanned = graft.versioned.TableOps.statsForFiles(spark2, r,
      graft.versioned.TableOps.statusesOf(r, entries), schema,
      snap.partitionFields, Nil, graft.versioned.Blooms.DefaultItems)
      .map(e => e.path -> e).toMap
    // parquet normalizes float/double zero bounds (min→-0.0, max→+0.0 —
    // conservative in the safe direction); the scan's Spark min/max
    // reports the sign it saw. Numerically equal, so compare modulo it.
    def normZero(m: Map[String, String]): Map[String, String] =
      m.map { case (k, v) => k -> (if (v == "-0.0") "0.0" else v) }
    entries.foreach { e =>
      val s = scanned(e.path)
      e.rows shouldBe s.rows
      normZero(e.min) shouldBe normZero(s.min)
      normZero(e.max) shouldBe normZero(s.max)
      e.nullCounts shouldBe s.nullCounts
      e.partValues shouldBe s.partValues
      // NDV: a different sketch (HLL vs approx_count_distinct) — band
      val ndvF = e.ndvCounts
      val ndvS = s.ndvCounts
      ndvF.keySet shouldBe ndvS.keySet
      ndvF.foreach { case (c, v) =>
        val ref = math.max(ndvS(c), 1L)
        (v.toDouble / ref) should (be >= 0.7 and be <= 1.4)
      }
    }
  }

  test("native STREAMING_WRITE: writeStream.toTable lands exactly-once " +
    "epoch commits through the layout writer (partition dirs included)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    sql("CREATE NAMESPACE g.pws")
    sql("CREATE NAMESPACE g.pws.main.db")
    sql("CREATE TABLE g.pws.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    val in = MemoryStream[(Int, String)](spark)
    val q = in.toDF().toDF("id", "region").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pws-ckpt").toString)
      .toTable("g.pws.main.db.t")
    try {
      in.addData((1, "a"), (2, "b")); q.processAllAvailable()
      in.addData((3, "a")); q.processAllAvailable()
    } finally q.stop()
    sql("SELECT id, region FROM g.pws.main.db.t ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((1, "a"), (2, "b"), (3, "a"))
    val r = repo("pws")
    val snap = r.snapshot(r.headCommit("main").tables("db/t"))
    // partition layout + durable epoch marker both present
    snap.files.flatMap(_.partValues.get("region")).toSet shouldBe Set("a", "b")
    snap.properties(graft.versioned.TableOps.StreamBatchProp).toLong should be >= 1L
    // partition pruning works on stream-written files
    sql("SELECT count(*) FROM g.pws.main.db.t WHERE region = 'a'")
      .collect().head.getLong(0) shouldBe 2

    // the exactly-once guard: a REPLAYED epoch id must be a no-op even
    // with fresh staged entries
    val head = r.headCommit("main").id
    val lastEpoch = snap.properties(graft.versioned.TableOps.StreamBatchProp).toLong
    graft.versioned.TableOps.streamingCommitAppend(r, "main", "db/t",
      snap.partitionFields, snap.nameMapping, snap.schemaJson)(
      lastEpoch,
      Seq(graft.versioned.FileEntry("db/t/bogus.parquet", 1, Map.empty,
        Map.empty, Some(Map("region" -> "z")), Some(1L))))
    r.headCommit("main").id shouldBe head // no commit happened
    // and an empty epoch commits nothing either
    graft.versioned.TableOps.streamingCommitAppend(r, "main", "db/t",
      snap.partitionFields, snap.nameMapping, snap.schemaJson)(
      lastEpoch + 100, Nil)
    r.headCommit("main").id shouldBe head
  }

  test("outputMode(complete) streaming REPLACES the table per epoch " +
    "(truncate semantics — no duplicate aggregate snapshots)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.count
    import spark.implicits._
    sql("CREATE NAMESPACE g.pw13")
    sql("CREATE NAMESPACE g.pw13.main.db")
    sql("CREATE TABLE g.pw13.main.db.agg (region STRING, n BIGINT)")
    val in = MemoryStream[(Int, String)](spark)
    val q = in.toDF().toDF("id", "region")
      .groupBy($"region").agg(count("*").as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-pw13-ckpt").toString)
      .toTable("g.pw13.main.db.agg")
    try {
      in.addData((1, "a"), (2, "b")); q.processAllAvailable()
      in.addData((3, "a")); q.processAllAvailable()
    } finally q.stop()
    // two Complete triggers ran; the table holds ONE copy of the latest
    // full result — the old behavior appended both, duplicating region
    // rows with stale counts
    sql("SELECT region, n FROM g.pw13.main.db.agg ORDER BY region")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("a", 2L), ("b", 1L))
  }

  test("streaming epoch ABORT deletes only that epoch's files — " +
    "earlier committed epochs survive (shared staging dir)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.unsafe.types.UTF8String
    sql("CREATE NAMESPACE g.pw14")
    sql("CREATE NAMESPACE g.pw14.main.db")
    sql("CREATE TABLE g.pw14.main.db.t (id INT, v STRING)")
    val r = repo("pw14")
    val snap = r.snapshot(r.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    // ONE GraftLayoutWrite (= one staging dir) serves every epoch of a
    // streaming query — exactly the production shape
    val w = new graft.catalog.GraftLayoutWrite(r, "db/t", schema,
      snap.nameMapping, snap.partitionFields, Nil, 0L, "abort-test",
      onCommit = _ => (),
      onEpochCommit = Some(graft.versioned.TableOps.streamingCommitAppend(
        r, "main", "db/t", snap.partitionFields, snap.nameMapping,
        snap.schemaJson)))
    val sw = w.toStreaming
    val f = sw.createStreamingWriterFactory(null)
    // epoch 0 commits a row
    val dw0 = f.createWriter(0, 0L, 0L)
    dw0.write(InternalRow(1, UTF8String.fromString("a")))
    sw.commit(0, Array(dw0.commit()))
    sql("SELECT count(*) FROM g.pw14.main.db.t")
      .collect().head.getLong(0) shouldBe 1
    // epoch 1: tasks completed (files staged, messages sent), then the
    // epoch aborts driver-side
    val dw1 = f.createWriter(0, 1L, 1L)
    dw1.write(InternalRow(2, UTF8String.fromString("b")))
    sw.abort(1, Array(dw1.commit()))
    // epoch 0's PUBLISHED file (same staging dir) must still be readable;
    // the old recursive staging wipe destroyed it
    sql("SELECT id FROM g.pw14.main.db.t").collect()
      .map(_.getInt(0)) shouldBe Array(1)
    val survivor = r.snapshot(r.headCommit("main").tables("db/t")).files
    survivor.map(_.path).foreach { p =>
      r.io.isFile(r.root.resolve(p)) shouldBe true
    }
  }

  test("string stats prune in UTF-8 BINARY order (supplementary chars)") {
    sql("CREATE NAMESPACE g.pw15")
    sql("CREATE NAMESPACE g.pw15.main.db")
    sql("CREATE TABLE g.pw15.main.db.t (id INT, v STRING)")
    // U+1F600 is F0 9F 98 80 in UTF-8 (ABOVE ￿ = EF BF BF) but
    // D83D DE00 in UTF-16 code units (BELOW ￿) — a UTF-16
    // comparator concludes file-max < literal and wrongly prunes the
    // file, dropping the live emoji row
    val emoji = "😀"
    sql(s"INSERT INTO g.pw15.main.db.t VALUES (1, '￿'), (2, '$emoji')")
    sql(s"SELECT id FROM g.pw15.main.db.t WHERE v > '￿'")
      .collect().map(_.getInt(0)) shouldBe Array(2)
  }

  test("INSERT OVERWRITE replaces content through the native path") {
    sql("CREATE NAMESPACE g.pw8")
    sql("CREATE NAMESPACE g.pw8.main.db")
    sql("CREATE TABLE g.pw8.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    sql("INSERT INTO g.pw8.main.db.t VALUES (1, 'a'), (2, 'b')")
    sql("INSERT OVERWRITE g.pw8.main.db.t VALUES (9, 'z')")
    sql("SELECT id, region FROM g.pw8.main.db.t")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe Seq((9, "z"))
  }

  test("spark.sql.files.maxRecordsPerFile rolls the writer: an INSERT of " +
    "40 rows at 4 records per file lands as 10 files") {
    sql("CREATE NAMESPACE g.pw16")
    sql("CREATE NAMESPACE g.pw16.main.db")
    sql("CREATE TABLE g.pw16.main.db.t (id BIGINT, v STRING)")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try sql("INSERT INTO g.pw16.main.db.t " +
      "SELECT id, concat('v', id) FROM range(0, 40, 1, 2)")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val files = fileEntries(repo("pw16"), "db/t")
    files should have size 10
    files.map(_.rows).foreach(_ shouldBe 4L)
    sql("SELECT count(*) FROM g.pw16.main.db.t").collect().head.getLong(0) shouldBe 40
  }

  test("SQL DELETE (copy-on-write): every rewritten file carries NDV for " +
    "every statable column") {
    sql("CREATE NAMESPACE g.pw17")
    sql("CREATE NAMESPACE g.pw17.main.db")
    sql("CREATE TABLE g.pw17.main.db.t (id BIGINT, name STRING, " +
      "ts TIMESTAMP, d DATE, tags ARRAY<STRING>)")
    sql("INSERT INTO g.pw17.main.db.t SELECT id, concat('n', id % 13), " +
      "timestamp'2024-05-01 00:00:00' + make_interval(0,0,0,0,0,0,CAST(id AS INT)), " +
      "date'2024-01-01' + CAST(id % 30 AS INT), array('a') FROM range(0, 200, 1, 4)")
    val r = repo("pw17")
    val before = fileEntries(r, "db/t").map(_.path).toSet
    sql("DELETE FROM g.pw17.main.db.t WHERE id < 30")
    val rewritten = fileEntries(r, "db/t").filterNot(f => before(f.path))
    rewritten should not be empty
    rewritten.foreach { f =>
      f.ndvCounts.keySet shouldBe Set("id", "name", "ts", "d")
      f.ndvCounts.values.foreach(_ should be > 0L)
    }
    sql("SELECT count(*) FROM g.pw17.main.db.t").collect().head.getLong(0) shouldBe 170
  }

  test("a driver-local partitioned frame appended through " +
    "TableOps.atomicAppend runs no Spark job: one file per partition " +
    "value, entries carry partition values and NDV") {
    sql("CREATE NAMESPACE g.pw18")
    sql("CREATE NAMESPACE g.pw18.main.db")
    sql("CREATE TABLE g.pw18.main.db.t (id INT, region STRING) PARTITIONED BY (region)")
    val r = repo("pw18")
    import spark.implicits._
    // values interleaved, so one file per value needs the writer's grouping
    val df = (1 to 60).map(i => (i, s"r${i % 3}")).toDF("id", "region")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.versioned.TableOps.atomicAppend(spark, r, "main",
        Seq("db/t" -> df), "local partitioned append")
      org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get() shouldBe 0
    val files = fileEntries(r, "db/t")
    files should have size 3
    files.map(_.partValues) should contain theSameElementsAs
      Seq("r0", "r1", "r2").map(v => Map("region" -> v))
    files.foreach { f =>
      f.path should include(s"__p_region=${f.partValues("region")}")
      f.rows shouldBe 20L
      f.ndvCounts("id") should (be >= 19L and be <= 21L)
      f.ndvCounts("region") shouldBe 1L
    }
    sql("SELECT count(*) FROM g.pw18.main.db.t WHERE region = 'r1'")
      .collect().head.getLong(0) shouldBe 20
  }
}
