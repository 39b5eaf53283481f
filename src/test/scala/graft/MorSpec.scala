package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{GraftRepo, TableOps, Tombstones}

/** Merge-on-read DELETE: predicate tombstones, O(1) metadata commits,
  * read-time application, compaction materialization. The contract
  * Iceberg's `write.delete.mode=merge-on-read` users rely on,
  * re-expressed as re-checkable predicates.
  */
class MorSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private val catRoot = Files.createTempDirectory("graft-mor")

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root", catRoot.toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)
  private def ids(q: String): Seq[Int] =
    sql(q).collect().toIndexedSeq.map(_.getInt(0))

  private var n = 0
  /** Fresh repo with a MoR-mode table holding ids 1..8. Returns repo name. */
  private def setup(mor: Boolean = true): String = {
    n += 1; val r = s"m$n"
    sql(s"CREATE NAMESPACE g.$r")
    sql(s"CREATE NAMESPACE g.$r.main.db")
    val props =
      if (mor) " TBLPROPERTIES('graft.delete.mode'='merge-on-read')" else ""
    sql(s"CREATE TABLE g.$r.main.db.t (id INT, name STRING)$props")
    sql(s"INSERT INTO g.$r.main.db.t VALUES " +
      (1 to 8).map(i => s"($i, 'name_$i')").mkString(", "))
    r
  }

  private def repoOf(r: String): GraftRepo = GraftRepo.open(catRoot.resolve(r))
  private def headSnap(r: String) =
    repoOf(r).snapshot(repoOf(r).headCommit("main").tables("db/t"))

  test("MoR DELETE commits a tombstone, zero file changes, correct reads") {
    val r = setup()
    val before = headSnap(r).files.map(_.path)
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    val after = headSnap(r)
    after.files.map(_.path) shouldBe before // no rewrite, no new files
    Tombstones.of(after) should have size 1
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (1 to 5)
    // filters + projections still work through the tombstoned scan
    ids(s"SELECT id FROM g.$r.main.db.t WHERE id > 2 ORDER BY id") shouldBe (3 to 5)
    sql(s"SELECT name FROM g.$r.main.db.t").collect().map(_.getString(0)).sorted shouldBe
      (1 to 5).map(i => s"name_$i").sorted
  }

  test("rows inserted AFTER a tombstone survive it even when matching") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    sql(s"INSERT INTO g.$r.main.db.t VALUES (7, 'resurrected_no'), (9, 'new')")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe Seq(1, 2, 3, 4, 5, 7, 9)
    // a second delete applies to everything current
    sql(s"DELETE FROM g.$r.main.db.t WHERE id = 7")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe Seq(1, 2, 3, 4, 5, 9)
    Tombstones.of(headSnap(r)) should have size 2
  }

  test("MoR matches CoW results exactly on the same deletes") {
    val rm = setup(mor = true)
    val rc = setup(mor = false)
    for (r <- Seq(rm, rc)) {
      sql(s"DELETE FROM g.$r.main.db.t WHERE id IN (2, 4) OR name = 'name_7'")
      sql(s"INSERT INTO g.$r.main.db.t VALUES (10, 'ten')")
      sql(s"DELETE FROM g.$r.main.db.t WHERE id > 7 AND id < 10")
    }
    val a = sql(s"SELECT * FROM g.$rm.main.db.t ORDER BY id").collect().map(_.toSeq)
    val b = sql(s"SELECT * FROM g.$rc.main.db.t ORDER BY id").collect().map(_.toSeq)
    a shouldBe b
    Tombstones.of(headSnap(rm)).size should be >= 2 // really took the MoR path
    Tombstones.of(headSnap(rc)) shouldBe empty      // really took the CoW path
  }

  test("time travel sees pre-delete rows; tombstones travel with snapshots") {
    val r = setup()
    val v0 = repoOf(r).headCommit("main").id
    sql(s"DELETE FROM g.$r.main.db.t WHERE id <= 3")
    ids(s"SELECT id FROM g.$r.main.db.t VERSION AS OF '$v0' ORDER BY id") shouldBe (1 to 8)
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (4 to 8)
  }

  test("compaction materializes tombstones and retires them") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    sql(s"INSERT INTO g.$r.main.db.t VALUES (11, 'eleven')")
    val repo = repoOf(r)
    val (before, after) = TableOps.compact(spark, repo, "main", "db/t")
    after should be < before
    val snap = headSnap(r)
    Tombstones.of(snap) shouldBe empty // no surviving file needs it
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe Seq(1, 2, 3, 4, 5, 11)
    // and the plain fast columnar path is back
    ids(s"SELECT id FROM g.$r.main.db.t WHERE id = 11") shouldBe Seq(11)
  }

  test("aggregates stay correct under tombstones (no stale metadata answers)") {
    val r = setup()
    sql(s"SELECT count(*) FROM g.$r.main.db.t").collect()(0).getLong(0) shouldBe 8
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    val row = sql(s"SELECT count(*) AS c, min(id) AS lo, max(id) AS hi " +
      s"FROM g.$r.main.db.t").collect()(0)
    row.getLong(0) shouldBe 5
    row.getInt(1) shouldBe 1
    row.getInt(2) shouldBe 5
  }

  test("SQL UPDATE (CoW rewrite) on a tombstoned table does not resurrect rows") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    sql(s"UPDATE g.$r.main.db.t SET name = 'upd' WHERE id = 2")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (1 to 5)
    sql(s"SELECT name FROM g.$r.main.db.t WHERE id = 2")
      .collect()(0).getString(0) shouldBe "upd"
  }

  test("DELETE on a dev branch stays isolated and merges into main") {
    val r = setup()
    sql(s"CREATE NAMESPACE g.$r.dev")
    sql(s"DELETE FROM g.$r.dev.db.t WHERE id = 6")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (1 to 8)
    repoOf(r).merge("dev", "main")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe
      Seq(1, 2, 3, 4, 5, 7, 8)
  }

  test("rename + widen keep old tombstones valid; DROP of a referenced column is rejected") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id = 8")
    sql(s"ALTER TABLE g.$r.main.db.t RENAME COLUMN id TO ident")
    sql(s"ALTER TABLE g.$r.main.db.t ALTER COLUMN ident TYPE BIGINT")
    sql(s"SELECT ident FROM g.$r.main.db.t ORDER BY ident")
      .collect().map(_.getLong(0)) shouldBe (1L to 7L)
    val e = intercept[Exception] {
      sql(s"ALTER TABLE g.$r.main.db.t DROP COLUMN ident")
    }
    e.getMessage should include("merge-on-read")
    // after compaction the drop goes through
    TableOps.compact(spark, repoOf(r), "main", "db/t")
    sql(s"ALTER TABLE g.$r.main.db.t DROP COLUMN ident")
    sql(s"SELECT * FROM g.$r.main.db.t").schema.fieldNames shouldBe Array("name")
  }

  test("non-serializable predicates and TRUNCATE fall back to copy-on-write") {
    val r = setup()
    // TRUNCATE arrives as deleteWhere(AlwaysTrue) -> CoW (drops all files)
    sql(s"TRUNCATE TABLE g.$r.main.db.t")
    sql(s"SELECT * FROM g.$r.main.db.t").collect() shouldBe empty
    Tombstones.of(headSnap(r)) shouldBe empty
  }

  test("MERGE INTO on a tombstoned table respects deletes") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    sql(
      s"""MERGE INTO g.$r.main.db.t t USING (
         |  SELECT 5 AS id, 'five_new' AS name UNION ALL
         |  SELECT 6 AS id, 'six_back' AS name) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.name = s.name
         |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)
         |""".stripMargin)
    // 6 was MoR-deleted, so it is NOT MATCHED and inserts fresh; 7,8 stay dead
    sql(s"SELECT id, name FROM g.$r.main.db.t ORDER BY id").collect()
      .map(row => (row.getInt(0), row.getString(1))).toSeq shouldBe Seq(
      (1, "name_1"), (2, "name_2"), (3, "name_3"), (4, "name_4"),
      (5, "five_new"), (6, "six_back"))
  }

  test("partitioned MoR: tombstones compose with partition pruning") {
    val r = setup() // plain table also exists; make a partitioned one
    sql(s"CREATE TABLE g.$r.main.db.p (id INT, cat INT) " +
      "PARTITIONED BY (cat) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql(s"INSERT INTO g.$r.main.db.p VALUES " +
      (1 to 20).map(i => s"($i, ${i % 4})").mkString(", "))
    sql(s"DELETE FROM g.$r.main.db.p WHERE cat = 1 AND id > 5")
    ids(s"SELECT id FROM g.$r.main.db.p WHERE cat = 1 ORDER BY id") shouldBe
      Seq(1, 5)
    ids(s"SELECT id FROM g.$r.main.db.p ORDER BY id") shouldBe
      (1 to 20).filterNot(i => i % 4 == 1 && i > 5)
  }

  test("MoR table identity-partitioned on a microsecond TIMESTAMP: files " +
    "under hive-escaped partition directories read, delete and export") {
    val r = setup()
    // blooms route the commit's stats through a scan of the new files
    sql(s"CREATE TABLE g.$r.main.db.ts (id INT, t TIMESTAMP) " +
      "PARTITIONED BY (t) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read', " +
      "'graft.bloom.columns'='id')")
    // the directory value `2024-06-01 07%3A08%3A09.00012` carries a
    // space and escaped colons: its location URI is percent-encoded
    sql(s"INSERT INTO g.$r.main.db.ts VALUES " +
      "(1, TIMESTAMP'2024-06-01 07:08:09.000120'), " +
      "(2, TIMESTAMP'2024-06-01 07:08:09.000120'), " +
      "(3, TIMESTAMP'2024-06-02 10:11:12.345678')")
    ids(s"SELECT id FROM g.$r.main.db.ts WHERE id = 1") shouldBe Seq(1)
    sql(s"DELETE FROM g.$r.main.db.ts WHERE id = 2")
    Tombstones.of(repoOf(r).snapshot(
      repoOf(r).headCommit("main").tables("db/ts"))) should have size 1
    ids(s"SELECT id FROM g.$r.main.db.ts ORDER BY id") shouldBe Seq(1, 3)
    val dest = Files.createTempDirectory("mor-ts-export")
    sql(s"CALL g.system.iceberg_export('$r', 'main', 'db.ts', '$dest')")
    graft.versioned.IcebergImport.read(spark, dest.toString, None)
      .select("id").collect().map(_.getInt(0)).sorted.toSeq shouldBe Seq(1, 3)
  }

  test("CoW rewrites conflict with concurrent MoR deletes (signature check)") {
    import graft.catalog.GraftCoWWrite
    import graft.versioned.MergeConflictException
    val r = setup()
    val s0 = headSnap(r) // no tombstones
    sql(s"DELETE FROM g.$r.main.db.t WHERE id = 8")
    val s1 = headSnap(r) // one tombstone
    // scan saw s0, rebases onto s1 (tombstone landed since) -> conflict
    intercept[MergeConflictException] {
      GraftCoWWrite.validateTombstones(Tombstones.signature(s0), s1, "db/t")
    }
    // scan saw s1, rebases onto s1 -> fine
    GraftCoWWrite.validateTombstones(Tombstones.signature(s1), s1, "db/t")
    // same SEQ but a different predicate (revert + re-delete aliasing)
    // must still conflict: the signature carries the predicate
    val repo = repoOf(r)
    val aliased = repo.writeSnapshot("db/t", s1.schemaJson, s1.files,
      s1.partitionBy, s1.physicalNames,
      Some(Tombstones.append(s0.properties,
        Tombstones.of(s1).head.seq, // SAME seq number
        org.apache.spark.sql.sources.EqualTo("id", 3))), s1.retired)
    intercept[MergeConflictException] {
      GraftCoWWrite.validateTombstones(Tombstones.signature(s1), aliased, "db/t")
    }
  }

  test("scan-path and rewrite-path keep predicates agree on nulls and types") {
    import org.apache.spark.sql.{sources => S}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", DoubleType, nullable = true),
      StructField("name", StringType, nullable = true)))
    val rows = Seq(
      Row(1, 1.5, "alpha"), Row(2, null, "beta"), Row(3, 3.0, null),
      Row(4, -0.5, "gamma"), Row(5, null, null), Row(6, 2.5, "alp"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val filters: Seq[S.Filter] = Seq(
      S.EqualTo("id", 2),
      S.And(S.GreaterThan("x", 1.0), S.StringStartsWith("name", "alp")),
      S.Or(S.IsNull("x"), S.LessThanOrEqual("id", 1)),
      S.Not(S.IsNotNull("name")),
      S.In("id", Array(4, 6)))
    for (f <- filters) {
      val t = graft.versioned.Tombstone(1L, f)
      // DataFrame dialect (rewrite paths)
      val kept = df.filter(Tombstones.keepColumn(Seq(t)))
        .collect().map(_.getInt(0)).toSet
      // Catalyst dialect (DSv2 scan path) over the same rows
      val js = Tombstones.filterJsons(Seq(t))
      val keep = org.apache.spark.sql.catalyst.expressions.Predicate.create(
        org.apache.spark.sql.graftbridge.TombstoneReadBridge
          .keepExpressionForTest(js, schema))
      val keptScan = df.queryExecution.toRdd.map(_.copy()).collect()
        .filter(keep.eval).map(_.getInt(0)).toSet
      withClue(s"filter $f: ") { keptScan shouldBe kept }
    }
  }

  test("Scala-API snapshot reads and diffs apply tombstones") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    val repo = repoOf(r)
    val df = TableOps.readSnapshot(spark, repo, headSnap(r))
    df.collect().map(_.getInt(0)).sorted shouldBe (1 to 5)
  }

  test("t.tombstones metadata table lists live tombstones + affected files") {
    val r = setup()
    sql(s"DELETE FROM g.$r.main.db.t WHERE id >= 6")
    sql(s"INSERT INTO g.$r.main.db.t VALUES (9, 'after')") // exempt file
    val rows = sql(s"SELECT seq, predicate, n_files_affected " +
      s"FROM g.$r.main.db.t.tombstones").collect()
    rows should have size 1
    val seq = rows.head.getLong(0)
    rows.head.getString(1) should include("6")
    // exactly the PRE-tombstone files whose [min,max] admits id>=6 — the
    // post-tombstone insert (id=9, committed later) is exempt and never
    // counted even though it matches the predicate
    val snap = headSnap(r)
    val expected = snap.files.count(f =>
      f.seqNo < seq && f.max("id").toInt >= 6)
    expected should be >= 1
    rows.head.getInt(2) shouldBe expected
    expected should be < snap.files.size
    // compaction materializes -> table empties
    TableOps.compact(spark, repoOf(r), "main", "db/t")
    sql(s"SELECT * FROM g.$r.main.db.t.tombstones").collect() shouldBe empty
  }

  // ---- merge-on-read UPDATE --------------------------------------------

  private def morUpdateTable(): String = {
    val r = setup()
    sql(s"ALTER TABLE g.$r.main.db.t " +
      "SET TBLPROPERTIES('graft.update.mode'='merge-on-read')")
    r
  }

  test("MoR UPDATE: tombstone + appended rows, zero files rewritten") {
    import org.apache.spark.sql.functions.{concat, lit => slit}
    import org.apache.spark.sql.sources
    val r = morUpdateTable()
    val before = headSnap(r).files.map(_.path).toSet
    TableOps.updateWhere(spark, repoOf(r), "main", "db/t",
      Seq(sources.GreaterThanOrEqual("id", 6)),
      Map("name" -> concat(slit("upd_"), org.apache.spark.sql.functions.col("name"))))
    val after = headSnap(r)
    // every pre-update file is still there untouched; only appends
    before.subsetOf(after.files.map(_.path).toSet) shouldBe true
    after.files.size should be > before.size
    Tombstones.of(after) should have size 1
    sql(s"SELECT name FROM g.$r.main.db.t WHERE id = 7")
      .collect().head.getString(0) shouldBe "upd_name_7"
    sql(s"SELECT count(*) FROM g.$r.main.db.t")
      .collect().head.getLong(0) shouldBe 8 // no duplicates, no losses
  }

  test("MoR UPDATE rows still matching the predicate survive their own tombstone") {
    import org.apache.spark.sql.functions.{lit => slit}
    import org.apache.spark.sql.sources
    val r = morUpdateTable()
    // SET name but keep id: updated rows still match id = 3
    TableOps.updateWhere(spark, repoOf(r), "main", "db/t",
      Seq(sources.EqualTo("id", 3)), Map("name" -> slit("three")))
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (1 to 8)
    sql(s"SELECT name FROM g.$r.main.db.t WHERE id = 3")
      .collect().head.getString(0) shouldBe "three"
    // a LATER delete with the same predicate removes the updated row
    sql(s"DELETE FROM g.$r.main.db.t WHERE id = 3")
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe
      Seq(1, 2, 4, 5, 6, 7, 8)
  }

  test("MoR UPDATE matches CoW UPDATE results exactly") {
    import org.apache.spark.sql.functions.{col, lit => slit}
    import org.apache.spark.sql.sources
    val rMor = morUpdateTable()
    val rCow = setup(mor = false)
    for (r <- Seq(rMor, rCow))
      TableOps.updateWhere(spark, repoOf(r), "main", "db/t",
        Seq(sources.LessThan("id", 4)),
        Map("id" -> (col("id") + slit(100)), "name" -> slit("x")))
    val q = (r: String) =>
      sql(s"SELECT id, name FROM g.$r.main.db.t ORDER BY id")
        .collect().toSeq.map(_.toSeq)
    q(rMor) shouldBe q(rCow)
  }

  test("MoR UPDATE SET expressions all see the OLD row (simultaneous assignment)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources
    val r = morUpdateTable()
    sql(s"ALTER TABLE g.$r.main.db.t ADD COLUMN m INT")
    sql(s"INSERT INTO g.$r.main.db.t VALUES (100, 'swap', 7)")
    // swap id and m: both right-hand sides must read pre-update values
    TableOps.updateWhere(spark, repoOf(r), "main", "db/t",
      Seq(sources.EqualTo("id", 100)),
      Map("id" -> col("m"), "m" -> col("id")))
    val row = sql(s"SELECT id, m FROM g.$r.main.db.t WHERE name = 'swap'")
      .collect().head
    (row.getInt(0), row.getInt(1)) shouldBe ((7, 100))
  }

  test("compaction materializes MoR updates and retires their tombstones") {
    import org.apache.spark.sql.functions.{lit => slit}
    import org.apache.spark.sql.sources
    val r = morUpdateTable()
    TableOps.updateWhere(spark, repoOf(r), "main", "db/t",
      Seq(sources.GreaterThan("id", 5)), Map("name" -> slit("big")))
    TableOps.compact(spark, repoOf(r), "main", "db/t")
    val after = headSnap(r)
    Tombstones.of(after) shouldBe empty
    sql(s"SELECT count(*) FROM g.$r.main.db.t WHERE name = 'big'")
      .collect().head.getLong(0) shouldBe 3
    ids(s"SELECT id FROM g.$r.main.db.t ORDER BY id") shouldBe (1 to 8)
  }
}
