package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{Commit, CommitConflictException, GraftRepo, InMemoryGraftIO, MergeConflictException, Partitioning, TableOps, ViewDef}

/** Mirrors the reference's behavioral contract (tests/test_iceberg.py:9-57):
  * zero-copy branches, branch-isolated DML, merge convergence — plus the
  * optimistic-concurrency commit protocol of LakeFSTableOperations.java.
  */
class VersionedSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.g", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.g.root", Files.createTempDirectory("graft-cat").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)
  private def rows(q: String): Seq[Seq[Any]] =
    sql(q).collect().toIndexedSeq.map(_.toSeq)

  private def setupRepo(repoName: String): Unit = {
    sql(s"CREATE NAMESPACE g.$repoName")
    sql(s"CREATE NAMESPACE g.$repoName.main.db")
    sql(s"CREATE TABLE g.$repoName.main.db.t (id INT, name STRING)")
    sql(s"INSERT INTO g.$repoName.main.db.t VALUES " +
      (1 to 8).map(i => s"($i, 'name_$i')").mkString(", "))
  }

  // tests/test_iceberg.py:9 test_diff_two_same_branches
  test("branch from main → tables identical on both branches (zero-copy)") {
    setupRepo("r1")
    sql("CREATE NAMESPACE g.r1.dev")   // branch dev from main
    val main = rows("SELECT * FROM g.r1.main.db.t ORDER BY id")
    val dev = rows("SELECT * FROM g.r1.dev.db.t ORDER BY id")
    main should have size 8
    dev shouldBe main
    // SHOW TABLES + USE on the branch namespace
    sql("USE g.r1.dev.db")
    sql("SHOW TABLES").collect().map(_.getString(1)) should contain("t")
    spark.catalog.setCurrentCatalog("spark_catalog")
  }

  // tests/test_iceberg.py:29 test_delete_on_dev_and_merge
  test("DELETE on dev branch → isolated → merge into main → identical") {
    setupRepo("r2")
    sql("CREATE NAMESPACE g.r2.dev")
    sql("DELETE FROM g.r2.dev.db.t WHERE id = 6")
    rows("SELECT id FROM g.r2.dev.db.t ORDER BY id").flatten shouldBe
      Seq(1, 2, 3, 4, 5, 7, 8)
    // main untouched before the merge (branch isolation)
    rows("SELECT id FROM g.r2.main.db.t ORDER BY id").flatten shouldBe (1 to 8)
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r2"))
    repo.merge("dev", "main")
    rows("SELECT * FROM g.r2.main.db.t ORDER BY id") shouldBe
      rows("SELECT * FROM g.r2.dev.db.t ORDER BY id")
    rows("SELECT id FROM g.r2.main.db.t ORDER BY id").flatten shouldBe
      Seq(1, 2, 3, 4, 5, 7, 8)
  }

  // tests/test_iceberg.py:43 test_multiple_changes_and_merge
  test("multiple DELETEs + INSERT on dev → merge → identical, schema kept") {
    setupRepo("r3")
    sql("CREATE NAMESPACE g.r3.dev")
    sql("DELETE FROM g.r3.dev.db.t WHERE id = 6")
    sql("DELETE FROM g.r3.dev.db.t WHERE id = 2")
    sql("INSERT INTO g.r3.dev.db.t VALUES (9, 'name_9'), (10, 'name_10')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r3"))
    repo.merge("dev", "main")
    rows("SELECT id FROM g.r3.main.db.t ORDER BY id").flatten shouldBe
      Seq(1, 3, 4, 5, 7, 8, 9, 10)
    sql("SELECT * FROM g.r3.main.db.t").schema.fieldNames shouldBe Array("id", "name")
  }

  test("time travel: VERSION AS OF reads the pre-delete commit") {
    setupRepo("r4")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r4"))
    val preDelete = repo.headCommit("main").id
    sql("DELETE FROM g.r4.main.db.t WHERE id <= 4")
    rows("SELECT count(*) FROM g.r4.main.db.t").head.head shouldBe 4L
    rows(s"SELECT count(*) FROM g.r4.main.db.t VERSION AS OF '$preDelete'")
      .head.head shouldBe 8L
  }

  test("3-way merge takes the changed side; both-changed conflicts") {
    setupRepo("r5")
    val root = java.nio.file.Paths.get(spark.conf.get("spark.sql.catalog.g.root"), "r5")
    val repo = GraftRepo.open(root)
    sql("CREATE NAMESPACE g.r5.dev")
    // diverge: dev deletes from t; main creates an unrelated table u
    sql("DELETE FROM g.r5.dev.db.t WHERE id = 1")
    sql("CREATE TABLE g.r5.main.db.u (x INT)")
    sql("INSERT INTO g.r5.main.db.u VALUES (42)")
    repo.merge("dev", "main") // 3-way, no table overlaps
    rows("SELECT id FROM g.r5.main.db.t ORDER BY id").flatten shouldBe (2 to 8)
    rows("SELECT x FROM g.r5.main.db.u").flatten shouldBe Seq(42)
    // now make both sides change t → conflict
    sql("CREATE NAMESPACE g.r5.dev2")
    sql("DELETE FROM g.r5.dev2.db.t WHERE id = 2")
    sql("DELETE FROM g.r5.main.db.t WHERE id = 3")
    a[MergeConflictException] should be thrownBy repo.merge("dev2", "main")
  }

  test("optimistic concurrency: stale-base commit rejected, retry rebases") {
    val root = Files.createTempDirectory("graft-cc")
    val repo = GraftRepo.init(root)
    val (v, hid) = repo.head("main")
    // two committers race from the same base; second set-if-absent loses
    repo.commitAt("main", v, Seq(hid), "a", Map("db/a" -> "s1"), Map.empty)
    a[CommitConflictException] should be thrownBy
      repo.commitAt("main", v, Seq(hid), "b", Map("db/b" -> "s2"), Map.empty)
    // commitRetry re-reads the head and lands on top
    repo.commitRetry("main", "b") { base =>
      (base.tables + ("db/b" -> "s2"), base.namespaces)
    }
    repo.headCommit("main").tables.keySet shouldBe Set("db/a", "db/b")
  }

  // ---- the lost-CAS path of every ref-moving entry point ----------------

  private val idSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.IntegerType))).json

  /** Commit a fresh empty table `key` on `branch` (one ref publish). */
  private def addTable(repo: GraftRepo, branch: String, key: String): Commit = {
    val s = repo.writeSnapshot(key, idSchema, Nil)
    repo.commitRetry(branch, s"add $key")(b =>
      (b.tables + (key -> s.id), b.namespaces))
  }

  /** Outcome of one raced op: the plain handle, the racing commits in
    * order, the fixture id `setup` returned, how many `refs/main/v*`
    * publishes the op made, and its result. */
  private final case class Race(repo: GraftRepo, racers: Seq[String],
      fixture: String, publishes: Int, result: Either[Throwable, Any])

  /** `setup` builds fixtures through a plain handle on an in-memory
    * store; `op` then runs on a handle whose `refs/main/v*` publishes
    * first land a racing commit on main through the plain handle —
    * before the op's first publish, or before every one with `always`. */
  private def race(always: Boolean)(setup: GraftRepo => String)(
      op: (GraftRepo, String) => Any): Race = {
    val store = new InMemoryGraftIO
    val root = Paths.get(s"/graft-lost-cas/${UUID.randomUUID()}")
    val plain = GraftRepo.init(root, store)
    val fixture = setup(plain)
    val mainRefs = root.resolve("refs").resolve("main")
    val racers = ArrayBuffer[String]()
    var publishes = 0
    val hooked = new HookedGraftIO(store)(p =>
      if (p.getParent == mainRefs && p.getFileName.toString.matches("v\\d+")) {
        publishes += 1
        if (always || publishes == 1)
          racers += addTable(plain, "main", s"db/racer${racers.size}").id
      })
    val result = scala.util.Try(op(GraftRepo.open(root, hooked), fixture)).toEither
    Race(plain, racers.toSeq, fixture, publishes, result)
  }

  /** (name, setup -> fixture id, op, serial-order check of main's head
    * given the racing commit and the fixture id). */
  private val lostCasCases: Seq[(String, GraftRepo => String,
      (GraftRepo, String) => Any, (Commit, String, String) => Unit)] = {
    def twoCommits(p: GraftRepo): String = {
      val c1 = addTable(p, "main", "db/a")
      addTable(p, "main", "db/b")
      c1.id
    }
    Seq(
      ("commitRetry", _ => "", (r, _) => addTable(r, "main", "db/op"),
        (h, racer, _) => {
          h.tables.keySet shouldBe Set("db/racer0", "db/op")
          h.parents shouldBe Seq(racer)
        }),
      ("commitRetryViews", _ => "",
        (r, _) => r.commitRetryViews("main", "add view")(b =>
          b.viewMap + ("db/v" -> ViewDef("SELECT 1", "g", Seq("db"), idSchema))),
        (h, racer, _) => {
          h.tables.keySet shouldBe Set("db/racer0")
          h.viewMap.keySet shouldBe Set("db/v")
          h.parents shouldBe Seq(racer)
        }),
      ("commitRetryAll", _ => "",
        (r, _) => {
          val s = r.writeSnapshot("db/op", idSchema, Nil)
          r.commitRetryAll("main", "add all")(b => (b.tables + ("db/op" -> s.id),
            b.namespaces + ("db" -> Map("owner" -> "op")),
            b.viewMap + ("db/v" -> ViewDef("SELECT 1", "g", Seq("db"), idSchema))))
        },
        (h, racer, _) => {
          h.tables.keySet shouldBe Set("db/racer0", "db/op")
          h.namespaces shouldBe Map("db" -> Map("owner" -> "op"))
          h.viewMap.keySet shouldBe Set("db/v")
          h.parents shouldBe Seq(racer)
        }),
      ("3-way merge",
        p => {
          p.createBranch("dev", "main")
          addTable(p, "main", "db/b")
          addTable(p, "dev", "db/a").id
        },
        (r, _) => r.merge("dev", "main"),
        (h, racer, dev) => {
          h.tables.keySet shouldBe Set("db/a", "db/b", "db/racer0")
          h.parents shouldBe Seq(racer, dev)
        }),
      // the racer turns the fast-forward into a 3-way merge
      ("fast-forward merge",
        p => { p.createBranch("dev", "main"); addTable(p, "dev", "db/a").id },
        (r, _) => r.merge("dev", "main"),
        (h, racer, dev) => {
          h.tables.keySet shouldBe Set("db/a", "db/racer0")
          h.parents shouldBe Seq(racer, dev)
        }),
      ("rollback", twoCommits, (r, c1) => r.rollback("main", c1),
        (h, _, c1) => h.id shouldBe c1),
      ("revert", twoCommits, (r, c1) => r.revert("main", c1),
        (h, racer, _) => {
          h.tables.keySet shouldBe Set("db/a")
          h.parents shouldBe Seq(racer)
        }),
      ("cherryPick",
        p => { p.createBranch("dev", "main"); addTable(p, "dev", "db/p").id },
        (r, pick) => r.cherryPick("main", pick),
        (h, racer, _) => {
          h.tables.keySet shouldBe Set("db/p", "db/racer0")
          h.parents shouldBe Seq(racer)
        })
    )
  }

  test("a lost ref CAS retries exactly once and lands in the serial order " +
    "(racer, then op): commitRetry/Views/All, 3-way and fast-forward " +
    "merge, rollback, revert, cherryPick") {
    lostCasCases.foreach { case (name, setup, op, serial) =>
      withClue(s"$name: ") {
        val r = race(always = false)(setup)(op)
        r.result.toTry.get
        r.racers should have size 1
        r.publishes shouldBe 2
        serial(r.repo.headCommit("main"), r.racers.head, r.fixture)
      }
    }
  }

  test("a ref CAS that always loses gives up with CommitConflictException " +
    "after exactly 10 publishes, on every entry point") {
    lostCasCases.foreach { case (name, setup, op, _) =>
      withClue(s"$name: ") {
        val r = race(always = true)(setup)(op)
        r.result.left.toOption.get shouldBe a[CommitConflictException]
        r.publishes shouldBe 10
        r.racers should have size 10
      }
    }
  }

  test("table-level diff + row-level diff between refs") {
    setupRepo("r6")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r6"))
    sql("CREATE NAMESPACE g.r6.dev")
    repo.diff("main", "dev") shouldBe empty
    sql("DELETE FROM g.r6.dev.db.t WHERE id IN (3, 5)")
    repo.diff("main", "dev") shouldBe Map("db/t" -> "changed")
    val d = TableOps.diffRows(spark, repo, "main", "dev", "db/t")
    d.collect().map(r => (r.getInt(0), r.getString(2))).sorted shouldBe
      Array((3, "only_main"), (5, "only_main"))
  }

  test("UPDATE (CoW): set column on matching rows, others untouched") {
    setupRepo("r8")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r8"))
    TableOps.updateWhere(spark, repo, "main", "db/t",
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 6)),
      Map("name" -> org.apache.spark.sql.functions.lit("renamed")))
    rows("SELECT name FROM g.r8.main.db.t WHERE id > 6").flatten.toSet shouldBe
      Set("renamed")
    rows("SELECT name FROM g.r8.main.db.t WHERE id = 1").flatten shouldBe
      Seq("name_1")
    rows("SELECT count(*) FROM g.r8.main.db.t").head.head shouldBe 8L
  }

  test("driver-local frames stage through the JOBLESS parquet writer " +
    "bit-faithfully: arrays, timestamps, nulls and doubles read back " +
    "exactly, footer min/max/rows stats present, append + time travel " +
    "unchanged") {
    sql("CREATE NAMESPACE g.rlw")
    sql("CREATE NAMESPACE g.rlw.main.db")
    sql("CREATE TABLE g.rlw.main.db.t " +
      "(id BIGINT, v ARRAY<DOUBLE>, name STRING, ts TIMESTAMP, f DOUBLE)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rlw"))
    val data = Seq(
      (1L, Seq(1.5, -2.25, 0.0), "a", java.sql.Timestamp.valueOf("2024-05-01 12:34:56.789"), 1.0e-300),
      (2L, Seq.empty[Double], null.asInstanceOf[String], null.asInstanceOf[java.sql.Timestamp], Double.MaxValue),
      (3L, null.asInstanceOf[Seq[Double]], "c", java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"), -0.0))
    import spark.implicits._
    val df = data.toDF("id", "v", "name", "ts", "f")
    // the frame must actually take the local path — pin the premise
    org.apache.spark.sql.graftbridge.ParquetWriteBridge
      .localRows(df, 10000) should not be None
    TableOps.atomicAppend(spark, repo, "main", Seq("db/t" -> df),
      "local stage")
    val got = rows("SELECT id, v, name, CAST(ts AS STRING), f " +
      "FROM g.rlw.main.db.t ORDER BY id")
    got shouldBe Seq(
      Seq(1L, Seq(1.5, -2.25, 0.0), "a", "2024-05-01 12:34:56.789", 1.0e-300),
      Seq(2L, Seq(), null, null, Double.MaxValue),
      Seq(3L, null, "c", "1969-12-31 23:59:59.999999", -0.0))
    val files = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    files should have size 1
    val f = files.head
    f.rows shouldBe 3L
    // footer stats came off the driver-written file exactly as off an
    // executor-written one — MICROS timestamps included
    f.min.keySet should contain allOf ("id", "name", "ts", "f")
    f.max("id") shouldBe "3"
    f.min("ts") should startWith("1969-12-31")
    // a second (distributed) append coexists and both read back
    sql("INSERT INTO g.rlw.main.db.t SELECT id + 10, array(CAST(id AS DOUBLE)), " +
      "'x', timestamp'2024-06-01 00:00:00', 0.5 FROM range(0, 3)")
    rows("SELECT count(*) FROM g.rlw.main.db.t").head.head shouldBe 6L
  }

  test("CoW UPDATE keeps column statistics alive on the rewritten files " +
    "(NDV hint transfer + timestamp footer stats)") {
    sql("CREATE NAMESPACE g.rnd")
    sql("CREATE NAMESPACE g.rnd.main.db")
    sql("CREATE TABLE g.rnd.main.db.t (id INT, qty BIGINT, ts TIMESTAMP)")
    sql("INSERT INTO g.rnd.main.db.t SELECT CAST(id AS INT), id * 10, " +
      "timestamp'2024-05-01 00:00:00' + " +
      "make_interval(0,0,0,0,CAST(id % 48 AS INT),0,0) FROM range(0, 100)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rnd"))
    val before = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    before should not be empty
    before.foreach(_.ndvCounts.keySet should contain allOf ("id", "qty", "ts"))

    sql("UPDATE g.rnd.main.db.t SET qty = qty + 1 WHERE id >= 0") // full rewrite
    val after = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    after should not be empty
    after.map(_.path).toSet.intersect(before.map(_.path).toSet) shouldBe empty
    after.foreach { f =>
      // footer min/max survived the rewrite — TIMESTAMP included (the
      // staging writer pins MICROS so footers carry real ts stats)
      f.min.keySet should contain allOf ("id", "qty", "ts")
      f.max.keySet should contain allOf ("id", "qty", "ts")
      // NDV carried through the replaced-files hint (was: absent -> CBO
      // extrapolated)
      f.ndvCounts.keySet should contain allOf ("id", "qty", "ts")
      f.ndvCounts.values.foreach(_ should be > 0L)
    }
    // the carried estimate is SANE: id had ~100 distincts across the
    // replaced input; the apportioned sum lands within sketch+rounding
    // slack of that
    val idSum = after.flatMap(_.ndvCounts.get("id")).sum
    idSum should be >= 85L
    idSum should be <= 115L
  }

  test("drop table / drop namespace / file pruning on selective scans") {
    setupRepo("r7")
    sql("DROP TABLE g.r7.main.db.t")
    sql("SHOW TABLES IN g.r7.main.db").collect() shouldBe empty
    sql("DROP NAMESPACE g.r7.main.db")
    spark.catalog.tableExists("g.r7.main.db.t") shouldBe false
  }

  test("ALTER TABLE: add column appears null in old files; drop column hides") {
    setupRepo("r9")
    sql("ALTER TABLE g.r9.main.db.t ADD COLUMN score DOUBLE")
    assert(rows("SELECT score FROM g.r9.main.db.t WHERE id = 1").head.head == null)
    sql("INSERT INTO g.r9.main.db.t VALUES (20, 'name_20', 0.5)")
    rows("SELECT score FROM g.r9.main.db.t WHERE id = 20").head.head shouldBe 0.5
    sql("ALTER TABLE g.r9.main.db.t DROP COLUMN score")
    sql("SELECT * FROM g.r9.main.db.t").schema.fieldNames shouldBe Array("id", "name")
    rows("SELECT count(*) FROM g.r9.main.db.t").head.head shouldBe 9L
    // rename is metadata-only name mapping (see the schema-evolution spec)
    sql("ALTER TABLE g.r9.main.db.t RENAME COLUMN name TO nm")
    rows("SELECT nm FROM g.r9.main.db.t WHERE id = 1").flatten shouldBe Seq("name_1")
  }

  test("vacuum: dropping a branch makes its files collectable, main intact") {
    setupRepo("r10")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r10"))
    repo.vacuum(0L) shouldBe 0 // everything reachable
    sql("CREATE NAMESPACE g.r10.dev")
    sql("INSERT INTO g.r10.dev.db.t VALUES (100, 'dev_only')")
    repo.vacuum(0L) shouldBe 0 // dev head references the new file
    repo.dropBranch("dev")
    repo.vacuum(0L) should be >= 1 // dev-only files now orphaned
    rows("SELECT count(*) FROM g.r10.main.db.t").head.head shouldBe 8L
  }

  test("concurrent committers: all retried commits land, none lost") {
    val root = Files.createTempDirectory("graft-race")
    val repo = GraftRepo.init(root)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futures = (1 to 8).map { i =>
      Future {
        repo.commitRetry("main", s"commit $i") { base =>
          (base.tables + (s"db/t$i" -> s"s$i"), base.namespaces)
        }
      }
    }
    Await.result(Future.sequence(futures), 60.seconds)
    val headC = repo.headCommit("main")
    headC.tables.keySet shouldBe (1 to 8).map(i => s"db/t$i").toSet
    repo.head("main")._1 shouldBe 9 // v1 init + 8 commits
  }

  test("tags: immutable refs usable from VERSION AS OF, protect vacuum") {
    setupRepo("r16")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r16"))
    repo.createTag("v1.0", "main")
    sql("DELETE FROM g.r16.main.db.t WHERE id <= 4")
    rows("SELECT count(*) FROM g.r16.main.db.t").head.head shouldBe 4L
    rows("SELECT count(*) FROM g.r16.main.db.t VERSION AS OF 'v1.0'")
      .head.head shouldBe 8L
    a[Exception] should be thrownBy repo.createTag("v1.0", "main") // immutable
    // the tagged commit's files survive vacuum even after CoW rewrote them
    repo.vacuum(0L)
    rows("SELECT count(*) FROM g.r16.main.db.t VERSION AS OF 'v1.0'")
      .head.head shouldBe 8L
  }

  test("metadata tables: t.files / t.history / t.snapshots") {
    setupRepo("r15")
    sql("DELETE FROM g.r15.main.db.t WHERE id = 1")
    sql("INSERT INTO g.r15.main.db.t VALUES (50, 'late')")
    val files = sql("SELECT * FROM g.r15.main.db.t.files").collect()
    files.map(_.getAs[Long]("rows")).sum shouldBe 8L // 7 survivors + 1 new
    val hist = sql("SELECT * FROM g.r15.main.db.t.history ORDER BY ts").collect()
    // create, insert, delete, insert -> 4 distinct snapshots
    hist.length shouldBe 4
    hist.map(_.getAs[String]("snapshot_id")).distinct.length shouldBe 4
    val snaps = sql(
      "SELECT n_rows FROM g.r15.main.db.t.snapshots ORDER BY n_rows").collect()
    snaps.map(_.getLong(0)) shouldBe Array(0L, 7L, 8L, 8L)
    // refs: main branch present, pointing at the current head + snapshot
    val refs = sql("SELECT * FROM g.r15.main.db.t.refs").collect()
    val mainRef = refs.find(_.getAs[String]("name") == "main").get
    mainRef.getAs[String]("kind") shouldBe "branch"
    mainRef.getAs[String]("snapshot_id") should not be null
  }

  test("metadata tables: t.partitions rolls up files per partition value") {
    sql("CREATE NAMESPACE g.rmp")
    sql("CREATE NAMESPACE g.rmp.main.db")
    sql("CREATE TABLE g.rmp.main.db.t (id INT, cat STRING) PARTITIONED BY (cat)")
    sql("INSERT INTO g.rmp.main.db.t VALUES (1,'a'), (2,'a'), (3,'b')")
    sql("INSERT INTO g.rmp.main.db.t VALUES (4,'b')")
    val parts = sql(
      "SELECT partition['cat'] AS cat, n_files, n_rows " +
        "FROM g.rmp.main.db.t.partitions ORDER BY cat").collect()
    parts.map(r => (r.getString(0), r.getInt(1), r.getLong(2))) shouldBe
      Array(("a", 1, 2L), ("b", 2, 2L))
  }

  test("partitioned writes rebalance: a skewed (hot) partition value " +
    "splits into several advisory-sized files; cold values stay compact") {
    sql("CREATE NAMESPACE g.rwb")
    sql("CREATE NAMESPACE g.rwb.main.db")
    sql("CREATE TABLE g.rwb.main.db.t (id INT, cat STRING) PARTITIONED BY (cat)")
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.get(adv)
    try {
      spark.conf.set(adv, "16k")
      // 'h' carries ~99.9% of rows — the one-task-per-value layout would
      // funnel it through a single writer into one giant file
      sql("INSERT INTO g.rwb.main.db.t " +
        "SELECT cast(id AS int), CASE WHEN id % 10000 = 1 THEN 'c' ELSE 'h' END " +
        "FROM range(20000)")
    } finally spark.conf.set(adv, prev)
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rwb"))
    val files = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    val byVal = files.groupBy(_.partValues("cat")).view.mapValues(_.size).toMap
    byVal("h") should be > 1 // AQE split the hot value
    // the cold value stays near-single-file (it may straddle one split
    // boundary when it shares a shuffle partition with the hot key —
    // AQE slices skewed partitions by map range, not by key)
    byVal("c") should be <= 2
    // and the split is invisible to readers: counts + pruning intact
    rows("SELECT count(*) FROM g.rwb.main.db.t WHERE cat = 'h'")
      .flatten shouldBe Seq(19998L)
  }

  test("INSERT OVERWRITE replaces table contents (truncate write path)") {
    setupRepo("r14")
    sql("INSERT OVERWRITE g.r14.main.db.t VALUES (100, 'only_row')")
    rows("SELECT id, name FROM g.r14.main.db.t") shouldBe
      Seq(Seq(100, "only_row"))
  }

  test("streaming appends: a file stream over a graft table sees each commit") {
    val root = Files.createTempDirectory("graft-stream-tbl")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    TableOps.insert(spark, repo, "main", "db/ev",
      Seq((1, "a"), (2, "b")).toDF("id", "v"), overwrite = false)
    val q = TableOps.readStreamAppends(spark, repo, "db/ev")
      .writeStream.format("memory").queryName("graft_appends")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("graft_appends").count() shouldBe 2
      TableOps.insert(spark, repo, "main", "db/ev",
        Seq((3, "c")).toDF("id", "v"), overwrite = false)
      q.processAllAvailable()
      spark.table("graft_appends").count() shouldBe 3
    } finally q.stop()
  }

  test("streaming appends read PHYSICAL column names: after RENAME " +
    "COLUMN the stream serves the renamed column's VALUES, not nulls " +
    "(files keep their write-time physical names)") {
    setupRepo("r18")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r18"))
    sql("ALTER TABLE g.r18.main.db.t RENAME COLUMN name TO label")
    val q = TableOps.readStreamAppends(spark, repo, "db/t")
      .writeStream.format("memory").queryName("graft_renamed_appends")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("graft_renamed_appends")
      first.columns should contain ("label")
      // pre-rename files answer under the NEW logical name WITH values
      first.count() shouldBe 8
      first.filter("label IS NULL").count() shouldBe 0
      // post-rename appends flow too (written under the ORIGINAL
      // physical name — rename is metadata-only)
      sql("INSERT INTO g.r18.main.db.t VALUES (100, 'name_100')")
      q.processAllAvailable()
      spark.table("graft_renamed_appends")
        .filter("label = 'name_100'").count() shouldBe 1
    } finally q.stop()
  }

  test("mergeBase returns a LOWEST common ancestor in a criss-cross " +
    "DAG (both directions merged from stale refs): never the deeper " +
    "shared root, and the follow-on merge unions cleanly") {
    val repo = GraftRepo.init(Files.createTempDirectory("graft-lca"))
    import spark.implicits._
    def append(branch: String, key: String, id: Int): String = {
      TableOps.insert(spark, repo, branch, key,
        Seq((id, s"v$id")).toDF("id", "v"), overwrite = false)
      repo.headCommit(branch).id
    }
    val b0 = append("main", "db/t", 0) // B: the deep common root
    repo.createBranch("x", "main")
    val a = append("main", "db/a", 1) // A on main
    val d = append("x", "db/d", 2) // D on x
    repo.merge("x", "main") // M1 on main, parents touch A and D
    repo.createBranch("y", a) // a STALE ref of main, pinned at A
    append("x", "db/d2", 3) // D2 on x
    repo.merge("y", "x") // M2 on x — criss-cross: A and D are both
    // common ancestors now, neither an ancestor of the other
    val m1 = repo.headCommit("main").id
    val m2 = repo.headCommit("x").id
    val lca = repo.mergeBase(m1, m2)
    withClue(s"lca=$lca a=$a d=$d b0=$b0") {
      Set(a, d) should contain (lca) // a true LOWEST — never B
      lca should not be b0
    }
    repo.merge("x", "main")
    repo.headCommit("main").tables.keySet should contain allOf
      ("db/t", "db/a", "db/d", "db/d2")
  }

  test("mergeBase is bounded by fork distance, not history depth: two " +
    "branches k=3 commits past their fork resolve their base in O(k) " +
    "commit loads on a 60-deep history (generation-ordered walk stops " +
    "at the common-ancestry closure)") {
    val repo = GraftRepo.init(Files.createTempDirectory("graft-lca-gen"))
    def tick(branch: String, i: Int): Unit = {
      repo.commitRetry(branch, s"meta $i") { base =>
        (base.tables, base.namespaces + ("db" -> Map("k" -> i.toString)))
      }
      ()
    }
    (1 to 60).foreach(tick("main", _))
    // generations stamp 1 + max(parent) from the root (repo-init = 0)
    repo.headCommit("main").genOpt shouldBe Some(60L)
    val fork = repo.headCommit("main").id
    repo.createBranch("dev", "main")
    (61 to 63).foreach(tick("main", _))
    (1 to 3).foreach(i => tick("dev", 100 + i))
    val hm = repo.headCommit("main").id
    val hd = repo.headCommit("dev").id
    val before = GraftRepo.commitReadCount
    repo.mergeBase(hm, hd) shouldBe fork
    val loads = GraftRepo.commitReadCount - before
    // bounded walk touches: 2 heads + 2x2 remaining side commits + the
    // fork + its stale-painted parent ≈ 8; the exhaustive walk would
    // load the full 60-deep trunk (twice the sides, once the trunk)
    withClue(s"mergeBase commit loads = $loads") {
      loads should be <= 15L
    }
  }

  test("mergeBase falls back to the exhaustive walk when a head lacks " +
    "a generation (legacy commit written before the gen field)") {
    val root = Files.createTempDirectory("graft-lca-legacy")
    val repo = GraftRepo.init(root)
    def tick(r: GraftRepo, branch: String, i: Int): Unit = {
      r.commitRetry(branch, s"meta $i") { base =>
        (base.tables, base.namespaces + ("db" -> Map("k" -> i.toString)))
      }
      ()
    }
    (1 to 3).foreach(tick(repo, "main", _))
    val fork = repo.headCommit("main").id
    repo.createBranch("dev", "main")
    tick(repo, "main", 4)
    tick(repo, "dev", 5)
    // strip the gen field from main's head ON DISK — a legacy commit
    val hm = repo.headCommit("main").id
    val f = root.resolve("commits").resolve(s"$hm.json")
    val node = graft.versioned.Json.mapper.readTree(
      new String(Files.readAllBytes(f), "UTF-8"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("gen")
    Files.write(f, node.toString.getBytes("UTF-8"))
    val reopened = GraftRepo.open(root) // fresh caches
    reopened.headCommit("main").genOpt shouldBe None
    reopened.mergeBase(reopened.headCommit("main").id,
      reopened.headCommit("dev").id) shouldBe fork
  }

  test("incremental read: graft.fromRef scans only files added since the ref") {
    setupRepo("r17")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r17"))
    val c1 = repo.headCommit("main").id
    sql("INSERT INTO g.r17.main.db.t VALUES (9, 'name_9'), (10, 'name_10')")
    val c2 = repo.headCommit("main").id
    sql("INSERT INTO g.r17.main.db.t VALUES (11, 'name_11')")
    // delta since c1, up to the CURRENT head
    spark.read.option("graft.fromRef", c1).table("g.r17.main.db.t")
      .select("id").collect().map(_.getInt(0)).sorted shouldBe Array(9, 10, 11)
    // bounded range (c1, c2] via time travel as the upper end
    val bounded = spark.read.option("graft.fromRef", c1)
      .option("versionAsOf", c2).table("g.r17.main.db.t")
    bounded.select("id").collect().map(_.getInt(0)).sorted shouldBe Array(9, 10)
    // metadata aggregates stay consistent: count(*) of the delta
    spark.read.option("graft.fromRef", c1).table("g.r17.main.db.t")
      .count() shouldBe 3
    // a branch name resolves too: delta vs dev's head is empty pre-DML
    sql("CREATE NAMESPACE g.r17.dev")
    spark.read.option("graft.fromRef", "dev").table("g.r17.main.db.t")
      .count() shouldBe 0
  }

  test("streaming appends: maxFilesPerTrigger bounds each microbatch") {
    val root = Files.createTempDirectory("graft-stream-rate")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    // three separate commits -> at least three files on disk
    for (i <- 1 to 3)
      TableOps.insert(spark, repo, "main", "db/rl",
        Seq((i, s"v$i")).toDF("id", "v"), overwrite = false)
    val q = TableOps.readStreamAppends(spark, repo, "db/rl",
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("graft_rl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // all rows arrive, but across MULTIPLE batches of <=1 file each
      spark.table("graft_rl").count() shouldBe 3
      q.recentProgress.count(_.numInputRows > 0) should be >= 3
      q.recentProgress.filter(_.numInputRows > 0)
        .foreach(_.numInputRows should be <= 1L)
    } finally q.stop()
  }

  test("streaming sink: writeStream lands microbatches as graft commits, " +
    "idempotent per epoch") {
    val root = Files.createTempDirectory("graft-stream-sink")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    TableOps.insert(spark, repo, "main", "db/sk",
      Seq((0, "seed")).toDF("id", "v"), overwrite = false)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)](spark)
    val q = src.toDF().toDF("id", "v")
      .writeStream
      .foreachBatch(TableOps.streamingAppend(repo, "main", "db/sk"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sink-ckpt").toString)
      .start()
    try {
      src.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      src.addData((3, "c"))
      q.processAllAvailable()
      val read = TableOps.readSnapshot(spark, repo,
        repo.snapshot(repo.headCommit("main").tables("db/sk")))
      read.collect().map(_.getInt(0)).sorted shouldBe Array(0, 1, 2, 3)
      // replaying the head epoch is a no-op (exactly-once per epoch)
      val headBefore = repo.headCommit("main").id
      val lastBatchId = repo.headCommit("main").message
        .stripPrefix("stream-append db/sk batch=").toLong
      TableOps.streamingAppend(repo, "main", "db/sk")(
        Seq((3, "c")).toDF("id", "v"), lastBatchId)
      repo.headCommit("main").id shouldBe headBefore
      // the batch id survives UNRELATED commits landing on the branch:
      // the guard is the snapshot property, not the head commit message,
      // so a post-crash replay after someone else's commit is still a
      // no-op (no double append)
      repo.commitRetry("main", "unrelated ddl")(b => (b.tables, b.namespaces))
      val rowsBefore = TableOps.readSnapshot(spark, repo,
        repo.snapshot(repo.headCommit("main").tables("db/sk"))).count()
      TableOps.streamingAppend(repo, "main", "db/sk")(
        Seq((9, "dup")).toDF("id", "v"), lastBatchId)
      TableOps.readSnapshot(spark, repo,
        repo.snapshot(repo.headCommit("main").tables("db/sk")))
        .count() shouldBe rowsBefore
    } finally q.stop()
  }

  test("TIMESTAMP AS OF reads the latest commit at or before the timestamp") {
    sql("CREATE NAMESPACE g.rts")
    sql("CREATE NAMESPACE g.rts.main.db")
    sql("CREATE TABLE g.rts.main.db.t (id INT)")
    sql("INSERT INTO g.rts.main.db.t VALUES (1)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rts"))
    val tsAfterFirst = repo.headCommit("main").ts
    Thread.sleep(5) // commit timestamps are millis
    sql("INSERT INTO g.rts.main.db.t VALUES (2)")
    val asOf = java.time.Instant.ofEpochMilli(tsAfterFirst)
      .toString.replace("T", " ").stripSuffix("Z")
    rows(s"SELECT id FROM g.rts.main.db.t TIMESTAMP AS OF '$asOf' ORDER BY id")
      .flatten shouldBe Seq(1)
    rows("SELECT id FROM g.rts.main.db.t ORDER BY id").flatten shouldBe Seq(1, 2)
  }

  test("upsert (MERGE shape): matched keys replaced, unmatched appended") {
    setupRepo("r12")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "r12"))
    import spark.implicits._
    val source = Seq((3, "updated_3"), (99, "new_99")).toDF("id", "name")
    TableOps.upsert(spark, repo, "main", "db/t", source, Seq("id"))
    rows("SELECT name FROM g.r12.main.db.t WHERE id = 3").flatten shouldBe
      Seq("updated_3")
    rows("SELECT name FROM g.r12.main.db.t WHERE id = 99").flatten shouldBe
      Seq("new_99")
    rows("SELECT count(*) FROM g.r12.main.db.t").head.head shouldBe 9L
    rows("SELECT name FROM g.r12.main.db.t WHERE id = 1").flatten shouldBe
      Seq("name_1")
  }

  test("cross-ref query: one SQL statement joins two branches of a table") {
    setupRepo("r13")
    sql("CREATE NAMESPACE g.r13.dev")
    sql("DELETE FROM g.r13.dev.db.t WHERE id >= 5")
    // rows on main whose id is absent on dev — pure SQL across refs
    rows(
      """SELECT m.id FROM g.r13.main.db.t m
        |LEFT ANTI JOIN g.r13.dev.db.t d ON m.id = d.id
        |ORDER BY m.id""".stripMargin).flatten shouldBe Seq(5, 6, 7, 8)
  }

  // mirrors the reference's setup flow (tests/conftest.py:52 —
  // df.write.saveAsTable("lakefs.repo.main.company.workers"))
  test("df.write.saveAsTable and SQL CTAS create tables through the catalog") {
    import spark.implicits._
    sql("CREATE NAMESPACE g.r11")
    sql("CREATE NAMESPACE g.r11.main.company")
    val df = Seq(
      (1, "James", "Smith", 32, "M"),
      (2, "Michael", "Rose", 35, "M"),
      (3, "Robert", "Williams", 41, "M"),
      (4, "Maria", "Jones", 36, "F"),
      (5, "Jen", "Brown", 44, "F"),
      (6, "Monika", "Geller", 31, "F"))
      .toDF("id", "firstname", "lastname", "age", "gender")
    df.write.saveAsTable("g.r11.main.company.workers")
    rows("SELECT count(*) FROM g.r11.main.company.workers").head.head shouldBe 6L
    sql("DELETE FROM g.r11.main.company.workers WHERE id = 6")
    rows("SELECT count(*) FROM g.r11.main.company.workers").head.head shouldBe 5L
    sql("CREATE TABLE g.r11.main.company.adults AS " +
      "SELECT * FROM g.r11.main.company.workers WHERE age >= 35")
    rows("SELECT id FROM g.r11.main.company.adults ORDER BY id").flatten shouldBe
      Seq(2, 3, 4, 5)
  }

  test("stats-based file pruning: selective DELETE rewrites only hit files") {
    val root = Files.createTempDirectory("graft-prune")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    // 4 separate appends -> 4+ files with disjoint id ranges
    (0 until 4).foreach { i =>
      val df = ((i * 100) until (i * 100 + 100)).toDF("id").coalesce(1)
      TableOps.insert(spark, repo, "main", "db/t", df, overwrite = false)
    }
    val before = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    before.size should be >= 4
    TableOps.deleteWhere(spark, repo, "main", "db/t",
      Seq(org.apache.spark.sql.sources.EqualTo("id", 150)))
    val after = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    // only the one file containing id=150 was rewritten
    after.toSet.intersect(before.toSet).size shouldBe before.size - 1
    val df = TableOps.readSnapshot(spark, repo,
      repo.snapshot(repo.headCommit("main").tables("db/t")))
    df.count() shouldBe 399
    // scan-level pruning: an id=250 lookup reads exactly one file
    val snapT = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schemaT = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType)))
    TableOps.pruneFiles(snapT, schemaT,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 250))).size shouldBe 1
    // NULL literals: a comparison with NULL is never TRUE, so no file
    // matches — and the stats comparators must never dereference the
    // literal (an upsert source's null key pushes exactly this shape;
    // pre-guard it NPE'd the whole rewrite)
    TableOps.pruneFiles(snapT, schemaT,
      Seq(org.apache.spark.sql.sources.EqualTo("id", null))) shouldBe empty
    TableOps.pruneFiles(snapT, schemaT,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", null))) shouldBe empty
    TableOps.pruneFiles(snapT, schemaT,
      Seq(org.apache.spark.sql.sources.In("id", Array(null)))) shouldBe empty
    // a null among real values contributes nothing, prunes like the
    // real values alone
    TableOps.pruneFiles(snapT, schemaT,
      Seq(org.apache.spark.sql.sources.In("id",
        Array(250.asInstanceOf[AnyRef], null)))).size shouldBe 1
  }

  test("partitioned tables: identity + bucket transforms, partition values " +
    "recorded per file, partition-first pruning, partition-local CoW delete") {
    import org.apache.spark.sql.sources.EqualTo
    sql("CREATE NAMESPACE g.rp")
    sql("CREATE NAMESPACE g.rp.main.db")
    sql("CREATE TABLE g.rp.main.db.pt (id INT, cat STRING, v DOUBLE) " +
      "PARTITIONED BY (cat, bucket(4, id))")
    sql("INSERT INTO g.rp.main.db.pt VALUES " +
      (1 to 12).map(i => s"($i, '${"abc".charAt(i % 3)}', ${i * 1.5})").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rp"))
    val snap = repo.snapshot(repo.headCommit("main").tables("db/pt"))
    snap.partitionFields.map(f => (f.transform, f.source)) shouldBe
      Seq(("identity", "cat"), ("bucket", "id"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    all(snap.files.map(_.partValues.keySet)) shouldBe Set("cat", "id_bucket")
    // identity pruning: only cat=a files survive a cat='a' filter
    val byCat = TableOps.pruneFiles(snap, schema, Seq(EqualTo("cat", "a")))
    byCat should not be empty
    byCat.size should be < snap.files.size
    all(byCat.map(_.partValues("cat"))) shouldBe "a"
    // bucket pruning: an id lookup keeps only the one matching bucket
    val byId = TableOps.pruneFiles(snap, schema, Seq(EqualTo("id", 5)))
    byId.size should be < snap.files.size
    all(byId.map(_.partValues("id_bucket").toInt)) shouldBe
      graft.versioned.Partitioning.bucketOfLiteral(
        5, org.apache.spark.sql.types.IntegerType, 4)
    // SQL correctness through the pruned scan (data columns intact)
    rows("SELECT id, cat, v FROM g.rp.main.db.pt WHERE cat = 'a' ORDER BY id")
      .map(_.head) shouldBe (1 to 12).filter(i => "abc".charAt(i % 3) == 'a')
    rows("SELECT v FROM g.rp.main.db.pt WHERE id = 5").flatten shouldBe Seq(7.5)
    // partition pruning with NULL literals: never a match, never an NPE
    // in the transform evaluators (identity typedCmp / bucketOfLiteral)
    TableOps.pruneFiles(snap, schema,
      Seq(EqualTo("cat", null))) shouldBe empty
    TableOps.pruneFiles(snap, schema,
      Seq(EqualTo("id", null))) shouldBe empty
    TableOps.pruneFiles(snap, schema,
      Seq(org.apache.spark.sql.sources.In("id",
        Array(5.asInstanceOf[AnyRef], null)))).size shouldBe byId.size
    // CoW delete on one category rewrites no other category's files
    val before = snap.files.toSet
    sql("DELETE FROM g.rp.main.db.pt WHERE cat = 'b'")
    val after = repo.snapshot(repo.headCommit("main").tables("db/pt")).files
    after.filter(f => f.partValues("cat") != "b").toSet shouldBe
      before.filter(f => f.partValues("cat") != "b")
    rows("SELECT count(*) FROM g.rp.main.db.pt").flatten shouldBe
      Seq((1 to 12).count(i => "abc".charAt(i % 3) != 'b').toLong)
  }

  test("TBLPROPERTIES persist through DDL and DML; ALTER SET/UNSET works") {
    sql("CREATE NAMESPACE g.rtp")
    sql("CREATE NAMESPACE g.rtp.main.db")
    sql("CREATE TABLE g.rtp.main.db.t (id INT) " +
      "TBLPROPERTIES ('quality.tier' = 'gold', 'retention.days' = '30')")
    def props(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.catalogManager.catalog("g")
        .asInstanceOf[graft.catalog.GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("rtp", "main", "db"), "t"))
        .properties().asScala.toMap
    }
    props()("quality.tier") shouldBe "gold"
    sql("INSERT INTO g.rtp.main.db.t VALUES (1)") // DML must carry props
    props()("retention.days") shouldBe "30"
    sql("ALTER TABLE g.rtp.main.db.t SET TBLPROPERTIES ('quality.tier' = 'silver')")
    sql("ALTER TABLE g.rtp.main.db.t UNSET TBLPROPERTIES ('retention.days')")
    props()("quality.tier") shouldBe "silver"
    props().contains("retention.days") shouldBe false
    sql("UPDATE g.rtp.main.db.t SET id = 2 WHERE id = 1") // row-level op carries props
    props()("quality.tier") shouldBe "silver"
  }

  test("DROP TABLE PURGE deletes data files immediately but never another " +
    "branch's live files") {
    sql("CREATE NAMESPACE g.rpg")
    sql("CREATE NAMESPACE g.rpg.main.db")
    sql("CREATE TABLE g.rpg.main.db.t (id INT)")
    sql("INSERT INTO g.rpg.main.db.t VALUES (1), (2)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rpg"))
    val shared = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    sql("CREATE NAMESPACE g.rpg.dev") // dev still references the same files
    sql("INSERT INTO g.rpg.main.db.t VALUES (3)") // main-only file
    val mainOnly = repo.snapshot(repo.headCommit("main").tables("db/t")).files
      .filterNot(shared.contains)
    mainOnly should not be empty
    // a zero-copy clone on the SAME branch shares t's exact file paths
    // under a different key — purge must never take them with it
    sql("CALL g.system.clone_table('rpg', 'main', 'db.t', 'db.keep')")
    sql("DROP TABLE g.rpg.main.db.t PURGE")
    spark.catalog.tableExists("g.rpg.main.db.t") shouldBe false
    // all of t's files survive: shared with dev's head AND with the clone
    (shared ++ mainOnly).foreach(f =>
      java.nio.file.Files.exists(repo.root.resolve(f.path)) shouldBe true)
    rows("SELECT id FROM g.rpg.dev.db.t ORDER BY id").flatten shouldBe Seq(1, 2)
    rows("SELECT id FROM g.rpg.main.db.keep ORDER BY id").flatten shouldBe
      Seq(1, 2, 3)
    // with the clone gone too, a purge of it finally reclaims the
    // main-only file (dev still pins the shared ones)
    sql("DROP TABLE g.rpg.main.db.keep PURGE")
    mainOnly.foreach(f =>
      java.nio.file.Files.exists(repo.root.resolve(f.path)) shouldBe false)
    shared.foreach(f =>
      java.nio.file.Files.exists(repo.root.resolve(f.path)) shouldBe true)
    rows("SELECT id FROM g.rpg.dev.db.t ORDER BY id").flatten shouldBe Seq(1, 2)
  }

  test("metadata history attributes a change to the commit that introduced " +
    "it, even with interleaved commits touching other tables") {
    sql("CREATE NAMESPACE g.rmh")
    sql("CREATE NAMESPACE g.rmh.main.db")
    sql("CREATE TABLE g.rmh.main.db.t1 (id INT)")
    sql("INSERT INTO g.rmh.main.db.t1 VALUES (1)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rmh"))
    val t1Insert = repo.headCommit("main").id
    // two commits that only touch t2 — t1's snapshot is unchanged through them
    sql("CREATE TABLE g.rmh.main.db.t2 (id INT)")
    sql("INSERT INTO g.rmh.main.db.t2 VALUES (9)")
    val hist = sql("SELECT commit_id FROM g.rmh.main.db.t1.history")
      .collect().map(_.getString(0))
    // newest-first: t1's current snapshot must be attributed to the commit
    // that INSERTed into t1, not to the later t2-only commits
    hist.head shouldBe t1Insert
  }

  test("DROP NAMESPACE honors cascade at branch and repo level") {
    sql("CREATE NAMESPACE g.rcd")
    sql("CREATE NAMESPACE g.rcd.main.db")
    sql("CREATE TABLE g.rcd.main.db.t (id INT)")
    sql("INSERT INTO g.rcd.main.db.t VALUES (1)")
    sql("CREATE NAMESPACE g.rcd.dev") // branch with the table on its head
    // plain (non-cascade) drops must refuse to destroy data
    intercept[Exception](sql("DROP NAMESPACE g.rcd.dev"))
    intercept[Exception](sql("DROP NAMESPACE g.rcd"))
    spark.catalog.tableExists("g.rcd.main.db.t") shouldBe true
    // CASCADE is the explicit opt-in
    sql("DROP NAMESPACE g.rcd.dev CASCADE")
    sql("DROP NAMESPACE g.rcd CASCADE")
    sql("SHOW NAMESPACES IN g").collect()
      .map(_.getString(0)) should not contain "rcd"
  }

  test("Scala-API updateWhere/deleteWhere reject untranslatable predicates " +
    "instead of silently widening the condition") {
    import org.apache.spark.sql.functions.lit
    val root = Files.createTempDirectory("graft-strict")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    TableOps.insert(spark, repo, "main", "db/t",
      Seq(1, 2, 3).toDF("id"), overwrite = false)
    // every plain v1 filter now translates (AlwaysTrue backs TRUNCATE);
    // collation-aware filters are the remaining genuinely untranslatable
    // shape (naive === would apply the wrong comparison semantics)
    val untranslatable = org.apache.spark.sql.sources.CollatedEqualTo(
      "id", 1, org.apache.spark.sql.types.StringType)
    intercept[UnsupportedOperationException](
      TableOps.deleteWhere(spark, repo, "main", "db/t", Seq(untranslatable)))
    intercept[UnsupportedOperationException](
      TableOps.updateWhere(spark, repo, "main", "db/t", Seq(untranslatable),
        Map("id" -> lit(0))))
    // nothing was deleted or updated
    TableOps.readSnapshot(spark, repo,
      repo.snapshot(repo.headCommit("main").tables("db/t")))
      .collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3)
  }

  test("schema evolution: RENAME COLUMN is metadata-only (old files keep " +
    "reading + pruning), widening int->long reads old and new files wide") {
    sql("CREATE NAMESPACE g.rse")
    sql("CREATE NAMESPACE g.rse.main.db")
    sql("CREATE TABLE g.rse.main.db.t (id INT, amount INT, tag STRING)")
    sql("INSERT INTO g.rse.main.db.t VALUES (1, 10, 'x'), (2, 20, 'y')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rse"))
    val filesBefore = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    // rename: no files rewritten
    sql("ALTER TABLE g.rse.main.db.t RENAME COLUMN amount TO total")
    repo.snapshot(repo.headCommit("main").tables("db/t")).files shouldBe filesBefore
    rows("SELECT id, total FROM g.rse.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, 10), Seq(2, 20))
    // filter on the renamed column (exercises stats translation + pushdown)
    rows("SELECT id FROM g.rse.main.db.t WHERE total = 20").flatten shouldBe Seq(2)
    // inserts after the rename land under the physical name; mixed read works
    sql("INSERT INTO g.rse.main.db.t VALUES (3, 30, 'z')")
    rows("SELECT id, total FROM g.rse.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30))
    // widen int -> bigint: metadata-only, old narrow files read wide
    sql("ALTER TABLE g.rse.main.db.t ALTER COLUMN total TYPE BIGINT")
    sql("INSERT INTO g.rse.main.db.t VALUES (4, 40000000000, 'w')")
    rows("SELECT id, total FROM g.rse.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, 10L), Seq(2, 20L), Seq(3, 30L), Seq(4, 40000000000L))
    // UPDATE through the renamed+widened column (CoW respects mapping)
    sql("UPDATE g.rse.main.db.t SET total = total + 1 WHERE id = 1")
    rows("SELECT total FROM g.rse.main.db.t WHERE id = 1").flatten shouldBe Seq(11L)
    // narrowing and colliding renames are rejected
    intercept[Exception](sql("ALTER TABLE g.rse.main.db.t ALTER COLUMN total TYPE INT"))
    intercept[Exception](sql("ALTER TABLE g.rse.main.db.t RENAME COLUMN tag TO total"))
    // re-adding a name whose physical storage is occupied (here: the
    // renamed column's as-written name) binds a FRESH physical name —
    // old files' bytes must NOT resurface; all pre-existing rows read null
    sql("ALTER TABLE g.rse.main.db.t ADD COLUMN amount INT")
    rows("SELECT amount FROM g.rse.main.db.t").flatten shouldBe Seq(null, null, null, null)
    sql("INSERT INTO g.rse.main.db.t VALUES (5, 50, 'v', 99)")
    rows("SELECT amount FROM g.rse.main.db.t WHERE id = 5").flatten shouldBe Seq(99)
    rows("SELECT total FROM g.rse.main.db.t WHERE id = 5").flatten shouldBe Seq(50L)
  }

  test("schema evolution: DROP then re-ADD a column reads nulls from old " +
    "files, never the dropped bytes (retired physical names)") {
    sql("CREATE NAMESPACE g.rdr")
    sql("CREATE NAMESPACE g.rdr.main.db")
    sql("CREATE TABLE g.rdr.main.db.t (id INT, c STRING)")
    sql("INSERT INTO g.rdr.main.db.t VALUES (1, 'old-bytes'), (2, 'dead')")
    sql("ALTER TABLE g.rdr.main.db.t DROP COLUMN c")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rdr"))
    repo.snapshot(repo.headCommit("main").tables("db/t"))
      .retiredNames shouldBe Set("c")
    sql("ALTER TABLE g.rdr.main.db.t ADD COLUMN c STRING")
    // the re-added column must NOT surface the dropped column's bytes
    rows("SELECT id, c FROM g.rdr.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, null), Seq(2, null))
    sql("INSERT INTO g.rdr.main.db.t VALUES (3, 'fresh')")
    rows("SELECT c FROM g.rdr.main.db.t WHERE id = 3").flatten shouldBe Seq("fresh")
    // survives DML (tombstones thread through CoW snapshots)
    sql("DELETE FROM g.rdr.main.db.t WHERE id = 1")
    rows("SELECT id, c FROM g.rdr.main.db.t ORDER BY id") shouldBe
      Seq(Seq(2, null), Seq(3, "fresh"))
  }

  test("bucket partitioning hashes integral sources width-normalized: " +
    "widening int->bigint keeps old buckets valid and lookups correct") {
    import org.apache.spark.sql.sources.EqualTo
    sql("CREATE NAMESPACE g.rbw")
    sql("CREATE NAMESPACE g.rbw.main.db")
    sql("CREATE TABLE g.rbw.main.db.t (id INT, v STRING) " +
      "PARTITIONED BY (bucket(8, id))")
    sql("INSERT INTO g.rbw.main.db.t VALUES " +
      (1 to 32).map(i => s"($i, 'v$i')").mkString(", "))
    // int and long literals agree on the bucket BEFORE widening
    graft.versioned.Partitioning.bucketOfLiteral(
      7, org.apache.spark.sql.types.IntegerType, 8) shouldBe
      graft.versioned.Partitioning.bucketOfLiteral(
        7L, org.apache.spark.sql.types.LongType, 8)
    sql("ALTER TABLE g.rbw.main.db.t ALTER COLUMN id TYPE BIGINT")
    // lookups through the widened type still find rows written narrow
    // (pruning re-hashes the literal as LONG; files recorded int-written
    // buckets — width normalization makes them identical)
    for (i <- Seq(1, 7, 19, 32))
      rows(s"SELECT v FROM g.rbw.main.db.t WHERE id = $i").flatten shouldBe Seq(s"v$i")
    // new writes after widening land in the same bucket as equal old values
    sql("INSERT INTO g.rbw.main.db.t VALUES (7, 'v7b')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rbw"))
    val snap = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val hit = TableOps.pruneFiles(snap, schema, Seq(EqualTo("id", 7L)))
    hit.map(_.partValues("id_bucket")).toSet.size shouldBe 1
    rows("SELECT v FROM g.rbw.main.db.t WHERE id = 7 ORDER BY v")
      .flatten shouldBe Seq("v7", "v7b")
    // NULL bucket sources: xxhash64(NULL) = seed, so null rows land in a
    // NUMERIC bucket dir, not the hive null marker — IS NULL must not
    // prune by bucket dirs (it would lose the row)
    sql("INSERT INTO g.rbw.main.db.t VALUES (NULL, 'vnull')")
    rows("SELECT v FROM g.rbw.main.db.t WHERE id IS NULL").flatten shouldBe Seq("vnull")
    rows("SELECT count(*) FROM g.rbw.main.db.t WHERE id IS NOT NULL")
      .flatten shouldBe Seq(33L)
  }

  test("CoW row-level commit validation rejects swapping files a concurrent " +
    "rewrite already replaced") {
    val snap = graft.versioned.Snapshot("s1", "db/t", "{}",
      Seq(graft.versioned.FileEntry("data/a.parquet", 1, Map.empty, Map.empty)))
    // all scanned files still live -> fine
    graft.catalog.GraftCoWWrite.validateReplaced(Set("data/a.parquet"), snap, "db/t")
    // a scanned file vanished (concurrent DELETE/UPDATE rewrote it) -> conflict
    intercept[graft.versioned.MergeConflictException] {
      graft.catalog.GraftCoWWrite.validateReplaced(
        Set("data/a.parquet", "data/gone.parquet"), snap, "db/t")
    }
  }

  test("SQL UPDATE: group-based copy-on-write rewrites only files that can " +
    "match; literal UPDATE SQL works on a branch") {
    sql("CREATE NAMESPACE g.rrl")
    sql("CREATE NAMESPACE g.rrl.main.db")
    sql("CREATE TABLE g.rrl.main.db.t (id INT, name STRING, qty INT)")
    // two appends -> at least two files with disjoint id ranges
    sql("INSERT INTO g.rrl.main.db.t VALUES (1, 'a', 10), (2, 'b', 20)")
    sql("INSERT INTO g.rrl.main.db.t VALUES (100, 'x', 30), (200, 'y', 40)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rrl"))
    val before = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    before.size should be >= 2
    sql("UPDATE g.rrl.main.db.t SET qty = qty + 100 WHERE id <= 2")
    rows("SELECT id, qty FROM g.rrl.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, 110), Seq(2, 120), Seq(100, 30), Seq(200, 40))
    // the high-id file's stats exclude id<=2 -> it must survive untouched
    val after = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    val untouchedHigh = before.filter(_.min.get("id").exists(_.toInt > 2))
    untouchedHigh should not be empty
    untouchedHigh.toSet.subsetOf(after.toSet) shouldBe true
  }

  test("SQL MERGE INTO: matched rows update, unmatched rows insert (CoW)") {
    sql("CREATE NAMESPACE g.rmg")
    sql("CREATE NAMESPACE g.rmg.main.db")
    sql("CREATE TABLE g.rmg.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rmg.main.db.t VALUES (1, 'old1'), (2, 'old2'), (3, 'old3')")
    sql("""MERGE INTO g.rmg.main.db.t t
          |USING (SELECT * FROM VALUES (2, 'new2'), (9, 'new9') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    rows("SELECT id, v FROM g.rmg.main.db.t ORDER BY id") shouldBe
      Seq(Seq(1, "old1"), Seq(2, "new2"), Seq(3, "old3"), Seq(9, "new9"))
    // MERGE with a delete clause
    sql("""MERGE INTO g.rmg.main.db.t t
          |USING (SELECT * FROM VALUES (1, 'zap') AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    rows("SELECT id FROM g.rmg.main.db.t ORDER BY id").flatten shouldBe Seq(2, 3, 9)
  }

  test("DELETE with an untranslatable predicate falls through to the CoW " +
    "rewrite (metadata path declines, rewrite handles it)") {
    sql("CREATE NAMESPACE g.rdl")
    sql("CREATE NAMESPACE g.rdl.main.db")
    sql("CREATE TABLE g.rdl.main.db.t (id INT)")
    sql("INSERT INTO g.rdl.main.db.t VALUES (1), (2), (3), (4), (5), (6)")
    sql("DELETE FROM g.rdl.main.db.t WHERE id % 2 = 1")
    rows("SELECT id FROM g.rdl.main.db.t ORDER BY id").flatten shouldBe Seq(2, 4, 6)
  }


  test("planner statistics: exact row counts + bytes reported from snapshot " +
    "metadata (broadcast decisions see real sizes)") {
    sql("CREATE NAMESPACE g.rst")
    sql("CREATE NAMESPACE g.rst.main.db")
    sql("CREATE TABLE g.rst.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rst.main.db.t VALUES " +
      (1 to 100).map(i => s"($i, 'v$i')").mkString(", "))
    val st = spark.table("g.rst.main.db.t").queryExecution.optimizedPlan.stats
    st.rowCount shouldBe Some(BigInt(100))
    st.sizeInBytes.toLong should be > 0L
    // stats follow static file pruning: a selective filter reports fewer rows
    sql("INSERT INTO g.rst.main.db.t VALUES " +
      (101 to 200).map(i => s"($i, 'v$i')").mkString(", "))
    val pruned = spark.table("g.rst.main.db.t").where("id > 150")
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.rowCount.get
      }
    // only files whose [min,max] admits id>150 survive (the 151..200 span)
    pruned.get should be < BigInt(200)
    pruned.get shouldBe BigInt(50)
  }

  test("column statistics: null + distinct counts from write-time file " +
    "stats reach the optimizer (no ANALYZE pass)") {
    sql("CREATE NAMESPACE g.rcbo")
    sql("CREATE NAMESPACE g.rcbo.main.db")
    sql("CREATE TABLE g.rcbo.main.db.t (id INT, grp STRING)")
    // 100 rows, 10 distinct grp values, 20 null ids — two commits so the
    // per-file stats must MERGE (nulls sum; NDVs upper-bound-merge)
    Seq(0, 50).foreach(base =>
      sql("INSERT INTO g.rcbo.main.db.t VALUES " + (1 to 50).map { i =>
        val id = if (i <= 10) "NULL" else s"${base + i}"
        s"($id, 'g${i % 10}')"
      }.mkString(", ")))
    val attrs = spark.table("g.rcbo.main.db.t")
      .queryExecution.optimizedPlan.stats.attributeStats
    attrs.size shouldBe 2
    val byName = attrs.map { case (a, cs) => a.name -> cs }
    byName("id").nullCount shouldBe Some(BigInt(20))
    // approx NDV of 80 distinct non-null ids across two files: the
    // upper-bound merge stays in a sane band (exact=80, cap=100)
    byName("id").distinctCount.get.toLong should be >= 60L
    byName("id").distinctCount.get.toLong should be <= 100L
    // grp has 10 true distinct values; the reported count is the
    // upper-bound merge Σ per-file NDVs (each insert fans out over
    // several write tasks → files), capped at the row count
    byName("grp").nullCount shouldBe Some(BigInt(0))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcbo"))
    val nFiles = repo.snapshot(repo.headCommit("main").tables("db/t")).files.size
    byName("grp").distinctCount.get.toLong should be >= 10L
    byName("grp").distinctCount.get.toLong should be <= math.min(10L * nFiles, 100L)
    // a renamed column keeps its statistics (physical-name indirection)
    sql("ALTER TABLE g.rcbo.main.db.t RENAME COLUMN grp TO category")
    val renamed = spark.table("g.rcbo.main.db.t")
      .queryExecution.optimizedPlan.stats.attributeStats
      .map { case (a, cs) => a.name -> cs }
    renamed("category").distinctCount.get.toLong should be >= 10L
  }

  test("metadata-only aggregates: COUNT(*)/MIN/MAX answered from the " +
    "snapshot without scanning data files") {
    sql("CREATE NAMESPACE g.rma")
    sql("CREATE NAMESPACE g.rma.main.db")
    sql("CREATE TABLE g.rma.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rma.main.db.t VALUES " +
      (1 to 50).map(i => s"($i, 'v$i')").mkString(", "))
    def planOf(q: String): String = sql(q).queryExecution.executedPlan.toString
    // pushed: the scan collapses to a local (driver) row - no BatchScan
    planOf("SELECT count(*) FROM g.rma.main.db.t") should include ("LocalTableScan")
    rows("SELECT count(*) FROM g.rma.main.db.t").flatten shouldBe Seq(50L)
    planOf("SELECT min(id), max(id), count(*) FROM g.rma.main.db.t") should
      include ("LocalTableScan")
    rows("SELECT min(id), max(id), count(*) FROM g.rma.main.db.t") shouldBe
      Seq(Seq(1, 50, 50L))
    rows("SELECT min(v), max(v) FROM g.rma.main.db.t") shouldBe Seq(Seq("v1", "v9"))
    // stays correct through DML (CoW keeps metadata exact)
    sql("DELETE FROM g.rma.main.db.t WHERE id <= 10")
    rows("SELECT count(*), min(id) FROM g.rma.main.db.t") shouldBe Seq(Seq(40L, 11))
    // filtered/grouped aggregates fall back to a real scan and stay right
    planOf("SELECT count(*) FROM g.rma.main.db.t WHERE id > 30") should
      include ("BatchScan")
    rows("SELECT count(*) FROM g.rma.main.db.t WHERE id > 30").flatten shouldBe Seq(20L)
    rows("SELECT v, count(*) FROM g.rma.main.db.t WHERE id IN (11, 12) GROUP BY v " +
      "ORDER BY v").map(_.head) shouldBe Seq("v11", "v12")
    // avg is not metadata-answerable -> full scan, correct result
    planOf("SELECT avg(id) FROM g.rma.main.db.t") should include ("BatchScan")
    // GROUP BY an identity-partition column: per-group counts/min/max
    // come straight from per-file partition values + metadata
    sql("CREATE TABLE g.rma.main.db.p (id INT, cat STRING) PARTITIONED BY (cat)")
    sql("INSERT INTO g.rma.main.db.p VALUES " +
      (1 to 30).map(i => s"($i, '${"xyz".charAt(i % 3)}')").mkString(", "))
    planOf("SELECT cat, count(*) FROM g.rma.main.db.p GROUP BY cat") should
      include ("LocalTableScan")
    rows("SELECT cat, count(*), min(id), max(id) FROM g.rma.main.db.p " +
      "GROUP BY cat ORDER BY cat").map(_.toList) shouldBe Seq(
      List("x", 10L, 3, 30), List("y", 10L, 1, 28), List("z", 10L, 2, 29))
    // stays exact through partition-local DML
    sql("DELETE FROM g.rma.main.db.p WHERE cat = 'y'")
    rows("SELECT cat, count(*) FROM g.rma.main.db.p GROUP BY cat ORDER BY cat")
      .map(_.toList) shouldBe Seq(List("x", 10L), List("z", 10L))
    // GROUP BY a non-partition column falls back to a real scan
    planOf("SELECT id % 2, count(*) FROM g.rma.main.db.p GROUP BY id % 2") should
      include ("BatchScan")
  }

  test("runtime filtering: join-driven In filters prune files of a " +
    "partitioned table before execution (DSv2 dynamic pruning)") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    sql("CREATE NAMESPACE g.rrf")
    sql("CREATE NAMESPACE g.rrf.main.db")
    sql("CREATE TABLE g.rrf.main.db.fact (id INT, cat STRING, v DOUBLE) " +
      "PARTITIONED BY (cat)")
    sql("INSERT INTO g.rrf.main.db.fact VALUES " +
      (1 to 30).map(i => s"($i, 'c${i % 5}', ${i * 1.0})").mkString(", "))
    val cat = spark.sessionState.catalogManager.catalog("g")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("rrf", "main", "db"), "fact"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = tbl.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    rf.filterAttributes().map(_.toString) shouldBe Array("cat")
    val gs = scan.asInstanceOf[graft.catalog.GraftScan]
    val fullFiles = gs.liveFiles.size
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("cat", Array("c1"))))
    gs.liveFiles.size should be < fullFiles
    all(gs.liveFiles.map(_.partValues("cat"))) shouldBe "c1"
    gs.liveFiles.map(_.rows).sum shouldBe (1 to 30).count(_ % 5 == 1)
    // end-to-end: a dimension-filtered join stays correct with DPP active
    spark.range(0, 5).selectExpr("concat('c', id) AS cat",
      "CASE WHEN id = 2 THEN 'keep' ELSE 'drop' END AS tag")
      .createOrReplaceTempView("dim")
    rows("SELECT f.id FROM g.rrf.main.db.fact f JOIN dim d ON f.cat = d.cat " +
      "WHERE d.tag = 'keep' ORDER BY f.id").flatten shouldBe
      (1 to 30).filter(i => i % 5 == 2)
  }


  test("compaction: bin-packing merges small files; rows, stats and " +
    "partition layout are preserved") {
    sql("CREATE NAMESPACE g.rcp")
    sql("CREATE NAMESPACE g.rcp.main.db")
    sql("CREATE TABLE g.rcp.main.db.t (id INT, v STRING)")
    for (b <- 0 until 6)
      sql(s"INSERT INTO g.rcp.main.db.t VALUES " +
        (1 to 10).map(i => s"(${b * 10 + i}, 'v${b * 10 + i}')").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcp"))
    val before = repo.snapshot(repo.headCommit("main").tables("db/t")).files.size
    before should be >= 6
    val (b0, a0) = TableOps.compact(spark, repo, "main", "db/t")
    b0 shouldBe before
    a0 shouldBe 1
    rows("SELECT count(*), min(id), max(id) FROM g.rcp.main.db.t") shouldBe
      Seq(Seq(60L, 1, 60))
    rows("SELECT v FROM g.rcp.main.db.t WHERE id = 33").flatten shouldBe Seq("v33")
    // compacting an already-compact table is a no-op
    TableOps.compact(spark, repo, "main", "db/t") shouldBe ((1, 1))
    // old files are unreferenced, not deleted (time travel still works);
    // vacuum keeps everything while ancestor commits reference them
    repo.snapshot(repo.headCommit("main").tables("db/t")).files should have size 1
  }

  test("compaction with sort clustering: files get disjoint ranges, " +
    "selective filters prune to a single file") {
    import org.apache.spark.sql.sources.EqualTo
    sql("CREATE NAMESPACE g.rcs")
    sql("CREATE NAMESPACE g.rcs.main.db")
    sql("CREATE TABLE g.rcs.main.db.t (id INT, v STRING)")
    // ingest in pseudo-random order: file splits are contiguous slices of
    // the INSERT order, so every file spans ~the full id range and a
    // point lookup can prune (almost) nothing before clustering
    for (m <- 0 until 4)
      sql(s"INSERT INTO g.rcs.main.db.t VALUES " +
        (0 until 100).filter(_ % 4 == m).sortBy(i => i * 37 % 100)
          .map(i => s"($i, 'v$i')").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcs"))
    def snap() = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap().schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val prunedBefore = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("id", 57))).size
    prunedBefore should be > 2 // overlapping ranges: lookup hits many files
    // cluster by id into ~4 files of disjoint ranges
    val (_, after) = TableOps.compact(spark, repo, "main", "db/t",
      targetFileBytes = 2048, sortBy = Seq("id"))
    after should be >= 2
    val fs = snap().files
    // ranges are pairwise disjoint
    val ranges = fs.map(f => (f.min("id").toInt, f.max("id").toInt)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => hi should be < lo2
      case _ =>
    }
    TableOps.pruneFiles(snap(), schema, Seq(EqualTo("id", 57))).size shouldBe 1
    rows("SELECT count(*), sum(id) FROM g.rcs.main.db.t") shouldBe
      Seq(Seq(100L, (0 until 100).sum.toLong))
  }

  test("compaction on a partitioned table never merges across partition " +
    "directories") {
    sql("CREATE NAMESPACE g.rcpp")
    sql("CREATE NAMESPACE g.rcpp.main.db")
    sql("CREATE TABLE g.rcpp.main.db.t (id INT, cat STRING) PARTITIONED BY (cat)")
    for (_ <- 0 until 3)
      sql("INSERT INTO g.rcpp.main.db.t VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcpp"))
    val (b, a) = TableOps.compact(spark, repo, "main", "db/t")
    b should be >= 6
    a shouldBe 2 // one file per category
    val fs = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    fs.map(_.partValues("cat")).sorted shouldBe Seq("a", "b")
    rows("SELECT cat, count(*) FROM g.rcpp.main.db.t GROUP BY cat ORDER BY cat")
      .map(_.toList) shouldBe Seq(List("a", 6L), List("b", 3L))
    // sort-clustered compaction on a PARTITIONED table: the clustering
    // layout must survive the partition-dir write (no re-shuffle), so
    // each category's files carry disjoint, ordered id ranges
    sql("INSERT INTO g.rcpp.main.db.t VALUES " +
      (10 to 49).map(i => s"($i, '${"ab".charAt(i % 2)}')").mkString(", "))
    TableOps.compact(spark, repo, "main", "db/t",
      targetFileBytes = 900, sortBy = Seq("id"))
    val clustered = repo.snapshot(repo.headCommit("main").tables("db/t")).files
    clustered.groupBy(_.partValues("cat")).values.foreach { group =>
      val ranges = group.map(f => (f.min("id").toInt, f.max("id").toInt)).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => hi should be < lo2
        case _ =>
      }
    }
    rows("SELECT count(*) FROM g.rcpp.main.db.t").flatten shouldBe Seq(49L)
  }


  test("SQL stored procedures: CALL g.system.{create_branch,merge," +
    "create_tag,compact,vacuum}") {
    sql("CREATE NAMESPACE g.rpc")
    sql("CREATE NAMESPACE g.rpc.main.db")
    sql("CREATE TABLE g.rpc.main.db.t (id INT, v STRING)")
    for (b <- 0 until 3)
      sql(s"INSERT INTO g.rpc.main.db.t VALUES ($b, 'v$b')")
    // branch via CALL, isolated DML, merge via CALL
    val bc = rows("CALL g.system.create_branch('rpc', 'dev', 'main')")
    bc.head.head.toString should startWith ("c")
    sql("DELETE FROM g.rpc.dev.db.t WHERE id = 1")
    rows("SELECT count(*) FROM g.rpc.main.db.t").flatten shouldBe Seq(3L)
    rows("CALL g.system.merge('rpc', 'dev', 'main')")
    rows("SELECT id FROM g.rpc.main.db.t ORDER BY id").flatten shouldBe Seq(0, 2)
    // tag the merged state; time travel through the tag still works
    rows("CALL g.system.create_tag('rpc', 'after-merge', 'main')")
    rows("SELECT count(*) FROM g.rpc.main.db.t VERSION AS OF 'after-merge'")
      .flatten shouldBe Seq(2L)
    // compaction via CALL (named defaults for target/sort)
    val c = rows("CALL g.system.compact('rpc', 'main', 'db.t')")
    c.head(1).asInstanceOf[Int] should be <= c.head(0).asInstanceOf[Int]
    rows("SELECT id FROM g.rpc.main.db.t ORDER BY id").flatten shouldBe Seq(0, 2)
    // vacuum via CALL: nothing deletable while history references files
    rows("CALL g.system.vacuum('rpc', 0)").head.head.asInstanceOf[Int] should be >= 0
  }


  test("zero-copy clone_table: O(1) shared-snapshot commit, writes fully " +
    "isolated both ways, vacuum keeps shared files, name conflicts rejected") {
    sql("CREATE NAMESPACE g.rcl")
    sql("CREATE NAMESPACE g.rcl.main.db")
    sql("CREATE TABLE g.rcl.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rcl.main.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcl"))

    rows("CALL g.system.clone_table('rcl', 'main', 'db.t', 'db.t2')")
    // zero-copy: both table entries point at the SAME snapshot id
    val head = repo.headCommit("main")
    head.tables("db/t") shouldBe head.tables("db/t2")
    rows("SELECT id, v FROM g.rcl.main.db.t2 ORDER BY id") shouldBe
      rows("SELECT id, v FROM g.rcl.main.db.t ORDER BY id")

    // isolation in both directions: delete on the source, append on the
    // clone — neither sees the other's change
    sql("DELETE FROM g.rcl.main.db.t WHERE id = 2")
    sql("INSERT INTO g.rcl.main.db.t2 VALUES (9, 'z')")
    rows("SELECT id FROM g.rcl.main.db.t ORDER BY id").flatten shouldBe Seq(1, 3)
    rows("SELECT id FROM g.rcl.main.db.t2 ORDER BY id").flatten shouldBe
      Seq(1, 2, 3, 9)

    // GC safety: dropping the source and vacuuming must not delete the
    // files the clone still references
    sql("DROP TABLE g.rcl.main.db.t")
    rows("CALL g.system.vacuum('rcl', 0)")
    rows("SELECT id FROM g.rcl.main.db.t2 ORDER BY id").flatten shouldBe
      Seq(1, 2, 3, 9)

    // shared table/view namespace invariant: clone onto an existing name
    // (table or view) is rejected
    intercept[Exception] {
      sql("CALL g.system.clone_table('rcl', 'main', 'db.t2', 'db.t2')")
    }
    locally {
      import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
      val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
      val schema = sql("SELECT id FROM g.rcl.main.db.t2").schema
      cat.createView(new ViewInfo(
        Identifier.of(Array("rcl", "main", "db"), "vv"),
        "SELECT id FROM t2", "g", Array("rcl", "main", "db"), schema,
        Array("id"), Array.empty, Array.empty,
        java.util.Map.of()))
    }
    intercept[Exception] {
      sql("CALL g.system.clone_table('rcl', 'main', 'db.t2', 'db.vv')")
    }
    // and a missing source/namespace is a clean error, not a commit
    intercept[Exception] {
      sql("CALL g.system.clone_table('rcl', 'main', 'db.nope', 'db.t3')")
    }
    intercept[Exception] {
      sql("CALL g.system.clone_table('rcl', 'main', 'db.t2', 'nodb.t3')")
    }
  }


  test("atomic CTAS / CREATE OR REPLACE AS SELECT: one staged commit, " +
    "replaced state stays time-travelable, failed RTAS aborts cleanly") {
    sql("CREATE NAMESPACE g.rct")
    sql("CREATE NAMESPACE g.rct.main.db")
    sql("CREATE TABLE g.rct.main.db.t AS SELECT 1 AS id, 'a' AS v")
    rows("SELECT id, v FROM g.rct.main.db.t").map(_.toList) shouldBe
      Seq(List(1, "a"))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rct"))
    val before = repo.headCommit("main").id

    sql("CREATE OR REPLACE TABLE g.rct.main.db.t AS SELECT 2 AS id, 'b' AS v")
    rows("SELECT id FROM g.rct.main.db.t").flatten shouldBe Seq(2)
    // the replace is a commit like any other: pre-replace content stays
    // reachable through history
    rows(s"SELECT id FROM g.rct.main.db.t VERSION AS OF '$before'")
      .flatten shouldBe Seq(1)

    // REPLACE of a missing table is rejected up front
    intercept[Exception] {
      sql("REPLACE TABLE g.rct.main.db.nope AS SELECT 1 AS x")
    }

    // failed RTAS: the query dies mid-write -> abort deletes staged
    // files, the table is untouched, no half-replaced state is visible
    def dataFiles: Long = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(repo.dataDir))(
        _.iterator().asScala.count(p => p.toString.endsWith(".parquet")).toLong)
    }
    val nBefore = dataFiles
    intercept[Exception] {
      sql("CREATE OR REPLACE TABLE g.rct.main.db.t AS " +
        "SELECT raise_error(v) AS boom FROM g.rct.main.db.t")
    }
    rows("SELECT id FROM g.rct.main.db.t").flatten shouldBe Seq(2)
    dataFiles shouldBe nBefore
  }


  test("partition-spec evolution: forward-only metadata change; old files " +
    "stay correct (conservative) and a changed transform rebinds to a fresh " +
    "field name") {
    import org.apache.spark.sql.sources.EqualTo
    sql("CREATE NAMESPACE g.rpe")
    sql("CREATE NAMESPACE g.rpe.main.db")
    sql("CREATE TABLE g.rpe.main.db.t (id INT, cat STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    sql("INSERT INTO g.rpe.main.db.t VALUES " +
      (0 until 10).map(i => s"($i, 'c${i % 2}')").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rpe"))
    def snap() = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap().schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val oldPaths = snap().files.map(_.path).toSet
    oldPaths.size should be >= 2 // one file per hit bucket

    // evolve: wider bucket on id + identity on cat. Same-name field with a
    // DIFFERENT transform (bucket 4 -> 8) must get a fresh name, or the
    // new spec would misread old files' recorded bucket values.
    val out = rows(
      "CALL g.system.set_partition_spec('rpe', 'main', 'db.t', 'bucket(8, id), cat')")
    out.head.head.toString should include ("id_bucket_v2")
    snap().partitionFields.map(_.name) shouldBe Seq("id_bucket_v2", "cat")

    sql("INSERT INTO g.rpe.main.db.t VALUES " +
      (10 until 20).map(i => s"($i, 'c${i % 2}')").mkString(", "))
    // correctness across the mixed layout
    rows("SELECT count(*) FROM g.rpe.main.db.t").flatten shouldBe Seq(20L)
    rows("SELECT id FROM g.rpe.main.db.t WHERE id IN (3, 13) ORDER BY id")
      .flatten shouldBe Seq(3, 13)

    // partition-level pruning on the evolved spec: every OLD file is
    // conservatively kept (no id_bucket_v2 value recorded — min/max stats,
    // not partition values, are what may still exclude it), while new
    // files prune to one bucket
    val evolved = snap().partitionFields
    snap().files.filter(f => oldPaths(f.path)).foreach { f =>
      Partitioning.mayMatch(f, evolved, schema, EqualTo("id", 13)) shouldBe true
    }
    val hit = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("id", 13)))
      .map(_.path).toSet
    val newFiles = snap().files.map(_.path).toSet -- oldPaths
    (hit -- oldPaths).size should be < newFiles.size
    // new files carry values for BOTH evolved fields
    snap().files.filter(f => newFiles(f.path)).foreach { f =>
      f.partValues.keySet shouldBe Set("id_bucket_v2", "cat")
    }
    // identity(cat) on new files prunes to one cat per file group
    val catHit = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("cat", "c1")))
      .map(_.path).toSet
    oldPaths.subsetOf(catHit) shouldBe true
    (catHit -- oldPaths) should not be newFiles

    // evolving to unpartitioned: later inserts record no partition values
    rows("CALL g.system.set_partition_spec('rpe', 'main', 'db.t', '')")
    snap().partitionFields shouldBe Nil
    sql("INSERT INTO g.rpe.main.db.t VALUES (20, 'c0')")
    rows("SELECT count(*) FROM g.rpe.main.db.t").flatten shouldBe Seq(21L)
    // a spec naming a missing column is rejected
    intercept[Exception] {
      rows("CALL g.system.set_partition_spec('rpe', 'main', 'db.t', 'nope')")
    }
    // malformed spec strings fail loudly instead of degrading to
    // bare-identity fields (unclosed paren used to parse as identity(bucket))
    intercept[Exception] {
      rows("CALL g.system.set_partition_spec('rpe', 'main', 'db.t', 'bucket(8, id')")
    }
  }


  test("rollback / revert / expire_snapshots: hard reset, history-preserving " +
    "undo, unreachable-metadata GC") {
    sql("CREATE NAMESPACE g.rrb")
    sql("CREATE NAMESPACE g.rrb.main.db")
    sql("CREATE TABLE g.rrb.main.db.t (id INT)")
    sql("INSERT INTO g.rrb.main.db.t VALUES (1)")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rrb"))
    val good = repo.headCommit("main").id
    sql("INSERT INTO g.rrb.main.db.t VALUES (2)")
    sql("INSERT INTO g.rrb.main.db.t VALUES (3)")
    val full = repo.headCommit("main").id

    // revert: new commit restoring `good`'s state; pre-revert head stays
    // reachable, so time travel across the undo keeps working
    rows(s"CALL g.system.revert('rrb', 'main', '$good')")
    rows("SELECT count(*) FROM g.rrb.main.db.t").flatten shouldBe Seq(1L)
    repo.headCommit("main").parents should contain (full)
    rows(s"SELECT count(*) FROM g.rrb.main.db.t VERSION AS OF '$full'")
      .flatten shouldBe Seq(3L)

    // rollback: head moves to the ancestor itself; later commits dangle
    rows(s"CALL g.system.rollback('rrb', 'main', '$good')")
      .flatten shouldBe Seq(good)
    repo.headCommit("main").id shouldBe good
    rows("SELECT count(*) FROM g.rrb.main.db.t").flatten shouldBe Seq(1L)

    // expire_snapshots: the two inserts + the revert commit are now
    // unreachable -> 3 commits, their 2 distinct snapshots (the revert
    // reused `good`'s snapshot object), and the orphaned insert files go
    val ex = rows("CALL g.system.expire_snapshots('rrb', 0)").head
    ex(0).asInstanceOf[Int] shouldBe 3
    ex(1).asInstanceOf[Int] shouldBe 2
    ex(2).asInstanceOf[Int] shouldBe 0 // no segmented metadata chunks here
    ex(3).asInstanceOf[Int] should be >= 2
    rows("SELECT count(*) FROM g.rrb.main.db.t").flatten shouldBe Seq(1L)
    intercept[Exception] {
      rows(s"SELECT * FROM g.rrb.main.db.t VERSION AS OF '$full'")
    }

    // rollback refuses a target that is not an ancestor of the head
    rows("CALL g.system.create_branch('rrb', 'dev', 'main')")
    sql("INSERT INTO g.rrb.dev.db.t VALUES (9)")
    val devHead = repo.headCommit("dev").id
    intercept[Exception] {
      rows(s"CALL g.system.rollback('rrb', 'main', '$devHead')")
    }
    // and the age guard (also the SQL default) spares young unreachables
    repo.rollback("dev", good)
    repo.expireSnapshots() shouldBe ((0, 0, 0, 0))
  }


  test("cherry-pick: one commit's delta applies onto another branch; " +
    "append delta replays onto any head state; re-pick idempotent; rewrites conflict") {
    setupRepo("rchp")
    sql("CREATE NAMESPACE g.rchp.dev")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rchp"))
    // dev: create+fill table u (two commits), THEN append to t (one commit)
    sql("CREATE TABLE g.rchp.dev.db.u (id INT)")
    sql("INSERT INTO g.rchp.dev.db.u VALUES (100)")
    sql("INSERT INTO g.rchp.dev.db.t VALUES (9, 'name_9')")
    val pickT = repo.headCommit("dev").id

    // picking only the t-append brings t's delta and NOT u
    rows(s"CALL g.system.cherry_pick('rchp', 'main', '$pickT')")
    rows("SELECT id FROM g.rchp.main.db.t ORDER BY id").flatten shouldBe (1 to 9)
    intercept[Exception] { rows("SELECT * FROM g.rchp.main.db.u") }
    // the picked commit stays on dev; main's new head is its own commit
    repo.headCommit("main").id should not be pickT
    repo.headCommit("main").parents should have size 1

    // append-union: main and the pick both appended vs the pick's parent
    sql("INSERT INTO g.rchp.main.db.t VALUES (10, 'name_10')")
    sql("INSERT INTO g.rchp.dev.db.t VALUES (11, 'name_11')")
    val pick2 = repo.headCommit("dev").id
    rows(s"CALL g.system.cherry_pick('rchp', 'main', '$pick2')")
    rows("SELECT id FROM g.rchp.main.db.t ORDER BY id").flatten shouldBe (1 to 11)
    // dev never saw main's rows (cherry-pick is one-directional)
    rows("SELECT id FROM g.rchp.dev.db.t ORDER BY id").flatten shouldBe
      ((1 to 9) :+ 11)

    // re-picking an already-applied commit must not double-count its file
    rows(s"CALL g.system.cherry_pick('rchp', 'main', '$pick2')")
    rows("SELECT id FROM g.rchp.main.db.t ORDER BY id").flatten shouldBe (1 to 11)

    // head BEHIND the pick's parent: dev makes two append commits A, B;
    // picking only B onto a main that has NEITHER must bring B's rows
    // and not A's (the delta replays onto any head state)
    sql("CREATE NAMESPACE g.rchp.rel")
    sql("INSERT INTO g.rchp.rel.db.t VALUES (20, 'name_20')")
    sql("INSERT INTO g.rchp.rel.db.t VALUES (21, 'name_21')")
    val pickB = repo.headCommit("rel").id
    repo.cherryPick("dev", pickB)
    rows("SELECT id FROM g.rchp.dev.db.t ORDER BY id").flatten shouldBe
      ((1 to 9) :+ 11 :+ 21)

    // a rewrite (CoW delete) on the pick with a diverged target conflicts
    sql("DELETE FROM g.rchp.dev.db.t WHERE id = 1")
    val pick3 = repo.headCommit("dev").id
    intercept[MergeConflictException] { repo.cherryPick("main", pick3) }
    // and the root commit is not pickable
    val root = {
      var c = repo.headCommit("main")
      while (c.parents.nonEmpty) c = repo.commit(c.parents.head)
      c.id
    }
    intercept[IllegalArgumentException] { repo.cherryPick("main", root) }
  }

  test("temporal partition transforms: days(ts) prunes date ranges before " +
    "stats; CoW delete touches only the matching day") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    sql("CREATE NAMESPACE g.rtt")
    sql("CREATE NAMESPACE g.rtt.main.db")
    sql("CREATE TABLE g.rtt.main.db.ev (id INT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    sql("INSERT INTO g.rtt.main.db.ev VALUES " +
      (0 until 40).map(i => s"($i, TIMESTAMP '2024-03-0${1 + i % 5} " +
        f"${6 + i / 5}%02d:15:00', ${i * 1.0})").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtt"))
    def snap() = repo.snapshot(repo.headCommit("main").tables("db/ev"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap().schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    snap().partitionFields.map(f => (f.transform, f.name)) shouldBe
      Seq(("days", "ts_day"))
    all(snap().files.map(_.partValues.keySet)) shouldBe Set("ts_day")
    // equality day pruning
    val d3 = java.sql.Timestamp.valueOf("2024-03-03 10:15:00")
    val hit = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("ts", d3)))
    hit should not be empty
    all(hit.map(_.partValues("ts_day"))) shouldBe "2024-03-03"
    // range pruning: ts >= 03-04 keeps only days 04 and 05
    val lo = java.sql.Timestamp.valueOf("2024-03-04 00:00:00")
    TableOps.pruneFiles(snap(), schema, Seq(GreaterThanOrEqual("ts", lo)))
      .map(_.partValues("ts_day")).toSet shouldBe Set("2024-03-04", "2024-03-05")
    // partition pruning keeps day 04 (floor equality is conservative) but
    // the NEW timestamp min/max stats prune it exactly: its min is 06:15,
    // so ts < 00:00 is impossible in that file
    TableOps.pruneFiles(snap(), schema, Seq(LessThan("ts", lo)))
      .map(_.partValues("ts_day")).toSet shouldBe
      Set("2024-03-01", "2024-03-02", "2024-03-03")
    // SQL answers stay correct through the pruned scans
    rows("SELECT count(*) FROM g.rtt.main.db.ev " +
      "WHERE ts >= TIMESTAMP '2024-03-04 00:00:00'").flatten shouldBe
      Seq((0 until 40).count(i => i % 5 >= 3).toLong)
    // day-local CoW delete: other days' files untouched
    val before = snap().files.filterNot(_.partValues("ts_day") == "2024-03-02").toSet
    sql("DELETE FROM g.rtt.main.db.ev WHERE ts >= TIMESTAMP '2024-03-02 00:00:00' " +
      "AND ts < TIMESTAMP '2024-03-03 00:00:00'")
    snap().files.filterNot(_.partValues("ts_day") == "2024-03-02").toSet shouldBe before
    rows("SELECT count(*) FROM g.rtt.main.db.ev").flatten shouldBe
      Seq((0 until 40).count(i => i % 5 != 1).toLong)
  }

  test("truncate partition transform: integral floors and string prefixes " +
    "prune files; lookups stay correct") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    sql("CREATE NAMESPACE g.rtr")
    sql("CREATE NAMESPACE g.rtr.main.db")
    sql("CREATE TABLE g.rtr.main.db.t (id INT, code STRING) " +
      "PARTITIONED BY (truncate(10, id), truncate(2, code))")
    sql("INSERT INTO g.rtr.main.db.t VALUES " +
      (0 until 40).map(i => s"($i, '${"abcd".charAt(i % 4)}X$i')").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtr"))
    val snap = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    snap.partitionFields.map(_.transform) shouldBe Seq("truncate", "truncate")
    // integral floor: id = 23 -> only the [20, 30) file group
    val byId = TableOps.pruneFiles(snap, schema, Seq(EqualTo("id", 23)))
    byId should not be empty
    all(byId.map(_.partValues("id_trunc"))) shouldBe "20"
    // integral range floor: id >= 25 keeps groups 20 and 30
    TableOps.pruneFiles(snap, schema, Seq(GreaterThanOrEqual("id", 25)))
      .map(_.partValues("id_trunc")).toSet shouldBe Set("20", "30")
    // string prefix: code = 'cX6' -> only the 'cX' prefix group
    val byCode = TableOps.pruneFiles(snap, schema, Seq(EqualTo("code", "cX6")))
    byCode should not be empty
    all(byCode.map(_.partValues("code_trunc"))) shouldBe "cX"
    rows("SELECT code FROM g.rtr.main.db.t WHERE id = 23").flatten shouldBe Seq("dX23")
    rows("SELECT id FROM g.rtr.main.db.t WHERE code = 'cX6'").flatten shouldBe Seq(6)
    // EMPTY-STRING partition values share hive's null-marker directory:
    // equality on '' and IS NOT NULL must still find the row
    sql("INSERT INTO g.rtr.main.db.t VALUES (100, ''), (101, NULL)")
    rows("SELECT id FROM g.rtr.main.db.t WHERE code = ''").flatten shouldBe Seq(100)
    rows("SELECT count(*) FROM g.rtr.main.db.t WHERE code IS NOT NULL")
      .flatten shouldBe Seq(41L)
    rows("SELECT id FROM g.rtr.main.db.t WHERE code IS NULL").flatten shouldBe Seq(101)
  }


  test("compaction with Z-order clustering: point filters on EITHER " +
    "dimension prune files (lexicographic sort only helps the leading one)") {
    import org.apache.spark.sql.sources.EqualTo
    sql("CREATE NAMESPACE g.rz")
    sql("CREATE NAMESPACE g.rz.main.db")
    sql("CREATE TABLE g.rz.main.db.t (x INT, y INT, v STRING)")
    // x and y independent, inserted in x-shuffled order: pre-compaction
    // files span ~the full range of both dimensions
    val rnd = new scala.util.Random(5)
    val pts = (for (x <- 0 until 64; y <- 0 until 64 if (x + y) % 16 == 0)
      yield (x, y)).sortBy(_ => rnd.nextInt())
    pts.grouped(64).foreach(g =>
      sql("INSERT INTO g.rz.main.db.t VALUES " +
        g.map { case (x, y) => s"($x, $y, 'v$x-$y')" }.mkString(", ")))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rz"))
    def snap() = repo.snapshot(repo.headCommit("main").tables("db/t"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(snap().schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val total0 = snap().files.size
    // shuffled ingest: a point lookup can prune (almost) nothing yet
    TableOps.pruneFiles(snap(), schema,
      Seq(EqualTo("x", 7))).size should be >= total0 - 2
    TableOps.pruneFiles(snap(), schema,
      Seq(EqualTo("y", 9))).size should be >= total0 - 2
    val nRows = rows("SELECT count(*) FROM g.rz.main.db.t").head.head
    TableOps.compact(spark, repo, "main", "db/t",
      targetFileBytes = 1400, zorderBy = Seq("x", "y"))
    val total = snap().files.size
    total should be >= 4
    // BOTH dimensions prune now — the Z-order property
    val px = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("x", 7))).size
    val py = TableOps.pruneFiles(snap(), schema, Seq(EqualTo("y", 9))).size
    px should be < total
    py should be < total
    // rows and lookups intact
    rows("SELECT count(*) FROM g.rz.main.db.t").head.head shouldBe nRows
    rows("SELECT v FROM g.rz.main.db.t WHERE x = 8 AND y = 8").flatten shouldBe
      Seq("v8-8")
  }


  test("incremental read: appendsBetween returns exactly the rows " +
    "committed between two refs of an append-only table") {
    sql("CREATE NAMESPACE g.rinc")
    sql("CREATE NAMESPACE g.rinc.main.db")
    sql("CREATE TABLE g.rinc.main.db.t (id INT, v STRING)")
    sql("INSERT INTO g.rinc.main.db.t VALUES (1, 'a'), (2, 'b')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rinc"))
    val checkpoint = repo.headCommit("main").id
    sql("INSERT INTO g.rinc.main.db.t VALUES (3, 'c')")
    sql("INSERT INTO g.rinc.main.db.t VALUES (4, 'd'), (5, 'e')")
    // delta = only the two commits after the checkpoint
    TableOps.appendsBetween(spark, repo, checkpoint, "main", "db/t")
      .collect().map(_.getInt(0)).sorted shouldBe Array(3, 4, 5)
    // same-ref delta is empty; from-empty delta is the whole table
    TableOps.appendsBetween(spark, repo, "main", "main", "db/t")
      .count() shouldBe 0
    // tags work as checkpoints too
    repo.createTag("ckpt", checkpoint)
    TableOps.appendsBetween(spark, repo, "ckpt", "main", "db/t")
      .count() shouldBe 3
  }


  test("SQL surface odds and ends: TRUNCATE TABLE, SHOW TBLPROPERTIES, " +
    "DESCRIBE shows partitioning") {
    sql("CREATE NAMESPACE g.rsql")
    sql("CREATE NAMESPACE g.rsql.main.db")
    sql("CREATE TABLE g.rsql.main.db.t (id INT, cat STRING) " +
      "PARTITIONED BY (cat) TBLPROPERTIES ('owner.team' = 'data-eng')")
    sql("INSERT INTO g.rsql.main.db.t VALUES (1, 'a'), (2, 'b')")
    // SHOW TBLPROPERTIES surfaces snapshot props
    rows("SHOW TBLPROPERTIES g.rsql.main.db.t").map(_.toList)
      .collect { case List("owner.team", v) => v } shouldBe Seq("data-eng")
    // DESCRIBE includes the partition column
    sql("DESCRIBE EXTENDED g.rsql.main.db.t").collect()
      .map(_.getString(0)) should contain ("# Partition Information")
    // constant-false DELETE is a no-op: no candidate files, no rewrite,
    // snapshot id unchanged (used to rewrite the whole table)
    val repo0 = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rsql"))
    val sidBefore = repo0.headCommit("main").tables("db/t")
    sql("DELETE FROM g.rsql.main.db.t WHERE 1 = 2")
    repo0.headCommit("main").tables("db/t") shouldBe sidBefore
    // TRUNCATE TABLE empties but keeps the table + history
    sql("TRUNCATE TABLE g.rsql.main.db.t")
    rows("SELECT count(*) FROM g.rsql.main.db.t").flatten shouldBe Seq(0L)
    sql("INSERT INTO g.rsql.main.db.t VALUES (3, 'c')")
    rows("SELECT id FROM g.rsql.main.db.t").flatten shouldBe Seq(3)
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rsql"))
    // pre-truncate state still reachable through history
    val cs = spark.sql("SELECT * FROM g.rsql.main.db.t.history").collect()
    cs.length should be >= 3
  }

  test("native DSv2 batch write: unpartitioned INSERT takes the BatchWrite " +
    "path; identity/bucket-partitioned INSERT gets Spark-planned clustering") {
    sql("CREATE NAMESPACE g.rdsv2")
    sql("CREATE NAMESPACE g.rdsv2.main.db")
    sql("CREATE TABLE g.rdsv2.main.db.flat (id INT, name STRING)")
    // the plan carries the native Write's description — no V1 bridge
    val plan = rows("EXPLAIN EXTENDED INSERT INTO g.rdsv2.main.db.flat " +
      "VALUES (1, 'a')").flatten.mkString("\n")
    plan should include ("GraftLayoutWrite") // native Write, no V1 bridge
    sql("INSERT INTO g.rdsv2.main.db.flat VALUES (1, 'a'), (2, 'b')")
    rows("SELECT count(*) FROM g.rdsv2.main.db.flat").flatten shouldBe Seq(2L)
    sql("INSERT OVERWRITE g.rdsv2.main.db.flat VALUES (3, 'c')")
    rows("SELECT id FROM g.rdsv2.main.db.flat").flatten shouldBe Seq(3)
    // stats survived the native path: metadata-only count still answers
    rows("SELECT count(*) FROM g.rdsv2.main.db.flat").flatten shouldBe Seq(1L)
    // partitioned: the WRITE declares its distribution and Spark plans
    // the clustering (a rebalance on the transform expressions) instead
    // of the engine shuffling internally
    sql("CREATE TABLE g.rdsv2.main.db.part (id INT, cat STRING) " +
      "PARTITIONED BY (cat, bucket(4, id))")
    val pplan = rows("EXPLAIN EXTENDED INSERT INTO g.rdsv2.main.db.part " +
      "VALUES (1, 'a')").flatten.mkString("\n").toLowerCase
    pplan should include ("rebalancepartitions")
    sql("INSERT INTO g.rdsv2.main.db.part VALUES (1,'a'),(2,'b'),(3,'a')")
    rows("SELECT count(*) FROM g.rdsv2.main.db.part WHERE cat = 'a'")
      .flatten shouldBe Seq(2L)
    sql("INSERT INTO g.rdsv2.main.db.part VALUES (4,'a')")
    rows("SELECT id FROM g.rdsv2.main.db.part WHERE cat = 'a' ORDER BY id")
      .flatten shouldBe Seq(1, 3, 4)
  }

  test("materialized views: incremental refresh reads only the appended " +
    "delta; deletes trigger full recompute; refresh is crash-safe") {
    import graft.versioned.MaterializedView
    setupRepo("rmv")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rmv"))
    MaterializedView.create(spark, repo, "main", "db/t", "db/t_mv",
      Seq("name"), Seq(("count", "id", "n"), ("sum", "id", "id_sum"),
        ("max", "id", "id_max")))
    def mv(): Map[String, (Long, Long, Int)] =
      rows("SELECT name, n, id_sum, id_max FROM g.rmv.main.db.t_mv " +
        "WHERE name IS NOT NULL")
        .map(r => r.head.toString ->
          (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long],
            r(3).asInstanceOf[Int])).toMap
    mv()("name_3") shouldBe (1L, 3L, 3)
    // append two rows (one existing group, one new) → incremental
    sql("INSERT INTO g.rmv.main.db.t VALUES (30, 'name_3'), (99, 'name_new')")
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "incremental"
    mv()("name_3") shouldBe (2L, 33L, 30)
    mv()("name_new") shouldBe (1L, 99L, 99)
    mv()("name_5") shouldBe (1L, 5L, 5) // untouched group untouched
    // nothing new → TRUE noop: no commit written (an idle source must not
    // grow the commit log on every scheduled refresh)
    val headBeforeNoop = repo.headCommit("main").id
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "noop"
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "noop"
    repo.headCommit("main").id shouldBe headBeforeNoop
    // a column name carrying a spec-encoding separator is rejected at
    // create (it would silently mis-parse on refresh)
    intercept[IllegalArgumentException] {
      MaterializedView.create(spark, repo, "main", "db/t", "db/t_mv2",
        Seq("name"), Seq(("sum", "id", "a:b")))
    }
    // a DELETE on the source breaks append-only → full recompute
    sql("DELETE FROM g.rmv.main.db.t WHERE id = 30")
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "full"
    mv()("name_3") shouldBe (1L, 3L, 3)
    // an all-NULL delta for a group must not null its running sum
    // (sum ignores NULL inputs, as in a full recompute)
    sql("INSERT INTO g.rmv.main.db.t VALUES (NULL, 'name_3')")
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "incremental"
    mv()("name_3") shouldBe (2L, 3L, 3)
    // a NULL group KEY can't ride the equality joins — refresh detects
    // it and recomputes rather than duplicating the NULL group's row
    sql("INSERT INTO g.rmv.main.db.t VALUES (77, NULL)")
    MaterializedView.refresh(spark, repo, "main", "db/t_mv") shouldBe "full"
    rows("SELECT n, id_sum FROM g.rmv.main.db.t_mv WHERE name IS NULL") shouldBe
      Seq(Seq(1L, 77L))
    // and the MV always equals the from-scratch aggregate
    val expect = rows("SELECT name, count(*), sum(id), max(id) " +
      "FROM g.rmv.main.db.t WHERE name IS NOT NULL GROUP BY name")
      .map(r => r.head.toString ->
        (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long],
          r(3).asInstanceOf[Int])).toMap
    mv() shouldBe expect
  }

  test("streaming ingest keeps a materialized view fresh: sink commit + " +
    "incremental MV refresh per micro-batch") {
    import graft.versioned.MaterializedView
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft-smv")
    val repo = GraftRepo.init(root)
    import spark.implicits._
    TableOps.insert(spark, repo, "main", "db/ev",
      Seq((1, "a"), (2, "b")).toDF("id", "cat"), overwrite = false)
    MaterializedView.create(spark, repo, "main", "db/ev", "db/ev_mv",
      Seq("cat"), Seq(("count", "id", "n"), ("sum", "id", "id_sum")))
    val modes = scala.collection.mutable.ArrayBuffer[String]()
    val in = MemoryStream[(Int, String)](spark)
    val q = in.toDF().toDF("id", "cat").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        TableOps.streamingAppend(repo, "main", "db/ev")(df.toDF(), id)
        modes += MaterializedView.refresh(spark, repo, "main", "db/ev_mv")
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-smv-ckpt").toString)
      .start()
    try {
      in.addData((3, "a"), (10, "c")); q.processAllAvailable()
      in.addData((4, "a")); q.processAllAvailable()
    } finally q.stop()
    modes.toSeq shouldBe Seq("incremental", "incremental")
    val mv = TableOps.readSnapshot(spark, repo,
      repo.snapshot(repo.headCommit("main").tables("db/ev_mv")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    mv shouldBe Map("a" -> (3L, 8L), "b" -> (1L, 2L), "c" -> (1L, 10L))
  }

  test("versioned views: commit-stored definitions, branch-relative " +
    "resolution, rename and drop") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    setupRepo("rvw")
    val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
    val ident = Identifier.of(Array("rvw", "main", "db"), "big")
    val viewSql = "SELECT id, name FROM t WHERE id > 4"
    val schema = sql("SELECT id, name FROM g.rvw.main.db.t WHERE id > 4").schema
    cat.createView(new ViewInfo(ident, viewSql, "g",
      Array("rvw", "main", "db"), schema,
      Array("id", "name"), Array.empty, Array.empty,
      java.util.Map.of("comment", "ids above four")))
    // the definition is commit state: a NEW branch sees it zero-copy
    sql("CREATE NAMESPACE g.rvw.dev")
    graft.catalog.GraftViews.select(spark, "g.rvw.dev.db.big")
      .collect().map(_.getInt(0)).sorted shouldBe Array(5, 6, 7, 8)
    // branch-relative: the view text's relative `t` follows the branch
    sql("DELETE FROM g.rvw.dev.db.t WHERE id = 6")
    graft.catalog.GraftViews.select(spark, "g.rvw.dev.db.big")
      .collect().map(_.getInt(0)).sorted shouldBe Array(5, 7, 8)
    graft.catalog.GraftViews.select(spark, "g.rvw.main.db.big")
      .collect().map(_.getInt(0)).sorted shouldBe Array(5, 6, 7, 8)
    // listViews / viewExists / properties surface
    cat.listViews("rvw", "main", "db").map(_.name()) shouldBe Array("big")
    cat.viewExists(ident) shouldBe true
    cat.loadView(ident).properties().get("comment") shouldBe "ids above four"
    // alter properties is a commit
    cat.alterView(ident,
      org.apache.spark.sql.connector.catalog.ViewChange.setProperty("owner2", "me"))
    cat.loadView(ident).properties().get("owner2") shouldBe "me"
    // rename within the namespace, then drop
    cat.renameView(ident, Identifier.of(Array("rvw", "main", "db"), "big2"))
    cat.viewExists(ident) shouldBe false
    cat.dropView(Identifier.of(Array("rvw", "main", "db"), "big2")) shouldBe true
    cat.listViews("rvw", "main", "db") shouldBe empty
    // a view can't collide with a table and vice versa
    an[Exception] should be thrownBy cat.createView(new ViewInfo(
      Identifier.of(Array("rvw", "main", "db"), "t"), "SELECT 1", "g",
      Array("rvw", "main", "db"), schema,
      Array.empty, Array.empty, Array.empty, java.util.Map.of()))
  }

  test("concurrent table inserts and view creates: neither commit path " +
    "drops the other's state (views carry through table rebases)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    setupRepo("rcvc")
    val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
    val schema = sql("SELECT id FROM g.rcvc.main.db.t").schema
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run(body: => Unit): java.util.concurrent.Future[_] =
      pool.submit(new Runnable {
        override def run(): Unit =
          try body catch { case t: Throwable => errs.add(t) }
      })
    val fs =
      (0 until 2).map(i => run {
        (0 until 3).foreach(j =>
          sql(s"INSERT INTO g.rcvc.main.db.t VALUES (${100 + i * 10 + j}, 'w$i$j')"))
      }) ++
        (0 until 2).map(i => run {
          (0 until 3).foreach(j =>
            cat.createView(new ViewInfo(
              Identifier.of(Array("rcvc", "main", "db"), s"v_${i}_$j"),
              s"SELECT id FROM t WHERE id > ${i * 10 + j}", "g",
              Array("rcvc", "main", "db"), schema,
              Array("id"), Array.empty, Array.empty, java.util.Map.of())))
        })
    fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    errs.toArray.headOption.foreach(t => fail(t.asInstanceOf[Throwable]))
    // every insert landed...
    rows("SELECT count(*) FROM g.rcvc.main.db.t WHERE id >= 100")
      .flatten shouldBe Seq(6L)
    // ...and every view, despite racing table commits in between
    cat.listViews("rcvc", "main", "db").map(_.name()).sorted shouldBe
      Array("v_0_0", "v_0_1", "v_0_2", "v_1_0", "v_1_1", "v_1_2")
  }

  test("versioned views: created on a branch, merged into main; " +
    "both-sides edits conflict") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    setupRepo("rvw2")
    sql("CREATE NAMESPACE g.rvw2.dev")
    val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
    val schema = sql("SELECT id FROM g.rvw2.main.db.t").schema
    def mkView(branch: String, name: String, text: String): Unit =
      cat.createView(new ViewInfo(
        Identifier.of(Array("rvw2", branch, "db"), name), text, "g",
        Array("rvw2", branch, "db"), schema,
        Array("id"), Array.empty, Array.empty, java.util.Map.of()))
    mkView("dev", "small", "SELECT id FROM t WHERE id < 3")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rvw2"))
    repo.merge("dev", "main")
    graft.catalog.GraftViews.select(spark, "g.rvw2.main.db.small")
      .collect().map(_.getInt(0)).sorted shouldBe Array(1, 2)
    // same view key created differently on both sides → merge conflict
    mkView("dev", "clash", "SELECT id FROM t WHERE id < 4")
    mkView("main", "clash", "SELECT id FROM t WHERE id < 5")
    a[MergeConflictException] should be thrownBy repo.merge("dev", "main")
  }

  test("merge: a table on one branch and a view with the same key on the " +
    "other conflict (shared table/view namespace survives merges)") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    setupRepo("rtvns")
    sql("CREATE NAMESPACE g.rtvns.dev")
    val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
    val schema = sql("SELECT id FROM g.rtvns.main.db.t").schema
    sql("CREATE TABLE g.rtvns.main.db.x (id INT)")
    cat.createView(new ViewInfo(
      Identifier.of(Array("rtvns", "dev", "db"), "x"),
      "SELECT id FROM t", "g", Array("rtvns", "dev", "db"), schema,
      Array("id"), Array.empty, Array.empty, java.util.Map.of()))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtvns"))
    a[MergeConflictException] should be thrownBy repo.merge("dev", "main")
    a[MergeConflictException] should be thrownBy repo.merge("main", "dev")
  }

  test("loadView on a missing repo/branch reports NoSuchViewException " +
    "like every other ViewCatalog entry point") {
    import org.apache.spark.sql.catalyst.analysis.NoSuchViewException
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = graft.catalog.GraftViews.viewCatalog(spark, "g")
    a[NoSuchViewException] should be thrownBy cat.loadView(
      Identifier.of(Array("no_such_repo_xyz", "main", "db"), "v"))
  }

  test("merge: both branches appended to the same table → row-level " +
    "3-way merge unions the appends") {
    setupRepo("rmrg1")
    sql("CREATE NAMESPACE g.rmrg1.dev")
    sql("INSERT INTO g.rmrg1.main.db.t VALUES (100, 'from_main')")
    sql("INSERT INTO g.rmrg1.dev.db.t VALUES (200, 'from_dev'), (201, 'from_dev2')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rmrg1"))
    repo.merge("dev", "main")
    rows("SELECT id FROM g.rmrg1.main.db.t ORDER BY id").flatten shouldBe
      ((1 to 8) ++ Seq(100, 200, 201))
    // dev unchanged until it merges main back (fast-forward-able)
    rows("SELECT id FROM g.rmrg1.dev.db.t ORDER BY id").flatten shouldBe
      ((1 to 8) ++ Seq(200, 201))
  }

  test("merge: append + delete on the two sides still conflicts " +
    "(append-union only covers pure appends)") {
    setupRepo("rmrg2")
    sql("CREATE NAMESPACE g.rmrg2.dev")
    sql("DELETE FROM g.rmrg2.main.db.t WHERE id = 3")
    sql("INSERT INTO g.rmrg2.dev.db.t VALUES (200, 'from_dev')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rmrg2"))
    a[MergeConflictException] should be thrownBy repo.merge("dev", "main")
    // schema divergence conflicts too, even with appends only
    sql("ALTER TABLE g.rmrg2.dev.db.t ADD COLUMN extra INT")
    a[MergeConflictException] should be thrownBy repo.merge("dev", "main")
  }

  test("atomicAppend: several tables advance in ONE commit (no partial " +
    "cross-table state)") {
    sql("CREATE NAMESPACE g.rtxn")
    sql("CREATE NAMESPACE g.rtxn.main.db")
    sql("CREATE TABLE g.rtxn.main.db.fact (id INT, v STRING)")
    sql("CREATE TABLE g.rtxn.main.db.dim (id INT, name STRING)")
    sql("INSERT INTO g.rtxn.main.db.fact VALUES (1, 'a')")
    sql("INSERT INTO g.rtxn.main.db.dim VALUES (10, 'x')")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rtxn"))
    val commitsBefore = sql("SELECT * FROM g.rtxn.main.db.fact.history").count()
    import spark.implicits._
    TableOps.atomicAppend(spark, repo, "main", Seq(
      "db/fact" -> Seq((2, "b"), (3, "c")).toDF("id", "v"),
      "db/dim" -> Seq((20, "y")).toDF("id", "name")))
    rows("SELECT id FROM g.rtxn.main.db.fact ORDER BY id").flatten shouldBe Seq(1, 2, 3)
    rows("SELECT id FROM g.rtxn.main.db.dim ORDER BY id").flatten shouldBe Seq(10, 20)
    // exactly ONE commit landed, and it carries BOTH table updates
    sql("SELECT * FROM g.rtxn.main.db.fact.history").count() shouldBe commitsBefore + 1
    val head = repo.headCommit("main")
    val parent = repo.commit(head.parents.head)
    head.tables("db/fact") should not be parent.tables("db/fact")
    head.tables("db/dim") should not be parent.tables("db/dim")
    // appending to a missing table aborts the whole transaction
    an[Exception] should be thrownBy
      TableOps.atomicAppend(spark, repo, "main", Seq(
        "db/fact" -> Seq((4, "d")).toDF("id", "v"),
        "db/nope" -> Seq((1, "z")).toDF("id", "name")))
    rows("SELECT id FROM g.rtxn.main.db.fact ORDER BY id").flatten shouldBe Seq(1, 2, 3)
  }

  test("atomicReplace: full multi-table swap in ONE commit, tombstones " +
    "retire, and a concurrent commit on a replaced table CONFLICTS " +
    "instead of being silently overwritten") {
    sql("CREATE NAMESPACE g.rrep")
    sql("CREATE NAMESPACE g.rrep.main.db")
    sql("CREATE TABLE g.rrep.main.db.a (id INT, v STRING) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql("CREATE TABLE g.rrep.main.db.b (id INT)")
    sql("INSERT INTO g.rrep.main.db.a VALUES (1, 'x'), (2, 'y')")
    sql("INSERT INTO g.rrep.main.db.b VALUES (10)")
    sql("DELETE FROM g.rrep.main.db.a WHERE id = 2") // MoR tombstone
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rrep"))
    import spark.implicits._
    val commitsBefore = sql("SELECT * FROM g.rrep.main.db.a.history").count()
    TableOps.atomicReplace(spark, repo, "main", Seq(
      "db/a" -> Seq((5, "z")).toDF("id", "v"),
      "db/b" -> Seq(99).toDF("id")))
    rows("SELECT id FROM g.rrep.main.db.a").flatten shouldBe Seq(5)
    rows("SELECT id FROM g.rrep.main.db.b").flatten shouldBe Seq(99)
    // ONE commit, both tables; the spent MoR tombstone retired with the
    // files it applied to; prior state stays time-travelable
    sql("SELECT * FROM g.rrep.main.db.a.history").count() shouldBe
      commitsBefore + 1
    graft.versioned.Tombstones.of(repo.snapshot(
      repo.headCommit("main").tables("db/a"))) shouldBe empty
    val prior = repo.commit(repo.headCommit("main").parents.head).id
    sql(s"SELECT id FROM g.rrep.main.db.a VERSION AS OF '$prior' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    // a commit landing between the caller's read and the replace must
    // CONFLICT: the staged content derives from a superseded snapshot
    // (a retire tombstone here would otherwise be dropped unapplied)
    val baseIds = Map(repo.headCommit("main").tables.toSeq: _*)
    sql("INSERT INTO g.rrep.main.db.a VALUES (6, 'w')") // the racer
    a[MergeConflictException] should be thrownBy
      TableOps.atomicReplace(spark, repo, "main",
        Seq("db/a" -> Seq((7, "q")).toDF("id", "v")),
        expectBase = baseIds)
    // nothing moved: the racer's row is intact
    rows("SELECT id FROM g.rrep.main.db.a ORDER BY id").flatten shouldBe
      Seq(5, 6)

    // CAS races on UNRELATED tables must NOT conflict: commitRetry
    // rebases the replace onto the racing heads and publishes, while
    // the replaced table's expectBase still guards. Concurrent inserts
    // hammer db/b while db/a is replaced.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val base2 = Map(repo.headCommit("main").tables.toSeq: _*)
    val hammer = Future {
      (1 to 6).foreach(i =>
        sql(s"INSERT INTO g.rrep.main.db.b VALUES (${1000 + i})"))
    }
    TableOps.atomicReplace(spark, repo, "main",
      Seq("db/a" -> Seq((8, "r")).toDF("id", "v")),
      expectBase = base2)
    Await.result(hammer, 60.seconds)
    rows("SELECT id FROM g.rrep.main.db.a").flatten shouldBe Seq(8)
    // every racing insert survived the rebase
    sql("SELECT count(*) FROM g.rrep.main.db.b WHERE id > 1000")
      .head().getLong(0) shouldBe 6L
  }

  test("changesBetween: net CDC rows across CoW delete + insert") {
    setupRepo("rcdc1")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcdc1"))
    val pre = repo.headCommit("main").id
    sql("DELETE FROM g.rcdc1.main.db.t WHERE id = 6") // CoW: whole-file rewrite
    sql("INSERT INTO g.rcdc1.main.db.t VALUES (9, 'name_9'), (10, 'name_10')")
    val ch = TableOps.changesBetween(spark, repo, pre, "main", "db/t")
      .collect().map(r => (r.getInt(0), r.getString(2))).sorted
    // the rewrite's 7 surviving rows cancel; only true changes surface
    ch shouldBe Array((6, "delete"), (9, "insert"), (10, "insert"))
    // no changes between identical refs
    TableOps.changesBetween(spark, repo, "main", "main", "db/t")
      .count() shouldBe 0L
  }

  test("changesBetween: merge-on-read tombstone delta on a common file") {
    sql("CREATE NAMESPACE g.rcdc2")
    sql("CREATE NAMESPACE g.rcdc2.main.db")
    sql("CREATE TABLE g.rcdc2.main.db.t (id INT, name STRING) " +
      "TBLPROPERTIES('graft.delete.mode'='merge-on-read')")
    sql("INSERT INTO g.rcdc2.main.db.t VALUES " +
      (1 to 8).map(i => s"($i, 'n$i')").mkString(", "))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcdc2"))
    val pre = repo.headCommit("main").id
    sql("DELETE FROM g.rcdc2.main.db.t WHERE id >= 7") // O(1) tombstone commit
    // zero file adds/removes — yet the visibility change is detected
    val ch = TableOps.changesBetween(spark, repo, pre, "main", "db/t")
      .collect().map(r => (r.getInt(0), r.getString(2))).sorted
    ch shouldBe Array((7, "delete"), (8, "delete"))
  }

  test("changesBetween scans only the files the snapshots disagree on") {
    sql("CREATE NAMESPACE g.rcdc3")
    sql("CREATE NAMESPACE g.rcdc3.main.db")
    sql("CREATE TABLE g.rcdc3.main.db.t (id INT, name STRING)")
    // four append commits → four files with disjoint id ranges
    Seq(1, 11, 21, 31).foreach(base =>
      sql(s"INSERT INTO g.rcdc3.main.db.t VALUES " +
        (base until base + 8).map(i => s"($i, 'n$i')").mkString(", ")))
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcdc3"))
    val pre = repo.headCommit("main").id
    sql("DELETE FROM g.rcdc3.main.db.t WHERE id = 25") // stats-pruned: 1 file
    val ch = TableOps.changesBetween(spark, repo, pre, "main", "db/t")
    ch.collect().map(r => (r.getInt(0), r.getString(2))) shouldBe
      Array((25, "delete"))
    val head = repo.snapshot(repo.headCommit("main").tables("db/t"))
    head.files.size should be >= 4
    // O(delta): one removed + one replacement file read, not the table
    ch.inputFiles.length shouldBe 2
  }

  test("changesBetween refuses to diff across a schema change") {
    setupRepo("rcdc4")
    val repo = GraftRepo.open(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.catalog.g.root"), "rcdc4"))
    val pre = repo.headCommit("main").id
    sql("ALTER TABLE g.rcdc4.main.db.t ADD COLUMN extra INT")
    sql("INSERT INTO g.rcdc4.main.db.t VALUES (99, 'x', 1)")
    an[UnsupportedOperationException] should be thrownBy
      TableOps.changesBetween(spark, repo, pre, "main", "db/t").collect()
  }

  test("catalog reads are native columnar parquet BatchScans (no V1/RDD bridge)") {
    spark.sql("CREATE NAMESPACE g.rcol")
    spark.sql("CREATE NAMESPACE g.rcol.main.db")
    spark.sql("CREATE TABLE g.rcol.main.db.t (id INT, v STRING)")
    spark.sql("INSERT INTO g.rcol.main.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val df = spark.table("g.rcol.main.db.t")
      .filter(org.apache.spark.sql.functions.col("id") > 1)
      .select(org.apache.spark.sql.functions.col("v"))
    df.collect().map(_.getString(0)).sorted shouldBe Array("b", "c")
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    planStr should include("BatchScan")
    planStr should not include "Scan ExistingRDD"
    // the scan node itself must hand Spark columnar batches (vectorized
    // parquet), not externally-converted rows
    plan.collectLeaves().exists(_.supportsColumnar) shouldBe true
  }

  test("RENAME TABLE: metadata-only map re-key — same rows under the new " +
    "name, old name gone from the head but alive in history; collisions " +
    "and cross-branch renames refuse") {
    setupRepo("rrn")
    val before = rows("SELECT id, name FROM g.rrn.main.db.t ORDER BY id")
    val repo = graft.versioned.GraftRepo.open(
      java.nio.file.Paths.get(
        spark.conf.get("spark.sql.catalog.g.root")).resolve("rrn"))
    val preRename = repo.headCommit("main").id
    val filesBefore = repo.snapshot(
      repo.headCommit("main").tables("db/t")).files.map(_.path)
    sql("CREATE NAMESPACE g.rrn.dev") // branch BEFORE the rename

    sql("ALTER TABLE g.rrn.main.db.t RENAME TO rrn.main.db.t2")
    rows("SELECT id, name FROM g.rrn.main.db.t2 ORDER BY id") shouldBe before
    spark.catalog.tableExists("g.rrn.main.db.t") shouldBe false
    // METADATA-ONLY: the renamed table references the exact same files
    repo.snapshot(repo.headCommit("main").tables("db/t2"))
      .files.map(_.path) shouldBe filesBefore
    // history unbroken: the old name resolves at the pre-rename commit
    rows(s"SELECT id, name FROM g.rrn.main.db.t VERSION AS OF '$preRename' " +
      "ORDER BY id") shouldBe before

    // collision refuses
    sql("CREATE TABLE g.rrn.main.db.other (id INT)")
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      sql("ALTER TABLE g.rrn.main.db.t2 RENAME TO rrn.main.db.other")
    }
    // cross-branch refuses (tables are versioned per branch)
    intercept[UnsupportedOperationException] {
      sql("ALTER TABLE g.rrn.main.db.t2 RENAME TO rrn.dev.db.t3")
    }
    // a dev-branch read after all this still sees the ORIGINAL name:
    // dev was branched from a pre-rename main, names are per-commit
    rows("SELECT id, name FROM g.rrn.dev.db.t ORDER BY id") shouldBe before
  }
}
