package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

import graft.versioned.{GraftRepo, IcebergSync, InMemoryGraftIO, InMemoryObjectStore, ObjectStoreGraftIO}
import graft.versioned.IcebergSync.Reg

/** Sync-mode registration storage and lifecycle (IcebergSync.scala):
  * registrations are versioned objects published through the repo's
  * GraftIO seam with the same createExclusive CAS as commits — so they
  * exist on the object-store backends, survive concurrent registers,
  * and migrate from the pre-seam single-file layout. Retention
  * (`keepVersions`) and the multi-table `graft.source-commit` join
  * contract are proven end-to-end through the SQL surface.
  */
class IcebergSyncSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  // ---- registration storage: pure GraftIO, no Spark needed -------------

  private def osRepo(): GraftRepo = GraftRepo.init(
    Paths.get(s"/graft-sync-spec/${java.util.UUID.randomUUID()}"),
    new ObjectStoreGraftIO(new InMemoryObjectStore()))

  test("register/registrations/unregister work on the object-store " +
    "backend (no filesystem at the repo root)") {
    val repo = osRepo()
    java.nio.file.Files.exists(repo.root) shouldBe false
    IcebergSync.registrations(repo) shouldBe empty
    IcebergSync.register(repo, Reg("main", "db/t", "/tmp/d1", 1))
    IcebergSync.register(repo, Reg("main", "db/u", "/tmp/d2", 3, 2))
    IcebergSync.registrations(repo).map(_.table).sorted shouldBe
      Seq("db/t", "db/u")
    // re-register same (ref, table, dest) replaces in place
    IcebergSync.register(repo, Reg("main", "db/t", "/tmp/d1", 5))
    val regs = IcebergSync.registrations(repo)
    regs.size shouldBe 2
    regs.find(_.table == "db/t").get.snapshots shouldBe 5
    regs.find(_.table == "db/u").get.keepVersions shouldBe 2
    IcebergSync.unregister(repo, "main", "db/t") shouldBe 1
    IcebergSync.registrations(repo).map(_.table) shouldBe Seq("db/u")
    IcebergSync.unregister(repo, "main", "db/t") shouldBe 0
  }

  test("8 concurrent registers all land (CAS on the version number, " +
    "no lost update)") {
    val repo = osRepo()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            IcebergSync.register(repo,
              Reg("main", f"db/t$i", s"/tmp/dest-$i", 1))
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdown()
    IcebergSync.registrations(repo).map(_.table).sorted shouldBe
      (0 until 8).map(i => f"db/t$i").sorted
  }

  test("a register that stalls past a prune still lands: its won CAS on " +
    "a pruned version number is re-checked against the newest set") {
    val store = new InMemoryGraftIO
    val root = Paths.get(s"/graft-sync-stall/${java.util.UUID.randomUUID()}")
    val plain = GraftRepo.init(root, store)
    val regDir = root.resolve("iceberg-sync")
    var stalled = false
    // writer A stalls between its read and its first registration
    // publish; meanwhile five registers land through a plain handle, and
    // the last one's prune deletes the version number A then publishes
    val hooked = new HookedGraftIO(store)(p =>
      if (!stalled && p.getParent == regDir) {
        stalled = true
        (0 until 5).foreach(i => IcebergSync.register(plain,
          Reg("main", s"db/o$i", s"/tmp/o$i", 1)))
      })
    IcebergSync.register(GraftRepo.open(root, hooked),
      Reg("main", "db/a", "/tmp/a", 1))
    stalled shouldBe true
    IcebergSync.registrations(plain).map(_.table).sorted shouldBe
      ("db/a" +: (0 until 5).map(i => s"db/o$i")).sorted
  }

  test("a corrupt newest registration version fails loudly with its JSON " +
    "error instead of reading as version churn") {
    val repo = osRepo()
    IcebergSync.register(repo, Reg("main", "db/t", "/tmp/d1", 1))
    repo.io.createExclusive(
      repo.root.resolve("iceberg-sync").resolve("r00000002.json"),
      "{not json") shouldBe true
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      IcebergSync.registrations(repo))
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      IcebergSync.register(repo, Reg("main", "db/u", "/tmp/d2", 1)))
  }

  test("pre-seam iceberg-sync.json reads as the fallback and is " +
    "migrated by the next register") {
    val dir = Files.createTempDirectory("graft-sync-legacy")
    val repo = GraftRepo.init(dir.resolve("repo"))
    val legacy = repo.root.resolve("iceberg-sync.json")
    Files.writeString(legacy,
      """[{"ref":"main","table":"db/t","dest":"/tmp/old","snapshots":2}]""")
    val regs = IcebergSync.registrations(repo)
    regs.map(_.table) shouldBe Seq("db/t")
    regs.head.keepVersions shouldBe 0 // absent in legacy JSON => keep all
    IcebergSync.register(repo, Reg("main", "db/u", "/tmp/new", 1))
    IcebergSync.registrations(repo).map(_.table).sorted shouldBe
      Seq("db/t", "db/u")
    Files.exists(legacy) shouldBe false // superseded by the versioned set
    Files.isDirectory(repo.root.resolve("iceberg-sync")) shouldBe true
  }

  test("superseded registration versions are pruned past the reader " +
    "grace window") {
    val repo = GraftRepo.init(
      Files.createTempDirectory("graft-sync-prune").resolve("repo"))
    (0 until 12).foreach(i =>
      IcebergSync.register(repo, Reg("main", f"db/t$i", s"/d$i", 1)))
    val vs = repo.io.list(repo.root.resolve("iceberg-sync"))
      .map(_.getFileName.toString)
    vs.size should be <= 4
    IcebergSync.registrations(repo).size shouldBe 12
  }

  // ---- end-to-end SQL lifecycle: retention + multi-table join id -------

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.gs", classOf[graft.catalog.GraftCatalog].getName)
    .config("spark.sql.catalog.gs.root",
      Files.createTempDirectory("graft-sync-sql").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sql(q: String) = spark.sql(q)

  private def metaVersions(dest: java.nio.file.Path): Seq[Int] = {
    val Re = """v(\d+)\.metadata\.json""".r
    val metaDir = dest.resolve("metadata")
    if (!Files.isDirectory(metaDir)) Nil
    else scala.util.Using.resource(Files.list(metaDir))(_.iterator().asScala
      .flatMap(_.getFileName.toString match {
        case Re(n) => Some(n.toInt); case _ => None
      }).toList.sorted)
  }

  private def prop(dest: java.nio.file.Path, v: Int, name: String): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.readTree(Files.readString(
      dest.resolve("metadata").resolve(s"v$v.metadata.json")))
      .get("properties").get(name).asText()
  }

  test("sync with keep_versions self-expires: N commits leave exactly K " +
    "metadata versions and zero orphaned manifests") {
    sql("CREATE NAMESPACE gs.ret")
    sql("CREATE NAMESPACE gs.ret.main.db")
    sql("CREATE TABLE gs.ret.main.db.t (id INT, v DOUBLE)")
    sql("INSERT INTO gs.ret.main.db.t SELECT CAST(id AS INT), " +
      "CAST(id AS DOUBLE) FROM range(0, 10)")
    val dest = Files.createTempDirectory("ice-sync-ret")
    sql(s"CALL gs.system.iceberg_export('ret', 'main', 'db.t', '$dest', " +
      "sync => true, keep_versions => 2)")
    (1 to 4).foreach(i => sql("INSERT INTO gs.ret.main.db.t SELECT " +
      s"CAST(id AS INT), CAST(id AS DOUBLE) FROM range(${i * 10}, ${i * 10 + 10})"))
    // 5 emissions total, retention keeps the newest 2
    metaVersions(dest) shouldBe Seq(4, 5)
    // hint follows the newest; import reads the full current state
    Files.readString(dest.resolve("metadata").resolve("version-hint.text"))
      .trim shouldBe "5"
    graft.versioned.IcebergImport.read(spark, dest).count() shouldBe 50
    // the auto-expire age guard SPARES young superseded files (a
    // concurrent emission may be mid-reuse of one — the guard is the
    // race shield, DestIO.touch extends it past 10-min windows), so
    // zero-orphan holds after an explicit QUIESCENT expire, which is
    // when the operator asserts no export is in flight
    sql(s"CALL gs.system.iceberg_export_expire('$dest', 2, " +
      "older_than_ms => 0)")
    metaVersions(dest) shouldBe Seq(4, 5)
    // zero orphaned avros: everything under metadata/ is referenced by a
    // kept version
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val reachable = scala.collection.mutable.Set.empty[String]
    Seq(4, 5).foreach { v =>
      val meta = om.readTree(Files.readString(
        dest.resolve("metadata").resolve(s"v$v.metadata.json")))
      val snaps = meta.get("snapshots")
      (0 until snaps.size()).foreach { i =>
        val lp = Paths.get(java.net.URI.create(
          snaps.get(i).get("manifest-list").asText()))
        reachable += lp.getFileName.toString
        val rd = new org.apache.avro.file.DataFileReader[
          org.apache.avro.generic.GenericRecord](lp.toFile,
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try rd.iterator().asScala.foreach(mf => reachable +=
          Paths.get(java.net.URI.create(
            mf.get("manifest_path").toString)).getFileName.toString)
        finally rd.close()
      }
    }
    scala.util.Using.resource(Files.list(dest.resolve("metadata")))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".avro")).toList)
      .foreach(n => reachable should contain(n))
  }

  test("multi-table commit: every dest's emission carries the SAME " +
    "graft.source-commit, and emissions run in deterministic order") {
    sql("CREATE NAMESPACE gs.mt")
    sql("CREATE NAMESPACE gs.mt.main.db")
    sql("CREATE TABLE gs.mt.main.db.fact (id INT, v DOUBLE)")
    sql("CREATE TABLE gs.mt.main.db.dim (id INT, name STRING)")
    sql("INSERT INTO gs.mt.main.db.fact VALUES (1, 1.0)")
    sql("INSERT INTO gs.mt.main.db.dim VALUES (1, 'a')")
    val dFact = Files.createTempDirectory("ice-sync-fact")
    val dDim = Files.createTempDirectory("ice-sync-dim")
    sql(s"CALL gs.system.iceberg_export('mt', 'main', 'db.fact', '$dFact', " +
      "sync => true)")
    sql(s"CALL gs.system.iceberg_export('mt', 'main', 'db.dim', '$dDim', " +
      "sync => true)")
    // one multi-statement transaction writing BOTH tables => one commit
    val repo = GraftRepo.open(Paths.get(
      spark.conf.get("spark.sql.catalog.gs.root"), "mt"))
    val before = repo.headCommit("main").id
    spark.sql("INSERT INTO gs.mt.main.db.fact VALUES (2, 2.0)")
    // fact advanced alone: its dest moved, dim's did not
    val factV = metaVersions(dFact).max
    prop(dFact, factV, "graft.source-commit") should not be before
    // now drive both tables through ONE commit (the multi-txn funnel)
    graft.versioned.TableOps.atomicAppend(spark, repo, "main", Seq(
      "db/fact" -> spark.sql("SELECT 3 AS id, CAST(3.0 AS DOUBLE) AS v"),
      "db/dim" -> spark.sql("SELECT 3 AS id, 'c' AS name")))
    val cid = repo.headCommit("main").id
    val fv = metaVersions(dFact).max
    val dv = metaVersions(dDim).max
    prop(dFact, fv, "graft.source-commit") shouldBe cid
    prop(dDim, dv, "graft.source-commit") shouldBe cid
  }

  test("consistentVersions: a fact+dim reader resolves ONE commit's view " +
    "across dests — untouched tables resolve to their older emission, a " +
    "lagging follower resolves to None instead of a stale pair") {
    import graft.versioned.IcebergSync
    sql("CREATE NAMESPACE gs.cv")
    sql("CREATE NAMESPACE gs.cv.main.db")
    sql("CREATE TABLE gs.cv.main.db.fact (id INT, v DOUBLE)")
    sql("CREATE TABLE gs.cv.main.db.dim (id INT, name STRING)")
    val dFact = Files.createTempDirectory("ice-cv-fact")
    val dDim = Files.createTempDirectory("ice-cv-dim")
    val repo = GraftRepo.open(Paths.get(
      spark.conf.get("spark.sql.catalog.gs.root"), "cv"))
    // C1: both tables in one commit; both dests emit with source-commit C1
    graft.versioned.TableOps.atomicAppend(spark, repo, "main", Seq(
      "db/fact" -> spark.sql("SELECT 1 AS id, CAST(1.0 AS DOUBLE) AS v"),
      "db/dim" -> spark.sql("SELECT 1 AS id, 'a' AS name")))
    sql(s"CALL gs.system.iceberg_export('cv', 'main', 'db.fact', '$dFact', " +
      "sync => true)")
    sql(s"CALL gs.system.iceberg_export('cv', 'main', 'db.dim', '$dDim', " +
      "sync => true)")
    val c1 = repo.headCommit("main").id

    // C2 touches ONLY fact: fact's dest advances, dim's stays at C1
    sql("INSERT INTO gs.cv.main.db.fact VALUES (2, 2.0)")
    val c2 = repo.headCommit("main").id
    val at2 = IcebergSync.consistentVersions(repo, c2,
      Seq(dFact.toString, dDim.toString))
    at2(dFact.toString).isDefined shouldBe true
    at2(dDim.toString).isDefined shouldBe true
    // the resolved pair IS the C2 view: fact has both rows, dim its one
    graft.versioned.IcebergImport.read(spark,
      at2(dFact.toString).get, None).count() shouldBe 2
    graft.versioned.IcebergImport.read(spark,
      at2(dDim.toString).get, None).count() shouldBe 1

    // the C1 join point still resolves AFTER C2 emitted: fact maps to
    // its OLDER version, not the newest
    val at1 = IcebergSync.consistentVersions(repo, c1,
      Seq(dFact.toString, dDim.toString))
    graft.versioned.IcebergImport.read(spark,
      at1(dFact.toString).get, None).count() shouldBe 1
    at1(dFact.toString) should not be at2(dFact.toString)

    // lagging follower: dim's sync is removed, then C3 writes BOTH
    // tables — dim's dest never receives C3, and the join point says so
    sql("CALL gs.system.iceberg_sync_remove('cv', 'main', 'db.dim')")
    graft.versioned.TableOps.atomicAppend(spark, repo, "main", Seq(
      "db/fact" -> spark.sql("SELECT 3 AS id, CAST(3.0 AS DOUBLE) AS v"),
      "db/dim" -> spark.sql("SELECT 3 AS id, 'c' AS name")))
    val c3 = repo.headCommit("main").id
    // ancestry alone would WRONGLY accept dim's stale C1 emission — the
    // source-snapshot check against the commit's live snapshots rejects it
    val at3 = IcebergSync.consistentVersions(repo, c3,
      Seq(dFact.toString, dDim.toString))
    at3(dFact.toString).isDefined shouldBe true
    graft.versioned.IcebergImport.read(spark,
      at3(dFact.toString).get, None).count() shouldBe 3
    at3(dDim.toString) shouldBe None
  }
}
