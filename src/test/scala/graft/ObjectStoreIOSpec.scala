package graft

import java.nio.file.Paths
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.versioned.{CommitConflictException, GraftRepo, InMemoryObjectStore, ObjectStoreGraftIO}
import graft.versioned.InMemoryObjectStore.Fault

/** The S3-shaped backend ([[ObjectStoreGraftIO]]) supplies the GraftIO
  * contract against a remote-store FAILURE MODEL: transient 500s retry,
  * the ambiguous lost-response conditional PUT resolves correctly (own
  * write vs racing winner), whole-object puts mean no partial
  * visibility. The fault plan is deterministic per test — no sleeps, no
  * flakiness.
  */
class ObjectStoreIOSpec extends AnyFunSuite with Matchers {

  private val schemaJson =
    StructType(Seq(StructField("id", IntegerType))).json

  private def cleanIO() = new ObjectStoreGraftIO(new InMemoryObjectStore())

  test("whole metadata lifecycle runs on the object-store backend; " +
    "the repo root never exists on disk") {
    val io = cleanIO()
    val root = Paths.get("/graft-oss-spec/repo")
    val repo = GraftRepo.init(root, io)
    java.nio.file.Files.exists(root) shouldBe false

    val s1 = repo.writeSnapshot("db/t", schemaJson, Nil)
    repo.commitRetry("main", "add t") { base =>
      (base.tables + ("db/t" -> s1.id), base.namespaces)
    }
    repo.headCommit("main").tables.keySet shouldBe Set("db/t")

    repo.createBranch("dev", "main")
    val s2 = repo.writeSnapshot("db/u", schemaJson, Nil)
    repo.commitRetry("dev", "add u") { base =>
      (base.tables + ("db/u" -> s2.id), base.namespaces)
    }
    val s3 = repo.writeSnapshot("db/v", schemaJson, Nil)
    repo.commitRetry("main", "add v") { base =>
      (base.tables + ("db/v" -> s3.id), base.namespaces)
    }
    repo.merge("dev", "main")
    repo.headCommit("main").tables.keySet shouldBe Set("db/t", "db/u", "db/v")

    repo.createTag("v1", "main")
    repo.resolve("v1").id shouldBe repo.headCommit("main").id
    intercept[CommitConflictException](
      repo.createTag("v1", "main")).getMessage should include("exists")

    repo.createBranch("dev2", "main")
    val s4 = repo.writeSnapshot("db/w", schemaJson, Nil)
    repo.commitRetry("dev2", "add w") { base =>
      (base.tables + ("db/w" -> s4.id), base.namespaces)
    }
    repo.cherryPick("main", repo.headCommit("dev2").id)
    repo.headCommit("main").tables.keySet should contain("db/w")

    repo.rollback("main", "v1")
    repo.headCommit("main").tables.keySet shouldBe Set("db/t", "db/u", "db/v")
    java.nio.file.Files.exists(root) shouldBe false
  }

  test("conditional PUT is atomic under racing committers; full " +
    "commitRetry protocol loses no writer") {
    val io = cleanIO()
    val root = Paths.get("/graft-oss-race/repo")
    val repo = GraftRepo.init(root, io)

    val path = root.resolve("refs/main/v-race")
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val wins = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { latch.await(); io.createExclusive(path, s"c$i") }
      })
    }
    latch.countDown()
    wins.count(_.get(5, TimeUnit.SECONDS)) shouldBe 1
    pool.shutdown()

    val pool2 = Executors.newFixedThreadPool(8)
    val done = (0 until 8).map { i =>
      pool2.submit(new Runnable {
        def run(): Unit = {
          val s = repo.writeSnapshot(s"db/t$i", schemaJson, Nil)
          repo.commitRetry("main", s"add t$i") { base =>
            (base.tables + (s"db/t$i" -> s.id), base.namespaces)
          }
        }
      })
    }
    done.foreach(_.get(30, TimeUnit.SECONDS))
    pool2.shutdown()
    repo.headCommit("main").tables.keySet shouldBe
      (0 until 8).map(i => s"db/t$i").toSet
  }

  test("transient 500s before the put applies: createExclusive retries " +
    "to success and publishes the full content exactly once") {
    val key = "/r/refs/main/v1"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "put" && k == key && attempt <= 2) Fault.FailBefore
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    io.createExclusive(Paths.get(key), "commit-a") shouldBe true
    store.requestCount("put", key) shouldBe 3 // two 500s + the success
    io.readString(Paths.get(key)) shouldBe "commit-a"
  }

  test("ambiguous lost response: the put LANDED but the client saw a " +
    "timeout — the retry's 412 resolves to success via the read-back " +
    "probe, and a later competitor still loses") {
    val key = "/r/refs/main/v2"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "put" && k == key && attempt == 1) Fault.FailAfterApply
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    io.createExclusive(Paths.get(key), "commit-b") shouldBe true // own object
    store.requestCount("put", key) shouldBe 2 // ambiguous + 412'd retry
    io.readString(Paths.get(key)) shouldBe "commit-b"
    // the slot is taken: a competitor's clean attempt returns false
    io.createExclusive(Paths.get(key), "commit-c") shouldBe false
    io.readString(Paths.get(key)) shouldBe "commit-b"
  }

  test("ambiguous failure racing a real winner: the probe sees FOREIGN " +
    "bytes and correctly reports loss") {
    val key = "/r/refs/main/v3"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      // attempts count globally per (op,key): #1 is the winner's clean
      // publish; #2 is the loser's first try, which dies BEFORE applying
      if (op == "put" && k == key && attempt == 2) Fault.FailBefore
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    val winner = new ObjectStoreGraftIO(store)
    // winner publishes first; the loser's attempt 1 then 500s (nothing
    // applied), marking it ambiguous, and its retry hits a genuine
    // foreign 412 — the probe must NOT claim it
    winner.createExclusive(Paths.get(key), "winner") shouldBe true
    io.createExclusive(Paths.get(key), "loser") shouldBe false
    io.readString(Paths.get(key)) shouldBe "winner"
  }

  test("transient faults exhaust bounded attempts -> IOException; " +
    "reads/deletes retry transparently") {
    val key = "/r/refs/main/v4"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "put" && k == key) Fault.FailBefore else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    intercept[java.io.IOException](
      io.createExclusive(Paths.get(key), "x"))
    store.requestCount("put", key) shouldBe 5

    // reads retry past transient 500s
    val key2 = "/r/refs/main/v5"
    val store2 = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "get" && k == key2 && attempt == 1) Fault.FailBefore
      else Fault.None)
    val io2 = new ObjectStoreGraftIO(store2)
    io2.createExclusive(Paths.get(key2), "y") shouldBe true
    io2.readString(Paths.get(key2)) shouldBe "y"
    store2.requestCount("get", key2) shouldBe 2
  }

  test("LIST retries past transient 500s like get/put — list-backed ops " +
    "(list, walk, isDirectory, deleteIfExists) survive a flaky listing") {
    val store = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "list" && attempt % 2 == 1) Fault.FailBefore // every 1st
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    io.createExclusive(Paths.get("/r/d/a"), "1") shouldBe true
    io.createExclusive(Paths.get("/r/d/b"), "2") shouldBe true
    io.list(Paths.get("/r/d")).map(_.getFileName.toString) shouldBe
      Seq("a", "b")
    io.isDirectory(Paths.get("/r/d")) shouldBe true
    io.walk(Paths.get("/r/d")).map(_.toString) should contain ("/r/d/a")
    store.requestCount("list", "/r/d/") should be >= 2
  }

  test("move survives the ambiguous lost-response conditional PUT: the " +
    "copy LANDED, the retry's 412 resolves via the byte probe, and the " +
    "source is deleted — no duplicate object, no spurious failure") {
    val dst = "/r/mv/dst"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      if (op == "put" && k == dst && attempt == 1) Fault.FailAfterApply
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    io.createExclusive(Paths.get("/r/mv/src"), "payload") shouldBe true
    io.move(Paths.get("/r/mv/src"), Paths.get(dst))
    io.readString(Paths.get(dst)) shouldBe "payload"
    io.isFile(Paths.get("/r/mv/src")) shouldBe false // source gone
    store.requestCount("put", dst) shouldBe 2 // ambiguous + probed 412
  }

  test("move to a key a FOREIGN writer owns still fails and leaves the " +
    "source intact (the probe only claims byte-identical objects)") {
    val dst = "/r/mv2/dst"
    val store = new InMemoryObjectStore((op, k, attempt) =>
      // foreign object lands via attempt 1; mover's attempt 2 dies
      // before applying (ambiguous), its retry hits the foreign 412
      if (op == "put" && k == dst && attempt == 2) Fault.FailBefore
      else Fault.None)
    val io = new ObjectStoreGraftIO(store)
    io.createExclusive(Paths.get(dst), "foreign") shouldBe true
    io.createExclusive(Paths.get("/r/mv2/src"), "mine") shouldBe true
    intercept[java.nio.file.FileAlreadyExistsException](
      io.move(Paths.get("/r/mv2/src"), Paths.get(dst)))
    io.readString(Paths.get(dst)) shouldBe "foreign"
    io.readString(Paths.get("/r/mv2/src")) shouldBe "mine" // not deleted
  }
}
