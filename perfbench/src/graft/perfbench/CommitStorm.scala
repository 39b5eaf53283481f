package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}

import graft.versioned.{GraftRepo, Manifests, TableOps}

/** One writer thread per core, each committing 2–10-row INSERTs into its
  * own table on one shared branch. Every table starts past the inline
  * file-list limit, so each commit also appends to a segmented manifest. */
final class CommitStorm(env: Env) extends Workload {
  val clients: Int = Runtime.getRuntime.availableProcessors()
  val tracedOps = 0 // several clients: the ledger covers the whole run
  val warmupOps = 8
  val warmSetups = 1

  private val SeedBase = 1000000000000L
  private def seedFiles = Manifests.inlineMax + 4
  private var cat = ""
  private var root: Path = _
  private var repo: GraftRepo = _
  private var setupVersion = 0
  // model: acknowledged ids per table, in commit order
  private val acked = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  def repoRoot: Path = root.resolve("r")

  def setup(dir: Path, rep: Int): Unit = {
    cat = s"g$rep"
    root = dir.resolve("warehouse")
    env.registerCatalog(cat, root)
    env.sql(s"CREATE NAMESPACE $cat.r")
    env.sql(s"CREATE NAMESPACE $cat.r.main.db")
    env.sql(s"CREATE TABLE $cat.r.main.db.t0 (id BIGINT, client INT, v BIGINT)")
    repo = GraftRepo.open(repoRoot, env.io)
    // t0 is seeded by one write job whose tasks roll over to a new file
    // every 4 rows; the other tables start as zero-copy clones of its
    // snapshot (one commit), the way a branch shares snapshots
    env.spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try {
      val df = env.spark.range(0, seedFiles * 4L, 1, clients)
        .select((col("id") + SeedBase).as("id"), lit(0).as("client"), col("id").as("v"))
      TableOps.commitAppend(repo, "main", "db/t0", TableOps.writeFiles(env.spark, repo, df, "db/t0"),
        overwrite = false, Nil, Map.empty, df.schema.json)
    } finally env.spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    repo.commitRetry("main", "clone t0") { b =>
      (b.tables ++ (1 until clients).map(c => s"db/t$c" -> b.tables("db/t0")), b.namespaces)
    }
    val head = repo.headCommit("main")
    (0 until clients).foreach { c =>
      val n = repo.snapshot(head.tables(s"db/t$c")).files.size
      require(n > Manifests.inlineMax, s"t$c seeded with $n files, need > ${Manifests.inlineMax}")
    }
    setupVersion = repo.head("main")._1
    acked.clear()
    (0 until clients).foreach(acked.put(_, mutable.ArrayBuffer.empty))
  }

  def op(client: Int, n: Int): () => Option[String] = {
    val rng = env.rng(client * 1000003L + n)
    val rows = 2 + rng.nextInt(9)
    val ids = (0 until rows).map(j => client * 100000000L + n * 16L + j)
    val values = ids.map(id => s"($id, $client, ${rng.nextInt(1000000)})").mkString(", ")
    env.spans.time("insert")(env.sql(s"INSERT INTO $cat.r.main.db.t$client VALUES $values"))
    acked.get(client) ++= ids
    () => None
  }

  def finalCheck(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val head = repo.headCommit("main")
    var commits = 0
    // one read of every table; the seed files' min/max stats prune them
    val ids = env.rows((0 until clients).map(c =>
      s"SELECT $c AS c, id FROM $cat.r.main.db.t$c WHERE id < $SeedBase").mkString(" UNION ALL "))
      .groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).toSeq }
    (0 until clients).foreach { c =>
      val got = ids.getOrElse(c, Nil)
      val want = acked.get(c)
      if (got.size != got.distinct.size) errs += s"t$c holds duplicate ids"
      if (got.sorted != want.sorted) errs += s"t$c: ${got.size} rows, model ${want.size}"
      val listed = repo.snapshot(head.tables(s"db/t$c")).files.map(_.rows).sum
      if (listed != seedFiles * 4L + want.size)
        errs += s"t$c file list holds $listed rows, model ${seedFiles * 4L + want.size}"
      commits += want.map(id => (id - c * 100000000L) / 16).distinct.size
    }
    val v = repo.head("main")._1
    if (v != setupVersion + commits)
      errs += s"head version $v != $setupVersion + $commits acknowledged commits"
    errs.toSeq
  }

  def describe: Map[String, Any] = Map(
    "clients" -> clients, "tables" -> clients, "seed_files_per_table" -> seedFiles,
    "acked_rows" -> acked.values.asScala.map(_.size).sum)

  def layerMetrics(spans: Map[String, (Long, Int)]): Map[String, Double] =
    Map("catalog.insert_ms" -> Workload.meanMs(spans, "insert"))
}
