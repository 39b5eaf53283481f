package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.versioned.{FileEntry, GraftRepo, Manifests, PartitionField, TableOps, Trees}

/** Metadata-only planning and commit on one table of 250,000 synthetic
  * file entries in 128 identity partitions (about two manifest chunks
  * each) — twice the `Manifests` cache, which this workload caps at
  * 125,000 entries. One client, no SQL: four partition-pruned plans of a
  * seeded partition to one 100-file append commit. */
final class MetaScale(env: Env) extends Workload {
  val clients = 1
  val tracedOps = 250
  val warmupOps = 20
  // a set-up takes a fraction of a second, and the JIT takes about ten to
  // settle on it
  val warmSetups = 10
  override val countedSetups = 5
  val Files = 250000
  val Parts = 128
  val AppendFiles = 100
  // the table-to-cache ratio of a 2M-file table under the default 1M cap,
  // at an eighth of the heap
  System.setProperty("graft.manifest.cache.entries", (Files / 2).toString)
  private val key = "db/t"

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("cat", StringType)))
  private val spec = Some(Seq(PartitionField("cat", "identity", "cat")))
  private val partValues = Array.tabulate(Parts)(p => Some(Map("cat" -> s"c$p")))
  private val perPart = Files / Parts + 1

  private def entry(path: String, p: Int): FileEntry =
    FileEntry(path, rows = 100L, min = Map.empty, max = Map.empty,
      partitionValues = partValues(p), bytes = Some(1L << 20), seq = Some(1L))

  private def name(prefix: String, i: Int): String = {
    val d = i.toString
    s"data/$prefix${"0" * (7 - d.length)}$d.parquet"
  }

  // files are clustered by partition, as a partitioned writer lays them out
  private def baseEntry(i: Int): FileEntry = entry(name("f", i), i / perPart)
  // built once, before the timed set-ups, and dropped when they are done
  private var base: Vector[FileEntry] = Vector.tabulate(Files)(baseEntry)
  // model: partition p holds base files [p * perPart, (p + 1) * perPart)
  // plus what the appends added to it
  private var added: Array[mutable.ArrayBuffer[String]] = Array.empty
  // every entry appended so far, in order
  private val appended = mutable.ArrayBuffer.empty[FileEntry]

  private var root: Path = _
  private var repo: GraftRepo = _
  private var total = 0L

  def repoRoot: Path = root

  private def partOf(f: FileEntry): Int = f.partitionValues.get.apply("cat").drop(1).toInt

  def setup(dir: Path, rep: Int): Unit = {
    root = dir.resolve("repo")
    repo = GraftRepo.init(root, env.io)
    val s = repo.writeSnapshot(key, schema.json, base, spec)
    repo.commitRetry("main", "create db/t") { b => (b.tables + (key -> s.id), b.namespaces) }
    added = Array.fill(Parts)(mutable.ArrayBuffer.empty[String])
    appended.clear()
    total = Files
  }

  override def release(): Unit = {
    repo = null
    added = Array.empty
    appended.clear()
  }

  private def model(p: Int): Seq[String] =
    (p * perPart until math.min(Files, (p + 1) * perPart)).map(name("f", _)) ++ added(p)

  /** Brute-force filter of entries into per-partition path lists. */
  private def byPartition(entries: Iterator[FileEntry]): Array[mutable.ArrayBuffer[String]] = {
    val out = Array.fill(Parts)(mutable.ArrayBuffer.empty[String])
    entries.foreach(f => out(partOf(f)) += f.path)
    out
  }

  /** Starts every run from the same cache state: cleared, then filled in
    * chunk order with the table's last chunks, as many as the cache holds —
    * the state one in-order pass over the whole table leaves. */
  override def warm(): Unit = {
    base = null // the set-ups are done; the final check regenerates the entries
    Manifests.clearCache()
    Trees.clearCache()
    val refs = repo.snapshot(repo.headCommit("main").tables(key)).manifestRefs
    val cap = java.lang.Long.getLong("graft.manifest.cache.entries", 1000000L)
    val fit = refs.reverseIterator.scanLeft(0L)(_ + _.count).takeWhile(_ <= cap).size - 1
    refs.takeRight(fit).foreach(Manifests.load(root, repo.io, _))
  }

  def op(client: Int, n: Int): () => Option[String] = {
    val rng = env.rng(5000L + n)
    val p = rng.nextInt(Parts)
    if (n % 5 == 4) {
      val delta = (0 until AppendFiles).map(j => entry(name("a", n * AppendFiles + j), p))
      env.spans.time("append") {
        val snap = repo.snapshot(repo.headCommit("main").tables(key))
        val s = repo.writeSnapshot(key, schema.json, Manifests.appended(snap.files, delta), spec)
        repo.commitRetry("main", s"append $n") { b => (b.tables + (key -> s.id), b.namespaces) }
      }
      () => {
        added(p) ++= delta.map(_.path)
        appended ++= delta
        total += AppendFiles
        None
      }
    } else {
      val (hits, of) = env.spans.time("plan") {
        val snap = repo.snapshot(repo.headCommit("main").tables(key))
        (TableOps.pruneFiles(snap, schema, Seq(sources.EqualTo("cat", s"c$p"))), snap.files.size)
      }
      () => {
        env.spans.add("planned_files", hits.size)
        env.spans.add("table_files", of)
        val got = hits.map(_.path).sorted
        val want = model(p).sorted
        if (of != total) Some(s"table lists $of files, model $total")
        else if (got == want) None
        else Some(s"partition c$p planned ${got.size} files, model ${want.size}")
      }
    }
  }

  def finalCheck(): Seq[String] = {
    val listed = repo.snapshot(repo.headCommit("main").tables(key)).files.size
    val errs = mutable.ArrayBuffer.empty[String]
    if (listed != total) errs += s"table lists $listed files, model $total"
    // the per-partition model the plans were checked against, against a
    // brute-force filter of all the model's entries
    val brute = byPartition(Iterator.tabulate(Files)(baseEntry) ++ appended)
    (0 until Parts).foreach { p =>
      if (brute(p) != model(p)) errs += s"partition c$p: brute force ${brute(p).size}, model ${model(p).size}"
    }
    errs.toSeq
  }

  def describe: Map[String, Any] = Map(
    "clients" -> clients, "files" -> total, "partitions" -> Parts,
    "manifest_chunks" -> repo.snapshot(repo.headCommit("main").tables(key)).manifestRefs.size,
    "manifest_cache_entries" -> java.lang.Long.getLong("graft.manifest.cache.entries", 1000000L),
    "mix" -> s"4 pruned plans : 1 append of $AppendFiles files, each of a uniformly drawn partition")

  def layerMetrics(spans: Map[String, (Long, Int)]): Map[String, Double] = Map(
    "manifests.plan_ms" -> Workload.meanMs(spans, "plan"),
    "manifests.append_ms" -> Workload.meanMs(spans, "append"),
    "manifests.files_planned_ratio" -> Workload.ratio(spans, "planned_files", "table_files"))
}
