package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.versioned.{FileEntry, GraftIO, GraftRepo, LocalGraftIO}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  final case class Tail(value: Double, pct: Double, beyond: Int)

  /** The highest percentile with at least ten samples beyond it, but never
    * below the median: with fewer than 22 samples it is the middle sample
    * (the upper one of the two when n is even). */
  def tail(sorted: Seq[Double]): Tail = {
    val n = sorted.size
    if (n == 0) Tail(0.0, 0.0, 0)
    else {
      val i = math.max(n - 11, n / 2)
      Tail(sorted(i), 100.0 * (i + 1) / n, n - 1 - i)
    }
  }
}

/** Host and configuration, recorded in every result. */
object Host {
  def describe(spark: SparkSession, work: Path, rev: String): Map[String, Any] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    def fsType(p: Path): String =
      try Files.getFileStore(p).`type`() catch { case _: Throwable => "unknown" }
    val load = try Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case _: Throwable => "unknown" }
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "xmx" -> jvmArgs.filter(_.startsWith("-Xmx")).mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "source_rev" -> rev,
      // the repo roots live under the run's scratch directory
      "scratch_and_repo_roots_fs" -> fsType(work),
      "scratch_and_repo_roots_on_tmpfs" -> (fsType(work) == "tmpfs"),
      "loadavg_at_end" -> load,
      "flush_policy" -> ("no fsync: LocalGraftIO and Spark's parquet writer leave " +
        "durability to the OS page cache; nothing is flushed or dropped between runs"))
  }
}

/** Whole-host CPU time the hypervisor gave to other guests (steal), as a
  * share of all CPU time since `since`: a marker for a contended host. */
object Steal {
  private def ticks(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Throwable => None }

  final class Mark private[Steal] (start: Option[(Long, Long)]) {
    def share: Double = (start, ticks()) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }
  }
  def mark(): Mark = new Mark(ticks())
}

/** Differential check of the counting decorator: the same small
  * init → commit → branch → commit → merge lifecycle through
  * [[CountingGraftIO]] and through plain [[LocalGraftIO]] must leave the
  * same head table map (table → data files) and the same object count. */
object SelfCheck {
  private val schemaJson = StructType(Seq(StructField("id", LongType))).json

  private def lifecycle(root: Path, io: GraftIO): (Map[String, Seq[String]], Long) = {
    val repo = GraftRepo.init(root, io)
    def put(branch: String, table: String, files: Int): Unit = {
      val s = repo.writeSnapshot(table, schemaJson,
        (0 until files).map(i => FileEntry(s"data/$table/f$i.parquet", 10L, Map.empty, Map.empty)))
      repo.commitRetry(branch, s"write $table") { b => (b.tables + (table -> s.id), b.namespaces) }
    }
    put("main", "db/a", 3)
    repo.createBranch("dev", "main")
    put("dev", "db/b", 300) // past the inline limit: manifest chunks
    put("main", "db/c", 2)
    repo.merge("dev", "main")
    val head = repo.headCommit("main").tables.map { case (k, sid) =>
      k -> repo.snapshot(sid).files.map(_.path).sorted
    }
    val objects = Files.walk(root).iterator().asScala.count(Files.isRegularFile(_)).toLong
    (head, objects)
  }

  def run(dir: Path): Seq[String] = {
    val before = IoCounters.ops.sum
    val counted = lifecycle(dir.resolve("counted"), new CountingGraftIO(LocalGraftIO.instance))
    val calls = IoCounters.ops.sum - before
    val plain = lifecycle(dir.resolve("plain"), LocalGraftIO.instance)
    Workload.deleteTree(dir)
    Seq(
      if (counted._1 != plain._1) Some("self-check: head table maps differ") else None,
      if (counted._2 != plain._2) Some(s"self-check: ${counted._2} objects vs ${plain._2}") else None,
      if (calls <= 0) Some("self-check: the decorator counted no calls") else None).flatten
  }
}
