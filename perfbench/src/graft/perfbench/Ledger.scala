package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.LedgerBridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graft.versioned.{GraftIO, GraftRepo, Manifests, Trees}

/** Process-wide GraftIO counters, bumped by every [[CountingGraftIO]]. */
object IoCounters {
  val ops, busyNs, readBytes, writeBytes, listCalls, listedEntries,
    statCalls, createExclusive, casAttempts, casLost = new LongAdder

  def snapshot: Map[String, Long] = Map(
    "ops" -> ops.sum, "busy_ns" -> busyNs.sum,
    "read_bytes" -> readBytes.sum, "write_bytes" -> writeBytes.sum,
    "list_calls" -> listCalls.sum, "listed_entries" -> listedEntries.sum,
    "stat_calls" -> statCalls.sum, "create_exclusive" -> createExclusive.sum,
    "cas_attempts" -> casAttempts.sum, "cas_lost" -> casLost.sum)
}

/** Counting decorator over any [[GraftIO]]: every trait method is counted
  * by kind, with bytes moved and busy time. A `createExclusive` under a
  * repo's `refs/` directory is a ref CAS; its `false` return is a lost
  * race.
  */
final class CountingGraftIO(val inner: GraftIO) extends GraftIO {
  import IoCounters.{busyNs, casAttempts, casLost, listCalls, listedEntries, ops, statCalls, writeBytes}
  private val reads = IoCounters.readBytes
  private val exclusive = IoCounters.createExclusive

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally { ops.increment(); busyNs.add(System.nanoTime() - t0) }
  }
  private def stat[A](f: => A): A = { statCalls.increment(); timed(f) }
  private def isRef(p: Path): Boolean =
    Option(p.getParent).flatMap(d => Option(d.getParent))
      .exists(_.getFileName.toString == "refs")

  override def createExclusive(path: Path, content: String): Boolean = {
    exclusive.increment()
    writeBytes.add(content.getBytes("UTF-8").length.toLong)
    val won = timed(inner.createExclusive(path, content))
    if (isRef(path)) { casAttempts.increment(); if (!won) casLost.increment() }
    won
  }
  override def overwrite(path: Path, content: Array[Byte]): Unit = {
    writeBytes.add(content.length.toLong)
    timed(inner.overwrite(path, content))
  }
  override def readString(path: Path): String = {
    val s = timed(inner.readString(path))
    reads.add(s.getBytes("UTF-8").length.toLong)
    s
  }
  override def readBytes(path: Path): Array[Byte] = {
    val b = timed(inner.readBytes(path))
    reads.add(b.length.toLong)
    b
  }
  override def list(path: Path): Seq[Path] = {
    listCalls.increment()
    val r = timed(inner.list(path))
    listedEntries.add(r.size.toLong)
    r
  }
  override def walk(path: Path): Seq[Path] = {
    listCalls.increment()
    val r = timed(inner.walk(path))
    listedEntries.add(r.size.toLong)
    r
  }
  override def isDirectory(path: Path): Boolean = stat(inner.isDirectory(path))
  override def isFile(path: Path): Boolean = stat(inner.isFile(path))
  override def size(path: Path): Long = stat(inner.size(path))
  override def mtimeMs(path: Path): Long = stat(inner.mtimeMs(path))
  override def mkdirs(path: Path): Unit = timed(inner.mkdirs(path))
  override def delete(path: Path): Unit = timed(inner.delete(path))
  override def deleteIfExists(path: Path): Boolean = timed(inner.deleteIfExists(path))
  override def touch(path: Path): Unit = timed(inner.touch(path))
  override def move(path: Path, to: Path): Unit = timed(inner.move(path, to))
}

/** GraftCatalog whose repos all go through a [[CountingGraftIO]] over the
  * backend the catalog options selected. Registered only for traced runs.
  */
class CountingCatalog extends GraftCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    io = new CountingGraftIO(io)
  }
}

/** Spark side of the ledger: one SparkListener for jobs, stages, tasks and
  * SQL executions. Everything is attributed to the job group of the thread
  * that caused it: an op sets its own group, and threads it spawns inherit
  * it, so a multi-table commit's staging pool is counted with its op. A
  * query execution is booked when it ends: its start event gave its group,
  * and the end event carries its `QueryExecution`, whose tracker holds the
  * Catalyst phases.
  */
final class SparkLedger extends SparkListener {
  import SparkLedger.Group

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  private def group(g: String): Group = groups.computeIfAbsent(g, _ => new Group)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    val t = group(g)
    t.synchronized(t.jobs(e.jobId) = (e.time, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val t = group(g)
      t.synchronized(t.jobs.get(e.jobId).foreach { case (s, _) => t.jobs(e.jobId) = (s, e.time) })
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = group(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    t.synchronized(t.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = group(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
    case s: SparkListenerSQLExecutionEnd =>
      val t = group(Option(execGroup.remove(s.executionId)).getOrElse("?"))
      val phases = LedgerBridge.queryExecution(s).map(_.tracker.phases).getOrElse(Map.empty)
      t.synchronized {
        t.executions += 1
        phases.foreach { case (k, v) =>
          t.phaseMs(k) = t.phaseMs.getOrElse(k, 0L) + v.durationMs
          t.phaseIntervals += ((v.startTimeMs, v.endTimeMs))
        }
      }
    case _ => ()
  }

  /** Groups satisfying `p`, by name (read after draining the bus). */
  def groupsWhere(p: String => Boolean): Map[String, Group] =
    groups.asScala.filter { case (g, _) => p(g) }.toMap
}

object SparkLedger {
  /** Everything one job group caused. */
  final class Group {
    val jobs = mutable.Map.empty[Int, (Long, Long)]
    var stages, tasks, runMs, cpuNs, gcMs, inputBytes, shuffleRead,
      shuffleWrite, peakMem, executions = 0L
    val phaseMs = mutable.Map.empty[String, Long]
    val phaseIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Length of the union of `[start, end]` intervals (ms), not their sum:
    * jobs of one op may run concurrently. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Named step timers (spans) around the harness's calls into each layer,
  * and named counters: each name keeps (sum, number of adds). */
final class Spans {
  private val sums = mutable.LinkedHashMap.empty[String, (Long, Int)]
  def add(name: String, v: Long): Unit = synchronized {
    val (s, n) = sums.getOrElse(name, (0L, 0))
    sums(name) = (s + v, n + 1)
  }
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally add(name, System.nanoTime() - t0)
  }
  def snapshot: Map[String, (Long, Int)] = synchronized(sums.toMap)
}

object Spans {
  /** `b - a`, per name. */
  def diff(b: Map[String, (Long, Int)], a: Map[String, (Long, Int)]): Map[String, (Long, Int)] =
    b.map { case (k, (s, n)) =>
      val (s0, n0) = a.getOrElse(k, (0L, 0))
      k -> (s - s0, n - n0)
    }
}

/** Counters the program already keeps, plus JVM GC time. */
object ProgramCounters {
  def snapshot: Map[String, Long] = Map(
    "commit_reads" -> GraftRepo.commitReadCount,
    "manifest_chunk_reads" -> Manifests.chunkReadCount,
    "tree_chunk_reads" -> Trees.chunkReadCount,
    "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum)
}
