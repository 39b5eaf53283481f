package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.perfbench.LedgerBridge
import org.apache.spark.sql.SparkSession

import graft.versioned.{Manifests, Trees}

/** Benchmark entry point: one workload, one seed, one timed closed loop.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result json> [--rev <source id>]
  * }}}
  *
  * Untraced runs report the end-to-end metrics; traced runs install the
  * ledger (counting GraftIO, a Spark listener) and report the per-layer
  * metrics plus the traced end-to-end figures. The result, with a report
  * of the host and configuration, is written as JSON to `--out`.
  */
object Main {
  val SparkThreads = 2

  final case class Sample(client: Int, n: Int, ns: Long, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val out = Paths.get(arg("out"))
    Files.createDirectories(work)

    // two Spark threads, fewer than the host's cores, so that the JIT, GC and
    // listener threads do not queue behind the tasks
    val cpus = math.min(SparkThreads, Runtime.getRuntime.availableProcessors())
    val tStart = System.nanoTime()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var tMark = tStart
    def mark(phase: String): Unit = {
      val now = System.nanoTime()
      phases(phase) = (now - tMark) / 1e9
      tMark = now
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark("session")

    val ledger = if (trace) Some(new SparkLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val errors = mutable.ArrayBuffer.empty[String]
    if (trace) errors ++= SelfCheck.run(work.resolve("selfcheck"))

    val env = new Env(spark, seed, trace)
    val w = Workload(workload, env)
    val sc = spark.sparkContext

    // ---- set-up, repeated; the last fixture is kept ----------------------
    val setupTimes = (0 until w.warmSetups + w.countedSetups).map { rep =>
      val dir = work.resolve(s"fixture-$rep")
      sc.setJobGroup(s"setup-$rep", "set-up", false)
      // every set-up starts from empty program caches, and the previous
      // fixture's garbage is not this set-up's cost
      w.release()
      Manifests.clearCache()
      Trees.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      w.setup(dir, rep)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 0) Workload.deleteTree(work.resolve(s"fixture-${rep - 1}"))
      s
    }
    sc.setJobGroup("warmup", "warm-up", false)
    w.warm()
    mark("setup")
    // warm-up ops are numbered apart from the measured ones
    val warmErrors = (0 until w.warmupOps).flatMap { i =>
      try w.op(0, 1000000 + i)() catch { case e: Throwable => Some(s"threw $e") }
    }
    errors ++= warmErrors.map("warm-up op: " + _)
    sc.clearJobGroup()
    mark("warmup")

    // ---- measured closed loop -------------------------------------------
    val repoBytes0 = Workload.treeBytes(w.repoRoot)
    LedgerBridge.drain(sc)
    val window = new Window(ledger, env)
    val steal = Steal.mark()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val effective = new Array[Double](w.clients)
    val single = w.clients == 1 && trace
    def client(c: Int): Unit = {
      val t0 = System.nanoTime()
      var verifyNs = 0L
      var n = 0
      // a traced 1-client run always completes the ops its ledger covers
      while (System.nanoTime() - t0 - verifyNs < seconds * 1000000000L ||
          (single && n < w.tracedOps)) {
        sc.setJobGroup(s"op-$c-$n", "measured op", false)
        val s = System.nanoTime()
        val check = try Right(w.op(c, n)) catch { case e: Throwable => Left(e) }
        val took = System.nanoTime() - s
        sc.clearJobGroup()
        env.spans.add("op", took)
        val v0 = System.nanoTime()
        val err = check match {
          case Right(f) => try f() catch { case e: Throwable => Some(s"check threw $e") }
          case Left(e) => Some(s"op threw ${e.toString.take(500)}")
        }
        verifyNs += System.nanoTime() - v0
        samples.add(Sample(c, n, took, err))
        n += 1
        if (single && n == w.tracedOps) window.close(n)
      }
      effective(c) = (System.nanoTime() - t0 - verifyNs) / 1e9
    }
    val threads = (0 until w.clients).map(c => new Thread(() => client(c), s"client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = samples.asScala.toSeq
    if (!window.closed) window.close(all.size)
    val stealShare = steal.share
    val repoBytes1 = Workload.treeBytes(w.repoRoot)
    mark("measure")

    // ---- correctness and end-state --------------------------------------
    sc.setJobGroup("check", "final check", false)
    val finalErrors = try w.finalCheck() catch { case e: Throwable => Seq(s"final check threw $e") }
    errors ++= finalErrors
    val opErrors = all.flatMap(s => s.error.map(e => s"op ${s.client}-${s.n}: $e"))
    val failed = all.count(_.error.nonEmpty)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    mark("check")

    val lat = all.filter(_.error.isEmpty).map(_.ns / 1e6).sorted
    val tail = Stats.tail(lat)
    val e2e = Seq(
      ("setup_s", Stats.median(setupTimes.drop(w.warmSetups)), "s"),
      ("lat_p50_ms", Stats.median(lat), "ms"),
      ("lat_tail_ms", tail.value, "ms"),
      ("ops_per_s", all.size / effective.max, "1/s"))
    // reported, not gated: on commit_storm both follow where the manifest
    // chunk cut points fall among randomly named data files
    val repoBytesPerOp = (repoBytes1 - repoBytes0).toDouble / math.max(1, all.size)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> Host.describe(spark, work, args.getOrElse("rev", "unknown")),
      "fixture" -> w.describe,
      "setup_runs_s" -> setupTimes, "phase_s" -> phases,
      "ops" -> all.size, "failed_ops" -> failed,
      "error_rate" -> failed.toDouble / math.max(1, all.size),
      "repo_bytes_per_op" -> repoBytesPerOp,
      "retained_heap_mb" -> heapMb,
      "host_steal_share_while_measuring" -> stealShare,
      "first_op_latencies_ms" ->
        all.filter(_.client == 0).sortBy(_.n).take(40).map(s => math.round(s.ns / 1e5) / 10.0),
      "lat_tail" -> Map("percentile" -> tail.pct, "n" -> lat.size, "beyond" -> tail.beyond),
      "end_to_end" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "errors" -> (errors ++ opErrors).take(20).toSeq)
    val opWall = all.map(s => s"op-${s.client}-${s.n}" -> s.ns / 1e6).toMap
    val layers = if (trace) window.metrics(w, opWall) else Nil
    if (trace) report += ("unattributed_executions" -> window.unattributed)
    if (trace) report += ("per_layer" -> layers.map { case (k, v, u, base) =>
      k -> Map("value" -> v, "unit" -> u, "base" -> base) }.toMap)
    val metrics = (if (trace) layers.map(l => (l._1, l._2, l._3)) else e2e)
      .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val ok = errors.isEmpty && failed == 0 && all.nonEmpty
    val result = Map("correct" -> ok, "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics, "report" -> report.toMap)
    Files.writeString(out, graft.versioned.Json.write(result))
    spark.stop()
  }
}

/** Ledger totals over the measured window: from the start of the loop to
  * the end of op `tracedOps` (1-client traced runs) or of the run. */
final class Window(ledger: Option[SparkLedger], env: Env) {
  private val io0 = IoCounters.snapshot
  private val prog0 = ProgramCounters.snapshot
  private val spans0 = env.spans.snapshot
  @volatile var closed = false
  private var ops = 0
  private var io1, prog1 = Map.empty[String, Long]
  private var spans1 = Map.empty[String, (Long, Int)]

  def close(opsDone: Int): Unit = synchronized {
    io1 = IoCounters.snapshot
    prog1 = ProgramCounters.snapshot
    spans1 = env.spans.snapshot
    ops = opsDone
    closed = true
  }

  /** (name, value, unit, base) per per-layer metric; `opWallMs` maps each
    * op's job group to its wall time. */
  def metrics(w: Workload, opWallMs: Map[String, Double]): Seq[(String, Double, String, String)] = {
    LedgerBridge.drain(env.spark.sparkContext)
    def d(a: Map[String, Long], b: Map[String, Long], k: String) =
      (b.getOrElse(k, 0L) - a.getOrElse(k, 0L)).toDouble
    val n = math.max(1, ops).toDouble
    val perOp = s"per op, $ops ops"
    // op groups are "op-<client>-<n>"; 1-client windows end at op `ops`
    def inWindow(g: String): Boolean = g.startsWith("op-") &&
      (w.clients > 1 || g.split('-')(2).toInt < ops)
    val groups = ledger.get.groupsWhere(inWindow)
    def sum(f: SparkLedger.Group => Double) = groups.values.map(f).sum
    def phase(k: String) = sum(_.phaseMs.getOrElse(k, 0L).toDouble)
    val jobUnion = sum(g => SparkLedger.unionMs(g.jobs.values.toSeq).toDouble)
    // driver residual: op wall not covered by any of its jobs or Catalyst phases
    val residual = opWallMs.collect { case (g, wall) if inWindow(g) =>
      val covered = groups.get(g).fold(0L)(x =>
        SparkLedger.unionMs(x.jobs.values.toSeq ++ x.phaseIntervals))
      wall - covered
    }.sum
    val spans = Spans.diff(spans1, spans0)
    val io = (k: String) => d(io0, io1, k)
    val casAttempts = io("cas_attempts")
    val commits = casAttempts - io("cas_lost")
    val common = Seq(
      ("graftio.ops_per_op", io("ops") / n, "count", perOp),
      ("graftio.busy_ms_per_op", io("busy_ns") / 1e6 / n, "ms", perOp),
      ("graftio.read_bytes_per_op", io("read_bytes") / n, "B", perOp),
      ("graftio.write_bytes_per_op", io("write_bytes") / n, "B", perOp),
      ("graftio.list_calls_per_op", io("list_calls") / n, "count", perOp),
      ("graftio.listed_entries_per_op", io("listed_entries") / n, "count", perOp),
      ("graftio.stat_calls_per_op", io("stat_calls") / n, "count", perOp),
      ("graftio.create_exclusive_per_op", io("create_exclusive") / n, "count", perOp),
      ("repo.cas_attempts_per_commit", if (commits > 0) casAttempts / commits else 0.0,
        "ratio", s"per ref publish, ${commits.toLong} publishes"),
      ("repo.cas_lost_ratio", if (casAttempts > 0) io("cas_lost") / casAttempts else 0.0,
        "ratio", s"of ${casAttempts.toLong} ref CAS attempts"),
      ("repo.commit_reads_per_op", d(prog0, prog1, "commit_reads") / n, "count", perOp),
      ("manifests.chunk_reads_per_op", d(prog0, prog1, "manifest_chunk_reads") / n, "count", perOp),
      ("manifests.tree_chunk_reads_per_op", d(prog0, prog1, "tree_chunk_reads") / n, "count", perOp),
      ("catalog.analysis_ms_per_op", phase("analysis") / n, "ms", perOp),
      ("catalog.optimization_ms_per_op", phase("optimization") / n, "ms", perOp),
      ("catalog.planning_ms_per_op", phase("planning") / n, "ms", perOp),
      ("catalog.statements_per_op", sum(_.executions.toDouble) / n, "count",
        s"query executions $perOp"),
      ("spark.jobs_per_op", sum(_.jobs.size.toDouble) / n, "count", perOp),
      ("spark.stages_per_op", sum(_.stages.toDouble) / n, "count", perOp),
      ("spark.tasks_per_op", sum(_.tasks.toDouble) / n, "count", perOp),
      ("spark.job_wall_ms_per_op", jobUnion / n, "ms", s"union of each op's job intervals, $perOp"),
      ("spark.executor_run_ms_per_op", sum(_.runMs.toDouble) / n, "ms", perOp),
      ("spark.executor_cpu_ms_per_op", sum(_.cpuNs / 1e6) / n, "ms", perOp),
      ("spark.gc_ms_per_op", sum(_.gcMs.toDouble) / n, "ms", s"task GC $perOp"),
      ("spark.input_bytes_per_op", sum(_.inputBytes.toDouble) / n, "B", perOp),
      ("spark.shuffle_read_bytes_per_op", sum(_.shuffleRead.toDouble) / n, "B", perOp),
      ("spark.shuffle_write_bytes_per_op", sum(_.shuffleWrite.toDouble) / n, "B", perOp),
      ("spark.peak_exec_memory_mb",
        groups.values.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0, "MB", "max over tasks"),
      ("driver.residual_ms_per_op", residual / n, "ms",
        s"op wall not covered by its jobs or Catalyst phases, $perOp"),
      ("jvm.gc_ms_per_op", d(prog0, prog1, "jvm_gc_ms") / n, "ms", s"all collectors $perOp"))
    val specific = w.layerMetrics(spans)
    val stepNames = Seq("repo.merge_ms", "manifests.plan_ms", "manifests.append_ms",
      "manifests.files_planned_ratio", "catalog.branch_ms", "catalog.delete_ms",
      "catalog.insert_ms", "catalog.read_ms", "catalog.drop_ms",
      "operators.admit_ms", "operators.admitted_ratio")
    val steps = stepNames.map { k =>
      val unit = if (k.endsWith("ratio")) "ratio" else "ms"
      (k, specific.getOrElse(k, 0.0), unit,
        if (specific.contains(k)) "mean over the window's steps" else "not in this workload")
    }
    (common ++ steps).sortBy(_._1)
  }

  /** Query executions the ledger could not tie to a job group. */
  def unattributed: Long =
    ledger.fold(0L)(_.groupsWhere(_ == "?").values.map(_.executions).sum)
}
