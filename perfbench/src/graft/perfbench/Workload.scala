package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.catalog.GraftCatalog
import graft.versioned.{GraftIO, LocalGraftIO}

/** What every workload gets: the session, the seed, the step timers, and
  * the storage seam (counting in traced runs, plain otherwise). */
final class Env(val spark: SparkSession, val seed: Long, val trace: Boolean) {
  val spans = new Spans

  def io: GraftIO =
    if (trace) new CountingGraftIO(LocalGraftIO.instance) else LocalGraftIO.instance

  /** Registers catalog `name` over `root`. Each set-up repetition uses a
    * fresh name: Spark caches a catalog instance per name. */
  def registerCatalog(name: String, root: Path): Unit = {
    val cls = if (trace) classOf[CountingCatalog] else classOf[GraftCatalog]
    spark.conf.set(s"spark.sql.catalog.$name", cls.getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
  }

  def sql(q: String): DataFrame = spark.sql(q)
  def rows(q: String): Array[Row] = spark.sql(q).collect()

  /** Deterministic per-purpose random stream derived from the seed. */
  def rng(stream: Long): SplittableRandom =
    new SplittableRandom(Env.mix(seed, stream))
}

object Env {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** One closed-loop workload. `setup` builds a fresh fixture (the harness
  * times it several times and keeps the last one); `op` runs one
  * operation and returns the check that compares what it observed with
  * the workload's model — the harness runs that check after the op's
  * timer stops. */
trait Workload {
  def clients: Int
  /** 1-client workloads: the traced ledger covers exactly this many ops,
    * so a same-seed rerun repeats its counts. */
  def tracedOps: Int
  def warmupOps: Int
  /** Set-ups run first to warm the JIT up; they are not counted. */
  def warmSetups: Int
  /** Set-ups after those: `setup_s` is their median. */
  def countedSetups: Int = 3
  def setup(dir: Path, rep: Int): Unit
  /** Drops the previous fixture's in-memory state before the next set-up
    * is timed. */
  def release(): Unit = ()
  /** Brings the kept fixture's caches to the state every run starts from. */
  def warm(): Unit = ()
  def op(client: Int, n: Int): () => Option[String]
  def finalCheck(): Seq[String]
  def repoRoot: Path
  /** Sizes of the fixture, for the report. */
  def describe: Map[String, Any]
  /** Workload-specific per-layer metrics over ops `[0, ops)` of the
    * measured loop, from the spans named by the workload. */
  def layerMetrics(spans: Map[String, (Long, Int)]): Map[String, Double]
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "ref_flow" => new RefFlow(env)
    case "commit_storm" => new CommitStorm(env)
    case "dedup_ingest" => new DedupIngest(env)
    case "meta_scale" => new MetaScale(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (ref_flow | commit_storm | dedup_ingest | meta_scale)")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Mean span time in ms (0 when the span never ran). */
  def meanMs(spans: Map[String, (Long, Int)], name: String): Double =
    spans.get(name).filter(_._2 > 0).fold(0.0) { case (ns, n) => ns / 1e6 / n }

  /** Sum of counter `num` over sum of counter `den` (0 when empty). */
  def ratio(spans: Map[String, (Long, Int)], num: String, den: String): Double = {
    val d = spans.get(den).fold(0L)(_._1)
    if (d == 0) 0.0 else spans.get(num).fold(0L)(_._1).toDouble / d
  }
}
