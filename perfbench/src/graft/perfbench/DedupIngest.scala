package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup
import graft.versioned.GraftRepo

/** Seeded documents with planted near-duplicates: about a third copy an
  * earlier document with 0–3 word substitutions, which puts their
  * Jaccard on both sides of the 0.9 threshold. */
final class DocGen(seed: Long) {
  private val vocab = Array.tabulate(3000)(i => s"w$i")
  private val r = new java.util.SplittableRandom(Env.mix(seed, 77L))
  private val made = mutable.ArrayBuffer.empty[Array[String]]
  private def word(): String = {
    val u = r.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }
  /** Next document: (doc id, words in order). Ids are dense from 0. */
  def next(): (Long, Array[String]) = {
    val words =
      if (made.nonEmpty && r.nextDouble() < 0.35) {
        val w = made(r.nextInt(made.size)).clone()
        (0 until r.nextInt(4)).foreach(_ => w(r.nextInt(w.length)) = word())
        w
      } else Array.fill(20 + r.nextInt(41))(word())
    made += words
    (made.size - 1L, words)
  }
}

/** Incremental near-duplicate ingest into a persisted dedup index: the
  * index starts from 1,000 documents, each op admits a fresh 50-document
  * batch with `Dedup.indexAdmit`. One client. */
final class DedupIngest(env: Env) extends Workload {
  val clients = 1
  val tracedOps = 2
  val warmupOps = 4
  val warmSetups = 3
  val T = 0.9
  val InitDocs = 200
  val Batch = 10

  private var cat = ""
  private var root: Path = _
  private var repo: GraftRepo = _
  private var gen: DocGen = _
  // model: the word sets of every document in the index
  private val corpus = mutable.ArrayBuffer.empty[(Long, Set[String])]

  def repoRoot: Path = root.resolve("r")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private def frame(docs: Seq[(Long, Array[String])]): DataFrame =
    env.spark.createDataFrame(
      docs.map { case (id, w) => Row(id, w.mkString(" ")) }.asJava, schema)

  def setup(dir: Path, rep: Int): Unit = {
    cat = s"g$rep"
    root = dir.resolve("warehouse")
    env.registerCatalog(cat, root)
    env.sql(s"CREATE NAMESPACE $cat.r")
    env.sql(s"CREATE NAMESPACE $cat.r.main.dd")
    repo = GraftRepo.open(repoRoot, env.io)
    gen = new DocGen(env.seed)
    val init = Seq.fill(InitDocs)(gen.next())
    Dedup.indexInit(env.spark, cat, repo, "main", frame(init), T)
    corpus.clear()
    corpus ++= init.map { case (id, w) => id -> w.toSet }
  }

  /** The oracle's Jaccard: distinct lower-cased space-split words,
    * rounded half-up to 6 decimals. */
  private def nearDup(a: Set[String], b: Set[String]): Boolean = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    // J <= |small| / |big|: skip pairs that cannot reach the threshold
    small.size >= 0.89 * big.size && {
      val inter = small.count(big.contains)
      val j = inter.toDouble / (a.size + b.size - inter)
      BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= T
    }
  }

  def op(client: Int, n: Int): () => Option[String] = {
    val batch = Seq.fill(Batch)(gen.next())
    val admitted = env.spans.time("admit") {
      Dedup.indexAdmit(env.spark, cat, repo, "main", frame(batch), T)
        .collect().map(_.getLong(0)).toSet
    }
    () => {
      val sets = batch.map { case (id, w) => id -> w.map(_.toLowerCase).toSet }
      val expect = sets.filterNot { case (_, s) => corpus.exists(c => nearDup(s, c._2)) }
      corpus ++= expect
      env.spans.add("batch_docs", batch.size)
      env.spans.add("admitted_docs", expect.size)
      val want = expect.map(_._1).toSet
      if (admitted == want) None
      else Some(s"admitted ${(admitted -- want).toSeq.sorted.mkString(",")} wrongly, " +
        s"rejected ${(want -- admitted).toSeq.sorted.mkString(",")} wrongly")
    }
  }

  def finalCheck(): Seq[String] = {
    val got = env.rows(s"SELECT doc_id FROM $cat.r.main.dd.docs").map(_.getLong(0))
    val want = corpus.map(_._1)
    if (got.length == want.size && got.toSet == want.toSet) Nil
    else Seq(s"index holds ${got.length} docs, model ${want.size}")
  }

  def describe: Map[String, Any] = Map(
    "clients" -> clients, "index_docs" -> corpus.size, "batch_docs" -> Batch,
    "threshold" -> T)

  def layerMetrics(spans: Map[String, (Long, Int)]): Map[String, Double] = Map(
    "operators.admit_ms" -> Workload.meanMs(spans, "admit"),
    "operators.admitted_ratio" -> Workload.ratio(spans, "admitted_docs", "batch_docs"))
}
