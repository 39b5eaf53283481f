package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-side stage profiler for the heavy bench rows (BASELINE.md's
  * stage-decomposition notes). Times cumulative prefixes of a query's
  * plan — each prefix `count()`ed on a fresh action — so "stage cost" =
  * prefix(i) − prefix(i−1) under the same warm JVM. Not part of the
  * shipped surface; `sbt "runMain graft.StageProfile"` on
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.{Tables => T}
    // warm: parquet footers, codegen, shuffle machinery
    T.documents(spark, sfDir).count()
    spark.range(1000000).selectExpr("id % 7 AS k", "id")
      .groupBy("k").count().collect()

    val L = graft.operators.Dedup.DupSpanL
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }
    val toks = T.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(lower(col("text"))), " ").as("toks"))
      .filter(size(col("toks")) >= L)
    val grams = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), size(col("toks")) - L),
        i => unhex(md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(L)))))))
        .as(Seq("pos", "g")))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("g"))
    val hits = grams.join(dup, "g").select(col("doc_id"), col("pos"))
    time("p1 tokenize+posexplode")(grams.count())
    time("p2 + gram count-agg")(dup.count())
    time("p3 + dup-mark equi-join")(hits.count())
    time("p4 full dd_dupspans")(
      graft.SparkEntry.queries("dd_dupspans")(spark, sfDir).count())

    // ---- dd_incr_persist lifecycle decomposition (the top bench row):
    // init (build + persist the posting index for the corpus slice),
    // admit (screen batch 1 + atomic multi-table append), screen
    // (batch 2 vs corpus ∪ admissions) — same slices as the gate
    locally {
      import org.apache.spark.sql.functions._
      val cat = "gsp" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val root = operators.GateScratch.register(java.nio.file.Files.createTempDirectory(s"graft-$cat"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      spark.sql(s"CREATE NAMESPACE $cat.r")
      spark.sql(s"CREATE NAMESPACE $cat.r.main.dd")
      val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
      val docs = T.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      time("i1 indexInit (corpus)") {
        graft.operators.Dedup.indexInit(spark, cat, repo, "main",
          docs.filter((col("doc_id") % 100).between(10, 19)), 0.9); 0L
      }
      time("i2 indexAdmit (batch 1)") {
        graft.operators.Dedup.indexAdmit(spark, cat, repo, "main",
          docs.filter(col("doc_id") % 100 === 5), 0.9); 0L
      }
      time("i3 indexScreen (batch 2)")(
        graft.operators.Dedup.indexScreen(spark, cat, "r", "main",
          docs.filter(col("doc_id") % 100 === 0), 0.9).count())
    }

    // ---- dd_minhash_lsh stage decomposition (r19: the heaviest
    // executor-bound untouched row) — cumulative prefixes of the
    // stratified gate's pipeline: shared docs pass (word sets + 64-perm
    // signatures), each candidate generator alone, the coin-stratified
    // union dedup, and the exact verify
    locally {
      import org.apache.spark.sql.functions._
      val maxPost = 1024
      val par = spark.sparkContext.defaultParallelism
      val docs = T.documents(spark, sfDir)
        .select(col("doc_id"), graft.functions.TextVec.wordSet(col("text")).as("ws"))
        .repartition(par, col("doc_id"))
        .withColumn("sz", size(col("ws")))
        .withColumn("sig",
          graft.functions.HashExpressions.minHashSignatureNative(col("ws"), k = 64))
        .localCheckpoint()
      time("m1 docs pass (ws+sig ckpt)")(docs.count())
      val coinPass = pmod(shiftright(col("id_a") * lit(2654435761L) +
        col("id_b") * lit(2246822519L), 16), lit(4)) === 0
      time("m2 ppCandidates (coin)")(
        graft.operators.Dedup.ppCandidates(spark, docs, 0.9, maxPost)
          .filter(coinPass).count())
      time("m3 lshCandidates (coin)")(
        graft.operators.Dedup.lshCandidates(spark, docs)
          .filter(coinPass).count())
      val tagged = graft.operators.Dedup.ppCandidates(spark, docs, 0.9, maxPost)
        .withColumn("src", lit(0))
        .unionByName(graft.operators.Dedup.lshCandidates(spark, docs)
          .withColumn("src", lit(1)))
        .filter(coinPass)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("src") === 0).as("in_pp"), max(col("src") === 1).as("in_lsh"))
      time("m4 union+dedup agg")(tagged.count())
      time("m5 + exact verify")(
        graft.operators.Dedup.verifyPairs(spark, docs, tagged, 0.9).count())
    }
    spark.stop()
  }
}
