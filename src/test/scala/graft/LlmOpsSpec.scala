package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.matchers.should.Matchers

/** Semantics gates for the rows-only LLM ops (SURVEY.md §2.3): LSH ANN
  * recall vs the exact baseline, and dedup-family internal consistency.
  */
class LlmOpsSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("dd_setsim: prefix filtering is EXACT — identical to the " +
    "brute-force all-pairs join") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextVec._
    val small = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, small)
      .select(col("doc_id"), wordSet(col("text")).as("ws"))
    val brute = docs.as("a")
      .join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(org.apache.spark.sql.functions.size(
          array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          org.apache.spark.sql.functions.size(
            array_union(col("a.ws"), col("b.ws"))).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pp = SparkEntry.queries("dd_setsim")(spark, small)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pp shouldBe brute // full recall AND full precision, values included
    brute.size should be > 0
  }

  test("dd_setsim: dense-vocabulary bitmask path is identical to the " +
    "PPJoin path (duplicates, empty set, boundary jaccard)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 26-token vocabulary, seeded-random sets incl. exact duplicates
    // (mask-equal pairs), an empty set (must pair with nothing), and
    // near-identical sets that land just above/below t = 0.9
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map { i =>
      (i.toLong, (0 until 26).filter(_ => rnd.nextDouble() < 0.7)
        .map(b => s"t$b"))
    }
    val docs = (base ++
      base.take(30).map { case (id, ws) => (id + 1000, ws) } :+ // dups
      (2000L, Seq.empty[String])).toDF("doc_id", "ws")
    def run(vocabMax: Int): Set[(Long, Long, Double)] = {
      spark.conf.set("spark.graft.setsim.bitmaskVocabMax", vocabMax.toString)
      try graft.operators.Dedup.setsimPairs(spark, docs, 0.9, 1024)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      finally spark.conf.unset("spark.graft.setsim.bitmaskVocabMax")
    }
    val bitmask = run(64)
    val ppjoin = run(0)
    bitmask shouldBe ppjoin
    bitmask.size should be >= 30 // the duplicate pairs at least
    bitmask.foreach { case (a, b, _) => a should be < b }
    bitmask.map(p => (p._1, p._2)).size shouldBe bitmask.size // no dup rows
  }

  test("dd_setsim: distinct-mask cap falls back to PPJoin with identical results") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val docs = (0 until 150).map { i =>
      (i.toLong, (0 until 20).filter(_ => rnd.nextDouble() < 0.6).map(b => s"t$b"))
    }.toDF("doc_id", "ws")
    def run(maxMasks: Option[Int]): Set[(Long, Long, Double)] = {
      maxMasks.foreach(m =>
        spark.conf.set("spark.graft.setsim.bitmaskMasksMax", m.toString))
      try graft.operators.Dedup.setsimPairs(spark, docs, 0.8, 1024)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      finally spark.conf.unset("spark.graft.setsim.bitmaskMasksMax")
    }
    val fast = run(None)     // bitmask path (well under the default cap)
    val fallback = run(Some(4)) // cap forces the PPJoin path
    fallback shouldBe fast
  }

  test("dd_setsim: bitmask within-group salting is exactness-preserving " +
    "on a duplicate-heavy corpus (one hot mask)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 120 of 150 docs share ONE word set — the exact-duplicate cluster a
    // real dedup corpus produces; its C(120,2) pairs must come out
    // identically whether the mask group is salted into chunks or not
    val hot = Seq("a", "b", "c")
    val docs = ((0 until 120).map(i => (i.toLong, hot)) ++
      (120 until 150).map(i => (i.toLong, Seq(s"u$i", s"v$i", "b")))).toDF("doc_id", "ws")
    def run(maxGroup: Int): Set[(Long, Long, Double)] = {
      spark.conf.set("spark.graft.setsim.maxGroup", maxGroup.toString)
      try graft.operators.Dedup.setsimPairs(spark, docs, 0.9, 1024)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      finally spark.conf.unset("spark.graft.setsim.maxGroup")
    }
    val unsalted = run(1000000) // nch = 1: plain self-join
    val salted = run(8)         // hot mask splits into 15 chunks
    salted shouldBe unsalted
    unsalted.size shouldBe 120 * 119 / 2 // the full duplicate clique
  }

  test("dd_setsim: hot-token grid salting is exactness-preserving on a " +
    "skewed corpus (one token in every prefix)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 300 docs, every word-set led (df-order) by the same rare-ish token
    // distribution: 'hot' appears in ALL docs, so with a tiny vocabulary
    // its posting list is one giant bucket — the skew the salting exists
    // for. Clone pairs (i, i+150) are exact duplicates -> jaccard 1.0.
    val docs = (0 until 150).flatMap { i =>
      val ws = Seq("hot", s"w${i % 5}", s"v${i % 7}", s"u${i % 11}")
      Seq((i.toLong, ws), ((i + 150).toLong, ws))
    }.toDF("doc_id", "ws")
    def run(maxPost: Int): Set[(Long, Long, Double)] = {
      // this corpus's vocabulary fits in 64 tokens — disable the bitmask
      // fast path so the spec actually drives the salted PPJoin kernel
      spark.conf.set("spark.graft.setsim.bitmaskVocabMax", "0")
      try graft.operators.Dedup.setsimPairs(spark, docs, 0.9, maxPost)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      finally spark.conf.unset("spark.graft.setsim.bitmaskVocabMax")
    }
    val unsalted = run(1000000) // nch = 1 everywhere: the plain join
    val salted = run(10)        // force many chunks on every posting list
    salted shouldBe unsalted
    // the corpus really does contain the expected duplicate pairs
    unsalted.size should be >= 150
    unsalted.foreach { case (a, b, j) => j should be >= 0.9 }
  }

  test("dd_embed_cosine: hot-label grid salting is exactness-preserving " +
    "on a skewed label distribution (one label holds everything)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextVec._
    import spark.implicits._
    // 240 vectors ALL under one label — the hot block the salting exists
    // for; deterministic coords, offset keeps many pairs above 0.35
    val e = (0 until 240).map { i =>
      (i.toLong, "hot", Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.3) + 0.6))
    }.toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    def run(maxGroup: Int): Set[(Long, Long, Double)] =
      graft.operators.Dedup.embedCosinePairs(e, 0.35, maxGroup)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unsalted = run(1000000) // nch = 1: the plain within-label join
    val salted = run(16)        // nch = 15 chunks on the hot label
    salted shouldBe unsalted    // full recall AND precision, values included
    unsalted.size should be > 100
  }

  test("sim_ann_lsh: bucketed candidates are a subset of brute-force ranks " +
    "with usable recall") {
    val brute = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("sim_ann_lsh")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    // 6-bit single-table LSH on 64-dim synthetic data: recall is bounded
    // but must be far better than random (random ≈ k/N ≈ 0.05)
    recall should be >= 0.25
    // and LSH must actually prune: it returns fewer pairs than brute
    lsh.size should be <= brute.size
  }

  test("sim_ann_ivf: coarse-quantizer probe recalls most true neighbors " +
    "while scanning a fraction of the corpus") {
    val brute = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the queries() entry is now the hash-checkable recall GATE; the
    // raw top-k surface stays the library API measured here
    val ivf = graft.operators.Similarity.ivf(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // spherical k-means on this clustered corpus: measured 0.76 at
    // nprobe=8 of k=sqrt(N) cells; gate leaves head-room for seed drift
    recall should be >= 0.5
    ivf.size should be <= brute.size
    // and the driver-facing gate row agrees
    val gate = SparkEntry.queries("sim_ann_ivf")(spark, sfDir).collect()
    gate.length shouldBe 1
    gate.head.getBoolean(1) shouldBe true
  }

  test("sim_ann_quantized: serving from the INT8-reconstructed store " +
    "recalls nearly all true top-k neighbors — the quantization error " +
    "budget the 4x memory cut buys") {
    val brute = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SparkEntry.queries("sim_ann_quantized")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    quant.size shouldBe brute.size // same top-k width per query
    val recall = quant.intersect(brute).size.toDouble / brute.size
    // per-dim symmetric INT8 keeps relative error ~1/254 per coordinate;
    // top-10 membership should survive almost untouched
    recall should be >= 0.9
  }

  test("sim_ann_filtered: the filtered probe recalls the FILTERED " +
    "ground truth with only allowed neighbors, and the filter " +
    "genuinely bites — the global top-k alone cannot fill it") {
    import org.apache.spark.sql.functions._
    val gate = SparkEntry.queries("sim_ann_filtered")(spark, sfDir).collect()
    gate.length shouldBe 1
    gate.head.getBoolean(1) shouldBe true // recall_ok vs filtered brute
    gate.head.getBoolean(2) shouldBe true // no out-of-filter neighbor
    // the filtered truth is NOT a filter over the global top-k: some
    // query has fewer allowed rows in its global top-10 than the 10 the
    // filtered search returns, so deeper-than-global neighbors surface
    val allowed = graft.Tables.embeddings(spark, sfDir)
      .filter(col("label") % 4 === 1).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val global = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    global.count(p => allowed(p._2)) should be < global.length
  }

  test("sim_ann_ivfpq: PQ codes + exact re-rank track the plain IVF probe") {
    val brute = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.operators.Similarity.ivfpq(spark, sfDir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    // PQ error only affects which candidates reach the exact pass, so
    // recall sits just under plain IVF's; gate leaves head-room
    val recall = pqPairs.intersect(brute).size.toDouble / brute.size
    info(f"ivfpq recall@10 vs brute = $recall%.3f")
    recall should be >= 0.4
    pqPairs.size should be <= brute.size
    // the re-rank is EXACT: every reported cos_sim equals the true one
    val bruteSims = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pq.foreach { r =>
      bruteSims.get((r.getLong(0), r.getLong(1)))
        .foreach(_ shouldBe r.getDouble(2) +- 1e-9)
    }
    // driver-facing gate row agrees
    val gate = SparkEntry.queries("sim_ann_ivfpq")(spark, sfDir).collect()
    gate.length shouldBe 1
    gate.head.getBoolean(1) shouldBe true
  }

  test("sim_ann_persist: the STORED IVF-PQ index answers probes with " +
    "usable recall and bit-exact re-rank cosines; append encodes under " +
    "the stored model without retraining; clashing ids are refused") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextVec._
    val cat = "gannspec"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    spark.sql(s"CREATE NAMESPACE $cat.r")
    spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
    val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("nv"))
    operators.Similarity.annIndexInit(spark, cat, repo, "main",
      emb.filter(col("vec_id") % 3 =!= 0))
    val modelBefore = spark.table(s"$cat.r.main.ann.centroids")
      .collect().map(_.toSeq).toSet
    val cbBefore = spark.table(s"$cat.r.main.ann.codebook")
      .collect().map(_.toSeq).toSet
    operators.Similarity.annIndexAppend(spark, cat, repo, "main",
      emb.filter(col("vec_id") % 3 === 0))
    // append = encode-and-store ONLY: neither model table changed, and
    // the vectors table now covers the full corpus
    spark.table(s"$cat.r.main.ann.centroids")
      .collect().map(_.toSeq).toSet shouldBe modelBefore
    spark.table(s"$cat.r.main.ann.codebook")
      .collect().map(_.toSeq).toSet shouldBe cbBefore
    spark.table(s"$cat.r.main.ann.vectors").count() shouldBe emb.count()
    // appended vectors landed in STORED cells (no new cell ids)
    val cells = modelBefore.map(_.head.asInstanceOf[Long])
    spark.table(s"$cat.r.main.ann.vectors").select("cell").distinct()
      .collect().map(_.getLong(0)).foreach(c => cells should contain (c))
    // a clashing id is refused loudly
    val err = intercept[IllegalArgumentException] {
      operators.Similarity.annIndexAppend(spark, cat, repo, "main",
        emb.limit(1))
    }
    err.getMessage should include ("fresh ids")
    // ... and so is a delta that duplicates an id WITHIN itself (two
    // vectors under one identity would double its ADC score)
    val dupDelta = emb.limit(1).withColumn("vec_id", lit(777000L))
      .unionByName(emb.orderBy(col("vec_id").desc).limit(1)
        .withColumn("vec_id", lit(777000L)))
    val dupErr = intercept[IllegalArgumentException] {
      operators.Similarity.annIndexAppend(spark, cat, repo, "main", dupDelta)
    }
    dupErr.getMessage should include ("unique ids")
    // probe the stored index: recall vs brute ≥ the ivfpq bound, and
    // every recalled pair's cosine is BIT-EQUAL to the brute-force one
    val brute = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val hits = operators.Similarity.annIndexProbe(spark, cat, "r", "main",
      Tables.embeddings(spark, sfDir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          toDoubleVec(col("embedding")).as("qv"))
        .withColumn("qn", l2norm(col("qv"))))
      .select("query_id", "neighbor_id", "cos_sim").collect()
    val recalled = hits.map(r => (r.getLong(0), r.getLong(1)))
      .toSet.intersect(brute.keySet)
    val recall = recalled.size.toDouble / brute.size
    info(f"persisted-index recall@10 vs brute = $recall%.3f")
    recall should be >= 0.4
    hits.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1)))
        .foreach(b => assert(b == r.getDouble(2),
          s"re-rank cosine drifted for ${(r.getLong(0), r.getLong(1))}"))
    }
    // maintenance: compaction bin-packs the accreted append files and
    // the probe answers BIT-IDENTICALLY afterwards
    val (filesBefore, filesAfter) =
      operators.Similarity.annIndexCompact(spark, repo, "main")
    filesAfter should be < filesBefore
    val hitsAfter = operators.Similarity.annIndexProbe(spark, cat, "r",
      "main", Tables.embeddings(spark, sfDir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          toDoubleVec(col("embedding")).as("qv"))
        .withColumn("qn", l2norm(col("qv"))))
      .select("query_id", "neighbor_id", "cos_sim").collect()
      .map(_.toSeq).toSet
    hitsAfter shouldBe hits.map(_.toSeq).toSet
    // driver-facing gate row agrees
    val gate = SparkEntry.queries("sim_ann_persist")(spark, sfDir).collect()
    gate.length shouldBe 1
    gate.head.getBoolean(1) shouldBe true
  }

  test("annIndexAppend SHUFFLE volume tracks the DELTA, not the corpus: " +
    "the same fixed batch appends into an 8x corpus index at ~1x " +
    "shuffle bytes — the stored model broadcasts, the encode is " +
    "delta-local, and the clash guard scans (never shuffles) the " +
    "stored ids, so the recurring op is O(delta) by construction") {
    import org.apache.spark.sql.functions._
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(j => math.sin(i * 64.0 + j)).toSeq
    def emb(n: Long, s0: Long) = spark.createDataFrame(
      (0L until n).map(i => (s0 + i, vec(s0 + i)))).toDF("vec_id", "nv")
    val cat = "gannsv"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    def build(ns: String, n: Long): graft.versioned.GraftRepo = {
      spark.sql(s"CREATE NAMESPACE $cat.$ns")
      spark.sql(s"CREATE NAMESPACE $cat.$ns.main.ann")
      val repo = graft.versioned.GraftRepo.open(root.resolve(ns))
      operators.Similarity.annIndexInit(spark, cat, repo, "main", emb(n, 0L))
      repo
    }
    val r1 = build("r1", 400L)
    val r8 = build("r8", 3200L)
    def shuffleBytes[A](f: => A): (A, Long) = {
      val total = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) total.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val got = f
        org.apache.spark.graftbridge.TestListenerBridge
          .drain(spark.sparkContext)
        (got, total.get())
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val delta = emb(16L, 900000L)
    def append(repo: graft.versioned.GraftRepo): (Long, Long) =
      shuffleBytes {
        operators.Similarity.annIndexAppend(spark, cat, repo, "main", delta)
        spark.table(s"$cat.${repo.root.getFileName}.main.ann.vectors")
          .filter(col("vec_id") >= 900000L).count()
      }
    val (n1, bytes1) = append(r1)
    val (n8, bytes8) = append(r8)
    n1 shouldBe 16L
    n8 shouldBe 16L
    // generous 3x slack + 64 KiB absolute floor for framework jitter —
    // a corpus-shuffling regression would show up ~8x
    withClue(s"small=$bytes1 large=$bytes8: ") {
      bytes8 should be <= math.max(3L * bytes1, bytes1 + (64L << 10))
    }
  }

  test("sim_ann_brute: size-guarded query broadcast — forced shuffle path " +
    "returns identical results") {
    val broadcastPath = SparkEntry.queries("sim_ann_brute")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    // guard=0 forces the block-partitioned cartesian (large-query) path
    val shufflePath = operators.Similarity
      .bruteForceImpl(spark, sfDir, maxBroadcastQueries = 0)
      .collect().map(_.toSeq).toSet
    shufflePath shouldBe broadcastPath
  }

  test("sim_ann_lsh: candidate join degrades to a shuffle join (not a " +
    "broadcast) when the engine may not broadcast") {
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    def restore(key: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("sim_ann_lsh")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "BroadcastHashJoin"
      df.count() should be > 0L
    } finally {
      restore("spark.sql.autoBroadcastJoinThreshold", prev)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("dd_simhash: hamming bound respected and pairs deduplicated") {
    val out = SparkEntry.queries("dd_simhash")(spark, sfDir).collect()
    all(out.map(_.getAs[Long]("hamming"))) should be <= 6L
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    pairs.distinct.length shouldBe pairs.length
    all(pairs.map { case (a, b) => a < b }) shouldBe true
  }

  test("dd_minhash_lsh: verified pairs all have jaccard >= 0.9 and include " +
    "the consecutive-id near-dups found by the exact pass") {
    val out = operators.Dedup.minhashLsh(spark, sfDir).collect()
    all(out.map(_.getAs[Double]("jaccard"))) should be >= 0.9
    // exact n-gram jaccard on consecutive ids: every >=0.95 pair there must
    // be recalled by the LSH pipeline (8x8 bands catch J>=0.9 w.h.p.)
    val exact = SparkEntry.queries("dd_ngram_jaccard")(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.95)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.diff(found) shouldBe empty
    // driver-facing gate row: recall >= 0.95 of the PPJoin truth and
    // exact-subset precision both hold
    val gate = SparkEntry.queries("dd_minhash_lsh")(spark, sfDir).collect()
    gate.length shouldBe 1
    gate.head.getBoolean(1) shouldBe true
    gate.head.getBoolean(2) shouldBe true
  }

  test("tx_pack: every doc assigned exactly once; no multi-doc shard " +
    "exceeds the token budget; shards fill contiguously in doc_id order") {
    val out = SparkEntry.queries("tx_pack")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.map(_._1).distinct.length shouldBe out.length
    val byShard = out.groupBy(t => (t._3, t._4))
    byShard.values.foreach { ds =>
      if (ds.length > 1) ds.map(_._2).sum should be <= 2048L
    }
    // within a group, shard ids are non-decreasing along doc_id order
    out.groupBy(_._3).values.foreach { g =>
      val shards = g.sortBy(_._1).map(_._4)
      shards.zip(shards.tail).foreach { case (a, b) => b should be >= a }
    }
  }

  test("tx_bm25: dense positive-score rankings; every ranked doc " +
    "actually contains a term of its query") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("tx_bm25")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    out.length should be > 0
    out.groupBy(_._1).values.foreach { g =>
      g.map(_._4).sorted shouldBe (1L to g.length)          // dense ranks
      g.sortBy(_._4).map(_._3).sliding(2).foreach { p =>     // scores sorted
        if (p.length == 2) p(0) should be >= p(1)
      }
      g.foreach(_._3 should be > 0.0)
    }
    // rebuild the deterministic query-term table and check containment
    val words = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(org.apache.spark.sql.functions.length(col("word")) >= 1)
    val termList = words.select(col("doc_id"), col("word")).distinct()
      .groupBy("word").count().filter(col("count") >= 5)
      .orderBy("word").limit(15).collect().map(_.getString(0))
    val termsByQ = termList.zipWithIndex
      .groupBy(_._2 / 3).map { case (q, ws) => (q.toLong, ws.map(_._1).toSet) }
    val docWords = words.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, ws) => (d, ws.map(_._2).toSet) }
    out.foreach { case (qid, doc, _, _) =>
      withClue(s"qid=$qid doc=$doc: ") {
        docWords(doc).intersect(termsByQ(qid)).nonEmpty shouldBe true
      }
    }
  }

  test("bpeTrain: K distributed merge rounds reproduce the reference " +
    "BPE algorithm exactly — pair argmax with the (cnt, a, b) " +
    "tie-break, left-to-right non-overlapping merges") {
    import org.apache.spark.sql.functions._
    val k = 8
    val got = operators.TextAnalysis.bpeTrain(spark, sfDir, k)

    // reference: same tokenization, plain in-memory BPE over the freqs
    val words = graft.Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(org.apache.spark.sql.functions.length(col("w")) >= 2)
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var ws = words.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val ref = scala.collection.mutable.Buffer[(String, String, Long)]()
    var stop = false
    for (_ <- 0 until k if !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- ws; i <- 0 until syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        counts(key) = counts.getOrElse(key, 0L) + f
      }
      if (counts.isEmpty) stop = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((pa, pb), pc) => (-pc, pa, pb) }
        ref += ((a, b, c))
        ws = ws.map { case (syms, f) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              nb += (a + b); i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.result(), f)
        }.filter(_._1.length >= 2)
      }
    }
    got.map(m => (m.a, m.b, m.cnt)) shouldBe ref.toSeq
    got.map(_.rank) shouldBe got.indices
    // training actually COMPOSED symbols: by rank 8 some merge uses a
    // token built by an earlier merge
    got.exists(m => (m.a + m.b).length > 2) shouldBe true
  }

  test("graft_bpe_encode: the codegen'd inference half applies the " +
    "trained merge table exactly — every corpus word encodes to what " +
    "an in-memory reference reaches under the same ranks") {
    import org.apache.spark.sql.functions._
    val merges = operators.TextAnalysis.bpeTrain(spark, sfDir, 6)
    merges.size shouldBe 6
    val enc = graft.Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .distinct()
      .select(col("w"), graft.functions.HashExpressions.bpeEncodeNative(
        col("w"), operators.TextAnalysis.bpeMergesLit(merges)).as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    def refEnc(w: String): Seq[String] = {
      var syms = w.map(_.toString).toVector
      for (m <- merges) {
        val nb = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == m.a && syms(i + 1) == m.b) {
            nb += (m.a + m.b); i += 2
          } else { nb += syms(i); i += 1 }
        }
        syms = nb.result()
      }
      syms
    }
    enc.foreach { case (w, toks) =>
      withClue(s"word '$w': ") { toks shouldBe refEnc(w) }
    }
    // the trained merges actually fire on the corpus they came from
    enc.exists(_._2.exists(_.length > 1)) shouldBe true
  }

  test("dd_semdedup: deterministic survivors; no survivor has a lower-id " +
    "near-duplicate in its own cluster; duplicates were actually removed") {
    import org.apache.spark.sql.functions._
    val run1 = SparkEntry.queries("dd_semdedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val run2 = SparkEntry.queries("dd_semdedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    run1 shouldBe run2 // deterministic clustering + greedy rule
    val total = graft.Tables.embeddings(spark, sfDir).count()
    run1.length.toLong should be < total   // something was deduped
    run1.length.toLong should be > total / 2 // but not everything
    // invariant: within a cluster, survivors are pairwise below tau OR
    // separated such that each survivor's lower-id near-dups were all in
    // OTHER clusters — verify directly with a brute-force recompute
    val surv = run1.toSet
    val byCluster = run1.groupBy(_._2)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    byCluster.values.foreach { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- 0 until i)
        withClue(s"survivors ${ids(j)} and ${ids(i)} in one cluster: ") {
          cos(vecs(ids(j)), vecs(ids(i))) should be < 0.35
        }
    }
  }

  test("kmeans model cap: spark.graft.kmeans.maxModelK clamps the collected " +
    "centroid count (driver-model scale guard)") {
    val key = "spark.graft.kmeans.maxModelK"
    spark.conf.set(key, "3")
    try {
      val (idx, model) = graft.operators.Similarity.kmeansIndex(spark, sfDir)
      model.size should be <= 3
      idx.select("cell").distinct().count() should be <= 3L
    } finally spark.conf.unset(key)
  }

  test("model-size BELT: collectCentroids refuses a driver-side collect " +
    "bigger than maxModelK — the distributed path cannot silently " +
    "regress to collecting the fine model") {
    import spark.implicits._
    val key = "spark.graft.kmeans.maxModelK"
    spark.conf.set(key, "8")
    try {
      val big = (0L until 20L).map(i => (i, Seq(1.0, 2.0)))
        .toDF("cell", "cv")
      val e = intercept[IllegalArgumentException] {
        graft.operators.Similarity.collectCentroids(spark, big)
      }
      e.getMessage should include("stay distributed")
      // ≤ cap passes through
      graft.operators.Similarity.collectCentroids(spark,
        big.limit(8)).size shouldBe 8
    } finally spark.conf.unset(key)
  }

  test("persisted-index cap skew: an index built under a LARGER clamp " +
    "stays probe-able and append-able from a session with a smaller one " +
    "— serve-time collects validate against the ann/meta build-time cap, " +
    "not the probing session's conf") {
    import org.apache.spark.sql.functions._
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(j => math.sin(i * 64.0 + j)).toSeq
    def emb(ids: Seq[Long]) = spark.createDataFrame(
      ids.map(i => (i, vec(i)))).toDF("vec_id", "nv")
    val cat = "gannskew"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    spark.sql(s"CREATE NAMESPACE $cat.r")
    spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
    val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
    // build under the DEFAULT clamp: 400 vectors → √N rule trains ~20
    // driver-mode cells; meta records max_model_k = 4096
    operators.Similarity.annIndexInit(spark, cat, repo, "main",
      emb((0L until 400L).filter(_ % 5 != 0)))
    spark.table(s"$cat.r.main.ann.centroids").count() should be > 8L
    spark.table(s"$cat.r.main.ann.meta")
      .select("max_model_k").head().getInt(0) shouldBe 4096
    val key = "spark.graft.kmeans.maxModelK"
    spark.conf.set(key, "8") // the probing session's (smaller) clamp
    try {
      // pre-fix both of these refused with "driver-side collect of >8"
      val qs = emb(Seq(7L))
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
        .withColumn("qn", graft.functions.TextVec.l2norm(col("qv")))
      operators.Similarity.annIndexProbe(spark, cat, "r", "main", qs)
        .count() should be > 0L
      operators.Similarity.annIndexAppend(spark, cat, repo, "main",
        emb((0L until 400L).filter(_ % 5 == 0)))
      spark.table(s"$cat.r.main.ann.vectors").count() shouldBe 400L
    } finally spark.conf.unset(key)
  }

  test("DISTRIBUTED-centroid k-means: past maxModelK the trainer is NOT " +
    "clamped — the fine model stays a table, every driver collect on the " +
    "path rides the belt (a fine-model collect would throw at this cap), " +
    "and the full persisted lifecycle (init → append under the stored " +
    "model → probe) recalls true neighbors through the stored router") {
    import org.apache.spark.sql.functions._
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(j => math.sin(i * 64.0 + j)).toSeq
    def emb(ids: Seq[Long]) = spark.createDataFrame(
      ids.map(i => (i, vec(i)))).toDF("vec_id", "nv")
    val key = "spark.graft.kmeans.maxModelK"
    spark.conf.set(key, "8")
    val cat = "ganndist"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.r")
      spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
      val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
      // 1200 vectors → √N rule wants ~34 cells, > the forced cap of 8
      val all = (0L until 1200L)
      operators.Similarity.annIndexInit(spark, cat, repo, "main",
        emb(all.filter(_ % 3 != 0)))
      // UNCLAMPED fine model, stored coarse router, self-describing meta
      val kFine = spark.table(s"$cat.r.main.ann.centroids").count()
      kFine should be > 8L
      spark.table(s"$cat.r.main.ann.coarse").count() should be > 0L
      val meta = spark.table(s"$cat.r.main.ann.meta").head()
      meta.getInt(3) should be > 0 // coarse_k
      // every fine centroid homes to a stored coarse cell
      val coarseIds = spark.table(s"$cat.r.main.ann.coarse")
        .select("cell").collect().map(_.getLong(0)).toSet
      spark.table(s"$cat.r.main.ann.centroids")
        .select("ccell").collect().map(_.getLong(0)).toSet
        .subsetOf(coarseIds) shouldBe true
      // append encodes under the STORED model (no retrain, cells exist)
      operators.Similarity.annIndexAppend(spark, cat, repo, "main",
        emb(all.filter(_ % 3 == 0)))
      spark.table(s"$cat.r.main.ann.vectors").count() shouldBe 1200L
      val storedCells = spark.table(s"$cat.r.main.ann.vectors")
        .select("cell").distinct().collect().map(_.getLong(0)).toSet
      storedCells.subsetOf(
        spark.table(s"$cat.r.main.ann.centroids")
          .select("cell").collect().map(_.getLong(0)).toSet) shouldBe true
      // probe through the stored router: recall vs exact brute force
      val qids = all.filter(_ % 97 == 0)
      val qs = emb(qids)
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
        .withColumn("qn", graft.functions.TextVec.l2norm(col("qv")))
      val hits = operators.Similarity.annIndexProbe(spark, cat, "r", "main",
        qs, nprobe = 8, rerank = 50)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact top-10 per query by cosine (driver-side oracle)
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val exact = qids.flatMap { q =>
        all.filter(_ != q)
          .map(n => (n, cos(vec(q), vec(n))))
          .sortBy { case (n, c) => (-c, n) }
          .take(10).map { case (n, _) => (q, n) }
      }.toSet
      val recall = hits.intersect(exact).size.toDouble / exact.size
      recall should be >= 0.4
      // retire composes with the DISTRIBUTED mode too: the router probe
      // reads the vectors table through the same tombstone-aware scan
      val victim = hits.head._2
      operators.Similarity.annIndexRetire(spark, repo, "main", Seq(victim))
      val afterRetire = operators.Similarity.annIndexProbe(spark, cat, "r",
        "main", qs, nprobe = 8, rerank = 50)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      afterRetire.contains(victim) shouldBe false
    } finally {
      spark.conf.unset(key)
    }
  }

  test("ANN drift guard + retrain: every append logs one router-homing " +
    "drift row atomically; a skewed append shows up as a high " +
    "frac_below; annIndexRetrain re-trains centroids on the live rows " +
    "KEEPING every stored PQ code, re-baselines drift_ref, and recall " +
    "over the mixed corpus holds") {
    import org.apache.spark.sql.functions._
    def vecA(i: Long): Seq[Double] = // the init distribution
      (0 until 64).map(j => math.sin(i * 64.0 + j)).toSeq
    def vecB(i: Long): Seq[Double] = // the SHIFTED distribution
      (0 until 64).map(j => math.cos(i * 64.0 + j) + 2.0).toSeq
    def emb(rows: Seq[(Long, Seq[Double])]) =
      spark.createDataFrame(rows).toDF("vec_id", "nv")
    val key = "spark.graft.kmeans.maxModelK"
    spark.conf.set(key, "8") // router (distributed) mode end to end
    val cat = "ganndrift"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.r")
      spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
      val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
      val corpusIds = (0L until 900L)
      operators.Similarity.annIndexInit(spark, cat, repo, "main",
        emb(corpusIds.map(i => (i, vecA(i)))))
      // the drift log seeds with the init row: frac_below ≈ p05 by
      // construction of the reference
      val seed = spark.table(s"$cat.r.main.ann.drift").collect()
      seed.length shouldBe 1
      seed.head.getDouble(2) should be <= 0.2
      val driftRef = spark.table(s"$cat.r.main.ann.meta")
        .select("drift_ref").head().getDouble(0)
      driftRef.isNaN shouldBe false

      // an IN-distribution append homes fine; the SKEWED one does not —
      // and each logs exactly one row in the same commit as its vectors
      operators.Similarity.annIndexAppend(spark, cat, repo, "main",
        emb((2000L until 2100L).map(i => (i, vecA(i)))))
      operators.Similarity.annIndexAppend(spark, cat, repo, "main",
        emb((3000L until 3300L).map(i => (i, vecB(i)))))
      val log = spark.table(s"$cat.r.main.ann.drift").collect()
        .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
      log.length shouldBe 3
      val inDist = log.find(_._1 == 100L).get._2
      val skewed = log.find(_._1 == 300L).get._2
      inDist should be <= 0.3
      skewed should be >= 0.6 // the guard actually fires on real skew

      // RETRAIN: centroids/router re-fit on the live mixed corpus,
      // every stored code KEPT bit-identically, drift re-baselined
      val codesBefore = spark.table(s"$cat.r.main.ann.vectors")
        .select(col("vec_id"), col("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      operators.Similarity.annIndexRetrain(spark, cat, repo, "main")
      val after = spark.table(s"$cat.r.main.ann.vectors")
        .select(col("vec_id"), col("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      after.keySet shouldBe codesBefore.keySet
      after.foreach { case (id, cs) => cs shouldBe codesBefore(id) }
      spark.table(s"$cat.r.main.ann.drift").count() shouldBe 1L
      spark.table(s"$cat.r.main.ann.coarse").count() should be > 0L

      // recall over the MIXED corpus through the retrained router: the
      // queries draw from BOTH distributions
      val allRows = corpusIds.map(i => (i, vecA(i))) ++
        (2000L until 2100L).map(i => (i, vecA(i))) ++
        (3000L until 3300L).map(i => (i, vecB(i)))
      val byId = allRows.toMap
      val qids = allRows.map(_._1).filter(i => i % 97 == 0)
      val qs = emb(qids.map(i => (i, byId(i))))
        .select(col("vec_id").as("query_id"), col("nv").as("qv"))
        .withColumn("qn", graft.functions.TextVec.l2norm(col("qv")))
      val hits = operators.Similarity.annIndexProbe(spark, cat, "r", "main",
        qs, nprobe = 8, rerank = 50)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum))
      }
      val exact = qids.flatMap { q =>
        allRows.filter(_._1 != q)
          .map { case (n, v) => (n, cos(byId(q), v)) }
          .sortBy { case (n, c) => (-c, n) }
          .take(10).map { case (n, _) => (q, n) }
      }.toSet
      val recall = hits.intersect(exact).size.toDouble / exact.size
      recall should be >= 0.4
    } finally spark.conf.unset(key)
  }

  test("annIndexRetire: a retired vector never surfaces as a neighbor " +
    "(tombstone-aware probe), its id becomes appendable again, and " +
    "compaction materializes the removal with probes unchanged") {
    import org.apache.spark.sql.functions._
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(j => math.sin(i * 64.0 + j)).toSeq
    def emb(ids: Seq[Long]) = spark.createDataFrame(
      ids.map(i => (i, vec(i)))).toDF("vec_id", "nv")
    val cat = "gannret"
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    spark.sql(s"CREATE NAMESPACE $cat.r")
    spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
    val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
    val all = (0L until 400L)
    operators.Similarity.annIndexInit(spark, cat, repo, "main", emb(all))
    val qs = emb(Seq(5L))
      .select(col("vec_id").as("query_id"), col("nv").as("qv"))
      .withColumn("qn", graft.functions.TextVec.l2norm(col("qv")))
    def probe(): Set[Long] =
      operators.Similarity.annIndexProbe(spark, cat, "r", "main", qs)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val before = probe()
    before.nonEmpty shouldBe true
    val victim = before.head
    operators.Similarity.annIndexRetire(spark, repo, "main", Seq(victim))
    val after = probe()
    after.contains(victim) shouldBe false
    // the freed id is appendable again (clash guard is tombstone-aware)
    operators.Similarity.annIndexAppend(spark, cat, repo, "main",
      emb(Seq(victim)))
    // compaction materializes; probe results unchanged vs pre-compaction
    val preCompact = probe()
    operators.Similarity.annIndexCompact(spark, repo, "main")
    graft.versioned.Tombstones.of(repo.snapshot(
      repo.headCommit("main").tables("ann/vectors"))) shouldBe empty
    probe() shouldBe preCompact
  }

  test("q24_approx_distinct: HLL estimates within 5% of exact counts") {
    val approx = SparkEntry.queries("q24_approx_distinct")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_partkey").as("p"),
        org.apache.spark.sql.functions.countDistinct("l_orderkey").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (flag, (p, o)) =>
      approx(flag)._1.toDouble shouldBe p.toDouble +- p * 0.05
      approx(flag)._2.toDouble shouldBe o.toDouble +- o * 0.05
    }
  }

  /** Driver-side union-find oracle over an arbitrary pair list. */
  private def unionFindClusters(pairs: Array[(Long, Long)],
      docIds: Array[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docIds.groupBy(id => find(id)).map { case (_, members) =>
      members.min -> members.length.toLong
    }
  }

  test("dd_cluster: components cover the corpus; cluster ids and sizes match " +
    "a union-find oracle over the same n-gram pair graph") {
    val out = SparkEntry.queries("dd_cluster")(spark, sfDir).collect()
    out.map(_.getAs[Long]("cluster_size")).sum shouldBe
      Tables.documents(spark, sfDir).count()
    val pairs = SparkEntry.queries("dd_ngram_jaccard")(spark, sfDir).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.7)
      .map(r => (r.getLong(0), r.getLong(1)))
    val docIds = Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    val expected = unionFindClusters(pairs, docIds)
    val got = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("connectedComponents over the MinHash-LSH pair graph matches a " +
    "union-find oracle (no corpus broadcast in the loop)") {
    val lshPairs = operators.Dedup.minhashLsh(spark, sfDir)
      .select("id_a", "id_b")
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val got = operators.Dedup.connectedComponents(docs, lshPairs)
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = lshPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val docIds = docs.collect().map(_.getLong(0))
    got shouldBe unionFindClusters(pairs, docIds)
  }

  test("connectedComponents REFUSES (never mislabels) when the round cap " +
    "is too small for the graph's diameter; the default cap converges " +
    "the same chain") {
    import spark.implicits._
    // a 40-vertex chain: diameter 39 needs ~log2(39)+1 ≈ 6+ rounds of
    // pointer jumping — 1 round cannot converge it
    val docs = (0L until 40L).toDF("doc_id")
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.cc.maxRounds", "1")
    try {
      val e = intercept[IllegalStateException] {
        operators.Dedup.connectedComponents(docs, chain).count()
      }
      e.getMessage should include ("maxRounds")
    } finally spark.conf.unset("spark.graft.cc.maxRounds")
    // default cap: converges, one component labeled by its minimum
    val labels = operators.Dedup.connectedComponents(docs, chain)
      .collect().map(_.getLong(1)).distinct
    labels shouldBe Array(0L)
  }

  test("dd_exact: groups partition the corpus (sum of copies = row count)") {
    val out = SparkEntry.queries("dd_exact")(spark, sfDir).collect()
    out.map(_.getAs[Long]("n_copies")).sum shouldBe
      Tables.documents(spark, sfDir).count()
  }

  test("dd_incremental: asymmetric prefix probe admits EXACTLY the delta " +
    "docs a brute-force delta x corpus join admits (full recall)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextVec._
    val small = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, small)
      .select(col("doc_id"), wordSet(col("text")).as("ws"))
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val dup = delta.as("d")
      .join(corpus.as("c"),
        round(org.apache.spark.sql.functions.size(
          array_intersect(col("d.ws"), col("c.ws"))).cast("double") /
          org.apache.spark.sql.functions.size(
            array_union(col("d.ws"), col("c.ws"))).cast("double"), 6) >= 0.9)
      .select(col("d.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val expect = delta.collect().map(_.getLong(0)).filterNot(dup).sorted
    // this corpus's tiny vocabulary engages the bitmask fast path…
    val got = SparkEntry.queries("dd_incremental")(spark, small)
      .collect().map(_.getLong(0))
    got.toSeq shouldBe expect.toSeq
    // …and the asymmetric prefix-probe path (the real-vocabulary scale
    // route) must produce the identical admission set when forced
    spark.conf.set("spark.graft.setsim.bitmaskVocabMax", "0")
    try {
      val probed = SparkEntry.queries("dd_incremental")(spark, small)
        .collect().map(_.getLong(0))
      probed.toSeq shouldBe expect.toSeq
    } finally spark.conf.unset("spark.graft.setsim.bitmaskVocabMax")
    dup.size should be > 0 // the screen actually rejected something
  }

  test("dd_dupspans: distributed gram-hash spans ≡ single-node " +
    "suffix-style brute force, and every span is genuinely duplicated") {
    import org.apache.spark.sql.functions._
    val L = graft.operators.Dedup.DupSpanL
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim)
    // brute force: count every L-gram across the corpus, mark positions
    // whose gram occurs >= 2 times, merge overlapping windows per doc
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    toks.foreach { case (_, ts) =>
      (0 to ts.length - L).foreach { i =>
        val g = ts.slice(i, i + L).mkString(" ")
        counts(g) = counts.getOrElse(g, 0) + 1
      }
    }
    val expect = toks.flatMap { case (id, ts) =>
      val hit = (0 to ts.length - L)
        .filter(i => counts(ts.slice(i, i + L).mkString(" ")) >= 2)
      val spans = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
      hit.foreach { p =>
        spans.lastOption match {
          case Some((s0, e0, _)) if p <= e0 - L + 1 + L => // p - prev <= L
            spans(spans.length - 1) = (s0, math.max(e0, p + L - 1L),
              math.max(e0, p + L - 1L) - s0 + 1)
          case _ => spans += ((p.toLong, p + L - 1L, L.toLong))
        }
      }
      spans.map { case (a, b, n) => (id, a, b, n) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("dd_dupspans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    got shouldBe expect.toSeq
    got.size should be > 0
    // semantic property, independent of both constructions: the first
    // L-gram of each reported span occurs at least twice in the corpus
    got.foreach { case (id, a, _, _) =>
      val ts = toks.find(_._1 == id).get._2
      counts(ts.slice(a.toInt, a.toInt + L).mkString(" ")) should be >= 2
    }
    // every gram-key family must produce the identical span set: only
    // the hash changes, and at this corpus size none collide. The
    // default (already exercised above) is xx128; this pins the
    // engine-portable md5 key.
    Seq("md5").foreach { h =>
      spark.conf.set("spark.graft.dupspans.hash", h)
      try {
        val alt = SparkEntry.queries("dd_dupspans")(spark, sfDir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        withClue(s"hash=$h: ") { alt shouldBe expect.toSeq }
      } finally spark.conf.unset("spark.graft.dupspans.hash")
    }
    // a typo'd key, or the removed 64-bit key, must throw, never
    // silently pick a hash
    Seq("sha1", "xxhash64").foreach { h =>
      spark.conf.set("spark.graft.dupspans.hash", h)
      try intercept[IllegalArgumentException] {
        SparkEntry.queries("dd_dupspans")(spark, sfDir).collect()
      } finally spark.conf.unset("spark.graft.dupspans.hash")
    }
  }
  test("text ops survive EDGE documents under ANSI mode: empty text, " +
    "1-4 word docs — OOB subscripts and zero divisions must match the " +
    "oracle's NULL semantics, never throw") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Spark 4 defaults spark.sql.ansi.enabled=true: w[i] past the array
    // end throws INVALID_ARRAY_INDEX and x/0 throws DIVIDE_BY_ZERO —
    // exactly the shapes empty/short documents feed the text ops, which
    // the DuckDB oracle evaluates to NULL instead. The ops use
    // try_element_at/nullif to keep the engines aligned; this pins it.
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-docs")
    Seq(
      (1L, "", "en", "web", 0L),
      (2L, "one", "en", "web", 3L),
      (3L, "two words", "en", "web", 9L),
      (4L, "three little words", "en", "web", 18L),
      (5L, "four words in here", "en", "web", 18L),
      (6L, "five whole words right here", "en", "web", 27L),
      (7L, "a longer document with enough words to form every gram " +
        "shape used by the fingerprint and repetition kernels",
        "en", "web", 110L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    val d = dir.toString
    for (q <- Seq("tx_quality", "tx_fingerprint", "tx_repetition",
        "tx_decontaminate", "tx_pipeline", "tx_tokens", "tx_langid",
        "tx_sentence_dedup", "tx_span_scrub", "tx_pii_scrub",
        "tx_cdc_chunk", "tx_lm_novelty", "tx_keyword", "tx_split")) {
      withClue(s"$q on edge docs: ") {
        noException should be thrownBy
          SparkEntry.queries(q)(spark, d).collect()
      }
    }
    // spot semantics: the empty doc's ratios are NULL (not a crash, not
    // a fabricated zero), matching DuckDB's x/0 -> NULL
    val qual = SparkEntry.queries("tx_quality")(spark, d)
      .filter(col("doc_id") === 1L).collect().head
    qual.isNullAt(qual.fieldIndex("alpha_ratio")) shouldBe true
  }

}
