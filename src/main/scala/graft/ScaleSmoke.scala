package graft

import org.apache.spark.sql.functions._

/** Dev-side 10× scale smoke (SURVEY §5b's r1 protocol, re-run per
  * round for the newest operators): replicate the tables a query
  * family reads at 10× into /tmp with shifted keys, run the queries
  * there under a smaller core count (local[8]) and check (a) wall
  * clock scales roughly with the DATA THE OPERATOR TOUCHES — corpus
  * size for dd_dupspans, per-batch change volume (not table size) for
  * the CDC/REST gates — and (b) the plan shapes hold: no broadcast
  * flip to a nested-loop, no cartesian, no partition collapse. Not
  * part of the shipped surface; `sbt "runMain graft.ScaleSmoke"`.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // replication factor: 10 is the per-round protocol; larger factors
    // (SPARK_GRAFT_SCALE=30) measure the scaling CURVE of the heavy ops
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val dst = "/tmp/graft-scale10-" + java.util.UUID.randomUUID().toString.take(8)
    val spark = DevSession("8")

    // ---- build the 10× replica -----------------------------------------
    // documents ×10 (shifted doc_ids — the dd_dupspans corpus), nation
    // ×10 (shifted keys — the CDC/REST fixture table); everything else
    // copied 1× so unrelated fixture setup stays comparable.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    def replicate(table: String, key: String, shift: Long): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val kt = base.schema(key).dataType // + lit(Long) must not widen the key
      (0 until scale).map(i =>
        base.withColumn(key, (col(key) + lit(i * shift)).cast(kt)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    replicate("documents", "doc_id", 10000000L)
    replicate("nation", "n_nationkey", 1000L)
    replicate("embeddings", "vec_id", 10000000L) // the ANN index corpus
    // the q-family fact tables replicate on a CONSISTENT order-key
    // shift, so orders↔lineitem joins keep matching while dim keys
    // (cust/part/supp) stay in the 1× domain — each dim row fans out
    // scale× fact rows, the real 100-TB shape
    replicate("lineitem", "l_orderkey", 100000000L)
    replicate("orders", "o_orderkey", 100000000L)
    Seq("region", "customer", "supplier", "part", "events").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[smoke] $name%-16s $dt%8.2f s  rows=$n")
      dt
    }
    // warm the JVM the same way Bench does
    spark.read.parquet(s"$dst/documents.parquet").count()
    spark.range(1000000).selectExpr("id % 7 AS k", "id")
      .groupBy("k").count().collect()

    // dd_dupspans at 10×: corpus-linear stages, and the PLAN must keep
    // its two keyed shuffles — no cartesian, no nested-loop flip.
    // queryExecution.toRdd drives THIS dataset's QueryExecution to its
    // final adaptive plan (Dataset.count() would plan a SEPARATE one)
    // without materializing the result on the driver
    val ds = SparkEntry.queries("dd_dupspans")(spark, dst)
    time("dd_dupspans")(ds.queryExecution.toRdd.count())
    val plan = ds.queryExecution.executedPlan.toString
    require(!plan.contains("CartesianProduct"),
      s"dd_dupspans plan degraded: CartesianProduct at ${scale}x")
    require(!plan.contains("BroadcastNestedLoop"),
      s"dd_dupspans plan degraded: BroadcastNestedLoopJoin at ${scale}x")

    // dd_incr_persist's RECURRING op at scale: indexScreen of a FIXED
    // delta against a `scale`× persisted corpus index — THE daily
    // 100 TB operation. init is the once-ever cost (corpus-linear by
    // design); the SCREEN must track the DELTA — probes rank under the
    // stored dfreq and touch only matched posting lists — so its row
    // should stay near-flat across SPARK_GRAFT_SCALE=10/30/100 while
    // init grows linearly. The delta is the 1× %100==0 slice with
    // shifted ids (disjoint from every replicated corpus id).
    locally {
      val t = 0.9
      val cat = "gsmk" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val root = operators.GateScratch.register(java.nio.file.Files.createTempDirectory(s"graft-$cat"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      spark.sql(s"CREATE NAMESPACE $cat.r")
      spark.sql(s"CREATE NAMESPACE $cat.r.main.dd")
      val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
      val corpus = spark.read.parquet(s"$dst/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter((col("doc_id") % 100).between(10, 19))
      time(s"dd_indexInit") {
        operators.Dedup.indexInit(spark, cat, repo, "main", corpus, t)
        spark.table(s"$cat.r.main.dd.docs").count()
      }
      val delta = spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      time("dd_indexScreen")(
        operators.Dedup.indexScreen(spark, cat, "r", "main", delta, t)
          .count())
      // the OTHER recurring half of the daily cycle: admit the same
      // fixed delta (screen + atomic docs/postings append). Cost must
      // track the delta across SPARK_GRAFT_SCALE like the screen —
      // the stored dfreq is scanned via a broadcast semi, never
      // shuffled per admit (shuffle-volume-asserted in
      // DedupIncrementalSpec; this row records the wall-clock curve)
      time("dd_indexAdmit")(
        operators.Dedup.indexAdmit(spark, cat, repo, "main", delta, t)
          .count())
      // the MINHASH SKETCH MODE over the same corpus/delta: the bands
      // table holds a FIXED 8 rows per doc, and the screen prunes it to
      // the delta's (band, bh) keys before any shuffle — its row must
      // track the delta across 10/30/100× exactly like the PPJoin
      // screen (the sketch's whole point is surviving vocabularies the
      // posting lists cannot)
      val catM = "gsmkmh" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val rootM = operators.GateScratch.register(
        java.nio.file.Files.createTempDirectory(s"graft-$catM"))
      spark.conf.set(s"spark.sql.catalog.$catM",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$catM.root", rootM.toString)
      spark.sql(s"CREATE NAMESPACE $catM.r")
      spark.sql(s"CREATE NAMESPACE $catM.r.main.dd")
      val repoM = graft.versioned.GraftRepo.open(rootM.resolve("r"))
      time("dd_mhIndexInit") {
        operators.Dedup.indexInit(spark, catM, repoM, "main", corpus, t,
          "minhash")
        spark.table(s"$catM.r.main.dd.bands").count()
      }
      time("dd_mhIndexScreen")(
        operators.Dedup.indexScreen(spark, catM, "r", "main", delta, t)
          .count())
    }

    // BPE tokenizer training at scale: the replicated corpus has the
    // SAME vocabulary at every scale (shifted doc_ids, identical text),
    // so the K merge rounds are vocabulary-sized and the only part that
    // may track the corpus is the once-ever word-frequency pass — the
    // row must grow far slower than the corpus (sub-linear curve)
    time("tx_bpeTrain")(
      operators.TextAnalysis.bpeTrain(spark, dst, 4).size.toLong)

    // PERSISTED ANN index at scale: init is the once-ever corpus-linear
    // cost; the RECURRING halves must not track the corpus — APPEND of a
    // fixed 1× delta is O(delta) encode + one atomic commit (the stored
    // model broadcasts, the clash guard scans one pruned column), and
    // PROBE of a fixed query batch costs |Q| × cell width — cells hold
    // N/k = √N vectors, so the probe row grows as √scale (nprobe·√N
    // candidates), NEVER linearly, and the plan must stay keyed (no
    // cartesian, no nested-loop flip).
    locally {
      import graft.functions.TextVec._
      val cat = "gsann" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val root = operators.GateScratch.register(java.nio.file.Files.createTempDirectory(s"graft-$cat"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
      spark.sql(s"CREATE NAMESPACE $cat.r")
      spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
      val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
      val emb = spark.read.parquet(s"$dst/embeddings.parquet")
        .select(col("vec_id"), toDoubleVec(col("embedding")).as("nv"))
      time("ann_indexInit") {
        operators.Similarity.annIndexInit(spark, cat, repo, "main", emb)
        spark.table(s"$cat.r.main.ann.vectors").count()
      }
      // delta ids start one replica-shift past the LAST replica's ids,
      // so the append clash guard can never fire at any scale (a fixed
      // base like 2e9 would collide with replicated ids at scale >= 200)
      val deltaShift = (scale + 1).toLong * 10000000L
      val delta = spark.read.parquet(s"$src/embeddings.parquet")
        .select((col("vec_id") + lit(deltaShift)).as("vec_id"),
          toDoubleVec(col("embedding")).as("nv"))
      time("ann_indexAppend") {
        operators.Similarity.annIndexAppend(spark, cat, repo, "main", delta)
        delta.count()
      }
      val qs = spark.read.parquet(s"$src/embeddings.parquet")
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          toDoubleVec(col("embedding")).as("qv"))
        .withColumn("qn", l2norm(col("qv")))
      // construction runs EAGER work (model load, query-cell ranking
      // checkpoints, probed-cell collect) whose cost also tracks the
      // corpus — time the whole probe, not just the final count
      time("ann_indexProbe") {
        val probe =
          operators.Similarity.annIndexProbe(spark, cat, "r", "main", qs)
        // drive the probe's OWN QueryExecution (count() plans a separate
        // one whose final plan the assert would never see), no driver
        // materialization
        val n = probe.queryExecution.toRdd.count()
        // assert on the POST-execution plan: AQE's final join picks are
        // only visible after the run (a pre-execution string could hide
        // a runtime flip to a nested-loop at larger scales)
        val pplan = probe.queryExecution.executedPlan.toString
        require(!pplan.contains("CartesianProduct"),
          s"ann_indexProbe plan degraded: CartesianProduct at ${scale}x")
        require(!pplan.contains("BroadcastNestedLoop"),
          s"ann_indexProbe plan degraded: BroadcastNestedLoopJoin at ${scale}x")
        n
      }
    }

    // DISTRIBUTED-centroid ANN at scale: force maxModelK below the √N
    // rule so the router path trains/serves (at real 100 TB scale this
    // happens naturally past ~16M vectors; here the clamp is lowered to
    // exercise the same code on the replica). The probe row must keep
    // the √scale shape: the fine model is a TABLE, queries route via
    // the coarse router (keyed joins only), so candidate width stays
    // nprobe·N/k = nprobe·√N — the old clamp's linear nprobe·N/4096
    // growth is exactly what this path removes.
    locally {
      import graft.functions.TextVec._
      val prevK = spark.conf.getOption("spark.graft.kmeans.maxModelK")
      spark.conf.set("spark.graft.kmeans.maxModelK", "64")
      try {
        val cat = "gsannd" + java.util.UUID.randomUUID().toString
          .replace("-", "").take(10)
        val root = operators.GateScratch.register(java.nio.file.Files.createTempDirectory(s"graft-$cat"))
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.catalog.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
        spark.sql(s"CREATE NAMESPACE $cat.r")
        spark.sql(s"CREATE NAMESPACE $cat.r.main.ann")
        val repo = graft.versioned.GraftRepo.open(root.resolve("r"))
        val emb = spark.read.parquet(s"$dst/embeddings.parquet")
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("nv"))
        time("annd_indexInit") {
          operators.Similarity.annIndexInit(spark, cat, repo, "main", emb)
          val k = spark.table(s"$cat.r.main.ann.centroids").count()
          val n = spark.table(s"$cat.r.main.ann.vectors").count()
          val coarseK = spark.table(s"$cat.r.main.ann.coarse").count()
          // assert the MODE, not a centroid count (empty Lloyd cells can
          // shrink k; sqrt truncation makes count thresholds off-by-one):
          // distributed mode always stores a coarse router, and it must
          // engage exactly when the sqrt-N rule exceeds the forced cap
          val kWant = math.max(4, math.sqrt(n.toDouble).toInt)
          require((coarseK > 0) == (kWant > 64),
            s"dispatch mismatch: coarse_k=$coarseK for kWant=$kWant " +
              s"(n=$n, cap 64) at ${scale}x")
          k
        }
        val deltaShift = (scale + 1).toLong * 10000000L
        val delta = spark.read.parquet(s"$src/embeddings.parquet")
          .select((col("vec_id") + lit(deltaShift)).as("vec_id"),
            toDoubleVec(col("embedding")).as("nv"))
        time("annd_indexAppend") {
          operators.Similarity.annIndexAppend(spark, cat, repo, "main", delta)
          delta.count()
        }
        val qs = spark.read.parquet(s"$src/embeddings.parquet")
          .filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"),
            toDoubleVec(col("embedding")).as("qv"))
          .withColumn("qn", l2norm(col("qv")))
        time("annd_indexProbe") {
          val probe =
            operators.Similarity.annIndexProbe(spark, cat, "r", "main", qs)
          val n = probe.queryExecution.toRdd.count() // drive THIS QE (see above)
          val pplan = probe.queryExecution.executedPlan.toString
          require(!pplan.contains("CartesianProduct"),
            s"annd_indexProbe plan degraded: CartesianProduct at ${scale}x")
          require(!pplan.contains("BroadcastNestedLoop"),
            s"annd_indexProbe plan degraded: BroadcastNestedLoopJoin at ${scale}x")
          n
        }
      } finally prevK match {
        case Some(v) => spark.conf.set("spark.graft.kmeans.maxModelK", v)
        case None => spark.conf.unset("spark.graft.kmeans.maxModelK")
      }
    }

    // CDC + REST gates on the 10× nation: cost must track the CHANGE
    // volume (10× rows per batch on a still-tiny table ⇒ near-pin
    // times), and every gate must complete unchanged
    Seq("vc_cdc_read", "vc_cdc_apply", "vc_ice_cdc_read",
      "vc_rest_read", "vc_rest_commit", "vc_rest_rewrite",
      "vc_rest_evolve", "vc_rest_ctas", "vc_rest_mor",
      "vc_rest_view", "vc_rest_partevo", "vc_rest_posdel",
      "vc_rest_register", "vc_rest_txn", "vc_rest_replace",
      "vc_rest_rollback", "vc_show_tables", "vc_procedures").foreach { q =>
      time(q)(SparkEntry.queries(q)(spark, dst).count())
    }
    // ---- q-family headline queries on the replicated fact tables -------
    // The same 100-TB evidence class the dd/ann sections carry: run the
    // five headline relational shapes on scale× lineitem/orders and
    // REQUIRE the post-AQE physical plan kept its shape — explicitly
    // broadcast dims stayed broadcast after AQE's runtime re-plan, no
    // join flipped to a cartesian/nested-loop, aggregates stayed
    // partial (map-side combine before the exchange), and the global
    // top-k stayed a TakeOrdered, never a total sort.
    def qPlan(q: String, asserts: Seq[(String, String => Boolean)]): Unit =
      time(q) {
        val df = SparkEntry.queries(q)(spark, dst)
        // queryExecution.toRdd, not count(): count() plans a SEPARATE
        // QueryExecution, leaving df's own executedPlan un-executed — its
        // toString would print the INITIAL (pre-AQE) plan and the asserts
        // would never see a runtime demotion. toRdd drives THIS QE to its
        // final adaptive plan without materializing rows on the driver.
        val n = df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("CartesianProduct"),
          s"$q plan degraded: CartesianProduct at ${scale}x")
        require(!plan.contains("BroadcastNestedLoop"),
          s"$q plan degraded: BroadcastNestedLoopJoin at ${scale}x")
        asserts.foreach { case (what, ok) =>
          require(ok(plan), s"$q plan degraded: $what at ${scale}x")
        }
        n
      }
    def countOf(token: String)(plan: String): Int =
      plan.sliding(token.length).count(_ == token)
    qPlan("q01_agg", Seq(
      // partial + final aggregate pair = map-side combine held
      "partial aggregation" -> (p => countOf("HashAggregate")(p) >= 2)))
    qPlan("q03_join_agg", Seq(
      "customer broadcast" -> (_.contains("BroadcastHashJoin")),
      "top-k via TakeOrdered" -> (_.contains("TakeOrdered"))))
    qPlan("q05_multi_join", Seq(
      // nation×region dims AND supplier both explicitly broadcast —
      // AQE's re-plan must keep them broadcast, never demote to SMJ
      "two broadcast joins" ->
        (p => countOf("BroadcastHashJoin")(p) >= 2)))
    qPlan("q22_asof_join", Seq(
      // the as-of lowers to keyed shuffles + window, never a band/theta
      // join (those surface as cartesian/BNLJ, asserted above)
      "windowed as-of" -> (_.contains("Window"))))
    qPlan("q25_topk", Seq(
      "global top-k via TakeOrdered" -> (_.contains("TakeOrdered"))))
    println(s"[smoke] replica at $dst (delete when done)")
    spark.stop()
  }
}
