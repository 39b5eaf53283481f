package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointLifecycle
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `CheckpointLifecycle.observedCheckpoint` — the one observe-and-
  * checkpoint helper the operators take their row counts, convergence
  * counts and drift percentiles from — and `GraftConf`, the one reader
  * of the `spark.graft.*` session confs and `graft.*` system properties.
  */
class ObservedCheckpointSpec extends AnyFunSuite with Matchers
    with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def countAndSum(df: DataFrame): (DataFrame, Row) =
    CheckpointLifecycle.observedCheckpoint(df, count(lit(1)).as("n"),
      coalesce(sum(col("id")), lit(0L)).as("s"))

  test("observedCheckpoint returns the observed row with the checkpoint " +
    "on an empty input, a shuffle plan and a LocalRelation") {
    import spark.implicits._
    val local = Seq(4L, 5L).toDF("id")
    local.queryExecution.optimizedPlan shouldBe a[LocalRelation]
    val cases = Seq(
      ("empty", spark.range(0).toDF(), Row(0L, 0L)),
      ("distinct", spark.range(0, 100, 1, 4)
        .select((col("id") % 3).as("id")).distinct(), Row(3L, 3L)),
      ("local", local, Row(2L, 9L)))
    cases.foreach { case (name, df, expected) =>
      withClue(s"$name: ") {
        val (ck, obs) = countAndSum(df)
        obs shouldBe expected
        ck.count() shouldBe expected.getLong(0)
        ck.queryExecution.analyzed.getClass.getSimpleName shouldBe "LogicalRDD"
      }
    }
  }

  test("observedCheckpoint runs exactly the Spark jobs of a plain " +
    "localCheckpoint() of the same plan") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Any): Int = {
      org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.graftbridge.TestListenerBridge.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plans: Seq[() => DataFrame] = Seq(
        () => spark.range(0, 1000, 1, 4).toDF(),
        () => spark.range(0, 1000, 1, 4)
          .select((col("id") % 7).as("id")).distinct())
      plans.foreach { plan =>
        val plain = jobsOf(plan().localCheckpoint())
        plain should be > 0
        jobsOf(countAndSum(plan())) shouldBe plain
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("GraftConf: an unparseable spark.graft.* value throws naming the " +
    "key and the value instead of running as the default") {
    import spark.implicits._
    val docs = (0L until 4L).toDF("doc_id")
    val chain = (0L until 3L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.cc.maxRounds", "abc")
    try {
      val e = intercept[IllegalArgumentException] {
        operators.Dedup.connectedComponents(docs, chain).count()
      }
      e.getMessage should include("spark.graft.cc.maxRounds=abc")
    } finally spark.conf.unset("spark.graft.cc.maxRounds")
    // the graft.* JVM system properties: unset reads as the default, an
    // unparseable value (`1k`) throws instead of reading as the default
    val props: Seq[(String, Long, () => Long)] = Seq(
      ("graft.manifest.inline.max", 256L,
        () => versioned.Manifests.inlineMax.toLong),
      ("graft.manifest.target", 1024L,
        () => versioned.Manifests.targetChunk.toLong),
      ("graft.manifest.cache.entries", 1000000L,
        () => versioned.Manifests.cacheEntries),
      ("graft.tree.inline.max", 256L, () => versioned.Trees.inlineMax.toLong),
      ("graft.tree.target", 512L, () => versioned.Trees.targetChunk.toLong),
      ("graft.tree.cache.entries", 500000L,
        () => versioned.Trees.cacheEntries))
    props.foreach { case (key, default, read) =>
      val saved = sys.props.get(key)
      try {
        sys.props -= key
        read() shouldBe default
        sys.props(key) = "1k"
        intercept[IllegalArgumentException](read())
          .getMessage should include(s"$key=1k")
      } finally saved.fold(sys.props -= key)(sys.props += key -> _)
    }
  }

  test("GraftConf: an out-of-range spark.graft.* value throws naming the " +
    "key and the value") {
    import spark.implicits._
    val cents = Seq((0L, Seq(1.0, 2.0))).toDF("cell", "cv")
    spark.conf.set("spark.graft.kmeans.maxModelK", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        operators.Similarity.collectCentroids(spark, cents)
      }
      e.getMessage should include("spark.graft.kmeans.maxModelK=0")
    } finally spark.conf.unset("spark.graft.kmeans.maxModelK")
    // the range is per key: bitmaskVocabMax=0 disables the bitmask path
    val key = "spark.graft.setsim.bitmaskVocabMax"
    def vocabMax(v: String): Int = {
      spark.conf.set(key, v)
      try GraftConf.int(spark, key, 64, min = 0)
      finally spark.conf.unset(key)
    }
    vocabMax("0") shouldBe 0
    intercept[IllegalArgumentException](vocabMax("-1"))
      .getMessage should include(s"$key=-1")
  }
}
