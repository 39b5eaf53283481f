package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage lifecycle for `localCheckpoint()`ed DataFrames.
  *
  * A local checkpoint persists the materialized RDD and truncates the
  * plan to a [[LogicalRDD]] — but `Dataset.unpersist` only talks to the
  * CacheManager, which never saw that RDD, so checkpoint blocks live
  * until the JVM garbage-collects the RDD object and the ContextCleaner
  * gets around to dropping its blocks. In a long-lived session running
  * many queries (the 105-query bench JVM; any real multi-query user
  * session at scale) those blocks pile up in the block manager and
  * crowd the unified memory region long after the checkpoint is dead —
  * measured as multi-second inflation of later shuffle-heavy queries.
  *
  * Two remedies, both here because [[LogicalRDD]] is `private[sql]`:
  *
  *  - [[unpersist]] — targeted: frees a checkpoint an iterative
  *    operator (connected components' per-round label tables) has
  *    superseded, safe exactly because the caller proves the DataFrame
  *    is never referenced again.
  *  - [[sweepPersistentRDDs]] — coarse: after a query's action
  *    completes, drop EVERY persisted RDD in the context (checkpoints
  *    of finished queries are unreachable-by-construction between
  *    harness queries; `df.persist` users in this codebase are all
  *    query-scoped too).
  *
  * [[observedCheckpoint]] is the one way operators take a checkpoint
  * together with an aggregate over it.
  */
object CheckpointLifecycle {

  /** Eager `localCheckpoint()` of `df` plus the aggregates
    * `metric +: more` observed on the checkpoint's own job
    * (Dataset.observe) — a row count, a convergence count or a drift
    * percentile costs no second pass over the blocks. Returns the
    * checkpoint and the observed row. A row that fails to surface
    * throws: recomputing it would silently double the job.
    */
  def observedCheckpoint(df: DataFrame, metric: Column, more: Column*)
      : (DataFrame, Row) = {
    val name = "graft_obs_" + java.util.UUID.randomUUID().toString.take(8)
    val observed = df.observe(name, metric, more: _*)
    val ck = observed.localCheckpoint()
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"observation $name did not surface after localCheckpoint()"))
    (ck, row)
  }

  /** Free the checkpoint blocks backing `df`. The caller asserts `df`
    * (and every DataFrame derived from it) is dead: the blocks are the
    * ONLY copy of the data — the lineage was truncated — so any later
    * action on it would fail.
    */
  def unpersist(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Drop every persisted RDD registered with the session's context —
    * the between-queries sweep for harness mains. Blocking so storage
    * is provably flat before the next query's timer starts.
    */
  def sweepPersistentRDDs(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
