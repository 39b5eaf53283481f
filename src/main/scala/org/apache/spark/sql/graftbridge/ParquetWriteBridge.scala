package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge for `graft.versioned.TableOps.writeFiles` (`private[sql]`
  * surface): how a DataFrame's rows reach graft's one data-file writer —
  * either already local on the driver, or streamed through one Spark job
  * that runs a writer per partition.
  */
object ParquetWriteBridge {

  /** The already-local rows (and their exact attribute schema) of a
    * frame whose optimized plan is a LocalRelation of at most `maxRows`
    * rows — the shape of every model/metadata-sized table the commit
    * path stages (a 1-row drift log, the PQ codebook, ann/meta, …).
    * Column-pruning/projection over a local frame folds into the
    * LocalRelation (ConvertToLocalRelation), so renamed/derived local
    * frames qualify too. Returns None for anything distributed, any
    * row-count past the cap, or an output that no longer matches the
    * frame's declared column order.
    */
  def localRows(df: org.apache.spark.sql.DataFrame, maxRows: Int)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    // a coalesce over local rows (the model tables' `.coalesce(1)` —
    // a single-file request the driver write satisfies by construction)
    // is still the same local rows
    def unwrap(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
      p match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(l)
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
            if !r.shuffle => unwrap(r.child)
        case _ => None
      }
    unwrap(ds.queryExecution.optimizedPlan) match {
      case Some(l) if l.data.length <= maxRows &&
          l.output.map(_.name) == ds.schema.fieldNames.toSeq =>
        Some((l.schema, l.data))
      case _ => None
    }
  }

  /** `schema` with every field, element and value nullable — the shape
    * Spark's own file writers give the files they write.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Run `df` as ONE Spark job (one SQL execution) whose tasks each hand
    * their partition's rows to `task` (partition id, task attempt id,
    * rows) and return its commit message.
    */
  def writeTasks(df: org.apache.spark.sql.DataFrame)(
      task: (Int, Long, Iterator[InternalRow]) => WriterCommitMessage)
      : Seq[WriterCommitMessage] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      qe.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        Iterator.single(task(pid, TaskContext.get().taskAttemptId(), rows))
      }.collect().toSeq
    }
  }
}
