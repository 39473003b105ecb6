package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place graft truncates a DataFrame's lineage. The checkpoint
  * kind is a property of the SparkContext, not of the call site:
  *
  *  - LOCAL (no checkpoint directory, as in every graft entry point):
  *    `localCheckpoint` keeps the rows as executor blocks. Fast, but a
  *    lost block (executor gone, block evicted) fails the next read with
  *    Spark's checkpoint-block-not-found error.
  *  - RELIABLE (a directory from Spark's `spark.checkpoint.dir` setting
  *    or `setCheckpointDir`): `checkpoint` writes the rows there, so a
  *    read after a lost executor rereads the files. Always eager, since
  *    a lazy reliable checkpoint recomputes its input for its write job.
  *    On a local directory the write goes through Hadoop's local
  *    filesystem, which forks processes for file status (a 10-row
  *    checkpoint starts 14 processes and takes 71 ms), and the files
  *    stay until `spark.cleaner.referenceTracking.cleanCheckpoints` lets
  *    the ContextCleaner reclaim them with their RDD.
  *
  * Either kind runs the input plan once, so an `observe` on the truncated
  * frame counts each row once.
  */
object Lineage {

  /** `df` materialized behind a constant-depth plan. `eager = false`
    * defers the local kind to the first action that reads it.
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager)

  /** Drops the blocks a local [[truncate]] pinned, once nothing reads
    * `df` any more, rather than leave them until a driver GC lets the
    * ContextCleaner notice. A reliable truncation persists nothing.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist()
    case _ => ()
  }
}
