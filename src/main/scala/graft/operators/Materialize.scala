package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Where a frame is pinned, and the one policy for pinning it: every
  * checkpoint in the engine goes through this object. The caller picks the
  * entry by what it does next.
  *
  *  - [[Materialize.apply]] (eager): one job computes every partition
  *    before the call returns. For every frame that has no pass of its own
  *    right after the checkpoint: a frame several consumers or a
  *    multi-stage plan read, a snapshot read after a mutation, a lineage
  *    cut inside a loop.
  *  - [[Materialize.by]] (lazy): only where the site already runs one pass
  *    right after checkpointing. The pass runs at once, over the
  *    checkpointed frame, and fills it as a side effect, so the eager
  *    form's separate job is saved.
  *
  * A lazy local checkpoint runs the plan's exchanges when it is taken and
  * defers only the final stage. The first job over the frame computes the
  * partitions it reads; when that job ends, Spark 4.1's
  * `LocalRDDCheckpointData.doCheckpoint` runs one more job over the
  * partitions the block manager lacks, then cuts the lineage. A partial
  * first action (`isEmpty`, `limit`) therefore costs one extra fill job
  * and loses nothing. What a lazy frame must not meet is a second job
  * reading it before it is filled: concurrent AQE stage jobs then race on
  * its unfilled partitions (`Block rdd_N_M already exists on this
  * machine`) and report SQL metrics that the checkpoint's finished query
  * has dropped (`Failed to update accumulator`). So [[Materialize.by]]
  * returns only a frame that reads as checkpointed
  * ([[Materialize.isMaterialized]]). When the pass ends without that (it
  * read the frame only through a later checkpoint, whose fill stops
  * Spark's walk there), the helper runs the same `doCheckpoint` itself:
  * one job over the partitions still missing, none when the pass stored
  * them all.
  *
  * Both entries pin into executor block storage, which a lost executor
  * takes with it. The [[Materialize.Warehouse]] mode writes parquet
  * instead.
  */
sealed trait Materialize

object Materialize {

  /** An eager local checkpoint into executor block storage. */
  case object Checkpoint extends Materialize

  /** Parquet at `path`, read back: durable, for a stage executor storage
    * cannot hold, and the re-read prunes columns and filters like any
    * scan.
    */
  final case class Warehouse(path: String) extends Materialize

  /** `df` computed once, every partition before the call returns. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df` materialized the way `mode` says. */
  def apply(df: DataFrame, mode: Materialize): DataFrame = mode match {
    case Checkpoint => apply(df)
    case Warehouse(path) =>
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
  }

  /** `df` checkpointed, `firstPass` run over it at once, and the frame
    * fully materialized on return, with the pass's result.
    */
  def by[T](df: DataFrame)(firstPass: DataFrame => T): (DataFrame, T) = {
    val frame = df.localCheckpoint(false)
    val result = firstPass(frame)
    checkpointed(frame).filterNot(_.isCheckpointed).foreach(ColumnBridge.completeCheckpoint)
    (frame, result)
  }

  /** True when `frame` is a checkpoint whose every partition is stored. */
  def isMaterialized(frame: DataFrame): Boolean = checkpointed(frame).exists(_.isCheckpointed)

  private def checkpointed(frame: DataFrame) = frame.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _             => None
  }
}
