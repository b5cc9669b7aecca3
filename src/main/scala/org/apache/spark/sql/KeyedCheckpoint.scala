package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** A `localCheckpoint` that keeps the hash layout it was cut on.
  *
  * `localCheckpoint` hands back a scan with `UnknownPartitioning` under
  * AQE (the checkpoint reads the adaptive wrapper's partitioning, not the
  * final plan's), so a frame repartitioned on its key before the cut still
  * shuffles again in every join that reads it. This repartitions `df` into
  * exactly `spark.sql.shuffle.partitions` buckets of `key` (a
  * `REPARTITION_BY_NUM`, which AQE never coalesces), checkpoints it, and
  * re-wraps the checkpoint with the `HashPartitioning(key, n)` it really
  * has — two such frames then join on their keys with no Exchange.
  * The cut is lazy: lineage ends here, and the blocks materialize inside
  * the first job that reads the result. Throws if the checkpoint does not
  * have exactly n partitions (a repartition Catalyst dropped because an
  * upstream operator claimed the layout already).
  */
object KeyedCheckpoint {
  def apply(df: DataFrame, key: String): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val n = conf.numShufflePartitions
    val cut = df.repartition(n, functions.col(key)).localCheckpoint(false)
    val lr = cut.queryExecution.logical.asInstanceOf[LogicalRDD]
    val parts = lr.rdd.getNumPartitions
    if (parts != n) throw new IllegalStateException(
      s"KeyedCheckpoint on `$key`: the checkpoint has $parts partitions, expected $n " +
        "(spark.sql.shuffle.partitions) — an upstream operator claims a hash layout it does not have")
    val keyAttr = lr.output.find(a => conf.resolver(a.name, key)).get
    classic.Dataset.ofRows(session,
      LogicalRDD(lr.output, lr.rdd, HashPartitioning(Seq(keyAttr), n), Nil, isStreaming = false)(
        session, Some(lr.stats), Some(lr.constraints)))
  }

  /** `cut`, a checkpoint from [[apply]] that a finished job has materialized,
    * with its stored size as its statistics. The size recorded at the cut is
    * the estimate of the plan it cut, and that estimate multiplies through
    * every join, so a small state several joins deep (477 rows estimated at
    * 15 GiB) would never be broadcast into a caller's join. */
  def measured(cut: DataFrame): DataFrame = {
    val session = cut.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = cut.queryExecution.logical.asInstanceOf[LogicalRDD]
    val bytes = session.sparkContext.getRDDStorageInfo
      .filter(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize).sum
    classic.Dataset.ofRows(session, lr.copy()(
      session, Some(Statistics(sizeInBytes = bytes)), Some(lr.constraints)))
  }
}
