package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** A frame whose scan claims `HashPartitioning(key, n)` whatever its rows'
  * real layout and partition count: the upstream operator that leaves
  * [[KeyedCheckpoint]] with the wrong partition count. */
object ClaimedLayout {
  def apply(df: DataFrame, key: String, n: Int): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val output = df.queryExecution.analyzed.output
    classic.Dataset.ofRows(session, LogicalRDD(output, df.queryExecution.toRdd.map(_.copy()),
      HashPartitioning(output.filter(_.name == key), n), Nil, isStreaming = false)(session))
  }
}
