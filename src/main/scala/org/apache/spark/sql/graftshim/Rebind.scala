package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** A frame on another session: the frame's analyzed plan (not analyzed
  * again, so its functions stay the ones its own session resolved) as a
  * frame of `spark`, whose conf then plans every query over it. The
  * sessions of one SparkContext share the cache manager and the block
  * manager, so a rebound frame reads the persisted data and checkpoints
  * of the original.
  *
  * Lives under `org.apache.spark.sql` because `Dataset.ofRows` is
  * `private[sql]`, as [[CheckpointShim]] does. */
object Rebind {

  def apply(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
