package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow bridge into `private[sql]` surface: stripping ORIGIN
  * STATISTICS from checkpointed frames.
  *
  * `Dataset.checkpoint`/`localCheckpoint` wrap the materialized RDD in
  * a `LogicalRDD` that CARRIES the pre-checkpoint plan's estimated
  * `Statistics`. In an iterative algorithm the round-r state is a
  * checkpoint whose stats are a PRODUCT over the round's join tree of
  * the round-(r-1) checkpoint's stats — so the estimated sizeInBytes
  * compounds geometrically in the number of per-round self-references.
  * For a join-heavy loop (Louvain references its assignment ~18 times
  * per round) the estimate reaches millions of DIGITS within a few
  * rounds and Catalyst's size estimator burns unbounded CPU in
  * BigInteger multiplication during every planning pass (observed:
  * multi-level Louvain planning-hung at level 2). The stripped frame
  * keeps the SAME checkpointed RDD, partitioning and ordering — only
  * `originStats` (and the constraints) are dropped. */
object InternalBridge {
  def stripOriginStats(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        // second parameter list defaults: originStats + constraints
        // revert to None
        Dataset.ofRows(df.sparkSession.asInstanceOf[ClassicSession],
          new LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(
            df.sparkSession.asInstanceOf[ClassicSession]))
      case _ => df
    }
}
