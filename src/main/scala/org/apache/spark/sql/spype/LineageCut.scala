package org.apache.spark.sql.spype

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one lineage cut: materialize a frame to executor blocks
  * and continue from a leaf scan of them, so downstream plans stay small
  * however deep the upstream grew.
  *
  * A bare `localCheckpoint` does that, but on Spark 4.1 its leaf
  * (`LogicalRDD`) keeps the hash/range partitioning and ordering of the
  * plan it cut, and their expression ids survive canonicalization. The
  * leaf is then not `sameResult` to its own `newInstance()` copy, so a
  * self-join over it (or over anything built on it) plans no
  * `ReusedExchange`, and a cache over a frame that reads it twice is
  * missed by the second read. [[apply]] re-wraps the checkpointed RDD
  * with `UnknownPartitioning` and no ordering and keeps the leaf's
  * statistics and constraints, so broadcast planning sees the same size.
  * The price is one extra exchange where a consumer could have reused
  * the cut's own partitioning. LineageCutSpec pins the behaviour and
  * holds a canary that fails once Spark fixes the bare leaf; then this
  * file can go.
  *
  * The blocks live on executors: one lost executor loses the cut, as
  * with any `localCheckpoint`. A cluster job that must survive executor
  * loss checkpoints to reliable storage instead (see
  * `graft.text.Dedup.connectedComponents`).
  */
object LineageCut {

  /** Materializes `df` now (one job) and returns a frame that reads the
    * materialized blocks. Free them with [[release]]. */
  def apply(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          LogicalRDD(r.output, r.rdd, UnknownPartitioning(r.rdd.getNumPartitions),
            Nil, r.isStreaming)(session, Some(r.computeStats()), Some(r.constraints)))
      case other => throw new IllegalStateException(
        s"localCheckpoint planned ${other.nodeName}, not a LogicalRDD leaf")
    }
  }

  /** Drops the blocks behind each cut (no job). A cut must not be read
    * after its release. Only a frame returned by [[apply]] is accepted:
    * a projection or filter over a cut holds no blocks of its own. */
  def release(cuts: DataFrame*): Unit = cuts.foreach { c =>
    c.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"release takes a LineageCut, got a ${other.nodeName} plan")
    }
  }
}
