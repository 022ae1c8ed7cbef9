package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.spype.LineageCut

/** [[org.apache.spark.sql.spype.LineageCut]] keeps what a bare
  * `localCheckpoint` loses on this Spark: plan matching across copies of
  * the cut leaf (exchange reuse, cache hits), at the same size estimate. */
class LineageCutSpec extends SparkSpec {

  /** Runs `body` under the bench posture's AQE off and no broadcasts, so
    * the checkpointed frame keeps its shuffle's hash partitioning and
    * self-joins plan their exchanges statically. */
  private def staticPlans[T](body: => T): T = {
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame whose physical plan ends in a hash exchange on `k`. */
  private def hashed: DataFrame = spark.range(0, 5000)
    .select((col("id") % 97).as("k"), col("id").as("v"))
    .groupBy("k").agg(sum("v").as("s"))

  private def sameAsCopy(df: DataFrame): Boolean = {
    val leaf = df.queryExecution.logical
    leaf.sameResult(leaf.asInstanceOf[MultiInstanceRelation].newInstance())
  }

  private def reusedExchanges(df: DataFrame): Int = {
    val g = df.groupBy((col("s") % 10).as("b")).agg(count(lit(1)).as("n"))
    val self = g.join(g.select(col("b"), col("n").as("n2")), "b")
    "ReusedExchange".r.findAllMatchIn(self.queryExecution.executedPlan.toString).size
  }

  test("a cut's leaf matches its own copy and its self-join reuses the exchange") {
    staticPlans {
      val cut = LineageCut(hashed)
      try {
        assert(sameAsCopy(cut))
        assert(reusedExchanges(cut) >= 1)
      } finally LineageCut.release(cut)
    }
  }

  test("a cut keeps localCheckpoint's size estimate and rows") {
    staticPlans {
      val ck = hashed.localCheckpoint()
      val cut = LineageCut(hashed)
      try {
        assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes ==
          ck.queryExecution.optimizedPlan.stats.sizeInBytes)
        assert(cut.orderBy("k").collect().toSeq == ck.orderBy("k").collect().toSeq)
      } finally LineageCut.release(cut, ck)
    }
  }

  test("release drops the cut's blocks and rejects a frame that is not a cut") {
    val cut = LineageCut(hashed)
    val id = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == id))
    // a filter over a cut holds no blocks: releasing it is a caller bug
    assertThrows[IllegalArgumentException](LineageCut.release(cut.filter(col("k") > 0)))
    LineageCut.release(cut)
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == id))
  }

  // Canary: when a Spark upgrade makes this fail, a bare localCheckpoint
  // matches its copies again and LineageCut can be deleted.
  test("canary: a bare hash-partitioned localCheckpoint does not match its copy") {
    staticPlans {
      val ck = hashed.localCheckpoint()
      try {
        assert(!sameAsCopy(ck))
        assert(reusedExchanges(ck) == 0)
      } finally LineageCut.release(ck)
    }
  }
}
