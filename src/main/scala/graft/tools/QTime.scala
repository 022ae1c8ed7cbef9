package graft.tools

import graft.{Bench, ScaleConfig, SparkEntry, Tables}

/** Ad-hoc single-query timer for scale-fix verification: runs the named
  * registry queries against a corpus dir under the cluster posture
  * (AQE on — [[graft.ScaleConfig.cluster]]), one warm-up pass then one
  * timed pass each, and prints seconds + row counts.
  *
  * Run: `sbt "runMain graft.tools.QTime <dir> <q1> [q2 ...]"`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = ScaleConfig.session(ScaleConfig.cluster, ScaleConfig.shufflePartitions(64))
    Tables.names.foreach(n => Tables.load(spark, dir, n).persist().count())
    // burn-in: absorb the cache-materialization eviction/GC churn before
    // anything is timed (the ScaleCheck discipline — without it the
    // first query reads 2-10x its steady-state time at 100x)
    Tables.names.foreach(n => Tables.load(spark, dir, n).count())
    // per-SESSION dispatch-floor probe (the Bench/BenchAmp shape), so a
    // flagged-row re-measure carries its own drift normalizer — the
    // r9-verdict protocol for adjudicating ScaleCheck superlinear flags
    val factRows = Tables.load(spark, dir, "lineitem").count()
    println(f"floor_per_query ${Bench.dispatchFloor(spark, factRows)}%8.3f s")
    // QTIME_STAGES=1: per-stage task metrics for the TIMED pass (the
    // guide-§7 attribution view — which stage, how many tasks, executor
    // run vs wall), so a flagged query's cost lands on an operator
    // instead of a guess. QTIME_COLD=1 skips the warm pass (attributes
    // codegen/cache-population cost honestly for one-shot shapes).
    val dumpStages = sys.env.get("QTIME_STAGES").contains("1")
    val cold = sys.env.get("QTIME_COLD").contains("1")
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
    if (dumpStages) {
      import org.apache.spark.scheduler._
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          stages.add((si.stageId, si.numTasks, wall,
            si.taskMetrics.executorRunTime, si.name.take(80)))
        }
      })
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (!cold) fn(spark, dir).collect() // warm: codegen + cache
      stages.clear()
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).collect().length
      println(f"$name%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$rows")
      if (dumpStages) {
        ListenerDrain.await(stages.size)
        Iterator.continually(stages.poll()).takeWhile(_ != null).toList
          .sortBy(-_._3).take(12).foreach { case (id, nt, wall, run, nm) =>
            println(f"    stage $id%4d tasks=$nt%4d wall=$wall%7d ms run=$run%8d ms  $nm")
          }
      }
    }
    spark.stop()
  }
}
