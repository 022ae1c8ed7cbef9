package graft.tools

import graft.{SparkEntry, Tables}

/** Per-query time breakdown for the bench suite: plan BUILD (analysis +
  * optimization + physical planning, forced via `executedPlan`) vs
  * EXECUTE (collect on the already-planned Dataset) vs re-EXECUTE
  * (second collect on the same Dataset — pure job time, plan cached).
  * Separates Catalyst's per-query constant from actual execution so
  * bench tuning attacks the right term.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the SAME session and headline list as the bench — a profile under
    // different knobs would attribute time the real bench never spends
    val spark = graft.Bench.session()
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).persist().count())

    val names = graft.Bench.headlineNames
    def nowMs = System.nanoTime() / 1e6
    // warm-up: everything JITs/codegens once
    (1 to 2).foreach(_ => names.foreach(n => SparkEntry.queries(n)(spark, sfDir).collect()))
    println(f"${"query"}%-28s ${"build"}%8s ${"exec1"}%8s ${"exec2"}%8s")
    var (tb, t1, t2) = (0.0, 0.0, 0.0)
    names.foreach { n =>
      val a = nowMs
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.executedPlan // force full planning
      val b = nowMs
      df.collect()
      val c = nowMs
      df.collect()
      val d = nowMs
      tb += b - a; t1 += c - b; t2 += d - c
      println(f"$n%-28s ${b - a}%8.1f ${c - b}%8.1f ${d - c}%8.1f")
    }
    println(f"${"TOTAL"}%-28s $tb%8.1f $t1%8.1f $t2%8.1f")

    // stage-level anatomy of ONE fresh execution per query: where the
    // wall time goes — inside tasks (executor run) or between them
    // (scheduling gaps, serialization, codegen, broadcast build)
    import org.apache.spark.scheduler._
    // events arrive on the async listener-bus thread while the main
    // thread drains per query — a concurrent queue gives safe publish
    // and a happens-before edge (an ArrayBuffer would race)
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages.add((si.stageId, si.numTasks, wall,
          si.taskMetrics.executorRunTime,
          si.taskMetrics.executorDeserializeTime,
          si.taskMetrics.jvmGCTime))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    println(f"\n${"query"}%-28s ${"stages"}%6s ${"tasks"}%6s ${"stageWall"}%9s ${"run"}%7s ${"deser"}%7s ${"gc"}%5s ${"wall"}%8s")
    names.foreach { n =>
      stages.clear()
      val a = nowMs
      SparkEntry.queries(n)(spark, sfDir).collect()
      val w = nowMs - a
      ListenerDrain.await(stages.size)
      // drain a SNAPSHOT: late events (bus backlog > the wait) belong
      // to this query but would otherwise leak into the next window
      val drained = Iterator.continually(stages.poll()).takeWhile(_ != null).toList
      val (nt, sw, run, de, gc) = drained.foldLeft((0, 0L, 0L, 0L, 0L)) {
        case ((t, s, r, d, g), (_, t2, s2, r2, d2, g2)) => (t + t2, s + s2, r + r2, d + d2, g + g2)
      }
      println(f"$n%-28s ${drained.size}%6d $nt%6d $sw%9d $run%7d $de%7d $gc%5d $w%8.1f")
    }
    spark.stop()
  }
}
