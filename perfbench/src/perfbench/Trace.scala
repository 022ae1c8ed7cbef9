package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One timed interval of the traced run. `op` is the benchmark operation
  * the span belongs to (-1 outside any), `parent` the enclosing span
  * (-1 at the root). Times are epoch milliseconds with sub-ms digits. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark-side totals of the jobs one operation ran. */
final class OpStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  /** per-stage (submitted ms, completed ms, executor run ms) */
  val stageTimes = ArrayBuffer.empty[(Long, Long, Long)]
  var cacheBytes = 0L
}

/** The traced run's recorder. Spans live in memory until [[write]].
  * Spark work is attributed to an operation through a local property set
  * around it: the listener maps job → op at job start and folds each
  * completed stage's metrics into that op. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  private def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var ids = 0
  private var stack = List.empty[Int]
  private var currentOp = -1
  private val opStats = new ConcurrentHashMap[Int, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  val slots: Int = sc.defaultParallelism

  private val OpKey = "perfbench.op"

  private def statsOf(op: Int): OpStats = opStats.computeIfAbsent(op, _ => new OpStats)

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { s =>
        val op = s.toInt
        val st = statsOf(op)
        st.synchronized(st.jobs += 1)
        e.stageIds.foreach(id => stageOp.put(id, op))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageOp.get(info.stageId)).foreach { op =>
        val s = statsOf(op)
        s.synchronized {
          s.stages += 1
          s.tasks += info.numTasks
          val m = info.taskMetrics
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.inputBytes += m.inputMetrics.bytesRead
            s.inputRecords += m.inputMetrics.recordsRead
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
          for (sub <- info.submissionTime; done <- info.completionTime)
            s.stageTimes += ((sub, done, if (m != null) m.executorRunTime else 0L))
        }
      }
    }
  }

  sc.addSparkListener(listener)

  /** A span around `body`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = ids
    ids += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = nowMs
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, currentOp, start, nowMs)
    }
  }

  /** A root span for benchmark operation `op`: every Spark job started
    * inside it is charged to `op`. */
  def op[T](name: String, op: Int)(body: => T): T = {
    currentOp = op
    sc.setLocalProperty(OpKey, op.toString)
    try span(name)(body)
    finally {
      sc.setLocalProperty(OpKey, null)
      currentOp = -1
    }
  }

  /** Storage memory held by cached blocks right now, charged to `op`. */
  def recordCache(op: Int): Unit =
    statsOf(op).cacheBytes = sc.getRDDStorageInfo.map(_.memSize).sum

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def stats(op: Int): OpStats = statsOf(op)

  /** Op wall time not covered by any of its stages (ms). */
  def outsideStageMs(op: Int, span: Span): Double = {
    val ivs = statsOf(op).stageTimes
      .map { case (a, b, _) => (math.max(a.toDouble, span.startMs), math.min(b.toDouble, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var end = Double.MinValue
    ivs.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    span.durMs - covered
  }

  /** Σ over the op's stages of stage wall − executor run time ÷ slots. */
  def schedGapMs(op: Int): Double =
    statsOf(op).stageTimes.map { case (a, b, run) => (b - a) - run.toDouble / slots }.sum

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
  }

  /** Writes every span, then one summary line per operation, as JSON lines. */
  def write(path: String, opSummaries: Seq[Map[String, Any]]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        w.println(Json.render(mutable.LinkedHashMap(
          "span" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs)))
      }
      opSummaries.foreach(m => w.println(Json.render(m)))
    } finally w.close()
  }

  /** Spark-layer per-layer metrics as means over the timed operations. */
  def sparkLayers(out: Outcome, ops: Seq[Int]): Unit = {
    drain()
    val n = math.max(1, ops.size).toDouble
    val roots = spans.filter(s => s.parent == -1 && s.op >= 0).map(s => s.op -> s).toMap
    def mean(f: OpStats => Double): Double = ops.map(o => f(statsOf(o))).sum / n
    val L = out.layers
    L("spark.jobs") = (mean(_.jobs.toDouble), "count")
    L("spark.stages") = (mean(_.stages.toDouble), "count")
    L("spark.tasks") = (mean(_.tasks.toDouble), "count")
    L("spark.sched_gap_ms") = (ops.map(schedGapMs).sum / n, "ms")
    L("spark.outside_stage_ms") =
      (ops.flatMap(o => roots.get(o).map(outsideStageMs(o, _))).sum / n, "ms")
    L("spark.executor_run_ms") = (mean(_.runMs.toDouble), "ms")
    L("spark.executor_cpu_ms") = (mean(_.cpuNs / 1e6), "ms")
    L("spark.gc_ms") = (mean(_.gcMs.toDouble), "ms")
    L("spark.input_bytes") = (mean(_.inputBytes.toDouble), "bytes")
    L("spark.input_records") = (mean(_.inputRecords.toDouble), "count")
    L("spark.shuffle_read_bytes") = (mean(_.shuffleReadBytes.toDouble), "bytes")
    L("spark.shuffle_write_bytes") = (mean(_.shuffleWriteBytes.toDouble), "bytes")
    L("spark.spill_bytes") = (mean(_.spillBytes.toDouble), "bytes")
    L("spark.cache_bytes") = (mean(_.cacheBytes.toDouble), "bytes")
  }

  /** Summary line of one operation for the span file. */
  def opSummary(op: Int, kind: String): Map[String, Any] = {
    val s = statsOf(op)
    val root = spans.find(sp => sp.op == op && sp.parent == -1)
    Map("op" -> op, "kind" -> kind, "jobs" -> s.jobs, "stages" -> s.stages,
      "tasks" -> s.tasks, "executor_run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
      "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
      "cache_bytes" -> s.cacheBytes,
      "sched_gap_ms" -> schedGapMs(op),
      "outside_stage_ms" -> root.map(outsideStageMs(op, _)).getOrElse(0.0),
      "wall_ms" -> root.map(_.durMs).getOrElse(0.0))
  }
}

object Trace {
  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer the workload never calls reports 0. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_floor_ms" -> "ms",
    "spark.sched_gap_ms" -> "ms", "spark.outside_stage_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.input_bytes" -> "bytes",
    "spark.input_records" -> "count", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.cache_bytes" -> "bytes",
    "tables.load_s" -> "s",
    "ops.relational.build_ms" -> "ms", "ops.relational.plan_ms" -> "ms",
    "ops.relational.exec_ms" -> "ms",
    "ops.relational.phase_coverage_min" -> "fraction",
    "ops.relational.stage_share" -> "fraction",
    "text.dedup.ngram_jaccard_s" -> "s", "text.dedup.dedup_by_cluster_s" -> "s",
    "text.dedup.decontaminate_s" -> "s", "text.dedup.decontaminate_fuzzy_s" -> "s",
    "ops.selection.lm_score_s" -> "s", "ops.curation.cap_per_source_s" -> "s",
    "ops.curation.source_mix_s" -> "s", "ops.drift.ks_loo_s" -> "s",
    "vector.ivf_train_ms" -> "ms", "vector.store_write_ms" -> "ms",
    "vector.store_read_ms" -> "ms", "vector.probe_plan_ms" -> "ms",
    "vector.probe_exec_ms" -> "ms", "vector.segment_write_ms" -> "ms",
    "vector.compact_ms" -> "ms", "vector.segments" -> "count",
    "trace.throughput" -> "1/s", "trace.latency_p50_ms" -> "ms")

  /** Bench's per-job dispatch floor: a fresh two-stage `range(N).sum`
    * over the sf0.1 lineitem row count, median of 11 after 2 warm-ups. */
  def jobFloorMs(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum}
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 600000L, 1, 3).agg(sum(col("id"))).collect()
      (System.nanoTime() - t0) / 1e6
    }
    probe(); probe()
    Main.median(Seq.fill(11)(probe()))
  }
}
