package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload run needs: the session, where its inputs live, a
  * scratch directory, the seed, the measuring budget and, in the traced
  * run, the recorder. */
final case class Ctx(spark: SparkSession, dataDir: String, expectedDir: String,
    workDir: String, seed: Long, seconds: Double, trace: Option[Trace]) {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload's measurements. `e2e` holds the metrics every workload
  * reports (the contract line); `report` the workload's own named
  * end-to-end metrics; `layers` the per-layer metrics of the traced run. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, Any]
  /** traced run: one summary per operation, written after the spans */
  val opSummaries = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Counts one checked operation; `problem` is None when it was right. */
  def check(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (problems.size < 20) problems += p
    }
  }
}

object Main {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def readTsv(path: String): Seq[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).toList
    finally src.close()
  }

  private def vmKb(key: String): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }

  private def memTotalKb: Double = {
    val src = Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Bench.session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val traced = opts("trace") == "1"
    val ctx = Ctx(spark, opts("data"), opts("expected"), opts("work"),
      opts("seed").toLong, opts("seconds").toDouble,
      if (traced) Some(new Trace(spark)) else None)

    val out = workload match {
      case "headline" => Headline.run(ctx, sessionS)
      case "pretrain" => Pretrain.run(ctx, sessionS)
      case "ann_store" => AnnStore.run(ctx, sessionS)
      case other => sys.error(s"unknown workload '$other'")
    }
    ctx.trace.foreach { tr =>
      tr.stop()
      val measured = out.layers.clone()
      out.layers.clear()
      Trace.layerMetrics.foreach { case (k, u) =>
        out.layers(k) = (measured.get(k).map(_._1).getOrElse(0.0), u)
      }
      out.layers ++= measured
      tr.write(opts("spans"), out.opSummaries.toSeq)
      out.details("spans_file") = opts("spans")
    }
    out.report("peak_rss_mb") = (vmKb("VmHWM") / 1024.0, "MB")
    out.report("failed_frac") =
      (out.failed.toDouble / math.max(1L, out.attempted), "fraction")

    val rt = ManagementFactory.getRuntimeMXBean
    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_kb" -> memTotalKb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jvm_args" -> rt.getInputArguments.asScala.toSeq.filter(_.startsWith("-X")),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "spark_conf" -> mutable.LinkedHashMap(spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot(kv => kv._1.startsWith("spark.app.") || kv._1.startsWith("spark.driver.host")
          || kv._1.startsWith("spark.driver.port") || kv._1 == "spark.executor.id"
          || kv._1.endsWith("extraJavaOptions") || kv._1.startsWith("spark.hadoop.")): _*))
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> traced,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems,
      "e2e" -> metrics(out.e2e), "report" -> metrics(out.report),
      "layers" -> metrics(out.layers), "details" -> out.details, "host" -> host)
    val f = new java.io.File(opts("result"))
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, Json.render(result) + "\n")
    spark.stop()
  }
}
