package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.{Bench, SparkEntry, Tables}
import org.apache.spark.sql.Row

/** The 20 BASELINE.md queries at sf0.1 over persisted tables. Each pass
  * runs every query once in an order drawn from the seed; passes repeat
  * until the budget is spent, the first always whole. Every result is
  * hash-checked against the DuckDB oracle hashes in
  * `expected/headline_sf0.1.tsv`. */
object Headline {
  private val warmPasses = 2

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val names = Bench.headlineNames
    val expected = Main.readTsv(s"${ctx.expectedDir}/headline_sf0.1.tsv")
      .map(r => r(0) -> r(1)).toMap
    require(names.forall(expected.contains),
      s"no oracle hash for ${names.filterNot(expected.contains).mkString(", ")}")

    val (_, loadS) = ctx.timed(
      Tables.names.foreach(n => Tables.load(spark, ctx.dataDir, n).persist().count()))
    val rnd = new Random(ctx.seed)
    var opId = 0

    /** One query: latency through collect, result checked after the clock. */
    def query(name: String): Option[Double] = {
      val id = opId; opId += 1
      val t0 = System.nanoTime()
      try {
        val (schema, rows): (org.apache.spark.sql.types.StructType, Array[Row]) =
          ctx.trace match {
            case None =>
              val df = SparkEntry.queries(name)(spark, ctx.dataDir)
              (df.schema, df.collect())
            case Some(tr) => tr.op(name, id) {
              val df = tr.span("build")(SparkEntry.queries(name)(spark, ctx.dataDir))
              tr.span("plan")(df.queryExecution.executedPlan)
              (df.schema, tr.span("exec")(df.collect()))
            }
          }
        val sec = (System.nanoTime() - t0) / 1e9
        ctx.trace.foreach(_.recordCache(id))
        val got = Canon.hash(schema, rows)
        out.check(if (got == expected(name)) None
          else Some(s"$name: result hash $got, oracle ${expected(name)}"))
        Some(sec)
      } catch {
        case e: Exception =>
          out.check(Some(s"$name: ${e.toString.take(200)}")); None
      }
    }

    // untimed passes warm the JIT and the code generator for every query:
    // after one pass the next is still 10-20 % slower than the steady state
    val (_, warmS) = ctx.timed((1 to warmPasses).foreach(_ => rnd.shuffle(names).foreach(query)))
    val firstTimed = opId
    // timed passes until the budget is spent, but at least one whole pass
    val lat = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val trail = mutable.ArrayBuffer.empty[Double] // in execution order
    val order = mutable.ArrayBuffer.empty[String]
    var executions = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (executions < names.size || elapsed < ctx.seconds) {
      rnd.shuffle(names).iterator
        .takeWhile(_ => executions < names.size || elapsed < ctx.seconds)
        .foreach { n => val l = query(n); lat(n) ++= l; trail ++= l; order ++= l.map(_ => n); executions += 1 }
    }
    val wall = elapsed
    // every statistic weighs each query once, through its median latency:
    // which queries the last, partial pass reached must not move them
    val perQuery = lat.values.filter(_.nonEmpty).map(xs => Main.median(xs.toSeq)).toSeq
    val qps = perQuery.size / perQuery.sum
    val p50 = Main.quantile(perQuery, 0.5) * 1000
    val p90 = Main.quantile(perQuery, 0.9) * 1000

    val setupS = sessionS + loadS + warmS
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("throughput") = (qps, "1/s")
    out.e2e("latency_p50_ms") = (p50, "ms")
    out.report("setup_s") = (setupS, "s")
    out.report("headline.qps") = (qps, "1/s")
    out.report("headline.latency_p50_ms") = (p50, "ms")
    out.report("headline.latency_p90_ms") = (p90, "ms")
    out.details("executions") = executions
    out.details("latency_ms") = trail.map(_ * 1000)
    out.details("query_order") = order
    out.details("query_median_ms") =
      lat.map { case (q, xs) => q -> (if (xs.isEmpty) Double.NaN else Main.median(xs.toSeq) * 1000) }
    out.details("timed_wall_s") = wall
    out.details("setup_parts_s") = mutable.LinkedHashMap("session" -> sessionS,
      "table_load" -> loadS, "warm_pass" -> warmS)

    ctx.trace.foreach { tr =>
      val timed = firstTimed until opId
      tr.sparkLayers(out, timed)
      val L = out.layers
      L("spark.job_floor_ms") = (Trace.jobFloorMs(spark), "ms")
      L("tables.load_s") = (loadS, "s")
      def phase(name: String) = timed.map { op =>
        tr.spans.find(s => s.op == op && s.name == name).map(_.durMs).getOrElse(0.0)
      }
      val (build, plan, exec) = (phase("build"), phase("plan"), phase("exec"))
      val n = timed.size.toDouble
      L("ops.relational.build_ms") = (build.sum / n, "ms")
      L("ops.relational.plan_ms") = (plan.sum / n, "ms")
      L("ops.relational.exec_ms") = (exec.sum / n, "ms")
      // coverage per query name: (build + plan + exec) / wall and the split
      // of wall into stage time and time outside every stage
      val roots = timed.flatMap(op => tr.spans.find(s => s.op == op && s.parent == -1))
      val perQuery = roots.zipWithIndex.groupBy(_._1.name).toSeq.sortBy(_._1).map {
        case (q, xs) =>
          val wall = xs.map(_._1.durMs).sum
          val phases = xs.map { case (_, i) => build(i) + plan(i) + exec(i) }.sum
          val outside = xs.map { case (s, _) => tr.outsideStageMs(s.op, s) }.sum
          q -> mutable.LinkedHashMap("wall_ms" -> wall,
            "phase_share" -> phases / wall,
            "stage_share" -> (wall - outside) / wall,
            "outside_stage_share" -> outside / wall)
      }
      L("ops.relational.phase_coverage_min") =
        (perQuery.map(_._2("phase_share")).min, "fraction")
      val walls = roots.map(_.durMs).sum
      L("ops.relational.stage_share") =
        ((walls - roots.map(s => tr.outsideStageMs(s.op, s)).sum) / walls, "fraction")
      L("trace.throughput") = (qps, "1/s")
      L("trace.latency_p50_ms") = (p50, "ms")
      out.details("coverage") = mutable.LinkedHashMap(perQuery: _*)
      out.opSummaries ++= roots.map(s => tr.opSummary(s.op, s.name))
    }
    out
  }
}
