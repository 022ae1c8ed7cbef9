package graft.tools

import graft.{PlanMode, ScaleConfig, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** The plan dumper. Builds registry queries in [[graft.PlanMode.planOnly]]
  * scope, so no query executes a job, under AQE off and 8 shuffle
  * partitions. The first argument picks the output:
  *
  *  - `md <sfDir>`: the formatted physical plan of every query to
  *    PLANS.md — the plan-quality evidence artifact (pushdown,
  *    broadcasts, codegen spans, exchange placement);
  *  - `summary <sfDir> [outJson]`: per query, the shuffle-exchange
  *    count, join strategies, loop-join flags, codegen span count, and
  *    the widest parquet scan, one JSON line each — the
  *    machine-readable twin of PLANS.md, to scan plan posture (or diff
  *    it with `tools/plan_diff.py`) without reading half a megabyte of
  *    plan text;
  *  - `show <sfDir> <q1> [q2 ...]`: the formatted plans of the named
  *    queries to stdout.
  *
  * The committed PLANS.md is generated at sf0.01. Run:
  * `tools/runjvm.sh graft.tools.Plans md|summary|show <sfDir> ...`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plans md|summary|show <sfDir> [outJson | q1 q2 ...]")
    val Array(mode, sfDir) = args.take(2)
    val spark = ScaleConfig.session(ScaleConfig.plain,
      ScaleConfig.shufflePartitions(8), ScaleConfig.aqeOff)
    val queries = SparkEntry.queries
    def formatted(name: String): String =
      queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    val names = queries.keys.toSeq.sorted
    PlanMode.planOnly {
      mode match {
        case "md" =>
          val sb = new StringBuilder
          sb.append(s"# Physical plans (generated by graft.tools.Plans, ${Paths.get(sfDir).getFileName}, AQE off)\n\n")
          sb.append("Evidence artifact: `PushedFilters`/`ReadSchema` show scan-level ")
          sb.append("pushdown and pruning; `BroadcastHashJoin` vs `SortMergeJoin` shows ")
          sb.append("join strategy; `(n)`-numbered operators are whole-stage-codegen spans.\n")
          names.foreach { name =>
            try sb.append(s"\n## $name\n\n```\n${formatted(name)}```\n")
            catch {
              case e: Throwable => sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
            }
          }
          Files.writeString(Paths.get("PLANS.md"), sb.toString)
          println(s"wrote PLANS.md (${sb.length} chars)")
        case "summary" =>
          val outJson = args.lift(2).getOrElse("/tmp/plan_summary.json")
          val rows = names.map { name =>
            val p = queries(name)(spark, sfDir).queryExecution.executedPlan.toString
            def n(re: String) = re.r.findAllIn(p).size
            val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
              .map(_.group(1).count(_ == ',') + 1).toSeq
            s""""$name": {"exchanges": ${n("Exchange (hash|range|Single)")},""" +
              s""""bhj": ${n("BroadcastHashJoin")}, "smj": ${n("SortMergeJoin")},""" +
              s""""shj": ${n("ShuffledHashJoin")}, "bnlj": ${n("BroadcastNestedLoopJoin")},""" +
              s""""cartesian": ${n("CartesianProduct")},""" +
              s""""codegen_spans": ${n("""\*\(\d+\)""")},""" +
              s""""max_scan_cols": ${if (scans.isEmpty) 0 else scans.max},""" +
              s""""single_partition_exchanges": ${n("Exchange SinglePartition")}}"""
          }
          Files.writeString(Paths.get(outJson), rows.mkString("{\n ", ",\n ", "\n}"))
          println(s"wrote $outJson - ${rows.size} queries")
        case "show" =>
          args.drop(2).foreach(name => println(s"== $name ==\n${formatted(name)}"))
        case other =>
          sys.error(s"unknown mode '$other' (expected md, summary or show)")
      }
    }
    spark.stop()
  }
}
