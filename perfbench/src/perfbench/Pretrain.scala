package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.Tables
import graft.examples.PretrainPipeline
import graft.ops.{Curation, Drift, Selection, Validate}
import graft.text.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** `PretrainPipeline.runDetailed` over the 5 000 sf0.1 documents, their
  * rows permuted by the seed. Whole pipelines run until the budget is
  * spent (at least one). Each pipeline's per-stage rows and tokens must
  * equal `expected/pretrain_sf0.1.tsv`. */
object Pretrain {
  private val docs = 5000

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val expected = Main.readTsv(s"${ctx.expectedDir}/pretrain_sf0.1.tsv")
      .map(r => (r(0), r(1).toLong, r(2).toLong))

    // set-up: write the seed's row permutation of the documents table
    val docDir = s"${ctx.workDir}/pretrain/input"
    val (_, permuteS) = ctx.timed {
      val src = Tables.load(spark, ctx.dataDir, "documents")
      val rows = new Random(ctx.seed).shuffle(src.collect().toSeq)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), src.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$docDir/documents.parquet")
      require(Tables.load(spark, docDir, "documents").count() == docs,
        s"permuted documents at $docDir lost rows")
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

    var opId = 0
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (walls.isEmpty || elapsed < ctx.seconds) {
      val id = opId; opId += 1
      val dead = s"${ctx.workDir}/pretrain/deadletter$id"
      val startNs = System.nanoTime()
      try {
        val raw = Tables.load(spark, docDir, "documents")
        val stages = ctx.trace match {
          case None => PretrainPipeline.runDetailed(spark, raw, Some(dead))
          case Some(tr) => tr.op("pipeline", id) {
            PretrainPipeline.runDetailed(spark, raw, Some(dead))
          }
        }
        val sec = (System.nanoTime() - startNs) / 1e9
        ctx.trace.foreach(_.recordCache(id))
        walls += sec
        val got = stages.map(s => (s.name, s.rows, s.tokens))
        val diff = expected.zipAll(got, null, null).filter { case (e, g) => e != g }
        out.check(diff.headOption.map { case (e, g) =>
          s"pipeline $id: stage ${Option(e).map(_._1).getOrElse(g._1)} " +
            s"expected (rows, tokens) = ${Option(e).map(x => (x._2, x._3)).orNull}, " +
            s"got ${Option(g).map(x => (x._2, x._3)).orNull}"
        })
        out.details(s"stages_$id") = mutable.LinkedHashMap(stages.map(s =>
          s.name -> mutable.LinkedHashMap("rows" -> s.rows, "tokens" -> s.tokens, "sec" -> s.sec)): _*)
      } catch {
        case e: Exception => out.check(Some(s"pipeline $id: ${e.toString.take(200)}"))
      }
      // the pipeline leaves its shard output and dead-letter rows behind
      deleteTree(new java.io.File(dead))
      Option(tmp.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("pretrain_")).foreach(deleteTree)
    }
    require(walls.nonEmpty, "no pipeline completed")

    val wall = Main.median(walls.toSeq)
    val setupS = sessionS + permuteS
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("throughput") = (docs / wall, "1/s")
    out.e2e("latency_p50_ms") = (wall * 1000, "ms")
    out.report("setup_s") = (setupS, "s")
    out.report("pretrain.docs_per_s") = (docs / wall, "1/s")
    out.details("setup_parts_s") = mutable.LinkedHashMap("session" -> sessionS, "permute" -> permuteS)
    out.details("pipelines") = walls.size
    out.details("pipeline_s") = walls.toSeq

    ctx.trace.foreach { tr =>
      val timed = 0 until opId
      tr.sparkLayers(out, timed)
      val L = out.layers
      L("tables.load_s") = (permuteS, "s")
      L("trace.throughput") = (docs / wall, "1/s")
      L("trace.latency_p50_ms") = (wall * 1000, "ms")
      out.opSummaries ++= timed.map(op => tr.opSummary(op, "pipeline"))
      operators(ctx, docDir, out, opId)
      L("spark.job_floor_ms") = (Trace.jobFloorMs(spark), "ms")
    }
    out
  }

  /** Each text/ops operator of the pipeline alone on the validated
    * documents, with the pipeline's parameters, forced by one count. */
  private def operators(ctx: Ctx, docDir: String, out: Outcome, firstId: Int): Unit = {
    val spark = ctx.spark
    val tr = ctx.trace.get
    val raw = Tables.load(spark, docDir, "documents")
    val valid = Validate.split(raw, PretrainPipeline.ingestRules)._1
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      .persist()
    valid.count()
    val notBench = valid.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val bench = valid.filter(pmod(col("doc_id"), lit(7)) === 0).persist()
    bench.count()
    val srcs = valid.select("source").distinct().collect().map(_.getString(0)).sorted
    val weights = srcs.map(_ -> 1.0 / srcs.length).toMap
    val u = pmod(col("doc_id") * lit(2654435761L), lit(1000000L))

    var id = firstId
    def time(metric: String)(count: => Long): Unit = {
      val (_, sec) = ctx.timed(tr.op(metric, id)(count))
      out.layers(metric) = (sec, "s")
      out.opSummaries += tr.opSummary(id, metric)
      id += 1
    }
    time("text.dedup.ngram_jaccard_s")(
      Dedup.ngramJaccard(valid, "doc_id", "text", 3, 0.5).count())
    // persisted only after the timed call, or that call would read the cache
    val pairs = Dedup.ngramJaccard(valid, "doc_id", "text", 3, 0.5).persist()
    pairs.count()
    time("text.dedup.dedup_by_cluster_s")(
      Dedup.dedupByCluster(valid, pairs, "doc_id", "n_chars").count())
    time("text.dedup.decontaminate_s")(
      Dedup.decontaminate(notBench, bench, "doc_id", "text", n = 8).count())
    time("text.dedup.decontaminate_fuzzy_s")(
      Dedup.decontaminateFuzzy(notBench, bench, "doc_id", "text",
        shingleLen = 3, b = 16, r = 4, threshold = 0.8).count())
    time("ops.selection.lm_score_s")(
      Selection.lmScore(valid, Seq("doc_id"), "text", refFilter = lit(true)).count())
    time("ops.curation.cap_per_source_s")(
      Curation.capPerSource(valid, "source", "doc_id", cap = 20).count())
    time("ops.curation.source_mix_s")(
      Curation.sourceMix(valid, "source", "n_tok", weights, u).count())
    time("ops.drift.ks_loo_s")(
      Drift.ksLeaveOneOut(valid, "source", "n_chars").count())
    Seq(valid, bench, pairs).foreach(_.unpersist(blocking = true))
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
