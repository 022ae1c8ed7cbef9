package perfbench

import scala.collection.mutable

import graft.vector.{IndexStore, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A read/write IVF store. Set-up generates unit vectors around seeded
  * Gaussian cluster centres, builds the index with `Similarity.ivfIndex`
  * and writes it with `IndexStore.writeIvf`; the closed loop then mixes
  * probes (read the store, `ivfTopKIndexed`), appends (assign a new
  * segment to the frozen centroids, write `data/batch=<i>`) and periodic
  * compactions of the same store. */
object AnnStore {
  val n = 50000
  val dim = 64
  val clusters = 256
  /** per-coordinate noise around a unit centre: a point's cosine to its
    * centre is about 1 / sqrt(1 + dim * sigma^2) = 0.78 */
  val sigma = 0.1
  val numCells = 64
  val nProbe = 4
  val k = 10
  val queriesPerProbe = 16
  val appendRows = 500
  val queryBatches = 32
  /** probe, probe, append, twice over, then one compaction: a short run
    * still reaches a compaction */
  val cycle: Seq[Char] = "PPAPPAC".toSeq
  private val warmProbes = 4
  private val queryIdBase = 1000000000L

  /** The seed's cluster centres, then one vector per id: a point around
    * a centre chosen by the id's own generator. Pure in (seed, id). */
  final class Gen(seed: Long) extends Serializable {
    private val centres: Array[Array[Double]] = {
      val r = new java.util.Random(seed)
      Array.fill(clusters)(unit(Array.fill(dim)(r.nextGaussian())))
    }
    def vec(id: Long): Array[Double] = {
      val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + id)
      val c = centres(r.nextInt(clusters))
      unit(Array.tabulate(dim)(i => c(i) + sigma * r.nextGaussian()))
    }
    private def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }

  private def local(spark: SparkSession, idCol: String, vecCol: String,
      rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*),
      StructType(Seq(StructField(idCol, LongType, false),
        StructField(vecCol, ArrayType(DoubleType, false), false))))

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val out = new Outcome
    val store = s"${ctx.workDir}/ann/store"
    val gen = new Gen(ctx.seed)

    // set-up: inputs, the index built and written, the recall reference
    // and a short warm-up
    val (inputs, genS) = ctx.timed {
      val corpus = spark.sparkContext.parallelize(0L until n, 8)
        .map(id => (id, gen.vec(id))).toDF("id", "v")
      val qs = (0 until queryBatches).map { b =>
        local(spark, "query_id", "qv", (0 until queriesPerProbe).map { j =>
          val id = queryIdBase + b * queriesPerProbe + j
          (id, gen.vec(id))
        })
      }
      // an append takes well over 0.25 s, so this pool outlasts the budget
      // and the last cycle
      val maxAppends = (ctx.seconds / 0.25).ceil.toInt + cycle.count(_ == 'A')
      val appends = (0 until maxAppends).map { a =>
        local(spark, "id", "v", (0 until appendRows).map { j =>
          val id = n.toLong + a * appendRows + j
          (id, gen.vec(id))
        })
      }
      (corpus, qs, appends)
    }
    val (corpus, qs, appends) = inputs
    val (index, trainS) = ctx.timed(Similarity.ivfIndex(corpus, "id", "v", numCells))
    val (_, writeS) = ctx.timed(IndexStore.writeIvf(index, store))
    val buildS = trainS + writeS

    val (recall, recallS) = ctx.timed {
      val data = IndexStore.readIvf(spark, store).data
      def pairs(df: DataFrame) =
        df.select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = pairs(Similarity.ivfTopKIndexed(IndexStore.readIvf(spark, store),
        qs(0), "query_id", "qv", k, nProbe))
      val exact = pairs(Similarity.bruteForceTopK(data, "id", "v", qs(0), "query_id", "qv", k))
      (approx & exact).size.toDouble / exact.size
    }

    var nextId = n.toLong // ids below this are in the store
    var appended = 0
    var opId = 0
    val probeLat = mutable.ArrayBuffer.empty[Double]
    val appendLat = mutable.ArrayBuffer.empty[Double]
    val compactLat = mutable.ArrayBuffer.empty[Double]
    val segments = mutable.ArrayBuffer.empty[Double]
    val phaseMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def phase[T](name: String)(body: => T): T = ctx.trace match {
      case None => body
      case Some(tr) =>
        val t0 = System.nanoTime()
        try tr.span(name)(body)
        finally phaseMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
    }
    def op[T](name: String)(body: => T): (T, Double, Int) = {
      val id = opId; opId += 1
      val (r, sec) = ctx.timed(ctx.trace match {
        case None => body
        case Some(tr) => tr.op(name, id)(body)
      })
      ctx.trace.foreach(_.recordCache(id))
      (r, sec, id)
    }

    def probe(batch: Int, timed: Boolean): Unit = {
      if (timed) segments += IndexStore.segmentCount(spark, store, "data")
      try {
        val (rows, sec, _) = op("probe") {
          val idx = phase("store_read")(IndexStore.readIvf(spark, store))
          val df = phase("probe_plan") {
            val df = Similarity.ivfTopKIndexed(idx, qs(batch), "query_id", "qv", k, nProbe)
            if (ctx.trace.isDefined) df.queryExecution.executedPlan
            df
          }
          phase("probe_exec")(df.collect())
        }
        if (timed) probeLat += sec
        val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
        val bad = (0 until queriesPerProbe).map(j => queryIdBase + batch * queriesPerProbe + j)
          .find { q =>
            val got = byQuery.getOrElse(q, Array.empty[Row])
            val ids = got.map(_.getAs[Long]("id"))
            got.length != k || ids.distinct.length != k ||
              ids.exists(id => id < 0 || id >= nextId) ||
              got.map(_.getAs[Int]("rk")).sorted.toSeq != (1 to k)
          }
        out.check(bad.map(q => s"probe of batch $batch: query $q did not get $k distinct stored ids"))
      } catch {
        case e: Exception => out.check(Some(s"probe: ${e.toString.take(200)}"))
      }
    }

    def append(timed: Boolean): Unit = {
      val before = IndexStore.segmentCount(spark, store, "data")
      try {
        val (_, sec, _) = op("append")(phase("segment_write") {
          val geom = IndexStore.readIvfGeometry(spark, store)
          Similarity.ivfSegment(geom, appends(appended), "id", "v")
            .write.mode("overwrite").parquet(s"$store/data/batch=$appended")
        })
        if (timed) appendLat += sec
        appended += 1
        nextId += appendRows
        val after = IndexStore.segmentCount(spark, store, "data")
        out.check(if (after == before + 1) None
          else Some(s"append $appended: segments went from $before to $after"))
      } catch {
        case e: Exception => out.check(Some(s"append: ${e.toString.take(200)}"))
      }
    }

    def compact(timed: Boolean): Unit =
      try {
        val (_, sec, _) = op("compact")(phase("compact")(IndexStore.compactIvf(spark, store)))
        if (timed) compactLat += sec
        val after = IndexStore.segmentCount(spark, store, "data")
        out.check(if (after == 1) None else Some(s"compaction left $after segments"))
      } catch {
        case e: Exception => out.check(Some(s"compaction: ${e.toString.take(200)}"))
      }

    val (_, warmS) = ctx.timed((0 until warmProbes).foreach(b => probe(b % queryBatches, timed = false)))
    phaseMs.clear()
    val firstTimed = opId

    var i = 0
    var probes = 0 // also picks the query batch
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole cycles only, so that every run times the same mix of operations
    while ((i % cycle.size != 0 || i == 0 || elapsed < ctx.seconds) && appended < appends.size) {
      cycle(i % cycle.size) match {
        case 'P' => probe(probes % queryBatches, timed = true); probes += 1
        case 'A' => append(timed = true)
        case 'C' => compact(timed = true)
      }
      i += 1
    }
    val ops = probeLat.size + appendLat.size + compactLat.size
    val opsPerS = ops / (probeLat.sum + appendLat.sum + compactLat.sum)
    val p50 = Main.quantile(probeLat.toSeq, 0.5) * 1000
    val p90 = Main.quantile(probeLat.toSeq, 0.9) * 1000
    val appendP50 =
      if (appendLat.isEmpty) Double.NaN else Main.median(appendLat.toSeq) * 1000

    val setupS = sessionS + genS + buildS + recallS + warmS
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("throughput") = (opsPerS, "1/s")
    out.e2e("latency_p50_ms") = (p50, "ms")
    out.report("setup_s") = (setupS, "s")
    out.report("ann_store.ops_per_s") = (opsPerS, "1/s")
    out.report("ann_store.probe_p50_ms") = (p50, "ms")
    out.report("ann_store.probe_p90_ms") = (p90, "ms")
    out.report("ann_store.append_p50_ms") = (appendP50, "ms")
    out.report("ann_store.build_s") = (buildS, "s")
    out.report("ann_store.recall_at_10") = (recall, "fraction")
    out.details("probes") = probeLat.size
    out.details("appends") = appendLat.size
    out.details("compactions") = compactLat.size
    out.details("probe_ms") = probeLat.map(_ * 1000).toSeq
    out.details("append_ms") = appendLat.map(_ * 1000).toSeq
    out.details("compact_ms") = compactLat.map(_ * 1000).toSeq
    out.details("setup_parts_s") = mutable.LinkedHashMap("session" -> sessionS,
      "generate" -> genS, "build" -> buildS, "recall" -> recallS, "warm" -> warmS)

    ctx.trace.foreach { tr =>
      val timed = firstTimed until opId
      tr.sparkLayers(out, timed)
      val L = out.layers
      def mean(name: String) =
        phaseMs.get(name).filter(_.nonEmpty).map(xs => xs.sum / xs.size).getOrElse(0.0)
      L("spark.job_floor_ms") = (Trace.jobFloorMs(spark), "ms")
      L("vector.ivf_train_ms") = (trainS * 1000, "ms")
      L("vector.store_write_ms") = (writeS * 1000, "ms")
      L("vector.store_read_ms") = (mean("store_read"), "ms")
      L("vector.probe_plan_ms") = (mean("probe_plan"), "ms")
      L("vector.probe_exec_ms") = (mean("probe_exec"), "ms")
      L("vector.segment_write_ms") = (mean("segment_write"), "ms")
      L("vector.compact_ms") = (mean("compact"), "ms")
      L("vector.segments") = (segments.sum / math.max(1, segments.size), "count")
      L("trace.throughput") = (opsPerS, "1/s")
      L("trace.latency_p50_ms") = (p50, "ms")
      out.opSummaries ++= timed.map { op =>
        tr.opSummary(op, tr.spans.find(s => s.op == op && s.parent == -1).map(_.name).getOrElse("?"))
      }
    }
    out
  }
}
