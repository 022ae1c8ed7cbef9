package graft.tools

import graft.ScaleConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale amplifier (VERDICT r4 §next-round #2): replicates the
  * sf0.1 corpus `factor`× with REMAPPED ids — each replica's keys shift
  * by `replica × (max_key + 1)` so join fan-out, group cardinality, and
  * key uniqueness survive (plain union-by-replication would multiply
  * every join match by factor² and collapse group counts). Foreign keys
  * remap consistently with their parents (o_custkey with customer,
  * l_orderkey with orders); bounded dims (region/nation/supplier/part)
  * copy untouched — exactly how a 10× corpus grows in production: facts
  * scale, dims don't.
  *
  * `events.ts` round-trips in whatever physical type the corpus ships
  * (int64-nanos pre round 5, timestamp[us] since) — it is read raw and
  * written back unchanged, and [[graft.Tables.load]]'s schema-adaptive
  * normalization applies to the amplified layout identically.
  *
  * Documents/embeddings replicate with identical text/vectors under new
  * ids — an every-doc-has-9-exact-twins corpus, which is a STRESS shape
  * for the dedup/ANN family (maximal LSH bucket collisions), not a
  * neutral one; heavy-op timings at 10× carry that caveat.
  *
  * Run: `sbt "runMain graft.tools.Amplify <srcDir> <outDir> [factor]"`.
  */
object Amplify {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = ScaleConfig.session(ScaleConfig.plain,
      ScaleConfig.shufflePartitions(ScaleConfig.cores),
      // tolerate an int64-nanos events.ts (pre-round-5 corpus); the
      // column is round-tripped raw either way
      ScaleConfig.nanosAsLong)
    spark.sparkContext.setLogLevel("WARN")

    def raw(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    /** Union `factor` replicas with each column in `keys` shifted by
      * replica × stride, stride = max over ALL key columns + 1 (one
      * shared stride keeps parent/child foreign keys aligned). */
    def replicate(df: DataFrame, keys: Seq[String], strides: Map[String, Long],
        files: Int): DataFrame = {
      val reps = (0 until factor).map { i =>
        keys.foldLeft(df) { (d, k) =>
          d.withColumn(k, col(k) + lit(i * strides(k)))
        }
      }
      reps.reduce(_ unionAll _).repartition(files)
    }

    def strideOf(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head.getLong(0) + 1L

    val customer = raw("customer")
    val orders = raw("orders")
    val events = raw("events")
    val documents = raw("documents")
    val embeddings = raw("embeddings")
    val custStride = strideOf(customer, "c_custkey")
    val orderStride = strideOf(orders, "o_orderkey")
    val userStride = strideOf(events, "user_id")
    val eventStride = strideOf(events, "event_id")
    val docStride = strideOf(documents, "doc_id")
    val vecStride = strideOf(embeddings, "vec_id")

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> raw("region"),
      "nation" -> raw("nation"),
      "supplier" -> raw("supplier"),
      "part" -> raw("part"),
      "customer" -> replicate(customer, Seq("c_custkey"),
        Map("c_custkey" -> custStride), 4),
      "orders" -> replicate(orders, Seq("o_orderkey", "o_custkey"),
        Map("o_orderkey" -> orderStride, "o_custkey" -> custStride), 8),
      "lineitem" -> replicate(raw("lineitem"), Seq("l_orderkey"),
        Map("l_orderkey" -> orderStride), 32),
      "events" -> replicate(events, Seq("event_id", "user_id"),
        Map("event_id" -> eventStride, "user_id" -> userStride), 8),
      "documents" -> replicate(documents, Seq("doc_id"),
        Map("doc_id" -> docStride), 8),
      "embeddings" -> replicate(embeddings, Seq("vec_id"),
        Map("vec_id" -> vecStride), 8))

    new java.io.File(outDir).mkdirs()
    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"$name: written")
    }
    println(s"amplified $srcDir -> $outDir at ${factor}x")
    spark.stop()
  }
}
