package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Every main's SparkSession, from one factory. A posture is plain
  * data, a list of conf pairs; a main names its posture and adds the few
  * overrides it needs ([[shufflePartitions]], [[aqeOff]],
  * [[broadcastOff]], [[nanosAsLong]]). The master is always
  * `local[`[[cores]]`]`.
  *
  *  - [[plain]]: UTC session time zone, UI off. Verify and the audit
  *    tools.
  *  - [[bench]]: the headline bench ([[graft.Bench.session]]), pinned
  *    by BenchPostureSpec.
  *  - [[cluster]]: the 100 TB posture (SURVEY.md §4.3), the settings
  *    this engine expects on a real cluster. They are defaults, not
  *    magic: partition/bucket layout (see [[graft.sources.IO]]) and
  *    operator shape (see PlanSpec ceilings) matter more.
  *
  * Cluster rationale, knob by knob:
  *  - AQE ON + coalescePartitions: 100 TB scans start wide
  *    (maxPartitionBytes controls split size → ~800 k input tasks at
  *    128 MB); AQE coalesces post-shuffle partitions to
  *    advisoryPartitionSizeInBytes so reducers stay ~256 MB regardless
  *    of what the static count was.
  *  - skewJoin: splits straggler partitions (hot user_id/event_type
  *    keys in the windows/sessionization family) instead of letting one
  *    reducer run for hours — salting is then only needed for
  *    aggregation skew, not join skew.
  *  - shuffle.partitions is deliberately large (AQE shrinks, never
  *    grows): undersized static shuffles are the classic 100 TB OOM.
  *  - broadcast threshold stays modest on clusters: a 1 GB broadcast ×
  *    1000 executors is a terabyte of redundant heap.
  */
object ScaleConfig {

  type Posture = Seq[(String, String)]

  // the overrides, declared before the postures that use them
  def shufflePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString
  val aqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"
  val broadcastOff: (String, String) = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  /** Reads an int64-nanos timestamp column as a raw long. */
  val nanosAsLong: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  val plain: Posture = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val bench: Posture = plain ++ Seq(
    // 600 k-row shuffles don't amortize one task per core's dispatch
    shufflePartitions(8),
    "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "4194304",
    // micro-bench latency (SURVEY.md §6): AQE's per-stage re-planning
    // costs more than it saves at sub-second scale
    aqeOff,
    // inside one JVM, broadcasting a 10-30 MB side beats a shuffle; on a
    // real cluster stats/AQE make this call
    "spark.sql.autoBroadcastJoinThreshold" -> "33554432")

  val cluster: Posture = plain ++ Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256m",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3",
    shufflePartitions(4096),
    "spark.sql.files.maxPartitionBytes" -> "128m",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.parquet.filterPushdown" -> "true",
    // stateful streaming at scale: RocksDB keeps per-executor state
    // off-heap/on-disk with changelog checkpoints (vs the default
    // HDFS-backed provider's full-snapshot-in-heap); required by
    // transformWithState, strictly better for big flatMapGroupsWith
    // State / dedupStream state too
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session for `posture` plus `overrides` (later pairs win), on
    * `local[cores]`, logging at ERROR. */
  def session(posture: Posture, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]")
    (posture ++ overrides).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Broadcast hint for DATA-SCALING build sides — sides derived from
    * corpus tables (a filtered customer dim, a distinct orders key set)
    * that are comfortably broadcastable at bench scale but grow with
    * the data. The hint is applied only while the session permits
    * broadcasts; when the operator disables auto-broadcast
    * (`spark.sql.autoBroadcastJoinThreshold=-1` — the posture of a
    * cluster where no corpus-derived side fits executor memory), the
    * hint is withheld so Catalyst demotes the join cleanly to
    * sort-merge / shuffled-hash instead of being FORCED into an
    * impossible broadcast by a stale hint (an explicit hint overrides
    * the threshold, so without this gate threshold=-1 could not demote
    * these joins).
    *
    * Contrast with BOUNDED sides — nation (25 rows), region (5),
    * scalar-aggregate thresholds, k-means centroids — which keep their
    * unconditional `broadcast()` hints: they are O(1)-sized by
    * construction at any corpus scale, and broadcasting them is right
    * even on a 1000-executor cluster.
    */
  def scalingBroadcast(df: DataFrame): DataFrame =
    if (broadcastDisabled(df.sparkSession)) df else broadcast(df)

  /** True when auto-broadcast is globally off (threshold set negative).
    * Spark renders the conf as a byte string ("-1", "-1b", "10485760b");
    * a leading '-' is the disabled posture. */
  def broadcastDisabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      .trim.startsWith("-")
}
