package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench posture is data, and the benchmark runs on it: pin every
  * conf so the posture cannot drift unnoticed. Asserted on the value, not
  * on a session — `getOrCreate` in the test JVM returns SparkSpec's. */
class BenchPostureSpec extends AnyFunSuite {
  test("bench posture holds the bench session's confs") {
    assert(ScaleConfig.bench.toMap == Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "4194304",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "33554432"))
  }
}
