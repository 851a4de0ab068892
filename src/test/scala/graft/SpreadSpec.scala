package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Spread.partitions]] (VERDICT r15 item 7 — the scaladoc's
  * bytes-aware production sizing is now code, not prose — plus the
  * ADVICE defensive-parse item for `graft.fanoutPartitions`) and the
  * `graft.scanFanout` payload-site switch. */
class SpreadSpec extends AnyFunSuite {
  private val MB128 = Spread.TargetPartitionBytes

  test("explicit conf wins, parsed defensively") {
    assert(Spread.partitions(Some("64"), 8, BigInt(0)) === 64)
    assert(Spread.partitions(Some(" 7 "), 8, MB128 * 1000) === 7)
    for (bad <- Seq("0", "-3", "abc", "1.5", ""))
      withClue(s"value '$bad'") {
        val e = intercept[IllegalArgumentException] {
          Spread.partitions(Some(bad), 8, BigInt(0))
        }
        assert(e.getMessage.contains("graft.fanoutPartitions"))
        assert(e.getMessage.contains(bad))
      }
  }

  test("default: max(defaultParallelism, inputBytes/128MB), capped") {
    // tiny local input (the driver's one-row-group testdata): cores
    assert(Spread.partitions(None, 32, BigInt(0)) === 32)
    assert(Spread.partitions(None, 32, MB128 - 1) === 32)
    // bytes term takes over once input outgrows cores x 128 MB
    assert(Spread.partitions(None, 32, MB128 * 100) === 100)
    // and is capped (leaf bytes overstate the proxy frame)
    assert(Spread.partitions(None, 32,
      BigInt(100L) * 1024 * 1024 * 1024 * 1024 / 1) === Spread.MaxSpread)
    // degenerate parallelism never yields a non-positive count
    assert(Spread.partitions(None, 0, BigInt(0)) === 1)
  }
}

/** Session-level pin for [[Spread.fanoutScan]]: `graft.scanFanout =
  * false` (the many-split-deployment setting) must make the payload
  * scan spreads an exact no-op, and the default must spread. */
class SpreadScanSpec extends SparkSpec {
  test("fanoutScan honors graft.scanFanout") {
    val s2 = spark.newSession()
    val df = s2.range(10).toDF("x")
    s2.conf.set("graft.scanFanout", "false")
    assert(Spread.fanoutScan(df).queryExecution.logical
      eq df.queryExecution.logical)
    s2.conf.set("graft.scanFanout", "true")
    assert(Spread.fanoutScan(df).queryExecution.logical
      ne df.queryExecution.logical)
    s2.conf.unset("graft.scanFanout")
    assert(Spread.fanoutScan(df).queryExecution.logical
      ne df.queryExecution.logical)
  }

  test("only file-scan leaves size the spread: a checkpointed cross join uses cores") {
    // the checkpoint's LogicalRDD reports the estimate of the cross join
    // it replaced (the product of its sides), though it holds no rows
    val df = spark.range(200000).toDF("a")
      .crossJoin(spark.range(200000).toDF("b"))
      .where(col("a") < 0)
      .localCheckpoint()
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.map(_.stats.sizeInBytes).sum > Spread.TargetPartitionBytes * 1000,
      s"estimate not inflated: ${leaves.map(_.stats)}")
    assert(Spread.scanBytes(df.queryExecution.optimizedPlan) == 0)
    assert(Spread.n(df) == spark.sparkContext.defaultParallelism)
    // a parquet scan still counts its bytes
    val dir = java.nio.file.Files.createTempDirectory("spread_scan").toString
    spark.range(1000).write.mode("overwrite").parquet(dir)
    assert(Spread.scanBytes(spark.read.parquet(dir).queryExecution.optimizedPlan) > 0)
  }
}
