package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions.{col, rand}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Spread.partitions]] (the bytes-aware sizing of every spread)
  * and that [[Spread]] is the only place a spread is decided. */
class SpreadSpec extends AnyFunSuite {
  private val MB128 = Spread.TargetPartitionBytes

  test("default: max(defaultParallelism, inputBytes/128MB), capped") {
    // tiny local input (the driver's one-row-group testdata): cores
    assert(Spread.partitions(32, BigInt(0)) === 32)
    assert(Spread.partitions(32, MB128 - 1) === 32)
    // bytes term takes over once input outgrows cores x 128 MB
    assert(Spread.partitions(32, MB128 * 100) === 100)
    // and is capped (leaf bytes overstate the proxy frame)
    assert(Spread.partitions(32,
      BigInt(100L) * 1024 * 1024 * 1024 * 1024 / 1) === Spread.MaxSpread)
    // degenerate parallelism never yields a non-positive count
    assert(Spread.partitions(0, BigInt(0)) === 1)
  }

  test("no repartition by defaultParallelism in src/main outside Spread.scala") {
    import scala.jdk.CollectionConverters._
    val handRolled = "repartition\\(\\s*[^)]*defaultParallelism".r
    assert(handRolled.findFirstIn(
      ".repartition(s.sparkContext.defaultParallelism)").isDefined)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Spread.scala")), "scan found no sources")
    val sites = files.filterNot(_.endsWith("Spread.scala")).flatMap { f =>
      handRolled.findAllMatchIn(java.nio.file.Files.readString(f))
        .map(m => s"$f: ${m.matched}")
    }
    assert(sites.isEmpty,
      s"spread decided outside graft.Spread:\n${sites.mkString("\n")}")
  }
}

/** Session-level pins for [[Spread.fanoutScan]]'s rule: a payload scan
  * spreads only while its file scans arrive in fewer input partitions
  * than `defaultParallelism`; [[Spread.fanout]] and [[Spread.fanoutBy]]
  * always spread. */
class SpreadScanSpec extends SparkSpec {
  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def spreads(df: DataFrame): Boolean =
    Spread.fanoutScan(df).queryExecution.logical match {
      case Repartition(n, true, _) =>
        assert(n == Spread.n(df))
        true
      case p =>
        assert(p eq df.queryExecution.logical, s"unexpected plan:\n$p")
        false
    }

  /** `n` files of `spark.range(1000)`, one split each. */
  private def filesDir(n: Int): String = {
    val dir = tempDir("spread_files")
    spark.range(1000).toDF("x").repartition(n)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("a 1-file scan spreads") {
    val df = spark.read.parquet(filesDir(1))
    assert(Spread.leafSplits(df.queryExecution.analyzed) == Seq((1, 1)))
    assert(Spread.inputPartitions(df.queryExecution.analyzed) == 1)
    assert(spreads(df))
    assert(spreads(df.select((col("x") * 2).as("y")).filter(col("y") > 4)))
    // a frame without file scans counts 0 partitions and spreads too
    assert(spreads(spark.range(10).toDF("x")))
  }

  test("a directory with at least defaultParallelism files does not spread") {
    val dp = spark.sparkContext.defaultParallelism
    val df = spark.read.parquet(filesDir(dp))
    assert(Spread.inputPartitions(df.queryExecution.analyzed) == dp)
    assert(!spreads(df))
    assert(!spreads(df.filter(col("x") > 3)))
    // one file fewer than cores still spreads
    assert(spreads(spark.read.parquet(filesDir(dp - 1))))
  }

  test("a 3-split single-row-group file counts as one input partition") {
    val dir = tempDir("spread_split")
    spark.range(200000).select(rand(7).as("v")).coalesce(1)
      .write.mode("overwrite").option("parquet.block.size", 256L << 20)
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val s2 = spark.newSession()
    // splits of 40% of the file: the scan plans 3 of them
    s2.conf.set("spark.sql.files.maxPartitionBytes", file.length * 2 / 5)
    s2.conf.set("spark.sql.files.openCostInBytes", 1L)
    val df = s2.read.parquet(dir)
    assert(df.rdd.getNumPartitions == 3)
    assert(Spread.leafSplits(df.queryExecution.analyzed) == Seq((3, 1)))
    assert(Spread.inputPartitions(df.queryExecution.analyzed) == 1)
    assert(spreads(df))
  }

  test("fanoutBy and fanout are unaffected by the scan rule") {
    val dp = spark.sparkContext.defaultParallelism
    for (df <- Seq(spark.read.parquet(filesDir(dp)),
        spark.read.parquet(filesDir(1)))) {
      Spread.fanout(df).queryExecution.logical match {
        case Repartition(n, true, _) => assert(n == dp)
        case p => fail(s"fanout did not spread:\n$p")
      }
      Spread.fanoutBy(df, col("x")).queryExecution.logical match {
        case r: RepartitionByExpression => assert(r.optNumPartitions == Some(dp))
        case p => fail(s"fanoutBy did not spread:\n$p")
      }
    }
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
