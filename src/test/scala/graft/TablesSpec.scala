package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** `Tables.load` derives each parquet schema from its footer on the
  * driver: it must start no Spark job and give exactly what the
  * inferring read (`spark.read.parquet`) gave — schema and data — on
  * every layout it meets. */
class TablesSpec extends SparkSpec {
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The committed benchmark copy and the scale factors of TESTDATA.md
    * that are present. */
  private val dirs = ("perfbench/data/sf0.01" +:
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf"))
    .filter(d => new File(d).isDirectory)

  /** The inferring spelling `Tables.load` replaced. */
  private def inferred(path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    df.withColumns(ntz.map(f => f.name -> col(f.name).cast("timestamp")).toMap)
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerDrain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Row count and an order-free sum of every row's xxhash64. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  private def assertSame(root: String, name: String): Unit = {
    val (got, jobs) = jobsOf(Tables.load(spark, root, name))
    assert(jobs == 0, s"Tables.load($root, $name) started $jobs Spark jobs")
    val want = inferred(s"$root/$name.parquet")
    assert(got.schema == want.schema, s"$root/$name")
    assert(digest(got) == digest(want), s"$root/$name")
  }

  private def tmpDir(): String = Files.createTempDirectory("tables_spec").toString

  test("every table of every data dir: same schema and data as inference, 0 jobs") {
    assert(dirs.nonEmpty, "no data dir found")
    for (d <- dirs; n <- names) assertSame(d, n)
    for (d <- dirs) {
      val (got, jobs) = jobsOf(Tables.events(spark, d))
      assert(jobs == 0, s"Tables.events($d) started $jobs Spark jobs")
      assert(got.schema("ts").dataType.typeName == "timestamp", d)
    }
  }

  test("a Spark-written multi-file directory with _SUCCESS") {
    val root = tmpDir()
    spark.range(0, 5000).repartition(5).selectExpr("id",
      "cast(id % 7 as int) as k", "concat('s', id) as s",
      "cast(id / 3.0 as double) as x", "cast(id as decimal(12, 2)) as d",
      "timestamp_micros(id * 1000000) as ts", "to_timestamp_ntz(timestamp_micros(id)) as ntz",
      "array(cast(id as float), 1.5f) as v", "named_struct('a', id, 'b', 'z') as st",
      "if(id % 3 = 0, null, id) as n")
      .write.parquet(s"$root/multi.parquet")
    val files = new File(s"$root/multi.parquet").list().toSet
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) == 5, files)
    assertSame(root, "multi")
  }

  test("two schema generations under spark.sql.parquet.mergeSchema=true") {
    val root = tmpDir()
    val path = s"$root/gen.parquet"
    spark.range(0, 100).selectExpr("id", "concat('a', id) as a")
      .write.parquet(path)
    spark.range(100, 200).selectExpr("id", "cast(id as double) as b")
      .write.mode("append").parquet(path)
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      assertSame(root, "gen")
      assert(Tables.load(spark, root, "gen").columns.toSet == Set("id", "a", "b"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assertSame(root, "gen") // without merging: the first leaf's footer
  }

  test("a path with no parquet file fails loudly and names the path") {
    val root = tmpDir()
    val empty = new File(s"$root/empty.parquet")
    assert(empty.mkdir() && new File(empty, "_SUCCESS").createNewFile())
    for (name <- Seq("empty", "missing")) {
      val e = intercept[Exception](Tables.load(spark, root, name))
      assert(e.getMessage.contains(s"$root/$name.parquet"), e.getMessage)
    }
  }
}
