package graft

/** The whole-surface empty-corpus invariant: EVERY query must build
  * and execute against empty copies of all ten tables — no driver
  * NPE on a NULL min/max/sum pre-pass, no ANSI divide-by-zero, no
  * unguarded head() on an empty frame. The per-query EmptyInputSpec
  * lists pin exact outputs for interesting cases; this sweep pins the
  * weaker no-crash property for the other ~350 so the class of bug
  * the round-11 reviews kept finding (five instances) cannot recur
  * silently in ANY query. Schemas come from the sf0.001 parquet
  * itself (limit 0), so they cannot drift from the real fixtures.
  */
class EmptyCorpusSweepSpec extends SparkSpec {

  /** Run every query against `dir`, returning failures. The collects
    * run on a small thread pool (guide §2.6 — independent jobs
    * overlap): the four 374-query sweeps were ~12 min of the default
    * suite's wall serially, dominated by per-query planning and
    * scheduling that parallelizes cleanly across threads. A
    * sweep that outlives SweepTimeout fails naming the queries still
    * running instead of hanging the suite. */
  private def sweep(dir: String): Seq[String] = {
    import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
    import scala.jdk.CollectionConverters._
    // the queries share one session: two of them registering the same
    // temp-view name would race each other's view on the pool
    assert(viewClashes.isEmpty, s"temp-view names shared across " +
      s"queries race in a concurrent sweep: ${viewClashes.mkString("; ")}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try {
      val futs = SparkEntry.queries.toSeq.sortBy(_._1).map {
        case (name, fn) =>
          Future {
            running.add(name)
            try { fn(spark, dir).collect(); None }
            catch {
              case e: Throwable =>
                val m = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
                  .map(x => Option(x.getMessage).getOrElse(""))
                  .mkString(" | ").take(200)
                Some(s"$name -> $m")
            } finally running.remove(name)
          }
      }
      try Await.result(Future.sequence(futs), SweepTimeout).flatten
      catch { case _: TimeoutException =>
        fail(s"sweep over $dir exceeded $SweepTimeout; still running: " +
          running.asScala.toSeq.sorted.mkString(", ") +
          s"; not started: ${futs.count(!_.isCompleted) - running.size}")
      }
    } finally pool.shutdownNow()
  }

  private val SweepTimeout = scala.concurrent.duration.Duration(15, "min")

  /** `createOrReplaceTempView("name")` call sites in src/main sharing
    * one name, as "name: file:line, file:line". Fails if a call site
    * names its view by anything but a literal (the scan would miss it)
    * or if there are no sites at all (the scan would be vacuous). */
  private lazy val viewClashes: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val call = "createOrReplaceTempView\\(".r
    val literal = "createOrReplaceTempView\\(\"([^\"]+)\"\\)".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val sites = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      _ = assert(call.findAllIn(line).size == literal.findAllIn(line).size,
        s"non-literal temp-view name at $f:${i + 1}: $line")
      m <- literal.findAllMatchIn(line)
    } yield m.group(1) -> s"$f:${i + 1}"
    assert(sites.nonEmpty, "no temp-view call sites found under src/main")
    sites.groupBy(_._1).collect { case (v, ss) if ss.size > 1 =>
      s"$v: ${ss.map(_._2).mkString(", ")}" }.toSeq.sorted
  }

  test("every query survives a fully-empty corpus") {
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("empty_all").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    val failures = sweep(dir)
    assert(failures.isEmpty,
      s"${failures.size} queries crash on an empty corpus:\n" +
        failures.mkString("\n"))
  }

  test("every query survives a zero-content corpus") {
    // the THIRD degenerate family (ADVICE round-11: "rows present,
    // zero bytes" — reachable and outside both other sweeps): one row
    // per table whose CONTENT is degenerate — empty text (n_chars =
    // 0), zero money/quantities, an unparseable props payload, a
    // zero-norm embedding. Reaches the divide-by-zero / zero-norm /
    // empty-token paths that an empty corpus (no rows to divide) and
    // a single REAL row (plausible values) both miss.
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("zero_content").toString
    def one(t: String) = spark.read.parquet(s"$src/$t.parquet").limit(1)
    for (t <- Seq("region", "nation"))
      one(t).coalesce(1).write.parquet(s"$dir/$t.parquet")
    one("customer").withColumn("c_acctbal", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    one("supplier").withColumn("s_acctbal", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    one("part").withColumn("p_retailprice", lit(0.0))
      .withColumn("p_size", lit(0))
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    one("orders").withColumn("o_totalprice", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    one("lineitem").withColumn("l_quantity", lit(0.0))
      .withColumn("l_extendedprice", lit(0.0))
      .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    one("events").withColumn("value", lit(0.0))
      .withColumn("props", lit(""))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    one("documents").withColumn("text", lit(""))
      .withColumn("n_chars", lit(0L))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    one("embeddings")
      .withColumn("embedding", expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val failures = sweep(dir)
    assert(failures.isEmpty,
      s"${failures.size} queries crash on a zero-content corpus:\n" +
        failures.mkString("\n"))
  }

  test("every query survives a NULL-content corpus") {
    // the FOURTH degenerate family: one row per table whose nullable
    // PAYLOAD columns are all NULL (keys stay real — NULL keys are a
    // referential-integrity concern the dq suite audits separately).
    // The round-11/12 NULL-semantics fixes define every statistic
    // over VALUED rows in both twins; this sweep machine-checks the
    // no-crash half of that contract across the whole surface (no
    // NPE in a kernel fed a NULL array, no ANSI abort on a NULL-fed
    // denominator, no getString on a NULL slot).
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("null_content").toString
    def one(t: String) = spark.read.parquet(s"$src/$t.parquet").limit(1)
    def nullify(t: String, cols: (String, String)*): Unit = {
      var df = one(t)
      for ((c, tpe) <- cols) df = df.withColumn(c, lit(null).cast(tpe))
      df.coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    for (t <- Seq("region", "nation"))
      one(t).coalesce(1).write.parquet(s"$dir/$t.parquet")
    nullify("customer", "c_acctbal" -> "double", "c_name" -> "string",
      "c_mktsegment" -> "string")
    nullify("supplier", "s_acctbal" -> "double", "s_name" -> "string")
    nullify("part", "p_retailprice" -> "double", "p_name" -> "string",
      "p_type" -> "string", "p_brand" -> "string")
    nullify("orders", "o_totalprice" -> "double",
      "o_orderpriority" -> "string")
    nullify("lineitem", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string")
    nullify("events", "value" -> "double", "props" -> "string")
    nullify("documents", "text" -> "string", "n_chars" -> "bigint",
      "lang" -> "string")
    nullify("embeddings", "embedding" -> "array<float>")
    val failures = sweep(dir)
    assert(failures.isEmpty,
      s"${failures.size} queries crash on a NULL-content corpus:\n" +
        failures.mkString("\n"))
  }

  test("every query survives a single-row corpus") {
    // one real row per table (limit 1 from the fixtures, so values
    // are plausible but joins mostly miss): exercises the OTHER
    // degenerate family — n = 1 variances, single-day series,
    // (n−1)/0 denominators — that empty input cannot reach
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("one_row").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet").limit(1)
        .coalesce(1).write.parquet(s"$dir/$t.parquet")
    }
    val failures = sweep(dir)
    assert(failures.isEmpty,
      s"${failures.size} queries crash on a single-row corpus:\n" +
        failures.mkString("\n"))
  }
}
