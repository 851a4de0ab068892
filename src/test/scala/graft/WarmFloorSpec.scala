package graft

/** Pins [[Bench.loadWarmFloors]]'s hand-rolled parse (round-14 ADVICE
  * fix): the flat top-level format parses including scientific
  * notation, a nested object's inner pairs don't leak in as floors,
  * and the absent-file case stays silent-empty (the fresh-checkout
  * path the driver hits when cwd isn't the repo). */
class WarmFloorSpec extends SparkSpec {

  private def write(content: String): String = {
    val f = java.nio.file.Files.createTempFile("warm", ".json")
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("flat floors parse, including scientific notation") {
    val floors = Bench.loadWarmFloors(write(
      """{
        | "q_a": 0.81,
        | "q_b": 12,
        | "q_c": 1.2e-3,
        | "q_d": 2.5E2
        |}""".stripMargin))
    assert(floors == Map(
      "q_a" -> 0.81, "q_b" -> 12.0, "q_c" -> 0.0012, "q_d" -> 250.0))
  }

  test("a nested object disables floors entirely (flat-file contract enforced, r15)") {
    // round-14's anchor alone still let a nested object's inner pairs
    // ("reps": 3,) match the flat shape — a phantom floor colliding
    // with a query name would mis-adjudicate warm reruns. The parser
    // now REJECTS any file with braces inside the top-level body:
    // floors off loudly beats floors subtly wrong.
    val floors = Bench.loadWarmFloors(write(
      """{
        | "q_a": 1.5,
        | "meta": {"reps": 3, "cap": 10},
        | "q_b": 2.25
        |}""".stripMargin))
    assert(floors.isEmpty,
      s"nested file must disable floors, parsed $floors")
    // brace-free non-floor values (arrays) stay skipped entry-wise —
    // the file is still flat, so the parse survives
    val arr = Bench.loadWarmFloors(write(
      """{"q_x": [1.0, 2.0], "q_y": 3.5}"""))
    assert(arr.get("q_y").contains(3.5) && !arr.contains("q_x"))
  }

  test("absent file is silently empty; real anchor file parses fully") {
    assert(Bench.loadWarmFloors("/nonexistent/warm.json").isEmpty)
    val path = "bench_anchors/warm_minima.json"
    val real = Bench.loadWarmFloors(path)
    // every entry of the file parses; the six queries that lost their
    // shared training cache have no floor until they are re-measured
    val entries = "\"\\w+\"\\s*:".r
      .findAllIn(java.nio.file.Files.readString(java.nio.file.Paths.get(path))).size
    assert(real.size == entries && real.size >= 368,
      s"the anchor file should parse fully and cover the surface: " +
        s"${real.size} of $entries entries")
    assert(real.values.forall(v => v > 0 && v < 1000))
  }

  test("timed runs attribute every Spark job to the query that started it") {
    val sf = "/root/testdata/sf0.001"
    val (a, b) = ("q1_pricing_summary", "route_client_fanout")
    val sc = spark.sparkContext
    val jobs = new Bench.JobCounts(sc)
    val all = new java.util.concurrent.atomic.AtomicLong
    val every = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        all.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc) // no earlier job leaks in
    sc.addSparkListener(every)
    try {
      assert(Bench.timed(spark, a, SparkEntry.queries(a), sf) >= 0)
      val ja = jobs(a)
      assert(Bench.timed(spark, b, SparkEntry.queries(b), sf) >= 0)
      val jb = jobs(b)
      assert(ja >= 1 && jb >= 1, s"$a=$ja $b=$jb")
      assert(jobs("never_run") == 0)
      assert(jobs(a) == ja, s"$b's jobs leaked into $a's group")
      assert(ja + jb == all.get(),
        s"$a=$ja + $b=$jb != ${all.get()} jobs started in the window")
    } finally {
      sc.removeSparkListener(every)
      sc.removeSparkListener(jobs)
    }
  }
}
