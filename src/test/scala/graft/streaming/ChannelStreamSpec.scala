package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import ChannelStream._

/** Streaming semantics from SURVEY §5.2: subscribe→message→delivered;
  * unknown channel → no delivery; unsubscribe→message→not delivered;
  * kick removes; state evicted when channel empties.
  */
class ChannelStreamSpec extends SparkSpec {
  import spark.implicits._

  private var nextId = 0
  private def runBatches(batches: Seq[Seq[ChannelEvent]],
      systemMessages: Boolean = false): Seq[Delivery] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChannelEvent]
    nextId += 1
    val sinkName = s"chanstream_$nextId"
    val q = deliveries(input.toDS(), systemMessages)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append).start()
    try {
      for (b <- batches) { input.addData(b); q.processAllAvailable() }
      spark.table(sinkName).as[Delivery].collect().toSeq
    } finally q.stop()
  }

  private def ev(t: Long, op: String, ch: String, cid: Long = -1,
      sid: String = "", msg: String = ""): ChannelEvent =
    ChannelEvent(t, op, ch, cid, sid, "publisher", msg)

  test("subscribe then message delivers to all subscribers") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "news", 1, "n1"), ev(2, "J", "news", 2, "n2")),
      Seq(ev(3, "M", "news", msg = "hello"))))
    assert(out.map(d => (d.cid, d.message)).toSet ==
      Set((1L, "hello"), (2L, "hello")))
  }

  test("message to unknown channel delivers nothing") {
    val out = runBatches(Seq(Seq(ev(1, "M", "ghost", msg = "lost"))))
    assert(out.isEmpty)
  }

  test("unsubscribe stops delivery; remaining members still receive") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "news", 1, "n1"), ev(2, "J", "news", 2, "n1")),
      Seq(ev(3, "L", "news", 1)),
      Seq(ev(4, "M", "news", msg = "later"))))
    assert(out.map(_.cid).toSet == Set(2L))
  }

  test("kick behaves like unsubscribe within the channel") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "news", 1, "n1")),
      Seq(ev(2, "K", "news", 1)),
      Seq(ev(3, "M", "news", msg = "after-kick"))))
    assert(out.isEmpty)
  }

  test("within-batch ordering is event-time: J before M in same batch") {
    val out = runBatches(Seq(
      Seq(ev(5, "M", "news", msg = "m1"), ev(1, "J", "news", 7, "n1"))))
    assert(out.map(_.cid) == Seq(7L)) // J(ts=1) applied before M(ts=5)
  }

  test("duplicate join is idempotent (single delivery per client)") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "news", 1, "n1"), ev(2, "J", "news", 1, "n1")),
      Seq(ev(3, "M", "news", msg = "once"))))
    assert(out.size == 1)
  }

  test("S/I gossip frames are explicitly ignored: no delivery, state intact") {
    // NODE_STATE (S, lib/QutyCluster.js:557-577) and NODE_INFO (I,
    // :252-272) are replication frames the StateStore design replaces.
    val out = runBatches(Seq(
      Seq(ev(1, "J", "news", 1, "n1")),
      Seq(ev(2, "S", "news", 99, "nX", msg = "gossip-state"),
        ev(3, "I", "news", 98, "nY", msg = "gossip-info")),
      Seq(ev(4, "M", "news", msg = "still-here"))))
    // the S/I frames themselves produced nothing...
    assert(!out.exists(d => d.message.startsWith("gossip")))
    assert(!out.exists(d => d.cid == 99L || d.cid == 98L))
    // ...and membership survived them untouched
    assert(out.map(d => (d.cid, d.message)) == Seq((1L, "still-here")))
  }

  test("system join/leave enrichment: welcome, join and leave notices in order") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "hub", 1, "n1")),
      Seq(ev(2, "J", "hub", 2, "n2")),
      Seq(ev(3, "M", "hub", msg = "hello")),
      Seq(ev(4, "L", "hub", 1))),
      systemMessages = true)
    assert(out.map(d => (d.cid, d.message, d.origin)) == Seq(
      (1L, "system:welcome:1", "system"),          // joiner welcomed
      (2L, "system:welcome:2", "system"),          // second joiner welcomed
      (1L, "system:join:2", "system"),             // existing member notified
      (1L, "hello", "publisher"),                  // ordinary fan-out
      (2L, "hello", "publisher"),
      (2L, "system:leave:1", "system")))           // remaining member notified
  }

  test("enrichment is idempotent: duplicate join and unknown leave emit nothing") {
    val out = runBatches(Seq(
      Seq(ev(1, "J", "hub", 1, "n1")),
      Seq(ev(2, "J", "hub", 1, "n1")),             // duplicate join
      Seq(ev(3, "L", "hub", 7))),                  // never-subscribed leave
      systemMessages = true)
    assert(out.map(_.message) == Seq("system:welcome:1"))
  }

  test("kept roster: seeded J/L/U/K/M/S folds equal the sort-per-message fold") {
    // the replaced fold, kept here as the reference: every fan-out and
    // notice re-sorts the whole member map
    def sortEach(channel: String, initial: Map[Long, String],
        events: Seq[ChannelEvent], systemMessages: Boolean)
        : (Map[Long, String], Seq[Delivery]) = {
      var members = initial
      val out = Seq.newBuilder[Delivery]
      def notice(msg: String, ts: Long, except: Long): Unit = if (systemMessages)
        out ++= members.toSeq.sortBy(_._1).collect { case (cid, sid) if cid != except =>
          Delivery(channel, cid, sid, msg, ts, "system")
        }
      for (e <- events.sortBy(e => (e.tsMillis, e.op, e.cid))) e.op match {
        case "J" => if (!members.contains(e.cid)) {
          members = members.updated(e.cid, e.sid)
          if (systemMessages) {
            out += Delivery(channel, e.cid, e.sid, s"system:welcome:${e.cid}",
              e.tsMillis, "system")
            notice(s"system:join:${e.cid}", e.tsMillis, except = e.cid)
          }
        }
        case "L" | "U" | "K" =>
          val was = members.contains(e.cid)
          members = members - e.cid
          if (was) notice(s"system:leave:${e.cid}", e.tsMillis, except = e.cid)
        case "M" => out ++= members.toSeq.sortBy(_._1).map { case (cid, sid) =>
          Delivery(channel, cid, sid, e.message, e.tsMillis, e.origin)
        }
        case _ =>
      }
      (members, out.result())
    }
    val ops = Array("J", "J", "J", "L", "U", "K", "M", "M", "M", "S", "I")
    for (seed <- 1L to 40L; systemMessages <- Seq(false, true)) {
      val rng = new java.util.SplittableRandom(seed)
      var now = Map.empty[Long, String]
      var was = now
      for (batch <- 1 to 6) {
        // few timestamps and cids, so ties and repeats are common
        val events = Seq.fill(rng.nextInt(60)) {
          val op = ops(rng.nextInt(ops.length))
          ChannelEvent(rng.nextInt(8).toLong, op, "ch", rng.nextInt(24).toLong,
            s"n${rng.nextInt(3)}", Seq("publisher", "node")(rng.nextInt(2)),
            s"m${rng.nextInt(1000)}")
        }
        val (m1, d1) = applyEvents("ch", now, events.iterator, systemMessages)
        val (m2, d2) = sortEach("ch", was, events, systemMessages)
        withClue(s"seed $seed batch $batch systemMessages=$systemMessages") {
          assert(m1 == m2)
          assert(d1 == d2)
        }
        now = m1; was = m2
      }
    }
  }

  /** The same operator on the RocksDB state store provider. */
  private def runRocksDb(batches: Seq[Seq[ChannelEvent]],
      systemMessages: Boolean = false): Seq[Delivery] =
    runRocksDbStream(batches)(deliveries(_, systemMessages = systemMessages))

  test("on RocksDB: join/message/leave across micro-batches") {
    val out = runRocksDb(Seq(
      Seq(ev(1, "J", "news", 1, "n1"), ev(2, "J", "news", 2, "n2")),
      Seq(ev(3, "M", "news", msg = "hello")),
      Seq(ev(4, "L", "news", 1)),
      Seq(ev(5, "M", "news", msg = "again"))))
    assert(out.map(d => (d.cid, d.message)).toSet ==
      Set((1L, "hello"), (2L, "hello"), (2L, "again")))
  }

  test("on RocksDB: system-message enrichment (O40) in order") {
    val out = runRocksDb(Seq(
      Seq(ev(1, "J", "hub", 1, "n1")),
      Seq(ev(2, "J", "hub", 2, "n2")),
      Seq(ev(3, "M", "hub", msg = "hello")),
      Seq(ev(4, "L", "hub", 1))),
      systemMessages = true)
    assert(out.map(d => (d.cid, d.message, d.origin)) == Seq(
      (1L, "system:welcome:1", "system"),
      (2L, "system:welcome:2", "system"),
      (1L, "system:join:2", "system"),
      (1L, "hello", "publisher"),
      (2L, "hello", "publisher"),
      (2L, "system:leave:1", "system")))
  }

  test("on RocksDB: state persists across micro-batches and channel empties cleanly") {
    val out = runRocksDb(Seq(
      Seq(ev(1, "J", "ch", 9, "n1")),
      Seq(ev(2, "K", "ch", 9)),
      Seq(ev(3, "M", "ch", msg = "nobody"))))
    assert(out.isEmpty)
  }

  /** A processing-time timeout keeps the stream running batches, so TTL
    * runs go through the restart-per-batch file-source harness. */
  private def runTtl(ttl: java.time.Duration, sleepBetweenMs: Long,
      batches: Seq[Seq[ChannelEvent]]): Seq[Delivery] =
    runTtlFileStream(batches, sleepBetweenMs)(deliveries(_, ttl = Some(ttl)))

  test("TTL expires idle channel state (the auto-destroy analog)") {
    // Only the SAFE direction is asserted: after sleeping well past the
    // TTL, the membership must be gone — scheduler delays can only make
    // the sleep longer, never resurrect state, so this cannot flake.
    val out = runTtl(java.time.Duration.ofMillis(500), sleepBetweenMs = 3000,
      Seq(Seq(ev(1, "J", "ttlch", 1, "n1")),
        Seq(ev(2, "M", "ttlch", msg = "after-expiry"))))
    assert(out.isEmpty, s"state should have expired, got $out")
  }

  test("long TTL retains state across immediate restarts") {
    val out = runTtl(java.time.Duration.ofHours(1), sleepBetweenMs = 0,
      Seq(Seq(ev(1, "J", "keepch", 1, "n1")),
        Seq(ev(2, "M", "keepch", msg = "kept"))))
    assert(out.map(d => (d.cid, d.message)) == Seq((1L, "kept")))
  }

  test("streaming status snapshot reports progress of the active query") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ChannelEvent]
    val q = deliveries(input.toDS())
      .writeStream.format("memory").queryName("status_probe")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(ev(1, "J", "st", 1, "n1"), ev(2, "M", "st", msg = "x")))
      q.processAllAvailable()
      val snap = StatusSnapshot.streamingStatus(spark)
        .filter("name = 'status_probe'")
        .select("ready", "batchId", "numInputRows", "stateRows")
        .collect()
      assert(snap.length == 1)
      val r = snap.head
      assert(r.getBoolean(0), "query must be ready after progress")
      assert(r.getLong(1) >= 0L)
      assert(r.getLong(2) > 0L, "input rows must be counted")
      assert(r.getLong(3) >= 1L, "one channel state row expected")
    } finally q.stop()
  }
}
