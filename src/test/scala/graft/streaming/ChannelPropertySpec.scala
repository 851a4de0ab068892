package graft.streaming

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import ChannelStream._

/** Property tests from SURVEY §5.2: over random subscribe/unsubscribe/
  * message interleavings, the delivery set always equals the membership
  * set at message time; no delivery after unsubscribe; state removed
  * exactly when the channel empties. Runs against the same transition
  * function the streaming operator executes
  * ([[ChannelStream.processChannel]] is pure) via Spark's
  * TestGroupState; 200 seeded-random interleavings.
  */
class ChannelPropertySpec extends AnyFunSuite {

  private def randomOps(seed: Int): List[(String, Long)] = {
    val rnd = new scala.util.Random(seed)
    List.fill(40) {
      val op = rnd.nextInt(11) match {
        case x if x < 4 => "J"
        case x if x < 6 => "L"
        case 6 => "K"
        case _ => "M"
      }
      (op, rnd.nextInt(6).toLong)
    }
  }

  private def run(ops: List[(String, Long)]): (Seq[Delivery], Option[ChannelState]) = {
    val events = ops.zipWithIndex.map { case ((op, cid), i) =>
      ChannelEvent(i.toLong, op, "ch", cid, s"node-${cid % 2}", "publisher",
        s"msg-$i")
    }
    val st = TestGroupState.create[ChannelState](
      Optional.empty(), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val out = processChannel(systemMessages = false)("ch", events.iterator, st).toSeq
    (out, if (st.exists) Some(st.get) else None)
  }

  /** Reference model: the ChannelHub maps maintained imperatively
    * (mirrors lib/ChannelHub.js semantics). */
  private def model(ops: List[(String, Long)]): (Seq[(Long, String)], Map[Long, String]) = {
    var members = Map.empty[Long, String]
    val deliveries = Seq.newBuilder[(Long, String)]
    ops.zipWithIndex.foreach { case ((op, cid), i) =>
      op match {
        case "J" => members += cid -> s"node-${cid % 2}"
        case "L" | "K" => members -= cid
        case "M" =>
          members.toSeq.sortBy(_._1).foreach { case (c, _) =>
            deliveries += ((c, s"msg-$i"))
          }
        case _ =>
      }
    }
    (deliveries.result(), members)
  }

  test("delivery set == membership set at message time (200 random interleavings)") {
    for (seed <- 1 to 200) {
      val ops = randomOps(seed)
      val (got, endState) = run(ops)
      val (want, wantMembers) = model(ops)
      assert(got.map(d => (d.cid, d.message)) == want, s"seed=$seed")
      assert(endState.map(_.members).getOrElse(Map.empty) == wantMembers,
        s"end-state mismatch seed=$seed")
    }
  }

  test("TTL: an expired membership reads as empty; a timed-out group is removed") {
    val ttl = Some(java.time.Duration.ofMillis(500))
    val held = ChannelState(Map(1L -> "n1"), expiresAt = 1500L)
    def at(now: Long, timedOut: Boolean = false) =
      TestGroupState.create[ChannelState](Optional.of(held),
        GroupStateTimeout.ProcessingTimeTimeout, now, Optional.empty[Long](),
        hasTimedOut = timedOut)
    def message(t: Long) =
      Iterator(ChannelEvent(t, "M", "ch", -1, "", "publisher", "m"))
    // before its expiry the member receives, and the expiry moves on
    val live = at(1499L)
    assert(processChannel(false, ttl)("ch", message(1), live).map(_.cid)
      .toSeq == Seq(1L))
    assert(live.get.expiresAt == 1999L)
    assert(live.getTimeoutTimestampMs.get == 1999L)
    // at its expiry the membership is gone, although the batch has data
    val expired = at(1500L)
    assert(processChannel(false, ttl)("ch", message(2), expired).isEmpty)
    assert(!expired.exists)
    // a timeout call removes the group
    val timedOut = at(1600L, timedOut = true)
    assert(processChannel(false, ttl)("ch", Iterator.empty, timedOut).isEmpty)
    assert(!timedOut.exists)
  }

  test("state exists iff membership non-empty") {
    for (seed <- 201 to 400) {
      val ops = randomOps(seed)
      val (_, endState) = run(ops)
      val (_, wantMembers) = model(ops)
      assert(endState.isDefined == wantMembers.nonEmpty, s"seed=$seed")
    }
  }

  test("fan-out count equals subscriber count for every message") {
    for (seed <- 401 to 450) {
      val ops = randomOps(seed)
      val (got, _) = run(ops)
      // recompute membership at each message index from the model
      var members = Set.empty[Long]
      var expected = 0
      ops.foreach { case (op, cid) =>
        op match {
          case "J" => members += cid
          case "L" | "K" => members -= cid
          case "M" => expected += members.size
          case _ =>
        }
      }
      assert(got.size == expected, s"seed=$seed")
    }
  }
}
