package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import scala.collection.mutable
import scala.util.Random

/** Long-churn soak over the three flagship stateful processors
  * (VERDICT r12 task 5): 300 micro-batches each on the RocksDB state
  * store, with seeded-random subscribe/unsubscribe/kick/message churn,
  * asserting the two things a few-batch interleaving can't:
  *   - state row counts stay BOUNDED for the whole run (read from
  *     StreamingQueryProgress.stateOperators — the designed invariant
  *     is O(live channels) / O(distinct digests) / O(keys), never
  *     O(events), and 300 batches of churn is where a leak (e.g. an
  *     emptied channel whose row is updated instead of cleared) would
  *     accumulate past any such bound);
  *   - the cumulative output still equals the pure advance/applyEvents
  *     fold over the same batch sequence (the batch twin) — no drift,
  *     loss, or duplication across hundreds of RocksDB commits.
  * Peak state sizes are printed for the BENCH_NOTES soak row. TTL
  * eviction itself is pinned in ChannelStreamSpec (processing-time
  * mode needs the restart harness); this soak runs the append-mode
  * paths whose eviction mechanism is the empty-state clear.
  */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._

  private val Batches = 300

  /** Drive `batches` through a streaming query one micro-batch at a
    * time, returning every memory-sink row, the PEAK state row count,
    * per-batch row counts, and the maxima of the memory/disk state
    * metrics (`mem` = stateOperators.memoryUsedBytes, `sst` = the
    * RocksDB on-disk SST bytes custom metric) observed across all
    * progress events. */
  private def soak[I, O](batches: Seq[Seq[I]])(
      wire: org.apache.spark.sql.Dataset[I] =>
        org.apache.spark.sql.Dataset[O])(
      implicit ienc: org.apache.spark.sql.Encoder[I],
      oenc: org.apache.spark.sql.Encoder[O])
      : (Seq[O], Long, Seq[Long], Map[String, Long]) =
    withRocksDbProvider {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[I]
      val name = s"soak_${graft.SparkSpec.streamCounter.incrementAndGet()}"
      val q: StreamingQuery = wire(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      val perBatchRows = mutable.ArrayBuffer.empty[Long]
      try {
        var peak = 0L
        var maxMem = 0L
        var maxSst = 0L
        for (b <- batches) {
          input.addData(b)
          q.processAllAvailable()
          for (p <- Option(q.lastProgress); so <- p.stateOperators) {
            peak = math.max(peak, so.numRowsTotal)
            perBatchRows += so.numRowsTotal
            maxMem = math.max(maxMem, so.memoryUsedBytes)
            maxSst = math.max(maxSst, Option(so.customMetrics
              .get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L))
          }
        }
        (spark.table(name).as[O].collect().toSeq, peak,
          perBatchRows.toSeq, Map("mem" -> maxMem, "sst" -> maxSst))
      } finally q.stop()
    }

  test(s"ChannelStream: $Batches-batch churn, state bounded by live channels, twin-exact") {
    val rng = new Random(13)
    val channels = (0 until 40).map(i => s"ch$i")
    var ts = 0L
    def ev(op: String, ch: String, cid: Long, msg: String = "") = {
      ts += 1
      ChannelStream.ChannelEvent(ts, op, ch, cid, s"node-${cid % 5}",
        "publisher", msg)
    }
    val batches = (0 until Batches).map { b =>
      (0 until 8).map { _ =>
        val ch = channels(rng.nextInt(channels.size))
        val cid = rng.nextInt(200).toLong
        rng.nextInt(10) match {
          case x if x < 4 => ev("J", ch, cid)
          case x if x < 7 => ev("L", ch, cid)
          case x if x < 9 => ev("M", ch, cid, s"m$b")
          case _          => ev("K", ch, cid)
        }
      }
    }
    val (got, peak, perBatch, _) = soak(batches)(ds =>
      ChannelStream.deliveries(ds))
    // bound: one state row per NON-EMPTY channel, at every batch
    assert(peak <= channels.size,
      s"state rows $peak exceeded the ${channels.size}-channel bound")
    assert(perBatch.size >= Batches, "progress metrics missing batches")
    // twin: the pure fold over the identical batch sequence
    val state = mutable.Map.empty[String, Map[Long, String]]
      .withDefaultValue(Map.empty)
    val want = Seq.newBuilder[ChannelStream.Delivery]
    for (b <- batches; (ch, evs) <- b.groupBy(_.channel)) {
      val (m, out) = ChannelStream.applyEvents(ch, state(ch),
        evs.iterator, systemMessages = false)
      if (m.isEmpty) state.remove(ch) else state(ch) = m
      want ++= out
    }
    val wantSeq = want.result()
    assert(got.nonEmpty && got.size == wantSeq.size,
      s"${got.size} deliveries vs twin ${wantSeq.size}")
    assert(got.sortBy(d => (d.tsMillis, d.cid)) ==
      wantSeq.sortBy(d => (d.tsMillis, d.cid)))
    info(s"channel soak: peak state rows = $peak, " +
      s"deliveries = ${got.size}")
  }

  test(s"ChannelStream: $Batches-batch churn with a restart every 50 batches, twin-exact across restarts") {
    // The rolling-upgrade scenario (VERDICT r13 task 4): same seeded
    // churn as the uninterrupted soak, but the query is STOPPED and
    // restarted from its RocksDB checkpoint every ~50 batches — with
    // more churn arriving while it is down. Needs a file source
    // (MemoryStream offsets die with the query) and the parquet sink
    // (whose _spark_metadata log makes output exactly-once across
    // restarts). Asserts the cumulative delivery log is twin-exact
    // and the per-channel state bound holds in EVERY query
    // generation. Twin validity across regrouped micro-batches (a
    // restart's first trigger drains all downtime files in one
    // batch): ts is globally unique and increasing, and applyEvents
    // sorts each batch by (ts, op, cid), so the fold is
    // batch-boundary-invariant here.
    val rng = new Random(47)
    val channels = (0 until 40).map(i => s"ch$i")
    var ts = 0L
    def ev(op: String, ch: String, cid: Long, msg: String = "") = {
      ts += 1
      ChannelStream.ChannelEvent(ts, op, ch, cid, s"node-${cid % 5}",
        "publisher", msg)
    }
    def churn(b: Int): Seq[ChannelStream.ChannelEvent] =
      (0 until 8).map { _ =>
        val ch = channels(rng.nextInt(channels.size))
        val cid = rng.nextInt(200).toLong
        rng.nextInt(10) match {
          case x if x < 4 => ev("J", ch, cid)
          case x if x < 7 => ev("L", ch, cid)
          case x if x < 9 => ev("M", ch, cid, s"m$b")
          case _          => ev("K", ch, cid)
        }
      }

    withRocksDbProvider {
      val root = java.nio.file.Files
        .createTempDirectory("soak_restart").toString
      val schema =
        implicitly[org.apache.spark.sql.Encoder[ChannelStream.ChannelEvent]]
          .schema
      def writeBatch(b: Seq[ChannelStream.ChannelEvent]): Unit =
        b.toDS().repartition(1).write.mode("append").json(s"$root/in")
      def startQuery(): StreamingQuery =
        ChannelStream.deliveries(
            spark.readStream.schema(schema).json(s"$root/in")
              .as[ChannelStream.ChannelEvent])
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode(OutputMode.Append).start()

      val all = mutable.ArrayBuffer.empty[Seq[ChannelStream.ChannelEvent]]
      var peak = 0L
      var restarts = 0
      // the file source needs the input dir to exist at start()
      val first = churn(0); all += first; writeBatch(first)
      var q = startQuery()
      try {
        q.processAllAvailable()
        for (b <- 1 until Batches) {
          if (b % 50 == 0) {
            // stop; two batches of churn land while the query is down
            q.stop(); restarts += 1
            for (_ <- 0 until 2) {
              val down = churn(b); all += down; writeBatch(down)
            }
            q = startQuery()
          }
          val batch = churn(b); all += batch; writeBatch(batch)
          q.processAllAvailable()
          for (p <- Option(q.lastProgress); so <- p.stateOperators)
            peak = math.max(peak, so.numRowsTotal)
        }
        q.processAllAvailable()
      } finally q.stop()
      assert(restarts == 5, s"expected 5 restarts, got $restarts")
      assert(peak <= channels.size,
        s"state rows $peak exceeded the ${channels.size}-channel bound")

      // twin fold over the full written sequence
      val state = mutable.Map.empty[String, Map[Long, String]]
        .withDefaultValue(Map.empty)
      val want = Seq.newBuilder[ChannelStream.Delivery]
      for (b <- all; (ch, evs) <- b.groupBy(_.channel)) {
        val (m, out) = ChannelStream.applyEvents(ch, state(ch),
          evs.iterator, systemMessages = false)
        if (m.isEmpty) state.remove(ch) else state(ch) = m
        want ++= out
      }
      val wantSeq = want.result()
      val got = spark.read.parquet(s"$root/out")
        .as[ChannelStream.Delivery].collect().toSeq
      assert(got.nonEmpty && got.size == wantSeq.size,
        s"${got.size} deliveries vs twin ${wantSeq.size}")
      assert(got.sortBy(d => (d.tsMillis, d.cid)) ==
        wantSeq.sortBy(d => (d.tsMillis, d.cid)))
      info(s"restart soak: 5 restarts, peak state rows = $peak, " +
        s"deliveries = ${got.size}")
    }
  }

  test(s"DedupStream: $Batches-batch churn, state bounded by distinct digests, twin-exact") {
    val rng = new Random(17)
    val texts = (0 until 150).map(i => s"Document  body ${i} variant")
    var docId = 0L
    val batches = (0 until Batches).map { _ =>
      (0 until 5).map { _ =>
        docId += 1
        (docId, texts(rng.nextInt(texts.size)))
      }
    }
    val (got, peak, _, _) = soak(batches)(ds => DedupStream.dedup(ds))
    assert(peak <= texts.size,
      s"state rows $peak exceeded the ${texts.size}-digest bound")
    // twin: same normalization + md5 as the wiring, folded through the
    // pure advance
    def digest(t: String): String = {
      val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
      java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val state = mutable.Map.empty[String, Long]
    val want = Seq.newBuilder[DedupStream.Decision]
    for (b <- batches) {
      val rows = b.map { case (id, t) =>
        DedupStream.DocEvent(id, digest(t)) }
      for ((dg, evs) <- rows.groupBy(_.digest)) {
        val (out, canonical) =
          DedupStream.advance(dg, state.get(dg), evs)
        state(dg) = canonical
        want ++= out
      }
    }
    val wantSeq = want.result()
    assert(got.size == wantSeq.size && got.nonEmpty)
    assert(got.sortBy(_.doc_id) == wantSeq.sortBy(_.doc_id))
    assert(state.size == got.count(_.kept),
      "kept count must equal distinct digests seen")
    info(s"dedup soak: peak state rows = $peak, decisions = ${got.size}")
  }

  test(s"KmvStream: $Batches-batch churn, state bounded by key count, twin-exact") {
    val rng = new Random(29)
    val keys = (0 until 20).map(i => s"key$i")
    val k = 8
    val batches = (0 until Batches).map { _ =>
      (0 until 10).map { _ =>
        KmvStream.HashEvent(keys(rng.nextInt(keys.size)), rng.nextLong())
      }
    }
    val (got, peak, _, _) = soak(batches)(ds =>
      KmvStream.sketches(ds, k))
    assert(peak <= keys.size,
      s"state rows $peak exceeded the ${keys.size}-key bound")
    // twin: pure advance fold (order inside a batch is irrelevant to
    // the k-minima set, so groupBy order is safe)
    val state = mutable.Map.empty[String, KmvStream.Sketch]
      .withDefaultValue(KmvStream.Sketch(0L, 0L, Seq.empty))
    val want = Seq.newBuilder[KmvStream.SketchRow]
    for (b <- batches; (key, evs) <- b.groupBy(_.key)) {
      val (out, next) = KmvStream.advance(key, state(key), evs, k)
      state(key) = next
      want ++= out
    }
    val wantSeq = want.result()
    assert(got.size == wantSeq.size && got.nonEmpty)
    assert(got.sortBy(r => (r.key, r.version)) ==
      wantSeq.sortBy(r => (r.key, r.version)))
    info(s"kmv soak: peak state rows = $peak, sketch rows = ${got.size}")
  }

  test("DedupStream: state churned past 100k keys (RocksDB on disk), memory bounded, twin-exact", org.scalatest.tagobjects.Slow) {
    // The memory-bound decade (VERDICT r14 task 6): the 300-batch
    // soaks hold state at its DESIGNED bound (40/150/20 rows) — this
    // variant grows the key space itself into the hundreds of
    // thousands, where RocksDB's working set no longer fits a
    // memtable: digests land in SST files on disk, and the JVM's
    // share must stay bounded (block cache + memtable), NOT O(keys).
    // Same twin-exact fold as the designed-bound soak — paging must
    // not cost a row.
    val rng = new Random(31)
    val BigBatches = 60
    val perBatch = 2500
    var docId = 0L
    val batches = (0 until BigBatches).map { _ =>
      (0 until perBatch).map { _ =>
        docId += 1
        // ~90% unique bodies (fresh digests), ~10% recycled dups
        val t =
          if (rng.nextInt(10) == 0)
            s"Recycled body ${rng.nextInt(1000)} variant"
          else s"unique document body number $docId payload"
        (docId, t)
      }
    }
    val (got, peak, _, mx) =
      soak(batches)(ds => DedupStream.dedup(ds))
    assert(peak >= 100000L,
      s"this soak must drive state past 100k rows, peaked at $peak")
    // the state actually lives on disk...
    assert(mx("sst") > 0L,
      s"expected SST files on disk at ${peak} keys, sst=${mx("sst")}")
    // ...and the in-memory share stays far below the raw state size
    // (a leak of the full key set into the JVM would show here)
    val memCap = 256L * 1024 * 1024
    assert(mx("mem") <= memCap,
      s"state memory ${mx("mem")} exceeded the $memCap bound")
    // twin-exact at 150k keys: same fold as the designed-bound soak
    def digest(t: String): String = {
      val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
      java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val state = mutable.Map.empty[String, Long]
    val want = Seq.newBuilder[DedupStream.Decision]
    for (b <- batches) {
      val rows = b.map { case (id, t) =>
        DedupStream.DocEvent(id, digest(t)) }
      for ((dg, evs) <- rows.groupBy(_.digest)) {
        val (out, canonical) =
          DedupStream.advance(dg, state.get(dg), evs)
        state(dg) = canonical
        want ++= out
      }
    }
    val wantSeq = want.result()
    assert(got.size == wantSeq.size && got.nonEmpty)
    assert(got.sortBy(_.doc_id) == wantSeq.sortBy(_.doc_id))
    info(f"big-key soak: peak state rows = $peak, " +
      f"mem = ${mx("mem") / 1024.0 / 1024}%.1f MiB, " +
      f"sst = ${mx("sst") / 1024.0 / 1024}%.1f MiB, " +
      s"decisions = ${got.size}")
  }
}
