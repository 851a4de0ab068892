package graft.analytics

import graft.{QuerySuite, Tables}
import graft.protocol.Frames
import graft.route.Router
import graft.state.{Membership, MembershipSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's pub/sub computations (SURVEY §2.1 O1-O15, O41) as
  * oracle-checkable batch queries over the driver testdata. The `events`
  * table is the message log (`event_type` ≈ channel, `user_id` ≈ cid);
  * membership is derived deterministically (see [[graft.state.Membership]])
  * so DuckDB can rebuild identical state from the same parquet.
  *
  * Scale stance: membership (channels × users) is tiny relative to the
  * event log, so every routing join broadcasts the membership side —
  * at 100 TB the event stream never shuffles for routing.
  */
object RoutingQueries extends QuerySuite {

  private val ccSql = MembershipSql.clientChannels

  private def cc(s: SparkSession, d: String): DataFrame =
    Membership.clientChannels(Tables.events(s, d))

  /** Message subset used by fan-out queries (keeps outputs bounded).
    * Spread before the fan-out join, which multiplies rows ~1500×:
    * the testdata is one parquet file = one input split, and the
    * spread keeps the expansion parallel across all cores; a source
    * that arrives already partitioned is left as it is (Spread). */
  private def purchases(s: SparkSession, d: String): DataFrame =
    graft.Spread.fanoutScan(Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type").as("channel")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O3/O8 — the derived membership state itself.
    "member_client_channels" -> ((s, d) =>
      cc(s, d).orderBy("channel", "cid")),

    // Implicit node-subscribe (lib/ChannelHub.js:144).
    "member_node_channels" -> ((s, d) =>
      Membership.nodeChannels(cc(s, d)).orderBy("channel", "sid")),

    // O14 — distinct union of channel names across both maps
    // (lib/ChannelHub.js:33-51), the reference's one genuine set-op.
    "member_channels_union" -> ((s, d) => {
      val c = cc(s, d)
      Membership.channels(Membership.nodeChannels(c), c).orderBy("channel")
    }),

    // Delivery-load Gini — the routing-fairness audit: how unequally
    // are deliveries spread across subscribed clients? (Load per
    // client = Σ message volume of its channels — the fan-out's
    // per-client bill without materializing the fan-out.) Gini comes
    // from the sorted-rank formula evaluated on the (load →
    // client-count) VALUE-COUNT table: for value v with count c after
    // cumulative B, Σ(2i−n−1)·v over its rank block is
    // v·(2(cB + c(c+1)/2) − c(n+1)) — exact integers, one final
    // division. The only unpartitioned window runs over distinct load
    // values (≪ clients), the mann_whitney prefix-sum discipline.
    "route_delivery_gini" -> ((s, d) => {
      val chCnt = Tables.events(s, d)
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("m"))
      val loads = cc(s, d).join(broadcast(chCnt), "channel")
        .groupBy("cid").agg(sum("m").as("x"))
      val vc = loads.groupBy("x").agg(count(lit(1)).as("c"))
      val cum = vc.withColumn("b",
        coalesce(sum("c").over(Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // loud headroom guard (Exact.momentGuard): the rank-block terms
      // x·2·(b·c + c(c+1)/2) sum to ≤ 4·n²·x_max, and (n+1)·Σx ≤
      // 2·n²·x_max — bounded by CLIENT COUNT times per-client load,
      // not the calendar, so the exempt rationale does not apply; at
      // ~10⁸ clients with ~10⁵ loads the products pass 2⁶³ and would
      // abort generically (ANSI) or wrap (non-ANSI) without this.
      cum.agg(sum("c").as("n"), sum(col("x") * col("c")).as("sx"),
          sum(expr("x * 2 * (b * c + (c * (c + 1)) div 2)")).as("s2i"),
          max("x").as("mx"))
        .select(col("n").as("n_clients"), col("sx").as("total_load"),
          Exact.momentGuard(s, "route_delivery_gini", "4*n^2*x_max",
            lit(4.0) * col("n").cast("double") * col("n").cast("double") *
              col("mx").cast("double"))(
            (col("s2i") - (col("n") + 1L) * col("sx")).cast("double") /
              (col("n") * col("sx")).cast("double")).as("gini"))
    }),

    // O6/O12 — subscriptions per node: channel count + client count.
    "member_subs_per_node" -> ((s, d) =>
      cc(s, d).groupBy("sid")
        .agg(countDistinct("channel").as("n_channels"),
             countDistinct("cid").as("n_clients"))
        .orderBy("sid")),

    // Per-channel membership census.
    "member_channel_census" -> ((s, d) =>
      cc(s, d).groupBy("channel")
        .agg(countDistinct("cid").as("n_clients"),
             countDistinct("sid").as("n_nodes"))
        .orderBy("channel")),

    // O15 client fan-out — THE core router (lib/ChannelHub.js:267-273):
    // one delivery row per (message, subscribed client). Flagship slice.
    "route_client_fanout" -> ((s, d) =>
      Router.clientFanout(purchases(s, d), cc(s, d))
        .select("event_id", "channel", "cid", "sid")
        .orderBy("event_id", "cid")),

    // O15 node fan-out + unknown-channel broadcast fallback
    // (lib/ChannelHub.js:255-266): known channel -> subscribed sids only
    // (b=false); unknown -> ALL nodes with b=true.
    "route_node_fanout" -> ((s, d) => {
      val msgs = purchases(s, d)
        .filter(col("event_id") % 7 === 0)
        .unionByName(s.range(1).select(
          lit(-1L).as("event_id"), lit("mystery").as("channel")))
      val c = cc(s, d)
      Router.nodeFanout(msgs, Membership.nodeChannels(c), Membership.allNodes(c))
        .select("event_id", "channel", "sid", "b")
        .orderBy("event_id", "channel", "sid")
    }),

    // O41 delivery gate (example/engine-io.server.js:51-64): after a
    // partial unsubscribe (cid % 5 == 0 left), only still-subscribed
    // clients receive.
    "route_delivery_gate" -> ((s, d) => {
      val full = cc(s, d)
      val deliveries = Router.clientFanout(purchases(s, d), full)
        .select("event_id", "channel", "cid")
      val remaining = full.filter(col("cid") % 5 =!= 0)
      Router.deliveryGate(deliveries, remaining)
        .orderBy("event_id", "cid")
    }),

    // O9→O13 cascade (lib/ChannelHub.js:168-172, 221-238): tearing all
    // clients out of channel 'error' drops it from the node map too.
    "member_cascade" -> ((s, d) => {
      val c = cc(s, d)
      val survivors = c.filter(col("channel") =!= "error")
      Membership.cascadeEmptyChannels(Membership.nodeChannels(c), survivors)
        .orderBy("channel", "sid")
    }),

    // O28 status snapshot (lib/QutyCluster.js:641-658: `/_status` ->
    // {ready, nodes, channels}; routing lib/Server.js:230-286): ONE
    // operational row — ready flag + distinct node/channel/client
    // counts — the query every deployment hits daily. The streaming
    // twin (query progress) is graft.streaming.StatusSnapshot.
    // Round 15: the row also carries the SRP-LSH kept/dropped
    // candidate mass (the no-silent-caps census headline) — a
    // monitor that only ever polls status now sees dedup recall
    // dying (dropped ≈ kept) without scheduling the full
    // dedup_srp_bucket_stats census. Both one-row aggregates
    // broadcast into the cross join: no data-sized shuffle is added
    // to the status path, just the map-only banding scan.
    "status_snapshot" -> ((s, d) =>
      cc(s, d).agg(
        countDistinct("sid").as("n_nodes"),
        countDistinct("channel").as("n_channels"),
        countDistinct("cid").as("n_clients"))
        .withColumn("ready", lit(true))
        .crossJoin(broadcast(graft.llm.DedupQueries.srpKeptMass(s, d)))),

    // Sender echo (lib/ChannelHub.js:275-277): the hub echoes
    // channel.message to the sender iff the sender is STILL subscribed.
    // Senders with cid % 3 == 0 unsubscribed before delivery -> no echo.
    "route_sender_echo" -> ((s, d) => {
      val msgs = graft.Spread.fanoutScan(Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type").as("channel"),
          col("user_id").as("cid")))
      val remaining = cc(s, d).filter(col("cid") % 3 =!= 0)
      Router.senderEcho(msgs, remaining)
        .orderBy("event_id", "cid")
    }),

    // O40 system join/leave enrichment (example/engine-io.server.js:
    // 75-80, 117-122): the hub SYNTHESIZES system rows — a welcome
    // message to each joiner — and unions them into the same delivery
    // stream as ordinary messages: the reference's only
    // data-generating transform. Streaming twin: ChannelStream with
    // systemMessages = true.
    "route_enriched_deliveries" -> ((s, d) => {
      val c = cc(s, d)
      val fan = Router.clientFanout(purchases(s, d), c)
        .select(col("channel"), col("cid"), col("event_id"),
          concat(lit("msg:"), col("event_id")).as("message"))
      val welcomes = c.select(col("channel"), col("cid"),
        lit(-1L).as("event_id"),
        concat(lit("system:welcome:"), col("cid")).as("message"))
      fan.unionByName(welcomes)
        .orderBy("channel", "cid", "event_id")
    }),

    // O1/O2 protocol codec round-trip: serialize each message to the
    // wire frame "{op}|{json with _q}" then parse it back; the oracle
    // computes the expected envelope directly (never sees frames), so a
    // hash match proves the round-trip is lossless.
    "route_frame_roundtrip" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      // The seqno window is inherently per-channel sequential (5
      // partitions here), but the expensive JSON serde is
      // embarrassingly parallel — spread it across all cores rather
      // than inheriting the window's channel-count parallelism.
      val framed = graft.Spread.fanout(Tables.events(s, d)
          .withColumn("seqno", row_number().over(w) % 100))
        .select(col("event_id"),
          Frames.serializeFrame(
            lit("M"), col("event_type"), col("props"),
            concat(lit("node-"), col("user_id") % Membership.NumNodes),
            col("seqno")).as("frame"))
      framed.select(col("event_id"), Frames.parseFrame(col("frame")).as("p"))
        .select(col("event_id"),
          col("p.op").as("op"), col("p.seq").cast("long").as("seq"),
          col("p.channel").as("channel"), col("p.message").as("message"),
          col("p.sender").as("sender"))
        .orderBy("event_id")
    }),

    // O36 util.randomString (lib/util.js:33-47): mint one random
    // 16-char alphanumeric id per document and audit the CONTRACT —
    // cardinality (one id per row), uniqueness (62^16 space: a single
    // collision in this corpus has odds ~1e-41 and fails the hash),
    // alphabet- and length-exactness. The ids themselves are
    // irreproducible by design (the reference uses crypto randomness
    // for minting), so the oracle pins the audited invariants rather
    // than replaying values — the strongest check a random generator
    // admits; per-value semantics are spec'd in RandomStringSpec
    // (seeded determinism, alphabet, abs-length quirk).
    "util_random_ids" -> ((s, d) => {
      graft.Spread.fanoutScan(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.RandomId.randomString().as("rid"))
        .agg(
          count(lit(1)).as("n_ids"),
          countDistinct(col("rid")).as("n_distinct"),
          coalesce(min(length(col("rid")) ===
            graft.functions.RandomId.DefaultLength), lit(false))
            .as("len_ok"),
          coalesce(min(col("rid").rlike("^[A-Za-z0-9]+$")), lit(false))
            .as("alnum_ok"))
    }))

  def oracles: Map[String, String] = Map(
    // contract audit (see the query comment): n_distinct = n is the
    // uniqueness claim — DuckDB states the expected invariants from
    // the same row count, so a collision, a short id, or an
    // out-of-alphabet char on the Spark side hash-mismatches
    "util_random_ids" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_ids,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  true AS len_ok, true AS alnum_ok
         |FROM documents""".stripMargin,

    "route_delivery_gini" ->
      s"""WITH chc AS (
         |  SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS m
         |  FROM events GROUP BY 1),
         |loads AS (
         |  SELECT cc.cid, CAST(sum(chc.m) AS BIGINT) AS x
         |  FROM ($ccSql) cc JOIN chc USING (channel)
         |  GROUP BY cc.cid),
         |vc AS (SELECT x, CAST(count(*) AS BIGINT) AS c
         |       FROM loads GROUP BY x),
         |cum AS (
         |  SELECT x, c,
         |    CAST(coalesce(sum(c) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS b
         |  FROM vc),
         |agg AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(x * c) AS BIGINT) AS sx,
         |    CAST(sum(x * 2 * (b * c + (c * (c + 1)) // 2)) AS BIGINT)
         |      AS s2i
         |  FROM cum)
         |SELECT n AS n_clients, sx AS total_load,
         |  CAST(s2i - (n + 1) * sx AS DOUBLE) /
         |    CAST(n * sx AS DOUBLE) AS gini
         |FROM agg""".stripMargin,

    "member_client_channels" ->
      s"""WITH cc AS ($ccSql)
         |SELECT channel, cid, sid FROM cc ORDER BY channel, cid""".stripMargin,

    "member_node_channels" ->
      s"""WITH cc AS ($ccSql)
         |SELECT DISTINCT channel, sid FROM cc ORDER BY channel, sid""".stripMargin,

    "member_channels_union" ->
      s"""WITH cc AS ($ccSql), nc AS (SELECT DISTINCT channel, sid FROM cc)
         |SELECT DISTINCT channel FROM
         |  (SELECT channel FROM nc UNION ALL SELECT channel FROM cc)
         |ORDER BY channel""".stripMargin,

    "member_subs_per_node" ->
      s"""WITH cc AS ($ccSql)
         |SELECT sid, count(DISTINCT channel) AS n_channels,
         |       count(DISTINCT cid) AS n_clients
         |FROM cc GROUP BY sid ORDER BY sid""".stripMargin,

    "member_channel_census" ->
      s"""WITH cc AS ($ccSql)
         |SELECT channel, count(DISTINCT cid) AS n_clients,
         |       count(DISTINCT sid) AS n_nodes
         |FROM cc GROUP BY channel ORDER BY channel""".stripMargin,

    "route_client_fanout" ->
      s"""WITH cc AS ($ccSql)
         |SELECT e.event_id, e.event_type AS channel, cc.cid, cc.sid
         |FROM events e JOIN cc ON e.event_type = cc.channel
         |WHERE e.event_type = 'purchase' AND e.event_id % 2 = 0
         |ORDER BY e.event_id, cc.cid""".stripMargin,

    "route_node_fanout" ->
      s"""WITH cc AS ($ccSql), nc AS (SELECT DISTINCT channel, sid FROM cc),
         |nodes AS (SELECT DISTINCT sid FROM cc),
         |msgs AS (
         |  SELECT event_id, event_type AS channel FROM events
         |  WHERE event_type = 'purchase' AND event_id % 2 = 0 AND event_id % 7 = 0
         |  UNION ALL SELECT -1, 'mystery')
         |SELECT m.event_id, m.channel, nc.sid, false AS b
         |FROM msgs m JOIN nc ON m.channel = nc.channel
         |UNION ALL
         |SELECT m.event_id, m.channel, n.sid, true AS b
         |FROM msgs m CROSS JOIN nodes n
         |WHERE m.channel NOT IN (SELECT channel FROM nc)
         |ORDER BY event_id, channel, sid""".stripMargin,

    "route_delivery_gate" ->
      s"""WITH cc AS ($ccSql)
         |SELECT e.event_id, e.event_type AS channel, cc.cid
         |FROM events e JOIN cc ON e.event_type = cc.channel
         |WHERE e.event_type = 'purchase' AND e.event_id % 2 = 0 AND cc.cid % 5 <> 0
         |ORDER BY e.event_id, cc.cid""".stripMargin,

    "member_cascade" ->
      s"""WITH cc AS ($ccSql), nc AS (SELECT DISTINCT channel, sid FROM cc)
         |SELECT nc.channel, nc.sid FROM nc
         |WHERE nc.channel IN
         |  (SELECT DISTINCT channel FROM cc WHERE channel <> 'error')
         |ORDER BY channel, sid""".stripMargin,

    "status_snapshot" ->
      s"""WITH cc AS ($ccSql),
         |${graft.llm.DedupQueries.srpKeptMassSqlCtes}
         |SELECT count(DISTINCT sid) AS n_nodes,
         |       count(DISTINCT channel) AS n_channels,
         |       count(DISTINCT cid) AS n_clients,
         |       true AS ready,
         |       km.srp_rows_kept, km.srp_rows_dropped
         |FROM cc CROSS JOIN km
         |GROUP BY km.srp_rows_kept, km.srp_rows_dropped""".stripMargin,

    "route_sender_echo" ->
      s"""WITH cc AS ($ccSql)
         |SELECT e.event_id, e.event_type AS channel, e.user_id AS cid
         |FROM events e
         |WHERE e.event_type = 'purchase' AND e.event_id % 2 = 0
         |  AND EXISTS (SELECT 1 FROM cc
         |              WHERE cc.channel = e.event_type
         |                AND cc.cid = e.user_id AND cc.cid % 3 <> 0)
         |ORDER BY event_id, cid""".stripMargin,

    "route_enriched_deliveries" ->
      s"""WITH cc AS ($ccSql)
         |SELECT e.event_type AS channel, cc.cid, e.event_id,
         |       'msg:' || e.event_id AS message
         |FROM events e JOIN cc ON e.event_type = cc.channel
         |WHERE e.event_type = 'purchase' AND e.event_id % 2 = 0
         |UNION ALL
         |SELECT channel, cid, -1 AS event_id,
         |       'system:welcome:' || cid AS message
         |FROM cc
         |ORDER BY channel, cid, event_id""".stripMargin,

    "route_frame_roundtrip" ->
      s"""SELECT event_id, 'M' AS op,
         |  (row_number() OVER (PARTITION BY event_type ORDER BY event_id) % 100) AS seq,
         |  event_type AS channel, props AS message,
         |  'node-' || (user_id % ${Membership.NumNodes}) AS sender
         |FROM events ORDER BY event_id""".stripMargin)
}
