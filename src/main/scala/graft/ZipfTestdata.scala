package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skewed-channel testdata clone for the routing-family skew harness
  * (VERDICT r13 task 1): rewrites the events log so ONE channel
  * carries `hotPct`% of all messages — the zipf traffic shape of a
  * real pub/sub deployment (the reference's per-message subscriber
  * loop hot spot, `lib/ChannelHub.js:258-272`), which the uniformly
  * densified amplified clone cannot produce.
  *
  * The hot channel keeps the name `purchase` so the route-family
  * queries run UNCHANGED on the clone (their message filter selects
  * exactly the hot channel); the cold tail spreads over 19 `chNN`
  * channels. Assignment hashes `event_id` (xxhash64 — deterministic,
  * no RNG), so the clone is reproducible bit-for-bit and the
  * subscriber registry derived from it (users with ≥ 15 hot events)
  * stays dense on the hot channel.
  *
  * Usage: ZipfTestdata <srcSfDir> <outDir> [hotPct=70]
  */
object ZipfTestdata {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/graft_zipf/sf0.01")
    val hotPct = args.lift(2).map(_.toInt).getOrElse(70)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    zipfify(spark, src, out, hotPct)
    spark.stop()
  }

  /** Number of cold-tail channels the non-hot share spreads over. */
  val ColdChannels = 19

  /** Write `out`/events.parquet: the `src` events with `event_type`
    * reassigned so `hotPct`% of rows land on the hot channel. Raw
    * read/write (not Tables.*) so the on-disk schema shape is
    * preserved for the NTZ/nanos shims. */
  def zipfify(spark: SparkSession, src: String, out: String,
      hotPct: Int): Unit = {
    require(hotPct > 0 && hotPct < 100, s"hotPct out of range: $hotPct")
    spark.read.parquet(s"$src/events.parquet")
      .withColumn("event_type",
        when(pmod(xxhash64(col("event_id")), lit(100)) < hotPct,
          lit("purchase"))
          .otherwise(concat(lit("ch"),
            pmod(xxhash64(col("event_id"), lit(7)), lit(ColdChannels)))))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Write `out`/documents.parquet: `hotPct`% of every document's
    * TOKEN OCCURRENCES replaced by the single hot token `zzhot`
    * (per-position xxhash64 — deterministic) — the one-dominant-token
    * shape of a 100 TB token distribution (zipf's law makes "the"
    * ~7% of English; a markup-heavy corpus is far worse). The
    * token-groupBy skew corpus (VERDICT r14 task 3). */
  def zipfifyTokens(spark: SparkSession, src: String, out: String,
      hotPct: Int): Unit = {
    require(hotPct > 0 && hotPct < 100, s"hotPct out of range: $hotPct")
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("text", array_join(
        expr(s"""transform(split(text, ' '),
                |  (w, i) -> CASE WHEN pmod(xxhash64(doc_id, i), 100)
                |    < $hotPct THEN 'zzhot' ELSE w END)""".stripMargin),
        " "))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Synthetic supplier key space for the hub-graph clone: wide
    * enough that the hub's lineitems land on ~all-distinct suppliers
    * (so hub DEGREE, not just hub row count, dominates the edge
    * list — the `distinct()` in the edge build would collapse a
    * narrow key space back to uniform). */
  val HubSupplierSpread = 500000

  /** Write `out`/{orders,lineitem}.parquet: `hotPct`% of orders
    * reassigned to customer 1 (xxhash64 of o_orderkey) and every
    * l_suppkey respread over [[HubSupplierSpread]] synthetic
    * suppliers — customer 1 becomes a hub whose degree is ~hotPct%
    * of all edges, the one-celebrity-account shape of a real graph
    * at 100 TB. The graph-family skew corpus (VERDICT r14 task 3). */
  def zipfifyGraph(spark: SparkSession, src: String, out: String,
      hotPct: Int): Unit = {
    require(hotPct > 0 && hotPct < 100, s"hotPct out of range: $hotPct")
    val o = spark.read.parquet(s"$src/orders.parquet")
    val custType = o.schema("o_custkey").dataType
    o.withColumn("o_custkey",
        when(pmod(xxhash64(col("o_orderkey")), lit(100)) < hotPct,
          lit(1).cast(custType))
          .otherwise(col("o_custkey")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val l = spark.read.parquet(s"$src/lineitem.parquet")
    val suppType = l.schema("l_suppkey").dataType
    l.withColumn("l_suppkey",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
          lit(HubSupplierSpread)).cast(suppType))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }
}
