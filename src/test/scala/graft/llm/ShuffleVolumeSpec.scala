package graft.llm

import graft.plans.{TopKPerKey, TopKPerKeyExec}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Executable shuffle-volume bounds — the 100×-scale claims of the
  * custom operator and the LSH candidate generator as assertions over
  * runtime metrics, not narrative: the TopKPerKey exchange must carry
  * at most partitions·keys·k rows however large the input, and the
  * capped LSH join must stay under its linear candidate bound on a
  * worst-case (all-clones) corpus.
  */
class ShuffleVolumeSpec extends SparkSpec {
  import spark.implicits._

  test("TopKPerKey partial pass caps the exchange at partitions*keys*k rows") {
    val parts = 8
    val k = 5
    val sf = "/root/testdata/sf0.01"
    // AQE off for a traversable plan tree (query stages are leaf
    // wrappers that hide the partial exec from collect()) — on a
    // CLONED session with the input rebuilt there (the MomentGuardSpec
    // discipline: shared-session toggles race concurrent suites)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val events = Tables.events(s2, sf).repartition(parts)
    val nInput = events.count()
    val nKeys = events.select("event_type").distinct().count()
    val df = TopKPerKey(events, Seq("event_type"),
      Seq(col("value").desc, col("event_id").asc), k)
    df.collect()
    // the partial exec (rank=None) runs below the exchange: its
    // output row count is exactly what the shuffle carries
    val plan = df.queryExecution.executedPlan
    val partials =
      plan.collect { case e: TopKPerKeyExec if e.rank.isEmpty => e }
    assert(partials.nonEmpty, s"no partial TopKPerKeyExec in:\n$plan")
    val shuffled = partials.map(_.metrics("numOutputRows").value).sum
    val bound = parts.toLong * nKeys * k
    assert(shuffled <= bound,
      s"exchange carried $shuffled rows, bound is $parts*$nKeys*$k = $bound")
    // and the bound is doing real work: the corpus is much larger
    assert(nInput > 10 * bound,
      s"fixture too small to demonstrate the cap ($nInput vs $bound)")
  }

  test("capped LSH join stays under the linear candidate bound on clones") {
    // worst case: 2000 byte-identical docs — every band degenerates to
    // one bucket, so the uncapped join would emit ~2e6 pairs per band
    val clones = spark.range(1, 2001)
      .select(col("id").as("doc_id"),
        lit("the quick brown fox jumps over the lazy dog again").as("text"))
      .withColumn("w", TextOps.words(col("text")))
      .select(col("doc_id"),
        TextOps.minHashNative(HofTwins.shingles(col("w"), 3), 32).as("sig"))
    val obs = Observation("cand")
    val nDocs = 2000L
    val linearBound = nDocs * DedupQueries.Bands * DedupQueries.MaxBucket
    val observed = DedupQueries.cappedBandPairs(clones)
      .observe(obs, count(lit(1)).as("n_pairs"))
    val out = observed.count()
    val emitted = obs.get("n_pairs").asInstanceOf[Long]
    assert(emitted <= linearBound,
      s"candidate join emitted $emitted pairs, linear bound $linearBound")
    // on the all-clones corpus the hot-bucket guard drops everything
    assert(out == 0L, s"expected zero surviving candidates, got $out")
  }

  test("capped SRP join stays under the linear candidate bound on embedding clones") {
    // the embedding twin of the text-LSH bound above (round-13: the
    // scaling harness measured exponent 1.96 on srpPairs before its
    // hot-bucket cap — a fixed SrpBands × 2^SrpR bucket space makes
    // uncapped within-bucket pairing Θ(n²/2^SrpR)). Worst case: 2000
    // identical unit vectors — every band of every vector lands in
    // ONE bucket, so the uncapped join would emit ~2e6 pairs per band.
    val dim = 16
    val clones = spark.range(1, 2001)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), i -> CAST(0.25 AS FLOAT))")
          .as("embedding"))
      .withColumn("nrm", graft.llm.Vectors.normNative(col("embedding")))
    val nVecs = 2000L
    val linearBound =
      nVecs * DedupQueries.SrpBands * DedupQueries.SrpMaxBucket
    val emitted = DedupQueries.srpCandidates(clones, dim).count()
    assert(emitted <= linearBound,
      s"SRP candidate join emitted $emitted pairs, " +
        s"linear bound $linearBound")
    // on the all-clones corpus every bucket is hot: the guard drops
    // everything, like the text-LSH twin above
    assert(emitted == 0L,
      s"expected zero surviving candidates on all-clones, got $emitted")
  }

  test("phash dup volume IS the capped candidate volume at full bucket occupancy (tight case of the linear bound)") {
    // VERDICT r14 task 2: tie multimodal_phash_dups' pair volume to
    // the capped candidate count executably. Corpus: G groups of
    // EXACTLY PhashMaxBucket identical fingerprints, group values
    // distinct in every band — every (band, value) bucket sits AT the
    // cap, the worst corpus the cap admits. All pairs are hamming 0,
    // so the dup output equals the candidate set exactly:
    // G·C(cap, 2) pairs, inside the n·bands·(cap−1)/2 linear bound.
    // One more clone per bucket and the guard drops everything.
    val g = 20
    val cap = Multimodal.PhashMaxBucket.toInt
    def corpus(groupSize: Int) = spark.range(g.toLong * groupSize)
      .select(col("id").as("doc_id"),
        // group index replicated into all four 16-bit bands
        expr(s"CAST((id div $groupSize) * ${0x0001000100010001L}" +
          " AS BIGINT)").as("phash"))
    val atCap = Multimodal.phashPairs(corpus(cap)).count()
    val expected = g.toLong * cap * (cap - 1) / 2
    val bound = (g.toLong * cap) * Multimodal.PhashBands * (cap - 1) / 2
    assert(atCap == expected,
      s"full-occupancy dup pairs $atCap != capped candidate volume $expected")
    assert(atCap <= bound, s"$atCap exceeds linear bound $bound")
    val overCap = Multimodal.phashPairs(corpus(cap + 1)).count()
    assert(overCap == 0L,
      s"hot buckets must be dropped entirely, got $overCap pairs")
    // the wide multi-probe twin obeys the same cap with the same
    // tight volume (identity probes carry the clones; flip probes
    // land on empty buckets)
    assert(Multimodal.phashPairsWide(corpus(cap)).count() == expected)
    assert(Multimodal.phashPairsWide(corpus(cap + 1)).count() == 0L)
  }

  test("route fan-out shuffles scan-linearly while its output grows quadratically (output-bound, as machine truth)") {
    // The r13 ladder measured exp ~2.0 for the route family on the
    // fixed-channel clone and BENCH_NOTES argued "output-bound by
    // semantics: the shuffle is scan-linear, only the DELIVERY rows
    // are quadratic" (the same rows the reference's per-message loop
    // emits, lib/ChannelHub.js:267-273). This pins the argument to
    // exchange metrics: on a one-channel corpus where both messages
    // and membership scale with n, the rows ENTERING the fan-out
    // join's exchanges are exactly msgs + members (linear) while the
    // join's output is exactly msgs × members (quadratic) — measured
    // at n and 4n, under the sort-merge regime a 100 TB membership
    // table plans.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def volumes(nMsgs: Long, nMembers: Long): (Long, Long) = {
      // AQE off for a traversable plan; broadcast off for the
      // shuffle regime (the MomentGuardSpec cloned-session discipline)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the channel must be DERIVED from data (id % 1 = 0 for every
      // row), not a literal: a foldable join key lets the optimizer
      // rewrite the equi-join into a cartesian product with no
      // exchange at all — which is exactly the plan shape this spec
      // exists to rule out at scale
      val msgs = s2.range(nMsgs)
        .select(col("id").as("event_id"),
          concat(lit("hot"), (col("id") % 1).cast("string")).as("channel"))
      val members = s2.range(nMembers)
        .select(concat(lit("hot"), (col("id") % 1).cast("string"))
          .as("channel"), col("id").as("cid"))
      val df = graft.route.Router.clientFanout(msgs, members)
      val qe = df.queryExecution
      val out = qe.toRdd.count()
      val shuffled = qe.executedPlan.collect {
        case e: ShuffleExchangeExec =>
          e.metrics("shuffleRecordsWritten").value
      }.sum
      (shuffled, out)
    }
    val (sh1, out1) = volumes(2000L, 500L)
    val (sh4, out4) = volumes(8000L, 2000L)
    // exact, not approximate: the fan-out join shuffles each input
    // row once and emits the full cross-section of the channel
    assert(sh1 == 2000L + 500L && sh4 == 8000L + 2000L,
      s"shuffle rows not scan-linear: $sh1, $sh4")
    assert(out1 == 2000L * 500L && out4 == 8000L * 2000L,
      s"output rows not msgs*members: $out1, $out4")
    assert(sh4 == 4 * sh1 && out4 == 16 * out1)
  }
}
