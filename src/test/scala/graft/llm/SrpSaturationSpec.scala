package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SRP saturation cliff and its remedy, executably (round 14):
  * the ×100 amplification decade showed the driver surface's (8, 8)
  * band split returning EMPTY at 200k vectors — every bucket of the
  * fixed 8 × 2⁸ band space goes hot, and the hot-bucket cap (which
  * keeps volume linear) drops 100% of candidate mass.
  * `dedup_srp_bucket_stats` makes that visible; THIS spec proves the
  * remedy the census points at: at the same corpus size, widening
  * the bands (rBits ≳ log2(n / cap)) restores recall while staying
  * inside the linear candidate bound.
  *
  * Corpus: 100k deterministic pseudo-random vectors + 50 planted
  * identical twins (a twin shares every band with its original, so
  * it is findable iff its buckets aren't capped away).
  */
class SrpSaturationSpec extends SparkSpec {

  private val N = 100000L
  private val Twins = 50L
  private val Dim = 16

  private def corpus: DataFrame = {
    val emb = (idCol: String) =>
      s"transform(sequence(0, ${Dim - 1}), " +
        s"j -> CAST(pmod(xxhash64($idCol, j), 200) - 100 AS FLOAT))"
    val base = spark.range(N).selectExpr(
      "id AS vec_id", s"${emb("id")} AS embedding")
    // twin i (vec_id 1e6+i) reuses id i's generator — identical vector
    val twins = spark.range(Twins).selectExpr(
      "id + 1000000 AS vec_id", s"${emb("id")} AS embedding")
    base.unionByName(twins)
      .withColumn("nrm", Vectors.normNative(col("embedding")))
      .filter(col("nrm") > 0.0)
      .repartition(8)
  }

  test("the derived-rBits ladder widens exactly at the carrying-capacity boundaries") {
    // capacity of an r-bit band is SrpMaxBucket · 2^r; the ladder
    // must hold the historical (8, 8) split through the last corpus
    // an 8-bit band can carry, and widen at capacity + 1 — an
    // off-by-one here would desync the engine from the oracle's
    // count(*) CASE at exactly one corpus size
    val cap = DedupQueries.SrpMaxBucket.toLong
    assert(DedupQueries.srpDerivedRBits(1L) == 8)
    assert(DedupQueries.srpDerivedRBits(cap << 8) == 8)
    assert(DedupQueries.srpDerivedRBits((cap << 8) + 1) == 16)
    assert(DedupQueries.srpDerivedRBits(cap << 16) == 16)
    assert(DedupQueries.srpDerivedRBits((cap << 16) + 1) == 32)
    assert(DedupQueries.srpDerivedRBits(Long.MaxValue) == 32)
  }

  test("8-bit bands saturate at 100k vectors; the PRODUCTION derived split recovers the planted twins inside the linear bound") {
    val e = corpus.cache()
    try {
      val twinPairs = (0L until Twins).map(i => (i, 1000000L + i)).toSet

      // the pre-round-15 fixed split: 2^8 values per band, capacity
      // cap·2^8 ≈ 16k ≪ 100k — occupancy ~390 per bucket, only the
      // exponentially-rare tail band values stay under the cap
      val c8 = DedupQueries.srpCandidatesWith(e, Dim,
          bands = DedupQueries.SrpBands, rBits = DedupQueries.SrpR,
          cap = DedupQueries.SrpMaxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found8 = twinPairs.count(c8.contains)
      assert(found8 < Twins / 2,
        s"expected saturation to lose most twins at 8 bits, found $found8")

      // the production path (round 15): srpCandidates derives the
      // split from the corpus count — 100,050 vectors land on the
      // 16-bit rung (4 bands × 2^16 values, occupancy ~0.5, nothing
      // hot), so what the fixed split silently dropped is recovered
      // by the same query a user actually runs
      assert(DedupQueries.srpDerivedRBits(N + Twins) == 16,
        "the saturation corpus must sit on the 16-bit rung")
      val cand = DedupQueries.srpCandidates(e, Dim)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = twinPairs.count(cand.contains)
      assert(found == Twins,
        s"derived bands must recover every identical twin: $found/$Twins")
      // and the volume stays inside the linear candidate bound
      val bound = (N + Twins) * 4 * DedupQueries.SrpMaxBucket
      assert(cand.size <= bound,
        s"derived-band candidates ${cand.size} exceed linear bound $bound")
    } finally e.unpersist()
  }
}
