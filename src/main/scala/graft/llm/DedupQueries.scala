package graft.llm

import graft.Lineage.{Cap, Cut, LineageOps}
import graft.{Lineage, QuerySuite, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextOps._

/** Deduplication operators over the `documents` table — the dedup
  * family a large-scale training-data pipeline needs (north star):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-on-key, no pairwise O(n²)
  * stage at scale —
  *  - exact: hash-groupBy on a text digest (one shuffle of digests,
  *    never full text);
  *  - MinHash+LSH: per-row signature (map-only) → explode bands →
  *    groupBy bucket → pairs only within buckets (candidate set is
  *    ~linear for realistic dup rates, vs n² brute force);
  *  - SimHash: per-row 64-bit fingerprint; near-dup = same fingerprint
  *    bucket (or small Hamming radius probing);
  *  - the brute-force same-source Jaccard query exists as the
  *    oracle-checkable ground truth at test scale only.
  */
object DedupQueries extends QuerySuite {

  val Shingle = 3
  val K = 32      // minhash signature length
  val Bands = 8   // 8 bands × 4 rows
  val R = 4
  /** Hot-bucket guard: band buckets holding more than this many docs
    * are dropped from candidate generation (quadratic-pair risk — one
    * boilerplate-heavy band value would otherwise explode; the dropped
    * mass is surfaced by `dedup_lsh_bucket_stats`). Docs sharing a
    * giant bucket are overwhelmingly exact/near-exact dups, which the
    * exact-dedup pass upstream already catches. */
  val MaxBucket = 64

  /** Segment width (words) for sub-document exact dedup — the
    * fixed-window formulation of paragraph/line dedup (Lee et al.,
    * ACL'22 "Deduplicating Training Data Makes Language Models
    * Better" dedups ≥50-token windows; corpora without structural
    * newlines use fixed windows). */
  val SegWords = 16

  /** Hot-POSTING-LIST guard for the prefix-filter Jaccard join: a
    * prefix shingle shared by more than this many docs of one source is
    * excluded from candidate generation. Without it, one boilerplate
    * shingle across m docs yields O(m²) candidate pairs — the same
    * quadratic bomb [[MaxBucket]] guards in the LSH path. The argument
    * that this is safe at τ=0.2: the prefix is ordered df-RAREST-first,
    * so a pair whose only shared prefix entry is an ultra-common
    * shingle shares nothing rarer — at corpus scale such pairs sit far
    * below the threshold. At test scale the cap is far above the
    * honest max posting size (5 at sf0.1), so results are unchanged —
    * the dropped mass is surfaced by `dedup_jaccard_posting_stats`. */
  val MaxPosting = 64

  /** Documents spread across all cores while the scan arrives in fewer
    * partitions than cores (one parquet split locally): every
    * downstream op here does heavy per-row array/hash work, so
    * parallelism, not data size, is the constraint. */
  private def withWordsFrame(docs: DataFrame): DataFrame =
    graft.Spread.fanoutScan(docs)
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= Shingle)

  private def docsWithWords(s: SparkSession, d: String): DataFrame =
    withWordsFrame(Tables.documents(s, d))

  /** Exploded (doc_id, band_idx, band_hash) bucket rows from a frame
    * with a `sig` signature column. */
  private[llm] def bandBuckets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(lshBands(col("sig"), Bands, R)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))

  /** Candidate pairs within band buckets, hot buckets (> [[MaxBucket]]
    * docs) excluded before the self-join so one degenerate band value
    * cannot go quadratic. The bucket-size count shuffles only the slim
    * (doc_id, band) tuples, never text or signatures. */
  private[llm] def cappedBandPairs(docs: DataFrame): DataFrame = {
    // hash-spread on the bucket key: the explicit exchange satisfies
    // the occupancy window AND both self-join sides, and pins the
    // stage wide against byte-sized AQE coalescing (graft.Spread doc)
    val capped = graft.Spread.fanoutBy(bandBuckets(docs),
        col("band_idx"), col("band_hash"))
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band_idx"), col("band_hash"))))
      .filter(col("bucket_n") <= MaxBucket)
      .select("doc_id", "band_idx", "band_hash")
    capped.as("x").join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  // ---- SRP-LSH (random-hyperplane) embedding near-dup -------------
  // Sign-random-projection LSH (Charikar, STOC'02 — public algorithm):
  // bit b = sign(<v, h_b>) for a FIXED pseudo-random hyperplane h_b, so
  // P(bits agree) = 1 - angle/pi. Planes are integer-valued doubles
  // derived from a splitmix64 mix of (b, i) — deterministic, exactly
  // representable as SQL literals, hence the ENTIRE pipeline (bits,
  // bands, candidates, verified pairs) is replicated by the DuckDB
  // oracle and hash-checked, unusual for an LSH operator.
  val SrpBits = 64
  val SrpBands = 8
  val SrpR = 8

  /** Hot-bucket occupancy cap for SRP candidate generation (the
    * [[MaxBucket]] twin for the embedding path). */
  val SrpMaxBucket = 64

  /** The band-width ladder (round 15): bits-per-band DERIVED from the
    * corpus cardinality, closing the round-14 saturation cliff. A band
    * of r bits carries at most SrpMaxBucket · 2^r vectors before every
    * bucket is hot and the occupancy cap silently drops 100% of
    * candidate mass (the ×100 amplification decade measured
    * dedup_embedding_lsh and sim_knn_graph returning EMPTY at 200k
    * vectors under the fixed (8, 8) split — linear cost, zero recall).
    * The ladder picks the narrowest split in {8, 16, 32} whose
    * per-band capacity covers n, regrouping the SAME fixed
    * [[SrpBits]]-plane budget (so bands = 64/r): identical vectors
    * still share every band under any regrouping, and candidate
    * volume stays inside the bands·buckets·C(cap,2) linear bound.
    * 32 bits carries SrpMaxBucket·2^32 ≈ 2.7e11 vectors per band —
    * past any corpus this engine targets. The ladder boundaries are
    * EXACT and both twins count the same nrm>0-filtered rows, so the
    * engine and the DuckDB oracle derive the same split in lockstep
    * (at the driver's sf0.01/sf0.1 scales n ≤ 2000 ≪ 16384: the
    * derived split is the historical (8, 8) and every hash is
    * unchanged). */
  private[llm] def srpDerivedRBits(n: Long): Int =
    if (n <= (SrpMaxBucket.toLong << 8)) 8
    else if (n <= (SrpMaxBucket.toLong << 16)) 16
    else 32

  /** The ONE SQL spelling of the hot-bucket occupancy cap, shared by
    * every banded oracle twin (dedup_embedding_lsh, sim_knn_graph,
    * both multimodal phash oracles) so an engine-side cap change
    * lands in all of them or none — the r13 review found exactly the
    * drift this prevents (one oracle still brute-force after its
    * engine path was capped). `src` must expose ($idCol, band_idx,
    * band_val); emits CTE `$out` with the same columns, hot buckets
    * (> cap members) dropped. */
  private[llm] def cappedBandsSqlCte(out: String, src: String,
      idCol: String, cap: Long): String =
    s"""$out AS (
       |  SELECT $idCol, band_idx, band_val FROM (
       |    SELECT $idCol, band_idx, band_val,
       |      count(*) OVER (PARTITION BY band_idx, band_val) AS bn
       |    FROM $src)
       |  WHERE bn <= $cap)""".stripMargin

  /** Semantic-dedup centroid rule (every SemStride-th vector) and
    * within-cluster near-duplicate threshold. */
  val SemStride = 50
  val SemTau = 0.4

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Integer plane component in [-128, 127] for (plane b, dim i). */
  private[llm] def planeInt(b: Int, i: Int): Long =
    ((mix64(b * 4096L + i) % 256) + 256) % 256 - 128

  /** Plane components as FLOAT literals: integer values in [-128, 127]
    * are exactly representable, and float→double widening of integers
    * is exact, so the native float-dot below is bit-identical to the
    * double-literal HOF fold and to the DuckDB integer-list oracle. */
  private[llm] def plane(b: Int, dim: Int): Seq[Float] =
    (0 until dim).map(i => planeInt(b, i).toFloat)

  /** Exploded (vec_id, band_idx, band_val) band signatures for an
    * embeddings frame — the map-only SRP routing step, shared with the
    * similarity suite's LSH ANN search. 64 plane dots per row through
    * the codegen'd native kernel. The band split follows the corpus:
    * one exact-count pre-pass (a single columnar scan + agg — the
    * VERDICT-r14-blessed shape; approx_count_distinct would desync
    * from the oracle's count(*) at a ladder boundary) feeds
    * [[srpDerivedRBits]], so the split widens before the hot-bucket
    * cap can silently zero recall. The DuckDB twin derives the same
    * split from the same count inside [[srpBandsSqlCte]]. */
  private[llm] def srpBands(e: DataFrame, dim: Int): DataFrame = {
    val r = srpDerivedRBits(e.count())
    srpBandsWith(e, dim, SrpBits / r, r)
  }

  /** [[srpBands]] generalized to an arbitrary (bands, rBits) split —
    * the saturation remedy dedup_srp_bucket_stats points at: band
    * carrying capacity is cap·2^rBits, so past ~16k vectors the
    * driver surface's (8, 8) split needs wider bands
    * (rBits ≳ log2(n / cap)) or the hot-bucket cap drops all mass.
    * Same deterministic planes, same codegen'd dot kernel, same
    * bucket math — SrpSaturationSpec proves the recovery executably
    * at saturation scale. The driver queries stay pinned at
    * (SrpBands, SrpR) so every oracle twin is unchanged. */
  private[llm] def srpBandsWith(e: DataFrame, dim: Int, bands: Int,
      rBits: Int): DataFrame = {
    require(rBits >= 1 && rBits <= 62 && bands >= 1,
      s"unsupported band split: $bands x $rBits")
    val dots = (0 until bands * rBits).map(b =>
      Vectors.dotNative(col("embedding"), typedLit(plane(b, dim))))
    def bandVal(k: Int) = (0 until rBits).map(j =>
      when(dots(k * rBits + j) > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    e.select(col("vec_id"),
        explode(array((0 until bands).map(k =>
          struct(lit(k).as("band_idx"), bandVal(k).as("band_val"))): _*))
          .as("band"))
      .select(col("vec_id"), col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"))
  }

  /** Capped candidate pairs under an arbitrary band split — the
    * generalized twin of [[srpCandidates]] for the saturation spec. */
  private[llm] def srpCandidatesWith(e: DataFrame, dim: Int, bands: Int,
      rBits: Int, cap: Long): DataFrame = {
    val b = srpBandsWith(e, dim, bands, rBits)
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band_idx"), col("band_val"))))
      .filter(col("bucket_n") <= cap)
      .select("vec_id", "band_idx", "band_val")
    b.as("x").join(b.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** Hamming≤1 pairs from a (doc_id, sig) fingerprint frame via
    * 65-way multi-probe (identity + every 1-bit flip). The probe side
    * (65n rows) joins against the BARE identity sigs (n rows) — a
    * d=0 pair collides via the identity probe, a d=1 pair via the
    * flipped differing bit, so completeness holds with one side 65×
    * smaller; and because every collision differs from the identity
    * sig by construction at most the probed bit, NO over-approximate
    * candidates exist (probe-vs-probe would admit every d=2 pair
    * where each side flips its own bit). The hamming column is the
    * output contract, not a filter. Extracted so specs can plant
    * fingerprints directly. */
  private[llm] def simhashRadiusPairs(sigs: DataFrame): DataFrame = {
    val probes = sigs
      .select(col("doc_id"), col("sig"),
        explode(array((-1 until 64).map(lit(_)): _*)).as("b"))
      .select(col("doc_id").as("pa"), col("sig").as("sig_pa"),
        expr("sig ^ CASE WHEN b < 0 THEN CAST(0 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), b) END").as("probe"))
    val ids = sigs.select(col("doc_id").as("pb"), col("sig").as("probe"))
    probes.join(ids, Seq("probe"))
      .filter(col("pa") =!= col("pb"))
      // hamming is symmetric — compute before canonicalizing the pair
      .withColumn("hamming",
        expr("CAST(bit_count(sig_pa ^ probe) AS BIGINT)"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"), col("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** The SRP-LSH pipeline over an embeddings frame (vec_id, embedding,
    * nrm): map-only band signatures -> bucket self-join -> exact
    * cosine verify on candidates only. Extracted so specs can plant
    * fixtures. */
  /** SRP candidate pairs under the hot-bucket cap (the
    * cappedBandPairs discipline, round-13): uncapped within-bucket
    * pairing is Θ(n²/2^r) — the round-13 scaling harness measured
    * exponent 1.96 on the ×10 clone (44M candidate rows at 20k
    * vectors) before this cap. Buckets above [[SrpMaxBucket]] are
    * dropped from candidate generation: volume is then bounded by
    * bands · buckets · C(cap,2) + linear verify work. Round 15: the
    * band space is no longer fixed — [[srpDerivedRBits]] widens the
    * split with the corpus, so ordinary density growth can't push
    * every bucket hot (the r14 saturation cliff); what the cap drops
    * now is genuinely indistinguishable mass (clone pile-ups, regions
    * the hyperplanes can't separate), which the exact-digest and
    * centroid-blocked SemDeDup paths own. At fixture scales the cap
    * never binds (occupancy ≤ 8) and the split is (8, 8), so both
    * oracle twins are unchanged where hashes are compared. Exposed so
    * ShuffleVolumeSpec can bound the candidate stage on an all-clones
    * corpus. */
  private[llm] def srpCappedBands(e: DataFrame, dim: Int): DataFrame =
    srpBands(e, dim)
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band_idx"), col("band_val"))))
      .filter(col("bucket_n") <= SrpMaxBucket)
      .select("vec_id", "band_idx", "band_val")

  private[llm] def srpCandidates(e: DataFrame, dim: Int): DataFrame = {
    val bands = srpCappedBands(e, dim)
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  private[llm] def srpPairs(e: DataFrame, dim: Int, threshold: Double): DataFrame = {
    val cands = srpCandidates(e, dim)
    cands
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), "vec_b")
      .withColumn("cos",
        Vectors.dotNative(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** (doc_id, seg_idx, seg) rows: the document split into
    * non-overlapping [[SegWords]]-word windows (last window may be
    * short). Map-only. The empty-sequence guard mirrors
    * multimodal_frame_sample: zero words → no rows, matching DuckDB's
    * empty unnest. */
  private[llm] def segmentize(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nSeg = ceil(size(w) / lit(SegWords.toDouble)).cast("int")
    docs.select(col("doc_id"),
      posexplode(when(nSeg > 0,
        transform(sequence(lit(0), nSeg - 1),
          i => array_join(slice(w, i * SegWords + 1, lit(SegWords)), " "))))
        .as(Seq("seg_idx", "seg")))
  }

  /** Rarest-first prefix index over a (doc_id, source, sh) frame: one
    * row per (doc, prefix shingle), where each doc keeps its
    * |S| - ceil(t|S|) + 1 df-rarest shingles (Bayardo prefix rule at
    * t = 0.2). Uncapped — callers cap or census the posting lists. */
  private[llm] def jaccardPrefixIndex(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("source"),
      size(col("sh")).as("sz"), explode(col("sh")).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    // hash-spread on doc_id before the rarest-first rank window: the
    // exchange satisfies the window's distribution and keeps the
    // per-doc sort wide under byte-sized AQE coalescing (Spread doc)
    graft.Spread.fanoutBy(tok.join(freq, "t"), col("doc_id"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))))
      .filter(col("pos") <=
        col("sz") - ceil(col("sz") * lit(0.2)).cast("int") + 1)
      .select(col("doc_id"), col("source"), col("t"))
  }

  /** Candidate pairs from the prefix index, hot posting lists
    * (> [[MaxPosting]] docs per (source, shingle)) excluded BEFORE the
    * self-join so one boilerplate shingle cannot go quadratic — the
    * posting-list twin of [[cappedBandPairs]]'s hot-bucket guard. */
  private[llm] def jaccardCandidates(docs: DataFrame): DataFrame = {
    // The capped prefix index feeds BOTH sides of the candidate
    // self-join; without materialization Spark would recompute the
    // explode + df join + windows for each side. Persisting the slim
    // (doc_id, source, t) frame is the classic inverted-index build —
    // at full scale this is the one intermediate worth a disk-backed
    // materialization.
    // hash-spread on the posting key: one exchange serving the cap
    // window AND both prefix self-join sides (Spread doc)
    val prefix = graft.Spread.fanoutBy(jaccardPrefixIndex(docs),
        col("source"), col("t"))
      .withColumn("plist_n", count(lit(1)).over(
        Window.partitionBy(col("source"), col("t"))))
      .filter(col("plist_n") <= MaxPosting)
      .select(col("doc_id"), col("source"), col("t"))
    // No persist: the prefix subtree ends in the posting-list window's
    // shuffle exchange, so Catalyst's exchange reuse (static
    // ReuseExchange / AQE stage reuse) already shares the index build
    // between both self-join sides — the earlier persist + eager
    // count() only added cache serialization on top of that
    // (ExchangeReuseSpec pins the same property for the graph
    // builders; JaccardReuseSpec pins it here).
    prefix.as("x").join(prefix.as("y"),
        col("x.source") === col("y.source") && col("x.t") === col("y.t") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.source").as("source"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact all-pairs Jaccard (t = 0.2) with prefix filtering. Input
    * needs `doc_id`, `source`, `w` columns. Every stage is a linear
    * shuffle: explode tokens, count document frequency, rank tokens
    * rarest-first per doc, keep the |S|-ceil(t|S|)+1 prefix, equi-join
    * prefixes on (source, shingle) with hot posting lists capped at
    * [[MaxPosting]], then ONE exact intersect per surviving candidate.
    * Threshold as integer arithmetic:
    * jac >= 0.2 <=> 6*|inter| >= |A|+|B|. */
  private[llm] def ngramJaccardPairs(dw: DataFrame): DataFrame =
    ngramJaccardPairs(dw, ordered = true)

  private[llm] def ngramJaccardPairs(dw: DataFrame, ordered: Boolean): DataFrame = {
    // Shingle arrays feed four consumers (token explode, df counts and
    // both verify-join sides); one materialization beats four compiled
    // recomputes — and at full scale this is the tokenized corpus you
    // would land on disk once anyway.
    val docs = dw.select(col("doc_id"), col("source"),
      shinglesNative(col("w"), Shingle).as("sh"))
      .persist()
    val cands = jaccardCandidates(docs)
    val verified = cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))) * 6 >=
        size(col("sh_a")) + size(col("sh_b")))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .select("source", "doc_a", "doc_b", "jac")
    // The global sort is presentation-only; CC consumers
    // (dedup_components / dedup_pipeline_survivors) skip it — they
    // re-shuffle the pairs by key immediately, so an ordered exchange
    // here would be a wasted range partition + sort.
    if (ordered) verified.orderBy("source", "doc_a", "doc_b") else verified
  }

  /** Connected components over an undirected edge list (doc_a, doc_b)
    * by iterative min-label propagation to a fixpoint — the step a real
    * dedup pipeline runs AFTER pair generation: transitive near-dup
    * groups, from which one canonical doc per component survives.
    *
    * Each round is two shuffles (symmetrized edges joined to current
    * labels with min per node, then a label-on-label self-join for
    * path halving); rounds needed = O(log diameter), so even a
    * pathological chain-shaped component converges in a handful of
    * rounds — spec-pinned on a 300-node path. The driver loop holds
    * only a convergence COUNT, never data. `query` names the caller in
    * the round-cap failure: with path halving the cap admits diameters
    * ~2^maxRounds, so hitting it means the edge set itself is
    * pathological, not the algorithm.
    */
  private[llm] def connectedComponents(query: String, nodes: DataFrame,
      edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val sym = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(edges.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist()
    val init = nodes.select(col("doc_id"), col("doc_id").as("comp")).persist()
    // coalesce: sum over ZERO nodes is NULL and getLong would NPE —
    // an empty pair set (no near-dups found, or an empty corpus) must
    // yield an empty component list like the recursive-CTE oracle,
    // not a crash
    def labelSum(labels: DataFrame): Long =
      labels.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
    var lastSum = labelSum(init)
    Lineage.iterate(query, "connected components", Cut, Cap(maxRounds),
        init, sym) { r =>
      val viaNeighbor = sym
        .join(r.prev.select(col("doc_id").as("v"), col("comp")), "v")
        .groupBy(col("u").as("doc_id"))
        .agg(min("comp").as("neighbor_comp"))
      // persisted: the frame below is referenced twice by the halving
      // join, so without caching the halving join would recompute it
      // per side AND the analyzer's plan tree would double per round
      val propagated = r.prev
        .join(viaNeighbor, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("neighbor_comp"), col("comp"))).as("comp"))
        .transform(r.persist)
      // Path halving (pointer jumping): also adopt the label OF my
      // label. Neighbor-min alone walks one hop per round (rounds =
      // component diameter); the extra self-join doubles the chased
      // distance each round, so convergence is O(log diameter) — the
      // difference between 3 and 50+ shuffles on a chain-shaped
      // component at 100 TB. Labels only ever decrease and stay inside
      // the component, so the monotone-sum convergence check is
      // unchanged.
      val next = propagated.as("a")
        .join(propagated.select(col("doc_id").as("comp"),
          col("comp").as("comp2")).as("b"), Seq("comp"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
        .transform(r.materialize)
      // Convergence via a monotone invariant: labels only ever
      // decrease, so sum(comp) is strictly smaller while anything
      // changed — one aggregate over the just-cut (in-memory)
      // partitions, not a recompute.
      val nextSum = labelSum(next)
      val fixed = nextSum == lastSum
      lastSum = nextSum
      fixed
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content digest, keep the lowest doc_id.
    // Only the 16-byte digest shuffles, not the document text.
    "dedup_exact_groups" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy("digest")),

    // Duplicate-cluster SIZE histogram — the one-page dup-mass profile
    // every dedup report leads with (is duplication a few mega
    // clusters or a long tail of pairs? what fraction of the corpus
    // evaporates on survivor-only retention?). Two keyed aggregates:
    // digest → cluster size, size → cluster count; n_docs/n_dups are
    // pure arithmetic on the histogram row. Output is bounded by the
    // DISTINCT cluster sizes — at any corpus scale a few dozen rows.
    "dedup_cluster_size_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1L) * col("n_clusters")).as("n_dups"))
        .orderBy("cluster_size")),

    // Normalized exact dedup: casefold + whitespace-collapse + trim
    // BEFORE digesting — catches trivially-reformatted duplicates
    // (case changes, re-wrapped whitespace) that byte-exact dedup
    // misses, while staying one map-only normalization + a digest
    // shuffle. The standard first escalation between exact and
    // near-dup in a curation pipeline.
    "dedup_normalized_groups" -> ((s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      Tables.documents(s, d)
        .groupBy(md5(norm.cast("binary")).as("digest"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy("digest")
    }),

    // Exact dedup, survivor set: one row per distinct text.
    "dedup_exact_survivors" -> ((s, d) => {
      val keepers = Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
      Tables.documents(s, d)
        .join(keepers.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Sub-document (segment) exact dedup, census side: every
    // non-overlapping SegWords-word window digested and grouped —
    // the fixed-window form of paragraph dedup. Scale shape is the
    // exact-dedup shape one level down: only 16-byte digests shuffle
    // for the census, never segment text.
    "dedup_segment_groups" -> ((s, d) => {
      val segs = segmentize(Tables.documents(s, d))
      segs.groupBy(md5(col("seg").cast("binary")).as("digest"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("seg_idx"))).as("first"))
        .select(col("digest"), col("n_copies"), col("n_docs"),
          col("first.doc_id").as("keeper_doc"),
          col("first.seg_idx").cast("long").as("keeper_idx"))
        .orderBy("digest")
    }),

    // Sub-document exact dedup, scrub side: rebuild every document
    // keeping only the canonical (lexicographically first by
    // (doc_id, seg_idx)) occurrence of each segment — what RefinedWeb-
    // style curation actually does to boilerplate paragraphs. A doc
    // whose every segment first appeared elsewhere scrubs to empty.
    // Two linear shuffles (digest groupBy, doc_id rebuild); the
    // output digest hash-proves the rebuilt text without shipping it.
    "dedup_segment_scrub" -> ((s, d) => {
      val occ = segmentize(Tables.documents(s, d))
        .withColumn("digest", md5(col("seg").cast("binary")))
      val first = occ.groupBy("digest")
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
      occ.join(first, "digest")
        .withColumn("keep", col("f.doc_id") === col("doc_id") &&
          col("f.seg_idx") === col("seg_idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
              array_sort(collect_list(when(col("keep"),
                struct(col("seg_idx"), col("seg"))))),
              x => x.getField("seg")), " ").cast("binary"))
            .as("scrubbed_digest"))
        .orderBy("doc_id")
    }),

    // EXACT n-gram Jaccard near-dup pairs via prefix-filtering set-
    // similarity join (Bayardo et al., WWW'07 "Scaling Up All Pairs
    // Similarity Search" — public algorithm): a pair with jac >= t MUST
    // share at least one shingle inside both docs' rarest-first
    // prefixes of length |S| - ceil(t*|S|) + 1, so candidate generation
    // is an equi-join on (source, prefix-shingle) — near-linear for
    // real corpora — and the exact jaccard check runs only on
    // candidates. Result set is IDENTICAL to the brute-force all-pairs
    // form (same DuckDB oracle; equivalence also spec-pinned at
    // sf0.001), replacing the round-1 quadratic-within-block plan.
    "dedup_ngram_jaccard_pairs" -> ((s, d) =>
      ngramJaccardPairs(docsWithWords(s, d))),

    // Directional containment for every verified near-dup pair:
    // |A∩B|/|A| and |A∩B|/|B| in integer ppm — the measure that tells
    // REMOVE-WHICH-SIDE apart (a doc fully contained in a bigger one
    // is quote/boilerplate inclusion, not mutual near-duplication;
    // jaccard alone can't distinguish). Candidates and the verify join
    // are the proven prefix-filter machinery; containment is two extra
    // integer columns on the already-joined shingle arrays, complete
    // over the suite's jac ≥ 0.2 predicate.
    "dedup_pair_containment" -> ((s, d) => {
      val docs = docsWithWords(s, d).select(col("doc_id"), col("source"),
        shinglesNative(col("w"), Shingle).as("sh"))
        .persist()
      val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      jaccardCandidates(docs)
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .filter(inter * 6 >= size(col("sh_a")) + size(col("sh_b")))
        .withColumn("ni", inter.cast("long"))
        .withColumn("na", size(col("sh_a")).cast("long"))
        .withColumn("nb", size(col("sh_b")).cast("long"))
        .select(col("source"), col("doc_a"), col("doc_b"),
          expr("ni * 1000000 div na").as("cont_a_ppm"),
          expr("ni * 1000000 div nb").as("cont_b_ppm"))
        .orderBy("source", "doc_a", "doc_b")
    }),

    // Transitive near-dup groups: connected components over the exact
    // jaccard pairs, then one row per component with its canonical
    // (minimum) doc and member count — what a dedup pipeline actually
    // keeps. Oracle: DuckDB recursive CTE over the same edge set.
    "dedup_components" -> ((s, d) => {
      val dw = docsWithWords(s, d)
      // persisted: consumed by the endpoint projection AND (twice,
      // symmetrized) inside connectedComponents — without it the
      // whole verify join would run three times. Harness clears it.
      val edges = ngramJaccardPairs(dw, ordered = false)
        .select("doc_a", "doc_b").persist()
      // CC label frames over edge ENDPOINTS only: a doc without a
      // near-dup pair is a singleton, and singletons are filtered
      // below anyway — every round's join runs on the near-dup set,
      // not the corpus (the label table at 100 TB is dup-sized).
      val endpoints = edges.select(col("doc_a").as("doc_id"))
        .unionByName(edges.select(col("doc_b").as("doc_id"))).distinct()
      connectedComponents("dedup_components", endpoints, edges)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("doc_id").as("canonical"))
        .filter(col("n_members") > 1)   // singletons are just "no dup"
        .orderBy("comp")
    }),

    // The WHOLE dedup pipeline as one call — what a user actually
    // runs: exact dedup first (16-byte digest shuffle shrinks the
    // input), then the prefix-filtered near-dup join + connected
    // components over the exact survivors only, keeping each
    // component's canonical doc. Every stage is the already-verified
    // building block; the composition order (cheap exact pass before
    // the expensive similarity join) is the part that matters at
    // 100 TB. Docs too short to shingle bypass the near-dup stage and
    // survive on their digest alone.
    "dedup_pipeline_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = docs
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val kept = docs.join(keepers, Seq("doc_id"), "left_semi")
      val dw = withWordsFrame(kept)
      // same endpoint restriction as dedup_components: docs without a
      // pair label themselves and are never dropped — CC over the
      // near-dup set only
      val pairs = ngramJaccardPairs(dw, ordered = false)
        .select("doc_a", "doc_b").persist()
      val endpoints = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val labels =
        connectedComponents("dedup_pipeline_survivors", endpoints, pairs)
      val dropped = labels
        .join(labels.groupBy("comp").agg(min("doc_id").as("keep_id")), "comp")
        .filter(col("doc_id") =!= col("keep_id"))
        .select("doc_id")
      kept.join(dropped, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // MinHash signatures (first 4 components surfaced for inspection) —
    // fully hash-checked: the DuckDB oracle recomputes xxhash64 via
    // XxhSql's wrapping-uint64 replay, then the same affine minima.
    // Native single-pass kernel (plans/MinHashSig): each shingle
    // hashed ONCE in compiled code, spec-pinned bit-identical to the
    // HOF twin.
    "dedup_minhash_signatures" -> ((s, d) => {
      docsWithWords(s, d)
        .withColumn("sig", minHashNative(shinglesNative(col("w"), Shingle), K))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("h1"),
          element_at(col("sig"), 2).as("h2"),
          element_at(col("sig"), 3).as("h3"),
          element_at(col("sig"), 4).as("h4"))
        .orderBy("doc_id")
    }),

    // MinHash+LSH candidate pairs: explode band buckets, self-join
    // within buckets only (buckets above MaxBucket dropped — the
    // hot-bucket guard), verify with exact Jaccard. The verify join
    // re-reads shingles for candidates only — at scale that is a
    // key-lookup join on a small candidate set.
    "dedup_lsh_candidates" -> ((s, d) => {
      val docs = docsWithWords(s, d)
        .select(col("doc_id"), shinglesNative(col("w"), Shingle).as("sh"))
        .withColumn("sig", minHashNative(col("sh"), K))
      val pairs = cappedBandPairs(docs)
      pairs
        .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
        .select("doc_a", "doc_b", "jac")
        .orderBy("doc_a", "doc_b")
    }),

    // Empirical MinHash-LSH S-curve — the measured detection-rate
    // table the (bands, rows) parameter choice is supposed to
    // produce: for each exact-Jaccard decile of true near-dup pairs,
    // what fraction did the banded index actually catch? The
    // theoretical curve 1−(1−s^r)^b is an expectation; this query
    // audits the REAL one (band-bucket caps included), the
    // dedup-family counterpart of sim_recall_audit. Truth side is the
    // prefix-filtered exact join (complete ≥ 0.2 by the prefix
    // guarantee); candidate side is the capped band pairs; both
    // sides' pairs are (a < b)-canonical so the probe is one keyed
    // left join. Detection rates in integer ppm.
    "dedup_lsh_s_curve" -> ((s, d) => {
      val dw = docsWithWords(s, d)
      val truth = ngramJaccardPairs(dw, ordered = false)
        .select(col("doc_a"), col("doc_b"), col("jac"))
      val docs = dw.select(col("doc_id"),
          shinglesNative(col("w"), Shingle).as("sh"))
        .withColumn("sig", minHashNative(col("sh"), K))
      val cand = cappedBandPairs(docs).withColumn("hit", lit(1L))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy(floor(col("jac") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .withColumn("catch_ppm", expr("n_caught * 1000000 div n_pairs"))
        .orderBy("bucket")
    }),

    // Incremental-snapshot dedup — the shape a pipeline actually runs
    // on every NEW crawl increment: new docs (doc_id ≡ 0 mod 10, an
    // sf-invariant split) checked against the standing corpus, each
    // classified exact-dup-of-old (same content digest), near-dup-of-
    // old (LSH band collision with an old doc, verified by exact
    // jaccard ≥ 0.2), or novel, with the matched old doc's min id.
    // Scale shape: the standing side contributes only digests and
    // band buckets to the joins (at 100 TB those live pre-computed in
    // the snapshot's dedup index — this query IS the index probe);
    // candidate volume is bounded by the same MaxBucket cap as
    // full-corpus LSH. Docs too short to shingle skip the near check.
    "dedup_incremental_new" -> ((s, d) => {
      val all = Tables.documents(s, d)
        .withColumn("is_new", col("doc_id") % 10 === 0)
      val ex = all.filter(col("is_new"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
        .join(all.filter(!col("is_new"))
          .select(md5(col("text").cast("binary")).as("dg"),
            col("doc_id").as("od")), "dg")
        .groupBy("doc_id").agg(min("od").as("ex_of"))
      val docs = withWordsFrame(all)
        .select(col("doc_id"), col("is_new"),
          shinglesNative(col("w"), Shingle).as("sh"))
        .withColumn("sig", minHashNative(col("sh"), K))
        .persist()
      val mixed = cappedBandPairs(docs)
        .join(docs.select(col("doc_id").as("doc_a"),
          col("is_new").as("new_a"), col("sh").as("sh_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          col("is_new").as("new_b"), col("sh").as("sh_b")), "doc_b")
        .filter(col("new_a") =!= col("new_b"))
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))) * 6 >=
          size(col("sh_a")) + size(col("sh_b")))
      val nr = mixed.select(
          when(col("new_a"), col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
          when(col("new_a"), col("doc_b")).otherwise(col("doc_a")).as("od"))
        .groupBy("doc_id").agg(min("od").as("near_of"))
      all.filter(col("is_new")).select("doc_id")
        .join(ex, Seq("doc_id"), "left")
        .join(nr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("ex_of").isNotNull, "exact")
            .when(col("near_of").isNotNull, "near")
            .otherwise("novel").as("status"),
          coalesce(col("ex_of"), col("near_of")).as("match_old"))
        .orderBy("doc_id")
    }),

    // Estimator calibration: signature-agreement jaccard estimate vs
    // the exact value on every LSH candidate pair — the view that
    // tells you whether K/Bands/R fit the corpus before a 100 TB run.
    // Hash-checked end-to-end (XxhSql replay) + DedupSpec.
    "dedup_minhash_est_vs_exact" -> ((s, d) => {
      val docs = docsWithWords(s, d)
        .select(col("doc_id"), shinglesNative(col("w"), Shingle).as("sh"))
        .withColumn("sig", minHashNative(col("sh"), K))
      cappedBandPairs(docs)
        .join(docs.select(col("doc_id").as("doc_a"),
          col("sh").as("sh_a"), col("sig").as("sig_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          col("sh").as("sh_b"), col("sig").as("sig_b")), "doc_b")
        .withColumn("est_jac",
          size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), b => b)).cast("double") / K)
        .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
        .select("doc_a", "doc_b", "est_jac", "jac")
        .orderBy("doc_a", "doc_b")
    }),

    // LSH band-bucket census: bucket-size distribution per band plus
    // the mass the hot-bucket guard drops — the operational view a
    // 100 TB dedup run watches (a skewed band shows up here first).
    "dedup_lsh_bucket_stats" -> ((s, d) => {
      val docs = docsWithWords(s, d)
        .select(col("doc_id"),
          minHashNative(shinglesNative(col("w"), Shingle), K).as("sig"))
      bandBuckets(docs)
        .groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("bucket_n"))
        .groupBy("band_idx")
        .agg(count(lit(1)).as("n_buckets"),
          max(col("bucket_n")).as("max_bucket"),
          sum(when(col("bucket_n") > MaxBucket, col("bucket_n"))
            .otherwise(0L)).as("dropped_docs"))
        .orderBy("band_idx")
    }),

    // Prefix posting-list census: per-source posting-list count, max
    // size, and the mass the MaxPosting guard would drop — the
    // operational view for the prefix-filter Jaccard join (the
    // posting-list twin of dedup_lsh_bucket_stats; a boilerplate-heavy
    // source shows up here first). Fully oracle-checked: the prefix
    // rule is deterministic SQL on both engines.
    "dedup_jaccard_posting_stats" -> ((s, d) => {
      val docs = docsWithWords(s, d).select(col("doc_id"), col("source"),
        shinglesNative(col("w"), Shingle).as("sh"))
      jaccardPrefixIndex(docs)
        .groupBy("source", "t").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_plists"),
          max(col("n")).as("max_plist"),
          sum(when(col("n") > MaxPosting, col("n")).otherwise(0L))
            .as("dropped_docs"))
        .orderBy("source")
    }),

    // SimHash fingerprints + exact-bucket near-dups. Native one-pass
    // kernel (plans/SimHash64), spec-pinned to the HOF twin.
    "dedup_simhash" -> ((s, d) => {
      docsWithWords(s, d)
        .withColumn("simhash", simHashNative(col("w")))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // SimHash multi-probe near-dup: pairs within Hamming distance 1 of
    // each other's 64-bit fingerprint, found WITHOUT an all-pairs scan.
    // Each doc emits 65 probe keys (its sig + every 1-bit flip); a
    // Hamming≤1 pair is guaranteed to collide on at least one probe
    // (equal sigs collide on the identity probe; distance-1 pairs on
    // the flipped bit), so the join is linear in docs × 65 and the
    // exact bit_count verify runs on candidates only — the multi-probe
    // LSH pattern (Lv et al., VLDB'07). Hash-checked: the oracle
    // replays the fingerprints (XxhSql) and spells the all-pairs
    // filter, equal by the probe-completeness guarantee (also spec'd
    // on planted fingerprints in DedupSpec).
    "dedup_simhash_radius" -> ((s, d) => {
      val sigs = docsWithWords(s, d)
        .withColumn("sig", simHashNative(col("w")))
        .select("doc_id", "sig")
      simhashRadiusPairs(sigs)
    }),

    // Embedding near-dup at SCALE: SRP-LSH bands route each vector to
    // corpus-derived buckets (map-only signatures; the 64-plane budget
    // regrouped to srpDerivedRBits-wide bands so the band space grows
    // with n — the round-15 fix for the r14 saturation cliff where the
    // fixed 8×2⁸ space went all-hot at 200k vectors and the cap
    // silently zeroed recall), candidates are pairs sharing any band
    // bucket, and only candidates pay the exact cosine verify — the
    // unblocked scale path next to the label-blocked exact ground
    // truth below. Threshold 0.4 sits in the top tail of this corpus;
    // a production near-dup run at cos >= 0.95 gets ~99% recall from
    // the derived parameters.
    "dedup_embedding_lsh" -> ((s, d) => {
      // zero-norm vectors are excluded (the sim_* cosine convention):
      // two of them share every SRP band (all dots 0) and the verify
      // divides by nrm_a*nrm_b = 0 — ANSI abort in Spark while
      // DuckDB's NaN compares >= threshold and emits phantom pairs
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0.0)
      srpPairs(e, dim = 64, threshold = 0.4)
    }),

    // No-silent-caps audit (round 14; rederived round 15): a band of
    // r bits carries SrpMaxBucket · 2^r vectors before the hot-bucket
    // cap starts dropping REAL near-dup mass (the ×100 amplification
    // decade measured the then-fixed (8, 8) pipeline returning EMPTY
    // at 200k vectors: linear volume, zero recall). The split now
    // FOLLOWS the corpus (srpDerivedRBits), and this census audits
    // the split production actually ran — per band: bucket count, hot
    // buckets, rows kept/dropped by candidate generation. rows_dropped
    // ≈ rows_kept would mean the derivation itself is wrong, not just
    // under-provisioned; the headline kept-mass fraction is also
    // surfaced in status_snapshot so the one query a monitor polls
    // carries the signal. The dedup_lsh_bucket_stats twin for the
    // embedding path.
    "dedup_srp_bucket_stats" -> ((s, d) => {
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0.0)
      srpBands(e, dim = 64)
        .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
        .groupBy("band_idx").agg(
          count(lit(1)).as("n_buckets"),
          sum(when(col("n") > SrpMaxBucket, 1L).otherwise(0L))
            .as("n_hot_buckets"),
          sum(when(col("n") <= SrpMaxBucket, col("n")).otherwise(0L))
            .as("rows_kept"),
          sum(when(col("n") > SrpMaxBucket, col("n")).otherwise(0L))
            .as("rows_dropped"))
        .orderBy("band_idx")
    }),

    // Embedding-cosine near-dup pairs (same-label blocking), exact;
    // threshold 0.35 sits in the top tail of this synthetic corpus
    // (random embeddings peak near cosine 0.47) so the check is
    // non-vacuous — a real corpus would use ~0.9.
    // arithmetic — see Vectors determinism contract.
    "dedup_embedding_pairs" -> ((s, d) => {
      // norms precomputed once per vector (not once per pair) — same
      // deterministic fold, O(n) instead of O(pairs) norm work.
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        // zero-norm exclusion: cosine against the zero vector is
        // 0/0 — ANSI abort vs DuckDB NaN (the sim_* convention)
        .filter(col("nrm") > 0.0)
      val a = e.select(col("vec_id").as("vec_a"), col("label"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("label"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos",
          Vectors.dotNative(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.35)
        .select("label", "vec_a", "vec_b", "cos")
        .orderBy("label", "vec_a", "vec_b")
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023 — public method):
    // cluster the embedding space around deterministic centroids, then
    // inside each cluster drop every vector with a semantic
    // near-duplicate (cos >= SemTau) of smaller vec_id — one
    // representative per neighborhood survives. The pair stage is
    // quadratic ONLY within a cluster: centroid count grows with the
    // corpus (stride rule), so cluster sizes stay bounded and total
    // pair work stays ~linear — the property that lets SemDeDup run at
    // 10^9 vectors where a global pair join cannot. Cluster assignment
    // is the map-side native kernel (plans/NearestCentroid, broadcast
    // centroids): the corpus never shuffles for it; the only shuffle
    // keys on cluster id. Tau 0.4 sits in the top tail of this
    // synthetic corpus (a production run at ~0.95 drops more).
    "dedup_semantic_survivors" -> ((s, d) => {
      // zero-norm vectors are excluded up front in BOTH twins: their
      // cosine is NaN everywhere, and the engines disagree on NaN
      // ordering (the kernel returns NULL cluster, DuckDB's row_number
      // sorts NaN as largest) — a degenerate vector must not reach
      // either assignment path.
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0)
      val centArr = e.filter(col("vec_id") % SemStride === 0)
        .agg(collect_list(struct(col("vec_id").as("c_id"),
          col("embedding").as("c_emb"), col("nrm").as("c_nrm"))).as("cents"))
      // materialize the assignment once (lazily — eager would run the
      // corpus job at DataFrame-BUILD time, e.g. during a plan audit):
      // the frame is consumed three times (both pair sides + the
      // anti-join probe) and the kernel pass over the corpus is the
      // dominant cost — same lineage-cut pattern as connectedComponents
      val assigned = e.crossJoin(broadcast(centArr))
        .select(col("vec_id"),
          graft.plans.NearestCentroid.column(
            col("embedding"), col("nrm"), col("cents")).as("cluster"),
          col("embedding"), col("nrm"))
        .truncateLineage(eager = false)
      val a = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      val dropped = a.join(b, Seq("cluster"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", Vectors.dotNative(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= SemTau)
        .select(col("vec_b").as("vec_id")).distinct()
      assigned.join(dropped, Seq("vec_id"), "left_anti")
        .select("cluster", "vec_id")
        .orderBy("cluster", "vec_id")
    }))

  private[llm] val shingleSql =
    "list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))"
  private def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** SQL twins of the SRP planes/bands — the identical integer planes
    * inlined as list literals, dot as the standard sequential fold. */
  private def planeSqlList(b: Int): String =
    (0 until 64).map(i => planeInt(b, i)).mkString("[", ", ", "]")
  private def dotPlaneSql(b: Int): String =
    s"list_sum(list_transform(list_zip(embedding, ${planeSqlList(b)}), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def bitSql(k: Int): String =
    s"(CASE WHEN ${dotPlaneSql(k)} > 0 THEN 1 ELSE 0 END)"

  /** band_val for band k of an r-bit split over the b0..b63 bit
    * columns: Σ_j b_{k·r+j} · 2^j, BIGINT throughout (2^31 would
    * overflow an INT32 sum at r = 32). */
  private def bandValSqlW(k: Int, rBits: Int): String =
    (0 until rBits).map(j =>
      s"CAST(b${k * rBits + j} AS BIGINT) * ${1L << j}").mkString(" + ")

  /** The `sig`/`rsel`/`bands` CTE bodies of the SRP oracle — the SQL
    * twin of [[srpBands]], shared with the similarity suite's LSH ANN
    * oracle. `sig` carries the 64 per-plane sign bits (computed ONCE —
    * every split regroups the same bits), `rsel` derives the
    * [[srpDerivedRBits]] ladder rung from the same nrm>0-filtered
    * count the engine pre-pass uses, and `bands` unions the three
    * regroupings gated on `rsel` — exactly one branch survives, so
    * the oracle follows the corpus the same way the engine does. */
  private[llm] def srpBandsSqlCte: String = {
    def bandsFor(r: Int): String =
      (0 until SrpBits / r).map(k =>
        s"    SELECT vec_id, $k AS band_idx, " +
          s"${bandValSqlW(k, r)} AS band_val FROM sig")
        .mkString("\n    UNION ALL\n")
    val splitUnion = Seq(8, 16, 32).map(r =>
      s"""  SELECT * FROM (
         |${bandsFor(r)}) AS s$r
         |  WHERE (SELECT r FROM rsel) = $r""".stripMargin)
      .mkString("\n  UNION ALL\n")
    s"""sig AS (
       |  SELECT vec_id, embedding,
       |${(0 until SrpBits).map(k => s"    ${bitSql(k)} AS b$k").mkString(",\n")}
       |  FROM embeddings
       |  WHERE ${Vectors.normSql("embedding")} > 0),
       |rsel AS (
       |  SELECT CASE WHEN count(*) <= ${SrpMaxBucket.toLong << 8} THEN 8
       |              WHEN count(*) <= ${SrpMaxBucket.toLong << 16} THEN 16
       |              ELSE 32 END AS r FROM sig),
       |bands AS (
       |$splitUnion)""".stripMargin
  }

  /** One-row SRP kept/dropped candidate mass — the census headline
    * [[graft.analytics.RoutingQueries]]'s `status_snapshot` carries
    * (r14 VERDICT task 7: the no-silent-caps signal must reach the
    * one query a monitor actually polls, not live only in a census
    * nobody schedules). srp_rows_dropped ≈ srp_rows_kept on a live
    * corpus means the derived split is mis-provisioned and the LSH
    * dedup recall is dying — page on it. */
  private[graft] def srpKeptMass(s: SparkSession, d: String): DataFrame = {
    val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
      .withColumn("nrm", graft.llm.Vectors.normNative(col("embedding")))
      .filter(col("nrm") > 0.0)
    srpBands(e, dim = 64)
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(when(col("n") <= SrpMaxBucket, col("n"))
          .otherwise(0L)), lit(0L)).as("srp_rows_kept"),
        coalesce(sum(when(col("n") > SrpMaxBucket, col("n"))
          .otherwise(0L)), lit(0L)).as("srp_rows_dropped"))
  }

  /** SQL twin of [[srpKeptMass]]: CTE chain ending in
    * `km(srp_rows_kept, srp_rows_dropped)`, for composition into the
    * status_snapshot oracle. */
  private[graft] def srpKeptMassSqlCtes: String =
    s"""$srpBandsSqlCte,
       |bc_km AS (
       |  SELECT band_idx, band_val, count(*) AS n
       |  FROM bands GROUP BY 1, 2),
       |km AS (
       |  SELECT
       |    CAST(coalesce(sum(CASE WHEN n <= $SrpMaxBucket THEN n
       |      ELSE 0 END), 0) AS BIGINT) AS srp_rows_kept,
       |    CAST(coalesce(sum(CASE WHEN n > $SrpMaxBucket THEN n
       |      ELSE 0 END), 0) AS BIGINT) AS srp_rows_dropped
       |  FROM bc_km)""".stripMargin

  // ---- MinHash-family DuckDB replay ------------------------------
  // The whole family is deterministic integer arithmetic once the
  // oracle can compute Spark's xxhash64 — which XxhSql emits as
  // wrapping-uint64 SQL. These CTE fragments rebuild the pipeline:
  // shingles → per-shingle hash → k affine minima (signature) → band
  // strings → band hashes → capped buckets → verified pairs. Every
  // constant is interpolated from the SAME Scala vals the Spark side
  // uses (K, Bands, R, MaxBucket, MinHashPrime, minHashParams).

  private val P = graft.llm.TextOps.MinHashPrime

  /** CTEs from documents to `hm(doc_id, h)` — one row per (doc,
    * shingle) with h = pmod(xxhash64(shingle), p). */
  private def minhashBaseSql: String =
    s"""wf AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       ORDER BY doc_id),
       |wfk AS (SELECT * FROM wf WHERE len(w) >= $Shingle),
       |shl AS (SELECT doc_id, $shingleSql AS sh FROM wfk),
       |shx AS (SELECT doc_id, unnest(sh) AS s0 FROM shl),
       |${XxhSql.ctes("shx", Seq("doc_id"), "s0", "mh")},
       |hm AS (SELECT doc_id, ((hv % $P) + $P) % $P AS h FROM mh_out)"""
      .stripMargin

  /** The j-th (1-based) affine min aggregate over `h`. */
  private def sigMinSql(j: Int): String = {
    val (a, b) = graft.llm.TextOps.minHashParams(K)(j - 1)
    s"CAST(min((h * $a + $b) % $P) AS BIGINT)"
  }

  /** CTEs extending [[minhashBaseSql]] to capped LSH candidate pairs
    * `pr(doc_a, doc_b)` plus `sigl(doc_id, sig)` — bands hashed with
    * a second XxhSql pass over the comma-joined component strings,
    * hot buckets (> MaxBucket docs) dropped before the self-join,
    * exactly the Spark cappedBandPairs shape. */
  private def lshPairsSql: String =
    s"""${minhashBaseSql},
       |sigl AS (SELECT doc_id,
       |    ${(1 to K).map(sigMinSql).mkString("[", ",\n      ", "]")} AS sig
       |  FROM hm GROUP BY doc_id),
       |bs AS (SELECT doc_id, b AS band_idx,
       |    array_to_string(sig[b*$R+1 : b*$R+$R], ',') AS bstr
       |  FROM sigl CROSS JOIN (SELECT unnest(range(0, $Bands)) AS b) bb),
       |${XxhSql.ctes("bs", Seq("doc_id", "band_idx"), "bstr", "hb")},
       |bk AS (SELECT doc_id, band_idx, hv AS band_hash FROM hb_out),
       |cap AS (SELECT band_idx, band_hash FROM bk
       |        GROUP BY band_idx, band_hash HAVING count(*) <= $MaxBucket),
       |kb AS (SELECT bk.* FROM bk JOIN cap USING (band_idx, band_hash)),
       |pr AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |       FROM kb x JOIN kb y ON x.band_idx = y.band_idx
       |         AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)"""
      .stripMargin

  /** CTEs from documents to `sims(doc_id, simhash)` — the SimHash
    * fingerprint replayed bit-by-bit: per-token xxhash64 (XxhSql),
    * per-bit popularity counts via (uint // 2^b) % 2 (sign-free bit
    * reads), strict-majority vote, and the signed-BIGINT fingerprint
    * reassembled WITHOUT any 64-bit shift (DuckDB `<<` overflows at
    * bit 63 — the total is summed as HUGEINT and wrapped to signed). */
  private def simhashSimsSql: String = {
    val H = "18446744073709551616::HUGEINT"
    val bitCols = (0 until 64).map(b =>
      s"sum(CAST((uh // ${java.lang.Long.toUnsignedString(1L << b)}) % 2 AS BIGINT)) AS c$b")
      .mkString(",\n    ")
    val tot = (0 until 64).map(b =>
      s"CASE WHEN 2*c$b > n THEN ${java.lang.Long.toUnsignedString(1L << b)}::HUGEINT ELSE 0::HUGEINT END")
      .mkString(" + ")
    s"""wf AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wfk AS (SELECT * FROM wf WHERE len(w) >= $Shingle),
       |tok AS (SELECT doc_id, unnest(w) AS s0 FROM wfk),
       |${XxhSql.ctes("tok", Seq("doc_id"), "s0", "sx")},
       |uhx AS (SELECT doc_id,
       |    hv + CASE WHEN hv < 0 THEN $H ELSE 0::HUGEINT END AS uh
       |  FROM sx_out),
       |cb AS (SELECT doc_id, count(*) AS n,
       |    $bitCols
       |  FROM uhx GROUP BY doc_id),
       |st AS (SELECT doc_id, ($tot) AS tot FROM cb),
       |sims AS (SELECT doc_id,
       |    CAST(tot - CASE WHEN tot >= 9223372036854775808 THEN $H
       |               ELSE 0::HUGEINT END AS BIGINT) AS simhash
       |  FROM st)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "dedup_simhash" ->
      s"""WITH $simhashSimsSql
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,

    // The multi-probe pairs are COMPLETE for hamming ≤ 1 by
    // construction (identity probe catches distance 0, each 1-bit
    // flip catches its distance-1 partner), so the oracle may spell
    // the plain all-pairs filter — the probe equivalence itself is
    // additionally spec'd on planted fingerprints in DedupSpec.
    "dedup_simhash_radius" ->
      s"""WITH $simhashSimsSql
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_lsh_bucket_stats" ->
      s"""WITH $lshPairsSql,
         |bucketsz AS (SELECT band_idx, band_hash, count(*) AS bucket_n
         |             FROM bk GROUP BY band_idx, band_hash)
         |SELECT CAST(band_idx AS INTEGER) AS band_idx,
         |  count(*) AS n_buckets,
         |  max(bucket_n) AS max_bucket,
         |  CAST(sum(CASE WHEN bucket_n > $MaxBucket THEN bucket_n
         |           ELSE 0 END) AS BIGINT) AS dropped_docs
         |FROM bucketsz GROUP BY band_idx ORDER BY band_idx""".stripMargin,

    "dedup_minhash_signatures" ->
      s"""WITH $minhashBaseSql
         |SELECT doc_id,
         |  ${(1 to 4).map(j => s"${sigMinSql(j)} AS h$j").mkString(",\n  ")}
         |FROM hm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_lsh_candidates" ->
      s"""WITH $lshPairsSql
         |SELECT doc_a, doc_b, ${jaccardSql("a.sh", "b.sh")} AS jac
         |FROM pr JOIN shl a ON pr.doc_a = a.doc_id
         |        JOIN shl b ON pr.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_lsh_s_curve" ->
      s"""WITH $lshPairsSql,
         |sh2 AS (
         |  SELECT doc_id, source, $shingleSql AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    ${jaccardSql("a.s", "b.s")} AS jac
         |  FROM sh2 a JOIN sh2 b
         |    ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.2)
         |SELECT CAST(floor(t.jac * 10) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN pr.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_caught,
         |  CAST(sum(CASE WHEN pr.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS catch_ppm
         |FROM truth t LEFT JOIN pr
         |  ON pr.doc_a = t.doc_a AND pr.doc_b = t.doc_b
         |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "dedup_incremental_new" ->
      s"""WITH $lshPairsSql,
         |ex AS (
         |  SELECT n.doc_id, min(o.doc_id) AS ex_of
         |  FROM documents n JOIN documents o
         |    ON md5(n.text) = md5(o.text)
         |   AND n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
         |  GROUP BY n.doc_id),
         |mixed AS (
         |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS nd,
         |         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS od
         |  FROM pr JOIN shl a ON pr.doc_a = a.doc_id
         |          JOIN shl b ON pr.doc_b = b.doc_id
         |  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
         |    AND ${jaccardSql("a.sh", "b.sh")} >= 0.2),
         |nr AS (SELECT nd AS doc_id, min(od) AS near_of
         |       FROM mixed GROUP BY nd)
         |SELECT d.doc_id,
         |  CASE WHEN ex_of IS NOT NULL THEN 'exact'
         |       WHEN near_of IS NOT NULL THEN 'near'
         |       ELSE 'novel' END AS status,
         |  coalesce(ex_of, near_of) AS match_old
         |FROM documents d
         |LEFT JOIN ex ON d.doc_id = ex.doc_id
         |LEFT JOIN nr ON d.doc_id = nr.doc_id
         |WHERE d.doc_id % 10 = 0 ORDER BY d.doc_id""".stripMargin,

    "dedup_minhash_est_vs_exact" ->
      s"""WITH $lshPairsSql
         |SELECT doc_a, doc_b,
         |  CAST(len(list_filter(range(1, ${K + 1}),
         |    j -> sa.sig[j] = sb.sig[j])) AS DOUBLE) / $K AS est_jac,
         |  ${jaccardSql("a.sh", "b.sh")} AS jac
         |FROM pr JOIN sigl sa ON pr.doc_a = sa.doc_id
         |        JOIN sigl sb ON pr.doc_b = sb.doc_id
         |        JOIN shl a ON pr.doc_a = a.doc_id
         |        JOIN shl b ON pr.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT md5(text) AS digest, count(*) AS n_copies,
        |  min(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin,

    "dedup_cluster_size_hist" ->
      """WITH cl AS (
        |  SELECT md5(text) AS digest, CAST(count(*) AS BIGINT)
        |    AS cluster_size
        |  FROM documents GROUP BY md5(text))
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dups
        |FROM cl GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "dedup_normalized_groups" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    AS digest,
        |  count(*) AS n_copies, min(doc_id) AS keeper
        |FROM documents
        |GROUP BY 1 ORDER BY digest""".stripMargin,

    "dedup_exact_survivors" ->
      """WITH k AS (SELECT md5(text) AS digest, min(doc_id) AS doc_id
        |           FROM documents GROUP BY md5(text))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM k)
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_ngram_jaccard_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingleSql AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3)
         |SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  ${jaccardSql("a.s", "b.s")} AS jac
         |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.s", "b.s")} >= 0.2
         |ORDER BY a.source, doc_a, doc_b""".stripMargin,

    "dedup_pair_containment" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, $shingleSql AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3)
         |SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.s, b.s)) * 1000000 // len(a.s)
         |    AS BIGINT) AS cont_a_ppm,
         |  CAST(len(list_intersect(a.s, b.s)) * 1000000 // len(b.s)
         |    AS BIGINT) AS cont_b_ppm
         |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.s", "b.s")} >= 0.2
         |ORDER BY a.source, doc_a, doc_b""".stripMargin,

    "dedup_segment_groups" ->
      s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w
         |            FROM documents),
         |seg AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(w[(i*$SegWords+1):(i*$SegWords+$SegWords)], ' ') AS seg
         |  FROM (SELECT doc_id, w,
         |          unnest(range(0, CAST(ceil(len(w)/$SegWords.0) AS BIGINT))) AS i
         |        FROM wd)),
         |occ AS (
         |  SELECT doc_id, seg_idx, md5(seg) AS digest,
         |    row_number() OVER (PARTITION BY md5(seg)
         |      ORDER BY doc_id, seg_idx) AS rk
         |  FROM seg),
         |g AS (SELECT digest, count(*) AS n_copies,
         |        count(DISTINCT doc_id) AS n_docs
         |      FROM occ GROUP BY digest),
         |f AS (SELECT digest, doc_id AS keeper_doc,
         |        CAST(seg_idx AS BIGINT) AS keeper_idx
         |      FROM occ WHERE rk = 1)
         |SELECT g.digest, g.n_copies, g.n_docs, f.keeper_doc, f.keeper_idx
         |FROM g JOIN f USING (digest) ORDER BY digest""".stripMargin,

    "dedup_segment_scrub" ->
      s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS w
         |            FROM documents),
         |seg AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(w[(i*$SegWords+1):(i*$SegWords+$SegWords)], ' ') AS seg
         |  FROM (SELECT doc_id, w,
         |          unnest(range(0, CAST(ceil(len(w)/$SegWords.0) AS BIGINT))) AS i
         |        FROM wd)),
         |occ AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY md5(seg)
         |      ORDER BY doc_id, seg_idx) AS rk
         |  FROM seg)
         |SELECT doc_id, count(*) AS n_segs,
         |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' '
         |    ORDER BY seg_idx), '')) AS scrubbed_digest
         |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_jaccard_posting_stats" ->
      s"""WITH shd AS (
         |  SELECT doc_id, source, $shingleSql AS sh
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3),
         |tok AS (
         |  SELECT doc_id, source, len(sh) AS sz, unnest(sh) AS t FROM shd),
         |freq AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
         |prefix AS (
         |  SELECT doc_id, source, t FROM (
         |    SELECT tok.doc_id, tok.source, tok.t, tok.sz,
         |      row_number() OVER (PARTITION BY tok.doc_id
         |        ORDER BY f.df, tok.t) AS pos
         |    FROM tok JOIN freq f ON tok.t = f.t)
         |  WHERE pos <= sz - CAST(ceil(sz * 0.2) AS INT) + 1),
         |pl AS (SELECT source, t, count(*) AS n FROM prefix
         |       GROUP BY source, t)
         |SELECT source, count(*) AS n_plists, max(n) AS max_plist,
         |  CAST(sum(CASE WHEN n > $MaxPosting THEN n ELSE 0 END) AS BIGINT)
         |    AS dropped_docs
         |FROM pl GROUP BY source ORDER BY source""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, source, $shingleSql AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM documents)
         |  WHERE len(w) >= 3),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.2),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, comp) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.doc_id),
         |labels AS (
         |  SELECT doc_id, min(comp) AS comp FROM reach GROUP BY doc_id)
         |SELECT comp, count(*) AS n_members, min(doc_id) AS canonical
         |FROM labels GROUP BY comp HAVING count(*) > 1
         |ORDER BY comp""".stripMargin,

    "dedup_pipeline_survivors" ->
      s"""WITH RECURSIVE k AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kd AS (SELECT d.* FROM documents d
         |       WHERE d.doc_id IN (SELECT doc_id FROM k)),
         |sh AS (
         |  SELECT doc_id, source, $shingleSql AS s
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
         |        FROM kd)
         |  WHERE len(w) >= 3),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.2),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(doc_id, comp) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.doc_id),
         |labels AS (
         |  SELECT doc_id, min(comp) AS comp FROM reach GROUP BY doc_id),
         |dropped AS (
         |  SELECT l.doc_id
         |  FROM labels l JOIN (SELECT comp, min(doc_id) AS keep_id
         |                      FROM labels GROUP BY comp) c
         |    ON l.comp = c.comp
         |  WHERE l.doc_id <> c.keep_id)
         |SELECT doc_id, lang, source, n_chars FROM kd
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH $srpBandsSqlCte,
         |${cappedBandsSqlCte("bands_c", "bands", "vec_id", SrpMaxBucket)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bands_c x JOIN bands_c y
         |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         |   AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT c.vec_a, c.vec_b,
         |    ${Vectors.cosineSql("a.embedding", "b.embedding")} AS cos
         |  FROM cand c
         |  JOIN sig a ON a.vec_id = c.vec_a
         |  JOIN sig b ON b.vec_id = c.vec_b)
         |WHERE cos >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // same band replay as the LSH oracle, aggregated to the census
    "dedup_srp_bucket_stats" ->
      s"""WITH $srpBandsSqlCte,
         |bc AS (
         |  SELECT band_idx, band_val, CAST(count(*) AS BIGINT) AS n
         |  FROM bands GROUP BY 1, 2)
         |SELECT band_idx,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(CASE WHEN n > $SrpMaxBucket THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hot_buckets,
         |  CAST(sum(CASE WHEN n <= $SrpMaxBucket THEN n ELSE 0 END)
         |    AS BIGINT) AS rows_kept,
         |  CAST(sum(CASE WHEN n > $SrpMaxBucket THEN n ELSE 0 END)
         |    AS BIGINT) AS rows_dropped
         |FROM bc GROUP BY band_idx ORDER BY band_idx""".stripMargin,

    "dedup_embedding_pairs" ->
      s"""WITH nz AS (SELECT vec_id, label, embedding FROM embeddings
         |            WHERE ${Vectors.normSql("embedding")} > 0)
         |SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${Vectors.cosineSql("a.embedding", "b.embedding")} AS cos
         |FROM nz a JOIN nz b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${Vectors.cosineSql("a.embedding", "b.embedding")} >= 0.35
         |ORDER BY a.label, vec_a, vec_b""".stripMargin,

    "dedup_semantic_survivors" ->
      s"""WITH nz AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE ${Vectors.normSql("embedding")} > 0),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb
         |      FROM nz WHERE vec_id % $SemStride = 0),
         |assigned AS (
         |  SELECT vec_id, cluster, embedding FROM (
         |    SELECT e.vec_id, c.c_id AS cluster, e.embedding,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Vectors.cosineSql("e.embedding", "c.c_emb")} DESC,
         |                 c.c_id) AS c_rk
         |    FROM nz e CROSS JOIN c)
         |  WHERE c_rk = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${Vectors.cosineSql("a.embedding", "b.embedding")} >= $SemTau)
         |SELECT cluster, vec_id FROM assigned
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY cluster, vec_id""".stripMargin)
}
