package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function twins of the native kernels in
  * `graft.plans`. No query runs them: the kernel specs compare each
  * kernel against its twin bit for bit, and a few specs use them as the
  * plain-Catalyst reference pipeline.
  */
object HofTwins {

  // ---- text (NGramShingles, MinHashSig, SimHash64) -----------------

  /** Distinct word n-gram shingles ("a b c" 3-grams). Caller must
    * guarantee size(words) >= n (filter or guard). */
  def shingles(ws: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => array_join(slice(ws, i, lit(n)), " ")))

  /** Base hashes for MinHash: xxhash64(s) mod p, once per shingle. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => pmod(xxhash64(s), lit(TextOps.MinHashPrime)))

  /** k-element MinHash signature over PRE-HASHED shingles
    * ([[shingleHashes]]): sig_i = min over h of (a_i*h + b_i) mod p. */
  def minHashFromHashes(hashArr: Column, k: Int): Column =
    array(TextOps.minHashParams(k).map { case (a, b) =>
      array_min(transform(hashArr,
        h => pmod(h * a + b, lit(TextOps.MinHashPrime))))
    }: _*)

  /** k-element MinHash signature of a shingle array.
    * h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p; sig_i = min over
    * shingles. */
  def minHashSignature(shingleArr: Column, k: Int): Column =
    minHashFromHashes(shingleHashes(shingleArr), k)

  /** 64-bit SimHash of a token array: per-bit majority vote over
    * xxhash64(token). Returns a signed long. */
  def simHash(tokens: Column): Column = {
    // hash each token ONCE, then fold bit-vectors over the hash array
    // (folding over raw tokens would re-hash every token per bit).
    val hashes = transform(tokens, w => xxhash64(w))
    val bitCounts = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          b => call_function("shiftright", h, b).bitwiseAND(1L)),
        (a, x) => a + x))
    val n = size(tokens)
    aggregate(
      zip_with(bitCounts, sequence(lit(0), lit(63)),
        (c, b) => when(c * 2 > n, call_function("shiftleft", lit(1L), b))
          .otherwise(0L)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  // ---- clustering (NearestCentroidL2) -------------------------------

  /** Twin of `ClusterQueries.assignExpr`: `array_min` over
    * `struct(d2, c_id)` is the same argmin with ties to the lower id. */
  def assignExprHof(cents: Seq[(Int, Array[Double])]): Column = {
    import ClusterQueries.{centLit, dist2}
    if (cents.isEmpty) lit(null).cast("int")
    else array_min(transform(centLit(cents), c => struct(
      dist2(col("qv"), c.getField("cv")).as("d2"),
      c.getField("c_id").as("c_id")))).getField("c_id")
  }

  // ---- product quantization (PqAssign) ------------------------------

  /** Twin of the PqAssign kernel over the `cb` and `subs` columns. The
    * empty-codebook guard matches the kernel's NULL there too. */
  def pqBestHof: Column = {
    import SimilarityQueries.{PqM, pqDist2}
    when(size(col("cb")) > 0,
      transform(sequence(lit(0), lit(PqM - 1)), m =>
        array_min(transform(
          filter(col("cb"), c => c.getField("m") === m),
          c => struct(
            pqDist2(element_at(col("subs"), m + 1), c.getField("sub")).as("d"),
            c.getField("c_id").as("c_id"))))))
  }

  /** `SimilarityQueries.pqAssigned` with the twin in place of the
    * kernel. */
  def pqAssignedHof(s: SparkSession, d: String): DataFrame =
    graft.Spread.fanoutScan(graft.Tables.embeddings(s, d))
      .crossJoin(broadcast(SimilarityQueries.pqCodebook(s, d)))
      .withColumn("subs", SimilarityQueries.pqSubs)
      .withColumn("best", pqBestHof)
}
