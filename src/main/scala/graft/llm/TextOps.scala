package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the LLM-data-pipeline operators:
  * shingling, MinHash signatures, SimHash fingerprints, token stats.
  * Everything is Catalyst built-ins (higher-order array functions +
  * xxhash64) — whole-stage-codegen'd, linear per row, no driver loops —
  * so each primitive scales to 100 TB as an embarrassingly-parallel map.
  */
object TextOps {

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish regex tokens: word runs or single non-space symbols. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("""\w+|[^\w\s]"""), lit(0))

  /** Distinct word n-gram shingles ("a b c" 3-grams), one native pass
    * ([[graft.plans.NGramShingles]]); an empty array below n words. */
  def shinglesNative(ws: Column, n: Int): Column =
    graft.plans.NGramShingles.column(ws, n)

  /** Count-only Jaccard over two distinct-element arrays. The
    * intersect — the expensive per-pair op on the dedup verify path —
    * is built once and referenced twice; per-operator subexpression
    * elimination then has one canonical subtree to dedupe (the
    * verify-stage FILTER's own intersect is a separate operator and
    * legitimately pays once more). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  // ---- MinHash ----------------------------------------------------

  /** Large prime for the universal-hash family (fits comfortably in
    * a long; products stay within Long range after pmod). */
  val MinHashPrime = 2147483647L // 2^31 - 1

  /** Deterministic (a,b) parameter pairs for k hash functions. */
  def minHashParams(k: Int): Seq[(Long, Long)] =
    (1 to k).map(i => (2L * i + 1, 7919L * i))

  /** k-element MinHash signature of a shingle array, one native pass
    * ([[graft.plans.MinHashSig]]): h_i(s) = (a_i * (xxhash64(s) mod p)
    * + b_i) mod p with the [[minHashParams]] family, sig_i = min over
    * shingles; each shingle is hashed once. */
  def minHashNative(shingleArr: Column, k: Int): Column =
    graft.plans.MinHashSig.column(shingleArr, k)

  /** 64-bit SimHash of a token array, one native pass
    * ([[graft.plans.SimHash64]]): per-bit majority vote over
    * xxhash64(token), as a signed long. */
  def simHashNative(tokens: Column): Column =
    graft.plans.SimHash64.column(tokens)

  /** LSH band keys: signature split into `bands` rows of `r` each,
    * hashed to a bucket id. Explode the result and group by
    * (band_idx, band_hash) to find candidate buckets. */
  def lshBands(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band_idx"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * r + 1, lit(r)), _.cast("string")))).as("band_hash")))

  // ---- SimHash ----------------------------------------------------

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- Fingerprint / quality / language ---------------------------

  /** Order-insensitive document fingerprint: md5 of the sorted distinct
    * vocabulary (detects shuffled/near-identical docs). */
  def vocabFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(lower(text)))), " ")
      .cast("binary"))

  /** Stopword-family counts used by the language-ID heuristic. */
  val EnMarkers = Seq("the", "a", "of", "and", "to")
  val DeMarkers = Seq("der", "die", "das", "und", "ist")
  val EsMarkers = Seq("el", "la", "de", "y", "es")

  def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => markers.foldLeft(lit(false))((acc, m) => acc || w === m)))
      .cast("long")

  /** Max multiplicity of any single token in the array, computed
    * per row (sort + run-length fold) — no explode/aggregation, so it
    * runs map-only inside a streaming ingest. Spec-pinned equal to the
    * explode→groupBy top-count of the batch repetition pipeline. */
  def maxRepeatCount(ws: Column): Column =
    aggregate(
      array_sort(ws),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
}
