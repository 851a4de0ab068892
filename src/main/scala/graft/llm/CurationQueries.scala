package graft.llm

import graft.Lineage.LineageOps
import graft.{QuerySuite, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextOps._

/** Corpus-curation operators (north star): the filter/transform layer a
  * training-data pipeline runs between raw ingest and tokenization —
  * repetition metrics, a Gopher-style quality gate (Rae et al. 2021,
  * public paper — thresholds re-tuned for this synthetic corpus),
  * regex scrubbing, and token-budget sequence packing.
  *
  * Scale shapes: repetition metrics shuffle (doc_id, gram) pairs —
  * linear in corpus tokens with map-side partial aggregation, never
  * quadratic. Scrubbing is map-only. Packing is the two-stage offset
  * pattern: per-shard window cumsum + a broadcast base-offset table —
  * the only global ordering is over the tiny shard list, never rows.
  */
object CurationQueries extends QuerySuite {

  /** Fixed token budget per packed training sequence. */
  val SeqLen = 512L

  /** Candidate min-length cutoffs for the filter sweep — spanning the
    * corpus' n_chars range so every row of the sweep is informative. */
  val SweepThresholds = Seq(100L, 200L, 300L, 400L, 500L)

  /** Docs kept per stratum by the stratified sampler. */
  val SampleK = 10

  /** Skyline grid widths (words / vocab / top-term buckets): one
    * bucket step of separation in EVERY dimension guarantees true
    * dominance (floor arithmetic: bw₁ > bw₂ ⇒ w₁ ≥ 8·bw₁ > w₂), so
    * whole cells prune without any pairwise compare. */
  val SkylineGridW = 8L
  val SkylineGridV = 4L
  val SkylineGridR = 2L

  /** Loud bound on the exact-phase candidate count (the LocalTypeCap
    * discipline): the grid prune must leave at most this many
    * boundary-cell docs for the broadcast pairwise pass — fail loudly
    * past it rather than let a nested-loop join grow quadratic. */
  val SkylineCandidateBudget = 200000L

  /** documents with the split word array (and lowered twin). */
  private def withWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      words(col("text")).as("ws"), words(lower(col("text"))).as("lws"))

  /** Per-doc unigram stats: total words, max single-word count,
    * distinct words. Explode -> two-level agg (partial map-side). */
  private def wordRepetition(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("ws")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"),
        max("c").as("top_w"),
        count(lit(1)).as("d_w"))

  /** Per-doc bigram stats (docs with >= 2 words only). */
  private def bigramRepetition(docs: DataFrame): DataFrame =
    docs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1)))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_bigrams"),
        max("c").as("top_b"),
        count(lit(1)).as("d_b"))

  private def frac(num: Column, den: Column): Column =
    num.cast("double") / den.cast("double")

  /** Tokens scrubbed by `text_scrub` (word-boundary alternation — same
    * semantics in Java regex and DuckDB's RE2 for ASCII words). */
  val ScrubPattern = """\b(key|hash|scan)\b"""

  /** Per-ROW quality gate: the text_gopher_filter thresholds computed
    * without any aggregation (top/dup word stats come from a
    * sort+run-length fold over the row's own token array), so the
    * identical expression drops into a streaming ingest as a map-only
    * filter — batch and stream cannot disagree on what "keep" means.
    * Spec-pinned equal to the explode→agg pipeline in CurationSpec. */
  def rowQualityKeep(text: Column): Column = {
    val ws = words(text)
    val lws = words(lower(text))
    val n = size(ws).cast("long")
    val meanLen = aggregate(ws, lit(0L), (a, w) => a + length(w))
      .cast("double") / n.cast("double")
    val topFrac = maxRepeatCount(ws).cast("double") / n.cast("double")
    val dupFrac = (n - size(array_distinct(ws))).cast("double") / n.cast("double")
    val markers = markerCount(lws, EnMarkers) + markerCount(lws, DeMarkers) +
      markerCount(lws, EsMarkers)
    n.between(20, 90) && meanLen > 4.0 && meanLen < 5.0 &&
      topFrac <= 0.12 && dupFrac <= 0.55 && markers >= 1
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Length-filter threshold sweep — the knob-tuning table a curator
    // reads BEFORE committing to a min-length cutoff: for each
    // candidate threshold, how many documents and how much text
    // survive (absolute + ppm of corpus). One corpus scan: the grid
    // is a compile-time constant folded into conditional aggregates
    // (no row multiplication), then a 5-row stack un-pivots the
    // single aggregate row — the whole query is map-side until a
    // scalar aggregate. Integer ppm shares, engine-exact. Integer
    // headroom, ENFORCED (momentGuard): chars_ppm multiplies the
    // corpus-wide CHAR sum by 10⁶ — char sums are ~10²× row counts,
    // so the product crosses 2⁶² at ~4.6·10¹² kept chars (≈ 4.6 TB
    // of text, well inside the envelope); docs_ppm is count-only
    // (crosses at ~4.6·10¹² docs — the dq_benford exemption class).
    "text_filter_sweep" -> ((s, d) => {
      val aggs = Seq(count(lit(1)).as("n_all"),
        sum("n_chars").as("c_all")) ++
        SweepThresholds.flatMap(t => Seq(
          sum(when(col("n_chars") >= t, 1L).otherwise(0L)).as(s"d$t"),
          sum(when(col("n_chars") >= t, col("n_chars")).otherwise(0L))
            .as(s"c$t")))
      val row = Tables.documents(s, d).agg(aggs.head, aggs.tail: _*)
      val stacked = SweepThresholds
        .map(t => s"${t}L, d$t, c$t").mkString(", ")
      row.select(
          expr(s"stack(${SweepThresholds.size}, $stacked) " +
            "AS (min_chars, n_docs, n_chars_kept)"),
          col("n_all"), col("c_all"))
        .select(col("min_chars"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_chars_kept"), lit(0L)).as("n_chars_kept"),
          // zero-fill on an empty corpus (ANSI div-by-zero guard; the
          // dq_null_profile empty-input convention)
          when(col("n_all") > 0L,
            expr("n_docs * 1000000 div n_all")).otherwise(0L)
            .as("docs_ppm"),
          graft.analytics.Exact.momentGuard(s, "text_filter_sweep",
            "c_all*1e6",
            coalesce(col("c_all"), lit(0L)).cast("double") * lit(1.0e6))(
            when(coalesce(col("c_all"), lit(0L)) > 0L,
              expr("n_chars_kept * 1000000 div c_all")).otherwise(0L))
            .as("chars_ppm"))
        .orderBy("min_chars")
    }),

    // Quality × dedup joint census — the two independent keep gates
    // every curation run applies, CROSSED per source: how much of each
    // feed survives the quality filter, exact dedup (canonical-only
    // retention), and BOTH — the number that actually lands in the
    // training set. Quality is the map-side Gopher gate
    // ([[rowQualityKeep]] — same predicate as text_gopher_filter);
    // canonical is min-doc_id per content digest (dedup_exact_groups'
    // convention). One digest aggregate, one keyed join, one per-source
    // rollup.
    "curation_quality_dup_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val canon = docs
        .groupBy(md5(col("text").cast("binary")).as("dg"))
        .agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(1L).as("is_canon"))
      docs
        .withColumn("q", rowQualityKeep(col("text")).cast("long"))
        .join(canon, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("q").as("n_quality"),
          sum(coalesce(col("is_canon"), lit(0L))).as("n_canonical"),
          sum(when(col("q") === 1L && col("is_canon") === 1L, 1L)
            .otherwise(0L)).as("n_train_ready"))
        .orderBy("source")
    }),

    // Pareto-frontier (SKYLINE) document selection — Börzsönyi et
    // al.'s skyline operator (ICDE'01) applied to curation: the docs
    // not dominated on (n_words ↑, n_vocab ↑, max term count ↓) — the
    // multi-objective shortlist no single quality score can produce,
    // because any weighted score silently picks one point ON this
    // frontier. Scale shape (the grid/block-nested-loop hybrid from
    // the same paper): (1) per-doc metrics — one (doc, gram) shuffle;
    // (2) GRID PRUNE — docs bucket into cells ([[SkylineGridW]]/V/R
    // wide), and a cell strictly below a nonempty cell in ALL
    // dimensions is dropped WHOLESALE (floor arithmetic makes the
    // bucket-step gap a dominance proof — no pairwise compare, the
    // cell table is grid-bounded and broadcast); (3) the surviving
    // boundary-cell docs — loud-bounded by
    // [[SkylineCandidateBudget]] — go through ONE broadcast
    // nested-loop anti-join against the exact dominance predicate.
    // Nothing is ever quadratic in the corpus: only in the boundary
    // set, which the budget pins. The oracle is the naive NOT EXISTS
    // dominance scan — a different algorithm entirely, so the hash
    // match proves the grid prune is lossless.
    "curation_pareto_skyline" -> ((s, d) => {
      val m = wordRepetition(withWords(s, d))
        .select(col("doc_id"), col("n_words"),
          col("d_w").as("n_vocab"), col("top_w").as("max_tf"))
        .withColumn("bw", expr(s"n_words div $SkylineGridW"))
        .withColumn("bv", expr(s"n_vocab div $SkylineGridV"))
        .withColumn("br", expr(s"max_tf div $SkylineGridR"))
      val cells = m.groupBy("bw", "bv", "br").agg(count(lit(1)).as("n"))
        .truncateLineage() // grid-bounded; read by both prune sides
      val dominated = cells.as("lo").join(broadcast(cells.as("hi")),
          col("hi.bw") > col("lo.bw") && col("hi.bv") > col("lo.bv") &&
            col("hi.br") < col("lo.br"), "left_semi")
        .select(col("bw"), col("bv"), col("br"))
      val cands = m.join(broadcast(dominated), Seq("bw", "bv", "br"),
          "left_anti")
        .select("doc_id", "n_words", "n_vocab", "max_tf")
        .truncateLineage() // read by the count gate + both join sides
      val nCands = cands.count()
      require(nCands <= SkylineCandidateBudget,
        s"skyline boundary set $nCands exceeds $SkylineCandidateBudget " +
          "— shrink the grid cells (more buckets) before the pairwise " +
          "pass goes quadratic")
      val other = cands.select(col("n_words").as("w2"),
        col("n_vocab").as("v2"), col("max_tf").as("r2"))
      cands.join(broadcast(other),
          col("w2") >= col("n_words") && col("v2") >= col("n_vocab") &&
            col("r2") <= col("max_tf") &&
            (col("w2") > col("n_words") || col("v2") > col("n_vocab") ||
              col("r2") < col("max_tf")), "left_anti")
        .orderBy("doc_id")
    }),

    // TEMPORAL split with an embargo gap — the time-series evaluation
    // discipline (train strictly before, test strictly after, a
    // dropped buffer between so near-boundary leakage can't inflate
    // eval): assign by event time against fixed calendar cutoffs,
    // then census each split. Map-only assignment, one aggregate; at
    // 100 TB this is a partition-pruning predicate when the data is
    // date-partitioned.
    "curation_temporal_split" -> ((s, d) => {
      val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
      val t2 = lit("2024-01-22 00:00:00").cast("timestamp")
      Tables.events(s, d)
        .withColumn("split",
          when(col("ts") < t1, "train")
            .when(col("ts") < t2, "embargo")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(unix_timestamp(col("ts"))).as("t_min"),
          max(unix_timestamp(col("ts"))).as("t_max"))
        .orderBy("split")
    }),

    // Repetition metrics (the Gopher repetition signals, adapted to
    // single-line docs): top/duplicate fractions over unigrams and
    // bigrams. A doc with one word has no bigrams -> NULL bigram
    // fracs on both engines (left join).
    "text_repetition" -> ((s, d) => {
      val docs = withWords(s, d)
      wordRepetition(docs).join(bigramRepetition(docs), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          frac(col("top_w"), col("n_words")).as("top_word_frac"),
          frac(col("n_words") - col("d_w"), col("n_words")).as("dup_word_frac"),
          frac(col("top_b"), col("n_bigrams")).as("top_bigram_frac"),
          frac(col("n_bigrams") - col("d_b"), col("n_bigrams")).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // Gopher-style quality gate: each doc gets 0/1 flags for word
    // count, mean word length, top-word fraction, duplicate-word
    // fraction and language-marker presence, and keep = AND of all
    // five. Thresholds sit at this corpus's quartiles so both keep
    // outcomes are exercised. All comparisons run on values both
    // engines compute bit-identically (integer counts, one divide).
    "text_gopher_filter" -> ((s, d) => {
      val docs = withWords(s, d)
      val rep = wordRepetition(docs)
      val perDoc = docs.select(col("doc_id"),
        (aggregate(col("ws"), lit(0L), (a, w) => a + length(w)).cast("double")
          / size(col("ws")).cast("double")).as("mean_word_len"),
        (markerCount(col("lws"), EnMarkers) + markerCount(col("lws"), DeMarkers)
          + markerCount(col("lws"), EsMarkers)).as("marker_hits"))
      rep.join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_words"),
          col("n_words").between(20, 90).cast("long").as("ok_words"),
          (col("mean_word_len") > 4.0 && col("mean_word_len") < 5.0)
            .cast("long").as("ok_mean_len"),
          (frac(col("top_w"), col("n_words")) <= 0.12)
            .cast("long").as("ok_top_word"),
          (frac(col("n_words") - col("d_w"), col("n_words")) <= 0.55)
            .cast("long").as("ok_dup_word"),
          (col("marker_hits") >= 1).cast("long").as("ok_lang"))
        .withColumn("keep", least(col("ok_words"), col("ok_mean_len"),
          col("ok_top_word"), col("ok_dup_word"), col("ok_lang")))
        .orderBy("doc_id")
    }),

    // Regex scrub (PII-redaction shape): replace a token family,
    // report hit counts and the digest of the scrubbed text. Map-only.
    "text_scrub" -> ((s, d) => {
      val clean = regexp_replace(col("text"), ScrubPattern, "<X>")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(ScrubPattern), lit(0)))
          .cast("long").as("n_hits"),
        length(clean).cast("long").as("n_chars_clean"),
        md5(clean.cast("binary")).as("digest"))
        .orderBy("doc_id")
    }),

    // The curation funnel end-to-end: split assignment (the
    // text_dataset_split hash rule), the per-row quality gate, and
    // token accounting rolled into one pass — the report a dataset
    // build publishes. Entirely map-side until the final small
    // aggregation; at 100 TB this is one linear scan.
    // Pipeline-ORDER ablation — filter→dedup vs dedup→filter over the
    // same normalized-dedup + Gopher-quality building blocks: the two
    // orders disagree exactly when a normalized-dup group's min-id
    // member fails quality while a sibling (same text modulo case/
    // whitespace, hence different tokenization) passes —
    // filter-then-dedup keeps the best PASSING member, dedup-then-
    // filter loses the whole group. Real pipelines debate this order;
    // this query prices it in docs and tokens. Scale shape: one doc
    // scan projecting (digest, keep, nw), then digest-only shuffles
    // (the dedup-family discipline) and two global roll-ups; min_by
    // on unique doc_id is deterministic on both engines.
    "curation_order_ablation" -> ((s, d) => orderAblation(s, d)),

    "curation_funnel" -> ((s, d) => {
      val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val split = when(bucket < "c0", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
      Tables.documents(s, d)
        .withColumn("split", split)
        .withColumn("keep", rowQualityKeep(col("text")).cast("long"))
        .withColumn("nw", size(words(col("text"))).cast("long"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_raw"),
          sum("keep").as("n_kept"),
          sum(when(col("keep") === 1L, col("nw")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("split", "source")
    }),

    // Mixture-rebalance planner: per-source token shares and the
    // sampling rate that flattens the mixture to the uniform
    // per-source target — the source-weighting step of training-data
    // prep. Float work is one divide / one multiply over exact
    // integer sums, so both engines agree bit-for-bit. The totals
    // side is a 1-row broadcast; the plan is two linear aggregations.
    // Benchmark decontamination: flag training docs sharing any word
    // trigram with the held-out eval split (the split is the same
    // deterministic md5-bucket function as text_dataset_split, so the
    // eval set is a pure function of doc_id). Scale shape: the eval
    // side collapses to a DISTINCT shingle set and ships UN-HINTED —
    // AQE's adaptive broadcast converts the shingle join at runtime
    // when the aggregated eval side measures small, and degrades to a
    // plain keyed shuffle when it doesn't (the eval split is a
    // FRACTION of the corpus, so an unconditional broadcast hint
    // would ABORT past the 8 GB ceiling at 100×, the round-12 wave-2
    // routing lesson; and sizing the hint with a plan-time count was
    // itself an extra full documents pass — dropped round 13).
    // Per-doc hit counts then partial-agg on doc_id. (In production
    // the join key would be xxhash64(shingle) to shrink the shipped
    // side; kept as strings here for cross-engine parity.)
    "text_decontaminate" ->
      ((s, d) => decontaminate(s, d, hintBroadcast = false)),

    "text_mixture_plan" -> ((s, d) => {
      val bySrc = Tables.documents(s, d)
        .withColumn("nw", size(words(col("text"))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("tokens"))
      val tot = bySrc.agg(sum("tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      // same defense-in-depth nullif discipline as
      // text_mixture_temperature: zero/NULL token sums are unreachable
      // under the current tokenizer but must degrade to NULL shares,
      // never to an ANSI DIVIDE_BY_ZERO abort (both twins)
      bySrc.crossJoin(broadcast(tot))
        .withColumn("nat_frac",
          col("tokens").cast("double") /
            expr("CAST(nullif(total_tokens, 0) AS DOUBLE)"))
        .withColumn("rate", least(lit(1.0),
          expr(s"total_tokens DIV n_sources").cast("double")
            / expr("CAST(nullif(tokens, 0) AS DOUBLE)")))
        .withColumn("planned_tokens",
          floor(col("rate") * col("tokens").cast("double")).cast("long"))
        .select("source", "n_docs", "tokens", "nat_frac", "rate",
          "planned_tokens")
        .orderBy("source")
    }),

    // Temperature-scaled mixture weights (the multinomial α-sampling
    // of GPT-3 / PaLM data recipes, α = 0.5): source probability
    // ∝ (natural share)^α — upweights small sources without the
    // uniform plan's hard cap. Engine-exactness: sqrt and double
    // division are correctly-rounded IEEE ops identical in Spark and
    // DuckDB, but a SUM of doubles is order-dependent — so the
    // summed quantity is the FIXED-POINT weight floor(1e9·√share)
    // (exact integers, any order), and doubles only ever appear in
    // per-row correctly-rounded expressions over identical operands.
    // Aggregate-only: two tiny shuffles, a broadcast of a one-row
    // total — corpus text is scanned once.
    "text_mixture_temperature" -> ((s, d) => {
      val bySrc = Tables.documents(s, d)
        .withColumn("nw", size(words(col("text"))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("tokens"))
      val tot = bySrc.agg(sum("tokens").as("total_tokens"))
      // defense-in-depth denominator guards in BOTH twins (ANSI
      // throws on DOUBLE x/0 too): under the CURRENT tokenizer a
      // source with rows always has tokens >= n_docs (split("") is
      // [""]), so the zero paths are unreachable - but a tokenizer
      // change that can emit zero tokens must degrade to NULL boost,
      // not to a query abort
      val w = bySrc.crossJoin(broadcast(tot))
        .withColumn("nat_frac",
          col("tokens").cast("double") /
            expr("CAST(nullif(total_tokens, 0) AS DOUBLE)"))
        .withColumn("w_e9",
          floor(sqrt(col("nat_frac")) * 1e9).cast("long"))
      val totW = w.agg(sum("w_e9").as("tot_w"))
      w.crossJoin(broadcast(totW))
        .withColumn("temp_frac",
          col("w_e9").cast("double") /
            expr("CAST(nullif(tot_w, 0) AS DOUBLE)"))
        .withColumn("boost",
          when(col("nat_frac") === 0.0, lit(null).cast("double"))
            .otherwise(col("temp_frac") / col("nat_frac")))
        .withColumn("planned_tokens",
          floor(col("temp_frac") * col("total_tokens").cast("double"))
            .cast("long"))
        .select("source", "n_docs", "tokens", "nat_frac", "temp_frac",
          "boost", "planned_tokens")
        .orderBy("source")
    }),

    // THE training-set build, end to end in one query: exact dedup
    // (content-digest keepers) → deterministic split → quality gate →
    // per-source token accounting. Every stage is the already-proven
    // operator composed unchanged — the point is that the whole prep
    // pipeline is ONE declarative plan Catalyst can globally optimize
    // (scan once, map-side gate, single digest shuffle + final small
    // agg), not a chain of materialized intermediate tables.
    "pipeline_training_set" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = docs
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val bucket = substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      docs.join(keepers, "doc_id")
        .filter(bucket < "c0") // train split only
        .withColumn("keep", rowQualityKeep(col("text")).cast("long"))
        .filter(col("keep") === 1L)
        .withColumn("nw", size(words(col("text"))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nw").as("tokens"))
        .orderBy("source")
    }),

    // Numericalization: build the frequency-ranked vocabulary (id 1 =
    // most frequent token, ties lexicographic) and encode every doc as
    // its position-ordered id sequence — tokenize→numericalize, the
    // step between curation and tensors. The id sequence is surfaced
    // as (count, sum, digest) so the driver hash proves the exact
    // sequence without megabyte rows. Scale shape: one explode feeds
    // the vocab aggregate; ids come from a range-partitioned PARALLEL
    // sort + zipWithIndex (per-partition counts set the offsets),
    // never a global single-partition window — at 100 TB the vocab is
    // billions of distinct terms (URLs, typos) and must not funnel
    // through one task. The join back is hinted broadcast because the
    // RDD-derived vocab frame has no stats and Catalyst would default
    // to a sort-merge shuffle of the CORPUS (measured 2× slower here);
    // the hint encodes "vocab ≪ corpus" — at a vocab too big to
    // broadcast, drop the hint and the same plan degrades gracefully
    // to the shuffle join. Same ids as row_number over (tf desc,
    // term): the sort order is total because term is unique.
    "text_token_ids" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(words(lower(col("text")))).as(Seq("pos", "term")))
      val vocab = {
        import s.implicits._
        toks.groupBy("term").agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("term"))
          .select("term").as[String]
          .rdd.zipWithIndex()
          .map { case (term, i) => (term, i + 1L) }
          .toDF("term", "id")
      }
      toks.join(broadcast(vocab), Seq("term"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("id").as("ids_sum"),
          md5(concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("pos"), col("id")))),
              x => x.getField("id").cast("string"))).cast("binary"))
            .as("ids_digest"))
        .orderBy("doc_id")
    }),

    // Stratified exact-k sampling: the top-SampleK docs per source by
    // md5(doc_id) hash order — the "give me a reproducible audit
    // sample of every stratum" primitive (eval-set carving, human
    // review batches). Hash order, not row order: the pick is a pure
    // function of doc_id, so engines, re-runs and backfills agree; and
    // unlike rate-based text_mixture_sample the stratum size is EXACT.
    // Scale shape: the window sorts only within each stratum and the
    // rank filter cuts to k rows immediately — the shuffle keys on
    // source; no global ordering anywhere.
    "text_stratified_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("hkey"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("hkey"), col("doc_id"))).cast("long"))
        .filter(col("rk") <= SampleK)
        .select("source", "rk", "doc_id")
        .orderBy("source", "rk")
    }),

    // Deterministic weighted subsampling — the EXECUTION of the
    // mixture plan: each doc draws a reproducible uniform from its
    // md5(doc_id) prefix and survives iff it falls under its source's
    // rebalance rate (compared in hex-string space so both engines
    // agree exactly: threshold = floor(rate * 16^8) rendered as 8
    // lpad'ed hex digits). No RNG, no seed drift — re-runs, engines
    // and backfills select the identical doc set. Map-only + two tiny
    // broadcast joins.
    "text_mixture_sample" -> ((s, d) => {
      // Tokenize ONCE: the 3-column count projection feeds both the
      // rate derivation and the keep pass; persisted because the two
      // consumers sit in one action and the alternative is tokenizing
      // the full text twice (at 100 TB the text scan dominates — the
      // cached projection is ~24 B/doc, smaller than the rates join).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast("long").as("nw"))
        .persist()
      val bySrc = docs.groupBy("source").agg(sum("nw").as("tokens"))
      val tot = bySrc.agg(sum("tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      val rates = bySrc.crossJoin(broadcast(tot))
        // nullif defense: see text_mixture_plan
        .withColumn("rate", least(lit(1.0),
          expr("total_tokens DIV n_sources").cast("double")
            / expr("CAST(nullif(tokens, 0) AS DOUBLE)")))
        .select("source", "rate")
      val thr = lpad(lower(hex(floor(col("rate") * 4294967296.0)
        .cast("long"))), 8, "0")
      val u8 = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8)
      docs
        .join(broadcast(rates), "source")
        .withColumn("keep",
          (col("rate") >= 1.0 || u8 <= thr).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_sampled"),
          sum(when(col("keep") === 1L, col("nw")).otherwise(0L))
            .as("tokens_sampled"),
          min("rate").as("rate"))
        .orderBy("source")
    }),

    // Token-budget sequence packing: concatenate the corpus in
    // (source, doc_id) order and chunk into SeqLen-token training
    // sequences; each doc reports its global token offset and the
    // sequence ids it lands in. Offsets are the two-level bucketed
    // prefix sum (the sample_pps_systematic decomposition): a window
    // cumsum WITHIN each (source, ⌈√N⌉-wide doc-id bucket) plus a
    // broadcast per-bucket base table — a cumsum partitioned only by
    // SOURCE would put a whole shard (a corpus fraction) in ONE window
    // task at 100 TB; bucketing keeps both axes at ~√N (the round-12
    // wave-6 re-plan). No global row ordering ever materializes (the
    // oracle's single global window is the semantic twin, not the
    // physical plan); bk is monotone in doc_id, so per-bucket
    // concatenation in (source, bk, doc_id) order IS the (source,
    // doc_id) order the contract names.
    "text_pack_sequences" -> ((s, d) => {
      // Same single-tokenization discipline as text_mixture_sample: the
      // cumsum pass and the per-bucket bases both consume this
      // projection, and the 1-row sizing pre-pass populates the cache.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"))
        .persist()
      val dim = docs.agg(count(lit(1)).as("n"), max("doc_id").as("mx"))
        .head()
      val width = if (dim.isNullAt(1)) 1L
        else SampleQueries.ppsBucketWidth(dim.getLong(0), dim.getLong(1))
      val bucketed = docs.withColumn("bk", expr(s"doc_id div $width"))
      val local = bucketed.withColumn("local_off",
        coalesce(sum("n_tokens").over(Window.partitionBy("source", "bk")
          .orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      val bases = bucketed.groupBy("source", "bk")
        .agg(sum("n_tokens").as("tot"))
        .withColumn("base", coalesce(sum("tot").over(
          Window.orderBy("source", "bk")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "bk", "base")
      local.join(broadcast(bases), Seq("source", "bk"))
        .withColumn("start_off", col("base") + col("local_off"))
        .withColumn("first_seq", expr(s"start_off DIV $SeqLen"))
        .withColumn("last_seq", expr(s"(start_off + n_tokens - 1) DIV $SeqLen"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("start_off"),
          col("first_seq"), col("last_seq"),
          (col("last_seq") - col("first_seq") + 1).as("n_seqs"))
        .orderBy("doc_id")
    }))

  /** Body of text_decontaminate with the eval-side ship strategy as
    * a parameter (`private[graft]` so the spec can assert both ship
    * strategies agree — the contaminationOverlap pattern). The
    * production path passes `hintBroadcast = false`: no plan-time
    * sizing job runs (an earlier revision counted eval shingles
    * eagerly at DataFrame-construction time — an extra full pass
    * over documents at scale just to pick a hint), and no
    * unconditional broadcast hint can abort past the 8 GB ceiling;
    * AQE's adaptive broadcast converts the shingle join at runtime
    * from the aggregated eval side's ACTUAL size. */
  private[graft] def decontaminate(s: SparkSession, d: String,
      hintBroadcast: Boolean): DataFrame = {
    val bucket = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val sh = Tables.documents(s, d)
      .withColumn("is_eval", bucket >= "e6")
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("is_eval"),
        shinglesNative(col("ws"), 3).as("sh"))
    val evalGrams = sh.filter(col("is_eval"))
      .select(explode(col("sh")).as("g")).distinct()
    val evalSide =
      if (hintBroadcast) broadcast(evalGrams) else evalGrams
    sh.filter(!col("is_eval"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("g"))
      .join(evalSide, Seq("g"))
      .groupBy("doc_id")
      .agg(max(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_shingles").cast("double"))
      .select("doc_id", "n_shingles", "n_hits", "contamination")
      .orderBy("doc_id")
  }

  /** Pipeline-order ablation query (Spark side): see the entry in
    * [[queries]] registered via [[orderAblation]]. */
  private[llm] def orderAblation(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val base = Tables.documents(s, d).select(col("doc_id"),
      md5(norm.cast("binary")).as("digest"),
      rowQualityKeep(col("text")).cast("long").as("keep"),
      size(words(col("text"))).cast("long").as("nw"))
    def census(surv: DataFrame, ordering: String) = surv
      .agg(count(lit(1)).as("n_final"),
        coalesce(sum("nw"), lit(0L)).as("tokens_final"))
      .select(lit(ordering).as("ordering"), col("n_final"),
        col("tokens_final"))
    val a = census(base.filter(col("keep") === 1L).groupBy("digest")
      .agg(min_by(col("nw"), col("doc_id")).as("nw")), "filter_then_dedup")
    val b = census(base.groupBy("digest")
      .agg(min_by(col("keep"), col("doc_id")).as("keep"),
        min_by(col("nw"), col("doc_id")).as("nw"))
      .filter(col("keep") === 1L), "dedup_then_filter")
    a.unionByName(b).orderBy("ordering")
  }

  private val markerSetSql =
    (EnMarkers ++ DeMarkers ++ EsMarkers).distinct
      .map(m => s"'$m'").mkString("[", ", ", "]")

  private val repetitionCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wc AS (SELECT doc_id, g, count(*) AS c
      |       FROM (SELECT doc_id, unnest(ws) AS g FROM w) GROUP BY doc_id, g),
      |wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |         max(c) AS top_w, count(*) AS d_w FROM wc GROUP BY doc_id)""".stripMargin

  /** Shared CTE chain ending in `f` = per-doc gopher flags. */
  private def gopherFlagsCtes = s"""$repetitionCte,
    |m AS (SELECT doc_id,
    |  CAST(list_sum(list_transform(ws, x -> CAST(length(x) AS BIGINT)))
    |    AS DOUBLE) / len(ws) AS mean_word_len,
    |  len(list_filter(string_split(lower(text), ' '),
    |    x -> list_contains($markerSetSql, x))) AS marker_hits
    |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
    |        FROM documents)),
    |f AS (
    |  SELECT wagg.doc_id, n_words,
    |    CAST(n_words BETWEEN 20 AND 90 AS BIGINT) AS ok_words,
    |    CAST(mean_word_len > 4.0 AND mean_word_len < 5.0 AS BIGINT)
    |      AS ok_mean_len,
    |    CAST(CAST(top_w AS DOUBLE) / n_words <= 0.12 AS BIGINT)
    |      AS ok_top_word,
    |    CAST(CAST(n_words - d_w AS DOUBLE) / n_words <= 0.55 AS BIGINT)
    |      AS ok_dup_word,
    |    CAST(marker_hits >= 1 AS BIGINT) AS ok_lang
    |  FROM wagg JOIN m ON wagg.doc_id = m.doc_id)""".stripMargin

  def oracles: Map[String, String] = Map(
    // The naive quadratic dominance scan — deliberately NOT the grid
    // algorithm, so agreement proves the prune lossless.
    "curation_pareto_skyline" ->
      s"""WITH $repetitionCte,
         |m AS (SELECT doc_id, n_words, CAST(d_w AS BIGINT) AS n_vocab,
         |             CAST(top_w AS BIGINT) AS max_tf
         |      FROM wagg)
         |SELECT a.doc_id, a.n_words, a.n_vocab, a.max_tf
         |FROM m a WHERE NOT EXISTS (
         |  SELECT 1 FROM m b
         |  WHERE b.n_words >= a.n_words AND b.n_vocab >= a.n_vocab
         |    AND b.max_tf <= a.max_tf
         |    AND (b.n_words > a.n_words OR b.n_vocab > a.n_vocab
         |         OR b.max_tf < a.max_tf))
         |ORDER BY a.doc_id""".stripMargin,

    "text_filter_sweep" -> {
      val vals = SweepThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH g AS (SELECT * FROM (VALUES $vals) t(min_chars)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
         |          CAST(sum(n_chars) AS BIGINT) AS c_all
         |        FROM documents),
         |k AS (
         |  SELECT CAST(g.min_chars AS BIGINT) AS min_chars,
         |    CAST(sum(CASE WHEN d.n_chars >= g.min_chars
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN d.n_chars >= g.min_chars
         |             THEN d.n_chars ELSE 0 END) AS BIGINT) AS n_chars_kept
         |  FROM documents d CROSS JOIN g GROUP BY g.min_chars)
         |SELECT min_chars, n_docs, coalesce(n_chars_kept, 0) AS n_chars_kept,
         |  CAST(CASE WHEN n_all > 0
         |       THEN n_docs * 1000000 // n_all ELSE 0 END
         |    AS BIGINT) AS docs_ppm,
         |  CAST(CASE WHEN coalesce(c_all, 0) > 0
         |       THEN n_chars_kept * 1000000 // c_all ELSE 0 END
         |    AS BIGINT) AS chars_ppm
         |FROM k, tot ORDER BY min_chars""".stripMargin
    },

    "curation_temporal_split" ->
      """SELECT
        |  CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |       WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'embargo'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(CAST(floor(epoch(ts)) AS BIGINT)) AS t_min,
        |  max(CAST(floor(epoch(ts)) AS BIGINT)) AS t_max
        |FROM events GROUP BY 1 ORDER BY split""".stripMargin,

    "text_repetition" ->
      s"""WITH $repetitionCte,
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |         i -> ws[i] || ' ' || ws[i+1])) AS g
         |       FROM w WHERE len(ws) >= 2),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         |bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |         max(c) AS top_b, count(*) AS d_b FROM bc GROUP BY doc_id)
         |SELECT wagg.doc_id, n_words,
         |  CAST(top_w AS DOUBLE) / n_words AS top_word_frac,
         |  CAST(n_words - d_w AS DOUBLE) / n_words AS dup_word_frac,
         |  CAST(top_b AS DOUBLE) / n_bigrams AS top_bigram_frac,
         |  CAST(n_bigrams - d_b AS DOUBLE) / n_bigrams AS dup_bigram_frac
         |FROM wagg LEFT JOIN bagg ON wagg.doc_id = bagg.doc_id
         |ORDER BY wagg.doc_id""".stripMargin,

    "text_gopher_filter" ->
      s"""WITH $gopherFlagsCtes
         |SELECT doc_id, n_words, ok_words, ok_mean_len, ok_top_word,
         |  ok_dup_word, ok_lang,
         |  least(ok_words, ok_mean_len, ok_top_word, ok_dup_word, ok_lang)
         |    AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "curation_quality_dup_matrix" ->
      s"""WITH $gopherFlagsCtes,
         |ql AS (
         |  SELECT doc_id,
         |    least(ok_words, ok_mean_len, ok_top_word, ok_dup_word,
         |      ok_lang) AS q
         |  FROM f),
         |canon AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text))
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ql.q) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_canonical,
         |  CAST(sum(CASE WHEN ql.q = 1 AND c.doc_id IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_train_ready
         |FROM documents d
         |-- LEFT join (same rationale as curation_funnel): n_docs must
         |-- count every document; a NULL-text doc has q NULL, which the
         |-- sums skip in both engines
         |LEFT JOIN ql ON ql.doc_id = d.doc_id
         |LEFT JOIN canon c ON c.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "text_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(key|hash|scan)\b'))
        |    AS BIGINT) AS n_hits,
        |  CAST(length(regexp_replace(text, '\b(key|hash|scan)\b', '<X>', 'g'))
        |    AS BIGINT) AS n_chars_clean,
        |  md5(regexp_replace(text, '\b(key|hash|scan)\b', '<X>', 'g'))
        |    AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "curation_order_ablation" ->
      s"""WITH $gopherFlagsCtes,
         |k AS (SELECT doc_id, n_words,
         |        least(ok_words, ok_mean_len, ok_top_word, ok_dup_word,
         |              ok_lang) AS keep
         |      FROM f),
         |base AS (
         |  SELECT d.doc_id,
         |    md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
         |      AS digest,
         |    k.keep, k.n_words AS nw
         |  FROM documents d JOIN k ON d.doc_id = k.doc_id),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_final,
         |    CAST(coalesce(sum(nw), 0) AS BIGINT) AS tokens_final
         |  FROM (SELECT digest, min_by(nw, doc_id) AS nw
         |        FROM base WHERE keep = 1 GROUP BY digest)),
         |b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_final,
         |    CAST(coalesce(sum(nw), 0) AS BIGINT) AS tokens_final
         |  FROM (SELECT digest, min_by(keep, doc_id) AS keep,
         |          min_by(nw, doc_id) AS nw
         |        FROM base GROUP BY digest)
         |  WHERE keep = 1)
         |SELECT 'filter_then_dedup' AS ordering, n_final, tokens_final
         |FROM a
         |UNION ALL
         |SELECT 'dedup_then_filter', n_final, tokens_final FROM b
         |ORDER BY ordering""".stripMargin,

    "curation_funnel" ->
      s"""WITH $gopherFlagsCtes,
         |k AS (SELECT doc_id, n_words,
         |        least(ok_words, ok_mean_len, ok_top_word, ok_dup_word,
         |              ok_lang) AS keep
         |      FROM f),
         |d2 AS (SELECT doc_id, source,
         |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
         |       THEN 'train'
         |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
         |       THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT d2.split, d2.source, count(*) AS n_raw,
         |  CAST(sum(k.keep) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN k.keep = 1 THEN k.n_words ELSE 0 END)
         |    AS BIGINT) AS tokens_kept
         |-- LEFT join: the Spark twin computes keep per ROW, so a
         |-- NULL-text doc stays in n_raw with keep NULL (the gopher
         |-- CTE chain drops it from k entirely — an inner join would
         |-- silently shrink n_raw on NULL-text corpora)
         |FROM d2 LEFT JOIN k ON d2.doc_id = k.doc_id
         |GROUP BY d2.split, d2.source
         |ORDER BY d2.split, d2.source""".stripMargin,

    "text_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_eval,
         |    ${DedupQueries.shingleSql} AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE len(w) >= 3),
         |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE is_eval),
         |tr AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles,
         |         unnest(s) AS g
         |       FROM sh WHERE NOT is_eval)
         |SELECT tr.doc_id, max(tr.n_shingles) AS n_shingles,
         |  count(*) AS n_hits,
         |  CAST(count(*) AS DOUBLE) / max(tr.n_shingles) AS contamination
         |FROM tr JOIN ev ON tr.g = ev.g
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "text_mixture_plan" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |             count(*) AS n_sources FROM s)
        |SELECT source, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / nullif(total_tokens, 0) AS nat_frac,
        |  least(1.0, CAST(total_tokens // n_sources AS DOUBLE)
        |    / nullif(tokens, 0)) AS rate,
        |  CAST(floor(least(1.0,
        |      CAST(total_tokens // n_sources AS DOUBLE)
        |        / nullif(tokens, 0)) * tokens)
        |    AS BIGINT) AS planned_tokens
        |FROM s CROSS JOIN t ORDER BY source""".stripMargin,

    "text_mixture_temperature" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM s),
        |w AS (
        |  SELECT source, n_docs, tokens,
        |    CAST(tokens AS DOUBLE) / nullif(total_tokens, 0) AS nat_frac,
        |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)
        |      / nullif(total_tokens, 0)) * 1e9) AS BIGINT) AS w_e9,
        |    total_tokens
        |  FROM s CROSS JOIN t),
        |tw AS (SELECT CAST(sum(w_e9) AS BIGINT) AS tot_w FROM w)
        |SELECT source, n_docs, tokens, nat_frac,
        |  CAST(w_e9 AS DOUBLE) / nullif(tot_w, 0) AS temp_frac,
        |  CASE WHEN nat_frac = 0 THEN NULL
        |  ELSE (CAST(w_e9 AS DOUBLE) / nullif(tot_w, 0)) / nat_frac
        |  END AS boost,
        |  CAST(floor((CAST(w_e9 AS DOUBLE) / nullif(tot_w, 0)) *
        |    CAST(total_tokens AS DOUBLE)) AS BIGINT) AS planned_tokens
        |FROM w CROSS JOIN tw ORDER BY source""".stripMargin,

    "pipeline_training_set" ->
      s"""WITH $gopherFlagsCtes,
         |k AS (SELECT doc_id, n_words,
         |        least(ok_words, ok_mean_len, ok_top_word, ok_dup_word,
         |              ok_lang) AS keep
         |      FROM f),
         |keepers AS (SELECT min(doc_id) AS doc_id
         |            FROM documents GROUP BY md5(text)),
         |tr AS (
         |  SELECT d.doc_id, d.source, k.n_words
         |  FROM documents d JOIN k ON d.doc_id = k.doc_id
         |  WHERE d.doc_id IN (SELECT doc_id FROM keepers)
         |    AND substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'c0'
         |    AND k.keep = 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS tokens
         |FROM tr GROUP BY source ORDER BY source""".stripMargin,

    "text_token_ids" ->
      """WITH flat AS (
        |  SELECT doc_id, unnest(ws) AS term,
        |    unnest(range(1, len(ws) + 1)) AS pos
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |        FROM documents)),
        |vocab AS (
        |  SELECT term,
        |    row_number() OVER (ORDER BY count(*) DESC, term) AS id
        |  FROM flat GROUP BY term)
        |SELECT f.doc_id, count(*) AS n_tokens,
        |  CAST(sum(v.id) AS BIGINT) AS ids_sum,
        |  md5(string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY f.pos))
        |    AS ids_digest
        |FROM flat f JOIN vocab v USING (term)
        |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,

    "text_stratified_sample" ->
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |SELECT source, rk, doc_id FROM r WHERE rk <= $SampleK
         |ORDER BY source, rk""".stripMargin,

    "text_mixture_sample" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |             count(*) AS n_sources FROM s),
        |r AS (SELECT source,
        |        least(1.0, CAST(total_tokens // n_sources AS DOUBLE)
        |          / nullif(tokens, 0)) AS rate
        |      FROM s CROSS JOIN t),
        |d2 AS (
        |  SELECT d.source, r.rate,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nw,
        |    CASE WHEN r.rate >= 1.0
        |           OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <=
        |              lpad(lower(hex(CAST(floor(r.rate * 4294967296.0)
        |                AS BIGINT))), 8, '0')
        |         THEN 1 ELSE 0 END AS keep
        |  FROM documents d JOIN r USING (source))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(keep) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN keep = 1 THEN nw ELSE 0 END) AS BIGINT)
        |    AS tokens_sampled,
        |  min(rate) AS rate
        |FROM d2 GROUP BY source ORDER BY source""".stripMargin,

    "text_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY source, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, source, n_tokens, start_off,
         |  start_off // $SeqLen AS first_seq,
         |  (start_off + n_tokens - 1) // $SeqLen AS last_seq,
         |  (start_off + n_tokens - 1) // $SeqLen - start_off // $SeqLen + 1
         |    AS n_seqs
         |FROM o ORDER BY doc_id""".stripMargin)
}
