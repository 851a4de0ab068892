package graft.llm

import graft.{QuerySuite, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import TextOps._

/** Byte-pair-encoding subword tokenization (Sennrich et al., ACL'16 —
  * public algorithm): learn a merge table from corpus statistics, then
  * numericalize text with it — the step that completes
  * tokenize→numericalize for a training-data pipeline (whitespace ids
  * live in `text_token_ids`; this is the learned-subword upgrade).
  *
  * Scale design (the reason BPE trains at 100 TB at all): training
  * runs over the WORD-TYPE table — (word, freq) distinct words with
  * counts — which is vocab-sized (Zipf), never the corpus. Each merge
  * round is one pair-explode + aggregate over that small table; the
  * driver holds only the single argmax pair per round (1-row collect,
  * the same mergeable-summary consumption pattern as the CMS sketch)
  * plus the final merge list, which is broadcast back for encoding.
  * Encoding is embarrassingly parallel: map-only over docs with the
  * merge table applied in learned order per word.
  */
object BpeQueries extends QuerySuite {

  /** Merges learned at test scale (a production vocab uses 30-60k). */
  val MergeBudget = 24

  /** End-of-word marker symbol (distinguishes "est</w>" from "est"). */
  val Eow = "</w>"

  case class WordSeq(word: String, freq: Long, syms: Seq[String])
  case class Merge(rank: Int, left: String, right: String, pair_n: Long)

  /** One greedy left-to-right pass replacing adjacent (a, b) with a+b —
    * the standard BPE merge application. Pure, shared by training and
    * encoding (and the spec's hand-check). */
  private[llm] def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Word → initial symbol sequence: CODE POINTS + end-of-word marker.
    * Code points, not UTF-16 chars: the oracle's `wrd[i:i]` slices
    * VARCHARs by code point, so a `word.map(_.toString)` spelling
    * would split a non-BMP character into two lone surrogates (each
    * of which UTF-8-encodes as '?') and fork the twins — the same
    * collation care [[utf8Lt]] takes for the tie-break. */
  private[llm] def initSyms(word: String): Seq[String] =
    word.codePoints().toArray.toSeq
      .map(cp => new String(Character.toChars(cp))) :+ Eow

  /** Apply a learned merge list in rank order to one word. */
  private[llm] def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(initSyms(word)) { case (syms, (a, b)) => mergeOnce(syms, a, b) }

  /** UTF-8 byte-order comparison — the collation Spark's binary string
    * ordering uses. The local trainer must break count ties with the
    * SAME order as the distributed orderBy, or the two "bit-identical"
    * paths diverge on non-BMP text (Java's UTF-16 compareTo sorts
    * supplementary characters before high-BMP ones; UTF-8 bytes sort
    * them after). */
  private[llm] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8")
    val b = y.getBytes("UTF-8")
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Train the merge table over a (word, freq) type table. Each round
    * is ONE job: re-derive every word's current symbol sequence from
    * the persisted base by applying the merges-so-far (constant
    * lineage depth — no per-round checkpoint; re-applying ≤budget tiny
    * merges per word is cheaper than a materialization job), explode
    * adjacent pairs weighted by word freq, aggregate, and take the
    * deterministic argmax (count desc, pair asc) with a single-pass
    * fold — no sort shuffle, the driver holds one pair. Stops early
    * when no pair repeats. */
  private[llm] def trainMerges(types: Dataset[WordSeq], budget: Int): Seq[Merge] = {
    import types.sparkSession.implicits._
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    val base = types.persist()
    base.count()
    var round = 0
    var done = false
    while (round < budget && !done) {
      val applied = merges.toSeq.map(m => (m.left, m.right))
      // argmax plans as TakeOrderedAndProject over the codegen'd hash
      // aggregate: per-partition top-1 + driver merge, one job, no
      // sort shuffle
      val top = base.flatMap { w =>
          val syms = applied.foldLeft(w.syms) {
            case (s, (a, b)) => mergeOnce(s, a, b) }
          syms.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), w.freq)).toSeq
        }
        .toDF("a", "b", "n")
        .groupBy("a", "b").agg(sum("n").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .head(1)
      val best = top.headOption.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      best match {
        case Some((a, b, n)) if n >= 2 =>
          merges += Merge(round + 1, a, b, n)
          round += 1
        case _ => done = true
      }
    }
    base.unpersist()
    merges.toSeq
  }

  /** Local twin of [[trainMerges]] over a collected type table — same
    * algorithm, same argmax tie-break, spec-pinned identical output.
    * Used when the WORD-TYPE table fits under [[LocalTypeCap]]: the
    * type table is a Zipf-bounded AGGREGATE (distinct words + counts,
    * ~10^7 rows even for a web-scale corpus), so after the distributed
    * counting pass the merge loop is vocab-scale work where 2·budget
    * Spark jobs are pure scheduling overhead — the split every
    * production BPE trainer uses. */
  private[llm] def trainMergesLocal(types: Seq[(String, Long)],
      budget: Int): Seq[Merge] = {
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var seqs = types.map { case (w, f) => (initSyms(w), f) }
    var round = 0
    var done = false
    while (round < budget && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val best = counts.reduceOption[((String, String), Long)] {
        case (x, y) =>
          if (y._2 > x._2 || (y._2 == x._2 &&
            (utf8Lt(y._1._1, x._1._1) ||
              (y._1._1 == x._1._1 && utf8Lt(y._1._2, x._1._2))))) y else x
      }
      best match {
        case Some(((a, b), n)) if n >= 2 =>
          merges += Merge(round + 1, a, b, n)
          seqs = seqs.map { case (syms, f) => (mergeOnce(syms, a, b), f) }
          round += 1
        case _ => done = true
      }
    }
    merges.toSeq
  }
  /** Type tables up to this many rows train locally (a (word, freq)
    * row is tens of bytes — 4M rows ≈ low hundreds of MB, inside any
    * driver budget); larger vocabularies fall back to the distributed
    * round loop. */
  val LocalTypeCap = 4 * 1000 * 1000

  /** The merge table of the corpus; each query trains for itself,
    * since training is part of its cost. */
  private def trainedMerges(s: SparkSession, d: String): Seq[Merge] = {
    import s.implicits._
    // distributed corpus-scale counting pass either way; the merge
    // loop runs locally iff the TYPE table (an aggregate) is small.
    // Count first — no sort (order is irrelevant to the local
    // trainer), and the fallback path never collects rows it would
    // throw away.
    val counts = Tables.documents(s, d)
      .select(explode(words(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
    if (counts.count() <= LocalTypeCap)
      trainMergesLocal(counts.collect().toSeq, MergeBudget)
    else
      // reuse the type table just counted — re-calling wordTypes
      // here would re-run the corpus-scale explode+groupBy exactly
      // on the path taken when the corpus is huge
      trainMerges(counts.map { case (w, f) => WordSeq(w, f, initSyms(w)) },
        MergeBudget)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table: rank, pair, merged symbol, weighted
    // pair count at learn time. Deterministic (argmax tie-break is
    // total), so rows-only driver check + BpeSpec pin it.
    "text_bpe_vocab" -> ((s, d) => {
      import s.implicits._
      trainedMerges(s, d)
        .toDF()
        .select(col("rank").cast("long").as("merge_rank"),
          col("left"), col("right"),
          concat(col("left"), col("right")).as("merged"),
          col("pair_n"))
        .orderBy("merge_rank")
    }),

    // Subword numericalization with the learned merges: per doc, the
    // BPE token count, the whitespace word count it compresses, and a
    // digest of the exact token sequence (same surfaced-digest contract
    // as text_token_ids — the hash proves the sequence without
    // megabyte rows). Encoding is map-only: the merge list rides along
    // as a broadcast-sized Scala value.
    "text_bpe_encode" -> ((s, d) => {
      import s.implicits._
      val merges = trainedMerges(s, d).map(m => (m.left, m.right))
      Tables.documents(s, d)
        // NULL-text docs drop in BOTH twins: the oracle's unnest of a
        // NULL word list emits no rows for the doc, and the typed
        // mapPartitions below would NPE on text.toLowerCase (the
        // NULL-content corpus sweep caught this)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { iter =>
          // per-partition word→tokens memo: tokens are a pure function
          // of the word, and corpora are Zipf — the cache is bounded by
          // the partition's distinct words, so each TYPE pays the merge
          // chain once instead of every occurrence
          val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
          iter.map { case (id, text) =>
            // Locale.ROOT: Spark's lower() is locale-independent; the
            // JVM-default-locale toLowerCase would tokenize differently
            // on e.g. a Turkish-locale driver (I -> dotless ı)
            val ws = text.toLowerCase(java.util.Locale.ROOT)
              .split(" ", -1).toSeq
            val toks = ws.flatMap(w =>
              memo.getOrElseUpdate(w, encodeWord(w, merges)))
            val digest = java.security.MessageDigest.getInstance("MD5")
              .digest(toks.mkString(" ").getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (id, ws.length.toLong, toks.length.toLong, digest)
          }
        }
        .toDF("doc_id", "n_words", "n_tokens", "tokens_digest")
        .orderBy("doc_id")
    }))

  // ---- Unrolled-CTE DuckDB replay of the FULL training ------------
  // Each of the MergeBudget rounds is a (pair-count, argmax, rewrite)
  // CTE triple generated by a Scala loop — the k-means unrolled-round
  // pattern, extended with a string-fold replay of the greedy
  // mergeOnce pass: a word's symbol sequence rides as a
  // \x01-separated string; the fold emits symbols left to right and,
  // when the last un-merged emit equals `a` and the next symbol is
  // `b`, rewrites the tail to the merged symbol tagged with a \x02
  // marker (so a just-merged token is ineligible as a LEFT partner,
  // exactly mergeOnce's skip-ahead). The separators are control chars
  // that cannot occur in the printable-ASCII fixture. Every CTE is
  // MATERIALIZED — each round references its predecessor twice, and
  // inlined CTEs would expand 2^24 scans. Tie-break (count DESC, a,
  // b) matches the trainer because DuckDB compares VARCHARs by UTF-8
  // bytes, the same collation utf8Lt pins for the local path.

  private val Sep = "e'\\x01'"
  private val Mrk = "e'\\x02'"

  private def symsOf(sq: String): String =
    s"list_filter(string_split($sq, $Sep), x -> x <> '')"

  private def foldStepSql: String = {
    val last = "regexp_extract(acc, e'\\x01([^\\x01]*)\\x01$', 1)"
    s"CASE WHEN acc = '' THEN $Sep || t || $Sep " +
      s"WHEN $last = bst.a AND t = bst.b " +
      s"THEN left(acc, length(acc) - length($last) - 1) || bst.a || bst.b || $Mrk || $Sep " +
      s"ELSE acc || t || $Sep END"
  }

  private def roundCtes(r: Int): String =
    s"""pr$r AS MATERIALIZED (
       |  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS n
       |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
       |        FROM (SELECT freq, ${symsOf("sq")} AS syms FROM seq${r - 1}))
       |  GROUP BY syms[i], syms[i+1]),
       |best$r AS MATERIALIZED (SELECT a, b, n FROM pr$r ORDER BY n DESC, a, b LIMIT 1),
       |seq$r AS MATERIALIZED (
       |  SELECT wrd, freq,
       |    CASE WHEN bst.n >= 2 THEN
       |      replace(list_reduce(list_concat([''], ${symsOf("sq")}),
       |        (acc, t) -> $foldStepSql), $Mrk, '')
       |    ELSE sq END AS sq
       |  FROM seq${r - 1} LEFT JOIN best$r bst ON TRUE)""".stripMargin

  private def baseCtes: String =
    s"""w0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |       FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT wrd, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(ws) AS wrd FROM w0) GROUP BY wrd),
       |seq0 AS (SELECT wrd, freq,
       |    $Sep || array_to_string(list_append(
       |      list_transform(range(1, length(wrd)+1), i -> wrd[i:i]), '$Eow'),
       |      $Sep) || $Sep AS sq
       |  FROM vocab)""".stripMargin

  def oracles: Map[String, String] = Map(
    "text_bpe_vocab" -> {
      val rounds = (1 to MergeBudget).map(roundCtes).mkString(",\n")
      val sel = (1 to MergeBudget).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS "left", b AS "right", a || b AS merged, n AS pair_n FROM best$r WHERE n >= 2""")
        .mkString("\nUNION ALL ")
      s"WITH $baseCtes,\n$rounds\nSELECT * FROM ($sel) ORDER BY merge_rank"
    },

    "text_bpe_encode" -> {
      val rounds = (1 to MergeBudget).map(roundCtes).mkString(",\n")
      s"""WITH $baseCtes,
         |$rounds,
         |wt AS (SELECT wrd, trim(replace(sq, $Sep, ' ')) AS toks_str,
         |         len(${symsOf("sq")}) AS n_toks
         |       FROM seq$MergeBudget),
         |dw AS (SELECT doc_id, unnest(ws) AS wrd,
         |         unnest(range(1, len(ws)+1)) AS pos
         |       FROM w0)
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wt.n_toks) AS BIGINT) AS n_tokens,
         |  md5(string_agg(wt.toks_str, ' ' ORDER BY dw.pos)) AS tokens_digest
         |FROM dw JOIN wt ON dw.wrd = wt.wrd
         |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
    })
}
