package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Pins the curation operators' semantics on hand-computable fixtures,
  * plus invariants of the packing and ANN-recall pipelines on the
  * sf0.001 testdata.
  */
class CurationSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def byDoc(name: String): Map[Long, Row] =
    CurationQueries.queries(name)(spark, sf).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r).toMap

  test("text_repetition: fractions match hand counts on a real doc") {
    import spark.implicits._
    val doc0 = graft.Tables.documents(spark, sf)
      .filter($"doc_id" === 0L).select("text").head.getString(0)
    val ws = doc0.split(" ", -1).toSeq
    val bigrams = ws.sliding(2).map(_.mkString(" ")).toSeq
    val r = byDoc("text_repetition")(0L)
    assert(r.getLong(r.fieldIndex("n_words")) === ws.size)
    assert(r.getDouble(r.fieldIndex("top_word_frac")) ===
      ws.groupBy(identity).values.map(_.size).max.toDouble / ws.size)
    assert(r.getDouble(r.fieldIndex("dup_word_frac")) ===
      (ws.size - ws.distinct.size).toDouble / ws.size)
    assert(r.getDouble(r.fieldIndex("top_bigram_frac")) ===
      bigrams.groupBy(identity).values.map(_.size).max.toDouble / bigrams.size)
  }

  test("text_gopher_filter: keep is the conjunction of the five flags") {
    val rows = CurationQueries.queries("text_gopher_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    val flags = Seq("ok_words", "ok_mean_len", "ok_top_word",
      "ok_dup_word", "ok_lang")
    rows.foreach { r =>
      val vals = flags.map(f => r.getLong(r.fieldIndex(f)))
      assert(vals.forall(v => v == 0L || v == 1L))
      assert(r.getLong(r.fieldIndex("keep")) === vals.min)
    }
    // thresholds must actually split this corpus, else the gate is vacuous
    val kept = rows.count(_.getLong(rows.head.fieldIndex("keep")) == 1L)
    assert(kept > 0 && kept < rows.length)
  }

  test("curation_order_ablation: orders diverge exactly on a dup group straddling the quality gate") {
    import spark.implicits._
    // A normalized-dup pair differing only in whitespace: the min-id
    // member balloons past the 90-word Gopher cap through empty
    // tokens (70 consecutive spaces -> 69 "" words), its sibling
    // passes. filter->dedup keeps the passing sibling; dedup->filter
    // picks the min-id member first and loses the whole group.
    val five1 = ('a' to 'm').map(c => s"${c}abcd")
    val four1 = ('a' to 'k').map(c => s"${c}xyz")
    val clean = ("the" +: (five1 ++ four1)).mkString(" ")
    assert(clean.split(" ", -1).length == 25)
    val spaced = clean.replaceFirst(" ", " " * 71)
    val five2 = ('n' to 'z').map(c => s"${c}abcd")
    val four2 = ('l' to 'v').map(c => s"${c}xyz")
    val other = ("the" +: (five2 ++ four2)).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_ablate").toString
    Seq((1L, spaced, "en", "s1", spaced.length.toLong),
        (2L, clean, "en", "s1", clean.length.toLong),
        (3L, other, "en", "s1", other.length.toLong),
        (4L, other, "en", "s1", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.parquet(s"$dir/documents.parquet")
    val out = CurationQueries.queries("curation_order_ablation")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // filter->dedup: {clean, other} survive (2 docs, 50 tokens);
    // dedup->filter: group survivor is the spaced doc, which fails ->
    // only {other} survives
    assert(out("filter_then_dedup") == ((2L, 50L)), s"got $out")
    assert(out("dedup_then_filter") == ((1L, 25L)), s"got $out")
  }

  test("text_scrub: redaction replaces every hit and only hits") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val pat = CurationQueries.ScrubPattern.r
    byDoc("text_scrub").foreach { case (id, r) =>
      val hits = pat.findAllIn(docs(id)).toSeq
      assert(r.getLong(r.fieldIndex("n_hits")) === hits.size)
      assert(r.getLong(r.fieldIndex("n_chars_clean")) ===
        docs(id).length - hits.map(_.length).sum + 3 * hits.size)
    }
  }

  test("text_pack_sequences: offsets tile the corpus with no gaps") {
    val rows = CurationQueries.queries("text_pack_sequences")(spark, sf)
      .collect().sortBy(r => (r.getString(r.fieldIndex("source")),
        r.getLong(r.fieldIndex("doc_id"))))
    // contiguity: each doc starts where the previous one ended
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(a.fieldIndex("start_off"))
          + a.getLong(a.fieldIndex("n_tokens")) ===
          b.getLong(b.fieldIndex("start_off")))
      case _ =>
    }
    assert(rows.head.getLong(rows.head.fieldIndex("start_off")) === 0L)
    rows.foreach { r =>
      val first = r.getLong(r.fieldIndex("first_seq"))
      val last = r.getLong(r.fieldIndex("last_seq"))
      val start = r.getLong(r.fieldIndex("start_off"))
      val n = r.getLong(r.fieldIndex("n_tokens"))
      assert(first === start / CurationQueries.SeqLen)
      assert(last === (start + n - 1) / CurationQueries.SeqLen)
      assert(r.getLong(r.fieldIndex("n_seqs")) === last - first + 1)
    }
  }

  test("text_mixture_plan: rates cap at 1 and flatten oversized sources") {
    val rows = CurationQueries.queries("text_mixture_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_.getLong(rows.head.fieldIndex("tokens"))).sum
    val target = totalTokens / rows.length
    rows.foreach { r =>
      val tokens = r.getLong(r.fieldIndex("tokens"))
      val rate = r.getDouble(r.fieldIndex("rate"))
      val planned = r.getLong(r.fieldIndex("planned_tokens"))
      assert(rate > 0.0 && rate <= 1.0)
      if (tokens <= target) assert(rate === 1.0 && planned === tokens)
      else assert(planned <= target)
    }
    val fracs = rows.map(_.getDouble(rows.head.fieldIndex("nat_frac"))).sum
    assert(math.abs(fracs - 1.0) < 1e-9)
  }

  test("rowQualityKeep matches the explode-pipeline gopher gate doc-for-doc") {
    import org.apache.spark.sql.functions.col
    val aggKept = CurationQueries.queries("text_gopher_filter")(spark, sf)
      .collect().filter(_.getAs[Long]("keep") == 1L)
      .map(_.getAs[Long]("doc_id")).toSet
    val rowKept = graft.Tables.documents(spark, sf)
      .filter(CurationQueries.rowQualityKeep(col("text")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rowKept === aggKept)
    assert(rowKept.nonEmpty)
  }

  test("the quality gate runs map-only inside a streaming ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .filter(CurationQueries.rowQualityKeep(col("text")))
      .writeStream.format("memory").queryName("curation_gate")
      .outputMode("append").start()
    try {
      input.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("curation_gate")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      val batch = graft.Tables.documents(spark, sf)
        .filter(CurationQueries.rowQualityKeep(col("text")))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("text_mixture_sample: full-rate sources keep everything, others subsample") {
    val plan = CurationQueries.queries("text_mixture_plan")(spark, sf)
      .collect().map(r => r.getString(r.fieldIndex("source")) ->
        r.getDouble(r.fieldIndex("rate"))).toMap
    val rows = CurationQueries.queries("text_mixture_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(r.fieldIndex("source"))
      val nDocs = r.getLong(r.fieldIndex("n_docs"))
      val nSampled = r.getLong(r.fieldIndex("n_sampled"))
      assert(r.getDouble(r.fieldIndex("rate")) === plan(src))
      assert(nSampled <= nDocs)
      if (plan(src) >= 1.0) assert(nSampled === nDocs,
        s"$src: rate 1.0 must keep every doc")
    }
    // at least one source is oversized and must actually shed docs
    assert(rows.exists(r => r.getLong(r.fieldIndex("n_sampled")) <
      r.getLong(r.fieldIndex("n_docs"))))
  }

  test("text_stratified_sample: exactly k per stratum, reproducible pick") {
    val rows = CurationQueries.queries("text_stratified_sample")(spark, sf)
      .collect()
      .map(r => (r.getString(r.fieldIndex("source")),
        r.getLong(r.fieldIndex("rk")),
        r.getLong(r.fieldIndex("doc_id"))))
    val bySrc = rows.groupBy(_._1)
    assert(bySrc.nonEmpty)
    // every stratum contributes exactly k docs with dense ranks 1..k
    bySrc.foreach { case (src, picks) =>
      assert(picks.length == CurationQueries.SampleK, s"$src short stratum")
      assert(picks.map(_._2).sorted.toSeq ==
        (1L to CurationQueries.SampleK).toSeq)
    }
    // pure function of doc_id: a re-run picks the identical doc set
    val again = CurationQueries.queries("text_stratified_sample")(spark, sf)
      .collect()
      .map(r => (r.getString(r.fieldIndex("source")),
        r.getLong(r.fieldIndex("rk")),
        r.getLong(r.fieldIndex("doc_id"))))
    assert(rows.toSeq == again.toSeq)
  }

  test("text_decontaminate: matches the interpreted-HOF twin, never flags eval docs") {
    import org.apache.spark.sql.functions._
    import TextOps._
    import HofTwins.shingles
    val out = CurationQueries.queries("text_decontaminate")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // twin pipeline: interpreted shingles + plain (non-broadcast) join
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
    val sh = graft.Tables.documents(spark, sf)
      .withColumn("is_eval", bucket >= "e6")
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("is_eval"), shingles(col("ws"), 3).as("sh"))
    val ev = sh.filter(col("is_eval")).select(explode(col("sh")).as("g")).distinct()
    val twin = sh.filter(!col("is_eval"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("g"))
      .join(ev, Seq("g"))
      .groupBy("doc_id")
      .agg(max(col("n_shingles")).as("n_shingles"), count(lit(1)).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_shingles").cast("double"))
      .select("doc_id", "n_shingles", "n_hits", "contamination")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out.toSeq == twin.toSeq)
    // the eval split itself must never appear in the flagged set
    val evalIds = graft.Tables.documents(spark, sf)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) >= "e6")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => !evalIds.contains(r._1)))
    assert(out.forall(r => r._3 >= 1 && r._3 <= r._2 && r._4 > 0.0 && r._4 <= 1.0))
  }

  test("sim_recall_audit: truth side is always full top-k, recall in [0,1]") {
    val rows = SimilarityQueries.queries("sim_recall_audit")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_truth")) === SimilarityQueries.TopK.toLong)
      val rec = r.getDouble(r.fieldIndex("recall"))
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(r.fieldIndex("n_hit")) <= SimilarityQueries.TopK.toLong)
    }
  }

  test("sim_lsh_topk: every hit is a true corpus vector with exact rank order") {
    val rows = SimilarityQueries.queries("sim_lsh_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cosines = rs.sortBy(_.getLong(rs.head.fieldIndex("rk")))
        .map(_.getDouble(rs.head.fieldIndex("cos")))
      assert(cosines.sameElements(cosines.sortBy(-_)), "ranked by cosine desc")
    }
  }

  test("text_token_ids: vocab ids equal the window-rank twin, no 1-partition sort") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the zipWithIndex assignment must reproduce row_number() over
    // (tf desc, term) exactly — ids are part of the hashed contract
    val toks = graft.Tables.documents(spark, sf)
      .select(posexplode(TextOps.words(lower(col("text"))))
        .as(Seq("pos", "term")))
    val twin = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .withColumn("id", row_number().over(
        Window.orderBy(col("tf").desc, col("term"))).cast("long"))
      .select("term", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = CurationQueries.queries("text_token_ids")(spark, sf).collect()
    assert(rows.nonEmpty)
    // spot-check through the digest contract: recompute one doc's
    // digest from the twin's ids and compare
    val doc0 = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0L).select("text").head.getString(0)
    val ids = doc0.toLowerCase.split(" ", -1).toSeq.map(twin)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expDigest = md.digest(ids.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getLong(r0.fieldIndex("n_tokens")) === ids.size.toLong)
    assert(r0.getLong(r0.fieldIndex("ids_sum")) === ids.sum)
    assert(r0.getString(r0.fieldIndex("ids_digest")) === expDigest)
    // and the scale property itself: no global single-partition window
    // anywhere in the id-assignment plan
    val plan = CurationQueries.queries("text_token_ids")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"vocab ranking must not funnel through one partition: $plan")
  }

  test("decontaminate ships the eval side un-hinted: AQE decides, both ship strategies agree, no plan-time job") {
    val sf = "/root/testdata/sf0.001"
    // Plan shapes on a CLONED session with auto-broadcast OFF (both
    // the static and the AQE threshold): at fixture scale Catalyst's
    // size estimate would freely broadcast the aggregated eval side
    // even WITHOUT the hint — which is the desired degrade semantics
    // (the optimizer decides by size at runtime) but makes the two
    // strategies indistinguishable; killing the threshold isolates
    // what the production path dropped: the unconditional hint that
    // would ABORT past the 8 GB ceiling at 100 TB.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def rows(hint: Boolean) =
      CurationQueries.decontaminate(s2, sf, hint)
        .collect().map(_.toSeq).toSeq
    def plan(hint: Boolean) =
      CurationQueries.decontaminate(s2, sf, hint)
        .queryExecution.executedPlan.toString()
    // key on the shingle join specifically (the g key)
    val gBroadcast = "BroadcastHashJoin \\[g".r
    val gShuffle = "(SortMergeJoin|ShuffledHashJoin) \\[g".r
    val hinted = plan(true)
    assert(gBroadcast.findFirstIn(hinted).isDefined,
      s"hinted plan must broadcast the eval shingle side:\n$hinted")
    val unhinted = plan(false)
    assert(gBroadcast.findFirstIn(unhinted).isEmpty,
      s"un-hinted plan under a dead threshold must not broadcast " +
        s"the shingle join:\n$unhinted")
    assert(gShuffle.findFirstIn(unhinted).isDefined,
      s"un-hinted plan must shuffle-join on the shingle key:\n$unhinted")
    assert(rows(false) === rows(true))
    // the regression this revision fixes: CONSTRUCTING the production
    // query must not execute a Spark job (an earlier version ran an
    // eager eval-shingle count at plan time — a full documents pass
    // per plan build at scale)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // deterministic listener drain — under CI load a fixed sleep can
    // both false-fail (baseline event lands late) and false-pass (a
    // re-introduced sizing job's event lands late)
    def drainBus(): Unit =
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // baseline: a bare documents read runs exactly one plan-time
      // job (parquet schema inference) — that's the floor, not the
      // regression
      graft.Tables.documents(spark, sf)
      drainBus()
      val baseline = jobs.getAndSet(0)
      CurationQueries.queries("text_decontaminate")(spark, sf)
      drainBus()
      assert(jobs.get() <= baseline,
        s"building the text_decontaminate plan ran ${jobs.get()} jobs " +
          s"vs $baseline for a bare documents read — an eager sizing " +
          "scan is back in the plan-construction path")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("NULL-text docs stay in n_raw/n_docs but never in the kept sums (oracle LEFT-join twin)") {
    import spark.implicits._
    val good = ("the" +: ('a' to 'x').map(c => s"${c}abcd")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_nulltext").toString
    Seq((1L, Option(good), "en", "s1", Option(good.length.toLong)),
        (2L, Option.empty[String], "en", "s1", Option.empty[Long]),
        (3L, Option(good), "en", "s2", Option(good.length.toLong)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.parquet(s"$dir/documents.parquet")
    // curation_funnel: the per-ROW gate keeps the NULL-text doc in
    // n_raw (keep is NULL, skipped by the sums) — the contract the
    // oracle's LEFT JOIN now mirrors instead of silently dropping it
    val funnel = CurationQueries.queries("curation_funnel")(spark, dir)
      .collect()
    assert(funnel.map(_.getLong(funnel.head.fieldIndex("n_raw"))).sum === 3L)
    // curation_quality_dup_matrix: n_docs counts every doc; the
    // NULL-text doc forms its own NULL-digest canonical group
    val matrix = CurationQueries
      .queries("curation_quality_dup_matrix")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(matrix("s1") === ((2L, 1L, 2L)),
      s"s1 must count the NULL-text doc in n_docs and as a canonical: $matrix")
    // doc 3 duplicates doc 1's text, so its canonical survivor lives
    // in s1 — n_canonical 0 here (and the cross-source dedup is
    // itself part of the pin)
    assert(matrix("s2") === ((1L, 1L, 0L)))
    // text_quality_scores must not abort on the NULL-text row either
    val quality = TextQueries.queries("text_quality_scores")(spark, dir)
      .collect()
    assert(quality.length === 3)
  }

  test("filter sweep: one row per threshold, monotone, exact at the extremes") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
      .select("n_chars").collect().map(_.getLong(0))
    val rows = CurationQueries.queries("text_filter_sweep")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq ===
      CurationQueries.SweepThresholds.sorted)
    // each row equals a direct recount at its threshold
    for ((t, nd, nc, dppm, cppm) <- rows) {
      val kept = docs.filter(_ >= t)
      assert(nd == kept.length, s"t=$t docs")
      assert(nc == kept.sum, s"t=$t chars")
      assert(dppm == nd * 1000000L / docs.length)
      assert(cppm == nc * 1000000L / docs.sum)
    }
    // retention is monotone non-increasing in the threshold
    assert(rows.map(_._2).toSeq === rows.map(_._2).toSeq.sorted.reverse)
    assert(rows.map(_._3).toSeq === rows.map(_._3).toSeq.sorted.reverse)
  }
}
