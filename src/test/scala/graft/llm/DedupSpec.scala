package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import TextOps._
import HofTwins.{minHashSignature, shingles, simHash}

/** Properties of the non-oracle-checkable dedup primitives: MinHash
  * signature behavior, LSH candidate recall on planted duplicates,
  * SimHash locality.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "the quick brown fox jumps over the lazy dog again and again" // exact dup
  private val docC = "the quick brown fox leaps over the lazy dog again and again" // near dup
  private val docD = "completely different words about spark query engines at scale"

  private lazy val docs = Seq(
    (1L, docA), (2L, docB), (3L, docC), (4L, docD))
    .toDF("doc_id", "text")
    .withColumn("w", words(col("text")))
    .withColumn("sh", shingles(col("w"), 3))

  test("identical docs have identical minhash signatures") {
    val sigs = docs.withColumn("sig", minHashSignature(col("sh"), 32))
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("near-dup signatures agree on most components (jaccard estimate)") {
    val sigs = docs.withColumn("sig", minHashSignature(col("sh"), 32))
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree > 8, s"only $agree/32 components agree for a ~0.5-jaccard pair")
    val agreeFar = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agreeFar < agree)
  }

  test("LSH bands put identical docs in the same buckets") {
    val bands = docs
      .withColumn("sig", minHashSignature(col("sh"), 32))
      .select(col("doc_id"), explode(lshBands(col("sig"), 8, 4)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must be an LSH candidate")
    assert(!pairs.contains((1L, 4L)), "unrelated docs must not collide in all bands")
  }

  test("exact jaccard: identical=1.0, disjoint=0.0") {
    val j = docs.as("x").join(docs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        jaccard(col("x.sh"), col("y.sh")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 4L)) == 0.0)
    assert(j((1L, 3L)) > 0.3 && j((1L, 3L)) < 1.0)
  }

  test("simhash: identical equal; near-dup within small hamming radius") {
    val hs = docs.withColumn("h", simHash(col("w")))
      .select("doc_id", "h").as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L))
    val nearDist = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    val farDist = java.lang.Long.bitCount(hs(1L) ^ hs(4L))
    assert(nearDist < farDist,
      s"near-dup hamming $nearDist should be < unrelated $farDist")
  }

  test("prefix-filter jaccard join == brute force (planted corpus + real table)") {
    // Planted corpus: deterministic near-dup pairs of varying sizes and
    // unrelated filler, across two sources.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 80).map(i => s"w$i")
    def doc(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    var id = 0L
    for (src <- Seq("s1", "s2"); _ <- 1 to 10) {
      val base = doc(10 + rnd.nextInt(30))
      id += 1; rows += ((id, src, base))
      if (rnd.nextBoolean()) { // planted near-dup: perturb a few words
        val ws = base.split(" ")
        val mutIdx = rnd.nextInt(ws.length)
        id += 1; rows += ((id, src, ws.updated(mutIdx, "zz").mkString(" ")))
      }
    }
    val dw = rows.toSeq.toDF("doc_id", "source", "text")
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    val fast = DedupQueries.ngramJaccardPairs(dw).collect().map(key).toSeq
    // brute force twin (the round-1 all-pairs form)
    val sh = dw.select(col("doc_id"), col("source"), shingles(col("w"), 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .filter(size(array_intersect(col("a.sh"), col("b.sh"))) * 6 >=
        size(col("a.sh")) + size(col("b.sh")))
      .select(col("a.source").as("source"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), jaccard(col("a.sh"), col("b.sh")).as("jac"))
      .orderBy("source", "doc_a", "doc_b")
      .collect().map(key).toSeq
    assert(brute.nonEmpty, "fixture must plant at least one qualifying pair")
    assert(fast == brute)
  }

  test("hot-bucket cap keeps LSH candidates linear on 1k identical docs") {
    // pathological fixture: 1000 byte-identical docs (one degenerate
    // band value per band) + one small near-dup pair outside the blob.
    val clones = spark.range(1, 1001)
      .select(col("id").as("doc_id"), lit(docA).as("text"))
    val extras = Seq((2001L, docD), (2002L, docD)).toDF("doc_id", "text")
    val sigs = clones.unionByName(extras)
      .withColumn("w", words(col("text")))
      .withColumn("sh", shingles(col("w"), 3))
      .select(col("doc_id"), minHashNative(col("sh"), 32).as("sig"))
    // Without the cap the clone blob alone yields 999*1000/2 ≈ 5e5 pairs.
    val pairs = DedupQueries.cappedBandPairs(sigs)
      .as[(Long, Long)].collect().toSet
    assert(pairs.size <= 10, s"cap failed: ${pairs.size} candidate pairs")
    assert(pairs.contains((2001L, 2002L)),
      "small-bucket dup must survive the cap")
    assert(!pairs.exists(p => p._1 < 2000L && p._2 < 2000L),
      "hot-bucket clones must be dropped from candidate generation")
    // The dropped mass is visible, not silent: every band has one
    // 1000-doc bucket above the cap.
    val stats = DedupQueries.bandBuckets(sigs)
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .groupBy("band_idx")
      .agg(sum(when(col("bucket_n") > DedupQueries.MaxBucket,
        col("bucket_n")).otherwise(0L)).as("dropped"))
      .as[(Int, Long)].collect().toMap
    assert(stats.size == DedupQueries.Bands)
    assert(stats.values.forall(_ == 1000L), s"dropped mass per band: $stats")
  }

  test("posting-list cap keeps prefix-join candidates linear on boilerplate") {
    // pathological fixture: 1000 docs of one source sharing ONE
    // boilerplate shingle ("c1 c2 c3") with otherwise-unique shingles,
    // plus one honest near-dup pair on rare shingles. Short docs keep
    // the whole shingle set in the Bayardo prefix, so without the cap
    // the boilerplate posting list alone yields 999*1000/2 ≈ 5e5
    // candidate pairs.
    val boiler = spark.range(1, 1001)
      .select(col("id").as("doc_id"), lit("src").as("source"),
        concat(lit("c1 c2 c3 u"), col("id"), lit("a u"), col("id"),
          lit("b u"), col("id"), lit("c")).as("text"))
    val honest = Seq(
      (2001L, "src", "x1 x2 x3 x4 x5"),
      (2002L, "src", "x1 x2 x3 x4 y5")).toDF("doc_id", "source", "text")
    val dw = boiler.unionByName(honest)
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 3)
    val docs = dw.select(col("doc_id"), col("source"),
      shingles(col("w"), 3).as("sh"))
    val cands = DedupQueries.jaccardCandidates(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.size <= 10, s"cap failed: ${cands.size} candidate pairs")
    assert(cands.contains((2001L, 2002L)),
      "rare-shingle dup must survive the cap")
    assert(!cands.exists(p => p._1 < 2000L && p._2 < 2000L),
      "boilerplate-only pairs must be dropped from candidate generation")
    // end-to-end: the verified pair set still finds the honest dup
    // (jac = 2/4 = 0.5) and nothing from the boilerplate blob
    val pairs = DedupQueries.ngramJaccardPairs(dw)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2001L, 2002L)), s"got $pairs")
    // the dropped mass is visible, not silent: one 1000-doc posting
    // list above the cap in the census
    val stats = DedupQueries.jaccardPrefixIndex(docs)
      .groupBy("source", "t").agg(count(lit(1)).as("n"))
      .filter(col("n") > DedupQueries.MaxPosting)
      .select("t", "n").as[(String, Long)].collect().toSeq
    assert(stats == Seq(("c1 c2 c3", 1000L)), s"census: $stats")
  }

  test("segment scrub drops repeated windows, keeps canonical occurrences") {
    import org.apache.spark.sql.Row
    val W = DedupQueries.SegWords
    val boiler = (1 to W).map(i => s"boil$i").mkString(" ") // one full window
    val u = (c: Char) => (1 to W).map(i => s"$c$i").mkString(" ")
    // doc 1 = boiler + A; doc 2 = boiler + B (boiler dup, B unique);
    // doc 3 = boiler alone (scrubs to empty); doc 4 unrelated
    val docs = Seq(
      (1L, s"$boiler ${u('a')}"),
      (2L, s"$boiler ${u('b')}"),
      (3L, boiler),
      (4L, u('z'))).toDF("doc_id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    val occ = DedupQueries.segmentize(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(occ.count(_._3 == boiler) == 3, "boiler appears in docs 1,2,3")
    assert(occ.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(0, 1))

    // run the real queries against a temp parquet dir shaped like the table
    val dir = java.nio.file.Files.createTempDirectory("seg_docs").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.queries("dedup_segment_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (2L, 2L, md5hex(s"$boiler ${u('a')}")), s"doc1: ${out(1L)}")
    assert(out(2L) == (2L, 1L, md5hex(u('b'))), s"doc2: ${out(2L)}")
    assert(out(3L) == (1L, 0L, md5hex("")), "fully-duplicated doc scrubs empty")
    assert(out(4L) == (1L, 1L, md5hex(u('z'))))
    val groups = DedupQueries.queries("dedup_segment_groups")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(groups(md5hex(boiler)) == (3L, 3L, 1L, 0L),
      "boiler: 3 copies in 3 docs, canonical at (doc 1, seg 0)")
  }

  test("SRP-LSH finds planted high-cosine near-dups, skips unrelated vectors") {
    val rnd = new scala.util.Random(7)
    def randVec(): Seq[Float] = Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = randVec()
    // near-dup: tiny perturbation -> cos ~0.999 -> identical sign
    // pattern on (virtually) every plane -> collides in all bands
    val nearDup = base.map(x => x + 0.001f)
    val fixture = (Seq((1L, base), (2L, nearDup)) ++
      (3L to 30L).map(i => (i, randVec())))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", Vectors.normNative(col("embedding")))
    val pairs = DedupQueries.srpPairs(fixture, dim = 64, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup must survive LSH + verify")
    assert(pairs.size == 1, s"only the planted pair passes cos >= 0.9: $pairs")
  }

  test("pipeline survivors match an independent brute-force Scala oracle") {
    val sf = "/root/testdata/sf0.001"
    val raw = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // stage 1: exact dedup (min doc_id per text)
    val exact = raw.groupBy(_._3).values.map(_.map(_._1).min).toSet
    // stage 2: jaccard >= 0.2 over 3-shingles, same-source, exact
    // survivors only; union-find; keep each component's min doc
    val sh = raw.filter(d => exact(d._1))
      .map { case (id, src, text) =>
        val w = text.split(" ", -1)
        (id, src, if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
                  else Set.empty[String])
      }
    val parent = scala.collection.mutable.Map(sh.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (group <- sh.filter(_._3.nonEmpty).groupBy(_._2).values;
         pair <- group.toSeq.combinations(2)) {
      val (a, b) = (pair(0), pair(1))
      val inter = (a._3 & b._3).size
      if (inter * 5 >= a._3.size + b._3.size - inter)  // jac >= 0.2 exactly
        parent(find(a._1)) = find(b._1)
    }
    val expected = sh.map(_._1).groupBy(find).values.map(_.min).toSet
    val survivors = DedupQueries.queries("dedup_pipeline_survivors")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs too short to shingle bypass stage 2 and always survive
    val shortDocs = exact -- sh.map(_._1).toSet
    assert(survivors === expected ++ shortDocs)
    assert(survivors.size < exact.size, "near-dup stage must drop something")
  }

  test("connected components: chain, blob and singletons resolve transitively") {
    val nodes = (1L to 10L).toDF("doc_id")
    // chain 1-2-3-4 (worst-case diameter), blob 5-6-7 (triangle), pair
    // 8-9, singleton 10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
        (5L, 7L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    val comps = DedupQueries.connectedComponents("cc_test", nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(comps) == Seq(1L, 1L, 1L, 1L))
    assert(Seq(5L, 6L, 7L).map(comps) == Seq(5L, 5L, 5L))
    assert(comps(8L) == 8L && comps(9L) == 8L)
    assert(comps(10L) == 10L)
  }

  test("path halving resolves a 300-node chain in O(log diameter) rounds") {
    // diameter 299: one-hop min-label propagation would need ~299
    // rounds (>> the 15 allowed here); pointer jumping must close the
    // chain into a single component labeled by its minimum node.
    val n = 300L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupQueries.connectedComponents("cc_test", nodes, edges,
      maxRounds = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == n)
    assert(labels.forall(_._2 == 1L))
  }

  test("connected components leave only their labels cached") {
    // the Cut policy releases every earlier round's labels, each
    // round's persisted propagation frame and the symmetrized edges
    val nodes = (1L to 64L).toDF("doc_id")
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val labels = DedupQueries.connectedComponents("cc_test", nodes, edges)
    val kept = labels.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case p => fail(s"labels are not a cut frame: $p")
    }
    assert(sc.getPersistentRDDs.keySet.toSet -- before == Set(kept))
    assert(labels.filter(col("comp") =!= 1L).isEmpty)
  }

  test("connected components fail loudly when the round cap is hit") {
    // chain 1-2-3-4-5 has diameter 4: min-label propagation cannot
    // converge in 2 rounds, and an unconverged result must throw
    // rather than silently return wrong components.
    val nodes = (1L to 5L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      DedupQueries.connectedComponents("dedup_components", nodes, edges,
        maxRounds = 2).collect()
    }
    assert(ex.getMessage.startsWith("dedup_components: "), ex.getMessage)
    assert(ex.getMessage.contains("did not converge within 2 rounds"))
  }

  test("normalized dedup groups reformatted copies that exact dedup misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_norm").toString
    Seq(
      (1L, "The Quick  Fox", "en", "web", 14L),
      (2L, " the quick fox", "en", "web", 14L), // case + whitespace only
      (3L, "different text", "en", "web", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.parquet(s"$dir/documents.parquet")
    val groups = graft.SparkEntry.queries("dedup_normalized_groups")(spark, dir)
      .select("n_copies", "keeper").as[(Long, Long)].collect().toSet
    assert(groups == Set((2L, 1L), (1L, 3L)))
    // byte-exact dedup sees three distinct docs on the same fixture
    val exact = graft.SparkEntry.queries("dedup_exact_groups")(spark, dir)
    assert(exact.count() == 3)
  }

  test("simhash multi-probe finds exactly the Hamming<=1 pairs") {
    // planted fingerprints: 1&2 identical, 1&3 differ in one bit,
    // 3&4 differ in one bit (so 1&4 differ in two — excluded),
    // 5 is far from everything
    val sigs = Seq(
      (1L, 0x00F0L), (2L, 0x00F0L), (3L, 0x00F1L), (4L, 0x00F3L),
      (5L, -1L))
      .toDF("doc_id", "sig")
    val pairs = DedupQueries.simhashRadiusPairs(sigs)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L)))
  }

  test("semantic dedup keeps one representative per near-dup neighborhood") {
    // One centroid (vec 0), an orthogonal near-dup pair (1, 2), and an
    // unrelated vector (3): only the higher id of the planted pair is
    // dropped; everything else survives in the single cluster.
    val dir = java.nio.file.Files.createTempDirectory("graft_sem").toString
    Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0f, 1f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0.05f, 0f), 0), // cos(1,2) ~ 0.999 >= SemTau
      (3L, Seq(0f, 0f, 0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
      .repartition(1).write.parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("dedup_semantic_survivors")(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 0L), (0L, 1L), (0L, 3L)))
  }

  test("vocab fingerprint is word-order insensitive") {
    val fp = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
        (3L, "alpha beta delta"))
      .toDF("id", "text")
      .select(col("id"), vocabFingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }
}
