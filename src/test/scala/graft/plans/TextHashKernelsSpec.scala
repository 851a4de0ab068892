package graft.plans

import graft.SparkSpec
import graft.llm.{HofTwins, TextOps}
import org.apache.spark.sql.functions._

/** The native MinHash/SimHash kernels must be bit-identical to the
  * higher-order-function twins they replace — on the real documents
  * table, not toy strings — so swapping implementations cannot change
  * any pinned value. Edge contracts (empty array, null element, null
  * input) are pinned explicitly per the kernels' scaladoc.
  */
class TextHashKernelsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .withColumn("w", TextOps.words(col("text")))
    .filter(size(col("w")) >= 3)
    .withColumn("sh", HofTwins.shingles(col("w"), 3))

  test("native minhash == HOF minhash bit-exactly on real documents") {
    val both = docs.select(
      HofTwins.minHashSignature(col("sh"), 32).as("hof"),
      TextOps.minHashNative(col("sh"), 32).as("native"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n) }
  }

  test("native shingles == HOF shingles on real documents (order included)") {
    val both = docs.select(
      HofTwins.shingles(col("w"), 3).as("hof"),
      TextOps.shinglesNative(col("w"), 3).as("native"))
      .as[(Seq[String], Seq[String])].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n) }
  }

  test("native shingles: null words skipped in join; short doc -> empty") {
    val df = Seq(1).toDF("one").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("arr"),
      array(lit("x")).as("short"))
    val (withNull, shortRes) = df.select(
      TextOps.shinglesNative(col("arr"), 2).as("s1"),
      TextOps.shinglesNative(col("short"), 2).as("s2"))
      .as[(Seq[String], Seq[String])].head()
    // array_join semantics: null element dropped without separator
    assert(withNull == Seq("a", "b", "b c"))
    assert(shortRes.isEmpty)
  }

  test("native simhash == HOF simhash bit-exactly on real documents") {
    val both = docs.select(
      HofTwins.simHash(col("w")).as("hof"),
      TextOps.simHashNative(col("w")).as("native"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n) }
  }

  test("minhash edge contract: empty array -> k nulls; null input -> null") {
    val df = Seq(
      (1L, Some(Seq.empty[String])),
      (2L, None),
      (3L, Some(Seq("a", "b")))
    ).toDF("id", "arr")
    val rows = df.select(col("id"), TextOps.minHashNative(col("arr"), 4).as("sig"))
      .orderBy("id").collect()
    // empty array: all k components null (array_min([]) is null in the HOF)
    val empty = rows(0).getSeq[Any](1)
    assert(empty.size == 4 && empty.forall(_ == null))
    // null input: whole result null (SQL null-propagation)
    assert(rows(1).isNullAt(1))
    // non-empty: no nulls
    assert(rows(2).getSeq[Any](1).forall(_ != null))
  }

  test("null element hashes to the xxhash64 seed, matching the HOF") {
    val df = Seq(1).toDF("one")
      .select(array(lit("x"), lit(null).cast("string"), lit("y")).as("arr"))
    val m = df.select(
      HofTwins.minHashSignature(col("arr"), 8).as("hof"),
      TextOps.minHashNative(col("arr"), 8).as("native"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(m._1 == m._2)
    val s = df.select(
      HofTwins.simHash(col("arr")).as("hof"),
      TextOps.simHashNative(col("arr")).as("native"))
      .as[(Long, Long)].head()
    assert(s._1 == s._2)
  }

  test("simhash empty array -> 0L") {
    val v = Seq(1).toDF("one")
      .select(TextOps.simHashNative(array().cast("array<string>")).as("h"))
      .as[Long].head()
    assert(v == 0L)
  }

  test("wrong argument type fails analysis with a clear message") {
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(TextOps.minHashNative(col("a"), 4)).collect()
    }
    assert(e.getMessage.contains("ARRAY<STRING>") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
