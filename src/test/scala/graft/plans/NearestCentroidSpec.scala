package graft.plans

import graft.SparkSpec
import graft.llm.Vectors
import org.apache.spark.sql.functions._

/** The native centroid assignment must agree with the HOF struct-max
  * composition it replaced (max cos, ties to smallest c_id) on real
  * embeddings — same argmax, same tie rule, same float contract.
  */
class NearestCentroidSpec extends SparkSpec {

  test("native assignment == HOF struct-max argmax on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("nrm", Vectors.normNative(col("embedding")))
    val cents = e.filter(col("vec_id") % 20 === 0)
      .agg(collect_list(struct(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))).as("cents"))
    val both = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        NearestCentroid.column(
          col("embedding"), col("nrm"), col("cents")).as("native"),
        (-array_max(transform(col("cents"), c =>
          struct(
            (Vectors.dotNative(c.getField("c_emb"), col("embedding")) /
              (c.getField("c_nrm") * col("nrm"))).as("c_cos"),
            (-c.getField("c_id")).as("neg_id"))))
          .getField("neg_id")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"vec ${r.getLong(0)}")
    }
  }

  test("no selectable centroid -> NULL (empty set and all-NaN cosines)") {
    import spark.implicits._
    val centsType = "array<struct<c_id:bigint,c_emb:array<float>,c_nrm:double>>"
    // empty centroid array
    val empty = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("nrm", Vectors.normNative(col("embedding")))
      .withColumn("cents", array().cast(centsType))
      .select(NearestCentroid.column(
        col("embedding"), col("nrm"), col("cents")).as("c"))
      .head()
    assert(empty.isNullAt(0), "empty centroid set must assign NULL")
    // zero-norm centroid -> cosine NaN for every candidate
    val allNaN = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("nrm", Vectors.normNative(col("embedding")))
      .withColumn("cents", array(
        struct(lit(5L).as("c_id"),
          typedLit(Seq(0.0f, 0.0f)).as("c_emb"), lit(0.0).as("c_nrm"))))
      .select(NearestCentroid.column(
        col("embedding"), col("nrm"), col("cents")).as("c"))
      .head()
    assert(allNaN.isNullAt(0), "all-NaN cosines must assign NULL, not a fake id")
  }

  test("NULL slots/fields and dimension mismatches -> NULL, never garbage") {
    import spark.implicits._
    val centsType = "array<struct<c_id:bigint,c_emb:array<float>,c_nrm:double>>"
    def assign(centsSql: String) =
      Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .withColumn("cents", expr(centsSql).cast(centsType))
        .select(NearestCentroid.column(
          col("embedding"), col("nrm"), col("cents")).as("c"))
        .head()
    // a NULL centroid SLOT (outer-joined/filtered list) — pre-guard
    // this NPE'd on getStruct of the null element
    assert(assign("array(named_struct('c_id', 5L, 'c_emb', " +
      "array(1.0F, 0.0F), 'c_nrm', 1.0D), CAST(NULL AS " +
      "STRUCT<c_id: BIGINT, c_emb: ARRAY<FLOAT>, c_nrm: DOUBLE>))")
      .isNullAt(0))
    // a NULL c_emb FIELD inside a non-null entry
    assert(assign("array(named_struct('c_id', 5L, 'c_emb', " +
      "CAST(NULL AS ARRAY<FLOAT>), 'c_nrm', 1.0D))").isNullAt(0))
    // a centroid of the wrong dimension would silently read garbage
    // bytes past the array end via getFloat
    assert(assign("array(named_struct('c_id', 5L, 'c_emb', " +
      "array(1.0F), 'c_nrm', 1.0D))").isNullAt(0))
    // a NULL element INSIDE a centroid vector
    assert(assign("array(named_struct('c_id', 5L, 'c_emb', " +
      "array(1.0F, CAST(NULL AS FLOAT)), 'c_nrm', 1.0D))").isNullAt(0))
  }

  test("tie-break picks the smallest centroid id") {
    import spark.implicits._
    // two identical centroids -> equal cosine -> smaller id wins
    val df = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .withColumn("nrm", Vectors.normNative(col("embedding")))
      .withColumn("cents", array(
        struct(lit(7L).as("c_id"),
          typedLit(Seq(1.0f, 0.0f)).as("c_emb"), lit(1.0).as("c_nrm")),
        struct(lit(3L).as("c_id"),
          typedLit(Seq(1.0f, 0.0f)).as("c_emb"), lit(1.0).as("c_nrm"))))
    val cluster = df.select(NearestCentroid.column(
      col("embedding"), col("nrm"), col("cents")).as("c"))
      .head().getLong(0)
    assert(cluster == 3L)
  }
}
