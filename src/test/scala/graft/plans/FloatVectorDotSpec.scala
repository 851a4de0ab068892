package graft.plans

import graft.SparkSpec
import graft.llm.Vectors
import org.apache.spark.sql.functions._

/** The native codegen'd dot product must be bit-identical to the
  * higher-order-function fold it replaces (and therefore to the DuckDB
  * oracle twin) — on real embeddings, not toy values.
  */
class FloatVectorDotSpec extends SparkSpec {
  import spark.implicits._

  test("dotNative == HOF dot bit-exactly on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val both = e.select(
      Vectors.dot(col("embedding"), col("embedding")).as("hof"),
      Vectors.dotNative(col("embedding"), col("embedding")).as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) =>
      assert(java.lang.Double.doubleToLongBits(h) ==
        java.lang.Double.doubleToLongBits(n), s"hof=$h native=$n")
    }
  }

  test("edge contract matches the HOF twin: null on mismatch/null-element/null-array") {
    val df = Seq(
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f)))), // clean
      (Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(4.0f), Some(9.0f)))), // length mismatch
      (Some(Seq(Some(1.0f), None)), Some(Seq(Some(3.0f), Some(4.0f)))), // null element
      (None, Some(Seq(Some(1.0f)))) // null array
    ).toDF("a", "b")
    val out = df.select(
      Vectors.dotNative(col("a"), col("b")).as("native"),
      Vectors.dot(col("a"), col("b")).as("hof")).collect()
    assert(out(0).getDouble(0) == 1.0 * 3.0 + 2.0 * 4.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
    // every edge case agrees with the higher-order-function twin
    out.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1)) }
    assert(out(0).getDouble(0) == out(0).getDouble(1))
  }

  test("wrong argument types fail analysis with a clear message") {
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(Vectors.dotNative(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("ARRAY<FLOAT>") ||
      e.getMessage.toLowerCase.contains("type"))
  }
}
