package graft.llm

import graft.plans.PqAssign

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native PqAssign kernel must be bit-identical to the interpreted
  * HOF twin on the real embeddings table — same distances, same codes,
  * same tie-breaks — and must survive degenerate codebooks.
  */
class PqKernelSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("native kernel == HOF twin, every vector, distances bit-exact") {
    val native = graft.llm.SimilarityQueries.queries("sim_pq_codes")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val hof = {
      import graft.llm.SimilarityQueries._
      graft.llm.HofTwins.pqAssignedHof(spark, sf)
        .select(Seq(col("vec_id")) ++
          (0 until PqM).map(i =>
            col("best").getItem(i).getField("c_id").as(s"c$i")) :+
          aggregate(col("best"), lit(0.0),
            (acc, b) => acc + b.getField("d")).as("err"): _*)
        .orderBy("vec_id")
        .collect().map(_.toSeq).toSeq
    }
    assert(native.nonEmpty && native == hof)
  }

  test("empty codebook yields NULL, never a bogus assignment") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .withColumn("cb", expr(
        "CAST(array() AS ARRAY<STRUCT<m: INT, c_id: INT, sub: ARRAY<DOUBLE>>>)"))
      .select(PqAssign.column(
        col("embedding"), col("cb")).as("best"))
    assert(df.collect()(0).isNullAt(0))
  }

  test("NULL fields and mixed sub lengths yield NULL, never NPE or a wrong slice") {
    import spark.implicits._
    def best(cbSql: String) = {
      val df = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
        .toDF("vec_id", "embedding")
        .withColumn("cb", expr(cbSql))
        .select(PqAssign.column(
          col("embedding"), col("cb")).as("best"))
      df.collect()(0)
    }
    // a non-null entry with a NULL sub array: getArray returns null —
    // pre-guard this NPE'd instead of returning the contract's NULL
    assert(best("array(named_struct('m', 0, 'c_id', 7, " +
      "'sub', CAST(NULL AS ARRAY<DOUBLE>)))").isNullAt(0))
    // a NULL m field: getInt silently reads 0 — the entry would score
    // subspace 0 with no error; the guard must return NULL instead
    assert(best("array(named_struct('m', CAST(NULL AS INT), 'c_id', 7, " +
      "'sub', array(1.0D, 2.0D)))").isNullAt(0))
    // entries disagreeing on sub length would each slice a DIFFERENT
    // embedding window (off = m*dsub uses the entry's own length)
    assert(best("array(named_struct('m', 0, 'c_id', 1, " +
      "'sub', array(1.0D, 2.0D)), named_struct('m', 1, 'c_id', 2, " +
      "'sub', array(1.0D)))").isNullAt(0))
    // and the well-formed twin of the same shape still answers
    assert(!best("array(named_struct('m', 0, 'c_id', 1, " +
      "'sub', array(1.0D, 2.0D)), named_struct('m', 1, 'c_id', 2, " +
      "'sub', array(1.0D, 2.0D)))").isNullAt(0))
  }

  test("the kernel actually plans, and codegen executes it without fallback") {
    // the old string probe ended in `|| plan.nonEmpty` — a tautology
    // (a plan string is never empty) that would keep passing if the
    // kernel silently stopped planning; traverse the optimized plan's
    // expressions instead, then execute
    val df = graft.llm.SimilarityQueries.queries("sim_pq_codes")(spark, sf)
    val kernels = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect { case e: PqAssign => e })
    }.flatten
    assert(kernels.nonEmpty, "PqAssign kernel absent from the optimized plan")
    assert(df.collect().nonEmpty)
  }
}
