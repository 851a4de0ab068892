package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` embedding columns as pure Catalyst
  * higher-order functions (`zip_with`/`aggregate`) — codegen-friendly,
  * no UDFs, distributable over any row count.
  *
  * Determinism contract: components are cast to double BEFORE the
  * multiply and the sum is a sequential left fold, which makes the
  * result bit-identical to DuckDB's
  * `list_sum(list_transform(list_zip(a,b), p -> CAST(p[1] AS DOUBLE) *
  * CAST(p[2] AS DOUBLE)))` — the oracle twin used by SimilarityQueries.
  */
object Vectors {

  /** Codegen'd native dot product ([[graft.plans.FloatVectorDot]]).
    * Bit-identical to [[dot]]; ~10x faster (tight primitive loop vs
    * interpreted HOFs). */
  def dotNative(a: Column, b: Column): Column =
    graft.plans.FloatVectorDot.column(a, b)

  /** Codegen'd native norm. */
  def normNative(a: Column): Column = sqrt(dotNative(a, a))

  /** Sequential-fold double dot product (built-ins-only reference
    * implementation; the spec pins dotNative == dot bit-exactly). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (deterministic: dot and norms are exact folds,
    * final divide is one IEEE op). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** SQL twins (DuckDB dialect) — keep in lockstep with the above. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"
}
