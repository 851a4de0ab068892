package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Native IVF centroid assignment: given (embedding, norm) and a
  * broadcast array of centroid structs `(c_id BIGINT, c_emb
  * ARRAY<FLOAT>, c_nrm DOUBLE)`, returns the c_id maximizing cosine —
  * ties to the SMALLEST c_id, exactly the
  * `row_number() OVER (ORDER BY cos DESC, c_id)` rule of the DuckDB
  * oracle and the HOF struct-max twin it replaces.
  *
  * One compiled pass over nlist centroids per row (the HOF
  * `array_max(transform(...))` form pays an interpreted closure per
  * centroid). Cosine uses the same contract as [[FloatVectorDot]]:
  * float widened to double before the multiply, sequential fold, one
  * IEEE divide — bit-identical across implementations, pinned in
  * NearestCentroidSpec. Inputs are trusted same-dimension vectors
  * (both sides of the comparison come from the same table); NaN
  * cosines (zero norms) are never selected, and if NO centroid is
  * selectable (empty centroid array, or every cosine NaN) the result
  * is NULL rather than a bogus sentinel id.
  */
case class NearestCentroid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), DoubleType,
            ArrayType(StructType(Array(
              StructField(_, LongType, _, _),
              StructField(_, ArrayType(FloatType, _), _, _),
              StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT>, DOUBLE, " +
          s"ARRAY<STRUCT<BIGINT, ARRAY<FLOAT>, DOUBLE>>), got ($a, $b, $c)")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = NearestCentroid.Name

  /** Boxed so "no centroid selectable" is representable: null when the
    * centroid array is empty or every cosine is NaN (zero norms) — a
    * sentinel id here would silently route rows to a fake cluster.
    * NULL slots/fields/elements and a dimension mismatch also return
    * null (the NearestCentroidL2 contract): the type check ignores
    * containsNull/field nullability, and getFloat/getLong on a null
    * slot reads undefined bytes — a silently wrong cluster id. */
  def computeCluster(embAny: Any, nrm: Double, centsAny: Any): java.lang.Long = {
    val emb = embAny.asInstanceOf[ArrayData]
    val cents = centsAny.asInstanceOf[ArrayData]
    val d = emb.numElements()
    var j0 = 0
    while (j0 < d) {
      if (emb.isNullAt(j0)) return null
      j0 += 1
    }
    var bestCos = Double.NegativeInfinity
    var bestId = Long.MaxValue
    var found = false
    var i = 0
    val n = cents.numElements()
    while (i < n) {
      if (cents.isNullAt(i)) return null
      val c = cents.getStruct(i, 3)
      if (c.isNullAt(0) || c.isNullAt(1) || c.isNullAt(2)) return null
      val cid = c.getLong(0)
      val cemb = c.getArray(1)
      if (cemb.numElements() != d) return null
      val cnrm = c.getDouble(2)
      var acc = 0.0
      var j = 0
      while (j < d) {
        if (cemb.isNullAt(j)) return null
        acc += emb.getFloat(j).toDouble * cemb.getFloat(j).toDouble
        j += 1
      }
      val cos = acc / (cnrm * nrm)
      if (cos > bestCos || (cos == bestCos && (!found || cid < bestId))) {
        bestCos = cos
        bestId = cid
        found = true
      }
      i += 1
    }
    if (found) java.lang.Long.valueOf(bestId) else null
  }

  override protected def nullSafeEval(emb: Any, nrm: Any, cents: Any): Any =
    computeCluster(emb, nrm.asInstanceOf[Double], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, (e, m, c) =>
      s"""java.lang.Long ${ev.value}Boxed = $self.computeCluster($e, $m, $c);
         |if (${ev.value}Boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Boxed.longValue();
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCentroid {
  val Name = "graft_nearest_centroid"

  /** The kernel as a Column: resolves in any session, nothing
    * registered. */
  def column(emb: Column, nrm: Column, centroids: Column): Column =
    PlanBridge.column(emb, nrm, centroids) {
      case Seq(e, n, c) => NearestCentroid(e, n, c)
    }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 3, s"$Name expects (emb, nrm, centroids)")
    NearestCentroid(children(0), children(1), children(2))
  }
}
