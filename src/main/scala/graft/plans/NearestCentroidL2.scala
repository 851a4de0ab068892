package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Native k-means (Lloyd) assignment: given an integer-quantized
  * vector `ARRAY<BIGINT>` and a broadcast-literal centroid array
  * `ARRAY<STRUCT<c_id INT, cv ARRAY<DOUBLE>>>`, returns the c_id
  * minimizing squared L2 distance — ties to the SMALLEST c_id,
  * exactly the `array_min` over `struct(d2, c_id)` rule of the HOF
  * twin and the `ORDER BY d2, c_id` rule of the DuckDB oracle.
  *
  * One compiled pass over K×dim per row (the HOF form pays an
  * interpreted closure per centroid per dimension — ~512 closure
  * invocations per row at K=8, dim=64). The distance is the same
  * sequential left fold over `(long→double − double)²` as the HOF
  * twin, so results are bit-identical (pinned in ClusterSpec).
  * An empty centroid array yields NULL, matching the callers'
  * filter-out contract.
  */
case class NearestCentroidL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
            ArrayType(StructType(Array(
              StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT>, " +
          s"ARRAY<STRUCT<INT, ARRAY<DOUBLE>>>), got ($a, $b)")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = NearestCentroidL2.Name

  /** Boxed so the no-answer cases are representable as NULL: an empty
    * centroid array, a NULL element in `qv` (ArrayData.getLong on a
    * null slot reads undefined data — the HOF twin's zip_with would
    * NULL-poison the distance there), or a centroid of a different
    * dimension (a positional fold over mismatched lengths is
    * meaningless, and reading past an array end would throw). */
  def computeCluster(qvAny: Any, centsAny: Any): java.lang.Integer = {
    val qv = qvAny.asInstanceOf[ArrayData]
    val cents = centsAny.asInstanceOf[ArrayData]
    val d = qv.numElements()
    val n = cents.numElements()
    var j0 = 0
    while (j0 < d) {
      if (qv.isNullAt(j0)) return null
      j0 += 1
    }
    var bestD2 = Double.PositiveInfinity
    var bestId = Int.MaxValue
    var found = false
    var i = 0
    while (i < n) {
      // A NULL centroid element or NULL cv field is representable
      // (the type check ignores containsNull); getStruct/getArray on
      // a null slot reads undefined data, so bail to NULL like the
      // qv null-slot guard above.
      if (cents.isNullAt(i)) return null
      val c = cents.getStruct(i, 2)
      // a null cid FIELD would silently read as 0 (getInt on a null
      // slot), minting a fake centroid id — bail like the cv guard
      if (c.isNullAt(0) || c.isNullAt(1)) return null
      val cid = c.getInt(0)
      val cv = c.getArray(1)
      if (cv.numElements() != d) return null
      var acc = 0.0
      var j = 0
      while (j < d) {
        if (cv.isNullAt(j)) return null
        val t = qv.getLong(j).toDouble - cv.getDouble(j)
        acc += t * t
        j += 1
      }
      if (acc < bestD2 || (acc == bestD2 && (!found || cid < bestId))) {
        bestD2 = acc
        bestId = cid
        found = true
      }
      i += 1
    }
    if (found) java.lang.Integer.valueOf(bestId) else null
  }

  override protected def nullSafeEval(qv: Any, cents: Any): Any =
    computeCluster(qv, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroidL2", this,
      classOf[NearestCentroidL2].getName)
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"""java.lang.Integer ${ev.value}Boxed = $self.computeCluster($q, $c);
         |if (${ev.value}Boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Boxed.intValue();
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidL2 =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidL2 {
  val Name = "graft_nearest_centroid_l2"

  /** The kernel as a Column: resolves in any session, nothing
    * registered. */
  def column(qv: Column, centroids: Column): Column =
    PlanBridge.column(qv, centroids) { case Seq(q, c) => NearestCentroidL2(q, c) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$Name expects (qv, centroids)")
    NearestCentroidL2(children(0), children(1))
  }
}
