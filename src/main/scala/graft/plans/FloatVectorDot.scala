package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-embedding dot product —
  * the one hot path where the built-in higher-order functions
  * (`aggregate`/`zip_with`, used by [[graft.llm.Vectors.dot]]) genuinely
  * can't keep up: they are CodegenFallback (interpreted, one closure
  * call and boxed lambda variable per element), while this expression
  * generates a tight primitive loop inside whole-stage codegen.
  *
  * Contract is IDENTICAL to the HOF version and the DuckDB oracle twin
  * ([[graft.llm.Vectors.dotSql]]) on EVERY input, edge cases included:
  *   - each float widened to double BEFORE the multiply, sequential
  *     left-to-right accumulation (bit-identical sums);
  *   - mismatched array lengths -> NULL (zip_with null-pads the short
  *     side, the null product poisons the fold);
  *   - any NULL element -> NULL (same poisoning);
  *   - NULL array -> NULL.
  * Swapping implementations therefore cannot change a single bit of
  * any oracle-checked result — pinned by FloatVectorDotSpec.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<FLOAT> arguments, got $l and $r")
    }

  override def dataType: DataType = DoubleType
  // null also on mismatched lengths / null elements, not just null input
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  val Name = "graft_vec_dot"

  /** The kernel as a Column: resolves in any session, nothing
    * registered. */
  def column(a: Column, b: Column): Column =
    PlanBridge.column(a, b) { case Seq(x, y) => FloatVectorDot(x, y) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$Name expects 2 arguments")
    FloatVectorDot(children.head, children(1))
  }
}

/** The SQL surface: `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` gives every
  * session of the cluster the kernels by name (`graft_vec_dot(a, b)`
  * in SQL) and the [[TopKPerKeyStrategy]]. Query code builds the
  * kernels as Columns and needs none of it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      (FloatVectorDot.Name, classOf[FloatVectorDot], FloatVectorDot.builder),
      (MinHashSig.Name, classOf[MinHashSig], MinHashSig.builder),
      (SimHash64.Name, classOf[SimHash64], SimHash64.builder),
      (NGramShingles.Name, classOf[NGramShingles], NGramShingles.builder),
      (NearestCentroid.Name, classOf[NearestCentroid], NearestCentroid.builder),
      (NearestCentroidL2.Name, classOf[NearestCentroidL2], NearestCentroidL2.builder),
      (PqAssign.Name, classOf[PqAssign], PqAssign.builder)
    ).foreach { case (name, clazz, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
