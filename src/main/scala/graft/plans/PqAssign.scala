package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Native product-quantization assignment: given a FLOAT embedding and
  * a broadcast codebook `ARRAY<STRUCT<m INT, c_id INT, sub
  * ARRAY<DOUBLE>>>`, returns per subspace m the struct `(d DOUBLE,
  * c_id INT)` of the nearest centroid — squared L2 over the m-th
  * subvector slice, ties to the SMALLEST c_id.
  *
  * One compiled pass over the whole codebook per row; the HOF twin
  * (`transform(sequence(...), m -> array_min(transform(filter(cb, ...`
  * in SimilarityQueries) pays an interpreted closure per centroid per
  * subspace and re-scans the codebook PqM times. Bit-identical to the
  * twin (pinned in PqSpec/PqKernelSpec): float widened to double
  * before the subtract, sequential j-fold, and the comparison is the
  * exact lexicographic struct(d, c_id) ordering — NaN compares like
  * Spark doubles (larger than everything, equal to itself), so even
  * degenerate inputs agree. Empty codebook → NULL.
  */
case class PqAssign(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(StructType(Array(
              StructField(_, IntegerType, _, _),
              StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<FLOAT>, " +
          s"ARRAY<STRUCT<INT, INT, ARRAY<DOUBLE>>>), got ($a, $b)")
    }

  override def dataType: DataType = PqAssign.OutType
  override def nullable: Boolean = true
  override def prettyName: String = PqAssign.Name

  /** Null for every no-answer case, never undefined bytes: an empty
    * codebook, a NULL slot in the embedding, a NULL codebook entry OR
    * a NULL field inside one (a non-null entry can still carry null
    * m/c_id/sub — getInt on a null field silently reads 0, getArray
    * returns null and would NPE), a negative subspace id, codebook
    * entries whose sub vectors disagree on length (each entry would
    * silently score a DIFFERENT embedding slice: off = m·dsub uses
    * the entry's own length), or an embedding shorter than the
    * m*dsub+dsub slice a codebook entry addresses (an out-of-range
    * getFloat also returns undefined bytes rather than throwing).
    * Same contract as the sibling kernel NearestCentroidL2.
    *
    * Output shape: indexed by the codebook's own subspace ids,
    * length max(m)+1, with NULL at any interior m no entry covers —
    * the HOF-twin equality PqSpec pins holds on COMPLETE codebooks
    * (every m in 0..PqM−1 present), which is what the trainer emits;
    * a codebook missing its TOP subspaces yields a shorter array
    * here and a NULL-padded one from the twin's fixed sequence. */
  def computeBest(embAny: Any, cbAny: Any): ArrayData = {
    val emb = embAny.asInstanceOf[ArrayData]
    val cb = cbAny.asInstanceOf[ArrayData]
    val n = cb.numElements()
    if (n == 0) return null
    val embLen = emb.numElements()
    var j0 = 0
    while (j0 < embLen) {
      if (emb.isNullAt(j0)) return null
      j0 += 1
    }
    var maxM = 0
    var dsubShared = -1
    var i = 0
    while (i < n) {
      if (cb.isNullAt(i)) return null
      val c = cb.getStruct(i, 3)
      if (c.isNullAt(0) || c.isNullAt(1) || c.isNullAt(2)) return null
      val m = c.getInt(0)
      if (m < 0) return null
      if (m > maxM) maxM = m
      val len = c.getArray(2).numElements()
      if (dsubShared < 0) dsubShared = len
      else if (len != dsubShared) return null
      i += 1
    }
    val bestD = new Array[Double](maxM + 1)
    val bestId = new Array[Int](maxM + 1)
    val found = new Array[Boolean](maxM + 1)
    i = 0
    while (i < n) {
      val c = cb.getStruct(i, 3)
      val m = c.getInt(0)
      val cid = c.getInt(1)
      val sub = c.getArray(2)
      val dsub = sub.numElements()
      val off = m * dsub
      if (off + dsub > embLen) return null
      var acc = 0.0
      var j = 0
      while (j < dsub) {
        if (sub.isNullAt(j)) return null
        val t = emb.getFloat(off + j).toDouble - sub.getDouble(j)
        acc += t * t
        j += 1
      }
      // exact lexicographic struct(d, c_id) ordering, NaN-consistent
      // with Spark's double ordering via Double.compare
      val cmp = java.lang.Double.compare(acc, bestD(m))
      if (!found(m) || cmp < 0 || (cmp == 0 && cid < bestId(m))) {
        bestD(m) = acc
        bestId(m) = cid
        found(m) = true
      }
      i += 1
    }
    val rows = new Array[Any](maxM + 1)
    i = 0
    while (i <= maxM) {
      val r = new GenericInternalRow(2)
      if (found(i)) {
        r.update(0, bestD(i))
        r.update(1, bestId(i))
        rows(i) = r
      } else rows(i) = null // a subspace with no centroids
      i += 1
    }
    new GenericArrayData(rows)
  }

  override protected def nullSafeEval(emb: Any, cb: Any): Any =
    computeBest(emb, cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAssign", this, classOf[PqAssign].getName)
    nullSafeCodeGen(ctx, ev, (e, c) =>
      s"""${ev.value} = $self.computeBest($e, $c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssign =
    copy(left = newLeft, right = newRight)
}

object PqAssign {
  val Name = "graft_pq_assign"

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("c_id", IntegerType, nullable = false))),
    containsNull = true)

  /** The kernel as a Column: resolves in any session, nothing
    * registered. */
  def column(emb: Column, codebook: Column): Column =
    PlanBridge.column(emb, codebook) { case Seq(e, cb) => PqAssign(e, cb) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$Name expects (embedding, codebook)")
    PqAssign(children(0), children(1))
  }
}
