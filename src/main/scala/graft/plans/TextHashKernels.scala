package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the dedup-family hot path: MinHash
  * signatures and SimHash fingerprints over a token/shingle array.
  *
  * Why native: the higher-order-function twins (`minHashSignature` /
  * `simHash` in the specs' `HofTwins`) are CodegenFallback — every array element costs an interpreted
  * closure call with boxed lambda variables, and the round-1 bench put
  * the dedup family at 73% of total runtime. These kernels do ONE pass
  * over the array in compiled Scala (invoked from whole-stage codegen
  * via a bound reference — no per-element interpretation, no boxing).
  *
  * Determinism contract (spec-pinned bit-identical to the HOF twins in
  * TextHashKernelsSpec, same style as FloatVectorDotSpec):
  *   - element hash = XxHash64Function.hash(utf8, seed=42) — exactly
  *     Spark's `xxhash64(col)`;
  *   - a NULL array element hashes to the seed (42), matching
  *     `xxhash64(NULL)` inside a `transform` lambda;
  *   - MinHash: h = xxh mod p (p = 2^31-1), sig_i = min over shingles
  *     of (a_i*h + b_i) mod p with the [[graft.llm.TextOps.minHashParams]]
  *     family; an EMPTY array yields k NULL components (array_min of an
  *     empty array is NULL — matches the HOF);
  *   - SimHash: per-bit majority vote (strict, c*2 > n) over the low 64
  *     bits of each token hash; empty array -> 0L;
  *   - a NULL input array yields NULL (standard SQL null-propagation;
  *     the HOF *composition* instead yields an array of NULLs for
  *     MinHash — divergence documented here and pinned in the spec).
  */
object TextHashKernels {
  val Seed = 42L // Spark's xxhash64 default seed
  val MinHashPrime = 2147483647L // 2^31 - 1, in lockstep with TextOps

  /** xxhash64 of one array slot, mirroring `transform(arr, xxhash64)`
    * null semantics: null element -> seed. */
  @inline def slotHash(arr: ArrayData, i: Int): Long =
    if (arr.isNullAt(i)) Seed
    else XxHash64Function.hash(arr.getUTF8String(i), StringType, Seed)

  @inline def pmod(x: Long, p: Long): Long = { val m = x % p; if (m < 0) m + p else m }

  /** The integer literal a SQL call passes as a kernel's width. */
  private[plans] def intLiteral(kernel: String, param: String, e: Expression): Int =
    e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$kernel: $param must be an integer literal, got $other")
    }
}

/** MinHash signature: ARRAY<STRING> -> ARRAY<BIGINT> of k minima. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  import TextHashKernels._
  // checked when the expression is built, not per row inside a task,
  // where a non-positive k fails as a NegativeArraySizeException
  require(k >= 1, s"${MinHashSig.Name}: k must be >= 1, got $k")

  // (a_i, b_i) pairs — single source of truth is TextOps.minHashParams.
  private val as: Array[Long] = graft.llm.TextOps.minHashParams(k).map(_._1).toArray
  private val bs: Array[Long] = graft.llm.TextOps.minHashParams(k).map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = MinHashSig.Name

  /** One pass: hash each shingle once, update all k running minima. */
  def computeSig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = pmod(slotHash(arr, i), MinHashPrime)
      var j = 0
      while (j < k) {
        val v = pmod(h * as(j) + bs(j), MinHashPrime)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    computeSig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.computeSig($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val Name = "graft_minhash_sig"

  /** The kernel as a Column: resolves in any session, nothing
    * registered; fails here when `k < 1`. */
  def column(shingles: Column, k: Int): Column =
    PlanBridge.column(shingles) { case Seq(c) => MinHashSig(c, k) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$Name expects (array, k) arguments")
    MinHashSig(children.head, TextHashKernels.intLiteral(Name, "k", children(1)))
  }
}

/** Distinct word n-gram shingles: ARRAY<STRING> -> ARRAY<STRING>.
  *
  * Native twin of `HofTwins.shingles` in the specs
  * (`array_distinct(transform(sequence(1, size-n+1), i ->
  * array_join(slice(ws, i, n), " ")))`) — that composition re-allocates
  * per window in interpreted HOF evaluation and, worse, gets inlined by
  * CollapseProject into every consumer, so the round-1 jaccard-join
  * plan recomputed it per exploded token row. One compiled pass here.
  *
  * Contract (spec-pinned to the HOF twin):
  *   - windows of n consecutive words joined by " "; NULL words are
  *     skipped by the join exactly like `array_join` (no separator);
  *   - first-occurrence-order distinct, like `array_distinct`;
  *   - fewer than n words -> EMPTY array (the HOF twin is only defined
  *     under its documented `size(ws) >= n` guard — below it,
  *     `sequence(1, 0)` runs descending and `slice(ws, 0, n)` throws);
  *   - NULL input -> NULL.
  */
case class NGramShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"${NGramShingles.Name}: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = NGramShingles.Name

  def computeShingles(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(sep, window: _*)) // skips nulls, like array_join
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def nullSafeEval(input: Any): Any =
    computeShingles(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nGramShingles", this, classOf[NGramShingles].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.computeShingles($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NGramShingles =
    copy(child = newChild)
}

object NGramShingles {
  val Name = "graft_shingles"

  /** The kernel as a Column: resolves in any session, nothing
    * registered; fails here when `n < 1`. */
  def column(words: Column, n: Int): Column =
    PlanBridge.column(words) { case Seq(c) => NGramShingles(c, n) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$Name expects (array, n) arguments")
    NGramShingles(children.head, TextHashKernels.intLiteral(Name, "n", children(1)))
  }
}

/** SimHash fingerprint: ARRAY<STRING> -> BIGINT (64-bit majority vote). */
case class SimHash64(child: Expression) extends UnaryExpression {
  import TextHashKernels._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = SimHash64.Name

  /** One pass: hash each token once, accumulate 64 bit-counters,
    * strict-majority vote (c*2 > n, n counts null slots too — matches
    * the HOF's `size(tokens)`). */
  def computeHash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = slotHash(arr, i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2L > n) acc |= (1L << b)
      b += 1
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any =
    computeHash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simHash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.computeHash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  val Name = "graft_simhash64"

  /** The kernel as a Column: resolves in any session, nothing
    * registered. */
  def column(tokens: Column): Column =
    PlanBridge.column(tokens) { case Seq(c) => SimHash64(c) }

  private[plans] def builder(children: Seq[Expression]): Expression = {
    require(children.length == 1, s"$Name expects 1 argument")
    SimHash64(children.head)
  }
}
