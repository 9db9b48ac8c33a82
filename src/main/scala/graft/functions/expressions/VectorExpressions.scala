package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the dense-vector dot product — the inner
  * loop of similarity search and embedding dedup.
  *
  * Why a custom Expression: Spark's higher-order array functions
  * (`zip_with`/`aggregate`) evaluate their lambda per element through the
  * interpreter — they are excluded from whole-stage codegen, which makes
  * them the bottleneck of a brute-force ANN scan. This expression emits a
  * tight primitive loop via `doGenCode`, keeping the whole scan inside one
  * codegen stage.
  *
  * Semantics exactly mirror the higher-order formulation used elsewhere
  * (`zip_with(a, b, (x, y) => x.toDouble * y.toDouble)` summed
  * left-to-right): element casts to double before multiply, sequential
  * accumulation (bit-reproducible), null result when either side is null,
  * when lengths differ, or when any element is null.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val leftIsFloat = elemType(left) == FloatType
    val rightIsFloat = elemType(right) == FloatType
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getL = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val getR = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += (double) $a.$getL($i) * (double) $b.$getR($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd argmax over a centroid matrix: the k-means assignment step
  * `argmax_i (dot(v, c_i) - |c_i|²/2)` as ONE native expression, with the
  * centroid matrix shipped through the codegen REFERENCES array
  * (`ctx.addReferenceObj`) instead of inlined literals.
  *
  * Why this form (r16 opt round, guide "per-task work" + §1.2): the
  * literal-centroid formulation (`array(vec_dot(v, array(lit…)) - lit(n)…)`)
  * embeds every centroid VALUE in the generated Java source, so each
  * Lloyd's iteration produces a byte-different codegen class —
  * recompiling and re-JITting the hot assignment loop every round
  * (measured ~0.2-0.3 s per iteration at ANY scale; it is driver+JIT
  * time, not data time). With the matrix in `references`, the generated
  * source is byte-identical across iterations, so Spark's codegen cache
  * returns the SAME compiled class and HotSpot stays warm. A higher-order
  * `zip_with` formulation would also dodge the recompile but falls out of
  * whole-stage codegen entirely (HOFs are CodegenFallback) — wrong trade
  * at 100 TB where the per-row loop dominates.
  *
  * Semantics are EXACTLY the literal form's (same double arithmetic:
  * element-cast-to-double multiply, left-to-right accumulation, then one
  * subtraction; ties and NaN resolve to the FIRST maximal index like
  * `array_position(s, array_max(s)) - 1`), plus the r15-ADVICE fail-fast:
  * a non-null vector whose length ≠ dim, or with a null element, THROWS
  * instead of silently scoring null and sinking the row into a wrong
  * cluster (the old literal path nulled out — [[graft.ops.IvfIndex]] now
  * fails at train time too, not just at index time). A null vector stays
  * null.
  */
case class NearestCentroid(child: Expression,
    flat: Array[Double], norms2: Array[Double], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def k: Int = norms2.length

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<float|double> input, got ${other.simpleString}")
  }

  private def childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // stable, payload-free rendering: the default product rendering would
  // dump per-instance array refs into every plan string
  override def toString: String = s"nearest_centroid($child, k=$k, dim=$dim)"
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"nearest_centroid: expected $dim-dim vector, got $n")
    val isFloat = childIsFloat
    var best = 0.0
    var bestI = -1
    var i = 0
    while (i < k) {
      var s = 0.0
      val off = i * dim
      var j = 0
      while (j < dim) {
        if (v.isNullAt(j)) throw new IllegalArgumentException(
          s"nearest_centroid: null element at position $j")
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        s += x * flat(off + j)
        j += 1
      }
      s -= norms2(i)
      // first-maximal-index tie/NaN semantics of array_position(array_max)
      if (bestI < 0 || s > best || (java.lang.Double.isNaN(s) && !java.lang.Double.isNaN(best))) {
        best = s; bestI = i
      }
      i += 1
    }
    bestI
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("ncFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("ncNorms", norms2, "double[]")
    val get = if (childIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestI = ctx.freshName("bestI")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "nearest_centroid: expected $dim-dim vector, got " + $v.numElements());
         |}
         |double $best = 0.0;
         |int $bestI = -1;
         |for (int $i = 0; $i < $k; $i++) {
         |  double $s = 0.0;
         |  int $off = $i * $dim;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    if ($v.isNullAt($j)) {
         |      throw new IllegalArgumentException(
         |        "nearest_centroid: null element at position " + $j);
         |    }
         |    $s += (double) $v.$get($j) * $flatRef[$off + $j];
         |  }
         |  $s -= $normsRef[$i];
         |  if ($bestI < 0 || $s > $best ||
         |      (Double.isNaN($s) && !Double.isNaN($best))) {
         |    $best = $s; $bestI = $i;
         |  }
         |}
         |${ev.value} = $bestI;
       """.stripMargin
    })
  }

  // content equality: the case-class defaults would compare the centroid
  // arrays by reference, and semanticEquals (CSE, exchange reuse) compares
  // canonicalized forms with equals
  override def equals(other: Any): Boolean = other match {
    case o: NearestCentroid => (this eq o) || (child == o.child && dim == o.dim &&
      java.util.Arrays.equals(flat, o.flat) && java.util.Arrays.equals(norms2, o.norms2))
    case _ => false
  }
  private lazy val contentHash = java.util.Arrays.hashCode(Array[Int](
    child.hashCode, dim, java.util.Arrays.hashCode(flat), java.util.Arrays.hashCode(norms2)))
  override def hashCode(): Int = contentHash

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object VectorExpressions {

  /** Register `vec_dot` in the session's function registry (idempotent —
    * createOrReplace at query-build time, no cache needed); makes the
    * expression available to both SQL text and `call_function`.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SessionFunctions.registerIfAbsent(spark,
      "vec_dot", exprs => VecDot(exprs(0), exprs(1)))

  /** Column-level entry point for the codegen'd dot product (shared
    * registry route — see [[SessionFunctions]]).
    */
  def vecDot(a: Column, b: Column): Column =
    SessionFunctions.callRegistered("vec_dot",
      exprs => VecDot(exprs(0), exprs(1)), None, a, b)

  /** Column entry point for [[NearestCentroid]]. Direct expression
    * construction (not the registry route): the centroid matrix is a
    * DATA payload that cannot ride a function name, and the registry
    * builder would capture it per-name anyway. `norms2` is computed here
    * with the exact driver-side arithmetic the literal form used
    * (`c.map(x => x*x).sum / 2.0`, left-to-right), so scores are
    * bit-identical. That includes a zero score: the accumulator starts at
    * +0.0 on both sides, so a score is never -0.0, and `array_max` /
    * `array_position` treat 0.0 and -0.0 as equal anyway; a zero tie
    * goes to the first index on both sides, interpreted and codegen
    * (pinned in IvfIndexSpec).
    */
  def nearestCentroid(v: Column, centroids: Seq[Array[Double]]): Column = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"ragged centroids: expected dim $dim")
    val flat = new Array[Double](centroids.size * dim)
    centroids.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c, 0, flat, i * dim, dim)
    }
    val norms2 = centroids.map(c => c.map(x => x * x).sum / 2.0).toArray
    org.apache.spark.sql.GraftInternal.column(
      NearestCentroid(org.apache.spark.sql.GraftInternal.expr(v), flat, norms2, dim))
  }
}
