package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY §2.10): the
  * higher-order-function cosine (zip_with + aggregate) walks the arrays
  * three times and allocates an intermediate array per row; these
  * expressions run one fused loop with whole-stage codegen and zero
  * allocation — the tier-(b) custom-Expression path the similarity
  * operators use on the 100 TB hot loop.
  *
  * Accepted input: array<float> or array<double> on either side (the
  * repo's native embeddings column is array<float>); element reads are
  * specialized per type, accumulation is always double. Any other type is
  * an analysis-time error, never silent garbage. (ExpectsInputTypes is not
  * implementable outside org.apache.spark.sql — AbstractDataType is
  * private[sql] — so validation goes through checkInputDataTypes.)
  */
trait VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float>/array<double> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  /** Read element i of an ArrayData as double, specialized on the declared
    * element type (resolved once at plan time, not per row). */
  protected def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  protected def rightIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  protected def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
  /** Codegen fragment reading element `i` as double. */
  protected def getter(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = leftIsFloat; val rf = rightIsFloat
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(x, i, lf) * get(y, i, rf); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(x, i, leftIsFloat)} * ${getter(y, i, rightIsFloat)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Single-pass cosine similarity: one loop accumulates dot, |a|², |b|².
  * Accumulation order per accumulator matches the sequential HOF form, so
  * results are bit-identical to aggregate(zip_with(...)) — asserted in
  * VectorOpsSpec. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = leftIsFloat; val rf = rightIsFloat
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = get(x, i, lf); val yv = get(y, i, rf)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${getter(x, i, leftIsFloat)};
         |  double $yv = ${getter(y, i, rightIsFloat)};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment in ONE fused loop: argmin over k squared
  * L2 distances, first minimal index on ties — the encode kernel behind
  * [[graft.ext.Similarity.ivfAssign]] (sim23's delta-append, d50's
  * planted batch, d51's incremental candidates). The HOF form it
  * replaces (`transform(centersLit, c -> aggregate(zip_with(...)))`)
  * runs k interpreted lambdas per row, allocates k intermediate arrays
  * AND a k-element distance array, then re-scans it twice (array_min +
  * array_position) — measured as the dominant cost of the 10× d51
  * probe (r15 receipt). This expression is zero-allocation,
  * whole-stage-codegen, and BIT-IDENTICAL FOR EQUAL-DIMENSION INPUTS
  * (what VectorOpsSpec pins, and what every caller feeds — centers are
  * trained FROM the embedding column, so dims match by construction):
  * per-center accumulation order matches the sequential zip_with sum,
  * and the strict `<` scan keeps the first minimal index exactly like
  * array_position on the array_min value. Two edges are scoped
  * (advisor r15): an EMPTY centers array returns NULL (mirroring the
  * HOF form, whose array_min over zero distances is NULL — not a
  * silent cell 0); a dim-MISMATCHED center competes on the shared
  * prefix min(lengths) where the HOF form would yield a NULL distance
  * array_min skips — malformed training output, outside the
  * bit-identity claim.
  *
  * left = the embedding (array<float|double>); right = the k×d centroid
  * matrix (array<array<float|double>>, in practice ONE folded Literal —
  * pass it via typedLit, never a CreateArray tree of k·d literal nodes,
  * which costs plan size and analysis time at k in the thousands). */
case class VecArgminCell(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "vec_argmin_cell"
  override def dataType: DataType = IntegerType
  // NULL on empty centers (k=0) even when both inputs are non-null
  override def nullable: Boolean = true

  private def scalarElem(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (scalarElem(left.dataType), right.dataType) match {
      case (Some(_), ArrayType(inner, _)) if scalarElem(inner).isDefined =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, " +
          s"array<array<float|double>>), got " +
          s"${left.dataType.catalogString} and " +
          s"${right.dataType.catalogString}")
    }

  private def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private def centerIsFloat: Boolean = right.dataType match {
    case ArrayType(ArrayType(FloatType, _), _) => true
    case _                                     => false
  }
  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
  private def getter(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    val lf = leftIsFloat; val cf = centerIsFloat
    val k = cs.numElements()
    if (k == 0) return null
    var bestIdx = 0
    var best = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val c = cs.getArray(j)
      val n = math.min(e.numElements(), c.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = get(e, i, lf) - get(c, i, cf)
        s += d * d
        i += 1
      }
      if (s < best) { best = s; bestIdx = j }
      j += 1
    }
    bestIdx
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, cs) => {
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      s"""
         |int $k = $cs.numElements();
         |if ($k == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $bestIdx = 0;
         |  double $best = Double.POSITIVE_INFINITY;
         |  for (int $j = 0; $j < $k; $j++) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $c = $cs.getArray($j);
         |    int $n = java.lang.Math.min($e.numElements(), $c.numElements());
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $d = ${getter(e, i, leftIsFloat)} - ${getter(c, i, centerIsFloat)};
         |      $s += $d * $d;
         |    }
         |    if ($s < $best) { $best = $s; $bestIdx = $j; }
         |  }
         |  ${ev.value} = $bestIdx;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecArgminCell =
    copy(left = newLeft, right = newRight)
}

/** Centered affine projection in ONE fused codegen loop:
  * y_j = Σ_i (x_i − μ_i)·B_{j,i} for each row j of the (possibly
  * pre-scaled) basis — the per-row kernel behind sim33/sim34/sim35's
  * PCA projection ([[graft.ext.Similarity.pcaProjectFrame]]). The
  * typed-mapPartitions form it can replace deserializes every row to
  * (Long, Seq[Double]) and back through the Dataset codec; this
  * expression keeps the scan inside whole-stage codegen, reading the
  * arrays directly from Tungsten rows and allocating only the r-double
  * output (the receipt that adjudicates which form serves is
  * BENCH_LOCAL_r20_projection_expr.json). Accumulation order per
  * output coordinate matches the scalar loop exactly (i ascending,
  * then the j-row scale folded INTO the basis row by the caller), so
  * the two forms are bit-identical for unit scales. mu/basis arrive as
  * ONE folded Literal each (typedLit — the VecArgminCell plan-size
  * rule). A dim mismatch accumulates over the shared prefix
  * min(lengths), like the sibling expressions. */
case class VecProject(first: Expression, second: Expression,
                      third: Expression) extends TernaryExpression {
  override def prettyName: String = "vec_project"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def scalarElem(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (scalarElem(first.dataType), scalarElem(second.dataType),
      third.dataType) match {
      case (Some(_), Some(_), ArrayType(inner, _))
          if scalarElem(inner).isDefined =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double> emb, " +
          "array<float|double> mu, array<array<float|double>> basis), " +
          s"got ${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString}")
    }

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private def embIsFloat: Boolean = isFloat(first.dataType)
  private def muIsFloat: Boolean = isFloat(second.dataType)
  private def basisIsFloat: Boolean = third.dataType match {
    case ArrayType(ArrayType(FloatType, _), _) => true
    case _                                     => false
  }
  private def get(a: ArrayData, i: Int, f: Boolean): Double =
    if (f) a.getFloat(i).toDouble else a.getDouble(i)
  private def getter(arr: String, i: String, f: Boolean): String =
    if (f) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  override def nullSafeEval(e: Any, m: Any, b: Any): Any = {
    val x = e.asInstanceOf[ArrayData]
    val mu = m.asInstanceOf[ArrayData]
    val bs = b.asInstanceOf[ArrayData]
    val ef = embIsFloat; val mf = muIsFloat; val bf = basisIsFloat
    val r = bs.numElements()
    val y = new Array[Double](r)
    var j = 0
    while (j < r) {
      val row = bs.getArray(j)
      val n = math.min(math.min(x.numElements(), mu.numElements()),
        row.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += (get(x, i, ef) - get(mu, i, mf)) * get(row, i, bf)
        i += 1
      }
      y(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, mu, bs) => {
      val r = ctx.freshName("r")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val y = ctx.freshName("y")
      s"""
         |int $r = $bs.numElements();
         |double[] $y = new double[$r];
         |for (int $j = 0; $j < $r; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $bs.getArray($j);
         |  int $n = java.lang.Math.min(
         |    java.lang.Math.min($x.numElements(), $mu.numElements()),
         |    $row.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (${getter(x, i, embIsFloat)} - ${getter(mu, i, muIsFloat)})
         |      * ${getter(row, i, basisIsFloat)};
         |  }
         |  $y[$j] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($y);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): VecProject =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorOps {
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  def vecProject(emb: Column, mu: Column, basis: Column): Column =
    column(VecProject(expression(emb), expression(mu), expression(basis)))

  def vecArgminCell(emb: Column, centers: Column): Column =
    column(VecArgminCell(expression(emb), expression(centers)))

  def vecDot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def vecCosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
