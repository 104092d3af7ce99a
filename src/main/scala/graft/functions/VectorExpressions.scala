package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

private[functions] trait FloatArrayInputs { self: BinaryExpression =>
  // AbstractDataType (hence ExpectsInputTypes) is private[sql] in Spark 4,
  // so validate shapes directly.
  def checkFloatArrays(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got " +
          s"${l.simpleString(10)} and ${r.simpleString(10)}")
    }
}

/** Native Catalyst expression for cosine similarity over `array<float>`
  * embedding columns.
  *
  * Why not `zip_with`+`aggregate`: Spark's higher-order-function lambdas
  * are interpreted per element (no codegen), which at 100 TB × 64-dim
  * pair-scans is the hot loop. This expression generates a tight Java
  * loop inside WholeStageCodegen instead.
  *
  * Determinism contract (oracle parity): a strict left-to-right fold in
  * doubles — `dot += x(i)*y(i)` ascending — matching DuckDB
  * `list_reduce(..., (a,b) -> a+b)`; float→double widening is exact, so
  * both engines produce bit-identical doubles.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays()
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // NULL result (never NaN) for mismatched lengths or zero-norm inputs:
  // NaN sorts as the LARGEST double in Spark, so a zero/padding vector
  // would otherwise rank as every probe's top neighbor; null sorts last
  // under DESC and signals the data problem. Null ELEMENTS read as 0.0
  // (ArrayData contract) — documented, deterministic.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product twin of [[CosineSim]] (same fold order; null on length
  * mismatch — a dimension mixup must not silently truncate). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayInputs {

  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrays()
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm with the same left-fold contract as [[CosineSim]]'s
  * denominator terms: `sqrt(Σ x_i²)` accumulated ascending — so
  * `dot_product(a,b) / (vec_norm(a) * vec_norm(b))` is bit-identical to
  * `cosine_sim(a,b)`. Precomputing norms once per row turns the ANN
  * pair-scan's per-pair cost from 3 folds into 1. */
case class VecNorm(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_norm requires array<float>, got ${t.simpleString(10)}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var na = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      na += xi * xi; i += 1
    }
    math.sqrt(na)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val xi = ctx.freshName("xi")
      s"""
         |int $n = $c.numElements();
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $c.getFloat($i);
         |  $na += $xi * $xi;
         |}
         |${ev.value} = java.lang.Math.sqrt($na);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid argmin for the bit-reproducible quantized-Lloyd's
  * trainer ([[graft.operators.IvfIndex]]): given the broadcast centroid
  * array `cs` (array<struct<cell:int, c:array<double>>>, cell-sorted)
  * and a quantized feature vector `qv` (array<bigint>), returns
  * struct(dist double, cell int) — the minimum over cells of the
  * dimension-order left fold Σ ((double) qv_j − c_j)², ties on dist
  * broken by smaller cell.
  *
  * Why native: the HOF form — `array_min(transform(cs, cc ->
  * struct(aggregate(zip_with(qv, cc.c, ...)), cc.cell)))` — evaluates
  * interpreted lambdas per CELL × DIM (nCells × dims × ~3 expression-
  * tree dispatches per row); this is two tight primitive loops.
  *
  * Bit-exactness contract (the oracle replays training): the fold is
  * the identical left-to-right IEEE double accumulation in dimension
  * order — `acc += (x − y) * (x − y)` ascending j — and the min is the
  * identical struct ordering (dist first — a NULL dist sorts SMALLEST,
  * as Spark's struct ordering puts nulls first — then cell). NULL
  * handling mirrors the HOF chain exactly: a length mismatch or any
  * NULL element makes that cell's dist NULL (zip_with pads with nulls
  * and `acc + null` is null); NULL struct elements are skipped
  * (array_min semantics); an empty/NULL cs yields NULL. Distances are
  * sums of squares, so only +0.0 and finite positives occur — primitive
  * comparison equals Spark's double ordering here. */
case class KmNearest(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _),
          ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"km_nearest requires (array<struct<cell:int, c:array<double>>>, " +
          s"array<bigint>), got ${l.simpleString(60)} and ${r.simpleString(20)}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType, nullable = true),
    StructField("cell", IntegerType, nullable = true)))
  override def prettyName: String = "km_nearest"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    KmNearest.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.KmNearest.compute($a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object KmNearest {
  def compute(cs: ArrayData, qv: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val nc = cs.numElements()
    val nq = qv.numElements()
    var qvHasNull = false
    var i = 0
    while (i < nq && !qvHasNull) {
      if (qv.isNullAt(i)) qvHasNull = true
      i += 1
    }
    var found = false
    var bestNull = false; var bestD = 0.0
    var bestCellNull = false; var bestCell = 0
    var k = 0
    while (k < nc) {
      if (!cs.isNullAt(k)) { // array_min skips null elements
        val cc = cs.getStruct(k, 2)
        val cellNull = cc.isNullAt(0)
        val cell = if (cellNull) 0 else cc.getInt(0)
        var dNull = qvHasNull
        var d = 0.0
        if (!dNull) {
          if (cc.isNullAt(1)) dNull = true
          else {
            val cv = cc.getArray(1)
            if (cv.numElements() != nq) dNull = true // zip_with null pad
            else {
              var j = 0
              while (j < nq && !dNull) {
                if (cv.isNullAt(j)) dNull = true
                else {
                  val diff = qv.getLong(j).toDouble - cv.getDouble(j)
                  d += diff * diff
                  j += 1
                }
              }
            }
          }
        }
        val less =
          if (!found) true
          else if (dNull != bestNull) dNull // null dist sorts first
          else if (!dNull && d != bestD) d < bestD
          else if (cellNull != bestCellNull) cellNull
          else if (!cellNull) cell < bestCell
          else false
        if (less) {
          found = true
          bestNull = dNull; bestD = d
          bestCellNull = cellNull; bestCell = cell
        }
      }
      k += 1
    }
    if (!found) return null
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(2)
    if (bestNull) row.setNullAt(0) else row.setDouble(0, bestD)
    if (bestCellNull) row.setNullAt(1) else row.setInt(1, bestCell)
    row
  }
}
