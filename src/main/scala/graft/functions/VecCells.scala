package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native coarse-quantizer primitives for the IVF family (e4/e6/e8):
 *
 *   `vec_best_cell(vec, cells, matrix)  -> int`
 *   `vec_top_cells(vec, cells, matrix, p) -> array<int>`
 *
 * `cells` (array<int>) and `matrix` (array<array<double>>, parallel to
 * `cells`) must be FOLDABLE literals — they are driver model state (the
 * refined centroids), evaluated once per expression and shipped to the
 * generated code as reference objects.
 *
 * Why: the previous shape built `array(struct(vec_dot(vec, lit_c0), c0),
 * struct(vec_dot(vec, lit_c1), c1), …)` — one literal VecDot PER CELL.
 * Fine at nlist=16; at a production nlist (SemDeDup uses ~10^5 cells, the
 * r6 verdict asked for 4096) the projection becomes a 10^5-node expression
 * tree that exceeds codegen limits and falls back to interpreted eval
 * (measured r7: nlist=1024 on 50k vectors already took 21.5 s — the e3
 * giant-literal lesson again). These expressions run the same loop as ONE
 * codegen'd call over a double[][] reference.
 *
 * Bit/ordering parity contract (the e4/e6/e8 oracles and OpsSpec pins
 * depend on it — each per-cell score is the exact VecDot left fold, and
 * the selection orders are exactly what the old array ops computed):
 *  - score_c = ((0.0 + v0·m_c0) + v1·m_c1) + … with each vec element cast
 *    to double first; a ragged vec (length != dim) or a null element makes
 *    that cell's score NULL (VecDot's contract);
 *  - `vec_best_cell` == `array_max(array(struct(s, cell)…)).cell`:
 *    lexicographic (s, cell) max with java.lang.Double.compare semantics,
 *    null-score structs below every real score; all-null -> max cell;
 *  - `vec_top_cells` == `slice(reverse(array_sort(array(struct(s, cell)…
 *    ))), 1, p).cell`: descending (s, cell), null-score cells after every
 *    real score (array_sort ascending puts null fields first), ties by
 *    cell descending; fewer than p cells returns them all;
 *  - NULL vec -> NULL result (null-intolerant).
 *
 * Two deliberate departures from the old array shapes (OpsSpec pins each
 * against the old shape on adversarial rows):
 *  - a NULL vec yields a NULL cell / NULL array, where the old shape
 *    scored every cell NULL and returned the max cell (all-null order);
 *  - a NaN score (a NaN element, or ±Inf times a zero matrix entry, or
 *    +Inf + -Inf in the fold) orders like a NULL score, after every real
 *    score, where Spark's ordering puts NaN above every double. ±Inf
 *    scores order normally.
 */
private[graft] object VecCells {

  /** (cellIds, matrix) decoded from the two literal children. */
  def decode(cellsLit: Expression, matrixLit: Expression): (Array[Int], Array[Array[Double]]) = {
    require(cellsLit.foldable && matrixLit.foldable,
      "vec_*_cell(s): cells and matrix must be literals (driver model state)")
    val cells = cellsLit.eval(null).asInstanceOf[ArrayData].toIntArray()
    val m = matrixLit.eval(null).asInstanceOf[ArrayData]
    val mat = Array.tabulate(m.numElements()) { i =>
      m.getArray(i).toDoubleArray()
    }
    require(cells.length == mat.length && cells.nonEmpty,
      s"vec_*_cell(s): cells (${cells.length}) and matrix (${mat.length}) must be parallel and non-empty")
    cells -> mat
  }

  /** VecDot's exact left fold against one matrix row; NaN encodes NULL
    * (a real dot can never be NaN for the finite model-state matrix —
    * and never -0.0 either, since the fold starts at +0.0). */
  private def dotOrNaN(v: ArrayData, code: Int, row: Array[Double]): Double = {
    val n = v.numElements()
    if (n != row.length) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return Double.NaN
      val e = code match {
        case VecDot.ElemDouble => v.getDouble(i)
        case VecDot.ElemFloat => v.getFloat(i).toDouble
        case VecDot.ElemInt => v.getInt(i).toDouble
        case _ => v.getLong(i).toDouble
      }
      acc += e * row(i)
      i += 1
    }
    acc
  }

  /** Static forwarder for generated code (argmax). */
  def bestCell(v: ArrayData, code: Int, cells: Array[Int],
               mat: Array[Array[Double]]): Int = {
    var haveReal = false
    var bestS = 0.0
    var bestCell = 0
    var bestNullCell = Int.MinValue
    var c = 0
    while (c < cells.length) {
      val s = dotOrNaN(v, code, mat(c))
      if (java.lang.Double.isNaN(s)) {
        if (cells(c) > bestNullCell) bestNullCell = cells(c)
      } else {
        val cmp = if (haveReal) java.lang.Double.compare(s, bestS) else 1
        if (cmp > 0 || (cmp == 0 && cells(c) > bestCell)) {
          haveReal = true; bestS = s; bestCell = cells(c)
        }
      }
      c += 1
    }
    if (haveReal) bestCell else bestNullCell
  }

  /** Static forwarder for generated code (top-p by (s desc, cell desc),
    * null scores after every real one). */
  def topCells(v: ArrayData, code: Int, cells: Array[Int],
               mat: Array[Array[Double]], p: Int): ArrayData = {
    val n = cells.length
    val scores = new Array[Double](n)
    var c = 0
    while (c < n) { scores(c) = dotOrNaN(v, code, mat(c)); c += 1 }
    // order: real scores by (s desc, cell desc), then null-score cells by
    // cell desc — exactly reverse(array_sort asc with null fields first)
    def better(i: Int, j: Int): Boolean = {
      val ni = java.lang.Double.isNaN(scores(i))
      val nj = java.lang.Double.isNaN(scores(j))
      if (ni != nj) nj // the real one wins
      else if (!ni) {
        val cmp = java.lang.Double.compare(scores(i), scores(j))
        cmp > 0 || (cmp == 0 && cells(i) > cells(j))
      } else cells(i) > cells(j)
    }
    val k = math.min(p, n)
    val idx = Array.range(0, n)
    // partial selection sort: k passes over n — p and nlist are both model
    // state, never corpus-sized
    var out = 0
    while (out < k) {
      var best = out
      var j = out + 1
      while (j < n) { if (better(idx(j), idx(best))) best = j; j += 1 }
      val t = idx(out); idx(out) = idx(best); idx(best) = t
      out += 1
    }
    new GenericArrayData(Array.tabulate(k)(i => cells(idx(i))))
  }
}

/** `vec_best_cell(vec, cells, matrix) -> int` — see [[VecCells]]. */
case class VecBestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val (cellIds, mat) = VecCells.decode(second, third)
  @transient private lazy val vecCode: Int = first.dataType match {
    case ArrayType(DoubleType, _) => VecDot.ElemDouble
    case ArrayType(FloatType, _) => VecDot.ElemFloat
    case ArrayType(IntegerType, _) => VecDot.ElemInt
    case _ => VecDot.ElemLong
  }

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (vecOk && second.dataType.isInstanceOf[ArrayType] &&
        third.dataType.isInstanceOf[ArrayType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_best_cell(vec array<numeric>, cells array<int>, matrix array<array<double>>), " +
        s"got ${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override protected def nullSafeEval(v: Any, c: Any, m: Any): Any =
    VecCells.bestCell(v.asInstanceOf[ArrayData], vecCode, cellIds, mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cellIds, "int[]")
    val matRef = ctx.addReferenceObj("mat", mat, "double[][]")
    val code = vecCode
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      s"${ev.value} = graft.functions.VecCells.bestCell($v, $code, $cellsRef, $matRef);"
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecBestCell = copy(f, s, t)

  override def prettyName: String = "vec_best_cell"
}

/** `vec_top_cells(vec, cells, matrix, p) -> array<int>` — see [[VecCells]]. */
case class VecTopCells(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val (cellIds, mat) = VecCells.decode(second, third)
  @transient private lazy val p: Int = {
    require(fourth.foldable, "vec_top_cells: p must be a literal")
    val v = fourth.eval(null).asInstanceOf[Number].intValue()
    require(v >= 0, s"vec_top_cells: p must be >= 0, got $v")
    v
  }
  @transient private lazy val vecCode: Int = first.dataType match {
    case ArrayType(DoubleType, _) => VecDot.ElemDouble
    case ArrayType(FloatType, _) => VecDot.ElemFloat
    case ArrayType(IntegerType, _) => VecDot.ElemInt
    case _ => VecDot.ElemLong
  }

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (vecOk && second.dataType.isInstanceOf[ArrayType] &&
        third.dataType.isInstanceOf[ArrayType] &&
        (fourth.dataType == IntegerType || fourth.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_top_cells(vec array<numeric>, cells array<int>, matrix array<array<double>>, p int), " +
        s"got ${first.dataType} / ${second.dataType} / ${third.dataType} / ${fourth.dataType}")
  }

  override protected def nullSafeEval(v: Any, c: Any, m: Any, pp: Any): Any =
    VecCells.topCells(v.asInstanceOf[ArrayData], vecCode, cellIds, mat, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cellIds, "int[]")
    val matRef = ctx.addReferenceObj("mat", mat, "double[][]")
    val code = vecCode
    val pv = p
    nullSafeCodeGen(ctx, ev, (v, _, _, _) => {
      s"${ev.value} = graft.functions.VecCells.topCells($v, $code, $cellsRef, $matRef, $pv);"
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): VecTopCells =
    copy(f, s, t, q)

  override def prettyName: String = "vec_top_cells"
}
