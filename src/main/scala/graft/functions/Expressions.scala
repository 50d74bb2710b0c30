package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.core.CellId

/** Native Catalyst expressions for the hot cell math — codegen'd (doGenCode
  * emits a static call that stays inside whole-stage codegen; no UDF
  * boxing, null-safety from the Unary/TernaryExpression contracts). */

/** cell_of(row, col, res) -> Z-order cell id (LongType). */
case class CellOfExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(first, second).forall(e =>
      e.dataType == LongType || e.dataType == IntegerType) &&
      third.dataType == IntegerType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cell_of expects (int/long, int/long, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }

  private def asLong(v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
  }

  override protected def nullSafeEval(r: Any, c: Any, res: Any): Any =
    CellId.ofPixel(asLong(r), asLong(c), res.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, c, res) =>
      s"graft.core.CellId.ofPixel((long)($r), (long)($c), (int)($res))")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** cell_parent(id) -> parent cell id at res+1. */
case class CellParentExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(id: Any): Any =
    CellId.parent(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, id => s"graft.core.CellId.parent($id)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** valid_count(array<double>) -> count of non-NaN elements (the
  * num_valid_cells kernel, Raster.py:122, as a column function). */
case class ValidCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"valid_count expects array<double>, got $t")
    }
  override protected def nullSafeEval(a: Any): Any =
    GraftFunctions.validCount(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.GraftFunctions.validCount($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** cell_in_window(cell, minRow, maxRow, minCol, maxCol, res) -> true when
  * `cell` is a res-`res` cell whose pixel block intersects the inclusive
  * window. OPAQUE to Catalyst (a black-box predicate can't prune scans):
  * a scan-prunable window filter is the Z-range cover TileOps compiles
  * from `CellId.zRanges`. */
case class CellInWindowExpr(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.length == 6, "cell_in_window takes 6 args")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      def l(a: Any): Long = a match {
        case x: java.lang.Long => x
        case x: java.lang.Integer => x.toLong
      }
      GraftFunctions.cellInWindow(l(vs(0)), l(vs(1)), l(vs(2)), l(vs(3)),
        l(vs(4)), l(vs(5)).toInt)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object GraftFunctions {

  /** interpreted kernel for cell_in_window. An INVERTED window
    * (minRow > maxRow or minCol > maxCol) is an empty set of pixels and
    * matches nothing; without the explicit check, a cell whose pixel
    * block straddles both inverted bounds would satisfy the two
    * interval comparisons. */
  def cellInWindow(cell: Long, minRow: Long, maxRow: Long, minCol: Long,
      maxCol: Long, res: Int): Boolean = {
    if (CellId.res(cell) != res || minRow > maxRow || minCol > maxCol) false
    else {
      val (r0, c0, size) = CellId.pixelWindow(cell)
      r0 <= maxRow && r0 + size - 1 >= minRow &&
        c0 <= maxCol && c0 + size - 1 >= minCol
    }
  }

  /** static kernel shared by interpreted + generated code paths */
  def validCount(a: ArrayData): Long = {
    var n = 0L
    var i = 0
    val len = a.numElements()
    while (i < len) {
      if (!a.isNullAt(i) && !java.lang.Double.isNaN(a.getDouble(i))) n += 1
      i += 1
    }
    n
  }

  // (Spark 4's unified Column API no longer exposes .expr — these land in
  // SQL space via registration; use selectExpr/expr("cell_of(...)").)

  /** Register for SQL use: cell_of / cell_parent / valid_count. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cell_of",
      exprs => CellOfExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction("cell_parent",
      exprs => CellParentExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("valid_count",
      exprs => ValidCountExpr(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("cell_in_window",
      exprs => CellInWindowExpr(exprs), "built-in")
  }
}
