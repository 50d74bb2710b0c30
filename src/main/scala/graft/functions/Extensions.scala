package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.core.CellId

/** Logical-optimizer rule: a `cell_in_window` predicate with LITERAL
  * bounds rewrites into the Z-range `cellId BETWEEN lo AND hi` disjuncts
  * of `CellId.zRanges` — exactly the cover compiled by TileOps, but
  * applied automatically to any plan (SQL included), so the black-box
  * spatial predicate becomes scan-prunable (Parquet row-group min/max on
  * the Z-ordered id). Non-literal bounds keep the interpreted eval. */
object RewriteCellWindowPredicates extends Rule[LogicalPlan] {

  private def lit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case orig @ CellInWindowExpr(Seq(cell, a, b, c, d, r))
          if Seq(a, b, c, d, r).forall(lit(_).isDefined) =>
        val (minRow, maxRow) = (lit(a).get, lit(b).get)
        val (minCol, maxCol) = (lit(c).get, lit(d).get)
        val res = lit(r).get.toInt
        // inverted OR entirely-off-grid (all-negative) windows match no
        // cell — fold to false instead of handing coverWindow an empty
        // clamped range. A res outside the 5-bit id field stays on the
        // interpreted eval (Long >> wraps shift counts mod 64 — a plan-
        // time rewrite must not reinterpret what runtime eval rejects).
        if (minRow > maxRow || minCol > maxCol || maxRow < 0 || maxCol < 0)
          Literal.FalseLiteral
        else if (res < 0 || res > 31) orig
        else {
          // cover size BEFORE materializing: this runs at PLAN time, and
          // an unbounded user window (e.g. 2e9 x 2e9 px) would otherwise
          // overflow coverWindow's Int allocation or OOM the driver —
          // past the cap the predicate simply stays interpreted. Spans
          // are capped PER AXIS before the product so a planet-scale
          // literal (Long.MaxValue rows) cannot wrap the multiply and
          // sneak past the cap.
          val cap = 1L << 20
          val rowSpan = (maxRow >> res) - math.max(0L, minRow >> res)
          val colSpan = (maxCol >> res) - math.max(0L, minCol >> res)
          if (rowSpan >= cap || colSpan >= cap ||
              (rowSpan + 1) * (colSpan + 1) > cap) orig
          else {
            val ranges = CellId.zRanges(
              CellId.coverWindow(math.max(0, minRow), maxRow,
                math.max(0, minCol), maxCol, res))
            if (ranges.isEmpty) Literal.FalseLiteral
            else ranges.map { case (lo, hi) =>
              if (lo == hi) EqualTo(cell, Literal(lo)): Expression
              else And(GreaterThanOrEqual(cell, Literal(lo)),
                LessThanOrEqual(cell, Literal(hi)))
            }.reduce(Or)
          }
        }
    }
}
