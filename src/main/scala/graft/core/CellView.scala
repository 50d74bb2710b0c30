package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The block→cell view: the one place a tile or bucket result becomes
  * `(row, col, fields…)` rows. A kernel answers a block of cells in
  * primitive arrays, one row per block; this view makes the cells with one
  * `posexplode` and an `element_at` per field, all in generated code, so
  * nothing downstream builds an object per cell.
  *
  * A block frame has `row0`, `col0`, `w` (a block `w` cells wide at global
  * cell `(row0, col0)`) and one array column per field, either
  *  - dense: each field holds every cell of the block, row-major; or
  *  - sparse: an `at: array<int>` column lists the local row-major indices
  *    of the answered cells, and each field holds one entry per index.
  *
  * Per-cell row builders outside this view, and why: `Viewshed` (rows per
  * observer target), `Focal` and `DistanceTransform` (row and column strip
  * shuffles, not tile blocks), the escalation rounds of `Delaunay` and of
  * the k-nearest solver (one row per open cell by design),
  * `GridInterpolate.explodeCells` (its x/y must stay `GridRef.sub2map`'s
  * arithmetic) and `CostDistance.leastCostPath` (a driver walk). */
object CellView {

  /** The cells of `blocks`: `row` and `col` of type `index` (Int or Long),
    * then `fields` under their own names. `keep`, a predicate over those
    * columns, replaces the default rule: a dense block keeps the cells
    * whose first (key) field is not NaN, a sparse block every listed cell. */
  def apply(blocks: DataFrame, index: DataType, fields: Seq[String],
      keep: Option[Column] = None): DataFrame = {
    val sparse = blocks.columns.contains("at")
    val key = fields.head
    val carried = Seq(col("row0"), col("col0"), col("w")) ++ fields.map(col)
    val exploded =
      if (sparse) blocks.select(carried :+ posexplode(col("at")).as(Seq("_j", "_i")): _*)
      else blocks.select(carried :+ posexplode(col(key)).as(Seq("_i", "_v")): _*)
    // DIV, % and element_at are nullable in Catalyst (a zero divisor or an
    // index past the end gives null). Every block has w > 0 and one entry
    // per index, so a literal fallback only restores the non-null type.
    def nonNull(c: Column, t: DataType): Column = coalesce(c.cast(t), lit(0).cast(t))
    def field(f: String): Column = {
      val e = element_at(col(f), (if (sparse) col("_j") else col("_i")) + 1)
      if (!sparse && f == key) col("_v")
      else blocks.schema(f).dataType match {
        case ArrayType(t, false) => nonNull(e, t)
        case _ => e
      }
    }
    val cells = exploded.select(
      nonNull(col("row0") + expr("_i DIV w"), index).as("row") +:
        nonNull(col("col0") + col("_i") % col("w"), index).as("col") +:
        fields.map(f => field(f).as(f)): _*)
    keep.orElse(if (sparse) None else Some(!isnan(col(key)))).fold(cells)(cells.where)
  }

  /** The cells of tiles: each payload is a dense block of field `field`. */
  def ofTiles(tiles: Dataset[Tile], field: String, index: DataType,
      keep: Option[Column] = None): DataFrame =
    apply(tiles.select(col("row0"), col("col0"), col("w"), col("payload").as(field)),
      index, Seq(field), keep)
}
