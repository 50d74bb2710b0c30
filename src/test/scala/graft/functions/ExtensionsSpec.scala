package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class ExtensionsSpec extends AnyFunSuite {

  test("interpreted cell_in_window agrees with the plan-time fold on " +
      "inverted windows") {
    // a res-4 cell covers pixel rows/cols 0-15: with bounds (10, 5) the
    // two interval comparisons alone would BOTH pass (0 <= 5 and
    // 15 >= 10), but an inverted window is an empty pixel set, so the
    // kernel must return false, as an empty Z-range cover of the window
    // (CellId.coverWindow) would
    val cell = CellId.encode(4, 0, 0)
    assert(!GraftFunctions.cellInWindow(cell, 10, 5, 0, 15, 4))
    assert(!GraftFunctions.cellInWindow(cell, 0, 15, 10, 5, 4))
    // non-inverted single-row window still matches
    assert(GraftFunctions.cellInWindow(cell, 10, 10, 0, 15, 4))
  }
}
