package graft.core

/** Planar hierarchical cell index — H3/S2-*semantics* over a projected-meter
  * grid (the reference mandates projected CRS + square cells,
  * `spatial_analysis.py:12-15`, so a planar Z-order index is faithful;
  * SURVEY.md §7.3).
  *
  * A cell at resolution `res` is a block of `2^res × 2^res` pixels of the
  * global pixel grid (anchored at the grid's top-left pixel (row=0, col=0)).
  * Larger `res` = coarser cell (parent = res+1), mirroring a tile pyramid;
  * e.g. res 8 → 256×256-pixel tiles.
  *
  * 64-bit id layout: [res: 5 bits][z-interleaved (cx, cy): 58 bits]
  * with cx from the column index, cy from the row index. Z-ordering makes
  * covers range-contiguous, so Parquet min/max pruning and range-bucketed
  * sort-merge joins work on the raw long.
  */
object CellId {
  final val MaxRes = 28

  /** Interleave the low 29 bits of x into even bit positions. */
  private def spread(v: Long): Long = {
    var x = v & 0x1FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  private def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
    x
  }

  /** Z-order (Morton) code of cell coords. */
  def zOrder(cx: Long, cy: Long): Long = spread(cx) | (spread(cy) << 1)

  def encode(res: Int, cx: Long, cy: Long): Long = {
    require(res >= 0 && res <= MaxRes, s"res out of range: $res")
    // spread() keeps 29 bits per axis — out-of-range coords would alias
    // to WRONG cells (silently merged buckets), so fail loudly instead
    require(((cx | cy) >>> 29) == 0,
      s"cell coords out of the 29-bit lattice: ($cx, $cy)")
    (res.toLong << 58) | zOrder(cx, cy)
  }

  def res(id: Long): Int = ((id >>> 58) & 0x1FL).toInt
  private def zPart(id: Long): Long = id & ((1L << 58) - 1)
  def cx(id: Long): Long = compact(zPart(id))
  def cy(id: Long): Long = compact(zPart(id) >>> 1)

  /** Cell containing pixel (row, col) at resolution res. */
  def ofPixel(row: Long, col: Long, res: Int): Long =
    encode(res, col >> res, row >> res)

  /** Parent at res+1 (coarser). */
  def parent(id: Long): Long = {
    val r = res(id)
    require(r < MaxRes, "already at coarsest resolution")
    encode(r + 1, cx(id) >> 1, cy(id) >> 1)
  }

  /** Four children at res-1 (finer), in Z order. */
  def children(id: Long): Array[Long] = {
    val r = res(id)
    require(r > 0, "already at finest resolution")
    val x = cx(id) << 1
    val y = cy(id) << 1
    Array(encode(r - 1, x, y), encode(r - 1, x + 1, y),
      encode(r - 1, x, y + 1), encode(r - 1, x + 1, y + 1))
  }

  /** 8-neighborhood (excludes self); negative coords dropped. */
  def neighbors(id: Long): Array[Long] = kRingAt(id, 1, includeSelf = false)

  /** All cells within Chebyshev distance k (the H3-style k-ring, square
    * lattice variant). */
  def kRing(id: Long, k: Int): Array[Long] = kRingAt(id, k, includeSelf = true)

  /** kRing clamped to the valid bucket lattice [0, maxCx] x [0, maxCy].
    * Escalation rings near the exhaustive bound otherwise emit
    * O((2k+1)^2) queries mostly addressed to buckets OUTSIDE the grid —
    * pure shuffle volume (empty buckets only return sentinels). */
  def kRingClamped(id: Long, k: Int, maxCx: Long, maxCy: Long): Array[Long] = {
    val r = res(id)
    val x = cx(id)
    val y = cy(id)
    val x0 = math.max(0L, x - k); val x1 = math.min(maxCx, x + k)
    val y0 = math.max(0L, y - k); val y1 = math.min(maxCy, y + k)
    if (x0 > x1 || y0 > y1) return Array.empty
    val n = (x1 - x0 + 1) * (y1 - y0 + 1)
    require(n <= (1L << 28), // fail loudly, never a truncated .toInt alloc
      s"kRingClamped: $n cells — materialized rings are bounded at 2^28; " +
        "an exhaustive ring over a lattice this size must batch its probes")
    val buf = new Array[Long](n.toInt)
    var i = 0
    var yy = y0
    while (yy <= y1) {
      var xx = x0
      while (xx <= x1) { buf(i) = encode(r, xx, yy); i += 1; xx += 1 }
      yy += 1
    }
    buf
  }

  private def kRingAt(id: Long, k: Int, includeSelf: Boolean): Array[Long] = {
    val r = res(id)
    val x = cx(id)
    val y = cy(id)
    val buf = Array.newBuilder[Long]
    var dy = -k
    while (dy <= k) {
      var dx = -k
      while (dx <= k) {
        if ((dx != 0 || dy != 0 || includeSelf) && x + dx >= 0 && y + dy >= 0)
          buf += encode(r, x + dx, y + dy)
        dx += 1
      }
      dy += 1
    }
    buf.result()
  }

  /** Pixel window covered by a cell: (row0, col0, size) with size = 2^res. */
  def pixelWindow(id: Long): (Long, Long, Int) = {
    val r = res(id)
    val size = 1 << r
    (cy(id) * size, cx(id) * size, size)
  }

  /** Map-space extent of a cell on grid g. */
  def extent(g: GridRef, id: Long): Extent = {
    val (row0, col0, size) = pixelWindow(id)
    val left = g.left + col0 * g.cellsize
    val top = g.top - row0 * g.cellsize
    Extent(left, left + size * g.cellsize, top - size * g.cellsize, top)
  }

  /** Cells at `res` whose pixel block intersects the inclusive pixel window
    * [minRow..maxRow, minCol..maxCol] — the cover of a rectangle. */
  def coverWindow(minRow: Long, maxRow: Long, minCol: Long, maxCol: Long,
      res: Int): Array[Long] = {
    val cy0 = math.max(0L, minRow >> res)
    val cy1 = maxRow >> res
    val cx0 = math.max(0L, minCol >> res)
    val cx1 = maxCol >> res
    // an inverted or fully-off-grid window (maxRow/maxCol below the
    // clamped min) covers nothing — return empty, never a negative alloc
    if (cy1 < cy0 || cx1 < cx0) return Array.emptyLongArray
    // per-axis spans bounded BEFORE the +1/product: a planet-scale window
    // (maxRow = Long.MaxValue) would wrap the arithmetic and hand the
    // require a negative n, defeating the bound it exists to enforce
    val rowsN = cy1 - cy0 // both >= 0 here, no overflow
    val colsN = cx1 - cx0
    require(rowsN < (1L << 28) && colsN < (1L << 28) &&
      (rowsN + 1) * (colsN + 1) <= (1L << 28),
      s"coverWindow: ${rowsN + 1} x ${colsN + 1} cells — materialized " +
        "covers are bounded at 2^28; enumerate per-band or raise res")
    val n = (rowsN + 1) * (colsN + 1)
    val buf = new Array[Long](n.toInt)
    var i = 0
    var y = cy0
    while (y <= cy1) {
      var x = cx0
      while (x <= cx1) { buf(i) = encode(res, x, y); i += 1; x += 1 }
      y += 1
    }
    buf
  }

  /** Cover of a polygon (ring of (x,y) map coords) at `res` on grid g:
    * envelope cells refined by cell-extent/polygon intersection test
    * (S2-style cover, coarse but sound — a superset of touched cells). */
  def coverPolygon(g: GridRef, ring: Array[(Double, Double)], res: Int): Array[Long] = {
    var xmin = Double.MaxValue; var xmax = Double.MinValue
    var ymin = Double.MaxValue; var ymax = Double.MinValue
    ring.foreach { case (x, y) =>
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
    }
    val (rTop, cLeft) = g.map2subFrac(xmin, ymax)
    val (rBot, cRight) = g.map2subFrac(xmax, ymin)
    val minRow = math.max(0L, math.floor(rTop).toLong)
    val maxRow = math.min(g.nrows - 1L, math.ceil(rBot).toLong)
    val minCol = math.max(0L, math.floor(cLeft).toLong)
    val maxCol = math.min(g.ncols - 1L, math.ceil(cRight).toLong)
    if (minRow > maxRow || minCol > maxCol) Array.empty
    else coverWindow(minRow, maxRow, minCol, maxCol, res)
      .filter { id =>
        val e = extent(g, id)
        // envelope refine: keep cells whose extent intersects the ring bbox;
        // exact PIP refinement happens in the burn kernel itself.
        e.intersects(Extent(xmin, xmax, ymin, ymax))
      }
  }

  /** Compile a same-res cell set into a minimal list of inclusive
    * [lo, hi] ranges over the RAW 64-bit ids: compact() S2-style, then
    * each mixed-res parent at res R covers a CONTIGUOUS id range of its
    * res-r descendants (z(child) = z(parent) << 2(R-r) | offset with
    * offset in [0, 4^(R-r))), and adjacent ranges merge. A w x h tile
    * window compiles to O(perimeter) BETWEEN predicates instead of w*h
    * IN literals — plans stay small and Parquet min/max stats prune. */
  def zRanges(ids: Array[Long]): Array[(Long, Long)] = {
    if (ids.isEmpty) return Array.empty
    val r = res(ids(0))
    val ranges = compact(ids).map { id =>
      val d = res(id) - r
      val base = (r.toLong << 58) | (zPart(id) << (2 * d))
      (base, base + (1L << (2 * d)) - 1)
    }.sortBy(_._1)
    val out = Array.newBuilder[(Long, Long)]
    var lo = ranges(0)._1
    var hi = ranges(0)._2
    var i = 1
    while (i < ranges.length) {
      val (l2, h2) = ranges(i)
      if (l2 <= hi + 1) hi = math.max(hi, h2)
      else { out += ((lo, hi)); lo = l2; hi = h2 }
      i += 1
    }
    out += ((lo, hi))
    out.result()
  }

  /** Compact a set of cells S2-style: replace any 4 complete siblings by
    * their parent, repeatedly, yielding a minimal mixed-res cover union. */
  def compact(ids: Array[Long]): Array[Long] = {
    var cur: Set[Long] = ids.toSet
    var changed = true
    while (changed) {
      changed = false
      cur.filter(id => res(id) < MaxRes).groupBy(parent).foreach {
        case (p, sibs) if sibs.size == 4 =>
          cur = cur -- sibs + p
          changed = true
        case _ =>
      }
    }
    cur.toArray.sorted
  }
}
