package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core._

/** Delaunay `linear` scattered->grid interpolation — the reference
  * `point_interpolate(method='linear')` (Raster.py:421-426, scipy
  * griddata = Qhull Delaunay + barycentric interpolation), re-expressed
  * distributed with EXACTNESS restored by a circumcircle-containment
  * proof:
  *
  * A triangle of a LOCAL Delaunay triangulation (built over the points
  * gathered from a k-ring of buckets) is also a triangle of the GLOBAL
  * triangulation whenever its circumcircle lies entirely inside the
  * gathered region — no ungathered point can sit inside that circle, and
  * Delaunay triangles are exactly the empty-circumcircle triangles. So a
  * cell whose containing triangle passes the containment test is EXACT;
  * cells that fail (or fall outside the local hull) escalate with a
  * doubled ring, and at the exhaustive ring every point is present so the
  * result (value, or NaN outside the global hull) is exact by
  * construction. Each round gathers POINTS to the buckets that still hold
  * unresolved cells (the cells never move), on the shared
  * [[BucketLattice]] and its one escalation loop.
  *
  * Grid edges: points outside the grid clamp into edge buckets
  * ([[BucketLattice.pointBucket]]), so when a ring reaches the lattice
  * edge the gathered region extends to infinity on that side — the
  * containment proof stays sound for out-of-grid points.
  *
  * Determinism: barycentric weights are evaluated with the triangle's
  * vertices sorted by point id, so local and global triangulations of the
  * same (non-degenerate) point set produce bit-identical values.
  *
  * Degeneracy handling (documented accuracy bound, SURVEY §7.5): inputs
  * with 4+ cocircular or 3+ collinear points (regular lattices!) have
  * non-unique / degenerate triangulations, which would both corrupt
  * Bowyer-Watson cavities and break the local==global proof (a local
  * tie could resolve differently from the global one). Both paths
  * therefore apply a deterministic symbolic-perturbation jitter of
  * |delta| <= 1e-6*cellsize keyed ONLY by each point's global pid
  * ([[jitterOf]]), which makes the triangulation unique and gives every
  * predicate a margin ~1e7x above double rounding noise; the containment
  * proof shrinks the gathered region by 2*delta to cover perturbed
  * boundary points. The interpolant differs from the unperturbed ideal
  * (scipy's) by O(delta * local gradient) — values may also differ from
  * scipy's Qhull tie-break on formerly-ambiguous diagonals (both are
  * valid piecewise-linear interpolants). Fewer than 3 points or a fully
  * collinear set yield all-NaN.
  */
object Delaunay {

  /** Triangle by vertex INDEX + precomputed circumcircle. */
  final case class Tri(a: Int, b: Int, c: Int, ccx: Double, ccy: Double, rr: Double)

  private def circum(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): (Double, Double, Double) = {
    val d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if (d == 0.0) (Double.NaN, Double.NaN, Double.PositiveInfinity) // collinear
    else {
      val a2 = ax * ax + ay * ay
      val b2 = bx * bx + by * by
      val c2 = cx * cx + cy * cy
      val ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
      val uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
      val dx = ux - ax; val dy = uy - ay
      (ux, uy, dx * dx + dy * dy)
    }
  }

  /** Robust strict in-circumcircle predicate: is (qx, qy) STRICTLY inside
    * the circumcircle of triangle (a, b, c)? The determinant is evaluated
    * with coordinates translated to the query point (the classic
    * well-conditioned form) instead of comparing distance-to-precomputed-
    * center against r^2, which cancels catastrophically for the huge,
    * nearly-degenerate triangles touching super-triangle vertices.
    * Within rounding noise of zero (cocircular, e.g. the 4 corners of a
    * square) counts as NOT inside, so ties deterministically keep the
    * already-built diagonal; [[jitterOf]] makes true ties measure-zero. */
  def inCircum(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, qx: Double, qy: Double): Boolean = {
    val adx = ax - qx; val ady = ay - qy
    val bdx = bx - qx; val bdy = by - qy
    val cdx = cx - qx; val cdy = cy - qy
    val ad = adx * adx + ady * ady
    val bd = bdx * bdx + bdy * bdy
    val cd = cdx * cdx + cdy * cdy
    val det = adx * (bdy * cd - bd * cdy) -
      ady * (bdx * cd - bd * cdx) +
      ad * (bdx * cdy - bdy * cdx)
    // rounding-noise bound from the permanent (sum of |term|s): the fast
    // double evaluation is sign-exact whenever |det| exceeds ~machine-eps
    // times the permanent; jittered inputs keep genuine margins far above
    val perm = math.abs(adx) * (math.abs(bdy) * cd + bd * math.abs(cdy)) +
      math.abs(ady) * (math.abs(bdx) * cd + bd * math.abs(cdx)) +
      ad * (math.abs(bdx) * math.abs(cdy) + math.abs(bdy) * math.abs(cdx))
    val eps = 1e-13 * perm
    val orient = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val oeps = 1e-13 * (math.abs(bx - ax) * math.abs(cy - ay) +
      math.abs(by - ay) * math.abs(cx - ax))
    if (orient > oeps) det > eps
    else if (orient < -oeps) det < -eps
    else false // zero-area sliver: empty interior, never eaten
  }

  /** Deterministic symbolic-perturbation jitter, keyed ONLY by the point's
    * global pid (splitmix64), so every partition of the data perturbs a
    * given point identically — the property the local==global triangle
    * proof rests on. Returns (ux, uy) in [-1, 1). */
  def jitterOf(pid: Long): (Double, Double) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val u = (mix(pid) >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
    val w = (mix(pid ^ 0x6A09E667F3BCC909L) >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
    (u, w)
  }

  /** Jittered coordinate arrays for a pid-sorted, deduplicated point set.
    * delta is an absolute displacement bound (callers use 1e-6 * cellsize):
    * large enough that formerly-degenerate configurations get predicate
    * margins ~1e7x above double rounding noise, small enough that the
    * interpolant moves by O(delta * gradient) — far below any consumer's
    * tolerance. */
  def jittered(ps: Array[PtRec], delta: Double): (Array[Double], Array[Double]) = {
    val xs = new Array[Double](ps.length)
    val ys = new Array[Double](ps.length)
    var i = 0
    while (i < ps.length) {
      val (u, w) = jitterOf(ps(i).pid)
      xs(i) = ps(i).x + delta * u
      ys(i) = ps(i).y + delta * w
      i += 1
    }
    (xs, ys)
  }

  /** Exact-ish collinearity test on the ORIGINAL coordinates (before
    * jitter): a fully collinear input has no 2D interpolant and yields
    * all-NaN, matching the documented reference semantics. */
  def allCollinear(ps: Array[PtRec]): Boolean = {
    if (ps.length < 3) return true
    val ax = ps(0).x; val ay = ps(0).y
    var i = 1
    var bx = 0.0; var by = 0.0; var found = false
    while (i < ps.length && !found) { // first point distinct from ps(0)
      if (ps(i).x != ax || ps(i).y != ay) { bx = ps(i).x; by = ps(i).y; found = true }
      i += 1
    }
    if (!found) return true
    var j = 1
    while (j < ps.length) {
      val cross = (bx - ax) * (ps(j).y - ay) - (by - ay) * (ps(j).x - ax)
      if (cross != 0.0) return false
      j += 1
    }
    true
  }

  /** Bowyer-Watson over (x, y) arrays; returns triangles over the input
    * indices (super-triangle artifacts removed). Duplicate coordinates
    * must be pre-deduplicated by the caller.
    *
    * Points are inserted in ascending-x sweep order, which lets a
    * triangle RETIRE once its circumcircle lies entirely left of the
    * sweep line (no future point can invalidate it) — the classic
    * x-sorted optimization that turns the naive O(n^2) full-mesh scan
    * into ~O(n * active-stripe) (near O(n log n) on uniform inputs).
    * Because the jittered point set has a UNIQUE Delaunay triangulation,
    * the insertion order cannot change the result, so the local and
    * global paths still produce identical triangle sets. */
  def triangulate(xs: Array[Double], ys: Array[Double]): Array[Tri] = {
    val n = xs.length
    if (n < 3) return Array.empty
    // super-triangle enclosing everything
    var xmin = xs(0); var xmax = xs(0); var ymin = ys(0); var ymax = ys(0)
    var i = 1
    while (i < n) {
      if (xs(i) < xmin) xmin = xs(i); if (xs(i) > xmax) xmax = xs(i)
      if (ys(i) < ymin) ymin = ys(i); if (ys(i) > ymax) ymax = ys(i)
      i += 1
    }
    val dmax = math.max(xmax - xmin, ymax - ymin) max 1.0
    val mx = (xmin + xmax) / 2; val my = (ymin + ymax) / 2
    val px = Array.copyOf(xs, n + 3)
    val py = Array.copyOf(ys, n + 3)
    // The super vertices must lie OUTSIDE every circumcircle of the true
    // DT of the data, else genuine (sliver) triangles get destroyed and
    // the cavity invariant breaks. Jittered near-collinear triples have
    // circumradii up to ~L^2/jitter ~ 1e10 * dmax, so the super triangle
    // sits at ~1e14 * dmax: far beyond any real circumdisk, while the
    // translated incircle determinant stays sign-stable at that scale
    // (it degrades gracefully into a side-of-line test). Offsets are
    // asymmetric and exact binary fractions.
    val big = 1.0e14 * dmax
    px(n) = mx - big; py(n) = my - 0.5 * big
    px(n + 1) = mx + 0.25 * big; py(n + 1) = my + 1.25 * big
    px(n + 2) = mx + 1.5 * big; py(n + 2) = my - 0.75 * big

    // ascending-x insertion order (ties by index; with pid-jittered
    // coordinates exact ties are measure-zero anyway)
    val order = Array.range(0, n)
    val orderBoxed = order.map(Integer.valueOf)
    java.util.Arrays.sort(orderBoxed, (a: Integer, b: Integer) => {
      val c = java.lang.Double.compare(px(a), px(b))
      if (c != 0) c else Integer.compare(a, b)
    })

    var active = List(mkTri(px, py, n, n + 1, n + 2))
    val retired = scala.collection.mutable.ArrayBuffer[Tri]()
    var oi = 0
    while (oi < n) {
      val idx = orderBoxed(oi).intValue()
      val x = px(idx); val y = py(idx)
      // retire triangles whose circumcircle is safely left of the sweep:
      // no point at x' >= x can ever lie inside them again. The margin
      // covers float error in the cached center/radius (which is only a
      // retirement BOUND — badness itself uses the robust determinant);
      // NaN/huge-radius slivers simply never retire.
      var stillActive = List.empty[Tri]
      active.foreach { t =>
        val rad = math.sqrt(t.rr)
        val margin = 1e-6 * (rad + math.abs(t.ccx - x) + dmax)
        if (t.ccx + rad + margin < x) retired += t
        else stillActive = t :: stillActive
      }
      val (bad, good) = stillActive.partition { t =>
        inCircum(px(t.a), py(t.a), px(t.b), py(t.b), px(t.c), py(t.c), x, y)
      }
      // cavity boundary: edges of bad triangles not shared by two bad ones
      val edgeCount = scala.collection.mutable.Map[(Int, Int), Int]()
      def key(u: Int, v: Int) = if (u < v) (u, v) else (v, u)
      bad.foreach { t =>
        Seq((t.a, t.b), (t.b, t.c), (t.c, t.a)).foreach { case (u, v) =>
          val k = key(u, v)
          edgeCount(k) = edgeCount.getOrElse(k, 0) + 1
        }
      }
      // NB: .iterator first — Map.collect over pair values would rebuild
      // a Map keyed by the edge's first vertex, silently dropping any
      // second boundary edge that shares it (and corrupting the cavity)
      val boundary = edgeCount.iterator.collect { case (e, 1) => e }.toArray
      // zero-area cavity slivers are KEPT (dropping them would punch a
      // hole in the mesh and corrupt later cavities); their empty interior
      // means inCircum never eats through them and barycentric location
      // skips them (det == 0)
      active = good ++ boundary.map { case (u, v) => mkTri(px, py, u, v, idx) }
      oi += 1
    }
    (retired.iterator ++ active.iterator)
      .filter(t => t.a < n && t.b < n && t.c < n).toArray
  }

  private def mkTri(px: Array[Double], py: Array[Double],
      a: Int, b: Int, c: Int): Tri = {
    val (ccx, ccy, rr) = circum(px(a), py(a), px(b), py(b), px(c), py(c))
    Tri(a, b, c, ccx, ccy, rr)
  }

  /** Locate + barycentric-interpolate (x, y); also reports the containing
    * triangle's circumcircle for the exactness proof. Returns
    * (value, ccx, ccy, rr) or None when outside the hull. Vertices are
    * evaluated in ascending pid order (determinism across local/global). */
  def interpolate(tris: Array[Tri], pid: Array[Long], px: Array[Double],
      py: Array[Double], pv: Array[Double], x: Double, y: Double)
      : Option[(Double, Double, Double, Double)] = {
    val eps = 1e-12
    var k = 0
    while (k < tris.length) {
      val t = tris(k)
      // allocation-free bbox reject (with a margin covering the
      // barycentric tolerance) — prunes the O(T) walk to near-hits
      val x0 = px(t.a); val y0 = py(t.a)
      val x1 = px(t.b); val y1 = py(t.b)
      val x2 = px(t.c); val y2 = py(t.c)
      val mnx = math.min(x0, math.min(x1, x2)); val mxx = math.max(x0, math.max(x1, x2))
      val mny = math.min(y0, math.min(y1, y2)); val mxy = math.max(y0, math.max(y1, y2))
      val m = 1e-9 * (mxx - mnx + mxy - mny + 1.0)
      if (x >= mnx - m && x <= mxx + m && y >= mny - m && y <= mxy + m) {
        // inline sort of the vertex triple by point id (determinism
        // across local/global evaluation order, no per-pair allocation)
        var a = t.a; var b = t.b; var c = t.c
        if (pid(b) < pid(a)) { val u = a; a = b; b = u }
        if (pid(c) < pid(b)) {
          val u = b; b = c; c = u
          if (pid(b) < pid(a)) { val w = a; a = b; b = w }
        }
        val det = (py(b) - py(c)) * (px(a) - px(c)) + (px(c) - px(b)) * (py(a) - py(c))
        if (det != 0.0) {
          val l1 = ((py(b) - py(c)) * (x - px(c)) + (px(c) - px(b)) * (y - py(c))) / det
          val l2 = ((py(c) - py(a)) * (x - px(c)) + (px(a) - px(c)) * (y - py(c))) / det
          val l3 = 1.0 - l1 - l2
          if (l1 >= -eps && l2 >= -eps && l3 >= -eps)
            return Some((l1 * pv(a) + l2 * pv(b) + l3 * pv(c), t.ccx, t.ccy, t.rr))
        }
      }
      k += 1
    }
    None
  }

  /** Driver-side global oracle (tests + tiny point sets): triangulate ALL
    * points once, interpolate every cell center. */
  def interpolateGridLocal(points: Array[PtRec], ref: GridRef): Array[Double] = {
    val ps = dedup(points)
    if (allCollinear(ps)) return Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    val (xs, ys) = jittered(ps, 1e-6 * ref.cellsize)
    val vs = ps.map(_.v); val ids = ps.map(_.pid)
    val tris = triangulate(xs, ys)
    val out = Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    var r = 0
    while (r < ref.nrows) {
      var c = 0
      while (c < ref.ncols) {
        val (cx, cy) = ref.sub2map(r, c)
        interpolate(tris, ids, xs, ys, vs, cx, cy)
          .foreach { case (v, _, _, _) => out(r * ref.ncols + c) = v }
        c += 1
      }
      r += 1
    }
    out
  }

  /** Duplicate coordinates keep the LOWEST pid (deterministic; matches the
    * kNN tie rule's spirit). */
  private def dedup(points: Array[PtRec]): Array[PtRec] =
    points.groupBy(p => (p.x, p.y)).map(_._2.minBy(_.pid)).toArray.sortBy(_.pid)

  /** Reduced Clough-Tocher (HCT) C1 cubic over a Delaunay mesh — the
    * engine's `point_interpolate(method='cubic')` (Raster.py:421-426;
    * scipy's CloughTocher2DInterpolator is the same macro-element, but
    * estimates vertex gradients by a GLOBAL iterative minimization that
    * does not distribute — the engine standardizes on a deterministic
    * local estimator instead, documented below).
    *
    * Construction (validated control-point-for-control-point against a
    * full constraint-system least-squares solve, see DelaunaySpec):
    * centroid split into 3 cubic Bezier subtriangles; outer edges are
    * Hermite cubics of the vertex (value, gradient) data; the interior
    * point b111 of each sub is fixed by requiring the cross-edge NORMAL
    * derivative to vary linearly along the outer edge (the classic
    * reduced-HCT closure, which is exactly what makes two macro triangles
    * sharing an edge meet C1 — the linear normal derivative is determined
    * by the SHARED endpoint data); the centroid-adjacent points follow in
    * closed form from the internal C1 conditions, whose coefficients are
    * universal because the split point is the centroid
    * (B = 3*V0 - Vc - A gives blossom weights (3, -1, -1)):
    * q_c = (b111_sa + b111_sb + edgePt_c)/3 and b300 = (q1+q2+q3)/3.
    * The element has quadratic precision and interpolates values and
    * gradients at the vertices.
    *
    * Vertex gradients: weighted least-squares plane fit over the vertex's
    * Delaunay 1-ring (weights 1/d^2), accumulated in pid order — fully
    * deterministic given the 1-ring set, which is what the distributed
    * exactness proof pins down.
    */
  final class CtMesh(val ids: Array[Long], val xs: Array[Double],
      val ys: Array[Double], val vs: Array[Double], val tris: Array[Tri],
      gradOverride: Option[(Array[Double], Array[Double])] = None) {
    private val n = xs.length
    // incident triangle lists per vertex
    val incident: Array[Array[Int]] = {
      val cnt = new Array[Int](n)
      tris.foreach { t => cnt(t.a) += 1; cnt(t.b) += 1; cnt(t.c) += 1 }
      val out = Array.tabulate(n)(i => new Array[Int](cnt(i)))
      val fill = new Array[Int](n)
      var k = 0
      while (k < tris.length) {
        val t = tris(k)
        out(t.a)(fill(t.a)) = k; fill(t.a) += 1
        out(t.b)(fill(t.b)) = k; fill(t.b) += 1
        out(t.c)(fill(t.c)) = k; fill(t.c) += 1
        k += 1
      }
      out
    }
    /** Closed fan: every distinct 1-ring neighbor appears in exactly two
      * incident triangles (an exact combinatorial test — true iff the
      * vertex is interior to the mesh, i.e. its local 1-ring is complete). */
    val fanClosed: Array[Boolean] = Array.tabulate(n) { v =>
      if (incident(v).isEmpty) false
      else {
        val counts = scala.collection.mutable.Map[Int, Int]()
        incident(v).foreach { k =>
          val t = tris(k)
          val (u1, u2) =
            if (t.a == v) (t.b, t.c)
            else if (t.b == v) (t.a, t.c)
            else (t.a, t.b)
          counts(u1) = counts.getOrElse(u1, 0) + 1
          counts(u2) = counts.getOrElse(u2, 0) + 1
        }
        counts.valuesIterator.forall(_ == 2)
      }
    }
    /** 1/d^2-weighted least-squares gradient over the 1-ring, accumulated
      * in ascending vertex-index (= pid) order (or the supplied override —
      * element-level tests inject exact gradients). */
    val (gx, gy): (Array[Double], Array[Double]) = gradOverride.getOrElse {
      val ox = new Array[Double](n); val oy = new Array[Double](n)
      var v = 0
      while (v < n) {
        // distinct sorted neighbor indices
        val nbr = {
          val s = scala.collection.mutable.SortedSet[Int]()
          incident(v).foreach { k =>
            val t = tris(k)
            if (t.a != v) s += t.a
            if (t.b != v) s += t.b
            if (t.c != v) s += t.c
          }
          s.toArray
        }
        var sxx = 0.0; var sxy = 0.0; var syy = 0.0; var bx = 0.0; var by = 0.0
        var m = 0
        while (m < nbr.length) {
          val u = nbr(m)
          val dx = xs(u) - xs(v); val dy = ys(u) - ys(v)
          val d2 = dx * dx + dy * dy
          if (d2 > 0) {
            val w = 1.0 / d2
            val df = vs(u) - vs(v)
            sxx += w * dx * dx; sxy += w * dx * dy; syy += w * dy * dy
            bx += w * dx * df; by += w * dy * df
          }
          m += 1
        }
        val det = sxx * syy - sxy * sxy
        val scale = (sxx max syy) * (sxx max syy)
        if (det > 1e-12 * scale && scale > 0) {
          ox(v) = (syy * bx - sxy * by) / det
          oy(v) = (sxx * by - sxy * bx) / det
        } // else gradient stays 0 (collinear or empty ring)
        v += 1
      }
      (ox, oy)
    }

    // per-triangle control points, lazily built; canonical vertex order =
    // ascending index (= pid) so local and global meshes agree bit-for-bit
    private val controls = new Array[Array[Double]](tris.length)
    /** 30 control points: subs S1=(V0,V2,V3), S2=(V0,V3,V1), S3=(V0,V1,V2)
      * with 10 Bezier points each in lexicographic (i,j,k) order of
      * (P0,P1,P2) barycentric indices, i+j+k=3:
      * (0,0,3),(0,1,2),(0,2,1),(0,3,0),(1,0,2),(1,1,1),(1,2,0),(2,0,1),(2,1,0),(3,0,0) */
    def ctrl(k: Int): Array[Double] = {
      var c = controls(k)
      if (c == null) { c = buildControls(k); controls(k) = c }
      c
    }
    private val IJK = Array((0,0,3),(0,1,2),(0,2,1),(0,3,0),(1,0,2),(1,1,1),(1,2,0),(2,0,1),(2,1,0),(3,0,0))
    private val posOf: Map[(Int,Int,Int), Int] = IJK.zipWithIndex.toMap
    /** Canonical (pid-ascending) vertex ids of macro triangle k. */
    def canon(k: Int): (Int, Int, Int) = {
      val t = tris(k)
      var a = t.a; var b = t.b; var c = t.c
      if (b < a) { val u = a; a = b; b = u }
      if (c < b) { val u = b; b = c; c = u; if (b < a) { val w = a; a = b; b = w } }
      (a, b, c)
    }
    private def buildControls(k: Int): Array[Double] = {
      val (i1, i2, i3) = canon(k)
      val v1x = xs(i1); val v1y = ys(i1); val v2x = xs(i2); val v2y = ys(i2)
      val v3x = xs(i3); val v3y = ys(i3)
      val v0x = (v1x + v2x + v3x) / 3.0; val v0y = (v1y + v2y + v3y) / 3.0
      val f = Array(0.0, vs(i1), vs(i2), vs(i3))
      val gxx = Array(0.0, gx(i1), gx(i2), gx(i3))
      val gyy = Array(0.0, gy(i1), gy(i2), gy(i3))
      val vxx = Array(0.0, v1x, v2x, v3x); val vyy = Array(0.0, v1y, v2y, v3y)
      val out = new Array[Double](30)
      // corners (ca, cb) of sub s's outer edge; subs keyed 1..3
      val corner = Array((0, 0), (2, 3), (3, 1), (1, 2))
      val b111 = new Array[Double](4)
      var s = 1
      while (s <= 3) {
        val (ca, cb) = corner(s)
        val ax = vxx(ca); val ay = vyy(ca); val bx = vxx(cb); val by = vyy(cb)
        val b030 = f(ca); val b003 = f(cb)
        val b021 = f(ca) + (gxx(ca) * (bx - ax) + gyy(ca) * (by - ay)) / 3
        val b012 = f(cb) + (gxx(cb) * (ax - bx) + gyy(cb) * (ay - by)) / 3
        val b120 = f(ca) + (gxx(ca) * (v0x - ax) + gyy(ca) * (v0y - ay)) / 3
        val b102 = f(cb) + (gxx(cb) * (v0x - bx) + gyy(cb) * (v0y - by)) / 3
        val base = (s - 1) * 10
        out(base + posOf((0,3,0))) = b030; out(base + posOf((0,0,3))) = b003
        out(base + posOf((0,2,1))) = b021; out(base + posOf((0,1,2))) = b012
        out(base + posOf((1,2,0))) = b120; out(base + posOf((1,0,2))) = b102
        // b111 from the reduced normal-linearity condition: express the
        // edge normal in the SUB's barycentric direction coordinates
        val nx = by - ay; val ny = -(bx - ax)
        val m00 = ax - v0x; val m01 = bx - v0x
        val m10 = ay - v0y; val m11 = by - v0y
        val det = m00 * m11 - m01 * m10
        val n1 = (m11 * nx - m01 * ny) / det
        val n2 = (-m10 * nx + m00 * ny) / det
        val n0 = -n1 - n2
        b111(s) = (n0 * (b120 + b102) + n1 * (b030 - 2 * b021 + b012) +
          n2 * (b021 - 2 * b012 + b003)) / (2 * n0)
        out(base + posOf((1,1,1))) = b111(s)
        s += 1
      }
      // centroid-adjacent points per internal edge (V0,Vc), c = 1..3:
      // adjacent subs: c=1 -> (2,3); c=2 -> (1,3); c=3 -> (1,2)
      val q = new Array[Double](4)
      var c = 1
      while (c <= 3) {
        val e2 = f(c) + (gxx(c) * (v0x - vxx(c)) + gyy(c) * (v0y - vyy(c))) / 3
        val (sa, sb) = c match { case 1 => (2, 3); case 2 => (1, 3); case _ => (1, 2) }
        q(c) = (b111(sa) + b111(sb) + e2) / 3
        c += 1
      }
      val b300 = (q(1) + q(2) + q(3)) / 3
      s = 1
      while (s <= 3) {
        val (ca, cb) = corner(s)
        val base = (s - 1) * 10
        out(base + posOf((3,0,0))) = b300
        out(base + posOf((2,1,0))) = q(ca)
        out(base + posOf((2,0,1))) = q(cb)
        s += 1
      }
      out
    }
    /** Evaluate the CT patch of macro triangle k at (x, y) (assumed inside
      * or on the macro triangle within tolerance). */
    def evalTri(k: Int, x: Double, y: Double): Double = {
      val cpts = ctrl(k)
      val (i1, i2, i3) = canon(k)
      val v1x = xs(i1); val v1y = ys(i1); val v2x = xs(i2); val v2y = ys(i2)
      val v3x = xs(i3); val v3y = ys(i3)
      val v0x = (v1x + v2x + v3x) / 3.0; val v0y = (v1y + v2y + v3y) / 3.0
      // subtriangle with the largest minimum barycentric (deterministic)
      var bestS = 0; var bestMin = Double.NegativeInfinity
      var bl0 = 0.0; var bl1 = 0.0; var bl2 = 0.0
      var s = 1
      while (s <= 3) {
        val (p1x, p1y, p2x, p2y) = s match {
          case 1 => (v2x, v2y, v3x, v3y)
          case 2 => (v3x, v3y, v1x, v1y)
          case _ => (v1x, v1y, v2x, v2y)
        }
        val den = (p1x - v0x) * (p2y - v0y) - (p2x - v0x) * (p1y - v0y)
        val l1 = ((x - v0x) * (p2y - v0y) - (p2x - v0x) * (y - v0y)) / den
        val l2 = ((p1x - v0x) * (y - v0y) - (x - v0x) * (p1y - v0y)) / den
        val l0 = 1 - l1 - l2
        val mn = math.min(l0, math.min(l1, l2))
        if (mn > bestMin) { bestMin = mn; bestS = s; bl0 = l0; bl1 = l1; bl2 = l2 }
        s += 1
      }
      val base = (bestS - 1) * 10
      var acc = 0.0
      var t = 0
      while (t < 10) {
        val (i, j, kk) = IJK(t)
        val coef = 6.0 / (fact(i) * fact(j) * fact(kk))
        acc += coef * cpts(base + t) *
          ipow(bl0, i) * ipow(bl1, j) * ipow(bl2, kk)
        t += 1
      }
      acc
    }
    // exponents are 0..3 — plain multiplies, not 30 math.pow calls per
    // cell on the cubic hot path (Math.pow(v, 2) == v*v exactly for
    // these small integer exponents on HotSpot, verified by the r21
    // hash gate and the CT goldens)
    private def ipow(v: Double, m: Int): Double = m match {
      case 0 => 1.0; case 1 => v; case 2 => v * v; case _ => v * v * v
    }
    private def fact(m: Int): Double = m match {
      case 0 => 1.0; case 1 => 1.0; case 2 => 2.0; case _ => 6.0
    }
    /** Locate the containing macro triangle (bbox-pruned walk, barycentric
      * tolerance as [[interpolate]]) and CT-evaluate. Returns
      * (value, triangle index) or None outside the hull. */
    def eval(x: Double, y: Double): Option[(Double, Int)] = {
      val eps = 1e-12
      var k = 0
      while (k < tris.length) {
        val t = tris(k)
        val x0 = xs(t.a); val y0 = ys(t.a)
        val x1 = xs(t.b); val y1 = ys(t.b)
        val x2 = xs(t.c); val y2 = ys(t.c)
        val mnx = math.min(x0, math.min(x1, x2)); val mxx = math.max(x0, math.max(x1, x2))
        val mny = math.min(y0, math.min(y1, y2)); val mxy = math.max(y0, math.max(y1, y2))
        val m = 1e-9 * (mxx - mnx + mxy - mny + 1.0)
        if (x >= mnx - m && x <= mxx + m && y >= mny - m && y <= mxy + m) {
          val det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
          if (det != 0.0) {
            val l1 = ((y1 - y2) * (x - x2) + (x2 - x1) * (y - y2)) / det
            val l2 = ((y2 - y0) * (x - x2) + (x0 - x2) * (y - y2)) / det
            val l3 = 1.0 - l1 - l2
            if (l1 >= -eps && l2 >= -eps && l3 >= -eps)
              return Some((evalTri(k, x, y), k))
          }
        }
        k += 1
      }
      None
    }
  }

  /** Driver-side global cubic oracle: CT over the full point set. */
  def interpolateGridLocalCubic(points: Array[PtRec], ref: GridRef): Array[Double] = {
    val ps = dedup(points)
    if (allCollinear(ps)) return Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    val (xs, ys) = jittered(ps, 1e-6 * ref.cellsize)
    val mesh = new CtMesh(ps.map(_.pid), xs, ys, ps.map(_.v), triangulate(xs, ys))
    val out = Array.fill(ref.nrows * ref.ncols)(Double.NaN)
    var r = 0
    while (r < ref.nrows) {
      var c = 0
      while (c < ref.ncols) {
        val (cx, cy) = ref.sub2map(r, c)
        mesh.eval(cx, cy).foreach { case (v, _) => out(r * ref.ncols + c) = v }
        c += 1
      }
      r += 1
    }
    out
  }

  /** Distributed Clough-Tocher cubic interpolation onto `ref`'s cells.
    * Exactness: a cell is proven when its macro triangle's circumdisk lies
    * in the gathered region AND each of its three vertices has a CLOSED
    * local fan of proven triangles — then the local 1-ring equals the
    * global 1-ring, so the WLS gradients (and hence the patch) are
    * bit-identical to the global mesh's. Global-hull vertices never close
    * their fan, so their cells resolve only at the exhaustive ring. */
  def cubicBucketed(spark: SparkSession, points: Dataset[PtRec], ref: GridRef,
      res: Int): DataFrame = {
    val (left, top, cs) = (ref.left, ref.top, ref.cellsize)
    val solver: BucketSolver = { (ps, cells, region, exhaustive, delta) =>
      val (rxMin, rxMax, ryMin, ryMax) = region
      if (ps.length < 3 || allCollinear(ps)) {
        cells.iterator.map { case (r, c) => (r, c, Double.NaN, exhaustive) }
      } else {
        val (xs, ys) = jittered(ps, delta)
        val mesh = new CtMesh(ps.map(_.pid), xs, ys, ps.map(_.v),
          triangulate(xs, ys))
        // triangle proven <=> circumdisk inside the (2*delta-shrunk) region
        val provenT: Array[Boolean] = mesh.tris.map { t =>
          val rad = math.sqrt(t.rr)
          t.ccx - rad >= rxMin + 2 * delta && t.ccx + rad <= rxMax - 2 * delta &&
            t.ccy - rad >= ryMin + 2 * delta && t.ccy + rad <= ryMax - 2 * delta
        }
        val vertexExact: Array[Boolean] = Array.tabulate(xs.length) { v =>
          mesh.fanClosed(v) && mesh.incident(v).forall(provenT)
        }
        cells.iterator.map { case (r, c) =>
          val cx = left + (c + 0.5) * cs
          val cy = top - (r + 0.5) * cs
          mesh.eval(cx, cy) match {
            case Some((v, k)) =>
              val t = mesh.tris(k)
              val proven = exhaustive || (provenT(k) &&
                vertexExact(t.a) && vertexExact(t.b) && vertexExact(t.c))
              (r, c, v, proven)
            case None => (r, c, Double.NaN, exhaustive)
          }
        }
      }
    }
    gatherRounds(spark, points, ref, res)(solver)
  }

  /** Per-bucket cell solver: (deduped gathered points, unresolved (r,c)
    * cells, gathered region (rxMin,rxMax,ryMin,ryMax), exhaustive?, jitter
    * delta) => (r, c, value, proven) rows. Must be deterministic in its
    * inputs — the escalation harness re-runs unproven cells with a wider
    * gather and the exhaustive ring must be exact by construction. */
  type BucketSolver = (Array[PtRec], Array[(Int, Int)],
    (Double, Double, Double, Double), Boolean, Double)
    => Iterator[(Int, Int, Double, Boolean)]

  /** Distributed exact Delaunay-linear interpolation onto `ref`'s cells.
    * `res` = bucket resolution in pixels (bucket side = 2^res px).
    * Output: (row, col, v) with v NULL/NaN outside the global hull. */
  def linearBucketed(spark: SparkSession, points: Dataset[PtRec], ref: GridRef,
      res: Int): DataFrame = {
    val (left, top, cs) = (ref.left, ref.top, ref.cellsize)
    val solver: BucketSolver = { (ps, cells, region, exhaustive, delta) =>
      val (rxMin, rxMax, ryMin, ryMax) = region
      if (ps.length < 3 || allCollinear(ps)) {
        // no 2D interpolant from this gather; exact (all-NaN) only once
        // every point has been seen
        cells.iterator.map { case (r, c) => (r, c, Double.NaN, exhaustive) }
      } else {
        val (xs, ys) = jittered(ps, delta)
        val vs = ps.map(_.v); val ids = ps.map(_.pid)
        val tris = triangulate(xs, ys)
        cells.iterator.map { case (r, c) =>
          val cx = left + (c + 0.5) * cs
          val cy = top - (r + 0.5) * cs
          interpolate(tris, ids, xs, ys, vs, cx, cy) match {
            case Some((v, ccx, ccy, rr)) =>
              val rad = math.sqrt(rr)
              // region shrunk by 2*delta: an ungathered point just
              // outside the region may have been jittered inward
              val proven = exhaustive ||
                (ccx - rad >= rxMin + 2 * delta && ccx + rad <= rxMax - 2 * delta &&
                  ccy - rad >= ryMin + 2 * delta && ccy + rad <= ryMax - 2 * delta)
              (r, c, v, proven)
            case None => (r, c, Double.NaN, exhaustive)
          }
        }
      }
    }
    gatherRounds(spark, points, ref, res)(solver)
  }

  /** Bucketed point gather shared by the linear and cubic interpolators,
    * run by [[BucketLattice.escalate]]: each round cogroups every bucket
    * that still holds unresolved cells with the points gathered from its
    * ring; the solver marks each cell proven (exact vs the global mesh) or
    * not, and unproven cells re-run with a doubled ring until the
    * exhaustive ring (everything gathered => exact by construction). */
  private def gatherRounds(spark: SparkSession, points: Dataset[PtRec],
      ref: GridRef, res: Int)(solver: BucketSolver): DataFrame = {
    import spark.implicits._
    val lat = BucketLattice(ref, res)
    val ncols = ref.ncols
    val (left, top, bucketW) = (ref.left, ref.top, lat.bucketW)
    val delta = 1e-6 * ref.cellsize
    val cells = spark.range(ref.numCells).map { id =>
      ((id / ncols).toInt, (id % ncols).toInt)
    }.toDF("row", "col")
    // tiny lattices (reference-scale grids) skip escalation entirely:
    // one exhaustive round costs less than the proof/escalate machinery
    val firstRing =
      if ((lat.maxCx + 1) * (lat.maxCy + 1) <= 16) lat.maxRing else 2
    lat.escalate(spark, points, firstRing,
      Seq.empty[(Int, Int, Double)].toDF("row", "col", "v"), cells) {
      (open, need, byBucket, ring, exhaustive) =>
        // points go only to buckets that still hold unresolved cells:
        // without this filter every round replicates every point
        // (2*ring+1)^2 times while the unresolved set shrinks
        val gathered = byBucket.flatMap { case (b, p) =>
          lat.ring(b, ring).iterator
            .filter(g => java.util.Arrays.binarySearch(need.value, g) >= 0)
            .map(g => (g, p))
        }
        val cellsByBucket = open.select($"row", $"col").as[(Int, Int)]
          .map { case (r, c) => (lat.cellBucket(r, c), r, c) }
        cellsByBucket.groupByKey(_._1)
          .cogroup(gathered.groupByKey(_._1)) { (bucket, cellIt, ptIt) =>
            val cells = cellIt.toArray
            if (cells.isEmpty) Iterator.empty
            else {
              val ps = dedup(ptIt.map(_._2).toArray)
              // gathered region of this bucket at `ring`; rings touching
              // the lattice edge extend to infinity (clamped points live in
              // edge buckets, so everything beyond the edge was gathered)
              val bx = CellId.cx(bucket); val by = CellId.cy(bucket)
              val rxMin = if (bx - ring <= 0) Double.NegativeInfinity
                else left + (bx - ring) * bucketW
              val rxMax = if (bx + ring >= lat.maxCx) Double.PositiveInfinity
                else left + (bx + ring + 1) * bucketW
              val ryMax = if (by - ring <= 0) Double.PositiveInfinity
                else top - (by - ring) * bucketW
              val ryMin = if (by + ring >= lat.maxCy) Double.NegativeInfinity
                else top - (by + ring + 1) * bucketW
              solver(ps, cells.map(t => (t._2, t._3)),
                (rxMin, rxMax, ryMin, ryMax), exhaustive, delta)
            }
          }.toDF("row", "col", "v", "proven")
    }
  }
}
