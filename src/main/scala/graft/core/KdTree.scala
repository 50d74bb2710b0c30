package graft.core

/** Compact static 2-D k-d tree over (x, y, value, id) points, built once per
  * partition inside mapPartitions/cogroup kernels (the engine's kNN-serve
  * structure per the north star; scipy cKDTree analogue of the reference's
  * griddata-nearest, Raster.py:409-429).
  *
  * Ties on squared distance break toward the LOWEST point id, matching the
  * RefKernel oracle and giving deterministic results under any build order.
  * Arrays are index-permuted in place at build; a query keeps its search
  * state in one small object and allocates nothing per visited node.
  */
final class KdTree private (
    xs: Array[Double], ys: Array[Double], vs: Array[Double], ids: Array[Long]) {

  private val n = xs.length

  /** Nearest neighbor: returns (id, value, d2). n must be > 0. */
  def nearest(qx: Double, qy: Double): (Long, Double, Double) = {
    val s = new KdTree.Best(qx, qy)
    if (n > 0) nearestIn(s, 0, n - 1, axisX = true)
    (s.id, s.v, s.d2)
  }

  private def nearestIn(s: KdTree.Best, lo: Int, hi: Int, axisX: Boolean): Unit = {
    val mid = (lo + hi) >>> 1
    val dx = xs(mid) - s.qx
    val dy = ys(mid) - s.qy
    val d2 = dx * dx + dy * dy
    if (d2 < s.d2 || (d2 == s.d2 && ids(mid) < s.id)) {
      s.d2 = d2
      s.id = ids(mid)
      s.v = vs(mid)
    }
    val diff = if (axisX) s.qx - xs(mid) else s.qy - ys(mid)
    if (diff < 0) {
      if (lo < mid) nearestIn(s, lo, mid - 1, !axisX)
      if (mid < hi && diff * diff <= s.d2) nearestIn(s, mid + 1, hi, !axisX)
    } else {
      if (mid < hi) nearestIn(s, mid + 1, hi, !axisX)
      if (lo < mid && diff * diff <= s.d2) nearestIn(s, lo, mid - 1, !axisX)
    }
  }

  /** k nearest, ordered by (d2, id) ascending. */
  def knn(qx: Double, qy: Double, k: Int): Array[(Long, Double, Double)] = {
    val s = new KdTree.BestK(qx, qy, k)
    if (n > 0) knnIn(s, 0, n - 1, axisX = true)
    val out = new Array[(Long, Double, Double)](s.size)
    var i = 0
    while (i < s.size) {
      out(i) = (s.ids(i), s.vs(i), s.d2s(i))
      i += 1
    }
    out
  }

  private def knnIn(s: KdTree.BestK, lo: Int, hi: Int, axisX: Boolean): Unit = {
    val mid = (lo + hi) >>> 1
    val dx = xs(mid) - s.qx
    val dy = ys(mid) - s.qy
    s.offer(dx * dx + dy * dy, ids(mid), vs(mid))
    val diff = if (axisX) s.qx - xs(mid) else s.qy - ys(mid)
    if (diff < 0) {
      if (lo < mid) knnIn(s, lo, mid - 1, !axisX)
      if (mid < hi && s.reaches(diff)) knnIn(s, mid + 1, hi, !axisX)
    } else {
      if (mid < hi) knnIn(s, mid + 1, hi, !axisX)
      if (lo < mid && s.reaches(diff)) knnIn(s, lo, mid - 1, !axisX)
    }
  }

  /** The k nearest as [[knn]] orders them; k = 1 runs [[nearest]]. */
  def kNearest(qx: Double, qy: Double, k: Int): Array[(Long, Double, Double)] =
    if (k != 1) knn(qx, qy, k)
    else if (n == 0) Array.empty
    else Array(nearest(qx, qy))

  def size: Int = n
}

object KdTree {

  /** [[KdTree.nearest]]'s search state: the query and the best so far. */
  private final class Best(val qx: Double, val qy: Double) {
    var d2: Double = Double.MaxValue
    var id: Long = Long.MaxValue
    var v: Double = Double.NaN
  }

  /** [[KdTree.knn]]'s search state: the query and a bounded insertion
    * list of the best `k`, sorted by (d2, id). */
  private final class BestK(val qx: Double, val qy: Double, k: Int) {
    val d2s = new Array[Double](k)
    val ids = new Array[Long](k)
    val vs = new Array[Double](k)
    var size = 0

    private def worse(i: Int, d2: Double, id: Long): Boolean =
      d2s(i) > d2 || (d2s(i) == d2 && ids(i) > id)

    def offer(d2: Double, id: Long, v: Double): Unit =
      if (size < k || worse(k - 1, d2, id)) {
        var i = math.min(size, k - 1)
        while (i > 0 && worse(i - 1, d2, id)) {
          d2s(i) = d2s(i - 1); ids(i) = ids(i - 1); vs(i) = vs(i - 1)
          i -= 1
        }
        d2s(i) = d2; ids(i) = id; vs(i) = v
        if (size < k) size += 1
      }

    /** Can the far side of a split `diff` away hold a better point? */
    def reaches(diff: Double): Boolean = size < k || diff * diff <= d2s(size - 1)
  }

  /** Build by recursive median split (alternating axes), copying inputs.
    * Each split selects its median by quickselect under the total order
    * (x, y, id, input index) on x levels and (y, x, id, input index) on y
    * levels, so every node holds the same point a full stable sort of its
    * range would put there. */
  def build(points: Array[(Long, Double, Double, Double)]): KdTree = {
    val n = points.length
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      xs(i) = points(i)._2; ys(i) = points(i)._3; ids(i) = points(i)._1
      i += 1
    }
    val idx = Array.range(0, n)

    // a < b under the split's order; a and b are input indices
    def less(a: Int, b: Int, axisX: Boolean): Boolean = {
      val cx = java.lang.Double.compare(xs(a), xs(b))
      val cy = java.lang.Double.compare(ys(a), ys(b))
      var c = if (axisX) (if (cx != 0) cx else cy) else (if (cy != 0) cy else cx)
      if (c == 0) c = java.lang.Long.compare(ids(a), ids(b))
      if (c == 0) a < b else c < 0
    }
    def swap(a: Int, b: Int): Unit = { val t = idx(a); idx(a) = idx(b); idx(b) = t }

    // place the k-th smallest of idx[lo..hi] at k, smaller ones before it
    def select(lo0: Int, hi0: Int, k: Int, axisX: Boolean): Unit = {
      var lo = lo0
      var hi = hi0
      while (lo < hi) {
        // median of three as the pivot, parked at hi
        val m = (lo + hi) >>> 1
        if (less(idx(m), idx(lo), axisX)) swap(m, lo)
        if (less(idx(hi), idx(lo), axisX)) swap(hi, lo)
        if (less(idx(m), idx(hi), axisX)) swap(m, hi)
        val pivot = idx(hi)
        var store = lo
        var j = lo
        while (j < hi) {
          if (less(idx(j), pivot, axisX)) { swap(j, store); store += 1 }
          j += 1
        }
        swap(store, hi)
        if (store == k) return
        if (k < store) hi = store - 1 else lo = store + 1
      }
    }

    def split(lo: Int, hi: Int, axisX: Boolean): Unit =
      if (lo < hi) {
        val mid = (lo + hi) >>> 1
        select(lo, hi, mid, axisX)
        split(lo, mid - 1, !axisX)
        split(mid + 1, hi, !axisX)
      }

    split(0, n - 1, axisX = true)
    val (px, py, pv, pid) =
      (new Array[Double](n), new Array[Double](n), new Array[Double](n), new Array[Long](n))
    i = 0
    while (i < n) {
      val j = idx(i)
      px(i) = xs(j); py(i) = ys(j); pv(i) = points(j)._4; pid(i) = ids(j)
      i += 1
    }
    new KdTree(px, py, pv, pid)
  }
}
