package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.storage.StorageLevel
import graft.core._

/** Scattered point record for kNN interpolation. */
final case class PtRec(pid: Long, x: Double, y: Double, v: Double)

/** The bucket lattice every bucketed interpolator works on: `ref`'s grid
  * cut into square buckets of 2^res pixels, addressed by [[CellId]] at
  * resolution `res`. A point belongs to the bucket of the pixel it falls
  * in, clamped to the grid, so points outside the grid live in edge
  * buckets and a ring that reaches the lattice edge has gathered
  * everything beyond it. The k-nearest ring guards and Delaunay's
  * circumcircle-containment proof both rest on this rule.
  *
  * [[escalate]] is the one ring-escalation loop; each interpolator
  * supplies only its round. */
final case class BucketLattice(ref: GridRef, res: Int) {
  private val left = ref.left
  private val top = ref.top
  private val cs = ref.cellsize

  /** Bucket side in map units. */
  val bucketW: Double = (1 << res) * cs
  /** Largest bucket coordinates: rings clamp to [0, maxCx] x [0, maxCy]. */
  val maxCx: Long = (ref.ncols - 1).toLong >> res
  val maxCy: Long = (ref.nrows - 1).toLong >> res
  /** The ring that reaches every bucket from any bucket: a search at this
    * ring has seen every point, so its answer is exact by construction. */
  val maxRing: Int = (math.max(maxCx, maxCy) + 1).toInt

  def cellBucket(row: Int, col: Int): Long =
    CellId.ofPixel(row.toLong, col.toLong, res)

  /** Bucket of the pixel `p` falls in, clamped to the grid. */
  def pointBucket(p: PtRec): Long = {
    val r = math.max(0, math.min(ref.nrows - 1, Math.rint((top - p.y) / cs - 0.5).toInt))
    val c = math.max(0, math.min(ref.ncols - 1, Math.rint((p.x - left) / cs - 0.5).toInt))
    cellBucket(r, c)
  }

  /** Map coordinates of a cell centre. */
  def centreX(col: Int): Double = left + (col + 0.5) * cs
  def centreY(row: Int): Double = top - (row + 0.5) * cs

  /** Buckets within Chebyshev ring `k` of `bucket`, clamped to the lattice
    * (near the exhaustive bound an unclamped ring is mostly addresses
    * outside the grid: shuffle volume that buys nothing). */
  def ring(bucket: Long, k: Int): Array[Long] =
    CellId.kRingClamped(bucket, k, maxCx, maxCy)

  /** The ring-escalation loop. `open` holds the cells still unresolved
    * (row, col, plus whatever its round carries); `settled` the cells
    * already final. Each round gets the open cells, the sorted buckets
    * they fall in, the points keyed by their own bucket, the ring and
    * whether that ring is exhaustive, and returns one row per open cell
    * with a boolean `proven` column. Proven rows, in `settled`'s columns,
    * join the result; the rest stay open. The ring starts at `firstRing`
    * and doubles; a round at [[maxRing]] has seen every point and is the
    * last, so it must prove every cell that has an answer.
    *
    * Each increment and each open set is a lineage-cut local checkpoint,
    * so a long run neither replays a deep lazy union nor keeps dead
    * rounds cached; each round's cache and the bucketed points are
    * released in `finally`. The emptiness test is one collect of the open
    * buckets, which the Delaunay gather also needs. */
  def escalate(spark: SparkSession, points: Dataset[PtRec], firstRing: Int,
      settled: DataFrame, open: DataFrame)(round: BucketLattice.Round): DataFrame = {
    import spark.implicits._
    val outCols = settled.columns.map(col)
    // built on the first round only: a call that proves everything in
    // pass 1 never keys the points
    lazy val byBucket = points.map(p => (pointBucket(p), p))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def bucketsOf(cells: DataFrame): Array[Long] =
      cells.select($"row", $"col").as[(Int, Int)]
        .map { case (r, c) => cellBucket(r, c) }.distinct().collect().sorted
    var out = settled
    var live = open
    var need = bucketsOf(live)
    var ring = firstRing
    var rounds = 0
    try {
      while (need.nonEmpty) {
        rounds += 1
        val exhaustive = ring >= maxRing
        val bcNeed = spark.sparkContext.broadcast(need)
        val solved = round(live, bcNeed, byBucket, ring, exhaustive)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          out = out.unionByName(
            solved.filter($"proven").select(outCols: _*).localCheckpoint(true))
          if (!exhaustive) live = solved.filter(!$"proven").localCheckpoint(true)
        } finally {
          solved.unpersist()
          bcNeed.destroy()
        }
        need = if (exhaustive) Array.empty else bucketsOf(live)
        ring *= 2
      }
    } finally if (rounds > 0) byBucket.unpersist()
    out
  }
}

object BucketLattice {

  /** One escalation round: (open cells, their sorted buckets, points keyed
    * by their own bucket, ring, exhaustive?) => one row per open cell with
    * a boolean `proven` column. */
  type Round = (DataFrame, Broadcast[Array[Long]], Dataset[(Long, PtRec)],
    Int, Boolean) => DataFrame
}

/** Scattered->grid k-nearest interpolation: the reference's
  * `point_interpolate` method='nearest' (scipy cKDTree 1-NN,
  * Raster.py:409-429; `grid_interpolate`, Raster.py:431-455, is the same
  * with exploded tile centroids as points), and IDW over the exact k
  * nearest. Ties go to the lowest point id everywhere.
  *
  *  - `nearestBrute` / `idwBrute`: exact all-pairs oracles for tests and
  *    tiny point sets.
  *  - `nearestBucketed` / `idwBucketed`: shells over one exact k-nearest
  *    solver that never collects the point set to the driver. Pass 1
  *    replicates points to a ringK halo of their bucket and cogroups the
  *    target cells with those candidates (per-bucket k-d tree); a cell
  *    whose k-th distance lies inside the halo is proven. The others
  *    escalate through [[BucketLattice.escalate]] by QUERY replication:
  *    each ships a tiny (row, col) descriptor to exactly the ring its own
  *    k-th distance requires (ceil(d/bucketWidth)), and per-bucket
  *    partials are merged by (d2, pid). Cells with fewer than k candidates
  *    probe the loop's doubling ring, which at the lattice diameter is
  *    exhaustive. Open counts shrink geometrically with point density, so
  *    escalation traffic is a vanishing fraction of pass 1.
  */
object Knn {

  /** Exact brute force: every (cell, point) pair, keep min (d2, pid).
    * Used as the correctness oracle and for tiny point sets. */
  def nearestBrute(spark: SparkSession, points: Dataset[PtRec], ref: GridRef)
      : DataFrame = {
    import spark.implicits._
    val cells = spark.range(ref.numCells).select(
      ($"id" / ref.ncols).cast("int").as("row"),
      ($"id" % ref.ncols).cast("int").as("col"))
      .withColumn("cx", lit(ref.left) + ($"col" + 0.5) * ref.cellsize)
      .withColumn("cy", lit(ref.top) - ($"row" + 0.5) * ref.cellsize)
    val joined = cells.crossJoin(points)
      .withColumn("d2", ($"x" - $"cx") * ($"x" - $"cx") + ($"y" - $"cy") * ($"y" - $"cy"))
    joined
      .groupBy($"row", $"col")
      .agg(min_by(struct($"v", $"pid"), struct($"d2", $"pid")).as("best"))
      .select($"row", $"col", $"best.v".as("v"), $"best.pid".as("pid"))
  }

  /** A cell's state in the k-nearest solver: proven rows carry the final
    * (v, pid); open rows carry their k-th distance `d2` as the bound of
    * the ring they need next (+Inf with fewer than k candidates).
    * (Public: codegen'd predicates instantiate the class from generated
    * Java — a private case class forces interpreted fallback.) */
  final case class Hit(row: Int, col: Int, v: Double, pid: Long,
      d2: Double, proven: Boolean)

  /** An escalation query shipped to one point-bucket. */
  final case class Query(bucket: Long, row: Int, col: Int, ring: Int)

  /** point_interpolate method='nearest' onto `ref`: (row, col, v, pid) of
    * each cell's nearest point. `res` = bucket resolution in pixels
    * (bucket side = 2^res pixels); `ringK` = pass-1 halo in buckets.
    * `targets` restricts the query side to a (row, col) subset — the
    * footprint-repair case (r60 remove_block): cost then scales with the
    * subset, not the grid area; None queries every cell of `ref`. */
  def nearestBucketed(spark: SparkSession, points: Dataset[PtRec],
      ref: GridRef, res: Int, ringK: Int = 1,
      targets: Option[DataFrame] = None): DataFrame =
    kNearest(spark, points, BucketLattice(ref, res), ringK, 1, targets) {
      best => (best(0)._2, best(0)._1)
    }

  /** IDW interpolation over the EXACT k nearest points: (row, col, v). The
    * reference's point_interpolate non-nearest methods are Delaunay
    * linear/cubic (scipy griddata, Raster.py:421-426); IDW is the
    * standardized scattered-field variant promised in SURVEY §2.3 J5.
    * Weight 1/d^power; d == 0 snaps to that point's value (lowest pid on
    * ties); the k-set boundary ties by (d2, pid). */
  def idwBucketed(spark: SparkSession, points: Dataset[PtRec], ref: GridRef,
      res: Int, k: Int, power: Double = 2.0): DataFrame =
    kNearest(spark, points, BucketLattice(ref, res), 1, k, None) {
      best => (idwOf(best, power), 0L)
    }.select("row", "col", "v")

  private def idwOf(best: Array[(Long, Double, Double)], power: Double): Double = {
    val zero = best.filter(_._3 == 0.0)
    if (zero.nonEmpty) zero.minBy(_._1)._2
    else {
      var num = 0.0; var den = 0.0
      best.foreach { case (_, v, d2) =>
        val w = 1.0 / math.pow(d2, power / 2.0)
        num += w * v; den += w
      }
      num / den
    }
  }

  /** The exact k-nearest solver: each queried cell's k nearest points
    * ((pid, v, d2) ordered by (d2, pid); fewer only when the whole point
    * set is smaller), reduced by `combine` to the cell's (v, pid).
    * Returns (row, col, v, pid). Its kernels emit flat [[Hit]] rows; no
    * per-cell array crosses a shuffle. */
  private def kNearest(spark: SparkSession, points: Dataset[PtRec],
      lat: BucketLattice, ringK: Int, k: Int, targets: Option[DataFrame])(
      combine: Array[(Long, Double, Double)] => (Double, Long)): DataFrame = {
    import spark.implicits._
    val (nrows, ncols) = (lat.ref.nrows, lat.ref.ncols)

    def hit(r: Int, c: Int, best: Array[(Long, Double, Double)],
        proven: Double => Boolean): Hit = {
      val dk = if (best.length == k) best.last._3 else Double.PositiveInfinity
      if (best.nonEmpty && proven(dk)) {
        val (v, pid) = combine(best)
        Hit(r, c, v, pid, dk, proven = true)
      } else Hit(r, c, Double.NaN, -1L, dk, proven = false)
    }

    // ---- pass 1: point-replication halo cogroup --------------------------
    val guard2 = (ringK * lat.bucketW) * (ringK * lat.bucketW)
    val candidates = points.flatMap { p =>
      lat.ring(lat.pointBucket(p), ringK).map(b => (b, p))
    }
    val cells = targets match {
      case Some(t) =>
        t.select(col("row").cast("int"), col("col").cast("int")).as[(Int, Int)]
          .map { case (r, c) =>
            require(r >= 0 && r < nrows && c >= 0 && c < ncols,
              s"nearestBucketed: target ($r, $c) outside the $nrows x $ncols grid")
            (lat.cellBucket(r, c), r, c)
          }
      case None =>
        spark.range(lat.ref.numCells).map { id =>
          val r = (id / ncols).toInt
          val c = (id % ncols).toInt
          (lat.cellBucket(r, c), r, c)
        }
    }
    // a lazy local checkpoint, not a cache: the escalation loop's emptiness
    // collect materializes it in full, and the proven leg of the result
    // reads it on the caller's action
    val p1 = cells.groupByKey(_._1).cogroup(candidates.groupByKey(_._1)) {
      (_, cellIt, candIt) =>
        val cs = cellIt.toArray
        if (cs.isEmpty) Iterator.empty
        else {
          val pts = candIt.map(_._2).toArray.distinct
          val tree = KdTree.build(pts.map(p => (p.pid, p.x, p.y, p.v)))
          // strict: pass 1 proves only inside the guard; escalation
          // rounds prove at equality (margin argument below)
          cs.iterator.map { case (_, r, c) =>
            hit(r, c, tree.knn(lat.centreX(c), lat.centreY(r), k), _ < guard2)
          }
        }
    }.toDF().localCheckpoint(eager = false)

    // ---- escalation: query-replication rounds ----------------------------
    lat.escalate(spark, points, math.max(2 * ringK, 2),
      p1.filter($"proven").select($"row", $"col", $"v", $"pid"),
      p1.filter(!$"proven")) { (open, _, byBucket, ring, exhaustive) =>
      // a cell with a bound queries exactly the ring that bound requires,
      // so it settles this round; a boundless cell probes `ring`
      val queries = open.as[Hit].flatMap { h =>
        val need = math.min(lat.maxRing,
          if (h.d2.isInfinite) ring
          else math.max(1, math.ceil(math.sqrt(h.d2) / lat.bucketW).toInt))
        lat.ring(lat.cellBucket(h.row, h.col), need).iterator
          .map(b => Query(b, h.row, h.col, need))
      }
      // every query answers, with a (pid -1, d2 +Inf) sentinel when its
      // bucket holds no points, so a cell whose ring is empty stays open
      val partials = queries.groupByKey(_.bucket)
        .cogroup(byBucket.groupByKey(_._1)) { (_, qIt, pIt) =>
          val qs = qIt.toArray
          if (qs.isEmpty) Iterator.empty
          else {
            val tree = KdTree.build(pIt.map { case (_, p) => (p.pid, p.x, p.y, p.v) }.toArray)
            qs.iterator.flatMap { q =>
              val best = tree.knn(lat.centreX(q.col), lat.centreY(q.row), k)
              if (best.isEmpty)
                Iterator.single((q.row, q.col, q.ring, -1L, Double.NaN, Double.PositiveInfinity))
              else best.iterator.map(b => (q.row, q.col, q.ring, b._1, b._2, b._3))
            }
          }
        }
      // proven: the k-th neighbour lies within the searched ring's guard,
      // or the search was exhaustive. `<=` is sound because queries are
      // cell centres, at least cellsize/2 inside their bucket on every
      // axis: any unexamined point (bucket Chebyshev >= ring+1) is at
      // distance >= ring*bucketW + cellsize/2, strictly beyond the guard,
      // so it cannot tie a neighbour at exactly ring*bucketW.
      partials.groupByKey(t => (t._1, t._2)).mapGroups { (rc, it) =>
        val all = it.toArray
        val g = all.head._3 * lat.bucketW
        val best = all.filter(_._4 >= 0).map(t => (t._4, t._5, t._6))
          .sortBy(t => (t._3, t._1)).take(k)
        hit(rc._1, rc._2, best, dk => dk <= g * g || exhaustive)
      }.toDF()
    }
  }

  /** Brute-exact IDW (oracle path). */
  def idwBrute(spark: SparkSession, points: Dataset[PtRec], ref: GridRef,
      k: Int, power: Double = 2.0): DataFrame = {
    import spark.implicits._
    val pts = points.collect() // oracle path only — labeled as such
    val bc = spark.sparkContext.broadcast(pts.map(p => (p.pid, p.x, p.y, p.v)))
    spark.range(ref.numCells).map { id =>
      val r = (id / ref.ncols).toInt
      val c = (id % ref.ncols).toInt
      val (cx, cy) = ref.sub2map(r, c)
      val best = bc.value.map { case (pid, x, y, v) =>
        (pid, v, (x - cx) * (x - cx) + (y - cy) * (y - cy))
      }.sortBy(t => (t._3, t._1)).take(k)
      val zero = best.filter(_._3 == 0.0)
      val v =
        if (zero.nonEmpty) zero.minBy(_._1)._2
        else {
          var num = 0.0; var den = 0.0
          best.foreach { case (_, vv, d2) =>
            val w = 1.0 / math.pow(d2, power / 2.0)
            num += w * vv; den += w
          }
          num / den
        }
      (r, c, v)
    }.toDF("row", "col", "v")
  }
}

/** grid_interpolate (reference Raster.py:431-455): source GRID cells become
  * the scattered points (NaN sources dropped, ids = row-major pixel index
  * for the deterministic tie-break), which any point interpolator then
  * places on the target grid ([[graft.Raster.gridInterpolate]]). */
object GridInterpolate {

  /** Non-NaN source cells as scattered points; pid = row-major pixel
    * index (the deterministic tie-break shared by every variant). */
  def explodeCells(srcTiles: Dataset[Tile], srcRef: GridRef): Dataset[PtRec] = {
    import srcTiles.sparkSession.implicits._
    srcTiles.flatMap { t =>
      val out = Iterator.newBuilder[PtRec]
      var i = 0
      while (i < t.payload.length) {
        val v = t.payload(i)
        if (!v.isNaN) {
          val r = t.row0 + i / t.w
          val c = t.col0 + i % t.w
          val (x, y) = srcRef.sub2map(r, c)
          out += PtRec(r.toLong * srcRef.ncols + c, x, y, v)
        }
        i += 1
      }
      out.result()
    }
  }
}
