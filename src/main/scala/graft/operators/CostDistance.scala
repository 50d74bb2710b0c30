package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, expr, isnan, min => sqlMin}
import org.apache.spark.sql.types.LongType
import graft.core.{CellView, DriverGate, GridRef, Owned, Tile}

/** Weighted cost-distance accumulation (the map-algebra CostDistance /
  * least-cost "friction surface" primitive): for every valid cell, the
  * minimum accumulated cost of an 8-connected path from any SOURCE cell,
  * where stepping between adjacent cells a -> b costs
  * `(q(a) + q(b)) * 10` cardinally and `(q(a) + q(b)) * 14` diagonally —
  * the classic midpoint rule `(cost_a + cost_b)/2 * dist` scaled by 20
  * with the engine-defined rational diagonal 1.4, so every distance is an
  * exact dyadic sum — integer when the cost surface is integer-valued,
  * half-integer for the quarter-unit DEM fixture — hash-stable across
  * engines and partitionings (a true-sqrt(2) metric would tie-break
  * differently per plan).
  *
  * Distributed shape — an iterated halo relaxation (the fill's minimax
  * solve condenses tiles first; this minisum one does not, since a
  * two-pass variant reassociates IEEE sums): each round every tile runs
  * an EXACT local Dijkstra against its current 1-px halo estimates, and
  * rounds iterate until no cell improves. Rounds are bounded by the
  * number of inter-tile
  * crossings on any optimal path (grid diameter / tile size), each round
  * shuffles only the 1-pixel halo, and no per-cell state ever reaches the
  * driver — at 1000 executors the cost is a handful of halo exchanges,
  * not a global priority queue. localCheckpoint per round keeps the plan
  * constant-size (the GraphOps loop-cache discipline).
  */
object CostDistance {

  /** (dr, dc, weight-multiplier) — 10 cardinal, 14 diagonal. */
  private val D8: Array[(Int, Int, Long)] = Array(
    (0, 1, 10L), (1, 1, 14L), (1, 0, 10L), (1, -1, 14L),
    (0, -1, 10L), (-1, -1, 14L), (-1, 0, 10L), (-1, 1, 14L))

  private val INF = Double.PositiveInfinity

  /** One tile-local exact Dijkstra over current estimates.
    * `pfD`: padded dist estimates; `pfQ`: padded cost surface. */
  private def localDijkstra(pfD: Stencil.Padded, pfQ: Stencil.Padded): Array[Double] = {
    val h = pfD.h
    val w = pfD.w
    val n = h * w
    val dist = new Array[Double](n)
    val done = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      dist(i) = pfD.at(pfD.row0 + i / w, pfD.col0 + i % w)
      i += 1
    }
    // border seeding: entering the tile at cell i from an OUTSIDE
    // neighbor costs halo_dist + (halo_q + q_i) * wgt
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        if (r == 0 || r == h - 1 || c == 0 || c == w - 1) {
          val ii = r * w + c
          val q = pfQ.at(pfQ.row0 + r, pfQ.col0 + c)
          if (!q.isNaN) {
            var k = 0
            while (k < 8) {
              val (dr, dc, wgt) = D8(k)
              val rr = r + dr
              val cc = c + dc
              if (rr < 0 || rr >= h || cc < 0 || cc >= w) {
                val hd = pfD.at(pfD.row0 + rr, pfD.col0 + cc)
                val hq = pfQ.at(pfQ.row0 + rr, pfQ.col0 + cc)
                if (!hd.isNaN && hd != INF && !hq.isNaN) {
                  val cand = hd + (hq + q) * wgt
                  if (cand < dist(ii)) dist(ii) = cand
                }
              }
              k += 1
            }
          }
        }
        c += 1
      }
      r += 1
    }
    // in-tile Dijkstra from all current finite estimates (lazy-deleted
    // binary heap; exact integer weights, so ties are value-identical)
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    i = 0
    while (i < n) {
      if (!dist(i).isNaN && dist(i) != INF) pq.add((dist(i), i))
      i += 1
    }
    while (!pq.isEmpty) {
      val (v, u) = pq.poll()
      if (!done(u) && v == dist(u)) {
        done(u) = true
        val ur = u / w
        val uc = u % w
        val qu = pfQ.at(pfQ.row0 + ur, pfQ.col0 + uc)
        var k = 0
        while (k < 8) {
          val (dr, dc, wgt) = D8(k)
          val rr = ur + dr
          val cc = uc + dc
          if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
            val j = rr * w + cc
            if (!done(j)) {
              val qj = pfQ.at(pfQ.row0 + rr, pfQ.col0 + cc)
              if (!qj.isNaN) {
                val cand = v + (qu + qj) * wgt
                if (cand < dist(j)) { dist(j) = cand; pq.add((cand, j)) }
              }
            }
          }
          k += 1
        }
      }
    }
    dist
  }

  /** Accumulated-cost tiles: payload = min path cost (NaN where the cost
    * surface is NaN, +inf where unreachable). `isSource` marks zero-cost
    * seed cells on the cost surface. */
  def tilesDist(cost: Dataset[Tile], ref: GridRef, res: Int,
      isSource: Double => Boolean, maxRounds: Int = 10000): Dataset[Tile] = {
    import cost.sparkSession.implicits._
    Owned { own =>
      val pfQ = own.reuse(Stencil.padded(cost, ref, res))
      var state: Dataset[Tile] = cost.map { t =>
        val payload = t.payload.map { q =>
          if (q.isNaN) Double.NaN else if (isSource(q)) 0.0 else INF
        }
        Tile(t.cellId, t.row0, t.col0, t.h, t.w, payload)
      }.localCheckpoint(false)

      var rounds = 0
      var changed = 1L
      while (changed > 0) {
        rounds += 1
        require(rounds <= maxRounds, s"costDistance did not converge in $maxRounds rounds")
        val pfD = Stencil.padded(state, ref, res)
        // lazy checkpoint of the (tile, changed) pairs: the convergence
        // agg below is the round's ONLY job — it materializes (and
        // caches) the checkpoint, and the next round's state reads the
        // cached blocks directly. One job per round instead of the
        // previous persist + agg + eager-checkpoint two-job shape.
        val stepped = pfD
          .joinWith(pfQ, pfD("cellId") === pfQ("cellId"), "inner")
          .map { case (pd, pq) =>
            val out = localDijkstra(pd, pq)
            var ch = 0L
            var i = 0
            while (i < out.length) {
              val prev = pd.at(pd.row0 + i / pd.w, pd.col0 + i % pd.w)
              if (out(i) != prev && !(out(i).isNaN && prev.isNaN)) ch += 1
              i += 1
            }
            (Tile(pd.cellId, pd.row0, pd.col0, pd.h, pd.w, out), ch)
          }.localCheckpoint(false)
        // agg, not reduce: total over an EMPTY tiling is 0, not a crash
        changed = stepped.map(_._2)
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum("value"),
            org.apache.spark.sql.functions.lit(0L)))
          .head().getLong(0)
        state = stepped.map(_._1)
      }
      state
    }
  }

  /** Accumulated cost distance `(row, col, dist)` for every REACHABLE
    * valid cell (unreachable and NaN cells are omitted). Distances are
    * exact integers when the cost surface is integer-valued. */
  def accumulate(cost: Dataset[Tile], ref: GridRef, res: Int,
      isSource: Double => Boolean, maxRounds: Int = 10000): DataFrame =
    CellView.ofTiles(tilesDist(cost, ref, res, isSource, maxRounds), "dist", LongType,
      Some(!isnan(col("dist")) && col("dist") =!= INF))

  /** Cost-backlink raster over a CONVERGED distance surface (the ArcGIS
    * CostDistance "backlink" output): payload = 0 at source cells,
    * k in 1..8 (the [[D8]] index + 1, clockwise from east) pointing at
    * the chosen PREDECESSOR on an optimal path, NaN where the cost
    * surface is NaN or the cell is unreachable. Among the neighbors that
    * witness optimality exactly — `dist(v) + (q(v) + q(u)) * wgt ==
    * dist(u)`, exact because every distance is a dyadic sum — the
    * SMALLEST k wins, so the raster is engine- and partitioning-
    * independent. One halo exchange; no iteration (convergence already
    * happened in [[tilesDist]]). */
  def backlinkTiles(dist: Dataset[Tile], cost: Dataset[Tile], ref: GridRef,
      res: Int): Dataset[Tile] = {
    import dist.sparkSession.implicits._
    val pfD = Stencil.padded(dist, ref, res)
    val pfQ = Stencil.padded(cost, ref, res)
    pfD.joinWith(pfQ, pfD("cellId") === pfQ("cellId"), "inner")
      .map { case (pd, pq) =>
        val h = pd.h
        val w = pd.w
        val out = new Array[Double](h * w)
        var r = 0
        while (r < h) {
          var c = 0
          while (c < w) {
            val gr = pd.row0 + r
            val gc = pd.col0 + c
            val d = pd.at(gr, gc)
            val q = pq.at(gr, gc)
            out(r * w + c) =
              if (q.isNaN || d.isNaN || d == INF) Double.NaN
              else if (d == 0.0) 0.0
              else {
                var best = Double.NaN
                var k = 0
                while (k < 8 && best.isNaN) {
                  val (dr, dc, wgt) = D8(k)
                  val dv = pd.at(gr + dr, gc + dc)
                  val qv = pq.at(gr + dr, gc + dc)
                  if (!dv.isNaN && dv != INF && !qv.isNaN &&
                      dv + (qv + q) * wgt == d) best = (k + 1).toDouble
                  k += 1
                }
                best // NaN only if the surface was not converged
              }
            c += 1
          }
          r += 1
        }
        Tile(pd.cellId, pd.row0, pd.col0, h, w, out)
      }
  }

  /** `(row, col, dir)` backlink rows for every reachable valid cell —
    * dir 0 = source, 1..8 = [[D8]] predecessor direction. */
  def backlink(cost: Dataset[Tile], ref: GridRef, res: Int,
      isSource: Double => Boolean, maxRounds: Int = 10000): DataFrame = {
    import cost.sparkSession.implicits._
    val d = tilesDist(cost, ref, res, isSource, maxRounds)
    // -1 marks a NaN (unreachable or invalid) cell
    val blocks = backlinkTiles(d, cost, ref, res)
      .map(t => (t.row0, t.col0, t.w, t.payload.map(v => if (v.isNaN) -1L else v.toLong)))
    CellView(blocks.toDF("row0", "col0", "w", "dir"), LongType, Seq("dir"), Some(col("dir") >= 0))
  }

  /** Least-cost PATH from `(targetRow, targetCol)` back to the nearest
    * source: `(pos, row, col, dist)` with pos 0 at the target and the
    * last row a source cell (dist 0) — the CostPath primitive over
    * [[backlinkTiles]]'s deterministic predecessor choice.
    *
    * Within the [[DriverGate]] budget the target's cost ball is collected
    * and the chain walks on the driver. Above it the chain is enumerated
    * by POINTER DOUBLING (the [[Flow]] list-ranking discipline): round k
    * doubles the jump table (`J_k(u)` = the `2^k`-step predecessor with
    * its step carry, terminal-capped at the source) and the known path
    * prefix with one equi-join each — `O(log pathLen)` rounds, no path
    * cell collected, `O(cells · log pathLen)` shuffle. */
  def leastCostPath(cost: Dataset[Tile], ref: GridRef, res: Int,
      isSource: Double => Boolean, targetRow: Int, targetCol: Int,
      maxRounds: Int = 10000): DataFrame = {
    val spark = cost.sparkSession
    import spark.implicits._
    val ncols = ref.ncols
    val distT = tilesDist(cost, ref, res, isSource, maxRounds)
    // (id, dist, to, steps): to = 1-step predecessor (self at sources),
    // steps = 0 at sources else 1
    val blT = backlinkTiles(distT, cost, ref, res)
    val pred0 = blT
      .joinWith(distT, blT("cellId") === distT("cellId"), "inner")
      .flatMap { case (bl, dt) =>
        val out = Array.newBuilder[(Long, Double, Long, Long)]
        var i = 0
        while (i < bl.payload.length) {
          val v = bl.payload(i)
          if (!v.isNaN) {
            val r = bl.row0 + i / bl.w
            val c = bl.col0 + i % bl.w
            val id = r.toLong * ncols + c
            val d = dt.payload(i)
            if (v == 0.0) out += ((id, d, id, 0L))
            else {
              val (dr, dc, _) = D8(v.toInt - 1)
              out += ((id, d, (r + dr).toLong * ncols + (c + dc), 1L))
            }
          }
          i += 1
        }
        out.result().iterator
      }.toDF("id", "dist", "to", "steps")
      .localCheckpoint(false)
    val targetId = targetRow.toLong * ncols + targetCol
    // the same 1-row action that validates the target also yields its
    // converged distance, which bounds the search region below
    val tRow = pred0.filter(col("id") === targetId).select(col("dist")).collect()
    require(tRow.length == 1,
      s"leastCostPath: target ($targetRow, $targetCol) is not a reachable valid cell")
    val targetDist = tRow(0).getDouble(0)

    // COST-BOUNDED pruning: backlink steps never increase dist (step
    // weights are >= 0), so every cell on the target's chain has
    // dist <= dist(target) — only the target's cost ball is ever probed.
    // A ball within the driver budget collects once and the sequential
    // chain walks on the driver: no doubling rounds (each a count + two joins).
    val ball = pred0.filter(col("dist") <= targetDist)
      .select("id", "to", "steps", "dist").as[(Long, Long, Long, Double)]
    // 300 bytes a row: the collected tuple and its walk-map entry (measured)
    DriverGate.placeRows("CostDistance.leastCostPath cost ball", ball, 300L) match {
      case Left(ballRows) =>
        val m = new java.util.HashMap[Long, (Long, Long, Double)](ballRows.length * 2)
        ballRows.foreach { case (cell, to, steps, dist) => m.put(cell, (steps, to, dist)) }
        val out = Array.newBuilder[(Long, Long, Long, Double)]
        var id = targetId
        var pos = 0L
        var walking = true
        while (walking) {
          val e = m.get(id)
          require(e != null, s"leastCostPath: chain left the cost ball at $id")
          require(pos <= ballRows.length,
            "leastCostPath: backlink cycle (zero-cost tie — cost surface must be > 0)")
          out += ((pos, id / ncols, id % ncols, e._3))
          if (e._1 == 0L) walking = false else { id = e._2; pos += 1 }
        }
        spark.createDataset(out.result())
          .toDF("pos", "row", "col", "dist").orderBy("pos")
      case Right(_) =>
        // lazy checkpoints: each round's ONLY job is nextPath.count(),
        // which materializes the round's path AND (on the following
        // round) the doubled jump table.
        var jumps = ball.select("id", "to", "steps").localCheckpoint(false)
        var path = Seq((targetId, 0L)).toDF("id", "pos")
        var n = 1L
        var grown = true
        var round = 0
        while (grown) {
          round += 1
          require(round <= 64, "leastCostPath: pointer doubling did not terminate")
          val extended = path.as("p")
            .join(jumps.as("j"), col("p.id") === col("j.id"), "inner")
            .filter(col("j.steps") > 0)
            .select(col("j.to").as("id"), (col("p.pos") + col("j.steps")).as("pos"))
          val nextPath = path.unionByName(extended)
            .groupBy("id").agg(sqlMin("pos").as("pos"))
            .localCheckpoint(false)
          val n2 = nextPath.count()
          grown = n2 > n
          n = n2
          path = nextPath
          if (grown) {
            // double the jump table: 2^k + 2^k steps, terminal-capped
            jumps = jumps.as("a")
              .join(jumps.as("b"), col("a.to") === col("b.id"), "inner")
              .select(col("a.id"), col("b.to"),
                (col("a.steps") + col("b.steps")).as("steps"))
              .localCheckpoint(false)
          }
        }
        path.as("p").join(pred0.as("d"), col("p.id") === col("d.id"), "inner")
          .select(col("p.pos"),
            expr(s"p.id DIV $ncols").as("row"),
            (col("p.id") % ncols).as("col"), col("d.dist"))
          .orderBy("pos")
    }
  }
}
